package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.eval.SpanEval
import graft.graph.GraphMaterialize
import graft.canon.ConnectedComponents

class EvalGraphSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame

  private def spans(rows: (String, String, Int, Int)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("url", "entity", "lOffset", "rOffset")
  }

  // --- SpanEval ---

  test("strict scoring: exact boundaries + type") {
    val gold = spans(("u1", "A", 0, 5), ("u1", "B", 10, 15), ("u2", "A", 0, 3))
    val pred = spans(("u1", "A", 0, 5), ("u1", "B", 11, 15), ("u3", "A", 0, 3))
    val m = SpanEval.score(pred, gold, fuzzy = false)
    assert(m.tp == 1 && m.fp == 2 && m.fn == 2)
  }

  test("fuzzy scoring: overlap + type, 1:1 matching") {
    val gold = spans(("u1", "A", 0, 5), ("u1", "B", 10, 15), ("u2", "A", 0, 3))
    val pred = spans(
      ("u1", "A", 1, 4),   // overlap match
      ("u1", "B", 14, 20), // overlap match (boundary-sloppy)
      ("u1", "B", 10, 12), // second pred on same gold: must NOT double-count
      ("u2", "B", 0, 3))   // type mismatch
    val m = SpanEval.score(pred, gold, fuzzy = true)
    assert(m.tp == 2, s"tp=${m.tp}")
    assert(m.fp == 2 && m.fn == 1)
  }

  test("metrics arithmetic") {
    val m = SpanEval.Metrics(8, 2, 2)
    assert(m.precision == 0.8 && m.recall == 0.8)
    assert(math.abs(m.f1 - 0.8) < 1e-12)
    assert(SpanEval.Metrics(0, 0, 0).f1 == 0.0)
  }

  // --- graph materialization ---

  private def mentionDf(rows: (String, String)*): DataFrame = {
    // (url, agencyEntity)
    import spark.implicits._
    rows.toSeq.toDF("url", "entity")
      .withColumn("surface", lit("x"))
      .withColumn("qid", lit("Q1"))
  }

  test("analytic mention derivation: newspaper/year/decade/country/agency") {
    val df = GraphMaterialize.analyticMentions(
      sparkMentions(("GDL-1936-05-02-a-i0001", "org.ent.pressagency.Havas"),
        ("luxwort-1987-12-31-a-i0002", "org.ent.pressagency.Reuters"),
        ("GDL-1936-05-02-a-i0003", "pers.ind.articleauthor")))
    val rows = df.select("newspaper", "year", "decade", "country", "agency")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSet
    assert(rows == Set(
      ("GDL", 1936, 1930, "CH", "Havas"),
      ("luxwort", 1987, 1980, "LU", "Reuters")))
  }

  private def sparkMentions(rows: (String, String)*) = {
    import spark.implicits._
    spark.createDataset(rows.map { case (url, ent) =>
      graft.core.Mention(url, ent, "x", ent.split('.').last,
        graft.core.Gazetteer.qidOf(ent), 0, 0, 1, 0, 1, 0.9, "fr",
        s"$url:0:1:newsag:bert_fr")
    })
  }

  test("existence filter drops out-of-interval mentions (Havas post-1944)") {
    val analytic = GraphMaterialize.analyticMentions(sparkMentions(
      ("GDL-1936-05-02-a-i0001", "org.ent.pressagency.Havas"),
      ("GDL-1950-05-02-a-i0002", "org.ent.pressagency.Havas"),
      ("GDL-1950-05-02-a-i0003", "org.ent.pressagency.Reuters")))
    val kept = GraphMaterialize.existenceFilter(analytic)
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept == Set("GDL-1936-05-02-a-i0001", "GDL-1950-05-02-a-i0003"))
  }

  test("yearly edges weight counting + threshold + salted variant parity") {
    val analytic = GraphMaterialize.analyticMentions(sparkMentions(
      ("GDL-1936-05-02-a-i0001", "org.ent.pressagency.Havas"),
      ("GDL-1936-06-02-a-i0002", "org.ent.pressagency.Havas"),
      ("GDL-1936-07-02-a-i0003", "org.ent.pressagency.Reuters"),
      ("JDG-1936-05-02-a-i0004", "org.ent.pressagency.Havas")))
    val edges = GraphMaterialize.yearlyEdges(analytic)
    val w = edges.collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(w(("GDL", "Havas", 1936)) == 2)
    assert(w(("GDL", "Reuters", 1936)) == 1)
    assert(GraphMaterialize.threshold(edges, 2).count() == 1)
    // salted two-phase count equals the direct count
    val salted = GraphMaterialize.saltedEdgeCounts(analytic)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(salted == w)
  }

  test("co-citation edges: same newspaper+year, ordered pair") {
    val analytic = GraphMaterialize.analyticMentions(sparkMentions(
      ("GDL-1936-05-02-a-i0001", "org.ent.pressagency.Havas"),
      ("GDL-1936-06-02-a-i0002", "org.ent.pressagency.Reuters"),
      ("GDL-1936-06-03-a-i0003", "org.ent.pressagency.Reuters"),
      ("JDG-1950-05-02-a-i0004", "org.ent.pressagency.Reuters")))
    val cc = GraphMaterialize.coCitationEdges(analytic).collect()
    assert(cc.length == 1)
    val r = cc.head
    // reference edge attrs (network_analysis cell 20): per-(np, year) pair
    // with each node's own frequency — no invented combined weight
    assert(r.getString(0) == "GDL" && r.getInt(1) == 1936)
    assert(r.getString(2) == "Havas" && r.getString(3) == "Reuters")
    assert(r.getLong(4) == 1) // freq_node1: Havas cited once in GDL-1936
    assert(r.getLong(5) == 2) // freq_node2: Reuters cited twice
    val yearly = GraphMaterialize.coCitationYearly(analytic).collect()
    assert(yearly.length == 1)
    assert(yearly.head.getLong(3) == 1) // one newspaper co-cites the pair
  }

  test("per-year graph metrics: bipartite density + components incl. isolated nodes") {
    import spark.implicits._
    // 1936: edges GDL-Havas, GDL-Reuters, JDG-Reuters (one component) +
    //       isolated existing AFP → 2 components; density 3/(3·2)=0.5
    // 1937 (gap year, no edges): GDL gone (interval ends 1936); the 4
    //       existing nodes (3 agencies + JDG) all isolated → 4 components
    // 1950: Havas dead (interval ends 1944); edge JDG-Reuters + isolated
    //       AFP → 2 components; density 1/(2·1)=0.5
    val edges = Seq(
      ("GDL", "Havas", 1936), ("GDL", "Reuters", 1936),
      ("JDG", "Reuters", 1936), ("JDG", "Reuters", 1950))
      .toDF("newspaper", "agency", "year")
    val ag = Seq(("Havas", 1835, 1944), ("Reuters", 1840, 2020),
      ("AFP", 1840, 2020)).toDF("node", "start_year", "end_year")
    val np = Seq(("GDL", 1936, 1936), ("JDG", 1936, 1950))
      .toDF("node", "start_year", "end_year")
    val m = GraphMaterialize.yearlyGraphMetrics(edges, ag, np).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))).toMap
    assert(m(1936) == ((3L, 2L, 3L, 0.5, 2L)))
    assert(m(1937) == ((3L, 1L, 0L, 0.0, 4L)))
    assert(m(1950) == ((2L, 1L, 1L, 0.5, 2L)))
    assert(m.size == 15) // full closed year range 1936..1950
  }

  test("GEXF export is well-formed and complete") {
    import spark.implicits._
    val edges = Seq(("GDL", "Havas", 3.0), ("GDL", "Reuters", 5.0))
      .toDF("src", "dst", "weight")
    val gexf = GraphMaterialize.toGexf(edges, "src", "dst", "weight")
    assert(gexf.contains("<gexf"))
    assert(gexf.contains("""<node id="GDL""""))
    assert(gexf.contains("""<node id="Havas""""))
    assert(gexf.contains("""weight="5.0""""))
    assert(gexf.split("<edge ").length == 3)
  }

  test("attributed GEXF: node bipartite/interval/qid + per-edge year attributes") {
    val analytic = GraphMaterialize.analyticMentions(
      sparkMentions(("GDL-1936-05-02-a-i0001", "org.ent.pressagency.Havas"),
        ("GDL-1937-05-02-a-i0002", "org.ent.pressagency.Havas"),
        ("luxwort-1937-12-31-a-i0003", "org.ent.pressagency.Reuters")))
    val edges = GraphMaterialize.yearlyEdges(analytic)
    val gexf = GraphMaterialize.toGexfYearly(edges,
      GraphMaterialize.newspaperNodeAttrs(analytic),
      GraphMaterialize.agencyNodeAttrs(analytic))
    val doc = scala.xml.XML.loadString(gexf)

    // attribute declarations for both classes
    val attrTitles = (doc \\ "attributes").flatMap(a =>
      (a \ "attribute").map(n => ((a \@ "class"), (n \@ "title"))))
    assert(attrTitles.contains(("node", "bipartite")))
    assert(attrTitles.contains(("node", "start_year")))
    assert(attrTitles.contains(("edge", "year")))

    def nodeAttr(id: String, idx: String): String = {
      val n = (doc \\ "node").find(_ \@ "id" == id).get
      (n \\ "attvalue").find(_ \@ "for" == idx).get \@ "value"
    }
    // bipartite: newspapers 0, agencies 1 (cell 15)
    assert(nodeAttr("GDL", "0") == "0")
    assert(nodeAttr("Havas", "0") == "1")
    // agency existence interval from the dim (Havas end 1944, cell 7)
    assert(nodeAttr("Havas", "1") == "1835" && nodeAttr("Havas", "2") == "1944")
    // newspaper corpus-presence interval + country in 'extra'
    assert(nodeAttr("GDL", "1") == "1936" && nodeAttr("GDL", "2") == "1937")
    assert(nodeAttr("GDL", "4") == "CH")
    // agency QID in 'extra'
    assert(nodeAttr("Havas", "4") == graft.core.Gazetteer
      .qidOf("org.ent.pressagency.Havas"))

    // multigraph edges: one per (np, agency, year), year/decade attvalues
    val edgeNodes = doc \\ "edge"
    assert(edgeNodes.length == 3) // GDL-Havas 1936, GDL-Havas 1937, luxwort-Reuters 1937
    val gdlHavas = edgeNodes.filter(e =>
      (e \@ "source") == "GDL" && (e \@ "target") == "Havas")
    assert(gdlHavas.length == 2)
    val years = gdlHavas.map(e =>
      ((e \\ "attvalue").find(_ \@ "for" == "0").get \@ "value")).toSet
    assert(years == Set("1936", "1937"))
    assert(gdlHavas.forall(e => (e \@ "weight") == "1.0"))
  }

  // --- connected components ---

  test("CC finds components on a known graph") {
    import spark.implicits._
    // component {1,2,3,4} (star around 1) + {10,11} + isolated-pair {20,21}
    val edges = Seq((1L, 2L), (1L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("src", "dst")
    val labels = ConnectedComponents.run(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L && labels(4L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels(20L) == 20L && labels(21L) == 20L)
  }

  test("CC is edge-order and direction invariant") {
    import spark.implicits._
    val e1 = Seq((5L, 9L), (9L, 7L), (2L, 1L)).toDF("src", "dst")
    val e2 = Seq((7L, 9L), (1L, 2L), (9L, 5L)).toDF("src", "dst")
    val l1 = ConnectedComponents.run(e1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l2 = ConnectedComponents.run(e2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(l1 == l2)
    assert(l1.count(_._2 == 5L) == 3)
  }

  test("CC handles a longer path (diameter > 2)") {
    import spark.implicits._
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("src", "dst")
    val labels = ConnectedComponents.run(chain).collect()
    assert(labels.forall(_.getLong(1) == 0L))
    assert(labels.length == 12)
  }

  test("CC durable per-round state is the compact (node, component) payload") {
    import spark.implicits._
    val sc = spark.sparkContext
    // graph with several rounds (chain of 1024) + bulk nodes (disjoint
    // TRIANGLES: 3 edges per 3 nodes puts the symmetrized edge table at
    // ~2× the node count, so a leaked sym is ~2× the remaining-bytes
    // allowance below — pairs would leave a sym leak inside the bound)
    val m = 14000
    val chain = (0L until 1024L).sliding(2).map(s => (s(0), s(1))).toSeq
    val tris = (0 until m).flatMap { i =>
      val a = 100000L + 3 * i; Seq((a, a + 1), (a + 1, a + 2), (a, a + 2))
    }
    val edges = (chain ++ tris).toDF("src", "dst")
    val nNodes = 1024L + 3L * m
    val nSymRows = 2L * (1023L + 3L * m)

    // self-calibration: measure what THIS JVM's block manager charges for
    // an n-row 2-col vs 3-col checkpointed label frame AT THE LOOP'S OWN
    // STORAGE LEVEL (serialized + disk-spillable), so the assertion is
    // layout-independent (serialized block sizes still carry per-block
    // overheads that no constant can pin down)
    def newlyPersistedBytes[T](f: => T): (T, Long) = {
      val before = sc.getRDDStorageInfo.map(_.id).toSet
      val r = f
      val after = sc.getRDDStorageInfo.filterNot(i => before(i.id))
      (r, after.map(i => i.memSize + i.diskSize).sum)
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val calRows = 100000L
    val (_, b2) = newlyPersistedBytes {
      spark.range(calRows).select(col("id").as("node"),
        col("id").as("component"))
        .localCheckpoint(eager = true, lvl).count()
    }
    val (_, b3) = newlyPersistedBytes {
      spark.range(calRows).select(col("id").as("node"),
        col("id").as("_old"), col("id").as("component"))
        .localCheckpoint(eager = true, lvl).count()
    }
    val perRow2 = b2.toDouble / calRows
    val perRow3 = b3.toDouble / calRows
    assert(perRow3 > perRow2, s"calibration degenerate: $perRow3 vs $perRow2")

    val beforeIds = sc.getRDDStorageInfo.map(_.id).toSet
    // pin the ITERATIVE loop (this spec asserts the loop's per-round
    // payload discipline; the auto gate would take the small-graph
    // union-find here and trivialize it)
    val (labels, rounds) =
      ConnectedComponents.runCounted(edges, smallSolve = Some(false))
    // the loop frees checkpoints with unpersist(blocking = false) — POLL
    // until the residual drops under the bound (or a generous timeout on
    // a loaded host) instead of a fixed sleep: a slow async unpersist
    // must delay the measurement, never flip the assertion
    def residual(): Long = sc.getRDDStorageInfo
      .filterNot(i => beforeIds(i.id)).map(i => i.memSize + i.diskSize).sum
    val pollBound = (perRow2 * nNodes * 1.35).toLong
    val deadline = System.nanoTime() + 15L * 1000000000L
    var measured = residual()
    while (measured >= pollBound && System.nanoTime() < deadline) {
      Thread.sleep(100)
      measured = residual()
    }
    assert(labels.count() == nNodes)
    assert(rounds >= 3, s"fixture too shallow for the payload assertion: $rounds")
    // What REMAINS persisted after the run must be EXACTLY the terminal
    // (node, component) checkpoint: the loop frees round r-1's frame as
    // round r materializes (Spark alone would hold all of them to GC),
    // frees the symmetrized edge table and round-0 labels once their
    // last reader has run, and the terminal compaction drops the 3-col
    // _old payload. nSymRows enters the bound only as slack-free
    // evidence: sym alone would be ~2× the allowance here.
    val bound = perRow2 * nNodes * 1.35
    val ifAccumulated = perRow3 * rounds * nNodes
    val ifSymLeaked = perRow2 * nSymRows
    info(f"remaining=$measured bound=$bound%.0f ifAccumulated=$ifAccumulated%.0f " +
      f"ifSymLeaked=$ifSymLeaked%.0f rounds=$rounds")
    assert(measured < bound,
      f"persisted $measured bytes remain — bound $bound%.0f (terminal 2-col " +
        f"frame only); per-round accumulation would be ~$ifAccumulated%.0f, " +
        f"a leaked sym alone ~$ifSymLeaked%.0f")
    assert(measured > perRow2 * nNodes / 2, "fixture degenerate")
  }

  test("CC loop checkpoints carry no compounding size estimate (lean wrapper)") {
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    import org.apache.spark.storage.StorageLevel
    // The default localCheckpoint wrapper carries the pre-checkpoint
    // plan's join-MULTIPLIED sizeInBytes, so a join-then-checkpoint loop
    // SQUARES the carried BigInt every round — by round ~18 the driver
    // does million-digit arithmetic in every stats visit (measured: 97 s
    // of the 20M CcBench's 121 s final round, data-independent; BENCH.md
    // round 7). This spec pins the fix STRUCTURALLY — via the carried
    // estimate, no timing: the default wrapper compounds across a 6-round
    // self-join loop, the lean wrapper stays constant, and runCounted's
    // returned state is lean-wrapped.
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    def selfJoinLoop(wrap: DataFrame => DataFrame): Seq[BigInt] = {
      var cur = wrap(spark.range(64)
        .select(col("id").as("node"), col("id").as("component")))
      (1 to 6).map { _ =>
        val next = wrap(cur
          .join(cur.select(col("node").as("component"),
            col("component").as("c2")), Seq("component"), "left")
          .select(col("node"),
            coalesce(col("c2"), col("component")).as("component")))
        next.count()
        cur = next
        CheckpointBridge.carriedSizeInBytes(cur)
          .getOrElse(fail("not a checkpoint wrapper"))
      }
    }
    val std = selfJoinLoop(_.localCheckpoint(eager = false, lvl))
    val lean = selfJoinLoop(CheckpointBridge.localCheckpointLeanStats(_, lvl))
    // control — the compounding is real and the assertion below would
    // catch a revert: the default wrapper's estimate explodes
    // super-exponentially in bit length across 6 rounds
    assert(std.last.bitLength > 4 * std.head.bitLength,
      s"control broke: default wrapper no longer compounds " +
        s"(${std.map(_.bitLength)})")
    assert(lean.distinct.size == 1 && lean.head.bitLength <= 64,
      s"lean wrapper compounded: ${lean.map(_.bitLength)}")
    // and the shipped loop returns lean-wrapped state (a revert to the
    // default wrapper would carry the multi-hundred-bit compounded value
    // after the chain's ~6 rounds)
    import spark.implicits._
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
    val (labels, rounds) = ConnectedComponents.runCounted(
      chain.toDF("src", "dst"), smallSolve = Some(false))
    assert(rounds >= 4, s"fixture too shallow: $rounds")
    val carried = CheckpointBridge.carriedSizeInBytes(labels)
      .getOrElse(fail("terminal state not checkpoint-wrapped"))
    assert(carried.bitLength <= 64,
      s"terminal CC state carries a compounded estimate (${carried.bitLength} bits)")
  }

  test("CC propagation join reads the edge table exchange-free and sort-free") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // The per-round propagation join is the loop's dominant data movement:
    // the symmetrized edge table is edges-sized and IMMUTABLE, so its
    // exchange+sort belong in setup, not in every one of ~log₂(diameter)
    // rounds. symmetrized() checkpoints it hash-partitioned and sorted on
    // the join column `b`, and LogicalRDD carries that layout through the
    // checkpoint. This spec pins (a) the captured layout and (b) the join
    // planning against it: the planner inserts exactly one exchange and
    // one sort — both on the LABEL side.
    val edges = spark.range(0, 500, 1, 7)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    // the relayout is GATED on data volume: a toy graph coalesces to a
    // handful of partitions and must keep AQE's small-stage plans (the
    // ungated form doubled kg10/kg21 at sf0.1 — every round ran
    // shuffle-partitions-many tasks on ~1k-row frames), while a
    // data-dominated run must take the layout. Pin the auto gate's small
    // side, then force the layout for the structural assertions below.
    val auto = ConnectedComponents.symmetrized(edges)
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    assert(CheckpointBridge.checkpointNumPartitions(auto)
      .exists(_ < ConnectedComponents.RelayoutMinPartitions),
      "fixture unexpectedly large — auto-gate small side not exercised")
    auto.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        assert(!lr.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] ||
          !lr.outputPartitioning.asInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
            .expressions.map(_.toString).mkString.startsWith("b#"),
          "small graph took the relayout — the gate is broken")
      case _ => ()
    }
    CheckpointBridge.unpersistLocalCheckpoint(auto)
    val sym = ConnectedComponents.symmetrized(edges, relayout = Some(true))
    sym.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.outputPartitioning match {
          case hp: HashPartitioning =>
            assert(hp.expressions.map(_.toString).mkString.startsWith("b#"),
              s"partitioned on ${hp.expressions}, want b")
          case other => fail(s"captured partitioning not hash-on-b: $other")
        }
        assert(lr.outputOrdering.nonEmpty &&
          lr.outputOrdering.head.child.toString.startsWith("b#"),
          s"captured ordering: ${lr.outputOrdering}")
      case other => fail(s"not a checkpoint wrapper: ${other.getClass}")
    }
    // propagation-shaped join against a label table with no useful layout:
    // with broadcast off the planner must sort-merge, and the only
    // exchange+sort it may insert are on the label side
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val labels = spark.range(0, 501, 1, 5)
        .select(col("id").as("b"), (col("id") % 7L).as("component"))
      val joined = sym.join(labels, "b")
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      val sorts = "Sort \\[".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected 1 exchange (label side only):\n$plan")
      assert(sorts == 1, s"expected 1 sort (label side only):\n$plan")
      // and the layout is consistent: the join still answers correctly
      assert(joined.count() == 1000L) // 500 edges × 2 directions, all b matched
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("CC on names: dictionary keys never collide (distinct nodes stay distinct)") {
    import spark.implicits._
    // 5k disjoint string-keyed pairs across 16 partitions; any key
    // collision in the dense-id dictionary would merge two pairs and the
    // component count would drop below 5k. (This is the property the old
    // xxhash64(name) keys could only satisfy probabilistically.)
    val n = 5000
    val edges = spark.range(0, n, 1, 16)
      .select(concat(lit("left|node-"), col("id")).as("src"),
        concat(lit("right|node-"), col("id")).as("dst"))
    val labels = ConnectedComponents.runOnNames(edges)
    assert(labels.count() == 2L * n)
    val sizes = labels.groupBy(col("component")).count().collect()
    assert(sizes.length == n)
    assert(sizes.forall(_.getLong(1) == 2L))
  }

  test("CC on names matches CC on longs for the known graph") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val comps = ConnectedComponents.runOnNames(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(comps == Set(Set("a", "b", "c", "d"), Set("x", "y")))
  }

  // --- small-graph union-find fast path (r8 optimization) ---

  test("CC small solve ≡ iterative loop on mixed graph shapes") {
    import spark.implicits._
    // deep chain (pointer compression territory) + star + triangle with a
    // redundant edge + isolated pair + duplicate/reversed input edges —
    // the shapes the analytic queries produce. The auto gate takes the
    // single-task union-find here (the graph coalesces to 1 partition);
    // the forced loop is the reference.
    val edges = ((0L until 33L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L),
        (200L, 201L), (201L, 202L), (200L, 202L), (202L, 200L),
        (300L, 301L), (301L, 300L))).toDF("src", "dst")
    val (fast, fastRounds) = ConnectedComponents.runCounted(edges)
    val (loop, loopRounds) =
      ConnectedComponents.runCounted(edges, smallSolve = Some(false))
    val f = fast.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = loop.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(f == l, s"fast path diverged from the loop")
    // evidence each side actually ran: the gate fired (one "round"), the
    // forced loop iterated the 33-chain
    assert(fastRounds == 1, s"auto gate did not take the fast path: $fastRounds")
    assert(loopRounds > 1, s"forced loop did not iterate: $loopRounds")
  }

  test("CC small solve respects bounded maxIter by falling back to the loop") {
    import spark.implicits._
    // a caller bounding rounds asks for the loop's (possibly unconverged)
    // labels — the fast path must not fire below the default cap
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("src", "dst")
    val (bounded, rounds) = ConnectedComponents.runCounted(chain, maxIter = 2)
    assert(rounds == 2)
    // 2 rounds of propagate+compress cannot finish a 40-chain: some label
    // must still be non-minimal — proof the loop (not the solver) ran
    assert(bounded.where(col("component") =!= 0L).count() > 0)
  }

  test("CC gates distrust partition counts when AQE coalescing is off") {
    import spark.implicits._
    // with coalescing off, the checkpoint materializes at the full
    // shuffle-partition count, so partition count is NOT a volume signal
    // (ADVICE r7): the small-solve gate must fall back to the loop, and
    // the relayout gate must not fire on a toy graph
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val chain = (0L until 16L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("src", "dst")
      val (labels, rounds) = ConnectedComponents.runCounted(chain)
      assert(rounds > 1, "small-solve gate fired without AQE coalescing")
      assert(labels.collect().forall(_.getLong(1) == 0L))
      val sym = ConnectedComponents.symmetrized(chain)
      sym.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.outputPartitioning match {
            case hp: org.apache.spark.sql.catalyst.plans.physical
                .HashPartitioning =>
              assert(!hp.expressions.map(_.toString).mkString
                .startsWith("b#"),
                "relayout gate fired without AQE coalescing")
            case _ => ()
          }
        case _ => ()
      }
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistLocalCheckpoint(sym)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("LocalUnionFind: min-label components, rehash growth, determinism") {
    // exercise the open-addressed map across its rehash threshold
    val m = 5000
    val edges = (0 until m).flatMap { i =>
      val a = 10L * i
      Seq((a, a + 5L), (a + 5L, a + 7L))
    } ++ Seq((3L, 70003L)) // one long-range merge
    val out = graft.canon.LocalUnionFind.solve(edges.iterator).toMap
    // 3 generated nodes per i, plus the {3, 70003} pair (neither id is of
    // the generated 10i/10i+5/10i+7 forms)
    assert(out.size == 3 * m + 2)
    // spot components: {0,5,7}, {10,15,17}, ... min label is the rep
    assert(out(0L) == 0L && out(5L) == 0L && out(7L) == 0L)
    assert(out(10L) == 10L && out(17L) == 10L)
    assert(out(3L) == 3L && out(70003L) == 3L)
    // determinism across input orderings
    val out2 = graft.canon.LocalUnionFind.solve(edges.reverse.iterator).toMap
    assert(out2 == out)
  }
}

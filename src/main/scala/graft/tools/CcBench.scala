package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents

/** Data-dominated run of the Catalyst-only connected components loop
  * (canon/ConnectedComponents) — the shared core of kg05/kg10/kg15/kg20/
  * kg21 and the near-dup cluster transform.
  *
  * Why this exists: the query-scale CC inputs sit at ≤300k edges, where
  * the driver-coordinated round loop is pure fixed cost (and where the
  * small solve is meant to replace it). At web scale the near-dup pair
  * graph is billions of edges, so the question that matters is the
  * opposite regime: when each round's joins/aggregate dominate, what
  * does the loop cost and does the answer stay exact? This bench plants
  * a graph whose structure forces BOTH a real iteration count and exact
  * expectations:
  *
  *  - CHAIN half: disjoint paths of `ChainLen` nodes — diameter 1023
  *    forces ~log₂ rounds of pointer doubling (the worst realistic
  *    shape; star-shaped alias graphs converge in 2-3), and the
  *    component census is exact arithmetic: `nChains` components of
  *    size exactly `ChainLen`, none touching a random-half node.
  *  - RANDOM half: one edge per `spark.range` row between xxhash64-drawn
  *    endpoints over its own id pool (avg degree 2 — supercritical, a
  *    giant component plus deterministic dust). Not analytic, but
  *    deterministic: the full component digest is comparable across
  *    runs and code versions.
  *
  * The edge table is materialized to parquet ONCE (untimed; CC's real
  * input is a table — a verified-pairs output), then a same-shape
  * warm-up on a 10× smaller graph runs before the timed call. Prints
  * one JSON line naming the path that ran: the 20M-edge default takes
  * the loop, not the small solve.
  *
  * `sbt -batch "runMain graft.tools.CcBench [nEdges] [cores]"`
  */
object CcBench {

  private val Seed1 = 0x9e3779b97f4a7c15L
  private val Seed2 = 0xc2b2ae3d27d4eb4fL
  private val ChainLen = 1024L // nodes per chain; 1023-edge diameter

  private def dir(nEdges: Long) =
    Paths.get(System.getProperty("java.io.tmpdir"), s"graft_cc_edges_$nEdges")
      .toString

  private def nChains(nEdges: Long): Long =
    (nEdges / 2 + (ChainLen - 2)) / (ChainLen - 1)

  /** Deterministic planted graph: chain edges first, then random edges
    * over a disjoint id pool. All ids long, all derivation Catalyst
    * (xxhash64 / pmod over spark.range) — no driver-side generation. */
  private def edges(spark: SparkSession, nEdges: Long): DataFrame = {
    val chains = nChains(nEdges)
    val chainEdges = chains * (ChainLen - 1)
    val chainNodes = chains * ChainLen
    val randEdges = nEdges - chainEdges
    // node index i within [0, chainNodes); drop the last slot of each
    // chain so edges never bridge two chains
    val chain = spark.range(0, chainNodes, 1, 64)
      .where(col("id") % ChainLen =!= (ChainLen - 1))
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val rand = spark.range(0, randEdges, 1, 64)
      .select(
        (pmod(xxhash64(col("id"), lit(Seed1)), lit(randEdges)) +
          chainNodes).as("src"),
        (pmod(xxhash64(col("id"), lit(Seed2)), lit(randEdges)) +
          chainNodes).as("dst"))
    chain.unionAll(rand)
  }

  private def materialize(spark: SparkSession, nEdges: Long): Unit =
    Seq(nEdges / 10, nEdges).foreach { n =>
      if (!Files.exists(Paths.get(s"${dir(n)}/_SUCCESS")))
        edges(spark, n).write.mode(SaveMode.Overwrite).parquet(dir(n))
    }

  /** Label-invariant-enough digest: run() labels components by min node
    * id (deterministic), so the full (component, size) census hashes to
    * one order-independent long — identical across parallelism levels or
    * the partitioning leaks into the answer. */
  private def digest(labels: DataFrame): (Long, Long, Long) = {
    val row = labels.groupBy(col("component")).count()
      .agg(
        count(lit(1)).as("n_components"),
        sum(col("count")).as("n_nodes"),
        // mod a prime before summing: ANSI mode (Spark 4 default) errors
        // on long-sum overflow, and raw 64-bit hashes would overflow at
        // ~2 terms; 5M terms × <2^31 stays far inside a long
        sum(pmod(xxhash64(col("component"), col("count")),
          lit(2147483647L))).as("digest"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val nEdges = if (args.nonEmpty) args(0).toLong else 20000000L
    val cores =
      if (args.length >= 2) args(1).toInt
      else Runtime.getRuntime.availableProcessors()
    val calib = HostCalibration.cpuCalibrationWall()
    val shufflePartitions =
      sys.env.get("GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(
        math.max(cores * 2, math.min(1024L, nEdges / 300000L).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-cc-bench-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      materialize(spark, nEdges)
      // same-shape warm-up (JIT + codegen for every round's operators);
      // its result blocks are freed so the measured run starts with an
      // empty block manager
      val warm = ConnectedComponents.run(spark.read.parquet(dir(nEdges / 10)))
      warm.count()
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistLocalCheckpoint(warm)
      val e = spark.read.parquet(dir(nEdges))
      val t0 = System.nanoTime()
      val (labels, iters) = ConnectedComponents.runCounted(e, maxIter = 40)
      // runCounted's terminal compaction already materialized `labels`;
      // the wall covers the full loop including its convergence counts
      val wall = (System.nanoTime() - t0) / 1e9
      val (nComp, nNodes, dig) = digest(labels)
      // exact planted arithmetic on the chain half: nChains components
      // of exactly ChainLen nodes, labeled by their own min node id
      val chains = nChains(nEdges)
      val chainNodes = chains * ChainLen
      val census = labels.where(col("node") < chainNodes)
        .groupBy(col("component")).count()
      val bad = census
        .where(col("count") =!= ChainLen || col("component") >= chainNodes)
        .count()
      val got = census.count()
      require(bad == 0 && got == chains,
        s"chain census broken: $got components ($chains expected), " +
          s"$bad mis-sized or cross-linked")
      // the small solve reports exactly one round; the loop needs at
      // least two on any graph with an edge (round 1 relabels the larger
      // endpoint, and only a later round can count zero changes)
      val path = if (iters == 1) "small_solve" else "loop"
      println(
        f"""{"n_edges":$nEdges,"cores":$cores,"path":"$path",""" +
          f""""rounds":$iters,"wall_sec":$wall%.2f,""" +
          f""""edges_per_sec":${nEdges / wall}%.0f,"n_components":$nComp,""" +
          f""""n_nodes":$nNodes,"census_digest":$dig,""" +
          f""""planted_chains":$chains,"calib_cpu_sec":$calib%.2f}""")
    } finally spark.stop()
  }
}

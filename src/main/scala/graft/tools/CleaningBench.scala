package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CleaningPipeline

/** The composed cleaning chain at BENCH scale (round-5 verdict order #6):
  * kg19 runs it on ~3k docs where the CC loop's fixed costs dominate;
  * this runs `CleaningPipeline.cleanedMetaResumable` once over a 20M-doc
  * corpus with EXACTLY KNOWN planted rates, so the "fixed costs amortize
  * at scale" claim is measured, and the survivor count is checked against
  * the planted arithmetic — not a rate estimate.
  *
  * Planted layout — groups of 20 consecutive doc_ids:
  *  - r = 0..16  unique base text (40 tokens from a 4096-word vocab,
  *                splitmix-seeded, partition-independent)
  *  - r = 17     exact duplicate of the group's r=0 text
  *  - r = 18     near-duplicate of r=1 (one appended unique token: 38
  *                3-shingles in the 40-token base, 39 in the mutant, 38
  *                shared → Jaccard 38/39 ≈ 0.974 ≥ 0.8; at 16 bands ×
  *                2 rows the per-pair LSH miss probability is
  *                (1−0.974²)¹⁶ ≈ 2e-21, so the expected count is exact
  *                at any corpus size)
  *  - r = 19     exact duplicate of r=2
  * and every 500th group's r=3 doc donates its first 15 tokens as a
  * benchmark excerpt (13 shared shingles ≥ minOverlap 5 → flagged).
  *
  * Expected: flagged = ⌈groups/500⌉, exact drops = 2·groups, near drops
  * = groups, survivors = 17·groups − ⌈groups/500⌉. All four are hard
  * assertions against the run's per-stage manifest.
  *
  * In the full run the corpus is read through [[CountingLocalFs]] (its
  * own `cntfs:` scheme), so the read-once guarantee is MEASURED at 20M
  * too: corpus parquet file opens during the whole chain must equal one
  * plain scan's opens. (cntfs defeats Spark's local-parquet fast path,
  * so the reported throughput is a slight underestimate — the honest
  * price of counting.)
  *
  * `resume` mode kills the chain at the stage-2/3 boundary and resumes it
  * in a second JVM (see [[resumeMain]]). Both modes append to BENCH.md.
  *
  * `sbt -batch "runMain graft.tools.CleaningBench [nDocs]"` or
  * `"runMain graft.tools.CleaningBench resume [nDocs] [cores]"`
  */
object CleaningBench {

  private def mix(seed: Long, i: Long): Long = {
    var z = seed + i * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 40 deterministic vocab tokens for base doc `i`. */
  def baseText(seed: Long, i: Long): String = {
    val sb = new StringBuilder(256)
    var z = mix(seed, i)
    var t = 0
    while (t < 40) {
      if (t > 0) sb.append(' ')
      z = mix(z, t + 1)
      sb.append('w').append(java.lang.Long.toHexString(z & 0xFFF))
      t += 1
    }
    sb.toString
  }

  /** The planted text for doc `i` (see object doc for the group layout). */
  def textOf(seed: Long, i: Long): String = {
    val g0 = i - i % 20
    (i % 20) match {
      case 17 => baseText(seed, g0)
      case 18 => baseText(seed, g0 + 1) + " nd" + i
      case 19 => baseText(seed, g0 + 2)
      case _ => baseText(seed, i)
    }
  }

  private val Seed = 42L

  private def expectedSurvivors(nDocs: Long): Long = {
    val groups = nDocs / 20
    17L * groups - (groups + 499) / 500
  }

  private def corpus(spark: SparkSession, n: Long): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.range(0, n, 1, 128).map(i => (i, textOf(Seed, i)))
  }

  private def corpusDir(n: Long) =
    Paths.get(System.getProperty("java.io.tmpdir"), s"graft_cleaning_corpus_$n")
      .toString

  /** Corpus + bench tables at rest ONCE (untimed) — the chain's input is
    * a table. */
  private def materialize(spark: SparkSession, nDocs: Long): Unit = {
    import spark.implicits._
    val dir = corpusDir(nDocs)
    // docs is written LAST and is the reuse gate, so a run killed
    // mid-materialization can never leave a half-corpus that later runs
    // trust (bench-first ordering + both markers checked)
    if (Files.exists(Paths.get(s"$dir/docs/_SUCCESS")) &&
      Files.exists(Paths.get(s"$dir/bench/_SUCCESS"))) return
    val groups = nDocs / 20
    spark.range(0, groups, 1, 8).where(col("id") % 500 === 0)
      .as[Long]
      .map(g => (g, textOf(Seed, g * 20 + 3)
        .split(" ").take(15).mkString(" ")))
      .toDF("bench_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/bench")
    corpus(spark, nDocs).toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
  }

  /** Shuffle partitions sized by DATA, floored by parallelism: the
    * chain's widest shuffle is the banding/candidate exchange
    * (`bands` × nDocs ≈ 16·nDocs rows, ~25 B each), and a ~100 MB/
    * reducer target keeps per-task sort runs inside execution memory
    * under the fixed 8 GB heap (measured at 20M/32 cores: stage 3
    * 234.8 s at 64 partitions → 188.8 s at 128). Partition count is a
    * property of the data, as on a real cluster; AQE coalesces any
    * excess. GRAFT_SHUFFLE_PARTITIONS overrides for probes. */
  private def shufflePartitionsFor(cores: Int, nDocs: Long): Int =
    sys.env.get("GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(
      math.max(math.max(cores * 2, 16),
        math.min(1024L, nDocs / 160000L).toInt))

  private def session(cores: Int, nDocs: Long): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-cleaning-bench-$cores")
      .config("spark.sql.shuffle.partitions",
        shufflePartitionsFor(cores, nDocs))
      // probe knob: shuffle/spill codec (default lz4). zstd moves fewer
      // bytes through the memory controller per shuffled row — the
      // binding resource at 32 threads on one socket (see the round-5
      // text-encoding study) — at more decompression CPU.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("GRAFT_SHUFFLE_CODEC", "lz4"))
      // probe knob: the chain's parquet staging codec (the un-optioned
      // staged write follows this standard conf; default snappy)
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("GRAFT_STAGE_CODEC", "snappy"))
      // probe knob: ObjectHashAggregate's sort-fallback threshold (the
      // bounded-min candidate cap is a TypedImperativeAggregate; at the
      // 128-entry default every high-cardinality bucket agg degenerates
      // to a full sort of the banded rows)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("GRAFT_OBJ_AGG_FALLBACK", "128"))
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl",
      classOf[CountingLocalFs].getName)
    spark
  }

  /** Recursive delete for the corpus-scale staged temp dirs — leaking
    * one per timed chain exhausts /tmp across repeated runs. */
  private def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    Files.walk(root).iterator().asScala.toSeq.reverseIterator
      .foreach(Files.delete)
  }

  /** One timed chain over the at-rest corpus; returns (wall s, survivors,
    * stage dir — the CALLER deletes it after reading the manifest).
    * `scheme` "cntfs:" counts corpus opens, "" reads plain. */
  private def timedChain(spark: SparkSession, nDocs: Long,
      scheme: String): (Double, Long, String) = {
    val dir = corpusDir(nDocs)
    val stage = Files.createTempDirectory("graft_cleaning_bench").toString
    val t0 = System.nanoTime()
    val survivors = CleaningPipeline.cleanedMetaResumable(
      spark.read.parquet(s"$scheme$dir/docs"),
      spark.read.parquet(s"$dir/bench"), stage,
      k = 32, bands = 16, shingleN = 3, maxBucket = 1024,
      minJaccard = 0.8, minOverlap = 5).count()
    ((System.nanoTime() - t0) / 1e9, survivors, stage)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 5 && args(0) == "resumechild") {
      resumeChildMain(args(1).toInt, args(2).toLong, args(3).toInt, args(4))
      return
    }
    if (args.nonEmpty && args(0) == "resume") {
      val nDocs = if (args.length >= 2) args(1).toLong else 20000000L
      val cores = if (args.length >= 3) args(2).toInt else 32
      resumeMain(nDocs, cores)
      return
    }
    fullMain(if (args.nonEmpty) args(0).toLong else 20000000L)
  }

  /** The headline full-scale run: counted corpus opens, planted-rate
    * assertions, per-stage manifest read-out. */
  private def fullMain(nDocs: Long): Unit = {
    require(nDocs % 10000 == 0, "nDocs must be a multiple of 10000")
    val groups = nDocs / 20
    val contam = (groups + 499) / 500
    val expect = expectedSurvivors(nDocs)
    val spark = session(32, nDocs)
    try {
      materialize(spark, nDocs)
      val dir = corpusDir(nDocs)

      // calibration: one plain scan's worth of corpus file opens
      CountingLocalFs.reset()
      spark.read.parquet(s"cntfs:$dir/docs")
        .agg(sum(length(col("text")))).collect()
      val oneScanOpens = CountingLocalFs.parquetOpens()

      CountingLocalFs.reset()
      val (wall, survivors, stage) = timedChain(spark, nDocs, "cntfs:")
      val chainOpens = CountingLocalFs.parquetOpens()

      require(survivors == expect,
        s"survivors $survivors != planted arithmetic $expect")
      require(chainOpens == oneScanOpens,
        s"chain opened corpus files $chainOpens times vs $oneScanOpens " +
          "for one plain scan — the read-once guarantee broke at scale")
      val stages = CleaningPipeline.manifest(spark, stage)
        .orderBy("stage").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val byStage = stages.map { case (s0, rows, ms) => s0 -> ((rows, ms)) }
        .toMap
      require(byStage(1)._1 == contam,
        s"flagged ${byStage(1)._1} != planted $contam")
      require(byStage(2)._1 == 2L * groups,
        s"exact drops ${byStage(2)._1} != planted ${2L * groups}")
      require(byStage(3)._1 == groups,
        s"near drops ${byStage(3)._1} != planted $groups")

      val dps = nDocs / wall
      val stageMs = stages.map { case (s0, rows, ms) =>
        s""""stage$s0":{"rows":$rows,"wall_ms":$ms}"""
      }.mkString(",")
      val json =
        f"""{"n_docs":$nDocs,"survivors":$survivors,"expected":$expect,""" +
          f""""wall_sec":$wall%.1f,"docs_per_sec":$dps%.0f,""" +
          f""""corpus_opens_chain":$chainOpens,"corpus_opens_one_scan":$oneScanOpens,$stageMs}"""
      println(json)

      val row =
        f"""
           |## CleaningBench run (${java.time.Instant.now()})
           |
           |`CleaningPipeline.cleanedMetaResumable` (parquet-staged chain:
           |decontaminate → exact dedup → near-dup dedup) over $nDocs
           |planted docs at local[32], corpus read through the counting
           |filesystem (defeats the local-parquet fast path — throughput
           |slightly understated).
           |
           || metric | value |
           || --- | --- |
           || wall (s) | $wall%.1f |
           || docs/s | $dps%.0f |
           || survivors | $survivors (= planted arithmetic exactly) |
           || flagged / exact drops / near drops | $contam / ${2L * groups} / $groups (all = planted) |
           || corpus file opens: chain vs one scan | $chainOpens vs $oneScanOpens |
           |
           |Per-stage (rows, wall): ${stages.map { case (s0, r, ms) =>
                f"stage$s0 ($r rows, ${ms / 1000.0}%.1f s)"
              }.mkString("; ")}
           |```json
           |$json
           |```
           |""".stripMargin
      Files.write(Paths.get("BENCH.md"), row.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      deleteRecursively(stage)
    } finally spark.stop()
  }

  /** One phase of the kill/resume measurement, in a fresh JVM (so the
    * "kill" between stages is a REAL process exit, and the resume is a
    * genuinely cross-JVM cold start — the crash a 100-TB multi-hour run
    * actually recovers from). `upTo = 2` runs stages 0–2 and exits at
    * the stage-2/3 boundary; `upTo = 4` resumes the same `stage` dir to
    * completion. Corpus reads go through the counting filesystem, with
    * the counter reset AFTER frame construction (schema/footer reads)
    * so the printed `opens` is exactly the chain-execution corpus
    * opens: one scan's worth in phase A (stage 0 is THE text pass),
    * and ZERO in phase B — the resume never touches corpus text. */
  private def resumeChildMain(cores: Int, nDocs: Long, upTo: Int,
      stage: String): Unit = {
    val spark = session(cores, nDocs)
    try {
      // same-shape warm-up (one-tenth corpus, own dir), then the host
      // calibrations printed beside the phase's wall
      val (_, _, warmStage) = timedChain(spark, nDocs / 10, "")
      deleteRecursively(warmStage)
      System.err.println(
        f"CALIB $cores ${HostCalibration.cpuCalibrationWall()}%.2f s")
      System.err.println(
        f"DISKCAL $cores ${HostCalibration.diskCalibrationWall("/tmp")}%.2f s")
      val dir = corpusDir(nDocs)
      // phase A also measures the one-plain-scan open calibration the
      // read-once assertion compares against. Frame construction happens
      // BEFORE the counter reset on both sides (here and for the chain
      // below) so schema/footer reads are excluded symmetrically and the
      // counted opens are data-scan opens only.
      val oneScan =
        if (upTo <= 2) {
          val scanDf = spark.read.parquet(s"cntfs:$dir/docs")
          CountingLocalFs.reset()
          scanDf.agg(sum(length(col("text")))).collect()
          CountingLocalFs.parquetOpens()
        } else 0L
      val docs = spark.read.parquet(s"cntfs:$dir/docs")
      val bench = spark.read.parquet(s"$dir/bench")
      CountingLocalFs.reset()
      val t0 = System.nanoTime()
      // parameters MUST equal timedChain's (the _params manifest pins
      // them across the two phases' JVMs)
      val surv = CleaningPipeline.runStages(docs, bench, stage, Nil,
        k = 32, bands = 16, shingleN = 3, maxBucket = 1024,
        minJaccard = 0.8, minOverlap = 5, minRatio = 0.0,
        broadcastBench = true, storePath = None, allowStoreReplay = false,
        upTo = upTo).map(_.count()).getOrElse(-1L)
      val wall = (System.nanoTime() - t0) / 1e9
      val opens = CountingLocalFs.parquetOpens()
      val stages = CleaningPipeline.manifest(spark, stage)
        .orderBy("stage").collect()
        .map(r => s"stage${r.getInt(0)}=${r.getLong(2)}ms")
      System.err.println(s"STAGES $cores ${stages.mkString(" ")}")
      println(f"RESUMECHILD $upTo $wall%.2f $opens $oneScan $surv")
    } finally spark.stop()
  }

  /** Child-JVM runner for the resume phases; returns (wall s, chain
    * corpus opens, one-scan opens, survivors, stage3 wall ms if the
    * child's manifest carries stage 3). */
  private def runResumePhase(cores: Int, nDocs: Long, upTo: Int,
      stage: String): (Double, Long, Long, Long, Option[Long]) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    jvmArgs.forEach(a => if (!a.startsWith("-agentlib")) cmd.add(a))
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.tools.CleaningBench"); cmd.add("resumechild")
    cmd.add(cores.toString); cmd.add(nDocs.toString)
    cmd.add(upTo.toString); cmd.add(stage)
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream)
      .getLines().toList
    val rc = p.waitFor()
    out.filter(l => l.startsWith("STAGES ") || l.startsWith("CALIB ") ||
        l.startsWith("DISKCAL "))
      .foreach(println)
    val line = out.find(_.startsWith("RESUMECHILD ")).getOrElse(
      sys.error(s"resume child failed (rc=$rc):\n" +
        out.takeRight(30).mkString("\n")))
    val Array(_, _, wall, opens, oneScan, surv) = line.split(" ")
    val stage3Ms = out.find(_.startsWith("STAGES "))
      .flatMap(_.split(" ").find(_.startsWith("stage3=")))
      .map(_.stripPrefix("stage3=").stripSuffix("ms").toLong)
    (wall.toDouble, opens.toLong, oneScan.toLong, surv.toLong, stage3Ms)
  }

  /** Chain-level kill/resume at bench scale (round-6 verdict #4): run
    * stages 0–2 in one JVM, let that JVM EXIT at the stage-2/3
    * boundary, resume in a second JVM to completion, and assert the
    * resume discipline holds where it matters — at 20M docs, not just
    * the spec's toy fixture: survivors equal the planted arithmetic,
    * the resume opens ZERO corpus files (stages resume from staged
    * parquet, never re-scan text), and the resume wall is the
    * remaining-stage cost — stage 3 (the chain's dominant stage) plus
    * small overhead, never a re-run of the completed prefix. */
  private def resumeMain(nDocs: Long, cores: Int): Unit = {
    require(nDocs % 100000 == 0,
      "resume nDocs must be a multiple of 100000 (warm-up is nDocs/10)")
    val gen = session(32, nDocs)
    try {
      materialize(gen, nDocs)
      materialize(gen, nDocs / 10)
    } finally gen.stop()
    val expect = expectedSurvivors(nDocs)
    val stage = Files.createTempDirectory("graft_resume_bench").toString
    try {
      val (wallA, opensA, oneScan, survA, _) =
        runResumePhase(cores, nDocs, 2, stage)
      val (wallB, opensB, _, survB, stage3Ms) =
        runResumePhase(cores, nDocs, 4, stage)
      require(survA == -1L, s"phase A returned survivors ($survA)?")
      require(survB == expect,
        s"resumed survivors $survB != planted arithmetic $expect")
      require(opensA == oneScan,
        s"phase A opened corpus files $opensA times vs $oneScan for one " +
          "plain scan — the read-once guarantee broke")
      require(opensB == 0,
        s"the RESUME opened $opensB corpus files — it re-scanned text")
      // "wall ≈ remaining-stage cost": phase B must pay stage 3 (the
      // chain's dominant stage — at 2M it alone outweighs stages 0–2
      // combined) plus only small resume overhead (marker checks, the
      // survivor count's anti-joins), never a re-run of completed stages
      require(stage3Ms.isDefined, "phase B manifest carries no stage-3 row")
      val s3 = stage3Ms.map(_ / 1000.0)
      val overhead = wallB - s3.get
      require(overhead < 0.25 * wallB + 10.0,
        f"resume wall $wallB%.1f s vs its stage-3 cost ${s3.get}%.1f s — " +
          f"$overhead%.1f s of overhead is more than marker checks + the " +
          "survivor count; a completed stage re-ran")
      val json =
        f"""{"chain":"cleaning_resume","n_docs":$nDocs,"cores":$cores,""" +
          f""""kill_after_stage":2,"phaseA_wall_sec":$wallA%.2f,""" +
          f""""phaseA_corpus_opens":$opensA,"one_scan_opens":$oneScan,""" +
          f""""phaseB_wall_sec":$wallB%.2f,"phaseB_corpus_opens":$opensB,""" +
          s""""stage3_sec":${s3.map(v => f"$v%.2f").getOrElse("null")},""" +
          f""""survivors":$survB}"""
      println(json)
      val row =
        f"""
           |## CleaningBench kill/resume at bench scale (${java.time.Instant.now()})
           |
           |The resumable chain killed at the stage-2/3 boundary (child
           |JVM A runs stages 0–2 and exits; child JVM B resumes the same
           |stage dir cold) over $nDocs planted docs at local[$cores],
           |corpus read through the counting filesystem.
           |
           || metric | value |
           || --- | --- |
           || phase A wall, stages 0–2 (s) | $wallA%.1f |
           || phase B wall, resume→done (s) | $wallB%.1f |
           || stage 3 alone inside phase B (s) | ${s3.map(v => f"$v%.1f").getOrElse("-")} |
           || corpus opens A vs one scan | $opensA vs $oneScan (read-once holds) |
           || corpus opens during RESUME | $opensB (zero — no text re-scan) |
           || survivors | $survB (= planted arithmetic) |
           |```json
           |$json
           |```
           |""".stripMargin
      Files.write(Paths.get("BENCH.md"), row.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } finally deleteRecursively(stage)
  }
}

package graft.perf

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (`run.py` builds the program and starts
  * it):
  *
  * {{{
  * BenchMain --workload <name> --seed <n> [--seconds 10] [--trace 0|1]
  *           --work <dir> --spec <BENCHMARK.json> [--source <id>]
  * }}}
  *
  * One run: generate (or reuse) the seed's at-rest inputs; set up several
  * times, each a fresh Spark session, and report the median; make one
  * untimed warm-up call; run the closed loop of timed operations
  * for `--seconds`; check every operation's output (untimed); print one
  * context line, then the result line the spec describes. `--trace 1`
  * runs half the window untraced and half traced, then calls each layer
  * directly, and reports the spec's per-layer metrics. */
object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, spec: String, source: String)

  /** Set-up repetitions per run (a fresh Spark session); `setup_s` is
    * their median. */
  val SetupReps = 3

  /** Operations a run times at least, however long they take (the traced
    * run splits them between its halves): one call of either workload
    * outlasts the default 10 s, and the host's speed drifts over tens of
    * seconds, so the timed window is two calls long. */
  val MinOps = 2

  /** Largest tolerated gap between the sum of span self times and the
    * traced wall, as a share of that wall. */
  val SelfTimeTolerance = 0.01

  def parseArgs(argv: Seq[String]): Args = {
    require(argv.size % 2 == 0, s"arguments must be --flag value pairs: ${argv.mkString(" ")}")
    val known = Set("workload", "seed", "seconds", "trace", "work", "spec", "source")
    val kv = argv.grouped(2).map { case Seq(k, v) =>
      require(k.startsWith("--") && known(k.drop(2)), s"unknown flag $k")
      k.drop(2) -> v
    }.toMap
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.Names.mkString(", ")})")
    val seed = need("seed").toLongOption.getOrElse(
      throw new IllegalArgumentException(s"--seed must be an integer, got ${kv("seed")}"))
    val seconds = kv.getOrElse("seconds", "10").toInt
    require(seconds >= 1, s"--seconds must be at least 1, got $seconds")
    val trace = kv.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(workload, seed, seconds, trace, need("work"), need("spec"),
      kv.getOrElse("source", "unknown"))
  }

  /** (name, unit) of the spec's `end_to_end` or `per_layer` metrics. */
  def metricSpec(specPath: String, kind: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(specPath)))
    root.get(kind).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
  }

  def session(cores: Int, work: String): SparkSession = {
    // graft.app.Main's configuration on local[nproc], with one shuffle
    // partition per core as graft.Bench runs it
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set (VmHWM) of this JVM in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def memTotalKb(): Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(-1L)

  /** The outcome of the timed loop: per-op timings by op index, and the
    * ops that threw. */
  final class Loop {
    val ok = mutable.LinkedHashMap.empty[Int, OpTiming]
    val failed = mutable.LinkedHashMap.empty[Int, String]
    var cpuSeconds = 0.0
    def attempted: Int = ok.size + failed.size
    def docsPerSecond(docsPerOp: Long): Double =
      if (ok.isEmpty) 0.0 else docsPerOp * ok.size / ok.values.map(_.wall).sum
  }

  /** Closed loop, one caller: operations from index `first` until
    * `seconds` have passed and at least `minOps` ran. A throwing
    * operation counts
    * as failed and is never recorded as a timing. */
  def timedLoop(spark: SparkSession, w: Workload, first: Int,
      seconds: Double, minOps: Int, tr: Tracer, loop: Loop): Unit = {
    val start = System.nanoTime()
    val cpu0 = processCpuSeconds()
    var i = first
    while (i - first < minOps || (System.nanoTime() - start) / 1e9 < seconds) {
      try loop.ok(i) = tr.span("op")(w.op(spark, i, tr))
      catch { case NonFatal(e) => loop.failed(i) = e.toString }
      i += 1
    }
    loop.cpuSeconds += processCpuSeconds() - cpu0
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toSeq)
    val endToEnd = metricSpec(a.spec, "end_to_end")
    val perLayer = metricSpec(a.spec, "per_layer")
    val spec = if (a.trace) perLayer else endToEnd
    val cores = Runtime.getRuntime.availableProcessors
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-" +
      UUID.randomUUID().toString.take(8)
    val dirs = RunDirs(s"${a.work}/fixtures", s"${a.work}/runs/$runId")
    val w = Workloads(a.workload, a.seed, dirs, cores)
    Files.createDirectories(Paths.get(dirs.runDir))

    val t0 = System.nanoTime()
    var spark = session(cores, a.work)
    val coldSessionS = (System.nanoTime() - t0) / 1e9
    try {
      w.prepare(spark)
      // set-up, repeated: stop the session and start a fresh one; then one
      // untimed warm-up call
      val setupS = (1 to SetupReps).map { _ =>
        spark.stop()
        val s0 = System.nanoTime()
        spark = session(cores, a.work)
        (System.nanoTime() - s0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmup(spark)
      val warmupS = (System.nanoTime() - w0) / 1e9

      val loop = new Loop
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      val context = mutable.LinkedHashMap.empty[String, Any]
      var traceInfo: Option[Tracing.Result] = None
      if (!a.trace) timedLoop(spark, w, 0, a.seconds, MinOps, Tracer.Off, loop)
      else traceInfo = Some(Tracing.run(spark, w, a.seconds, runId, cores,
        loop, s"${a.work}/traces"))
      val rss = peakRssMb()

      // untimed output checks
      val problems = mutable.ArrayBuffer.empty[String]
      val checkFailed = loop.ok.keys.toSeq.filter { i =>
        val p = try w.check(spark, i)
          catch { case NonFatal(e) => Seq(s"op $i check threw $e") }
        problems ++= p
        p.nonEmpty
      }
      val (quality, gates) =
        if (loop.ok.contains(0)) {
          try w.quality(spark)
          catch { case NonFatal(e) => (Map.empty[String, Double], Seq(s"quality threw $e")) }
        } else (Map.empty[String, Double], Seq("op 0 failed: no output to evaluate"))
      problems ++= gates
      val failed = loop.failed.size + checkFailed.size +
        (if (gates.nonEmpty && !checkFailed.contains(0) && loop.ok.contains(0)) 1 else 0)
      val lastOk = loop.ok.keys.lastOption

      val commits = loop.ok.values.flatMap(_.commits).toSeq
      val tailP = Stats.tailPercentile(commits.size)
      val (diskBytes, files) =
        lastOk.fold((0L, 0L))(i => Workloads.usage(w.outputRoot(i)))
      metrics ++= Map(
        "setup_s" -> Stats.median(setupS),
        "docs_per_s" -> loop.docsPerSecond(w.docsPerOp),
        "commit_p50_s" -> (if (commits.isEmpty) 0.0 else Stats.median(commits)),
        "commit_tail_s" ->
          (if (commits.isEmpty) 0.0 else Stats.percentile(commits, tailP)),
        "cpu_s" -> (if (loop.ok.isEmpty) 0.0 else loop.cpuSeconds / loop.ok.size),
        "peak_rss_mb" -> rss,
        "disk_mb" -> diskBytes / 1e6,
        "out_files" -> files.toDouble,
        "success_rate" -> (loop.attempted - failed).toDouble / loop.attempted,
        "quality_f1" -> 0.0 // replaced by the evaluation when it ran
      ) ++ quality
      traceInfo.foreach(t => metrics ++= t.metrics)

      traceInfo.foreach(problems ++= _.problems)

      context ++= Seq(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> (if (a.trace) 1 else 0), "run_id" -> runId,
        "source" -> a.source, "nproc" -> cores, "mem_total_kb" -> memTotalKb(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "sizes" -> w.sizes,
        "cold_session_s" -> coldSessionS, "setup_reps_s" -> setupS,
        "warmup_s" -> warmupS,
        "ops" -> loop.ok.size, "commits" -> commits.size,
        "commit_tail_percentile" -> tailP, "commit_s" -> commits,
        "problems" -> problems.take(20).toSeq,
        "failed_ops" -> loop.failed.values.take(5).toSeq)
      traceInfo.foreach(t => context ++= t.context)

      val unknown = metrics.keySet -- endToEnd.map(_._1) -- perLayer.map(_._1)
      require(unknown.isEmpty, s"metrics missing from the spec: $unknown")
      val out = scala.collection.immutable.ListMap.from(spec.map { case (name, unit) =>
        val v = metrics.getOrElse(name,
          if (a.trace) 0.0 // a layer this workload never calls
          else throw new IllegalStateException(s"end-to-end metric $name not measured"))
        name -> scala.collection.immutable.ListMap("value" -> v, "unit" -> unit)
      })
      val correct = failed == 0 && problems.isEmpty && loop.ok.nonEmpty
      println(Json.obj("context" -> context.toMap))
      println(Json.obj("correct" -> correct, "attempted" -> loop.attempted,
        "failed" -> failed, "metrics" -> out))
    } finally {
      spark.stop()
      Workloads.delete(dirs.runDir)
    }
  }
}

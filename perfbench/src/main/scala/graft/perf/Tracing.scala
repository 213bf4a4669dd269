package graft.perf

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The traced run: half the window untraced, half with spans and the
  * [[LayerListener]], then the workload's direct layer calls. Per-layer
  * metrics come from the traced half; the untraced half gives the tracing
  * overhead. */
object Tracing {

  final case class Result(metrics: Map[String, Double],
      context: Map[String, Any], problems: Seq[String])

  /** The target path in a formatted write plan's node details. */
  private val WriteTarget =
    "(?s)Execute InsertIntoHadoopFsRelationCommand\\s*\\n.*?Arguments: ([^,\\s]+)".r

  /** What a job inside `KgPipeline.runResumable` did, from its SQL plan:
    * the staging write, an output write, the manifest append, the triple
    * read-back, or compute (the per-bucket counts that run NER). */
  def jobClass(plan: String): String =
    WriteTarget.findFirstMatchIn(plan).map(_.group(1)) match {
      case Some(p) if p.contains("/_staging") => "staging"
      case Some(p) if p.contains("/_manifest") => "manifest"
      case Some(_) => "write"
      case None if plan.contains("/triples/bucket=") => "readback"
      case None => "compute"
    }

  def run(spark: SparkSession, w: Workload, seconds: Int, runId: String,
      cores: Int, loop: BenchMain.Loop, traceDir: String): Result = {
    val half = BenchMain.MinOps / 2
    BenchMain.timedLoop(spark, w, 0, seconds / 2.0, half, Tracer.Off, loop)
    val untracedDps = loop.docsPerSecond(w.docsPerOp)

    val sc = spark.sparkContext
    val ls = new LayerListener
    sc.addSparkListener(ls)
    val tr = new Tracer(runId, Some(sc))
    val traced = new BenchMain.Loop
    val wall0 = System.nanoTime()
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val layerMetrics = tr.span("traced") {
      BenchMain.timedLoop(spark, w, loop.attempted, seconds / 2.0, half, tr,
        traced)
      traced.ok.keys.lastOption.fold(Map.empty[String, Double]) { last =>
        try tr.span("layers")(w.layers(spark, last, tr, ls))
        catch {
          case NonFatal(e) =>
            problems += s"layer calls failed: $e"
            Map.empty[String, Double]
        }
      }
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(ls)
    val tracedDps = traced.docsPerSecond(w.docsPerOp)
    loop.ok ++= traced.ok
    loop.failed ++= traced.failed
    loop.cpuSeconds += traced.cpuSeconds

    def groups(name: String): Set[String] = tr.spans.filter(_.name == name)
      .flatMap(s => tr.subtree(s.id)).map(_.toString).toSet
    val nOps = math.max(1, traced.ok.size).toDouble
    val ops = groups("op")
    val opSeconds = tr.spans.filter(_.name == "op").map(_.seconds).sum
    val t = ls.sum(ops)
    val engine = Map(
      "spark.jobs" -> ls.jobsIn(ops).size / nOps,
      "spark.tasks" -> t.tasks / nOps,
      "spark.shuffle_bytes" -> t.shuffleWrite / nOps,
      "spark.spill_bytes" -> t.spill / nOps,
      "spark.gc_s" -> t.gcMs / 1000.0 / nOps,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9 / nOps,
      "spark.task_skew_max" -> ls.taskSkew(ops),
      "spark.core_busy_frac" -> t.runMs / 1000.0 / (cores * opSeconds),
      "scan.bytes" -> t.inBytes / nOps,
      "scan.rows" -> t.inRows / nOps)

    // KgPipeline's jobs, split by what each did
    val runs = tr.spans.filter(_.name == "pipeline.runResumable")
    val classified = ls.jobsIn(groups("pipeline.runResumable"))
      .map(j => j -> jobClass(ls.planOf(j)))
    def jobSeconds(cls: String) = classified.collect {
      case (j, c) if c == cls => (j.endMs - j.startMs) / 1000.0
    }.sum
    val pipeline =
      if (runs.isEmpty) Map.empty[String, Double]
      else {
        val n = runs.size.toDouble
        val buckets = traced.ok.values.map(_.commits.size).sum / nOps
        val gap = runs.map(s =>
          s.seconds - ls.busyMs(tr.subtree(s.id).map(_.toString)) / 1000.0).sum
        Map(
          "pipeline.jobs" -> classified.size / n,
          "pipeline.jobs_per_bucket" -> classified.size / n / buckets,
          "pipeline.driver_gap_s" -> gap / n,
          "pipeline.staging_s" -> jobSeconds("staging") / n,
          "pipeline.readback_jobs" -> classified.count(_._2 == "readback") / n,
          "write.s" -> jobSeconds("write") / n)
      }

    val self = tr.selfSeconds
    val root = tr.spans.find(_.name == "traced").get
    val selfSum = tr.subtree(root.id).toSeq.map(self).sum
    val overhead = if (untracedDps > 0) 1.0 - tracedDps / untracedDps else 0.0

    // every span name with its time and the listener's counters
    val layerTable = tr.spans.groupBy(_.name).map { case (name, ss) =>
      val g = ss.map(_.id.toString).toSet
      val c = ls.sum(g)
      name -> Map("spans" -> ss.size, "seconds" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(s => self(s.id)).sum,
        "jobs" -> ls.jobsIn(g).size, "tasks" -> c.tasks,
        "shuffle_bytes" -> c.shuffleWrite, "input_bytes" -> c.inBytes,
        "executor_cpu_s" -> c.cpuNs / 1e9)
    }
    val dir = Paths.get(traceDir)
    Files.createDirectories(dir)
    val spansFile = dir.resolve(s"$runId.json")
    Files.write(spansFile, tr.toJson.getBytes("UTF-8"))

    Result(
      engine ++ pipeline ++ layerMetrics ++ Map(
        "trace.wall_s" -> wall,
        "trace.self_sum_s" -> selfSum,
        "trace.overhead_frac" -> overhead),
      Map("untraced_docs_per_s" -> untracedDps,
        "traced_docs_per_s" -> tracedDps,
        "self_time_tolerance" -> BenchMain.SelfTimeTolerance,
        "pipeline_job_classes" ->
          classified.groupBy(_._2).map { case (c, js) => c -> js.size },
        "layers" -> layerTable, "spans_file" -> spansFile.toString),
      problems.toSeq ++ (
        if (math.abs(selfSum - wall) <= BenchMain.SelfTimeTolerance * wall) Nil
        else Seq(s"span self times sum to $selfSum s, traced wall $wall s")))
  }
}

package graft.perf

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One interval of the benchmark's own code around a call into a layer.
  * `parent` is the enclosing span's id (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. With a SparkContext attached (the traced run)
  * every span is also made the thread's Spark job group, so
  * [[LayerListener]] can key each job's task metrics to the span that
  * caused it. Without one (the untraced run) `span` only runs its body. */
final class Tracer(val runId: String, sc: Option[SparkContext]) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def enabled: Boolean = sc.isDefined

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(recorded.size, name, open.headOption.fold(-1)(_.id),
        System.nanoTime())
      recorded += s
      open = s :: open
      sc.foreach(_.setJobGroup(s.id.toString, name))
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.foreach { c =>
          open.headOption match {
            case Some(p) => c.setJobGroup(p.id.toString, p.name)
            case None => c.clearJobGroup()
          }
        }
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** Span id → the ids of the span and every span nested inside it. */
  def subtree(id: Int): Set[Int] = {
    val kids = recorded.groupBy(_.parent)
    def go(i: Int): Set[Int] =
      kids.getOrElse(i, Nil).map(_.id).foldLeft(Set(i))(_ ++ go(_))
    go(id)
  }

  /** Self time of every span: its duration minus the time its direct
    * children cover. Spans are opened and closed by one thread, so
    * children never overlap each other and lie inside their parent. */
  def selfSeconds: Map[Int, Double] = {
    val childSum = recorded.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum
    }
    recorded.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0)))
      .toMap
  }

  def toJson: String = Json.arr(recorded.toSeq.map { s =>
    Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  })
}

object Tracer {
  /** The untraced run's tracer: spans only run their bodies. */
  val Off: Tracer = new Tracer("off", None)
}

/** A Spark job as the listener saw it: its job group (the span id), SQL
  * execution and wall-clock bounds. */
final case class Job(id: Int, group: String, execId: Long, startMs: Long,
    var endMs: Long = 0L)

/** Job, stage and task metrics, keyed by the job group (the span id) that
  * was current when each job was submitted. Attached only in the traced
  * run. */
final class LayerListener extends SparkListener {

  final class Totals {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var runMs = 0L
    var inBytes = 0L
    var inRows = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Totals]
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val stageDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val plans = mutable.Map.empty[Long, String]
  private val rootOf = mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, group, exec, e.time)
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val group = stageGroup.getOrElse(e.stageId, "")
    val info = e.taskInfo
    intervals.getOrElseUpdate(group, mutable.ArrayBuffer.empty) +=
      (info.launchTime -> info.finishTime)
    stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      info.duration
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(group, new Totals)
      t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.runMs += m.executorRunTime
        t.inBytes += m.inputMetrics.bytesRead
        t.inRows += m.inputMetrics.recordsRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans(s.executionId) = s.physicalPlanDescription
      s.rootExecutionId.foreach(r => rootOf(s.executionId) = r)
    }
    case _ =>
  }

  /** All jobs whose group is one of `groups`, in submission order. */
  def jobsIn(groups: Set[String]): Seq[Job] = synchronized {
    jobs.values.filter(j => groups(j.group)).toSeq
  }

  /** The plan text of a job's SQL execution and of its root execution
    * ("" for jobs outside SQL, such as RDD checkpoints). */
  def planOf(j: Job): String = synchronized {
    val root = rootOf.get(j.execId).filter(_ != j.execId)
    (Seq(j.execId) ++ root).flatMap(plans.get).mkString("\n")
  }

  def sum(groups: Set[String]): Totals = synchronized {
    val out = new Totals
    groups.flatMap(totals.get).foreach { t =>
      out.tasks += t.tasks; out.cpuNs += t.cpuNs; out.gcMs += t.gcMs
      out.runMs += t.runMs; out.inBytes += t.inBytes; out.inRows += t.inRows
      out.shuffleWrite += t.shuffleWrite; out.spill += t.spill
    }
    out
  }

  /** Milliseconds during which at least one task of `groups` ran. */
  def busyMs(groups: Set[String]): Long = synchronized {
    val iv = groups.toSeq.flatMap(g => intervals.getOrElse(g, Nil))
      .sortBy(_._1)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) busy += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) busy += curE - curS
    busy
  }

  /** Max over the stages of `groups`' jobs of (max task time / median
    * task time); stages with a single task are skipped. */
  def taskSkew(groups: Set[String]): Double = synchronized {
    val stages = stageGroup.collect { case (s, g) if groups(g) => s }
    val ratios = stages.flatMap(stageDurations.get).filter(_.size >= 2).map {
      ds =>
        val sorted = ds.sorted
        val med = Stats.median(sorted.map(_.toDouble).toSeq)
        if (med <= 0) 1.0 else sorted.last / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

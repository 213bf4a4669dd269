package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

import graft.tools.TempDirs

/** One shared local SparkSession for the whole forked test JVM. The
  * per-process query staging dir ([[SparkEntry.StageDir]]) is deleted when
  * the JVM exits: unlike `graft.Verify` and `graft.Bench`, whose emitted
  * oracle SQL reads it after their JVM is gone, nothing reads it after
  * the specs. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      TempDirs.deleteRecursively(SparkEntry.StageDir)))
    s
  }

  /** Runs `f` with the session confs set to `confs`, then restores them. */
  def withConfs[T](confs: Seq[(String, String)])(f: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. */
  def countingJobs[T](body: => T): (T, Int) = {
    val (out, jobs) = recordingJobs(body)
    (out, jobs.size)
  }

  /** Runs `body` and returns its result with the start events of the
    * Spark jobs it started. A marker job posted afterwards proves every
    * earlier job event reached the listener (the listener bus is FIFO). */
  def recordingJobs[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val marker = "graft.spec.marker"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null)
          drained.countDown()
        else jobs.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Whether `job` is a parquet schema-inference read: a footer job run
    * outside any SQL execution. */
  def isSchemaInference(job: SparkListenerJobStart): Boolean =
    (job.properties == null ||
      job.properties.getProperty(SQLExecution.EXECUTION_ID_KEY) == null) &&
      job.stageInfos.exists(_.name.startsWith("parquet at"))
}

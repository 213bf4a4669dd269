package graft

import org.apache.spark.sql.SparkSession

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
}

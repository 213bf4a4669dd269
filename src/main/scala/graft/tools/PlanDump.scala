package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry

/** Dumps `.explain("formatted")` for every declared query (or the subset
  * named in `SPARK_GRAFT_PLAN_QUERIES`, comma-separated) to
  * `SPARK_GRAFT_PLAN_DIR` (default `plans/r08`) as `<query>_<tag>.txt`
  * with `SPARK_GRAFT_PLAN_TAG` (default `before`).
  *
  * Measurement harness only — never on a query path, and kept out of
  * graft.Bench so plan capture never perturbs the timed passes (guide
  * §1: capture the plan shape — Exchange count, join strategy,
  * PushedFilters — for every query before and after a change).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/root/repo/plans/r08")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val only = sys.env.get("SPARK_GRAFT_PLAN_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        spark.sparkContext.setJobDescription(s"plandump: $name")
        val text =
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          } catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), text)
        println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
      }
    }
    spark.stop()
  }
}

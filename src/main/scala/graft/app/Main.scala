package graft.app

import org.apache.spark.sql.SparkSession

import graft.core.Article
import graft.ner.AliasTrieScorer
import graft.pipeline.KgPipeline

/** Production entrypoint — the spark-submit driver of the north rule.
  *
  * {{{
  * spark-submit \
  *   --class graft.app.Main \
  *   --conf spark.sql.extensions=graft.GraftExtensions \
  *   --conf spark.sql.adaptive.enabled=true \
  *   newsagencyclassificationspark.jar \
  *   --input  <web-pages table path (url, warc_ts, html, text, lang, tp)> \
  *   --output <graph output root> \
  *   [--buckets 256] [--synth N]
  * }}}
  *
  * The run is resumable: re-submitting with the same `--output` skips
  * buckets recorded in `<output>/_manifest` (per-partition lineage +
  * mention/triple counts). `--synth N` generates the deterministic
  * benchmark corpus instead of reading `--input` (smoke/perf runs).
  * Arguments are checked before any Spark session starts: an unknown flag
  * or a malformed number fails there, not inside an executor.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val builder = SparkSession.builder()
      .appName("graft-kg-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects spark.master; fall back to local[*] when run
    // directly (sbt runMain smoke tests)
    val spark =
      (if (sys.props.contains("spark.master")) builder
       else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val articles =
      opts.get("synth") match {
        case Some(n) => graft.synth.Synth.articles(spark, n.toLong, 42L,
          spark.sparkContext.defaultParallelism * 4)
        case None => spark.read.parquet(opts("input")).as[Article]
      }
    val buckets = opts.getOrElse("buckets", "256").toInt
    val out = opts("output")

    val stats = KgPipeline.runResumable(articles, out, buckets, new AliasTrieScorer)
    val done = KgPipeline.manifest(spark, out)
    println(s"[graft] processed ${stats.length} buckets this run; manifest:")
    done.orderBy("bucket").show(buckets, truncate = false)
    spark.stop()
  }

  private val Flags = Set("input", "output", "buckets", "synth")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case flag if flag.startsWith("--") && !Flags(flag.drop(2)) =>
          throw new IllegalArgumentException(
            s"unknown flag: $flag (known: ${Flags.toSeq.sorted.map("--" + _).mkString(", ")})")
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          m += flag.drop(2) -> args(i + 1); i += 2
        case other =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    require(m.contains("output"), "--output is required")
    require(m.contains("input") || m.contains("synth"),
      "--input <path> or --synth <n> is required")
    require(m.get("buckets").forall(_.toIntOption.exists(_ > 0)),
      s"--buckets must be a positive integer, got ${m("buckets")}")
    require(m.get("synth").forall(_.toLongOption.exists(_ > 0)),
      s"--synth must be a positive integer, got ${m("synth")}")
    m.toMap
  }
}

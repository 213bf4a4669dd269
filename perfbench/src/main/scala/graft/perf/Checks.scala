package graft.perf

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks of the benchmark. None of them is timed; every problem
  * they report makes its operation a failed one. */
object Checks {

  // ---- knowledge graph --------------------------------------------------

  /** Layout-invariant digest of a `KgPipeline.runResumable` output root:
    * SHA-256 over the mentions sorted by `id` (the `bucket` directory
    * column dropped) followed by the DISTINCT triples, sorted. Triples are
    * deduplicated because an alias triple is distinct only within its
    * bucket, so the written rows depend on the bucket count while the
    * graph does not. */
  def kgDigest(spark: SparkSession, out: String): String = {
    val mentions = spark.read.parquet(s"$out/mentions").drop("bucket")
    val cols = mentions.columns.sorted
    val triples = spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj").distinct()
    val md = MessageDigest.getInstance("SHA-256")
    def feed(df: DataFrame, order: Seq[String]): Unit =
      df.select(order.map(col): _*).orderBy(order.map(col): _*)
        .collect().foreach { r =>
          md.update(r.mkString("\u0001").getBytes("UTF-8"))
          md.update('\n'.toByte)
        }
    feed(mentions, "id" +: cols.filterNot(_ == "id").toSeq)
    md.update("--triples--".getBytes("UTF-8"))
    feed(triples, Seq("subj", "pred", "obj"))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Manifest bookkeeping of one KG output root against its input:
    * one manifest row per bucket, Σ `n_articles` = input rows, and the
    * written mention and triple rows equal the manifest's own sums. */
  def kgProblems(spark: SparkSession, out: String, inputArticles: Long,
      buckets: Int): Seq[String] = {
    val m = spark.read.parquet(s"$out/_manifest")
    val r = m.agg(count(lit(1)), countDistinct(col("bucket")),
      sum(col("n_articles")), sum(col("n_mentions")), sum(col("n_triples")))
      .head()
    val mentions = spark.read.parquet(s"$out/mentions").count()
    val triples = spark.read.parquet(s"$out/triples").count()
    Seq(
      (r.getLong(0) == buckets && r.getLong(1) == buckets) ->
        s"manifest has ${r.getLong(0)} rows over ${r.getLong(1)} buckets, expected $buckets",
      (r.getLong(2) == inputArticles) ->
        s"manifest n_articles sums to ${r.getLong(2)}, input has $inputArticles rows",
      (r.getLong(3) == mentions) ->
        s"manifest n_mentions sums to ${r.getLong(3)}, $mentions mention rows written",
      (r.getLong(4) == triples) ->
        s"manifest n_triples sums to ${r.getLong(4)}, $triples triple rows written"
    ).collect { case (false, msg) => s"$out: $msg" }
  }

  // ---- cleaning chain ---------------------------------------------------

  /** The planted arithmetic of `CleaningBench.textOf` over docs `0 until
    * n` (groups of 20: r=17 and r=19 exact copies, r=18 a near copy, and
    * r=3 of every 500th group donating a benchmark excerpt). */
  final case class Planted(n: Long) {
    require(n % 20 == 0, s"corpus size $n is not a whole number of groups")
    val groups: Long = n / 20
    val flagged: Long = (groups + 499) / 500
    val exactDrops: Long = 2 * groups
    val nearDrops: Long = groups
    val survivors: Long = 17 * groups - flagged

    def isDrop(id: Long): Boolean = {
      val r = id % 20
      r >= 17 || (r == 3 && (id / 20) % 500 == 0)
    }
  }

  /** Per-stage manifest rows of a resumable chain and its survivor ids
    * against the planted arithmetic; survivors must be distinct and be
    * exactly the ids the plant keeps. */
  def cleanProblems(spark: SparkSession, stageDir: String,
      survivors: DataFrame, p: Planted): Seq[String] = {
    val rows = spark.read.parquet(s"$stageDir/_manifest")
      .select(col("stage"), col("rows")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = Map(0 -> p.n, 1 -> p.flagged, 2 -> p.exactDrops,
      3 -> p.nearDrops)
    val stageProblems = expected.toSeq.sorted.collect {
      case (s, want) if !rows.get(s).contains(want) =>
        s"stage $s rows ${rows.get(s).fold("missing")(_.toString)}, planted $want"
    } ++ (if (rows.contains(4)) Nil else Seq("stage 4 (store append) missing"))
    val ids = survivors.select(col("doc_id").cast("long")).collect()
      .map(_.getLong(0))
    val distinct = ids.toSet
    val wrong = distinct.count(i => i < 0 || i >= p.n || p.isDrop(i))
    val survivorProblems = Seq(
      (ids.length == p.survivors) ->
        s"${ids.length} survivors, planted ${p.survivors}",
      (distinct.size == ids.length) ->
        s"${ids.length - distinct.size} duplicate survivors",
      (wrong == 0) -> s"$wrong survivors are planted drops or unknown ids"
    ).collect { case (false, msg) => msg }
    (stageProblems ++ survivorProblems).map(m => s"$stageDir: $m")
  }

  /** F1 of a drop decision against the planted drop set. */
  def dropF1(dropped: Set[Long], planted: Set[Long]): Double = {
    val tp = dropped.intersect(planted).size.toDouble
    val p = if (dropped.isEmpty) 1.0 else tp / dropped.size
    val r = if (planted.isEmpty) 1.0 else tp / planted.size
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }

  /** Rows of a signature store's shingle table (one per stored doc). */
  def storeRows(spark: SparkSession, store: String): Long =
    spark.read.parquet(s"$store/shingles").count()
}

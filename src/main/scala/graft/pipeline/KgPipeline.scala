package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.core.{Article, Mention, Triple}
import graft.graph.GraphMaterialize
import graft.link.Linker
import graft.ner.{AliasTrieScorer, NerStage, TokenScorer}

/** End-to-end KG construction: articles → mentions → triples.
  *
  * The Spark shape of the reference's production run (SURVEY §3.1):
  * {{{
  * articles                                  // pruned scan
  *   .where(lang ∈ {fr,de} && tp ∈ {ar,page})// pushed predicates (F1,F2)
  *   .repartition(N, xxhash64(url))          // north-rule partitioning
  *   .mapPartitions(ner)                     // M1-M10, executor singleton
  *   → relink (L1, Catalyst map probe)
  *   → triples / yearly edges (A4) writes    // partitioned parquet
  * }}}
  *
  * Checkpoint-resume (north rule; the reference restarts per prefix dir,
  * `cli_tagger.py:250-259`): articles are bucketed by `pmod(xxhash64(url),
  * buckets)`; each bucket writes to its own output partition directory and
  * a manifest row `(bucket, n_articles, n_mentions, n_triples, wall_ms)`.
  * On restart, buckets already present in the manifest are skipped — a
  * resumed run never recomputes finished work and per-partition lineage is
  * queryable from the `_manifest` table.
  *
  * A bucket commits with two Spark jobs — the mentions write and the
  * triples write — and no other: its input is scanned once, NER runs once,
  * the manifest counts are observed on the write jobs (`Dataset.observe`),
  * not counted by re-scans or read-backs, and the manifest row is a
  * one-row parquet file written on the driver ([[ManifestRecord]]). A
  * bucket with at most [[OneTaskTriplesMaxRows]] mentions builds its
  * triples in one task with no exchange. A bucket with no article,
  * mention or triple commits a manifest row of zeros. Every path is
  * resolved through the Hadoop `FileSystem` API.
  */
object KgPipeline {

  final case class BucketStat(
      bucket: Int,
      n_articles: Long,
      n_mentions: Long,
      n_triples: Long,
      wall_ms: Long
  )

  /** One-shot in-memory run (no checkpointing) — used by queries/bench. */
  def mentions(
      articles: Dataset[Article],
      scorer: TokenScorer = new AliasTrieScorer,
      numPartitions: Int = -1
  ): Dataset[Mention] =
    NerStage.detect(articles, scorer, numPartitions)

  def triples(
      articles: Dataset[Article],
      scorer: TokenScorer = new AliasTrieScorer,
      numPartitions: Int = -1
  ): Dataset[Triple] =
    GraphMaterialize.triples(mentions(articles, scorer, numPartitions))

  /** Resumable materialization to `outDir` with per-bucket manifest.
    * Returns stats of the buckets processed in THIS invocation. */
  def runResumable(
      articles: Dataset[Article],
      outDir: String,
      buckets: Int = 8,
      scorer: TokenScorer = new AliasTrieScorer
  ): Seq[BucketStat] =
    runResumable(articles, outDir, buckets, scorer, OneTaskTriplesMaxRows)

  /** Maximum mention rows of a bucket whose triples are built in ONE task
    * with no exchange. The count is the one the bucket's mentions write
    * observed, never an estimate. The triples' `distinct` runs over at
    * most twice as many exploded rows; on 4 cores one task and the
    * exchange path took about the same time at 100k mention rows (0.4–0.5
    * s), the one task was ahead at 20k and the exchange twice as fast at
    * 300k. Half the break-even keeps the one task well under a second and
    * leaves larger buckets to the exchange, which spreads them over the
    * session's cores. */
  private[graft] val OneTaskTriplesMaxRows = 50000L

  /** [[runResumable]] with the one-task triples limit as an argument — the
    * seam that lets specs place a bucket on either side of the gate. */
  private[graft] def runResumable(
      articles: Dataset[Article],
      outDir: String,
      buckets: Int,
      scorer: TokenScorer,
      oneTaskTriplesMaxRows: Long
  ): Seq[BucketStat] = {
    val spark = articles.sparkSession
    import spark.implicits._
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    val manifestDir = s"$outDir/_manifest"
    val done: Set[Int] =
      if (fs.exists(new Path(manifestDir)))
        manifest(spark, outDir).select("bucket").as[Int].collect().toSet
      else Set.empty

    // If the input already carries a `bucket` partition column (bucketed
    // table layout), filtering on it prunes to that bucket's files and the
    // per-bucket loop reads each input byte exactly once overall. On
    // unbucketed input we STAGE the bucket assignment once — one full
    // input pass writing parquet partitioned by `_bucket` — and loop over
    // the staged table with partition pruning. Without staging, the loop
    // would rescan the whole corpus once per bucket (B passes: a 256-bucket
    // recovery run over raw 100 TB input would read 25.6 PB).
    //
    // staging completeness is gated on the _SUCCESS marker, not bare
    // directory existence — a run that died mid-staging-write leaves a
    // partial directory which must be rewritten, never trusted (silently
    // processing it would drop every unstaged article).
    // CONTRACT: staging binds the run to the FIRST input it staged. A
    // completed staging in outDir is reused as-is; re-invoking
    // runResumable into the same outDir with different/extra input
    // articles processes the staged corpus, not the new one. A new input
    // needs a new outDir (validating input-vs-staging equality would cost
    // a full second pass over the raw corpus — exactly what staging exists
    // to avoid).
    //
    // `checkBuckets`: only a bucket column this call did not compute can
    // carry a bucket ≥ `buckets` — the input's own, or a staging written
    // by an earlier run, which is also read with its own (inferred)
    // schema. A staging this call writes is read back with the schema of
    // its write, so no schema-inference job runs.
    val stagingDir = s"$outDir/_staging"
    val (bucketed, checkBuckets) =
      if (articles.columns.contains("bucket"))
        (articles.toDF().withColumnRenamed("bucket", "_bucket"), true)
      else if (fs.exists(new Path(s"$stagingDir/_SUCCESS")))
        (spark.read.parquet(stagingDir), true)
      else {
        articles.toDF()
          .withColumn("_bucket",
            pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("_bucket")
          .parquet(stagingDir)
        (spark.read.schema(articles.schema.add("_bucket", IntegerType))
          .parquet(stagingDir), false)
      }

    // the authoritative bucket count is what the data says, not the
    // caller's argument: resuming with a smaller `buckets` than the run
    // that staged/started would silently never process the tail buckets
    if (checkBuckets) {
      val staged = bucketed.select(max(col("_bucket"))).head()
      val maxSeen = if (staged.isNullAt(0)) -1 else staged.getInt(0)
      require(maxSeen < buckets,
        s"input carries buckets up to $maxSeen but runResumable was called " +
          s"with buckets=$buckets — those buckets would silently never be " +
          "processed; resume with the original bucket count")
    }

    val mentionSchema = Encoders.product[Mention].schema
    (0 until buckets).filterNot(done).map { b =>
      val t0 = System.nanoTime()
      val mentionsDir = s"$outDir/mentions/bucket=$b"
      val (ms, articlesIn) = bucketMentions(bucketed, b, scorer)
      val (msOut, mentionsOut) = observedRows(ms.toDF(), s"bucket $b mentions")
      msOut.write.mode(SaveMode.Overwrite).parquet(mentionsDir)
      // triples come from the bucket's just-written mentions, read with
      // the known schema so no schema-inference job runs. Read as ONE
      // partition when the write counted few enough rows, the distinct
      // needs no exchange: one job instead of a shuffle-map and a result
      // job.
      val nMentions = mentionsOut()
      val written = spark.read.schema(mentionSchema).parquet(mentionsDir).as[Mention]
      val (ts, triplesOut) = observedRows(GraphMaterialize.triples(
          if (nMentions <= oneTaskTriplesMaxRows) written.coalesce(1) else written)
        .toDF(), s"bucket $b triples")
      ts.write.mode(SaveMode.Overwrite)
        .partitionBy("pred")
        .parquet(s"$outDir/triples/bucket=$b")
      val stat = BucketStat(b, articlesIn(), nMentions, triplesOut(),
        (System.nanoTime() - t0) / 1000000)
      ManifestRecord.append(spark, manifestDir, stat)
      stat
    }
  }

  /** The plan of one bucket's mentions: the bucket's rows of the staged
    * table (partition-pruned on `_bucket`), counted BEFORE the NER gate —
    * `n_articles` is the bucket's input rows, not the gated ones — then
    * NER. Builds a plan and runs no job; the returned count is read after
    * the plan's write. */
  private[graft] def bucketMentions(
      bucketed: DataFrame,
      b: Int,
      scorer: TokenScorer
  ): (Dataset[Mention], () => Long) = {
    import bucketed.sparkSession.implicits._
    val (part, articlesIn) = observedRows(
      bucketed.where(col("_bucket") === b).drop("_bucket"), s"bucket $b articles")
    (NerStage.detect(part.as[Article], scorer), articlesIn)
  }

  /** `df` with a row count observed on whatever job runs it; the returned
    * function reads the count after that job (0 for an empty input).
    * Shared with [[graft.ops.CleaningPipeline]]'s per-stage manifest. */
  private[graft] def observedRows(df: DataFrame, name: String): (DataFrame, () => Long) = {
    val obs = Observation(name)
    (df.observe(obs, count(lit(1)).as("rows")),
      () => obs.get("rows").asInstanceOf[Long])
  }

  /** Per-partition lineage/metrics view over the manifest (north rule:
    * "per-partition lineage + metrics"). */
  def manifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(Encoders.product[BucketStat].schema)
      .parquet(s"$outDir/_manifest")
}

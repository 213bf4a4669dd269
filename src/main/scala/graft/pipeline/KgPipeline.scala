package graft.pipeline

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

import graft.core.{Article, Mention, Triple}
import graft.graph.GraphMaterialize
import graft.io.WriteFs
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
  * A small bucket commits with ONE Spark job, its mentions write, and no
  * other: its input is scanned once, NER runs once, and the write's
  * `Dataset.observe` carries the manifest counts and the bucket's
  * distinct triples, bounded at [[TripleCap]] for the write's tasks
  * together ([[GraphMaterialize.boundedTripleSet]]). The driver writes
  * those triples, one parquet file per `pred`, and the manifest row, a
  * one-row parquet file, both through [[ManifestRecord]]. A bucket one of
  * whose write tasks sees more distinct triples than its even share of
  * the cap observes NULL instead, and builds its triples from its written
  * mentions with an exchange, in a second job.
  * A bucket with no article, mention or triple commits a manifest row of
  * zeros. Every path is resolved through the Hadoop `FileSystem` API,
  * and every filesystem and writer comes from [[graft.io.WriteFs]]: on
  * `file:` no file or directory of a commit forks a `chmod` process.
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
    runResumable(articles, outDir, buckets, scorer, TripleCap)

  /** Most distinct triples a bucket's mentions write observes for the
    * driver to write, all its tasks together: each task keeps at most its
    * even share, and one past it makes the observation NULL, sending the
    * bucket's triples down the exchange path. So the cap also bounds what
    * the write's task results ship to the driver and what the driver
    * merges. On 4 cores, observing the set and writing it on the driver
    * took about as long as the read-back and exchange at 150k distinct
    * triples (1.0–1.3 s, with one or four write tasks); the driver path
    * was ahead by 0.3–0.7 s at 15k and by 0.04–0.16 s at 75k, and the
    * exchange 1.5× faster at 300k. Half the break-even keeps the driver
    * path clearly ahead and leaves larger buckets to the exchange, which
    * spreads them over the session's cores. */
  private[graft] val TripleCap = 75000

  /** [[runResumable]] with the triples cap as an argument — the seam that
    * lets specs place a bucket on either side of the gate. */
  private[graft] def runResumable(
      articles: Dataset[Article],
      outDir: String,
      buckets: Int,
      scorer: TokenScorer,
      tripleCap: Int
  ): Seq[BucketStat] = {
    val spark = articles.sparkSession
    import spark.implicits._
    val fs = WriteFs.of(spark, new Path(outDir))

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
    // to avoid). The staging is read with the schema of its write, so no
    // schema-inference job runs.
    //
    // The authoritative bucket count is what the data says, not the
    // caller's argument: resuming with a smaller `buckets` than the run
    // that staged/started would silently never process the tail buckets.
    // A staging's buckets are its `_bucket=N` directory names; only an
    // input's own bucket column costs a job to read.
    val stagingDir = new Path(s"$outDir/_staging")
    val (bucketed, maxSeen) =
      if (articles.columns.contains("bucket")) {
        val in = articles.toDF().withColumnRenamed("bucket", "_bucket")
        val top = in.select(max(col("_bucket"))).head()
        (in, if (top.isNullAt(0)) -1 else top.getInt(0))
      } else {
        if (!fs.exists(new Path(stagingDir, "_SUCCESS")))
          WriteFs.write(articles.toDF()
            .withColumn("_bucket",
              pmod(xxhash64(col("url")), lit(buckets)).cast("int")))
            .mode(SaveMode.Overwrite)
            .partitionBy("_bucket")
            .parquet(stagingDir.toString)
        val StagedBucket = "_bucket=(\\d+)".r
        (spark.read.schema(articles.schema.add("_bucket", IntegerType))
          .parquet(stagingDir.toString),
          fs.listStatus(stagingDir).map(_.getPath.getName)
            .collect { case StagedBucket(n) => n.toInt }.maxOption.getOrElse(-1))
      }
    require(maxSeen < buckets,
      s"input carries buckets up to $maxSeen but runResumable was called " +
        s"with buckets=$buckets — those buckets would silently never be " +
        "processed; resume with the original bucket count")

    val mentionSchema = Encoders.product[Mention].schema
    (0 until buckets).filterNot(done).map { b =>
      val t0 = System.nanoTime()
      val mentionsDir = s"$outDir/mentions/bucket=$b"
      val triplesDir = new Path(s"$outDir/triples/bucket=$b")
      val (ms, articlesIn) = bucketMentions(bucketed, b, scorer)
      val obs = Observation(s"bucket $b mentions")
      WriteFs.write(ms.toDF()
        .observe(obs, count(lit(1)).as("rows"),
          GraphMaterialize.boundedTripleSet(tripleCap).as("triples")))
        .mode(SaveMode.Overwrite).parquet(mentionsDir)
      val nTriples = obs.get("triples") match {
        case observed: collection.Seq[Row @unchecked] =>
          writeTriples(spark, fs, triplesDir, observed)
          observed.size.toLong
        case null =>
          // too many triples for the driver: build them from the just-
          // written mentions, read with the known schema so no
          // schema-inference job runs
          val (ts, triplesOut) = observedRows(GraphMaterialize.triples(
              spark.read.schema(mentionSchema).parquet(mentionsDir).as[Mention])
            .toDF(), s"bucket $b triples")
          WriteFs.write(ts).mode(SaveMode.Overwrite)
            .partitionBy("pred")
            .parquet(triplesDir.toString)
          triplesOut()
      }
      val stat = BucketStat(b, articlesIn(), obs.get("rows").asInstanceOf[Long],
        nTriples, (System.nanoTime() - t0) / 1000000)
      ManifestRecord.append(spark, manifestDir, stat)
      stat
    }
  }

  /** Replaces `dir` with the `(subj, pred, obj)` rows of `triples`, laid
    * out as `write.partitionBy("pred")` lays them out: one parquet file of
    * `(subj, obj)` per `pred` value under `pred=<value>`. With no triple
    * the directory stays, empty, as Spark's write of an empty frame
    * leaves it. */
  private def writeTriples(spark: SparkSession, fs: FileSystem, dir: Path,
      triples: collection.Seq[Row]): Unit = {
    fs.delete(dir, true)
    fs.mkdirs(dir)
    triples.groupBy(_.getString(1)).foreach { case (pred, rows) =>
      ManifestRecord.writeParquet(spark,
        new Path(new Path(dir, ExternalCatalogUtils.getPartitionPathString("pred", pred)),
          s"part-${UUID.randomUUID()}.parquet"),
        TriplesFileSchema,
        rows.map(r => Row(r.getString(0), r.getString(2))))
    }
  }

  /** The columns of a triples file: [[Triple]] without its `pred`
    * partition column, all nullable, as Spark writes them. */
  private val TriplesFileSchema =
    new StructType().add("subj", StringType).add("obj", StringType)

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

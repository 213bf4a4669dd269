package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.{Article, Mention}
import graft.io.WriteFs
import graft.ner.{NerStage, TokenScorer}
import graft.ops.{Dedup, SignatureStore}

/** Structured-Streaming front-end for the KG pipeline.
  *
  * The reference is a resumable BATCH pipeline (SURVEY §2.12 — no
  * watermarks or stateful operators exist in it), and batch + the
  * checkpoint-resume manifest remains the engine's primary mode. This
  * module exists for continuous-ingest deployments: the same gate + NER
  * stage run unchanged over a file-source stream (stateless narrow
  * transforms are identical in batch and streaming), with Spark's
  * checkpointLocation giving exactly-once file-source progress — the
  * streaming analog of the per-bucket manifest.
  */
object StreamingKg {

  val ArticleSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("tp", StringType)
  ))

  /** Streaming mention extraction over a parquet-directory source. */
  def mentionStream(
      spark: SparkSession,
      inputDir: String,
      scorer: TokenScorer
  ): Dataset[Mention] = {
    import spark.implicits._
    val articles = spark.readStream
      .schema(ArticleSchema)
      .parquet(inputDir)
      .as[Article]
    NerStage.detect(articles, scorer) // gate + mapPartitions, stateless
  }

  /** Per-minute mention counts by agency with event-time watermarking —
    * the streaming form of the yearly-edge aggregation (A4).
    *
    * Event time is the WARC fetch timestamp, not the historical
    * publication date: Spark's global watermark starts at the epoch and
    * only ratchets forward, so pre-1970 event times (the reference corpus
    * starts in 1840) would never advance it and append-mode windows would
    * never close. Ingest/fetch time is the correct event-time axis for a
    * crawl stream anyway; publication-date analytics stay in the batch
    * layer's year/decade group-bys. */
  def mentionRates(mentions: Dataset[Mention], articleTs: DataFrame): DataFrame =
    mentions.toDF()
      .join(articleTs, "url") // (url, warc_ts) dimension from the batch side
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "1 minute"), col("name"))
      .agg(count(lit(1)).as("n_mentions"))

  /** One deduped document row, from the stateful streaming dedup. */
  final case class DedupedDoc(
      text_hash: String,
      doc_id: Long,
      n_dups_seen: Long
  )

  /** Stateful streaming exact-dedup via `flatMapGroupsWithState` — the
    * custom-state operator of §2.12: keyed by content hash, per-key state
    * is (first doc_id, duplicate count); only the FIRST occurrence of a
    * text is emitted downstream (first-seen-wins, the streaming form of
    * `Dedup.exactDedup`), while the state keeps counting suppressed
    * duplicates for lineage.
    *
    * Scale shape: state is one tiny row per distinct content hash,
    * partitioned by the hash (uniform by construction); with an upstream
    * `withWatermark` the caller can switch the timeout to event-time to
    * bound state on unbounded corpora. Built-in `dropDuplicates` could
    * dedup, but cannot carry the running duplicate counter — that is what
    * the custom state buys.
    */
  def dedupStream(docs: DataFrame): Dataset[DedupedDoc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(md5(col("text").cast("binary")).as("text_hash"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (hash: String, rows: Iterator[(String, Long)],
            state: GroupState[(Long, Long)]) => {
          val batch = rows.map(_._2).toSeq.sorted
          if (state.exists) {
            val (firstId, nDups) = state.get
            state.update((firstId, nDups + batch.size))
            Iterator.empty
          } else {
            val firstId = batch.head
            state.update((firstId, batch.size - 1L))
            Iterator.single(DedupedDoc(hash, firstId, batch.size - 1L))
          }
        })
  }

  /** Streaming NEAR-dup dedup through the persisted signature store —
    * the production incremental loop as a continuous query: each
    * micro-batch (1) probes the store
    * ([[graft.ops.SignatureStore.probeWithSignatures]] — partition-pruned
    * reads, no corpus rescan), (2) drops the non-representatives of each
    * near-dup cluster (connected components over the verified pairs, keep
    * min id — [[graft.ops.Dedup.clustersFromPairs]]; stored docs are
    * never dropped), (3) writes the SURVIVORS to `outDir/batch=<id>` and
    * appends their ALREADY-COMPUTED signatures to the store, so later
    * micro-batches dedup against them.
    *
    * `foreachBatch` is the right operator here: the probe is a batch
    * join against an external indexed table — a streaming stateful op
    * would have to hold the whole signature store in executor state.
    *
    * Retry safety (foreachBatch is at-least-once): each epoch's commit
    * record is the store append's own `commitTag`, `<query id>#<batch
    * id>` ([[graft.ops.SignatureStore.appendSignatures]]), committed in
    * the same rename as the appended rows. The query id is the one Spark
    * keeps in the checkpoint: the same across restarts from one
    * checkpoint and new for a new checkpoint, so a second query over the
    * same store never mistakes its own epochs for the first query's. An
    * epoch first replays any interrupted commit
    * ([[graft.ops.SignatureStore.recover]]), then returns at once if the
    * store's last commit carries its tag; otherwise it probes and appends
    * strictly (a committed epoch never reaches the probe, so the store's
    * monotone-id check needs no replay window). Survivors go to a
    * PER-BATCH subdir in overwrite mode, so a retry rewrites instead of
    * duplicating. An epoch whose batch leaves no survivors commits
    * nothing; its retry re-runs it against the same store and writes the
    * same (empty) result.
    *
    * Semantics note: this is INCREMENTAL keep-first dedup — within one
    * micro-batch the drop set equals the batch CC transform's, but a doc
    * dropped in an earlier batch is not in the store, so a later doc
    * similar ONLY to that dropped doc survives. That is the standard
    * (and intended) contract of incremental dedup: the store holds
    * exactly the retained corpus. Batch doc_ids must be globally unique
    * and larger than stored ids (monotone ingest numbering) — the store
    * ENFORCES this against its persisted max-ingested-id watermark and
    * fails the batch loudly on violation, because a smaller batch id
    * would silently make a stored near-dup the non-representative and
    * retain both documents.
    *
    * `compactEvery`: run a threshold-gated store compaction
    * ([[graft.ops.SignatureStore.compact]] with `maxFilesPerPartition`)
    * every that-many micro-batches — the maintenance cadence that keeps
    * the store's file count bounded over an unbounded append loop (each
    * batch adds one file per touched partition; probe listing cost grows
    * with file count, not data size). 0 disables. Compaction runs AFTER
    * the epoch's commit: a crash inside it leaves a journal the next
    * epoch's entry recover() replays; a crash before it defers the
    * compaction to the next cadence, because the retried epoch returns at
    * its tag. */
  def nearDupDedupStream(
      docs: DataFrame,
      storePath: String,
      outDir: String,
      checkpointDir: String,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      compactEvery: Int = 0,
      maxFilesPerPartition: Int = 4
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val queryId = batch.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.queryId")
        nearDupDedupEpoch(batch, queryId, batchId, storePath, outDir,
          maxBucket, minJaccard, compactEvery, maxFilesPerPartition)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One epoch of [[nearDupDedupStream]], committed under the store tag
    * `<queryId>#<batchId>`. */
  private[graft] def nearDupDedupEpoch(
      batch: DataFrame,
      queryId: String,
      batchId: Long,
      storePath: String,
      outDir: String,
      maxBucket: Int,
      minJaccard: Double,
      compactEvery: Int,
      maxFilesPerPartition: Int
  ): Unit = {
    val spark = batch.sparkSession
    val tag = s"$queryId#$batchId"
    // a crash INSIDE a previous commit window leaves a journal (and
    // possibly no metadata): replay it first, so the tag check below
    // reads the completed commit. No-op on a healthy store.
    SignatureStore.recover(spark, storePath)
    if (SignatureStore.readMeta(spark, storePath).lastCommitTag == tag) return
    // normalize the id type at entry (the store's long contract): an
    // int-typed doc_id source must not ClassCastException downstream
    val b = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint()
    val (pairs, bKeys, bSh) = SignatureStore.probeWithSignatures(spark,
      storePath, b, maxBucket, minJaccard)
    // keep-min representatives: stored ids are smaller than batch ids by
    // contract, so a cluster's rep is stored iff any stored doc is in it
    // — batch members drop unless they ARE the rep
    val drops = Dedup.clustersFromPairs(pairs)
      .where(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"))
    val keep = b.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).localCheckpoint()
    WriteFs.write(b.join(keep, Seq("doc_id"), "left_semi"))
      .mode("overwrite").parquet(s"$outDir/batch=$batchId")
    SignatureStore.appendSignatures(spark, storePath,
      bKeys.join(keep, Seq("doc_id"), "left_semi"),
      bSh.join(keep, Seq("doc_id"), "left_semi"),
      commitTag = Some(tag))
    // maintenance cadence: threshold-gated compaction AFTER the epoch's
    // commit. A crash mid-compact leaves a journal; the recover() at the
    // next epoch's entry replays it before probing.
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      SignatureStore.compact(spark, storePath, maxFilesPerPartition)
  }

  /** Start a memory-sink query for tests/smoke (append mode). */
  def startMemorySink(mentions: Dataset[Mention], name: String,
      checkpointDir: String): StreamingQuery =
    mentions.writeStream
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
}

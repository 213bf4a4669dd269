package graft.ops

import java.net.URI
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.WriteFs
import graft.pipeline.{KgPipeline, ManifestRecord}

/** The composed corpus-cleaning pipeline a training-data user actually
  * runs — `decontaminate → exact dedup → near-dup dedup → (optionally)
  * SignatureStore.append(survivors)` — as ONE chain over a single staged
  * shingle/signature pass.
  *
  * Run independently, the four stages each recompute shingles (and two of
  * them signatures) from corpus text: at 100 TB that is 2-3 redundant
  * full text passes, and the text pass IS the dominant cost (scan +
  * shingle expression). Here the corpus text is read EXACTLY ONCE
  * (spec-asserted via filesystem read statistics): the first projection
  * computes per-document content hash, distinct shingle set, and MinHash
  * signature in one codegen'd pass and stages the result; every
  * stage after that exchanges ids, hashes, and shingle/signature arrays —
  * never text.
  *
  * Staging is a PARQUET table under the caller's `stageDir`
  * ([[cleanedMetaResumable]] documents the layout), so the staged
  * artifact (≈ corpus-text-sized) lives at rest rather than in executor
  * memory, and the chain resumes per stage. Every hook
  * ([[Dedup.bandRowsFromSigs]], [[Dedup.verifiedPairs]],
  * [[Decontaminate.contaminationReportOnShingles]]) takes any
  * `(doc_id, …)` table, however persisted.
  *
  * Stage semantics are IDENTICAL to the standalone operators (the hooks
  * are the same code paths, oracle kg19 checks the composition end to
  * end against DuckDB):
  *  1. drop documents sharing ≥ `minOverlap` distinct shingles (and
  *     ≥ `minRatio` benchmark containment) with any benchmark row;
  *  2. keep the min doc_id per identical text (hash keyed — one uniform
  *     shuffle);
  *  3. the near-dup core [[Dedup.verifiedPairs]] (LSH candidates →
  *     Jaccard verify on the staged shingle sets) → connected components
  *     → keep the min doc_id per near-dup cluster;
  *  4. optionally append the survivors' ALREADY-COMPUTED band keys and
  *     shingle sets into a persisted [[SignatureStore]] so future
  *     incremental batches dedup against the cleaned corpus.
  *
  * Note this is a pipeline, not a pure plan builder: every stage's
  * write, the store append and the connected-components loop run Spark
  * jobs when called.
  */
object CleaningPipeline {

  /** Surviving `(doc_id, keepCols…)` rows of the cleaning chain. The
    * output is metadata-only by design — joining text back in is the
    * caller's write-side concern ([[cleanResumable]]).
    *
    * The one-pass `(doc_id, keep…, _h, sh, sig)` projection is staged to
    * PARQUET under `stageDir`, and every stage persists its (id-only,
    * tiny) output and then commits a `_manifest` row, so a crashed chain
    * RESUMES from the last committed stage without re-scanning corpus
    * text. At 100 TB the cleaning chain is a multi-hour job; any stage
    * re-reads only the columns it needs (the text column does not exist
    * in the staged table at all).
    *
    * Resume rule — the one of [[graft.pipeline.KgPipeline.runResumable]]:
    * the committed stages are the longest prefix 0..j that has `_manifest`
    * rows, read once at entry after the `_params` check (a fresh
    * `stageDir` has no `_manifest`, so nothing is read). Every later stage
    * runs: a write that died mid-stage, or a crash between a stage's write
    * and its row, is rewritten, never trusted; rows past the first gap
    * are deleted before their stages re-run, so each stage keeps one row.
    *
    * Layout under `stageDir` (every file the driver writes goes through
    * [[graft.pipeline.ManifestRecord]]'s temp + rename writer on the
    * Hadoop `FileSystem` of `stageDir`, so any Hadoop filesystem works and
    * a crash never leaves a truncated file):
    *
    *  - `_params`       — the run's parameters and the shingle sets'
    *                      representation (`shRepr`); a resume with
    *                      DIFFERENT parameters, or into a dir whose
    *                      `_params` lacks `shRepr`, refuses loudly (staged
    *                      signatures computed under k/bands/shingleN are
    *                      not valid under others).
    *  - `staged/`       — THE text pass: hash + shingles + signature.
    *  - `stage1_flagged/`, `stage2_exact_drops/`, `stage3_near_drops/`
    *                    — per-stage dropped-id sets.
    *  - `stage4_store_attempt` — the commit tag of the (journaled,
    *                      crash-recoverable) store append, so a resume
    *                      neither skips nor double-runs it (see
    *                      [[SignatureStore.recover]]); stage 4's row
    *                      commits it.
    *  - `_manifest/`    — per-stage lineage and the commit record:
    *                      `(stage, rows, wall_ms)`, one one-row parquet
    *                      file per committed stage, written on the driver
    *                      with no Spark job; files an older engine appended
    *                      with Spark read alongside.
    *
    * Each stage dir is read at most once per call, with a known schema
    * ([[StageDirs]]); only a `staged/` an earlier call wrote is
    * schema-inferred, once. The three id dirs are disjoint drop sets, so
    * stage 3 and the survivors anti-join their union: one drop set, one
    * broadcast per action.
    *
    * CONTRACT (same as KgPipeline staging): the run binds to the FIRST
    * input staged into `stageDir` — resuming with different/extra `docs`
    * or `bench` rows processes the staged corpus and the persisted
    * flagged set, not the new input; a new input needs a new `stageDir`.
    * Single writer per `stageDir`. `broadcastBench` is an execution
    * hint, not semantics, so it is not part of the parameter manifest.
    *
    * `allowStoreReplay`: a RE-RUN of the same cleaning job after its
    * store append already committed re-appends the same survivors —
    * with strict monotone checking the retry refuses on the watermark.
    * Pass true for an idempotent re-run (the store's windowed replay
    * gate still refuses genuinely misnumbered ids; duplicate rows are
    * probe-tolerated and compactable).
    */
  def cleanedMetaResumable(
      docs: DataFrame,
      bench: DataFrame,
      stageDir: String,
      keepCols: Seq[String] = Nil,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true,
      storePath: Option[String] = None,
      allowStoreReplay: Boolean = false
  ): DataFrame =
    runStages(docs, bench, stageDir, keepCols, k, bands, shingleN,
      maxBucket, minJaccard, minOverlap, minRatio, broadcastBench,
      storePath, allowStoreReplay, upTo = 4).get

  /** One `_manifest` row: a completed stage, the rows its write
    * produced, and its wall time. */
  private[graft] final case class StageStat(stage: Int, rows: Long, wall_ms: Long)

  /** Per-stage lineage/metrics view over a resumable run's manifest. */
  def manifest(spark: SparkSession, stageDir: String): DataFrame =
    spark.read.schema(Encoders.product[StageStat].schema)
      .parquet(s"$stageDir/_manifest")

  /** The cleaning chain as a full corpus TRANSFORM: input rows minus
    * contaminated documents, exact-duplicate non-representatives, and
    * near-duplicate non-representatives, with the id-level work
    * staged/resumed under `stageDir`. The payload re-attach (a semi-join
    * on id) is the one deliberate second text scan (write-side). */
  def cleanResumable(
      docs: DataFrame,
      bench: DataFrame,
      stageDir: String,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true,
      storePath: Option[String] = None,
      allowStoreReplay: Boolean = false
  ): DataFrame =
    docs.join(
      cleanedMetaResumable(docs, bench, stageDir, Nil, k, bands, shingleN,
        maxBucket, minJaccard, minOverlap, minRatio, broadcastBench,
        storePath, allowStoreReplay),
      Seq("doc_id"), "left_semi")

  /** The parameter file, written through [[ManifestRecord]]. On resume the
    * banding/threshold parameters must equal the stored manifest EXACTLY
    * (staged signatures computed under one banding are not valid under
    * another); `keepCols` is compatibility-checked as a SUBSET instead —
    * the staged table carries the BINDING run's keep columns, so a
    * caller asking for fewer (e.g. [[cleanResumable]]'s id-only needs)
    * reads a strict subset of what is staged. Returns the effective
    * (binding-run) keep columns, which stage 0 must stage if it still
    * has to run. */
  private def checkOrWriteParams(spark: SparkSession, stageDir: String,
      core: String, keepCols: Seq[String]): Seq[String] = {
    val p = new Path(s"$stageDir/_params")
    ManifestRecord.readString(spark, p).map { stored =>
      val lines = stored.split("\n", -1).toSeq
      val storedCore = lines
        .filterNot(l => l.startsWith("keepCols=") ||
          l.startsWith("shRepr=") || l.isEmpty)
        .mkString("\n")
      val storedKeep = lines.find(_.startsWith("keepCols="))
        .map(_.stripPrefix("keepCols=")).getOrElse("")
        .split(",").filter(_.nonEmpty).toSeq
      require(storedCore == core,
        s"resume into $stageDir with different parameters — staged " +
          s"artifacts were computed under:\n$storedCore\nbut this run " +
          s"asks for:\n$core\nUse a new stageDir (or the original " +
          "parameters).")
      // the staged shingle sets' at-rest representation must match what
      // THIS engine computes (ADVICE r6): were the hash function/seed
      // ever to change, a resumed dir's overlap joins would silently
      // match nothing. A dir without the line predates hashed shingle
      // sets, the `nsh` column and tagged store-attempt markers, and is
      // refused the same way.
      val storedRepr = lines.find(_.startsWith("shRepr="))
        .map(_.stripPrefix("shRepr=")).getOrElse("<none>")
      require(storedRepr == SignatureStore.ShRepr,
        s"resume into $stageDir staged shingle sets under " +
          s"representation '$storedRepr' but this engine computes " +
          s"'${SignatureStore.ShRepr}' — overlap joins across " +
          "representations match nothing; use a new stageDir")
      storedKeep
    }.getOrElse {
      ManifestRecord.writeString(spark, p,
        s"$core\nshRepr=${SignatureStore.ShRepr}\n" +
          s"keepCols=${keepCols.mkString(",")}\n")
      keepCols
    }
  }

  /** Runs stages 0..`upTo` (0=staging text pass, 1=decontaminate,
    * 2=exact drops, 3=near-dup drops, 4=store append), skipping the
    * committed ones (the resume rule of [[cleanedMetaResumable]]). Returns the
    * survivor frame once stage 3 is available and `upTo` ≥ 4.
    * Package-private so the spec can kill the chain between stages and
    * resume it. */
  private[graft] def runStages(
      docs: DataFrame,
      bench: DataFrame,
      stageDir: String,
      keepCols: Seq[String],
      k: Int, bands: Int, shingleN: Int, maxBucket: Int,
      minJaccard: Double, minOverlap: Int, minRatio: Double,
      broadcastBench: Boolean,
      storePath: Option[String],
      allowStoreReplay: Boolean,
      upTo: Int
  ): Option[DataFrame] = {
    val spark = docs.sparkSession
    // parameter validation FIRST (ADVICE r6): `core` pins storePath, so a
    // resume mistakenly pointed at a DIFFERENT store refuses here —
    // before the recover() below could replay that store's pending
    // journal (which may belong to another in-flight writer's commit)
    val stagedKeep = checkOrWriteParams(spark, stageDir,
      s"k=$k\nbands=$bands\nshingleN=$shingleN\nmaxBucket=$maxBucket\n" +
        s"minJaccard=$minJaccard\nminOverlap=$minOverlap\n" +
        s"minRatio=$minRatio\n" +
        s"storePath=${storePath.getOrElse("")}",
      keepCols)
    val fs = WriteFs.of(spark, new Path(stageDir))
    val attempt = new Path(s"$stageDir/stage4_store_attempt")
    storePath.foreach { p =>
      // a prior attempt that crashed INSIDE the store's commit window
      // leaves the journal present and the metadata deleted — the plain
      // readMeta below would refuse loudly and the recover() inside
      // stage 4 would never be reached. The attempt marker proves the
      // interrupted commit is OURS (single-writer contract, and the
      // params check above proved this resume targets the same store),
      // so replay it before reading the metadata.
      if (fs.exists(attempt)) SignatureStore.recover(spark, p)
      val m = SignatureStore.readMeta(spark, p)
      require(m.k == k && m.bands == bands && m.shingleN == shingleN,
        s"store $p has (k=${m.k}, bands=${m.bands}, shingleN=${m.shingleN})" +
          s" but the pipeline runs (k=$k, bands=$bands, shingleN=$shingleN)" +
          " — appending differently-banded signatures would silently miss" +
          " every future near-duplicate")
    }

    val dirs = new StageDirs(spark, stageDir)
    import dirs.{staged, flagged, exactDrops, nearDrops}
    val manifestDir = s"$stageDir/_manifest"

    // stage s is committed when s and every stage before it have a
    // manifest row. Rows past the first gap are stale: their stages
    // re-run and record again, so they are deleted first. A fresh
    // stageDir has no manifest and reads none.
    val rows =
      if (!fs.exists(new Path(manifestDir))) Seq.empty[(Int, String)]
      else manifest(spark, stageDir)
        .select(col("stage"), col("_metadata.file_path")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
    val committed = Iterator.from(0).takeWhile(s => rows.exists(_._1 == s)).size
    rows.filter(_._1 >= committed)
      .foreach { case (_, file) => fs.delete(new Path(new URI(file)), false) }
    def done(stage: Int) = stage < committed

    var t0 = System.nanoTime()
    // each manifest row count is OBSERVED on the stage's own write job
    // (`KgPipeline.observedRows`), never read back: a read-back count is
    // one extra job per stage — and for stage 0 a full scan of the
    // corpus-sized staged artifact just to count its rows. The row itself
    // is written on the driver, with no job.
    def record(stage: Int, rows: Long): Unit =
      ManifestRecord.append(spark, manifestDir,
        StageStat(stage, rows, (System.nanoTime() - t0) / 1000000L))
    def commit(stage: Int, df: DataFrame, dir: String): Unit = {
      val (out, n) = KgPipeline.observedRows(df, s"stage$stage rows")
      WriteFs.write(out).mode(SaveMode.Overwrite).parquet(dir)
      record(stage, n())
    }

    // stage 0 — THE text pass, at rest (staging the BINDING run's keep
    // columns, a superset of this caller's)
    if (!done(0)) {
      val df0 = stagedFrame(docs, stagedKeep, k, shingleN)
      // the staged table's codec is DELIBERATELY not pinned: an
      // un-optioned parquet write follows the session's standard
      // `spark.sql.parquet.compression.codec` (default snappy), so a
      // deployment whose staging storage is bandwidth-starved flips to
      // zstd by conf, no code change. The 20M A/B (BENCH.md round-6
      // ladders) read: at 8 cores the codecs are indistinguishable
      // inside the ±25% ambient-disk band; at 32 cores zstd's stage-3
      // medians ran ~15% ahead (fewer bytes off the slow shared disk,
      // decode parallelism ample) — suggestive, below conclusive.
      // Decode-cheap snappy stays the default for a transient
      // intra-job artifact; the long-lived CORPUS is where the
      // round-5 zstd-at-rest recommendation applies.
      commit(0, df0, dirs.stagedDir)
      dirs.stagedSchema = Some(df0.schema)
    }
    if (upTo < 1) return None

    // stage 1 — decontamination flags over the staged shingle sets
    t0 = System.nanoTime()
    if (!done(1))
      commit(1, Decontaminate.contaminationReportOnShingles(
          staged.select(col("doc_id"), col("sh")), bench, shingleN,
          minOverlap, minRatio, broadcastBench)
        .select(col("doc_id")).distinct(), dirs.flaggedDir)
    if (upTo < 2) return None

    // stage 2 — exact-duplicate drops (digest-keyed window, hash+id only)
    t0 = System.nanoTime()
    if (!done(2))
      commit(2, staged.select(col("doc_id"), col("_h"))
        .join(flagged, Seq("doc_id"), "left_anti")
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
        .where(col("_rn") > 1)
        .select(col("doc_id")), dirs.exactDir)
    if (upTo < 3) return None

    // stage 3 — near-dup drops through the near-dup core. The drop
    // filter (one anti-join against the earlier drop sets' union) runs
    // over the (doc_id, sig) projection only; the core reads the heavy
    // shingle column straight from the staged table (candidate ids came
    // from banding over the filtered frame, so they already exclude every
    // dropped document) — the shingle sets never ride through an
    // anti-join exchange, and the core reduces them to the candidate
    // population before its two verify joins.
    t0 = System.nanoTime()
    if (!done(3)) {
      val sigs = staged
        .where(col("nsh") > 0).select(col("doc_id"), col("sig"))
        .join(flagged.union(exactDrops), Seq("doc_id"), "left_anti")
      val pairs = Dedup.verifiedPairs(sigs,
        staged.select(col("doc_id"), col("sh")), k, bands, maxBucket,
        minJaccard)
      commit(3, Dedup.nearDupDropIds(pairs), dirs.nearDir)
    }
    // the chain's one drop set: every id a stage dropped
    def survivorIds(cols: Seq[String]) =
      staged.select(cols.map(col): _*).join(
        flagged.union(exactDrops).union(nearDrops), Seq("doc_id"), "left_anti")
    if (upTo < 4) return None

    // stage 4 — fold survivors into the incremental store (signatures
    // already at rest; the append itself is a journaled staged commit)
    if (!done(4)) storePath.foreach { sp =>
      t0 = System.nanoTime()
      // the attempt marker carries this run's commit tag, so a resumed
      // attempt asks the STORE whether this exact append committed —
      // a POSITIVE record instead of a watermark inference,
      // which wrongly skips the append when the watermark already
      // covers the batch ids for another reason (an allowStoreReplay
      // re-run, or a store advanced by a later batch) after a crash
      // BEFORE the commit. An EMPTY marker (left by an engine that
      // wrote it in place) is not an attempt: it is deleted, and the
      // fresh tag is renamed onto the absent path.
      val priorTag =
        ManifestRecord.readString(spark, attempt).map(_.trim).getOrElse("")
      val attempted = priorTag.nonEmpty
      val tag =
        if (attempted) priorTag
        else {
          val t = UUID.randomUUID().toString
          fs.delete(attempt, false)
          ManifestRecord.writeString(spark, attempt, t)
          t
        }
      // finish any journaled commit a crashed attempt left behind —
      // after this the store is consistent: the prior append either
      // fully committed (metadata then carries its tag) or never
      // touched the live store
      SignatureStore.recover(spark, sp)
      if (!attempted ||
        SignatureStore.readMeta(spark, sp).lastCommitTag != tag) {
        val surv = survivorIds(Seq("doc_id", "nsh", "sh", "sig"))
        SignatureStore.appendSignatures(spark, sp,
          Dedup.bandRowsFromSigs(
            surv.where(col("nsh") > 0)
              .select(col("doc_id"), col("sig")), k, bands),
          surv.select(col("doc_id"), col("sh")),
          allowReplay = allowStoreReplay || attempted,
          commitTag = Some(tag))
      }
      record(4, 0L)
    }

    Some(survivorIds("doc_id" +: keepCols))
  }

  /** Stage 0's projection: `(doc_id, keep…, _h, sh, sig, nsh)`, with
    * `doc_id` on the long contract of the near-dup core and the store.
    * `nsh` carries the shingle count as its own tiny column so stage 3's
    * sub-shingle gate never has to decode the heavy `sh` array just to
    * take its size. */
  private[graft] def stagedFrame(docs: DataFrame, keepCols: Seq[String],
      k: Int, shingleN: Int): DataFrame =
    docs.select(
        Seq(col("doc_id").cast("long").as("doc_id")) ++ keepCols.map(col) ++
          Seq(
            md5(col("text").cast("binary")).as("_h"),
            Dedup.hashShingles(
              Dedup.distinctShingles(col("text"), shingleN)).as("sh"),
            Dedup.minhashSignature(col("text"), k, shingleN).as("sig")): _*)
      .withColumn("nsh", size(col("sh")))

  /** The stage dirs of one chain call, each read at most once (a lazy
    * val) with a known schema: an inference read is a one-task job.
    * `staged` takes `stagedSchema`, the schema of the frame this call
    * wrote, or is inferred once when an earlier call wrote it (`None`);
    * the id dirs take staged's `doc_id` field. */
  private[graft] final class StageDirs(spark: SparkSession, stageDir: String) {
    val stagedDir = s"$stageDir/staged"
    val flaggedDir = s"$stageDir/stage1_flagged"
    val exactDir = s"$stageDir/stage2_exact_drops"
    val nearDir = s"$stageDir/stage3_near_drops"
    var stagedSchema: Option[StructType] = None
    lazy val staged: DataFrame = stagedSchema
      .fold(spark.read.parquet(stagedDir))(spark.read.schema(_).parquet(stagedDir))
    private lazy val ids = StructType(Seq(staged.schema("doc_id")))
    lazy val flagged: DataFrame = spark.read.schema(ids).parquet(flaggedDir)
    lazy val exactDrops: DataFrame = spark.read.schema(ids).parquet(exactDir)
    lazy val nearDrops: DataFrame = spark.read.schema(ids).parquet(nearDir)
  }
}

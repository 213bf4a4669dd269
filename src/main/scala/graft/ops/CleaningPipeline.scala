package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.KgPipeline

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
    * tiny) output with a completion marker, so a crashed chain RESUMES
    * from the last completed stage without re-scanning corpus text. At
    * 100 TB the cleaning chain is a multi-hour job; any stage re-reads
    * only the columns it needs (the text column does not exist in the
    * staged table at all), the same manifest-resume discipline as
    * [[graft.pipeline.KgPipeline.runResumable]].
    *
    * Layout under `stageDir` (each stage gated on its own parquet
    * `_SUCCESS` marker — a write that died mid-stage is rewritten, never
    * trusted):
    *
    *  - `_params`       — the run's parameters; a resume with DIFFERENT
    *                      parameters refuses loudly (staged signatures
    *                      computed under k/bands/shingleN are not valid
    *                      under others).
    *  - `staged/`       — THE text pass: hash + shingles + signature.
    *  - `stage1_flagged/`, `stage2_exact_drops/`, `stage3_near_drops/`
    *                    — per-stage dropped-id sets.
    *  - `stage4_store_attempt` / `stage4_store_done` — markers around
    *                      the (journaled, crash-recoverable) store
    *                      append, so a resume neither skips nor
    *                      double-runs it (see [[SignatureStore.recover]]).
    *  - `_manifest/`    — per-stage lineage: `(stage, rows, wall_ms)`.
    *
    * CONTRACT (same as KgPipeline staging): the run binds to the FIRST
    * input staged into `stageDir` — resuming with different/extra `docs`
    * or `bench` rows processes the staged corpus and the persisted
    * flagged set, not the new input; a new input needs a new `stageDir`.
    * Single writer per `stageDir`. `broadcastBench` is an execution
    * hint, not semantics, so it is not part of the parameter manifest.
    * Stage-dir paths are driver-local by the sandbox contract (the
    * KgPipeline note applies verbatim); a cluster deployment swaps the
    * java.nio checks for the Hadoop FileSystem API. A crash between a
    * stage's parquet write and its manifest append loses that stage's
    * `_manifest` ROW only — the stage itself (gated on `_SUCCESS`, not
    * the manifest) resumes correctly.
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

  /** Per-stage lineage/metrics view over a resumable run's manifest. */
  def manifest(spark: SparkSession, stageDir: String): DataFrame =
    spark.read.parquet(s"$stageDir/_manifest")

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

  private def hasSuccess(dir: String): Boolean =
    Files.exists(Paths.get(s"$dir/_SUCCESS"))

  /** Atomic (temp + move) parameter-manifest write. On resume the
    * banding/threshold parameters must equal the stored manifest EXACTLY
    * (staged signatures computed under one banding are not valid under
    * another); `keepCols` is compatibility-checked as a SUBSET instead —
    * the staged table carries the BINDING run's keep columns, so a
    * caller asking for fewer (e.g. [[cleanResumable]]'s id-only needs)
    * reads a strict subset of what is staged. Returns the effective
    * (binding-run) keep columns, which stage 0 must stage if it still
    * has to run. */
  private def checkOrWriteParams(stageDir: String, core: String,
      keepCols: Seq[String]): Seq[String] = {
    val p = Paths.get(s"$stageDir/_params")
    if (Files.exists(p)) {
      val stored = new String(Files.readAllBytes(p), "UTF-8")
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
      // match nothing. Absent on legacy dirs — there the element-type
      // schema fallback (`shForStore`) is the only guard available.
      lines.find(_.startsWith("shRepr=")).map(_.stripPrefix("shRepr="))
        .foreach(storedRepr =>
          require(storedRepr == SignatureStore.ShRepr,
            s"resume into $stageDir staged shingle sets under " +
              s"representation '$storedRepr' but this engine computes " +
              s"'${SignatureStore.ShRepr}' — overlap joins across " +
              "representations match nothing; use a new stageDir"))
      storedKeep
    } else {
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(s"$stageDir/._params.tmp")
      Files.write(tmp,
        (s"$core\nshRepr=${SignatureStore.ShRepr}\n" +
          s"keepCols=${keepCols.mkString(",")}\n").getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      keepCols
    }
  }

  /** Runs stages 0..`upTo` (0=staging text pass, 1=decontaminate,
    * 2=exact drops, 3=near-dup drops, 4=store append), skipping stages
    * whose output already carries a completion marker. Returns the
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
    val stagedKeep = checkOrWriteParams(stageDir,
      s"k=$k\nbands=$bands\nshingleN=$shingleN\nmaxBucket=$maxBucket\n" +
        s"minJaccard=$minJaccard\nminOverlap=$minOverlap\n" +
        s"minRatio=$minRatio\n" +
        s"storePath=${storePath.getOrElse("")}",
      keepCols)
    storePath.foreach { p =>
      // a prior attempt that crashed INSIDE the store's commit window
      // leaves the journal present and the metadata deleted — the plain
      // readMeta below would refuse loudly and the recover() inside
      // stage 4 would never be reached. The attempt marker proves the
      // interrupted commit is OURS (single-writer contract, and the
      // params check above proved this resume targets the same store),
      // so replay it before reading the metadata.
      if (Files.exists(Paths.get(s"$stageDir/stage4_store_attempt")))
        SignatureStore.recover(spark, p)
      val m = SignatureStore.readMeta(spark, p)
      require(m.k == k && m.bands == bands && m.shingleN == shingleN,
        s"store $p has (k=${m.k}, bands=${m.bands}, shingleN=${m.shingleN})" +
          s" but the pipeline runs (k=$k, bands=$bands, shingleN=$shingleN)" +
          " — appending differently-banded signatures would silently miss" +
          " every future near-duplicate")
    }

    val stagedDir = s"$stageDir/staged"
    val flaggedDir = s"$stageDir/stage1_flagged"
    val exactDir = s"$stageDir/stage2_exact_drops"
    val nearDir = s"$stageDir/stage3_near_drops"
    val manifestDir = s"$stageDir/_manifest"

    var t0 = System.nanoTime()
    // each manifest row count is OBSERVED on the stage's own write job
    // (`KgPipeline.observedRows`), never read back: a read-back count is
    // one extra job per stage — and for stage 0 a full scan of the
    // corpus-sized staged artifact just to count its rows.
    def record(stage: Int, rows: Long): Unit = {
      import spark.implicits._
      Seq((stage, rows, (System.nanoTime() - t0) / 1000000L))
        .toDF("stage", "rows", "wall_ms")
        .write.mode(SaveMode.Append).parquet(manifestDir)
    }

    // stage 0 — THE text pass, at rest (staging the BINDING run's keep
    // columns, a superset of this caller's). `nsh` carries the shingle
    // count as its own tiny column so stage 3's sub-shingle gate never
    // has to decode the heavy `sh` array just to take its size.
    if (!hasSuccess(stagedDir)) {
      val (df0, rows0) = KgPipeline.observedRows(docs.select(
          Seq(col("doc_id")) ++ stagedKeep.map(col) ++ Seq(
            md5(col("text").cast("binary")).as("_h"),
            Dedup.hashShingles(
              Dedup.distinctShingles(col("text"), shingleN)).as("sh"),
            Dedup.minhashSignature(col("text"), k, shingleN).as("sig")): _*)
        .withColumn("nsh", size(col("sh"))),
        "stage0 rows")
      df0
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
        .write.mode(SaveMode.Overwrite).parquet(stagedDir)
      record(0, rows0())
    }
    def staged = spark.read.parquet(stagedDir)
    // stage dirs staged before the nsh column existed resume fine — the
    // gate falls back to sizing the array
    def shCount =
      if (spark.read.parquet(stagedDir).columns.contains("nsh")) col("nsh")
      else size(col("sh"))
    // stage dirs staged before shingle sets were hashed at rest resume
    // fine too: decontamination adapts its bench side to the staged
    // element type, Jaccard is representation-agnostic, and only the
    // store append — whose contract IS hashed — re-hashes on the way out
    def shForStore =
      staged.schema("sh").dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => col("sh")
        case _ => Dedup.hashShingles(col("sh")).as("sh")
      }
    if (upTo < 1) return None

    // stage 1 — decontamination flags over the staged shingle sets
    t0 = System.nanoTime()
    if (!hasSuccess(flaggedDir)) {
      val (df1, rows1) = KgPipeline.observedRows(
        Decontaminate.contaminationReportOnShingles(
            staged.select(col("doc_id"), col("sh")), bench, shingleN,
            minOverlap, minRatio, broadcastBench)
          .select(col("doc_id")).distinct(),
        "stage1 rows")
      df1.write.mode(SaveMode.Overwrite).parquet(flaggedDir)
      record(1, rows1())
    }
    def flagged = spark.read.parquet(flaggedDir)
    if (upTo < 2) return None

    // stage 2 — exact-duplicate drops (digest-keyed window, hash+id only)
    t0 = System.nanoTime()
    if (!hasSuccess(exactDir)) {
      val (df2, rows2) = KgPipeline.observedRows(
        staged.select(col("doc_id"), col("_h"))
          .join(flagged, Seq("doc_id"), "left_anti")
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("_h")).orderBy(col("doc_id"))))
          .where(col("_rn") > 1)
          .select(col("doc_id")),
        "stage2 rows")
      df2.write.mode(SaveMode.Overwrite).parquet(exactDir)
      record(2, rows2())
    }
    def exactDrops = spark.read.parquet(exactDir)
    if (upTo < 3) return None

    // stage 3 — near-dup drops through the near-dup core. The
    // drop-filter anti-joins run over the (doc_id, sig) projection only;
    // the core reads the heavy shingle column straight from the staged
    // table (candidate ids came from banding over the filtered frame, so
    // they already exclude every dropped document) — the shingle sets
    // never ride through an anti-join exchange, and the core reduces
    // them to the candidate population before its two verify joins.
    t0 = System.nanoTime()
    if (!hasSuccess(nearDir)) {
      val sigs = staged
        .where(shCount > 0).select(col("doc_id"), col("sig"))
        .join(flagged, Seq("doc_id"), "left_anti")
        .join(exactDrops, Seq("doc_id"), "left_anti")
      val pairs = Dedup.verifiedPairs(sigs,
        staged.select(col("doc_id"), col("sh")), k, bands, maxBucket,
        minJaccard)
      val (df3, rows3) =
        KgPipeline.observedRows(Dedup.nearDupDropIds(pairs), "stage3 rows")
      df3.write.mode(SaveMode.Overwrite).parquet(nearDir)
      record(3, rows3())
    }
    def nearDrops = spark.read.parquet(nearDir)
    def survivorIds(cols: Seq[String]) =
      staged.select(cols.map(col): _*)
        .join(flagged, Seq("doc_id"), "left_anti")
        .join(exactDrops, Seq("doc_id"), "left_anti")
        .join(nearDrops, Seq("doc_id"), "left_anti")
    if (upTo < 4) return None

    // stage 4 — fold survivors into the incremental store (signatures
    // already at rest; the append itself is a journaled staged commit)
    storePath.foreach { sp =>
      val done = Paths.get(s"$stageDir/stage4_store_done")
      val attempt = Paths.get(s"$stageDir/stage4_store_attempt")
      if (!Files.exists(done)) {
        t0 = System.nanoTime()
        val attempted = Files.exists(attempt)
        // the attempt marker carries this run's commit tag, so a resumed
        // attempt asks the STORE whether this exact append committed —
        // a POSITIVE record (ADVICE r6) instead of the old watermark
        // inference, which wrongly skipped the append when the watermark
        // already covered the batch ids for another reason (an
        // allowStoreReplay re-run, or a store advanced by a later batch)
        // after a crash BEFORE the commit.
        val tag =
          if (attempted)
            new String(Files.readAllBytes(attempt), "UTF-8").trim
          else {
            val t = java.util.UUID.randomUUID().toString
            Files.write(attempt, t.getBytes("UTF-8"))
            t
          }
        // finish any journaled commit a crashed attempt left behind —
        // after this the store is consistent: the prior append either
        // fully committed (metadata then carries its tag) or never
        // touched the live store
        SignatureStore.recover(spark, sp)
        val surv = survivorIds(Seq("doc_id", "sh", "sig"))
        val alreadyIn =
          if (attempted && tag.nonEmpty)
            SignatureStore.readMeta(spark, sp).lastCommitTag == tag
          else if (attempted) {
            // legacy attempt marker without a tag: the old watermark
            // inference, but REFUSED under allowStoreReplay where it is
            // exactly ambiguous (a redundant replayed append is
            // at-least-once-safe; a wrongly skipped one silently loses
            // the batch's signatures)
            val mxRow = surv.agg(max(col("doc_id").cast("long"))).head()
            !allowStoreReplay && !mxRow.isNullAt(0) &&
              SignatureStore.readMeta(spark, sp).maxDocId >= mxRow.getLong(0)
          } else false
        if (!alreadyIn) {
          SignatureStore.appendSignatures(spark, sp,
            Dedup.bandRowsFromSigs(
              surv.where(size(col("sh")) > 0)
                .select(col("doc_id"), col("sig")), k, bands),
            surv.select(col("doc_id"), shForStore),
            allowReplay = allowStoreReplay || attempted,
            commitTag = Some(tag))
        }
        Files.createFile(done)
        import spark.implicits._
        Seq((4, 0L, (System.nanoTime() - t0) / 1000000L))
          .toDF("stage", "rows", "wall_ms")
          .write.mode(SaveMode.Append).parquet(manifestDir)
      }
    }

    Some(survivorIds("doc_id" +: keepCols))
  }
}

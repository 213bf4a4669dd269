package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

import graft.io.WriteFs
import graft.pipeline.ManifestRecord

/** Incremental near-dup dedup against a PERSISTED signature store — the
  * IVF-physical-layout move ([[Ann.writeIvfLayout]]) applied to MinHash:
  * band keys and distinct shingle sets are written once at ingest with a
  * partition column derived from their lookup key, so deduplicating a NEW
  * batch reads only the partitions its own keys hash into — never a full
  * corpus rescan, and never corpus text at all (verification runs against
  * the persisted shingle sets).
  *
  * Layout (under `path`):
  *  - `bands/`    (doc_id, band, bh)  partitioned by `bh_pfx  = pmod(bh, P)`
  *  - `shingles/` (doc_id, sh)        partitioned by `doc_pfx = pmod(doc_id, P)`
  *
  * Probe reads prune at the SOURCE via `isin` on the partition column
  * (PartitionFilters — the same mechanism PlanSpec asserts for IVF): the
  * batch's distinct `bh_pfx` values (≤ P literals, collected from a
  * batch-sized table) select the band partitions, then the colliding old
  * doc_ids' `doc_pfx` values select the shingle partitions. A batch much
  * smaller than P × (corpus/P) therefore reads ~|batch keys| partitions'
  * worth of store bytes, not the corpus. For a batch approaching corpus
  * size the prefixes saturate and the probe degrades gracefully to a full
  * store scan — still id+shingle data, never the raw text.
  *
  * Exactness: the store and the batch derive band keys through the SAME
  * signature ([[Dedup.bandedSignatures]]), the bucket cap + pair stage is
  * the SAME code over the merged old∪batch membership
  * ([[Dedup.candidatePairsFromBanded]]), and verification is the SAME
  * [[Dedup.jaccardVerifyOnShingles]] over hashed shingle sets
  * ([[Dedup.distinctShingleHashSets]]) — so `probe(store, batch)` emits
  * the batch-touching subset of what the raw-string batch path
  * `jaccardVerify(lshCandidatePairs(old ∪ batch))` emits, exactly up to
  * the pairwise hash-collision bound of [[Dedup.hashShingles]],
  * including on degenerate buckets where the cap bites (spec-asserted on
  * planted fixtures). Its candidate stage is its own by design: it runs
  * over the merged old ∪ batch bucket membership, not one corpus.
  *
  * Monotone-ingest contract (ENFORCED): batch doc_ids must be strictly
  * larger than every id already in the store. Keep-min-representative
  * consumers ([[graft.streaming.StreamingKg.nearDupDedupStream]]) rely on
  * it — a batch id below a stored one would make the stored near-dup the
  * non-representative, silently retaining both documents. The store's
  * metadata carries the max ingested doc_id; [[probe]] and
  * [[appendSignatures]] refuse loudly on violation, like the
  * signature-version check.
  *
  * Append durability: [[appendSignatures]] stages the new band/shingle
  * files in a side directory FIRST (the live store stays fully valid and
  * probeable the whole time), writes a commit journal, and only then
  * opens the commit window (metadata delete → staged-file renames →
  * metadata rewrite). A crash anywhere after the journal is repairable:
  * [[recover]] replays the remaining renames idempotently and restores
  * the metadata — no corpus re-ingest. A crash BEFORE the journal leaves
  * the live store untouched. The monotone-ingest guard is observed on
  * the staged shingles write itself and checked before the bands write
  * and the journal; a refused or empty batch deletes its staging dir, so
  * the live store is untouched then too. [[compact]] uses the same journaled
  * discipline with partition-directory swaps. The journal's op is
  * `append` (staged files move into the live partitions) or
  * `replace_parts` (staged partition directories replace live ones);
  * any other op is refused before the live store is touched. The
  * metadata and the journal are written through
  * [[graft.pipeline.ManifestRecord]]'s temp + rename writer, so a crash
  * never leaves either truncated, and go through one JSON codec
  * ([[metaJson]] and [[parseMeta]]).
  *
  * Commit record: an append's optional `commitTag` is written into the
  * metadata by the commit's own rename. It is the commit record of both
  * incremental writers (the streaming loop and the cleaning chain's
  * stage 4): after [[recover]], `lastCommitTag` says whether a given
  * append committed, so a retried batch is skipped, never re-probed.
  *
  * SINGLE-WRITER CONTRACT: at most one process appends/compacts a store
  * at a time (the streaming loop, a batch ingest, or an operator — never
  * two concurrently). The journal serializes RECOVERY, not concurrent
  * writers: two simultaneous staged commits would interleave their
  * metadata rewrites and one batch's watermark advance would be lost.
  * Concurrent READS (probes) against a store being appended are safe —
  * the live tables and metadata stay valid until the commit window, and
  * the window itself is rename-only. Multi-writer deployments shard by
  * store path (one store per ingest partition) rather than locking.
  */
object SignatureStore {

  /** Create an EMPTY store — the day-0 entry point for a streaming
    * ingest that starts from nothing (the quickstart otherwise needs a
    * synthetic empty DataFrame through [[write]]). Just the metadata and
    * the two (empty) table directories: reads supply explicit schemas,
    * so an empty store probes/appends normally, and the first append
    * establishes the watermark. Refuses a path that already holds a
    * store (init is creation, not reset — rebuilding goes through
    * [[write]]). */
  def init(
      spark: SparkSession,
      path: String,
      nPrefixes: Int = 64,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3
  ): Unit = {
    val f = fs(spark, path)
    require(!f.exists(metaPath(path)),
      s"$path already holds a signature store — init creates new stores " +
        "only; re-ingest an existing one with SignatureStore.write")
    // metadata absent is NOT proof of emptiness: a write() that crashed
    // mid-ingest leaves populated table dirs with no metadata. Writing
    // fresh meta over them would resurrect the stale rows under a reset
    // Long.MinValue watermark — refuse anything but a truly empty path.
    def nonEmptyDir(p: Path) = f.exists(p) && f.listStatus(p).nonEmpty
    require(!nonEmptyDir(new Path(s"$path/bands")) &&
      !nonEmptyDir(new Path(s"$path/shingles")),
      s"$path has leftover store table data but no metadata (an " +
        "interrupted write?) — init refuses to resurrect it; clear the " +
        "directory or re-ingest with SignatureStore.write")
    f.mkdirs(new Path(s"$path/bands"))
    f.mkdirs(new Path(s"$path/shingles"))
    writeMeta(spark, path, Meta(nPrefixes, k, bands, shingleN, Long.MinValue))
  }

  /** Ingest-time write: band keys + shingle sets for `docs(doc_id, text)`,
    * partitioned for probe-time pruning. `nPrefixes` trades partition
    * count against pruning granularity (web scale: 1024+).
    *
    * ONE corpus text pass (spec-asserted via filesystem read statistics,
    * the [[CleaningPipeline]] staging move): id + distinct shingle set +
    * MinHash signature are computed in a single codegen'd projection and
    * eagerly checkpointed; the watermark agg, the band derivation, and
    * the shingle-table write all read the staged id/array frame — the
    * historical three-scan form (max agg + signature pass + shingle
    * pass) read the corpus text three times, and the text scan IS the
    * dominant ingest cost.
    *
    * Failure discipline: the metadata file is DELETED first and rewritten
    * only after both data writes succeed, so a mid-write crash leaves a
    * store with no metadata — [[probe]]/[[append]] then refuse LOUDLY
    * instead of silently probing new partitions with stale parameters.
    * (`write` is the full ingest; unlike an append there is no cheaper
    * recovery than re-running it.) */
  def write(
      docs: DataFrame,
      path: String,
      nPrefixes: Int = 64,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3
  ): Unit = {
    val spark = docs.sparkSession
    // THE text pass (cast at entry — an IntegerType doc_id must land on
    // the long contract here too, not ClassCastException at getLong).
    // Eager checkpoint: a lazy frame would let the three consumers below
    // race back into the text scan independently.
    val staged = docs.select(
      col("doc_id").cast("long").as("doc_id"),
      Dedup.hashShingles(
        Dedup.distinctShingles(col("text"), shingleN)).as("sh"),
      Dedup.minhashSignature(col("text"), k, shingleN).as("sig"))
      .localCheckpoint()
    // the ingest watermark for the monotone-id contract, off the staged
    // id column
    val maxRow = staged.agg(max(col("doc_id"))).collect()(0)
    val maxDocId = if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0)
    deleteMeta(spark, path)
    // band derivation from the staged signatures — the same sub-shingle
    // gate as the batch path (no shingles → no banding; an all-MaxValue
    // signature would collide every short doc into one degenerate bucket)
    writePrefixed(Dedup.bandRowsFromSigs(
        staged.where(size(col("sh")) > 0).select(col("doc_id"), col("sig")),
        k, bands), "bh_pfx", pmod(col("bh"), lit(nPrefixes.toLong)),
      s"$path/bands")
    writePrefixed(staged.select(col("doc_id"), col("sh")), "doc_pfx",
      pmod(col("doc_id"), lit(nPrefixes.toLong)), s"$path/shingles")
    // the partition modulus is part of the layout contract: a probe with
    // a different P computes prefixes that miss the written partitions,
    // so P travels WITH the store, never as a caller-remembered argument.
    // sigVersion pins the HASH ALGORITHM itself — band hashes from a
    // different signature implementation never collide with recomputed
    // batch hashes, so a version drift would silently admit every
    // near-duplicate; readMeta refuses loudly instead.
    writeMeta(spark, path, Meta(nPrefixes, k, bands, shingleN, maxDocId))
    // the staged blocks are ingest-transient — free them now instead of
    // waiting for GC (Dataset.unpersist alone leaves localCheckpoint's
    // raw-row blocks alive)
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .unpersistLocalCheckpoint(staged)
  }

  /** The store tables' fixed schemas (partition column included). Reads
    * always supply them EXPLICITLY: a day-0 store — written from an
    * empty corpus so a streaming ingest can start from nothing — has no
    * data files, and schema inference would fail the very first probe.
    * Writers cast `doc_id` to long so any integer id type lands on this
    * contract. */
  private val BandsSchema = "doc_id LONG, band INT, bh LONG, bh_pfx LONG"
  private val ShinglesSchema = "doc_id LONG, sh ARRAY<LONG>, doc_pfx LONG"

  /** Version of the signature hash function persisted in band keys.
    * 2 = byte-level FNV-1a over UTF-8 ([[graft.functions.MinHashSig]]);
    * 1 was the historical char-level Scala UDF. Bump whenever the hash
    * bits change — stores must be re-ingested, not silently probed. */
  val SigVersion: Int = 2

  /** Representation of the persisted shingle sets: per-shingle XxHash64
    * longs ([[Dedup.hashShingles]]) — ~2.5× fewer at-rest bytes than raw
    * strings and long-vs-string `array_intersect` on every verify, with
    * set cardinalities (hence Jaccard) preserved up to a ≈1e-15
    * within-document collision bound. Persisted in the metadata like
    * [[SigVersion]]: a probe hashing differently than ingest would
    * verify nothing, so a store written under another representation
    * (or a legacy raw-string store, which carries no field) refuses
    * loudly — re-ingest with [[write]]. */
  val ShRepr: String = "xxhash64"

  /** Incremental probe: verified near-dup pairs `(id1, id2, jaccard)`
    * between `batch(doc_id, text)` and the store, PLUS pairs within the
    * batch itself. Old↔old pairs are by design absent — the corpus was
    * already deduplicated when the store was written.
    *
    * Signature parameters (k, bands, shingleN, prefix modulus) are read
    * from the store's OWN metadata, never passed by the caller — a probe
    * banding differently than ingest silently misses every pair.
    *
    * `maxBucket` caps collisions per (band, bh) bucket exactly like the
    * batch path (boilerplate guard). Batch doc_ids must be strictly
    * larger than all stored ones (checked against the store's ingest
    * watermark — see the monotone-ingest contract above). There is no
    * replay window: a caller retrying a batch asks the store whether
    * that batch's append committed (its `commitTag`, see
    * [[appendSignatures]]) and skips the probe when it did.
    */
  def probe(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8
  ): DataFrame =
    probeWithSignatures(spark, path, batch, maxBucket, minJaccard)._1

  /** As [[probe]], additionally returning the batch's checkpointed band
    * keys and shingle sets — callers that go on to [[appendSignatures]]
    * (the streaming loop) reuse them instead of paying the signature
    * expression a second time over the survivors. */
  def probeWithSignatures(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8
  ): (DataFrame, DataFrame, DataFrame) = {
    val m = readMeta(spark, path)
    val (k, bands, shingleN) = (m.k, m.bands, m.shingleN)
    // normalize the id type ONCE at entry — everything downstream
    // (unions with the long-typed store tables, the staged writes, the
    // watermark agg) assumes the long contract
    val b = batch.withColumn("doc_id", col("doc_id").cast("long"))
    // batch-side keys and shingles: batch-sized, computed ONCE (the
    // native MinHashSig expression is the dominant per-row cost — the
    // checkpointed keys feed both the prefix collect and the unified
    // pair stage below). Lazy (r8): the watermark agg and the prefix
    // collect below are each frame's first action and materialize it in
    // that job — the former eager checkpoints spent a dedicated job each
    // before any consumer ran; every later consumer reads the same
    // cached blocks either way (consumers are strictly sequential here).
    val bKeys = Dedup.bandedSignatures(b, k, bands, shingleN)
      .localCheckpoint(eager = false)
    val bSh = Dedup.distinctShingleHashSets(b, shingleN)
      .localCheckpoint(eager = false)

    // monotone-ingest guard, off the checkpointed batch-sized table (no
    // extra lineage run): a batch id at or below the stored watermark
    // breaks keep-min-representative semantics downstream
    val r = bSh.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .collect()(0)
    require(r.isNullAt(0) || r.getLong(0) > m.maxDocId,
      s"batch doc_ids [${r.get(0)}, ${r.get(1)}] vs the store's max " +
        s"ingested doc_id ${m.maxDocId} ($path) — incremental dedup " +
        "requires strictly monotone ingest ids (keep-min representatives " +
        "assume stored ids are smaller than batch ids). A misnumbered " +
        "source must be re-numbered, or the store rebuilt.")

    // 1. band partitions the batch can possibly collide into: ≤ nPrefixes
    //    literal values — a driver-side collect bounded by the partition
    //    fan-out, NOT by batch or corpus size
    val bhPfx = bKeys.select(pmod(col("bh"), lit(m.nPrefixes.toLong))
        .as("p")).distinct().collect().map(_.getLong(0))
    val oldBands = spark.read.schema(BandsSchema).parquet(s"$path/bands")
      .where(col("bh_pfx").isin(bhPfx.map(java.lang.Long.valueOf): _*))

    // 2. ONE pair stage over the merged bucket membership: old members of
    //    buckets the batch collides into (left-semi vs the broadcast
    //    batch keys — the pruned store side streams, nothing shuffles)
    //    unioned with ALL batch keys, then the EXACT batch-path cap and
    //    pair generation (Dedup.candidatePairsFromBanded). Running the
    //    cap over the merged membership is what makes probe ≡ the
    //    batch-touching subset of lshCandidatePairs(old ∪ batch) even on
    //    degenerate buckets — a per-side cap would keep a new doc the
    //    batch path's smallest-ids cap evicts.
    val batchBuckets = broadcast(bKeys.select(col("band"), col("bh")))
    val members = oldBands.select(col("doc_id"), col("band"), col("bh"))
      .join(batchBuckets, Seq("band", "bh"), "left_semi")
      .unionByName(bKeys.select(col("doc_id"), col("band"), col("bh")))
      // tolerate duplicate store rows (an allowReplay append can
      // re-append a batch): dedup the COLLIDING membership — bounded by
      // collisions + batch size, never corpus-scale — so duplicates
      // neither waste cap slots nor pair with themselves
      .dropDuplicates("doc_id", "band", "bh")
    val allPairs = Dedup.candidatePairsFromBanded(members, maxBucket)
    // keep only pairs touching the batch (old↔old pairs inside a
    // colliding bucket were already handled when the store was built)
    val batchIds = bSh.select(col("doc_id"))
    val pairs = allPairs
      .join(broadcast(batchIds.select(col("doc_id").as("id1"),
        lit(1).as("_n1"))), Seq("id1"), "left")
      .join(broadcast(batchIds.select(col("doc_id").as("id2"),
        lit(1).as("_n2"))), Seq("id2"), "left")
      .where(col("_n1").isNotNull || col("_n2").isNotNull)
      .select(col("id1"), col("id2"))
      .localCheckpoint(eager = false)

    // 4. old shingle sets for exactly the colliding docs: prune the
    //    shingle partitions by the colliding ids' prefixes, then
    //    broadcast-semi-join the (bounded) candidate id set
    val oldIds = pairs.select(col("id1").as("doc_id"))
      .unionByName(pairs.select(col("id2").as("doc_id")))
      .join(bSh.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .distinct().localCheckpoint(eager = false)
    val docPfx = oldIds.select(
        pmod(col("doc_id"), lit(m.nPrefixes.toLong)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val oldSh =
      if (docPfx.isEmpty)
        bSh.limit(0) // no cross pairs: no store read at all
      else spark.read.schema(ShinglesSchema).parquet(s"$path/shingles")
        .where(col("doc_pfx").isin(docPfx.map(java.lang.Long.valueOf): _*))
        .join(broadcast(oldIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("sh"))
        // duplicate-row tolerance, same reason as `members` above: the
        // verify join must see ONE shingle set per doc or pairs duplicate
        .dropDuplicates("doc_id")

    (Dedup.jaccardVerifyOnShingles(oldSh.unionByName(bSh), pairs,
      minJaccard), bKeys, bSh)
  }

  /** Fold a deduplicated batch INTO the store — the production loop's
    * second half (probe → drop/keep decisions upstream → append the
    * survivors so the NEXT batch dedups against them too). Band keys and
    * shingle sets are derived with the store's own metadata parameters
    * and appended into the existing prefix partitions. */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      allowReplay: Boolean = false): Unit =
    if (stageAppendBatch(spark, path, batch, allowReplay))
      commitStaged(spark, path)

  /** [[stageAppend]] with the frames derived from the store's own
    * parameters (the [[append]] front half) — package-visible so specs
    * can simulate a crash between staging and commit. */
  private[graft] def stageAppendBatch(spark: SparkSession, path: String,
      batch: DataFrame, allowReplay: Boolean = false): Boolean = {
    val m = readMeta(spark, path)
    val b = batch.withColumn("doc_id", col("doc_id").cast("long"))
    stageAppend(spark, path,
      Dedup.bandedSignatures(b, m.k, m.bands, m.shingleN),
      Dedup.distinctShingleHashSets(b, m.shingleN), allowReplay, None)
  }

  /** Append PRE-COMPUTED band keys + shingle sets (must come from this
    * store's own parameters — e.g. the frames [[probeWithSignatures]]
    * returns, filtered to the surviving doc_ids; `sh` must be the
    * HASHED representation, [[Dedup.hashShingles]]).
    *
    * Failure discipline (see the object scaladoc): the new files are
    * written into a staging directory while the live store — metadata
    * included — stays untouched and probeable; a journal records the
    * commit plan; then the commit window (metadata delete → renames →
    * metadata rewrite) is pure fast file moves, replayable by
    * [[recover]] after a crash.
    *
    * `commitTag` is the commit record of both incremental writers (the
    * streaming loop tags each epoch `<query id>#<batch id>`, the cleaning
    * chain's stage 4 a per-attempt id): it is persisted into the store
    * metadata in the same rename that commits the append, so
    * `readMeta(...).lastCommitTag` after [[recover]] positively answers
    * "did MY append commit?" — no second marker file, and no inference
    * from the watermark.
    *
    * `allowReplay` accepts a batch whose ids sit ENTIRELY at or below the
    * stored watermark (a re-append of rows already folded in — the
    * cleaning chain's `allowStoreReplay` resume); ids straddling the
    * watermark still refuse as a misnumbered source. The re-appended
    * duplicate rows are probe-tolerated and compactable.
    * `advanceWatermarkTo` raises the new watermark to at least the given
    * id, so a later batch must number above it even when the appended
    * slice's own max is lower. */
  def appendSignatures(spark: SparkSession, path: String,
      banded: DataFrame, shingleSets: DataFrame,
      allowReplay: Boolean = false,
      advanceWatermarkTo: Option[Long] = None,
      commitTag: Option[String] = None): Unit = {
    if (stageAppend(spark, path, banded, shingleSets, allowReplay,
        advanceWatermarkTo, commitTag))
      commitStaged(spark, path)
  }

  /** First half of [[appendSignatures]]: the staged writes, the guard
    * between them, and the journal. Returns false for an empty batch,
    * whose staging dir is deleted like a refused one's. Package-private
    * so specs can simulate a crash between staging and commit. */
  private[graft] def stageAppend(spark: SparkSession, path: String,
      banded: DataFrame, shingleSets: DataFrame,
      allowReplay: Boolean = false,
      advanceWatermarkTo: Option[Long] = None,
      commitTag: Option[String] = None): Boolean = {
    val m = readMeta(spark, path)
    // the store persists HASHED shingle sets (ShRepr) — a raw-string
    // append would never intersect hashed probe sets; refuse at the door
    require(shingleSets.schema("sh").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }, s"appendSignatures requires sh: array<long> " +
      s"(Dedup.hashShingles — the store's '$ShRepr' at-rest " +
      s"representation); got ${shingleSets.schema("sh").dataType.sql}")
    require(!fs(spark, path).exists(journalPath(path)),
      s"$path has an unfinished staged commit (${journalPath(path)}) — " +
        "run SignatureStore.recover first")
    val token = newToken()
    val staging = s"$path/$StagingPrefix$token"
    // the monotone-ingest guard and the new watermark are OBSERVED on the
    // staged shingles write: no agg job re-deriving the batch. A refused
    // or empty batch deletes its staging dir before the bands write.
    val guard = Observation("append guard")
    writePrefixed(
      shingleSets.select(col("doc_id").cast("long").as("doc_id"), col("sh"))
        .observe(guard, count(lit(1)).as("n"), min(col("doc_id")).as("mn"),
          max(col("doc_id")).as("mx")),
      "doc_pfx", pmod(col("doc_id"), lit(m.nPrefixes.toLong)),
      s"$staging/shingles")
    val g = guard.get
    // an empty batch observes null bounds, read as 0 and never used
    val (n, mn, mx) = (g("n").asInstanceOf[Long], g("mn").asInstanceOf[Long],
      g("mx").asInstanceOf[Long])
    if (n == 0 || !(mn > m.maxDocId ||
        (allowReplay && math.max(mx, advanceWatermarkTo.getOrElse(mx))
          <= m.maxDocId))) {
      fs(spark, path).delete(new Path(staging), true)
      require(n == 0,
        s"append batch doc_ids [$mn, $mx] vs the store's max ingested " +
          s"doc_id ${m.maxDocId} ($path) — incremental dedup requires " +
          "strictly monotone ingest ids. A true at-least-once replay sits " +
          "entirely at or below the watermark and passes with " +
          "allowReplay=true; anything else is a misnumbered source — " +
          "re-number the batch or rebuild the store.")
      return false
    }
    writePrefixed(banded.select(col("doc_id").cast("long").as("doc_id"),
        col("band"), col("bh")),
      "bh_pfx", pmod(col("bh"), lit(m.nPrefixes.toLong)), s"$staging/bands")
    val newMeta = m.copy(
      maxDocId = math.max(m.maxDocId,
        math.max(mx, advanceWatermarkTo.getOrElse(mx))),
      lastCommitTag = commitTag.getOrElse(""))
    writeJournal(spark, path, Journal("append", token, newMeta))
    true
  }

  /** Replay/execute the journaled commit: metadata delete, staged-file
    * renames (idempotent — a file already moved is skipped; an already-
    * swapped directory is recognized), metadata rewrite, cleanup. Driven
    * entirely by the journal so [[recover]] can call it after a crash at
    * ANY point past the journal write. */
  private[graft] def commitStaged(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    // validate the WHOLE commit plan before touching the live store:
    // readJournal parses and checks the meta payload too. The journal
    // write is atomic (temp + rename), but a corrupt journal must fail
    // HERE — after deleteMeta a malformed meta payload would replace the
    // good live metadata and brick the store the journal was supposed to
    // protect
    val j = readJournal(spark, path)
    require(j.op == "append" || j.op == "replace_parts",
      s"unknown journal op '${j.op}' in $path")
    val staging = new Path(s"$path/$StagingPrefix${j.token}")
    deleteMeta(spark, path)
    j.op match {
      case "append" =>
        Seq("bands", "shingles").foreach { table =>
          moveStagedFilesIn(f, new Path(staging, table),
            new Path(s"$path/$table"))
        }
      case "replace_parts" =>
        // compaction: swap exactly the PARTITION directories staged under
        // the staging root, each an idempotent unit (staged dir present ⇒
        // not yet swapped; absent ⇒ already swapped on a previous replay)
        val trash = new Path(s"$path/_trash_${j.token}")
        Seq("bands", "shingles").foreach { table =>
          val stagedTable = new Path(staging, table)
          if (f.exists(stagedTable)) {
            f.mkdirs(new Path(trash, table))
            f.listStatus(stagedTable).foreach { part =>
              val name = part.getPath.getName
              if (part.isDirectory && name.contains("=")) {
                val live = new Path(s"$path/$table/$name")
                if (f.exists(live))
                  require(f.rename(live, new Path(trash, s"$table/$name")),
                    s"rename $live -> $trash failed")
                require(f.rename(part.getPath, live),
                  s"rename ${part.getPath} -> $live failed")
              }
            }
          }
        }
        f.delete(trash, true)
      case other => // unreachable: validated before the commit window
        throw new IllegalStateException(s"op '$other' passed validation")
    }
    writeMeta(spark, path, j.meta)
    f.delete(staging, true)
    f.delete(journalPath(path), false)
  }

  /** Repair a store whose staged commit was interrupted: if a commit
    * journal exists, replay the commit to completion and return true;
    * otherwise the store needs no recovery (false). After recover the
    * store contains the staged batch and valid metadata — no re-ingest.
    *
    * Either way, orphaned staging/trash directories are swept: a crash
    * BEFORE the journal write leaves a staging dir no journal references
    * (the live store was never touched, so the append is simply lost and
    * will be retried by the caller) — safe to delete under the store's
    * single-writer contract. */
  def recover(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val repaired =
      if (!f.exists(journalPath(path))) false
      else { commitStaged(spark, path); true }
    // post-commit (or no-journal) sweep: nothing references staging or
    // trash dirs anymore
    if (f.exists(new Path(path))) {
      f.listStatus(new Path(path)).foreach { st =>
        val n = st.getPath.getName
        val orphanDir = st.isDirectory &&
          (n.startsWith(StagingPrefix) || n.startsWith("_trash_"))
        // a crash inside a metadata or journal write leaves its
        // temp file behind — same orphan class, swept the same way
        val orphanTmp = !st.isDirectory && ManifestRecord.isTemp(n)
        if (orphanDir || orphanTmp) f.delete(st.getPath, true)
      }
    }
    repaired
  }

  /** Small-file compaction for a long-running append loop (one file per
    * touched partition per micro-batch). Same journaled commit discipline
    * as [[appendSignatures]]: the compacted data is staged while the live
    * store stays valid, then swapped in renames replayable by
    * [[recover]]. Probe results are unchanged (spec-asserted).
    *
    * Only partitions whose data-file count exceeds `maxFilesPerPartition`
    * are rewritten, each into one file; the others keep their exact files
    * (spec-asserted by file listing) and none of their bytes move. The
    * default 0 rewrites every partition that holds a file. A positive
    * bound is the shape a maintenance cadence wants at scale: an
    * append loop touches a skewed subset of partitions per batch, and a
    * whole-store rewrite per compaction would read the full corpus'
    * shingle sets every K batches. */
  def compact(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 0): Unit =
    if (stageCompact(spark, path, maxFilesPerPartition))
      commitStaged(spark, path)

  /** First half of [[compact]]: stage the rewritten partitions and write
    * the journal. Returns false (staging nothing) when a threshold-gated
    * pass finds no partition over the bound. Package-private so specs can
    * simulate a crash inside the commit window. */
  private[graft] def stageCompact(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 0): Boolean = {
    val m = readMeta(spark, path)
    val f = fs(spark, path)
    require(!f.exists(journalPath(path)),
      s"$path has an unfinished staged commit — run recover first")
    // partitions over the file-count bound, from one driver-side listing
    // per table (≤ nPrefixes dirs — bounded by the layout fan-out, not by
    // data size)
    def fragmented(table: String): Seq[Path] = {
      val t = new Path(s"$path/$table")
      if (!f.exists(t)) Nil
      else f.listStatus(t).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .filter { st =>
          f.listStatus(st.getPath).count { fl =>
            val n = fl.getPath.getName
            !fl.isDirectory && !n.startsWith("_") && !n.startsWith(".")
          } > maxFilesPerPartition
        }
        .map(_.getPath)
    }
    val tables = Seq(("bands", BandsSchema, "bh_pfx"),
        ("shingles", ShinglesSchema, "doc_pfx"))
      .map { case (table, schema, pfx) => (table, schema, pfx, fragmented(table)) }
      .filter(_._4.nonEmpty)
    if (tables.isEmpty) return false // nothing over the bound
    // stage ONLY the fragmented partitions (basePath keeps the partition
    // column from the directory names); the staged partition listing IS
    // the commit plan — commitStaged swaps exactly the partition
    // directories present under the staging root, so the journal needs
    // no partition list to mis-parse
    val token = newToken()
    tables.foreach { case (table, schema, pfx, parts) =>
      writePrefixed(spark.read.schema(schema)
          .option("basePath", s"$path/$table")
          .parquet(parts.map(_.toString): _*),
        pfx, col(pfx), s"$path/$StagingPrefix$token/$table")
    }
    writeJournal(spark, path, Journal("replace_parts", token, m))
    true
  }

  private val StagingPrefix = "_staging_"

  /** `df` with its `pfx` column set to `prefix`, written partitioned by
    * it. A partitioned write costs per FILE while AQE coalesces by bytes,
    * packing a small append's prefix files into one task; a by-number
    * repartition is never coalesced. Each prefix still lands in one task
    * (one file per prefix per write). */
  private def writePrefixed(df: DataFrame, pfx: String, prefix: Column,
      dir: String): Unit =
    WriteFs.write(df.withColumn(pfx, prefix)
      .repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col(pfx)))
      .mode("overwrite").partitionBy(pfx).parquet(dir)

  /** Unique-enough commit token: wall clock + pid (single-writer store —
    * concurrent appends to one store are out of contract). */
  private def newToken(): String =
    s"${System.currentTimeMillis()}_${ProcessHandle.current().pid()}"

  /** Move every staged data file into the live partition tree. Renames
    * only; idempotent (replayable after a crash mid-move): Spark part-
    * file names are globally unique, so an existing target means THIS
    * file was already moved. */
  private def moveStagedFilesIn(f: FileSystem, stagedTable: Path,
      liveTable: Path): Unit = {
    if (!f.exists(stagedTable)) return // already fully moved + cleaned
    f.listStatus(stagedTable).foreach { part =>
      val name = part.getPath.getName
      if (part.isDirectory && name.contains("=")) {
        val target = new Path(liveTable, name)
        f.mkdirs(target)
        f.listStatus(part.getPath).foreach { file =>
          val fn = file.getPath.getName
          if (!fn.startsWith("_") && !fn.startsWith(".")) {
            val t = new Path(target, fn)
            if (!f.exists(t))
              require(f.rename(file.getPath, t),
                s"rename ${file.getPath} -> $t failed")
          }
        }
      }
    }
  }

  /** The store's metadata. `lastCommitTag` is the opaque caller-chosen
    * id of the LAST committed append (see [[appendSignatures]]); empty
    * for untagged commits. Compaction preserves it: it rewrites tables,
    * not append history. */
  private[graft] final case class Meta(nPrefixes: Int, k: Int, bands: Int,
      shingleN: Int, maxDocId: Long, lastCommitTag: String = "")

  private final case class Journal(op: String, token: String, meta: Meta)

  // metadata goes through the Hadoop filesystem of the store path — the
  // same filesystem the parquet tables live on — so the store works on
  // hdfs://, s3a://, and shared mounts, not just the driver's local disk
  private def metaPath(path: String) =
    new Path(s"$path/_store_meta.json")
  private def journalPath(path: String) =
    new Path(s"$path/_commit_journal.json")
  private def fs(spark: SparkSession, path: String) =
    WriteFs.of(spark, metaPath(path))

  private def deleteMeta(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(metaPath(path), false)

  /** Metadata and journal go through the shared temp + rename writer
    * onto an absent file: every metadata writer deletes the old metadata
    * first, and both journal writers require that no journal exists. A
    * crash mid-write leaves no file or a COMPLETE one, never a truncated
    * plan for recover to misapply. Local and HDFS renames are atomic;
    * object stores without atomic rename still get the validation
    * backstop in [[commitStaged]]. */
  private def writeMeta(spark: SparkSession, path: String, m: Meta): Unit =
    ManifestRecord.writeString(spark, metaPath(path),
      JsonMethods.compact(metaJson(m)))
  private def writeJournal(spark: SparkSession, path: String,
      j: Journal): Unit =
    ManifestRecord.writeString(spark, journalPath(path),
      JsonMethods.compact(JObject("jv" -> JInt(JournalVersion),
        "op" -> JString(j.op), "token" -> JString(j.token),
        "meta" -> metaJson(j.meta))))

  /** The metadata's one JSON form, keys in this fixed order. The JSON
    * library escapes the strings, so any caller tag reads back exactly;
    * [[parseMeta]] is its inverse. */
  private def metaJson(m: Meta): JObject = JObject(
    "nPrefixes" -> JInt(m.nPrefixes), "k" -> JInt(m.k),
    "bands" -> JInt(m.bands), "shingleN" -> JInt(m.shingleN),
    "sigVersion" -> JInt(SigVersion), "shRepr" -> JString(ShRepr),
    "maxDocId" -> JInt(m.maxDocId),
    "lastCommitTag" -> JString(m.lastCommitTag))

  /** The journal's format version. The explicit `jv` field makes format
    * drift fail LOUDLY at read time; [[readJournal]] refuses any version
    * it does not know. Bump it whenever the field set changes. */
  private val JournalVersion = 1

  private type Fields = Map[String, JValue]

  /** The fields of a JSON object payload, refusing anything else. */
  private def fields(json: String, where: String): Fields =
    JsonMethods.parseOpt(json) match {
      case Some(JObject(fs)) => fs.toMap
      case _ => throw new IllegalArgumentException(
        s"malformed $where (not a JSON object): $json")
    }
  private def num(f: Fields, name: String): Option[BigInt] =
    f.get(name).collect { case JInt(v) => v }
  private def str(f: Fields, name: String): Option[String] =
    f.get(name).collect { case JString(v) => v }

  private def readJournal(spark: SparkSession, path: String): Journal = {
    val p = journalPath(path)
    val json = ManifestRecord.readString(spark, p)
      .getOrElse(sys.error(s"no commit journal in $path"))
    val f = fields(json, s"journal $p")
    // version gate first: a journal written by a different layout must
    // refuse here, not be read by this version's field names
    val jv = num(f, "jv")
    require(jv.contains(BigInt(JournalVersion)),
      s"journal $p has format version " +
        s"${jv.map(_.toString).getOrElse("<missing>")}, this engine " +
        s"reads version $JournalVersion — the store needs recovery by " +
        "the engine version that wrote the journal (journals are " +
        "transient: none should outlive an upgrade)")
    def missing(name: String) = sys.error(
      s"malformed journal (missing $name): $json")
    val meta = f.get("meta").collect { case JObject(fs) => fs.toMap }
      .getOrElse(missing("meta"))
    Journal(str(f, "op").getOrElse(missing("op")),
      str(f, "token").getOrElse(missing("token")),
      parseMeta(meta, s"journal $p"))
  }

  /** The store's signature parameters, read from the layout's own
    * metadata (written by [[write]]) so probes/appends cannot silently
    * use different banding than ingest did. */
  private[graft] def readMeta(spark: SparkSession, path: String): Meta = {
    val p = metaPath(path)
    val json = ManifestRecord.readString(spark, p)
    require(json.isDefined,
      s"$path/_store_meta.json missing — was the store written with " +
        "SignatureStore.write? (an interrupted write deletes it first, " +
        "so a meta-less store is an incomplete one; an interrupted " +
        "staged append/compact is repairable with SignatureStore.recover)")
    parseMeta(fields(json.get, p.toString), p.toString)
  }

  /** Validate the metadata's fields — shared by [[readMeta]] and
    * [[readJournal]], so a journal's meta payload is validated before
    * [[commitStaged]] opens the commit window. */
  private def parseMeta(f: Fields, where: String): Meta = {
    def field(name: String): Int = {
      val v = num(f, name).filter(_.isValidInt)
      require(v.isDefined, s"malformed $where (missing $name)")
      v.get.toInt
    }
    val version = num(f, "sigVersion").getOrElse(BigInt(1))
    require(version == SigVersion,
      s"$where was written with signature version $version, this engine " +
        s"computes version $SigVersion — band hashes from different " +
        "versions never collide, so probing would silently admit every " +
        "near-duplicate. Re-ingest the store with SignatureStore.write.")
    // stores written before shingle sets were hashed at rest carry no
    // shRepr — their raw-string sets never intersect recomputed hashed
    // batch sets, so verification would emit nothing; refuse loudly
    val shRepr = str(f, "shRepr").getOrElse("raw")
    require(shRepr == ShRepr,
      s"$where persists shingle sets in representation '$shRepr', this " +
        s"engine computes '$ShRepr' — verify joins across " +
        "representations match nothing, silently admitting every " +
        "near-duplicate. Re-ingest the store with SignatureStore.write.")
    // stores written before the watermark existed carry no maxDocId —
    // treat them as empty-watermarked (every batch id passes), so old
    // stores keep probing; new writes always persist the field.
    // lastCommitTag is absent on stores written before tagged commits
    val maxDocId = num(f, "maxDocId").filter(_.isValidLong).map(_.toLong)
      .getOrElse(Long.MinValue)
    Meta(field("nPrefixes"), field("k"), field("bands"), field("shingleN"),
      maxDocId, str(f, "lastCommitTag").getOrElse(""))
  }
}

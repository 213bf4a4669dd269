package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.hadoop.fs.{FileSystem, Path}

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
  * the live store untouched. [[compact]] uses the same journaled
  * discipline with whole-directory swaps.
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
    writeMeta(spark, path,
      metaJson(nPrefixes, k, bands, shingleN, Long.MinValue))
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
    Dedup.bandRowsFromSigs(
        staged.where(size(col("sh")) > 0).select(col("doc_id"), col("sig")),
        k, bands)
      .withColumn("bh_pfx", pmod(col("bh"), lit(nPrefixes.toLong)))
      .repartition(col("bh_pfx"))
      .write.mode("overwrite").partitionBy("bh_pfx")
      .parquet(s"$path/bands")
    staged.select(col("doc_id"), col("sh"))
      .withColumn("doc_pfx", pmod(col("doc_id"), lit(nPrefixes.toLong)))
      .repartition(col("doc_pfx"))
      .write.mode("overwrite").partitionBy("doc_pfx")
      .parquet(s"$path/shingles")
    // the partition modulus is part of the layout contract: a probe with
    // a different P computes prefixes that miss the written partitions,
    // so P travels WITH the store, never as a caller-remembered argument.
    // sigVersion pins the HASH ALGORITHM itself — band hashes from a
    // different signature implementation never collide with recomputed
    // batch hashes, so a version drift would silently admit every
    // near-duplicate; readMeta refuses loudly instead.
    writeMeta(spark, path, metaJson(nPrefixes, k, bands, shingleN, maxDocId))
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

  /** `commitTag`: an opaque caller-chosen id of the LAST committed
    * append, persisted so a resumable caller (the cleaning chain's
    * stage 4) can decide "did MY append commit?" POSITIVELY from the
    * store itself instead of inferring it from the watermark — an
    * inference that goes wrong when the watermark already covers the
    * batch ids for another reason (allowReplay re-runs, a later batch).
    * Empty for untagged commits; compaction preserves the current tag
    * (it rewrites tables, not append history). */
  private def metaJson(nPrefixes: Int, k: Int, bands: Int,
      shingleN: Int, maxDocId: Long, commitTag: String = ""): String =
    s"""{"nPrefixes":$nPrefixes,"k":$k,"bands":$bands,""" +
      s""""shingleN":$shingleN,"sigVersion":$SigVersion,""" +
      s""""shRepr":"$ShRepr","maxDocId":$maxDocId,""" +
      s""""lastCommitTag":"$commitTag"}"""

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
    * watermark — see the monotone-ingest contract above).
    */
  def probe(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      allowReplay: Boolean = false
  ): DataFrame =
    probeWithSignatures(spark, path, batch, maxBucket, minJaccard,
      allowReplay)._1

  /** As [[probe]], additionally returning the batch's checkpointed band
    * keys and shingle sets — callers that go on to [[appendSignatures]]
    * (the streaming loop) reuse them instead of paying the signature
    * expression a second time over the survivors.
    *
    * `allowReplay` relaxes the monotone-id refusal for an AT-LEAST-ONCE
    * replay of a batch already folded into the store (the streaming
    * loop's crash-retry path). The relaxation is a WINDOW, not an
    * off-switch: it accepts the batch only when its ids sit ENTIRELY at
    * or below the stored watermark — the signature of a true replay,
    * provided the watermark was advanced to the full batch max at append
    * time ([[appendSignatures]]' `advanceWatermarkTo`). A misnumbered
    * source (ids straddling the watermark, or dipping below it on a
    * batch that is not a replay of the last one) still refuses loudly.
    * Replay pair semantics stay exact: the merged bucket membership
    * deduplicates the batch's own stored rows. */
  def probeWithSignatures(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8,
      allowReplay: Boolean = false
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
    if (!r.isNullAt(0)) {
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val isNew = mn > m.maxDocId
      val isReplay = allowReplay && mx <= m.maxDocId
      require(isNew || isReplay,
        s"batch doc_ids [$mn, $mx] vs the store's max ingested doc_id " +
          s"${m.maxDocId} ($path) — incremental dedup requires strictly " +
          "monotone ingest ids (keep-min representatives assume stored " +
          "ids are smaller than batch ids). A true at-least-once replay " +
          "sits entirely at or below the watermark and passes with " +
          "allowReplay=true; anything else is a misnumbered source — " +
          "re-number the batch or rebuild the store.")
    }

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
      // tolerate duplicate store rows (an at-least-once append retry can
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
    * `advanceWatermarkTo`: a caller appending a FILTERED slice of a batch
    * (the streaming loop appends survivors only) passes the FULL batch's
    * max id here, so a crash-replay of that batch — whose max may exceed
    * the max surviving id — still falls entirely at or below the
    * watermark and is recognized as a replay rather than refused.
    *
    * `commitTag`: optional caller-chosen id persisted into the store
    * metadata WITH the commit (see [[metaJson]]) — readable back via
    * `readMeta(...).lastCommitTag` as positive proof that this specific
    * append's commit completed. */
  def appendSignatures(spark: SparkSession, path: String,
      banded: DataFrame, shingleSets: DataFrame,
      allowReplay: Boolean = false,
      advanceWatermarkTo: Option[Long] = None,
      commitTag: Option[String] = None): Unit = {
    if (stageAppend(spark, path, banded, shingleSets, allowReplay,
        advanceWatermarkTo, commitTag))
      commitStaged(spark, path)
  }

  /** First half of [[appendSignatures]]: the guard, the staged writes,
    * and the journal. Returns false (and stages nothing) for an empty
    * batch. Package-private so specs can simulate a crash between
    * staging and commit. */
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
    // monotone-ingest guard + the new watermark, one batch-sized job
    // (cast before the agg — int-typed ids must not ClassCastException)
    val r = shingleSets
      .agg(min(col("doc_id").cast("long")).as("mn"),
        max(col("doc_id").cast("long")).as("mx"))
      .collect()(0)
    if (r.isNullAt(0)) return false
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    require(mn > m.maxDocId ||
      (allowReplay && math.max(mx, advanceWatermarkTo.getOrElse(mx))
        <= m.maxDocId),
      s"append batch doc_ids [$mn, $mx] vs the store's max ingested " +
        s"doc_id ${m.maxDocId} ($path) — incremental dedup requires " +
        "strictly monotone ingest ids. A true at-least-once replay sits " +
        "entirely at or below the watermark and passes with " +
        "allowReplay=true; anything else is a misnumbered source — " +
        "re-number the batch or rebuild the store.")
    val token = newToken()
    val staging = s"$path/$StagingPrefix$token"
    banded.select(col("doc_id").cast("long").as("doc_id"), col("band"),
        col("bh"))
      .withColumn("bh_pfx", pmod(col("bh"), lit(m.nPrefixes.toLong)))
      .repartition(col("bh_pfx"))
      .write.mode("overwrite").partitionBy("bh_pfx")
      .parquet(s"$staging/bands")
    shingleSets.select(col("doc_id").cast("long").as("doc_id"), col("sh"))
      .withColumn("doc_pfx", pmod(col("doc_id"), lit(m.nPrefixes.toLong)))
      .repartition(col("doc_pfx"))
      .write.mode("overwrite").partitionBy("doc_pfx")
      .parquet(s"$staging/shingles")
    val newMeta = metaJson(m.nPrefixes, m.k, m.bands, m.shingleN,
      math.max(m.maxDocId, math.max(mx, advanceWatermarkTo.getOrElse(mx))),
      commitTag.getOrElse(""))
    writeJournal(spark, path, journalJson("append", token, newMeta))
    true
  }

  /** Replay/execute the journaled commit: metadata delete, staged-file
    * renames (idempotent — a file already moved is skipped; an already-
    * swapped directory is recognized), metadata rewrite, cleanup. Driven
    * entirely by the journal so [[recover]] can call it after a crash at
    * ANY point past the journal write. */
  private[graft] def commitStaged(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val j = readJournal(spark, path)
    // validate the WHOLE commit plan before touching the live store: the
    // journal write is atomic (temp + rename), but a corrupt journal must
    // fail HERE — after deleteMeta a malformed meta payload would replace
    // the good live metadata and brick the store the journal was supposed
    // to protect
    parseMeta(j.meta, s"journal ${journalPath(path)}")
    require(j.op == "append" || j.op == "replace" || j.op == "replace_parts",
      s"unknown journal op '${j.op}' in $path")
    val staging = new Path(s"$path/$StagingPrefix${j.token}")
    deleteMeta(spark, path)
    j.op match {
      case "append" =>
        Seq("bands", "shingles").foreach { table =>
          moveStagedFilesIn(f, new Path(staging, table),
            new Path(s"$path/$table"))
        }
      case "replace" =>
        val trash = new Path(s"$path/_trash_${j.token}")
        f.mkdirs(trash)
        Seq("bands", "shingles").foreach { table =>
          val staged = new Path(staging, table)
          val live = new Path(s"$path/$table")
          // idempotent swap: if the staged dir still exists, `live` (if
          // present) is the OLD table — move it aside and swap in; if the
          // staged dir is gone, this table was already swapped
          if (f.exists(staged)) {
            if (f.exists(live))
              require(f.rename(live, new Path(trash, table)),
                s"rename $live -> $trash failed")
            require(f.rename(staged, live), s"rename $staged -> $live failed")
          }
        }
        f.delete(trash, true)
      case "replace_parts" =>
        // the threshold-gated compaction: swap exactly the PARTITION
        // directories staged under the staging root, same per-unit
        // idempotent discipline as "replace" (staged dir present ⇒ not
        // yet swapped; absent ⇒ already swapped on a previous replay)
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
        // a crash between the tmp-journal write and its rename leaves
        // the tmp file behind — same orphan class, swept the same way
        val orphanTmp = !st.isDirectory && n == "._commit_journal.tmp"
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
    * `maxFilesPerPartition = 0` (default) rewrites BOTH tables wholesale
    * into one file per prefix partition. A positive bound makes the
    * compaction THRESHOLD-GATED: only partitions whose data-file count
    * exceeds the bound are rewritten — untouched partitions keep their
    * exact files (spec-asserted by file listing) and none of their bytes
    * move. That is the shape a maintenance cadence wants at scale: an
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
    val token = newToken()
    val staging = s"$path/$StagingPrefix$token"
    if (maxFilesPerPartition <= 0) {
      spark.read.schema(BandsSchema).parquet(s"$path/bands")
        .repartition(col("bh_pfx"))
        .write.mode("overwrite").partitionBy("bh_pfx")
        .parquet(s"$staging/bands")
      spark.read.schema(ShinglesSchema).parquet(s"$path/shingles")
        .repartition(col("doc_pfx"))
        .write.mode("overwrite").partitionBy("doc_pfx")
        .parquet(s"$staging/shingles")
      writeJournal(spark, path, journalJson("replace", token,
        metaJson(m.nPrefixes, m.k, m.bands, m.shingleN, m.maxDocId,
          m.lastCommitTag)))
      true
    } else {
      // partitions over the file-count bound, from one driver-side
      // listing (≤ nPrefixes dirs per table — bounded by the layout
      // fan-out, not by data size)
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
      val fb = fragmented("bands")
      val fsh = fragmented("shingles")
      if (fb.isEmpty && fsh.isEmpty) return false // nothing over the bound
      // stage ONLY the fragmented partitions (basePath keeps the
      // partition column from the directory names); the staged partition
      // listing IS the commit plan — commitStaged swaps exactly the
      // partition directories present under the staging root, so the
      // journal needs no partition list to mis-parse
      if (fb.nonEmpty)
        spark.read.schema(BandsSchema)
          .option("basePath", s"$path/bands")
          .parquet(fb.map(_.toString): _*)
          .repartition(col("bh_pfx"))
          .write.mode("overwrite").partitionBy("bh_pfx")
          .parquet(s"$staging/bands")
      if (fsh.nonEmpty)
        spark.read.schema(ShinglesSchema)
          .option("basePath", s"$path/shingles")
          .parquet(fsh.map(_.toString): _*)
          .repartition(col("doc_pfx"))
          .write.mode("overwrite").partitionBy("doc_pfx")
          .parquet(s"$staging/shingles")
      writeJournal(spark, path, journalJson("replace_parts", token,
        metaJson(m.nPrefixes, m.k, m.bands, m.shingleN, m.maxDocId,
          m.lastCommitTag)))
      true
    }
  }

  private val StagingPrefix = "_staging_"

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

  private[ops] final case class Meta(nPrefixes: Int, k: Int, bands: Int,
      shingleN: Int, maxDocId: Long, lastCommitTag: String = "")

  private final case class Journal(op: String, token: String, meta: String)

  // metadata goes through the Hadoop filesystem of the store path — the
  // same filesystem the parquet tables live on — so the store works on
  // hdfs://, s3a://, and shared mounts, not just the driver's local disk
  private def metaPath(path: String) =
    new Path(s"$path/_store_meta.json")
  private def journalPath(path: String) =
    new Path(s"$path/_commit_journal.json")
  private def fs(spark: SparkSession, path: String) =
    metaPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def deleteMeta(spark: SparkSession, path: String): Unit =
    fs(spark, path).delete(metaPath(path), false)

  private def writeMeta(spark: SparkSession, path: String,
      json: String): Unit = {
    val out = fs(spark, path).create(metaPath(path), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Atomic journal write: a crash mid-write must leave either no
    * journal (the append is simply lost — live store untouched) or a
    * COMPLETE one, never a truncated plan for recover to misapply. Local
    * and HDFS renames are atomic; object stores without atomic rename
    * still get the validation backstop in [[commitStaged]]. */
  private def writeJournal(spark: SparkSession, path: String,
      json: String): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(s"$path/._commit_journal.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    f.delete(journalPath(path), false)
    require(f.rename(tmp, journalPath(path)),
      s"rename $tmp -> ${journalPath(path)} failed")
  }

  /** The journal's pinned wire layout. The explicit `jv` field makes
    * format drift fail LOUDLY at read time instead of silently
    * mis-slicing the meta payload; [[readJournal]] refuses any version it
    * does not know. Bump [[JournalVersion]] whenever the field set or
    * order changes. */
  private val JournalVersion = 1
  private def journalJson(op: String, token: String, meta: String): String =
    s"""{"jv":$JournalVersion,"op":"$op","token":"$token","meta":$meta}"""

  private def readJournal(spark: SparkSession, path: String): Journal = {
    val f = fs(spark, path)
    val in = f.open(journalPath(path))
    val json =
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    // version gate first: a journal written by a different layout must
    // refuse here, not be sliced by this version's anchors
    val jv = (""""jv"\s*:\s*(\d+)""").r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
    require(jv.contains(JournalVersion),
      s"journal ${journalPath(path)} has format version " +
        s"${jv.map(_.toString).getOrElse("<missing>")}, this engine " +
        s"reads version $JournalVersion — the store needs recovery by " +
        "the engine version that wrote the journal (journals are " +
        "transient: none should outlive an upgrade)")
    // meta is the LAST field by the pinned layout: anchor its extraction
    // on that, and parse op/token ONLY from the prefix before it so a
    // future meta payload containing "op"/"token"-shaped text can never
    // shadow the real fields
    val metaIdx = json.indexOf(""""meta":""")
    require(metaIdx >= 0 && json.endsWith("}"),
      s"malformed journal (no meta tail): $json")
    val meta = json.substring(metaIdx + 7, json.length - 1)
    require(meta.startsWith("{") && meta.endsWith("}"),
      s"malformed journal meta payload: $meta")
    val head = json.substring(0, metaIdx)
    def str(name: String): String =
      (s""""$name"\\s*:\\s*"([^"]+)"""").r.findFirstMatchIn(head)
        .getOrElse(sys.error(s"malformed journal (missing $name): $json"))
        .group(1)
    Journal(str("op"), str("token"), meta)
  }

  /** The store's signature parameters, read from the layout's own
    * metadata (written by [[write]]) so probes/appends cannot silently
    * use different banding than ingest did. */
  private[ops] def readMeta(spark: SparkSession, path: String): Meta = {
    val f = fs(spark, path)
    val p = metaPath(path)
    require(f.exists(p),
      s"$path/_store_meta.json missing — was the store written with " +
        "SignatureStore.write? (an interrupted write deletes it first, " +
        "so a meta-less store is an incomplete one; an interrupted " +
        "staged append/compact is repairable with SignatureStore.recover)")
    val in = f.open(p)
    val json =
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    parseMeta(json, p.toString)
  }

  /** Parse + validate a metadata JSON payload — shared by [[readMeta]]
    * and [[commitStaged]]'s pre-commit journal validation. */
  private def parseMeta(json: String, where: String): Meta = {
    def field(name: String): Int = {
      val m = (s""""$name"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(json)
      require(m.isDefined, s"malformed $where (missing $name): $json")
      m.get.group(1).toInt
    }
    val version =
      (""""sigVersion"\s*:\s*(\d+)""").r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(1)
    require(version == SigVersion,
      s"$where was written with signature version $version, this engine " +
        s"computes version $SigVersion — band hashes from different " +
        "versions never collide, so probing would silently admit every " +
        "near-duplicate. Re-ingest the store with SignatureStore.write.")
    // stores written before shingle sets were hashed at rest carry no
    // shRepr — their raw-string sets never intersect recomputed hashed
    // batch sets, so verification would emit nothing; refuse loudly
    val shRepr =
      (""""shRepr"\s*:\s*"([^"]*)"""").r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("raw")
    require(shRepr == ShRepr,
      s"$where persists shingle sets in representation '$shRepr', this " +
        s"engine computes '$ShRepr' — verify joins across " +
        "representations match nothing, silently admitting every " +
        "near-duplicate. Re-ingest the store with SignatureStore.write.")
    // stores written before the watermark existed carry no maxDocId —
    // treat them as empty-watermarked (every batch id passes), so old
    // stores keep probing; new writes always persist the field
    val maxDocId =
      (""""maxDocId"\s*:\s*(-?\d+)""").r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(Long.MinValue)
    // optional (absent on stores written before tagged commits existed,
    // and empty after any untagged commit)
    val lastCommitTag =
      (""""lastCommitTag"\s*:\s*"([^"]*)"""").r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("")
    Meta(field("nPrefixes"), field("k"), field("bands"), field("shingleN"),
      maxDocId, lastCommitTag)
  }
}

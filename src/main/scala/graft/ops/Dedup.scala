package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a `documents(doc_id, text)`
  * table — the training-data-pipeline layer.
  *
  * Scale design:
  *  - exact dedup is a hash-groupBy on `md5(text)` — one shuffle keyed by
  *    the digest, uniform by construction (no skew possible);
  *  - MinHash+LSH never compares all pairs: signatures are computed in one
  *    narrow pass, the only shuffles are groupBys on (band, bandHash)
  *    buckets, and candidate pairs are generated per bucket with a cap so a
  *    degenerate bucket (e.g. boilerplate-heavy crawl data) cannot produce
  *    a quadratic explosion — the cap is reported, not silent;
  *  - SimHash is a single narrow projection to a 64-bit signature; near-dup
  *    candidates are pairs equal on rotated prefix buckets;
  *  - exact n-gram Jaccard runs only on LSH candidates (verification).
  */
object Dedup {

  // ---- exact ---------------------------------------------------------

  /** Exact duplicate groups: one row per distinct text with the
    * representative (min doc_id) and group size. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))

  /** Documents surviving exact dedup (keep min doc_id per text). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("_h", md5(col("text").cast("binary")))
      .withColumn("_rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("_h")).orderBy(col("doc_id"))))
      .where(col("_rn") === 1)
      .drop("_h", "_rn")

  // ---- MinHash + LSH ---------------------------------------------------

  /** Word shingles (n-gram tokens joined by space) from a PRE-STAGED token
    * array column. Callers must alias the `split` into its own column
    * first: higher-order functions are interpreted (no codegen, no common-
    * subexpression elimination), so a `split(text)` inlined inside a
    * lambda re-tokenizes the document once per lambda invocation —
    * staging through an alias keeps it once per row (CollapseProject
    * does not inline expensive multi-referenced aliases). */
  def shinglesFromToks(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Convenience single-expression form — only for one-shot use on small
    * inputs; hot paths must stage (see [[shinglesFromToks]]). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromToks(split(text, " "), n)

  /** Single-pass MinHash signature — one tokenize pass, one hash per
    * shingle, one splitmix64 lane mix per permutation. Backed by the
    * native codegen'd [[graft.functions.MinHashSig]] expression in the
    * distributed path (no UDF, no String materialization; the historical
    * Scala-UDF form is gone — it boxed every row through an encoder and
    * broke WholeStageCodegen at the projection). This scalar form is the
    * driver/test-side reference, bit-identical to the expression for
    * NON-NULL input; on null the expression follows SQL semantics (NULL
    * out, `UnaryExpression` convention) while this scalar returns the
    * all-MaxValue sentinel. */
  def minhashSignatureScala(text: String, k: Int, n: Int): Array[Long] = {
    if (text == null) return Array.fill(k)(Long.MaxValue)
    graft.functions.MinHashSig.computeBytes(text.getBytes("UTF-8"), k, n)
  }

  /** MinHash signature column via the native expression. */
  def minhashSignature(text: Column, k: Int, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MinHashSig(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), k, n))

  /** Banded signature rows `(doc_id, band, bh)` for a documents table —
    * the shared key derivation of the batch LSH path and the persisted
    * signature store ([[SignatureStore]]); both MUST band identically or
    * incremental probes miss pairs the batch path finds. Sub-shingle docs
    * (fewer than `shingleN` tokens → no shingles) are gated out so they
    * cannot collide into one degenerate all-MaxValue bucket. `doc_id` is
    * taken in as long, the type of the bucket cap's ids. */
  private[ops] def bandedSignatures(
      docs: DataFrame,
      k: Int,
      bands: Int,
      shingleN: Int
  ): DataFrame = {
    val sig = docs
      .where(size(split(col("text"), " ")) >= shingleN)
      .select(col("doc_id").cast("long").as("doc_id"),
        minhashSignature(col("text"), k, shingleN).as("sig"))
    bandRowsFromSigs(sig, k, bands)
  }

  /** Band rows `(doc_id, band, bh)` from a PRE-COMPUTED `(doc_id, sig)`
    * signature table — the band-derivation half of [[bandedSignatures]],
    * shared with the composed cleaning pipeline
    * ([[CleaningPipeline]]), which computes signatures once in its
    * staged pass and must band IDENTICALLY to the batch path and the
    * store. Callers are responsible for the sub-shingle gate (docs with
    * no shingles must not reach banding — their all-MaxValue signatures
    * would collide into one degenerate bucket).
    *
    * Both `transform`s run interpreted: `ArrayTransform` is a
    * `CodegenFallback` on Spark 4.1.2, so every band formats its longs to
    * strings and joins them row by row before `xxhash64` hashes them. */
  private[ops] def bandRowsFromSigs(
      sigs: DataFrame,
      k: Int,
      bands: Int
  ): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(array_join(
            transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string")),
            ",")).as("bh")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Distinct word shingles of a text column via the native codegen'd
    * [[graft.functions.WordShingles]] expression — semantically identical
    * to `array_distinct(shinglesFromToks(split(text, " "), n))`
    * (ExpressionSpec asserts parity) at one byte-level pass per row. */
  def distinctShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), n))

  /** Distinct word-shingle set per document `(doc_id, sh)` — the raw-string
    * representation [[jaccardVerify]] compares. Everything at rest uses
    * the hashed form ([[distinctShingleHashSets]]). */
  private[ops] def distinctShingleSets(docs: DataFrame, shingleN: Int): DataFrame =
    docs.select(col("doc_id"), distinctShingles(col("text"), shingleN).as("sh"))

  /** Per-shingle 64-bit hash of a shingle-set column: `array<string>` →
    * `array<long>` (XxHash64 per element inside a `transform` HOF, which
    * runs interpreted: `ArrayTransform` is a `CodegenFallback` on Spark
    * 4.1.2) — the
    * AT-REST representation of shingle sets (the cleaning chain's staged
    * frame, [[SignatureStore]]'s shingle table). Distinct strings map to
    * distinct hashes with overwhelming probability. Two bounds matter:
    * WITHIN one document, a cardinality change needs two of a doc's
    * distinct shingles to share a 64-bit hash (P ≈ |sh|²·2⁻⁶⁵ < 1e-15
    * even at 100k shingles); ACROSS a document pair — the quantity the
    * verify step actually computes — an intersection/union is inflated
    * only if some shingle of A and some DIFFERENT shingle of B collide,
    * bounded by P ≈ (|A|+|B|)²·2⁻⁶⁵, the same 1e-15 class (ADVICE r6:
    * the pairwise bound is the one Jaccard/containment exactness rests
    * on). Both are the class of bound as the documented LSH miss
    * probabilities, so set sizes, intersections, and unions — Jaccard,
    * containment overlaps — computed over hashed sets equal those over
    * the raw sets, while at-rest bytes drop ~2.5× (8-byte longs vs
    * ~20-byte UTF-8 3-gram strings). Every production verify (the core
    * [[verifiedPairs]], [[SignatureStore]]'s probe) runs on hashed sets
    * and rests on this bound; only the raw-string [[jaccardVerify]], the
    * specs' reference, compares strings. */
  def hashShingles(sh: Column): Column = transform(sh, s => xxhash64(s))

  /** Distinct HASHED word-shingle set per document `(doc_id, sh)` —
    * [[distinctShingleSets]] in the at-rest representation
    * ([[hashShingles]]); what [[SignatureStore]] persists and probes. */
  private[ops] def distinctShingleHashSets(docs: DataFrame,
      shingleN: Int): DataFrame =
    docs.select(col("doc_id"),
      hashShingles(distinctShingles(col("text"), shingleN)).as("sh"))

  /** LSH banding: docs sharing a (band, bh) bucket are candidate pairs.
    * `maxBucket` caps the per-bucket candidate fan-out (skew guard). */
  def lshCandidatePairs(
      docs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64
  ): DataFrame =
    candidatePairsFromBanded(bandedSignatures(docs, k, bands, shingleN),
      maxBucket)

  /** Candidate pairs from pre-computed banded rows `(doc_id, band, bh)` —
    * the shared bucket→pairs stage of the batch path and the incremental
    * store probe (both MUST cap identically or their outputs diverge on
    * degenerate buckets).
    *
    * Bucket members are capped to the `maxBucket` SMALLEST doc_ids — a
    * huge bucket is boilerplate, not near-dup. The cap is the native
    * [[graft.functions.BoundedMinLongs]] bounded-min aggregate: ONE
    * partial-aggregable pass whose map-side combine caps every
    * partition's contribution to a bucket at `maxBucket` rows, so a
    * degenerate bucket (10^8 copies of a boilerplate page) costs the
    * shuffle at most partitions×maxBucket rows and no reducer hotspot.
    * The row_number-window form it replaced bounded aggregation MEMORY
    * but still shipped every member of a degenerate bucket to one
    * reducer before dropping any — a skew hotspot at web scale — and
    * paid a non-codegen WindowExec pass over bands×N rows. That twin
    * now lives ONLY in BoundedCapSpec (differential reference), so no
    * production call site can pick the hotspot form. Output parity is
    * spec-asserted including duplicate ids and biting caps. */
  private[ops] def candidatePairsFromBanded(
      banded: DataFrame,
      maxBucket: Int
  ): DataFrame = {
    val buckets = banded
      .groupBy(col("band"), col("bh"))
      .agg(boundedMinIds(col("doc_id"), maxBucket).as("ids"))
      .where(size(col("ids")) >= 2)
    pairsFromBuckets(buckets)
  }

  /** `k` smallest values of a long column per group, ascending —
    * [[graft.functions.BoundedMinLongs]] as a Column. */
  private def boundedMinIds(c: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BoundedMinLongs(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), k)
        .toAggregateExpression())

  /** Pairs `(id1 < id2)` from capped buckets `(…, ids)`. Package-private
    * so BoundedCapSpec's window-cap reference shares the exact
    * pair-emission logic with the production aggregate path. */
  private[ops] def pairsFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      // a doc_id appearing twice in one bucket (duplicate input rows, or
      // a store row meeting its own re-appended copy in the incremental
      // path) would otherwise emit a degenerate (id, id) self-pair that
      // verifies at jaccard 1.0 and makes keep-min consumers delete the
      // doc outright
      .where(col("id1") =!= col("id2"))
      .distinct()

  /** All ordered pairs (id1 < id2) of an array column — HOF composition. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("id1"), y.as("id2")))))

  /** Exact n-gram Jaccard verification of candidate pairs.
    * `pairs(id1, id2)` joined twice against docs; similarity via set ops
    * on shingle arrays (array_intersect/array_union are Catalyst HOFs). */
  def jaccardVerify(
      docs: DataFrame,
      pairs: DataFrame,
      shingleN: Int = 3,
      minJaccard: Double = 0.8
  ): DataFrame =
    jaccardVerifyOnShingles(distinctShingleSets(docs, shingleN), pairs,
      minJaccard)

  /** As [[jaccardVerify]], but over a pre-computed `(doc_id, sh)` distinct
    * shingle-set table — the incremental path verifies against PERSISTED
    * old-document shingle sets without touching corpus text. */
  def jaccardVerifyOnShingles(
      shingleSets: DataFrame,
      pairs: DataFrame,
      minJaccard: Double = 0.8
  ): DataFrame = {
    pairs
      .join(shingleSets.select(col("doc_id").as("id1"), col("sh").as("sh1")),
        Seq("id1"))
      .join(shingleSets.select(col("doc_id").as("id2"), col("sh").as("sh2")),
        Seq("id2"))
      .withColumn("jaccard",
        // guard 0/0: two sub-shingle docs have empty shingle sets, and a
        // NaN jaccard would sort ABOVE minJaccard (Spark orders NaN last),
        // emitting a bogus pair. Unreachable via lshCandidatePairs (short
        // docs are gated pre-banding) but this is a public API.
        when(size(array_union(col("sh1"), col("sh2"))) > 0,
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))).cast("double"))
          .otherwise(lit(0.0)))
      .where(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** A candidate-id set under ~4M longs broadcasts compactly (tens of
    * MB); beyond it AQE picks the semi-join strategy from runtime sizes.
    * `2 * |pairs|` bounds the distinct-id count with no extra job. */
  private val BroadcastIdsGuidance: Long = 4000000L

  /** The shingle-set table REDUCED to the documents of some candidate
    * pair. Unreduced, both verify joins exchange corpus-sized shingle
    * arrays (2 × ~17 GB at 20M docs) when only the few percent of paired
    * documents are ever matched. The verify joins are inner on ids from
    * `pairs`, so the reduction is a semantic no-op (spec-asserted, both
    * broadcast settings). With `broadcastIds` it is a map-side broadcast
    * semi-join and the corpus-sized table is never shuffled. In
    * production only [[verifiedPairs]] calls it, setting the flag from
    * its measured candidate count. */
  private[graft] def reduceShingleSetsToPairs(
      shingleSets: DataFrame,
      pairs: DataFrame,
      broadcastIds: Boolean
  ): DataFrame = {
    val ids = pairs.select(col("id1").as("doc_id"))
      .union(pairs.select(col("id2").as("doc_id")))
      .distinct()
    val hinted = if (broadcastIds) broadcast(ids) else ids
    shingleSets.join(hinted, Seq("doc_id"), "left_semi")
  }

  /** THE near-dup candidate→verify core, behind [[nearDupPairsStaged]]
    * and the cleaning chain's stage 3 ([[CleaningPipeline]]): band the
    * `(doc_id, sig)` signatures into capped candidate pairs, reduce the
    * `(doc_id, sh)` shingle sets to the candidates, verify Jaccard ≥
    * `minJaccard`. Callers gate sub-shingle docs out of `sigs`.
    *
    * Both intermediate frames are lazy `localCheckpoint`s: the candidate
    * pairs materialize under the broadcast gate's `count()` — one Spark
    * job run when this is called — and are not re-derived by the verify
    * joins or a downstream CC loop; the reduced frame materializes under
    * its first consumer, so the verify's two shingle sides scan the
    * heavy `sh` column once. */
  private[ops] def verifiedPairs(
      sigs: DataFrame,
      shingleSets: DataFrame,
      k: Int,
      bands: Int,
      maxBucket: Int,
      minJaccard: Double
  ): DataFrame = {
    val cand = candidatePairsFromBanded(bandRowsFromSigs(sigs, k, bands),
        maxBucket)
      .localCheckpoint(eager = false)
    val reduced = reduceShingleSetsToPairs(shingleSets, cand,
        broadcastIds = 2 * cand.count() <= BroadcastIdsGuidance)
      .localCheckpoint(eager = false)
    jaccardVerifyOnShingles(reduced, cand, minJaccard)
  }

  /** Verified near-dup pairs `(id1, id2, jaccard)` over ONE staged text
    * pass: the hashed distinct shingle set and the MinHash signature
    * come from a single codegen'd projection (lazily checkpointed), then
    * [[verifiedPairs]] bands `sig` and verifies on `sh`. The raw-string
    * composition ([[lshCandidatePairs]] + [[jaccardVerify]]) reads
    * `text` three times and exchanges corpus-sized shingle arrays; here
    * text is read once. OpsSpec asserts equal pairs and jaccards.
    * `doc_id` is taken in as long, as in [[bandedSignatures]], so an
    * int-typed id gives the pairs of its long-typed copy.
    *
    * Runs one Spark job when called: the core's candidate count, which
    * also materializes the staged frame. */
  def nearDupPairsStaged(
      docs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8
  ): DataFrame = {
    val staged = docs
      .where(size(split(col("text"), " ")) >= shingleN)
      .select(col("doc_id").cast("long").as("doc_id"),
        hashShingles(distinctShingles(col("text"), shingleN)).as("sh"),
        minhashSignature(col("text"), k, shingleN).as("sig"))
      .localCheckpoint(eager = false)
    verifiedPairs(staged.select(col("doc_id"), col("sig")),
      staged.select(col("doc_id"), col("sh")), k, bands, maxBucket,
      minJaccard)
  }

  // ---- near-dup clusters (pairs → components → representative) --------

  /** Cluster membership from verified near-dup pairs: connected components
    * over the pair graph, one row per clustered document with its
    * representative (min doc_id in the component) and the cluster size.
    * Documents in no pair are singletons and do not appear.
    *
    * Scale shape: [[graft.canon.ConnectedComponents.run]] is id-only
    * min-label propagation (the component label IS the min doc_id, so no
    * extra "pick representative" pass is needed); the size aggregation and
    * the membership join exchange only (id, component, count) rows — the
    * document payload never enters a shuffle.
    */
  def clustersFromPairs(pairs: DataFrame): DataFrame = {
    val cc = graft.canon.ConnectedComponents.run(
      pairs.select(col("id1").as("src"), col("id2").as("dst")))
    val sizes = cc.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    cc.join(sizes, Seq("component"))
      .select(col("node").as("doc_id"),
        col("component").as("cluster_rep"),
        col("n_members"))
  }

  /** Near-duplicate CLUSTERS of a corpus — the full dedup composition a
    * training-data pipeline runs: MinHash+LSH candidates → exact n-gram
    * Jaccard verification → connected components → keep-min
    * representative. Output `(doc_id, cluster_rep, n_members)`, one row
    * per document that belongs to a near-dup cluster (singletons omitted).
    *
    * Not a pure plan builder: [[nearDupPairsStaged]] runs its one
    * candidate-count job when this is called, and the connected-components
    * step runs its own solve jobs.
    */
  def nearDupGroups(
      docs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8
  ): DataFrame =
    clustersFromPairs(
      nearDupPairsStaged(docs, k, bands, shingleN, maxBucket, minJaccard))

  /** Drop-ids (clustered non-representatives) from verified near-dup
    * pairs — the lean path for TRANSFORM consumers. [[clustersFromPairs]]
    * additionally aggregates cluster sizes (a groupBy plus a join), which
    * exists for the corpus ANALYTIC; dropping non-representatives needs
    * only `node != component` over the CC labels (the component label IS
    * the min doc_id), so the transform path skips those two exchanges
    * and their fixed job latency. Same drop set by construction. */
  private[graft] def nearDupDropIds(pairs: DataFrame): DataFrame =
    graft.canon.ConnectedComponents.run(
        pairs.select(col("id1").as("src"), col("id2").as("dst")))
      .where(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))

  /** Near-dup dedup as a corpus TRANSFORM: drop every clustered document
    * except its representative (min doc_id per component); singletons pass
    * through. The anti-join's right side is `(doc_id)` only — id-scale,
    * broadcastable when the duplicate fraction is small.
    *
    * Not a pure plan builder: as [[nearDupGroups]], the candidate-count
    * job of [[nearDupPairsStaged]] and the connected-components jobs run
    * when this is called.
    */
  def nearDupDedup(
      docs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 64,
      minJaccard: Double = 0.8
  ): DataFrame =
    docs.join(
      nearDupDropIds(
        nearDupPairsStaged(docs, k, bands, shingleN, maxBucket, minJaccard)),
      Seq("doc_id"), "left_anti")

  // ---- SimHash ---------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes. Backed by the native Catalyst expression
    * [[graft.functions.SimHash64]] (codegen'd, operates on UTF8String
    * bytes directly — no UDF boxing, no HOF interpretation). */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Driver/test-side scalar form, same bits as the expression. */
  def simhash64Scala(text: String): Long =
    graft.functions.SimHash64.hashUtf8(
      org.apache.spark.unsafe.types.UTF8String.fromString(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: equal on any of `blocks` signature blocks
    * (standard Charikar blocking — tolerates `blocks-1` differing bits per
    * the pigeonhole principle). `maxBucket` caps block-key bucket
    * membership — see [[simhashCandidatesFromSigs]]. */
  def simhashCandidates(docs: DataFrame, blocks: Int = 4,
      maxBucket: Int = 64): DataFrame =
    simhashCandidatesFromSigs(
      docs.select(col("doc_id"), simhash64(col("text")).as("sig")), blocks,
      maxBucket)

  /** [[simhashCandidates]] over PRE-COMPUTED `(doc_id, sig)` signatures —
    * the blocking + Hamming half is pure relational algebra, so a staged
    * signature table lets an external engine (the DuckDB oracle) verify
    * it exactly: block keys are arithmetic-shift-plus-mask, the distance
    * is `bit_count(xor(sig1, sig2))`. `doc_id` must be unique per row.
    *
    * Bucket members are capped to the `maxBucket` SMALLEST doc_ids per
    * (block, key) — the same [[graft.functions.BoundedMinLongs]] cap as
    * the MinHash path ([[candidatePairsFromBanded]]) and for the same
    * reason: an uncapped block-key self-join is quadratic on a degenerate
    * bucket, and with 16-bit block keys (`blocks = 4`) large buckets are
    * EXPECTED at crawl scale — 25B docs over 65k keys puts ~380k docs in
    * the *average* bucket even before boilerplate skew, so a huge bucket
    * is corpus structure, not near-duplication. The map-side combine
    * bounds every partition's contribution at `maxBucket` rows, so the
    * bucketing shuffle carries id-only rows (the signature is dropped
    * before the exchange) and no reducer hotspot exists. Below the cap
    * the output equals the uncapped self-join exactly (spec-asserted).
    *
    * The Hamming distances are attached after capping by joining the
    * candidate pairs back to `sigs` twice — id-keyed joins whose probe
    * side is candidate-bounded and whose build side is the 16-byte-row
    * `(doc_id, sig)` table, never the exploded block rows. */
  def simhashCandidatesFromSigs(sigs: DataFrame, blocks: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    val width = 64 / blocks
    val blockStructs = (0 until blocks).map { b =>
      struct(lit(b).as("block"),
        shiftright(col("sig"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))
    }
    val exploded = sigs.select(
      col("doc_id"),
      explode(array(blockStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.block").as("block"),
        col("bk.key").as("key"))
    val buckets = exploded
      .groupBy(col("block"), col("key"))
      .agg(boundedMinIds(col("doc_id"), maxBucket).as("ids"))
      .where(size(col("ids")) >= 2)
    pairsFromBuckets(buckets)
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")),
        Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")),
        Seq("id2"))
      .select(col("id1"), col("id2"),
        hamming64(col("sig1"), col("sig2")).as("hamming"))
  }

  /** SimHash near-dup pairs: capped block-key candidates kept at Hamming
    * distance ≤ `maxHamming` — the verification step of the SimHash
    * family (Charikar's criterion: near-duplicates differ in few
    * signature bits; `blocks = 4` guarantees a shared block key up to
    * 3 differing bits, so `maxHamming ≤ blocks - 1` is exhaustive over
    * uncapped buckets). The Hamming filter is a scalar predicate on the
    * candidate rows — no extra shuffle beyond candidate generation. */
  def simhashNearDupPairs(docs: DataFrame, blocks: Int = 4,
      maxBucket: Int = 64, maxHamming: Int = 3): DataFrame =
    simhashCandidates(docs, blocks, maxBucket)
      .where(col("hamming") <= maxHamming)

  /** [[simhashNearDupPairs]] over pre-computed `(doc_id, sig)`
    * signatures (the staged/oracle form, like
    * [[simhashCandidatesFromSigs]]). */
  def simhashNearDupPairsFromSigs(sigs: DataFrame, blocks: Int = 4,
      maxBucket: Int = 64, maxHamming: Int = 3): DataFrame =
    simhashCandidatesFromSigs(sigs, blocks, maxBucket)
      .where(col("hamming") <= maxHamming)

  /** SimHash near-dup CLUSTERS `(doc_id, cluster_rep, n_members)` — the
    * corpus analytic over the SimHash pair graph; identical CC tail to
    * the MinHash family's [[clustersFromPairs]] (id-only shuffles, the
    * component label IS the min doc_id). */
  def simhashGroups(docs: DataFrame, blocks: Int = 4, maxBucket: Int = 64,
      maxHamming: Int = 3): DataFrame =
    clustersFromPairs(
      simhashNearDupPairs(docs, blocks, maxBucket, maxHamming)
        .select(col("id1"), col("id2")))

  /** SimHash dedup as a corpus TRANSFORM: drop every clustered document
    * except its min-id representative — the SimHash twin of
    * [[nearDupDedup]] (same lean [[nearDupDropIds]] tail; the anti-join's
    * right side is id-only). */
  def simhashDedup(docs: DataFrame, blocks: Int = 4, maxBucket: Int = 64,
      maxHamming: Int = 3): DataFrame =
    docs.join(
      nearDupDropIds(simhashNearDupPairs(docs, blocks, maxBucket,
        maxHamming)),
      Seq("doc_id"), "left_anti")
}

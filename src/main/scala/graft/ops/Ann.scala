package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.WriteFs

/** Similarity search over an embedding column (`Array[Float]`) —
  * training-data-pipeline layer.
  *
  * Scale design:
  *  - brute-force top-k is a single narrow projection (dot product via
  *    `zip_with`/`aggregate` HOFs — no UDF) followed by
  *    `orderBy(...).limit(k)`, which Spark plans as TakeOrderedAndProject:
  *    per-partition partial top-k, only k rows per partition reach the
  *    driver-side merge — no global sort, no full shuffle;
  *  - the LSH path buckets vectors by random-hyperplane sign bits
  *    (deterministic seeded hyperplanes); queries probe only their bucket,
  *    turning a full scan into a 1/2^bits scan at a measured recall cost;
  *  - all-pairs forms are never materialized.
  */
object Ann {

  /** Dot product of two array<float/double> columns — `zip_with` +
    * `aggregate`, stays in codegen. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k against one query vector (broadcast as a
    * literal array — no join at all). Deterministic tie-break on vec_id. */
  def topKCosine(
      embeddings: DataFrame,
      query: Seq[Float],
      k: Int
  ): DataFrame = {
    val q = typedlitSeq(query)
    embeddings
      .select(col("vec_id"),
        cosine(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  private def typedlitSeq(v: Seq[Float]): Column =
    array(v.map(x => lit(x.toDouble)): _*)

  /** All multi-band random-hyperplane LSH keys in ONE embedding traversal —
    * backed by the native codegen'd expression
    * [[graft.functions.LshBandKeys]]. Returns `array<long>` of length
    * `bands`. */
  def lshBandKeys(emb: Column, bits: Int, bands: Int, seed: Long = 7L): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.LshBandKeys(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(emb),
        bits, bands, seed))

  /** Single-band LSH bucket id: `bits` sign bits of dot products with
    * seeded pseudo-random hyperplanes. Hyperplane components are a
    * deterministic hash of (j, d) mapped to [-1, 1) — reproducible on any
    * cluster without shipping matrices. (`dim` is kept for signature
    * stability; the expression reads it from the array.) */
  def lshBucket(emb: Column, bits: Int, dim: Int, seed: Long = 7L): Column =
    element_at(lshBandKeys(emb, bits, 1, seed), 1)

  /** Deterministic pseudo-random unit in [-1, 1). */
  def hashUnit(seed: Long, j: Int, i: Int): Double =
    graft.functions.LshBandKeys.hashUnit(seed, j, i)

  /** LSH-bucketed ANN: assign every vector a bucket once (one narrow pass),
    * then the query probes only its own bucket. Returns top-k within the
    * bucket; recall vs brute force is measured in the spec. */
  def topKCosineLsh(
      embeddings: DataFrame,
      query: Seq[Float],
      k: Int,
      bits: Int = 4,
      seed: Long = 7L
  ): DataFrame = {
    val q = typedlitSeq(query)
    lshQueryBucketMembers(embeddings, query, bits, seed)
      .select(col("vec_id"), cosine(col("embedding"), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The candidate set [[topKCosineLsh]] ranks: every vector in the
    * query's LSH bucket. Exposed so the candidate set can be staged and
    * the LSH result verified as "exactly the brute-force top-k over
    * these candidates" (the oracle kg08 runs that check in SQL). */
  def lshQueryBucketMembers(
      embeddings: DataFrame,
      query: Seq[Float],
      bits: Int = 4,
      seed: Long = 7L
  ): DataFrame = {
    val dim = query.length
    // query bucket computed driver-side with the same hash — no job needed
    val qBucket = {
      var acc = 0L
      (0 until bits).foreach { j =>
        var d = 0.0
        (0 until dim).foreach(i => d += query(i) * hashUnit(seed, j, i))
        if (d >= 0) acc |= (1L << j)
      }
      acc
    }
    embeddings
      .withColumn("bucket", lshBucket(col("embedding"), bits, dim, seed))
      .where(col("bucket") === qBucket)
      .drop("bucket")
  }

  /** Embedding-cosine near-duplicate detection (the dedup path for
    * embedded corpora): vectors are LSH-bucketed once (narrow pass), only
    * same-bucket pairs are compared, and survivors are exact-cosine
    * verified. Multi-band: `bands` independent hyperplane sets; a pair is
    * a candidate if it collides in ANY band (a pair at angle θ misses one
    * b-bit band with prob 1-(1-θ/π)^b, all bands with that to the
    * `bands`-th power). Defaults (12 bits × 8 bands) dominate the former
    * 8×4 for every pair inside the default 0.95-cosine threshold: at the
    * threshold boundary itself (θ = 0.318 rad) the miss probability is
    * 7.4% vs 10.8%, and at θ = 0.05 it is 1e-6 vs 2.6e-4 — while random
    * (unrelated-pair) collision work drops 8× (bands·2^-bits: 8/4096 vs
    * 4/256). Candidate-pair count, not vector arithmetic, is what
    * dominates the banded join. Bucket fan-out is capped like the MinHash
    * path (boilerplate guard).
    *
    * Shuffle shape (100-TB note): the banded self-join exchanges ONLY
    * `(band, key, vec_id)` — the embedding is consumed by the key
    * expression and never shipped (at dim 768 the former
    * vectors-through-the-shuffle form cost 2×bands×3 KB per row ≈ 24 KB/row
    * of exchange). Candidate pairs are deduped across bands FIRST, then the
    * two vectors are re-attached with one equi-join each for the exact
    * verify — the same shape as the MinHash path's Jaccard verify
    * ([[Dedup.jaccardVerify]]). */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      dim: Int,
      minCosine: Double = 0.95,
      bits: Int = 12,
      bands: Int = 8,
      maxBucket: Int = 256,
      seed: Long = 7L
  ): DataFrame =
    verifyCosinePairs(embeddings,
      embeddingNearDupCandidates(embeddings, bits, bands, maxBucket, seed),
      minCosine)

  /** The banded candidate-pair stage of [[embeddingNearDupPairs]] —
    * `(id1, id2)` pairs colliding in ANY band, bucket-capped, deduped.
    * Exposed so the candidate set can be staged and the verify stage
    * oracle-checked in SQL (kg09): the final output is exactly "cosine
    * over these pairs, thresholded". */
  def embeddingNearDupCandidates(
      embeddings: DataFrame,
      bits: Int = 12,
      bands: Int = 8,
      maxBucket: Int = 256,
      seed: Long = 7L
  ): DataFrame = {
    // all band keys in one pass (native expression), then posexplode —
    // the embedding is traversed once per row, not bands×bits times, and
    // is DROPPED here: only ids travel through the banded shuffle
    val bandedAll = embeddings
      .select(col("vec_id"),
        posexplode(lshBandKeys(col("embedding"), bits, bands, seed))
          .as(Seq("band", "key")))
    // skew guard: a degenerate bucket (e.g. the all-zeros region) would go
    // quadratic in the self-join — drop oversized buckets explicitly
    // (the stated `maxBucket` bound, not a silent cap). A count-over-window is
    // one shuffle on (band, key); the groupBy+join form was two plus a join.
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key"))
    val banded = bandedAll
      .withColumn("_bsz", count(lit(1)).over(bw))
      .where(col("_bsz") <= maxBucket)
      .drop("_bsz")
    val a = banded.select(col("band"), col("key"), col("vec_id").as("id1"))
    val bDf = banded.select(col("band"), col("key"), col("vec_id").as("id2"))
    a.join(bDf, Seq("band", "key"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct() // dedup multi-band collisions BEFORE touching vectors
  }

  /** Exact-cosine verification of candidate pairs: vectors re-attached
    * with one equi-join per side, threshold on the exact value. */
  def verifyCosinePairs(
      embeddings: DataFrame,
      pairs: DataFrame,
      minCosine: Double
  ): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    pairs
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2")), "id2")
      .select(col("id1"), col("id2"),
        cosine(col("e1"), col("e2")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  // ---- IVF (k-means coarse quantizer + nprobe search) ------------------

  /** Squared-L2 argmin assignment against a broadcast centroid matrix —
    * native codegen'd expression ([[graft.functions.NearestCentroid]]),
    * no UDF boxing in the assignment lineage. */
  def nearestCentroid(emb: Column, centers: Array[Array[Double]]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(emb),
        centers.map(_.toSeq).toSeq))

  /** IVF index: a k-means coarse quantizer (Spark MLlib, seeded) learns
    * `nlist` centroids; every vector is then assigned by the native
    * [[nearestCentroid]] argmin projection — the boxed vector-conversion
    * UDF exists only inside the FIT path (bounded: the quantizer trains
    * on nlist-scale statistics; at corpus scale fit on a sample), never
    * in the returned assignment lineage. At corpus scale the assignment
    * column becomes the partition key ([[writeIvfLayout]]), so a query
    * touches only `nprobe`/`nlist` of the data — the classic IVF-flat
    * trade next to the hash-based [[topKCosineLsh]].
    *
    * Returns (centroids, assignments): centroids are tiny (driver-side
    * ranking at query time); assignments add one int column to the
    * embedding table. */
  def ivfIndex(
      embeddings: DataFrame,
      nlist: Int = 8,
      seed: Long = 7L,
      maxIter: Int = 5
  ): (Array[Array[Double]], DataFrame) = {
    val toVec = udf((a: Seq[Float]) =>
      org.apache.spark.ml.linalg.Vectors.dense(a.map(_.toDouble).toArray))
    val feat = embeddings.withColumn("_features", toVec(col("embedding")))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_features").setPredictionCol("_mllib_list")
      .fit(feat)
    val centers = model.clusterCenters.map(_.toArray)
    (centers, embeddings.withColumn(
      "ivf_list", nearestCentroid(col("embedding"), centers)))
  }

  /** IVF as a PHYSICAL layout: the inverted-list assignment becomes the
    * parquet partition column, so [[ivfSearch]]'s `ivf_list IN (probes)`
    * predicate prunes whole partitions at the source — the scan never
    * opens the other `nlist - nprobe` lists' files (PlanSpec asserts the
    * PartitionFilters). This is the 100-TB shape: assignment once at
    * ingest, every query rereads `nprobe/nlist` of the bytes. */
  def writeIvfLayout(assigned: DataFrame, path: String): Unit =
    WriteFs.write(assigned.repartition(col("ivf_list")))
      .mode("overwrite").partitionBy("ivf_list").parquet(path)

  /** nprobe search over the partitioned layout (see [[writeIvfLayout]]). */
  def ivfSearchPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centers: Array[Array[Double]],
      query: Seq[Float],
      k: Int,
      nprobe: Int
  ): DataFrame =
    ivfSearch(spark.read.parquet(path), centers, query, k, nprobe)

  /** IVF search: rank centroids against the query DRIVER-side (nlist
    * rows — no job), then brute-force cosine inside the `nprobe` nearest
    * lists only; `orderBy.limit` plans as TakeOrderedAndProject.
    * `nprobe = nlist` probes everything and is EXACTLY brute force
    * (oracle-checked as q29); smaller nprobe is the recall/throughput
    * dial (spec-measured). */
  def ivfSearch(
      assigned: DataFrame,
      centers: Array[Array[Double]],
      query: Seq[Float],
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val probes = ivfProbes(centers, query, nprobe)
    val qc = typedlitSeq(query)
    assigned
      .where(col("ivf_list").isin(probes.map(Integer.valueOf): _*))
      .select(col("vec_id"), cosine(col("embedding"), qc).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Driver-side centroid ranking: the `nprobe` nearest inverted lists
    * to the query (nlist rows — no Spark job). Exposed so the probed
    * lists' membership can be staged as the candidate set an [[ivfSearch]]
    * result is verified against (oracle kg11). */
  def ivfProbes(centers: Array[Array[Double]], query: Seq[Float],
      nprobe: Int): Array[Int] = {
    val q = query.map(_.toDouble).toArray
    def dist2(c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < c.length) { val d = c(i) - q(i); s += d * d; i += 1 }
      s
    }
    centers.zipWithIndex
      .sortBy { case (c, i) => (dist2(c), i) }
      .take(math.max(1, nprobe)).map(_._2)
  }
}

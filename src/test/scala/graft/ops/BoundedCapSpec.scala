package graft.ops

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.functions.{BoundedMinHeap, BoundedMinLongs}

/** The bounded-min bucket cap (graft.functions.BoundedMinLongs) that
  * replaced the row_number-window cap in LSH candidate generation:
  * heap-level unit properties, serialization round-trip, randomized
  * DataFrame parity against the window twin (spec-local below — retired
  * from production in round 7 so no caller path can pick the
  * reducer-hotspot form), including duplicate ids and biting caps, the
  * two-phase (partial+final) plan shape that carries the skew argument,
  * and the SimHash candidate stage's bucket cap (round-6 verdict #1). */
class BoundedCapSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** The pre-round-6 row_number-window cap — identical semantics to
    * [[Dedup.candidatePairsFromBanded]] for NON-NULL doc_ids (a null
    * doc_id consumes a row_number cap slot here while the aggregate
    * skips nulls per SQL semantics; production band rows are derived
    * from non-null doc_ids, and the parity claim is scoped to that).
    * Kept ONLY as the differential reference for the parity test. */
  private def candidatePairsFromBandedWindow(
      banded: org.apache.spark.sql.DataFrame,
      maxBucket: Int
  ): org.apache.spark.sql.DataFrame = {
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))
    val capped = banded
      .withColumn("_rn", row_number().over(capW))
      .where(col("_rn") <= maxBucket)
      .drop("_rn")
    val buckets = capped
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .where(size(col("ids")) >= 2)
    Dedup.pairsFromBuckets(buckets)
  }

  test("BoundedMinHeap keeps the k smallest values, duplicates preserved") {
    val rnd = new Random(7)
    for (trial <- 1 to 50) {
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(40)
      // small value domain so duplicates are common
      val vals = Seq.fill(n)(rnd.nextInt(12).toLong)
      val h = new BoundedMinHeap(k)
      vals.foreach(h.insert)
      assert(h.size <= k, s"trial $trial: heap exceeded its bound")
      assert(h.sorted.toSeq == vals.sorted.take(k),
        s"trial $trial: k=$k vals=$vals")
    }
  }

  test("BoundedMinLongs serialize/deserialize round-trips the kept multiset") {
    val agg = BoundedMinLongs(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(0L)), 5)
    val h = new BoundedMinHeap(5)
    Seq(9L, 3L, 3L, 7L, 1L, 8L, 2L).foreach(h.insert)
    val back = agg.deserialize(agg.serialize(h))
    assert(back.sorted.toSeq == Seq(1L, 2L, 3L, 3L, 7L))
    // merge keeps the k smallest of the union
    val other = new BoundedMinHeap(5)
    Seq(0L, 6L, 2L).foreach(other.insert)
    val merged = agg.merge(back, other)
    assert(merged.sorted.toSeq == Seq(0L, 1L, 2L, 2L, 3L))
  }

  test("candidate pairs: bounded-min agg ≡ window cap on randomized buckets") {
    import spark.implicits._
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val maxBucket = Seq(2, 3, 64)(trial % 3)
      // few buckets, many members → the cap bites; duplicated rows mixed
      // in → the (id,id) self-pair guard and multiset cap semantics are
      // both exercised
      val rows = (1 to 400).map { _ =>
        (rnd.nextInt(1000).toLong, rnd.nextInt(4), rnd.nextInt(6).toLong)
      } ++ (1 to 30).map(_ => (77L, 1, 3L))
      val banded = rows.toDF("doc_id", "band", "bh")
      val agg = Dedup.candidatePairsFromBanded(banded, maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val win = candidatePairsFromBandedWindow(banded, maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(agg == win, s"trial $trial maxBucket=$maxBucket")
    }
  }

  /** Uncapped SimHash block-key self-join — the pre-round-7 production
    * form, kept here ONLY as the differential reference for the capped
    * path's below-cap parity and biting-cap tests. */
  private def simhashCandidatesUncapped(
      sigs: org.apache.spark.sql.DataFrame,
      blocks: Int
  ): org.apache.spark.sql.DataFrame = {
    val width = 64 / blocks
    val blockStructs = (0 until blocks).map { b =>
      struct(lit(b).as("block"),
        shiftright(col("sig"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("key"))
    }
    val exploded = sigs.select(
      col("doc_id"), col("sig"),
      explode(array(blockStructs: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.block").as("block"),
        col("bk.key").as("key"))
    val a = exploded.select(col("block"), col("key"),
      col("doc_id").as("id1"), col("sig").as("sig1"))
    val b = exploded.select(col("block"), col("key"),
      col("doc_id").as("id2"), col("sig").as("sig2"))
    a.join(b, Seq("block", "key"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      .distinct()
  }

  test("simhash cap: capped ≡ uncapped self-join below the cap") {
    import spark.implicits._
    val rnd = new Random(11)
    // random 64-bit sigs (buckets tiny) plus planted near-dup families
    // small enough to stay under the cap — the capped path must emit
    // exactly the uncapped candidate set
    val sigs = ((0L until 300L).map(i => (i, rnd.nextLong())) ++
      (0 until 5).flatMap { f =>
        val base = rnd.nextLong()
        (0 until 8).map(j => (1000L + f * 10 + j, base ^ (1L << (f + j))))
      }).toDF("doc_id", "sig")
    val capped = Dedup.simhashCandidatesFromSigs(sigs, blocks = 4,
        maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val uncapped = simhashCandidatesUncapped(sigs, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.nonEmpty)
    assert(capped == uncapped)
  }

  test("simhash cap: a degenerate block bucket is capped to the smallest ids") {
    import spark.implicits._
    // 200 identical signatures — every block key collides, the uncapped
    // join would emit C(200,2)=19900 pairs; the cap keeps the 8 smallest
    // doc_ids per (block, key) bucket → exactly C(8,2)=28 pairs, all
    // among ids 0..7, all at hamming 0
    val sigs = (0L until 200L).map(i => (i, 0x5a5a5a5a5a5a5a5aL))
      .toDF("doc_id", "sig")
    val got = Dedup.simhashCandidatesFromSigs(sigs, blocks = 4, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == 28, s"got ${got.length} pairs")
    assert(got.forall { case (i1, i2, h) => i1 < 8 && i2 < 8 && h == 0 })
    // and the same planted bucket agrees with the window-cap reference
    val winRef = {
      val width = 16
      val exploded = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("sig"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("bh"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"),
          col("bk.bh").as("bh"))
      candidatePairsFromBandedWindow(exploded, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(got.map(t => (t._1, t._2)).toSet == winRef)
  }

  test("simhash candidate plan runs the partial bounded-min aggregate") {
    import spark.implicits._
    val sigs = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "sig")
    val plan = Dedup.simhashCandidatesFromSigs(sigs, blocks = 4,
      maxBucket = 8).queryExecution.executedPlan.toString
    // same two-phase shape as the MinHash path: the map-side instance
    // caps a degenerate block bucket's shuffle contribution
    assert(plan.contains("partial_graft_bounded_min_longs"), plan)
  }

  test("bounded-min agg aggregates in two phases (map-side partial cap)") {
    import spark.implicits._
    val banded = Seq((1L, 0, 1L), (2L, 0, 1L), (3L, 0, 1L))
      .toDF("doc_id", "band", "bh")
    val plan = Dedup.candidatePairsFromBanded(banded, 2)
      .queryExecution.executedPlan.toString
    // partial + final ObjectHashAggregate: the map-side instance is what
    // caps a degenerate bucket's shuffle contribution at partitions×k
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_graft_bounded_min_longs"), plan)
  }
}

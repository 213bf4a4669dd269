package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Triple
import graft.functions.{BoundedDistinctStructs, BoundedRowSet}
import graft.graph.GraphMaterialize
import graft.pipeline.KgPipeline
import graft.synth.Synth

/** The bounded distinct-struct aggregate behind a bucket's observed
  * triples (graft.functions.BoundedDistinctStructs): the exact set below
  * the cap, NULL past it or past a task's share of it, what does not
  * count toward it, overflow through merges and serialization, the task
  * results of an observation, and its agreement with
  * `GraphMaterialize.triples`. */
class BoundedTripleSetSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val pair = new StructType().add("a", StringType).add("b", IntegerType)
  private val toUnsafe = UnsafeProjection.create(pair)
  private def agg(cap: Int) =
    BoundedDistinctStructs(BoundReference(0, ArrayType(pair), nullable = true), cap)

  /** One input row holding the array of `(a, b)` structs `elems`; a None
    * element is a NULL struct. */
  private def inputRow(elems: Option[(String, Int)]*): InternalRow =
    InternalRow(new GenericArrayData(elems.map(_.map { case (a, b) =>
      InternalRow(UTF8String.fromString(a), b) }.orNull).toArray[Any]))

  private def setOf(a: BoundedDistinctStructs, b: BoundedRowSet): Option[Set[(String, Int)]] =
    Option(a.eval(b)).map { arr =>
      val d = arr.asInstanceOf[GenericArrayData]
      (0 until d.numElements()).map { i =>
        val r = d.getStruct(i, 2)
        (r.getUTF8String(0).toString, r.getInt(1))
      }.toSet
    }

  /** The aggregate over the `(a, b)` structs of `elems` through the
    * DataFrame API, one array per row, over `parts` partitions: each
    * partition's task keeps at most `cap / parts`, the merge `cap`. */
  private def collected(elems: Seq[Option[(String, Int)]], cap: Int,
      parts: Int): Option[Set[(String, Int)]] = {
    import spark.implicits._
    val df = elems.map(e => (e.map(_._1), e.map(_._2))).toDF("a", "b")
      .repartition(parts)
      .select(when(col("a").isNotNull, array(struct(col("a"), col("b")))).as("arr"))
    val out = df.agg(ColumnBridge.column(BoundedDistinctStructs(
      ColumnBridge.expression(col("arr")), cap).toAggregateExpression())).head()
    if (out.isNullAt(0)) None
    else Some(out.getSeq[Row](0).map(r => (r.getString(0), r.getInt(1))).toSet)
  }

  test("below the cap the aggregate returns the exact distinct set") {
    val a = agg(5)
    val b = a.createAggregationBuffer()
    a.update(b, inputRow(Some("x" -> 1), Some("y" -> 2)))
    a.update(b, inputRow(Some("z" -> 3)))
    assert(setOf(a, b).contains(Set("x" -> 1, "y" -> 2, "z" -> 3)))
    // over 4 partitions a task keeps a quarter of the cap, here 10
    val elems = (0 until 40).map(i => Some(s"k${i % 10}" -> i % 10))
    assert(collected(elems, 40, parts = 4).contains(
      (0 until 10).map(i => s"k$i" -> i).toSet))
  }

  test("cap + 1 distinct structs give NULL, in one buffer and across partitions") {
    val a = agg(3)
    val b = a.createAggregationBuffer()
    a.update(b, inputRow(Some("x" -> 1), Some("y" -> 2), Some("z" -> 3)))
    assert(setOf(a, b).map(_.size).contains(3))
    a.update(b, inputRow(Some("w" -> 4)))
    assert(b.overflowed && b.rows.isEmpty, "an overflowed buffer keeps its rows")
    assert(setOf(a, b).isEmpty)
    // a later row never revives an overflowed buffer
    a.update(b, inputRow(Some("x" -> 1)))
    assert(setOf(a, b).isEmpty)
    val elems = (0 until 11).map(i => Some(s"k$i" -> i))
    assert(collected(elems, 10, parts = 1).isEmpty)
    assert(collected(elems, 11, parts = 1).map(_.size).contains(11))
    // over 4 partitions, one of them holds 3 structs, past its share of 11
    assert(collected(elems, 11, parts = 4).isEmpty)
    assert(collected(elems, 44, parts = 4).map(_.size).contains(11))
  }

  test("repeats, NULL elements and NULL arrays do not count toward the cap") {
    val a = agg(2)
    val b = a.createAggregationBuffer()
    a.update(b, inputRow(Some("x" -> 1), None, Some("x" -> 1)))
    a.update(b, InternalRow(null))
    a.update(b, inputRow(None, Some("y" -> 2), Some("x" -> 1), Some("y" -> 2)))
    assert(setOf(a, b).contains(Set("x" -> 1, "y" -> 2)))
    // a struct with a NULL field is a value like any other
    a.update(b, inputRow(Some((null, 1))))
    assert(setOf(a, b).isEmpty)
    val elems = Seq.fill(5)(Some("x" -> 1)) ++ Seq.fill(5)(None) ++
      Seq.fill(5)(Some("y" -> 2))
    assert(collected(elems, 2, parts = 1).contains(Set("x" -> 1, "y" -> 2)))
  }

  test("merging with an overflowed buffer overflows; merges stay within the cap") {
    val a = agg(3)
    def buf(elems: (String, Int)*) = {
      val b = a.createAggregationBuffer()
      a.update(b, inputRow(elems.map(Some(_)): _*))
      b
    }
    val over = buf("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4)
    assert(over.overflowed)
    assert(setOf(a, a.merge(buf("x" -> 1), over)).isEmpty)
    assert(setOf(a, a.merge(over, buf("x" -> 1))).isEmpty)
    // two in-cap buffers whose union passes the cap
    assert(setOf(a, a.merge(buf("x" -> 1, "y" -> 2), buf("y" -> 2, "z" -> 3)))
      .contains(Set("x" -> 1, "y" -> 2, "z" -> 3)))
    assert(setOf(a, a.merge(buf("x" -> 1, "y" -> 2), buf("z" -> 3, "w" -> 4))).isEmpty)
  }

  test("serialize/deserialize round-trips a set and an overflow") {
    val a = agg(4)
    val b = a.createAggregationBuffer()
    a.update(b, inputRow(Some("x" -> 1), Some("é ü" -> -7), Some((null, 0))))
    val back = a.deserialize(a.serialize(b))
    assert(!back.overflowed)
    assert(back.rows == b.rows)
    // a deserialized row still dedupes against a fresh one
    back.add(toUnsafe(InternalRow(UTF8String.fromString("x"), 1)), 4)
    assert(back.rows.size == 3)
    a.update(b, inputRow(Some("p" -> 1), Some("q" -> 2)))
    assert(b.overflowed)
    val over = a.deserialize(a.serialize(b))
    assert(over.overflowed && over.rows.isEmpty)
    assert(a.deserialize(a.serialize(a.createAggregationBuffer())).rows.isEmpty)
  }

  test("a stage's tasks ship at most cap structs together to an observation") {
    // 8 tasks of 100 distinct structs each: every task is under the cap of
    // 400 on its own, all of them together are over it
    val parts = 8
    val df = spark.range(0, 800, 1, parts).select(array(struct(
        concat(lit("x" * 100), col("id").cast("string")).as("a"),
        col("id").cast("int").as("b"))).as("arr"))
    def observed(cap: Int): (Option[Int], Seq[Long]) = {
      val obs = Observation(s"cap $cap")
      val ends = new ConcurrentLinkedQueue[SparkListenerTaskEnd]
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ends.add(t)
      }
      spark.sparkContext.addSparkListener(listener)
      val jobs = try SparkTestSession.recordingJobs(df
          .observe(obs, ColumnBridge.column(BoundedDistinctStructs(
            ColumnBridge.expression(col("arr")), cap).toAggregateExpression()).as("s"))
          .write.format("noop").mode(SaveMode.Overwrite).save())._2
        finally spark.sparkContext.removeSparkListener(listener)
      val stages = jobs.flatMap(_.stageIds).toSet
      (Option(obs.get("s")).map(_.asInstanceOf[Seq[Row]].size),
        ends.asScala.toSeq.filter(t => stages(t.stageId)).map(_.taskMetrics.resultSize))
    }
    // a share of 100 per task: every task ships its 100 structs
    val (all, shipped) = observed(parts * 100)
    assert(all.contains(800))
    // a share of 50: every task overflows and ships its flag alone
    val (over, flagged) = observed(400)
    assert(over.isEmpty)
    assert(shipped.size == parts && flagged.size == parts)
    // 100 structs of over 100 bytes each are what a shipping task adds
    assert(flagged.max + 100 * 100 < shipped.min,
      s"task result bytes: overflowed $flagged, shipped $shipped")
  }

  test("observed triples equal GraphMaterialize.triples, bucket by bucket") {
    import spark.implicits._
    val mentions = KgPipeline.mentions(Synth.articles(spark, 1200, 42L, 8))
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(6)).cast("int"))
      .cache()
    val observed = mentions
      .groupBy("bucket")
      .agg(GraphMaterialize.boundedTripleSet(KgPipeline.TripleCap).as("t"))
      .as[(Int, Seq[Triple])].collect().toMap
    assert(observed.size == 6)
    (0 until 6).foreach { b =>
      val expected = GraphMaterialize.triples(
          mentions.where(col("bucket") === b).drop("bucket").as[core.Mention])
        .collect().toSeq
      assert(expected.nonEmpty, s"bucket $b has no triple")
      assert(observed(b).sortBy(t => (t.subj, t.pred, t.obj)) ==
        expected.sortBy(t => (t.subj, t.pred, t.obj)), s"bucket $b")
    }
    // the observation of the whole input in one task is the whole graph,
    // and one triple fewer as cap gives NULL
    val all = GraphMaterialize.triples(mentions.drop("bucket").as[core.Mention]).count()
    def whole(cap: Int): DataFrame =
      mentions.coalesce(1).agg(GraphMaterialize.boundedTripleSet(cap).as("t"))
    assert(whole(all.toInt).head().getSeq[Row](0).size == all)
    assert(whole(all.toInt - 1).head().isNullAt(0))
    mentions.unpersist()
  }
}

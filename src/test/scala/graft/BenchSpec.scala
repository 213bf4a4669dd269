package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** graft.Bench's timing contract: a query that throws is a failure, not a
  * fast timing. */
class BenchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("bench: a query that throws is listed as failed and left out of the timings") {
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(100).toDF()),
      // throws inside the counting job, like a query that fails at run time
      "boom" -> ((s, _) => s.range(100).toDF().where(assert_true(col("id") < 50).isNull)))
    val t = Bench.timedPasses(spark, "unused", queries, passes = 2)
    assert(t.failed == Seq("boom"))
    assert(t.min.keySet == Set("ok"))
    assert(t.raw.keySet == Set("ok"))
    assert(t.raw("ok").size == 2 && t.raw("ok").forall(_ > 0.0))
    assert(t.min("ok") == t.raw("ok").min)
  }
}

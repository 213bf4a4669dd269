package graft.perf

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CleaningPipeline, SignatureStore}
import graft.pipeline.KgPipeline
import graft.synth.Synth
import graft.tools.CleaningBench

/** The benchmark's own output checks: they must pass on a correct output,
  * fail on a corrupted one, and not depend on the output layout. */
class ChecksSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .appName("perfbench-checks")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toString
  // 75 articles a bucket at 64 buckets, the floor the benchmark's inputs
  // keep: runResumable throws on a bucket that yields no triple
  private val Articles = 4800L

  private lazy val kgOutputs: Map[Int, String] = {
    import spark.implicits._
    Synth.articles(spark, Articles, 5L, 2).write.parquet(s"$dir/articles")
    Seq(4, 64).map { b =>
      val out = s"$dir/kg$b"
      KgPipeline.runResumable(
        spark.read.parquet(s"$dir/articles").as[graft.core.Article], out, b)
      b -> out
    }.toMap
  }

  test("kg digest is identical for 4 and 64 buckets on the same input") {
    assert(Checks.kgDigest(spark, kgOutputs(4)) ==
      Checks.kgDigest(spark, kgOutputs(64)))
    assert(Checks.kgProblems(spark, kgOutputs(4), Articles, 4).isEmpty)
    assert(Checks.kgProblems(spark, kgOutputs(64), Articles, 64).isEmpty)
  }

  test("a kg output with one mention dropped is reported as failed") {
    val good = kgOutputs(4)
    val bad = s"$dir/kg4-dropped"
    val mentions = spark.read.parquet(s"$good/mentions")
    val victim = mentions.select("id").orderBy("id").head().getString(0)
    mentions.where(col("id") =!= victim).write.partitionBy("bucket")
      .parquet(s"$bad/mentions")
    Workloads.copyDir(s"$good/triples", s"$bad/triples")
    Workloads.copyDir(s"$good/_manifest", s"$bad/_manifest")
    assert(Checks.kgProblems(spark, bad, Articles, 4)
      .exists(_.contains("n_mentions")))
    assert(Checks.kgDigest(spark, bad) != Checks.kgDigest(spark, good))
  }

  test("a cleaning output with one duplicate survivor kept is reported as failed") {
    import spark.implicits._
    val n = 400L
    val seed = 3L
    val docs = spark.range(0, n, 1, 2)
      .map(i => (i, CleaningBench.textOf(seed, i))).toDF("doc_id", "text")
    val bench = Seq((0L, CleaningBench.textOf(seed, 3).split(" ").take(15)
      .mkString(" "))).toDF("bench_id", "text")
    val store = s"$dir/store"
    SignatureStore.init(spark, store, 4, 32, 16, 3)
    val stage = s"$dir/stage"
    val survivors = CleaningPipeline.cleanedMetaResumable(docs, bench, stage,
      k = 32, bands = 16, maxBucket = 1024, storePath = Some(store))
      .localCheckpoint()
    val planted = Checks.Planted(n)
    assert(Checks.cleanProblems(spark, stage, survivors, planted).isEmpty)
    assert(Checks.storeRows(spark, store) == planted.survivors)
    val withDuplicate = survivors.union(survivors.limit(1))
    assert(Checks.cleanProblems(spark, stage, withDuplicate, planted).nonEmpty)
    val withPlantedDrop = survivors.union(Seq(17L).toDF("doc_id"))
    assert(Checks.cleanProblems(spark, stage, withPlantedDrop, planted).nonEmpty)
  }

  test("an unknown workload or a missing seed fails loudly") {
    val common = Seq("--work", dir, "--spec", "BENCHMARK.json")
    intercept[IllegalArgumentException](BenchMain.parseArgs(
      Seq("--workload", "kg_bulk", "--seed", "1") ++ common))
    intercept[IllegalArgumentException](BenchMain.parseArgs(
      Seq("--workload", "kg_buckets") ++ common))
    intercept[IllegalArgumentException](BenchMain.parseArgs(
      Seq("--workload", "kg_buckets", "--seed", "x") ++ common))
    assert(BenchMain.parseArgs(Seq("--workload", "clean_chain", "--seed",
      "7") ++ common).seed == 7L)
  }

  test("the tail percentile keeps ten samples above it") {
    assert(Stats.tailPercentile(10) == 50)
    assert(Stats.tailPercentile(24) == 58)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0), 50) == 2.0)
  }
}

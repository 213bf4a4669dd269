package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.ner.{AliasTrieScorer, NerStage}
import graft.synth.Synth
import graft.tools.TempDirs

/** Plan-quality regression tests: the physical plans the engine depends on
  * at 100 TB must not silently degrade — pushdown reaching the scan,
  * broadcast joins on dimensions, top-k planned as TakeOrderedAndProject,
  * and no Cartesian products anywhere in the query suite. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("NER gate predicates push down to the parquet scan") {
    val dir = TempDirs.scoped("plan_corpus")
    Synth.articles(spark, 200, 42L, 2).write.mode("overwrite").parquet(dir)
    import spark.implicits._
    val gated = NerStage.gate(
      spark.read.parquet(dir).as[graft.core.Article])
    val scan = gated.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters"), scan)
    assert(scan.contains("In(tp"), scan)
    assert(scan.contains("In(lang"), scan)
    // the full NER stage must COLUMN-PRUNE the scan: html (page bodies
    // dominate bytes on a real crawl corpus) and warc_ts must not be read
    val nerScan = NerStage.detect(
      spark.read.parquet(dir).as[graft.core.Article], new AliasTrieScorer)
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(!nerScan.contains("html"), nerScan)
    assert(!nerScan.contains("warc_ts"), nerScan)
    assert(nerScan.contains("text"), nerScan)
  }

  test("per-bucket KG plan reads only the NER columns of its one bucket") {
    val dir = TempDirs.scoped("plan_bucketed")
    Synth.articles(spark, 200, 42L, 2)
      .withColumn("_bucket", pmod(xxhash64(col("url")), lit(4)).cast("int"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(dir)
    val (ms, _) = graft.pipeline.KgPipeline.bucketMentions(
      spark.read.parquet(dir), 2, new AliasTrieScorer)
    val scan = ms.queryExecution.executedPlan.collectLeaves().head.toString
    // the articles count observed before the gate keeps the scan pruned
    assert(scan.contains(
      "ReadSchema: struct<url:string,text:string,lang:string,tp:string>"), scan)
    assert(!scan.contains("html"), scan)
    assert(!scan.contains("warc_ts"), scan)
    assert(scan.contains("PartitionFilters: [isnotnull(_bucket"), scan)
    assert(scan.contains("(_bucket#"), scan)
    assert(scan.contains(" = 2)]"), scan)
  }

  test("dimension joins broadcast (q03), big-big joins never go Cartesian") {
    val q3 = SparkEntry.queries("q03_region_revenue")(spark, sfDir)
    q3.count() // finalize AQE
    val p = planString(q3)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val q6 = SparkEntry.queries("q06_top_parts")(spark, sfDir)
    assert(planString(q6).contains("TakeOrderedAndProject"), planString(q6))
    val q22 = SparkEntry.queries("q22_ann_topk")(spark, sfDir)
    assert(planString(q22).contains("TakeOrderedAndProject"), planString(q22))
  }

  test("scan prunes columns: token-count projection reads only needed columns") {
    val q = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), scan)
  }

  test("bucketed tables join without an exchange (co-located big-big join)") {
    val wh = TempDirs.scoped("wh")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force SMJ path
    try {
      import spark.implicits._
      val a = (0L until 10000L).map(i => (i, s"u$i")).toDF("k", "va")
      val b = (0L until 10000L).map(i => (i, i * 2)).toDF("k", "vb")
      a.write.mode("overwrite")
        .option("path", s"$wh/ta").bucketBy(8, "k").sortBy("k").saveAsTable("ta")
      b.write.mode("overwrite")
        .option("path", s"$wh/tb").bucketBy(8, "k").sortBy("k").saveAsTable("tb")
      val joined = spark.table("ta").join(spark.table("tb"), "k")
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan) // bucketing co-locates the join
      assert(joined.count() == 10000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760)
      spark.sql("DROP TABLE IF EXISTS ta")
      spark.sql("DROP TABLE IF EXISTS tb")
    }
  }

  test("IVF layout: nprobe search prunes partitions at the parquet source") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val emb = (0L until 400L)
      .map(i => (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val (centers, assigned) = graft.ops.Ann.ivfIndex(emb, nlist = 8)
    val path = TempDirs.scoped("ivf_layout")
    graft.ops.Ann.writeIvfLayout(assigned, path)
    // 8 list directories on disk, nprobe=2 search
    val dirs = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ivf_list="))
    assert(dirs == 8, s"expected 8 list partitions, found $dirs")
    val res = graft.ops.Ann.ivfSearchPartitioned(spark, path, centers, q,
      k = 5, nprobe = 2)
    assert(res.collect().length == 5)
    val scan = res.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("FileScan")).getOrElse("")
    // the isin(probes) predicate must reach the scan as a PARTITION filter
    // (pruning whole directories), not merely a pushed data filter
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[", "")
        .takeWhile(_ != ']').contains("ivf_list"),
      scan)
  }

  test("cleaning pipeline: staged one-pass projection codegens off a pruned scan; bench probe broadcasts") {
    import spark.implicits._
    val dir = TempDirs.scoped("plan_clean")
    (0L until 200L)
      .map(i => (i, "de", (1 to 20).map(t => s"w${i}_$t").mkString(" ")))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    // THE text pass of the cleaning chain (stage 0): hash + shingles +
    // signature in one projection — it must stay inside WholeStageCodegen
    // (the two native expressions codegen) and column-prune the scan
    val staged = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("_h"),
      graft.ops.Dedup.distinctShingles(col("text"), 3).as("sh"),
      graft.ops.Dedup.minhashSignature(col("text"), 32, 3).as("sig"))
    // `*(n)` is the WholeStageCodegen marker in the simple plan string —
    // the projection with both native expressions must carry it (a
    // CodegenFallback expression would leave an unstarred Project)
    val p = planString(staged)
    assert(p.contains("*(1) Project") && p.contains("graft_word_shingles")
      && p.contains("graft_minhash_sig"), p)
    val scan = staged.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      scan)
    // the contamination probe: the exploded benchmark side must
    // broadcast — the corpus shingles stream map-side, never shuffle
    val bench = Seq((900L, (1 to 10).map(i => s"b$i").mkString(" ")))
      .toDF("bench_id", "text")
    val rep = graft.ops.Decontaminate.contaminationReportOnShingles(
      staged.select(col("doc_id"), col("sh")), bench)
    rep.count() // finalize AQE
    assert(planString(rep).contains("BroadcastHashJoin"), planString(rep))
  }

  test("no query in the suite plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }
}

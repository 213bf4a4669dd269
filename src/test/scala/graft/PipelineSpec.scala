package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

import graft.core.{GoldMention, Mention, Triple}
import graft.eval.SpanEval
import graft.graph.GraphMaterialize
import graft.ner.{AliasTrieScorer, NerStage}
import graft.SparkTestSession.{countingJobs, withConfs}
import graft.ops.CleaningPipeline
import graft.pipeline.{KgPipeline, ManifestRecord}
import graft.synth.Synth
import graft.tools.TempDirs

/** End-to-end pipeline specs, including THE acceptance gate:
  * engine mentions vs generator gold at P/R ≥ 0.95 (HIPE-fuzzy regime,
  * BASELINE.json north rule). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("P/R gate: fuzzy span match >= 0.95 on the synthetic corpus") {
    val n = 5000L
    val articles = Synth.articles(spark, n, seed = 42L, partitions = 16)
    val gold = Synth.gold(spark, n, seed = 42L, partitions = 16)
    val pred = NerStage.detect(articles, new AliasTrieScorer, numPartitions = 16)

    val fuzzy = SpanEval.score(pred.toDF(), gold.toDF(), fuzzy = true)
    info(f"fuzzy  P=${fuzzy.precision}%.4f R=${fuzzy.recall}%.4f F1=${fuzzy.f1}%.4f " +
      f"(tp=${fuzzy.tp} fp=${fuzzy.fp} fn=${fuzzy.fn})")
    assert(fuzzy.precision >= 0.95, s"precision ${fuzzy.precision}")
    assert(fuzzy.recall >= 0.95, s"recall ${fuzzy.recall}")

    val strict = SpanEval.score(pred.toDF(), gold.toDF(), fuzzy = false)
    info(f"strict P=${strict.precision}%.4f R=${strict.recall}%.4f F1=${strict.f1}%.4f")
    assert(strict.f1 >= 0.90, s"strict f1 ${strict.f1}")
  }

  test("gate filters: ad / non-fr-de / short-text articles yield no mentions") {
    val articles = Synth.articles(spark, 2000, seed = 42L, partitions = 8)
    val kept = NerStage.gate(articles)
    import spark.implicits._
    val badKept = kept.filter(a =>
      !(a.tp == "ar" || a.tp == "page") || !(a.lang == "fr" || a.lang == "de") ||
        a.text.length <= 2).count()
    assert(badKept == 0)
    // and the generator does plant agencies in ad/en rows — prove the gate
    // actually removes something
    val droppedWithAgency = articles
      .filter(a => a.tp == "ad" && a.text.contains("Reuters")).count()
    assert(droppedWithAgency > 0)
  }

  test("synthetic corpus is partitioning-invariant (genRow purity)") {
    import spark.implicits._
    val a4 = Synth.articles(spark, 500, 42L, partitions = 4)
      .map(_.url).collect().sorted.toSeq
    val a32 = Synth.articles(spark, 500, 42L, partitions = 32)
      .map(_.url).collect().sorted.toSeq
    assert(a4 == a32)
    // text byte-identity per url across generations (SURVEY §7.4 risk 1)
    val t1 = Synth.articles(spark, 200, 42L, 4).collect().map(a => a.url -> a.text).toMap
    val t2 = Synth.articles(spark, 200, 42L, 16).collect().map(a => a.url -> a.text).toMap
    assert(t1 == t2)
  }

  test("gold offsets slice the article text exactly") {
    val rows = (0L until 300L).map(i => Synth.genRow(42L, i))
    val byUrl = rows.map(r => r.article.url -> r.article.text).toMap
    val golds = rows.flatMap(_.gold)
    assert(golds.nonEmpty)
    golds.foreach { g: GoldMention =>
      assert(byUrl(g.url).substring(g.lOffset, g.rOffset) == g.surface)
    }
  }

  test("triples: set semantics over linked mentions + distinct aliases") {
    val articles = Synth.articles(spark, 1000, 42L, 8)
    val mentions = KgPipeline.mentions(articles, new AliasTrieScorer, 8)
    val t = GraphMaterialize.triples(mentions).cache()
    val linked = mentions.toDF().where(col("qid") =!= "NIL").cache()
    val nLinkedPairs = linked.select("url", "qid").distinct().count()
    assert(t.filter(col("pred") === "mentions_agency").count() == nLinkedPairs)
    val aliases = t.filter(col("pred") === "alias")
    assert(aliases.count() ==
      linked.select("qid", "surface").distinct().count())
    assert(aliases.count() > 0)
    // no NIL subjects/objects ever reach the graph
    assert(t.filter(col("obj") === "NIL" || col("subj") === "NIL").count() == 0)
    linked.unpersist(); t.unpersist()
  }

  test("resumable run: manifest skips finished buckets, output equals one-shot") {
    val dir = TempDirs.scoped("kg_resume")
    val articles = Synth.articles(spark, 800, 42L, 8)
    val stats1 = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(stats1.map(_.bucket).sorted == Seq(0, 1, 2, 3))
    // second invocation: everything already in the manifest
    val stats2 = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(stats2.isEmpty)
    // resumed output == one-shot output
    val resumed = spark.read.parquet(s"$dir/mentions/bucket=*")
    val oneShot = KgPipeline.mentions(articles, new AliasTrieScorer).toDF()
    assert(resumed.count() == oneShot.count())
    assert(resumed.select("id").exceptAll(oneShot.select("id")).count() == 0)
    // manifest carries per-partition lineage
    val m = KgPipeline.manifest(spark, dir)
    assert(m.count() == 4)
    assert(m.agg(sum("n_mentions")).head.getLong(0) == oneShot.count())
    // unbucketed input was staged ONCE as a partitioned table — the
    // per-bucket loop prunes partitions instead of rescanning the corpus
    // B times
    val staged = java.nio.file.Paths.get(dir, "_staging")
    assert(Files.exists(staged), "bucket staging dir missing")
    val stagedParts = Files.list(staged).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_bucket=")).toSeq
    assert(stagedParts.sorted == (0 until 4).map(b => s"_bucket=$b"))
  }

  test("partial resume: wiping one bucket from the manifest recomputes only it") {
    val dir = TempDirs.scoped("kg_resume2")
    val articles = Synth.articles(spark, 400, 42L, 8)
    KgPipeline.runResumable(articles, dir, buckets = 4)
    // simulate a crash after 3 of 4 buckets: rewrite manifest without bucket 2
    val m = KgPipeline.manifest(spark, dir).where(col("bucket") =!= 2).cache()
    m.count()
    val mdir = new java.io.File(s"$dir/_manifest")
    mdir.listFiles().foreach(_.delete())
    m.write.mode("overwrite").parquet(s"$dir/_manifest")
    val before = tripleRows(dir, 2)
    assert(before.nonEmpty)
    val stats = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(stats.map(_.bucket) == Seq(2))
    // the recomputed bucket replaced its triples: no stale file is left
    assert(tripleRows(dir, 2) == before)
  }

  test("a resume into a fully committed directory runs one job") {
    val dir = TempDirs.scoped("kg_resume_done")
    val articles = Synth.articles(spark, 200, 42L, 4)
    KgPipeline.runResumable(articles, dir, buckets = 4)
    val (stats, jobs) = countingJobs(KgPipeline.runResumable(articles, dir, buckets = 4))
    assert(stats.isEmpty)
    // the manifest read; the staging's bucket range comes from its
    // directory names and its schema from the input, with no job
    assert(jobs <= 1, s"$jobs jobs for a resume with nothing to do")
  }

  /** Every manifest count equals what the bucket actually wrote or read:
    * mention and triple rows under the bucket's output directories, and
    * the bucket's staged input rows (before the NER gate). */
  private def assertManifestMatchesOutput(
      dir: String, stats: Seq[KgPipeline.BucketStat], inputRows: Long): Unit = {
    import spark.implicits._
    val mentionSchema = Encoders.product[Mention].schema
    val tripleSchema = Encoders.product[Triple].schema
    val staged = spark.read.parquet(s"$dir/_staging")
      .groupBy("_bucket").count().as[(Int, Long)].collect().toMap
    stats.foreach { s =>
      val b = s.bucket
      assert(s.n_articles == staged.getOrElse(b, 0L), s"bucket $b n_articles")
      assert(s.n_mentions ==
        spark.read.schema(mentionSchema).parquet(s"$dir/mentions/bucket=$b").count(),
        s"bucket $b n_mentions")
      assert(s.n_triples ==
        spark.read.schema(tripleSchema).parquet(s"$dir/triples/bucket=$b").count(),
        s"bucket $b n_triples")
    }
    assert(stats.map(_.n_articles).sum == inputRows)
    assert(KgPipeline.manifest(spark, dir).as[KgPipeline.BucketStat]
      .collect().map(_.copy(wall_ms = 0)).sortBy(_.bucket).toSeq ==
      stats.map(_.copy(wall_ms = 0)))
  }

  test("bucket commit: buckets + 1 jobs, manifest counts equal the written rows") {
    val dir = TempDirs.scoped("kg_jobs")
    val n = 1200L
    val articles = Synth.articles(spark, n, 42L, 8)
    val (stats, jobs) = countingJobs(KgPipeline.runResumable(articles, dir, buckets = 8))
    assert(stats.map(_.bucket) == (0 until 8))
    info(f"$jobs jobs for ${stats.length} buckets " +
      f"(${jobs.toDouble / stats.length}%.2f per bucket, staging included)")
    // a bucket this small needs its mentions write only: the write
    // observes its triples, which the driver writes with its manifest
    // row; the one staging write is shared. A count, read-back,
    // schema-inference, triples or manifest job per bucket would break
    // the bound.
    assert(jobs <= stats.length + 1, s"$jobs jobs for ${stats.length} buckets")
    assertManifestMatchesOutput(dir, stats, n)
    assert(stats.map(_.n_triples).sum > 0)
  }

  test("a manifest record launches zero Spark jobs and reads like a Spark-written row") {
    import spark.implicits._
    val dir = TempDirs.scoped("kg_record")
    val bucket = KgPipeline.BucketStat(3, 10L, 4L, 6L, 123L)
    val stage = CleaningPipeline.StageStat(2, 7L, 45L)
    val (_, jobs) = countingJobs {
      ManifestRecord.append(spark, s"$dir/kg/_manifest", bucket)
      ManifestRecord.append(spark, s"$dir/clean/_manifest", stage)
    }
    assert(jobs == 0, s"$jobs jobs for two manifest records")
    assert(KgPipeline.manifest(spark, s"$dir/kg").as[KgPipeline.BucketStat]
      .collect().toSeq == Seq(bucket))
    assert(CleaningPipeline.manifest(spark, s"$dir/clean")
      .as[CleaningPipeline.StageStat].collect().toSeq == Seq(stage))
    // an inferred read of a driver-written file sees the schema Spark's
    // own append writes, nullability included
    Seq(bucket).toDS().write.parquet(s"$dir/kg_spark")
    Seq(stage).toDS().write.parquet(s"$dir/clean_spark")
    assert(spark.read.parquet(s"$dir/kg/_manifest").schema ==
      spark.read.parquet(s"$dir/kg_spark").schema)
    assert(spark.read.parquet(s"$dir/clean/_manifest").schema ==
      spark.read.parquet(s"$dir/clean_spark").schema)
  }

  test("resume over a manifest mixing Spark-written and driver-written rows") {
    import spark.implicits._
    val dir = TempDirs.scoped("kg_mixed")
    val articles = Synth.articles(spark, 400, 42L, 8)
    val first = KgPipeline.runResumable(articles, dir, buckets = 4)
    // rebuild the manifest as an older engine plus this one would leave
    // it after a crash in bucket 2: bucket 0 appended by Spark, buckets 1
    // and 3 written on the driver
    TempDirs.deleteRecursively(s"$dir/_manifest")
    Seq(first(0)).toDS().write.mode("append").parquet(s"$dir/_manifest")
    Seq(first(1), first(3)).foreach(ManifestRecord.append(spark, s"$dir/_manifest", _))
    val resumed = KgPipeline.runResumable(articles, dir, buckets = 4)
    assert(resumed.map(_.bucket) == Seq(2))
    val rows = KgPipeline.manifest(spark, dir).as[KgPipeline.BucketStat]
      .collect().sortBy(_.bucket).toSeq
    assert(rows.map(_.copy(wall_ms = 0)) == first.map(_.copy(wall_ms = 0)))
    assert(spark.read.parquet(s"$dir/_manifest").count() == 4)
  }

  test("resume with fewer buckets than the staged run throws") {
    val dir = TempDirs.scoped("kg_fewer")
    val articles = Synth.articles(spark, 200, 42L, 4)
    KgPipeline.runResumable(articles, dir, buckets = 8)
    val e = intercept[IllegalArgumentException](
      KgPipeline.runResumable(articles, dir, buckets = 4))
    assert(e.getMessage.contains("buckets up to 7"), e.getMessage)
  }

  /** Executed plans of the triples writes that `body` runs, by bucket. */
  private def triplesPlans[T](body: => T): (T, Map[Int, String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.treeString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      countingJobs(()) // drains the listener bus the plans arrive on
      val Triples = ".*/triples/bucket=(\\d+)[,\\s].*".r
      (out, plans.asScala.toSeq.flatMap { p =>
        p.linesIterator.collectFirst { case Triples(b) => b.toInt -> p }
      }.toMap)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Triples rows of a bucket, as written. */
  private def tripleRows(dir: String, b: Int): Seq[Triple] = {
    import spark.implicits._
    spark.read.schema(Encoders.product[Triple].schema)
      .parquet(s"$dir/triples/bucket=$b").as[Triple].collect().toSeq
      .sortBy(t => (t.subj, t.pred, t.obj))
  }

  private lazy val gateArticles = Synth.articles(spark, 400, 42L, 8)
  /** The exchange path's output under the session's own confs: every
    * bucket above a zero-triple cap. */
  private lazy val gateReference: (String, Seq[KgPipeline.BucketStat]) = {
    val dir = TempDirs.scoped("kg_gate_ref")
    (dir, KgPipeline.runResumable(gateArticles, dir, 4, new AliasTrieScorer, 0))
  }

  /** Cells cross the confs a partition-count gate would read with a cap
    * on either side of every bucket's distinct triples: the path must
    * follow the observed set alone, and both paths write the same
    * triples. Below the cap no triples SQL execution runs at all. */
  for {
    (cell, confs) <- Seq(
      "AQE on" -> Nil,
      "AQE off" -> Seq("spark.sql.adaptive.enabled" -> "false"),
      "1 shuffle partition" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "advisory size 1g" ->
        Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1g"))
    below <- Seq(true, false)
  } test(s"triples gate matrix: $cell, buckets ${if (below) "below" else "above"} the row limit") {
    val (refDir, ref) = gateReference
    assert(ref.forall(_.n_triples > 0), "a bucket without triples")
    val cap = if (below) KgPipeline.TripleCap else 0
    val dir = TempDirs.scoped("kg_gate")
    val (stats, plans) = withConfs(confs)(triplesPlans(
      KgPipeline.runResumable(gateArticles, dir, 4, new AliasTrieScorer, cap)))
    assert(stats.map(_.copy(wall_ms = 0)) == ref.map(_.copy(wall_ms = 0)))
    assert(plans.keySet == (if (below) Set.empty[Int] else (0 until 4).toSet))
    stats.foreach { s =>
      assert(tripleRows(dir, s.bucket) == tripleRows(refDir, s.bucket),
        s"bucket ${s.bucket} triples")
      if (!below) assert(plans(s.bucket).contains("Exchange"),
        s"bucket ${s.bucket} (${s.n_triples} triples, cap $cap):\n" +
          plans(s.bucket))
    }
  }

  test("driver-written triples read like Spark-written ones, in the session's codec") {
    val (refDir, ref) = gateReference
    val dir = TempDirs.scoped("kg_codec")
    withConfs(Seq("spark.sql.parquet.compression.codec" -> "gzip"))(
      KgPipeline.runResumable(gateArticles, dir, 4, new AliasTrieScorer,
        KgPipeline.TripleCap))
    // an inferred read sees the same schema, partition columns included
    assert(spark.read.parquet(s"$dir/triples").schema ==
      spark.read.parquet(s"$refDir/triples").schema)
    val files = Files.walk(java.nio.file.Paths.get(dir, "triples")).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.map(_.getParent.getFileName.toString).toSet ==
      Set("pred=alias", "pred=mentions_agency"))
    assert(files.length == 2 * ref.length, files.mkString("\n"))
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .foreach(c => assert(c.getCodec.name == "GZIP", s"$f: ${c.getCodec}"))
      finally reader.close()
    }
  }

  test("empty buckets commit: 100 articles in 64 buckets run to completion") {
    // a bucket without a triple leaves no parquet file under triples/, and
    // one without an article none under _staging; both commit zeros
    val dir = TempDirs.scoped("kg_empty")
    val articles = Synth.articles(spark, 100, 42L, 4)
    val stats = KgPipeline.runResumable(articles, dir, buckets = 64)
    assert(stats.map(_.bucket) == (0 until 64))
    assert(stats.map(_.n_articles).sum == 100)
    assert(stats.map(_.n_mentions).sum == 34)
    assert(stats.map(_.n_triples).sum == 58)
    assert(stats.count(_.n_articles == 0) == 16)
    assert(stats.count(_.n_triples == 0) == 46)
    assertManifestMatchesOutput(dir, stats, 100)
    assert(KgPipeline.runResumable(articles, dir, buckets = 64).isEmpty)
  }

  test("Main: --model and other unknown flags fail at argument parse") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](graft.app.Main.main(
      Array("--model", "x", "--synth", "10", "--output", "/nonexistent/out")))
    assert(e.getMessage.contains("--model"), e.getMessage)
    assert(SparkSession.getDefaultSession == before, "Main started a session")
    intercept[IllegalArgumentException](graft.app.Main.parseArgs(
      Array("--synth", "10", "--output", "o", "--buckets", "many")))
    intercept[IllegalArgumentException](graft.app.Main.parseArgs(
      Array("--synth", "10", "--output")))
    assert(graft.app.Main.parseArgs(
      Array("--synth", "10", "--output", "o", "--buckets", "4")) ==
      Map("synth" -> "10", "output" -> "o", "buckets" -> "4"))
  }
}

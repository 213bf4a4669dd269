package graft.perf

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.core.{Article, Mention}
import graft.eval.SpanEval
import graft.graph.GraphMaterialize
import graft.ner.{AliasTrieScorer, NerStage}
import graft.ops.{CleaningPipeline, Dedup, SignatureStore}
import graft.pipeline.KgPipeline
import graft.synth.Synth
import graft.tools.CleaningBench

/** Wall seconds of one operation and the latency in seconds of each unit
  * it committed. */
final case class OpTiming(wall: Double, commits: Seq[Double])

/** Where one run keeps its inputs and outputs. Fixtures are shared by
  * every run of a checkout and keyed by seed; everything under `runDir`
  * is deleted when the run ends. */
final case class RunDirs(fixtures: String, runDir: String)

/** One benchmark workload: a closed loop with one caller, where each
  * operation starts after the previous one returned. */
trait Workload {
  def name: String

  /** Input sizes, recorded with every result. */
  def sizes: Map[String, Long]

  /** Writes the at-rest inputs for the seed unless they are cached. */
  def prepare(spark: SparkSession): Unit

  /** The set-up's warm-up: the timed call on a smaller input of the same
    * shape (JIT, codegen and class loading). */
  def warmup(spark: SparkSession): Unit

  /** Input documents one operation processes. */
  def docsPerOp: Long

  /** One operation; returns its timed wall and the latency of each unit
    * it committed (a bucket, or the whole chain call). */
  def op(spark: SparkSession, i: Int, tr: Tracer): OpTiming

  /** Problems in operation `i`'s output (empty = correct). */
  def check(spark: SparkSession, i: Int): Seq[String]

  /** `quality_f1` and the evaluation layer's metrics from operation 0's
    * written output, with the quality gates it fails. */
  def quality(spark: SparkSession): (Map[String, Double], Seq[String])

  /** The directory operation `i` leaves its output in. */
  def outputRoot(i: Int): String

  /** Traced only: direct calls into the layers over operation `last`'s
    * inputs and outputs, each in its own span, and the layer metrics read
    * from outputs. Throws when a layer call's output is wrong. */
  def layers(spark: SparkSession, last: Int, tr: Tracer,
      ls: LayerListener): Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("kg_buckets", "clean_chain")

  def apply(name: String, seed: Long, dirs: RunDirs, cores: Int): Workload =
    name match {
      case "kg_buckets" => new KgBuckets(seed, dirs, cores)
      case "clean_chain" => new CleanChain(seed, dirs, cores)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${Names.mkString(", ")})")
    }

  /** Builds a fixture directory once: written under a temporary name and
    * renamed into place, so a run killed mid-write never leaves a fixture
    * that later runs trust. */
  def fixture(dir: String)(write: String => Unit): Unit = {
    val target = Paths.get(dir)
    if (!Files.exists(target)) {
      val tmp = s"$dir.tmp-${UUID.randomUUID()}"
      write(tmp)
      Files.createDirectories(target.getParent)
      try Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another run of the same seed finished first: keep its copy
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException => delete(tmp)
      }
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally paths.close()
    }
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val paths = Files.walk(src)
    try paths.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally paths.close()
  }

  /** (bytes, files) of the regular files under `dirs`. */
  def usage(dirs: String*): (Long, Long) = {
    val files = dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    (files.map(Files.size(_: Path)).sum, files.size.toLong)
  }

  /** Runs `df` to completion through Spark's `noop` sink and returns its
    * row count, observed on the same job. */
  def forceCount(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Seconds spent in the spans called `name`. */
  def spanSeconds(tr: Tracer, name: String): Double =
    tr.spans.filter(_.name == name).map(_.seconds).sum
}

import Workloads._

/** `KgPipeline.runResumable(AliasTrieScorer)` — the call `graft.app.Main`
  * makes — over an unbucketed `Synth.articles` table, so staging runs, with
  * many small buckets. Per-bucket fixed cost (about twelve jobs: the NER
  * count, the article re-count, the output writes, the triple read-back
  * and the one-row manifest append) dominates; the staging write, NER and
  * the output bytes are the rest. */
final class KgBuckets(seed: Long, dirs: RunDirs, cores: Int)
    extends Workload {
  val name = "kg_buckets"
  val Articles = 6000L
  val Buckets = 12
  // 75 articles a bucket: runResumable throws on a bucket that yields no
  // triple (its read-back of the empty write cannot infer a schema)
  val WarmArticles = 300L
  val WarmBuckets = 4
  /** The repo's span-quality acceptance gate (fuzzy P and R). */
  val MinFuzzy = 0.95

  def sizes: Map[String, Long] = Map("articles" -> Articles,
    "buckets" -> Buckets.toLong, "warm_articles" -> WarmArticles,
    "warm_buckets" -> WarmBuckets.toLong)
  def docsPerOp: Long = Articles

  private val fix = s"${dirs.fixtures}/kg-seed$seed-n$Articles-w$WarmArticles"
  private def articles(spark: SparkSession, table: String): Dataset[Article] = {
    import spark.implicits._
    spark.read.parquet(s"$fix/$table").as[Article]
  }
  def outputRoot(i: Int): String = s"${dirs.runDir}/kg-op$i"

  def prepare(spark: SparkSession): Unit = fixture(fix) { tmp =>
    Synth.articles(spark, Articles, seed, cores).write.parquet(s"$tmp/articles")
    Synth.gold(spark, Articles, seed, cores).write.parquet(s"$tmp/gold")
    Synth.articles(spark, WarmArticles, seed + 1, cores)
      .write.parquet(s"$tmp/warm")
  }

  def warmup(spark: SparkSession): Unit = {
    val out = s"${dirs.runDir}/kg-warm-${UUID.randomUUID()}"
    KgPipeline.runResumable(articles(spark, "warm"), out, WarmBuckets)
    delete(out)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): OpTiming = {
    val t0 = System.nanoTime()
    val stats = tr.span("pipeline.runResumable") {
      KgPipeline.runResumable(articles(spark, "articles"), outputRoot(i),
        Buckets)
    }
    OpTiming((System.nanoTime() - t0) / 1e9, stats.map(_.wall_ms / 1000.0))
  }

  private var reference: Option[String] = None

  /** Manifest bookkeeping, and a digest equal to operation 0's (same
    * input, so any difference is a wrong or nondeterministic output). */
  def check(spark: SparkSession, i: Int): Seq[String] = {
    val digest = Checks.kgDigest(spark, outputRoot(i))
    if (reference.isEmpty) reference = Some(digest)
    Checks.kgProblems(spark, outputRoot(i), Articles, Buckets) ++
      reference.filter(_ != digest).map(r =>
        s"op $i digest $digest differs from op 0's $r")
  }

  def quality(spark: SparkSession): (Map[String, Double], Seq[String]) = {
    val t0 = System.nanoTime()
    val pred = spark.read.parquet(s"${outputRoot(0)}/mentions")
    val gold = spark.read.parquet(s"$fix/gold")
    val strict = SpanEval.score(pred, gold, fuzzy = false)
    val fuzzy = SpanEval.score(pred, gold, fuzzy = true)
    val gate = Seq(fuzzy.precision, fuzzy.recall).exists(_ < MinFuzzy)
    (Map("quality_f1" -> strict.f1, "eval.span_f1" -> strict.f1,
      "eval.precision_fuzzy" -> fuzzy.precision,
      "eval.recall_fuzzy" -> fuzzy.recall,
      "eval.s" -> (System.nanoTime() - t0) / 1e9),
     if (gate) Seq(f"fuzzy P ${fuzzy.precision}%.4f / R ${fuzzy.recall}%.4f " +
       f"below the $MinFuzzy%.2f gate") else Nil)
  }

  def layers(spark: SparkSession, last: Int, tr: Tracer,
      ls: LayerListener): Map[String, Double] = {
    import spark.implicits._
    val out = outputRoot(last)
    val staged = spark.read.parquet(s"$out/_staging").drop("_bucket")
      .as[Article]
    val articlesIn = tr.span("ner.gate") {
      forceCount(NerStage.gate(staged).toDF())
    }
    val mentionsOut = tr.span("ner.detect") {
      forceCount(NerStage.detect(staged, new AliasTrieScorer).toDF())
    }
    val mentions = spark.read.parquet(s"$out/mentions").drop("bucket")
      .as[Mention]
    val distinctTriples = tr.span("graph.triples") {
      forceCount(GraphMaterialize.triples(mentions).toDF())
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val detect = tr.spans.filter(_.name == "ner.detect").map(_.id.toString)
    val graph = tr.spans.filter(_.name == "graph.triples").map(_.id.toString)
    val writtenTriples = spark.read.parquet(s"$out/triples").count()
    val (writeBytes, writeFiles) = usage(s"$out/mentions", s"$out/triples")
    val (_, manifestFiles) = usage(s"$out/_manifest")
    Map(
      "ner.s" -> spanSeconds(tr, "ner.detect"),
      "ner.articles_in" -> articlesIn.toDouble,
      "ner.mentions_out" -> mentionsOut.toDouble,
      "ner.task_skew" -> ls.taskSkew(detect.toSet),
      "graph.s" -> spanSeconds(tr, "graph.triples"),
      "graph.triples_out" -> distinctTriples.toDouble,
      "graph.shuffle_bytes" -> ls.sum(graph.toSet).shuffleWrite.toDouble,
      "graph.dup_triple_frac" -> writtenTriples.toDouble / distinctTriples,
      "write.files" -> writeFiles.toDouble,
      "write.bytes" -> writeBytes.toDouble,
      "pipeline.manifest_files" -> manifestFiles.toDouble
    )
  }
}

/** `CleaningPipeline.cleanedMetaResumable` over the planted corpus of
  * `CleaningBench.textOf(seed, i)`, with `storePath` at a fresh
  * `SignatureStore.init` store so stage 4 appends the survivors. Exercises
  * decontamination, exact and near-dup dedup, connected components and the
  * store write; no NER. The traced run also ingests one batch of new docs
  * into the chain's store the way an incremental caller does
  * (`probeWithSignatures`, drop the matched docs, `appendSignatures`), so
  * the store's probe and append are measured too. */
final class CleanChain(seed: Long, dirs: RunDirs, cores: Int)
    extends Workload {
  val name = "clean_chain"
  val Docs = 6000L
  val WarmDocs = 400L
  val BatchDocs = 500L
  // CleaningBench's parameters: 16 bands of 2 rows miss a planted
  // near-copy pair (Jaccard 38/39) with probability ~2e-21
  val K = 32
  val Bands = 16
  val MaxBucket = 1024
  val Prefixes = 16

  def sizes: Map[String, Long] = Map("docs" -> Docs, "warm_docs" -> WarmDocs,
    "batch_docs" -> BatchDocs)
  def docsPerOp: Long = Docs
  private val planted = Checks.Planted(Docs)

  private val fix = s"${dirs.fixtures}/clean-seed$seed-n$Docs-w$WarmDocs-b$BatchDocs"
  def outputRoot(i: Int): String = s"${dirs.runDir}/chain-op$i"
  private def stageDir(root: String) = s"$root/stage"
  private def storeDir(root: String) = s"$root/store"

  def prepare(spark: SparkSession): Unit = fixture(fix) { tmp =>
    import spark.implicits._
    val (s, n, size) = (seed, Docs, BatchDocs)
    def docs(n: Long) = spark.range(0, n, 1, cores)
      .map(i => (i, CleaningBench.textOf(s, i))).toDF("doc_id", "text")
    docs(Docs).write.parquet(s"$tmp/docs")
    docs(WarmDocs).write.parquet(s"$tmp/warm")
    spark.range(0, Docs / 20, 1, 1).where(col("id") % 500 === 0).as[Long]
      .map(g => (g, CleaningBench.textOf(s, g * 20 + 3)
        .split(" ").take(15).mkString(" ")))
      .toDF("bench_id", "text").write.parquet(s"$tmp/bench")
    spark.range(n, n + size, 1, 1)
      .map(id => (id, CleanChain.batchText(s, n, id))).toDF("doc_id", "text")
      .write.parquet(s"$tmp/batch")
  }

  private val survivors = scala.collection.mutable.Map.empty[Int, DataFrame]

  private def chain(spark: SparkSession, table: String, root: String)
      : DataFrame = {
    SignatureStore.init(spark, storeDir(root), Prefixes, K, Bands, 3)
    val s = CleaningPipeline.cleanedMetaResumable(
      spark.read.parquet(s"$fix/$table"), spark.read.parquet(s"$fix/bench"),
      stageDir(root), k = K, bands = Bands, shingleN = 3,
      maxBucket = MaxBucket, storePath = Some(storeDir(root)))
    s.localCheckpoint()
  }

  def warmup(spark: SparkSession): Unit = {
    val root = s"${dirs.runDir}/chain-warm-${UUID.randomUUID()}"
    chain(spark, "warm", root)
    delete(root)
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): OpTiming = {
    val t0 = System.nanoTime()
    survivors(i) = tr.span("clean.cleanedMetaResumable") {
      chain(spark, "docs", outputRoot(i))
    }
    // the committed unit is the whole resumable call: its five stage
    // commits differ by design (stage 3 is 5× stage 1), so their median
    // says little; each stage's wall is a per-layer metric instead
    val wall = (System.nanoTime() - t0) / 1e9
    OpTiming(wall, Seq(wall))
  }

  def check(spark: SparkSession, i: Int): Seq[String] = {
    val root = outputRoot(i)
    val stored = Checks.storeRows(spark, storeDir(root))
    Checks.cleanProblems(spark, stageDir(root), survivors(i), planted) ++
      (if (stored == planted.survivors) Nil
       else Seq(s"$root: store holds $stored rows, ${planted.survivors} survivors"))
  }

  def quality(spark: SparkSession): (Map[String, Double], Seq[String]) = {
    val kept = survivors(0).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val all = (0L until Docs).toSet
    (Map("quality_f1" -> Checks.dropF1(all -- kept,
      all.filter(planted.isDrop))), Nil)
  }

  def layers(spark: SparkSession, last: Int, tr: Tracer,
      ls: LayerListener): Map[String, Double] = {
    val root = outputRoot(last)
    val manifest = CleaningPipeline.manifest(spark, stageDir(root))
      .select(col("stage"), col("rows"), col("wall_ms")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2) / 1000.0)).toMap
    def rows(s: Int) = manifest.get(s).fold(0.0)(_._1.toDouble)
    val docs = spark.read.parquet(s"$fix/docs")
    val near = nearDup(spark, docs, tr, ls)

    // one incremental batch into a copy of the chain's store
    val store = s"$root/store-ingest"
    copyDir(storeDir(root), store)
    val batch = spark.read.parquet(s"$fix/batch")
    val dropped = ingest(spark, store, batch, tr)
    val want = (Docs until Docs + BatchDocs).filter(CleanChain.isCopy).toSet
    require(dropped == want, s"batch ingest dropped ${dropped.size} docs, " +
      s"planted ${want.size} near-copies of stored docs")
    val stored = Checks.storeRows(spark, store)
    require(stored == planted.survivors + BatchDocs - dropped.size,
      s"store holds $stored rows after the batch, expected " +
        s"${planted.survivors + BatchDocs - dropped.size}")
    // the probe's candidates are the batch-touching subset of the batch
    // path's candidates over stored ∪ batch (SignatureStore's exactness
    // contract), counted with the public batch-path call
    val candidates = tr.span("store.candidates") {
      Dedup.lshCandidatePairs(
          docs.join(survivors(last), Seq("doc_id"), "left_semi")
            .unionByName(batch), K, Bands, 3, MaxBucket)
        .where(col("id2") >= Docs).count()
    }
    val (storeBytes, storeFiles) = usage(store)

    near ++ (0 to 4).map(s =>
      s"clean.stage${s}_s" -> manifest.get(s).fold(0.0)(_._2)).toMap ++ Map(
      "clean.flagged" -> rows(1),
      "clean.exact_drops" -> rows(2),
      "clean.near_drops" -> rows(3),
      "clean.survivors" -> survivors(last).count().toDouble,
      "store.probe_s" -> spanSeconds(tr, "store.probeWithSignatures"),
      "store.append_s" -> spanSeconds(tr, "store.appendSignatures"),
      "store.candidates" -> candidates.toDouble,
      "store.matches" -> dropped.size.toDouble,
      "store.bytes" -> storeBytes.toDouble,
      "store.files" -> storeFiles.toDouble
    )
  }

  /** The near-dup and connected-components layers called directly, each in
    * its own span: LSH candidates, verified pairs, the full near-dup
    * grouping, and CC over the verified pairs. */
  private def nearDup(spark: SparkSession, docs: DataFrame, tr: Tracer,
      ls: LayerListener): Map[String, Double] = {
    val candidates = tr.span("dedup.lshCandidatePairs") {
      forceCount(Dedup.lshCandidatePairs(docs, K, Bands, 3, MaxBucket))
    }
    val pairs = tr.span("dedup.nearDupPairsStaged") {
      Dedup.nearDupPairsStaged(docs, K, Bands, 3, MaxBucket).localCheckpoint()
    }
    val verified = pairs.count()
    tr.span("dedup.nearDupGroups") {
      forceCount(Dedup.nearDupGroups(docs, K, Bands, 3, MaxBucket))
    }
    tr.span("canon.run") {
      forceCount(ConnectedComponents.run(
        pairs.select(col("id1").as("src"), col("id2").as("dst"))))
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val cc = tr.spans.filter(_.name == "canon.run").map(_.id.toString).toSet
    Map(
      "dedup.candidates" -> candidates.toDouble,
      "dedup.verified" -> verified.toDouble,
      "dedup.verify_yield" ->
        (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "dedup.s" -> spanSeconds(tr, "dedup.nearDupGroups"),
      "canon.edges_in" -> verified.toDouble,
      "canon.jobs" -> ls.jobsIn(cc).size.toDouble,
      "canon.s" -> spanSeconds(tr, "canon.run")
    )
  }

  /** Probe, drop the matched docs, append the survivors; returns the
    * dropped doc ids. */
  private def ingest(spark: SparkSession, store: String, batch: DataFrame,
      tr: Tracer): Set[Long] = {
    val (pairs, keys, sh) = tr.span("store.probeWithSignatures") {
      SignatureStore.probeWithSignatures(spark, store, batch, MaxBucket)
    }
    // keep-min representatives: stored ids are smaller than batch ids, so
    // every batch member of a cluster that is not its minimum drops
    val drops = tr.span("dedup.clustersFromPairs") {
      Dedup.clustersFromPairs(pairs)
        .where(col("doc_id") =!= col("cluster_rep"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    val dropDf = spark.createDataFrame(
      spark.sparkContext.parallelize(drops.toSeq.map(Tuple1(_)), 1))
      .toDF("doc_id")
    tr.span("store.appendSignatures") {
      val top = batch.agg(max(col("doc_id").cast("long"))).head().getLong(0)
      SignatureStore.appendSignatures(spark, store,
        keys.join(dropDf, Seq("doc_id"), "left_anti"),
        sh.join(dropDf, Seq("doc_id"), "left_anti"),
        advanceWatermarkTo = Some(top))
    }
    drops
  }
}

object CleanChain {
  /** Every 10th doc of the batch is a near-copy of a stored doc. */
  def isCopy(id: Long): Boolean = id % 10 == 0

  /** Text of batch doc `id` (ids from `n` on, after an `n`-doc corpus): a
    * near-copy is a stored doc's 40 tokens plus one unique token (Jaccard
    * 38/39 over 3-shingles); the copied doc is an r=5 member of its group,
    * which the chain always keeps. Other docs are unique. */
  def batchText(seed: Long, n: Long, id: Long): String =
    if (isCopy(id)) {
      val group = java.lang.Math.floorMod(
        scala.util.hashing.MurmurHash3.productHash((seed, id)).toLong, n / 20)
      CleaningBench.textOf(seed, group * 20 + 5) + " nd" + id
    } else CleaningBench.baseText(seed, id)
}

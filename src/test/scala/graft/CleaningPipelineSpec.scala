package graft

import java.net.URI

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{CleaningPipeline, SignatureStore}
import graft.tools.{CountingLocalFs, TempDirs}

/** The composed cleaning chain: stage semantics on a planted fixture,
  * the store-append tail, resume after a kill, and the one-text-pass
  * guarantee (corpus file opens through a counting filesystem — the
  * staged artifacts live under a plain stage dir, so only corpus reads
  * are counted). */
class CleaningPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def words(p: String, n: Int = 30) =
    (1 to n).map(t => s"${p}_$t").mkString(" ")

  private def freshStage() = TempDirs.scoped("graft_clean_stage")

  /** Deletes stage `s`'s `_manifest` record: the dir a crash between the
    * stage's write and its record leaves behind. */
  private def dropRecord(stageDir: String, s: Int): Unit = {
    val files = spark.read.parquet(s"$stageDir/_manifest")
      .where(col("stage") === s).select(col("_metadata.file_path"))
      .collect().map(_.getString(0))
    assert(files.length == 1, s"stage $s records: ${files.mkString(", ")}")
    val p = new Path(new URI(files.head))
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false))
  }

  /** `(stage, rows)` of every `_manifest` row, sorted. */
  private def manifestRows(stageDir: String): Seq[(Int, Long)] =
    CleaningPipeline.manifest(spark, stageDir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted

  /** The resume specs' fixture: docs 1, 2 contaminated (2 also a near-dup
    * of 1), 4 an exact dup of 3, 5 a near-dup of 3; survivors 3 and 6. */
  private def resumeFixture() = {
    import spark.implicits._
    val benchToks = (1 to 12).map(i => s"b$i").mkString(" ")
    val bench = Seq((900L, benchToks)).toDF("bench_id", "text")
    val doc1 = "x1 x2 " + benchToks + " y1 y2"
    val doc3 = words("m")
    val docs = Seq(
      (1L, doc1), (2L, doc1 + " z1"), (3L, doc3), (4L, doc3),
      (5L, words("m") + " x9"), (6L, words("u")))
      .toDF("doc_id", "text").withColumn("lang", lit("de"))
    (docs, bench)
  }

  /** A day-0 store with the resume specs' banding. */
  private def freshStore(path: String): String = {
    SignatureStore.init(spark, path, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    path
  }

  test("composed chain: contaminated, exact-dup, and near-dup docs drop; store gets survivors") {
    import spark.implicits._
    val benchToks = (1 to 12).map(i => s"b$i").mkString(" ")
    val bench = Seq((900L, benchToks)).toDF("bench_id", "text")
    val doc1 = "x1 x2 " + benchToks + " y1 y2"   // contaminated
    val doc2 = doc1 + " z1"                      // near-dup of 1, also contaminated
    val doc3 = words("m")                        // exact-dup group {3,4}: keep 3
    val doc5 = words("m") + " x9"                // near-dup of 3: dropped
    val doc6 = words("u")                        // clean unique survivor
    val docs = Seq(
      (1L, doc1), (2L, doc2), (3L, doc3), (4L, doc3), (5L, doc5),
      (6L, doc6))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("de"))

    // store pre-seeded with one retained doc (id 0) so the append path
    // and the monotone watermark are both exercised
    val store = TempDirs.scoped("graft_clean_store")
    SignatureStore.write(
      Seq((0L, words("seed"))).toDF("doc_id", "text"), store,
      nPrefixes = 8, k = 32, bands = 16, shingleN = 3)

    val kept = CleaningPipeline.cleanedMetaResumable(docs, bench,
      freshStage(), keepCols = Seq("lang"), k = 32, bands = 16,
      shingleN = 3, maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
      storePath = Some(store))
    assert(kept.columns.toSeq == Seq("doc_id", "lang"))
    val keptIds = kept.collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(3L, 6L))

    // the full-row transform agrees
    val full = CleaningPipeline.cleanResumable(docs, bench, freshStage(),
      k = 32, bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(full == Set(3L, 6L))

    // survivors are IN the store: a near-dup of survivor 6 pairs with it
    val probe6 = Seq((100L, doc6 + " tail")).toDF("doc_id", "text")
    val got6 = SignatureStore.probe(spark, store, probe6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got6 == Set((6L, 100L)))
    // ...and dropped docs are NOT: a near-dup of contaminated doc 1 finds
    // nothing (1 and 2 were both flagged, never appended)
    val probe1 = Seq((101L, doc1 + " w")).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, store, probe1).count() == 0)
    // a near-dup of dropped doc 5 still pairs with its retained
    // representative 3 (the store holds exactly the retained corpus)
    val probe5 = Seq((102L, doc5 + " q")).toDF("doc_id", "text")
    val got5 = SignatureStore.probe(spark, store, probe5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got5 == Set((3L, 102L)))

    // re-running the same job refuses on the watermark by default
    // (misnumbered-source protection), and succeeds idempotently as a
    // declared replay — survivors unchanged, the store still answers
    intercept[IllegalArgumentException] {
      CleaningPipeline.cleanedMetaResumable(docs, bench, freshStage(),
        keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
        maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
        storePath = Some(store)).count()
    }
    val rerun = CleaningPipeline.cleanedMetaResumable(docs, bench,
      freshStage(), keepCols = Seq("lang"), k = 32, bands = 16,
      shingleN = 3, maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
      storePath = Some(store), allowStoreReplay = true)
      .collect().map(_.getLong(0)).toSet
    assert(rerun == keptIds)
    assert(SignatureStore.probe(spark, store, probe6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((6L, 100L)))
  }

  test("pipeline refuses a store with different banding parameters") {
    import spark.implicits._
    val store = TempDirs.scoped("graft_clean_badstore")
    SignatureStore.write(
      Seq((0L, words("seed"))).toDF("doc_id", "text"), store,
      nPrefixes = 8, k = 32, bands = 8, shingleN = 3) // 8 bands, not 16
    val docs = Seq((1L, words("a"))).toDF("doc_id", "text")
    val bench = Seq((900L, words("bb"))).toDF("bench_id", "text")
    val e = intercept[IllegalArgumentException] {
      CleaningPipeline.cleanedMetaResumable(docs, bench, freshStage(), Nil,
        k = 32, bands = 16, shingleN = 3, storePath = Some(store))
    }
    assert(e.getMessage.contains("bands"))
  }

  test("property: composed chain ≡ independent stages on seeded random corpora") {
    import spark.implicits._
    // the one-pass composition must be EXACTLY the three standalone
    // operators chained — same flags, same keep-mins, same clusters —
    // under inputs nobody hand-picked: mutation-heavy corpora (exact
    // dups, near-dups, chains), benchmarks excerpted from corpus docs
    // (guaranteed contamination), and a bucket cap that sometimes bites
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val vocab = (0 until 30).map(i => s"v$i")
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      def freshText(): String = {
        val n = 8 + rnd.nextInt(14)
        (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      def nextText(): String = {
        val t =
          if (texts.nonEmpty && rnd.nextInt(10) < 6) {
            val base = texts(rnd.nextInt(texts.size))
            rnd.nextInt(3) match {
              case 0 => base // exact dup
              case 1 => base + " " + vocab(rnd.nextInt(vocab.size))
              case _ =>
                val toks = base.split(" ")
                toks.updated(rnd.nextInt(toks.length),
                  vocab(rnd.nextInt(vocab.size))).mkString(" ")
            }
          } else freshText()
        texts += t
        t
      }
      val n = 20 + rnd.nextInt(40)
      val docs = (0 until n).map(i => (i.toLong, nextText()))
        .toDF("doc_id", "text")
      // bench: excerpts of a few corpus docs → some docs must flag
      val bench = (0 until 1 + rnd.nextInt(3)).map { j =>
        (900L + j,
          texts(rnd.nextInt(texts.size)).split(" ").take(10).mkString(" "))
      }.toDF("bench_id", "text")
      val (maxBucket, minOverlap) =
        (if (rnd.nextBoolean()) 2 else 64, 1 + rnd.nextInt(4))

      val composed = CleaningPipeline.cleanedMetaResumable(docs, bench,
        freshStage(), Nil, k = 32, bands = 16, shingleN = 3,
        maxBucket = maxBucket, minJaccard = 0.8, minOverlap = minOverlap)
        .collect().map(_.getLong(0)).toSet
      val independent = graft.ops.Dedup.nearDupDedup(
        graft.ops.Dedup.exactDedup(
          graft.ops.Decontaminate.decontaminate(docs, bench,
            shingleN = 3, minOverlap = minOverlap)),
        k = 32, bands = 16, shingleN = 3, maxBucket = maxBucket,
        minJaccard = 0.8)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(composed == independent,
        s"seed=$seed n=$n maxBucket=$maxBucket minOverlap=$minOverlap: " +
          s"only-composed=${composed -- independent} " +
          s"only-independent=${independent -- composed}")
    }
  }

  test("resumable chain: killed between stages, it resumes to the same survivors; store appended exactly once") {
    import spark.implicits._
    val (docs, bench) = resumeFixture()
    val store = freshStore(TempDirs.scoped("graft_resume_store"))
    val stage = TempDirs.scoped("graft_resume_stage")

    def run(upTo: Int) = CleaningPipeline.runStages(docs, bench, stage,
      Seq("lang"), k = 32, bands = 16, shingleN = 3, maxBucket = 64,
      minJaccard = 0.8, minOverlap = 5, minRatio = 0.0,
      broadcastBench = true, storePath = Some(store),
      allowStoreReplay = false, upTo = upTo)
    def done(d: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$stage/$d/_SUCCESS"))

    // kill after each stage in turn; each resume picks up where it died
    assert(run(0).isEmpty && done("staged") && !done("stage1_flagged"))
    assert(run(1).isEmpty && done("stage1_flagged") && !done("stage2_exact_drops"))
    // resuming with DIFFERENT parameters refuses before touching anything
    val e = intercept[IllegalArgumentException] {
      CleaningPipeline.runStages(docs, bench, stage, Seq("lang"), k = 16,
        bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
        minOverlap = 5, minRatio = 0.0, broadcastBench = true,
        storePath = None, allowStoreReplay = false, upTo = 4)
    }
    assert(e.getMessage.contains("different parameters"))
    assert(run(3).isEmpty && done("stage3_near_drops"))
    val kept = CleaningPipeline.cleanedMetaResumable(docs, bench, stage,
      keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
      maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
      storePath = Some(store))
    assert(kept.columns.toSeq == Seq("doc_id", "lang"))
    assert(kept.collect().map(_.getLong(0)).toSet == Set(3L, 6L))
    // per-stage lineage is queryable
    assert(CleaningPipeline.manifest(spark, stage)
      .select("stage").collect().map(_.getInt(0)).toSet == Set(0, 1, 2, 3, 4))

    val nShingleRows = spark.read.parquet(s"$store/shingles").count()
    assert(nShingleRows == 2L) // survivors 3 and 6

    // crash AFTER the store commit but BEFORE stage 4's manifest record:
    // the resume finds the attempt's tag committed in the store and does
    // NOT double-append
    dropRecord(stage, 4)
    val again = CleaningPipeline.cleanedMetaResumable(docs, bench, stage,
      keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
      maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
      storePath = Some(store)).collect().map(_.getLong(0)).toSet
    assert(again == Set(3L, 6L))
    assert(spark.read.parquet(s"$store/shingles").count() == nShingleRows)
    assert(manifestRows(stage).map(_._1) == Seq(0, 1, 2, 3, 4))

    // crash BEFORE the append ever staged (attempt marker only): the
    // resume runs the append — exercised on a fresh store + stage dir
    val store2 = freshStore(TempDirs.scoped("graft_resume_store2"))
    val stage2 = TempDirs.scoped("graft_resume_stage2")
    CleaningPipeline.runStages(docs, bench, stage2, Nil, k = 32,
      bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, minRatio = 0.0, broadcastBench = true,
      storePath = Some(store2), allowStoreReplay = false, upTo = 3)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$stage2/stage4_store_attempt"))
    CleaningPipeline.cleanedMetaResumable(docs, bench, stage2, Nil,
      k = 32, bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, storePath = Some(store2)).count()
    assert(spark.read.parquet(s"$store2/shingles").count() == 2L)
    // the appended store answers probes like an uninterrupted run's
    val probe6 = Seq((100L, words("u") + " tail")).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, store2, probe6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((6L, 100L)))

    // the full-row resumable transform (fully-staged dir → pure resume)
    val fullRows = CleaningPipeline.cleanResumable(docs, bench, stage2,
      k = 32, bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, storePath = Some(store2)).collect()
    assert(fullRows.map(_.getAs[Long]("doc_id")).toSet == Set(3L, 6L))
    assert(fullRows.forall(_.getAs[String]("text").nonEmpty))
  }

  test("stage 4 resume: pre-commit crash re-appends even when the watermark already covers the batch (positive commit record)") {
    import spark.implicits._
    // the ADVICE-r6 scenario the old watermark inference got wrong: the
    // append attempt crashed BEFORE its journal (nothing committed), and
    // by resume time the store's watermark covers the batch ids anyway —
    // here advanced by a later batch. Inference from the watermark would
    // silently skip the append and lose the batch's signatures; the
    // commit tag in the attempt marker makes "did MY append commit?"
    // answerable from the store metadata itself.
    val bench = Seq((900L, (1 to 12).map(i => s"b$i").mkString(" ")))
      .toDF("bench_id", "text")
    val docs = Seq((1L, words("a")), (2L, words("c")))
      .toDF("doc_id", "text")
    val store = TempDirs.scoped("graft_tag_store")
    SignatureStore.init(spark, store, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    val stage = TempDirs.scoped("graft_tag_stage")
    CleaningPipeline.runStages(docs, bench, stage, Nil, k = 32,
      bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, minRatio = 0.0, broadcastBench = true,
      storePath = Some(store), allowStoreReplay = false, upTo = 3)
    // the crashed attempt left its tagged marker but never journaled
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$stage/stage4_store_attempt"),
      "crashed-attempt-tag".getBytes("UTF-8"))
    // a later batch advances the watermark past this batch's max id
    val late = Seq((1000L, words("zz"))).toDF("doc_id", "text")
    SignatureStore.appendSignatures(spark, store,
      Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bh"),
      late.select(col("doc_id"),
        graft.ops.Dedup.hashShingles(
          graft.ops.Dedup.distinctShingles(col("text"), 3)).as("sh")))
    CleaningPipeline.cleanedMetaResumable(docs, bench, stage, Nil,
      k = 32, bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, storePath = Some(store),
      allowStoreReplay = true).count()
    val ids = spark.read.parquet(s"$store/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 1000L), s"batch signatures lost: $ids")
    // ...and the commit is now positively recorded under the tag
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$store/_store_meta.json")), "UTF-8")
    assert(metaJson.contains(""""lastCommitTag":"crashed-attempt-tag""""),
      metaJson)
  }

  test("stage 4 resume: an empty attempt marker counts as not attempted and gets a fresh tag") {
    import spark.implicits._
    // the only way to leave an empty marker is a crash inside its own
    // write, before recover and the append: the resume appends under a
    // new tag, with strict (non-replay) monotone checking
    val bench = Seq((900L, (1 to 12).map(i => s"b$i").mkString(" ")))
      .toDF("bench_id", "text")
    val docs = Seq((1L, words("a")), (2L, words("c")))
      .toDF("doc_id", "text")
    val store = TempDirs.scoped("graft_empty_tag_store")
    SignatureStore.init(spark, store, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    val stage = TempDirs.scoped("graft_empty_tag_stage")
    def chain(upTo: Int) = CleaningPipeline.runStages(docs, bench, stage,
      Nil, k = 32, bands = 16, shingleN = 3, maxBucket = 64,
      minJaccard = 0.8, minOverlap = 5, minRatio = 0.0,
      broadcastBench = true, storePath = Some(store),
      allowStoreReplay = false, upTo = upTo)
    chain(upTo = 3)
    val marker = java.nio.file.Paths.get(s"$stage/stage4_store_attempt")
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    chain(upTo = 4).get.count()
    val tag = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(tag.nonEmpty, "the empty marker was not re-tagged")
    val metaJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$store/_store_meta.json")), "UTF-8")
    assert(metaJson.contains(s""""lastCommitTag":"$tag""""), metaJson)
    assert(spark.read.parquet(s"$store/shingles").select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("corpus text is read exactly once across the whole chain") {
    import spark.implicits._
    // byte-level FS statistics can't see Spark 4's local-parquet fast
    // path (vectored reads bypass Hadoop statistics), so the corpus is
    // read through [[graft.tools.CountingLocalFs]] — its own scheme, every data-file
    // OPEN counted — and the assertion is self-calibrating: the composed
    // chain must open exactly as many parquet files as ONE plain scan of
    // the same table does. The independent-stages chain opens ~3× that.
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl",
      classOf[graft.tools.CountingLocalFs].getName)
    val dir = TempDirs.scoped("graft_clean_once")
    val rows = (0L until 3000L).map { i =>
      val base = words(s"d$i", 60)
      val t = if (i % 10 == 0) words(s"d${i - 1}", 60) + " extra" else base
      (i, t)
    }
    rows.toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/docs")
    Seq((900L, words("bmark", 40))).toDF("bench_id", "text")
      .write.mode("overwrite").parquet(s"$dir/bench")

    // calibration: one full scan of the corpus through the counting FS
    graft.tools.CountingLocalFs.reset()
    spark.read.parquet(s"cntfs:$dir/docs")
      .agg(sum(length(col("text")))).collect()
    val oneScanOpens = graft.tools.CountingLocalFs.parquetOpens()
    assert(oneScanOpens >= 8, s"calibration degenerate: $oneScanOpens")

    graft.tools.CountingLocalFs.reset()
    val n = CleaningPipeline.cleanedMetaResumable(
      spark.read.parquet(s"cntfs:$dir/docs"),
      spark.read.parquet(s"$dir/bench"), // bench on plain file:// —
      freshStage(), Nil,                 // only corpus opens are counted
      k = 32, bands = 16, shingleN = 3, maxBucket = 64).count()
    val composedOpens = graft.tools.CountingLocalFs.parquetOpens()
    assert(n > 2000 && n < 3000, s"fixture sanity: $n survivors")
    info(s"corpus file opens: one scan = $oneScanOpens, " +
      s"composed chain = $composedOpens")
    assert(composedOpens == oneScanOpens,
      s"composed chain opened corpus files $composedOpens times vs " +
        s"$oneScanOpens for a single scan — text read more than once?")

    // the RESUMABLE path: a chain killed between stages 2 and 3 opens
    // the corpus exactly once (stage 0), and the resumed remainder —
    // driven entirely off the parquet-staged projection — opens corpus
    // files ZERO times
    val stage = TempDirs.scoped("graft_clean_once_stage")
    // killed run: reader constructed INSIDE the window, exactly like the
    // calibration scan, so any schema-inference opens cancel out
    graft.tools.CountingLocalFs.reset()
    CleaningPipeline.runStages(
      spark.read.parquet(s"cntfs:$dir/docs"),
      spark.read.parquet(s"$dir/bench"), stage, Nil,
      k = 32, bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, minRatio = 0.0, broadcastBench = true,
      storePath = None, allowStoreReplay = false, upTo = 2)
    val killedOpens = graft.tools.CountingLocalFs.parquetOpens()
    assert(killedOpens == oneScanOpens,
      s"killed-at-stage-2 chain opened corpus files $killedOpens times " +
        s"vs $oneScanOpens for a single scan")
    // resumed run: reader constructed BEFORE the window (schema inference
    // opens a footer; the resumed CHAIN itself must open nothing)
    val docsDf = spark.read.parquet(s"cntfs:$dir/docs")
    val benchDf = spark.read.parquet(s"$dir/bench")
    graft.tools.CountingLocalFs.reset()
    val nResumed = CleaningPipeline.cleanedMetaResumable(
      docsDf, benchDf, stage, Nil,
      k = 32, bands = 16, shingleN = 3, maxBucket = 64).count()
    val resumeOpens = graft.tools.CountingLocalFs.parquetOpens()
    assert(nResumed == n, s"resumed survivors $nResumed != composed $n")
    info(s"resume after kill: corpus file opens = $resumeOpens")
    assert(resumeOpens == 0,
      s"resumed chain re-opened corpus files $resumeOpens times — " +
        "resume must run entirely off the staged projection")
  }

  test("resume refuses a stage dir whose _params has no shRepr line; the store is untouched") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // a stage dir from an engine that predates the shRepr line (and with
    // it hashed shingle sets, the nsh column and tagged store-attempt
    // markers): staged through stage 3 here, then its _params rewritten
    // without the line. The resume must refuse before touching the store
    // — no recover, no append.
    val bench = Seq((900L, (1 to 12).map(i => s"b$i").mkString(" ")))
      .toDF("bench_id", "text")
    val docs = Seq((1L, words("a")), (2L, words("c")))
      .toDF("doc_id", "text")
    val store = TempDirs.scoped("graft_legacy_store")
    SignatureStore.init(spark, store, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    val stage = TempDirs.scoped("graft_legacy_stage")
    def chain(upTo: Int) = CleaningPipeline.runStages(docs, bench, stage,
      Nil, k = 32, bands = 16, shingleN = 3, maxBucket = 64,
      minJaccard = 0.8, minOverlap = 5, minRatio = 0.0,
      broadcastBench = true, storePath = Some(store),
      allowStoreReplay = false, upTo = upTo)
    chain(upTo = 3)
    val params = Paths.get(s"$stage/_params")
    Files.write(params, Files.readAllLines(params).asScala
      .filterNot(_.startsWith("shRepr=")).mkString("\n").getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(s"$stage/._params.crc"))
    def storeFiles(): Map[String, Seq[Byte]] =
      Files.walk(Paths.get(store)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.readAllBytes(f).toSeq).toMap
    val before = storeFiles()
    val err = intercept[IllegalArgumentException](chain(upTo = 4))
    assert(err.getMessage.contains("use a new stageDir"), err.getMessage)
    assert(storeFiles() == before, "the refused resume changed the store")
    assert(!Files.exists(Paths.get(s"$stage/stage4_store_attempt")))
  }

  test("resume re-runs a stage whose manifest record is missing: one row per stage, as in an uninterrupted run") {
    val (docs, bench) = resumeFixture()
    def run(stage: String, store: String, upTo: Int) =
      CleaningPipeline.runStages(docs, bench, stage, Nil, k = 32,
        bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
        minOverlap = 5, minRatio = 0.0, broadcastBench = true,
        storePath = Some(store), allowStoreReplay = false, upTo = upTo)
    def survivors(stage: String, store: String) =
      run(stage, store, 4).get.collect().map(_.getLong(0)).toSet

    val whole = freshStage()
    assert(survivors(whole, freshStore(TempDirs.scoped("graft_gap_store0")))
      == Set(3L, 6L))
    val expected = manifestRows(whole)
    assert(expected.map(_._1) == Seq(0, 1, 2, 3, 4))

    // killed after stage 1's write, before its record
    val stage = freshStage()
    val store = freshStore(TempDirs.scoped("graft_gap_store1"))
    run(stage, store, 1)
    dropRecord(stage, 1)
    assert(survivors(stage, store) == Set(3L, 6L))
    assert(manifestRows(stage) == expected)

    // a gap below recorded stages (a dir an engine that gated stages on
    // `_SUCCESS` left behind): every stage past the gap re-runs, and its
    // stale row gives way to the new one
    val gapped = freshStage()
    val store2 = freshStore(TempDirs.scoped("graft_gap_store2"))
    run(gapped, store2, 3)
    dropRecord(gapped, 1)
    assert(survivors(gapped, store2) == Set(3L, 6L))
    assert(manifestRows(gapped) == expected)
  }

  test("kill/resume under a non-local Hadoop scheme: no committed stage re-runs and nothing is written to the working directory") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl",
      classOf[CountingLocalFs].getName)
    val (docs, bench) = resumeFixture()
    val cwd = new java.io.File(".").getCanonicalFile
    val cwdBefore = cwd.list().toSet
    val stageLocal = TempDirs.scoped("graft_cntfs_stage")
    val stage = s"cntfs:$stageLocal"
    val store = freshStore(s"cntfs:${TempDirs.scoped("graft_cntfs_store")}")
    def run(upTo: Int) = CleaningPipeline.runStages(docs, bench, stage,
      Seq("lang"), k = 32, bands = 16, shingleN = 3, maxBucket = 64,
      minJaccard = 0.8, minOverlap = 5, minRatio = 0.0,
      broadcastBench = true, storePath = Some(store),
      allowStoreReplay = false, upTo = upTo)
    // every write job names its files anew, so a re-run stage shows as
    // a changed file listing
    def files(dir: String): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isFile) Seq(f.getPath)
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      walk(new java.io.File(s"$stageLocal/$dir")).toSet
    }
    val committed = Seq("staged", "stage1_flagged", "stage2_exact_drops")

    assert(run(0).isEmpty)
    val staged = files("staged")
    assert(staged.exists(_.endsWith(".parquet")))
    assert(run(2).isEmpty)
    assert(files("staged") == staged, "the resume re-ran stage 0")
    val before = committed.map(files)
    assert(run(4).get.collect().map(_.getLong(0)).toSet == Set(3L, 6L))
    assert(committed.map(files) == before, "the resume re-ran a committed stage")
    assert(manifestRows(stage).map(_._1) == Seq(0, 1, 2, 3, 4))
    assert(spark.read.parquet(s"$store/shingles").count() == 2L)
    assert(cwd.list().toSet == cwdBefore,
      s"written to the working directory: ${cwd.list().toSet -- cwdBefore}")
  }

  /** The Spark jobs of a fresh-dir chain call with a store, measured on
    * this spec's session (local[8], 8 shuffle partitions) over
    * [[resumeFixture]], survivors' collect included: 30 or 31 — the one
    * that comes and goes is the map stage of stage 1's `distinct()`
    * exchange, which AQE sometimes folds into the write's final stage
    * after the aggregate's shuffle reads back as one partition. */
  private val ChainJobBudget = 31

  test("job budget: a fresh-dir chain call with a store runs a bounded number of jobs and infers no schema") {
    val (docs, bench) = resumeFixture()
    val store = freshStore(TempDirs.scoped("graft_budget_store"))
    val (kept, jobs) = SparkTestSession.recordingJobs(
      CleaningPipeline.cleanedMetaResumable(docs, bench, freshStage(),
        keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
        maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
        storePath = Some(store)).collect().map(_.getLong(0)).toSet)
    assert(kept == Set(3L, 6L))
    info(s"fresh chain call: ${jobs.size} jobs")
    assert(jobs.count(SparkTestSession.isSchemaInference) == 0)
    assert(jobs.size <= ChainJobBudget,
      s"${jobs.size} jobs > budget $ChainJobBudget")
  }

  test("a resumed call whose stages 0-3 are committed runs at most one schema-inference job") {
    val (docs, bench) = resumeFixture()
    val store = freshStore(TempDirs.scoped("graft_budget_resume_store"))
    val stage = freshStage()
    CleaningPipeline.runStages(docs, bench, stage, Seq("lang"), k = 32,
      bands = 16, shingleN = 3, maxBucket = 64, minJaccard = 0.8,
      minOverlap = 5, minRatio = 0.0, broadcastBench = true,
      storePath = Some(store), allowStoreReplay = false, upTo = 3)
    val (kept, jobs) = SparkTestSession.recordingJobs(
      CleaningPipeline.cleanedMetaResumable(docs, bench, stage,
        keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
        maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
        storePath = Some(store)).collect().map(_.getLong(0)).toSet)
    assert(kept == Set(3L, 6L))
    val inferred = jobs.count(SparkTestSession.isSchemaInference)
    info(s"resumed call: ${jobs.size} jobs, $inferred schema-inference")
    assert(inferred <= 1)
  }

  test("every stage dir reads back with the schema inference reads; an int-typed doc_id chain equals the long-typed one") {
    val (docs, bench) = resumeFixture()
    def chain(in: org.apache.spark.sql.DataFrame) = {
      val stage = freshStage()
      val kept = CleaningPipeline.cleanedMetaResumable(in, bench, stage,
        keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
        maxBucket = 64, minJaccard = 0.8, minOverlap = 5)
        .collect().map(_.getLong(0)).toSet
      // the schema of the staged frame a fresh call writes, and a resume
      // that infers the staged dir's
      Seq(Some(CleaningPipeline.stagedFrame(in, Seq("lang"), 32, 3).schema),
          None).foreach { written =>
        val dirs = new CleaningPipeline.StageDirs(spark, stage)
        dirs.stagedSchema = written
        Seq(dirs.stagedDir -> dirs.staged, dirs.flaggedDir -> dirs.flagged,
            dirs.exactDir -> dirs.exactDrops, dirs.nearDir -> dirs.nearDrops)
          .foreach { case (dir, df) =>
            assert(df.schema == spark.read.parquet(dir).schema,
              s"$dir (written schema: $written)")
          }
      }
      (kept, manifestRows(stage))
    }
    val long = chain(docs)
    assert(long._1 == Set(3L, 6L))
    assert(long._2.map(_._1) == Seq(0, 1, 2, 3))
    assert(chain(docs.withColumn("doc_id", col("doc_id").cast("int"))) == long)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.ner.{AliasTrieScorer, NerStage}
import graft.streaming.StreamingKg
import graft.synth.Synth
import graft.tools.TempDirs

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming NER over a file source equals the batch result") {
    val inDir = TempDirs.scoped("stream_in")
    val ckDir = TempDirs.scoped("stream_ck")
    val articles = Synth.articles(spark, 500, 42L, 4)
    articles.write.mode("overwrite").parquet(inDir)

    val q = StreamingKg.startMemorySink(
      StreamingKg.mentionStream(spark, inDir, new AliasTrieScorer),
      "stream_mentions", ckDir)
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT id FROM stream_mentions")
      val batch = NerStage.detect(articles, new AliasTrieScorer).toDF()
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch.select("id")).count() == 0)

      // incremental: new files are picked up exactly once
      Synth.articles(spark, 100, 9L, 2)
        .write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val extra = NerStage.detect(
        Synth.articles(spark, 100, 9L, 2), new AliasTrieScorer).count()
      assert(spark.sql("SELECT * FROM stream_mentions").count() ==
        batch.count() + extra)
    } finally q.stop()
  }

  test("windowed mention rates: event-time windows close as the watermark advances") {
    import spark.implicits._
    import graft.core.Mention
    val inDir = TempDirs.scoped("rates_in")
    val ckDir = TempDirs.scoped("rates_ck")
    def m(url: String, name: String) =
      Mention(url, "org.ent.pressagency." + name, name, name, "Q1", 0, 0, 5,
        0, 5, 1.0, "fr", url + ":0:5")
    def writeBatch(ms: Seq[Mention]): Unit =
      ms.toDS().write.mode("append").parquet(inDir)

    // articleTs dimension: urls u1/u2 in minute T0, u3 in minute T0+1,
    // u4 two hours later (advances the watermark past T0's windows),
    // u5 three hours later (triggers the flush micro-batch).
    // NB: Spark initializes the global watermark to the epoch and only
    // ratchets it FORWARD, so pre-1970 event times (the reference corpus
    // starts in 1840!) can never advance it — historical-archive streams
    // must remap event time (e.g. ingest time) before watermarking.
    val t0 = java.sql.Timestamp.valueOf("1990-06-01 10:00:10")
    def plus(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val articleTs = Seq(
      ("u1", t0), ("u2", plus(20)), ("u3", plus(70)),
      ("u4", plus(7200)), ("u5", plus(10800))).toDF("url", "warc_ts")

    writeBatch(Seq(m("u1", "Reuters"), m("u2", "Reuters"), m("u3", "Havas")))
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Mention]].schema)
      .parquet(inDir).as[Mention]
    val q = StreamingKg.mentionRates(stream, articleTs)
      .writeStream.format("memory").queryName("rates_out")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // windows are still open: watermark = max_event - 1h < any window end
      assert(spark.sql("SELECT * FROM rates_out").count() == 0)

      // an event 2h later advances the watermark past T0's windows …
      writeBatch(Seq(m("u4", "Wolff")))
      q.processAllAvailable()
      // … and the flush batch emits the closed windows
      writeBatch(Seq(m("u5", "Wolff")))
      q.processAllAvailable()
      val closed = spark.sql(
        "SELECT window.start, name, n_mentions FROM rates_out")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val min0 = java.sql.Timestamp.valueOf("1990-06-01 10:00:00")
      val min1 = java.sql.Timestamp.valueOf("1990-06-01 10:01:00")
      assert(closed == Map(
        (min0, "Reuters") -> 2L, (min1, "Havas") -> 1L))
    } finally q.stop()
  }

  test("stateful streaming dedup: first-seen wins across micro-batches, state counts dups") {
    import spark.implicits._
    val inDir = TempDirs.scoped("dedup_in")
    val ckDir = TempDirs.scoped("dedup_ck")
    // batch 1: two distinct texts, one duplicated within the batch
    Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma delta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .parquet(inDir)
    val q = StreamingKg.dedupStream(stream)
      .toDF()
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val out1 = spark.sql("SELECT doc_id, n_dups_seen FROM dedup_out")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // first-seen (min id within the batch) emitted once per distinct text
      assert(out1 == Map(1L -> 1L, 3L -> 0L))

      // batch 2: a cross-micro-batch duplicate is suppressed by state;
      // a new text flows through
      Seq((4L, "alpha beta"), (5L, "epsilon zeta"))
        .toDF("doc_id", "text").write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val out2 = spark.sql("SELECT doc_id FROM dedup_out")
        .collect().map(_.getLong(0)).toSet
      assert(out2 == Set(1L, 3L, 5L)) // doc 4 suppressed — seen in state
    } finally q.stop()
  }

  test("streaming NEAR-dup dedup: store probe + survivor append across micro-batches") {
    import spark.implicits._
    val inDir = TempDirs.scoped("nd_in")
    val ckDir = TempDirs.scoped("nd_ck")
    val outDir = TempDirs.scoped("nd_out") + "/survivors"
    val store = TempDirs.scoped("nd_store")
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    // seed corpus in the store: docs 0..49
    val corpus = (0L until 50L).map(i => (i, words(s"c$i")))
      .toDF("doc_id", "text")
    graft.ops.SignatureStore.write(corpus, store, nPrefixes = 16, k = 32,
      bands = 16, shingleN = 3)

    // micro-batch 1: one near-dup of stored doc 7, one fresh doc
    Seq((100L, words("c7") + " tail"), (101L, words("f1")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir)
    val q = StreamingKg.nearDupDedupStream(stream, store, outDir, ckDir,
      maxBucket = 1024, minJaccard = 0.8)
    try {
      q.processAllAvailable()
      val out1 = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(out1 == Set(101L)) // 100 near-dups stored doc 7 → dropped

      // micro-batch 2: a near-dup of batch-1's SURVIVOR (cross-batch via
      // the store append), a near-dup within the batch, and a fresh doc
      Seq((200L, words("f1") + " tail"),
        (201L, words("g2")), (202L, words("g2") + " x"),
        (203L, words("h3")))
        .toDF("doc_id", "text").write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val out2 = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // 200 dups the appended 101; 202 dups 201 within the batch
      assert(out2 == Set(101L, 201L, 203L))
      // the store's commit tag is the only commit record: no marker files
      // in the store root, and the last commit is the last epoch's
      val markers = new java.io.File(store).listFiles()
        .map(_.getName).filter(_.startsWith("_batch_"))
      assert(markers.isEmpty, markers.toSeq)
      assert(graft.ops.SignatureStore.readMeta(spark, store).lastCommitTag ==
        s"${q.id}#1")
    } finally q.stop()
  }

  test("two queries with different checkpoints over one store each commit every epoch") {
    import spark.implicits._
    val store = TempDirs.scoped("two_q_store")
    def words(p: String) = (1 to 15).map(t => s"${p}_$t").mkString(" ")
    graft.ops.SignatureStore.init(spark, store, nPrefixes = 8, k = 32,
      bands = 16, shingleN = 3)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two epochs per query, one fresh doc each; the second query's batch
    // ids come after the first's, as the store's monotone ids require
    def run(name: String, ids: Seq[Long]): Set[Long] = {
      val outDir = TempDirs.scoped(s"${name}_out") + "/survivors"
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = StreamingKg.nearDupDedupStream(mem.toDF().toDF("doc_id", "text"),
        store, outDir, TempDirs.scoped(s"${name}_ck"), maxBucket = 1024)
      try ids.foreach { id =>
        mem.addData((id, words(s"d$id")))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    }
    assert(run("two_q_a", Seq(1000L, 1010L)) == Set(1000L, 1010L))
    // the second query's epoch ids repeat the first's: its epoch 1 must
    // still run, because its tag carries its own query id
    assert(run("two_q_b", Seq(2000L, 2010L)) == Set(2000L, 2010L))
    assert(spark.read.parquet(s"$store/shingles").select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1000L, 1010L, 2000L, 2010L))
  }

  test("near-dup epoch replay: a committed epoch is skipped by its tag with no Spark job; a pending commit is completed once") {
    import spark.implicits._
    val store = TempDirs.scoped("replay_store")
    val outDir = TempDirs.scoped("replay_out") + "/survivors"
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    graft.ops.SignatureStore.init(spark, store, nPrefixes = 8, k = 32,
      bands = 16, shingleN = 3)
    def epoch(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingKg.nearDupDedupEpoch(batch, "q1", id, store, outDir,
        maxBucket = 1024, minJaccard = 0.8, compactEvery = 0,
        maxFilesPerPartition = 4)
    def storeIds() = spark.read.parquet(s"$store/shingles")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def survivors() = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val metaFile = java.nio.file.Paths.get(s"$store/_store_meta.json")
    // epoch 0: 101 near-dups 100 inside the batch
    val b0 = Seq((100L, words("a")), (101L, words("a") + " tail"))
      .toDF("doc_id", "text")
    epoch(b0, 0L)
    val (ids0, surv0) = (storeIds(), survivors())
    val meta0 = java.nio.file.Files.readAllBytes(metaFile)
    assert(surv0 == Seq(100L) && ids0 == Seq(100L))
    // the at-least-once retry of the committed epoch
    val (_, jobs) = SparkTestSession.countingJobs(epoch(b0, 0L))
    assert(jobs == 0, s"a committed epoch's replay ran $jobs jobs")
    assert(storeIds() == ids0 && survivors() == surv0)
    assert(java.nio.file.Files.readAllBytes(metaFile).sameElements(meta0))

    // epoch 1 crashed inside its store commit: survivors written, journal
    // under the epoch's tag, metadata deleted
    val b1 = Seq((200L, words("b"))).toDF("doc_id", "text")
    b1.write.parquet(s"$outDir/batch=1")
    assert(graft.ops.SignatureStore.stageAppend(spark, store,
      Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bh"),
      b1.select(col("doc_id"), graft.ops.Dedup.hashShingles(
        graft.ops.Dedup.distinctShingles(col("text"), 3)).as("sh")),
      commitTag = Some("q1#1")))
    java.nio.file.Files.delete(metaFile)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$store/._store_meta.json.crc"))
    // the retry's recover completes the commit, then the tag skips it:
    // a re-run would refuse 200 as at or below the watermark
    epoch(b1, 1L)
    assert(storeIds() == Seq(100L, 200L))
    assert(survivors() == Seq(100L, 200L))
    assert(graft.ops.SignatureStore.readMeta(spark, store).lastCommitTag ==
      "q1#1")
  }

  test("soak: 50 micro-batches with compaction cadence keep the store's file count bounded") {
    import spark.implicits._
    // the long-running shape of the production loop: every micro-batch
    // appends one file per touched partition, so an uncompacted store
    // grows ~50× here and probe listing cost grows with it. With the
    // threshold-gated compaction every 10 batches, the file count must
    // stay bounded by the cadence — and the LAST batch triggers a
    // compact, so every partition ends at or under the bound.
    val ckDir = TempDirs.scoped("soak_ck")
    val outDir = TempDirs.scoped("soak_out") + "/survivors"
    val store = TempDirs.scoped("soak_store")
    def words(p: String) = (1 to 15).map(t => s"${p}_$t").mkString(" ")
    graft.ops.SignatureStore.init(spark, store, nPrefixes = 8, k = 32,
      bands = 16, shingleN = 3)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingKg.nearDupDedupStream(docs, store, outDir, ckDir,
      maxBucket = 1024, minJaccard = 0.8,
      compactEvery = 10, maxFilesPerPartition = 4)

    def partFileCounts(): Map[String, Int] = {
      val root = new java.io.File(store)
      (for {
        table <- Seq("bands", "shingles")
        part <- Option(new java.io.File(root, table).listFiles()).toSeq
          .flatten.filter(d => d.isDirectory && d.getName.contains("="))
      } yield s"$table/${part.getName}" ->
        part.listFiles().count(fl => !fl.getName.startsWith("_") &&
          !fl.getName.startsWith("."))).toMap
    }
    def probeMillis(id: Long): Long = {
      // best-of-2: fixed JVM/scheduling noise, not data-size, dominates
      // at this scale — the assertion is "no growth trend", not a hard
      // absolute
      val b = Seq((id, words("t5") + " zz")).toDF("doc_id", "text")
      (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        graft.ops.SignatureStore.probe(spark, store, b).count()
        (System.nanoTime() - t0) / 1000000
      }.min
    }

    try {
      var earlyProbeMs = Long.MaxValue
      (0 until 50).foreach { i =>
        val base = 1000L + i * 10
        val rows = Seq((base, words(s"t$i")), (base + 1, words(s"u$i"))) ++
          // every 5th batch near-dups the PREVIOUS batch's survivor —
          // dropped via the store, keeping the dedup path hot all soak
          (if (i % 5 == 0 && i > 0)
            Seq((base + 2, words(s"t${i - 1}") + " x")) else Nil)
        mem.addData(rows: _*)
        q.processAllAvailable()
        if (i == 9) earlyProbeMs = probeMillis(900001L)
      }
      // survivors: 2 per batch; every near-dup row dropped (9 of them)
      val survivors = spark.read.parquet(outDir).count()
      assert(survivors == 100L, s"survivors=$survivors")
      // batch 49 triggered the final compact: every partition is at or
      // under the bound (an uncompacted soak leaves ~50 files in hot
      // partitions)
      val counts = partFileCounts()
      assert(counts.nonEmpty)
      val over = counts.filter(_._2 > 4)
      assert(over.isEmpty, s"partitions over the bound after soak: $over")
      // probe latency after 50 batches is in the same regime as after
      // 10 — bounded files mean bounded listing/read work (generous 4×:
      // both measurements are fixed-overhead-dominated)
      val lateProbeMs = probeMillis(900002L)
      info(s"probe ms: early=$earlyProbeMs late=$lateProbeMs")
      assert(lateProbeMs < earlyProbeMs * 4 + 500,
        s"probe grew: early=$earlyProbeMs ms late=$lateProbeMs ms")
    } finally q.stop()
  }
}

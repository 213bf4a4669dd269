package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, SignatureStore}
import graft.tools.TempDirs

/** Incremental near-dup dedup against the persisted signature store:
  * (1) probe(store, batch) must emit exactly the batch-touching pairs the
  * batch path emits over (corpus ∪ batch); (2) the probe must READ only
  * pruned partitions — listener-asserted bytes well under one pass over
  * the store (and under the raw corpus payload), plus no corpus text. */
class SignatureStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  test("incremental probe: pair parity with the batch path, pruned store read") {
    import spark.implicits._
    // corpus: 2000 unique docs, 20 tokens each
    val corpus = (0L until 2000L)
      .map(i => (i, (1 to 20).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    // batch: 3 near-dups of corpus docs (one appended token → j = 18/19),
    // 2 fresh docs, and an internal near-dup pair (10005 ~ 10006)
    val nd = Seq(5L, 17L, 42L)
    val batchRows =
      nd.zipWithIndex.map { case (src, j) =>
        (10000L + j, (1 to 20).map(t => s"c${src}_$t").mkString(" ") + " extra")
      } ++ Seq(
        (10003L, (1 to 20).map(t => s"f3_$t").mkString(" ")),
        (10004L, (1 to 20).map(t => s"f4_$t").mkString(" ")),
        (10005L, (1 to 20).map(t => s"g5_$t").mkString(" ")),
        (10006L, (1 to 20).map(t => s"g5_$t").mkString(" ") + " tail"))
    val batch = batchRows.toDF("doc_id", "text")

    val path = TempDirs.scoped("graft_sigstore")
    SignatureStore.write(corpus, path, nPrefixes = 64, k = 32, bands = 16,
      shingleN = 3)
    val storeBytes = dirBytes(new java.io.File(path))
    val corpusBytes = corpus.select(sum(length(col("text"))))
      .collect()(0).getLong(0)

    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) read.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val pairs = SignatureStore.probe(spark, path, batch,
          maxBucket = 1024, minJaccard = 0.8)
          .collect()
        var last = -1L
        var spins = 0
        while (read.get() != last && spins < 50) {
          last = read.get(); Thread.sleep(100); spins += 1
        }
        pairs
      } finally spark.sparkContext.removeSparkListener(listener)

    // parity: the batch path over (corpus ∪ batch), restricted to pairs
    // touching the batch
    val all = corpus.unionByName(batch)
    val expected = Dedup.jaccardVerify(all,
      Dedup.lshCandidatePairs(all, k = 32, bands = 16, shingleN = 3,
        maxBucket = 1024), shingleN = 3, minJaccard = 0.8)
      .where(col("id1") >= 10000L || col("id2") >= 10000L)
      .collect()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    assert(canon(got) == canon(expected))
    // the fixture really covers both shapes: 3 cross pairs + 1 internal
    assert(canon(got).map(t => (t._1, t._2)) ==
      Set((5L, 10000L), (17L, 10001L), (42L, 10002L), (10005L, 10006L)))

    // the pruning is genuinely at the SOURCE: the probe plan's store
    // scans carry PartitionFilters on the prefix columns (the same
    // mechanism PlanSpec asserts for the IVF layout)
    val plan = SignatureStore.probe(spark, path, batch, maxBucket = 1024,
      minJaccard = 0.8).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      (plan.contains("bh_pfx") || plan.contains("doc_pfx")), plan)

    // read volume: pruned partitions only — far below one store pass and
    // below one pass over the raw corpus text
    info(s"probe read ${read.get()} bytes; store $storeBytes; corpus text $corpusBytes")
    assert(read.get() < storeBytes / 2,
      s"probe read ${read.get()} >= half the store ($storeBytes) — partition pruning broken?")
    assert(read.get() < corpusBytes,
      s"probe read ${read.get()} >= one corpus text pass ($corpusBytes)")
  }

  test("probe with no collisions reads no shingle partitions and finds nothing") {
    import spark.implicits._
    val corpus = (0L until 100L)
      .map(i => (i, (1 to 20).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq((5000L, (1 to 20).map(t => s"x_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore2")
    SignatureStore.write(corpus, path, nPrefixes = 16)
    assert(SignatureStore.probe(spark, path, batch).count() == 0)
  }

  test("append folds a batch into the store: the NEXT batch dedups against it") {
    import spark.implicits._
    val corpus = (0L until 100L)
      .map(i => (i, (1 to 20).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore3")
    SignatureStore.write(corpus, path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    // batch B: one fresh doc; appended after (an empty) probe
    val bText = (1 to 20).map(t => s"b_$t").mkString(" ")
    val batchB = Seq((200L, bText)).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, path, batchB).count() == 0)
    SignatureStore.append(spark, path, batchB)
    // batch C: a near-dup of the B doc — must now pair against the STORE
    val batchC = Seq((300L, bText + " tail")).toDF("doc_id", "text")
    val got = SignatureStore.probe(spark, path, batchC).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((200L, 300L)))
    assert(math.abs(got.head.getDouble(2) - 18.0 / 19.0) < 1e-9)
  }

  test("degenerate bucket: probe cap equals the batch path's smallest-ids cap") {
    import spark.implicits._
    // 100 identical boilerplate docs with SMALL ids + one identical batch
    // doc with a BIG id. The batch path's cap keeps the maxBucket=50
    // smallest ids of the merged bucket — the batch doc is EVICTED and no
    // batch-touching pair exists. The probe must agree (a per-side cap
    // would wrongly emit 50 pairs here).
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val corpus = (0L until 100L).map(i => (i, boiler)).toDF("doc_id", "text")
    val batch = Seq((5000L, boiler)).toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore4")
    SignatureStore.write(corpus, path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    assert(SignatureStore.probe(spark, path, batch, maxBucket = 50).count()
      == 0)
    val batchPath = Dedup.jaccardVerify(corpus.unionByName(batch),
      Dedup.lshCandidatePairs(corpus.unionByName(batch), k = 32,
        bands = 16, shingleN = 3, maxBucket = 50))
      .where(col("id1") === 5000L || col("id2") === 5000L)
    assert(batchPath.count() == 0)
  }

  test("probe refuses a store written with a different signature version") {
    import spark.implicits._
    val corpus = (0L until 10L)
      .map(i => (i, (1 to 20).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore5")
    SignatureStore.write(corpus, path, nPrefixes = 8)
    // simulate a store from the historical char-level hash (version 1);
    // drop the Hadoop LocalFileSystem checksum sidecar the raw edit
    // invalidates
    val meta = java.nio.file.Paths.get(s"$path/_store_meta.json")
    val json = java.nio.file.Files.readString(meta)
    java.nio.file.Files.writeString(meta,
      json.replace(s""""sigVersion":${SignatureStore.SigVersion}""",
        """"sigVersion":1"""))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path/._store_meta.json.crc"))
    val batch = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path, batch).count()
    }
    assert(e.getMessage.contains("signature version"))
  }

  test("store persists hashed shingle sets; a different representation refuses") {
    import spark.implicits._
    val corpus = (0L until 10L)
      .map(i => (i, (1 to 20).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore_shrepr")
    SignatureStore.write(corpus, path, nPrefixes = 8)
    // the at-rest representation is array<long> (Dedup.hashShingles)
    assert(spark.read.parquet(s"$path/shingles").schema("sh").dataType
      match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => true
        case _ => false
      })
    // a store persisting another representation (legacy raw strings)
    // refuses probes loudly — hashed batch sets would match nothing
    val meta = java.nio.file.Paths.get(s"$path/_store_meta.json")
    val json = java.nio.file.Files.readString(meta)
    java.nio.file.Files.writeString(meta,
      json.replace(s""""shRepr":"${SignatureStore.ShRepr}"""",
        """"shRepr":"raw""""))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path/._store_meta.json.crc"))
    val batch = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path, batch).count()
    }
    assert(e.getMessage.contains("representation"))
    // an append of raw-string sets refuses at the door too
    val rawSh = Seq((101L, Seq("a b c", "b c d")))
      .toDF("doc_id", "sh")
    val e2 = intercept[IllegalArgumentException] {
      SignatureStore.appendSignatures(spark,
        { // restore good meta first so readMeta passes
          java.nio.file.Files.writeString(meta, json)
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$path/._store_meta.json.crc"))
          path
        },
        spark.emptyDataFrame.select(lit(0L).as("doc_id"),
          lit(0).as("band"), lit(0L).as("bh")).limit(0),
        rawSh)
    }
    assert(e2.getMessage.contains("array<long>"))
  }

  test("monotone-ingest watermark: probe and append refuse batch ids at or below the stored max") {
    import spark.implicits._
    val corpus = (0L until 100L)
      .map(i => (i, (1 to 20).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore_mono")
    SignatureStore.write(corpus, path, nPrefixes = 16)
    // batch containing an id BELOW the stored max (99): a stored near-dup
    // would become the non-representative — the store must refuse
    val bad = Seq((42L, "a b c d e f")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path, bad).count()
    }
    assert(e1.getMessage.contains("monotone"))
    val e2 = intercept[IllegalArgumentException] {
      SignatureStore.append(spark, path, bad)
    }
    assert(e2.getMessage.contains("monotone"))
    // the boundary itself (== max) also refuses; strictly-greater passes
    val eq = Seq((99L, "a b c d e f")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path, eq).count()
    }
    val ok = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    SignatureStore.probe(spark, path, ok).count() // no near-dups, no error
    // append advances the watermark: after appending 100, probing 100
    // refuses but 101 passes
    SignatureStore.append(spark, path, ok)
    intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path, ok).count()
    }
    SignatureStore.probe(spark, path,
      Seq((101L, "x y z w v u")).toDF("doc_id", "text")).count()
  }

  test("staged append: live store valid while staged; crash in the commit window recovers") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val corpus = (0L until 100L).map(i => (i, words(s"c$i")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore_crash")
    SignatureStore.write(corpus, path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    assert(!SignatureStore.recover(spark, path)) // healthy: nothing to do

    // stage an append of doc 200 WITHOUT committing — the live store must
    // still probe exactly as before (staging is invisible)
    val batchB = Seq((200L, words("b"))).toDF("doc_id", "text")
    assert(SignatureStore.stageAppendBatch(spark, path, batchB))
    val probeC = Seq((300L, words("b") + " tail")).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, path, probeC).count() == 0)

    // a second staged commit is refused while one is pending
    val e0 = intercept[IllegalArgumentException] {
      SignatureStore.stageAppendBatch(spark, path,
        Seq((400L, words("x"))).toDF("doc_id", "text"))
    }
    assert(e0.getMessage.contains("recover"))

    // simulate a crash INSIDE the commit window: metadata deleted, some
    // staged files already moved, journal still present
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path/_store_meta.json"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path/._store_meta.json.crc"))
    val staging = new java.io.File(path).listFiles()
      .find(_.getName.startsWith("_staging_")).get
    val stagedPart = new java.io.File(staging, "bands").listFiles()
      .find(f => f.isDirectory && f.getName.startsWith("bh_pfx=")).get
    val oneFile = stagedPart.listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    val liveDir = new java.io.File(s"$path/bands/${stagedPart.getName}")
    liveDir.mkdirs()
    java.nio.file.Files.move(oneFile.toPath,
      new java.io.File(liveDir, oneFile.getName).toPath)

    // the half-committed store refuses loudly and points at recover
    val e = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path, probeC).count()
    }
    assert(e.getMessage.contains("recover"))

    // recover replays the remaining renames and restores the metadata:
    // the appended doc is now live and the probe pairs against it
    assert(SignatureStore.recover(spark, path))
    val got = SignatureStore.probe(spark, path, probeC).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((200L, 300L)))
    assert(!SignatureStore.recover(spark, path)) // journal consumed
    // no staging/trash debris left behind
    assert(new java.io.File(path).listFiles()
      .forall(f => !f.getName.startsWith("_staging_") &&
        !f.getName.startsWith("_trash_")))
    // a crash BEFORE the journal write (staging written, live store
    // untouched) leaves an orphan staging dir, and a crash inside a
    // metadata, journal or marker write leaves its temp file (the old
    // journal temp name included) — recover sweeps them even though
    // there is nothing to replay, and leaves the live metadata alone
    val orphan = new java.io.File(path, "_staging_000_orphan")
    assert(orphan.mkdirs())
    val temps = Seq("._store_meta.json.tmp", "._commit_journal.json.tmp",
      "._batch_7_done.tmp", "._commit_journal.tmp")
      .map(new java.io.File(path, _))
    temps.foreach(t => assert(t.createNewFile(), t))
    assert(!SignatureStore.recover(spark, path))
    assert(!orphan.exists())
    assert(temps.forall(!_.exists()), temps.filter(_.exists()))
    assert(SignatureStore.probe(spark, path, probeC).count() == 1)
  }

  test("compact bounds per-partition file counts and preserves probe results") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val corpus = (0L until 100L).map(i => (i, words(s"c$i")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore_compact")
    SignatureStore.write(corpus, path, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    // 5 micro-batch appends — the streaming loop's small-file shape
    (0 until 5).foreach { b =>
      val batch = (0 until 10).map(i =>
        (1000L + 10 * b + i, words(s"a${b}_$i"))).toDF("doc_id", "text")
      SignatureStore.append(spark, path, batch)
    }
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
        else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      walk(new java.io.File(dir))
    }
    val before = parquetFiles(path).size
    val probeBatch = Seq(
      (5000L, words("c7") + " tail"),    // near-dup of a corpus doc
      (5001L, words("a2_3") + " tail"))  // near-dup of an APPENDED doc
      .toDF("doc_id", "text")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val beforePairs = canon(
      SignatureStore.probe(spark, path, probeBatch).collect())
    assert(beforePairs.map(t => (t._1, t._2)) ==
      Set((7L, 5000L), (1023L, 5001L)))

    SignatureStore.compact(spark, path)

    // one file per present prefix partition per table
    val bandParts = new java.io.File(s"$path/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bh_pfx="))
    assert(bandParts.nonEmpty)
    bandParts.foreach { p =>
      assert(parquetFiles(p.toString).size == 1, s"${p.getName}")
    }
    assert(parquetFiles(path).size < before)
    // identical probe results, watermark intact (5000 > 1049 passes;
    // 1049 itself would refuse)
    assert(canon(SignatureStore.probe(spark, path, probeBatch).collect())
      == beforePairs)
    intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, path,
        Seq((1049L, "a b c")).toDF("doc_id", "text")).count()
    }
  }

  test("property: probe ≡ batch-touching subset of the batch path on seeded random corpora") {
    import spark.implicits._
    // randomized differential check of the cap/merge equivalence argument
    // (SignatureStore scaladoc): for ANY corpus/batch split with monotone
    // ids, probe(store(old), batch) must equal the batch-touching subset
    // of jaccardVerify(lshCandidatePairs(old ∪ batch)) — including under
    // a tiny maxBucket where the merged-membership cap bites. Seeded
    // scala.util.Random (PropertySpec convention: deterministic suite,
    // no scalatestplus in the offline cache); mutation-heavy generator so
    // near-dups, exact dups, and boilerplate collisions all occur.
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 25).map(i => s"v$i")
      def freshText(): String = {
        val n = 6 + rnd.nextInt(12)
        (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      def mutate(t: String): String = {
        val toks = scala.collection.mutable.ArrayBuffer(t.split(" "): _*)
        rnd.nextInt(3) match {
          case 0 => toks.append(vocab(rnd.nextInt(vocab.size)))
          case 1 => if (toks.size > 4) toks.remove(rnd.nextInt(toks.size))
          case _ => toks(rnd.nextInt(toks.size)) = vocab(rnd.nextInt(vocab.size))
        }
        toks.mkString(" ")
      }
      def nextText(): String = {
        val t =
          if (texts.nonEmpty && rnd.nextDouble() < 0.5)
            mutate(texts(rnd.nextInt(texts.size)))
          else freshText()
        texts += t
        t
      }
      val nOld = 5 + rnd.nextInt(25)
      val nBatch = 1 + rnd.nextInt(10)
      val old = (0 until nOld).map(i => (i.toLong, nextText()))
        .toDF("doc_id", "text")
      val batch = (0 until nBatch).map(i => (1000L + i, nextText()))
        .toDF("doc_id", "text")
      val maxBucket = if (rnd.nextBoolean()) 2 else 64
      val path = TempDirs.scoped(s"graft_sigstore_prop$seed")
      SignatureStore.write(old, path, nPrefixes = 8, k = 32, bands = 16,
        shingleN = 3)
      val got = SignatureStore
        .probe(spark, path, batch, maxBucket = maxBucket)
        .collect()
      val all = old.unionByName(batch)
      val want = Dedup.jaccardVerify(all,
        Dedup.lshCandidatePairs(all, k = 32, bands = 16, shingleN = 3,
          maxBucket = maxBucket), shingleN = 3, minJaccard = 0.8)
        .where(col("id1") >= 1000L || col("id2") >= 1000L)
        .collect()
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
      assert(canon(got) == canon(want),
        s"seed=$seed nOld=$nOld nBatch=$nBatch maxBucket=$maxBucket")
    }
  }

  test("allowReplay: a re-append is accepted and later probes stay exact") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val corpus = (0L until 50L).map(i => (i, words(s"c$i")))
      .toDF("doc_id", "text")
    val path = TempDirs.scoped("graft_sigstore_replay")
    SignatureStore.write(corpus, path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    // the batch: a near-dup of stored doc 7 + a fresh doc
    val batch = Seq((100L, words("c7") + " tail"), (101L, words("f1")))
      .toDF("doc_id", "text")
    SignatureStore.append(spark, path, batch)
    // a re-append of rows already folded in (ids at or below the
    // watermark) refuses strictly and is accepted with allowReplay; its
    // duplicate rows do not corrupt later probes
    intercept[IllegalArgumentException] {
      SignatureStore.append(spark, path, batch)
    }
    SignatureStore.append(spark, path, batch, allowReplay = true)
    val next = Seq((200L, words("f1") + " x")).toDF("doc_id", "text")
    val got = SignatureStore.probe(spark, path, next).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((101L, 200L)))
    // allowReplay is a WINDOW, not an off-switch: a batch straddling the
    // watermark (one id below, one above) is a misnumbered source, not a
    // re-append — it must refuse even with the flag
    val mixed = Seq((99L, words("m1")), (300L, words("m2")))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SignatureStore.append(spark, path, mixed, allowReplay = true)
    }
    assert(e.getMessage.contains("misnumbered"))
  }

  /** Replaces a store file with `text`, dropping the Hadoop checksum
    * sidecar the raw edit invalidates. */
  private def overwrite(path: String, name: String, text: String): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/$name"), text)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path/.$name.crc"))
  }

  test("metadata codec: any tag round-trips; older metadata and journals read as before") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val path = TempDirs.scoped("graft_sigstore_codec")
    SignatureStore.init(spark, path, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    val meta = java.nio.file.Paths.get(s"$path/_store_meta.json")
    // the written form is byte-for-byte the earlier hand-written layout
    assert(java.nio.file.Files.readString(meta) ==
      """{"nPrefixes":8,"k":32,"bands":16,"shingleN":3,"sigVersion":2,""" +
        """"shRepr":"xxhash64","maxDocId":-9223372036854775808,""" +
        """"lastCommitTag":""}""")
    // a tag with JSON's special characters reads back exactly
    val tag = "run \"7\" c:\\tmp\n"
    val b1 = Seq((1L, words("a"))).toDF("doc_id", "text")
    SignatureStore.appendSignatures(spark, path,
      Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bh"),
      b1.select(col("doc_id"),
        Dedup.hashShingles(Dedup.distinctShingles(col("text"), 3)).as("sh")),
      commitTag = Some(tag))
    assert(SignatureStore.readMeta(spark, path) ==
      SignatureStore.Meta(8, 32, 16, 3, 1L, tag))

    // metadata from before the watermark and commit tags: defaults
    overwrite(path, "_store_meta.json",
      """{"nPrefixes":8,"k":32,"bands":16,"shingleN":3,"sigVersion":2,""" +
        """"shRepr":"xxhash64"}""")
    assert(SignatureStore.readMeta(spark, path) ==
      SignatureStore.Meta(8, 32, 16, 3, Long.MinValue, ""))
    overwrite(path, "_store_meta.json",
      """{"nPrefixes":8,"k":32,"bands":16,"shingleN":3,"sigVersion":2,""" +
        """"shRepr":"xxhash64","maxDocId":1,"lastCommitTag":"t1"}""")

    // a staged append whose journal is in the earlier literal layout
    // commits as before
    val b2 = Seq((2L, words("b"))).toDF("doc_id", "text")
    assert(SignatureStore.stageAppendBatch(spark, path, b2))
    val token = new java.io.File(path).listFiles().map(_.getName)
      .collectFirst { case n if n.startsWith("_staging_") =>
        n.stripPrefix("_staging_") }.get
    val journal = s"""{"jv":1,"op":"append","token":"$token","meta":""" +
      """{"nPrefixes":8,"k":32,"bands":16,"shingleN":3,"sigVersion":2,""" +
      """"shRepr":"xxhash64","maxDocId":2,"lastCommitTag":"t2"}}"""
    overwrite(path, "_commit_journal.json", journal)
    // an unknown journal version refuses before the live store is touched
    overwrite(path, "_commit_journal.json", journal.replace(""""jv":1""",
      """"jv":2"""))
    val e = intercept[IllegalArgumentException] {
      SignatureStore.recover(spark, path)
    }
    assert(e.getMessage.contains("format version 2"), e.getMessage)
    assert(SignatureStore.readMeta(spark, path).lastCommitTag == "t1")
    overwrite(path, "_commit_journal.json", journal)
    assert(SignatureStore.recover(spark, path))
    assert(SignatureStore.readMeta(spark, path) ==
      SignatureStore.Meta(8, 32, 16, 3, 2L, "t2"))
    assert(spark.read.parquet(s"$path/shingles").select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("day-0 empty store: first probe works, appends build the corpus up") {
    import spark.implicits._
    // a streaming ingest starts from NOTHING: the store is created with
    // init (no synthetic empty DataFrame, no data files at all), and the
    // first micro-batch must probe it without tripping parquet schema
    // inference
    val path = TempDirs.scoped("graft_sigstore_day0")
    SignatureStore.init(spark, path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    // init is creation only — a second init on a live store refuses
    val e0 = intercept[IllegalArgumentException] {
      SignatureStore.init(spark, path)
    }
    assert(e0.getMessage.contains("already holds"))
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val b1 = Seq((1L, words("a"))).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, path, b1).count() == 0)
    SignatureStore.append(spark, path, b1)
    val b2 = Seq((2L, words("a") + " tail")).toDF("doc_id", "text")
    val got = SignatureStore.probe(spark, path, b2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    // fold b2 in too, compact the young store, and probe against both
    SignatureStore.append(spark, path, b2)
    SignatureStore.compact(spark, path)
    assert(SignatureStore.probe(spark, path,
      Seq((3L, words("a") + " x")).toDF("doc_id", "text")).count() == 2)
  }

  test("probe refuses a path without store metadata") {
    import spark.implicits._
    val batch = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, "/tmp/definitely_not_a_store", batch)
        .count()
    }
    assert(e.getMessage.contains("_store_meta.json"))
  }

  test("threshold-gated compaction: only fragmented partitions move, probe parity, crash mid-swap recovers") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val path = TempDirs.scoped("graft_sigstore_partial")
    val hconf = spark.sparkContext.hadoopConfiguration
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    def partFiles(table: String, part: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$table/$part")
      if (!f.exists(p)) Set.empty
      else f.listStatus(p).map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    }
    // nPrefixes=4 so appends concentrate: ids ≡ 0,1 (mod 4) fragment
    // shingle partitions 0 and 1; one id ≡ 2 leaves partition 2 with a
    // single file that must NOT move
    SignatureStore.init(spark, path, nPrefixes = 4, k = 32, bands = 16,
      shingleN = 3)
    (0 until 6).foreach { i =>
      SignatureStore.append(spark, path,
        Seq((i * 4 + 0L, words(s"a$i")), (i * 4 + 1L, words(s"b$i")))
          .toDF("doc_id", "text"))
    }
    SignatureStore.append(spark, path,
      Seq((26L, words("c"))).toDF("doc_id", "text")) // 26 % 4 = 2
    val quiet0 = partFiles("shingles", "doc_pfx=2")
    assert(quiet0.size == 1, s"fixture: $quiet0")
    assert(partFiles("shingles", "doc_pfx=0").size > 3, "fixture: not fragmented")

    val probeBatch = Seq((100L, words("a0") + " tail")).toDF("doc_id", "text")
    val before = SignatureStore.probe(spark, path, probeBatch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((0L, 100L)))

    // a bound nothing exceeds: stageCompact is a no-op (no journal, no
    // staging, nothing moves)
    assert(!SignatureStore.stageCompact(spark, path,
      maxFilesPerPartition = 100))
    assert(partFiles("shingles", "doc_pfx=0").size > 3)

    // stage a real threshold-gated compaction, then CRASH mid-swap: one
    // fragmented live partition already moved to the commit's trash (the
    // state between the two renames of a partition swap)
    assert(SignatureStore.stageCompact(spark, path, maxFilesPerPartition = 3))
    val token = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).find(_.startsWith("_staging_")).get
      .stripPrefix("_staging_")
    val trash = new org.apache.hadoop.fs.Path(s"$path/_trash_$token/shingles")
    f.mkdirs(trash)
    assert(f.rename(
      new org.apache.hadoop.fs.Path(s"$path/shingles/doc_pfx=0"),
      new org.apache.hadoop.fs.Path(trash, "doc_pfx=0")))
    assert(SignatureStore.recover(spark, path))

    // fragmented partitions are now single-file; the quiet partition
    // kept its EXACT file (compaction never touched it); probe parity
    assert(partFiles("shingles", "doc_pfx=0").size == 1)
    assert(partFiles("shingles", "doc_pfx=1").size == 1)
    assert(partFiles("shingles", "doc_pfx=2") == quiet0)
    val after = SignatureStore.probe(spark, path, probeBatch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
    // no residue: journal, staging, and trash all gone
    val names = f.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).toSet
    assert(!names.exists(n => n.startsWith("_staging_") ||
      n.startsWith("_trash_") || n == "_commit_journal.json"), names)
  }

  test("write on an empty corpus ≡ init: empty tables, MinValue watermark") {
    import spark.implicits._
    val path = TempDirs.scoped("graft_sigstore_emptyw")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    SignatureStore.write(empty, path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val b1 = Seq((1L, words("a"))).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, path, b1).count() == 0)
    SignatureStore.append(spark, path, b1)
    val got = SignatureStore.probe(spark, path,
      Seq((2L, words("a") + " tail")).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("ingest reads corpus text exactly once (one staged pass)") {
    import spark.implicits._
    // the CleaningPipeline one-pass discipline applied to write: shingle
    // set + signature + watermark from ONE staged projection. Counted
    // through graft.tools.CountingLocalFs (Spark 4's local-parquet fast path bypasses
    // Hadoop byte statistics) and self-calibrated against a single plain
    // scan of the same table — the historical 3-scan ingest opened ~3×.
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl",
      classOf[graft.tools.CountingLocalFs].getName)
    val dir = TempDirs.scoped("graft_sigstore_once")
    (0L until 2000L)
      .map(i => (i, (1 to 30).map(t => s"c${i}_$t").mkString(" ")))
      .toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/docs")

    graft.tools.CountingLocalFs.reset()
    spark.read.parquet(s"cntfs:$dir/docs")
      .agg(sum(length(col("text")))).collect()
    val oneScanOpens = graft.tools.CountingLocalFs.parquetOpens()
    assert(oneScanOpens >= 8, s"calibration degenerate: $oneScanOpens")

    graft.tools.CountingLocalFs.reset()
    SignatureStore.write(spark.read.parquet(s"cntfs:$dir/docs"),
      s"$dir/store", nPrefixes = 16, k = 32, bands = 16, shingleN = 3)
    val ingestOpens = graft.tools.CountingLocalFs.parquetOpens()
    info(s"corpus file opens: one scan = $oneScanOpens, " +
      s"ingest = $ingestOpens")
    assert(ingestOpens == oneScanOpens,
      s"ingest opened corpus files $ingestOpens times vs $oneScanOpens " +
        "for a single scan — text read more than once?")

    // and the store it writes is a working one
    val probe = Seq((10000L, (1 to 30).map(t => s"c7_$t").mkString(" ")
      + " x")).toDF("doc_id", "text")
    val got = SignatureStore.probe(spark, s"$dir/store", probe).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 10000L)))
  }

  /** Every path under `path` (directories too), with the bytes of each
    * file. */
  private def snapshot(path: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.walk(root).iterator().asScala.map { f =>
      root.relativize(f).toString ->
        (if (java.nio.file.Files.isRegularFile(f))
          java.nio.file.Files.readAllBytes(f).toSeq
        else Seq.empty[Byte])
    }.toMap
  }

  /** The Spark jobs of one `appendSignatures` of pre-computed frames,
    * measured on this spec's session (local[8], 8 shuffle partitions):
    * the shingles write carrying the observed guard, then the bands
    * write, each a shuffle-map job and a write job. */
  private val AppendJobBudget = 4

  test("job budget: one appendSignatures runs a bounded number of jobs; an empty batch stages nothing") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val path = TempDirs.scoped("graft_sigstore_budget")
    SignatureStore.write((0L until 100L).map(i => (i, words(s"c$i")))
      .toDF("doc_id", "text"), path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    // the batch's frames as the streaming loop holds them: from the
    // probe, already materialized by its own jobs
    val batch = (100L until 150L).map(i => (i, words(s"b$i")))
      .toDF("doc_id", "text")
    val (pairs, keys, sh) =
      SignatureStore.probeWithSignatures(spark, path, batch)
    assert(pairs.count() == 0)
    val (_, jobs) = SparkTestSession.countingJobs(
      SignatureStore.appendSignatures(spark, path, keys, sh))
    info(s"appendSignatures: $jobs jobs")
    assert(jobs <= AppendJobBudget, s"$jobs jobs > budget $AppendJobBudget")
    assert(spark.read.parquet(s"$path/shingles").count() == 150L)
    assert(SignatureStore.readMeta(spark, path).maxDocId == 149L)

    val before = snapshot(path)
    SignatureStore.appendSignatures(spark, path, keys.limit(0), sh.limit(0))
    assert(snapshot(path) == before, "the empty batch changed the store")
  }

  test("a refused append leaves the store as it was: no staging dir, no journal, the same metadata bytes") {
    import spark.implicits._
    def words(p: String) = (1 to 20).map(t => s"${p}_$t").mkString(" ")
    val path = TempDirs.scoped("graft_sigstore_refuse")
    SignatureStore.write((0L until 100L).map(i => (i, words(s"c$i")))
      .toDF("doc_id", "text"), path, nPrefixes = 16, k = 32, bands = 16,
      shingleN = 3)
    SignatureStore.append(spark, path,
      Seq((100L, words("a")), (101L, words("b"))).toDF("doc_id", "text"))
    val before = snapshot(path)
    assert(before.contains("_store_meta.json"))
    // strict refusal: every id at or below the watermark, no replay
    val strict = intercept[IllegalArgumentException] {
      SignatureStore.append(spark, path,
        Seq((50L, words("x")), (101L, words("y"))).toDF("doc_id", "text"))
    }
    assert(strict.getMessage.contains("monotone"), strict.getMessage)
    assert(snapshot(path) == before, "the strict refusal changed the store")
    // a batch straddling the watermark refuses even as a declared replay
    val straddle = intercept[IllegalArgumentException] {
      SignatureStore.append(spark, path,
        Seq((99L, words("m1")), (300L, words("m2"))).toDF("doc_id", "text"),
        allowReplay = true)
    }
    assert(straddle.getMessage.contains("misnumbered"), straddle.getMessage)
    assert(snapshot(path) == before, "the straddling refusal changed the store")
    assert(SignatureStore.readMeta(spark, path).maxDocId == 101L)
  }
}

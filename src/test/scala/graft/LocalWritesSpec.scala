package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{InProcessRawLocalFileSystem, WriteFs}
import graft.ner.AliasTrieScorer
import graft.ops.{CleaningPipeline, SignatureStore}
import graft.pipeline.KgPipeline
import graft.synth.Synth
import graft.tools.TempDirs

/** Hadoop's stock checksummed local filesystem, which forks a `chmod`
  * per file and directory, under its own scheme (`forkfs:`): the
  * reference the `file:` writes of [[graft.io.WriteFs]] are compared
  * with. */
class ForkingLocalFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("forkfs:///")
}) {
  override def getScheme: String = "forkfs"
}

/** The resumable writers' local files: no `chmod` process starts while
  * they write, and what they write — file listing, `.crc` sidecars and
  * permission bits — is what Hadoop's default local filesystem writes. */
class LocalWritesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def words(p: String, n: Int = 30) =
    (1 to n).map(t => s"${p}_$t").mkString(" ")

  /** Every covered writer under `root`: a 4-bucket `runResumable` on both
    * triple paths, a cleaning chain through stage 4 into a fresh store, a
    * store compaction, and a recover after a staged append. */
  private def writeAll(root: String): Unit = {
    import spark.implicits._
    val articles = Synth.articles(spark, 400, 42L, 4)
    KgPipeline.runResumable(articles, s"$root/kg", 4, new AliasTrieScorer,
      KgPipeline.TripleCap)
    KgPipeline.runResumable(articles, s"$root/kg_exchange", 4,
      new AliasTrieScorer, 0)
    val benchToks = (1 to 12).map(i => s"b$i").mkString(" ")
    val bench = Seq((900L, benchToks)).toDF("bench_id", "text")
    val doc1 = "x1 x2 " + benchToks + " y1 y2"
    val docs = Seq((1L, doc1), (2L, doc1 + " z1"), (3L, words("m")),
        (4L, words("m")), (5L, words("m") + " x9"), (6L, words("u")))
      .toDF("doc_id", "text").withColumn("lang", lit("de"))
    val store = s"$root/store"
    SignatureStore.init(spark, store, nPrefixes = 8, k = 32, bands = 16,
      shingleN = 3)
    CleaningPipeline.cleanedMetaResumable(docs, bench, s"$root/chain",
      keepCols = Seq("lang"), k = 32, bands = 16, shingleN = 3,
      maxBucket = 64, minJaccard = 0.8, minOverlap = 5,
      storePath = Some(store))
    SignatureStore.compact(spark, store)
    assert(SignatureStore.stageAppendBatch(spark, store,
      Seq((100L, words("n"))).toDF("doc_id", "text")))
    assert(SignatureStore.recover(spark, store))
  }

  /** The commands of the processes `body` starts, recorded in-process. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the covered writers start no chmod process") {
    val root = TempDirs.scoped("graft_no_fork")
    val commands = processStarts(writeAll(root))
    val chmods = commands.filter(_.split(" ").head.endsWith("chmod"))
    val n = chmods.size
    assert(n == 0,
      s"$n chmod processes started (${commands.size} processes in all, " +
        s"${chmods.count(_.contains(root))} on paths under $root), e.g.\n" +
        chmods.take(5).mkString("\n"))
  }

  /** `(path relative to root with UUIDs masked, permission bits)` of every
    * file and directory under `root`, sorted. */
  private def listing(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p: JPath =>
      (base.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toSeq.sorted
  }

  /** Writes everything once through `file:` and once through the stock
    * forking filesystem, with the session's umask set to `umask` (or
    * left at Hadoop's default), and returns both listings. */
  private def bothListings(umask: Option[String]): (Seq[(String, String)], Seq[(String, String)]) = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.forkfs.impl" -> classOf[ForkingLocalFs].getName,
      // a fresh instance per lookup, so each reads the umask set here
      "fs.forkfs.impl.disable.cache" -> "true") ++
      umask.map("fs.permissions.umask-mode" -> _)
    keys.foreach { case (k, v) => hc.set(k, v) }
    try {
      val local = TempDirs.scoped("graft_local_writes")
      val ref = TempDirs.scoped("graft_forking_writes")
      writeAll(local)
      writeAll(s"forkfs://$ref")
      (listing(local), listing(ref))
    } finally keys.foreach { case (k, _) => hc.unset(k) }
  }

  test("file: writes list and carry the bits of the default local filesystem's") {
    val (local, ref) = bothListings(None)
    assert(ref.exists(_._1.endsWith(".crc")) && ref.exists(_._1.contains("pred=")),
      ref.mkString("\n"))
    assert(local == ref)
  }

  test("under umask 077, file: writes carry the default local filesystem's bits") {
    val (local, ref) = bothListings(Some("077"))
    assert(ref.map(_._2).toSet == Set("rw-------", "rwx------"),
      ref.mkString("\n"))
    assert(local == ref)
  }

  test("setPermission on a missing path throws an IOException") {
    val fs = WriteFs.of(spark, new Path(TempDirs.scoped("graft_missing")))
      .asInstanceOf[LocalFileSystem]
    assert(fs.getRawFileSystem.isInstanceOf[InProcessRawLocalFileSystem])
    val missing = new Path(TempDirs.scoped("graft_missing"), "absent")
    intercept[IOException](fs.setPermission(missing, new FsPermission("644")))
  }
}

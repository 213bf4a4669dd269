package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.graph.GraphMaterialize
import graft.sources.JsonlArticles
import graft.tools.TempDirs

/** Remaining SURVEY §2 operator coverage: compressed JSONL round-trip
  * (S1/K1), selective id fetch (S4), semicolon CSV (S6), accent-folded
  * contains matching (F10), corpus-normalized edges (J2), positional
  * stats (A10). */
class CoverageSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("S1/K1: jsonl.bz2 write + glob read round-trip") {
    import spark.implicits._
    val dir = TempDirs.scoped("bz2rt")
    val rows = Seq(
      """{"id":"GDL-1936-05-02-a-i0001","tp":"ar","ft":"Selon Reuters hier.","lg_comp":"fr","ts":"2019-10-17T11:49:50Z"}""",
      """{"id":"GDL-1936-05-03-a-i0002","tp":"ad","ft":"pub","lg_comp":"fr","ts":"2019-10-17T11:49:50Z"}""")
    rows.toDF("value").coalesce(1).write
      .option("compression", "bzip2").mode("overwrite").text(s"$dir/out")
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".bz2"))
    assert(files.nonEmpty, "no bz2 part files written")
    val items = JsonlArticles.readContentItems(spark, s"$dir/out/*.bz2")
    assert(items.count() == 2)
    val arts = JsonlArticles.asArticles(items).collect().sortBy(_.url)
    assert(arts.head.text == "Selon Reuters hier.")
  }

  test("S4: selective fetch by id set (broadcast semi-join and isin)") {
    import spark.implicits._
    val dir = TempDirs.scoped("sel")
    graft.synth.Synth.articles(spark, 200, 42L, 4)
      .write.mode("overwrite").parquet(dir)
    val all = spark.read.parquet(dir)
    val wanted = all.select("url").limit(5).as[String].collect().toSeq
    val byIsin = all.where(col("url").isin(wanted: _*))
    assert(byIsin.count() == 5)
    val ids = wanted.toDF("url")
    val bySemi = all.join(broadcast(ids), Seq("url"), "left_semi")
    assert(bySemi.count() == 5)
  }

  test("S6: semicolon-separated CSV with explicit schema") {
    import spark.implicits._
    val dir = TempDirs.scoped("csv")
    Seq("uid;size;newspaper", "a-1;120;GDL", "a-2;45;JDG")
      .toDF("value").coalesce(1).write.mode("overwrite").text(s"$dir/in")
    val df = spark.read
      .option("sep", ";").option("header", "true")
      .schema("uid STRING, size INT, newspaper STRING")
      .csv(s"$dir/in")
    assert(df.count() == 2)
    // F7 sampling thresholds: 32 <= size < 2000
    assert(df.where(col("size") >= 32 && col("size") < 2000).count() == 2)
  }

  test("F10: accent-folded case-insensitive contains matching") {
    import spark.implicits._
    val df = Seq("Dépêche de l'AGENCE télégraphique", "rien ici").toDF("t")
    val hits = df.where(
      TextFunctions.foldAccentsLower(col("t")).contains("agence telegraphique"))
    assert(hits.count() == 1)
  }

  test("J2: corpus-count normalization of yearly edges") {
    import spark.implicits._
    val edges = Seq(("GDL", "Havas", 1936, 4L), ("GDL", "Reuters", 1937, 2L))
      .toDF("newspaper", "agency", "year", "weight")
    val corpus = Seq((1936, 400L), (1937, 100L)).toDF("year", "corpus_count")
    val n = GraphMaterialize.normalizeByCorpus(edges, corpus)
      .select("agency", "perc").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(n("Havas") == 1.0 && n("Reuters") == 2.0)
  }

  test("A10: positional stats per decade") {
    import spark.implicits._
    val analytic = Seq(
      ("u1", 1930, 5, 12),    // near start
      ("u2", 1930, 50, 60),   // middle
      ("u3", 1940, 92, 99))   // near end (len 100)
      .toDF("url", "decade", "lOffset", "rOffset")
    val lens = Seq(("u1", 100), ("u2", 100), ("u3", 100)).toDF("url", "text_len")
    val stats = GraphMaterialize.positionalStats(analytic, lens)
      .collect().map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(stats(1930) == ((0.5, 0.0)))
    assert(stats(1940) == ((0.0, 1.0)))
  }
}

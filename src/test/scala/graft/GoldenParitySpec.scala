package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ner.{AliasTrieScorer, NerStage}
import graft.sources.JsonlArticles

/** Golden parity with the reference's committed fixture pair
  * (`tests/na_tagger_in.jsonl` → `tests/na_tagger_out.jsonl`):
  *  - row 1 (SDT-1930-10-11) contains the OCR-noisy `Havaas` → one Havas
  *    mention, qid Q2826560;
  *  - row 2 (JDG-1951) has text but no mention → empty;
  *  - row 3 (GDL-1987) is `tp:"ad"` → filtered, empty.
  */
class GoldenParitySpec extends AnyFunSuite with EvidenceFamily {

  def evidence = "golden parity"

  private lazy val spark = SparkTestSession.spark
  private val fixture = "/root/reference/tests/na_tagger_in.jsonl"

  test("reference golden fixture: Havaas positive, empty negative, ad filtered") {
    assumeData(fixture)
    val items = JsonlArticles.readContentItems(spark, fixture)
    assert(items.count() == 3)
    val articles = JsonlArticles.asArticles(items)
    // ft byte-identity: text == ft per url
    val fts = items.select(col("id"), col("ft")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    articles.collect().foreach(a => assert(a.text == fts(a.url)))

    val mentions = NerStage.detect(articles, new AliasTrieScorer).collect()
    assert(mentions.map(_.url).distinct.toSeq == Seq("SDT-1930-10-11-a-i0011"))
    val havas = mentions.filter(_.name == "Havas")
    assert(havas.length == 1)
    assert(havas.head.surface == "Havaas")
    assert(havas.head.qid == "Q2826560")
    // offset invariant against the original ft
    val ft = fts("SDT-1930-10-11-a-i0011")
    assert(ft.substring(havas.head.lOffset, havas.head.rOffset) == "Havaas")

    // nested 2024 output form: one row per input article, empty nes for
    // the negatives (na_tagger_out.jsonl)
    val nested = JsonlArticles.toNestedJsonl(
      spark.createDataFrame(mentions.toSeq),
      articles.toDF()).collect()
    assert(nested.length == 3)
    val byId = nested.map(r => r.getString(0) -> r.getSeq[Any](2)).toMap
    assert(byId("SDT-1930-10-11-a-i0011").nonEmpty)
    assert(byId("JDG-1951-02-26-a-i0080").isEmpty)
    assert(byId("GDL-1987-12-31-a-i0025").isEmpty)
  }
}

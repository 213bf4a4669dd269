package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.TsvToken
import graft.eval.SpanEval
import graft.ner.{AliasTrieScorer, BioDecode}
import graft.sources.ConllTsvReader
import graft.text.PunctTokenizer

/** Score the deterministic alias baseline against the reference's REAL
  * committed gold annotations (`data/annotated_data/{fr,de}/
  * newsagency-data-dev-*.tsv`) with the engine's own scorer — the same
  * evaluation shape the reference runs (its shipped dictionary baseline,
  * `data/baseline-pred/`, scored with the HIPE scorer).
  *
  * The P/R ≥ 0.95 acceptance gate runs on synthetic gold (PipelineSpec) —
  * an alias dictionary cannot reach BERT-level recall on historical OCR
  * text and the reference's baseline doesn't either; this spec documents
  * the real-data numbers and pins them as a regression floor.
  */
class RealGoldSpec extends AnyFunSuite with EvidenceFamily {

  def evidence = "real gold"

  private lazy val spark = SparkTestSession.spark

  private val devFiles = Seq(
    "/root/reference/data/annotated_data/fr/newsagency-data-dev-fr.tsv",
    "/root/reference/data/annotated_data/de/newsagency-data-dev-de.tsv")

  test("alias baseline scored on committed dev gold (token-index spans)") {
    assumeData(devFiles: _*)
    import spark.implicits._
    val tokens = ConllTsvReader.read(spark, devFiles: _*)

    // gold spans per doc, token-index space, [start, end) exclusive
    val gold = tokens.groupByKey(_.docId)
      .flatMapGroups { (doc, it) =>
        ConllTsvReader.goldSpans(it.toSeq.sortBy(_.tokIdx))
          .map(s => (doc, s.eType, s.start, s.end + 1))
      }
      .toDF("url", "entity", "lOffset", "rOffset")
      .where(col("entity").startsWith("org.ent.pressagency."))

    // predicted: run the trie scorer per sentence over the gold tokens
    val scorer = new AliasTrieScorer
    val pred = tokens.groupByKey(_.docId)
      .flatMapGroups { (doc, it) =>
        val toks = it.toSeq.sortBy(_.tokIdx)
        toks.groupBy(_.segId).toSeq.flatMap { case (_, seg) =>
          val sorted = seg.sortBy(_.tokIdx)
          val words = sorted.map(_.token).toIndexedSeq
          val scored = scorer.score(words)
          // fake char offsets = token indices (we score in token space)
          val fakeToks = sorted.indices
            .map(i => PunctTokenizer.Token(words(i), i, i + 1)).toIndexedSeq
          BioDecode.decode(fakeToks, scored.map(_._1), scored.map(_._2))
            .map(sp => (doc, graft.core.Gazetteer.normalizeLabel(sp.label),
              sorted(sp.firstTok).tokIdx, sorted(sp.lastTok).tokIdx + 1))
        }
      }
      .toDF("url", "entity", "lOffset", "rOffset")

    val nGold = gold.count()
    val nPred = pred.count()
    val fuzzy = SpanEval.score(pred, gold, fuzzy = true)
    val strict = SpanEval.score(pred, gold, fuzzy = false)
    info(f"dev gold: $nGold gold spans, $nPred predicted")
    info(f"fuzzy  P=${fuzzy.precision}%.3f R=${fuzzy.recall}%.3f F1=${fuzzy.f1}%.3f")
    info(f"strict P=${strict.precision}%.3f R=${strict.recall}%.3f F1=${strict.f1}%.3f")
    println(f"[real-gold] fuzzy P=${fuzzy.precision}%.3f R=${fuzzy.recall}%.3f " +
      f"F1=${fuzzy.f1}%.3f strict F1=${strict.f1}%.3f " +
      f"(gold=$nGold pred=$nPred)")
    assert(nGold > 50)
    // measured 2026-08-16 (exact-match-first fuzzy pairing): fuzzy P=0.713
    // R=0.773 F1=0.742, strict F1=0.735 — fuzzy >= strict as HIPE semantics
    // require (reference's BERT models: HIPE fuzzy F1 0.79-0.85,
    // BASELINE.md) — pinned slightly below as the alias-path floor
    assert(fuzzy.f1 >= strict.f1,
      f"fuzzy F1 ${fuzzy.f1}%.3f < strict ${strict.f1}%.3f — impossible under HIPE semantics")
    assert(fuzzy.f1 >= 0.70, f"fuzzy F1 regressed: ${fuzzy.f1}%.3f")
    assert(fuzzy.recall >= 0.72, f"fuzzy recall regressed: ${fuzzy.recall}%.3f")
    assert(strict.f1 >= 0.70, f"strict F1 regressed: ${strict.f1}%.3f")
  }
}

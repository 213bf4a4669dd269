package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.SpanEval

/** Metamorphic properties of span scoring that need no reference data:
  * relations between two scorings of seeded random span tables, which
  * must hold whatever the right scores are. */
class SpanEvalMetamorphicSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private type Span = (String, String, Int, Int)

  /** Seeded random `(gold, pred)` spans per document: each gold span is
    * predicted exactly, with shifted (overlapping) boundaries, with the
    * wrong type at either boundary, or not at all; a few spurious
    * predictions are added. */
  private def corpus(seed: Int): Seq[(Seq[Span], Seq[Span])] = {
    val rnd = new scala.util.Random(seed)
    val types = Seq("pers", "loc", "org", "time")
    def typ() = types(rnd.nextInt(types.size))
    (0 until 6 + rnd.nextInt(8)).map { d =>
      val url = s"doc$d"
      val gold = (0 until rnd.nextInt(7)).map { _ =>
        val l = rnd.nextInt(200)
        (url, typ(), l, l + 1 + rnd.nextInt(15))
      }
      val pred = gold.flatMap { case (u, t, l, r) =>
        rnd.nextInt(6) match {
          case 0 | 1 => Seq((u, t, l, r))
          case 2 => Seq((u, t, l + 1, r + 2))
          case 3 => Seq((u, types.filterNot(_ == t).head, l, r))
          case 4 => Seq((u, types.filterNot(_ == t).last, l, r + 1))
          case _ => Nil
        }
      } ++ (0 until rnd.nextInt(3)).map { _ =>
        val l = rnd.nextInt(200)
        (url, typ(), l, l + 1 + rnd.nextInt(10))
      }
      (gold, pred)
    }
  }

  private def spans(rows: Seq[Span]): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "entity", "lOffset", "rOffset")
  }

  private def tables(docs: Seq[(Seq[Span], Seq[Span])]): (DataFrame, DataFrame) =
    (spans(docs.flatMap(_._1)), spans(docs.flatMap(_._2)))

  private val Counts = Seq("correct", "incorrect", "partial", "missed",
    "spurious", "possible", "actual", "tp", "fp", "fn")

  test("strict tp <= fuzzy tp, with tp+fp and tp+fn equal in both modes") {
    (1 to 5).foreach { seed =>
      val (gold, pred) = tables(corpus(seed))
      val strict = SpanEval.score(pred, gold, fuzzy = false)
      val fuzzy = SpanEval.score(pred, gold, fuzzy = true)
      assert(strict.tp <= fuzzy.tp, s"seed $seed: $strict vs $fuzzy")
      assert(strict.tp + strict.fp == fuzzy.tp + fuzzy.fp, s"seed $seed")
      assert(strict.tp + strict.fn == fuzzy.tp + fuzzy.fn, s"seed $seed")
    }
  }

  test("per-type report rows sum to the micro total") {
    (1 to 5).foreach { seed =>
      val (gold, pred) = tables(corpus(seed))
      val rows = SpanEval.report(pred, gold).collect()
      val regimes = rows.map(_.getAs[String]("regime")).toSet
      assert(regimes == Set("strict", "ent_type", "exact", "partial"))
      regimes.foreach { regime =>
        val (all, perType) = rows.filter(_.getAs[String]("regime") == regime)
          .partition(_.getAs[String]("eType") == "ALL")
        assert(all.length == 1, s"seed $seed $regime")
        Counts.foreach { c =>
          assert(perType.map(_.getAs[Long](c)).sum == all.head.getAs[Long](c),
            s"seed $seed $regime $c")
        }
      }
    }
  }

  test("scores do not change under document permutation") {
    def reportRows(gold: DataFrame, pred: DataFrame): Seq[Row] =
      SpanEval.report(pred, gold).collect().toSeq
        .sortBy(r => (r.getAs[String]("eType"), r.getAs[String]("regime")))
    (1 to 5).foreach { seed =>
      val docs = corpus(seed)
      val (gold, pred) = tables(docs)
      val (g, p) = tables(new scala.util.Random(seed * 31).shuffle(docs))
      val (gold2, pred2) = (g.repartition(3), p.repartition(3))
      Seq(false, true).foreach { fuzzy =>
        assert(SpanEval.score(pred2, gold2, fuzzy) ==
          SpanEval.score(pred, gold, fuzzy), s"seed $seed fuzzy=$fuzzy")
      }
      assert(reportRows(gold2, pred2) == reportRows(gold, pred), s"seed $seed")
    }
  }
}

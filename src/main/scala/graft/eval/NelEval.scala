package graft.eval

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.TsvToken

/** Entity-linking (NEL / QID-level) evaluation — the HIPE scorer's
  * `--task=nel` regime (`HIPE-scorer/clef_evaluation.py:226-262`,
  * `hipe_evaluation/utils.py:333-557`), the last scorer surface the engine
  * produces output for (QIDs via L1/L3) but previously could not grade.
  *
  * NEL reuses the NERC scenario machinery (`ner_eval.py compute_metrics`)
  * with two twists:
  *
  *  1. '''Entities are link objects''': spans carry a Wikidata QID (or
  *     `NIL`) instead of an entity type. Boundaries come either from the
  *     link column itself (`collect_link_objects_original`,
  *     utils.py:469-557 — consecutive EQUAL links concatenate, the
  *     "concatNIL" 2020 behavior) or from a NER column
  *     (`collect_link_objects_ner`, utils.py:351-466 — hipe-2022 mode: a
  *     NER span delimits the link span; a link change INSIDE a pred span
  *     splits the prediction, while gold keeps its first link; a linked
  *     token whose NER tag is `O` forms a singleton link).
  *  2. '''Predictions may carry alternatives''': a ranked `|`-separated
  *     list cut at `--n_best` (or one alternative per extra link column —
  *     the LIT∪METO union mode). Gold always contributes exactly its
  *     primary alternative (`ent[0]`, ner_eval.py:430). Scenario I fires
  *     if ANY alternative matches exactly; Scenario V if ANY alternative
  *     matches the overlapped gold's link; boundary checks and spurious
  *     attribution use the PRIMARY alternative (`pred[0]`).
  *
  * Tag universe (`set_evaluation_tags`, ner_eval.py:667-669): for NEL every
  * primary link seen in either file counts (`get_all_tags` keeps
  * `label.split("|")[0]`, utils.py:52, excluding `_`/`-`/`O`). Gold
  * entities whose primary link is not in the universe are dropped; preds
  * survive if ANY alternative is in it (ner_eval.py:430-433).
  *
  * Distribution: matching is per-document (`merge_lines=True` — the CLI
  * always merges a document's lines into one segment for NEL,
  * clef_evaluation.py:148), so the scan runs inside `flatMapGroups` keyed
  * by document — one shuffle. The tag universe is a driver-collected
  * broadcast set: its cardinality is the number of DISTINCT linked
  * entities, bounded by the gazetteer (same order as the alias trie the
  * pipeline already broadcasts), not by corpus size.
  */
object NelEval {

  /** One link object: alternative links (primary first) + token span. */
  final case class LinkObj(types: Seq[String], l: Int, r: Int)

  /** Collector input: one token's NER tag + its link-column cells
    * (primary column first). */
  final case class NelTok(token: String, nerTag: String, cells: Seq[String])

  private val NonTags = Set("_", "-", "O")

  /** IOBES→IOB normalization the scorer applies at read time
    * (`convert_iobes_to_iob`): S- opens, E- continues. */
  private[eval] def iobNorm(l: String): String =
    if (l.startsWith("S-")) "B-" + l.substring(2)
    else if (l.startsWith("E-")) "I-" + l.substring(2)
    else l

  /** `get_all_tags` per-label normalization (utils.py:52): primary pipe
    * alternative, last dash segment. */
  def tagOf(label: String): String = {
    val pipe = label.indexOf('|')
    val primary = if (pipe < 0) label else label.substring(0, pipe)
    val dash = primary.lastIndexOf('-')
    if (dash < 0) primary else primary.substring(dash + 1)
  }

  /** Alternative-union expansion shared by both collectors
    * (utils.py:442-466): multi-column mode takes one alternative per link
    * column at the span's START token; single-column mode pipe-splits the
    * primary cell and cuts at nBest. */
  private def expand(tokens: IndexedSeq[NelTok], start: Int,
      entType: String, nBest: Int): Seq[String] = {
    val nCols = tokens(start).cells.length
    if (nCols > 1) {
      require(nBest == 1,
        "NEL evaluation is undefined with both alternative columns and an " +
          "n-best list (clef_evaluation semantics)")
      tokens(start).cells
    } else entType.split('|').take(nBest).toSeq
  }

  /** `collect_link_objects_ner` (utils.py:351-466): link spans delimited
    * by the NER column; gs=true keeps gold's first link on an intra-span
    * link change, gs=false splits the prediction. */
  def collectLinkObjectsNer(tokens: IndexedSeq[NelTok], nBest: Int,
      gs: Boolean): Seq[LinkObj] = {
    val out = Seq.newBuilder[LinkObj]
    var entType: String = null // raw primary cell at span start
    var nerType: String = null
    var start = -1
    def emit(endIncl: Int): Unit = {
      if (entType != null) {
        out += LinkObj(expand(tokens, start, entType, nBest), start, endIncl)
        entType = null; nerType = null
      }
    }
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      val linkTag = t.cells.head
      val nerTag = t.nerTag
      if (nerTag == "O") {
        emit(i - 1)
        // singleton: a linked token outside any NER span (utils.py:395-396)
        if (linkTag != "_" && linkTag != "-")
          out += LinkObj(expand(tokens, i, linkTag, nBest), i, i)
      } else if (nerType == null) {
        entType = linkTag; nerType = nerTag.drop(2); start = i
      } else if (nerType == nerTag.drop(2) && nerTag.startsWith("I") &&
          entType != linkTag) {
        // link change inside one NER span: gold keeps the first link
        // (utils.py:407-408); a system response splits (utils.py:410-421)
        if (!gs) {
          out += LinkObj(expand(tokens, start, entType, nBest), start, i - 1)
          entType = linkTag; nerType = nerTag.drop(2); start = i
        }
      } else if (nerType != nerTag.drop(2) || nerTag.startsWith("B")) {
        out += LinkObj(expand(tokens, start, entType, nBest), start, i - 1)
        entType = linkTag; nerType = nerTag.drop(2); start = i
      }
      i += 1
    }
    if (entType != null && entType.nonEmpty) emit(tokens.length - 1)
    out.result()
  }

  /** `collect_link_objects_original` (utils.py:469-557): spans delimited
    * by the link column alone — consecutive EQUAL links concatenate into
    * one object (the 2020 "concatNIL" quirk the separated mode fixes). */
  def collectLinkObjectsOriginal(tokens: IndexedSeq[NelTok],
      nBest: Int): Seq[LinkObj] = {
    val out = Seq.newBuilder[LinkObj]
    var entType: String = null
    var start = -1
    def emit(endIncl: Int): Unit = {
      if (entType != null) {
        out += LinkObj(expand(tokens, start, entType, nBest), start, endIncl)
        entType = null
      }
    }
    var i = 0
    while (i < tokens.length) {
      val tag = tokens(i).cells.head
      if (tag == "_" || tag == "-") emit(i - 1)
      else if (entType == null) { entType = tag; start = i }
      else if (entType != tag) {
        out += LinkObj(expand(tokens, start, entType, nBest), start, i - 1)
        entType = tag; start = i
      }
      i += 1
    }
    if (entType != null && entType.nonEmpty) emit(tokens.length - 1)
    out.result()
  }

  /** Per-document scenario scan with link-alternative unions — the NEL
    * instantiation of `compute_metrics` (ner_eval.py:387-630). Identical
    * control flow to [[SpanEval]]'s NERC scan (first boundary-equal gold
    * with NO used-check for I/IV; first not-yet-overlapped gold for V/VI;
    * order-sensitive), with the union rules of the Scaladoc above.
    * Returns (eType, scenario) hits. */
  private[eval] def scanDoc(
      preds: IndexedSeq[(Seq[String], Int, Int)], // sorted by span start
      golds: IndexedSeq[(String, Int, Int)],
      tags: Set[String]): Seq[(String, String)] = {
    val overlapped = new Array[Boolean](golds.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    preds.foreach { case (pTypes, pl, pr) =>
      // Scenario I: first gold with equal boundaries whose link matches
      // ANY alternative (`any(p == true for p in pred)`, ner_eval.py:441)
      var iExact = -1
      var gi = 0
      while (iExact < 0 && gi < golds.length) {
        val g = golds(gi)
        if (g._2 == pl && g._3 == pr && pTypes.contains(g._1)) iExact = gi
        gi += 1
      }
      if (iExact >= 0) {
        overlapped(iExact) = true
        out += ((golds(iExact)._1, "I"))
      } else {
        var done = false
        gi = 0
        while (!done && gi < golds.length) {
          val g = golds(gi)
          if (g._2 == pl && g._3 == pr && g._1 != pTypes.head) {
            // Scenario IV: boundary-equal, primary link wrong
            // (`pred[0].e_type`, ner_eval.py:478-481); no used-check
            overlapped(gi) = true
            out += ((g._1, "IV"))
            done = true
          } else if (!overlapped(gi) && pl < g._3 + 1 && g._2 < pr + 1) {
            // overlap: V if ANY alternative matches the gold link
            // (`any(p.e_type == true.e_type)`, ner_eval.py:519), else VI
            overlapped(gi) = true
            out += ((g._1, if (pTypes.contains(g._1)) "V" else "VI"))
            done = true
          } else gi += 1
        }
        if (!done) {
          // Scenario II: spurious, attributed to the primary alternative
          // when it is a known tag, else to EVERY tag (ner_eval.py:575-592)
          if (tags.contains(pTypes.head)) out += ((pTypes.head, "II"))
          else tags.foreach(t => out += ((t, "II")))
        }
      }
    }
    golds.indices.foreach { i =>
      if (!overlapped(i)) out += ((golds(i)._1, "III"))
    }
    out.toSeq
  }

  /** Link objects per document from a HIPE token table, with
    * `merge_lines=True` semantics (the whole document is one segment —
    * what the scorer CLI always uses for NEL, clef_evaluation.py:148).
    * Output: `(url, types, l, r)` with `types` the alternative union. */
  def linkObjects(toks: Dataset[TsvToken],
      linkCols: Seq[TsvToken => String],
      nerCol: Option[TsvToken => String],
      nBest: Int, gs: Boolean): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.groupByKey(_.docId)
      .flatMapGroups { (doc: String, it: Iterator[TsvToken]) =>
        val ts = it.toIndexedSeq.sortBy(_.tokIdx)
        val nel = ts.map(t => NelTok(t.token,
          iobNorm(nerCol.map(_(t)).getOrElse("O")), linkCols.map(_(t))))
        val objs = nerCol match {
          case Some(_) => collectLinkObjectsNer(nel, nBest, gs)
          case None => collectLinkObjectsOriginal(nel, nBest)
        }
        objs.map(o => (doc, o.types, o.l, o.r))
      }
      .toDF("url", "types", "l", "r")
  }

  /** The NEL tag universe: distinct primary links over the gold's primary
    * column and ALL of the system's link columns (`set_evaluation_tags`
    * nel branch, ner_eval.py:635-669). Driver-collected: cardinality is
    * bounded by the number of distinct linked entities (gazetteer-scale),
    * not corpus size. */
  def tagUniverse(predToks: Dataset[TsvToken], goldToks: Dataset[TsvToken],
      linkCols: Seq[TsvToken => String]): Set[String] = {
    val spark = predToks.sparkSession
    import spark.implicits._
    val goldCol = linkCols.head
    val t = goldToks.map(t => tagOf(goldCol(t)))
    val p = predToks.flatMap(tok => linkCols.map(c => tagOf(c(tok))))
    boundedTagCollect(t.union(p).toDF("t"))
  }

  /** Hard ceiling on the driver-collected tag universe. The scorer's
    * scenario-II attribution iterates the FULL universe per spurious
    * prediction, so the universe must stay gazetteer-scale by design; an
    * open-domain QID table (10^7-10^8 distinct links) would OOM the driver
    * here and explode scenario-II combinatorially downstream. */
  val MaxTagUniverse: Int = 100000

  /** Collect a one-string-column DataFrame of candidate tags, failing
    * LOUDLY (before pulling the data) if the distinct cardinality exceeds
    * [[MaxTagUniverse]] — `limit(max+1)` bounds what ever reaches the
    * driver, so the failure itself is cheap. */
  private def boundedTagCollect(tags: DataFrame): Set[String] = {
    val rows = tags.distinct().limit(MaxTagUniverse + 1).collect()
    require(rows.length <= MaxTagUniverse,
      s"NEL tag universe exceeds $MaxTagUniverse distinct links. " +
        "NEL evaluation is defined over a gazetteer-bounded link space " +
        "(scenario-II attribution iterates the whole universe per " +
        "spurious span); evaluating against an open-domain QID table " +
        "requires pre-restricting the universe to the gold's links. " +
        "Refusing to collect it to the driver.")
    rows.map(_.getString(0)).toSet -- NonTags
  }

  /** Scenario counts over link tables: pred `(url, types, l, r)`, gold
    * `(url, entity, l, r)` (gold is already primary-flattened). One
    * shuffle, per-document scan. */
  private[eval] def scenarioCounts(pred: DataFrame, gold: DataFrame,
      tags: Set[String]): DataFrame = {
    val spark = pred.sparkSession
    import spark.implicits._
    val p0 = pred.select(col("url"), lit("P").as("side"),
      col("types").cast("array<string>").as("types"),
      col("l").cast("int").as("l"), col("r").cast("int").as("r"))
    val g0 = gold.select(col("url"), lit("G").as("side"),
      array(col("entity")).cast("array<string>").as("types"),
      col("l").cast("int").as("l"), col("r").cast("int").as("r"))
    val tagsB = spark.sparkContext.broadcast(tags)
    p0.unionByName(g0)
      .as[(String, String, Seq[String], Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (url: String, it: Iterator[(String, String, Seq[String], Int, Int)]) =>
        val tg = tagsB.value
        val rows = it.toSeq
        // document order: link spans within a segment are disjoint, so
        // the span start recovers collect order
        val preds = rows.filter(_._2 == "P").map(t => (t._3, t._4, t._5))
          .filter(_._1.exists(tg.contains))
          .sortBy(t => (t._2, t._3))
          .toIndexedSeq
        val golds = rows.filter(_._2 == "G").map(t => (t._3.head, t._4, t._5))
          .filter(g => tg.contains(g._1))
          .sortBy(t => (t._2, t._3))
          .toIndexedSeq
        scanDoc(preds, golds, tg)
          .groupBy(identity).map { case ((eType, scenario), hits) =>
            (url, eType, hits.size.toLong, scenario)
          }
      }
      .toDF("url", "eType", "n", "scenario")
  }

  /** Full NEL report from HIPE token tables — same output schema as
    * [[SpanEval.report]] (one row per eType ∪ "ALL" × regime with
    * SemEval counts, micro and macro-over-types scores).
    *
    * @param linkCols link columns, primary first (LIT; add METO for the
    *                 union mode — then nBest must be 1)
    * @param nerCol   boundary column (hipe-2022 separated mode); None for
    *                 the original 2020 link-column segmentation
    * @param nBest    ranked-alternative cutoff for `|`-separated cells
    */
  def report(predToks: Dataset[TsvToken], goldToks: Dataset[TsvToken],
      linkCols: Seq[TsvToken => String] = Seq(_.nelLit),
      nerCol: Option[TsvToken => String] = None,
      nBest: Int = 1): DataFrame = {
    val tags = tagUniverse(predToks, goldToks, linkCols)
    val pred = linkObjects(predToks, linkCols, nerCol, nBest, gs = false)
    val gold = linkObjects(goldToks, linkCols, nerCol, nBest = 1, gs = true)
      .select(col("url"), element_at(col("types"), 1).as("entity"),
        col("l"), col("r"))
    SpanEval.reportFromScenarios(scenarioCounts(pred, gold, tags))
  }

  /** Macro-over-documents NEL scores (`accumulate_doc_scores` applied to
    * link objects — the `*_macro_doc` keys of the scorer's NEL JSON):
    * per-document micro P/R/F1 averaged with the HIPE dismissal rules,
    * one row per regime. Same inputs as [[report]]. */
  def macroDocScores(predToks: Dataset[TsvToken], goldToks: Dataset[TsvToken],
      linkCols: Seq[TsvToken => String] = Seq(_.nelLit),
      nerCol: Option[TsvToken => String] = None,
      nBest: Int = 1): DataFrame = {
    val tags = tagUniverse(predToks, goldToks, linkCols)
    val pred = linkObjects(predToks, linkCols, nerCol, nBest, gs = false)
    val gold = linkObjects(goldToks, linkCols, nerCol, nBest = 1, gs = true)
      .select(col("url"), element_at(col("types"), 1).as("entity"),
        col("l"), col("r"))
    SpanEval.macroDocFromScenarios(scenarioCounts(pred, gold, tags))
  }

  /** NEL report straight from span-level link tables — the engine-native
    * surface (the pipeline emits QID'd mention spans, not token TSVs):
    * pred `(url, types, l, r)` with ranked alternatives, gold
    * `(url, entity, l, r)`. The tag universe is derived from the tables
    * themselves (primary alternatives ∪ gold links). */
  def reportFromLinkTables(pred: DataFrame, gold: DataFrame): DataFrame =
    SpanEval.reportFromScenarios(linkScenarioTable(pred, gold))

  /** The link-table scenario table `(url, eType, n, scenario)` behind
    * [[reportFromLinkTables]] — the staging surface for external
    * oracles (kg13 pins it to parquet; the report assembly above it is
    * plain SQL, which DuckDB recomputes). */
  private[graft] def linkScenarioTable(pred: DataFrame,
      gold: DataFrame): DataFrame = {
    val primaries = boundedTagCollect(
      pred.select(element_at(col("types"), 1).as("t"))
        .unionAll(gold.select(col("entity").as("t"))))
    scenarioCounts(pred, gold, primaries)
  }

  /** Sliced NEL evaluation over link tables — the `--noise-level` /
    * `--time-period` CLI regimes applied to entity linking, the same shape
    * as [[SpanEval.reportSliced]]: each named predicate filters BOTH
    * tables, then the full report runs on the slice (use
    * [[SpanEval.timeSlices]] to build the predicates over a year column
    * carried on the link rows; LED-noise bands are token-level, see
    * [[SpanEval.noiseSliceToks]]).
    *
    * Scorer fidelity: the tag universe is computed ONCE over the
    * UNFILTERED tables — the reference's `set_evaluation_tags` runs before
    * any slice filtering, so a link seen only outside a slice still
    * shapes scenario-II attribution inside it. Slicing at span level is
    * exact for TIME (the date is per-document); for token-deletion LED
    * semantics use [[reportSlicedFromTokens]]. */
  def reportSliced(pred: DataFrame, gold: DataFrame,
      slices: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    SpanEval.slicedAssembly(
      slicedLinkScenarioTable(pred, gold, slices).localCheckpoint(),
      slices.map(_._1))

  /** The per-slice scenario scan `(url, eType, n, scenario, slice)`
    * behind [[reportSliced]] — kg14's staging surface (same rationale
    * as [[linkScenarioTable]]). The tag universe stays global
    * (pre-slice), per the scorer contract. */
  private[graft] def slicedLinkScenarioTable(pred: DataFrame,
      gold: DataFrame,
      slices: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val primaries = boundedTagCollect(
      pred.select(element_at(col("types"), 1).as("t"))
        .unionAll(gold.select(col("entity").as("t"))))
    slices.map { case (name, predicate) =>
      scenarioCounts(pred.where(predicate), gold.where(predicate), primaries)
        .withColumn("slice", lit(name))
    }.reduce(_ unionByName _)
  }

  /** Token-level sliced NEL report — the exact `--noise_level` /
    * `--time_period` semantics over HIPE token tables: tokens are
    * filtered per document by the GOLD token's LED/date (pred tokens
    * removed at the same positions), link objects are collected from the
    * FILTERED streams (so deletions can merge consecutive equal links or
    * truncate NER-bounded spans), and the tag universe is global
    * (computed once, unfiltered). Slice predicates:
    * [[SpanEval.timeSliceToks]] / [[SpanEval.noiseSliceToks]]. */
  def reportSlicedFromTokens(
      predToks: Dataset[TsvToken], goldToks: Dataset[TsvToken],
      linkCols: Seq[TsvToken => String] = Seq(_.nelLit),
      nerCol: Option[TsvToken => String] = None,
      nBest: Int = 1,
      slices: Seq[(String, TsvToken => Boolean)] = Seq(("ALL", _ => true)))
      : DataFrame = {
    val spark = predToks.sparkSession
    val tags = tagUniverse(predToks, goldToks, linkCols)
    val tagsB = spark.sparkContext.broadcast(tags)
    val scan = SpanEval.pairedSliceScan(predToks, goldToks, slices,
      (pf, gf) => {
        val tg = tagsB.value
        def nel(ts: IndexedSeq[TsvToken]): IndexedSeq[NelTok] =
          ts.map(t => NelTok(t.token,
            iobNorm(nerCol.map(_(t)).getOrElse("O")), linkCols.map(_(t))))
        def collect(ts: IndexedSeq[NelTok], nb: Int, gsSide: Boolean) =
          nerCol match {
            case Some(_) => collectLinkObjectsNer(ts, nb, gsSide)
            case None => collectLinkObjectsOriginal(ts, nb)
          }
        val preds = collect(nel(pf), nBest, gsSide = false)
          .map(o => (o.types, o.l, o.r))
          .filter(_._1.exists(tg.contains)).toIndexedSeq
        val golds = collect(nel(gf), 1, gsSide = true)
          .map(o => (o.types.head, o.l, o.r))
          .filter(g => tg.contains(g._1)).toIndexedSeq
        scanDoc(preds, golds, tg)
      })
    SpanEval.slicedAssembly(scan, slices.map(_._1))
  }
}

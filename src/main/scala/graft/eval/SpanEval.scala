package graft.eval

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** Span-level P/R/F1 scoring — the engine's correctness oracle.
  *
  * Two regimes, mirroring the HIPE scorer
  * (`HIPE-scorer/hipe_evaluation/ner_eval.py:387-630`):
  *  - `strict`: exact boundaries + exact type;
  *  - `fuzzy`: char-span overlap + exact type (the regime behind the
  *    P/R ≥ 0.95 acceptance gate, BASELINE.md).
  *
  * Distributed formulation: both regimes reduce to joins between the gold
  * and predicted span tables keyed by `url` — exact is an equi-join on
  * `(url, type, l, r)`; fuzzy is an equi-join on `(url, type)` with an
  * interval-overlap residual, de-duplicated so each gold matches ≤1 pred
  * and vice versa (greedy by leftmost pred, like the scorer's first-match
  * scan). Counts are then single global aggregates — no driver-side loops.
  */
object SpanEval {

  final case class Metrics(tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  /** Score predicted vs gold span tables. Both inputs need columns
    * `(url, entity, lOffset, rOffset)`. */
  def score(pred: DataFrame, gold: DataFrame, fuzzy: Boolean): Metrics = {
    // 1:1 accounting requires set semantics on both sides: duplicate
    // identical spans would multiply through the equi-join and push
    // fp = nPred - tp negative (HIPE operates on token-aligned columns
    // where duplicates cannot occur; dedup restores that invariant here)
    val p = pred.select(
      col("url"), col("entity"),
      col("lOffset").cast("int").as("pl"), col("rOffset").cast("int").as("pr"))
      .dropDuplicates("url", "entity", "pl", "pr")
    val g = gold.select(
      col("url"), col("entity"),
      col("lOffset").cast("int").as("gl"), col("rOffset").cast("int").as("gr"))
      .dropDuplicates("url", "entity", "gl", "gr")

    val matched =
      if (!fuzzy)
        p.join(g,
          p("url") === g("url") && p("entity") === g("entity") &&
            col("pl") === col("gl") && col("pr") === col("gr"))
          .select(p("url"), col("pl"), col("pr"), col("gl"), col("gr"))
      else {
        // overlap candidates, then 1:1 de-dup both ways. Candidate priority
        // mirrors the HIPE scorer's per-pred scan (ner_eval.py
        // compute_metrics): an exact-boundary match wins first (Scenario I
        // before overlap scenarios — guarantees fuzzy TP >= strict TP),
        // then the largest overlap, then leftmost offsets.
        val cand = p.join(g,
          p("url") === g("url") && p("entity") === g("entity") &&
            col("pl") < col("gr") && col("gl") < col("pr"))
          .select(p("url"), p("entity"), col("pl"), col("pr"), col("gl"), col("gr"))
        val exact = (col("pl") === col("gl") && col("pr") === col("gr")).cast("int")
        val overlap = least(col("pr"), col("gr")) - greatest(col("pl"), col("gl"))
        val byPred = Window.partitionBy(col("url"), col("entity"), col("pl"), col("pr"))
          .orderBy(exact.desc, overlap.desc, col("gl"), col("gr"))
        val byGold = Window.partitionBy(col("url"), col("entity"), col("gl"), col("gr"))
          .orderBy(exact.desc, overlap.desc, col("pl"), col("pr"))
        cand
          .withColumn("rp", row_number().over(byPred)).where(col("rp") === 1)
          .withColumn("rg", row_number().over(byGold)).where(col("rg") === 1)
      }

    val tp = matched.count()
    val nPred = p.count()
    val nGold = g.count()
    Metrics(tp, nPred - tp, nGold - tp)
  }

  // ---- full HIPE report: 4 regimes × (per-type + ALL), micro + macro ---

  /** Classify every (pred, gold) interaction into the HIPE scorer's six
    * scenarios with EXACT reference semantics — a faithful per-document
    * re-implementation of `compute_metrics`'s sequential scan
    * (`ner_eval.py:387-630`):
    *
    *   I   exact boundary + type        → correct in all four regimes
    *   IV  exact boundary, wrong type   → strict/ent_type incorrect,
    *                                       exact/partial correct
    *   V   overlap, same type           → ent_type correct, partial 0.5,
    *                                       strict/exact incorrect
    *   VI  overlap, wrong type          → partial 0.5, others incorrect
    *   II  unmatched pred               → spurious (attributed to pred type)
    *   III unmatched gold               → missed (attributed to gold type)
    *
    * The scan is ORDER-SENSITIVE in ways staged joins cannot express: preds
    * are processed in document order; Scenario I/IV take the first
    * boundary-equal gold with NO used-check (a gold can serve several
    * preds), while the overlap scenarios take the first not-yet-overlapped
    * gold, evaluating the IV-vs-overlap branch per gold in order — an
    * earlier pred's Scenario VI can consume the gold a later same-type pred
    * would have taken as V. (Round-2 history: a staged-join 1:1
    * approximation matched every scorer fixture but diverged by one count
    * on the real fr test set — the per-doc scan matches the official
    * 2024 results exactly, HipeParitySpec.)
    *
    * Distribution: matching is inherently per-document, so the scan runs
    * inside `flatMapGroups` keyed by url — one shuffle, embarrassingly
    * parallel over documents, O(preds × golds) within a document (both
    * bounded by document length). Attribution: gold-involved scenarios
    * count under the GOLD type, spurious under the PRED type.
    *
    * Returns one row per (url, eType, scenario) with a count.
    */
  private[graft] def scenarioCounts(pred: DataFrame,
      gold: DataFrame): DataFrame = {
    val spark = pred.sparkSession
    import spark.implicits._
    val p0 = pred.select(
      col("url"), lit("P").as("side"), col("entity"),
      col("lOffset").cast("int").as("l"), col("rOffset").cast("int").as("r"))
    val g0 = gold.select(
      col("url"), lit("G").as("side"), col("entity"),
      col("lOffset").cast("int").as("l"), col("rOffset").cast("int").as("r"))
    p0.unionByName(g0)
      .dropDuplicates("url", "side", "entity", "l", "r")
      .as[(String, String, String, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (url: String, it: Iterator[(String, String, String, Int, Int)]) =>
        val rows = it.toSeq
        // document order (collect_named_entities emits in token order)
        val preds = rows.filter(_._2 == "P").map(t => (t._3, t._4, t._5))
          .sortBy(t => (t._2, t._3, t._1))
        val golds = rows.filter(_._2 == "G").map(t => (t._3, t._4, t._5))
          .sortBy(t => (t._2, t._3, t._1)).toIndexedSeq
        scanDocNerc(preds, golds)
          .groupBy(identity).map { case ((eType, scenario), hits) =>
            (url, eType, hits.size.toLong, scenario)
          }
      }
      .toDF("url", "eType", "n", "scenario")
  }

  /** The per-document NERC scenario scan itself — shared by the span-table
    * path above and the token-level sliced path ([[reportSlicedTokens]]).
    * Inputs are (eType, l, r) span triples in document order. */
  private[eval] def scanDocNerc(
      preds: Seq[(String, Int, Int)],
      golds: IndexedSeq[(String, Int, Int)]): Seq[(String, String)] = {
    val overlapped = new Array[Boolean](golds.length)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    preds.foreach { case (pe, pl, pr) =>
      // Scenario I: first boundary+type-equal gold, no used-check
      var iExact = -1
      var gi = 0
      while (iExact < 0 && gi < golds.length) {
        val g = golds(gi)
        if (g._1 == pe && g._2 == pl && g._3 == pr) iExact = gi
        gi += 1
      }
      if (iExact >= 0) {
        overlapped(iExact) = true
        out += ((pe, "I"))
      } else {
        // single pass over golds in order: per gold, Scenario IV
        // (boundary-equal, no used-check) is tried before the overlap
        // scenarios (first not-yet-overlapped gold)
        var done = false
        gi = 0
        while (!done && gi < golds.length) {
          val g = golds(gi)
          if (g._2 == pl && g._3 == pr && g._1 != pe) {
            overlapped(gi) = true
            out += ((g._1, "IV"))
            done = true
          } else if (!overlapped(gi) && pl < g._3 && g._2 < pr) {
            overlapped(gi) = true
            out += ((g._1, if (g._1 == pe) "V" else "VI"))
            done = true
          } else gi += 1
        }
        if (!done) out += ((pe, "II")) // spurious
      }
    }
    golds.indices.foreach { i =>
      if (!overlapped(i)) out += ((golds(i)._1, "III")) // missed
    }
    out.toSeq
  }

  /** Regime composition of the six scenarios (`ner_eval.py:395-400`). */
  val Regimes: Seq[String] = Seq("strict", "ent_type", "exact", "partial")

  /** Full evaluation report — the DataFrame analog of the HIPE scorer's
    * output JSON: one row per (eType ∪ "ALL", regime) with the SemEval-2013
    * counts, micro P/R/F1 and (on ALL rows) macro-over-types P/R/F1
    * (`compute_macro_type_scores`, ner_eval.py:807-843; the mean of
    * per-type micro scores). */
  def report(pred: DataFrame, gold: DataFrame): DataFrame =
    reportFromScenarios(scenarioCounts(pred, gold))

  /** Regime composition + micro/macro metric assembly over a scenario-count
    * table `(url, eType, n, scenario)` — shared by the NERC report above
    * and the NEL report ([[NelEval.report]]), which differ only in how the
    * scenarios are produced (flat entities vs link-alternative unions). */
  private[graft] def reportFromScenarios(sc: DataFrame): DataFrame =
    reportCore(sc, Nil)

  /** The report assembly, optionally grouped by extra slice columns —
    * `sliceCols = Nil` is the plain report; [[slicedAssembly]] passes
    * `Seq("slice")` so ALL slices assemble in ONE aggregation pass
    * instead of one report (scan + aggregation + macro join) per slice.
    * Slice columns ride through every stage and append to the output. */
  private def reportCore(sc: DataFrame, sliceCols: Seq[String]): DataFrame = {
    val slice = sliceCols.map(col)
    // scenario → per-regime (correct, incorrect, partial) contribution
    def n(s: String): Column =
      sum(when(col("scenario") === s, col("n")).otherwise(0L))
    // r8 (guide §2.4): ONE rollup aggregation replaces the former
    // perType-groupBy ∪ ALL-groupBy pair — the grand-total row IS the
    // "ALL" row (identical integer sums over the identical input rows),
    // distinguished by grouping() so a literal "ALL" eType could never
    // be confused with the total. The former union also DUPLICATED the
    // whole scan+aggregate subtree per branch (and ×4 again through the
    // regime union below): kg12/kg13 planned 28 Exchanges, kg14 84.
    // With slice columns the rollup's coarser grouping-set rows (slice
    // columns aggregated away) are dropped via their grouping() flags.
    val base = sliceCols
      .foldLeft(
        sc.rollup(slice :+ col("eType"): _*).agg(
          grouping(col("eType")).as("_g"),
          (sliceCols.map(c => grouping(col(c)).as(s"_g_$c")) ++ Seq(
            n("I").as("cI"), n("IV").as("cIV"), n("V").as("cV"),
            n("VI").as("cVI"),
            n("II").as("spurious"), n("III").as("missed"))): _*)
      )((df, c) => df.where(col(s"_g_$c") === 0))
      .select(slice ++ Seq(
        when(col("_g") === 1, lit("ALL")).otherwise(col("eType")).as("eType"),
        col("cI"), col("cIV"), col("cV"), col("cVI"),
        col("spurious"), col("missed")): _*)

    // the 4 regimes as ONE generator over the aggregated rows (explode of
    // a 4-struct array) instead of a 4-branch union that re-evaluated the
    // aggregation per regime. Field arithmetic is unchanged: identical
    // long additions on identical values, row for row.
    val regimeStructs = array(
      struct(lit("strict").as("regime"),
        col("cI").as("correct"),
        (col("cIV") + col("cV") + col("cVI")).as("incorrect"),
        lit(0L).as("partial")),
      struct(lit("ent_type").as("regime"),
        (col("cI") + col("cV")).as("correct"),
        (col("cIV") + col("cVI")).as("incorrect"),
        lit(0L).as("partial")),
      struct(lit("exact").as("regime"),
        (col("cI") + col("cIV")).as("correct"),
        (col("cV") + col("cVI")).as("incorrect"),
        lit(0L).as("partial")),
      struct(lit("partial").as("regime"),
        (col("cI") + col("cIV")).as("correct"),
        lit(0L).as("incorrect"),
        (col("cV") + col("cVI")).as("partial")))
    val regimeRows = base
      .select(slice ++ Seq(col("eType"), col("missed"), col("spurious"),
        explode(regimeStructs).as("_r")): _*)
      .select(slice ++ Seq(
        col("eType"), col("_r.regime").as("regime"),
        col("_r.correct").as("correct"), col("_r.incorrect").as("incorrect"),
        col("_r.partial").as("partial"), col("missed"),
        col("spurious")): _*)

    val counted = regimeRows
      .withColumn("actual",
        col("correct") + col("incorrect") + col("partial") + col("spurious"))
      .withColumn("possible",
        col("correct") + col("incorrect") + col("partial") + col("missed"))
      .withColumn("tp", col("correct"))
      .withColumn("fp", col("actual") - col("correct"))
      .withColumn("fn", col("possible") - col("correct"))
    val reward = col("correct") +
      when(col("regime") === "partial", col("partial") * 0.5).otherwise(0.0)
    val withMicro = counted
      .withColumn("p_micro",
        when(col("actual") > 0, reward / col("actual")).otherwise(0.0))
      .withColumn("r_micro",
        when(col("possible") > 0, reward / col("possible")).otherwise(0.0))
      .withColumn("f1_micro",
        when(col("p_micro") + col("r_micro") > 0,
          lit(2.0) * col("p_micro") * col("r_micro") /
            (col("p_micro") + col("r_micro"))).otherwise(0.0))

    // macro over types (ALL rows only): unweighted mean of per-type
    // micro. The mean is a SORTED (by eType) sequential left fold, not
    // `avg`: float addition is non-associative, so an order-free
    // aggregate yields partitioning-dependent last-ulp results — the
    // fold makes the report bit-deterministic across runs AND
    // bit-reproducible by an external engine summing in the same order
    // (the kg12–14 DuckDB oracles: `list_reduce(list(x ORDER BY
    // eType), ...)`; 0.0+x == x in IEEE, so the init-less reduce
    // equals this 0.0-seeded fold bit for bit).
    def foldMean(xs: Column, field: String): Column =
      aggregate(xs, lit(0.0), (acc, x) => acc + x.getField(field)) /
        size(xs)
    val macros = withMicro.where(col("eType") =!= "ALL")
      .groupBy(slice :+ col("regime"): _*)
      .agg(sort_array(collect_list(struct(col("eType"), col("p_micro"),
        col("r_micro"), col("f1_micro")))).as("xs"))
      .select(slice ++ Seq(col("regime"),
        foldMean(col("xs"), "p_micro").as("p_macro"),
        foldMean(col("xs"), "r_micro").as("r_macro"),
        foldMean(col("xs"), "f1_micro").as("f1_macro")): _*)
    withMicro.join(macros, sliceCols :+ "regime", "left")
      .withColumn("p_macro",
        when(col("eType") === "ALL", col("p_macro")))
      .withColumn("r_macro",
        when(col("eType") === "ALL", col("r_macro")))
      .withColumn("f1_macro",
        when(col("eType") === "ALL", col("f1_macro")))
      .select(Seq(col("eType"), col("regime"), col("correct"),
        col("incorrect"),
        col("partial"), col("missed"), col("spurious"), col("possible"),
        col("actual"), col("tp"), col("fp"), col("fn"),
        col("p_micro"), col("r_micro"), col("f1_micro"),
        col("p_macro"), col("r_macro"), col("f1_macro")) ++ slice: _*)
  }

  /** Macro-over-documents scores (`accumulate_doc_scores`,
    * ner_eval.py:331-360): per-document micro P/R/F1 averaged across
    * documents, where a document enters the P mean only if it has
    * predictions (actual > 0), the R mean only if it has gold entities
    * (possible > 0), and the F1 mean only if both. One row per regime. */
  def macroDocScores(pred: DataFrame, gold: DataFrame): DataFrame =
    macroDocFromScenarios(scenarioCounts(pred, gold))

  /** Doc-macro assembly over a scenario-count table — shared with the NEL
    * surface ([[NelEval.macroDocScores]]), which differs only in how the
    * scenarios are produced. */
  private[eval] def macroDocFromScenarios(sc: DataFrame): DataFrame = {
    def n(s: String): Column =
      sum(when(col("scenario") === s, col("n")).otherwise(0L))
    val perDoc = sc.groupBy(col("url")).agg(
      n("I").as("cI"), n("IV").as("cIV"), n("V").as("cV"), n("VI").as("cVI"),
      n("II").as("spurious"), n("III").as("missed"))
    Regimes.map { regime =>
      val (correct, incorrect, partial) = regime match {
        case "strict" =>
          (col("cI"), col("cIV") + col("cV") + col("cVI"), lit(0L))
        case "ent_type" =>
          (col("cI") + col("cV"), col("cIV") + col("cVI"), lit(0L))
        case "exact" =>
          (col("cI") + col("cIV"), col("cV") + col("cVI"), lit(0L))
        case "partial" =>
          (col("cI") + col("cIV"), lit(0L), col("cV") + col("cVI"))
      }
      val reward = correct +
        (if (regime == "partial") partial * 0.5 else lit(0.0))
      perDoc
        .withColumn("actual", correct + incorrect + partial + col("spurious"))
        .withColumn("possible", correct + incorrect + partial + col("missed"))
        .withColumn("p", when(col("actual") > 0, reward / col("actual")))
        .withColumn("r", when(col("possible") > 0, reward / col("possible")))
        .withColumn("f1",
          when(col("actual") > 0 && col("possible") > 0,
            when(col("p") + col("r") > 0,
              lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
              .otherwise(0.0)))
        .agg(avg(col("p")).as("p_macro_doc"),
          avg(col("r")).as("r_macro_doc"),
          avg(col("f1")).as("f1_macro_doc"),
          // np.std = POPULATION std (compute_macro_doc_scores,
          // ner_eval.py:868) — stddev_pop, not the sample stddev
          stddev_pop(col("p")).as("p_macro_doc_std"),
          stddev_pop(col("r")).as("r_macro_doc_std"),
          stddev_pop(col("f1")).as("f1_macro_doc_std"))
        .withColumn("regime", lit(regime))
        .select(col("regime"), col("p_macro_doc"), col("r_macro_doc"),
          col("f1_macro_doc"), col("p_macro_doc_std"),
          col("r_macro_doc_std"), col("f1_macro_doc_std"))
    }.reduce(_ unionByName _)
  }

  /** Sliced evaluation — the HIPE scorer's TIME-period and LED-noise
    * regimes (`filter_entities_by_date` / `filter_entities_by_noise`,
    * applied before scoring): each named predicate filters BOTH tables,
    * then the full report runs on the slice. Returns the union of reports
    * with a leading `slice` column; `("ALL", lit(true))` reproduces the
    * unsliced TIME-ALL/LED-ALL report. */
  def reportSliced(pred: DataFrame, gold: DataFrame,
      slices: Seq[(String, Column)]): DataFrame = {
    val scan = slices.map { case (name, predicate) =>
      scenarioCounts(pred.where(predicate), gold.where(predicate))
        .withColumn("slice", lit(name))
    }.reduce(_ unionByName _).localCheckpoint()
    slicedAssembly(scan, slices.map(_._1))
      .select(col("slice") +: Seq(col("eType"), col("regime"), col("correct"),
        col("incorrect"), col("partial"), col("missed"), col("spurious"),
        col("possible"), col("actual"), col("tp"), col("fp"), col("fn"),
        col("p_micro"), col("r_micro"), col("f1_micro"), col("p_macro"),
        col("r_macro"), col("f1_macro")): _*)
  }

  // ---- token-level sliced evaluation (scorer-faithful) -----------------

  /** Token-level sliced NERC report — the EXACT semantics of the scorer's
    * `--noise_level` / `--time_period` regimes, which [[reportSliced]]'s
    * span-level filtering can only approximate:
    *
    *  - the reference filters TOKENS (keeping pred tokens at the same
    *    positions as kept gold tokens — `filter_entities_by_noise/date`,
    *    utils.py:223-265) and only THEN collects entities, so removing
    *    tokens can truncate, split, or merge entities — effects invisible
    *    to span-level filtering;
    *  - the filter predicate always reads the GOLD token (a pred span over
    *    out-of-band gold tokens disappears with them);
    *  - tokens without a LED annotation are KEPT by every noise band
    *    (utils.py:236);
    *  - the scorer's NERC tag gate applies: the tag set is GOLD-derived,
    *    global (pre-slice), and both sides' out-of-set entities are
    *    dropped — including dash-bearing types, which get_all_tags'
    *    last-dash-segment quirk silently excludes (see the gate comment
    *    in the body). The unsliced [[report]] deliberately has NO gate
    *    (the engine scores every type it produces); use this method when
    *    scorer-exact output is required.
    *
    * Both token streams are paired per document BY POSITION (the scorer
    * asserts equal shapes, ner_eval.py:111-129; this fails loudly on
    * mismatch too). Spans keep original `tokIdx` positions — order-
    * isomorphic to the reference's compressed per-segment indices, so
    * every boundary/overlap judgment is identical. One scan pass computes
    * every slice; the assembly reuses [[reportFromScenarios]].
    *
    * Returns the union of per-slice reports with a leading `slice` column.
    */
  def reportSlicedTokens(
      predToks: org.apache.spark.sql.Dataset[graft.core.TsvToken],
      goldToks: org.apache.spark.sql.Dataset[graft.core.TsvToken],
      column: graft.core.TsvToken => String,
      slices: Seq[(String, graft.core.TsvToken => Boolean)]): DataFrame = {
    // NERC tag gate (`set_evaluation_tags` nerc branch, ner_eval.py:658-661
    // + compute_metrics:430-435): tags come from the GOLD file only —
    // computed ONCE, globally, BEFORE any slice filtering — and both
    // sides' entities are dropped when their type is not in the set. The
    // set inherits get_all_tags' dash quirk (utils.py:52): the tag is the
    // label's last dash segment, so a type with an internal dash
    // (UP-UPI → "UPI") never equals its own e_type and is silently
    // excluded from the evaluation — gold and pred alike.
    val spark = predToks.sparkSession
    import spark.implicits._
    val tags = goldToks
      .map(t => column(t).split("\\|")(0).split("-").last)
      .distinct().collect().toSet -- Set("_", "-", "O", "")
    val tagsB = spark.sparkContext.broadcast(tags)
    val scan = pairedSliceScan(predToks, goldToks, slices,
      (pf, gf) => {
        val tg = tagsB.value
        def spans(ts: Seq[graft.core.TsvToken]) =
          graft.sources.ConllTsvReader.goldSpansBy(ts, column)
            .map(s => (s.eType, s.start, s.end + 1))
            .filter(s => tg.contains(s._1))
        scanDocNerc(spans(pf), spans(gf).toIndexedSeq)
      })
    slicedAssembly(scan, slices.map(_._1))
  }

  /** Shared scaffolding of the token-level sliced evaluations: pair both
    * token streams per document by position, fail LOUDLY on shape
    * mismatches AND on duplicated document ids (the committed corpora
    * contain duplicate `document_id`s — the scorer zips copies by file
    * position; callers must disambiguate ids, e.g. suffix the occurrence
    * index, before using this API, or the copies would interleave
    * silently), then run `collect` — (filteredPred, filteredGold) →
    * (eType, scenario) hits — once per slice in ONE scan pass. */
  private[eval] def pairedSliceScan(
      predToks: org.apache.spark.sql.Dataset[graft.core.TsvToken],
      goldToks: org.apache.spark.sql.Dataset[graft.core.TsvToken],
      slices: Seq[(String, graft.core.TsvToken => Boolean)],
      collect: (IndexedSeq[graft.core.TsvToken], IndexedSeq[graft.core.TsvToken]) =>
        Seq[(String, String)]): DataFrame = {
    val spark = predToks.sparkSession
    import spark.implicits._
    predToks.map(("P", _)).unionAll(goldToks.map(("G", _)))
      .groupByKey(_._2.docId)
      .flatMapGroups { (url: String, it: Iterator[(String, graft.core.TsvToken)]) =>
        val rows = it.toSeq
        val ps = rows.filter(_._1 == "P").map(_._2).sortBy(_.tokIdx).toIndexedSeq
        val gs = rows.filter(_._1 == "G").map(_._2).sortBy(_.tokIdx).toIndexedSeq
        require(ps.length == gs.length,
          s"token shape mismatch in $url: pred ${ps.length} vs gold ${gs.length}")
        require(gs.map(_.tokIdx).distinct.length == gs.length,
          s"duplicated tokIdx in document '$url' — the corpus repeats this " +
            "document_id; key documents by occurrence (e.g. suffix '#i') " +
            "before the sliced evaluation")
        slices.iterator.flatMap { case (name, keep) =>
          val kept = gs.indices.filter(i => keep(gs(i)))
          collect(kept.map(ps), kept.map(gs))
            .groupBy(identity).map { case ((eType, scenario), hits) =>
              (name, url, eType, hits.size.toLong, scenario)
            }
        }
      }
      .toDF("slice", "url", "eType", "n", "scenario")
      .localCheckpoint() // one scan pass feeds every slice's assembly
  }

  /** Per-slice report assembly over a `(slice, url, eType, n, scenario)`
    * scan. A slice with no scenario rows still yields its zeroed ALL
    * section (the scorer's prebuilt metric_schema always reports ALL),
    * via a sentinel type filtered back out. */
  private[graft] def slicedAssembly(scan: DataFrame,
      names: Seq[String]): DataFrame = {
    val spark = scan.sparkSession
    import spark.implicits._
    // one pass over the (checkpointed, tiny) scan finds the empty slices,
    // instead of an isEmpty job per slice
    val present = scan.select(col("slice")).distinct()
      .collect().map(_.getString(0)).toSet
    // r8 (guide §2.4): ONE slice-grouped report assembly over all slices
    // replaces the former per-slice report ∪ report ∪ … — each branch
    // re-planned the scan, its rollup, and its macro join (84 Exchanges
    // in kg14's plan). Absent slices are padded with the same synthetic
    // `__none__` row the per-slice form used, so their 4 all-zero "ALL"
    // regime rows (and 0.0 macros) come out identically.
    val absent = names.filterNot(present)
    val named = scan.where(col("slice").isin(names.map(lit(_)): _*))
    val padded =
      if (absent.isEmpty) named
      else named.unionByName(
        absent.map(n => ("", "__none__", 0L, "I", n))
          .toDF("url", "eType", "n", "scenario", "slice"))
    reportCore(padded, Seq("slice"))
      .where(col("eType") =!= "__none__")
  }

  /** Token-level TIME slice predicates (`filter_entities_by_date`:
    * `start <= DATE < end`, day precision — ISO-date string comparison is
    * order-identical). */
  def timeSliceToks(periods: Seq[(String, String)])
      : Seq[(String, graft.core.TsvToken => Boolean)] =
    ("TIME-ALL", (_: graft.core.TsvToken) => true) +: periods.map {
      case (from, to) =>
        (s"TIME-$from-$to",
          (t: graft.core.TsvToken) => t.date >= from && t.date < to)
    }

  /** Token-level LED-noise slice predicates (`filter_entities_by_noise`:
    * un-annotated tokens always kept; band is `lo <= LED < hi` plus the
    * exact `lo == LED == hi` edge). */
  def noiseSliceToks(bands: Seq[(Double, Double)])
      : Seq[(String, graft.core.TsvToken => Boolean)] =
    ("LED-ALL", (_: graft.core.TsvToken) => true) +: bands.map {
      case (lo, hi) =>
        (s"LED-$lo-$hi", (t: graft.core.TsvToken) => t.led match {
          case None => true
          case Some(l) => (lo <= l && l < hi) || (lo == l && l == hi)
        })
    }

  /** TIME-period slice predicates over a year column
    * (`--time_period` CLI ranges). */
  def timeSlices(yearCol: Column, periods: Seq[(Int, Int)]): Seq[(String, Column)] =
    ("TIME-ALL", lit(true)) +: periods.map { case (from, to) =>
      (s"TIME-$from-$to", yearCol.between(from, to))
    }

  // ---- typed Aggregator (seqeval-style, for per-group scoring) --------

  /** Buffer/result for the UDAF form: per-group (e.g. per doc, per type)
    * accumulation of (tp, fp, fn) from pre-matched pair rows — the
    * distributed analog of `ner_eval.py:253-331`'s accumulators. */
  final case class PairRow(isTp: Boolean, isFp: Boolean, isFn: Boolean)

  val metricsAgg: Aggregator[PairRow, Metrics, Metrics] =
    new Aggregator[PairRow, Metrics, Metrics] {
      def zero: Metrics = Metrics(0, 0, 0)
      def reduce(b: Metrics, a: PairRow): Metrics =
        Metrics(b.tp + (if (a.isTp) 1 else 0),
          b.fp + (if (a.isFp) 1 else 0),
          b.fn + (if (a.isFn) 1 else 0))
      def merge(x: Metrics, y: Metrics): Metrics =
        Metrics(x.tp + y.tp, x.fp + y.fp, x.fn + y.fn)
      def finish(r: Metrics): Metrics = r
      def bufferEncoder: Encoder[Metrics] = Encoders.product[Metrics]
      def outputEncoder: Encoder[Metrics] = Encoders.product[Metrics]
    }
}

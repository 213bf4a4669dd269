package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, udf}

import graft.core.TsvToken
import graft.eval.SpanEval
import graft.sources.ConllTsvReader

/** Validate the engine's scorer against the HIPE scorer's own unit-test
  * fixtures (`HIPE-scorer/hipe_evaluation/tests/data/`): our strict regime
  * must reproduce the reference's `strict` TP/FP/FN and our fuzzy regime
  * its `ent_type` regime (type match + boundary overlap) — SURVEY §5.2
  * item 3.
  */
class HipeParitySpec extends AnyFunSuite with EvidenceFamily {

  def evidence = "HIPE parity"

  private lazy val spark = SparkTestSession.spark
  private val base =
    "/root/reference/lib/bert_classification/HIPE-scorer/hipe_evaluation/tests/data"

  private def spansDf(file: String, column: TsvToken => String) = {
    import spark.implicits._
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    val toks = ConllTsvReader.parse(content)
    toks.groupBy(_.docId).toSeq.flatMap { case (doc, ts) =>
      ConllTsvReader.goldSpansBy(ts.sortBy(_.tokIdx), column)
        .map(s => (doc, s.eType, s.start, s.end + 1))
    }.toDF("url", "entity", "lOffset", "rOffset")
  }

  /** Parse the expected ALL-section counts from the scorer's ref JSON
    * without a JSON library: the fixture layout is stable. */
  private def expected(file: String, regime: String): (Long, Long, Long) = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    val allIdx = text.indexOf("\"ALL\"")
    require(allIdx >= 0, s"no ALL section in $file")
    val regimeIdx = text.indexOf("\"" + regime + "\"", allIdx)
    require(regimeIdx >= 0, s"no $regime in ALL of $file")
    def grab(key: String): Long = {
      val i = text.indexOf("\"" + key + "\"", regimeIdx)
      val j = text.indexOf(":", i) + 1
      val k = text.indexWhere(c => c == ',' || c == '\n' || c == '}', j)
      text.substring(j, k).trim.toLong
    }
    (grab("TP"), grab("FP"), grab("FN"))
  }

  test("report macro means are bit-deterministic across partitionings") {
    import spark.implicits._
    // the eType-ordered sequential fold (round 7) replaced `avg` exactly
    // so the macro columns stop depending on shuffle partitioning at the
    // last ulp — the property the kg12-14 DuckDB oracles' bit-exact
    // float comparison rests on. Fractions with odd denominators (7, 13)
    // make any order-sensitive float accumulation visible.
    val rnd = new scala.util.Random(5)
    val sc = (1 to 400).map { i =>
      (s"d${rnd.nextInt(30)}", s"T${rnd.nextInt(13)}", 1L + rnd.nextInt(7),
        Seq("I", "II", "III", "IV", "V", "VI")(rnd.nextInt(6)))
    }.toDF("url", "eType", "n", "scenario")
    def macros(df: org.apache.spark.sql.DataFrame): Map[(String, String), Double] =
      SpanEval.reportFromScenarios(df)
        .where(col("eType") === "ALL")
        .select(col("regime"), col("p_macro"), col("r_macro"),
          col("f1_macro"))
        .collect()
        .flatMap(r => Seq(
          (r.getString(0), "p") -> r.getDouble(1),
          (r.getString(0), "r") -> r.getDouble(2),
          (r.getString(0), "f") -> r.getDouble(3)))
        .toMap
    val a = macros(sc.repartition(1))
    val b = macros(sc.repartition(16, col("scenario")))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) =>
      // EXACT bit equality, not a tolerance — that is the claim
      assert(java.lang.Double.doubleToLongBits(v) ==
        java.lang.Double.doubleToLongBits(b(k)), s"$k: $v vs ${b(k)}")
    }
  }

  private def check(pair: String, refJson: String, column: TsvToken => String): Unit = {
    val pred = spansDf(s"$base/unittest-$pair-pred.tsv", column)
    val gold = spansDf(s"$base/unittest-$pair-true.tsv", column)
    val strict = SpanEval.score(pred, gold, fuzzy = false)
    val fuzzy = SpanEval.score(pred, gold, fuzzy = true)
    val (sTp, sFp, sFn) = expected(refJson, "strict")
    val (eTp, eFp, eFn) = expected(refJson, "ent_type")
    assert((strict.tp, strict.fp, strict.fn) == ((sTp, sFp, sFn)),
      s"$pair strict: got ${(strict.tp, strict.fp, strict.fn)} expected ${(sTp, sFp, sFn)}")
    assert((fuzzy.tp, fuzzy.fp, fuzzy.fn) == ((eTp, eFp, eFn)),
      s"$pair ent_type: got ${(fuzzy.tp, fuzzy.fp, fuzzy.fn)} expected ${(eTp, eFp, eFn)}")
  }

  test("HIPE fixture ner-1 (coarse): strict + ent_type parity") {
    assumeData(base)
    check("ner-1", s"$base/unittest-ner-1-pred.tsv.ner-coarse-lit_ref_results.json",
      _.neCoarseLit)
  }

  test("HIPE fixture ner-2 (coarse): strict + ent_type parity") {
    assumeData(base)
    check("ner-2", s"$base/unittest-ner-2-pred.tsv.coarse-lit_ref_results.json",
      _.neCoarseLit)
  }

  test("HIPE fixture ner-2 (fine): strict + ent_type parity") {
    assumeData(base)
    check("ner-2", s"$base/unittest-ner-2-pred.tsv.fine-lit_ref_results.json",
      _.neFineLit)
  }

  test("HIPE fixture ner-2-IOBES (coarse): S-/E- tags normalize") {
    assumeData(base)
    check("ner-2-IOBES",
      s"$base/unittest-ner-2-IOBES-pred.tsv.coarse-lit_ref_results.json",
      _.neCoarseLit)
  }

  test("HIPE fixture ner-lit-coarse-3: ent_type DIFFERS from strict (3/0/0 vs 2/1/1)") {
    // the one fixture where the regimes disagree — proves the fuzzy
    // (boundary-overlap) path is genuinely exercised, not mirroring strict
    assumeData(base)
    check("ner-lit-coarse-3",
      s"$base/unittest-ner-lit-coarse-3-pred.tsv.ref_results.json",
      _.neCoarseLit)
  }

  // ---- full-report parity: every (type ∪ ALL) × regime section ---------

  /** All (section, regime) → (TP, FP, FN) triples of a scorer ref JSON. */
  private def expectedFull(file: String): Map[(String, String), (Long, Long, Long)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    val json = JsonMethods.parse(text).asInstanceOf[JObject]
    (for {
      (section, JObject(regimes)) <- json.obj
      (regime, counts: JObject) <- regimes
    } yield {
      def grab(k: String): Long = counts \ k match {
        case JInt(v) => v.toLong
        case JDouble(v) => v.toLong
        case other => fail(s"$file $section.$regime.$k: $other")
      }
      (section, regime) -> ((grab("TP"), grab("FP"), grab("FN")))
    }).toMap
  }

  private def checkFullReport(pair: String, refJson: String,
      column: TsvToken => String): Unit = {
    val pred = spansDf(s"$base/unittest-$pair-pred.tsv", column)
    val gold = spansDf(s"$base/unittest-$pair-true.tsv", column)
    // the scorer upper-cases section names in its report; counts are keyed
    // by the raw tag otherwise
    val got = SpanEval.report(pred, gold).collect().map { r =>
      (r.getAs[String]("eType").toUpperCase, r.getAs[String]("regime")) ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")))
    }.toMap
    val exp = expectedFull(refJson)
    exp.foreach { case (key @ (section, regime), want) =>
      val have = got.getOrElse(key,
        if (want == ((0L, 0L, 0L))) (0L, 0L, 0L)
        else fail(s"$pair: report has no row for $key (expected $want); " +
          s"have keys: ${got.keys.toSeq.sorted.mkString(", ")}"))
      assert(have == want, s"$pair $section/$regime: got $have expected $want")
    }
  }

  test("HIPE fixture ner-1: full report parity (per-type × 4 regimes)") {
    assumeData(base)
    checkFullReport("ner-1",
      s"$base/unittest-ner-1-pred.tsv.ner-coarse-lit_ref_results.json",
      _.neCoarseLit)
  }

  test("HIPE fixture ner-2 coarse: full report parity (per-type × 4 regimes)") {
    assumeData(base)
    checkFullReport("ner-2",
      s"$base/unittest-ner-2-pred.tsv.coarse-lit_ref_results.json",
      _.neCoarseLit)
  }

  test("HIPE fixture ner-2 fine: full report parity (per-type × 4 regimes)") {
    assumeData(base)
    checkFullReport("ner-2",
      s"$base/unittest-ner-2-pred.tsv.fine-lit_ref_results.json",
      _.neFineLit)
  }

  test("HIPE fixture ner-lit-coarse-3: full report parity (per-type × 4 regimes)") {
    assumeData(base)
    checkFullReport("ner-lit-coarse-3",
      s"$base/unittest-ner-lit-coarse-3-pred.tsv.ref_results.json",
      _.neCoarseLit)
  }

  // ---- REAL test set: parity with the official 2024 results files ------

  /** Parse the official results TSV (System/Evaluation/Label/P/R/F1/…/
    * TP/FP/FN) into ((LABEL, regime) → (TP, FP, FN)) for the unsliced
    * micro rows; the scorer's "fuzzy" is the ent_type regime. */
  private def officialResults(file: String, labelCol: String)
      : Map[(String, String), (Long, Long, Long)] = {
    val lines = scala.io.Source.fromFile(file, "UTF-8").getLines().toSeq
    lines.drop(1).flatMap { line =>
      val f = line.split("\t", -1)
      if (f.length < 12) None
      else {
        // the requested label column only — NE-NESTED sections repeat the
        // same regime suffixes with (mostly) zero counts
        val regime = f(1) match {
          case s if s == s"$labelCol-micro-fuzzy-TIME-ALL-LED-ALL" => Some("ent_type")
          case s if s == s"$labelCol-micro-strict-TIME-ALL-LED-ALL" => Some("strict")
          case _ => None
        }
        regime.map(r =>
          (f(2), r) ->
            ((f(9).trim.toLong, f(10).trim.toLong, f(11).trim.toLong)))
      }
    }.toMap
  }

  private def checkRealTestSet(lang: String, modelDir: String,
      split: String = "test", task: String = "nerc_fine"): Unit = {
    val (labelCol, column): (String, TsvToken => String) =
      if (task == "nerc_fine") ("NE-FINE-LIT", _.neFineLit)
      else ("NE-COARSE-LIT", _.neCoarseLit)
    val predFile = s"$modelDir/newsagency-data-$split-${lang}_pred.tsv"
    val goldFile =
      s"/root/reference/data/annotated_data/$lang/newsagency-data-$split-$lang.tsv"
    val officialFile = s"$modelDir/newsagency-data-$split-${lang}_pred_$task.tsv"
    assumeData(predFile, goldFile, officialFile)
    // Reproduce the scorer's tag-set gate (`set_evaluation_tags`, tags =
    // gold tags; spurious pred tags are treated as O) INCLUDING its
    // dash-splitting quirk: `get_all_tags` keeps `label.split("-")[-1]`
    // (utils.py:52), so a fine type with an internal dash (UP-UPI →
    // "UPI", ATS-SDA → "SDA") never equals its own entity type and is
    // silently excluded from the official evaluation — gold and pred.
    // The engine's own report scores those types; this filter exists only
    // to compare against the official numbers.
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(goldFile)), "UTF-8")
    val refTags = ConllTsvReader.parse(content)
      .map(t => column(t).split("\\|")(0).split("-").last)
      .filterNot(Set("_", "-", "O")).toSet
    val inTags = udf((e: String) => refTags.contains(e))
    // key spans by document OCCURRENCE, not document_id: the committed
    // test corpora contain duplicated documents (same document_id twice)
    // and the scorer zips docs by file position, scoring each copy —
    // grouping by id would merge the copies and collapse their identical
    // spans
    def spansByOccurrence(file: String) = {
      import spark.implicits._
      val c = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(file)), "UTF-8")
      c.split("(?m)(?=^# document_id)").toSeq.zipWithIndex
        .filter(_._1.contains("document_id"))
        .flatMap { case (block, i) =>
          val toks = ConllTsvReader.parse(block)
          toks.groupBy(_.docId).toSeq.flatMap { case (doc, ts) =>
            ConllTsvReader.goldSpansBy(ts.sortBy(_.tokIdx), column)
              .map(s => (s"$doc#$i", s.eType, s.start, s.end + 1))
          }
        }.toDF("url", "entity", "lOffset", "rOffset")
    }
    val pred = spansByOccurrence(predFile).where(inTags(col("entity")))
    val gold = spansByOccurrence(goldFile).where(inTags(col("entity")))
    val got = SpanEval.report(pred, gold).collect().map { r =>
      (r.getAs[String]("eType").toUpperCase, r.getAs[String]("regime")) ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")))
    }.toMap
    val official = officialResults(officialFile, labelCol)
    assert(official.nonEmpty)
    var checked = 0
    official.foreach { case (key @ (label, regime), want) =>
      val have = got.getOrElse(key,
        if (want == ((0L, 0L, 0L))) (0L, 0L, 0L)
        else fail(s"$lang $split $task: no report row for $key (expected $want)"))
      assert(have == want,
        s"$lang $split $task $label/$regime: got $have expected $want")
      checked += 1
    }
    info(s"$lang $split $task: $checked official (label × regime) rows matched exactly")
  }

  test("REAL de test set: per-type TP/FP/FN parity with the official 2024 results") {
    checkRealTestSet("de", "/root/reference/data/results_2024/" +
      "model_bert_base_german_cased_max_sequence_length_128_epochs_3_run_de_5")
  }

  test("REAL fr test set: per-type TP/FP/FN parity with the official 2024 results") {
    checkRealTestSet("fr", "/root/reference/data/results_2024/" +
      "model_dbmdz_bert_base_french_europeana_cased_max_sequence_length_128_epochs_3_run_fr_2")
  }

  test("REAL test sets, nerc_coarse task: parity with the official 2024 results") {
    checkRealTestSet("de", "/root/reference/data/results_2024/" +
      "model_bert_base_german_cased_max_sequence_length_128_epochs_3_run_de_5",
      task = "nerc_coarse")
    checkRealTestSet("fr", "/root/reference/data/results_2024/" +
      "model_dbmdz_bert_base_french_europeana_cased_max_sequence_length_128_epochs_3_run_fr_2",
      task = "nerc_coarse")
  }

  test("REAL dev sets: parity with the official 2024 results (fine + coarse)") {
    Seq(
      ("de", "/root/reference/data/results_2024/" +
        "model_bert_base_german_cased_max_sequence_length_128_epochs_3_run_de_5"),
      ("fr", "/root/reference/data/results_2024/" +
        "model_dbmdz_bert_base_french_europeana_cased_max_sequence_length_128_epochs_3_run_fr_2")
    ).foreach { case (lang, dir) =>
      checkRealTestSet(lang, dir, split = "dev", task = "nerc_fine")
      checkRealTestSet(lang, dir, split = "dev", task = "nerc_coarse")
    }
  }

  // ---- NEL (entity-linking / QID) parity --------------------------------
  //
  // Targets every committed NEL fixture of the scorer
  // (`--task=nel`, clef_evaluation.py:226-262): the two unit fixtures in
  // both 2020 (link-column segmentation, "concatNIL") and 2022 (NER-column
  // segmentation, "separatedNIL") modes, and the bundle3 document pair in
  // n-best-3 pipe-list mode and LIT∪METO union-column mode — the scorer's
  // own unittest_eval.py asserts both against the SAME expected JSON.

  /** All (label, regime) → metric map of a NEL ref JSON. */
  private def expectedNel(file: String): Map[(String, String), Map[String, Long]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metrics = Seq("correct", "incorrect", "partial", "missed",
      "spurious", "possible", "actual", "TP", "FP", "FN")
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    val json = JsonMethods.parse(text).asInstanceOf[JObject]
    (for {
      (section, JObject(regimes)) <- json.obj
      (regime, counts: JObject) <- regimes
    } yield {
      val m = metrics.flatMap { k =>
        counts \ k match {
          case JInt(v) => Some(k -> v.toLong)
          case JDouble(v) => Some(k -> v.toLong)
          case _ => None
        }
      }.toMap
      (section, regime) -> m
    }).toMap
  }

  private def nelTokens(file: String) = {
    import spark.implicits._
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    spark.createDataset(ConllTsvReader.parse(content))
  }

  private def checkNel(trueFile: String, predFile: String, refJson: String,
      linkCols: Seq[TsvToken => String],
      nerCol: Option[TsvToken => String],
      nBest: Int): Unit = {
    val colOf = Map("TP" -> "tp", "FP" -> "fp", "FN" -> "fn")
      .withDefault(identity)
    val got = graft.eval.NelEval
      .report(nelTokens(predFile), nelTokens(trueFile), linkCols, nerCol, nBest)
      .collect()
      .map(r => (r.getAs[String]("eType"), r.getAs[String]("regime")) -> r)
      .toMap
    val exp = expectedNel(refJson)
    assert(exp.nonEmpty, s"no expectations parsed from $refJson")
    exp.foreach { case (key @ (section, regime), want) =>
      want.foreach { case (metric, v) =>
        val have = got.get(key).map(_.getAs[Long](colOf(metric)))
          .getOrElse(0L)
        assert(have == v,
          s"NEL $section/$regime/$metric: got $have expected $v ($refJson)")
      }
    }
  }

  test("NEL fixture nel-1: QID/NIL links, original segmentation") {
    assumeData(base)
    checkNel(s"$base/unittest-nel-1-true.tsv", s"$base/unittest-nel-1-pred.tsv",
      s"$base/unittest-nel-1-pred.tsv.ref_results.json",
      Seq(_.nelLit), None, nBest = 1)
  }

  test("NEL fixture nel-2: consecutive NIL concatenated (2020 original mode)") {
    assumeData(base)
    checkNel(s"$base/unittest-nel-2-true.tsv", s"$base/unittest-nel-2-pred.tsv",
      s"$base/unittest-nel-2-pred.tsv.concatNIL_ref_results.json",
      Seq(_.nelLit), None, nBest = 1)
  }

  test("NEL fixture nel-2: consecutive NIL separated by NER boundaries (2022 mode)") {
    assumeData(base)
    checkNel(s"$base/unittest-nel-2-true.tsv", s"$base/unittest-nel-2-pred.tsv",
      s"$base/unittest-nel-2-pred.tsv.separatedNIL_ref_results.json",
      Seq(_.nelLit), Some(_.neCoarseLit), nBest = 1)
  }

  test("NEL bundle3: ranked |-list at n_best=3") {
    assumeData(base)
    checkNel(s"$base/unittest-true_bundle3_de_1.tsv",
      s"$base/unittest-pred_bundle3_de_1.tsv",
      s"$base/ref_results_nel_all.json",
      Seq(_.nelLit), None, nBest = 3)
  }

  test("NEL bundle3: LIT∪METO union columns at n_best=1 (same expected JSON)") {
    assumeData(base)
    checkNel(s"$base/unittest-true_bundle3_de_1.tsv",
      s"$base/unittest-pred_bundle3_de_1.tsv",
      s"$base/ref_results_nel_all.json",
      Seq(_.nelLit, _.nelMeto), None, nBest = 1)
  }

  /** Token table keyed by document OCCURRENCE (same trick as
    * `spansByOccurrence`: the committed corpora contain duplicated
    * document_ids which the scorer scores per file-position copy). */
  private def nelTokensByOccurrence(file: String) = {
    import spark.implicits._
    val c = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(file)), "UTF-8")
    val toks = c.split("(?m)(?=^# document_id)").toSeq.zipWithIndex
      .filter(_._1.contains("document_id"))
      .flatMap { case (block, i) =>
        ConllTsvReader.parse(block).map(t => t.copy(docId = s"$i:${t.docId}"))
      }
    spark.createDataset(toks)
  }

  /** Real 2024 test sets, NEL task, against the reference scorer's own
    * output (committed at src/test/resources/nel/, generated by
    * `tools/run_hipe_scorer.py` from the reference's committed gold +
    * model-prediction files) — both link-column segmentation (2020
    * original) and NER-boundary segmentation (2022) modes. */
  private def checkRealNel(lang: String, modelDir: String): Unit = {
    val predFile = s"$modelDir/newsagency-data-test-${lang}_pred.tsv"
    val goldFile =
      s"/root/reference/data/annotated_data/$lang/newsagency-data-test-$lang.tsv"
    assumeData(predFile, goldFile)
    val pred = nelTokensByOccurrence(predFile)
    val gold = nelTokensByOccurrence(goldFile)
    Seq(
      s"src/test/resources/nel/test-${lang}_nel_original.json" -> None,
      s"src/test/resources/nel/test-${lang}_nel_ner.json" ->
        Some((t: TsvToken) => t.neCoarseLit)
    ).foreach { case (refJson, nerCol) =>
      val got = graft.eval.NelEval.report(pred, gold, Seq(_.nelLit), nerCol, 1)
        .collect()
        .map(r => (r.getAs[String]("eType"), r.getAs[String]("regime")) -> r)
        .toMap
      val colOf = Map("TP" -> "tp", "FP" -> "fp", "FN" -> "fn")
        .withDefault(identity)
      val exp = expectedNel(refJson)
      assert(exp.nonEmpty)
      exp.foreach { case (key @ (section, regime), want) =>
        want.foreach { case (metric, v) =>
          val have = got.get(key).map(_.getAs[Long](colOf(metric)))
            .getOrElse(0L)
          assert(have == v,
            s"REAL-NEL $lang $section/$regime/$metric: got $have " +
              s"expected $v ($refJson)")
        }
      }
    }
  }

  test("REAL de test set: NEL parity with the reference scorer (both modes)") {
    checkRealNel("de", "/root/reference/data/results_2024/" +
      "model_dbmdz_bert_base_german_europeana_cased_max_sequence_length_128_epochs_3_run_de_2")
  }

  test("REAL fr test set: NEL parity with the reference scorer (both modes)") {
    checkRealNel("fr", "/root/reference/data/results_2024/" +
      "model_dbmdz_bert_base_french_europeana_cased_max_sequence_length_128_epochs_3_run_fr_2")
  }

  test("NEL fuzz: seeded randomized fixtures match the reference scorer (3 pairs × 3 modes)") {
    // committed differential fixtures (tools/gen_nel_fuzz.py: random docs
    // planting singleton links on O tokens, consecutive equal links,
    // mid-span link changes, pipe alternatives, '_' links inside spans,
    // NIL/QID confusions, boundary shifts; expectations generated by the
    // reference scorer itself via tools/run_hipe_scorer.py)
    val dir = "src/test/resources/nel/fuzz"
    assumeData(dir)
    (0 until 3).foreach { p =>
      Seq(
        (s"fuzz-$p-original_n1.json", None, 1),
        (s"fuzz-$p-original_n3.json", None, 3),
        (s"fuzz-$p-ner_n1.json", Some((t: TsvToken) => t.neCoarseLit), 1)
      ).foreach { case (json, nerCol, nBest) =>
        checkNel(s"$dir/fuzz-$p-true.tsv", s"$dir/fuzz-$p-pred.tsv",
          s"$dir/$json", Seq(_.nelLit), nerCol, nBest)
      }
    }
  }

  test("NEL sliced report: TIME predicates filter both link tables per slice") {
    import spark.implicits._
    // doc A (year 1900): exact QID match; doc B (year 1950): boundary-equal
    // wrong QID (scenario IV → fp+fn under strict)
    val pred = Seq(
      ("A", Seq("Q1"), 0, 2, 1900), ("B", Seq("Q42"), 0, 2, 1950))
      .toDF("url", "types", "l", "r", "year")
    val gold = Seq(
      ("A", "Q1", 0, 2, 1900), ("B", "Q7", 0, 2, 1950))
      .toDF("url", "entity", "l", "r", "year")
    val slices = graft.eval.SpanEval.timeSlices(col("year"),
      Seq((1880, 1920), (1930, 1960), (1700, 1799)))
    val rep = graft.eval.NelEval.reportSliced(pred, gold, slices)
      .where(col("eType") === "ALL" && col("regime") === "strict")
      .collect()
      .map(r => r.getAs[String]("slice") ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))))
      .toMap
    assert(rep("TIME-ALL") == ((1L, 1L, 1L)))
    assert(rep("TIME-1880-1920") == ((1L, 0L, 0L)))
    assert(rep("TIME-1930-1960") == ((0L, 1L, 1L)))
    // an empty slice still reports its zeroed ALL section (the scorer's
    // prebuilt metric schema always emits ALL)
    assert(rep("TIME-1700-1799") == ((0L, 0L, 0L)))
  }

  // ---- TIME/LED sliced evaluation: differential fuzz --------------------
  //
  // No sliced expectations exist anywhere in the reference repo, so the
  // --time_period/--noise_level regimes are validated purely
  // differentially: tools/gen_slice_fuzz.py plants period-boundary docs
  // (start inclusive, end exclusive), a pred doc whose DATE differs from
  // gold (filter must read the GOLD token), mixed-LED-within-entity
  // shapes (token deletion truncates/splits/merges spans), band-edge
  // LED0.10, un-annotated tokens (kept by every band) and adversarial
  // pred OCR-INFO — expectations come from the reference scorer itself.

  private def sliceFuzzSlices = {
    val time = SpanEval.timeSliceToks(Seq(("1900-01-01", "1930-01-01")))
    val noise = SpanEval.noiseSliceToks(Seq((0.0, 0.1), (0.1, 1.1))).drop(1)
    (time ++ noise, Map(
      "TIME-ALL" -> "all",
      "TIME-1900-01-01-1930-01-01" -> "time",
      "LED-0.0-0.1" -> "led_lo",
      "LED-0.1-1.1" -> "led_hi"))
  }

  private def checkSlicedReport(got: Map[(String, String, String), (Long, Long, Long)],
      sliceToTag: Map[String, String], dir: String, p: Int, mode: String): Unit = {
    sliceToTag.foreach { case (slice, tag) =>
      val exp = expectedNel(s"$dir/sf-$p-${mode}_$tag.json")
      exp.foreach { case ((section, regime), m) =>
        if (Seq("TP", "FP", "FN").forall(m.contains)) {
          val want = (m("TP"), m("FP"), m("FN"))
          val have = got.getOrElse((slice, section.toUpperCase, regime),
            if (want == ((0L, 0L, 0L))) (0L, 0L, 0L)
            else fail(s"sf-$p $mode $slice: no row for $section/$regime " +
              s"(expected $want)"))
          assert(have == want,
            s"sf-$p $mode $slice $section/$regime: got $have expected $want")
        }
      }
      // no EXTRA types either: every per-type row the engine emits must
      // be a section of the reference output (catches a missing tag gate
      // — e.g. scoring a pred-only or dash-bearing type the scorer drops)
      val sections = exp.keys.map(_._1.toUpperCase).toSet
      got.keys.filter(k => k._1 == slice && k._2 != "ALL").foreach { k =>
        assert(sections.contains(k._2),
          s"sf-$p $mode $slice: engine emitted type '${k._2}' absent from " +
            "the reference report")
      }
    }
  }

  test("slice fuzz: token-level TIME/LED NERC slicing matches the reference scorer") {
    val dir = "src/test/resources/nel/slicefuzz"
    assumeData(dir)
    val (slices, sliceToTag) = sliceFuzzSlices
    (0 until 3).foreach { p =>
      val pred = nelTokens(s"$dir/sf-$p-pred.tsv")
      val gold = nelTokens(s"$dir/sf-$p-true.tsv")
      val got = SpanEval.reportSlicedTokens(pred, gold, _.neCoarseLit, slices)
        .collect()
        .map(r => (r.getAs[String]("slice"), r.getAs[String]("eType").toUpperCase,
          r.getAs[String]("regime")) ->
          ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))))
        .toMap
      checkSlicedReport(got, sliceToTag, dir, p, "nerc")
    }
  }

  test("slice fuzz: token-level TIME/LED NEL slicing matches the reference scorer (both modes)") {
    val dir = "src/test/resources/nel/slicefuzz"
    assumeData(dir)
    val (slices, sliceToTag) = sliceFuzzSlices
    (0 until 3).foreach { p =>
      val pred = nelTokens(s"$dir/sf-$p-pred.tsv")
      val gold = nelTokens(s"$dir/sf-$p-true.tsv")
      Seq(
        ("nel_orig", None, 1),
        ("nel_ner", Some((t: TsvToken) => t.neCoarseLit), 1),
        ("nel_n3", None, 3) // ranked |-alternatives × slicing interaction
      ).foreach { case (mode, nerCol, nBest) =>
        val got = graft.eval.NelEval.reportSlicedFromTokens(
          pred, gold, Seq(_.nelLit), nerCol, nBest, slices)
          .collect()
          .map(r => (r.getAs[String]("slice"), r.getAs[String]("eType").toUpperCase,
            r.getAs[String]("regime")) ->
            ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"))))
          .toMap
        checkSlicedReport(got, sliceToTag, dir, p, mode)
      }
    }
  }

  /** ALL-section `*_macro_doc` (+_std) floats per regime from a scorer JSON. */
  private def expectedMacroDoc(file: String): Map[String, Seq[Double]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    val json = JsonMethods.parse(text).asInstanceOf[JObject]
    (for {
      (section, JObject(regimes)) <- json.obj if section == "ALL"
      (regime, counts: JObject) <- regimes
    } yield {
      def grab(k: String): Double = counts \ k match {
        case JDouble(v) => v
        case JInt(v) => v.toDouble
        case other => fail(s"$file ALL.$regime.$k: $other")
      }
      regime -> Seq("P_macro_doc", "R_macro_doc", "F1_macro_doc",
        "P_macro_doc_std", "R_macro_doc_std", "F1_macro_doc_std")
        .map(grab)
    }).toMap
  }

  private def assertMacroDoc(got: Map[String, Seq[Double]],
      refJson: String, label: String): Unit = {
    val exp = expectedMacroDoc(refJson)
    exp.foreach { case (regime, want) =>
      val have = got.getOrElse(regime, fail(s"$label: no $regime row"))
      have.zip(want).zipWithIndex.foreach { case ((h, w), i) =>
        assert(math.abs(h - w) < 1e-9,
          s"$label $regime metric #$i: got $h expected $w")
      }
    }
  }

  /** The scorer's gold-derived NERC tag gate, applied externally to span
    * tables (same idiom as checkRealTestSet — the engine's span-surface
    * report deliberately scores every type; the gate exists to compare
    * with scorer output). */
  private def gateSpans(df: org.apache.spark.sql.DataFrame, goldFile: String) = {
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(goldFile)), "UTF-8")
    val refTags = ConllTsvReader.parse(content)
      .map(_.neCoarseLit.split("\\|")(0).split("-").last)
      .filterNot(Set("_", "-", "O")).toSet
    val inTags = udf((e: String) => refTags.contains(e))
    df.where(inTags(col("entity")))
  }

  test("macro-doc differential: NERC doc-macro floats match the reference scorer (slice fuzz pairs)") {
    val dir = "src/test/resources/nel/slicefuzz"
    assumeData(dir)
    (0 until 3).foreach { p =>
      val pred = gateSpans(spansDf(s"$dir/sf-$p-pred.tsv", _.neCoarseLit),
        s"$dir/sf-$p-true.tsv")
      val gold = gateSpans(spansDf(s"$dir/sf-$p-true.tsv", _.neCoarseLit),
        s"$dir/sf-$p-true.tsv")
      val got = SpanEval.macroDocScores(pred, gold).collect()
        .map(r => r.getAs[String]("regime") ->
          Seq("p_macro_doc", "r_macro_doc", "f1_macro_doc",
            "p_macro_doc_std", "r_macro_doc_std", "f1_macro_doc_std")
            .map(r.getAs[Double](_)))
        .toMap
      assertMacroDoc(got, s"$dir/sf-$p-nerc_all.json", s"sf-$p nerc")
    }
  }

  test("macro-doc differential: NEL doc-macro floats match the reference scorer (NEL fuzz pairs)") {
    val dir = "src/test/resources/nel/fuzz"
    assumeData(dir)
    (0 until 3).foreach { p =>
      val pred = nelTokens(s"$dir/fuzz-$p-pred.tsv")
      val gold = nelTokens(s"$dir/fuzz-$p-true.tsv")
      Seq(
        (s"fuzz-$p-original_n1.json", None, 1),
        (s"fuzz-$p-original_n3.json", None, 3),
        (s"fuzz-$p-ner_n1.json", Some((t: TsvToken) => t.neCoarseLit), 1)
      ).foreach { case (json, nerCol, nBest) =>
        val got = graft.eval.NelEval
          .macroDocScores(pred, gold, Seq(_.nelLit), nerCol, nBest)
          .collect()
          .map(r => r.getAs[String]("regime") ->
            Seq("p_macro_doc", "r_macro_doc", "f1_macro_doc",
              "p_macro_doc_std", "r_macro_doc_std", "f1_macro_doc_std")
              .map(r.getAs[Double](_)))
          .toMap
        assertMacroDoc(got, s"$dir/$json", s"fuzz-$p $json")
      }
    }
  }

  test("float differential: micro and macro-over-types scores match the reference scorer") {
    // seals the metric ARITHMETIC (reward/actual/possible, macro = mean of
    // per-type micro — the scorer's F1_macro, not its 'recomputed' variant)
    // on top of the integer TP/FP/FN parity the other tests lock
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def expFloats(file: String): Map[String, Map[String, Double]] = {
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
      (for {
        (section, JObject(regimes)) <- JsonMethods.parse(text).asInstanceOf[JObject].obj
        if section == "ALL"
        (regime, counts: JObject) <- regimes
      } yield regime -> Seq("P_micro", "R_micro", "F1_micro",
        "P_macro", "R_macro", "F1_macro").map { k =>
        k -> (counts \ k match {
          case JDouble(v) => v
          case JInt(v) => v.toDouble
          case other => fail(s"$file ALL.$regime.$k: $other")
        })
      }.toMap).toMap
    }
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val nelDir = "src/test/resources/nel/fuzz"
    val sliceDir = "src/test/resources/nel/slicefuzz"
    assumeData(nelDir, sliceDir)
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      (0 until 3).map { p =>
        (s"$sliceDir/sf-$p-nerc_all.json", () => SpanEval.report(
          gateSpans(spansDf(s"$sliceDir/sf-$p-pred.tsv", _.neCoarseLit),
            s"$sliceDir/sf-$p-true.tsv"),
          gateSpans(spansDf(s"$sliceDir/sf-$p-true.tsv", _.neCoarseLit),
            s"$sliceDir/sf-$p-true.tsv")))
      } ++ (0 until 3).map { p =>
        (s"$nelDir/fuzz-$p-original_n1.json", () => graft.eval.NelEval.report(
          nelTokens(s"$nelDir/fuzz-$p-pred.tsv"),
          nelTokens(s"$nelDir/fuzz-$p-true.tsv")))
      }
    cases.foreach { case (json, mk) =>
      val got = mk().where(col("eType") === "ALL").collect()
        .map(r => r.getAs[String]("regime") -> r).toMap
      expFloats(json).foreach { case (regime, metrics) =>
        val row = got.getOrElse(regime, fail(s"$json: no ALL/$regime row"))
        metrics.foreach { case (k, want) =>
          val have = row.getAs[Double](k.toLowerCase)
          assert(close(have, want), s"$json ALL/$regime/$k: got $have expected $want")
        }
      }
    }
  }

  test("token-sliced ALL slice ≡ gated span-table report (surface consistency law)") {
    // the two NERC surfaces must agree when no slicing happens: the
    // token path's TIME-ALL equals SpanEval.report over collected spans
    // with the external gold-tag gate — locks them against silent drift
    val dir = "src/test/resources/nel/slicefuzz"
    assumeData(dir)
    (0 until 3).foreach { p =>
      val predT = nelTokens(s"$dir/sf-$p-pred.tsv")
      val goldT = nelTokens(s"$dir/sf-$p-true.tsv")
      val sliced = SpanEval.reportSlicedTokens(predT, goldT, _.neCoarseLit,
        Seq(("ALL", _ => true)))
        .where(col("slice") === "ALL")
        .select("eType", "regime", "tp", "fp", "fn")
      val spanRep = SpanEval.report(
        gateSpans(spansDf(s"$dir/sf-$p-pred.tsv", _.neCoarseLit), s"$dir/sf-$p-true.tsv"),
        gateSpans(spansDf(s"$dir/sf-$p-true.tsv", _.neCoarseLit), s"$dir/sf-$p-true.tsv"))
        .select("eType", "regime", "tp", "fp", "fn")
      assert(sliced.exceptAll(spanRep).count() == 0 &&
        spanRep.exceptAll(sliced).count() == 0,
        s"sf-$p: token-sliced ALL diverges from the gated span report")
    }
  }

  test("duplicated document_ids fail loudly in the token-paired sliced scan") {
    import spark.implicits._
    // two copies of the same document_id: tokIdx restarts per copy, so
    // the paired scan must refuse rather than interleave silently
    val copy = ConllTsvReader.parse(
      "# document_id = dup1\n# date = 1900-01-01\n" +
        "w1\tB-org\tO\tB-org\tO\tO\tO\tQ1\t_\t_\t_\t_\t_\n")
    val doubled = spark.createDataset(copy ++ copy)
    val e = intercept[org.apache.spark.SparkException] {
      SpanEval.reportSlicedTokens(doubled, doubled, _.neCoarseLit,
        Seq(("ALL", _ => true))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicated tokIdx")),
      s"unexpected failure: ${messages(e).mkString(" | ")}")
  }

  test("macro-doc scores: per-document micro averaged with HIPE dismissal rules") {
    import spark.implicits._
    // doc A: 1 gold, 1 pred, exact match; doc B: 1 gold, 0 preds (enters R
    // mean only); doc C: 0 golds, 1 pred (enters P mean only)
    val gold = Seq(
      ("A", "LOC", 0, 5), ("B", "LOC", 0, 5)).toDF("url", "entity", "lOffset", "rOffset")
    val pred = Seq(
      ("A", "LOC", 0, 5), ("C", "LOC", 0, 5)).toDF("url", "entity", "lOffset", "rOffset")
    val m = SpanEval.macroDocScores(pred, gold).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // strict: P_macro_doc = mean(A: 1, C: 0) = 0.5; R = mean(A: 1, B: 0) =
    // 0.5; F1 = mean over docs with both (A only) = 1
    assert(m("strict") == ((0.5, 0.5, 1.0)))
    assert(m("ent_type") == ((0.5, 0.5, 1.0)))
  }

  test("NEL tag universe above the documented bound fails loudly, not OOM") {
    import spark.implicits._
    // an "open-domain" link table: more distinct QIDs than MaxTagUniverse.
    // The collect must refuse BEFORE pulling the universe to the driver —
    // the limit(max+1) plan bounds what the failure itself costs.
    val n = graft.eval.NelEval.MaxTagUniverse + 1
    val pred = spark.range(n.toLong)
      .select(org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("u"),
          (col("id") % 10).cast("string")).as("url"),
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("Q"),
            col("id").cast("string"))).as("types"),
        org.apache.spark.sql.functions.lit(0).as("l"),
        org.apache.spark.sql.functions.lit(5).as("r"))
    val gold = Seq(("u1", "Q1", 0, 5)).toDF("url", "entity", "l", "r")
    val e = intercept[IllegalArgumentException] {
      graft.eval.NelEval.reportFromLinkTables(pred, gold)
    }
    assert(e.getMessage.contains("tag universe exceeds"))
  }
}

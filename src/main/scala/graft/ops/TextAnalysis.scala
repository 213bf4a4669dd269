package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting. All pure Catalyst
  * column expressions (whole-stage codegen; no UDFs), so they fuse into
  * the scan projection — one pass over the text column.
  */
object TextAnalysis {

  /** Marker-word sets for the n-gram/stopword language heuristic. Order is
    * the deterministic tie-break priority. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "las", "es")
  )

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit(_)): _*)))

  /** Predicted language: argmax of marker counts with fixed priority order
    * on ties; "und" (undetermined) when no marker occurs. */
  def langId(text: Column): Column = {
    val toks = split(text, " ")
    val counts = LangMarkers.map { case (l, ms) => l -> markerCount(toks, ms) }
    val maxCount = counts.map(_._2).reduce((a, b) => greatest(a, b))
    // first matching language in declaration order wins ties
    counts.foldRight(lit("und")) { case ((l, c), elseCol) =>
      when(c === maxCount && maxCount > 0, lit(l)).otherwise(elseCol)
    }
  }

  /** Quality features per document (length/stopword-ratio heuristics used
    * by web-scale corpus filters). */
  def qualityFeatures(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ")
    val stop = LangMarkers.flatMap(_._2).distinct
    docs
      .withColumn("n_tokens", size(toks))
      .withColumn("n_chars_obs", length(t))
      .withColumn("mean_token_len",
        (length(t) - (size(toks) - 1)).cast("double") / size(toks))
      .withColumn("stopword_ratio",
        size(filter(toks, w => w.isin(stop.map(lit(_)): _*))).cast("double") /
          size(toks))
      .withColumn("distinct_token_ratio",
        size(array_distinct(toks)).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1] — length in range, some stopwords,
    * lexical diversity — in exact-integer micro-units, the oracle-hashable
    * form.
    *
    * The score `q = 0.4·inRange + min(2·stop/n, 0.3) + 0.3·distinct/n` has
    * the exact integer representation `10n·q = 4n·inRange +
    * min(20·stop, 3n) + 3·distinct`, so micro-units are one integral
    * division: `⌊q·10⁶⌋ = (10n·q · 100000) div n`. No double ever enters the
    * value, so the cross-engine hash compare is exact by construction
    * (doubles round differently at decimal ties between engines — the
    * round-1 q18 lesson).
    */
  def qualityMicros(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(t, " ")
    val stop = LangMarkers.flatMap(_._2).distinct
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("_n_stop",
        size(filter(toks, w => w.isin(stop.map(lit(_)): _*))).cast("long"))
      .withColumn("_n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("_q10n",
        when(col("n_tokens").between(10, 10000), col("n_tokens") * 4L)
          .otherwise(0L) +
          least(col("_n_stop") * 20L, col("n_tokens") * 3L) +
          col("_n_distinct") * 3L)
      .withColumn("quality_u", expr("(_q10n * CAST(100000 AS BIGINT)) div n_tokens"))
      .drop("_n_stop", "_n_distinct", "_q10n")
  }

  /** Per-doc fingerprint (min-md5 over char 5-grams). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextFunctions.fingerprint5(col("text")).as("fingerprint"))
}

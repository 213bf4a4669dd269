package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the fuzzy generalization of the
  * sample-exclusion anti-join (reference `sampling.ipynb` cell 46, which
  * excludes already-sampled ids exactly): a corpus document sharing at
  * least `minOverlap` distinct word n-grams with any document of a small
  * held-out "benchmark" table is flagged (report) or dropped (transform).
  *
  * Scale shape: the benchmark side is SMALL by definition (eval sets are
  * thousands of rows, the corpus is 10^12), so its exploded distinct
  * shingles are broadcast by default — the probe join is map-side, the
  * corpus is never shuffled (`broadcastBench = false` drops the hint for
  * oversized "benchmarks"; see [[Decontaminate.BroadcastShingleGuidance]]). The only shuffle is the per-(doc, bench) overlap count
  * over MATCHED shingle rows, which partially aggregates map-side and is
  * proportional to actual contamination, not corpus size. The final drop
  * is a left-anti join against the flagged id set (again small —
  * broadcastable).
  */
object Decontaminate {

  /** Guidance bound for `broadcastBench`: beyond ~1M exploded shingle
    * rows the forced broadcast materializes tens-to-hundreds of MB in
    * the driver and every executor — disable the hint there and let AQE
    * pick the join strategy from runtime sizes instead.
    * [[broadcastBenchHint]] is the checked form of this guidance. */
  val BroadcastShingleGuidance: Long = 1000000L

  /** Checked broadcast decision: counts the benchmark's exploded distinct
    * shingles ONCE (one job over the bench table — small by definition;
    * deliberately not run inside the report builders, which stay pure
    * plan constructors) and refuses the broadcast hint above `bound`.
    * Callers who don't know their benchmark's size pass the result as
    * `broadcastBench` instead of guessing:
    * `contaminationReport(docs, bench, broadcastBench =
    * broadcastBenchHint(bench))`. */
  def broadcastBenchHint(
      bench: DataFrame,
      shingleN: Int = 3,
      bound: Long = BroadcastShingleGuidance
  ): Boolean = {
    val n = bench
      .select(explode(Dedup.distinctShingles(col("text"), shingleN)))
      .count()
    n <= bound
  }

  /** Distinct word shingles per row — the native one-pass expression
    * ([[Dedup.distinctShingles]]), codegen'd into the scan projection. */
  private def withShingles(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.select(col(idCol), Dedup.distinctShingles(col("text"), n).as("sh"))

  /** Contamination report: `(doc_id, bench_id, n_overlap, overlap_ratio)`
    * for every corpus×benchmark pair sharing ≥ `minOverlap` distinct
    * `shingleN`-gram shingles AND covering ≥ `minRatio` of the benchmark
    * row's shingle set (the containment form of Jaccard — the right
    * normalization when the benchmark excerpt is much shorter than the
    * document). `bench` must have columns `(bench_id, text)`. */
  def contaminationReport(
      docs: DataFrame,
      bench: DataFrame,
      shingleN: Int = 3,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true
  ): DataFrame =
    contaminationReportOnShingles(withShingles(docs, "doc_id", shingleN),
      bench, shingleN, minOverlap, minRatio, broadcastBench)

  /** As [[contaminationReport]], but over a PRE-COMPUTED `(doc_id, sh)`
    * distinct shingle-set table — the hook the composed cleaning pipeline
    * ([[CleaningPipeline]]) uses so its one staged shingle pass feeds
    * decontamination AND near-dup verification without re-reading corpus
    * text. `docShingleSets.sh` must be the distinct `shingleN`-gram set
    * ([[Dedup.distinctShingles]]); a different shingle width than the
    * bench side would silently miss overlaps. */
  def contaminationReportOnShingles(
      docShingleSets: DataFrame,
      bench: DataFrame,
      shingleN: Int = 3,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true
  ): DataFrame = {
    // the doc side may arrive in the at-rest HASHED representation
    // ([[Dedup.hashShingles]] — the cleaning chain's staged frame); the
    // bench side is computed here from text, so hash it to match. Hashing
    // preserves per-set distinctness (see hashShingles' collision bound),
    // so the overlap counts and containment ratios are unchanged.
    val docsHashed = docShingleSets.schema("sh").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    val benchSets0 = withShingles(bench, "bench_id", shingleN)
    val benchSets =
      if (docsHashed)
        benchSets0.withColumn("sh", Dedup.hashShingles(col("sh")))
      else benchSets0
    val dsh = docShingleSets
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val bsh = benchSets
      .select(col("bench_id"), explode(col("sh")).as("shingle"))
    val benchSizes = benchSets
      .select(col("bench_id"), size(col("sh")).as("_bench_n"))
    // the broadcast is the caller's declaration that the benchmark side
    // is eval-set-sized (see BroadcastShingleGuidance) — this stays a
    // PURE plan builder (no jobs at construction), so the choice is a
    // parameter, not a measured collect; with it off the join shuffles
    // and AQE picks the strategy from runtime sizes — slower, never wrong
    def hint(df: DataFrame): DataFrame =
      if (broadcastBench) broadcast(df) else df
    // shingles are distinct per doc AND per bench row, so each matched
    // (doc_id, bench_id, shingle) row is unique — count(*) IS the overlap
    dsh.join(hint(bsh), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(hint(benchSizes), Seq("bench_id"))
      // threshold on the RAW ratio — rounding first would misclassify
      // values within 5e-7 of the cut; the rounded form is display-only
      .where(col("n_overlap") >= minOverlap &&
        col("n_overlap") / col("_bench_n") >= minRatio)
      .select(col("doc_id"), col("bench_id"), col("n_overlap"),
        round(col("n_overlap") / col("_bench_n"), 6).as("overlap_ratio"))
  }

  /** Decontaminate as a corpus TRANSFORM: the input rows minus every
    * document flagged against the benchmark. */
  def decontaminate(
      docs: DataFrame,
      bench: DataFrame,
      shingleN: Int = 3,
      minOverlap: Int = 5,
      minRatio: Double = 0.0,
      broadcastBench: Boolean = true
  ): DataFrame =
    // anti-join directly on the report's ids: left_anti ignores
    // duplicate right-side keys, so a distinct (one whole
    // exchange+aggregate) would be pure overhead on this path
    docs.join(
      contaminationReport(docs, bench, shingleN, minOverlap, minRatio,
        broadcastBench).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
}

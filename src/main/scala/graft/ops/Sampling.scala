package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators (SURVEY §2.9).
  *
  * Spark's `df.sample` is fraction-based and partition-dependent, so none
  * of the reference's seeded `df.sample(n, random_state)` calls can be
  * reproduced with it. The deterministic idiom used throughout:
  * order by a content hash (`md5` of the key, which any ANSI engine can
  * replicate) and take the first n — partition-count-invariant, and
  * exactly reproducible by the DuckDB oracle.
  */
object Sampling {

  /** Stable per-row sampling key: lowercase hex md5 of the stringified key
    * column (same bytes in Spark and DuckDB). */
  def hashKey(key: Column): Column = md5(key.cast("string").cast("binary"))

  /** P1: seeded uniform n-row sample. */
  def deterministicSample(df: DataFrame, key: Column, n: Int): DataFrame =
    df.orderBy(hashKey(key).asc).limit(n)

  /** P2/P5: per-stratum fixed-n sample via row_number over hash order. */
  def stratifiedFixedN(df: DataFrame, strata: Column, key: Column,
      nPerStratum: Int): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(strata).orderBy(hashKey(key).asc)))
      .where(col("_rn") <= nPerStratum)
      .drop("_rn")

  /** P4: stratified train/dev/test split by hash bucket (80/10/10 style).
    * Returns df with a `split` column; per-stratum proportions hold in
    * expectation and the assignment is content-stable. */
  def trainDevTestSplit(df: DataFrame, key: Column,
      trainPct: Int = 80, devPct: Int = 10): DataFrame =
    df.withColumn("_b", pmod(conv(substring(hashKey(key), 1, 6), 16, 10).cast("long"), lit(100)))
      .withColumn("split",
        when(col("_b") < trainPct, "train")
          .when(col("_b") < trainPct + devPct, "dev")
          .otherwise("test"))
      .drop("_b")

  /** P3: min-frequency top-up — ensure every stratum has at least `minN`
    * sampled rows by adding hash-ordered rows not already picked
    * (reference `conditional_sample` loop, `sampling.ipynb cells 46-50`,
    * expressed as one anti-join + window instead of a driver loop). */
  def minFrequencyTopUp(df: DataFrame, picked: DataFrame, strata: Column,
      key: Column, minN: Int): DataFrame = {
    val have = picked.groupBy(strata.as("_s")).agg(count(lit(1)).as("_have"))
    val candidates = df.join(picked.select(key.as("_k")),
        key === col("_k"), "left_anti")
      .join(have, strata === col("_s"), "left")
      .withColumn("_need", lit(minN) - coalesce(col("_have"), lit(0L)))
      .withColumn("_rn",
        row_number().over(Window.partitionBy(strata).orderBy(hashKey(key).asc)))
      .where(col("_rn") <= col("_need"))
      .drop("_s", "_k", "_have", "_need", "_rn")
    picked.unionByName(candidates)
  }

  /** P6: seeded random element from an array column. */
  def seededChoice(arr: Column, key: Column, seed: Int): Column =
    element_at(arr, (pmod(xxhash64(key, lit(seed)), size(arr).cast("long")) + 1).cast("int"))
}

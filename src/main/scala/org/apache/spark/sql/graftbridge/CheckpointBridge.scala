package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Unpersist the block-manager state behind a `localCheckpoint`ed
  * Dataset.
  *
  * `Dataset.unpersist` only drops the SQL columnar cache; the raw-row
  * blocks a local checkpoint persists live on the internal RDD wrapped
  * by the resulting `LogicalRDD` plan, which Spark does not expose —
  * they are freed only when the RDD is garbage-collected. Iterative
  * algorithms (the connected-components loop) that checkpoint per round
  * would otherwise accumulate every round's blocks for the whole run;
  * this shim lets the loop free round r-1's state as soon as round r is
  * materialized, making the live footprint O(1) rounds instead of O(R).
  *
  * Safety contract: after unpersist the checkpoint CANNOT be recomputed
  * (local checkpointing truncates lineage by design) — callers must only
  * free frames that no future action will read.
  */
object CheckpointBridge {
  def unpersistLocalCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }

  /** `localCheckpoint` WITHOUT the origin plan's statistics/constraints —
    * the fix for exponential driver-side stats arithmetic in iterated
    * checkpoint-join loops (the connected-components convergence tail).
    *
    * `Dataset.localCheckpoint` wraps the result in a [[LogicalRDD]] that
    * carries `originStats` — the PRE-checkpoint optimized plan's
    * `Statistics`, whose `sizeInBytes` the size-only estimator built by
    * MULTIPLYING child sizes through every join. A loop that joins round
    * r's checkpoint with itself and checkpoints again therefore SQUARES
    * the carried `sizeInBytes` every round: the BigInt's digit count
    * doubles per round (measured: 1.5e16 → 1e37 → 7e78 → 2.4e162 → ... on
    * the CC loop), and by round ~18 every stats visit — at checkpoint
    * creation and in each AQE re-optimization — does arithmetic on
    * million-digit integers. On the 20M-edge CC bench this burned 97 s of
    * the 121 s final round on the DRIVER (stack-sampled:
    * `SizeInBytesOnlyStatsPlanVisitor`, samples ×2.85/round ≈ the
    * Karatsuba cost of doubling digits), data-independently — the same
    * blow-up reproduces on 1k rows once enough rounds run (EvalGraphSpec's
    * `carriedSizeInBytes` regression spec, "CC loop checkpoints carry no
    * compounding size estimate").
    *
    * Rebuilding the wrapper without `originStats`/`originConstraints`
    * resets every round's leaf estimate to the conf default, so within-
    * round stats stay a handful of machine-word multiplies. The cost:
    * the checkpointed frame reports `defaultSizeInBytes` (= never
    * auto-broadcast, which iterative loop state should not be anyway) and
    * contributes no inferred-filter constraints; partitioning, ordering,
    * and the checkpointed blocks are preserved exactly. Use for loop
    * state that feeds the NEXT iteration's plan; one-shot checkpoints can
    * keep the richer default wrapper. */
  def localCheckpointLeanStats(df: Dataset[_],
      storageLevel: StorageLevel): DataFrame = {
    val pre = df.toDF()
    val ckpt = pre.localCheckpoint(eager = false, storageLevel)
    ckpt.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = ckpt.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val (part, ord) = recoveredLayout(pre, lr)
        val lean = LogicalRDD(lr.output, lr.rdd, part, ord,
          lr.isStreaming, lr.stream)(session, None, None)
        org.apache.spark.sql.classic.Dataset.ofRows(session, lean)
      case _ => ckpt
    }
  }

  /** The checkpointed data's physical layout (partitioning + intra-
    * partition ordering), recovered from the FINAL adaptive plan.
    *
    * Under AQE, `Dataset.localCheckpoint` captures the layout from
    * [[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]],
    * which never overrides `outputPartitioning`/`outputOrdering` — the
    * `LeafExecNode` defaults are `UnknownPartitioning`/`Nil` — so every
    * checkpoint taken with AQE on silently loses its layout and every
    * downstream join/sort against it re-exchanges and re-sorts data that
    * is already placed. The checkpoint call just materialized the
    * adaptive plan's stages, so the final physical plan is sitting on the
    * origin Dataset's QueryExecution; read the layout off it, exactly as
    * `LogicalRDD.fromDataset` does for the non-AQE path (including its
    * first-leaf normalization of join `PartitioningCollection`s, and its
    * assumption that the physical output exprIds match the logical
    * output's — an exprId mismatch only yields a partitioning no
    * requirement matches, i.e. a missed elision, never a wrong plan).
    * The partition-count guard keeps the declaration honest: if the
    * declared partitioning doesn't match the checkpointed RDD's actual
    * partition count, fall back to what the default capture said. */
  private def recoveredLayout(pre: DataFrame, lr: LogicalRDD)
      : (org.apache.spark.sql.catalyst.plans.physical.Partitioning,
         Seq[org.apache.spark.sql.catalyst.expressions.SortOrder]) = {
    import org.apache.spark.sql.catalyst.plans.physical.{
      Partitioning, PartitioningCollection}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val finalPhys = pre.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    @annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case o => o
    }
    val part = firstLeaf(finalPhys.outputPartitioning) match {
      case p if p.numPartitions == lr.rdd.getNumPartitions => p
      case _ => lr.outputPartitioning
    }
    val ord =
      if (finalPhys.outputOrdering.nonEmpty) finalPhys.outputOrdering
      else lr.outputOrdering
    (part, ord)
  }

  /** The origin `sizeInBytes` a checkpointed Dataset's wrapper carries
    * (None when lean / not a checkpoint wrapper) — lets specs assert the
    * non-compounding property structurally instead of by timing. */
  def carriedSizeInBytes(df: Dataset[_]): Option[BigInt] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.computeStats().sizeInBytes)
      case _ => None
    }
}

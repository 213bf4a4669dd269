package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Catalyst-only connected components (SURVEY L5, §4.2 item 4).
  *
  * Iterative minimum-label propagation with pointer doubling, expressed
  * purely with DataFrame ops (no RDDs, no GraphX): every node starts
  * labeled with itself; each round every node takes the min of its own
  * label and its neighbors' labels, then compresses one pointer-chain hop
  * (`component := label(component)`), so convergence is O(log diameter)
  * rounds — star-shaped alias graphs finish in 2-3, long bipartite
  * co-citation chains in ~log₂(d).
  *
  * Scale notes:
  *  - the per-round aggregate is `min(label)` per node — partially
  *    aggregable, so Reuters-scale hub nodes (millions of incident edges)
  *    combine map-side before the shuffle; skew does not concentrate;
  *  - each round runs ONE Spark job (the convergence count; the round-1
  *    loop ran three: propagation checkpoint, shortcut checkpoint, and a
  *    convergence join), and lineage is cut each round via a lazy
  *    `localCheckpoint` (unbounded plan growth is the classic failure of
  *    DataFrame loops — doubly so here, where the shortcut self-join
  *    would double the plan every round). Checkpointed state is FREED
  *    one round behind the loop (Spark itself never unpersists
  *    checkpoint blocks before GC), so the live block-manager footprint
  *    is one round's frame — not rounds × frame — and the terminal
  *    compaction drops the convergence column, leaving only
  *    `(node, component)` behind at 10^9-node scale;
  *  - all loop state is checkpointed SERIALIZED and disk-spillable
  *    (`MEMORY_AND_DISK_SER`, not the deserialized `MEMORY_AND_DISK`
  *    default): UnsafeRow objects stored deserialized cost ~3× their
  *    payload in heap, and under a fixed executor heap the storage pool
  *    then starves the per-round join/aggregate execution memory —
  *    measured as a child-JVM heap OOM at 20M edges / 8 GB heap
  *    (BENCH.md round-7 CcBench), where the serialized form runs in the
  *    same heap. These blocks are read at most twice per round, so the
  *    decode cost is noise next to the round's shuffle;
  *  - loop checkpoints are LEAN (CheckpointBridge.localCheckpointLeanStats,
  *    no carried originStats/originConstraints): the default wrapper's
  *    join-multiplied `sizeInBytes` SQUARES per round through the
  *    self-join, and the resulting million-digit BigInt arithmetic in
  *    every driver stats visit grew ×2.85/round — 97 s of the 20M run's
  *    121 s final round, independent of data size (BENCH.md round 7);
  *  - the symmetrized edge table and the round-0 label table are freed
  *    when their last reader has run (loop end / round-1 count) — before
  *    round 7 they leaked in the block manager for the session lifetime,
  *    which a long-lived driver calling CC repeatedly (streaming
  *    compaction cadence, per-year metrics) cannot afford;
  *  - the edge table is materialized once (symmetric, deduped) and reused
  *    every round — and at data scale (auto-gated on its own materialized
  *    volume, [[symmetrized]]) it is checkpointed pre-partitioned on the
  *    join side `b` and pre-sorted within partitions, so the per-round
  *    propagation join reads it exchange-free and sort-free (the
  *    checkpoint wrapper preserves `outputPartitioning`/`outputOrdering`):
  *    the rounds × edge-table exchange+sort that dominated the loop's
  *    shuffle bytes is paid ONCE at setup. Only the label side
  *    (node-count rows, 2 longs) moves per round. Small analytic graphs
  *    skip the relayout and keep AQE's coalesced 1-task round stages.
  *
  * Input: edges with two long columns `src`, `dst`. Output: (`node`,
  * `component`) with `component` = min node id of the component.
  */
object ConnectedComponents {

  def run(edges: DataFrame, maxIter: Int = 30): DataFrame =
    runCounted(edges, maxIter)._1

  /** CC over STRING node names through a dense-id dictionary — the
    * collision-free replacement for hashing names to 64-bit keys (at the
    * north rule's 10^12-doc scale distinct surfaces reach 10^9-10^10,
    * where 64-bit collisions are EXPECTED — birthday bound ~4×10^9 — and
    * silently merge components). `monotonically_increasing_id` is unique
    * by construction (partition id ⊕ per-partition counter) and the eager
    * localCheckpoint freezes the assignment so both edge-mapping joins and
    * the final name join read the same ids.
    *
    * Input: edges with string columns `src`, `dst` (namespace-prefix the
    * two sides of a bipartite graph before calling). Output:
    * `(name, component)` — component ids are dictionary-internal longs;
    * downstream must use label-invariant views (sizes, memberships),
    * never the raw label.
    */
  def runOnNames(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // EAGER checkpoint, deliberately: monotonically_increasing_id is
    // nondeterministic under recompute (post-shuffle row order varies), so
    // the id assignment must be frozen in its own job BEFORE any consumer
    // runs — a lazy checkpoint materializing mid-job could, after a
    // fetch-failure retry, hand the same name different ids in the src-
    // vs dst-join branches and silently corrupt components. The lazy
    // optimization is safe only for deterministic-content tables.
    val nodes = edges.select(col("src").as("name"))
      .unionAll(edges.select(col("dst").as("name")))
      .distinct()
      .withColumn("id", monotonically_increasing_id())
      .localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)
    val e = edges
      .join(nodes.select(col("name").as("src"), col("id").as("_srcId")), "src")
      .join(nodes.select(col("name").as("dst"), col("id").as("_dstId")), "dst")
      .select(col("_srcId").as("src"), col("_dstId").as("dst"))
    run(e, maxIter)
      .join(nodes.select(col("id").as("node"), col("name")), "node")
      .select(col("name"), col("component"))
  }

  /** Maximum post-AQE partition count of the symmetrized table at which
    * [[runCounted]] solves the components in ONE single-task union-find
    * job instead of the iterative loop. The same free data-volume signal
    * as [[RelayoutMinPartitions]] (AQE coalesces the dedup exchange
    * toward its ~64 MB advisory size, so ≤1 materialized partition ≈
    * ≤64 MB of compressed edge pairs ≈ ≤4M sym rows): below it the loop's
    * cost is ~rounds × fixed per-job latency — every round schedules a
    * whole job to move a few thousand rows — while a path-halving
    * union-find over one partition's rows finishes in milliseconds of
    * executor CPU. Above it the iterative loop (pointer doubling,
    * exchange-free edge side) remains the only shape that scales. Guide
    * §1.2: choose the distributed algorithm by data volume, not a
    * constant — the gate derives from measured bytes, never core count. */
  private[graft] val SmallSolveMaxPartitions = 1

  /** Minimum post-AQE partition count of the raw symmetrized table at
    * which [[symmetrized]] re-lays it out for the propagation join. AQE
    * coalesces the dedup exchange toward its ~64 MB advisory size, so the
    * materialized partition count IS a free data-volume signal: ≥4
    * coalesced partitions ≈ ≥0.25 GB of compressed edge pairs ≈ ≥8M sym
    * rows — from there, ~log₂(diameter) rounds each exchanging+sorting
    * the table dwarf the relayout's one extra pass (20M edges: relayout
    * cut the 32-core loop 435→314 s). Below it, the relayout's fixed
    * partition count would instead DEFEAT AQE's coalescing — every
    * round's stages on a toy graph would run at
    * `spark.sql.shuffle.partitions` tasks where AQE ran ~1 — measured as
    * kg10/kg21 (many small per-year CC runs) doubling at sf0.1. */
  private[graft] val RelayoutMinPartitions = 4

  /** The partition-count-as-volume signal is only meaningful when AQE's
    * advisory-size coalescing actually ran (ADVICE r7): with
    * `spark.sql.adaptive.enabled` or `…coalescePartitions.enabled` off,
    * a toy graph's dedup exchange materializes at the full
    * `spark.sql.shuffle.partitions` — the relayout gate would always
    * fire (reintroducing the measured kg10/kg21 small-graph doubling)
    * and the small-solve gate would never. Both gates therefore require
    * the coalescing confs before trusting the count; without them the
    * loop runs in its ungated shape — correct, just unoptimized. */
  private def aqeCoalesceOn(df: DataFrame): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled
  }

  /** The loop's symmetrized, deduped edge table, checkpointed — and, at
    * data scale (auto-gated; see [[RelayoutMinPartitions]]), PHYSICALLY
    * LAID OUT for the per-round propagation join: hash-partitioned on the
    * join column `b` (explicit partition count, so AQE cannot coalesce it
    * away from what the captured partitioning advertises) and sorted
    * within partitions by `b`. The checkpoint captures the physical
    * plan's partitioning and ordering into the
    * `org.apache.spark.sql.execution.LogicalRDD` wrapper
    * (CheckpointBridge recovers them under AQE), so every round's
    * sort-merge join reads this side exchange-free AND sort-free: the
    * layout is paid once — one extra linear pass over the id-pair
    * blocks — instead of an edge-table exchange+sort in every one of
    * ~log₂(diameter) rounds. Only the label side (2 longs/node) moves
    * per round.
    *
    * `private[graft]` so EvalGraphSpec can assert the captured layout,
    * the exchange-free propagation join, and both sides of the gate
    * structurally. */
  private[graft] def symmetrized(edges: DataFrame,
      relayout: Option[Boolean] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    import CheckpointBridge.localCheckpointLeanStats
    val raw = localCheckpointLeanStats(edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
      .unionAll(
        edges.select(col("dst").cast("long").as("a"),
          col("src").cast("long").as("b")))
      .distinct(), StorageLevel.MEMORY_AND_DISK_SER)
    val doLayout = relayout.getOrElse(
      aqeCoalesceOn(edges) &&
        CheckpointBridge.checkpointNumPartitions(raw)
          .exists(_ >= RelayoutMinPartitions))
    if (!doLayout) raw
    else {
      val np = edges.sparkSession.sessionState.conf.numShufflePartitions
      val laid = localCheckpointLeanStats(raw
        .repartition(np, col("b"))
        .sortWithinPartitions(col("b")), StorageLevel.MEMORY_AND_DISK_SER)
      // materialize the laid-out copy now so the raw blocks (its only
      // input) can be freed immediately — the two copies coexist only
      // for this one pass
      laid.count()
      CheckpointBridge.unpersistLocalCheckpoint(raw)
      laid
    }
  }

  /** As [[run]], additionally returning the number of rounds executed —
    * per-call observability for capacity math (the loop's shuffle count is
    * rounds × per-round stages) that is safe under concurrent runs.
    *
    * @param smallSolve force (Some(true)) or suppress (Some(false)) the
    *                single-task union-find fast path; None (default)
    *                auto-gates on the symmetrized table's materialized
    *                partition count ([[SmallSolveMaxPartitions]]) — and
    *                only when `maxIter` is at least the default 30, so a
    *                caller asking for BOUNDED-round (possibly
    *                unconverged) labels always gets the loop. The fast
    *                path returns FULLY CONVERGED min labels and reports
    *                one round; they equal the loop's labels only when the
    *                loop converges within `maxIter`. Pointer doubling
    *                converges in O(log d) rounds where ids run monotone
    *                along paths, but where ids do not follow the graph's
    *                geometry propagation advances one edge-hop per round,
    *                so a long path can leave the loop unconverged at 30
    *                rounds while the fast path is converged (equality is
    *                spec-asserted on chain/star/planted shapes that
    *                converge).
    */
  def runCounted(edges: DataFrame, maxIter: Int = 30,
      smallSolve: Option[Boolean] = None)
      : (DataFrame, Int) = {
    // ALL loop checkpoints use the LEAN wrapper (no originStats/
    // originConstraints): the default wrapper carries the pre-checkpoint
    // plan's size estimate, which the size-only visitor MULTIPLIES
    // through joins — so a join-then-checkpoint loop SQUARES the carried
    // BigInt every round and the driver ends up doing million-digit
    // arithmetic in every stats visit. Measured on the 20M CcBench:
    // rounds 17-21 slowed 19→121 s with 97 s of the last round in
    // SizeInBytesOnlyStatsPlanVisitor on the DRIVER, data-independently
    // (the same blow-up reproduces on 1k rows; regression-specced
    // structurally by EvalGraphSpec's "CC loop checkpoints carry no
    // compounding size estimate" via carriedSizeInBytes).
    import org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointLeanStats
    val sym = symmetrized(edges)

    // small-graph fast path: one single-task union-find job over the
    // checkpointed sym rows replaces the whole round loop (the loop's
    // per-round fixed job latency dominates completely at this size —
    // measured r8: kg10/kg21/kg15/kg20/kg05 all spend most of their wall
    // in loop-round scheduling at sf0.1)
    val useSmall = smallSolve.getOrElse(
      maxIter >= 30 && aqeCoalesceOn(edges) &&
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .checkpointNumPartitions(sym)
          .exists(_ <= SmallSolveMaxPartitions))
    if (useSmall) {
      val spark = edges.sparkSession
      import spark.implicits._
      val solved = sym.select(col("a"), col("b")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions(it => LocalUnionFind.solve(it))
        .toDF("node", "component")
      val labels = localCheckpointLeanStats(solved,
        StorageLevel.MEMORY_AND_DISK_SER)
      labels.count()
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistLocalCheckpoint(sym)
      return (labels, 1)
    }

    // lazy like `sym`: round 1's convergence count materializes both in
    // its own job (persisted blocks cache on first compute, so the
    // self-join branches below still read ONE materialization) — eager
    // checkpoints here would spend two extra jobs for the same state
    var labels = localCheckpointLeanStats(sym.select(col("a").as("node"))
      .distinct()
      .withColumn("component", col("node")), StorageLevel.MEMORY_AND_DISK_SER)

    var iter = 0
    var converged = false
    // Durable-state discipline (round-4 verdict #8): each round lazily
    // localCheckpoints ONE wide (node, _old, component) frame — raw-row
    // blocks, materialized by the same count that answers "did anything
    // change" (a df.persist here would instead build Spark's COLUMNAR
    // cache each round: measured 1.8× slower on kg10). `_old` exists
    // only for that count, so the frame is freed explicitly one round
    // later via [[CheckpointBridge]] (Spark never unpersists checkpoint
    // blocks until GC): the live footprint is ONE round's frame, not
    // O(rounds), and the terminal compaction below leaves only the
    // 2-column result. The chain starts at the round-0 label table —
    // round 1's count is its last reader, so it is freed like any other
    // round's predecessor (it used to survive the whole session).
    var prevState: Option[DataFrame] = Some(labels)
    while (iter < maxIter && !converged) {
      // pointer doubling FIRST, against the checkpointed label table (both
      // branches of the self-join read materialized data, so no extra
      // materialization pass is needed): component := label(component)
      val compressed = labels
        .join(labels.select(col("node").as("component"),
          col("component").as("_cc2")), Seq("component"), "left")
        .select(col("node"), col("component").as("_old"),
          coalesce(col("_cc2"), col("component")).as("component"))
      // each node's best incoming proposal: min label among its neighbors
      val proposals = sym
        .join(compressed.select(col("node").as("b"), col("component")), "b")
        .groupBy(col("a").as("node"))
        .agg(min(col("component")).as("nbrMin"))
      // `_old` is the pre-round label, so `changed == 0` means
      // compression AND propagation are both at fixpoint
      val wide = localCheckpointLeanStats(compressed
        .join(proposals, Seq("node"), "left")
        .select(
          col("node"),
          col("_old"),
          least(col("component"), coalesce(col("nbrMin"), col("component")))
            .as("component")), StorageLevel.MEMORY_AND_DISK_SER)
      val changed = wide.where(col("component") =!= col("_old")).count()
      // the count just materialized THIS round from the previous round's
      // blocks — the previous frame has no future reader, free it now
      prevState.foreach(
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .unpersistLocalCheckpoint(_))
      prevState = Some(wide)
      labels = wide.select(col("node"), col("component"))
      converged = changed == 0
      iter += 1
    }
    // the loop has run its last propagation join — `sym` has no future
    // reader (the terminal compaction below reads only the last wide)
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .unpersistLocalCheckpoint(sym)
    // terminal compaction: persist the 2-column result in its own
    // checkpoint (one pass over the last wide's blocks), then free the
    // last state frame — callers see fully materialized (node,
    // component) state and the _old payload is gone from the block
    // manager entirely. (If the loop ran zero rounds — maxIter = 0 —
    // prevState is the round-0 table and the compaction still holds.)
    labels = localCheckpointLeanStats(labels,
      StorageLevel.MEMORY_AND_DISK_SER)
    labels.count()
    prevState.foreach(
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistLocalCheckpoint(_))
    (labels, iter)
  }
}

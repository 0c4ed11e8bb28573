package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversions (Spark 4 moved
  * them behind `org.apache.spark.sql.classic.ExpressionUtils`). Standard
  * practice for libraries that ship custom Catalyst expressions: one shim
  * object inside the sql package, nothing else reaches into internals. */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * `private[sql]`) — the entry point for library-defined operators. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's EFFECTIVE autoBroadcastJoinThreshold in bytes (<= 0 =
    * broadcast disabled). SQLConf is `private[sql]`; shape gates that
    * choose between a broadcast-shaped and a shuffle-shaped plan must
    * read the same number the planner will use, not a library constant
    * (r8 advice: a side sized between the two produced three shuffled
    * joins — the worst of both shapes). */
  def autoBroadcastJoinThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Blocks until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`), e.g. the
    * QueryExecutionListener callbacks of the actions that just ran. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Dev-only fence instrumentation hook (graft.Profile sets it; query
    * code never does): when non-null, every fence materialization
    * reports (Catalyst tracker phases, `toRdd` wall ms, materialization-
    * job wall ms). The `toRdd` ms is NOT planning time alone: under AQE
    * `toRdd` also runs every shuffle and broadcast query stage of the
    * fenced plan, each as its own job; Catalyst's own share is the
    * tracker phases. The fence hot path pays one volatile null check. */
  @volatile var fenceProbe: (String, Long, Long) => Unit = null

  /** The one fence materialization, reached only through [[graft.Fence]]
    * (FenceGateSpec greps main source for other callers). Plans the frame
    * (`toRdd` — under AQE this also runs the plan's shuffle and
    * broadcast query stages, one job each), persists it, and runs ONE
    * more job that streams every
    * partition into cache while computing the row count and the optional
    * fused term sums — see [[graft.Fence.counted]] for their contracts
    * (r17, verdict #2: per-partition runJob RESULTS are exactly-once
    * under task retry, unlike accumulator updates inside transformations,
    * the r16 rejection). Rows are COPIED before caching (toRdd reuses
    * unsafe-row buffers); the RDD is materialized eagerly so every
    * consumer reads the cache; the ContextCleaner drops the cached
    * blocks once the RDD is unreachable.
    *
    *  - `checkpoint = false` — the PIN: MEMORY_ONLY storage, without
    *    localCheckpoint's forced MEMORY_AND_DISK level whose eager disk
    *    write was measured swinging multi-consumer queries 0.8↔5.8 s
    *    run-to-run with box state (r9 verdict #1b). DETERMINISM
    *    ASSUMPTION (r10 advice): the pin does NOT truncate RDD lineage —
    *    an evicted (or released) partition recomputes from the upstream
    *    plan. Every fenced relation in this engine is a deterministic
    *    function of its parquet inputs (no RNG, no wall-clock,
    *    hash-partitioned exchanges), so a recompute reproduces the same
    *    rows; a nondeterministic upstream would silently diverge where
    *    localCheckpoint would fail instead — that is the one contract
    *    pin callers accept. Iterative loops run through
    *    [[graft.Fence.iterate]], which releases each superseded round
    *    frame so cache usage stays O(1) in the round count.
    *  - `checkpoint = true` — Dataset.localCheckpoint's recipe: local
    *    checkpoint storage, eager materialization truncating lineage. */
  def materialize(df: DataFrame, checkpoint: Boolean, adaptive: Boolean = false,
                  term: catalyst.InternalRow => Long = null,
                  termD: catalyst.InternalRow => Double = null): graft.Fenced = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val t0 = System.nanoTime()
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    if (checkpoint) rdd.localCheckpoint()
    else rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val t1 = System.nanoTime()
    val (n, s, sd) =
      if (term == null && termD == null) (rdd.count(), 0L, 0.0)
      else {
        val tL: catalyst.InternalRow => Long = if (term == null) _ => 0L else term
        val tD: catalyst.InternalRow => Double = if (termD == null) _ => 0.0 else termD
        val partials = spark.sparkContext.runJob(rdd,
          (it: Iterator[catalyst.InternalRow]) => {
            var n = 0L; var s = 0L; var d = 0.0
            while (it.hasNext) {
              val row = it.next(); s += tL(row); d += tD(row); n += 1
            }
            (n, s, d)
          })
        // the Double partials fold in PARTITION-INDEX order
        (partials.map(_._1).sum, partials.map(_._2).sum,
         partials.foldLeft(0.0)(_ + _._3))
      }
    val probe = fenceProbe
    if (probe != null) {
      val t2 = System.nanoTime()
      val phases = ds.queryExecution.tracker.phases
        .map { case (k, v) => s"$k=${v.durationMs}" }.mkString(",")
      probe(phases, (t1 - t0) / 1000000L, (t2 - t1) / 1000000L)
    }
    graft.Fenced(classic.Dataset.ofRows(spark, fenceLeaf(rdd, ds, n, adaptive)), n, s, sd)
  }

  /** The fence leaf over `rdd`, the materialized `n` rows of `ds`.
    *
    * SHAPE: `LogicalRDD.fromDataset` — the leaf construction
    * Dataset.checkpoint uses — carries the fenced plan's output
    * PARTITIONING and ordering through the fence (expr-ids rewritten onto
    * the new leaf), plus its constraints. A bare internalCreateDataFrame
    * defaults the leaf to UnknownPartitioning, which made every
    * downstream consumer of a hash-partitioned fenced relation re-shuffle
    * it (measured: the 4-consumer ppjoin shingle relation at sf0.1 ran
    * 3.0 s vs 1.7 s).
    *
    * STATISTICS are EXACT, never fromDataset's carried origin estimate:
    * rowCount = `n`, sizeInBytes = n × the estimator's own per-row width
    * ([[org.apache.spark.sql.catalyst.plans.logical.statsEstimation
    * .EstimationUtils.getSizePerRow]], so the number means what it means
    * everywhere else in Catalyst). The carried estimate multiplies
    * through every join: a recursively accumulated cut pipeline (the
    * knnIngest shape) roughly SQUARED it per generation until one
    * InjectRuntimeFilter stats pass ground 33 minutes of driver CPU in
    * BigInteger multiplies at plan time (r15), and for a loop's small
    * evolving round frame it was so large the planner could never pick a
    * broadcast join statically — AQE shuffled first and demoted at
    * runtime, every round (r17, verdict #2).
    *
    * SIZE-ADAPTIVE partitioning (`adaptive`, r17 verdict #3): a BFS delta
    * fence inherits the session's shuffle parallelism, so a k-level lazy
    * union scans k × parallelism near-empty partitions per round — the
    * r16 "delta-only measured SLOWER" failure mode. A frame of at most
    * 4 MB (≤ one shuffle partition's worth) becomes a narrow coalesce
    * VIEW over the cached partitions (local concatenation, no shuffle, no
    * recompute); its partitioning/ordering claims are dropped (a
    * concatenation has neither), and the release helpers look THROUGH
    * the one-level coalesce to the persisted parent. Anything larger
    * keeps its native partition count — an 8 MB BFS pair-level coalesced
    * to 2 partitions lost the anti-join's sort parallelism and measured
    * ~+1 s on q_graph_diameter (r17 A/B). */
  private def fenceLeaf(rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                        ds: classic.Dataset[_], n: Long,
                        adaptive: Boolean): execution.LogicalRDD = {
    val lr = execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val bytes = catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(lr.output) * n
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = bytes.max(1), rowCount = Some(BigInt(n)))
    val (leafRdd, partitioning, ordering) =
      if (adaptive && bytes <= (4L << 20) && rdd.getNumPartitions > 1)
        (rdd.coalesce(1), catalyst.plans.physical.UnknownPartitioning(1), Nil)
      else (rdd, lr.outputPartitioning, lr.outputOrdering)
    new execution.LogicalRDD(lr.output, leafRdd, partitioning, ordering,
      lr.isStreaming, lr.stream)(ds.sparkSession, Some(stats), Some(lr.constraints))
  }

  /** The RDD whose blocks BACK a fence leaf: the leaf's own rdd, or —
    * for a size-adaptive leaf (see [[fenceLeaf]]) — its one-level
    * narrow parent (the coalesce view is never persisted; the cached
    * partitions live on the parent). ONE level only: walking deeper
    * would cross into upstream lineage and could match an unrelated
    * pin shared with live siblings. */
  private def storageRdd(rdd: org.apache.spark.rdd.RDD[_]): org.apache.spark.rdd.RDD[_] =
    if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) rdd
    else rdd.dependencies match {
      case Seq(d) if d.rdd.getStorageLevel !=
          org.apache.spark.storage.StorageLevel.NONE => d.rdd
      case _ => rdd
    }

  /** Drop the MEMORY_ONLY blocks behind a pinned ([[graft.Fence.apply]])
    * frame (the iterative-loop release half of the pin contract — see
    * the determinism note on [[materialize]]). Walks the frame's analyzed
    * plan for `LogicalRDD` leaves and unpersists their RDDs
    * non-blockingly; a frame with no pinned leaf (never fenced, or a
    * [[graft.Fence.cut]] leaf whose blocks ARE the data) is a no-op, so
    * callers can release unconditionally. The match is EXACTLY
    * MEMORY_ONLY — the level the pin sets and localCheckpoint never does
    * (it forces MEMORY_AND_DISK) — so a checkpoint-backed leaf, whose
    * blocks are unrecoverable once dropped, can never be released by
    * mistake.
    *
    * Pass the fenced frame ITSELF, not a frame DERIVED from it: this
    * walks the whole plan, so releasing a derived frame would drop
    * every pinned leaf under it — including pins that sibling
    * consumers still read. That is correct-but-slow (they recompute
    * through lineage) but silently defeats the fence for those
    * consumers. Note also that a post-release recompute can reorder
    * rows WITHIN a shuffle partition (task-level nondeterminism the
    * pin had frozen), so the determinism assumption extends only to
    * order-insensitive consumers — every aggregation/join in this
    * engine, but not e.g. a zipWithIndex over the raw pin. */
  def releasePin(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD
          if storageRdd(lr.rdd).getStorageLevel == org.apache.spark.storage.StorageLevel.MEMORY_ONLY =>
        storageRdd(lr.rdd).unpersist(blocking = false)
      case _ => ()
    }

  /** GUARDED destructive release (r15 advice): the releaseCut contract —
    * "pass the fence leaf itself, never a derived frame" — was enforced
    * only by call-site convention, and one future misuse is an
    * unrecoverable runtime failure far from the cause (the walk drops
    * EVERY fenced leaf under a derived plan, including blocks shared
    * with live siblings, which then FAIL — not recompute — on next
    * read, because a cut leaf's lineage is truncated). Enforce it here:
    *  - analyzed plan IS a single LogicalRDD leaf → release its blocks
    *    (both fence modes — pin MEMORY_ONLY and cut MEMORY_AND_DISK);
    *  - derived plan holding NO fenced leaf → no-op (keeps the
    *    "release unconditionally" convenience for never-fenced frames —
    *    loop variables whose first round never cut);
    *  - derived plan holding fenced leaves → throw LOUDLY at the
    *    misuse site instead of corrupting sibling readers. */
  def releaseCutGuarded(df: DataFrame): Unit = {
    import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK, MEMORY_ONLY}
    def fenced(lr: execution.LogicalRDD): Boolean = {
      val lv = storageRdd(lr.rdd).getStorageLevel
      lv == MEMORY_ONLY || lv == MEMORY_AND_DISK
    }
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        if (fenced(lr)) storageRdd(lr.rdd).unpersist(blocking = false)
      case derived =>
        val leaves = derived.collect { case lr: execution.LogicalRDD if fenced(lr) => lr }
        if (leaves.nonEmpty)
          throw new IllegalArgumentException(
            s"releaseCut: frame is DERIVED (analyzed root ${derived.nodeName}, not a " +
            s"single fence leaf) yet holds ${leaves.size} fenced leaf/leaves — releasing " +
            "would destroy blocks possibly shared with live siblings. Seal the survivor " +
            "with its own Fence.cut first, then release that (the own-cut-first discipline).")
    }
  }

  /** Register a function builder on a live session's registry (the registry
    * is `private[sql]`; SparkSessionExtensions covers only session build
    * time). */
  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
}

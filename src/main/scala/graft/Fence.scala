package graft

import org.apache.spark.sql.DataFrame

/** The engine's multi-consumer lineage fence (SURVEY §7: exchange reuse
  * dedupes shuffles, not per-row compute — a relation with 2+ consumers
  * must be materialized once or Catalyst replans its subtree per
  * consumer).
  *
  * Two implementations, selectable per session via `spark.graft.fence`:
  *  - `pin` (DEFAULT, r10): [[org.apache.spark.sql.GraftSqlShim
  *    .pinMemory]] — MEMORY_ONLY materialization + a LogicalRDD leaf.
  *    Chosen because localCheckpoint's forced MEMORY_AND_DISK level pays
  *    an eager local-disk write whose cost swings with box state (the r9
  *    driver bench recorded q_curate_dsir at 0.80 s and 5.84 s across
  *    runs of the same binary; ScaleProbe `fencevar` measures the 5-run
  *    spread of both modes — SCALE.md records the result).
  *  - `local`: plain `localCheckpoint()` — kept selectable so the A/B
  *    stays runnable forever.
  * Both truncate Catalyst lineage to a leaf, so iterative callers
  * (label propagation, k-means) keep O(1) plan depth per round either
  * way. */
object Fence {
  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.fence") match {
      case Some("local") => org.apache.spark.sql.GraftSqlShim.localCheckpointCapped(df)
      case _             => org.apache.spark.sql.GraftSqlShim.pinMemory(df)
    }

  /** RDD-lineage CUT: the engine's one spelling of a raw
    * `localCheckpoint` — for call sites that want checkpoint semantics
    * REGARDLESS of the fence mode: sealing the survivor of an
    * iterative loop before the superseded round pins are released
    * (qDedupClusters' A/B branch), one-time static pins whose blocks
    * must survive eviction pressure for a whole stream's lifetime
    * (Streams' cell maps), and probe-input pins whose timing isolation
    * must not vary with `spark.graft.fence` (ScaleProbe). FenceGateSpec
    * greps main source so the checkpoint machinery stays behind this
    * file + the shim (r10 verdict #2). Since r15 the implementation is
    * [[org.apache.spark.sql.GraftSqlShim.localCheckpointCapped]] —
    * Dataset.localCheckpoint's exact recipe with the leaf's carried
    * statistics CAPPED at Long.MaxValue: the raw carry let a
    * recursively-accumulated cut pipeline square its sizeInBytes per
    * generation until ONE Catalyst stats pass burned 33 min of driver
    * CPU in BigInteger multiplies (the r15 knnIngest probe finding). */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlShim.localCheckpointCapped(df)

  /** [[cut]] that also RETURNS the materialized frame's row count (r16
    * optimization, guide §1.2 — don't compute things twice): the fence's
    * eager materialization already counts the RDD; loops whose
    * convergence scalar is that count (BFS frontier sizes, trim
    * cascades, peel rounds) read it here instead of paying one extra
    * plan + job per round for a `count()` over the frame they just
    * materialized. */
  def cutCounted(df: DataFrame): (DataFrame, Long) =
    org.apache.spark.sql.GraftSqlShim.localCheckpointCappedCounted(df)

  /** [[apply]] (mode-dispatched fence) that also returns the row count —
    * the pin-mode counterpart of [[cutCounted]]. */
  def applyCounted(df: DataFrame): (DataFrame, Long) =
    df.sparkSession.conf.getOption("spark.graft.fence") match {
      case Some("local") =>
        org.apache.spark.sql.GraftSqlShim.localCheckpointCappedCounted(df)
      case _ => org.apache.spark.sql.GraftSqlShim.pinMemoryCounted(df)
    }

  /** [[applyCounted]] that ALSO folds a commutative Long term sum into
    * the fence's materialization job (r17, verdict #2 — per-round driver
    * cost): sum-convergence loops (connected components, the scc color
    * sweep, pageRankRefresh's L1 delta) paid one extra Catalyst plan +
    * 2-stage aggregate job per round for a scalar that is a plain Long
    * sum over the rows the fence was already streaming into cache. The
    * per-partition sums come back as runJob RESULTS (exactly-once under
    * task retry — one successful result per partition — unlike
    * accumulator updates inside transformations, the r16 rejection), and
    * Long addition is associative/commutative with identical wrap-on-
    * overflow, so Σ term(row) is bit-equal to the SQL `sum(...)` it
    * replaces. `term` reads the materialized frame's InternalRow by
    * ORDINAL — the caller owns the column layout of the frame it fences.
    * Returns (fenced frame, row count, Σ term). */
  def applyCountedSum(df: DataFrame,
                      term: org.apache.spark.sql.catalyst.InternalRow => Long):
      (DataFrame, Long, Long) =
    df.sparkSession.conf.getOption("spark.graft.fence") match {
      case Some("local") =>
        org.apache.spark.sql.GraftSqlShim.localCheckpointCappedCountedSum(df, term)
      case _ => org.apache.spark.sql.GraftSqlShim.pinMemoryCountedSum(df, term)
    }

  /** [[cutCounted]] with a SIZE-ADAPTIVE leaf (r17, verdict #3) — for
    * the per-round DELTA cuts of the BFS family (harmonic, diameter,
    * scc extract, bowtie closures, betweenness layers): a delta leaf at
    * the session's shuffle parallelism makes a k-level lazy union scan
    * k × parallelism near-empty partitions per round (the r16 "delta-
    * only measured SLOWER" failure mode); a delta whose estimated size
    * (row count × estimated row width) is at most 4 MB now coalesces to
    * ONE partition (a narrow view over the cached blocks — no shuffle,
    * no recompute), while any larger delta keeps its native partition
    * count, so the form stays correct at webgraph scale. */
  def cutDeltaCounted(df: DataFrame): (DataFrame, Long) =
    org.apache.spark.sql.GraftSqlShim.localCheckpointCappedCountedAdaptive(df)

  /** [[cutCounted]] with the fused term sum — see [[applyCountedSum]]. */
  def cutCountedSum(df: DataFrame,
                    term: org.apache.spark.sql.catalyst.InternalRow => Long):
      (DataFrame, Long, Long) =
    org.apache.spark.sql.GraftSqlShim.localCheckpointCappedCountedSum(df, term)

  /** [[cutCounted]] with a fused DOUBLE term sum — for bound-checked
    * estimator scalars only (the HyperBall Σest rides the round cut's
    * materialization job instead of a separate per-round plan + agg);
    * per-partition partials fold in partition-index order, so the value
    * is deterministic for a deterministic plan but NOT bit-pinned to the
    * SQL sum's merge order — never use for hashed payload values. */
  def cutCountedSumD(df: DataFrame,
                     termD: org.apache.spark.sql.catalyst.InternalRow => Double):
      (DataFrame, Long, Double) =
    org.apache.spark.sql.GraftSqlShim.localCheckpointCappedCountedSumD(df, termD)

  /** Unpersist a [[apply]]-fenced frame's pinned blocks once it is
    * SUPERSEDED — the iterative-loop discipline (r10 advice): without
    * this, round r's pin keeps rounds 1..r-1's MEMORY_ONLY blocks
    * reachable and cache usage grows per round. Caller contract: pass
    * the fenced frame ITSELF (the exact frame [[apply]] returned —
    * see [[org.apache.spark.sql.GraftSqlShim.releasePin]]), release it
    * only after the superseding fence has materialized (apply is
    * eager) and it will not be read again; an eviction of the LIVE pin
    * then recomputes through the released round's plan — correct under
    * [[org.apache.spark.sql.GraftSqlShim.pinMemory]]'s documented
    * determinism assumption, just slower. Delegates unconditionally:
    * releasePin's exact-MEMORY_ONLY storage-level match already makes
    * it a no-op on a `local`-mode (localCheckpoint-backed,
    * MEMORY_AND_DISK) frame, and matching on the LEVEL rather than the
    * session conf stays correct when the conf is flipped between fence
    * time and release time (ScaleProbe's fencevar A/B does exactly
    * that). NOTE (r14 advice): on a [[cut]]-produced (localCheckpoint-
    * backed, MEMORY_AND_DISK) frame this is a deliberate NO-OP — those
    * blocks are the data, and dropping them by accident would be
    * unrecoverable. A deep loop whose round frames ride [[cut]] must
    * release superseded rounds with [[releaseCut]] or its checkpoint
    * blocks accumulate for the whole walk. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlShim.releasePin(df)

  /** Release a SUPERSEDED [[cut]] frame's checkpoint blocks — the
    * destructive counterpart of [[release]] for deep loops whose round
    * frames ride localCheckpoint (r14 advice: the no-op release calls in
    * graphSearch/graphSearchHier let up to 96 descent rounds of
    * superseded pools/frontiers pile up). STRICTER contract than
    * [[release]]: a cut frame's lineage is truncated, so after this call
    * the frame AND any frame lazily derived from it are unreadable —
    * call it only when (a) the superseding cut has materialized (cut is
    * eager) and (b) nothing derived from the released frame escapes the
    * loop (a survivor that must outlive the loop gets its own [[cut]]
    * first). Releases pin-mode blocks too, so loops stay correct when a
    * frame was fenced with [[apply]] instead of [[cut]].
    *
    * GUARDED (r15 advice): the frame must BE a fence leaf (its analyzed
    * plan a single LogicalRDD) or hold no fenced leaves at all (a
    * never-fenced loop variable — no-op). A DERIVED frame that still
    * holds fenced leaves throws at the call site instead of destroying
    * blocks shared with live siblings — the own-cut-first discipline,
    * enforced rather than conventional. */
  def releaseCut(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlShim.releaseCutGuarded(df)
}

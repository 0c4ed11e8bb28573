package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** A materialized fence: the leaf frame, its row count, and the fused
  * Long and Double term sums (0 when no term was given). */
final case class Fenced(df: DataFrame, rows: Long, sum: Long, sumD: Double)

/** The engine's multi-consumer lineage fence (SURVEY §7: exchange reuse
  * dedupes shuffles, not per-row compute — a relation with 2+ consumers
  * must be materialized once or Catalyst replans its subtree per
  * consumer).
  *
  * Every entry routes through the one materialization in
  * [[org.apache.spark.sql.GraftSqlShim.materialize]], and each entry has
  * one mode — no session switch selects between implementations:
  *  - [[apply]] — the PIN: MEMORY_ONLY materialization + a LogicalRDD
  *    leaf (r10; the localCheckpoint form's forced MEMORY_AND_DISK write
  *    swung multi-consumer queries 0.8↔5.8 s with box state, SCALE.md
  *    §Round-10). Truncates Catalyst lineage but not RDD lineage.
  *  - [[cut]] — a local checkpoint: truncates RDD lineage too, for deep
  *    loops (the FenceGateSpec deep-loop rule) and pins that must
  *    survive eviction for a stream's lifetime.
  *  - [[counted]] — either of the above, also returning what the
  *    materialization job already computed: the row count and optional
  *    fused term sums.
  * Both truncate Catalyst lineage to a leaf, so iterative callers
  * (label propagation, k-means) keep O(1) plan depth per round; they run
  * their rounds through [[iterate]], which owns the round fence, the
  * release of each superseded round frame and the stop test. */
object Fence {
  def apply(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlShim.materialize(df, checkpoint = false).df

  /** RDD-lineage CUT: the engine's one spelling of a raw
    * `localCheckpoint` — for sealing the survivor of an iterative loop
    * before the superseded round pins are released, deep loops whose
    * round count is a graph property, and one-time static pins whose
    * blocks must survive eviction pressure for a whole stream's
    * lifetime (Streams' cell maps). FenceGateSpec greps main source so
    * the checkpoint machinery stays behind this file + the shim (r10
    * verdict #2). The leaf's carried statistics are exact (see the
    * shim), never the origin plan's propagated estimate: the raw carry
    * let a recursively-accumulated cut pipeline square its sizeInBytes
    * per generation until ONE Catalyst stats pass burned 33 min of
    * driver CPU in BigInteger multiplies (the r15 knnIngest finding). */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlShim.materialize(df, checkpoint = true).df

  /** [[cut]] (`cut = true`) or [[apply]] that also returns what the
    * fence's one materialization job computed (guide §1.2 — don't
    * compute things twice):
    *  - `rows`: the row count — the convergence scalar of BFS frontiers,
    *    trim cascades and peel rounds, which otherwise pay one extra
    *    plan + job per round for a `count()`;
    *  - `sum`: Σ `sum(row)`, a commutative Long term over the
    *    materialized InternalRow read by ORDINAL (the caller owns the
    *    layout) — sum-convergence loops (components, scc colors, the
    *    pageRankRefresh L1 delta). Per-partition runJob RESULTS are
    *    exactly-once under task retry, and Long addition wraps exactly
    *    as SQL `sum` does, so the value is bit-equal to it;
    *  - `sumD`: Σ `sumD(row)` folded in PARTITION-INDEX order —
    *    deterministic for a deterministic plan but not bit-pinned to
    *    the SQL sum's merge order, so only for bound-checked estimator
    *    scalars (the HyperBall Σest), never hashed payload values.
    * `delta = true` makes the leaf SIZE-ADAPTIVE (r17) — for the
    * per-round delta cuts of the BFS family: a frame whose estimated
    * size (rows × estimated row width) is at most 4 MB coalesces to
    * ONE partition, so a k-level lazy union scans k small leaves, not
    * k × parallelism near-empty partitions; a larger frame keeps its
    * native partition count. */
  def counted(df: DataFrame, cut: Boolean, delta: Boolean = false,
              sum: InternalRow => Long = null,
              sumD: InternalRow => Double = null): Fenced =
    org.apache.spark.sql.GraftSqlShim.materialize(df, cut, delta, sum, sumD)

  /** The engine's one round loop for iterative operators. Round r
    * (1-based) fences `step(frame, r)` through [[counted]] (`cut`, `sum`,
    * `sumD` as there), then — the new fence having materialized —
    * releases the frame it superseded with [[releaseCut]], which drops
    * the blocks in both fence modes. `init` is never released, nor
    * anything else the loop did not fence itself: the caller owns it and
    * may still read it (a level cascade's entry frame, a shared seed).
    *
    * The loop stops after `maxRounds` rounds (0 runs none and returns
    * `init`) or as soon as `stop(prev, cur)` holds. `stop` runs once per
    * round, in order, after that round's fence; it reads scalars only —
    * `prev`'s frame may already be released — and is also where a
    * caller reads per-round scalars. Returns the last fence (`init`
    * after zero rounds) and the number of rounds run. The survivor is
    * the caller's to seal and release. */
  def iterate(init: Fenced, cut: Boolean, maxRounds: Int = Int.MaxValue,
              sum: InternalRow => Long = null, sumD: InternalRow => Double = null,
              stop: (Fenced, Fenced) => Boolean = (_, _) => false)(
      step: (DataFrame, Int) => DataFrame): (Fenced, Int) = {
    var cur = init
    var rounds = 0
    var done = maxRounds <= 0
    while (!done) {
      rounds += 1
      val prev = cur
      cur = counted(step(prev.df, rounds), cut, sum = sum, sumD = sumD)
      if (!(prev eq init)) releaseCut(prev.df)
      done = stop(prev, cur) || rounds >= maxRounds
    }
    (cur, rounds)
  }

  /** Unpersist an [[apply]]-fenced frame's pinned blocks once it is
    * SUPERSEDED (r10 advice): without this, round r's pin keeps rounds
    * 1..r-1's MEMORY_ONLY blocks reachable and cache usage grows per
    * round — [[iterate]] does it for every round frame it fences; call
    * this for the frames a caller fenced itself. Caller contract: pass
    * the fenced frame ITSELF (the exact frame [[apply]] returned —
    * see [[org.apache.spark.sql.GraftSqlShim.releasePin]]), release it
    * only after the superseding fence has materialized (apply is
    * eager) and it will not be read again; an eviction of the LIVE pin
    * then recomputes through the released round's plan — correct under
    * the pin's documented determinism assumption, just slower. On a
    * [[cut]]-produced (localCheckpoint-backed, MEMORY_AND_DISK) frame
    * this is a deliberate NO-OP (r14 advice) — those blocks are the
    * data, and dropping them by accident would be unrecoverable: a cut
    * frame is released with [[releaseCut]], as [[iterate]] does. */
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
    * first). Releases pin-mode blocks too, which is why [[iterate]]
    * releases every superseded round frame with it in either mode.
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

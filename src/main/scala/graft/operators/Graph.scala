package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Fenced, Tables}

/** Graph operators over edge lists — the link-analysis family a
  * crawl-scale training-data pipeline runs on its host/domain webgraph.
  *
  * Common Crawl publishes per-host and per-domain rank scores computed
  * over exactly this shape of data (the `cc-main-*-host` webgraph
  * releases), and quality-weighting documents by the rank of their host
  * is a standard pretraining-curation signal. The substrate here is an
  * edge list `(src, dst)` — the engine's job is the iterative linear
  * algebra, which on Spark is the Pregel shape: a static, pre-shuffled
  * edge relation joined each round against a narrow, evolving vertex
  * relation ([[qDedupClusters]] iterates the same way for connected
  * components).
  *
  * Engine-exactness: ranks are BIGINT fixed-point micro-units (1e12 =
  * total probability mass 1.0). Every per-round step is integer
  * arithmetic — contribution = `rank DIV out_degree`, damping =
  * `(85 * x) DIV 100` — so sums are partition-order-independent and
  * both engines compute bit-equal ranks, no FP anywhere (the
  * [[TextOps.qTextBm25]] scaled-integer convention).
  */
object Graph {

  /** DELTA-LEVEL accumulator for the frontier-BFS family (r17, verdict
    * #3 — completing the r16 negative result): each round cuts ONLY its
    * first-discovery delta (a `delta` [[graft.Fence.counted]] cut —
    * size-adaptive leaf, so a union of levels scans k small leaves, not
    * k × parallelism near-empty partitions), the frontier IS the newest
    * level leaf, and the visited check anti-joins the lazy union of
    * level leaves (set difference distributes over union). The
    * accumulated relation is therefore never rewritten per round — the
    * r16 tagged form re-materialized all O(|R|) discovered rows every
    * round, the dominant per-round cache traffic at webgraph scale.
    *
    * BOUNDED COMPACTION: plans referencing k leaves grow with k and
    * Catalyst pays per leaf per round (measured: unbounded levels cost
    * q_graph_diameter ~+1 s at sf0.1 in pure optimizer time), so at
    * `maxLive` live leaves the accumulator folds them into ONE compacted
    * cut — plan size stays O(maxLive) and the rewrite cost is amortized
    * to O(|R|·rounds/maxLive) instead of O(|R|·rounds). Compaction
    * releases the folded leaves immediately (nothing else may hold
    * them) EXCEPT the seed level, which the caller may share across
    * accumulators (bowtie seeds both closures with the core set);
    * [[close]] releases the live leaves, again sparing the seed. */
  private final class DeltaAcc(seed: DataFrame, maxLive: Int = 4,
                               sharedSeed: Boolean = false) {
    private val live = scala.collection.mutable.ArrayBuffer[DataFrame](seed)
    private def releasable(df: DataFrame): Boolean = !(sharedSeed && (df eq seed))
    /** newest delta leaf — the round's frontier */
    def frontier: DataFrame = live.last
    /** lazy union of the live leaves projected to `keys` — the
      * anti-join (visited) side */
    def seen(keys: String*): DataFrame =
      live.map(_.select(keys.map(col): _*)).reduce(_ unionByName _)
    /** lazy union of the full live leaves — the readout relation */
    def all: DataFrame = live.reduce(_ unionByName _)
    def add(delta: DataFrame): Unit = {
      // compact BEFORE appending: the newest delta must stay its own
      // leaf — it is the next round's frontier (folding it into the
      // compacted cut would make the loop re-expand the whole visited
      // set, correct but O(|R|) work per round).
      if (live.size >= maxLive) {
        val compacted = graft.Fence.counted(all, cut = true, delta = true).df
        live.filter(releasable).foreach(graft.Fence.releaseCut)
        live.clear()
        live += compacted
      }
      live += delta
    }
    /** release every live leaf (sparing a caller-owned shared seed) —
      * call after the consumer of [[all]] has materialized */
    def close(): Unit = live.filter(releasable).foreach(graft.Fence.releaseCut)
  }

  /** PageRank over an arbitrary directed edge list — the PUBLIC entry
    * ([[corpusDiff]] convention: the declared query below is a thin
    * fixture binding of this).
    *
    * Semantics (Page et al. 1999, with the standard dangling-node
    * mass redistribution): fixed `iters` power-iteration rounds of
    *   r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/deg(u) + D/N)
    * where D is the total rank mass sitting on dangling nodes
    * (out-degree 0) this round, and d = `dampNum`/100.
    *
    * All arithmetic is BIGINT fixed-point (`scale` = mass 1.0):
    * contributions are `rank DIV odeg` computed once per edge, the
    * damped update is `tp + (dampNum * (in + dmShare)) DIV 100` — every
    * division is a positive-integer floor both engines share, so the
    * result is deterministic and oracle-hashable. Truncation loses at
    * most a few units per node per round (spec-pinned mass bound).
    *
    * Plan shape, and why it holds at 100 TB:
    *  - the edge relation is joined with out-degrees ONCE and lineage-cut
    *    ([[graft.Fence.cut]]); each round re-reads that static frame —
    *    the per-round cost is one broadcast of the 1-row dangling-mass
    *    aggregate, one equi-join of edges against the narrow (node, rank)
    *    relation, and one `groupBy(dst).sum` shuffle. Nothing about the
    *    round grows with the round number: each round's vertex frame is
    *    lineage-cut, so plan depth stays O(1) (the [[qDedupClusters]]
    *    iteration discipline).
    *  - vertex state is 16 bytes/node. A host-level webgraph at crawl
    *    scale is ~1e8 nodes / ~1e10 edges — the rank relation is ~2 GB
    *    cluster-wide while the edge relation dominates and is only ever
    *    scanned, never mutated. Co-partitioning edges by `src` against
    *    ranks by `node` makes the contribution join shuffle-free
    *    ([[graft.plans.Layout.writeBucketed]]); the `dst` aggregation is
    *    the one unavoidable shuffle, map-side-combined by Catalyst.
    *  - dangling mass is a 1-row aggregate cross-joined in (broadcast),
    *    not a driver action — the loop runs zero actions per round.
    *
    * PERSONALIZED variant (`seeds` non-empty): the teleport distribution
    * concentrates on the seed set instead of uniform — r' =
    * (1−d)·p + d·(A·r + D·p) with p uniform over seeds — the
    * seed-and-expand curation move (start from a whitelist of known-good
    * hosts, rank the whole graph by proximity to it; Gleich 2015 §:
    * "seeded PageRank"). Same loop, same integer arithmetic; the seed
    * indicator rides the node relation as a 0/1 column, so uniform
    * PageRank is exactly the seeds = all-nodes special case.
    *
    * @param edges (src: long, dst: long[, w: long]); self-loops and
    *              duplicate edges are honored as given (dedupe upstream
    *              if undesired). The presence of a `w` column IS the
    *              weighting contract: it weights the rank distribution
    *              (contribution = rank·w DIV Σw, the product staged
    *              through DECIMAL(38,0) so arbitrary positive weights
    *              are exact — no magnitude contract); a frame carrying
    *              an unrelated `w` must drop it before the call, and a
    *              null or non-positive weight fails by name before the
    *              loop rather than silently dropping rank mass.
    * @param iters fixed round count (power iteration; convergence for
    *              d=0.85 is ~1e-1 per round — 5 rounds ranks hosts, 50
    *              rounds reproduces published scores to 6 figures).
    * @param seeds optional (node: long) teleport support; None = uniform.
    */
  def pageRank(edges: DataFrame, iters: Int, dampNum: Long = 85L,
               scale: Long = 1000000000000L,
               seeds: Option[DataFrame] = None): DataFrame = {
    // static frames, fenced once for the loop's lifetime and released
    // at the end (the qDedupClusters discipline)
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    // (nodes pin + bounded n scalar: the fence materialization's count)
    val Fenced(nodes, n, _, _) = graft.Fence.counted(seeds match {
      case None => allNodes.withColumn("s", lit(1L))
      case Some(sd) => allNodes.join(
          sd.select(col("node"), lit(1L).as("s")).distinct(),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))
    }, cut = false) // the fence materialization doubles as the bounded n scalar
    require(n > 0, "pageRank: empty graph")
    // teleport support size: |seeds ∩ graph| (== n when uniform)
    val nT = if (seeds.isEmpty) n
             else nodes.agg(sum(col("s"))).head().getLong(0)
    require(nT > 0, "pageRank: no seed is a graph node")
    // WEIGHTED form (r12 cont.): an edge relation carrying a `w` column
    // distributes each node's rank proportionally to integer edge
    // weights — contribution = (rank·w) DIV Σw — the host-graph reality
    // (links between hosts have multiplicity). Unweighted input is
    // EXACTLY the w=1 special case: (rank·1) DIV count ≡ rank DIV odeg,
    // bit-identical (GraphSpec pins the equivalence), so every existing
    // caller is untouched. The `w` column IS the select contract (r12
    // advice): a caller whose edge frame carries an unrelated `w` must
    // drop it; the VALIDATION below makes the two silent-corruption
    // modes loud — a null or non-positive weight no longer drops rank
    // mass through a NULL/negative contribution, it fails by name
    // before the loop (one bounded scan).
    val weighted = edges.columns.contains("w")
    val ew = if (weighted) edges else edges.withColumn("w", lit(1L))
    if (weighted) requireValidWeights(ew, "pageRank")
    val deg = ew.groupBy("src").agg(sum(col("w")).as("odeg"))
    val e = graft.Fence(ew.join(deg, "src")) // (src, dst, w, odeg)
    val pshare = scale / nT                     // teleport mass per seed
    val tp = ((100L - dampNum) * pshare) / 100L // per-seed teleport term
    // r16 optimization: the dangling indicator (receives links, emits
    // none) is STATIC, so it rides the rank frame as a 0/1 column — the
    // per-round dangling mass becomes a filter+aggregate over the fenced
    // leaf instead of a semi-join against a separate pinned node set
    // (one join and one pinned relation less per query; guide §2.4).
    val init = graft.Fence.counted(nodes
      .join(deg.select(col("src").as("node"), lit(1L).as("em")), Seq("node"), "left")
      .select(col("node"), col("s"),
              when(col("em").isNull, 1L).otherwise(0L).as("dgl"),
              (lit(pshare) * col("s")).as("rank")), cut = false)
    val (r, _) = graft.Fence.iterate(init, cut = false, maxRounds = iters) { (r, _) =>
      val dm1 = r.filter(col("dgl") === 1L)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      // rank·w staged through DECIMAL(38,0) (r12 verdict #2 / the HITS
      // treatment): as BIGINTs the product wraps past rank·w ≈ 9.2e18 —
      // a star topology concentrates rank ≈ n·10¹², so large weights hit
      // it; decimal keeps the per-edge product exact (quotient is back
      // under `rank` ≤ scale, so the BIGINT result never overflows).
      val in = e.join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("CAST((CAST(rank AS DECIMAL(38,0)) * w) DIV odeg AS BIGINT)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      // update joins the previous round frame (node set == nodes by
      // construction), so the static s/dgl columns ride it for free
      r.select(col("node"), col("s"), col("dgl"))
        .join(in.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dm1))
        .select(col("node"), col("s"), col("dgl"),
          (lit(tp) * col("s") +
            expr(s"($dampNum * (coalesce(m, 0L) + s * (dm DIV ${nT}L))) DIV 100"))
            .as("rank"))
    }
    val keep = graft.Fence.cut(r.df.select("node", "rank"))
    graft.Fence.release(r.df); graft.Fence.release(init.df)
    graft.Fence.release(e); graft.Fence.release(nodes)
    keep
  }

  /** Shared weighted-edge validation (pageRank + pageRankRefresh): a
    * NULL or non-positive `w` would silently drop rank mass through a
    * NULL/negative contribution — fail loudly by name before the loop
    * instead (one bounded min/null-count scan). */
  private def requireValidWeights(ew: DataFrame, op: String): Unit = {
    val wrow = ew.agg(min(col("w")).as("mn"),
                      coalesce(sum(when(col("w").isNull, 1L).otherwise(0L)),
                               lit(0L)).as("nulls"))
      .head()
    require(wrow.getLong(1) == 0L,
      s"$op: weight column `w` contains NULLs — fill or drop the column")
    require(!wrow.isNullAt(0) && wrow.getLong(0) > 0L,
      s"$op: weight column `w` must be strictly positive (min = ${wrow.get(0)})")
  }

  /** WARM-START PageRank refresh — the per-crawl production mode the
    * streaming webgraph wants: instead of iterating a fixed round count
    * from the uniform vector, start from the PREVIOUS crawl's ranks and
    * iterate until the per-round rank movement falls below a tolerance.
    * The damped iteration is a (d = 0.85)-contraction in L1, so the
    * delta shrinks geometrically from wherever it starts — and after an
    * incremental edge delta the previous fixpoint is already close, so
    * the refresh converges in a few rounds where the cold start pays
    * the full log(tol)/log(d) schedule (GraphSpec measures the round
    * gap on the fixture; SCALE.md §Round-13 probes at webgraph scale).
    *
    * Same per-round plan as [[pageRank]] (edges⋈ranks join + dst-sum
    * shuffle + broadcast dangling scalar) plus ONE extra bounded driver
    * scalar per round (the Σ|Δrank| convergence metric — the
    * [[connectedComponents]] discipline). Nodes new since `prev` enter
    * at the uniform share; departed nodes drop via the join against the
    * CURRENT node set. Stopping: Σ|Δ| ≤ tolPpm·scale DIV 1e6 (integer
    * fixed point converges to a tight limit cycle, not an exact
    * fixpoint, so the tolerance is the contract — callers comparing
    * warm vs cold results must compare within it), capped at
    * `maxRounds`. Returns (ranks, rounds actually run).
    *
    * @param prev (node: long, rank: long) from a previous refresh (any
    *             rank mass summing to ~scale works; uniform init IS the
    *             cold start). */
  def pageRankRefresh(edges: DataFrame, prev: DataFrame,
                      tolPpm: Long = 100L, maxRounds: Int = 50,
                      dampNum: Long = 85L,
                      scale: Long = 1000000000000L): (DataFrame, Int) = {
    val Fenced(nodes, n, _, _) = graft.Fence.counted(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct(), cut = false)
    require(n > 0, "pageRankRefresh: empty graph")
    val weighted = edges.columns.contains("w")
    val ew = if (weighted) edges else edges.withColumn("w", lit(1L))
    // same loud-failure contract as pageRank (r13 ADVICE: the warm-start
    // path must not re-open the silent NULL/negative rank-mass drop)
    if (weighted) requireValidWeights(ew, "pageRankRefresh")
    val deg = ew.groupBy("src").agg(sum(col("w")).as("odeg"))
    val e = graft.Fence(ew.join(deg, "src"))
    val pshare = scale / n
    val tp = ((100L - dampNum) * pshare) / 100L
    val tolMass = (tolPpm * scale) / 1000000L
    // dangling indicator rides the rank frame (see the pageRank note)
    val init = graft.Fence.counted(
      nodes.join(prev.select(col("node"), col("rank").as("pr")), Seq("node"), "left")
        .join(deg.select(col("src").as("node"), lit(1L).as("em")), Seq("node"), "left")
        .select(col("node"),
                when(col("em").isNull, 1L).otherwise(0L).as("dgl"),
                coalesce(col("pr"), lit(pshare)).as("rank")), cut = false)
    // r17 (verdict #2): the L1 movement Σ|rank − rank0| rides the round
    // fence's own materialization job ([[graft.Fence.counted]]'s `sum`
    // — a commutative Long sum over the round frame's (node, dgl, rank,
    // rank0) rows, ordinals 2/3), removing the separate agg plan + job
    // the loop ran per round. rank and rank0 are non-null by
    // construction (coalesce in the update; the previous ranks non-null).
    val (r, rounds) = graft.Fence.iterate(init, cut = false, maxRounds = maxRounds,
        sum = row => math.abs(row.getLong(2) - row.getLong(3)),
        stop = (_, cur) => cur.sum <= tolMass) { (r, _) =>
      val dm1 = r.filter(col("dgl") === 1L)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      val in = e.join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("CAST((CAST(rank AS DECIMAL(38,0)) * w) DIV odeg AS BIGINT)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      // r16 optimization (guide §1.2, fewer passes per round): the
      // update joins the previous round frame — whose node set is by
      // construction exactly `nodes` (every round frame is built over
      // it) — instead of the static node frame, so the previous rank
      // rides the fenced round frame as `rank0` for free and the L1
      // convergence scalar becomes a plain aggregate over the
      // materialized leaf. The old shape paid a second join (its own
      // plan + job) per round just to recompute a pairing the update
      // join already had in hand.
      r.select(col("node"), col("dgl"), col("rank").as("rank0"))
        .join(in.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dm1))
        .select(col("node"), col("dgl"),
          (lit(tp) +
            expr(s"($dampNum * (coalesce(m, 0L) + dm DIV ${n}L)) DIV 100"))
            .as("rank"),
          col("rank0"))
    }
    val keep = graft.Fence.cut(r.df.select("node", "rank"))
    graft.Fence.release(r.df); graft.Fence.release(init.df)
    graft.Fence.release(e); graft.Fence.release(nodes)
    (keep, rounds)
  }

  /** EXT: warm-start refresh, declared + oracled with the checked-bound
    * convention (the [[qGraphHyperball]] shape): the hashed payload is
    * the DECLARED exact 5-round ranks ([[qGraphPagerank]]'s semantics),
    * and the [[pageRankRefresh]] production path rides along as two
    * CHECKED bounds pinned TRUE — after an incremental edge delta the
    * warm start converges in ≤ the cold start's rounds, and the two
    * stopped states agree within the documented tolerance contract
    * (L1 gap ≤ 16·tolMass ≈ 2·tol·d/(1−d) with margin). Deterministic:
    * the fixture graph and the integer iteration have no RNG. */
  def qGraphPrRefresh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = graphEdges(s, d)
    val uniform = Seq.empty[(Long, Long)].toDF("node", "rank")
    val tol = 2000L
    val (cold, _) = pageRankRefresh(edges, uniform, tolPpm = tol)
    val edges2 = edges.filter(col("src") =!= 7L) // one host stops emitting
    val (warm, rWarm) = pageRankRefresh(edges2, cold, tolPpm = tol)
    val (cold2, rCold2) = pageRankRefresh(edges2, uniform, tolPpm = tol)
    val tolMass = tol * 1000000000000L / 1000000L
    val gap = warm.join(cold2.withColumnRenamed("rank", "rank2"), "node")
      .agg(coalesce(sum(abs(col("rank") - col("rank2"))), lit(0L)))
      .head().getLong(0) // bounded driver scalar (one row)
    val ok = rWarm <= rCold2 && gap <= 16L * tolMass
    qGraphPagerank(s, d).withColumn("within_bound", lit(ok))
  }

  /** Distributed global rank over a (node, rank) relation — `rk` =
    * ROW_NUMBER() over the total order (rank desc, node asc), computed
    * with the range-partitioned `sortBy + zipWithIndex` pattern (the
    * [[qAggHistogramEqdepth]] / Similarity rank-map precedent) instead
    * of an UNPARTITIONED window (r17, verdict #1): `row_number().over
    * (Window.orderBy(...))` plans `Exchange SinglePartition` + one
    * WindowExec task holding the ENTIRE rank frame — at 100 TB the
    * webgraph's ~1e8-host rank relation lands on one core. sortBy range-
    * partitions by the same total order and zipWithIndex assigns global
    * contiguous positions from per-partition counts, so every rank is
    * bit-identical to the window form ((rank desc, node) is a total
    * order — node is unique) while no task ever holds more than one
    * range slice. Output columns: (node, rank, rk). */
  def globalRankDesc(pr: DataFrame): DataFrame = {
    val s = pr.sparkSession
    import s.implicits._
    pr.select(col("rank"), col("node")).as[(Long, Long)].rdd
      .sortBy { case (rank, node) => (-rank, node) }
      .zipWithIndex()
      .map { case ((rank, node), idx) => (node, rank, idx + 1L) }
      .toDF("node", "rank", "rk")
  }

  /** EXT: host-graph PageRank, declared + oracled — 5 damped rounds over
    * a deterministic link graph derived from the documents table (the
    * [[TextOps.qCurateUrls]] convention: synthetic tables carry no real
    * hyperlinks, so the fixture derives them as a pure function of
    * doc_id — node = doc_id mod 997, each doc emits 1 + doc_id%3 links
    * dst = (31*doc_id + 7k) mod 997, deduped, self-loops dropped). The
    * DuckDB oracle replays the derivation and all 5 rounds in unrolled
    * CTEs with the identical integer arithmetic, so the ranks
    * hash-match bit-for-bit. Output: every node with its fixed-point
    * rank and rank order ([[globalRankDesc]] — distributed, same
    * values). */
  def qGraphPagerank(s: SparkSession, d: String): DataFrame = {
    val edges = graphEdges(s, d)
    globalRankDesc(pageRank(edges, iters = 5))
      .select(col("node"), col("rank").as("rank_fp"), col("rk"))
      .orderBy("node")
  }

  /** EXT: PERSONALIZED PageRank from a seed whitelist, declared +
    * oracled — the seed-and-expand curation op: given known-good hosts
    * (fixture: nodes ≡ 0 mod 10), rank every host by link proximity to
    * the whitelist; documents from high-PPR hosts inherit a quality
    * prior. Same 5 unrolled rounds as [[qGraphPagerank]] with the
    * teleport (and dangling redistribution) restricted to seeds. */
  def qGraphPpr(s: SparkSession, d: String): DataFrame = {
    val edges = graphEdges(s, d)
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct().filter(col("node") % 10 === 0)
    globalRankDesc(pageRank(edges, iters = 5, seeds = Some(seeds)))
      .select(col("node"), col("rank").as("rank_fp"), col("rk"))
      .orderBy("node")
  }

  /** EXT: WEIGHTED PageRank over the fixture graph with integer link
    * multiplicities w = 1 + (src+dst) % 7 — the actual host-graph form
    * (hosts link each other many times; Common Crawl's rank inputs
    * carry multiplicity). Same 5 unrolled rounds as [[qGraphPagerank]]
    * with the weighted contribution replayed term for term. */
  def qGraphPagerankW(s: SparkSession, d: String): DataFrame = {
    val edges = graphEdges(s, d)
      .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7L)
    globalRankDesc(pageRank(edges, iters = 5))
      .select(col("node"), col("rank").as("rank_fp"), col("rk"))
      .orderBy("node")
  }

  /** Per-node triangle counts over an undirected graph — the clustering
    * signal (a host whose neighbors interlink is a community, not a link
    * farm spraying unrelated targets; triangle density per node feeds
    * spam/quality heuristics). PUBLIC entry; input treated as
    * undirected (symmetrized, self-loops dropped).
    *
    * Algorithm — degree ORIENTATION, the standard scalable form (Suri &
    * Vassilvitskii 2011 "Counting triangles and the curse of the last
    * reducer"): orient every undirected edge from its lower-(degree,id)
    * endpoint to the higher one; the oriented out-degree is bounded by
    * O(√m) REGARDLESS of the original degree distribution, so the wedge
    * join (E'⋈E' on the middle vertex) fans out O(m^1.5) total instead
    * of Σdeg² — the difference between a web-scale hub exploding one
    * reducer and a balanced shuffle. Wedges (a→b→c) then semi-join the
    * closing edge (a→c); each triangle is discovered exactly once (its
    * orientation-ordered corner triple), and a final explode credits
    * each of the 3 corners. Everything is equi-joins and integer
    * counts — engine-exact. */
  def triangles(edges: DataFrame): DataFrame = {
    val und = graft.Fence(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
      .select(col("a").as("node"), col("d"))
    // orient lower (degree, id) -> higher
    val ori = graft.Fence(
      und.join(deg.select(col("node").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
        .filter(col("da") < col("db") ||
                (col("da") === col("db") && col("a") < col("b")))
        .select(col("a"), col("b")))
    val wedges = ori.select(col("a"), col("b"))
      .join(ori.select(col("a").as("b"), col("b").as("c")), "b")
    val tris = wedges
      .join(ori.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val keep = graft.Fence.cut(
      deg.select(col("node"))
        .join(perNode, Seq("node"), "left")
        .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri")))
    graft.Fence.release(ori); graft.Fence.release(und)
    keep
  }

  /** EXT: per-node triangle counts on the fixture webgraph, declared +
    * oracled (the oriented-wedge derivation replayed as plain joins). */
  def qGraphTriangles(s: SparkSession, d: String): DataFrame =
    triangles(graphEdges(s, d)).orderBy("node")

  /** Deterministic random-walk corpus over a directed graph — the
    * DeepWalk/node2vec DATA-PREP stage (Perozzi et al. 2014): graph →
    * walk sequences, which then train skip-gram embeddings exactly like
    * text. PUBLIC entry; one walker starts at every node and takes
    * `steps` hash-chosen hops:
    *
    *   next(walker, t) = out-edge #(pmod(xxhash64(t, walker), odeg))
    *
    * with a node's out-edges indexed 0..odeg−1 by dst order — the
    * engine's deterministic-coin convention ([[Similarity.kmeansParSeed]]),
    * so the whole corpus is a pure function of the edge list and both
    * engines derive identical walks (the oracle replays every hop,
    * xxhash64 included). Walkers at a dangling node stop (their walk is
    * simply shorter — the DeepWalk convention).
    *
    * At 100 TB: the indexed edge relation is built ONCE (one rank
    * window partitioned by src) and fenced; each step is one equi-join
    * of the (walker, node) frontier against it with a map-side modulus
    * filter — walkers never interact, so the step cost is one shuffle
    * of the frontier, flat per step, and the walk length is the loop
    * bound (10-80 in the papers). Output: (walker, step, node) long
    * format, ready to feed a window-based skip-gram pair generator. */
  def randomWalks(edges: DataFrame, steps: Int): DataFrame = {
    val wIdx = Window.partitionBy("src").orderBy("dst")
    val indexed = graft.Fence(
      edges.select(col("src"), col("dst")).distinct()
        .withColumn("idx", row_number().over(wIdx).cast("long") - 1)
        .withColumn("odeg", count(lit(1)).over(Window.partitionBy("src"))))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var frontier = graft.Fence(
      nodes.select(col("node").as("walker"), col("node"), lit(0).as("step")))
    // every step's frontier is both a loop input AND a branch of the
    // final union — release them all only after the cut materializes
    val fenced = Seq.newBuilder[DataFrame]
    fenced += frontier
    (1 to steps).foreach { t =>
      val next = frontier.join(indexed, col("node") === col("src"))
        .filter(col("idx") === pmod(xxhash64(lit(t), col("walker")), col("odeg")))
        .select(col("walker"), col("dst").as("node"), lit(t).as("step"))
      frontier = graft.Fence(next)
      fenced += frontier
    }
    val all = fenced.result()
    val keep = graft.Fence.cut(
      all.reduce(_ unionByName _)
        .select(col("walker"), col("step"), col("node")))
    all.foreach(graft.Fence.release)
    graft.Fence.release(indexed)
    keep
  }

  /** EXT: 4-step deterministic walks on the fixture webgraph, declared +
    * oracled — every hop's xxhash64 coin replayed through the
    * [[Xxh64DuckSql]] chain with the per-node out-degree as modulus. */
  def qGraphWalks(s: SparkSession, d: String): DataFrame =
    randomWalks(graphEdges(s, d), steps = 4).orderBy("walker", "step")

  /** Skip-gram training pairs from a walk corpus — the step that turns
    * [[randomWalks]]' sequences into DeepWalk/node2vec TRAINING DATA
    * (identical to text skip-gram: each node co-occurring within
    * `window` hops of a center, on the same walk, is a (center,
    * context) example; pair frequency is the example weight). One
    * walker-keyed self-join with a hop-distance predicate — the join
    * shuffles on walker, pairs aggregate with map-side combine, and at
    * 100 TB the walk table is already walker-partitioned by
    * construction so the self-join reuses its layout. Exact integer
    * counts — engine-portable. */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    val a = walks.select(col("walker"), col("step").as("sa"), col("node").as("center"))
    val b = walks.select(col("walker"), col("step").as("sb"), col("node").as("context"))
    a.join(b, Seq("walker"))
      .filter(col("sa") =!= col("sb") &&
              abs(col("sa") - col("sb")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }

  /** EXT: window-2 skip-gram pairs over the fixture walk corpus,
    * declared + oracled (the walks oracle extended by the same
    * self-join in SQL). */
  def qGraphSkipgram(s: SparkSession, d: String): DataFrame =
    skipGramPairs(qGraphWalks(s, d), window = 2)
      .orderBy("center", "context")

  /** EXT: host-rank document curation — the INTEGRATION the graph
    * family exists for: every document inherits its host's PageRank,
    * and the corpus keeps documents whose host sits in the top half of
    * the rank order (`rk·2 ≤ max(rk)` — a self-calibrating cut, the
    * [[TextOps.qCuratePercentile]] philosophy applied to hosts). At
    * 100 TB the rank table is ~1e8 hosts — broadcastable — so the
    * curation pass is one map-side join over the corpus scan plus the
    * per-source rollup; output carries kept/total counts and an id_sum
    * membership gate per source (the corpusDiff convention: the
    * DECISION is hash-gated, not just the counts). */
  def qCurateHostrank(s: SparkSession, d: String): DataFrame = {
    val ranks = qGraphPagerank(s, d)
    val mx = ranks.agg(max(col("rk")).as("mx"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), (col("doc_id") % 997L).as("node"))
    docs.join(broadcast(ranks), "node")
      .crossJoin(broadcast(mx))
      .withColumn("kept", (col("rk") * 2 <= col("mx")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("kept")).as("n_kept"),
           sum(when(col("kept") === 1, col("doc_id"))).as("id_sum_kept"))
      .orderBy("source")
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment") — the complementary link signal to
    * PageRank: an AUTHORITY is a page good sources point at, a HUB is a
    * page that points at good authorities. For curation the two axes
    * separate content hosts (high authority) from directory/aggregator
    * hosts (high hub) — a distinction one PageRank score conflates.
    * PUBLIC entry; duplicate edges are honored as given (multigraph
    * semantics, the [[pageRank]] convention).
    *
    * Engine-exactness: the classical algorithm L2-normalizes each
    * round — irrational, so not oracle-able. This uses the equally
    * standard SUM normalization (the scores are a probability-style
    * distribution; same fixpoint direction, Kleinberg's theorem only
    * needs SOME normalization): each half-round is
    *   a = A^T h;  a := a·scale DIV Σa,   h = A a;  h := h·scale DIV Σh
    * in BIGINT fixed-point, the multiply staged through DECIMAL(38,0)
    * so `raw · scale` cannot overflow at web scale (raw ≤ m·scale; at
    * 1e10 edges × 1e12 scale the product needs 35 digits — the
    * [[TextOps.hamiltonAlloc]] convention). Σraw > 0 every round on a
    * nonempty edge list: round 1 sums over all-positive init, and
    * afterwards mass is nonzero exactly on src/dst endpoints, which by
    * definition each edge has — PROVIDED `scale` dominates the node
    * count: normalized scores are ~scale/n, so at scale ≤ n they floor
    * to zero, the next normalizer divides by zero, and the op fails
    * loudly (measured at 10M nodes with the old 1e6 scale; default is
    * now the [[pageRank]] 1e12 mass unit, good to ~1e10 nodes).
    *
    * Plan shape: identical to one [[pageRank]] round — the static edge
    * relation joined against a narrow (node, score) frame, one
    * groupBy-sum shuffle per half-round, a 1-row broadcast for the
    * normalizer; each round's frames fenced and released when
    * superseded, so plan depth and cache are O(1) in the round count. */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val e = graft.Fence(edges.select(col("src"), col("dst")))
    val nodes = graft.Fence(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // the gather sum and its Σ normalizer BOTH run in DECIMAL(38,0):
    // as BIGINTs they overflow at m·scale > 2^63 — measured at 10M
    // nodes / 25M edges × the 1e12 init (Σ = 2.5e19); any real webgraph
    // is far past that
    def normalized(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(sum(col("raw")).as("tot"))
      graft.Fence(raw.crossJoin(broadcast(tot))
        .select(col("node"),
          expr(s"CAST((raw * ${scale}L) DIV tot AS BIGINT)").as(out)))
    }
    // r17 (guide §1.2, fewer passes per round): gather NO longer
    // left-joins the full node relation — a zero-raw node contributes 0
    // to the next gather's sum (its rows simply don't join) and 0 to the
    // normalizer Σraw, so dropping absent nodes round-to-round changes
    // no computed value; the zero padding rides ONCE on the final
    // readout instead of 2 joins × rounds. The round frames also shrink
    // to the active endpoint set (≤ |E| rows), which is what the fence
    // pins per round at webgraph scale.
    def gather(scores: DataFrame, in: String, from: String, to: String): DataFrame =
      e.join(scores.withColumnRenamed("node", from), from)
        .groupBy(col(to).as("node"))
        .agg(sum(col(in).cast("decimal(38,0)")).as("raw"))
    var hub = graft.Fence(nodes.withColumn("hub", lit(scale)))
    var auth: DataFrame = null
    (1 to iters).foreach { _ =>
      val newAuth = normalized(gather(hub, "hub", "src", "dst"), "auth")
      if (auth != null) graft.Fence.release(auth)
      auth = newAuth
      val prevHub = hub
      hub = normalized(gather(auth, "auth", "dst", "src"), "hub")
      graft.Fence.release(prevHub)
    }
    // zero padding for nodes with no out-edges (hub) / no in-edges
    // (auth) — previously re-padded every half-round, now once (r17)
    val keep = graft.Fence.cut(
      nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("hub"), lit(0L)).as("hub_fp"),
          coalesce(col("auth"), lit(0L)).as("auth_fp")))
    graft.Fence.release(hub); graft.Fence.release(auth)
    graft.Fence.release(nodes); graft.Fence.release(e)
    keep
  }

  /** EXT: 3-round HITS on the fixture webgraph, declared + oracled
    * (every half-round replayed as an unrolled CTE with the identical
    * HUGEINT multiply-floor-divide). */
  def qGraphHits(s: SparkSession, d: String): DataFrame =
    hits(graphEdges(s, d), iters = 3).orderBy("node")

  /** k-core of an undirected simple graph — iterated peeling: drop every
    * vertex with degree < k, recompute degrees, repeat to fixpoint
    * (Seidman 1983; Batagelj & Zaveršnik 2003's sequential algorithm is
    * the driver-side reference, the peel loop is its standard
    * distributed form). The k-core isolates the densely-interlinked
    * kernel of a webgraph — link farms and genuine communities both live
    * there, and coreness is a spam/quality feature Common Crawl-scale
    * curation pipelines compute alongside rank.
    *
    * Semantics: input symmetrized + self-loops dropped + deduped (simple
    * undirected graph). Output: EVERY vertex with an `in_core` 0/1 flag
    * and its within-core degree (0 outside) — total-graph output keeps
    * the op composable with per-host joins.
    *
    * Plan shape: each round is two semi-joins of the static edge list
    * against the shrinking alive set plus one count shuffle; ONE scalar
    * action per round drives convergence (the [[connectedComponents]]
    * discipline — strictly decreasing alive count, bounded by the peel
    * depth, which on power-law webgraphs is tens of rounds). Alive
    * frames are fenced and released as superseded: O(1) cache and plan
    * depth. At 100 TB the edge relation dominates and is only ever
    * semi-joined — never mutated — so bucketing it by both endpoints
    * pre-co-locates every round. */
  def kcore(edges: DataFrame, k: Int): DataFrame = {
    val und = graft.Fence(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val nodesF = graft.Fence.counted(
      und.select(col("a").as("node")).distinct(), cut = false)
    val nodes = nodesF.df
    def coreDeg(alive: DataFrame): DataFrame = und
      .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg_core"))
    // Fence.cut, not the pin: peel depth on a webgraph is its degeneracy
    // cascade — tens-to-hundreds of rounds — and the FenceGateSpec
    // deep-loop rule applies (pin lineage depth grows per round; cut
    // stays constant). The alive frame is one bare column, so the
    // checkpoint write is trivially cheap. An empty graph peels nothing.
    val (alive, _) = graft.Fence.iterate(nodesF, cut = true,
        maxRounds = if (nodesF.rows > 0) Int.MaxValue else 0,
        stop = (prev, cur) => cur.rows == prev.rows || cur.rows == 0) { (alive, _) =>
      coreDeg(alive).filter(col("deg_core") >= k).select("node")
    }
    val keep = graft.Fence.cut(
      nodes.join(coreDeg(alive.df), Seq("node"), "left")
        .select(col("node"),
          when(col("deg_core").isNotNull, 1L).otherwise(0L).as("in_core"),
          coalesce(col("deg_core"), lit(0L)).as("deg_core")))
    graft.Fence.releaseCut(alive.df)
    graft.Fence.release(nodes); graft.Fence.release(und)
    keep
  }

  /** EXT: 3-core membership + within-core degree on the fixture
    * webgraph, declared + oracled. The Spark loop peels to FIXPOINT; the
    * DuckDB replay unrolls 12 peel rounds — sufficient because the peel
    * is idempotent at fixpoint, so any unroll ≥ the true round count
    * yields the identical relation (GraphSpec pins the fixture's
    * convergence depth ≤ 12 against a driver-side brute-force peel). */
  def qGraphKcore(s: SparkSession, d: String): DataFrame =
    kcore(graphEdges(s, d), k = 3).orderBy("node")

  /** Label-propagation community detection (Raghavan et al. 2007) over
    * an undirected simple graph — communities WITHOUT a global
    * objective: each vertex repeatedly adopts the most frequent label
    * among its neighbors. Complements [[connectedComponents]] (which
    * only finds disconnected islands) — LPA splits a connected webgraph
    * into link-dense neighborhoods, the granularity domain-level
    * curation mixes on.
    *
    * Engine-exactness: synchronous rounds with the DETERMINISTIC
    * tie-break (max count, then min label) and a FIXED round budget —
    * the standard mitigation for synchronous LPA's known bipartite
    * oscillation (Raghavan §4), and what makes the op a pure function
    * of the edge list, replayable by the oracle. Each round is one
    * equi-join of the static symmetrized edges against the narrow
    * (node, lbl) frame, one (node, lbl) count shuffle, one per-node
    * window pick (partitioned — no global sort); fenced + released per
    * round, O(1) plan depth. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val und = graft.Fence(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val nodes = graft.Fence(und.select(col("a").as("node")).distinct())
    val init = graft.Fence.counted(nodes.withColumn("lbl", col("node")), cut = false)
    val w = Window.partitionBy("a").orderBy(col("c").desc, col("lbl").asc)
    val (lbl, _) = graft.Fence.iterate(init, cut = false, maxRounds = iters) { (lbl, _) =>
      // r17 (guide §2.1, remove a shuffle per round): one explicit
      // hash(a) exchange serves BOTH the (a, lbl) count aggregate
      // (HashPartitioning(a) satisfies ClusteredDistribution(a, lbl) —
      // equal keys stay colocated) and the per-a window pick, where the
      // old shape exchanged by (a, lbl) for the agg and AGAIN by (a)
      // for the window. Map-side partial aggregation still compacts
      // (a, lbl) pairs before the exchange; the window stage's per-a
      // skew exposure is unchanged (it always clustered by a).
      val cnt = und.join(lbl.withColumnRenamed("node", "b"), "b")
        .repartition(col("a"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
      cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("node"), col("lbl"))
    }
    val keep = graft.Fence.cut(lbl.df.select(col("node"), col("lbl").as("community")))
    graft.Fence.release(lbl.df); graft.Fence.release(init.df)
    graft.Fence.release(nodes); graft.Fence.release(und)
    keep
  }

  /** EXT: 4-round label-propagation communities on the fixture webgraph,
    * declared + oracled (each round's count + window pick replayed as an
    * unrolled CTE pair). */
  def qGraphLpa(s: SparkSession, d: String): DataFrame =
    labelPropagation(graphEdges(s, d), iters = 4).orderBy("node")

  /** The derived fixture webgraph (see [[qGraphPagerank]]). */
  private[graft] def graphEdges(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(1L), lit(1L) + col("doc_id") % 3L)).as("k"))
      .select((col("doc_id") % 997L).as("src"),
              ((col("doc_id") * 31L + col("k") * 7L) % 997L).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Harmonic centrality within a bounded radius — the OTHER published
    * webgraph quality signal (Common Crawl ranks hosts by harmonic
    * centrality, Boldi & Vigna "Axioms for centrality" 2014):
    * H(v) = Σ_{u≠v, d(u,v)≤D} 1/d(u,v), distances along edge direction
    * (u→v reachability). The PUBLIC entry; fixed-point BIGINT scoring
    * (`scale DIV d` per reached pair) keeps it engine-exact.
    *
    * Algorithm: multi-source BFS by frontier expansion — R holds every
    * (src, v, d) discovered so far; each round joins the frontier against
    * the edge list, anti-joins R to keep only first discoveries (BFS
    * distance = first round seen), unions, repeats `depth` times. Every
    * round is one equi-join + one anti-join + a distinct — all hash
    * shuffles on the pair key, lineage-cut per round.
    *
    * Scale honesty: R materializes reachable PAIRS — at web scale that is
    * quadratic in the ball size, which is exactly why production systems
    * compute this with HyperBall (Boldi & Vigna 2013): replace each
    * node's source-set with a HyperLogLog register array, merge neighbor
    * registers per round (same join shape, constant state per node), and
    * read |ball(v,d)| − |ball(v,d−1)| off the counters. The exact form
    * here IS the oracle-able semantics (and the correctness reference a
    * HyperBall leg would be spec'd against); bounded depth and/or source
    * sampling is how the exact form itself survives moderate graphs. */
  def harmonic(edges: DataFrame, depth: Int,
               scale: Long = 1000000L): DataFrame = {
    val e = graft.Fence(edges.select(col("src"), col("dst")).distinct())
    val nodes = graft.Fence(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    // R: (src, v, d) = d(src -> v) exact BFS distance, d <= depth.
    // r17 DELTA-ONLY accumulation (verdict #3, completing the r16
    // negative result): each round cuts ONLY its first-discovery delta
    // (a `delta` [[graft.Fence.counted]] cut — size-adaptive leaf, so the
    // k-level union scans k small leaves, not k × parallelism empty
    // partitions, which is what made the r16 b2 attempt slower). The
    // frontier IS the newest level leaf (no filter), the visited check
    // anti-joins the lazy union of level leaves (set difference
    // distributes over union), and the accumulated relation is NEVER
    // rewritten — the r16 tagged form re-materialized all O(|R|)
    // discovered pairs every round, the dominant cache traffic of the
    // op at webgraph scale. Levels live in a [[DeltaAcc]] (bounded
    // compaction — plan size stays O(maxLive), the unbounded-leaves
    // form grew pure optimizer time with depth).
    val acc = new DeltaAcc(
      graft.Fence.counted(nodes.select(col("node").as("src"),
        col("node").as("v"), lit(0).as("d")), cut = true, delta = true).df)
    (1 to depth).foreach { d =>
      val next = acc.frontier.join(e.withColumnRenamed("src", "v"), "v")
        .select(col("src"), col("dst").as("v"))
        .distinct()
        .join(acc.seen("src", "v"), Seq("src", "v"), "left_anti")
        .withColumn("d", lit(d))
      acc.add(graft.Fence.counted(next, cut = true, delta = true).df)
    }
    val out = acc.all.filter(col("d") > 0)
      .groupBy(col("v").as("node"))
      .agg(sum(expr(s"$scale DIV d")).as("harmonic_fp"),
           count(lit(1)).as("n_reached"))
    val keep = graft.Fence.cut(
      nodes.join(out, Seq("node"), "left")
        .select(col("node"),
                coalesce(col("harmonic_fp"), lit(0L)).as("harmonic_fp"),
                coalesce(col("n_reached"), lit(0L)).as("n_reached")))
    acc.close()
    graft.Fence.release(nodes); graft.Fence.release(e)
    keep
  }

  /** Connected components over an undirected pair list — the third
    * classic op of the graph family, and the engine's dedup-cluster
    * kernel ([[Dedup.qDedupClusters]] is a thin binding of this over the
    * MinHash candidate pairs; moved here in r12 so arbitrary edge lists
    * get it too). Input: one row per undirected edge (src, dst);
    * symmetrized internally. Output: (v, lbl) — every endpoint labeled
    * with its component's minimum vertex id.
    *
    * Algorithm: Pregel-style min-label propagation — labels start as the
    * vertex id and each round take the min over neighbors; the driver
    * loop checks a monotone convergence metric (sum of labels, strictly
    * decreasing until fixpoint) with ONE scalar action per round, and
    * the lineage fence keeps plan depth O(1) across rounds (the standard
    * iterative-graph shape on Spark; GraphX and MLlib iterate the same
    * way). Rounds are bounded by component diameter. At 100 TB the same
    * loop runs with the alternating large-star/small-star optimization —
    * each round stays a (join + min-agg) pair on (vertex, label) tuples.
    *
    * Fence history (r2/r9/r10 A/Bs, measured on the dedup binding):
    * localCheckpoint 1.97 s vs bare persist(MEMORY_AND_DISK)+count
    * 6.84 s at sf0.1 — persist alone does NOT truncate lineage, so every
    * round re-analyzes a plan that grew by one join+agg; the 3.5× gap is
    * driver-side plan work. r10 moved the fence to [[graft.Fence]]'s
    * memory pin (truncates lineage like localCheckpoint, skips the eager
    * MEMORY_AND_DISK write whose cost swung this query 1.6↔4.0 s with
    * box state). Release discipline (r11 advice): each round's fence
    * supersedes the previous round's and is released as soon as the new
    * fence materializes — cache usage is O(1) in the round count. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // r17 (verdict #2, per-round driver cost): the Σlbl convergence
    // scalar rides the fence's own materialization job (a commutative
    // Long sum over the (v, lbl) rows the fence already streams into
    // cache — [[graft.Fence.counted]]'s `sum`), removing the separate
    // agg plan + 2-stage job the loop used to run per round.
    val p = graft.Fence(pairs.select(col("src"), col("dst")))
    val sym = graft.Fence(p.union(p.select(col("dst").as("src"), col("src").as("dst"))))
    val init = graft.Fence.counted(sym.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v")), cut = false, sum = _.getLong(1))
    val (labels, _) = graft.Fence.iterate(init, cut = false, sum = _.getLong(1),
        stop = (prev, cur) => cur.sum >= prev.sum) { (labels, _) =>
      val prop = sym.join(labels.withColumnRenamed("v", "w"), col("dst") === col("w"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      labels
        .join(prop, col("v") === col("src"), "left")
        .select(col("v"),
                least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
    }
    // Seal the SURVIVOR with a real lineage cut, then release everything
    // the loop pinned.
    val keep = graft.Fence.cut(labels.df)
    graft.Fence.release(labels.df); graft.Fence.release(init.df)
    graft.Fence.release(sym); graft.Fence.release(p)
    keep
  }

  /** EXT: connected components over a stratified fixture graph (8
    * disjoint 125-node random subgraphs derived from doc_id — disjoint
    * strata make the component structure non-trivial), declared +
    * oracled with the recursive-CTE min-reachable-label replay (the
    * [[Dedup.qDedupClusters]] oracle convention). */
  def qGraphComponents(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(1L), lit(1L) + col("doc_id") % 3L)).as("k"))
      .select(
        ((col("doc_id") % 8L) * 1000L + expr("doc_id DIV 8") % 125L).as("src"),
        ((col("doc_id") % 8L) * 1000L + (col("doc_id") * 31L + col("k") * 7L) % 125L).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    connectedComponents(edges)
      .select(col("v"), col("lbl").as("cluster"))
      .orderBy("v")
  }

  /** EXT: harmonic centrality over the fixture webgraph, depth 3,
    * declared + oracled (unrolled BFS rounds as NOT-EXISTS CTEs in
    * DuckDB, identical integer scoring). */
  def qGraphHarmonic(s: SparkSession, d: String): DataFrame =
    harmonic(graphEdges(s, d), depth = 3).orderBy("node")

  /** Harmonic centrality by HYPERBALL (Boldi & Vigna 2013) — the scale
    * path [[harmonic]]'s scaladoc promises, shipped: each vertex carries
    * a 256-byte HyperLogLog register array summarizing its in-ball
    * (the set of vertices that reach it); a round merges every vertex's
    * registers with its in-neighbors' ([[graft.functions.HllMax]] — set
    * union as elementwise max, one m-byte buffer per vertex across the
    * shuffle) and reads |ball(v,d)| off the counters; the harmonic score
    * accumulates (|ball(d)| − |ball(d−1)|)/d. This is the published
    * algorithm behind Common Crawl's host harmonic ranks.
    *
    * At 100 TB: per-vertex state is CONSTANT (m bytes) no matter how
    * large the balls grow — where the exact form's pair relation goes
    * quadratic — and each round is the same edges⋈registers join +
    * register-merge shuffle, fences keeping plan depth O(1) (SCALE.md
    * §Round-10 probes measures round walls at 10M nodes, where the exact
    * form is infeasible). Estimates are deterministic (xxhash64
    * registers, exact max-merge) but APPROXIMATE (±1.04/√256 ≈ 6.5%
    * rel. std. err.), so this op is spec-gated against [[harmonic]] on
    * the fixture graph rather than oracle-hashed — the exact form IS
    * its correctness reference. Output: (node, harmonic_est, reached_est).
    */
  def harmonicHyperBall(edges: DataFrame, depth: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = graft.Fence(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var r = graft.Fence(
      nodes.as[Long].map(v => (v, graft.functions.Hll.init(v)))
        .toDF("node", "reg"))
    def estimates(df: DataFrame): DataFrame = hllEstimates(df)
    var acc = graft.Fence(estimates(r)
      .select(col("node"), lit(0.0).as("h"), col("est").as("prev")))
    (1 to depth).foreach { d =>
      val gathered = hllPropagate(e, r)
      // Fence.cut, not the pin: the pin's RDD lineage is NOT truncated,
      // and in a DEEP loop each round's tasks serialize the whole parent
      // chain — measured on the 10M probe as round walls growing 16 s →
      // 64 s over 6 rounds; localCheckpoint's hard cut keeps them flat.
      // (The pin remains right for SHALLOW loops — clusters converges in
      // 2-3 rounds — where lineage depth never accumulates.)
      val prevR = r
      r = graft.Fence.cut(gathered)
      graft.Fence.releaseCut(prevR) // cut-backed round frame: the plain release is a no-op (r14 advice)
      val prevAcc = acc
      acc = graft.Fence.cut(prevAcc
        .join(estimates(r), "node")
        .select(col("node"),
          (col("h") + greatest(col("est") - col("prev"), lit(0.0)) / lit(d.toDouble)).as("h"),
          col("est").as("prev")))
      graft.Fence.releaseCut(prevAcc)
    }
    val keep = graft.Fence.cut(
      acc.select(col("node"), col("h").as("harmonic_est"),
                 (col("prev") - lit(1.0)).as("reached_est")))
    graft.Fence.releaseCut(acc); graft.Fence.releaseCut(r); graft.Fence.release(e)
    keep
  }

  /** One HyperBall register-propagation round: every vertex's in-ball
    * registers max-merged with its in-neighbors' (set union as
    * elementwise max — [[graft.functions.HllMax]]), one m-byte buffer
    * per vertex across the shuffle. Shared by [[harmonicHyperBall]] and
    * [[diameterHyperBall]]. */
  private def hllPropagate(e: DataFrame, r: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.join(r.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node"), col("reg"))
      .unionByName(r)
      .as[(Long, Array[Byte])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.HllMax.toColumn.name("reg"))
      .toDF("node", "reg")
  }

  private def hllEstimates(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.as[(Long, Array[Byte])]
      .map { case (v, reg) => (v, graft.functions.Hll.estimate(reg)) }
      .toDF("node", "est")
  }

  /** Distance distribution + EFFECTIVE DIAMETER from the HyperBall
    * NEIGHBORHOOD FUNCTION — the scale path [[qGraphDiameter]]'s exact
    * form declares (r12 verdict #4, Boldi & Vigna 2013 §4: N(d) =
    * Σ_v |ball_in(v,d)| is exactly the count of ordered pairs within
    * distance d, read off the same counters [[harmonicHyperBall]]
    * already merges — this is how published web effective diameters are
    * produced). Per depth d it emits the estimated pair count at
    * exactly d (clamped ≥ 0 against estimator noise, the harmonic
    * convention), the cumulative count, and the d90 flag (cum·10 ≥
    * tot·9 at the probed depth — the exact form's semantics).
    *
    * At 100 TB: identical cost profile to [[harmonicHyperBall]] —
    * constant m-byte state per vertex, one edges⋈registers join per
    * round, plus ONE bounded driver scalar per round (the global
    * Σest) — where the exact form's pair relation is O(n·ball) and
    * infeasible past fixture scale. Output rows are depth-bounded.
    * Spec-gated against [[qGraphDiameter]]'s exact distribution on the
    * fixture graph (rel-err + d90 floors, the harmonic precedent). */
  def diameterHyperBall(edges: DataFrame, depth: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = graft.Fence(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val r0 = graft.Fence.counted(
      nodes.as[Long].map(v => (v, graft.functions.Hll.init(v)))
        .toDF("node", "reg"), cut = false)
    // empty-input hardening (the coreness/bowtie convention): no edges →
    // no node set → sum(est) is NULL; coalesce instead of NPE, and an
    // empty node set short-circuits to the empty result frame
    def total(df: DataFrame): Double =
      hllEstimates(df).agg(coalesce(sum(col("est")), lit(0.0)))
        .head().getDouble(0)
    if (r0.rows == 0) {
      graft.Fence.release(r0.df); graft.Fence.release(e)
      return Seq.empty[(Long, Double, Double, Long)]
        .toDF("d", "n_pairs_est", "cum_pairs_est", "reached_90")
    }
    val totals = scala.collection.mutable.ArrayBuffer(total(r0.df)) // N(0) ~ n
    // r17 (verdict #2/#6 profile): the global Σest scalar N(d) rides each
    // round cut's own materialization job ([[graft.Fence.counted]]'s
    // `sumD` — estimate(reg) over the (node, reg) rows the cut already
    // streams, reg at ordinal 1) instead of a separate per-round
    // estimates plan + aggregate job; `stop` records it. Bound-checked
    // scalar only — the hashed payload is the exact form's. Rounds ride
    // the cut: the deep-loop rule.
    val (r, _) = graft.Fence.iterate(r0, cut = true, maxRounds = depth,
        sumD = row => graft.functions.Hll.estimate(row.getBinary(1)),
        stop = (_, cur) => { totals += cur.sumD; false }) { (r, _) => hllPropagate(e, r) }
    graft.Fence.releaseCut(r.df); graft.Fence.release(r0.df); graft.Fence.release(e)
    // depth-bounded readout: one row per probed distance
    val perD = (1 to depth).map(d => math.max(totals(d) - totals(d - 1), 0.0))
    val cum = perD.scanLeft(0.0)(_ + _).tail
    val tot = cum.last
    (1 to depth).map { d =>
      (d.toLong, perD(d - 1), cum(d - 1),
       if (cum(d - 1) * 10.0 >= tot * 9.0) 1L else 0L)
    }.toDF("d", "n_pairs_est", "cum_pairs_est", "reached_90")
  }

  /** EXT: HyperBall harmonic centrality, declared + oracled with the A7
    * sketch convention (r12 verdict #7: exact values hashed, sketch
    * error bound pinned TRUE — [[Aggregates.qApproxDistinct]]): the
    * exact [[harmonic]] scores ARE the hashed payload, and the shipped
    * scale path [[harmonicHyperBall]] rides along as two CHECKED
    * aggregate bounds — mean reach relative error ≤ 8% (the
    * 256-register envelope: 1.04/√256 ≈ 6.5% rsd, linear counting
    * tightening small balls) and mean harmonic-score relative error
    * ≤ 10%. Both are deterministic (xxhash64 registers, commutative
    * max-merge), so the booleans are stable across partitionings; the
    * oracle replays the exact form and pins within_bound TRUE. This
    * puts the sketch path under the DRIVER gate, not only the spec. */
  def qGraphHyperball(s: SparkSession, d: String): DataFrame = {
    val edges = graphEdges(s, d)
    val exact = harmonic(edges, depth = 3)
    val est = harmonicHyperBall(edges, depth = 3)
    val joined = graft.Fence(exact.join(est, "node"))
    val bounds = joined.select(
        when(col("n_reached") > 0,
             abs(col("reached_est") - col("n_reached")) / col("n_reached"))
          .otherwise(abs(col("reached_est"))).as("r_err"),
        when(col("harmonic_fp") > 0,
             abs(col("harmonic_est") - col("harmonic_fp") / lit(1000000.0)) /
               (col("harmonic_fp") / lit(1000000.0)))
          .otherwise(abs(col("harmonic_est"))).as("h_err"))
      .agg(avg(col("r_err")).as("mean_r_err"), avg(col("h_err")).as("mean_h_err"))
    val out = exact.crossJoin(broadcast(bounds))
      .select(col("node"), col("harmonic_fp"), col("n_reached"),
        (col("mean_r_err") <= lit(0.08) && col("mean_h_err") <= lit(0.10))
          .as("within_bound"))
      .orderBy("node")
    val keep = graft.Fence.cut(out)
    graft.Fence.release(joined)
    keep
  }

  /** Strongly connected components over a directed edge list — the
    * webgraph MACRO-STRUCTURE op (Broder et al. 2000 mapped the web's
    * bowtie with exactly this; curation uses SCC membership to separate
    * the mutually-linked core from link farms and crawl traps, which
    * surface as anomalous components). PUBLIC entry. Output: (node, scc,
    * scc_size) with `scc` = the component's MAXIMUM vertex id — a label
    * defined by the graph alone, so the oracle derives the same labels
    * from the mutual-reachability closure without replaying the engine's
    * algorithm.
    *
    * Algorithm — trim + forward-max coloring (Orzan 2004; Slota,
    * Rajamanickam & Madduri IPDPS 2014 build distributed SCC from the
    * same pieces, trim + reachability):
    *  1. TRIM to fixpoint: a node with no in-edges or no out-edges in
    *     the active subgraph is a singleton SCC. On a webgraph this
    *     alone resolves the DAG part — typically most of the nodes.
    *     Runs as a DEGREE CASCADE (r13, the [[kcore]] degree-maintenance
    *     shape): per-node in/out degrees build once per outer round,
    *     then each cascade round keys every join on the (small) dead
    *     set — decrement survivors' degrees, drop the dead — so a deep
    *     tendril chain (real webgraphs: Broder's IN/OUT tendrils) costs
    *     O(chain length) broadcast joins, not chain-length full
    *     endpoint re-scans; eA/active shrink once at the fixpoint.
    *     (The r12 form re-scanned both endpoint sets per round; the
    *     cascade measured 0.66–0.70× of its wall, SCALE.md §Round-13.)
    *  2. COLOR to fixpoint: clr(v) = max(v, clr of in-neighbors) — at
    *     convergence clr(v) is the maximum active node that reaches v.
    *     Σclr is monotone increasing, so convergence is one scalar
    *     action per round (the [[connectedComponents]] discipline).
    *  3. EXTRACT: a root (clr(v)=v) is provably its SCC's max member;
    *     its SCC is the backward-BFS closure from it restricted to its
    *     own color (the color says the root reaches v, the backward walk
    *     says v reaches the root — mutual). All roots extract in ONE
    *     multi-source BFS: a candidate u joins root r's set iff
    *     (u, clr=r) exists in the color relation, a plain two-key
    *     semi-join, because colors partition the active nodes.
    *  4. Remove extracted nodes, repeat — each iteration extracts at
    *     least the max active node's SCC, so the loop terminates.
    *
    * At 100 TB: state is 8-16 bytes/node (node sets and (node, clr)
    * pairs — never reachability PAIRS, which is what makes the closure
    * oracle-only); every round is equi-joins + a max-agg on the node
    * key, map-side combined; all loop frames ride [[graft.Fence.cut]]
    * (trim/color/BFS depths are graph properties — the deep-loop
    * lineage rule from the HyperBall probe). Iteration count on real
    * webgraphs is small: one giant SCC, then trim eats the periphery
    * (Broder: ~28% core, most of the rest DAG). */
  def scc(edges: DataFrame): DataFrame = {
    val e0 = graft.Fence(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val allNodes = graft.Fence(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    var active = allNodes
    var eA = e0
    var nActive = active.count()
    // a superseded active / eA cut is released once its replacement has
    // materialized; allNodes and e0 are the pins the final label join
    // and the end of the op own
    def drop(old: DataFrame): Unit =
      if ((old ne allNodes) && (old ne e0)) graft.Fence.releaseCut(old)
    // move to a smaller active node set; eA keeps the edges inside it
    def shrink(next: Fenced): Unit = {
      val (prevA, prevE) = (active, eA)
      active = next.df; nActive = next.rows
      eA = graft.Fence.cut(prevE
        .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      drop(prevA); drop(prevE)
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // every outer round's extract accumulator — `parts` holds lazy
    // projections over their level leaves, so they are closed only after
    // the final label fence materializes (r17 delta-only extract)
    val extractAccs = scala.collection.mutable.ArrayBuffer.empty[DeltaAcc]
    while (nActive > 0) {
      // ---- 1. trim singleton SCCs (missing in- or out-edges) ----
      // degree cascade: one degree build per outer round, then each
      // cascade round touches eA only through joins against the dead
      // set (AQE broadcasts it); eA and active shrink ONCE, after the
      // fixpoint, not per round
      var dc = graft.Fence.counted(active
        .join(eA.groupBy(col("src").as("node")).agg(count(lit(1)).as("od")),
              Seq("node"), "left")
        .join(eA.groupBy(col("dst").as("node")).agg(count(lit(1)).as("id")),
              Seq("node"), "left")
        .select(col("node"),
          coalesce(col("od"), lit(0L)).as("od"),
          coalesce(col("id"), lit(0L)).as("id")), cut = true)
      var degs = dc.df
      var nDegs = dc.rows
      var trimming = true
      var anyDead = false
      var estAlive = nActive
      // every cascade round probes eA in full (no index to exploit —
      // a broadcast join still scans the probe side), so re-shrink eA
      // to the survivors each time the alive set loses another 25%:
      // O(log) amortized shrinks instead of the r12 form's per-round
      // shrink or no shrink at all (measured on the 5M tendril probe:
      // never-shrink 72 s, per-round scan 112 s)
      var lastShrink = nActive
      while (trimming) {
        // r16: the dead set is a lazy filter over the counted degs
        // leaf and the round's ONE fence (the updated degs) carries
        // the termination scalar as its count delta — the old round
        // cut AND counted the dead set separately (2 fences/round)
        val dead = degs.filter(col("od") === 0L || col("id") === 0L)
          .select("node")
        // an edge decrements the OPPOSITE endpoint's degree exactly
        // once: the round its endpoint dies (dead sets are disjoint
        // across rounds, eA is never rescanned in full)
        val decOut = eA.join(dead.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(count(lit(1)).as("dec_o"))
        val decIn = eA.join(dead.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(count(lit(1)).as("dec_i"))
        val prevDegs = degs
        val nPrev = nDegs
        dc = graft.Fence.counted(prevDegs
          .join(dead, Seq("node"), "left_anti")
          .join(decOut, Seq("node"), "left")
          .join(decIn, Seq("node"), "left")
          .select(col("node"),
            (col("od") - coalesce(col("dec_o"), lit(0L))).as("od"),
            (col("id") - coalesce(col("dec_i"), lit(0L))).as("id")), cut = true)
        degs = dc.df; nDegs = dc.rows
        graft.Fence.releaseCut(prevDegs)
        if (nPrev == nDegs) trimming = false
        else {
          anyDead = true
          estAlive = nDegs
          if (estAlive * 4L <= lastShrink * 3L) {
            val alive = degs.select("node")
            val prevEA = eA
            eA = graft.Fence.cut(prevEA
              .join(alive.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
              .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"))
            drop(prevEA)
            lastShrink = estAlive
          }
        }
      }
      if (anyDead) shrink(graft.Fence.counted(degs.select("node"), cut = true))
      graft.Fence.releaseCut(degs)
      if (nActive > 0) {
        // ---- 2. forward max-color propagation to fixpoint ----
        // r17 (verdict #2): the Σclr convergence scalar rides the round
        // cut's own materialization job ([[graft.Fence.counted]]'s `sum`)
        // — one plan + one job per round instead of two; superseded
        // color cuts are now released (the r14 deep-loop discipline —
        // the old loop let checkpoint blocks accumulate per round).
        val cs0 = graft.Fence.counted(
          active.withColumn("clr", col("node")), cut = true, sum = _.getLong(1))
        val colors = graft.Fence.iterate(cs0, cut = true, sum = _.getLong(1),
            stop = (prev, cur) => cur.sum == prev.sum) { (colors, _) =>
          val prop = eA.join(colors.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node")).agg(max(col("clr")).as("nclr"))
          colors.join(prop, Seq("node"), "left")
            .select(col("node"),
              greatest(col("clr"), coalesce(col("nclr"), col("clr"))).as("clr"))
        }._1.df
        graft.Fence.releaseCut(cs0.df)
        // ---- 3. multi-source backward BFS within each root's color ----
        // r17 DELTA-ONLY accumulation — see the [[harmonic]] note
        // (verdict #3): one size-adaptive delta cut per round, frontier
        // = newest level leaf, visited check = anti-join per level, no
        // O(|R|) reached-relation rewrite; the delta cut's own count is
        // the convergence scalar (empty delta ⇔ done).
        var rc = graft.Fence.counted(
          colors.filter(col("clr") === col("node")).select("node", "clr"),
          cut = true, delta = true)
        val acc = new DeltaAcc(rc.df)
        var nDelta = rc.rows // >= 1: the max active node is a root
        while (nDelta > 0) {
          val cand = eA
            .join(acc.frontier.withColumnRenamed("node", "dst"), "dst")
            .select(col("src").as("node"), col("clr")).distinct()
          val next = cand
            .join(colors, Seq("node", "clr"), "left_semi")
            .join(acc.seen("node"), Seq("node"), "left_anti")
          rc = graft.Fence.counted(next, cut = true, delta = true)
          acc.add(rc.df); nDelta = rc.rows
        }
        val reached = acc.all
        parts += reached.select(col("node"), col("clr").as("scc"))
        // `parts` and the peel below hold lazy projections over the
        // accumulator's level LEAVES, so the acc is closed only after
        // the final label fence materializes (end of the op); colors is
        // consumed only by the extract loop above and can drop now (r17
        // — the blocks-per-outer-round hygiene).
        extractAccs += acc
        graft.Fence.releaseCut(colors)
        // ---- 4. peel the extracted components off ----
        shrink(graft.Fence.counted(
          active.join(reached.select("node"), Seq("node"), "left_anti"), cut = true))
      }
    }
    drop(active); drop(eA)
    // trimmed nodes never enter `parts`: they are singletons labeled by
    // their own id (coalesce below). Label relation is multi-consumer
    // (size agg + final join) — fence it once.
    val lbl = graft.Fence(parts.reduceOption(_ union _) match {
      case Some(p) => allNodes.join(p, Seq("node"), "left")
        .select(col("node"), coalesce(col("scc"), col("node")).as("scc"))
      case None => allNodes.select(col("node"), col("node").as("scc"))
    })
    val sizes = lbl.groupBy("scc").agg(count(lit(1)).as("scc_size"))
    val keep = graft.Fence.cut(
      lbl.join(sizes, "scc").select(col("node"), col("scc"), col("scc_size")))
    graft.Fence.release(lbl)
    extractAccs.foreach(_.close())
    graft.Fence.release(allNodes); graft.Fence.release(e0)
    keep
  }

  /** EXT: strongly connected components of the fixture webgraph,
    * declared + oracled — the oracle computes the full reachability
    * closure with one recursive CTE and labels each node with the MAX of
    * its mutual-reachability set (provably the same label [[scc]]
    * assigns), so the hash gates the semantics, not the algorithm. */
  def qGraphScc(s: SparkSession, d: String): DataFrame =
    scc(graphEdges(s, d)).orderBy("node")

  /** EXT: BOWTIE decomposition (Broder et al. WWW 2000 — "Graph
    * structure in the web"): take the largest SCC as CORE (tie → lowest
    * label), classify every node as CORE / IN (reaches the core) / OUT
    * (reached from the core) / OTHER (tendrils + disconnected). The
    * published macro-map of any crawl corpus, and a curation signal: IN
    * and CORE pages are what link-following crawlers cover well, OUT and
    * OTHER is where coverage bias lives. Forward/backward closures are
    * frontier BFS over NODE SETS (8 bytes/node state — linear, unlike
    * the oracle's pair closure), fence-cut per round. PUBLIC entry;
    * output (node, scc, cls). */
  def bowtie(edges: DataFrame): DataFrame = {
    val labels = graft.Fence(scc(edges))
    val coreRow = labels.select("scc", "scc_size").distinct()
      .orderBy(col("scc_size").desc, col("scc")).limit(1).collect()
    if (coreRow.isEmpty) { // empty graph: no SCC to anchor the map on
      val keep = graft.Fence.cut(
        labels.select(col("node"), col("scc"), lit("OTHER").as("cls")))
      graft.Fence.release(labels)
      return keep
    }
    val core = coreRow(0).getLong(0)
    val e = graft.Fence(edges)
    // counted cut (r16): the fence materialization IS the frontier-size
    // read — no per-round recount job
    val Fenced(coreSet, nCore, _, _) = graft.Fence.counted(
      labels.filter(col("scc") === core).select("node"), cut = true)
    // frontier BFS over node sets; direction = which edge end we follow.
    // r17 DELTA-ONLY accumulation — see the [[harmonic]] note (verdict
    // #3): one size-adaptive delta cut per round, frontier = newest
    // level leaf, visited check = anti-join of the level-leaf union, no
    // O(|seen|) rewrite per round; the delta count is the convergence
    // scalar (empty delta ⇔ closure complete). Returns the accumulator
    // (leaves still live — the caller reads the lazy union and closes it
    // after its own fence materializes).
    def closure(follow: String, from: String): DeltaAcc = {
      // the seed (coreSet) is SHARED by both closures and released by
      // the caller — the acc must never fold-release or close it
      val acc = new DeltaAcc(coreSet, sharedSeed = true)
      var nDelta = nCore
      while (nDelta > 0) {
        val nxt = e.join(acc.frontier.withColumnRenamed("node", from), from)
          .select(col(follow).as("node")).distinct()
          .join(acc.seen("node"), Seq("node"), "left_anti")
        val sc = graft.Fence.counted(nxt, cut = true, delta = true)
        acc.add(sc.df); nDelta = sc.rows
      }
      acc
    }
    val fwdAcc = closure(follow = "dst", from = "src") // reached FROM core
    val bwdAcc = closure(follow = "src", from = "dst") // reaches the core
    val fwd = fwdAcc.all.select("node")
    val bwd = bwdAcc.all.select("node")
    val keep = graft.Fence.cut(labels
      .join(bwd.withColumn("in_b", lit(1)), Seq("node"), "left")
      .join(fwd.withColumn("in_f", lit(1)), Seq("node"), "left")
      .select(col("node"), col("scc"),
        when(col("scc") === core, "CORE")
          .when(col("in_b").isNotNull, "IN")
          .when(col("in_f").isNotNull, "OUT")
          .otherwise("OTHER").as("cls")))
    fwdAcc.close(); bwdAcc.close()
    graft.Fence.releaseCut(coreSet)
    graft.Fence.release(labels); graft.Fence.release(e)
    keep
  }

  /** EXT: bowtie map of the fixture webgraph, declared + oracled (the
    * oracle reuses the scc closure: core = arg-max component, IN/OUT =
    * backward/forward members of the pair closure). */
  def qGraphBowtie(s: SparkSession, d: String): DataFrame =
    bowtie(graphEdges(s, d)).orderBy("node")

  /** Bounded-hop cheapest paths from a seed set over a weighted digraph
    * — the TrustRank-style distance signal (Gyöngyi et al. VLDB 2004
    * seed-propagate trust; hop-bounded link distance from a whitelist is
    * the simplest form): every node gets the cheapest ≤`rounds`-hop cost
    * to ANY seed plus the arg-min seed itself. PUBLIC entry.
    *
    * Engine-exactness: state is ONE BIGINT per node — enc = dist·2⁴⁰ +
    * seed — so `min(enc)` IS the lexicographic (dist, seed) arg-min:
    * order-independent, tie-broken by lowest seed id, bit-equal in both
    * engines (caller contract: seed ids < 2⁴⁰, weights positive
    * integers). Each round relaxes every out-edge of the reached set
    * (one equi-join) and folds with `groupBy(node).min(enc)` — map-side
    * combined, the Bellman-Ford round as one shuffle. Fixed `rounds`
    * keeps the op oracle-able (the oracle unrolls the same rounds); at
    * webgraph scale the reached relation is 16 bytes/node and the round
    * cost is bounded by the frontier's out-edges, exactly the
    * [[harmonic]] BFS shape but with LINEAR state (no pair relation). */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
                    rounds: Int): DataFrame = {
    val S = 1099511627776L // 2^40: dist·S + seed, lexicographic under min
    val e = graft.Fence(edges.select(col("src"), col("dst"), col("w")))
    val init = graft.Fence.counted(seeds.select(col("node")).distinct()
      .withColumn("enc", col("node")), cut = false) // dist 0 ⇒ enc = seed id
    val (dist, _) = graft.Fence.iterate(init, cut = false, maxRounds = rounds) { (dist, _) =>
      val relax = e.join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          ((expr(s"enc DIV $S") + col("w")) * lit(S) + expr(s"enc % $S")).as("enc"))
      dist.union(relax).groupBy("node").agg(min("enc").as("enc"))
    }
    val keep = graft.Fence.cut(dist.df)
    graft.Fence.release(dist.df); graft.Fence.release(init.df); graft.Fence.release(e)
    keep
  }

  /** EXT: trust distance over the fixture webgraph — seeds = the PPR
    * whitelist (node ≡ 0 mod 10), integer weights w = 1 + (src+dst) % 7,
    * 6 relaxation rounds; unreached nodes surface with NULL dist/seed.
    * The oracle unrolls all 6 rounds with the identical enc arithmetic. */
  def qGraphSssp(s: SparkSession, d: String): DataFrame = {
    val S = 1099511627776L
    val edges = graphEdges(s, d)
      .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7L)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val seeds = nodes.filter(col("node") % 10 === 0)
    nodes.join(shortestPaths(edges, seeds, rounds = 6), Seq("node"), "left")
      .select(col("node"),
        expr(s"enc DIV $S").as("dist"),
        expr(s"enc % $S").as("seed"))
      .orderBy("node")
  }

  /** Link prediction by the resource-allocation index (Zhou, Lü &
    * Zhang EPJ B 2009 — the strongest of the classic local indices):
    * for each non-adjacent pair (a, b), RA = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)
    * — common neighbors weighted inversely by how promiscuous they are.
    * The crawl-pipeline use is host-graph curation: predicted-but-absent
    * links rank candidate seeds, and a document whose host suddenly
    * acquires links its RA score never predicted is an anomaly signal.
    * PUBLIC entry; input symmetrized, output the global top-k by
    * (ra_fp desc, a, b).
    *
    * Engine-exactness: contributions are `scale DIV deg(z)` BIGINT
    * floor divisions — order-independent sums, bit-equal oracle.
    *
    * Scale: the wedge join through a middle vertex z fans out deg(z)²
    * pairs — on a power-law webgraph the top hub alone would dominate
    * the shuffle (the last-reducer curse, same pathology [[triangles]]
    * orients away). RA's OWN weighting justifies the standard fix:
    * wedges through z with deg(z) > `cap` are dropped ENTIRELY — each
    * would contribute < scale/cap per pair (bounded, documented loss;
    * with cap=64 that is <1.6% of one unit-degree contribution) and the
    * fan-out bound becomes cap² per middle vertex. The cap is part of
    * the operator's semantics, replayed by the oracle, so the result
    * stays exact-by-definition. The final top-k compiles to
    * TakeOrderedAndProject — per-partition heaps, no global sort. */
  def linkPrediction(edges: DataFrame, cap: Long = 64L, k: Int = 100,
                     scale: Long = 1000000L): DataFrame = {
    val und = graft.Fence(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val mid = deg.filter(col("d") <= cap) // hub cap: see scaladoc
    // wedge x–z–y with x < y, z mid-capped, carrying deg(z)
    val wedges = und.select(col("a").as("z"), col("b").as("x"))
      .join(und.select(col("a").as("z"), col("b").as("y")), "z")
      .filter(col("x") < col("y"))
      .join(mid.select(col("node").as("z"), col("d")), "z")
    val scored = wedges.groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("cn"), sum(expr(s"$scale DIV d")).as("ra_fp"))
      // predict NEW links only: drop already-adjacent pairs (und holds
      // both directions, so one orientation check suffices)
      .join(und, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_fp").desc, col("a"), col("b"))
      .limit(k)
    val keep = graft.Fence.cut(scored)
    graft.Fence.release(und)
    keep
  }

  /** EXT: top-100 predicted links of the fixture webgraph, declared +
    * oracled (identical wedge derivation, hub cap, and integer RA in
    * plain SQL). */
  def qGraphLinkpred(s: SparkSession, d: String): DataFrame =
    linkPrediction(graphEdges(s, d))

  /** EXT: the GRAPH PROFILE — the one-row summary every webgraph
    * release publishes (Common Crawl's host-graph stats page carries
    * exactly these: node/edge counts, dangling share, reciprocity,
    * degree extremes) and the first thing a pipeline computes on a new
    * crawl's link graph: reciprocity and max-degree shifts are the
    * cheap canaries for crawler loops and link-farm injection.
    * Reciprocity = edges whose reverse also exists, as ppm (the
    * Newman definition restricted to the deduped digraph); dangling =
    * nodes with out-degree 0. Everything is counts + one self-join on
    * the edge key — map-side combined, one row out. */
  def qGraphStats(s: SparkSession, d: String): DataFrame = {
    val e = graft.Fence(graphEdges(s, d))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val odeg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val ideg = e.groupBy("dst").agg(count(lit(1)).as("d"))
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val out = nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_recip"))))
      .crossJoin(broadcast(odeg.agg(max(col("d")).as("max_odeg"))))
      .crossJoin(broadcast(ideg.agg(max(col("d")).as("max_ideg"))))
      .crossJoin(broadcast(
        nodes.join(odeg.select(col("src").as("node")), Seq("node"), "left_anti")
          .agg(count(lit(1)).as("n_dangling"))))
      .select(col("n_nodes"), col("n_edges"),
        col("n_recip"), expr("n_recip * 1000000 DIV n_edges").as("recip_ppm"),
        col("n_dangling"), col("max_odeg"), col("max_ideg"))
    val keep = graft.Fence.cut(out)
    graft.Fence.release(e)
    keep
  }

  /** Hop-bounded, source-sampled BETWEENNESS centrality — the bridge
    * detector (a node with high betweenness carries traffic between
    * communities; in crawl curation it flags aggregator/portal hosts
    * whose removal fragments the graph). Exact betweenness is
    * O(n·m) (Brandes 2001); production uses source SAMPLING (Brandes &
    * Pich 2007) and a hop bound (k-betweenness, Pfeffer & Carley 2012)
    * — both are part of this operator's declared semantics, so the
    * oracle replays them and the result is exact-by-definition.
    *
    * Per sampled source s, the Brandes two-phase sweep:
    *  1. forward multi-source BFS carrying σ(s,v) = #shortest s→v
    *     paths: layer d's σ is one frontier⋈edges join + a (s,v)
    *     sum-agg (σ is a plain integer sum over layer-(d−1)
    *     predecessors), first-discovery gated by an anti-join against
    *     the accumulated pair relation — the [[harmonic]] shape plus a
    *     σ column.
    *  2. backward dependency accumulation, deepest layer first:
    *     δ(s,v) = Σ_{v→w, d(w)=d(v)+1} σ(s,v)·(scale + δ(s,w)) DIV σ(s,w)
    *     in fixed point — each edge term is one integer
    *     multiply-floor-divide with the product staged through
    *     DECIMAL(38,0) (σ grows with hub-degree^depth, so the BIGINT
    *     product wraps on skewed topologies — r12 verdict #2; GraphSpec
    *     plants a bipartite-funnel overflow case against BigInt), so
    *     the distributed sum is order-independent and both engines
    *     agree bit-for-bit.
    *  B(v) = Σ_{s≠v} δ(s,v).
    *
    * At 100 TB: state is the (s, v, d, σ) pair relation — |sample| ×
    * ball size, the harmonic trade — and each phase step is one
    * equi-join + one hash-agg; phase 2 runs exactly `depth` rounds over
    * per-layer slices of the fenced pair relation. Sample size and
    * depth are the accuracy/cost dials (Brandes-Pich: ~hundreds of
    * sources suffice for rank stability at web scale). */
  def betweenness(edges: DataFrame, seeds: DataFrame, depth: Int,
                  scale: Long = 1000000L): DataFrame = {
    val e = graft.Fence(edges.select(col("src"), col("dst")).distinct())
    // forward: R = (s, v, d, sig), first-discovery BFS with path counts
    // r16 optimization: per-round DELTA fences instead of re-cutting the
    // whole accumulated (s, v, d, sig) relation every round (see the
    // [[harmonic]] note) — and the backward phase reads each layer's
    // OWN fence directly instead of filtering the accumulation by depth.
    // (r17: delta cuts are size-adaptive — `delta` [[graft.Fence.counted]]
    // cuts — so the k-level seen union scans k small leaves, not
    // k × parallelism near-empty partitions)
    val levels = scala.collection.mutable.ArrayBuffer(
      graft.Fence.counted(seeds.select(col("node").as("s")).distinct()
        .select(col("s"), col("s").as("v"), lit(0).as("d"), lit(1L).as("sig")),
        cut = true, delta = true).df)
    var frontier = levels.head
    (1 to depth).foreach { dd =>
      val seen = levels.reduce(_ union _)
      val next = frontier
        .join(e.withColumnRenamed("src", "v"), "v")
        .groupBy(col("s"), col("dst").as("v"))
        .agg(sum(col("sig")).as("sig"))
        .join(seen.select("s", "v"), Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(dd).as("d"), col("sig"))
      frontier = graft.Fence.counted(next, cut = true, delta = true).df
      levels += frontier
    }
    // backward: δ per layer, deepest first; layer `depth` seeds δ = 0
    val deltaSeed = graft.Fence.counted(levels(depth)
      .select(col("s"), col("v"), col("sig"), lit(0L).as("dfp")), cut = true, delta = true).df
    var deltaUp = deltaSeed
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    ((depth - 1) to 0 by -1).foreach { dd =>
      val contrib = e
        .join(deltaUp.select(col("s"), col("v").as("dst"),
          col("sig").as("sigw"), col("dfp").as("dfpw")), "dst")
        .select(col("s"), col("src").as("v"),
          col("sigw"), col("dfpw"))
      val layer = graft.Fence.counted(
        levels(dd).select(col("s"), col("v"), col("sig"))
          .join(contrib, Seq("s", "v"), "left")
          .groupBy(col("s"), col("v"), col("sig"))
          // σ·(scale+δ) staged through DECIMAL(38,0) (r12 verdict #2):
          // σ grows with hub-degree^depth and δ with downstream pair
          // count, so the BIGINT product wraps on skewed topologies at
          // exactly the web scale the sampler targets; decimal keeps the
          // product exact, and a δ that itself exceeds BIGINT fails
          // loudly in the SUM under ANSI rather than wrapping.
          .agg(coalesce(sum(
            expr(s"CAST((CAST(sig AS DECIMAL(38,0)) * ($scale + dfpw)) DIV sigw AS BIGINT)")),
            lit(0L)).as("dfp")), cut = true, delta = true).df
      layers += layer
      deltaUp = layer
    }
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val acc = layers.reduce(_ union _)
      .filter(col("v") =!= col("s"))
      .groupBy(col("v").as("node")).agg(sum(col("dfp")).as("bc_fp"))
    val keep = graft.Fence.cut(
      allNodes.join(acc, Seq("node"), "left")
        .select(col("node"), coalesce(col("bc_fp"), lit(0L)).as("bc_fp")))
    (levels ++ layers :+ deltaSeed).foreach(graft.Fence.releaseCut)
    graft.Fence.release(e)
    keep
  }

  /** EXT: 3-hop betweenness from the mod-25 source sample over the
    * fixture webgraph, declared + oracled (forward layers and backward
    * dependency rounds both unrolled; every δ term is the identical
    * BIGINT multiply-floor-divide). */
  def qGraphBetweenness(s: SparkSession, d: String): DataFrame = {
    val edges = graphEdges(s, d)
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct().filter(col("node") % 25 === 0)
    betweenness(edges, seeds, depth = 3).orderBy("node")
  }

  /** EXT: MODULARITY of the LPA communities — the standard quality
    * readout for any community assignment (Newman 2004): per community
    * c, Q_c = intra_c/2m − (deg_c/2m)², with intra_c counting both
    * directions of each within-community edge and 2m = |symmetrized
    * edge rows|. A curation pipeline uses this as the canary on its
    * community structure: modularity collapsing between crawls means
    * the label pass is fragmenting (or a link farm has glued
    * communities together).
    *
    * Fixed-point exactness: Q contributions in 1e9 units ("nano-Q");
    * EVERY term runs in DECIMAL(38,0) (HUGEINT oracle-side) — term 2
    * squares deg_c (up to (2m)²), its DIVISOR squares 2m itself, and
    * term 1 multiplies intra·scale (past BIGINT at intra > 9.2e9, one
    * giant community); all three exceed BIGINT exactly at the webgraph
    * sizes this op exists for (r12 verdict #1: the divisor was a
    * driver-side Scala Long product that WRAPPED SILENTLY past
    * 2m ≈ 3.04e9 — a Common Crawl host graph is ~5e9 symmetrized rows).
    * GraphSpec plants counts past both thresholds against a BigInt
    * ground truth (the [[TextOps.hamiltonAlloc]] precedent). One labels
    * join + two grouped aggregates over the symmetrized edge relation;
    * everything else is community-sized. */
  def qGraphModularity(s: SparkSession, d: String): DataFrame = {
    val edges = graphEdges(s, d)
    modularity(edges, labelPropagation(edges, iters = 4)).orderBy("community")
  }

  /** PUBLIC modularity entry over an arbitrary (node, community)
    * assignment — see [[qGraphModularity]] for semantics and the
    * fixed-point/overflow contract. */
  def modularity(edges: DataFrame, labelsIn: DataFrame,
                 scale: Long = 1000000000L): DataFrame = {
    val und = graft.Fence(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val twoM = und.count() // one bounded driver scalar
    val labels = graft.Fence(labelsIn.select("node", "community"))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("dg"))
    val degC = labels.join(deg, "node")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("deg_c"))
    val intra = und
      .join(labels.select(col("node").as("a"), col("community").as("ca")), "a")
      .join(labels.select(col("node").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra"))
    val out = modularityFromStats(
      degC.join(intra, Seq("community"), "left")
        .select(col("community"), col("n_nodes"),
          coalesce(col("intra"), lit(0L)).as("intra"), col("deg_c")),
      twoM, scale).orderBy("community")
    val keep = graft.Fence.cut(out)
    graft.Fence.release(labels); graft.Fence.release(und)
    keep
  }

  /** The Q-contribution arithmetic over an aggregated
    * (community, n_nodes, intra, deg_c) relation — factored from
    * [[modularity]] so the spec can plant synthetic counts AT the
    * overflow scales (no fixture that size; the
    * [[TextOps.hamiltonAlloc]] precedent). Both terms AND the term-2
    * divisor are staged through DECIMAL(38,0): intra·scale wraps BIGINT
    * at intra > 9.2e9, deg_c² at deg_c > 3.04e9, and twoM² — formerly a
    * silently-wrapping driver-side Scala Long product (r12 verdict #1)
    * — at 2m > 3.04e9. */
  private[graft] def modularityFromStats(stats: DataFrame, twoM: Long,
                                         scale: Long): DataFrame =
    stats.select(col("community"), col("n_nodes"), col("intra"), col("deg_c"),
      (expr(s"CAST((CAST(intra AS DECIMAL(38,0)) * ${scale}L)" +
            s" DIV CAST(${twoM}L AS DECIMAL(38,0)) AS BIGINT)") -
       expr(s"CAST((CAST(deg_c AS DECIMAL(38,0)) * CAST(deg_c AS DECIMAL(38,0)) * ${scale}L)" +
            s" DIV (CAST(${twoM}L AS DECIMAL(38,0)) * ${twoM}L) AS BIGINT)"))
        .as("q_contrib_fp"))

  /** EXT: distance distribution + EFFECTIVE DIAMETER (the 90th-
    * percentile pairwise distance — the statistic graph releases
    * publish next to node/edge counts; Leskovec et al.'s
    * densification/shrinking-diameter work made it the standard
    * macro-shape readout, and a crawl whose effective diameter jumps
    * between snapshots has changed its link topology). Bounded-radius
    * exact form over the fixture graph: the [[harmonic]] multi-source
    * BFS pair relation reduced to one row per distance — n_pairs,
    * cumulative, and the d90 flag (first d where cum·10 ≥ total·9).
    * The unbounded scale path is [[diameterHyperBall]] (r13): the same
    * readout off the HyperBall neighborhood function at constant
    * per-vertex state — Boldi & Vigna run exactly that to publish web
    * effective diameters; the exact form here is the semantics that
    * leg is spec-gated against. */
  def qGraphDiameter(s: SparkSession, d: String): DataFrame = {
    val depth = 6
    val e = graft.Fence(graphEdges(s, d).select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // r17 DELTA-ONLY accumulation — see the [[harmonic]] note (verdict
    // #3): one size-adaptive delta cut per round, frontier = newest
    // level leaf, visited check = anti-join against the [[DeltaAcc]]'s
    // bounded union of level leaves, no O(|R|) accumulated-relation
    // rewrite per round.
    val acc = new DeltaAcc(
      graft.Fence.counted(nodes.select(col("node").as("src"),
        col("node").as("v"), lit(0).as("d")), cut = true, delta = true).df)
    (1 to depth).foreach { dd =>
      val next = acc.frontier.join(e.withColumnRenamed("src", "v"), "v")
        .select(col("src"), col("dst").as("v"))
        .distinct()
        .join(acc.seen("src", "v"), Seq("src", "v"), "left_anti")
        .withColumn("d", lit(dd))
      acc.add(graft.Fence.counted(next, cut = true, delta = true).df)
    }
    val dist = acc.all.filter(col("d") > 0)
      .groupBy(col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val out = dist
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .crossJoin(broadcast(dist.agg(sum(col("n_pairs")).as("tot"))))
      .select(col("d"), col("n_pairs"), col("cum_pairs"),
        when(col("cum_pairs") * 10 >= col("tot") * 9, 1L).otherwise(0L)
          .as("reached_90"))
      .orderBy("d")
    val keep = graft.Fence.cut(out)
    acc.close()
    graft.Fence.release(e)
    keep
  }

  /** EXT: HyperBall effective diameter, declared + oracled with the A7
    * checked-bound convention (the [[qGraphHyperball]] shape): the
    * exact [[qGraphDiameter]] distribution IS the hashed payload; the
    * [[diameterHyperBall]] scale path rides along as two CHECKED
    * bounds — cumulative pair estimate within 10% of exact at EVERY
    * probed depth (observed 0.3-0.5% on the fixture) and the d90
    * statistic agreeing exactly. Deterministic registers → stable
    * booleans; oracle replays the exact form and pins TRUE. */
  def qGraphDiameterHb(s: SparkSession, d: String): DataFrame = {
    val exact = qGraphDiameter(s, d)
    val est = diameterHyperBall(graphEdges(s, d), depth = 6)
      .select(col("d"), col("cum_pairs_est"), col("reached_90").as("r90_est"))
    val joined = graft.Fence(exact.join(est, "d"))
    val bounds = joined.agg(
      max(abs(col("cum_pairs_est") - col("cum_pairs")) /
          col("cum_pairs").cast("double")).as("max_err"),
      min(when(col("reached_90") === 1L, col("d"))).as("d90_exact"),
      min(when(col("r90_est") === 1L, col("d"))).as("d90_est"))
    val out = exact.crossJoin(broadcast(bounds))
      .select(col("d"), col("n_pairs"), col("cum_pairs"), col("reached_90"),
        (col("max_err") <= lit(0.10) && col("d90_exact") === col("d90_est"))
          .as("within_bound"))
      .orderBy("d")
    val keep = graft.Fence.cut(out)
    graft.Fence.release(joined)
    keep
  }

  /** Full CORE DECOMPOSITION — coreness(v) = the largest k such that v
    * survives the k-core peel (Seidman 1983; the degeneracy ordering
    * that coreness induces drives clique-finding, graph drawing, and —
    * in crawl curation — separates deeply-embedded hub communities
    * from peripherally-attached spam rings better than raw degree).
    * Strictly stronger than the [[kcore]] membership flag: one pass
    * yields every k's core simultaneously.
    *
    * Algorithm: incremental peel over increasing k — because the
    * (k+1)-core is contained in the k-core, the k-level cascade runs
    * on the SURVIVORS of level k−1, so the total work is one shrinking
    * sequence of cascades, not kMax independent peels. Nodes dropped
    * at level k have coreness k−1; `kMax` caps the decomposition (the
    * declared query's oracle unrolls per-level peels, so the cap is
    * part of the declared semantics — survivors of level kMax report
    * coreness kMax). One scalar count per cascade round, alive frames
    * on [[graft.Fence.cut]] (degeneracy cascades are the deep-loop
    * case, the [[kcore]] rule). */
  def coreness(edges: DataFrame, kMax: Int): DataFrame = {
    val und = graft.Fence(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b")).distinct())
    val nodes = graft.Fence.counted(
      und.select(col("a").as("node")).distinct(), cut = false)
    def coreDeg(alive: DataFrame): DataFrame = und
      .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("dc"))
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // every level's entry frame, the last one the current survivor: the
    // lazy `parts` read them until the final cut materializes
    val levels = scala.collection.mutable.ArrayBuffer(nodes)
    var k = 1
    while (k <= kMax && levels.last.rows > 0) {
      val atEntry = levels.last
      levels += graft.Fence.iterate(atEntry, cut = true,
          stop = (prev, cur) => cur.rows == prev.rows || cur.rows == 0) { (alive, _) =>
        coreDeg(alive).filter(col("dc") >= k).select("node")
      }._1
      parts += atEntry.df.join(levels.last.df, Seq("node"), "left_anti")
        .select(col("node"), lit(k - 1L).as("coreness"))
      k += 1
    }
    if (levels.last.rows > 0)
      parts += levels.last.df.select(col("node"), lit(kMax.toLong).as("coreness"))
    // empty/self-loop-only edge relation → no levels ran and parts is
    // empty; fall back to the (empty) node set rather than throwing
    // (the scc reduceOption precedent — r12 advice)
    val keep = graft.Fence.cut(parts.reduceOption(_ union _)
      .getOrElse(nodes.df.select(col("node"), lit(0L).as("coreness"))))
    levels.foreach(l => graft.Fence.releaseCut(l.df)); graft.Fence.release(und)
    keep
  }

  /** EXT: coreness of the fixture webgraph, kMax = 6, declared +
    * oracled — the oracle peels each level independently with 12
    * unrolled MATERIALIZED rounds (idempotent at fixpoint, the
    * [[qGraphKcore]] precedent) and reads coreness as the deepest
    * surviving level. */
  def qGraphCoreness(s: SparkSession, d: String): DataFrame =
    coreness(graphEdges(s, d), kMax = 6).orderBy("node")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_coreness"   -> (qGraphCoreness _),
    "q_graph_diameter"   -> (qGraphDiameter _),
    "q_graph_diameter_hb" -> (qGraphDiameterHb _),
    "q_graph_pagerank_w" -> (qGraphPagerankW _),
    "q_graph_modularity" -> (qGraphModularity _),
    "q_graph_pagerank"   -> (qGraphPagerank _),
    "q_graph_pr_refresh" -> (qGraphPrRefresh _),
    "q_graph_ppr"        -> (qGraphPpr _),
    "q_graph_harmonic"   -> (qGraphHarmonic _),
    "q_graph_hyperball"  -> (qGraphHyperball _),
    "q_graph_components" -> (qGraphComponents _),
    "q_graph_triangles"  -> (qGraphTriangles _),
    "q_graph_walks"      -> (qGraphWalks _),
    "q_graph_skipgram"   -> (qGraphSkipgram _),
    "q_curate_hostrank"  -> (qCurateHostrank _),
    "q_graph_hits"       -> (qGraphHits _),
    "q_graph_kcore"      -> (qGraphKcore _),
    "q_graph_lpa"        -> (qGraphLpa _),
    "q_graph_scc"        -> (qGraphScc _),
    "q_graph_bowtie"     -> (qGraphBowtie _),
    "q_graph_sssp"       -> (qGraphSssp _),
    "q_graph_linkpred"   -> (qGraphLinkpred _),
    "q_graph_stats"      -> (qGraphStats _),
    "q_graph_betweenness" -> (qGraphBetweenness _)
  )

  // fixture reachability closure + mutual-reachability SCC labels — the
  // shared body of the scc and bowtie oracles. MATERIALIZED: reach is
  // self-joined (mutual pairs) and re-read by fwd/bwd.
  private val duckSccBody: String =
    s"""reach(s, t) AS (SELECT src, dst FROM e
       |  UNION SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t),
       |rr AS MATERIALIZED (SELECT s, t FROM reach),
       |m AS (SELECT a.s AS v, a.t AS u FROM rr a JOIN rr b ON a.s = b.t AND a.t = b.s),
       |lbl AS MATERIALIZED (
       |  SELECT n.node, GREATEST(n.node, COALESCE(MAX(m.u), n.node)) AS scc
       |  FROM nodes n LEFT JOIN m ON m.v = n.node GROUP BY n.node),
       |sz AS (SELECT scc, CAST(COUNT(*) AS BIGINT) AS scc_size
       |       FROM lbl GROUP BY scc)""".stripMargin

  // one unrolled peel round at threshold k (level-namespaced): the
  // qGraphKcore 12-round idempotent-at-fixpoint convention, once per
  // coreness level
  private def duckPeelRoundAt(k: Int, i: Int): String =
    s"""c${k}_$i AS MATERIALIZED (SELECT u.a AS node FROM und u
       |        JOIN c${k}_${i - 1} x ON u.a = x.node
       |        JOIN c${k}_${i - 1} y ON u.b = y.node
       |        GROUP BY u.a HAVING COUNT(*) >= $k)""".stripMargin

  private def duckCorenessLevel(k: Int): String =
    (s"c${k}_0 AS (SELECT DISTINCT a AS node FROM und)" +:
      (1 to 12).map(duckPeelRoundAt(k, _))).mkString(",\n")

  // one unrolled forward Brandes layer: σ summed over layer-(i−1)
  // predecessors, first-discovery gated on the accumulated pair set
  private def duckBrandesFwd(i: Int): String =
    s"""l$i AS MATERIALIZED (
       |  SELECT f.s, e.dst AS v, CAST(SUM(f.sig) AS BIGINT) AS sig
       |  FROM l${i - 1} f JOIN e ON e.src = f.v
       |  WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} x WHERE x.s = f.s AND x.v = e.dst)
       |  GROUP BY f.s, e.dst),
       |r$i AS MATERIALIZED (SELECT * FROM r${i - 1}
       |  UNION ALL SELECT s, v, $i AS d, sig FROM l$i)""".stripMargin

  // one unrolled backward dependency round: δ(v) over layer-(i+1)
  // successors, each term the shared multiply-floor-divide with σ·(scale
  // +δ) staged through HUGEINT (mirrors the engine's DECIMAL(38,0))
  private def duckBrandesBwd(i: Int, scale: Long): String =
    s"""b$i AS MATERIALIZED (
       |  SELECT l.s, l.v, l.sig,
       |    COALESCE(CAST(SUM((CAST(l.sig AS HUGEINT) * ($scale + w.dfp)) // w.sig) AS BIGINT), 0) AS dfp
       |  FROM l$i l LEFT JOIN e ON e.src = l.v
       |       LEFT JOIN b${i + 1} w ON w.s = l.s AND w.v = e.dst
       |  GROUP BY l.s, l.v, l.sig)""".stripMargin

  // one unrolled Bellman-Ford round over the enc = dist*2^40 + seed state
  private def duckSsspRound(i: Int): String =
    s"""d$i AS (SELECT node, MIN(enc) AS enc FROM (
       |  SELECT node, enc FROM d${i - 1}
       |  UNION ALL
       |  SELECT ew.dst AS node,
       |         ((d.enc // 1099511627776) + ew.w) * 1099511627776
       |           + (d.enc % 1099511627776) AS enc
       |  FROM ew JOIN d${i - 1} d ON ew.src = d.node) GROUP BY node)""".stripMargin

  // one unrolled HITS round: authority half then hub half, each a
  // gather-sum + HUGEINT-staged multiply-floor-divide normalization.
  // MATERIALIZED: ar/hr are each referenced twice (score + normalizer
  // scalar subquery) — without it DuckDB inlines the whole prior-round
  // tree per reference and the expansion is 2^rounds base scans.
  private def duckHitsRound(i: Int): String =
    s"""ar$i AS MATERIALIZED (SELECT nodes.node, COALESCE(x.raw, 0) AS raw FROM nodes
       |         LEFT JOIN (SELECT e.dst AS node, SUM(h.hub) AS raw
       |                    FROM e JOIN h${i - 1} h ON e.src = h.node
       |                    GROUP BY e.dst) x ON nodes.node = x.node),
       |a$i AS (SELECT node,
       |          CAST(CAST(raw AS HUGEINT) * 1000000000000
       |               // (SELECT SUM(raw) FROM ar$i) AS BIGINT) AS auth
       |        FROM ar$i),
       |hr$i AS (SELECT nodes.node, COALESCE(x.raw, 0) AS raw FROM nodes
       |         LEFT JOIN (SELECT e.src AS node, SUM(a.auth) AS raw
       |                    FROM e JOIN a$i a ON e.dst = a.node
       |                    GROUP BY e.src) x ON nodes.node = x.node),
       |h$i AS (SELECT node,
       |          CAST(CAST(raw AS HUGEINT) * 1000000000000
       |               // (SELECT SUM(raw) FROM hr$i) AS BIGINT) AS hub
       |        FROM hr$i)""".stripMargin

  // one unrolled peel round over the symmetrized fixture graph.
  // MATERIALIZED: each round reads the previous alive set TWICE (one
  // semi-join per endpoint) — inlined, the 12-round unroll would expand
  // to 2^12 base scans (measured: DuckDB exhausts its file-handle
  // budget re-opening the parquet).
  private def duckPeelRound(i: Int): String =
    s"""a$i AS MATERIALIZED (SELECT u.a AS node, COUNT(*) AS dg FROM und u
       |        JOIN a${i - 1} x ON u.a = x.node
       |        JOIN a${i - 1} y ON u.b = y.node
       |        GROUP BY u.a HAVING COUNT(*) >= 3)""".stripMargin

  // one unrolled LPA round: neighbor-label counts + deterministic pick
  private def duckLpaRound(i: Int): String =
    s"""c$i AS (SELECT u.a, l.lbl, COUNT(*) AS c FROM und u
       |        JOIN l${i - 1} l ON u.b = l.node GROUP BY u.a, l.lbl),
       |l$i AS (SELECT a AS node, lbl FROM
       |        (SELECT a, lbl,
       |           ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, lbl) AS rn
       |         FROM c$i) WHERE rn = 1)""".stripMargin

  private val duckUndirected =
    s"""und AS MATERIALIZED (SELECT DISTINCT a, b FROM
       |        (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e))""".stripMargin

  // one unrolled PageRank round in DuckDB SQL (integer // = Spark DIV);
  // `p` names the previous round's rank CTE, the result CTE is `r$i`
  private def duckRound(i: Int, p: String): String =
    s"""d$i AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dm FROM $p
       |        LEFT JOIN deg ON $p.node = deg.src WHERE deg.src IS NULL),
       |m$i AS (SELECT e.dst AS node, CAST(SUM($p.rank // e.odeg) AS BIGINT) AS m
       |        FROM e JOIN $p ON e.src = $p.node GROUP BY e.dst),
       |r$i AS (SELECT nodes.node,
       |          CAST((SELECT tp FROM consts) +
       |          (85 * (COALESCE(m$i.m, 0) + (SELECT dm FROM d$i) // (SELECT n FROM nn)))
       |            // 100 AS BIGINT) AS rank
       |        FROM nodes LEFT JOIN m$i ON nodes.node = m$i.node)""".stripMargin

  // one unrolled WEIGHTED PageRank round: contribution = (rank·w) // Σw
  // (rank·w staged through HUGEINT, mirroring the engine's DECIMAL(38,0))
  private def duckRoundW(i: Int, p: String): String =
    s"""d$i AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dm FROM $p
       |        LEFT JOIN deg ON $p.node = deg.src WHERE deg.src IS NULL),
       |m$i AS (SELECT e.dst AS node, CAST(SUM((CAST($p.rank AS HUGEINT) * e.w) // e.odeg) AS BIGINT) AS m
       |        FROM e JOIN $p ON e.src = $p.node GROUP BY e.dst),
       |r$i AS (SELECT nodes.node,
       |          CAST((SELECT tp FROM consts) +
       |          (85 * (COALESCE(m$i.m, 0) + (SELECT dm FROM d$i) // (SELECT n FROM nn)))
       |            // 100 AS BIGINT) AS rank
       |        FROM nodes LEFT JOIN m$i ON nodes.node = m$i.node)""".stripMargin

  // one unrolled BFS round: frontier f$i = first-discovered pairs at
  // distance i, r$i = everything known through distance i
  private def duckBfsRound(i: Int): String = {
    val pf = if (i == 1) "r0" else s"f${i - 1}"
    s"""f$i AS (SELECT DISTINCT f.src, e.dst AS v FROM $pf f JOIN e ON f.v = e.src
       |        WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} x
       |                          WHERE x.src = f.src AND x.v = e.dst)),
       |r$i AS (SELECT * FROM r${i - 1} UNION ALL SELECT src, v, $i AS d FROM f$i)""".stripMargin
  }

  private val duckFixtureEdges =
    s"""ks AS (SELECT UNNEST([1, 2, 3]) AS k),
       |e AS (SELECT DISTINCT (doc_id % 997) AS src,
       |                      ((doc_id * 31 + k * 7) % 997) AS dst
       |      FROM documents CROSS JOIN ks
       |      WHERE k <= 1 + doc_id % 3 AND (doc_id % 997) <> ((doc_id * 31 + k * 7) % 997)),
       |nodes AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""".stripMargin

  // one unrolled PERSONALIZED round: teleport and dangling redistribution
  // gated by the seed indicator `s` carried on the nodes relation
  private def duckRoundPpr(i: Int, p: String): String =
    s"""d$i AS (SELECT CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS dm FROM $p
       |        LEFT JOIN deg ON $p.node = deg.src WHERE deg.src IS NULL),
       |m$i AS (SELECT e.dst AS node, CAST(SUM($p.rank // e.odeg) AS BIGINT) AS m
       |        FROM e JOIN $p ON e.src = $p.node GROUP BY e.dst),
       |r$i AS (SELECT nodes.node, nodes.s,
       |          CAST((SELECT tp FROM consts) * nodes.s +
       |          (85 * (COALESCE(m$i.m, 0) +
       |                 nodes.s * ((SELECT dm FROM d$i) // (SELECT nt FROM nn))))
       |            // 100 AS BIGINT) AS rank
       |        FROM nodes LEFT JOIN m$i ON nodes.node = m$i.node)""".stripMargin

  /** DuckDB replay of [[qGraphWalks]]: all 4 hops unrolled, each hop's
    * xxhash64 coin staged through the [[Xxh64DuckSql]] HUGEINT chain and
    * reduced modulo the CURRENT node's out-degree. */
  private def walksWithBody: String = {
    def chainW(stages: Seq[(String, String)], base: String, prefix: String)
        : (String, String) = {
      var rel = base; var carried = "walker, node"
      val parts = stages.zipWithIndex.map { case ((nm, ex), i) =>
        val nrel = s"$prefix$i"
        val cte = s"$nrel AS (SELECT $carried, $ex AS $nm FROM $rel)"
        carried = s"$carried, $nm"; rel = nrel
        cte
      }
      (parts.mkString(",\n"), rel)
    }
    val stepCtes = (1 to 4).map { t =>
      val (st, signed) = Xxh64DuckSql.hashIntLongStages(s"w$t", "walker", t)
      val (ctes, last) = chainW(st, s"f${t - 1}", s"x${t}_")
      s"""$ctes,
         |f$t AS (SELECT g.walker, i.dst AS node
         |        FROM $last g
         |        JOIN deg dg ON g.node = dg.src
         |        JOIN idx i ON i.src = g.node
         |          AND i.idx = ((($signed) % dg.odeg) + dg.odeg) % dg.odeg)""".stripMargin
    }.mkString(",\n")
    s"""ks AS (SELECT UNNEST([1, 2, 3]) AS k),
       |e AS (SELECT DISTINCT (doc_id % 997) AS src,
       |                      ((doc_id * 31 + k * 7) % 997) AS dst
       |      FROM documents CROSS JOIN ks
       |      WHERE k <= 1 + doc_id % 3 AND (doc_id % 997) <> ((doc_id * 31 + k * 7) % 997)),
       |idx AS (SELECT src, dst,
       |          CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx
       |        FROM e),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |f0 AS (SELECT node AS walker, node FROM nodes),
       |$stepCtes,
       |wk AS (SELECT walker, 0 AS step, node FROM f0
       |  UNION ALL SELECT walker, 1 AS step, node FROM f1
       |  UNION ALL SELECT walker, 2 AS step, node FROM f2
       |  UNION ALL SELECT walker, 3 AS step, node FROM f3
       |  UNION ALL SELECT walker, 4 AS step, node FROM f4)""".stripMargin
  }

  private def walksOracle: String =
    s"""WITH $walksWithBody
       |SELECT walker, step, node FROM wk ORDER BY walker, step""".stripMargin

  private def skipgramOracle: String =
    s"""WITH $walksWithBody
       |SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS n
       |FROM wk a JOIN wk b
       |  ON a.walker = b.walker AND a.step <> b.step AND abs(a.step - b.step) <= 2
       |GROUP BY a.node, b.node ORDER BY center, context""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_graph_walks" -> walksOracle,
    "q_graph_skipgram" -> skipgramOracle,
    "q_graph_triangles" ->
      s"""WITH ks AS (SELECT UNNEST([1, 2, 3]) AS k),
        |e0 AS (SELECT DISTINCT (doc_id % 997) AS src,
        |                       ((doc_id * 31 + k * 7) % 997) AS dst
        |       FROM documents CROSS JOIN ks
        |       WHERE k <= 1 + doc_id % 3 AND (doc_id % 997) <> ((doc_id * 31 + k * 7) % 997)),
        |und AS (SELECT DISTINCT a, b FROM
        |        (SELECT src AS a, dst AS b FROM e0 UNION ALL SELECT dst, src FROM e0)
        |        WHERE a <> b),
        |deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY a),
        |ori AS (SELECT u.a, u.b FROM und u
        |        JOIN deg x ON u.a = x.node JOIN deg y ON u.b = y.node
        |        WHERE x.d < y.d OR (x.d = y.d AND u.a < u.b)),
        |tri AS (SELECT w.a, w.b, w.c FROM
        |        (SELECT o1.a, o1.b, o2.b AS c FROM ori o1 JOIN ori o2 ON o1.b = o2.a) w
        |        WHERE EXISTS (SELECT 1 FROM ori o3 WHERE o3.a = w.a AND o3.b = w.c)),
        |per AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM
        |        (SELECT UNNEST([a, b, c]) AS node FROM tri) GROUP BY node)
        |SELECT deg.node AS node, COALESCE(per.n_tri, 0) AS n_tri
        |FROM deg LEFT JOIN per ON deg.node = per.node ORDER BY deg.node""".stripMargin,
    "q_graph_ppr" ->
      s"""WITH ks AS (SELECT UNNEST([1, 2, 3]) AS k),
        |e0 AS (SELECT DISTINCT (doc_id % 997) AS src,
        |                       ((doc_id * 31 + k * 7) % 997) AS dst
        |       FROM documents CROSS JOIN ks
        |       WHERE k <= 1 + doc_id % 3 AND (doc_id % 997) <> ((doc_id * 31 + k * 7) % 997)),
        |deg AS (SELECT src, COUNT(*) AS odeg FROM e0 GROUP BY src),
        |e AS (SELECT e0.src, e0.dst, deg.odeg FROM e0 JOIN deg ON e0.src = deg.src),
        |nodes AS (SELECT node, CASE WHEN node % 10 = 0 THEN 1 ELSE 0 END AS s
        |          FROM (SELECT DISTINCT node FROM
        |                (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0))),
        |nn AS (SELECT CAST(SUM(s) AS BIGINT) AS nt FROM nodes),
        |consts AS (SELECT 1000000000000 // nt AS pshare,
        |                  (15 * (1000000000000 // nt)) // 100 AS tp FROM nn),
        |r0 AS (SELECT node, s,
        |         CAST((SELECT pshare FROM consts) * s AS BIGINT) AS rank FROM nodes),
        |${(1 to 5).map(i => duckRoundPpr(i, s"r${i - 1}")).mkString(",\n")}
        |SELECT node, rank AS rank_fp,
        |       CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk
        |FROM r5 ORDER BY node""".stripMargin,
    "q_graph_components" ->
      s"""WITH RECURSIVE ks AS (SELECT UNNEST([1, 2, 3]) AS k),
        |e0 AS (SELECT DISTINCT ((doc_id % 8) * 1000 + (doc_id // 8) % 125) AS src,
        |                       ((doc_id % 8) * 1000 + (doc_id * 31 + k * 7) % 125) AS dst
        |       FROM documents CROSS JOIN ks
        |       WHERE k <= 1 + doc_id % 3
        |         AND ((doc_id // 8) % 125) <> ((doc_id * 31 + k * 7) % 125)),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |cc(v, lbl) AS (
        |  SELECT v, v AS lbl FROM verts
        |  UNION
        |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON cc.v = e.dst)
        |SELECT v, MIN(lbl) AS cluster FROM cc GROUP BY v ORDER BY v""".stripMargin,
    "q_graph_harmonic" ->
      s"""WITH $duckFixtureEdges,
        |r0 AS (SELECT node AS src, node AS v, 0 AS d FROM nodes),
        |${(1 to 3).map(duckBfsRound).mkString(",\n")},
        |agg AS (SELECT v AS node, CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_fp,
        |               CAST(COUNT(*) AS BIGINT) AS n_reached
        |        FROM r3 WHERE d > 0 GROUP BY v)
        |SELECT nodes.node AS node, COALESCE(agg.harmonic_fp, 0) AS harmonic_fp,
        |       COALESCE(agg.n_reached, 0) AS n_reached
        |FROM nodes LEFT JOIN agg ON nodes.node = agg.node ORDER BY nodes.node""".stripMargin,
    "q_graph_hyperball" ->
      s"""WITH $duckFixtureEdges,
        |r0 AS (SELECT node AS src, node AS v, 0 AS d FROM nodes),
        |${(1 to 3).map(duckBfsRound).mkString(",\n")},
        |agg AS (SELECT v AS node, CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_fp,
        |               CAST(COUNT(*) AS BIGINT) AS n_reached
        |        FROM r3 WHERE d > 0 GROUP BY v)
        |SELECT nodes.node AS node, COALESCE(agg.harmonic_fp, 0) AS harmonic_fp,
        |       COALESCE(agg.n_reached, 0) AS n_reached,
        |       TRUE AS within_bound
        |FROM nodes LEFT JOIN agg ON nodes.node = agg.node ORDER BY nodes.node""".stripMargin,
    "q_graph_pagerank" ->
      s"""WITH $pagerankWithBody
        |SELECT node, rank AS rank_fp,
        |       CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk
        |FROM r5 ORDER BY node""".stripMargin,
    "q_graph_pr_refresh" ->
      s"""WITH $pagerankWithBody
        |SELECT node, rank AS rank_fp,
        |       CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk,
        |       TRUE AS within_bound
        |FROM r5 ORDER BY node""".stripMargin,
    "q_curate_hostrank" ->
      s"""WITH $pagerankWithBody,
        |rnk AS (SELECT node,
        |          CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk
        |        FROM r5),
        |mx AS (SELECT MAX(rk) AS mx FROM rnk),
        |j AS (SELECT d.source, d.doc_id,
        |        CASE WHEN r.rk * 2 <= (SELECT mx FROM mx) THEN 1 ELSE 0 END AS kept
        |      FROM (SELECT doc_id, source, (doc_id % 997) AS node FROM documents) d
        |      JOIN rnk r ON d.node = r.node)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(kept) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN kept = 1 THEN doc_id END) AS BIGINT) AS id_sum_kept
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_graph_hits" ->
      s"""WITH $duckFixtureEdges,
        |h0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS hub FROM nodes),
        |${(1 to 3).map(duckHitsRound).mkString(",\n")}
        |SELECT h3.node, h3.hub AS hub_fp, a3.auth AS auth_fp
        |FROM h3 JOIN a3 ON h3.node = a3.node ORDER BY h3.node""".stripMargin,
    "q_graph_kcore" ->
      s"""WITH $duckFixtureEdges,
        |$duckUndirected,
        |a0 AS (SELECT DISTINCT a AS node FROM und),
        |${(1 to 12).map(duckPeelRound).mkString(",\n")},
        |df AS (SELECT u.a AS node, CAST(COUNT(*) AS BIGINT) AS deg_core FROM und u
        |       JOIN a12 x ON u.a = x.node JOIN a12 y ON u.b = y.node GROUP BY u.a)
        |SELECT n.node, CAST(CASE WHEN df.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core,
        |       COALESCE(df.deg_core, 0) AS deg_core
        |FROM (SELECT DISTINCT a AS node FROM und) n
        |LEFT JOIN df ON n.node = df.node ORDER BY n.node""".stripMargin,
    "q_graph_lpa" ->
      s"""WITH $duckFixtureEdges,
        |$duckUndirected,
        |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und),
        |${(1 to 4).map(duckLpaRound).mkString(",\n")}
        |SELECT node, lbl AS community FROM l4 ORDER BY node""".stripMargin,
    "q_graph_scc" ->
      s"""WITH RECURSIVE $duckFixtureEdges,
        |$duckSccBody
        |SELECT l.node, l.scc, s.scc_size
        |FROM lbl l JOIN sz s ON l.scc = s.scc ORDER BY l.node""".stripMargin,
    "q_graph_bowtie" ->
      s"""WITH RECURSIVE $duckFixtureEdges,
        |$duckSccBody,
        |core AS (SELECT scc FROM sz ORDER BY scc_size DESC, scc LIMIT 1),
        |cm AS (SELECT node FROM lbl WHERE scc = (SELECT scc FROM core)),
        |fw AS (SELECT DISTINCT t AS node FROM rr
        |       WHERE s IN (SELECT node FROM cm)),
        |bw AS (SELECT DISTINCT s AS node FROM rr
        |       WHERE t IN (SELECT node FROM cm))
        |SELECT l.node, l.scc,
        |  CASE WHEN l.scc = (SELECT scc FROM core) THEN 'CORE'
        |       WHEN l.node IN (SELECT node FROM bw) THEN 'IN'
        |       WHEN l.node IN (SELECT node FROM fw) THEN 'OUT'
        |       ELSE 'OTHER' END AS cls
        |FROM lbl l ORDER BY l.node""".stripMargin,
    "q_graph_pagerank_w" ->
      s"""WITH ks AS (SELECT UNNEST([1, 2, 3]) AS k),
        |e0 AS (SELECT DISTINCT (doc_id % 997) AS src,
        |                       ((doc_id * 31 + k * 7) % 997) AS dst
        |       FROM documents CROSS JOIN ks
        |       WHERE k <= 1 + doc_id % 3 AND (doc_id % 997) <> ((doc_id * 31 + k * 7) % 997)),
        |ew AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM e0),
        |deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS odeg FROM ew GROUP BY src),
        |e AS (SELECT ew.src, ew.dst, ew.w, deg.odeg FROM ew JOIN deg ON ew.src = deg.src),
        |nodes AS (SELECT DISTINCT node FROM
        |          (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |consts AS (SELECT 1000000000000 // n AS base,
        |                  (15 * (1000000000000 // n)) // 100 AS tp FROM nn),
        |r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),
        |${(1 to 5).map(i => duckRoundW(i, s"r${i - 1}")).mkString(",\n")}
        |SELECT node, rank AS rank_fp,
        |       CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk
        |FROM r5 ORDER BY node""".stripMargin,
    "q_graph_coreness" ->
      s"""WITH $duckFixtureEdges,
        |$duckUndirected,
        |${(1 to 6).map(duckCorenessLevel).mkString(",\n")}
        |SELECT n.node, CAST(CASE
        |  WHEN l6.node IS NOT NULL THEN 6
        |  WHEN l5.node IS NOT NULL THEN 5
        |  WHEN l4.node IS NOT NULL THEN 4
        |  WHEN l3.node IS NOT NULL THEN 3
        |  WHEN l2.node IS NOT NULL THEN 2
        |  WHEN l1.node IS NOT NULL THEN 1
        |  ELSE 0 END AS BIGINT) AS coreness
        |FROM (SELECT DISTINCT a AS node FROM und) n
        |LEFT JOIN c6_12 l6 ON n.node = l6.node
        |LEFT JOIN c5_12 l5 ON n.node = l5.node
        |LEFT JOIN c4_12 l4 ON n.node = l4.node
        |LEFT JOIN c3_12 l3 ON n.node = l3.node
        |LEFT JOIN c2_12 l2 ON n.node = l2.node
        |LEFT JOIN c1_12 l1 ON n.node = l1.node
        |ORDER BY n.node""".stripMargin,
    "q_graph_diameter_hb" ->
      s"""WITH $duckFixtureEdges,
        |r0 AS (SELECT node AS src, node AS v, 0 AS d FROM nodes),
        |${(1 to 6).map(duckBfsRound).mkString(",\n")},
        |dist AS (SELECT CAST(d AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |         FROM r6 WHERE d > 0 GROUP BY d),
        |tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot FROM dist)
        |SELECT d, n_pairs,
        |  CAST(SUM(n_pairs) OVER (ORDER BY d
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs,
        |  CAST(CASE WHEN SUM(n_pairs) OVER (ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10
        |         >= (SELECT tot FROM tot) * 9 THEN 1 ELSE 0 END AS BIGINT) AS reached_90,
        |  TRUE AS within_bound
        |FROM dist ORDER BY d""".stripMargin,
    "q_graph_diameter" ->
      s"""WITH $duckFixtureEdges,
        |r0 AS (SELECT node AS src, node AS v, 0 AS d FROM nodes),
        |${(1 to 6).map(duckBfsRound).mkString(",\n")},
        |dist AS (SELECT CAST(d AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |         FROM r6 WHERE d > 0 GROUP BY d),
        |tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot FROM dist)
        |SELECT d, n_pairs,
        |  CAST(SUM(n_pairs) OVER (ORDER BY d
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs,
        |  CAST(CASE WHEN SUM(n_pairs) OVER (ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10
        |         >= (SELECT tot FROM tot) * 9 THEN 1 ELSE 0 END AS BIGINT) AS reached_90
        |FROM dist ORDER BY d""".stripMargin,
    "q_graph_modularity" ->
      s"""WITH $duckFixtureEdges,
        |$duckUndirected,
        |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und),
        |${(1 to 4).map(duckLpaRound).mkString(",\n")},
        |tm AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m FROM und),
        |deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM und GROUP BY a),
        |dc AS (SELECT l.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |              CAST(SUM(deg.dg) AS BIGINT) AS deg_c
        |       FROM l4 l JOIN deg ON l.node = deg.node GROUP BY l.lbl),
        |ic AS (SELECT la.lbl AS community, CAST(COUNT(*) AS BIGINT) AS intra
        |       FROM und u JOIN l4 la ON u.a = la.node JOIN l4 lb ON u.b = lb.node
        |       WHERE la.lbl = lb.lbl GROUP BY la.lbl)
        |SELECT dc.community, dc.n_nodes, COALESCE(ic.intra, 0) AS intra, dc.deg_c,
        |  CAST((CAST(COALESCE(ic.intra, 0) AS HUGEINT) * 1000000000) // (SELECT two_m FROM tm)
        |   - (CAST(dc.deg_c AS HUGEINT) * dc.deg_c * 1000000000)
        |     // (CAST((SELECT two_m FROM tm) AS HUGEINT) * (SELECT two_m FROM tm)) AS BIGINT) AS q_contrib_fp
        |FROM dc LEFT JOIN ic ON dc.community = ic.community
        |ORDER BY dc.community""".stripMargin,
    "q_graph_betweenness" ->
      s"""WITH $duckFixtureEdges,
        |l0 AS (SELECT node AS s, node AS v, CAST(1 AS BIGINT) AS sig
        |       FROM nodes WHERE node % 25 = 0),
        |r0 AS (SELECT s, v, 0 AS d, sig FROM l0),
        |${(1 to 3).map(duckBrandesFwd).mkString(",\n")},
        |b3 AS (SELECT s, v, sig, CAST(0 AS BIGINT) AS dfp FROM l3),
        |${(2 to 0 by -1).map(duckBrandesBwd(_, 1000000L)).mkString(",\n")},
        |acc AS (SELECT s, v, dfp FROM b0
        |  UNION ALL SELECT s, v, dfp FROM b1
        |  UNION ALL SELECT s, v, dfp FROM b2),
        |bc AS (SELECT v AS node, CAST(SUM(dfp) AS BIGINT) AS bc_fp
        |       FROM acc WHERE v <> s GROUP BY v)
        |SELECT n.node, COALESCE(bc.bc_fp, 0) AS bc_fp
        |FROM nodes n LEFT JOIN bc ON n.node = bc.node ORDER BY n.node""".stripMargin,
    "q_graph_stats" ->
      s"""WITH $duckFixtureEdges,
        |odeg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |ideg AS (SELECT dst, COUNT(*) AS d FROM e GROUP BY dst),
        |c AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e
        |   WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)) AS n_recip,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes
        |   WHERE node NOT IN (SELECT src FROM e)) AS n_dangling,
        |  (SELECT CAST(MAX(d) AS BIGINT) FROM odeg) AS max_odeg,
        |  (SELECT CAST(MAX(d) AS BIGINT) FROM ideg) AS max_ideg)
        |SELECT n_nodes, n_edges, n_recip,
        |       n_recip * 1000000 // n_edges AS recip_ppm,
        |       n_dangling, max_odeg, max_ideg
        |FROM c""".stripMargin,
    "q_graph_linkpred" ->
      s"""WITH $duckFixtureEdges,
        |$duckUndirected,
        |deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY a),
        |mid AS (SELECT node, d FROM deg WHERE d <= 64),
        |w AS (SELECT u1.b AS x, u2.b AS y, m.d
        |      FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
        |      JOIN mid m ON u1.a = m.node),
        |sc AS (SELECT x AS a, y AS b, CAST(COUNT(*) AS BIGINT) AS cn,
        |              CAST(SUM(1000000 // d) AS BIGINT) AS ra_fp
        |       FROM w GROUP BY x, y),
        |nw AS (SELECT sc.* FROM sc
        |       WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = sc.a AND und.b = sc.b))
        |SELECT a, b, cn, ra_fp FROM nw
        |ORDER BY ra_fp DESC, a, b LIMIT 100""".stripMargin,
    "q_graph_sssp" ->
      s"""WITH $duckFixtureEdges,
        |ew AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM e),
        |d0 AS (SELECT node, CAST(node AS BIGINT) AS enc FROM nodes
        |       WHERE node % 10 = 0),
        |${(1 to 6).map(duckSsspRound).mkString(",\n")}
        |SELECT n.node,
        |       CAST(d.enc // 1099511627776 AS BIGINT) AS dist,
        |       CAST(d.enc % 1099511627776 AS BIGINT) AS seed
        |FROM nodes n LEFT JOIN d6 d ON n.node = d.node ORDER BY n.node""".stripMargin
  )

  private def pagerankWithBody: String =
    s"""ks AS (SELECT UNNEST([1, 2, 3]) AS k),
       |e0 AS (SELECT DISTINCT (doc_id % 997) AS src,
       |                       ((doc_id * 31 + k * 7) % 997) AS dst
       |       FROM documents CROSS JOIN ks
       |       WHERE k <= 1 + doc_id % 3 AND (doc_id % 997) <> ((doc_id * 31 + k * 7) % 997)),
       |deg AS (SELECT src, COUNT(*) AS odeg FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, deg.odeg FROM e0 JOIN deg ON e0.src = deg.src),
       |nodes AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |consts AS (SELECT 1000000000000 // n AS base,
       |                  (15 * (1000000000000 // n)) // 100 AS tp FROM nn),
       |r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes),
       |${(1 to 5).map(i => duckRound(i, s"r${i - 1}")).mkString(",\n")}""".stripMargin
}

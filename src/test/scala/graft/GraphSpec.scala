package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** [[operators.Graph.pageRank]] against an independent pure-Scala
  * fixed-point reference: the distributed iteration must reproduce the
  * driver-side loop BIT-EXACTLY (all arithmetic is BIGINT floor division,
  * so there is exactly one correct answer), dangling mass must be
  * redistributed, and total mass must stay within the truncation bound. */
class GraphSpec extends SparkSpec {

  /** Driver-side reference: same integer math, same semantics. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = scale / n
    val tp = (15L * base) / 100L
    var r: Map[Long, Long] = nodes.map(_ -> base).toMap
    (1 to iters).foreach { _ =>
      val dm = nodes.filterNot(out.contains).map(r).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v =>
        v -> (tp + (85L * (in.getOrElse(v, 0L) + dm / n)) / 100L)).toMap
    }
    r
  }

  private def runSpark(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("pageRank matches the driver-side integer reference bit-exactly") {
    // the classic 4-node example plus a dangling sink:
    // 0->1, 0->2, 1->2, 2->0, 2->3 (3 emits nothing — dangling)
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (1, 2), (2, 0), (2, 3))
    for (iters <- Seq(1, 3, 5, 10)) {
      assert(runSpark(edges, iters) === refPageRank(edges, iters),
        s"iters=$iters")
    }
  }

  test("dangling mass is redistributed, not lost") {
    // star into a sink: without dangling redistribution the sink would
    // absorb all mass and total rank would decay geometrically
    val edges = Seq[(Long, Long)]((1, 9), (2, 9), (3, 9), (4, 9))
    val r = runSpark(edges, 5)
    val ref = refPageRank(edges, 5)
    assert(r === ref)
    // mass conservation: total stays within the floor-truncation bound
    // (each node loses < 1 unit per DIV, 3 DIVs per node per round)
    val total = r.values.sum
    val n = r.size
    assert(total <= 1000000000000L)
    assert(total >= 1000000000000L - 5L * n * 3L - n,
      s"mass decayed: $total")
    // the sink is the top-ranked node, spokes are tied
    assert(r(9L) > r(1L))
    assert(Set(r(1L), r(2L), r(3L), r(4L)).size === 1)
  }

  /** Driver-side personalized-PageRank reference: same integer math. */
  private def refPpr(edges: Seq[(Long, Long)], seedSet: Set[Long],
                     iters: Int, scale: Long = 1000000000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def s(v: Long): Long = if (seedSet(v)) 1L else 0L
    val nT = nodes.count(seedSet)
    val pshare = scale / nT
    val tp = (15L * pshare) / 100L
    var r: Map[Long, Long] = nodes.map(v => v -> pshare * s(v)).toMap
    (1 to iters).foreach { _ =>
      val dm = nodes.filterNot(out.contains).map(r).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / out(u) }.sum).toMap
      r = nodes.map(v =>
        v -> (tp * s(v) +
          (85L * (in.getOrElse(v, 0L) + s(v) * (dm / nT))) / 100L)).toMap
    }
    r
  }

  test("personalized PageRank matches the driver reference; mass flows out from seeds") {
    import spark.implicits._
    // seed 0 links into a non-seed chain; 9 is a dangling non-seed
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 0), (0, 9), (5, 0))
    val seeds = Set(0L, 5L)
    for (iters <- Seq(1, 3, 5)) {
      val got = Graph.pageRank(edges.toDF("src", "dst"), iters,
          seeds = Some(seeds.toSeq.toDF("node")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === refPpr(edges, seeds, iters), s"iters=$iters")
    }
    val r5 = refPpr(edges, seeds, 5)
    // non-seeds hold rank only through link proximity; the seed-adjacent
    // non-seed outranks the chain-distant one
    assert(r5(1L) > r5(2L))
    // dangling non-seed 9 keeps only damped in-flow (no teleport, no
    // dangling redistribution to it)
    assert(r5(9L) > 0L && r5(9L) < r5(0L))
  }

  private def runHarmonic(edges: Seq[(Long, Long)], depth: Int): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Graph.harmonic(edges.toDF("src", "dst"), depth)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("harmonic centrality: hand-computed path distances, depth bound respected") {
    // directed path 0 -> 1 -> 2 -> 3 -> 4, depth 3: d(0,4)=4 is excluded
    val edges = Seq[(Long, Long)]((0, 1), (1, 2), (2, 3), (3, 4))
    val h = runHarmonic(edges, 3)
    val u = 1000000L
    assert(h(0L) === ((0L, 0L)))
    assert(h(1L) === ((u, 1L)))
    assert(h(2L) === ((u + u / 2, 2L)))
    assert(h(3L) === ((u + u / 2 + u / 3, 3L)))
    assert(h(4L) === ((u + u / 2 + u / 3, 3L)), "d=4 source must be excluded")
  }

  test("harmonic centrality: diamond counts each source once at its BFS distance") {
    // 0->1, 0->2, 1->3, 2->3: node 3 is reached from 0 by two length-2
    // paths — one discovery at d=2, not two
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (1, 3), (2, 3))
    val h = runHarmonic(edges, 3)
    val u = 1000000L
    assert(h(3L) === ((u + u + u / 2, 3L)))
    assert(h(1L) === ((u, 1L)))
    assert(h(0L) === ((0L, 0L)))
  }

  test("connectedComponents labels every vertex with its component min") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (10, 11), (20, 21), (21, 20))
    val out = Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                       10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("stratified fixture components never cross strata") {
    val out = Graph.qGraphComponents(spark, sf).collect()
    assert(out.nonEmpty)
    // strata are disjoint by construction (node = stratum*1000 + local),
    // so a component label must live in its member's stratum
    assert(out.forall(r => r.getLong(1) / 1000L === r.getLong(0) / 1000L))
    val strata = out.map(_.getLong(0) / 1000L).distinct
    val comps = out.map(_.getLong(1)).distinct
    info(s"strata=${strata.length} components=${comps.length}")
    assert(comps.length >= strata.length)
  }

  test("HyperBall tracks the exact harmonic within sketch error on the fixture graph") {
    val exact = Graph.qGraphHarmonic(spark, sf).collect()
    val est = Graph.harmonicHyperBall(Graph.graphEdges(spark, sf), depth = 3)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(est.size === exact.length)
    // reach estimates: mean relative error within the 256-register
    // sketch's error envelope (1.04/sqrt(256) = 6.5% std err; linear
    // counting tightens small balls)
    val errs = exact.map { r =>
      val reachEst = est(r.getLong(0))._2
      val nReach = r.getLong(2).toDouble
      if (nReach > 0) math.abs(reachEst - nReach) / nReach
      else math.abs(reachEst)
    }
    val meanErr = errs.sum / errs.length
    info(f"mean reach rel. err = $meanErr%.4f over ${errs.length} nodes")
    assert(meanErr <= 0.08, f"mean reach error $meanErr%.4f > 0.08")
    // ranking agreement on the harmonic score itself: the estimated
    // top-20 must largely reproduce the exact top-20
    val topExact = exact.sortBy(r => (-r.getLong(1), r.getLong(0)))
      .take(20).map(_.getLong(0)).toSet
    val topEst = est.toSeq.sortBy { case (n, (h, _)) => (-h, n) }
      .take(20).map(_._1).toSet
    val overlap = (topExact & topEst).size
    info(s"top-20 overlap: $overlap/20")
    assert(overlap >= 14, s"top-20 harmonic overlap $overlap/20 < 14")
  }

  test("triangle counts: hand graph, orientation finds each triangle once") {
    import spark.implicits._
    // triangle 1-2-3 (given directed, mixed orientations), a second
    // triangle 3-4-5 sharing node 3, and a pendant 5-6
    val edges = Seq[(Long, Long)](
      (1, 2), (3, 2), (1, 3), (3, 4), (5, 4), (3, 5), (5, 6))
    val out = Graph.triangles(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L,
                       4L -> 1L, 5L -> 1L, 6L -> 0L))
  }

  test("random walks replay the xxhash64 coin exactly and stop at dangling nodes") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // 0 -> {1, 2}; 1 -> {3}; everything else dangling
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (1, 3))
    val out = Graph.randomWalks(edges.toDF("src", "dst"), steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // driver-side replay of the coin: hop t from v picks out-edge
    // #pmod(xxhash64(t, walker), odeg) in dst order
    def coin(t: Int, walker: Long, odeg: Int): Int = {
      val h = XXH64.hashLong(walker, XXH64.hashInt(t, 42L))
      (((h % odeg) + odeg) % odeg).toInt
    }
    val first = coin(1, 0L, 2) // walker 0's first hop: edge #? of (1, 2)
    assert(out((0L, 1)) === (if (first == 0) 1L else 2L))
    // walker 0's full trajectory follows the chain until a dangling node
    var cur = 0L; var alive = true
    for (t <- 1 to 3) {
      val nextOpt = cur match {
        case 0L => Some(if (coin(t, 0L, 2) == 0) 1L else 2L)
        case 1L => Some(3L)
        case _  => None
      }
      nextOpt match {
        case Some(n) if alive =>
          assert(out((0L, t)) === n, s"step $t"); cur = n
        case _ =>
          assert(!out.contains((0L, t)), s"step $t should not exist"); alive = false
      }
    }
    // dangling starters emit only their step-0 row
    assert(out((3L, 0)) === 3L)
    assert(!out.contains((3L, 1)))
    // every walker has a step-0 row at itself
    for (v <- Seq(0L, 1L, 2L, 3L)) assert(out((v, 0)) === v)
  }

  test("skip-gram pairs: window and symmetry over a fixed walk") {
    import spark.implicits._
    // one hand-built walk 10: [7, 8, 9], window 2 -> every ordered pair
    val walks = Seq((10L, 0, 7L), (10L, 1, 8L), (10L, 2, 9L))
      .toDF("walker", "step", "node")
    val out = Graph.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = Map(
      (7L, 8L) -> 1L, (7L, 9L) -> 1L, (8L, 7L) -> 1L,
      (8L, 9L) -> 1L, (9L, 7L) -> 1L, (9L, 8L) -> 1L)
    assert(out === expect)
    // window 1 drops the distance-2 pairs
    val out1 = Graph.skipGramPairs(walks, window = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out1 === Set((7L, 8L), (8L, 7L), (8L, 9L), (9L, 8L)))
  }

  test("property (scalacheck): random digraphs — pageRank, triangles, harmonic all match brute force") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // brute-force references, independent of the operator code paths
    def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val und = (edges.flatMap { case (a, b) => Seq((a, b), (b, a)) })
        .filter { case (a, b) => a != b }.toSet
      val nodes = und.map(_._1).toSeq.distinct
      val tri = for {
        a <- nodes; b <- nodes if a < b && und((a, b))
        c <- nodes if b < c && und((b, c)) && und((a, c))
      } yield (a, b, c)
      val credit = tri.flatMap { case (a, b, c) => Seq(a, b, c) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      nodes.map(v => v -> credit.getOrElse(v, 0L)).toMap
    }
    def refHarm(edges: Seq[(Long, Long)], depth: Int): Map[Long, (Long, Long)] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // d(src -> v) by BFS from every src
      val dist = scala.collection.mutable.Map.empty[(Long, Long), Int]
      for (s <- nodes) {
        var frontier = Set(s); dist((s, s)) = 0
        for (d <- 1 to depth) {
          frontier = frontier.flatMap(u => out.getOrElse(u, Set.empty))
            .filterNot(v => dist.contains((s, v)))
          frontier.foreach(v => dist((s, v)) = d)
        }
      }
      nodes.map { v =>
        val in = dist.collect { case ((s, t), d) if t == v && d > 0 => d }
        v -> ((in.map(d => 1000000L / d).sum, in.size.toLong))
      }.toMap
    }
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(4, 10)
      m <- Gen.choose(3, 18)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(genEdges.suchThat(_.nonEmpty), Gen.choose(1, 4)) {
      (edges, iters) =>
        val df = edges.toDF("src", "dst")
        val pr = Graph.pageRank(df, iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val tr = Graph.triangles(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val hm = runHarmonic(edges, 3)
        pr == refPageRank(edges, iters) &&
          tr == refTriangles(edges) && hm == refHarm(edges, 3)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  /** Driver-side HITS reference: same sum-normalized integer math,
    * multiply staged through BigInt (the operator's DECIMAL(38,0)). */
  private def refHits(edges: Seq[(Long, Long)], iters: Int,
                      scale: Long = 1000000000000L): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def mulDiv(raw: Long, tot: Long): Long =
      (BigInt(raw) * scale / tot).toLong
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    (1 to iters).foreach { _ =>
      val araw = nodes.map(v =>
        v -> edges.collect { case (u, w) if w == v => hub(u) }.sum).toMap
      val at = araw.values.sum
      auth = nodes.map(v => v -> mulDiv(araw(v), at)).toMap
      val hraw = nodes.map(v =>
        v -> edges.collect { case (u, w) if u == v => auth(w) }.sum).toMap
      val ht = hraw.values.sum
      hub = nodes.map(v => v -> mulDiv(hraw(v), ht)).toMap
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  /** Driver-side peel-to-fixpoint reference; also returns the round
    * count so the fixture spec can pin the oracle's unroll bound. */
  private def refKcore(edges: Seq[(Long, Long)], k: Int)
      : (Map[Long, (Long, Long)], Int) = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val nodes = und.map(_._1).distinct
    def degrees(alive: Set[Long]): Map[Long, Long] =
      und.filter { case (a, b) => alive(a) && alive(b) }
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var alive = nodes.toSet
    var rounds = 0
    var changed = true
    while (changed && alive.nonEmpty) {
      val next = degrees(alive).filter(_._2 >= k).keySet
      changed = next != alive
      if (changed) rounds += 1
      alive = next
    }
    val dg = degrees(alive)
    (nodes.map(v => v -> ((if (alive(v)) 1L else 0L, dg.getOrElse(v, 0L)))).toMap,
     rounds)
  }

  /** Driver-side synchronous LPA reference: max count then min label. */
  private def refLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val nodes = und.map(_._1).distinct
    var lbl = nodes.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      lbl = nodes.map { v =>
        val counts = und.collect { case (a, b) if a == v => lbl(b) }
          .groupBy(identity).view.mapValues(_.size).toMap
        v -> counts.toSeq.map { case (l, c) => (-c, l) }.min._2
      }.toMap
    }
    lbl
  }

  test("HITS: star graph — hub/authority separate; matches driver reference") {
    import spark.implicits._
    // directory 0 links to 1,2,3; 4 also links to 1: 0 is the hub,
    // 1 the strongest authority; authorities have zero hub score
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (0, 3), (4, 1))
    for (iters <- Seq(1, 2, 3)) {
      val got = Graph.hits(edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === refHits(edges, iters), s"iters=$iters")
    }
    val r = refHits(edges, 3)
    assert(r(0L)._1 > r(4L)._1, "3-link hub outranks 1-link hub")
    assert(r(1L)._2 > r(2L)._2, "2-in authority outranks 1-in")
    assert(r(1L)._1 === 0L && r(0L)._2 === 0L, "pure sink/source split")
  }

  test("k-core: clique survives, tail peels in cascade") {
    import spark.implicits._
    // K4 on 0-3 plus 4 hanging off 3 with two leaves 5,6: deg(4)=3
    // survives round 1, the leaves peel first, THEN 4 — a genuine
    // 2-round cascade, the fixpoint loop's reason to exist
    val edges = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6))
    val got = Graph.kcore(edges.toDF("src", "dst"), k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (ref, rounds) = refKcore(edges, 3)
    assert(got === ref)
    assert(rounds === 2, s"expected a 2-round cascade, got $rounds")
    assert(got(0L) === ((1L, 3L)) && got(4L) === ((0L, 0L)) && got(5L) === ((0L, 0L))
      && got(6L) === ((0L, 0L)))
    // k=2: the K4 plus the cycle-free tail — tail still peels
    val got2 = Graph.kcore(edges.toDF("src", "dst"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === refKcore(edges, 2)._1.map { case (v, (f, _)) => v -> f })
  }

  test("k-core fixture: converges within the oracle's 12-round unroll") {
    val edges = Graph.graphEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (_, rounds) = refKcore(edges, 3)
    info(s"fixture 3-core peels in $rounds rounds (oracle unrolls 12)")
    assert(rounds <= 12, s"oracle unroll bound violated: $rounds rounds")
  }

  test("LPA: two cliques with a bridge resolve to two communities") {
    import spark.implicits._
    // triangles {0,1,2} and {10,11,12} bridged by 2-10: min-label
    // propagation settles each clique on its own minimum
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10))
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refLpa(edges, 4))
    assert(Set(got(0L), got(1L), got(2L)).size === 1, "left clique united")
    assert(Set(got(10L), got(11L), got(12L)).size === 1, "right clique united")
    assert(got(0L) !== got(11L), "bridge must not merge the cliques")
  }

  test("property (scalacheck): random digraphs — hits, kcore, lpa all match brute force") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(4, 10)
      m <- Gen.choose(3, 18)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(genEdges.suchThat(_.nonEmpty), Gen.choose(1, 3)) {
      (edges, iters) =>
        val df = edges.toDF("src", "dst")
        val h = Graph.hits(df, iters)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val kc = Graph.kcore(df, k = 2)
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val lp = Graph.labelPropagation(df, iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        h == refHits(edges, iters) && kc == refKcore(edges, 2)._1 &&
          lp == refLpa(edges, iters)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("host-rank curation keeps roughly the top half by construction") {
    val out = Graph.qCurateHostrank(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = out.map(_.getLong(1)).sum
    val nKept = out.map(_.getLong(2)).sum
    info(s"kept $nKept / $nDocs docs across ${out.length} sources")
    assert(out.forall(r => r.getLong(2) <= r.getLong(1)))
    // the cut is rk*2 <= max(rk) over hosts; with ~uniform docs/host the
    // kept DOCUMENT share sits near one half — wide envelope, the exact
    // decision set is hash-gated by the oracle
    val share = nKept.toDouble / nDocs
    assert(share > 0.3 && share < 0.7, f"kept share $share%.2f out of envelope")
  }

  /** Driver-side SCC reference: label = max of the mutual-reachability
    * set — Floyd-Warshall closure on the tiny fixture. */
  private def refScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val reach = scala.collection.mutable.Set[(Long, Long)](edges: _*)
    var grew = true
    while (grew) {
      grew = false
      for ((a, b) <- reach.toSeq; (c, d) <- reach.toSeq if b == c)
        if (reach.add((a, d))) grew = true
    }
    nodes.map { v =>
      val mutual = nodes.filter(u => reach((v, u)) && reach((u, v)))
      v -> (mutual :+ v).max
    }.toMap
  }

  test("scc: two cycles, a one-way bridge, a DAG tail — labels = max member") {
    import spark.implicits._
    // cycle A {1,2,3}, cycle B {10,11}, bridge 3->10 (one-way: A and B
    // stay separate SCCs), DAG tail 11->20->21, lone source 30->1
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (10, 11), (11, 10),
      (3, 10), (11, 20), (20, 21), (30, 1))
    val got = Graph.scc(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ref = refScc(edges)
    assert(got.view.mapValues(_._1).toMap === ref)
    // sizes: cycle A = 3 nodes labeled 3, cycle B = 2 labeled 11,
    // singletons for 20, 21, 30
    assert(got(1L) === ((3L, 3L)) && got(2L) === ((3L, 3L)) && got(3L) === ((3L, 3L)))
    assert(got(10L) === ((11L, 2L)) && got(11L) === ((11L, 2L)))
    assert(got(20L) === ((20L, 1L)) && got(21L) === ((21L, 1L)) && got(30L) === ((30L, 1L)))
  }

  test("scc property (scalacheck): random digraphs match the closure reference") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(4, 9)
      m <- Gen.choose(3, 20)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(genEdges.suchThat(_.nonEmpty)) { edges =>
      val got = Graph.scc(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == refScc(edges)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("bowtie: hand graph classifies CORE / IN / OUT / OTHER") {
    import spark.implicits._
    // core cycle {5,6,7}; IN: 1->5, 0->1; OUT: 7->9, 9->12; OTHER:
    // tendril off IN (1->40, reaches nothing in core) and a disconnected
    // pair 100<->101 (an SCC, but smaller than the core)
    val edges = Seq[(Long, Long)](
      (5, 6), (6, 7), (7, 5), (1, 5), (0, 1), (7, 9), (9, 12),
      (1, 40), (100, 101), (101, 100))
    val got = Graph.bowtie(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(5L) === "CORE" && got(6L) === "CORE" && got(7L) === "CORE")
    assert(got(1L) === "IN" && got(0L) === "IN")
    assert(got(9L) === "OUT" && got(12L) === "OUT")
    assert(got(40L) === "OTHER" && got(100L) === "OTHER" && got(101L) === "OTHER")
  }

  test("shortestPaths: hop-bounded cheapest cost with lexicographic seed tie-break") {
    import spark.implicits._
    // weights chosen so the cheap path is NOT the hop-shortest one:
    // 0 -> 3 direct costs 9; 0 -> 1 -> 2 -> 3 costs 3. Seeds 0 and 50;
    // node 60 reachable only from seed 50; node 3 equidistant from
    // nobody — and node 70 unreachable entirely.
    val edges = Seq[(Long, Long, Long)](
      (0, 3, 9), (0, 1, 1), (1, 2, 1), (2, 3, 1), (50, 60, 2), (70, 71, 1))
    val seeds = Seq(0L, 50L)
    val rows = Graph.shortestPaths(
        edges.toDF("src", "dst", "w"), seeds.toDF("node"), rounds = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1) >> 40, r.getLong(1) & ((1L << 40) - 1)))).toMap
    assert(rows(3L) === ((3L, 0L)), "multi-hop cheaper path must win")
    assert(rows(1L) === ((1L, 0L)) && rows(2L) === ((2L, 0L)))
    assert(rows(60L) === ((2L, 50L)))
    assert(rows(0L) === ((0L, 0L)) && rows(50L) === ((0L, 50L)))
    assert(!rows.contains(70L) && !rows.contains(71L),
      "nodes unreachable from every seed stay out of the reached relation")
    // tie-break: node reachable at equal cost from both seeds takes the
    // LOWER seed id — add 50->1 with weight 1 (cost 1 = cost from seed 0)
    val rows2 = Graph.shortestPaths(
        (edges :+ ((50L, 1L, 1L))).toDF("src", "dst", "w"),
        seeds.toDF("node"), rounds = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1) >> 40, r.getLong(1) & ((1L << 40) - 1)))).toMap
    assert(rows2(1L) === ((1L, 0L)), "equal cost resolves to the lower seed")
  }

  test("linkPrediction: RA index on a hand graph, hub cap drops promiscuous wedges") {
    import spark.implicits._
    // square 1-2-3-4 (no diagonals): each diagonal pair has two common
    // neighbors of degree 2 -> RA = 2 * (1e6 DIV 2) = 1000000.
    // 5 is a hub linked to 1,2,3,4 — with cap >= 4 it adds wedges; with
    // cap = 3 every wedge through it vanishes.
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 4), (4, 1), (5, 1), (5, 2), (5, 3), (5, 4))
    val noCap = Graph.linkPrediction(edges.toDF("src", "dst"), cap = 64, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // deg: 1..4 -> 3 (two ring neighbors + hub), 5 -> 4
    // pair (1,3): common = {2, 4, 5} -> cn 3, ra = 2*(1e6 DIV 3) + 1e6 DIV 4
    assert(noCap((1L, 3L)) === ((3L, 2L * 333333L + 250000L)))
    assert(noCap((2L, 4L)) === ((3L, 2L * 333333L + 250000L)))
    assert(!noCap.contains((1L, 2L)), "adjacent pairs are not predictions")
    assert(!noCap.contains((1L, 5L)), "adjacent pairs are not predictions")
    val capped = Graph.linkPrediction(edges.toDF("src", "dst"), cap = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(capped((1L, 3L)) === ((2L, 2L * 333333L)), "hub wedges dropped under the cap")
  }

  /** Driver-side hop-bounded Brandes reference: same integer fixed-point
    * dependency arithmetic, BFS + layer-reverse accumulation. */
  private def refBetweenness(edges: Seq[(Long, Long)], sources: Seq[Long],
                             depth: Int, scale: Long = 1000000L): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val bc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    sources.foreach { s =>
      val dist = scala.collection.mutable.Map[Long, Int](s -> 0)
      val sig = scala.collection.mutable.Map[Long, Long](s -> 1L)
      var layer = Seq(s)
      val layersByD = scala.collection.mutable.Map[Int, Seq[Long]](0 -> layer)
      for (d <- 1 to depth) {
        val nextSig = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        layer.foreach(u => adj.getOrElse(u, Nil).foreach { w =>
          if (!dist.contains(w)) nextSig(w) += sig(u)
        })
        layer = nextSig.keys.toSeq
        layer.foreach { w => dist(w) = d; sig(w) = nextSig(w) }
        layersByD(d) = layer
      }
      val dfp = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for (d <- (depth - 1) to 0 by -1) {
        layersByD(d).foreach { v =>
          var acc = 0L
          adj.getOrElse(v, Nil).foreach { w =>
            if (dist.get(w).contains(d + 1))
              acc += (sig(v) * (scale + dfp(w))) / sig(w)
          }
          dfp(v) = acc
          if (v != s) bc(v) += acc
        }
      }
    }
    nodes.map(v => v -> bc(v)).toMap
  }

  test("betweenness: bridge node dominates; matches the driver reference bit-exactly") {
    import spark.implicits._
    // two stars joined through bridge 5: sources {0, 10} route
    // everything through it
    val edges = Seq[(Long, Long)](
      (0, 5), (1, 5), (2, 5), (5, 6), (5, 7), (6, 8), (10, 5))
    val sources = Seq(0L, 10L)
    val got = Graph.betweenness(edges.toDF("src", "dst"),
        sources.toDF("node"), depth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = refBetweenness(edges, sources, 3)
    assert(got === ref)
    assert(got(5L) > got(6L) && got(6L) > got(7L),
      s"bridge must dominate: $got")
    assert(got(0L) === 0L && got(10L) === 0L, "sources exclude themselves")
  }

  test("betweenness property (scalacheck): random digraphs match the driver reference") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(4, 9)
      m <- Gen.choose(3, 18)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }.distinct
    val prop = Prop.forAll(genEdges.suchThat(_.nonEmpty), Gen.choose(1, 3)) {
      (edges, depth) =>
        val srcs = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted.take(3)
        val got = Graph.betweenness(edges.toDF("src", "dst"),
            srcs.toDF("node"), depth)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == refBetweenness(edges, srcs, depth)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("modularity: two cliques with a bridge — exact hand-computed contributions") {
    import spark.implicits._
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+
      ((3L, 10L))).toDF("src", "dst")
    val labels = Seq(0L, 1L, 2L, 3L).map(_ -> 0L)
      .++(Seq(10L, 11L, 12L, 13L).map(_ -> 10L)).toDF("node", "community")
    val got = Graph.modularity(edges, labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 2m = 26 symmetrized rows; per clique: intra 12 (both directions),
    // deg_c 13 (three deg-3 nodes + the deg-4 bridge endpoint);
    // Q_c = 12e9 DIV 26 - 169e9 DIV 676 = 461538461 - 250000000
    assert(got === Map(
      0L  -> ((4L, 12L, 13L, 211538461L)),
      10L -> ((4L, 12L, 13L, 211538461L))))
  }

  /** Driver-side coreness reference: peel at k = 1, 2, ... to fixpoint;
    * dropped at level k get coreness k-1, kMax survivors get kMax. */
  private def refCoreness(edges: Seq[(Long, Long)], kMax: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
    var alive = (und.map(_._1) ++ und.map(_._2)).distinct.toSet
    val out = scala.collection.mutable.Map[Long, Long]()
    for (k <- 1 to kMax if alive.nonEmpty) {
      var changed = true
      while (changed) {
        val deg = und.filter(e => alive(e._1) && alive(e._2))
          .groupBy(_._1).view.mapValues(_.size).toMap
        val keep = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = keep.size != alive.size
        alive = keep
      }
      ((und.map(_._1) ++ und.map(_._2)).distinct.toSet -- alive -- out.keySet)
        .foreach(v => out(v) = k - 1L)
    }
    alive.foreach(v => out(v) = kMax.toLong)
    out.toMap
  }

  test("coreness: clique core 3, tail peels at 1, matches brute force; property holds") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // 4-clique {0..3} (coreness 3) + path tail 3-20-21 (coreness 1)
    val edges = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 20), (20, 21))
    val got = Graph.coreness(edges.toDF("src", "dst"), kMax = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refCoreness(edges, 6))
    assert(got(0L) === 3L && got(3L) === 3L && got(20L) === 1L && got(21L) === 1L)
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(4, 9)
      m <- Gen.choose(3, 20)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b))
    } yield es.filter { case (a, b) => a != b }
    val prop = Prop.forAll(genEdges.suchThat(_.nonEmpty)) { edges =>
      val got = Graph.coreness(edges.toDF("src", "dst"), kMax = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == refCoreness(edges, 4)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("weighted pageRank: w=1 is bit-identical to unweighted; weights shift mass") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (1, 2), (2, 0), (2, 3))
    val unweighted = runSpark(edges, 5)
    val w1 = Graph.pageRank(edges.map(e => (e._1, e._2, 1L)).toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 === unweighted, "w=1 must be the exact unweighted special case")
    // skew node 0's mass toward 1: w(0->1)=9 vs w(0->2)=1
    val wSkew = Graph.pageRank(
        Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 2L, 1L), (2L, 0L, 1L), (2L, 3L, 1L))
          .toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wSkew(1L) > unweighted(1L), "the 9x edge must raise node 1's rank")
    // driver reference with the same weighted integer arithmetic
    def refW(ws: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = (ws.map(_._1) ++ ws.map(_._2)).distinct.sorted
      val n = nodes.size.toLong
      val wdeg = ws.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val base = 1000000000000L / n
      val tp = (15L * base) / 100L
      var r: Map[Long, Long] = nodes.map(_ -> base).toMap
      (1 to iters).foreach { _ =>
        val dm = nodes.filterNot(wdeg.contains).map(r).sum
        val in = ws.groupBy(_._2).view.mapValues(
          _.map { case (s, _, w) => (r(s) * w) / wdeg(s) }.sum).toMap
        r = nodes.map(v =>
          v -> (tp + (85L * (in.getOrElse(v, 0L) + dm / n)) / 100L)).toMap
      }
      r
    }
    assert(wSkew === refW(
      Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 2L, 1L), (2L, 0L, 1L), (2L, 3L, 1L)), 5))
  }

  test("declared fixture graph: ranks sum to ~1.0 and rk orders by rank") {
    val out = Graph.qGraphPagerank(spark, sf).collect()
    assert(out.length > 0)
    val total = out.map(_.getLong(1)).sum
    assert(total <= 1000000000000L && total > 900000000000L)
    val byRk = out.sortBy(_.getLong(2))
    assert(byRk.sliding(2).forall { case Array(a, b) =>
      a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getLong(0) < b.getLong(0))
    })
  }

  // ---- r13: planted-overflow cases (the hamiltonAlloc precedent — no
  // ---- fixture reaches these magnitudes, so the spec plants them) ----

  test("modularity: planted counts past every BIGINT threshold match BigInt ground truth") {
    import spark.implicits._
    val scale = 1000000000L
    // 2m = 4e9 > 3.037e9: as a Scala Long product, twoM*twoM wraps
    // NEGATIVE — the r12 silent-corruption divisor
    val twoM = 4000000000L
    assert(twoM * twoM < 0L, "planted 2m must be past the Scala-Long wrap point")
    // community 0: intra = 1e10 — intra*scale past BIGINT (one giant
    // community); deg_c near 2m — deg_c^2 past BIGINT
    val stats = Seq(
      (0L, 1000L, 10000000000L, 3900000000L),
      (1L, 500L, 123456789L, 100000000L)
    ).toDF("community", "n_nodes", "intra", "deg_c")
    val got = Graph.modularityFromStats(stats, twoM, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    def ref(intra: Long, degC: Long): Long =
      ((BigInt(intra) * scale) / twoM -
        (BigInt(degC) * degC * scale) / (BigInt(twoM) * twoM)).toLong
    assert(got === Map(0L -> ref(10000000000L, 3900000000L),
                       1L -> ref(123456789L, 100000000L)))
    assert(got(0L) > 0L && got(1L) != 0L) // non-degenerate plant
  }

  test("weighted pageRank: star weights past the BIGINT rank*w product match BigInt ground truth") {
    import spark.implicits._
    // hub 0 holds rank ~9.1e10; w = 5e9 puts rank*w ~ 4.5e20 >> 2^63 —
    // the r12 caller contract this round replaced with DECIMAL staging
    val ws = (1L to 10L).flatMap(k => Seq((0L, k, 5000000000L), (k, 0L, 1L)))
    def refWBig(iters: Int): Map[Long, Long] = {
      val nodes = (ws.map(_._1) ++ ws.map(_._2)).distinct.sorted
      val n = nodes.size.toLong
      val wdeg = ws.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val base = 1000000000000L / n
      val tp = (15L * base) / 100L
      var r: Map[Long, Long] = nodes.map(_ -> base).toMap
      (1 to iters).foreach { _ =>
        val in = ws.groupBy(_._2).view.mapValues(
          _.map { case (s, _, w) => ((BigInt(r(s)) * w) / wdeg(s)).toLong }.sum).toMap
        r = nodes.map(v =>
          v -> (tp + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
      }
      r
    }
    assert(BigInt(1000000000000L / 11) * 5000000000L > BigInt(Long.MaxValue),
      "plant must exceed the BIGINT product")
    val got = Graph.pageRank(ws.toDF("src", "dst", "w"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refWBig(5))
  }

  test("weighted pageRank: null / non-positive weights fail by name, not by dropping mass") {
    import spark.implicits._
    val zero = Seq((0L, 1L, 0L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException](Graph.pageRank(zero, 1))
    assert(ex.getMessage.contains("strictly positive"))
    val neg = Seq((0L, 1L, -3L), (1L, 0L, 1L)).toDF("src", "dst", "w")
    val ex2 = intercept[IllegalArgumentException](Graph.pageRank(neg, 1))
    assert(ex2.getMessage.contains("strictly positive"))
    val withNull = Seq((0L, 1L, Option(5L)), (1L, 0L, Option.empty[Long]))
      .toDF("src", "dst", "w")
    val ex3 = intercept[IllegalArgumentException](Graph.pageRank(withNull, 1))
    assert(ex3.getMessage.contains("NULL"))
    // the warm-start production path shares the contract (r13 ADVICE: the
    // silent rank-mass drop must not stay reachable through the refresh)
    import org.apache.spark.sql.functions.lit
    val prev = Seq((0L, 100L), (1L, 100L)).toDF("node", "rank")
    val ex4 = intercept[IllegalArgumentException](Graph.pageRankRefresh(zero, prev))
    assert(ex4.getMessage.contains("pageRankRefresh") &&
           ex4.getMessage.contains("strictly positive"))
    val ex5 = intercept[IllegalArgumentException](Graph.pageRankRefresh(withNull, prev))
    assert(ex5.getMessage.contains("NULL"))
  }

  test("betweenness: planted funnel past the BIGINT sigma*(scale+delta) product matches BigInt ground truth") {
    import spark.implicits._
    // 0 -> {x1..x4} -> v -> w -> 5000 leaves, depth 4, scale 1e15:
    // delta(w) = 5000*1e15 = 5e18 (fits BIGINT), but the layer-2 term
    // sigma(v)*(scale+delta(w)) = 4*(1e15+5e18) ~ 2.0e19 wraps a BIGINT
    // product — exactly the r12 sibling-overflow contract, now staged
    val xs = (1L to 4L).toSeq
    val leaves = (100L until 5100L).toSeq
    val edges = xs.map(x => (0L, x)) ++ xs.map(x => (x, 10L)) ++
      Seq((10L, 11L)) ++ leaves.map(l => (11L, l))
    val scale = 1000000000000000L
    assert(BigInt(4) * (scale + 5000L * scale) > BigInt(Long.MaxValue),
      "plant must exceed the BIGINT product")
    def refBig(sources: Seq[Long], depth: Int): Map[Long, Long] = {
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val bc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      sources.foreach { s =>
        val dist = scala.collection.mutable.Map[Long, Int](s -> 0)
        val sig = scala.collection.mutable.Map[Long, Long](s -> 1L)
        var layer = Seq(s)
        val layersByD = scala.collection.mutable.Map[Int, Seq[Long]](0 -> layer)
        for (d <- 1 to depth) {
          val nextSig = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
          layer.foreach(u => adj.getOrElse(u, Nil).foreach { w =>
            if (!dist.contains(w)) nextSig(w) += sig(u)
          })
          layer = nextSig.keys.toSeq
          layer.foreach { w => dist(w) = d; sig(w) = nextSig(w) }
          layersByD(d) = layer
        }
        val dfp = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        for (d <- (depth - 1) to 0 by -1) {
          layersByD(d).foreach { v =>
            var acc = BigInt(0)
            adj.getOrElse(v, Nil).foreach { w =>
              if (dist.get(w).contains(d + 1))
                acc += BigInt(sig(v)) * (scale + dfp(w)) / sig(w)
            }
            dfp(v) = acc.toLong
            if (v != s) bc(v) += acc.toLong
          }
        }
      }
      nodes.map(v => v -> bc(v)).toMap
    }
    val got = Graph.betweenness(edges.toDF("src", "dst"),
        Seq(0L).toDF("node"), depth = 4, scale = scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refBig(Seq(0L), 4))
    assert(got(10L) > got(1L), "the funnel neck must dominate")
  }

  test("coreness fixture: every level's full-node-set peel converges within the oracle's 12-round unroll") {
    // the q_graph_coreness oracle peels each level k independently from
    // the FULL node set with 12 unrolled rounds; this pins the fixture's
    // max cascade depth under that bound at both driver-gated scales
    // (r12 advice — the qGraphKcore precedent, per level)
    Seq(sf, sf01).foreach { dir =>
      val edges = Graph.graphEdges(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val und = (edges ++ edges.map(_.swap)).filter(e => e._1 != e._2).distinct
      val allNodes = (und.map(_._1) ++ und.map(_._2)).distinct.toSet
      for (k <- 1 to 6) {
        var alive = allNodes; var rounds = 0; var changed = true
        while (changed) {
          val deg = und.filter(e => alive(e._1) && alive(e._2))
            .groupBy(_._1).view.mapValues(_.size).toMap
          val keep = alive.filter(v => deg.getOrElse(v, 0) >= k)
          changed = keep.size != alive.size
          if (changed) rounds += 1
          alive = keep
        }
        info(s"$dir k=$k: peel fixpoint in $rounds rounds (oracle unrolls 12)")
        assert(rounds <= 12, s"oracle unroll bound violated at $dir k=$k: $rounds rounds")
      }
    }
  }

  test("diameterHyperBall tracks the exact distance distribution within sketch error on the fixture graph") {
    val exact = Graph.qGraphDiameter(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val est = Graph.diameterHyperBall(Graph.graphEdges(spark, sf), depth = 6)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(est.keySet === exact.keySet)
    (1L to 6L).foreach { d =>
      val relErr = math.abs(est(d)._2 - exact(d)._2) / exact(d)._2.toDouble
      info(f"d=$d exact cum=${exact(d)._2} est cum=${est(d)._2}%.0f rel err=$relErr%.3f")
      assert(relErr <= 0.10,
        s"d=$d cumulative pair estimate off by $relErr (>10%)")
    }
    // the published statistic: first depth whose cumulative count crosses
    // 90% must agree between sketch and exact form
    val d90Exact = exact.filter(_._2._3 == 1L).keys.min
    val d90Est = est.filter(_._2._3 == 1L).keys.min
    assert(d90Est === d90Exact, s"effective diameter: est $d90Est vs exact $d90Exact")
  }

  test("scc trim: the degree cascade peels tendril chains and keeps the core") {
    import spark.implicits._
    // expander-ish core {0,1,2} + two IN-tendril chains + an OUT tail —
    // the shape the r13 cascade exists for
    val edges = Seq[(Long, Long)](
      (0, 1), (1, 2), (2, 0),
      (10, 11), (11, 12), (12, 0),
      (20, 21), (21, 22), (22, 1),
      (0, 30), (30, 31))
    val cascade = Graph.scc(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(cascade(0L) === ((2L, 3L)) && cascade(1L) === ((2L, 3L)),
      "core = {0,1,2} labeled by max member")
    assert(cascade(11L) === ((11L, 1L)) && cascade(31L) === ((31L, 1L)),
      "tendril nodes are singletons labeled by own id")
  }

  test("pageRankRefresh: warm start from the previous fixpoint converges in fewer rounds to the same ranks") {
    import spark.implicits._
    val edges = Graph.graphEdges(spark, sf)
    val uniform = Seq.empty[(Long, Long)].toDF("node", "rank") // cold start
    val tol = 2000L // ppm of total mass
    val (cold, rCold) = Graph.pageRankRefresh(edges, uniform, tolPpm = tol)
    // an incremental crawl delta: one host stops emitting links
    val edges2 = edges.filter(col("src") =!= 7L)
    val (warm, rWarm) = Graph.pageRankRefresh(edges2, cold, tolPpm = tol)
    val (cold2, rCold2) = Graph.pageRankRefresh(edges2, uniform, tolPpm = tol)
    info(s"cold $rCold rounds; after delta: warm $rWarm vs cold $rCold2 rounds")
    assert(rWarm < rCold2,
      s"warm start must beat the cold schedule: $rWarm vs $rCold2")
    // both stopped within tol of the (limit-cycle) fixpoint; the L1 gap
    // between them is bounded by ~2·tol·d/(1−d) ≈ 11.3·tolMass — assert
    // with margin (the documented comparison contract)
    val tolMass = tol * 1000000000000L / 1000000L
    val gap = warm.join(cold2.withColumnRenamed("rank", "rank2"), "node")
      .agg(coalesce(sum(abs(col("rank") - col("rank2"))), lit(0L)))
      .head().getLong(0)
    info(s"warm-vs-cold L1 gap: $gap (tolMass $tolMass)")
    assert(gap <= 16L * tolMass, s"gap $gap exceeds the tolerance contract")
  }

  test("coreness / bowtie: empty and self-loop-only edge relations return empty, not throw") {
    import spark.implicits._
    val selfOnly = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(Graph.coreness(selfOnly, kMax = 4).count() === 0L)
    assert(Graph.bowtie(selfOnly).count() === 0L)
    assert(Graph.kcore(selfOnly, k = 2).count() === 0L)
    val emptyE = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.coreness(emptyE, kMax = 4).count() === 0L)
    assert(Graph.bowtie(emptyE).count() === 0L)
    assert(Graph.kcore(emptyE, k = 2).count() === 0L)
    // diameterHyperBall joins the convention (r13 ADVICE: sum(est) over an
    // empty node set was NULL -> head().getDouble NPE'd)
    assert(Graph.diameterHyperBall(emptyE, depth = 3).count() === 0L)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorMath.vecDot
import graft.operators.Similarity

/** Measured-recall gates for the approximate indexes (r9 verdict #3: the
  * old spec only asserted "above chance").
  *
  * Two kinds of floor:
  *  1. PLANTED-NEIGHBOR recall — the production property: near-copies of
  *     a query (perturbations far smaller than the corpus's typical
  *     vector gap) must surface in the approximate top-k. This is the
  *     retrieval contract a dedup/near-dup pipeline depends on.
  *  2. FIXTURE regression floors — the measured recall of the declared
  *     queries at their own sf0.01 fixture shape (4-sub-centroid PQ over
  *     ~random vectors measured 0.20 strict / 0.76 in-top-100 in r10;
  *     floors sit below with margin so a silent scoring regression
  *     fails, while honest variance does not).
  * The 50 k-vector recall CURVES (nprobe / code-bits sweeps) live in
  * SCALE.md §Round-10 probes.
  */
class AnnRecallSpec extends SparkSpec {

  private def baseVecs: DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v"))

  /** 3 planted near-copies per query q (ids 100000+q*10+j): element j
    * shifted by 0.02·j — tiny against unit-scale elements, so each copy
    * is its query's true near-neighbor by a wide margin. */
  private def withPlants(e: DataFrame): DataFrame = {
    val plants = (0 until 5).flatMap { qid =>
      (1 to 3).map { j =>
        (100000L + qid * 10 + j, qid.toLong, j)
      }
    }
    import spark.implicits._
    val p = plants.toDF("vec_id", "src", "j")
      .join(e.select(col("vec_id").as("src"), col("v").as("sv")), "src")
      .select(col("vec_id"),
        transform(col("sv"), (x, i) =>
          x + when(i === col("j"), lit(0.02) * col("j")).otherwise(lit(0.0))).as("v"))
    e.unionByName(p)
  }

  private def normed(e: DataFrame): DataFrame =
    e.withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))

  test("PQ/ADC surfaces every planted near-copy in its query's top-10") {
    val out = Similarity.pqAdcTopk(withPlants(baseVecs)).collect()
    val found = out.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
    val expected = for (q <- 0 until 5; j <- 1 to 3)
      yield (q.toLong, 100000L + q * 10 + j)
    val hit = expected.count(found)
    assert(hit >= 13,
      s"planted-neighbor recall: $hit/15 planted copies in PQ top-10 (floor 13)")
  }

  test("projected IVF surfaces planted near-copies of its query cohort") {
    // qAnnIvfProj's queries are vec_id in [8, 13); plant for those ids
    val plants = (8 until 13).flatMap { qid =>
      (1 to 3).map(j => (100000L + qid * 10 + j, qid.toLong, j))
    }
    import spark.implicits._
    val e = baseVecs
    val p = plants.toDF("vec_id", "src", "j")
      .join(e.select(col("vec_id").as("src"), col("v").as("sv")), "src")
      .select(col("vec_id"),
        transform(col("sv"), (x, i) =>
          x + when(i === col("j"), lit(0.02) * col("j")).otherwise(lit(0.0))).as("v"))
    val out = Similarity.ivfProjTopk(normed(e.unionByName(p))).collect()
    val found = out.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    // top-3 per query; a planted copy in the query's cell must win the
    // refinement — require at least 2 of each query's 3 slots planted
    val perQuery = (8 until 13).map { q =>
      (1 to 3).count(j => found((q.toLong, 100000L + q * 10 + j)))
    }
    assert(perQuery.forall(_ >= 2),
      s"planted copies per query in projected-IVF top-3: $perQuery (floor 2 each)")
  }

  test("PQ re-rank restores recall@10 >= 0.9 at the 50k shape where plain PQ measures ~0.4") {
    // the SCALE.md `recall 25` corpus: 25 perturbed replicas of the 2k
    // sf0.1 embeddings — the near-dup-heavy distribution where 16-bit
    // ADC codes measured 0.415 strict recall (SCALE.md). The re-rank
    // leg must restore >= 0.9 against the engine's own exact scorer
    // (brute-force cosine in the SAME 4-dp score space and (cos DESC,
    // cand) tie-break — with 25 near-tie replicas per neighborhood, an
    // unrounded truth would measure last-ulp tie luck, not retrieval).
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = (0 until 25).map { r =>
      base.select((col("vec_id") + lit(r.toLong * 1000000)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === lit(r % 64), lit(0.01 * (r % 17 + 1))).otherwise(lit(0.0)))
          .as("v"))
    }.reduce(_ unionByName _)
    val e = normed(big).repartition(8, col("vec_id")).localCheckpoint()
    val got = Similarity.pqRerankTopk(e).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = e.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 10)
      .select("qid", "cand").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand")))
    val recall = gt.count(got) / 50.0
    info(f"PQ-rerank recall@10 at 50k vectors: $recall%.3f (plain-PQ SCALE.md point: 0.415)")
    assert(recall >= 0.9, f"re-rank recall floor: $recall%.3f >= 0.9")
  }

  test("composed IVF-PQ surfaces planted near-copies through cell probe + residual codes + re-rank") {
    // the full-stack retrieval contract: a planted near-copy must (a)
    // land in its query's argmax cell (tiny perturbation -> same coarse
    // assignment), (b) survive the residual-ADC pool nomination, and
    // (c) win the exact re-rank. A miss at ANY stage drops it from the
    // top-10, so this floor gates the composition, not one stage.
    val out = Similarity.ivfPqTopk(withPlants(baseVecs)).collect()
    val found = out.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
    val expected = for (q <- 0 until 5; j <- 1 to 3)
      yield (q.toLong, 100000L + q * 10 + j)
    val hit = expected.count(found)
    info(s"planted copies in composed IVF-PQ top-10: $hit/15")
    assert(hit >= 12,
      s"planted-neighbor recall: $hit/15 planted copies in IVF-PQ top-10 (floor 12)")
  }

  test("IVF-PQ recall dials: the OPQ rotation and a deeper pool hold the planted floor") {
    // the r13 1M-probe levers (SCALE.md: rotation 0.630 -> 0.825 at
    // unchanged budget; pool 100/200/400 -> 0.630/0.860/0.995) wired
    // through the public dials: the rotation is orthonormal so the
    // planted-neighbor contract must hold under it, and a deeper pool
    // can only widen the nomination stage
    val vv = withPlants(baseVecs)
    val expected = (for (q <- 0 until 5; j <- 1 to 3)
      yield (q.toLong, 100000L + q * 10 + j)).toSeq
    Seq(("rotate", Similarity.ivfPqTopk(vv, rotate = true)),
        ("pool=200", Similarity.ivfPqTopk(vv, poolN = 200))).foreach {
      case (tag, out) =>
        val found = out.collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
        val hit = expected.count(found)
        info(s"planted copies in composed IVF-PQ [$tag] top-10: $hit/15")
        assert(hit >= 12, s"[$tag] planted-neighbor recall: $hit/15 (floor 12)")
    }
  }

  test("kNN graph: edges are true bucket-top-3; measured recall vs exact top-3 floor") {
    val got = Similarity.qAnnKnnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // structure: rk dense 1..3 per vid, no self-edges
    val byVid = got.groupBy(_._1)
    byVid.foreach { case (vid, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq, s"vid $vid ranks")
      assert(rows.forall(_._2 != vid), s"vid $vid self-edge")
    }
    // exact top-3 by brute force (driver-side: fixture is small)
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val ids = vs.keys.toArray
    val recall = ids.map { q =>
      val exact = ids.filter(_ != q)
        .map(c => (math.floor(cos(vs(q), vs(c)) * 10000) / 10000, c))
        .sortBy { case (s, c) => (-s, c) }.take(3).map(_._2).toSet
      val approx = byVid.getOrElse(q, Array.empty).map(_._2).toSet
      (approx & exact).size.toDouble / 3.0
    }
    val mean = recall.sum / recall.length
    info(f"kNN-graph recall@3 vs exact: $mean%.3f over ${ids.length} vectors")
    // bucket ∪ random-expander seeds + 4 NN-descent rounds over
    // near-random vectors (the hardest corpus for locality seeds):
    // measured 0.686 — vs 0.162 (bucket seeds alone, descent provably
    // inert: 2-hop never leaves a seed component and components =
    // buckets) and 0.031 (sparse plane2 buckets alone). The floor sits
    // under the measurement with honest margin and catches a broken
    // candidate union or a dead descent loop, not an ambition
    assert(mean >= 0.5, f"recall collapsed: $mean%.3f")
  }

  test("graph search: beam walk over the kNN graph holds a recall floor at the 50k shape") {
    // same near-dup-heavy 50k corpus as the PQ re-rank case (25 perturbed
    // replicas of the 2k sf0.1 embeddings), same exact-cosine ground truth
    // in the family's 4-dp score space. The walk's exact-scored budget is
    // entries + rounds·beam·kBuild ≈ 260 candidates/query — the IVF-PQ
    // pool dial's territory (pool 100-400) — so this is the
    // equal-exact-budget floor the SCALE.md probe quantifies
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(24))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === pmod(col("r"), lit(64)),
                 lit(0.01) * (pmod(col("r"), lit(17)) + 1).cast("double"))
              .otherwise(lit(0.0)))
          .as("v"))
    val e = normed(big).repartition(8, col("vec_id")).localCheckpoint()
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val g = Similarity.knnGraphEdges(e, kRand = 4, kBuild = 8, rounds = 2)
    val got = Similarity.graphSearch(e, g, q, k = 10, beam = 8, rounds = 4,
        nEntries = 4, corpusMin = 5L)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = e.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 10)
      .select("qid", "cand").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand")))
    val recall = gt.count { case (qid, cand) => got.contains((qid, cand)) } / 50.0
    info(f"graph-search recall@10 at 50k vectors: $recall%.3f")
    assert(recall >= 0.8, f"graph-search recall floor: $recall%.3f >= 0.8")
  }

  test("hierarchical descent navigates a gradient corpus from one global entry (the navigability converse of the replica-shape negative)") {
    // vectors on a quarter-circle arc: cosine falls MONOTONICALLY with id
    // distance, so a greedy walk has a gradient to follow everywhere —
    // the property the 50k replica corpus lacks (SCALE.md r14 records
    // recall 0.030 there from the same machinery). Queries target spread
    // arc positions far from the global entry (the minimum corpus id).
    import spark.implicits._
    val corpus = (20 until 420).map { i =>
      val th = (math.Pi / 2) * i / 440.0
      (i.toLong, Array(math.cos(th), math.sin(th)))
    }
    val queries = (0 until 10).map { qIdx =>
      val t = 30 + 39 * qIdx
      val th = (math.Pi / 2) * t / 440.0
      (qIdx.toLong, Array(math.cos(th), math.sin(th)))
    }
    val e = normed((corpus ++ queries).toDF("vec_id", "v"))
      .repartition(4, col("vec_id")).localCheckpoint()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    // the arc has only SHORT kNN edges (no small-world long links), so a
    // far target needs ~arc/stride hops at the top level; the fixpoint
    // stop makes a generous cap cheap (rounds end when movement does)
    val got = Similarity.graphSearchHier(e, q, k = 10, beam = 8, rounds = 4,
        corpusMin = 20L, maxLevels = 3, descentBeam = 2, descentRounds = 96)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = e.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 10)
      .select("qid", "cand").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand")))
    val recall = gt.count { case (qid, cand) => got.contains((qid, cand)) } / 100.0
    info(f"hierarchical descent recall@10 on the gradient corpus: $recall%.3f")
    assert(recall >= 0.8,
      f"descent must navigate a monotone-gradient corpus: $recall%.3f >= 0.8")
  }

  test("persisted leveled index: graphSearchIndexedHier descends to the same floor on the gradient corpus") {
    // the r15 verdict-#3 production path: buildGraphIndex(maxLevels)
    // persists edges_hi, the query descends it level by level — must
    // match the in-memory hierarchy's navigability on the arc corpus
    import spark.implicits._
    val corpus = (20 until 420).map { i =>
      val th = (math.Pi / 2) * i / 440.0
      (i.toLong, Array(math.cos(th), math.sin(th)))
    }
    val queries = (0 until 10).map { qIdx =>
      val t = 30 + 39 * qIdx
      val th = (math.Pi / 2) * t / 440.0
      (qIdx.toLong, Array(math.cos(th), math.sin(th)))
    }
    val e = normed((corpus ++ queries).toDF("vec_id", "v"))
      .repartition(4, col("vec_id")).localCheckpoint()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val dir = java.nio.file.Files.createTempDirectory("graft_hier_idx")
      .resolve("idx").toString
    Similarity.buildGraphIndex(e, dir, kRand = 4, kBuild = 8, rounds = 2,
      sigBits = 8, nEntries = 4, corpusMin = 20L, maxLevels = 3)
    val got = Similarity.graphSearchIndexedHier(e, dir, q, k = 10, beam = 8,
        rounds = 4, corpusMin = 20L, maxLevels = 3,
        descentBeam = 2, descentRounds = 96)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = e.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 10)
      .select("qid", "cand").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand")))
    val recall = gt.count { case (qid, cand) => got.contains((qid, cand)) } / 100.0
    info(f"persisted-hier descent recall@10 on the gradient corpus: $recall%.3f")
    assert(recall >= 0.8,
      f"persisted descent must match the in-memory hierarchy: $recall%.3f >= 0.8")
  }

  test("fixture regression floors: PQ recall vs exact-L2 truth at sf0.01") {
    val e = normed(baseVecs).localCheckpoint()
    val out = Similarity.pqAdcTopk(e).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"))).toSet
    // exact L2 ground truth, computed first-principles on the driver
    // (500 x 64 doubles)
    val vecs = e.select("vec_id", "v").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("v").toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var strictHits = 0; var wideHits = 0
    for (q <- 0L until 5L) {
      val d = vecs.filter(_._1 >= 5)
        .map { case (id, v) => id -> l2(v, vecs(q)) }.toSeq
        .sortBy { case (id, dd) => (dd, id) }
      val top10 = d.take(10).map(_._1).toSet
      val top100 = d.take(100).map(_._1).toSet
      strictHits += top10.count(id => out((q, id)))
      wideHits += out.collect { case (qq, id) if qq == q && top100(id) => id }.size
    }
    val strict = strictHits / 50.0
    val wide = wideHits / 50.0
    info(f"PQ fixture recall@10=$strict%.2f in-top100=$wide%.2f (r10 measured 0.20 / 0.76)")
    assert(strict >= 0.12, f"strict recall floor: $strict%.2f >= 0.12")
    assert(wide >= 0.55, f"in-top100 containment floor: $wide%.2f >= 0.55")
  }

  test("k-means|| seeding covers rare far clusters that uniform donors miss") {
    // The SCALE.md 1M IVF-PQ failure shape, distilled: 97% of sub-vectors
    // collapse onto one pattern (the no-perturbation residual), three
    // 10-point clusters sit far away. Uniform/hash-spread donor selection
    // lands in the mega-cluster; D²-weighted seeding must cover all four.
    import spark.implicits._
    val dim = 8
    val mega = (0L until 970L).map(id => (id, 0, Array.fill(dim)(0.0)))
    val far = for (c <- 1 to 3; p <- 0 until 10)
      yield (1000L * c + p, 0,
             Array.tabulate(dim)(i => if (i == c) 10.0 else 0.0))
    val sub = (mega ++ far).toDF("id", "j", "sv")
    def pat(id: Long): Long = if (id < 1000L) 0L else id / 1000L

    // the contrast: hash-spread donors at the same budget (the probe's
    // untrained convention — ~8 donors uniform over ids) see only the
    // mega-cluster
    val donorIds = sub.select(col("id"))
      .filter(pmod(xxhash64(col("id")), lit(1000L / 8L)) === 0)
      .orderBy("id").limit(8).collect().map(_.getLong(0))
    val donorPats = donorIds.map(pat).toSet
    info(s"uniform donors cover patterns: $donorPats")
    assert(donorPats !== Set(0L, 1L, 2L, 3L),
      s"fixture degenerate: uniform donors covered everything ($donorPats)")

    val cand = Similarity.kmeansParSeed(sub, l = 8, rounds = 3).collect()
    val covered = cand.map(r => pat(r.getLong(1))).toSet
    info(s"k-means|| candidates: ${cand.length}, patterns covered: $covered")
    assert(covered === Set(0L, 1L, 2L, 3L), s"covered=$covered")

    // weighted reduction: the argmin tie-break routes every point of a
    // pattern to that pattern's smallest candidate id, so per-pattern
    // candidate weights sum to exactly the pattern's population
    val byPat = cand.groupBy(r => pat(r.getLong(1)))
      .view.mapValues(_.map(_.getLong(3)).sum).toMap
    assert(byPat === Map(0L -> 970L, 1L -> 10L, 2L -> 10L, 3L -> 10L),
      s"pattern mass: $byPat")

    // codebook cut at k=4: exactly the four pattern representatives
    // (duplicate same-pattern candidates carry weight 0 and rank below)
    val cb = Similarity.kmeansParCodebook(sub, k = 4, l = 8, rounds = 3)
      .collect()
    assert(cb.length === 4)
  }

  test("pruneDegree keeps each vertex's top-M out-neighbors by exact cosine") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a hot vertex (0) with 6 out-neighbors of strictly ordered cosine:
    // neighbor i points along e0 rotated by a growing angle, so the
    // top-3 cut keeps exactly the 3 smallest angles; a low-degree vertex
    // (10) must pass through untouched
    val dim = 8
    def v(angle: Double): Array[Double] =
      Array.tabulate(dim)(i => if (i == 0) math.cos(angle) else if (i == 1) math.sin(angle) else 0.0)
    val vecs = ((0L, v(0.0)) +: (1L to 6L).map(i => (i, v(i * 0.2))) :+ (10L, v(1.5)) :+ (11L, v(1.4)))
      .toDF("vec_id", "v")
    val gu = ((1L to 6L).map(i => (0L, i)) :+ (10L, 11L)).toDF("vid", "nb")
    val pruned = graft.operators.Similarity.pruneDegree(gu, vecs, maxDeg = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned === Set((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L)),
      s"top-3 by cosine + untouched low-degree vertex, got $pruned")
  }

  test("pruneDegreeDiverse preserves the long-range link that naive top-M cuts") {
    import spark.implicits._
    // hot vertex 0 along e0 with a TIGHT cluster of 5 near-duplicates
    // (angles 0.1..0.5 in the e0-e1 plane) and ONE long-range link L
    // (orthogonal e2 direction, cosine ~0 to everything): similarity-
    // ranked top-3 keeps three near-duplicates and drops L — the exact
    // failure that collapsed global-entry recall 0.495 -> 0.100 at the
    // 50k probe — while the HNSW diversity heuristic keeps the first
    // cluster representative, rejects its near-duplicates, keeps L, and
    // back-fills to M with the best pruned
    val dim = 8
    def planar(angle: Double): Array[Double] =
      Array.tabulate(dim)(i => if (i == 0) math.cos(angle) else if (i == 1) math.sin(angle) else 0.0)
    val long = Array.tabulate(dim)(i => if (i == 2) 1.0 else 0.0)
    val vecs = ((0L, planar(0.0)) +: (1L to 5L).map(i => (i, planar(i * 0.1))) :+ (9L, long))
      .toDF("vec_id", "v")
    val gu = ((1L to 5L).map(i => (0L, i)) :+ (0L, 9L)).toDF("vid", "nb")
    val naive = graft.operators.Similarity.pruneDegree(gu, vecs, maxDeg = 3)
      .collect().map(_.getLong(1)).toSet
    val diverse = graft.operators.Similarity.pruneDegreeDiverse(gu, vecs, maxDeg = 3)
      .collect().map(_.getLong(1)).toSet
    assert(naive === Set(1L, 2L, 3L), s"naive keeps the near-duplicates: $naive")
    assert(diverse.contains(9L), s"diverse must keep the long link: $diverse")
    assert(diverse.size === 3 && diverse.contains(1L),
      s"diverse keeps the cluster representative + fills to M: $diverse")
    // below the bound the heuristic + fill is an exact no-op (the
    // StreamingSpec refresh-twin regime)
    val small = graft.operators.Similarity.pruneDegreeDiverse(gu, vecs, maxDeg = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small === gu.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }
}

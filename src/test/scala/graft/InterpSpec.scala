package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Prop, Test => SCTest}
import graft.operators.Interp

/** Golden + property tests for the barycentric interpolation pipeline
  * (SURVEY §5.3/§5.4) — the one part of the reference whose math needs
  * hand-checked expectations.
  */
class InterpSpec extends SparkSpec {

  /** Spark's round(col, 4): BigDecimal HALF_UP — replicated exactly. */
  private def round4(x: Double): Double =
    BigDecimal.valueOf(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def nodeValue(n: Long, t: Long): Double =
    round4(math.sin(n * 0.7 + t * 1.3) * 10.0)

  test("golden: unit-lattice mesh, hand-computed cell") {
    // Grid point (0.3, 0.3) lies in the lower triangle of cell (0,0):
    // nodes n1=0 at (0,0), n2=1 at (1,0), n3=K at (0,1); barycentric
    // weights ~ (0.4, 0.3, 0.3), computed below with the engine's exact
    // double expressions so the comparison is bit-for-bit.
    val out = Interp.qInterpBarycentric(spark, sf)
      .filter(col("ts") === 0 && col("grow") === 0 && col("gcol") === 0)
      .collect()
    assert(out.length === 1)
    val (x1, y1, x2, y2, x3, y3) = (0.0, 0.0, 1.0, 0.0, 0.0, 1.0)
    val (xm, ym) = (0.3, 0.3)
    val det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
    val w1 = ((y2 - y3) * (xm - x3) + (x3 - x2) * (ym - y3)) / det
    val w2 = ((y3 - y1) * (xm - x3) + (x1 - x3) * (ym - y3)) / det
    val w3 = 1.0 - w1 - w2
    assert(math.abs(w1 - 0.4) < 1e-12 && math.abs(w2 - 0.3) < 1e-12)
    val expected = w1 * nodeValue(0, 0) + w2 * nodeValue(1, 0) + w3 * nodeValue(Interp.K.toLong, 0)
    assert(out.head.getAs[Long]("zi4") === math.floor(expected * 10000.0 + 0.5).toLong)
  }

  test("every grid cell is claimed exactly once per timestep") {
    val out = Interp.qInterpBarycentric(spark, sf)
    val n = out.count()
    assert(n === Interp.T.toLong * Interp.G * Interp.G)
    val dups = out.groupBy("ts", "grow", "gcol").count().filter(col("count") > 1).count()
    assert(dups === 0)
  }

  test("constant field interpolates to the constant (the reference's ones-mask trick)") {
    // reference run/adcircTime2cogs.py:179-183: interpolating a ones vector
    // must give exactly 1 inside the mesh. w1+w2+w3 = 1 by construction.
    val cm = Interp.cellMap(spark)
    val bad = cm.filter(abs(col("w1") + col("w2") + col("w3") - 1.0) > 1e-9).count()
    assert(bad === 0)
  }

  test("weights are a convex combination (inside-hull containment)") {
    val cm = Interp.cellMap(spark).collect()
    assert(cm.nonEmpty)
    cm.foreach { r =>
      Seq("w1", "w2", "w3").foreach { w =>
        val v = r.getAs[Double](w)
        assert(v >= -1e-12 && v <= 1.0 + 1e-12, s"$w = $v out of [0,1]")
      }
    }
  }

  test("property: interpolated value within [min,max] of the 3 corner values") {
    val rows = Interp.qInterpBarycentric(spark, sf)
      .join(Interp.cellMap(spark), Seq("grow", "gcol"))
      .select("ts", "zi4", "n1", "n2", "n3")
      .collect()
    rows.foreach { r =>
      val t = r.getAs[Long]("ts")
      val vs = Seq("n1", "n2", "n3").map(c => nodeValue(r.getAs[Long](c), t))
      val zi = r.getAs[Long]("zi4") / 1e4
      assert(zi >= vs.min - 1e-3 && zi <= vs.max + 1e-3,
             s"zi=$zi outside corner range [${vs.min}, ${vs.max}]")
    }
  }

  test("IDW kNN regridding: convex bounds, exact-hit limit, full coverage") {
    val out = Interp.qInterpIdw(spark, sf).collect()
    assert(out.length === Interp.G * Interp.G, "every cell regrids (radius covers the grid)")
    // IDW is a convex combination of its k neighbor values: every output
    // must sit inside the global field envelope (|value| <= 10 rounded)
    out.foreach { r =>
      val v = r.getLong(2)
      assert(v >= -100001 && v <= 100001, s"cell (${r.getInt(0)},${r.getInt(1)}): idw4 $v outside envelope")
    }
    // exact-hit limit: rebuild candidate ranks and check any d2=0 cell
    // reports exactly its node's value (the CASE branch, not the ratio)
    val vals = Interp.series(spark, Interp.K, 1).filter(col("ts") === 0).drop("ts")
    val nd = Interp.nodes(spark, Interp.K).join(vals, "node_id")
    val hits = Interp.grid(spark, Interp.G)
      .join(nd, col("lon") === col("xm") && col("lat") === col("ym"))
      .select(col("gcol"), col("grow"),
              floor(col("value") * 10000.0 + 0.5).cast("long").as("want"))
      .collect()
    assert(hits.nonEmpty, "the lattice plants at least one exact centroid-on-node hit")
    val byCell = out.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    hits.foreach { h =>
      assert(byCell((h.getInt(0), h.getInt(1))) === h.getLong(2),
        s"exact hit at (${h.getInt(0)},${h.getInt(1)}) must return the node value")
    }
  }

  test("series-join paths are bit-identical: broadcast (toy) vs corner-explode shuffle (scale)") {
    // both compute ((w1·v1 + w2·v2) + w3·v3) in fixed order, so the zi4
    // integers must agree EXACTLY — the property that lets the size gate
    // switch plans without touching the oracle
    val viaBroadcast = Interp.interpolate(spark, Interp.K, Interp.G, Interp.T,
        broadcastSeries = Some(true)).collect()
    val viaShuffle = Interp.interpolate(spark, Interp.K, Interp.G, Interp.T,
        broadcastSeries = Some(false)).collect()
    assert(viaBroadcast.nonEmpty)
    assert(viaBroadcast.map(_.toString).toSeq === viaShuffle.map(_.toString).toSeq)
  }

  test("above the gate the series side carries NO broadcast hint (driver-memory safety at 3e7 rows)") {
    // production shape: ~3e5 nodes × O(10²) timesteps ≈ 3e7 series rows.
    // Just BUILD the plan (no execution) and assert no broadcast hint wraps
    // any series projection — AQE remains free to broadcast if the runtime
    // size fits, but the code must not force it.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = Interp.interpolate(spark, 600, 10, 100) // 600²×100 = 36M rows > gate
    val seriesCols = Set("v1", "v2", "v3", "value")
    val hints = df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.child.output.map(_.name).toSet.intersect(seriesCols).nonEmpty => h
    }
    assert(hints.isEmpty,
      s"series must not be broadcast above the gate:\n${hints.mkString("\n")}")
    // and the toy path (below the gate) DOES broadcast — the fast plan stays
    val toy = Interp.interpolate(spark, Interp.K, Interp.G, Interp.T)
    val toyHints = toy.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.child.output.map(_.name).toSet.intersect(seriesCols).nonEmpty => h
    }
    assert(toyHints.size === 3, s"toy series should broadcast 3x, got ${toyHints.size}")
  }

  test("tables entry point: broadcast and corner-explode paths are bit-identical") {
    // r7 verdict weak #1: the end-to-end pipeline (interpolateTables) must
    // run the SAME size-gated join as the oracle query — both overrides of
    // the gate must agree exactly through the *tables* entry point
    val nodesDf = Interp.nodes(spark, 8)
    val elementsDf = Interp.elements(spark, 8)
    val seriesDf = Interp.series(spark, 8, 2)
    val spec = Interp.gridSpec(nodesDf, 12)
    val a = Interp.interpolateTables(nodesDf, elementsDf, seriesDf, spec, Some(true))
      .orderBy("ts", "grow", "gcol").collect()
    val b = Interp.interpolateTables(nodesDf, elementsDf, seriesDf, spec, Some(false))
      .orderBy("ts", "grow", "gcol").collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }

  test("sparse or null-valued series rows: both gate paths agree exactly") {
    // review finding r8: a MISSING (ts, node_id) series row (ADCIRC ingest
    // gap) must drop the cell-timestep on BOTH paths (small = inner-join
    // semantics; scale = corner-presence filter), while a PRESENT row with
    // a masked-to-null VALUE must keep the row (null raster value) on both
    val nodesDf = Interp.nodes(spark, 8)
    val elementsDf = Interp.elements(spark, 8)
    val full = Interp.series(spark, 8, 2)
    val spec = Interp.gridSpec(nodesDf, 12)
    def runBoth(series: org.apache.spark.sql.DataFrame) = {
      val a = Interp.interpolateTables(nodesDf, elementsDf, series, spec, Some(true))
        .orderBy("ts", "grow", "gcol").collect()
      val b = Interp.interpolateTables(nodesDf, elementsDf, series, spec, Some(false))
        .orderBy("ts", "grow", "gcol").collect()
      assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
        "gate paths must agree row-for-row")
      a
    }
    val fullRows = runBoth(full).length
    // node 9 = lattice (1,1): a corner of several mapped cells
    val sparse = full.filter(!(col("ts") === 0 && col("node_id") === 9))
    val sparseRows = runBoth(sparse)
    assert(sparseRows.length < fullRows,
      "a missing corner series row must drop its cell-timesteps")
    val nulled = full.withColumn("value",
      when(col("ts") === 0 && col("node_id") === 9, lit(null).cast("double"))
        .otherwise(col("value")))
    val nulledRows = runBoth(nulled)
    assert(nulledRows.length === fullRows,
      "a present-but-null series value must keep the row (null raster cell)")
  }

  test("tables entry point: production-shape series stats select the single-shuffle corner-explode join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    // ~3e7-row series (3e5 nodes × 100 ts — the BASELINE.md production
    // shape). Never executed: the assertion is on the PLAN the gate picks.
    val nodesDf = Interp.nodes(spark, 4)
    val elementsDf = Interp.elements(spark, 4)
    val seriesDf = spark.range(0, 30L * 1000 * 1000).toDF("id").select(
      (col("id") % 100).as("ts"),
      (col("id") / 100).cast("long").as("node_id"),
      col("id").cast("double").as("value"))
    val spec = Interp.GridSpec(0.0, 3.0, 0.0, 3.0, 10)
    val out = Interp.interpolateTables(nodesDf, elementsDf, seriesDf, spec)
    val plan = out.queryExecution.analyzed
    // corner-explode marker: the pivot column only exists on the scale path
    assert(plan.toString.contains("corner"), "expected the corner-explode join shape")
    // exactly ONE join touches the series fact: 3 node-coordinate joins +
    // 1 series join = 4 (the broadcast form would be 6)
    val joins = plan.collect { case j: Join => j }
    assert(joins.size === 4, s"expected 4 joins (single series join), got ${joins.size}")
    // and no broadcast hint wraps the series side — only the tiny node dim
    val seriesCols = Set("value", "v1", "v2", "v3")
    val badHints = plan.collect {
      case h: ResolvedHint if h.child.output.map(_.name).toSet.intersect(seriesCols).nonEmpty => h
    }
    assert(badHints.isEmpty, s"series must not be broadcast above the gate:\n$badHints")
  }

  test("gate mid-zone: series above the planner's broadcast threshold takes corner-explode") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // r8 advice: a series sized between autoBroadcastJoinThreshold and
    // BroadcastSeriesMaxBytes used to select the 3-join 'small' shape,
    // which the planner (unhinted) would run as THREE SHUFFLED joins.
    // The gate now reads the session threshold, so shrinking it must
    // flip the same series to the single-shuffle corner-explode shape.
    val nodesDf = Interp.nodes(spark, 8)
    val elementsDf = Interp.elements(spark, 8)
    val seriesDf = Interp.series(spark, 8, 4) // a few KB — above a 1KB threshold
    val spec = Interp.gridSpec(nodesDf, 12)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "1KB")
      val mid = Interp.interpolateTables(nodesDf, elementsDf, seriesDf, spec)
      val joins = mid.queryExecution.analyzed.collect { case j: Join => j }
      assert(joins.size === 4, s"mid-zone must corner-explode (4 joins), got ${joins.size}")
      // broadcast disabled entirely (-1) must also fall through
      spark.conf.set(key, "-1")
      val off = Interp.interpolateTables(nodesDf, elementsDf, seriesDf, spec)
      val joinsOff = off.queryExecution.analyzed.collect { case j: Join => j }
      assert(joinsOff.size === 4, s"threshold -1 must corner-explode, got ${joinsOff.size}")
      // and with the default threshold restored the tiny toy series is
      // back under the gate: 3-join small shape (6 joins)
      spark.conf.set(key, saved)
      val smallShape = Interp.interpolateTables(nodesDf, elementsDf, seriesDf, spec)
      val joinsSmall = smallShape.queryExecution.analyzed.collect { case j: Join => j }
      assert(joinsSmall.size === 6, s"tiny series must keep the 3-join shape, got ${joinsSmall.size}")
    } finally spark.conf.set(key, saved)
  }

  test("scale: row-walk interp at production mesh magnitude (79k triangles, 250k cells)") {
    // BASELINE.md: production mesh ~4.5e5 triangles, raster 70.7M cells.
    // k=200/g=500 → 79,202 triangles × 250,000 cells: a naive containment
    // join would evaluate 2.0e10 pairs; the row walk stays local.
    val t0 = System.nanoTime()
    val n = graft.operators.Interp.interpolate(spark, 200, 500, 2).count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"interpolated $n rows in $secs%.1fs")
    assert(n === 2L * 500 * 500) // every cell claimed, both timesteps
    assert(secs < 120.0, f"row-walk interp too slow: $secs%.1fs")
    // and the SCALE join path (corner-explode shuffle, what production
    // series sizes select) executes at the same magnitude with the same
    // row count — the gate switches plans, never results
    val t1 = System.nanoTime()
    val n2 = graft.operators.Interp.interpolate(spark, 200, 500, 2,
      broadcastSeries = Some(false)).count()
    val secs2 = (System.nanoTime() - t1) / 1e9
    info(f"corner-explode path: $n2 rows in $secs2%.1fs")
    assert(n2 === n)
    assert(secs2 < 120.0, f"corner-explode interp too slow: $secs2%.1fs")
  }

  test("property (scalacheck): interpolation at a node reproduces the node value") {
    // Place the query point AT a random interior lattice node: exactly one
    // weight is 1, the rest 0, so the interpolated value equals the node's
    // value — the strongest of the SURVEY §5.4 invariants.
    val tris = Interp.corners(Interp.nodes(spark), Interp.elements(spark))
      .select("n1", "x1", "y1", "x2", "y2", "x3", "y3").distinct().collect()
    val prop = Prop.forAll(org.scalacheck.Gen.choose(0, tris.length - 1)) { i =>
      val r = tris(i)
      val (x1, y1) = (r.getDouble(1), r.getDouble(2))
      val (x2, y2) = (r.getDouble(3), r.getDouble(4))
      val (x3, y3) = (r.getDouble(5), r.getDouble(6))
      val det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
      // query point = corner 1
      val w1 = ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) / det
      val w2 = ((y3 - y1) * (x1 - x3) + (x1 - x3) * (y1 - y3)) / det
      val w3 = 1.0 - w1 - w2
      val v = Seq(nodeValue(r.getAs[Long]("n1"), 0), 123.0, -456.0)
      val interp = w1 * v(0) + w2 * v(1) + w3 * v(2)
      math.abs(interp - v(0)) < 1e-9
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }
}

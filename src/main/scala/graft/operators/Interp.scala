package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's core computation, relationalized: interpolate an
  * unstructured triangular mesh timeseries onto a regular raster grid
  * (scipy `LinearNDInterpolator`, /root/reference/run/adcircTime2cogs.py:199-200)
  * — SURVEY §2.3 J1/J2 + §2.4 A4.
  *
  * Decomposition (no UDF, no scipy — pure relational algebra):
  *   1. the mesh is a *generated relation* and raster centroids are
  *      arithmetic on their row/column indices (the reference's
  *      `np.arange`/`np.meshgrid`, run/adcircTime2cogs.py:74-81);
  *   2. point-in-triangle containment walks each triangle's raster rows
  *      (scan conversion): a triangle emits only the centroids of the
  *      rows its y-span crosses, in each row only the columns between its
  *      edges' x-intercepts, and the exact barycentric sign test then
  *      drops the near misses (SURVEY §4, §7.5.1). The O(cells ×
  *      triangles) nested loop becomes O(cells + triangles) work local to
  *      each triangle, with no cell relation and no containment join.
  *   3. barycentric weights are closed-form column math; the per-timestep
  *      value = w1·v1 + w2·v2 + w3·v3 via three broadcast equi-joins on
  *      node_id (the reference's positional alignment, SURVEY J5) — one
  *      fixed-order expression, so Spark and DuckDB produce bit-equal
  *      doubles.
  *   4. ties (a centroid epsilon-close to a shared edge claimed by two
  *      triangles) resolve to the lowest ele_id via one window — keeping
  *      (ts, row, col) unique, which the reference gets implicitly from
  *      Qhull's simplex lookup.
  *
  * The mesh is a K×K unit lattice split into 2(K-1)² triangles; values are
  * a rounded sine field — deterministic and reproducible in ANSI SQL, so the
  * whole pipeline is DuckDB-oracle-checkable (SURVEY §7.3's
  * q_interp_barycentric).
  */
object Interp {

  val K = 20 // mesh: K×K nodes, 2(K-1)² triangles
  val G = 50 // raster: G×G centroids
  val T = 3  // timesteps

  /** Mesh nodes: node_id → (lon, lat) on the integer lattice. */
  def nodes(s: SparkSession, k: Int = K): DataFrame =
    s.range(0, k.toLong * k).toDF("node_id")
      .select(col("node_id"),
              (col("node_id") % k).cast("double").as("lon"),
              floor(col("node_id") / k).cast("double").as("lat"))

  /** Triangle connectivity: each lattice cell → lower/upper triangle.
    * (The reference reads these from NetCDF `element` 1-based,
    * adcirc_dask_utilities.py:19; generated here, already 0-based.) */
  def elements(s: SparkSession, k: Int = K): DataFrame = {
    val cell = floor(col("id") / 2)
    val r = floor(cell / (k - 1)); val c = cell % (k - 1)
    val lower = col("id") % 2 === 0
    s.range(0, 2L * (k - 1) * (k - 1)).toDF("id")
      .select(col("id").as("ele_id"),
              when(lower, r * k + c).otherwise(r * k + c + 1).cast("long").as("n1"),
              when(lower, r * k + c + 1).otherwise((r + 1) * k + c + 1).cast("long").as("n2"),
              ((r + 1) * k + c).cast("long").as("n3"))
  }

  /** Raster centroids with their (single) containing bucket key. */
  def grid(s: SparkSession, g: Int = G): DataFrame =
    s.range(0, g.toLong * g).toDF("id")
      .select((col("id") % g).cast("int").as("gcol"),
              floor(col("id") / g).cast("int").as("grow"))
      .select(col("gcol"), col("grow"),
              (lit(0.3) + col("gcol").cast("double") * lit(0.38)).as("xm"),
              (lit(0.3) + col("grow").cast("double") * lit(0.38)).as("ym"))
      .withColumn("bx", floor(col("xm")).cast("long"))
      .withColumn("by", floor(col("ym")).cast("long"))

  /** Timeseries in long form (SURVEY §1.1): deterministic sine field. */
  def series(s: SparkSession, k: Int = K, t: Int = T): DataFrame =
    s.range(0, t.toLong * k * k).toDF("id")
      .select(floor(col("id") / (k * k)).cast("long").as("ts"),
              (col("id") % (k * k)).cast("long").as("node_id"))
      .withColumn("value", round(sin(col("node_id").cast("double") * lit(0.7) +
                                     col("ts").cast("double") * lit(1.3)) * lit(10.0), 4))

  /** The J2 containment on the toy grid (centroid i at 0.3 + i·0.38 on
    * both axes): the row walk, the barycentric residual, ties to the
    * lowest ele_id. */
  def cellMap(s: SparkSession, k: Int = K, g: Int = G): DataFrame = {
    val toy = Axis(0.3, 0.0, 0.38)
    containment(walk(nodes(s, k), elements(s, k), g, toy, toy))
  }

  /** Manifest q_interp_barycentric: one raster value per (ts, row, col) —
    * the reference's per-timestep loop body (run/adcircTime2cogs.py:190-209)
    * for ALL timesteps in one shot (time is just another join key; Spark
    * parallelizes over it instead of looping serially — the reference's
    * serial bottleneck, SURVEY §3.1 step 4). The weighted sum is one
    * fixed-order expression (w1·v1 + w2·v2 + w3·v3), not a 3-row aggregate,
    * so its FP result is engine-independent. */
  def qInterpBarycentric(s: SparkSession, d: String): DataFrame =
    interpolate(s, K, G, T)

  /** Above this many Catalyst-estimated series bytes the value join stops
    * broadcasting: the production shape is ~3e5 nodes × O(10²) timesteps ≈
    * 3e7 rows — a driver-memory scale-killer as a broadcast. ~100 MB
    * (4M rows × ~24 B) is the conventional broadcast comfort ceiling. */
  val BroadcastSeriesMaxBytes: Long = 100L << 20

  /** The series-join shape gate of [[interpolate]] and
    * [[interpolateTables]]: true (the 3-join shape) when the series'
    * optimized-plan `stats.sizeInBytes` (actual file bytes for
    * parquet-backed relations, row-width products for generated ones) is
    * at most min([[BroadcastSeriesMaxBytes]], the session's
    * autoBroadcastJoinThreshold). The gate must agree with the PLANNER's
    * broadcast decision: the 3-join carries no hint, so a
    * series between the threshold and the ceiling would plan three
    * SHUFFLED joins — strictly worse than the corner-explode path's
    * single shuffle. A threshold <= 0 (broadcast disabled) always takes
    * the corner-explode path. */
  private[graft] def seriesFitsBroadcast(sv: DataFrame): Boolean = {
    val gateBytes = math.min(BroadcastSeriesMaxBytes,
      org.apache.spark.sql.GraftSqlShim.autoBroadcastJoinThreshold(sv.sparkSession))
    gateBytes > 0 && sv.queryExecution.optimizedPlan.stats.sizeInBytes <= gateBytes
  }

  /** The size-gated series value join shared by [[interpolate]] (the oracle
    * query) and [[interpolateTables]] (the end-to-end ADCIRC pipeline) — so
    * the engine's best plan for the reference's core computation
    * (run/adcircTime2cogs.py:199-200) is the plan BOTH entry points run.
    *
    *  - `small = true` (toy meshes, short hindcasts): three broadcast
    *    equi-joins on node_id — zero shuffles, fastest when the fact fits;
    *  - `small = false` (production: ~3e5 nodes × O(10²) timesteps): the
    *    cell map's three corners EXPLODE to (cell, corner, node_id, w) rows
    *    and join the series ONCE on node_id — a single shuffled equi-join
    *    (both sides hashed on node_id) instead of 3 shuffles of a
    *    timesteps×nodes fact; a max(when(corner=i)) pivot restores the
    *    three addends. On a real cluster, persisting both sides with
    *    [[graft.plans.Layout.writeBucketed]] on node_id makes the join
    *    Exchange-free (LayoutSpec pattern).
    *
    * Both paths emit the SAME fixed-order FP sum ((w1·v1 + w2·v2) + w3·v3),
    * so they are bit-identical — InterpSpec asserts it on both entry
    * points, including on a SPARSE series (a (ts, node_id) row missing
    * entirely — the ADCIRC ingest-gap case): the small path's inner joins
    * drop the cell-timestep, and the scale path matches by keeping only
    * groups with all three corners PRESENT (count(corner) = 3 counts
    * presence, not non-null value, so a masked-to-null dry-node VALUE
    * still yields a null raster row on both paths). Precondition on both
    * paths: (ts, node_id) unique in sv — the reference's data model.
    *
    * Neither path hints a broadcast: below the shape gate the planner's
    * autoBroadcastJoinThreshold / AQE decide from actual stats — a forced
    * hint would override the threshold using compressed-on-disk size and
    * could pin three decompressed copies of a ~100 MB file in driver
    * memory.
    * In: cells (grow, gcol, n1..n3, w1..w3), sv (ts, node_id, value).
    * Out: (ts, grow, gcol, value). */
  private[graft] def joinSeriesGated(cells: DataFrame, sv: DataFrame,
                                     small: Boolean): DataFrame =
    if (small) {
      val s1 = sv.select(col("ts"), col("node_id").as("m1"), col("value").as("v1"))
      val s2 = sv.select(col("ts").as("t2"), col("node_id").as("m2"), col("value").as("v2"))
      val s3 = sv.select(col("ts").as("t3"), col("node_id").as("m3"), col("value").as("v3"))
      cells
        .join(s1, col("n1") === col("m1"))
        .join(s2, col("n2") === col("m2") && col("ts") === col("t2"))
        .join(s3, col("n3") === col("m3") && col("ts") === col("t3"))
        .select(col("ts"), col("grow"), col("gcol"),
                (col("w1") * col("v1") + col("w2") * col("v2") + col("w3") * col("v3")).as("value"))
    } else {
      cornersOf(cells).join(sv, Seq("node_id")) // one shuffled equi-join, no broadcast hint
        .groupBy(col("ts"), col("grow"), col("gcol"))
        .agg(max(when(col("corner") === 1, col("w") * col("value"))).as("wv1"),
             max(when(col("corner") === 2, col("w") * col("value"))).as("wv2"),
             max(when(col("corner") === 3, col("w") * col("value"))).as("wv3"),
             // PRESENCE count (a null-VALUED corner row still counts): a
             // group missing a corner's (ts, node_id) series row must
             // vanish, exactly as the small path's inner joins drop it
             count(col("corner")).as("_nc"))
        .filter(col("_nc") === 3)
        .select(col("ts"), col("grow"), col("gcol"),
                (col("wv1") + col("wv2") + col("wv3")).as("value"))
    }

  /** Corner-explode of a cell map: (cell, corner, node_id, w) rows — the
    * scale-path join layout. Factored so layout tooling and LayoutSpec can
    * persist it bucketed by node_id ([[graft.plans.Layout.writeBucketed]]),
    * which makes the production series join Exchange-free. */
  private[graft] def cornersOf(cells: DataFrame): DataFrame =
    cells.select(col("grow"), col("gcol"), explode(array(
        struct(lit(1).as("corner"), col("n1").as("node_id"), col("w1").as("w")),
        struct(lit(2).as("corner"), col("n2").as("node_id"), col("w2").as("w")),
        struct(lit(3).as("corner"), col("n3").as("node_id"), col("w3").as("w")))).as("c"))
      .select(col("grow"), col("gcol"),
              col("c.corner").as("corner"), col("c.node_id").as("node_id"),
              col("c.w").as("w"))

  /** Generalized pipeline at any mesh/grid/time scale — used by the scale
    * test at ~80k triangles x 250k cells (the production mesh magnitude,
    * BASELINE.md) to prove the row-walk containment holds at 100x the
    * oracle-checked toy size.
    *
    * The series join is SIZE-GATED (`broadcastSeries`; default:
    * [[seriesFitsBroadcast]]):
    *  - small series (the oracle toy, short hindcasts): three broadcast
    *    equi-joins — zero shuffles, the fastest plan when it fits;
    *  - at scale: the cell map's three corners EXPLODE to
    *    (cell, corner, node_id, w) rows and join the series ONCE on
    *    node_id — a single shuffled equi-join (both sides hashed on
    *    node_id) instead of 3 broadcasts of a timesteps×nodes fact table.
    *    A max(when(corner=i)) pivot restores v1/v2/v3 per cell. On a real
    *    cluster, persisting corners and series with
    *    [[graft.plans.Layout.writeBucketed]] on node_id makes this join
    *    Exchange-free (the LayoutSpec pattern).
    * Both paths compute the SAME fixed-order FP expression
    * ((w1·v1 + w2·v2) + w3·v3), so they are bit-identical — InterpSpec
    * asserts it. */
  def interpolate(s: SparkSession, k: Int, g: Int, t: Int,
                  broadcastSeries: Option[Boolean] = None): DataFrame = {
    val sv = series(s, k, t)
    val cells = cellMap(s, k, g)
    val small = broadcastSeries.getOrElse(seriesFitsBroadcast(sv))
    // zi in 1e-4 units as an integer: floor(x*1e4 + 0.5) is exact on
    // doubles, so identical FP inputs give identical integers in any
    // engine — no decimal-rounding semantics in the comparison path
    // (Spark's round() is BigDecimal-string HALF_UP, DuckDB's is
    // numeric; they disagree on shortest-repr .5 boundaries).
    def zi4(sum: Column): Column =
      floor(sum * lit(10000.0) + lit(0.5)).cast("long").as("zi4")
    joinSeriesGated(cells, sv, small)
      .select(col("ts"), col("grow"), col("gcol"), zi4(col("value")))
      .orderBy("ts", "grow", "gcol")
  }

  /** Raster geometry for an arbitrary mesh: bbox + g×g cells. Pixel-is-area
    * with centroids at cell centers: column i at minX + (i + 0.5)·resX,
    * row i at maxY − (i + 0.5)·resY. */
  case class GridSpec(minX: Double, maxX: Double, minY: Double, maxY: Double, g: Int) {
    def resX: Double = (maxX - minX) / g
    def resY: Double = (maxY - minY) / g
    /** GeoTIFF origin: NW corner (grow 0 = top row = maxY edge). */
    def originX: Double = minX
    def originY: Double = maxY
  }

  def gridSpec(nodes: DataFrame, g: Int): GridSpec = {
    val r = nodes.agg(min(col("lon")), max(col("lon")), min(col("lat")), max(col("lat"))).head()
    GridSpec(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), g)
  }

  /** One raster axis: centroid i sits at a + (i + o)·s. The toy grid is
    * (0.3, 0, 0.38) on both axes; a GridSpec's columns are
    * (minX, 0.5, resX) and its north-up rows (maxY, 0.5, −resY). Adding
    * 0.0 to an integer-valued double and a − x·r = a + x·(−r) are exact,
    * so these are the same doubles as 0.3 + i·0.38, minX + (i + 0.5)·resX
    * and maxY − (i + 0.5)·resY. */
  private case class Axis(a: Double, o: Double, s: Double) {
    def at(i: Column): Column = lit(a) + (i + lit(o)) * lit(s)

    /** The indices in [0, g) of the centroids within [lo, hi] widened by
      * [[SpanSlack]]; null (no rows) when there are none, because
      * `sequence(lo, hi)` counts down when lo > hi. */
    def span(lo: Column, hi: Column, g: Int): Column = {
      def idx(v: Column): Column = (v - lit(a)) / lit(s) - lit(o)
      val (l, h) = if (s > 0) (lo, hi) else (hi, lo) // s < 0: the index falls as v rises
      val first = greatest(ceil(idx(l) - lit(SpanSlack)), lit(0L))
      val last = least(floor(idx(h) + lit(SpanSlack)), lit(g - 1L))
      when(first <= last, sequence(first.cast("int"), last.cast("int")))
    }
  }

  /** How far, in pixels, the walk's row and column ranges reach past a
    * triangle's exact span: far above the rounding of the intercepts, so
    * every centroid the residual can accept is a candidate. */
  private val SpanSlack = 1e-6

  private val det = (col("y2") - col("y3")) * (col("x1") - col("x3")) +
                    (col("x3") - col("x2")) * (col("y1") - col("y3"))

  /** Elements with their corner coordinates (x1, y1)..(x3, y3): three
    * joins against the broadcast node table, the small side of the star. */
  private[graft] def corners(nodesDf: DataFrame, elementsDf: DataFrame): DataFrame = {
    val n = broadcast(nodesDf)
    elementsDf
      .join(n.select(col("node_id").as("n1"), col("lon").as("x1"), col("lat").as("y1")), "n1")
      .join(n.select(col("node_id").as("n2"), col("lon").as("x2"), col("lat").as("y2")), "n2")
      .join(n.select(col("node_id").as("n3"), col("lon").as("x3"), col("lat").as("y3")), "n3")
  }

  /** The containment candidates: one row per (triangle, centroid) pair.
    * Each triangle with |det| > 1e-12 takes the raster rows its y-span
    * crosses and, in each row, the columns between its edges'
    * x-intercepts at the row's y. */
  private def walk(nodesDf: DataFrame, elementsDf: DataFrame, g: Int,
                   xa: Axis, ya: Axis): DataFrame = {
    val (x1, y1, x2, y2, x3, y3) =
      (col("x1"), col("y1"), col("x2"), col("y2"), col("x3"), col("y3"))
    val (ylo, yhi, yc) = (least(y1, y2, y3), greatest(y1, y2, y3), col("yc"))
    // an edge's x at yc; null where yc misses the edge or the edge is
    // horizontal, whose endpoints the other two edges then contribute
    def cut(xp: Column, yp: Column, xq: Column, yq: Column): Column =
      when(yp =!= yq && least(yp, yq) <= yc && yc <= greatest(yp, yq),
           xp + (yc - yp) * (xq - xp) / (yq - yp))
    val cuts = Seq(cut(x1, y1, x2, y2), cut(x2, y2, x3, y3), cut(x3, y3, x1, y1))
    corners(nodesDf, elementsDf)
      .filter(abs(det) > 1e-12)
      .withColumn("grow", explode(ya.span(ylo, yhi, g)))
      .withColumn("ym", ya.at(col("grow")))
      // the row's y held inside the y-span, so a slack row still meets two edges
      .withColumn("yc", least(greatest(col("ym"), ylo), yhi))
      .withColumns(Map("xlo" -> least(cuts: _*), "xhi" -> greatest(cuts: _*)))
      .withColumn("gcol", explode(xa.span(col("xlo"), col("xhi"), g)))
      .withColumn("xm", xa.at(col("gcol")))
      .drop("yc", "xlo", "xhi")
  }

  /** The J2 containment of [[walk]]'s candidates: the exact barycentric
    * residual, then ties to the lowest ele_id (one window on the matched
    * set). Out: (grow, gcol, ele_id, n1, n2, n3, w1, w2, w3). */
  private def containment(candidates: DataFrame): DataFrame = {
    val w1 = ((col("y2") - col("y3")) * (col("xm") - col("x3")) +
              (col("x3") - col("x2")) * (col("ym") - col("y3"))) / det
    val w2 = ((col("y3") - col("y1")) * (col("xm") - col("x3")) +
              (col("x1") - col("x3")) * (col("ym") - col("y3"))) / det
    val first = Window.partitionBy("grow", "gcol").orderBy("ele_id")
    candidates
      .withColumns(Map("w1" -> w1, "w2" -> w2))
      .withColumn("w3", lit(1.0) - col("w1") - col("w2"))
      .filter(col("w1") >= 0 && col("w2") >= 0 && col("w3") >= 0)
      .withColumn("rn", row_number().over(first))
      .filter(col("rn") === 1)
      .select("grow", "gcol", "ele_id", "n1", "n2", "n3", "w1", "w2", "w3")
  }

  /** [[walk]]'s candidate pairs for a GridSpec raster. The name is older
    * than the walk and stays because the benchmark's
    * `interp.candidate_pairs` probe calls it. */
  private[graft] def bucketTris(nodesDf: DataFrame, elementsDf: DataFrame,
                                spec: GridSpec): DataFrame =
    walk(nodesDf, elementsDf, spec.g,
         Axis(spec.minX, 0.5, spec.resX), Axis(spec.maxY, 0.5, -spec.resY))

  /** The reference pipeline for ARBITRARY ingested tables
    * (sources.Ingest layout: nodes(node_id,lon,lat),
    * elements(ele_id,n1,n2,n3), series(ts,node_id,value)) — the same
    * row-walk containment as the oracle-checked toy, parameterized by
    * the mesh bbox. grow counts DOWN from maxY (north-up raster rows,
    * reference run/adcircTime2cogs.py:74-75). Output
    * (ts, grow, gcol, value) — one raster value per cell per timestep,
    * cells outside the mesh absent (the reference's NaN mask).
    *
    * The series value join is SIZE-GATED through [[joinSeriesGated]] (the
    * same helper and the same [[seriesFitsBroadcast]] gate as the oracle
    * query): a series that fits takes the unhinted 3-join shape (planner
    * and AQE choose broadcast from real file stats); above, the
    * corner-explode single shuffled equi-join. `broadcastSeries`
    * overrides the gate for tests / operators who know their data. */
  def interpolateTables(nodesDf: DataFrame, elementsDf: DataFrame,
                        seriesDf: DataFrame, spec: GridSpec,
                        broadcastSeries: Option[Boolean] = None): DataFrame = {
    val cells = containment(bucketTris(nodesDf, elementsDf, spec))
    val sv = seriesDf.select(col("ts"), col("node_id"), col("value"))
    joinSeriesGated(cells, sv, broadcastSeries.getOrElse(seriesFitsBroadcast(sv)))
  }

  /** EXT: inverse-distance-weighted regridding over a radius-bounded
    * spatial kNN join — the OTHER classic regridding kernel beside
    * barycentric containment (the GIS fallback wherever a point falls
    * outside the mesh hull or the mesh is a scattered point cloud, not a
    * triangulation). The kNN join is the new plan class here: nodes
    * explode to their bucket plus its 8 neighbors (radius-bounded — a
    * cell's candidates are exactly the nodes within one bucket width, the
    * production contract: beyond the radius a cell is unmapped, ADCIRC's
    * dry-cell semantics), cells equi-join their single bucket, and a
    * per-cell window keeps the 4 nearest by (squared distance, node_id) —
    * ties pinned, distances as IEEE +/× of identically-constructed
    * doubles, so ranks agree bit-for-bit across engines. The 4 neighbors
    * then PIVOT to one row and the IDW ratio
    * (Σ vᵢ/d²ᵢ)/(Σ 1/d²ᵢ) evaluates as a SINGLE fixed-order expression —
    * no aggregation-order FP (the corner-pivot discipline of
    * [[joinSeriesGated]]), rounded via the integer floor(x·10⁴+0.5)
    * convention. Scale shape: the node fan-out is a constant 9×; the
    * kNN window shuffles (cell, candidate) pairs once on the cell key —
    * the GroupTopK custom plan is the drop-in if the candidate fan-out
    * ever grows. */
  def qInterpIdw(s: SparkSession, d: String): DataFrame = idw(s, K, G)

  /** Parameterized kernel (mesh k×k nodes, raster g×g cells) — SCALE.md
    * §IDW kNN regridding measures it at production raster magnitude. */
  private[graft] def idw(s: SparkSession, K: Int, G: Int): DataFrame = {
    val vals = series(s, K, 1).filter(col("ts") === 0).drop("ts")
    val nd = nodes(s, K).join(vals, "node_id")
    val ndx = nd
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("node_id"), col("lon"), col("lat"), col("value"),
              (floor(col("lon")).cast("long") + col("dx")).as("bx"),
              (floor(col("lat")).cast("long") + col("dy")).as("by"))
    val cand = grid(s, G).join(ndx, Seq("bx", "by"))
      .withColumn("d2", (col("lon") - col("xm")) * (col("lon") - col("xm")) +
                        (col("lat") - col("ym")) * (col("lat") - col("ym")))
    // per-cell top-4 WITHOUT a window: collect the ≤9 bucket candidates,
    // sort the tiny array, slice — one hash aggregation instead of a
    // global sort by (cell, d2) (measured 2.9×: 26.9 → 9.3 s at the
    // 600×600-node / 2.25M-cell probe shape). Struct field order
    // (d2, node_id, value) IS the sort key — ties pinned by node_id,
    // the same (d2, node_id) order the oracle's ROW_NUMBER uses.
    val top = cand.groupBy("gcol", "grow")
      .agg(slice(array_sort(collect_list(
        struct(col("d2"), col("node_id"), col("value")))), 1, 4).as("nn"))
    def e(i: Int) = col("nn").getItem(i - 1).getField("d2")
    def v(i: Int) = col("nn").getItem(i - 1).getField("value")
    top
      .select(col("gcol"), col("grow"),
              v(1).as("v1"), e(1).as("e1"), v(2).as("v2"), e(2).as("e2"),
              v(3).as("v3"), e(3).as("e3"), v(4).as("v4"), e(4).as("e4"))
      .select(col("gcol"), col("grow"),
        // exact hit (d² = 0 — a centroid ON a node): IDW's limit is the
        // node value itself; CaseWhen evaluates lazily, so the division
        // never runs for those rows (ANSI-safe in both engines)
        when(col("e1") === 0.0, floor(col("v1") * 10000.0 + 0.5))
          .otherwise(
            floor((col("v1") / col("e1") + col("v2") / col("e2") +
                   col("v3") / col("e3") + col("v4") / col("e4")) /
                  (lit(1.0) / col("e1") + lit(1.0) / col("e2") +
                   lit(1.0) / col("e3") + lit(1.0) / col("e4")) * 10000.0 + 0.5))
          .cast("long").as("idw4"))
      .orderBy("grow", "gcol")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interp_barycentric" -> (qInterpBarycentric _),
    "q_interp_idw"         -> (qInterpIdw _),
  )

  /** The same construction in ANSI SQL — every arithmetic step casts to
    * DOUBLE before FP math so DuckDB's DECIMAL literal inference can't
    * diverge from Spark's double literals. */
  val oracle: Map[String, String] = Map(
    // identical generated relations; the IDW ratio is the same fixed-order
    // single expression, so every double is bit-identical across engines
    "q_interp_idw" -> s"""
      |WITH nodes AS (
      |  SELECT i AS node_id, CAST(i % $K AS DOUBLE) AS lon, CAST(i // $K AS DOUBLE) AS lat
      |  FROM range(0, ${K * K}) t(i)),
      |vals AS (
      |  SELECT i AS node_id,
      |    round(sin(CAST(i AS DOUBLE) * CAST(0.7 AS DOUBLE)
      |            + CAST(0 AS DOUBLE) * CAST(1.3 AS DOUBLE)) * CAST(10.0 AS DOUBLE), 4) AS value
      |  FROM range(0, ${K * K}) t(i)),
      |grid AS (
      |  SELECT CAST(i % $G AS INT) AS gcol, CAST(i // $G AS INT) AS grow,
      |    CAST(0.3 AS DOUBLE) + CAST(i % $G AS DOUBLE) * CAST(0.38 AS DOUBLE) AS xm,
      |    CAST(0.3 AS DOUBLE) + CAST(i // $G AS DOUBLE) * CAST(0.38 AS DOUBLE) AS ym
      |  FROM range(0, ${G * G}) t(i)),
      |gridb AS (SELECT *, CAST(floor(xm) AS BIGINT) AS bx, CAST(floor(ym) AS BIGINT) AS by FROM grid),
      |ndx AS (
      |  SELECT n.node_id, n.lon, n.lat, v.value,
      |         CAST(floor(n.lon) AS BIGINT) + dx AS bx,
      |         CAST(floor(n.lat) AS BIGINT) + dy AS by
      |  FROM nodes n JOIN vals v USING (node_id)
      |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
      |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)),
      |cand AS (
      |  SELECT g.gcol, g.grow, x.value,
      |    (x.lon - g.xm) * (x.lon - g.xm) + (x.lat - g.ym) * (x.lat - g.ym) AS d2,
      |    ROW_NUMBER() OVER (PARTITION BY g.gcol, g.grow
      |      ORDER BY (x.lon - g.xm) * (x.lon - g.xm) + (x.lat - g.ym) * (x.lat - g.ym),
      |               x.node_id) AS rk
      |  FROM gridb g JOIN ndx x ON g.bx = x.bx AND g.by = x.by),
      |piv AS (
      |  SELECT gcol, grow,
      |    MAX(CASE WHEN rk = 1 THEN value END) AS v1, MAX(CASE WHEN rk = 1 THEN d2 END) AS e1,
      |    MAX(CASE WHEN rk = 2 THEN value END) AS v2, MAX(CASE WHEN rk = 2 THEN d2 END) AS e2,
      |    MAX(CASE WHEN rk = 3 THEN value END) AS v3, MAX(CASE WHEN rk = 3 THEN d2 END) AS e3,
      |    MAX(CASE WHEN rk = 4 THEN value END) AS v4, MAX(CASE WHEN rk = 4 THEN d2 END) AS e4
      |  FROM cand WHERE rk <= 4 GROUP BY gcol, grow)
      |SELECT gcol, grow,
      |  CAST(CASE WHEN e1 = 0
      |    THEN floor(v1 * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |    ELSE floor((v1 / e1 + v2 / e2 + v3 / e3 + v4 / e4)
      |       / (CAST(1.0 AS DOUBLE) / e1 + CAST(1.0 AS DOUBLE) / e2
      |        + CAST(1.0 AS DOUBLE) / e3 + CAST(1.0 AS DOUBLE) / e4)
      |       * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) END AS BIGINT) AS idw4
      |FROM piv ORDER BY grow, gcol""".stripMargin,
    "q_interp_barycentric" -> s"""
      |WITH nodes AS (
      |  SELECT i AS node_id, CAST(i % $K AS DOUBLE) AS lon, CAST(i // $K AS DOUBLE) AS lat
      |  FROM range(0, ${K * K}) t(i)),
      |elements AS (
      |  SELECT id AS ele_id,
      |    CAST(CASE WHEN id % 2 = 0 THEN (id // 2) // ${K - 1} * $K + (id // 2) % ${K - 1}
      |              ELSE (id // 2) // ${K - 1} * $K + (id // 2) % ${K - 1} + 1 END AS BIGINT) AS n1,
      |    CAST(CASE WHEN id % 2 = 0 THEN (id // 2) // ${K - 1} * $K + (id // 2) % ${K - 1} + 1
      |              ELSE ((id // 2) // ${K - 1} + 1) * $K + (id // 2) % ${K - 1} + 1 END AS BIGINT) AS n2,
      |    CAST(((id // 2) // ${K - 1} + 1) * $K + (id // 2) % ${K - 1} AS BIGINT) AS n3
      |  FROM range(0, ${2 * (K - 1) * (K - 1)}) t(id)),
      |grid AS (
      |  SELECT CAST(i % $G AS INT) AS gcol, CAST(i // $G AS INT) AS grow,
      |    CAST(0.3 AS DOUBLE) + CAST(i % $G AS DOUBLE) * CAST(0.38 AS DOUBLE) AS xm,
      |    CAST(0.3 AS DOUBLE) + CAST(i // $G AS DOUBLE) * CAST(0.38 AS DOUBLE) AS ym
      |  FROM range(0, ${G * G}) t(i)),
      |gridb AS (SELECT *, CAST(floor(xm) AS BIGINT) AS bx, CAST(floor(ym) AS BIGINT) AS by FROM grid),
      |series AS (
      |  SELECT CAST(i // ${K * K} AS BIGINT) AS ts, CAST(i % ${K * K} AS BIGINT) AS node_id,
      |    round(sin(CAST(i % ${K * K} AS DOUBLE) * CAST(0.7 AS DOUBLE)
      |            + CAST(i // ${K * K} AS DOUBLE) * CAST(1.3 AS DOUBLE)) * CAST(10.0 AS DOUBLE), 4) AS value
      |  FROM range(0, ${T * K * K}) t(i)),
      |tri AS (
      |  SELECT e.ele_id, e.n1, e.n2, e.n3,
      |    a.lon AS x1, a.lat AS y1, b.lon AS x2, b.lat AS y2, c.lon AS x3, c.lat AS y3
      |  FROM elements e
      |  JOIN nodes a ON e.n1 = a.node_id
      |  JOIN nodes b ON e.n2 = b.node_id
      |  JOIN nodes c ON e.n3 = c.node_id),
      |trib AS (
      |  -- bbox bucket explosion; unit triangles span <= 2 buckets per axis,
      |  -- so offsets {0,1} + a residual bound replace correlated generate_series
      |  SELECT tri.*,
      |    CAST(floor(least(x1, x2, x3)) AS BIGINT) + dx AS tbx,
      |    CAST(floor(least(y1, y2, y3)) AS BIGINT) + dy AS tby
      |  FROM tri
      |  CROSS JOIN (VALUES (0), (1)) ox(dx)
      |  CROSS JOIN (VALUES (0), (1)) oy(dy)
      |  WHERE CAST(floor(least(x1, x2, x3)) AS BIGINT) + dx <= CAST(floor(greatest(x1, x2, x3)) AS BIGINT)
      |    AND CAST(floor(least(y1, y2, y3)) AS BIGINT) + dy <= CAST(floor(greatest(y1, y2, y3)) AS BIGINT)),
      |matched AS (
      |  SELECT grow, gcol, ele_id, n1, n2, n3, w1, w2, 1.0 - w1 - w2 AS w3
      |  FROM (
      |    SELECT g.grow, g.gcol, t.ele_id, t.n1, t.n2, t.n3,
      |      ((y2 - y3) * (xm - x3) + (x3 - x2) * (ym - y3))
      |        / ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) AS w1,
      |      ((y3 - y1) * (xm - x3) + (x1 - x3) * (ym - y3))
      |        / ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) AS w2
      |    FROM gridb g JOIN trib t ON g.bx = t.tbx AND g.by = t.tby)
      |  WHERE w1 >= 0 AND w2 >= 0 AND 1.0 - w1 - w2 >= 0),
      |cell_map AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY grow, gcol ORDER BY ele_id) AS rn FROM matched)
      |  WHERE rn = 1),
      |-- MATERIALIZED fences force the pairwise hash-join order; without them
      |-- DuckDB's join enumeration on the 3-way series join degenerates to a
      |-- nested-loop plan that runs for minutes
      |j1 AS MATERIALIZED (
      |  SELECT cm.grow, cm.gcol, cm.n2, cm.n3, cm.w1, cm.w2, cm.w3, s1.ts, s1.value AS v1
      |  FROM cell_map cm JOIN series s1 ON cm.n1 = s1.node_id),
      |j2 AS MATERIALIZED (
      |  SELECT j1.grow, j1.gcol, j1.n3, j1.w1, j1.w2, j1.w3, j1.ts, j1.v1, s2.value AS v2
      |  FROM j1 JOIN series s2 ON j1.n2 = s2.node_id AND j1.ts = s2.ts)
      |SELECT j2.ts AS ts, j2.grow, j2.gcol,
      |  CAST(floor((j2.w1 * j2.v1 + j2.w2 * j2.v2 + j2.w3 * s3.value)
      |             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS zi4
      |FROM j2 JOIN series s3 ON j2.n3 = s3.node_id AND j2.ts = s3.ts
      |ORDER BY ts, grow, gcol""".stripMargin,
  )
}

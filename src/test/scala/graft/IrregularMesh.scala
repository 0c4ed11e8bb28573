package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Interp.GridSpec

/** A triangle mesh held on the driver in the ingest layout: node
  * coordinates indexed by node_id, elements as (ele_id, n1, n2, n3) in
  * ascending ele_id order. */
final case class Mesh(x: IndexedSeq[Double], y: IndexedSeq[Double],
                      elements: IndexedSeq[(Long, Long, Long, Long)]) {
  require(elements.map(_._1) == elements.map(_._1).sorted, "elements must be in ele_id order")

  def nodesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    x.indices.map(i => (i.toLong, x(i), y(i))).toDF("node_id", "lon", "lat")
  }

  def elementsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    elements.toDF("ele_id", "n1", "n2", "n3")
  }

  /** Long-form series of `values(ts)(node_id)`. */
  def seriesDf(s: SparkSession, values: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    import s.implicits._
    (for (t <- values.indices; n <- x.indices) yield (t.toLong, n.toLong, values(t)(n)))
      .toDF("ts", "node_id", "value")
  }

  /** The barycentric determinant of each element, as Interp computes it. */
  def dets: IndexedSeq[Double] = elements.map { case (_, a, b, c) =>
    val (x1, y1, x2, y2, x3, y3) =
      (x(a.toInt), y(a.toInt), x(b.toInt), y(b.toInt), x(c.toInt), y(c.toInt))
    (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
  }

  /** This mesh plus one element over three new nodes. */
  def plus(ele: Long, corners: Seq[(Double, Double)]): Mesh = {
    val n = x.length.toLong
    Mesh(x ++ corners.map(_._1), y ++ corners.map(_._2), elements :+ ((ele, n, n + 1, n + 2)))
  }
}

object IrregularMesh {

  /** Lattice connectivity (the diagonal split of `Interp.elements`) over
    * column widths `dx` and row heights `dy`. Every node outside the
    * corner patch of columns and rows below `still` moves per axis by a
    * seeded draw below `jitter` times its smaller adjacent spacing; below
    * 0.25 a vertex moves less than half the cell's shortest altitude, so
    * no triangle can invert. Lattice cells (column, row) that `hole`
    * names lose both their triangles. */
  def lattice(dx: IndexedSeq[Double], dy: IndexedSeq[Double], jitter: Double,
              still: Int, hole: (Int, Int) => Boolean, seed: Long): Mesh = {
    require(jitter >= 0 && jitter < 0.25, s"jitter $jitter can invert a triangle")
    val (kx, ky) = (dx.length + 1, dy.length + 1)
    val (xs, ys) = (dx.scanLeft(0.0)(_ + _), dy.scanLeft(0.0)(_ + _))
    def spacing(sp: IndexedSeq[Double], i: Int): Double =
      math.min(if (i > 0) sp(i - 1) else sp(i), if (i < sp.length) sp(i) else sp(i - 1))
    val rnd = new scala.util.Random(seed)
    def shake(sp: IndexedSeq[Double], i: Int): Double = (2 * rnd.nextDouble() - 1) * jitter * spacing(sp, i)
    val coords = for (r <- 0 until ky; c <- 0 until kx) yield
      if (c < still && r < still) (xs(c), ys(r))
      else (xs(c) + shake(dx, c), ys(r) + shake(dy, r))
    val elements = for (r <- 0 until ky - 1; c <- 0 until kx - 1 if !hole(c, r);
                        upper <- Seq(false, true)) yield {
      val (sw, se, nw, ne) = (r * kx + c, r * kx + c + 1, (r + 1) * kx + c, (r + 1) * kx + c + 1)
      val id = 2L * (r * (kx - 1) + c) + (if (upper) 1 else 0)
      if (upper) (id, se.toLong, ne.toLong, nw.toLong) else (id, sw.toLong, se.toLong, nw.toLong)
    }
    Mesh(coords.map(_._1), coords.map(_._2), elements)
  }

  /** Brute-force containment: every centroid of `spec` against every
    * element, with the double expressions of `Interp.interpolateTables`;
    * elements with `|det| <= 1e-12` are skipped. Returns, per centroid in
    * row-major order, the indices into `m.elements` whose barycentric
    * weights are all `>= 0`, ascending (so in ele_id order). */
  def passing(m: Mesh, spec: GridSpec): Array[Array[Int]] = {
    val g = spec.g
    val n = m.elements.length
    val c = Array.ofDim[Double](6, n)
    m.elements.indices.foreach { i =>
      val (_, a, b, d) = m.elements(i)
      Seq(a, b, d).zipWithIndex.foreach { case (node, k) =>
        c(2 * k)(i) = m.x(node.toInt); c(2 * k + 1)(i) = m.y(node.toInt)
      }
    }
    val Array(x1, y1, x2, y2, x3, y3) = c
    val det = Array.tabulate(n)(i => (y2(i) - y3(i)) * (x1(i) - x3(i)) + (x3(i) - x2(i)) * (y1(i) - y3(i)))
    Array.tabulate(g * g) { cell =>
      val (grow, gcol) = (cell / g, cell % g)
      val xm = spec.minX + (gcol + 0.5) * spec.resX
      val ym = spec.maxY - (grow + 0.5) * spec.resY
      val hits = Array.newBuilder[Int]
      var i = 0
      while (i < n) {
        if (math.abs(det(i)) > 1e-12) {
          val w1 = ((y2(i) - y3(i)) * (xm - x3(i)) + (x3(i) - x2(i)) * (ym - y3(i))) / det(i)
          val w2 = ((y3(i) - y1(i)) * (xm - x3(i)) + (x1(i) - x3(i)) * (ym - y3(i))) / det(i)
          val w3 = 1.0 - w1 - w2
          if (w1 >= 0 && w2 >= 0 && w3 >= 0) hits += i
        }
        i += 1
      }
      hits.result()
    }
  }

  /** The reference raster: rows (ts, grow, gcol, value) where the lowest
    * ele_id among `passing` wins and value = w1·v1 + w2·v2 + w3·v3;
    * a centroid outside every element has no row. */
  def raster(m: Mesh, spec: GridSpec, hits: Array[Array[Int]],
             values: IndexedSeq[IndexedSeq[Double]]): Seq[(Long, Int, Int, Double)] = {
    val g = spec.g
    for (t <- values.indices; cell <- hits.indices if hits(cell).nonEmpty) yield {
      val (grow, gcol) = (cell / g, cell % g)
      val xm = spec.minX + (gcol + 0.5) * spec.resX
      val ym = spec.maxY - (grow + 0.5) * spec.resY
      val (_, a, b, d) = m.elements(hits(cell).head)
      val (x1, y1, x2, y2, x3, y3) =
        (m.x(a.toInt), m.y(a.toInt), m.x(b.toInt), m.y(b.toInt), m.x(d.toInt), m.y(d.toInt))
      val det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
      val w1 = ((y2 - y3) * (xm - x3) + (x3 - x2) * (ym - y3)) / det
      val w2 = ((y3 - y1) * (xm - x3) + (x1 - x3) * (ym - y3)) / det
      val w3 = 1.0 - w1 - w2
      val v = values(t)
      (t.toLong, grow, gcol, w1 * v(a.toInt) + w2 * v(b.toInt) + w3 * v(d.toInt))
    }
  }

  /** Raster rows as comparable keys: the value by its exact bits. */
  def bits(rows: Seq[(Long, Int, Int, Double)]): Seq[(Long, Int, Int, Long)] =
    rows.map { case (t, r, c, v) => (t, r, c, java.lang.Double.doubleToRawLongBits(v)) }.sorted
}

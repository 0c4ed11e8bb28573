package graft

import graft.operators.Interp
import graft.operators.Interp.GridSpec

/** Differential test of the mesh→raster interpolation on an irregular
  * mesh: `Interp.interpolateTables` on both series-join paths must equal,
  * bit for bit, a driver-side brute force that tests every centroid
  * against every triangle (IrregularMesh.passing).
  *
  * The mesh is a 32×32-node lattice whose nodes are jittered per axis,
  * with two deleted patches (holes), a band of coarse columns and one
  * coarse row (triangles tens of pixels across, many of them skinny), and
  * an unjittered corner patch of spacing 1/8 over [0, 2]². Rasters placed
  * on that patch put every centroid exactly on a shared diagonal
  * (resolution = spacing) or exactly on a node (resolution = 2 × spacing),
  * where the lowest-ele_id tie rule decides. */
class InterpReferenceSpec extends SparkSpec {

  private val fine = 0.125
  private val mesh = IrregularMesh.lattice(
    dx = IndexedSeq.tabulate(31)(c => if (c == 23 || c == 24) 6.0 else fine),
    dy = IndexedSeq.tabulate(31)(r => if (r == 20) 6.0 else fine),
    jitter = 0.24, still = 17,
    hole = (c, r) => (c >= 8 && c <= 11 && r >= 4 && r <= 7) || (c >= 26 && c <= 29 && r >= 24 && r <= 28),
    seed = 20261019L)
  private val values = {
    val rnd = new scala.util.Random(7L)
    IndexedSeq.fill(2)(IndexedSeq.fill(mesh.x.length)(rnd.nextDouble() * 10 - 5))
  }

  /** Asserts both series-join paths equal the brute force on `spec`;
    * returns the brute force's passing (cell, triangle) lists. */
  private def checkAgainstReference(spec: GridSpec): Array[Array[Int]] = {
    val hits = IrregularMesh.passing(mesh, spec)
    val want = IrregularMesh.bits(IrregularMesh.raster(mesh, spec, hits, values))
    Seq(Some(true), Some(false)).foreach { path =>
      val got = Interp.interpolateTables(mesh.nodesDf(spark), mesh.elementsDf(spark),
          mesh.seriesDf(spark, values), spec, broadcastSeries = path)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      val gotBits = IrregularMesh.bits(got)
      assert(gotBits.length === want.length, s"broadcastSeries=$path: row count")
      val diff = gotBits.diff(want) ++ want.diff(gotBits)
      assert(diff.isEmpty, s"broadcastSeries=$path: first differing rows ${diff.take(4)}")
    }
    hits
  }

  test("generator: every jittered triangle keeps the lattice's determinant sign") {
    val dets = mesh.dets
    assert(dets.length === 2 * 31 * 31 - 2 * (16 + 20), "two holes of 16 and 20 lattice cells")
    assert(dets.forall(_ > 0), s"inverted: ${dets.zipWithIndex.filter(_._1 <= 0).take(4)}")
  }

  test("irregular mesh, holes, coarse band: both join paths equal the brute force") {
    val spec = Interp.gridSpec(mesh.nodesDf(spark), 64)
    val hits = checkAgainstReference(spec)
    val covered = hits.count(_.nonEmpty)
    assert(covered > 0 && covered < hits.length, "the holes and the jittered hull leave cells unmapped")
    // the coarse band: some triangle holds at least 24 centroids
    val perTriangle = hits.flatten.groupBy(identity).values.map(_.length)
    assert(perTriangle.max >= 24, s"largest triangle holds ${perTriangle.max} centroids")
  }

  test("centroids on shared diagonals: the lowest ele_id wins every tie") {
    val hits = checkAgainstReference(GridSpec(0.0, 2.0, 0.0, 2.0, 16))
    assert(hits.count(_.length >= 2) > 200, "resolution = spacing puts centroids on diagonals")
  }

  test("centroids on mesh nodes: the lowest ele_id wins every tie") {
    val hits = checkAgainstReference(GridSpec(0.0, 2.0, 0.0, 2.0, 8))
    assert(hits.count(_.length >= 3) > 40, "resolution = 2 × spacing puts centroids on nodes")
  }
}

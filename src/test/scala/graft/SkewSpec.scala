package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Interp

/** Skew evidence for the row-walk containment (VERDICT r8 #5): real ADCIRC
  * meshes concentrate triangles near the coast and leave huge triangles
  * offshore. This spec builds a clustered-node synthetic mesh (a k×k
  * lattice whose coordinates are compressed by x ↦ (x/k)^24·k, so most
  * triangles are far smaller than a pixel) plus one coarse triangle over
  * more than a quarter of the raster, whose rows are the walk's longest,
  * and asserts:
  *
  *   1. the raster equals the brute-force reference bit for bit
  *      (IrregularMesh.passing/raster);
  *   2. the walk emits at most 1.01 candidate rows per passing
  *      (centroid, triangle) pair: neither the cluster of sub-pixel
  *      triangles nor the long rows make it test centroids the residual
  *      then drops.
  */
class SkewSpec extends SparkSpec {

  private val K = 200  // 79,202 lattice triangles
  private val G = 100  // raster

  /** Lattice connectivity with coast-clustered coordinates: column c maps
    * to (c/k)^24·k, so spacing near the origin is microscopic and most of
    * the mesh piles into the lowest few pixels. */
  private def clusteredNodes(k: Int): DataFrame =
    spark.range(0, k.toLong * k).toDF("node_id")
      .select(col("node_id"),
        (pow((col("node_id") % k).cast("double") / k, 24.0) * k).as("lon"),
        (pow(floor(col("node_id") / k).cast("double") / k, 24.0) * k).as("lat"))

  test("clustered mesh + coarse triangle: brute-force raster, <= 1.01 walk rows per hit") {
    val lattice = clusteredNodes(K).orderBy("node_id").collect()
    val elements = Interp.elements(spark, K).orderBy("ele_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toIndexedSeq
    val top = lattice.map(_.getDouble(1)).max
    val coarseId = elements.last._1 + 1
    val mesh = Mesh(lattice.map(_.getDouble(1)).toIndexedSeq, lattice.map(_.getDouble(2)).toIndexedSeq, elements)
      .plus(coarseId, Seq((0.5 * top, 0.0), (2 * top, 0.0), (2 * top, top)))
    val values = IndexedSeq(IndexedSeq.tabulate(mesh.x.length)(n => math.sin(n * 0.7) * 10))
    val (nodesDf, elementsDf) = (mesh.nodesDf(spark), mesh.elementsDf(spark))
    val spec = Interp.gridSpec(nodesDf, G)

    val hits = IrregularMesh.passing(mesh, spec)
    val coarse = hits.count(_.contains(mesh.elements.length - 1))
    assert(coarse >= G * G / 4, s"the coarse triangle holds $coarse of ${G * G} centroids")
    val want = IrregularMesh.bits(IrregularMesh.raster(mesh, spec, hits, values))
    val got = IrregularMesh.bits(
      Interp.interpolateTables(nodesDf, elementsDf, mesh.seriesDf(spark, values), spec)
        .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))))
    assert(got.length === want.length, "row count")
    assert(got === want, s"first differing rows ${(got.diff(want) ++ want.diff(got)).take(4)}")

    val pairs = hits.map(_.length.toLong).sum
    val walked = Interp.bucketTris(nodesDf, elementsDf, spec).count()
    info(s"walk rows=$walked, passing pairs=$pairs, covered cells=${hits.count(_.nonEmpty)}")
    assert(walked >= pairs && walked <= 1.01 * pairs,
      s"walk rows $walked vs $pairs passing pairs")
  }
}

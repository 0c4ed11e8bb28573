package graft

import org.apache.spark.sql.SparkSession

/** The reference's COMPLETE workflow, end to end, as one command —
  * `adcircTime2cogs.py` stage for stage
  * (/root/reference/run/adcircTime2cogs.py:121-240):
  *
  *   fort.63.nc  →  ingest (NetCDF-3 → Parquet tables, -1 shift)
  *               →  mesh→raster barycentric interpolation
  *                  (row-walk containment, time as a join key)
  *               →  one Cloud-Optimized GeoTIFF per timestep
  *               →  GeoServer ImageMosaic sidecar properties
  *
  * Usage: tools/run_verify.sh <fort.63.nc> <outDir>[,gridSize] graft.Pipeline
  *
  * Everything between the two file boundaries is declarative Spark;
  * the reference's serial per-timestep Python loop becomes a ts-keyed
  * join + ts-partitioned parallel write.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val ncPath = args(0)
    val parts = args(1).split(",")
    val outDir = parts(0)
    val g = if (parts.length > 1) parts(1).toInt else 100
    val spark = Graft.session("graft-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, ncPath, outDir, g)
    spark.stop()
  }

  /** Programmatic entry; returns the number of COGs written. (Do NOT
    * count the raster here — an extra action would recompute the whole
    * interpolation; the write is the one materialization, and the QA
    * metrics ride on it via `observe` — the Spark-native form of the
    * reference's per-stage loguru counters, costing zero extra passes.) */
  def run(s: SparkSession, ncPath: String, outDir: String, g: Int,
          varName: String = "fort_63_zeta"): Long = {
    import org.apache.spark.sql.functions._
    sources.Ingest.fort63ToParquet(s, ncPath, s"$outDir/tables")
    val nodes = sources.Ingest.nodes(s, s"$outDir/tables")
    val elements = sources.Ingest.elements(s, s"$outDir/tables")
    val series = sources.Ingest.series(s, s"$outDir/tables")
    val spec = operators.Interp.gridSpec(nodes, g)
    val obs = new org.apache.spark.sql.Observation("raster-qa")
    val raster = operators.Interp
      .interpolateTables(nodes, elements, series, spec)
      .observe(obs,
        count(lit(1)).as("wet_cells"),
        approx_count_distinct(col("ts")).as("timesteps"), // observe forbids DISTINCT aggs
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    // real decoded instants name the COGs (the reference's timeregex
    // contract); record-index names only when the file has no time axis
    val labels = sources.Ingest.timeLabels(s, s"$outDir/tables")
    plans.RasterSink.writeCogs(raster, spec, s"$outDir/cogs", varName, tsLabels = labels)
    plans.RasterSink.sidecars(varName).foreach { case (name, body) =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name"), body)
    }
    val m = obs.get // collected by the write's own action — no recompute
    System.err.println(s"[pipeline] wet_cells=${m("wet_cells")} " +
      s"timesteps=${m("timesteps")} value_range=[${m("min_value")}, ${m("max_value")}]")
    new java.io.File(s"$outDir/cogs").listFiles().count(_.getName.endsWith(".tiff")).toLong
  }
}

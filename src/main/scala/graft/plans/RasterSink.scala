package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Interp

/** The reference's output stage, relationalized (SURVEY §2.1 S5/S6):
  * one raster per timestep + GeoServer ImageMosaic sidecar metadata.
  *
  *  - S5 (one COG per timestep, run/adcircTime2cogs.py:205-206): the raster
  *    table written `partitionBy("ts")` — each timestep lands in its own
  *    directory of columnar files, the engine's equivalent of
  *    one-image-per-timestep (SURVEY §4: partition output by ts). True
  *    GeoTIFF byte-encoding is in [[GeoTiff]].
  *  - S6 (indexer/timeregex/datastore properties,
  *    run/adcircTime2cogs.py:211-222): the same sidecar strings derived
  *    relationally and written once from the driver.
  *
  * At 100 TB: `partitionBy` turns downstream per-timestep reads into
  * partition-pruned scans; the sort within partitions keeps row-groups
  * ordered by (grow, gcol) so a tile reader seeks, not scans.
  *
  * File I/O goes through the Hadoop FileSystem API resolved from the
  * path's scheme, so `outDir` may be a shared POSIX mount, `file://`,
  * `hdfs://`, or any other configured Hadoop filesystem; executors
  * resolve the scheme against the cluster-side Hadoop configuration. */
object RasterSink {

  private def hfs(path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.setWriteChecksum(false) // no .crc sidecars in the mosaic directory
    (fs, p)
  }
  private def writeFile(path: String, bytes: Array[Byte]): Unit = {
    val (fs, p) = hfs(path)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }
  private def mkdirs(path: String): Unit = { val (fs, p) = hfs(path); fs.mkdirs(p) }

  /** P4 reprojection stage (reference construct_geopandas + to_crs,
    * run/adcircTime2cogs.py:29-47): closed-form spherical-Mercator forward
    * over the mesh nodes — a narrow, codegen'd transformation, no shuffle
    * (the reference repartitions to 4 for the same step; here partitioning
    * is inherited from the source). Identity in production (4326→4326) but
    * the operator exists, as in the reference. */
  def reprojectNodes(s: SparkSession): DataFrame = {
    val R = lit(6378137.0)
    val rad = lit(math.Pi) / lit(180.0)
    // lattice coords are degree-like; scale into a valid lon/lat window
    val lon = col("lon") - lit(90.0)
    val lat = col("lat") + lit(20.0)
    Interp.nodes(s)
      .withColumn("mx", lon * rad * R)
      .withColumn("my", R * log(tan(lit(math.Pi) / lit(4.0) + lat * rad / lit(2.0))))
  }

  /** Write the interpolated raster partitioned by timestep; returns the
    * frame that was written (for assertions). */
  def writeRaster(s: SparkSession, outDir: String): DataFrame = {
    val raster = Interp.qInterpBarycentric(s, "")
    raster.write
      .mode(SaveMode.Overwrite)
      .partitionBy("ts")
      .parquet(s"$outDir/raster")
    raster
  }

  /** The per-timestep tiff filename: the reference's
    * `<var>_<yyyyMMdd'T'HHmmss>Z.tiff` contract
    * (run/adcircTime2cogs.py:190-194, matched by timeregex.properties)
    * when a real time label exists for the timestep; the record-index
    * `<var>_tsNNN.tiff` fallback when the source had no time axis. */
  private def tiffName(varName: String, ts: Long, labels: Map[Long, String]): String =
    labels.get(ts) match {
      case Some(l) => s"${varName}_${l}Z.tiff"
      case None => f"${varName}_ts$ts%03d.tiff"
    }

  /** S5 closed: one true GeoTIFF per timestep ([[GeoTiff]], pure-JVM
    * TIFF 6.0 — the reference's write_cog contract,
    * run/adcircTime2cogs.py:205-206). Distribution shape: repartition by
    * ts, sort within partitions by ts, then STREAM grids one at a time —
    * rows arrive clustered per timestep, so task memory is ONE g×g grid
    * (a 283 MB production grid stays a 283 MB task envelope) no matter
    * how many timesteps hash into the same task. Executors write in
    * parallel across timesteps; the driver never sees pixel data. At
    * 100 TB `outDir` is shared storage (POSIX mount or any Hadoop
    * filesystem URI) and timesteps fan out across the cluster; the
    * serial per-timestep Python loop in the reference becomes
    * embarrassing parallelism here. */
  def writeGeoTiffs(s: SparkSession, outDir: String, varName: String = "fort_63_zeta",
                    cog: Boolean = false, tile: Int = 32): Unit = {
    val g = Interp.G
    // north-up: grow 0 is the top row; origin at the grid's NW corner
    val (ox, oy, res) = (0.3 - 0.19, 0.3 + (g - 1) * 0.38 + 0.19, 0.38)
    val raster = Interp.qInterpBarycentric(s, "")
      .select(col("ts"), col("grow"), col("gcol"), (col("zi4") / 10000.0).as("value"))
    streamGrids(raster, g, outDir, tiffName(varName, _, Map.empty), grid =>
      if (cog) GeoTiff.encodeCog(g, g, grid, ox, oy, res, tile)
      else GeoTiff.encode(g, g, grid, ox, oy, res))
  }

  /** Generalized per-timestep COG writer for an arbitrary raster
    * (ts, grow, gcol, value) + GridSpec — the sink stage of the full
    * [[graft.Pipeline]]. Same streaming one-grid-at-a-time shape as
    * [[writeGeoTiffs]]. `tsLabels` (from [[graft.sources.Ingest
    * .timeLabels]]) names files with the real decoded instants. */
  def writeCogs(raster: DataFrame, spec: Interp.GridSpec, outDir: String,
                varName: String, tile: Int = 256,
                tsLabels: Map[Long, String] = Map.empty,
                compress: Boolean = true): Unit = {
    val g = spec.g
    val (ox, oy, res) = (spec.originX, spec.originY, spec.resX)
    streamGrids(raster, g, outDir, tiffName(varName, _, tsLabels),
      GeoTiff.encodeCog(g, g, _, ox, oy, res, tile, compress))
  }

  /** The shared sink loop: `raster`'s (ts: long, grow: int, gcol: int,
    * value: double) rows, clustered by ts, become one g×g Float32 grid
    * per timestep, encoded by `encode` and written to `outDir/name(ts)`.
    * Absent cells and NULL values (masked dry nodes null-propagated
    * through the interpolation) become Float.NaN, the COG's declared
    * GDAL_NODATA. Fields are read by position from one projection. */
  private def streamGrids(raster: DataFrame, g: Int, outDir: String,
                          name: Long => String,
                          encode: Array[Float] => Array[Byte]): Unit = {
    mkdirs(outDir)
    raster.select("ts", "grow", "gcol", "value")
      .repartition(col("ts"))
      .sortWithinPartitions("ts")
      .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        var cur = Long.MinValue
        var grid: Array[Float] = null
        def flush(): Unit = if (grid != null) writeFile(s"$outDir/${name(cur)}", encode(grid))
        it.foreach { r =>
          val ts = r.getLong(0)
          if (ts != cur) {
            flush(); cur = ts
            grid = new Array[Float](g * g)
            java.util.Arrays.fill(grid, Float.NaN) // absent cells = nodata
          }
          if (!r.isNullAt(3)) grid(r.getInt(1) * g + r.getInt(2)) = r.getDouble(3).toFloat
        }
        flush()
      }
  }

  /** The matching SOURCE: read a directory of per-timestep GeoTIFF/COGs
    * back into the long-form raster (ts, grow, gcol, value) — the engine
    * consumes its own sink format (and the reference ecosystem's COGs,
    * within the Float32/tiled-or-striped subset [[GeoTiff]] writes).
    * Distribution: one task per file via a parallelized path list; each
    * task decodes its file locally — tiff bytes never cross the network
    * beyond the scan (same shape as binaryFiles, minus the driver
    * collect). `ts` is the record index for `_tsNNN` names and UTC epoch
    * SECONDS for the reference's `_<yyyyMMddTHHmmss>Z` names. */
  def readGeoTiffs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (fs, p) = hfs(dir)
    val files = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".tiff")).map(_.toString).toSeq.sorted
    val tsRe = """_ts(\d+)\.tiff$""".r
    val isoRe = """_(\d{8}T\d{6})Z\.tiff$""".r
    s.sparkContext.parallelize(files, math.max(1, files.length))
      .flatMap { path =>
        val ts = tsRe.findFirstMatchIn(path).map(_.group(1).toLong)
          .orElse(isoRe.findFirstMatchIn(path).map { m =>
            java.time.LocalDateTime
              .parse(m.group(1), java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss"))
              .toEpochSecond(java.time.ZoneOffset.UTC)
          })
          .getOrElse(throw new IllegalArgumentException(s"no _tsNNN or _<stamp>Z suffix: $path"))
        val (bfs, bp) = hfs(path)
        val in = bfs.open(bp)
        val bytes = try {
          val len = bfs.getFileStatus(bp).getLen.toInt
          val b = new Array[Byte](len); in.readFully(0, b); b
        } finally in.close()
        val (w, h, vals) =
          try { val (cw, ch, cv, _, _) = GeoTiff.decodeCog(bytes); (cw, ch, cv) }
          catch { case _: Exception => GeoTiff.decode(bytes) } // striped fallback
        vals.indices.iterator.map(i => (ts, i / w, i % w, vals(i).toDouble))
      }
      .toDF("ts", "grow", "gcol", "value")
  }

  /** Per-timestep mosaic filenames from the INGESTED time axis — the
    * reference's `<var>_<yyyyMMdd'T'HHmmss>Z.tiff` naming over the real
    * decoded instants (run/adcircTime2cogs.py:190-194). `times` is the
    * Ingest times table (ts, t_raw, t_utc). */
  def mosaicIndexFromTimes(times: DataFrame, varName: String): DataFrame = {
    // date_format renders in spark.sql.session.timeZone; the filenames
    // must be UTC regardless of the caller's session (Ingest.timeLabels is
    // UTC-pinned, and the COGs on disk were named through it). Shifting the
    // instant by the session offset via to_utc_timestamp makes the session
    // render the UTC wall clock. Exact for UTC and fixed-offset sessions;
    // a DST session's ambiguous hour is the documented residual.
    val sessionTz = times.sparkSession.conf.get("spark.sql.session.timeZone")
    times.filter(col("t_utc").isNotNull)
      .select(col("ts"),
              concat(lit(varName), lit("_"),
                     date_format(to_utc_timestamp(col("t_utc"), sessionTz),
                                 "yyyyMMdd'T'HHmmss"),
                     lit("Z.tiff")).as("fname"))
      .orderBy("ts")
  }

  /** Demo-axis variant for the synthetic lattice relations (which carry
    * no time variable): maps record index → hourly cadence. Kept ONLY for
    * the synthetic tables; real ingests use [[mosaicIndexFromTimes]]. */
  def mosaicIndex(s: SparkSession, varName: String): DataFrame =
    Interp.series(s)
      .select(col("ts")).distinct()
      .select(col("ts"),
              concat(lit(varName), lit("_"),
                     date_format(timestamp_seconds(col("ts") * 3600), "yyyyMMdd'T'HHmmss"),
                     lit("Z.tiff")).as("fname"))
      .orderBy("ts")

  /** The three sidecar properties payloads (contents match the reference's
    * ImageMosaic contract, run/adcircTime2cogs.py:211-222; connection
    * parameters are left as placeholders — they arrive from deployment
    * config, never from code). */
  def sidecars(layerName: String): Map[String, String] = Map(
    "indexer.properties" ->
      s"""TimeAttribute=time
         |Schema=*the_geom:Polygon,location:String,time:java.util.Date
         |PropertyCollectors=TimestampFileNameExtractorSPI[timeregex](time)""".stripMargin,
    "timeregex.properties" ->
      "regex=[0-9]{8}T[0-9]{6}",
    "datastore.properties" ->
      s"""SPI=org.geotools.data.postgis.PostgisNGDataStoreFactory
         |host=HOST_PLACEHOLDER
         |port=PORT_PLACEHOLDER
         |database=$layerName
         |schema=public
         |Loose\\ bbox=true
         |Estimated\\ extends=false
         |validate\\ connections=true
         |Connection\\ timeout=10
         |preparedStatements=true""".stripMargin,
  )

  /** Full pipeline demo: raster write + sidecar files, mirroring
    * run/adcircTime2cogs.py:121-240 stage for stage. */
  def run(s: SparkSession, outDir: String, layerName: String = "graft"): Unit = {
    writeRaster(s, outDir)
    mkdirs(outDir)
    sidecars(layerName).foreach { case (name, body) =>
      writeFile(s"$outDir/$name", body.getBytes("UTF-8"))
    }
  }
}

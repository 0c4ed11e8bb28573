package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Interp

/** The reference's output stage (SURVEY §2.1 S5/S6): one Cloud-Optimized
  * GeoTIFF per timestep + GeoServer ImageMosaic sidecar metadata.
  *
  *  - S5 (one COG per timestep, run/adcircTime2cogs.py:205-206):
  *    [[writeCogs]] streams an interpolated raster into one [[GeoTiff]]
  *    COG per timestep; [[readGeoTiffs]] is the matching source.
  *  - S6 (indexer/timeregex/datastore properties,
  *    run/adcircTime2cogs.py:211-222): [[sidecars]] and
  *    [[mosaicIndexFromTimes]], the same strings derived from the
  *    ingested time axis.
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

  /** S5: one COG per timestep ([[GeoTiff.encodeCog]], 256-pixel deflate
    * tiles — the reference's write_cog contract,
    * run/adcircTime2cogs.py:205-206) for a raster's (ts: long, grow: int,
    * gcol: int, value: double) rows on `spec`'s grid, named
    * `<varName>_<label>Z.tiff` from `tsLabels` (from [[graft.sources.Ingest
    * .timeLabels]]), else `<varName>_tsNNN.tiff`. Distribution shape:
    * repartition by ts, sort within partitions by ts, then STREAM grids
    * one at a time — rows arrive clustered per timestep, so task memory
    * is ONE g×g grid no matter how many timesteps hash into the same
    * task. Executors write in parallel across timesteps; the driver never
    * sees pixel data. Absent cells and NULL values (masked dry nodes
    * null-propagated through the interpolation) become Float.NaN, the
    * COG's declared GDAL_NODATA. Fields are read by position from one
    * projection. */
  def writeCogs(raster: DataFrame, spec: Interp.GridSpec, outDir: String,
                varName: String, tsLabels: Map[Long, String] = Map.empty): Unit = {
    val g = spec.g
    val (ox, oy, res) = (spec.originX, spec.originY, spec.resX)
    mkdirs(outDir)
    raster.select("ts", "grow", "gcol", "value")
      .repartition(col("ts"))
      .sortWithinPartitions("ts")
      .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        var cur = Long.MinValue
        var grid: Array[Float] = null
        def flush(): Unit = if (grid != null)
          writeFile(s"$outDir/${tiffName(varName, cur, tsLabels)}",
                    GeoTiff.encodeCog(g, g, grid, ox, oy, res, compress = true))
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

  /** The matching SOURCE: read a directory of per-timestep COGs back
    * into the long-form raster (ts, grow, gcol, value) — the engine
    * consumes its own sink format (and the reference ecosystem's COGs,
    * within the subset [[GeoTiff.decodeCog]] reads; a file outside it
    * fails the read).
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
        val (w, _, vals, _, _) = GeoTiff.decodeCog(bytes)
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
}

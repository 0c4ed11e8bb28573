package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** The ingest boundary the reference crosses first on every run:
  * `fort.63.nc` (ADCIRC mesh + water-surface timeseries; classic
  * NetCDF-3 or NetCDF-4/HDF5 — see [[NcFile]]) → the long-form Parquet
  * layout every graft operator consumes.
  *
  * Contract (mirrors /root/reference/run/utilities/
  * adcirc_dask_utilities.py:10-44 and SURVEY §2.1 S2):
  *  - `nodes.parquet`    (node_id, lon, lat)           from vars x, y
  *  - `elements.parquet` (ele_id, n1, n2, n3)          from var element,
  *    with the reference's `-1` connectivity shift (NetCDF stores 1-based
  *    node ids; `adcirc_utilities.py` subtracts 1 on load) applied HERE,
  *    at ingest — downstream operators never see 1-based ids
  *  - `series.parquet`   (ts, node_id, value)          from record var
  *    zeta(time, node), long-form. Values equal to the variable's
  *    `_FillValue`/`missing_value` (ADCIRC writes -99999 into dry
  *    nodes) become NULL — the reference's `var_d[var_d.mask] = np.nan`
  *    (adcirc_utilities.py:30) — so they null-propagate through the
  *    barycentric blend instead of polluting wet/dry boundary pixels
  *  - `times.parquet`    (ts, t_raw, t_utc)            from the time
  *    coordinate: raw value + real UTC instant via the CF `units`
  *    attribute ("seconds since <epoch>"), the instants the reference
  *    bakes into COG filenames (adcircTime2cogs.py:190-194)
  *
  * Scale shape: the header is parsed once on the driver (KBs); node and
  * element arrays are small (O(mesh)); the BULK — zeta records — is
  * read in parallel, contiguous record ranges per task, each task
  * seeking directly to `begin + rec*recSize` through its own
  * [[RangeReader]] (local file or HTTP range requests — the reference's
  * THREDDS/OPeNDAP URLs map to the latter). No driver materialization
  * of the timeseries, no shared state; at production scale the .nc sits
  * on shared storage and record reads stripe across the cluster, where
  * the reference loops timesteps serially in one process.
  *
  * The four table writes are independent Spark jobs, and at forecast
  * sizes each is bound by driver round trips, not executor work, so they
  * run concurrently (one thread each, all joined before the call
  * returns) rather than one after another. The x, y, element and time
  * arrays are read on the calling thread BEFORE the writes start: a
  * [[FileRangeReader]] is `seek` + `readFully` on one shared
  * `RandomAccessFile`, not safe to share between threads. The series
  * tasks open readers of their own. The read-backs ([[nodes]],
  * [[elements]], [[series]], [[times]]) use the schemas declared next to
  * the writers, so no read runs a Parquet schema-inference job. */
object Ingest {

  /** The layout's four table schemas, as `spark.read.parquet` reports
    * what the writers below produce (a Parquet read makes every column
    * nullable). The read-backs declare them instead of inferring them;
    * IngestSpec checks them against the written files. */
  val NodesSchema: StructType = schema("node_id" -> LongType, "lon" -> DoubleType, "lat" -> DoubleType)
  val ElementsSchema: StructType =
    schema("ele_id" -> LongType, "n1" -> LongType, "n2" -> LongType, "n3" -> LongType)
  val SeriesSchema: StructType =
    schema("ts" -> LongType, "node_id" -> LongType, "value" -> DoubleType)
  val TimesSchema: StructType =
    schema("ts" -> LongType, "t_raw" -> DoubleType, "t_utc" -> TimestampType)

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** Convert an ADCIRC-shaped NetCDF-3 file to the graft Parquet layout.
    * Variable names are parameters so swan/other solvers map too. The
    * four tables are written concurrently; the call returns when all four
    * writes have ended and rethrows the first failure. */
  def fort63ToParquet(s: SparkSession, ncPath: String, outDir: String,
                      xVar: String = "x", yVar: String = "y",
                      eleVar: String = "element", seriesVar: String = "zeta",
                      timeVar: String = "time"): Unit = {
    import s.implicits._
    // every read through the shared reader happens here, before the
    // writes start (see "Scale shape" above)
    val nc = NcFile.open(ncPath)
    val (xs, ys, ele, times, numRecs, fill) =
      try (nc.readFixed(xVar), nc.readFixed(yVar),
           // (nele, 3) ints, 1-based in the file → 0-based AT INGEST
           nc.readFixed(eleVar).map(_.toLong - 1L),
           readTimes(nc, timeVar), nc.numRecs, nc.fillValue(seriesVar))
      finally nc.close()
    require(xs.length == ys.length, s"x/y length mismatch: ${xs.length}/${ys.length}")
    require(ele.length % 3 == 0, s"element var length ${ele.length} not divisible by 3")
    concurrently(
      "nodes" -> { () =>
        xs.indices.map(i => (i.toLong, xs(i), ys(i))).toDF(NodesSchema.map(_.name): _*)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/nodes")
      },
      "elements" -> { () =>
        (0 until ele.length / 3)
          .map(e => (e.toLong, ele(3 * e), ele(3 * e + 1), ele(3 * e + 2)))
          .toDF(ElementsSchema.map(_.name): _*)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/elements")
      },
      "times" -> { () =>
        times.foreach(_.toDF(TimesSchema.map(_.name): _*)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/times"))
      },
      // series: record variable — parallel record-striped read, fill→null
      "series" -> { () => seriesToParquet(s, ncPath, outDir, seriesVar, numRecs, fill) })
  }

  /** Runs each named body on a thread of its own and joins them all, so
    * no write outlives the call. Rethrows the first failure in argument
    * order, with any others attached as suppressed. The threads inherit
    * the caller's Spark local properties (job group, scheduler pool). */
  private[graft] def concurrently(bodies: (String, () => Unit)*): Unit = {
    val failures = new Array[Throwable](bodies.length)
    val threads = bodies.zipWithIndex.map { case ((name, body), i) =>
      val run: Runnable = () => try body() catch { case e: Throwable => failures(i) = e }
      val t = new Thread(run, s"graft-ingest-$name")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        // an interrupted thread cancels its running Spark job
        threads.foreach(_.interrupt()); threads.foreach(_.join()); throw e
    }
    val failed = failures.filter(_ != null)
    if (failed.nonEmpty) {
      failed.tail.foreach(failed.head.addSuppressed)
      throw failed.head
    }
  }

  /** Long-form (ts, node_id, value) from a record variable, records
    * striped across tasks; each task re-parses the (tiny) header and
    * seeks straight to its records. `fill` values become NULL. */
  private def seriesToParquet(s: SparkSession, ncPath: String, outDir: String,
                              seriesVar: String, numRecs: Int,
                              fill: Option[Double]): Unit = {
    import s.implicits._
    // one contiguous record range per task, as wide as the cluster (a
    // 1000-core session stripes records 1000-wide); no shuffle
    val slices = math.max(1, math.min(numRecs, s.sparkContext.defaultParallelism))
    s.range(0, numRecs, 1, slices)
      .mapPartitions { recs =>
        val nc = NcFile.open(ncPath)
        // close on task completion (success OR failure) — a leaked reader
        // is harmless for local files but pins a connection/socket when
        // the path is an HTTP/DAP remote
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => nc.close()))
        recs.flatMap { rec =>
          val vals = nc.readRecord(seriesVar, rec.toInt)
          vals.indices.iterator.map { i =>
            (rec, i.toLong, if (isMasked(vals(i), fill)) None else Some(vals(i)))
          }
        }
      }
      .toDF(SeriesSchema.map(_.name): _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/series")
  }

  /** The reference masks exact fill matches (numpy masked array); NaN in
    * the payload is masked too — it IS the reference's mask encoding. */
  private def isMasked(v: Double, fill: Option[Double]): Boolean =
    v.isNaN || fill.exists(f => v == f)

  /** Decode the time coordinate to (ts, t_raw, t_utc) rows; None when
    * the file has no record variable `timeVar`. `t_utc` is NULL when the
    * variable carries no parseable CF `units` — downstream falls back to
    * record-index naming rather than fabricating instants. */
  private def readTimes(nc: NcFile, timeVar: String)
      : Option[Seq[(Long, Double, Option[java.sql.Timestamp])]] =
    if (!nc.varNames.contains(timeVar) || !nc.isRecordVar(timeVar)) None
    else {
      val epoch = nc.strAttr(timeVar, "units").flatMap(NetCdf3.parseTimeUnits)
      Some((0 until nc.numRecs).map { rec =>
        val t = nc.readRecord(timeVar, rec)(0)
        val utc = epoch.map { case (mult, e0) =>
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochMilli(math.round((e0 + t * mult) * 1000.0)))
        }
        (rec.toLong, t, utc)
      })
    }

  /** The reference's 1-D/2-D variable dispatch (adcirc_utilities
    * `get_water_levels63` vs max-variable slicing,
    * /root/reference/run/utilities/adcirc_dask_utilities.py:24-33):
    * time-varying variables (zeta) are (time, node) and slice per
    * timestep; max-variables (zeta_max, vel_max) are nodal 1-D with no
    * time axis. The dispatch is SCHEMA-DRIVEN — whether the variable
    * carries the record (unlimited) dimension decides the shape, exactly
    * as the reference branches on `len(var.dims)`:
    *  - record var  → long-form `(ts, node_id, value)` (record-striped)
    *  - fixed var   → static   `(node_id, value)` snapshot
    * Both paths apply the fill→null mask. Returns the written
    * sub-directory name ("series" or the var name). */
  def varToParquet(s: SparkSession, ncPath: String, outDir: String,
                   varName: String): String = {
    import s.implicits._
    val nc = NcFile.open(ncPath)
    try {
      if (nc.isRecordVar(varName)) {
        seriesToParquet(s, ncPath, outDir, varName, nc.numRecs, nc.fillValue(varName))
        "series"
      } else {
        val vals = nc.readFixed(varName)
        val fill = nc.fillValue(varName)
        vals.indices
          .map(i => (i.toLong, if (isMasked(vals(i), fill)) None else Some(vals(i))))
          .toDF("node_id", "value")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$varName")
        varName
      }
    } finally nc.close()
  }

  /** Read the ingested layout back (the operators' input contract). */
  def nodes(s: SparkSession, dir: String): DataFrame =
    s.read.schema(NodesSchema).parquet(s"$dir/nodes")
  def elements(s: SparkSession, dir: String): DataFrame =
    s.read.schema(ElementsSchema).parquet(s"$dir/elements")
  def series(s: SparkSession, dir: String): DataFrame =
    s.read.schema(SeriesSchema).parquet(s"$dir/series")
  def times(s: SparkSession, dir: String): DataFrame =
    s.read.schema(TimesSchema).parquet(s"$dir/times")

  /** ts → compact-ISO UTC label ("yyyyMMdd'T'HHmmss") for COG filenames —
    * the reference's naming contract (adcircTime2cogs.py:190-194, matched
    * by timeregex.properties). Empty when the source carried no decodable
    * time axis; callers then fall back to record-index names. Tiny
    * (one row per timestep), so a driver collect is the right shape. */
  def timeLabels(s: SparkSession, dir: String): Map[Long, String] =
    if (!timesExists(s, dir)) Map.empty
    else {
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
      times(s, dir).collect().flatMap { row =>
        Option(row.getAs[java.sql.Timestamp]("t_utc"))
          .map(t => row.getAs[Long]("ts") -> fmt.format(t.toInstant))
      }.toMap
    }

  /** Existence check through the Hadoop FileSystem for the path's scheme —
    * `dir` may be hdfs://, s3a://, file:, or a bare local path ([[RasterSink]]
    * was generalized to FS URIs; a java.io.File probe would silently miss a
    * remote times table and drop the timestamp naming contract). */
  private def timesExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/times")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }
}

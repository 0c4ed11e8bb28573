package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import graft.operators.Interp
import graft.plans.{GeoTiff, RasterSink}

/** Output-stage test: the per-timestep COG sink and its matching source,
  * the COG codec, and the ImageMosaic sidecar contract — the relational
  * equivalent of the reference's COG-per-timestep plus ImageMosaic
  * properties output. */
class RasterSinkSpec extends SparkSpec {

  /** The oracle-checked toy raster as the sink's (ts, grow, gcol, value)
    * rows, and its grid: centroid i at 0.3 + i·0.38 on both axes. */
  private def toyRaster = Interp.qInterpBarycentric(spark, "")
    .select(col("ts"), col("grow"), col("gcol"), (col("zi4") / 10000.0).as("value"))
  private val toySpec = Interp.GridSpec(0.11, 0.11 + Interp.G * 0.38, 0.11, 0.11 + Interp.G * 0.38, Interp.G)

  /** (ts, grow, gcol) → the Float32 the sink stores for it. */
  private def expectedPixels(raster: org.apache.spark.sql.DataFrame) = raster.collect()
    .map(r => ((r.getAs[Long]("ts"), r.getAs[Int]("grow"), r.getAs[Int]("gcol")),
               r.getAs[Double]("value").toFloat)).toMap

  private def tiffs(dir: String) = new java.io.File(dir).listFiles()
    .filter(_.getName.endsWith(".tiff")).sortBy(_.getName)

  /** IFD0's entries as (tag, type, count, value-or-offset). */
  private def ifd0(bytes: Array[Byte]): Seq[(Int, Int, Int, Int)] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val at = buf.getInt(4)
    (0 until buf.getShort(at)).map { i =>
      val base = at + 2 + i * 12
      (buf.getShort(base) & 0xffff, buf.getShort(base + 2).toInt, buf.getInt(base + 4), buf.getInt(base + 8))
    }
  }

  test("writeCogs emits one COG per timestep matching the interpolated raster") {
    val out = Files.createTempDirectory("graft_cog").toString
    RasterSink.writeCogs(toyRaster, toySpec, out, "fort_63_zeta")
    val files = tiffs(out)
    assert(files.map(_.getName).toSeq === (0 until Interp.T).map(t => f"fort_63_zeta_ts$t%03d.tiff"))
    val g = Interp.G
    val expected = expectedPixels(toyRaster)
    files.zipWithIndex.foreach { case (f, t) =>
      val bytes = Files.readAllBytes(f.toPath)
      val (w, h, vals, _, afterIfds) = GeoTiff.decodeCog(bytes)
      assert(w === g && h === g && afterIfds)
      assert(GeoTiff.cogOverviewCount(bytes) >= 1)
      assert(vals.zipWithIndex.forall { case (v, i) => expected((t.toLong, i / g, i % g)) === v },
        s"ts=$t pixels")
    }
  }

  test("writeCogs emits one valid GeoTIFF per timestep georeferenced to the grid spec") {
    val out = Files.createTempDirectory("graft_tiff").toString
    RasterSink.writeCogs(toyRaster, toySpec, out, "fort_63_zeta")
    val files = tiffs(out)
    assert(files.length === Interp.T)
    files.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // TIFF magic: little-endian "II", 42
      assert(bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte && bytes(2) == 42.toByte, f.getName)
      val tags = ifd0(bytes)
      val width = tags.find(_._1 == 256).get._4
      val height = tags.find(_._1 == 257).get._4
      assert(width === Interp.G && height === Interp.G, f.getName)
      // the NW corner of the spec's grid, one resX per pixel
      val scale = tags.find(_._1 == 33550).get
      assert(buf.getDouble(scale._4) === toySpec.resX, f.getName)
      val tie = tags.find(_._1 == 33922).get
      assert(buf.getDouble(tie._4 + 24) === toySpec.originX &&
             buf.getDouble(tie._4 + 32) === toySpec.originY, f.getName)
      val geo = tags.find(_._1 == 34735).get
      val keys = (0 until geo._3).map(i => buf.getShort(geo._4 + 2 * i) & 0xffff)
      assert(keys.sliding(4, 4).exists(g => g.headOption.contains(2048) && g.lift(3).contains(4326)),
        s"${f.getName}: EPSG:4326 GeoKey")
    }
  }

  test("sidecars carry the ImageMosaic indexer, timeregex and datastore properties") {
    val props = RasterSink.sidecars("fort_63_zeta").map { case (name, body) =>
      val p = new java.util.Properties()
      p.load(new java.io.StringReader(body))
      name -> p
    }
    assert(props.keySet === Set("indexer.properties", "timeregex.properties", "datastore.properties"))
    assert(props("timeregex.properties").getProperty("regex") === "[0-9]{8}T[0-9]{6}")
    val indexer = props("indexer.properties")
    assert(indexer.getProperty("TimeAttribute") === "time")
    assert(indexer.getProperty("PropertyCollectors") === "TimestampFileNameExtractorSPI[timeregex](time)")
    assert(indexer.getProperty("Schema").contains("time:java.util.Date"))
    val store = props("datastore.properties")
    assert(store.getProperty("database") === "fort_63_zeta")
    assert(store.getProperty("host") === "HOST_PLACEHOLDER" && store.getProperty("port") === "PORT_PLACEHOLDER",
      "connection parameters come from deployment config, not code")
  }

  test("GeoTiff carries the EPSG:4326 GeoKey and pixel scale") {
    val bytes = GeoTiff.encodeCog(4, 4, new Array[Float](16), -98.0, 45.0, 0.005, tile = 16)
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val tags = ifd0(bytes)
    assert(tags.map(_._1) === tags.map(_._1).sorted, "IFD tags must be ascending")
    val geo = tags.find(_._1 == 34735).get
    val keys = (0 until geo._3).map(i => buf.getShort(geo._4 + 2 * i) & 0xffff)
    // key triple (2048, 0, 1, 4326) = GeographicTypeGeoKey -> EPSG:4326
    assert(keys.sliding(4, 4).exists(g => g.headOption.contains(2048) && g.lift(3).contains(4326)))
    val scale = tags.find(_._1 == 33550).get
    assert(buf.getDouble(scale._4) === 0.005)
    val tie = tags.find(_._1 == 33922).get
    assert(buf.getDouble(tie._4 + 24) === -98.0 && buf.getDouble(tie._4 + 32) === 45.0)
  }

  test("COG encode: tiled base round-trips, overview chained, data after IFDs") {
    val w = 70; val h = 90 // 32px tiles -> 3x3 base tile grid with padding
    val vals = Array.tabulate(w * h)(i => i * 0.5f - 100f)
    val bytes = graft.plans.GeoTiff.encodeCog(w, h, vals, -98.0, 45.0, 0.005, tile = 32)
    // TIFF magic: little-endian "II", 42
    assert(bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte && bytes(2) == 42.toByte)
    val (dw, dh, dvals, (ovW, ovH), dataAfterIfds) = graft.plans.GeoTiff.decodeCog(bytes)
    assert(dw === w && dh === h)
    assert(dvals.toSeq === vals.toSeq, "tiled base image must round-trip exactly")
    assert(ovW === 35 && ovH === 45, "2x overview dims")
    assert(dataAfterIfds, "COG ordering: all pixel data after the IFDs")
  }

  test("COG overview pyramid: levels halve until one tile covers the image") {
    // 300x200, 32px tiles: 150x100 -> 75x50 -> 38x25 -> 19x13 (fits a tile)
    val w = 300; val h = 200
    val vals = Array.tabulate(w * h)(i => i.toFloat)
    val bytes = graft.plans.GeoTiff.encodeCog(w, h, vals, 0, 0, 1.0, tile = 32)
    assert(graft.plans.GeoTiff.cogOverviewCount(bytes) === 4)
    val (dw, dh, dvals, (ovW, ovH), afterIfds) = graft.plans.GeoTiff.decodeCog(bytes)
    assert(dw === w && dh === h && ovW === 150 && ovH === 100 && afterIfds)
    assert(dvals.toSeq === vals.toSeq, "pyramid must not disturb the base image")
  }

  test("COG deflate compression: exact round-trip, smaller bytes, NaN padding intact") {
    val w = 70; val h = 90
    val vals = Array.tabulate(w * h)(i => if (i % 11 == 0) Float.NaN else i * 0.5f - 100f)
    val plain = graft.plans.GeoTiff.encodeCog(w, h, vals, -98.0, 45.0, 0.005, tile = 32)
    val packed = graft.plans.GeoTiff.encodeCog(w, h, vals, -98.0, 45.0, 0.005, tile = 32,
      compress = true)
    assert(packed.length < plain.length,
      s"deflate must shrink the file (${packed.length} vs ${plain.length})")
    val (dw, dh, dvals, (ovW, ovH), dataAfterIfds) = graft.plans.GeoTiff.decodeCog(packed)
    assert(dw === w && dh === h && ovW === 35 && ovH === 45 && dataAfterIfds)
    // float-bit equality incl. NaN cells
    assert(dvals.map(java.lang.Float.floatToIntBits).toSeq
             === vals.map(java.lang.Float.floatToIntBits).toSeq)
  }

  test("COG decode: no bit flip in a deflate tile reads back wrong pixels silently") {
    // one 64×64 deflate tile of varied values; every bit of its stored
    // zlib stream is flipped in turn — the decoder must either return
    // the exact pixels or fail (the adler32 trailer catches what the
    // inflater alone does not)
    val w = 64; val h = 64
    val vals = Array.tabulate(w * h)(i => if (i % 13 == 0) Float.NaN else (i * 37 % 1009) * 0.25f)
    val bytes = GeoTiff.encodeCog(w, h, vals, 0.0, 0.0, 1.0, tile = 64, compress = true)
    val tags = ifd0(bytes)
    val tileAt = tags.find(_._1 == 324).get._4
    val tileLen = tags.find(_._1 == 325).get._4
    val want = vals.map(java.lang.Float.floatToIntBits).toSeq
    var failed = 0
    val silent = for {
      at <- tileAt until tileAt + tileLen
      bit <- 0 until 8
      wrong <- {
        val flipped = bytes.clone()
        flipped(at) = (flipped(at) ^ (1 << bit)).toByte
        scala.util.Try(GeoTiff.decodeCog(flipped)._3) match {
          case scala.util.Success(got) =>
            if (got.map(java.lang.Float.floatToIntBits).toSeq != want) Some((at - tileAt, bit)) else None
          case scala.util.Failure(_) => failed += 1; None
        }
      }
    } yield wrong
    assert(silent.size === 0,
      s"${silent.size} of ${tileLen * 8} flips decoded to wrong pixels without an error, " +
        s"e.g. (byte, bit) ${silent.take(5).mkString(", ")}")
    assert(failed > 0)
  }

  test("readGeoTiffs round-trips the COG sink to the raster") {
    val out = Files.createTempDirectory("graft_rt").toString
    // column 0 left out: absent cells come back as NaN nodata
    val raster = toyRaster.filter(col("gcol") =!= 0)
    RasterSink.writeCogs(raster, toySpec, out, "fort_63_zeta")
    val expected = expectedPixels(raster)
    val back = RasterSink.readGeoTiffs(spark, out).collect()
    assert(back.length === Interp.T * Interp.G * Interp.G, "cell count")
    back.foreach { r =>
      val key = (r.getAs[Long]("ts"), r.getAs[Int]("grow"), r.getAs[Int]("gcol"))
      val v = r.getAs[Double]("value")
      expected.get(key) match {
        case Some(e) => assert(v === e.toDouble, s"$key")
        case None => assert(v.isNaN, s"$key should be NaN nodata")
      }
    }
    assert(back.count(_.getAs[Double]("value").isNaN) === Interp.T * Interp.G)
  }

  test("readGeoTiffs fails on a corrupt tile and reads a COG without overviews") {
    val out = Files.createTempDirectory("graft_bad").toString
    RasterSink.writeCogs(toyRaster, toySpec, s"$out/good", "fort_63_zeta")
    val good = Files.readAllBytes(tiffs(s"$out/good").head.toPath)
    // a 50×50 image is one 256-pixel tile, so TileOffsets (324) holds its
    // offset inline; zeroing the zlib header makes its deflate stream
    // undecodable
    val corrupt = good.clone()
    val tileAt = ifd0(good).find(_._1 == 324).get._4
    java.util.Arrays.fill(corrupt, tileAt, tileAt + 16, 0.toByte)
    // IFD0's next-IFD pointer set to 0: a tiled GeoTIFF without overviews,
    // as GDAL writes small images; its base pixels are all a reader needs
    val noOverview = good.clone()
    val ifdAt = java.nio.ByteBuffer.wrap(good).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(4)
    java.nio.ByteBuffer.wrap(noOverview).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(ifdAt + 2 + ifd0(good).size * 12, 0)
    for ((name, bytes) <- Seq(("corrupt", corrupt), ("no_overview", noOverview))) {
      Files.createDirectories(Paths.get(s"$out/$name"))
      Files.write(Paths.get(s"$out/$name/fort_63_zeta_ts000.tiff"), bytes)
    }
    scala.util.Try(RasterSink.readGeoTiffs(spark, s"$out/corrupt").collect()) match {
      case scala.util.Success(rows) =>
        fail(s"corrupt read back ${rows.length} pixels " +
             s"(${rows.count(_.getAs[Double]("value") == 0.0)} of them 0.0) instead of failing")
      case scala.util.Failure(e) =>
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(classOf[java.util.zip.DataFormatException].isInstance),
          s"corrupt: not the decoder's failure: $e")
    }
    val (_, _, base, overview, afterIfds) = GeoTiff.decodeCog(noOverview)
    assert(overview === ((0, 0)) && afterIfds)
    val expected = expectedPixels(toyRaster)
    val back = RasterSink.readGeoTiffs(spark, s"$out/no_overview").collect()
    assert(back.length === base.length && back.length === Interp.G * Interp.G)
    back.foreach { r =>
      val key = (r.getAs[Long]("ts"), r.getAs[Int]("grow"), r.getAs[Int]("gcol"))
      assert(r.getAs[Double]("value") === expected(key).toDouble, s"$key")
    }
  }

  test("reprojection stage is a narrow transform preserving node count") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // lattice coords are degree-like; shift them into a valid lon/lat window
    val lonLat = Interp.nodes(spark)
      .select(col("node_id"), (col("lon") - 90.0).as("lon"), (col("lat") + 20.0).as("lat"))
    val proj = operators.Crs.transform(lonLat, "lon", "lat", 4326, 3857)
    assert(proj.count() === Interp.K.toLong * Interp.K)
    assert(PlanWalk.flatten(proj.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }.isEmpty, "no shuffle")
    // Mercator x is linear in lon; y is monotonic in lat
    val rows = proj.orderBy("node_id").collect()
    val xs = rows.take(Interp.K).map(_.getAs[Double]("lon"))
    assert(math.abs(xs.head - -90.0 * math.Pi / 180.0 * 6378137.0) < 1e-6, "node 0 at 90°W")
    assert(xs.zip(xs.tail).forall { case (a, b) => a < b })
    val ys = rows.grouped(Interp.K).map(_.head.getAs[Double]("lat")).toSeq
    assert(ys.zip(ys.tail).forall { case (a, b) => a < b })
  }

  test("existence-gated source: optional missing table is an empty relation") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("a", LongType)))
    val missing = Tables.tableOrEmpty(spark, sf, "swan_not_there", schema)
    assert(missing.count() === 0)
    assert(missing.schema === schema)
    val present = Tables.tableOrEmpty(spark, sf, "region",
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
    assert(present.count() === 5)
    // hard path: required source still throws
    intercept[org.apache.spark.sql.AnalysisException] {
      Tables.table(spark, sf, "swan_not_there").collect()
    }
  }

  test("mosaic index derives the reference's compact-ISO tiff names") {
    import spark.implicits._
    // hourly records across a month and a year boundary
    val start = 1230764400L // 2008-12-31T23:00:00Z
    val times = (0L until 6L)
      .map(t => (t, t * 3600.0, Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(start + t * 3600)))))
      .toDF("ts", "t_raw", "t_utc")
    val idx = RasterSink.mosaicIndexFromTimes(times, "fort_63_zeta").collect()
    assert(idx.length === 6)
    assert(idx.head.getAs[String]("fname") === "fort_63_zeta_20081231T230000Z.tiff")
    assert(idx(1).getAs[String]("fname") === "fort_63_zeta_20090101T000000Z.tiff")
    // every name is the reference's compact-ISO form, which the mosaic's
    // timeregex.properties must find in it
    val timeRegex = RasterSink.sidecars("graft")("timeregex.properties").stripPrefix("regex=").r
    assert(timeRegex.regex === "[0-9]{8}T[0-9]{6}")
    assert(idx.forall { r =>
      val f = r.getAs[String]("fname")
      f.matches("fort_63_zeta_[0-9]{8}T[0-9]{6}Z\\.tiff") && timeRegex.findFirstIn(f).nonEmpty
    })
    assert(idx.map(_.getAs[String]("fname")).distinct.length === 6, "one name per timestep")
  }

  test("mosaic index from an ingested time axis carries the REAL instants") {
    import spark.implicits._
    // 2008-09-09T00:00:00Z epoch, half-hourly records — as Ingest writes it
    val times = Seq(
      (0L, 0.0, Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1220918400L)))),
      (1L, 1800.0, Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1220920200L)))),
      (2L, 3600.0, None)) // undecodable instant → excluded, not fabricated
      .toDF("ts", "t_raw", "t_utc")
    val idx = RasterSink.mosaicIndexFromTimes(times, "fort_63_zeta").collect()
    assert(idx.map(_.getAs[String]("fname")).toSeq === Seq(
      "fort_63_zeta_20080909T000000Z.tiff", "fort_63_zeta_20080909T003000Z.tiff"))

    // a library caller with a NON-UTC session must get the same UTC names
    // (the COGs on disk were named via the UTC-pinned Ingest.timeLabels)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val idxNy = RasterSink.mosaicIndexFromTimes(times, "fort_63_zeta").collect()
      assert(idxNy.map(_.getAs[String]("fname")).toSeq === Seq(
        "fort_63_zeta_20080909T000000Z.tiff", "fort_63_zeta_20080909T003000Z.tiff"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("COG GDAL_NODATA is 'nan' and the overview skips NaN, not zeta==0") {
    // 4x4 grid where 0.0 is REAL data (zeta at datum) and NaN is nodata:
    //   block(0,0) = [NaN, 0, 5, 6]   -> overview 0.0 (NOT a hole: the old
    //                                    0-sentinel rule returned NaN here)
    //   block(0,1) = all NaN          -> overview NaN
    //   block(1,0) = [7, 8, 9, 10]    -> overview 7
    //   block(1,1) = all real 0.0     -> overview 0.0
    val w = 4; val h = 4
    val vals = Array[Float](
      Float.NaN, 0f,  Float.NaN, Float.NaN,
      5f,        6f,  Float.NaN, Float.NaN,
      7f,        8f,  0f,        0f,
      9f,        10f, 0f,        0f)
    val bytes = graft.plans.GeoTiff.encodeCog(w, h, vals, 0, 0, 1.0, tile = 16)
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // GDAL_NODATA (42113) in IFD0 must be ASCII "nan"
    val ifd0 = buf.getInt(4)
    buf.position(ifd0)
    val n0 = buf.getShort()
    val entries0 = (0 until n0).map { i =>
      val base = ifd0 + 2 + i * 12
      (buf.getShort(base) & 0xffff) -> base
    }.toMap
    val vb = entries0(42113) + 8
    assert(new String(Array(bytes(vb), bytes(vb + 1), bytes(vb + 2))) === "nan")
    // base image round-trips including NaN cells
    val (_, _, base, (ovW, ovH), _) = graft.plans.GeoTiff.decodeCog(bytes)
    assert(ovW === 2 && ovH === 2)
    assert(base.zip(vals).forall { case (a, b) => (a.isNaN && b.isNaN) || a === b })
    // decode the overview tile straight from IFD1 (single 16x16 tile)
    val ifd1 = buf.getInt(ifd0 + 2 + n0 * 12)
    buf.position(ifd1)
    val n1 = buf.getShort()
    val entries1 = (0 until n1).map { i =>
      val base1 = ifd1 + 2 + i * 12
      (buf.getShort(base1) & 0xffff) -> buf.getInt(base1 + 8)
    }.toMap
    val tileAt = entries1(324) // TileOffsets, count 1 → inline offset
    def ov(oy: Int, ox: Int): Float = buf.getFloat(tileAt + (oy * 16 + ox) * 4)
    assert(ov(0, 0) === 0f, "NaN-then-real-0 block keeps the real 0")
    assert(ov(0, 1).isNaN, "all-NaN block stays nodata")
    assert(ov(1, 0) === 7f)
    assert(ov(1, 1) === 0f, "all-zero block is real data, not a hole")
  }
}

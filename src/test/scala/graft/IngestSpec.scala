package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths}
import graft.sources.{Ingest, NetCdf3, RangeReader}

/** Ingest-boundary test: a synthetic fort.63-shaped NetCDF-3 binary
  * (written here byte-by-byte against the public CDF-1 spec, NOT via the
  * reader under test) converted to the long-form Parquet layout — checks
  * the -1 connectivity shift, the record-striped series read, value
  * fidelity, `_FillValue` mask→null, CF time decoding, and the HTTP
  * range-request read path. */
class IngestSpec extends SparkSpec {

  private val N = 12 // nodes
  private val M = 5  // elements
  private val T = 4  // records (timesteps)

  private val Fill = -99999.0
  /** (ts, node) cells that carry the fill value (ADCIRC dry nodes). */
  private val dry = Set((1, 2), (3, 7))

  private def zeta(t: Int, n: Int): Double =
    if (dry((t, n))) Fill else t * 100.0 + n + 0.25

  /** CDF-1 writer: dims (time=unlimited, node, nele, nvertex), vars
    * x(node) y(node) double, element(nele,nvertex) int 1-BASED,
    * time(time) double with CF units, zeta(time,node) double with
    * _FillValue. `version = 5` writes CDF-5 ("64-bit data"): every
    * NON_NEG header integer 64-bit, begins 64-bit, and element stored
    * as NC_INT64 to exercise the widened type set. */
  private def writeFixture(path: String, version: Int = 1,
                           streamingNumrecs: Boolean = false): Unit = {
    val v5 = version == 5
    val esz = if (v5) 8 else 4 // element payload width
    val elements1Based: Array[Int] =
      Array.tabulate(M * 3)(i => (i % N) + 1) // valid 1-based node ids

    def headerBytes(begins: Map[String, Int]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val o = new DataOutputStream(bos)
      def nn(v: Long): Unit = if (v5) o.writeLong(v) else o.writeInt(v.toInt)
      def name(s: String): Unit = {
        nn(s.length); o.writeBytes(s)
        (0 until (4 - s.length % 4) % 4).foreach(_ => o.writeByte(0))
      }
      def attrList(as: Seq[(String, Any)]): Unit =
        if (as.isEmpty) { o.writeInt(0); nn(0) }
        else {
          o.writeInt(NetCdf3.NcAttribute); nn(as.length)
          as.foreach {
            case (n, s: String) =>
              name(n); o.writeInt(NetCdf3.NcChar); nn(s.length)
              o.writeBytes(s)
              (0 until (4 - s.length % 4) % 4).foreach(_ => o.writeByte(0))
            case (n, d: Double) =>
              name(n); o.writeInt(NetCdf3.NcDouble); nn(1); o.writeDouble(d)
            case (n, v) => fail(s"unsupported attr fixture $n=$v")
          }
        }
      o.writeBytes("CDF"); o.writeByte(version)
      nn(if (streamingNumrecs) -1L else T) // numrecs (-1 = STREAMING sentinel)
      o.writeInt(NetCdf3.NcDimension); nn(4)
      name("time"); nn(0)
      name("node"); nn(N)
      name("nele"); nn(M)
      name("nvertex"); nn(3)
      attrList(Seq("Conventions" -> "CF-1.6")) // global attrs
      o.writeInt(NetCdf3.NcVariable); nn(6)
      def vr(nm: String, dimIds: Seq[Int], typ: Int, vsize: Int,
             attrs: Seq[(String, Any)] = Nil): Unit = {
        name(nm); nn(dimIds.length); dimIds.foreach(d => nn(d))
        attrList(attrs)
        o.writeInt(typ); nn(vsize)
        if (v5) o.writeLong(begins.getOrElse(nm, 0).toLong)
        else o.writeInt(begins.getOrElse(nm, 0))
      }
      vr("x", Seq(1), NetCdf3.NcDouble, N * 8)
      vr("y", Seq(1), NetCdf3.NcDouble, N * 8)
      vr("element", Seq(2, 3), if (v5) NetCdf3.NcInt64 else NetCdf3.NcInt, M * 3 * esz)
      vr("zeta_max", Seq(1), NetCdf3.NcDouble, N * 8,
         attrs = Seq("_FillValue" -> Fill))
      vr("time", Seq(0), NetCdf3.NcDouble, 8,
         attrs = Seq("units" -> "seconds since 2008-09-09 00:00:00 UTC",
                     "base_date" -> "2008-09-09 00:00:00"))
      vr("zeta", Seq(0, 1), NetCdf3.NcDouble, N * 8,
         attrs = Seq("_FillValue" -> Fill))
      o.flush(); bos.toByteArray
    }

    val hLen = headerBytes(Map.empty).length
    val begins = Map(
      "x" -> hLen, "y" -> (hLen + N * 8), "element" -> (hLen + 2 * N * 8),
      "zeta_max" -> (hLen + 2 * N * 8 + M * 3 * esz),
      "time" -> (hLen + 3 * N * 8 + M * 3 * esz),
      "zeta" -> (hLen + 3 * N * 8 + M * 3 * esz + 8))

    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    o.write(headerBytes(begins))
    (0 until N).foreach(i => o.writeDouble(i * 0.5))       // x
    (0 until N).foreach(i => o.writeDouble(40.0 + i * 0.25)) // y
    elements1Based.foreach(e =>                             // element (1-based)
      if (v5) o.writeLong(e.toLong) else o.writeInt(e))
    (0 until N).foreach(n =>                                // zeta_max: node 5 dry
      o.writeDouble(if (n == 5) Fill else 900.0 + n))
    (0 until T).foreach { t =>                              // records: time, zeta
      o.writeDouble(t * 3600.0)
      (0 until N).foreach(n => o.writeDouble(zeta(t, n)))
    }
    o.flush()
    Files.write(Paths.get(path), bos.toByteArray)
  }

  test("CDF-5 (64-bit data): wide header ints + int64 connectivity ingest identically") {
    // nccopy -k nc5 output shape: every NON_NEG header integer 64-bit,
    // element stored NC_INT64 — must produce the byte-identical relational
    // result the CDF-1 file does
    val dir = Files.createTempDirectory("graft_ingest5").toString
    val nc1 = s"$dir/fort63_v1.nc"; val nc5 = s"$dir/fort63_v5.nc"
    writeFixture(nc1); writeFixture(nc5, version = 5)
    val r = RangeReader.open(nc5)
    try {
      val h = NetCdf3.parseHeader(r)
      assert(h.numRecs === T)
      assert(h.vars.find(_.name == "element").get.ncType === NetCdf3.NcInt64)
      assert(NetCdf3.readFixed(r, h, h.vars.find(_.name == "element").get).toSeq ===
        (0 until M * 3).map(i => ((i % N) + 1).toDouble))
      assert(NetCdf3.readRecord(r, h, h.vars.find(_.name == "zeta").get, 2).toSeq ===
        (0 until N).map(n => zeta(2, n)))
    } finally r.close()
    val out1 = Files.createTempDirectory("graft_i5a").toString
    val out5 = Files.createTempDirectory("graft_i5b").toString
    Ingest.fort63ToParquet(spark, nc1, out1)
    Ingest.fort63ToParquet(spark, nc5, out5)
    def snap(d: String) = Ingest.series(spark, d).collect()
      .map(row => (row.getAs[Long]("ts"), row.getAs[Long]("node_id"),
                   if (row.isNullAt(2)) null else row.getAs[Double]("value"))).toSet
    assert(snap(out5) === snap(out1))
    assert(Ingest.elements(spark, out5).collect().map(_.toString).sorted.toSeq ===
           Ingest.elements(spark, out1).collect().map(_.toString).sorted.toSeq)
  }

  test("NetCDF-3 ingest: header, -1 shift, record-striped series, value fidelity") {
    val dir = Files.createTempDirectory("graft_ingest").toString
    val nc = s"$dir/fort63.nc"
    writeFixture(nc)

    Ingest.fort63ToParquet(spark, nc, dir)

    val nodes = Ingest.nodes(spark, dir).collect().sortBy(_.getAs[Long]("node_id"))
    assert(nodes.length === N)
    assert(nodes(3).getAs[Double]("lon") === 1.5)
    assert(nodes(3).getAs[Double]("lat") === 40.75)

    val eles = Ingest.elements(spark, dir).collect().sortBy(_.getAs[Long]("ele_id"))
    assert(eles.length === M)
    // 1-based in the file, 0-based after ingest
    val all = eles.flatMap(r => Seq(r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("n3")))
    assert(all.min === 0L && all.max === (N - 1).toLong)
    assert(eles(0).getAs[Long]("n1") === 0L) // file had 1

    val series = Ingest.series(spark, dir).collect()
    assert(series.length === T * N)
    series.foreach { r =>
      val t = r.getAs[Long]("ts").toInt; val n = r.getAs[Long]("node_id").toInt
      if (dry((t, n))) assert(r.isNullAt(r.fieldIndex("value")), s"dry ($t,$n) must be null")
      else assert(r.getAs[Double]("value") === zeta(t, n))
    }
  }

  test("declared read schemas equal the written schemas: CDF-1, CDF-5 and HDF5") {
    val dir = Files.createTempDirectory("graft_ingest_schema").toString
    writeFixture(s"$dir/cdf1.nc")
    writeFixture(s"$dir/cdf5.nc", version = 5)
    Files.write(Paths.get(s"$dir/hdf5.nc"), Hdf5Fixture.writeV0(Hdf5Fixture.Content(
      n = N, m = M, t = T, fill = Fill, dry = dry, dryMax = Set(5),
      units = "seconds since 2008-09-09 00:00:00 UTC")))
    val declared = Seq("nodes" -> Ingest.NodesSchema, "elements" -> Ingest.ElementsSchema,
                       "series" -> Ingest.SeriesSchema, "times" -> Ingest.TimesSchema)
    for (f <- Seq("cdf1", "cdf5", "hdf5")) {
      Ingest.fort63ToParquet(spark, s"$dir/$f.nc", s"$dir/$f")
      for ((table, schema) <- declared)
        assert(spark.read.parquet(s"$dir/$f/$table").schema === schema, s"$f $table")
    }
  }

  test("one failed ingest write is rethrown after every write has ended") {
    val dir = Files.createTempDirectory("graft_ingest_fail").toString
    writeFixture(s"$dir/full.nc")
    val full = Files.readAllBytes(Paths.get(s"$dir/full.nc"))
    // cut inside the last record's zeta: x, y, element and every time
    // value stay readable, so only the series tasks fail
    val nc = s"$dir/cut.nc"
    Files.write(Paths.get(nc), java.util.Arrays.copyOf(full, full.length - (N / 2) * 8))
    val out = s"$dir/out"
    val e = intercept[Exception](Ingest.fort63ToParquet(spark, nc, out))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.EOFException]), s"not the series read's failure: $e")
    org.apache.spark.TestBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName.startsWith("graft-ingest-") && t.isAlive))
    // the other three writes ran to completion
    assert(Ingest.nodes(spark, out).count() === N)
    assert(Ingest.elements(spark, out).count() === M)
    assert(Ingest.times(spark, out).count() === T)

    // the join itself: a body that fails first must not let the call
    // return before the other body has ended
    val failed = new java.util.concurrent.CountDownLatch(1)
    val ended = new java.util.concurrent.atomic.AtomicBoolean(false)
    val direct = intercept[IllegalStateException](Ingest.concurrently(
      "a" -> { () => failed.countDown(); throw new IllegalStateException("a failed") },
      "b" -> { () => failed.await(); Thread.sleep(200); ended.set(true) }))
    assert(direct.getMessage === "a failed")
    assert(ended.get, "the failure was rethrown before every body had ended")
  }

  test("_FillValue mask→null: dry nodes become NULL, never the sentinel") {
    val dir = Files.createTempDirectory("graft_ingest_fill").toString
    val nc = s"$dir/fort63.nc"
    writeFixture(nc)
    Ingest.fort63ToParquet(spark, nc, dir)
    import org.apache.spark.sql.functions.col
    val s = Ingest.series(spark, dir)
    // the sentinel itself must never surface (the reference's masked-array
    // semantics, adcirc_utilities.py:30)
    assert(s.filter(col("value") === Fill).count() === 0)
    assert(s.filter(col("value").isNull).count() === dry.size.toLong)
    // and the masked cells are exactly the dry ones
    val nulls = s.filter(col("value").isNull).collect()
      .map(r => (r.getAs[Long]("ts").toInt, r.getAs[Long]("node_id").toInt)).toSet
    assert(nulls === dry)
    // fixed-var path masks too (zeta_max node 5)
    assert(Ingest.varToParquet(spark, nc, dir, "zeta_max") === "zeta_max")
    val mx = spark.read.parquet(s"$dir/zeta_max")
    assert(mx.filter(col("value").isNull).count() === 1)
    assert(mx.filter(col("value") === Fill).count() === 0)
  }

  test("CF time decoding: units attr → real UTC instants + COG labels") {
    val dir = Files.createTempDirectory("graft_ingest_time").toString
    val nc = s"$dir/fort63.nc"
    writeFixture(nc)
    Ingest.fort63ToParquet(spark, nc, dir)
    val times = Ingest.times(spark, dir).collect().sortBy(_.getAs[Long]("ts"))
    assert(times.length === T)
    // epoch 2008-09-09T00:00:00Z = 1220918400; record t is t*3600 seconds later
    times.zipWithIndex.foreach { case (r, t) =>
      assert(r.getAs[Double]("t_raw") === t * 3600.0)
      assert(r.getAs[java.sql.Timestamp]("t_utc").toInstant.getEpochSecond
               === 1220918400L + t * 3600L)
    }
    val labels = Ingest.timeLabels(spark, dir)
    assert(labels(0L) === "20080909T000000")
    assert(labels(3L) === "20080909T030000")
    assert(labels.values.forall(_.matches("[0-9]{8}T[0-9]{6}")),
           "labels must match the timeregex.properties contract")
  }

  test("CF units parser covers the published spellings") {
    assert(NetCdf3.parseTimeUnits("seconds since 2008-09-09 00:00:00 UTC")
             === Some((1.0, 1220918400L)))
    assert(NetCdf3.parseTimeUnits("hours since 2008-09-09T06:00:00Z")
             === Some((3600.0, 1220940000L)))
    assert(NetCdf3.parseTimeUnits("days since 1970-01-01") === Some((86400.0, 0L)))
    assert(NetCdf3.parseTimeUnits("min since 2000-01-01 12:30")
             === Some((60.0, 946729800L)))
    assert(NetCdf3.parseTimeUnits("sec since 2008-09-09 00:00:00.000000 UTC")
             === Some((1.0, 1220918400L)))
    assert(NetCdf3.parseTimeUnits("furlongs since yesterday") === None)
    assert(NetCdf3.parseTimeUnits("meters") === None)
  }

  test("1-D/2-D variable dispatch: record var -> long-form, fixed var -> static nodal") {
    val dir = Files.createTempDirectory("graft_ingest3").toString
    val nc = s"$dir/fort63.nc"
    writeFixture(nc)
    // 2-D (time, node): dispatches to the record-striped long form
    assert(Ingest.varToParquet(spark, nc, dir, "zeta") === "series")
    assert(Ingest.series(spark, dir).count() === (T * N).toLong)
    // 1-D max-variable (node only): dispatches to a static nodal snapshot
    assert(Ingest.varToParquet(spark, nc, dir, "zeta_max") === "zeta_max")
    val mx = spark.read.parquet(s"$dir/zeta_max").collect().sortBy(_.getAs[Long]("node_id"))
    assert(mx.length === N)
    assert(mx(7).getAs[Double]("value") === 907.0)
  }

  test("ingested layout drives the interpolation join shape end-to-end") {
    val dir = Files.createTempDirectory("graft_ingest2").toString
    writeFixture(s"$dir/fort63.nc")
    Ingest.fort63ToParquet(spark, s"$dir/fort63.nc", dir)
    // the operators' contract: join series to elements through node ids
    val joined = Ingest.series(spark, dir)
      .join(Ingest.elements(spark, dir),
            org.apache.spark.sql.functions.col("node_id") === org.apache.spark.sql.functions.col("n1"))
    assert(joined.count() > 0)
  }

  test("HTTP range reads retry transient 503s, then fail definitive statuses fast") {
    val dir = Files.createTempDirectory("graft_flaky_http").toString
    val nc = s"$dir/fort63.nc"
    writeFixture(nc)
    val bytes = Files.readAllBytes(Paths.get(nc))
    val fails = new java.util.concurrent.atomic.AtomicInteger(2) // first 2 GETs 503
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/flaky.nc", { (ex: com.sun.net.httpserver.HttpExchange) =>
      ex.getRequestMethod match {
        case "HEAD" =>
          ex.getResponseHeaders.set("Accept-Ranges", "bytes")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.close()
        case "GET" =>
          hits.incrementAndGet()
          if (fails.getAndDecrement() > 0) {
            ex.sendResponseHeaders(503, -1); ex.getResponseBody.close()
          } else {
            val r = ex.getRequestHeaders.getFirst("Range")
            val Array(a, b) = r.stripPrefix("bytes=").split("-").map(_.toLong)
            val slice = java.util.Arrays.copyOfRange(bytes, a.toInt, b.toInt + 1)
            ex.getResponseHeaders.set("Content-Range", s"bytes $a-$b/${bytes.length}")
            ex.sendResponseHeaders(206, slice.length.toLong)
            ex.getResponseBody.write(slice); ex.getResponseBody.close()
          }
        case _ => ex.sendResponseHeaders(405, -1); ex.getResponseBody.close()
      }
    })
    server.start()
    try {
      val r = RangeReader.open(s"http://127.0.0.1:${server.getAddress.getPort}/flaky.nc")
      try {
        val head = new Array[Byte](4)
        r.readFully(0, head) // absorbs the two 503s, succeeds on a retry
        assert(new String(head, 0, 3, "US-ASCII") === "CDF")
        // at least one retry beyond the two failures, bounded (no hammering);
        // exact counts are brittle — the JDK connection layer may add an
        // internal replay of its own
        assert(hits.get() >= 3 && hits.get() <= 6, s"hits=${hits.get()}")
      } finally r.close()
    } finally server.stop(0)
  }

  test("HTTP range-request ingest: same file over a Range-honoring server") {
    val dir = Files.createTempDirectory("graft_ingest_http").toString
    val nc = s"$dir/fort63.nc"
    writeFixture(nc)
    val bytes = Files.readAllBytes(Paths.get(nc))

    // local fixture server: HEAD → Content-Length, GET+Range → 206 slice
    // (the access shape of a THREDDS fileServer / S3 / any static host)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/fort63.nc", { (ex: com.sun.net.httpserver.HttpExchange) =>
      val range = Option(ex.getRequestHeaders.getFirst("Range"))
      ex.getRequestMethod match {
        case "HEAD" =>
          ex.getResponseHeaders.set("Accept-Ranges", "bytes")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.close()
        case "GET" =>
          range match {
            case Some(r) =>
              val Array(a, b) = r.stripPrefix("bytes=").split("-").map(_.toLong)
              val slice = java.util.Arrays.copyOfRange(bytes, a.toInt, b.toInt + 1)
              ex.getResponseHeaders.set("Content-Range", s"bytes $a-$b/${bytes.length}")
              ex.sendResponseHeaders(206, slice.length.toLong)
              ex.getResponseBody.write(slice); ex.getResponseBody.close()
            case None =>
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes); ex.getResponseBody.close()
          }
        case _ => ex.sendResponseHeaders(405, -1); ex.getResponseBody.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/fort63.nc"
      val outDir = Files.createTempDirectory("graft_ingest_http_out").toString
      Ingest.fort63ToParquet(spark, url, outDir)
      assert(Ingest.nodes(spark, outDir).count() === N)
      assert(Ingest.series(spark, outDir).count() === (T * N).toLong)
      // byte-identical to the local-file ingest, including the null mask
      val localDir = Files.createTempDirectory("graft_ingest_local").toString
      Ingest.fort63ToParquet(spark, nc, localDir)
      val local = Ingest.series(spark, localDir).collect()
        .map(r => (r.getAs[Long]("ts"), r.getAs[Long]("node_id"),
                   if (r.isNullAt(2)) null else r.getAs[Double]("value"))).toSet
      val remote = Ingest.series(spark, outDir).collect()
        .map(r => (r.getAs[Long]("ts"), r.getAs[Long]("node_id"),
                   if (r.isNullAt(2)) null else r.getAs[Double]("value"))).toSet
      assert(remote === local)
    } finally server.stop(0)
  }

  test("STREAMING numrecs derives the record count from the file length") {
    // the writer-in-progress shape of live ASGS output: numrecs is the
    // all-ones sentinel, and the reader must count the COMPLETE records
    // present — including ignoring a half-written record at the tail
    val dir = Files.createTempDirectory("graft_ingest_stream").toString
    val nc = s"$dir/live.nc"
    writeFixture(nc, streamingNumrecs = true)
    val r = RangeReader.open(nc)
    try {
      val h = NetCdf3.parseHeader(r)
      assert(h.numRecs === T)
      assert(NetCdf3.readRecord(r, h, h.vars.find(_.name == "zeta").get, T - 1).toSeq ===
        (0 until N).map(n => zeta(T - 1, n)))
    } finally r.close()
    // truncate mid-record: the partial record must not count
    val full = Files.readAllBytes(Paths.get(nc))
    val cut = s"$dir/live_cut.nc"
    Files.write(Paths.get(cut), java.util.Arrays.copyOf(full, full.length - (N / 2) * 8))
    val r2 = RangeReader.open(cut)
    try assert(NetCdf3.parseHeader(r2).numRecs === T - 1)
    finally r2.close()
  }

  test("STREAMING numrecs sentinel and HDF5 magic fail with actionable errors") {
    val dir = Files.createTempDirectory("graft_ingest_err").toString
    // STREAMING: numrecs = 0xFFFFFFFF
    val streaming = Array[Byte]('C', 'D', 'F', 1, -1, -1, -1, -1) ++ new Array[Byte](32)
    Files.write(Paths.get(s"$dir/streaming.nc"), streaming)
    val e1 = intercept[IllegalArgumentException] {
      val r = RangeReader.open(s"$dir/streaming.nc")
      try NetCdf3.parseHeader(r) finally r.close()
    }
    assert(e1.getMessage.contains("STREAMING"))
    // NetCDF-4/HDF5 container magic
    val hdf5 = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n') ++ new Array[Byte](32)
    Files.write(Paths.get(s"$dir/v4.nc"), hdf5)
    val e2 = intercept[IllegalArgumentException] {
      val r = RangeReader.open(s"$dir/v4.nc")
      try NetCdf3.parseHeader(r) finally r.close()
    }
    assert(e2.getMessage.contains("HDF5"))
  }

  test("CDF-2 (64-bit offset) variant parses identically") {
    // same fixture, version byte 2 + 8-byte begin offsets
    val dir = Files.createTempDirectory("graft_ingest_v2").toString
    val nc = s"$dir/fort63_v2.nc"
    val N = 4; val M = 1; val T2 = 2
    def headerBytes(begins: Map[String, Long]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(); val o = new DataOutputStream(bos)
      def name(s: String): Unit = {
        o.writeInt(s.length); o.writeBytes(s)
        (0 until (4 - s.length % 4) % 4).foreach(_ => o.writeByte(0))
      }
      o.writeBytes("CDF"); o.writeByte(2) // CDF-2
      o.writeInt(T2)
      o.writeInt(NetCdf3.NcDimension); o.writeInt(4)
      name("time"); o.writeInt(0)
      name("node"); o.writeInt(N)
      name("nele"); o.writeInt(M)
      name("nvertex"); o.writeInt(3)
      o.writeInt(0); o.writeInt(0)
      o.writeInt(NetCdf3.NcVariable); o.writeInt(5)
      def vr(nm: String, dimIds: Seq[Int], typ: Int, vsize: Int): Unit = {
        name(nm); o.writeInt(dimIds.length); dimIds.foreach(o.writeInt)
        o.writeInt(0); o.writeInt(0); o.writeInt(typ); o.writeInt(vsize)
        o.writeLong(begins.getOrElse(nm, 0L)) // 8-byte begin in CDF-2
      }
      vr("x", Seq(1), NetCdf3.NcDouble, N * 8)
      vr("y", Seq(1), NetCdf3.NcDouble, N * 8)
      vr("element", Seq(2, 3), NetCdf3.NcInt, M * 3 * 4)
      vr("time", Seq(0), NetCdf3.NcDouble, 8)
      vr("zeta", Seq(0, 1), NetCdf3.NcDouble, N * 8)
      o.flush(); bos.toByteArray
    }
    val hLen = headerBytes(Map.empty).length.toLong
    val begins = Map(
      "x" -> hLen, "y" -> (hLen + 32), "element" -> (hLen + 64),
      "time" -> (hLen + 64 + 12), "zeta" -> (hLen + 64 + 12 + 8))
    val bos = new ByteArrayOutputStream(); val o = new DataOutputStream(bos)
    o.write(headerBytes(begins))
    (0 until N).foreach(i => o.writeDouble(i * 1.0))
    (0 until N).foreach(i => o.writeDouble(i * 2.0))
    Seq(1, 2, 3).foreach(o.writeInt) // one triangle, 1-based
    (0 until T2).foreach { t =>
      o.writeDouble(t * 60.0)
      (0 until N).foreach(n => o.writeDouble(t * 10.0 + n))
    }
    o.flush(); Files.write(Paths.get(nc), bos.toByteArray)

    Ingest.fort63ToParquet(spark, nc, dir)
    assert(Ingest.nodes(spark, dir).count() === N)
    val ele = Ingest.elements(spark, dir).collect()
    assert(ele.length === 1 && ele(0).getAs[Long]("n1") === 0L)
    val sr = Ingest.series(spark, dir).collect()
    assert(sr.length === T2 * N)
    assert(sr.forall(r => r.getAs[Double]("value") ===
      r.getAs[Long]("ts") * 10.0 + r.getAs[Long]("node_id")))
  }
}

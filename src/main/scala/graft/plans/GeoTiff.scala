package graft.plans

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM Cloud-Optimized GeoTIFF codec (public TIFF 6.0 + GeoTIFF 1.1
  * specs; no native or third-party codec): the engine's one raster
  * format. [[encodeCog]] writes a single-band Float32 COG — tiled, a full
  * overview pyramid, every IFD before any pixel data, each tile its own
  * deflate stream — the byte-level contract of the reference's
  * per-timestep raster output (write_cog, run/adcircTime2cogs.py:205-206)
  * that any GDAL/QGIS reader opens. [[decodeCog]] reads back that subset
  * and throws on a file outside it.
  *
  * Scale note: encoding is per-timestep and O(width*height) memory —
  * the same envelope as the reference, which materializes each full
  * grid before writing. Parallelism comes from timesteps-per-executor
  * (see [[RasterSink.writeCogs]]), not from splitting one image.
  */
object GeoTiff {

  // TIFF tag ids
  private val ImageWidth = 256
  private val ImageLength = 257
  private val BitsPerSample = 258
  private val Compression = 259
  private val Photometric = 262
  private val SamplesPerPixel = 277
  private val SampleFormat = 339
  private val ModelPixelScale = 33550
  private val ModelTiepoint = 33922
  private val GeoKeyDirectory = 34735

  // field types
  private val TShort = 3
  private val TLong = 4
  private val TDouble = 12

  /** GDAL_NODATA = "nan": absent (out-of-mesh) cells are Float.NaN, which
    * Float32 SampleFormat=3 represents natively. NaN is out-of-band by
    * construction — unlike a 0.0 sentinel, which collides with legitimate
    * zeta==0 (datum sea level) and made readers mask real data. ASCII
    * "nan\0" is 4 bytes, so it fits inline in the value field. */
  private def nodataEntry(buf: ByteBuffer): Unit = {
    buf.putShort(GdalNoData.toShort).putShort(2).putInt(4)
    buf.put('n'.toByte).put('a'.toByte).put('n'.toByte).put(0.toByte)
  }

  // COG tags
  private val NewSubfileType = 254
  private val TileWidth = 322
  private val TileLength = 323
  private val TileOffsets = 324
  private val TileByteCounts = 325
  private val GdalNoData = 42113 // ASCII: GDAL's nodata-value convention

  /** One zlib stream per TIFF tile (Compression 8, "Adobe Deflate" —
    * what GDAL's COG profile emits with COMPRESS=DEFLATE). */
  private def deflateTile(in: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(in); d.finish()
    val out = new java.io.ByteArrayOutputStream(in.length / 2)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Inflates one tile's zlib stream to its END, so the inflater checks
    * the adler32 trailer: a damaged stream throws (DataFormatException)
    * or fails a require, never returns wrong bytes. */
  private def inflateTile(in: Array[Byte], outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(in)
    val out = new Array[Byte](outLen)
    val spare = new Array[Byte](1) // past outLen: only the trailer may remain
    var at = 0
    try {
      while (!inf.finished()) {
        val left = inf.getRemaining
        val n = if (at < outLen) inf.inflate(out, at, outLen - at) else inf.inflate(spare)
        require(at < outLen || n == 0, s"deflate tile longer than $outLen bytes")
        require(n > 0 || inf.finished() || inf.getRemaining < left, "truncated deflate tile")
        at += n
      }
    } finally inf.end()
    require(at == outLen, s"deflate tile gave $at of $outLen bytes")
    out
  }

  /** Encode a Cloud-Optimized GeoTIFF: TILED layout (not strips), a
    * 2×-reduced overview as a second IFD, and header+IFDs at the FRONT
    * of the file before any pixel data — the three properties that let
    * a range-request reader fetch metadata and the needed tiles without
    * scanning the file (the "CO" in the reference's output contract).
    * Tiles are `tile`×`tile` (must be a multiple of 16 per TIFF 6.0),
    * edge tiles NaN-padded; the overview uses nodata-aware nearest
    * downsampling, Float32 like the base image. `compress` stores each
    * tile as its own zlib stream (Compression 8) — GDAL's COG
    * COMPRESS=DEFLATE profile; offsets/bytecounts then carry the
    * variable stored sizes. */
  def encodeCog(width: Int, height: Int, values: Array[Float],
                originX: Double, originY: Double, res: Double,
                tile: Int = 256, compress: Boolean = false): Array[Byte] = {
    require(values.length == width.toLong * height)
    require(tile % 16 == 0, "TIFF tile dims must be multiples of 16")

    case class Level(w: Int, h: Int, vals: Array[Float]) {
      val tilesX: Int = (w + tile - 1) / tile
      val tilesY: Int = (h + tile - 1) / tile
      val nTiles: Int = tilesX * tilesY
      val tileBytes: Int = tile * tile * 4
      def tileData(tx: Int, ty: Int): Array[Float] = {
        val out = new Array[Float](tile * tile)
        java.util.Arrays.fill(out, Float.NaN) // edge padding is nodata
        var r = 0
        while (r < tile) {
          val sy = ty * tile + r
          if (sy < h) {
            var c = 0
            while (c < tile) {
              val sx = tx * tile + c
              if (sx < w) out(r * tile + c) = vals(sy * w + sx)
              c += 1
            }
          }
          r += 1
        }
        out
      }
    }
    // nodata-aware nearest 2x downsample: first non-nodata (non-NaN) pixel
    // of each 2x2 block, so a mesh-edge block whose top-left cell is
    // outside the mesh doesn't punch a hole in the overview. Keyed on NaN,
    // NOT 0f: zeta exactly 0.0 (datum sea level) is legitimate in-mesh data.
    def downsample(l: Level): Level = {
      val ow = math.max(1, (l.w + 1) / 2); val oh = math.max(1, (l.h + 1) / 2)
      Level(ow, oh, Array.tabulate(ow * oh) { i =>
        val y = (i / ow) * 2; val x = (i % ow) * 2
        var v = Float.NaN; var dy = 0
        while (dy < 2 && v.isNaN) {
          var dx = 0
          while (dx < 2 && v.isNaN) {
            if (y + dy < l.h && x + dx < l.w) {
              val c = l.vals((y + dy) * l.w + (x + dx))
              if (!c.isNaN) v = c
            }
            dx += 1
          }
          dy += 1
        }
        v
      })
    }
    // full overview pyramid (GDAL COG layout): halve until a level fits in
    // ONE tile, at least one overview — range readers then pick the level
    // matching their zoom instead of scanning base tiles
    val levels = {
      val lb = List.newBuilder[Level]
      var cur = Level(width, height, values)
      lb += cur
      var more = true
      while (more) {
        cur = downsample(cur); lb += cur
        more = math.max(cur.w, cur.h) > tile && cur.w * cur.h > 1
      }
      lb.result()
    }

    // materialize (and maybe compress) every tile of every level first:
    // stored sizes drive the offset layout
    def storedTiles(l: Level): Array[Array[Byte]] =
      (for (ty <- 0 until l.tilesY; tx <- 0 until l.tilesX) yield {
        val raw = ByteBuffer.allocate(l.tileBytes).order(ByteOrder.LITTLE_ENDIAN)
        l.tileData(tx, ty).foreach(raw.putFloat)
        if (compress) deflateTile(raw.array()) else raw.array()
      }).toArray
    val tiles = levels.map(storedTiles)

    // base IFD: 15 entries (geo arrays + GDAL_NODATA); overviews: 12
    val entryCounts = 15 :: List.fill(levels.length - 1)(12)
    // layout: header, all IFDs, out-of-line arrays, tile data level by level
    val ifdAts = entryCounts.scanLeft(8L) { (at, n) => at + 2 + n * 12 + 4 }
    var cursor = ifdAts.last // scanLeft's extra element = end of the IFDs
    def reserve(n: Long): Long = { val at = cursor; cursor += n; at }
    def arr4(n: Int): Long = if (n > 1) reserve(4L * n) else 0L
    val offAts = levels.map(l => arr4(l.nTiles))
    val cntAts = levels.map(l => arr4(l.nTiles))
    val scaleAt = reserve(24); val tieAt = reserve(48)
    val geoKeys = Array(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
    val geoKeysAt = reserve(2L * geoKeys.length)
    val dataAts = tiles.scanLeft(cursor)((at, ts) => at + ts.map(_.length.toLong).sum)
    val total = dataAts.last
    val compTag = if (compress) 8 else 1

    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdAts.head.toInt)

    def entry(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      buf.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == TShort && count == 1) buf.putShort(value.toShort).putShort(0)
      else buf.putInt(value.toInt)
    }
    levels.zipWithIndex.foreach { case (l, i) =>
      buf.position(ifdAts(i).toInt)
      buf.putShort(entryCounts(i).toShort)
      if (i > 0) entry(NewSubfileType, TLong, 1, 1) // reduced-resolution subfile
      entry(ImageWidth, TLong, 1, l.w)
      entry(ImageLength, TLong, 1, l.h)
      entry(BitsPerSample, TShort, 1, 32)
      entry(Compression, TShort, 1, compTag)
      entry(Photometric, TShort, 1, 1)
      entry(SamplesPerPixel, TShort, 1, 1)
      entry(TileWidth, TLong, 1, tile)
      entry(TileLength, TLong, 1, tile)
      if (l.nTiles > 1) entry(TileOffsets, TLong, l.nTiles, offAts(i))
      else entry(TileOffsets, TLong, 1, dataAts(i))
      if (l.nTiles > 1) entry(TileByteCounts, TLong, l.nTiles, cntAts(i))
      else entry(TileByteCounts, TLong, 1, tiles(i)(0).length)
      entry(SampleFormat, TShort, 1, 3)
      if (i == 0) {
        entry(ModelPixelScale, TDouble, 3, scaleAt)
        entry(ModelTiepoint, TDouble, 6, tieAt)
        entry(GeoKeyDirectory, TShort, geoKeys.length, geoKeysAt)
        nodataEntry(buf) // GDAL_NODATA "nan": see [[nodataEntry]]
      }
      buf.putInt(if (i + 1 < levels.length) ifdAts(i + 1).toInt else 0)
    }

    // out-of-line arrays (offsets cumulative over the stored sizes)
    levels.indices.foreach { i =>
      if (levels(i).nTiles > 1) {
        var off = dataAts(i)
        buf.position(offAts(i).toInt)
        tiles(i).foreach { t => buf.putInt(off.toInt); off += t.length }
        buf.position(cntAts(i).toInt)
        tiles(i).foreach(t => buf.putInt(t.length))
      }
    }
    buf.position(scaleAt.toInt); buf.putDouble(res).putDouble(res).putDouble(0.0)
    buf.position(tieAt.toInt)
    buf.putDouble(0).putDouble(0).putDouble(0).putDouble(originX).putDouble(originY).putDouble(0)
    buf.position(geoKeysAt.toInt); geoKeys.foreach(k => buf.putShort(k.toShort))

    // tile data, finest level first
    buf.position(dataAts.head.toInt)
    tiles.foreach(_.foreach(buf.put))
    buf.array()
  }

  /** Number of overview IFDs chained after the base image (tests). */
  def cogOverviewCount(bytes: Array[Byte]): Int = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.get() == 'I' && buf.get() == 'I' && buf.getShort() == 42)
    var at = buf.getInt(4); var n = -1
    while (at != 0) {
      n += 1
      buf.position(at)
      val entries = buf.getShort()
      at = buf.getInt(at + 2 + entries * 12)
    }
    n
  }

  /** Decoder for the COG writer's base image: reads IFD0's
    * tiled layout and returns (width, height, values); also returns the
    * overview dims from IFD1 — (0, 0) for a tiled GeoTIFF without
    * overviews, the layout GDAL writes for small images — and whether
    * all pixel data sits after the IFDs (the cloud-optimized ordering
    * property). */
  def decodeCog(bytes: Array[Byte]): (Int, Int, Array[Float], (Int, Int), Boolean) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.get() == 'I' && buf.get() == 'I' && buf.getShort() == 42)
    def readIfd(at: Int): (Map[Int, (Int, Int, Long)], Int) = {
      buf.position(at)
      val n = buf.getShort()
      val m = (0 until n).map { i =>
        val base = at + 2 + i * 12
        val tag = buf.getShort(base) & 0xffff
        val typ = buf.getShort(base + 2).toInt; val count = buf.getInt(base + 4)
        val v = if (typ == TShort && count == 1) buf.getShort(base + 8).toLong
                else buf.getInt(base + 8).toLong
        tag -> (typ, count, v)
      }.toMap
      (m, buf.getInt(at + 2 + n * 12))
    }
    val (ifd0, next) = readIfd(buf.getInt(4))
    val overview =
      if (next == 0) (0, 0)
      else { val (ifd1, _) = readIfd(next); (ifd1(ImageWidth)._3.toInt, ifd1(ImageLength)._3.toInt) }
    val w = ifd0(ImageWidth)._3.toInt; val h = ifd0(ImageLength)._3.toInt
    val tw = ifd0(TileWidth)._3.toInt; val th = ifd0(TileLength)._3.toInt
    val deflated = ifd0.get(Compression).exists(_._3 == 8L)
    val (_, nT, offV) = ifd0(TileOffsets)
    val offsets = if (nT == 1) Array(offV)
                  else Array.tabulate(nT)(i => buf.getInt((offV + 4L * i).toInt).toLong)
    val (_, _, cntV) = ifd0(TileByteCounts)
    val counts = if (nT == 1) Array(cntV.toInt)
                 else Array.tabulate(nT)(i => buf.getInt((cntV + 4L * i).toInt))
    val tilesX = (w + tw - 1) / tw
    val out = new Array[Float](w * h)
    offsets.zipWithIndex.foreach { case (off, t) =>
      val tx = t % tilesX; val ty = t / tilesX
      val fb =
        if (deflated) {
          val stored = java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + counts(t))
          ByteBuffer.wrap(inflateTile(stored, tw * th * 4)).order(ByteOrder.LITTLE_ENDIAN)
        } else {
          val d = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN); d.position(off.toInt); d
        }
      for (r <- 0 until th; c <- 0 until tw) {
        val v = fb.getFloat()
        val y = ty * th + r; val x = tx * tw + c
        if (y < h && x < w) out(y * w + x) = v
      }
    }
    val ifdAt = if (next == 0) buf.getInt(4) else next // the last IFD read
    val ifdEnd = ifdAt + 2 + 12 * buf.getShort(ifdAt) + 4
    val dataAfterIfds = offsets.min >= ifdEnd
    (w, h, out, overview, dataAfterIfds)
  }
}

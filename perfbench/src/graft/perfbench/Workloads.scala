package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.Interp
import graft.plans.{GeoTiff, RasterSink}
import graft.sources.Ingest

/** Named wall-clock spans of one iteration, in seconds. */
final class Spans {
  val totals = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def time[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally totals(name) = totals.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** One benchmark workload. `iteration` is timed; the check it returns is
  * run after the clock stops and yields an error message, or None. */
trait Workload {
  def name: String
  /** Set-ups summed into one `setup_s` sample, so that it lasts over a
    * second. */
  def setupBatch: Int
  /** Untimed iterations before the measured ones, so that every run
    * measures past the steep part of the JIT's curve (README.md). */
  def warmup: Int
  /** Writes the inputs and registers them with the session. */
  def setup(spark: SparkSession): Unit
  /** Untimed housekeeping before each iteration. */
  def prepare(): Unit = ()
  def iteration(spark: SparkSession, spans: Spans): () => Option[String]
  /** Observed output digests, for recording expected values. */
  def observed: Map[String, String]
  /** Per-layer probes of the traced run that time work outside the
    * iterations (pipeline only); given the traced iterations' spans. */
  def probes(spark: SparkSession, rec: Recorder, spans: Seq[Spans]): Map[String, Double] = Map.empty
}

object Workload {
  val Loops = Seq("q_graph_components", "q_dedup_ppjoin")
  val Scan = Seq("q_tpch_q1", "q_tpch_q3", "q_tpch_q6", "q_tpch_q18", "q_text_bm25")

  def apply(name: String, seed: Long, work: String, expected: Map[String, String]): Workload =
    name match {
      case "pipeline_forecast" => new Forecast(seed, s"$work/pipeline_forecast", expected)
      // the loop queries read only documents; the SQL queries register
      // every corpus view (graft.Views), so that workload writes them all
      case "queries_loops" =>
        new Queries(name, Loops, Seq("documents"), 4, 6, seed, s"$work/corpus", expected)
      case "queries_scan" => new Queries(name, Scan, graft.Views.names :+ "events", 1, 4,
        seed, s"$work/corpus", expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
}

/** The paper's job: one fort.63 forecast → ingest → mesh→raster
  * interpolation → one COG per timestep, plus the mosaic sidecars. */
final class Forecast(seed: Long, dir: String, expected: Map[String, String]) extends Workload {
  val name = "pipeline_forecast"
  val K = 128
  val T = 8
  val G = 256
  val setupBatch = 24
  val warmup = 3
  /** The seed picks one of eight zeta phases; each has a recorded digest. */
  val phase: Int = java.lang.Math.floorMod(seed, 8L).toInt
  private val nc = s"$dir/fort.63.nc"
  private val out = s"$dir/out"
  private val tables = s"$out/tables"
  private val cogs = s"$out/cogs"
  private val varName = "fort_63_zeta"
  var ncBytes = 0L
  private var digest = ""

  def setup(spark: SparkSession): Unit = {
    new File(dir).mkdirs()
    ncBytes = Inputs.fort63(nc, K, T, phase * math.Pi / 4)
  }

  override def prepare(): Unit = Workload.deleteTree(new File(out))

  def iteration(spark: SparkSession, spans: Spans): () => Option[String] = {
    spans.time("ingest")(Ingest.fort63ToParquet(spark, nc, tables))
    val nodes = Ingest.nodes(spark, tables)
    val elements = Ingest.elements(spark, tables)
    val series = Ingest.series(spark, tables)
    val spec = spans.time("interp")(Interp.gridSpec(nodes, G))
    val raster = spans.time("interp")(Interp.interpolateTables(nodes, elements, series, spec))
    val labels = Ingest.timeLabels(spark, tables)
    spans.time("sink")(RasterSink.writeCogs(raster, spec, cogs, varName, tsLabels = labels))
    spans.time("sink")(RasterSink.sidecars(varName).foreach { case (n, body) =>
      Files.writeString(Paths.get(s"$out/$n"), body)
    })
    () => check()
  }

  private def cogFiles: Seq[File] =
    Option(new File(cogs).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".tiff")).sortBy(_.getName)

  /** Decodes every COG: one per timestep, G×G with an overview and
    * header-first layout, every value inside the ±10 envelope, and a
    * CRC32 over the decoded pixels (NaN canonical) equal to the value
    * recorded for this phase. */
  private def check(): Option[String] = {
    val files = cogFiles
    if (files.size != T) return Some(s"${files.size} COGs, expected $T")
    val crc = new java.util.zip.CRC32()
    val buf = java.nio.ByteBuffer.allocate(4 * G * G)
    for (f <- files) {
      val bytes = Files.readAllBytes(f.toPath)
      val (w, h, vals, (ow, oh), headerFirst) = GeoTiff.decodeCog(bytes)
      if (w != G || h != G) return Some(s"${f.getName}: ${w}x$h, expected ${G}x$G")
      if (GeoTiff.cogOverviewCount(bytes) < 1 || ow >= G || oh >= G || ow < 1 || oh < 1)
        return Some(s"${f.getName}: no overview (${ow}x$oh)")
      if (!headerFirst) return Some(s"${f.getName}: pixel data precedes the IFDs")
      buf.clear()
      var wet = 0
      for (v <- vals) {
        if (!v.isNaN) {
          wet += 1
          if (math.abs(v) > 10.0f) return Some(s"${f.getName}: value $v outside ±10")
        }
        buf.putInt(java.lang.Float.floatToIntBits(v))
      }
      if (wet == 0) return Some(s"${f.getName}: no wet cells")
      crc.update(buf.array(), 0, buf.position())
    }
    digest = f"${crc.getValue}%08x"
    val key = s"pipeline_forecast/phase$phase"
    expected.get(key) match {
      case Some(d) if d == digest => None
      case Some(d) => Some(s"pixel digest $digest, recorded $d")
      case None => Some(s"no recorded digest for $key (observed $digest)")
    }
  }

  def observed: Map[String, String] = Map(s"pipeline_forecast/phase$phase" -> digest)

  def cells: Long = G.toLong * G * T
  def cogBytes: Long = cogFiles.map(_.length()).sum

  override def probes(spark: SparkSession, rec: Recorder, spans: Seq[Spans]): Map[String, Double] = {
    val nodes = Ingest.nodes(spark, tables)
    val elements = Ingest.elements(spark, tables)
    val spec = Interp.gridSpec(nodes, G)
    // the interpolation alone, into a sink that writes nothing
    val noop = (1 to 3).map { _ =>
      val obs = new Observation()
      val raster = Interp.interpolateTables(nodes, elements, Ingest.series(spark, tables), spec)
        .observe(obs, count(lit(1)).as("rows"))
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      raster.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val shuffle = rec.take(spark.sparkContext, ms0).map(_.shuffleWrite).sum
      (wall, shuffle, obs.get("rows").asInstanceOf[Long])
    }
    val rasterS = Stats.median(noop.map(_._1))
    val candidates = Interp.bucketTris(nodes, elements, spec).count()
    val first = Files.readAllBytes(cogFiles.head.toPath)
    val (_, _, vals, _, _) = GeoTiff.decodeCog(first)
    val encodeS = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      GeoTiff.encodeCog(G, G, vals, spec.originX, spec.originY, spec.resX, compress = true)
      (System.nanoTime() - t0) / 1e9
    })
    rec.take(spark.sparkContext, 0L)
    val ingestS = Stats.median(spans.map(_.totals("ingest")))
    val sinkS = Stats.median(spans.map(_.totals("sink")))
    Map(
      "sources.ingest_s" -> ingestS,
      "sources.decode_mb_per_s" -> ncBytes / 1e6 / ingestS,
      "sources.parquet_bytes" -> Workload.treeBytes(new File(tables)).toDouble,
      "interp.raster_s" -> rasterS,
      "interp.candidate_pairs" -> candidates.toDouble,
      "interp.hit_ratio" -> noop.head._3.toDouble / T / candidates,
      "interp.shuffle_bytes" -> Stats.median(noop.map(_._2.toDouble)),
      "sink.write_s" -> (sinkS - rasterS),
      "sink.encode_mb_per_s" -> 4.0 * G * G / 1e6 / encodeS,
      "sink.cog_bytes" -> cogBytes.toDouble)
  }
}

/** One pass over a set of declared queries on the seeded corpus, in an
  * order drawn from the seed. Each query's rows are reduced to an
  * order-independent digest, which is also the action that runs it. */
final class Queries(val name: String, queries: Seq[String], tables: Seq[String],
                    val setupBatch: Int, val warmup: Int, seed: Long,
                    dir: String, expected: Map[String, String]) extends Workload {
  /** Corpus scale factor, and the corpus seed: the data is fixed so its
    * digests can be recorded; the run seed only orders the queries. */
  val Sf = 0.02
  val DataSeed = 42L
  private val rng = new scala.util.Random(seed)
  private val digests = scala.collection.mutable.Map.empty[String, String]

  def setup(spark: SparkSession): Unit = {
    Inputs.corpus(spark, dir, Sf, DataSeed, tables)
    tables.foreach(t => Tables.table(spark, dir, t).schema)
  }

  def iteration(spark: SparkSession, spans: Spans): () => Option[String] = {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    digests.clear()
    for (q <- rng.shuffle(queries)) {
      try spans.time(q)(digests(q) = Digest.of(SparkEntry.queries(q)(spark, dir)))
      catch { case e: Exception => errors += s"$q failed: ${String.valueOf(e).take(300)}" }
    }
    () => {
      val bad = errors ++ queries.flatMap { q =>
        (digests.get(q), expected.get(s"$name/$q")) match {
          case (Some(d), Some(e)) if d == e => None
          case (Some(d), Some(e)) => Some(s"$q digest $d, recorded $e")
          case (Some(d), None) => Some(s"$q has no recorded digest (observed $d)")
          case (None, _) => None // already reported as failed
        }
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
  }

  def observed: Map[String, String] = digests.map { case (q, d) => s"$name/$q" -> d }.toMap
}

/** Order-independent digest of a frame's rows: row count and the exact sum
  * of per-row xxhash64 values. Floating-point columns enter as 9-digit
  * scientific strings, so a last-bit difference from a reordered sum does
  * not change the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = lit(0) +: named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.9e", x))
    case _: MapType => to_json(c)
    case _ => c
  }
}

package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Benchmark entry point. Usage:
  * {{{
  * Main --workload <pipeline_forecast|queries_loops|queries_scan>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> --expected <file>
  * }}}
  * One JVM, `local[2]` with 4 shuffle partitions. The run sets the
  * workload up once (the cold start, in no metric), warms up for a fixed
  * number of iterations, then measures whole iterations for `--seconds`.
  * Untraced, it then times `SetupSamples` samples of fresh set-ups after
  * half a batch of untimed ones (`setup_s` is their median); traced, it
  * adds a listener and the fence probe and measures traced iterations
  * for another `--seconds`. The last stdout line is the result object. */
object Main {
  /** Spark task threads: half of the 4 vCPUs the benchmark is sized for,
    * so that the driver, JIT and GC threads do not queue behind the tasks
    * and other load on the machine slows an iteration less (README.md). */
  val Cores = 2
  val Partitions = 4
  val SetupSamples = 3
  val MinSamples = 3

  final case class Sample(startMs: Long, wallS: Double, cpuS: Double, heapMb: Double, steal: Double,
                          spans: Spans)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val expected = readFlatJson(opts("expected"))
    val wl = Workload(workload, seed, work, expected)
    var attempted = 0
    var failed = 0

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    var spark: SparkSession = null
    /** Session start, input generation and registration; the previous
      * session's shutdown is not timed. */
    def setUp(): Double = {
      if (spark != null) spark.stop()
      timed { spark = session(work); wl.setup(spark) }
    }
    val coldSetupS = setUp()

    /** One checked iteration; None when it failed. `heap` false skips the
      * heap reading and its collections (the early warm-up iterations). */
    def iterate(heap: Boolean = true): Option[Sample] = {
      wl.prepare()
      val spans = new Spans
      val ms0 = System.currentTimeMillis()
      val c0 = cpuNs()
      val s0 = HostSteal.read()
      val t0 = System.nanoTime()
      val check =
        try wl.iteration(spark, spans)
        catch { case e: Exception => () => Some(s"iteration failed: ${String.valueOf(e).take(300)}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val steal = HostSteal.share(s0, HostSteal.read())
      val err = check()
      val heapMb = if (heap) liveHeapMb() else Double.NaN
      attempted += 1
      err match {
        case Some(msg) =>
          failed += 1
          System.err.println(s"perfbench: $workload check failed: $msg")
          None
        case None => Some(Sample(ms0, wall, cpu, heapMb, steal, spans))
      }
    }

    def measure(min: Int): Seq[Sample] = {
      val t0 = System.nanoTime()
      val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
      def elapsed = (System.nanoTime() - t0) / 1e9
      while ((out.size < min || elapsed < seconds) && elapsed < 3 * seconds) out ++= iterate()
      out.toSeq
    }

    // warm-up: a fixed number of iterations, so that every run measures
    // from the same point of the JIT's progress
    val warm = (1 to wl.warmup).map(i => iterate(heap = i == wl.warmup).map(_.wallS).getOrElse(Double.NaN))
    val samples = measure(MinSamples)
    val runS = Stats.median(samples.map(_.wallS))
    // set-up samples, after the measured iterations so they run in a warm
    // JVM; each sums `setupBatch` fresh set-ups, so it lasts over a second.
    // Half a batch of untimed set-ups first warms the set-up path up.
    val setupS =
      if (trace) Nil
      else {
        (1 to (wl.setupBatch + 1) / 2).foreach(_ => setUp())
        (1 to SetupSamples).map(_ => (1 to wl.setupBatch).map(_ => setUp()).sum)
      }
    val summary = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cold_setup_s" -> coldSetupS,
      "warmup_s" -> warm, "setup_s" -> setupS, "setup_batch" -> wl.setupBatch,
      "run_s" -> samples.map(_.wallS), "cpu_s" -> samples.map(_.cpuS),
      "heap_live_mb" -> samples.map(_.heapMb), "host_steal" -> samples.map(_.steal))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("run_s", runS, "s"),
        ("cpu_s", Stats.median(samples.map(_.cpuS)), "s"),
        ("heap_live_mb", Stats.median(samples.map(_.heapMb)), "MiB"))
      else {
        val (layers, routing) = traced(spark, wl, runS, seconds, () => iterate())
        routing.foreach { msg =>
          attempted += 1; failed += 1
          System.err.println(s"perfbench: $workload routing assertion failed: $msg")
        }
        layers
      }
    summary("metrics") = metrics.map { case (n, v, _) => n -> v }.toMap
    summary("attempted") = attempted
    summary("failed") = failed
    summary("observed") = wl.observed
    spark.stop()

    val report = json(summary)
    Files.writeString(Paths.get(work, s"report-$workload-trace${if (trace) 1 else 0}.json"), report + "\n")
    System.err.println(s"perfbench: $report")
    val ok = failed == 0 && samples.nonEmpty && metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val result = "{\"correct\": " + ok + ", \"attempted\": " + attempted + ", \"failed\": " + failed +
      ", \"metrics\": {" + metrics.map { case (n, v, u) =>
        "\"" + n + "\": {\"value\": " + (if (v.isNaN || v.isInfinite) 0.0 else v) + ", \"unit\": \"" + u + "\"}"
      }.mkString(", ") + "}}"
    println(result)
  }

  /** The traced phase: per-iteration job, stage, task, shuffle, spill and
    * fence counters, the driver gap, the workload's own probes, and the
    * overhead against the untraced median. Returns the per-layer metrics
    * and any routing assertion that failed. */
  private def traced(spark: SparkSession, wl: Workload, untracedRunS: Double,
                     seconds: Double, iterate: () => Option[Sample])
      : (Seq[(String, Double, String)], Seq[String]) = {
    val rec = new Recorder
    val fences = new FenceTally
    spark.sparkContext.addSparkListener(rec)
    fences.install()
    val layers = scala.collection.mutable.ArrayBuffer.empty[Layers]
    val perQuery = scala.collection.mutable.Map.empty[String, Seq[Double]]
    var samples = Seq.empty[Sample]
    try {
      // one traced iteration at a time, so jobs and fences are per iteration
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while ((samples.size < 2 || elapsed < seconds) && elapsed < 3 * seconds) {
        fences.reset()
        val ms0 = System.currentTimeMillis()
        val got = iterate()
        val js = rec.take(spark.sparkContext, ms0)
        got.foreach { s =>
          layers += Layers.of(js, s.startMs, s.startMs + math.round(s.wallS * 1000), s.wallS,
            fences.snapshot())
          s.spans.totals.foreach { case (k, v) => perQuery(k) = perQuery.getOrElse(k, Nil) :+ v }
          samples :+= s
        }
      }
    } finally fences.uninstall()
    val probes = wl.probes(spark, rec, samples.map(_.spans))
    spark.sparkContext.removeSparkListener(rec)

    def med(f: Layers => Double): Double = Stats.median(layers.map(f).toSeq)
    val tracedRunS = Stats.median(samples.map(_.wallS))
    val common = Seq(
      ("driver.gap_s", med(l => l.wallS - l.coveredS), "s"),
      ("driver.jobs", med(_.jobs), "count"),
      ("driver.stages", med(_.stages), "count"),
      ("driver.tasks", med(_.tasks), "count"),
      ("exec.cpu_s", med(_.cpuS), "s"),
      ("exec.gc_s", med(_.gcS), "s"),
      ("exec.parallelism", med(l => l.cpuS / l.wallS), "ratio"),
      ("shuffle.write_bytes", med(_.shuffleWrite.toDouble), "bytes"),
      ("shuffle.read_bytes", med(_.shuffleRead.toDouble), "bytes"),
      ("spill.bytes", med(_.spill.toDouble), "bytes"),
      ("fence.cuts", med(_.fenceCuts), "count"),
      ("fence.plan_ms", med(_.fencePlanMs.toDouble), "ms"),
      ("fence.job_ms", med(_.fenceJobMs.toDouble), "ms"),
      ("trace.run_s", tracedRunS, "s"),
      ("trace.overhead_s", tracedRunS - untracedRunS, "s"))
    val pipelineNames = Seq(
      "sources.ingest_s" -> "s", "sources.decode_mb_per_s" -> "MB/s", "sources.parquet_bytes" -> "bytes",
      "interp.raster_s" -> "s", "interp.candidate_pairs" -> "count", "interp.hit_ratio" -> "ratio",
      "interp.shuffle_bytes" -> "bytes", "sink.write_s" -> "s", "sink.encode_mb_per_s" -> "MB/s",
      "sink.cog_bytes" -> "bytes", "pipeline.cells_per_s" -> "1/s", "pipeline.cog_bytes_per_cell" -> "bytes")
    val pipeline = wl match {
      case f: Forecast =>
        probes ++ Map("pipeline.cells_per_s" -> f.cells / untracedRunS,
          "pipeline.cog_bytes_per_cell" -> f.cogBytes.toDouble / f.cells)
      case _ => Map.empty[String, Double]
    }
    val all = common ++ pipelineNames.map { case (n, u) => (n, pipeline.getOrElse(n, 0.0), u) }
    // per-query walls stay out of the metric set: they go to the report
    System.err.println("perfbench: traced per-span median s: " + json(
      perQuery.map { case (k, v) => k -> Stats.median(v) }.toSeq.sortBy(_._1).toMap))

    // each workload must reach, or bypass, the layers its rationale names
    val cuts = layers.map(_.fenceCuts).sum
    val rasterJobs = layers.map(_.rasterJobs).sum
    val routing = wl.name match {
      case "queries_loops" => Seq(s"queries_loops made no fence cuts").filter(_ => cuts == 0)
      case "queries_scan" =>
        Seq(s"queries_scan made $cuts fence cuts").filter(_ => cuts != 0) ++
          Seq(s"queries_scan ran $rasterJobs raster jobs").filter(_ => rasterJobs != 0)
      case _ =>
        Seq(s"pipeline_forecast made $cuts fence cuts").filter(_ => cuts != 0) ++
          Seq("pipeline_forecast ran no raster job").filter(_ => rasterJobs == 0)
    }
    System.err.println(s"perfbench: routing: $cuts fence cuts, $rasterJobs raster jobs")
    (all, routing)
  }

  /** CPU nanoseconds the process has used, less its JIT compiler
    * threads': the driver, Spark's task and service threads, and the GC,
    * so a change that allocates more still shows. The compiler's time
    * depends on how far warm-up has got, not on the engine's work. The
    * compiler threads are found by name in /proc/self/task (on another OS
    * nothing is subtracted); run.py keeps their number fixed, so none
    * exits with its time mid-iteration. */
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime - compilerNs()
  private def compilerNs(): Long =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = Files.readString(new File(t, "comm").toPath)
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
          Files.readString(new File(t, "schedstat").toPath).split(' ')(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L } // the thread has ended
    }.sum

  /** Heap in use, in MiB, after at least three full collections 100 ms
    * apart, and more until it stops falling (at most 6). A collection
    * makes dead broadcasts, shuffles and cached RDDs unreachable, Spark's
    * ContextCleaner then drops their blocks, and a later collection frees
    * them. The pipeline's broadcast hash relations (64 MiB of long[]
    * pages) are freed only by the third collection. */
  private val memBean = ManagementFactory.getMemoryMXBean
  private def liveHeapMb(): Double = {
    def collect(): Long = { System.gc(); memBean.getHeapMemoryUsage.getUsed }
    var used = collect()
    var rounds = 1
    var falling = true
    while (rounds < 3 || (falling && rounds < 6)) {
      Thread.sleep(100)
      val now = collect()
      falling = now < used - (1L << 20)
      used = math.min(used, now)
      rounds += 1
    }
    used / 1048576.0
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The share of the VM's CPU time the host took (steal), from the
    * first line of /proc/stat; NaN where that file is missing. Diagnostic
    * only: it goes to the report, next to each measured iteration. */
  object HostSteal {
    def read(): Array[Long] =
      try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      catch { case _: Exception => Array.empty }
    def share(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => y - x }
      if (d.length < 8 || d.sum <= 0) Double.NaN else d(7).toDouble / d.sum
    }
  }

  /** Reads a flat JSON object of string values (the recorded digests). */
  def readFlatJson(path: String): Map[String, String] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => other.toString
  }
}

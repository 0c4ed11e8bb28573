package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: run the interpolation pipeline at an arbitrary scale and print
  * wall-clock — evidence for SCALE.md's bucket-join claims.
  * Usage: tools/run_verify.sh <k> <g,t> graft.ScaleProbe  (e.g. 600 2000,4) */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")  // legacy events encodings readable from session build (no loader conf mutation)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args(0) == "dedup") dedupProbe(spark, args(1).toInt)
    else if (args(0) == "bigram") bigramProbe(spark, args(1).toInt)
    else if (args(0) == "kmeans") kmeansProbe(spark, args(1))
    else if (args(0) == "pipeline") pipelineProbe(spark, args(1))
    else if (args(0) == "incdedup") incdedupProbe(spark, args(1).toInt)
    else if (args(0) == "compact") compactProbe(spark, args(1).toInt)
    else if (args(0) == "bloom") bloomProbe(spark, args(1).toInt)
    else if (args(0) == "idw") {
      // IDW kNN regridding at production raster magnitude:
      //   tools/run_verify.sh idw <k>,<g> graft.ScaleProbe   (e.g. 600,1500)
      val Array(k, g) = args(1).split(",").map(_.toInt)
      val t0 = System.nanoTime()
      val n = operators.Interp.idw(spark, k, g).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"idw k=$k g=$g: ${k.toLong * k}%,d nodes x ${g.toLong * g}%,d cells -> $n%,d regridded in $secs%.1f s (${n / secs}%,.0f cells/s)")
    }
    else if (args(0) == "ppjoin") ppjoinProbe(spark, args(1))
    else if (args(0) == "ppjoinx") ppjoinGrowthProbe(spark, args(1).toInt)
    else if (args(0) == "dsir") dsirProbe(spark, args(1).toInt)
    else if (args(0) == "recall") {
      // recall <mult>[,<kCells>[,t|s[,<cb>]]]  (e.g. "recall 500,2048" =
      // 1M vectors; trailing "t" = only the trained-codebook legs, "s" =
      // only the r13 ivfpq pool/cb/rotation sweep, optional fourth
      // field = a single codebook size)
      val parts = args(1).split(",")
      recallProbe(spark, parts(0).toInt,
        if (parts.length > 1) parts(1).toInt else 64,
        trainedOnly = parts.length > 2 && parts(2) == "t",
        sweepOnly = parts.length > 2 && parts(2) == "s",
        onlyCb = if (parts.length > 3) Some(parts(3).toInt) else None)
    }
    else if (args(0) == "graphsearch") {
      // graphsearch <mult>[:sigBits]  (50k = 25:8; 1M = 500:17)
      val parts = args(1).split(":")
      graphSearchProbe(spark, parts(0).toInt,
        if (parts.length > 1) parts(1).toInt else 8)
    }
    else if (args(0) == "graphsearchhier") {
      // graphsearchhier <mult>[:sigBits[:maxLevels]]
      val parts = args(1).split(":")
      graphSearchHierProbe(spark, parts(0).toInt,
        if (parts.length > 1) parts(1).toInt else 8,
        if (parts.length > 2) parts(2).toInt else 4)
    }
    else if (args(0) == "abq") {
      // abq <q1,q2,...>[:reps[:sfDir]] — alternate declared queries in
      // ONE JVM after a warm-up pair: the SCALE.md box-variance
      // discipline (wall swings ±50% across sittings; only same-JVM
      // alternation separates position noise from real cost drift)
      val parts = args(1).split(":")
      val names = parts(0).split(",").toSeq
      val reps = if (parts.length > 1) parts(1).toInt else 5
      val dir = if (parts.length > 2) parts(2) else "/root/testdata/sf0.1"
      names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
      names.foreach(n => SparkEntry.queries(n)(spark, dir).count()) // warm-up
      val walls = scala.collection.mutable.Map.empty[String, Vector[Double]]
      (1 to reps).foreach { i =>
        names.foreach { n =>
          System.gc()
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, dir).count()
          val w = (System.nanoTime() - t0) / 1e9
          walls(n) = walls.getOrElse(n, Vector()) :+ w
          println(f"abq rep $i $n%-24s $w%.2f s")
        }
      }
      walls.toSeq.sortBy(_._1).foreach { case (nm, ws) =>
        val s = ws.sorted
        println(f"abq SUMMARY $nm%-24s min=${s.head}%.2f med=${s(s.size / 2)}%.2f " +
          f"max=${s.last}%.2f spread=${s.last / s.head}%.2fx")
      }
    }
    else if (args(0) == "dedup10") dedup10Probe(spark, args(1))
    else if (args(0) == "ann10") ann10Probe(spark, args(1))
    else if (args(0) == "graph10") graph10Probe(spark, args(1).toInt)
    else if (args(0) == "knningest") {
      // knningest <mult>[:batches[:sigBits]]  (50k = 25; 1M = 500:20:17;
      // drops inserted in id order)
      // 4th field = maxLevels for the HNSW-hierarchy maintenance legs
      // (0 = off; 50k hier = 25:20:8:9, 1M hier = 500:20:17:13)
      val parts = args(1).split(":")
      knnIngestProbe(spark, parts(0).toInt,
        if (parts.length > 1) parts(1).toInt else 20,
        if (parts.length > 2) parts(2).toInt else 8,
        if (parts.length > 3) parts(3).toInt else 0)
    }
    else if (args(0) == "annrefresh") annRefreshProbe(spark, args(1).toInt)
    else if (args(0) == "stream") streamProbe(spark, args(1))
    else if (args(0) == "selectk") selectkProbe(spark, args(1).toInt)
    else if (args(0) == "dstream") dstreamProbe(spark, args(1).toInt)
    else if (args(0) == "graph") graphProbe(spark, args(1).toInt)
    else if (args(0) == "graphops") graphopsProbe(spark, args(1).toInt)
    else if (args(0) == "graphmacro") {
      // arg form: <millions>[:leg] — leg ∈ scc|bc|bcfunnel|linkpred|
      // recsql|mod|coreness|sssp (default "all" = every leg but bcfunnel);
      // unknown legs are rejected, not silently mapped to the sssp tail
      // (r12 advice)
      val parts = args(1).split(":")
      val leg = if (parts.length > 1) parts(1) else "all"
      val legal = Set("all", "scc", "bc", "bcfunnel", "linkpred", "recsql",
                      "mod", "coreness", "sssp")
      require(legal(leg),
        s"graphmacro: unknown leg '$leg' (expected one of ${legal.mkString("|")})")
      graphmacroProbe(spark, parts(0).toInt, leg)
    }
    else if (args(0) == "prrefresh") prRefreshProbe(spark, args(1).toInt)
    else if (args(0) == "hyperball") {
      // hyperball <millions>[:diam] — ":diam" skips the harmonic leg and
      // runs only the r13 distance-distribution readout
      val parts = args(1).split(":")
      hyperballProbe(spark, parts(0).toInt,
        diamOnly = parts.length > 1 && parts(1) == "diam")
    }
    else {
      val k = args(0).toInt
      val Array(g, t) = args(1).split(",").map(_.toInt)
      val tris = 2L * (k - 1) * (k - 1)
      val cells = g.toLong * g
      val t0 = System.nanoTime()
      val n = operators.Interp.interpolate(spark, k, g, t).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"interp k=$k g=$g t=$t: $tris%,d triangles x $cells%,d cells x $t ts -> $n%,d rows in $secs%.1f s (naive pairs: ${tris * cells}%,d)")
    }
    spark.stop()
  }

  /** Streaming-dedup probe at crawl magnitude: [[graft.streaming
    * .Streams.dedupStream]] — spec-scale only until now — replaying a
    * backlog of `crawls` nightly crawls (one landing file each; crawl
    * c = the 5k-doc sf0.1 corpus with shifted ids and a per-crawl
    * token, except every 10th doc is an EXACT re-crawl of crawl 0's
    * text) as one micro-batch per crawl through ONE stream run.
    * Measured and printed per crawl: trigger wall, cross-crawl dup
    * hits delta, accumulated index rows — the claims under test being
    * that per-crawl cost tracks the CRAWL (the accumulated index is
    * probed, never reshuffled) and that dup hits appear exactly when a
    * crawl re-delivers known text.
    * Usage: tools/run_verify.sh dstream <crawls> graft.ScaleProbe */
  private def dstreamProbe(spark: SparkSession, crawls: Int): Unit = {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_dstream_probe"
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    rmTree(new java.io.File(root))
    val (docsDir, idx, hits, ckpt) =
      (s"$root/docs", s"$root/idx", s"$root/hits", s"$root/ckpt")
    new java.io.File(docsDir).mkdirs()
    val base = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    // crawl c: every 10th doc is an EXACT re-crawl of crawl 0's text;
    // the rest interleave a crawl marker after every 4th word — that
    // touches ~3/4 of all 3-shingles (J ≈ 0.14 vs any other crawl's
    // variant), genuinely NEW content to the banding, unlike an
    // appended token (J ≈ 0.97 — still a near-dup, correctly flagged)
    // file -> crawl, recorded AT WRITE TIME (append mode: any file not
    // seen after crawl c-1's write belongs to crawl c) — the ground
    // truth for batch attribution below (r11 advice: batchId == crawl
    // was an assumption, not a fact; the file-source checkpoint log is
    // the only authority on what each batch processed)
    val fileCrawl = scala.collection.mutable.Map.empty[String, Int]
    (0 until crawls).foreach { c =>
      val marked = expr(
        s"""array_join(flatten(transform(
           |  sequence(0, cast(ceil(size(split(text, ' ')) / 4.0) as int) - 1),
           |  i -> concat(slice(split(text, ' '), i * 4 + 1, 4), array('c$c')))), ' ')""".stripMargin)
      base.select((col("doc_id") + lit(c.toLong * 1000000)).as("doc_id"),
          when(col("doc_id") % 10 === 0, col("text")).otherwise(marked).as("text"))
        .coalesce(1).write.mode("append").parquet(docsDir)
      new java.io.File(docsDir).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .foreach(f => fileCrawl.getOrElseUpdate(f.getName, c))
    }
    val walls = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          walls.put(e.progress.batchId,
            e.progress.durationMs.getOrDefault("triggerExecution", 0L) / 1e3)
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val t0 = System.nanoTime()
    streaming.Streams.dedupStream(spark, docsDir, idx, hits, ckpt,
      maxFilesPerBatch = Some(1)).awaitTermination()
    val total = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val nDocs = base.count()
    println(f"dstream: $crawls crawls x $nDocs%,d docs drained in $total%.1f s")
    // batchId -> crawl via the file-source checkpoint log: entry
    // $ckpt/sources/0/<batchId> names the file(s) that batch processed
    def crawlOfBatch(b: Long): Option[Int] = {
      val log = new java.io.File(s"$ckpt/sources/0/$b")
      if (!log.exists()) None
      else {
        val src = scala.io.Source.fromFile(log)
        val txt = try src.mkString finally src.close()
        """"path":"([^"]+)"""".r.findAllMatchIn(txt)
          .flatMap(m => fileCrawl.get(new java.io.File(m.group(1)).getName))
          .toSeq.headOption
      }
    }
    val idxRows = spark.read.option("recursiveFileLookup", "true").parquet(idx)
      .count() // accumulated post-run size — computed ONCE
    walls.asScala.toSeq.sortBy(_._1).foreach { case (b, w) =>
      val h = new java.io.File(s"$hits/batch_$b")
      val nHits = if (h.exists()) spark.read.parquet(h.toString).count() else 0L
      val c = crawlOfBatch(b).map(_.toString).getOrElse("?")
      println(f"dstream batch $b (crawl $c): wall $w%.1f s, $nHits%,d cross-crawl dup hits")
    }
    println(f"dstream index now $idxRows%,d band rows")
  }

  /** Select-k probe: the stratified sampler's two selection forms at
    * replicated scale — full per-stratum rank WINDOW (one sort per
    * stratum partition — the straggler at corpus scale) vs the
    * two-scan hash-prefix select-k ([[operators.TextOps
    * .selectKByHash]]: 256-bucket histogram + boundary-only ranking).
    * Replicas keep the SAME 4 sources, so each stratum grows mult× —
    * exactly the per-stratum blowup that kills the window form.
    * Usage: tools/run_verify.sh selectk <mult> graft.ScaleProbe */
  private def selectkProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "source")
    val big = (0 until mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"), col("source"))
    }.reduce(_ union _)
    big.write.mode("overwrite").parquet("/tmp/graft_selectk_probe")
    val docs = spark.read.parquet("/tmp/graft_selectk_probe")
    val n = docs.count()
    // equal alloc per source: n/10 spread by stratum share (flat corpus
    // -> same per-stratum quota; exactness is the spec's job, this
    // probe measures wall)
    val alloc = docs.groupBy("source").agg((count(lit(1)) / 10).cast("long").as("alloc"))
    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val c = f; (c, (System.nanoTime() - t0) / 1e9)
    }
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    def windowForm: Long = docs.withColumn("rn", row_number().over(w))
      .join(alloc, "source").filter(col("rn") <= col("alloc")).count()
    def twoScan: Long = operators.TextOps.selectKByHash(docs, alloc).count()
    windowForm; twoScan // warm-up
    val (c1, t1) = time(windowForm)
    val (c2, t2) = time(twoScan)
    println(f"selectk mult=$mult: $n%,d docs, 4 strata -> window $c1%,d in $t1%.1f s; " +
      f"two-scan $c2%,d in $t2%.1f s (${t1 / t2}%.1fx)")
  }

  /** Bigram-LM scale probe: replicate the sf0.1 corpus `mult`× with a
    * per-replica token appended (new doc boundaries add new bigrams, so
    * the model grows sublinearly while the stream grows linearly — the
    * production shape). Evidence for SCALE.md: the per-doc scoring cost
    * is linear in corpus size; the window runs over the MODEL frame only.
    * Usage: tools/run_verify.sh bigram <mult> graft.ScaleProbe */
  private def bigramProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    val big = (0 until mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
                  concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ union _)
    big.write.mode("overwrite").parquet("/tmp/graft_bigram_probe")
    val docs = spark.read.parquet("/tmp/graft_bigram_probe")
    val nDocs = docs.count()
    val t0 = System.nanoTime()
    val n = operators.TextOps.bigramLm(docs).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"bigram-lm mult=$mult: $nDocs%,d docs -> $n%,d scored in $secs%.1f s (${nDocs / secs}%,.0f docs/s)")
  }

  /** End-to-end pipeline probe at production magnitude (VERDICT r8 #4):
    * runs [[graft.Pipeline.run]] — NetCDF-3 ingest → size-gated
    * interpolation → COG write — on a generated fort.63-shaped file
    * (tools/make_fort63.py; 550,96 ≈ the ASGS forecast shape: 302,500
    * nodes × 96 hourly timesteps), with the series-join gate driven by
    * the REAL parquet-backed Catalyst stats of the just-ingested series
    * — no test override anywhere. A QueryExecutionListener captures the
    * COG write's executed QueryExecution so the OBSERVED join shape
    * (corner-explode Generate, series joined shuffled on node_id, never
    * broadcast) is read off the plan that actually ran — the SCALE.md
    * evidence closing the loop between the gate's intent and execution.
    * Usage: tools/run_verify.sh pipeline <nc>,<outDir>,<g> graft.ScaleProbe */
  private def pipelineProbe(spark: SparkSession, arg: String): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.GenerateExec
    val Array(nc, outDir, gs) = arg.split(",")
    val g = gs.toInt
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = captured.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val t0 = System.nanoTime()
    val n = Pipeline.run(spark, nc, outDir, g)
    val wall = (System.nanoTime() - t0) / 1e9
    // the gate inputs exactly as interpolateTables read them: the
    // parquet-backed series' Catalyst stats vs the planner threshold
    val sv = sources.Ingest.series(spark, s"$outDir/tables")
    val bytes = sv.queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = org.apache.spark.sql.GraftSqlShim.autoBroadcastJoinThreshold(spark)
    val gate = math.min(operators.Interp.BroadcastSeriesMaxBytes, thr)
    println(f"pipeline: $n COGs (g=$g) in $wall%.1f s; series parquet stats=$bytes B vs gate=min(100MB ceiling, $thr planner)=$gate B -> ${if (bytes > gate) "corner-explode (scale) path" else "3-join (small) path"}")
    // the listener bus is async — wait for the interpolation QE to land
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def interpQe: Option[QueryExecution] = {
      import scala.jdk.CollectionConverters._
      captured.asScala.find { qe =>
        val nds = PlanWalk.flatten(qe.executedPlan)
        nds.exists(_.isInstanceOf[GenerateExec]) &&
          nds.exists(_.toString.contains("corner"))
      }
    }
    var qe = interpQe
    while (qe.isEmpty && System.nanoTime() < deadline) { Thread.sleep(200); qe = interpQe }
    qe match {
      case None => println("pipeline: WARNING — interpolation QueryExecution not captured")
      case Some(q) =>
        val nds = PlanWalk.flatten(q.executedPlan)
        def onNodeId(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
          keys.exists(_.references.exists(_.name == "node_id"))
        val shuffledSeries = nds.collect {
          case j: SortMergeJoinExec if onNodeId(j.leftKeys)    => "SortMergeJoin(node_id)"
          case j: ShuffledHashJoinExec if onNodeId(j.leftKeys) => "ShuffledHashJoin(node_id)"
        }
        val broadcastSeries = nds.collect {
          case j: BroadcastHashJoinExec if onNodeId(j.leftKeys) => j
        }
        val generates = nds.count(_.isInstanceOf[GenerateExec])
        val verdict =
          if (shuffledSeries.nonEmpty && broadcastSeries.isEmpty)
            " -> CORNER-EXPLODE, SHUFFLED node_id JOIN, NO BROADCAST (as gated)"
          else if (broadcastSeries.nonEmpty)
            // AQE promoted from RUNTIME bytes — legitimate below its
            // threshold; at the 3e7-row production series it cannot fire
            " -> corner-explode with AQE-promoted broadcast (runtime bytes fit)"
          else " -> UNEXPECTED SHAPE"
        println(s"pipeline observed join shape: corner-explode generates=$generates, " +
          s"series join=${shuffledSeries.mkString(",")}, broadcast-on-node_id=${broadcastSeries.size}" + verdict)
    }
  }

  /** Streaming-pipeline probe at production magnitude (r9 verdict #4):
    * [[graft.streaming.Streams.interpStreamCogs]] — the spec-scale-only
    * leg until now — driven at the 3e5-node ASGS forecast shape: a
    * backlog of `cycles` forecast-cycle series files (one file per
    * cycle, `tsPer` timesteps × k² nodes each) lands in the watched dir,
    * ONE stream run processes them as one micro-batch per cycle
    * (maxFilesPerBatch=1), and every cycle's COGs commit under their
    * batchId subdir. Measured and printed:
    *  - per-cycle trigger wall (StreamingQueryListener progress) — the
    *    SCALE.md per-cycle number;
    *  - the cell-map containment join is paid ONCE, not per cycle: the
    *    one-time pin wall is printed, and the captured per-batch
    *    interpolation QueryExecution is checked to read the static side
    *    from the pinned RDD scan with NO (tbx,tby) containment join
    *    anywhere in it — the no-re-scan-per-batch claim observed on the
    *    plan that ran, not assumed.
    * Usage: tools/run_verify.sh stream <k>,<g>,<cycles>,<tsPer> graft.ScaleProbe
    *   (550,2000,10,2 ≈ the 302,500-node forecast mesh onto 4M cells/ts) */
  private def streamProbe(spark: SparkSession, arg: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{GenerateExec, RDDScanExec}
    val Array(k, g, cycles, tsPer) = arg.split(",").map(_.toInt)
    val root = "/tmp/graft_stream_probe"
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
    }
    rmTree(new java.io.File(root))
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    new java.io.File(landing).mkdirs()

    // the heavy static precompute, paid once for the whole stream
    val t0 = System.nanoTime()
    val cells = operators.Interp.cellMap(spark, k, g)
    val spec = operators.Interp.gridSpec(operators.Interp.nodes(spark, k), g)
    // stage the backlog: one file per forecast cycle, tsPer timesteps each
    (0 until cycles).foreach { c =>
      operators.Interp.series(spark, k, tsPer)
        .select((col("ts") + lit(c.toLong * tsPer)).as("ts"), col("node_id"), col("value"))
        .coalesce(1).write.mode("append").parquet(landing)
    }
    val stageSecs = (System.nanoTime() - t0) / 1e9

    // observe per-batch walls + the executed interpolation plans
    val walls = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          walls.put(e.progress.batchId,
            e.progress.durationMs.getOrDefault("triggerExecution", 0L) / 1e3)
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = captured.add(qe)
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    val t1 = System.nanoTime()
    val q = streaming.Streams.interpStreamCogs(landing, cells, spec, out, ckpt,
      maxFilesPerBatch = Some(1))
    q.awaitTermination()
    val streamSecs = (System.nanoTime() - t1) / 1e9

    val batches = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_")).sortBy(_.getName)
    val cogCounts = batches.map(_.listFiles().count(_.getName.endsWith(".tiff")))
    println(f"stream k=$k g=$g: ${k.toLong * k}%,d nodes x ${g.toLong * g}%,d cells/ts; " +
      f"$cycles cycles x $tsPer ts staged+cellmap in $stageSecs%.1f s; " +
      f"stream drained backlog in $streamSecs%.1f s (${streamSecs / cycles}%.1f s/cycle)")
    import scala.jdk.CollectionConverters._
    walls.asScala.toSeq.sortBy(_._1).foreach { case (b, w) =>
      println(f"stream batch_$b: trigger wall $w%.1f s, ${cogCounts.lift(b.toInt).getOrElse(0)} COGs")
    }
    // plan verdict: interpolation batches must read the PINNED cell map
    // (RDD scan) and contain NO (tbx,tby) containment join
    val interpQes = captured.asScala.filter { qe =>
      PlanWalk.flatten(qe.executedPlan).exists(_.isInstanceOf[GenerateExec]) &&
        qe.executedPlan.toString.contains("corner")
    }.toSeq
    val pinned = interpQes.count(qe =>
      PlanWalk.flatten(qe.executedPlan).exists(_.isInstanceOf[RDDScanExec]))
    val rescans = interpQes.count(qe => qe.executedPlan.toString.contains("tbx"))
    println(s"stream plan: ${interpQes.size} interpolation batches captured, " +
      s"$pinned read the pinned-RDD cell map, $rescans re-ran the containment join" +
      (if (rescans == 0 && pinned == interpQes.size && interpQes.nonEmpty)
         " -> STATIC SIDE PINNED ONCE (as designed)" else " -> UNEXPECTED"))
  }

  /** Incremental-dedup probe: hold the BATCH fixed (the base sf0.1
    * corpus) while the persisted band INDEX grows `mult`× — the nightly
    * job's trajectory as the corpus accumulates. The probe wall should
    * track the index SCAN (bands are ~50 B/doc parquet) plus O(batch)
    * join work, never O(index) shuffle — the claim SCALE.md makes for
    * `q_dedup_incremental`. Prints index build (one-time, amortized over
    * every future cycle) and probe wall separately.
    * Usage: tools/run_verify.sh incdedup <mult> graft.ScaleProbe */
  private def incdedupProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    val nBatch = base.count()
    // index corpus: replicas 1..mult with shifted ids + a shift token
    val corpus = (1 to mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
                  concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ union _)
    val t0 = System.nanoTime()
    operators.Dedup.minhashBands(graft.Fanout.byKey(corpus, col("doc_id")))
      .write.mode("overwrite").parquet("/tmp/graft_incdedup_index")
    val buildSecs = (System.nanoTime() - t0) / 1e9
    val idx = spark.read.parquet("/tmp/graft_incdedup_index")
    val idxBytes = new java.io.File("/tmp/graft_incdedup_index").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val t1 = System.nanoTime()
    val batchBands = operators.Dedup
      .minhashBands(graft.Fanout.byKey(base, col("doc_id")))
      .select(col("doc_id").as("new_id"), col("b"), col("bh"))
    val hits = idx.select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
      .join(broadcast(batchBands), Seq("b", "bh"))
      .groupBy("new_id")
      .agg(min(col("corpus_id")).as("dup_of"), countDistinct(col("b")).as("n_bands"))
      .count()
    val probeSecs = (System.nanoTime() - t1) / 1e9
    println(f"incdedup mult=$mult: index ${nBatch * mult}%,d docs ($idxBytes%,d B parquet, built $buildSecs%.1f s); batch $nBatch%,d docs -> $hits%,d dup'd in $probeSecs%.1f s probe")
  }

  /** Band-index compaction probe (r9 verdict #5): build a mult×-grown
    * index (the incdedup trajectory), time the nightly probe, then
    * RETIRE half the replicas via [[operators.Dedup.compactBandIndex]]
    * and time the probe again — the SCALE.md claim is that probe cost
    * tracks the LIVE index, so compaction returns the nightly job to
    * the cost it had before the dead replicas accumulated.
    * Usage: tools/run_verify.sh compact <mult> graft.ScaleProbe */
  private def compactProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    val corpus = (1 to mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
                  concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ union _)
    val indexDir = "/tmp/graft_compact_probe/idx"
    val rm = new java.io.File("/tmp/graft_compact_probe")
    if (rm.exists()) { def d(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(d)); f.delete() }; d(rm) }
    operators.Dedup.minhashBands(graft.Fanout.byKey(corpus, col("doc_id")))
      .write.parquet(s"$indexDir/batch_0")
    val batchBands = operators.Dedup
      .minhashBands(graft.Fanout.byKey(base, col("doc_id")))
    def dirBytes(p: String): Long = {
      def w(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(w).sum).getOrElse(0L) else f.length()
      w(new java.io.File(p))
    }
    def probe(): Double = {
      val idx = spark.read.option("recursiveFileLookup", "true").parquet(indexDir)
      val t0 = System.nanoTime()
      operators.Dedup.dedupIncremental(idx, batchBands).count()
      (System.nanoTime() - t0) / 1e9
    }
    probe() // warm-up
    val tFull = (1 to 3).map(_ => probe()).sorted.apply(1)
    val bytesFull = dirBytes(indexDir)
    // retain replicas 1..mult/2 — the rest retire
    val active = corpus.filter(col("doc_id") < (mult / 2 + 1).toLong * 1000000)
      .select("doc_id")
    val t0 = System.nanoTime()
    val (before, after) = operators.Dedup.compactBandIndex(spark, indexDir, active)
    val compactSecs = (System.nanoTime() - t0) / 1e9
    probe() // warm-up on the new files
    val tHalf = (1 to 3).map(_ => probe()).sorted.apply(1)
    println(f"compact mult=$mult: index $before%,d rows ($bytesFull%,d B) probe $tFull%.2f s -> " +
      f"compacted $after%,d rows (${dirBytes(indexDir)}%,d B, $compactSecs%.1f s one-time) probe $tHalf%.2f s")
  }

  /** K-means ANN probe at REAL codebook size (VERDICT r8 #7): replicate
    * the sf0.1 embeddings `mult`× with a deterministic per-replica
    * element perturbation (so replicas aren't bit-identical vectors),
    * then run [[operators.Similarity.kmeansIvfFrame]] at k centroids for
    * `iters` rounds. Prints the analytic codebook broadcast size
    * (k × dim × 8 B — the payload the per-round broadcast actually
    * carries) and per-round wall via the onRound hook — the SCALE.md
    * evidence that the broadcast-codebook shape survives k ≫ 8.
    * Usage: tools/run_verify.sh kmeans <mult>,<k>,<iters> graft.ScaleProbe */
  private def kmeansProbe(spark: SparkSession, arg: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorMath.vecDot
    val Array(mult, k, iters) = arg.split(",").map(_.toInt)
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = (0 until mult).map { r =>
      base.select((col("vec_id") + lit(r.toLong * 1000000)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === lit(r % 64), lit(0.01 * (r % 17 + 1))).otherwise(lit(0.0)))
          .as("v"))
    }.reduce(_ union _)
    big.write.mode("overwrite").parquet("/tmp/graft_kmeans_probe")
    val e = spark.read.parquet("/tmp/graft_kmeans_probe")
      .transform(graft.Fanout.byKey(_, col("vec_id")))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    val nVecs = e.count()
    val dim = e.select(size(col("v"))).head().getInt(0)
    println(f"kmeans k=$k dim=$dim: codebook broadcast = ${k.toLong * dim * 8}%,d B analytic (${k.toLong * dim * 8 / 1024.0 / 1024.0}%.2f MiB)")
    val t0 = System.nanoTime()
    val (assigned, meanCos) = operators.Similarity.kmeansIvfFrame(e, iters, k,
      (r, secs) => println(f"kmeans round $r: $secs%.1f s"))
    val nonEmpty = assigned.select(countDistinct(col("cid"))).head().getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"kmeans mult=$mult k=$k iters=$iters: $nVecs%,d vecs, $nonEmpty%,d non-empty cells in $secs%.1f s; meanCos=${meanCos.map(c => f"$c%.4f").mkString(",")}")
  }

  /** ANN recall probe (r9 verdict #3): measured recall@10 for the three
    * approximate indexes against exact ground truth, at the replicated
    * 50 k-vector shape (mult=25 × the 2 k sf0.1 embeddings, perturbed
    * per replica so replicas are near- but not bit-identical — the
    * near-dup-heavy distribution a dedup/retrieval corpus actually has).
    *
    *  - IVF (full-width): kCells-cell codebook (default 64; 2048 at the
    *    1M shape — ~sqrt(n) cells) = one k-means round over
    *    deterministic hash-spread seeds; queries probe their top-nprobe cells
    *    (nprobe ∈ 1,2,4,8 — the recall-vs-cells curve), candidates
    *    rank by exact cosine inside the probed cells.
    *  - IVF-proj: identical, but cell ASSIGNMENT runs in the 8-d
    *    md5-ternary projection (the qAnnIvfProj recipe) — measures what
    *    the cheap coarse space costs in recall.
    *  - PQ/ADC: 8 subspaces × cb sub-centroids (cb ∈ 4, 16 → 16/32-bit
    *    codes — the recall-vs-code-bits curve) against exact-L2 truth.
    *
    *  - PQ-rerank: the ADC top-100 pool re-scored with exact cosine
    *    against the full vectors (the [[operators.Similarity
    *    .pqRerankTopk]] / FAISS-refine shape) — measures whether the
    *    pool's neighbor containment survives corpus growth even when
    *    strict code-resolution recall does not.
    *
    * Ground truth = brute-force exact top-10 (cosine for the IVF pair
    * and the rerank leg, L2 for raw PQ) over the same candidates.
    * Recall@10 = mean |∩|/10 over 20 queries. SCALE.md records the
    * lines; AnnRecallSpec pins floors at the declared fixture shape.
    *
    * Scale shape (r11 verdict #7, the 1M-vector point): every
    * full-corpus cell/code assignment is a broadcast-crossJoin into a
    * map-side-combine `max_by`/`min_by` aggregation — the nVecs×kCells
    * candidate stream never shuffles (at 1M×2048 the windowed form
    * would shuffle 2B rows carrying the 64-d vector; the agg form
    * shuffles exactly one (vec_id, cid) row per vector per partition).
    * Seeds/codebooks are hash-spread over the WHOLE corpus
    * (xxhash64(vec_id) mod step), not replica 0 — above 2000 cells a
    * base-replica-only rule runs out of distinct donors.
    * Usage: tools/run_verify.sh recall <mult>[,<kCells>] graft.ScaleProbe */
  /** PageRank probe at webgraph magnitude: N million nodes, ~2.5N million
    * edges, synthetic multiplicative-hash topology (out-degree 1 + id%4,
    * dst = (id·2654435761 + k·40503) mod N — deterministic, no RNG
    * state). The claim under test for SCALE.md: per-round wall is FLAT —
    * each round is the same one edges⋈ranks join + dst-sum shuffle +
    * 1-row dangling broadcast regardless of round number (fences keep
    * plan depth O(1)), so total cost is rounds × one-scan, the property
    * that lets 50-round production runs be priced linearly.
    * Usage: tools/run_verify.sh graph <millions> graft.ScaleProbe */
  private def graphProbe(spark: SparkSession, millions: Int): Unit = {
    import org.apache.spark.sql.functions._
    val n = millions * 1000000L
    val edges = spark.range(0, n).toDF("src")
      .select(col("src"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("src"), lit(4L)))).as("k"))
      .select(col("src"),
        pmod(col("src") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val nEdges = edges.count()
    val t0 = System.nanoTime()
    val out = operators.Graph.pageRank(edges, iters = 5,
      onRound = (i, secs) => println(f"graph round=$i wall=$secs%.2f s"))
    val rows = out.count()
    val total = (System.nanoTime() - t0) / 1e9
    val mass = out.agg(sum("rank")).head().getLong(0)
    println(f"graph pagerank: $n%,d nodes, $nEdges%,d edges, 5 rounds -> " +
      f"$rows%,d ranks in $total%.1f s, mass=${mass / 1e12}%.6f")
  }

  /** The round-12 graph family (HITS / k-core / LPA) at webgraph
    * magnitude — same synthetic topology as [[graphProbe]]. Claims under
    * test for SCALE.md: (a) HITS and LPA round walls are FLAT (each
    * round = one static-edges join + one agg shuffle, the pageRank
    * property); (b) k-core round walls SHRINK as the alive set peels
    * (each round semi-joins against a strictly smaller relation) and
    * the cascade DEPTH on this topology stays bounded; (c) the
    * deep-loop Fence.cut in kcore holds walls flat in round number
    * (the FenceGateSpec lineage rule, measured not assumed).
    * Usage: tools/run_verify.sh graphops <millions> graft.ScaleProbe */
  private def graphopsProbe(spark: SparkSession, millions: Int): Unit = {
    import org.apache.spark.sql.functions._
    val n = millions * 1000000L
    val edges = spark.range(0, n).toDF("src")
      .select(col("src"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("src"), lit(4L)))).as("k"))
      .select(col("src"),
        pmod(col("src") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val t0 = System.nanoTime()
    val h = operators.Graph.hits(edges, iters = 3,
      onRound = (i, secs) => println(f"graphops hits round=$i wall=$secs%.1f s"))
    val hn = h.count()
    println(f"graphops hits: $n%,d nodes -> $hn%,d scored in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // k=6 sits above this topology's ~5 mean undirected degree, so the
    // peel actually CASCADES (k=4 converges in one round with nothing
    // removed — measured; a cascade is the case the probe exists for)
    val t1 = System.nanoTime()
    val kc = operators.Graph.kcore(edges, k = 6,
      onRound = (r, alive, secs) =>
        println(f"graphops kcore round=$r alive=$alive%,d wall=$secs%.1f s"))
    val inCore = kc.agg(sum("in_core")).head().getLong(0)
    println(f"graphops kcore: $n%,d nodes -> $inCore%,d in 6-core in ${(System.nanoTime() - t1) / 1e9}%.1f s")
    val t2 = System.nanoTime()
    val lp = operators.Graph.labelPropagation(edges, iters = 4,
      onRound = (i, secs) => println(f"graphops lpa round=$i wall=$secs%.1f s"))
    val nComm = lp.select(countDistinct("community")).head().getLong(0)
    println(f"graphops lpa: $n%,d nodes -> $nComm%,d communities in ${(System.nanoTime() - t2) / 1e9}%.1f s")
  }

  /** Macro-structure ops at webgraph magnitude — SCC and seed-distance
    * SSSP on the [[graphProbe]] topology (mean out-degree 2.5,
    * supercritical: theory predicts one giant SCC plus a thin DAG
    * periphery — the Broder bowtie shape). Claims under test: trim
    * resolves the periphery in few rounds; the coloring fixpoint is
    * bounded by the giant SCC's diameter with flat per-round walls; the
    * SSSP rounds are flat and frontier-bounded. Usage:
    * tools/run_verify.sh graphmacro <millions> graft.ScaleProbe */
  private def graphmacroProbe(spark: SparkSession, millions: Int,
                              leg: String = "all"): Unit = {
    import org.apache.spark.sql.functions._
    val n = millions * 1000000L
    // the graphProbe topology MINUS one quarter of the emitters: nodes
    // ≡ 0 mod 4 emit nothing, so the graph has a REAL periphery — pure
    // sinks, plus the cascade of nodes whose only out-edges pointed at
    // them — which is what the trim phase exists for (the all-emitter
    // topology is one giant SCC with nothing to trim: measured at 2M,
    // trim removed zero nodes in one 39 s round)
    val edges = spark.range(0, n).toDF("src")
      .filter(pmod(col("src"), lit(4L)) =!= 0L)
      .select(col("src"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("src"), lit(4L)))).as("k"))
      .select(col("src"),
        pmod(col("src") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    if (leg == "all" || leg == "scc") {
      val t0 = System.nanoTime()
      val labels = operators.Graph.scc(edges,
        onRound = (phase, metric, secs) =>
          println(f"graphmacro scc $phase metric=$metric%,d wall=$secs%.1f s"))
      val top = labels.groupBy("scc_size").agg(count(lit(1)).as("nodes"))
        .orderBy(col("scc_size").desc).limit(5).collect()
      println(f"graphmacro scc: $n%,d nodes in ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
        top.map(r => s"size=${r.getLong(0)}x${r.getLong(1) / math.max(1L, r.getLong(0))}").mkString(" "))
    }
    if (leg != "all" && leg != "bc") () else {
      val t2 = System.nanoTime()
      // 100 sampled sources (Brandes-Pich), depth 4: pair state is
      // |sample| x ball(4) — the sampling dial at work
      val srcs = spark.range(1, n, n / 100).toDF("node")
      val bc = operators.Graph.betweenness(edges, srcs, depth = 4)
      val nz = bc.filter(col("bc_fp") > 0).count()
      println(f"graphmacro bc: $n%,d nodes, 100 sources, depth 4 -> " +
        f"$nz%,d nonzero scores in ${(System.nanoTime() - t2) / 1e9}%.1f s")
    }
    if (leg == "bcfunnel") {
      // r13 verdict #9: the betweenness FUNNEL shape at probe scale —
      // the GraphSpec planted-overflow topology (8 sources -> 64 mids
      // -> neck a -> neck b -> ~n leaves, depth 4) blown up so the
      // layer-2 term sigma(a)*(scale+delta(b)) = 64*(1e11 + nLeaves*1e11)
      // ~ 6.4e19 provably wraps a BIGINT product while every stored
      // delta and the 8-source B(v) sums stay inside BIGINT (the dfp
      // column contract). The neck scores have a closed form, so the
      // probe asserts EXACTNESS at 10M against BigInt arithmetic, not
      // just a wall: B(b) = 8*nLeaves*scale, B(a) = 8*scale*(1+nLeaves).
      val scaleFp = 100000000000L // 1e11
      val nLeaves = n - 1000L
      require(BigInt(64) * (BigInt(scaleFp) * (1 + nLeaves)) > BigInt(Long.MaxValue),
        "bcfunnel plant must exceed the BIGINT product")
      val expB = BigInt(8) * BigInt(nLeaves) * BigInt(scaleFp)
      val expA = BigInt(8) * BigInt(scaleFp) * BigInt(1 + nLeaves)
      require(expA < BigInt(Long.MaxValue) && expB < BigInt(Long.MaxValue),
        "bcfunnel sums must still fit the dfp/bc BIGINT columns")
      val srcMid = spark.range(0, 512).select(
        (col("id") / 64).cast("long").as("src"),
        (pmod(col("id"), lit(64L)) + 10L).as("dst"))
      val midA = spark.range(10, 74).select(col("id").as("src"), lit(100L).as("dst"))
      val aB = spark.range(0, 1).select(lit(100L).as("src"), lit(101L).as("dst"))
      val bLeaves = spark.range(1000L, 1000L + nLeaves)
        .select(lit(101L).as("src"), col("id").as("dst"))
      val fEdges = srcMid.union(midA).union(aB).union(bLeaves)
      val seeds = spark.range(0, 8).toDF("node")
      val t2 = System.nanoTime()
      val bc = operators.Graph.betweenness(fEdges, seeds, depth = 4, scale = scaleFp)
      val necks = bc.filter(col("node").isin(100L, 101L))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wall = (System.nanoTime() - t2) / 1e9
      val okA = BigInt(necks(100L)) == expA
      val okB = BigInt(necks(101L)) == expB
      println(f"graphmacro bcfunnel: $n%,d nodes (${nLeaves}%,d leaves), 8 sources, " +
        f"depth 4, scale=$scaleFp -> B(a)=${necks(100L)}%,d (BigInt-exact=$okA), " +
        f"B(b)=${necks(101L)}%,d (BigInt-exact=$okB) in $wall%.1f s")
      require(okA && okB, "bcfunnel neck scores must match BigInt ground truth")
    }
    if (leg != "all" && leg != "linkpred") () else {
      val t3 = System.nanoTime()
      val lp = operators.Graph.linkPrediction(edges, cap = 64, k = 100)
      val top = lp.head()
      println(f"graphmacro linkpred: top ra_fp=${top.getLong(3)}%,d cn=${top.getLong(2)}%,d " +
        f"in ${(System.nanoTime() - t3) / 1e9}%.1f s")
    }
    if (leg != "all" && leg != "recsql") () else {
      val t4 = System.nanoTime()
      edges.createOrReplaceTempView("probe_edges")
      // the q_sql_recursive shape at webgraph scale: UnionLoopExec over
      // 10k seeds, 4 hops; UNION ALL path enumeration stays bounded by
      // seeds × branching^depth, reduced by the outer MIN
      val rec = spark.sql(
        s"""WITH RECURSIVE r(node, d) AS (
           |  SELECT src, 0 FROM (SELECT DISTINCT src FROM probe_edges
           |                      WHERE src % 1000 = 1)
           |  UNION ALL
           |  SELECT e.dst, r.d + 1 FROM r
           |  JOIN probe_edges e ON e.src = r.node WHERE r.d < 4
           |)
           |SELECT node, MIN(d) AS hops FROM r GROUP BY node""".stripMargin)
      val reached = rec.count()
      println(f"graphmacro recsql: $reached%,d nodes reached by UnionLoop " +
        f"(10k seeds, 4 hops) in ${(System.nanoTime() - t4) / 1e9}%.1f s")
    }
    if (leg != "all" && leg != "mod") () else {
      val t5 = System.nanoTime()
      val labels = operators.Graph.labelPropagation(edges, iters = 4)
      val q = operators.Graph.modularity(edges, labels)
      val row = q.agg(count(lit(1)).as("n_comm"),
        sum(col("q_contrib_fp")).as("q_total")).head()
      println(f"graphmacro mod: ${row.getLong(0)}%,d communities, " +
        f"Q = ${row.getLong(1) / 1e9}%.4f in ${(System.nanoTime() - t5) / 1e9}%.1f s")
    }
    if (leg != "all" && leg != "coreness") () else {
      val t6 = System.nanoTime()
      val cn = operators.Graph.coreness(edges, kMax = 8)
      val hist = cn.groupBy("coreness").agg(count(lit(1)).as("n"))
        .orderBy(col("coreness")).collect()
      println(f"graphmacro coreness: " +
        hist.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ") +
        f" in ${(System.nanoTime() - t6) / 1e9}%.1f s")
    }
    if (leg != "all" && leg != "sssp") return
    val t1 = System.nanoTime()
    // seeds offset to 1 mod 1000: multiples of 1000 are ≡ 0 mod 4 — this
    // topology's NON-emitters — and a seed set of pure sinks relaxes
    // nothing (measured: 2,000 reached of 2M, all at distance 0)
    val seeds = spark.range(1, n, 1000).toDF("node")
    val dist = operators.Graph.shortestPaths(
      edges.withColumn("w", lit(1L) + pmod(col("src") + col("dst"), lit(7L))),
      seeds, rounds = 8)
    val stats = dist.agg(count(lit(1)).as("reached"),
      avg(expr("enc DIV 1099511627776")).as("mean_dist")).head()
    println(f"graphmacro sssp: ${stats.getLong(0)}%,d reached (of $n%,d), " +
      f"mean dist ${stats.getDouble(1)}%.2f in ${(System.nanoTime() - t1) / 1e9}%.1f s")
  }

  /** Warm-start PageRank refresh at webgraph magnitude (r13): the
    * per-crawl production question — after an incremental edge delta,
    * how many rounds does [[operators.Graph.pageRankRefresh]] need from
    * the previous crawl's ranks vs from uniform? Topology = the
    * graphProbe graph; the delta rewires every 100th emitter's link
    * targets (1% of emitters — a nightly-crawl-sized change).
    * Usage: tools/run_verify.sh prrefresh <millions> graft.ScaleProbe */
  private def prRefreshProbe(spark: SparkSession, millions: Int): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = millions * 1000000L
    def topo(shift: Long) = spark.range(0, n).toDF("src")
      .select(col("src"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("src"), lit(4L)))).as("k"))
      .select(col("src"),
        pmod(col("src") * lit(2654435761L) +
             col("k") * when(pmod(col("src"), lit(100L)) === 0L,
                             lit(40503L + shift)).otherwise(lit(40503L)),
             lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    // HUB-SKEWED variant: a quarter of all links point into a 1000-node
    // hub set — the power-law-ish rank concentration real webgraphs
    // have. The null (hash-random) topology is the NEGATIVE CONTROL:
    // its fixpoint is near-uniform, so the uniform cold start is
    // already close and warm-starting buys nothing there.
    def topoHub(shift: Long) = topo(shift)
      .select(col("src"),
        when(pmod(col("dst"), lit(4L)) === 0L, pmod(col("dst"), lit(1000L)))
          .otherwise(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val uniform = Seq.empty[(Long, Long)].toDF("node", "rank")
    val tol = 2000L
    Seq(("null", topo _), ("hub", topoHub _)).foreach { case (tag, t) =>
      val t0 = System.nanoTime()
      val (cold, rc) = operators.Graph.pageRankRefresh(t(0), uniform, tolPpm = tol)
      println(f"prrefresh[$tag] cold:  $rc%2d rounds in ${(System.nanoTime() - t0) / 1e9}%.1f s ($n%,d nodes, tol ${tol}ppm)")
      val t1 = System.nanoTime()
      val (_, rw) = operators.Graph.pageRankRefresh(t(7), cold, tolPpm = tol)
      println(f"prrefresh[$tag] warm:  $rw%2d rounds in ${(System.nanoTime() - t1) / 1e9}%.1f s (1%% emitter rewire, init = previous ranks)")
      val t2 = System.nanoTime()
      val (_, rc2) = operators.Graph.pageRankRefresh(t(7), uniform, tolPpm = tol)
      println(f"prrefresh[$tag] cold2: $rc2%2d rounds in ${(System.nanoTime() - t2) / 1e9}%.1f s (same delta, uniform init)")
    }
  }

  /** HyperBall harmonic centrality at webgraph magnitude — the same
    * synthetic topology as [[graphProbe]] (mean out-degree 2.5, so
    * depth-6 in-balls run ~Σ2.5^d ≈ 500 vertices; the EXACT pair form
    * would already materialize ~5×10⁹ pairs here and goes fully
    * quadratic as depth approaches the ~17-hop diameter). The claims
    * under test: per-round wall is governed by the constant 256-byte
    * per-vertex state — flat across rounds regardless of how the balls
    * grow — and the depth-6 reach estimates land in the branching-
    * process envelope (sanity of the estimator at scale).
    * Usage: tools/run_verify.sh hyperball <millions> graft.ScaleProbe */
  private def hyperballProbe(spark: SparkSession, millions: Int,
                             diamOnly: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val n = millions * 1000000L
    val edges = spark.range(0, n).toDF("src")
      .select(col("src"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("src"), lit(4L)))).as("k"))
      .select(col("src"),
        pmod(col("src") * lit(2654435761L) + col("k") * lit(40503L), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    if (!diamOnly) {
      val t0 = System.nanoTime()
      val out = operators.Graph.harmonicHyperBall(edges, depth = 6,
        onRound = (d, secs) => println(f"hyperball round=$d wall=$secs%.1f s"))
      val agg = out.agg(count(lit(1)), avg("reached_est"), max("reached_est")).head()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"hyperball: $n%,d nodes, depth 6 -> ${agg.getLong(0)}%,d scored in " +
        f"$total%.1f s; reached_est avg=${agg.getDouble(1)}%,.0f max=${agg.getDouble(2)}%,.0f")
    }
    // distance distribution / effective diameter off the same counters
    // (r12 verdict #4): the readout published web releases carry, at a
    // scale where the exact pair form is infeasible
    val t1 = System.nanoTime()
    val dd = operators.Graph.diameterHyperBall(edges, depth = 6,
      onRound = (d, secs) => println(f"hyperball-diam round=$d wall=$secs%.1f s"))
      .collect()
    println(f"hyperball-diam: ${(System.nanoTime() - t1) / 1e9}%.1f s; " +
      dd.map(r => f"d=${r.getLong(0)} pairs=${r.getDouble(1)}%.3e " +
        f"cum=${r.getDouble(2)}%.3e r90=${r.getLong(3)}").mkString(" | "))
  }

  /** Graph-search recall at the replica shape (r13 verdict #3): build
    * the NN-descent graph over mult·2k vectors, walk it per query
    * (LSH-bucket + hub entry, undirected beam expansion), and measure
    * recall@10 vs exact cosine truth across (beam, rounds) dials —
    * the equal-budget comparison against the `recall <mult>,64,s`
    * IVF-PQ pool sweep at the same corpus (SCALE.md). Budget readout:
    * exact-scored candidates per query (pool size), printed per dial. */
  private def graphSearchProbe(spark: SparkSession, mult: Int,
                               sigBits: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorMath.vecDot
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(mult - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === pmod(col("r"), lit(64)),
                 lit(0.01) * (pmod(col("r"), lit(17)) + 1).cast("double"))
              .otherwise(lit(0.0)))
          .as("v"))
    big.write.mode("overwrite").parquet("/tmp/graft_gs_probe")
    val e = spark.read.parquet("/tmp/graft_gs_probe")
      .transform(graft.Fanout.byKey(_, col("vec_id")))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .transform(graft.Fence.cut)
    val nVecs = e.count()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .transform(graft.Fence.cut)
    val nQ = q.count()
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = e.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 10)
      .select("qid", "cand")
      .transform(graft.Fence.cut)
    val tB = System.nanoTime()
    val g = operators.Similarity.knnGraphEdges(e, kRand = 4, kBuild = 8,
        rounds = 2, sigBits = sigBits)
      .transform(graft.Fence.cut)
    val gN = g.count()
    println(f"graphsearch build: $nVecs%,d vectors, $gN%,d edges, " +
      f"${(System.nanoTime() - tB) / 1e9}%.1f s (kBuild=8, 2 descent rounds, sigBits=$sigBits)")
    Seq((8, 0), (8, 4), (16, 4), (8, 8)).foreach { case (beam, rounds) =>
      val t0 = System.nanoTime()
      val res = operators.Similarity.graphSearch(
          e, g, q, k = 10, beam = beam, rounds = rounds,
          nEntries = 4, corpusMin = 20L, sigBits = sigBits)
        .select("qid", "cid").transform(graft.Fence.cut)
      val hit = gt.join(res.withColumnRenamed("cid", "cand"),
        Seq("qid", "cand"), "left_semi").count()
      val rec = hit.toDouble / (nQ * 10L)
      println(f"graphsearch beam=$beam%-2d rounds=$rounds%-2d " +
        f"recall@10=$rec%.3f wall=${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(exact budget ~ n/2^$sigBits bucket + rounds*beam*16 walk)")
      graft.Fence.releaseCut(res)
    }
    graft.Fence.releaseCut(g)
  }

  /** sf10 ENGINE-SIDE dedup gate (r14 verdict #4): the dedup oracles are
    * deliberately quadratic in DuckDB, so past sf1 the gate moves to
    * invariants the ENGINE can check against closed forms of the
    * GenScale construction (the GraphSpec planted-overflow pattern):
    *  1. exact-dup GROUP-SIZE multiset: the sf0.1 → sf1 → sf10 chain
    *     has an exact closed form — for each distinct base text with
    *     multiplicity m, sf10 carries text t once-per-(r1,r2) as
    *     t[+" g<r1>"][+" g<r2>"], and the SINGLE-suffix texts collide
    *     across the two generation steps ((r1=X, r2=0) ≡ (r1=0, r2=X)),
    *     so the sf10 groups are: 82 groups of size m (m ≥ 2: the plain
    *     and double-suffix copies) and 9 groups of size 2m PER distinct
    *     base text — including 9 NEW size-2 groups per previously-unique
    *     text. Gates the hash-groupBy dedup at 500k docs with zero
    *     DuckDB reference, and gates the GENERATOR's determinism too;
    *  2. band CARDINALITY identity: minhashBands emits exactly 4 rows
    *     per document with ≥ 1 3-shingle (n_chars ≥ 3) — a closed form
    *     over n_chars;
    *  3. planted near-dup RECALL: family = ids congruent mod |base|
    *     (suffix-only perturbations of one base text); for long-text
    *     families (≥ 200 chars: shingle Jaccard ≥ ~0.95) the banded
    *     candidate join must recover ≥ 90% of (base, member) pairs.
    * Every join here is banded or family-restricted — zero all-pairs. */
  /** sf10-CLASS ENGINE-SIDE webgraph gate (r15 verdict #5): the 23-query
    * graph family one decade past the 884-host fixture, gated by CLOSED
    * FORMS of a deliberate construction (the dedup10 pattern — no oracle
    * at this scale, the generator's algebra is the truth).
    *
    * Generator: `nCommunities` disjoint communities of exactly S=50
    * nodes; community c is a directed ring (i -> i+1 mod S) plus one
    * stride chord per node (i -> i + stride_c mod S,
    * stride_c = 2 + c % 47 ∈ [2, 48]). Every node therefore has
    * out-degree EXACTLY 2 and in-degree EXACTLY 2 (stride never 0, 1,
    * or 49), there are no dangling nodes, and the graph is
    * vertex-transitive within a community — which pins three families
    * of invariants:
    *  - components: exactly nCommunities weak components, every size 50,
    *    every min-label c·50 (the label-propagation fixed point must
    *    recover the construction exactly);
    *  - degree: out-multiset {2: N} and in-multiset {2: N};
    *  - PageRank: the UNIFORM vector is the exact integer fixed point
    *    (p = tp + 85%·p with in-mass = 2·(p DIV 2) = p for even p, and
    *    pshare = 10¹² DIV N is even at these dials) — so after any
    *    number of rounds every node carries EXACTLY pshare and the L1
    *    mass is conserved to the digit: Σ rank = N · pshare. A single
    *    DIV-truncation slip anywhere in the loop breaks equality.
    *  - triangles: only strides 2 and 48 (≡ −2) make undirected
    *    triangles, S per such community; every other stride makes none
    *    (difference algebra mod 50) — Σ n_tri = 3 · S · |{c: stride_c ∈
    *    {2, 48}}|.
    * At mult=50 the relation is 5M nodes / 10M directed edges. All four
    * legs run the PRODUCTION operators (connectedComponents label
    * fixed point, pageRank decimal-staged loop, triangles oriented
    * wedges) — zero all-pairs shapes; walls printed per leg. */
  private def graph10Probe(spark: SparkSession, nCommunities: Int): Unit = {
    import org.apache.spark.sql.functions._
    val S = 50L
    val n = nCommunities * S
    val nodes = spark.range(n).toDF("id")
      .withColumn("c", expr(s"id DIV $S")) // integer division, not SQL '/'
      .withColumn("pos", pmod(col("id"), lit(S)))
      .withColumn("stride", lit(2L) + pmod(col("c"), lit(47L)))
    val edges = graft.Fence.cut(graft.Fanout.byKey(
      nodes.select(col("id").as("src"),
          (col("c") * S + pmod(col("pos") + 1, lit(S))).as("dst"))
        .unionByName(nodes.select(col("id").as("src"),
          (col("c") * S + pmod(col("pos") + col("stride"), lit(S))).as("dst"))),
      col("src")))
    val nE = edges.count()
    println(f"graph10: $n%,d nodes, $nE%,d directed edges " +
      f"($nCommunities%,d communities x $S)")
    assert(nE == 2 * n, s"edge closed form: $nE != ${2 * n}")
    // degree multisets
    val t0 = System.nanoTime()
    val outD = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .groupBy("d").agg(count(lit(1)).as("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val inD = edges.groupBy("dst").agg(count(lit(1)).as("d"))
      .groupBy("d").agg(count(lit(1)).as("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    println(f"graph10 degrees: out=$outD in=$inD in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(outD == Map(2L -> n) && inD == Map(2L -> n),
      s"degree multisets must be {2: $n}: out=$outD in=$inD")
    // components: label fixed point recovers the construction
    val t1 = System.nanoTime()
    val cc = graft.Fence.cut(operators.Graph.connectedComponents(edges))
    val comp = cc.groupBy("lbl").agg(count(lit(1)).as("sz"))
    val nComp = comp.count()
    val badSize = comp.filter(col("sz") =!= S).count()
    val badLabel = comp.filter(pmod(col("lbl"), lit(S)) =!= 0).count()
    println(f"graph10 components: $nComp%,d comps in ${(System.nanoTime() - t1) / 1e9}%.1f s " +
      f"(wrong-size $badSize, wrong-label $badLabel)")
    assert(nComp == nCommunities && badSize == 0 && badLabel == 0,
      "component structure must equal the construction")
    graft.Fence.releaseCut(cc)
    // PageRank: uniform integer fixed point, L1 mass exact
    val t2 = System.nanoTime()
    val pshare = 1000000000000L / n
    assert(pshare % 2 == 0, "dial check: pshare must be even for the exactness argument")
    val pr = operators.Graph.pageRank(edges, iters = 10)
    val distinctRanks = pr.select("rank").distinct().collect().map(_.getLong(0)).toSeq
    val mass = pr.agg(sum(col("rank"))).head().getLong(0)
    println(f"graph10 pagerank: ranks=$distinctRanks mass=$mass%,d " +
      f"(expect uniform $pshare%,d x $n%,d) in ${(System.nanoTime() - t2) / 1e9}%.1f s")
    assert(distinctRanks == Seq(pshare), s"uniform fixed point: $distinctRanks != $pshare")
    assert(mass == n * pshare, s"L1 mass: $mass != ${n * pshare}")
    graft.Fence.releaseCut(pr)
    // triangles: strides 2 and 48 only, S per community
    val t3 = System.nanoTime()
    val triComms = (0 until nCommunities).count(c => {
      val st = 2 + c % 47; st == 2 || st == 48 })
    val triSum = operators.Graph.triangles(edges)
      .agg(sum(col("n_tri"))).head().getLong(0)
    println(f"graph10 triangles: sum n_tri=$triSum%,d " +
      f"(closed form ${3 * S * triComms}%,d from $triComms%,d stride-2/48 comms) " +
      f"in ${(System.nanoTime() - t3) / 1e9}%.1f s")
    assert(triSum == 3 * S * triComms, s"triangle closed form: $triSum != ${3 * S * triComms}")
    graft.Fence.releaseCut(edges)
    println("graph10: ALL GREEN")
  }

  private def dedup10Probe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val docs = graft.Fence.cut(
      Tables.documents(spark, dir).select("doc_id", "text", "n_chars"))
    val n = docs.count()
    val base = graft.Fence.cut(
      Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text", "n_chars"))
    val nBase = base.count()
    val factor = n / nBase
    println(f"dedup10: $n%,d docs = $factor x $nBase%,d base")
    def sizeDist(d: org.apache.spark.sql.DataFrame, minK: Long): Map[Long, Long] =
      d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("k"))
        .filter(col("k") >= minK).groupBy("k").agg(count(lit(1)).as("groups"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val t0 = System.nanoTime()
    val gBig = sizeDist(docs, 2L)
    val wExact = (System.nanoTime() - t0) / 1e9
    val dBase = sizeDist(base, 1L) // D(m): distinct base texts at multiplicity m
    val exp = scala.collection.mutable.Map.empty[Long, Long]
    dBase.foreach { case (m, dm) =>
      if (m >= 2) exp(m) = exp.getOrElse(m, 0L) + 82L * dm
      exp(2 * m) = exp.getOrElse(2 * m, 0L) + 9L * dm
    }
    val expected = exp.toMap.filter(_._2 > 0)
    println(f"dedup10 exact groups: sf10=${gBig.values.sum}%,d groups in $wExact%.1f s; " +
      f"chain closed form=${expected.values.sum}%,d " +
      s"(sf10 dist=${gBig.toSeq.sortBy(_._1)}, expected=${expected.toSeq.sortBy(_._1)})")
    assert(gBig == expected,
      s"exact-dup group multiset must match the chain closed form: got $gBig expected $expected")
    val t1 = System.nanoTime()
    val bands = graft.Fence.cut(
      operators.Dedup.minhashBands(docs.select("doc_id", "text")))
    val nBands = bands.count()
    val wBands = (System.nanoTime() - t1) / 1e9
    val expBands = 4L * docs.filter(col("n_chars") >= 3).count()
    println(f"dedup10 bands: $nBands%,d rows in $wBands%.1f s; closed form $expBands%,d")
    assert(nBands == expBands, s"band cardinality: $nBands != $expBands")
    // planted recall over 200 long-text families (base + 99 variants)
    val famIds = base.filter(col("n_chars") >= 200).select("doc_id")
      .orderBy("doc_id").limit(200)
      .collect().map(_.getLong(0)).toSet
    val famCol = pmod(col("doc_id"), lit(nBase))
    val sample = docs.withColumn("fam", famCol)
      .filter(col("fam").isin(famIds.toSeq.map(java.lang.Long.valueOf): _*))
    val planted = sample.filter(col("doc_id") >= nBase) // every non-base member
      .select(col("fam"), col("doc_id").as("m"))
    val nPlanted = planted.count()
    val t2 = System.nanoTime()
    val sBands = bands.join(sample.select("doc_id", "fam"), "doc_id")
    val hits = sBands.as("a").join(sBands.as("b"),
        col("a.b") === col("b.b") && col("a.bh") === col("b.bh") &&
        col("a.fam") === col("b.fam") &&
        col("a.doc_id") === col("a.fam") && col("b.doc_id") =!= col("b.fam"))
      .select(col("a.fam").as("fam"), col("b.doc_id").as("m")).distinct()
      .join(planted, Seq("fam", "m"), "left_semi").count()
    val wRec = (System.nanoTime() - t2) / 1e9
    val recall = hits.toDouble / nPlanted
    println(f"dedup10 planted (base, member) recall via bands: " +
      f"$hits%,d / $nPlanted%,d = $recall%.3f in $wRec%.1f s (floor 0.90)")
    assert(recall >= 0.90, f"planted near-dup recall $recall%.3f under floor")
    graft.Fence.releaseCut(bands); graft.Fence.releaseCut(docs); graft.Fence.releaseCut(base)
  }

  /** sf10 ENGINE-SIDE ANN gate (r14 verdict #4): 64-d embeddings scale
    * to ~200k vectors in 100-member planted families (one coordinate
    * bumped per copy — cosine within a family ≈ 1). The exact
    * query-cohort brute force (20 × n, the bounded oracle leg) is the
    * ground truth; the graph family must hold a recall floor at a scale
    * decade past the sf1 oracle gate, with build/search walls recorded
    * and zero all-pairs plans (NN-descent is 2-hop-bounded; the walk is
    * beam-bounded; the index commit is one distinct + degree agg at
    * BUILD time only). */
  private def ann10Probe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorMath.vecDot
    val e = graft.Fence.cut(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .transform(graft.Fanout.byKey(_, col("vec_id")))
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(vecDot(col("v"), col("v")))))
    val nVecs = e.count()
    println(f"ann10: $nVecs%,d vectors")
    val q = graft.Fence.cut(e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
    val nQ = q.count()
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val t0 = System.nanoTime()
    val gt = graft.Fence.cut(
      e.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id").as("cand"),
          round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 10)
        .select("qid", "cand"))
    println(f"ann10 exact brute-force gt (bounded 20 x n): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    def recallOf(res: org.apache.spark.sql.DataFrame): Double =
      gt.join(res.select(col("qid"), col("cid").as("cand")),
        Seq("qid", "cand"), "left_semi").count().toDouble / (nQ * 10L)
    // index build: sigBits 15 keeps the seed buckets ~n/32k (the IVF
    // nlist analog at this scale)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ann10_idx").toString
    val t1 = System.nanoTime()
    operators.Similarity.buildGraphIndex(e, idxDir, kRand = 4, kBuild = 8,
      rounds = 2, sigBits = 15, nEntries = 4, corpusMin = 20L)
    println(f"ann10 graph index build+commit: ${(System.nanoTime() - t1) / 1e9}%.1f s " +
      "(NN-descent 2-hop bounded; distinct + degree agg at BUILD time)")
    val t2 = System.nanoTime()
    val res = operators.Similarity.graphSearchIndexed(e, idxDir, q,
      k = 10, beam = 8, rounds = 4, corpusMin = 20L, sigBits = 15)
    val rec = recallOf(res)
    println(f"ann10 indexed graph search: recall@10=$rec%.3f " +
      f"wall=${(System.nanoTime() - t2) / 1e9}%.1f s (floor 0.60; search-only path, " +
      "no 2|E| distinct, no degree agg)")
    assert(rec >= 0.60, f"ann10 graph-search recall $rec%.3f under floor")
    graft.Fence.releaseCut(res)
    graft.Fence.releaseCut(gt); graft.Fence.releaseCut(q); graft.Fence.releaseCut(e)
  }

  /** INSERT-BY-SEARCH navigability at the replica shape (r15, the r14
    * verdict's designed experiment): build the kNN graph INCREMENTALLY —
    * first drop batch-built, every later drop linked through
    * [[operators.Similarity.insertBySearch]] (the knnIngestStream step) —
    * then measure recall@10 from the GLOBAL hub entry alone, no
    * query-time LSH. The r14 negatives this tests against: a post-hoc
    * layered hierarchy measured 0.135 and the flat batch-built graph
    * measured 0.000 from hub-only entry (kNN cliques have no
    * inter-cluster gradient). HNSW's claim is that insert-by-search
    * CONSTRUCTION creates the long links greedy descent needs: the first
    * drop's graph spans the whole space (every semantic cluster is
    * present at low density), and later inserts attach locally without
    * severing those spans. Controls on the same final corpus: the
    * bucket-entry walk over the incremental graph (production path) and
    * the batch-built graph from hub entry (the 0.000 baseline). */
  private def knnIngestProbe(spark: SparkSession, mult: Int, batches: Int,
                             sigBits: Int = 8, maxLevels: Int = 0): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorMath.vecDot
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(mult - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === pmod(col("r"), lit(64)),
                 lit(0.01) * (pmod(col("r"), lit(17)) + 1).cast("double"))
              .otherwise(lit(0.0)))
          .as("v"))
    big.write.mode("overwrite").parquet("/tmp/graft_ki_probe")
    val eFull = spark.read.parquet("/tmp/graft_ki_probe")
      .transform(graft.Fanout.byKey(_, col("vec_id")))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .transform(graft.Fence.cut)
    val nVecs = eFull.count()
    val bucketsFull = graft.Fence.cut(eFull.select(col("vec_id").as("cid"),
      operators.Similarity.lshBucket(col("v"), sigBits).as("bucket")))
    val q = eFull.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .transform(graft.Fence.cut)
    val nQ = q.count()
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = eFull.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 10)
      .select("qid", "cand")
      .transform(graft.Fence.cut)
    def recallOf(res: org.apache.spark.sql.DataFrame): Double =
      gt.join(res.select(col("qid"), col("cid").as("cand")),
        Seq("qid", "cand"), "left_semi").count().toDouble / (nQ * 10L)
    // drops in id order: batch 0 carries the r=0 originals (every
    // semantic cluster at low density — the whole-space skeleton)
    val ids = eFull.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0)) // bounded: ids only, probe scale
    val cuts = (1 to batches).map(i => ids(math.min(ids.length - 1,
      i * ids.length / batches - 1))).distinct
    val t0 = System.nanoTime()
    val e0 = graft.Fence.cut(eFull.filter(col("vec_id") <= cuts.head))
    val g0 = operators.Similarity.knnGraphEdges(e0, kRand = 4, kBuild = 8, rounds = 2, sigBits = sigBits)
    var gu = graft.Fence.cut(g0.unionByName(
      g0.select(col("nb").as("vid"), col("vid").as("nb"))).distinct())
    graft.Fence.releaseCut(g0); graft.Fence.releaseCut(e0)
    val hubs = graft.Fence.cut(operators.Similarity.topHubs(gu, 4, Long.MinValue))
    println(f"knningest drop 0: ${cuts.head + 1} ids, ${gu.count()}%,d undirected edges, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s (batch NN-descent build)")
    // DELTA-style accumulation — the stream's actual layout: each
    // batch's new edges stay their own leaf (never rewritten; the first
    // sitting re-cut the WHOLE relation per batch and the rewrite, not
    // the insert, dominated growth); every 5th drop runs the stream's
    // compaction refresh — union-distinct + DEGREE-PRUNE (HNSW's M=32)
    // + hub recompute — so walk cost stays bounded by M, not by history
    var gen = gu
    var deltas = List.empty[org.apache.spark.sql.DataFrame]
    var hubsNow = hubs
    def guNow = deltas.foldLeft(gen)(_ unionByName _)
    // HNSW upper layers (maxLevels > 0): drop 0 seeds them post-hoc
    // (small corpus), every later drop maintains them insert-by-search —
    // the r15 verdict-#3 arc, measured below via the descent leg
    import spark.implicits._
    val emptyHi = Seq.empty[(Int, Long, Long)].toDF("lvl", "vid", "nb")
    var levGen = emptyHi
    var levDeltas = List.empty[org.apache.spark.sql.DataFrame]
    def levNow = levDeltas.foldLeft(levGen)(_ unionByName _)
    if (maxLevels > 1) {
      val tH = System.nanoTime()
      val parts0 = (1 until maxLevels).flatMap { l =>
        val members = graft.Fence.cut(
          eFull.filter(col("vec_id") <= cuts.head &&
            operators.Similarity.hnswLevel(col("vec_id"), maxLevels) >= l))
        val out = if (members.limit(2).count() == 2) {
          val gl = operators.Similarity.knnGraphEdges(members, 4, 8, 2, sigBits)
          Some(graft.Fence.cut(
            gl.unionByName(gl.select(col("nb").as("vid"), col("vid").as("nb")))
              .distinct().select(lit(l).as("lvl"), col("vid"), col("nb"))))
        } else None
        graft.Fence.releaseCut(members)
        out
      }
      levGen = parts0.reduceOption(_ unionByName _).map { u =>
        val fused = graft.Fence.cut(u); parts0.foreach(graft.Fence.releaseCut); fused
      }.getOrElse(emptyHi)
      println(f"knningest hier seed: ${levGen.count()}%,d upper edges across " +
        f"${maxLevels - 1} layers, ${(System.nanoTime() - tH) / 1e9}%.1f s")
    }
    var lo = cuts.head
    cuts.tail.zipWithIndex.foreach { case (hi, i) =>
      val tB = System.nanoTime()
      val b = graft.Fence.cut(
        eFull.filter(col("vec_id") > lo && col("vec_id") <= hi))
      val eSoFar = eFull.filter(col("vec_id") <= hi)
      val bucketsSoFar = bucketsFull.filter(col("cid") <= hi)
      val newEdges = operators.Similarity.insertBySearch(
        eSoFar, gu = guNow, bucketsSoFar, hubsNow, b, kLink = 8, beam = 8,
        rounds = 2, sigBits = sigBits)
      deltas = newEdges :: deltas
      if (maxLevels > 1) {
        val newHi = operators.Similarity.insertBySearchUpper(
          eSoFar, levNow, bucketsSoFar, b, kLink = 8, beam = 8, rounds = 2,
          sigBits = sigBits, maxLevels = maxLevels)
        levDeltas = newHi :: levDeltas
      }
      graft.Fence.releaseCut(b)
      println(f"knningest insert (${lo + 1}, $hi]: " +
        f"${(System.nanoTime() - tB) / 1e9}%.1f s (delta append)")
      if ((i + 1) % 5 == 0) {
        val tC = System.nanoTime()
        val compacted = graft.Fence.cut(operators.Similarity.pruneDegreeDiverse(
          guNow.distinct(), eFull.select("vec_id", "v"), maxDeg = 32))
        val newHubs = graft.Fence.cut(
          operators.Similarity.topHubs(compacted, 4, Long.MinValue))
        (gen :: deltas).foreach(graft.Fence.releaseCut)
        graft.Fence.releaseCut(hubsNow)
        gen = compacted; deltas = Nil; hubsNow = newHubs
        if (maxLevels > 1) {
          val hiParts = (1 until maxLevels).map { l =>
            operators.Similarity.pruneDegreeDiverse(
                levNow.filter(col("lvl") === l).select("vid", "nb"),
                eFull.select("vec_id", "v"), maxDeg = 32)
              .select(lit(l).as("lvl"), col("vid"), col("nb"))
          }
          val hiCompacted = graft.Fence.cut(
            hiParts.reduceOption(_ unionByName _).getOrElse(emptyHi))
          (levGen :: levDeltas).foreach(graft.Fence.releaseCut)
          levGen = hiCompacted; levDeltas = Nil
        }
        println(f"knningest compaction (drop ${i + 1}): " +
          f"${gen.count()}%,d pruned edges (M=32), " +
          f"${(System.nanoTime() - tC) / 1e9}%.1f s")
      }
      lo = hi
    }
    val guFinal = graft.Fence.cut(guNow.distinct())
    (gen :: deltas).foreach(graft.Fence.releaseCut)
    val gu2 = guFinal
    val levFinal = if (maxLevels > 1) {
      val f = graft.Fence.cut(levNow.distinct())
      (levGen :: levDeltas).foreach(graft.Fence.releaseCut)
      f
    } else emptyHi
    println(f"knningest incremental build total: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"($nVecs%,d vectors, $batches drops, ${gu2.count()}%,d final edges" +
      (if (maxLevels > 1) f", ${levFinal.count()}%,d upper edges" else "") + ")")
    // measurement 1: GLOBAL hub entry, no query-time LSH — navigability
    val hubEntry = q.select("qid").crossJoin(broadcast(hubsNow))
    Seq(8, 16).foreach { rounds =>
      val t1 = System.nanoTime()
      val res = operators.Similarity.graphSearchWalk(
        eFull, gu2, q, k = 10, beam = 8, rounds = rounds,
        corpusMin = 20L, entrySet = hubEntry)
      println(f"knningest GLOBAL-entry walk rounds=$rounds%-2d " +
        f"recall@10=${recallOf(res)}%.3f wall=${(System.nanoTime() - t1) / 1e9}%.1f s " +
        "(r14 negatives: post-hoc hier 0.135, batch-built hub-only 0.000)")
      graft.Fence.releaseCut(res)
    }
    // measurement 1b (maxLevels > 0): HNSW DESCENT from the top layer —
    // the r15 verdict-#3 leg: the walk budget grows with the populated
    // layers instead of a fixed constant, against the SAME incremental
    // base graph as the flat global-entry walk above
    if (maxLevels > 1) {
      for (dBeam <- Seq(2, 4); rounds <- Seq(8)) {
        val t1 = System.nanoTime()
        val res = operators.Similarity.graphSearchHierDescend(
          eFull, gu2, levFinal, q, k = 10, beam = 8, rounds = rounds,
          corpusMin = 20L, maxLevels = maxLevels,
          descentBeam = dBeam, descentRounds = 12)
        println(f"knningest HIER-descent dBeam=$dBeam rounds=$rounds " +
          f"recall@10=${recallOf(res)}%.3f wall=${(System.nanoTime() - t1) / 1e9}%.1f s " +
          "(flat global-entry baselines: 0.495 @ 50k, 0.000 @ 1M)")
        graft.Fence.releaseCut(res)
      }
    }
    // control A: production bucket-entry walk on the SAME incremental graph
    val t2 = System.nanoTime()
    val mates = q.select(col("qid"),
        operators.Similarity.lshBucket(col("qv"), sigBits).as("bucket"))
      .join(bucketsFull, "bucket").filter(col("cid") >= 20).select("qid", "cid")
    val resB = operators.Similarity.graphSearchWalk(
      eFull, gu2, q, k = 10, beam = 8, rounds = 4,
      corpusMin = 20L, entrySet = mates.unionByName(hubEntry))
    println(f"knningest bucket-entry control: recall@10=${recallOf(resB)}%.3f " +
      f"wall=${(System.nanoTime() - t2) / 1e9}%.1f s (batch-built r14 point: 0.850-0.865)")
    graft.Fence.releaseCut(resB)
    // control B: batch-built graph on the final corpus, hub-only entry
    val t3 = System.nanoTime()
    val gB = operators.Similarity.knnGraphEdges(eFull, kRand = 4, kBuild = 8, rounds = 2, sigBits = sigBits)
    val guB = graft.Fence.cut(gB.unionByName(
      gB.select(col("nb").as("vid"), col("vid").as("nb"))).distinct())
    graft.Fence.releaseCut(gB)
    val hubsB = operators.Similarity.topHubs(guB, 4, Long.MinValue)
    val resC = operators.Similarity.graphSearchWalk(
      eFull, guB, q, k = 10, beam = 8, rounds = 16,
      corpusMin = 20L, entrySet = q.select("qid").crossJoin(broadcast(hubsB)))
    println(f"knningest batch-built hub-only control: recall@10=${recallOf(resC)}%.3f " +
      f"wall=${(System.nanoTime() - t3) / 1e9}%.1f s (incl. batch rebuild)")
    graft.Fence.releaseCut(resC); graft.Fence.releaseCut(guB)
  }

  /** HNSW-style hierarchical graph search at the replica shape (r14):
    * the flat walk's measured negative — hub-only entry recall 0.000 on
    * the clustered corpus — is the exact failure HNSW layers exist to
    * fix. This probe measures whether the deterministic multi-layer
    * descent from ONE global entry (no LSH bucket at query time)
    * recovers the bucket-entry recall, side by side with the flat
    * bucket-entry leg on the SAME base graph. */
  private def graphSearchHierProbe(spark: SparkSession, mult: Int,
                                   sigBits: Int = 8, maxLevels: Int = 4): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorMath.vecDot
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val big = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(mult - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === pmod(col("r"), lit(64)),
                 lit(0.01) * (pmod(col("r"), lit(17)) + 1).cast("double"))
              .otherwise(lit(0.0)))
          .as("v"))
    big.write.mode("overwrite").parquet("/tmp/graft_gsh_probe")
    val e = spark.read.parquet("/tmp/graft_gsh_probe")
      .transform(graft.Fanout.byKey(_, col("vec_id")))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .transform(graft.Fence.cut)
    val nVecs = e.count()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .transform(graft.Fence.cut)
    val nQ = q.count()
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val gt = e.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 10)
      .select("qid", "cand")
      .transform(graft.Fence.cut)
    // level populations (the geometric assignment the search will use)
    val h = xxhash64(lit("hnsw"), col("vec_id"))
    (1 until maxLevels).foreach { l =>
      val n = e.filter(pmod(h, lit(1L << l)) === 0).count()
      println(f"graphsearchhier level $l: $n%,d members")
    }
    val tB = System.nanoTime()
    val g = operators.Similarity.knnGraphEdges(e, kRand = 4, kBuild = 8,
        rounds = 2, sigBits = sigBits)
      .transform(graft.Fence.cut)
    println(f"graphsearchhier base build: $nVecs%,d vectors, ${g.count()}%,d edges, " +
      f"${(System.nanoTime() - tB) / 1e9}%.1f s")
    def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
      val hit = gt.join(res.select(col("qid"), col("cid").as("cand")),
        Seq("qid", "cand"), "left_semi").count()
      hit.toDouble / (nQ * 10L)
    }
    Seq((2, 16), (8, 16), (16, 32)).foreach { case (db, dr) =>
      val t0 = System.nanoTime()
      val res = operators.Similarity.graphSearchHier(e, q, k = 10, beam = 8,
          rounds = 4, corpusMin = 20L, maxLevels = maxLevels,
          sigBits = sigBits, descentBeam = db, descentRounds = dr,
          baseEdges = Some(g))
        .select("qid", "cid").transform(graft.Fence.cut)
      println(f"graphsearchhier maxLevels=$maxLevels db=$db%-2d dr=$dr%-3d " +
        f"recall@10=${recallOf(res)}%.3f wall=${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"(GLOBAL entry, no query-time LSH)")
      graft.Fence.releaseCut(res)
    }
    // flat bucket-entry control on the same base graph
    val t1 = System.nanoTime()
    val flat = operators.Similarity.graphSearch(e, g, q, k = 10, beam = 8,
        rounds = 4, nEntries = 4, corpusMin = 20L, sigBits = sigBits)
      .select("qid", "cid").transform(graft.Fence.cut)
    println(f"graphsearchhier flat-control (bucket entry): " +
      f"recall@10=${recallOf(flat)}%.3f wall=${(System.nanoTime() - t1) / 1e9}%.1f s")
    graft.Fence.releaseCut(flat); graft.Fence.releaseCut(g)
  }

  /** Warm-start quantizer refresh at the replica shape (r13 verdict #5):
    * crawl 1 = mult·2k vectors trained COLD to the reassignment
    * tolerance; crawl 2 adds a 4%-ish incremental delta (two more
    * replica generations); measure warm-from-crawl-1-centroids vs
    * cold-schedule rounds and walls at k=64 cells (SCALE.md line). */
  private def annRefreshProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorMath.vecDot
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    def replicas(from: Int, until: Int) = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(from), lit(until - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === pmod(col("r"), lit(64)),
                 lit(0.01) * (pmod(col("r"), lit(17)) + 1).cast("double"))
              .otherwise(lit(0.0)))
          .as("v"))
    def prep(df: org.apache.spark.sql.DataFrame, path: String) = {
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
        .transform(graft.Fanout.byKey(_, col("vec_id")))
        .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
        .transform(graft.Fence.cut)
    }
    val c1 = prep(replicas(0, mult), "/tmp/graft_annref_c1")
    val c2 = prep(replicas(0, mult + math.max(1, mult / 25)), "/tmp/graft_annref_c2")
    val (n1, n2) = (c1.count(), c2.count())
    val k = 64; val tol = 1000L
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val ((_, cents1, r1), w1) =
      timed(operators.Similarity.kmeansIvfRefresh(c1, None, k, tol))
    println(f"annrefresh crawl1 cold: $n1%,d vecs k=$k rounds=$r1 wall=$w1%.1f s")
    val ((aw, _, rW), wW) =
      timed(operators.Similarity.kmeansIvfRefresh(c2, Some(cents1), k, tol))
    val ((ac, _, rC), wC) =
      timed(operators.Similarity.kmeansIvfRefresh(c2, None, k, tol))
    val qW = aw.agg(avg(col("cos"))).head().getDouble(0)
    val qC = ac.agg(avg(col("cos"))).head().getDouble(0)
    println(f"annrefresh crawl2 (+${n2 - n1}%,d vecs): warm rounds=$rW wall=$wW%.1f s " +
      f"meanCos=$qW%.4f | cold rounds=$rC wall=$wC%.1f s meanCos=$qC%.4f")
  }

  private def recallProbe(spark: SparkSession, mult: Int, kCells: Int,
                          trainedOnly: Boolean = false,
                          sweepOnly: Boolean = false,
                          onlyCb: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorMath.vecDot
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    // replica fan-out as ONE explode (a mult-way union is a mult-branch
    // plan; at mult=500 analysis alone would dominate)
    val big = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(mult - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x.cast("double") +
            when(i === pmod(col("r"), lit(64)),
                 lit(0.01) * (pmod(col("r"), lit(17)) + 1).cast("double"))
              .otherwise(lit(0.0)))
          .as("v"))
    big.write.mode("overwrite").parquet("/tmp/graft_recall_probe")
    val e = spark.read.parquet("/tmp/graft_recall_probe")
      .transform(graft.Fanout.byKey(_, col("vec_id")))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .transform(graft.Fence.cut)
    val nVecs = e.count()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .transform(graft.Fence.cut)
    val cand = e.filter(col("vec_id") >= 20)
    val K = 10
    def top10(scored: org.apache.spark.sql.DataFrame, asc: Boolean) = {
      val o = if (asc) col("s").asc else col("s").desc
      val w = Window.partitionBy("qid").orderBy(o, col("cand"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= K)
        .select("qid", "cand")
    }
    val scoredAll = cand.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        (vecDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"),
        (vecDot(col("v"), col("v")) - lit(2.0) * vecDot(col("v"), col("qv")) +
          vecDot(col("qv"), col("qv"))).as("l2"))
      .transform(graft.Fence.cut)
    def topN(scored: org.apache.spark.sql.DataFrame, asc: Boolean, n: Int) = {
      val o = if (asc) col("s").asc else col("s").desc
      val w = Window.partitionBy("qid").orderBy(o, col("cand"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
        .select("qid", "cand")
    }
    val gtCos = top10(scoredAll.select(col("qid"), col("cand"), col("cos").as("s")), asc = false)
      .transform(graft.Fence.cut)
    val gtL2 = top10(scoredAll.select(col("qid"), col("cand"), col("l2").as("s")), asc = true)
      .transform(graft.Fence.cut)
    // the relaxed standard variant (approx top-10 inside exact top-100):
    // the replicated corpus makes the exact top-10 a set of near-ties
    // (25 perturbed copies of the same base vector), so strict recall
    // also measures tie-break luck; containment in the exact top-100
    // separates "returns true near neighbors" from "resolves 1e-4-scale
    // ties the code length cannot see"
    val gtL2Wide = topN(scoredAll.select(col("qid"), col("cand"), col("l2").as("s")),
                        asc = true, 100).transform(graft.Fence.cut)
    val nQ = q.count()
    def recall(approx: org.apache.spark.sql.DataFrame,
               gt: org.apache.spark.sql.DataFrame): Double =
      gt.join(approx, Seq("qid", "cand"), "left_semi").count().toDouble / (nQ * K)
    // containment of the k approx results in the WIDE truth set: the
    // numerator counts approx rows, so /(nQ*K) still normalizes to [0,1]
    def contained(approx: org.apache.spark.sql.DataFrame,
                  gtWide: org.apache.spark.sql.DataFrame): Double =
      approx.join(gtWide, Seq("qid", "cand"), "left_semi").count().toDouble / (nQ * K)

    // ---- IVF / IVF-proj: kCells cells, one refinement round over seeds ----
    def centroidsOf(assigned: org.apache.spark.sql.DataFrame) = {
      import spark.implicits._
      assigned.join(e, "vec_id").select(col("cid"), col("v"))
        .as[(Long, Array[Double])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.VectorCentroid.toColumn.name("cv"))
        .toDF("cid", "cv")
        .withColumn("cnrm", sqrt(vecDot(col("cv"), col("cv"))))
        .transform(graft.Fence.cut)
    }
    // query-side assignment (≤20 rows × nprobe): windowed top-n is fine
    def assignTop(df: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame,
                  vcol: String, ncol: String, cvcol: String, cncol: String, n: Int) = {
      val w = Window.partitionBy("vec_id").orderBy(col("acos").desc, col("cid"))
      df.crossJoin(broadcast(cents))
        .withColumn("acos", vecDot(col(vcol), col(cvcol)) / (col(ncol) * col(cncol)))
        .withColumn("ark", row_number().over(w))
        .filter(col("ark") <= n)
    }
    // corpus-side n=1 assignment: broadcast crossJoin projected to
    // (vec_id, cid, acos) then argmax by map-side-combine max_by — the
    // nVecs×kCells stream reduces to one row per vector per partition
    // BEFORE the exchange (the window form would shuffle all of it,
    // vector payload included: 2B rows × ~550 B at 1M×2048)
    def assignBest(df: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame,
                   vcol: String, ncol: String, cvcol: String, cncol: String) =
      df.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          (vecDot(col(vcol), col(cvcol)) / (col(ncol) * col(cncol))).as("acos"))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("acos"), -col("cid"))).as("cid"))
    val seedStep = math.max(1L, (nVecs - 20) / kCells)
    val seeds0 = cand.filter(pmod(xxhash64(col("vec_id")), lit(seedStep)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
              col("nrm").as("cnrm")).transform(graft.Fence.cut)
    val round1 = assignBest(cand, seeds0, "v", "nrm", "cv", "cnrm")
    val cents = centroidsOf(round1)
    val candCells = assignBest(cand, cents, "v", "nrm", "cv", "cnrm")
      .join(e, "vec_id") // re-attach vectors AFTER the 1-row-per-vec agg
      .select(col("vec_id").as("cand"), col("cid").as("cell"),
              col("v").as("cv2"), col("nrm").as("cn2"))
      .transform(graft.Fence.cut)
    def ivfRecall(nprobe: Int): Double = {
      val qCells = assignTop(
        q.select(col("qid").as("vec_id"), col("qv").as("v"), col("qn").as("nrm")),
        cents, "v", "nrm", "cv", "cnrm", nprobe)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
                col("cid").as("cell"))
      val scored = qCells.join(candCells, "cell")
        .select(col("qid"), col("cand"),
          (vecDot(col("cv2"), col("qv")) / (col("cn2") * col("qn"))).as("s"))
      recall(top10(scored, asc = false), gtCos)
    }
    // ---- IVF-proj: assignment in the 8-d projection ----
    val pvOf = (vc: org.apache.spark.sql.Column) => array(
      (0 until operators.Similarity.ProjOutDims).map(j =>
        vecDot(vc, array(operators.Similarity.projW(j).map(lit).toIndexedSeq: _*))): _*)
    // lazy: the proj leg's pinned frames cost ~1 GB at the 1M shape —
    // only materialize them when that leg actually runs (trainedOnly
    // skips it, and the heap headroom matters there)
    lazy val centsP = cents
      .withColumn("cpv", pvOf(col("cv")))
      .withColumn("cpn", sqrt(vecDot(col("cpv"), col("cpv"))))
      .transform(graft.Fence.cut)
    lazy val candP = cand
      .withColumn("pv", pvOf(col("v")))
      .withColumn("pn", sqrt(vecDot(col("pv"), col("pv"))))
    lazy val candCellsP = assignBest(candP, centsP, "pv", "pn", "cpv", "cpn")
      .join(e, "vec_id")
      .select(col("vec_id").as("cand"), col("cid").as("cell"),
              col("v").as("cv2"), col("nrm").as("cn2"))
      .transform(graft.Fence.cut)
    def ivfProjRecall(nprobe: Int): Double = {
      val qP = q.select(col("qid").as("vec_id"), col("qv").as("v"), col("qn").as("nrm"))
        .withColumn("pv", pvOf(col("v")))
        .withColumn("pn", sqrt(vecDot(col("pv"), col("pv"))))
      val qCells = assignTop(qP, centsP, "pv", "pn", "cpv", "cpn", nprobe)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
                col("cid").as("cell"))
      val scored = qCells.join(candCellsP, "cell")
        .select(col("qid"), col("cand"),
          (vecDot(col("cv2"), col("qv")) / (col("cn2") * col("qn"))).as("s"))
      recall(top10(scored, asc = false), gtCos)
    }
    // ---- PQ/ADC: 8 subspaces x cb sub-centroids vs exact-L2 truth ----
    // the ADC-scored (qid, cand, s) frame, shared by the raw-PQ and
    // rerank legs; encoding is the same map-side-combine min_by shape
    // as assignBest (8M sub-vectors × cb codewords never shuffle)
    def pqAdc(cb: Int): org.apache.spark.sql.DataFrame = {
      val sub = e
        .select(col("vec_id"), explode(array((0 until 8).map(lit): _*)).as("j"), col("v"))
        .select(col("vec_id"), col("j"), expr("slice(v, j*8+1, 8)").as("sv"))
      val cbStep = math.max(1L, nVecs / (2L * cb)) // ~2×cb donors, capped below
      val cbT = sub.filter(pmod(xxhash64(col("vec_id")), lit(cbStep)) === 0)
        .withColumn("cid", dense_rank().over(Window.partitionBy("j").orderBy("vec_id")))
        .filter(col("cid") <= cb)
        .select(col("cid"), col("j").as("cj"), col("sv").as("cv"))
      def dist2(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        vecDot(x, x) - lit(2.0) * vecDot(x, c) + vecDot(c, c)
      val enc = sub.filter(col("vec_id") >= 20)
        .join(broadcast(cbT), col("j") === col("cj"))
        .select(col("vec_id"), col("j"), col("cid"),
                dist2(col("sv"), col("cv")).as("dd"))
        .groupBy("vec_id", "j")
        .agg(min_by(col("cid"), struct(col("dd"), col("cid"))).as("cid"))
      val lut = sub.filter(col("vec_id") < 20)
        .join(broadcast(cbT), col("j") === col("cj"))
        .select(col("vec_id").as("qid"), col("j").as("lj"), col("cid").as("lcid"),
                floor(dist2(col("sv"), col("cv")) * lit(10000.0) + lit(0.5))
                  .cast("long").as("ld"))
      val adc = enc.join(broadcast(lut), col("j") === col("lj") && col("cid") === col("lcid"))
        .groupBy(col("qid"), col("vec_id").as("cand"))
        .agg(sum(col("ld")).as("s"))
      adc.transform(graft.Fence.cut)
    }
    def pqRecall(adc: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val t = top10(adc, asc = true).transform(graft.Fence.cut)
      (recall(t, gtL2), contained(t, gtL2Wide))
    }
    // rerank leg (pqRerankTopk shape): ADC nominates top-100, exact
    // cosine over the full vectors re-ranks the ≤100 survivors; truth
    // for this leg is the exact-cosine top-10 (the metric the re-rank
    // optimizes), so it measures end-to-end retrieval, not tie luck
    def pqRerankRecall(adc: org.apache.spark.sql.DataFrame): Double = {
      val pool = topN(adc, asc = true, 100)
      val t = e.join(broadcast(pool), col("vec_id") === col("cand"))
        .join(broadcast(q), "qid")
        .select(col("qid"), col("cand"),
          (vecDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("s"))
        .transform(df => top10(df, asc = false))
      recall(t, gtCos)
    }
    // ---- composed IVF-PQ (the qAnnIvfPq shape): RESIDUAL codes, ADC
    // restricted to the query's probed cells, exact-cosine re-rank of
    // the 100-pool. The flat-PQ cliff at this corpus (tie class >
    // pool) is exactly what this leg exists to reverse: cell probing
    // bounds the candidate set to the query's own neighborhood before
    // the pool is cut, and residual encoding shrinks the codes'
    // dynamic range from unit scale to perturbation scale. ----
    val candResid = candCells
      .join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
      .select(col("cand").as("vec_id"), col("cell"),
              zip_with(col("cv2"), col("cv"), (x, c) => x - c).as("rv"))
    def subsOf(resid: org.apache.spark.sql.DataFrame) = resid
      .select(col("vec_id"), col("cell"),
              explode(array((0 until 8).map(lit): _*)).as("j"), col("rv"))
      .select(col("vec_id"), col("cell"), col("j"),
              expr("slice(rv, j*8+1, 8)").as("sv"))
      .transform(graft.Fence.cut)
    lazy val rSub = subsOf(candResid)
    // OPQ-style deterministic rotation (r12 verdict #5): the operator's
    // own [[operators.Similarity.rotW]] randomized-Hadamard transform —
    // orthonormal, so L2 is preserved and only the subspace split
    // changes (see the Similarity scaladoc for the construction and the
    // measured 0.630 → 0.825 lift this probe recorded).
    def rotCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      operators.Similarity.rotCol(c)
    lazy val rSubRot = subsOf(candResid.select(
      col("vec_id"), col("cell"), rotCol(col("rv")).as("rv")))
    def ivfPqRecall(cb: Int, nprobe: Int, poolN: Int = 100,
                    rot: Boolean = false): Double = {
      // codebook = hash-spread DONATED residuals (the operator's
      // untrained-stand-in convention). Two dead ends measured and
      // rejected on this corpus before settling here: (a) global
      // most-frequent-distinct-pattern selection — each cell's
      // centroid makes its no-perturbation residual a DISTINCT
      // variant with ~7/8 of the cell behind it, so frequency ranking
      // fills the whole codebook with no-hit variants and recall
      // FALLS (0.63 → 0.425 at cb=256); (b) plain k-means from random
      // donors — ~7/8 of seeds land in the no-hit mega-cluster and
      // converge to one point, never splitting to cover hit patterns.
      // Donated codewords at least represent their own cell's
      // geometry; the remaining gap to the IVF ceiling is codebook
      // TRAINING quality — the `ivfpq-t` leg below closes it with
      // k-means|| D²-weighted seeding (Similarity.kmeansParCodebook),
      // which is immune to (b): covered mass has D²=0 and stops
      // attracting seeds, so far hit-patterns get them.
      val src = if (rot) rSubRot else rSub
      val cbStep = math.max(1L, nVecs / (2L * cb))
      val cbT = src.filter(pmod(xxhash64(col("vec_id")), lit(cbStep)) === 0)
        .withColumn("cid", dense_rank().over(Window.partitionBy("j").orderBy("vec_id")))
        .filter(col("cid") <= cb)
        .select(col("cid"), col("j").as("cj"), col("sv").as("cw"))
        .transform(graft.Fence.cut)
      ivfPqRecallWith(cbT, nprobe, poolN, rot)
    }
    // trained variant: per-subspace k-means|| seeded codebooks over the
    // SAME residual sub-vectors, weighted-top-cb reduction
    def ivfPqRecallTrained(cb: Int, nprobe: Int): Double = {
      val cbT = operators.Similarity.kmeansParCodebook(
        rSub.select(col("vec_id").as("id"), col("j"), col("sv")),
        k = cb, l = cb, rounds = 3, lloydRounds = 3)
        .transform(graft.Fence.cut)
      ivfPqRecallWith(cbT, nprobe)
    }
    def ivfPqRecallWith(cbT: org.apache.spark.sql.DataFrame, nprobe: Int,
                        poolN: Int = 100, rot: Boolean = false): Double = {
      def dist2(x: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
        vecDot(x, x) - lit(2.0) * vecDot(x, c) + vecDot(c, c)
      val src = if (rot) rSubRot else rSub
      val enc = src.join(broadcast(cbT), col("j") === col("cj"))
        .select(col("vec_id"), col("cell"), col("j"), col("cid"),
                dist2(col("sv"), col("cw")).as("dd"))
        .groupBy("vec_id", "cell", "j")
        .agg(min_by(col("cid"), struct(col("dd"), col("cid"))).as("code"))
      val qCells = assignTop(
        q.select(col("qid").as("vec_id"), col("qv").as("v"), col("qn").as("nrm")),
        cents, "v", "nrm", "cv", "cnrm", nprobe)
        .select(col("vec_id").as("qid"), col("cid").as("cell"),
                zip_with(col("v"), col("cv"), (x, c) => x - c).as("qrv0"))
        .select(col("qid"), col("cell"),
                (if (rot) rotCol(col("qrv0")) else col("qrv0")).as("qrv"))
      val qSub = qCells
        .select(col("qid"), col("cell"),
                explode(array((0 until 8).map(lit): _*)).as("j"), col("qrv"))
        .select(col("qid"), col("cell"), col("j"),
                expr("slice(qrv, j*8+1, 8)").as("sv"))
      // residual-scale LUT quantum: residuals on this corpus live at
      // 1e-2 scale, so distances² live at 1e-4 — the family's 1e4
      // fixed point (calibrated for unit-scale vectors) would collapse
      // real distinctions into integer ties; 1e8 keeps the same
      // RELATIVE resolution the unit-scale legs get
      val lut = qSub.join(broadcast(cbT), col("j") === col("cj"))
        .select(col("qid"), col("cell").as("lcell"), col("j").as("lj"),
                col("cid").as("lcode"),
                floor(dist2(col("sv"), col("cw")) * lit(1.0e8) + lit(0.5))
                  .cast("long").as("ld"))
      val adc = enc.join(broadcast(lut),
          col("cell") === col("lcell") && col("j") === col("lj") &&
            col("code") === col("lcode"))
        .groupBy(col("qid"), col("vec_id").as("cand"))
        .agg(sum(col("ld")).as("s"))
      val pool = topN(adc, asc = true, poolN)
      val t = e.join(broadcast(pool), col("vec_id") === col("cand"))
        .join(broadcast(q), "qid")
        .select(col("qid"), col("cand"),
          (vecDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("s"))
        .transform(df => top10(df, asc = false))
      recall(t, gtCos)
    }
    println(f"recall shape: $nVecs%,d vectors, $nQ queries, k=10, $kCells IVF cells")
    if (sweepOnly) {
      // r13 sweep (verdict #5): the three cheap levers on the composed
      // leg — re-rank pool size, codebook size, and the OPQ-style
      // rotation — each against the recorded 0.630 (cb=256, pool=100)
      Seq((256, 100), (256, 200), (256, 400), (512, 100), (512, 200))
        .foreach { case (cb, pl) =>
          println(f"recall ivfpq     cb=$cb%-3d nprobe=1  pool=$pl%-3d " +
            f"rerank-recall@10=${ivfPqRecall(cb, 1, pl)}%.3f")
        }
      Seq((256, 100), (256, 200)).foreach { case (cb, pl) =>
        println(f"recall ivfpq-rot cb=$cb%-3d nprobe=1  pool=$pl%-3d " +
          f"rerank-recall@10=${ivfPqRecall(cb, 1, pl, rot = true)}%.3f")
      }
      // trained codebooks on ROTATED residuals — the r12 trained-vs-
      // donated NEGATIVE was explained by the residuals' atomic shape
      // (k-means centroids merge atoms and rank none); the rotation
      // smears atoms across subspaces, so if that explanation is right,
      // training should RECOVER on the rotated source — an intervention
      // test of the r12 analysis, not just another data point
      val cbRot = operators.Similarity.kmeansParCodebook(
        rSubRot.select(col("vec_id").as("id"), col("j"), col("sv")),
        k = 256, l = 256, rounds = 3, lloydRounds = 3)
        .transform(graft.Fence.cut)
      Seq(100, 200).foreach { pl =>
        println(f"recall ivfpq-rot-t cb=256 nprobe=1  pool=$pl%-3d " +
          f"rerank-recall@10=${ivfPqRecallWith(cbRot, 1, pl, rot = true)}%.3f")
      }
      return
    }
    val cbs = onlyCb.map(Seq(_)).getOrElse(
      if (nVecs > 500000) Seq(16, 256) else Seq(4, 16))
    if (!trainedOnly) {
      Seq(1, 2, 4, 8).foreach { np =>
        println(f"recall ivf      nprobe=$np%-2d recall@10=${ivfRecall(np)}%.3f")
      }
      Seq(1, 2, 4, 8).foreach { np =>
        println(f"recall ivf-proj nprobe=$np%-2d recall@10=${ivfProjRecall(np)}%.3f")
      }
      cbs.foreach { cb =>
        val adc = pqAdc(cb)
        val (strict, inTop100) = pqRecall(adc)
        val rr = pqRerankRecall(adc)
        println(f"recall pq       cb=$cb%-3d (${(math.log(cb) / math.log(2)).round * 8} code bits) " +
          f"recall@10=$strict%.3f in-top100=$inTop100%.3f rerank-recall@10=$rr%.3f")
      }
      cbs.foreach { cb =>
        Seq(1, 2).foreach { np =>
          println(f"recall ivfpq    cb=$cb%-3d nprobe=$np%-2d " +
            f"rerank-recall@10=${ivfPqRecall(cb, np)}%.3f")
        }
      }
    }
    cbs.foreach { cb =>
      Seq(1, 2).foreach { np =>
        println(f"recall ivfpq-t  cb=$cb%-3d nprobe=$np%-2d " +
          f"rerank-recall@10=${ivfPqRecallTrained(cb, np)}%.3f")
      }
    }
  }

  /** DSIR probe: replicate the sf0.1 corpus `mult`× (per-replica token
    * appended so replica vocabularies differ; langs cycle so the target
    * slice grows with the corpus) and score every document. The claim
    * under test for SCALE.md: per-doc scoring cost is ~linear in corpus
    * size, and the LLR model the join broadcasts stays EXACTLY 256 rows
    * no matter how large the corpus grows — the property that makes the
    * plan corpus-size-invariant at 100 TB.
    * Usage: tools/run_verify.sh dsir <mult> graft.ScaleProbe */
  private def dsirProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
      .select("doc_id", "lang", "text")
    val big = (0 until mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
                  col("lang"),
                  concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ union _)
    big.write.mode("overwrite").parquet("/tmp/graft_dsir_probe")
    val docs = spark.read.parquet("/tmp/graft_dsir_probe")
      .transform(graft.Fanout.byKey(_, col("doc_id")))
    val nDocs = docs.count()
    val t0 = System.nanoTime()
    val w = operators.TextOps.dsirWeights(docs)
    val scored = w.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // the broadcast relation's true cardinality: distinct buckets seen
    val nBuckets = w.sparkSession.read.parquet("/tmp/graft_dsir_probe")
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(substring(md5(col("tok")), 1, 2)).distinct().count()
    println(f"dsir mult=$mult: $nDocs%,d docs -> $scored%,d scored in $secs%.1f s (${nDocs / secs}%,.0f docs/s); model rows=$nBuckets")
  }

  /** Bloom-prefilter probe: grow the CORPUS `mult`× while the batch (the
    * base sf0.1 corpus) stays fixed — the nightly exact-re-crawl
    * trajectory. 10% of batch docs are planted verbatim in the corpus;
    * the rest differ (per-replica token), so the probe measures the two
    * things SCALE.md claims: the filter build is one bounded aggregate
    * over corpus hashes whose OUTPUT size is set by n·fpp (printed), and
    * the map-side probe rejects the non-duplicate bulk at ~the target
    * fpp regardless of corpus size.
    * Usage: tools/run_verify.sh bloom <mult> graft.ScaleProbe */
  private def bloomProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    val corpus = (1 to mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
        // plant every 10th base doc verbatim (a true re-crawl); the rest
        // get a replica token so they are new content
        when(col("doc_id") % 10 === 0, col("text"))
          .otherwise(concat(col("text"), lit(s" rep$r"))).as("text"))
    }.reduce(_ union _)
    corpus.write.mode("overwrite").parquet("/tmp/graft_bloom_probe")
    val corpusP = spark.read.parquet("/tmp/graft_bloom_probe")
    val nCorpus = corpusP.count()
    val nBatch = base.count()
    val t0 = System.nanoTime()
    val survivors = operators.Dedup.bloomSurvivors(corpusP, base)
    val nSurvive = survivors.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val nDups = base.filter(col("doc_id") % 10 === 0).count()
    println(f"bloom mult=$mult: corpus $nCorpus%,d docs; batch $nBatch%,d -> $nSurvive%,d survivors " +
      f"($nDups%,d true dups, fp=${(nSurvive - nDups).toDouble / math.max(1, nBatch - nDups)}%.4f) " +
      f"in $secs%.1f s build+probe")
  }

  /** PPJoin growth probe: replicate the sf0.1 corpus `mult`× (replica
    * texts append one token, so every replica family is a TRUE J ≥ 0.8
    * clique — output grows with the planted duplicate mass, which is the
    * point: the join's cost is candidate/output-bound, not corpus²).
    * Usage: tools/run_verify.sh ppjoinx <mult> graft.ScaleProbe */
  private def ppjoinGrowthProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1").select("doc_id", "text")
    val big = (0 to mult).map { r =>
      if (r == 0) base
      else base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
                       concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ union _)
    big.write.mode("overwrite").parquet("/tmp/graft_ppjoin_probe/documents.parquet")
    val nDocs = spark.read.parquet("/tmp/graft_ppjoin_probe/documents.parquet").count()
    val t0 = System.nanoTime()
    val nOut = operators.Dedup.qDedupPpjoin(spark, "/tmp/graft_ppjoin_probe").count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"ppjoinx mult=$mult: $nDocs%,d docs -> $nOut%,d J>=0.8 pairs in $secs%.1f s")
  }

  /** PPJoin probe: candidate pairs with the rarest-first prefix filter vs
    * the unfiltered inverted-index join at sf0.1 — the deterministic
    * pruning ratio SCALE.md claims, plus end-to-end wall.
    * Usage: tools/run_verify.sh ppjoin <sfDir> graft.ScaleProbe */
  private def ppjoinProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val inv = Tables.documents(spark, sfDir)
      .transform(graft.Fanout.byKey(_, col("doc_id")))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
          |                         i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin)).as("sh"))
    val dfreq = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    val ordered = inv.join(dfreq, "sh").withColumn("rk",
      row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
    val sizes = ordered.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pref = ordered.join(sizes, "doc_id")
      .filter(col("rk") <= col("n") - expr("(8 * n + 9) DIV 10") + 1)
      .select("doc_id", "sh")
    def pairs(ix: org.apache.spark.sql.DataFrame): Long =
      ix.as("a").join(ix.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val nBrute = pairs(inv.select("doc_id", "sh"))
    val nPref = pairs(pref)
    val t0 = System.nanoTime()
    val nOut = operators.Dedup.qDedupPpjoin(spark, sfDir).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"ppjoin $sfDir: brute candidates $nBrute%,d -> prefix candidates $nPref%,d " +
      f"(${100.0 * nPref / math.max(1, nBrute)}%.1f%%), $nOut%,d J>=0.8 pairs, full join $secs%.1f s")
  }

  /** Dedup scale probe: replicate the sf0.1 corpus `mult`× with shifted
    * doc_ids (shifted ids also shift text via an appended token, so
    * replicas aren't trivially identical), then run the xxhash64 minhash
    * end-to-end. Evidence for SCALE.md: signature+banding cost scales
    * linearly in documents, candidate pairs stay bounded.
    * Usage: tools/run_verify.sh dedup <mult> graft.ScaleProbe */
  private def dedupProbe(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    val big = (0 until mult).map { r =>
      base.select((col("doc_id") + lit(r.toLong * 1000000)).as("doc_id"),
                  concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ union _)
    big.write.mode("overwrite").parquet("/tmp/graft_dedup_probe")
    val docs = spark.read.parquet("/tmp/graft_dedup_probe")
    val nDocs = docs.count()
    val t0 = System.nanoTime()
    // inline qDedupMinhashXx over the replicated table
    val sig = graft.Fanout.byKey(docs, col("doc_id"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
          |                         i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin)).as("sh1"))
      .select(col("doc_id") +: (0 until 8).map(kk =>
                xxhash64(lit(kk), col("sh1")).as(s"x$kk")): _*)
      .groupBy("doc_id")
      .agg(min(col("x0")).as("mh0"),
           (1 until 8).map(kk => min(col(s"x$kk")).as(s"mh$kk")): _*)
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        xxhash64(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)).as(Seq("b", "bh")))
    val nPairs = bands.as("a").join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"dedup-xx mult=$mult: $nDocs%,d docs -> $nPairs%,d candidate pairs in $secs%.1f s (${nDocs / secs}%,.0f docs/s)")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference's per-timestep loop (run/adcircTime2cogs.py:190-209) is a
  * tumbling-window-per-event-time computation executed serially, and its
  * `chunks={'time': 1}` scan contract (adcirc_dask_utilities.py:42) is a
  * micro-batch boundary. Here the same shape runs as a real stream:
  * file-source micro-batches → event-time tumbling window with a watermark →
  * append sink. The batch-equivalent query (q_stream_tumbling) is
  * oracle-checked; this module proves the streaming wiring on the same data.
  *
  * At scale: the file source lists incrementally; the windowed aggregation
  * is a partial-agg + state-store pattern (one shuffle on window×keys);
  * watermark bounds state size — late rows beyond 1 hour are dropped rather
  * than accumulating unbounded per-window state.
  */
object Streams {

  /** events schema for a source dir with no files yet (the
    * start-stream-then-files-arrive landing-directory pattern, where a
    * probe read cannot infer anything): the current corpus encoding. */
  val eventsLandingSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming scan of an events-parquet directory → typed event stream.
    * File streams need an explicit schema; probe it from the existing files
    * with a one-footer batch read (falling back to [[eventsLandingSchema]]
    * on an empty landing dir), then normalize ts to TimestampType via the
    * shared `Tables.normalizeTs` (raw INT64 nanos on old corpora,
    * timestamp[us]/NTZ on new — session tz is pinned UTC so the cast is
    * value-preserving).
    *
    * Empty-landing-dir contract (r7 advice): the fallback schema declares
    * the CURRENT corpus encoding (timestamp[us]); a landing dir is
    * new-encoding-only by contract. If legacy INT64-nanos files land after
    * the stream starts, the TimestampType-vs-INT64(NANOS) mismatch FAILS
    * the first micro-batch at the parquet scan (Spark refuses the
    * physical-type mismatch) rather than misreading — restart the stream
    * against the now-non-empty dir and the probe read routes the nanos
    * branch of normalizeTs. */
  def readEvents(s: SparkSession, dir: String): DataFrame = {
    val physical =
      try s.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventsLandingSchema }
    graft.Tables.normalizeTs(s.readStream.schema(physical).parquet(dir))
  }

  /** Tumbling event-time aggregation with a 1-hour watermark — the streaming
    * form of the oracle-checked q_stream_tumbling. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding event-time windows (1 h length, 30 min slide) — each event
    * contributes to 2 overlapping windows (SURVEY §2.9 "provide, demo"). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("w.end").as("we"), col("n"))

  /** Session windows: gap-based grouping per user in event time — the
    * built-in form of the sessionization below (state managed by Spark). */
  /** Keyed in-flight de-duplication — exactly-once semantics over an
    * at-least-once feed (re-crawls, replayed Kafka offsets, retried
    * uploads). `dropDuplicatesWithinWatermark` keeps one state entry per
    * key only INSIDE the 1-hour watermark horizon, so state is bounded by
    * arrival rate × horizon, not by stream lifetime — the property that
    * makes streaming dedup viable at 100 TB/day. Batch-equivalent oracle:
    * q_dedup_replay. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  def sessionWindows(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
              col("user_id"), col("n_events"), col("total"))

  /** Streaming raster/aggregate sink partitioned by event-time key — the
    * streaming analogue of one-COG-per-timestep (SURVEY §2.9 sink row:
    * writeStream.partitionBy.format(parquet)). Returns the started query. */
  def partitionedParquetSink(agg: DataFrame, outDir: String,
                             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_type")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Stream-stream inner join with watermarked interval bounds — the
    * streaming form of the as-of/range join family (J6). Both sides carry
    * a watermark and the join condition bounds the event-time gap, so the
    * state store holds only rows inside the interval (bounded state, the
    * requirement for an unbounded-input join at scale). Joins clicks to
    * the purchases that follow within one hour for the same user. */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** Train offline, score ONLINE — the third state-sharing pattern beside
    * the storage-resident band index ([[dedupStream]]) and the pinned
    * cell map ([[interpStream]]): the KB-sized per-type (med, mad) MODEL
    * relation trained by the batch engine
    * ([[graft.operators.Aggregates]]'s robust anomaly screen) broadcasts
    * into a stateless stream-static join, flagging each arriving event
    * MAP-SIDE with the same pre-multiplied cutoff the batch screen uses —
    * no state store, no watermark, no shuffle of the stream.
    *
    * The model join is LEFT OUTER (r9 advice): an event whose type the
    * model has never seen is arguably the most anomalous thing the
    * stream can carry, so it must not be silently dropped — it is
    * emitted with `is_outlier` NULL (tri-state contract: true = outlier,
    * false = inlier, null = UNSCORABLE, no trained baseline; the
    * consumer routes nulls to the same quarantine as trues). The
    * StreamingSpec exercises an unknown type end-to-end. */
  def anomalyStream(events: DataFrame, model: DataFrame): DataFrame =
    events.join(broadcast(model), Seq("event_type"), "left")
      .withColumn("is_outlier",
        abs(col("value") - col("med")) > col("mad") * lit(4.4478))
      .select("event_id", "event_type", "value", "is_outlier")

  /** foreachBatch sink: the escape hatch for sinks Structured Streaming
    * has no native writer for (upserts, JDBC, multi-sink fan-out, or the
    * GeoTIFF writer). Each micro-batch arrives as a plain DataFrame with
    * exactly-once batchId semantics; here each batch appends its window
    * counts as one parquet delta keyed by batchId (idempotent re-run =
    * overwrite of the same delta directory). */
  def foreachBatchSink(agg: DataFrame, outDir: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** series-parquet landing schema for [[interpStream]]: the
    * `sources.Ingest` long-form layout, one file per forecast cycle. */
  val seriesLandingSchema: StructType = StructType(Seq(
    StructField("ts", LongType), StructField("node_id", LongType),
    StructField("value", DoubleType)))

  /** The reference's OPERATIONAL cadence as a stream (§2.9 meets the
    * core pipeline): ASGS drops one fort.63 series per forecast cycle
    * (run/adcircTime2cogs.py is invoked per cycle); here a file-source
    * stream watches the series landing dir and every micro-batch — one
    * cycle's (ts, node_id, value) rows; files are atomic and carry whole
    * timesteps, the landing contract — is interpolated against the
    * STATIC cell map and written as one raster delta, exactly-once by
    * batchId.
    *
    * Scale shape: the expensive precompute (the containment join that
    * builds the cell map) is pinned ONCE via localCheckpoint — the mesh
    * does not change between cycles, the reference's precomputed
    * interpolator contract (adcircTime2cogs.py:165-171) — so each cycle
    * pays only the corner-explode equi-join on node_id + pivot over ITS
    * OWN rows: cost per cycle is O(cycle series), state-free (foreachBatch
    * is stateless — no watermark, no state store), and a backlog of
    * cycles processes concurrently on a cluster. The scale-path join is
    * used unconditionally: a cycle's series lands as files whose size the
    * planner cannot see mid-stream, and the corner-explode shape is the
    * one that never transits the driver. */
  def interpStream(seriesDir: String, cells: DataFrame, outDir: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val s = cells.sparkSession
    // pay the containment join once, not once per micro-batch
    val cellsPinned = cells.transform(graft.Fence.cut)
    s.readStream.schema(seriesLandingSchema).parquet(seriesDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Interp.joinSeriesGated(cellsPinned, batch, small = false)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** [[interpStream]] emitting the reference's ACTUAL operational
    * artifact per forecast cycle: one tiled/overview COG per timestep
    * (run/adcircTime2cogs.py's write_cog contract) instead of a parquet
    * delta — each micro-batch interpolates its own cycle against the
    * once-pinned cell map and streams the grids straight into
    * [[graft.plans.RasterSink.writeCogs]] (one grid per task, pixel data
    * never on the driver), under a batchId subdir that is IDEMPOTENT BY
    * BATCHID, committed atomically (r9 advice): foreachBatch is
    * at-least-once, so a mid-batch failure can leave partial files —
    * the COGs are therefore written to `batch_N.tmp` and the directory
    * is RENAMED to `batch_N` only on success (one atomic syscall on a
    * local/posix fs; a retry first deletes any stale tmp and re-renders,
    * so a concurrent reader only ever observes absent-or-complete
    * cycles). This closes the streaming loop end-to-end: landing series
    * files in, the reference's cloud-ordered GeoTIFFs out, per cycle. */
  def interpStreamCogs(seriesDir: String, cells: DataFrame,
                       spec: graft.operators.Interp.GridSpec, outDir: String,
                       checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val s = cells.sparkSession
    val cellsPinned = cells.transform(graft.Fence.cut)
    // an AvailableNow run folds the whole landed backlog into one batch
    s.readStream.schema(seriesLandingSchema).parquet(seriesDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val tmp = Paths.get(s"$outDir/batch_$batchId.tmp")
        val fin = Paths.get(s"$outDir/batch_$batchId")
        // a retry of this batchId re-renders from scratch: clear stale
        // partial output, never merge into it
        def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
          Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(Files.delete(_))
        }
        rmTree(tmp)
        if (!Files.exists(fin)) {
          graft.plans.RasterSink.writeCogs(
            graft.operators.Interp.joinSeriesGated(cellsPinned, batch, small = false),
            spec, tmp.toString, "fort_63_zeta")
          Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
          ()
        } // else: a completed cycle already committed — idempotent skip
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** documents landing schema for [[dedupStream]]: one parquet file per
    * crawl, (doc_id, text). */
  val docsLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Streaming incremental dedup — [[graft.operators.Dedup
    * .qDedupIncremental]]'s production loop as a stream: crawl files land
    * in `docsDir`; each micro-batch (one crawl)
    *   1. computes its minhash bands ([[graft.operators.Dedup
    *      .minhashBands]] — the same signature family as the batch
    *      engine, so index entries are interchangeable),
    *   2. probes the ACCUMULATED band index for cross-crawl duplicates
    *      (one (doc_id, dup_of, n_bands) delta per batchId; the first
    *      crawl, probing an empty index, writes no hits),
    *   3. appends its own bands to the index as a batchId-named subdir —
    *      an idempotent re-run overwrites the same subdir, keeping the
    *      index exactly-once.
    * The index is the ONLY state and lives in storage, not the stream —
    * restart-safe, shared with the batch engine, bucketable on bh. The
    * probe join is UNHINTED: per-batch AQE sees the real crawl size and
    * broadcasts the small side itself (the batch gate's planner-decides
    * principle, without driver-side stats guessing mid-stream).
    * Within-crawl duplicates are the batch self-join's job
    * ([[graft.operators.Dedup.qDedupMinhash]]); this stream owns the
    * cross-crawl axis. */
  def dedupStream(s: SparkSession, docsDir: String, indexDir: String,
                  hitsDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    s.readStream.schema(docsLandingSchema).parquet(docsDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bands = graft.operators.Dedup
          .minhashBands(graft.Fanout.byKey(batch, col("doc_id")))
        val idx =
          try Some(s.read.option("recursiveFileLookup", "true").parquet(indexDir))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        idx.foreach { corpus =>
          corpus.select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
            .join(bands.select(col("doc_id").as("new_id"), col("b"), col("bh")),
                  Seq("b", "bh"))
            .groupBy(col("new_id").as("doc_id"))
            .agg(min(col("corpus_id")).as("dup_of"),
                 countDistinct(col("b")).as("n_bands"))
            .write.mode("overwrite").parquet(s"$hitsDir/batch_$batchId")
        }
        bands.write.mode("overwrite").parquet(s"$indexDir/batch_$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming crawl ingest — the production front door: raw WARC
    * containers (`.warc` / `.warc.gz`) land in `warcDir` as a crawler
    * ships them; each micro-batch decodes exactly its newly-discovered
    * files, persists the decoded `documents` shape, and dedups the
    * crawl against every earlier crawl through the band index — the
    * [[dedupStream]] protocol with [[graft.sources.Warc]] ingest fused
    * in front.
    *
    * Discovery is a `binaryFile` readStream projected to (path,
    * length): Spark's binary-file scan only materializes `content`
    * when the required schema asks for it, so the discovery stream
    * reads FILE LISTINGS, never archive bytes — at Common Crawl scale
    * (tens of thousands of ~1 GB objects per crawl) the stream's own
    * state is file names, and the checkpoint log gives exactly-once
    * file processing across restarts for free. The per-batch file list
    * is collected to the driver (bounded: names + lengths, the same
    * inventory every Spark file source holds on the driver anyway) and
    * handed to [[graft.sources.Warc.readFiles]], which fans the decode
    * out over byte-range splits. Decode runs ONCE per batch: documents
    * are written to `docsDir/batch_<id>` first, then bands derive from
    * the read-back parquet (columnar, doc_id+text pruned) rather than
    * re-running the container parse.
    *
    * Outputs per micro-batch:
    * `docsDir/batch_<id>` — the decoded corpus increment;
    * `hitsDir/batch_<id>` — (doc_id, dup_of, n_bands) cross-crawl
    * near-dup hits against all EARLIER crawls; `indexDir/batch_<id>` —
    * the crawl's band signatures, appended to the corpus index. */
  def crawlStream(s: SparkSession, warcDir: String, docsDir: String,
                  indexDir: String, hitsDir: String, checkpoint: String,
                  splitBytes: Long = 64L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // binaryFile's fixed source schema, spelled out because streaming
    // sources refuse inference even for fixed-schema formats
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    s.readStream.format("binaryFile").schema(binaryFileSchema)
      .option("pathGlobFilter", "*.{warc,warc.gz}")
      .load(warcDir)
      .select(col("path"), col("length")) // prunes `content`: listing-only stream
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batch.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
        if (files.nonEmpty) {
          graft.sources.Warc.toDocuments(
              graft.sources.Warc.readFiles(s, files, splitBytes))
            .transform(graft.Fanout.byKey(_, col("doc_id")))
            .write.mode("overwrite").parquet(s"$docsDir/batch_$batchId")
          val bands = graft.operators.Dedup.minhashBands(
            s.read.parquet(s"$docsDir/batch_$batchId").select("doc_id", "text"))
          val idx =
            try Some(s.read.option("recursiveFileLookup", "true").parquet(indexDir))
            catch { case _: org.apache.spark.sql.AnalysisException => None }
          idx.foreach { corpus =>
            corpus.select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
              .join(bands.select(col("doc_id").as("new_id"), col("b"), col("bh")),
                    Seq("b", "bh"))
              .groupBy(col("new_id").as("doc_id"))
              .agg(min(col("corpus_id")).as("dup_of"),
                   countDistinct(col("b")).as("n_bands"))
              .write.mode("overwrite").parquet(s"$hitsDir/batch_$batchId")
          }
          bands.write.mode("overwrite").parquet(s"$indexDir/batch_$batchId")
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming WEBGRAPH maintenance — the rank-pipeline front door
    * composed from the WAT source and the graph family (the
    * [[crawlStream]] convention, pointed at the other Common Crawl
    * deliverable): `.warc.wat{,.gz}` files land in a watched directory
    * as a crawler ships them; a content-pruned `binaryFile` listing
    * stream discovers them exactly-once through the checkpoint log;
    * each micro-batch decodes exactly its files through the splittable
    * WAT reader, appends the edge increment to `edgesDir/batch_<id>`,
    * and recomputes host PageRank over the ACCUMULATED edge relation
    * into `ranksDir/crawl_<id>` — per-crawl rank recomputation, which
    * is exactly how the published host ranks are produced (a crawl is
    * a batch; ranks are a pure function of the edges so far). Edge
    * dedup across crawls happens at rank time via one distinct() on
    * the accumulated relation; the per-crawl increments stay raw so
    * the edge history remains replayable. */
  def watStream(s: SparkSession, watDir: String, edgesDir: String,
                ranksDir: String, checkpoint: String,
                splitBytes: Long = 64L << 20,
                compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    s.readStream.format("binaryFile").schema(binaryFileSchema)
      .option("pathGlobFilter", "*.{wat,wat.gz}")
      .load(watDir)
      .select(col("path"), col("length"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batch.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
        if (files.nonEmpty) {
          graft.sources.Warc.watToEdges(
              graft.sources.Warc.readFiles(s, files, splitBytes))
            .transform(graft.Fanout.byKey(_, col("src")))
            .write.mode("overwrite").parquet(s"$edgesDir/batch_$batchId")
          val all = s.read.option("recursiveFileLookup", "true")
            .parquet(edgesDir).distinct()
          graft.operators.Graph.pageRank(all, iters = 5)
            .write.mode("overwrite").parquet(s"$ranksDir/crawl_$batchId")
          maybeCompactEdges(s, edgesDir, compactEvery)
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Object-store-safe compaction of the accumulated EDGE relation —
    * the [[graft.operators.Dedup.compactBandIndex]] move applied to the
    * webgraph stream's state: without it every rank refresh re-reads and
    * re-distincts O(crawl-history) batch subdirs; after it the history is
    * one deduplicated, src-partitioned relation. Commits through the
    * [[graft.plans.CommitEpoch]] generation store, consuming every visible
    * entry of `edgesDir`, at the store's size-derived width
    * ([[graft.plans.CommitEpoch.widthFor]]) so the compacted file layout
    * scales with the relation, not the session. Reader caveat: the
    * store's "both" window shows duplicated rows, which is safe ONLY
    * because every consumer re-`distinct()`s the edge relation (rank
    * refresh does; any new reader must, or schedule reads off the
    * compaction window). Returns (rows before, rows after). */
  def compactEdges(s: SparkSession, edgesDir: String): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(edgesDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (0L, 0L)
    val superseded = graft.plans.CommitEpoch.list(fs, dir).visible
    if (superseded.isEmpty) return (0L, 0L)
    val all = s.read.option("recursiveFileLookup", "true").parquet(edgesDir)
    val before = all.count()
    val width = graft.plans.CommitEpoch.widthFor(fs, superseded, s)
    val fin = graft.plans.CommitEpoch.commit(fs, dir, superseded) { tmp =>
      all.distinct().repartition(width, col("src"))
        .write.mode("overwrite").parquet(tmp.toString)
    }
    (before, s.read.parquet(fin.toString).count())
  }

  // auto-compaction trigger for the webgraph streams: compact once the
  // visible subdir count reaches the threshold — amortized O(1/threshold)
  // compactions per crawl, bounding every refresh's listing + distinct
  private def maybeCompactEdges(s: SparkSession, edgesDir: String,
                                threshold: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(edgesDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && graft.plans.CommitEpoch.list(fs, dir).visible.size >= threshold)
      compactEdges(s, edgesDir)
  }

  private def latestSubdir(s: SparkSession, dir: String,
                           prefix: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .sortBy(_.getName.stripPrefix(prefix).toLong)
      .lastOption.map(_.toString)
  }

  /** The UNIFIED crawl front door (r12 verdict #6): ONE watched
    * directory receives ALL THREE Common Crawl deliverables —
    * `.warc{,.gz}` content containers, `.wat{,.gz}` metadata, and
    * `.wet{,.gz}` extracted text (the alternative content form; a
    * batch carrying both ingests both, dropping only the WET records
    * whose own `WARC-Refers-To` names a response decoded from the same
    * batch's WARCs — own extraction wins per CRAWL, never per batch,
    * so a WARC from one crawl sharing a catch-up batch with a WET from
    * another can't silently lose the second crawl's documents) — and one
    * content-pruned listing stream drives the whole maintenance cycle,
    * so a single micro-batch (= one crawl drop under `AvailableNow` +
    * staging) yields all four corpus artifacts at once:
    *   - `docsDir/batch_<id>`   — the decoded documents increment
    *     (the [[crawlStream]] decode-once protocol),
    *   - `hitsDir/batch_<id>`   — cross-crawl near-dup hits against the
    *     accumulated band index (which also gains this crawl's bands
    *     under `indexDir/batch_<id>`),
    *   - `ranksDir/crawl_<id>`  — host PageRank refreshed over the
    *     accumulated edge relation (the [[watStream]] protocol;
    *     increments under `edgesDir/batch_<id>`),
    *   - `curateDir/crawl_<id>` — the host-rank curation DECISION table
    *     ([[graft.operators.Graph.qCurateHostrank]]'s self-calibrating
    *     top-half cut): per ranked host, (node, rank_fp, rk, n_docs,
    *     kept) over every document decoded so far.
    * Each leg runs only when its inputs exist: a WARC-only drop reuses
    * the latest ranks, a WAT-only drop re-curates the existing corpus
    * under the refreshed ranks. `hostOf` maps a decoded document row to
    * its host id in the WAT host space (production: parse + hash the
    * URL authority; the default extracts the numeric doc id — the
    * synthetic WARC convention — so fixtures can align the two spaces
    * deterministically) — misaligned hosts simply don't join, they
    * never corrupt.
    *
    * All state lives in storage (index, edges, docs — restart-safe via
    * the checkpoint log's exactly-once file accounting); every output
    * is a pure function of the files shipped so far, so each artifact
    * has a closed-form batch twin (StreamingSpec pins bit-equality for
    * all of them across two crawls). */
  def watchedCrawlStream(s: SparkSession, dropDir: String, docsDir: String,
                         indexDir: String, hitsDir: String, edgesDir: String,
                         ranksDir: String, curateDir: String, checkpoint: String,
                         hostOf: org.apache.spark.sql.Column =
                           expr("CAST(regexp_extract(doc_id, ':([0-9]+)>$', 1) AS BIGINT)"),
                         splitBytes: Long = 64L << 20,
                         compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    s.readStream.format("binaryFile").schema(binaryFileSchema)
      .option("pathGlobFilter", "*.{warc,warc.gz,wat,wat.gz,wet,wet.gz}")
      .load(dropDir)
      .select(col("path"), col("length")) // listing-only discovery
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batch.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
        val (wats, rest) = files.partition(f =>
          f._1.endsWith(".wat") || f._1.endsWith(".wat.gz"))
        val (wets, warcs) = rest.partition(f =>
          f._1.endsWith(".wet") || f._1.endsWith(".wet.gz"))
        // ---- content leg: decode once, dedup against the index. The
        // text deliverable is WHICHEVER the drop carries: raw WARC (our
        // own htmlToText extraction) or WET (the upstream extractor's
        // conversion records — pipelines that trust it skip the raw
        // containers entirely). A batch shipping BOTH ingests both and
        // drops only the WET records whose OWN `WARC-Refers-To` names a
        // response decoded from this batch's WARCs (own extraction wins
        // for the same crawl; a WET from a DIFFERENT crawl sharing the
        // batch — AvailableNow catch-up, restart replay — is kept, so
        // no crawl's documents are ever silently lost to the
        // checkpoint's exactly-once accounting). Downstream is
        // identical either way — both decode to the documents shape. ----
        if (warcs.nonEmpty || wets.nonEmpty) {
          val warcDocs =
            if (warcs.isEmpty) None
            else Some(graft.sources.Warc.toDocuments(
              graft.sources.Warc.readFiles(s, warcs, splitBytes)))
          val wetDocs =
            if (wets.isEmpty) None
            else {
              val d = graft.sources.Warc.wetToDocuments(
                graft.sources.Warc.readFiles(s, wets, splitBytes))
              Some(warcDocs match {
                case Some(w) => d.join(
                    w.select(col("doc_id").as("refers_to")),
                    Seq("refers_to"), "left_anti")
                case None => d
              }).map(_.drop("refers_to"))
            }
          (warcDocs.toSeq ++ wetDocs.toSeq).reduce(_ unionByName _)
            .transform(graft.Fanout.byKey(_, col("doc_id")))
            .write.mode("overwrite").parquet(s"$docsDir/batch_$batchId")
          val bands = graft.operators.Dedup.minhashBands(
            s.read.parquet(s"$docsDir/batch_$batchId").select("doc_id", "text"))
          val idx =
            try Some(s.read.option("recursiveFileLookup", "true").parquet(indexDir))
            catch { case _: org.apache.spark.sql.AnalysisException => None }
          idx.foreach { corpus =>
            corpus.select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
              .join(bands.select(col("doc_id").as("new_id"), col("b"), col("bh")),
                    Seq("b", "bh"))
              .groupBy(col("new_id").as("doc_id"))
              .agg(min(col("corpus_id")).as("dup_of"),
                   countDistinct(col("b")).as("n_bands"))
              .write.mode("overwrite").parquet(s"$hitsDir/batch_$batchId")
          }
          bands.write.mode("overwrite").parquet(s"$indexDir/batch_$batchId")
        }
        // ---- graph leg: append edges, refresh ranks ----
        if (wats.nonEmpty) {
          graft.sources.Warc.watToEdges(
              graft.sources.Warc.readFiles(s, wats, splitBytes))
            .transform(graft.Fanout.byKey(_, col("src")))
            .write.mode("overwrite").parquet(s"$edgesDir/batch_$batchId")
          val all = s.read.option("recursiveFileLookup", "true")
            .parquet(edgesDir).distinct()
          graft.operators.Graph.pageRank(all, iters = 5)
            .write.mode("overwrite").parquet(s"$ranksDir/crawl_$batchId")
          maybeCompactEdges(s, edgesDir, compactEvery)
        }
        // ---- curation leg: decision table over corpus-so-far × ranks ----
        val ranksNow =
          if (wats.nonEmpty) Some(s.read.parquet(s"$ranksDir/crawl_$batchId"))
          else latestSubdir(s, ranksDir, "crawl_").map(s.read.parquet(_))
        val docsNow =
          try Some(s.read.option("recursiveFileLookup", "true").parquet(docsDir))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        for (ranks <- ranksNow; docs <- docsNow) {
          // distributed global rank (r17 verdict #1): the old
          // unpartitioned row_number() window moved the whole rank frame
          // to ONE task — same fix as the declared pagerank readouts
          val rk = graft.operators.Graph.globalRankDesc(ranks)
          val mx = rk.agg(max(col("rk")).as("mx"))
          docs.select(hostOf.as("node"), col("doc_id"))
            .groupBy("node").agg(count(lit(1)).as("n_docs"))
            .join(rk, "node")
            .crossJoin(broadcast(mx))
            .select(col("node"), col("rank").as("rank_fp"), col("rk"),
                    col("n_docs"),
                    (col("rk") * 2 <= col("mx")).cast("long").as("kept"))
            .write.mode("overwrite").parquet(s"$curateDir/crawl_$batchId")
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Streaming ANN-index maintenance — the index family's STREAMING door
    * (r14; the lifecycle ledger: dedup has band-index compaction, ranks
    * have warm refresh, the quantizer has [[graft.operators.Similarity
    * .kmeansIvfRefresh]] — this leg wires them into the same watched-dir
    * protocol the crawl streams use, so an embedding service can drop
    * parquet and the IVF index stays queryable and fresh).
    *
    * `indexDir` is a [[graft.plans.CommitEpoch]] generation store. Watches
    * `dropDir` for (vec_id, embedding) parquet drops; per micro-batch
    * (exactly-once via the checkpoint's file accounting):
    *  - **cold start** (no generation yet): warm/cold-unified
    *    `kmeansIvfRefresh(batch, None, k)` trains the first coarse
    *    quantizer; centroids + fully-assigned postings commit as ONE
    *    generation `{centroids,postings}`.
    *  - **steady state**: the batch's vectors are assigned to the
    *    CURRENT generation's cells (one broadcast-assign scan — the
    *    ivfPqTopk coarse step) and appended as a DELTA
    *    (`indexDir/batch_<id>`, idempotent name, so restart replay
    *    overwrites rather than duplicates).
    *  - **refresh** (every `refreshEvery`-th batch — the `compactEvery`
    *    amortization): warm-start `kmeansIvfRefresh` from the current
    *    centroids over generation ∪ deltas ∪ batch, committing a new
    *    generation that consumes the deltas and superseded generations.
    *    The tolerance-stopped warm start is the measured 2.8×-fewer-rounds
    *    path (SCALE.md r14 `annrefresh`).
    *
    * Reader caveat: in the store's "both" window the same vector sits in
    * two cells across generations, and a lingering delta still carries
    * its old-generation cell — the GENERATION copy wins
    * ([[annIndexSnapshot]]). A reader racing the refresh's delta delete
    * should schedule reads off the refresh window or retry the listing.
    * Every artifact is a pure function of the files shipped so far, so
    * each has a closed-form batch twin (StreamingSpec pins bit-equality
    * for cold build, delta assignment, and warm refresh).
    *
    * Cold seeding is D²-weighted k-means|| ([[graft.operators.Similarity
    * .d2ColdSeeds]], r14 verdict #2 — a skewed first drop must not
    * strand centroids on id order); the first drop must carry at least
    * k vectors, enforced loudly below. */
  def annIngestStream(s: SparkSession, dropDir: String, indexDir: String,
                      checkpoint: String, k: Int, refreshEvery: Int = 16,
                      tolPpm: Long = 1000L, maxRounds: Int = 25)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.hadoop.fs.Path
    import graft.plans.CommitEpoch
    s.readStream.format("parquet").schema(vectorDropSchema).load(dropDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
        val dir = new Path(indexDir)
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(dir)
        def store = CommitEpoch.list(fs, dir)
        // TOMBSTONES first (r15 verdict #1): retire against the
        // PRE-BATCH state, then insert the batch's live rows — and the
        // tombstone wins within a batch (an id both shipped and deleted
        // in one drop is not inserted). Replay-idempotent: retiring
        // already-absent ids rewrites an equivalent generation.
        val tombs = batch.filter(col("deleted") === true).select("vec_id")
        val hasTombs = !tombs.isEmpty
        if (hasTombs && store.latest.nonEmpty) retireIvfVectors(s, indexDir, tombs)
        val live0 = batch.filter(coalesce(col("deleted"), lit(false)) === lit(false))
        val live = if (hasTombs) live0.join(tombs, Seq("vec_id"), "left_anti") else live0
        if (!live.isEmpty) {
        val e = graft.Fanout.byKey(dropVectors(live), col("vec_id"))
        val pre = store
        (pre.latest match {
          case None =>
          // cold start: train + commit generation 0 from this drop alone.
          // Enforce the scaladoc contract LOUDLY (r14 advice): a first
          // drop under k vectors would silently commit an under-sized
          // codebook (kmeansIvfRefresh only requires n > 0) and every
          // later generation would inherit the missing cells.
          val n = e.count()
          require(n >= k,
            s"annIngestStream($dropDir): cold-start drop carries $n vector(s) < k=$k — " +
            "the first drop must train a full codebook")
          val (assigned, cents, _) =
            graft.operators.Similarity.kmeansIvfRefresh(e, None, k, tolPpm, maxRounds)
          CommitEpoch.commit(fs, dir, pre.deltas)(writeIvfGeneration(_, assigned, cents,
            CommitEpoch.widthFor(fs, pre.deltas, s)))
          case Some(latest) =>
          val cents = s.read.parquet(new Path(latest, "centroids").toString)
          // REPLAY IDEMPOTENCE across the branch switch (r14 advice): a
          // crash after a commit but before the checkpoint commit
          // replays this batch down a DIFFERENT branch (cold→steady, or
          // refresh→steady against the new generation), and the replayed
          // delta's vectors are already in the committed postings — which
          // no reader re-distincts (unlike compactEdges). Anti-join the
          // batch against the current generation's membership (one
          // column-pruned vec_id scan) so a replayed batch writes an
          // EMPTY delta instead of folding duplicates into every future
          // generation. Contract: vec_ids are append-only/immutable — a
          // re-shipped vec_id is a replay, never an upsert.
          val postedIds = s.read.parquet(new Path(latest, "postings").toString)
            .select(col("vec_id"))
          graft.operators.Similarity
            .assignToCents(e.join(postedIds, Seq("vec_id"), "left_anti"), cents)
            .select(col("cid"), col("vec_id"), col("v"))
            .write.mode("overwrite").parquet(new Path(dir, s"batch_$batchId").toString)
          if (refreshEvery > 0 && batchId % refreshEvery == 0) {
            // fresh listing: the refresh folds in the delta just written.
            // Belt-and-braces for the rename→delete crash window (a
            // consumed delta lingering next to the generation that
            // absorbed it): keep ONE copy per vec_id, newest first
            // (deltas outrank the generation; among deltas, higher batch
            // id wins) — under the append-only contract every copy
            // carries the same vector, so this only removes duplicates.
            val deltas = store.deltas
            val wLatest = org.apache.spark.sql.expressions.Window
              .partitionBy("vec_id").orderBy(col("pri").desc)
            val corpus = graft.operators.Similarity.withNrm(
              (new Path(latest, "postings") +: deltas).zipWithIndex.map { case (p, pri) =>
                s.read.parquet(p.toString)
                  .select(col("vec_id"), col("v")).withColumn("pri", lit(pri))
              }.reduce(_ unionByName _)
                .withColumn("rk", row_number().over(wLatest))
                .filter(col("rk") === 1))
            val (assigned, newCents, _) = graft.operators.Similarity
              .kmeansIvfRefresh(corpus, Some(cents), k, tolPpm, maxRounds)
            val consumed = deltas ++ pre.generations
            CommitEpoch.commit(fs, dir, consumed)(writeIvfGeneration(_, assigned, newCents,
              CommitEpoch.widthFor(fs, consumed, s)))
          }
        }): Unit // the cold branch's commit returns the generation
        }
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  // the (vec_id, embedding[, deleted]) drops both index streams watch;
  // `deleted` is the optional TOMBSTONE column (r15 verdict #1) — drops
  // written without it read as null (= insert)
  private val vectorDropSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("deleted", BooleanType)))

  // a drop's vectors as (vec_id, v, nrm)
  private def dropVectors(df: DataFrame): DataFrame =
    graft.operators.Similarity.withNrm(df.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v")))

  // one IVF generation's layout, written into `gen`: the postings
  // (cid, vec_id, v) by cid at `width`, and the centroids
  private def writeIvfGeneration(gen: org.apache.hadoop.fs.Path, assigned: DataFrame,
                                 cents: DataFrame, width: Int): Unit = {
    import org.apache.hadoop.fs.Path
    assigned.select(col("cid"), col("vec_id"), col("v"))
      .repartition(width, col("cid"))
      .write.mode("overwrite").parquet(new Path(gen, "postings").toString)
    cents.coalesce(1)
      .write.mode("overwrite").parquet(new Path(gen, "centroids").toString)
  }

  /** DELETE/TAKEDOWN door for the IVF index (r15 verdict #1): without
    * it a retired vector stays in the [[annIngestStream]] generation's
    * postings forever and keeps being returned by cell probes — the
    * band-index phantom-duplicate failure mode, vector-side. Folds the
    * current state through the [[annIndexSnapshot]] rule (so in the
    * commit's crash window the generation's cell wins over a lingering
    * delta's stale one), drops retired vec_ids, and commits the
    * survivors as a new generation under the SAME trained centroids
    * (cells shrink; the next warm refresh re-centers them), consuming
    * the folded state. Idempotent: retiring absent ids rewrites an
    * equivalent generation. */
  def retireIvfVectors(s: SparkSession, indexDir: String, retired: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.plans.CommitEpoch
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val store = CommitEpoch.list(fs, dir)
    val kept = ivfSnapshot(s, indexDir, store)
      .join(retired.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
    val cents = s.read.parquet(new Path(store.latest.get, "centroids").toString)
    val consumed = store.deltas ++ store.generations
    CommitEpoch.commit(fs, dir, consumed)(
      writeIvfGeneration(_, kept, cents, CommitEpoch.widthFor(fs, consumed, s)))
  }

  /** The [[annIngestStream]] reader contract made CODE (r14 verdict #6 —
    * the one commit-protocol claim that had no spec): a CONSISTENT
    * vector→cell snapshot of the index at ANY commit instant. Pick the
    * max-seq generation plus the `batch_*` deltas, then keep ONE row per
    * vec_id with the GENERATION copy winning: mid-refresh (post-rename,
    * deltas not yet deleted) every delta vector is already in the new
    * generation's postings — trained centroids supersede the delta's
    * old-generation assignment — so the dedup collapses the "both"
    * window to exactly the new generation; pre-rename the generation and
    * deltas are disjoint (the steady-state anti-join) and post-delete
    * only the generation remains. All three instants yield a complete,
    * single-generation-consistent relation — StreamingSpec pins each via
    * the midCommitHook seam. A delta listed but deleted before its read
    * surfaces as a read error: retry the snapshot (stated contract). */
  def annIndexSnapshot(s: SparkSession, indexDir: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    ivfSnapshot(s, indexDir, graft.plans.CommitEpoch.list(fs, dir))
  }

  // the annIndexSnapshot fold over one listing of the store
  private def ivfSnapshot(s: SparkSession, indexDir: String,
                          store: graft.plans.CommitEpoch.Listing): DataFrame = {
    require(store.latest.nonEmpty, s"$indexDir: no committed generation")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("pri").desc)
    ((new org.apache.hadoop.fs.Path(store.latest.get, "postings"), 1) +: store.deltas.map((_, 0)))
      .map { case (p, pri) =>
        s.read.parquet(p.toString)
          .select(col("vec_id"), col("cid"), col("v")).withColumn("pri", lit(pri))
      }
      .reduce(_ unionByName _)
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select("vec_id", "cid", "v")
  }

  /** Streaming kNN-GRAPH maintenance — the graph index's streaming door
    * (r14 verdict #2; completes the lifecycle ledger: dedup has band
    * compaction, IVF has [[annIngestStream]], ranks have warm refresh).
    * `indexDir` is a [[graft.plans.CommitEpoch]] generation store. Watches
    * `dropDir` for (vec_id, embedding) parquet drops; per micro-batch
    * (exactly-once via the checkpoint's file accounting):
    *
    *  - **cold start** (no generation): [[graft.operators.Similarity
    *    .buildGraphIndex]] over the first drop — NN-descent build, then
    *    edges + hubs + buckets + VECTORS commit as one generation
    *    (`persistVectors`: the streaming index is self-contained, so
    *    insert-by-search can exact-score without an external table).
    *  - **steady state — INSERT-BY-SEARCH** ([[graft.operators
    *    .Similarity.insertBySearch]]): each new vector searches the
    *    current graph (generation ∪ delta edges) for its `kLink`
    *    nearest and links both directions; the delta
    *    (`batch_<id>/{edges,vectors,buckets}`, idempotent name) appends
    *    without touching committed state. The walk corpus includes the
    *    batch, so intra-batch neighbors link through the bucket entry.
    *    This is ALSO the honest test of the r14 navigability lesson:
    *    early inserts link across what later becomes long range, the
    *    construction HNSW's greedy descent needs (the post-hoc layered
    *    hierarchy measured recall 0.135; SCALE.md §Round-15 probes
    *    measures this path).
    *  - **refresh** (every `refreshEvery`-th batch): COMPACTION, not a
    *    rebuild — preserving the incrementally-grown links is the point.
    *    Generation ∪ deltas union-distinct, DEGREE-PRUNED to each
    *    vertex's `maxDegree` best by exact cosine (HNSW's M: hot
    *    vertices accumulate in-links without bound and walk cost is
    *    frontier × out-degree per round — [[graft.operators.Similarity
    *    .pruneDegree]]; 0 disables), hubs recomputed from the compacted
    *    relation, committed as a new generation that consumes the deltas
    *    and superseded generations.
    *
    * Replay idempotence (the annIngestStream discipline): the batch is
    * anti-joined against the index's vec_ids before linking, so a
    * replayed batch writes an EMPTY delta; delta names are batch-id
    * idempotent. Reader caveat: edges may carry duplicates in the store's
    * "both" window — every consumer here
    * re-distincts or tolerates multiplicity (the walk's candidate set is
    * DISTINCT by construction). Vec_ids are append-only/immutable. */
  def knnIngestStream(s: SparkSession, dropDir: String, indexDir: String,
                      checkpoint: String, kRand: Int = 4, kBuild: Int = 8,
                      buildRounds: Int = 2, kLink: Int = 8, beam: Int = 8,
                      walkRounds: Int = 4, sigBits: Int = 8, nEntries: Int = 4,
                      refreshEvery: Int = 16, maxDegree: Int = 32,
                      maxLevels: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.hadoop.fs.Path
    import graft.plans.CommitEpoch
    import graft.operators.Similarity
    // a (vec_id, deleted=true) row retires the vector — bucket rows and
    // every touching edge drop, orphaned neighbors re-link
    // ([[graft.operators.Similarity.retireGraphVectors]])
    s.readStream.format("parquet").schema(vectorDropSchema).load(dropDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
        val dir = new Path(indexDir)
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(dir)
        def store = CommitEpoch.list(fs, dir)
        // TOMBSTONES first (r15 verdict #1): retire against the
        // pre-batch state (prune + heal + recommit, consuming deltas),
        // then insert the live rows; the tombstone wins within a batch.
        // A replayed tombstone retires already-absent ids — prunes
        // nothing, orphans nobody, rewrites an equivalent generation.
        val tombs = batch.filter(col("deleted") === true).select("vec_id")
        val hasTombs = !tombs.isEmpty
        if (hasTombs && store.latest.nonEmpty)
          Similarity.retireGraphVectors(s, indexDir, tombs,
            kLink, beam, walkRounds, sigBits, nEntries,
            corpusMin = Long.MinValue)
        val live0 = batch.filter(coalesce(col("deleted"), lit(false)) === lit(false))
        val live = if (hasTombs) live0.join(tombs, Seq("vec_id"), "left_anti") else live0
        if (!live.isEmpty) {
        val e = graft.Fanout.byKey(dropVectors(live), col("vec_id"))
        val pre = store
        (pre.latest match {
          case None =>
          val n = e.count()
          require(n >= 2,
            s"knnIngestStream($dropDir): cold-start drop carries $n vector(s) — " +
            "a graph needs at least 2")
          // the build's commit consumes any stale delta
          Similarity.buildGraphIndex(e, indexDir,
            kRand, kBuild, buildRounds, sigBits, nEntries,
            corpusMin = Long.MinValue, persistVectors = true,
            maxLevels = maxLevels)
          case Some(latest) =>
          // REPLAY DETERMINISM (r15 advice): exclude this batch's OWN
          // stale delta from every pre-insert input. A crash after the
          // delta write but before the checkpoint commit replays this
          // batch with batch_<id> already on disk — anti-joining the
          // batch against its own previous output would make `b` EMPTY
          // and overwrite the delta with empty files, permanently losing
          // the batch's vectors and edges (the source drop is already
          // marked consumed). Excluded, the replay recomputes the same
          // delta from the same pre-batch state and whole-replaces
          // batch_<id> — a deterministic rewrite, the annIngestStream
          // discipline (StreamingSpec's deleted-commit replay twin).
          val prior = latest +: pre.deltas.filter(_.getName != s"batch_$batchId")
          def part(name: String) = CommitEpoch.readPart(s, fs, prior, name)
          val vectors = part("vectors").get
          // replay idempotence: drop vec_ids the index already holds
          val b = graft.Fence.cut(
            e.join(vectors.select("vec_id"), Seq("vec_id"), "left_anti"))
          val gu = part("edges").get
          val buckets = part("buckets").get
            .unionByName(b.select(col("vec_id").as("cid"),
              Similarity.lshBucket(col("v"), sigBits).as("bucket")))
          val eAll = Similarity.withNrm(vectors).unionByName(b)
          val newEdges = Similarity.insertBySearch(
            eAll, gu, buckets, s.read.parquet(new Path(latest, "hubs").toString), b,
            kLink, beam, walkRounds, sigBits)
          val out = new Path(dir, s"batch_$batchId")
          newEdges.write.mode("overwrite").parquet(new Path(out, "edges").toString)
          b.select(col("vec_id"), col("v"))
            .write.mode("overwrite").parquet(new Path(out, "vectors").toString)
          b.select(col("vec_id").as("cid"),
              Similarity.lshBucket(col("v"), sigBits).as("bucket"))
            .write.mode("overwrite").parquet(new Path(out, "buckets").toString)
          // UPPER HNSW LAYERS, maintained insert-by-search (r15 verdict
          // #3): every batch member of layer ℓ ≥ 1 searches the current
          // layer-ℓ graph and links — the construction whose absence
          // made global-entry recall collapse at scale (a fixed flat
          // walk covers a constant COUNT; the descent's budget grows
          // with the populated layers). Level = pure function of
          // vec_id, so replays assign identically.
          if (maxLevels > 1) {
            val levEdges = part("edges_hi").getOrElse(Similarity.emptyLevEdges(s))
            val newHi = Similarity.insertBySearchUpper(
              eAll, levEdges, buckets, b, kLink, beam, walkRounds, sigBits, maxLevels)
            newHi.write.mode("overwrite").parquet(new Path(out, "edges_hi").toString)
            graft.Fence.releaseCut(newHi)
          }
          graft.Fence.releaseCut(newEdges); graft.Fence.releaseCut(b)
          if (refreshEvery > 0 && batchId % refreshEvery == 0) {
            // compaction refresh: union-distinct edges, DEGREE-PRUNE
            // (HNSW's M — insert-by-search grows hot vertices' in-links
            // without bound and walk cost per round is frontier ×
            // out-degree, so the compacted relation keeps each vertex's
            // maxDegree best by exact cosine), recompute hubs — the
            // incremental links SURVIVE (a rebuild would discard the
            // insert-by-search construction this stream exists to grow)
            // fresh listing: the refresh folds in the delta this batch
            // just wrote (prior excludes it by design)
            val allDeltas = store.deltas
            def allPart(name: String) = CommitEpoch.readPart(s, fs, latest +: allDeltas, name)
            // belt-and-braces for the rename→delete crash window (r15
            // advice): after a crash between the generation rename and
            // the consumed-delta delete, a stale delta's vectors are
            // ALREADY in the renamed generation — folding them in again
            // would commit permanent duplicate vector/bucket rows that
            // compound across refreshes and eat pruneDegreeDiverse
            // degree slots. Keep one copy per key: under the append-only
            // vec_id contract every copy carries the same vector, and a
            // bucket is a pure function of the vector, so the dedup only
            // removes duplicates (the annIngestStream refresh rank-1
            // pattern; edges already union via distinct()).
            val allVecs = allPart("vectors").get.dropDuplicates("vec_id")
            val unioned = allPart("edges").get.distinct()
            // DIVERSITY-heuristic prune, not plain top-M: similarity-
            // ranked pruning cuts the long-range links first and
            // collapses global-entry navigability (measured 0.495 →
            // 0.100 at the 50k probe shape — SCALE.md r15). Fenced once:
            // the writer reads it for the width, the hubs and the edges.
            val allEdges = graft.Fence.counted(
              if (maxDegree > 0) Similarity.pruneDegreeDiverse(unioned, allVecs, maxDegree)
              else unioned, cut = true)
            val allBuckets = allPart("buckets").get.dropDuplicates("cid")
            // upper layers: fold + per-layer diversity prune (layers
            // halve, so the whole pass costs ~1× the base prune)
            val allHi: Option[DataFrame] = if (maxLevels <= 1) None else {
              val emptyHi = Similarity.emptyLevEdges(s)
              val unionedHi = allPart("edges_hi").getOrElse(emptyHi).distinct()
              Some(if (maxDegree > 0) {
                (1 until maxLevels).map { l =>
                  Similarity.pruneDegreeDiverse(
                      unionedHi.filter(col("lvl") === l).select("vid", "nb"),
                      allVecs, maxDegree)
                    .select(lit(l).as("lvl"), col("vid"), col("nb"))
                }.reduceOption(_ unionByName _).getOrElse(emptyHi)
              } else unionedHi)
            }
            CommitEpoch.commit(fs, dir, allDeltas ++ pre.generations)(
              Similarity.writeGraphGeneration(_, allEdges, nEntries, Long.MinValue,
                allBuckets, Some(allVecs), allHi))
            graft.Fence.releaseCut(allEdges.df)
          }
        }): Unit // the cold branch's commit returns the generation
        }
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  case class Evt(user_id: Long, event_id: Long, tsMicros: Long, value: Double)
  case class Session(user_id: Long, n_events: Long, first_id: Long, last_id: Long, total: Double)

  /** Custom streaming state: per-user sessionization via
    * flatMapGroupsWithState — emits a session when the user goes quiet for
    * `gapMicros` of event time. State per key is O(1) (counters only), the
    * canonical KeyValueGroupedDataset state pattern the engine exposes for
    * stateful operators the built-in windows can't express. */
  def sessionize(events: DataFrame, gapMicros: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events.select(
      col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tsMicros"), col("value")).as[Evt]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Double), Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, evts, state: GroupState[(Long, Long, Long, Long, Double)]) =>
          // state = (n, firstId, lastId, lastTs, total)
          var st = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue, Long.MinValue, 0.0))
          val out = scala.collection.mutable.ListBuffer.empty[Session]
          evts.toSeq.sortBy(_.event_id).foreach { e =>
            if (st._1 > 0 && e.tsMicros - st._4 > gapMicros) {
              out += Session(uid, st._1, st._2, st._3, st._5)
              st = (0L, Long.MaxValue, Long.MinValue, Long.MinValue, 0.0)
            }
            st = (st._1 + 1, math.min(st._2, e.event_id), math.max(st._3, e.event_id),
                  e.tsMicros, st._5 + e.value)
          }
          state.update(st)
          out.iterator
      }
      .toDF()
  }
}

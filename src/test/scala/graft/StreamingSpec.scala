package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streams

/** Streaming wiring proof (SURVEY §2.9/§7.4): the AvailableNow file stream
  * over the same events parquet must reproduce the batch aggregation. */
class StreamingSpec extends SparkSpec {

  private def stageEventsDir(): String = {
    val dir = Files.createTempDirectory("graft_stream_src")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("AvailableNow tumbling-window stream equals the batch aggregation") {
    val src = stageEventsDir()
    val q = Streams.tumblingCounts(Streams.readEvents(spark, src))
      .writeStream
      .format("memory")
      .queryName("tumbling_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // Append mode emits a window only once the watermark passes it; the
    // trailing window(s) stay in state. Compare below the cutoff.
    val cutoff = Tables.events(spark, sf)
      .agg(date_trunc("hour", max(col("ts")) - expr("INTERVAL 1 HOUR")).as("c"))
      .collect().head.getTimestamp(0)

    val streamed = spark.table("tumbling_test")
      .select("ws", "event_type", "n", "sum_value")
      .filter(col("ws") < lit(cutoff))
      .orderBy("ws", "event_type").collect()

    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .filter(col("ws") < lit(cutoff))
      .orderBy("ws", "event_type").collect()

    assert(streamed.length > 0)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("readEvents starts on an EMPTY landing dir and picks up files that arrive later") {
    // the start-stream-then-files-arrive pattern: schema inference has
    // nothing to probe, so readEvents falls back to the landing schema
    val dir = Files.createTempDirectory("graft_stream_empty")
    val stream = Streams.readEvents(spark, dir.toString) // must not throw
    assert(stream.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // files land after the stream was defined; a run then sees them
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    val q = stream.groupBy().count()
      .writeStream.format("memory").queryName("landing_test")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("landing_test").collect().head.getLong(0)
    assert(n === Tables.events(spark, sf).count())
  }

  test("dropDuplicatesWithinWatermark collapses a fully re-delivered stream") {
    // deliver the identical parquet TWICE (at-least-once redelivery); the
    // keyed dedup must emit each event exactly once
    val dir = Files.createTempDirectory("graft_stream_dup")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"),
               StandardCopyOption.REPLACE_EXISTING)
    val q = Streams.dedupEvents(Streams.readEvents(spark, dir.toString))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_test")
    val expected = Tables.events(spark, sf).count()
    assert(streamed.count() === expected, "each event exactly once despite double delivery")
    assert(streamed.select("event_id").distinct().count() === expected)
  }

  test("sliding windows double-count each event across overlapping windows") {
    val src = stageEventsDir()
    val q = Streams.slidingCounts(Streams.readEvents(spark, src))
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val emitted = spark.table("sliding_test")
    assert(emitted.count() > 0)
    // every emitted window is exactly 1 hour long on a 30-minute boundary
    val bad = emitted.filter(
      unix_timestamp(col("we")) - unix_timestamp(col("ws")) =!= 3600 ||
      unix_timestamp(col("ws")) % 1800 =!= 0).count()
    assert(bad === 0)
  }

  test("session_window groups per-user bursts with a gap bound") {
    val src = stageEventsDir()
    val q = Streams.sessionWindows(Streams.readEvents(spark, src), "2 hours")
      .writeStream.format("memory").queryName("sesswin_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("sesswin_test").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("we").getTime >
             r.getAs[java.sql.Timestamp]("ws").getTime)
      assert(r.getAs[Long]("n_events") > 0)
    }
  }

  test("streaming parquet sink partitioned by key writes prunable directories") {
    val src = stageEventsDir()
    val out = Files.createTempDirectory("graft_stream_out").toString
    val chk = Files.createTempDirectory("graft_stream_chk").toString
    val agg = Streams.readEvents(spark, src)
      .select(col("event_id"), col("event_type"), col("value"))
    val q = Streams.partitionedParquetSink(agg, out, chk)
    q.awaitTermination(120000)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("event_type=")).map(_.getName).sorted
    assert(dirs.nonEmpty, "expected event_type= partition directories")
    val readBack = spark.read.parquet(out)
    assert(readBack.count() === Tables.events(spark, sf).count())
  }

  test("stream-stream interval join matches the batch join exactly") {
    val src = stageEventsDir()
    val q = Streams.clickToPurchase(Streams.readEvents(spark, src))
      .select("click_id", "purchase_id")
      .writeStream
      .format("memory")
      .queryName("ssjoin_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssjoin_test").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet

    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") && col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet

    assert(streamed.nonEmpty, "interval join should match click->purchase pairs")
    assert(streamed === batch, s"stream ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("foreachBatch sink writes idempotent per-batch deltas that union to the stream output") {
    val src = stageEventsDir()
    val out = Files.createTempDirectory("graft_feb_out").toString
    val chk = Files.createTempDirectory("graft_feb_chk").toString
    val agg = Streams.tumblingCounts(Streams.readEvents(spark, src))
    val q = Streams.foreachBatchSink(agg, out, chk)
    q.awaitTermination(120000)

    val batchDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_"))
    assert(batchDirs.nonEmpty, "expected at least one batch_<id> delta")
    val nonEmpty = batchDirs.filter(d => d.listFiles().exists(_.getName.endsWith(".parquet")))
    val readBack = spark.read.parquet(nonEmpty.map(_.getPath): _*)
    // append mode: emitted rows are exactly the watermark-passed windows —
    // same contract as the memory sink, so validate against the batch agg
    val cutoff = Tables.events(spark, sf)
      .agg(date_trunc("hour", max(col("ts")) - expr("INTERVAL 1 HOUR")).as("c"))
      .collect().head.getTimestamp(0)
    val expected = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .filter(col("ws") < lit(cutoff))
    val got = readBack.select("ws", "event_type", "n").filter(col("ws") < lit(cutoff))
    assert(got.orderBy("ws", "event_type").collect().map(_.toString).toSeq ===
           expected.orderBy("ws", "event_type").collect().map(_.toString).toSeq)
  }

  test("flatMapGroupsWithState sessionization: totals conserve events and values") {
    val src = stageEventsDir()
    val q = Streams.sessionize(Streams.readEvents(spark, src), gapMicros = 3600L * 1000000)
      .writeStream
      .format("memory")
      .queryName("sessions_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val sessions = spark.table("sessions_test").collect()
    // closed sessions only (state holds each user's trailing session), so
    // bounds — not equality — against the raw table:
    val totalEvents = sessions.map(_.getAs[Long]("n_events")).sum
    val nRaw = Tables.events(spark, sf).count()
    assert(totalEvents <= nRaw)
    assert(sessions.forall(s => s.getAs[Long]("first_id") <= s.getAs[Long]("last_id")))
  }

  test("streaming incremental dedup: cross-crawl hits equal the batch index probe exactly") {
    import graft.operators.Dedup
    val landing = Files.createTempDirectory("graft_dedup_landing").toString
    val index = Files.createTempDirectory("graft_dedup_index").resolve("idx").toString
    val hits = Files.createTempDirectory("graft_dedup_hits").toString
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")

    // crawl 1 = the %5!=0 corpus side; crawl 2 = the %5==0 batch side —
    // the exact split q_dedup_incremental uses, so the streamed result
    // has a closed-form batch twin
    docs.filter(col("doc_id") % 5 =!= 0).coalesce(1).write.mode("append").parquet(landing)
    Streams.dedupStream(spark, landing, index, hits, ckpt).awaitTermination(120000)
    docs.filter(col("doc_id") % 5 === 0).coalesce(1).write.mode("append").parquet(landing)
    Streams.dedupStream(spark, landing, index, hits, ckpt).awaitTermination(120000)

    // first crawl probed an empty index: no hits delta; second crawl's
    // delta must match the batch query row for row
    assert(!new java.io.File(s"$hits/batch_0").exists(),
      "first crawl has no prior index — must write no hits")
    val streamed = spark.read.parquet(s"$hits/batch_1")
      .orderBy("doc_id").collect().map(_.toString)
    val batch = Dedup.qDedupIncremental(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      s"streamed hits (${streamed.length}) != batch probe (${batch.length})")
    // and the index now carries every crawl's bands — restart-safe state
    val idxDocs = spark.read.option("recursiveFileLookup", "true").parquet(index)
      .select(countDistinct(col("doc_id"))).head().getLong(0)
    assert(idxDocs === docs.count(), "index must accumulate all crawled docs' bands")
  }

  test("streaming crawl ingest: WARC drops decode once, dedup cross-crawl, discovery never reads bytes") {
    import graft.operators.Dedup
    import graft.sources.Warc
    val warcDir = Files.createTempDirectory("graft_crawl_landing").toString
    val docsOut = Files.createTempDirectory("graft_crawl_docs").toString
    val index = Files.createTempDirectory("graft_crawl_index").resolve("idx").toString
    val hits = Files.createTempDirectory("graft_crawl_hits").toString
    val ckpt = Files.createTempDirectory("graft_crawl_ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")

    // a crawler "ships" a crawl: export to staging, rename into the
    // watched dir (atomic-appearance convention for file sources)
    def ship(crawl: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_crawl_stage_$tag").toString
      Warc.writeWarc(crawl, staging, partitions = 4)
      new java.io.File(staging).listFiles()
        .filter(f => !f.getName.startsWith(".")) // skip Hadoop local .crc sidecars
        .foreach { f =>
          Files.move(f.toPath, Paths.get(warcDir, s"$tag-${f.getName}"))
        }
    }
    // same corpus split as the dedupStream test: crawl 1 = %5!=0,
    // crawl 2 = %5==0 — cross-crawl near-dups exist by construction
    ship(docs.filter(col("doc_id") % 5 =!= 0), "c1")
    Streams.crawlStream(spark, warcDir, docsOut, index, hits, ckpt,
      splitBytes = 32L << 10).awaitTermination(180000)
    ship(docs.filter(col("doc_id") % 5 === 0), "c2")
    Streams.crawlStream(spark, warcDir, docsOut, index, hits, ckpt,
      splitBytes = 32L << 10).awaitTermination(180000)

    // discovery stream reads listings, not archive bytes: the pruned
    // binaryFile scan must not materialize the `content` column
    val probe = spark.read.format("binaryFile").load(warcDir)
      .select("path", "length")
    assert(!probe.queryExecution.executedPlan.toString.contains("content"),
      "discovery scan must prune binaryFile content")

    // the documents the WARC round-trip preserves: urn-wrapped id,
    // whitespace-collapsed text (the qWarcDocuments oracle transform)
    val asShipped = docs.select(
      concat(lit("<urn:graft:doc:"), col("doc_id"), lit(">")).as("doc_id"),
      trim(regexp_replace(col("text"), "\\s+", " ")).as("text"))
    val decodedBack = spark.read.option("recursiveFileLookup", "true").parquet(docsOut)
      .select("doc_id", "text")
    assert(decodedBack.orderBy("doc_id").collect().map(_.toString).toSeq ===
           asShipped.orderBy("doc_id").collect().map(_.toString).toSeq,
      "every crawl batch must decode to the exact documents increment")

    // crawl 1 probed an empty index → no hits; crawl 2's hits must equal
    // a first-principles batch twin built with the public band operator
    assert(!new java.io.File(s"$hits/batch_0").exists(),
      "first crawl has no prior index — must write no hits")
    val corpusBands = Dedup.minhashBands(
      asShipped.filter(expr("cast(regexp_extract(doc_id, ':([0-9]+)>$', 1) as bigint) % 5 != 0")))
    val batchBands = Dedup.minhashBands(
      asShipped.filter(expr("cast(regexp_extract(doc_id, ':([0-9]+)>$', 1) as bigint) % 5 == 0")))
    val twin = corpusBands.select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
      .join(batchBands.select(col("doc_id").as("new_id"), col("b"), col("bh")),
            Seq("b", "bh"))
      .groupBy(col("new_id").as("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"), countDistinct(col("b")).as("n_bands"))
    val streamed = spark.read.parquet(s"$hits/batch_1")
      .orderBy("doc_id").collect().map(_.toString)
    val want = twin.orderBy("doc_id").collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(want),
      s"streamed hits (${streamed.length}) != batch twin (${want.length})")

    // the index carries both crawls' bands — restart-safe corpus state
    val idxDocs = spark.read.option("recursiveFileLookup", "true").parquet(index)
      .select(countDistinct(col("doc_id"))).head().getLong(0)
    assert(idxDocs === docs.count(), "index must accumulate all crawled docs' bands")
  }

  test("streaming webgraph: WAT drops append edges; per-crawl ranks equal the batch recompute") {
    import graft.sources.Warc
    val watDir = Files.createTempDirectory("graft_wat_landing").toString
    val edgesOut = Files.createTempDirectory("graft_wat_edges").resolve("e").toString
    val ranks = Files.createTempDirectory("graft_wat_ranks").toString
    val ckpt = Files.createTempDirectory("graft_wat_ckpt").toString
    // two crawls over disjoint host slices: crawl 1 = even hosts, crawl 2
    // = odd hosts; each host links to (3h+1, 3h+2) mod 200
    def watJson(hosts: Seq[Long]) = {
      import spark.implicits._
      hosts.map { h =>
        val links = Seq((3 * h + 1) % 200, (3 * h + 2) % 200).filter(_ != h)
        (h, s"""{"host": $h, "links": [${links.mkString(", ")}]}""")
      }.toDF("doc_id", "text")
    }
    def ship(crawl: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_wat_stage_$tag").toString
      Warc.writeWat(crawl, staging, partitions = 2)
      new java.io.File(staging).listFiles()
        .filter(f => !f.getName.startsWith("."))
        .foreach(f => Files.move(f.toPath, Paths.get(watDir, s"$tag-${f.getName}")))
    }
    val c1 = (0L until 200L by 2)
    val c2 = (1L until 200L by 2)
    ship(watJson(c1), "c1")
    Streams.watStream(spark, watDir, edgesOut, ranks, ckpt,
      splitBytes = 4L << 10).awaitTermination(180000)
    ship(watJson(c2), "c2")
    Streams.watStream(spark, watDir, edgesOut, ranks, ckpt,
      splitBytes = 4L << 10).awaitTermination(180000)

    // edge increments decode exactly and accumulate both crawls
    val expected = (c1 ++ c2)
      .flatMap(h => Seq((h, (3 * h + 1) % 200), (h, (3 * h + 2) % 200)))
      .filter { case (a, b) => a != b }.distinct.sorted
    val streamedEdges = spark.read.option("recursiveFileLookup", "true")
      .parquet(edgesOut).distinct()
      .orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamedEdges.toSeq === expected,
      "accumulated edge relation must equal the shipped link set")

    // crawl-2 ranks = the public batch operator over the full edge set,
    // bit-exactly (ranks are a pure integer function of the edges)
    import spark.implicits._
    val batchRanks = graft.operators.Graph.pageRank(
        expected.toDF("src", "dst"), iters = 5)
      .orderBy("node").collect().map(_.toString)
    val crawl2 = new java.io.File(ranks).listFiles().map(_.getName).sorted.last
    val streamedRanks = spark.read.parquet(s"$ranks/$crawl2")
      .orderBy("node").collect().map(_.toString)
    assert(streamedRanks.sameElements(batchRanks),
      "per-crawl rank recompute must equal the batch twin bit-exactly")
  }

  test("streaming anomaly scoring: broadcast batch model flags the stream identically to the batch screen") {
    val src = stageEventsDir()
    // plant one event whose TYPE the model has never seen (r9 advice):
    // same physical schema as the staged corpus file (raw read/write, so
    // a legacy INT64-nanos ts round-trips bit-identically), sentinel id
    val raw = spark.read.parquet(s"$src/events.parquet")
    val unseenId = 999999999L
    raw.limit(1)
      .withColumn("event_id", lit(unseenId))
      .withColumn("event_type", lit("__unseen_type__"))
      .write.mode("append").parquet(src)
    val model = graft.operators.Aggregates.madModel(spark, sf)._2
    val q = Streams.anomalyStream(Streams.readEvents(spark, src), model)
      .writeStream.format("memory").queryName("anom_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("anom_test").collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("is_outlier"))) None
         else Some(r.getAs[Boolean]("is_outlier")))).toMap

    // batch truth: flag every raw event against the same collected model
    val m = model.collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Double]("med"), r.getAs[Double]("mad"))).toMap
    val expected: Map[Long, Option[Boolean]] = Tables.events(spark, sf)
      .select("event_id", "event_type", "value").collect()
      .map { r =>
        val (med, mad) = m(r.getAs[String]("event_type"))
        r.getAs[Long]("event_id") ->
          Some(math.abs(r.getAs[Double]("value") - med) > mad * 4.4478)
      }.toMap + (unseenId -> None)
    assert(streamed.size === expected.size,
      "every event scored exactly once — including the unknown-type event")
    assert(streamed === expected, "stream flags must equal the batch screen's")
    assert(streamed.valuesIterator.contains(Some(true)), "the corpus contains outliers")
    assert(streamed.valuesIterator.contains(Some(false)), "and inliers")
    assert(streamed(unseenId).isEmpty,
      "an event type absent from the model must surface as UNSCORABLE (null), not drop")
  }

  test("streaming interpolation emits per-cycle COGs that decode back value-exact") {
    import graft.operators.Interp
    import graft.plans.RasterSink
    val landing = Files.createTempDirectory("graft_cogstream_landing").toString
    val out = Files.createTempDirectory("graft_cogstream_out").toString
    val ckpt = Files.createTempDirectory("graft_cogstream_ckpt").toString
    val cells = Interp.cellMap(spark, Interp.K, Interp.G)
    val series = Interp.series(spark, Interp.K, Interp.T)
    val spec = Interp.gridSpec(Interp.nodes(spark, Interp.K), Interp.G)

    series.coalesce(1).write.mode("append").parquet(landing)
    Streams.interpStreamCogs(landing, cells, spec, out, ckpt).awaitTermination(120000)

    val files = new java.io.File(s"$out/batch_0").listFiles()
      .filter(_.getName.endsWith(".tiff"))
    assert(files.length === Interp.T, s"one COG per timestep: ${files.length}")

    // decode the stream's artifacts and compare to the batch raster,
    // Float32-rounded (the COG's sample format)
    val expected = Interp.joinSeriesGated(cells, series, small = false)
      .collect()
      .map(r => ((r.getAs[Long]("ts"), r.getAs[Int]("grow"), r.getAs[Int]("gcol")),
                 r.getAs[Double]("value").toFloat.toDouble)).toMap
    val back = RasterSink.readGeoTiffs(spark, s"$out/batch_0").collect()
    assert(back.length === Interp.T * Interp.G * Interp.G, "full grids decoded")
    var finite = 0
    back.foreach { r =>
      val key = (r.getAs[Long]("ts"), r.getAs[Int]("grow"), r.getAs[Int]("gcol"))
      val v = r.getAs[Double]("value")
      expected.get(key) match {
        case Some(e) => assert(v === e, s"cell $key"); finite += 1
        case None => assert(v.isNaN, s"unmapped cell $key must be NODATA")
      }
    }
    assert(finite === expected.size, "every interpolated cell reached a COG")
  }

  test("streaming interpolation: per-cycle micro-batches union to the batch raster, incrementally") {
    import graft.operators.Interp
    val landing = Files.createTempDirectory("graft_interp_landing").toString
    val out = Files.createTempDirectory("graft_interp_out").toString
    val ckpt = Files.createTempDirectory("graft_interp_ckpt").toString
    val cells = Interp.cellMap(spark, Interp.K, Interp.G)
    val series = Interp.series(spark, Interp.K, Interp.T)

    // cycle 1 lands: ts 0..1
    series.filter(col("ts") < 2).coalesce(1).write.mode("append").parquet(landing)
    Streams.interpStream(landing, cells, out, ckpt).awaitTermination(120000)
    // cycle 2 lands: ts 2; the restarted stream must process ONLY new files
    series.filter(col("ts") === 2).coalesce(1).write.mode("append").parquet(landing)
    Streams.interpStream(landing, cells, out, ckpt).awaitTermination(120000)

    val deltas = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_"))
    assert(deltas.length === 2, s"expected one delta per cycle: ${deltas.mkString(",")}")
    val second = spark.read.parquet(s"$out/batch_1")
    assert(second.select(countDistinct(col("ts"))).head().getLong(0) === 1L &&
           second.agg(min(col("ts"))).head().getLong(0) === 2L,
      "incremental run must carry only the newly landed cycle")

    // union of deltas == the batch engine over the full series, bit-equal
    // (same corner-explode pivot, same fixed-order FP sum)
    val streamed = spark.read.parquet(deltas.map(_.getPath).toIndexedSeq: _*)
      .collect().map(_.toString).sorted
    val batch = Interp.joinSeriesGated(cells, series, small = false)
      .collect().map(_.toString).sorted
    assert(streamed.length === batch.length && streamed.sameElements(batch),
      s"streamed union (${streamed.length}) != batch raster (${batch.length})")
  }

  test("edge compaction: batch subdirs collapse to one committed dir, relation and ranks unchanged, stranded tmp swept") {
    import graft.sources.Warc
    val watDir = Files.createTempDirectory("graft_cmp_landing").toString
    val edgesOut = Files.createTempDirectory("graft_cmp_edges").resolve("e").toString
    val ranks = Files.createTempDirectory("graft_cmp_ranks").toString
    val ckpt = Files.createTempDirectory("graft_cmp_ckpt").toString
    def watJson(hosts: Seq[Long]) = {
      import spark.implicits._
      hosts.map { h =>
        val links = Seq((3 * h + 1) % 200, (3 * h + 2) % 200).filter(_ != h)
        (h, s"""{"host": $h, "links": [${links.mkString(", ")}]}""")
      }.toDF("doc_id", "text")
    }
    def ship(hosts: Seq[Long], tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_cmp_stage_$tag").toString
      Warc.writeWat(watJson(hosts), staging, partitions = 2)
      new java.io.File(staging).listFiles()
        .filter(f => !f.getName.startsWith("."))
        .foreach(f => Files.move(f.toPath, Paths.get(watDir, s"$tag-${f.getName}")))
    }
    def run(): Unit =
      Streams.watStream(spark, watDir, edgesOut, ranks, ckpt,
          splitBytes = 4L << 10, compactEvery = 2)
        .awaitTermination(180000)
    val c1 = (0L until 200L by 2); val c2 = (1L until 200L by 2)
    val c3 = (0L until 200L by 3) // overlaps both: distinct must hold
    ship(c1, "c1"); run()
    // plant a stranded tmp from a "crashed" prior compaction
    val tmp = Paths.get(edgesOut, "_compact_999.tmp")
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve("junk"), "stranded")
    ship(c2, "c2"); run() // 2 batch subdirs >= compactEvery -> auto-compact
    val children = new java.io.File(edgesOut).listFiles().map(_.getName).sorted
    assert(children.length === 1 && children.head.startsWith("compacted_"),
      s"expected exactly one committed compaction dir, got ${children.mkString(",")}")
    def edgesOf(hosts: Seq[Long]) = hosts
      .flatMap(h => Seq((h, (3 * h + 1) % 200), (h, (3 * h + 2) % 200)))
      .filter { case (a, b) => a != b }.distinct
    val afterCompact = spark.read.option("recursiveFileLookup", "true")
      .parquet(edgesOut).distinct()
      .orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(afterCompact.toSeq === edgesOf(c1 ++ c2).sorted,
      "compaction must preserve the edge relation exactly")
    // the stream keeps working against the compacted layout: crawl 3's
    // refresh equals the batch operator over ALL shipped edges
    ship(c3, "c3"); run()
    import spark.implicits._
    val batchRanks = graft.operators.Graph.pageRank(
        edgesOf(c1 ++ c2 ++ c3).sorted.toDF("src", "dst"), iters = 5)
      .orderBy("node").collect().map(_.toString)
    val crawl3 = new java.io.File(ranks).listFiles().map(_.getName).sorted.last
    val streamedRanks = spark.read.parquet(s"$ranks/$crawl3")
      .orderBy("node").collect().map(_.toString)
    assert(streamedRanks.sameElements(batchRanks),
      "post-compaction rank refresh must equal the batch twin bit-exactly")
  }

  test("unified watched crawl: warc+wat then wet+wat drops yield docs + dedup hits + ranks + curation, each equal to its batch twin") {
    import graft.operators.{Dedup, Graph}
    import graft.sources.Warc
    import org.apache.spark.sql.expressions.Window
    val drop = Files.createTempDirectory("graft_uc_drop").toString
    val docsOut = Files.createTempDirectory("graft_uc_docs").resolve("d").toString
    val index = Files.createTempDirectory("graft_uc_index").resolve("idx").toString
    val hits = Files.createTempDirectory("graft_uc_hits").toString
    val edgesOut = Files.createTempDirectory("graft_uc_edges").resolve("e").toString
    val ranks = Files.createTempDirectory("graft_uc_ranks").toString
    val curate = Files.createTempDirectory("graft_uc_curate").toString
    val ckpt = Files.createTempDirectory("graft_uc_ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def watJson(hosts: Seq[Long]) = {
      import spark.implicits._
      hosts.map { h =>
        val links = Seq((3 * h + 1) % 200, (3 * h + 2) % 200).filter(_ != h)
        (h, s"""{"host": $h, "links": [${links.mkString(", ")}]}""")
      }.toDF("doc_id", "text")
    }
    def shipInto(stage: String => Unit, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_uc_stage_$tag").toString
      stage(staging)
      new java.io.File(staging).listFiles()
        .filter(f => !f.getName.startsWith("."))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag-${f.getName}")))
    }
    // the doc-id → WAT-host-space alignment for this fixture
    val host = expr("CAST(regexp_extract(doc_id, ':([0-9]+)>$', 1) AS BIGINT) % 200")
    val c1h = (0L until 200L by 2); val c2h = (1L until 200L by 2)
    def run(): Unit =
      Streams.watchedCrawlStream(spark, drop, docsOut, index, hits, edgesOut,
          ranks, curate, ckpt, hostOf = host, splitBytes = 32L << 10)
        .awaitTermination(240000)
    // crawl 1 ships raw WARC (own htmlToText extraction); crawl 2 ships
    // WET (the upstream extractor's conversion records) — the unified
    // door must ingest either text deliverable into the SAME corpus
    shipInto(d => Warc.writeWarc(docs.filter(col("doc_id") % 5 =!= 0), d, partitions = 4), "c1w")
    shipInto(d => Warc.writeWat(watJson(c1h), d, partitions = 2), "c1m")
    run()
    shipInto(d => Warc.writeWet(docs.filter(col("doc_id") % 5 === 0), d, partitions = 4), "c2w")
    shipInto(d => Warc.writeWat(watJson(c2h), d, partitions = 2), "c2m")
    run()

    def rows(df: org.apache.spark.sql.DataFrame, keys: String*): Seq[String] =
      df.orderBy(keys.map(col): _*).collect().map(_.toString).toSeq

    // twin inputs: crawl 1 round-trips through WARC (htmlToText collapses
    // whitespace), crawl 2 through WET (conversion payload is the text
    // VERBATIM) — the twin corpus mirrors each deliverable's contract
    // WARC response records carry <urn:graft:doc:N> ids; WET conversion
    // records carry <urn:graft:wet:N> (WARC-Refers-To links them)
    val asShipped = docs.filter(col("doc_id") % 5 =!= 0)
      .select(concat(lit("<urn:graft:doc:"), col("doc_id"), lit(">")).as("doc_id"),
              trim(regexp_replace(col("text"), "\\s+", " ")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select(concat(lit("<urn:graft:wet:"), col("doc_id"), lit(">")).as("doc_id"),
                col("text")))
    def edgesOf(hosts: Seq[Long]) = hosts
      .flatMap(h => Seq((h, (3 * h + 1) % 200), (h, (3 * h + 2) % 200)))
      .filter { case (a, b) => a != b }.distinct.sorted
    import spark.implicits._

    // 1. documents: both increments together decode to the full corpus
    assert(rows(spark.read.option("recursiveFileLookup", "true").parquet(docsOut)
             .select("doc_id", "text"), "doc_id") ===
           rows(asShipped, "doc_id"),
      "accumulated document increments must equal the shipped corpus")

    // 2. dedup hits: crawl 1 probes an empty index (no delta); crawl 2's
    // delta equals the band twin over crawl-1 corpus vs crawl-2 batch
    assert(!new java.io.File(s"$hits/batch_0").exists(),
      "first crawl has no prior index — must write no hits")
    val isC2 = "cast(regexp_extract(doc_id, ':([0-9]+)>$', 1) as bigint) % 5 == 0"
    val twinHits = Dedup.minhashBands(asShipped.filter(not(expr(isC2))))
      .select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
      .join(Dedup.minhashBands(asShipped.filter(expr(isC2)))
              .select(col("doc_id").as("new_id"), col("b"), col("bh")),
            Seq("b", "bh"))
      .groupBy(col("new_id").as("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"), countDistinct(col("b")).as("n_bands"))
    assert(rows(spark.read.parquet(s"$hits/batch_1"), "doc_id") ===
           rows(twinHits, "doc_id"), "crawl-2 hits must equal the band twin")

    // 3. ranks: each crawl's refresh equals the batch operator over the
    // edges shipped SO FAR, bit-exactly
    def twinCurate(hosts: Seq[Long], corpus: org.apache.spark.sql.DataFrame) = {
      val r = Graph.pageRank(edgesOf(hosts).toDF("src", "dst"), iters = 5)
      val rk = r.withColumn("rk",
        row_number().over(Window.orderBy(col("rank").desc, col("node"))).cast("long"))
      val mx = rk.agg(max(col("rk")).as("mx"))
      (r, corpus.select(host.as("node"), col("doc_id"))
        .groupBy("node").agg(count(lit(1)).as("n_docs"))
        .join(rk, "node").crossJoin(broadcast(mx))
        .select(col("node"), col("rank").as("rank_fp"), col("rk"), col("n_docs"),
                (col("rk") * 2 <= col("mx")).cast("long").as("kept")))
    }
    val (ranks1, curate1) = twinCurate(c1h, asShipped.filter(not(expr(isC2))))
    val (ranks2, curate2) = twinCurate(c1h ++ c2h, asShipped)
    assert(rows(spark.read.parquet(s"$ranks/crawl_0"), "node") === rows(ranks1, "node"),
      "crawl-1 ranks must equal the batch twin over crawl-1 edges")
    assert(rows(spark.read.parquet(s"$ranks/crawl_1"), "node") === rows(ranks2, "node"),
      "crawl-2 ranks must equal the batch twin over both crawls' edges")

    // 4. curation decision table: per crawl, bit-equal to the twin built
    // from the corpus-so-far and the refreshed ranks
    assert(rows(spark.read.parquet(s"$curate/crawl_0"), "node") === rows(curate1, "node"),
      "crawl-1 curation must equal its batch twin")
    assert(rows(spark.read.parquet(s"$curate/crawl_1"), "node") === rows(curate2, "node"),
      "crawl-2 curation must equal its batch twin")
  }

  test("unified crawl: a catch-up batch mixing crawl-A WARC with crawl-B WET loses neither; same-crawl warc+wet does not double-ingest") {
    import graft.sources.Warc
    // the r13 ADVICE hazard: AvailableNow catch-up (or restart replay)
    // puts a WARC from one crawl and a WET from ANOTHER in the same
    // micro-batch; the old batch-level "warc wins" rule dropped the WET
    // crawl's documents forever (the checkpoint marks the files consumed)
    val drop = Files.createTempDirectory("graft_mx_drop").toString
    val docsOut = Files.createTempDirectory("graft_mx_docs").resolve("d").toString
    val index = Files.createTempDirectory("graft_mx_index").resolve("idx").toString
    val hits = Files.createTempDirectory("graft_mx_hits").toString
    val edgesOut = Files.createTempDirectory("graft_mx_edges").resolve("e").toString
    val ranks = Files.createTempDirectory("graft_mx_ranks").toString
    val curate = Files.createTempDirectory("graft_mx_curate").toString
    val ckpt = Files.createTempDirectory("graft_mx_ckpt").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def shipInto(stage: String => Unit, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_mx_stage_$tag").toString
      stage(staging)
      new java.io.File(staging).listFiles()
        .filter(f => !f.getName.startsWith("."))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag-${f.getName}")))
    }
    def run(): Unit =
      Streams.watchedCrawlStream(spark, drop, docsOut, index, hits, edgesOut,
          ranks, curate, ckpt, splitBytes = 32L << 10)
        .awaitTermination(240000)
    def idsIn(dir: String): Seq[String] =
      spark.read.parquet(dir).select("doc_id").orderBy("doc_id")
        .collect().map(_.getString(0)).toSeq
    def expect(df: org.apache.spark.sql.DataFrame, ns: String): Seq[String] =
      df.select(concat(lit(s"<urn:graft:$ns:"), col("doc_id"), lit(">")).as("id"))
        .orderBy("id").collect().map(_.getString(0)).toSeq

    // ONE batch: crawl A ships raw WARC, crawl B ships WET
    val a = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") < 200)
    val b = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 200)
    shipInto(d => Warc.writeWarc(a, d, partitions = 2), "ca")
    shipInto(d => Warc.writeWet(b, d, partitions = 2), "cb")
    run()
    assert(idsIn(s"$docsOut/batch_0") === (expect(a, "doc") ++ expect(b, "wet")).sorted,
      "a mixed batch must ingest the WARC crawl AND the WET crawl")

    // next batch: ONE crawl shipping BOTH deliverables — the WET records'
    // own WARC-Refers-To names responses decoded from this batch's WARCs,
    // so only the WARC-extracted text ingests (no double-ingest)
    val c = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") >= 200 && col("doc_id") < 300)
    shipInto(d => Warc.writeWarc(c, d, partitions = 2), "ccw")
    shipInto(d => Warc.writeWet(c, d, partitions = 2), "cce")
    run()
    assert(idsIn(s"$docsOut/batch_1") === expect(c, "doc"),
      "same-crawl warc+wet must ingest the WARC extraction only")
  }

  test("ANN ingest stream: cold build, delta assignment, and warm refresh each equal their batch twin; consumed state is swept") {
    import graft.operators.Similarity
    import org.apache.hadoop.fs.Path
    val drop = Files.createTempDirectory("graft_ann_drop").toString
    val index = Files.createTempDirectory("graft_ann_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_ann_ckpt").toString
    // planted geometry: 4 well-separated axis clusters, tiny deterministic
    // jitter — assignments are unambiguous, so the integer (vec_id, cid)
    // relation is the bit-exact comparison surface (centroids are double
    // means: order-dependent across partitions, compared within 1e-9)
    def mkVecs(ids: Seq[Long]) = {
      import spark.implicits._
      ids.map { id =>
        val c = (id % 4).toInt
        val v = Array.tabulate(4)(i =>
          (if (i == c) 10f else 0f) + ((id % 7).toFloat * 0.01f))
        (id, v)
      }.toDF("vec_id", "embedding")
    }
    def ship(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_ann_stage_$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(graft.functions.VectorMath.vecDot(col("v"), col("v"))))
    def run(): Unit =
      Streams.annIngestStream(spark, drop, index, ckpt, k = 4, refreshEvery = 2)
        .awaitTermination(240000)
    def gens = {
      val p = new Path(index)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("compacted_")).sorted.toSeq
    }
    def deltas = {
      val p = new Path(index)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("batch_")).toSeq
    }
    def asgOf(dir: String) = spark.read.parquet(dir)
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val d1 = mkVecs(0L until 40L)
    ship(d1, "drop1"); run() // batch 0: cold build
    assert(gens.size === 1 && deltas.isEmpty, "cold drop commits one generation")
    val gen0 = s"$index/${gens.head}"
    // eager pin: the warm-refresh twin uses cents0 AFTER the stream's
    // refresh has deleted the gen-0 files a lazy frame would re-read
    val cents0 = spark.read.parquet(s"$gen0/centroids").localCheckpoint(true)
    assert(cents0.count() === 4L)
    val (coldTwin, coldCents, _) =
      Similarity.kmeansIvfRefresh(prep(d1), None, k = 4)
    assert(asgOf(s"$gen0/postings") ===
      coldTwin.select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "cold postings equal the kmeansIvfRefresh batch twin")
    val cDiff = cents0.select("cid", "cv").collect().map(r =>
        r.getLong(0) -> r.getSeq[Double](1)).toMap
    coldCents.select("cid", "cv").collect().foreach { r =>
      val got = cDiff(r.getLong(0)); val exp = r.getSeq[Double](1)
      got.zip(exp).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }

    val d2 = mkVecs(100L until 110L)
    ship(d2, "drop2"); run() // batch 1: delta against gen 0
    assert(gens.size === 1 && deltas === Seq("batch_1"))
    val deltaTwin = Similarity.assignToCents(prep(d2), cents0)
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asgOf(s"$index/batch_1") === deltaTwin,
      "delta assignment equals the broadcast-assign batch twin")

    val d3 = mkVecs(200L until 210L)
    ship(d3, "drop3"); run() // batch 2: delta + warm refresh (2 % 2 == 0)
    assert(gens.size === 1 && gens.head > s"compacted_1",
      "refresh commits a NEW generation and deletes the superseded one")
    assert(deltas.isEmpty, "refresh consumes the deltas")
    val gen1 = s"$index/${gens.head}"
    val corpus = prep(d1.unionByName(d2).unionByName(d3))
    val (warmTwin, _, _) =
      Similarity.kmeansIvfRefresh(corpus, Some(cents0), k = 4)
    assert(asgOf(s"$gen1/postings") ===
      warmTwin.select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "refreshed postings equal the warm-start batch twin over generation ∪ deltas")
    assert(spark.read.parquet(s"$gen1/postings").count() === 60L)
  }

  test("ANN index reader racing the refresh: a snapshot at EVERY commit instant is complete and single-generation consistent") {
    import graft.operators.Similarity
    val drop = Files.createTempDirectory("graft_rc_drop").toString
    val index = Files.createTempDirectory("graft_rc_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_rc_ckpt").toString
    def mkVecs(ids: Seq[Long]) = {
      import spark.implicits._
      ids.map { id =>
        val c = (id % 4).toInt
        val v = Array.tabulate(4)(i =>
          (if (i == c) 10f else 0f) + ((id % 7).toFloat * 0.01f))
        (id, v)
      }.toDF("vec_id", "embedding")
    }
    def ship(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_rc_stage_$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(graft.functions.VectorMath.vecDot(col("v"), col("v"))))
    def run(): Unit =
      Streams.annIngestStream(spark, drop, index, ckpt, k = 4, refreshEvery = 2)
        .awaitTermination(240000)
    def snap(): Map[Long, Long] =
      Streams.annIndexSnapshot(spark, index)
        .select("vec_id", "cid").collect()
        .groupBy(_.getLong(0)).map { case (id, rows) =>
          assert(rows.length === 1, s"vec_id $id must appear EXACTLY once in a snapshot")
          id -> rows.head.getLong(1)
        }

    val d1 = mkVecs(0L until 40L)
    val d2 = mkVecs(100L until 110L)
    val d3 = mkVecs(200L until 210L)
    ship(d1, "drop1"); run() // batch 0: cold generation
    val cents0 = spark.read.parquet(
      s"$index/${new java.io.File(index).list().filter(_.startsWith("compacted_")).head}/centroids")
      .localCheckpoint(true)
    ship(d2, "drop2"); run() // batch 1: delta
    // the steady-state instant: generation + disjoint delta
    val preRefresh = snap()
    assert(preRefresh.keySet === (0L until 40L).toSet ++ (100L until 110L).toSet)

    // batch 2 refreshes (2 % 2 == 0): read a full snapshot INSIDE the
    // commit window at pre-rename (old gen + deltas visible) and
    // post-rename (BOTH generations + deltas visible — the "both" window
    // the r14 scaladoc only STATED was safe)
    val corpus = prep(d1.unionByName(d2).unionByName(d3))
    val (warmTwin, _, _) = Similarity.kmeansIvfRefresh(corpus, Some(cents0), k = 4)
    val warmAsg = warmTwin.select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val instants = scala.collection.mutable.ArrayBuffer.empty[(String, Map[Long, Long])]
    graft.plans.CommitEpoch.midCommitHook = { phase =>
      instants += ((phase, snap()))
    }
    try { ship(d3, "drop3"); run() }
    finally graft.plans.CommitEpoch.midCommitHook = _ => ()
    assert(instants.map(_._1).toSeq === Seq("pre-rename", "post-rename"))
    val allIds = (0L until 40L).toSet ++ (100L until 110L).toSet ++ (200L until 210L).toSet
    val (_, preSnap) = instants(0)
    val (_, postSnap) = instants(1)
    // pre-rename: complete, and consistent with the OLD generation (its
    // d1 cells unchanged from the steady-state snapshot)
    assert(preSnap.keySet === allIds, "pre-rename snapshot must be complete")
    (0L until 40L).foreach(id => assert(preSnap(id) === preRefresh(id),
      s"pre-rename must serve the OLD generation's cell for $id"))
    // post-rename ("both" window): the generation-wins dedup collapses to
    // exactly the NEW generation — the warm-refresh twin's assignment
    assert(postSnap.keySet === allIds, "post-rename snapshot must be complete")
    assert(postSnap === warmAsg,
      "post-rename snapshot must equal the new generation exactly (no delta mixing)")
    // post-delete: the steady state after the stream finishes
    assert(snap() === warmAsg, "post-delete snapshot equals the new generation")
  }

  test("kNN-graph ingest stream: cold build, insert-by-search delta, and compaction refresh each equal their batch twin") {
    import graft.operators.Similarity
    import org.apache.hadoop.fs.Path
    val drop = Files.createTempDirectory("graft_knn_drop").toString
    val index = Files.createTempDirectory("graft_knn_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_knn_ckpt").toString
    // 64-dim (the plane2 signature width), 4 axis clusters + jitter —
    // near neighbors are intra-cluster, so insert-by-search has real
    // structure to link into
    def mkVecs(ids: Seq[Long]) = {
      import spark.implicits._
      ids.map { id =>
        val c = (id % 4).toInt
        val v = Array.tabulate(64)(i =>
          (if (i == c) 10f else 0f) + (((id + i) % 7).toFloat * 0.01f))
        (id, v)
      }.toDF("vec_id", "embedding")
    }
    def ship(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_knn_stage_$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(graft.functions.VectorMath.vecDot(col("v"), col("v"))))
    def run(): Unit =
      Streams.knnIngestStream(spark, drop, index, ckpt,
          kRand = 4, kBuild = 8, buildRounds = 2, kLink = 4, beam = 4,
          walkRounds = 2, refreshEvery = 2)
        .awaitTermination(240000)
    def names(prefix: String) = {
      val p = new Path(index)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith(prefix)).sorted.toSeq
    }
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vid", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val d1 = mkVecs(0L until 40L)
    ship(d1, "drop1"); run() // batch 0: cold graph build
    assert(names("compacted_").size === 1 && names("batch_").isEmpty)
    val gen0 = s"$index/${names("compacted_").head}"
    // pin eagerly: the refresh deletes gen-0 files under a lazy frame
    val gen0Edges = spark.read.parquet(s"$gen0/edges").localCheckpoint(true)
    val gen0Buckets = spark.read.parquet(s"$gen0/buckets").localCheckpoint(true)
    val gen0Hubs = spark.read.parquet(s"$gen0/hubs").localCheckpoint(true)
    assert(spark.read.parquet(s"$gen0/vectors").count() === 40L)
    val e1 = prep(d1)
    val gTwin = Similarity.knnGraphEdges(e1, kRand = 4, kBuild = 8, rounds = 2)
    val guTwin = gTwin.unionByName(
      gTwin.select(col("nb").as("vid"), col("vid").as("nb"))).distinct()
    assert(edgeSet(gen0Edges) === edgeSet(guTwin),
      "cold generation edges equal the batch build twin (undirected, distinct)")
    assert(gen0Hubs.collect().map(_.getLong(0)).toSet ===
      Similarity.topHubs(guTwin, 4, Long.MinValue).collect().map(_.getLong(0)).toSet)

    val d2 = mkVecs(100L until 110L)
    ship(d2, "drop2"); run() // batch 1: insert-by-search delta
    assert(names("compacted_").size === 1 && names("batch_") === Seq("batch_1"))
    val b1Edges = spark.read.parquet(s"$index/batch_1/edges").localCheckpoint(true)
    val b2 = prep(d2)
    val eAll2 = e1.unionByName(b2)
    val buckets2 = gen0Buckets.unionByName(
      b2.select(col("vec_id").as("cid"),
        Similarity.lshBucket(col("v"), 8).as("bucket")))
    val insTwin = Similarity.insertBySearch(
      eAll2, gen0Edges, buckets2, gen0Hubs, b2,
      kLink = 4, beam = 4, rounds = 2)
    assert(edgeSet(b1Edges) === edgeSet(insTwin),
      "delta edges equal the insert-by-search batch twin (both directions)")
    // every new vector got linked, both directions present
    val newIds = (100L until 110L).toSet
    assert(newIds.forall(id => edgeSet(b1Edges).exists(_._1 == id)))
    assert(edgeSet(b1Edges).forall { case (a, b) => edgeSet(b1Edges).contains((b, a)) })

    val d3 = mkVecs(200L until 210L)
    ship(d3, "drop3"); run() // batch 2: delta + compaction refresh (2 % 2 == 0)
    assert(names("batch_").isEmpty, "refresh consumes the deltas")
    assert(names("compacted_").size === 1)
    val gen1 = s"$index/${names("compacted_").head}"
    assert(spark.read.parquet(s"$gen1/vectors").count() === 60L)
    // twin of the refresh: gen0 ∪ delta1 ∪ delta2(recomputed) distinct —
    // the compaction must PRESERVE the incremental links, not rebuild
    val b3 = prep(d3)
    val eAll3 = eAll2.unionByName(b3)
    val gu2 = gen0Edges.unionByName(b1Edges)
    val buckets3 = buckets2.unionByName(
      b3.select(col("vec_id").as("cid"),
        Similarity.lshBucket(col("v"), 8).as("bucket")))
    val b2TwinEdges = Similarity.insertBySearch(
      eAll3, gu2, buckets3, gen0Hubs, b3,
      kLink = 4, beam = 4, rounds = 2)
    val refreshTwin = edgeSet(gen0Edges) ++ edgeSet(b1Edges) ++ edgeSet(b2TwinEdges)
    assert(edgeSet(spark.read.parquet(s"$gen1/edges")) === refreshTwin,
      "refreshed generation = union-distinct of generation + deltas (links preserved)")
    // hubs recomputed over the compacted relation
    import spark.implicits._
    val refreshGu = refreshTwin.toSeq.toDF("vid", "nb")
    assert(spark.read.parquet(s"$gen1/hubs").collect().map(_.getLong(0)).toSet ===
      Similarity.topHubs(refreshGu, 4, Long.MinValue).collect().map(_.getLong(0)).toSet)
  }

  test("kNN ingest crash twins: a replayed batch rewrites the SAME non-empty delta; a stale delta folds into the refresh without duplicates") {
    import graft.operators.Similarity
    import org.apache.hadoop.fs.Path
    val drop = Files.createTempDirectory("graft_knnr_drop").toString
    val index = Files.createTempDirectory("graft_knnr_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_knnr_ckpt").toString
    def mkVecs(ids: Seq[Long]) = {
      import spark.implicits._
      ids.map { id =>
        val c = (id % 4).toInt
        val v = Array.tabulate(64)(i =>
          (if (i == c) 10f else 0f) + (((id + i) % 7).toFloat * 0.01f))
        (id, v)
      }.toDF("vec_id", "embedding")
    }
    def ship(ids: Seq[Long], tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_knnr_stage_$tag").toString
      mkVecs(ids).coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def run(): Unit =
      Streams.knnIngestStream(spark, drop, index, ckpt,
          kRand = 4, kBuild = 8, buildRounds = 2, kLink = 4, beam = 4,
          walkRounds = 2, refreshEvery = 2)
        .awaitTermination(240000)
    def names(prefix: String) = {
      val p = new Path(index)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith(prefix)).sorted.toSeq
    }
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vid", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    ship(0L until 40L, "drop1"); run() // batch 0: cold generation
    ship(100L until 110L, "drop2"); run() // batch 1: insert-by-search delta
    assert(names("batch_") === Seq("batch_1"))
    val edges1 = edgeSet(spark.read.parquet(s"$index/batch_1/edges"))
    val vecs1 = spark.read.parquet(s"$index/batch_1/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(edges1.nonEmpty && vecs1 === (100L until 110L).toSet)
    // keep the delta's content: it doubles as the stale-delta fixture below
    val b1Edges = spark.read.parquet(s"$index/batch_1/edges").localCheckpoint(true)
    val b1Vecs = spark.read.parquet(s"$index/batch_1/vectors").localCheckpoint(true)
    val b1Buckets = spark.read.parquet(s"$index/batch_1/buckets").localCheckpoint(true)

    // CRASH 1 (r15 advice, high): delta written, checkpoint commit lost.
    // Deleting commits/1 makes the restarted stream REPLAY batch 1 from
    // its recorded offsets — with batch_1 already on disk. The replay
    // must anti-join against the PRE-BATCH state (own delta excluded)
    // and rewrite the same content, not see its own vectors as already
    // indexed and overwrite the delta with empty files.
    assert(new java.io.File(s"$ckpt/commits/1").delete(),
      "fixture: the batch-1 commit marker must exist before the simulated crash")
    new java.io.File(s"$ckpt/commits/.1.crc").delete() // CRC sidecar blocks the rewrite rename
    run() // replay batch 1
    assert(names("batch_") === Seq("batch_1"))
    assert(edgeSet(spark.read.parquet(s"$index/batch_1/edges")) === edges1,
      "replayed delta must be a deterministic rewrite, not an empty overwrite")
    assert(spark.read.parquet(s"$index/batch_1/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet === vecs1)

    ship(200L until 210L, "drop3"); run() // batch 2: delta + refresh -> gen1
    assert(names("batch_").isEmpty, "refresh consumes the deltas")

    // CRASH 2 (r15 advice, medium): refresh renamed the new generation
    // but crashed before deleting the consumed deltas — recreate the
    // stale batch_1 next to gen1 (whose vectors already hold 100..109).
    b1Edges.write.parquet(s"$index/batch_1/edges")
    b1Vecs.write.parquet(s"$index/batch_1/vectors")
    b1Buckets.write.parquet(s"$index/batch_1/buckets")

    ship(300L until 310L, "drop4"); run() // batch 3: steady delta beside the stale one
    ship(400L until 410L, "drop5"); run() // batch 4: delta + refresh -> gen2
    assert(names("batch_").isEmpty && names("compacted_").size === 1)
    val gen2 = s"$index/${names("compacted_").head}"
    val vecCounts = spark.read.parquet(s"$gen2/vectors")
      .groupBy("vec_id").count().agg(max("count"), count(lit(1))).collect()(0)
    assert(vecCounts.getLong(0) === 1L,
      "a stale delta's vectors must not fold into the generation twice")
    assert(vecCounts.getLong(1) === 80L) // 40 + 4 batches of 10
    val bktCounts = spark.read.parquet(s"$gen2/buckets")
      .groupBy("cid").count().agg(max("count"), count(lit(1))).collect()(0)
    assert(bktCounts.getLong(0) === 1L && bktCounts.getLong(1) === 80L)
  }

  test("graph-index retire: tombstones purge vectors/buckets/edges, heal relinks orphans, search stays phantom-free with recall parity") {
    import graft.operators.Similarity
    import org.apache.hadoop.fs.Path
    val drop = Files.createTempDirectory("graft_ret_drop").toString
    val index = Files.createTempDirectory("graft_ret_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_ret_ckpt").toString
    def mkRows(ids: Seq[Long]) = ids.map { id =>
      val c = (id % 4).toInt
      (id, Array.tabulate(64)(i =>
        (if (i == c) 10f else 0f) + (((id + i) % 7).toFloat * 0.01f)))
    }
    def ship(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_ret_stage_$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def run(): Unit =
      Streams.knnIngestStream(spark, drop, index, ckpt,
          kRand = 4, kBuild = 8, buildRounds = 2, kLink = 4, beam = 4,
          walkRounds = 2, refreshEvery = 0)
        .awaitTermination(240000)
    def names(prefix: String) = {
      val p = new Path(index)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith(prefix)).sorted.toSeq
    }
    import spark.implicits._
    ship(mkRows(0L until 40L).toDF("vec_id", "embedding"), "drop1"); run()
    ship(mkRows(100L until 110L).toDF("vec_id", "embedding"), "drop2"); run()
    // snapshot pre-retire edges so we know who the orphans will be
    val gen0 = s"$index/${names("compacted_").head}"
    val preEdges = spark.read.parquet(s"$gen0/edges")
      .unionByName(spark.read.parquet(s"$index/batch_1/edges"))
      .select("vid", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val retired = Set(0L, 4L, 8L, 100L, 104L) // gen AND delta members
    val expectOrphans = preEdges.collect {
      case (v, n) if retired(v) && !retired(n) => n }

    // tombstone-only drop: (vec_id, deleted=true), no embedding
    ship(retired.toSeq.sorted.map(id => (id, null: Array[Float], true))
      .toDF("vec_id", "embedding", "deleted"), "drop3")
    run()
    assert(names("batch_").isEmpty, "retire consumes the deltas; no live rows -> no new delta")
    val gen1 = s"$index/${names("compacted_").head}"
    val vecIds = spark.read.parquet(s"$gen1/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(vecIds.intersect(retired).isEmpty && vecIds.size === 45)
    assert(spark.read.parquet(s"$gen1/buckets").select("cid")
      .collect().map(_.getLong(0)).toSet.intersect(retired).isEmpty)
    val postEdges = spark.read.parquet(s"$gen1/edges")
      .select("vid", "nb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postEdges.forall { case (v, n) => !retired(v) && !retired(n) },
      "no edge may touch a retired id")
    assert(spark.read.parquet(s"$gen1/hubs").select("cid")
      .collect().map(_.getLong(0)).toSet.intersect(retired).isEmpty)
    // heal: every orphaned survivor keeps a non-empty neighborhood
    val outDeg = postEdges.groupBy(_._1).map { case (v, es) => (v, es.size) }
    assert(expectOrphans.forall(o => outDeg.getOrElse(o, 0) > 0),
      s"orphans must be re-linked, missing: ${expectOrphans.filterNot(o => outDeg.contains(o))}")

    // search is phantom-free AND within recall noise of a fresh build
    val survivors = mkRows((0L until 40L) ++ (100L until 110L))
      .filterNot { case (id, _) => retired(id) }
    val e = survivors.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorMath.vecDot(col("v"), col("v"))))
    val q = e.filter(col("vec_id").isin(1L, 2L, 3L, 101L, 102L))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    def hits(idx: String): Map[Long, Seq[Long]] =
      Similarity.graphSearchIndexed(e, idx, q, k = 5, beam = 4, rounds = 2,
          corpusMin = Long.MinValue)
        .select("qid", "cid").collect()
        .groupBy(_.getLong(0)).map { case (k2, rs) => (k2, rs.map(_.getLong(1)).toSeq) }
    val got = hits(index)
    assert(got.values.flatten.toSet.intersect(retired).isEmpty,
      "search after retire must NEVER return a retired id")
    // fresh-build twin over the survivors only
    val freshDir = Files.createTempDirectory("graft_ret_fresh").resolve("idx").toString
    Similarity.buildGraphIndex(e, freshDir, kRand = 4, kBuild = 8, rounds = 2,
      sigBits = 8, nEntries = 4, corpusMin = Long.MinValue)
    val fresh = hits(freshDir)
    // ground truth: exact top-5 by cosine among survivors (self included,
    // as the walk admits it)
    val vecs = survivors.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    def recall(h: Map[Long, Seq[Long]]): Double = {
      val per = h.map { case (qid, cids) =>
        val truth = vecs.toSeq.map { case (id, v) => (id, cos(vecs(qid), v)) }
          .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
        cids.count(truth).toDouble / 5.0
      }
      per.sum / per.size
    }
    val (rRet, rFresh) = (recall(got), recall(fresh))
    assert(rRet >= rFresh - 0.2,
      s"retired-index recall $rRet must sit within noise of fresh-build $rFresh")
  }

  test("IVF retire in a refresh's rename→delete crash window commits the snapshot's cells, not a lingering delta's stale ones") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import spark.implicits._
    val drop = Files.createTempDirectory("graft_cw_drop").toString
    val index = Files.createTempDirectory("graft_cw_idx").resolve("idx").toString
    val crash = Files.createTempDirectory("graft_cw_crash").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_cw_ckpt").toString
    // cells are assigned by cosine. Generation 0 trains four axis cells
    // (A = e1, B = e2, C = e3, D = e4); the delta's vectors at 40° in the
    // e1-e2 plane go to A; the refresh batch's at 50° pull B toward them,
    // so the refresh moves the delta's vectors to B. The delta still says A.
    def at(id: Long, deg: Double): (Long, Array[Float]) = {
      val j = (id % 7).toFloat * 0.01f
      val r = math.toRadians(deg)
      (id, Array((10 * math.cos(r)).toFloat + j, (10 * math.sin(r)).toFloat + j, j, j))
    }
    def axis(id: Long): (Long, Array[Float]) = {
      val j = (id % 7).toFloat * 0.01f
      (id, Array.tabulate(4)(i => (if (i == id % 4) 10f else 0f) + j))
    }
    def ship(rows: Seq[(Long, Array[Float])], tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_cw_stage_$tag").toString
      rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def run(): Unit =
      Streams.annIngestStream(spark, drop, index, ckpt, k = 4, refreshEvery = 2)
        .awaitTermination(240000)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Seq[Double])] =
      df.select("vec_id", "cid", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSet
    val fs = new Path(index).getFileSystem(spark.sparkContext.hadoopConfiguration)

    ship((0L until 80L).map(axis), "drop1"); run()                // batch 0: generation 0
    ship((100L until 110L).map(at(_, 40.0)), "drop2"); run()      // batch 1: delta
    graft.plans.CommitEpoch.midCommitHook = { phase =>
      if (phase == "post-rename")
        FileUtil.copy(fs, new Path(index), fs, new Path(crash), false,
          spark.sparkContext.hadoopConfiguration)
    }
    try { ship((200L until 240L).map(at(_, 50.0)), "drop3"); run() } // batch 2: refresh
    finally graft.plans.CommitEpoch.midCommitHook = _ => ()

    // the captured state: both generations and the consumed deltas visible
    val names = new java.io.File(crash).list().toSeq
    assert(names.count(_.startsWith("compacted_")) === 2 && names.contains("batch_1"), names)
    val snapshot = rows(Streams.annIndexSnapshot(spark, crash))
    val stale = spark.read.parquet(s"$crash/batch_1").select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val snapCell = snapshot.map { case (id, c, _) => id -> c }.toMap
    assert(stale.nonEmpty && stale.forall { case (id, c) => snapCell(id) != c },
      "fixture: the refresh must move every delta vector to another cell")

    val retired = Set(0L, 1L, 100L, 201L)
    Streams.retireIvfVectors(spark, crash, retired.toSeq.toDF("vec_id"))
    val after = new java.io.File(crash).list().toSeq.filterNot(_.startsWith("."))
    assert(after.size === 1 && after.head.startsWith("compacted_"),
      s"retire consumes both generations and every delta: $after")
    assert(rows(spark.read.parquet(s"$crash/${after.head}/postings")) ===
      snapshot.filterNot { case (id, _, _) => retired(id) },
      "the committed postings are the pre-retire snapshot minus the retired ids")
  }

  test("IVF retire: tombstones drop postings across generation AND deltas; snapshot is phantom-free") {
    import org.apache.hadoop.fs.Path
    val drop = Files.createTempDirectory("graft_ivfret_drop").toString
    val index = Files.createTempDirectory("graft_ivfret_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_ivfret_ckpt").toString
    def mkRows(ids: Seq[Long]) = ids.map { id =>
      val c = (id % 4).toInt
      (id, Array.tabulate(16)(i =>
        (if (i == c) 10f else 0f) + (((id + i) % 5).toFloat * 0.01f)))
    }
    def ship(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_ivfret_stage_$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def run(): Unit =
      Streams.annIngestStream(spark, drop, index, ckpt, k = 4, refreshEvery = 0)
        .awaitTermination(240000)
    import spark.implicits._
    ship(mkRows(0L until 40L).toDF("vec_id", "embedding"), "drop1"); run() // cold gen
    ship(mkRows(100L until 110L).toDF("vec_id", "embedding"), "drop2"); run() // delta
    val retired = Set(1L, 5L, 100L, 105L) // generation AND delta members
    // mixed drop: tombstones + one live insert in the SAME batch, plus a
    // same-batch insert+delete (id 200): the tombstone must win
    ship((retired.toSeq.sorted.map(id => (id, null: Array[Float], true)) ++
          mkRows(Seq(200L, 201L)).map { case (id, v) => (id, v, false) } :+
          ((200L, mkRows(Seq(200L)).head._2, true)))
      .toDF("vec_id", "embedding", "deleted"), "drop3")
    run()
    val snap = Streams.annIndexSnapshot(spark, index)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(snap.intersect(retired).isEmpty, "snapshot must not hold retired ids")
    assert(!snap.contains(200L), "same-batch insert+delete: the tombstone wins")
    assert(snap.contains(201L), "the live insert in a mixed batch must land")
    assert(snap.size === 40 + 10 - 4 + 1)
  }

  test("HNSW level maintenance: cold build seeds edges_hi, inserts link upper layers by search, refresh prunes per layer, retire heals them") {
    import graft.operators.Similarity
    import org.apache.hadoop.fs.Path
    val drop = Files.createTempDirectory("graft_lvl_drop").toString
    val index = Files.createTempDirectory("graft_lvl_idx").resolve("idx").toString
    val ckpt = Files.createTempDirectory("graft_lvl_ckpt").toString
    val maxLevels = 3
    def mkRows(ids: Seq[Long]) = ids.map { id =>
      val c = (id % 4).toInt
      (id, Array.tabulate(64)(i =>
        (if (i == c) 10f else 0f) + (((id + i) % 7).toFloat * 0.01f)))
    }
    def ship(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val staging = Files.createTempDirectory(s"graft_lvl_stage_$tag").toString
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      new java.io.File(staging).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath, Paths.get(drop, s"$tag.parquet")))
    }
    def run(): Unit =
      Streams.knnIngestStream(spark, drop, index, ckpt,
          kRand = 4, kBuild = 8, buildRounds = 2, kLink = 4, beam = 4,
          walkRounds = 2, refreshEvery = 0, maxLevels = maxLevels)
        .awaitTermination(240000)
    def names(prefix: String) = {
      val p = new Path(index)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith(prefix)).sorted.toSeq
    }
    import spark.implicits._
    // level twin: the pure-function assignment, computed independently
    def lvlOf(ids: Seq[Long]): Map[Long, Int] = {
      val df = ids.toDF("vec_id")
        .select(col("vec_id"),
                Similarity.hnswLevel(col("vec_id"), maxLevels).as("lvl"))
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    }
    ship(mkRows(0L until 60L).toDF("vec_id", "embedding"), "drop1"); run()
    val gen0 = s"$index/${names("compacted_").head}"
    val lv = lvlOf(0L until 120L)
    val hi0 = spark.read.parquet(s"$gen0/edges_hi").select("lvl", "vid", "nb")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(hi0.nonEmpty, "cold build must seed the upper layers")
    assert(hi0.forall { case (l, v, n) => l >= 1 && lv(v) >= l && lv(n) >= l },
      "every layer-l edge must connect two level>=l members")

    // insert drop: members of layer l link by search; the delta twin
    ship(mkRows(60L until 100L).toDF("vec_id", "embedding"), "drop2"); run()
    val dHi = spark.read.parquet(s"$index/batch_1/edges_hi").select("lvl", "vid", "nb")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val batchUpper = (60L until 100L).filter(lv(_) >= 1)
    assert(batchUpper.nonEmpty, "fixture must populate an upper layer")
    batchUpper.foreach { id =>
      (1 to lv(id)).foreach { l =>
        assert(dHi.exists { case (dl, v, _) => dl == l && v == id },
          s"batch member $id (level ${lv(id)}) must link into layer $l")
      }
    }
    assert(dHi.forall { case (l, v, n) => lv(v) >= l && lv(n) >= l },
      "delta layer edges stay within their layer's membership")
    assert(dHi.forall { case (l, v, n) => dHi.contains((l, n, v)) },
      "insert links both directions")

    // retire an upper-layer member: edges_hi must drop every touching
    // edge AND carry through the commit (not silently die), orphans heal
    val upperVictim = (0L until 100L).filter(id => lv(id) >= 1)
      .maxBy(id => hi0.count { case (_, v, _) => v == id })
    val retired = Set(upperVictim, 3L)
    val preOrphans = (hi0 ++ dHi).collect {
      case (l, v, n) if retired(v) && !retired(n) => (l, n) }.toSet
    ship(retired.toSeq.sorted.map(id => (id, null: Array[Float], true))
      .toDF("vec_id", "embedding", "deleted"), "drop3")
    run()
    val gen1 = s"$index/${names("compacted_").head}"
    val hi1 = spark.read.parquet(s"$gen1/edges_hi").select("lvl", "vid", "nb")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(hi1.nonEmpty, "retire must CARRY the hierarchy into the new generation")
    assert(hi1.forall { case (_, v, n) => !retired(v) && !retired(n) },
      "no layer edge may touch a retired id")
    preOrphans.foreach { case (l, o) =>
      assert(hi1.exists { case (hl, v, _) => hl == l && v == o },
        s"upper orphan $o must be re-linked in layer $l")
    }

    // descent search against the maintained hierarchy: phantom-free and
    // agreeing with brute-force on this clustered toy corpus
    val survivors = mkRows(0L until 100L).filterNot { case (id, _) => retired(id) }
    val e = survivors.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorMath.vecDot(col("v"), col("v"))))
    val q = e.filter(col("vec_id").isin(1L, 2L, 5L))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val got = Similarity.graphSearchIndexedHier(e, index, q, k = 5, beam = 4,
        rounds = 2, corpusMin = Long.MinValue, maxLevels = maxLevels)
      .select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (k2, rs) => (k2, rs.map(_.getLong(1)).toSet) }
    assert(got.values.flatten.toSet.intersect(retired).isEmpty,
      "descent search must never return a retired id")
    assert(got.keySet === Set(1L, 2L, 5L) && got.values.forall(_.size === 5))
  }

  test("edge compaction: a reader at ANY commit instant sees the complete relation; epochs never collide") {
    import spark.implicits._
    val edgesDir = Files.createTempDirectory("graft_cc_edges").resolve("e").toString
    val e1 = (0L until 50L).map(i => (i, (i + 1) % 50))
    val e2 = (0L until 50L).map(i => (i, (i + 7) % 50))
    e1.toDF("src", "dst").write.parquet(s"$edgesDir/batch_0")
    e2.toDF("src", "dst").write.parquet(s"$edgesDir/batch_1")
    val expect = (e1 ++ e2).distinct.sorted.map { case (s0, d0) => s"[$s0,$d0]" }
    def visibleNow(): Seq[String] =
      spark.read.option("recursiveFileLookup", "true").parquet(edgesDir)
        .distinct().orderBy("src", "dst").collect().map(_.toString).toSeq
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.plans.CommitEpoch.midCommitHook = { phase =>
      phases += phase
      // pre-rename: the new generation is a hidden _compact_*.tmp the
      // reader's listing skips (old generation only); post-rename: old
      // AND new both visible — the distinct() the consumers already do
      // collapses the duplication. Either way: complete, never partial.
      assert(visibleNow() === expect,
        s"reader at $phase must see the complete edge relation")
    }
    try Streams.compactEdges(spark, edgesDir)
    finally graft.plans.CommitEpoch.midCommitHook = _ => ()
    assert(phases.toSeq === Seq("pre-rename", "post-rename"))
    val gen1 = new java.io.File(edgesDir).list().filter(_.startsWith("compacted_")).toSeq
    assert(gen1.length === 1 && visibleNow() === expect)
    // immediate re-compaction (same millisecond territory): the listing-
    // derived counter + nonce must produce a FRESH name, not a collision
    Streams.compactEdges(spark, edgesDir)
    val gen2 = new java.io.File(edgesDir).list().filter(_.startsWith("compacted_")).toSeq
    assert(gen2.length === 1 && gen2 != gen1,
      s"second compaction must commit under a fresh epoch: $gen1 -> $gen2")
    assert(visibleNow() === expect)
  }
}

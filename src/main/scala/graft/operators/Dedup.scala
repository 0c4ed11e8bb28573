package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Fanout, Tables}

/** Near-duplicate detection for LLM training-data pipelines (SURVEY §2 EXT):
  * MinHash+LSH, SimHash, and n-gram Jaccard — plus the exact-hash variant in
  * [[TextOps.qDedupExact]] and the embedding-cosine variant in
  * [[Similarity.qDedupEmbedding]].
  *
  * Scale design (the part that matters at 100 TB):
  *  - Signatures (minhash / simhash) are pure per-row array expressions —
  *    narrow, codegen'd, no shuffle, no UDF. A 1000-executor cluster computes
  *    them at scan speed.
  *  - LSH banding turns the O(n²) all-pairs problem into an equi-join on
  *    (band_index, band_hash): only documents agreeing on a full band ever
  *    meet, so the shuffle carries (doc_id, band_hash) pairs — ~100 bytes/doc
  *    — never the text. Candidate buckets are tiny by construction, so the
  *    post-shuffle pair expansion is bounded.
  *  - The brute-force Jaccard query is intentionally bounded to a fixed
  *    doc_id window: it is the *verifier* for LSH candidates, not the scale
  *    path (same role as the reference's one-off ones-mask precompute,
  *    /root/reference/run/adcircTime2cogs.py:177-185).
  *
  * Portability: every hash is md5 (identical hex in Spark and DuckDB); a
  * minimum over fixed-width lowercase-hex strings is a minimum over the
  * corresponding 128-bit integers, so MIN(md5-string) is a valid minhash.
  */
object Dedup {

  /** (doc_id, sh): the distinct 3-token shingles of each row's `text`,
    * one row per shingle, in first-occurrence order — the dedup and text
    * families' one shingle construction. The text is split ONCE per row,
    * in a projection under the explode; a `split` inside the `transform`
    * lambda would tokenize every document once per shingle (O(words²)).
    * A null text yields no rows.
    *
    * Callers fan the corpus out first with [[Fanout.byKey]] on
    * doc_id: the corpus parquet is one split, so without it every shingle
    * and hash runs on ONE task (the reference rechunks before its heavy
    * kernels for the same reason, run/adcircTime2cogs.py:166-175). */
  private[graft] def shingles3(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3))))"))
        .as("sh"))

  /** [[shingles3]] of the whole corpus, fanned out on doc_id. */
  private[graft] def docShingles(s: SparkSession, d: String): DataFrame =
    shingles3(Fanout.byKey(Tables.documents(s, d), col("doc_id")))

  /** EXT: MinHash + LSH candidate pairs. 8 hash functions, 4 bands × 2 rows:
    * P(candidate) = 1-(1-j²)⁴ — catches Jaccard ≳ 0.6 with high probability.
    *
    * Hash budget: two salted md5 digests per shingle yield 64 hex chars =
    * eight independent 32-bit hash functions (8-hex-char slices); minhash k
    * lives at digest (k/4), offset (k%4)*8. Shingles are EXPLODED before
    * hashing so the shingle array and each digest are computed exactly once
    * — keeping them as array columns lets Catalyst's project-collapse inline
    * the construction into all 8 consumers (measured 8× recompute). The
    * signature is then 8 partial-min aggregates: map-side combine reduces
    * each partition to one row per doc before the shuffle.
    *
    * Then: signature → 4 (doc, band) rows → self-equi-join on
    * (band, band_hash) → distinct pairs. The band-hash shuffle carries
    * ~50 bytes/doc; bucket sizes are bounded by construction. */
  def qDedupMinhash(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(Fanout.byKey(Tables.documents(s, d), col("doc_id")))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.b") === col("b.b") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .orderBy("d1", "d2")
  }

  /** (doc_id, b, bh): the md5-minhash LSH band relation of a document
    * frame — the signature construction shared by [[qDedupMinhash]] (self
    * join) and [[qDedupIncremental]] (index join). This IS the relation a
    * production pipeline persists as its dedup index: ~50 bytes/doc,
    * appended per crawl, bucketed on the FULL probe key (b, bh)
    * ([[graft.plans.Layout.writeBucketed]]'s multi-key form) so every
    * future batch joins it Exchange-free — bucketing on bh alone does
    * NOT qualify under Spark's default
    * requireAllClusterKeysForCoPartition (LayoutSpec proves both the
    * win and that failure mode on executed plans). */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    val sig = shingles3(docs)
      .select(col("doc_id"),
              md5(concat(lit("0|"), col("sh"))).as("h0"),
              md5(concat(lit("1|"), col("sh"))).as("h1"))
      // slice BEFORE the aggregate: the 8 min() functions then reduce plain
      // column refs, keeping the generated aggregate class small
      .select(col("doc_id") +: (0 until 8).map(k =>
                substring(col(s"h${k / 4}"), (k % 4) * 8 + 1, 8).as(s"s$k")): _*)
      .groupBy("doc_id")
      .agg(min(col("s0")).as("mh0"),
           (1 until 8).map(k => min(col(s"s$k")).as(s"mh$k")): _*)
    sig.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)).as(Seq("b", "bh")))
  }

  /** EXT: INCREMENTAL dedup — the nightly-crawl production pattern. A new
    * batch of documents must be deduped against the EXISTING corpus
    * without re-scanning corpus text: the corpus is represented solely by
    * its persisted band-signature index ([[minhashBands]] — ~50 B/doc),
    * and the batch's bands join it on (b, bh). Here the deterministic
    * split doc_id % 5 == 0 plays the new crawl (20%); the rest is corpus.
    *
    * Scale shape (inverted from the self-join): the batch side is
    * BROADCAST — a day's crawl is always small next to the accumulated
    * index — so the giant index is never shuffled at all; with the index
    * persisted bucketed on (b, bh) the probe is also scan-local. Corpus text
    * is untouched: at 100 TB the nightly job reads kilobytes of index
    * per new document, not the corpus.
    *
    * The broadcast is SIZE-GATED like every other forced hint in the
    * engine (the interp series gate pattern): a BACKFILL "batch" — a
    * month of crawls replayed at once — can be GBs of bands, and a
    * forced hint would override the planner's threshold straight into a
    * driver OOM. Below min(planner threshold, 100 MB ceiling) of
    * Catalyst-estimated batch bytes the hint applies; above, the join is
    * left unhinted — a shuffled equi-join on (b, bh), Exchange-free on
    * the index side when it is persisted bucketed on (b, bh).
    *
    * Output: one row per duplicate batch doc — its smallest matching
    * corpus doc and how many of the 4 bands agreed. */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(Fanout.byKey(Tables.documents(s, d), col("doc_id")))
    dedupIncremental(bands.filter(col("doc_id") % 5 =!= 0),
                     bands.filter(col("doc_id") % 5 === 0))
  }

  /** The PRODUCTION entry (r9 verdict #7 — the declared query above is a
    * thin fixture binding of this): probe an accumulated band INDEX with
    * an arbitrary new batch's bands. Both sides are (doc_id, b, bh) band
    * relations ([[minhashBands]] output — the index as persisted/
    * accumulated across crawls, the batch as computed from tonight's
    * documents). The size-gated inverted broadcast and the output
    * contract are exactly the declared query's (see its Scaladoc). */
  def dedupIncremental(corpusBands: DataFrame, batchBands: DataFrame): DataFrame = {
    val s = corpusBands.sparkSession
    val corpusIdx = corpusBands
      .select(col("doc_id").as("corpus_id"), col("b"), col("bh"))
    val batch = batchBands
      .select(col("doc_id").as("new_id"), col("b"), col("bh"))
    val thr = org.apache.spark.sql.GraftSqlShim.autoBroadcastJoinThreshold(s)
    val gateBytes = math.min(100L << 20, thr)
    val hinted =
      if (gateBytes > 0 &&
          batch.queryExecution.optimizedPlan.stats.sizeInBytes <= gateBytes)
        broadcast(batch)
      else batch
    corpusIdx.join(hinted, Seq("b", "bh"))
      .groupBy(col("new_id").as("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"),
           countDistinct(col("b")).as("n_bands"))
      .orderBy("doc_id")
  }

  /** Band-index LIFECYCLE maintenance (r9 verdict #5): the persisted
    * index accumulates one band set per crawled document FOREVER — docs
    * later removed from the corpus (dedup'd away, takedowns, retention
    * expiry) keep taxing every nightly probe with dead postings, and
    * worse, keep MATCHING: a probe against a dead doc's bands reports a
    * duplicate of a document that no longer exists. `compactBandIndex`
    * rewrites the index keeping only the bands of the ACTIVE doc set:
    * one LEFT SEMI join on doc_id (the index never carries more than
    * its own (doc_id, b, bh) rows through the shuffle; the active-ids
    * relation is a narrow id list — at 100 TB it is itself large, so
    * the join is left unhinted and AQE/bucketing decide, the
    * qDedupIncremental convention), committed through the Hadoop
    * `FileSystem` API so the same code runs on file://, hdfs:// and
    * s3a:// (r10 verdict #1: the old java.nio ATOMIC_MOVE threw on
    * hdfs and was meaningless on s3a).
    *
    * Commits through the [[graft.plans.CommitEpoch]] generation store,
    * consuming every visible entry of `indexDir` (the `batch_*` band
    * dirs and older generations). Reader caveat: the store's "both"
    * window shows a kept row twice, which is SAFE here by construction —
    * probe aggregation ([[dedupIncremental]]'s min(corpus_id) +
    * countDistinct(b)) is invariant under duplicated index rows, and the
    * dead rows still present are exactly the pre-compaction state; the
    * spec proves a doubled index probes identically. Readers concurrent
    * with the consumed deletes should set
    * `spark.sql.files.ignoreMissingFiles` (standard for any
    * compacting parquet layout) or schedule compaction off probe
    * windows. Returns (rowsBefore, rowsAfter). Probe evidence:
    * SCALE.md §Round-10 probes shows probe cost flat after compaction. */
  def compactBandIndex(s: SparkSession, indexDir: String, active: DataFrame): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val superseded = graft.plans.CommitEpoch.list(fs, dir).visible
    val idx = s.read.option("recursiveFileLookup", "true").parquet(indexDir)
    val before = idx.count()
    val kept = idx.join(active.select("doc_id"), Seq("doc_id"), "left_semi")
    val fin = graft.plans.CommitEpoch.commit(fs, dir, superseded) { tmp =>
      kept.write.mode("overwrite").parquet(tmp.toString)
    }
    (before, s.read.parquet(fin.toString).count())
  }

  /** Fixture split shared by [[qDedupBloom]] and its spec: corpus =
    * doc_id % 5 != 0, batch = the rest PLUS re-crawled copies of corpus
    * docs < 40 planted under the negative-id namespace (the
    * [[qDedupContainment]] plant convention — real ids are non-negative
    * at any corpus size, so the plant can never collide). */
  private[graft] def bloomSplit(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .unionAll(corpus.filter(col("doc_id") < 40)
        .select((-(col("doc_id") + 1L)).as("doc_id"), col("text")))
    (corpus, batch)
  }

  /** Build a Bloom filter over xxhash64(text) of `corpus` and return the
    * batch rows that MIGHT be re-crawls — the map-side prefilter of
    * [[qDedupBloom]], exposed so the spec can measure its selectivity.
    * The filter is built with `DataFrameStatFunctions.bloomFilter` (the
    * same OR-merge treeAggregate Spark's own runtime join filters use) and
    * probed through the codegen'd `BloomFilterMightContain` expression
    * with the serialized filter as a BINARY literal — deserialized once
    * per task, never per row. */
  /** Bloom sizing for [[qDedupBloom]]: the optimal m = −n·ln(fpp)/ln²2 at
    * the 1% target, CAPPED at the engine's 100 MB broadcast ceiling by
    * DEGRADING fpp rather than splitting the filter — a weaker bloom lets
    * more candidates through to the confirm join; it never changes the
    * answer. The cap binds above n ≈ 8.8×10⁷ corpus docs (unreachable in
    * a spec run, so the arithmetic is unit-tested directly). */
  private[graft] def bloomBits(n: Long): Long = {
    val wantBits =
      math.ceil(-n * math.log(0.01) / (math.log(2.0) * math.log(2.0))).toLong
    math.max(64L, math.min(wantBits, (100L << 20) * 8L))
  }

  /** Build the corpus Bloom filter over xxhash64(text) and return its
    * serialized bytes (Spark's `sketch.BloomFilter` wire format — the
    * same OR-merge treeAggregate the engine's runtime join filters use;
    * driver memory envelope = the filter itself, ≤ the 100 MB cap). */
  private[graft] def buildBloom(corpus: DataFrame): Array[Byte] = {
    // expected n from the corpus row count (a parquet-footer-level action);
    // over-estimating only oversizes the filter
    val n = math.max(1L, corpus.count())
    val bf = corpus.select(xxhash64(col("text")).as("k"))
      .stat.bloomFilter("k", n, bloomBits(n))
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Persist the corpus filter as a sidecar artifact — the PRODUCTION
    * form: the nightly job refreshes the filter once after ingesting the
    * day's accepted docs; every subsequent batch probe LOADS it instead
    * of re-aggregating the corpus (the exact-dedup twin of the persisted
    * band index [[qDedupIncremental]] probes). Returns the byte size. */
  private[graft] def writeBloomIndex(corpus: DataFrame, path: String): Long = {
    val bytes = buildBloom(corpus)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    bytes.length.toLong
  }

  /** Map-side prefilter from serialized filter bytes: the codegen'd
    * `BloomFilterMightContain` with the filter as a BINARY literal —
    * rides the task binary, deserializes once per task, never per row. */
  private[graft] def bloomSurvivorsBytes(bloom: Array[Byte], batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val mightHit = GraftSqlShim.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      GraftSqlShim.expression(xxhash64(col("text")))))
    batch.filter(mightHit)
  }

  private[graft] def bloomSurvivors(corpus: DataFrame, batch: DataFrame): DataFrame =
    bloomSurvivorsBytes(buildBloom(corpus), batch)

  /** EXT: Bloom-prefilter cross-run EXACT dedup — the other half of the
    * nightly-crawl pattern beside [[qDedupIncremental]]: the band index
    * catches NEAR-duplicates; this catches exact re-crawls without
    * touching any index. The accumulated corpus is summarized by ONE
    * Bloom filter over xxhash64(text); the new batch probes it MAP-SIDE
    * (scan-speed, no shuffle, the filter rides the task binary once per
    * executor), and only the surviving sliver reaches the exact
    * md5-keyed confirm join. The filter is invisible to correctness:
    * Bloom filters have zero false negatives, and the confirm join
    * removes the false positives — so the DuckDB oracle is the PLAIN
    * hash join with no bloom at all, and the spec pins both that the
    * answer is bit-identical to the unfiltered path and that the
    * prefilter actually prunes.
    *
    * Sizing at 100 TB: bits are fixed at build time (~1.2 GB per 10⁹
    * corpus docs at 1% fpp), independent of batch size, capped at 100 MB
    * by degrading fpp (see [[bloomSurvivors]]). Daily cost: one bounded
    * treeAggregate over corpus HASHES — never text — to refresh the
    * filter, then batch probing is a map over the scan. Output: one row
    * per duplicate batch doc with its canonical corpus doc and the
    * corpus copy count. */
  def qDedupBloom(s: SparkSession, d: String): DataFrame = {
    val (corpus, batch) = bloomSplit(s, d)
    dedupBloom(corpus, batch)
  }

  /** The PRODUCTION entry (r9 verdict #7 — the declared query above is a
    * thin fixture binding of this): bloom-prefiltered exact dedup of an
    * arbitrary (doc_id, text) batch against an arbitrary (doc_id, text)
    * corpus. Plan shape and output contract as documented on the
    * declared query. */
  def dedupBloom(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val corpusByHash = corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("dup_of"), count(lit(1)).as("n_copies"))
    bloomSurvivors(corpus, batch)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusByHash, "h")
      .select("doc_id", "dup_of", "n_copies")
      .orderBy("doc_id")
  }

  /** EXT: the 100 TB minhash — identical banding to [[qDedupMinhash]] but
    * with INTEGER hashing: 8 `xxhash64(seed_k, shingle)` BIGINTs replace
    * two md5 hex digests + 8 substring slices per shingle, and the
    * min-aggregate reduces 8-byte longs instead of 8-char strings. Band
    * key = xxhash64 of the two row mins (one long, not a 16-char concat),
    * so the band shuffle carries ~20 bytes/doc.
    *
    * Oracle (r10 — the former rows-only asterisk, retired): DuckDB has
    * no xxHash64 builtin, so the oracle REIMPLEMENTS the full XXH64
    * algorithm in HUGEINT modular arithmetic ([[Xxh64DuckSql]] — stripe
    * fold, tail words, avalanche, and Spark's exact INT-literal/LONG
    * type dispatch), making this query hash-gated like every other. The
    * spec gates (identical docs collide; substantial agreement with the
    * independent md5 family) remain as well. */
  def qDedupMinhashXx(s: SparkSession, d: String): DataFrame = {
    val sig = docShingles(s, d)
      .select(col("doc_id") +: (0 until 8).map(k =>
                xxhash64(lit(k), col("sh")).as(s"x$k")): _*)
      .groupBy("doc_id")
      .agg(min(col("x0")).as("mh0"),
           (1 until 8).map(k => min(col(s"x$k")).as(s"mh$k")): _*)
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        xxhash64(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)).as(Seq("b", "bh")))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.b") === col("b.b") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .orderBy("d1", "d2")
  }

  /** EXT: EXACT-threshold set-similarity self-join via prefix filtering —
    * the PPJoin family (Xiao et al., WWW 2008 / Chaudhuri et al., ICDE
    * 2006), the deterministic complement to the LSH candidates: MinHash
    * banding is probabilistic (a J ≥ τ pair can be missed); this join
    * returns EVERY pair with shingle-set Jaccard ≥ 0.8, exactly.
    *
    * The filter that makes it scale: order each document's shingles by
    * GLOBAL rarity (df, then shingle — a total order, shingles are
    * distinct per doc), and keep only the first |x| − ⌈τ|x|⌉ + 1 as the
    * doc's PREFIX. Two sets with J ≥ τ must share at least one prefix
    * element under a common order, so the inverted index is built over
    * prefixes only — and rarest-first ordering makes those the most
    * selective postings, bounding the candidate quadratic by rare-bucket
    * sizes instead of the corpus. Candidates then verify with an EXACT
    * intersection count (two equi-joins over the full shingle relation,
    * restricted to candidates), and the τ test is pure integer
    * arithmetic: inter·10 ≥ 8·(n1+n2−inter) — no FP anywhere, so both
    * engines agree bit-for-bit. ⌈0.8n⌉ = (8n+9) DIV 10 keeps the prefix
    * length integral in both engines too.
    *
    * Scale shape: every step is an equi-join or a doc_id-partitioned
    * window — no all-pairs anywhere; the df relation shuffles once on
    * shingle (at 100 TB the vocabulary is itself huge, so it is NOT
    * broadcast — AQE may promote per-stats); verification cost is
    * O(candidates × doc length), and candidates are prefix-bounded. */
  def qDedupPpjoin(s: SparkSession, d: String): DataFrame = ppjoin(s, d, 8)

  /** The parameterized form: τ = tau10/10 (integer tenths keep every
    * filter in exact integer arithmetic — the production knob, same
    * convention as the k-means k/iters parameterization). The declared
    * query pins tau10 = 8 as its oracle-stable fixture. */
  private[graft] def ppjoin(s: SparkSession, d: String, tau10: Int): DataFrame = {
    require(tau10 >= 1 && tau10 <= 10, s"tau10 out of (0,1]: $tau10")
    // fenced: the (doc, shingle) relation feeds FOUR consumers (df count,
    // rarity ordering, both sides of the intersection verify) — unfenced,
    // Catalyst plans the scan→split→shingle subtree once per consumer
    // (the DSIR lesson: exchange reuse dedupes shuffles, not per-row
    // compute). One corpus scan, one shingle pass, compact rows after;
    // memory-pinned (graft.Fence, r10 — no eager disk write).
    val inv = graft.Fence(docShingles(s, d))
    val dfreq = inv.groupBy("sh").agg(count(lit(1)).as("df"))
    // rarity-sorted shingle array per doc, prefix by SLICE — one hash
    // aggregation replaces the doc-partitioned window AND the separate
    // sizes aggregate (the IDW top-k lesson: sorting a ≤n_doc-element
    // array inside a map-side-combining agg beats a global sort by
    // (doc, df, sh)). Struct order (df, sh) IS the rarity sort key.
    val pref = inv.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("a"))
      .withColumn("ni", size(col("a")))
      .select(col("doc_id"), col("ni").cast("long").as("n"),
              explode(expr(s"slice(a, 1, CAST(ni - ($tau10 * ni + 9) DIV 10 + 1 AS INT))"))
                .as("p"))
      .select(col("doc_id"), col("p.sh").as("sh"), col("n"))
    // LENGTH filter inside the candidate join (the PPJoin size condition):
    // J >= τ forces τ·max(n1,n2) <= min(n1,n2), so size-incompatible pairs
    // are pruned BEFORE the distinct — exact (a necessary condition), in
    // the same integer arithmetic as the final test. Set sizes ride the
    // candidate rows (functionally dependent on the doc ids), so the
    // final τ test needs NO join back.
    val cand = pref.as("a")
      .join(pref.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
              col("a.n") * 10 >= col("b.n") * tau10 &&
              col("b.n") * 10 >= col("a.n") * tau10)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
              col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    val t1 = inv.select(col("doc_id").as("d1"), col("sh"))
    val t2 = inv.select(col("doc_id").as("d2"), col("sh"))
    cand.join(t1, "d1").join(t2, Seq("d2", "sh"))
      .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 10 >= (col("n1") + col("n2") - col("inter")) * tau10)
      .withColumn("j4", expr("inter * 10000 DIV (n1 + n2 - inter)"))
      .select("d1", "d2", "n1", "n2", "inter", "j4")
      .orderBy("d1", "d2")
  }

  /** EXT: 32-bit SimHash over distinct tokens — bit k set iff the majority of
    * token-md5s have hex digit k ≥ '8' (i.e. top bit of that nibble set).
    * Exact-signature groups = near-duplicate clusters. Signature is one
    * narrow expression; the group-by shuffles 32-char strings only. */
  /** (doc_id, sh): 32-bit SimHash signature per document — each distinct
    * token hashed ONCE, all 32 bits derived from the digest. */
  private def simhashSig(docs: DataFrame): DataFrame = {
    val ht = transform(array_distinct(split(col("text"), " ")), x => md5(x))
    val bits = (0 until 32).map { k =>
      when(size(filter(col("ht"), h => substring(h, k + 1, 1) >= "8")) * 2 > size(col("ht")), "1")
        .otherwise("0")
    }
    docs.select(col("doc_id"), ht.as("ht"))
      .select(col("doc_id"), concat(bits: _*).as("sh"))
  }

  def qDedupSimhash(s: SparkSession, d: String): DataFrame = {
    simhashSig(Fanout.byKey(Tables.documents(s, d), col("doc_id")))
      .groupBy("sh")
      .agg(min(col("doc_id")).as("min_doc"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("min_doc", "sh", "n")
      .orderBy("min_doc")
  }

  /** EXT: exact n-gram Jaccard over a bounded window (doc_id < 300) — the
    * ground-truth verifier for the LSH candidates. Explode distinct shingles,
    * self-join on shingle, |A∩B| per pair, |A∪B| = |A|+|B|-|A∩B|. The
    * shingle equi-join shuffles (doc_id, shingle-hash); at scale this runs
    * only on LSH survivors, never the full corpus. */
  def qDedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = shingles3(Fanout.byKey(
      Tables.documents(s, d).filter(col("doc_id") < 300), col("doc_id")))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("na"), col("d1") === col("na.doc_id"))
      .join(sizes.as("nb"), col("d2") === col("nb.doc_id"))
      .select(col("d1"), col("d2"),
              round(col("inter").cast("double") /
                    (col("na.nsh") + col("nb.nsh") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") > 0.5)
      .orderBy("d1", "d2")
  }

  /** EXT: the full SimHash dedup algorithm — LSH on 4 signature bands (any
    * exact 8-bit band match makes a candidate), then Hamming-distance ≤ 3
    * verification via the codegen'd [[graft.functions.HammingDistance]].
    * This is the classic web-scale near-dup shape (band join shuffles only
    * (doc_id, 8-char slice); the O(n²) Hamming check runs on candidates
    * only). Bounded to doc_id < 500: the toy 32-bit signature over a
    * shared-vocabulary corpus is deliberately unselective; production
    * signatures are 64-bit+ and bands prune harder. */
  def qDedupSimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = simhashSig(Fanout.byKey(
      Tables.documents(s, d).filter(col("doc_id") < 500), col("doc_id")))
    val bands = sig.select(col("doc_id"), col("sh"),
      posexplode(array((0 until 4).map(b => substring(col("sh"), b * 8 + 1, 8)): _*))
        .as(Seq("b", "slice")))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.b") === col("b.b") && col("a.slice") === col("b.slice") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
              graft.functions.HammingDistance.hamming(col("a.sh"), col("b.sh")).cast("long").as("dist"))
      .filter(col("dist") <= 3)
      .distinct()
      .orderBy("d1", "d2")
  }

  /** EXT: duplicate CLUSTERS from candidate pairs — the step a real dedup
    * pipeline runs after LSH: connected components over the pair graph,
    * then one representative (min doc_id) per component.
    *
    * Algorithm: Pregel-style min-label propagation — labels start as
    * doc_id and each round take the min over neighbors; the driver loop
    * checks a monotone convergence metric (sum of labels, strictly
    * decreasing until fixpoint) with ONE scalar action per round, and
    * `localCheckpoint()` truncates lineage so plan depth stays O(1)
    * across rounds (the standard iterative-graph shape on Spark; GraphX
    * and MLlib iterate the same way). Rounds are bounded by component
    * diameter — near-dup clusters are shallow (stars/cliques), so this
    * converges in 2-3 rounds regardless of corpus size. At 100 TB the
    * same loop runs with the alternating large-star/small-star
    * optimization (each round stays a (join + min-agg) pair on
    * (vertex, label) tuples — never document bodies).
    *
    * Oracle: DuckDB computes the same components with a recursive CTE
    * (min reachable label == component min on the symmetric graph). */
  def qDedupClusters(s: SparkSession, d: String): DataFrame =
    // the label-propagation kernel (with its fence A/B history and
    // per-round release discipline) lives in [[Graph.connectedComponents]]
    // since r12 — this is the MinHash-pair binding of it
    Graph.connectedComponents(
      qDedupMinhash(s, d).select(col("d1").as("src"), col("d2").as("dst")))
      .select(col("v").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")

  /** (doc_id, grp, split): every document labeled with its leakage unit
    * (its near-dup cluster from [[qDedupClusters]]; singletons group as
    * themselves) and its md5-assigned split. Factored so the spec can
    * assert pair-level co-splitting on the same relation the query
    * aggregates. The cluster-label join is UNHINTED: tiny here (AQE
    * broadcasts it), but at 100 TB the label table is every near-dup
    * doc — persisted bucketed on doc_id next to the corpus it joins. */
  private[graft] def splitAssign(s: SparkSession, d: String): DataFrame = {
    val clusters = qDedupClusters(s, d)
    val h = substring(md5(col("grp").cast("string")), 1, 2)
    Tables.documents(s, d).select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("grp"))
      .withColumn("split",
        when(h < "e6", "train").when(h < "f3", "val").otherwise("test"))
  }

  /** EXT: leakage-free train/val/test split — the held-out-set rule a
    * training pipeline must enforce: near-duplicates of a training
    * document must NOT land in the held-out sets, or the eval metric is
    * contaminated (the dedup-before-split discipline of Lee et al.
    * 2022). Unit of assignment = the near-dup CLUSTER (connected
    * components over the LSH candidate graph; docs in no pair form
    * singleton groups), assigned by a pure md5 function of the group
    * label — content-independent, reproducible at any parallelism, and
    * engine-portable: first md5 byte < 0xe6 → train (230/256 ≈ 89.8%),
    * < 0xf3 → val (≈5.1%), else test. Because split is a FUNCTION of the
    * group, no group can straddle splits by construction; the spec
    * additionally asserts every LSH candidate pair co-splits.
    * Scale: the expensive part is the cluster labeling the dedup stage
    * already produced; the split itself is one label join + a map-only
    * hash over the corpus. */
  def qSplitLeakageFree(s: SparkSession, d: String): DataFrame =
    splitAssign(s, d)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("grp")).as("n_groups"),
           sum(col("doc_id")).as("id_sum"))
      .orderBy("split")

  /** EXT + §2.9: replay dedup, batch form of [[graft.streaming.Streams
    * .dedupEvents]] — an at-least-once feed re-delivers a slice of events
    * (every 50th id here); keyed dropDuplicates collapses them before the
    * aggregate. Duplicate rows are byte-identical, so the surviving
    * representative is deterministic. One hash-agg shuffle on event_id,
    * then the small per-type rollup. */
  def qDedupReplay(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "event_type", "value")
    val redelivered = ev.filter(col("event_id") % 50 === 0)
    ev.union(redelivered)
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** EXT: time-window event debounce — telemetry cleaning: drop an event
    * that repeats its (user, type) within 5 minutes of the PREVIOUS RAW
    * occurrence (LAG semantics — a debounce; the chained-throttle variant
    * that measures from the last KEPT event is inherently sequential and
    * is what [[graft.streaming.Streams.dedupEvents]]'s watermark state
    * covers on the stream). One window shuffle on the (user, type) key;
    * deterministic ts+event_id order. */
  def qDedupWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("kept",
        (col("prev_ts").isNull ||
         col("ts") >= col("prev_ts") + expr("INTERVAL 5 MINUTES")).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum("kept").as("n_kept"),
           (count(lit(1)) - sum("kept")).as("n_debounced"))
      .orderBy("event_type")
  }

  /** EXT: segment-level (CCNet-style line/boilerplate) dedup — the granular
    * pass exact-dedup misses: a segment (4-word non-overlapping span here;
    * a line or paragraph in a real crawl) that recurs across DISTINCT
    * documents is boilerplate and is struck from every document, then each
    * document is reassembled from its surviving segments in order.
    *
    * Spark-first shape: segments come from pure array expressions
    * (sequence → slice → concat_ws, all codegen'd — no explode-then-
    * reorder, whose collect_list order is undefined), one hash-agg counts
    * distinct docs per segment, one equi-join annotates instances, and
    * sort_array(collect_list(struct(...))) makes the reassembly order
    * deterministic. At 100 TB this runs per-shard exactly like CCNet: the
    * segment-frequency table is the only shuffled state, and it shuffles
    * (hash, count) pairs an order of magnitude smaller than the corpus.
    * The Fanout repartition doubles as a materialization point: both the
    * frequency aggregate and the instance join hang off the SAME exchange
    * subtree, so ReuseExchange computes the scan+segmentation once. */
  def qDedupSegments(s: SparkSession, d: String): DataFrame = {
    val segs = Fanout.byKey(Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(segmentWindows)).as(Seq("seg_no", "seg")))
    val freq = segs.groupBy("seg")
      .agg(countDistinct("doc_id").as("nd"))
    segs.join(freq, "seg")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ",
          transform(
            filter(sort_array(collect_list(struct(col("seg_no"), col("seg"),
                                                  (col("nd") === 1).as("keep")))),
                   x => x.getField("keep")),
            x => x.getField("seg"))).as("text_kept"),
        count(lit(1)).as("n_segs"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("doc_id")
  }

  // 4-token segments over the words `w`, split once below the lambda
  private[graft] val segmentWindows =
    "transform(sequence(0, cast(ceil(size(w) / 4.0) as int) - 1), i -> concat_ws(' ', slice(w, i * 4 + 1, 4)))"

  /** EXT: asymmetric CONTAINMENT dedup — the wrapper-page/excerpt detector
    * Jaccard-based LSH structurally misses: an excerpt shares ~all of ITS
    * shingles with its source but few of the source's (Jaccard ≈ |A|/|B|,
    * far below any banding threshold), so minhash banding never surfaces
    * the pair. Candidates instead come from the inverted shingle index
    * (equi-join on the shingle) with STOP-SHINGLE pruning — shingles in
    * > 50 docs are dropped before the self-join, the df-cap that bounds
    * per-shingle pair fan-out (the standard inverted-index join guard; at
    * 100 TB the cap is what keeps the join linear in postings, and the
    * pruned-space containment is what real pipelines score anyway).
    * Containment is measured in the PRUNED shingle space, denominator =
    * the smaller set: excerpts planted from the first 20 tokens of docs
    * 0-49 score 1.0 against their sources. */
  def qDedupContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // excerpt ids live in the NEGATIVE namespace (-(id+1)): real doc_ids
    // are non-negative at any corpus size, so the plant can never collide
    // (an additive offset would silently merge postings once the corpus
    // outgrows it)
    val excerpts = docs.filter(col("doc_id") < 50)
      .select((-(col("doc_id") + 1L)).as("doc_id"),
              concat_ws(" ", slice(split(col("text"), " "), 1, 20)).as("text"))
    // inv/pruned are multi-consumer but deliberately UNFENCED — the
    // fence rule is MEASURED per site, not assumed: a same-JVM A/B at
    // sf0.1 ran 1.60 s unfenced vs 1.80 s with both fenced. Here
    // ReuseExchange and the cheap per-consumer re-explode undercut the
    // cost of materializing two ~1e6-row pins; dsir/ppjoin went the
    // other way because their shared subtrees carry md5/token work that
    // exchange reuse cannot dedupe.
    val inv = shingles3(Fanout.byKey(docs.union(excerpts), col("doc_id")))
    val keep = inv.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
      .select("sh")
    val pruned = inv.join(keep, "sh")
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("n"))
    pruned.as("a")
      .join(pruned.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("ci4",
        floor(col("inter") / least(col("n1"), col("n2")) * 10000.0 + 0.5).cast("long"))
      .filter(col("ci4") >= 8000)
      .select("d1", "d2", "n1", "n2", "inter", "ci4")
      .orderBy("d1", "d2")
  }

  /** EXT: exact-substring window dedup — the scalable form of
    * suffix-array substring deduplication (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): instead of
    * one global suffix array (inherently sequential, memory-bound), hash
    * every w=8-token window and count occurrences; a window seen more
    * than once anywhere in the corpus is duplicated text, and the per-doc
    * duplicated-window ratio is the removal signal. The window count
    * rides a single shuffle of (doc_id, 16-char hash prefix) pairs —
    * never the text — and the per-doc rollup reuses the same exchange.
    * At 100 TB this is the standard approximation: fixed-width windows
    * trade the suffix array's arbitrary-length matches for an
    * embarrassingly parallel two-aggregate plan. */
  def qDedupSubstring(s: SparkSession, d: String): DataFrame = {
    val wins = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 7), i -> substring(md5(array_join(slice(tk, i, 8), ' ')), 1, 16))"))
        .as("h"))
    wins
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
           sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
      .where(col("n_dup") > 0)
      .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_win"))
      .select("doc_id", "n_win", "n_dup", "dup_ppm")
      .orderBy("doc_id")
  }

  /** EXT: dedup EVALUATION — the measurement layer of the dedup family
    * (the [[Similarity.qEvalRetrieval]] counterpart): score the MinHash-
    * LSH candidate generator against EXACT n-gram-Jaccard truth and
    * report corpus-level precision/recall. A 100 TB pipeline runs
    * exactly this as its dedup canary on a sampled slice — banding
    * parameters drift out of tune as the corpus mix changes, and this
    * is the number that catches it before over/under-dedup reaches
    * training data.
    *
    * Truth = pairs with exact Jaccard > 0.5 decided by the INTEGER
    * cross-multiply 2·inter > union (no FP, no rounding — unlike the
    * declared jaccard query's display rounding, the decision here is
    * exact); run = the [[qDedupMinhash]] band-collision pairs, same
    * doc_id < 300 slice. Metrics are integer fixed-point (·1e6 DIV),
    * zero-guarded so an empty run or truth set reports 0 rather than
    * erroring. Scale shape: both sides are the existing bounded
    * operators; the scoring itself is one semi-join plus three 1-row
    * aggregates broadcast together. */
  def qEvalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
    val sh = shingles3(Fanout.byKey(docs, col("doc_id")))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    val truth = graft.Fence(inter
      .join(sizes.as("na"), col("d1") === col("na.doc_id"))
      .join(sizes.as("nb"), col("d2") === col("nb.doc_id"))
      .filter(lit(2L) * col("inter") > col("na.nsh") + col("nb.nsh") - col("inter"))
      .select("d1", "d2"))
    val bands = minhashBands(Fanout.byKey(docs, col("doc_id")))
    val run = graft.Fence(bands.as("a").join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct())
    val hit = run.join(truth, Seq("d1", "d2"), "left_semi")
    val out = hit.agg(count(lit(1)).as("n_hit"))
      .crossJoin(broadcast(run.agg(count(lit(1)).as("n_run"))))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("n_truth"), col("n_run"), col("n_hit"),
        when(col("n_run") === 0, lit(0L))
          .otherwise(expr("n_hit * 1000000 DIV n_run")).as("precision_fp"),
        when(col("n_truth") === 0, lit(0L))
          .otherwise(expr("n_hit * 1000000 DIV n_truth")).as("recall_fp"))
    val keep = graft.Fence.cut(out)
    graft.Fence.release(run); graft.Fence.release(truth)
    keep
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_eval_dedup"       -> (qEvalDedup _),
    "q_dedup_substring"  -> (qDedupSubstring _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_segments"      -> (qDedupSegments _),
    "q_dedup_replay"        -> (qDedupReplay _),
    "q_dedup_window"        -> (qDedupWindow _),
    "q_dedup_minhash"       -> (qDedupMinhash _),
    "q_dedup_minhash_xx"    -> (qDedupMinhashXx _),
    "q_dedup_incremental"   -> (qDedupIncremental _),
    "q_dedup_bloom"         -> (qDedupBloom _),
    "q_dedup_ppjoin"        -> (qDedupPpjoin _),
    "q_dedup_simhash"       -> (qDedupSimhash _),
    "q_dedup_simhash_pairs" -> (qDedupSimhashPairs _),
    "q_dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "q_dedup_clusters"      -> (qDedupClusters _),
    "q_split_leakage_free"  -> (qSplitLeakageFree _),
  )

  private val duckShingles =
    """list_distinct([list_aggregate(t[i:i+2], 'string_agg', ' ')
      |  for i in generate_series(1, len(t) - 2)])""".stripMargin

  val oracle: Map[String, String] = Map(
    // full xxHash64 reimplementation in DuckDB HUGEINT arithmetic — see
    // Xxh64DuckSql for the derivation and its validation ledger
    "q_dedup_minhash_xx" -> Xxh64DuckSql.minhashXxOracle(duckShingles),
    // The bloom prefilter is invisible to the oracle: zero false negatives
    // by construction, false positives removed by the confirm join — so the
    // reference semantics ARE the plain hash join.
    "q_dedup_bloom" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |          UNION ALL
        |          SELECT -(doc_id + 1) AS doc_id, text FROM corpus WHERE doc_id < 40),
        |ca AS (SELECT md5(text) AS h, MIN(doc_id) AS dup_of, COUNT(*) AS n_copies
        |       FROM corpus GROUP BY md5(text))
        |SELECT b.doc_id, ca.dup_of, ca.n_copies
        |FROM batch b JOIN ca ON md5(b.text) = ca.h
        |ORDER BY b.doc_id""".stripMargin,
    // deliberately NOT the engine's algorithm (r9 advice): the oracle is
    // the PLAIN unfiltered inverted-index Jaccard >= 0.8 join — no df
    // ordering, no prefix, no length condition — so a shared
    // prefix-lemma bug on the engine side CANNOT cancel out in the
    // compare. Every pair of docs sharing any shingle is scored; the
    // engine's prefix-filtered plan must reproduce this exactly.
    "q_dedup_ppjoin" ->
      s"""WITH sh AS (SELECT doc_id, $duckShingles AS s
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |inv AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
        |ints AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |         FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT i.d1, i.d2, s1.n AS n1, s2.n AS n2, i.inter,
        |       i.inter * 10000 // (s1.n + s2.n - i.inter) AS j4
        |FROM ints i JOIN sizes s1 ON i.d1 = s1.doc_id
        |            JOIN sizes s2 ON i.d2 = s2.doc_id
        |WHERE i.inter * 10 >= (s1.n + s2.n - i.inter) * 8
        |ORDER BY i.d1, i.d2""".stripMargin,
    "q_dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |w AS (SELECT doc_id,
        |        unnest([substring(md5(list_aggregate(tk[i:i+7], 'string_agg', ' ')), 1, 16)
        |                for i in generate_series(1, len(tk) - 7)]) AS h
        |      FROM t WHERE len(tk) >= 8),
        |c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS cnt FROM w)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_win,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1000000
        |       // COUNT(*) AS BIGINT) AS dup_ppm
        |FROM c GROUP BY doc_id
        |HAVING SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) > 0
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents
        |              UNION ALL
        |              SELECT -(doc_id + 1) AS doc_id,
        |                list_aggregate(string_split(text, ' ')[1:20], 'string_agg', ' ') AS text
        |              FROM documents WHERE doc_id < 50),
        |sh AS (SELECT doc_id, $duckShingles AS s
        |       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs)),
        |inv AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |keep AS (SELECT sh FROM inv GROUP BY sh HAVING COUNT(*) <= 50),
        |pr AS (SELECT inv.doc_id, inv.sh FROM inv JOIN keep USING (sh)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM pr GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |          FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT d1, d2, s1.n AS n1, s2.n AS n2, inter,
        |  CAST(floor(inter / LEAST(s1.n, s2.n) * 10000.0 + 0.5) AS BIGINT) AS ci4
        |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE floor(inter / LEAST(s1.n, s2.n) * 10000.0 + 0.5) >= 8000
        |ORDER BY d1, d2""".stripMargin,
    "q_dedup_segments" ->
      """WITH words AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, ' ')) AS word,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, CAST((pos - 1) // 4 AS BIGINT) AS seg_no,
        |         string_agg(word, ' ' ORDER BY pos) AS seg
        |  FROM words GROUP BY doc_id, (pos - 1) // 4),
        |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
        |SELECT s.doc_id,
        |       COALESCE(string_agg(CASE WHEN f.nd = 1 THEN s.seg END, ' ' ORDER BY s.seg_no), '') AS text_kept,
        |       COUNT(*) AS n_segs,
        |       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM segs s JOIN freq f USING (seg)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // LAG-based debounce: kept = first occurrence OR >= 5 min after the
    // previous raw occurrence of the same (user, type)
    "q_dedup_window" ->
      """WITH lagd AS (
        |  SELECT event_type,
        |    LAG(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev_ts, ts
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL
        |                  OR ts >= prev_ts + INTERVAL 5 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN prev_ts IS NOT NULL
        |                 AND ts < prev_ts + INTERVAL 5 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
        |FROM lagd GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_dedup_replay" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM (SELECT DISTINCT event_id, event_type, value FROM (
        |        SELECT event_id, event_type, value FROM events
        |        UNION ALL
        |        SELECT event_id, event_type, value FROM events WHERE event_id % 50 = 0))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $duckShingles AS s
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> substring(md5(CAST(k // 4 AS VARCHAR) || '|' || x), (k % 4) * 8 + 1, 8)))
        |   for k in generate_series(0, 7)] AS mh FROM sh),
        |bands AS (SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS bh
        |          FROM sig, generate_series(0, 3) g(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |          FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |cc(v, lbl) AS (
        |  SELECT v, v AS lbl FROM verts
        |  UNION
        |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON cc.v = e.dst)
        |SELECT v AS doc_id, MIN(lbl) AS cluster FROM cc GROUP BY v ORDER BY doc_id""".stripMargin,
    // same component CTE as q_dedup_clusters, then the md5 split of the
    // group label — engine-portable hex-string thresholds
    "q_split_leakage_free" ->
      s"""WITH RECURSIVE sh AS (SELECT doc_id, $duckShingles AS s
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> substring(md5(CAST(k // 4 AS VARCHAR) || '|' || x), (k % 4) * 8 + 1, 8)))
        |   for k in generate_series(0, 7)] AS mh FROM sh),
        |bands AS (SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS bh
        |          FROM sig, generate_series(0, 3) g(b)),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |          FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION ALL SELECT d2, d1 FROM pairs),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |cc(v, lbl) AS (
        |  SELECT v, v AS lbl FROM verts
        |  UNION
        |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON cc.v = e.dst)
        |, labels AS (SELECT v AS doc_id, MIN(lbl) AS grp FROM cc GROUP BY v)
        |, assigned AS (
        |  SELECT d.doc_id, COALESCE(l.grp, d.doc_id) AS grp,
        |    CASE WHEN substring(md5(CAST(COALESCE(l.grp, d.doc_id) AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |         WHEN substring(md5(CAST(COALESCE(l.grp, d.doc_id) AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
        |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT grp) AS n_groups,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH sh AS (SELECT doc_id, $duckShingles AS s
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> substring(md5(CAST(k // 4 AS VARCHAR) || '|' || x), (k % 4) * 8 + 1, 8)))
        |   for k in generate_series(0, 7)] AS mh FROM sh),
        |bands AS (SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS bh
        |          FROM sig, generate_series(0, 3) g(b))
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH sh AS (SELECT doc_id, $duckShingles AS s
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> substring(md5(CAST(k // 4 AS VARCHAR) || '|' || x), (k % 4) * 8 + 1, 8)))
        |   for k in generate_series(0, 7)] AS mh FROM sh),
        |bands AS (SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS bh
        |          FROM sig, generate_series(0, 3) g(b))
        |SELECT n.doc_id AS doc_id, min(c.doc_id) AS dup_of, count(DISTINCT n.b) AS n_bands
        |FROM bands n JOIN bands c ON n.b = c.b AND n.bh = c.bh
        |WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_simhash" ->
      """WITH sig AS (SELECT doc_id,
        |  list_aggregate([CASE WHEN len(list_filter(ht, h -> substring(h, k+1, 1) >= '8')) * 2 > len(ht)
        |                       THEN '1' ELSE '0' END
        |                  for k in generate_series(0, 31)], 'string_agg', '') AS sh
        |  FROM (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')), x -> md5(x)) AS ht FROM documents))
        |SELECT min_doc, sh, n FROM (
        |  SELECT sh, MIN(doc_id) AS min_doc, COUNT(*) AS n FROM sig GROUP BY 1)
        |WHERE n > 1 ORDER BY min_doc""".stripMargin,
    "q_dedup_simhash_pairs" ->
      """WITH sig AS (SELECT doc_id,
        |  list_aggregate([CASE WHEN len(list_filter(ht, h -> substring(h, k+1, 1) >= '8')) * 2 > len(ht)
        |                       THEN '1' ELSE '0' END
        |                  for k in generate_series(0, 31)], 'string_agg', '') AS sh
        |  FROM (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')), x -> md5(x)) AS ht
        |        FROM documents WHERE doc_id < 500)),
        |bands AS (SELECT doc_id, sh, b, substring(sh, b*8+1, 8) AS slice
        |          FROM sig, generate_series(0, 3) g(b))
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |  len([i for i in generate_series(1, 32) if substring(a.sh, i, 1) != substring(b.sh, i, 1)]) AS dist
        |FROM bands a JOIN bands b ON a.b = b.b AND a.slice = b.slice AND a.doc_id < b.doc_id
        |WHERE len([i for i in generate_series(1, 32) if substring(a.sh, i, 1) != substring(b.sh, i, 1)]) <= 3
        |ORDER BY d1, d2""".stripMargin,
    // truth = exact-Jaccard pairs by integer cross-multiply; run = the
    // md5 minhash band chain on the same doc_id < 300 slice; metrics in
    // 1e6 fixed point with zero guards mirroring the engine's CASEs.
    "q_eval_dedup" ->
      s"""WITH sh AS (SELECT doc_id, unnest($duckShingles) AS shingle
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300)),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |truth AS (SELECT d1, d2 FROM inter
        |          JOIN sizes na ON d1 = na.doc_id JOIN sizes nb ON d2 = nb.doc_id
        |          WHERE 2 * inter > na.nsh + nb.nsh - inter),
        |shm AS (SELECT doc_id, $duckShingles AS s
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300)),
        |sig AS (SELECT doc_id,
        |  [list_min(list_transform(s, x -> substring(md5(CAST(k // 4 AS VARCHAR) || '|' || x), (k % 4) * 8 + 1, 8)))
        |   for k in generate_series(0, 7)] AS mh FROM shm),
        |bands AS (SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS bh
        |          FROM sig, generate_series(0, 3) g(b)),
        |run AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |        FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |hit AS (SELECT r.d1, r.d2 FROM run r
        |        WHERE EXISTS (SELECT 1 FROM truth t WHERE t.d1 = r.d1 AND t.d2 = r.d2)),
        |c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |             (SELECT CAST(COUNT(*) AS BIGINT) FROM run) AS n_run,
        |             (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit)
        |SELECT n_truth, n_run, n_hit,
        |  CASE WHEN n_run = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_hit * 1000000 // n_run END AS precision_fp,
        |  CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
        |       ELSE n_hit * 1000000 // n_truth END AS recall_fp
        |FROM c""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, unnest($duckShingles) AS shingle
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300)),
        |sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT d1, d2, jaccard FROM (
        |  SELECT d1, d2, ROUND(CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter), 4) AS jaccard
        |  FROM inter JOIN sizes na ON d1 = na.doc_id JOIN sizes nb ON d2 = nb.doc_id)
        |WHERE jaccard > 0.5 ORDER BY d1, d2""".stripMargin,
  )
}

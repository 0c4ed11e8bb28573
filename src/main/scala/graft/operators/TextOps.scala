package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2 EXT).
  *
  * The reference has no text processing — these are the north-star extensions
  * (exact dedup, language-ID, quality scoring, token counting, document
  * fingerprinting) built entirely from codegen'd built-in functions: no UDFs,
  * so every query stays inside whole-stage codegen and scales linearly with
  * input (narrow per-row transforms + one hash-aggregate shuffle at most).
  *
  * Determinism: every hash is `md5` (identical lowercase-hex output in Spark
  * and DuckDB); every ratio is rounded; every query ends ORDER BY a unique key.
  */
object TextOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Fan the single-split corpus parquet across tasks BEFORE a per-doc
    * token/shingle explode: without it one task owns the whole expansion
    * (cpu ≈ wall in the bench telemetry). Deterministic (hash on the
    * key); the width is conf-derived (graft.Fanout — session shuffle
    * partitions by default) so a 1000-executor cluster fans as wide as
    * its shuffle, never a literal cap. */
  private def fanout(docs: DataFrame): DataFrame =
    graft.Fanout.byKey(docs, col("doc_id"))

  /** Occurrences of literal substring `pat` in `c` — the classic
    * (len - len(replace)) / len(pat) trick; identical in DuckDB. */
  private def occ(c: Column, pat: String): Column =
    (length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(pat), ""))) / lit(pat.length)

  /** A8+F9 (EXT): exact dedup across a simulated re-crawl — the corpus has no
    * byte-identical duplicates, so union a shifted copy of the first 100 docs
    * (same text, new doc_id), then group on the content hash. At 100 TB this
    * is the canonical map-side-combine pattern: `sha2/md5(text)` groups
    * shuffle only (hash, partial-count), never the document bodies. */
  def qDedupExact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val recrawl = docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.union(recrawl)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("min_doc"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("min_doc", "h", "n")
      .orderBy("min_doc")
  }

  /** F10 (EXT): per-language corpus stats (the manifest's q_text_stats). */
  def qTextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
           round(avg(col("n_chars")), 2).as("avg_chars"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  /** EXT: character-bigram language-ID heuristic — score each language by
    * occurrence counts of characteristic bigrams, argmax with a fixed
    * tie-break order, then confusion-matrix against the labeled `lang`.
    * All narrow string ops; one small hash-agg at the end. */
  def qTextLangId(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val sEn = occ(t, "th") + occ(t, "he") + occ(t, "er")
    val sDe = occ(t, "ch") + occ(t, "ei") + occ(t, "en")
    val sFr = occ(t, "le") + occ(t, "ou") + occ(t, "re")
    val sEs = occ(t, "os") + occ(t, "la") + occ(t, "ar")
    val pred = when(sEn >= sDe && sEn >= sFr && sEn >= sEs, "en")
      .when(sDe >= sFr && sDe >= sEs, "de")
      .when(sFr >= sEs, "fr")
      .otherwise("es")
    Tables.documents(s, d)
      .select(col("lang"), pred.as("pred"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** EXT: per-document quality scoring — token count, average token length,
    * stopword ratio, non-alphanumeric ratio, and a 0-3 rule score. The
    * standard pre-training quality filter shape (length + stopword + symbol
    * heuristics), all codegen'd per-row expressions — no shuffle at all. */
  def qTextQuality(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nTok = size(toks(t))
    val avgLen = (length(t) - (nTok - lit(1)).cast("double")) / nTok
    val stopHits = occ(t, "the ") + occ(t, " a ") + occ(t, "data ")
    val stopRatio = stopHits / nTok
    val symRatio = (length(t) - length(regexp_replace(t, "[a-z0-9 ]", ""))).cast("double") / length(t)
    val score = (nTok.between(20, 80)).cast("int") +
      (stopRatio > 0.01).cast("int") +
      (avgLen.between(3.0, 8.0)).cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), nTok.cast("long").as("n_tok"),
              round(avgLen, 4).as("avg_tok_len"),
              round(stopRatio, 4).as("stop_ratio"),
              round(symRatio, 4).as("sym_ratio"),
              score.cast("long").as("quality"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** EXT: token counting — whitespace tokens vs a BPE-ish regex segmentation
    * (letter runs / digit runs / single symbols), aggregated per language.
    * This is the "how many tokens is my corpus" pipeline primitive. */
  def qTextTokens(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Tables.documents(s, d)
      .select(col("lang"), size(toks(t)).cast("long").as("ws"),
              regexp_count(t, lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("bpe"),
              length(t).cast("long").as("chars"))
      .groupBy("lang")
      .agg(sum(col("ws")).as("n_ws_tokens"),
           sum(col("bpe")).as("n_bpe_tokens"),
           sum(col("chars")).as("n_chars_total"))
      .orderBy("lang")
  }

  /** EXT: document fingerprinting (winnowing-lite) — the min and max md5 over
    * the document's 5-token shingles. Two such extremes form a robust
    * content fingerprint that survives small edits (same idea as the
    * reference's reuse of one precomputed mask across timesteps: compute a
    * cheap invariant once, compare it everywhere). */
  def qTextFingerprint(s: SparkSession, d: String): DataFrame = {
    val sh = expr(
      """transform(sequence(1, size(split(text, ' ')) - 4),
        |          i -> md5(concat_ws(' ', slice(split(text, ' '), i, 5))))""".stripMargin)
    Tables.documents(s, d)
      .select(col("doc_id"),
              substring(array_min(sh), 1, 16).as("fp_min"),
              substring(array_max(sh), 1, 16).as("fp_max"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** EXT: text normalization — casefold, strip non-alphanumerics, collapse
    * whitespace — then dedup on the normalized key. The standard "same doc
    * modulo formatting" pass that runs before exact hashing in a cleaning
    * pipeline. Pure codegen'd string expressions. */
  def qTextNormalize(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
                                   " +", " "))
    Tables.documents(s, d)
      .select(col("doc_id"), norm.as("norm"))
      .groupBy(md5(col("norm")).as("h"))
      .agg(min(col("doc_id")).as("min_doc"), count(lit(1)).as("n"),
           min(length(col("norm"))).cast("long").as("norm_len"))
      .select("min_doc", "h", "n", "norm_len")
      .orderBy("min_doc")
  }

  /** EXT: corpus vocabulary — term frequency + document frequency, the
    * table every tokenizer/stopword/quality decision reads. Explode is
    * narrow; the group-by shuffles (token, partial counts) with map-side
    * combine — vocabulary-sized, not corpus-sized, at any scale. df via
    * count(DISTINCT doc_id) plans as two-phase hash distinct. */
  def qTextVocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("n_occ").desc, col("tok"))
      .limit(50)

  /** EXT: top TF-IDF term per document. Scoring is EXACT integer
    * arithmetic — score = tf * 1e6 div df (rank-equivalent to tf/df;
    * a real idf's ln() would hash-diverge between engines by libm ulps,
    * documented SURVEY §5.1 discipline). Two aggregations + one window,
    * all shuffling (doc, token, counts) tuples only. */
  def qTextTfidf(s: SparkSession, d: String): DataFrame = {
    val tf = fanout(Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df as a window count over tf — ONE extra shuffle on tok, no join,
    // and the tf subtree is computed exactly once (a tf-join-df form
    // plans the explode+aggregate twice absent exchange reuse)
    val wDf = Window.partitionBy("tok")
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .withColumn("score", expr("CAST(tf * 1000000 DIV df AS BIGINT)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("tok").as("top_term"), col("score"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** EXT: BM25 phrase-query relevance — the retrieval scorer TF-IDF
    * approximates: saturating term frequency (k1 = 1.2) + document-length
    * normalization (b = 0.75), over BIGRAM phrases (the corpus's unigram
    * vocabulary is so small every unigram's df ≈ N, which degenerates any
    * idf — phrases restore selectivity, and phrase-query BM25 is a real
    * retrieval shape). All arithmetic is scaled-integer DIV — the SURVEY
    * §5.1 discipline: k/b fixed-point at x1000, idf replaced by the
    * rank-equivalent (N-df)/df (monotone with ln((N-df+.5)/(df+.5))), so
    * both engines agree bit-for-bit with no libm in the loop.
    * Plan: one explode+aggregate for tf (the phrase IN-filter prunes
    * BEFORE the aggregate — the shuffle carries only query-phrase hits),
    * df as a window count over the tiny tf frame (no second corpus
    * pass), corpus stats broadcast. Top-k is TakeOrderedAndProject. */
  def qTextBm25(s: SparkSession, d: String): DataFrame = {
    val phrases = Seq("join vector", "customer hash", "slow merge")
    val docs = Tables.documents(s, d)
    val tf = fanout(docs)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(expr("transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
          .as("phrase"))
      .filter(col("phrase").isin(phrases: _*))
      .groupBy("doc_id", "dl", "phrase").agg(count(lit(1)).as("tf"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy("phrase")))
      .crossJoin(broadcast(stats))
      .withColumn("dlr_x1000", expr("dl * 1000 * n_docs DIV sum_dl"))
      .withColumn("k_x1000", expr("1200 * (250 + 750 * dlr_x1000 DIV 1000) DIV 1000"))
      .withColumn("tfc_x1000", expr("tf * 2200 * 1000 DIV (tf * 1000 + k_x1000)"))
      .withColumn("idf_x1000", expr("(n_docs - df) * 1000000 DIV df"))
      .groupBy("doc_id")
      .agg(sum(expr("idf_x1000 * tfc_x1000")).as("bm25_x"),
           count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_x").desc, col("doc_id"))
      .limit(20)
      .select("doc_id", "bm25_x", "n_terms")
  }

  /** EXT: DETERMINISTIC corpus shuffle — reproducible global training
    * order: every doc keyed by md5(doc_id ':' seed), total order = key
    * order. Same permutation on every engine, every run, every cluster
    * size — the property rand()-based shuffling cannot give (and the
    * reason epoch shuffles in real pipelines are keyed hashes, not
    * rand()). A new seed is a new independent permutation.
    * Scale shape: the full-corpus materialization is a range-partitioned
    * sort on the key (Spark's orderBy — sampled range exchange, no single
    * reducer), with positions implicit as (range partition, offset); the
    * probe here takes the epoch HEAD via TakeOrderedAndProject (top-50 on
    * the key, never a global sort materialized to one task) and numbers
    * only those 50 rows. */
  def qCorpusShuffle(s: SparkSession, d: String): DataFrame = {
    val head = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":42"))).as("k"))
      .orderBy("k")
      .limit(50)
    head
      .withColumn("pos", row_number().over(Window.orderBy("k")).cast("long"))
      .select("pos", "doc_id", "k")
      .orderBy("pos")
  }

  /** EXT: BPE merge learning — TOKENIZER TRAINING over the corpus, the
    * one pipeline stage upstream of token counting: learn the first K
    * byte-pair merges (Sennrich et al. 2016 word-level BPE). Scale shape:
    * the iteration state is the WORD VOCABULARY (distinct words → char
    * sequences + frequencies), bounded by vocab size, never corpus size —
    * the corpus is scanned exactly once to build it. Each step is one
    * explode+aggregate over the vocab (pair counts, freq-weighted), one
    * 1-row driver read (the argmax — the same iterative-scalar pattern as
    * the k-means/label-propagation loops), and one narrow `aggregate` HOF
    * rewrite fold (greedy left-to-right, non-overlapping — the fold's
    * accumulator-last check reproduces BPE's pairing exactly), fenced by
    * localCheckpoint so lineage stays flat across steps. Ties break
    * (count desc, left, right) — engine-deterministic. Oracle-hashed as
    * of r9: the K bounded steps unroll into DuckDB CTEs, with the greedy
    * fold expressed as a per-word positional recursion ([[bpeStepCte]]);
    * the spec additionally matches a first-principles Scala learner. */
  def qBpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val steps = 4
    var vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(expr("filter(split(w, ''), c -> c <> '')").as("tokens"), col("freq"))
      .transform(graft.Fence.cut)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (step <- 1 to steps) {
      val best = vocab
        .where(size(col("tokens")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(tokens) - 1), i -> struct(tokens[i-1] AS l, tokens[i] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()(0)
      val (l, r, n) = (best.getAs[String]("l"), best.getAs[String]("r"), best.getAs[Long]("n"))
      merges += ((step.toLong, l, r, n))
      val (a, b) = (lit(l), lit(r))
      vocab = vocab.select(
        aggregate(col("tokens"), expr("cast(array() as array<string>)"),
          (acc, x) => when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
                           concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b))))
                        .otherwise(concat(acc, array(x)))).as("tokens"),
        col("freq")).transform(graft.Fence.cut)
    }
    merges.toSeq.toDF("step", "left", "right", "pair_count").orderBy("step")
  }

  /** EXT: BPE ENCODING — the apply half of the tokenizer story
    * ([[qBpeMerges]] trains; this tokenizes the corpus with the learned
    * merges and reports real BPE token counts per document, the number
    * that actually prices a training run). Scale shape: the merge table is
    * tokenizer-sized (K rows, driver state by construction, like any real
    * tokenizer's vocab file); encoding runs over the DISTINCT word
    * vocabulary — each merge step is the same narrow greedy-fold rewrite
    * the learner uses, vocab-sized, never corpus-sized — and the encoded
    * lengths join back to the word stream size-gated on
    * [[MaxBroadcastVocab]]. Oracle-hashed as of r9: re-applying the
    * merges in order to each word's char split reproduces the training
    * chain's final vocab state exactly, so the oracle counts len(v4.t)
    * from the same CTE chain the merges oracle builds; the spec
    * additionally matches a first-principles Scala encoder. */
  def qBpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = qBpeMerges(s, d).orderBy("step").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
    var enc = words.select("w").distinct()
      .select(col("w"), expr("filter(split(w, ''), c -> c <> '')").as("tokens"))
    for ((l, r) <- merges) {
      val (a, b) = (lit(l), lit(r))
      enc = enc.select(col("w"),
        aggregate(col("tokens"), expr("cast(array() as array<string>)"),
          (acc, x) => when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
                           concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b))))
                        .otherwise(concat(acc, array(x)))).as("tokens"))
    }
    val lens = enc.select(col("w"), size(col("tokens")).cast("long").as("n_bpe"))
      .transform(graft.Fence.cut)
    val m = if (lens.count() <= MaxBroadcastVocab) broadcast(lens)
            else lens.hint("shuffle_merge")
    words.join(m, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_bpe").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** EXT: the composed curation pipeline — the stages above chained the
    * way a production corpus build runs them: normalize → keep one doc
    * per normalized-content hash (min doc_id) → quality gate (score ≥ 2)
    * → per-language document/token accounting. One declarative DAG: the
    * dedup window and the final aggregation are the only shuffles, both
    * on bounded keys; everything else is narrow codegen'd string math.
    * The point is compositionality — each stage is the SAME expression
    * the standalone query uses, so correctness of the parts transfers
    * to the whole (and the oracle checks the whole anyway). */
  def qCorpusCurate(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val norm = trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", " "), " +", " "))
    val nTok = size(toks(t))
    val avgLen = (length(t) - (nTok - lit(1)).cast("double")) / nTok
    val stopHits = occ(t, "the ") + occ(t, " a ") + occ(t, "data ")
    val score = (nTok.between(20, 80)).cast("int") +
      ((stopHits / nTok) > 0.01).cast("int") +
      (avgLen.between(3.0, 8.0)).cast("int")
    val w = Window.partitionBy("h").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), md5(norm).as("h"),
              nTok.cast("long").as("ws"), score.as("q"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("q") >= 2)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"),
           sum(col("q")).cast("long").as("sum_quality"))
      .orderBy("lang")
  }

  /** EXT: REPRODUCIBLE corpus sampling — the hash-gate idiom
    * (md5(key) prefix < threshold) instead of rand(): the same rows are
    * sampled on every engine, every run, every cluster size, and the
    * predicate pushes to the scan. '19' ≈ 25/256 ≈ 9.8%. rand()-based
    * Bernoulli sampling is NOT reproducible across engines/partitionings
    * — the standard trap this query exists to document. */
  def qSampleHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "19")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
      .orderBy("lang")

  /** EXT: per-source document cap — the C4/RefinedWeb "domain cap"
    * curation step: keep at most K documents per source, chosen by
    * content-independent hash order so the kept set is reproducible
    * across runs and cluster sizes (a random sample would not be).
    * One window shuffle on the source key; a pathologically hot source
    * at 100 TB takes the [[graft.plans.Layout]] salting path, since the
    * cap only needs the first K of each partition-local hash order
    * merged once. */
  def qCurateSourceCap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum((col("rn") <= 15).cast("long")).as("n_kept"),
           sum((col("rn") > 15).cast("long")).as("n_dropped"),
           min(when(col("rn") === 1, col("doc_id"))).as("cap_seed_doc"))
      .orderBy("source")
  }

  /** EXT: temperature-resampled source mixture — the multilingual-LM
    * alpha-sampling recipe (q_i ∝ p_i^α, α = 0.3: upweight low-resource
    * sources/languages when drawing training batches). One partial
    * aggregation to per-source token mass, then a 20-row global window
    * for the two normalizations — the heavy input never shuffles twice.
    * Shares (p, q) emit as 1e-5 fixed-point integers. */
  def qMixTemperature(s: SparkSession, d: String): DataFrame =
    temperedShares(s, d)
      .select(col("source"), col("n_docs"), col("n_tokens"),
              floor(col("p") * lit(100000.0) + lit(0.5)).cast("long").as("pi5"),
              floor(col("q") * lit(100000.0) + lit(0.5)).cast("long").as("qi5"))
      .orderBy("source")

  /** Per-source token mass with the α = 0.3 tempered target share —
    * the single source of truth [[qMixTemperature]] and
    * [[qMixTokenBudget]] both build on (one partial aggregation, then a
    * source-count-sized global window for the two normalizations). */
  private def temperedShares(s: SparkSession, d: String): DataFrame = {
    val all = Window.partitionBy() // the per-source rollup: tiny by definition
    Tables.documents(s, d)
      .select(col("source"), size(toks(col("text"))).cast("long").as("ws"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("n_tokens"))
      .withColumn("p", col("n_tokens").cast("double") / sum(col("n_tokens")).over(all))
      .withColumn("pa", pow(col("p"), lit(0.3)))
      .withColumn("q", col("pa") / sum(col("pa")).over(all))
  }

  /** EXT: unigram-LM surprisal scoring — the CCNet/KenLM quality-filter
    * shape with the corpus's own unigram model: mean -ln p(word) per
    * document (low = head-like fluent text, high = rare-token noise; a
    * real pipeline thresholds on it per language). Two aggregates — the
    * vocabulary (tiny relative to the corpus; broadcastable at 100 TB for
    * any reasonable vocab) and the per-doc mean — with the word stream
    * joined to the model, never materialized per-doc. The score rounds to
    * 1e-4: the only cross-engine drift source is the last ulp of ln(), ~9
    * orders of magnitude below the rounding grid. */
  def qTextUnigramLp(s: SparkSession, d: String): DataFrame =
    surprisalPerDoc(s, d)
      .select("doc_id", "n_tokens", "surprisal")
      .orderBy("doc_id")

  /** Vocabulary rows above which the unigram model is joined by shuffle
    * instead of broadcast. 4M rows ≈ low hundreds of MB hashed — far under
    * Spark's 8 GB broadcast hard cap and above any real LM vocabulary
    * (BPE vocabs are 32k-256k; CCNet's word-level models ~1M), but raw
    * 100 TB web text has 1e9+ distinct "tokens" and must not be collected
    * to the driver. */
  private[graft] val MaxBroadcastVocab = 4L << 20

  /** (doc_id, lang, n_tokens, surprisal) — the unigram-LM core shared by
    * [[qTextUnigramLp]] and [[qCuratePercentile]]. lang rides along from
    * the single corpus scan (functionally dependent on doc_id) so the
    * percentile split never re-reads the table. */
  private def surprisalPerDoc(s: SparkSession, d: String): DataFrame =
    surprisalPerDoc(s, d, MaxBroadcastVocab)

  /** Size-gated core: the vocabulary aggregate is localCheckpoint-pinned
    * (built once even when the caller's plan references it twice), counted,
    * and broadcast only when it fits; an unbounded raw-web vocab falls back
    * to a plain shuffle join on the word key. */
  private[graft] def surprisalPerDoc(s: SparkSession, d: String,
                                     maxBroadcastVocab: Long): DataFrame = {
    val words = fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("word"))
    val vocab = words.groupBy("word").agg(count(lit(1)).as("c")).transform(graft.Fence.cut)
    val tot = vocab.agg(sum("c").as("n"))
    val model =
      if (vocab.count() <= maxBroadcastVocab) broadcast(vocab)
      else vocab.hint("shuffle_merge") // forbid a stats-misestimated broadcast
    words.join(model, "word")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
           round(avg(-log(col("c").cast("double") / col("n"))), 4).as("surprisal"))
  }

  /** EXT: bigram-LM conditional surprisal — one order up from
    * [[qTextUnigramLp]]: mean -ln p(w_i | w_{i-1}) per document under the
    * corpus's own MLE bigram model (p = c(w1 w2) / Σ_w c(w1 w)). Unigram
    * surprisal scores vocabulary rarity; the bigram score adds local
    * fluency (a doc of common words in improbable ORDER now scores high) —
    * the next rung on the CCNet/KenLM quality-filter ladder. The context
    * denominator is the bigram-stream marginal (Σ over bigrams sharing the
    * left word), attached to the model rows by ONE window over the tiny
    * model frame — never a second corpus pass. Join is size-gated like the
    * unigram model: broadcast under [[MaxBroadcastVocab]] distinct
    * bigrams, shuffle-merge beyond (raw web text has ~1e9+ bigrams).
    * Docs with <2 tokens have no bigrams and drop out on both engines. */
  def qTextBigramLm(s: SparkSession, d: String): DataFrame =
    bigramLm(Tables.documents(s, d))

  /** Core over any (doc_id, text) frame — the replicated-corpus
    * numbers are in SCALE.md §Round-7 fixes. */
  private[graft] def bigramLm(docs: DataFrame): DataFrame = {
    val big = fanout(docs)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))"))
        .as("phrase"))
    val model0 = big.groupBy("phrase").agg(count(lit(1)).as("c2")).transform(graft.Fence.cut)
    val model = model0.withColumn("c1",
      sum("c2").over(Window.partitionBy(split(col("phrase"), " ").getItem(0))))
    val m =
      if (model0.count() <= MaxBroadcastVocab) broadcast(model)
      else model.hint("shuffle_merge")
    big.join(m, "phrase")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           round(avg(-log(col("c2").cast("double") / col("c1"))), 4).as("surprisal"))
      .orderBy("doc_id")
  }

  /** EXT: PMI collocation mining — the word2vec-phrases pass (Mikolov
    * et al. 2013 §4, "Distributed representations of words and
    * phrases"): score every adjacent word pair by how much more often
    * it occurs than its parts predict, keep the top scorers as phrase
    * candidates ("new york" fuses, "of the" does not). Production
    * pipelines run this between tokenizer training and corpus encoding
    * so multiword units become single tokens.
    *
    * Engine-exactness: PMI = ln(p(ab)/(p(a)p(b))) is monotone in the
    * LIFT c(ab)·N / (c(a)·c(b)), so the op ranks by the lift itself in
    * fixed-point — `c2·N·1e6 DIV (c(a)·c(b))` staged through
    * DECIMAL(38,0) (at corpus scale c2·N·1e6 ~ 1e32 overflows BIGINT;
    * the [[hamiltonAlloc]] convention, HUGEINT on the DuckDB side). No
    * logarithm ever evaluated — ranking and thresholds are exact.
    *
    * Plan shape at 100 TB: two corpus passes (unigram counts, bigram
    * counts), both map-side-combined count shuffles on the token key;
    * the min-count filter (Mikolov's subsampling guard) cuts the bigram
    * relation BEFORE the two vocab joins, which broadcast under
    * [[MaxBroadcastVocab]] and shuffle-merge beyond; the final top-k is
    * a single-partition sort of only the filtered candidates. */
  def qTextPmi(s: SparkSession, d: String): DataFrame =
    collocations(Tables.documents(s, d), minCount = 5L, topK = 100)

  /** Core over any (doc_id, text) frame. */
  private[graft] def collocations(docs: DataFrame, minCount: Long,
                                  topK: Int): DataFrame = {
    val tk = fanout(docs).select(col("doc_id"), toks(col("text")).as("tk"))
    val uni = graft.Fence.cut(
      tk.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw")))
    val nTok = uni.agg(sum(col("cw")).as("n"))
    val big = tk.where(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val m = if (uni.count() <= MaxBroadcastVocab) (df: DataFrame) => broadcast(df)
            else (df: DataFrame) => df.hint("shuffle_merge")
    big
      .join(m(uni.select(col("w").as("w1"), col("cw").as("n_left"))), "w1")
      .join(m(uni.select(col("w").as("w2"), col("cw").as("n_right"))), "w2")
      .crossJoin(broadcast(nTok))
      .select(col("w1"), col("w2"), col("c2").as("n_pair"),
        col("n_left"), col("n_right"),
        expr("""CAST((CAST(c2 AS DECIMAL(38,0)) * n * 1000000)
               |     DIV (CAST(n_left AS DECIMAL(38,0)) * n_right) AS BIGINT)"""
          .stripMargin).as("lift_fp"))
      .orderBy(col("lift_fp").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** EXT: per-language percentile split on the LM score — the CCNet
    * head/middle/tail recipe: rank each language's documents by unigram
    * surprisal and cut into terciles (head = most fluent third). Relative
    * thresholds are the point — an absolute perplexity cutoff is
    * incomparable across languages, the percentile is self-calibrating.
    * NTILE runs over the ROUNDED surprisal with a doc_id tiebreak, so the
    * tercile boundaries are engine-deterministic. One window shuffle on
    * the language key over doc-level rows (the corpus itself never
    * reaches the window — [[surprisalPerDoc]] reduced it already). */
  def qCuratePercentile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("surprisal"), col("doc_id"))
    surprisalPerDoc(s, d)
      .withColumn("tercile", ntile(3).over(w).cast("long"))
      .groupBy("lang", "tercile")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("n_tokens"),
           min("surprisal").as("min_sp"),
           max("surprisal").as("max_sp"))
      .orderBy("lang", "tercile")
  }

  /** EXT: DSIR — data selection via importance resampling (Xie et al.
    * 2023, arXiv:2302.03169): score every raw document by how much more
    * likely its hashed-n-gram features are under a TARGET distribution
    * (here: the English slice, standing in for "looks like the eval
    * domain") than under the RAW corpus distribution, then keep the
    * top-weighted docs. The published recipe is exactly this — hashed
    * unigram/bigram counts, two smoothed multinomials, per-doc
    * log-likelihood-ratio weight Σ c_b·(ln p̂_t(b) − ln p̂_r(b)) — and it
    * is the standard pretraining-data targeting pass between raw crawl
    * and mixture construction.
    *
    * Engine portability (SURVEY §5.1): the feature space is the first 2
    * hex chars of md5(token) — B = 256 buckets as STRING keys, no
    * numeric hex conversion in either engine. The only libm call, the
    * per-BUCKET smoothed LLR, is quantized to a 1e-6 fixed-point BIGINT
    * *before* any per-doc arithmetic, so document weights are exact
    * integer dot products Σ c_b·llr_q(b) — partition-order-independent
    * and bit-identical across engines (the q_sample_weighted precedent:
    * a last-ulp ln() difference moves a weight only if the true value
    * sits within ~1e-16 of a 5e-7 rounding boundary).
    *
    * Plan: ONE corpus scan — explode tokens → (doc_id, bucket) counts
    * (shuffle carries ≤256 rows/doc of (key, partial count), map-side
    * combined); the 256-row model folds out of that same frame via a
    * conditional re-aggregate (c_t as a CASE sum, no second scan) and
    * BROADCASTS back onto the per-doc frame; the weight re-aggregate
    * keys on doc_id; top-k is TakeOrderedAndProject. At 100 TB the
    * model stays 256 rows regardless of corpus size, nothing quadratic
    * exists, and the heavy shuffle is bounded by docs × 256 — the same
    * envelope as the TF-IDF family. Production uses a bigger B and
    * bigram features; the plan is B-invariant. */
  def qCurateDsir(s: SparkSession, d: String): DataFrame =
    dsirWeights(fanout(Tables.documents(s, d)))
      .orderBy(col("weight_q").desc, col("doc_id"))
      .limit(100)

  /** The DSIR core over any (doc_id, lang, text) frame — the
    * replicated-corpus numbers are in SCALE.md §Round-9 probes. */
  def dsirWeights(docs: DataFrame): DataFrame = {
    // The feature relation feeds BOTH the model build and the scoring
    // join; unfenced, Catalyst plans the scan + explode + md5 + count
    // subtree twice (exchange reuse would dedupe only the scan's
    // shuffle, not the per-token compute above it). The fence
    // materializes the compact (doc, bucket, count) relation once —
    // ≤256 small rows per document, the feature table a production DSIR
    // run persists anyway — so the corpus text is read and hashed
    // exactly once. Same fence precedent as surprisalPerDoc's vocab and
    // the dedup cluster rounds; memory-pinned (graft.Fence, r10) because
    // localCheckpoint's eager disk write swung this query 0.8↔5.8 s
    // run-to-run in the r9 driver bench.
    val docBucket = graft.Fence(docs
      .select(col("doc_id"), col("lang"),
              explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("lang"),
               substring(md5(col("tok")), 1, 2).as("b"))
      .agg(count(lit(1)).as("c")))
    // 256-row smoothed LLR model from the SAME frame (conditional agg —
    // target = the English slice, raw = everything), totals via a window
    // over the model itself (256 rows; no driver round-trip)
    val model = docBucket.groupBy("b")
      .agg(sum(col("c")).as("c_r"),
           sum(when(col("lang") === "en", col("c")).otherwise(lit(0L))).as("c_t"))
    val wAll = Window.partitionBy()
    val llr = model
      .withColumn("n_r", sum(col("c_r")).over(wAll))
      .withColumn("n_t", sum(col("c_t")).over(wAll))
      .select(col("b"), floor(
        (log((col("c_t") + lit(1.0)) / (col("n_t") + lit(256.0))) -
         log((col("c_r") + lit(1.0)) / (col("n_r") + lit(256.0)))) * lit(1e6)
          + lit(0.5)).cast("long").as("llr_q"))
    docBucket.join(broadcast(llr), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c") * col("llr_q")).as("weight_q"),
           sum(col("c")).as("n_tokens"))
  }

  /** EXT: sequence packing — assign documents to 512-token-budget bins,
    * the batch-construction step before training: a running token total
    * in deterministic doc order, bin = exclusive-cumsum / budget. This is
    * contiguous-fill CHUNK ASSIGNMENT, not greedy bin packing: a document
    * whose tokens straddle a boundary stays in (and overfills) the bin
    * its first token lands in — training handles the overflow by
    * truncation/continuation — and a document longer than the budget
    * advances the running total past several boundaries, so bin ids can
    * skip (greedy close-on-overflow packing is inherently sequential
    * state and has no cumsum form). The window partitions by SOURCE, not
    * globally — the 100 TB-safe shape: each source's cumsum is an
    * independent partition-local scan, no single-partition global window.
    * Bin stats (doc count, token sum, id range) come out of the same
    * grouped pass. */
  def qPackSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("c", sum("n_tokens").over(w))
      .groupBy(col("source"),
               floor((col("c") - col("n_tokens")) / lit(512.0)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
           min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "bin")
  }

  /** EXT: REPRODUCIBLE weighted sampling — Efraimidis-Spirakis exponential
    * keys (VLDB 2006): each row draws u ~ U(0,1) and competes with key
    * -ln(u)/w; the k smallest keys are a weighted-without-replacement
    * sample (here w = n_chars: longer docs proportionally likelier). The
    * randomness is md5-derived (first 8 hex nibbles folded to a 32-bit
    * int), so like [[qSampleHash]] the same rows win on every engine, run,
    * and cluster size — rand() cannot do that. Selection is a global
    * top-k = TakeOrderedAndProject (bounded heap per partition, k rows to
    * the driver), never a full sort: the scale-safe "sample 1M docs by
    * quality weight from 100 TB" shape. */
  def qSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val h = expr(
      """aggregate(sequence(1, 8), 0L, (a, i) ->
        |  a * 16 + instr('0123456789abcdef',
        |                 substring(md5(cast(doc_id AS string)), i, 1)) - 1)""".stripMargin)
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      // a zero-weight row can never win an E-S draw — and without this
      // guard -ln(u)/0 is NULL, which Spark sorts FIRST and DuckDB LAST
      .filter(col("n_chars") > 0)
      .withColumn("u", (h + lit(0.5)) / lit(4294967296.0))
      // order on the 1e-6-rounded key (+ id tiebreak) so the SELECTED SET
      // is immune to last-ulp ln() drift between engines
      .withColumn("ki6",
        floor(-log(col("u")) / col("n_chars") * lit(1e6) + lit(0.5)).cast("long"))
      .orderBy(col("ki6"), col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_chars"), col("ki6"))
  }

  /** EXT: stratified sampling — exactly `n` docs per language (the
    * class-balancing shape), deterministic via hash-order ranking inside
    * each stratum. One window shuffle on the stratum key. */
  def qSampleStratified(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("doc_id"))
      .orderBy("lang", "doc_id")
  }

  /** EXT: PROPORTIONAL stratified sampling with EXACT largest-remainder
    * allocation (Hamilton apportionment) — the subcorpus-construction op
    * [[qSampleStratified]]'s fixed per-stratum quota cannot express:
    * "sample exactly N/10 documents, each source represented in
    * proportion to its size". Quotas are pure integer arithmetic —
    * base_s = (n_s·T) DIV N, the T − Σbase leftover seats go to the
    * largest remainders ((n_s·T) MOD N, ties by source) — so Σalloc = T
    * EXACTLY, no engine FP anywhere. Membership inside each stratum is
    * the md5-rank order (deterministic at any parallelism, the
    * qSampleHash convention); the id_sum output hash-gates the exact
    * selected SET, not just counts.
    *
    * Scale shape: the allocation math runs on the per-source count
    * relation (|sources| rows — windows over it are free); the
    * selection is STATS-GATED between the two equivalent forms (r10
    * verdict #7): below `spark.graft.selectk.bytes` (default 512 MB of
    * Catalyst-estimated input — the ~20M-doc crossover the `selectk`
    * probe measured) one rank window per stratum; above it the
    * two-scan hash-prefix select-k ([[selectKByHash]] — no full-
    * stratum sort, the 100 TB shape). Both branches pick the IDENTICAL
    * set by construction (spec-pinned), so the gate is invisible to
    * correctness. */
  def qSampleProportional(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "source")
    val alloc = hamiltonAlloc(docs.groupBy("source").agg(count(lit(1)).as("n_s")))
    val gateBytes = s.conf.getOption("spark.graft.selectk.bytes")
      .map(_.toLong).getOrElse(512L << 20)
    val useSelectK =
      docs.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(gateBytes)
    // the select-k branch consumes alloc 4× (threshold, bounds, final
    // join) and alloc is a FULL-CORPUS aggregate — fence it there so
    // the corpus is scanned once for counts, not once per consumer;
    // the window branch keeps its 2-consumer exchange-reuse plan
    val allocF = if (useSelectK) graft.Fence(alloc) else alloc
    val picked =
      if (useSelectK) selectKByHash(docs, allocF.select("source", "alloc"))
      else {
        val wRank = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs
          .withColumn("rn", row_number().over(wRank))
          .join(broadcast(allocF), "source")
          .filter(col("rn") <= col("alloc"))
          .select("source", "doc_id")
      }
    picked
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_sum"))
      .join(broadcast(allocF), "source")
      .select(col("source"), col("n_s").as("n_docs"), col("alloc"),
              col("n_sampled"), col("id_sum"))
      .orderBy("source")
  }

  /** Hamilton largest-remainder allocation over a (source, n_s) count
    * relation: T = N DIV 10 total seats, base_s = ⌊n_s·T/N⌋, the
    * T − Σbase leftover seats to the largest remainders (ties by
    * source) — Σalloc = T exactly. The n_s·T product runs in
    * DECIMAL(38,0) (r11 advice): as BIGINTs it overflows at
    * N ≳ 1.4e10 docs (n_s·T ~ N²/10 > 2⁶³), silently corrupting every
    * quota at real corpus scale; decimal keeps the arithmetic exact to
    * 38 digits and DuckDB's HUGEINT agrees digit-for-digit.
    * Factored from [[qSampleProportional]] so the spec can plant
    * synthetic counts AT the overflow scale (no fixture that size). */
  private[graft] def hamiltonAlloc(strata: DataFrame): DataFrame = {
    val wAll = Window.partitionBy()
    val wRem = Window.orderBy(col("rem").desc, col("source"))
    strata
      .withColumn("n", sum(col("n_s")).over(wAll))
      .withColumn("t", expr("n DIV 10"))
      .withColumn("p", expr("CAST(n_s AS DECIMAL(38,0)) * t"))
      .withColumn("base", expr("CAST(p DIV n AS BIGINT)"))
      .withColumn("rem", expr("p % n"))
      .withColumn("leftover", col("t") - sum(col("base")).over(wAll))
      .withColumn("seat", row_number().over(wRem))
      .withColumn("alloc",
        col("base") + when(col("seat") <= col("leftover"), 1L).otherwise(0L))
      .select("source", "n_s", "alloc")
  }

  /** The 100 TB path [[qSampleProportional]]'s doc promises, implemented
    * (not just claimed): per-stratum smallest-k selection WITHOUT a
    * rank window over the full stratum. A stratum at corpus scale is
    * billions of rows behind one window partition — a straggler sort.
    * Two-scan hash-prefix select-k instead:
    *  - pass 1: one grouped count over (source, first-2-hex-chars of
    *    the rank hash) — a ≤256·|sources|-row histogram; a cumulative
    *    window over THAT tiny relation finds each stratum's threshold
    *    bucket (first prefix where the running count reaches alloc)
    *    and how many rows of the boundary bucket are still needed;
    *  - pass 2: rows strictly below the threshold prefix pass with NO
    *    ranking at all (their hash is smaller than every boundary-
    *    bucket hash by prefix order); only the ~n_s/256 boundary-bucket
    *    rows get a rank window.
    * The selected SET is identical to the full window form by
    * construction (prefix order is a prefix of full-hash order; the
    * boundary ranks by the same (h, doc_id) key) — DedupSimilaritySpec
    * asserts set equality, and SCALE.md §Round-10 probes measures both
    * forms at replicated scale. `alloc` columns: (source, alloc). */
  private[graft] def selectKByHash(docs: DataFrame, alloc: DataFrame): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    val withP = docs.select(col("doc_id"), col("source"), h.as("h"),
                            substring(h, 1, 2).as("p"))
    val hist = withP.groupBy("source", "p").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("source").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .join(alloc, "source")
      .filter(col("cum") >= col("alloc"))
      .groupBy("source")
      .agg(min(col("p")).as("tb"))
    val bounds = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .join(thr, "source")
      .filter(col("p") === col("tb"))
      .join(alloc, "source")
      .select(col("source"), col("tb"),
              (col("alloc") - (col("cum") - col("cnt"))).as("need"))
    val wBoundary = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    val below = withP.join(broadcast(bounds), "source").filter(col("p") < col("tb"))
      .select("source", "doc_id")
    val boundary = withP.join(broadcast(bounds), "source")
      .filter(col("p") === col("tb"))
      .withColumn("rk", row_number().over(wBoundary))
      .filter(col("rk") <= col("need"))
      .select("source", "doc_id")
    below.unionByName(boundary)
  }

  /** EXT: corpus SNAPSHOT DIFF — the data-versioning op every managed
    * training corpus needs: given two crawl snapshots, report what was
    * added, removed, changed, and untouched — by CONTENT hash, so a
    * re-crawl that re-delivers identical bytes is "unchanged", not
    * "changed". Fixture snapshot B simulates the next crawl: doc_id%13
    * == 3 removed, %13 == 5 edited (a token appended), and a new-docs
    * batch under the negative-id namespace (the plant convention).
    *
    * Plan shape: ONE full-outer equi-join on doc_id with md5(text)
    * computed map-side on each scan — at 100 TB both sides' hashes live
    * in the corpus catalog (the exact-dedup sidecar this engine already
    * maintains), so the diff is a join of two hash tables, never a text
    * read; the per-status rollup reuses the join's exchange. Output:
    * one row per status with count and an id_sum membership gate. */
  def qCorpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val a = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val b = docs.filter(col("doc_id") % 13 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 13 === 7)
        .select((-(col("doc_id") + 1L)).as("doc_id"),
                concat(lit("fresh "), col("text")).as("text")))
      .select(col("doc_id"), md5(col("text")).as("h"))
    corpusDiff(a, b)
  }

  /** The PRODUCTION entry (r10 verdict #8 — the declared query above is
    * a thin fixture binding of this): diff two arbitrary (doc_id, h)
    * content-hash catalogs. At 100 TB both catalogs are the exact-dedup
    * sidecar this engine already maintains (hashes computed at ingest,
    * persisted beside the corpus), so the diff never reads document
    * bytes: ONE full-outer equi-join of two narrow hash tables whose
    * per-status rollup reuses the join's exchange. Output: one row per
    * status (added/removed/changed/unchanged) with count and an id_sum
    * membership gate. */
  def corpusDiff(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("doc_id"), col("h").as("ha"))
      .join(b.select(col("doc_id"), col("h").as("hb")), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("ha").isNull, "added")
          .when(col("hb").isNull, "removed")
          .when(col("ha") === col("hb"), "unchanged")
          .otherwise("changed"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy("status")

  /** EXT: corpus DRIFT between two snapshots — the distribution-shift
    * monitor a continuously-crawled corpus needs: Jensen-Shannon
    * divergence (in nats) between the hashed-token distributions of
    * two slices (fixture: even vs odd doc_ids), over the SAME 256
    * md5-prefix buckets as DSIR — the B-bucket hashing that keeps the
    * comparison relation tiny no matter the vocabulary.
    *
    * Engine-exactness (the DSIR convention): the per-bucket JSD
    * contribution ½(p·ln(2p/(p+q)) + q·ln(2q/(p+q))) is ONE fixed-order
    * double expression evaluated on per-bucket counts and the two
    * window totals, quantized to 1e-9 fixed point PER BUCKET — any
    * cross-bucket aggregation downstream is an integer sum, order-
    * independent and bit-identical across engines. Absent-side buckets
    * take the p·ln(p)→0 limit through a lazy CASE. Output: all
    * occupied buckets with both counts and the quantized contribution
    * — the total JSD is one integer sum away; the per-bucket rows ARE
    * the drill-down a drift alert needs.
    *
    * Plan: one token explode → (bucket, side) hash-agg (map-side
    * combined, ≤512 groups), conditional pivot to (na, nb), two window
    * totals over ≤256 rows. Nothing scales with corpus bytes except
    * the one scan. */
  def qCorpusDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs
      .select((col("doc_id") % 2 === 0).as("in_a"),
              explode(toks(col("text"))).as("tok"))
      .groupBy(substring(md5(col("tok")), 1, 2).as("b"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
           sum(when(col("in_a"), 0L).otherwise(1L)).as("nb"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("ta", sum(col("na")).over(wAll))
      .withColumn("tb", sum(col("nb")).over(wAll))
      .withColumn("jsd_q9", floor(
        (when(col("na") > 0,
           col("na") / col("ta") *
             log(lit(2.0) * (col("na") / col("ta")) /
                 (col("na") / col("ta") + col("nb") / col("tb"))))
           .otherwise(lit(0.0)) +
         when(col("nb") > 0,
           col("nb") / col("tb") *
             log(lit(2.0) * (col("nb") / col("tb")) /
                 (col("na") / col("ta") + col("nb") / col("tb"))))
           .otherwise(lit(0.0))) * lit(0.5) * lit(1e9) + lit(0.5)).cast("long"))
      .select("b", "na", "nb", "jsd_q9")
      .orderBy("b")
  }

  /** EXT: shingle table via the custom [[graft.functions.ShingleGenerator]]
    * (§2.10 Generator surface) — one row in, (pos, shingle) rows out,
    * planned through the stock Generate operator. Bounded input window
    * keeps the oracle comparison compact. */
  def qShingleGen(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
              GraftSqlShim.column(graft.functions.ShingleGenerator(
                GraftSqlShim.expression(col("text")), 3)).as(Seq("pos", "shingle")))
      .orderBy("doc_id", "pos")
  }

  /** Distinct 3-token shingles (same construction as Dedup's). */
  private val shingles3: Column = expr(
    """array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
      |                         i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin)

  /** EXT: benchmark decontamination — the canonical pretraining hygiene
    * step: drop/flag training documents that share any n-gram with a
    * held-out evaluation set, so the model is not graded on memorized
    * test data. Benchmark = docs 0-9 (stand-in for an eval suite);
    * corpus = the rest. Both sides explode to distinct 3-token shingles
    * and meet in an equi-join on the shingle; output = contaminated
    * doc_ids with the overlap size.
    *
    * Scale shape: the benchmark side is small by definition (eval suites
    * are KBs-MBs against a 100 TB corpus) → `broadcast()` it, so the
    * corpus side never shuffles — a narrow scan + hash-probe per shingle,
    * then one partial-count aggregate on doc_id. */
  def qTextDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") < 10)
      .select(explode(shingles3).as("shingle")).distinct()
    fanout(docs.filter(col("doc_id") >= 10))
      .select(col("doc_id"), explode(shingles3).as("shingle"))
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** EXT: PII redaction — regex scrubbing of emails and phone-shaped
    * tokens, the minimum-viable compliance pass every corpus gets. The
    * synthetic corpus carries no PII, so deterministic fake contact
    * strings are appended per doc first (the redactor must remove
    * exactly what was planted). Narrow regexp_replace chain: codegen'd,
    * no shuffle, linear scan at any scale. */
  def qTextPiiRedact(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com tel 555-0"),
      lpad(col("doc_id").cast("string"), 3, "0"))
    val redacted = regexp_replace(
      regexp_replace(planted, "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
      "tel [0-9-]+", "<PHONE>")
    Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
              md5(redacted).as("h_redacted"),
              (length(redacted) - length(regexp_replace(redacted, "<EMAIL>", ""))
                ).divide(lit(7)).cast("bigint").as("n_emails"))
      .orderBy("doc_id")
  }

  /** EXT: repetition filters (the Gopher/MassiveText quality rules):
    * fraction of duplicated words (1 - distinct/total) and the share of
    * the document covered by its single most frequent bigram — boilerplate
    * and template spam score high on both. Pure array expressions per row
    * + one explode/agg for the bigram mode; ratios integer-scaled before
    * rounding for engine portability. */
  def qTextRepetition(s: SparkSession, d: String): DataFrame = {
    val words = toks(col("text"))
    val bigrams = expr(
      """transform(sequence(1, size(split(text, ' ')) - 1),
        |          i -> concat_ws(' ', slice(split(text, ' '), i, 2)))""".stripMargin)
    val perDoc = Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
              size(words).as("n_words"),
              size(array_distinct(words)).as("n_distinct"),
              explode(bigrams).as("bigram"))
    val topBigram = perDoc
      .groupBy("doc_id", "n_words", "n_distinct", "bigram").count()
      .groupBy("doc_id", "n_words", "n_distinct")
      .agg(max(col("count")).as("top_bigram_n"), count(lit(1)).as("n_bigrams_distinct"))
    topBigram
      .select(col("doc_id"),
              round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4)
                .as("dup_word_frac"),
              round(col("top_bigram_n").cast("double") / (col("n_words") - 1), 4)
                .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** EXT: hashed-feature linear quality classifier — the fastText-style
    * architecture every web-scale filter uses (CCNet's fastText LID,
    * GPT-3/LLaMA's quality classifiers): hash word uni+bigrams into a
    * fixed bucket space, average the per-bucket weights, squash through a
    * sigmoid. Real deployments load trained weights; here the weight table
    * is a deterministic closed form over the bucket id (sin((b+1)·0.917))
    * so both engines materialize the identical model — what the oracle
    * verifies is the full feature-hash → lookup → mean → sigmoid pipeline,
    * which is exactly the part that has to scale.
    *
    * Scale shape: pure per-row array expressions (no explode, no shuffle,
    * no UDF) — the classifier runs at scan speed with zero data movement
    * (the array fold itself is a CodegenFallback expression, but it sits
    * inside the codegen'd projection and touches each gram once); a
    * trained weight vector would enter as one broadcast map lookup
    * without changing the plan.
    *
    * Portability: bucket = first two md5 hex nibbles via position-in-
    * alphabet (`instr`), since Spark and DuckDB share no hex→int builtin;
    * both engines fold the weight sum left-to-right (`aggregate` /
    * `list_reduce`), so the FP order is identical and 1e-4 rounding dwarfs
    * the last-ulp sin() drift. */
  def qQualityClassifier(s: SparkSession, d: String): DataFrame = {
    val grams = expr(
      """CASE WHEN size(split(text, ' ')) < 2 THEN split(text, ' ')
        |ELSE concat(split(text, ' '),
        |  transform(sequence(1, size(split(text, ' ')) - 1),
        |    i -> concat(element_at(split(text, ' '), i), '_',
        |                element_at(split(text, ' '), i + 1)))) END""".stripMargin)
    val score = expr(
      """round(1.0 / (1.0 + exp(-(-0.1 +
        |  aggregate(grams, cast(0.0 AS double), (acc, g) -> acc + sin(
        |    ((instr('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substring(md5(g), 2, 1)) - 1) + 1) * 0.917))
        |  / size(grams)))), 4)""".stripMargin)
    Tables.documents(s, d)
      .select(col("doc_id"), grams.as("grams"))
      .select(col("doc_id"),
              size(col("grams")).cast("long").as("n_feats"),
              score.as("score"))
      .withColumn("keep", (col("score") > 0.5).cast("long"))
      .orderBy("doc_id")
      .limit(200)
  }

  /** EXT: token-budget epoch allocation — the data-mixing step after
    * [[qMixTemperature]]: given a training budget B and the α-tempered
    * target share q_i per source, each source contributes
    * min(B·q_i, cap·n_i) tokens (cap = 4 epochs — the "don't repeat data
    * more than a few times" rule from the data-constrained-scaling
    * literature). Emits per-source target, effective tokens, and the
    * repeat factor ×100. Same 100 TB shape as the temperature mix: one
    * partial aggregation to per-source mass, then a source-count-sized
    * global window — the corpus never shuffles twice. */
  def qMixTokenBudget(s: SparkSession, d: String): DataFrame =
    temperedShares(s, d)
      .withColumn("target_tokens",
        floor(col("q") * lit(100000.0) + lit(0.5)).cast("long"))
      .withColumn("eff_tokens", least(col("target_tokens"), col("n_tokens") * 4))
      .withColumn("epochs_x100",
        floor(col("eff_tokens").cast("double") / col("n_tokens") * 100.0 + lit(0.5)).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
              col("target_tokens"), col("eff_tokens"), col("epochs_x100"))
      .orderBy("source")

  /** EXT: overlapping-window document chunking — the retrieval/RAG
    * ingestion primitive (and the long-document training splitter):
    * 64-token windows on a 48-token stride (16-token overlap so no
    * boundary context is lost), the trailing window clamped, each chunk
    * content-addressed by its hash. Pure per-row array expressions
    * (sequence → explode → slice): the only shuffle is whatever consumes
    * the chunks; at 100 TB chunking happens at scan speed and the chunk
    * table carries (doc_id, start, hash), not re-copied text. */
  def qChunkDocuments(s: SparkSession, d: String): DataFrame = {
    val tks = toks(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), tks.as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n"),
              explode(expr("sequence(1, size(tk), 48)")).as("start"),
              col("tk"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
              least(lit(64), col("n") - col("start") + 1).cast("long").as("n_tok"),
              substring(md5(concat_ws(" ", slice(col("tk"), col("start"), lit(64)))), 1, 16)
                .as("h"))
      .orderBy("doc_id", "start")
  }

  /** EXT: URL curation — normalize → canonical-dedup → per-domain rollup,
    * the RefinedWeb/C4 front-door steps. The corpus has no URL column, so
    * a deterministic pseudo-URL is derived per document (scheme/host case
    * noise, a tracking parameter, a trailing slash, a fragment — the four
    * classic normalization hazards, parameterized by doc_id so they all
    * occur); the operator under test is the normalization chain and the
    * canonical-key dedup, which read the same on a real crawl table.
    * Normalization: lowercase → strip fragment → strip utm_* params →
    * strip trailing slash. All codegen'd regexp chains; the dedup is one
    * hash-agg on the canonical URL, shuffling (key, count) only. */
  def qCurateUrls(s: SparkSession, d: String): DataFrame = {
    val url = concat(
      lit("HTTPS://WWW."), col("source"), lit(".Example.com/"), col("lang"),
      lit("/doc"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 3 === 0,
           concat(lit("?id="), (col("doc_id") % 7).cast("string"), lit("&utm_source=feed")))
        .when(col("doc_id") % 3 === 1, lit("/"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
    val norm = regexp_replace(
      regexp_replace(
        regexp_replace(lower(url), "#.*$", ""),
        "[?&]utm_[a-z_]+=[^&#]*", ""),
      "/$", "")
    val domain = regexp_extract(norm, "https://([^/]+)/", 1)
    Tables.documents(s, d)
      .select(col("doc_id"), norm.as("u"), domain.as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("u")).as("n_canonical"),
           min(col("doc_id")).as("first_doc"))
      .orderBy("domain")
  }

  /** EXT: n-gram NOVELTY scoring — the corpus-freshness diagnostic for a
    * rolling crawl: per document, the share of its distinct shingles that
    * appear for the FIRST time in that document under doc_id (= crawl)
    * order. A declining novelty curve over ingest order is the standard
    * signal that a crawl has started re-fetching known content and the
    * dedup budget should grow (the complement of the dedup family: this
    * measures how much there is left to dedup). Pure integer arithmetic
    * on the shared shingle construction: first-occurrence = min(doc_id)
    * per shingle (one grouped aggregate over (doc, shingle) — the same
    * shuffle class as the df count every dedup op pays), novelty = a
    * per-doc rollup with the ppm DIV convention. At 100 TB the shingle
    * relation is the ~100 B/row signature class — never text. */
  def qTextNovelty(s: SparkSession, d: String): DataFrame = {
    // fenced: first-occurrence agg + the join-back both consume the
    // shingle relation — one corpus scan, one shingle pass (the
    // DSIR/ppjoin fence discipline)
    val inv = Tables.documents(s, d)
      .repartition(math.max(32, s.sparkContext.defaultParallelism), col("doc_id"))
      .select(col("doc_id"), explode(shingles3).as("sh"))
      .transform(graft.Fence.cut)
    val first = inv.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    inv.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("n_novel"))
      .withColumn("novel_ppm", expr("n_novel * 1000000 DIV n_sh"))
      .select("doc_id", "n_sh", "n_novel", "novel_ppm")
      .orderBy("doc_id")
  }

  /** Exact PHRASE search over a positional inverted index — the search
    * primitive BM25 cannot express (bag-of-words scoring loses
    * adjacency): find every document containing the query terms at
    * CONSECUTIVE positions. The pipeline use is targeted retrieval over
    * a curated corpus — boilerplate hunting ("all rights reserved"),
    * contamination lookups for a benchmark sentence, quotation mining.
    * PUBLIC entry.
    *
    * Algorithm: postings = (doc_id, pos, token) — the positional
    * inverted index; the query intersects ONLY the phrase terms'
    * posting lists (term i's positions shifted back by i, then a
    * (doc_id, pos) semi-join against the anchor term's list — the
    * classic positional-intersection, associative and exact). Overlap
    * counts every anchor position.
    *
    * At 100 TB the postings relation is persisted bucketed by token
    * ([[graft.plans.Layout.writeBucketed]]): each query term's list is
    * one pruned bucket read, the per-term filter reaches the scan as a
    * pushed predicate (no full-postings materialization — the filter
    * here composes into each scan branch), and the intersection joins
    * shuffle only the rarest-term-sized lists. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val post = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
    val anchor = post.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.tail.foldLeft(anchor) { case (acc, (t, i)) =>
      acc.join(
        post.filter(col("tok") === t)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"), "left_semi")
    }
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))
      .orderBy("doc_id")
  }

  /** EXT: the declared 3-term phrase query ("table scan merge" occurs at
    * every scale of the synthetic corpus), oracled by replaying the
    * positional intersection in SQL over a struct-unnest positional
    * tokenization. */
  def qTextPhrase(s: SparkSession, d: String): DataFrame =
    phraseSearch(Tables.documents(s, d), Seq("table", "scan", "merge"))

  /** EXT: the COMPOSED curation recipe — the FineWeb/C4-style pipeline
    * as ONE declared query, proving the operator family composes into
    * one Catalyst DAG rather than existing as isolated demos:
    *
    *   documents → language-ID tag ([[qTextLangId]]'s n-gram argmax)
    *             → quality score ([[qTextQuality]]'s 3-signal gate, ≥ 2)
    *             → exact dedup, first copy wins ([[qDedupExact]]'s
    *               md5 keep-min convention)
    *             → per-source cap, 40 docs by md5 order
    *               ([[qCurateSourceCap]]'s deterministic lottery)
    *             → per (source, predicted lang): doc count, token sum,
    *               id-sum membership gate.
    *
    * One corpus scan feeds everything; the two windows (dedup pick,
    * cap lottery) are the only exchanges and both partition on narrow
    * keys. Every stage reuses the EXACT expression its standalone
    * query declares, so the recipe's oracle is the same fragments
    * composed — a drift in any stage breaks two hashes, the unit one
    * and this one. */
  def qCurateRecipe(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nTok = size(toks(t))
    val avgLen = (length(t) - (nTok - lit(1)).cast("double")) / nTok
    val stopHits = occ(t, "the ") + occ(t, " a ") + occ(t, "data ")
    val score = (nTok.between(20, 80)).cast("int") +
      ((stopHits / nTok) > 0.01).cast("int") +
      (avgLen.between(3.0, 8.0)).cast("int")
    val sEn = occ(t, "th") + occ(t, "he") + occ(t, "er")
    val sDe = occ(t, "ch") + occ(t, "ei") + occ(t, "en")
    val sFr = occ(t, "le") + occ(t, "ou") + occ(t, "re")
    val sEs = occ(t, "os") + occ(t, "la") + occ(t, "ar")
    val pred = when(sEn >= sDe && sEn >= sFr && sEn >= sEs, "en")
      .when(sDe >= sFr && sDe >= sEs, "de")
      .when(sFr >= sEs, "fr")
      .otherwise("es")
    val wDedup = Window.partitionBy("h").orderBy("doc_id")
    val wCap = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), pred.as("pred_lang"),
              md5(t).as("h"), nTok.cast("long").as("n_tok"),
              score.cast("long").as("q"))
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1 && col("q") >= 2)
      .withColumn("rs", row_number().over(wCap))
      .filter(col("rs") <= 40)
      .groupBy("source", "pred_lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
           sum(col("doc_id")).as("id_sum"))
      .orderBy("source", "pred_lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curate_recipe"     -> (qCurateRecipe _),
    "q_text_phrase"       -> (qTextPhrase _),
    "q_text_novelty"      -> (qTextNovelty _),
    "q_text_bm25"         -> (qTextBm25 _),
    "q_corpus_shuffle"    -> (qCorpusShuffle _),
    "q_bpe_merges"        -> (qBpeMerges _),
    "q_bpe_encode"        -> (qBpeEncode _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_mix_token_budget"  -> (qMixTokenBudget _),
    "q_curate_urls"       -> (qCurateUrls _),
    "q_chunk_documents"   -> (qChunkDocuments _),
    "q_sample_weighted"   -> (qSampleWeighted _),
    "q_curate_percentile" -> (qCuratePercentile _),
    "q_curate_dsir"       -> (qCurateDsir _),
    "q_text_decontam"     -> (qTextDecontam _),
    "q_text_pii_redact"   -> (qTextPiiRedact _),
    "q_text_repetition"   -> (qTextRepetition _),
    "q_shingle_gen"       -> (qShingleGen _),
    "q_sample_hash"       -> (qSampleHash _),
    "q_sample_stratified" -> (qSampleStratified _),
    "q_sample_proportional" -> (qSampleProportional _),
    "q_corpus_diff"       -> (qCorpusDiff _),
    "q_corpus_drift"      -> (qCorpusDrift _),
    "q_curate_source_cap" -> (qCurateSourceCap _),
    "q_mix_temperature"   -> (qMixTemperature _),
    "q_pack_sequences"    -> (qPackSequences _),
    "q_text_unigram_lp"   -> (qTextUnigramLp _),
    "q_text_bigram_lm"    -> (qTextBigramLm _),
    "q_corpus_curate"    -> (qCorpusCurate _),
    "q_text_vocab"       -> (qTextVocab _),
    "q_text_tfidf"       -> (qTextTfidf _),
    "q_text_normalize"   -> (qTextNormalize _),
    "q_dedup_exact"      -> (qDedupExact _),
    "q_text_stats"       -> (qTextStats _),
    "q_text_lang_id"     -> (qTextLangId _),
    "q_text_quality"     -> (qTextQuality _),
    "q_text_tokens"      -> (qTextTokens _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_text_pmi"         -> (qTextPmi _),
  )

  private val duckShingles =
    """list_distinct([list_aggregate(t[i:i+2], 'string_agg', ' ')
      |  for i in generate_series(1, len(t) - 2)])""".stripMargin

  /** DuckDB twin of one BPE training step k: best pair of vocab v{k-1}
    * by (count DESC, left, right) — exactly [[qBpeMerges]]'s tie-break —
    * then the same greedy left-fold rewrite as a per-word POSITIONAL
    * recursion (string replace is NOT equivalent: on [a,a,a,a,a] with
    * merge (a,a) a non-overlapping scan that loses the consumed boundary
    * yields [aa,a,aa] where the fold yields [aa,aa,a], and later pair
    * counts diverge). MATERIALIZED is load-bearing: DuckDB inlines CTEs
    * by default, and a recursive term re-deriving v{k-1} per iteration
    * turns 0.1 s into minutes at sf0.1 (measured 112 s → 0.1 s). */
  private def bpeStepCte(k: Int): String = {
    val p = s"v${k - 1}"
    s"""b$k AS MATERIALIZED (SELECT l, r, n FROM (
       |  SELECT pr.l AS l, pr.r AS r, SUM(freq) AS n
       |  FROM (SELECT freq, unnest(list_transform(generate_series(1, len(t)-1),
       |                i -> {'l': t[i], 'r': t[i+1]})) AS pr
       |        FROM $p WHERE len(t) >= 2)
       |  GROUP BY 1, 2) ORDER BY n DESC, l, r LIMIT 1),
       |f$k(w, i, acc) AS (
       |  SELECT w, 1, CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) ELSE [t[1]] END FROM $p
       |  UNION ALL
       |  SELECT f.w, f.i + 1,
       |    CASE WHEN acc[-1] = b.l AND v.t[f.i + 1] = b.r
       |         THEN list_append(acc[:len(acc)-1], b.l || b.r)
       |         ELSE list_append(acc, v.t[f.i + 1]) END
       |  FROM f$k f JOIN $p v ON f.w = v.w CROSS JOIN b$k b WHERE f.i < len(v.t)),
       |v$k AS MATERIALIZED (SELECT f.w, v.freq, f.acc AS t FROM f$k f JOIN $p v ON f.w = v.w
       |         WHERE f.i = GREATEST(len(v.t), 1))""".stripMargin
  }

  /** Shared 4-step BPE training chain: v0 = per-word char lists with
    * corpus frequencies, then bpeStepCte(1..4). v4 holds every word's
    * final token list — which is also exactly what [[qBpeEncode]]'s
    * sequential re-application of the learned merges produces, so the
    * encode oracle just counts len(v4.t). */
  private val bpeTrainCtes: String =
    """WITH RECURSIVE
      |v0 AS MATERIALIZED (SELECT w, COUNT(*) AS freq, list_filter(string_split(w, ''), c -> c <> '') AS t
      |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
      |""".stripMargin + (1 to 4).map(bpeStepCte).mkString(",\n")

  val oracle: Map[String, String] = Map(
    // the standalone stage oracles' fragments composed in one statement
    "q_curate_recipe" ->
      """WITH sc AS (SELECT doc_id, source, md5(text) AS h,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST((len(string_split(text,' ')) BETWEEN 20 AND 80)::INT
        |     + ((((length(text)-length(replace(text,'the ','')))/4.0
        |        + (length(text)-length(replace(text,' a ','')))/3.0
        |        + (length(text)-length(replace(text,'data ','')))/5.0) / len(string_split(text,' '))) > 0.01)::INT
        |     + (((length(text) - CAST(len(string_split(text,' ')) - 1 AS DOUBLE)) / len(string_split(text,' '))) BETWEEN 3.0 AND 8.0)::INT AS BIGINT) AS q,
        |  (length(text)-length(replace(text,'th','')))/2 + (length(text)-length(replace(text,'he','')))/2 + (length(text)-length(replace(text,'er','')))/2 AS s_en,
        |  (length(text)-length(replace(text,'ch','')))/2 + (length(text)-length(replace(text,'ei','')))/2 + (length(text)-length(replace(text,'en','')))/2 AS s_de,
        |  (length(text)-length(replace(text,'le','')))/2 + (length(text)-length(replace(text,'ou','')))/2 + (length(text)-length(replace(text,'re','')))/2 AS s_fr,
        |  (length(text)-length(replace(text,'os','')))/2 + (length(text)-length(replace(text,'la','')))/2 + (length(text)-length(replace(text,'ar','')))/2 AS s_es
        |  FROM documents),
        |tagged AS (SELECT doc_id, source, h, n_tok, q,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,
        |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |  FROM sc),
        |kept AS (SELECT * FROM (
        |    SELECT doc_id, source, pred_lang, n_tok,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rs
        |    FROM tagged WHERE rn = 1 AND q >= 2)
        |  WHERE rs <= 40)
        |SELECT source, pred_lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM kept GROUP BY source, pred_lang ORDER BY source, pred_lang""".stripMargin,
    "q_text_phrase" ->
      """WITH pr AS (SELECT doc_id, unnest(list_transform(t, (x, i) -> {pos: i, tok: x})) AS u
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |p AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.tok AS tok FROM pr),
        |m AS (SELECT p0.doc_id, p0.pos FROM p p0
        |      JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        |      JOIN p p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
        |      WHERE p0.tok = 'table' AND p1.tok = 'scan' AND p2.tok = 'merge')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MIN(pos) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_novelty" ->
      s"""WITH sh AS (SELECT doc_id, $duckShingles AS s
        |            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |inv AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM inv GROUP BY sh)
        |SELECT i.doc_id, COUNT(*) AS n_sh,
        |  CAST(SUM(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END) * 1000000
        |       // COUNT(*) AS BIGINT) AS novel_ppm
        |FROM inv i JOIN f USING (sh)
        |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin,
    "q_bpe_merges" -> (bpeTrainCtes + """
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, l AS "left", r AS "right", CAST(n AS BIGINT) AS pair_count FROM b1
      |  UNION ALL SELECT 2, l, r, CAST(n AS BIGINT) FROM b2
      |  UNION ALL SELECT 3, l, r, CAST(n AS BIGINT) FROM b3
      |  UNION ALL SELECT 4, l, r, CAST(n AS BIGINT) FROM b4) ORDER BY step""".stripMargin),
    "q_bpe_encode" -> (bpeTrainCtes + """
      |SELECT d.doc_id, COUNT(*) AS n_words, CAST(SUM(len(v4.t)) AS BIGINT) AS n_bpe_tokens
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
      |JOIN v4 ON v4.w = d.w
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    // scaled-integer BM25: every DIV placed identically on both sides
    // (DuckDB's `//` == Spark's DIV on BIGINT), idf rank-equivalent
    "q_text_bm25" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |p AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
        |        unnest([tk[i] || ' ' || tk[i+1]
        |                for i in generate_series(1, len(tk) - 1)]) AS phrase
        |      FROM t WHERE len(tk) >= 2),
        |tf AS (SELECT doc_id, dl, phrase, COUNT(*) AS tf FROM p
        |       WHERE phrase IN ('join vector', 'customer hash', 'slow merge')
        |       GROUP BY doc_id, dl, phrase),
        |wdf AS (SELECT *, COUNT(*) OVER (PARTITION BY phrase) AS df FROM tf),
        |st AS (SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |       FROM documents),
        |sc AS (SELECT doc_id,
        |        ((n_docs - df) * 1000000 // df) *
        |        (tf * 2200 * 1000 //
        |         (tf * 1000 +
        |          (1200 * (250 + 750 * (dl * 1000 * n_docs // sum_dl) // 1000) // 1000))) AS sc
        |       FROM wdf, st)
        |SELECT doc_id, CAST(SUM(sc) AS BIGINT) AS bm25_x,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM sc GROUP BY doc_id ORDER BY bm25_x DESC, doc_id LIMIT 20""".stripMargin,
    "q_corpus_shuffle" ->
      """SELECT CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS pos, doc_id, k
        |FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS k
        |      FROM documents ORDER BY k LIMIT 50)
        |ORDER BY pos""".stripMargin,
    // identical bucket formula + identical left-fold order (list_reduce
    // mirrors Spark's `aggregate`); 1e-4 rounding absorbs sin() last-ulp
    "q_quality_classifier" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(tk) < 2 THEN tk
        |        ELSE list_concat(tk, [tk[i] || '_' || tk[i+1]
        |                              for i in generate_series(1, len(tk) - 1)]) END AS grams
        |      FROM t),
        |sc AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_feats,
        |  ROUND(1.0 / (1.0 + exp(-(-0.1 +
        |    list_reduce(list_transform(grams, x -> sin(CAST(
        |      (strpos('0123456789abcdef', substring(md5(x), 1, 1)) - 1) * 16 +
        |      (strpos('0123456789abcdef', substring(md5(x), 2, 1)) - 1) + 1 AS DOUBLE) * 0.917)),
        |      (a, b) -> a + b) / len(grams)))), 4) AS score
        |  FROM g)
        |SELECT doc_id, n_feats, score,
        |  CAST(CASE WHEN score > 0.5 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sc ORDER BY doc_id LIMIT 200""".stripMargin,
    "q_curate_percentile" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |vocab AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
        |tot AS (SELECT SUM(c) AS n FROM vocab),
        |sp AS (SELECT w.doc_id, COUNT(*) AS n_tokens,
        |         ROUND(AVG(-LN(v.c / t.n)), 4) AS surprisal
        |       FROM words w JOIN vocab v USING (word), tot t
        |       GROUP BY w.doc_id),
        |ranked AS (SELECT d.lang, sp.n_tokens, sp.surprisal,
        |  CAST(NTILE(3) OVER (PARTITION BY d.lang
        |                      ORDER BY sp.surprisal, sp.doc_id) AS BIGINT) AS tercile
        |  FROM sp JOIN documents d USING (doc_id))
        |SELECT lang, tercile, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  MIN(surprisal) AS min_sp, MAX(surprisal) AS max_sp
        |FROM ranked GROUP BY lang, tercile ORDER BY lang, tercile""".stripMargin,
    // DSIR: the llr CTE quantizes the one libm expression to a 1e-6
    // fixed-point BIGINT per BUCKET, so the per-doc weights below it are
    // exact integer sums — identical partial-agg-order story as Spark.
    "q_curate_dsir" ->
      """WITH db AS (
        |  SELECT doc_id, lang, substring(md5(tok), 1, 2) AS b, COUNT(*) AS c
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, lang, substring(md5(tok), 1, 2)),
        |model AS (
        |  SELECT b, SUM(c) AS c_r,
        |         SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS c_t
        |  FROM db GROUP BY b),
        |tot AS (SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM model),
        |llr AS (
        |  SELECT b, CAST(floor(
        |    (ln((c_t + 1.0) / (n_t + 256.0)) - ln((c_r + 1.0) / (n_r + 256.0)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS llr_q
        |  FROM model, tot)
        |SELECT doc_id, lang,
        |       CAST(SUM(c * llr_q) AS BIGINT) AS weight_q,
        |       CAST(SUM(c) AS BIGINT) AS n_tokens
        |FROM db JOIN llr USING (b)
        |GROUP BY doc_id, lang
        |ORDER BY weight_q DESC, doc_id LIMIT 100""".stripMargin,
    "q_sample_weighted" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |  (list_reduce([CAST(strpos('0123456789abcdef',
        |       substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |     for i in generate_series(1, 8)], (a, b) -> a * 16 + b) + 0.5)
        |    / 4294967296.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars,
        |  CAST(floor(-ln(u) / n_chars * 1000000.0 + 0.5) AS BIGINT) AS ki6
        |FROM t ORDER BY ki6, doc_id LIMIT 20""".stripMargin,
    "q_chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id, len(tk) AS n, unnest(generate_series(1, len(tk), 48)) AS start, tk
        |      FROM t)
        |SELECT doc_id, CAST(start AS BIGINT) AS start,
        |  CAST(LEAST(64, n - start + 1) AS BIGINT) AS n_tok,
        |  substring(md5(list_aggregate(tk[start:start+63], 'string_agg', ' ')), 1, 16) AS h
        |FROM c ORDER BY doc_id, start""".stripMargin,
    "q_mix_token_budget" ->
      """WITH m AS (SELECT source, COUNT(*) AS n_docs,
        |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |s AS (SELECT source, n_docs, n_tokens,
        |        POW(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 0.3) AS pa
        |      FROM m),
        |q AS (SELECT source, n_docs, n_tokens,
        |        CAST(floor(pa / SUM(pa) OVER () * 100000.0 + 0.5) AS BIGINT) AS target_tokens
        |      FROM s)
        |SELECT source, n_docs, n_tokens, target_tokens,
        |  LEAST(target_tokens, n_tokens * 4) AS eff_tokens,
        |  CAST(floor(CAST(LEAST(target_tokens, n_tokens * 4) AS DOUBLE) / n_tokens * 100.0 + 0.5)
        |       AS BIGINT) AS epochs_x100
        |FROM q ORDER BY source""".stripMargin,
    "q_curate_urls" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.' || source || '.Example.com/' || lang || '/doc' ||
        |    CAST(doc_id % 50 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_source=feed'
        |          WHEN doc_id % 3 = 1 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |n AS (SELECT doc_id,
        |        regexp_replace(regexp_replace(regexp_replace(lower(url),
        |          '#.*$', '', 'g'), '[?&]utm_[a-z_]+=[^&#]*', '', 'g'),
        |          '/$', '', 'g') AS cu
        |      FROM u)
        |SELECT regexp_extract(cu, 'https://([^/]+)/', 1) AS domain,
        |  COUNT(*) AS n_urls, COUNT(DISTINCT cu) AS n_canonical,
        |  MIN(doc_id) AS first_doc
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_unigram_lp" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |vocab AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
        |tot AS (SELECT SUM(c) AS n FROM vocab)
        |SELECT w.doc_id, COUNT(*) AS n_tokens,
        |       ROUND(AVG(-LN(v.c / t.n)), 4) AS surprisal
        |FROM words w JOIN vocab v USING (word), tot t
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    // bigram conditional MLE: denominator = the bigram-stream marginal of
    // the LEFT word (a window over the model), so p sums to 1 per context
    "q_text_pmi" ->
      """WITH t AS MATERIALIZED (SELECT string_split(text, ' ') AS tk FROM documents),
        |uni AS MATERIALIZED (SELECT w, COUNT(*) AS cw FROM
        |       (SELECT unnest(tk) AS w FROM t) GROUP BY w),
        |n AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM uni),
        |big AS (SELECT w1, w2, COUNT(*) AS c2 FROM
        |        (SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]}
        |                        for i in generate_series(1, len(tk) - 1)], recursive := true)
        |         FROM t WHERE len(tk) >= 2)
        |        GROUP BY w1, w2 HAVING COUNT(*) >= 5)
        |SELECT b.w1, b.w2, CAST(b.c2 AS BIGINT) AS n_pair,
        |       CAST(l.cw AS BIGINT) AS n_left, CAST(r.cw AS BIGINT) AS n_right,
        |       CAST(CAST(b.c2 AS HUGEINT) * (SELECT n FROM n) * 1000000
        |            // (CAST(l.cw AS HUGEINT) * r.cw) AS BIGINT) AS lift_fp
        |FROM big b JOIN uni l ON b.w1 = l.w JOIN uni r ON b.w2 = r.w
        |ORDER BY lift_fp DESC, b.w1, b.w2 LIMIT 100""".stripMargin,
    "q_text_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT doc_id,
        |        unnest([tk[i] || ' ' || tk[i+1]
        |                for i in generate_series(1, len(tk) - 1)]) AS phrase
        |      FROM t WHERE len(tk) >= 2),
        |m AS (SELECT phrase, COUNT(*) AS c2 FROM b GROUP BY phrase),
        |m2 AS (SELECT phrase, c2,
        |         SUM(c2) OVER (PARTITION BY string_split(phrase, ' ')[1]) AS c1
        |       FROM m)
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |       ROUND(AVG(-LN(m2.c2 / m2.c1)), 4) AS surprisal
        |FROM b JOIN m2 USING (phrase)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM toks)
        |SELECT source, CAST(FLOOR((c - n_tokens) / 512.0) AS BIGINT) AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM cum GROUP BY source, CAST(FLOOR((c - n_tokens) / 512.0) AS BIGINT)
        |ORDER BY source, bin""".stripMargin,
    "q_text_decontam" ->
      s"""WITH bench AS (
        |  SELECT DISTINCT unnest($duckShingles) AS shingle
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 10)),
        |corpus AS (
        |  SELECT doc_id, unnest($duckShingles) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id >= 10))
        |SELECT c.doc_id, COUNT(*) AS n_hits
        |FROM corpus c JOIN bench b USING (shingle)
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,
    "q_text_pii_redact" ->
      """SELECT doc_id, md5(red) AS h_redacted,
        |  CAST((length(red) - length(replace(red, '<EMAIL>', ''))) / 7 AS BIGINT) AS n_emails
        |FROM (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel 555-0'
        |           || lpad(CAST(doc_id AS VARCHAR), 3, '0'),
        |      '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'), 'tel [0-9-]+', '<PHONE>', 'g') AS red
        |  FROM documents WHERE doc_id < 200)
        |ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |           FROM documents WHERE doc_id < 200),
        |bg AS (SELECT doc_id,
        |         unnest([list_aggregate(t[i:i+1], 'string_agg', ' ')
        |                 for i in generate_series(1, len(t) - 1)]) AS bigram FROM d),
        |top AS (SELECT doc_id, MAX(cnt) AS top_n FROM
        |          (SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
        |        GROUP BY doc_id)
        |SELECT d.doc_id,
        |  ROUND(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS dup_word_frac,
        |  ROUND(CAST(top_n AS DOUBLE) / (len(t) - 1), 4) AS top_bigram_frac
        |FROM d JOIN top ON d.doc_id = top.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_shingle_gen" ->
      """SELECT doc_id,
        |  unnest([CAST(i - 1 AS INT) for i in generate_series(1, len(t) - 2)]) AS pos,
        |  unnest([list_aggregate(t[i:i+2], 'string_agg', ' ')
        |          for i in generate_series(1, len(t) - 2)]) AS shingle
        |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 50)
        |ORDER BY doc_id, pos""".stripMargin,
    "q_sample_hash" ->
      """SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '19'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    // content-hash diff: same simulated snapshot B, same status rules
    "q_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
        |b AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 13 = 5 THEN text || ' edited' ELSE text END) AS hb
        |      FROM documents WHERE doc_id % 13 <> 3
        |      UNION ALL
        |      SELECT -(doc_id + 1), md5('fresh ' || text)
        |      FROM documents WHERE doc_id % 13 = 7)
        |SELECT status, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.ha IS NULL THEN 'added'
        |         WHEN b.hb IS NULL THEN 'removed'
        |         WHEN a.ha = b.hb THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical fixed-order JSD expression over the same 256 md5
    // buckets; per-bucket 1e-9 quantization BEFORE any cross-bucket
    // arithmetic (the DSIR fixed-point convention)
    "q_corpus_drift" ->
      """WITH c AS (
        |  SELECT substring(md5(tok), 1, 2) AS b,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS nb
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT b, na, nb,
        |        CAST(SUM(na) OVER () AS BIGINT) AS ta,
        |        CAST(SUM(nb) OVER () AS BIGINT) AS tb
        |      FROM c)
        |SELECT b, na, nb,
        |  CAST(floor((
        |      (CASE WHEN na > 0
        |            THEN (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)) *
        |                 ln((CAST(2.0 AS DOUBLE) * (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)))
        |                    / ((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |                       + (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))))
        |            ELSE CAST(0.0 AS DOUBLE) END
        |       + CASE WHEN nb > 0
        |            THEN (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)) *
        |                 ln((CAST(2.0 AS DOUBLE) * (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)))
        |                    / ((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
        |                       + (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))))
        |            ELSE CAST(0.0 AS DOUBLE) END)
        |      * CAST(0.5 AS DOUBLE) * CAST(1000000000.0 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE))) AS BIGINT) AS jsd_q9
        |FROM t ORDER BY b""".stripMargin,
    // identical integer Hamilton apportionment + md5-rank membership;
    // id_sum gates the exact selected set
    "q_sample_proportional" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        |a0 AS (SELECT source, n_s, CAST(SUM(n_s) OVER () AS BIGINT) AS n FROM s),
        |a1 AS (SELECT source, n_s, n, n // 10 AS t,
        |         n_s * (n // 10) // n AS base, n_s * (n // 10) % n AS rem
        |       FROM a0),
        |a2 AS (SELECT *, (t - CAST(SUM(base) OVER () AS BIGINT)) AS leftover,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS seat FROM a1),
        |alloc AS (SELECT source, n_s,
        |    CAST(base + CASE WHEN seat <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc FROM a2),
        |r AS (SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT a.source, a.n_s AS n_docs, a.alloc, COUNT(*) AS n_sampled,
        |       CAST(SUM(r.doc_id) AS BIGINT) AS id_sum
        |FROM r JOIN alloc a USING (source)
        |WHERE r.rn <= a.alloc
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q_curate_source_cap" ->
      """WITH r AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rn > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS cap_seed_doc
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q_mix_temperature" ->
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |shares AS (SELECT source, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS p
        |  FROM per),
        |alpha AS (SELECT *, POWER(p, 0.3) AS pa FROM shares)
        |SELECT source, n_docs, n_tokens,
        |  CAST(floor(p * 100000.0 + 0.5) AS BIGINT) AS pi5,
        |  CAST(floor(pa / SUM(pa) OVER () * 100000.0 + 0.5) AS BIGINT) AS qi5
        |FROM alpha ORDER BY source""".stripMargin,
    "q_corpus_curate" ->
      """WITH scored AS (SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h,
        |    len(string_split(text, ' ')) AS ws,
        |    (len(string_split(text,' ')) BETWEEN 20 AND 80)::INT
        |      + ((((length(text)-length(replace(text,'the ','')))/4.0
        |         + (length(text)-length(replace(text,' a ','')))/3.0
        |         + (length(text)-length(replace(text,'data ','')))/5.0) / len(string_split(text,' '))) > 0.01)::INT
        |      + (((length(text) - CAST(len(string_split(text,' ')) - 1 AS DOUBLE)) / len(string_split(text,' '))) BETWEEN 3.0 AND 8.0)::INT AS q
        |  FROM documents),
        |kept AS (SELECT * FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM scored)
        |  WHERE rn = 1 AND q >= 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS n_tokens,
        |  CAST(SUM(q) AS BIGINT) AS sum_quality
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_vocab" ->
      """SELECT tok, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n_occ DESC, tok LIMIT 50""".stripMargin,
    "q_text_tfidf" ->
      """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |            GROUP BY doc_id, tok),
        |wdf AS (SELECT doc_id, tok, tf, COUNT(*) OVER (PARTITION BY tok) AS df FROM tf),
        |scored AS (SELECT doc_id, tok,
        |    CAST(tf * 1000000 // df AS BIGINT) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf * 1000000 // df DESC, tok) AS rk
        |  FROM wdf)
        |SELECT doc_id, tok AS top_term, score FROM scored
        |WHERE rk = 1 ORDER BY doc_id LIMIT 200""".stripMargin,
    "q_text_normalize" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT MIN(doc_id) AS min_doc, md5(norm) AS h, COUNT(*) AS n,
        |  CAST(MIN(length(norm)) AS BIGINT) AS norm_len
        |FROM n GROUP BY md5(norm) ORDER BY min_doc""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min_doc, h, n FROM (
        |  SELECT md5(text) AS h, MIN(doc_id) AS min_doc, COUNT(*) AS n
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100)
        |  GROUP BY 1) WHERE n > 1 ORDER BY min_doc""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars), 2) AS avg_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_lang_id" ->
      """WITH sc AS (SELECT lang,
        |  (length(text)-length(replace(text,'th','')))/2 + (length(text)-length(replace(text,'he','')))/2 + (length(text)-length(replace(text,'er','')))/2 AS s_en,
        |  (length(text)-length(replace(text,'ch','')))/2 + (length(text)-length(replace(text,'ei','')))/2 + (length(text)-length(replace(text,'en','')))/2 AS s_de,
        |  (length(text)-length(replace(text,'le','')))/2 + (length(text)-length(replace(text,'ou','')))/2 + (length(text)-length(replace(text,'re','')))/2 AS s_fr,
        |  (length(text)-length(replace(text,'os','')))/2 + (length(text)-length(replace(text,'la','')))/2 + (length(text)-length(replace(text,'ar','')))/2 AS s_es
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred,
        |  COUNT(*) AS n
        |FROM sc GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  ROUND((length(text) - CAST(len(string_split(text,' ')) - 1 AS DOUBLE)) / len(string_split(text,' ')), 4) AS avg_tok_len,
        |  ROUND(((length(text)-length(replace(text,'the ','')))/4.0
        |       + (length(text)-length(replace(text,' a ','')))/3.0
        |       + (length(text)-length(replace(text,'data ','')))/5.0) / len(string_split(text,' ')), 4) AS stop_ratio,
        |  ROUND(CAST(length(text)-length(regexp_replace(text,'[a-z0-9 ]','','g')) AS DOUBLE) / length(text), 4) AS sym_ratio,
        |  CAST((len(string_split(text,' ')) BETWEEN 20 AND 80)::INT
        |     + ((((length(text)-length(replace(text,'the ','')))/4.0
        |        + (length(text)-length(replace(text,' a ','')))/3.0
        |        + (length(text)-length(replace(text,'data ','')))/5.0) / len(string_split(text,' '))) > 0.01)::INT
        |     + (((length(text) - CAST(len(string_split(text,' ')) - 1 AS DOUBLE)) / len(string_split(text,' '))) BETWEEN 3.0 AND 8.0)::INT AS BIGINT) AS quality
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,
    "q_text_tokens" ->
      """SELECT lang,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars_total
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  substring(list_min([md5(list_aggregate(string_split(text,' ')[i:i+4], 'string_agg', ' '))
        |     for i in generate_series(1, len(string_split(text,' ')) - 4)]), 1, 16) AS fp_min,
        |  substring(list_max([md5(list_aggregate(string_split(text,' ')[i:i+4], 'string_agg', ' '))
        |     for i in generate_series(1, len(string_split(text,' ')) - 4)]), 1, 16) AS fp_max
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,
  )
}

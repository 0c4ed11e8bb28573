package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorMath.vecDot

/** Embedding similarity search (SURVEY §2 EXT): brute-force cosine as the
  * correctness baseline, random-hyperplane LSH as the scale path, plus the
  * cosine near-duplicate filter.
  *
  * Scale design:
  *  - All vector math runs through [[graft.functions.DotProduct]], a custom
  *    Catalyst expression with whole-stage codegen (a tight generated loop —
  *    ~20× the throughput of the interpreted `zip_with`+`aggregate` fold,
  *    same FP accumulation order, so oracle hash-equality holds).
  *  - Norms are computed ONCE per vector on the narrow side of the join
  *    (`nrm` column), not per pair — at n² pairs that's the difference
  *    between 2n and 2n² sqrt+dot evaluations.
  *  - Brute-force top-k broadcasts the (tiny) query set against the (huge)
  *    candidate table: per-partition scoring, then a per-query rank window;
  *    only (query, cand, score) triples reach the shuffle.
  *  - LSH buckets vectors by 8 hyperplane sign bits (deterministic
  *    sin-formula planes, reproducible in ANSI SQL): probing touches a
  *    ~1/256 slice instead of the full table — same contract as the
  *    reference's precomputed triangle lookup structure
  *    (/root/reference/run/adcircTime2cogs.py:165-171): build once, probe
  *    per query.
  *
  * embeddings.embedding is Parquet list<float>; every query casts to double
  * FIRST (SURVEY §7.5.2) so Spark and DuckDB accumulate in the same width.
  */
object Similarity {

  private val vD: Column = transform(col("embedding"), x => x.cast("double"))

  /** (vec_id, v, nrm) — norm computed once per vector, pre-join. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    graft.Fanout.byKey(
      // single-split parquet at corpus sizes: fan out before the pair join
      // so scoring parallelizes (deterministic: hash-partitioned on the
      // key; width conf-derived — see graft.Fanout)
      Tables.embeddings(s, d), col("vec_id"))
      .select(col("vec_id"), vD.as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))

  /** Cosine from pre-normed sides: one codegen'd dot per pair. */
  private def cosPair: Column =
    vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))

  /** F7 (manifest): array shape probes — size, first/last element. */
  def qArrayExplode(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
              size(col("embedding")).cast("long").as("dim"),
              round(element_at(vD, 1), 4).as("first_v"),
              round(element_at(vD, -1), 4).as("last_v"))
      .orderBy("vec_id")
      .limit(50)

  /** EXT: random-projection dimensionality reduction (sparse
    * Johnson–Lindenstrauss): 64-d float embeddings → 8-d via a
    * DETERMINISTIC ternary projection matrix w(j,i) ∈ {-1,0,1} derived
    * from md5("j:i") (Achlioptas-style sparse JL; the md5 derivation makes
    * the matrix a pure function of indices, so Spark and the oracle bake
    * the IDENTICAL constants and the dot products fold in the same order —
    * hash-comparable with no RNG state anywhere). Scale shape: a map-only
    * pass — 8 codegen'd [[vecDot]] evaluations per row, no shuffle, no
    * broadcast — the standard pre-step that makes downstream ANN/IVF run
    * on 8-byte-per-dim-cheaper vectors at 100 TB. */
  val ProjOutDims = 8
  val ProjInDims  = 64
  private[graft] lazy val projW: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(ProjOutDims, ProjInDims) { (j, i) =>
      val h = md.digest(s"$j:$i".getBytes("UTF-8"))
      (((h(0) & 0xff) % 3) - 1).toDouble
    }
  }
  def qEmbedProject(s: SparkSession, d: String): DataFrame = {
    val cols = (0 until ProjOutDims).map { j =>
      round(vecDot(vD, array(projW(j).map(lit).toIndexedSeq: _*)), 4).as(s"p$j")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id") +: cols: _*)
      .orderBy("vec_id")
  }

  /** EXT: IVF over PROJECTED vectors — the composed production recipe the
    * two pieces exist for: coarse-quantize in the cheap 8-d projected
    * space (cosine against 8 projected centroids — 1/8th the arithmetic
    * of full-width assignment), then rank the query's cell by EXACT 64-d
    * cosine. Coarse-then-refine is how real ANN serves 1e9+ vectors: the
    * reduced space prunes, the original space decides. All constants are
    * the md5-derived [[projW]], so the whole two-stage pipeline is
    * hash-comparable. Scale shape: assignment is a broadcast(8-row) cross
    * join + per-vector argmax window; refinement is an equi-join on the
    * cell key — never all-pairs. */
  def qAnnIvfProj(s: SparkSession, d: String): DataFrame = ivfProjTopk(vecs(s, d))

  /** [[qAnnIvfProj]] over an arbitrary (vec_id, v, nrm) frame — exposed
    * so AnnRecallSpec can measure planted-neighbor recall on a corpus
    * with known ground truth (same id-keyed fixture splits). */
  private[graft] def ivfProjTopk(vv: DataFrame): DataFrame = {
    val pvCol = array((0 until ProjOutDims).map(j =>
      vecDot(col("v"), array(projW(j).map(lit).toIndexedSeq: _*))): _*)
    val base = vv
      .withColumn("pv", pvCol)
      .withColumn("pnrm", sqrt(vecDot(col("pv"), col("pv"))))
    val cb = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid8"), col("pv").as("cpv"), col("pnrm").as("cpnrm"))
    def assign(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id").orderBy(col("cos8").desc, col("cid8"))
      df.crossJoin(broadcast(cb))
        .withColumn("cos8",
          round(vecDot(col("pv"), col("cpv")) / (col("pnrm") * col("cpnrm")), 4))
        .withColumn("rk8", row_number().over(w))
        .filter(col("rk8") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid8").as("cell"))
    }
    val q = assign(base.filter(col("vec_id") >= 8 && col("vec_id") < 13)).as("a")
    val cand = assign(base.filter(col("vec_id") >= 13)).as("b")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    q.join(cand, col("a.cell") === col("b.cell"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
              round(cosPair, 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("qid", "rk")
  }

  /** F7+EXT (manifest): all-pairs cosine on a 51-vector window, top 20. */
  def qSimCosine(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).filter(col("vec_id") <= 50)
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
              round(cosPair, 4).as("cos"))
      .orderBy(col("cos").desc, col("v1"), col("v2"))
      .limit(20)
  }

  /** EXT: brute-force ANN — exact top-10 cosine neighbors for each of the
    * first 5 vectors. The query side is broadcast (5 rows); ranking is a
    * per-query window. This is the correctness oracle for the LSH path. */
  def qAnnBruteTopk(s: SparkSession, d: String): DataFrame = {
    val q = vecs(s, d).filter(col("vec_id") < 5).as("a")
    val c = vecs(s, d).filter(col("vec_id") >= 5).as("b")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
              round(cosPair, 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy("qid", "rk")
  }

  /** 1e6-quantized binary-relevance DCG weights for ranks 1..10 —
    * ⌊1e6/log₂(i+1)⌋ baked as shared literals on BOTH engine sides (the
    * projW convention), so nDCG needs zero runtime logarithms. */
  private val dcgW: Seq[Long] =
    (1 to 10).map(i => (1000000.0 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** EXT: retrieval EVALUATION — the measurement layer of the ANN
    * stack: score an approximate run (the 8-bit LSH probe, top-10)
    * against exact-cosine truth (the [[qAnnBruteTopk]] top-10) with the
    * standard IR metrics, per query: hit count, recall@10, MRR@10, and
    * binary-relevance nDCG@10. A retrieval/dedup pipeline at 100 TB
    * runs exactly this as a continuous canary — index drift shows up
    * here before it shows up in training data.
    *
    * Engine-exactness: every metric is integer fixed-point. Recall is
    * hits·1e5 (÷10 ·1e6); MRR is 1e6 DIV first-hit-rank; DCG uses the
    * [[dcgW]] quantized weight table (no libm at runtime) and nDCG is
    * dcg·1e6 DIV idcg with idcg the full-table constant — truth always
    * has 10 rows here. Scale shape: truth is the brute pass (the
    * baseline the eval DEFINES — on a production canary it is a small
    * labeled query set, not the corpus), the run is the bucket
    * equi-join, and the metric reduction is a ≤|queries|-row agg. */
  def qEvalRetrieval(s: SparkSession, d: String): DataFrame = {
    val truth = qAnnBruteTopk(s, d).select(col("qid"), col("cid"))
    val bits = (0 until 8).map { p =>
      when(vecDot(col("v"), plane(p)) >= 0, "1").otherwise("0")
    }
    val sig = vecs(s, d).withColumn("bucket", concat(bits: _*))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    val run = sig.filter(col("vec_id") < 5).as("a")
      .join(sig.filter(col("vec_id") >= 5).as("b"),
            col("a.bucket") === col("b.bucket"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
              round(cosPair, 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select("qid", "cid", "rk")
    val wtExpr = expr("CASE rk " +
      (1 to 10).map(i => s"WHEN $i THEN ${dcgW(i - 1)}L").mkString(" ") + " END")
    val idcg = dcgW.sum
    val hits = run.join(truth, Seq("qid", "cid"), "left_semi")
    val m = hits.groupBy("qid")
      .agg(count(lit(1)).as("n_hits"),
           min(col("rk")).as("first_hit"),
           sum(wtExpr).as("dcg"))
    truth.select("qid").distinct()
      .join(m, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 100000L).as("recall_ppm"),
        coalesce(expr("1000000L DIV first_hit"), lit(0L)).as("mrr_fp"),
        expr(s"(coalesce(dcg, 0L) * 1000000L) DIV ${idcg}L").as("ndcg_fp"))
      .orderBy("qid")
  }

  /** Hyperplane p as a constant ARRAY<DOUBLE> — sin-formula components,
    * constant-folded by Catalyst to a literal before execution. */
  private def plane(p: Int): Column =
    transform(sequence(lit(0), lit(63)),
              i => sin(lit(p.toDouble) * lit(131.7) + i.cast("double") * lit(7.3)))

  /** EXT: random-hyperplane LSH index build — 8 sign bits → 256 buckets.
    * Output is the bucket histogram (the statistics a planner would use);
    * probing = equi-join on `bucket`, which at 100 TB shuffles only
    * (bucket, vec_id) pairs. Near-identical vectors agree on all 8 bits. */
  def qAnnLshBuckets(s: SparkSession, d: String): DataFrame = {
    val bits = (0 until 8).map { p =>
      when(vecDot(vD, plane(p)) >= 0, "1").otherwise("0")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id"), concat(bits: _*).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
      .orderBy("bucket")
  }

  /** Dedup hyperplane q: per-plane FREQUENCY (not just phase) — the
    * [[plane]] formula's planes all share one frequency in i, so they
    * span only a 2-D subspace (sin(a+ib) folds to two basis vectors)
    * and their sign bits are correlated; distinct frequencies give
    * near-orthogonal planes, which banding needs for real recall. */
  private def plane2(p: Int): Column =
    transform(sequence(lit(0), lit(63)),
              i => sin((i.cast("double") + lit(1.0)) * lit(p.toDouble * 0.917 + 1.234)))

  /** EXT: embedding-cosine near-duplicate pairs (threshold 0.4 — the corpus
    * max is ~0.51, planted pairs sit above random noise ~0.0).
    *
    * Scale shape: NO all-pairs join. Candidates come from banded
    * hyperplane LSH — 16 bands × 4 sign bits (64 deterministic
    * distinct-frequency planes, [[plane2]]); a pair is a candidate iff
    * it collides in at least one band. The self-join is an EQUI-join on
    * (band, sig): at 100 TB the shuffle carries only (vec_id, band, sig)
    * triples and each band bucket holds ~n/16 vectors, so candidate
    * count scales with collisions, not n² (16×4 banding catches a
    * cos≈0.5 pair with ≈97% probability). Exact cosine then verifies
    * candidates only (two vec_id equi-joins back to the vector table).
    * The DuckDB oracle mirrors the banding exactly, so the hash compare
    * checks the full candidate-then-verify pipeline, not just the
    * threshold filter. */
  def qDedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val bandSigs = (0 until 16).map { b =>
      val bits = (0 until 4).map { j =>
        when(vecDot(col("v"), plane2(b * 4 + j)) >= 0, "1").otherwise("0")
      }
      struct(lit(b).as("band"), concat(bits: _*).as("sig"))
    }
    val bands = e
      .select(col("vec_id"), explode(array(bandSigs: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = bands.as("x")
      .join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
              col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
    cand
      .join(e.as("a"), col("v1") === col("a.vec_id"))
      .join(e.as("b"), col("v2") === col("b.vec_id"))
      .select(col("v1"), col("v2"), round(cosPair, 4).as("cos"))
      .filter(col("cos") > 0.4)
      .orderBy("v1", "v2")
  }

  /** EXT: IVF index build — a deterministic 8-vector codebook (vec_id < 8),
    * every other vector assigned to its nearest centroid by cosine. The
    * inverted-list histogram is the index; probing = scan only the lists of
    * the query's top centroids. Codebook is broadcast; assignment is one
    * narrow 8-way scoring pass + a per-vector rank window. A production
    * build would iterate k-means (same join shape per iteration, SURVEY
    * §2.10 Aggregator [[graft.functions.VectorCentroid]] computes the
    * centroid update); one deterministic pass keeps the oracle exact. */
  def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val cb = vecs(s, d).filter(col("vec_id") < 8).as("a")
    val rest = vecs(s, d).filter(col("vec_id") >= 8).as("b")
    val w = Window.partitionBy("vid").orderBy(col("cos").desc, col("cid"))
    rest.crossJoin(broadcast(cb))
      .select(col("b.vec_id").as("vid"), col("a.vec_id").as("cid"),
              round(cosPair, 4).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("cid").as("centroid"))
      .agg(count(lit(1)).as("n_assigned"), min(col("vid")).as("min_vec"))
      .orderBy("centroid")
  }

  /** EXT: LSH probe — the search half of q_ann_lsh_buckets. Queries
    * (vec_id < 5) hash to their bucket; candidates are ONLY the vectors in
    * the same bucket (≈1/256 of the table), ranked by exact cosine. The
    * equi-join on `bucket` is the entire search — at 100 TB the scan cost
    * drops by the bucket fan-out instead of touching every vector. */
  def qAnnLshProbe(s: SparkSession, d: String): DataFrame = {
    val bits = (0 until 8).map { p =>
      when(vecDot(col("v"), plane(p)) >= 0, "1").otherwise("0")
    }
    val sig = vecs(s, d).withColumn("bucket", concat(bits: _*))
    val q = sig.filter(col("vec_id") < 5).as("a")
    val cand = sig.filter(col("vec_id") >= 5).as("b")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    q.join(cand, col("a.bucket") === col("b.bucket"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
              round(cosPair, 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("qid", "rk")
  }

  /** EXT: multiprobe LSH — each query probes its own bucket PLUS the 8
    * buckets at Hamming distance 1 (one sign bit flipped). Recall rises
    * from 1-bucket LSH's ~coin-flip to near-exact while the scan stays
    * ~9/256 of the table; the probe set is still a pure equi-join on
    * `bucket` (the standard multiprobe trade: more lookups, same index,
    * no extra tables — at 100 TB that is 9 bucket reads per query vs a
    * full scan). */
  def qAnnLshMultiprobe(s: SparkSession, d: String): DataFrame = {
    val bits = (0 until 8).map { p =>
      when(vecDot(col("v"), plane(p)) >= 0, "1").otherwise("0")
    }
    val sig = vecs(s, d).withColumn("bucket", concat(bits: _*))
    val flips = (0 until 8).map { i =>
      concat(substring(col("bucket"), 1, i),
             when(substring(col("bucket"), i + 1, 1) === "1", "0").otherwise("1"),
             substring(col("bucket"), i + 2, 7 - i))
    }
    val q = sig.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("v"), col("nrm"),
              explode(array(col("bucket") +: flips: _*)).as("probe"))
      .as("a")
    val cand = sig.filter(col("vec_id") >= 5).as("b")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    q.join(cand, col("a.probe") === col("b.bucket"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("cid"),
              round(cosPair, 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy("qid", "rk")
  }

  /** EXT: symmetric int8 quantization — the embedding STORAGE path at
    * 100 TB (4 bytes/dim float → 1 byte/dim int8 + one scale per
    * vector). Per-vector scale 127/max|v|; round-half-up via the
    * engine-portable floor(x*g + 0.5) (no double-rounding semantics in
    * the compare path); derived outputs are integers or integer-scaled
    * doubles so the oracle hash is exact. Everything is narrow per-row
    * array math — no shuffle at any scale. */
  def qVecQuantize(s: SparkSession, d: String): DataFrame = {
    val g = lit(127.0) / array_max(transform(col("v"), x => abs(x)))
    val q = transform(col("v"), x => floor(x * col("g") + lit(0.5)).cast("int"))
    val err = array_max(zip_with(col("v"), col("q"),
      (v, qi) => abs(v - qi.cast("double") / col("g"))))
    vecs(s, d)
      .withColumn("g", g)
      .withColumn("q", q)
      .select(col("vec_id"),
              floor(col("g") * lit(1e6) + lit(0.5)).cast("long").as("gi6"),
              aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
              element_at(col("q"), 1).as("q_first"),
              element_at(col("q"), -1).as("q_last"),
              floor(err * lit(1e7) + lit(0.5)).cast("long").as("erri7"))
      .orderBy("vec_id")
      .limit(200)
  }

  /** EXT: product quantization (PQ) with asymmetric-distance (ADC)
    * top-k — the FAISS IVF-PQ compression leg of the ANN family, and the
    * piece that makes 1e9+-vector search tractable: each 64-d vector is
    * encoded as 8 sub-codes (one argmin per 8-d subspace against a
    * 4-centroid sub-codebook), so a candidate costs 8 BYTES instead of
    * 256 — 1e9 vectors become an 8 GB scannable code table — and query
    * scoring is 8 integer table lookups (the ADC LUT) instead of 64 FP
    * multiplies.
    *
    * Plan shape: encode = one scan × broadcast(32-row codebook) + argmin
    * rank window (map-heavy, one shuffle on (vec,subspace) windows);
    * LUT = queries × codebook, 160 rows, broadcast; ADC = codes ⋈ LUT
    * equi-join on (subspace, code) + a SUM OF LONGS per (query, vec) —
    * LUT entries are 1e-4 fixed-point quantized BEFORE the sum, so the
    * aggregate is integer, partition-order-independent, and engine-exact
    * (the [[qVecCentroid]] convention). Codebook = the sub-slices of
    * vec_id < 4 — the same deterministic seed-fixture convention as
    * [[qAnnIvf]]; a production build trains each sub-codebook with the
    * [[kmeansIvfFrame]] loop without changing this query's shape.
    * Top-10 per query by (ADC distance, vec_id) — fully hash-gated. */
  def qAnnPq(s: SparkSession, d: String): DataFrame = pqAdcTopk(vecs(s, d))

  /** [[qAnnPq]] over an arbitrary (vec_id, v, ...) frame — exposed so
    * AnnRecallSpec can measure planted-neighbor recall (same id-keyed
    * fixture splits: codebook vec_id < 4, queries < 5, candidates ≥ 5).
    * `k` widens the ADC list ([[pqRerankTopk]] asks for the candidate
    * pool, not the final answer). */
  private[graft] def pqAdcTopk(vv: DataFrame, k: Int = 10): DataFrame = {
    val e = vv.select(col("vec_id"), col("v"))
    val sub = e
      .select(col("vec_id"), explode(array((0 until 8).map(lit): _*)).as("j"), col("v"))
      .select(col("vec_id"), col("j"), expr("slice(v, j*8+1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("j").as("cj"), col("sv").as("cv"))
    // ||x-c||² in ONE fixed-order expression so Spark and DuckDB produce
    // bit-equal doubles (argmin ties then resolve identically by cid)
    def dist2(x: Column, c: Column): Column =
      vecDot(x, x) - lit(2.0) * vecDot(x, c) + vecDot(c, c)
    val wEnc = Window.partitionBy("vec_id", "j").orderBy(col("dd").asc, col("cid"))
    val enc = sub.filter(col("vec_id") >= 5)
      .join(broadcast(cb), col("j") === col("cj"))
      .withColumn("dd", dist2(col("sv"), col("cv")))
      .withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("j"), col("cid"))
    val lut = sub.filter(col("vec_id") < 5)
      .join(broadcast(cb), col("j") === col("cj"))
      .select(col("vec_id").as("qid"), col("j").as("lj"), col("cid").as("lcid"),
              floor(dist2(col("sv"), col("cv")) * lit(10000.0) + lit(0.5))
                .cast("long").as("ld"))
    val wTop = Window.partitionBy("qid").orderBy(col("di4").asc, col("cand"))
    enc.join(broadcast(lut), col("j") === col("lj") && col("cid") === col("lcid"))
      .groupBy(col("qid"), col("vec_id").as("cand"))
      .agg(sum(col("ld")).as("di4"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cand"), col("rk"), col("di4"))
      .orderBy("qid", "rk")
  }

  /** EXT: PQ with EXACT RE-RANK — the production IVF-PQ retrieval
    * shape (FAISS's refine step): the compressed codes nominate a
    * candidate pool (ADC top-100 per query — [[pqAdcTopk]]), then the
    * ≤100 survivors are re-scored with EXACT cosine against their full
    * vectors and the top-10 re-ranked on that. This is the answer to
    * the measured PQ degradation (SCALE.md recall curves: 16-bit codes
    * cannot resolve 1e-4-scale ties among near-dup replicas, strict
    * recall falls 0.415 → 0.265 as the corpus doubles, while top-100
    * CONTAINMENT holds ~1.0) — the codes only need to be good enough
    * to contain the true neighbors; exactness is restored on a pool
    * whose size is independent of corpus size.
    *
    * Plan shape: the ADC stage is [[qAnnPq]]'s (scan × broadcast
    * codebook + integer-LUT aggregate); the re-rank joins the
    * (queries × 100)-row candidate list BACK to the vector table —
    * broadcast of the tiny list against the corpus scan, so the
    * expensive exact math runs on ≤100 rows per query no matter how
    * many vectors exist. Scores ride as 4-dp rounds (the ANN-family
    * convention) so both engines rank identical doubles. */
  def qAnnPqRerank(s: SparkSession, d: String): DataFrame =
    pqRerankTopk(vecs(s, d))

  /** [[qAnnPqRerank]] over an arbitrary (vec_id, v, nrm) frame —
    * exposed for AnnRecallSpec's measured-recall floors. */
  private[graft] def pqRerankTopk(vv: DataFrame): DataFrame = {
    val e = (if (vv.columns.contains("nrm")) vv
             else vv.withColumn("nrm", sqrt(vecDot(col("v"), col("v")))))
      .select(col("vec_id"), col("v"), col("nrm"))
    val pool = pqAdcTopk(e, k = 100).select("qid", "cand")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    e.join(broadcast(pool), col("vec_id") === col("cand"))
      .join(broadcast(q), "qid")
      .select(col("qid"), col("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("cand"), col("rk"), col("cos"))
      .orderBy("qid", "rk")
  }

  /** EXT: composed IVF-PQ retrieval — the full production ANN stack
    * (the FAISS IndexIVFPQ + refine shape) as ONE declared query:
    * a coarse quantizer (8 cells, [[qAnnIvf]]'s donor convention)
    * partitions the corpus; every candidate stores only its cell id
    * plus an 8-byte PQ code of its RESIDUAL (v − cell centroid —
    * residual encoding is what makes the codes sharp inside a cell:
    * the coarse component is already carried by the cell id, so the
    * sub-codebooks spend their bits on the remainder); a query probes
    * its nprobe=2 nearest cells and ADC-scans ONLY those cells' codes
    * with a per-(query, probed-cell) LUT built on the query residual;
    * the ≤50-deep ADC pool then re-ranks by exact cosine over the
    * full vectors ([[qAnnPqRerank]]'s refine leg).
    *
    * At 100 TB: the scannable state is cell + code (9 bytes/vector);
    * centroids and sub-codebooks broadcast; per-query work is an
    * equi-join of the probed cells' codes against a tiny integer LUT
    * plus an exact pass over ≤50 survivors — cost scales with
    * nprobe × cell size, never corpus size. The corpus-side cell
    * argmax is a map-side-combine `max_by` (the nVecs×cells stream
    * reduces to one row per vector BEFORE any exchange), and the
    * residual join back to `vecs` reuses its (vec_id) hash
    * partitioning — no extra shuffle.
    *
    * Engine-exact by the ANN family's conventions: cell argmax on
    * 4-dp-rounded cosine, residuals as ONE elementwise IEEE subtract
    * (bit-equal in both engines), ADC distances 1e-4 fixed-point
    * LONGs before the SUM (integer, order-independent), final scores
    * 4-dp rounds. */
  def qAnnIvfPq(s: SparkSession, d: String): DataFrame =
    ivfPqTopk(vecs(s, d), rotate = false)

  /** OPQ-style deterministic rotation for the PQ family (r13, measured
    * at the 1M probe shape — SCALE.md): R = H·D/8 with H the 64-point
    * Walsh-Hadamard matrix (H[i][j] = (−1)^popcount(i&j)) and D an
    * md5-derived ±1 diagonal (the [[projW]] convention) — a randomized
    * Hadamard transform. R is exactly orthonormal, so L2 distances and
    * the ADC scoring identity are PRESERVED; only the SUBSPACE SPLIT
    * changes: an axis-aligned residual atom (one perturbed dimension)
    * smears its energy across all 8 sub-codes instead of hiding in the
    * one subspace that owns its dimension, so every sub-code carries
    * signal. Measured on the 1M atomic-residual corpus: composed
    * IVF-PQ rerank-recall@10 0.630 → 0.825 at the SAME code budget and
    * pool (cb=256, pool=100). */
  /** EXT: the ROTATED composed IVF-PQ retrieval, declared + oracled —
    * [[qAnnIvfPq]] with the [[rotW]] rotation applied to residuals
    * before the subspace split. The rotation itself is hash-gated: the
    * DuckDB twin replays all 64 rotation dot products as
    * `list_dot_product` against the same ±0.125 literals (exact binary
    * doubles, sequential-sum order identical to [[graft.functions
    * .VectorMath.vecDot]]'s DotProduct expression), so the measured 1M
    * lever (SCALE.md r13: 0.630 → 0.825 at identical budget) ships
    * with bit-exact arithmetic evidence, not only probe curves. */
  def qAnnIvfPqRot(s: SparkSession, d: String): DataFrame =
    ivfPqTopk(vecs(s, d), rotate = true)

  // the rotation replayed oracle-side: one 64-entry list of
  // list_dot_product terms against the ±0.125e0 literal rows of rotW
  private def duckRotExpr(src: String): String =
    "[" + (0 until 64).map { i =>
      s"list_dot_product($src, [" +
        rotW(i).map(w => if (w > 0) "0.125e0" else "-0.125e0").mkString(",") +
        "])"
    }.mkString(",\n  ") + "]"

  private[graft] lazy val rotW: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = IndexedSeq.tabulate(64) { j =>
      val h = md.digest(s"rot:$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
    IndexedSeq.tabulate(64, 64)((i, j) =>
      (if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0) * d(j) / 8.0)
  }
  private[graft] def rotCol(c: Column): Column =
    array((0 until 64).map(i => vecDot(c, array(rotW(i).map(lit): _*))): _*)

  /** [[qAnnIvfPq]] over an arbitrary (vec_id, v[, nrm]) frame — exposed
    * for AnnRecallSpec's planted-neighbor floor (same id-keyed fixture
    * splits: centroids < 8, queries < 5, candidates ≥ 8, residual
    * codebook donors 8..11).
    *
    * The two RECALL DIALS the 1M probe sweep measured (SCALE.md r13):
    * `pool` — the ADC-nominated re-rank depth; recall tracks
    * pool ÷ (nprobe × cell occupancy) (1M, cb=256: pool 100 → 0.630,
    * 200 → 0.860, 400 → 0.995 ≈ the IVF ceiling), so a production
    * caller sizes it as a fraction of expected probed candidates, and
    * the cost is pool exact dot products per query. `rotate` — the
    * [[rotW]] OPQ rotation applied to residuals before the subspace
    * split (0.630 → 0.825 at unchanged budget); orthonormal, so no
    * other semantics change.
    *
    * DEFAULT = ROTATED (r13 verdict #4): a production caller passing
    * no flag gets the measured-better retrieval. The two declared
    * queries pin their flags explicitly (`q_ann_ivfpq` plain,
    * `q_ann_ivfpq_rot` rotated). */
  private[graft] def ivfPqTopk(vv: DataFrame, poolN: Int = 50,
                               rotate: Boolean = true): DataFrame = {
    val e = (if (vv.columns.contains("nrm")) vv
             else vv.withColumn("nrm", sqrt(vecDot(col("v"), col("v")))))
      .select(col("vec_id"), col("v"), col("nrm"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    def roundCos = round(vecDot(col("v"), col("cv")) / (col("nrm") * col("cn")), 4)
    // corpus side: n=1 cell assignment as max_by (argmax before exchange)
    val cand = e.filter(col("vec_id") >= 8)
    val best = cand.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), roundCos.as("acos"))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("acos"), -col("cid"))).as("cell"))
    val resid0 = best.join(cand, "vec_id")
      .join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
      .select(col("vec_id"), col("cell"),
              zip_with(col("v"), col("cv"), (x, c) => x - c).as("rv"))
    val resid = if (rotate) resid0.withColumn("rv", rotCol(col("rv"))) else resid0
    val sub = resid
      .select(col("vec_id"), col("cell"),
              explode(array((0 until 8).map(lit): _*)).as("j"), col("rv"))
      .select(col("vec_id"), col("cell"), col("j"),
              expr("slice(rv, j*8+1, 8)").as("sv"))
    // residual sub-codebooks: donors = the first 4 candidates (8..11)
    val cb = sub.filter(col("vec_id") < 12)
      .select(col("vec_id").as("ccid"), col("j").as("cj"), col("sv").as("cw"))
    def dist2(x: Column, c: Column): Column =
      vecDot(x, x) - lit(2.0) * vecDot(x, c) + vecDot(c, c)
    // encode: per (vec, subspace) argmin codeword, map-side-combined
    val enc = sub.join(broadcast(cb), col("j") === col("cj"))
      .select(col("vec_id"), col("cell"), col("j"), col("ccid"),
              dist2(col("sv"), col("cw")).as("dd"))
      .groupBy("vec_id", "cell", "j")
      .agg(min_by(col("ccid"), struct(col("dd"), col("ccid"))).as("code"))
    // query side (5 rows): top-2 probed cells, residual per probed cell
    val qs = e.filter(col("vec_id") < 5)
    val wProbe = Window.partitionBy("vec_id").orderBy(col("acos").desc, col("cid"))
    val qCells = qs.crossJoin(broadcast(cents))
      .withColumn("acos", roundCos)
      .withColumn("ark", row_number().over(wProbe))
      .filter(col("ark") <= 2)
      .select(col("vec_id").as("qid"), col("cid").as("cell"),
              zip_with(col("v"), col("cv"), (x, c) => x - c).as("qrv0"))
      .select(col("qid"), col("cell"),
              (if (rotate) rotCol(col("qrv0")) else col("qrv0")).as("qrv"))
    val qSub = qCells
      .select(col("qid"), col("cell"),
              explode(array((0 until 8).map(lit): _*)).as("j"), col("qrv"))
      .select(col("qid"), col("cell"), col("j"),
              expr("slice(qrv, j*8+1, 8)").as("sv"))
    val lut = qSub.join(broadcast(cb), col("j") === col("cj"))
      .select(col("qid"), col("cell").as("lcell"), col("j").as("lj"),
              col("ccid").as("lcode"),
              floor(dist2(col("sv"), col("cw")) * lit(10000.0) + lit(0.5))
                .cast("long").as("ld"))
    val wPool = Window.partitionBy("qid").orderBy(col("di4").asc, col("cand"))
    val pool = enc.join(broadcast(lut),
        col("cell") === col("lcell") && col("j") === col("lj") &&
          col("code") === col("lcode"))
      .groupBy(col("qid"), col("vec_id").as("cand"))
      .agg(sum(col("ld")).as("di4"))
      .withColumn("rk", row_number().over(wPool))
      .filter(col("rk") <= poolN)
      .select("qid", "cand")
    val q = qs.select(col("vec_id").as("qid"), col("v").as("qv"),
                      col("nrm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    e.join(broadcast(pool), col("vec_id") === col("cand"))
      .join(broadcast(q), "qid")
      .select(col("qid"), col("cand"),
        round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("cand"), col("rk"), col("cos"))
      .orderBy("qid", "rk")
  }

  /** EXT: reciprocal-rank fusion (RRF, Cormack et al. 2009) — the
    * standard hybrid-retrieval combiner: rank the same candidates under
    * two independent rankers (here cosine and L2 over the embeddings —
    * genuinely different orders for un-normalized vectors; in a full
    * stack the second leg is BM25), then fuse by
    * Σ 1/(60 + rank_i) over the legs where the candidate appears in the
    * top-50. Scored in EXACT integer arithmetic — 10⁹ DIV (60 + rank) —
    * so the fusion is engine-portable with no FP anywhere.
    *
    * Plan shape: ONE broadcast scoring pass computes both metrics (the
    * cross join is against the 5-row query set), then two rank windows
    * over the same (qid)-partitioned exchange; the fused top-10 rides a
    * third window on the same key. At 100 TB each leg is its own ANN
    * probe (IVF/PQ/BM25) producing (qid, cand, rank) lists, and the
    * fusion is this same tiny join — RRF never touches raw scores, which
    * is exactly why it composes rankers with incomparable scales. */
  def qAnnRrf(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"),
        (vecDot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos"),
        (vecDot(col("v"), col("v")) - lit(2.0) * vecDot(col("v"), col("qv")) +
          vecDot(col("qv"), col("qv"))).as("l2"))
    val wCos = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    val wL2 = Window.partitionBy("qid").orderBy(col("l2").asc, col("cand"))
    val wTop = Window.partitionBy("qid").orderBy(col("rrf").desc, col("cand"))
    scored
      .withColumn("rc", row_number().over(wCos).cast("long"))
      .withColumn("rl", row_number().over(wL2).cast("long"))
      .filter(col("rc") <= 50 || col("rl") <= 50)
      .withColumn("rrf",
        when(col("rc") <= 50, expr("1000000000L DIV (60 + rc)")).otherwise(lit(0L)) +
        when(col("rl") <= 50, expr("1000000000L DIV (60 + rl)")).otherwise(lit(0L)))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("qid"), col("cand"), col("rk"), col("rrf"))
      .orderBy("qid", "rk")
  }

  /** EXT: HARD-NEGATIVE mining — the contrastive-training data op
    * (sentence-embedding / retrieval training: each anchor needs
    * negatives that are hard — high similarity — but not false
    * negatives — near-duplicates or same-class examples). For each
    * anchor (vec_id < 5): rank candidates by cosine, EXCLUDE (a)
    * same-label rows (potential positives) and (b) near-duplicates
    * above the dedup threshold (cos ≥ 0.95 in 4-dp rounded space —
    * the qDedupEmbedding convention: a crawl replica is not a
    * negative, it is a label error waiting to happen), keep the top 8
    * hardest per anchor.
    *
    * Plan shape: ONE broadcast scoring pass (5-row anchor set × the
    * candidate scan — the qAnnBruteTopk plan class) + a per-anchor
    * rank window; both exclusions are map-side predicates on the
    * scored rows, so at 100 TB this is the exact brute-topk envelope,
    * and the production form swaps the scoring pass for any ANN probe
    * in this file (IVF/PQ/LSH emit the same (qid, cand, cos) rows).
    * Scores ride as 4-dp rounds so both engines rank identical
    * doubles. */
  def qMineHardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).join(
      Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
              col("nrm").as("qn"), col("label").as("qlabel"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    e.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("cand"), col("label"), col("qlabel"),
              round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cos"))
      .filter(col("label") =!= col("qlabel") && col("cos") < 0.95)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 8)
      .select("qid", "cand", "rk", "cos")
      .orderBy("qid", "rk")
  }

  /** EXT: MMR diversified retrieval (Maximal Marginal Relevance,
    * Carbonell & Goldstein 1998) — the RAG/result-diversification op:
    * greedily select k=4 results per query maximizing
    * λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s) with λ = 0.7 — each step
    * penalizes candidates similar to what is already selected, so the
    * final set covers the neighborhood instead of returning four
    * near-copies of the top hit.
    *
    * The greedy loop is BOUNDED (k steps, the k-means/BPE driver-loop
    * precedent — no driver-side data, one tiny broadcast join per
    * step): candidates are prefiltered to each query's cosine top-12
    * (one scoring pass + rank window — the brute-topk envelope; at
    * 100 TB this prefilter is any ANN probe), then step i joins the
    * ≤i-row-per-query selected set back (broadcast — ≤ 5k rows at any
    * corpus size since it is (queries × k) vectors) to compute the
    * diversity penalty, and one rank window picks the argmax. All
    * similarities live in 4-dp rounded space and the MMR score is one
    * fixed-order expression over them, so DuckDB replays the identical
    * greedy trajectory; ties break by cand id. */
  def qAnnMmr(s: SparkSession, d: String): DataFrame = {
    // λ and (1−λ) as SEPARATE double literals (0.7 and 0.3): computing
    // 1.0−0.7 in Scala gives 0.30000000000000004, while DuckDB's 0.3
    // casts to the nearest-double 0.3 — same-literal-both-sides is the
    // engine-portability rule (SURVEY §7.5.2)
    val e = vecs(s, d)
    val q0 = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val wTop = Window.partitionBy("qid").orderBy(col("cosq").desc, col("cand"))
    // candidate pool: top-12 by query cosine, vectors ride along for
    // the pairwise penalty joins
    val pool = e.filter(col("vec_id") >= 5).crossJoin(broadcast(q0))
      .select(col("qid"), col("vec_id").as("cand"), col("v").as("cv"),
              col("nrm").as("cn"),
              round(vecDot(col("v"), col("qv")) / (col("nrm") * col("qn")), 4).as("cosq"))
      .withColumn("prk", row_number().over(wTop))
      .filter(col("prk") <= 12)
      .drop("prk")
      .transform(graft.Fence(_))
    // greedy: step 1 = pure relevance argmax; steps 2..4 subtract the
    // max selected-similarity penalty. Each step's selected set is
    // fenced (3 consumers next step: penalty join, anti-join, union)
    // and the superseded step's fence released once the new one has
    // materialized (r10 verdict #2 / r11 advice — the iterative-loop
    // pin discipline; at fixture scale this is noise, at 100 TB it is
    // what keeps the loop's cache footprint O(1) in k).
    var selected = pool
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .select(col("qid"), col("cand"), col("cv"), col("cn"),
              col("cosq"), lit(1L).as("step"))
      .transform(graft.Fence(_))
    (2 to 4).foreach { step =>
      val sel = selected.select(col("qid").as("sqid"), col("cand").as("scand"),
                                col("cv").as("sv"), col("cn").as("sn"))
      val remaining = pool.join(
        selected.select(col("qid"), col("cand"), lit(1).as("taken")),
        Seq("qid", "cand"), "left_anti")
      val penalized = remaining.join(broadcast(sel), col("qid") === col("sqid"))
        .withColumn("cosd",
          round(vecDot(col("cv"), col("sv")) / (col("cn") * col("sn")), 4))
        .groupBy("qid", "cand", "cv", "cn", "cosq")
        .agg(max(col("cosd")).as("pen"))
        .withColumn("mmr",
          round(lit(0.7) * col("cosq") - lit(0.3) * col("pen"), 4))
      val wSel = Window.partitionBy("qid").orderBy(col("mmr").desc, col("cand"))
      val prev = selected
      selected = graft.Fence(selected.unionByName(penalized
        .withColumn("rk", row_number().over(wSel))
        .filter(col("rk") === 1)
        .select(col("qid"), col("cand"), col("cv"), col("cn"),
                col("cosq"), lit(step.toLong).as("step"))))
      graft.Fence.release(prev)
    }
    val out = selected.select("qid", "step", "cand", "cosq").orderBy("qid", "step")
    graft.Fence.release(pool)
    out
  }

  /** K-means refinement of the IVF codebook — the loop SURVEY §2.10
    * promises the [[graft.functions.VectorCentroid]] Aggregator for:
    * assign each vector to its nearest centroid (broadcast codebook, one
    * narrow scoring pass + rank window), then recompute centroids as the
    * typed per-cluster vector mean. Each round is one
    * assignment-join + one Aggregator pass; `localCheckpoint` truncates
    * lineage so round r's plan doesn't replay rounds 1..r-1. Returns the
    * final assignment plus the per-round mean cosine (inertia proxy) —
    * which must be non-decreasing, the property the spec asserts.
    *
    * `k` parameterizes the codebook size with DETERMINISTIC seeding
    * ([[d2ColdSeeds]] — D²-weighted k-means|| with hash coins: stable
    * across runs/partitionings, no RNG state, and immune to the
    * id-order skew the old lowest-k-ids convention carried).
    * The codebook broadcast stays k × dim × 8 B + struct overhead
    * (k=4096 × 64-d ≈ 2 MB) — broadcastable at any real k; the per-round
    * scan cost is O(n·k·dim) dots, which is why production coarse-assigns
    * in the 8-d projected space ([[qAnnIvfProj]]) when k grows. */
  def kmeansIvf(s: SparkSession, d: String, iters: Int, k: Int = 8): (DataFrame, Seq[Double]) =
    kmeansIvfFrame(vecs(s, d), iters, k)

  /** [[kmeansIvf]] over an arbitrary prepared (vec_id, v, nrm) frame —
    * the entry the replicated-corpus scale probe drives. `seeds`
    * ((cid, cv), e.g. [[kmeansParSeed]]'s weighted candidates) replaces
    * the default lowest-k-ids seeding — Lloyd iteration only ever
    * refines within the basins its seeds land in, so on skewed inputs
    * the seeding IS the quality decision (KmeansSeedSpec measures the
    * gap) and seeding + Lloyd here is the full trained-quantizer
    * recipe. */
  /** One nearest-centroid assignment pass: broadcast centroids, argmax
    * cosine with (cos desc, cid) tie-break — shared by the Lloyd loop
    * and the warm-start refresh. */
  private[graft] def assignToCents(e: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.withColumn("cnrm", sqrt(vecDot(col("cv"), col("cv"))))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
    e.crossJoin(broadcast(c))
      .withColumn("cos", vecDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("cid"), col("cos"))
  }

  /** D²-weighted COLD seeds for the IVF coarse quantizer — the default
    * seeding of [[kmeansIvfFrame]]/[[kmeansIvfRefresh]] (r14 verdict #2:
    * the old `vec_id < k` convention depends on id order; on a skewed or
    * clustered first drop k consecutive ids land in one basin and Lloyd
    * strands the other cells — the exact failure SCALE.md documented for
    * PQ codebooks, whose published fix, [[kmeansParSeed]], already lives
    * in this file). One k-means|| run over the full vectors as a single
    * subspace (j=0, l=k, 3 rounds — ≤ 3k+1 bounded driver candidates),
    * reduced by [[kmeansParCodebook]]'s weight·D² greedy. Deterministic
    * (hash coins), engine-portable, and only reachable through
    * UNDECLARED paths — qAnnIvfKmeans seeds inline, so no declared hash
    * moves. A duplicate-heavy corpus can exhaust the D² pool below k
    * (every copy of a covered point scores 0); the top-up appends the
    * lowest-id vectors — at that point distinct centroids may not exist
    * at all, matching the old convention's behavior. */
  private[graft] def d2ColdSeeds(e: DataFrame, k: Int): DataFrame = {
    val seeds = kmeansParCodebook(
        e.select(col("vec_id").as("id"), lit(0).as("j"), col("v").as("sv")),
        k = k, l = k, rounds = 3)
      .select(col("cid").cast("long").as("cid"), col("cw").as("cv"))
    val have = seeds.count()
    if (have >= k) seeds
    else seeds.unionByName(
      e.orderBy("vec_id").limit(k - have.toInt)
        .select((row_number().over(Window.orderBy("vec_id")) + lit(have))
                  .cast("long").as("cid"),
                col("v").as("cv")))
  }

  private[graft] def kmeansIvfFrame(e: DataFrame, iters: Int, k: Int,
                                    seeds: Option[DataFrame] = None)
      : (DataFrame, Seq[Double]) = {
    val s = e.sparkSession
    import s.implicits._
    def assign(cents: DataFrame): DataFrame = assignToCents(e, cents)
    // own the initial centroids with a cut: the loop's releaseCut is
    // destructive and walks the released frame's WHOLE plan, so round 1
    // must supersede a single-leaf frame we created — not the caller's
    // seeds expression, whose plan can contain the caller's own
    // checkpoint leaves (releasing those drops the INPUT's blocks)
    var centroids = graft.Fence.cut(seeds.getOrElse(d2ColdSeeds(e, k)))
    val meanCos = Seq.newBuilder[Double]
    var assigned = assign(centroids)
    (1 to iters).foreach { _ =>
      meanCos += assigned.agg(avg(col("cos"))).head().getDouble(0)
      val prevCents = centroids
      centroids = assigned
        .select(col("cid"), col("v")).as[(Long, Array[Double])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.VectorCentroid.toColumn.name("cv"))
        .toDF("cid", "cv")
        .transform(graft.Fence.cut)
      // the new cut materialized THROUGH the superseded centroids; the
      // old lazy `assigned` is reassigned below and never read again
      graft.Fence.releaseCut(prevCents)
      assigned = assign(centroids)
    }
    meanCos += assigned.agg(avg(col("cos"))).head().getDouble(0)
    (assigned, meanCos.result())
  }

  /** WARM-START quantizer refresh — the per-crawl production mode for
    * the IVF coarse centroids (and, fed sub-vectors, the PQ codebooks):
    * the [[graft.operators.Graph.pageRankRefresh]] contract applied to
    * the ANN index lifecycle (r13 verdict #5 — dedup has compaction,
    * ranks have refresh; this is the index family's missing leg).
    * Instead of re-running a fixed Lloyd schedule from cold seeds after
    * every crawl, seed from the PREVIOUS crawl's centroids and iterate
    * until the REASSIGNMENT fraction falls below a tolerance: after an
    * incremental corpus delta the old centroids are already near the
    * new fixpoint, so the warm start converges in a few rounds where
    * the cold schedule pays the full path from the id-seeded start.
    *
    * Stopping is an INTEGER contract (the fixed-point discipline): a
    * round's `moved` = vectors whose argmax cell changed; stop at
    * moved ≤ n·tolPpm/1e6 (k-means' classic reassignment rule —
    * deterministic, partition-count-free), capped at `maxRounds`. Per
    * round: one broadcast-assign scan, one centroid Aggregator pass,
    * and ONE bounded driver scalar (the moved count) — no data-bearing
    * driver action. Returns (assignment, centroids, rounds run).
    *
    * @param prev (cid, cv) from the previous refresh; pass None for the
    *             cold start ([[d2ColdSeeds]] D²-weighted seeding, r14
    *             verdict #2 — the cold schedule IS refresh from the
    *             default seeds, so warm-vs-cold is one code path, the
    *             pageRankRefresh shape). */
  private[graft] def kmeansIvfRefresh(e: DataFrame, prev: Option[DataFrame],
                                      k: Int, tolPpm: Long = 1000L,
                                      maxRounds: Int = 25)
      : (DataFrame, DataFrame, Int) = {
    val s = e.sparkSession
    import s.implicits._
    val n = e.count()
    require(n > 0, "kmeansIvfRefresh: empty corpus")
    val tolMoves = (n * tolPpm) / 1000000L
    var cents = graft.Fence.cut(prev.getOrElse(d2ColdSeeds(e, k)))
    var assigned = graft.Fence.cut(assignToCents(e, cents))
    var rounds = 0
    var moved = Long.MaxValue
    while (rounds < maxRounds && moved > tolMoves) {
      val nextCents = graft.Fence.cut(
        assigned.select(col("cid"), col("v")).as[(Long, Array[Double])]
          .groupByKey(_._1).mapValues(_._2)
          .agg(graft.functions.VectorCentroid.toColumn.name("cv"))
          .toDF("cid", "cv"))
      val next = graft.Fence.cut(assignToCents(e, nextCents))
      // ONE bounded scalar: how many vectors changed cell this round
      moved = next.select(col("vec_id"), col("cid"))
        .join(assigned.select(col("vec_id"), col("cid").as("cid0")), "vec_id")
        .filter(col("cid") =!= col("cid0")).count()
      // releaseCut: round frames ride Fence.cut, whose blocks the plain
      // release deliberately leaves alone (r14 advice) — next/nextCents
      // have materialized and nothing derived from the superseded pair
      // escapes, so the checkpoint blocks drop here
      graft.Fence.releaseCut(assigned); graft.Fence.releaseCut(cents)
      assigned = next; cents = nextCents
      rounds += 1
    }
    (assigned, cents, rounds)
  }

  /** k-means|| seeding (Bahmani et al. 2012, "Scalable k-means++") —
    * deterministic, engine-portable form. Plain k-means from random or
    * hash-spread donors fails on skewed codebook-training inputs (the
    * SCALE.md 1M IVF-PQ finding: ~7/8 of residual sub-vectors collapse
    * onto one no-perturbation pattern, so uniform donors land there and
    * rare-but-important patterns get no codeword); D²-weighted seeding
    * is the published fix — each round samples points with probability
    * ∝ their squared distance to the nearest already-chosen seed, so
    * mass that is ALREADY covered stops attracting seeds and far
    * clusters get them instead.
    *
    * Input: one row per (id, j, sv) sub-vector, `j` the subspace (a
    * single-subspace caller passes j=0). All subspaces train in ONE
    * joint loop: per round, one broadcast of the current seed set, one
    * scan computing each point's quantized D² (`floor(d2·dscale + .5)`
    * as BIGINT — the PQ family's fixed-point convention, so both
    * engines see identical integers), one 8-row cost aggregate, and a
    * map-side sampling predicate in EXACT integer arithmetic:
    *
    *   pmod(xxhash64(lit(round), id), m)  <  (l · qd · m) DIV cost_j
    *
    * — the standard threshold form of "sample with prob l·d²/cost",
    * with the hash as the deterministic coin (same coin across
    * subspaces of one id; independence is across ids and rounds, which
    * is what the expectation argument needs). Already-chosen seeds have
    * qd = 0 (the three-dot d² of a vector against itself is IEEE-exact
    * 0) so re-selection is impossible and the seed set needs no dedup.
    * After `rounds` rounds, one assignment pass weights every candidate
    * by the number of points it is nearest to (argmin on (qd, cand) —
    * deterministic tie-break), the reduction Bahmani's final recluster
    * needs. Returns (j, cand, cw, weight).
    *
    * At 100 TB: per round the candidate set is ~l rows per subspace —
    * broadcast-sized by construction — and everything else is one scan
    * with a map-side predicate; nothing shuffles but the 8-row cost
    * aggregate and the final weight count. Rounds are O(log n) by the
    * paper's bound; callers fix them (the engine's bounded-driver-loop
    * convention). */
  private[graft] def kmeansParSeed(sub: DataFrame, l: Int, rounds: Int,
      m: Long = 1000000L, dscale: Double = 1.0e8): DataFrame = {
    def d2q(x: Column, c: Column): Column =
      floor((vecDot(x, x) - lit(2.0) * vecDot(x, c) + vecDot(c, c))
        * lit(dscale) + lit(0.5)).cast("long")
    // fetch (j, cand, cw) rows for a chosen (j, cand) id set
    def pick(ids: DataFrame): DataFrame =
      sub.select(col("j"), col("id").as("cand"), col("sv").as("cw"))
        .join(ids, Seq("j", "cand"))
    var cents = graft.Fence(
      pick(sub.groupBy("j").agg(min(col("id")).as("cand"))))
    (1 to rounds).foreach { r =>
      val qd = sub.join(broadcast(cents), "j")
        .select(col("id"), col("j"), d2q(col("sv"), col("cw")).as("dd"))
        .groupBy("id", "j").agg(min(col("dd")).as("qd"))
      val cost = qd.groupBy("j").agg(sum(col("qd")).as("cost"))
      val selIds = qd.join(broadcast(cost), "j")
        .filter(col("cost") > 0 &&
          pmod(xxhash64(lit(r), col("id")), lit(m)) <
            expr(s"($l * qd * $m) DIV cost"))
        .select(col("j"), col("id").as("cand"))
      val prev = cents
      cents = graft.Fence(prev.union(pick(selIds)))
      graft.Fence.release(prev)
    }
    // Weight pass. The argmin must survive a corpus×candidates product
    // stream: min_by's object-hash aggregate falls back to SORT past 128
    // groups per partition, which materializes (and spills) the whole
    // product — at the 1M probe shape that is a multi-hundred-GB spill
    // (measured: filled the box's scratch disk). Encoding (dd, candidate
    // index) into ONE long keeps the argmin a plain fixed-width `min`,
    // which stays in codegen'd hash aggregation: the product never
    // exists anywhere but the update loop. ci is the per-subspace dense
    // candidate index (row_number over a broadcast-sized frame), <= 2^14;
    // dd <= dscale·maxD² <= ~4e8 at unit scale, so dd·2^14 is far from
    // overflow. Tie-break (dd, ci) == (dd, cand): ci is monotone in cand.
    val wCi = Window.partitionBy("j").orderBy("cand")
    val centsI = cents.withColumn("ci", row_number().over(wCi).cast("long"))
      .transform(graft.Fence.cut)
    val asg = sub.join(broadcast(centsI), "j")
      .select(col("id"), col("j"),
              (d2q(col("sv"), col("cw")) * lit(16384L) + col("ci")).as("dci"))
      .groupBy("id", "j")
      .agg(min(col("dci")).as("mdci"))
      .select(col("j"), pmod(col("mdci"), lit(16384L)).as("ci"))
    val w = asg.groupBy("j", "ci").agg(count(lit(1)).as("weight"))
    val out = centsI.join(w, Seq("j", "ci"), "left")
      .select(col("j"), col("cand"), col("cw"),
              coalesce(col("weight"), lit(0L)).as("weight"))
    val keep = graft.Fence.cut(out)
    graft.Fence.releaseCut(centsI); graft.Fence.release(cents)
    keep
  }

  /** [[kmeansParSeed]] reduced to a PQ-style codebook — Bahmani's final
    * recluster, run IN MEMORY on the oversampled candidates (the FAISS
    * convention: codebooks train on a bounded sample; the candidate set
    * is ≤ (1 + l·rounds) rows per subspace BY CONSTRUCTION, so the
    * driver step is bounded and deterministic). Selection is greedy
    * weight·D² maximization: start from the heaviest candidate, then
    * repeatedly take the candidate with the largest
    * (weight × squared distance to the nearest already-chosen codeword),
    * ties broken (weight desc, cand asc).
    *
    * Why not top-k by weight: that is frequency ranking, the measured
    * dead end from the 1M IVF-PQ probe — on skewed inputs the heavy
    * no-perturbation patterns fill every slot and rare far patterns (the
    * ones retrieval needs resolved) get none; measured 0.270 vs the
    * untrained baseline's 0.405 at cb=16 before this reduction replaced
    * it. weight·D² spends each slot where it reduces the most quantization
    * mass-distance — covered-at-zero-distance candidates score 0 no
    * matter their weight, so coverage and mass trade off explicitly.
    *
    * `lloydRounds` > 0 then refines the selected codewords with
    * distributed Lloyd iterations over the FULL input (the FAISS
    * recipe: seed, then k-means to convergence) — selection alone is
    * coverage-biased where quantization wants codewords tracking the
    * residual MASS (measured at the 1M IVF-PQ shape: greedy selection
    * 0.535 vs 0.630 untrained at cb=256; Lloyd pulls codewords to the
    * weighted centroids of what they actually encode). Each round is
    * one product-stream assignment (the same encoded-`min` hash
    * aggregate as the weight pass — nothing sorts, nothing spills the
    * product), one (id,j)-equi-join to re-attach sub-vectors, and one
    * [[graft.functions.VectorCentroid]] update whose shuffle carries
    * one buffer per codeword. Empty codewords keep their previous
    * vector. Returns (cid, cj, cw). */
  private[graft] def kmeansParCodebook(sub: DataFrame, k: Int, l: Int,
      rounds: Int, dscale: Double = 1.0e8, lloydRounds: Int = 0): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    val cands = kmeansParSeed(sub, l, rounds, dscale = dscale)
      .select(col("j"), col("cand"), col("cw"), col("weight"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
                 r.getSeq[Double](2).toArray, r.getLong(3)))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rows = cands.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (j, cs) =>
        val pool = cs.sortBy { case (_, cand, _, wt) => (-wt, cand) }
        val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
        val minD2 = scala.collection.mutable.Map(
          pool.map(c => c._2 -> d2(c._3, pool.head._3)): _*)
        while (chosen.size < math.min(k, pool.length)) {
          val next = pool.filterNot(c => chosen.exists(_._2 == c._2))
            .maxBy { case (_, cand, _, wt) =>
              (wt.toDouble * minD2(cand), wt, -cand) }
          chosen += next
          pool.foreach(c =>
            minD2(c._2) = math.min(minD2(c._2), d2(c._3, next._3)))
        }
        chosen.zipWithIndex.map { case ((_, _, cw, _), i) => (i + 1, j, cw) }
    }
    var cb = rows.toDF("cid", "cj", "cw")
    def d2qc(x: Column, c: Column): Column =
      floor((vecDot(x, x) - lit(2.0) * vecDot(x, c) + vecDot(c, c))
        * lit(dscale) + lit(0.5)).cast("long")
    (1 to lloydRounds).foreach { _ =>
      val bcb = broadcast(cb)
      val asg = sub.join(bcb, col("j") === col("cj"))
        .select(col("id"), col("j"),
                (d2qc(col("sv"), col("cw")) * lit(16384L) + col("cid")).as("dci"))
        .groupBy("id", "j").agg(min(col("dci")).as("mdci"))
        .select(col("id"), col("j"),
                pmod(col("mdci"), lit(16384L)).cast("int").as("acid"))
      val upd = sub.join(asg, Seq("id", "j"))
        .select(col("j"), col("acid"), col("sv"))
        .as[(Int, Int, Array[Double])]
        .groupByKey { case (j, cid, _) => (j, cid) }
        .mapValues(_._3)
        .agg(graft.functions.VectorCentroid.toColumn.name("cw1"))
        .map { case ((j, cid), cw1) => (cid, j, cw1) }
        .toDF("cid", "cj", "cw1")
      cb = graft.Fence.cut(
        cb.join(upd, Seq("cid", "cj"), "left")
          .select(col("cid"), col("cj"),
                  coalesce(col("cw1"), col("cw")).as("cw")))
    }
    cb
  }

  /** EXT: k-means|| seeding, declared + oracled — [[kmeansParSeed]] over
    * the full 64-d embeddings as one subspace (j=0), l=4, 2 rounds: the
    * coarse-quantizer seeding pass a production IVF build runs before
    * Lloyd iterations ([[qAnnIvfKmeans]] is the Lloyd leg; this is the
    * seeding leg — together they are the full trained-quantizer recipe).
    * Output is integers only: the chosen seed ids, their assignment
    * weights, and the selection rank. The DuckDB oracle replays both
    * sampling rounds exactly — including the xxhash64 coin, via the
    * [[Xxh64DuckSql]] HUGEINT reimplementation — so the seed CHOICE
    * itself is hash-gated, not just the weights. */
  def qAnnKmeanspp(s: SparkSession, d: String): DataFrame = {
    val sub = vecs(s, d)
      .select(col("vec_id").as("id"), lit(0).as("j"), col("v").as("sv"))
    val wSel = Window.orderBy(col("weight").desc, col("cand"))
    kmeansParSeed(sub, l = 4, rounds = 2)
      .select(col("cand"), col("weight"))
      .withColumn("rk", row_number().over(wSel).cast("long"))
      .filter(col("rk") <= 8)
      .select(col("rk"), col("cand"), col("weight"))
      .orderBy("rk")
  }

  /** EXT: k-means-refined IVF histogram after 2 rounds — now
    * ORACLE-HASHED. The generic [[kmeansIvf]] stays the §2.10 Aggregator
    * showcase (raw-double centroids, inertia-monotone, rows-only by FP
    * order); THIS query is the engine-exact form: centroid updates
    * aggregate 1e-4 fixed-point quantized elements (integer sums are
    * partition-order-independent; cosine only needs the centroid
    * DIRECTION, and quantization changes it identically in both engines),
    * so every round's assignment is a deterministic function both engines
    * compute bit-equal. Same plan shape: broadcast codebook, one narrow
    * scoring pass + rank window per round, Aggregator centroid update,
    * localCheckpoint lineage fence. */
  def qAnnIvfKmeans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vecs(s, d)
    val qv = e.select(col("vec_id"),
      transform(col("v"), x => floor(x * lit(10000.0) + lit(0.5))).as("qv"))
    def assign(cents: DataFrame): DataFrame = {
      val c = cents.withColumn("cnrm", sqrt(vecDot(col("cv"), col("cv"))))
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
      e.crossJoin(broadcast(c))
        .withColumn("cos", vecDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cid"))
    }
    def update(assigned: DataFrame): DataFrame =
      assigned.join(qv, "vec_id")
        .select(col("cid"), col("qv")).as[(Long, Array[Double])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.VectorCentroid.toColumn.name("cv"))
        .toDF("cid", "cv")
        .transform(graft.Fence.cut)
    var cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var assigned = assign(cents)
    (1 to 2).foreach { _ =>
      cents = update(assigned)
      assigned = assign(cents)
    }
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_assigned"))
      .orderBy("cid")
  }

  /** EXT: per-label embedding centroid via the typed
    * [[graft.functions.VectorCentroid]] Aggregator — now ORACLE-EXACT.
    * Raw distributed double summation is partition-order-dependent, so the
    * elements are quantized to 1e-4 fixed point BEFORE aggregation
    * (floor(x*1e4+0.5), an integer-valued double): integer sums are exact
    * and order-independent at any parallelism, and the final mean is one
    * deterministic IEEE division both engines perform identically. Output
    * is long-form (label, pos, ci4) — centroid element in 1e-4 units —
    * hash-compared against a DuckDB UNNEST+group oracle. */
  def qVecCentroid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = Tables.embeddings(s, d)
      .select(col("label"), vD.as("v"))
      .as[(Int, Array[Double])]
    ds.groupByKey(_._1)
      .mapValues(_._2.map(x => math.floor(x * 10000.0 + 0.5)))
      .agg(graft.functions.VectorCentroid.toColumn.name("centroid"))
      .flatMap { case (label, c) =>
        c.iterator.zipWithIndex.map { case (v, i) =>
          (label, i + 1, math.floor(v + 0.5).toLong)
        }
      }
      .toDF("label", "pos", "ci4")
      .orderBy("label", "pos")
  }

  /** EXT: semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings, then prune near-duplicate
    * pairs WITHIN each cluster only — the clustering bounds the quadratic,
    * so the pair join is an equi-join on the cluster id whose per-bucket
    * cost is n_c², never n². At 100 TB you raise k (the paper uses 50k
    * clusters) so n_c stays bounded; here k = 8 deterministic seed
    * centroids (vec_id < 8, broadcast — the [[qAnnIvf]] assignment shape
    * over ALL vectors).
    *
    * Keep rule: a vector is pruned iff some SMALLER vec_id in its cluster
    * sits above the cosine threshold — deterministic and engine-portable,
    * where the paper's "keep the example farthest from the centroid" needs
    * a second ranking pass (same join shape) without changing the
    * communication pattern this query exists to verify. Output is the
    * per-cluster summary: total, pruned, kept, first pruned id. */
  def qDedupSemantic(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
    // assigned is consumed three times (both pair sides + the summary);
    // localCheckpoint materializes the narrow (vec_id, cid) pairs so the
    // scoring scan runs ONCE, not once per consumer (the same lineage
    // fence Dedup.qDedupClusters A/B-measured)
    val assigned = e.crossJoin(broadcast(c))
      .withColumn("cos", vecDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"))
      .transform(graft.Fence.cut)
    val m = assigned.join(e, "vec_id") // (vec_id, cid, v, nrm)
    val pruned = m.as("a")
      .join(m.as("b"), col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(cosPair, 4) > 0.4)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
      .withColumn("pr", lit(1L))
    assigned.join(pruned, Seq("vec_id"), "left")
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
           sum(coalesce(col("pr"), lit(0L))).as("n_pruned"),
           min(when(col("pr") === 1L, col("vec_id"))).as("first_pruned"))
      .withColumn("n_kept", col("n") - col("n_pruned"))
      .orderBy("cid")
  }

  /** EXT: approximate kNN-GRAPH construction — every vector's top-3
    * neighbors, not a query set's: the BUILD primitive the probe-side
    * ANN family (lsh_probe/ivf/pq) doesn't cover. The kNN graph is the
    * substrate of graph-based ANN indexes (NSW/HNSW layers are refined
    * kNN graphs) and of SemDeDup-style clustering at corpus scale; this
    * op is the one-pass LSH-seeded construction that NN-descent (Dong
    * et al. 2011, "Efficient k-nearest neighbor graph construction...")
    * then iterates on — each NN-descent round is the same join shape
    * (candidates = neighbors-of-neighbors instead of bucket-mates), so
    * the one-pass cost here IS the per-round cost at scale.
    *
    * Scale shape: NO all-pairs join — candidates are 8-bit-bucket
    * mates, so the self-join shuffles on `bucket` and the per-bucket
    * quadratic is bounded by the bucket occupancy (~n/256; skewed
    * buckets split under AQE exactly like the near-dup banding). The
    * per-vector top-3 is a window partitioned by the vector — never a
    * global sort. Isolated vectors (no bucket-mate) drop out, the
    * standard LSH-graph property NN-descent rounds then repair.
    *
    * The declared op ships seed + FOUR NN-descent rounds at build
    * width 8: each round's candidate set is the current edges ∪ their
    * REVERSALS ∪ the 2-hop closure (a neighbor of my neighbor is my
    * candidate — Dong's local-join insight), exact-scored and re-ranked;
    * the final emit trims to top-3. Each round is one self-join + one
    * three-way rescore join + one per-vector window at ~k² candidates
    * per vector — never all-pairs — and round graphs ride the hard
    * lineage cut (production iterates toward convergence; the deep-loop
    * rule). Measured recall@3 vs exact on the near-random fixture (the
    * hardest corpus for locality seeds): 0.686, vs 0.162 for bucket
    * seeds alone — see [[knnGraph]] for why the random-expander half of
    * the seed is what makes descent work at all. */
  def qAnnKnnGraph(s: SparkSession, d: String): DataFrame =
    knnGraph(vecs(s, d), k = 3, kRand = 4, kBuild = 8, rounds = 4)

  /** Core over any (vec_id, v, nrm) frame: seeded top-kBuild graph plus
    * `rounds` NN-descent iterations (each round: candidates = current
    * edges + their reversals + the 2-hop closure, exact-rescored,
    * re-ranked top-kBuild), final emit trimmed to top-k. Round graphs
    * ride the hard lineage cut (the deep-loop rule) and each superseded
    * round is released. */
  /** The seed graph UNIONS two candidate sources, and both are load-
    * bearing (each alone was measured inert on the fixture):
    *  - LSH bucket-mates (distinct-frequency [[plane2]] planes): the
    *    LOCAL candidates — genuinely near vectors when the corpus has
    *    cluster structure;
    *  - kRand RANDOM neighbors per vector by a deterministic hash coin
    *    (nb_j = pmod(xxhash64(j, vid), n-1), self skipped by shift —
    *    the [[Graph.randomWalks]] coin convention, oracle-replayable):
    *    the EXPANDER. NN-descent's 2-hop closure can never LEAVE a
    *    connected component of the seed graph, and bucket seeds alone
    *    make components = buckets — so descent rounds were a provable
    *    no-op (measured: recall bit-identical to seed-only, both with
    *    huge correlated-plane buckets and sparse plane2 buckets). The
    *    random edges are exactly Dong et al.'s random initialization:
    *    one giant mixing component the local joins then refine.
    * Contract: vec_ids dense 0..n-1 (the corpus convention; one
    * zipWithIndex upstream otherwise). */
  private[graft] def knnGraph(e: DataFrame, k: Int, kRand: Int, kBuild: Int,
                              rounds: Int): DataFrame = {
    // r16: the build's final round already exact-scored every kept edge
    // (the cut carries cos) — the k-trim is a window over that leaf, not
    // a second corpus double-join (two exchanges + 2·dim·8 B per edge of
    // vector payload saved at any scale; guide §2.3/§1.2)
    val g = knnGraphEdgesScored(e, kRand, kBuild, rounds)
    val w = Window.partitionBy("vid").orderBy(col("cos").desc, col("nb"))
    g.select(col("vid"), col("nb"), col("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("vid", "rk")
  }

  /** Exact-rescore `cand` (vid, nb) against the corpus and keep each
    * vid's top-kk by (cos desc, nb) — the shared re-rank of the graph
    * build and the graph SEARCH. */
  private def rescoreTopK(e: DataFrame, cand: DataFrame, kk: Int): DataFrame = {
    val w = Window.partitionBy("vid").orderBy(col("cos").desc, col("nb"))
    cand
      .join(e.select(col("vec_id").as("vid"), col("v").as("va"), col("nrm").as("na")), "vid")
      .join(e.select(col("vec_id").as("nb"), col("v").as("vb"), col("nrm").as("nbn")), "nb")
      .select(col("vid"), col("nb"),
              round(vecDot(col("va"), col("vb")) / (col("na") * col("nbn")), 4).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= kk)
  }

  /** The BUILD-WIDTH edge relation (vid, nb) of [[knnGraph]] — seed ∪
    * `rounds` NN-descent iterations at width kBuild, no final trim:
    * what a graph-traversal search ([[graphSearch]]) walks. */
  private[graft] def knnGraphEdges(e: DataFrame, kRand: Int, kBuild: Int,
                                   rounds: Int, sigBits: Int = 8): DataFrame =
    knnGraphEdgesScored(e, kRand, kBuild, rounds, sigBits).select("vid", "nb")

  /** [[knnGraphEdges]] with the final round's exact 4-dp cosine kept on
    * each edge (r16): the loop's rescore computes it anyway, so callers
    * that need scored edges ([[knnGraph]]'s k-trim) read it off the cut
    * leaf instead of re-joining both endpoint vectors. */
  private[graft] def knnGraphEdgesScored(e: DataFrame, kRand: Int, kBuild: Int,
                                   rounds: Int, sigBits: Int = 8): DataFrame = {
    // sigBits dials the seed-bucket occupancy (~n / 2^sigBits): the
    // declared fixture query pins 8; a 1M+ build widens the signature so
    // the per-bucket quadratic stays bounded (the IVF nlist analog)
    val bits = (0 until sigBits).map { p =>
      when(vecDot(col("v"), plane2(p)) >= 0, "1").otherwise("0")
    }
    val sig = e.withColumn("bucket", concat(bits: _*))
    // one stats pass before the loop: n, and whether ids are dense 0..n−1
    val stats = e.agg(count(lit(1)).as("n"), min(col("vec_id")).as("mn"),
      max(col("vec_id")).as("mx")).head()
    val n = stats.getLong(0)
    val dense = stats.getLong(1) == 0L && stats.getLong(2) == n - 1
    val nM1 = n - 1
    val bucketPairs = sig.as("a")
      .join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vid"), col("b.vec_id").as("nb"))
    // random expander links must land on EXISTING ids (r14 fix): the old
    // form fabricated target ids in [0, n) and silently dropped them at
    // the rescore join whenever the input's ids were not dense 0..n−1 —
    // a level-subset build ([[graphSearchHier]]) lost its ENTIRE random
    // expander and degenerated into disconnected LSH-bucket segments
    // (the navigability debug's hard wall at a bucket boundary). Dense
    // inputs (the corpus contract) keep the direct id form — zero new
    // plan nodes, declared hashes untouched by construction; non-dense
    // inputs route the same positions through a rank→id map, which is
    // VALUE-identical to the direct form when ids are dense (pos == id).
    var rankedHandle: Option[DataFrame] = None
    val randPairs =
      if (dense)
        e.select(col("vec_id").as("vid"))
          .select(col("vid"), explode(sequence(lit(0), lit(kRand - 1))).as("j"))
          .select(col("vid"), pmod(xxhash64(col("j"), col("vid")), lit(nM1)).as("t"))
          .select(col("vid"),
            when(col("t") >= col("vid"), col("t") + 1).otherwise(col("t")).as("nb"))
      else {
        // DISTRIBUTED dense ranking (r14 advice): row_number over a
        // global no-partition window collapses the whole input into one
        // task — and this path runs on every graphSearchHier upper-level
        // build (level 1 holds ~n/2 members), so at probe scale the
        // build serialized: the same literal-parallelism-cap class the
        // Fanout change removed. sortBy is a range-partitioned total
        // sort and zipWithIndex assigns contiguous global positions from
        // per-partition counts — both distributed, and deterministic
        // because vec_ids are unique. Fenced once: two joins consume it.
        val sess = e.sparkSession
        import sess.implicits._
        val ranked = graft.Fence.cut(
          e.select(col("vec_id")).as[Long].rdd
            .sortBy(identity).zipWithIndex()
            .toDF("vec_id", "pos"))
        rankedHandle = Some(ranked)
        ranked
          .select(col("vec_id").as("vid"), col("pos"),
            explode(sequence(lit(0), lit(kRand - 1))).as("j"))
          .select(col("vid"), col("pos"),
            pmod(xxhash64(col("j"), col("vid")), lit(nM1)).as("t"))
          .select(col("vid"),
            when(col("t") >= col("pos"), col("t") + 1).otherwise(col("t")).as("tpos"))
          .join(ranked.select(col("vec_id").as("nb"), col("pos").as("tpos")), "tpos")
          .select("vid", "nb")
      }
    var g = graft.Fence.cut(
      rescoreTopK(e, bucketPairs.unionByName(randPairs).distinct(), kBuild)
        .select(col("vid"), col("nb"), col("cos")))
    rankedHandle.foreach(graft.Fence.releaseCut) // seed graph sealed; rank map superseded
    (1 to rounds).foreach { _ =>
      val ge = g.select("vid", "nb")
      val twoHop = ge.as("x")
        .join(ge.as("y"), col("x.nb") === col("y.vid"))
        .select(col("x.vid").as("vid"), col("y.nb").as("nb"))
        .filter(col("vid") =!= col("nb"))
      val cand = ge
        .unionByName(ge.select(col("nb").as("vid"), col("vid").as("nb")))
        .unionByName(twoHop)
        .distinct()
      val prev = g
      g = graft.Fence.cut(
        rescoreTopK(e, cand, kBuild).select(col("vid"), col("nb"), col("cos")))
      graft.Fence.releaseCut(prev)
    }
    g
  }

  /** EXT: graph-traversal ANN retrieval — NSW-style BEAM SEARCH over the
    * kNN graph, the query-time counterpart of [[knnGraphEdges]] (r13
    * verdict #3; Malkov & Yashunin 2016, "Efficient and robust
    * approximate nearest neighbor search using Hierarchical Navigable
    * Small World graphs" — the single-layer NSW walk): start every query
    * at a deterministic ENTRY set (the graph's top in-degree hubs — the
    * standard high-connectivity entry heuristic, and a pure function of
    * the edge relation), then `rounds` best-first expansions: score the
    * frontier's out-neighbors exactly, merge into the per-query
    * candidate POOL, keep the top-`beam` as the next frontier. The
    * final answer is the exact top-k of the pool — search IS its own
    * re-rank (every pooled candidate was exact-scored on arrival).
    *
    * Deterministic by construction (the coin-replay/unrolled-round
    * precedent): hub entries tie-break on id, every frontier/pool
    * ranking is (cos desc, cid) in the family's 4-dp score space, and
    * each round is one join against the edge relation — so the DuckDB
    * oracle replays the whole walk as unrolled CTE rounds.
    *
    * Scale shape: per-query, per-round cost is beam × out-degree
    * candidate rows — NEVER the corpus. The frontier (|Q|·beam rows)
    * broadcasts into the join against the graph relation, which stays
    * partitioned by vid; the pool grows ≤ |Q|·beam·kBuild rows/round.
    * At 1 B vectors the walk touches O(rounds·beam·kBuild) vectors per
    * query where IVF probes nprobe·(n/cells) — the graph's edge
    * locality replaces the coarse quantizer's geometry.
    *
    * @param e corpus (vec_id, v, nrm); @param g edge relation (vid, nb)
    *          from [[knnGraphEdges]]; @param q queries (qid, qv, qn)
    * @param corpusMin results/entries restricted to cid >= corpusMin
    *                  (the family's query-cohort convention). */
  private[graft] def graphSearch(e: DataFrame, g: DataFrame, q: DataFrame,
                                 k: Int, beam: Int, rounds: Int,
                                 nEntries: Int, corpusMin: Long,
                                 sigBits: Int = 8,
                                 entries: Option[DataFrame] = None): DataFrame = {
    val wBeam = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    def score(cand: DataFrame): DataFrame = cand
      .join(e.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn")), "cid")
      .join(q, "qid")
      .select(col("qid"), col("cid"),
              round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos"))
    // walk the UNDIRECTED graph: a kNN edge relation is directed (top-k
    // per source) and greedy routing against the arrows dead-ends —
    // NSW's navigability comes from bidirectional links, so expansion
    // unions each edge with its reversal (the NN-descent candidate
    // idiom, oracle-replayable)
    // FENCED (r16): the undirected relation is consumed by the hub
    // derivation and by EVERY walk round's candidate join — unfenced,
    // each of those plans re-ran the 2|E| union+distinct exchange
    // (per-round at 1 B vectors that is a 16 B-row shuffle; the exact
    // recompute class the r14 verdict killed for the PERSISTED path,
    // still alive in this inline-by-declaration composition).
    val gu = graft.Fence.cut(
      g.unionByName(g.select(col("nb").as("vid"), col("vid").as("nb")))
        .distinct())
    // ENTRY = the query's own LSH bucket-mates (the same plane2
    // signature the graph build bucketed on — scored exactly, the
    // nprobe=1 IVF-probe budget: ~n/256 candidates) ∪ the graph's top
    // in-degree hubs (a global fallback for queries whose bucket is
    // empty). The WALK then repairs what the bucket missed — true
    // neighbors whose perturbed signature landed in another cell are
    // one intra-cluster hop from a bucket-mate. A pure hub entry
    // cannot navigate a clustered corpus at all: every cluster is a
    // kNN clique with no inter-cluster gradient (measured recall 0.000
    // at the 50k replica shape), which is exactly why NSW keeps
    // long-range links and IVF keeps a coarse quantizer.
    val bitsC = (0 until sigBits).map { p =>
      when(vecDot(col("v"), plane2(p)) >= 0, "1").otherwise("0")
    }
    val bitsQ = (0 until sigBits).map { p =>
      when(vecDot(col("qv"), plane2(p)) >= 0, "1").otherwise("0")
    }
    // `entries` overrides the default entry set: the hierarchical descent
    // ([[graphSearchHier]]) carries its own per-query (qid, cid) entries
    // down from the upper levels, replacing the LSH-bucket + hub entry.
    val entrySet = entries.getOrElse {
      val mates = q.select(col("qid"), concat(bitsQ: _*).as("bucket"))
        .join(e.select(col("vec_id").as("cid"), concat(bitsC: _*).as("bucket")), "bucket")
        .filter(col("cid") >= corpusMin)
        .select("qid", "cid")
      val hubs = gu.filter(col("nb") >= corpusMin)
        .groupBy(col("nb").as("cid")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("cid")).limit(nEntries)
        .select("cid")
      mates.unionByName(q.select("qid").crossJoin(broadcast(hubs)))
    }
    val out = graphSearchWalk(e, gu, q, k, beam, rounds, corpusMin, entrySet)
    graft.Fence.releaseCut(gu) // walk output is its own cut
    out
  }

  /** The beam WALK alone — entry set and undirected edge relation come
    * from the caller: [[graphSearch]] derives both inline (the declared
    * one-shot composition), [[graphSearchIndexed]] reads both from a
    * PERSISTED index generation (r14 verdict #1: the derivations are
    * pure functions of the edge relation and belong to build time).
    * The frontier (|Q|·beam rows, never corpus) carries an explicit
    * broadcast hint into the edge join, so the 2|E| relation is only
    * ever SCANNED — no exchange touches it at query time, whatever its
    * on-disk layout (LayoutSpec pins the executed plan). */
  private[graft] def graphSearchWalk(e: DataFrame, gu: DataFrame, q: DataFrame,
                                     k: Int, beam: Int, rounds: Int,
                                     corpusMin: Long, entrySet: DataFrame): DataFrame = {
    val wBeam = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    // PRE-PARTITIONED + PRE-SORTED scoring relation (r17, verdict #4):
    // Profile showed the projected vector relation shuffle-written AND
    // read on EVERY walk round — the per-round score join sort-merged
    // the corpus side each time (at 1 B vectors, the corpus re-exchanged
    // + re-sorted per round). Fencing the (cid, cv, cn) projection ONCE,
    // hash-partitioned and sorted by cid, makes every round's SMJ
    // exchange-free and sort-free on the corpus side (the fence leaf
    // carries the partitioning + ordering claims through); only the
    // query-bounded candidate set shuffles per round, and the
    // compute-dense cosine scoring keeps the full shuffle-width
    // parallelism. (The broadcast-hint alternative — cand as build side
    // — measured 3-4× SLOWER at sf0.1: the corpus becomes the stream
    // side, so scoring parallelism collapses to the corpus scan's
    // partitioning. Negative result, do not redo.)
    val eP = graft.Fence.cut(
      e.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
        .repartition(col("cid")).sortWithinPartitions("cid"))
    def score(cand: DataFrame): DataFrame = cand
      .join(eP, "cid")
      .join(q, "qid")
      .select(col("qid"), col("cid"),
              round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos"))
    // The FRONTIER is never cut: it is a window+filter over the
    // materialized pool leaf, consumed exactly once per round (the
    // broadcast side of walkCandidates). Cutting it cost one extra
    // eager job + plan per round for a |Q|·beam-row frame whose
    // recompute from the pool leaf is a single cached-scan stage —
    // r16 optimization (guide §1.2: remove unnecessary passes; the
    // walk's job count drops from 2 to 1 cut per round). Determinism
    // is unchanged: row_number orders by (cos desc, cid), total within
    // a qid after the pool's distinct, so a lazy re-evaluation ranks
    // identically.
    def frontierOf(p: DataFrame): DataFrame =
      p.withColumn("rk", row_number().over(wBeam))
        .filter(col("rk") <= beam).select("qid", "cid")
    var pool = graft.Fence.cut(score(entrySet.distinct()))
    (1 to rounds).foreach { _ =>
      val cand = walkCandidates(gu, frontierOf(pool), corpusMin)
      val prevP = pool
      // r16: the pool and the newly scored arrivals are each distinct by
      // construction (entry/cand are distinct (qid, cid) sets and the
      // 4-dp score is a pure function of the pair), so merging them
      // needs only an anti-join of the SMALL new set against the pool
      // leaf — the old pool.union(new).distinct() re-shuffled the whole
      // accumulated pool every round to dedup rows already known unique
      // (guide §2.3: shuffle fewer bytes; same rows, order-insensitive
      // consumers).
      pool = graft.Fence.cut(pool.unionByName(
        score(cand).join(pool.select("qid", "cid"), Seq("qid", "cid"),
                         "left_anti")))
      graft.Fence.releaseCut(prevP)
    }
    // seal the survivor (its own cut) BEFORE dropping the final pool's
    // checkpoint blocks — releaseCut is destructive, and `out` derives
    // from the pool (the r14-advice accumulation fix made this ordering
    // load-bearing where the old no-op release forgave it)
    val out = graft.Fence.cut(
      pool.withColumn("rk", row_number().over(wBeam).cast("long"))
        .filter(col("rk") <= k))
    graft.Fence.releaseCut(pool)
    graft.Fence.releaseCut(eP)
    out
  }

  /** One walk round's candidate expansion — the edge-side join shape
    * LayoutSpec gates: the frontier (|Q|·beam rows) broadcasts, the edge
    * relation streams into the build-side hash join with NO exchange
    * between its scan and the join; only the query-sized join OUTPUT is
    * shuffled (the distinct). Shared with the spec so the gated plan IS
    * the production plan. */
  private[graft] def walkCandidates(gu: DataFrame, frontier: DataFrame,
                                    corpusMin: Long): DataFrame =
    broadcast(frontier)
      .join(gu.withColumnRenamed("vid", "cid"), "cid")
      .select(col("qid"), col("nb").as("cid"))
      .filter(col("cid") >= corpusMin && col("cid") =!= col("qid"))
      .distinct()

  /** Build + COMMIT the persistent kNN-graph search index (r14 verdict
    * #1: [[graphSearch]] rebuilt the undirected edge relation — a
    * 2|E|-row distinct — and the hub entry set — a full-graph degree
    * aggregation — on EVERY call; both are pure functions of the edge
    * relation, so at 1 B vectors each search invocation paid a 16 B-row
    * shuffle+dedup before its first beam round). One generation holds:
    *
    *  - `edges`   — the UNDIRECTED relation (vid, nb), hash-partitioned
    *                by vid at a size-derived width (the CommitEpoch
    *                file-layout rule: the written layout scales with the
    *                relation, never the session's shuffle conf);
    *  - `hubs`    — top-`nEntries` in-degree vertices (ties by id), the
    *                global entry fallback;
    *  - `buckets` — (cid, bucket): each corpus vector's [[plane2]] LSH
    *                signature, so query-time bucket-mate entry probes a
    *                slim 2-column relation instead of re-deriving
    *                signatures over the full vector table.
    *
    * Commits through the [[graft.plans.CommitEpoch]] hidden-tmp +
    * same-dir-rename protocol (the annIngestStream centroids+postings
    * precedent): a crash strands only a swept tmp, readers pick the
    * max-seq generation, superseded generations are deleted after the
    * rename. `nEntries`/`corpusMin` bake into the hub list — they are
    * index-build parameters, like nlist in an IVF build. Returns the
    * committed generation path. */
  /** The [[plane2]] LSH signature as one string column — shared by the
    * graph build, the index buckets, and the streaming maintenance. */
  private[graft] def lshBucket(v: Column, sigBits: Int): Column =
    concat((0 until sigBits).map { p =>
      when(vecDot(v, plane2(p)) >= 0, "1").otherwise("0")
    }: _*)

  /** HNSW's M-PRUNING at compaction time: bound every vertex's
    * out-neighbor list to its `maxDeg` best by exact cosine (ties by
    * nb). Insert-by-search accumulates in-links on popular vertices
    * without bound — each batch links its vectors to their nearest, and
    * a family's early members collect degree proportional to corpus
    * age — so walk cost (frontier × out-degree per round) grows with
    * history unless compaction prunes (measured at the 1M knningest
    * shape: per-batch insert walls grew with the accumulated relation).
    * Pruning per-vid breaks strict undirected symmetry (A may keep B
    * while B drops A) — exactly HNSW's per-node neighbor lists; the
    * walk expands vid→nb lists, so asymmetry affects only which DIRECTED
    * hops exist, and recall is re-measured after pruning (SCALE.md §Round-15 probes).
    * One rescore join over the relation — refresh-cadence cost, never
    * query-time. */
  private[graft] def pruneDegree(gu: DataFrame, vectors: DataFrame,
                                 maxDeg: Int): DataFrame = {
    val e = vectors.select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    rescoreTopK(e, gu.select("vid", "nb"), maxDeg).select("vid", "nb")
  }

  /** HNSW's DIVERSITY-heuristic pruning (Malkov & Yashunin 2016, Alg. 4
    * `SELECT-NEIGHBORS-HEURISTIC` with keepPrunedConnections): bound
    * each vertex to `maxDeg` neighbors, but select for COVERAGE, not
    * raw similarity — walk candidates in (cos desc, nb) order and keep
    * c only if it is at least as close to the vertex as to every
    * already-kept neighbor (cos4(c, v) ≥ cos4(c, k) ∀k), then fill the
    * remaining slots with the best pruned candidates. Why not plain
    * top-M ([[pruneDegree]]): similarity-ranked pruning cuts the
    * LONG-RANGE links first — they are by definition the lowest-cosine
    * edges — and long links are exactly what global-entry navigability
    * rides on (measured at the 50k knningest shape: naive top-32
    * pruning collapsed global-entry recall 0.495 → 0.100 while the
    * diversity heuristic preserves it — SCALE.md r15; this is the
    * published reason HNSW prunes by the heuristic, reproduced).
    * PQ-CODED (r15 verdict #6): the first cut of this operator joined
    * BOTH endpoint 64-d double vectors onto every edge before the
    * per-vertex group — ~1 KB/edge through the compaction shuffle (at
    * 1 B vectors × M=32, a ~32 TB shuffle). Now every per-EDGE shuffle
    * is thin: edges join only the neighbor's 8-byte PQ code + norm
    * (~24 B/edge), the full vector attaches once per VERTEX after the
    * group. Codebooks (8 subspaces × ≤16 centroids) train on a bounded
    * deterministic sample (4096 rows by xxhash64 order — the bounded-
    * pool collect convention) with 4 Lloyd rounds; candidate RANKING
    * uses asymmetric PQ (exact vertex side × coded neighbor, an 8-add
    * LUT sum), the kept-set diversity test uses symmetric PQ (the
    * broadcast 8×16×16 SDC dot table). Both heuristic inputs are
    * approximate — the selection was already a heuristic; fidelity is
    * gated by AnnRecallSpec's long-link twin and the measured recall
    * probes, not a hash. Deterministic: fixed sample order, argmin ties
    * to the lowest centroid, candidates sorted (cos4 desc, nb).
    * A vertex with ≤ maxDeg candidates emerges with its full set (the
    * fill restores heuristic-rejected ones), so below the bound this
    * is an exact no-op — the spec twins' regime. */
  private[graft] def pruneDegreeDiverse(gu: DataFrame, vectors: DataFrame,
                                        maxDeg: Int): DataFrame = {
    val s = gu.sparkSession
    import s.implicits._
    val withV = vectors.select(col("vec_id"), col("v"))
    val sample = withV.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(4096)
      .as[(Long, Array[Double])].collect()
    if (sample.isEmpty) return gu.select("vid", "nb").limit(0)
    val dim = sample.head._2.length
    val nSub = math.min(8, dim)
    val subLen = (dim + nSub - 1) / nSub
    def slice(v: Array[Double], j: Int): Array[Double] = {
      val from = j * subLen
      val until = math.min(from + subLen, dim)
      if (from >= until) new Array[Double](0)
      else java.util.Arrays.copyOfRange(v, from, until)
    }
    val k = math.min(16, sample.length)
    // per-subspace Lloyd, deterministic: seeds = first k sampled slices
    val books: Array[Array[Array[Double]]] = Array.tabulate(nSub) { j =>
      val pts = sample.map(t => slice(t._2, j))
      val cents = pts.take(k).map(_.clone)
      var it = 0
      while (it < 4) {
        val sums = Array.fill(k)(new Array[Double](cents(0).length))
        val cnts = new Array[Long](k)
        pts.foreach { p =>
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < k) {
            var dd = 0.0; var i = 0
            while (i < p.length) { val t = p(i) - cents(c)(i); dd += t * t; i += 1 }
            if (dd < bd) { bd = dd; best = c }; c += 1
          }
          var i = 0
          while (i < p.length) { sums(best)(i) += p(i); i += 1 }
          cnts(best) += 1
        }
        var c = 0
        while (c < k) {
          if (cnts(c) > 0) {
            var i = 0
            while (i < sums(c).length) { cents(c)(i) = sums(c)(i) / cnts(c); i += 1 }
          }
          c += 1
        }
        it += 1
      }
      cents
    }
    val sdc: Array[Array[Array[Double]]] = books.map { cents =>
      Array.tabulate(k, k) { (a, b) =>
        var dd = 0.0; var i = 0
        while (i < cents(a).length) { dd += cents(a)(i) * cents(b)(i); i += 1 }
        dd
      }
    }
    val bBooks = s.sparkContext.broadcast(books)
    val bSdc = s.sparkContext.broadcast(sdc)
    def encode(v: Array[Double]): Array[Byte] = {
      val bk = bBooks.value
      Array.tabulate(nSub) { j =>
        val p = slice(v, j); val cents = bk(j)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var dd = 0.0; var i = 0
          while (i < p.length) { val t = p(i) - cents(c)(i); dd += t * t; i += 1 }
          if (dd < bd) { bd = dd; best = c }; c += 1
        }
        best.toByte
      }
    }
    val codes = withV.as[(Long, Array[Double])].map { case (id, v) =>
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      (id, encode(v), math.sqrt(n2))
    }.toDF("nb", "code", "cnrm")
    def cos4(x: Double): Double = math.round(x * 1e4) / 1e4
    gu.select("vid", "nb")
      .join(codes, "nb") // thin: ids + 8-byte code + norm
      .groupBy("vid")
      .agg(collect_list(struct(col("nb").as("_1"), col("code").as("_2"),
                               col("cnrm").as("_3"))).as("cands"))
      .join(withV.select(col("vec_id").as("vid"), col("v")), "vid") // fat once per VERTEX
      .select(col("vid"), col("v"), col("cands"))
      .as[(Long, Array[Double], Seq[(Long, Array[Byte], Double)])]
      .flatMap { case (vid, va, cands) =>
        val bk = bBooks.value; val tb = bSdc.value
        // exact-side ADC LUT for va: lut(j)(c) = dot(va_j, cent_c)
        val lut = Array.tabulate(nSub) { j =>
          val p = slice(va, j)
          bk(j).map { cent =>
            var dd = 0.0; var i = 0
            while (i < p.length) { dd += p(i) * cent(i); i += 1 }
            dd
          }
        }
        var n2 = 0.0; var i = 0
        while (i < va.length) { n2 += va(i) * va(i); i += 1 }
        val nva = math.sqrt(n2)
        def adcCos(code: Array[Byte], nrmB: Double): Double = {
          var dd = 0.0; var j = 0
          while (j < nSub) { dd += lut(j)(code(j) & 0xff); j += 1 }
          val den = nva * nrmB
          if (den == 0.0) 0.0 else cos4(dd / den)
        }
        def sdcCos(a: Array[Byte], na: Double, b: Array[Byte], nb2: Double): Double = {
          var dd = 0.0; var j = 0
          while (j < nSub) { dd += tb(j)(a(j) & 0xff)(b(j) & 0xff); j += 1 }
          val den = na * nb2
          if (den == 0.0) 0.0 else cos4(dd / den)
        }
        val sorted = cands.map { case (nb, code, nrmB) =>
          (nb, code, nrmB, adcCos(code, nrmB))
        }.sortBy { case (nb, _, _, c) => (-c, nb) }
        val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte], Double)]
        val pruned = scala.collection.mutable.ArrayBuffer.empty[Long]
        sorted.foreach { case (nb, code, nrmB, cq) =>
          if (kept.size < maxDeg) {
            if (kept.forall { case (_, kc, kn) => cq >= sdcCos(code, nrmB, kc, kn) })
              kept += ((nb, code, nrmB))
            else pruned += nb
          }
        }
        val fill = pruned.take(maxDeg - kept.size)
        (kept.map(_._1) ++ fill).map(nb => (vid, nb))
      }
      .toDF("vid", "nb")
  }

  /** Top in-degree entry hubs of an undirected edge relation (ties by
    * id) — an index-build derivation ([[buildGraphIndex]] and the
    * streaming refresh recompute it; never computed at query time). */
  private[graft] def topHubs(gu: DataFrame, nEntries: Int, corpusMin: Long): DataFrame =
    gu.filter(col("nb") >= corpusMin)
      .groupBy(col("nb").as("cid")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("cid")).limit(nEntries)
      .select("cid")

  /** INSERT-BY-SEARCH: link a batch of NEW vectors into an existing
    * graph index — HNSW's construction move (Malkov & Yashunin 2016)
    * applied per micro-batch, and the honest test of the r14 lesson
    * that navigability comes from incremental insert-by-search
    * construction, not from post-hoc layering (SCALE.md r14: post-hoc
    * hierarchies measured recall 0.135). Each new vector SEARCHES the
    * current graph (bucket-mates ∪ hub entry, the production walk) for
    * its `kLink` nearest and links both directions. The walk corpus
    * includes the batch itself: intra-batch neighbors meet through the
    * entry probe (same LSH bucket), so a batch is inserted as if
    * sequentially without a driver loop. Early inserts (small corpus)
    * link across what later becomes long range — exactly the long-link
    * construction HNSW relies on.
    *
    * @param eAll corpus INCLUDING the batch (vec_id, v, nrm)
    * @param gu current undirected edge relation; @param buckets current
    *        (cid, bucket) incl. the batch; @param hubs entry fallback
    * @param b the new batch (vec_id, v, nrm)
    * @return new UNDIRECTED pairs (vid, nb) — both directions. */
  private[graft] def insertBySearch(eAll: DataFrame, gu: DataFrame,
      buckets: DataFrame, hubs: DataFrame, b: DataFrame,
      kLink: Int, beam: Int, rounds: Int, sigBits: Int = 8): DataFrame = {
    val q = b.select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val bitsQ = (0 until sigBits).map { p =>
      when(vecDot(col("qv"), plane2(p)) >= 0, "1").otherwise("0")
    }
    // no broadcast hint on the batch side: a drop can be arbitrarily
    // large; AQE picks the build side from runtime sizes
    val mates = q.select(col("qid"), concat(bitsQ: _*).as("bucket"))
      .join(buckets, "bucket")
      .filter(col("cid") =!= col("qid")) // a batch vector's bucket holds itself
      .select("qid", "cid")
    val entry = mates.unionByName(
      q.select("qid").crossJoin(broadcast(hubs)).filter(col("cid") =!= col("qid")))
    val found = graphSearchWalk(eAll, gu, q, kLink, beam, rounds,
      corpusMin = Long.MinValue, entrySet = entry)
    val out = found.select(col("qid").as("vid"), col("cid").as("nb"))
      .unionByName(found.select(col("cid").as("vid"), col("qid").as("nb")))
      .transform(graft.Fence.cut)
    graft.Fence.releaseCut(found)
    out
  }

  /** HNSW's geometric level off xxhash64("hnsw", vec_id) — a PURE
    * function of the id, so the hierarchy needs no level storage, a
    * replay assigns identically, and every twin can recompute
    * membership in closed form. P(level ≥ ℓ) = 2^−ℓ, capped at
    * maxLevels−1. Shared by [[graphSearchHier]] (the batch-built
    * measured negative), the incremental maintenance
    * ([[insertBySearchUpper]]), and the descent ([[graphSearchIndexedHier]]). */
  private[graft] def hnswLevel(id: Column, maxLevels: Int): Column = {
    val h = xxhash64(lit("hnsw"), id)
    (1 until maxLevels).map(l =>
        when(pmod(h, lit(1L << l)) === 0, 1).otherwise(0))
      .foldLeft(lit(0))((a, b) => a + b)
  }

  /** The UPPER-LAYER half of incremental HNSW construction (r15 verdict
    * #3): link a batch into every layer ℓ ≥ 1 it belongs to, by search
    * — the move the r14/r15 measurements demanded. Post-hoc layering
    * measured recall 0.135 and a FIXED flat-walk budget covers a
    * constant COUNT (global-entry 0.345 at 50k → 0.000 at 1M); HNSW's
    * published answer is layers BUILT INSERT-BY-SEARCH, descended at
    * query time so the budget grows ~log n. Layer ℓ holds the vertices
    * with [[hnswLevel]] ≥ ℓ (population n·2^−ℓ); each batch member of
    * the layer searches the CURRENT layer-ℓ graph (bucket-mates within
    * the layer ∪ the layer's min corpus id as deterministic entry) for
    * its kLink nearest layer-mates and links both directions.
    *
    * Scale shape: layer populations halve, so the whole upper pass
    * costs ~1× the base insert; each layer's walk is entry probe +
    * rounds·beam·out-degree — never the layer, never the corpus.
    * Deterministic throughout (4-dp scores, id ties), so replays
    * rewrite identical deltas.
    *
    * @return new DIRECTED-both-ways rows (lvl, vid, nb), lvl ≥ 1. */
  private[graft] def insertBySearchUpper(eAll: DataFrame, levEdges: DataFrame,
      buckets: DataFrame, b: DataFrame, kLink: Int, beam: Int, rounds: Int,
      sigBits: Int, maxLevels: Int): DataFrame = {
    val s = eAll.sparkSession
    import s.implicits._
    val empty = Seq.empty[(Int, Long, Long)].toDF("lvl", "vid", "nb")
    if (maxLevels <= 1) return empty
    // bounded scalar: the batch's top populated level (≤ maxLevels-1)
    val bTop = b.select(hnswLevel(col("vec_id"), maxLevels).as("lvl"))
      .agg(coalesce(max(col("lvl")), lit(0))).head().getInt(0)
    if (bTop < 1) return empty
    // ONE pass over the corpus for every layer's min member id (the
    // deterministic global entry) — per-layer aggregations would cost
    // bTop full scans per batch
    val perLvlMin = eAll
      .select(hnswLevel(col("vec_id"), maxLevels).as("lvl"), col("vec_id"))
      .groupBy("lvl").agg(min(col("vec_id")).as("mn"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    def minAtOrAbove(l: Int): Option[Long] = {
      val c = perLvlMin.filter(_._1 >= l).values
      if (c.isEmpty) None else Some(c.min)
    }
    val ups = (1 to bTop).flatMap { l =>
      val minId = minAtOrAbove(l)
      if (minId.isEmpty) None else Some {
      val members = eAll.filter(hnswLevel(col("vec_id"), maxLevels) >= l)
      val bL = b.filter(hnswLevel(col("vec_id"), maxLevels) >= l)
      val qL = bL.select(col("vec_id").as("qid"), col("v").as("qv"),
                         col("nrm").as("qn"))
      val guL = levEdges.filter(col("lvl") === l).select("vid", "nb")
      val memberIds = members.select(col("vec_id").as("cid"))
      val mates = qL.select(col("qid"),
          lshBucket(col("qv"), sigBits).as("bucket"))
        .join(buckets.join(memberIds, Seq("cid"), "left_semi"), "bucket")
        .filter(col("cid") =!= col("qid"))
        .select("qid", "cid")
      val entry = mates.unionByName(
        qL.select(col("qid"), lit(minId.get).as("cid"))
          .filter(col("cid") =!= col("qid")))
      val found = graphSearchWalk(members, guL, qL, kLink, beam, rounds,
        corpusMin = Long.MinValue, entrySet = entry)
      val out = graft.Fence.cut(
        found.select(col("qid").as("vid"), col("cid").as("nb"))
          .unionByName(found.select(col("cid").as("vid"), col("qid").as("nb")))
          .select(lit(l).as("lvl"), col("vid"), col("nb")))
      graft.Fence.releaseCut(found)
      out
    } }
    if (ups.isEmpty) empty
    else {
      // seal the union as its OWN leaf, then release the per-level cuts
      // — the caller gets one releasable frame (the own-cut-first rule)
      val fused = graft.Fence.cut(ups.reduce(_ unionByName _))
      ups.foreach(graft.Fence.releaseCut)
      fused
    }
  }

  /** HNSW DESCENT against a PERSISTED leveled index ([[buildGraphIndex]]
    * with maxLevels > 1 / the knnIngestStream maintenance): from the
    * top populated layer's deterministic entry (min member id), a
    * frontier-fixpoint greedy walk per layer (width descentBeam, capped
    * descentRounds) carries its frontier DOWN as the next layer's
    * entry; the base layer runs the production beam walk from the
    * carried entry — NO query-time LSH bucket probe. This is the true
    * HNSW query: the walk budget grows with the number of populated
    * layers (~log n), not a fixed constant, which is exactly what the
    * flat global-entry walk lacked (0.345 at 50k → 0.000 at 1M,
    * SCALE.md r15). Levels are recomputed from vec_id ([[hnswLevel]]) —
    * nothing but edges_hi is stored for the hierarchy. */
  def graphSearchIndexedHier(e: DataFrame, indexDir: String, q: DataFrame,
      k: Int, beam: Int, rounds: Int, corpusMin: Long, maxLevels: Int,
      descentBeam: Int = 2, descentRounds: Int = 8): DataFrame = {
    val s = e.sparkSession
    val (gu, _, _) = loadGraphIndex(s, indexDir)
    val levEdges = loadGraphIndexHi(s, indexDir)
    graphSearchHierDescend(e, gu, levEdges, q, k, beam, rounds, corpusMin,
      maxLevels, descentBeam, descentRounds)
  }

  /** The descent walk itself, over in-memory relations — run by
    * [[graphSearchIndexedHier]] (persisted generation); its measured
    * legs are in SCALE.md §Round-16 probes. */
  private[graft] def graphSearchHierDescend(e: DataFrame, gu: DataFrame,
      levEdges: DataFrame, q: DataFrame, k: Int, beam: Int, rounds: Int,
      corpusMin: Long, maxLevels: Int,
      descentBeam: Int = 2, descentRounds: Int = 8): DataFrame = {
    val wBeam = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    // pre-partitioned + pre-sorted scoring relation — see the
    // [[graphSearchWalk]] note (r17, verdict #4): one fence serves every
    // descent level's rounds; the final base walk builds its own inside
    // graphSearchWalk, so eP is released before that walk starts — two
    // full-corpus copies are never pinned at once.
    val eP = graft.Fence.cut(
      e.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
        .repartition(col("cid")).sortWithinPartitions("cid"))
    def score(cand: DataFrame): DataFrame = cand
      .join(eP, "cid")
      .join(q, "qid")
      .select(col("qid"), col("cid"),
              round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos"))
    var carried: Option[DataFrame] = None
    ((maxLevels - 1) to 1 by -1).foreach { l =>
      val members = e.filter(hnswLevel(col("vec_id"), maxLevels) >= l &&
                             col("vec_id") >= corpusMin)
      val guL = levEdges.filter(col("lvl") === l).select("vid", "nb")
      // bounded scalar per layer — an empty upper layer is skipped
      if (members.limit(1).count() == 1) {
        val entry0 = carried.getOrElse {
          q.select("qid").crossJoin(
            broadcast(members.agg(min(col("vec_id")).as("cid"))))
        }
        var pool = graft.Fence.cut(score(entry0.distinct()))
        var frontier = graft.Fence.cut(
          pool.withColumn("rk", row_number().over(wBeam))
            .filter(col("rk") <= descentBeam).select("qid", "cid"))
        var moved = Long.MaxValue
        var r = 0
        while (r < descentRounds && moved > 0) {
          val cand = walkCandidates(guL, frontier, corpusMin)
          val (prevP, prevF) = (pool, frontier)
          pool = graft.Fence.cut(pool.unionByName(score(cand)).distinct())
          frontier = graft.Fence.cut(
            pool.withColumn("rk", row_number().over(wBeam))
              .filter(col("rk") <= descentBeam).select("qid", "cid"))
          moved = frontier.exceptAll(prevF).count()
          graft.Fence.releaseCut(prevP); graft.Fence.releaseCut(prevF)
          r += 1
        }
        carried.foreach(graft.Fence.releaseCut)
        carried = Some(frontier)
        graft.Fence.releaseCut(pool)
      }
    }
    val entry = carried.getOrElse(
      q.select("qid").crossJoin(broadcast(
        e.filter(col("vec_id") >= corpusMin).agg(min(col("vec_id")).as("cid")))))
    // safe: `carried` is its own cut leaf, so nothing still read derives from eP
    graft.Fence.releaseCut(eP)
    val out = graphSearchWalk(e, gu, q, k, beam, rounds, corpusMin, entry)
    carried.foreach(graft.Fence.releaseCut)
    out
  }

  /** The leveled upper-edge relation (lvl, vid, nb) of a generation —
    * empty when the index was built flat (maxLevels = 1). */
  private[graft] def loadGraphIndexHi(s: SparkSession, indexDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("compacted_"))
      .sortBy(p => p.getName.stripPrefix("compacted_").takeWhile(_.isDigit) match {
        case "" => -1L; case d => BigInt(d).min(Long.MaxValue - 1).toLong })
    require(gens.nonEmpty, s"loadGraphIndexHi($indexDir): no committed generation")
    val hi = new Path(gens.last, "edges_hi")
    if (fs.exists(hi)) s.read.parquet(hi.toString)
    else {
      import s.implicits._
      Seq.empty[(Int, Long, Long)].toDF("lvl", "vid", "nb")
    }
  }

  def buildGraphIndex(e: DataFrame, indexDir: String, kRand: Int, kBuild: Int,
                      rounds: Int, sigBits: Int = 8, nEntries: Int = 4,
                      corpusMin: Long = 0L, persistVectors: Boolean = false,
                      maxLevels: Int = 1): String = {
    import org.apache.hadoop.fs.Path
    val s = e.sparkSession
    val gScored = knnGraphEdgesScored(e, kRand, kBuild, rounds, sigBits)
    val g = gScored.select("vid", "nb")
    val gu = graft.Fence.cut(
      g.unionByName(g.select(col("nb").as("vid"), col("vid").as("nb"))).distinct())
    graft.Fence.releaseCut(gScored) // g is a lazy projection of this cut
    // maxLevels > 1: seed the HNSW hierarchy ([[hnswLevel]] membership,
    // one NN-descent build per layer — populations halve, so the whole
    // pass costs ~1× the base). A cold build's post-hoc layers are the
    // measured-weak construction (recall 0.135, SCALE.md r14) — but a
    // cold corpus is one DROP; every subsequent batch maintains the
    // layers insert-by-search ([[insertBySearchUpper]]), which is where
    // the navigability comes from.
    val levParts: Seq[DataFrame] =
      if (maxLevels <= 1) Nil
      else (1 until maxLevels).flatMap { l =>
        val members = graft.Fence.cut(
          e.filter(hnswLevel(col("vec_id"), maxLevels) >= l))
        val out = if (members.limit(2).count() == 2) {
          val gl = knnGraphEdges(members, kRand, kBuild, rounds, sigBits)
          Some(graft.Fence.cut(
            gl.unionByName(gl.select(col("nb").as("vid"), col("vid").as("nb")))
              .distinct()
              .select(lit(l).as("lvl"), col("vid"), col("nb"))))
        } else None
        graft.Fence.releaseCut(members)
        out
      }
    val levEdges: Option[DataFrame] =
      if (maxLevels <= 1) None
      else {
        import s.implicits._
        Some(levParts.reduceOption(_ unionByName _)
          .getOrElse(Seq.empty[(Int, Long, Long)].toDF("lvl", "vid", "nb")))
      }
    val hubs = topHubs(gu, nEntries, corpusMin)
    val buckets = e.select(col("vec_id").as("cid"),
                           lshBucket(col("v"), sigBits).as("bucket"))
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("_compact_") && p.getName.endsWith(".tmp"))
      .foreach(p => fs.delete(p, true))
    val prior = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("compacted_"))
    val epoch = graft.plans.CommitEpoch.next(fs, dir)
    val tmp = new Path(dir, s"_compact_$epoch.tmp")
    // size-derived write width: ~4M undirected edges (~64 MB of (long,
    // long) parquet) per file — the layout follows the relation
    val nEdges = gu.count()
    val width = math.max(1L, math.min(1L << 20, nEdges / 4000000L + 1L)).toInt
    gu.repartition(width, col("vid"))
      .write.mode("overwrite").parquet(new Path(tmp, "edges").toString)
    hubs.coalesce(1)
      .write.mode("overwrite").parquet(new Path(tmp, "hubs").toString)
    buckets.repartition(width, col("cid"))
      .write.mode("overwrite").parquet(new Path(tmp, "buckets").toString)
    // streaming maintenance ([[graft.streaming.Streams.knnIngestStream]])
    // keeps the corpus vectors IN the generation so insert-by-search can
    // exact-score against a self-contained index; batch/one-shot callers
    // skip the copy (their corpus lives in its own table)
    if (persistVectors)
      e.select(col("vec_id"), col("v")).repartition(width, col("vec_id"))
        .write.mode("overwrite").parquet(new Path(tmp, "vectors").toString)
    levEdges.foreach { le =>
      le.repartition(math.max(1, width / 2), col("vid"))
        .write.mode("overwrite").parquet(new Path(tmp, "edges_hi").toString)
    }
    levParts.foreach(graft.Fence.releaseCut)
    graft.plans.CommitEpoch.midCommitHook("pre-rename")
    val fin = new Path(dir, s"compacted_$epoch")
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"graph index commit rename failed: $tmp -> $fin")
    graft.plans.CommitEpoch.midCommitHook("post-rename")
    prior.foreach(p => fs.delete(p, true))
    graft.Fence.releaseCut(gu)
    fin.toString
  }

  /** DELETE/TAKEDOWN door for the persisted graph index (r15 verdict #1
    * — the last index-lifecycle gap): without it a retired vector
    * (takedown, PII purge, dedup-removed doc) stays in the generation's
    * edges/buckets/hubs forever and keeps being RETURNED by searches —
    * the [[Dedup.compactBandIndex]] phantom-duplicate failure mode,
    * vector-side. Folds the CURRENT state (max-seq generation + batch_*
    * deltas, the reader contract), drops every bucket row and edge
    * touching a retired id, HEALS the graph — each retired vertex's
    * surviving neighbors (they lost degree, possibly their whole
    * neighborhood) re-search the pruned graph via one [[insertBySearch]]
    * pass and relink, HNSW's repair move (Malkov & Yashunin 2016 §4:
    * neighborhood re-linking on delete); without it the region around a
    * dense retired hub fragments — recomputes hubs, and commits the
    * result as a new CommitEpoch generation, consuming the folded state.
    * Idempotent: retiring already-absent ids prunes nothing, orphans
    * nobody, and rewrites an equivalent generation. Vectors for the
    * heal's exact scoring come from the generation when persisted (the
    * streaming layout) else from `fallbackVecs` (batch layout).
    * @return the committed generation path. */
  def retireGraphVectors(s: SparkSession, indexDir: String, retired: DataFrame,
                         kLink: Int = 4, beam: Int = 8, walkRounds: Int = 2,
                         sigBits: Int = 8, nEntries: Int = 4,
                         corpusMin: Long = Long.MinValue,
                         fallbackVecs: Option[DataFrame] = None): String = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("_compact_") && p.getName.endsWith(".tmp"))
      .foreach(p => fs.delete(p, true))
    val gens = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("compacted_"))
      .sortBy(p => p.getName.stripPrefix("compacted_").takeWhile(_.isDigit) match {
        case "" => -1L; case d => BigInt(d).min(Long.MaxValue - 1).toLong })
    require(gens.nonEmpty, s"retireGraphVectors($indexDir): no committed generation")
    val latest = gens.last
    val deltas = fs.listStatus(dir).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith(".") &&
                   p.getName.startsWith("batch_")).toSeq
    def read(ps: Seq[Path]): Option[DataFrame] =
      ps.filter(fs.exists(_)).map(p => s.read.parquet(p.toString))
        .reduceOption(_ unionByName _)
    def parts(name: String) = new Path(latest, name) +: deltas.map(new Path(_, name))
    val gu0 = read(parts("edges")).get.distinct()
    val buckets0 = read(parts("buckets")).get.dropDuplicates("cid")
    val hasVecs = fs.exists(new Path(latest, "vectors"))
    val vecs0 =
      if (hasVecs)
        read(parts("vectors")).get.dropDuplicates("vec_id")
          .select(col("vec_id"), col("v"))
          .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      else fallbackVecs.getOrElse(sys.error(
        s"retireGraphVectors($indexDir): generation carries no vectors — pass fallbackVecs"))
    val ret = graft.Fence.cut(retired.select("vec_id").distinct())
    val keepVecs = graft.Fence.cut(
      vecs0.select(col("vec_id"), col("v"), col("nrm"))
        .join(ret, Seq("vec_id"), "left_anti"))
    val retV = ret.select(col("vec_id").as("vid"))
    val retN = ret.select(col("vec_id").as("nb"))
    val pruned = graft.Fence.cut(
      gu0.join(retV, Seq("vid"), "left_anti").join(retN, Seq("nb"), "left_anti"))
    // orphans: surviving endpoints of dropped edges
    val orphans = gu0.join(retV, Seq("vid"), "left_semi")
      .select(col("nb").as("vec_id")).distinct()
      .join(ret, Seq("vec_id"), "left_anti")
    val orphanBatch = keepVecs.join(orphans, Seq("vec_id"), "left_semi")
    val keepBuckets = buckets0
      .join(ret.select(col("vec_id").as("cid")), Seq("cid"), "left_anti")
    val interimHubs = topHubs(pruned, nEntries, corpusMin)
    val heal = insertBySearch(keepVecs, pruned, keepBuckets, interimHubs,
      orphanBatch, kLink, beam, walkRounds, sigBits)
    val newEdges = graft.Fence.cut(pruned.unionByName(heal).distinct())
    graft.Fence.releaseCut(heal); graft.Fence.releaseCut(pruned)
    val newHubs = topHubs(newEdges, nEntries, corpusMin)
    // UPPER HNSW LAYERS (when maintained): prune every layer edge
    // touching a retired id, then HEAL each layer — upper orphans
    // re-search their pruned layer and relink ([[insertBySearchUpper]],
    // the same repair move one level up); a retire MUST carry edges_hi
    // into the new generation or the hierarchy silently dies with the
    // consumed one. maxLevels is recovered from the stored relation
    // (max lvl + 1) — the level function itself is pure in vec_id.
    val newHi: Option[DataFrame] = read(parts("edges_hi")).map { hi0 =>
      val hi = hi0.distinct()
      val prunedHi = graft.Fence.cut(
        hi.join(retV, Seq("vid"), "left_anti").join(retN, Seq("nb"), "left_anti"))
      val maxLvl = hi.agg(coalesce(max(col("lvl")), lit(0))).head().getInt(0)
      val hiOrphans = hi.join(retV, Seq("vid"), "left_semi")
        .select(col("nb").as("vec_id")).distinct()
        .join(ret, Seq("vec_id"), "left_anti")
      val hiOrphanBatch = keepVecs.join(hiOrphans, Seq("vec_id"), "left_semi")
      val healHi = insertBySearchUpper(keepVecs, prunedHi, keepBuckets,
        hiOrphanBatch, kLink, beam, walkRounds, sigBits, maxLvl + 1)
      val out = graft.Fence.cut(
        prunedHi.unionByName(healHi).select("lvl", "vid", "nb").distinct())
      graft.Fence.releaseCut(healHi); graft.Fence.releaseCut(prunedHi)
      out
    }
    // commit with buildGraphIndex's epoch/tmp/rename discipline,
    // consuming the folded generation + deltas
    val epoch = graft.plans.CommitEpoch.next(fs, dir)
    val tmp = new Path(dir, s"_compact_$epoch.tmp")
    val nEdges = newEdges.count()
    val width = math.max(1L, math.min(1L << 20, nEdges / 4000000L + 1L)).toInt
    newEdges.repartition(width, col("vid"))
      .write.mode("overwrite").parquet(new Path(tmp, "edges").toString)
    newHubs.coalesce(1)
      .write.mode("overwrite").parquet(new Path(tmp, "hubs").toString)
    keepBuckets.repartition(width, col("cid"))
      .write.mode("overwrite").parquet(new Path(tmp, "buckets").toString)
    if (hasVecs)
      keepVecs.select(col("vec_id"), col("v")).repartition(width, col("vec_id"))
        .write.mode("overwrite").parquet(new Path(tmp, "vectors").toString)
    newHi.foreach(_.repartition(math.max(1, width / 2), col("vid"))
      .write.mode("overwrite").parquet(new Path(tmp, "edges_hi").toString))
    graft.plans.CommitEpoch.midCommitHook("pre-rename")
    val fin = new Path(dir, s"compacted_$epoch")
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"retire commit rename failed: $tmp -> $fin")
    graft.plans.CommitEpoch.midCommitHook("post-rename")
    (deltas ++ gens).foreach(p => fs.delete(p, true))
    newHi.foreach(graft.Fence.releaseCut)
    graft.Fence.releaseCut(newEdges); graft.Fence.releaseCut(keepVecs)
    graft.Fence.releaseCut(ret)
    fin.toString
  }

  /** Read the max-seq committed generation of a [[buildGraphIndex]] dir:
    * (edges, hubs, buckets). */
  private[graft] def loadGraphIndex(s: SparkSession, indexDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("compacted_"))
      .sortBy(p => p.getName.stripPrefix("compacted_").takeWhile(_.isDigit) match {
        case "" => -1L; case d => BigInt(d).min(Long.MaxValue - 1).toLong })
    require(gens.nonEmpty, s"loadGraphIndex($indexDir): no committed generation")
    val latest = gens.last
    (s.read.parquet(new Path(latest, "edges").toString),
     s.read.parquet(new Path(latest, "hubs").toString),
     s.read.parquet(new Path(latest, "buckets").toString))
  }

  /** [[graphSearch]] against a PERSISTED [[buildGraphIndex]] generation —
    * the production query path (r14 verdict #1): entry = the query's LSH
    * bucket-mates probed against the slim persisted (cid, bucket)
    * relation ∪ the persisted hub list; the walk consumes the persisted
    * undirected edges. Query-time cost is entry-probe + rounds·beam·
    * out-degree exact scores — NO distinct over 2|E|, NO full-graph
    * degree aggregation, no exchange on the edge side (LayoutSpec pins
    * the executed plan). */
  def graphSearchIndexed(e: DataFrame, indexDir: String, q: DataFrame,
                         k: Int, beam: Int, rounds: Int, corpusMin: Long,
                         sigBits: Int = 8): DataFrame = {
    val s = e.sparkSession
    val (gu, hubs, buckets) = loadGraphIndex(s, indexDir)
    val bitsQ = (0 until sigBits).map { p =>
      when(vecDot(col("qv"), plane2(p)) >= 0, "1").otherwise("0")
    }
    // queries broadcast into the bucket probe: the 2-column bucket
    // relation is scanned, never shuffled
    val mates = broadcast(q.select(col("qid"), concat(bitsQ: _*).as("bucket")))
      .join(buckets, "bucket")
      .filter(col("cid") >= corpusMin)
      .select("qid", "cid")
    val entrySet = mates.unionByName(
      q.select("qid").crossJoin(broadcast(hubs.filter(col("cid") >= corpusMin))))
    graphSearchWalk(e, gu, q, k, beam, rounds, corpusMin, entrySet)
  }

  /** HNSW-style HIERARCHICAL graph search (Malkov & Yashunin 2016, the
    * multi-layer form), kept as a MEASURED-NEGATIVE path on batch-built
    * indexes (the r13 trained-on-rotated precedent): level ℓ keeps a
    * ~2^-ℓ node subsample with its own kNN graph, and greedy descent
    * from one global entry is supposed to reach the query's
    * neighborhood before the base layer refines it — removing the
    * query-time LSH-bucket dependence. MEASURED at the 50k replica
    * shape (`graphsearchhier` probe, SCALE.md r14): recall@10 = 0.030
    * at EVERY descent dial (beam 2-16, caps 16-32 — the fixpoint hits
    * long before the cap) vs 0.850 for the flat bucket-entry walk on
    * the SAME base graph. The failure is NAVIGABILITY, not mechanics:
    * a post-hoc kNN graph over a subsample still has no monotone
    * similarity gradient between clusters, so greedy converges to the
    * entry's local maximum — HNSW's navigability comes from its
    * INCREMENTAL insert-by-search construction (early inserts create
    * long links that greedy can descend), not from layering per se.
    * AnnRecallSpec proves the converse: on a gradient corpus (vectors
    * on an angular arc, where cosine falls monotonically with id
    * distance) the same descent navigates from the global entry at
    * recall ≥ 0.8. Production guidance: batch-built indexes should use
    * the flat walk's bucket entry; this path fits corpora with global
    * similarity gradients (time series, ordered embeddings).
    *
    * Deterministic throughout: level(v) = trailing-zeros-style geometric
    * assignment off xxhash64("hnsw", vec_id) (capped at maxLevels−1);
    * entry = the top populated level's minimum corpus id; every
    * frontier/pool ranking is (cos desc, cid) at 4 dp — the family's
    * coin-replay convention, so every stage has a closed-form twin.
    *
    * Per level: one [[knnGraphEdges]] build over the level's members
    * (level populations halve, so the whole hierarchy costs ~2× the
    * base build) and a frontier-FIXPOINT greedy walk at width
    * `descentBeam` (exact-scored; one bounded integer scalar per round,
    * capped at `descentRounds` — the per-level budget is
    * rounds·descentBeam·kBuild candidates). The base layer runs the
    * full [[graphSearch]] beam walk with the carried entries.
    *
    * At 100 TB: the upper levels are small relations (n/2, n/4, …) that
    * build and persist once per refresh cycle; query-time cost is the
    * flat walk's plus L·descentRounds·descentBeam·kBuild exact scores —
    * constant per query, never corpus. */
  private[graft] def graphSearchHier(e: DataFrame, q: DataFrame, k: Int,
      beam: Int, rounds: Int, corpusMin: Long, maxLevels: Int = 4,
      kRand: Int = 4, kBuild: Int = 8, buildRounds: Int = 2,
      sigBits: Int = 8, descentBeam: Int = 2, descentRounds: Int = 16,
      baseEdges: Option[DataFrame] = None): DataFrame = {
    val wBeam = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    def score(cand: DataFrame): DataFrame = cand
      .join(e.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn")), "cid")
      .join(q, "qid")
      .select(col("qid"), col("cid"),
              round(vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4).as("cos"))
    val eL = e.withColumn("lvl", hnswLevel(col("vec_id"), maxLevels))
    var carried: Option[DataFrame] = None
    ((maxLevels - 1) to 1 by -1).foreach { l =>
      val members = graft.Fence.cut(eL.filter(col("lvl") >= l).drop("lvl"))
      // bounded scalar per level: a level needs >= 2 members to carry edges
      if (members.count() >= 2 &&
          members.filter(col("vec_id") >= corpusMin).count() >= 1) {
        val gl = graft.Fence.cut(
          knnGraphEdges(members, kRand, kBuild, buildRounds, sigBits))
        val glu = gl.unionByName(gl.select(col("nb").as("vid"), col("vid").as("nb")))
          .distinct()
        val entry0 = carried.getOrElse {
          val top = members.filter(col("vec_id") >= corpusMin)
            .agg(min(col("vec_id")).as("cid"))
          q.select("qid").crossJoin(broadcast(top))
        }
        var pool = graft.Fence.cut(score(entry0.distinct()))
        var frontier = graft.Fence.cut(
          pool.withColumn("rk", row_number().over(wBeam))
            .filter(col("rk") <= descentBeam).select("qid", "cid"))
        // HNSW walks each level until the greedy step stops improving;
        // the deterministic form is a frontier-fixpoint loop (ONE bounded
        // integer scalar per round — the pageRankRefresh stopping shape),
        // capped at descentRounds. A fixed small round count cannot
        // navigate far from the single global entry.
        var moved = Long.MaxValue
        var r = 0
        while (r < descentRounds && moved > 0) {
          val cand = frontier
            .join(glu.withColumnRenamed("vid", "cid"), "cid")
            .select(col("qid"), col("nb").as("cid"))
            .filter(col("cid") >= corpusMin && col("cid") =!= col("qid"))
            .distinct()
          val (prevP, prevF) = (pool, frontier)
          pool = graft.Fence.cut(pool.unionByName(score(cand)).distinct())
          frontier = graft.Fence.cut(
            pool.withColumn("rk", row_number().over(wBeam))
              .filter(col("rk") <= descentBeam).select("qid", "cid"))
          moved = frontier.exceptAll(prevF).count()
          graft.Fence.releaseCut(prevP); graft.Fence.releaseCut(prevF)
          r += 1
        }
        carried.foreach(graft.Fence.releaseCut)
        carried = Some(frontier)
        graft.Fence.releaseCut(pool); graft.Fence.releaseCut(gl)
      }
      graft.Fence.releaseCut(members)
    }
    val g0 = baseEdges.getOrElse(knnGraphEdges(e, kRand, kBuild, buildRounds, sigBits))
    val out = graphSearch(e, g0, q, k, beam, rounds, nEntries = 0,
      corpusMin = corpusMin, sigBits = sigBits,
      entries = carried.orElse(
        // degenerate hierarchy (tiny corpus): fall back to the flat
        // global entry — the minimum corpus id
        Some(q.select("qid").crossJoin(broadcast(
          e.filter(col("vec_id") >= corpusMin).agg(min(col("vec_id")).as("cid")))))))
    // safe to drop: graphSearch's result is sealed by its own cut
    carried.foreach(graft.Fence.releaseCut)
    out
  }

  /** EXT: the declared graph-search retrieval — the full production
    * composition (build the NN-descent graph, walk it per query, exact
    * top-5): queries are the vec_id < 5 cohort probing the vec_id >= 5
    * corpus over the SAME 4-round build-width-8 graph substrate as
    * [[qAnnKnnGraph]]. Hash-gated end to end: the DuckDB oracle replays
    * the graph construction (shared CTE block) AND the 4 unrolled beam
    * rounds. Measured recall vs the IVF-PQ path at equal candidate
    * budget: AnnRecallSpec floor + SCALE.md `graphsearch` probe. */
  def qAnnGraphSearch(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val g = knnGraphEdges(e, kRand = 4, kBuild = 8, rounds = 4)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    graphSearch(e, g, q, k = 5, beam = 8, rounds = 4, nEntries = 4, corpusMin = 5L)
      .orderBy("qid", "rk")
  }

  // one committed graph index per (JVM, data dir, dataset FINGERPRINT):
  // Verify/Bench build on first touch and every later call is search-only
  // — Bench's unmeasured warm-up run absorbs the build, so the measured
  // runs price the QUERY path (the r14 verdict's "price it honestly"
  // ask). The key carries the embeddings file's mtime+size (r15 advice):
  // a dataset REGENERATED at the same path within one JVM invalidates the
  // entry instead of silently serving the stale committed index. Temp
  // index dirs are registered for recursive deletion at JVM exit.
  private val gidxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val gidxTmp = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      gidxTmp.forEach(rm(_))
    }))
  }
  /** mtime^size fold over the embeddings source (file or part-file dir). */
  private def embeddingsFingerprint(d: String): Long = {
    def fold(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.foldLeft(0L)((a, c) => a ^ fold(c))).getOrElse(0L)
      else f.lastModified() * 31L + f.length()
    fold(new java.io.File(s"$d/embeddings.parquet"))
  }

  /** EXT: graph search against the PERSISTED index (r14 verdict #1) —
    * the production split of [[qAnnGraphSearch]]: [[buildGraphIndex]]
    * commits the undirected edge relation + hub list + bucket signatures
    * ONCE per corpus (a CommitEpoch generation, cached per JVM), and the
    * declared query runs [[graphSearchIndexed]] — entry probe + beam
    * walk only, no 2|E| distinct, no full-graph degree aggregation, no
    * exchange on the edge side (LayoutSpec pins the executed plan).
    * Same parameters as [[qAnnGraphSearch]], so the result — and the
    * DuckDB oracle — are IDENTICAL: one hash gates that the persisted
    * artifacts and the query-time derivations agree exactly. */
  def qAnnGraphSearchIdx(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val dir = gidxCache.computeIfAbsent(s"$d@${embeddingsFingerprint(d)}", _ => {
      val out = java.nio.file.Files.createTempDirectory("graft_gidx_")
      gidxTmp.add(out.toFile)
      buildGraphIndex(e, out.toString, kRand = 4, kBuild = 8, rounds = 4,
        sigBits = 8, nEntries = 4, corpusMin = 5L)
      out.toString
    })
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    graphSearchIndexed(e, dir, q, k = 5, beam = 8, rounds = 4, corpusMin = 5L)
      .orderBy("qid", "rk")
  }

  /** EXT: the declared INSERT-BY-SEARCH step (r15, query 210) — the
    * exact math [[graft.streaming.Streams.knnIngestStream]] runs per
    * micro-batch, hash-gated end to end: build the NN-descent graph
    * over the vec_id >= 5 CORPUS ONLY (a non-dense id set — this is the
    * one declared query exercising the shifted-rank expander map the
    * r14 fix introduced: pos = vec_id − 5, coins replayed against
    * positions, targets mapped back to real ids), derive hubs + the
    * full-table bucket signatures (batch INCLUDED — intra-batch
    * neighbors meet through the entry, the stream's contract), then
    * [[insertBySearch]] links the vec_id < 5 batch: entry = bucket
    * mates minus self ∪ hubs, 2 beam-8 walk rounds, top-4 exact links
    * per new vector, both directions, DISTINCT. The DuckDB twin
    * replays the corpus-restricted build (shifted-position coin
    * chains), the hub/bucket entry, and both unrolled beam rounds. */
  def qAnnInsertLinks(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val corpus = e.filter(col("vec_id") >= 5)
    val b = e.filter(col("vec_id") < 5)
    val g = knnGraphEdges(corpus, kRand = 4, kBuild = 8, rounds = 2)
    // fenced (r16): consumed by the hub derivation AND every insert walk
    // round — see the graphSearch note
    val gu = graft.Fence.cut(
      g.unionByName(g.select(col("nb").as("vid"), col("vid").as("nb")))
        .distinct())
    val hubs = topHubs(gu, 4, Long.MinValue)
    val buckets = e.select(col("vec_id").as("cid"),
                           lshBucket(col("v"), 8).as("bucket"))
    val out = insertBySearch(e, gu, buckets, hubs, b, kLink = 4, beam = 8,
                             rounds = 2)
    graft.Fence.releaseCut(gu) // insertBySearch output is its own cut
    out.distinct().orderBy("vid", "nb")
  }

  // build + RETIRE once per (JVM, dataset fingerprint): the retire door
  // mutates the index, so it gets its own committed artifact separate
  // from gidxCache's pristine one; later calls are search-only
  private val ridxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** EXT: the declared DELETE/TAKEDOWN door (r15 verdict #1, query 212)
    * — the full lifecycle composition, hash-gated end to end:
    * [[buildGraphIndex]] commits the same generation as
    * [[qAnnGraphSearchIdx]], then [[retireGraphVectors]] retires every
    * corpus vector with `vec_id % 7 = 0` — bucket rows and touching
    * edges drop, each retired vertex's surviving neighbors re-search
    * the pruned graph via one [[insertBySearch]] pass (kLink 4, 2
    * beam-8 rounds) and re-link both directions, hubs recompute — and
    * the declared query runs the production search against the HEALED
    * generation (entry probe + 4 beam-8 rounds, exact top-5). The
    * DuckDB twin replays build → prune → orphan heal → hub recompute →
    * search; one hash gates that a retired id can NEVER be returned
    * (phantom-free by construction: retired ids exist in neither the
    * pruned edges nor the kept buckets nor the recomputed hubs). */
  def qAnnRetireSearch(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val dir = ridxCache.computeIfAbsent(s"$d@${embeddingsFingerprint(d)}", _ => {
      val out = java.nio.file.Files.createTempDirectory("graft_ridx_")
      gidxTmp.add(out.toFile)
      buildGraphIndex(e, out.toString, kRand = 4, kBuild = 8, rounds = 4,
        sigBits = 8, nEntries = 4, corpusMin = 5L)
      retireGraphVectors(s, out.toString,
        e.filter(col("vec_id") >= 5 && col("vec_id") % 7 === 0).select("vec_id"),
        kLink = 4, beam = 8, walkRounds = 2, sigBits = 8, nEntries = 4,
        corpusMin = 5L, fallbackVecs = Some(e))
      out.toString
    })
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    graphSearchIndexed(e, dir, q, k = 5, beam = 8, rounds = 4, corpusMin = 5L)
      .orderBy("qid", "rk")
  }

  /** EXT: cluster-balanced curation — the D4/DoReMi-style semantic
    * REBALANCING pass (Tirumala et al. 2023, "D4: Improving LLM
    * pretraining via document de-duplication and diversification"):
    * cluster the corpus in embedding space, then CAP each cluster so no
    * semantic neighborhood dominates the training mixture — the learned
    * counterpart of [[TextOps.qCurateSourceCap]]'s per-source cap
    * (metadata strata miss topical skew inside a source; embedding
    * clusters catch it).
    *
    * Assignment = nearest of 8 deterministic seed centroids by cosine,
    * the [[qDedupSemantic]] shape (broadcast centroids, one 8-row
    * window per vector — engine-portable via the shared
    * pairwise-sequential dot fold). Cap = ⌊total/16⌋, i.e. half the
    * mean cluster mass — self-calibrating, no tuned constant. Selection
    * inside a cluster is hash-ordered (md5 of the id — the
    * [[TextOps.qSampleHash]] convention), so the kept SET is a pure
    * function of the corpus; `id_sum_kept` gates membership in the
    * oracle hash, not just the counts.
    *
    * At 100 TB: assignment is a map-side broadcast pass; the per-cluster
    * rank window is the one shuffle, and a giant cluster's window sort
    * swaps for the two-scan hash-prefix select-k
    * ([[TextOps.selectKByHash]]) with the identical kept set. */
  def qCurateClusterBalance(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val wAsn = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cid"))
    val assigned = e.crossJoin(broadcast(c))
      .withColumn("cos", vecDot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rk", row_number().over(wAsn))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"))
      .transform(graft.Fence.cut)
    val cap = assigned.agg(expr("count(1) DIV 16").as("cap"))
    val wSel = Window.partitionBy("cid")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned
      .withColumn("rn", row_number().over(wSel))
      .crossJoin(broadcast(cap))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
           sum((col("rn") <= col("cap")).cast("long")).as("n_kept"),
           coalesce(sum(when(col("rn") <= col("cap"), col("vec_id"))), lit(0L))
             .as("id_sum_kept"))
      .orderBy("cid")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curate_cluster_balance" -> (qCurateClusterBalance _),
    "q_ann_knn_graph"   -> (qAnnKnnGraph _),
    "q_ann_graph_search" -> (qAnnGraphSearch _),
    "q_ann_graph_search_idx" -> (qAnnGraphSearchIdx _),
    "q_ann_insert_links" -> (qAnnInsertLinks _),
    "q_ann_retire_search" -> (qAnnRetireSearch _),
    "q_eval_retrieval"  -> (qEvalRetrieval _),
    "q_dedup_semantic"  -> (qDedupSemantic _),
    "q_array_explode"   -> (qArrayExplode _),
    "q_sim_cosine"      -> (qSimCosine _),
    "q_embed_project"   -> (qEmbedProject _),
    "q_ann_ivf_proj"    -> (qAnnIvfProj _),
    "q_ann_brute_topk"  -> (qAnnBruteTopk _),
    "q_ann_lsh_buckets" -> (qAnnLshBuckets _),
    "q_ann_ivf"         -> (qAnnIvf _),
    "q_ann_lsh_probe"   -> (qAnnLshProbe _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_vec_centroid"    -> (qVecCentroid _),
    "q_ann_ivf_kmeans"  -> (qAnnIvfKmeans _),
    "q_ann_lsh_multiprobe" -> (qAnnLshMultiprobe _),
    "q_vec_quantize"    -> (qVecQuantize _),
    "q_ann_pq"          -> (qAnnPq _),
    "q_ann_pq_rerank"   -> (qAnnPqRerank _),
    "q_ann_ivfpq"       -> (qAnnIvfPq _),
    "q_ann_ivfpq_rot"   -> (qAnnIvfPqRot _),
    "q_ann_rrf"         -> (qAnnRrf _),
    "q_mine_hard_negatives" -> (qMineHardNegatives _),
    "q_ann_mmr"             -> (qAnnMmr _),
    "q_ann_kmeanspp"        -> (qAnnKmeanspp _),
  )

  /** DuckDB replay of [[qAnnKmeanspp]]: both D²-sampling rounds in exact
    * integer arithmetic, with the xxhash64 coin reproduced through the
    * [[Xxh64DuckSql]] HUGEINT staged chain (one chain per round, each
    * seeded by catalyst's own hashInt of the round literal). */
  private def kmeansppOracle: String = {
    def d2(p: String, c: String): String =
      s"CAST(floor((list_dot_product($p, $p) - 2.0 * list_dot_product($p, $c)" +
        s" + list_dot_product($c, $c)) * 100000000.0 + 0.5) AS BIGINT)"
    // chain the staged hash columns through successive CTEs, carrying prior cols
    def chain(stages: Seq[(String, String)], base: String, prefix: String)
        : (String, String) = {
      var rel = base; var carried = "id, qd"
      val parts = stages.zipWithIndex.map { case ((nm, ex), i) =>
        val nrel = s"$prefix$i"
        val cte = s"$nrel AS (SELECT $carried, $ex AS $nm FROM $rel)"
        carried = s"$carried, $nm"; rel = nrel
        cte
      }
      (parts.mkString(",\n"), rel)
    }
    val (st1, pm1) = Xxh64DuckSql.pmodHashIntLongStages("g1", "id", 1, 1000000L)
    val (st2, pm2) = Xxh64DuckSql.pmodHashIntLongStages("g2", "id", 2, 1000000L)
    val (c1, last1) = chain(st1, "q1", "y1_")
    val (c2, last2) = chain(st2, "q2", "y2_")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS sv FROM embeddings),
       |c0 AS (SELECT id AS cand, sv AS cw FROM e WHERE id = (SELECT MIN(id) FROM e)),
       |q1 AS (SELECT e.id, MIN(${d2("e.sv", "c.cw")}) AS qd
       |       FROM e CROSS JOIN c0 c GROUP BY e.id),
       |t1 AS (SELECT CAST(SUM(qd) AS BIGINT) AS cost FROM q1),
       |$c1,
       |sel1 AS (SELECT id FROM $last1, t1
       |         WHERE cost > 0 AND $pm1 < (4 * qd * 1000000) // cost),
       |cs1 AS (SELECT cand, cw FROM c0
       |        UNION ALL SELECT e.id, e.sv FROM e JOIN sel1 USING (id)),
       |q2 AS (SELECT e.id, MIN(${d2("e.sv", "c.cw")}) AS qd
       |       FROM e CROSS JOIN cs1 c GROUP BY e.id),
       |t2 AS (SELECT CAST(SUM(qd) AS BIGINT) AS cost FROM q2),
       |$c2,
       |sel2 AS (SELECT id FROM $last2, t2
       |         WHERE cost > 0 AND $pm2 < (4 * qd * 1000000) // cost),
       |cs2 AS (SELECT cand, cw FROM cs1
       |        UNION ALL SELECT e.id, e.sv FROM e JOIN sel2 USING (id)),
       |asg AS (SELECT id, cand FROM (
       |  SELECT e.id, c.cand, ROW_NUMBER() OVER (PARTITION BY e.id
       |    ORDER BY ${d2("e.sv", "c.cw")} ASC, c.cand) AS rn
       |  FROM e CROSS JOIN cs2 c) WHERE rn = 1),
       |w AS (SELECT cand, CAST(COUNT(*) AS BIGINT) AS weight FROM asg GROUP BY cand),
       |wts AS (SELECT c.cand, COALESCE(w.weight, 0) AS weight
       |        FROM (SELECT DISTINCT cand FROM cs2) c LEFT JOIN w USING (cand))
       |SELECT * FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, cand) AS BIGINT) AS rk,
       |         cand, weight FROM wts) WHERE rk <= 8 ORDER BY rk""".stripMargin
  }

  /** DuckDB CTE chain replaying [[qAnnMmr]]'s greedy trajectory: steps
    * 2..4 generated as (penalty agg → argmax pick → selected union)
    * triples — the kmeans a1/c1/a2 chained-CTE precedent. */
  private def mmrOracle: String = {
    val steps = (2 to 4).map { i =>
      s"""pen$i AS (SELECT p.qid, p.cand, p.cosq,
         |    MAX(ROUND(list_dot_product(p.cv, s.cv) / (p.cn * s.cn), 4)) AS pen
         |  FROM pool p JOIN sel${i - 1} s USING (qid)
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x
         |                    WHERE x.qid = p.qid AND x.cand = p.cand)
         |  GROUP BY p.qid, p.cand, p.cosq),
         |pick$i AS (SELECT t.qid, t.cand, p.cv, p.cn, t.cosq, CAST($i AS BIGINT) AS step
         |  FROM (SELECT qid, cand, cosq, ROW_NUMBER() OVER (PARTITION BY qid
         |          ORDER BY ROUND(CAST(0.7 AS DOUBLE) * cosq
         |                         - CAST(0.3 AS DOUBLE) * pen, 4) DESC, cand) AS rk
         |        FROM pen$i) t
         |  JOIN pool p ON p.qid = t.qid AND p.cand = t.cand
         |  WHERE t.rk = 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($duckVecs),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
       |pool0 AS (SELECT q.qid, c.vec_id AS cand, c.v AS cv, c.nrm AS cn,
       |    ROUND(list_dot_product(c.v, q.qv) / (c.nrm * q.qn), 4) AS cosq
       |  FROM e c, q WHERE c.vec_id >= 5),
       |pool AS (SELECT qid, cand, cv, cn, cosq FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosq DESC, cand) AS prk
       |  FROM pool0) WHERE prk <= 12),
       |sel1 AS (SELECT qid, cand, cv, cn, cosq, CAST(1 AS BIGINT) AS step FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosq DESC, cand) AS rk
       |  FROM pool) WHERE rk = 1),
       |$steps
       |SELECT qid, step, cand, cosq FROM sel4 ORDER BY qid, step""".stripMargin
  }

  /** Pre-normed CTE + single dot per pair — mirrors the Spark plan exactly
    * (same sqrt-once-then-multiply FP order). */
  private val duckVecs =
    "SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
  private val duckCos = "list_dot_product(a.v, b.v) / (a.nrm * b.nrm)"

  // the composed IVF-PQ oracle, shared by the plain and ROTATED forms:
  // rot = true inserts the rotW replay (rrot/qrot CTEs) between the
  // residual computation and the subspace slice on BOTH sides — the
  // only difference, mirroring ivfPqTopk's rotate flag exactly
  private def duckIvfPqSql(rot: Boolean): String = {
      val rSrc = if (rot) "rrot" else "resid"
      val qSrc = if (rot) "qrot" else "qcell"
      val rotCtes = if (!rot) "" else
        s"""rrot AS (SELECT vec_id, cell, ${duckRotExpr("rv")} AS rv FROM resid),
           |""".stripMargin
      val qRotCtes = if (!rot) "" else
        s"""qrot AS (SELECT qid, cell, ${duckRotExpr("qrv")} AS qrv FROM qcell),
           |""".stripMargin
      s"""WITH en AS ($duckVecs),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM en WHERE vec_id < 8),
        |best AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cid AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        |      ROUND(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 4) DESC, c.cid) AS rk
        |  FROM en b CROSS JOIN cents c WHERE b.vec_id >= 8) WHERE rk = 1),
        |resid AS (SELECT b.vec_id, b.cell,
        |    list_transform(generate_series(1, len(e.v)), i -> e.v[i] - c.cv[i]) AS rv
        |  FROM best b JOIN en e USING (vec_id) JOIN cents c ON c.cid = b.cell),
        |${rotCtes}sub AS (SELECT vec_id, cell, j, list_slice(rv, j*8+1, j*8+8) AS sv
        |        FROM $rSrc, generate_series(0, 7) g(j)),
        |cb AS (SELECT vec_id AS ccid, j AS cj, sv AS cw FROM sub WHERE vec_id < 12),
        |enc AS (SELECT vec_id, cell, j, ccid AS code FROM (
        |  SELECT d.vec_id, d.cell, d.j, cb.ccid,
        |    ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j ORDER BY
        |      (list_dot_product(d.sv, d.sv)
        |         - CAST(2.0 AS DOUBLE) * list_dot_product(d.sv, cb.cw)
        |         + list_dot_product(cb.cw, cb.cw)) ASC, cb.ccid) AS rk
        |  FROM sub d JOIN cb ON d.j = cb.cj) WHERE rk = 1),
        |qcell AS (SELECT qid, cell, qrv FROM (
        |  SELECT b.vec_id AS qid, c.cid AS cell,
        |    list_transform(generate_series(1, len(b.v)), i -> b.v[i] - c.cv[i]) AS qrv,
        |    ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        |      ROUND(list_dot_product(b.v, c.cv) / (b.nrm * c.cn), 4) DESC, c.cid) AS rk
        |  FROM en b CROSS JOIN cents c WHERE b.vec_id < 5) WHERE rk <= 2),
        |${qRotCtes}qsub AS (SELECT qid, cell, j, list_slice(qrv, j*8+1, j*8+8) AS sv
        |         FROM $qSrc, generate_series(0, 7) g(j)),
        |lut AS (SELECT q.qid, q.cell AS lcell, cb.cj AS lj, cb.ccid AS lcode,
        |  CAST(floor((list_dot_product(q.sv, q.sv)
        |         - CAST(2.0 AS DOUBLE) * list_dot_product(q.sv, cb.cw)
        |         + list_dot_product(cb.cw, cb.cw))
        |        * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ld
        |  FROM qsub q JOIN cb ON q.j = cb.cj),
        |adc AS (SELECT l.qid, c.vec_id AS cand, CAST(SUM(l.ld) AS BIGINT) AS di4
        |        FROM enc c JOIN lut l
        |          ON c.cell = l.lcell AND c.j = l.lj AND c.code = l.lcode
        |        GROUP BY 1, 2),
        |pool AS (SELECT qid, cand FROM (
        |  SELECT qid, cand,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY di4 ASC, cand) AS rk
        |  FROM adc) WHERE rk <= 50),
        |rer AS (SELECT p.qid, p.cand,
        |    ROUND(list_dot_product(c.v, q.v) / (c.nrm * q.nrm), 4) AS cos
        |  FROM pool p JOIN en c ON c.vec_id = p.cand JOIN en q ON q.vec_id = p.qid)
        |SELECT qid, cand, rk, cos FROM (
        |  SELECT qid, cand, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS BIGINT) AS rk
        |  FROM rer) WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // greedy replay in chained CTEs; identical 4-dp score space and
    // (score DESC, cand) tie-break each step
    "q_ann_mmr" -> mmrOracle,
    // same pre-normed cosine + 4-dp round as the ANN family; both
    // exclusions are plain predicates, the rank the same (cos DESC,
    // cand) tie-break
    "q_mine_hard_negatives" ->
      s"""WITH e AS (SELECT n.vec_id, n.v, n.nrm, m.label
        |           FROM ($duckVecs) n
        |           JOIN embeddings m ON n.vec_id = m.vec_id),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS cand,
        |    ROUND($duckCos, 4) AS cos
        |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5
        |  WHERE b.label <> a.label),
        |ranked AS (SELECT qid, cand, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS BIGINT) AS rk
        |  FROM scored WHERE cos < 0.95)
        |SELECT qid, cand, rk, cos FROM ranked WHERE rk <= 8
        |ORDER BY qid, rk""".stripMargin,
    // same assignment CTE as q_dedup_semantic; the cap is a 1-row scalar
    // and the kept set is the md5-hash-order prefix per cluster
    "q_curate_cluster_balance" ->
      s"""WITH e AS MATERIALIZED ($duckVecs),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 8),
        |a AS MATERIALIZED (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC, c.cid) AS rk
        |  FROM e CROSS JOIN c) WHERE rk = 1),
        |cap AS (SELECT COUNT(*) // 16 AS cap FROM a),
        |r AS (SELECT vec_id, cid,
        |        ROW_NUMBER() OVER (PARTITION BY cid
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |      FROM a)
        |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN rn <= (SELECT cap FROM cap) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(CAST(SUM(CASE WHEN rn <= (SELECT cap FROM cap) THEN vec_id END) AS BIGINT), 0) AS id_sum_kept
        |FROM r GROUP BY cid ORDER BY cid""".stripMargin,
    // same assignment tie-break as q_ann_ivf_kmeans's CTE chain; the
    // within-cluster pair join mirrors the Spark equi-join on cid exactly
    "q_dedup_semantic" ->
      s"""WITH e AS MATERIALIZED ($duckVecs),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC, c.cid) AS rk
        |  FROM e CROSS JOIN c) WHERE rk = 1),
        |m AS (SELECT a.vec_id, a.cid, e.v, e.nrm FROM a JOIN e USING (vec_id)),
        |p AS (SELECT DISTINCT y.vec_id FROM m x JOIN m y
        |      ON x.cid = y.cid AND x.vec_id < y.vec_id
        |      WHERE ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) > 0.4)
        |SELECT cid, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN p.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_pruned,
        |  MIN(p.vec_id) AS first_pruned,
        |  CAST(COUNT(*) - SUM(CASE WHEN p.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        |FROM a LEFT JOIN p ON a.vec_id = p.vec_id
        |GROUP BY cid ORDER BY cid""".stripMargin,
    "q_array_explode" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_v,
        |  ROUND(CAST(embedding[-1] AS DOUBLE), 4) AS last_v
        |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin,
    // identical md5-derived ternary matrix baked as literals on both sides;
    // list_dot_product folds pairwise-sequential like the codegen'd vecDot
    "q_embed_project" -> {
      val ps = projW.zipWithIndex.map { case (row, j) =>
        s"ROUND(list_dot_product(v, ${row.mkString("[", ", ", "]")}::DOUBLE[]), 4) AS p$j"
      }.mkString(",\n        |       ")
      s"""SELECT vec_id,
        |       $ps
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |ORDER BY vec_id""".stripMargin
    },
    // coarse assign on the md5-ternary projection (identical constants),
    // exact 64-d refine inside the cell; rounding-then-rank both sides
    "q_ann_ivf_proj" -> {
      val pvList = projW.map(row =>
        s"list_dot_product(v, ${row.mkString("[", ", ", "]")}::DOUBLE[])")
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id, v, $pvList AS pv FROM e),
        |pn AS (SELECT vec_id, v, pv, sqrt(list_dot_product(pv, pv)) AS pnrm FROM p),
        |cb AS (SELECT vec_id AS cid8, pv AS cpv, pnrm AS cpnrm FROM pn WHERE vec_id < 8),
        |asg AS (SELECT vec_id, v, cell FROM (
        |  SELECT pn.vec_id, pn.v, cb.cid8 AS cell,
        |    ROW_NUMBER() OVER (PARTITION BY pn.vec_id
        |      ORDER BY ROUND(list_dot_product(pn.pv, cb.cpv) / (pn.pnrm * cb.cpnrm), 4) DESC,
        |               cb.cid8) AS rk8
        |  FROM pn CROSS JOIN cb) WHERE rk8 = 1),
        |q AS (SELECT * FROM asg WHERE vec_id >= 8 AND vec_id < 13),
        |c AS (SELECT * FROM asg WHERE vec_id >= 13),
        |nr AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    ROUND(list_dot_product(q.v, c.v) / (nq.nrm * nc.nrm), 4) AS cos
        |  FROM q JOIN c ON q.cell = c.cell
        |  JOIN nr nq ON nq.vec_id = q.vec_id
        |  JOIN nr nc ON nc.vec_id = c.vec_id),
        |ranked AS (SELECT qid, cid, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
    },
    "q_sim_cosine" ->
      s"""WITH e AS ($duckVecs)
        |SELECT a.vec_id AS v1, b.vec_id AS v2, ROUND($duckCos, 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE a.vec_id <= 50 AND b.vec_id <= 50
        |ORDER BY cos DESC, v1, v2 LIMIT 20""".stripMargin,
    // truth = the brute CTE, run = the lsh_probe CTE at k=10; metrics
    // in pure integer fixed point with the shared quantized DCG table
    "q_eval_retrieval" -> {
      val caseW = (1 to 10).map(i => s"WHEN $i THEN ${dcgW(i - 1)}").mkString(" ")
      s"""WITH e AS MATERIALIZED ($duckVecs),
        |truth AS MATERIALIZED (SELECT qid, cid FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY ROUND($duckCos, 4) DESC, b.vec_id) AS rk
        |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5) WHERE rk <= 10),
        |sig AS MATERIALIZED (SELECT e.*,
        |  list_aggregate([CASE WHEN list_reduce(
        |      [v[i+1] * sin(CAST(p AS DOUBLE) * 131.7 + CAST(i AS DOUBLE) * 7.3)
        |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
        |    THEN '1' ELSE '0' END for p in generate_series(0, 7)], 'string_agg', '') AS bucket
        |  FROM e),
        |run AS (SELECT qid, cid, rk FROM (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY ROUND($duckCos, 4) DESC, b.vec_id) AS BIGINT) AS rk
        |  FROM sig a JOIN sig b
        |  ON a.bucket = b.bucket AND a.vec_id < 5 AND b.vec_id >= 5) WHERE rk <= 10),
        |hits AS (SELECT run.qid, run.rk FROM run JOIN truth USING (qid, cid)),
        |m AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |        MIN(rk) AS first_hit,
        |        CAST(SUM(CASE rk $caseW END) AS BIGINT) AS dcg
        |      FROM hits GROUP BY qid)
        |SELECT q.qid, COALESCE(m.n_hits, 0) AS n_hits,
        |  COALESCE(m.n_hits, 0) * 100000 AS recall_ppm,
        |  CAST(COALESCE(1000000 // m.first_hit, 0) AS BIGINT) AS mrr_fp,
        |  CAST(COALESCE(m.dcg, 0) * 1000000 // ${dcgW.sum} AS BIGINT) AS ndcg_fp
        |FROM (SELECT DISTINCT qid FROM truth) q
        |LEFT JOIN m ON q.qid = m.qid ORDER BY q.qid""".stripMargin
    },
    "q_ann_brute_topk" ->
      s"""WITH e AS ($duckVecs),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ROUND($duckCos, 4) AS cos
        |           FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id >= 5),
        |ranked AS (SELECT qid, cid, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk FROM scored)
        |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,
    "q_ann_lsh_buckets" ->
      """WITH sig AS (SELECT vec_id,
        |  list_aggregate([CASE WHEN list_reduce(
        |      [CAST(embedding[i+1] AS DOUBLE) * sin(CAST(p AS DOUBLE) * 131.7 + CAST(i AS DOUBLE) * 7.3)
        |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
        |    THEN '1' ELSE '0' END for p in generate_series(0, 7)], 'string_agg', '') AS bucket
        |  FROM embeddings)
        |SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec
        |FROM sig GROUP BY bucket ORDER BY bucket""".stripMargin,
    // both legs' score expressions are the fixed-order FP forms whose
    // bit-equality every ANN oracle in this file already relies on; the
    // fusion itself is exact integer DIV arithmetic
    "q_ann_rrf" ->
      s"""WITH e AS ($duckVecs),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cand,
        |    list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cos,
        |    (list_dot_product(c.v, c.v)
        |       - CAST(2.0 AS DOUBLE) * list_dot_product(c.v, q.v)
        |       + list_dot_product(q.v, q.v)) AS l2
        |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
        |ranked AS (
        |  SELECT qid, cand,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rc,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2 ASC, cand) AS rl
        |  FROM scored),
        |fused AS (
        |  SELECT qid, cand,
        |    (CASE WHEN rc <= 50 THEN 1000000000 // (60 + rc) ELSE 0 END
        |     + CASE WHEN rl <= 50 THEN 1000000000 // (60 + rl) ELSE 0 END) AS rrf
        |  FROM ranked WHERE rc <= 50 OR rl <= 50)
        |SELECT qid, cand, rk, rrf FROM (
        |  SELECT qid, cand, rrf,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, cand) AS rk
        |  FROM fused) WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin,
    // identical fixed-order ||x-c||² expression, identical 1e-4
    // quantize-before-sum, identical (distance, vec_id) tie-breaks —
    // the whole PQ pipeline is engine-exact
    "q_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (SELECT vec_id, j, list_slice(v, j*8+1, j*8+8) AS sv
        |        FROM e, generate_series(0, 7) g(j)),
        |cb AS (SELECT vec_id AS cid, j AS cj, sv AS cv FROM sub WHERE vec_id < 4),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT d.vec_id, d.j, cb.cid,
        |    ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j ORDER BY
        |      (list_dot_product(d.sv, d.sv)
        |         - CAST(2.0 AS DOUBLE) * list_dot_product(d.sv, cb.cv)
        |         + list_dot_product(cb.cv, cb.cv)) ASC, cb.cid) AS rk
        |  FROM sub d JOIN cb ON d.j = cb.cj WHERE d.vec_id >= 5)
        |  WHERE rk = 1),
        |lut AS (SELECT q.vec_id AS qid, cb.cj AS lj, cb.cid AS lcid,
        |  CAST(floor((list_dot_product(q.sv, q.sv)
        |         - CAST(2.0 AS DOUBLE) * list_dot_product(q.sv, cb.cv)
        |         + list_dot_product(cb.cv, cb.cv))
        |        * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ld
        |  FROM sub q JOIN cb ON q.j = cb.cj WHERE q.vec_id < 5),
        |adc AS (SELECT l.qid, c.vec_id AS cand, CAST(SUM(l.ld) AS BIGINT) AS di4
        |        FROM enc c JOIN lut l ON c.j = l.lj AND c.cid = l.lcid
        |        GROUP BY 1, 2)
        |SELECT qid, cand, rk, di4 FROM (
        |  SELECT qid, cand, di4,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY di4 ASC, cand) AS rk
        |  FROM adc) WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin,
    // the q_ann_pq CTE chain widened to a top-100 pool, then the exact
    // cosine re-rank: same pre-normed cosine + 4-dp round + (cos DESC,
    // cand) tie-break as the rest of the ANN family
    "q_ann_pq_rerank" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sub AS (SELECT vec_id, j, list_slice(v, j*8+1, j*8+8) AS sv
        |        FROM e, generate_series(0, 7) g(j)),
        |cb AS (SELECT vec_id AS cid, j AS cj, sv AS cv FROM sub WHERE vec_id < 4),
        |enc AS (SELECT vec_id, j, cid FROM (
        |  SELECT d.vec_id, d.j, cb.cid,
        |    ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j ORDER BY
        |      (list_dot_product(d.sv, d.sv)
        |         - CAST(2.0 AS DOUBLE) * list_dot_product(d.sv, cb.cv)
        |         + list_dot_product(cb.cv, cb.cv)) ASC, cb.cid) AS rk
        |  FROM sub d JOIN cb ON d.j = cb.cj WHERE d.vec_id >= 5)
        |  WHERE rk = 1),
        |lut AS (SELECT q.vec_id AS qid, cb.cj AS lj, cb.cid AS lcid,
        |  CAST(floor((list_dot_product(q.sv, q.sv)
        |         - CAST(2.0 AS DOUBLE) * list_dot_product(q.sv, cb.cv)
        |         + list_dot_product(cb.cv, cb.cv))
        |        * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ld
        |  FROM sub q JOIN cb ON q.j = cb.cj WHERE q.vec_id < 5),
        |adc AS (SELECT l.qid, c.vec_id AS cand, CAST(SUM(l.ld) AS BIGINT) AS di4
        |        FROM enc c JOIN lut l ON c.j = l.lj AND c.cid = l.lcid
        |        GROUP BY 1, 2),
        |pool AS (SELECT qid, cand FROM (
        |  SELECT qid, cand,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY di4 ASC, cand) AS rk
        |  FROM adc) WHERE rk <= 100),
        |en AS ($duckVecs),
        |rer AS (SELECT p.qid, p.cand,
        |    ROUND(list_dot_product(c.v, q.v) / (c.nrm * q.nrm), 4) AS cos
        |  FROM pool p
        |  JOIN en c ON c.vec_id = p.cand
        |  JOIN en q ON q.vec_id = p.qid)
        |SELECT qid, cand, rk, cos FROM (
        |  SELECT qid, cand, cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS BIGINT) AS rk
        |  FROM rer) WHERE rk <= 10
        |ORDER BY qid, rk""".stripMargin,
    // composed IVF-PQ: same stage-by-stage mirror — rounded-cos cell
    // argmax as a rank window, residuals as elementwise list_transform
    // subtract (bit-equal IEEE against Spark's zip_with), residual PQ
    // encode/LUT as the q_ann_pq CTEs with the cell carried through,
    // integer ADC, exact-cosine re-rank of the 50-pool
    "q_ann_ivfpq" -> duckIvfPqSql(rot = false),
    "q_ann_ivfpq_rot" -> duckIvfPqSql(rot = true),
    "q_ann_ivf" ->
      s"""WITH e AS ($duckVecs),
        |scored AS (SELECT b.vec_id AS vid, a.vec_id AS cid, ROUND($duckCos, 4) AS cos
        |           FROM e a JOIN e b ON a.vec_id < 8 AND b.vec_id >= 8),
        |assigned AS (SELECT vid, cid FROM (
        |  SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, cid) AS rk
        |  FROM scored) WHERE rk = 1)
        |SELECT cid AS centroid, COUNT(*) AS n_assigned, MIN(vid) AS min_vec
        |FROM assigned GROUP BY cid ORDER BY centroid""".stripMargin,
    // NO MATERIALIZED here (r15 verdict #4): a materialized CTE scans
    // with estimated cardinality 0, so DuckDB BUILT the verify hash
    // joins on the 133M-pair candidate side (hauling 512-byte vector
    // lists into two ~70 GB build tables — 948 s at sf1, the gate
    // brush) and probed with the 20k-row vector table. Inlined, the
    // estimates flow from the parquet scan and the build sides flip to
    // `e`: 41 s at sf1, same rows. The banding itself was never the
    // problem — both sides share it.
    "q_dedup_embedding" ->
      s"""WITH e AS ($duckVecs),
        |bands AS (SELECT vec_id, band,
        |  list_aggregate([CASE WHEN list_reduce(
        |      [v[i+1] * sin((CAST(i AS DOUBLE) + 1.0) * (CAST(band*4+j AS DOUBLE) * 0.917 + 1.234))
        |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
        |    THEN '1' ELSE '0' END for j in generate_series(0, 3)], 'string_agg', '') AS sig
        |  FROM e, generate_series(0, 15) AS t(band)),
        |cand AS (SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
        |         FROM bands x JOIN bands y
        |         ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id)
        |SELECT v1, v2, cos FROM (
        |  SELECT v1, v2, ROUND($duckCos, 4) AS cos
        |  FROM cand JOIN e a ON v1 = a.vec_id JOIN e b ON v2 = b.vec_id)
        |WHERE cos > 0.4 ORDER BY v1, v2""".stripMargin,
    "q_ann_lsh_multiprobe" ->
      s"""WITH e AS MATERIALIZED ($duckVecs),
        |sig AS MATERIALIZED (SELECT e.*,
        |  list_aggregate([CASE WHEN list_reduce(
        |      [v[i+1] * sin(CAST(p AS DOUBLE) * 131.7 + CAST(i AS DOUBLE) * 7.3)
        |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
        |    THEN '1' ELSE '0' END for p in generate_series(0, 7)], 'string_agg', '') AS bucket
        |  FROM e),
        |probes AS (SELECT vec_id, v, nrm, unnest(list_concat([bucket],
        |  [bucket[1:i] || (CASE WHEN bucket[i+1:i+1] = '1' THEN '0' ELSE '1' END) || bucket[i+2:]
        |   for i in generate_series(0, 7)])) AS probe
        |  FROM sig WHERE vec_id < 5),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ROUND($duckCos, 4) AS cos
        |           FROM probes a JOIN sig b ON a.probe = b.bucket AND b.vec_id >= 5),
        |ranked AS (SELECT qid, cid, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk FROM scored)
        |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q_vec_quantize" ->
      s"""WITH e AS ($duckVecs),
        |qz AS (SELECT vec_id, v, g,
        |         list_transform(v, x -> CAST(floor(x * g + 0.5) AS INT)) AS q
        |       FROM (SELECT vec_id, v,
        |               127.0 / list_max(list_transform(v, x -> abs(x))) AS g FROM e))
        |SELECT vec_id,
        |  CAST(floor(g * 1000000.0 + 0.5) AS BIGINT) AS gi6,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  q[1] AS q_first,
        |  q[-1] AS q_last,
        |  CAST(floor(list_max(list_transform(generate_series(1, len(v)),
        |         i -> abs(v[i] - CAST(q[i] AS DOUBLE) / g))) * 10000000.0 + 0.5) AS BIGINT) AS erri7
        |FROM qz ORDER BY vec_id LIMIT 200""".stripMargin,
    // two k-means rounds re-derived in SQL: the same quantized-centroid
    // math (exact integer sums -> one deterministic division), the same
    // (cos DESC, cid) tie-break — three assignment joins via CTEs
    "q_ann_ivf_kmeans" ->
      s"""WITH e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
        |           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |q AS (SELECT vec_id, list_transform(v, x -> floor(x * 10000.0 + 0.5)) AS qv FROM e),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rk
        |  FROM e CROSS JOIN c0 c) WHERE rk = 1),
        |c1 AS (SELECT cid, list(s ORDER BY pos) AS cv FROM (
        |  SELECT cid, pos, CAST(SUM(qi) AS DOUBLE) / COUNT(*) AS s FROM (
        |    SELECT a1.cid, generate_subscripts(q.qv, 1) AS pos, unnest(q.qv) AS qi
        |    FROM a1 JOIN q ON a1.vec_id = q.vec_id)
        |  GROUP BY cid, pos) GROUP BY cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rk
        |  FROM e CROSS JOIN c1 c) WHERE rk = 1),
        |c2 AS (SELECT cid, list(s ORDER BY pos) AS cv FROM (
        |  SELECT cid, pos, CAST(SUM(qi) AS DOUBLE) / COUNT(*) AS s FROM (
        |    SELECT a2.cid, generate_subscripts(q.qv, 1) AS pos, unnest(q.qv) AS qi
        |    FROM a2 JOIN q ON a2.vec_id = q.vec_id)
        |  GROUP BY cid, pos) GROUP BY cid),
        |a3 AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rk
        |  FROM e CROSS JOIN c2 c) WHERE rk = 1)
        |SELECT cid, COUNT(*) AS n_assigned FROM a3 GROUP BY cid ORDER BY cid""".stripMargin,
    "q_vec_centroid" ->
      """SELECT label, CAST(pos AS INT) AS pos,
        |  CAST(floor(CAST(SUM(qi) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS ci4
        |FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
        |             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS qi
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "q_ann_lsh_probe" ->
      s"""WITH e AS ($duckVecs),
        |sig AS (SELECT e.*,
        |  list_aggregate([CASE WHEN list_reduce(
        |      [v[i+1] * sin(CAST(p AS DOUBLE) * 131.7 + CAST(i AS DOUBLE) * 7.3)
        |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
        |    THEN '1' ELSE '0' END for p in generate_series(0, 7)], 'string_agg', '') AS bucket
        |  FROM e),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS cid, ROUND($duckCos, 4) AS cos
        |           FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < 5 AND b.vec_id >= 5),
        |ranked AS (SELECT qid, cid, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk FROM scored)
        |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "q_ann_kmeanspp" -> kmeansppOracle,
    // bucket-mates (plane2 sig) ∪ 4 xxhash64 random-coin edges per
    // vector (the expander init — each coin replayed through the
    // Xxh64DuckSql HUGEINT chain), then FOUR unrolled NN-descent
    // rounds at build width 8, final top-3 re-rank (MATERIALIZED per
    // round: each round references the previous graph three times)
    "q_ann_knn_graph" ->
      s"""WITH ${knnGraphCtes(4)},
        |fin AS (SELECT c.vid, c.nb,
        |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
        |  FROM g4 c JOIN e a ON c.vid = a.vec_id JOIN e b ON c.nb = b.vec_id),
        |ranked AS (SELECT vid, nb, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nb) AS BIGINT) AS rk
        |  FROM fin)
        |SELECT vid, nb, cos, rk FROM ranked WHERE rk <= 3 ORDER BY vid, rk""".stripMargin,
    // the graph SEARCH: same g4 substrate, then hub entries (top
    // in-degree, ties by id) and FOUR unrolled beam rounds — each round
    // expands the frontier through g4, exact-scores, merges into the
    // per-query pool, and re-beams (cos DESC, cid) at width 8
    "q_ann_insert_links" -> insertLinksOracleSql,
    "q_ann_graph_search" -> graphSearchOracleSql,
    // IDENTICAL by construction: the indexed path persists exactly the
    // derivations the inline path computes (r14 verdict #1) — one hash
    // gates that the committed artifacts and the fresh derivations agree
    "q_ann_graph_search_idx" -> graphSearchOracleSql,
    "q_ann_retire_search" -> retireSearchOracleSql,
  )

  /** Oracle of q_ann_insert_links: the CORPUS-RESTRICTED (vec_id >= 5)
    * NN-descent build — the one oracle replaying the SHIFTED-rank
    * expander map (pos = vec_id − 5; coins drawn against positions,
    * targets mapped back to ids) — then the insert walk: full-table
    * bucket entry minus self ∪ top-degree hubs, two unrolled beam-8
    * rounds, top-4 links per new vector, both directions, distinct. */
  private lazy val insertLinksOracleSql: String = {
    // corpus coin chains: xxh64(j:int, vid:long) exactly as the build,
    // but the collision-avoid shift compares against POSITION vid-5 and
    // the drawn position maps back to id space with +5
    val coins = (0 until 4).map { j =>
      val (st, signed) = Xxh64DuckSql.hashIntLongStages(s"c$j", "vec_id", j)
      def chain(): (String, String) = {
        var rel = "cids"; var carried = "vec_id"
        val parts = st.zipWithIndex.map { case ((nm, ex), i) =>
          val nrel = s"ir${j}_$i"
          val cte = s"$nrel AS (SELECT $carried, $ex AS $nm FROM $rel)"
          carried = s"$carried, $nm"; rel = nrel
          cte
        }
        (parts.mkString(",\n"), rel)
      }
      val (ctes, last) = chain()
      s"""$ctes,
         |irnd$j AS (SELECT vec_id AS vid,
         |    CAST(CASE WHEN t >= vec_id - 5 THEN t + 1 ELSE t END + 5 AS BIGINT) AS nb FROM
         |  (SELECT vec_id,
         |     ((($signed) % (SELECT nm FROM cnn)) + (SELECT nm FROM cnn))
         |       % (SELECT nm FROM cnn) AS t
         |   FROM $last))""".stripMargin
    }.mkString(",\n")
    def descentRound(i: Int): String = {
      val p = s"ig${i - 1}"
      s"""icand$i AS (SELECT DISTINCT vid, nb FROM (
         |  SELECT vid, nb FROM $p
         |  UNION ALL SELECT nb AS vid, vid AS nb FROM $p
         |  UNION ALL SELECT x.vid, y.nb FROM $p x JOIN $p y ON x.nb = y.vid
         |            WHERE x.vid <> y.nb)),
         |iresc$i AS MATERIALIZED (SELECT c.vid, c.nb,
         |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
         |  FROM icand$i c JOIN ec a ON c.vid = a.vec_id JOIN ec b ON c.nb = b.vec_id),
         |ig$i AS MATERIALIZED (SELECT vid, nb FROM
         |  (SELECT vid, nb,
         |     ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nb) AS rk
         |   FROM iresc$i) WHERE rk <= 8)""".stripMargin
    }
    def beamRound(i: Int): String =
      s"""wnb$i AS (SELECT DISTINCT f.qid, g.nb AS cid
         |  FROM wf${i - 1} f JOIN igu g ON f.cid = g.vid
         |  WHERE g.nb <> f.qid),
         |wsc$i AS (SELECT n.qid, n.cid,
         |    ROUND(list_dot_product(q.qv, b.v) / (q.qn * b.nrm), 4) AS cos
         |  FROM wnb$i n JOIN e b ON n.cid = b.vec_id JOIN wq q ON q.qid = n.qid),
         |wp$i AS MATERIALIZED (SELECT DISTINCT qid, cid, cos FROM (
         |  SELECT qid, cid, cos FROM wp${i - 1}
         |  UNION ALL SELECT qid, cid, cos FROM wsc$i)),
         |wf$i AS (SELECT qid, cid FROM
         |  (SELECT qid, cid,
         |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |   FROM wp$i) WHERE rk <= 8)""".stripMargin
    s"""WITH e AS MATERIALIZED ($duckVecs),
      |ec AS MATERIALIZED (SELECT * FROM e WHERE vec_id >= 5),
      |cids AS MATERIALIZED (SELECT vec_id FROM ec),
      |cnn AS (SELECT COUNT(*) - 1 AS nm FROM ec),
      |sigf AS MATERIALIZED (SELECT e.vec_id,
      |  list_aggregate([CASE WHEN list_reduce(
      |      [v[i+1] * sin((CAST(i AS DOUBLE) + 1.0) * (CAST(p AS DOUBLE) * 0.917 + 1.234))
      |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
      |    THEN '1' ELSE '0' END for p in generate_series(0, 7)], 'string_agg', '') AS bucket
      |  FROM e),
      |$coins,
      |icand0 AS (SELECT DISTINCT vid, nb FROM (
      |  SELECT a.vec_id AS vid, b.vec_id AS nb FROM sigf a JOIN sigf b
      |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |    WHERE a.vec_id >= 5 AND b.vec_id >= 5
      |  UNION ALL SELECT vid, nb FROM irnd0
      |  UNION ALL SELECT vid, nb FROM irnd1
      |  UNION ALL SELECT vid, nb FROM irnd2
      |  UNION ALL SELECT vid, nb FROM irnd3)),
      |iresc0 AS MATERIALIZED (SELECT c.vid, c.nb,
      |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
      |  FROM icand0 c JOIN ec a ON c.vid = a.vec_id JOIN ec b ON c.nb = b.vec_id),
      |ig0 AS MATERIALIZED (SELECT vid, nb FROM
      |  (SELECT vid, nb,
      |     ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nb) AS rk
      |   FROM iresc0) WHERE rk <= 8),
      |${(1 to 2).map(descentRound).mkString(",\n")},
      |igu AS MATERIALIZED (SELECT DISTINCT vid, nb FROM (
      |  SELECT vid, nb FROM ig2 UNION ALL SELECT nb AS vid, vid AS nb FROM ig2)),
      |iind AS (SELECT nb AS cid, COUNT(*) AS deg FROM igu GROUP BY nb),
      |ient AS (SELECT cid FROM iind ORDER BY deg DESC, cid LIMIT 4),
      |wq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |went0 AS (SELECT qid, cid FROM wq CROSS JOIN ient WHERE cid <> qid
      |  UNION
      |  SELECT q.vec_id AS qid, c.vec_id AS cid FROM sigf q JOIN sigf c
      |    ON q.bucket = c.bucket WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |wp0 AS MATERIALIZED (SELECT e0.qid, e0.cid,
      |    ROUND(list_dot_product(wq.qv, b.v) / (wq.qn * b.nrm), 4) AS cos
      |  FROM went0 e0 JOIN e b ON e0.cid = b.vec_id JOIN wq ON wq.qid = e0.qid),
      |wf0 AS (SELECT qid, cid FROM
      |  (SELECT qid, cid,
      |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |   FROM wp0) WHERE rk <= 8),
      |${(1 to 2).map(beamRound).mkString(",\n")},
      |fin AS (SELECT qid, cid FROM
      |  (SELECT qid, cid,
      |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |   FROM wp2) WHERE rk <= 4)
      |SELECT DISTINCT CAST(vid AS BIGINT) AS vid, CAST(nb AS BIGINT) AS nb FROM (
      |  SELECT qid AS vid, cid AS nb FROM fin
      |  UNION ALL SELECT cid AS vid, qid AS nb FROM fin)
      |ORDER BY vid, nb""".stripMargin
  }

  /** Oracle of q_ann_retire_search: the full-table graph build (shared
    * CTE substrate), the retire set (corpus ids ≡ 0 mod 7), edge/bucket
    * pruning, the orphan HEAL (bucket+hub entry over the kept rows, two
    * unrolled beam-8 rounds over the PRUNED graph — no corpus floor, the
    * insertBySearch walk — top-4 links, both directions), hub recompute,
    * then the production search: hub + bucket entry among kept corpus
    * rows, four unrolled beam-8 rounds over the healed graph, exact
    * top-5. */
  private lazy val retireSearchOracleSql: String = {
    def healRound(i: Int): String =
      s"""onb$i AS (SELECT DISTINCT f.qid, g.nb AS cid
         |  FROM of${i - 1} f JOIN pgu g ON f.cid = g.vid
         |  WHERE g.nb <> f.qid),
         |osc$i AS (SELECT n.qid, n.cid,
         |    ROUND(list_dot_product(q.qv, b.v) / (q.qn * b.nrm), 4) AS cos
         |  FROM onb$i n JOIN e b ON n.cid = b.vec_id JOIN oq q ON q.qid = n.qid),
         |op$i AS MATERIALIZED (SELECT DISTINCT qid, cid, cos FROM (
         |  SELECT qid, cid, cos FROM op${i - 1}
         |  UNION ALL SELECT qid, cid, cos FROM osc$i)),
         |of$i AS (SELECT qid, cid FROM
         |  (SELECT qid, cid,
         |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |   FROM op$i) WHERE rk <= 8)""".stripMargin
    def searchRound(i: Int): String =
      s"""tnb$i AS (SELECT DISTINCT f.qid, g.nb AS cid
         |  FROM tf${i - 1} f JOIN rgu g ON f.cid = g.vid
         |  WHERE g.nb >= 5 AND g.nb <> f.qid),
         |tsc$i AS (SELECT n.qid, n.cid,
         |    ROUND(list_dot_product(q.qv, b.v) / (q.qn * b.nrm), 4) AS cos
         |  FROM tnb$i n JOIN e b ON n.cid = b.vec_id JOIN qq q ON q.qid = n.qid),
         |tp$i AS MATERIALIZED (SELECT DISTINCT qid, cid, cos FROM (
         |  SELECT qid, cid, cos FROM tp${i - 1}
         |  UNION ALL SELECT qid, cid, cos FROM tsc$i)),
         |tf$i AS (SELECT qid, cid FROM
         |  (SELECT qid, cid,
         |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
         |   FROM tp$i) WHERE rk <= 8)""".stripMargin
    s"""WITH ${knnGraphCtes(4)},
      |gu AS MATERIALIZED (SELECT DISTINCT vid, nb FROM (
      |  SELECT vid, nb FROM g4 UNION ALL SELECT nb AS vid, vid AS nb FROM g4)),
      |ret AS (SELECT vec_id FROM e WHERE vec_id >= 5 AND vec_id % 7 = 0),
      |pgu AS MATERIALIZED (SELECT vid, nb FROM gu
      |  WHERE vid NOT IN (SELECT vec_id FROM ret)
      |    AND nb NOT IN (SELECT vec_id FROM ret)),
      |orph AS (SELECT DISTINCT nb AS vec_id FROM gu
      |  WHERE vid IN (SELECT vec_id FROM ret)
      |    AND nb NOT IN (SELECT vec_id FROM ret)),
      |ksig AS MATERIALIZED (SELECT vec_id, bucket FROM sig
      |  WHERE vec_id NOT IN (SELECT vec_id FROM ret)),
      |hind AS (SELECT nb AS cid, COUNT(*) AS deg FROM pgu WHERE nb >= 5 GROUP BY nb),
      |hent AS (SELECT cid FROM hind ORDER BY deg DESC, cid LIMIT 4),
      |oq AS (SELECT e.vec_id AS qid, e.v AS qv, e.nrm AS qn
      |  FROM e JOIN orph ON e.vec_id = orph.vec_id),
      |oent0 AS (SELECT qid, cid FROM oq CROSS JOIN hent WHERE cid <> qid
      |  UNION
      |  SELECT q.vec_id AS qid, c.vec_id AS cid FROM ksig q JOIN ksig c
      |    ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      |  WHERE q.vec_id IN (SELECT vec_id FROM orph)),
      |op0 AS MATERIALIZED (SELECT e0.qid, e0.cid,
      |    ROUND(list_dot_product(q.qv, b.v) / (q.qn * b.nrm), 4) AS cos
      |  FROM oent0 e0 JOIN e b ON e0.cid = b.vec_id JOIN oq q ON q.qid = e0.qid),
      |of0 AS (SELECT qid, cid FROM
      |  (SELECT qid, cid,
      |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |   FROM op0) WHERE rk <= 8),
      |${(1 to 2).map(healRound).mkString(",\n")},
      |ofin AS (SELECT qid, cid FROM
      |  (SELECT qid, cid,
      |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |   FROM op2) WHERE rk <= 4),
      |rgu AS MATERIALIZED (SELECT DISTINCT vid, nb FROM (
      |  SELECT vid, nb FROM pgu
      |  UNION ALL SELECT qid AS vid, cid AS nb FROM ofin
      |  UNION ALL SELECT cid AS vid, qid AS nb FROM ofin)),
      |rind AS (SELECT nb AS cid, COUNT(*) AS deg FROM rgu WHERE nb >= 5 GROUP BY nb),
      |rent AS (SELECT cid FROM rind ORDER BY deg DESC, cid LIMIT 4),
      |qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
      |tent0 AS (SELECT qid, cid FROM qq CROSS JOIN rent
      |  UNION
      |  SELECT q.vec_id AS qid, c.vec_id AS cid FROM sig q JOIN ksig c
      |    ON q.bucket = c.bucket WHERE q.vec_id < 5 AND c.vec_id >= 5),
      |tp0 AS MATERIALIZED (SELECT e0.qid, e0.cid,
      |    ROUND(list_dot_product(qq.qv, b.v) / (qq.qn * b.nrm), 4) AS cos
      |  FROM tent0 e0 JOIN e b ON e0.cid = b.vec_id JOIN qq ON qq.qid = e0.qid),
      |tf0 AS (SELECT qid, cid FROM
      |  (SELECT qid, cid,
      |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      |   FROM tp0) WHERE rk <= 8),
      |${(1 to 4).map(searchRound).mkString(",\n")},
      |ranked AS (SELECT qid, cid, cos,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
      |  FROM tp4)
      |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  }

  /** Shared oracle of q_ann_graph_search / q_ann_graph_search_idx: the
    * graph CTE substrate, hub + bucket entry, four unrolled beam
    * rounds. */
  private lazy val graphSearchOracleSql: String = {
      def beamRound(i: Int): String =
        s"""nbq$i AS (SELECT DISTINCT f.qid, g.nb AS cid
           |  FROM f${i - 1} f JOIN gu g ON f.cid = g.vid
           |  WHERE g.nb >= 5 AND g.nb <> f.qid),
           |sc$i AS (SELECT n.qid, n.cid,
           |    ROUND(list_dot_product(q.qv, b.v) / (q.qn * b.nrm), 4) AS cos
           |  FROM nbq$i n JOIN e b ON n.cid = b.vec_id JOIN qq q ON q.qid = n.qid),
           |p$i AS MATERIALIZED (SELECT DISTINCT qid, cid, cos FROM (
           |  SELECT qid, cid, cos FROM p${i - 1}
           |  UNION ALL SELECT qid, cid, cos FROM sc$i)),
           |f$i AS (SELECT qid, cid FROM
           |  (SELECT qid, cid,
           |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
           |   FROM p$i) WHERE rk <= 8)""".stripMargin
      s"""WITH ${knnGraphCtes(4)},
        |gu AS MATERIALIZED (SELECT DISTINCT vid, nb FROM (
        |  SELECT vid, nb FROM g4 UNION ALL SELECT nb AS vid, vid AS nb FROM g4)),
        |ind AS (SELECT nb AS cid, COUNT(*) AS deg FROM gu WHERE nb >= 5 GROUP BY nb),
        |ent AS (SELECT cid FROM ind ORDER BY deg DESC, cid LIMIT 4),
        |qq AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
        |ent0 AS (SELECT qid, cid FROM qq CROSS JOIN ent
        |  UNION
        |  SELECT q.vec_id AS qid, c.vec_id AS cid FROM sig q JOIN sig c
        |    ON q.bucket = c.bucket WHERE q.vec_id < 5 AND c.vec_id >= 5),
        |p0 AS MATERIALIZED (SELECT e0.qid, e0.cid,
        |    ROUND(list_dot_product(qq.qv, b.v) / (qq.qn * b.nrm), 4) AS cos
        |  FROM ent0 e0 JOIN e b ON e0.cid = b.vec_id JOIN qq ON qq.qid = e0.qid),
        |f0 AS (SELECT qid, cid FROM
        |  (SELECT qid, cid,
        |     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |   FROM p0) WHERE rk <= 8),
        |${(1 to 4).map(beamRound).mkString(",\n")},
        |ranked AS (SELECT qid, cid, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        |  FROM p4)
        |SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
  }

  /** Shared DuckDB WITH-body replaying [[knnGraphEdges]]: e, ids, nn,
    * sig, the 4 coin chains, seed cand/resc/g0, then `rounds` unrolled
    * NN-descent rounds — the final relation is `g<rounds>` (vid, nb).
    * Used by both the q_ann_knn_graph and q_ann_graph_search oracles. */
  private def knnGraphCtes(rounds: Int): String = {
    def chainV(stages: Seq[(String, String)], base: String, prefix: String)
        : (String, String) = {
      var rel = base; var carried = "vec_id"
      val parts = stages.zipWithIndex.map { case ((nm, ex), i) =>
        val nrel = s"$prefix$i"
        val cte = s"$nrel AS (SELECT $carried, $ex AS $nm FROM $rel)"
        carried = s"$carried, $nm"; rel = nrel
        cte
      }
      (parts.mkString(",\n"), rel)
    }
    val coins = (0 until 4).map { j =>
      val (st, signed) = Xxh64DuckSql.hashIntLongStages(s"c$j", "vec_id", j)
      val (ctes, last) = chainV(st, "ids", s"r${j}_")
      s"""$ctes,
         |rnd$j AS (SELECT vec_id AS vid,
         |    CAST(CASE WHEN t >= vec_id THEN t + 1 ELSE t END AS BIGINT) AS nb FROM
         |  (SELECT vec_id,
         |     ((($signed) % (SELECT nm FROM nn)) + (SELECT nm FROM nn))
         |       % (SELECT nm FROM nn) AS t
         |   FROM $last))""".stripMargin
    }.mkString(",\n")
    def round(i: Int): String = {
      val p = s"g${i - 1}"
      s"""cand$i AS (SELECT DISTINCT vid, nb FROM (
         |  SELECT vid, nb FROM $p
         |  UNION ALL SELECT nb AS vid, vid AS nb FROM $p
         |  UNION ALL SELECT x.vid, y.nb FROM $p x JOIN $p y ON x.nb = y.vid
         |            WHERE x.vid <> y.nb)),
         |resc$i AS MATERIALIZED (SELECT c.vid, c.nb,
         |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
         |  FROM cand$i c JOIN e a ON c.vid = a.vec_id JOIN e b ON c.nb = b.vec_id),
         |g$i AS MATERIALIZED (SELECT vid, nb FROM
         |  (SELECT vid, nb,
         |     ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nb) AS rk
         |   FROM resc$i) WHERE rk <= 8)""".stripMargin
    }
    s"""e AS MATERIALIZED ($duckVecs),
      |ids AS MATERIALIZED (SELECT vec_id FROM e),
      |nn AS (SELECT COUNT(*) - 1 AS nm FROM e),
      |sig AS MATERIALIZED (SELECT e.*,
      |  list_aggregate([CASE WHEN list_reduce(
      |      [v[i+1] * sin((CAST(i AS DOUBLE) + 1.0) * (CAST(p AS DOUBLE) * 0.917 + 1.234))
      |       for i in generate_series(0, 63)], (a, b) -> a + b) >= 0
      |    THEN '1' ELSE '0' END for p in generate_series(0, 7)], 'string_agg', '') AS bucket
      |  FROM e),
      |$coins,
      |cand0 AS (SELECT DISTINCT vid, nb FROM (
      |  SELECT a.vec_id AS vid, b.vec_id AS nb FROM sig a JOIN sig b
      |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |  UNION ALL SELECT vid, nb FROM rnd0
      |  UNION ALL SELECT vid, nb FROM rnd1
      |  UNION ALL SELECT vid, nb FROM rnd2
      |  UNION ALL SELECT vid, nb FROM rnd3)),
      |resc0 AS MATERIALIZED (SELECT c.vid, c.nb,
      |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
      |  FROM cand0 c JOIN e a ON c.vid = a.vec_id JOIN e b ON c.nb = b.vec_id),
      |g0 AS MATERIALIZED (SELECT vid, nb FROM
      |  (SELECT vid, nb,
      |     ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, nb) AS rk
      |   FROM resc0) WHERE rk <= 8),
      |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }
}

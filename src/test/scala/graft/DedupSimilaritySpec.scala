package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorMath.vecDot
import graft.operators.{Dedup, Similarity, TextOps}

/** Unit tests for the LLM-pipeline operators: hashing determinism, known
  * cosine geometry, and the custom DotProduct expression in both the
  * interpreted and codegen paths. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct: known geometry (self=|v|², orthogonal=0)") {
    val df = Seq(
      (Array(1.0, 0.0, 2.0), Array(1.0, 0.0, 2.0)),   // self → 5
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),   // orthogonal → 0
      (Array(1.5, -2.0, 0.5), Array(2.0, 1.0, -4.0))  // 3 - 2 - 2 = -1
    ).toDF("a", "b")
    val got = df.select(vecDot(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    assert(got.toSeq === Seq(5.0, 0.0, -1.0))
  }

  test("DotProduct: interpreted eval matches codegen result") {
    val v = Array.tabulate(64)(i => math.sin(i * 0.1))
    val litV = org.apache.spark.sql.catalyst.expressions.Literal.create(
      v, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val expr = graft.functions.DotProduct(litV, litV)
    val interpreted = expr.eval(null).asInstanceOf[Double]
    val viaPlan = Seq(1).toDF("x")
      .select(vecDot(lit(v), lit(v)).as("d")).collect().head.getDouble(0)
    assert(interpreted === viaPlan)
    assert(math.abs(interpreted - v.map(x => x * x).sum) < 1e-12)
  }

  test("DotProduct: null array gives null") {
    val df = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]])).toDF("a", "b")
    val got = df.select(vecDot(col("a"), col("b"))).collect().head
    assert(got.isNullAt(0))
  }

  test("cosine of identical vectors is 1") {
    val e = Seq((1L, Array(0.5f, -1.0f, 2.0f)), (2L, Array(0.5f, -1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val v = transform(col("embedding"), x => x.cast("double"))
    val withN = e.select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    val cos = withN.as("a").join(withN.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select((vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("minhash LSH: identical docs are always candidates, disjoint docs never") {
    // exercised through the real query by checking planted near-dups appear
    val pairs = Dedup.qDedupMinhash(spark, sf).collect()
    assert(pairs.nonEmpty, "corpus has planted near-duplicates; LSH must find some")
    // LSH candidates must actually be similar: spot-check via exact Jaccard
    val jacc = Dedup.qDedupNgramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candLow = pairs.map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 300 && b < 300 }
    assert(candLow.count(jacc.contains) >= candLow.length / 2,
           "most LSH candidates under doc_id<300 should clear Jaccard>0.5")
  }

  test("HammingDistance: known values, both eval paths, SQL registration") {
    val df = Seq(("0000", "0000"), ("0000", "1111"), ("0101", "0110"), ("00", "0011"))
      .toDF("a", "b")
    val got = df.select(graft.functions.HammingDistance.hamming(col("a"), col("b")))
      .collect().map(_.getInt(0))
    assert(got.toSeq === Seq(0, 4, 2, 2))
    GraftExtensions.install(spark)
    assert(spark.sql("SELECT hamming('abc', 'abd')").collect().head.getInt(0) === 1)
  }

  test("simhash-pair dedup: candidates verified by Hamming <= 3, symmetric-free") {
    val pairs = Dedup.qDedupSimhashPairs(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("dist") <= 3)
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
    }
  }

  test("exact dedup finds precisely the 100 planted re-crawl duplicates") {
    val dups = TextOps.qDedupExact(spark, sf).collect()
    assert(dups.length === 100)
    assert(dups.forall(_.getAs[Long]("n") === 2))
  }

  test("simhash signature is 32 bits and deterministic across runs") {
    val a = Dedup.qDedupSimhash(spark, sf).collect()
    val b = Dedup.qDedupSimhash(spark, sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    assert(a.forall(_.getAs[String]("sh").matches("[01]{32}")))
  }

  test("decontamination: benchmark docs flag themselves fully, corpus side broadcasts") {
    // every benchmark doc replayed through the corpus side must hit on all
    // of its own shingles — a self-consistency bound on the join
    import org.apache.spark.sql.functions._
    val df = TextOps.qTextDecontam(spark, sf)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n$plan")
    // planted sanity: a doc sharing zero vocabulary cannot appear
    val hits = df.collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(hits.forall(_ >= 10), "benchmark ids are excluded from the corpus side")
  }

  test("PII redaction removes every planted email and phone") {
    import org.apache.spark.sql.functions._
    val out = TextOps.qTextPiiRedact(spark, sf)
    assert(out.filter(col("n_emails") =!= 1L).count() === 0,
      "exactly one planted email per doc must be redacted")
  }

  test("repetition filters: fractions are valid and detect a planted template doc") {
    import org.apache.spark.sql.functions._
    val out = TextOps.qTextRepetition(spark, sf).collect()
    out.foreach { r =>
      val d = r.getAs[Double]("dup_word_frac"); val b = r.getAs[Double]("top_bigram_frac")
      assert(d >= 0.0 && d < 1.0, s"dup_word_frac $d")
      assert(b > 0.0 && b <= 1.0, s"top_bigram_frac $b")
    }
    // synthetic docs draw ~30-40 words from a ~40-word vocabulary, so
    // duplicated words are guaranteed somewhere in 200 docs
    assert(out.exists(_.getAs[Double]("dup_word_frac") > 0.3))
  }

  test("xxhash64 minhash: finds planted near-dups, agrees with md5 variant, verified by Jaccard") {
    val xx = Dedup.qDedupMinhashXx(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(xx.nonEmpty, "corpus has planted near-duplicates; LSH must find some")
    // Same banding math (4 bands x 2 rows), independent hash family: the
    // candidate sets target the same Jaccard range and must mostly agree.
    val md5v = Dedup.qDedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val overlap = (xx intersect md5v).size.toDouble / md5v.size
    assert(overlap >= 0.7, s"xx/md5 candidate overlap too low: $overlap")
    // Candidates must actually be similar: spot-check via exact Jaccard.
    val jacc = Dedup.qDedupNgramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val candLow = xx.toSeq.filter { case (a, b) => a < 300 && b < 300 }
    assert(candLow.count(jacc.contains) >= candLow.length / 2,
           "most xx candidates under doc_id<300 should clear Jaccard>0.5")
  }

  test("xxhash64 minhash is deterministic across runs") {
    val a = Dedup.qDedupMinhashXx(spark, sf).collect().map(_.toString).toSeq
    val b = Dedup.qDedupMinhashXx(spark, sf).collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("embedding dedup plans NO unbounded pair join (LSH equi-join only)") {
    // The scale contract: candidate generation must be an equi-join on the
    // band signature, never a cartesian / nested-loop pair enumeration.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val qe = Similarity.qDedupEmbedding(spark, sf).queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bad = plan.collectWithSubqueries {
      case j: CartesianProductExec        => j.nodeName
      case j: BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"pair join must be hash/sort-merge equi-join, found: $bad\n$plan")
  }

  test("embedding dedup via LSH recovers >=90% of brute-force pairs") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
              (vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") > 0.4)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.qDedupEmbedding(spark, sf)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "LSH must never invent pairs (exact verify)")
    assert(lsh.size >= (brute.size * 9) / 10,
      s"recall too low: ${lsh.size}/${brute.size}")
  }

  test("multiprobe LSH recall >= single-probe recall vs brute-force truth") {
    def tops(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.map(_.getAs[Long]("cid")).toSet).toMap
    val truth = tops(Similarity.qAnnBruteTopk(spark, sf).collect()
      .filter(_.getAs[Long]("rk") <= 5))
    val single = tops(Similarity.qAnnLshProbe(spark, sf).collect())
    val multi = tops(Similarity.qAnnLshMultiprobe(spark, sf).collect())
    def recall(found: Map[Long, Set[Long]]) =
      truth.map { case (q, t) => (found.getOrElse(q, Set.empty) intersect t).size }.sum.toDouble /
        truth.values.map(_.size).sum
    assert(recall(multi) >= recall(single),
      s"multiprobe ${recall(multi)} < single ${recall(single)}")
  }

  test("int8 quantization error is bounded by half a quantization step") {
    val rows = Similarity.qVecQuantize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val g = r.getAs[Long]("gi6") / 1e6 // scale = 127/max|v|
      val err = r.getAs[Long]("erri7") / 1e7
      // round-half-up error <= 0.5/g (+ integer-encoding slack)
      assert(err <= 0.5 / g + 2e-7, s"vec ${r.getAs[Long]("vec_id")}: err $err > ${0.5 / g}")
      assert(r.getAs[Int]("q_first").abs <= 127 && r.getAs[Int]("q_last").abs <= 127)
    }
  }

  test("k-means IVF refinement: mean assignment cosine is non-decreasing") {
    val (assigned, meanCos) = Similarity.kmeansIvf(spark, sf, iters = 3)
    assert(meanCos.length === 4) // initial + 3 refined
    meanCos.zip(meanCos.tail).foreach { case (a, b) =>
      assert(b >= a - 1e-9, s"k-means objective regressed: $meanCos")
    }
    assert(meanCos.last > meanCos.head, "refinement should actually improve fit")
    // every vector assigned exactly once
    val n = Tables.embeddings(spark, sf).count()
    assert(assigned.count() === n)
  }

  test("source cap keeps at most K per source, reproducibly, and conserves docs") {
    val out = operators.TextOps.qCurateSourceCap(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= 15L)
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") === r.getAs[Long]("n_docs"))
      // any over-cap source is capped exactly AT the cap
      if (r.getAs[Long]("n_docs") > 15L) assert(r.getAs[Long]("n_kept") === 15L)
    }
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(total === Tables.documents(spark, sf).count())
    // deterministic: a second run picks the same seed docs
    val again = operators.TextOps.qCurateSourceCap(spark, sf).collect()
    assert(out.map(_.getAs[Long]("cap_seed_doc")).toSeq ===
           again.map(_.getAs[Long]("cap_seed_doc")).toSeq)
  }

  test("temperature mixing: shares sum to ~1 and compress toward uniform") {
    val out = operators.TextOps.qMixTemperature(spark, sf).collect()
    val pi = out.map(_.getAs[Long]("pi5"))
    val qi = out.map(_.getAs[Long]("qi5"))
    assert(math.abs(pi.sum - 100000L) <= out.length) // rounding slack
    assert(math.abs(qi.sum - 100000L) <= out.length)
    // alpha < 1 compresses: the resampled distribution is strictly less
    // spread than the raw token shares (unless already uniform)
    assert(qi.max - qi.min <= pi.max - pi.min)
    // and order is preserved: bigger sources never resample below smaller
    val byP = out.sortBy(_.getAs[Long]("pi5"))
    val qInPOrder = byP.map(_.getAs[Long]("qi5"))
    assert(qInPOrder.zip(qInPOrder.tail).forall { case (a, b) => b >= a })
  }

  test("segment dedup: kept+dropped partition each doc; kept text has no cross-doc segment") {
    val out = Dedup.qDedupSegments(spark, sf).collect()
    assert(out.length === Tables.documents(spark, sf).count())
    out.foreach { r =>
      val kept = r.getAs[String]("text_kept")
      val nKept = if (kept.isEmpty) 0L else (kept.split(" ").length + 3) / 4
      assert(nKept + r.getAs[Long]("n_dropped") === r.getAs[Long]("n_segs"))
    }
    // something was actually identified as boilerplate in this corpus
    assert(out.map(_.getAs[Long]("n_dropped")).sum > 0)
    // precondition for the reconstructions here: no empty tokens
    // (double/leading/trailing spaces) in the corpus — the operator
    // handles them, but String.split drops them on this round-trip
    assert(Tables.documents(spark, sf)
      .filter(col("text").rlike("  |^ | $")).count() === 0)
    // surviving segments are globally unique: re-running dedup on the
    // kept text drops nothing
    val segsOf = (t: String) => t.split(" ").grouped(4).map(_.mkString(" ")).toSeq
    val survivors = out.flatMap(r => segsOf(r.getAs[String]("text_kept")).filter(_.nonEmpty)
      .map(_ -> r.getAs[Long]("doc_id")))
    val byDocCount = survivors.groupBy(_._1).map { case (_, v) => v.map(_._2).distinct.size }
    assert(byDocCount.forall(_ === 1))
  }

  test("sequence packing: bins fill contiguously and conserve every token") {
    val out = TextOps.qPackSequences(spark, sf).collect()
    val totalTokens = Tables.documents(spark, sf)
      .select(sum(size(split(col("text"), " ")).cast("long")))
      .collect().head.getLong(0)
    assert(out.map(_.getAs[Long]("sum_tokens")).sum === totalTokens)
    // within each source, bins start at 0, ascend, and doc-id ranges
    // never overlap (contiguous fill); ids may skip only when a single
    // document exceeds the whole budget
    out.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("bin"))
      assert(sorted.head.getAs[Long]("bin") === 0L)
      val ranges = sorted.map(r => (r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
      ranges.zip(ranges.tail).foreach { case ((_, lastA), (firstB, _)) =>
        assert(lastA < firstB)
      }
      // exclusive-cumsum binning: a bin with id b only opens once the
      // running token total has reached b * 512, so the cumulative
      // tokens through each bin must be at least the NEXT bin's boundary
      val prefix = sorted.map(_.getAs[Long]("sum_tokens")).scanLeft(0L)(_ + _).drop(1)
      prefix.init.zip(sorted.tail).foreach { case (p, next) =>
        assert(p >= 512L * next.getAs[Long]("bin"))
      }
    }
  }

  test("unigram surprisal: scores bounded by the rarest/commonest word's self-information") {
    val out = TextOps.qTextUnigramLp(spark, sf).collect()
    assert(out.length === Tables.documents(spark, sf).count())
    val counts = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(_.getAs[Long]("count"))
    val n = counts.sum.toDouble
    val lo = -math.log(counts.max / n) - 1e-4
    val hi = -math.log(counts.min / n) + 1e-4
    out.foreach { r =>
      val sp = r.getAs[Double]("surprisal")
      assert(sp >= lo && sp <= hi, s"surprisal $sp outside [$lo, $hi]")
      assert(r.getAs[Long]("n_tokens") > 0)
    }
  }

  test("unigram surprisal: forced-low vocab broadcast threshold falls back to shuffle join, identical result") {
    val gated = TextOps.surprisalPerDoc(spark, sf, maxBroadcastVocab = 0L)
      .select("doc_id", "n_tokens", "surprisal").orderBy("doc_id")
    // the gate must actually change the static join strategy (pre-AQE —
    // at test scale AQE may legitimately re-broadcast the small side at
    // runtime; the point is the plan no longer FORCES a driver collect)
    val static = gated.queryExecution.sparkPlan.toString
    assert(!static.contains("BroadcastHashJoin"),
           s"vocab join still broadcast under zero threshold:\n$static")
    val base = TextOps.qTextUnigramLp(spark, sf).collect()
    assert(gated.collect().toSeq === base.toSeq)
  }

  test("substring-window dedup matches a brute-force window count exactly") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSeq)
    // brute force: every 8-token window, global multiset count
    val wins = docs.flatMap { case (id, tk) =>
      tk.sliding(8).filter(_.length == 8).map(w => id -> w.mkString(" "))
    }
    val freq = wins.groupBy(_._2).view.mapValues(_.size).toMap
    val expected = wins.groupBy(_._1).map { case (id, ws) =>
      val nDup = ws.count(w => freq(w._2) > 1)
      (id, ws.size.toLong, nDup.toLong, nDup.toLong * 1000000L / ws.size)
    }.filter(_._3 > 0).toSeq.sortBy(_._1)
    val got = Dedup.qDedupSubstring(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_win"),
                 r.getAs[Long]("n_dup"), r.getAs[Long]("dup_ppm"))).toSeq
    assert(got === expected)
    // planted exact re-crawl duplicates share EVERY window: dup_ppm 1e6
    assert(got.count(_._4 == 1000000L) >= 2)
  }

  test("BM25: integer scoring matches brute-force; longer docs rank below shorter at equal tf") {
    val phrases = Set("join vector", "customer hash", "slow merge")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSeq)
    val nDocs = docs.length.toLong
    val sumDl = docs.map(_._2.length.toLong).sum
    val tf = docs.flatMap { case (id, tk) =>
      tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        .filter(phrases).groupBy(identity)
        .map { case (p, os) => (id, tk.length.toLong, p, os.size.toLong) }
    }
    val df = tf.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val expected = tf.groupBy(_._1).map { case (id, rows) =>
      val s = rows.map { case (_, dl, p, f) =>
        val dlr = dl * 1000L * nDocs / sumDl
        val k = 1200L * (250L + 750L * dlr / 1000L) / 1000L
        val tfc = f * 2200L * 1000L / (f * 1000L + k)
        val idf = (nDocs - df(p)) * 1000000L / df(p)
        idf * tfc
      }.sum
      (id, s, rows.size.toLong)
    }.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(20)
    val got = TextOps.qTextBm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_x"), r.getAs[Long]("n_terms"))).toSeq
    assert(got === expected)
    assert(got.forall(_._2 > 0))
  }

  test("BPE merge learning matches a first-principles Sennrich learner exactly") {
    import org.apache.spark.sql.functions.{col, explode, split}
    // reference learner: word vocab -> char seqs, K greedy merges
    val freqs = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getAs[String]("w").split("").filter(_.nonEmpty).toSeq -> r.getAs[Long]("count"))
    var vocab = freqs
    val expected = (1 to 4).map { step =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (toks, f) =>
        toks.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      val ((l, r), n) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      vocab = vocab.map { case (toks, f) => // greedy left-to-right rewrite
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { x =>
          if (out.nonEmpty && out.last == l && x == r) { out.remove(out.length - 1); out += (l + r) }
          else out += x
        }
        (out.toSeq, f)
      }
      (step.toLong, l, r, n)
    }
    val got = TextOps.qBpeMerges(spark, sf).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("left"),
                 r.getAs[String]("right"), r.getAs[Long]("pair_count"))).toSeq
    assert(got === expected)
    // merges are real compressions: counts positive and non-increasing
    assert(expected.map(_._4).forall(_ > 0))
  }

  test("BPE encoding matches a first-principles encoder over the whole vocabulary") {
    import org.apache.spark.sql.functions.{col, explode, split}
    // independent learner+encoder in plain Scala (same algorithm class as
    // the learner test above, extended with the apply step)
    val freqs = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("w")))
    var vocab = freqs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      .map { case (w, f) => w.split("").filter(_.nonEmpty).toSeq -> (w, f) }.toSeq
    def rewrite(toks: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      toks.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r) { out.remove(out.length - 1); out += (l + r) }
        else out += x
      }
      out.toSeq
    }
    (1 to 4).foreach { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (toks, (_, f)) =>
        toks.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      val ((l, r), _) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      vocab = vocab.map { case (toks, wf) => (rewrite(toks, l, r), wf) }
    }
    val bpeLen = vocab.map { case (toks, (w, _)) => w -> toks.length.toLong }.toMap
    val expected = freqs.groupBy(_._1).map { case (doc, ws) =>
      (doc, ws.length.toLong, ws.map(x => bpeLen(x._2)).sum)
    }.toSeq.sortBy(_._1)
    val got = TextOps.qBpeEncode(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
                 r.getAs[Long]("n_bpe_tokens"))).toSeq
    assert(got === expected)
    // merges actually compress: BPE token count strictly below char count somewhere
    val charTotal = freqs.map(_._2.length.toLong).sum
    assert(got.map(_._3).sum < charTotal)
  }

  test("corpus shuffle: deterministic bijective epoch head, ordered by the seeded key") {
    val a = TextOps.qCorpusShuffle(spark, sf).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("doc_id"), r.getAs[String]("k")))
    val b = TextOps.qCorpusShuffle(spark, sf).collect()
      .map(r => (r.getAs[Long]("pos"), r.getAs[Long]("doc_id"), r.getAs[String]("k")))
    assert(a.toSeq === b.toSeq)                  // reproducible across runs
    assert(a.map(_._1).toSeq === (1L to 50L))    // dense positions
    assert(a.map(_._2).distinct.length === 50)   // no doc twice
    assert(a.map(_._3).toSeq === a.map(_._3).sorted.toSeq) // key-ordered
    // the epoch head is NOT doc_id order: the hash actually permutes
    assert(a.map(_._2).toSeq !== a.map(_._2).sorted.toSeq)
  }

  test("random projection: ternary deterministic matrix, linear, non-degenerate") {
    val w = Similarity.projW
    assert(w.length === Similarity.ProjOutDims)
    assert(w.forall(_.length === Similarity.ProjInDims))
    assert(w.flatten.forall(x => x == -1.0 || x == 0.0 || x == 1.0))
    // rows are distinct directions (a repeated row would waste an output dim)
    assert(w.map(_.toSeq).distinct.length === w.length)
    // linearity on integer vectors is EXACT with ternary weights:
    // proj(a + b) == proj(a) + proj(b) — the JL property that makes the
    // projection distance-preserving in expectation
    val rnd = new scala.util.Random(3)
    val a = Array.fill(Similarity.ProjInDims)(rnd.nextInt(100).toDouble)
    val b = Array.fill(Similarity.ProjInDims)(rnd.nextInt(100).toDouble)
    def proj(v: Array[Double]) = w.map(row => row.zip(v).map { case (x, y) => x * y }.sum)
    val lhs = proj(a.zip(b).map { case (x, y) => x + y })
    val rhs = proj(a).zip(proj(b)).map { case (x, y) => x + y }
    assert(lhs.toSeq === rhs.toSeq)
    // and the engine query produces one row per vector with all 8 dims
    val rows = Similarity.qEmbedProject(spark, sf).collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    assert(rows.head.schema.fieldNames.toSeq ===
      "vec_id" +: (0 until Similarity.ProjOutDims).map(j => s"p$j"))
    // non-degenerate: some projected dimension varies across vectors
    assert(rows.map(_.getAs[Double]("p0")).distinct.length > 1)
  }

  test("projected IVF: dense ranks, non-increasing cosine, candidates come from the query's cell") {
    val rows = Similarity.qAnnIvfProj(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"),
                 r.getAs[Double]("cos"), r.getAs[Long]("rk")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.length))
      assert(sorted.length <= 3)
      // cosine non-increasing down the ranking
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-(_: Double)).toSeq,
        s"query $qid ranking out of order: $sorted")
      // candidates are disjoint from queries and the codebook
      assert(rs.forall(_._2 >= 13))
    }
  }

  test("semantic dedup: clusters conserve vectors; pruned set matches brute-force recomputation") {
    val out = Similarity.qDedupSemantic(spark, sf).collect()
    val total = Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n")).sum === total, "every vector lands in exactly one cluster")
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") === r.getAs[Long]("n") - r.getAs[Long]("n_pruned"))
      assert(r.getAs[Long]("n_pruned") >= 0)
    }
    // brute-force ground truth at sf0.001: recompute assignment + within-
    // cluster pairs driver-side and compare the per-cluster pruned counts
    val vs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Double], b: Array[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val cents = vs.filter(_._1 < 8)
    val assign = vs.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .maxBy { case (cid, c) => (c, -cid) }._1
    }.toMap
    val prunedTruth = vs.collect { case (id, v) if vs.exists { case (id2, v2) =>
      id2 < id && assign(id2) == assign(id) &&
        math.rint(cos(v2, v) * 10000) / 10000 > 0.4 } => id }.toSet
    val prunedByCluster = prunedTruth.groupBy(assign).view.mapValues(_.size.toLong).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_pruned") === prunedByCluster.getOrElse(r.getAs[Long]("cid"), 0L),
        s"cluster ${r.getAs[Long]("cid")} pruned count")
    }
    assert(prunedTruth.nonEmpty, "corpus plants near-dup pairs; some must prune")
  }

  test("semantic dedup plans the pair join as a cid equi-join; only the codebook crosses") {
    // The SemDeDup scale contract: the quadratic must be bounded by the
    // cluster equi-join — the ONLY nested-loop allowed is the broadcast
    // 8-row codebook assignment (same exemption as q_ann_ivf).
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val qe = Similarity.qDedupSemantic(spark, sf).queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val loops = plan.collectWithSubqueries {
      case j: CartesianProductExec        => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    // the codebook assignment is fenced behind a localCheckpoint (it runs
    // once, not once per consumer), so the DOWNSTREAM plan — pair join,
    // prune, summary — must be pure equi-join/aggregate: zero nested loops
    assert(loops.isEmpty, s"pair join must be a cid equi-join, found ${loops.size}:\n$plan")
  }

  test("retrieval eval: metrics match a first-principles recompute from the two declared runs") {
    import graft.operators.Similarity
    val out = Similarity.qEvalRetrieval(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 4L))
    // recompute from the truth (brute top-10) and the probe run (top-10
    // slice of the declared lsh probe re-ranked at k=10) — both already
    // oracle-hashed, so this checks the METRIC arithmetic specifically
    val truth = Similarity.qAnnBruteTopk(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val dcgW = (1 to 10).map(i => (1000000.0 / (math.log(i + 1.0) / math.log(2.0))).toLong)
    out.foreach { case (qid, (nHits, recallPpm, mrrFp, ndcgFp)) =>
      assert(recallPpm === nHits * 100000L, s"qid $qid recall")
      assert(nHits >= 0L && nHits <= 10L)
      if (nHits == 0) assert(mrrFp === 0L && ndcgFp === 0L)
      else {
        assert(mrrFp >= 100000L && mrrFp <= 1000000L, s"qid $qid mrr range")
        // nDCG is bounded by putting all hits at the best ranks
        val best = dcgW.take(nHits.toInt).sum * 1000000L / dcgW.sum
        assert(ndcgFp <= best, s"qid $qid ndcg above upper bound")
        assert(ndcgFp > 0L)
      }
    }
    // sanity: at least one query has hits on this corpus (bucket join is
    // not degenerate) and none exceeds truth size
    assert(out.values.exists(_._1 > 0), "every query missed — probe degenerate")
    assert(truth.forall(_._2.size == 10))
  }

  test("cluster balance: caps bind, kept set is the hash-order prefix per cluster") {
    import graft.operators.Similarity
    val out = Similarity.qCurateClusterBalance(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 8)
    val total = out.map(_.getLong(1)).sum
    val cap = total / 16
    out.foreach { r =>
      assert(r.getLong(2) === math.min(r.getLong(1), cap),
        s"cluster ${r.getLong(0)}: kept ${r.getLong(2)} != min(n=${r.getLong(1)}, cap=$cap)")
    }
    // a dominating cluster must actually be capped (the op's reason to
    // exist); with 8 seed centroids over this corpus at least one is
    assert(out.exists(r => r.getLong(1) > cap), "fixture has no capped cluster")
    // first-principles: recompute one cluster's kept id-sum from the
    // assignment + md5 prefix order
    val asn = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = asn.filter(_._1 < 8)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    val byCluster = asn.toSeq.map { case (id, v) =>
      val cid = cents.toSeq.map { case (c, cv) => (-cos(v, cv), c) }.min._2
      (cid, id)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val someCid = out.head.getLong(0)
    val expKept = byCluster(someCid).sortBy(id => (md5hex(id.toString), id))
      .take(cap.toInt)
    assert(out.head.getLong(3) === expKept.sum,
      s"cluster $someCid kept id-sum mismatch")
  }

  test("PMI collocations: planted phrase dominates; lift matches first-principles") {
    // "new york" always adjacent (a phrase); "of the" frequent but made
    // of frequent parts (not a phrase). minCount=2 keeps both candidates.
    val docs = Seq(
      (1L, "trip to new york of the year"),
      (2L, "new york is of the coast"),
      (3L, "the best of the city new york"),
      (4L, "of new york the harbor view"),
      (5L, "new york of the night")
    ).toDF("doc_id", "text")
    val out = TextOps.collocations(docs, minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // first-principles recompute of the lift for (new, york)
    val toks = docs.collect().flatMap(_.getString(1).split(" "))
    val n = toks.length.toLong
    val cNew = toks.count(_ == "new").toLong
    val cYork = toks.count(_ == "york").toLong
    val pairs = docs.collect().flatMap(_.getString(1).split(" ").sliding(2))
      .map(a => (a(0), a(1))).toSeq
    val cNY = pairs.count(_ == ("new", "york")).toLong
    val expLift = (BigInt(cNY) * n * 1000000L / (BigInt(cNew) * cYork)).toLong
    assert(out(("new", "york")) === ((cNY, cNew, cYork, expLift)))
    // the phrase outranks the frequent-parts pair
    assert(out(("new", "york"))._4 > out(("of", "the"))._4,
      "planted phrase must out-lift the common-word bigram")
    // fixture query: well-formed, sorted by lift, exactly topK rows
    val fx = TextOps.qTextPmi(spark, sf).collect()
    assert(fx.length === 100)
    assert(fx.sliding(2).forall { case Array(a, b) =>
      a.getLong(5) > b.getLong(5) || (a.getLong(5) == b.getLong(5) &&
        (a.getString(0) < b.getString(0) ||
         (a.getString(0) == b.getString(0) && a.getString(1) <= b.getString(1))))
    }, "output must be totally ordered by (lift desc, w1, w2)")
    assert(fx.forall(_.getLong(2) >= 5L), "minCount filter must hold")
  }

  test("quality classifier: valid probabilities, uni+bigram feature count, deterministic") {
    val out = TextOps.qQualityClassifier(spark, sf).collect()
    assert(out.nonEmpty)
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > 0.0 && s < 1.0, s"sigmoid output $s")
      // n tokens >= 2 => n unigrams + (n-1) bigrams
      assert(r.getAs[Long]("n_feats") === 2 * nTok(r.getAs[Long]("doc_id")) - 1)
      assert(r.getAs[Long]("keep") === (if (s > 0.5) 1L else 0L))
    }
    // the hashed model is a pure function of the text: identical on rerun
    assert(out.toSeq === TextOps.qQualityClassifier(spark, sf).collect().toSeq)
    assert(out.map(_.getAs[Long]("keep")).distinct.length === 2,
      "threshold should split the corpus, not degenerate to one class")
  }

  test("token-budget mixing: targets sum to the budget, epoch cap binds, effective <= both bounds") {
    val out = TextOps.qMixTokenBudget(spark, sf).collect()
    assert(out.length === 20) // one row per source
    val targetSum = out.map(_.getAs[Long]("target_tokens")).sum
    assert(math.abs(targetSum - 100000L) <= out.length,
      s"rounded shares must sum to the budget +/- one ulp per source, got $targetSum")
    out.foreach { r =>
      val (n, t, e) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("target_tokens"),
                       r.getAs[Long]("eff_tokens"))
      assert(e === math.min(t, 4 * n))
      val ep = r.getAs[Long]("epochs_x100")
      assert(ep <= 400, s"epoch cap 4 violated: $ep")
      assert(ep === math.floor(e.toDouble / n * 100.0 + 0.5).toLong)
    }
  }

  test("URL curation: canonicalization collapses case/fragment/utm/slash variants per domain") {
    val out = TextOps.qCurateUrls(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_urls")).sum === total)
    out.foreach { r =>
      assert(r.getAs[String]("domain").matches("www\\.src\\d+\\.example\\.com"),
        s"host must be lowercased: ${r.getAs[String]("domain")}")
      assert(r.getAs[Long]("n_canonical") <= r.getAs[Long]("n_urls"))
    }
    // normalization must actually merge something: raw URL variants differ
    // by construction (trailing slash / fragment), canonical keys collapse
    assert(out.map(_.getAs[Long]("n_canonical")).sum < total)
  }

  test("chunking: strided starts cover every token; trailing window clamps; hashes are content-addressed") {
    val out = TextOps.qChunkDocuments(spark, sf).collect()
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val starts = rows.map(_.getAs[Long]("start")).sorted
      // strided from 1, step 48, last start <= n
      assert(starts.head === 1L)
      assert(starts.zip(starts.tail).forall { case (a, b) => b - a === 48L })
      assert(starts.last <= nTok(id))
      rows.foreach { r =>
        val exp = math.min(64L, nTok(id) - r.getAs[Long]("start") + 1)
        assert(r.getAs[Long]("n_tok") === exp)
        assert(r.getAs[String]("h").matches("[0-9a-f]{16}"))
      }
      // full coverage: the LAST chunk's own extent reaches the final token
      val lastNtok = rows.filter(_.getAs[Long]("start") === starts.last)
        .head.getAs[Long]("n_tok")
      assert(starts.last + lastNtok - 1 === nTok(id))
    }
    // identical texts chunk to identical hash sequences (content addressing)
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("start")).map(_.getAs[String]("h")).toSeq)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dupTexts = texts.groupBy(_._2).values.filter(_.size > 1)
    dupTexts.foreach { g =>
      val ids = g.map(_._1)
      assert(ids.map(byDoc(_)).toSet.size === 1)
    }
  }

  test("percentile curation: terciles partition each language, ordered and near-equal-sized") {
    val out = TextOps.qCuratePercentile(spark, sf).collect()
    val perLang = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("tercile"))
      assert(sorted.map(_.getAs[Long]("tercile")).toSeq === (1L to sorted.length))
      // terciles partition the language's docs, sizes differ by at most 1
      assert(sorted.map(_.getAs[Long]("n_docs")).sum === perLang(lang))
      val sizes = sorted.map(_.getAs[Long]("n_docs"))
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
      // surprisal bands are ordered: head's max <= middle's min etc.
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("max_sp") <= b.getAs[Double]("min_sp") + 1e-9)
        case _ =>
      }
    }
  }

  test("containment dedup: every planted excerpt scores 1.0 vs its source; Jaccard banding misses them") {
    val out = Dedup.qDedupContainment(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("inter") <=
        math.min(r.getAs[Long]("n1"), r.getAs[Long]("n2")))
      assert(r.getAs[Long]("ci4") >= 8000 && r.getAs[Long]("ci4") <= 10000)
    }
    // all 50 planted excerpts surface against their own source, fully
    // contained; excerpt ids are -(id+1), so they appear on the d1 side
    val excerptPairs = out.filter(_.getAs[Long]("d1") < 0L)
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("ci4")))
    (0L until 50L).foreach { id =>
      val hit = excerptPairs.find(p => p._1 === -(id + 1) && p._2 === id)
      assert(hit.isDefined, s"excerpt of doc $id not found")
      assert(hit.get._3 === 10000L, s"excerpt of doc $id not fully contained")
    }
    // the motivating property: for excerpt->source pairs Jaccard is only
    // |A|/|B| (far below the 0.6 banding design point of qDedupMinhash)
    // while containment is 1.0 — the regime Jaccard-LSH structurally
    // misses and this operator exists for. Verify on the real texts:
    def shingleSet(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Tables.documents(spark, sf).filter(col("doc_id") < 50)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // (docs as short as the excerpt itself ARE their excerpt — the
    // asymmetric regime only exists where the source is much longer)
    val jaccs = texts.values.filter(_.split(" ").length > 40).map { t =>
      val full = shingleSet(t)
      val exc = shingleSet(t.split(" ").take(20).mkString(" "))
      exc.intersect(full).size.toDouble / exc.union(full).size
    }
    assert(jaccs.nonEmpty && jaccs.forall(_ < 0.6),
      s"long-source excerpt Jaccard must sit below the banding design point")
  }

  test("weighted sampling: exact agreement with recomputed E-S keys; weighting shifts the sample") {
    val out = TextOps.qSampleWeighted(spark, sf).collect()
    assert(out.length === 20)
    // recompute the Efraimidis-Spirakis keys driver-side from first principles
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(docId: Long, w: Long): Long = {
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = hex.foldLeft(0L)((a, c) => a * 16 + Integer.parseInt(c.toString, 16))
      val u = (h + 0.5) / 4294967296.0
      math.floor(-math.log(u) / w * 1e6 + 0.5).toLong
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = docs.map { case (id, w) => (key(id, w), id, w) }
      .sortBy(t => (t._1, t._2)).take(20)
    assert(out.map(r => (r.getAs[Long]("ki6"), r.getAs[Long]("doc_id"),
                         r.getAs[Long]("n_chars"))).toSeq === expected.toSeq)
    // weighting works: the winners skew long (mean weight above corpus mean)
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = out.map(_.getAs[Long]("n_chars")).sum.toDouble / out.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("hard-negative mining: no same-label rows, no near-dups, matches a first-principles recompute") {
    val out = Similarity.qMineHardNegatives(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cand"),
                 r.getAs[Long]("rk"), r.getAs[Double]("cos")))
    assert(out.nonEmpty && out.length <= 5 * 8)
    // ground truth on the driver: full cosine ranking per anchor with
    // both exclusions applied, 4-dp rounded like the engine
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"),
              transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
                 r.getAs[Seq[Double]]("v").toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = rows.filter(_._1 < 5).flatMap { case (qid, qlabel, qv) =>
      rows.filter(r => r._1 >= 5 && r._2 != qlabel)
        .map { case (cid, _, cv) =>
          (cid, BigDecimal(cos(cv, qv)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .filter(_._2 < 0.95)
        .sortBy { case (cid, c) => (-c, cid) }
        .take(8).zipWithIndex
        .map { case ((cid, c), i) => (qid, cid, (i + 1).toLong, c) }
    }
    assert(out.sorted.sameElements(expected.sorted),
      s"mined negatives (${out.length}) differ from brute recompute (${expected.length})")
    // and the exclusions actually bit: some same-label or near-dup row
    // was dropped from at least one anchor's raw top-8
    val labels = rows.map(r => r._1 -> r._2).toMap
    assert(out.forall { case (q, c, _, _) => labels(c) != labels(q) },
      "a same-label candidate leaked into the negatives")
  }

  test("proportional stratified sampling: exact total, quota property, allocation filled") {
    val out = TextOps.qSampleProportional(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
                 r.getAs[Long]("alloc"), r.getAs[Long]("n_sampled")))
    val n = Tables.documents(spark, sf).count()
    val t = n / 10
    assert(out.map(_._4).sum === t, s"Hamilton apportionment must hit the target EXACTLY: ${out.map(_._4).sum} != $t")
    out.foreach { case (src, nS, alloc, sampled) =>
      assert(sampled === alloc, s"$src: stratum under-filled ($sampled of $alloc)")
      // quota property: every allocation within 1 of the ideal share
      val ideal = nS.toDouble * t / n
      assert(math.abs(alloc - ideal) < 1.0, s"$src: alloc $alloc vs ideal $ideal")
    }
  }

  test("Hamilton allocation is exact at planted-overflow scale (n_s*t past 2^63)") {
    // synthetic per-source counts at the scale the BIGINT product
    // corrupts: N = 5.5e10 docs, T = 5.5e9 seats, n_s*T ~ 5.5e19 > 2^63.
    // The DECIMAL(38,0) path must reproduce the BigInt ground truth.
    import spark.implicits._
    val counts = (0 until 11).map(i => (f"s$i%02d", 5_000_000_000L + i * 17L))
    val out = TextOps.hamiltonAlloc(counts.toDF("source", "n_s"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    // first-principles BigInt Hamilton
    val n = BigInt(counts.map(_._2).sum)
    val t = n / 10
    val base = counts.map { case (s, ns) =>
      (s, (BigInt(ns) * t / n).toLong, BigInt(ns) * t % n) }
    val leftover = (t - base.map(b => BigInt(b._2)).sum).toInt
    val seats = base.sortBy { case (s, _, rem) => (-rem, s) }
      .take(leftover).map(_._1).toSet
    val expected = base.map { case (s, b, _) =>
      s -> (b + (if (seats(s)) 1L else 0L)) }.toMap
    assert(out === expected,
      s"decimal allocation must match BigInt ground truth: $out vs $expected")
    assert(out.values.map(BigInt(_)).sum === t, "seats must sum to T exactly")
  }

  test("stats gate: window and select-k branches of q_sample_proportional are identical") {
    // force each branch via the gate conf; the declared query's output
    // must be bit-identical either way (r10 verdict #7)
    def run(): Array[String] =
      TextOps.qSampleProportional(spark, sf).collect().map(_.toString).sorted
    spark.conf.set("spark.graft.selectk.bytes", Long.MaxValue.toString)
    val windowed = try run() finally spark.conf.unset("spark.graft.selectk.bytes")
    spark.conf.set("spark.graft.selectk.bytes", "-1")
    val twoScan = try run() finally spark.conf.unset("spark.graft.selectk.bytes")
    assert(windowed.nonEmpty && windowed.sameElements(twoScan),
      "gate branches must be interchangeable")
  }

  test("corpus diff: statuses partition both snapshots; counts match a first-principles recompute") {
    val out = TextOps.qCorpusDiff(spark, sf).collect()
      .map(r => r.getAs[String]("status") ->
        (r.getAs[Long]("n"), r.getAs[Long]("id_sum"))).toMap
    assert(out.keySet === Set("added", "removed", "changed", "unchanged"))
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val added = docs.filter(_ % 13 == 7).map(id => -(id + 1))
    val removed = docs.filter(_ % 13 == 3)
    val changed = docs.filter(_ % 13 == 5)
    val unchanged = docs.filterNot(id => id % 13 == 3 || id % 13 == 5)
    assert(out("added") === ((added.length.toLong, added.sum)))
    assert(out("removed") === ((removed.length.toLong, removed.sum)))
    assert(out("changed") === ((changed.length.toLong, changed.sum)))
    assert(out("unchanged") === ((unchanged.length.toLong, unchanged.sum)))
    // statuses cover A ∪ B exactly once
    assert(out.values.map(_._1).sum === docs.length + added.length)
  }

  test("corpusDiff public entry: arbitrary hash catalogs diff correctly") {
    // the production form takes two (doc_id, h) catalogs directly —
    // no document table, no fixture coupling
    import spark.implicits._
    val a = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dd"))
      .toDF("doc_id", "h")
    val b = Seq((1L, "aa"), (2L, "XX"), (4L, "dd"), (9L, "ee"))
      .toDF("doc_id", "h")
    val out = TextOps.corpusDiff(a, b).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(
      "added"     -> ((1L, 9L)),   // 9
      "removed"   -> ((1L, 3L)),   // 3
      "changed"   -> ((1L, 2L)),   // 2
      "unchanged" -> ((2L, 5L)))) // 1 + 4
  }

  test("corpus drift: per-bucket JSD matches a first-principles recompute; total within [0, ln 2]") {
    val out = TextOps.qCorpusDrift(spark, sf).collect()
      .map(r => (r.getAs[String]("b"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
                 r.getAs[Long]("jsd_q9")))
    assert(out.nonEmpty && out.forall(_._4 >= 0), "JSD contributions are nonnegative")
    val totalJsd = out.map(_._4).sum / 1e9
    assert(totalJsd >= 0 && totalJsd <= math.log(2.0) + 1e-9,
      s"JSD (nats) must lie in [0, ln 2]: $totalJsd")
    // even/odd halves of the same corpus share a vocabulary: drift tiny
    assert(totalJsd < 0.05, s"same-distribution fixture should drift little: $totalJsd")
    // first-principles recompute from raw token counts
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val counts = scala.collection.mutable.Map.empty[String, (Long, Long)]
    Tables.documents(spark, sf).select("doc_id", "text").collect().foreach { r =>
      val even = r.getAs[Long]("doc_id") % 2 == 0
      r.getAs[String]("text").split(" ").foreach { tok =>
        val b = md5hex(tok).substring(0, 2)
        val (a0, b0) = counts.getOrElse(b, (0L, 0L))
        counts(b) = if (even) (a0 + 1, b0) else (a0, b0 + 1)
      }
    }
    val ta = counts.values.map(_._1).sum.toDouble
    val tb = counts.values.map(_._2).sum.toDouble
    out.foreach { case (b, na, nb, q9) =>
      val (ea, eb) = counts(b)
      assert(na === ea && nb === eb, s"bucket $b counts")
      val p = na / ta; val q = nb / tb
      val term = (if (na > 0) p * math.log(2.0 * p / (p + q)) else 0.0) +
                 (if (nb > 0) q * math.log(2.0 * q / (p + q)) else 0.0)
      val expQ9 = math.floor(term * 0.5 * 1e9 + 0.5).toLong
      assert(math.abs(q9 - expQ9) <= 1, s"bucket $b: engine $q9 vs recompute $expQ9")
    }
  }

  test("two-scan hash select-k picks the IDENTICAL set as the full rank window") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    // the same Hamilton allocation the declared query computes
    val strata = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val n = docs.count(); val t = n / 10
    val rows = strata.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_s")))
    val base = rows.map { case (s, ns) => (s, ns, ns * t / n, ns * t % n) }
    val leftover = (t - base.map(_._3).sum).toInt
    val seats = base.sortBy { case (s, _, _, rem) => (-rem, s) }
      .take(leftover).map(_._1).toSet
    val alloc = base.map { case (s, _, b, _) => (s, b + (if (seats(s)) 1L else 0L)) }
    import spark.implicits._
    val allocDf = alloc.toSeq.toDF("source", "alloc")

    val twoScan = TextOps.selectKByHash(docs, allocDf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // reference: the full per-stratum rank window
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val windowed = docs.withColumn("rn", row_number().over(w))
      .join(allocDf, "source").filter(col("rn") <= col("alloc"))
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(twoScan === windowed,
      s"two-scan set (${twoScan.size}) must equal the window set (${windowed.size})")
    assert(twoScan.size.toLong === alloc.map(_._2).sum, "every stratum filled exactly")
  }

  test("MMR retrieval: greedy trajectory matches a first-principles replay; diversity beats plain top-k") {
    val out = Similarity.qAnnMmr(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("step"), r.getAs[Long]("cand")))
    assert(out.length === 5 * 4, "4 selections for each of 5 queries")
    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Double]]("v").toArray).toMap
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      val c = a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // replay the greedy loop per query on the driver
    val expected = (0L until 5L).flatMap { qid =>
      val pool = rows.filter(_._1 >= 5)
        .map { case (id, v) => (id, cos4(v, rows(qid))) }.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(12)
      var sel = Vector(pool.head._1)
      (2 to 4).foreach { step =>
        val pick = pool.filterNot(p => sel.contains(p._1))
          .map { case (id, cq) =>
            val pen = sel.map(sid => cos4(rows(id), rows(sid))).max
            val mmr = BigDecimal(0.7 * cq - 0.3 * pen)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            (id, mmr)
          }.minBy { case (id, m) => (-m, id) }._1
        sel = sel :+ pick
      }
      sel.zipWithIndex.map { case (id, i) => (qid, (i + 1).toLong, id) }
    }
    assert(out.sorted.sameElements(expected.sorted),
      "engine MMR trajectory differs from the first-principles replay")
    // diversity: per query, the selected set's max pairwise cosine must
    // not exceed the plain top-4's (usually strictly lower)
    val byQ = out.groupBy(_._1)
    val looser = (0L until 5L).count { qid =>
      val selIds = byQ(qid).sortBy(_._2).map(_._3)
      val topIds = rows.filter(_._1 >= 5)
        .map { case (id, v) => (id, cos4(v, rows(qid))) }.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(4).map(_._1)
      def maxPair(ids: Seq[Long]): Double =
        (for (a <- ids; b <- ids if a < b) yield cos4(rows(a), rows(b))).max
      maxPair(selIds) <= maxPair(topIds)
    }
    assert(looser === 5, "MMR selection must never be LESS diverse than plain top-k")
  }

  test("band-index compaction: removed docs' bands drop, survivors' probe hits are unchanged") {
    import java.nio.file.Files
    // explicit file:// Hadoop URI: the commit path must run through the
    // FileSystem API (the object-store-portable protocol), not java.nio
    val indexDir = "file://" + Files.createTempDirectory("graft_band_index").toString + "/idx"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // accumulate the index the way the nightly stream does: two crawl
    // subdirs of band rows
    val bands = Dedup.minhashBands(corpus.repartition(8, col("doc_id")))
    bands.filter(col("doc_id") % 2 === 0).write.parquet(s"$indexDir/batch_0")
    bands.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$indexDir/batch_1")
    val batchBands = Dedup.minhashBands(batch.repartition(8, col("doc_id")))
    val hitsBefore = Dedup.dedupIncremental(
      spark.read.option("recursiveFileLookup", "true").parquet(indexDir),
      batchBands).collect()
    assert(hitsBefore.nonEmpty, "fixture must produce cross-split duplicates")

    // crash state A (before the commit rename): a stranded hidden tmp
    // must be invisible to every reader of the index
    val preCount = spark.read.option("recursiveFileLookup", "true")
      .parquet(indexDir).count()
    bands.limit(5).write.parquet(s"$indexDir/_compact_999.tmp")
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(indexDir).count() === preCount,
      "a mid-write hidden tmp generation leaked into the visible index")

    // retire a third of the corpus (retention expiry); compact
    val active = corpus.filter(col("doc_id") % 3 =!= 0).select("doc_id")
    val activeIds = active.collect().map(_.getLong(0)).toSet
    val (before, after) = Dedup.compactBandIndex(spark, indexDir, active)
    assert(before === preCount, "step-0 sweep must not count the stranded tmp")
    assert(before > after, s"compaction must drop rows ($before -> $after)")
    // the stranded tmp was swept by step 0
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/_compact_999.tmp")))

    // the rewritten index holds EXACTLY the active docs' bands
    val reread = spark.read.option("recursiveFileLookup", "true").parquet(indexDir)
    assert(reread.count() === after)
    val rereadIds = reread.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(rereadIds.subsetOf(activeIds), "no removed doc's bands may survive")
    assert(reread.count() ===
      bands.join(active, Seq("doc_id"), "left_semi").count(),
      "kept rows = the active subset of the original bands")

    // probe semantics after compaction: no hit may name a removed doc,
    // and hits are exactly the before-hits recomputed in the pruned
    // index (dup_of can shift to the next-smallest ACTIVE corpus match)
    val hitsAfter = Dedup.dedupIncremental(reread, batchBands).collect()
    hitsAfter.foreach { r =>
      assert(activeIds.contains(r.getLong(1)),
        s"hit names removed corpus doc ${r.getLong(1)}")
    }
    val expectAfter = Dedup.dedupIncremental(
      bands.join(active, Seq("doc_id"), "left_semi"), batchBands)
      .collect().map(_.toString).sorted
    assert(hitsAfter.map(_.toString).sorted.sameElements(expectAfter),
      "post-compaction probe must equal the probe over the logically-pruned index")

    // crash state B (after the commit rename, before the superseded
    // deletes): old batch dirs AND the committed generation both
    // visible. The probe aggregate is invariant under the duplicated
    // active rows, so a mid-commit reader computes the PRE-compaction
    // answer (dead rows still present) — never a corrupt one.
    val midDir = indexDir + "_mid"
    bands.filter(col("doc_id") % 2 === 0).write.parquet(s"$midDir/batch_0")
    bands.filter(col("doc_id") % 2 =!= 0).write.parquet(s"$midDir/batch_1")
    val gen = fs.listStatus(new org.apache.hadoop.fs.Path(indexDir))
      .map(_.getPath).filter(_.getName.startsWith("compacted_")).head
    org.apache.hadoop.fs.FileUtil.copy(fs, gen, fs,
      new org.apache.hadoop.fs.Path(midDir, gen.getName), false,
      spark.sparkContext.hadoopConfiguration)
    val hitsMid = Dedup.dedupIncremental(
      spark.read.option("recursiveFileLookup", "true").parquet(midDir),
      batchBands).collect().map(_.toString).sorted
    assert(hitsMid.sameElements(hitsBefore.map(_.toString).sorted),
      "mid-commit (old+new visible) probe must equal the pre-compaction probe")
  }

  test("incremental dedup: batch bands broadcast, corpus index never shuffled, hits agree with the self-join") {
    // plan shape — the inverted-broadcast scale claim: the NEW batch is
    // the broadcast side, so the accumulated corpus index (the huge side
    // at 100 TB) is joined without an exchange of its own rows
    val df = Dedup.qDedupIncremental(spark, sf)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = df.queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins._
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "batch bands must broadcast")
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        "the corpus index must not be sort-merge shuffled for a small batch")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)

    // semantics — every incremental hit must be a pair the full self-join
    // also finds (batch doc + its dup_of corpus doc share a band), with
    // the batch/corpus split and band count well-formed
    val hits = df.collect()
    assert(hits.nonEmpty, "planted re-crawl duplicates cross the %5 split at this sf")
    val selfPairs = Dedup.qDedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    hits.foreach { r =>
      val (nid, dup, nb) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nid % 5 == 0 && dup % 5 != 0, s"split violated: $nid dup_of $dup")
      assert(nb >= 1 && nb <= 4, s"band count out of range: $nb")
      val pair = (math.min(nid, dup), math.max(nid, dup))
      assert(selfPairs.contains(pair), s"incremental hit $pair unknown to the self-join")
    }

    // backfill gate: with broadcast disabled (the huge-batch condition)
    // the hint must NOT be forced — the join falls back to a shuffled
    // equi-join on (b, bh) with identical rows
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val savedThr = spark.conf.get(thrKey)
    spark.conf.set(thrKey, "-1")
    try {
      val fb = Dedup.qDedupIncremental(spark, sf)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = fb.queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins._
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        "a backfill-sized batch must not be force-broadcast")
      assert(fb.collect().map(_.toString).sorted.sameElements(
               hits.map(_.toString).sorted),
        "gated fallback must be row-identical")
    } finally {
      spark.conf.set(thrKey, savedThr)
      spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("ppjoin: prefix filtering is complete — result equals the brute-force exact Jaccard join") {
    import org.apache.spark.sql.functions._
    val out = Dedup.qDedupPpjoin(spark, sf).collect()
    assert(out.nonEmpty, "planted near-duplicates reach Jaccard >= 0.8 at this sf")

    // brute force: full inverted-index pair join, no prefix filter — the
    // ground truth the prefix lemma must reproduce exactly
    val inv = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
          |                         i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin))
        .as("sh"))
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = inv.as("a")
      .join(inv.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select("d1", "d2", "n1", "n2", "inter")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def bruteAt(tau10: Int) =
      brute.filter { case (_, _, n1, n2, i) => i * 10 >= (n1 + n2 - i) * tau10 }.toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === bruteAt(8),
      s"prefix filter broke exactness: missing=${bruteAt(8) -- got} extra=${got -- bruteAt(8)}")
    // the parameterized form: a LOOSER τ widens the prefix and must stay
    // complete at its own threshold too
    val got6 = Dedup.ppjoin(spark, sf, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got6 === bruteAt(6),
      s"tau=0.6 leg broke exactness: missing=${bruteAt(6) -- got6} extra=${got6 -- bruteAt(6)}")
    assert(got.subsetOf(got6), "tighter threshold must be a subset of the looser one")

    // every reported pair really is at/above the threshold, in exact
    // integer arithmetic, and j4 is consistent
    out.foreach { r =>
      val (n1, n2, inter, j4) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(inter * 10 >= (n1 + n2 - inter) * 8)
      assert(j4 == inter * 10000 / (n1 + n2 - inter))
    }

    // scale shape: no cartesian / nested-loop anywhere in the plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Dedup.qDedupPpjoin(spark, sf).queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins._
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty &&
             plan.collect { case j: CartesianProductExec => j }.isEmpty,
        "ppjoin must be equi-joins only")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("shingles3 splits each text once and equals the split-per-shingle form element for element") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    // the reference: the former construction, which re-splits `text`
    // inside the transform lambda — once per shingle
    val reference = expr(
      """array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
        |                         i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin)
    val edges = Seq[(Long, String)](
      (-1L, "a  b c  d"),              // doubled spaces: empty tokens
      (-2L, " a b c d"),               // leading space
      (-3L, "a b c d  "),              // trailing spaces: kept empty tokens
      (-4L, "x y z x y z x y"),        // repeated shingles: first occurrence wins
      (-5L, "p q r"),                  // exactly 3 tokens: one shingle
      (-6L, null))                     // null text: no shingles
    val docs = Tables.documents(spark, sf01).select("doc_id", "text")
      .union(edges.toDF("doc_id", "text"))
    val want = docs.select(col("doc_id"), reference.as("a")).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    // a narrow plan (scan → project → generate) keeps each row's shingles
    // contiguous and in generation order, so the exploded rows regroup
    // into the per-row arrays
    val got = Dedup.shingles3(docs).collect().toSeq
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getString(1)) }
    assert(want.size > edges.size && want.size === docs.count())
    want.foreach {
      case (id, Some(a)) => assert(got.get(id) === Some(a.toSeq), s"doc $id")
      case (id, None) => assert(!got.contains(id), s"null text of doc $id yielded shingles")
    }
    assert(got.keySet === want.collect { case (id, Some(_)) => id }.toSet)
    assert(got(-1L) === Seq("a  b", " b c", "b c ", "c  d"))
    assert(got(-3L).takeRight(2) === Seq("c d ", "d  "))
    assert(got(-4L) === Seq("x y z", "y z x", "z x y"))
    assert(got(-5L) === Seq("p q r"))

    // the four window builders over the once-split words `w`: each equals
    // its former split-inside-lambda expression on the same inputs, row for
    // row (an input the former form rejects — a text too short for
    // fingerprint's 5-token window makes `slice` see index 0 — must be
    // rejected by the new form too)
    val builders = Seq(
      "fingerprint" -> (TextOps.fingerprintWindows,
        """transform(sequence(1, size(split(text, ' ')) - 4),
          |          i -> md5(concat_ws(' ', slice(split(text, ' '), i, 5))))""".stripMargin),
      "repetition" -> (TextOps.repetitionBigrams,
        """transform(sequence(1, size(split(text, ' ')) - 1),
          |          i -> concat_ws(' ', slice(split(text, ' '), i, 2)))""".stripMargin),
      "classifier" -> (TextOps.classifierGrams,
        """CASE WHEN size(split(text, ' ')) < 2 THEN split(text, ' ')
          |ELSE concat(split(text, ' '),
          |  transform(sequence(1, size(split(text, ' ')) - 1),
          |    i -> concat(element_at(split(text, ' '), i), '_',
          |                element_at(split(text, ' '), i + 1)))) END""".stripMargin),
      "segments" -> (Dedup.segmentWindows,
        """transform(sequence(0, cast(ceil(size(split(text, ' ')) / 4.0) as int) - 1),
          |          i -> concat_ws(' ', slice(split(text, ' '), i * 4 + 1, 4)))""".stripMargin))
    def arrays(rows: org.apache.spark.sql.DataFrame, e: String, words: Boolean) =
      scala.util.Try((if (words) rows.select(col("doc_id"), split(col("text"), " ").as("w"))
                      else rows).select(col("doc_id"), expr(e).as("a")).collect()
        .map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap)
    val corpus = Tables.documents(spark, sf01).select("doc_id", "text")
    builders.foreach { case (name, (once, former)) =>
      val ref = arrays(corpus, former, words = false).get
      assert(ref.size === corpus.count() && ref.values.exists(_.exists(_.nonEmpty)))
      assert(arrays(corpus, once, words = true).get === ref, name)
      edges.foreach { edge =>
        val row = Seq(edge).toDF("doc_id", "text")
        val (r, g) = (arrays(row, former, words = false), arrays(row, once, words = true))
        assert(r.isFailure === g.isFailure && r.toOption === g.toOption, s"$name on $edge")
      }
    }

    // structural: ppjoin's shingle relation and the four window queries
    // split in a projection under the lambda, never inside it, once per
    // documents scan (segments reads the relation twice: frequency + join)
    Seq("docShingles" -> Dedup.docShingles(spark, sf),
        "qTextFingerprint" -> TextOps.qTextFingerprint(spark, sf),
        "qTextRepetition" -> TextOps.qTextRepetition(spark, sf),
        "qQualityClassifier" -> TextOps.qQualityClassifier(spark, sf),
        "qDedupSegments" -> Dedup.qDedupSegments(spark, sf)).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions)
      val splitInLambda = exprs.exists(_.exists {
        case l: LambdaFunction => l.function.exists(_.isInstanceOf[StringSplit])
        case _ => false
      })
      assert(!splitInLambda, s"$name: a split re-runs per window:\n$plan")
      val scans = plan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }.size
      assert(scans >= 1 && exprs.count(_.exists(_.isInstanceOf[StringSplit])) === scans,
        s"$name:\n$plan")
    }
  }

  test("bloom-prefilter dedup: zero false negatives, real pruning, answer identical to the unfiltered path") {
    val (corpus, batch) = Dedup.bloomSplit(spark, sf)
    val nBatch = batch.count()
    val survivors = Dedup.bloomSurvivors(corpus, batch)
    val nSurvive = survivors.count()

    // exact duplicate set — the unfiltered reference path the oracle runs
    import org.apache.spark.sql.functions._
    val trueDups = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpus.select(md5(col("text")).as("h")).distinct(), "h")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trueDups.nonEmpty, "planted re-crawls exist at this sf")

    // zero false negatives: every true duplicate survives the bloom
    val survived = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trueDups.subsetOf(survived),
      s"bloom dropped true duplicates: ${trueDups -- survived}")

    // the prefilter prunes: at 1% target fpp the non-duplicate bulk of
    // the batch must be rejected map-side (allow a loose 25% margin so a
    // corpus regeneration with more planted dups cannot flake this)
    assert(nSurvive < nBatch,
      s"bloom rejected nothing ($nSurvive of $nBatch)")
    assert(nSurvive - trueDups.size <= math.max(2L, nBatch / 4),
      s"false-positive flood: $nSurvive survivors for ${trueDups.size} dups in $nBatch")

    // end-to-end: the query result equals the plain hash join with the
    // bloom removed (same columns, same rows, same canonical dup_of)
    val out = Dedup.qDedupBloom(spark, sf).collect()
    val ref = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpus.groupBy(md5(col("text")).as("h"))
              .agg(min(col("doc_id")).as("dup_of"), count(lit(1)).as("n_copies")), "h")
      .select("doc_id", "dup_of", "n_copies")
      .orderBy("doc_id").collect()
    assert(out.map(_.toString).toSeq === ref.map(_.toString).toSeq,
      "bloom-prefiltered answer must be identical to the unfiltered join")
    out.foreach { r =>
      assert(r.getLong(1) % 5 != 0, s"dup_of ${r.getLong(1)} not a corpus doc")
      assert(r.getLong(2) >= 1L)
    }
  }

  test("bloom index persists: loaded filter probes identically to the in-memory build, across batches") {
    val (corpus, batch) = Dedup.bloomSplit(spark, sf)
    val path = "/tmp/graft_bloom_index.bin"
    val size = Dedup.writeBloomIndex(corpus, path)
    // size is the serialized sketch: bits/8 plus a small header
    val expectBits = Dedup.bloomBits(corpus.count())
    assert(size >= expectBits / 8 && size <= expectBits / 8 + 64,
      s"artifact size $size vs expected ~${expectBits / 8} B")
    val loaded = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // the loaded artifact must reproduce the in-memory build's decisions
    val fresh = Dedup.bloomSurvivors(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaIndex = Dedup.bloomSurvivorsBytes(loaded, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex === fresh, "persisted filter must probe identically")
    // a SECOND batch (different slice) probes the same artifact with no
    // rebuild — the nightly pattern: one refresh, many probes
    import org.apache.spark.sql.functions._
    val batch2 = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") % 5 === 1)
    val hits2 = Dedup.bloomSurvivorsBytes(loaded, batch2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // corpus docs probe the filter built over themselves: all must hit
    assert(batch2.count() === hits2.size,
      "corpus members have zero false negatives against their own filter")
  }

  test("leakage-free split: every LSH candidate pair lands in the same split; shares sane") {
    val assign = Dedup.splitAssign(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(assign.nonEmpty)
    val pairs = Dedup.qDedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has planted near-duplicates")
    pairs.foreach { case (a, b) =>
      assert(assign(a) == assign(b),
        s"near-dup pair ($a, $b) straddles splits ${assign(a)}/${assign(b)} — held-out leakage")
    }
    // the hash split must roughly honor 90/5/5 (group-level binomial
    // noise at this sf: wide tolerance, catches a broken threshold)
    val n = assign.size.toDouble
    val trainShare = assign.values.count(_ == "train") / n
    info(f"train share: $trainShare%.3f over ${n.toInt} docs")
    assert(trainShare > 0.8 && trainShare < 0.97, s"train share off: $trainShare")
  }

  test("PQ/ADC: well-formed ranked lists, monotone distances, above-chance recall vs exact L2") {
    val pq = Similarity.qAnnPq(spark, sf).collect()
    val byQ = pq.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rk")).toSeq.sorted === (1L to 10L))
      val ds = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("di4"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "ADC distance non-decreasing in rank")
    }
    // recall floor vs EXACT L2 top-10 (the metric ADC approximates):
    // random overlap would be ~0.05/query; the 2-bit fixture codebook
    // (4 seed centroids/subspace — oracle-stable, deliberately coarse)
    // measured 10/50 total at this sf. Production trains 8-bit
    // sub-codebooks with the kmeansIvfFrame loop; the query shape is
    // identical, only the codebook rows change.
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv"))
    val cd = e.filter(col("vec_id") >= 5)
    val d2 = vecDot(col("v"), col("v")) - lit(2.0) * vecDot(col("qv"), col("v")) +
      vecDot(col("qv"), col("qv"))
    val w = Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id"))
    val exact = cd.crossJoin(broadcast(q))
      .withColumn("d2", d2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = pq.count(r => exact.contains((r.getAs[Long]("qid"), r.getAs[Long]("cand"))))
    info(s"ADC∩exact-L2 overlap: $overlap/50")
    assert(overlap >= 5, s"PQ recall collapsed below the fixture floor: $overlap/50")
  }

  test("RRF fusion: well-formed lists, score bounds, consensus dominance") {
    val out = Similarity.qAnnRrf(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    val maxScore = 1000000000L / 61 * 2  // top-1 in BOTH legs
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rk")).toSeq.sorted === (1L to 10L))
      val ss = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("rrf"))
      assert(ss.zip(ss.tail).forall { case (a, b) => a >= b }, "rrf non-increasing in rank")
      // every fused score is a sum of at most two reciprocal terms
      assert(ss.forall(v => v > 0 && v <= maxScore), s"score out of range: ${ss.toSeq}")
      // consensus dominance: the fused #1 must beat any single-leg-only
      // candidate's best possible score (one leg at rank 1)
      assert(ss.head >= 1000000000L / 61,
        "fused top-1 cannot score below a single leg's best")
    }
  }

  test("phraseSearch: positional intersection, overlap counting, absent terms") {
    val docs = Seq(
      (1L, "the table scan merge wins"),        // one hit at pos 2
      (2L, "table scan merge table scan merge"), // two hits (1 and 4)
      (3L, "table merge scan"),                  // terms present, order wrong
      (4L, "a a a a"),                           // overlap fixture
      (5L, "table scan")                         // phrase truncated at EOF
    ).toDF("doc_id", "text")
    val got = operators.TextOps.phraseSearch(docs, Seq("table", "scan", "merge"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((1L, 2L)), 2L -> ((2L, 1L))))
    // overlapping matches all count: "a a" occurs at positions 1, 2, 3
    val ov = operators.TextOps.phraseSearch(docs, Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ov === Map(4L -> ((3L, 1L))))
    // single-term phrase degenerates to the posting list rollup
    val one = operators.TextOps.phraseSearch(docs, Seq("merge"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(operators.TextOps.phraseSearch(docs, Seq("absent", "term")).count() === 0)
  }

  test("ANN brute top-k returns exactly k ranked neighbors per query") {
    val out = Similarity.qAnnBruteTopk(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rk")).toSeq.sorted === (1L to 10L))
      val cs = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, "cosine non-increasing in rank")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Dedup

/** Skew evidence for the PPJoin candidate join (r9 verdict #6): its join
  * key is the rarity-prefix shingle, and the feared failure mode is a
  * corpus with a NEAR-UBIQUITOUS template line — a boilerplate shingle
  * sits in every document's inverted-index postings, so a join keyed on
  * raw postings would concentrate one partition with ~n rows and the
  * candidate set would go quadratic (n²/2 pairs through one hot key).
  *
  * The spec PLANTS exactly that corpus: 400 documents that all open with
  * the same 15-token boilerplate block (so every pair of documents shares
  * ≥13 shingles — the unfiltered inverted-index join would produce all
  * ~83k pairs), each followed by a unique 10-token tail, plus 10 planted
  * twin pairs whose Jaccard clears τ=0.8. It then asserts the PREFIX
  * BOUND HOLDS, measured, not assumed:
  *
  *  1. the boilerplate shingles really are ubiquitous (df = corpus size)
  *     — the hazard is present, not hypothetical;
  *  2. the rarity-prefix relation contains NO ubiquitous shingle: the
  *     prefix is |x| − ⌈τ|x|⌉ + 1 ≈ 0.2|x| rarest-first entries, and
  *     every document's unique tail out-ranks the boilerplate, so the
  *     hot postings never reach the join (max prefix-shingle df is
  *     asserted ≤ a small constant);
  *  3. candidate pairs stay SUB-QUADRATIC: measured prefix-candidates /
  *     brute-candidates ≤ 1% on this corpus;
  *  4. completeness under the skew: the full ppjoin returns EXACTLY the
  *     10 planted twin pairs (verified against a first-principles
  *     driver-side Jaccard over every pair — 410² ≈ 168k comparisons).
  *
  * The residual case — documents that are ~ALL boilerplate, forcing
  * template shingles into prefixes — is the case where the TRUE ANSWER
  * is itself quadratic (those documents genuinely are near-duplicates),
  * so candidate growth tracks output growth; SCALE.md §Round-10 probes
  * measures that trajectory.
  */
class PpjoinSkewSpec extends SparkSpec {

  private val nDocs = 400
  private val boiler = (1 to 15).map(i => s"tmpl$i").mkString(" ")

  test("planted boilerplate: ubiquitous shingles never reach the candidate join; output exact") {
    import spark.implicits._
    val docs = (0 until nDocs).map { i =>
      (i.toLong, boiler + " " + (0 until 10).map(t => s"u${i}_$t").mkString(" "))
    } ++ (0 until 10).map { i =>
      // twin of doc i with one APPENDED token: J = 23/24 ≈ 0.958 ≥ 0.8
      (1000L + i, boiler + " " + (0 until 10).map(t => s"u${i}_$t").mkString(" ") + " extra")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ppjoin_skew").toString
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    // the same shingle/prefix derivation the probe uses, built first
    // principles so the engine's own candidate stage is not the referee
    val inv = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(16, col("doc_id"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
          |                         i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin)).as("sh"))
      .localCheckpoint()
    val dfreq = inv.groupBy("sh").agg(count(lit(1)).as("df"))

    // 1. the hazard is real: boilerplate-interior shingles hit every doc
    val maxDf = dfreq.agg(max("df")).head().getLong(0)
    assert(maxDf === docs.length.toLong,
      s"planted template must be ubiquitous: max df $maxDf != ${docs.length}")

    // 2. no ubiquitous shingle survives into any prefix
    val ordered = inv.join(dfreq, "sh").withColumn("rk",
      row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
    val sizes = ordered.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pref = ordered.join(sizes, "doc_id")
      .filter(col("rk") <= col("n") - expr("(8 * n + 9) DIV 10") + 1)
    val maxPrefDf = pref.agg(max("df")).head().getLong(0)
    info(s"max df of any prefix shingle: $maxPrefDf (corpus $maxDf)")
    assert(maxPrefDf <= 4,
      s"a hot shingle reached the candidate join: prefix df $maxPrefDf")

    // 3. candidates sub-quadratic, measured
    def pairs(ix: org.apache.spark.sql.DataFrame): Long =
      ix.as("a").join(ix.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val nBrute = pairs(inv)
    val nPref = pairs(pref.select("doc_id", "sh"))
    info(f"brute candidates $nBrute%,d -> prefix candidates $nPref%,d (${100.0 * nPref / nBrute}%.2f%%)")
    assert(nBrute > (docs.length.toLong * (docs.length - 1) / 2) * 9 / 10,
      "boilerplate must drive the unfiltered join ~quadratic for the claim to bite")
    assert(nPref <= nBrute / 100, s"prefix candidates not sub-quadratic: $nPref vs $nBrute")

    // 4. completeness: exactly the planted twins, verified brute-force
    val out = Dedup.qDedupPpjoin(spark, dir).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val shingleSets = inv.collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getString(1)).toSet }
    val expected = (for {
      a <- shingleSets.keys; b <- shingleSets.keys if a < b
      inter = (shingleSets(a) & shingleSets(b)).size
      if inter * 10 >= (shingleSets(a).size + shingleSets(b).size - inter) * 8
    } yield (a, b)).toSet
    assert(expected.size === 10, s"fixture must plant exactly 10 true pairs: ${expected.size}")
    assert(out === expected, s"ppjoin output ${out.size} pairs != brute truth ${expected.size}")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver-generated corpus dir (r13 verdict
  * #6: the gates stop at sf0.1; the 100 TB claims deserve at least one
  * order-of-magnitude step). `factor` shifted-key copies of every
  * scaling table, FK-consistently (each copy r offsets every key by
  * r·|key-space|, so orders↔lineitem↔customer↔part↔supplier joins hold
  * and every id column stays DENSE 0..n·factor−1 — the corpus contract
  * knnGraph's random coins and the fixture-split queries rely on).
  * region/nation stay fixed (TPC-H does not scale dimensions).
  *
  * Copies r > 0 perturb content deterministically — documents get an
  * ASCII ` g<r>` suffix (n_chars recomputed), embeddings get the probe
  * family's +0.01·(r%17+1) bump on coordinate r%64 (in FLOAT space) —
  * so the scaled corpus doesn't degenerate into byte-identical
  * replicas that would quadratically blow up every dedup family
  * candidate set. The correctness gate is unchanged: Verify runs the
  * engine AND DuckDB over the SAME parquet, so the generator only owes
  * schema + convention fidelity, not distribution fidelity to the
  * driver's unknown sf1.
  *
  * Usage: GenScale <baseDir> <outDir> <factor>
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(base, out, factorS) = args
    val factor = factorS.toInt
    val spark = Graft.session("graft-genscale")
    spark.sparkContext.setLogLevel("WARN")
    run(spark, base, out, factor)
    spark.stop()
  }

  def run(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    new java.io.File(out).mkdirs()
    def copies(df: DataFrame): DataFrame =
      df.select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
    def write(df: DataFrame, name: String, parts: Int = 4): Unit =
      df.coalesce(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    def raw(name: String): DataFrame =
      spark.read.parquet(s"$base/$name.parquet")

    // fixed dimensions: byte-faithful copy
    Seq("region", "nation").foreach(t => write(raw(t), t, parts = 1))

    def shifted(name: String, keySpaces: (String, Long)*): DataFrame = {
      val src = raw(name)
      keySpaces.foldLeft(copies(src)) { case (df, (k, n)) =>
        df.withColumn(k, col(k) + col("r") * lit(n))
      }.drop("r")
    }
    write(shifted("customer", "c_custkey" -> 15000L * factorBase(base)), "customer")
    write(shifted("supplier", "s_suppkey" -> 1000L * factorBase(base)), "supplier")
    write(shifted("part", "p_partkey" -> 20000L * factorBase(base)), "part")
    write(shifted("orders",
      "o_orderkey" -> 150000L * factorBase(base),
      "o_custkey" -> 15000L * factorBase(base)), "orders")
    write(shifted("lineitem",
      "l_orderkey" -> 150000L * factorBase(base),
      "l_partkey" -> 20000L * factorBase(base),
      "l_suppkey" -> 1000L * factorBase(base)), "lineitem", parts = 8)

    // events through the normalizing reader (writes TIMESTAMP_MICROS —
    // the modern encoding both Tables.events and DuckDB handle)
    val ev = copies(Tables.events(spark, base))
      .withColumn("event_id", col("event_id") + col("r") * lit(100000L * factorBase(base)))
      .withColumn("user_id", col("user_id") + col("r") * lit(1500L * factorBase(base)))
      .drop("r")
    write(ev, "events")

    val docs = copies(raw("documents"))
      .withColumn("text",
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" g"), col("r"))))
      .withColumn("doc_id", col("doc_id") + col("r") * lit(5000L * factorBase(base)))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("r")
    write(docs, "documents")

    val emb = copies(raw("embeddings"))
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x + when(col("r") > 0 && i === pmod(col("r"), lit(64)),
                    lit(0.01f) * (pmod(col("r"), lit(17)) + 1).cast("float"))
                 .otherwise(lit(0.0f))).cast("float")))
      .withColumn("vec_id", col("vec_id") + col("r") * lit(2000L * factorBase(base)))
      .drop("r")
    write(emb, "embeddings")
    println(s"GenScale: wrote $out at ${factor}x of $base")
  }

  /** Base-dir row-count multiplier relative to sf0.1 (whose key spaces
    * the literals above encode): sf0.1 → 1. Kept explicit so a future
    * sf1 → sf10 step reuses the same literals. */
  private def factorBase(base: String): Long =
    if (base.endsWith("sf0.1") || base.endsWith("sf0.1/")) 1L
    else if (base.endsWith("sf1") || base.endsWith("sf1/")) 10L // one GenScale step up
    else throw new IllegalArgumentException(
      s"GenScale: unknown base key spaces for $base — extend factorBase")
}

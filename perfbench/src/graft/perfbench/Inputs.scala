package graft.perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Nothing here reads a file: every input a
  * workload touches is written from a seed into the benchmark's work
  * directory, so two runs with one seed see byte-identical inputs. */
object Inputs {

  val Fill: Double = -99999.0

  /** A synthetic ADCIRC fort.63 as NetCDF-3 classic, the same shape as
    * `tools/make_fort63.py`: a K×K lattice of nodes on [0,K)², two
    * triangles per lattice square (1-based node ids, as ADCIRC writes),
    * T hourly records of zeta = 10·sin(0.01·node + 0.5·t + phase), and
    * every 997th node dry (the ADCIRC fill value). Returns the file size. */
  def fort63(path: String, k: Int, t: Int, phase: Double): Long = {
    val n = k * k
    val m = 2 * (k - 1) * (k - 1)
    def name(s: String): Array[Byte] = {
      val b = s.getBytes(US_ASCII)
      int(b.length) ++ b ++ Array.fill((4 - b.length % 4) % 4)(0.toByte)
    }
    def int(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def dbl(v: Double): Array[Byte] = java.nio.ByteBuffer.allocate(8).putDouble(v).array()
    def attrs(as: Seq[(String, Any)]): Array[Byte] =
      if (as.isEmpty) int(0) ++ int(0)
      else int(0x0C) ++ int(as.size) ++ as.flatMap {
        case (key, v: String) =>
          val b = v.getBytes(US_ASCII)
          name(key) ++ int(2) ++ int(b.length) ++ b ++ Array.fill((4 - b.length % 4) % 4)(0.toByte)
        case (key, v: Double) => name(key) ++ int(6) ++ int(1) ++ dbl(v)
        case (key, v) => throw new IllegalArgumentException(s"$key: $v")
      }
    def header(begins: Map[String, Int]): Array[Byte] = {
      def v(nm: String, dims: Seq[Int], typ: Int, vsize: Int,
            as: Seq[(String, Any)] = Nil): Array[Byte] =
        name(nm) ++ int(dims.size) ++ dims.flatMap(int) ++ attrs(as) ++
          int(typ) ++ int(vsize) ++ int(begins.getOrElse(nm, 0))
      "CDF\u0001".getBytes(US_ASCII) ++ int(t) ++
        int(0x0A) ++ int(4) ++
        name("time") ++ int(0) ++ name("node") ++ int(n) ++
        name("nele") ++ int(m) ++ name("nvertex") ++ int(3) ++
        attrs(Seq("Conventions" -> "CF-1.6")) ++
        int(0x0B) ++ int(5) ++
        v("x", Seq(1), 6, n * 8) ++ v("y", Seq(1), 6, n * 8) ++
        v("element", Seq(2, 3), 4, m * 12) ++
        v("time", Seq(0), 6, 8, Seq(
          "units" -> "seconds since 2008-09-09 00:00:00 UTC",
          "base_date" -> "2008-09-09 00:00:00")) ++
        v("zeta", Seq(0, 1), 6, n * 8, Seq("_FillValue" -> Fill))
    }
    val h = header(Map.empty).length
    val begins = Map("x" -> h, "y" -> (h + n * 8), "element" -> (h + 2 * n * 8),
      "time" -> (h + 2 * n * 8 + m * 12), "zeta" -> (h + 2 * n * 8 + m * 12 + 8))
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 20))
    try {
      out.write(header(begins))
      for (i <- 0 until n) out.writeDouble((i % k).toDouble)
      for (i <- 0 until n) out.writeDouble((i / k).toDouble)
      for (cell <- 0 until (k - 1) * (k - 1)) {
        val r = cell / (k - 1); val c = cell % (k - 1)
        val a = r * k + c; val b = a + 1; val cc = a + k; val dd = cc + 1
        Seq(a, b, cc, b, dd, cc).foreach(x => out.writeInt(x + 1))
      }
      for (ts <- 0 until t) {
        out.writeDouble(ts * 3600.0)
        for (i <- 0 until n)
          out.writeDouble(if (i % 997 == 0) Fill else math.sin(0.01 * i + 0.5 * ts + phase) * 10.0)
      }
    } finally out.close()
    new java.io.File(path).length()
  }

  /** Writes the named tables of the corpus the declared queries read
    * (`graft.Views.names` plus events), with the column names, types and
    * value domains of the TESTDATA.md corpus at scale factor `sf` (sf 0.1 =
    * 600,000 lineitem rows, 5,000 documents). Every value is a hash of (seed, column, row
    * id), so the tables do not depend on partitioning or task order. */
  def corpus(spark: SparkSession, dir: String, sf: Double, seed: Long, names: Seq[String]): Unit = {
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    def h(salt: Int, id: Column = col("id")): Column = xxhash64(lit(seed), lit(salt), id)
    def uniform(salt: Int): Column = pmod(h(salt), lit(1000000L)).cast("double") / 1e6
    def between(salt: Int, lo: Long, hi: Long): Column = lit(lo) + pmod(h(salt), lit(hi - lo + 1))
    def pick(salt: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(salt), lit(xs.size.toLong)) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + uniform(salt) * (hi - lo), 2)
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), between(salt, 0, days - 1).cast("int")).cast("timestamp")
    val nCust = math.round(150000 * sf); val nSupp = math.round(10000 * sf)
    val nPart = math.round(200000 * sf); val nOrd = math.round(1500000 * sf)
    val nLine = math.round(6000000 * sf); val nDoc = math.round(50000 * sf)
    val nEvent = math.round(1000000 * sf); val nUser = math.round(15000 * sf)
    val nVec = math.round(20000 * sf)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
      "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
      "query", "a", "scan", "batch")
    // a document's words are a function of its own id, so a near-duplicate
    // (every 20th document) is another document's text plus a " dup" marker
    def text(id: Column): Column = {
      val words = transform(sequence(lit(0L), lit(9L) + pmod(h(20, id), lit(90L))), k =>
        element_at(array(vocab.map(lit): _*),
          (pmod(xxhash64(lit(seed), lit(21), id, k), lit(vocab.size.toLong)) + 1).cast("int")))
      array_join(words, " ")
    }
    val base = col("id") - lit(1L) - pmod(h(22), least(col("id"), lit(10L)))
    def table(name: String): DataFrame = name match {
      case "region" => spark.createDataFrame(regions.zipWithIndex.map { case (r, i) => (i, r) })
        .toDF("r_regionkey", "r_name").coalesce(1)
      case "nation" => spark.createDataFrame((0 until 25).map(i => (i, s"NATION_$i", i % 5)))
        .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      case "customer" => rows(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        between(1, 0, 24).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment"))
      case "supplier" => rows(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        between(4, 0, 24).cast("int").as("s_nationkey"),
        money(5, -999.99, 9999.99).as("s_acctbal"))
      case "part" => rows(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(6, "large", "hot", "blue", "old", "cold", "small", "green", "red"),
          pick(7, "ring", "bolt", "plate", "gear", "nut", "screw")).as("p_name"),
        format_string("Brand#%d", between(8, 1, 25)).as("p_brand"),
        pick(9, "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO").as("p_type"),
        between(10, 1, 50).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice"))
      case "orders" => rows(nOrd).select(col("id").as("o_orderkey"),
        between(11, 0, nCust - 1).as("o_custkey"),
        pick(12, "O", "F", "P").as("o_orderstatus"),
        money(13, 1000.0, 500000.0).as("o_totalprice"),
        day(14, "1995-01-01", 2404).as("o_orderdate"),
        pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
      case "lineitem" => rows(nLine).select(between(16, 0, nOrd - 1).as("l_orderkey"),
        between(17, 0, nPart - 1).as("l_partkey"),
        between(18, 0, nSupp - 1).as("l_suppkey"),
        between(19, 1, 7).cast("int").as("l_linenumber"),
        between(23, 1, 50).cast("double").as("l_quantity"),
        money(24, 900.0, 105000.0).as("l_extendedprice"),
        (between(25, 0, 10) / 100.0).as("l_discount"),
        (between(26, 0, 8) / 100.0).as("l_tax"),
        pick(27, "A", "N", "R").as("l_returnflag"),
        pick(28, "O", "F").as("l_linestatus"),
        day(29, "1995-01-02", 2499).as("l_shipdate"))
      case "documents" => rows(nDoc).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20L)) === 19, concat(text(base), lit(" dup")))
          .otherwise(text(col("id"))).as("text"),
        pick(30, "en", "en", "en", "en", "es", "zh", "de", "fr").as("lang"),
        format_string("src%d", between(31, 0, 19)).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      case "events" => rows(nEvent).select(col("id").as("event_id"),
        // 30 days from 2024-01-01T00:00Z, in microseconds
        timestamp_micros(lit(1704067200000000L) + between(32, 0, 30L * 86400 * 1000000 - 1)).as("ts"),
        between(33, 0, nUser - 1).as("user_id"),
        pick(34, "click", "view", "purchase", "signup", "error").as("event_type"),
        money(35, 0.0, 200.0).as("value"),
        format_string("{\"k\": %d}", between(36, 0, 99)).as("props"))
      case "embeddings" => rows(nVec).select(col("id").as("vec_id"),
        transform(sequence(lit(0L), lit(63L)), i =>
          (pmod(xxhash64(lit(seed), lit(37), col("id"), i), lit(2000000L)) / 1e6 - 1.0).cast("float"))
          .as("embedding"),
        between(38, 0, 9).cast("int").as("label"))
      case other => throw new IllegalArgumentException(s"unknown corpus table $other")
    }
    // one small job per table; running them side by side overlaps each
    // job's fixed scheduling and commit cost
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = names.map { n =>
        pool.submit(new Runnable {
          def run(): Unit = table(n).write.mode("overwrite").parquet(s"$dir/$n.parquet")
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
  }
}

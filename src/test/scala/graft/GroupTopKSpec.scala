package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{GroupTopK, GroupTopKExec}

/** The custom whole-operator extension (SURVEY §2.10 tier c): logical
  * GroupTopK planned by GroupTopKStrategy into a partial/final bounded-heap
  * pair. Checks result equivalence with the window form AND the plan facts
  * that justify the operator's existence. */
class GroupTopKSpec extends SparkSpec {

  private def inner(df: org.apache.spark.sql.DataFrame) = {
    // force execution so AQE finalizes the plan
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** collect() does not descend into AQE query stages — walk them too. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val within = p match {
      case q: QueryStageExec => allNodes(q.plan)
      case _ => Seq.empty
    }
    p +: (p.children.flatMap(allNodes) ++ within)
  }

  test("matches the row_number window form exactly") {
    val viaOp = operators.Relational.qTopkGroup(spark, sf).collect()
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("o_custkey") < 300)
      .drop("rk")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
      .collect()
    assert(viaOp.map(_.toString).toSeq === viaWindow.map(_.toString).toSeq)
  }

  test("plans as partial+final heap pair with one exchange and no WindowExec") {
    val df = GroupTopK.topKPerGroup(
      Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      group = Seq("o_custkey"), order = Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 3)
    val nodes = allNodes(inner(df))
    val topks = nodes.collect { case t: GroupTopKExec => t }
    assert(topks.map(_.partial).sorted === Seq(false, true),
           s"expected partial+final GroupTopKExec pair:\n${inner(df)}")
    assert(nodes.collect { case w: WindowExec => w }.isEmpty, "no WindowExec")
    assert(nodes.collect { case e: ShuffleExchangeExec => e }.size === 1,
           s"exactly one exchange (between partial and final):\n${inner(df)}")
  }

  test("partial phase bounds shuffled rows at groups x partitions x k") {
    val df = GroupTopK.topKPerGroup(
      Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      group = Seq("o_custkey"), order = Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 2)
    // every group in the final output has min(k, group_size) rows
    val sizes = df.groupBy("o_custkey").count().collect()
    assert(sizes.forall(_.getAs[Long]("count") <= 2))
    val nGroups = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(sizes.length.toLong === nGroups, "every group survives")
  }

  test("over a bucketed table, top-k per group plans with ZERO exchanges") {
    // The final phase's ClusteredDistribution(group) is already satisfied
    // by the bucketed layout's HashPartitioning — the layout + operator
    // combination eliminates the shuffle entirely (the 100 TB shape:
    // bucket the fact table once, every per-group ranking after is free).
    // the catalog is in-memory per JVM: drop leftovers from previous runs
    spark.sql("DROP TABLE IF EXISTS orders_bucketed_topk")
    val leftover = new java.io.File("/tmp/graft_warehouse/orders_bucketed_topk")
    if (leftover.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(leftover)
    }
    graft.plans.Layout.writeBucketed(
      Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice"),
      "orders_bucketed_topk", "o_custkey", 8)
    val df = GroupTopK.topKPerGroup(spark.table("orders_bucketed_topk"),
      group = Seq("o_custkey"), order = Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 3)
    val nodes = allNodes(inner(df))
    assert(nodes.collect { case e: ShuffleExchangeExec => e }.isEmpty,
           s"bucketed top-k must be exchange-free:\n${inner(df)}")
    assert(nodes.collect { case t: GroupTopKExec => t }.nonEmpty)
  }

  test("k larger than every group degrades to identity per group") {
    val base = Tables.orders(spark, sf)
      .filter(col("o_custkey") < 20).select("o_custkey", "o_orderkey")
    val out = GroupTopK.topKPerGroup(base, Seq("o_custkey"),
      Seq("o_orderkey" -> false), k = 1000000).collect()
    assert(out.length === base.count())
  }

  test("group-key predicates push through the operator to the scan") {
    // Catalyst cannot see through a custom node; PushFilterThroughGroupTopK
    // relocates group-key-only conjuncts below GroupTopK, and the standard
    // pushdown then carries them into the parquet scan — so the operator
    // never ranks groups the query throws away.
    val df = operators.Relational.qTopkGroup(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    // no group-key Filter left above the custom node
    optimized.foreach {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _: GroupTopK) =>
        fail(s"filter stayed above GroupTopK: $cond")
      case _ =>
    }
    val scans = allNodes(inner(df)).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains("o_custkey"))),
      s"o_custkey predicate must reach the scan:\n${inner(df)}")
  }

  test("non-group conjuncts stay above while group conjuncts push") {
    val base = Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice")
    val df = GroupTopK.topKPerGroup(base, Seq("o_custkey"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 3)
      .filter(col("o_custkey") < 300 && col("o_totalprice") > 1000.0)
    // o_totalprice is NOT a group key: filtering it below would change
    // which rows rank — it must stay above the operator
    val kept = df.queryExecution.optimizedPlan.collect {
      case f @ org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _: GroupTopK) => cond
    }
    assert(kept.nonEmpty, "the o_totalprice conjunct must remain above GroupTopK")
    assert(kept.head.references.map(_.name).toSet === Set("o_totalprice"))
    // and the result matches the window form with the same split
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val expected = base.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("o_custkey") < 300 && col("o_totalprice") > 1000.0)
      .drop("rk").collect().map(_.toString).sorted
    assert(df.collect().map(_.toString).sorted === expected)
  }

  test("floating-point group keys: -0.0 == 0.0 and NaN patterns collapse") {
    // Spark normalizes FP grouping keys for Aggregate/Window
    // (NormalizeFloatingNumbers); the custom node applies the same
    // normalization at construction, else raw UnsafeRow binary equality
    // would split these into 4 groups
    val negZero = java.lang.Double.longBitsToDouble(0x8000000000000000L)
    val weirdNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    import spark.implicits._
    val df = Seq((0.0, 1L), (negZero, 2L), (Double.NaN, 3L), (weirdNaN, 4L))
      .toDF("dkey", "v")
    val out = GroupTopK.topKPerGroup(df, Seq("dkey"), Seq("v" -> true), k = 1).collect()
    assert(out.length === 2, s"expected {0.0, NaN} groups, got ${out.mkString(", ")}")
    assert(out.map(_.getAs[Long]("v")).toSet === Set(2L, 4L)) // max v per group
  }

  test("partial-phase flush bound: tiny budget still yields exact results") {
    // a 4-group budget forces many mid-partition flushes on 1500 custkeys;
    // the final merge phase must reconcile the duplicate partials exactly
    spark.conf.set("spark.graft.topk.partialFlushGroups", "4")
    try {
      val base = Tables.orders(spark, sf).select("o_custkey", "o_orderkey", "o_totalprice")
      val viaOp = GroupTopK.topKPerGroup(base, Seq("o_custkey"),
          Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 3)
        .collect().map(_.toString).sorted
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val viaWindow = base.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).drop("rk").collect().map(_.toString).sorted
      assert(viaOp === viaWindow)
    } finally spark.conf.unset("spark.graft.topk.partialFlushGroups")
  }

  test("unknown column name fails fast with the available names") {
    val e = intercept[IllegalArgumentException] {
      GroupTopK.topKPerGroup(Tables.orders(spark, sf), Seq("nope"), Seq("o_orderkey" -> false), 1)
    }
    assert(e.getMessage.contains("no column 'nope'"))
    assert(e.getMessage.contains("o_orderkey"))
  }

  test("registered once, by the session extension: topKPerGroup installs nothing") {
    import graft.plans.{GroupTopKStrategy, PushFilterThroughGroupTopK}
    GroupTopK.topKPerGroup(Tables.orders(spark, sf), Seq("o_custkey"), Seq("o_orderkey" -> false), 1)
    assert(!spark.experimental.extraStrategies.contains(GroupTopKStrategy))
    assert(!spark.experimental.extraOptimizations.contains(PushFilterThroughGroupTopK))
    val holders = spark.sessionState.optimizer.batches
      .map(b => b.name -> b.rules.count(_ eq PushFilterThroughGroupTopK)).filter(_._2 > 0)
    // the injected rule joins the operator-optimization rule set, which
    // two batches share; a live registration would add a third batch
    assert(holders === Seq("Operator Optimization before Inferring Filters" -> 1,
                           "Operator Optimization after Inferring Filters" -> 1))
  }
}

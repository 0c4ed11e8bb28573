package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The fence-discipline gates (r10 verdict #2 / r11 verdict #1). Each
  * `Fence` entry has exactly one mode — `apply` pins, `cut`
  * checkpoints, `counted` does either by its `cut` argument — and no
  * session switch selects another implementation:
  *
  *  1. GREP GATES — `graft.Fence` is the engine's ONLY spelling of a raw
  *     `.localCheckpoint()` and the only main-source caller of the
  *     shim's one fence materialization, so the release discipline and
  *     the fence instrumentation stay enforceable from one file; and
  *     `graft.plans.CommitEpoch` is the only generation store (names,
  *     delta listing, commit hook and rename).
  *  2. PIN LIFECYCLE — `Fence.apply` sets EXACTLY MEMORY_ONLY on the
  *     leaf RDD; `Fence.release` clears it; a re-read after release is
  *     row-identical (recompute through lineage — the documented
  *     determinism contract).
  *  3. RELEASE SAFETY — releasing a `Fence.cut` (localCheckpoint-
  *     backed) frame is a no-op: its MEMORY_AND_DISK blocks ARE the
  *     data and must never match releasePin's MEMORY_ONLY filter.
  *  4. COUNTED — `Fence.counted`'s fused scalars equal what separate
  *     SQL actions would compute, and its leaf carries exact stats.
  *  5. ITERATE — `Fence.iterate` releases every round frame it
  *     superseded, never `init` or the survivor, and runs the rounds
  *     its cap and stop test allow, in both fence modes.
  */
object FenceGateSpec {
  /** Scala files under `dir`, outside `allowed`, whose text matches `hit`. */
  def offenders(dir: String, allowed: Set[String] = Set.empty)(
      hit: String => Boolean): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"run from repo root: $root")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed.contains(p.getFileName.toString))
      .filter(p => hit(new String(java.nio.file.Files.readAllBytes(p))))
      .map(_.toString).toList
  }
}

class FenceGateSpec extends SparkSpec {
  import FenceGateSpec.offenders

  test("main source has no raw .localCheckpoint() outside Fence.scala and the shim") {
    // the one real checkpoint call is the RDD-level one inside
    // GraftSqlShim.materialize; graft code has exactly one sanctioned
    // spelling — graft.Fence.cut (or Fence.counted with cut = true)
    val hits = offenders("src/main/scala", Set("Fence.scala", "GraftSqlShim.scala"))(
      _.contains(".localCheckpoint("))
    assert(hits.isEmpty,
      s"raw .localCheckpoint() call sites outside graft.Fence/shim: $hits")
  }

  test("main source calls the shim's materialize only from Fence.scala") {
    // the qualified call, a wildcard import, or a selective import of it
    val call = """GraftSqlShim\s*\.\s*(?:materialize\b|_|\{[^}]*\bmaterialize\b)""".r
    val hits = offenders("src/main/scala", Set("Fence.scala", "GraftSqlShim.scala"))(
      call.findFirstIn(_).isDefined)
    assert(hits.isEmpty,
      s"GraftSqlShim.materialize reached outside graft.Fence: $hits")
  }

  test("generation-store names, delta listing, commit hook and rename appear only in CommitEpoch") {
    // every persisted index commits and lists through graft.plans.CommitEpoch;
    // Layout.compact's in-place `._compact_tmp`/`._compact_old` directory
    // swap is a different protocol, exempt by name
    val layoutCompact = """(?s)\n  def compact\(s: SparkSession, dir: String.*?\n  }\n""".r
    val store = """"compacted_|"_compact_|startsWith\("batch_"\)|midCommitHook\(|fs\.rename\(""".r
    val hits = offenders("src/main/scala", Set("CommitEpoch.scala"))(text =>
      store.findFirstIn(layoutCompact.replaceAllIn(text, "\n")).isDefined)
    assert(hits.isEmpty, s"generation-store logic outside graft.plans.CommitEpoch: $hits")
  }

  /** The pinned leaf's RDD, or None if the frame has no LogicalRDD leaf. */
  private def leafLevel(df: org.apache.spark.sql.DataFrame): Option[StorageLevel] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getStorageLevel
    }

  test("pin lifecycle: fence sets MEMORY_ONLY, release clears it, re-read identical") {
    val base = spark.range(0, 1000).select(col("id"),
      (col("id") * 7 % 13).as("v"))
    val expected = base.collect().map(_.toSeq).toSet
    val fenced = Fence(base) // default mode = pin
    assert(leafLevel(fenced).contains(StorageLevel.MEMORY_ONLY),
      "fenced leaf must be pinned MEMORY_ONLY")
    assert(fenced.collect().map(_.toSeq).toSet == expected)
    Fence.release(fenced)
    assert(leafLevel(fenced).contains(StorageLevel.NONE),
      "released leaf must have no storage level")
    // recompute-through-lineage after release: still row-identical
    assert(fenced.collect().map(_.toSeq).toSet == expected,
      "post-release re-read must reproduce the pinned rows")
  }

  test("deep-loop rule: cut keeps RDD lineage depth CONSTANT per round, the pin does not") {
    // The r12 HyperBall finding, pinned as a falsifiable invariant: a
    // depth-proportional loop fenced with the memory PIN accumulates RDD
    // lineage (the pin does not truncate it — each round's tasks
    // serialize an ever-deeper parent chain; measured as 16 s -> 64 s
    // round walls at 10M nodes), while Fence.cut's localCheckpoint hard-
    // truncates, so lineage depth is round-count-INDEPENDENT.
    def lineageDepth(df: org.apache.spark.sql.DataFrame): Int = {
      def walk(r: org.apache.spark.rdd.RDD[_]): Int =
        1 + (if (r.dependencies.isEmpty) 0
             else r.dependencies.map(d => walk(d.rdd)).max)
      walk(df.queryExecution.toRdd)
    }
    def loop(rounds: Int, cut: Boolean): Int = {
      val init = Fence.counted(spark.range(0, 100).select(col("id"), lit(0L).as("x")), cut)
      val (r, _) = Fence.iterate(init, cut, maxRounds = rounds) { (r, i) =>
        r.groupBy(col("id") % 10).agg(sum("x").as("x"))
          .select((col("(id % 10)") + i).as("id"), col("x"))
      }
      lineageDepth(r.df)
    }
    val cut3 = loop(3, cut = true); val cut6 = loop(6, cut = true)
    assert(cut3 === cut6,
      s"cut lineage depth must not grow with rounds: $cut3 vs $cut6")
    val pin3 = loop(3, cut = false); val pin6 = loop(6, cut = false)
    assert(pin6 > pin3,
      s"pin lineage depth is expected to grow ($pin3 -> $pin6); if this " +
        "ever stops holding, the deep-loop guidance on Fence should be revisited")
  }

  test("iterate: releases superseded rounds, keeps init and survivor, counts rounds") {
    // x halves each round (6 -> 3 -> 1 -> 0), so Σx stops falling at round 4
    val base = spark.range(0, 210, 1, 4).select(col("id"), (col("id") % 7).as("x"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = rows(base)
    for (cut <- Seq(true, false); (cap, rounds) <- Seq((Int.MaxValue, 4), (2, 2), (0, 0))) {
      val clue = s"cut=$cut cap=$cap"
      val init = Fence.counted(base, cut, sum = _.getLong(1))
      val frames = scala.collection.mutable.ArrayBuffer.empty[Fenced] // strong refs
      val (last, n) = Fence.iterate(init, cut, maxRounds = cap, sum = _.getLong(1),
          stop = (prev, cur) => { frames += cur; cur.sum == prev.sum }) { (df, _) =>
        df.select(col("id"), expr("x DIV 2").as("x"))
      }
      assert(n === rounds && frames.size === rounds, clue)
      assert(last eq frames.lastOption.getOrElse(init), clue)
      frames.dropRight(1).foreach(f =>
        assert(leafLevel(f.df).contains(StorageLevel.NONE), s"$clue: superseded round kept its blocks"))
      Seq(init, last).foreach(f =>
        assert(leafLevel(f.df).exists(_ != StorageLevel.NONE), s"$clue: init or survivor released"))
      assert(rows(init.df) === expected, clue)
      assert(rows(last.df) === expected.map { case (id, x) => (id, x >> rounds) }, clue)
      Fence.releaseCut(last.df); Fence.releaseCut(init.df)
    }
  }

  test("release is a no-op on a Fence.cut leaf") {
    val fenced = Fence.cut(spark.range(0, 100).toDF())
    val lvl = leafLevel(fenced)
    assert(lvl.isDefined && lvl.get != StorageLevel.NONE,
      s"localCheckpoint leaf should hold its blocks, got $lvl")
    Fence.release(fenced) // MEMORY_AND_DISK != MEMORY_ONLY -> must not drop
    assert(leafLevel(fenced) == lvl,
      "release must never unpersist a checkpoint-backed leaf")
    assert(fenced.count() == 100)
  }

  test("counted: rows and the leaf rowCount equal count() in both modes") {
    val base = spark.range(0, 1000, 1, 4).filter(col("id") % 3 =!= 0).toDF()
    val expected = base.count()
    Seq(true, false).foreach { cut =>
      val f = Fence.counted(base, cut = cut)
      assert(f.rows === expected, s"cut=$cut")
      assert(f.df.count() === expected, s"cut=$cut")
      assert(f.df.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(expected)),
        s"cut=$cut: the leaf must carry the materialized count as its rowCount")
      assert(f.sum === 0L && f.sumD === 0.0, "no term given: both sums read 0")
    }
  }

  test("counted: the Long sum equals SQL sum and wraps on overflow like it") {
    // Long.MaxValue + 1 wraps; the legacy (non-ANSI) SQL sum wraps the
    // same way, ANSI mode would throw instead
    val vals = Seq(Long.MaxValue, 1L) ++ (1L to 200L).map(i => i * 7919L - 50000L)
    val df = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("id", "v").repartition(4)
    val f = Fence.counted(df, cut = true, sum = _.getLong(1))
    val sqlSum =
      try {
        spark.conf.set("spark.sql.ansi.enabled", "false")
        f.df.agg(sum("v")).head().getLong(0)
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    assert(f.sum === sqlSum)
    assert(f.sum === vals.sum, "the sum wraps exactly as Long addition does")
    assert(f.rows === vals.size.toLong)
  }

  test("counted: sumD is the partition-index-order fold of per-partition sums") {
    // magnitudes far apart, so a different fold order gives different bits
    val vals = (0 until 64).map(i => if (i % 8 == 0) 1e17 * (if (i % 16 == 0) 1 else -1) else 1.0 + i / 3.0)
    val df = spark.createDataFrame(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("id", "d").repartition(4)
    val f = Fence.counted(df, cut = true, sumD = _.getDouble(1))
    // the leaf holds the materialized partitions in index order
    val expected = f.df.rdd
      .mapPartitions(it => Iterator(it.foldLeft(0.0)((a, r) => a + r.getDouble(1))))
      .collect().foldLeft(0.0)(_ + _)
    assert(java.lang.Double.doubleToLongBits(f.sumD) ===
      java.lang.Double.doubleToLongBits(expected))
    assert(f.sum === 0L)
  }

  test("counted: a delta leaf at or under 4 MB is one partition and just over keeps its count") {
    val perRow = org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(spark.range(1).queryExecution.analyzed.output).toLong
    val atCap = (4L << 20) / perRow
    def leafParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getNumPartitions
      }.get
    val small = Fence.counted(spark.range(0, atCap, 1, 4).toDF(), cut = true, delta = true)
    assert(small.rows === atCap)
    assert(leafParts(small.df) === 1, "a delta of at most 4 MB coalesces to one partition")
    val over = Fence.counted(spark.range(0, atCap + 1, 1, 4).toDF(), cut = true, delta = true)
    assert(leafParts(over.df) === 4, "a delta just over 4 MB keeps its native partition count")
    val plain = Fence.counted(spark.range(0, atCap, 1, 4).toDF(), cut = true)
    assert(leafParts(plain.df) === 4, "only a delta fence coalesces")
    assert(small.df.count() === atCap && over.df.count() === atCap + 1)
    Seq(small, over, plain).foreach(f => Fence.releaseCut(f.df))
  }

  test("releaseCut guard: leaf releases, unfenced derived no-ops, fenced derived THROWS") {
    // r15 advice: releaseCut walked the WHOLE analyzed plan, so calling
    // it on a frame merely DERIVED from a cut silently dropped leaves
    // shared with live siblings — an unrecoverable failure far from the
    // cause. The guard turns that misuse into a loud error at the site.
    val base = Fence.cut(spark.range(0, 100).toDF())
    val lvl = leafLevel(base)
    assert(lvl.isDefined && lvl.get != StorageLevel.NONE)

    // (1) derived frame still holding the fenced leaf: must THROW, and
    // must NOT have dropped the blocks (the sibling stays readable)
    val derived = base.filter(col("id") % 2 === 0)
    val ex = intercept[IllegalArgumentException](Fence.releaseCut(derived))
    assert(ex.getMessage.contains("own-cut-first"))
    assert(leafLevel(base) == lvl, "a refused release must not touch the blocks")
    assert(base.count() == 100)

    // (2) never-fenced derived frame: unconditional-release convenience
    Fence.releaseCut(spark.range(0, 10).toDF().filter(col("id") > 3)) // no-op, no throw

    // (3) the leaf itself: destructive release drops the blocks
    Fence.releaseCut(base)
    assert(leafLevel(base).contains(StorageLevel.NONE) || leafLevel(base).isEmpty,
      s"releaseCut on the leaf must drop its blocks, got ${leafLevel(base)}")
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Dev tool with three modes; the numbers of the modes it no longer has
  * stay in SCALE.md, each with the commit that removed it.
  *   - `<k> <g,t>`: the interpolation kernel at an arbitrary scale;
  *   - `abq <q1,q2,...>[:reps[:sfDir]]`: a same-JVM A/B of declared queries;
  *   - `pipeline <fort.63>,<outDir>,<g>`: `Pipeline.run` and its join shape.
  * Usage: tools/run_verify.sh <mode> <arg> graft.ScaleProbe */
object ScaleProbe {
  private val usage =
    "usage: graft.ScaleProbe <k> <g,t> | abq <q1,q2,...>[:reps[:sfDir]] | " +
      "pipeline <fort.63>,<outDir>,<g>"

  def main(args: Array[String]): Unit = {
    require(args.length == 2, usage)
    val probe: SparkSession => Unit = args(0) match {
      case "abq" => abqProbe(_, args(1))
      case "pipeline" => pipelineProbe(_, args(1))
      case k if k.toIntOption.isDefined => interpProbe(_, k.toInt, args(1))
      case m => throw new IllegalArgumentException(s"unknown mode '$m'; $usage")
    }
    val spark = Graft.session("graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    probe(spark)
    spark.stop()
  }

  private def interpProbe(spark: SparkSession, k: Int, arg: String): Unit = {
    val Array(g, t) = arg.split(",").map(_.toInt)
    val tris = 2L * (k - 1) * (k - 1)
    val cells = g.toLong * g
    val t0 = System.nanoTime()
    val n = operators.Interp.interpolate(spark, k, g, t).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"interp k=$k g=$g t=$t: $tris%,d triangles x $cells%,d cells x $t ts -> $n%,d rows in $secs%.1f s (naive pairs: ${tris * cells}%,d)")
  }

  /** abq <q1,q2,...>[:reps[:sfDir]] — alternate declared queries in
    * ONE JVM after a warm-up pair: the SCALE.md box-variance
    * discipline (wall swings ±50% across sittings; only same-JVM
    * alternation separates position noise from real cost drift) */
  private def abqProbe(spark: SparkSession, arg: String): Unit = {
    val parts = arg.split(":")
    val names = parts(0).split(",").toSeq
    val reps = if (parts.length > 1) parts(1).toInt else 5
    val dir = if (parts.length > 2) parts(2) else "/root/testdata/sf0.1"
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    names.foreach(n => SparkEntry.queries(n)(spark, dir).count()) // warm-up
    val walls = scala.collection.mutable.Map.empty[String, Vector[Double]]
    (1 to reps).foreach { i =>
      names.foreach { n =>
        System.gc()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        val w = (System.nanoTime() - t0) / 1e9
        walls(n) = walls.getOrElse(n, Vector()) :+ w
        println(f"abq rep $i $n%-24s $w%.2f s")
      }
    }
    walls.toSeq.sortBy(_._1).foreach { case (nm, ws) =>
      val s = ws.sorted
      println(f"abq SUMMARY $nm%-24s min=${s.head}%.2f med=${s(s.size / 2)}%.2f " +
        f"max=${s.last}%.2f spread=${s.last / s.head}%.2fx")
    }
  }

  /** End-to-end pipeline probe at production magnitude (VERDICT r8 #4):
    * runs [[graft.Pipeline.run]] — NetCDF-3 ingest → size-gated
    * interpolation → COG write — on a generated fort.63-shaped file
    * (tools/make_fort63.py; 550,96 ≈ the ASGS forecast shape: 302,500
    * nodes × 96 hourly timesteps), with the series-join gate driven by
    * the REAL parquet-backed Catalyst stats of the just-ingested series
    * — no test override anywhere. A QueryExecutionListener captures the
    * COG write's executed QueryExecution so the OBSERVED join shape
    * (3-join or corner-explode, and how many of its series joins
    * broadcast) is read off the plan that actually ran — the SCALE.md
    * evidence closing the loop between the gate's intent and execution.
    * Usage: tools/run_verify.sh pipeline <nc>,<outDir>,<g> graft.ScaleProbe */
  private def pipelineProbe(spark: SparkSession, arg: String): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val Array(nc, outDir, gs) = arg.split(",")
    val g = gs.toInt
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = captured.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val t0 = System.nanoTime()
    val n = Pipeline.run(spark, nc, outDir, g)
    val wall = (System.nanoTime() - t0) / 1e9
    // the gate inputs exactly as interpolateTables read them: the
    // parquet-backed series' Catalyst stats vs the planner threshold
    val sv = sources.Ingest.series(spark, s"$outDir/tables")
    val bytes = sv.queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = org.apache.spark.sql.GraftSqlShim.autoBroadcastJoinThreshold(spark)
    val gate = math.min(operators.Interp.BroadcastSeriesMaxBytes, thr)
    println(f"pipeline: $n COGs (g=$g) in $wall%.1f s; series parquet stats=$bytes B vs gate=min(100MB ceiling, $thr planner)=$gate B -> ${if (bytes > gate) "corner-explode (scale) path" else "3-join (small) path"}")
    org.apache.spark.sql.GraftSqlShim.drainListenerBus(spark)
    // the interpolation is the action whose plan joins the series on its
    // node_id, which joinSeriesGated names m1..m3 on the 3-join path
    val seriesKeys = Set("node_id", "m1", "m2", "m3")
    def seriesJoins(qe: QueryExecution) = PlanWalk.flatten(qe.executedPlan).collect {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(a => seriesKeys(a.name))) => j
    }
    import scala.jdk.CollectionConverters._
    captured.asScala.map(seriesJoins).find(_.nonEmpty) match {
      case None => println("pipeline: no executed plan joined the series on node_id")
      case Some(joins) =>
        val broadcast = joins.count(_.isInstanceOf[BroadcastHashJoinExec])
        println(s"pipeline observed join shape: ${if (joins.size == 1) "corner-explode" else "3-join"}, " +
          s"series joins: $broadcast broadcast, ${joins.size - broadcast} shuffled " +
          s"(${joins.map(_.nodeName).distinct.mkString(", ")})")
    }
  }
}

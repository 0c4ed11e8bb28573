package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1: measure first): per-JOB wall breakdown of one
  * declared query at bench parallelism. A declared query's wall is the
  * sum of every Spark job its construction + count fires (eager
  * Fence.cut rounds each fire one); the bench total can only be
  * understood job-by-job. Usage:
  *   tools/run_verify.sh <sfDir> <q1,q2,...> graft.Profile
  * Prints, for the MEASURED (post-warm-up) run: one line per job with
  * wall ms, stage count, task count, shuffle read/write bytes, and the
  * callsite, then a per-query total. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val which = args(1)
    val spark = Graft.session("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_CONF="k=v;k=v" — runtime conf overrides for A/B experiments
    sys.env.get("GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    spark.range(0, 1000000).selectExpr("sum(id)", "count(distinct id % 100)").collect()

    case class Job(id: Int, site: String, var t0: Long = 0L, var wallMs: Long = 0L,
                   var stages: Int = 0, var tasks: Int = 0,
                   var shRead: Long = 0L, var shWrite: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val site = Option(e.properties.getProperty("callSite.short")).getOrElse("?")
        val j = Job(e.jobId, site); j.t0 = e.time
        jobs.put(e.jobId, j); order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.wallMs = e.time - j.t0
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        // attribute a stage to the recording job set via its job (first match wins)
        jobs.forEach { (_, j) => () }
        // jobId is not on stageInfo; fold into the most recent unfinished job
        val it = order.iterator(); var last: Job = null
        while (it.hasNext) { val j = jobs.get(it.next()); if (j != null && j.wallMs == 0L) last = j }
        val tgt = if (last != null) last else { val l = order.toArray.lastOption.map(x => jobs.get(x.asInstanceOf[Int])); l.orNull }
        if (tgt != null) {
          tgt.stages += 1; tgt.tasks += info.numTasks
          tgt.shRead += info.taskMetrics.shuffleReadMetrics.totalBytesRead
          tgt.shWrite += info.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // r17: per-fence planning breakdown via the shim's fenceProbe —
    // each fence materialization reports its Catalyst tracker phases
    // (analysis/optimization/planning, pre-AQE), the toRdd wall (all
    // driver work up to physical planning) and the materialization-job
    // wall (AQE stage orchestration + execution).
    case class FenceStat(var n: Int = 0, var planMs: Long = 0L, var jobMs: Long = 0L,
                         phaseMs: java.util.concurrent.ConcurrentHashMap[String, Long] =
                           new java.util.concurrent.ConcurrentHashMap[String, Long]())
    val fences = FenceStat()
    org.apache.spark.sql.GraftSqlShim.fenceProbe = (phases, planMs, jobMs) =>
      if (recording) {
        fences.synchronized { fences.n += 1; fences.planMs += planMs; fences.jobMs += jobMs }
        phases.split(",").filter(_.nonEmpty).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          fences.phaseMs.merge(k, v.toLong, (a: Long, b: Long) => a + b); ()
        }
      }

    which.split(",").foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm-up (builds index caches, codegen)
      System.gc()
      jobs.clear(); order.clear()
      fences.n = 0; fences.planMs = 0L; fences.jobMs = 0L; fences.phaseMs.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      Thread.sleep(300) // let listener drain
      println(s"\n===== $name measured ${f"$wall%.2f"} s, ${order.size} jobs =====")
      var sum = 0L
      order.forEach { id =>
        val j = jobs.get(id)
        sum += j.wallMs
        println(f"  job ${j.id}%4d ${j.wallMs}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d shR=${j.shRead}%9d shW=${j.shWrite}%9d  ${j.site}")
      }
      println(f"  job-wall sum ${sum / 1000.0}%.2f s vs query wall $wall%.2f s (gap = driver/planning)")
      if (fences.n > 0) {
        val ph = fences.phaseMs.entrySet().toArray.map(_.toString).sorted.mkString(" ")
        println(f"  fences: ${fences.n} cuts, toRdd(plan) ${fences.planMs} ms, " +
          f"materialize-job ${fences.jobMs} ms; tracker phases: $ph")
      }
    }
    spark.stop()
  }
}

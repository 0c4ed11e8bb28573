package graft

/** Dev tool: print the formatted physical plan for declared queries.
  * Usage: tools/run_verify.sh <sfDir> <q1,q2,...|all> graft.Explain */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      println("usage: graft.Explain <sfDir> <q1,q2,...|all>  (set GRAFT_TIME=1 to time 3 runs instead)")
      println(s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      return
    }
    val sfDir = args(0); val which = args(1) // extra args ignored
    val spark = Graft.session("graft-explain", master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (which == "all") SparkEntry.queries.keys.toSeq.sorted
      else which.split(",").toSeq
    names.foreach { name =>
      println(s"\n========== $name ==========")
      if (sys.env.contains("GRAFT_TIME")) {
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(name)(spark, sfDir).count()
          println(f"  run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs ($n rows)")
        }
      } else SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

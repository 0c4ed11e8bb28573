package graft

/** Round-start corpus probe (r7 verdict #5): print every table's SCANNED
  * parquet schema next to the loader's normalized logical schema, one JSON
  * line per table. The driver regenerates the corpus between rounds and
  * has shipped schema drift before (events.ts: INT64 TIMESTAMP(NANOS) →
  * timestamp[us], the r6 39-error incident); this tool makes the current
  * physical encodings a 10-second check, and CorpusDriftSpec makes any
  * drift a NAMED test failure instead of a pile of runtime errors.
  *
  * Usage: tools/run_verify.sh <sfDir> ignored graft.CorpusProbe
  */
object CorpusProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.filter(_.nonEmpty).getOrElse("/root/testdata/sf0.01")
    val spark = Graft.session("graft-corpus-probe", master = "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    (Views.names :+ "events").foreach { t =>
      val line =
        try {
          val scanned = spark.read.parquet(s"$sfDir/$t.parquet").schema.simpleString
          val normalized =
            if (t == "events") Tables.events(spark, sfDir).schema.simpleString
            else scanned
          s"""{"table":"$t","scanned":"$scanned","normalized":"$normalized"}"""
        } catch {
          case e: Throwable =>
            // full JSON-string escaping: Spark schema errors are routinely
            // multi-line and backslash-laden, and the one-line-per-table
            // contract must survive exactly when drift is detected
            val msg = String.valueOf(e.getMessage).take(300)
              .replace("\\", "\\\\").replace("\"", "\\\"")
              .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
            s"""{"table":"$t","error":"$msg"}"""
        }
      println(line)
    }
    spark.stop()
  }
}

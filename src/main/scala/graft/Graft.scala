package graft

import org.apache.spark.sql.SparkSession

/** Library front door. A user of the reference pipeline switches by doing:
  *
  * {{{
  * val spark = Graft.session("my-app")          // tuned session, UTC, AQE,
  *                                              // vec_dot/hamming SQL fns
  * Graft.openCorpus(spark, "/data/sf100")       // tables as temp views
  * spark.sql("SELECT ... FROM lineitem ...")    // or the operators.* API
  * }}}
  *
  * Session defaults follow the 100 TB guidance (SURVEY §4): AQE on (skew
  * splits, runtime coalescing), UTC timezone (oracle + CF-convention time
  * handling), shuffle width sized to the machine rather than the 200
  * default. On a real cluster pass the master/shuffle explicitly.
  * Every main in the engine builds its session here.
  */
object Graft {

  /** Local task threads: `SPARK_GRAFT_CPUS` when it parses as an Int,
    * else the machine's cores capped at 32. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** `spark.sql.extensions` is set at build time, so
    * [[graft.GraftExtensions]] injects its SQL functions, the GroupTopK
    * strategy and `PushFilterThroughGroupTopK` into the main optimizer
    * batch (the filter push then reaches the scan). On an already-running
    * session `getOrCreate` cannot add extensions; it keeps the ones that
    * session was built with. */
  def session(appName: String = "graft",
              master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")  // legacy events encodings readable from session build (no loader conf mutation)
      .getOrCreate()

  /** Register the corpus tables as temp views for the SQL surface. */
  def openCorpus(spark: SparkSession, dir: String): Unit =
    Views.register(spark, dir)

  /** The reference's full workflow: fort.63.nc → per-timestep COGs.
    * Returns the number of COGs written. */
  def runPipeline(spark: SparkSession, ncPath: String, outDir: String,
                  gridSize: Int = 1000): Long =
    Pipeline.run(spark, ncPath, outDir, gridSize)
}

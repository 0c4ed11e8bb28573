package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * `queries` is the full operator surface (SURVEY §2 inventory + EXT
  * LLM-pipeline operators); `oracleSql` carries the DuckDB-equivalent ANSI
  * SQL for every oracle-testable query. Entries absent from `oracleSql`
  * (approximate / sketch / custom-kernel ops) get the driver's weaker
  * rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core computation end-to-end: unstructured mesh →
    * row-walk containment → barycentric raster per timestep
    * (run/adcircTime2cogs.py:190-209). */
  def entry(spark: SparkSession): DataFrame =
    operators.Interp.qInterpBarycentric(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++
    operators.Joins.queries ++
    operators.Aggregates.queries ++
    operators.TextOps.queries ++
    operators.Dedup.queries ++
    operators.Similarity.queries ++
    operators.Interp.queries ++
    operators.Tpch.queries ++
    operators.Graph.queries ++
    multimodal.Multimodal.queries ++
    sources.Warc.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++
    operators.Joins.oracle ++
    operators.Aggregates.oracle ++
    operators.TextOps.oracle ++
    operators.Dedup.oracle ++
    operators.Similarity.oracle ++
    operators.Interp.oracle ++
    operators.Tpch.oracle ++
    operators.Graph.oracle ++
    multimodal.Multimodal.oracle ++
    sources.Warc.oracle
}

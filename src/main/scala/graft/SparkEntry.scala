package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in the registry is a `(SparkSession, sfDir) => DataFrame`
  * plus (when SQL-expressible) a DuckDB oracle over the same parquet
  * tables; column names are aligned between the two because the driver
  * sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape: scan → pushed filter → hash aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("a3_multikey_agg").run(spark, "/root/testdata/sf0.001")

  /** One entry per registered operator: the correctness dump carries every row. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approximate LSH/ANN variants, custom hashes, heuristic models) —
    * those are verified by ScalaTest specs instead.
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

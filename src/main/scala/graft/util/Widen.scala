package graft.util

import org.apache.spark.sql.DataFrame

/** Scan-widening for CPU-heavy per-row stages over few-split inputs.
  *
  * The sf test files are single-row-group parquet, so their scans are
  * one task no matter what `maxPartitionBytes` says — and any expensive
  * map chained onto the scan (regex extraction, containment scans,
  * per-window pair scoring) serialises onto one core. One round-robin
  * exchange of the (projected!) input restores full parallelism; the
  * registry's stage audit (`tools.Probe`'s 1-task flag) is the measurement that
  * decides where this is worth that exchange.
  *
  * At production scale a 100 TB table carries orders of magnitude more
  * splits than cores and the scan parallelises by itself — there this
  * call is a rebalance you can drop (or keep: a round-robin of the
  * pruned columns ahead of a CPU-bound stage also undoes file skew).
  * Project the columns you need BEFORE widening so the exchange moves
  * only them.
  */
object Widen {
  def cpuHeavy(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}

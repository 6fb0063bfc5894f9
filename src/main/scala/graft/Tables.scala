package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * Each loader is a plain `spark.read.parquet` — Catalyst pushes filters
  * and prunes columns into the scan, so callers never pre-materialise.
  * At cluster scale these would be partitioned tables; the API is the same.
  */
final class Tables(spark: SparkSession, dir: String) {
  /** Resolved through the shared relation memo ([[Tables.memo]]). */
  private def t(name: String): DataFrame =
    Tables.memo(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts has shifted across generator versions: TIMESTAMP(NANOS)
    * parquet (rejected by Spark 4 unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` turns it into a long of
    * nanos) and TIMESTAMP(us, isAdjustedToUTC=false) (read as
    * TIMESTAMP_NTZ). Normalize both to session-zoned TimestampType so
    * downstream `unix_micros`/window arithmetic sees one type. The NTZ→TZ
    * cast is lossless because the session timezone is pinned to UTC.
    */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/` (which is double and loses ns precision)
        raw.withColumn("ts",
          timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Resolved-relation memo (METADATA only — never data): a bare
    * `spark.read.parquet` re-resolves the relation on every call, and
    * parquet schema inference launches a footer-reading Spark job each
    * time — ~20-40 ms of driver+job overhead per table per query run,
    * which at a 358-query bench pass is tens of seconds of pure
    * re-inference of schemas that cannot change mid-run. A catalog
    * table (the cluster deployment) resolves schema from the metastore
    * once; this memo is the same thing for path tables. The cached
    * object is the resolved DataFrame (logical plan + file index);
    * every query still plans and computes from the parquet files.
    *
    * One memo serves base tables and SharedCache entry readers, so both
    * count against [[MaxRelations]]. Entries pin their SparkSession, so
    * a long-lived multi-session service would leak stopped sessions:
    * dead-session entries are dropped when the map fills, and a full
    * wipe only costs re-inference on next use. The harness mains (one
    * session, ≤ a few dirs × 10 tables plus cache entries) never reach
    * the cap, so bench behavior is unchanged.
    */
  private[graft] def memo(spark: SparkSession, path: String): DataFrame =
    if (sys.env.contains("SPARK_GRAFT_NO_RELCACHE")) spark.read.parquet(path)
    else {
      if (relationCache.size >= MaxRelations) {
        relationCache.keySet.removeIf(
          (k: (SparkSession, String)) => k._1.sparkContext.isStopped)
        if (relationCache.size >= MaxRelations) relationCache.clear()
      }
      relationCache.computeIfAbsent(
        (spark, path), _ => spark.read.parquet(path))
    }

  private[graft] val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      DataFrame]()

  /** Memo cap — far above any harness run's working set (sessions × dirs
    * × 10 tables), small enough that a runaway multi-session service
    * cannot leak unboundedly.
    */
  private[graft] val MaxRelations = 1024

  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}

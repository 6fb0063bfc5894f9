package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Names after the
  * two directories restrict the dump to those registry queries.
  *
  * Usage: graft.Verify <sf dir> <out dir> [names...]
  */
object Verify {
  /** Column types the driver's pandas canonicaliser cannot row-sort:
    * arrays/maps arrive as ndarrays/dicts (unhashable under lexsort) and
    * structs as dicts. Nested occurrences inside these are covered by
    * rejecting the top-level type.
    */
  def isUnhashable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "graft.Verify <sf dir> <out dir> [names...]"
    if (args.length < 2) {
      Console.err.println(s"usage: $usage")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    val selected =
      if (args.length == 2) SparkEntry.queries.toSeq
      else tools.Probe.named(args.toSeq.drop(2), usage).map(q => q.name -> q.run)
    val keep = selected.map(_._1).toSet
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // hermetic gate: start from a cold shared cache so a previous
    // process's materialisations (different SF, different logic version)
    // can never leak into the correctness run
    domain.SharedCache.clear(spark)
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Pre-flight schema lint (round-5 t_inverted_index postmortem):
        // raw array/map/struct columns hash fine in Spark but crash the
        // driver's pandas canonicaliser (ndarray is unhashable under
        // lexsort), silently voiding the query's oracle coverage. Reject
        // them at dump time for any ORACLED query so the failure is loud
        // and attributable at build time, not a null row in the report.
        if (SparkEntry.oracleSql.contains(name)) {
          val complex = df.schema.fields.collect {
            case f if Verify.isUnhashable(f.dataType) => f.name
          }
          if (complex.nonEmpty)
            throw new IllegalStateException(
              s"oracled query emits pandas-unhashable column(s) " +
                s"${complex.mkString(", ")} — join arrays to strings " +
                "(array_join) or hash them (xxhash64) in BOTH the query " +
                "and its oracle SQL")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        // A crashing query must surface as a FAILURE in the driver's
        // compare, not vanish: write a sentinel one-row result whose
        // schema can never match any oracle, so the report shows a
        // schema/hash mismatch for this name instead of dropping it.
        failed ::= name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        import spark.implicits._
        Seq((name, String.valueOf(e.getMessage).take(500)))
          .toDF("__graft_failed_query", "__graft_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: " +
        failed.reverse.mkString(", "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** The one way the program builds its engine: every main, tool and spec
  * gets its session here, so they all run on the same configuration.
  */
object Session {

  /** Cores from `SPARK_GRAFT_CPUS`, else every core of the host. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with one shuffle partition per core, AQE on,
    * UTC, nanosecond parquet timestamps read as longs (`Tables.events`
    * converts them) and the [[GraftExtensions]] SQL surface installed.
    * Like `getOrCreate`, it returns the running session when one exists:
    * static settings (master, extensions, the codegen cache) are fixed by
    * whichever call built it first.
    */
  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // static conf, must be set before the session exists: the default
      // 100-entry codegen class cache thrashes under a ~100-operator
      // registry (every eviction = a fresh Janino compile on the next
      // use). Sizing it to the workload cut the warm total 38% and the
      // cold total 20% at sf0.1; any long-running multi-operator
      // pipeline wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

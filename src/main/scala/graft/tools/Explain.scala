package graft.tools

/** Plan auditor: prints formatted physical plans for the named queries so
  * pushdown/broadcast/codegen can be eyeballed (and greps itself for the
  * anti-patterns).
  *
  * Usage: [SPARK_GRAFT_SF_DIR=<scale-factor dir>] runMain graft.tools.Explain <names...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val qs = Probe.named(args.toSeq,
      "[SPARK_GRAFT_SF_DIR=<scale-factor dir>] graft.tools.Explain <names...>")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs.foreach { q =>
      println(s"\n========== ${q.name} ==========")
      val df = q.run(spark, d)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

package graft.tools

import graft.Registry

/** r09 scale-probe (r08 VERDICT items 4 + 5): the queries whose round-8
  * optimizations were kept on a 100 TB argument that local sf0.1 numbers
  * could not settle (a32 one-build-vs-four, sim_kmeans one-scan-per-
  * iteration, j28/a40 regressions in the cross-machine pair), plus the
  * graph-BSP family whose "scheduler-bound at toy scale" claim needs a
  * measurement at a scale where per-round frames are real.
  *
  * Protocol: ScaleStress's shard-replicated warehouse at ×1 and ×10
  * (TPC-H sf1 equivalent, 32 parquet files per table so scans have real
  * splits), scaled embeddings for the kmeans row; per (query, scale)
  * three timed runs — run1 includes that scale's SharedCache builds
  * (cold), run2/run3 are steady-state. Generation excluded; one sf0.01
  * warmup per query so compiled plans are out of the timings.
  *
  * Run: `sbt "runMain graft.tools.ScaleTrades [sfDir] [factor] [names…]"`.
  */
object ScaleTrades {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    // hermetic: several targets memoise through SharedCache
    graft.domain.SharedCache.clear(spark)

    val scaleDir = "target/scale"
    new java.io.File(scaleDir).mkdirs()
    val defaults = Seq(
      "a32_association_lift", "j28_copurchase_projection",
      "a40_trimmed_mean", "a50_spearman", "sim_kmeans",
      "d28_sssp_bounded", "d32_temporal_reachability",
      "d20_link_prediction", "d25_betweenness_sampled", "d31_ktruss_peel")
    val names = if (args.length > 2) args.drop(2).toSeq else defaults

    val dir1 = graft.ScaleStress.warehouseDir(spark, sfDir, scaleDir, 1)
    val dirN = graft.ScaleStress.warehouseDir(spark, sfDir, scaleDir, factor)
    if (names.contains("sim_kmeans")) {
      graft.ScaleStress.scaledEmb(spark, sfDir, 1, s"$dir1/embeddings.parquet")
      graft.ScaleStress.scaledEmb(spark, sfDir, factor,
        s"$dirN/embeddings.parquet")
    }

    names.foreach(n =>
      Registry.byName(n).run(spark, s"$sfDir/../sf0.01").count())

    def sweep(): Unit = { System.gc(); Thread.sleep(300) }
    def runs(n: String, dir: String, label: String): Unit = {
      val ts = (1 to 3).map { _ =>
        sweep()
        val t0 = System.nanoTime()
        Registry.byName(n).run(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"query":"$n","scale":"$label","cold":${ts(0)}%.2f,"warm2":${ts(1)}%.2f,"warm3":${ts(2)}%.2f}""")
    }
    names.foreach(n => runs(n, dir1, "x1"))
    names.foreach(n => runs(n, dirN, s"x$factor"))
    spark.stop()
  }
}

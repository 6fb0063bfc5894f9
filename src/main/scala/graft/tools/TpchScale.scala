package graft.tools

import graft.Registry

/** The externally-quotable conformance scaling curve: every TPC-H and
  * SSB query timed at ×1 (sf0.1-shaped warehouse, ~600k lineitem) and
  * ×10 (~6M lineitem — TPC-H **sf1 equivalent**) on the shard-replicated
  * warehouse `ScaleStress.warehouseDir` builds (matching key offsets, so
  * join selectivities replicate per shard; nation/region fixed).
  *
  * Protocol mirrors ScaleStress: generation excluded from timings, one
  * warmup run per query at sf0.01 (compiled plans), then timed runs.
  * Prints one JSON line per (query, factor) and a ratio line per query;
  * SCALING.md records the table.
  *
  * Run: `sbt "runMain graft.tools.TpchScale [sfDir] [factor]"`.
  */
object TpchScale {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val scaleDir = "target/scale"
    new java.io.File(scaleDir).mkdirs()
    val names = Registry.all.map(_.name)
      .filter(n => n.startsWith("tpch_") || n.startsWith("ssb_"))
    // build both warehouses BEFORE any timing
    val dir1 = graft.ScaleStress.warehouseDir(spark, sfDir, scaleDir, 1)
    val dirN = graft.ScaleStress.warehouseDir(spark, sfDir, scaleDir, factor)
    // one compiled-plan warmup per query on the small tables
    names.foreach(n =>
      Registry.byName(n).run(spark, s"$sfDir/../sf0.01").count())

    def time(n: String, dir: String): Double = {
      val t0 = System.nanoTime()
      Registry.byName(n).run(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val rows = names.map { n =>
      val t1 = time(n, dir1)
      val tN = time(n, dirN)
      println(f"""{"query":"$n","x1_sec":$t1%.2f,"x$factor%d_sec":$tN%.2f,"ratio":${tN / t1}%.2f}""")
      (n, t1, tN)
    }
    val (s1, sN) = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"""{"query":"TOTAL","x1_sec":$s1%.2f,"x$factor%d_sec":$sN%.2f,"ratio":${sN / s1}%.2f,"n":${rows.length}}""")
    spark.stop()
  }
}

package graft.tools

import graft.Q

/** Scaling curve of the named registry queries: [[Probe.run]] over the
  * shard-replicated warehouse `ScaleStress.warehouseDir` builds from
  * `sfDir` at ×1 and at ×factor (matching key offsets, so join
  * selectivities replicate per shard; nation/region stay fixed), with
  * `ScaleStress.scaledEmb` embeddings beside the tables. Generation is
  * excluded from the timings. An untimed runner pass over ×1 comes first,
  * so the JIT and codegen are warm before anything is timed; then one
  * runner call times each query at ×1 and right after at ×factor, in
  * every pass (timing the scales one after the other read ×2 faster than
  * ×1: the later scale ran in a warmer JVM). The cache is cleared after
  * the warmup, so each cold run carries its own SharedCache builds.
  * Scaled inputs are kept under
  * `target/scale/<source dir name>/` and reused.
  *
  * Prints one JSON line per (query, scale) with the cold time and the warm
  * count and noop medians, a ratio line per query, and TOTAL lines over
  * the queries that succeeded at both scales; a failing query fails the
  * run. Resolution: ×1 against itself (factor 1) read TOTAL ratios of
  * 0.92–0.97 at sf0.01 and sf0.1 on 4 cores, so a ratio that close to 1
  * says the data growth is below the scheduling floor, not that it is
  * free. SCALING.md records the tables.
  *
  * Run: `sbt "runMain graft.tools.Scale <sfDir> <factor> <names...>"`.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val usage = "graft.tools.Scale <sf dir> <factor> <names...>"
    val factor = args.lift(1).flatMap(_.toIntOption).filter(_ >= 1).getOrElse {
      Console.err.println(s"usage: $usage")
      sys.exit(2)
    }
    val sfDir = args(0)
    val qs = Probe.named(args.drop(2).toSeq, usage)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val scales = Seq(1, factor)
    // build every scaled input BEFORE any timing
    val dirs = scales.map { x =>
      val dir = graft.ScaleStress.warehouseDir(spark, sfDir, "target/scale", x)
      graft.ScaleStress.scaledEmb(spark, sfDir, x, s"$dir/embeddings.parquet")
      dir
    }
    Probe.run(spark, dirs.head, qs) // warmup, discarded
    graft.domain.SharedCache.clear(spark)
    // one run holding each query once per scale, side by side in every
    // pass, so JIT and host drift reach every scale alike
    val perScale = for (q <- qs; (x, dir) <- scales.zip(dirs))
      yield Q(s"${q.name}@x$x", (s, _) => q.run(s, dir), None)
    val byQuery = qs.map(_.name)
      .zip(Probe.run(spark, sfDir, perScale).results.grouped(scales.size).toSeq)
    spark.stop()

    for ((n, rs) <- byQuery; (x, r) <- scales.zip(rs)) r.error match {
      case Some(e) => Console.err.println(s"scale: $n failed at x$x: $e")
      case None => println(f"""{"query":"$n","scale":"x$x","cold":${r.cold}%.2f,"count":${r.countMedian}%.2f,"noop":${r.noopMedian}%.2f}""")
    }
    // ratios and totals over the queries that succeeded at both scales
    val ok = byQuery.filter(_._2.forall(_.error.isEmpty))
    def ratio(name: String, one: Seq[Probe.Result], n: Seq[Probe.Result]): Unit =
      println(f"""{"query":"$name","count_ratio":${n.map(_.countMedian).sum / one.map(_.countMedian).sum}%.2f,"noop_ratio":${n.map(_.noopMedian).sum / one.map(_.noopMedian).sum}%.2f}""")
    ok.foreach { case (n, rs) => ratio(n, Seq(rs.head), Seq(rs.last)) }
    for ((x, i) <- scales.zipWithIndex) {
      val rs = ok.map(_._2(i))
      println(f"""{"query":"TOTAL","scale":"x$x","cold":${rs.map(_.cold).sum}%.2f,"count":${rs.map(_.countMedian).sum}%.2f,"noop":${rs.map(_.noopMedian).sum}%.2f,"n":${rs.size}}""")
    }
    ratio("TOTAL", ok.map(_._2.head), ok.map(_._2.last))
    val failed = byQuery.collect { case (n, rs) if rs.exists(_.error.nonEmpty) => n }
    if (failed.nonEmpty) {
      Console.err.println(s"scale FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}

package graft.tools

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling curve of the named registry queries: [[Probe.run]] over the
  * ×1 and ×factor sf directories [[warehouse]] builds from `sfDir`.
  * Generation is excluded from the timings. An untimed runner pass over
  * ×1 comes first, so the JIT and codegen are warm before anything is
  * timed; then one runner call times each query at ×1 and right after at
  * ×factor, in every pass (timing the scales one after the other read ×2
  * faster than ×1: the later scale ran in a warmer JVM). The cache is
  * cleared after the warmup, so each cold run carries its own SharedCache
  * builds. Scaled directories are kept under
  * `target/scale/<source dir name>/wh_x<f>` and reused.
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

  /** Every table [[graft.Tables]] reads. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** True dimensions, copied unchanged. */
  private val fixed = Set("region", "nation")

  /** Per-shard key offsets: each shard's copy of a key column adds
    * shard × its stride, so the copies' key spaces are disjoint and every
    * per-key structure (a user's events, an order's lines, a customer's
    * versions) replicates ×f instead of merging. A foreign key has its
    * primary key's stride, so join selectivities replicate per shard;
    * `doc_id` and `vec_id` share one, since `t_hybrid_retrieval` fuses
    * them. Customer keys step by 1e8, not 1e7, because
    * `d32_temporal_reachability` numbers suppliers from 1e7 up: at 1e7,
    * shard 1's customers would be shard 0's suppliers.
    */
  private val strides: Map[String, Long] = Map(
    "event_id" -> 1000000000000L, "user_id" -> 100000000L,
    "o_orderkey" -> 1000000000L, "l_orderkey" -> 1000000000L,
    "o_custkey" -> 100000000L, "c_custkey" -> 100000000L,
    "l_partkey" -> 100000000L, "p_partkey" -> 100000000L,
    "l_suppkey" -> 1000000L, "s_suppkey" -> 1000000L,
    "doc_id" -> 100000000L, "vec_id" -> 100000000L)

  /** `src` ×f: one copy per shard, each column named in [[strides]]
    * offset, the others copied as they are except where a verbatim copy
    * would multiply every duplicate group's size and inflate the pair
    * space quadratically (a different workload, not a bigger one):
    *  - `text`: shard i inserts the token `shard<i>` after every 10 words.
    *    Two near-duplicates in one shard get the same insertions, so their
    *    Jaccard stays about the same; across shards the tokens differ in
    *    every shingle window, which drops a document's cross-shard Jaccard
    *    to about 0.6, under the 0.8 threshold: pairs scale ×f, not ×f².
    *    `n_chars` is the new text's length.
    *  - `p_name`: shard i appends its index. Names are two words, so the
    *    suffix rides inside both j13's last-word blocks and j25's
    *    first-two-word blocks: block count ×f at constant block size, and
    *    a within-block pair keeps its edit distance.
    *  - `embedding`: a per-shard elementwise perturbation, so copies are
    *    distinct vectors with the same scale and labels (exact copies
    *    would collapse ANN ranking into tie-breaks).
    * Every shard, shard 0 included, gets the same treatment, so ×1 and ×f
    * carry the same perturbation and their ratio isolates size.
    */
  private def scaled(src: DataFrame, f: Int): DataFrame = {
    val shard = col("shard")
    val words = split(col("text"), " ")
    val text = concat_ws(" ", flatten(transform(
      sequence(lit(0), greatest((size(words) + 9) / 10 - 1, lit(0)).cast("int")),
      i => concat(slice(words, i * 10 + 1, lit(10)),
        array(concat(lit("shard"), shard))))))
    def column(c: String): Column = c match {
      case "text" => text
      case "n_chars" => length(text).cast("long")
      case "p_name" => concat(col(c), shard)
      case "embedding" => expr("""transform(embedding, (x, i) ->
          |  CAST(x + 0.01d * ((shard * 31 + i) % 7 - 3) AS FLOAT))""".stripMargin)
      case _ => strides.get(c).fold(col(c))(k => col(c) + shard.cast("long") * k)
    }
    src.crossJoin(src.sparkSession.range(f).select(col("id").cast("int").as("shard")))
      .select(src.columns.toSeq.map(c => column(c).as(c)): _*)
      .repartition(32)
  }

  /** Where inputs scaled from `sfDir` live under `root`: one directory
    * per source, named after it, so a run over one scale factor never
    * reads inputs scaled from another.
    */
  private[graft] def scaleDirOf(root: String, sfDir: String): String =
    s"$root/${new java.io.File(sfDir).getCanonicalFile.getName}"

  /** The ×f sf directory of `sfDir` under `root`: all of [[tables]] with
    * every column, the dimensions fixed and the others [[scaled]], so
    * registry queries, Verify and `tools/check.py` run on it as they are.
    * A table is built unless its own `_SUCCESS` marker exists, so a
    * directory that an interrupted or older run left is completed, not
    * trusted.
    */
  def warehouse(spark: SparkSession, sfDir: String, root: String,
      f: Int): String = {
    val dir = s"${scaleDirOf(root, sfDir)}/wh_x$f"
    for (t <- tables if !new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists) {
      val src = spark.read.parquet(s"$sfDir/$t.parquet")
      (if (fixed(t)) src else scaled(src, f))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
    dir
  }

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
    val dirs = scales.map(warehouse(spark, sfDir, "target/scale", _))
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

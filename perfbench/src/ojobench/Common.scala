package ojobench

import graft.Tables
import graft.domain.SharedCache
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.io.File
import java.nio.file.{Files, Paths}

object Inputs {
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The input tables under a path of their own for setup repetition
    * `rep`, resolved through `graft.Tables`. A fresh path per repetition
    * makes each one pay table resolution again, as a fresh process would.
    */
  def resolve(ctx: Ctx, rep: Int): String = {
    val alias = Paths.get(ctx.path("inputs", s"rep$rep"))
    Files.createDirectories(alias.getParent)
    if (!Files.exists(alias)) Files.createSymbolicLink(alias, Paths.get(ctx.data))
    val t = Tables(ctx.spark, alias.toString)
    ctx.tracer.span("tables.resolve") {
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.embeddings)
    }
    alias.toString
  }
}

object Cache {
  private def entries(root: String, name: String): Seq[File] =
    Option(new File(root).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(name + "-") && f.isDirectory)

  /** A hit means the entry's `_SUCCESS` marker existed before the call. */
  private def complete(root: String, name: String): Boolean =
    entries(root, name).exists(d => new File(d, "_SUCCESS").exists())

  /** `SharedCache.materialiseWith` under a span named for the outcome;
    * a build records the entry's bytes and file count.
    */
  def cached(ctx: Ctx, root: String, name: String)(
      build: => DataFrame): DataFrame = {
    val tr = ctx.tracer
    val hit = tr.enabled && complete(root, name)
    tr.span(if (hit) "shared_cache.hit" else "shared_cache.build") {
      val df = SharedCache.materialiseWith(ctx.spark, root, name,
        s"${ctx.data}|$name|v1")(build)
      if (tr.enabled && !hit) {
        val files = entries(root, name).flatMap(d =>
          Option(d.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")))
        tr.note("bytes", files.map(_.length).sum.toDouble)
        tr.note("files", files.size.toDouble)
      }
      df
    }
  }
}

object Io {
  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new File(path))
}

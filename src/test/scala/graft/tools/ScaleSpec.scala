package graft.tools

import graft.{Registry, SparkSpec}
import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll

import java.io.File
import java.nio.file.Files

/** The ×N sf directory [[Scale.warehouse]] builds: complete, key-unique,
  * rebuilt where a table lacks its `_SUCCESS` marker, and readable by
  * registry rows on every table.
  */
class ScaleSpec extends SparkSpec with BeforeAndAfterAll {
  private val root = Files.createTempDirectory("graft_scale").toString
  private lazy val x2 = Scale.warehouse(spark, sf("sf0.001"), root, 2)

  override def afterAll(): Unit = {
    try FileUtils.deleteDirectory(new File(root)) finally super.afterAll()
  }

  private def rows(dir: String, t: String): Long =
    spark.read.parquet(s"$dir/$t.parquet").count()

  test("scaled warehouses are keyed by their source directory") {
    val small = Scale.warehouse(spark, sf("sf0.001"), root, 2)
    val big = Scale.warehouse(spark, sf("sf0.01"), root, 2)
    assert(rows(small, "lineitem") == 2 * rows(sf("sf0.001"), "lineitem"))
    assert(rows(big, "lineitem") == 2 * rows(sf("sf0.01"), "lineitem"))
    assert(rows(small, "lineitem") != rows(big, "lineitem"))
  }

  test("x2 holds every table: facts at twice their rows, nation and region unchanged") {
    for (t <- Scale.tables) {
      assert(new File(s"$x2/$t.parquet/_SUCCESS").exists, t)
      val want = if (Set("nation", "region")(t)) 1 else 2
      assert(rows(x2, t) == want * rows(sf("sf0.001"), t), t)
      assert(spark.read.parquet(s"$x2/$t.parquet").columns.toSeq ==
        spark.read.parquet(sf("sf0.001") + s"/$t.parquet").columns.toSeq, t)
    }
  }

  test("x2 keys stay unique: no key collides across shards") {
    def keys(dir: String, t: String, key: Seq[String]): (Long, Long) = {
      val df = spark.read.parquet(s"$dir/$t.parquet")
      (df.select(key.map(df.col): _*).distinct().count(), df.count())
    }
    for ((t, key) <- Seq("orders" -> Seq("o_orderkey"),
        "lineitem" -> Seq("l_orderkey", "l_linenumber"),
        "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
        "embeddings" -> Seq("vec_id"), "part" -> Seq("p_partkey"),
        "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"))) {
      val (distinct, n) = keys(x2, t, key)
      val (srcDistinct, srcN) = keys(sf("sf0.001"), t, key)
      assert(distinct == 2 * srcDistinct, t)
      // the generator repeats some (l_orderkey, l_linenumber) pairs; every
      // other key is unique in the source and so stays unique at x2
      if (srcDistinct == srcN) assert(distinct == n, t)
      else assert(t == "lineitem")
    }
  }

  test("a directory holding only some tables is completed, not trusted") {
    val partial = Files.createTempDirectory("graft_scale_partial").toString
    try {
      val dir = Scale.warehouse(spark, sf("sf0.001"), partial, 2)
      // an interrupted build: one table gone, one written at the wrong
      // size without its marker, and a directory-level marker from an
      // older layout
      FileUtils.deleteDirectory(new File(s"$dir/events.parquet"))
      spark.read.parquet(sf("sf0.001") + "/lineitem.parquet")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      new File(s"$dir/lineitem.parquet/_SUCCESS").delete()
      new File(s"$dir/_done").createNewFile()
      assert(Scale.warehouse(spark, sf("sf0.001"), partial, 2) == dir)
      for (t <- Seq("events", "lineitem")) {
        assert(new File(s"$dir/$t.parquet/_SUCCESS").exists, t)
        assert(rows(dir, t) == 2 * rows(sf("sf0.001"), t), t)
      }
    } finally FileUtils.deleteDirectory(new File(partial))
  }

  test("rows on documents and on events run on x2") {
    for (name <- Seq("t_bursty_terms", "a100_meta_analysis"))
      assert(Registry.byName(name).run(spark, x2).count() > 0, name)
  }
}

package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session factory's contract, and the custom expressions reachable
  * from pure SQL through the extensions it installs.
  */
class GraftExtensionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def asOfPair = {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("k", "t", "lid")
    val r = Seq((1L, 5L, 200L)).toDF("rk", "rt", "rid")
    graft.plans.AsOfJoin.backward(l, r, "k", "rk", "t", "rt")
  }

  test("factory contract: local[4], the program's settings, SQL and planner surface") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sql("SELECT simhash64('a b c')").head().getLong(0) ==
      graft.functions.TextSketches.simhash64(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    // no register call: backward attaches its strategy at the use site
    val df = asOfPair
    df.collect()
    assert(collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: graft.plans.AsOfJoinExec => e
    }.nonEmpty, "the as-of strategy did not claim the node")
  }

  test("graft.Session is the only session builder under src/") {
    val needle = "SparkSession" + ".builder"
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(src)
    val hits = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.ISO_8859_1).contains(needle))
      .map(p => src.relativize(p).toString).toSeq
    finally walk.close()
    assert(hits == Seq("main/scala/graft/Session.scala"))
  }

  test("SQL surface: sketches, jaccard, vector ops") {
    val row = spark.sql(
      """SELECT
        |  rolling_hash('abc') AS rh,
        |  simhash64('a b c') AS sh,
        |  size(minhash_signature('a b c d')) AS msize,
        |  jaccard_sorted(sorted_shingle_hashes('a b c', 2),
        |                 sorted_shingle_hashes('a b c', 2)) AS j,
        |  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        |  vec_l1(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS l1
        |""".stripMargin).head()
    import org.apache.spark.unsafe.types.UTF8String
    assert(row.getLong(0) ==
      graft.functions.RollingHash.hash(UTF8String.fromString("abc")))
    assert(row.getLong(1) ==
      graft.functions.TextSketches.simhash64(UTF8String.fromString("a b c")))
    assert(row.getInt(2) == 64)
    assert(row.getDouble(3) == 1.0)
    assert(row.getDouble(4) == 11.0)
    assert(row.getDouble(5) == 4.0)
  }

  test("SQL surface: hash-family and normalisation functions") {
    import org.apache.spark.unsafe.types.UTF8String
    val row = spark.sql(
      """SELECT hll_hash('abc') AS hh, fnv1a64('abc') AS fn,
        |  nfc_normalize('café') AS nfc""".stripMargin).head()
    assert(row.getLong(0) ==
      graft.functions.TextSketches.hllHash(UTF8String.fromString("abc")))
    assert(row.getLong(1) ==
      graft.functions.TextSketches.fnv1a64(UTF8String.fromString("abc")))
    assert(row.getString(2) == "café")
  }

  test("SQL surface: hilbert_key matches the static walk") {
    val row = spark.sql("SELECT hilbert_key(17L, 200L) AS hk").head()
    assert(row.getLong(0) == graft.functions.Hilbert.xy2d(17L, 200L))
  }

  test("planner surface: the as-of strategy is injected") {
    val got = asOfPair
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.toSeq == Seq((100L, 200L)))
  }
}

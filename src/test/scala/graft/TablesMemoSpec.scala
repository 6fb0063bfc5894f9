package graft

/** The resolved-relation memo must stay METADATA-bounded (r08 VERDICT
  * "what's wrong" §5): its keys pin SparkSession + DataFrame strongly, so
  * without a cap a long-lived multi-session service leaks every stopped
  * session's plans. Eviction is allowed to be crude (a wipe only costs
  * schema re-inference); what matters is the bound.
  */
class TablesMemoSpec extends SparkSpec {

  test("relation memo evicts at the cap instead of growing unboundedly") {
    val df = spark.range(1).toDF("x")
    (0 to Tables.MaxRelations + 5).foreach(i =>
      Tables.relationCache.put((spark, s"synthetic/$i"), df))
    // next lookup must both evict and still resolve the real table
    val o = Tables(spark, sf("sf0.01")).orders
    assert(o.columns.contains("o_orderkey"))
    assert(Tables.relationCache.size <= Tables.MaxRelations)
  }

  test("shared-cache entry readers count against the same cap") {
    val df = spark.range(1).toDF("x")
    (0 until Tables.MaxRelations).foreach(i =>
      Tables.relationCache.put((spark, s"synthetic/$i"), df))
    val root = java.nio.file.Files.createTempDirectory("memo").toString
    val entry = domain.SharedCache.materialise(spark.range(3).toDF("x"),
      root, "entry")
    assert(entry.count() == 3)
    assert(Tables.relationCache.size <= Tables.MaxRelations)
    assert(Tables.relationCache.keySet.stream()
      .anyMatch(_._2.startsWith(s"$root/entry-")))
    Tables.relationCache.keySet.removeIf(_._2.startsWith("synthetic/"))
  }
}

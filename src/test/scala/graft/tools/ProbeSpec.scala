package graft.tools

import graft.SparkSpec

class ProbeSpec extends SparkSpec {

  test("each pass is timed and its stages stay in the query's own job groups") {
    val names = Seq("a3_multikey_agg", "a5_topn_most_common")
    val seen = Seq.newBuilder[String]
    val rs = Probe.run(spark, sf("sf0.001"), names)(r => seen += r.name)
    assert(seen.result() == names)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the probe must leave no job group behind")
    rs.foreach { r =>
      assert(r.error.isEmpty, r.error)
      assert(r.cold > 0 && r.count > 0 && r.noop > 0, r)
      assert(r.stages.exists(_.pass == "count"), s"${r.name}: no warm count stage")
      assert(r.stages.forall(s => Seq("cold", "pin", "count", "noop")
        .map(p => s"probe/${r.name}/$p").contains(s.group)), r.stages)
    }
    val ids = rs.flatMap(_.stages.map(_.id))
    assert(ids.distinct.size == ids.size, "a stage is attributed twice")
  }
}

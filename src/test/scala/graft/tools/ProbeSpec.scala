package graft.tools

import graft.{Q, Registry, SparkSpec}

class ProbeSpec extends SparkSpec {
  private val names = Seq("a3_multikey_agg", "a5_topn_most_common")
  private val boom =
    Q("probe_spec_boom", (_, _) => throw new IllegalStateException("boom"), None)
  private val overflow =
    Q("probe_spec_overflow", (_, _) => throw new StackOverflowError("deep"), None)
  private val passes = Seq("cold", "pin") ++
    (1 to Probe.WarmPasses).flatMap(i => Seq(s"count$i", s"noop$i"))

  // one run shared by the tests: the two real queries around two queries
  // that throw in their cold pass
  private lazy val run = Probe.run(spark, sf("sf0.001"),
    Seq(Registry.byName(names(0)), boom, overflow, Registry.byName(names(1))))
  private def ok = run.results.filter(_.error.isEmpty)

  test("each pass is timed and its stages stay in the query's own job groups") {
    assert(run.results.map(_.name) == Seq(names(0), boom.name, overflow.name, names(1)))
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the probe must leave no job group behind")
    assert(ok.map(_.name) == names)
    ok.foreach { r =>
      assert(r.cold > 0 && r.count.forall(_ > 0) && r.noop.forall(_ > 0), r)
      assert(r.stages.exists(_.pass == "count1"), s"${r.name}: no warm count stage")
      assert(r.stages.forall(s => passes.map(p => s"probe/${r.name}/$p").contains(s.group)),
        r.stages)
    }
    val ids = run.results.flatMap(_.stages.map(_.id))
    assert(ids.distinct.size == ids.size, "a stage is attributed twice")
  }

  test("passes run pass-major: every query's cold stages complete before any pin stage") {
    // a pass = its timed runs; a warm pass times count then noop per query
    val blocks = Seq(Set("cold"), Set("pin")) ++
      (1 to Probe.WarmPasses).map(i => Set(s"count$i", s"noop$i"))
    val ids = blocks.map(b => ok.flatMap(_.stages).filter(s => b(s.pass)).map(_.id))
    ids.foreach(b => assert(b.nonEmpty, ids))
    ids.sliding(2).foreach { case Seq(a, b) =>
      assert(a.max < b.min, s"passes overlap: $ids")
    }
  }

  test("count and noop each carry one timed rep per warm pass") {
    assert(Probe.WarmPasses == 3)
    ok.foreach { r =>
      assert(r.count.size == 3 && r.noop.size == 3, r)
      assert(r.countMedian == r.count.sorted.apply(1) && r.noopMedian == r.noop.sorted.apply(1))
    }
  }

  test("a query that throws is reported with its error; the others finish every pass") {
    val r = run.results.find(_.name == boom.name).get
    assert(r.error.exists(_.contains("IllegalStateException: boom")), r.error)
    assert(r.count.isEmpty && r.noop.isEmpty && r.stages.isEmpty, r)
    assert(ok.size == 2)
  }

  test("a StackOverflowError fails only its query, not the run") {
    val r = run.results.find(_.name == overflow.name).get
    assert(r.error.exists(_.contains("StackOverflowError: deep")), r.error)
    assert(r.count.isEmpty && r.noop.isEmpty, r)
  }
}

package graft.dedup

/** Incremental CC ≡ full recompute, including fresh nodes and chains
  * that merge THROUGH the delta — under both CC finishes.
  */
class IncrementalCcSpec extends CcFinishes {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]) =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  bothFinishes("delta merging two old components and adding new nodes") {
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val labels0 = ConnectedComponents.run(base.toDF("src", "dst"))
    // delta: bridges components {1,2,3} and {10,11}; attaches fresh
    // node 99 to {20,21}; a fresh isolated pair (50,51)
    val delta = Seq((3L, 10L), (99L, 21L), (50L, 51L))
    val got = ConnectedComponents
      .incremental(labels0, delta.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = cc(base ++ delta)
    assert(got == want)
    assert(got(11L) == 1L && got(99L) == 20L && got(51L) == 50L)
  }

  bothFinishes("chain of deltas each collapsing through prior labels") {
    // components merge transitively ACROSS deltas: 1-2, then 3-4, then
    // 2-3 must unite all four under min id 1
    var labels = ConnectedComponents.run(Seq((1L, 2L)).toDF("src", "dst"))
    labels = ConnectedComponents.incremental(labels,
      Seq((3L, 4L)).toDF("src", "dst"))
    labels = ConnectedComponents.incremental(labels,
      Seq((2L, 3L)).toDF("src", "dst"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }
}

/** Bounded BFS: min-distance semantics on branching/cyclic graphs. */
class KHopSpec extends graft.SparkSpec {
  import spark.implicits._

  test("min distance wins across multiple paths; radius truncates") {
    // diamond + tail:  1-2, 1-3, 2-4, 3-4, 4-5, 5-6, 6-7 ; seed {1}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L))
    val got = KHop.distances(edges.toDF("src", "dst"),
        Seq(Tuple1(1L)).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    // 6 and 7 are beyond the radius
    assert(!got.contains(6L) && !got.contains(7L))
  }

  test("multi-source: a node takes the nearest seed") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = KHop.distances(edges.toDF("src", "dst"),
        Seq(Tuple1(1L), Tuple1(5L)).toDF("id"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(3L) == 2 && got(2L) == 1 && got(4L) == 1)
  }
}

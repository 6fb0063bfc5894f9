package graft.dedup

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Correctness of both CC finishes on hand-computable graphs (chains
  * stress O(log n) convergence; stars, forests, isolated nodes cover the
  * contract edges), plus a seeded random-graph property against a plain
  * union-find for Long and String ids.
  */
class ConnectedComponentsSpec extends CcFinishes {

  private def labels(dt: DataType, edges: Seq[(Any, Any)],
      nodes: Option[Seq[Any]]): Map[Any, Any] = {
    def frame(cols: Seq[String], rows: Seq[Row]) = spark.createDataFrame(
      rows.asJava, StructType(cols.map(StructField(_, dt))))
    val e = frame(Seq("src", "dst"), edges.map { case (a, b) => Row(a, b) })
    val n = nodes.map(ns => frame(Seq("id"), ns.map(Row(_))))
    ConnectedComponents.run(e, n).collect()
      .map(r => r.get(0) -> r.get(1)).toMap
  }

  private def cc(edges: Seq[(Long, Long)],
      nodes: Option[Seq[Long]] = None): Map[Any, Any] =
    labels(LongType, edges, nodes)

  bothFinishes("single chain collapses to min label") {
    val got = cc((1L to 9L).sliding(2).map(s => (s(1), s.head)).toSeq)
    assert(got == (1L to 9L).map(_ -> 1L).toMap)
  }

  bothFinishes("two components stay separate") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  bothFinishes("star graph, self-loops and duplicate edges tolerated") {
    val got = cc(
      Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 5L), (5L, 1L), (1L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  bothFinishes("isolated nodes from the node universe become singletons") {
    val got = cc(Seq((1L, 2L)), Some(Seq(1L, 2L, 7L, 8L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 8L))
  }

  bothFinishes("long chain (diameter 63) converges within iteration budget") {
    val got = cc((100L to 163L).sliding(2).map(s => (s.head, s(1))).toSeq)
    assert(got.values.toSet == Set(100L))
  }

  // U+FF61 is EF BD A1 in UTF-8 but 0xFF61 in UTF-16; U+1F600 is F0 9F 98 80
  // in UTF-8 but the surrogate 0xD83D first in UTF-16 — so Spark's min
  // (UTF-8 bytes) and java.lang.String#compareTo (UTF-16) disagree
  private val Halfwidth = "\uFF61"
  private val Emoji = "\uD83D\uDE00"

  bothFinishes("string roots follow Spark's UTF-8 order, not UTF-16") {
    assert(Emoji.compareTo(Halfwidth) < 0)
    val got = labels(StringType, Seq((Emoji, Halfwidth)), None)
    assert(got == Map(Emoji -> Halfwidth, Halfwidth -> Halfwidth))
  }

  /** Plain union-find; the root is the min id under `lt`. */
  private def reference(nodes: Seq[Any], edges: Seq[(Any, Any)],
      lt: (Any, Any) => Boolean): Map[Any, Any] = {
    val parent = collection.mutable.Map[Any, Any]()
    def find(x: Any): Any = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(x => x -> find(x)).toMap
  }

  /** n ≤ 60 nodes wired as chains, stars and random trees (a forest),
    * plus a few random extra edges; some nodes stay isolated. Returns
    * edges over node indices.
    */
  private def randomGraph(rnd: Random): (Int, Seq[(Int, Int)]) = {
    val n = 10 + rnd.nextInt(51)
    val order = rnd.shuffle((0 until n).toVector)
    val edges = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < n) {
      val size = math.min(n - i, 1 + rnd.nextInt(12))
      val part = order.slice(i, i + size)
      rnd.nextInt(4) match {
        case 0 => edges ++= part.sliding(2).collect { case Seq(a, b) => (a, b) }
        case 1 => edges ++= part.tail.map(part.head -> _)
        case 2 => edges ++= part.indices.tail.map(k =>
          part(k) -> part(rnd.nextInt(k)))
        case _ => () // isolated nodes
      }
      i += size
    }
    edges ++= Seq.fill(rnd.nextInt(4))((rnd.nextInt(n), rnd.nextInt(n)))
    (n, edges.result())
  }

  /** (name, type, draw an id, Spark's order on the type) */
  private val idTypes
      : Seq[(String, DataType, Random => Any, (Any, Any) => Boolean)] = Seq(
    ("Long", LongType, (r: Random) => r.nextLong(),
      (a: Any, b: Any) => a.asInstanceOf[Long] < b.asInstanceOf[Long]),
    // the first character decides most components' min, and it is one of
    // the two whose UTF-8 and UTF-16 orders disagree
    ("String", StringType,
      (r: Random) => Seq(Halfwidth, Emoji)(r.nextInt(2)) +
        Seq.fill(r.nextInt(4))(
          Seq("a", "B", "é", Halfwidth, Emoji)(r.nextInt(5))).mkString,
      (a: Any, b: Any) => java.util.Arrays.compareUnsigned(
        a.asInstanceOf[String].getBytes(UTF_8),
        b.asInstanceOf[String].getBytes(UTF_8)) < 0))

  for ((tname, dt, draw, lt) <- idTypes)
    test("driver union-find, distributed loop and a plain union-find" +
        s" agree on random graphs ($tname ids)") {
      for (seed <- 1 to 4) {
        val rnd = new Random(seed)
        val (n, idx) = randomGraph(rnd)
        val ids = Iterator.continually(draw(rnd)).distinct.take(n).toVector
        val edges = idx.map { case (a, b) => (ids(a), ids(b)) }
        val want = reference(ids, edges, lt)
        val local = labels(dt, edges, Some(ids))
        val loop = onLoop(labels(dt, edges, Some(ids)))
        assert(local == want, s"seed=$seed")
        assert(loop == want, s"seed=$seed")
      }
    }
}

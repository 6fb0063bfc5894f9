package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

/** Connected components over an edge-list DataFrame.
  *
  * The reference materialises the whole similarity graph on one machine
  * and runs `networkx.connected_components` (dqa/data_getters.py:312-320)
  * — the single clearest place its design cannot scale. Here: the
  * alternating **large-star / small-star** algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), which
  * converges in O(log n) rounds of pure `groupBy`/`join` — no
  * GraphFrames dependency.
  *
  * Small graphs finish on the driver instead: once the symmetrized,
  * deduplicated edge set is materialised, an edge count of at most
  * [[driverMaxEdges]] (500,000) is collected and labelled with a
  * union-find. Each round of the loop costs ~11 Spark jobs of fixed
  * scheduling cost whatever the graph size, and in local mode on 4 cores
  * the driver finish was faster at every size measured (2,000 to 8M
  * edges), so the bound is set by driver memory, not by a time
  * crossover. Graphs over the bound pay no extra job for the check.
  *
  * Scale posture: each round is two hash aggregations + one join on the
  * edge list; lineage is cut every round with `localCheckpoint` so plans
  * don't grow unboundedly (on a real cluster, set a checkpoint dir and
  * use `checkpoint` for fault-tolerance instead).
  */
object ConnectedComponents {

  /** `run`, memoized through [[graft.domain.SharedCache]] keyed on the
    * canonicalized edge/node plans plus a logic-version tag: composed
    * pipelines that reuse one duplicate graph (snapshot reads, weekly
    * indicators, cluster exemplars — the reference passes its cached
    * `get_subgraphs` between flow steps the same way) pay the iterative
    * loop once per distinct edge set, not once per query. Bump the
    * version tag whenever the algorithm in `run` changes.
    *
    * Pass `key` when the edge plan contains an RDD-backed leaf (a
    * checkpoint/localCheckpoint barrier): such leaves have NO content
    * identity, so the derived plan key changes per invocation and the
    * cache would never hit. The caller then supplies a key derived from
    * the barrier's INPUTS (e.g. `planKey` of the source table + the
    * pipeline's parameters).
    */
  def cached(edges: DataFrame, nodeSet: Option[DataFrame] = None,
      maxIterations: Int = 50, key: Option[String] = None): DataFrame = {
    val k = Seq("cc-largestar-v2",
      key.getOrElse(Seq(graft.domain.SharedCache.planKey(edges),
        nodeSet.map(graft.domain.SharedCache.planKey).getOrElse("endpoints"))
        .mkString("|")),
      maxIterations.toString).mkString("|")
    graft.domain.SharedCache.materialiseWith(edges.sparkSession,
      graft.domain.SharedCache.defaultRoot, "cc", k)(
      run(edges, nodeSet, maxIterations))
  }

  /** Lineage barrier between rounds: `checkpoint` (fault-tolerant, HDFS)
    * when the context has a checkpoint dir configured — the cluster-mode
    * setting — else `localCheckpoint` (fast, executor-local). Same API
    * shape as GraphFrames' AggregateMessages pregel loop.
    *
    * Lazy (`eager = false`): the convergence-signature aggregation that
    * immediately follows each round is the materializing action, so a
    * round costs ONE job, not a checkpoint job plus a signature job.
    */
  private def barrier(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(false)
    else df.localCheckpoint(false)

  /** Largest symmetrized edge count the driver union-find labels; larger
    * graphs, and ids other than Long, Int and String, run the loop.
    * Fixed, not tied to any Spark setting, and sized by driver memory:
    * the collected edges plus the parent map hold ≈120 bytes per edge
    * with Long ids and ≈220 with 32-character string ids, so 60–110 MB
    * at the bound, inside Spark's default 1 GB driver heap. Specs force
    * the loop with `driverMaxEdges.withValue(-1)`.
    */
  private[graft] val driverMaxEdges = new DynamicVariable[Long](500000L)

  /** Spark's ordering of the id types the driver finish handles: strings
    * compare as UTF-8 bytes (`UTF8String`), which differs from
    * `java.lang.String`'s UTF-16 order, so the roots equal the loop's `min`.
    */
  private def idLess(dt: DataType): Option[(Any, Any) => Boolean] =
    dt match {
      case LongType =>
        Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case IntegerType =>
        Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case StringType => Some((a, b) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0)
      case _ => None
    }

  /** Driver finish: label the collected edge set `g` (u, v), which is
    * symmetrized, so every non-isolated node appears as `u`. Each root is
    * its component's min id under `lt`. Returns (u, root) rows.
    */
  private def unionFind(g: DataFrame,
      lt: (Any, Any) => Boolean): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var a = x
      var p = parent.get(a)
      while (p != a) { // path halving
        val gp = parent.get(p)
        parent.put(a, gp)
        a = gp
        p = parent.get(a)
      }
      a
    }
    for (r <- g.collect()) {
      val (u, v) = (r.get(0), r.get(1))
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (lt(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val rows = parent.keySet.asScala.toSeq.map(u => Row(u, find(u)))
    g.sparkSession.createDataFrame(rows.asJava, g.schema)
  }

  /** @param edges two-column DataFrame (src, dst); undirected, any order.
    * @param nodeSet optional one-column (id) universe — isolated nodes
    *   (no edges) become singleton components. Defaults to edge endpoints.
    * @return DataFrame (id, component) where component = min id reachable.
    */
  def run(edges: DataFrame, nodeSet: Option[DataFrame] = None,
      maxIterations: Int = 50): DataFrame = {
    val nodes = nodeSet
      .getOrElse(edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))))
      .select(col(nodeSet.map(_.columns.head).getOrElse("id")).as("id"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // parent pointers: start from the symmetrized edge list as (u, v)
    var g = barrier(edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct())

    // one large-star + small-star alternation, lazily composed
    def alternate(in: DataFrame): DataFrame = {
      // view the current graph undirected for the large-star step (the
      // union needs the checkpoint without its inherited constraints)
      val plain = Bridge.withoutInheritedConstraints(in)
      val sym = plain.union(plain.select(col("v").as("u"), col("u").as("v")))
      // large-star: connect every strictly-larger neighbor of u to the
      // minimum of u's neighborhood (including u itself)
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // no distinct on large: small-star's distinct dedups the output;
      // duplicate intermediates only fan into the same (u, min) pairs.
      // small-star: large-star edges all point big→small already; point
      // each down-neighbor (and u itself) at the down-neighborhood min
      val dmins = large.groupBy("u").agg(min(col("v")).as("m"))
      large.join(dmins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(dmins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Convergence detection: the edge sets of consecutive rounds are both
    // distinct, so (count, xor of 64-bit edge hashes) is an order-free set
    // signature — equal signature ⇒ equal set (up to a 2^-64-ish collision).
    // xor (not sum) so ANSI-mode long overflow can't throw. ONE aggregation
    // job per round, vs. the round-1 count + anti-join.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val t0 = System.nanoTime()
    // materialises g; its edge count picks the finish (the loop needs
    // this signature for its first convergence test anyway)
    var gSig = signature(g)
    val lt = idLess(g.schema.head.dataType)
      .filter(_ => gSig._1 <= driverMaxEdges.value)
    val local = lt.isDefined
    var converged = local
    var iter = 0
    for (less <- lt) {
      val done = unionFind(g, less)
      g.unpersist()
      g = done
    }
    while (!converged && iter < maxIterations) {
      // one alternation per materialization: the alternation's inner
      // subtrees fan out (large feeds both dmins and the join), so
      // composing rounds without a barrier recomputes them
      // combinatorially — measured slower, not faster
      val small = barrier(alternate(g))
      val smallSig = signature(small)
      g.unpersist()
      g = small
      converged = gSig == smallSig
      gSig = smallSig
      iter += 1
    }
    val how =
      if (local) "finished by driver union-find"
      else s"${if (converged) "converged" else "CAPPED"} after $iter rounds"
    System.err.println(f"[cc] $how, ${gSig._1} edges," +
      f" ${(System.nanoTime() - t0) / 1e9}%.2f s")

    // after convergence every edge is (node -> component root); isolated
    // nodes (none here, but contract-wise) map to themselves
    val assigned = g.select(col("u").as("id"), col("v").as("component"))
    val result = nodes
      .join(assigned, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    nodes.unpersist()
    result
  }

  /** Incremental maintenance: fold a batch of NEW edges into an existing
    * labelling without re-running CC over the full graph. New-edge
    * endpoints map through their current component roots (unlabelled
    * endpoints stand for themselves), CC runs on that COLLAPSED graph —
    * one supernode per touched component, so the iterative loop's input
    * is ∝ |delta|, never |graph| — and the final labels compose through
    * the supernode relabelling. Because component ids are min-reachable
    * ids and min-of-mins is the global min, the composition is EXACTLY
    * the labelling a full run over old ∪ new edges produces (pinned by
    * IncrementalCcSpec and the d15 oracle).
    */
  def incremental(labels0: DataFrame, newEdges: DataFrame): DataFrame = {
    val lsrc = labels0.select(col("id").as("src"), col("component").as("csrc"))
    val ldst = labels0.select(col("id").as("dst"), col("component").as("cdst"))
    val collapsed = newEdges
      .join(lsrc, Seq("src"), "left").join(ldst, Seq("dst"), "left")
      .select(coalesce(col("csrc"), col("src")).as("src"),
        coalesce(col("cdst"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val sup = run(collapsed)
      .select(col("id").as("component"), col("component").as("newc"))
    val newNodes = newEdges.select(col("src").as("id"))
      .union(newEdges.select(col("dst").as("id"))).distinct()
    val universe = labels0.select(col("id"), col("component"))
      .union(newNodes.join(labels0, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
    universe.join(sup, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("newc"), col("component")).as("component"))
  }
}

package graft.domain

import graft.dedup.ConnectedComponents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dedup-aware read path (SURVEY §2.6 D3–D6;
  * dqa/data_getters.py:288-404), re-expressed as joins — the reference
  * builds a networkx graph and python dicts on one machine, the two
  * structures that cannot scale; every step here is a shuffle-bounded
  * DataFrame op. The one exception is by size: a duplicate graph of at
  * most `ConnectedComponents.driverMaxEdges` edges is labelled by a
  * driver union-find inside [[ConnectedComponents.run]], larger ones by
  * its distributed loop.
  *
  * Contract mirror:
  *  - `duplicateSubgraphs` ≙ get_duplicate_subgraphs: components of the
  *    similarity edge list within a weight band;
  *  - `subgraphsByLocation` ≙ get_subgraphs_by_location: re-key
  *    membership to (component, job_location_raw), drop short
  *    descriptions, keep groups with >1 member;
  *  - `identifyDuplicates` ≙ identify_duplicates: restrict to the ids in
  *    scope, remove the min-id exemplar per group, return the rest;
  *  - `snapshotAds` ≙ get_snapshot_ads: ads in a date window minus
  *    duplicates.
  */
object DedupPipeline {
  val MinDupeWeight = 0.95
  val MaxDupeWeight = 1.0

  /** (id, component) for every id in the weight-banded edge list. */
  def duplicateSubgraphs(links: DataFrame,
      minWeight: Double = MinDupeWeight,
      maxWeight: Double = MaxDupeWeight): DataFrame = {
    val edges = links
      .filter(col("weight").between(minWeight, maxWeight)) // P9 band
      .select(col("first_id").as("src"), col("second_id").as("dst"))
    ConnectedComponents.run(edges)
  }

  /** Split components by raw location (D4): membership keyed by
    * (component, job_location_raw); singleton groups and ads with
    * length(description) < 5 drop out (ref dqa/data_getters.py:340-376).
    * Returns (id, component) where component identifies the split group.
    */
  def subgraphsByLocation(components: DataFrame, ads: DataFrame): DataFrame = {
    val members = components
      .join(ads.select(col("id"), col("job_location_raw"),
        length(coalesce(col("description"), lit(""))).as("len_desc")), "id")
      .filter(col("len_desc") >= 5)
      .select(col("id"), col("component"), col("job_location_raw"))
    val w = Window.partitionBy("component", "job_location_raw")
    members
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("group_size") > 1)
      // split-group identity = (component, location); keep it join-friendly
      // as the min id of the split group, like the exemplar convention
      .withColumn("split_component",
        min(col("id")).over(w))
      .select(col("id"), col("split_component").as("component"))
  }

  /** Duplicate ids among `ids` (D5): per group intersected with the
    * scope, drop the min-id exemplar, return the rest
    * (ref dqa/data_getters.py:379-404).
    */
  def identifyDuplicates(subgraphs: DataFrame, ids: DataFrame): DataFrame = {
    val scoped = subgraphs.join(ids.select("id"), Seq("id"), "left_semi")
    val w = Window.partitionBy("component").orderBy(asc("id"))
    scoped
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select("id")
  }

  /** Dedup-aware snapshot read (D6): ads in [from, to] minus duplicates
    * (ref dqa/data_getters.py:144-166). `links` is the full duplicate
    * edge list; blocking by date happens on the ad side.
    *
    * @param precomputedGraphs optional (id, component) frame — the
    *   reference's flows pass cached `get_subgraphs_by_location` output
    *   between steps (update_cache.py) instead of re-deriving it; pair
    *   with [[SharedCache.materialise]] for the same effect here.
    */
  def snapshotAds(ads: DataFrame, links: DataFrame, fromDate: String,
      toDate: String, splitByLocation: Boolean = true,
      precomputedGraphs: Option[DataFrame] = None): DataFrame = {
    val inWindow = ads.filter(col("created").between(fromDate, toDate))
    val graphs = precomputedGraphs.getOrElse {
      val comps = duplicateSubgraphs(links)
      if (splitByLocation) subgraphsByLocation(comps, ads) else comps
    }
    val dupes = identifyDuplicates(graphs, inWindow.select("id"))
    inWindow.join(dupes, Seq("id"), "left_anti") // J7
  }
}

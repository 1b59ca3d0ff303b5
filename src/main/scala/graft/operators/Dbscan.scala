package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** Graph-based DBSCAN (Ester et al. 1996) over a precomputed
  * ε-neighborhood edge list — density clustering that, unlike k-means,
  * needs no k, finds non-convex clusters, and leaves low-density
  * points unclustered (noise) instead of forcing them into the
  * nearest centroid: exactly the semantics a curation pipeline wants
  * for "find the organic topic clumps, ignore the background".
  *
  * Decomposition (the standard distributed formulation): a point is
  * CORE iff its ε-neighborhood holds ≥ minPts points (itself
  * included); clusters are the connected components of the core-core
  * subgraph; a non-core point with a core neighbor is a BORDER point
  * of that core's cluster; everything else is noise. Border points
  * reachable from several clusters are order-dependent in the
  * original sequential algorithm — here they deterministically take
  * the MINIMUM cluster id, making the result a pure function of the
  * edge set (reproducible on any partitioning, and oracle-able).
  *
  * Scale shape: degrees are one aggregation over the edge list
  * ([[Graph.degrees]]); cluster formation runs [[Components]] over
  * only the core subgraph (its rounds: [[Graph]]); the border
  * assignment is one equi-join. The ε-graph itself comes from
  * whatever neighbor join the modality supports — blocked exact
  * cosine here, ANN candidate pairs at 100 TB — and everything
  * downstream touches only edges, never raw vectors.
  */
object Dbscan {

  /** @param edges undirected ε-neighborhood pairs (a, b), a < b,
    *              deduplicated ([[CosGraph.edges]] shape).
    * @return (id, role ∈ {core, border}, cluster_id) for clustered
    *         points only — noise is the complement of the id set.
    */
  def cluster(edges: DataFrame, minPts: Int): DataFrame = {
    val e = edges.select(col("a"), col("b")).cut()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    // |N_eps(p)| >= minPts with p itself counted => degree >= minPts-1
    val core = Graph.degrees(e).filter(col("deg") >= minPts - 1).select(col("id"))
      .cut()
    val coreEdges = e
      .join(core.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("id").as("b")), Seq("b"), "left_semi")
    val coreLabels = Components.connectedComponents(core, coreEdges)
    val coreOut = coreLabels
      .select(col("id"), lit("core").as("role"), col("cluster_id"))
    // border: non-core with >= 1 core neighbor; deterministic min rule
    val borderOut = sym
      .join(core.select(col("id").as("u")), Seq("u"), "left_anti")
      .join(coreLabels.select(col("id").as("v"), col("cluster_id")), Seq("v"))
      .groupBy(col("u"))
      .agg(min(col("cluster_id")).as("cluster_id"))
      .select(col("u").as("id"), lit("border").as("role"), col("cluster_id"))
    coreOut.unionByName(borderOut)
  }
}

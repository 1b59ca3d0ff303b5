package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
  * community detection on the near-dup/similarity graph. Where
  * [[Components.connectedComponents]] answers "what is transitively
  * linked at all" (the dedup-keep universe), LPA splits a component
  * into DENSELY-linked communities: template families inside one
  * loosely-bridged cluster, topic groups in a citation graph.
  *
  * Determinism (the published algorithm is randomized; this variant
  * is not): synchronous rounds, every vertex adopts the most frequent
  * label among its NEIGHBORS, ties broken by smallest label, isolated
  * or degree-0 vertices keep their own id. A fixed round budget
  * bounds oscillation (classic for synchronous LPA on bipartite-ish
  * structures) — the spec pins convergence behavior on fixtures.
  *
  * Scale shape: each round is one join of the edge list against the
  * label table + one (vertex, label) count aggregate + one per-vertex
  * argmax window — all partitioned by vertex id, nothing global.
  * Fixed rounds, one lazy cut each: see [[Graph]].
  */
object Lpa {

  /** @param nodes one column `id` (any orderable type)
    * @param edges columns `a`, `b`, same type — undirected, normalized
    *              internally. Every endpoint must be a `nodes` id: an
    *              endpoint outside `nodes` next to a node fails the
    *              action with "LPA: edge endpoint not in nodes"; an
    *              edge with neither endpoint in `nodes` carries no
    *              label and is ignored.
    * @return (id, community) — community = the converged label (a
    *         vertex id, NOT guaranteed to be the community minimum)
    */
  def communities(nodes: DataFrame, edges: DataFrame, rounds: Int = 8): DataFrame = {
    val sym = Graph.undirected(edges).cut(eager = true)
    val init = nodes.select(col("id"), col("id").as("lbl")).cut(eager = true)
    val labels = (0 until rounds).foldLeft(init) { (labels, round) =>
      // Neighbor messages at weight 1, PLUS one weight-0 self-message
      // per vertex (r18): the self row guarantees every vertex
      // surfaces from the count aggregate — carrying its CURRENT label
      // as the c=0 fallback the argmax picks only when no neighbor
      // message exists — so the round needs no join back onto the
      // label frame ("keep own label" left-join removed: one fewer
      // shuffle join per round at any scale). Weight 0 keeps counts
      // and tie-breaks bit-identical to the neighbor-only form: a
      // label group holding only the self row sums to 0 and loses to
      // any real neighbor label (c ≥ 1); a self label that neighbors
      // also carry gets +0 — unchanged.
      val msgs = sym
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .select(col("dst").as("id"), col("lbl"), lit(1L).as("wt"))
        .unionAll(labels.select(col("id"), col("lbl"), lit(0L).as("wt")))
      val counts = msgs.groupBy(col("id"), col("lbl"))
      val w = Window.partitionBy(col("id")).orderBy(col("c").desc, col("lbl"))
      (if (round > 0) {
        counts.agg(sum(col("wt")).as("c"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("id"), col("lbl"))
      } else {
        // round 1 only: wt 0 flags the self row, and an id without one
        // is an edge endpoint outside `nodes` that a node sent a
        // message to, raised in the same window — no job and no
        // exchange added. If none raises, the ids after round 1 are
        // exactly `nodes`, so later rounds keep a pure top-1 window,
        // which Spark plans as WindowGroupLimit (partial before the id
        // exchange, final after).
        counts.agg(sum(col("wt")).as("c"), min(col("wt")).as("minwt"))
          .withColumn("rk", row_number().over(w))
          .withColumn("self", min(col("minwt")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .filter(col("rk") === 1)
          .select(col("id"),
            when(col("self") =!= 0, raise_error(concat(
              lit("LPA: edge endpoint not in nodes: "), col("id").cast("string"))))
              .otherwise(col("lbl")).as("lbl"))
      }).cut()
    }
    labels.select(col("id"), col("lbl").as("community"))
  }
}

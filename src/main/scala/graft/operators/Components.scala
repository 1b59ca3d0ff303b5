package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** Distributed connected components — the cluster-assignment step of a
  * near-duplicate pipeline (pairs from [[Dedup]] → one representative
  * per duplicate cluster).
  *
  * Algorithm: min-label propagation with pointer jumping. Each round
  * does (1) a neighbor-min over the edge list, then (2) a pointer jump
  * (label := label of label), so the label of a node reaches the
  * component minimum in O(log diameter) rounds on id-aligned chains
  * instead of O(diameter) — the property that makes this usable on
  * 100 TB-scale graphs (same round structure as GraphFrames/Pregel-
  * style CC, built from plain shuffles here). Measured caveat (r18):
  * the jump follows LABEL pointers, so its compression depends on ids
  * correlating with topology — on a filament whose ids are a random
  * permutation of the path order, rounds degrade toward O(n/3) (50-
  * node permuted path: 17 rounds; 100-node: > 21), where the aligned
  * 300-path needs 8. The fixture graphs converge in ≤ 10 rounds; a
  * corpus whose similarity filaments have id-random order would need
  * the O(log²) star-contraction algorithm instead. The rounds run in
  * [[Graph.untilStable]], so that failure is loud, never silent.
  *
  * Scale notes: each round is ONE edge-frame shuffle join + one
  * label-sized self-join (r18 shape — self-loop rows make the
  * neighbor-min aggregate total, removing the per-round label
  * join-back; the jump input is lineage-cut so the self-join reads
  * persisted blocks instead of re-executing the neighbor-min subtree
  * twice). The edge prelude and the round loop are [[Graph]]'s.
  */
object Components {

  /** Assign each node the minimum node id of its connected component.
    *
    * @param nodes one column `id` — any orderable type (long, string,
    *              ...); the id keeps its native type end-to-end, so
    *              string-id corpora are never silently nulled by a
    *              cast. Isolated nodes allowed (own cluster).
    * @param edges columns `a`, `b`, same type as `id` — undirected;
    *              direction and duplicates are normalized internally.
    *              Every endpoint must be a `nodes` id: an endpoint
    *              outside `nodes` fails the call with
    *              "connectedComponents: edge endpoint not in nodes".
    * @return (id, cluster_id) — cluster_id = min id in the component
    *         under the type's natural ordering.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    // Symmetrized edges PLUS one self-loop per node (r18): the
    // self-loop row makes the per-round neighbor-min aggregate TOTAL
    // over the node set — min(dlbl) over {self} ∪ N(id) covers every
    // node and already folds the node's own label in, so the round
    // needs no left-join back onto the previous label frame (one
    // whole join + its exchange removed from every round), and the
    // previous label rides out of the same aggregate as the self-loop
    // row's value (the convergence test needs it).
    val sym = Graph.undirected(edges)
      .union(nodes.select(col("id").as("src"), col("id").as("dst")))
      .cut(eager = true)

    // lbl(x) = min(x, direct neighbors) — the self-loop contributes x.
    // An id without a self-loop row is an edge endpoint outside
    // `nodes`: raised here, in the first (eager) aggregate, instead of
    // spending every round before the convergence test gives up — no
    // job and no exchange added.
    val lbl0 = sym
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("lbl"),
        max(when(col("src") <=> col("dst"), lit(1))).as("self"))
      .select(col("id"),
        when(col("self").isNull, raise_error(concat(
          lit("connectedComponents: edge endpoint not in nodes: "), col("id").cast("string"))))
          .otherwise(col("lbl")).as("lbl"))
      .cut(eager = true)

    val lbl = Graph.untilStable("connectedComponents", maxRounds, lbl0) { lbl =>
      // (1) neighbor-min: pull each neighbor's current label; the
      // self-loop row pulls the node's own label, so min() includes it
      // and max(when(dst = src)) recovers it as `prev` for the
      // convergence test — no join back onto lbl.
      val afterEdges = sym
        .join(lbl.select(col("id").as("dst2"), col("lbl").as("dlbl")),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dlbl")).as("lbl"),
          max(when(col("src") === col("dst"), col("dlbl"))).as("prev"))
        // cut BEFORE the jump: the self-join below references this
        // frame twice — uncut, the whole neighbor-min subtree appeared
        // twice in every round's plan (double planning) and executed
        // twice (two shuffle writes); cut, both references read the
        // same persisted blocks, materialized once by the round's
        // convergence count (same lazy-cut-in-one-action shape as the
        // round cut itself)
        .cut()
      // (2) pointer jump: lbl := lbl(lbl). One jump per round — r18
      // measured a second jump NOT reducing the 10-round count on the
      // fixture's cos-0.4 graph (label pointers there don't form deep
      // chains; see the id-random caveat above). `prev` rides along so
      // the convergence test below is a narrow scan of the
      // checkpointed result, not an extra shuffle join against the
      // old labels. Lazy checkpoint + count in ONE action: the
      // full-scan convergence count materializes the checkpoint blocks
      // as it runs (an eager checkpoint plus a separate isEmpty job
      // was two actions per round — pure scheduler latency at fixture
      // scale; measured r6).
      val jump = afterEdges.select(col("id").as("jid"), col("lbl").as("jlbl"))
      val next = afterEdges.join(jump, col("lbl") === col("jid"), "left")
        .select(col("id"), col("prev"),
          least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
        .cut()
      val stable = next.filter(!(col("lbl") <=> col("prev"))).count() == 0
      (next.select(col("id"), col("lbl")), stable)
    }
    lbl.select(col("id"), col("lbl").as("cluster_id"))
  }
}

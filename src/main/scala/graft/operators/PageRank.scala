package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** Distributed PageRank over an explicit edge list — node centrality
  * in a similarity or link graph. In a training-data pipeline this is
  * the principled representative-selection signal for duplicate
  * clusters (rank members by connectivity instead of length) and the
  * classic link-graph quality prior of web-corpus curation.
  *
  * Recurrence (simplified, non-redistributing damping):
  * rank = (1−d)/N + d · Σ_{u→v} rank(u)/outdeg(u); dangling-node mass
  * leaks rather than being redistributed, which keeps the recurrence
  * purely relational — the DuckDB oracle unrolls the identical
  * formula, so results hash-match at fixed iteration count.
  *
  * Scale notes: edges materialize ONCE (localCheckpoint — every round
  * would otherwise re-run the upstream candidate-pair join, the
  * Components lesson). Each round is one hash join of the rank frame
  * against the edge list plus one aggregate on dst — two shuffles of
  * rank-sized data, no cross join, no driver-side adjacency. The
  * per-round lazy lineage cut ([[graft.Cuts]] — reliable
  * checkpoint in cluster mode, localCheckpoint locally) keeps Catalyst
  * analysis O(1) in the iteration count. The only broadcast is the
  * 1-row node count.
  */
object PageRank {

  /** Rank nodes by the damped in-neighbor mass recurrence.
    *
    * @param nodes one column `id` — any orderable type; isolated
    *              nodes allowed (they hold the floor rank (1−d)/N).
    * @param edges columns `a`, `b`, same type as `id` — undirected;
    *              direction and duplicates normalized internally.
    *              Every endpoint must be a `nodes` id: an endpoint
    *              outside `nodes` fails the action with
    *              "PageRank: edge endpoint not in nodes".
    * @return (id, rank) after exactly `iters` rounds.
    */
  def pageRank(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      iters: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val e0 = edges.select(col("a").as("src"), col("b").as("dst"))
      .cut(eager = true)
    val sym = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = sym.join(deg, "src").cut(eager = true)
    val n = broadcast(nodes.agg(count(lit(1)).as("n")))
    // cut once: `base` re-enters every round's plan, and without the
    // cut each round re-analyzes the node scan + crossJoin subtree —
    // pure driver planning cost at fixture scale (measured r12)
    val base = nodes.select(col("id")).crossJoin(n)
      .cut()
    var ranks = base.select(col("id"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to iters) {
      // One zero-mass row per node unioned into the contribution
      // stream (r18): the aggregate then covers every node — dangling
      // nodes surface with in_mass = 0.0 — so the round needs no join
      // back onto the node frame (the per-round base left-join and its
      // exchange removed; the union feeds the same aggregate
      // exchange). Adding +0.0 to a sum of nonnegative doubles is
      // exact, so ranks are bit-identical to the left-join form; `n`
      // rides the zero row (exactly one per node) into the aggregate.
      val contribs = withDeg
        .join(ranks.select(col("id").as("rid"), col("rank")),
          col("src") === col("rid"))
        .select(col("dst"), (col("rank") / col("outdeg")).as("m"),
          lit(null).cast("long").as("n"))
        .unionAll(base.select(col("id").as("dst"), lit(0.0).as("m"), col("n")))
      // `n` is NULL exactly for an id with no zero row, i.e. an edge
      // endpoint outside `nodes`: raised in the same projection, so
      // the contract check adds no job and no collect
      ranks = contribs
        .groupBy(col("dst").as("id"))
        .agg(sum(col("m")).as("in_mass"), max(col("n")).as("n"))
        .select(col("id"),
          when(col("n").isNull, raise_error(concat(
            lit("PageRank: edge endpoint not in nodes: "), col("id").cast("string"))))
            .otherwise(lit(1.0 - damping) / col("n")
              + lit(damping) * col("in_mass")).as("rank"))
        .cut()
    }
    ranks
  }
}

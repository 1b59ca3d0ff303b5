package graft.operators

import org.apache.spark.sql.DataFrame
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
  * Scale notes: the edge prelude is [[Graph.undirected]], so edges
  * materialize ONCE. Each round is one hash join of the rank frame
  * against the edge list plus one aggregate on dst — two shuffles of
  * rank-sized data, no cross join, no driver-side adjacency. Fixed
  * rounds, one lazy cut each: see [[Graph]]. The only broadcast is the
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
    * @return (id, rank) after exactly `rounds` rounds.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
      rounds: Int = 10, damping: Double = 0.85): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val sym = Graph.undirected(edges)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = sym.join(deg, "src").cut(eager = true)
    val n = broadcast(nodes.agg(count(lit(1)).as("n")))
    // cut once: `base` re-enters every round's plan, and without the
    // cut each round re-analyzes the node scan + crossJoin subtree —
    // pure driver planning cost at fixture scale (measured r12)
    val base = nodes.select(col("id")).crossJoin(n)
      .cut()
    val init = base.select(col("id"), (lit(1.0) / col("n")).as("rank"))
    (1 to rounds).foldLeft(init) { (ranks, _) =>
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
      contribs
        .groupBy(col("dst").as("id"))
        .agg(sum(col("m")).as("in_mass"), max(col("n")).as("n"))
        .select(col("id"),
          when(col("n").isNull, raise_error(concat(
            lit("PageRank: edge endpoint not in nodes: "), col("id").cast("string"))))
            .otherwise(lit(1.0 - damping) / col("n")
              + lit(damping) * col("in_mass")).as("rank"))
        .cut()
    }
  }
}

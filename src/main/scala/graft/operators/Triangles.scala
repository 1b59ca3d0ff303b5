package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** Exact triangle counting on an undirected graph via degree-ordered
  * orientation (Cohen 2009 / Suri & Vassilvitskii 2011 — the
  * MapReduce-era algorithm that is still the right distributed shape).
  *
  * Orient every undirected edge from its lower-(degree, id) endpoint
  * to the higher one. The orientation is acyclic and bounds every
  * node's OUT-degree by O(√m) on any graph (a node of degree d > √m
  * can have at most √m out-neighbors of degree ≥ d), so the wedge
  * self-join generates O(m^1.5) candidate wedges worst-case — the
  * provably optimal exact bound — instead of Σ d² of the naive
  * neighbor join, which a single hub node makes quadratic. Each
  * triangle {a,b,c} is generated exactly once (from its lowest-order
  * vertex) and closed by one equi-join against the oriented edge list.
  * Every stage is a key-partitioned shuffle — no broadcast of the
  * graph, no driver materialization; skewed hubs are exactly what the
  * orientation defuses.
  *
  * Used on the cosine-similarity graph (q_x_triangles): triangle
  * membership separates genuine duplicate CLUSTERS (cliques) from
  * chains of borderline pairs — a near-dup audit signal connected
  * components can't provide (CC merges chains; triangles don't).
  */
object Triangles {

  /** Per-vertex triangle counts. Input: undirected edge list (a, b)
    * with a < b, no duplicates (DupGraph/blockedCosinePairs shape).
    * Output: (id, n_tri) for every vertex in ≥ 1 triangle.
    */
  def perVertex(edges: DataFrame): DataFrame = {
    // materialize the census once (lazily): the ta/tb/tc union below
    // would otherwise replay the wedge join + closing semi-join three
    // times — measured 22 s vs 2 s on the dense 10× synthetic graph
    val tri = triangles(edges).cut()
    tri.select(col("ta").as("id"))
      .unionAll(tri.select(col("tb").as("id")))
      .unionAll(tri.select(col("tc").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }

  /** The triangle list (ta, tb, tc), each triangle once, ta < tb < tc
    * by the orientation order (degree asc, id asc).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = Graph.degrees(e)
    // orient low-(deg, id) → high-(deg, id)
    val withDeg = e
      .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), Seq("b"))
    // materialize once (lazily): the oriented list feeds both wedge
    // sides AND the closing semi-join — without this the degree
    // aggregate + degree joins replay three times
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("v"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("db")).otherwise(col("da")).as("dv"))
      .cut()
    // wedges from each source u: out-neighbor pairs in orientation order
    val o1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val o2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = o1.join(o2, Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    // close the wedge: oriented edge x → y must exist
    wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"), "left_semi")
      .select(col("u").as("ta"), col("x").as("tb"), col("y").as("tc"))
  }
}

package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** The graph operators' shared parts: the undirected edge prelude, the
  * degree aggregate and the one converging round loop.
  *
  * Their rounds run while the DataFrame is built. A converging operator
  * ([[Components]], [[Kcore]]) runs them in [[untilStable]]; each round
  * cuts its frames ([[graft.Cuts]]) and runs ONE action, the
  * convergence test, and that test must run to decide whether another
  * round is needed. A fixed-round operator ([[Lpa]], [[PageRank]])
  * folds its rounds with a lazy `.cut()` each and no test, yet still
  * runs each round's shuffle stages at build: under AQE a lazy cut
  * executes them (the finding noted in [[Ivf.train]]). A spec that
  * asserts zero jobs at build must exempt these queries by name.
  */
object Graph {

  /** Symmetric, self-loop-free, deduplicated `(src, dst)` from an
    * undirected `(a, b)` edge list. The input is cut eagerly, once, so
    * neither the union nor any round re-runs the edge derivation
    * upstream (measured: 12.6 s → 2.5 s on the dup-clusters query).
    * The result is NOT cut: each caller cuts where its rounds read it.
    */
  def undirected(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("a").as("src"), col("b").as("dst"))
      .cut(eager = true)
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** `(id, deg)`: the number of `(a, b)` rows each endpoint appears in. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** Run `round` from `init` until a round reports its result stable,
    * and return that result; `require` fails with "`op` did not
    * converge in `maxRounds` rounds" if none of `maxRounds` rounds does.
    */
  def untilStable[S](op: String, maxRounds: Int, init: S)(round: S => (S, Boolean)): S = {
    @tailrec def go(s: S, done: Int): S = {
      require(done < maxRounds, s"$op did not converge in $maxRounds rounds")
      val (next, stable) = round(s)
      if (stable) next else go(next, done + 1)
    }
    go(init, 0)
  }
}

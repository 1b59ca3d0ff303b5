package graft

import org.apache.spark.sql.functions._

import graft.operators.Kcore

/** k-core peeling (operators.Kcore) vs a sequential reference peeler
  * — the k-core is a unique maximal subgraph, so the two must agree
  * exactly on any graph.
  */
class KcoreSpec extends SparkSuite {
  import spark.implicits._

  private def brute(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var changed = true
    while (changed) {
      val deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
        .map { case (v, o) => v -> o.size.toLong }
      val alive = deg.filter(_._2 >= k).keySet
      val kept = es.filter(e => alive(e._1) && alive(e._2))
      changed = kept.size != es.size
      es = kept
    }
    (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
      .map { case (v, o) => v -> o.size.toLong }
      .filter(_._2 >= k)
  }

  private def run(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Kcore.kCore(edges.toDF("a", "b"), k)
      .as[(Long, Long)].collect().toMap

  test("clique K5 with a pendant chain: the 4-core is exactly the clique") {
    val k5 = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val got = run(k5 ++ chain, 4)
    assert(got === (0L until 5L).map(_ -> 4L).toMap)
  }

  test("a tree has an empty 2-core") {
    val tree = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (2L, 5L))
    assert(run(tree, 2).isEmpty)
  }

  test("cascading peel: removing the leaf unravels the whole chain") {
    // a 'ladder into the abyss': path graph — 2-core empty even
    // though interior vertices start at degree 2
    val path = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(run(path, 2).isEmpty)
  }

  test("random graphs match the reference peeler at k = 2, 3, 4") {
    val rnd = new scala.util.Random(11)
    val edges = (for {
      a <- 0L until 35L; b <- (a + 1) until 35L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    for (k <- Seq(2, 3, 4))
      assert(run(edges, k) === brute(edges, k), s"k=$k")
  }
}

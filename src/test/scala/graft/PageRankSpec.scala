package graft

import org.apache.spark.sql.functions._

import graft.operators.PageRank

/** PageRank operator: exactness vs an independent dense power
  * iteration, invariants, and partition determinism. */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  /** Reference: the same recurrence computed densely on the driver. */
  private def densePr(n: Int, und: Seq[(Int, Int)], iters: Int,
      d: Double): Array[Double] = {
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }.distinct
    val out = adj.groupBy(_._1).map { case (k, v) => k -> v.size }
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val nxt = Array.fill(n)((1.0 - d) / n)
      adj.foreach { case (u, v) => nxt(v) += d * r(u) / out(u) }
      r = nxt
    }
    r
  }

  private def run(n: Int, edges: Seq[(Int, Int)], rounds: Int = 10)
      : Map[Int, Double] = {
    val nodesDf = (0 until n).toDF("id")
    val edgesDf = edges.toDF("a", "b")
    PageRank.pageRank(nodesDf, edgesDf, rounds = rounds)
      .as[(Int, Double)].collect().toMap
  }

  test("matches dense power iteration on a path + isolated node") {
    val edges = Seq(0 -> 1, 1 -> 2, 2 -> 3) // node 4 isolated
    val got = run(5, edges)
    val want = densePr(5, edges, 10, 0.85)
    (0 until 5).foreach { i =>
      assert(math.abs(got(i) - want(i)) < 1e-12, s"node $i: ${got(i)} vs ${want(i)}")
    }
  }

  test("star graph: center outranks leaves; isolated nodes hold the floor") {
    val edges = (1 to 6).map(i => 0 -> i)
    val got = run(8, edges) // node 7 isolated
    (1 to 6).foreach(i => assert(got(0) > got(i)))
    assert(math.abs(got(7) - 0.15 / 8) < 1e-15)
    // leaked-mass variant: total never exceeds 1
    assert(got.values.sum <= 1.0 + 1e-9)
  }

  test("deterministic across partitionings") {
    val edges = Seq(0 -> 1, 1 -> 2, 2 -> 3, 3 -> 0, 2 -> 4)
    val nodesDf = (0 until 6).toDF("id")
    val e1 = edges.toDF("a", "b").repartition(1)
    val e7 = edges.toDF("a", "b").repartition(7)
    val r1 = PageRank.pageRank(nodesDf, e1).as[(Int, Double)].collect().toMap
    val r7 = PageRank.pageRank(nodesDf.repartition(5), e7)
      .as[(Int, Double)].collect().toMap
    // identical up to FP merge order; ppm-at-3dp (the declared query's
    // grain) must be bit-equal
    (0 until 6).foreach { i =>
      assert(math.abs(r1(i) - r7(i)) * 1e6 < 1e-3, s"node $i differs")
    }
  }
}

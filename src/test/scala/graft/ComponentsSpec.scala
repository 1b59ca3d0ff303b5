package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components

class ComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(
        nodes.toDF("id"), edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  /** Reference components via union-find on the driver. */
  private def ccRef(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("paths, stars, cycles, isolated nodes") {
    val nodes = (0L to 12L)
    // path 0-1-2-3, star 4-{5,6,7}, cycle 8-9-10-8, isolated 11, 12
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L), (4L, 6L), (4L, 7L),
      (8L, 9L), (9L, 10L), (10L, 8L))
    assert(cc(nodes, edges) === ccRef(nodes, edges))
  }

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 60
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(nodes, edges) === ccRef(nodes, edges))
    }
  }

  test("long path needs only O(log n) rounds (pointer jumping)") {
    val n = 200L
    val nodes = 0L until n
    val edges = (0L until n - 1).map(i => (i, i + 1))
    // maxRounds 12 would be far exceeded by pure neighbor-min (needs ~n)
    val out = Components.connectedComponents(
      nodes.toDF("id"), edges.toDF("a", "b"), maxRounds = 12)
    assert(out.filter(col("cluster_id") =!= 0L).isEmpty)
  }

  test("directionless and duplicate edges normalize") {
    val nodes = Seq(1L, 2L, 3L)
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L))
    assert(cc(nodes, edges) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}

package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window, WindowGroupLimit}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Lpa}

/** Label-propagation community contracts on constructed graphs plus
  * the fixture near-dup graph.
  */
class LpaSpec extends SparkSuite {
  import spark.implicits._

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)], rounds: Int = 8) =
    Lpa.communities(
      nodes.toDF("id"), edges.toDF("a", "b"), rounds)
      .as[(Long, Long)].collect().toMap

  test("a clique collapses to one community; isolated vertices keep their own") {
    val clique = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val m = run(0L to 6L, clique)
    assert(m.filterKeys(_ <= 4).values.toSet.size == 1, "clique must be one community")
    assert(m(5L) == 5L && m(6L) == 6L, "isolated vertices keep their own label")
  }

  test("two cliques joined by one bridge stay two communities") {
    val c1 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val c2 = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val m = run((0L to 3L) ++ (10L to 13L), c1 ++ c2 :+ (3L, 10L))
    val comA = m.filterKeys(_ <= 3).values.toSet
    val comB = m.filterKeys(_ >= 10).values.toSet
    assert(comA.size == 1 && comB.size == 1)
    assert(comA != comB, "one bridge edge must not merge two 4-cliques")
  }

  test("rounds after the first keep Spark's top-1 WindowGroupLimit") {
    val clique = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    Cuts.startCapture()
    run(0L to 6L, clique, rounds = 4)
    val rounds = Cuts.stopCapture().map(_.df.queryExecution.optimizedPlan)
      .filter(_.exists(_.isInstanceOf[Window]))
    assert(rounds.size === 4)
    val limited = rounds.map(_.exists(_.isInstanceOf[WindowGroupLimit]))
    assert(limited.tail.forall(identity), limited)
  }

  test("communities refine connected components on the fixture dup graph") {
    val docs = Tables.table(spark, sfDir, "documents").select(col("doc_id").as("id"))
    val edges = graft.operators.DupGraph.edges(spark, sfDir, 0.8)
    val lpa = Lpa.communities(docs, edges)
    val cc = Components.connectedComponents(docs, edges)
    // two vertices sharing an LPA community must share a CC: labels
    // only travel along edges, so a community can never span components
    val viol = lpa.join(cc, "id")
      .groupBy(col("community"))
      .agg(countDistinct(col("cluster_id")).as("ncc"))
      .filter(col("ncc") > 1).count()
    assert(viol == 0, s"$viol communities span multiple connected components")
  }

  test("deterministic across runs and partitionings") {
    val docs = Tables.table(spark, sfDir, "documents").select(col("doc_id").as("id"))
    val edges = graft.operators.DupGraph.edges(spark, sfDir, 0.8)
    val a = Lpa.communities(docs.repartition(3), edges, rounds = 8)
      .as[(Long, Long)].collect().sorted.toSeq
    val b = Lpa.communities(docs.repartition(11), edges, rounds = 8)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }
}

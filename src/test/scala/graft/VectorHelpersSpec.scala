package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

class VectorHelpersSpec extends SparkSuite {
  import spark.implicits._

  test("sqDist: zero to self, matches hand computation") {
    val row = Seq((Seq(1.0f, 2.0f), Seq(4.0f, 6.0f)))
      .toDF("a", "b")
      .select(
        VectorFunctions.sqDist($"a", $"a").as("self"),
        VectorFunctions.sqDist($"a", $"b").as("ab"))
      .as[(Double, Double)].collect().head
    assert(row._1 === 0.0)
    assert(row._2 === 9.0 + 16.0)
  }

  test("cosineNearDups: pairs are a threshold-filtered subset of brute-force pairs") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val lsh = Similarity.cosineNearDups(spark, emb, threshold = 0.35)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect()
    assert(lsh.forall { case (a, b, c) => a < b && c >= 0.35 })
    // every reported pair must agree with the exact cosine
    val exact = SparkEntry.queries("q_x_cos_pairs")(spark, sfDir)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    lsh.filter(_._3 >= 0.4).foreach { case (a, b, c) =>
      assert(exact.get((a, b)).contains(c), s"pair ($a,$b) cos mismatch")
    }
  }
}

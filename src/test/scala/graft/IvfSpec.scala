package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}

class IvfSpec extends SparkSuite {
  import spark.implicits._

  private def emb = Tables.table(spark, sfDir, "embeddings")

  test("train yields k distinct-id centroids of dim 64, deterministic") {
    val c1 = Ivf.train(emb, k = 8, iters = 1)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val c2 = Ivf.train(emb, k = 8, iters = 1)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(c1.length === 8)
    assert(c1.map(_._1).distinct.length === 8) // ids = seed vec_ids, all distinct
    assert(c1.forall(_._2.size === 64))
    assert(c1.toSeq === c2.toSeq)
  }

  test("ivfKnn: k results per query, ranked; recall vs brute force > 0.3") {
    val qs = emb.filter($"vec_id" % 100 === 0)
    val approx = Ivf.ivfKnn(qs, emb, k = 10, nCentroids = 16, nProbe = 4)
    val perQuery = approx.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(perQuery.filter($"n" =!= 10 || $"mx" =!= 10).isEmpty)

    val exact = Similarity.bruteForceKnn(qs, emb, k = 10)
      .select($"query_id", $"cand_id")
    val hits = approx.select($"query_id", $"cand_id").intersect(exact).count().toDouble
    val recall = hits / exact.count().toDouble
    info(f"IVF recall@10 = $recall%.3f (nProbe=4/16 lists)")
    assert(recall > 0.3)
  }
}

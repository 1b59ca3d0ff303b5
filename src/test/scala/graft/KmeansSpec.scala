package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Ivf

/** Invariants of the exposed k-means operator (q_x_kmeans /
  * Ivf.kmeansAssignments). The fixture's embeddings are isotropic
  * (labels are arbitrary metadata, not geometric clusters — measured:
  * within-label mean cosine ≈ across-label ≈ 0), so the spec asserts
  * algorithm properties that hold on ANY input instead of label
  * recovery: totality, k-bound, Lloyd's monotone SSE improvement, and
  * determinism.
  */
class KmeansSpec extends SparkSuite {

  private def emb = Tables.table(spark, sfDir, "embeddings")

  /** Σ_x min_c ||x − c||² under a given centroid set. */
  private def sse(centroids: DataFrame): Double =
    emb.select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        (VectorFunctions.dot(col("v"), col("v"))
          - lit(2.0) * VectorFunctions.dot(col("v"), col("centroid"))
          + VectorFunctions.dot(col("centroid"), col("centroid"))).as("d2"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("d2"))
      .agg(sum(col("d2"))).head().getDouble(0)

  test("every vector assigned exactly once, to at most k clusters") {
    val asg = Ivf.kmeansAssignments(emb, k = 10, iters = 3)
    assert(asg.count() == emb.count())
    assert(asg.select(col("vec_id")).distinct().count() == emb.count())
    val k = asg.select(col("centroid_id")).distinct().count()
    assert(k >= 2 && k <= 10, s"got $k clusters")
  }

  test("Lloyd iterations monotonically improve within-cluster SSE") {
    val sse1 = sse(Ivf.train(emb, k = 10, iters = 1))
    val sse3 = sse(Ivf.train(emb, k = 10, iters = 3))
    assert(sse3 <= sse1 + 1e-6, s"SSE rose across Lloyd rounds: $sse1 -> $sse3")
  }

  test("assignments are deterministic across invocations") {
    val a = Ivf.kmeansAssignments(emb, k = 10, iters = 3)
      .orderBy("vec_id").collect().toSeq
    val b = Ivf.kmeansAssignments(emb, k = 10, iters = 3)
      .orderBy("vec_id").collect().toSeq
    assert(a === b)
  }
}

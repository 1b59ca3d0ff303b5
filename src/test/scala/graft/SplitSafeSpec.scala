package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Components, Dedup}

/** q_x_split_safe: the split key is the near-dup cluster id, so no
  * cluster may straddle splits — and on this fixture (25 planted
  * NON-adjacent near-dup pairs) the plain doc-id rule demonstrably
  * would, which is the whole point of the guard.
  */
class SplitSafeSpec extends SparkSuite {

  private lazy val clusters = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sets = docs.select(col("doc_id"),
      array_distinct(TextFunctions.wordNgramsExpr("text", 3)).as("g"))
    val edges = Dedup.exactJaccardPairs(sets, "doc_id", "g", threshold = 0.6)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    Components.connectedComponents(
        docs.select(col("doc_id").as("id")), edges)
      .cache()
  }

  private def splitOf(key: org.apache.spark.sql.Column) =
    when(key % 10 < 8, "train").when(key % 10 < 9, "val").otherwise("test")

  test("no near-dup cluster straddles splits under the cluster-keyed rule") {
    val straddling = clusters
      .withColumn("split", splitOf(col("cluster_id")))
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddling.isEmpty)
  }

  test("the doc-id rule WOULD straddle clusters on this fixture (guard is non-vacuous)") {
    val straddling = clusters
      .withColumn("split", splitOf(col("id")))
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddling.count() > 0)
  }

  test("declared query totals match the corpus and cluster counts") {
    val got = SparkEntry.queries("q_x_split_safe")(spark, sfDir)
    val total = got.agg(sum("n_docs"), sum("n_clusters")).head()
    assert(total.getLong(0) == clusters.count())
    assert(total.getLong(1) == clusters.select("cluster_id").distinct().count())
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Quantifies the MinHash signature as a Jaccard ESTIMATOR — the
  * statistical contract the whole LSH near-dedup family rests on.
  * The declared q_x_near_dedup path is no-oracle (hash-model-defined);
  * DedupSpec pins its recall on planted pairs; this spec pins the
  * ESTIMATE: signature-match fraction ≈ exact trigram Jaccard, with
  * the error bound k-minwise theory predicts (sd ≈ √(j(1−j)/k)).
  */
class MinHashEstimateSpec extends SparkSuite {
  import spark.implicits._

  test("signature-match fraction estimates exact jaccard within theory bounds") {
    val k = 64
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), TextFunctions.shinglesExpr("text", 3).as("g"))
      .withColumn("sig", Dedup.minhashSignature(col("g"), k))

    // sample pairs across the similarity range: adjacent ids are
    // background (j ≈ 0), the fixture's planted near-dups are j ≥ 0.9
    val a = docs.select(col("doc_id").as("ida"), col("g").as("ga"), col("sig").as("sa"))
    val b = docs.select(col("doc_id").as("idb"), col("g").as("gb"), col("sig").as("sb"))
    val pairs = a.join(b, col("ida") + 1 === col("idb") || col("ida") + 250 === col("idb"))
      .withColumn("inter", size(array_intersect(array_distinct(col("ga")), array_distinct(col("gb")))).cast("double"))
      .withColumn("uni",
        (size(array_distinct(col("ga"))) + size(array_distinct(col("gb")))).cast("double") - col("inter"))
      .withColumn("jexact", col("inter") / col("uni"))
      .withColumn("jest",
        aggregate(zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, x) => acc + x) / lit(k.toDouble))
      .select(col("ida"), col("jexact"), col("jest"))
      .collect()

    assert(pairs.length > 100)
    val errs = pairs.map(r => math.abs(r.getDouble(1) - r.getDouble(2)))
    val mae = errs.sum / errs.length
    // worst-case sd at j=0.5 is √(0.25/64) ≈ 0.0625; MAE over a range
    // dominated by easy (j≈0 / j≈0.9) pairs sits well under it
    info(f"minhash k=$k jaccard estimate: MAE=$mae%.4f max=${errs.max}%.4f over ${pairs.length} pairs")
    assert(mae < 0.05, f"MAE $mae%.4f")
    // no single pair estimates wildly off (5 sd)
    assert(errs.max < 0.32, f"max err ${errs.max}%.4f")
  }
}

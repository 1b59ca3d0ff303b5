package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Binned (bucketized) range join — the shuffle-based scale path for
  * interval joins that would otherwise plan as a nested-loop join.
  *
  * `points ⋈ intervals ON lo <= p < hi` is rewritten as an EQUI-join
  * on a bin id: each interval explodes into the bins it overlaps,
  * each point maps to its single bin, the join runs bin = bin (hash
  * shuffle both sides), and the exact range predicate filters the
  * within-bin candidates. Correct for any data; fast when intervals
  * span few bins (pick `binWidth` ≳ the typical interval length).
  *
  * Why it matters at 100 TB: BroadcastNestedLoopJoin requires one
  * side to fit in a broadcast and costs |P|·|I| predicate
  * evaluations; the binned form is a plain shuffle join whose cost is
  * |P| + Σ bins(I) + per-bin candidate pairs — both sides can be
  * arbitrarily large. This is the standard interval-join strategy of
  * streaming/batch engines (Flink interval join, Spark's own
  * range-join hints in Databricks runtime).
  */
object RangeJoin {

  /** Join `points` (value `pCol`) to `intervals` (`[loCol, hiCol)`),
    * inner, returning all columns of both sides. Column names must
    * not collide. All three columns must be numeric (cast upstream;
    * timestamps → epoch seconds).
    */
  def binned(points: DataFrame, intervals: DataFrame,
      pCol: String, loCol: String, hiCol: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val pBin = floor(col(pCol) / binWidth).cast("long")
    // interval [lo, hi) overlaps bins floor(lo/w) .. floor(hi/w) (hi
    // exclusive, but an interval ending exactly on a bin edge still
    // explodes into that bin — harmless: the exact predicate prunes)
    // inverted intervals (hi < lo) match nothing, but Spark's
    // sequence(start, stop) would COUNT DOWN for them, exploding one
    // bad row into millions of bins — drop them before binning
    val iv = intervals.filter(col(loCol) <= col(hiCol)).withColumn("_bin",
      explode(sequence(
        floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    points.withColumn("_bin", pBin)
      .join(iv, Seq("_bin"))
      .filter(col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("_bin")
  }

  /** Point-in-interval COUNT variant with the same plan shape, for
    * aggregation-only callers (keeps the exact predicate but avoids
    * materializing the joined row).
    */
  def binnedCount(points: DataFrame, intervals: DataFrame,
      pCol: String, loCol: String, hiCol: String,
      binWidth: Double, groupCols: Seq[String]): DataFrame =
    binned(points, intervals, pCol, loCol, hiCol, binWidth)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.DayGrain

/** The shared (event_type, day) grain (operators.DayGrain): with
  * [[Memo]] off (the Verify default) it builds fresh standalone plans
  * whose unused aggregate columns are PRUNED down to the parquet scan;
  * memo on serves ONE frame per (session, dir); cached and
  * uncached results are identical, and both match a hand-built
  * aggregate. Resets state in finally so the shared test session
  * never leaks bench behavior into other suites.
  */
class DayGrainSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("counts/values/means match direct aggregates; cache serves one frame") {
    Memo.reset()
    val direct = Tables.table(spark, sfDir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"),
        round(sum(col("value")), 6).as("v"),
        avg(col("value")).as("m"))
    val wantC = rows(direct.select(col("event_type"), col("day"), col("c")))
    val wantV = rows(direct.select(col("event_type"), col("day"), col("v")))

    val fresh1 = DayGrain.counts(spark, sfDir)
    val fresh2 = DayGrain.counts(spark, sfDir)
    assert(fresh1.queryExecution.logical ne fresh2.queryExecution.logical,
      "memo off must build standalone plans")
    assert(rows(fresh1) == wantC)
    assert(rows(DayGrain.values(spark, sfDir)) == wantV)

    Memo.enable()
    try {
      val f1 = DayGrain.frame(spark, sfDir)
      val f2 = DayGrain.frame(spark, sfDir)
      assert(f1 eq f2, "memo on must serve one frame per (session, dir)")
      assert(rows(DayGrain.counts(spark, sfDir)) == wantC,
        "cached counts must equal uncached")
      assert(rows(DayGrain.values(spark, sfDir)) == wantV,
        "cached values must equal uncached")
    } finally Memo.reset()
  }

  test("caching off prunes the value column out of count-only consumers") {
    Memo.reset()
    val plan = DayGrain.counts(spark, sfDir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty, "expected a parquet scan under the count grain")
    scans.foreach { cols =>
      assert(!cols.contains("value"),
        s"count-only consumer must not read value, got $cols")
    }
  }
}

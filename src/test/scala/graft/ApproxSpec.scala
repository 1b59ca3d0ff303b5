package graft

import org.apache.spark.sql.functions._

/** Error bounds for the sketch-based aggregates (no-oracle queries). */
class ApproxSpec extends SparkSuite {
  import spark.implicits._

  test("approx_count_distinct within rsd of exact") {
    val joined = SparkEntry.queries("q_agg_approx")(spark, sfDir)
      .join(
        Tables.table(spark, sfDir, "lineitem")
          .groupBy($"l_returnflag").agg(countDistinct($"l_partkey").as("exact")),
        "l_returnflag")
      .select($"approx_parts", $"exact").as[(Long, Long)].collect()
    joined.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.1,
        s"approx $approx vs exact $exact")
    }
  }

  test("hll rollup: union of hourly partials == direct daily sketch, within 5% of exact") {
    val ev = Tables.table(spark, sfDir, "events")
    val direct = ev
      .groupBy(date_trunc("DAY", $"ts").as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")).as("direct_users"))
    val exact = ev
      .groupBy(date_trunc("DAY", $"ts").as("day"))
      .agg(countDistinct($"user_id").as("exact_users"))
    val rows = SparkEntry.queries("q_agg_sketch")(spark, sfDir)
      .join(direct, "day").join(exact, "day")
      .select($"approx_users", $"direct_users", $"exact_users")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (merged, direct, exact) =>
      assert(merged == direct,
        s"hourly-union estimate $merged != single-pass estimate $direct")
      assert(math.abs(merged - exact).toDouble / exact < 0.05,
        s"sketch $merged vs exact $exact")
    }
  }

  test("percentile_approx within 5% relative of exact percentile") {
    val got = SparkEntry.queries("q_agg_approx_pct")(spark, sfDir)
      .join(
        Tables.table(spark, sfDir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(expr("percentile(l_extendedprice, 0.5)").as("e50"),
            expr("percentile(l_extendedprice, 0.95)").as("e95")),
        "l_returnflag")
      .select($"p50", $"e50", $"p95", $"e95")
      .as[(Double, Double, Double, Double)].collect()
    got.foreach { case (p50, e50, p95, e95) =>
      assert(math.abs(p50 - e50) / e50 < 0.05)
      assert(math.abs(p95 - e95) / e95 < 0.05)
    }
  }
}

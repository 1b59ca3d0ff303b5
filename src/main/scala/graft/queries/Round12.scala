package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 wave 1 (SURVEY.md §2.8f): partial autocorrelation — the
  * AR-order diagnostic q_x_acf cannot answer ("is the lag-2
  * correlation real or just lag-1 twice?"), a closed-form fold over
  * the day-grain series (≤ ~90 rows per event_type). The wave's two
  * two-sample tests, Anderson–Darling and Epps–Singleton, ride the
  * shared value-grain pair grid in [[SampleTests.pairGrid]].
  *
  * Determinism (§7.4): PACF's ρ₁..ρ₃ are round(corr, 6) per
  * event_type (identical inputs in both engines — the day grain
  * rounds at 6dp exactly like q_x_acf); the Durbin–Levinson
  * rationals are then written as the SAME SQL expression text in
  * both engines, so the final round(·, 6) sees bit-identical doubles.
  */
object Round12 {
  val queries: Seq[Query] = Seq(

    // Partial autocorrelation at lags 1..3 of the daily value series
    // per event_type, via the Durbin–Levinson closed forms on the
    // lag-window ACF estimates: φ₁₁ = ρ₁; φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²);
    // φ₃₃ = (ρ₃−φ₂₁ρ₂−φ₂₂ρ₁)/(1−φ₂₁ρ₁−φ₂₂ρ₂) with φ₂₁ = ρ₁(1−φ₂₂).
    // Lags stop at 3 by declaration (the closed forms past 3 add no
    // new plan shape, only algebra). ρ_k is the same pairwise-corr
    // estimator q_x_acf reports, rounded 6dp so both engines compose
    // identical inputs.
    Query("q_x_pacf", (s, d) => {
      val daily = graft.operators.DayGrain.values(s, d)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = daily.select(col("event_type"), col("v"),
        lag(col("v"), 1).over(w).as("l1"),
        lag(col("v"), 2).over(w).as("l2"),
        lag(col("v"), 3).over(w).as("l3"))
      lagged.groupBy(col("event_type")).agg(
          round(corr(col("v"), col("l1")), 6).as("r1"),
          round(corr(col("v"), col("l2")), 6).as("r2"),
          round(corr(col("v"), col("l3")), 6).as("r3"))
        .selectExpr("event_type", "r1", "r2", "r3",
          "(r2 - r1*r1) / (1 - r1*r1) AS p2")
        .selectExpr("event_type", "r1", "r2", "r3", "p2",
          "r1 * (1 - p2) AS f21")
        .selectExpr("event_type", "r1",
          "(r3 - f21*r2 - p2*r1) / (1 - f21*r1 - p2*r2) AS p3", "p2")
        .selectExpr("event_type",
          "stack(3, 1, round(r1, 6), 2, round(p2, 6), 3, round(p3, 6)) AS (lag_k, pacf)")
        .orderBy(col("event_type"), col("lag_k"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 6) AS v
                FROM events GROUP BY 1, 2),
         lg AS (SELECT event_type, v,
                  lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
                  lag(v, 3) OVER w AS l3
                FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         r AS (SELECT event_type,
                 round(corr(v, l1), 6) AS r1,
                 round(corr(v, l2), 6) AS r2,
                 round(corr(v, l3), 6) AS r3
               FROM lg GROUP BY event_type),
         s2 AS (SELECT event_type, r1, r2, r3,
                  (r2 - r1*r1) / (1 - r1*r1) AS p2
                FROM r),
         s3 AS (SELECT event_type, r1, r2, r3, p2,
                  r1 * (1 - p2) AS f21
                FROM s2),
         s4 AS (SELECT event_type, r1,
                  (r3 - f21*r2 - p2*r1) / (1 - f21*r1 - p2*r2) AS p3, p2
                FROM s3)
         SELECT event_type, 1 AS lag_k, round(r1, 6) AS pacf FROM s4
         UNION ALL SELECT event_type, 2, round(p2, 6) FROM s4
         UNION ALL SELECT event_type, 3, round(p3, 6) FROM s4
         ORDER BY event_type, lag_k"""))
  )
}

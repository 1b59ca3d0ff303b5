package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-12 wave 1 (SURVEY.md §2.8f): the three statistics the r11
  * verdict queued — partial autocorrelation (the AR-order diagnostic
  * q_x_acf cannot answer: "is the lag-2 correlation real or just
  * lag-1 twice?"), the Anderson–Darling two-sample test (the
  * tail-weighted alternative to q_x_ks, the standard "same
  * distribution?" test when the tails are what matter), and the
  * Epps–Singleton characteristic-function distance (the two-sample
  * test that stays valid on discrete/tied data where KS's
  * continuity assumption breaks — exactly the n_chars case).
  *
  * All three are closed-form folds over tiny grains: PACF rides the
  * day-grain series (≤ ~90 rows per event_type), AD and ES ride the
  * q_x_wasserstein/Round11g value-grain pair grid — never a
  * corpus-grain pair join, so the corpus-sized work is one
  * aggregation each.
  *
  * Determinism (§7.4):
  *  - PACF's ρ₁..ρ₃ are round(corr, 6) per event_type (identical
  *    inputs in both engines — the day grain rounds at 6dp exactly
  *    like q_x_acf); the Durbin–Levinson rationals are then written
  *    as the SAME SQL expression text in both engines, so the final
  *    round(·, 6) sees bit-identical doubles.
  *  - AD uses the Scholz–Stephens MIDRANK tie rule (the declared tie
  *    rule, decided before the oracle was written: M_ij = #<z + ½#=z,
  *    the discrete-data form of scipy's anderson_ksamp
  *    midrank=True). Numerators/denominators are exact integers
  *    (DECIMAL squares); the per-value double terms fold in
  *    ascending-v order on the (sa,sb)-partitioned window in BOTH
  *    engines, one division pair at the end.
  *  - ES evaluates the empirical characteristic function at the
  *    standard t ∈ {0.4, 0.8}/s points with s = the pooled
  *    semi-interquartile range under a DECLARED discrete quantile
  *    rule (type-1: smallest pooled value v with 4·F(v) ≥ N resp.
  *    ≥ 3N — integer threshold, no interpolation convention to
  *    disagree on). The statistic is the DECLARED unnormalized form
  *    N·‖φ̂_a − φ̂_b‖² (the Ω⁻¹ weighting of the full W² is a
  *    calibration constant at fixed t, not a data reduction); cos/sin
  *    sums fold in ascending-v order like AD.
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
         ORDER BY event_type, lag_k""")),

    // Anderson–Darling two-sample A²(midrank) per source pair over
    // the document-length distribution (Scholz–Stephens eq. 7 with
    // the midrank tie adjustment): with pooled N, per distinct
    // pooled value z_j of mass l_j, M_ij = #{sample i < z_j} +
    // ½#{= z_j} and B_j the pooled midrank cumulative,
    //   A² = (N−1)/N² · Σ_i (1/n_i) Σ_j l_j (N·M_ij − n_i B_j)²
    //        / (B_j(N−B_j) − N·l_j/4).
    // Doubling clears the halves: 2M_a = 2·cuma − wa,
    // 2B = 2(cuma+cumb) − l, so numerator (N·2Mᵢ − nᵢ·2B)² and
    // denominator 2B(2N−2B) − N·l are EXACT integers and the ¼
    // factors cancel. Spine rows with l = 0 (values owned by other
    // sources) are excluded — the formula sums over POOLED distinct
    // values only, and outside the pair's support the denominator is
    // legitimately 0 (B ∈ {0, N}).
    Query("q_x_ad", (s, d) => {
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
      val g = Round11g.pairGrid(s, d)
        .selectExpr("sa", "sb", "na", "nb", "v",
          "wa + wb AS l", "na + nb AS nn",
          "2*cuma - wa AS ma2", "2*cumb - wb AS mb2",
          "2*(cuma + cumb) - (wa + wb) AS b2")
        .filter(col("l") > 0)
        .selectExpr("sa", "sb", "na", "nb", "v", "l", "nn",
          "CAST(nn*ma2 - na*b2 AS DECIMAL(19,0)) AS ia",
          "CAST(nn*mb2 - nb*b2 AS DECIMAL(19,0)) AS ib",
          "b2*(2*nn - b2) - nn*l AS dint")
        .selectExpr("sa", "sb", "na", "nb", "v", "nn",
          "CAST(l AS DOUBLE) * CAST(ia*ia AS DOUBLE) / dint AS ta",
          "CAST(l AS DOUBLE) * CAST(ib*ib AS DOUBLE) / dint AS tb")
        .withColumn("suma", sum(col("ta")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sumb", sum(col("tb")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(w.orderBy(col("v").desc)))
        .filter(col("rn") === 1)
      g.selectExpr("sa", "sb",
          """round((nn - 1.0) / (CAST(nn AS DOUBLE) * nn)
               * (suma / na + sumb / nb), 6) AS ad_a2""")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH ${Round11g.gridSql},
         t AS (SELECT sa, sb, na, nb, v,
                 wa + wb AS l, na + nb AS nn,
                 2*cuma - wa AS ma2, 2*cumb - wb AS mb2,
                 2*(cuma + cumb) - (wa + wb) AS b2
               FROM cum),
         u AS (SELECT sa, sb, na, nb, v, l, nn,
                 CAST(nn*ma2 - na*b2 AS DECIMAL(19,0)) AS ia,
                 CAST(nn*mb2 - nb*b2 AS DECIMAL(19,0)) AS ib,
                 b2*(2*nn - b2) - nn*l AS dint
               FROM t WHERE l > 0),
         f AS (SELECT sa, sb, na, nb, nn,
                 sum(CAST(l AS DOUBLE) * CAST(ia*ia AS DOUBLE) / dint)
                   OVER pw AS suma,
                 sum(CAST(l AS DOUBLE) * CAST(ib*ib AS DOUBLE) / dint)
                   OVER pw AS sumb,
                 row_number() OVER (PARTITION BY sa, sb ORDER BY v DESC) AS rn
               FROM u
               WINDOW pw AS (PARTITION BY sa, sb ORDER BY v
                             ROWS UNBOUNDED PRECEDING))
         SELECT sa, sb,
                round((nn - 1.0) / (CAST(nn AS DOUBLE) * nn)
                  * (suma / na + sumb / nb), 6) AS ad_a2
         FROM f WHERE rn = 1 ORDER BY sa, sb""")),

    // Epps–Singleton ECF distance per source pair:
    // es = N · Σ_{t∈{t1,t2}} |φ̂_a(t) − φ̂_b(t)|², with
    // φ̂(t) = (1/n) Σ_v w_v·e^{itv}, t_k = {0.4, 0.8}/s, and s the
    // pooled semi-IQR under the declared type-1 discrete quantile
    // rule (integer cumulative thresholds — exact in both engines).
    Query("q_x_epps", (s, d) => {
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
      val grid = Round11g.pairGrid(s, d)
      val iqr = grid.groupBy(col("sa"), col("sb")).agg(
        min(when(lit(4) * (col("cuma") + col("cumb")) >= col("na") + col("nb"),
          col("v"))).as("q25"),
        min(when(lit(4) * (col("cuma") + col("cumb")) >= lit(3) * (col("na") + col("nb")),
          col("v"))).as("q75"))
      val g = grid.join(broadcast(iqr), Seq("sa", "sb"))
        .selectExpr("sa", "sb", "na", "nb", "v", "wa", "wb",
          "na + nb AS nn",
          "0.4 / ((q75 - q25) / 2.0) AS t1",
          "0.8 / ((q75 - q25) / 2.0) AS t2")
        .selectExpr("sa", "sb", "na", "nb", "v", "nn",
          "wa * cos(t1 * v) AS a1r", "wa * sin(t1 * v) AS a1i",
          "wa * cos(t2 * v) AS a2r", "wa * sin(t2 * v) AS a2i",
          "wb * cos(t1 * v) AS b1r", "wb * sin(t1 * v) AS b1i",
          "wb * cos(t2 * v) AS b2r", "wb * sin(t2 * v) AS b2i")
      val cw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val folded = Seq("a1r", "a1i", "a2r", "a2i", "b1r", "b1i", "b2r", "b2i")
        .foldLeft(g)((df, c) => df.withColumn(s"c$c", sum(col(c)).over(cw)))
        .withColumn("rn", row_number().over(w.orderBy(col("v").desc)))
        .filter(col("rn") === 1)
      folded.selectExpr("sa", "sb",
          """round(nn * (pow(ca1r/na - cb1r/nb, 2) + pow(ca1i/na - cb1i/nb, 2)
               + pow(ca2r/na - cb2r/nb, 2) + pow(ca2i/na - cb2i/nb, 2)), 6)
             AS es_stat""")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH ${Round11g.gridSql},
         iqr AS (SELECT sa, sb,
                   min(CASE WHEN 4*(cuma + cumb) >= na + nb THEN v END) AS q25,
                   min(CASE WHEN 4*(cuma + cumb) >= 3*(na + nb) THEN v END) AS q75
                 FROM cum GROUP BY sa, sb),
         g AS (SELECT c.sa, c.sb, c.na, c.nb, c.v, c.wa, c.wb,
                 c.na + c.nb AS nn,
                 0.4 / ((i.q75 - i.q25) / 2.0) AS t1,
                 0.8 / ((i.q75 - i.q25) / 2.0) AS t2
               FROM cum c JOIN iqr i ON c.sa = i.sa AND c.sb = i.sb),
         e AS (SELECT sa, sb, na, nb, v, nn,
                 wa * cos(t1 * v) AS a1r, wa * sin(t1 * v) AS a1i,
                 wa * cos(t2 * v) AS a2r, wa * sin(t2 * v) AS a2i,
                 wb * cos(t1 * v) AS b1r, wb * sin(t1 * v) AS b1i,
                 wb * cos(t2 * v) AS b2r, wb * sin(t2 * v) AS b2i
               FROM g),
         f AS (SELECT sa, sb, na, nb, nn,
                 sum(a1r) OVER pw AS ca1r, sum(a1i) OVER pw AS ca1i,
                 sum(a2r) OVER pw AS ca2r, sum(a2i) OVER pw AS ca2i,
                 sum(b1r) OVER pw AS cb1r, sum(b1i) OVER pw AS cb1i,
                 sum(b2r) OVER pw AS cb2r, sum(b2i) OVER pw AS cb2i,
                 row_number() OVER (PARTITION BY sa, sb ORDER BY v DESC) AS rn
               FROM e
               WINDOW pw AS (PARTITION BY sa, sb ORDER BY v
                             ROWS UNBOUNDED PRECEDING))
         SELECT sa, sb,
                round(nn * (pow(ca1r/na - cb1r/nb, 2) + pow(ca1i/na - cb1i/nb, 2)
                  + pow(ca2r/na - cb2r/nb, 2) + pow(ca2i/na - cb2i/nb, 2)), 6)
                  AS es_stat
         FROM f WHERE rn = 1 ORDER BY sa, sb"""))
  )
}

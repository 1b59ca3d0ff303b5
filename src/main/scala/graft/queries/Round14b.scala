package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Cuts.CutOps
import graft.operators.DayGrain
import graft.Tables.table

/** Round-14 wave 2 (SURVEY.md §2.8h): residual/randomness diagnostics
  * over each event type's daily count series — the Ljung–Box
  * portmanteau (the standard "is there ANY autocorrelation in the
  * first m lags" test a forecasting pipeline runs on residuals) and
  * the von Neumann successive-difference ratio (the classic
  * mean-square-successive-difference randomness test).
  *
  * Both follow the §2.8g scale contract: ONE map-side-partial pass
  * reduces the corpus to (event_type, day) grain; every later step is
  * a per-type window or aggregate over calendar-bounded rows. Both
  * are declared at OBSERVATION-INDEX grain: the series is the
  * day-ordered sequence of daily counts, and calendar gaps close
  * ranks (lag k = k observations back, not k days back) — the
  * declared convention, mirrored in the oracle.
  *
  * Cross-engine determinism: every aggregate is an exact BIGINT sum
  * (Σc, Σc², Σc·lag_k(c), Σ(Δc)²); the statistics evaluate as ONE
  * textually-shared double expression over those integers, so Spark
  * and DuckDB compute bit-identical doubles.
  */
object Round14b {
  /** Declared Ljung–Box lag depth. */
  private val LbLags = 7

  /** Shared double-expression text over the exact integer aggregates
    * (n, sc, sq, and per-lag pk/ak/bk). `mean` and `den` are the
    * series mean and the centered sum of squares Σ(x−x̄)².
    */
  private val MeanTxt = "(CAST(sc AS DOUBLE) / n)"
  private val DenTxt = "(CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n)"

  /** Lag-k sample autocorrelation from exact sums: r_k =
    * (Σ x_t·x_{t−k} − x̄·Σ_{t>k} x_t − x̄·Σ_{t≤n−k} x_t + (n−k)·x̄²)
    * / Σ(x−x̄)².
    */
  private def rkTxt(k: Int): String =
    s"""((CAST(p$k AS DOUBLE) - $MeanTxt * a$k - $MeanTxt * b$k
        + (n - $k) * $MeanTxt * $MeanTxt) / $DenTxt)"""

  /** Q_LB = n(n+2) Σ_{k=1..m} r_k²/(n−k), textually unrolled so both
    * engines add the m terms in the same left-to-right order.
    */
  private val QlbTxt: String =
    s"(CAST(n AS DOUBLE) * (n + 2) * (" +
      (1 to LbLags).map(k => s"${rkTxt(k)} * ${rkTxt(k)} / (n - $k)")
        .mkString(" + ") + "))"

  /** Declared KPSS Bartlett bandwidth (lag window l; weights 1−j/(l+1)). */
  private val KpssL = 7

  /** Autocovariance γ_j from the same exact lag sums: γ_j =
    * (Σ x_t·x_{t−j} − x̄·(Σ_{t>j} x_t + Σ_{t≤n−j} x_t) + (n−j)·x̄²)/n.
    */
  private def gammaTxt(j: Int): String =
    s"""((CAST(p$j AS DOUBLE) - $MeanTxt * a$j - $MeanTxt * b$j
        + (n - $j) * $MeanTxt * $MeanTxt) / n)"""

  /** Bartlett long-run variance: γ0 + 2Σ_{j=1..l}(1−j/(l+1))γ_j, terms
    * in fixed left-to-right order.
    */
  private val LrvTxt: String =
    s"(($DenTxt / n) + 2 * (" +
      (1 to KpssL).map(j => s"(1 - $j / ${KpssL + 1}.0) * ${gammaTxt(j)}")
        .mkString(" + ") + "))"

  /** Σ S_t² via the prefix-sum expansion S_t = C_t − t·x̄:
    * Σ C_t² − 2x̄·Σ t·C_t + x̄²·n(n+1)(2n+1)/6 — scc/stc built from a
    * DECIMAL(18,0) cast of C_t whose products/sums Spark widens to
    * DECIMAL(38,0), the Σt² closed form.
    */
  private val SumS2Txt: String =
    s"""(CAST(scc AS DOUBLE) - 2 * $MeanTxt * stc
        + $MeanTxt * $MeanTxt * (CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 6))"""

  /** D'Agostino–Pearson moment texts (the jarque_bera convention:
    * exact BIGINT s1/s2, DECIMAL(18,0)-routed s3/s4, all read through
    * CAST(... AS DOUBLE) in one shared expression).
    */
  private val DaM = "(CAST(s1 AS DOUBLE) / n)"
  private[graft] val DaM2 = s"(CAST(s2 AS DOUBLE) / n - $DaM * $DaM)"
  private val DaM3 =
    s"""(CAST(s3 AS DOUBLE) / n - 3.0 * $DaM * (CAST(s2 AS DOUBLE) / n)
        + 2.0 * $DaM * $DaM * $DaM)"""
  private val DaM4 =
    s"""(CAST(s4 AS DOUBLE) / n - 4.0 * $DaM * (CAST(s3 AS DOUBLE) / n)
        + 6.0 * $DaM * $DaM * (CAST(s2 AS DOUBLE) / n)
        - 3.0 * $DaM * $DaM * $DaM * $DaM)"""
  private val DaG1 = s"($DaM3 / ($DaM2 * sqrt($DaM2)))"
  private[graft] val DaB2 = s"($DaM4 / ($DaM2 * $DaM2))"

  /** D'Agostino (1970) skewness transform Z1. */
  private[graft] val DaZ1Txt: String = {
    val y = s"($DaG1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3) / (6.0 * (n - 2))))"
    val beta2 =
      s"""(3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1) * (n + 3)
          / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9)))"""
    val w2 = s"(sqrt(2.0 * ($beta2 - 1)) - 1)"
    val delta = s"(1.0 / sqrt(ln(sqrt($w2))))"
    val alpha = s"(sqrt(2.0 / ($w2 - 1)))"
    s"($delta * ln($y / $alpha + sqrt(($y / $alpha) * ($y / $alpha) + 1)))"
  }

  /** Anscombe–Glynn (1983) kurtosis transform Z2 (sign-preserving cube
    * root, declared — pow(negative, 1/3) is NaN in both engines).
    */
  private[graft] val DaZ2Txt: String = {
    val eb2 = s"(3.0 * (CAST(n AS DOUBLE) - 1) / (n + 1))"
    val vb2 =
      s"""(24.0 * n * (CAST(n AS DOUBLE) - 2) * (n - 3)
          / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3) * (n + 5)))"""
    val xx = s"(($DaB2 - $eb2) / sqrt($vb2))"
    val sb1 =
      s"""(6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2) / ((CAST(n AS DOUBLE) + 7) * (n + 9))
          * sqrt(6.0 * (CAST(n AS DOUBLE) + 3) * (n + 5)
              / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))))"""
    val aa = s"(6.0 + 8.0 / $sb1 * (2.0 / $sb1 + sqrt(1.0 + 4.0 / ($sb1 * $sb1))))"
    val base = s"((1 - 2.0 / $aa) / (1 + $xx * sqrt(2.0 / ($aa - 4))))"
    // NOT `1.0 / 3.0`: Spark parses that as DECIMAL ÷ DECIMAL and
    // truncates the exponent to 0.333333 (DuckDB evaluates it as a
    // double) — the CAST forces double division in both engines.
    val cbrt =
      s"""(CASE WHEN $base >= 0 THEN pow($base, CAST(1 AS DOUBLE) / 3)
               ELSE -pow(-($base), CAST(1 AS DOUBLE) / 3) END)"""
    s"(((1 - 2.0 / (9 * $aa)) - $cbrt) / sqrt(2.0 / (9 * $aa)))"
  }

  /** The declared-ordinal-bucketing contingency + doubled pair sums
    * (2C/2D/2T_y/2T_x) CTE shared by the gamma/somers_d oracles.
    */
  private val OrdinalCellsSql: String =
    """cells AS (SELECT source,
             CAST(floor(n_chars / 500.0) AS BIGINT) AS x,
             CAST(floor(len(string_split(text, ' ')) / 100.0) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
           FROM documents GROUP BY 1, 2, 3),
       ps AS (SELECT a.source,
                CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                               OR (a.x > b.x AND a.y > b.y)
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS c2,
                CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                               OR (a.x > b.x AND a.y < b.y)
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS d2,
                CAST(sum(CASE WHEN a.y = b.y AND a.x <> b.x
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS ty2,
                CAST(sum(CASE WHEN a.x = b.x AND a.y <> b.y
                          THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT) AS tx2
              FROM cells a JOIN cells b ON a.source = b.source
              GROUP BY a.source)"""

  /** The time-to-first-purchase at-risk grid CTE shared by the
    * log_rank / gehan_wilcoxon / rmst oracles — mirrors
    * logRankAtRisk.
    */
  private val LogRankGridSql: String =
    """ev AS (SELECT user_id, event_type, event_id, ts,
             epoch_us(ts) AS tm FROM events),
       ft AS (SELECT user_id, event_type AS cohort FROM
                (SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS rk
                 FROM ev)
              WHERE rk = 1),
       users AS (SELECT ft.cohort,
                   (COALESCE(u.tp, u.t1) - u.t0) // 86400000000 AS dur,
                   u.tp IS NULL AS censored
                 FROM (SELECT user_id, min(tm) AS t0, max(tm) AS t1,
                         min(CASE WHEN event_type = 'purchase' THEN tm END) AS tp
                       FROM ev GROUP BY user_id) u
                 JOIN ft ON ft.user_id = u.user_id),
       by_dur AS (SELECT cohort, dur, CAST(count(*) AS BIGINT) AS ending,
                    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS dg
                  FROM users GROUP BY 1, 2),
       pooled AS (SELECT dur, CAST(sum(ending) AS BIGINT) AS endp,
                    CAST(sum(dg) AS BIGINT) AS dp
                  FROM by_dur GROUP BY dur),
       tot AS (SELECT cohort, CAST(sum(ending) AS BIGINT) AS nn
               FROM by_dur GROUP BY cohort),
       nn_all AS (SELECT CAST(sum(endp) AS BIGINT) AS nt_all FROM pooled),
       grid AS (SELECT t.cohort, t.nn, p.dur, p.endp, p.dp,
                  COALESCE(b.ending, 0) AS ending, COALESCE(b.dg, 0) AS dg,
                  a.nt_all
                FROM tot t CROSS JOIN pooled p
                LEFT JOIN by_dur b ON b.cohort = t.cohort AND b.dur = p.dur,
                nn_all a),
       at_risk AS (SELECT *,
                     nn - COALESCE(sum(ending) OVER (PARTITION BY cohort ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ng,
                     nt_all - COALESCE(sum(endp) OVER (PARTITION BY cohort ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np
                   FROM grid)"""

  /** Shared time-to-first-purchase at-risk frame for the survival
    * tests (q_x_log_rank / q_x_gehan_wilcoxon / q_x_rmst): cohort ×
    * pooled-duration grid with per-cohort (ng) and pooled (np)
    * at-risk counts, cohort deaths dg, pooled deaths dp — all exact
    * BIGINTs at duration grain.
    */
  private def logRankAtRisk(s: SparkSession, d: String): DataFrame = {
    val ev = table(s, d, "events")
    val firstType = ev
      .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("cohort"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("tp"))
      .join(firstType, "user_id")
      .select(col("cohort"),
        expr("(coalesce(tp, t1) - t0) div 86400000000").as("dur"),
        col("tp").isNull.as("censored"))
      .cut(eager = true)
    val byDur = users.groupBy(col("cohort"), col("dur"))
      .agg(count(lit(1)).as("ending"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("dg"))
    val pooled = byDur.groupBy(col("dur"))
      .agg(sum(col("ending")).as("endp"), sum(col("dg")).as("dp"))
    val tot = byDur.groupBy(col("cohort")).agg(sum(col("ending")).as("nn"))
    val nnAll = pooled.agg(sum(col("endp")).as("nt_all"))
    val grid = broadcast(tot).crossJoin(pooled)
      .join(byDur, Seq("cohort", "dur"), "left")
      .na.fill(0L, Seq("ending", "dg"))
      .crossJoin(broadcast(nnAll))
    val wp = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("ng", col("nn") - coalesce(sum(col("ending")).over(wp), lit(0L)))
      .withColumn("np", col("nt_all") - coalesce(sum(col("endp")).over(wp), lit(0L)))
  }

  /** Shared pair-concordance sums for the declared ordinal bucketing:
    * per source, 2C (concordant), 2D (discordant), 2T_y (tied on y,
    * split on x), 2T_x — all exact BIGINTs from the cells² ordered
    * pair grid.
    */
  private def ordinalPairSums(s: SparkSession, d: String): DataFrame = {
    val cells = table(s, d, "documents")
      // floor(), not a bare cast: Spark CAST(double AS BIGINT)
      // truncates where DuckDB rounds — floor is the shared text.
      .select(col("source"), floor(col("n_chars") / 500).cast("long").as("x"),
        floor(size(split(col("text"), " ")) / 100).cast("long").as("y"))
      .groupBy(col("source"), col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      .cut(eager = true)
    val a = cells.toDF("source", "xa", "ya", "na")
    val b = cells.toDF("source", "xb", "yb", "nb")
    a.join(b, Seq("source"))
      .groupBy(col("source"))
      .agg(
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
          (col("xa") > col("xb") && col("ya") > col("yb")),
          col("na") * col("nb")).otherwise(0L)).as("c2"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
          (col("xa") > col("xb") && col("ya") < col("yb")),
          col("na") * col("nb")).otherwise(0L)).as("d2"),
        sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"),
          col("na") * col("nb")).otherwise(0L)).as("ty2"),
        sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"),
          col("na") * col("nb")).otherwise(0L)).as("tx2"))
  }

  private val OracleDc =
    """dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2)"""

  val queries: Seq[Query] = Seq(

    // Ljung–Box portmanteau per event type over daily counts
    // (DECLARED m = 7 lags, observation-index grain): Q =
    // n(n+2)Σ r_k²/(n−k). The per-lag cross-moments Σ x_t·x_{t−k}
    // and the two tail sums are exact BIGINTs from ONE window pass
    // (7 lag columns over the same per-type day-ordered window);
    // r_k expands the centered product algebraically so no double
    // accumulates across rows. Types with n ≤ m or a constant
    // series (Σ(x−x̄)² = 0) surface with NULL q_lb — declared, not
    // dropped.
    Query("q_x_ljung_box", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = (1 to LbLags).foldLeft(dc) { (df, k) =>
        df.withColumn(s"l$k", lag(col("c"), k).over(w))
      }
      val aggs =
        Seq(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("sq")) ++
          (1 to LbLags).flatMap { k =>
            Seq(sum(col("c") * col(s"l$k")).as(s"p$k"),
              sum(when(col(s"l$k").isNotNull, col("c"))).as(s"a$k"),
              sum(col(s"l$k")).as(s"b$k"))
          }
      lagged.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        .selectExpr("event_type", "n AS n_days",
          s"""CASE WHEN n > 1 AND $DenTxt > 0
                THEN round(${rkTxt(1)}, 6) ELSE NULL END AS r1""",
          s"""CASE WHEN n > $LbLags AND $DenTxt > 0
                THEN round($QlbTxt, 6) ELSE NULL END AS q_lb""")
        .orderBy(col("event_type"))
    }, Some {
      // Same lag window (observation-index grain: ORDER BY day closes
      // calendar gaps), same exact BIGINT sums, same expression text.
      val lagCols = (1 to LbLags)
        .map(k => s"lag(c, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k")
        .mkString(",\n                 ")
      val aggCols = (1 to LbLags).map { k =>
        s"""CAST(sum(c * l$k) AS BIGINT) AS p$k,
                 CAST(sum(CASE WHEN l$k IS NOT NULL THEN c END) AS BIGINT) AS a$k,
                 CAST(sum(l$k) AS BIGINT) AS b$k"""
      }.mkString(",\n                 ")
      s"""WITH $OracleDc,
         lg AS (SELECT event_type, c,
                 $lagCols
               FROM dc),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(sum(c * c) AS BIGINT) AS sq,
                 $aggCols
               FROM lg GROUP BY event_type)
         SELECT event_type, n AS n_days,
                CASE WHEN n > 1 AND $DenTxt > 0
                     THEN round(${rkTxt(1)}, 6) ELSE NULL END AS r1,
                CASE WHEN n > $LbLags AND $DenTxt > 0
                     THEN round($QlbTxt, 6) ELSE NULL END AS q_lb
         FROM g ORDER BY event_type"""
    }),

    // Von Neumann successive-difference ratio per event type:
    // vn = Σ_{t=2..n}(x_t − x_{t−1})² / Σ(x − x̄)² — trend/positive
    // autocorrelation pushes vn below 2, oscillation above. The
    // numerator is an exact BIGINT from the same one-pass lag
    // window; z uses the DECLARED asymptotic moments E = 2,
    // Var = 4(n−2)/(n²−1). Types with n < 3 or a constant series
    // surface with NULL vn/z.
    Query("q_x_von_neumann", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      dc.withColumn("l1", lag(col("c"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("sq"),
          sum((col("c") - col("l1")) * (col("c") - col("l1"))).as("sd2"))
        .selectExpr("event_type", "n AS n_days",
          s"""CASE WHEN n >= 3 AND $DenTxt > 0
                THEN round(CAST(sd2 AS DOUBLE) / $DenTxt, 6)
                ELSE NULL END AS vn""",
          s"""CASE WHEN n >= 3 AND $DenTxt > 0
                THEN round((CAST(sd2 AS DOUBLE) / $DenTxt - 2)
                  / sqrt(4.0 * (n - 2) / ((CAST(n AS DOUBLE) - 1) * (n + 1))), 6)
                ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same one-lag window and declared asymptotic moments.
      s"""WITH $OracleDc,
         lg AS (SELECT event_type, c,
                 lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1
               FROM dc),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(sum(c * c) AS BIGINT) AS sq,
                 CAST(sum((c - l1) * (c - l1)) AS BIGINT) AS sd2
               FROM lg GROUP BY event_type)
         SELECT event_type, n AS n_days,
                CASE WHEN n >= 3 AND $DenTxt > 0
                     THEN round(CAST(sd2 AS DOUBLE) / $DenTxt, 6)
                     ELSE NULL END AS vn,
                CASE WHEN n >= 3 AND $DenTxt > 0
                     THEN round((CAST(sd2 AS DOUBLE) / $DenTxt - 2)
                       / sqrt(4.0 * (n - 2) / ((CAST(n AS DOUBLE) - 1) * (n + 1))), 6)
                     ELSE NULL END AS z
         FROM g ORDER BY event_type""")),

    // KPSS level-stationarity test per event type over daily counts
    // (DECLARED: level form — no trend term; Bartlett bandwidth
    // l = 7; observation-index grain): η = (Σ S_t²/n²) / lrv with
    // S_t the partial sums of the demeaned series. S_t expands as
    // C_t − t·x̄ (C_t = exact BIGINT prefix sum), so Σ S_t² needs
    // only Σ C_t², Σ t·C_t (exact BIGINTs from ONE cumulative
    // window) and the closed-form Σ t²; the Bartlett γ_j reuse the
    // Ljung–Box lag machinery. Low vn/high η ⇒ a wandering level.
    // Types with n ≤ l or zero long-run variance surface NULL kpss.
    // (Scale note: Σ C_t² grows as (Σc)²·n — C_t is cast to
    // DECIMAL(18,0) (the jarque_bera s3/s4 convention) and the
    // products/sums widen to DECIMAL(38,0), exact far past the old
    // ~sf100 BIGINT budget. Past THAT budget the behavior is
    // mode-dependent: Spark 4 defaults spark.sql.ansi.enabled=true
    // (verified on this build: the overflow cast throws
    // ArithmeticException), so the effective behavior is error-not-
    // wrap; only if ANSI were explicitly disabled would a C_t ≥ 1e18
    // cast or >38-digit product/sum yield NULL silently while the
    // DuckDB oracle's HUGEINT stays exact.)
    Query("q_x_kpss", (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val base = dc
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("hcum", col("cum").cast(DecimalType(18, 0)))
      val lagged = (1 to KpssL).foldLeft(base) { (df, j) =>
        df.withColumn(s"l$j", lag(col("c"), j).over(w))
      }
      val aggs =
        Seq(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("sq"),
          sum(col("hcum") * col("cum")).as("scc"),
          sum(col("rn") * col("hcum")).as("stc")) ++
          (1 to KpssL).flatMap { j =>
            Seq(sum(col("c") * col(s"l$j")).as(s"p$j"),
              sum(when(col(s"l$j").isNotNull, col("c"))).as(s"a$j"),
              sum(col(s"l$j")).as(s"b$j"))
          }
      lagged.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        .selectExpr("event_type", "n AS n_days",
          s"""CASE WHEN n > $KpssL AND $LrvTxt > 0
                THEN round($LrvTxt, 6) ELSE NULL END AS lrv""",
          s"""CASE WHEN n > $KpssL AND $LrvTxt > 0
                THEN round($SumS2Txt / (CAST(n AS DOUBLE) * n) / $LrvTxt, 6)
                ELSE NULL END AS kpss""")
        .orderBy(col("event_type"))
    }, Some {
      // Same cumulative + 7-lag window pass, same prefix-sum expansion
      // of Σ S_t², same Bartlett weights in the same term order.
      val lagCols = (1 to KpssL)
        .map(j => s"lag(c, $j) OVER (PARTITION BY event_type ORDER BY day) AS l$j")
        .mkString(",\n                 ")
      val aggCols = (1 to KpssL).map { j =>
        s"""CAST(sum(c * l$j) AS BIGINT) AS p$j,
                 CAST(sum(CASE WHEN l$j IS NOT NULL THEN c END) AS BIGINT) AS a$j,
                 CAST(sum(l$j) AS BIGINT) AS b$j"""
      }.mkString(",\n                 ")
      s"""WITH $OracleDc,
         lg AS (SELECT event_type, c,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
                 sum(c) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 $lagCols
               FROM dc),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(sum(c * c) AS BIGINT) AS sq,
                 sum(CAST(cum AS DECIMAL(18,0)) * cum) AS scc,
                 sum(rn * CAST(cum AS DECIMAL(18,0))) AS stc,
                 $aggCols
               FROM lg GROUP BY event_type)
         SELECT event_type, n AS n_days,
                CASE WHEN n > $KpssL AND $LrvTxt > 0
                     THEN round($LrvTxt, 6) ELSE NULL END AS lrv,
                CASE WHEN n > $KpssL AND $LrvTxt > 0
                     THEN round($SumS2Txt / (CAST(n AS DOUBLE) * n) / $LrvTxt, 6)
                     ELSE NULL END AS kpss
         FROM g ORDER BY event_type"""
    }),

    // D'Agostino–Pearson K² omnibus normality test per source over
    // document lengths — the finite-n-calibrated counterpart of
    // q_x_jarque_bera (which uses the asymptotic χ² form): skewness
    // through D'Agostino's (1970) Z1 transform, kurtosis through
    // Anscombe–Glynn's (1983) Z2, K² = Z1² + Z2². Moments follow the
    // jarque_bera convention exactly (BIGINT s1/s2, DECIMAL-routed
    // s3/s4, one shared double expression); cube root is the declared
    // sign-preserving form. DECLARED guard n ≥ 20 (the transforms'
    // published validity floor) ∧ m2 > 0, NULL otherwise.
    Query("q_x_dagostino", (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val x2 = col("n_chars") * col("n_chars")
      table(s, d, "documents")
        .select(col("source"), col("n_chars"),
          x2.as("x2"), x2.cast(DecimalType(18, 0)).as("hx"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s1"),
          sum(col("x2")).as("s2"),
          sum(col("hx") * col("n_chars")).as("s3"),
          sum(col("hx") * col("hx")).as("s4"))
        .selectExpr("source", "n",
          s"""CASE WHEN n >= 20 AND $DaM2 > 0
                THEN round($DaZ1Txt, 6) ELSE NULL END AS z1""",
          s"""CASE WHEN n >= 20 AND $DaM2 > 0
                THEN round($DaZ2Txt, 6) ELSE NULL END AS z2""",
          s"""CASE WHEN n >= 20 AND $DaM2 > 0
                THEN round($DaZ1Txt * $DaZ1Txt + $DaZ2Txt * $DaZ2Txt, 6)
                ELSE NULL END AS k2""")
        .orderBy(col("source"))
    }, Some(
      // Same moment routing as the q_x_jarque_bera oracle, same Z1/Z2
      // expression text.
      s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s1,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
                 sum(CAST(n_chars * n_chars AS DECIMAL(18,0)) * n_chars) AS s3,
                 sum(CAST(n_chars * n_chars AS DECIMAL(18,0)) *
                     CAST(n_chars * n_chars AS DECIMAL(18,0))) AS s4
               FROM documents GROUP BY source)
         SELECT source, n,
                CASE WHEN n >= 20 AND $DaM2 > 0
                     THEN round($DaZ1Txt, 6) ELSE NULL END AS z1,
                CASE WHEN n >= 20 AND $DaM2 > 0
                     THEN round($DaZ2Txt, 6) ELSE NULL END AS z2,
                CASE WHEN n >= 20 AND $DaM2 > 0
                     THEN round($DaZ1Txt * $DaZ1Txt + $DaZ2Txt * $DaZ2Txt, 6)
                     ELSE NULL END AS k2
         FROM g ORDER BY source""")),

    // Fleiss' kappa over the event stream: DECLARED framing — each
    // day is a subject, each event that day is one "rating", the
    // event type is the category; the varying-raters form P_i =
    // (Σ_j n_ij² − n_i)/(n_i(n_i−1)) (days with n_i < 2 are excluded
    // from EVERYTHING — declared). P_i is a ratio of exact integers;
    // the only cross-row double folds (P̄ over days, P̄_e over
    // categories) run as sorted-single-partition k-row folds over
    // calendar-/dims-bounded frames, matching the oracle's running
    // windows term for term. Measures "are days internally
    // consistent in their type mix beyond chance".
    Query("q_x_fleiss_kappa", (s, d) => {
      val cell = table(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .cut(eager = true)
      val di = cell.groupBy(col("day"))
        .agg(sum(col("c")).as("ni"), sum(col("c") * col("c")).as("sq"))
        .filter(col("ni") >= 2)
      val qualDays = di.select(col("day"))
      val pbar = di.coalesce(1).sortWithinPartitions(col("day"))
        .agg(count(lit(1)).as("n_days"),
          avg((col("sq") - col("ni")).cast("double")
            / (col("ni") * (col("ni") - 1))).as("pbar"))
      val tot = di.agg(sum(col("ni")).as("nn"))
      val pj = cell.join(qualDays, "day")
        .groupBy(col("event_type")).agg(sum(col("c")).as("cj"))
        .crossJoin(broadcast(tot))
        .coalesce(1).sortWithinPartitions(col("event_type"))
        .agg(sum((col("cj").cast("double") / col("nn"))
          * (col("cj").cast("double") / col("nn"))).as("pe"))
      pbar.crossJoin(broadcast(pj))
        .selectExpr("n_days", "round(pbar, 6) AS pbar", "round(pe, 6) AS pe",
          """CASE WHEN pe < 1 THEN round((pbar - pe) / (1 - pe), 6)
               ELSE NULL END AS kappa""")
    }, Some(
      // Same declared framing; the two double folds run as running
      // windows over the same sorted day/category order as Spark's
      // sorted-single-partition folds.
      """WITH cell AS (SELECT CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
         di AS (SELECT day, CAST(sum(c) AS BIGINT) AS ni,
                  CAST(sum(c * c) AS BIGINT) AS sq
                FROM cell GROUP BY day
                HAVING CAST(sum(c) AS BIGINT) >= 2),
         pbar AS (SELECT max(cnt) AS n_days, max(run) / max(cnt) AS pbar FROM
                    (SELECT count(*) OVER () AS cnt,
                       sum(CAST(sq - ni AS DOUBLE) / (ni * (ni - 1)))
                         OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                     FROM di)),
         tot AS (SELECT CAST(sum(ni) AS BIGINT) AS nn FROM di),
         pj AS (SELECT max(run) AS pe FROM
                  (SELECT sum((CAST(cj AS DOUBLE) / nn) * (CAST(cj AS DOUBLE) / nn))
                     OVER (ORDER BY event_type
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                   FROM (SELECT c2.event_type, CAST(sum(c2.c) AS BIGINT) AS cj
                         FROM cell c2 JOIN di ON di.day = c2.day
                         GROUP BY c2.event_type), tot))
         SELECT n_days, round(pbar, 6) AS pbar, round(pe, 6) AS pe,
                CASE WHEN pe < 1 THEN round((pbar - pe) / (1 - pe), 6)
                     ELSE NULL END AS kappa
         FROM pbar, pj""")),

    // Cronbach's alpha over the event stream: DECLARED framing —
    // event types are the k items, days are subjects, the item score
    // is the daily count with missing (type, day) cells = 0 on the
    // calendar spine of ALL observed days (a type that skips a day
    // genuinely scored 0). α = k/(k−1)·(1 − Σᵢσ²ᵢ/σ²_tot), sample
    // variances; per-item Σc/Σc² are exact BIGINTs (zero cells add
    // zero, so observed-row sums ARE spine sums — only D changes),
    // daily totals fold at day grain, and the single cross-item
    // double sum runs as a sorted k-row fold.
    Query("q_x_cronbach", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val spine = dc.agg(countDistinct(col("day")).as("dd"),
        countDistinct(col("event_type")).as("k"))
      val items = dc.groupBy(col("event_type"))
        .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sq"))
        .crossJoin(broadcast(spine))
        .coalesce(1).sortWithinPartitions(col("event_type"))
        .agg(max(col("dd")).as("dd"), max(col("k")).as("k"),
          sum((col("sq") - col("sc").cast("double") * col("sc") / col("dd"))
            / (col("dd") - 1)).as("svi"))
      val totals = dc.groupBy(col("day")).agg(sum(col("c")).as("t"))
        .agg(sum(col("t")).as("st"), sum(col("t") * col("t")).as("stq"))
      items.crossJoin(broadcast(totals))
        .selectExpr("k", "dd AS n_days",
          """CASE WHEN dd >= 2
              THEN round((CAST(stq AS DOUBLE) - CAST(st AS DOUBLE) * st / dd) / (dd - 1), 6)
              ELSE NULL END AS var_total""",
          """CASE WHEN k >= 2 AND dd >= 2
                   AND (CAST(stq AS DOUBLE) - CAST(st AS DOUBLE) * st / dd) > 0
              THEN round(CAST(k AS DOUBLE) / (k - 1)
                * (1 - svi / ((CAST(stq AS DOUBLE) - CAST(st AS DOUBLE) * st / dd)
                    / (dd - 1))), 6)
              ELSE NULL END AS alpha""")
    }, Some(
      // Same declared spine framing; the cross-item variance sum runs
      // as a running window in the same item order.
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
         spine AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS dd,
                     CAST(count(DISTINCT event_type) AS BIGINT) AS k
                   FROM dc),
         items AS (SELECT max(dd) AS dd, max(k) AS k, max(run) AS svi FROM
                     (SELECT s.dd, s.k,
                        sum((CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / s.dd)
                              / (s.dd - 1))
                          OVER (ORDER BY event_type
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                      FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS sc,
                              CAST(sum(c * c) AS BIGINT) AS sq
                            FROM dc GROUP BY event_type), spine s)),
         totals AS (SELECT CAST(sum(t) AS BIGINT) AS st,
                      CAST(sum(t * t) AS BIGINT) AS stq
                    FROM (SELECT day, CAST(sum(c) AS BIGINT) AS t
                          FROM dc GROUP BY day))
         SELECT k, dd AS n_days,
                CASE WHEN dd >= 2
                 THEN round((CAST(stq AS DOUBLE) - CAST(st AS DOUBLE) * st / dd) / (dd - 1), 6)
                 ELSE NULL END AS var_total,
                CASE WHEN k >= 2 AND dd >= 2
                      AND (CAST(stq AS DOUBLE) - CAST(st AS DOUBLE) * st / dd) > 0
                 THEN round(CAST(k AS DOUBLE) / (k - 1)
                   * (1 - svi / ((CAST(stq AS DOUBLE) - CAST(st AS DOUBLE) * st / dd)
                       / (dd - 1))), 6)
                 ELSE NULL END AS alpha
         FROM items, totals""")),

    // Goodman–Kruskal gamma per source between two DECLARED ordinal
    // bucketings of documents — x = ⌊n_chars/500⌋ (length class),
    // y = ⌊whitespace-token count/100⌋ (token class): γ = (C−D)/(C+D)
    // ignoring all ties. One corpus pass builds the (source, x, y)
    // contingency cells; the ordered pair grid (each unordered pair
    // twice — 2C/2D stay exact BIGINTs) is cells², bounded by the
    // bucket alphabet, never the corpus.
    Query("q_x_gamma", (s, d) => {
      ordinalPairSums(s, d)
        .selectExpr("source", "c2", "d2",
          """CASE WHEN c2 + d2 > 0
              THEN round(CAST(c2 - d2 AS DOUBLE) / (c2 + d2), 6)
              ELSE NULL END AS gamma""")
        .orderBy(col("source"))
    }, Some(
      // Same declared bucketing, same doubled pair-grid sums.
      s"""WITH $OrdinalCellsSql
         SELECT source, c2, d2,
                CASE WHEN c2 + d2 > 0
                     THEN round(CAST(c2 - d2 AS DOUBLE) / (c2 + d2), 6)
                     ELSE NULL END AS gamma
         FROM ps ORDER BY source""")),

    // Somers' D (y | x) per source over the same declared ordinal
    // bucketings: D_yx = (C−D)/(C+D+T_y) — gamma's asymmetric cousin
    // that charges pairs tied on the dependent y (but split on x)
    // against the association. Same exact doubled pair sums.
    Query("q_x_somers_d", (s, d) => {
      ordinalPairSums(s, d)
        .selectExpr("source", "c2", "d2", "ty2",
          """CASE WHEN c2 + d2 + ty2 > 0
              THEN round(CAST(c2 - d2 AS DOUBLE) / (c2 + d2 + ty2), 6)
              ELSE NULL END AS somers_d""")
        .orderBy(col("source"))
    }, Some(
      // Same sums plus the tied-on-y charge.
      s"""WITH $OrdinalCellsSql
         SELECT source, c2, d2, ty2,
                CASE WHEN c2 + d2 + ty2 > 0
                     THEN round(CAST(c2 - d2 AS DOUBLE) / (c2 + d2 + ty2), 6)
                     ELSE NULL END AS somers_d
         FROM ps ORDER BY source""")),

    // Cox–Stuart trend sign test per event type over daily counts
    // (observation-index grain, DECLARED conventions: offset
    // c = ceil(n/2) — an odd series drops its middle observation —
    // tied pairs discarded, and the plain no-continuity normal form
    // z = (2S⁺ − n')/√n'). The nonparametric "is the second half
    // bigger" complement of q_x_mann_kendall (which weighs ALL
    // pairs): one pass to day grain, one rn-offset self-join at
    // calendar-bounded size.
    Query("q_x_cox_stuart", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val dc = DayGrain.counts(s, d).cut(eager = true)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nd", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      val a = dc.select(col("event_type"), col("rn"), col("nd"), col("c").as("ca"))
      val b = dc.select(col("event_type"), col("rn").as("rn_b"), col("c").as("cb"))
      val pairs = a.join(b, a("event_type") === b("event_type") &&
          col("rn_b") === col("rn") + ceil(col("nd") / 2).cast("long"))
        .drop(b("event_type"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("cb") > col("ca"), 1L).otherwise(0L)).as("sp"),
          sum(when(col("cb") < col("ca"), 1L).otherwise(0L)).as("sm"))
      // left join: a one-observation type has no pairs — it surfaces
      // with s_plus = s_minus = 0 and NULL z, never a dropped row.
      dc.groupBy(col("event_type")).agg(max(col("nd")).as("n_days"))
        .join(pairs, Seq("event_type"), "left")
        .withColumn("sp", coalesce(col("sp"), lit(0L)))
        .withColumn("sm", coalesce(col("sm"), lit(0L)))
        .selectExpr("event_type", "n_days", "sp AS s_plus", "sm AS s_minus",
          """CASE WHEN sp + sm > 0
              THEN round(CAST(2 * sp - (sp + sm) AS DOUBLE) / sqrt(CAST(sp + sm AS DOUBLE)), 6)
              ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same declared offset/tie/z conventions over the same rn-offset
      // pair join.
      s"""WITH $OracleDc,
         o AS (SELECT event_type, c,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
               FROM dc),
         pr AS (SELECT a.event_type,
                  CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS up,
                  CASE WHEN b.c < a.c THEN 1 ELSE 0 END AS dn
                FROM o a JOIN o b ON b.event_type = a.event_type
                  AND b.rn = a.rn + CAST(ceil(a.nd / 2) AS BIGINT)),
         pg AS (SELECT event_type,
                  CAST(sum(up) AS BIGINT) AS sp, CAST(sum(dn) AS BIGINT) AS sm
                FROM pr GROUP BY event_type),
         g AS (SELECT n.event_type, n.n_days,
                 COALESCE(pg.sp, 0) AS sp, COALESCE(pg.sm, 0) AS sm
               FROM (SELECT event_type, max(nd) AS n_days FROM o GROUP BY 1) n
               LEFT JOIN pg ON pg.event_type = n.event_type)
         SELECT event_type, n_days, sp AS s_plus, sm AS s_minus,
                CASE WHEN sp + sm > 0
                 THEN round(CAST(2 * sp - (sp + sm) AS DOUBLE) / sqrt(CAST(sp + sm AS DOUBLE)), 6)
                 ELSE NULL END AS z
         FROM g ORDER BY event_type""")),

    // Seasonal Mann–Kendall per event type (DECLARED season =
    // epoch_day mod 7 — the calendar-keyed weekday, the holt_winters
    // device): S = Σ_seasons S_s and Var = Σ_seasons [n_s(n_s−1)
    // (2n_s+5) − Σt(t−1)(2t+5)]/18 with per-season tie corrections —
    // pairs are only compared WITHIN a season, so a strong weekly
    // cycle no longer drowns the monotone trend q_x_mann_kendall
    // sees through it. Same sign-corrected z as mann_kendall; all
    // sums exact BIGINT, one division at the end.
    Query("q_x_mk_seasonal", (s, d) => {
      val dc = DayGrain.counts(s, d)
        .withColumn("slot",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long") % 7)
        .cut(eager = true)
      val a = dc.select(col("event_type"), col("slot"), col("day").as("da"),
        col("c").as("ca"))
      val b = dc.select(col("event_type"), col("slot"), col("day").as("db"),
        col("c").as("cb"))
      val sTab = a.join(b, Seq("event_type", "slot"))
        .filter(col("da") < col("db"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("cb") > col("ca"), 1L)
          .when(col("cb") < col("ca"), -1L).otherwise(0L)).as("s"))
      val nTab = dc.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"))
      val varTab = dc.groupBy(col("event_type"), col("slot"))
        .agg(count(lit(1)).as("ns"))
        .groupBy(col("event_type"))
        .agg(sum(col("ns") * (col("ns") - 1) * (lit(2L) * col("ns") + 5)).as("vn"))
      val tieTab = dc.groupBy(col("event_type"), col("slot"), col("c"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("vt"))
      // left join + coalesce: a type whose every season has ≤ 1 day
      // has NO comparable pairs — it surfaces with s = 0 (and z from
      // the variance guard), never a dropped row.
      nTab.join(varTab, "event_type").join(tieTab, "event_type")
        .join(sTab, Seq("event_type"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
        .selectExpr("event_type", "n_days", "s",
          """CASE WHEN vn - vt > 0
              THEN round(CAST(CASE WHEN s > 0 THEN s - 1
                                   WHEN s < 0 THEN s + 1 ELSE 0 END AS DOUBLE)
                / sqrt(CAST(vn - vt AS DOUBLE) / 18), 6)
              ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same within-season pair grid, per-season tie corrections, and
      // sign-corrected z text.
      s"""WITH $OracleDc,
         ds AS (SELECT event_type, day, c,
                  CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS slot
                FROM dc),
         s AS (SELECT a.event_type,
                 CAST(sum(CASE WHEN b.c > a.c THEN 1
                               WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
               FROM ds a JOIN ds b
                 ON a.event_type = b.event_type AND a.slot = b.slot
                  AND a.day < b.day
               GROUP BY a.event_type),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
               FROM ds GROUP BY 1),
         vn AS (SELECT event_type,
                  CAST(sum(ns * (ns - 1) * (2 * ns + 5)) AS BIGINT) AS vn
                FROM (SELECT event_type, slot, CAST(count(*) AS BIGINT) AS ns
                      FROM ds GROUP BY 1, 2)
                GROUP BY event_type),
         vt AS (SELECT event_type,
                  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vt
                FROM (SELECT event_type, slot, c, CAST(count(*) AS BIGINT) AS t
                      FROM ds GROUP BY 1, 2, 3)
                GROUP BY event_type)
         SELECT n.event_type, n.n_days, COALESCE(s.s, 0) AS s,
                CASE WHEN vn.vn - vt.vt > 0
                 THEN round(CAST(CASE WHEN COALESCE(s.s, 0) > 0 THEN COALESCE(s.s, 0) - 1
                                      WHEN COALESCE(s.s, 0) < 0 THEN COALESCE(s.s, 0) + 1
                                      ELSE 0 END AS DOUBLE)
                   / sqrt(CAST(vn.vn - vt.vt AS DOUBLE) / 18), 6)
                 ELSE NULL END AS z
         FROM n JOIN vn ON vn.event_type = n.event_type
           JOIN vt ON vt.event_type = n.event_type
           LEFT JOIN s ON s.event_type = n.event_type
         ORDER BY n.event_type""")),

    // Wilcoxon signed-rank test per event type on week-over-week
    // paired differences (DECLARED: pairs are calendar days exactly 7
    // apart, d = c_t − c_{t−7}, zero differences discarded — the
    // standard convention — and midranks of |d|). The doubled-rank
    // device keeps EVERYTHING exact BIGINT: 2W = Σ sign·2r, and under
    // sign-flips Var(2W) = Σ(2r)² exactly EVEN WITH TIES, so
    // z = 2W/√Σcnt·(2r)² needs no tie-correction approximation.
    // Pairless types surface with 0/NULL via left join.
    Query("q_x_wilcoxon_signed", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val a = dc.select(col("event_type"), col("day").as("da"), col("c").as("ca"))
      val b = dc.select(col("event_type"), col("day").as("db"), col("c").as("cb"))
      val diffs = a.join(b, Seq("event_type"))
        .filter(col("db") === date_add(col("da"), 7))
        .select(col("event_type"), (col("cb") - col("ca")).as("dv"))
        .filter(col("dv") =!= 0L)
      val cells = diffs
        .groupBy(col("event_type"), abs(col("dv")).as("av"))
        .agg(count(lit(1)).as("cnt"),
          sum(signum(col("dv")).cast("long")).as("sgn"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("av"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = cells.withColumn("r2",
        lit(2L) * coalesce(sum(col("cnt")).over(w), lit(0L)) + col("cnt") + 1L)
      val ps = ranked.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("np"),
          sum(col("sgn") * col("r2")).as("w2"),
          sum(col("cnt") * col("r2") * col("r2")).as("v4"))
      dc.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
        .join(ps, Seq("event_type"), "left")
        .withColumn("np", coalesce(col("np"), lit(0L)))
        .withColumn("w2", coalesce(col("w2"), lit(0L)))
        .selectExpr("event_type", "n_days", "np AS n_pairs", "w2",
          """CASE WHEN np >= 1 AND v4 > 0
              THEN round(CAST(w2 AS DOUBLE) / sqrt(CAST(v4 AS DOUBLE)), 6)
              ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same declared pairing/zero-discard/midrank conventions; the
      // doubled-rank device keeps both engines in exact integers.
      s"""WITH $OracleDc,
         df AS (SELECT a.event_type, b.c - a.c AS dv
                FROM dc a JOIN dc b ON b.event_type = a.event_type
                  AND b.day = a.day + 7
                WHERE b.c <> a.c),
         cells AS (SELECT event_type, abs(dv) AS av,
                     CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(CASE WHEN dv > 0 THEN 1 ELSE -1 END) AS BIGINT) AS sgn
                   FROM df GROUP BY 1, 2),
         rk AS (SELECT event_type, cnt, sgn,
                  2 * COALESCE(sum(cnt) OVER (PARTITION BY event_type ORDER BY av
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + cnt + 1 AS r2
                FROM cells),
         ps AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS np,
                  CAST(sum(sgn * r2) AS BIGINT) AS w2,
                  CAST(sum(cnt * r2 * r2) AS BIGINT) AS v4
                FROM rk GROUP BY event_type),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
               FROM dc GROUP BY 1)
         SELECT n.event_type, n.n_days, COALESCE(ps.np, 0) AS n_pairs,
                COALESCE(ps.w2, 0) AS w2,
                CASE WHEN COALESCE(ps.np, 0) >= 1 AND ps.v4 > 0
                 THEN round(CAST(COALESCE(ps.w2, 0) AS DOUBLE) / sqrt(CAST(ps.v4 AS DOUBLE)), 6)
                 ELSE NULL END AS z
         FROM n LEFT JOIN ps ON ps.event_type = n.event_type
         ORDER BY n.event_type""")),

    // Theil's uncertainty coefficient between source and lang — the
    // ASYMMETRIC, normalized cousin of q_x_mi (which is symmetric MI
    // over length buckets) and q_x_chisq (χ²/Cramérs V on this same
    // pair): U(Y|X) = (H(Y) − H(Y|X))/H(Y) answers "what fraction of
    // lang-uncertainty does knowing source remove", in both
    // directions. Everything reduces to three n·ln(n) sums over the
    // bounded category/cell alphabets (zero cells add their 0 limit
    // by omission), each folded sorted-single-partition; DECLARED
    // natural log.
    Query("q_x_theil_u", (s, d) => {
      val docs = table(s, d, "documents").select(col("source"), col("lang"))
      val nn = docs.agg(count(lit(1)).as("n"))
      def nlogn(df: DataFrame, keys: Seq[String], alias: String): DataFrame =
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
          .coalesce(1).sortWithinPartitions(keys.map(col): _*)
          .agg(sum(col("cnt") * log(col("cnt"))).as(alias))
      val sx = nlogn(docs, Seq("source"), "sx")
      val sy = nlogn(docs, Seq("lang"), "sy")
      val sxy = nlogn(docs, Seq("source", "lang"), "sxy")
      val hY = "(ln(CAST(n AS DOUBLE)) - sy / n)"
      val hX = "(ln(CAST(n AS DOUBLE)) - sx / n)"
      val miT = s"($hY - (sx / CAST(n AS DOUBLE) - sxy / n))"
      sx.crossJoin(broadcast(sy)).crossJoin(broadcast(sxy))
        .crossJoin(broadcast(nn))
        .selectExpr("n",
          s"round($hY, 6) AS h_lang", s"round($hX, 6) AS h_source",
          s"round($miT, 6) AS mi",
          s"""CASE WHEN $hY > 0 THEN round($miT / $hY, 6)
               ELSE NULL END AS u_lang_given_source""",
          s"""CASE WHEN $hX > 0 THEN round($miT / $hX, 6)
               ELSE NULL END AS u_source_given_lang""")
    }, Some {
      // Same three n·ln(n) folds (running windows in the same category
      // order) and shared entropy/U text.
      val hY = "(ln(CAST(n AS DOUBLE)) - sy / n)"
      val hX = "(ln(CAST(n AS DOUBLE)) - sx / n)"
      val miT = s"($hY - (sx / CAST(n AS DOUBLE) - sxy / n))"
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         sx AS (SELECT max(run) AS sx FROM
                  (SELECT sum(cnt * ln(cnt)) OVER (ORDER BY source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                   FROM (SELECT source, CAST(count(*) AS BIGINT) AS cnt
                         FROM documents GROUP BY source))),
         sy AS (SELECT max(run) AS sy FROM
                  (SELECT sum(cnt * ln(cnt)) OVER (ORDER BY lang
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                   FROM (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
                         FROM documents GROUP BY lang))),
         sxy AS (SELECT max(run) AS sxy FROM
                  (SELECT sum(cnt * ln(cnt)) OVER (ORDER BY source, lang
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                   FROM (SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
                         FROM documents GROUP BY source, lang)))
         SELECT n,
                round($hY, 6) AS h_lang, round($hX, 6) AS h_source,
                round($miT, 6) AS mi,
                CASE WHEN $hY > 0 THEN round($miT / $hY, 6)
                     ELSE NULL END AS u_lang_given_source,
                CASE WHEN $hX > 0 THEN round($miT / $hX, 6)
                     ELSE NULL END AS u_source_given_lang
         FROM sx, sy, sxy, nn"""
    }),

    // Kendall's coefficient of concordance W across full calendar
    // weeks (blocks) rating the 7 weekday positions (treatments) —
    // "do weeks agree on the weekday ordering of activity", the
    // normalized effect size next to q_x_page_trend's directional L:
    // with doubled within-week midranks, S4 = Σ_j(2R_j − m·2(k+1)/2)²
    // = Σ_j(R2_j − 8m)² is exact BIGINT, and the tie term Σ(t³−t)
    // folds per week, so W = 3·S4/(m²k(k²−1) − m·ΣT)·(1/4)·... — one
    // exact division at the end. DECLARED k = 7, full weeks only.
    Query("q_x_kendall_w", (s, d) => {
      val dc = DayGrain.counts(s, d)
        .withColumn("wk",
          floor(datediff(col("day"), lit("1970-01-01").cast("date")) / lit(7.0))
            .cast("long"))
        .withColumn("slot",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long") % 7)
        .cut(eager = true)
      val agg = dc.groupBy(col("event_type"), col("wk"), col("slot"))
        .agg(sum(col("c")).as("v"))
      val full = agg.groupBy(col("event_type"), col("wk"))
        .agg(count(lit(1)).as("nslots"))
        .filter(col("nslots") === 7).select(col("event_type"), col("wk"))
      val cells = agg.join(full, Seq("event_type", "wk"))
      // within-week doubled midranks of the 7 slot values
      val wv = Window.partitionBy(col("event_type"), col("wk")).orderBy(col("v"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val we = Window.partitionBy(col("event_type"), col("wk")).orderBy(col("v"))
        .rangeBetween(0, 0)
      val ranked = cells
        .withColumn("below", coalesce(count(lit(1)).over(wv), lit(0L)))
        .withColumn("tied", count(lit(1)).over(we))
        .withColumn("r2", lit(2L) * col("below") + col("tied") + 1L)
      val rj = ranked.groupBy(col("event_type"), col("slot"))
        .agg(sum(col("r2")).as("r2j"), count(lit(1)).as("m"))
      val ties = ranked.groupBy(col("event_type"), col("wk"), col("v"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tsum"))
      val s4 = rj.groupBy(col("event_type"))
        .agg(max(col("m")).as("m"),
          sum((col("r2j") - lit(8L) * col("m")) * (col("r2j") - lit(8L) * col("m")))
            .as("s4"))
      s4.join(ties, "event_type")
        .selectExpr("event_type", "m AS n_weeks",
          """CASE WHEN m >= 1
               AND (CAST(m AS DOUBLE) * m * 336 - CAST(m AS DOUBLE) * tsum) > 0
              THEN round(3 * CAST(s4 AS DOUBLE)
                / (CAST(m AS DOUBLE) * m * 336 - CAST(m AS DOUBLE) * tsum), 6)
              ELSE NULL END AS w""")
        .orderBy(col("event_type"))
    }, Some(
      // Same full-week blocks, within-week doubled midranks, exact S4
      // and tie folds, and the k = 7 closed form.
      s"""WITH $OracleDc,
         ds AS (SELECT event_type,
                  CAST(floor(CAST(day - DATE '1970-01-01' AS DOUBLE) / 7) AS BIGINT) AS wk,
                  CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS slot, c
                FROM dc),
         agg AS (SELECT event_type, wk, slot, CAST(sum(c) AS BIGINT) AS v
                 FROM ds GROUP BY 1, 2, 3),
         full_wk AS (SELECT event_type, wk FROM agg
                     GROUP BY 1, 2 HAVING count(*) = 7),
         cells AS (SELECT a.* FROM agg a
                   JOIN full_wk f ON f.event_type = a.event_type AND f.wk = a.wk),
         rk AS (SELECT event_type, wk, slot, v,
                  2 * CAST(count(*) OVER (PARTITION BY event_type, wk ORDER BY v
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
                    + CAST(count(*) OVER (PARTITION BY event_type, wk ORDER BY v
                        RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) + 1 AS r2
                FROM cells),
         rj AS (SELECT event_type, slot, CAST(sum(r2) AS BIGINT) AS r2j,
                  CAST(count(*) AS BIGINT) AS m
                FROM rk GROUP BY 1, 2),
         ties AS (SELECT event_type,
                    CAST(sum(t * t * t - t) AS BIGINT) AS tsum
                  FROM (SELECT event_type, wk, v, CAST(count(*) AS BIGINT) AS t
                        FROM rk GROUP BY 1, 2, 3)
                  GROUP BY event_type),
         s4 AS (SELECT event_type, max(m) AS m,
                  CAST(sum((r2j - 8 * m) * (r2j - 8 * m)) AS BIGINT) AS s4
                FROM rj GROUP BY event_type)
         SELECT s4.event_type, s4.m AS n_weeks,
                CASE WHEN s4.m >= 1
                      AND (CAST(s4.m AS DOUBLE) * s4.m * 336 - CAST(s4.m AS DOUBLE) * ties.tsum) > 0
                 THEN round(3 * CAST(s4.s4 AS DOUBLE)
                   / (CAST(s4.m AS DOUBLE) * s4.m * 336 - CAST(s4.m AS DOUBLE) * ties.tsum), 6)
                 ELSE NULL END AS w
         FROM s4 JOIN ties ON ties.event_type = s4.event_type
         ORDER BY s4.event_type""")),

    // Turning-point randomness test per event type (observation-index
    // grain): T = #{t : x_t is a strict local max or min among
    // (x_{t−1}, x_t, x_{t+1})} — DECLARED strict (any tie in the
    // triple contributes nothing, the classic convention), with the
    // textbook moments E[T] = 2(n−2)/3, Var[T] = (16n−29)/90. One
    // two-lag window pass; counts exact; one shared z expression.
    Query("q_x_turning_points", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      DayGrain.counts(s, d).cut(eager = true)
        .withColumn("p", lag(col("c"), 1).over(w))
        .withColumn("f", lead(col("c"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when((col("c") > col("p") && col("c") > col("f")) ||
            (col("c") < col("p") && col("c") < col("f")), 1L)
            .otherwise(0L)).as("t"))
        .selectExpr("event_type", "n AS n_days", "t AS turning",
          """CASE WHEN n >= 4
              THEN round((CAST(t AS DOUBLE) - 2 * (CAST(n AS DOUBLE) - 2) / 3)
                / sqrt((16 * CAST(n AS DOUBLE) - 29) / 90), 6)
              ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same strict-triple convention and textbook moments.
      s"""WITH $OracleDc,
         lg AS (SELECT event_type, c,
                 lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS p,
                 lead(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS f
               FROM dc),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN (c > p AND c > f) OR (c < p AND c < f)
                          THEN 1 ELSE 0 END) AS BIGINT) AS t
               FROM lg GROUP BY event_type)
         SELECT event_type, n AS n_days, t AS turning,
                CASE WHEN n >= 4
                 THEN round((CAST(t AS DOUBLE) - 2 * (CAST(n AS DOUBLE) - 2) / 3)
                   / sqrt((16 * CAST(n AS DOUBLE) - 29) / 90), 6)
                 ELSE NULL END AS z
         FROM g ORDER BY event_type""")),

    // Bartels' rank von Neumann ratio per event type — q_x_von_neumann
    // run on MIDRANKS of the daily counts, the distribution-robust
    // form: rvn = Σ(r_t − r_{t+1})²/Σ(r − r̄)². Doubled midranks keep
    // both sums exact BIGINT (r̄ doubles to exactly n+1); z uses the
    // DECLARED asymptotic Var = 4/n. Constant series (denominator 0)
    // surface NULL.
    Query("q_x_bartels", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val wv = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val we = Window.partitionBy(col("event_type")).orderBy(col("c"))
        .rangeBetween(0, 0)
      val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      dc.withColumn("r2", lit(2L) * count(lit(1)).over(wv)
          + count(lit(1)).over(we) + 1L)
        .withColumn("r2n", lead(col("r2"), 1).over(wd))
        .withColumn("nn", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("r2") - col("r2n")) * (col("r2") - col("r2n"))).as("nm4"),
          sum((col("r2") - (col("nn") + 1L)) * (col("r2") - (col("nn") + 1L)))
            .as("dn4"))
        .selectExpr("event_type", "n AS n_days",
          """CASE WHEN n >= 2 AND dn4 > 0
              THEN round(CAST(nm4 AS DOUBLE) / dn4, 6) ELSE NULL END AS rvn""",
          """CASE WHEN n >= 2 AND dn4 > 0
              THEN round((CAST(nm4 AS DOUBLE) / dn4 - 2) / sqrt(4.0 / n), 6)
              ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same doubled-midrank sums (RANGE-frame rank windows) and
      // declared asymptotic variance.
      s"""WITH $OracleDc,
         rk AS (SELECT event_type, day,
                  2 * CAST(count(*) OVER (PARTITION BY event_type ORDER BY c
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
                    + CAST(count(*) OVER (PARTITION BY event_type ORDER BY c
                        RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) + 1 AS r2,
                  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn
                FROM dc),
         lg AS (SELECT event_type, r2, nn,
                 lead(r2, 1) OVER (PARTITION BY event_type ORDER BY day) AS r2n
               FROM rk),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum((r2 - r2n) * (r2 - r2n)) AS BIGINT) AS nm4,
                 CAST(sum((r2 - (nn + 1)) * (r2 - (nn + 1))) AS BIGINT) AS dn4
               FROM lg GROUP BY event_type)
         SELECT event_type, n AS n_days,
                CASE WHEN n >= 2 AND dn4 > 0
                 THEN round(CAST(nm4 AS DOUBLE) / dn4, 6) ELSE NULL END AS rvn,
                CASE WHEN n >= 2 AND dn4 > 0
                 THEN round((CAST(nm4 AS DOUBLE) / dn4 - 2) / sqrt(4.0 / n), 6)
                 ELSE NULL END AS z
         FROM g ORDER BY event_type""")),

    // Quade test per event type — the block-weighted Friedman over
    // full calendar weeks (blocks) × 7 weekday positions: blocks with
    // a larger within-week RANGE carry proportionally more weight
    // (Friedman treats a flat week and a wild week equally). With
    // doubled midranks in BOTH directions (Q2 = doubled block-range
    // midrank across weeks, r2 = doubled within-week midrank),
    // S16_bj = Q2_b·(r2_bj − 8) is exact BIGINT, so A16 = ΣS16² and
    // SN = Σ_j(Σ_b S16)² are exact and F = (m−1)·(SN/m)/(A16 − SN/m)
    // is one shared expression. DECLARED k = 7, full weeks only;
    // degenerate A = B surfaces NULL.
    Query("q_x_quade", (s, d) => {
      val dc = DayGrain.counts(s, d)
        .withColumn("wk",
          floor(datediff(col("day"), lit("1970-01-01").cast("date")) / lit(7.0))
            .cast("long"))
        .withColumn("slot",
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long") % 7)
        .cut(eager = true)
      val agg = dc.groupBy(col("event_type"), col("wk"), col("slot"))
        .agg(sum(col("c")).as("v"))
      val full = agg.groupBy(col("event_type"), col("wk"))
        .agg(count(lit(1)).as("nslots"),
          (max(col("v")) - min(col("v"))).as("rng"))
        .filter(col("nslots") === 7)
      // doubled midranks of the block ranges across weeks (per type)
      val bv = Window.partitionBy(col("event_type")).orderBy(col("rng"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val be = Window.partitionBy(col("event_type")).orderBy(col("rng"))
        .rangeBetween(0, 0)
      val blocks = full.withColumn("q2",
        lit(2L) * count(lit(1)).over(bv) + count(lit(1)).over(be) + 1L)
      val cells = agg.join(blocks.select(col("event_type"), col("wk"), col("q2")),
        Seq("event_type", "wk"))
      val wv = Window.partitionBy(col("event_type"), col("wk")).orderBy(col("v"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val we = Window.partitionBy(col("event_type"), col("wk")).orderBy(col("v"))
        .rangeBetween(0, 0)
      val ranked = cells
        .withColumn("r2", lit(2L) * count(lit(1)).over(wv)
          + count(lit(1)).over(we) + 1L)
        .withColumn("s16", col("q2") * (col("r2") - 8L))
      val perSlot = ranked.groupBy(col("event_type"), col("slot"))
        .agg(sum(col("s16")).as("n16"), count(lit(1)).as("m"))
      val sn = perSlot.groupBy(col("event_type"))
        .agg(max(col("m")).as("m"), sum(col("n16") * col("n16")).as("sn"))
      val a16 = ranked.groupBy(col("event_type"))
        .agg(sum(col("s16") * col("s16")).as("a16"))
      sn.join(a16, "event_type")
        .selectExpr("event_type", "m AS n_weeks",
          """CASE WHEN m >= 2
               AND (CAST(a16 AS DOUBLE) - CAST(sn AS DOUBLE) / m) > 0
              THEN round((CAST(m AS DOUBLE) - 1) * (CAST(sn AS DOUBLE) / m)
                / (CAST(a16 AS DOUBLE) - CAST(sn AS DOUBLE) / m), 6)
              ELSE NULL END AS f""")
        .orderBy(col("event_type"))
    }, Some(
      // Same full-week blocks, doubled midranks in both directions,
      // exact A16/SN sums, same F text.
      s"""WITH $OracleDc,
         ds AS (SELECT event_type,
                  CAST(floor(CAST(day - DATE '1970-01-01' AS DOUBLE) / 7) AS BIGINT) AS wk,
                  CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS slot, c
                FROM dc),
         agg AS (SELECT event_type, wk, slot, CAST(sum(c) AS BIGINT) AS v
                 FROM ds GROUP BY 1, 2, 3),
         full_wk AS (SELECT event_type, wk,
                       CAST(max(v) - min(v) AS BIGINT) AS rng
                     FROM agg GROUP BY 1, 2 HAVING count(*) = 7),
         blocks AS (SELECT event_type, wk,
                      2 * CAST(count(*) OVER (PARTITION BY event_type ORDER BY rng
                            RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
                        + CAST(count(*) OVER (PARTITION BY event_type ORDER BY rng
                            RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) + 1 AS q2
                    FROM full_wk),
         cells AS (SELECT a.event_type, a.wk, a.slot, a.v, b.q2
                   FROM agg a JOIN blocks b
                     ON b.event_type = a.event_type AND b.wk = a.wk),
         rk AS (SELECT event_type, wk, slot, q2,
                  q2 * ((2 * CAST(count(*) OVER (PARTITION BY event_type, wk ORDER BY v
                          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
                      + CAST(count(*) OVER (PARTITION BY event_type, wk ORDER BY v
                          RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) + 1) - 8) AS s16
                FROM cells),
         per_slot AS (SELECT event_type, slot, CAST(sum(s16) AS BIGINT) AS n16,
                        CAST(count(*) AS BIGINT) AS m
                      FROM rk GROUP BY 1, 2),
         sn AS (SELECT event_type, max(m) AS m,
                  CAST(sum(n16 * n16) AS BIGINT) AS sn
                FROM per_slot GROUP BY event_type),
         a16 AS (SELECT event_type, CAST(sum(s16 * s16) AS BIGINT) AS a16
                 FROM rk GROUP BY event_type)
         SELECT sn.event_type, sn.m AS n_weeks,
                CASE WHEN sn.m >= 2
                      AND (CAST(a16.a16 AS DOUBLE) - CAST(sn.sn AS DOUBLE) / sn.m) > 0
                 THEN round((CAST(sn.m AS DOUBLE) - 1) * (CAST(sn.sn AS DOUBLE) / sn.m)
                   / (CAST(a16.a16 AS DOUBLE) - CAST(sn.sn AS DOUBLE) / sn.m), 6)
                 ELSE NULL END AS f
         FROM sn JOIN a16 ON a16.event_type = sn.event_type
         ORDER BY sn.event_type""")),

    // Bowker's test of symmetry on each user's modal event type,
    // first corpus half vs second (DECLARED: halves split at the
    // midpoint micros (min+max)/2 of the event window, modal-type
    // ties break to the lexicographically smallest type, and only
    // users active in BOTH halves enter — the k×k generalization of
    // q_x_mcnemar): χ² = Σ_{i<j}(n_ij−n_ji)²/(n_ij+n_ji) over pairs
    // with traffic, df = #such pairs. Corpus work is one per-
    // (user, half, type) aggregate; the χ² folds over ≤ k(k−1)/2
    // cells, sorted.
    Query("q_x_bowker", (s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tm"))
      val mid = ev.agg(((min(col("tm")) + max(col("tm"))) / lit(2L)).as("mid"))
      val halves = ev.crossJoin(broadcast(mid))
        .withColumn("half", when(col("tm") <= col("mid"), lit("h1")).otherwise(lit("h2")))
        .groupBy(col("user_id"), col("half"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val wm = Window.partitionBy(col("user_id"), col("half"))
        .orderBy(col("cnt").desc, col("event_type"))
      val modal = halves.withColumn("rn", row_number().over(wm))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("half"), col("event_type"))
      val both = modal.groupBy(col("user_id"))
        .pivot("half", Seq("h1", "h2")).agg(first(col("event_type")))
        .filter(col("h1").isNotNull && col("h2").isNotNull)
        .select(col("user_id"), col("h1").as("ta"), col("h2").as("tb"))
        .cut(eager = true)
      val nu = both.agg(count(lit(1)).as("n_users"))
      val cellCnt = both.groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n"))
      val up = cellCnt.filter(col("ta") < col("tb"))
        .select(col("ta").as("i"), col("tb").as("j"), col("n").as("nij"))
      val dn = cellCnt.filter(col("ta") > col("tb"))
        .select(col("tb").as("i"), col("ta").as("j"), col("n").as("nji"))
      val pairs = up.join(dn, Seq("i", "j"), "full")
        .na.fill(0L, Seq("nij", "nji"))
      pairs.coalesce(1).sortWithinPartitions(col("i"), col("j"))
        .agg(count(lit(1)).as("df"),
          sum((col("nij") - col("nji")).cast("double")
            * (col("nij") - col("nji"))
            / (col("nij") + col("nji"))).as("chi2"))
        .crossJoin(broadcast(nu))
        .selectExpr("n_users", "df", "round(chi2, 6) AS chi2")
    }, Some(
      // Same declared midpoint/modal-tie/both-halves conventions; the
      // χ² folds over the same sorted pair order.
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tm FROM events),
         mid AS (SELECT (min(tm) + max(tm)) / 2 AS mid FROM ev),
         halves AS (SELECT user_id,
                      CASE WHEN tm <= mid THEN 'h1' ELSE 'h2' END AS half,
                      event_type, CAST(count(*) AS BIGINT) AS cnt
                    FROM ev, mid GROUP BY 1, 2, 3),
         modal AS (SELECT user_id, half, event_type FROM
                     (SELECT user_id, half, event_type,
                        row_number() OVER (PARTITION BY user_id, half
                          ORDER BY cnt DESC, event_type) AS rn
                      FROM halves)
                   WHERE rn = 1),
         bh AS (SELECT user_id,
                    max(CASE WHEN half = 'h1' THEN event_type END) AS ta,
                    max(CASE WHEN half = 'h2' THEN event_type END) AS tb
                  FROM modal GROUP BY user_id
                  HAVING max(CASE WHEN half = 'h1' THEN event_type END) IS NOT NULL
                     AND max(CASE WHEN half = 'h2' THEN event_type END) IS NOT NULL),
         nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM bh),
         cell AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n
                  FROM bh GROUP BY 1, 2),
         up AS (SELECT ta AS i, tb AS j, n AS nij FROM cell WHERE ta < tb),
         dn AS (SELECT tb AS i, ta AS j, n AS nji FROM cell WHERE ta > tb),
         pairs AS (SELECT COALESCE(up.i, dn.i) AS i, COALESCE(up.j, dn.j) AS j,
                     COALESCE(up.nij, 0) AS nij, COALESCE(dn.nji, 0) AS nji
                   FROM up FULL JOIN dn ON dn.i = up.i AND dn.j = up.j),
         agg AS (SELECT max(cnt) AS df, max(run) AS chi2 FROM
                   (SELECT count(*) OVER () AS cnt,
                      sum(CAST(nij - nji AS DOUBLE) * (nij - nji) / (nij + nji))
                        OVER (ORDER BY i, j
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
                    FROM pairs))
         SELECT nu.n_users, agg.df, round(agg.chi2, 6) AS chi2
         FROM agg, nu""")),

    // Cohen's h between every source pair — the effect size for the
    // PROPORTION of long documents (DECLARED: p_i = share of docs
    // with n_chars strictly above the pooled median, the engines'
    // shared exact-median convention): h = 2·asin(√p_a) − 2·asin(√p_b),
    // the arcsine-stabilized difference q_x_cohens_d is for means.
    // Proportions are exact-count ratios; h is one shared expression
    // over the k² dims-bounded pair grid.
    Query("q_x_cohen_h", (s, d) => {
      val docs = table(s, d, "documents").select(col("source"), col("n_chars"))
      val med = docs.agg(expr("median(n_chars)").as("med"))
      val ps = docs.crossJoin(broadcast(med))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") > col("med"), 1L).otherwise(0L)).as("k"))
      val a = ps.select(col("source").as("source_a"), col("n").as("n_a"),
        col("k").as("k_a"))
      val b = ps.select(col("source").as("source_b"), col("n").as("n_b"),
        col("k").as("k_b"))
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .selectExpr("source_a", "source_b",
          "round(CAST(k_a AS DOUBLE) / n_a, 6) AS p_a",
          "round(CAST(k_b AS DOUBLE) / n_b, 6) AS p_b",
          """round(2 * asin(sqrt(CAST(k_a AS DOUBLE) / n_a))
             - 2 * asin(sqrt(CAST(k_b AS DOUBLE) / n_b)), 6) AS h""")
        .orderBy(col("source_a"), col("source_b"))
    }, Some(
      // Same pooled-median proportion and shared arcsine text over the
      // pair grid.
      """WITH med AS (SELECT median(n_chars) AS med FROM documents),
         ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN n_chars > med THEN 1 ELSE 0 END) AS BIGINT) AS k
                FROM documents, med GROUP BY source)
         SELECT a.source AS source_a, b.source AS source_b,
                round(CAST(a.k AS DOUBLE) / a.n, 6) AS p_a,
                round(CAST(b.k AS DOUBLE) / b.n, 6) AS p_b,
                round(2 * asin(sqrt(CAST(a.k AS DOUBLE) / a.n))
                  - 2 * asin(sqrt(CAST(b.k AS DOUBLE) / b.n)), 6) AS h
         FROM ps a JOIN ps b ON a.source < b.source
         ORDER BY source_a, source_b""")),

    // Log-rank test, each cohort vs the pooled rest — THE companion
    // of q_x_survival's Kaplan–Meier curves (same cohort convention:
    // the user's first event type), on time-to-first-'purchase'
    // (DECLARED: duration = (first purchase ts − first event ts) div
    // 86400000000 days; users who never purchase are right-censored
    // at their LAST event — q_x_survival's churn framing is
    // degenerate here because the fixture keeps every user active
    // through the window's final week): O_g = Σ d_gt, E_g =
    // Σ d_t·n_gt/n_t, V_g = Σ d_t(n_gt/n_t)(1−n_gt/n_t)(n_t−d_t)/
    // (n_t−1) over pooled death times with n_t > 1; z = (O−E)/√V.
    // All counts/at-risk numbers exact BIGINT on the cohort ×
    // duration grid (duration-grain, corpus-independent); the E/V
    // folds are monotone running windows per cohort (nonneg terms ⇒
    // max = last), matching the oracle's running windows term for
    // term.
    Query("q_x_log_rank", (s, d) => {
      val terms = logRankAtRisk(s, d).filter(col("dp") > 0)
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      val t2 = terms
        .withColumn("e_run", sum(col("dp").cast("double") * col("ng") / col("np"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("v_run", sum(when(col("np") > 1,
          col("dp").cast("double") * (col("ng").cast("double") / col("np"))
            * (lit(1.0) - col("ng").cast("double") / col("np"))
            * (col("np") - col("dp")) / (col("np") - 1)).otherwise(lit(0.0)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      t2.groupBy(col("cohort"))
        .agg(max(col("nn")).as("n"), sum(col("dg")).as("o"),
          max(col("e_run")).as("e"), max(col("v_run")).as("v"))
        .selectExpr("cohort", "n", "o", "round(e, 6) AS e",
          """CASE WHEN v > 0 THEN round((CAST(o AS DOUBLE) - e) / sqrt(v), 6)
              ELSE NULL END AS z""",
          """CASE WHEN v > 0
              THEN round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / v, 6)
              ELSE NULL END AS chi2""")
        .orderBy(col("cohort"))
    }, Some(
      // Same declared time-to-first-purchase framing, same cohort ×
      // pooled-duration grid, same monotone running E/V folds.
      s"""WITH $LogRankGridSql,
         terms AS (SELECT cohort, nn, dg,
                     sum(CAST(dp AS DOUBLE) * ng / np)
                       OVER (PARTITION BY cohort ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e_run,
                     sum(CASE WHEN np > 1
                          THEN CAST(dp AS DOUBLE) * (CAST(ng AS DOUBLE) / np)
                            * (1.0 - CAST(ng AS DOUBLE) / np)
                            * (np - dp) / (np - 1) ELSE 0.0 END)
                       OVER (PARTITION BY cohort ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_run
                   FROM at_risk WHERE dp > 0),
         g AS (SELECT cohort, max(nn) AS n, CAST(sum(dg) AS BIGINT) AS o,
                 max(e_run) AS e, max(v_run) AS v
               FROM terms GROUP BY cohort)
         SELECT cohort, n, o, round(e, 6) AS e,
                CASE WHEN v > 0 THEN round((CAST(o AS DOUBLE) - e) / sqrt(v), 6)
                     ELSE NULL END AS z,
                CASE WHEN v > 0
                     THEN round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / v, 6)
                     ELSE NULL END AS chi2
         FROM g ORDER BY cohort""")),

    // Hodges–Lehmann shift per event type between the series' two
    // halves (DECLARED: first half = first ⌊n/2⌋ observations, second
    // = last ⌊n/2⌋, odd middle dropped — the q_x_cox_stuart split):
    // HL = median{c_j − c_i} over the cross-half pair grid — the
    // robust "how much did the level move" estimator cox_stuart only
    // signs. Differences are exact BIGINTs; the median is the
    // engines' shared exact-median convention (integer or .5 — never
    // an approximation). Pair grid ≤ ⌊n/2⌋² at calendar-bounded n.
    Query("q_x_hl_shift", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val dc = DayGrain.counts(s, d).cut(eager = true)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nd", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      val a = dc.filter(col("rn") <= expr("nd div 2"))
        .select(col("event_type"), col("c").as("ca"))
      val b = dc.filter(col("rn") > col("nd") - expr("nd div 2"))
        .select(col("event_type"), col("c").as("cb"))
      val hl = a.join(b, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("median(cb - ca)").as("hl"))
      dc.groupBy(col("event_type")).agg(max(col("nd")).as("n_days"))
        .join(hl, Seq("event_type"), "left")
        .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
        .selectExpr("event_type", "n_days", "n_pairs",
          "round(hl, 6) AS hl")
        .orderBy(col("event_type"))
    }, Some(
      // Same half split and the shared exact-median convention over the
      // same cross-half pair grid.
      s"""WITH $OracleDc,
         o AS (SELECT event_type, c,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
               FROM dc),
         hl AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs,
                  median(b.c - a.c) AS hl
                FROM o a JOIN o b ON b.event_type = a.event_type
                  AND a.rn <= a.nd // 2 AND b.rn > b.nd - b.nd // 2
                GROUP BY a.event_type),
         n AS (SELECT event_type, max(nd) AS n_days FROM o GROUP BY 1)
         SELECT n.event_type, n.n_days, COALESCE(hl.n_pairs, 0) AS n_pairs,
                round(hl.hl, 6) AS hl
         FROM n LEFT JOIN hl ON hl.event_type = n.event_type
         ORDER BY n.event_type""")),

    // Gehan–Breslow–Wilcoxon weighted log-rank (weight w_t = pooled
    // at-risk n_t — early deaths count more, the standard complement
    // when hazards cross late): same declared time-to-first-purchase
    // frame as q_x_log_rank. The weighted O−E numerator
    // Σ(n_t·d_gt − d_t·n_gt) is EXACT BIGINT (the weights cancel the
    // division); only V_w = Σ n_t²·v_t folds doubles, as the same
    // monotone per-cohort running window.
    Query("q_x_gehan_wilcoxon", (s, d) => {
      val terms = logRankAtRisk(s, d).filter(col("dp") > 0)
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val t2 = terms
        .withColumn("v_run", sum(when(col("np") > 1,
          col("np").cast("double") * col("np")
            * (col("dp").cast("double") * (col("ng").cast("double") / col("np"))
              * (lit(1.0) - col("ng").cast("double") / col("np"))
              * (col("np") - col("dp")) / (col("np") - 1))).otherwise(lit(0.0)))
          .over(w))
      t2.groupBy(col("cohort"))
        .agg(max(col("nn")).as("n"),
          sum(col("np") * col("dg") - col("dp") * col("ng")).as("num"),
          max(col("v_run")).as("v"))
        .selectExpr("cohort", "n", "num AS w_num",
          """CASE WHEN v > 0 THEN round(CAST(num AS DOUBLE) / sqrt(v), 6)
              ELSE NULL END AS z""")
        .orderBy(col("cohort"))
    }, Some(
      // Same grid; the weighted numerator is exact BIGINT, V_w the same
      // monotone running fold with the n_t^2 weight.
      s"""WITH $LogRankGridSql,
         terms AS (SELECT cohort, nn, np * dg - dp * ng AS num,
                     sum(CASE WHEN np > 1
                          THEN CAST(np AS DOUBLE) * np
                            * (CAST(dp AS DOUBLE) * (CAST(ng AS DOUBLE) / np)
                              * (1.0 - CAST(ng AS DOUBLE) / np)
                              * (np - dp) / (np - 1)) ELSE 0.0 END)
                       OVER (PARTITION BY cohort ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_run
                   FROM at_risk WHERE dp > 0),
         g AS (SELECT cohort, max(nn) AS n, CAST(sum(num) AS BIGINT) AS num,
                 max(v_run) AS v
               FROM terms GROUP BY cohort)
         SELECT cohort, n, num AS w_num,
                CASE WHEN v > 0 THEN round(CAST(num AS DOUBLE) / sqrt(v), 6)
                     ELSE NULL END AS z
         FROM g ORDER BY cohort""")),

    // Restricted mean survival time per cohort at DECLARED τ = 30
    // days — "average days to first purchase, capped at a month":
    // the area under q_x_survival-style KM steps, RMST =
    // Σ S(t_{k-1})·(min(t_k,τ)−min(t_{k-1},τ)) + S(last)·(τ −
    // min(t_last,τ)), S via the survival device (exp∘cumsum∘ln with
    // the d = n death-out guard). Duration-grain windows per cohort;
    // the ln/area folds are running windows matching the oracle.
    Query("q_x_rmst", (s, d) => {
      val tau = 30L
      val deaths = logRankAtRisk(s, d).filter(col("dp") > 0 && col("dg") > 0)
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      val wr = w.rowsBetween(Window.unboundedPreceding, 0)
      val km = deaths
        .withColumn("lnf", when(col("dg") < col("ng"),
          log(lit(1.0) - col("dg").cast("double") / col("ng"))).otherwise(lit(0.0)))
        .withColumn("dead_run",
          sum(when(col("dg") >= col("ng"), 1L).otherwise(0L)).over(wr))
        .withColumn("s_cur", when(col("dead_run") > 0, lit(0.0))
          .otherwise(exp(sum(col("lnf")).over(wr))))
        .withColumn("s_prev", coalesce(lag(col("s_cur"), 1).over(w), lit(1.0)))
        .withColumn("t_prev", coalesce(lag(col("dur"), 1).over(w), lit(0L)))
        .withColumn("contrib", col("s_prev") *
          (least(col("dur"), lit(tau)) - least(col("t_prev"), lit(tau))))
        // area as a monotone running fold (contrib ≥ 0 ⇒ max = last),
        // never an unordered double group-sum
        .withColumn("area_run", sum(col("contrib")).over(wr))
      val agg = km.groupBy(col("cohort"))
        .agg(max(col("area_run")).as("area"),
          min(col("s_cur")).as("s_last"), max(col("dur")).as("t_last"))
      // left join: a cohort with NO deaths keeps S = 1 throughout —
      // RMST = τ exactly, never a dropped row.
      logRankAtRisk(s, d).groupBy(col("cohort")).agg(max(col("nn")).as("n"))
        .join(agg, Seq("cohort"), "left")
        .na.fill(Map("area" -> 0.0, "s_last" -> 1.0, "t_last" -> 0L))
        .selectExpr("cohort", "n",
          s"""round(area + s_last * ($tau - least(t_last, $tau)), 6) AS rmst""")
        .orderBy(col("cohort"))
    }, Some(
      // Same grid + the survival exp-cumsum-ln device; cohorts with no
      // deaths keep S = 1 and RMST = tau via the left join.
      s"""WITH $LogRankGridSql,
         deaths AS (SELECT cohort, nn, dur, dg, ng FROM at_risk
                    WHERE dp > 0 AND dg > 0),
         km AS (SELECT cohort, nn, dur, dg, ng,
                  CASE WHEN sum(CASE WHEN dg >= ng THEN 1 ELSE 0 END)
                         OVER (PARTITION BY cohort ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                       THEN 0.0
                       ELSE exp(sum(CASE WHEN dg < ng
                              THEN ln(1.0 - CAST(dg AS DOUBLE) / ng) ELSE 0.0 END)
                            OVER (PARTITION BY cohort ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END AS s_cur,
                  COALESCE(lag(dur, 1) OVER (PARTITION BY cohort ORDER BY dur), 0) AS t_prev
                FROM deaths),
         km2 AS (SELECT cohort, dur, s_cur, t_prev,
                   COALESCE(lag(s_cur, 1) OVER (PARTITION BY cohort ORDER BY dur), 1.0) AS s_prev
                 FROM km),
         km3 AS (SELECT cohort, dur, s_cur,
                   sum(s_prev * (least(dur, 30) - least(t_prev, 30)))
                     OVER (PARTITION BY cohort ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS area_run
                 FROM km2),
         agg AS (SELECT cohort, max(area_run) AS area,
                   min(s_cur) AS s_last, max(dur) AS t_last
                 FROM km3 GROUP BY cohort),
         cs AS (SELECT cohort, max(nn) AS n FROM at_risk GROUP BY cohort)
         SELECT cs.cohort, cs.n,
                round(COALESCE(agg.area, 0.0)
                  + COALESCE(agg.s_last, 1.0) * (30 - least(COALESCE(agg.t_last, 0), 30)), 6) AS rmst
         FROM cs LEFT JOIN agg ON agg.cohort = cs.cohort
         ORDER BY cs.cohort""")),

    // Paired sign test per event type on the week-over-week pairs
    // (DECLARED: days exactly 7 apart, zero differences discarded,
    // no-continuity z = (2S⁺ − n')/√n' — the q_x_cox_stuart form):
    // the assumption-free companion of q_x_wilcoxon_signed (which
    // also weighs magnitudes). Counts only; pairless types surface
    // 0/0/NULL.
    Query("q_x_sign_test", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      val a = dc.select(col("event_type"), col("day").as("da"), col("c").as("ca"))
      val b = dc.select(col("event_type"), col("day").as("db"), col("c").as("cb"))
      val ps = a.join(b, Seq("event_type"))
        .filter(col("db") === date_add(col("da"), 7))
        .groupBy(col("event_type"))
        .agg(sum(when(col("cb") > col("ca"), 1L).otherwise(0L)).as("sp"),
          sum(when(col("cb") < col("ca"), 1L).otherwise(0L)).as("sm"))
      dc.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
        .join(ps, Seq("event_type"), "left")
        .withColumn("sp", coalesce(col("sp"), lit(0L)))
        .withColumn("sm", coalesce(col("sm"), lit(0L)))
        .selectExpr("event_type", "n_days", "sp AS s_plus", "sm AS s_minus",
          """CASE WHEN sp + sm > 0
              THEN round(CAST(2 * sp - (sp + sm) AS DOUBLE) / sqrt(CAST(sp + sm AS DOUBLE)), 6)
              ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // Same lag-7 pairing, zero-discard, and no-continuity z text.
      s"""WITH $OracleDc,
         pg AS (SELECT a.event_type,
                  CAST(sum(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS BIGINT) AS sp,
                  CAST(sum(CASE WHEN b.c < a.c THEN 1 ELSE 0 END) AS BIGINT) AS sm
                FROM dc a JOIN dc b ON b.event_type = a.event_type
                  AND b.day = a.day + 7
                GROUP BY a.event_type),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
               FROM dc GROUP BY 1),
         g AS (SELECT n.event_type, n.n_days,
                 COALESCE(pg.sp, 0) AS sp, COALESCE(pg.sm, 0) AS sm
               FROM n LEFT JOIN pg ON pg.event_type = n.event_type)
         SELECT event_type, n_days, sp AS s_plus, sm AS s_minus,
                CASE WHEN sp + sm > 0
                 THEN round(CAST(2 * sp - (sp + sm) AS DOUBLE) / sqrt(CAST(sp + sm AS DOUBLE)), 6)
                 ELSE NULL END AS z
         FROM g ORDER BY event_type""")),

    // Tarone–Ware weighted log-rank (w_t = √n_t — the declared middle
    // ground of the trio: log_rank w = 1, gehan w = n_t): same shared
    // time-to-first-purchase frame; numerator and variance fold as
    // the same monotone per-cohort running windows, with √ the only
    // non-rational step (one shared sqrt text per term).
    Query("q_x_tarone_ware", (s, d) => {
      val terms = logRankAtRisk(s, d).filter(col("dp") > 0)
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val t2 = terms
        .withColumn("n_run", sum(sqrt(col("np").cast("double"))
          * (col("dg") - col("dp").cast("double") * col("ng") / col("np")))
          .over(w))
        .withColumn("v_run", sum(when(col("np") > 1,
          col("np").cast("double")
            * (col("dp").cast("double") * (col("ng").cast("double") / col("np"))
              * (lit(1.0) - col("ng").cast("double") / col("np"))
              * (col("np") - col("dp")) / (col("np") - 1))).otherwise(lit(0.0)))
          .over(w))
      // max_by, not last(): the running numerator can go negative, so
      // "final value" must be pinned to the max-dur row explicitly.
      t2.groupBy(col("cohort"))
        .agg(max(col("nn")).as("n"), expr("max_by(n_run, dur)").as("num"),
          max(col("v_run")).as("v"))
        .selectExpr("cohort", "n", "round(num, 6) AS w_num",
          """CASE WHEN v > 0 THEN round(num / sqrt(v), 6)
              ELSE NULL END AS z""")
        .orderBy(col("cohort"))
    }, Some(
      // Same grid, same √n_t-weighted running folds, max_by-pinned
      // final numerator.
      s"""WITH $LogRankGridSql,
         terms AS (SELECT cohort, nn, dur,
                     sum(sqrt(CAST(np AS DOUBLE))
                         * (dg - CAST(dp AS DOUBLE) * ng / np))
                       OVER (PARTITION BY cohort ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_run,
                     sum(CASE WHEN np > 1
                          THEN CAST(np AS DOUBLE)
                            * (CAST(dp AS DOUBLE) * (CAST(ng AS DOUBLE) / np)
                              * (1.0 - CAST(ng AS DOUBLE) / np)
                              * (np - dp) / (np - 1)) ELSE 0.0 END)
                       OVER (PARTITION BY cohort ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_run
                   FROM at_risk WHERE dp > 0),
         g AS (SELECT cohort, max(nn) AS n, max_by(n_run, dur) AS num,
                 max(v_run) AS v
               FROM terms GROUP BY cohort)
         SELECT cohort, n, round(num, 6) AS w_num,
                CASE WHEN v > 0 THEN round(num / sqrt(v), 6)
                     ELSE NULL END AS z
         FROM g ORDER BY cohort""")),

    // Kaplan–Meier median survival per cohort on the shared frame
    // (DECLARED: the earliest death duration where the post-step
    // survival S(t) drops to ≤ 0.5; cohorts whose curve never
    // crosses — e.g. heavy censoring — surface NULL, never dropped):
    // the one-number summary next to q_x_rmst's area and
    // q_x_survival's full curve.
    Query("q_x_km_median", (s, d) => {
      val deaths = logRankAtRisk(s, d).filter(col("dp") > 0 && col("dg") > 0)
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      val wr = w.rowsBetween(Window.unboundedPreceding, 0)
      val km = deaths
        .withColumn("lnf", when(col("dg") < col("ng"),
          log(lit(1.0) - col("dg").cast("double") / col("ng"))).otherwise(lit(0.0)))
        .withColumn("dead_run",
          sum(when(col("dg") >= col("ng"), 1L).otherwise(0L)).over(wr))
        .withColumn("s_cur", when(col("dead_run") > 0, lit(0.0))
          .otherwise(exp(sum(col("lnf")).over(wr))))
      val med = km.filter(col("s_cur") <= 0.5)
        .groupBy(col("cohort")).agg(min(col("dur")).as("med_dur"))
      logRankAtRisk(s, d).groupBy(col("cohort")).agg(max(col("nn")).as("n"))
        .join(med, Seq("cohort"), "left")
        .selectExpr("cohort", "n", "med_dur")
        .orderBy(col("cohort"))
    }, Some(
      // Same KM device; earliest S ≤ 0.5 crossing, NULL when the curve
      // never crosses.
      s"""WITH $LogRankGridSql,
         deaths AS (SELECT cohort, nn, dur, dg, ng FROM at_risk
                    WHERE dp > 0 AND dg > 0),
         km AS (SELECT cohort, dur,
                  CASE WHEN sum(CASE WHEN dg >= ng THEN 1 ELSE 0 END)
                         OVER (PARTITION BY cohort ORDER BY dur
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                       THEN 0.0
                       ELSE exp(sum(CASE WHEN dg < ng
                              THEN ln(1.0 - CAST(dg AS DOUBLE) / ng) ELSE 0.0 END)
                            OVER (PARTITION BY cohort ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END AS s_cur
                FROM deaths),
         med AS (SELECT cohort, CAST(min(dur) AS BIGINT) AS med_dur
                 FROM km WHERE s_cur <= 0.5 GROUP BY cohort),
         cs AS (SELECT cohort, max(nn) AS n FROM at_risk GROUP BY cohort)
         SELECT cs.cohort, cs.n, med.med_dur
         FROM cs LEFT JOIN med ON med.cohort = cs.cohort
         ORDER BY cs.cohort""")),

    // Chao1 vocabulary-richness estimate + Good–Turing coverage over
    // the whitespace-token vocabulary — "how many word types does the
    // corpus REALLY have, and what fraction of the token mass do the
    // observed types cover": Chao1 = S_obs + f1²/(2f2) (bias-
    // corrected f1(f1−1)/(2(f2+1)) when f2 = 0 — declared), coverage
    // C = 1 − f1/N_tokens. ONE token-grain aggregate pass → the
    // frequency-of-frequencies table is tiny; everything downstream
    // is exact-count arithmetic in one shared expression.
    Query("q_x_chao1", (s, d) => {
      val tok = table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      tok.agg(count(lit(1)).as("s_obs"), sum(col("c")).as("n_tok"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
        .selectExpr("s_obs", "n_tok", "f1", "f2",
          """round(CASE WHEN f2 > 0
                THEN s_obs + CAST(f1 AS DOUBLE) * f1 / (2 * f2)
                ELSE s_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1)) END, 6)
             AS chao1""",
          """CASE WHEN n_tok > 0
              THEN round(1 - CAST(f1 AS DOUBLE) / n_tok, 6)
              ELSE NULL END AS coverage""")
    }, Some(
      // Same token grain (the house split↔string_split convention) and
      // shared estimator text.
      """WITH tok AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
                  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                GROUP BY w),
         g AS (SELECT CAST(count(*) AS BIGINT) AS s_obs,
                 CAST(sum(c) AS BIGINT) AS n_tok,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                 CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
               FROM tok)
         SELECT s_obs, n_tok, f1, f2,
                round(CASE WHEN f2 > 0
                      THEN s_obs + CAST(f1 AS DOUBLE) * f1 / (2 * f2)
                      ELSE s_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1)) END, 6)
                  AS chao1,
                CASE WHEN n_tok > 0
                 THEN round(1 - CAST(f1 AS DOUBLE) / n_tok, 6)
                 ELSE NULL END AS coverage
         FROM g""")),

    // Chapman capture–recapture estimate of the active-user
    // population from the two corpus halves (DECLARED: the bowker
    // midpoint-micros split; "capture" = any event in the half):
    // N̂ = (n1+1)(n2+1)/(m+1) − 1 with m = users seen in BOTH halves
    // — the coverage-estimation classic for "how many entities exist
    // beyond what either sample saw". Exact counts, one shared
    // expression; the corpus pass is one per-(user, half) aggregate.
    Query("q_x_capture_recapture", (s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tm"))
      val mid = ev.agg(((min(col("tm")) + max(col("tm"))) / lit(2L)).as("mid"))
      ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(max(when(col("tm") <= col("mid"), 1L).otherwise(0L)).as("h1"),
          max(when(col("tm") > col("mid"), 1L).otherwise(0L)).as("h2"))
        .agg(sum(col("h1")).as("n1"), sum(col("h2")).as("n2"),
          sum(col("h1") * col("h2")).as("m"),
          count(lit(1)).as("n_seen"))
        .selectExpr("n1", "n2", "m", "n_seen",
          """round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 6)
             AS n_hat""")
    }, Some(
      // Same midpoint split and Chapman text over exact half-capture
      // counts.
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tm FROM events),
         mid AS (SELECT (min(tm) + max(tm)) / 2 AS mid FROM ev),
         u AS (SELECT user_id,
                 CAST(max(CASE WHEN tm <= mid THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                 CAST(max(CASE WHEN tm > mid THEN 1 ELSE 0 END) AS BIGINT) AS h2
               FROM ev, mid GROUP BY user_id),
         g AS (SELECT CAST(sum(h1) AS BIGINT) AS n1,
                 CAST(sum(h2) AS BIGINT) AS n2,
                 CAST(sum(h1 * h2) AS BIGINT) AS m,
                 CAST(count(*) AS BIGINT) AS n_seen
               FROM u)
         SELECT n1, n2, m, n_seen,
                round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 6) AS n_hat
         FROM g""")),

    // Atkinson inequality index per source on document lengths
    // (DECLARED ε = 1: A = 1 − geomean/mean, the inequality-aversion
    // form where a transfer from rich to poor always lowers A;
    // zero-length docs excluded — the q_x_theil convention): the
    // remaining standard inequality measure next to q_x_gini /
    // q_x_theil / q_x_lorenz. Σ ln(x) folds at VALUE grain (cnt·ln v
    // over the per-source value histogram, ordered running window →
    // max), so the only double accumulation is over the bounded
    // value alphabet in a deterministic order.
    Query("q_x_atkinson", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("n_chars")).filter(col("n_chars") > 0)
      val cells = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cells
        .withColumn("ln_run", sum(col("cnt") * log(col("n_chars"))).over(w))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n"), sum(col("cnt") * col("n_chars")).as("sx"),
          max(col("ln_run")).as("sln"))
        .selectExpr("source", "n",
          """round(CAST(sx AS DOUBLE) / n, 6) AS mean""",
          """CASE WHEN n >= 1 AND sx > 0
              THEN round(1 - exp(sln / n) / (CAST(sx AS DOUBLE) / n), 6)
              ELSE NULL END AS atkinson""")
        .orderBy(col("source"))
    }, Some(
      // Same value-grain ln fold (running window in the same order) and
      // shared ε = 1 text.
      """WITH cells AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
                  FROM documents WHERE n_chars > 0 GROUP BY 1, 2),
         r AS (SELECT source, n_chars, cnt,
                 sum(cnt * ln(n_chars)) OVER (PARTITION BY source ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_run
               FROM cells),
         g AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(cnt * n_chars) AS BIGINT) AS sx,
                 max(ln_run) AS sln
               FROM r GROUP BY source)
         SELECT source, n,
                round(CAST(sx AS DOUBLE) / n, 6) AS mean,
                CASE WHEN n >= 1 AND sx > 0
                 THEN round(1 - exp(sln / n) / (CAST(sx AS DOUBLE) / n), 6)
                 ELSE NULL END AS atkinson
         FROM g ORDER BY source""")),

    // Palma ratio per source (DECLARED: share of total length held by
    // the top ⌊n/10⌋ docs over the share held by the bottom ⌊4n/10⌋,
    // rank-based with the deterministic doc_id tie-break): the
    // tail-focused inequality summary q_x_gini's single number hides.
    // Exact integer sums over rank windows; sources where the bottom
    // share is 0 surface NULL.
    Query("q_x_palma", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val wd = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val wa = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val nn = Window.partitionBy(col("source"))
      docs
        .withColumn("rd", row_number().over(wd).cast("long"))
        .withColumn("ra", row_number().over(wa).cast("long"))
        .withColumn("n", count(lit(1)).over(nn))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"), sum(col("n_chars")).as("sx"),
          sum(when(col("rd") <= expr("n div 10"), col("n_chars"))
            .otherwise(0L)).as("top10"),
          sum(when(col("ra") <= expr("4 * n div 10"), col("n_chars"))
            .otherwise(0L)).as("bot40"))
        .selectExpr("source", "n",
          "round(CAST(top10 AS DOUBLE) / sx, 6) AS top10_share",
          "round(CAST(bot40 AS DOUBLE) / sx, 6) AS bot40_share",
          """CASE WHEN bot40 > 0
              THEN round(CAST(top10 AS DOUBLE) / bot40, 6)
              ELSE NULL END AS palma""")
        .orderBy(col("source"))
    }, Some(
      // Same rank windows with the same doc_id tie-break and exact
      // integer share sums.
      """WITH r AS (SELECT source, n_chars,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rd,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY n_chars, doc_id) AS BIGINT) AS ra,
                 CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
               FROM documents),
         g AS (SELECT source, max(n) AS n, CAST(sum(n_chars) AS BIGINT) AS sx,
                 CAST(sum(CASE WHEN rd <= n // 10 THEN n_chars ELSE 0 END) AS BIGINT) AS top10,
                 CAST(sum(CASE WHEN ra <= 4 * n // 10 THEN n_chars ELSE 0 END) AS BIGINT) AS bot40
               FROM r GROUP BY source)
         SELECT source, n,
                round(CAST(top10 AS DOUBLE) / sx, 6) AS top10_share,
                round(CAST(bot40 AS DOUBLE) / sx, 6) AS bot40_share,
                CASE WHEN bot40 > 0
                 THEN round(CAST(top10 AS DOUBLE) / bot40, 6)
                 ELSE NULL END AS palma
         FROM g ORDER BY source""")),

    // Poisson overdispersion (variance-to-mean) test per event type
    // over daily counts — "is this event stream burstier than a
    // Poisson process" as a TEST statistic (q_x_burstiness reports
    // the (σ−μ)/(σ+μ) coefficient, no calibration): dispersion index
    // D = (n−1)s²/x̄ ~ χ²_{n−1} under Poisson. Exact integer Σc/Σc²
    // moments, one shared expression; constant-zero or single-day
    // types surface NULL. Observation grain = observed days (zero
    // days excluded — declared; the spine-aware zero view is
    // q_x_zero_inflation's job).
    Query("q_x_overdispersion", (s, d) => {
      DayGrain.counts(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("sq"))
        .selectExpr("event_type", "n AS n_days",
          """CASE WHEN n >= 2 AND sc > 0
              THEN round(((CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                / (CAST(sc AS DOUBLE) / n), 6)
              ELSE NULL END AS vmr""",
          """CASE WHEN n >= 2 AND sc > 0
              THEN round((n - 1) * ((CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                / (CAST(sc AS DOUBLE) / n), 6)
              ELSE NULL END AS chi2""",
          "n - 1 AS df")
        .orderBy(col("event_type"))
    }, Some(
      // Same exact day-grain moments and shared dispersion text.
      s"""WITH $OracleDc,
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(sum(c * c) AS BIGINT) AS sq
               FROM dc GROUP BY event_type)
         SELECT event_type, n AS n_days,
                CASE WHEN n >= 2 AND sc > 0
                 THEN round(((CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                   / (CAST(sc AS DOUBLE) / n), 6)
                 ELSE NULL END AS vmr,
                CASE WHEN n >= 2 AND sc > 0
                 THEN round((n - 1) * ((CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1))
                   / (CAST(sc AS DOUBLE) / n), 6)
                 ELSE NULL END AS chi2,
                n - 1 AS df
         FROM g ORDER BY event_type""")),

    // Zero-inflation check per event type on the type's OWN calendar
    // span (DECLARED: span = datediff(max day, min day) + 1; zero
    // days = span − observed days; λ = Σc/span): are there more
    // zero-activity days than the Poisson(λ) rate predicts —
    // z = (z_obs − span·e^{−λ}) / √(span·e^{−λ}(1−e^{−λ})), the
    // binomial normal approximation. Exact counts in, one shared
    // expression; degenerate spans (e^{−λ} rounding to 0 or 1)
    // surface NULL.
    Query("q_x_zero_inflation", (s, d) => {
      val p0 = "exp(-(CAST(sc AS DOUBLE) / span))"
      DayGrain.counts(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nobs"), sum(col("c")).as("sc"),
          (datediff(max(col("day")), min(col("day"))) + 1).cast("long").as("span"))
        .selectExpr("event_type", "span", "span - nobs AS zero_days",
          s"""CASE WHEN span >= 1 THEN round($p0 * span, 6) + 0.0
               ELSE NULL END AS exp_zero""",
          s"""CASE WHEN span >= 1 AND $p0 > 0 AND $p0 < 1
                THEN round((CAST(span - nobs AS DOUBLE) - $p0 * span)
                  / sqrt(span * $p0 * (1 - $p0)), 6) + 0.0
                ELSE NULL END AS z""")
        .orderBy(col("event_type"))
    }, Some {
      // Same declared span/λ conventions and shared binomial-approx
      // text.
      val p0 = "exp(-(CAST(sc AS DOUBLE) / span))"
      s"""WITH $OracleDc,
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nobs,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(max(day) - min(day) AS BIGINT) + 1 AS span
               FROM dc GROUP BY event_type)
         SELECT event_type, span, span - nobs AS zero_days,
                CASE WHEN span >= 1 THEN round($p0 * span, 6) + 0.0
                     ELSE NULL END AS exp_zero,
                CASE WHEN span >= 1 AND $p0 > 0 AND $p0 < 1
                 THEN round((CAST(span - nobs AS DOUBLE) - $p0 * span)
                   / sqrt(span * $p0 * (1 - $p0)), 6) + 0.0
                 ELSE NULL END AS z
         FROM g ORDER BY event_type"""
    })
  )
}

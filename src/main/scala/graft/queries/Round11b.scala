package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-11 wave 2 (SURVEY.md §2.8e): the k-sample statistical-test
  * completions (Bartlett, Welch ANOVA, Tukey HSD, Jarque–Bera),
  * partial correlation and ridge regression, SAX
  * time-series symbolization, RFM user scoring, and Adamic–Adar link
  * prediction on the semantic graph — re-expressing the ad-hoc
  * statistical audits the reference's SQL surface supports
  * (reference README.md:62-78) as declared, oracle-checked operators.
  *
  * Determinism (§7.4): distributed aggregates are exact (BIGINT /
  * DECIMAL moments; 2·rank integers at value grain); every ≤k-row
  * double fold runs on ONE sorted partition in Spark and an ORDER BY
  * subquery in the oracle (the q_x_levene pattern); closed-form
  * statistics evaluate IDENTICAL SQL expression text on both engines
  * (the q_x_linreg pattern) and round at 6dp.
  */
object Round11b {
  /** Pearson r from exact moment columns — shared SQL text evaluated
    * by BOTH engines (identical fp op order), so the double result is
    * bit-identical cross-engine.
    */
  private def rTxt(sab: String, sa: String, sb: String,
      saa: String, sbb: String): String =
    s"""((CAST(n AS DOUBLE) * $sab - CAST($sa AS DOUBLE) * $sb) /
        sqrt((CAST(n AS DOUBLE) * $saa - CAST($sa AS DOUBLE) * $sa) *
             (CAST(n AS DOUBLE) * $sbb - CAST($sb AS DOUBLE) * $sb)))"""

  // ridge normal-matrix Cramer solve (intercept unpenalized, slopes
  // +λ): shared expression text, λ = 1000
  private val ridgeL = "1000.0"
  private val ridgeDet =
    s"""(CAST(n AS DOUBLE) * ((s11 + $ridgeL) * (s22 + $ridgeL) - CAST(s12 AS DOUBLE) * s12)
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * (s22 + $ridgeL) - CAST(s12 AS DOUBLE) * s2)
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - (s11 + $ridgeL) * s2))"""
  private val ridgeB0 =
    s"""((CAST(sy AS DOUBLE) * ((s11 + $ridgeL) * (s22 + $ridgeL) - CAST(s12 AS DOUBLE) * s12)
        - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * (s22 + $ridgeL) - CAST(s12 AS DOUBLE) * s2y)
        + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - (s11 + $ridgeL) * s2y)) / $ridgeDet)"""
  private val ridgeB1 =
    s"""((CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * (s22 + $ridgeL) - CAST(s12 AS DOUBLE) * s2y)
        - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * (s22 + $ridgeL) - CAST(s12 AS DOUBLE) * s2)
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)) / $ridgeDet)"""
  private val ridgeB2 =
    s"""((CAST(n AS DOUBLE) * ((s11 + $ridgeL) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * s12)
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
        + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - (s11 + $ridgeL) * s2)) / $ridgeDet)"""

  // Jarque–Bera central-moment formulas from exact raw power sums —
  // shared text (s3/s4 arrive as DECIMAL, cast once)
  private val jbM = "(CAST(s1 AS DOUBLE) / n)"
  private val jbM2 = s"(CAST(s2 AS DOUBLE) / n - $jbM * $jbM)"
  private val jbM3 =
    s"""(CAST(s3 AS DOUBLE) / n - 3.0 * $jbM * (CAST(s2 AS DOUBLE) / n)
        + 2.0 * $jbM * $jbM * $jbM)"""
  private val jbM4 =
    s"""(CAST(s4 AS DOUBLE) / n - 4.0 * $jbM * (CAST(s3 AS DOUBLE) / n)
        + 6.0 * $jbM * $jbM * (CAST(s2 AS DOUBLE) / n)
        - 3.0 * $jbM * $jbM * $jbM * $jbM)"""
  private val jbSkew = s"($jbM3 / ($jbM2 * sqrt($jbM2)))"
  private val jbKurt = s"($jbM4 / ($jbM2 * $jbM2))"

  val queries: Seq[Query] = Seq(

    // Bartlett's homogeneity-of-variance test across sources — the
    // parametric sibling of q_x_levene (sharper under normality,
    // fragile otherwise; a pipeline wants both). Group moments are
    // exact BIGINTs; per-group s² and its log are one deterministic
    // expression; the three k-row folds run single-sorted-partition.
    Query("q_x_bartlett", (s, d) => {
      val g = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("ni"), sum(col("n_chars")).as("si"),
          sum(col("n_chars") * col("n_chars")).as("qi"))
        .withColumn("s2i",
          (col("qi").cast("double") - col("si").cast("double") * col("si") / col("ni")) /
            (col("ni") - 1))
      g.coalesce(1).sortWithinPartitions(col("source"))
        .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum((col("ni") - 1).cast("double") * col("s2i")).as("sv"),
          sum((col("ni") - 1).cast("double") * log(col("s2i"))).as("sl"),
          sum(lit(1.0) / (col("ni") - 1)).as("sinv"))
        .selectExpr("k", "n",
          """round(((n - k) * ln(sv / (n - k)) - sl) /
                   (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))), 6) AS t_stat""",
          "CAST(k - 1 AS BIGINT) AS dof")
    }, Some(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS ni,
                 CAST(sum(n_chars) AS BIGINT) AS si,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS qi
               FROM documents GROUP BY source),
         g2 AS (SELECT *, (CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * si / ni) /
                          (ni - 1) AS s2i FROM g),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n,
                 sum(CAST(ni - 1 AS DOUBLE) * s2i) AS sv,
                 sum(CAST(ni - 1 AS DOUBLE) * ln(s2i)) AS sl,
                 sum(1.0 / (ni - 1)) AS sinv
               FROM (SELECT * FROM g2 ORDER BY source))
         SELECT k, n,
                round(((n - k) * ln(sv / (n - k)) - sl) /
                      (1.0 + (sinv - 1.0 / (n - k)) / (3.0 * (k - 1))), 6) AS t_stat,
                CAST(k - 1 AS BIGINT) AS dof
         FROM a""")),

    // Welch's one-way ANOVA across sources — q_x_anova without the
    // equal-variance assumption (the robust default when Bartlett/
    // Levene reject). Λ = Σ(1−wᵢ/W)²/(nᵢ−1) expands to three
    // single-pass sums so the k-row fold needs only ONE ordered pass.
    Query("q_x_welch_anova", (s, d) => {
      val g = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("ni"), sum(col("n_chars")).as("si"),
          sum(col("n_chars") * col("n_chars")).as("qi"))
        .withColumn("mi", col("si").cast("double") / col("ni"))
        .withColumn("wi", col("ni").cast("double") /
          ((col("qi").cast("double") - col("si").cast("double") * col("si") / col("ni")) /
            (col("ni") - 1)))
      g.coalesce(1).sortWithinPartitions(col("source"))
        .agg(count(lit(1)).as("k"),
          sum(col("wi")).as("sw"), sum(col("wi") * col("mi")).as("swm"),
          sum(col("wi") * col("mi") * col("mi")).as("swm2"),
          sum(lit(1.0) / (col("ni") - 1)).as("a1"),
          sum(col("wi") / (col("ni") - 1)).as("a2"),
          sum(col("wi") * col("wi") / (col("ni") - 1)).as("a3"))
        .selectExpr("k",
          """round(((swm2 - swm * swm / sw) / (k - 1)) /
                   (1.0 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) *
                    (a1 - 2.0 * a2 / sw + a3 / (sw * sw))), 6) AS f""",
          "CAST(k - 1 AS BIGINT) AS df1",
          """round((CAST(k AS DOUBLE) * k - 1) /
                   (3.0 * (a1 - 2.0 * a2 / sw + a3 / (sw * sw))), 6) AS df2""")
    }, Some(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS ni,
                 CAST(sum(n_chars) AS BIGINT) AS si,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS qi
               FROM documents GROUP BY source),
         g2 AS (SELECT *, CAST(si AS DOUBLE) / ni AS mi,
                 CAST(ni AS DOUBLE) /
                   ((CAST(qi AS DOUBLE) - CAST(si AS DOUBLE) * si / ni) / (ni - 1)) AS wi
               FROM g),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(wi) AS sw, sum(wi * mi) AS swm, sum(wi * mi * mi) AS swm2,
                 sum(1.0 / (ni - 1)) AS a1, sum(wi / (ni - 1)) AS a2,
                 sum(wi * wi / (ni - 1)) AS a3
               FROM (SELECT * FROM g2 ORDER BY source))
         SELECT k,
                round(((swm2 - swm * swm / sw) / (k - 1)) /
                      (1.0 + 2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1) *
                       (a1 - 2.0 * a2 / sw + a3 / (sw * sw))), 6) AS f,
                CAST(k - 1 AS BIGINT) AS df1,
                round((CAST(k AS DOUBLE) * k - 1) /
                      (3.0 * (a1 - 2.0 * a2 / sw + a3 / (sw * sw))), 6) AS df2
         FROM a""")),

    // Tukey HSD post-hoc — WHICH source pairs differ once q_x_anova
    // says "some do": the studentized-range statistic per pair over
    // the pooled MSE. Group moments exact; MSE's one double fold is
    // single-sorted-partition; the k² pair grid (≤ hundreds of rows)
    // is a broadcast self-join of the k-row group table.
    Query("q_x_tukey_hsd", (s, d) => {
      val g = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("ni"), sum(col("n_chars")).as("si"),
          sum(col("n_chars") * col("n_chars")).as("qi"))
      val mse = g.coalesce(1).sortWithinPartitions(col("source"))
        .agg(sum(col("ni")).as("n"), count(lit(1)).as("k"),
          sum(col("qi")).as("sumq"),
          sum(col("si").cast("double") * col("si") / col("ni")).as("sb"))
        .selectExpr("(CAST(sumq AS DOUBLE) - sb) / (n - k) AS mse")
      val a = g.select(col("source").as("source_a"), col("ni").as("na"),
        (col("si").cast("double") / col("ni")).as("ma"))
      val b = g.select(col("source").as("source_b"), col("ni").as("nb"),
        (col("si").cast("double") / col("ni")).as("mb"))
      a.join(b, col("source_a") < col("source_b"))
        .crossJoin(broadcast(mse))
        .selectExpr("source_a", "source_b",
          "round(ma - mb, 6) AS mean_diff",
          """round(abs(ma - mb) /
                   sqrt(mse / 2.0 * (1.0 / na + 1.0 / nb)), 6) AS q_stat""")
        .orderBy(col("source_a"), col("source_b"))
    }, Some(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS ni,
                 CAST(sum(n_chars) AS BIGINT) AS si,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS qi
               FROM documents GROUP BY source),
         m AS (SELECT (CAST(sumq AS DOUBLE) - sb) / (n - k) AS mse FROM (
                 SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(qi) AS BIGINT) AS sumq,
                   sum(CAST(si AS DOUBLE) * si / ni) AS sb
                 FROM (SELECT * FROM g ORDER BY source)))
         SELECT a.source AS source_a, b.source AS source_b,
                round(CAST(a.si AS DOUBLE) / a.ni - CAST(b.si AS DOUBLE) / b.ni, 6)
                  AS mean_diff,
                round(abs(CAST(a.si AS DOUBLE) / a.ni - CAST(b.si AS DOUBLE) / b.ni) /
                      sqrt(mse / 2.0 * (1.0 / a.ni + 1.0 / b.ni)), 6) AS q_stat
         FROM g a, g b, m
         WHERE a.source < b.source
         ORDER BY source_a, source_b""")),

    // Jarque–Bera normality test per source (skewness² + excess-
    // kurtosis² scaled) — the moments audit behind "can I use the
    // parametric tests at all". Raw power sums are EXACT end to end:
    // x² in BIGINT, x³/x⁴ through DECIMAL(38,0) (x⁴ sums overflow
    // BIGINT past ~1e6 rows of 4-digit lengths); the central-moment
    // expansion is shared SQL text on identical exact inputs.
    Query("q_x_jarque_bera", (s, d) => {
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
          s"round($jbSkew, 6) AS skew",
          s"round($jbKurt - 3.0, 6) AS ex_kurt",
          s"""round(CAST(n AS DOUBLE) / 6.0 *
               ($jbSkew * $jbSkew + ($jbKurt - 3.0) * ($jbKurt - 3.0) / 4.0), 6) AS jb""")
        .orderBy(col("source"))
    }, Some {
      val m = "(CAST(s1 AS DOUBLE) / n)"
      val m2 = s"(CAST(s2 AS DOUBLE) / n - $m * $m)"
      val m3 = s"""(CAST(s3 AS DOUBLE) / n - 3.0 * $m * (CAST(s2 AS DOUBLE) / n)
                   + 2.0 * $m * $m * $m)"""
      val m4 = s"""(CAST(s4 AS DOUBLE) / n - 4.0 * $m * (CAST(s3 AS DOUBLE) / n)
                   + 6.0 * $m * $m * (CAST(s2 AS DOUBLE) / n)
                   - 3.0 * $m * $m * $m * $m)"""
      val sk = s"($m3 / ($m2 * sqrt($m2)))"
      val ku = s"($m4 / ($m2 * $m2))"
      s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s1,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS s2,
                 sum(CAST(n_chars * n_chars AS DECIMAL(18,0)) * n_chars) AS s3,
                 sum(CAST(n_chars * n_chars AS DECIMAL(18,0)) *
                     CAST(n_chars * n_chars AS DECIMAL(18,0))) AS s4
               FROM documents GROUP BY source)
         SELECT source, n,
                round($sk, 6) AS skew,
                round($ku - 3.0, 6) AS ex_kurt,
                round(CAST(n AS DOUBLE) / 6.0 *
                      ($sk * $sk + ($ku - 3.0) * ($ku - 3.0) / 4.0), 6) AS jb
         FROM g ORDER BY source"""
    }),

    // Partial correlation of doc length and token count CONTROLLING
    // for vowel mass — "is length~tokens just alphabet volume?" All
    // ten moments are exact BIGINTs in one pass; the three Pearson
    // r's and the partial evaluate as shared expression text.
    Query("q_x_partial_corr", (s, d) => {
      val rxy = rTxt("sxy", "sx", "sy", "sxx", "syy")
      val rxz = rTxt("sxz", "sx", "sz", "sxx", "szz")
      val ryz = rTxt("syz", "sy", "sz", "syy", "szz")
      table(s, d, "documents")
        .select(col("n_chars").as("x"),
          size(split(col("text"), " ")).cast("long").as("y"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("z"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"))
        .selectExpr("n",
          s"round($rxy, 6) AS r_xy", s"round($rxz, 6) AS r_xz",
          s"round($ryz, 6) AS r_yz",
          s"""round(($rxy - $rxz * $ryz) /
               sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)), 6) AS r_xy_z""")
    }, Some {
      def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
        s"""((CAST(n AS DOUBLE) * $sab - CAST($sa AS DOUBLE) * $sb) /
            sqrt((CAST(n AS DOUBLE) * $saa - CAST($sa AS DOUBLE) * $sa) *
                 (CAST(n AS DOUBLE) * $sbb - CAST($sb AS DOUBLE) * $sb)))"""
      val rxy = r("sxy", "sx", "sy", "sxx", "syy")
      val rxz = r("sxz", "sx", "sz", "sxx", "szz")
      val ryz = r("syz", "sy", "sz", "syy", "szz")
      s"""WITH b AS (SELECT n_chars AS x,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS y,
                 CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS z
               FROM documents),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(z) AS BIGINT) AS sz,
                 CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(z * z) AS BIGINT) AS szz, CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * z) AS BIGINT) AS sxz, CAST(sum(y * z) AS BIGINT) AS syz
               FROM b)
         SELECT n, round($rxy, 6) AS r_xy, round($rxz, 6) AS r_xz,
                round($ryz, 6) AS r_yz,
                round(($rxy - $rxz * $ryz) /
                      sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)), 6) AS r_xy_z
         FROM a"""
    }),

    // Ridge regression (closed form, λ = 1000 on the slope diagonal,
    // intercept unpenalized): n_chars ~ tokens + vowels — q_x_linreg
    // with the collinearity guard a production feature store needs
    // (tokens and vowels are highly correlated; OLS coefficients are
    // unstable exactly where ridge shrinks them). Exact BIGINT
    // normal-matrix moments; Cramer solve as shared expression text.
    Query("q_x_ridge", (s, d) =>
      table(s, d, "documents")
        .select(col("n_chars").as("yv"),
          size(split(col("text"), " ")).cast("long").as("x1"),
          length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("x2"))
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("yv")).as("sy"),
          sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"), sum(col("x1") * col("yv")).as("s1y"),
          sum(col("x2") * col("yv")).as("s2y"))
        .selectExpr("n", s"CAST($ridgeL AS DOUBLE) AS lambda", s"round($ridgeB0, 6) AS b0",
          s"round($ridgeB1, 6) AS b1", s"round($ridgeB2, 6) AS b2"), Some(
      s"""WITH b AS (SELECT n_chars AS yv,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
                 CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS x2
               FROM documents),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
                 CAST(sum(yv) AS BIGINT) AS sy,
                 CAST(sum(x1 * x1) AS BIGINT) AS s11,
                 CAST(sum(x1 * x2) AS BIGINT) AS s12,
                 CAST(sum(x2 * x2) AS BIGINT) AS s22,
                 CAST(sum(x1 * yv) AS BIGINT) AS s1y,
                 CAST(sum(x2 * yv) AS BIGINT) AS s2y
               FROM b)
         SELECT n, CAST($ridgeL AS DOUBLE) AS lambda, round($ridgeB0, 6) AS b0,
                round($ridgeB1, 6) AS b1, round($ridgeB2, 6) AS b2
         FROM a""")),

    // SAX symbolization of the per-type daily value series: weekly
    // PAA means, z-scored against the type's own level, mapped to a
    // 4-symbol alphabet at the standard Gaussian quartile breakpoints
    // (±0.6745, 0) — the discretization behind motif/novelty search
    // over metric streams. Totals and PAA round at 6dp BEFORE the
    // z-score; z rounds before the CASE so symbol boundaries cannot
    // flip on an ulp; the per-type moment fold over the ≤dozens of
    // weekly rows runs single-sorted-partition.
    Query("q_x_sax", (s, d) => {
      val daily = graft.operators.DayGrain.values(s, d)
        .withColumnRenamed("v", "tot")
        .withColumn("week",
          floor(datediff(col("day"), lit("1970-01-01").cast("date")) / 7))
      val paa = daily.groupBy(col("event_type"), col("week"))
        .agg(round(avg(col("tot")), 6).as("paa"))
      val m = paa.coalesce(1).sortWithinPartitions(col("event_type"), col("week"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nw"), sum(col("paa")).as("sp"),
          sum(col("paa") * col("paa")).as("sp2"))
        .selectExpr("event_type", "sp / nw AS mu",
          "sqrt((sp2 - sp * sp / nw) / (nw - 1)) AS sd")
      paa.join(broadcast(m), "event_type")
        .withColumn("z", round((col("paa") - col("mu")) / col("sd"), 6))
        .withColumn("symbol",
          when(col("z") < -0.6745, "a").when(col("z") < 0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d"))
        .select(col("event_type"), col("week"), col("paa"), col("z"), col("symbol"))
        .orderBy(col("event_type"), col("week"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 round(sum(value), 6) AS tot
               FROM events GROUP BY 1, 2),
         wk AS (SELECT event_type,
                 CAST(floor(date_diff('day', DATE '1970-01-01', day) / 7.0) AS BIGINT)
                   AS week, tot
               FROM daily),
         paa AS (SELECT event_type, week, round(avg(tot), 6) AS paa
                 FROM wk GROUP BY event_type, week),
         m AS (SELECT event_type, sp / nw AS mu,
                 sqrt((sp2 - sp * sp / nw) / (nw - 1)) AS sd
               FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS nw,
                       sum(paa) AS sp, sum(paa * paa) AS sp2
                     FROM (SELECT * FROM paa ORDER BY event_type, week)
                     GROUP BY event_type)),
         z AS (SELECT p.event_type, p.week, p.paa,
                 round((p.paa - m.mu) / m.sd, 6) AS z
               FROM paa p JOIN m ON m.event_type = p.event_type)
         SELECT event_type, week, paa, z,
                CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
                     WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
         FROM z ORDER BY event_type, week""")),

    // RFM (recency / frequency / monetary) scoring per user with
    // exact integer-rank quintile buckets — the segmentation cut
    // every growth pipeline runs. Thresholds come from value-grain
    // cumulative counts (bounded domains; the q_x_qq_shift pattern —
    // a 4-row spine against each metric's histogram), so NO
    // corpus-sized ranking window exists at any scale; bucket
    // membership is then a broadcast threshold count.
    Query("q_x_rfm", (s, d) => {
      val byUser = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("frequency"),
          round(sum(col("value")), 6).as("monetary"))
      val ref = byUser.agg(max(col("last_day")).as("ref_day"))
      // materialize the per-user frame once (lazily): it feeds the
      // three bucket derivations (each reads it twice — the value-grain
      // histogram and the threshold-count side) plus the final join —
      // without the cut the events aggregate re-executes ~8x per run
      // (r17 measurement; the q_x_kl_source token-stream precedent)
      val u = byUser.crossJoin(broadcast(ref))
        .withColumn("recency", datediff(col("ref_day"), col("last_day")).cast("long"))
        .select(col("user_id"), col("recency"), col("frequency"), col("monetary"))
        .cut()
      // quintile thresholds t_q = min v with cum·5 ≥ q·n, q = 1..4;
      // bucket(v) = 1 + #{q : v > t_q} — deterministic under ties.
      // r18: the three metrics run through ONE unpivoted
      // (user, metric, v) pass instead of three clones of the
      // histogram/threshold machinery (~15 exchanges → ~6): the
      // cumulative fold becomes a metric-PARTITIONED window over the
      // value-grain histogram (same per-metric values as the former
      // coalesce(1) fold, and no unpartitioned window at all), and the
      // three bucket columns pivot back in one conditional aggregate.
      // recency/frequency ride as exact integer-valued doubles
      // (< 2^53, so grouping and the v > t comparisons are exact);
      // monetary was double already.
      val m = u.select(col("user_id"), explode(map(
          lit("r"), col("recency").cast("double"),
          lit("f"), col("frequency").cast("double"),
          lit("m"), col("monetary"))).as(Seq("metric", "v")))
      val cum = m.groupBy(col("metric"), col("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("metric")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .cut()
      val n = cum.groupBy(col("metric")).agg(max(col("cum")).as("n"))
      val thr = broadcast(u.sparkSession.range(1, 5).select(col("id").as("q")))
        .crossJoin(broadcast(n))
        .join(cum, Seq("metric"))
        .filter(col("cum") * 5 >= col("q") * col("n"))
        .groupBy(col("metric"), col("q")).agg(min(col("v")).as("t"))
      val b = m.join(broadcast(thr), Seq("metric"))
        .groupBy(col("user_id"), col("metric"))
        .agg((lit(1L) + sum(when(col("v") > col("t"), 1L).otherwise(0L))).as("bk"))
        .groupBy(col("user_id"))
        .agg(max(when(col("metric") === "r", col("bk"))).as("recency_bucket"),
          max(when(col("metric") === "f", col("bk"))).as("frequency_bucket"),
          max(when(col("metric") === "m", col("bk"))).as("monetary_bucket"))
      u.join(b, "user_id")
        .select(col("user_id"), col("recency"), col("frequency"), col("monetary"),
          col("recency_bucket"), col("frequency_bucket"), col("monetary_bucket"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH u AS (SELECT user_id,
                 CAST(date_diff('day', max(CAST(ts AS DATE)),
                   (SELECT max(CAST(ts AS DATE)) FROM events)) AS BIGINT) AS recency,
                 CAST(count(*) AS BIGINT) AS frequency,
                 round(sum(value), 6) AS monetary
               FROM events GROUP BY user_id),
         rt AS (SELECT q, min(v) AS t FROM
                  (SELECT recency AS v, sum(count(*)) OVER (ORDER BY recency) AS cum
                   FROM u GROUP BY recency) c,
                  (SELECT CAST(count(*) AS BIGINT) AS n FROM u) n,
                  range(1, 5) r(q)
                WHERE cum * 5 >= q * n GROUP BY q),
         ft AS (SELECT q, min(v) AS t FROM
                  (SELECT frequency AS v, sum(count(*)) OVER (ORDER BY frequency) AS cum
                   FROM u GROUP BY frequency) c,
                  (SELECT CAST(count(*) AS BIGINT) AS n FROM u) n,
                  range(1, 5) r(q)
                WHERE cum * 5 >= q * n GROUP BY q),
         mt AS (SELECT q, min(v) AS t FROM
                  (SELECT monetary AS v, sum(count(*)) OVER (ORDER BY monetary) AS cum
                   FROM u GROUP BY monetary) c,
                  (SELECT CAST(count(*) AS BIGINT) AS n FROM u) n,
                  range(1, 5) r(q)
                WHERE cum * 5 >= q * n GROUP BY q)
         SELECT u.user_id, u.recency, u.frequency, u.monetary,
                CAST(1 + (SELECT count(*) FROM rt WHERE u.recency > rt.t) AS BIGINT)
                  AS recency_bucket,
                CAST(1 + (SELECT count(*) FROM ft WHERE u.frequency > ft.t) AS BIGINT)
                  AS frequency_bucket,
                CAST(1 + (SELECT count(*) FROM mt WHERE u.monetary > mt.t) AS BIGINT)
                  AS monetary_bucket
         FROM u ORDER BY user_id""")),

    // Adamic–Adar link prediction over the semantic cosine graph
    // (threshold 0.3, the q_x_triangles edge set): for non-adjacent
    // two-hop pairs, score = Σ 1/ln(deg(w)) over common neighbors w —
    // rare shared neighbors weigh more. Edge-list shapes only (sym →
    // deg → two-hop equi-join → anti join against existing edges);
    // the top-50 cut sorts on the ROUNDED score + pair id.
    Query("q_x_adamic_adar", (s, d) => {
      val e = graft.operators.CosGraph.edges(s, d, threshold = 0.3)
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val deg = sym.groupBy(col("u").as("w")).agg(count(lit(1)).as("deg"))
      // attach deg(w) to the EDGE-grain side (2m rows) before the
      // wedge self-join — joining deg onto the Σd²-row wedge table
      // instead was the 10×-fixture scale killer; likewise the
      // existing-edge anti join runs AFTER pair aggregation (pair
      // grain ≤ wedge grain), not on raw wedges
      val symd = sym.join(deg, sym("u") === deg("w"))
        .select(col("v").as("id_a"), col("w"), col("deg"))
      val hop2 = symd
        .join(sym.select(col("u").as("w"), col("v").as("id_b")), "w")
        .filter(col("id_a") < col("id_b"))
      hop2.groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_common"),
          round(sum(lit(1.0) / log(col("deg").cast("double"))), 6).as("aa"))
        .join(e.select(col("a").as("id_a"), col("b").as("id_b")),
          Seq("id_a", "id_b"), "left_anti")
        .orderBy(col("aa").desc, col("id_a"), col("id_b"))
        .limit(50)
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, embedding AS cv, nrm AS cn FROM nv),
         e AS (SELECT id_a AS ea, id_b AS eb FROM (
                 SELECT id_a, id_b, round(${Extensions.knnCosSql}, 9) AS cos
                 FROM a JOIN b ON id_a < id_b)
               WHERE cos >= 0.3),
         sym AS (SELECT ea AS u, eb AS v FROM e UNION ALL SELECT eb, ea FROM e),
         deg AS (SELECT u AS w, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
         hop2 AS (SELECT s1.v AS id_a, s1.u AS w, s2.v AS id_b
                  FROM sym s1 JOIN sym s2 ON s1.u = s2.u
                  WHERE s1.v < s2.v
                    AND NOT EXISTS (SELECT 1 FROM e
                                    WHERE e.ea = s1.v AND e.eb = s2.v))
         SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common,
                round(sum(1.0 / ln(CAST(deg AS DOUBLE))), 6) AS aa
         FROM hop2 JOIN deg USING (w)
         GROUP BY id_a, id_b
         ORDER BY aa DESC, id_a, id_b LIMIT 50"""))
  )
}

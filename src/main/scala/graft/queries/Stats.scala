package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.Cuts.CutOps

/** Statistical-audit operators (SURVEY.md §2.8c): the hypothesis-test /
  * calibration / regression primitives a corpus-quality pipeline runs
  * over per-source slices. Every one is DuckDB-oracle-able: every
  * statistic is assembled from exact integer aggregates (counts, sums
  * of integer columns, rank numerators kept ×2 to stay integral) with
  * the float division(s) deferred to one final, syntactically identical
  * expression on both engines, so pre-round doubles agree bit-for-bit.
  *
  * Scale shapes (the 100 TB contract):
  *  - anova operates at SOURCE grain — the shuffled table is bounded
  *    by the source count, not the corpus.
  *  - spearman reduces to (event_type, value)-grain rank tables;
  *    kendall to an (hour × int-value) cell table whose self-join is
  *    grain² (≤ ~12k cells), constant in corpus size.
  *  - isotonic runs PAV on the score-bin table (≤ ~10² bins at 2dp)
  *    via the minimax identity — O(B²) pairs, corpus-independent.
  *  - linreg is one aggregate pass (9 integer sums) + a closed-form
  *    3×3 Cramer solve on the driver-free single-row frame.
  *  - holt is a per-series sequential fold (groupByKey.mapGroups, the
  *    q_x_ewma_batch pattern) — per-group memory is one user's series.
  *  - interp is two partitioned windows (lag/lead), no grid blowup.
  */
object Stats {
  // Cramer's-rule solution of the 3×3 normal equations, written ONCE
  // as SQL text and spliced verbatim into both the Spark selectExpr
  // and the DuckDB oracle so every fp operation associates
  // identically. Matrix M = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
  // rhs v = [sy,s1y,s2y]; all symbols are exact-integer aggregate
  // columns cast to double exactly once.
  private def det3(a: String, b: String, c: String,
                   d: String, e: String, f: String,
                   g: String, h: String, i: String): String =
    s"(CAST($a AS DOUBLE) * (CAST($e AS DOUBLE) * $i - CAST($f AS DOUBLE) * $h) " +
      s"- CAST($b AS DOUBLE) * (CAST($d AS DOUBLE) * $i - CAST($f AS DOUBLE) * $g) " +
      s"+ CAST($c AS DOUBLE) * (CAST($d AS DOUBLE) * $h - CAST($e AS DOUBLE) * $g))"

  private val detM = det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
  private val linregB0 =
    s"(${det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")} / $detM)"
  private val linregB1 =
    s"(${det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")} / $detM)"
  private val linregB2 =
    s"(${det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")} / $detM)"

  val queries: Seq[Query] = Seq(

    // One-way ANOVA of n_chars across sources: k-group mean
    // separation as one F statistic + effect size. n_i, Σx, Σx² stay
    // exact longs per group; only the O(1)-magnitude outputs (F, η²)
    // are emitted, so the ~20-term double sums the SS decomposition
    // needs never meet the 6dp round at 1e9 magnitude.
    Query("q_x_anova", (s, d) => {
      val g = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("ni"), sum(col("n_chars")).as("si"),
          sum(col("n_chars") * col("n_chars")).as("qi"))
      g.agg(
        count(lit(1)).as("k"), sum(col("ni")).as("n"),
        sum(col("si")).as("ssum"), sum(col("qi")).as("qsum"),
        sum(col("si").cast("double") * col("si") / col("ni")).as("sb"))
        .select(col("k"), col("n"),
          round(
            ((col("sb") - col("ssum").cast("double") * col("ssum") / col("n")) /
              (col("k") - 1)) /
              ((col("qsum") - col("sb")) / (col("n") - col("k"))), 6).as("f"),
          round(
            (col("sb") - col("ssum").cast("double") * col("ssum") / col("n")) /
              (col("qsum") - col("ssum").cast("double") * col("ssum") / col("n")),
            6).as("eta_sq"))
    }, Some(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS ni,
                  CAST(sum(n_chars) AS BIGINT) AS si,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS qi
                FROM documents GROUP BY source),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n,
                 CAST(sum(si) AS BIGINT) AS ssum, CAST(sum(qi) AS BIGINT) AS qsum,
                 sum(CAST(si AS DOUBLE) * si / ni) AS sb
               FROM g)
         SELECT k, n,
                round(((sb - CAST(ssum AS DOUBLE) * ssum / n) / (k - 1)) /
                      ((qsum - sb) / (n - k)), 6) AS f,
                round((sb - CAST(ssum AS DOUBLE) * ssum / n) /
                      (qsum - CAST(ssum AS DOUBLE) * ssum / n), 6) AS eta_sq
         FROM a""")),

    // Spearman rank correlation between event value and hour-of-day,
    // per event_type — the monotone-association screen that survives
    // outliers Pearson can't. Fractional (average) ranks are kept ×2
    // so they stay INTEGERS at value grain (2·rank = 2·cum_below +
    // ties + 1); all five moment sums are exact longs, and ρ is one
    // closed-form expression over their double casts.
    Query("q_x_spearman", (s, d) => {
      val base = table(s, d, "events")
        .select(col("event_type"), col("value").as("x"), hour(col("ts")).as("y"))
      def ranked(c: String) = {
        val grain = base.groupBy(col("event_type"), col(c)).agg(count(lit(1)).as("t"))
        val w = Window.partitionBy(col("event_type")).orderBy(col(c))
          .rowsBetween(Window.unboundedPreceding, -1)
        grain.withColumn("r2",
          lit(2L) * coalesce(sum(col("t")).over(w), lit(0L)) + col("t") + 1L)
          .select(col("event_type"), col(c), col("r2").as(s"r2$c"))
      }
      val cells = base.groupBy(col("event_type"), col("x"), col("y"))
        .agg(count(lit(1)).as("cn"))
        .join(ranked("x"), Seq("event_type", "x"))
        .join(ranked("y"), Seq("event_type", "y"))
      cells.groupBy(col("event_type"))
        .agg(sum(col("cn")).as("n"),
          sum(col("cn") * col("r2x")).as("sx"), sum(col("cn") * col("r2y")).as("sy"),
          sum(col("cn") * col("r2x") * col("r2x")).as("sxx"),
          sum(col("cn") * col("r2y") * col("r2y")).as("syy"),
          sum(col("cn") * col("r2x") * col("r2y")).as("sxy"))
        .select(col("event_type"), col("n"),
          round(
            (col("n").cast("double") * col("sxy") -
              col("sx").cast("double") * col("sy")) /
              sqrt((col("n").cast("double") * col("sxx") -
                col("sx").cast("double") * col("sx")) *
                (col("n").cast("double") * col("syy") -
                  col("sy").cast("double") * col("sy"))), 6).as("rho"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH base AS (SELECT event_type, value AS x,
                  CAST(extract(hour FROM ts) AS INTEGER) AS y
                FROM events),
         rx AS (SELECT event_type, x,
                  2 * coalesce(CAST(sum(t) OVER (PARTITION BY event_type ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                    + t + 1 AS r2x
                FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
                      FROM base GROUP BY event_type, x)),
         ry AS (SELECT event_type, y,
                  2 * coalesce(CAST(sum(t) OVER (PARTITION BY event_type ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                    + t + 1 AS r2y
                FROM (SELECT event_type, y, CAST(count(*) AS BIGINT) AS t
                      FROM base GROUP BY event_type, y)),
         cells AS (SELECT b.event_type, CAST(count(*) AS BIGINT) AS cn, r2x, r2y
                   FROM base b
                   JOIN rx ON rx.event_type = b.event_type AND rx.x = b.x
                   JOIN ry ON ry.event_type = b.event_type AND ry.y = b.y
                   GROUP BY b.event_type, b.x, b.y, r2x, r2y),
         m AS (SELECT event_type, CAST(sum(cn) AS BIGINT) AS n,
                 CAST(sum(cn * r2x) AS BIGINT) AS sx,
                 CAST(sum(cn * r2y) AS BIGINT) AS sy,
                 CAST(sum(cn * r2x * r2x) AS BIGINT) AS sxx,
                 CAST(sum(cn * r2y * r2y) AS BIGINT) AS syy,
                 CAST(sum(cn * r2x * r2y) AS BIGINT) AS sxy
               FROM cells GROUP BY event_type)
         SELECT event_type, n,
                round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                  sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                       (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS rho
         FROM m ORDER BY event_type""")),

    // Kendall τ-b between hour-of-day and floor(value/8), per
    // event_type. Concordant/discordant pair counts come from the
    // CELL-grain self-join (hour × value-octave ≤ ~1.5k cells —
    // constant in corpus size), never a row-pair join; C, D and the
    // tie terms are exact longs, τ is one final double expression.
    // The y grain is value/8 (r10 verdict item 5): τ-b on the coarser
    // grid is the declared statistic — identical in both engines —
    // and cuts the cell-pair constant 64× (3.3 s → sub-second).
    Query("q_x_kendall", (s, d) => {
      val cells = table(s, d, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("x"),
          floor(col("value") / 8).as("y"))
        .agg(count(lit(1)).as("cn"))
        .cut()
      val a = cells.select(col("event_type"), col("x").as("xa"),
        col("y").as("ya"), col("cn").as("ca"))
      val b = cells.select(col("event_type"), col("x").as("xb"),
        col("y").as("yb"), col("cn").as("cb"))
      val pairs = a.join(b, Seq("event_type")).filter(col("xa") < col("xb"))
      val cd = pairs.groupBy(col("event_type"))
        .agg(
          sum(when(col("ya") < col("yb"), col("ca") * col("cb")).otherwise(0L)).as("c"),
          sum(when(col("ya") > col("yb"), col("ca") * col("cb")).otherwise(0L)).as("dd"))
      val ties = cells.groupBy(col("event_type"))
        .agg(sum(col("cn")).as("n"),
          sum(col("cn") * (col("cn") - 1) / 2).as("txy"))
      val tx = cells.groupBy(col("event_type"), col("x"))
        .agg(sum(col("cn")).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) / 2).as("n1"))
      val ty = cells.groupBy(col("event_type"), col("y"))
        .agg(sum(col("cn")).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) / 2).as("n2"))
      cd.join(ties, "event_type").join(tx, "event_type").join(ty, "event_type")
        .select(col("event_type"), col("n"), col("c"), col("dd").as("d"),
          round((col("c") - col("dd")) /
            sqrt((col("n") * (col("n") - 1) / 2 - col("n1")).cast("double") *
              (col("n") * (col("n") - 1) / 2 - col("n2")).cast("double")), 6)
            .as("tau_b"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH cells AS (SELECT event_type,
                  CAST(extract(hour FROM ts) AS INTEGER) AS x,
                  CAST(floor(value / 8) AS BIGINT) AS y,
                  CAST(count(*) AS BIGINT) AS cn
                FROM events GROUP BY 1, 2, 3),
         cd AS (SELECT a.event_type,
                  CAST(sum(CASE WHEN a.y < b.y THEN a.cn * b.cn ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN a.y > b.y THEN a.cn * b.cn ELSE 0 END) AS BIGINT) AS d
                FROM cells a JOIN cells b
                  ON a.event_type = b.event_type AND a.x < b.x
                GROUP BY a.event_type),
         ties AS (SELECT event_type, CAST(sum(cn) AS BIGINT) AS n FROM cells GROUP BY 1),
         tx AS (SELECT event_type, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1
                FROM (SELECT event_type, x, CAST(sum(cn) AS BIGINT) AS t
                      FROM cells GROUP BY 1, 2) GROUP BY event_type),
         ty AS (SELECT event_type, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2
                FROM (SELECT event_type, y, CAST(sum(cn) AS BIGINT) AS t
                      FROM cells GROUP BY 1, 2) GROUP BY event_type)
         SELECT event_type, n, c, d,
                round((c - d) /
                  sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE) *
                       CAST(n * (n - 1) // 2 - n2 AS DOUBLE)), 6) AS tau_b
         FROM cd JOIN ties USING (event_type) JOIN tx USING (event_type)
           JOIN ty USING (event_type)
         ORDER BY event_type""")),

    // Isotonic (PAV) calibration of P(label ≤ 4 | score) over the
    // 2dp score-bin table, via the minimax identity
    // fit_i = max_{j≤i} min_{k≥i} mean(y[j..k]) — O(B²) bin pairs
    // (B ≤ ~10² — corpus-independent), two windowed passes, zero
    // iteration. Every block mean is ONE division of exact integer
    // prefix sums, so the min/max comparisons agree across engines.
    Query("q_x_isotonic", (s, d) => {
      val wOrd = Window.orderBy(col("sv"))
      val bins = table(s, d, "embeddings")
        // + 0.0 normalizes a −0.0 bin key to +0.0 (a score rounding to
        // zero from below): Spark normalizes signed zeros in grouping
        // keys, DuckDB keeps the first-seen −0.0 representative —
        // surfaced by the sf0.001 oracle gate.
        .groupBy((round(element_at(col("embedding"), 2).cast("double"), 2) + lit(0.0))
          .as("sv"))
        .agg(count(lit(1)).as("bn"),
          sum(when(col("label") <= 4, 1L).otherwise(0L)).as("bp"))
        // bin table is tiny (≤ ~10² rows): single-partition windows
        // here are the POINT (the corpus never enters this window).
        .coalesce(1)
        .withColumn("i", row_number().over(wOrd))
        .withColumn("cs", sum(col("bp")).over(wOrd))
        .withColumn("cn", sum(col("bn")).over(wOrd))
        .cut(kRowFold = true)
      val j = bins.select(col("i").as("j"),
        (col("cs") - col("bp")).as("csj0"), (col("cn") - col("bn")).as("cnj0"))
      val k = bins.select(col("i").as("k"), col("cs").as("csk"), col("cn").as("cnk"))
      val pairs = j.join(k, col("j") <= col("k"))
        .withColumn("mean_jk",
          (col("csk") - col("csj0")).cast("double") / (col("cnk") - col("cnj0")))
      val m1 = pairs.withColumn("m1",
        min(col("mean_jk")).over(
          Window.partitionBy(col("j")).orderBy(col("k").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val fit = m1.groupBy(col("k").as("i")).agg(max(col("m1")).as("fit"))
      bins.join(fit, "i")
        .select(col("sv"), col("bn").as("n"), col("bp").as("n_pos"),
          round(col("bp").cast("double") / col("bn"), 6).as("raw_rate"),
          round(col("fit"), 6).as("iso_fit"))
        .orderBy(col("sv"))
    }, Some(
      """WITH bins AS (SELECT round(CAST(embedding[2] AS DOUBLE), 2) + 0.0 AS sv,
                  CAST(count(*) AS BIGINT) AS bn,
                  CAST(sum(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS bp
                FROM embeddings GROUP BY 1),
         idx AS (SELECT sv, bn, bp,
                   CAST(row_number() OVER (ORDER BY sv) AS BIGINT) AS i,
                   CAST(sum(bp) OVER (ORDER BY sv) AS BIGINT) AS cs,
                   CAST(sum(bn) OVER (ORDER BY sv) AS BIGINT) AS cn
                 FROM bins),
         pairs AS (SELECT j.j, k.i AS k,
                     CAST(k.cs - j.csj0 AS DOUBLE) / (k.cn - j.cnj0) AS mean_jk
                   FROM (SELECT i AS j, cs - bp AS csj0, cn - bn AS cnj0 FROM idx) j
                   JOIN idx k ON j.j <= k.i),
         m1 AS (SELECT j, k,
                  min(mean_jk) OVER (PARTITION BY j ORDER BY k DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m1
                FROM pairs),
         fit AS (SELECT k AS i, max(m1) AS fit FROM m1 GROUP BY k)
         SELECT sv, bn AS n, bp AS n_pos,
                round(CAST(bp AS DOUBLE) / bn, 6) AS raw_rate,
                round(fit, 6) AS iso_fit
         FROM idx JOIN fit USING (i) ORDER BY sv""")),

    // Two-feature OLS (n_chars ~ tokens + vowel-count) via the normal
    // equations: ONE aggregate pass collects the 9 moment sums as
    // exact longs, then a closed-form 3×3 Cramer solve — no gradient
    // iterations, no per-row residual pass; R² comes from the same
    // sums. The whole regression is a single-row frame at any scale.
    Query("q_x_linreg", (s, d) => {
      val m = table(s, d, "documents")
        .select(col("n_chars").as("y"),
          size(split(col("text"), " ")).cast("long").as("x1"),
          // vowel count, NOT digit count: the fixture text is digit-free
          // at every SF, which would make the normal-equation matrix
          // exactly singular (checked sf0.001/0.01/0.1)
          length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("x2"))
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"), sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"), sum(col("y") * col("y")).as("syy"))
      // identical SQL text on both engines → identical fp evaluation
      m.selectExpr("n", s"round($linregB0, 6) AS b0",
        s"round($linregB1, 6) AS b1", s"round($linregB2, 6) AS b2",
        s"round(1.0 - (CAST(syy AS DOUBLE) - (($linregB0) * sy + ($linregB1) * s1y + ($linregB2) * s2y)) " +
          "/ (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n), 6) AS r2")
    }, Some(
      s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x1 * x1) AS BIGINT) AS s11,
                  CAST(sum(x1 * x2) AS BIGINT) AS s12,
                  CAST(sum(x2 * x2) AS BIGINT) AS s22,
                  CAST(sum(x1 * y) AS BIGINT) AS s1y,
                  CAST(sum(x2 * y) AS BIGINT) AS s2y,
                  CAST(sum(y * y) AS BIGINT) AS syy
                FROM (SELECT n_chars AS y,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
                        CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS x2
                      FROM documents))
         SELECT n, round($linregB0, 6) AS b0, round($linregB1, 6) AS b1,
                round($linregB2, 6) AS b2,
                round(1.0 - (CAST(syy AS DOUBLE) - (($linregB0) * sy + ($linregB1) * s1y + ($linregB2) * s2y))
                  / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n), 6) AS r2
         FROM m""")),

    // Holt linear (level+trend) exponential smoothing per
    // (user, event_type) series — the trend-aware twin of
    // q_x_ewma_batch. Sequential fold in mapGroups (bounded per-group
    // state: one user's one-type history); the oracle unrolls the
    // identical recurrence with a recursive CTE, so the doubles match
    // bit-for-bit before the final cross-series averaging.
    Query("q_x_holt", (s, d) => {
      import s.implicits._
      val series = table(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"), col("event_id"), col("value"))
        .as[(Long, String, Long, Long, Double)]
      val finals = series.groupByKey(r => (r._1, r._2)).flatMapGroups {
        (key: (Long, String), it: Iterator[(Long, String, Long, Long, Double)]) =>
          val arr = it.toArray.sortBy(r => (r._3, r._4))
          if (arr.length < 2) Iterator.empty
          else {
            var l = arr(0)._5
            var b = 0.0
            var i = 1
            while (i < arr.length) {
              val y = arr(i)._5
              val l2 = 0.3 * y + 0.7 * (l + b)
              b = 0.2 * (l2 - l) + 0.8 * b
              l = l2
              i += 1
            }
            Iterator.single((key._2, l, b))
          }
      }.toDF("event_type", "lvl", "trend")
      finals.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_series"),
          round(avg(col("lvl")), 6).as("avg_level"),
          round(avg(col("trend")), 6).as("avg_trend"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH RECURSIVE o AS (
           SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn,
                  count(*) OVER (PARTITION BY user_id, event_type) AS cnt
           FROM events),
         r AS (
           SELECT user_id, event_type, rn, cnt,
                  value AS l, CAST(0 AS DOUBLE) AS b
           FROM o WHERE rn = 1 AND cnt >= 2
           UNION ALL
           SELECT o.user_id, o.event_type, o.rn, o.cnt,
                  0.3 * o.value + 0.7 * (r.l + r.b),
                  0.2 * ((0.3 * o.value + 0.7 * (r.l + r.b)) - r.l) + 0.8 * r.b
           FROM o JOIN r ON o.user_id = r.user_id
             AND o.event_type = r.event_type AND o.rn = r.rn + 1)
         SELECT event_type, count(*) AS n_series,
                round(avg(l), 6) AS avg_level,
                round(avg(b), 6) AS avg_trend
         FROM r WHERE rn = cnt
         GROUP BY event_type ORDER BY event_type""")),

    // Leave-one-out linear interpolation error: re-estimate each
    // event's value from its two temporal neighbors (same user) and
    // report MAE/RMSE per event_type — the continuity audit for
    // sensor-style feeds. Two per-user window functions (lag/lead of
    // (ts, value)), weights are ratios of exact integer micros.
    Query("q_x_interp", (s, d) => {
      // orders by the µs long (ts is projected away below) — full µs order
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      table(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("value"))
        .withColumn("pt", lag(col("t"), 1).over(w))
        .withColumn("pv", lag(col("value"), 1).over(w))
        .withColumn("nt", lead(col("t"), 1).over(w))
        .withColumn("nv", lead(col("value"), 1).over(w))
        .filter(col("pt").isNotNull && col("nt").isNotNull && col("nt") > col("pt"))
        .withColumn("err",
          col("value") - (col("pv") + (col("nv") - col("pv")) *
            ((col("t") - col("pt")).cast("double") / (col("nt") - col("pt")))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(abs(col("err"))), 6).as("mae"),
          round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH w AS (SELECT event_type, value, epoch_us(ts) AS t,
                  lag(epoch_us(ts)) OVER uw AS pt,
                  lag(value) OVER uw AS pv,
                  lead(epoch_us(ts)) OVER uw AS nt,
                  lead(value) OVER uw AS nv
                FROM events
                WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)),
         e AS (SELECT event_type,
                 value - (pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / (nt - pt))) AS err
               FROM w
               WHERE pt IS NOT NULL AND nt IS NOT NULL AND nt > pt)
         SELECT event_type, count(*) AS n,
                round(avg(abs(err)), 6) AS mae,
                round(sqrt(avg(err * err)), 6) AS rmse
         FROM e GROUP BY event_type ORDER BY event_type"""))
  )
}

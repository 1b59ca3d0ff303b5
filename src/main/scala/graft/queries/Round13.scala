package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-13 wave (SURVEY.md §2.8g): dynamic time warping between the
  * per-type daily count series — the alignment-tolerant series
  * distance the lag-locked family (q_x_acf / q_x_ccf /
  * q_x_rolling_corr) cannot express: "are these two activity curves
  * the same shape, allowing local time stretch?" is the question a
  * corpus monitor asks when two sources ingest the same upstream feed
  * on drifting schedules (the reference's polled-API batches land on
  * a timer — weather-etl.py:58 — so cross-source alignment drift is
  * its native failure mode).
  *
  * Scale shape: the corpus contributes exactly ONE aggregate pass
  * down to (event_type, day) grain; the DP then runs per type-pair on
  * calendar-bounded arrays (n ≈ 30..365 regardless of corpus size),
  * so at 100 TB the plan is the same map-side-partial aggregate plus
  * a dims-sized pair grid — T(T−1)/2 rows for T event types,
  * embarrassingly parallel, no corpus-grain join anywhere.
  *
  * Determinism (§7.4): the series are BIGINT daily counts, the cost
  * |x−y| and every DP cell are exact BIGINT min-plus arithmetic, so
  * both engines produce bit-identical distances; the single division
  * (the path-normalized dtw/(n_a+n_b)) rounds at 6dp as the last step.
  *
  * The within-row recurrence D(i,j) = c + min(D(i−1,j), D(i−1,j−1),
  * D(i,j−1)) looks sequential in j, but unrolls to the prefix-min
  * identity D(i,j) = S(i,j) + min_{k≤j}(a_k − S(i,k−1)) with
  * a_k = min(D(i−1,k), D(i−1,k−1)) and S the row prefix-sum of costs
  * — both the codegen'd Spark fold below and the DuckDB recursive CTE
  * oracle use that SAME closed form, so the recursion depth is the
  * row count, not the cell count.
  */
object Round13 {
  val queries: Seq[Query] = Seq(

    // DTW distance between every pair of event types' daily count
    // series. One corpus pass to day grain; per-pair DP over
    // calendar-length BIGINT arrays via one aggregate() fold (row i
    // from row i−1 with the prefix-min unroll — no UDF, stays inside
    // codegen). na < 2 guard: sequence(2, 1) is DESCENDING in Spark,
    // so the fold range must be empty-guarded explicitly.
    Query("q_x_dtw", (s, d) => {
      val dc = graft.operators.DayGrain.counts(s, d)
      val ser = dc.groupBy(col("event_type"))
        .agg(expr("transform(sort_array(collect_list(struct(day, c))), x -> x.c)").as("s"),
          count(lit(1)).as("n"))
      val pairs = ser.toDF("type_a", "xa", "n_a")
        .join(broadcast(ser.toDF("type_b", "yb", "n_b")),
          col("type_a") < col("type_b"))
      pairs
        // pm[i][j] = Σ_{t≤j} |xa[i] − yb[t]|: the per-row cost prefix
        // sums the fold below indexes instead of re-summing slices
        .withColumn("pm", expr(
          """transform(xa, x -> transform(sequence(1, CAST(n_b AS INT)), j ->
               aggregate(slice(yb, 1, j), CAST(0 AS BIGINT), (acc, y) -> acc + abs(x - y))))"""))
        .withColumn("dlast", expr(
          """CASE WHEN n_a < 2 THEN element_at(pm, 1) ELSE
             aggregate(sequence(2, CAST(n_a AS INT)), element_at(pm, 1),
               (prev, i) -> transform(sequence(1, CAST(n_b AS INT)), j ->
                 element_at(element_at(pm, i), j)
                 + array_min(transform(sequence(1, j), k ->
                     (CASE WHEN k = 1 THEN element_at(prev, 1)
                           ELSE least(element_at(prev, k), element_at(prev, k - 1)) END)
                     - (CASE WHEN k = 1 THEN CAST(0 AS BIGINT)
                             ELSE element_at(element_at(pm, i), k - 1) END)))))
             END"""))
        .selectExpr("type_a", "type_b", "n_a", "n_b",
          "element_at(dlast, CAST(n_b AS INT)) AS dtw",
          "round(CAST(element_at(dlast, CAST(n_b AS INT)) AS DOUBLE) / (n_a + n_b), 6) AS dtw_norm")
        .orderBy(col("type_a"), col("type_b"))
    }, Some(
      // Same prefix-min unroll, row-at-a-time over a LIST-typed DP row:
      // the recursive CTE carries one row per (pair, i) with the full
      // D(i, ·) as a BIGINT list, so the recursion is row-count deep
      // and every cell is the identical integer min-plus expression.
      """WITH RECURSIVE dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         ser AS (
           SELECT event_type, list(c ORDER BY day) AS s,
                  CAST(count(*) AS BIGINT) AS n
           FROM dc GROUP BY 1),
         pr AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  a.s AS xa, b.s AS yb, a.n AS na, b.n AS nb
           FROM ser a JOIN ser b ON a.event_type < b.event_type),
         r AS (
           SELECT type_a, type_b, na, nb, xa, yb, CAST(1 AS BIGINT) AS i,
                  list_transform(range(1, CAST(nb AS INTEGER) + 1), j ->
                    CAST(list_sum(list_transform(yb[1:j], y -> abs(xa[1] - y))) AS BIGINT)) AS d
           FROM pr
           UNION ALL
           SELECT type_a, type_b, na, nb, xa, yb, i + 1,
                  list_transform(range(1, CAST(nb AS INTEGER) + 1), j ->
                    CAST(list_sum(list_transform(yb[1:j],
                           y -> abs(xa[CAST(i AS INTEGER) + 1] - y))) AS BIGINT)
                    + list_min(list_transform(range(1, j + 1), k ->
                        (CASE WHEN k = 1 THEN d[1]
                              ELSE least(d[k], d[k - 1]) END)
                        - (CASE WHEN k = 1 THEN CAST(0 AS BIGINT)
                                ELSE CAST(list_sum(list_transform(yb[1:CAST(k AS INTEGER) - 1],
                                       y -> abs(xa[CAST(i AS INTEGER) + 1] - y))) AS BIGINT) END))))
           FROM r WHERE i < na)
         SELECT type_a, type_b, na AS n_a, nb AS n_b,
                d[CAST(nb AS INTEGER)] AS dtw,
                round(CAST(d[CAST(nb AS INTEGER)] AS DOUBLE) / (na + nb), 6) AS dtw_norm
         FROM r WHERE i = na ORDER BY type_a, type_b""")),

    // Page–Hinkley drift alarm per event type over the daily count
    // series — the ONLINE change detector (running-mean deviations,
    // not a fixed reference) that complements CUSUM's median-anchored
    // form: m_t = Σ_{i≤t}(c_i − mean(c_1..c_i) − δ), PH_t = m_t −
    // min_{s≤t} m_s, alarm when max_t PH_t > λ. Declared rules,
    // decided before the oracle: δ = 0.5 (half a daily count — the
    // magnitude tolerance), the min runs over s ≥ 1 (m_0 = 0 is NOT a
    // candidate), and the running mean is the plain prefix mean.
    // Same scale shape as q_x_cusum: one corpus pass to day grain,
    // then a per-type sequential fold over ≤ calendar-length state
    // (exact integer prefix sums; the only doubles are the identical
    // division/accumulate expression order in both engines).
    Query("q_x_page_hinkley", (s, d) => {
      import s.implicits._
      val dc = graft.operators.DayGrain.counts(s, d)
      val rows = dc.select(col("event_type"), col("day").cast("string"), col("c"))
        .as[(String, String, Long)]
      rows.groupByKey(_._1).mapGroups { (typ, it) =>
        // THE fold is graft.operators.Drift.phStep — shared with the
        // streaming monitor (pageHinkleySink), so stream == batch is
        // by construction, not by parallel reimplementation.
        val st = it.toArray.sortBy(_._2)
          .foldLeft(graft.operators.Drift.phInit)((s0, r) =>
            graft.operators.Drift.phStep(s0, r._3))
        (typ, st.n, st.phMax, st.m)
      }.toDF("event_type", "n_days", "ph_max", "m_final")
        .select(col("event_type"), col("n_days"),
          round(col("ph_max"), 6).as("ph_max"),
          round(col("m_final"), 6).as("m_final"))
        .orderBy(col("event_type"))
    }, Some(
      // Same fold, same declared rules (δ = 0.5; min over s ≥ 1; prefix
      // mean), same expression order — the doubles are bit-identical.
      """WITH RECURSIVE dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, c,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
               FROM dc),
         r AS (
           SELECT event_type, rn, n_days, c AS s,
                  c - CAST(c AS DOUBLE) / 1 - 0.5 AS m,
                  c - CAST(c AS DOUBLE) / 1 - 0.5 AS mn,
                  CAST(0 AS DOUBLE) AS phmax
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.rn, o.n_days, r.s + o.c,
                  r.m + (o.c - CAST(r.s + o.c AS DOUBLE) / o.rn - 0.5),
                  least(r.mn,
                    r.m + (o.c - CAST(r.s + o.c AS DOUBLE) / o.rn - 0.5)),
                  greatest(r.phmax,
                    r.m + (o.c - CAST(r.s + o.c AS DOUBLE) / o.rn - 0.5)
                    - least(r.mn,
                        r.m + (o.c - CAST(r.s + o.c AS DOUBLE) / o.rn - 0.5)))
           FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
         SELECT event_type, n_days,
                round(phmax, 6) AS ph_max, round(m, 6) AS m_final
         FROM r WHERE rn = n_days ORDER BY event_type""")),

    // Holt–Winters ADDITIVE seasonal smoothing of the per-type daily
    // count series — the seasonal extension of q_x_holt (level+trend)
    // that a weekly-periodic feed needs. Declared before the oracle:
    // α=0.3, β=0.1, γ=0.2, period 7; the seasonal slot is CALENDAR-
    // keyed — slot(day) = epoch_day mod 7 (not observation index, r13
    // advice: a missing day no longer phase-shifts the whole tail;
    // epoch-day mod avoids the Spark-1-based / DuckDB-0-based
    // dayofweek convention trap, and fixture days are post-1970 so
    // the mod is nonnegative). Init over the first 7 observations:
    // l = mean(c_1..c_7), b = 0, sv[slot] = c_i − l (later
    // observation of a repeated slot overwrites, unseen slots stay
    // 0); types with < 8 days are dropped; fc_next indexes
    // sv[slot(last_day + 1)]. Day-grain sequential fold per type
    // (state = level+trend+7 seasonals); the recursive-CTE oracle
    // carries the seasonal vector as 7 columns and repeats the level
    // expression textually — identical arithmetic order, so the
    // rounded doubles are bit-identical.
    Query("q_x_holt_winters", (s, d) => {
      import s.implicits._
      val dc = graft.operators.DayGrain.counts(s, d)
      val rows = dc.select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("ed"),
        col("c"))
        .as[(String, Long, Long)]
      rows.groupByKey(_._1).flatMapGroups { (typ, it) =>
        val arr = it.toArray.sortBy(_._2)
        if (arr.length < 8) Iterator.empty
        else {
          var l = arr.take(7).map(_._3).sum.toDouble / 7
          var b = 0.0
          val sv = Array.fill(7)(0.0)
          var i = 0
          while (i < 7) { sv((arr(i)._2 % 7).toInt) = arr(i)._3 - l; i += 1 }
          while (i < arr.length) {
            val idx = (arr(i)._2 % 7).toInt
            val c = arr(i)._3
            val l2 = 0.3 * (c - sv(idx)) + 0.7 * (l + b)
            b = 0.1 * (l2 - l) + 0.9 * b
            sv(idx) = 0.2 * (c - l2) + 0.8 * sv(idx)
            l = l2
            i += 1
          }
          Iterator.single((typ, arr.length.toLong, l, b,
            l + b + sv(((arr.last._2 + 1) % 7).toInt)))
        }
      }.toDF("event_type", "n_days", "level", "trend", "fc_next")
        .select(col("event_type"), col("n_days"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("fc_next"), 6).as("fc_next"))
        .orderBy(col("event_type"))
    }, Some(
      // Declared α/β/γ = 0.3/0.1/0.2, period 7; the seasonal slot is
      // epoch_day % 7 (calendar-keyed, r13 advice) — arg_max(c, rn)
      // FILTER reproduces the fold's last-observation-wins init and
      // coalesce(…, 0) its unseen-slot zero; the seasonal vector rides
      // as 7 columns and the level expression repeats textually so
      // every double matches the Spark fold's arithmetic order exactly.
      """WITH RECURSIVE dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, c,
                 CAST(CAST(day - DATE '1970-01-01' AS BIGINT) % 7 AS INTEGER) AS slot,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
               FROM dc),
         init AS (
           SELECT event_type, max(n_days) AS n_days,
                  CAST(sum(c) AS DOUBLE) / 7 AS l,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 0) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s0,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 1) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s1,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 2) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s2,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 3) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s3,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 4) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s4,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 5) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s5,
                  coalesce(CAST(arg_max(c, rn) FILTER (WHERE slot = 6) AS DOUBLE) - CAST(sum(c) AS DOUBLE) / 7, 0) AS s6
           FROM o WHERE rn <= 7 GROUP BY event_type HAVING max(n_days) >= 8),
         ld AS (SELECT event_type,
                  CAST((CAST(max(day) - DATE '1970-01-01' AS BIGINT) + 1) % 7 AS INTEGER) AS slot_next
                FROM dc GROUP BY 1),
         r AS (
           SELECT event_type, n_days, CAST(7 AS BIGINT) AS rn,
                  l, CAST(0 AS DOUBLE) AS b, s0, s1, s2, s3, s4, s5, s6
           FROM init
           UNION ALL
           SELECT o.event_type, r.n_days, o.rn,
                  0.3 * (o.c - (CASE o.slot WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END)) + 0.7 * (r.l + r.b),
                  0.1 * ((0.3 * (o.c - (CASE o.slot WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END)) + 0.7 * (r.l + r.b)) - r.l) + 0.9 * r.b,
                  CASE WHEN o.slot = 0 THEN 0.2 * (o.c - (0.3 * (o.c - r.s0) + 0.7 * (r.l + r.b))) + 0.8 * r.s0 ELSE r.s0 END,
                  CASE WHEN o.slot = 1 THEN 0.2 * (o.c - (0.3 * (o.c - r.s1) + 0.7 * (r.l + r.b))) + 0.8 * r.s1 ELSE r.s1 END,
                  CASE WHEN o.slot = 2 THEN 0.2 * (o.c - (0.3 * (o.c - r.s2) + 0.7 * (r.l + r.b))) + 0.8 * r.s2 ELSE r.s2 END,
                  CASE WHEN o.slot = 3 THEN 0.2 * (o.c - (0.3 * (o.c - r.s3) + 0.7 * (r.l + r.b))) + 0.8 * r.s3 ELSE r.s3 END,
                  CASE WHEN o.slot = 4 THEN 0.2 * (o.c - (0.3 * (o.c - r.s4) + 0.7 * (r.l + r.b))) + 0.8 * r.s4 ELSE r.s4 END,
                  CASE WHEN o.slot = 5 THEN 0.2 * (o.c - (0.3 * (o.c - r.s5) + 0.7 * (r.l + r.b))) + 0.8 * r.s5 ELSE r.s5 END,
                  CASE WHEN o.slot = 6 THEN 0.2 * (o.c - (0.3 * (o.c - r.s6) + 0.7 * (r.l + r.b))) + 0.8 * r.s6 ELSE r.s6 END
           FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
         SELECT r.event_type, r.n_days, round(r.l, 6) AS level, round(r.b, 6) AS trend,
                round(r.l + r.b + (CASE ld.slot_next WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END), 6) AS fc_next
         FROM r JOIN ld ON ld.event_type = r.event_type
         WHERE r.rn = r.n_days ORDER BY r.event_type""")),

    // Jonckheere–Terpstra ordered-trend test: do the per-type daily
    // counts trend UP across ordered calendar weeks? Unlike
    // Mann–Kendall (pairwise over days), JT tests a monotone shift
    // across ORDERED GROUPS — the k-sample trend member the
    // mann_whitney/kruskal family lacks. j2 = 2·J (ties at ½) stays an
    // exact BIGINT from the week-pair day-grain grid (days × days per
    // type — calendar-bounded at any corpus size); the normal
    // approximation uses the DECLARED no-ties variance formula, one
    // division at the end.
    Query("q_x_jonckheere", (s, d) => {
      val dc = graft.operators.DayGrain.counts(s, d)
      val w = dc.select(col("event_type"),
        floor(datediff(col("day"), lit("1970-01-01").cast("date")) / lit(7.0))
          .cast("long").as("wk"),
        col("c"))
      val p = w.select(col("event_type"), col("wk").as("wk_a"), col("c").as("c_a"))
        .join(w.select(col("event_type"), col("wk").as("wk_b"), col("c").as("c_b")),
          Seq("event_type"))
        .filter(col("wk_a") < col("wk_b"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("c_a") < col("c_b"), 2)
          .when(col("c_a") === col("c_b"), 1).otherwise(0)).cast("long").as("j2"))
      val g = w.groupBy(col("event_type"), col("wk"))
        .agg(count(lit(1)).as("nn"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_weeks"), sum(col("nn")).as("n_days"),
          sum(col("nn") * col("nn")).as("sn2"),
          sum(col("nn") * col("nn") * (col("nn") * 2 + 3)).as("sn23"))
      p.join(g, "event_type")
        .selectExpr("event_type", "n_weeks", "n_days", "j2",
          """round((j2 - CAST(n_days * n_days - sn2 AS DOUBLE) / 2)
               / (2 * sqrt((CAST(n_days AS DOUBLE) * n_days * (2 * n_days + 3) - sn23) / 72)), 6) AS z""")
        .orderBy(col("event_type"))
    }, Some(
      // floor(days/7.0): DuckDB '/' is float division, so the explicit
      // floor is what makes the week bucket integral in BOTH engines.
      """WITH dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, c,
                 CAST(floor(CAST(day - DATE '1970-01-01' AS DOUBLE) / 7) AS BIGINT) AS wk
               FROM dc),
         p AS (SELECT a.event_type,
                 CAST(sum(CASE WHEN a.c < b.c THEN 2 WHEN a.c = b.c THEN 1 ELSE 0 END) AS BIGINT) AS j2
               FROM w a JOIN w b ON a.event_type = b.event_type AND a.wk < b.wk
               GROUP BY 1),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_weeks,
                 CAST(sum(nn) AS BIGINT) AS n_days,
                 CAST(sum(nn * nn) AS BIGINT) AS sn2,
                 CAST(sum(nn * nn * (2 * nn + 3)) AS BIGINT) AS sn23
               FROM (SELECT event_type, wk, CAST(count(*) AS BIGINT) AS nn
                     FROM w GROUP BY 1, 2) GROUP BY 1)
         SELECT p.event_type, g.n_weeks, g.n_days, p.j2,
                round((p.j2 - CAST(n_days * n_days - sn2 AS DOUBLE) / 2)
                      / (2 * sqrt((CAST(n_days AS DOUBLE) * n_days * (2 * n_days + 3) - sn23) / 72)), 6) AS z
         FROM p JOIN g ON g.event_type = p.event_type
         ORDER BY p.event_type""")),

    // Pettitt rank-based change-point test per event type — the
    // nonparametric counterpart of q_x_changepoint's mean-CUSUM
    // location (robust to outliers, exact integer statistic).
    // U_t = Σ_{i≤t}Σ_{j>t} sgn(c_i − c_j) collapses via antisymmetry
    // to the running sum of V_i = Σ_j sgn(c_i − c_j), so the pair
    // grid is read ONCE for the V aggregate and everything after is a
    // day-grain window. K = max_t |U_t| over cuts t < n (argmax tie →
    // earliest day, declared); p ≈ 2·exp(−6K²/(n³+n²)), the standard
    // approximation, uncapped as declared.
    Query("q_x_pettitt", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dc = graft.operators.DayGrain.counts(s, d)
      val o = dc.select(col("event_type"), col("day"), col("c"),
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("day"))).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy(col("event_type")))
          .as("n_days"))
      val v = o.select(col("event_type"), col("rn"), col("day"), col("n_days"), col("c"))
        .join(o.select(col("event_type"), col("rn").as("rn_b"), col("c").as("c_b")),
          Seq("event_type"))
        .filter(col("rn") =!= col("rn_b"))
        .groupBy(col("event_type"), col("rn"), col("day"), col("n_days"))
        .agg(sum(when(col("c") > col("c_b"), 1)
          .when(col("c") < col("c_b"), -1).otherwise(0)).cast("long").as("vv"))
      val u = v.withColumn("ut",
        sum(col("vv")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("rn"))).cast("long"))
      u.filter(col("rn") < col("n_days"))
        .withColumn("au", abs(col("ut")))
        .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("au").desc, col("day"))))
        .filter(col("rk") === 1)
        .selectExpr("event_type", "n_days", "au AS k_stat",
          "CAST(day AS STRING) AS cp_day",
          """round(2 * exp(-6.0 * au * au / (CAST(n_days AS DOUBLE) * n_days * n_days
               + CAST(n_days AS DOUBLE) * n_days)), 6) AS p_approx""")
        .orderBy(col("event_type"))
    }, Some(
      """WITH dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, day, c,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
               FROM dc),
         v AS (SELECT a.event_type, a.rn, a.day, a.n_days,
                 CAST(sum(CASE WHEN a.c > b.c THEN 1 WHEN a.c < b.c THEN -1 ELSE 0 END) AS BIGINT) AS vv
               FROM o a JOIN o b ON a.event_type = b.event_type AND a.rn <> b.rn
               GROUP BY 1, 2, 3, 4),
         u AS (SELECT event_type, rn, day, n_days,
                 CAST(sum(vv) OVER (PARTITION BY event_type ORDER BY rn) AS BIGINT) AS ut
               FROM v),
         k AS (SELECT event_type, rn, day, n_days, abs(ut) AS au,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY abs(ut) DESC, day) AS rk
               FROM u WHERE rn < n_days)
         SELECT event_type, n_days, au AS k_stat, CAST(day AS VARCHAR) AS cp_day,
                round(2 * exp(-6.0 * au * au / (CAST(n_days AS DOUBLE) * n_days * n_days
                  + CAST(n_days AS DOUBLE) * n_days)), 6) AS p_approx
         FROM k WHERE rk = 1 ORDER BY event_type""")),

    // Theil–Sen robust trend per event type: the median of all
    // pairwise CALENDAR-day slopes (x = days since the type's first
    // day + 1, so the denominator is datediff — per-day slope even
    // across calendar gaps, r13 advice; on a dense calendar x equals
    // the old row number, so dense outputs are unchanged). Slopes are
    // exact small rationals in double — identical in both engines —
    // then the median intercept at that slope. Robust to the outlier
    // days that bend q_x_linreg's OLS line; pair grid is day × day
    // per type, calendar-bounded at any corpus size. Both medians are
    // the engines' shared exact-median convention (q_x_cusum
    // precedent).
    Query("q_x_theil_sen", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dc = graft.operators.DayGrain.counts(s, d)
      val tw = Window.partitionBy(col("event_type"))
      val o = dc.select(col("event_type"), col("c"),
        (datediff(col("day"), min(col("day")).over(tw)) + 1)
          .cast("long").as("x"),
        count(lit(1)).over(tw).as("n_days"))
      val sl = o.select(col("event_type"), col("x"), col("c"), col("n_days"))
        .join(o.select(col("event_type"), col("x").as("x_b"), col("c").as("c_b")),
          Seq("event_type"))
        .filter(col("x") < col("x_b"))
        .groupBy(col("event_type"))
        .agg(max(col("n_days")).as("n_days"),
          count(lit(1)).as("n_pairs"),
          expr("median(CAST(c_b - c AS DOUBLE) / (x_b - x))").as("slope"))
      val ic = o.join(broadcast(sl.select(col("event_type"), col("slope"))),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(expr("median(c - slope * x)").as("icept"))
      sl.join(ic, "event_type")
        .select(col("event_type"), col("n_days"), col("n_pairs"),
          round(col("slope"), 6).as("slope"),
          round(col("icept"), 6).as("intercept"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, c,
                 CAST(day - min(day) OVER (PARTITION BY event_type) AS BIGINT) + 1 AS x,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
               FROM dc),
         sl AS (SELECT a.event_type, max(a.n_days) AS n_days,
                  CAST(count(*) AS BIGINT) AS n_pairs,
                  median(CAST(b.c - a.c AS DOUBLE) / (b.x - a.x)) AS slope
                FROM o a JOIN o b ON a.event_type = b.event_type AND a.x < b.x
                GROUP BY 1),
         ic AS (SELECT o.event_type, median(o.c - sl.slope * o.x) AS icept
                FROM o JOIN sl ON sl.event_type = o.event_type GROUP BY 1)
         SELECT sl.event_type, sl.n_days, sl.n_pairs,
                round(sl.slope, 6) AS slope, round(ic.icept, 6) AS intercept
         FROM sl JOIN ic ON ic.event_type = sl.event_type
         ORDER BY sl.event_type""")),

    // Mood's median test across sources on document lengths — the
    // k-sample location test at the opposite robustness extreme from
    // q_x_anova (only counts above/below the POOLED median enter, so
    // arbitrary outliers move nothing). Grand median via the engines'
    // shared exact-median convention; per-source above-counts are
    // exact integers; expected counts and the χ² fold in one
    // sorted-single-partition pass (the q_x_kruskal k-row pattern) so
    // the double sum is ordered identically in both engines.
    Query("q_x_mood_median", (s, d) => {
      val docs = table(s, d, "documents").select(col("source"), col("n_chars"))
      val m2 = docs.agg(expr("median(n_chars)").as("gm"))
      val sdf = docs.crossJoin(broadcast(m2))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") > col("gm"), 1).otherwise(0))
            .cast("long").as("a"))
      val t = sdf.agg(sum(col("n")).as("nt"), sum(col("a")).as("at2"),
        count(lit(1)).as("k"))
      val c = sdf.crossJoin(broadcast(t))
        .withColumn("ea", col("n").cast("double") * col("at2") / col("nt"))
      // ea = 0 (no document above the pooled median anywhere) forces
      // a = 0 too, so the 0/0 cell's correct χ² contribution is its
      // limit 0 — the CASE guard (identical in the oracle) encodes
      // that instead of letting Spark NaN / DuckDB NULL diverge.
      val x = c.coalesce(1).sortWithinPartitions(col("source"))
        .agg(sum(expr(
          """CASE WHEN ea > 0 THEN pow(a - ea, 2) / ea ELSE 0 END
             + CASE WHEN n - ea > 0 THEN pow((n - a) - (n - ea), 2) / (n - ea) ELSE 0 END"""))
          .as("chi2"))
      c.crossJoin(broadcast(x))
        .select(col("source"), col("n"), col("a").as("n_above"),
          round(col("ea"), 6).as("e_above"),
          round(col("chi2"), 6).as("chi2"),
          (col("k") - 1).as("df"))
        .orderBy(col("source"))
    }, Some(
      """WITH m2 AS (SELECT median(n_chars) AS gm FROM documents),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN n_chars > (SELECT gm FROM m2)
                   THEN 1 ELSE 0 END) AS BIGINT) AS a
               FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(a) AS BIGINT) AS at2,
                 CAST(count(*) AS BIGINT) AS k FROM s),
         c AS (SELECT s.source, s.n, s.a,
                 CAST(s.n AS DOUBLE) * t.at2 / t.nt AS ea, t.k
               FROM s, t),
         x AS (SELECT CAST(sum(CASE WHEN ea > 0 THEN pow(a - ea, 2) / ea ELSE 0 END
                 + CASE WHEN n - ea > 0 THEN pow((n - a) - (n - ea), 2) / (n - ea) ELSE 0 END) AS DOUBLE) AS chi2
               FROM (SELECT * FROM c ORDER BY source))
         SELECT c.source, c.n, c.a AS n_above, round(c.ea, 6) AS e_above,
                round(x.chi2, 6) AS chi2, c.k - 1 AS df
         FROM c, x ORDER BY c.source""")),

    // Page's L trend test: are daily counts monotonically ordered
    // WITHIN the week (treatments = day position 1..7, blocks = full
    // calendar weeks)? The blocked cousin of q_x_jonckheere — JT
    // pools across weeks, Page ranks within each week so week-level
    // shifts cancel. Partial weeks are dropped (declared); midrank
    // ties keep 2L an exact BIGINT (rank() = low rank, the running
    // RANGE count = high rank, low+high = 2·midrank); the z uses the
    // DECLARED no-ties variance b·k²(k+1)(k²−1)/144 at k = 7.
    Query("q_x_page_trend", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dc = graft.operators.DayGrain.counts(s, d)
      val w = dc.withColumn("wk",
        floor(datediff(col("day"), lit("1970-01-01").cast("date")) / lit(7.0))
          .cast("long"))
      val full7 = w.groupBy(col("event_type"), col("wk"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") === 7)
        .select(col("event_type"), col("wk"))
      val wkWin = Window.partitionBy(col("event_type"), col("wk"))
      val wf = w.join(full7, Seq("event_type", "wk"))
        .withColumn("pos",
          row_number().over(wkWin.orderBy(col("day"))).cast("long"))
        .withColumn("rlo", rank().over(wkWin.orderBy(col("c"))).cast("long"))
        .withColumn("rhi",
          count(lit(1)).over(wkWin.orderBy(col("c"))).cast("long"))
      wf.groupBy(col("event_type"))
        .agg(countDistinct(col("wk")).as("b"),
          sum(col("pos") * (col("rlo") + col("rhi"))).cast("long").as("l2"))
        .selectExpr("event_type", "b", "l2",
          """round((CAST(l2 AS DOUBLE) / 2 - b * 7 * 64.0 / 4)
               / sqrt(b * 49.0 * 8 * 48 / 144), 6) AS z""")
        .orderBy(col("event_type"))
    }, Some(
      """WITH dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, c,
                 CAST(floor(CAST(day - DATE '1970-01-01' AS DOUBLE) / 7) AS BIGINT) AS wk
               FROM dc),
         full7 AS (SELECT event_type, wk FROM w GROUP BY 1, 2 HAVING count(*) = 7),
         wf AS (SELECT w.event_type, w.wk, w.c,
                  CAST(row_number() OVER (PARTITION BY w.event_type, w.wk
                    ORDER BY w.day) AS BIGINT) AS pos,
                  CAST(rank() OVER (PARTITION BY w.event_type, w.wk
                    ORDER BY w.c) AS BIGINT) AS rlo,
                  CAST(count(*) OVER (PARTITION BY w.event_type, w.wk
                    ORDER BY w.c) AS BIGINT) AS rhi
                FROM w JOIN full7 f ON f.event_type = w.event_type AND f.wk = w.wk),
         l AS (SELECT event_type, CAST(count(DISTINCT wk) AS BIGINT) AS b,
                 CAST(sum(pos * (rlo + rhi)) AS BIGINT) AS l2
               FROM wf GROUP BY 1)
         SELECT event_type, b, l2,
                round((CAST(l2 AS DOUBLE) / 2 - b * 7 * 64.0 / 4)
                      / sqrt(b * 49.0 * 8 * 48 / 144), 6) AS z
         FROM l ORDER BY event_type""")),

    // Hurst exponent via rescaled range at DECLARED window sizes
    // {7, 14}: long-range dependence of the daily count series — the
    // burstiness/memory diagnostic (H ≈ 0.5 random walk, > 0.5
    // persistent, < 0.5 mean-reverting) complementing q_x_burstiness'
    // dispersion view. Block stats are EXACT-integer-derived (R from
    // integer prefix sums minus t·(Σc/w); S² = (Σc² − (Σc)²/w)/w — no
    // order-sensitive double accumulation inside a block); tail days
    // beyond the last full block are dropped and zero-variance blocks
    // excluded (both declared); the cross-block R/S mean folds in the
    // sorted-single-partition k-row pattern.
    Query("q_x_hurst", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val dc = graft.operators.DayGrain.counts(s, d)
      val o = dc.select(col("event_type"), col("c"),
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("day"))).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy(col("event_type")))
          .as("n_days"))
      val b0 = o.crossJoin(broadcast(Seq(7L, 14L).toDF("w")))
        .filter(col("rn") <=
          floor(col("n_days") / col("w").cast("double")).cast("long") * col("w"))
        .withColumn("blk",
          floor((col("rn") - 1) / col("w").cast("double")).cast("long"))
      val bw = Window.partitionBy(col("event_type"), col("w"), col("blk"))
      val b = b0
        .withColumn("pfx", sum(col("c")).over(bw.orderBy(col("rn"))).cast("long"))
        .withColumn("t", col("rn") - col("blk") * col("w"))
        .withColumn("sc", sum(col("c")).over(bw).cast("long"))
        .withColumn("sq", sum(col("c") * col("c")).over(bw).cast("long"))
      val dev = col("pfx") - col("t") * (col("sc").cast("double") / col("w"))
      val g = b.groupBy(col("event_type"), col("n_days"), col("w"),
          col("blk"), col("sc"), col("sq"))
        .agg((max(dev) - min(dev)).as("r"))
        .withColumn("s",
          sqrt((col("sq") - col("sc").cast("double") * col("sc") / col("w")) / col("w")))
      val rs = g.filter(col("s") > 0)
        .coalesce(1).sortWithinPartitions(col("event_type"), col("w"), col("blk"))
        .groupBy(col("event_type"), col("n_days"), col("w"))
        .agg(count(lit(1)).as("nb"), sum(col("r") / col("s")).as("mrs"))
      // LEFT join: a type with 7 ≤ n_days < 14 (or all-zero-variance
      // w=14 blocks) surfaces with null rs14/hurst instead of being
      // silently dropped (r13 advice — no undeclared row-drop rule).
      rs.filter(col("w") === 7)
        .select(col("event_type"), col("n_days"), (col("mrs") / col("nb")).as("rs7"))
        .join(rs.filter(col("w") === 14)
          .select(col("event_type"), (col("mrs") / col("nb")).as("rs14")),
          Seq("event_type"), "left")
        .selectExpr("event_type", "n_days",
          "round(rs7, 6) AS rs7", "round(rs14, 6) AS rs14",
          "round((ln(rs14) - ln(rs7)) / (ln(14) - ln(7)), 6) AS hurst")
        .orderBy(col("event_type"))
    }, Some(
      // Explicit floor() on every block-index division — DuckDB '/' is
      // float division (the q_x_jonckheere lesson). Block R and S are
      // exact-integer-derived, so no within-block double accumulation
      // order exists to disagree on.
      """WITH dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, c,
                 CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
               FROM dc),
         ws AS (SELECT CAST(7 AS BIGINT) AS w UNION ALL SELECT CAST(14 AS BIGINT)),
         b0 AS (SELECT o.event_type, o.n_days, ws.w, o.c, o.rn,
                  CAST(floor((o.rn - 1) / CAST(ws.w AS DOUBLE)) AS BIGINT) AS blk
                FROM o JOIN ws
                  ON o.rn <= CAST(floor(o.n_days / CAST(ws.w AS DOUBLE)) AS BIGINT) * ws.w),
         b AS (SELECT *,
                 CAST(sum(c) OVER (PARTITION BY event_type, w, blk ORDER BY rn) AS BIGINT) AS pfx,
                 rn - blk * w AS t,
                 CAST(sum(c) OVER (PARTITION BY event_type, w, blk) AS BIGINT) AS sc,
                 CAST(sum(c * c) OVER (PARTITION BY event_type, w, blk) AS BIGINT) AS sq
               FROM b0),
         g AS (SELECT event_type, n_days, w, blk,
                 max(pfx - t * (CAST(sc AS DOUBLE) / w))
                   - min(pfx - t * (CAST(sc AS DOUBLE) / w)) AS r,
                 sqrt((sq - CAST(sc AS DOUBLE) * sc / w) / w) AS s
               FROM b GROUP BY event_type, n_days, w, blk, sc, sq),
         rs AS (SELECT event_type, n_days, w,
                  CAST(count(*) AS BIGINT) AS nb, sum(r / s) AS mrs
                FROM (SELECT * FROM g WHERE s > 0 ORDER BY event_type, w, blk)
                GROUP BY 1, 2, 3),
         piv AS (SELECT a.event_type, a.n_days,
                   a.mrs / a.nb AS rs7, b.mrs / b.nb AS rs14
                 FROM (SELECT * FROM rs WHERE w = 7) a
                 LEFT JOIN (SELECT * FROM rs WHERE w = 14) b
                   ON a.event_type = b.event_type)
         SELECT event_type, n_days, round(rs7, 6) AS rs7, round(rs14, 6) AS rs14,
                round((ln(rs14) - ln(rs7)) / (ln(14) - ln(7)), 6) AS hurst
         FROM piv ORDER BY event_type"""))
  )
}

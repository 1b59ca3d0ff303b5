package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table

/** Aggregation queries (SURVEY.md §2.4).
  *
  * Money-valued sums are computed as per-row DECIMAL(18,2) casts then
  * exact decimal sums in BOTH engines — associative and therefore
  * immune to partition order at any scale (SURVEY.md §7.4). Spark's
  * partial+final HashAggregate gives map-side combine for free.
  * Final outputs are cast DECIMAL→DOUBLE: decimal→double is correctly
  * rounded in both engines, and a double column has ONE canonical
  * textual form in every reader (a DECIMAL's trailing zeros — "123.40"
  * vs 123.4 — hash-mismatch under the driver's comparator).
  */
object Aggregates {
  val queries: Seq[Query] = Seq(
    // TPC-H Q1 shape.
    Query("q_agg_basic", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(money(col("l_quantity"))).cast(dec2).cast("double").as("sum_qty"),
          sum(money(col("l_extendedprice"))).cast(dec2).cast("double").as("sum_base"),
          // 2dp×2dp product has exactly 4 decimal digits, so a 4dp cast
          // never hits a rounding half-way — a 2dp cast does (engines
          // disagree on half-even vs half-up for double→decimal).
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
            .cast(DecimalType(18, 4)).cast("double").as("sum_disc"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")), Some(
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc,
                round(avg(l_quantity), 6) AS avg_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),

    Query("q_agg_having", (s, d) =>
      table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(dec2).cast("double").as("total"))
        .filter(col("n") > 12)
        .orderBy(col("o_custkey")), Some(
      """SELECT o_custkey, count(*) AS n,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) > 12
         ORDER BY o_custkey""")),

    // Generalization of the reference's SELECT DISTINCT merge step
    // (weather-etl.py:155-158).
    Query("q_agg_distinct", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"))
        .orderBy(col("l_returnflag")), Some(
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS nd_part,
                count(DISTINCT l_suppkey) AS nd_supp
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Equi-width histogram — the profiling aggregation of a data-quality
    // pass; bucket arithmetic, one shuffle of (bucket, partials).
    Query("q_agg_hist", (s, d) =>
      table(s, d, "orders")
        .withColumn("bucket", floor(col("o_totalprice") / 50000.0).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy(col("bucket")), Some(
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
                count(*) AS n,
                round(min(o_totalprice), 2) AS lo,
                round(max(o_totalprice), 2) AS hi
         FROM orders GROUP BY 1 ORDER BY bucket""")),

    // Approximate distinct (HLL) — the 100 TB-scale form of the above.
    // No oracle: approximate by design; spec asserts rsd bound vs exact.
    Query("q_agg_approx", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
        .orderBy(col("l_returnflag")), None),

    // Approximate percentile (mergeable quantile sketch) — the
    // 100 TB form of q_agg_stats' exact percentile. No oracle
    // (approx by design); spec bounds error vs exact.
    Query("q_agg_approx_pct", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("p95"))
        .orderBy(col("l_returnflag")), None),

    Query("q_agg_stats", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_q"),
          round(var_samp(col("l_quantity")), 6).as("var_q"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("med_q"))
        .orderBy(col("l_returnflag")), Some(
      """SELECT l_returnflag,
                round(stddev_samp(l_quantity), 6) AS sd_q,
                round(var_samp(l_quantity), 6) AS var_q,
                round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
                round(quantile_cont(l_quantity, 0.5), 6) AS med_q
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Group-wise OLS via the SQL regression aggregates (one pass of
    // mergeable moments — sums of x, y, x², xy — so partial
    // aggregation combines map-side and the shuffle carries one
    // 5-number summary per group regardless of corpus size; the
    // scalable form of per-segment trend fitting, vs collecting rows
    // to fit driver-side).
    Query("q_agg_regr", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
        .orderBy(col("l_returnflag")), Some(
      """SELECT l_returnflag,
                count(*) AS n,
                round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
                round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
                round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Deterministic per-group MODE via count + argmax window (NOT the
    // built-in mode(), whose tie choice is engine-defined): most
    // frequent quantity per return flag, smallest value on ties.
    Query("q_agg_mode", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("c").desc, col("l_quantity"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("c").as("n_occurrences"))
        .orderBy(col("l_returnflag"))
    }, Some(
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS c
               FROM lineitem GROUP BY 1, 2),
         r AS (SELECT l_returnflag, l_quantity, c,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY c DESC, l_quantity) AS rk
               FROM c)
         SELECT l_returnflag, l_quantity AS mode_qty, c AS n_occurrences
         FROM r WHERE rk = 1 ORDER BY l_returnflag""")),

    // Geometric mean (exp∘avg∘ln — the multiplicative average for
    // ratio-scale data; no built-in on either engine) per return flag.
    Query("q_agg_geomean", (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_extendedprice") > 0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(exp(avg(log(col("l_extendedprice")))), 6).as("geomean"))
        .orderBy(col("l_returnflag")), Some(
      """SELECT l_returnflag, count(*) AS n,
                round(exp(avg(ln(l_extendedprice))), 6) AS geomean
         FROM lineitem WHERE l_extendedprice > 0
         GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Bitwise aggregates (bit_or/bit_and/bit_xor): per event_type, the
    // 16-bit presence mask of user buckets — the compact "which shards
    // touched this" rollup; masks OR together across slices, so
    // partials re-aggregate like any sketch column.
    Query("q_agg_bits", (s, d) =>
      table(s, d, "events")
        .select(col("event_type"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 16 AS INT))").as("m"))
        .groupBy(col("event_type"))
        .agg(expr("bit_or(m)").as("seen_mask"),
          expr("bit_and(m)").as("common_mask"),
          bit_count(expr("bit_or(m)")).as("n_buckets"))
        .orderBy(col("event_type")), Some(
      """WITH m AS (SELECT event_type,
                  (CAST(1 AS BIGINT) << CAST(user_id % 16 AS INTEGER)) AS m
                FROM events)
         SELECT event_type, bit_or(m) AS seen_mask, bit_and(m) AS common_mask,
                CAST(bit_count(bit_or(m)) AS INTEGER) AS n_buckets
         FROM m GROUP BY event_type ORDER BY event_type""")),

    Query("q_agg_rollup", (s, d) =>
      table(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(money(col("l_quantity"))).cast(dec2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first), Some(
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    Query("q_agg_cube", (s, d) =>
      table(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(money(col("l_quantity"))).cast(dec2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first), Some(
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    Query("q_agg_gsets", (s, d) => {
      table(s, d, "lineitem").createOrReplaceTempView("lineitem_gsets")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(grouping(l_returnflag) AS INT) AS g_rf,
                  CAST(grouping(l_linestatus) AS INT) AS g_ls,
                  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                  count(*) AS n
           FROM lineitem_gsets
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
           ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
                CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // array_agg/string_agg analog; sorted inside the group for
    // deterministic output (SURVEY.md §7.4).
    Query("q_agg_collect", (s, d) =>
      table(s, d, "customer")
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          array_join(array_sort(collect_list(col("c_name"))), ",").as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("n_name")), Some(
      """SELECT n_name,
                string_agg(c_name, ',' ORDER BY c_name) AS names,
                count(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")),

    Query("q_agg_cond", (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("l_returnflag") === "A", money(col("l_extendedprice")))
            .otherwise(lit(0).cast(dec2))).cast(dec2).cast("double").as("sum_a"),
          count(when(col("l_quantity") > 40, 1)).as("n_heavy"))
        .orderBy(col("l_linestatus")), Some(
      """SELECT l_linestatus,
                CAST(CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS DOUBLE) AS sum_a,
                count(*) FILTER (WHERE l_quantity > 40) AS n_heavy
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // Ordered-sequence funnel over events (view → click → purchase):
    // stage k counts users whose earliest stage-k event strictly
    // follows their stage-(k−1) entry time — the event-analytics
    // staple (windowed-funnel / MATCH_RECOGNIZE territory) built from
    // plain aggs. Scale: the first groupBy shuffles on user_id; every
    // later join + groupBy reuses that partitioning (join key =
    // grouping key), so the funnel depth adds NO extra shuffles of
    // the events table — and each stage's input shrinks to the
    // previous stage's survivors.
    Query("q_funnel", (s, d) => {
      val ev = table(s, d, "events")
      def stage(prev: DataFrame, prevT: String, typ: String, t: String) =
        ev.join(prev, "user_id")
          .filter(col("event_type") === typ && col("ts") > col(prevT))
          .groupBy(col("user_id")).agg(min(col("ts")).as(t))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = stage(s1, "t1", "click", "t2")
      val s3 = stage(s2, "t2", "purchase", "t3")
      s1.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
        .unionByName(s2.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
        .unionByName(s3.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
        .select(col("stage"), col("n_users"))
        .orderBy(col("stage"))
    }, Some(
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
         SELECT stage, n_users FROM (
           SELECT '1_view' AS stage, count(*) AS n_users FROM s1
           UNION ALL SELECT '2_click', count(*) FROM s2
           UNION ALL SELECT '3_purchase', count(*) FROM s3)
         ORDER BY stage""")),

    // Weekly cohort retention: users grouped by first-activity week,
    // tracked for presence in each later week — the second
    // event-analytics staple. Two shuffles total (user grain, then
    // cohort×offset grain); the distinct-per-week pass rides the
    // user_id partitioning of the cohort join.
    Query("q_retention", (s, d) => {
      val ev = table(s, d, "events")
      val weekOf = (t: org.apache.spark.sql.Column) =>
        floor(unix_timestamp(t) / lit(604800L)).cast("long")
      val cohort = ev.groupBy(col("user_id"))
        .agg(weekOf(min(col("ts"))).as("cohort_week"))
      val active = ev.select(col("user_id"), weekOf(col("ts")).as("week")).distinct()
      active.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }, Some(
      """WITH c AS (SELECT user_id,
                  (epoch_us(min(ts)) // 1000000) // 604800 AS cohort_week
                FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id,
                  (epoch_us(ts) // 1000000) // 604800 AS week
               FROM events)
         SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
                CAST(a.week - c.cohort_week AS BIGINT) AS week_offset,
                count(*) AS n_active
         FROM a JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week_offset""")),

    // Per-key z-score outlier detection: events whose value sits
    // ≥ 2 sample standard deviations from the user's mean. The
    // per-user stats frame is tiny (one row per user) — broadcast
    // back onto the stream, so the events table is never shuffled.
    // z rounds to 6dp BEFORE the threshold test so both engines
    // compare the same canonical number (SURVEY §7.4 float rule).
    // Mergeable-sketch rollup — the 100 TB pre-aggregation pattern:
    // hourly HLL partials are tiny and persistable; daily (or weekly,
    // monthly) distinct-user counts come from lossless sketch UNION
    // without ever re-scanning raw events. Union-of-partials equals
    // the single-pass sketch exactly at the same lgK (spec-asserted),
    // so rollup grain costs nothing in accuracy. No oracle by design
    // (DuckDB's approx_count_distinct is a different sketch);
    // ApproxSpec bounds the error vs exact distincts.
    Query("q_agg_sketch", (s, d) => {
      val ev = table(s, d, "events")
      val hourly = ev
        .groupBy(date_trunc("DAY", col("ts")).as("day"),
          hour(col("ts")).as("hr"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      hourly.groupBy(col("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
        .orderBy(col("day"))
    }, None),

    Query("q_anomaly", (s, d) => {
      val ev = table(s, d, "events")
      val stats = ev.groupBy(col("user_id"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
      ev.join(broadcast(stats), Seq("user_id"))
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
        .filter(abs(col("z")) >= 2.0)
        .select(col("event_id"), col("user_id"), col("value"), col("z"))
        .orderBy(col("event_id"))
    }, Some(
      """WITH s AS (SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sigma
                    FROM events GROUP BY 1)
         SELECT event_id, e.user_id, value,
                round((value - mu) / sigma, 6) AS z
         FROM events e JOIN s ON e.user_id = s.user_id
         WHERE abs(round((value - mu) / sigma, 6)) >= 2.0
         ORDER BY event_id"""))
  )
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table

/** Window-function queries (SURVEY.md §2.5).
  *
  * Every window orders by a unique key suffix (ts, event_id) /
  * (value, key) so frame contents — and therefore results — are
  * deterministic across engines and partitionings. Running decimal
  * sums use per-row DECIMAL casts for cross-engine exactness.
  */
object Windows {
  val queries: Seq[Query] = Seq(
    // row_number per key — the engine's upsert primitive
    // (last-writer-wins realization of ON CONFLICT DO UPDATE,
    // weather-etl.py:159-162).
    Query("q_win_rownum", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      table(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .orderBy(col("user_id"))
    }, Some(
      """SELECT user_id, event_id, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id""")),

    Query("q_win_rank", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(floor(col("o_totalprice") / 50000))
      val wu = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, d, "orders")
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).cast("int").as("rnk"),
          dense_rank().over(w).cast("int").as("drnk"),
          round(percent_rank().over(w), 6).as("pr"),
          ntile(4).over(wu).cast("int").as("q4"))
        .orderBy(col("o_orderkey"))
    }, Some(
      """SELECT o_orderkey, o_orderpriority,
                CAST(rank() OVER w AS INTEGER) AS rnk,
                CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                round(percent_rank() OVER w, 6) AS pr,
                CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS q4
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY floor(o_totalprice / 50000))
         ORDER BY o_orderkey""")),

    Query("q_win_lag", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, d, "events")
        .select(
          col("event_id"), col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .orderBy(col("event_id"))
    }, Some(
      """SELECT event_id, user_id, value,
                lag(value) OVER w AS prev_value,
                value - lag(value) OVER w AS delta
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""")),

    Query("q_win_running", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "events")
        .select(
          col("event_id"), col("user_id"),
          sum(col("value").cast(DecimalType(18, 6))).over(w)
            .cast(DecimalType(18, 6)).cast("double").as("running"))
        .orderBy(col("event_id"))
    }, Some(
      """SELECT event_id, user_id,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,6)) AS DOUBLE) AS running
         FROM events ORDER BY event_id""")),

    Query("q_win_moving", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      table(s, d, "events")
        .select(
          col("event_id"), col("user_id"),
          round(avg(col("value")).over(w), 6).as("mavg"))
        .orderBy(col("event_id"))
    }, Some(
      """SELECT event_id, user_id,
                round(avg(value) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg
         FROM events ORDER BY event_id""")),

    // Value-range frame: contents depend only on values, not row order.
    Query("q_win_range", (s, d) =>
      table(s, d, "orders")
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          expr("count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)").as("n_in_range"))
        .orderBy(col("o_orderkey")), Some(
      """SELECT o_orderkey, o_orderpriority,
                count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                               RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS n_in_range
         FROM orders ORDER BY o_orderkey""")),

    // cume_dist / nth_value — the remaining analytic functions.
    // Equal-depth bucketing (ntile) + percent_rank: quantile bucket
    // assignment per partition — the windowed form of histogram
    // equi-depth binning. Deterministic: the order key
    // (o_totalprice, o_orderkey) is total within each partition.
    Query("q_win_ntile", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"))
        .orderBy(col("o_orderkey"))
    }, Some(
      """SELECT o_orderkey, o_orderpriority,
                ntile(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS quartile,
                round(percent_rank() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey), 6) AS pr
         FROM orders ORDER BY o_orderkey""")),

    Query("q_win_cume", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(floor(col("o_totalprice") / 50000))
      val wf = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, d, "orders")
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          round(cume_dist().over(w), 6).as("cd"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_key"))
        .orderBy(col("o_orderkey"))
    }, Some(
      """SELECT o_orderkey, o_orderpriority,
                round(cume_dist() OVER (PARTITION BY o_orderpriority
                                        ORDER BY floor(o_totalprice / 50000)), 6) AS cd,
                nth_value(o_orderkey, 2) OVER (
                  PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
         FROM orders ORDER BY o_orderkey""")),

    // Time-range frame: events per user in the trailing 10 minutes.
    Query("q_win_trange", (s, d) =>
      table(s, d, "events")
        .select(
          col("event_id"), col("user_id"),
          expr("count(*) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)").as("n_10m"))
        .orderBy(col("event_id")), Some(
      """SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id ORDER BY ts
                               RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW) AS n_10m
         FROM events ORDER BY event_id""")),

    // Fill-forward (last non-null) — the gap-fill of a keyed time
    // series; nulls injected deterministically since the fixture has
    // none. event_id is unique → the window order is total.
    Query("q_win_fill", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "events")
        .withColumn("masked",
          when(col("event_id") % 5 < 2, lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("masked"),
          last(col("masked"), ignoreNulls = true).over(w).as("filled"))
        .orderBy(col("event_id"))
    }, Some(
      """WITH m AS (
           SELECT event_id, user_id, ts,
                  CASE WHEN event_id % 5 < 2 THEN NULL ELSE value END AS masked
           FROM events)
         SELECT event_id, user_id, masked,
                last_value(masked IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM m ORDER BY event_id""")),

    // Window EXCLUDE CURRENT ROW equivalent (PG/DuckDB frame EXCLUDE):
    // mean of the ±3-row peer values around each event, current row
    // excluded. Spark lacks frame EXCLUDE — compose it exactly as
    // (frame_sum − current) / (frame_count − 1) on DECIMAL sums (both
    // engines then divide the identical exact numerator).
    Query("q_win_exclude", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 3)
      val dec = col("value").cast(DecimalType(18, 6))
      val sumAll = sum(dec).over(w)
      val cntAll = count(lit(1)).over(w)
      table(s, d, "events")
        .select(col("event_id"), col("user_id"),
          when(cntAll > 1,
            round((sumAll - dec).cast("double") / (cntAll - 1), 6)).as("peer_avg"))
        .orderBy(col("event_id"))
    }, Some(
      """SELECT event_id, user_id,
                CASE WHEN count(*) OVER we > 0 THEN
                  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER we AS DOUBLE)
                        / (count(*) OVER we), 6) END AS peer_avg
         FROM events
         WINDOW we AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW)
         ORDER BY event_id""")),

    Query("q_win_firstlast", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, d, "events")
        .select(
          col("event_id"), col("user_id"),
          first(col("value")).over(w).as("first_v"),
          last(col("value")).over(w).as("last_v"))
        .orderBy(col("event_id"))
    }, Some(
      """SELECT event_id, user_id,
                first_value(value) OVER w AS first_v,
                last_value(value) OVER w AS last_v
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY event_id""")),

    // Gaps-and-islands sequence analytics: longest strictly-increasing
    // value run per user. Same two-stacked-windows shape as
    // q_sessionize (boundary flag + running run-id over ONE shared
    // sort), then two aggs that both ride the user_id partitioning —
    // the relational form of MATCH_RECOGNIZE's A B+ pattern.
    Query("q_win_streak", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val prev = lag(col("value"), 1).over(w)
      table(s, d, "events")
        .withColumn("brk",
          when(prev.isNull || col("value") <= prev, lit(1L)).otherwise(lit(0L)))
        .withColumn("run_id", sum(col("brk")).over(run))
        .groupBy(col("user_id"), col("run_id"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_runs"))
        .orderBy(col("user_id"))
    }, Some(
      """WITH b AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(value) OVER w IS NULL OR value <= lag(value) OVER w
                       THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (
           SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
           FROM b),
         l AS (SELECT user_id, run_id, count(*) AS len FROM r GROUP BY 1, 2)
         SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak, count(*) AS n_runs
         FROM l GROUP BY 1 ORDER BY user_id""")),

    // Gap-based batch sessionization: a new session starts when a
    // user is idle > 24 h (fixture cadence: ~10% of gaps — ~10-event
    // sessions). Both windows share one (user_id, ts, event_id)
    // sort, so boundary flag + running counter cost a single
    // Exchange+Sort, and the (user_id, session_seq) agg reuses the
    // user_id hash partitioning. Gaps compare exact integer µs on
    // both engines — no float or sub-second truncation drift.
    Query("q_sessionize", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
      table(s, d, "events")
        .withColumn("nb",
          when(gapUs.isNull || gapUs > lit(86400000000L), lit(1L)).otherwise(lit(0L)))
        .withColumn("session_seq", sum(col("nb")).over(run))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    }, Some(
      """WITH b AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 86400000000
                       THEN 1 ELSE 0 END AS nb
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, sum(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM b)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq"""))
  )
}

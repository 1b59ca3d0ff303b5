package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table

/** Batch-expressible forms of the streaming operators (SURVEY.md §2.7).
  *
  * The reference IS a 5-minute micro-batch pipeline
  * (weather-etl.py:46,54,58); these queries verify the window/session/
  * dedup semantics against the DuckDB oracle in batch mode, while
  * [[graft.streaming.StreamingJobs]] runs the identical transforms as
  * Structured Streaming (batch-equivalence is asserted in the specs).
  */
object StreamingBatch {
  private val dec6 = DecimalType(18, 6)

  val queries: Seq[Query] = Seq(
    // Tumbling 5-min window per event_type — the reference's run
    // granularity (weather-etl.py:46) as a native windowed aggregate.
    Query("q_s_tumble", (s, d) =>
      table(s, d, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec6)).cast(dec6).cast("double").as("sum_v"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_v"))
        .orderBy(col("ws"), col("event_type")), Some(
      """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS ws,
                event_type, count(*) AS n,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1, 2 ORDER BY ws, event_type""")),

    // Sliding 30-min window, 5-min slide.
    Query("q_s_slide", (s, d) =>
      table(s, d, "events")
        .groupBy(window(col("ts"), "30 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec6)).cast(dec6).cast("double").as("sum_v"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_v"))
        .orderBy(col("ws"), col("event_type")), Some(
      """SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000 - k * 300000000) AS ws,
                event_type, count(*) AS n,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_v
         FROM events, range(0, 6) r(k)
         GROUP BY 1, 2 ORDER BY ws, event_type""")),

    // Session window per user, 10-min gap. Spark session semantics:
    // sessions merge while next.ts < prev.ts + gap; end = last + gap.
    Query("q_s_session", (s, d) =>
      table(s, d, "events")
        .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec6)).cast(dec6).cast("double").as("sum_v"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n"), col("sum_v"))
        .orderBy(col("user_id"), col("session_start")), Some(
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
           FROM events),
         sess AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 10 MINUTE AS session_end,
                count(*) AS n,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_v
         FROM sess GROUP BY user_id, sid
         ORDER BY user_id, session_start""")),

    // Streaming dedup on the PK (U1 streaming form): replayed batch
    // (events ∪ events) collapses back to one row per event_id.
    Query("q_s_dedup", (s, d) => {
      val ev = table(s, d, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
      ev.unionByName(ev)
        .dropDuplicates("event_id")
        .orderBy(col("event_id"))
    }, Some(
      """SELECT DISTINCT event_id, user_id, ts, value
         FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
         ORDER BY event_id"""))
  )
}

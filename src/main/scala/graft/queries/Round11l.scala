package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-11 wave 12 (SURVEY.md §2.8e): production-monitoring
  * completions — the Matthews correlation of the language-ID gate per
  * source (the single-number confusion summary robust to imbalance),
  * Bollinger control bands over the daily event series (rolling
  * mean ± 2σ breach detection), and the process-capability indices
  * Cp/Cpk of the event value stream against literal spec limits.
  * Mirrors the reference's ad-hoc monitoring SQL
  * (reference README.md:62-78).
  *
  * Determinism (§7.4): confusion cells and rolling moments are exact
  * BIGINTs (values at cent grain); every double output evaluates
  * IDENTICAL expression text in both engines (the q_x_linreg
  * pattern); the breach flag compares the same two shared-text
  * doubles, so both engines decide identically.
  */
object Round11l {
  // MCC from exact cells — shared text; NULL when a margin is empty.
  // The guard tests each margin separately (a BIGINT product of four
  // margins would wrap at ~1e12 rows — the grubbs overflow lesson).
  private val mccTxt =
    """(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0 THEN
          (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
          sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn))
        END)"""

  // rolling mean/sd from exact window moments — shared text
  private val meanTxt = "(CAST(sx AS DOUBLE) / n)"
  private val sdTxt =
    s"""sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1))"""

  val queries: Seq[Query] = Seq(

    // Matthews correlation of the language-ID gate per source — the
    // balanced single-number summary of the same confusion matrix
    // q_x_fairness rates slice-wise. Cells are one exact aggregate.
    Query("q_x_mcc", (s, d) =>
      table(s, d, "documents")
        .select(col("source"), (col("lang") === "en").as("y"),
          Round11c.predEn.as("yhat"))
        .groupBy(col("source"))
        .agg(sum(when(col("y") && col("yhat"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("y") && col("yhat"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") && !col("yhat"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("y") && !col("yhat"), 1L).otherwise(0L)).as("tn"))
        .selectExpr("source", "tp", "fp", "fn", "tn",
          s"round($mccTxt, 6) AS mcc")
        .orderBy(col("source")), Some(
      s"""WITH scored AS (${Round11c.langIdCte}),
         cells AS (SELECT source,
                 CAST(sum(CASE WHEN y AND yhat THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN (NOT y) AND yhat THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN y AND NOT yhat THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                 CAST(sum(CASE WHEN (NOT y) AND NOT yhat THEN 1 ELSE 0 END) AS BIGINT) AS tn
               FROM scored GROUP BY source)
         SELECT source, tp, fp, fn, tn, round($mccTxt, 6) AS mcc
         FROM cells ORDER BY source""")),

    // Bollinger control bands over the daily count series per event
    // type: 7-day rolling mean ± 2σ from exact integer window
    // moments; a day breaches when its count leaves the band computed
    // over the PRECEDING 7 days (so the tested day never feeds its
    // own band). Partitioned day-grain windows only.
    Query("q_x_bollinger", (s, d) => {
      val daily = graft.operators.DayGrain.counts(s, d)
        .withColumnRenamed("c", "cnt")
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("cnt")).over(w))
        .withColumn("sxx", sum(col("cnt") * col("cnt")).over(w))
        .filter(col("n") === 7)
        .selectExpr("event_type", "day", "cnt",
          s"round($meanTxt, 6) AS band_mid",
          s"round($meanTxt - 2.0 * $sdTxt, 6) AS band_lo",
          s"round($meanTxt + 2.0 * $sdTxt, 6) AS band_hi",
          s"""(CAST(cnt AS DOUBLE) < $meanTxt - 2.0 * $sdTxt
               OR CAST(cnt AS DOUBLE) > $meanTxt + 2.0 * $sdTxt) AS breach""")
        .orderBy(col("event_type"), col("day"))
    }, Some(
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY event_type, CAST(ts AS DATE)),
         roll AS (SELECT event_type, day, cnt,
                 CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(sum(cnt) OVER w AS BIGINT) AS sx,
                 CAST(sum(cnt * cnt) OVER w AS BIGINT) AS sxx
               FROM daily
               WINDOW w AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, cnt,
                round($meanTxt, 6) AS band_mid,
                round($meanTxt - 2.0 * $sdTxt, 6) AS band_lo,
                round($meanTxt + 2.0 * $sdTxt, 6) AS band_hi,
                (CAST(cnt AS DOUBLE) < $meanTxt - 2.0 * $sdTxt
                 OR CAST(cnt AS DOUBLE) > $meanTxt + 2.0 * $sdTxt) AS breach
         FROM roll WHERE n = 7 ORDER BY event_type, day""")),

    // Process-capability Cp / Cpk of the event value stream per type
    // against literal spec limits [0, 500] — the SPC report line.
    // Moments ride exact cent-grain BIGINTs; indices are one shared
    // expression (cent limits 0 / 50000 inside, /100 display outside).
    Query("q_x_cpk", (s, d) =>
      table(s, d, "events")
        .select(col("event_type"), round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
          sum(col("v") * col("v")).as("sxx"))
        .selectExpr("event_type", "n",
          s"round($meanTxt / 100.0, 6) AS mean_value",
          s"round($sdTxt / 100.0, 6) AS sd_value",
          s"round(50000.0 / (6.0 * $sdTxt), 6) AS cp",
          s"""round(least(50000.0 - $meanTxt, $meanTxt - 0.0)
               / (3.0 * $sdTxt), 6) AS cpk""")
        .orderBy(col("event_type")), Some(
      s"""WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sx,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)
                          * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxx
               FROM events GROUP BY event_type)
         SELECT event_type, n,
                round($meanTxt / 100.0, 6) AS mean_value,
                round($sdTxt / 100.0, 6) AS sd_value,
                round(50000.0 / (6.0 * $sdTxt), 6) AS cp,
                round(least(50000.0 - $meanTxt, $meanTxt - 0.0)
                      / (3.0 * $sdTxt), 6) AS cpk
         FROM m ORDER BY event_type"""))
  )
}

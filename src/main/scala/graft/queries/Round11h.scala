package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-11 wave 8 (SURVEY.md §2.8e): the exact robust-summary
  * completions — per-source quantile bands, Tukey-fence outlier
  * counts, and the 10% trimmed mean — all from ONE value-grain
  * histogram per source with integer-rank threshold selection (the
  * q_x_rfm spine idea, here on source-PARTITIONED windows, so no
  * coalesce(1) is ever needed). Mirrors the reference's ad-hoc
  * robust-statistics SQL (reference README.md:62-78).
  *
  * Determinism (§7.4): every threshold is `min v with 100·cum ≥ p·n`
  * — pure integer comparisons; the Tukey fences compare 2·v against
  * 2·q ± 3·iqr (integers — no fractional 1.5×IQR boundary); the
  * trimmed mean's clipped masses are exact BIGINTs with ONE final
  * division.
  */
object Round11h {
  /** Per-source value-grain histogram with cumulative counts and the
    * source total: (source, v, cnt, cum, n).
    */
  private def cumHist(s: SparkSession, d: String): DataFrame = {
    val h = table(s, d, "documents")
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
  }

  /** Exact lower-quantile thresholds per source for the given integer
    * percents: (source, p, t) with t = min v such that 100·cum ≥ p·n.
    */
  private def thresholds(s: SparkSession, d: String, ps: Seq[Int]): DataFrame = {
    val pcols = ps.map(p => lit(p))
    cumHist(s, d)
      .crossJoin(broadcast(s.range(0, ps.length.toLong)
        .select(element_at(array(pcols: _*), col("id").cast("int") + 1).as("p"))))
      .filter(col("cum") * 100 >= col("p") * col("n"))
      .groupBy(col("source"), col("p")).agg(min(col("v")).as("t"))
  }

  private val cumSql =
    """h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
             FROM documents GROUP BY source, n_chars),
       ch AS (SELECT source, v, cnt,
                     CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                     CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
              FROM h)"""

  private def thrSql(ps: String): String =
    s"""thr AS (SELECT source, p, min(v) AS t
              FROM ch CROSS JOIN (SELECT unnest($ps) AS p)
              WHERE cum * 100 >= p * n
              GROUP BY source, p)"""

  val queries: Seq[Query] = Seq(

    // Exact quantile bands per source: p10/p25/p50/p75/p90 as integer
    // thresholds (min v with 100·cum ≥ p·n) — the profile row a data
    // contract asserts. One histogram, one partitioned window, a
    // 5-row threshold spine.
    Query("q_x_quantiles", (s, d) =>
      thresholds(s, d, Seq(10, 25, 50, 75, 90))
        .groupBy(col("source"))
        .agg(max(when(col("p") === 10, col("t"))).as("p10"),
          max(when(col("p") === 25, col("t"))).as("p25"),
          max(when(col("p") === 50, col("t"))).as("p50"),
          max(when(col("p") === 75, col("t"))).as("p75"),
          max(when(col("p") === 90, col("t"))).as("p90"))
        .orderBy(col("source")), Some(
      s"""WITH $cumSql, ${thrSql("[10, 25, 50, 75, 90]")}
         SELECT source,
                max(CASE WHEN p = 10 THEN t END) AS p10,
                max(CASE WHEN p = 25 THEN t END) AS p25,
                max(CASE WHEN p = 50 THEN t END) AS p50,
                max(CASE WHEN p = 75 THEN t END) AS p75,
                max(CASE WHEN p = 90 THEN t END) AS p90
         FROM thr GROUP BY source ORDER BY source""")),

    // Tukey-fence outliers per source: v outside [q1 − 1.5·IQR,
    // q3 + 1.5·IQR], decided as 2·v vs 2·q ± 3·IQR so the fractional
    // fence never meets a float. Outlier mass comes from the same
    // histogram — no second corpus pass.
    Query("q_x_iqr_outliers", (s, d) => {
      val q = thresholds(s, d, Seq(25, 75))
        .groupBy(col("source"))
        .agg(max(when(col("p") === 25, col("t"))).as("q1"),
          max(when(col("p") === 75, col("t"))).as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
      cumHist(s, d).join(q, "source")
        .groupBy(col("source"), col("q1"), col("q3"), col("iqr"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(col("v") * 2 < col("q1") * 2 - col("iqr") * 3 ||
            col("v") * 2 > col("q3") * 2 + col("iqr") * 3,
            col("cnt")).otherwise(0L)).as("n_outliers"))
        .withColumn("outlier_pct",
          round(col("n_outliers") * lit(100.0) / col("n"), 6))
        .select(col("source"), col("q1"), col("q3"), col("iqr"),
          col("n_outliers"), col("outlier_pct"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH $cumSql, ${thrSql("[25, 75]")},
         q AS (SELECT source,
                      max(CASE WHEN p = 25 THEN t END) AS q1,
                      max(CASE WHEN p = 75 THEN t END) AS q3,
                      max(CASE WHEN p = 75 THEN t END)
                        - max(CASE WHEN p = 25 THEN t END) AS iqr
               FROM thr GROUP BY source)
         SELECT ch.source, q.q1, q.q3, q.iqr,
                CAST(sum(CASE WHEN ch.v * 2 < q.q1 * 2 - q.iqr * 3
                            OR ch.v * 2 > q.q3 * 2 + q.iqr * 3
                          THEN ch.cnt ELSE 0 END) AS BIGINT) AS n_outliers,
                round(sum(CASE WHEN ch.v * 2 < q.q1 * 2 - q.iqr * 3
                            OR ch.v * 2 > q.q3 * 2 + q.iqr * 3
                          THEN ch.cnt ELSE 0 END) * 100.0 / sum(ch.cnt), 6)
                  AS outlier_pct
         FROM ch JOIN q ON ch.source = q.source
         GROUP BY ch.source, q.q1, q.q3, q.iqr ORDER BY ch.source""")),

    // 10% trimmed mean per source, EXACTLY: k = n div 10 rows clipped
    // from each tail at the histogram grain — the boundary value
    // contributes only its surviving mass (min(cnt, k − rows-below)
    // clipped at 0). All masses are BIGINTs; one division at the end.
    Query("q_x_trimmed_mean", (s, d) =>
      cumHist(s, d)
        .withColumn("k", expr("n div 10"))
        .withColumn("lowcut",
          greatest(lit(0L), least(col("cnt"), col("k") - (col("cum") - col("cnt")))))
        .withColumn("highcut",
          greatest(lit(0L), least(col("cnt"), col("k") - (col("n") - col("cum")))))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"), max(col("k")).as("k_trim"),
          sum(col("v") * (col("cnt") - col("lowcut") - col("highcut"))).as("kept_sum"),
          sum(col("cnt") - col("lowcut") - col("highcut")).as("kept_n"))
        .select(col("source"), col("n"), col("k_trim"),
          round(col("kept_sum").cast("double") / col("kept_n"), 6)
            .as("trimmed_mean"))
        .orderBy(col("source")), Some(
      s"""WITH $cumSql,
         t AS (SELECT source, v, cnt, n, n // 10 AS k,
                      greatest(0, least(cnt, n // 10 - (cum - cnt))) AS lowcut,
                      greatest(0, least(cnt, n // 10 - (n - cum))) AS highcut
               FROM ch)
         SELECT source, max(n) AS n, max(k) AS k_trim,
                round(CAST(sum(v * (cnt - lowcut - highcut)) AS DOUBLE)
                      / sum(cnt - lowcut - highcut), 6) AS trimmed_mean
         FROM t GROUP BY source ORDER BY source"""))
  )
}

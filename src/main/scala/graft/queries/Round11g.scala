package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table

/** Round-11 wave 7 (SURVEY.md §2.8e): the distribution-distance
  * completions over every source pair's length distribution — energy
  * distance (exact DECIMAL CDF sums), the two-sample Cramér–von Mises
  * statistic (deterministic ascending-v window fold), and Kuiper's V
  * (exact integer CDF extremes, the cyclic-robust KS). All three ride
  * the q_x_wasserstein machinery: value-grain histograms, broadcast
  * pair spine, cumulative counts on (sa, sb)-partitioned windows —
  * never a corpus-grain pair join.
  *
  * Determinism (§7.4): energy's three sums are order-free
  * DECIMAL(38,0); Kuiper's extremes are integer maxima; CvM's
  * magnitude-heavy double sum folds in ASCENDING-v order on a
  * (sa, sb)-partitioned window in BOTH engines (a deterministic fold,
  * not a partition-order one); each statistic divides once at the
  * end and rounds 6dp.
  */
object Round11g {
  /** Per-pair CDF grid over the pooled value spine:
    * (sa, sb, na, nb, v, wa, wb, cuma, cumb), plus dv = next v − v
    * (null on the last grid row).
    */
  private[queries] def pairGrid(s: SparkSession, d: String): DataFrame = {
    val h = table(s, d, "documents")
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val tot = h.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val prs = broadcast(tot.select(col("source").as("sa"), col("n").as("na")))
      .crossJoin(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))))
      .filter(col("sa") < col("sb"))
    val spine = h.select(col("v")).distinct()
    val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
    prs.join(spine)
      .join(h.select(col("source").as("sa"), col("v"), col("cnt").as("wa")),
        Seq("sa", "v"), "left")
      .join(h.select(col("source").as("sb"), col("v"), col("cnt").as("wb")),
        Seq("sb", "v"), "left")
      .na.fill(0L, Seq("wa", "wb"))
      .withColumn("cuma",
        sum(col("wa")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cumb",
        sum(col("wb")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dv", lead(col("v"), 1).over(w) - col("v"))
  }

  private[queries] val gridSql =
    """h AS (SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
             FROM documents GROUP BY source, n_chars),
       tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY source),
       prs AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
               FROM tot a, tot b WHERE a.source < b.source),
       spine AS (SELECT DISTINCT v FROM h),
       grid AS (SELECT p.sa, p.sb, p.na, p.nb, s.v,
                       coalesce(ha.cnt, 0) AS wa, coalesce(hb.cnt, 0) AS wb
                FROM prs p CROSS JOIN spine s
                LEFT JOIN h ha ON ha.source = p.sa AND ha.v = s.v
                LEFT JOIN h hb ON hb.source = p.sb AND hb.v = s.v),
       cum AS (SELECT sa, sb, na, nb, v, wa, wb,
                      CAST(sum(wa) OVER pw AS BIGINT) AS cuma,
                      CAST(sum(wb) OVER pw AS BIGINT) AS cumb,
                      lead(v) OVER pw - v AS dv
               FROM grid
               WINDOW pw AS (PARTITION BY sa, sb ORDER BY v
                             ROWS UNBOUNDED PRECEDING))"""

  val queries: Seq[Query] = Seq(

    // Energy distance D²(a,b) = 2E|X−Y| − E|X−X'| − E|Y−Y'| between
    // every source pair — each expectation is an EXACT integer CDF
    // sum (E|X−Y| = Σ [Fa(1−Fb) + Fb(1−Fa)]·Δv cross-multiplied in
    // DECIMAL(38,0)); three divisions in one final shared expression.
    Query("q_x_energy_dist", (s, d) =>
      pairGrid(s, d)
        .filter(col("dv").isNotNull)
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(
          sum((col("cuma").cast(DecimalType(19, 0)) * (col("nb") - col("cumb")) +
            col("cumb").cast(DecimalType(19, 0)) * (col("na") - col("cuma"))) *
            col("dv")).as("sab"),
          sum(col("cuma").cast(DecimalType(19, 0)) * (col("na") - col("cuma")) *
            col("dv")).as("saa"),
          sum(col("cumb").cast(DecimalType(19, 0)) * (col("nb") - col("cumb")) *
            col("dv")).as("sbb"))
        .selectExpr("sa", "sb",
          """round(2.0 * CAST(sab AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
               - 2.0 * CAST(saa AS DOUBLE) / (CAST(na AS DOUBLE) * na)
               - 2.0 * CAST(sbb AS DOUBLE) / (CAST(nb AS DOUBLE) * nb), 6)
             AS energy_d2""")
        .orderBy(col("sa"), col("sb")), Some(
      s"""WITH $gridSql
         SELECT sa, sb,
                round(2.0 * CAST(sum((CAST(cuma AS DECIMAL(19,0)) * (nb - cumb)
                          + CAST(cumb AS DECIMAL(19,0)) * (na - cuma)) * dv) AS DOUBLE)
                        / (CAST(na AS DOUBLE) * nb)
                    - 2.0 * CAST(sum(CAST(cuma AS DECIMAL(19,0)) * (na - cuma) * dv)
                          AS DOUBLE) / (CAST(na AS DOUBLE) * na)
                    - 2.0 * CAST(sum(CAST(cumb AS DECIMAL(19,0)) * (nb - cumb) * dv)
                          AS DOUBLE) / (CAST(nb AS DOUBLE) * nb), 6) AS energy_d2
         FROM cum WHERE dv IS NOT NULL
         GROUP BY sa, sb, na, nb ORDER BY sa, sb""")),

    // Two-sample Cramér–von Mises: T = na·nb/(na+nb)² ·
    // Σ_pooled (Fa − Fb)² — the CDF difference is exact
    // (cuma·nb − cumb·na, DECIMAL) per grid point; the pooled-mass
    // weighted square sum folds in ascending-v order on the pair
    // window (identical fold sequence in both engines), divided once.
    Query("q_x_cvm", (s, d) => {
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
      val g = pairGrid(s, d)
        .withColumn("d2",
          (col("wa") + col("wb")).cast("double") *
            pow((col("cuma").cast(DecimalType(19, 0)) * col("nb") -
              col("cumb").cast(DecimalType(19, 0)) * col("na")).cast("double"), 2))
        .withColumn("cumd2", sum(col("d2")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(w.orderBy(col("v").desc)))
        .filter(col("rn") === 1)
      g.selectExpr("sa", "sb",
        """round(CAST(na AS DOUBLE) * nb / ((na + nb) * (na + nb))
             * cumd2 / (CAST(na AS DOUBLE) * na * nb * nb), 6)
           AS cvm_t""")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH $gridSql,
         f AS (SELECT sa, sb, na, nb, v,
                      sum(CAST(wa + wb AS DOUBLE) *
                          pow(CAST(CAST(cuma AS DECIMAL(19,0)) * nb
                               - CAST(cumb AS DECIMAL(19,0)) * na AS DOUBLE), 2))
                        OVER (PARTITION BY sa, sb ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cumd2,
                      row_number() OVER (PARTITION BY sa, sb ORDER BY v DESC) AS rn
               FROM cum)
         SELECT sa, sb,
                round(CAST(na AS DOUBLE) * nb / ((na + nb) * (na + nb))
                    * cumd2 / (CAST(na AS DOUBLE) * na * nb * nb), 6)
                  AS cvm_t
         FROM f WHERE rn = 1 ORDER BY sa, sb""")),

    // Kuiper's V = D⁺ + D⁻ (max CDF excess each direction) — the
    // tail-sensitive, cyclic-robust KS variant. Both extremes are
    // EXACT integer maxima of cuma·nb − cumb·na; one division at the
    // end. Same grid, no fold-order exposure at all.
    Query("q_x_kuiper", (s, d) =>
      pairGrid(s, d)
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(
          max(col("cuma").cast(DecimalType(19, 0)) * col("nb") -
            col("cumb").cast(DecimalType(19, 0)) * col("na")).as("dpos"),
          max(col("cumb").cast(DecimalType(19, 0)) * col("na") -
            col("cuma").cast(DecimalType(19, 0)) * col("nb")).as("dneg"))
        .selectExpr("sa", "sb",
          """round((CAST(greatest(dpos, 0) AS DOUBLE)
               + CAST(greatest(dneg, 0) AS DOUBLE))
               / (CAST(na AS DOUBLE) * nb), 6) AS kuiper_v""")
        .orderBy(col("sa"), col("sb")), Some(
      s"""WITH $gridSql
         SELECT sa, sb,
                round((CAST(greatest(max(CAST(cuma AS DECIMAL(19,0)) * nb
                          - CAST(cumb AS DECIMAL(19,0)) * na), 0) AS DOUBLE)
                     + CAST(greatest(max(CAST(cumb AS DECIMAL(19,0)) * na
                          - CAST(cuma AS DECIMAL(19,0)) * nb), 0) AS DOUBLE))
                    / (CAST(na AS DOUBLE) * nb), 6) AS kuiper_v
         FROM cum GROUP BY sa, sb, na, nb ORDER BY sa, sb"""))
  )
}

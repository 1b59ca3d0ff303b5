package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-11 wave 11 (SURVEY.md §2.8e): kernel and divergence
  * distances between source pairs at BUCKET grain (n_chars div 20 —
  * ~25 buckets, so every pair statistic is a few-hundred-row join,
  * never corpus-grain): the RBF maximum mean discrepancy (the
  * kernel-two-sample drift test), Bhattacharyya/Hellinger overlap,
  * and the Laplace-smoothed Rényi-2 divergence. Complements the CDF
  * family (wasserstein/energy/cvm/kuiper) with the kernel/overlap
  * view of the same drift question.
  *
  * Determinism (§7.4): every sum here is a POSITIVE-term double sum
  * of O(1)-normalized values (condition number 1 — reordering error
  * ~1e-12 relative, far under the 6dp round), so plain distributed
  * aggregation is safe; weights and totals stay exact BIGINTs until
  * the final expression.
  */
object Round11k {
  /** (source, b, w): bucket-grain histogram; b = n_chars div 20. */
  private def hist(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .groupBy(col("source"), expr("n_chars div 20").as("b"))
      .agg(count(lit(1)).as("w"))

  private def totals(h: DataFrame): DataFrame =
    h.groupBy(col("source")).agg(sum(col("w")).as("n"))

  /** Broadcast (sa, na, sb, nb) pair spine, sa < sb. */
  private def spine(h: DataFrame): DataFrame = {
    val tot = totals(h)
    broadcast(tot.select(col("source").as("sa"), col("n").as("na")))
      .crossJoin(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))))
      .filter(col("sa") < col("sb"))
  }

  private val histSql =
    """h AS (SELECT source, n_chars // 20 AS b, CAST(count(*) AS BIGINT) AS w
             FROM documents GROUP BY source, n_chars // 20),
       tot AS (SELECT source, CAST(sum(w) AS BIGINT) AS n FROM h GROUP BY source)"""

  val queries: Seq[Query] = Seq(

    // RBF-kernel MMD² (biased V-statistic) between every source
    // pair's length distribution, σ = 5 buckets: Σ-terms are bucket
    // products (≤ ~625 rows per source/pair), the three kernel sums
    // normalize by exact n², and MMD² = Saa + Sbb − 2·Sab in one
    // final expression.
    Query("q_x_mmd", (s, d) => {
      val h = hist(s, d)
      val k = exp(-((col("bx") - col("by")) * (col("bx") - col("by"))).cast("double")
        / 50.0)
      val self = h.select(col("source"), col("b").as("bx"), col("w").as("wx"))
        .join(h.select(col("source"), col("b").as("by"), col("w").as("wy")), "source")
        .groupBy(col("source"))
        .agg(sum(col("wx") * col("wy") * k).as("kw"))
        .join(totals(h), "source")
        .select(col("source"),
          (col("kw") / (col("n").cast("double") * col("n"))).as("kself"))
      val cross = spine(h)
        .join(h.select(col("source").as("sa"), col("b").as("bx"), col("w").as("wx")), "sa")
        .join(h.select(col("source").as("sb"), col("b").as("by"), col("w").as("wy")), "sb")
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(sum(col("wx") * col("wy") * k).as("kw"))
        .select(col("sa"), col("sb"),
          (col("kw") / (col("na").cast("double") * col("nb"))).as("kab"))
      cross
        .join(broadcast(self.select(col("source").as("sa"), col("kself").as("kaa"))), "sa")
        .join(broadcast(self.select(col("source").as("sb"), col("kself").as("kbb"))), "sb")
        .select(col("sa"), col("sb"),
          round(col("kaa") + col("kbb") - lit(2.0) * col("kab"), 6).as("mmd2"))
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH $histSql,
         self AS (SELECT x.source,
                         sum(x.w * y.w * exp(-CAST((x.b - y.b) * (x.b - y.b) AS DOUBLE)
                             / 50.0)) AS kw
                  FROM h x JOIN h y ON x.source = y.source
                  GROUP BY x.source),
         selfn AS (SELECT self.source, self.kw / (CAST(tot.n AS DOUBLE) * tot.n) AS kself
                   FROM self JOIN tot ON self.source = tot.source),
         prs AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
                 FROM tot a, tot b WHERE a.source < b.source),
         cross_kw AS (SELECT p.sa, p.sb, p.na, p.nb,
                             sum(x.w * y.w * exp(-CAST((x.b - y.b) * (x.b - y.b) AS DOUBLE)
                                 / 50.0)) AS kw
                      FROM prs p
                      JOIN h x ON x.source = p.sa
                      JOIN h y ON y.source = p.sb
                      GROUP BY p.sa, p.sb, p.na, p.nb)
         SELECT c.sa, c.sb,
                round(a.kself + b.kself
                      - 2.0 * c.kw / (CAST(c.na AS DOUBLE) * c.nb), 6) AS mmd2
         FROM cross_kw c
         JOIN selfn a ON a.source = c.sa
         JOIN selfn b ON b.source = c.sb
         ORDER BY c.sa, c.sb""")),

    // Bhattacharyya coefficient + Hellinger distance per source pair:
    // BC = Σ_b sqrt(pa·pb) needs only the bucket INTERSECTION (zero
    // terms vanish), so the pair work is one equi-join on b;
    // H = sqrt(1 − BC) with the tiny negative-noise clamp.
    Query("q_x_hellinger", (s, d) => {
      val h = hist(s, d)
      spine(h)
        .join(h.select(col("source").as("sa"), col("b"), col("w").as("wa")), "sa")
        .join(h.select(col("source").as("sb"), col("b"), col("w").as("wb")),
          Seq("sb", "b"))
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(sum(sqrt((col("wa") * col("wb")).cast("double"))).as("sw"))
        .selectExpr("sa", "sb",
          "round(sw / sqrt(CAST(na AS DOUBLE) * nb), 6) AS bc",
          """round(sqrt(greatest(0.0, 1.0 - sw / sqrt(CAST(na AS DOUBLE) * nb))), 6)
             AS hellinger""")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH $histSql,
         prs AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
                 FROM tot a, tot b WHERE a.source < b.source),
         j AS (SELECT p.sa, p.sb, p.na, p.nb,
                      sum(sqrt(CAST(x.w * y.w AS DOUBLE))) AS sw
               FROM prs p
               JOIN h x ON x.source = p.sa
               JOIN h y ON y.source = p.sb AND y.b = x.b
               GROUP BY p.sa, p.sb, p.na, p.nb)
         SELECT sa, sb,
                round(sw / sqrt(CAST(na AS DOUBLE) * nb), 6) AS bc,
                round(sqrt(greatest(0.0, 1.0 - sw / sqrt(CAST(na AS DOUBLE) * nb))), 6)
                  AS hellinger
         FROM j ORDER BY sa, sb""")),

    // Laplace-smoothed Rényi-2 divergence D₂(a ‖ b) =
    // ln Σ_b pa² / pb́ with pb́ = (wb + 1)/(nb + |B|) over the GLOBAL
    // bucket spine — smoothing keeps the reference support full, so
    // the statistic is finite for every ordered pair. Grid is
    // |B| × pairs rows.
    Query("q_x_renyi", (s, d) => {
      val h = hist(s, d)
      val bSpine = h.select(col("b")).distinct()
      val nb = bSpine.agg(count(lit(1)).as("nbuckets"))
      val tot = totals(h)
      val prs = broadcast(tot.select(col("source").as("sa"), col("n").as("na")))
        .crossJoin(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))))
        .filter(col("sa") =!= col("sb"))
      prs.join(bSpine)
        .join(h.select(col("source").as("sa"), col("b"), col("w").as("wa")),
          Seq("sa", "b"), "left")
        .join(h.select(col("source").as("sb"), col("b"), col("w").as("wb")),
          Seq("sb", "b"), "left")
        .na.fill(0L, Seq("wa", "wb"))
        .crossJoin(broadcast(nb))
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"), col("nbuckets"))
        .agg(sum(
          (col("wa").cast("double") * col("wa") /
            (col("na").cast("double") * col("na"))) /
            ((col("wb") + 1).cast("double") / (col("nb") + col("nbuckets")))).as("srat"))
        .selectExpr("sa", "sb", "round(ln(srat), 6) AS renyi2")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH $histSql,
         bs AS (SELECT DISTINCT b FROM h),
         nbk AS (SELECT CAST(count(*) AS BIGINT) AS nbuckets FROM bs),
         prs AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
                 FROM tot a, tot b WHERE a.source <> b.source),
         grid AS (SELECT p.sa, p.sb, p.na, p.nb, bs.b,
                         coalesce(x.w, 0) AS wa, coalesce(y.w, 0) AS wb
                  FROM prs p CROSS JOIN bs
                  LEFT JOIN h x ON x.source = p.sa AND x.b = bs.b
                  LEFT JOIN h y ON y.source = p.sb AND y.b = bs.b)
         SELECT sa, sb,
                round(ln(sum((CAST(wa AS DOUBLE) * wa
                              / (CAST(na AS DOUBLE) * na))
                             / ((CAST(wb AS DOUBLE) + 1)
                                / (nb + nbk.nbuckets)))), 6) AS renyi2
         FROM grid, nbk
         GROUP BY sa, sb ORDER BY sa, sb"""))
  )
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Cuts.CutOps
import graft.Tables.table

/** Source-comparison tests (SURVEY.md §2.8c–h): does one source's
  * document-length distribution differ from the rest of the corpus,
  * or from another source's? Every query here rides one of two shared
  * value-grain derivations, each with one Spark form and one oracle
  * CTE builder:
  *
  *  - [[pooledGrid]] — each group against the POOLED corpus: the rank
  *    tests (Mann–Whitney, Kruskal–Wallis, Dunn, Brunner–Munzel), the
  *    scale tests (Ansari–Bradley, Fligner–Killeen, Mood, Cucconi,
  *    Lepage) and Kolmogorov–Smirnov against the rest. One pooled
  *    ranking serves every group.
  *  - [[pairGrid]] — every source PAIR on one pooled value spine: the
  *    CDF distances (Wasserstein-1, energy, Cramér–von Mises, Kuiper,
  *    Anderson–Darling), Epps–Singleton, and at bucket grain
  *    (n_chars div 20) the kernel/overlap distances (MMD, Hellinger,
  *    Rényi-2).
  *
  * Scale: every frame after the per-group value counts is groups ×
  * distinct values or pairs × distinct values, never corpus-grain.
  *
  * Determinism (§7.4): counts, running sums and doubled midranks are
  * exact BIGINTs, CDF cross-products go through DECIMAL(19,0), and
  * each statistic is one shared expression text rounded at 6dp. Every
  * double fold either runs in ascending-v order on a partitioned
  * running window in both engines, or on one sorted partition against
  * an ORDER BY subquery (the q_x_levene pattern), or adds positive
  * O(1)-normalized terms (condition number 1, reordering error far
  * under the 6dp round).
  */
object SampleTests {

  /** Per-(source, n_chars) document counts as `(g, v, cnt)`: the
    * input of every [[pooledGrid]] query over document lengths.
    */
  private def lengthCounts(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .groupBy(col("source").as("g"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))

  private val LengthCountsSql =
    """SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
       FROM documents GROUP BY source, n_chars"""

  /** One-vs-pooled grid over per-group value counts `(g, v, cnt)`:
    * one row per (group, pooled distinct v), with `cnt` 0 where the
    * group has no rows at v, the pooled `tot` at v and pooled total
    * `n`, the group's exclusive running sums in ascending v of `tot`
    * (`below`) and of `cnt` (`cbelow`), and the doubled midrank
    * `r2 = 2·below + tot + 1` — exact BIGINTs throughout. Each group
    * partition sees the full pooled value list, so the PARTITIONED
    * running sum is the pooled rank: no unpartitioned window.
    */
  private[graft] def pooledGrid(counts: DataFrame): DataFrame = {
    val gs = counts.groupBy(col("v")).agg(sum(col("cnt")).as("tot"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    broadcast(counts.select(col("g")).distinct())
      .crossJoin(gs)
      .join(counts, Seq("g", "v"), "left").na.fill(0L, Seq("cnt"))
      .withColumn("below", coalesce(sum(col("tot")).over(w), lit(0L)))
      .withColumn("cbelow", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("tot") + 1L)
      .crossJoin(broadcast(gs.agg(sum(col("tot")).as("n"))))
  }

  /** [[pooledGrid]] as oracle CTEs ending in `pg`; `counts` is a
    * SELECT yielding `(g, v, cnt)`.
    */
  private[graft] def pooledGridSql(counts: String): String =
    s"""gl AS ($counts),
       gs AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS tot FROM gl GROUP BY v),
       nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n FROM gs),
       uni AS (SELECT s.g, gs.v, gs.tot, COALESCE(gl.cnt, 0) AS cnt
               FROM (SELECT DISTINCT g FROM gl) s
               CROSS JOIN gs
               LEFT JOIN gl ON gl.g = s.g AND gl.v = gs.v),
       pg AS (SELECT g, v, cnt, tot, n, below, cbelow, 2 * below + tot + 1 AS r2
              FROM (SELECT u.g, u.v, u.cnt, u.tot, nn.n,
                      CAST(COALESCE(sum(u.tot) OVER w, 0) AS BIGINT) AS below,
                      CAST(COALESCE(sum(u.cnt) OVER w, 0) AS BIGINT) AS cbelow
                    FROM uni u, nn
                    WINDOW w AS (PARTITION BY u.g ORDER BY u.v
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))"""

  /** Per-pair CDF grid over the pooled value spine of `documents`
    * grouped by source at value `v`: (sa, sb, na, nb, v, wa, wb,
    * cuma, cumb), sa < sb, plus dv = next v − v (null on the last
    * grid row). Broadcast pair spine, cumulative counts on
    * (sa, sb)-partitioned windows — never a corpus-grain pair join.
    */
  private[graft] def pairGrid(s: SparkSession, d: String, v: Column): DataFrame = {
    val h = table(s, d, "documents")
      .groupBy(col("source"), v.as("v"))
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

  /** [[pairGrid]] as oracle CTEs ending in `cum`, at value `v` (an
    * expression over `documents`).
    */
  private[graft] def pairGridSql(v: String): String =
    s"""h AS (SELECT source, $v AS v, CAST(count(*) AS BIGINT) AS cnt
             FROM documents GROUP BY source, $v),
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
                      lead(v) OVER (PARTITION BY sa, sb ORDER BY v) - v AS dv
               FROM grid
               WINDOW pw AS (PARTITION BY sa, sb ORDER BY v
                             ROWS UNBOUNDED PRECEDING))"""

  /** Acklam's rational inverse-normal-CDF approximation (claimed
    * relative error < 1.15e-9; measured absolute error < 5.5e-9
    * against a quadrature ground truth — Round14Spec pins < 2e-8),
    * restricted to u ∈ (0.5, 1) — the only range
    * the Fligner–Killeen scores visit (u = ½ + r/(2(N+1)) with
    * midrank r ≥ 1). The SAME text is pasted into the oracle, so both
    * engines evaluate the identical IEEE expression tree: same
    * coefficients, same Horner order, same branch cut at 0.97575.
    * Spark SQL and DuckDB share every function used (CASE, ln, sqrt).
    */
  private def qnormExpr(u: String): String = {
    val central =
      s"""(((((-39.69683028665376*(($u)-0.5)*(($u)-0.5)+220.9460984245205)*((($u)-0.5)*(($u)-0.5))-275.9285104469687)*((($u)-0.5)*(($u)-0.5))+138.357751867269)*((($u)-0.5)*(($u)-0.5))-30.66479806614716)*((($u)-0.5)*(($u)-0.5))+2.506628277459239)*(($u)-0.5)
          / (((((-54.47609879822406*((($u)-0.5)*(($u)-0.5))+161.5858368580409)*((($u)-0.5)*(($u)-0.5))-155.6989798598866)*((($u)-0.5)*(($u)-0.5))+66.80131188771972)*((($u)-0.5)*(($u)-0.5))-13.28068155288572)*((($u)-0.5)*(($u)-0.5))+1)"""
    val upper =
      s"""-(((((-0.007784894002430293*sqrt(-2*ln(1-($u)))-0.3223964580411365)*sqrt(-2*ln(1-($u)))-2.400758277161838)*sqrt(-2*ln(1-($u)))-2.549732539343734)*sqrt(-2*ln(1-($u)))+4.374664141464968)*sqrt(-2*ln(1-($u)))+2.938163982698783)
          / ((((0.007784695709041462*sqrt(-2*ln(1-($u)))+0.3224671290700398)*sqrt(-2*ln(1-($u)))+2.445134137142996)*sqrt(-2*ln(1-($u)))+3.754408661907416)*sqrt(-2*ln(1-($u)))+1)"""
    s"(CASE WHEN ($u) <= 0.97575 THEN $central ELSE $upper END)"
  }

  /** Cucconi standardized rank-square sum: U over q = 4ΣR² (so
    * 6ΣR² = 1.5q, exact BIGINT in), shared for the straight (q4) and
    * contrary (q4c) directions.
    */
  private def cucconiUTxt(q: String): String =
    s"""((1.5 * CAST($q AS DOUBLE) - CAST(n1 AS DOUBLE) * (n + 1) * (2 * n + 1))
        / sqrt(CAST(n1 AS DOUBLE) * (n - n1) * (n + 1) * (2 * n + 1)
            * (8 * CAST(n AS DOUBLE) + 11) / 5))"""

  private val CucconiRhoTxt: String =
    """((2 * (CAST(n AS DOUBLE) * n - 4)
        / ((2 * n + 1) * (8 * CAST(n AS DOUBLE) + 11))) - 1)"""

  /** Ansari–Bradley no-ties normal approximation (both N-parity
    * branches) over the doubled score sum 2A and group size n1 —
    * q_x_ansari's statistic and q_x_lepage's scale component.
    */
  private val AnsariZTxt: String =
    """((CAST(a2 AS DOUBLE) / 2 -
        CASE WHEN n % 2 = 0 THEN CAST(n1 AS DOUBLE) * (n + 2) / 4
             ELSE CAST(n1 AS DOUBLE) * (n + 1) * (n + 1) / (4 * n) END)
       / sqrt(CASE WHEN n % 2 = 0
            THEN CAST(n1 AS DOUBLE) * (n - n1) * (n + 2) * (n - 2) / (48 * (n - 1))
            ELSE CAST(n1 AS DOUBLE) * (n - n1) * (n + 1) * (3 + n * n) / (48 * CAST(n AS DOUBLE) * n) END))"""

  /** Wilcoxon rank-sum z over the doubled rank sum 2W (no-ties
    * declared): E[W] = n1(N+1)/2, Var[W] = n1·n2(N+1)/12.
    */
  private val WilcoxonZTxt: String =
    """((CAST(w2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * (n + 1) / 2)
       / sqrt(CAST(n1 AS DOUBLE) * (n - n1) * (n + 1) / 12))"""

  /** Dunn pairwise z (tie-corrected): mean-rank difference over the
    * pooled standard error. Mean ranks ride exact doubled rank sums
    * (w2 = 2·ΣR); tsum = Σ(t³−t) over pooled tie groups.
    */
  private val DunnZTxt: String =
    s"""((CAST(w2_a AS DOUBLE) / 2 / n1_a - CAST(w2_b AS DOUBLE) / 2 / n1_b)
        / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12
            - CAST(tsum AS DOUBLE) / (12 * (n - 1)))
          * (CAST(1 AS DOUBLE) / n1_a + CAST(1 AS DOUBLE) / n1_b)))"""

  /** Brunner–Munzel variance of one group from exact moments: with
    * D = 2R − 2R_int per value (exact BIGINT) and K = (n_g+1)/2 − m_g,
    * Σcnt(D/2 + K)² = D²-sum/4 + K·D-sum + K²·n_g.
    */
  private def bmVTxt(d1: String, d2: String, ng: String, m: String): String = {
    val k = s"((CAST($ng AS DOUBLE) + 1) / 2 - $m)"
    s"""((0.25 * CAST($d2 AS DOUBLE) + $k * $d1 + $k * $k * $ng) / ($ng - 1))"""
  }

  /** Σ(t³−t) over the pooled tie groups: every group's partition holds
    * every pooled value once, so each group's sum is the pooled one.
    */
  private val tiesSum: Column =
    sum(col("tot") * col("tot") * col("tot") - col("tot"))

  val queries: Seq[Query] = Seq(

    // ---- one group vs the pooled corpus (pooledGrid) ----

    // Mann–Whitney U (one source vs rest, on n_chars): the rank-sum
    // test behind "does source S write longer docs than the corpus?".
    // U's numerator is kept ×2 in exact longs (the tie-aware AUC
    // identity: 2U = Σ 2·cnt·(rest below v) + cnt·(rest at v)), and the
    // tie-corrected variance term T = Σ(t³−t) comes from the same grid.
    Query("q_x_mann_whitney", (s, d) =>
      pooledGrid(lengthCounts(s, d))
        .groupBy(col("g").as("source"))
        .agg(
          sum(lit(2L) * col("cnt") * (col("below") - col("cbelow")) +
            col("cnt") * (col("tot") - col("cnt"))).as("u2"),
          sum(col("cnt")).as("n1"), sum(col("tot") - col("cnt")).as("n2"),
          tiesSum.as("tsum"))
        .select(col("source"), col("n1"), col("n2"),
          round(col("u2") / lit(2.0), 6).as("u"),
          round((col("u2") - col("n1") * col("n2")) /
            (lit(2.0) * sqrt(
              col("n1").cast("double") * col("n2") / 12.0 *
                ((col("n1") + col("n2") + 1) -
                  col("tsum") / ((col("n1") + col("n2")).cast("double") *
                    (col("n1") + col("n2") - 1))))), 6).as("z"))
        .orderBy(col("source")), Some(
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         agg AS (SELECT g AS source,
                   CAST(sum(2 * cnt * (below - cbelow) + cnt * (tot - cnt)) AS BIGINT) AS u2,
                   CAST(sum(cnt) AS BIGINT) AS n1,
                   CAST(sum(tot - cnt) AS BIGINT) AS n2,
                   CAST(sum(tot * tot * tot - tot) AS BIGINT) AS tsum
                 FROM pg GROUP BY g)
         SELECT source, n1, n2, round(u2 / 2.0, 6) AS u,
                round((u2 - n1 * n2) /
                  (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 *
                    ((n1 + n2 + 1) - tsum / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))
                  , 6) AS z
         FROM agg ORDER BY source""")),

    // Kruskal–Wallis H across the source groups on n_chars — the
    // k-sample generalization of q_x_mann_whitney, with the exact
    // tie-correction. The per-group rank sums Σcnt·r2 are exact
    // BIGINTs, and the only double fold (Σ R²/n over k rows) runs
    // single-sorted-partition.
    Query("q_x_kruskal", (s, d) => {
      val perSrc = pooledGrid(lengthCounts(s, d))
        .groupBy(col("g"))
        .agg(sum(col("cnt")).as("nj"), sum(col("cnt") * col("r2")).as("r2j"),
          max(col("n")).as("n"), tiesSum.as("tsum"))
      perSrc.coalesce(1).sortWithinPartitions(col("g"))
        .agg(count(lit(1)).as("k"), max(col("n")).as("n"), max(col("tsum")).as("tsum"),
          sum(col("r2j").cast("double") * col("r2j") / (lit(4L) * col("nj"))).as("srb"))
        .selectExpr("k", "n",
          """round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * srb - 3.0 * (n + 1)) /
                   (1.0 - CAST(tsum AS DOUBLE) /
                          (CAST(n AS DOUBLE) * n * n - n)), 6) AS h""",
          "CAST(k - 1 AS BIGINT) AS dof")
    }, Some(
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         ps AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS nj,
                  CAST(sum(cnt * r2) AS BIGINT) AS r2j, max(n) AS n,
                  CAST(sum(tot * tot * tot - tot) AS BIGINT) AS tsum
                FROM pg GROUP BY g),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k, max(n) AS n,
                 max(tsum) AS tsum,
                 sum(CAST(r2j AS DOUBLE) * r2j / (4 * nj)) AS srb
               FROM (SELECT * FROM ps ORDER BY g) ps)
         SELECT k, n,
                round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * srb - 3.0 * (n + 1)) /
                      (1.0 - CAST(tsum AS DOUBLE) /
                             (CAST(n AS DOUBLE) * n * n - n)), 6) AS h,
                CAST(k - 1 AS BIGINT) AS dof
         FROM a""")),

    // Two-sample Kolmogorov–Smirnov statistic per source (doc-length
    // distribution vs the REST of the corpus) — the drift detector
    // that needs no binning choice, complementing q_x_psi's bucketed
    // PSI. CDFs are compared on the exact union support; the
    // sup|F₁−F₂| numerator is exact integers (c₁·n₂ − c₂·n₁) from the
    // inclusive running counts (cbelow + cnt, below + tot), max'd
    // BEFORE the one division, so the statistic is engine-exact.
    Query("q_x_ks", (s, d) => {
      val counts = lengthCounts(s, d)
      // the per-group total as a grouped aggregate of the (g, v) counts,
      // broadcast onto the grid, not a window over the whole grid
      val ns = counts.groupBy(col("g")).agg(sum(col("cnt")).as("ns"))
      pooledGrid(counts)
        .join(broadcast(ns), "g")
        .withColumn("c1", col("cbelow") + col("cnt"))
        .withColumn("num", abs(col("c1") * (col("n") - col("ns"))
          - (col("below") + col("tot") - col("c1")) * col("ns")))
        .groupBy(col("g").as("source"), col("ns"), col("n"))
        .agg(max(col("num")).as("m"))
        .select(col("source"),
          round(col("m").cast("double") / (col("ns") * (col("n") - col("ns"))), 6).as("ks"),
          // sums of counts, never NULL: declared non-null in the output
          coalesce(col("ns"), lit(0L)).as("n_source"),
          coalesce(col("n") - col("ns"), lit(0L)).as("n_rest"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         nums AS (SELECT g, ns, n,
                    abs((cbelow + cnt) * (n - ns) - (below + tot - cbelow - cnt) * ns) AS num
                  FROM (SELECT *, sum(cnt) OVER (PARTITION BY g) AS ns FROM pg))
         SELECT g AS source,
                round(CAST(max(num) AS DOUBLE) / (ns * (n - ns)), 6) AS ks,
                CAST(ns AS BIGINT) AS n_source,
                CAST(n - ns AS BIGINT) AS n_rest
         FROM nums GROUP BY g, ns, n ORDER BY source""")),

    // Fligner–Killeen homogeneity-of-variance test across sources on
    // document lengths — the RANK-based member next to q_x_levene
    // (deviation means) and q_x_bartlett (normal-theory): |x − group
    // median| pooled, midranked, mapped through normal quantiles
    // a = Φ⁻¹(½ + r/(2(N+1))), χ² = Σ nᵢ(Āᵢ − ā)²/V². The pooled grid
    // runs over the |x − median| counts; Φ⁻¹ is the declared Acklam
    // rational approximation, textually identical in both engines;
    // every double fold is either a per-source running-sum window
    // (scores > 0 ⇒ monotone ⇒ max = last) or a sorted-single-
    // partition k·value-grain fold, so accumulation order matches
    // DuckDB's running windows exactly.
    Query("q_x_fligner", (s, d) => {
      val docs = table(s, d, "documents").select(col("source"), col("n_chars"))
      val med = docs.groupBy(col("source")).agg(expr("median(n_chars)").as("m"))
      val cell = docs.join(broadcast(med), "source")
        .groupBy(col("source").as("g"), abs(col("n_chars") - col("m")).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .cut(eager = true)
      val r = pooledGrid(cell)
        .withColumn("a", expr(qnormExpr("0.5 + CAST(r2 AS DOUBLE) / (4 * (n + 1))")))
      val src = r
        .withColumn("run_sa", sum(col("cnt") * col("a")).over(
          Window.partitionBy(col("g")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"), sum(col("cnt")).as("ni"),
          max(col("run_sa")).as("sa"))
      val ab = src.coalesce(1).sortWithinPartitions(col("g"))
        .agg((sum(col("sa")) / max(col("n"))).as("abar"))
      val vv = r.coalesce(1).sortWithinPartitions(col("g"), col("v"))
        .crossJoin(broadcast(ab))
        .agg((sum(col("cnt") * (col("a") - col("abar")) * (col("a") - col("abar")))
          / (max(col("n")) - 1)).as("v2"))
      val x2 = src.coalesce(1).sortWithinPartitions(col("g"))
        .crossJoin(broadcast(ab))
        .agg(count(lit(1)).as("k"),
          sum(col("ni") * (col("sa") / col("ni") - col("abar"))
            * (col("sa") / col("ni") - col("abar"))).as("num"))
      src.crossJoin(broadcast(vv)).crossJoin(broadcast(x2))
        .select(col("g").as("source"), col("ni").as("n"),
          round(col("sa") / col("ni"), 6).as("a_mean"),
          round(col("num") / col("v2"), 6).as("chi2"),
          (col("k") - 1).as("df"))
        .orderBy(col("source"))
    }, Some {
      // Same pooled grid over the same deviation counts, the same
      // Acklam Φ⁻¹ text, and every double fold as a RUNNING window
      // whose order is guaranteed by definition — the left-to-right
      // accumulation matches Spark's sorted-single-partition folds
      // term for term.
      val cells =
        """SELECT d.source AS g, abs(d.n_chars - med.m) AS v,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM documents d JOIN med ON med.source = d.source
           GROUP BY 1, 2"""
      s"""WITH med AS (SELECT source, median(n_chars) AS m FROM documents GROUP BY 1),
         ${pooledGridSql(cells)},
         r AS (SELECT g, v, cnt, n,
                 ${qnormExpr("0.5 + CAST(r2 AS DOUBLE) / (4 * (n + 1))")} AS a
               FROM pg),
         src AS (SELECT g, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS ni,
                   max(run_sa) AS sa
                 FROM (SELECT g, n, cnt,
                         sum(cnt * a) OVER (PARTITION BY g ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sa
                       FROM r)
                 GROUP BY g),
         ab AS (SELECT max(run_s) / max(n) AS abar FROM
                  (SELECT n, sum(sa) OVER (ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_s
                   FROM src)),
         vv AS (SELECT max(run_v) / (max(n) - 1) AS v2 FROM
                  (SELECT r.n, sum(r.cnt * (r.a - ab.abar) * (r.a - ab.abar))
                     OVER (ORDER BY r.g, r.v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_v
                   FROM r, ab)),
         x2 AS (SELECT CAST(count(*) AS BIGINT) AS k, max(run_x) AS num FROM
                  (SELECT sum(s.ni * (s.sa / s.ni - ab.abar) * (s.sa / s.ni - ab.abar))
                     OVER (ORDER BY s.g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_x
                   FROM src s, ab))
         SELECT s.g AS source, s.ni AS n, round(s.sa / s.ni, 6) AS a_mean,
                round(x2.num / vv.v2, 6) AS chi2, x2.k - 1 AS df
         FROM src s, x2, vv ORDER BY source"""
    }),

    // Ansari–Bradley scale test, each source vs the POOLED corpus
    // (one-vs-rest): pooled midranks fold to the doubled AB score
    // 2a = min(2r, 2(N+1)−2r) — an exact BIGINT per value — so the
    // per-source statistic 2Aᵢ = Σ cnt·2a is exact integer arithmetic
    // end to end; only the declared no-ties normal approximation
    // (both N-parity branches, cast to DOUBLE before the products to
    // stay overflow-safe at corpus N) touches doubles, in one
    // textually-shared expression. One-vs-rest means ONE pooled
    // ranking serves every source, vs k² pooled re-rankings for
    // all-pairs.
    Query("q_x_ansari", (s, d) =>
      pooledGrid(lengthCounts(s, d))
        .groupBy(col("g").as("source"), col("n"))
        .agg(sum(col("cnt")).as("n1"),
          sum(col("cnt") * least(col("r2"), lit(2L) * (col("n") + 1L) - col("r2")))
            .as("a2"))
        .selectExpr("source", "n1 AS n", "a2", s"round($AnsariZTxt, 6) AS z")
        .orderBy(col("source")), Some(
      // Same pooled grid, exact BIGINT 2A, and the textually-shared
      // two-branch normal approximation.
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         ps AS (SELECT g AS source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS n1,
                  CAST(sum(cnt * least(r2, 2 * (n + 1) - r2)) AS BIGINT) AS a2
                FROM pg GROUP BY g)
         SELECT source, n1 AS n, a2, round($AnsariZTxt, 6) AS z
         FROM ps ORDER BY source""")),

    // Cucconi joint location-scale test, each source vs the pooled
    // corpus (one-vs-rest, DECLARED midranks): U standardizes ΣR²,
    // V standardizes the contrary ΣR'² (R' = N+1−R), C = (U² + V²
    // − 2ρUV)/(2(1−ρ²)) with the exact correlation ρ = 2(N²−4)/
    // ((2N+1)(8N+11)) − 1. Both rank-square sums ride the doubled
    // midranks: 4ΣR² = Σcnt·r2² and 4ΣR'² = Σcnt·(2(N+1)−r2)² are
    // exact BIGINTs from the ONE pooled ranking all sources share.
    // The older two-statistic cousin of q_x_lepage — it senses
    // location AND scale in one quadratic form. Guard n >= 3: at
    // pooled N = 2, ρ = −1 zeroes the C denominator 2(1−ρ²), so the
    // degenerate two-observation corpus surfaces NULL (not NaN/Inf).
    Query("q_x_cucconi", (s, d) => {
      val r2c = lit(2L) * (col("n") + 1L) - col("r2")
      val u = cucconiUTxt("q4")
      val v = cucconiUTxt("q4c")
      pooledGrid(lengthCounts(s, d))
        .groupBy(col("g").as("source"), col("n"))
        .agg(sum(col("cnt")).as("n1"),
          sum(col("cnt") * col("r2") * col("r2")).as("q4"),
          sum(col("cnt") * r2c * r2c).as("q4c"))
        .selectExpr("source", "n1 AS n",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1 AND n >= 3
                THEN round($u, 6) ELSE NULL END AS u""",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1 AND n >= 3
                THEN round($v, 6) ELSE NULL END AS v""",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1 AND n >= 3
                THEN round(($u * $u + $v * $v - 2 * $CucconiRhoTxt * $u * $v)
                  / (2 * (1 - $CucconiRhoTxt * $CucconiRhoTxt)), 6)
                ELSE NULL END AS c""")
        .orderBy(col("source"))
    }, Some {
      // Same pooled grid, same exact doubled-rank squares, same
      // U/V/ρ expression text.
      val u = cucconiUTxt("q4")
      val v = cucconiUTxt("q4c")
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         ps AS (SELECT g AS source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS n1,
                  CAST(sum(cnt * r2 * r2) AS BIGINT) AS q4,
                  CAST(sum(cnt * (2 * (n + 1) - r2) * (2 * (n + 1) - r2)) AS BIGINT) AS q4c
                FROM pg GROUP BY g)
         SELECT source, n1 AS n,
                CASE WHEN n1 >= 1 AND n - n1 >= 1 AND n >= 3
                     THEN round($u, 6) ELSE NULL END AS u,
                CASE WHEN n1 >= 1 AND n - n1 >= 1 AND n >= 3
                     THEN round($v, 6) ELSE NULL END AS v,
                CASE WHEN n1 >= 1 AND n - n1 >= 1 AND n >= 3
                     THEN round(($u * $u + $v * $v - 2 * $CucconiRhoTxt * $u * $v)
                       / (2 * (1 - $CucconiRhoTxt * $CucconiRhoTxt)), 6)
                     ELSE NULL END AS c
         FROM ps ORDER BY source"""
    }),

    // Lepage joint location-scale test, each source vs the pooled
    // corpus: L = z_W² + z_A² — the standardized Wilcoxon rank sum
    // (location) plus the standardized Ansari–Bradley score sum
    // (scale), both riding exact BIGINT doubled sums (2W = Σcnt·r2,
    // 2A = Σcnt·min(r2, 2(N+1)−r2)) from the same one pooled
    // ranking; DECLARED no-ties moments for both components (the
    // q_x_ansari parity-branch text, shared).
    Query("q_x_lepage", (s, d) =>
      pooledGrid(lengthCounts(s, d))
        .groupBy(col("g").as("source"), col("n"))
        .agg(sum(col("cnt")).as("n1"),
          sum(col("cnt") * col("r2")).as("w2"),
          sum(col("cnt") * least(col("r2"), lit(2L) * (col("n") + 1L) - col("r2")))
            .as("a2"))
        .selectExpr("source", "n1 AS n",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1
                THEN round($WilcoxonZTxt, 6) ELSE NULL END AS z_w""",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1
                THEN round($AnsariZTxt, 6) ELSE NULL END AS z_a""",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1
                THEN round($WilcoxonZTxt * $WilcoxonZTxt + $AnsariZTxt * $AnsariZTxt, 6)
                ELSE NULL END AS l""")
        .orderBy(col("source")), Some(
      // Same pooled grid, same exact 2W/2A sums, same component
      // texts.
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         ps AS (SELECT g AS source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS n1,
                  CAST(sum(cnt * r2) AS BIGINT) AS w2,
                  CAST(sum(cnt * least(r2, 2 * (n + 1) - r2)) AS BIGINT) AS a2
                FROM pg GROUP BY g)
         SELECT source, n1 AS n,
                CASE WHEN n1 >= 1 AND n - n1 >= 1
                     THEN round($WilcoxonZTxt, 6) ELSE NULL END AS z_w,
                CASE WHEN n1 >= 1 AND n - n1 >= 1
                     THEN round($AnsariZTxt, 6) ELSE NULL END AS z_a,
                CASE WHEN n1 >= 1 AND n - n1 >= 1
                     THEN round($WilcoxonZTxt * $WilcoxonZTxt + $AnsariZTxt * $AnsariZTxt, 6)
                     ELSE NULL END AS l
         FROM ps ORDER BY source""")),

    // Dunn's post-hoc pairwise test across sources — the follow-up a
    // pipeline runs after q_x_kruskal rejects: z_ij = (R̄_i − R̄_j) /
    // sqrt((N(N+1)/12 − ΣT/(12(N−1)))·(1/n_i + 1/n_j)) with the
    // standard tie correction ΣT = Σ(t³−t). Mean ranks ride exact
    // BIGINT doubled rank sums from the ONE pooled ranking; the
    // all-pairs grid is k² source rows (dims-bounded — the corpus
    // never enters the pair join).
    Query("q_x_dunn", (s, d) => {
      val ps = pooledGrid(lengthCounts(s, d))
        .groupBy(col("g"), col("n"))
        .agg(sum(col("cnt")).as("n1"), sum(col("cnt") * col("r2")).as("w2"),
          tiesSum.as("tsum"))
        .cut(eager = true)
      val a = ps.select(col("g").as("source_a"), col("n"), col("tsum"),
        col("n1").as("n1_a"), col("w2").as("w2_a"))
      val b = ps.select(col("g").as("source_b"),
        col("n1").as("n1_b"), col("w2").as("w2_b"))
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .selectExpr("source_a", "source_b",
          s"""CASE WHEN n1_a >= 1 AND n1_b >= 1 AND n >= 2
                THEN round($DunnZTxt, 6) ELSE NULL END AS z""")
        .orderBy(col("source_a"), col("source_b"))
    }, Some(
      // Same pooled grid, same exact doubled rank sums, same
      // tie-corrected z text over the k² pair grid.
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         ps AS (SELECT g, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS n1,
                  CAST(sum(cnt * r2) AS BIGINT) AS w2,
                  CAST(sum(tot * tot * tot - tot) AS BIGINT) AS tsum
                FROM pg GROUP BY g),
         pr AS (SELECT a.g AS source_a, b.g AS source_b, a.n AS n, a.tsum AS tsum,
                  a.n1 AS n1_a, a.w2 AS w2_a, b.n1 AS n1_b, b.w2 AS w2_b
                FROM ps a JOIN ps b ON a.g < b.g)
         SELECT source_a, source_b,
                CASE WHEN n1_a >= 1 AND n1_b >= 1 AND n >= 2
                     THEN round($DunnZTxt, 6) ELSE NULL END AS z
         FROM pr
         ORDER BY source_a, source_b""")),

    // Brunner–Munzel test, each source vs the pooled rest
    // (DECLARED orientation: group 1 = the source, group 2 = the
    // complement; p̂ = P(X₁ < X₂) + ½P(X₁ = X₂)). The variance terms
    // need pooled AND internal midranks — both fall out of the same
    // grid (internal doubled midranks from the running sums of cnt
    // and tot−cnt), and the per-observation squared deviations
    // collapse to exact BIGINT moments via the D = 2R−2R_int
    // expansion, so no double accumulates across rows. W follows
    // Brunner–Munzel (2000): n1·n2·(m2−m1)/(N·sqrt(n1·v1 + n2·v2)).
    Query("q_x_brunner_munzel", (s, d) => {
      val rk = pooledGrid(lengthCounts(s, d))
        .withColumn("rcnt", col("tot") - col("cnt"))
        .withColumn("q2o", lit(2L) * col("cbelow") + col("cnt") + 1L)
        .withColumn("q2r",
          lit(2L) * (col("below") - col("cbelow")) + col("rcnt") + 1L)
      val ps = rk.groupBy(col("g").as("source"), col("n"))
        .agg(sum(col("cnt")).as("n1"),
          sum(col("cnt") * col("r2")).as("w2o"),
          sum(col("cnt") * (col("r2") - col("q2o"))).as("d1"),
          sum(col("cnt") * (col("r2") - col("q2o")) * (col("r2") - col("q2o")))
            .as("d2"),
          sum(col("rcnt") * col("r2")).as("w2r"),
          sum(col("rcnt") * (col("r2") - col("q2r"))).as("e1"),
          sum(col("rcnt") * (col("r2") - col("q2r")) * (col("r2") - col("q2r")))
            .as("e2"))
      val m1 = "(CAST(w2o AS DOUBLE) / 2 / n1)"
      val m2 = "(CAST(w2r AS DOUBLE) / 2 / (n - n1))"
      val v1 = bmVTxt("d1", "d2", "n1", m1)
      val v2 = bmVTxt("e1", "e2", "(n - n1)", m2)
      val guard = s"n1 >= 2 AND n - n1 >= 2 AND (n1 * $v1 + (n - n1) * $v2) > 0"
      ps.selectExpr("source", "n1 AS n",
        s"""CASE WHEN $guard
              THEN round(($m2 - (CAST(n AS DOUBLE) - n1 + 1) / 2) / n1, 6)
              ELSE NULL END AS p_hat""",
        s"""CASE WHEN $guard
              THEN round(CAST(n1 AS DOUBLE) * (n - n1) * ($m2 - $m1)
                / n / sqrt(n1 * $v1 + (n - n1) * $v2), 6)
              ELSE NULL END AS w_bm""")
        .orderBy(col("source"))
    }, Some {
      // Same pooled grid, same pooled + internal midranks, same
      // exact-moment variance expansion, same W/p̂ text.
      val m1 = "(CAST(w2o AS DOUBLE) / 2 / n1)"
      val m2 = "(CAST(w2r AS DOUBLE) / 2 / (n - n1))"
      val v1 = bmVTxt("d1", "d2", "n1", m1)
      val v2 = bmVTxt("e1", "e2", "(n - n1)", m2)
      val guard = s"n1 >= 2 AND n - n1 >= 2 AND (n1 * $v1 + (n - n1) * $v2) > 0"
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         rk AS (SELECT g, n, cnt, r2, tot - cnt AS rcnt,
                  2 * cbelow + cnt + 1 AS q2o,
                  2 * (below - cbelow) + (tot - cnt) + 1 AS q2r
                FROM pg),
         ps AS (SELECT g AS source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS n1,
                  CAST(sum(cnt * r2) AS BIGINT) AS w2o,
                  CAST(sum(cnt * (r2 - q2o)) AS BIGINT) AS d1,
                  CAST(sum(cnt * (r2 - q2o) * (r2 - q2o)) AS BIGINT) AS d2,
                  CAST(sum(rcnt * r2) AS BIGINT) AS w2r,
                  CAST(sum(rcnt * (r2 - q2r)) AS BIGINT) AS e1,
                  CAST(sum(rcnt * (r2 - q2r) * (r2 - q2r)) AS BIGINT) AS e2
                FROM rk GROUP BY g)
         SELECT source, n1 AS n,
                CASE WHEN $guard
                     THEN round(($m2 - (CAST(n AS DOUBLE) - n1 + 1) / 2) / n1, 6)
                     ELSE NULL END AS p_hat,
                CASE WHEN $guard
                     THEN round(CAST(n1 AS DOUBLE) * (n - n1) * ($m2 - $m1)
                       / n / sqrt(n1 * $v1 + (n - n1) * $v2), 6)
                     ELSE NULL END AS w_bm
         FROM ps ORDER BY source"""
    }),

    // Mood's rank-based SCALE test, each source vs the pooled corpus
    // (distinct from q_x_mood_median's location test): T =
    // Σ(R_i − (N+1)/2)² — squared distance of the group's pooled
    // ranks from the center; DECLARED no-ties moments E[T] =
    // n1(N²−1)/12, Var[T] = n1·n2(N+1)(N²−4)/180. Doubled midranks
    // make 4T = Σcnt·(r2 − (N+1))² exact BIGINT from the ONE pooled
    // ranking all sources share; the fourth member of the scale-test
    // family (ansari ranks from the edges, fligner normal-scores,
    // cucconi both directions).
    Query("q_x_mood_scale", (s, d) => {
      val dev = col("r2") - (col("n") + 1L)
      pooledGrid(lengthCounts(s, d))
        .groupBy(col("g").as("source"), col("n"))
        .agg(sum(col("cnt")).as("n1"),
          sum(col("cnt") * dev * dev).as("t4"))
        .selectExpr("source", "n1 AS n",
          "CAST(t4 AS DOUBLE) / 4 AS t",
          s"""CASE WHEN n1 >= 1 AND n - n1 >= 1
                THEN round((CAST(t4 AS DOUBLE) / 4
                    - CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1) / 12)
                  / sqrt(CAST(n1 AS DOUBLE) * (n - n1) * (n + 1)
                      * (CAST(n AS DOUBLE) * n - 4) / 180), 6)
                ELSE NULL END AS z""")
        .orderBy(col("source"))
    }, Some(
      // Same pooled grid, exact doubled-deviation squares, declared
      // no-ties moments.
      s"""WITH ${pooledGridSql(LengthCountsSql)},
         ps AS (SELECT g AS source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS n1,
                  CAST(sum(cnt * (r2 - (n + 1)) * (r2 - (n + 1))) AS BIGINT) AS t4
                FROM pg GROUP BY g)
         SELECT source, n1 AS n,
                CAST(t4 AS DOUBLE) / 4 AS t,
                CASE WHEN n1 >= 1 AND n - n1 >= 1
                 THEN round((CAST(t4 AS DOUBLE) / 4
                     - CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1) / 12)
                   / sqrt(CAST(n1 AS DOUBLE) * (n - n1) * (n + 1)
                       * (CAST(n AS DOUBLE) * n - 4) / 180), 6)
                 ELSE NULL END AS z
         FROM ps ORDER BY source""")),

    // ---- every source pair on one value spine (pairGrid) ----

    // Wasserstein-1 distance between every source pair's length
    // distribution, EXACTLY: on the value grain, W1 = Σ_v |F_a−F_b|·Δv
    // = Σ |ca·nb − cb·na|·Δv / (na·nb) — the numerator is an integer
    // accumulated in DECIMAL(38,0) (order-free), one division at the
    // end. The spine is |distinct lengths| × (k choose 2) rows —
    // value-grain, never corpus-grain.
    Query("q_x_wasserstein", (s, d) =>
      pairGrid(s, d, col("n_chars"))
        .filter(col("dv").isNotNull)
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        // cross-multiply in DECIMAL from the start — cuma·nb in LONG
        // would wrap silently past ~3e9 rows per source (grubbs lesson)
        .agg(sum(abs(col("cuma").cast(DecimalType(19, 0)) * col("nb") -
            col("cumb").cast(DecimalType(19, 0)) * col("na")) * col("dv"))
          .as("num"))
        .select(col("sa"), col("sb"),
          round(col("num").cast("double") / (col("na").cast("double") * col("nb")), 6)
            .as("w1"))
        .orderBy(col("sa"), col("sb")), Some(
      s"""WITH ${pairGridSql("n_chars")}
         SELECT sa, sb,
                round(CAST(sum(abs(CAST(cuma AS DECIMAL(19,0)) * nb
                                   - CAST(cumb AS DECIMAL(19,0)) * na) * dv)
                           AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS w1
         FROM cum WHERE dv IS NOT NULL
         GROUP BY sa, sb, na, nb ORDER BY sa, sb""")),

    // Energy distance D²(a,b) = 2E|X−Y| − E|X−X'| − E|Y−Y'| between
    // every source pair — each expectation is an EXACT integer CDF
    // sum (E|X−Y| = Σ [Fa(1−Fb) + Fb(1−Fa)]·Δv cross-multiplied in
    // DECIMAL(38,0)); three divisions in one final shared expression.
    Query("q_x_energy_dist", (s, d) =>
      pairGrid(s, d, col("n_chars"))
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
      s"""WITH ${pairGridSql("n_chars")}
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
      val g = pairGrid(s, d, col("n_chars"))
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
      s"""WITH ${pairGridSql("n_chars")},
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
      pairGrid(s, d, col("n_chars"))
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
      s"""WITH ${pairGridSql("n_chars")}
         SELECT sa, sb,
                round((CAST(greatest(max(CAST(cuma AS DECIMAL(19,0)) * nb
                          - CAST(cumb AS DECIMAL(19,0)) * na), 0) AS DOUBLE)
                     + CAST(greatest(max(CAST(cumb AS DECIMAL(19,0)) * na
                          - CAST(cuma AS DECIMAL(19,0)) * nb), 0) AS DOUBLE))
                    / (CAST(na AS DOUBLE) * nb), 6) AS kuiper_v
         FROM cum GROUP BY sa, sb, na, nb ORDER BY sa, sb""")),

    // Anderson–Darling two-sample A²(midrank) per source pair over
    // the document-length distribution (Scholz–Stephens eq. 7 with
    // the midrank tie adjustment): with pooled N, per distinct
    // pooled value z_j of mass l_j, M_ij = #{sample i < z_j} +
    // ½#{= z_j} and B_j the pooled midrank cumulative,
    //   A² = (N−1)/N² · Σ_i (1/n_i) Σ_j l_j (N·M_ij − n_i B_j)²
    //        / (B_j(N−B_j) − N·l_j/4).
    // Doubling clears the halves: 2M_a = 2·cuma − wa,
    // 2B = 2(cuma+cumb) − l, so numerator (N·2Mᵢ − nᵢ·2B)² and
    // denominator 2B(2N−2B) − N·l are EXACT integers and the ¼
    // factors cancel. Spine rows with l = 0 (values owned by other
    // sources) are excluded — the formula sums over POOLED distinct
    // values only, and outside the pair's support the denominator is
    // legitimately 0 (B ∈ {0, N}). The midrank tie rule is declared:
    // the discrete-data form of scipy's anderson_ksamp midrank=True.
    Query("q_x_ad", (s, d) => {
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
      val g = pairGrid(s, d, col("n_chars"))
        .selectExpr("sa", "sb", "na", "nb", "v",
          "wa + wb AS l", "na + nb AS nn",
          "2*cuma - wa AS ma2", "2*cumb - wb AS mb2",
          "2*(cuma + cumb) - (wa + wb) AS b2")
        .filter(col("l") > 0)
        .selectExpr("sa", "sb", "na", "nb", "v", "l", "nn",
          "CAST(nn*ma2 - na*b2 AS DECIMAL(19,0)) AS ia",
          "CAST(nn*mb2 - nb*b2 AS DECIMAL(19,0)) AS ib",
          "b2*(2*nn - b2) - nn*l AS dint")
        .selectExpr("sa", "sb", "na", "nb", "v", "nn",
          "CAST(l AS DOUBLE) * CAST(ia*ia AS DOUBLE) / dint AS ta",
          "CAST(l AS DOUBLE) * CAST(ib*ib AS DOUBLE) / dint AS tb")
        .withColumn("suma", sum(col("ta")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sumb", sum(col("tb")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(w.orderBy(col("v").desc)))
        .filter(col("rn") === 1)
      g.selectExpr("sa", "sb",
          """round((nn - 1.0) / (CAST(nn AS DOUBLE) * nn)
               * (suma / na + sumb / nb), 6) AS ad_a2""")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH ${pairGridSql("n_chars")},
         t AS (SELECT sa, sb, na, nb, v,
                 wa + wb AS l, na + nb AS nn,
                 2*cuma - wa AS ma2, 2*cumb - wb AS mb2,
                 2*(cuma + cumb) - (wa + wb) AS b2
               FROM cum),
         u AS (SELECT sa, sb, na, nb, v, l, nn,
                 CAST(nn*ma2 - na*b2 AS DECIMAL(19,0)) AS ia,
                 CAST(nn*mb2 - nb*b2 AS DECIMAL(19,0)) AS ib,
                 b2*(2*nn - b2) - nn*l AS dint
               FROM t WHERE l > 0),
         f AS (SELECT sa, sb, na, nb, nn,
                 sum(CAST(l AS DOUBLE) * CAST(ia*ia AS DOUBLE) / dint)
                   OVER pw AS suma,
                 sum(CAST(l AS DOUBLE) * CAST(ib*ib AS DOUBLE) / dint)
                   OVER pw AS sumb,
                 row_number() OVER (PARTITION BY sa, sb ORDER BY v DESC) AS rn
               FROM u
               WINDOW pw AS (PARTITION BY sa, sb ORDER BY v
                             ROWS UNBOUNDED PRECEDING))
         SELECT sa, sb,
                round((nn - 1.0) / (CAST(nn AS DOUBLE) * nn)
                  * (suma / na + sumb / nb), 6) AS ad_a2
         FROM f WHERE rn = 1 ORDER BY sa, sb""")),

    // Epps–Singleton ECF distance per source pair:
    // es = N · Σ_{t∈{t1,t2}} |φ̂_a(t) − φ̂_b(t)|², with
    // φ̂(t) = (1/n) Σ_v w_v·e^{itv}, t_k = {0.4, 0.8}/s, and s the
    // pooled semi-IQR under the declared type-1 discrete quantile
    // rule (integer cumulative thresholds — exact in both engines).
    // The statistic is the DECLARED unnormalized form: the Ω⁻¹
    // weighting of the full W² is a calibration constant at fixed t,
    // not a data reduction.
    Query("q_x_epps", (s, d) => {
      val w = Window.partitionBy(col("sa"), col("sb")).orderBy(col("v"))
      val grid = pairGrid(s, d, col("n_chars"))
      val iqr = grid.groupBy(col("sa"), col("sb")).agg(
        min(when(lit(4) * (col("cuma") + col("cumb")) >= col("na") + col("nb"),
          col("v"))).as("q25"),
        min(when(lit(4) * (col("cuma") + col("cumb")) >= lit(3) * (col("na") + col("nb")),
          col("v"))).as("q75"))
      val g = grid.join(broadcast(iqr), Seq("sa", "sb"))
        .selectExpr("sa", "sb", "na", "nb", "v", "wa", "wb",
          "na + nb AS nn",
          "0.4 / ((q75 - q25) / 2.0) AS t1",
          "0.8 / ((q75 - q25) / 2.0) AS t2")
        .selectExpr("sa", "sb", "na", "nb", "v", "nn",
          "wa * cos(t1 * v) AS a1r", "wa * sin(t1 * v) AS a1i",
          "wa * cos(t2 * v) AS a2r", "wa * sin(t2 * v) AS a2i",
          "wb * cos(t1 * v) AS b1r", "wb * sin(t1 * v) AS b1i",
          "wb * cos(t2 * v) AS b2r", "wb * sin(t2 * v) AS b2i")
      val cw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val folded = Seq("a1r", "a1i", "a2r", "a2i", "b1r", "b1i", "b2r", "b2i")
        .foldLeft(g)((df, c) => df.withColumn(s"c$c", sum(col(c)).over(cw)))
        .withColumn("rn", row_number().over(w.orderBy(col("v").desc)))
        .filter(col("rn") === 1)
      folded.selectExpr("sa", "sb",
          """round(nn * (pow(ca1r/na - cb1r/nb, 2) + pow(ca1i/na - cb1i/nb, 2)
               + pow(ca2r/na - cb2r/nb, 2) + pow(ca2i/na - cb2i/nb, 2)), 6)
             AS es_stat""")
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH ${pairGridSql("n_chars")},
         iqr AS (SELECT sa, sb,
                   min(CASE WHEN 4*(cuma + cumb) >= na + nb THEN v END) AS q25,
                   min(CASE WHEN 4*(cuma + cumb) >= 3*(na + nb) THEN v END) AS q75
                 FROM cum GROUP BY sa, sb),
         g AS (SELECT c.sa, c.sb, c.na, c.nb, c.v, c.wa, c.wb,
                 c.na + c.nb AS nn,
                 0.4 / ((i.q75 - i.q25) / 2.0) AS t1,
                 0.8 / ((i.q75 - i.q25) / 2.0) AS t2
               FROM cum c JOIN iqr i ON c.sa = i.sa AND c.sb = i.sb),
         e AS (SELECT sa, sb, na, nb, v, nn,
                 wa * cos(t1 * v) AS a1r, wa * sin(t1 * v) AS a1i,
                 wa * cos(t2 * v) AS a2r, wa * sin(t2 * v) AS a2i,
                 wb * cos(t1 * v) AS b1r, wb * sin(t1 * v) AS b1i,
                 wb * cos(t2 * v) AS b2r, wb * sin(t2 * v) AS b2i
               FROM g),
         f AS (SELECT sa, sb, na, nb, nn,
                 sum(a1r) OVER pw AS ca1r, sum(a1i) OVER pw AS ca1i,
                 sum(a2r) OVER pw AS ca2r, sum(a2i) OVER pw AS ca2i,
                 sum(b1r) OVER pw AS cb1r, sum(b1i) OVER pw AS cb1i,
                 sum(b2r) OVER pw AS cb2r, sum(b2i) OVER pw AS cb2i,
                 row_number() OVER (PARTITION BY sa, sb ORDER BY v DESC) AS rn
               FROM e
               WINDOW pw AS (PARTITION BY sa, sb ORDER BY v
                             ROWS UNBOUNDED PRECEDING))
         SELECT sa, sb,
                round(nn * (pow(ca1r/na - cb1r/nb, 2) + pow(ca1i/na - cb1i/nb, 2)
                  + pow(ca2r/na - cb2r/nb, 2) + pow(ca2i/na - cb2i/nb, 2)), 6)
                  AS es_stat
         FROM f WHERE rn = 1 ORDER BY sa, sb""")),

    // RBF-kernel MMD² (biased V-statistic) between every source
    // pair's length distribution at BUCKET grain (n_chars div 20),
    // σ = 5 buckets: the grid's bucket rows self-join within the pair
    // (≤ ~buckets² rows per pair; zero-weight rows add exact zeros),
    // the three kernel sums normalize by exact n², and MMD² =
    // Saa + Sbb − 2·Sab in one final expression. Every sum adds
    // positive O(1)-normalized terms, so plain distributed
    // aggregation is safe.
    Query("q_x_mmd", (s, d) => {
      val g = pairGrid(s, d, expr("n_chars div 20"))
      val k = exp(-((col("bx") - col("by")) * (col("bx") - col("by"))).cast("double")
        / 50.0)
      g.select(col("sa"), col("sb"), col("na"), col("nb"), col("v").as("bx"),
          col("wa").as("xa"), col("wb").as("xb"))
        .join(g.select(col("sa"), col("sb"), col("v").as("by"),
          col("wa").as("ya"), col("wb").as("yb")), Seq("sa", "sb"))
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(sum(col("xa") * col("ya") * k).as("kaa"),
          sum(col("xb") * col("yb") * k).as("kbb"),
          sum(col("xa") * col("yb") * k).as("kab"))
        .select(col("sa"), col("sb"),
          round(col("kaa") / (col("na").cast("double") * col("na"))
            + col("kbb") / (col("nb").cast("double") * col("nb"))
            - lit(2.0) * (col("kab") / (col("na").cast("double") * col("nb"))), 6)
            .as("mmd2"))
        .orderBy(col("sa"), col("sb"))
    }, Some(
      s"""WITH ${pairGridSql("n_chars // 20")},
         kw AS (SELECT x.sa, x.sb, x.na, x.nb,
                  sum(x.wa * y.wa * exp(-CAST((x.v - y.v) * (x.v - y.v) AS DOUBLE) / 50.0))
                    AS kaa,
                  sum(x.wb * y.wb * exp(-CAST((x.v - y.v) * (x.v - y.v) AS DOUBLE) / 50.0))
                    AS kbb,
                  sum(x.wa * y.wb * exp(-CAST((x.v - y.v) * (x.v - y.v) AS DOUBLE) / 50.0))
                    AS kab
                FROM cum x JOIN cum y ON x.sa = y.sa AND x.sb = y.sb
                GROUP BY x.sa, x.sb, x.na, x.nb)
         SELECT sa, sb,
                round(kaa / (CAST(na AS DOUBLE) * na) + kbb / (CAST(nb AS DOUBLE) * nb)
                      - 2.0 * (kab / (CAST(na AS DOUBLE) * nb)), 6) AS mmd2
         FROM kw ORDER BY sa, sb""")),

    // Bhattacharyya coefficient + Hellinger distance per source pair
    // at bucket grain: BC = Σ_b sqrt(pa·pb) (buckets outside the
    // intersection add exact zeros); H = sqrt(1 − BC) with the tiny
    // negative-noise clamp.
    Query("q_x_hellinger", (s, d) =>
      pairGrid(s, d, expr("n_chars div 20"))
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(sum(sqrt((col("wa") * col("wb")).cast("double"))).as("sw"))
        .selectExpr("sa", "sb",
          "round(sw / sqrt(CAST(na AS DOUBLE) * nb), 6) AS bc",
          """round(sqrt(greatest(0.0, 1.0 - sw / sqrt(CAST(na AS DOUBLE) * nb))), 6)
             AS hellinger""")
        .orderBy(col("sa"), col("sb")), Some(
      s"""WITH ${pairGridSql("n_chars // 20")},
         j AS (SELECT sa, sb, na, nb, sum(sqrt(CAST(wa * wb AS DOUBLE))) AS sw
               FROM cum GROUP BY sa, sb, na, nb)
         SELECT sa, sb,
                round(sw / sqrt(CAST(na AS DOUBLE) * nb), 6) AS bc,
                round(sqrt(greatest(0.0, 1.0 - sw / sqrt(CAST(na AS DOUBLE) * nb))), 6)
                  AS hellinger
         FROM j ORDER BY sa, sb""")),

    // Laplace-smoothed Rényi-2 divergence D₂(a ‖ b) =
    // ln Σ_b pa² / pb́ with pb́ = (wb + 1)/(nb + |B|) over the GLOBAL
    // bucket spine (|B| = the pair's grid rows) — smoothing keeps the
    // reference support full, so the statistic is finite for every
    // ORDERED pair: each unordered grid pair yields both directions.
    Query("q_x_renyi", (s, d) =>
      pairGrid(s, d, expr("n_chars div 20"))
        .withColumn("nbuckets", count(lit(1)).over(Window.partitionBy(col("sa"), col("sb"))))
        .groupBy(col("sa"), col("sb"))
        .agg(
          sum((col("wa").cast("double") * col("wa") /
            (col("na").cast("double") * col("na"))) /
            ((col("wb") + 1).cast("double") / (col("nb") + col("nbuckets")))).as("sab"),
          sum((col("wb").cast("double") * col("wb") /
            (col("nb").cast("double") * col("nb"))) /
            ((col("wa") + 1).cast("double") / (col("na") + col("nbuckets")))).as("sba"))
        .selectExpr(
          "stack(2, sa, sb, round(ln(sab), 6), sb, sa, round(ln(sba), 6)) AS (sa, sb, renyi2)")
        .orderBy(col("sa"), col("sb")), Some(
      s"""WITH ${pairGridSql("n_chars // 20")},
         rs AS (SELECT sa, sb,
                  sum((CAST(wa AS DOUBLE) * wa / (CAST(na AS DOUBLE) * na))
                      / ((CAST(wb AS DOUBLE) + 1) / (nb + nbuckets))) AS sab,
                  sum((CAST(wb AS DOUBLE) * wb / (CAST(nb AS DOUBLE) * nb))
                      / ((CAST(wa AS DOUBLE) + 1) / (na + nbuckets))) AS sba
                FROM (SELECT *, count(*) OVER (PARTITION BY sa, sb) AS nbuckets FROM cum)
                GROUP BY sa, sb)
         SELECT sa, sb, round(ln(sab), 6) AS renyi2 FROM rs
         UNION ALL SELECT sb, sa, round(ln(sba), 6) FROM rs
         ORDER BY sa, sb"""))
  )
}

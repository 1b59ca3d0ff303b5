package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Cuts.CutOps
import graft.operators.DayGrain
import graft.Tables.table

/** Round-14 wave (SURVEY.md §2.8h): the production-form series/outlier
  * tests the r13 close notes queued — Sakoe–Chiba banded DTW (the
  * O(n·w) DTW a monitoring pipeline actually runs), generalized ESD
  * (the multi-outlier extension of q_x_grubbs), plus the rank/robust
  * family's remaining members.
  *
  * Shared scale shape (the §2.8g contract): every query reduces the
  * corpus to (event_type, day) or (source, doc-stat) grain in ONE
  * map-side-partial aggregate pass; everything after runs on
  * calendar- or dims-bounded frames, so a 100 TB corpus changes only
  * the first pass's width, never the per-type/per-pair algebra.
  */
object Round14 {
  /** Declared Sakoe–Chiba band half-width (|i−j| ≤ w). */
  private val BandW = 14

  /** Exact-integer "no path" sentinel: 2⁶² keeps INF + any day-grain
    * cost sum far below Long overflow while dwarfing every genuine
    * banded-path cost; cells ≥ INF/2 read as unreachable. The SAME
    * literals appear in the oracle.
    */
  private val Inf = 1L << 62
  private val InfHalf = Inf / 2

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

  /** Oracle CTE for one ESD round: stats over `src`, pick the argmax
    * deviation row, and `d{rnd}` = src minus the pick.
    */
  private def esdOracleRound(src: String, rnd: Int): String =
    s"""
 s$rnd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c*c) AS BIGINT) AS sq
            FROM $src GROUP BY 1),
 p$rnd AS (SELECT d.event_type, d.day, d.c, s.n,
              abs(d.c - CAST(s.sc AS DOUBLE) / s.n) AS dev,
              sqrt((s.sq - CAST(s.sc AS DOUBLE) * s.sc / s.n) / (s.n - 1)) AS sd,
              row_number() OVER (PARTITION BY d.event_type
                ORDER BY abs(d.c - CAST(s.sc AS DOUBLE) / s.n) DESC, d.day) AS rk
            FROM $src d JOIN s$rnd s ON s.event_type = d.event_type
            WHERE s.n >= 3),
 o$rnd AS (SELECT event_type, day, c, dev / sd AS r_stat
            FROM p$rnd WHERE rk = 1 AND sd > 0),
 d$rnd AS (SELECT d.* FROM $src d LEFT JOIN o$rnd o
              ON o.event_type = d.event_type AND o.day = d.day
            WHERE o.day IS NULL)"""

  val queries: Seq[Query] = Seq(

    // Sakoe–Chiba banded DTW between every pair of event types' daily
    // count series: q_x_dtw's exact BIGINT min-plus DP restricted to
    // |i−j| ≤ w (declared w = 14) — the O(n·w) production form (the
    // band bounds the inner prefix-min to ≤ 2w+1 entry points per
    // cell, vs j for the unbanded unroll). Out-of-band cells hold the
    // declared 2⁶² sentinel; every in-band cell (i ≥ 2) has an
    // in-band predecessor — (i−1, j−1), or (i−1, 1) when j = 1 — so
    // the sentinel never contaminates a reachable cell. Pairs with
    // |n_a−n_b| > w (final cell out of band) surface with NULL
    // dtw_band/dtw_norm — declared, not dropped.
    Query("q_x_dtw_band", (s, d) => {
      val dc = DayGrain.counts(s, d)
      val ser = dc.groupBy(col("event_type"))
        .agg(expr("transform(sort_array(collect_list(struct(day, c))), x -> x.c)").as("s"),
          count(lit(1)).as("n"))
      val pairs = ser.toDF("type_a", "xa", "n_a")
        .join(broadcast(ser.toDF("type_b", "yb", "n_b")),
          col("type_a") < col("type_b"))
      val w = BandW
      pairs
        .withColumn("pm", expr(
          """transform(xa, x -> transform(sequence(1, CAST(n_b AS INT)), j ->
               aggregate(slice(yb, 1, j), CAST(0 AS BIGINT), (acc, y) -> acc + abs(x - y))))"""))
        .withColumn("dlast", expr(
          s"""CASE WHEN n_a < 2 THEN
                transform(sequence(1, CAST(n_b AS INT)), j ->
                  CASE WHEN j > 1 + $w THEN CAST($Inf AS BIGINT)
                       ELSE element_at(element_at(pm, 1), j) END)
              ELSE
              aggregate(sequence(2, CAST(n_a AS INT)),
                transform(sequence(1, CAST(n_b AS INT)), j ->
                  CASE WHEN j > 1 + $w THEN CAST($Inf AS BIGINT)
                       ELSE element_at(element_at(pm, 1), j) END),
                (prev, i) -> transform(sequence(1, CAST(n_b AS INT)), j ->
                  CASE WHEN abs(i - j) > $w THEN CAST($Inf AS BIGINT) ELSE
                  element_at(element_at(pm, i), j)
                  + array_min(transform(sequence(greatest(1, i - $w), j), k ->
                      (CASE WHEN k = 1 THEN element_at(prev, 1)
                            ELSE least(element_at(prev, k), element_at(prev, k - 1)) END)
                      - (CASE WHEN k = 1 THEN CAST(0 AS BIGINT)
                              ELSE element_at(element_at(pm, i), k - 1) END)))
                  END))
              END"""))
        .selectExpr("type_a", "type_b", "n_a", "n_b",
          s"""CASE WHEN abs(n_a - n_b) > $w
                     OR element_at(dlast, CAST(n_b AS INT)) >= CAST($InfHalf AS BIGINT)
                THEN NULL ELSE element_at(dlast, CAST(n_b AS INT)) END AS dtw_band""",
          s"""CASE WHEN abs(n_a - n_b) > $w
                     OR element_at(dlast, CAST(n_b AS INT)) >= CAST($InfHalf AS BIGINT)
                THEN NULL
                ELSE round(CAST(element_at(dlast, CAST(n_b AS INT)) AS DOUBLE) / (n_a + n_b), 6)
                END AS dtw_norm""")
        .orderBy(col("type_a"), col("type_b"))
    }, Some(
      // Same prefix-min unroll as the q_x_dtw oracle with the k-range
      // clipped to the band and out-of-band cells pinned to the same
      // 2⁶² sentinel; the horizontal-run prefix sums re-base at the
      // band's entry column (exact BIGINTs — algebraically identical to
      // Spark's global-prefix difference form).
      s"""WITH RECURSIVE dc AS (
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
                    CASE WHEN j > 1 + $BandW THEN CAST($Inf AS BIGINT)
                         ELSE CAST(list_sum(list_transform(yb[1:j], y -> abs(xa[1] - y))) AS BIGINT) END) AS d
           FROM pr
           UNION ALL
           SELECT type_a, type_b, na, nb, xa, yb, i + 1,
                  list_transform(range(1, CAST(nb AS INTEGER) + 1), j ->
                    CASE WHEN abs(i + 1 - j) > $BandW THEN CAST($Inf AS BIGINT) ELSE
                    CAST(list_sum(list_transform(yb[CAST(greatest(1, i + 1 - $BandW) AS INTEGER):j],
                           y -> abs(xa[CAST(i AS INTEGER) + 1] - y))) AS BIGINT)
                    + list_min(list_transform(range(CAST(greatest(1, i + 1 - $BandW) AS INTEGER), j + 1), k ->
                        (CASE WHEN k = 1 THEN d[1]
                              ELSE least(d[k], d[k - 1]) END)
                        - (CASE WHEN k = CAST(greatest(1, i + 1 - $BandW) AS INTEGER) THEN CAST(0 AS BIGINT)
                                ELSE CAST(list_sum(list_transform(yb[CAST(greatest(1, i + 1 - $BandW) AS INTEGER):CAST(k AS INTEGER) - 1],
                                       y -> abs(xa[CAST(i AS INTEGER) + 1] - y))) AS BIGINT) END)))
                    END)
           FROM r WHERE i < na)
         SELECT type_a, type_b, na AS n_a, nb AS n_b,
                CASE WHEN abs(na - nb) > $BandW OR d[CAST(nb AS INTEGER)] >= CAST($InfHalf AS BIGINT)
                     THEN NULL ELSE d[CAST(nb AS INTEGER)] END AS dtw_band,
                CASE WHEN abs(na - nb) > $BandW OR d[CAST(nb AS INTEGER)] >= CAST($InfHalf AS BIGINT)
                     THEN NULL
                     ELSE round(CAST(d[CAST(nb AS INTEGER)] AS DOUBLE) / (na + nb), 6) END AS dtw_norm
         FROM r WHERE i = na ORDER BY type_a, type_b""")),

    // Generalized ESD outlier test per event type over daily counts:
    // DECLARED k = 3 unrolled rounds of (mean, sample sd, argmax
    // |c−mean|/sd, remove) — the multi-outlier extension of
    // q_x_grubbs (one Grubbs pass cannot see a second outlier masked
    // by the first). Declared rules: sample sd (n−1); argmax tie →
    // earliest day; a round emits only when n ≥ 3 and sd > 0 (and
    // removal stops there). All stats derive from exact integer
    // Σc/Σc² — no order-sensitive double accumulation — so both
    // engines compute identical doubles. The day-grain frame is
    // lineage-cut once; three passes run over k·calendar rows, never
    // the corpus.
    Query("q_x_esd", (s, d) => {
      val dc = DayGrain.counts(s, d).cut(eager = true)
      def esdRound(src: DataFrame): (DataFrame, DataFrame) = {
        import org.apache.spark.sql.expressions.Window
        val st = src.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("sq"))
        val p = src.join(broadcast(st), "event_type")
          .filter(col("n") >= 3)
          .withColumn("dev", abs(col("c") - col("sc").cast("double") / col("n")))
          .withColumn("sd", sqrt((col("sq") - col("sc").cast("double") * col("sc") / col("n"))
            / (col("n") - 1)))
          .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
            .orderBy(col("dev").desc, col("day"))))
        // lazy cuts (r17): `out` is read twice (the final union AND
        // this round's anti join) and `rest` feeds the next round,
        // which reads IT twice (stats + join side) — uncut, round 3
        // re-executed round 1's window subtree ~4x. Frames are
        // calendar-sized; what the cuts remove is the re-executed
        // stage chains, not data.
        val out = p.filter(col("rk") === 1 && col("sd") > 0)
          .select(col("event_type"), col("day"), col("c"),
            (col("dev") / col("sd")).as("r_stat"))
          .cut()
        val rest = src.join(out.select(col("event_type"), col("day")),
          Seq("event_type", "day"), "left_anti")
          .cut()
        (out, rest)
      }
      val (o1, d1) = esdRound(dc)
      val (o2, d2) = esdRound(d1)
      val (o3, _) = esdRound(d2)
      def tag(df: DataFrame, r: Int): DataFrame =
        df.select(col("event_type"), lit(r.toLong).as("rnd"),
          col("day").cast("string").as("out_day"), col("c").as("c_out"),
          round(col("r_stat"), 6).as("r_stat"))
      tag(o1, 1).unionAll(tag(o2, 2)).unionAll(tag(o3, 3))
        .orderBy(col("event_type"), col("rnd"))
    }, Some(
      // Three textually-unrolled rounds of the same declared rules
      // (sample sd, earliest-day tie, n ≥ 3 ∧ sd > 0 emission guard).
      s"""WITH dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),${esdOracleRound("dc", 1)},${esdOracleRound("d1", 2)},${esdOracleRound("d2", 3)}
         SELECT event_type, rnd, CAST(day AS VARCHAR) AS out_day, c AS c_out,
                round(r_stat, 6) AS r_stat
         FROM (SELECT event_type, CAST(1 AS BIGINT) AS rnd, day, c, r_stat FROM o1
               UNION ALL SELECT event_type, CAST(2 AS BIGINT), day, c, r_stat FROM o2
               UNION ALL SELECT event_type, CAST(3 AS BIGINT), day, c, r_stat FROM o3)
         ORDER BY event_type, rnd""")),

    // Fligner–Killeen homogeneity-of-variance test across sources on
    // document lengths — the RANK-based member next to q_x_levene
    // (deviation means) and q_x_bartlett (normal-theory): |x − group
    // median| pooled, midranked, mapped through normal quantiles
    // a = Φ⁻¹(½ + r/(2(N+1))), χ² = Σ nᵢ(Āᵢ − ā)²/V². Midranks are
    // exact integers via the kruskal value-grain cross-join (each
    // source partition sees the full pooled value list, so the
    // PARTITIONED cumulative = pooled rank — no corpus-grain
    // unpartitioned window); Φ⁻¹ is the declared Acklam rational
    // approximation, textually identical in both engines; every
    // double fold is either a per-source running-sum window (scores
    // > 0 ⇒ monotone ⇒ max = last) or a sorted-single-partition k·
    // value-grain fold, so accumulation order matches DuckDB's
    // running windows exactly.
    Query("q_x_fligner", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents").select(col("source"), col("n_chars"))
      val med = docs.groupBy(col("source")).agg(expr("median(n_chars)").as("m"))
      val cell = docs.join(broadcast(med), "source")
        .select(col("source"), abs(col("n_chars") - col("m")).as("dv"))
        .groupBy(col("source"), col("dv")).agg(count(lit(1)).as("cnt"))
        .cut(eager = true)
      val gs = cell.groupBy(col("dv")).agg(sum(col("cnt")).as("tot"))
      val nn = gs.agg(sum(col("tot")).as("n"))
      val uni = broadcast(cell.select(col("source")).distinct())
        .crossJoin(gs)
        .join(cell, Seq("source", "dv"), "left").na.fill(0L, Seq("cnt"))
      val w = Window.partitionBy(col("source")).orderBy(col("dv"))
      val r = uni.withColumn("r2",
          lit(2L) * coalesce(sum(col("tot")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            + col("tot") + 1L)
        .crossJoin(broadcast(nn))
        .withColumn("a", expr(qnormExpr("0.5 + CAST(r2 AS DOUBLE) / (4 * (n + 1))")))
      val src = r
        .withColumn("run_sa", sum(col("cnt") * col("a")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"), sum(col("cnt")).as("ni"),
          max(col("run_sa")).as("sa"))
      val ab = src.coalesce(1).sortWithinPartitions(col("source"))
        .agg((sum(col("sa")) / max(col("n"))).as("abar"))
      val vv = r.coalesce(1).sortWithinPartitions(col("source"), col("dv"))
        .crossJoin(broadcast(ab))
        .agg((sum(col("cnt") * (col("a") - col("abar")) * (col("a") - col("abar")))
          / (max(col("n")) - 1)).as("v2"))
      val x2 = src.coalesce(1).sortWithinPartitions(col("source"))
        .crossJoin(broadcast(ab))
        .agg(count(lit(1)).as("k"),
          sum(col("ni") * (col("sa") / col("ni") - col("abar"))
            * (col("sa") / col("ni") - col("abar"))).as("num"))
      src.crossJoin(broadcast(vv)).crossJoin(broadcast(x2))
        .select(col("source"), col("ni").as("n"),
          round(col("sa") / col("ni"), 6).as("a_mean"),
          round(col("num") / col("v2"), 6).as("chi2"),
          (col("k") - 1).as("df"))
        .orderBy(col("source"))
    }, Some(
      // Same value-grain midrank cross-join, the same Acklam Φ⁻¹ text
      // (qnormExpr — shared builder), and every double fold as a
      // RUNNING window whose order is guaranteed by definition — the
      // left-to-right accumulation matches Spark's sorted-single-
      // partition folds term for term.
      s"""WITH med AS (SELECT source, median(n_chars) AS m FROM documents GROUP BY 1),
         cell AS (SELECT d.source, abs(d.n_chars - med.m) AS dv,
                    CAST(count(*) AS BIGINT) AS cnt
                  FROM documents d JOIN med ON med.source = d.source
                  GROUP BY 1, 2),
         gs AS (SELECT dv, CAST(sum(cnt) AS BIGINT) AS tot FROM cell GROUP BY 1),
         nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n FROM gs),
         uni AS (SELECT s.source, g.dv, g.tot, COALESCE(c.cnt, 0) AS cnt
                 FROM (SELECT DISTINCT source FROM cell) s
                 CROSS JOIN gs g
                 LEFT JOIN cell c ON c.source = s.source AND c.dv = g.dv),
         r AS (SELECT u.source, u.dv, u.cnt, nn.n,
                 ${qnormExpr("0.5 + CAST(2 * COALESCE(sum(u.tot) OVER (PARTITION BY u.source ORDER BY u.dv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + u.tot + 1 AS DOUBLE) / (4 * (nn.n + 1))")} AS a
               FROM uni u, nn),
         src AS (SELECT source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS ni,
                   max(run_sa) AS sa
                 FROM (SELECT source, n, cnt,
                         sum(cnt * a) OVER (PARTITION BY source ORDER BY dv
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sa
                       FROM r)
                 GROUP BY source),
         ab AS (SELECT max(run_s) / max(n) AS abar FROM
                  (SELECT n, sum(sa) OVER (ORDER BY source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_s
                   FROM src)),
         vv AS (SELECT max(run_v) / (max(n) - 1) AS v2 FROM
                  (SELECT r.n, sum(r.cnt * (r.a - ab.abar) * (r.a - ab.abar))
                     OVER (ORDER BY r.source, r.dv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_v
                   FROM r, ab)),
         x2 AS (SELECT CAST(count(*) AS BIGINT) AS k, max(run_x) AS num FROM
                  (SELECT sum(s.ni * (s.sa / s.ni - ab.abar) * (s.sa / s.ni - ab.abar))
                     OVER (ORDER BY s.source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_x
                   FROM src s, ab))
         SELECT s.source, s.ni AS n, round(s.sa / s.ni, 6) AS a_mean,
                round(x2.num / vv.v2, 6) AS chi2, x2.k - 1 AS df
         FROM src s, x2, vv ORDER BY s.source""")),

    // Ansari–Bradley scale test, each source vs the POOLED corpus
    // (one-vs-rest): pooled midranks over ALL document lengths fold
    // to the doubled AB score 2a = min(2r, 2(N+1)−2r) — an exact
    // BIGINT per value — so the per-source statistic 2Aᵢ = Σ cnt·2a
    // is exact integer arithmetic end to end; only the declared
    // no-ties normal approximation (both N-parity branches, cast to
    // DOUBLE before the products to stay overflow-safe at corpus N)
    // touches doubles, in one textually-shared expression. One-vs-
    // rest means ONE pooled ranking serves every source — one corpus
    // pass + the kruskal value-grain cross-join, vs k² pooled
    // re-rankings for all-pairs.
    Query("q_x_ansari", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents").select(col("source"), col("n_chars"))
      val gs = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("tot"))
      val nn = gs.agg(sum(col("tot")).as("n"))
      val gl = docs.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("cnt"))
      val uni = broadcast(docs.select(col("source")).distinct())
        .crossJoin(gs)
        .join(gl, Seq("source", "n_chars"), "left").na.fill(0L, Seq("cnt"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ps = uni
        .withColumn("r2",
          lit(2L) * coalesce(sum(col("tot")).over(w), lit(0L)) + col("tot") + 1L)
        .crossJoin(broadcast(nn))
        .groupBy(col("source"), col("n"))
        .agg(sum(col("cnt")).as("ni"),
          sum(col("cnt") * least(col("r2"), lit(2L) * (col("n") + 1L) - col("r2")))
            .as("a2"))
      ps.selectExpr("source", "ni AS n", "a2",
        """round((CAST(a2 AS DOUBLE) / 2 -
                  CASE WHEN n % 2 = 0 THEN CAST(ni AS DOUBLE) * (n + 2) / 4
                       ELSE CAST(ni AS DOUBLE) * (n + 1) * (n + 1) / (4 * n) END)
                 / sqrt(CASE WHEN n % 2 = 0
                      THEN CAST(ni AS DOUBLE) * (n - ni) * (n + 2) * (n - 2) / (48 * (n - 1))
                      ELSE CAST(ni AS DOUBLE) * (n - ni) * (n + 1) * (3 + n * n) / (48 * CAST(n AS DOUBLE) * n) END), 6) AS z""")
        .orderBy(col("source"))
    }, Some(
      // Same pooled midranks (kruskal cross-join), exact BIGINT 2A,
      // and the textually-shared two-branch normal approximation.
      """WITH gs AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS tot
                     FROM documents GROUP BY n_chars),
         gl AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt
                FROM documents GROUP BY source, n_chars),
         nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n FROM gs),
         uni AS (SELECT s.source, g.n_chars, g.tot, COALESCE(l.cnt, 0) AS cnt
                 FROM (SELECT DISTINCT source FROM documents) s
                 CROSS JOIN gs g
                 LEFT JOIN gl l ON l.source = s.source AND l.n_chars = g.n_chars),
         r AS (SELECT u.source, u.cnt, nn.n,
                 2 * COALESCE(sum(u.tot) OVER (PARTITION BY u.source ORDER BY u.n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + u.tot + 1 AS r2
               FROM uni u, nn),
         ps AS (SELECT source, max(n) AS n, CAST(sum(cnt) AS BIGINT) AS ni,
                  CAST(sum(cnt * least(r2, 2 * (n + 1) - r2)) AS BIGINT) AS a2
                FROM r GROUP BY source)
         SELECT source, ni AS n, a2,
                round((CAST(a2 AS DOUBLE) / 2 -
                       CASE WHEN n % 2 = 0 THEN CAST(ni AS DOUBLE) * (n + 2) / 4
                            ELSE CAST(ni AS DOUBLE) * (n + 1) * (n + 1) / (4 * n) END)
                      / sqrt(CASE WHEN n % 2 = 0
                           THEN CAST(ni AS DOUBLE) * (n - ni) * (n + 2) * (n - 2) / (48 * (n - 1))
                           ELSE CAST(ni AS DOUBLE) * (n - ni) * (n + 1) * (3 + n * n) / (48 * CAST(n AS DOUBLE) * n) END), 6) AS z
         FROM ps ORDER BY source"""))
  )
}

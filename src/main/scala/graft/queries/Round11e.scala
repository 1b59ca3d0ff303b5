package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-11 wave 5 (SURVEY.md §2.8e): time-series cross-correlation,
  * epidemiology-grade association audits (odds ratios with confidence
  * intervals, the Cochran–Mantel–Haenszel stratified test), the
  * intraclass correlation (batch-effect audit), and graph modularity
  * of a labeled partition — the remaining association/cohesion
  * statistics of the reference's ad-hoc SQL audit surface
  * (reference README.md:62-78).
  *
  * Determinism (§7.4): all contingency cells and series moments are
  * exact BIGINTs (event values ride at cent grain — the fixture's
  * values are 2dp-exact, asserted by Round11eSpec); every ≤k-row
  * double fold (CMH strata, ICC groups, modularity labels) runs on
  * ONE sorted partition in Spark and an ORDER BY subquery in the
  * oracle (the q_x_levene pattern); closed-form outputs evaluate
  * IDENTICAL expression text in both engines and round at 6dp.
  */
object Round11e {
  // Pearson r from exact integer moments — shared text, identical fp
  // op order in both engines (the q_x_linreg pattern).
  private val rTxt =
    """((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))"""

  // Haldane-corrected odds ratio pieces over exact cells a,b,c,d —
  // shared text (correction applied unconditionally: the declared
  // estimator).
  private val orTxt =
    """(((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5)) /
        ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)))"""
  private val seTxt =
    """sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5) + 1.0 / (CAST(b AS DOUBLE) + 0.5) +
            1.0 / (CAST(c AS DOUBLE) + 0.5) + 1.0 / (CAST(d AS DOUBLE) + 0.5))"""

  val queries: Seq[Query] = Seq(

    // Cross-correlation function between the click and view hourly
    // count series at lags 0..6 hours — the lead/lag diagnostic of a
    // metrics pipeline. Series moments are exact BIGINTs per lag over
    // co-observed hours; corpus work is ONE (type, hour) aggregate,
    // the lag join runs at hour grain (constant per day of data).
    Query("q_x_ccf", (s, d) => {
      val hrs = table(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
      val x = hrs.filter(col("event_type") === "click")
        .select(col("hr"), col("c").as("x"))
      val y = hrs.filter(col("event_type") === "view")
        .select(col("hr").as("hry"), col("c").as("y"))
      val lags = broadcast(s.range(0, 7).select(col("id").as("lag")))
      x.crossJoin(lags)
        .join(y, col("hry") === col("hr") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n"), expr(s"round($rTxt, 6)").as("ccf"))
        .orderBy(col("lag"))
    }, Some(
      s"""WITH hrs AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                             CAST(count(*) AS BIGINT) AS c
                       FROM events WHERE event_type IN ('click', 'view')
                       GROUP BY event_type, hr),
         x AS (SELECT hr, c AS x FROM hrs WHERE event_type = 'click'),
         y AS (SELECT hr AS hry, c AS y FROM hrs WHERE event_type = 'view'),
         p AS (SELECT l.range AS lag, x.x, y.y
               FROM x CROSS JOIN range(0, 7) l
               JOIN y ON y.hry = x.hr + l.range),
         mom AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                        CAST(sum(x * y) AS BIGINT) AS sxy,
                        CAST(sum(x * x) AS BIGINT) AS sxx,
                        CAST(sum(y * y) AS BIGINT) AS syy
                 FROM p GROUP BY lag)
         SELECT lag, n, round($rTxt, 6) AS ccf
         FROM mom ORDER BY lag""")),

    // Per-source odds ratio of being English vs the rest of the
    // corpus, with the 95% CI on the log scale — the per-slice
    // association report of a filter audit. Cells are exact BIGINTs
    // from one per-source aggregate + broadcast totals; no fold.
    Query("q_x_odds_ratio", (s, d) => {
      val docs = table(s, d, "documents")
      val per = docs.groupBy(col("source"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("n"))
      val g = docs.agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ge"),
        count(lit(1)).as("gn"))
      per.crossJoin(broadcast(g))
        .selectExpr("source", "a", "n - a AS b", "ge - a AS c",
          "gn - n - (ge - a) AS d")
        .selectExpr("source", "a", "b", "c", "d",
          s"round($orTxt, 6) AS odds_ratio",
          s"round(exp(ln($orTxt) - 1.96 * $seTxt), 6) AS ci_lo",
          s"round(exp(ln($orTxt) + 1.96 * $seTxt), 6) AS ci_hi")
        .orderBy(col("source"))
    }, Some(
      s"""WITH per AS (SELECT source,
                        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                        CAST(count(*) AS BIGINT) AS n
                  FROM documents GROUP BY source),
         g AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ge,
                      CAST(count(*) AS BIGINT) AS gn
               FROM documents),
         cells AS (SELECT source, a, n - a AS b, ge - a AS c,
                          gn - n - (ge - a) AS d
                   FROM per, g)
         SELECT source, a, b, c, d,
                round($orTxt, 6) AS odds_ratio,
                round(exp(ln($orTxt) - 1.96 * $seTxt), 6) AS ci_lo,
                round(exp(ln($orTxt) + 1.96 * $seTxt), 6) AS ci_hi
         FROM cells ORDER BY source""")),

    // Cochran–Mantel–Haenszel test of (long doc) × (English) across
    // source strata — "does the length/language association survive
    // controlling for source?". Per-stratum margins are exact BIGINTs;
    // the ≤|sources|-row double fold (Σ a−E, Σ V) runs single sorted
    // partition; the statistic is one shared final expression.
    Query("q_x_cmh", (s, d) => {
      val cells = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(when(col("n_chars") > 200 && col("lang") === "en", 1L)
            .otherwise(0L)).as("a"),
          sum(when(col("n_chars") > 200, 1L).otherwise(0L)).as("r1"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"),
          count(lit(1)).as("nk"))
        .filter(col("nk") > 1)
      cells.coalesce(1).sortWithinPartitions(col("source"))
        .agg(count(lit(1)).as("n_strata"),
          sum(col("a").cast("double") -
            col("r1").cast("double") * col("c1") / col("nk")).as("dev"),
          sum(col("r1").cast("double") * (col("nk") - col("r1")) * col("c1") *
            (col("nk") - col("c1")) /
            (col("nk").cast("double") * col("nk") * (col("nk") - 1))).as("v"))
        .selectExpr("n_strata", "round(dev, 6) AS deviation",
          "round(dev * dev / v, 6) AS cmh_stat")
    }, Some(
      """WITH cells AS (SELECT source,
                 CAST(sum(CASE WHEN n_chars > 200 AND lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
                 CAST(sum(CASE WHEN n_chars > 200 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS nk
               FROM documents GROUP BY source HAVING count(*) > 1),
         f AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                      sum(CAST(a AS DOUBLE) - CAST(r1 AS DOUBLE) * c1 / nk) AS dev,
                      sum(CAST(r1 AS DOUBLE) * (nk - r1) * c1 * (nk - c1) /
                          (CAST(nk AS DOUBLE) * nk * (nk - 1))) AS v
               FROM (SELECT * FROM cells ORDER BY source))
         SELECT n_strata, round(dev, 6) AS deviation,
                round(dev * dev / v, 6) AS cmh_stat
         FROM f""")),

    // Intraclass correlation ICC(1) of event value within
    // (event_type, day) cells — the batch-effect audit ("how much of
    // the variance is the batch?"). Values ride at EXACT cent grain
    // (2dp fixture values, spec-asserted); per-cell moments are
    // BIGINTs; the ≤|cells|-row double fold runs single sorted
    // partition; the unbalanced-design n0 and the F decomposition are
    // one shared final expression.
    Query("q_x_icc", (s, d) => {
      val cellsRaw = table(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("ni"), sum(col("v")).as("ti"),
          sum(col("v") * col("v")).as("qi"))
      cellsRaw.coalesce(1).sortWithinPartitions(col("event_type"), col("day"))
        .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum(col("ti")).as("t"), sum(col("qi")).as("q"),
          sum(col("ti").cast("double") * col("ti") / col("ni")).as("btw"),
          sum(col("ni").cast("double") * col("ni")).as("sn2"))
        .selectExpr("k", "n",
          """round((((btw - CAST(t AS DOUBLE) * t / n) / (k - 1)) -
               ((CAST(q AS DOUBLE) - btw) / (n - k))) /
              (((btw - CAST(t AS DOUBLE) * t / n) / (k - 1)) +
               (((CAST(n AS DOUBLE) - sn2 / n) / (k - 1)) - 1) *
                 ((CAST(q AS DOUBLE) - btw) / (n - k))), 6) AS icc""",
          // mean squares surface only as their SCALE-FREE ratio: the
          // raw MSB/MSW are ~1e7-magnitude double folds whose last bit
          // differs cross-engine — the ratio cancels the magnitude
          """round(((btw - CAST(t AS DOUBLE) * t / n) / (k - 1)) /
               ((CAST(q AS DOUBLE) - btw) / (n - k)), 6) AS f_stat""")
    }, Some(
      """WITH cells AS (SELECT event_type, CAST(ts AS DATE) AS day,
                               CAST(count(*) AS BIGINT) AS ni,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ti,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)
                                        * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS qi
                        FROM events GROUP BY event_type, CAST(ts AS DATE)),
         f AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n,
                      CAST(sum(ti) AS BIGINT) AS t, CAST(sum(qi) AS BIGINT) AS q,
                      sum(CAST(ti AS DOUBLE) * ti / ni) AS btw,
                      sum(CAST(ni AS DOUBLE) * ni) AS sn2
               FROM (SELECT * FROM cells ORDER BY event_type, day))
         SELECT k, n,
                round((((btw - CAST(t AS DOUBLE) * t / n) / (k - 1)) -
                   ((CAST(q AS DOUBLE) - btw) / (n - k))) /
                  (((btw - CAST(t AS DOUBLE) * t / n) / (k - 1)) +
                   (((CAST(n AS DOUBLE) - sn2 / n) / (k - 1)) - 1) *
                     ((CAST(q AS DOUBLE) - btw) / (n - k))), 6) AS icc,
                round(((btw - CAST(t AS DOUBLE) * t / n) / (k - 1)) /
                      ((CAST(q AS DOUBLE) - btw) / (n - k)), 6) AS f_stat
         FROM f""")),

    // Newman modularity of the embedding LABEL partition on the
    // cosine graph (threshold 0.3, the q_x_triangles edge set):
    // Q = Σ_l [ e_l/m − (d_l/2m)² ]. Edge/degree masses per label are
    // exact BIGINTs from two joins against the broadcast label map;
    // the ≤|labels|-row double fold runs single sorted partition.
    Query("q_x_modularity", (s, d) => {
      val e = graft.operators.CosGraph.edges(s, d, threshold = 0.3)
      val lab = broadcast(table(s, d, "embeddings")
        .select(col("vec_id"), col("label")))
      val el = e.join(lab.select(col("vec_id").as("a"), col("label").as("la")), "a")
        .join(lab.select(col("vec_id").as("b"), col("label").as("lb")), "b")
      val m = el.agg(count(lit(1)).as("m"))
      val win = el.filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
      val deg = el.select(col("la").as("label"))
        .unionAll(el.select(col("lb").as("label")))
        .groupBy(col("label")).agg(count(lit(1)).as("d_l"))
      val per = deg.join(win, Seq("label"), "left").na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(m))
      val q = per.coalesce(1).sortWithinPartitions(col("label"))
        .agg(sum(col("e_in").cast("double") / col("m") -
          (col("d_l").cast("double") / (lit(2) * col("m"))) *
            (col("d_l").cast("double") / (lit(2) * col("m")))).as("q"))
      per.select(col("label"), col("e_in"), col("d_l"), col("m"))
        .crossJoin(broadcast(q.selectExpr("round(q, 6) AS modularity")))
        .orderBy(col("label"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, label, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, label AS la, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, label AS lb, embedding AS cv, nrm AS cn FROM nv),
         e AS (SELECT la, lb FROM (
                 SELECT la, lb, round(${Extensions.knnCosSql}, 9) AS cos
                 FROM a JOIN b ON id_a < id_b)
               WHERE cos >= 0.3),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         win AS (SELECT la AS label, CAST(count(*) AS BIGINT) AS e_in
                 FROM e WHERE la = lb GROUP BY la),
         deg AS (SELECT label, CAST(count(*) AS BIGINT) AS d_l FROM (
                   SELECT la AS label FROM e UNION ALL SELECT lb FROM e)
                 GROUP BY label),
         per AS (SELECT deg.label, coalesce(win.e_in, 0) AS e_in, deg.d_l, m.m
                 FROM deg LEFT JOIN win ON deg.label = win.label, m),
         q AS (SELECT round(sum(CAST(e_in AS DOUBLE) / m -
                   (CAST(d_l AS DOUBLE) / (2 * m)) * (CAST(d_l AS DOUBLE) / (2 * m))), 6)
                 AS modularity
               FROM (SELECT * FROM per ORDER BY label))
         SELECT per.label, per.e_in, per.d_l, per.m, q.modularity
         FROM per, q ORDER BY per.label"""))
  )
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.TextFunctions

/** Round-11 wave 3 (SURVEY.md §2.8e): the governance/audit layer a
  * training-data pipeline runs before release — re-identification
  * risk (k-anonymity, l-diversity), filter-bias audits (fairness
  * gaps of the language-ID gate across sources), clustering evaluation (pair-counting P/R/F1 + adjusted
  * Rand between two dedup keyings), graph cohesion (local clustering
  * coefficient), the G-test of independence, the Cochran–Armitage
  * trend test, Neyman sampling allocation, and the Nelson–Aalen
  * cumulative-hazard companion to q_x_survival. Mirrors the ad-hoc
  * audit SQL the reference's warehouse surface supports
  * (reference README.md:62-78).
  *
  * Determinism (§7.4): counts stay BIGINT to the last expression;
  * the ≤k-row double folds (G-test cells, Neyman strata)
  * run on ONE sorted partition in Spark and an ORDER BY subquery in
  * the oracle (the q_x_levene pattern); per-cohort hazard cumsums
  * ride a partitioned window with a unique ORDER BY key so both
  * engines add in the same order.
  */
object Round11c {
  // language-ID-gate prediction shared by fairness (and Round11l's
  // MCC): yhat = "the en-stopword score wins the argmax" — the exact
  // q_x_lang_id rule.
  private[queries] def predEn: org.apache.spark.sql.Column =
    TextFunctions.langId(TextFunctions.tokens(col("text"))) === "en"

  private[queries] val langIdCte =
    """ SELECT source, lang = 'en' AS y,
             CASE WHEN greatest(sc_de, sc_en, sc_es, sc_fr) <= 0 THEN false
                  WHEN sc_de = greatest(sc_de, sc_en, sc_es, sc_fr) THEN false
                  WHEN sc_en = greatest(sc_de, sc_en, sc_es, sc_fr) THEN true
                  ELSE false END AS yhat
      FROM (SELECT source, lang,
                  len(list_intersect(string_split(text, ' '),
                      ['der','die','das','und','ist','ein','zu','nicht'])) AS sc_de,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to','in','is','it'])) AS sc_en,
                  len(list_intersect(string_split(text, ' '),
                      ['el','la','de','que','y','en','un','es'])) AS sc_es,
                  len(list_intersect(string_split(text, ' '),
                      ['le','la','de','et','un','est','que','pour'])) AS sc_fr
            FROM documents)"""

  val queries: Seq[Query] = Seq(

    // k-anonymity audit over the quasi-identifier (lang, source,
    // length-bucket): every class below k = 5 is a re-identification
    // risk. Pure hash aggregate — one shuffle on the QI key at any
    // corpus size.
    Query("q_x_k_anon", (s, d) =>
      table(s, d, "documents")
        .groupBy(col("lang"), col("source"),
          floor(col("n_chars") / 100).as("len_bucket"))
        .agg(count(lit(1)).as("class_size"))
        .withColumn("at_risk", col("class_size") < 5)
        .orderBy(col("lang"), col("source"), col("len_bucket")), Some(
      """SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
                count(*) AS class_size, count(*) < 5 AS at_risk
         FROM documents
         GROUP BY lang, source, floor(n_chars / 100)
         ORDER BY lang, source, len_bucket""")),

    // l-diversity on the (source, length-bucket) QI with `lang` as
    // the sensitive attribute: a class where every member shares one
    // language leaks it even at k-anonymous size.
    Query("q_x_l_diversity", (s, d) =>
      table(s, d, "documents")
        .groupBy(col("source"), floor(col("n_chars") / 100).as("len_bucket"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("lang")).as("l_count"))
        .withColumn("at_risk", col("l_count") < 2)
        .orderBy(col("source"), col("len_bucket")), Some(
      """SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
                count(*) AS class_size,
                count(DISTINCT lang) AS l_count,
                count(DISTINCT lang) < 2 AS at_risk
         FROM documents
         GROUP BY source, floor(n_chars / 100)
         ORDER BY source, len_bucket""")),

    // Fairness audit of the language-ID gate: per-source selection
    // rate, TPR, FPR (vs the labeled `lang`), with the global
    // max−min gaps (demographic parity / equalized odds) broadcast
    // onto every row. Exact integer confusion counts; three rounded
    // ratios; source-count-sized tables throughout.
    Query("q_x_fairness", (s, d) => {
      val per = table(s, d, "documents")
        .select(col("source"), (col("lang") === "en").as("y"), predEn.as("yhat"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("yhat"), 1L).otherwise(0L)).as("sel"),
          sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
          sum(when(col("y") && col("yhat"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("y") && col("yhat"), 1L).otherwise(0L)).as("fp"))
        .withColumn("sel_rate", round(col("sel").cast("double") / col("n"), 6))
        .withColumn("tpr", when(col("pos") > 0,
          round(col("tp").cast("double") / col("pos"), 6)))
        .withColumn("fpr", when(col("n") > col("pos"),
          round(col("fp").cast("double") / (col("n") - col("pos")), 6)))
      val gaps = per.agg(
        round(max(col("sel_rate")) - min(col("sel_rate")), 6).as("parity_gap"),
        round(max(col("tpr")) - min(col("tpr")), 6).as("tpr_gap"),
        round(max(col("fpr")) - min(col("fpr")), 6).as("fpr_gap"))
      per.crossJoin(broadcast(gaps))
        .select(col("source"), col("n"), col("sel_rate"), col("tpr"), col("fpr"),
          col("parity_gap"), col("tpr_gap"), col("fpr_gap"))
        .orderBy(col("source"))
    }, Some(
      s"""WITH scored AS ($langIdCte),
         per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                   round(CAST(sum(CASE WHEN yhat THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS sel_rate,
                   CASE WHEN sum(CASE WHEN y THEN 1 ELSE 0 END) > 0 THEN
                     round(CAST(sum(CASE WHEN y AND yhat THEN 1 ELSE 0 END) AS DOUBLE)
                           / sum(CASE WHEN y THEN 1 ELSE 0 END), 6) END AS tpr,
                   CASE WHEN count(*) - sum(CASE WHEN y THEN 1 ELSE 0 END) > 0 THEN
                     round(CAST(sum(CASE WHEN (NOT y) AND yhat THEN 1 ELSE 0 END) AS DOUBLE)
                           / (count(*) - sum(CASE WHEN y THEN 1 ELSE 0 END)), 6) END AS fpr
                 FROM scored GROUP BY source),
         gaps AS (SELECT round(max(sel_rate) - min(sel_rate), 6) AS parity_gap,
                         round(max(tpr) - min(tpr), 6) AS tpr_gap,
                         round(max(fpr) - min(fpr), 6) AS fpr_gap
                  FROM per)
         SELECT source, n, sel_rate, tpr, fpr, parity_gap, tpr_gap, fpr_gap
         FROM per, gaps ORDER BY source""")),

    // Clustering evaluation: pair-counting precision/recall/F1 and
    // adjusted Rand index of a cheap BLOCKING key (md5 of the 10-word
    // prefix — what an ER pipeline uses to bound candidate pairs)
    // against the order-insensitive bag-fingerprint truth (the
    // q_x_fingerprint key). All pair counts are exact n·(n−1) div 2
    // BIGINTs from cluster-size tables; the ratios are one shared
    // expression; a degenerate all-singleton corpus reports ARI = 1
    // (the partitions agree on every pair).
    Query("q_x_cluster_eval", (s, d) => {
      val keyed = table(s, d, "documents")
        .select(graft.functions.TextFunctions.bagFingerprint(col("text")).as("ka"),
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 10))).as("kb"))
      // integer pair count: (c·(c−1)) div 2 — `/` on longs would go
      // through DOUBLE and lose exactness past 2^53 pairs
      def p2(c: org.apache.spark.sql.Column) = expr("(c * (c - 1)) div 2")
      val sa = keyed.groupBy(col("ka")).agg(count(lit(1)).as("c"))
        .agg(sum(p2(col("c"))).as("pairs_true"), count(lit(1)).as("k_true"))
      val sb = keyed.groupBy(col("kb")).agg(count(lit(1)).as("c"))
        .agg(sum(p2(col("c"))).as("pairs_pred"), count(lit(1)).as("k_pred"))
      val both = keyed.groupBy(col("ka"), col("kb")).agg(count(lit(1)).as("c"))
        .agg(sum(p2(col("c"))).as("pairs_both"))
      val n = keyed.agg(count(lit(1)).as("n"))
      n.crossJoin(broadcast(sa)).crossJoin(broadcast(sb)).crossJoin(broadcast(both))
        .selectExpr("n", "k_true", "k_pred", "pairs_true", "pairs_pred", "pairs_both",
          """round(CASE WHEN pairs_pred > 0
               THEN CAST(pairs_both AS DOUBLE) / pairs_pred END, 6) AS precision""",
          """round(CASE WHEN pairs_true > 0
               THEN CAST(pairs_both AS DOUBLE) / pairs_true END, 6) AS recall""",
          """round(CASE WHEN pairs_true + pairs_pred > 0
               THEN 2.0 * CAST(pairs_both AS DOUBLE) / (pairs_true + pairs_pred) END, 6) AS f1""",
          """round(CASE WHEN (CAST(pairs_true AS DOUBLE) + pairs_pred) / 2
                     - CAST(pairs_true AS DOUBLE) * pairs_pred
                       / (CAST(n AS DOUBLE) * (n - 1) / 2) = 0.0 THEN 1.0
               ELSE (pairs_both - CAST(pairs_true AS DOUBLE) * pairs_pred
                     / (CAST(n AS DOUBLE) * (n - 1) / 2)) /
                  ((CAST(pairs_true AS DOUBLE) + pairs_pred) / 2
                     - CAST(pairs_true AS DOUBLE) * pairs_pred
                       / (CAST(n AS DOUBLE) * (n - 1) / 2)) END, 6) AS ari""")
    }, Some(
      """WITH keyed AS (SELECT
                  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS ka,
                  md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS kb
           FROM documents),
         sa AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pairs_true,
                       CAST(count(*) AS BIGINT) AS k_true
                FROM (SELECT count(*) AS c FROM keyed GROUP BY ka)),
         sb AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pairs_pred,
                       CAST(count(*) AS BIGINT) AS k_pred
                FROM (SELECT count(*) AS c FROM keyed GROUP BY kb)),
         bo AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pairs_both
                FROM (SELECT count(*) AS c FROM keyed GROUP BY ka, kb)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed)
         SELECT n, k_true, k_pred, pairs_true, pairs_pred, pairs_both,
                round(CASE WHEN pairs_pred > 0
                  THEN CAST(pairs_both AS DOUBLE) / pairs_pred END, 6) AS precision,
                round(CASE WHEN pairs_true > 0
                  THEN CAST(pairs_both AS DOUBLE) / pairs_true END, 6) AS recall,
                round(CASE WHEN pairs_true + pairs_pred > 0
                  THEN 2.0 * CAST(pairs_both AS DOUBLE) / (pairs_true + pairs_pred) END, 6) AS f1,
                round(CASE WHEN (CAST(pairs_true AS DOUBLE) + pairs_pred) / 2
                         - CAST(pairs_true AS DOUBLE) * pairs_pred
                           / (CAST(n AS DOUBLE) * (n - 1) / 2) = 0.0 THEN 1.0
                  ELSE (pairs_both - CAST(pairs_true AS DOUBLE) * pairs_pred
                         / (CAST(n AS DOUBLE) * (n - 1) / 2)) /
                      ((CAST(pairs_true AS DOUBLE) + pairs_pred) / 2
                         - CAST(pairs_true AS DOUBLE) * pairs_pred
                           / (CAST(n AS DOUBLE) * (n - 1) / 2)) END, 6) AS ari
         FROM m, sa, sb, bo""")),

    // Local clustering coefficient on the semantic cosine graph
    // (threshold 0.3, the q_x_triangles edge set): cc(v) =
    // 2·t(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2. The census reuses the
    // oriented a<b<c triangle join (wedges bounded by Σd², the
    // degree-ordered shape); the per-node rollup is linear.
    Query("q_x_clustering_coef", (s, d) => {
      val e = graft.operators.CosGraph.edges(s, d, threshold = 0.3)
      val deg = graft.operators.Graph.degrees(e)
      val perNode = graft.operators.Triangles.perVertex(e)
      deg.filter(col("deg") >= 2)
        .join(perNode, Seq("id"), "left").na.fill(0L, Seq("n_tri"))
        .select(col("id").as("vec_id"), col("deg"), col("n_tri"),
          round(lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1)), 6).as("cc"))
        .orderBy(col("vec_id"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, embedding AS cv, nrm AS cn FROM nv),
         e AS (SELECT id_a AS ea, id_b AS eb FROM (
                 SELECT id_a, id_b, round(${Extensions.knnCosSql}, 9) AS cos
                 FROM a JOIN b ON id_a < id_b)
               WHERE cos >= 0.3),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
                   SELECT ea AS id FROM e UNION ALL SELECT eb FROM e)
                 GROUP BY id),
         tri AS (SELECT e1.ea AS ta, e1.eb AS tb, e2.eb AS tc
                 FROM e e1 JOIN e e2 ON e1.eb = e2.ea
                      JOIN e e3 ON e3.ea = e1.ea AND e3.eb = e2.eb),
         pn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
                  SELECT ta AS id FROM tri
                  UNION ALL SELECT tb FROM tri
                  UNION ALL SELECT tc FROM tri)
                GROUP BY id)
         SELECT deg.id AS vec_id, deg.deg, coalesce(pn.n_tri, 0) AS n_tri,
                round(2.0 * coalesce(pn.n_tri, 0) / (deg.deg * (deg.deg - 1)), 6) AS cc
         FROM deg LEFT JOIN pn ON deg.id = pn.id
         WHERE deg.deg >= 2 ORDER BY vec_id""")),

    // G-test of independence (likelihood-ratio chi-square) on the
    // lang × source contingency table: G = 2·Σ O·ln(O·N/(R·C)) over
    // non-empty cells — no factorials, exact integer margins, and the
    // ≤cells-row double fold runs single-sorted-partition.
    Query("q_x_gtest", (s, d) => {
      val cells = table(s, d, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rowm = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
      val colm = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("lang")).as("nr"), countDistinct(col("source")).as("nc"))
      cells.join(broadcast(rowm), "lang").join(broadcast(colm), "source")
        .crossJoin(broadcast(n))
        .coalesce(1).sortWithinPartitions(col("lang"), col("source"))
        .groupBy(col("nr"), col("nc"), col("n"))
        .agg(sum(col("o").cast("double") *
          log(col("o").cast("double") * col("n") /
            (col("r").cast("double") * col("c")))).as("gsum"))
        .selectExpr("n", "round(2.0 * gsum, 6) AS g_stat",
          "CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof")
    }, Some(
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                        FROM documents GROUP BY lang, source),
         rowm AS (SELECT lang, sum(o) AS r FROM cells GROUP BY lang),
         colm AS (SELECT source, sum(o) AS c FROM cells GROUP BY source),
         m AS (SELECT sum(o) AS n, CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                      CAST(count(DISTINCT source) AS BIGINT) AS nc
               FROM cells),
         f AS (SELECT m.n, m.nr, m.nc,
                      sum(CAST(o AS DOUBLE) *
                          ln(CAST(o AS DOUBLE) * m.n / (CAST(r AS DOUBLE) * c))) AS gsum
               FROM (SELECT cells.lang, cells.source, cells.o, rowm.r, colm.c
                     FROM cells JOIN rowm ON cells.lang = rowm.lang
                          JOIN colm ON cells.source = colm.source
                     ORDER BY cells.lang, cells.source), m
               GROUP BY m.n, m.nr, m.nc)
         SELECT CAST(n AS BIGINT) AS n, round(2.0 * gsum, 6) AS g_stat,
                CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof
         FROM f""")),

    // Cochran–Armitage trend test: does the en-rate TREND across
    // length deciles (scores t = 0..9)? Z from five exact integer
    // moments in one shared expression — the ordered-exposure
    // counterpart of q_x_chisq.
    Query("q_x_cochran_armitage", (s, d) =>
      table(s, d, "documents")
        .select(least(floor(col("n_chars") / 200), lit(9)).cast("long").as("t"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("nt"), sum(col("y")).as("rt"))
        .agg(sum(col("nt")).as("n"), sum(col("rt")).as("r"),
          sum(col("rt") * col("t")).as("srt"),
          sum(col("nt") * col("t")).as("snt"),
          sum(col("nt") * col("t") * col("t")).as("snt2"))
        .selectExpr("n", "r",
          """round((CAST(srt AS DOUBLE) - CAST(r AS DOUBLE) * snt / n) /
               sqrt(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n) *
                    (CAST(snt2 AS DOUBLE) - CAST(snt AS DOUBLE) * snt / n)), 6)
             AS z_trend"""), Some(
      """WITH b AS (SELECT least(CAST(floor(n_chars / 200) AS BIGINT), 9) AS t,
                           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                    FROM documents),
         g AS (SELECT t, CAST(count(*) AS BIGINT) AS nt, CAST(sum(y) AS BIGINT) AS rt
               FROM b GROUP BY t),
         m AS (SELECT CAST(sum(nt) AS BIGINT) AS n, CAST(sum(rt) AS BIGINT) AS r,
                      CAST(sum(rt * t) AS BIGINT) AS srt,
                      CAST(sum(nt * t) AS BIGINT) AS snt,
                      CAST(sum(nt * t * t) AS BIGINT) AS snt2
               FROM g)
         SELECT n, r,
                round((CAST(srt AS DOUBLE) - CAST(r AS DOUBLE) * snt / n) /
                      sqrt(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n) *
                           (CAST(snt2 AS DOUBLE) - CAST(snt AS DOUBLE) * snt / n)), 6)
                  AS z_trend
         FROM m""")),

    // Neyman allocation for stratified sampling: share of a 1000-doc
    // budget per source stratum ∝ N_h·S_h. Strata moments are exact
    // BIGINTs; the Σ N_h·S_h fold over ≤k strata is
    // single-sorted-partition; allocations floor at the end.
    Query("q_x_neyman", (s, d) => {
      val g = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nh"), sum(col("n_chars")).as("sh"),
          sum(col("n_chars") * col("n_chars")).as("qh"))
        .withColumn("sd", sqrt(
          (col("qh").cast("double") - col("sh").cast("double") * col("sh") / col("nh")) /
            (col("nh") - 1)))
      val t = g.coalesce(1).sortWithinPartitions(col("source"))
        .agg(sum(col("nh").cast("double") * col("sd")).as("tot"))
      g.crossJoin(broadcast(t))
        .select(col("source"), col("nh"),
          round(col("sh").cast("double") / col("nh"), 6).as("mean_len"),
          round(col("sd"), 6).as("sd_len"),
          floor(lit(1000.0) * col("nh") * col("sd") / col("tot")).cast("long")
            .as("alloc"))
        .orderBy(col("source"))
    }, Some(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
                           CAST(sum(n_chars) AS BIGINT) AS sh,
                           CAST(sum(n_chars * n_chars) AS BIGINT) AS qh
                    FROM documents GROUP BY source),
         s AS (SELECT source, nh, sh,
                      sqrt((CAST(qh AS DOUBLE) - CAST(sh AS DOUBLE) * sh / nh)
                           / (nh - 1)) AS sd
               FROM g),
         t AS (SELECT sum(CAST(nh AS DOUBLE) * sd) AS tot
               FROM (SELECT * FROM s ORDER BY source))
         SELECT source, nh, round(CAST(sh AS DOUBLE) / nh, 6) AS mean_len,
                round(sd, 6) AS sd_len,
                CAST(floor(1000.0 * nh * sd / tot) AS BIGINT) AS alloc
         FROM s, t ORDER BY source""")),

    // Nelson–Aalen cumulative hazard per acquisition cohort — the
    // estimator-level companion to q_x_survival's Kaplan–Meier (same
    // risk-set derivation, additive hazard instead of multiplicative
    // survival). The cumsum rides the per-cohort window whose ORDER
    // BY key (dur) is unique within cohort, so both engines fold the
    // identical sequence.
    Query("q_x_nelson_aalen", (s, d) => {
      val ev = table(s, d, "events")
      val win = ev.agg(max(unix_micros(col("ts"))).as("t_end"))
      val firstType = ev
        .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type").as("cohort"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"), max(unix_micros(col("ts"))).as("t1"))
        .join(firstType, "user_id")
        .crossJoin(broadcast(win))
        .select(col("user_id"), col("cohort"),
          expr("(t1 - t0) div 86400000000").as("dur"),
          (col("t1") >= col("t_end") - lit(7L * 86400000000L)).as("censored"))
      val byDur = users.groupBy(col("cohort"), col("dur"))
        .agg(count(lit(1)).as("n_ending"),
          sum(when(col("censored"), 0L).otherwise(1L)).as("d"))
      val tot = users.groupBy(col("cohort")).agg(count(lit(1)).as("nn"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wc = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      byDur.join(broadcast(tot), "cohort")
        .withColumn("n_risk", col("nn") - coalesce(sum(col("n_ending")).over(w), lit(0L)))
        .withColumn("h", col("d").cast("double") / col("n_risk"))
        .select(col("cohort"), col("dur").as("dur_days"), col("n_risk").as("n_at_risk"),
          col("d").as("n_churned"),
          round(sum(col("h")).over(wc), 6).as("cum_hazard"))
        .orderBy(col("cohort"), col("dur_days"))
    }, Some(
      """WITH win AS (SELECT max(epoch_us(ts)) AS t_end FROM events),
         ft AS (SELECT user_id, event_type AS cohort FROM (
                  SELECT user_id, event_type,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rk
                  FROM events) WHERE rk = 1),
         users AS (SELECT e.user_id, ft.cohort,
                          (max(epoch_us(e.ts)) - min(epoch_us(e.ts))) // 86400000000 AS dur,
                          max(epoch_us(e.ts)) >= max(win.t_end) - 7 * 86400000000 AS censored
                   FROM events e, ft, win
                   WHERE e.user_id = ft.user_id
                   GROUP BY e.user_id, ft.cohort),
         bd AS (SELECT cohort, dur, CAST(count(*) AS BIGINT) AS n_ending,
                       CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d
                FROM users GROUP BY cohort, dur),
         tot AS (SELECT cohort, CAST(count(*) AS BIGINT) AS nn
                 FROM users GROUP BY cohort),
         rk AS (SELECT bd.cohort, bd.dur, bd.d,
                       CAST(tot.nn - coalesce(sum(bd.n_ending) OVER (
                         PARTITION BY bd.cohort ORDER BY bd.dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS n_risk
                FROM bd JOIN tot ON bd.cohort = tot.cohort)
         SELECT cohort, dur AS dur_days, n_risk AS n_at_risk, d AS n_churned,
                round(sum(CAST(d AS DOUBLE) / n_risk) OVER (PARTITION BY cohort
                  ORDER BY dur ROWS UNBOUNDED PRECEDING), 6) AS cum_hazard
         FROM rk ORDER BY cohort, dur_days"""))
  )
}

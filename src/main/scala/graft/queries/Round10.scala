package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.{TextFunctions, VectorFunctions}
import graft.Cuts.CutOps

/** Round-10 expansion (SURVEY.md §2.8d): statistical-audit companions
  * (Levene/Brown–Forsythe, McNemar, Cohen's d, Mann–Kendall trend,
  * Durbin–Watson), association mining (lift rules), divergence (JS),
  * text readability, model-eval lift deciles, Markov entropy rate, a
  * fixed-centroid assignment arm that makes the k-means family
  * oracle-able, and the deterministic Misra–Gries guarantee projection
  * that makes the sketch family oracle-able.
  *
  * Determinism contract (same as Stats.scala / §7.4): every statistic
  * is assembled from exact integer aggregates; the float division /
  * log / sqrt steps are ONE final expression written identically on
  * both engines; 9dp rounding before any ranking; total ORDER BY.
  *
  * Scale shapes:
  *  - levene / cohens_d / readability / js_divergence are per-source
  *    integer-moment aggregates (grain = 20 sources × small domain).
  *  - mann_kendall / durbin_watson run on the DAY-grain series per
  *    type (≤ ~30 rows/type — the pair join is grain², corpus-free).
  *  - lift_rules is (user,type)-distinct → type-pair grain (k² = 25).
  *  - decile_lift follows isotonic's bounded score-BIN window.
  *  - centroid_assign broadcasts 10 fixed centroids — one map-side
  *    pass + a per-vector argmin window partitioned by vec_id.
  *  - mg_guaranteed is the sketch aggregate (k counters per partition
  *    partial) + a token-grain exact count; the semi-join PROVES the
  *    MG guarantee (true > n/(k+1) ⇒ present) to the driver's oracle.
  */
object Round10 {
  val queries: Seq[Query] = Seq(

    // Brown–Forsythe (median-centered Levene) test of variance
    // homogeneity of n_chars across sources — the precondition check
    // for the ANOVA already on the board. |x − median| deviations are
    // exact multiples of 0.5 (median of integers interpolates at
    // worst to .5), so all moment sums stay EXACT in doubles; W is
    // one final expression.
    Query("q_x_levene", (s, d) => {
      val docs = table(s, d, "documents").select(col("source"), col("n_chars"))
      val med = docs.groupBy(col("source")).agg(median(col("n_chars")).as("med"))
      // z = |x − median| is a multiple of 0.5 (integer data; median
      // interpolates to .5 at worst), so 2z is an exact BIGINT and the
      // distributed per-group moments are INTEGER sums — partition-
      // order-free (r10 advice; si2² stays under Long via the double
      // product below; overflow envelope ~2e10 rows × z~1e4).
      val z2 = docs.join(broadcast(med), "source")
        .select(col("source"),
          (abs(col("n_chars") - col("med")) * 2).cast("long").as("z2"))
      val g = z2.groupBy(col("source"))
        .agg(count(lit(1)).as("ni"), sum(col("z2")).as("si2"),
          sum(col("z2") * col("z2")).as("qi4"))
      // Final reduction over the ≤k-row group table on ONE sorted
      // partition: Σ si²/ni is the only inexact double sum left, so
      // pin its accumulation order (residual cross-engine last-bit
      // risk documented in SURVEY §7.4 — 6dp rounding gives 1e-6
      // slack vs ~1e-16 noise).
      g.coalesce(1).sortWithinPartitions(col("source"))
        .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum(col("si2")).as("s2"), sum(col("qi4")).as("q4"),
          sum(col("si2").cast("double") * col("si2") / col("ni")).as("sb4"))
        .select(col("k"), col("n"),
          round(((col("sb4") / 4 - (col("s2").cast("double") / 2) *
              (col("s2").cast("double") / 2) / col("n")) /
            (col("k") - 1)) /
            ((col("q4").cast("double") / 4 - col("sb4") / 4) /
              (col("n") - col("k"))), 6).as("w"))
    }, Some(
      """WITH med AS (SELECT source, median(n_chars) AS med
                      FROM documents GROUP BY source),
         z AS (SELECT d.source,
                 CAST(2 * abs(d.n_chars - m.med) AS BIGINT) AS z2
               FROM documents d JOIN med m ON m.source = d.source),
         g AS (SELECT source, CAST(count(*) AS BIGINT) AS ni,
                 CAST(sum(z2) AS BIGINT) AS si2,
                 CAST(sum(z2 * z2) AS BIGINT) AS qi4
               FROM z GROUP BY source),
         a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS n,
                 CAST(sum(si2) AS BIGINT) AS s2, CAST(sum(qi4) AS BIGINT) AS q4,
                 sum(CAST(si2 AS DOUBLE) * si2 / ni) AS sb4
               FROM (SELECT * FROM g ORDER BY source))
         SELECT k, n,
                round(((sb4 / 4 - (CAST(s2 AS DOUBLE) / 2) * (CAST(s2 AS DOUBLE) / 2) / n) /
                       (k - 1)) /
                      ((CAST(q4 AS DOUBLE) / 4 - sb4 / 4) / (n - k)), 6) AS w
         FROM a""")),

    // McNemar paired-classifier test: argmax over dims 1..10 (model A,
    // the q_x_confusion classifier) vs argmax over dims 11..20 (model
    // B) against the stored label. The discordant counts nb (A right,
    // B wrong) / nc (A wrong, B right) are exact longs; chi2 =
    // (nb−nc)²/(nb+nc) is one division.
    Query("q_x_mcnemar", (s, d) => {
      val sA = slice(col("embedding"), 1, 10)
      val sB = slice(col("embedding"), 11, 10)
      table(s, d, "embeddings")
        .select(col("label").cast("int").as("y"),
          (array_position(sA, array_max(sA)) - 1).cast("int").as("pa"),
          (array_position(sB, array_max(sB)) - 1).cast("int").as("pb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
            .otherwise(0L)).as("nb"),
          sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
            .otherwise(0L)).as("nc"))
        .select(col("n"), col("nb"), col("nc"),
          round(when(col("nb") + col("nc") > 0,
            ((col("nb") - col("nc")) * (col("nb") - col("nc"))).cast("double") /
              (col("nb") + col("nc"))), 6).as("chi2"))
    }, Some(
      """WITH s AS (
           SELECT CAST(label AS INTEGER) AS y,
                  CAST(list_position(embedding[1:10],
                         list_max(embedding[1:10])) - 1 AS INTEGER) AS pa,
                  CAST(list_position(embedding[11:20],
                         list_max(embedding[11:20])) - 1 AS INTEGER) AS pb
           FROM embeddings),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                 CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS nc
               FROM s)
         SELECT n, nb, nc,
                round(CASE WHEN nb + nc > 0
                  THEN CAST((nb - nc) * (nb - nc) AS DOUBLE) / (nb + nc) END, 6) AS chi2
         FROM a""")),

    // Cohen's d effect size (one source vs rest, on n_chars) — the
    // magnitude companion to q_x_mann_whitney's significance. All 6
    // inputs are exact integer aggregates (per-source n/Σx/Σx² +
    // corpus totals); mean gap and pooled-SD are one expression.
    Query("q_x_cohens_d", (s, d) => {
      val g = table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n1"), sum(col("n_chars")).as("s1"),
          sum(col("n_chars") * col("n_chars")).as("q1"))
      val tot = g.agg(sum(col("n1")).as("nn"), sum(col("s1")).as("ss"),
        sum(col("q1")).as("qq"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("n1"),
          round(col("s1").cast("double") / col("n1") -
            (col("ss") - col("s1")).cast("double") / (col("nn") - col("n1")), 6)
            .as("mean_diff"),
          round((col("s1").cast("double") / col("n1") -
            (col("ss") - col("s1")).cast("double") / (col("nn") - col("n1"))) /
            sqrt(((col("q1") - col("s1").cast("double") * col("s1") / col("n1")) +
              ((col("qq") - col("q1")) -
                (col("ss") - col("s1")).cast("double") * (col("ss") - col("s1")) /
                  (col("nn") - col("n1")))) / (col("nn") - 2)), 6).as("cohens_d"))
        .orderBy(col("source"))
    }, Some(
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n1,
                  CAST(sum(n_chars) AS BIGINT) AS s1,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS q1
                FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n1) AS BIGINT) AS nn, CAST(sum(s1) AS BIGINT) AS ss,
                 CAST(sum(q1) AS BIGINT) AS qq FROM g)
         SELECT source, n1,
                round(CAST(s1 AS DOUBLE) / n1 - CAST(ss - s1 AS DOUBLE) / (nn - n1), 6)
                  AS mean_diff,
                round((CAST(s1 AS DOUBLE) / n1 - CAST(ss - s1 AS DOUBLE) / (nn - n1)) /
                      sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1) +
                            ((qq - q1) - CAST(ss - s1 AS DOUBLE) * (ss - s1) / (nn - n1)))
                           / (nn - 2)), 6) AS cohens_d
         FROM g CROSS JOIN t ORDER BY source""")),

    // Association rules over (user, day) event-type baskets: for every
    // ordered type pair a→b, support / confidence / lift from pure
    // integer counts at basket-distinct grain (lifetime user baskets
    // saturate on this fixture — every user eventually does every
    // type; day-scoped baskets average ~2 of 5 types at every SF). The
    // pair join output is k² = 25 rows; the corpus-sized work is ONE
    // distinct, and the per-basket self-join is bounded by k² per
    // basket, not the corpus.
    Query("q_x_lift_rules", (s, d) => {
      val ut = table(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .distinct()
        .cut()
      val nu = ut.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val nt = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
      val pairs = ut.select(col("user_id"), col("day"), col("event_type").as("ta"))
        .join(ut.select(col("user_id"), col("day"), col("event_type").as("tb")),
          Seq("user_id", "day"))
        .filter(col("ta") =!= col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(nt.select(col("event_type").as("ta"), col("n_t").as("n_a"))), "ta")
        .join(broadcast(nt.select(col("event_type").as("tb"), col("n_t").as("n_b"))), "tb")
        .crossJoin(broadcast(nu))
        .select(col("ta"), col("tb"), col("n_ab"),
          round(col("n_ab").cast("double") / col("n_users"), 6).as("support"),
          round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
          round(col("n_ab").cast("double") * col("n_users") /
            (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
        .orderBy(col("ta"), col("tb"))
    }, Some(
      """WITH ut AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
                FROM events),
         nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users
                FROM (SELECT DISTINCT user_id, day FROM ut)),
         nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
                FROM ut GROUP BY event_type),
         p AS (SELECT a.event_type AS ta, b.event_type AS tb,
                 CAST(count(*) AS BIGINT) AS n_ab
               FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.day = b.day
                 AND a.event_type <> b.event_type
               GROUP BY 1, 2)
         SELECT ta, tb, n_ab,
                round(CAST(n_ab AS DOUBLE) / n_users, 6) AS support,
                round(CAST(n_ab AS DOUBLE) / na.n_t, 6) AS confidence,
                round(CAST(n_ab AS DOUBLE) * n_users /
                      (CAST(na.n_t AS DOUBLE) * nb.n_t), 6) AS lift
         FROM p JOIN nt na ON na.event_type = ta
           JOIN nt nb ON nb.event_type = tb
           CROSS JOIN nu
         ORDER BY ta, tb""")),

    // Mann–Kendall monotone-trend test over the per-type DAILY event
    // count series (the nonparametric "is this feed growing?" check).
    // S and the tie term are exact longs from the day-grain pair join
    // (≤ 30×30/2 pairs per type — constant in corpus size); the
    // continuity-corrected z is one final expression.
    Query("q_x_mann_kendall", (s, d) => {
      val dc = graft.operators.DayGrain.counts(s, d)
        .cut()
      val a = dc.select(col("event_type"), col("day").as("da"), col("c").as("ca"))
      val b = dc.select(col("event_type"), col("day").as("db"), col("c").as("cb"))
      val sTab = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("cb") > col("ca"), 1L)
          .when(col("cb") < col("ca"), -1L).otherwise(0L)).as("s"))
      val nTab = dc.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      val ties = dc.groupBy(col("event_type"), col("c"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tsum"))
      sTab.join(nTab, "event_type").join(ties, "event_type")
        .select(col("event_type"), col("n_days"), col("s"),
          round(
            when(col("s") > 0, col("s") - 1)
              .when(col("s") < 0, col("s") + 1).otherwise(0L) /
              sqrt((col("n_days") * (col("n_days") - 1) *
                (lit(2L) * col("n_days") + 5) - col("tsum")).cast("double") / 18.0),
            6).as("z"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
         s AS (SELECT a.event_type,
                 CAST(sum(CASE WHEN b.c > a.c THEN 1
                               WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
               FROM dc a JOIN dc b
                 ON a.event_type = b.event_type AND a.day < b.day
               GROUP BY a.event_type),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
               FROM dc GROUP BY 1),
         ties AS (SELECT event_type,
                    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
                  FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
                        FROM dc GROUP BY 1, 2)
                  GROUP BY event_type)
         SELECT event_type, n_days, s,
                round((CASE WHEN s > 0 THEN s - 1
                            WHEN s < 0 THEN s + 1 ELSE 0 END) /
                  sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tsum
                    AS DOUBLE) / 18.0), 6) AS z
         FROM s JOIN n USING (event_type) JOIN ties USING (event_type)
         ORDER BY event_type""")),

    // Flesch-style readability per source: words per doc (the fixture
    // has no sentence punctuation — each doc is one "sentence",
    // documented) and a vowel-run syllable proxy. All sums exact
    // longs; the score is one final expression.
    Query("q_x_readability", (s, d) => {
      val nw = size(split(col("text"), " ")).cast("long")
      val syl = size(filter(split(col("text"), "[^aeiou]+"), x => x =!= lit("")))
        .cast("long")
      table(s, d, "documents")
        .select(col("source"), nw.as("nw"), syl.as("syl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("w"),
          sum(col("syl")).as("y"))
        .select(col("source"), col("n_docs"),
          round(col("w").cast("double") / col("n_docs"), 6).as("words_per_doc"),
          round(col("y").cast("double") / col("w"), 6).as("syll_per_word"),
          round(lit(206.835) - lit(1.015) * (col("w").cast("double") / col("n_docs")) -
            lit(84.6) * (col("y").cast("double") / col("w")), 6).as("flesch"))
        .orderBy(col("source"))
    }, Some(
      """WITH m AS (
           SELECT source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                  CAST(len(list_filter(string_split_regex(text, '[^aeiou]+'),
                    x -> x <> '')) AS BIGINT) AS syl
           FROM documents),
         g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(nw) AS BIGINT) AS w, CAST(sum(syl) AS BIGINT) AS y
               FROM m GROUP BY source)
         SELECT source, n_docs,
                round(CAST(w AS DOUBLE) / n_docs, 6) AS words_per_doc,
                round(CAST(y AS DOUBLE) / w, 6) AS syll_per_word,
                round(206.835 - 1.015 * (CAST(w AS DOUBLE) / n_docs) -
                      84.6 * (CAST(y AS DOUBLE) / w), 6) AS flesch
         FROM g ORDER BY source""")),

    // Decile lift table of the deterministic score embedding[1]
    // against outcome label ≤ 4 — the model-eval "is the top decile
    // actually enriched" audit. Deciles come from the score-BIN table
    // (2dp bins, the q_x_isotonic pattern: bounded-domain window, the
    // corpus never enters a global sort); lift is integer counts over
    // integer counts.
    Query("q_x_decile_lift", (s, d) => {
      val wOrd = Window.orderBy(col("sv").desc)
      val tot = table(s, d, "embeddings")
        .agg(count(lit(1)).as("nn"),
          sum(when(col("label") <= 4, 1L).otherwise(0L)).as("pp"))
      val bins = table(s, d, "embeddings")
        .groupBy(round(element_at(col("embedding"), 1).cast("double"), 2).as("sv"))
        .agg(count(lit(1)).as("bn"),
          sum(when(col("label") <= 4, 1L).otherwise(0L)).as("bp"))
        // bin table ≤ ~10² rows: single-partition window is the point
        // (the q_x_isotonic pattern — the corpus never enters this
        // window; the checkpoint pins the bounded bin table so the
        // cumulative pass runs once over materialized rows)
        .coalesce(1)
        .withColumn("cumb",
          coalesce(sum(col("bn")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .cut(kRowFold = true)
      bins.crossJoin(broadcast(tot))
        .withColumn("decile", floor(col("cumb") * 10 / col("nn")).cast("int"))
        .groupBy(col("decile"))
        .agg(sum(col("bn")).as("n"), sum(col("bp")).as("n_pos"),
          max(col("nn")).as("nn"), max(col("pp")).as("pp"))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n"), 6).as("rate"),
          round(col("n_pos").cast("double") * col("nn") /
            (col("n").cast("double") * col("pp")), 6).as("lift"))
        .orderBy(col("decile"))
    }, Some(
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                  CAST(sum(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS pp
                FROM embeddings),
         bins AS (SELECT round(CAST(embedding[1] AS DOUBLE), 2) AS sv,
                    CAST(count(*) AS BIGINT) AS bn,
                    CAST(sum(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS bp
                  FROM embeddings GROUP BY 1),
         cum AS (SELECT sv, bn, bp,
                   coalesce(CAST(sum(bn) OVER (ORDER BY sv DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                     AS cumb
                 FROM bins),
         dec AS (SELECT CAST(floor(cumb * 10 / nn) AS INTEGER) AS decile, bn, bp, nn, pp
                 FROM cum CROSS JOIN t),
         g AS (SELECT decile, CAST(sum(bn) AS BIGINT) AS n,
                 CAST(sum(bp) AS BIGINT) AS n_pos,
                 max(nn) AS nn, max(pp) AS pp
               FROM dec GROUP BY decile)
         SELECT decile, n, n_pos,
                round(CAST(n_pos AS DOUBLE) / n, 6) AS rate,
                round(CAST(n_pos AS DOUBLE) * nn / (CAST(n AS DOUBLE) * pp), 6) AS lift
         FROM g ORDER BY decile""")),

    // Jensen–Shannon divergence of each source's doc-length histogram
    // (100-char buckets) vs the corpus — the symmetric, bounded [0,
    // ln 2] drift measure that KL (already on the board) is not. Zero
    // cells carry no p-mass term (0·ln0 := 0, guarded identically on
    // both engines); q > 0 always since the corpus contains every
    // bucket.
    Query("q_x_js_divergence", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), floor(col("n_chars") / 100).as("bucket"))
      val cs = docs.groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("csb"))
      val ct = docs.groupBy(col("bucket")).agg(count(lit(1)).as("ctb"))
      val ns = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val nt = docs.agg(count(lit(1)).as("n_t"))
      val grid = ns.crossJoin(broadcast(ct))
        .join(cs, Seq("source", "bucket"), "left").na.fill(0L, Seq("csb"))
        .crossJoin(broadcast(nt))
        .withColumn("p", col("csb").cast("double") / col("n_s"))
        .withColumn("q", col("ctb").cast("double") / col("n_t"))
        .withColumn("m", (col("p") + col("q")) / 2)
      grid.groupBy(col("source"))
        .agg(max(col("n_s")).as("n_docs"),
          round(lit(0.5) * sum(when(col("csb") > 0,
            col("p") * log(col("p") / col("m"))).otherwise(lit(0.0))) +
            lit(0.5) * sum(col("q") * log(col("q") / col("m"))), 6).as("js"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS bucket
                FROM documents),
         cs AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS csb
                FROM d GROUP BY 1, 2),
         ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ctb FROM d GROUP BY 1),
         ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_t FROM d),
         grid AS (SELECT ns.source, ct.bucket, coalesce(cs.csb, 0) AS csb,
                    ct.ctb, ns.n_s, nt.n_t,
                    CAST(coalesce(cs.csb, 0) AS DOUBLE) / ns.n_s AS p,
                    CAST(ct.ctb AS DOUBLE) / nt.n_t AS q,
                    (CAST(coalesce(cs.csb, 0) AS DOUBLE) / ns.n_s +
                     CAST(ct.ctb AS DOUBLE) / nt.n_t) / 2 AS m
                  FROM ns CROSS JOIN ct
                  LEFT JOIN cs ON cs.source = ns.source AND cs.bucket = ct.bucket
                  CROSS JOIN nt)
         SELECT source, max(n_s) AS n_docs,
                round(0.5 * sum(CASE WHEN csb > 0 THEN p * ln(p / m) ELSE 0.0 END) +
                      0.5 * sum(q * ln(q / m)), 6) AS js
         FROM grid GROUP BY source ORDER BY source""")),

    // Durbin–Watson autocorrelation statistic of the per-type daily
    // count series: numerator Σ(c_t − c_{t−1})² is an exact long from
    // one lag window at DAY grain; denominator from integer moments
    // (Σc² − (Σc)²/n). DW ≈ 2 means no serial correlation.
    Query("q_x_durbin_watson", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val dc = graft.operators.DayGrain.counts(s, d)
      val diffs = dc.withColumn("pc", lag(col("c"), 1).over(w))
      diffs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("qc"),
          sum(when(col("pc").isNotNull,
            (col("c") - col("pc")) * (col("c") - col("pc"))).otherwise(0L)).as("num"))
        .select(col("event_type"), col("n_days"),
          round(col("num") /
            (col("qc") - col("sc").cast("double") * col("sc") / col("n_days")), 6)
            .as("dw"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, c,
                 lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
               FROM dc),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS qc,
                 CAST(sum(CASE WHEN pc IS NOT NULL
                   THEN (c - pc) * (c - pc) ELSE 0 END) AS BIGINT) AS num
               FROM l GROUP BY event_type)
         SELECT event_type, n_days,
                round(num / (qc - CAST(sc AS DOUBLE) * sc / n_days), 6) AS dw
         FROM g ORDER BY event_type""")),

    // Entropy rate of the empirical event-type Markov chain (shares
    // the transition grain with q_x_markov): H = Σ n_ab·(ln n_a −
    // ln n_ab) / N — logs of exact integers only, summed at the k²
    // transition grain.
    Query("q_x_entropy_rate", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = table(s, d, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type")).agg(count(lit(1)).as("n_ab"))
      val fromTot = trans.groupBy(col("prev_type")).agg(sum(col("n_ab")).as("n_a"))
      trans.join(fromTot, "prev_type")
        .agg(sum(col("n_ab")).as("n_trans"),
          countDistinct(col("prev_type")).as("k_states"),
          round(sum(col("n_ab") * (log(col("n_a")) - log(col("n_ab")))) /
            sum(col("n_ab")), 6).as("h_rate"))
    }, Some(
      """WITH o AS (SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_type
                FROM events),
         tr AS (SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n_ab
                FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         ft AS (SELECT prev_type, CAST(sum(n_ab) AS BIGINT) AS n_a
                FROM tr GROUP BY 1)
         SELECT CAST(sum(n_ab) AS BIGINT) AS n_trans,
                CAST(count(DISTINCT tr.prev_type) AS BIGINT) AS k_states,
                round(sum(n_ab * (ln(n_a) - ln(n_ab))) / sum(n_ab), 6) AS h_rate
         FROM tr JOIN ft ON ft.prev_type = tr.prev_type""")),

    // Fixed-centroid assignment: every vector to its nearest of the 10
    // deterministic centroids (vec_id < 10), squared-L2 via the
    // codegen'd dot kernel (|x|² − 2x·c + |c|², 9dp-rounded before the
    // argmin, centroid-id tie-break). This is the ASSIGNMENT step of
    // k-means with the centroids pinned — fully SQL-oracle-able where
    // Lloyd training (q_x_kmeans) is spec-only; at 100 TB this is the
    // per-batch assignment pass against broadcast trained centroids.
    Query("q_x_centroid_assign", (s, d) => {
      val emb = table(s, d, "embeddings")
      val vecs = emb.select(col("vec_id"), col("embedding").as("xv"),
        VectorFunctions.dot(col("embedding"), col("embedding")).as("xx"))
      val cents = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"),
          VectorFunctions.dot(col("embedding"), col("embedding")).as("cc"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
      vecs.crossJoin(broadcast(cents))
        .withColumn("d2", round(col("xx") -
          lit(2.0) * VectorFunctions.dot(col("xv"), col("cv")) + col("cc"), 9))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_assigned"),
          round(min(col("d2")), 6).as("min_d2"),
          round(max(col("d2")), 6).as("max_d2"))
        .select(col("cid").as("centroid_id"), col("n_assigned"),
          col("min_d2"), col("max_d2"))
        .orderBy(col("centroid_id"))
    }, Some(
      """WITH v AS (
           SELECT vec_id, embedding AS xv,
                  list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS xx
           FROM embeddings),
         c AS (SELECT vec_id AS cid, embedding AS cv,
                 list_sum(list_transform(range(1, 65),
                   i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS cc
               FROM embeddings WHERE vec_id < 10),
         p AS (SELECT v.vec_id, c.cid,
                 round(v.xx - 2.0 * list_sum(list_transform(range(1, 65),
                   i -> CAST(xv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) + c.cc, 9) AS d2
               FROM v CROSS JOIN c),
         r AS (SELECT vec_id, cid, d2,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
               FROM p)
         SELECT cid AS centroid_id, CAST(count(*) AS BIGINT) AS n_assigned,
                round(min(d2), 6) AS min_d2, round(max(d2), 6) AS max_d2
         FROM r WHERE rn = 1 GROUP BY cid ORDER BY centroid_id""")),

    // The deterministic projection of the Misra–Gries sketch: terms
    // whose EXACT count exceeds n/(k+1) are guaranteed present in the
    // k-counter sketch regardless of partition/merge order (the MG
    // mergeability theorem) — so "exact heavy set semi-joined against
    // sketch terms" is fully deterministic and ORACLE-able: if the
    // sketch ever violated its guarantee, rows would vanish and the
    // driver's hash would catch it. Batch twin of the streaming
    // transformWithState heavy-hitters processor (same TIA sketch).
    Query("q_x_mg_guaranteed", (s, d) => {
      val toks = table(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .cut()
      val sketchTerms = toks
        .agg(call_function("graft_freq_items", col("w"), lit(50)).as("sk"))
        .select(explode(col("sk.terms")).as("t"))
        .select(col("t.term").as("term"))
      val tot = toks.agg(count(lit(1)).as("n_tokens"))
      toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 51 > col("n_tokens"))
        .join(sketchTerms, col("w") === col("term"), "left_semi")
        .select(col("w").as("term"), col("cnt"), col("n_tokens"))
        .orderBy(col("cnt").desc, col("term"))
    }, Some(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
         c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w)
         SELECT w AS term, cnt, n_tokens
         FROM c CROSS JOIN t
         WHERE cnt * 51 > n_tokens
         ORDER BY cnt DESC, term"""))
  )
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-11 wave 6 (SURVEY.md §2.8e): the record-linkage comparator
  * Spark lacks (Jaro–Winkler, as a codegen'd Catalyst expression
  * pinned bit-exactly to DuckDB's `jaro_winkler_similarity`), cohort
  * lifetime-value curves, rolling correlation, local-peak detection
  * with an integer-exact prominence rule, and Benjamini–Hochberg FDR
  * over the per-source proportion tests — closing the audit suite's
  * multiple-testing gap. Mirrors the reference's ad-hoc SQL surface
  * (reference README.md:62-78).
  *
  * Determinism (§7.4): LTV cumsums ride exact cent-grain BIGINTs on
  * unique-key windows; rolling-corr moments are exact integers with
  * the Pearson text shared verbatim; the peak rule compares integers
  * only; the normal tail uses one Abramowitz–Stegun 7.1.26 expression
  * string evaluated by BOTH engines (identical fp op order); BH ranks
  * ride the day/source-grain rfm histogram-fold pattern, never a
  * corpus-sized window.
  */
object Round11f {
  // Pearson r from exact integer moments — shared text (q_x_linreg
  // pattern).
  private val rTxt =
    """((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))"""

  // two-sided normal tail p = 2(1 − Φ(|z|)) via Abramowitz–Stegun
  // 7.1.26 — ONE expression string substituted into both engines so
  // every fp op folds identically
  private def pTxt(z: String): String = {
    val x = s"(abs($z) / sqrt(2.0))"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    val erf = s"""(1.0 - (((((1.061405429 * $t - 1.453152027) * $t) + 1.421413741)
                   * $t - 0.284496736) * $t + 0.254829592) * $t * exp(-$x * $x))"""
    s"(1.0 - $erf)"
  }

  val queries: Seq[Query] = Seq(

    // Jaro–Winkler record linkage over blocked document prefixes —
    // the comparator arm of an ER pipeline (q_x_fuzzy's edit-distance
    // twin). graft_jaro_winkler is a codegen'd BinaryExpression whose
    // doubles equal DuckDB's jaro_winkler_similarity bit-for-bit
    // (JaroWinklerSpec pins the published worked examples + the
    // odd-transposition floor). Blocks key on the first two WORDS —
    // a content key whose block sizes stay bounded as the corpus
    // grows (the 16-char-prefix key q_x_fuzzy uses on customer names
    // degenerates to ONE quadratic block here: every TPC-H name
    // shares "Customer#0000…"); candidates then score on the 12-word
    // prefix.
    Query("q_x_jaro", (s, d) => {
      val c = table(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("blk"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 12)).as("pfx"))
      val a = c.select(col("blk"), col("doc_id").as("id_a"), col("pfx").as("pfx_a"))
      val b = c.select(col("blk"), col("doc_id").as("id_b"), col("pfx").as("pfx_b"))
      a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jw",
          call_function("graft_jaro_winkler", col("pfx_a"), col("pfx_b")))
        .filter(col("jw") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("jw"), 6).as("jw"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      """WITH c AS (SELECT doc_id,
                           array_to_string(string_split(text, ' ')[1:2], ' ') AS blk,
                           array_to_string(string_split(text, ' ')[1:12], ' ') AS pfx
                    FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(jaro_winkler_similarity(a.pfx, b.pfx), 6) AS jw
         FROM c a JOIN c b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE jaro_winkler_similarity(a.pfx, b.pfx) >= 0.8
         ORDER BY id_a, id_b""")),

    // Cohort LTV curves: cumulative value per acquisition cohort
    // (first event type) by week since each user's first event,
    // normalized per cohort user. Revenue cumsums are EXACT cent
    // BIGINTs on a (cohort, week)-unique window; the only division is
    // the final per-user normalization.
    Query("q_x_cohort_ltv", (s, d) => {
      val ev = table(s, d, "events")
      val first = ev
        .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type").as("cohort"),
          unix_micros(col("ts")).as("t0"))
      val weekly = ev.select(col("user_id"), unix_micros(col("ts")).as("t"),
          round(col("value") * 100).cast("long").as("cents"))
        .join(first, "user_id")
        .withColumn("week", expr("(t - t0) div 604800000000"))
        .groupBy(col("cohort"), col("week"))
        .agg(sum(col("cents")).as("rev"), countDistinct(col("user_id")).as("active"))
      val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("week"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly.join(broadcast(sizes), "cohort")
        .withColumn("cum_cents", sum(col("rev")).over(w))
        .select(col("cohort"), col("week"), col("active"), col("n_users"),
          round(col("cum_cents").cast("double") / 100.0 / col("n_users"), 6)
            .as("ltv_per_user"))
        .orderBy(col("cohort"), col("week"))
    }, Some(
      """WITH first AS (SELECT user_id, event_type AS cohort, t0 FROM (
                 SELECT user_id, event_type, epoch_us(ts) AS t0,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS rk
                 FROM events) WHERE rk = 1),
         weekly AS (SELECT f.cohort,
                           (epoch_us(e.ts) - f.t0) // 604800000000 AS week,
                           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                             AS rev,
                           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active
                    FROM events e JOIN first f ON e.user_id = f.user_id
                    GROUP BY f.cohort, week),
         sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
                   FROM first GROUP BY cohort)
         SELECT w.cohort, w.week, w.active, s.n_users,
                round(CAST(sum(w.rev) OVER (PARTITION BY w.cohort ORDER BY w.week
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 / s.n_users, 6)
                  AS ltv_per_user
         FROM weekly w JOIN sizes s ON w.cohort = s.cohort
         ORDER BY w.cohort, w.week""")),

    // 7-day rolling correlation between daily click count and daily
    // purchase revenue — the drifting-relationship monitor. Daily
    // moments are exact integers; the rolling sums ride the day-grain
    // table (the rfm coalesce(1)+lazy-checkpoint fold — ≤days rows);
    // Pearson evaluates the shared text; rows before a full 7-day
    // window are excluded exactly (count = 7).
    Query("q_x_rolling_corr", (s, d) => {
      val ev = table(s, d, "events")
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, Window.currentRow)
      daily.coalesce(1)
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sy", sum(col("y")).over(w))
        .withColumn("sxy", sum(col("x") * col("y")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .withColumn("syy", sum(col("y") * col("y")).over(w))
        .cut(kRowFold = true)
        .filter(col("n") === 7)
        .select(col("day"), col("x").as("clicks"), col("y").as("purchase_cents"),
          expr(s"round($rTxt, 6)").as("r7"))
        .orderBy(col("day"))
    }, Some(
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                   AS x,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS y
               FROM events GROUP BY CAST(ts AS DATE)),
         roll AS (SELECT day, x, y,
                 CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(sum(x) OVER w AS BIGINT) AS sx,
                 CAST(sum(y) OVER w AS BIGINT) AS sy,
                 CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                 CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                 CAST(sum(y * y) OVER w AS BIGINT) AS syy
               FROM daily
               WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT day, x AS clicks, y AS purchase_cents, round($rTxt, 6) AS r7
         FROM roll WHERE n = 7 ORDER BY day""")),

    // Local-peak detection in the daily count series per event type:
    // a day is a peak when it strictly beats both neighbors AND
    // exceeds 1.5× the ±3-day neighborhood mean — the prominence rule
    // compares INTEGERS only (2·cnt·n_nbr > 3·sum_nbr), never a
    // rounded mean. Partitioned day-grain windows.
    Query("q_x_peak_detect", (s, d) => {
      val daily = graft.operators.DayGrain.counts(s, d)
        .withColumnRenamed("c", "cnt")
      val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wn = wo.rowsBetween(-3, 3)
      daily
        .withColumn("prev", lag(col("cnt"), 1).over(wo))
        .withColumn("nxt", lead(col("cnt"), 1).over(wo))
        .withColumn("n_nbr", count(lit(1)).over(wn))
        .withColumn("sum_nbr", sum(col("cnt")).over(wn))
        .filter(col("prev").isNotNull && col("nxt").isNotNull &&
          col("cnt") > col("prev") && col("cnt") > col("nxt") &&
          col("cnt") * 2 * col("n_nbr") > col("sum_nbr") * 3)
        .select(col("event_type"), col("day"), col("cnt"),
          round(col("cnt") * col("n_nbr") / col("sum_nbr").cast("double"), 6)
            .as("prominence"))
        .orderBy(col("event_type"), col("day"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY event_type, CAST(ts AS DATE)),
         ext AS (SELECT event_type, day, cnt,
                 lag(cnt) OVER wo AS prev, lead(cnt) OVER wo AS nxt,
                 CAST(count(*) OVER wn AS BIGINT) AS n_nbr,
                 CAST(sum(cnt) OVER wn AS BIGINT) AS sum_nbr
               FROM daily
               WINDOW wo AS (PARTITION BY event_type ORDER BY day),
                      wn AS (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
         SELECT event_type, day, cnt,
                round(cnt * n_nbr / CAST(sum_nbr AS DOUBLE), 6) AS prominence
         FROM ext
         WHERE prev IS NOT NULL AND nxt IS NOT NULL
           AND cnt > prev AND cnt > nxt AND cnt * 2 * n_nbr > sum_nbr * 3
         ORDER BY event_type, day""")),

    // Benjamini–Hochberg FDR over the per-source en-rate z-tests —
    // the multiple-testing correction the audit suite's 20 parallel
    // tests need. Cells exact; z and the A–S normal tail evaluate
    // shared text; ranks and the step-up rule run on the ≤|sources|
    // grain (histogram-fold cum + max), α = 0.05.
    Query("q_x_bh_fdr", (s, d) => {
      val docs = table(s, d, "documents")
      val per = docs.groupBy(col("source"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("n"))
      val g = docs.agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ge"),
        count(lit(1)).as("gn"))
      val zTxt =
        """((CAST(a AS DOUBLE) / n - (CAST(ge AS DOUBLE) - a) / (gn - n)) /
            sqrt(CAST(ge AS DOUBLE) / gn * (1.0 - CAST(ge AS DOUBLE) / gn) *
                 (1.0 / n + 1.0 / (gn - n))))"""
      val scored = per.crossJoin(broadcast(g))
        .selectExpr("source", "a", "n",
          s"round($zTxt, 6) AS z", s"${pTxt(zTxt)} AS p")
      val ranked = scored.coalesce(1)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("p"), col("source"))).cast("long"))
        .withColumn("m", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .cut(kRowFold = true)
      val kmax = ranked.filter(col("p") * col("m") <= col("rank") * 0.05)
        .agg(coalesce(max(col("rank")), lit(0L)).as("k"))
      ranked.crossJoin(broadcast(kmax))
        .select(col("source"), col("z"), round(col("p"), 6).as("p"),
          col("rank"), (col("rank") <= col("k")).as("rejected"))
        .orderBy(col("rank"))
    }, Some {
      val zTxt =
        """((CAST(a AS DOUBLE) / n - (CAST(ge AS DOUBLE) - a) / (gn - n)) /
            sqrt(CAST(ge AS DOUBLE) / gn * (1.0 - CAST(ge AS DOUBLE) / gn) *
                 (1.0 / n + 1.0 / (gn - n))))"""
      val x = s"(abs($zTxt) / sqrt(2.0))"
      val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
      val erf = s"""(1.0 - (((((1.061405429 * $t - 1.453152027) * $t) + 1.421413741)
                     * $t - 0.284496736) * $t + 0.254829592) * $t * exp(-$x * $x))"""
      s"""WITH per AS (SELECT source,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY source),
         g AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ge,
                      CAST(count(*) AS BIGINT) AS gn
               FROM documents),
         scored AS (SELECT source, round($zTxt, 6) AS z, (1.0 - $erf) AS p
                    FROM per, g),
         ranked AS (SELECT source, z, p,
                 CAST(row_number() OVER (ORDER BY p, source) AS BIGINT) AS rank,
                 CAST(count(*) OVER () AS BIGINT) AS m
               FROM scored),
         kmax AS (SELECT coalesce(max(rank), 0) AS k FROM ranked
                  WHERE p * m <= rank * 0.05)
         SELECT source, z, round(p, 6) AS p, rank, rank <= kmax.k AS rejected
         FROM ranked, kmax ORDER BY rank"""
    })
  )
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-10 wave 3 (SURVEY.md §2.8d cont.): drift detection (CUSUM),
  * randomness (runs test), cross-source similarity (exact vocabulary
  * Jaccard), corpus coverage (frequency-grain coverage curve),
  * distribution comparison (Q–Q shift at integer ranks), diversity
  * (Simpson), and single-outlier testing (Grubbs).
  *
  * Determinism: CUSUM runs on daily-count deviations from the per-type
  * MEDIAN — deviations are exact multiples of 0.5, so the recurrence
  * is EXACT binary arithmetic and the recursive-CTE oracle matches
  * bit-for-bit with no float-order caveat at all. Everything else is
  * integer aggregates + one final expression (§7.4 conventions).
  */
object Round10b {
  val queries: Seq[Query] = Seq(

    // CUSUM drift statistic per event type over the daily count
    // series: S_t = max(0, S_{t-1} + (c_t − median_c)). The alarm
    // statistic max_t S_t flags sustained upward drift the PSI /
    // changepoint queries see only in aggregate. Sequential per-type
    // fold (5 groups × ≤31 days — the q_x_holt mapGroups shape, state
    // = one running double); deviations are exact 0.5-multiples so
    // the fold is exact arithmetic on both engines.
    Query("q_x_cusum", (s, d) => {
      import s.implicits._
      val dc = graft.operators.DayGrain.counts(s, d)
      val med = dc.groupBy(col("event_type"))
        .agg(median(col("c")).as("med"), count(lit(1)).as("n_days"))
      val rows = dc.join(broadcast(med), "event_type")
        .select(col("event_type"), col("day").cast("string"),
          col("c").cast("double"), col("med"), col("n_days"))
        .as[(String, String, Double, Double, Long)]
      rows.groupByKey(_._1).mapGroups { (typ, it) =>
        val arr = it.toArray.sortBy(_._2)
        var sPos = 0.0; var sMax = 0.0
        arr.foreach { r =>
          sPos = math.max(0.0, sPos + (r._3 - r._4))
          sMax = math.max(sMax, sPos)
        }
        (typ, arr.length.toLong, sMax, sPos)
      }.toDF("event_type", "n_days", "cusum_max", "cusum_final")
        .select(col("event_type"), col("n_days"),
          round(col("cusum_max"), 6).as("cusum_max"),
          round(col("cusum_final"), 6).as("cusum_final"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH RECURSIVE dc AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         med AS (SELECT event_type, median(c) AS med,
                   CAST(count(*) AS BIGINT) AS n_days
                 FROM dc GROUP BY 1),
         o AS (SELECT dc.event_type, CAST(dc.c AS DOUBLE) AS c, med.med, med.n_days,
                 CAST(row_number() OVER (PARTITION BY dc.event_type
                   ORDER BY dc.day) AS BIGINT) AS rn
               FROM dc JOIN med ON med.event_type = dc.event_type),
         r AS (
           SELECT event_type, rn, n_days,
                  greatest(CAST(0 AS DOUBLE), c - med) AS s,
                  greatest(CAST(0 AS DOUBLE), c - med) AS smax
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.rn, o.n_days,
                  greatest(CAST(0 AS DOUBLE), r.s + (o.c - o.med)),
                  greatest(r.smax,
                    greatest(CAST(0 AS DOUBLE), r.s + (o.c - o.med)))
           FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
         SELECT event_type, n_days,
                round(smax, 6) AS cusum_max, round(s, 6) AS cusum_final
         FROM r WHERE rn = n_days ORDER BY event_type""")),

    // Wald–Wolfowitz runs test per type: is the daily count series
    // random around its median, or does it streak? Ties (== median)
    // are dropped (the standard convention); runs / n1 / n2 are exact
    // longs from one lag window at day grain, z is one expression.
    Query("q_x_runs_test", (s, d) => {
      val dc = graft.operators.DayGrain.counts(s, d)
      val med = dc.groupBy(col("event_type")).agg(median(col("c")).as("med"))
      val signed = dc.join(broadcast(med), "event_type")
        .filter(col("c") =!= col("med"))
        .withColumn("sgn", when(col("c") > col("med"), 1).otherwise(-1))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val runs = signed
        .withColumn("psgn", lag(col("sgn"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"),
          (sum(when(col("psgn").isNull || col("psgn") =!= col("sgn"), 1L)
            .otherwise(0L))).as("r"))
      runs
        .select(col("event_type"), col("n1"), col("n2"), col("r"),
          // z undefined when either side is empty or the variance
          // degenerates (n1=n2<=1) — NULL on both engines, no ANSI
          // divide-by-zero (the q_x_linreg lesson: Spark 4 ANSI throws
          // even for double 0/0)
          round(when(col("n1") * col("n2") > 0 &&
            lit(2L) * col("n1") * col("n2") - col("n1") - col("n2") > 0,
            (col("r") -
              (lit(2.0) * col("n1") * col("n2") / (col("n1") + col("n2")) + 1)) /
              sqrt(lit(2.0) * col("n1") * col("n2") *
                (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2")) /
                ((col("n1") + col("n2")).cast("double") * (col("n1") + col("n2")) *
                  (col("n1") + col("n2") - 1)))), 6).as("z"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
         med AS (SELECT event_type, median(c) AS med FROM dc GROUP BY 1),
         sg AS (SELECT dc.event_type, dc.day,
                  CASE WHEN dc.c > med.med THEN 1 ELSE -1 END AS sgn
                FROM dc JOIN med ON med.event_type = dc.event_type
                WHERE dc.c <> med.med),
         l AS (SELECT event_type, sgn,
                 lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS psgn
               FROM sg),
         g AS (SELECT event_type,
                 CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN psgn IS NULL OR psgn <> sgn
                   THEN 1 ELSE 0 END) AS BIGINT) AS r
               FROM l GROUP BY event_type)
         SELECT event_type, n1, n2, r,
                round(CASE WHEN n1 * n2 > 0 AND 2 * n1 * n2 - n1 - n2 > 0 THEN
                  (r - (2.0 * n1 * n2 / (n1 + n2) + 1)) /
                  sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
                    (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))) END, 6) AS z
         FROM g ORDER BY event_type""")),

    // Exact word-BIGRAM Jaccard between every source pair — the
    // cross-source content-overlap matrix (the EXACT arm of the
    // kmv_overlap sketch already on the board). Bigram space, not
    // unigram: the fixture vocabulary is ~31 terms so every source
    // covers it (all-1.0 matrix); bigrams are combinatorial and
    // discriminate. Work is bounded by the (source, gram)-distinct
    // table: the self-join buckets by gram, output is k²/2 = 190
    // pairs.
    Query("q_x_source_jaccard", (s, d) => {
      val st = table(s, d, "documents")
        .select(col("source"),
          explode(graft.functions.TextFunctions.wordNgramsExpr("text", 2)).as("t"))
        .distinct()
        .cut()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = st.select(col("source").as("sa"), col("t"))
        .join(st.select(col("source").as("sb"), col("t")), "t")
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("sa"), col("nv").as("na"))), "sa")
        .join(broadcast(sizes.select(col("source").as("sb"), col("nv").as("nb"))), "sb")
        .select(col("sa"), col("sb"), col("inter"), col("na"), col("nb"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
        .orderBy(col("sa"), col("sb"))
    }, Some(
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         u AS (SELECT source, ws, unnest(range(1, len(ws))) AS i FROM w),
         st AS (SELECT DISTINCT source,
                  array_to_string(ws[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)], ' ') AS t
                FROM u),
         sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM st GROUP BY 1),
         i AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
               FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
               GROUP BY 1, 2)
         SELECT sa, sb, inter, za.nv AS na, zb.nv AS nb,
                round(CAST(inter AS DOUBLE) / (za.nv + zb.nv - inter), 6) AS jaccard
         FROM i JOIN sz za ON za.source = sa JOIN sz zb ON zb.source = sb
         ORDER BY sa, sb""")),

    // Corpus coverage curve at FREQUENCY grain: for each distinct
    // term-count value (rarest-to-commonest domain, bounded by the
    // count range — not the vocabulary), how many terms have it and
    // what cumulative share of all tokens the terms at or above it
    // cover. The "how many vocab entries until 95% of tokens" curve
    // that sizes tokenizers — computed without a vocabulary-sized
    // window (the value domain is its own histogram).
    Query("q_x_coverage", (s, d) => {
      val wOrd = Window.orderBy(col("c").desc)
      val freq = table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val byCount = freq.groupBy(col("c")).agg(count(lit(1)).as("n_terms"))
        .withColumn("mass", col("c") * col("n_terms"))
        // count-value domain ≤ a few hundred rows: bounded window
        .coalesce(1)
        .withColumn("cum_terms", sum(col("n_terms")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_mass", sum(col("mass")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .cut(kRowFold = true)
      val tot = byCount.agg(sum(col("mass")).as("n_tokens"))
      byCount.crossJoin(broadcast(tot))
        .select(col("c"), col("n_terms"), col("cum_terms"),
          round(col("cum_mass").cast("double") / col("n_tokens"), 6).as("cum_share"))
        .orderBy(col("c").desc)
    }, Some(
      """WITH freq AS (SELECT t, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
                GROUP BY t),
         bc AS (SELECT c, CAST(count(*) AS BIGINT) AS n_terms,
                  CAST(c * count(*) AS BIGINT) AS mass
                FROM freq GROUP BY c),
         cum AS (SELECT c, n_terms, mass,
                   CAST(sum(n_terms) OVER (ORDER BY c DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS cum_terms,
                   CAST(sum(mass) OVER (ORDER BY c DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS cum_mass
                 FROM bc),
         t AS (SELECT CAST(sum(mass) AS BIGINT) AS n_tokens FROM bc)
         SELECT c, n_terms, cum_terms,
                round(CAST(cum_mass AS DOUBLE) / n_tokens, 6) AS cum_share
         FROM cum CROSS JOIN t ORDER BY c DESC""")),

    // Q–Q shift: empirical n_chars quantiles of source src0 vs the
    // rest of the corpus at every 5th percentile, read at integer
    // ranks (value = min v with cum_count ≥ ceil(q·n/100)) — exact
    // integers end to end, no interpolation to diverge on. The
    // distribution-shape diff a mean test (cohens_d) can't see.
    // Shape: value-grain cumulative counts (the q_x_mann_whitney
    // pattern) × a 19-row broadcast percentile spine.
    Query("q_x_qq_shift", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("n_chars"), (col("source") === "src0").as("is_a"))
      def qvals(side: DataFrame, flag: Boolean): DataFrame = {
        val vg = side.filter(col("is_a") === flag)
          .groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
        val wOrd = Window.orderBy(col("n_chars"))
        val cum = vg.coalesce(1)
          .withColumn("cum", sum(col("cnt")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .cut(kRowFold = true)
        val n = cum.agg(max(col("cum")).as("n"))
        val spine = broadcast(
          side.sparkSession.range(1, 20).select((col("id") * 5).as("q")))
        spine.crossJoin(broadcast(n))
          .join(cum, col("cum") * 100 >= col("q") * col("n"))
          .groupBy(col("q")).agg(min(col("n_chars")).as(if (flag) "v_src" else "v_rest"))
      }
      qvals(docs, flag = true).join(qvals(docs, flag = false), "q")
        .select(col("q").cast("int").as("pct"), col("v_src"), col("v_rest"),
          (col("v_src") - col("v_rest")).as("shift"))
        .orderBy(col("pct"))
    }, Some(
      """WITH a AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt
                FROM documents WHERE source = 'src0' GROUP BY 1),
         ac AS (SELECT n_chars,
                  CAST(sum(cnt) OVER (ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM a),
         an AS (SELECT max(cum) AS n FROM ac),
         b AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt
               FROM documents WHERE source <> 'src0' GROUP BY 1),
         bc AS (SELECT n_chars,
                  CAST(sum(cnt) OVER (ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM b),
         bn AS (SELECT max(cum) AS n FROM bc),
         spine AS (SELECT CAST(unnest(range(1, 20)) * 5 AS BIGINT) AS q),
         qa AS (SELECT q, min(n_chars) AS v_src
                FROM spine CROSS JOIN an JOIN ac ON ac.cum * 100 >= q * an.n
                GROUP BY q),
         qb AS (SELECT q, min(n_chars) AS v_rest
                FROM spine CROSS JOIN bn JOIN bc ON bc.cum * 100 >= q * bn.n
                GROUP BY q)
         SELECT CAST(q AS INTEGER) AS pct, v_src, v_rest,
                v_src - v_rest AS shift
         FROM qa JOIN qb USING (q) ORDER BY pct""")),

    // Simpson diversity of each source's token distribution:
    // D = Σ c(c−1) / (N(N−1)) (the probability two random tokens
    // coincide) and its inverse (effective vocabulary size) — the
    // repetition-diversity audit complementing Shannon entropy
    // (q_x_entropy) and type-token ratio (q_x_diversity). Pure
    // integer sums at (source, term) grain.
    Query("q_x_simpson", (s, d) => {
      val tf = table(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          sum(col("c") * (col("c") - 1)).as("coin"))
        .select(col("source"), col("n_tokens"),
          round(when(col("n_tokens") > 1,
            col("coin").cast("double") /
              (col("n_tokens").cast("double") * (col("n_tokens") - 1))), 6)
            .as("simpson"),
          round(when(col("coin") > 0,
            (col("n_tokens").cast("double") * (col("n_tokens") - 1)) /
              col("coin")), 6).as("inv_simpson"))
        .orderBy(col("source"))
    }, Some(
      """WITH tf AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT source, unnest(string_split(text, ' ')) AS t
                      FROM documents)
                GROUP BY 1, 2),
         g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(sum(c * (c - 1)) AS BIGINT) AS coin
               FROM tf GROUP BY source)
         SELECT source, n_tokens,
                round(CASE WHEN n_tokens > 1 THEN CAST(coin AS DOUBLE) /
                  (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)) END, 6) AS simpson,
                round(CASE WHEN coin > 0 THEN
                  (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)) / coin END, 6)
                  AS inv_simpson
         FROM g ORDER BY source""")),

    // Grubbs single-outlier statistic for n_chars: G = max(|min−μ|,
    // |max−μ|)/σ. The extreme deviation is determined by the min and
    // max order statistics alone, so the whole test is FOUR integer
    // aggregates + one expression — O(1) output at any corpus size.
    Query("q_x_grubbs", (s, d) =>
      table(s, d, "documents")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("qx"),
          min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
        .select(col("n"), col("mn"), col("mx"),
          // Variance guard in DOUBLE: qx*n and sx*sx as raw BIGINTs
          // overflow Long at ~1e10 docs × n_chars~1e3 (Spark non-ANSI
          // would wrap silently while DuckDB errors — r10 advice).
          round(when(col("n") > 1 &&
            col("qx").cast("double") * col("n") > col("sx").cast("double") * col("sx"),
            greatest(col("mx") - col("sx").cast("double") / col("n"),
              col("sx").cast("double") / col("n") - col("mn")) /
              sqrt((col("qx") - col("sx").cast("double") * col("sx") / col("n")) /
                (col("n") - 1))), 6).as("g")), Some(
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(n_chars) AS BIGINT) AS sx,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS qx,
                  CAST(min(n_chars) AS BIGINT) AS mn,
                  CAST(max(n_chars) AS BIGINT) AS mx
                FROM documents)
         SELECT n, mn, mx,
                round(CASE WHEN n > 1 AND CAST(qx AS DOUBLE) * n > CAST(sx AS DOUBLE) * sx THEN
                  greatest(mx - CAST(sx AS DOUBLE) / n,
                           CAST(sx AS DOUBLE) / n - mn) /
                  sqrt((qx - CAST(sx AS DOUBLE) * sx / n) / (n - 1)) END, 6) AS g
         FROM m"""))
  )
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Cuts.CutOps
import graft.operators.DayGrain

/** Round-14 wave (SURVEY.md §2.8h): the production-form series/outlier
  * tests the r13 close notes queued — Sakoe–Chiba banded DTW (the
  * O(n·w) DTW a monitoring pipeline actually runs), generalized ESD
  * (the multi-outlier extension of q_x_grubbs).
  *
  * Shared scale shape (the §2.8g contract): every query reduces the
  * corpus to (event_type, day) grain in ONE
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
         ORDER BY event_type, rnd"""))
  )
}

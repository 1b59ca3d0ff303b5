package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-11 wave 10 (SURVEY.md §2.8e): the pipeline-TUNING tools — a
  * dedup threshold sensitivity sweep over the exact all-pairs Jaccard
  * table, the analytic MinHash-LSH banding S-curve (how (b, r) maps
  * similarity to candidate probability), and a two-proportion
  * sample-size planner — the design-time companions of the dedup and
  * audit operators the board already carries.
  *
  * Determinism (§7.4): the sweep compares the SAME 6dp-rounded
  * Jaccard both engines already hash-match (q_x_allpairs_jaccard)
  * against exact literal grid thresholds; the S-curve and the planner
  * evaluate IDENTICAL closed-form expression text on literal grids /
  * exact integer cells.
  */
object Round11j {
  val queries: Seq[Query] = Seq(

    // Dedup threshold sweep: candidate-pair count and docs touched at
    // every Jaccard cutoff in {0.5 … 0.9} — the sensitivity curve
    // that picks a production threshold. One exact prefix-filter
    // all-pairs join at the grid FLOOR (near-dup-density bounded),
    // then a 5-row grid cross join over that pair table.
    Query("q_x_dedup_sweep", (s, d) => {
      val p = graft.operators.DupGraph.pairs(s, d, threshold = 0.5)
      val grid = broadcast(s.range(5, 10)
        .select((col("id") / 10.0).as("t")))
      val hits = p.crossJoin(grid).filter(col("jaccard") >= col("t"))
      val pairsAt = hits.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
      val docsAt = hits.select(col("t"), col("doc_a").as("doc"))
        .unionAll(hits.select(col("t"), col("doc_b").as("doc")))
        .groupBy(col("t")).agg(countDistinct(col("doc")).as("n_docs"))
      grid.join(pairsAt, Seq("t"), "left").join(docsAt, Seq("t"), "left")
        .na.fill(0L, Seq("n_pairs", "n_docs"))
        .select(round(col("t"), 1).as("threshold"), col("n_pairs"), col("n_docs"))
        .orderBy(col("threshold"))
    }, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.s, b.s)) AS inter,
                      len(list_distinct(list_concat(a.s, b.s))) AS uni
               FROM g a JOIN g b ON a.doc_id < b.doc_id),
         pj AS (SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
                FROM p WHERE uni > 0 AND inter * 1000000 >= uni * 500000),
         grid AS (SELECT r.range / 10.0 AS t FROM range(5, 10) r),
         hits AS (SELECT grid.t, pj.doc_a, pj.doc_b
                  FROM pj CROSS JOIN grid WHERE pj.jaccard >= grid.t),
         pa AS (SELECT t, CAST(count(*) AS BIGINT) AS n_pairs
                FROM hits GROUP BY t),
         da AS (SELECT t, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs FROM (
                  SELECT t, doc_a AS doc FROM hits
                  UNION ALL SELECT t, doc_b FROM hits) GROUP BY t)
         SELECT round(grid.t, 1) AS threshold,
                coalesce(pa.n_pairs, 0) AS n_pairs,
                coalesce(da.n_docs, 0) AS n_docs
         FROM grid LEFT JOIN pa ON grid.t = pa.t LEFT JOIN da ON grid.t = da.t
         ORDER BY threshold""")),

    // MinHash-LSH banding S-curve: candidate probability
    // p = 1 − (1 − s^r)^b over a literal (bands × rows-per-band ×
    // similarity) grid, with each config's balance point s* = (1/b)^(1/r)
    // — the design table behind q_x_near_dedup's banding. Pure
    // closed-form on plan literals; identical expression text in both
    // engines.
    Query("q_x_lsh_curve", (s, d) => {
      val bands = broadcast(s.range(0, 3)
        .select(element_at(array(lit(4), lit(8), lit(16)),
          col("id").cast("int") + 1).as("b")))
      val rows = broadcast(s.range(0, 2)
        .select(element_at(array(lit(2), lit(4)),
          col("id").cast("int") + 1).as("r")))
      val sims = broadcast(s.range(1, 20).select((col("id") / 20.0).as("sim")))
      bands.crossJoin(rows).crossJoin(sims)
        .selectExpr("b", "r", "round(sim, 6) AS sim",
          "round(1.0 - pow(1.0 - pow(sim, r), b), 6) AS p_candidate",
          "round(pow(1.0 / b, 1.0 / r), 6) AS s_balance")
        .orderBy(col("b"), col("r"), col("sim"))
    }, Some(
      """WITH b AS (SELECT unnest([4, 8, 16]) AS b),
         r AS (SELECT unnest([2, 4]) AS r),
         s AS (SELECT g.range / 20.0 AS sim FROM range(1, 20) g)
         SELECT b.b, r.r, round(s.sim, 6) AS sim,
                round(1.0 - pow(1.0 - pow(s.sim, r.r), b.b), 6) AS p_candidate,
                round(pow(1.0 / b.b, 1.0 / r.r), 6) AS s_balance
         FROM b CROSS JOIN r CROSS JOIN s
         ORDER BY b.b, r.r, sim""")),

    // Two-proportion sample-size planner: per source, the n PER ARM
    // needed to detect the source-vs-rest en-rate difference at
    // α = 0.05 / power 0.8 — n = (z_α/2 + z_β)²·(p1q1 + p2q2)/Δ².
    // Cells exact; the closed form is one shared expression with
    // literal z constants; degenerate Δ = 0 reports null.
    Query("q_x_sample_size", (s, d) => {
      val docs = table(s, d, "documents")
      val per = docs.groupBy(col("source"))
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("a"),
          count(lit(1)).as("n"))
      val g = docs.agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ge"),
        count(lit(1)).as("gn"))
      per.crossJoin(broadcast(g))
        .selectExpr("source",
          "CAST(a AS DOUBLE) / n AS p1",
          "(CAST(ge AS DOUBLE) - a) / (gn - n) AS p2")
        .selectExpr("source", "round(p1, 6) AS p1", "round(p2, 6) AS p2",
          """CASE WHEN p1 <> p2 THEN
               CAST(ceil(pow(1.959964 + 0.841621, 2)
                 * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                 / ((p1 - p2) * (p1 - p2))) AS BIGINT) END AS n_per_arm""")
        .orderBy(col("source"))
    }, Some(
      """WITH per AS (SELECT source,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY source),
         g AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ge,
                      CAST(count(*) AS BIGINT) AS gn
               FROM documents),
         pr AS (SELECT source, CAST(a AS DOUBLE) / n AS p1,
                       (CAST(ge AS DOUBLE) - a) / (gn - n) AS p2
                FROM per, g)
         SELECT source, round(p1, 6) AS p1, round(p2, 6) AS p2,
                CASE WHEN p1 <> p2 THEN
                  CAST(ceil(pow(1.959964 + 0.841621, 2)
                    * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
                    / ((p1 - p2) * (p1 - p2))) AS BIGINT) END AS n_per_arm
         FROM pr ORDER BY source"""))
  )
}

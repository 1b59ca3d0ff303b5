package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-11 wave 4 (SURVEY.md §2.8e): the corpus-operations layer a
  * 100 TB training-data pipeline runs between cleaning and writing —
  * boilerplate detection (cross-document repeated shingles, the C4 /
  * RefinedWeb "duplicated line" rule at shingle grain), t-closeness
  * (completing the k-anonymity / l-diversity privacy triad),
  * curriculum ordering (exact integer-rank difficulty phases +
  * deterministic intra-phase hash order), deterministic shard
  * assignment with a balance audit (the write-path layout step),
  * join-key skew profiling and join-cardinality estimation audits
  * (the planning inputs a 1000-executor join needs), and per-source
  * exact-dedup impact accounting. Mirrors the ad-hoc warehouse SQL
  * surface of the reference (reference README.md:62-78).
  *
  * Determinism (§7.4): counts and cross-multiplied numerators stay
  * BIGINT / DECIMAL(38,0) to the last expression; threshold flags
  * compare integers (never a rounded double); value-grain cumulative
  * sums ride the q_x_rfm coalesce(1)+lazy-checkpoint histogram fold;
  * hash order is md5 text identical in both engines.
  */
object Round11d {
  val queries: Seq[Query] = Seq(

    // Boilerplate audit: per source, the share of distinct word
    // trigrams that recur across >= 2 documents of that source — the
    // shingle-grain form of the "remove lines repeated across pages"
    // web-cleaning rule. Postings-grain work (explode + two hash
    // aggregates keyed by (source, gram)); the corpus never self-joins.
    Query("q_x_boilerplate", (s, d) => {
      val g = graft.operators.NgramGrain.sourcePostings(s, d, 3)
      val perGram = g.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("ndocs"))
      val srcTot = table(s, d, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      perGram.groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"),
          max(col("ndocs")).as("max_docs"))
        .join(srcTot, "source")
        .withColumn("boiler_share",
          round(col("n_shared").cast("double") / col("n_grams"), 6))
        .select(col("source"), col("n_docs"), col("n_grams"),
          col("n_shared"), col("max_docs"), col("boiler_share"))
        .orderBy(col("source"))
    }, Some(
      """WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         u AS (SELECT source, doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
               FROM w),
         gr AS (SELECT DISTINCT source, doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                FROM u),
         pg AS (SELECT source, g, CAST(count(*) AS BIGINT) AS ndocs
                FROM gr GROUP BY source, g),
         st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source)
         SELECT pg.source, st.n_docs, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_shared,
                max(ndocs) AS max_docs,
                round(CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS boiler_share
         FROM pg JOIN st ON pg.source = st.source
         GROUP BY pg.source, st.n_docs ORDER BY pg.source""")),

    // t-closeness on the (source, length-bucket) QI with `lang`
    // sensitive: total-variation distance between each class's lang
    // distribution and the corpus-wide one. The numerator
    // Σ_l |c_l·N − g_l·n| is an EXACT order-free DECIMAL(38,0) sum
    // (cross-multiplied — no per-class float division), one division
    // at the end; the t > 0.3 flag compares integers (5·num > 3·n·N).
    Query("q_x_t_closeness", (s, d) => {
      val docs = table(s, d, "documents")
      val cls = docs.groupBy(col("source"),
          floor(col("n_chars") / 100).as("len_bucket"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val ctot = cls.groupBy(col("source"), col("len_bucket"))
        .agg(sum(col("c")).as("n"))
      val glob = docs.groupBy(col("lang")).agg(count(lit(1)).as("g"))
      val tot = docs.agg(count(lit(1)).as("nn"))
      ctot.crossJoin(broadcast(glob))
        .join(cls, Seq("source", "len_bucket", "lang"), "left")
        .na.fill(0L, Seq("c"))
        .crossJoin(broadcast(tot))
        .groupBy(col("source"), col("len_bucket"), col("n"), col("nn"))
        .agg(sum(abs(col("c").cast(DecimalType(19, 0)) * col("nn") -
            col("g").cast(DecimalType(19, 0)) * col("n"))).as("num"))
        .select(col("source"), col("len_bucket"), col("n").as("class_size"),
          round(col("num").cast("double") /
            (lit(2.0) * col("n").cast("double") * col("nn").cast("double")), 6)
            .as("tvd"),
          (col("num") * 5 > col("n").cast(DecimalType(19, 0)) * col("nn") * 3)
            .as("t_risk"))
        .orderBy(col("source"), col("len_bucket"))
    }, Some(
      """WITH cls AS (SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
                             lang, CAST(count(*) AS BIGINT) AS c
                      FROM documents GROUP BY source, floor(n_chars / 100), lang),
         ctot AS (SELECT source, len_bucket, CAST(sum(c) AS BIGINT) AS n
                  FROM cls GROUP BY source, len_bucket),
         gl2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS g
                  FROM documents GROUP BY lang),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
         grid AS (SELECT ct.source, ct.len_bucket, ct.n, gl.lang, gl.g,
                         coalesce(cls.c, 0) AS c, tot.nn
                  FROM ctot ct CROSS JOIN gl2 gl CROSS JOIN tot
                  LEFT JOIN cls ON cls.source = ct.source
                       AND cls.len_bucket = ct.len_bucket AND cls.lang = gl.lang)
         SELECT source, len_bucket, n AS class_size,
                round(CAST(sum(abs(CAST(c AS DECIMAL(19,0)) * nn
                                   - CAST(g AS DECIMAL(19,0)) * n)) AS DOUBLE)
                      / (2.0 * CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS tvd,
                sum(abs(CAST(c AS DECIMAL(19,0)) * nn
                        - CAST(g AS DECIMAL(19,0)) * n)) * 5
                  > CAST(n AS DECIMAL(19,0)) * nn * 3 AS t_risk
         FROM grid GROUP BY source, len_bucket, n, nn
         ORDER BY source, len_bucket""")),

    // Curriculum ordering: easy→hard phases from exact integer-rank
    // length quintiles (the q_x_rfm threshold spine — t_q = min v with
    // cum·5 ≥ q·n, phase = 1 + #{q : v > t_q}; no corpus-sized ranking
    // window), deterministic md5 order inside each phase, first 100
    // docs of the schedule. The final pick is a distributed top-k
    // (TakeOrderedAndProject), never a global sort.
    Query("q_x_curriculum", (s, d) => {
      val docs = table(s, d, "documents")
      val vg = docs.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cnt"))
      val cum = vg.coalesce(1)
        .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .cut(kRowFold = true)
      val n = cum.agg(max(col("cum")).as("n"))
      val thr = broadcast(s.range(1, 5).select(col("id").as("q")))
        .crossJoin(broadcast(n))
        .join(cum, col("cum") * 5 >= col("q") * col("n"))
        .groupBy(col("q")).agg(min(col("v")).as("t"))
      docs.select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(thr))
        .groupBy(col("doc_id"), col("n_chars"))
        .agg((lit(1L) + sum(when(col("n_chars") > col("t"), 1L).otherwise(0L)))
          .as("phase"))
        .withColumn("h", md5(concat(lit("cur:"), col("doc_id").cast("string"))))
        .orderBy(col("phase"), col("h"), col("doc_id"))
        .limit(100)
        .select(col("phase"), col("doc_id"), col("n_chars"), col("h"))
    }, Some(
      """WITH vg AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
                     FROM documents GROUP BY n_chars),
         cum AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cum FROM vg),
         n AS (SELECT max(cum) AS n FROM cum),
         thr AS (SELECT q, min(v) AS t FROM (
                   SELECT r.range AS q, c.v
                   FROM range(1, 5) r, cum c, n WHERE c.cum * 5 >= r.range * n.n)
                 GROUP BY q),
         ph AS (SELECT d.doc_id, d.n_chars,
                       CAST(1 + sum(CASE WHEN d.n_chars > thr.t THEN 1 ELSE 0 END)
                         AS BIGINT) AS phase,
                       md5('cur:' || d.doc_id) AS h
                FROM documents d, thr GROUP BY d.doc_id, d.n_chars)
         SELECT phase, doc_id, n_chars, h FROM ph
         ORDER BY phase, h, doc_id LIMIT 100""")),

    // Deterministic shard assignment — the layout step that writes a
    // training corpus as fixed-count shards: shard = md5(doc_id) mod
    // 64, per-shard row/byte stats, and the global balance factor
    // (max shard over perfect-split share) broadcast onto every row.
    // One hash aggregate; the hash makes re-runs byte-identical.
    Query("q_x_shard_assign", (s, d) => {
      val sh = conv(substring(
        md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 64
      val shards = table(s, d, "documents")
        .groupBy(sh.as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      val bal = shards.agg(max(col("n_docs")).as("mx"), sum(col("n_docs")).as("tt"))
      shards.crossJoin(broadcast(bal))
        .select(col("shard"), col("n_docs"), col("total_chars"),
          round(col("mx") * lit(64.0) / col("tt"), 6).as("balance_factor"))
        .orderBy(col("shard"))
    }, Some(
      """WITH sh AS (SELECT CAST(('0x' || substr(md5('shard:' || doc_id), 1, 8))
                         AS BIGINT) % 64 AS shard, n_chars
                     FROM documents),
         shards AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(n_chars) AS BIGINT) AS total_chars
                    FROM sh GROUP BY shard),
         bal AS (SELECT max(n_docs) AS mx, CAST(sum(n_docs) AS BIGINT) AS tt
                 FROM shards)
         SELECT shard, n_docs, total_chars,
                round(mx * 64.0 / tt, 6) AS balance_factor
         FROM shards, bal ORDER BY shard""")),

    // Join-key skew audit over the stream-side key (events.user_id):
    // key count, hottest-key rows, EXACT p99 key size (integer-rank
    // over the count-of-counts histogram — smallest size s with
    // 100·cum ≥ 99·D), and the max/mean skew ratio — the numbers that
    // decide salting / AQE skew-split before a 100 TB shuffle join.
    Query("q_x_key_skew", (s, d) => {
      val pk = table(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val hist = pk.groupBy(col("c").as("sz")).agg(count(lit(1)).as("k"))
      val cum = hist.coalesce(1)
        .withColumn("cum", sum(col("k")).over(Window.orderBy(col("sz"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .cut(kRowFold = true)
      val dd = cum.agg(max(col("cum")).as("d"))
      val p99 = cum.crossJoin(broadcast(dd))
        .filter(col("cum") * 100 >= col("d") * 99)
        .agg(min(col("sz")).as("p99_rows"))
      pk.agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_rows"))
        .crossJoin(broadcast(p99))
        .select(col("n_rows"), col("n_keys"), col("max_rows"), col("p99_rows"),
          round(col("max_rows").cast("double") * col("n_keys") / col("n_rows"), 6)
            .as("skew_ratio"),
          round(col("max_rows").cast("double") / col("n_rows"), 6).as("top_share"))
    }, Some(
      """WITH pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                     FROM events GROUP BY user_id),
         hist AS (SELECT c AS sz, CAST(count(*) AS BIGINT) AS k
                  FROM pk GROUP BY c),
         cum AS (SELECT sz, sum(k) OVER (ORDER BY sz ROWS UNBOUNDED PRECEDING)
                   AS cum FROM hist),
         dd AS (SELECT max(cum) AS d FROM cum),
         p99 AS (SELECT min(sz) AS p99_rows FROM cum, dd
                 WHERE cum * 100 >= d * 99)
         SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                CAST(count(*) AS BIGINT) AS n_keys,
                max(c) AS max_rows, p99.p99_rows,
                round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 6) AS skew_ratio,
                round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share
         FROM pk, p99 GROUP BY p99.p99_rows""")),

    // Join-cardinality estimation audit for the events self-join on
    // user_id: the uniform-key estimate N²/D (what a histogram-free
    // optimizer assumes) vs the EXACT output size Σ c_k² from the
    // per-key histogram — the ratio IS the skew correction a CBO
    // misses. Σ c² accumulates in DECIMAL(38,0), order-free.
    Query("q_x_join_card", (s, d) => {
      val pk = table(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      pk.agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          sum(col("c").cast(DecimalType(19, 0)) * col("c")).as("exact_dec"))
        .select(col("n_rows"), col("n_keys"),
          col("exact_dec").cast("long").as("exact_pairs"),
          round(col("n_rows").cast("double") * col("n_rows") / col("n_keys"), 6)
            .as("est_uniform"),
          round(col("exact_dec").cast("double") * col("n_keys") /
            (col("n_rows").cast("double") * col("n_rows")), 6).as("skew_multiplier"))
    }, Some(
      """WITH pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                     FROM events GROUP BY user_id)
         SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(CAST(c AS DECIMAL(19,0)) * c) AS BIGINT) AS exact_pairs,
                round(CAST(sum(c) AS DOUBLE) * sum(c) / count(*), 6) AS est_uniform,
                round(CAST(sum(CAST(c AS DECIMAL(19,0)) * c) AS DOUBLE) * count(*)
                      / (CAST(sum(c) AS DOUBLE) * sum(c)), 6) AS skew_multiplier
         FROM pk""")),

    // Exact-dedup impact accounting: per source, docs and bytes
    // before/after hash dedup — the "what did dedup buy us" report
    // line of every corpus release. One (source, text-hash) aggregate
    // then a per-source rollup; identical texts share n_chars so the
    // kept-bytes sum is well-defined.
    Query("q_x_dedup_impact", (s, d) =>
      table(s, d, "documents")
        .groupBy(col("source"), md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"), max(col("n_chars")).as("len"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_unique"),
          sum(col("cnt") * col("len")).as("chars_before"),
          sum(col("len")).as("chars_after"))
        .withColumn("dup_pct",
          round((col("n_docs") - col("n_unique")) * lit(100.0) / col("n_docs"), 6))
        .withColumn("chars_saved", col("chars_before") - col("chars_after"))
        .orderBy(col("source")), Some(
      """WITH g AS (SELECT source, md5(text) AS h, CAST(count(*) AS BIGINT) AS cnt,
                           max(n_chars) AS len
                    FROM documents GROUP BY source, md5(text))
         SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_unique,
                CAST(sum(cnt * len) AS BIGINT) AS chars_before,
                CAST(sum(len) AS BIGINT) AS chars_after,
                round((sum(cnt) - count(*)) * 100.0 / sum(cnt), 6) AS dup_pct,
                CAST(sum(cnt * len) - sum(len) AS BIGINT) AS chars_saved
         FROM g GROUP BY source ORDER BY source"""))
  )
}

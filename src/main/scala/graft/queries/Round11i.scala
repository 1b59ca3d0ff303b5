package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-11 wave 9 (SURVEY.md §2.8e): novelty/provenance audits — how
  * much of each document, source, and corpus decile is NEW text vs
  * restatement — all derived from ONE gram → first-occurrence table
  * (min doc_id per distinct word trigram, a postings-grain aggregate;
  * the corpus never self-joins). The per-doc novelty ratio is the
  * incremental-crawl dedup signal; the per-source owned-gram share is
  * the provenance audit; the decile growth curve is the measured
  * Heaps-law check a tokenizer-budget plan relies on.
  *
  * Determinism (§7.4): first occurrence = MIN doc_id (unique ids, no
  * ties); every output is exact integer counts plus one rounded
  * ratio; the 10-row decile cumsum rides the rfm coalesce(1) +
  * lazy-checkpoint fold.
  */
object Round11i {
  /** (doc_id, g) distinct gram postings — the shared tokenization
    * grain ([[graft.operators.NgramGrain.postings]], bench-memoized).
    */
  private def postings(s: SparkSession, d: String): DataFrame =
    graft.operators.NgramGrain.postings(s, d, 3)

  /** g -> first (minimum) doc_id. */
  private def firstDoc(s: SparkSession, d: String): DataFrame =
    postings(s, d).groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))

  private val firstSql =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       u AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
       gr AS (SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
              FROM u),
       fd AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY g)"""

  val queries: Seq[Query] = Seq(

    // Per-document novelty: share of the doc's distinct trigrams whose
    // FIRST corpus occurrence is this doc (ids order the crawl). Docs
    // full of already-seen grams are restatements — the incremental
    // dedup signal at sub-document grain.
    Query("q_x_ngram_novelty", (s, d) =>
      postings(s, d)
        .join(firstDoc(s, d), "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_grams"), 6))
        .orderBy(col("doc_id")), Some(
      s"""WITH $firstSql
         SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN fd.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                round(CAST(sum(CASE WHEN fd.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS novelty
         FROM gr JOIN fd ON gr.g = fd.g
         GROUP BY gr.doc_id ORDER BY gr.doc_id""")),

    // Per-source provenance: how many of the source's distinct grams
    // does the source OWN (their global first occurrence is one of
    // its docs)? Low ownership = the source restates the rest of the
    // corpus.
    Query("q_x_source_novelty", (s, d) => {
      val docSrc = table(s, d, "documents").select(col("doc_id"), col("source"))
      val perSrcGram = postings(s, d).join(docSrc, "doc_id")
        .select(col("source"), col("g")).distinct()
      val owner = firstDoc(s, d)
        .join(docSrc.select(col("doc_id").as("first_doc"),
          col("source").as("owner_src")), "first_doc")
      perSrcGram.join(owner, "g")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("owner_src") === col("source"), 1L).otherwise(0L))
            .as("n_owned"))
        .withColumn("owned_ratio",
          round(col("n_owned").cast("double") / col("n_grams"), 6))
        .orderBy(col("source"))
    }, Some(
      s"""WITH $firstSql,
         ds AS (SELECT doc_id, source FROM documents),
         sg AS (SELECT DISTINCT ds.source, gr.g
                FROM gr JOIN ds ON gr.doc_id = ds.doc_id),
         owner AS (SELECT fd.g, ds.source AS owner_src
                   FROM fd JOIN ds ON fd.first_doc = ds.doc_id)
         SELECT sg.source, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN owner.owner_src = sg.source THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_owned,
                round(CAST(sum(CASE WHEN owner.owner_src = sg.source THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS owned_ratio
         FROM sg JOIN owner ON sg.g = owner.g
         GROUP BY sg.source ORDER BY sg.source""")),

    // Vocabulary growth curve: NEW distinct grams contributed by each
    // doc-id decile of the crawl, with the cumulative total — the
    // measured Heaps-law bend. Decile grain (10 rows) after one
    // postings aggregate; the cumsum folds on the coalesced decile
    // table.
    Query("q_x_vocab_growth", (s, d) => {
      // id ceiling travels as a broadcast frame — NO driver action at
      // plan-construction time (the r10 lshKnn eager-count lesson)
      val nf = table(s, d, "documents").agg((max(col("doc_id")) + 1).as("nn"))
      val perDecile = firstDoc(s, d)
        .crossJoin(broadcast(nf))
        .withColumn("decile",
          least(floor(col("first_doc") * 10 / col("nn")), lit(9L)))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_grams"))
      perDecile.coalesce(1)
        .withColumn("cum_grams", sum(col("new_grams")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .cut(kRowFold = true)
        .orderBy(col("decile"))
    }, Some(
      s"""WITH $firstSql,
         n AS (SELECT max(doc_id) + 1 AS n FROM documents),
         pd AS (SELECT least(CAST(floor(first_doc * 10 / n.n) AS BIGINT), 9) AS decile,
                       CAST(count(*) AS BIGINT) AS new_grams
                FROM fd, n GROUP BY decile)
         SELECT decile, new_grams,
                CAST(sum(new_grams) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_grams
         FROM pd ORDER BY decile"""))
  )
}

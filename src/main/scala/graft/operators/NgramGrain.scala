package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Shared derivation of the distinct word-n-gram grain of the
  * documents table — the tokenization every shingle-based text query
  * rides. Two shapes cover every consumer:
  *
  *   sets(n)      (doc_id, g: array<string>)      one row per doc
  *   postings(n)  (doc_id, g: string)             one row per (doc, gram)
  *
  * plus [[sourcePostings]] for the per-source consumers. ~8 declared
  * queries ride the n=3 grain (q_x_ngram_novelty / q_x_source_novelty
  * / q_x_vocab_growth, q_x_incr_near_dedup, q_x_contam,
  * q_x_boilerplate on the CACHED frame; q_x_containment /
  * q_x_dedup_cascade via [[DupGraph.trigramSets]] on the
  * [[freshSets]] bypass — the prefix-filter join consumers scan
  * faster fused) and q_x_memorize the n=5 frame; each previously
  * re-ran the same regex tokenize + n-gram build + array_distinct
  * over the full corpus.
  *
  * With [[graft.Memo]] off (the default — the Verify path and every
  * spec) each caller builds a fresh standalone plan against its oracle;
  * Catalyst prunes the source column (and its scan bytes) out of
  * consumers that never read it.
  *
  * With the memo on (Bench), the sets frame is computed once per
  * (session, dir, n) and served persisted; postings
  * remain a cheap explode over the cached arrays. At 100 TB this
  * materialization is the tokenized-corpus table a production
  * pipeline persists once per crawl snapshot (linear in corpus size,
  * written once, read by every dedup/novelty/decontamination job),
  * not an executor-memory cache.
  *
  * Schema-adaptive like [[DayGrain]]: on a documents table WITHOUT a
  * source column (minimal spec fixtures) the frame carries only
  * (doc_id, g); [[sourcePostings]] on such a table fails with the
  * same unresolved-column error a direct col("source") always did.
  */
object NgramGrain {
  private def build(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val docs = graft.Tables.table(spark, dir, "documents")
    val cols = Seq(col("doc_id")) ++
      (if (docs.columns.contains("source")) Seq(col("source")) else Nil) ++
      Seq(array_distinct(TextFunctions.wordNgramsExpr("text", n)).as("g"))
    docs.select(cols: _*)
  }

  /** The full grain: (doc_id [, source], g: array<string> of DISTINCT
    * word n-grams).
    */
  def frame(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    graft.Memo(spark, "NgramGrain", (dir, n))(build(spark, dir, n))

  /** (doc_id, g: array<string>) — the per-doc distinct shingle sets
    * ([[DupGraph.trigramSets]]' contract at n = 3).
    */
  def sets(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    frame(spark, dir, n).select(col("doc_id"), col("g"))

  /** [[sets]] BYPASSING the memo — always a fresh fused
    * scan+tokenize plan. For the prefix-filter containment-join
    * consumers, scanning the corpus-sized cached array column is
    * measurably SLOWER than recomputing the grams fused into the
    * join's child (q_x_containment at sf1: 6.6 s fresh under 42%
    * steal vs 9.0 s cached under 7% — the SCALE.md "array-heavy
    * columnar cache loses to the vectorized parquet scan" finding at
    * the grain level), so those call sites opt out while the
    * explode/postings consumers keep the shared cached frame.
    */
  def freshSets(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    build(spark, dir, n).select(col("doc_id"), col("g"))

  /** (doc_id, g) distinct gram postings — sets exploded. */
  def postings(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    sets(spark, dir, n).select(col("doc_id"), explode(col("g")).as("g"))

  /** (source, doc_id, g) postings for the per-source consumers. */
  def sourcePostings(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    frame(spark, dir, n)
      .select(col("source"), col("doc_id"), explode(col("g")).as("g"))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed byte-pair-encoding tokenizer training — the
  * vocabulary-learning step of an LLM data pipeline (the Sennrich
  * et al. 2016 subword-NMT shape; reference pipeline has no tokenizer
  * stage — `weather-etl.py` delegates all text handling to SQL — so
  * this is part of the mandated training-data extension family).
  *
  * Scale shape: ONE corpus-sized pass builds the (word, freq) table —
  * the explode + count shuffle over the corpus, distributed, one
  * action. That table grows with the vocabulary (Heaps' law, sublinear
  * in corpus bytes), not with the corpus, and it is collected to the
  * driver once. The greedy merge loop then runs on the driver over
  * that in-memory dictionary, as in Sennrich et al. and as MLlib's
  * `Word2Vec` / `CountVectorizer` collect their vocabularies: each
  * round recounts adjacent pairs, takes the argmax and applies the
  * merge to every word, so training costs O(merges × Σ symbols) driver
  * time on top of the one pass, and no Spark job per round. The limit
  * is driver memory: a vocabulary whose serialized table exceeds
  * `spark.driver.maxResultSize` fails loudly at the collect.
  */
object Bpe {

  /** Terminal end-of-word symbol (Sennrich-style): lets merges learn
    * suffixes ("er</w>") distinct from word-internal bigrams. */
  val EndOfWord = "</w>"

  /** One trained merge, rank 1 = first learned: adjacent (left, right)
    * collapse to left+right; `freq` is the corpus-weighted pair count
    * the round saw when it won the argmax. */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Left-to-right, non-overlapping application of one merge to a
    * symbol sequence: "aaa" under (a,a) → [aa, a], never [a, aa].
    * Pure; shared by the driver-side training loop and the encoder. */
  def applyMerge(syms: Seq[String], left: String, right: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += left + right
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Code-point symbolization of one word — the JVM-side twin of the
    * plan-side [[graft.functions.CharNgrams]] n=1 split (UTF8String
    * "chars" are code points), so trained merges and the encode loop
    * agree on what a base symbol is even for supplementary-plane text
    * (an emoji is ONE symbol, never a surrogate pair split in two). */
  def charSyms(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** The distinct-word working table: (syms: array<string> of
    * one-code-point symbols plus the [[EndOfWord]] terminal, freq:
    * corpus occurrence count). This is the single corpus-sized pass —
    * everything after it is vocabulary-sized. The char split reuses
    * the codegen'd [[graft.functions.CharNgrams]] with n=1, the same
    * code-point semantics as [[charSyms]]. */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(
        concat(
          graft.functions.TextFunctions.charNgramsExpr("w", 1),
          array(lit(EndOfWord))).as("syms"),
        col("freq"))

  /** Train `numMerges` BPE merges over whitespace-tokenized `textCol`.
    * Stops early (returning fewer merges) if the vocabulary is fully
    * merged before the budget is spent. Deterministic on any
    * partitioning: the argmax orders by (count desc, left asc,
    * right asc), where string order is Spark's binary UTF-8 compare —
    * i.e. code-POINT order (U+FF21 sorts before U+1F600). The word
    * table is collected once (see the object scaladoc for the
    * `spark.driver.maxResultSize` limit); every merge round after that
    * runs on the driver. The returned list is merge-rank-ordered and
    * tiny (≤ numMerges rows — tokenizer metadata, not data). */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    var words = wordTable(docs, textCol).collect()
      .map(r => (r.getSeq[String](0), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      // corpus-weighted adjacent-pair counts; fully merged
      // single-symbol words contribute no pair. Overflow raises, as
      // Spark's ANSI `sum` over the same counts would.
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, freq) <- words; pair <- syms.iterator.zip(syms.iterator.drop(1)))
        counts(pair) = Math.addExact(counts.getOrElse(pair, 0L), freq)
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }(pairOrder)
        merges += Merge(merges.length + 1, l, r, cnt)
        words = words.map { case (syms, freq) => (applyMerge(syms, l, r), freq) }
      }
    }
    merges.toSeq
  }

  // (−count, left, right) with strings in Spark's binary UTF-8 order
  private val pairOrder: Ordering[(Long, String, String)] = {
    val utf8: Ordering[String] = (x, y) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    Ordering.Tuple3(Ordering.Long, utf8, utf8)
  }

  /** [[trainMerges]] over `dir`'s documents table for consumers that
    * treat the merges as an input artifact (q_x_bpe_encode) — a
    * production pipeline trains the tokenizer once per corpus snapshot
    * and every downstream job loads the merge table. With [[graft.Memo]]
    * off (Verify and every spec) each call trains fresh.
    *
    * With the memo on, PREFIX reuse: greedy training is incremental —
    * merge k depends only on merges 1..k−1 — so trainMerges(docs, n)
    * equals trainMerges(docs, m).take(n) for any m ≥ n (BpeSpec pins
    * this). The memo holds the longest list trained so far per
    * (session, dir, textCol) and serves shorter requests as prefixes:
    * q_x_bpe's 24-merge training covers q_x_bpe_encode's 16-merge
    * request outright. An early-stopped list (fewer merges than
    * requested — the vocabulary merged out) is complete by
    * construction and serves ANY request.
    */
  def trainedMerges(spark: SparkSession, dir: String, textCol: String,
      numMerges: Int): Seq[Merge] = {
    val held = mergeMemo(spark, dir, textCol)
    held.get match {
      case Some(stored) if covers(stored, numMerges) => stored._2.take(numMerges)
      case _ =>
        val merges = trainMerges(
          graft.Tables.table(spark, dir, "documents"), textCol, numMerges)
        held.set(Some((numMerges, merges)))
        merges
    }
  }

  /** Publish a list trained for `numMerges` (write-through from q_x_bpe,
    * whose declared output is the merge table and so always trains
    * fresh): kept only if it extends what the memo already holds.
    * A no-op with [[graft.Memo]] off.
    */
  def storeMerges(spark: SparkSession, dir: String, textCol: String,
      numMerges: Int, merges: Seq[Merge]): Unit = {
    val held = mergeMemo(spark, dir, textCol)
    if (!held.get.exists(covers(_, numMerges))) held.set(Some((numMerges, merges)))
  }

  // (n, merges) = the list trained for a request of n merges; it
  // answers a request for k when k ≤ n, or when merges.length < n
  // (training stopped early, so the list is complete for any k)
  private def covers(stored: (Int, Seq[Merge]), k: Int): Boolean =
    stored._1 >= k || stored._2.length < stored._1

  // memo off: a fresh empty holder per call, so nothing is reused
  private def mergeMemo(spark: SparkSession, dir: String, textCol: String) =
    graft.Memo(spark, "Bpe.trainedMerges", (dir, textCol))(
      new java.util.concurrent.atomic.AtomicReference(
        Option.empty[(Int, Seq[Merge])]))

  /** Merge-pair → rank lookup, built ONCE per merge list — callers on
    * per-word hot paths ([[encodeStats]]'s UDF) hoist this out of the
    * loop instead of rebuilding it per word. */
  def rankIndex(merges: Seq[Merge]): Map[(String, String), Int] =
    merges.map(m => (m.left, m.right) -> m.rank).toMap

  /** Standard BPE encode of one word's symbols: repeatedly apply the
    * LOWEST-rank merge present among adjacent pairs until none
    * applies (the subword-nmt / tokenizers encode loop — not a single
    * rank-order pass, which can miss an early merge whose pair only
    * becomes adjacent after a later merge fires). */
  def segment(syms: Seq[String], merges: Seq[Merge]): Seq[String] =
    segmentByRank(syms, rankIndex(merges))

  /** [[segment]] with a pre-built [[rankIndex]]. */
  def segmentByRank(syms: Seq[String], rankOf: Map[(String, String), Int]): Seq[String] = {
    var s = syms
    var done = false
    while (!done) {
      val best = s.zip(s.drop(1))
        .flatMap(p => rankOf.get(p).map(r => (r, p)))
        .sortBy(_._1).headOption
      best match {
        case Some((_, (l, r))) => s = applyMerge(s, l, r)
        case None => done = true
      }
    }
    s
  }

  /** Corpus tokenization stats under trained merges, grouped by
    * `groupCol`: word count, subtoken count, subtokens/word and
    * chars/subtoken (the fertility / compression dials a tokenizer is
    * judged by).
    *
    * Scale shape: the encode loop (a per-word sequential UDF) runs
    * once per DISTINCT word, never per occurrence — the corpus-sized
    * token stream is first reduced to a (group, word, n_occ) table
    * (vocabulary × groups rows), and the encoded widths join back on
    * the word key. Both join sides are vocabulary-scale, so no
    * broadcast-size assumption is needed — a plain equi-join
    * co-partitions them even when the vocabulary itself is huge. */
  def encodeStats(docs: DataFrame, textCol: String, groupCol: String,
      merges: Seq[Merge]): DataFrame = {
    val rankOf = rankIndex(merges) // built once, serialized to executors
    val nSub = udf((w: String) =>
      segmentByRank(charSyms(w) :+ EndOfWord, rankOf).length)
    val tok = docs
      .select(col(groupCol).as("g"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
    val perWord = tok.groupBy(col("g"), col("w")).agg(count(lit(1)).as("n_occ"))
    val wordSub = perWord.select(col("w")).distinct()
      .select(col("w"), nSub(col("w")).as("n_sub"),
        length(col("w")).cast("long").as("n_chars_w"))
    perWord.join(wordSub, "w")
      .groupBy(col("g").as(groupCol))
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * col("n_sub")).as("n_subtokens"),
        round(sum(col("n_occ") * col("n_sub")) / sum(col("n_occ")), 6)
          .as("subtok_per_word"),
        round(sum(col("n_occ") * col("n_chars_w")) /
          sum(col("n_occ") * col("n_sub")), 6).as("chars_per_subtok"))
      .orderBy(col(groupCol))
  }
}

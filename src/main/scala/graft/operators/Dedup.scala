package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.Cuts.CutOps

/** Deduplication operators for training-data pipelines
  * (SURVEY.md §2.8): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every method here is shuffle-bounded by GROUP BY /
  * equi-JOIN on hash keys — there is no cross join anywhere. At 100 TB
  * the candidate-pair generation (band bucket self-join) is the only
  * super-linear step, and its cost is governed by bucket occupancy,
  * tunable via (bands × rows) exactly as in the MinHash-LSH
  * literature.
  */
object Dedup {

  /** Exact dedup by content hash (scale-out form of the reference's
    * SELECT DISTINCT, weather-etl.py:155-158): one row per distinct
    * text, keeping the smallest id.
    */
  def exactByHash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.withColumn("h", sha2(col(textCol), 256))
      .groupBy(col("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: the distinct documents of `incoming`
    * whose content hash does not already exist in `corpus` — the
    * per-micro-batch form of [[exactByHash]] against a large
    * historical corpus (the reference's staging-vs-target DISTINCT
    * merge, weather-etl.py:152-163, at corpus scale).
    *
    * Scale shape: a bloom filter over the corpus hashes (one
    * distributed pass, ~1.2 MB per 10⁶ keys) is broadcast to the
    * incoming side; rows the bloom rejects are DEFINITELY new and
    * bypass the join entirely — only possible-duplicates (bloom hits,
    * ~fpp of new rows plus true dups) shuffle into the exact anti
    * join. With a 100 TB corpus and a small batch, shuffled bytes are
    * the corpus HASH column plus the few candidate rows, never the
    * batch payloads. False positives are removed by the exact join;
    * false negatives are impossible, so the result equals the plain
    * anti join (spec-asserted).
    *
    * @return (idCol, h) — one row per distinct new text, smallest id.
    */
  def incrementalExact(corpus: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String,
      expectedNumItems: Long = 1000000L): DataFrame =
    incrementalExactByHash(
      corpus.select(sha2(col(textCol), 256).as("ch")).distinct(),
      incoming, textCol, idCol, expectedNumItems)

  /** [[incrementalExact]] against a pre-hashed corpus — `corpusHashes`
    * has one column `ch` of sha256 hex strings. This is the form a
    * GROWING deployment uses: the corpus store persists only the
    * 32-byte content hashes (the dedup state), never re-hashing the
    * payload corpus per batch.
    */
  def incrementalExactByHash(corpusHashes: DataFrame, incoming: DataFrame,
      textCol: String, idCol: String,
      expectedNumItems: Long = 1000000L): DataFrame = {
    val inc = exactByHash(incoming, textCol, idCol)
      .select(col(idCol), col("h"))
    val corp = corpusHashes.select(col("ch"))
    // bloom keys are a 64-bit fold of the 256-bit hash — collisions
    // only add false positives, which the exact join removes
    val mightBeDup = BloomPrune.pruneCol(
      corp.select(xxhash64(col("ch")).as("chk")), "chk",
      xxhash64(col("h")), expectedNumItems)
    val definitelyNew = inc.filter(!mightBeDup)
    val confirmedNew = inc.filter(mightBeDup)
      .join(corp, col("h") === col("ch"), "left_anti")
      .select(col(idCol), col("h"))
    definitelyNew.unionByName(confirmedNew)
  }

  /** MinHash signature: k independent permutations approximated by
    * k seeded xxhash64 functions; sig[i] = min over tokens of
    * hash_i(token). Codegen'd [[graft.functions.MinHashSig]]
    * expression (registered as graft_minhash).
    */
  def minhashSignature(words: Column, k: Int): Column =
    call_function("graft_minhash", words, lit(k))

  /** Reference higher-order formulation of [[minhashSignature]]
    * (interpreted; kept for the bit-equivalence spec).
    */
  def minhashSignatureHof(words: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(words, w => xxhash64(i, w))))

  /** MinHash-LSH near-duplicate pairs.
    *
    * shingle/tokenize → k-minhash signature → band into (bands ×
    * rowsPerBand) → bucket-join within bands → verify candidates with
    * exact Jaccard ≥ threshold. Only candidate pairs (same band
    * bucket) are ever joined — the crossJoin-free scale path.
    *
    * @param ngram element space: 1 = word unigram sets; n > 1 = word
    *              n-gram shingles (the codegen'd graft_word_ngrams).
    *              Production MinHash dedup shingles (GPT-3/Gopher
    *              style): unigram SETS are order-blind and degenerate
    *              on small vocabularies — most doc pairs look similar —
    *              while shingle spaces are combinatorial, so non-dup
    *              band buckets stay near-singleton at any corpus size.
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b
    */
  def minhashNearDups(
      docs: DataFrame, textCol: String, idCol: String,
      bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.6, ngram: Int = 1): DataFrame = {
    val k = bands * rowsPerBand
    val elems = if (ngram > 1) TextFunctions.wordNgramsExpr(textCol, ngram)
                else TextFunctions.tokens(col(textCol))
    val base = docs.select(
      col(idCol).as("doc_id"),
      array_distinct(elems).as("words"))
    val sigs = base.withColumn("sig", minhashSignature(col("words"), k))

    // materialize once: the a/b self-join below would otherwise
    // re-tokenize + re-hash the corpus per side
    val banded = sigs.select(
      col("doc_id"), col("words"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .cut(eager = true)

    val a = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("words").as("words_a"))
    val b = banded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("words").as("words_b"))

    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("words_a"), col("words_b"))
      .dropDuplicates("doc_a", "doc_b") // same pair can share several bands
      .withColumn("jaccard", TextFunctions.jaccard(col("words_a"), col("words_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact set-similarity self-join via frequency-ordered prefix
    * filtering (the AllPairs / SSJoin family — Bayardo et al. WWW'07,
    * Chaudhuri et al. ICDE'06): all pairs with Jaccard ≥ threshold,
    * with NO false negatives — the lossless alternative to
    * [[minhashNearDups]] for when completeness is required (e.g.
    * duplicate-cluster assignment, where a missed edge splits a
    * cluster).
    *
    * Prefix-filtering lemma: under any common total order of
    * elements, a pair with Jaccard ≥ θ must share an element among
    * the first |x| − ⌈θ·|x|⌉ + 1 elements of each set. Ordering
    * elements rarest-first makes those prefixes the globally least
    * frequent elements, so the candidate equi-join on prefix
    * elements touches only small buckets — the same
    * join-within-buckets scale shape as LSH banding, but exact.
    *
    * Scale: one frequency aggregate over exploded elements, one
    * per-set window sort (partitioned by id, no global sort), an
    * equi-join on rare prefix elements, then an exact verify on the
    * candidates. No cross join anywhere. Threshold tests use integer
    * rational arithmetic (θ as p/1e6) on both the prefix length and
    * the verify, so results are reproducible bit-for-bit against any
    * engine — no float-boundary drift.
    *
    * @param sets  (idCol, setCol: array<string>) with SET semantics
    *              (elements deduplicated; use array_distinct upstream).
    *              The id column keeps its native type — any orderable
    *              type works for the doc_a < doc_b pairing (no cast, so
    *              string ids are never silently nulled out).
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b — equal to the
    *         brute-force all-pairs result (DedupSpec asserts equality on
    *         a corpus with non-adjacent planted dups, plus string ids).
    */
  def exactJaccardPairs(sets: DataFrame, idCol: String, setCol: String,
      threshold: Double): DataFrame = {
    val p = math.round(threshold * 1000000L) // θ = p / 1e6, exact
    val q = 1000000L
    // materialize once (lazily — no job until the first action, like the
    // other Dedup builders): reused by the explode below AND both sides
    // of the verify join (would otherwise recompute the derivation 3×)
    val base = sets.select(col(idCol).as("doc_id"), col(setCol).as("s"))
      .cut()
    val la = base.select(col("doc_id").as("doc_a"), col("s"))
    val rb = base.select(col("doc_id").as("doc_b"), col("s"))
    val freq = base.select(explode(col("s")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val cand = prefixOf(la, "doc_a", freq, p, q)
      .join(prefixOf(rb, "doc_b", freq, p, q), Seq("t"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // a pair can share several prefix elements
    verifyJaccard(cand, la, rb, p, q)
  }

  /** Prefix rows (id, t) of each set under the shared (f, t) total
    * order: ℓ = n − ⌈θn⌉ + 1 rarest elements, integer-exact
    * (⌈p·n/q⌉ = (p·n+q−1) div q). Shared by the self-join and R-S
    * prefix-filter variants so the lemma's arithmetic lives once.
    */
  /** Exact containment join: every ORDERED pair (a, b), a ≠ b, with
    * containment |Sa ∩ Sb| / |Sa| ≥ threshold — the asymmetric
    * near-dup relation Jaccard can't express: a short document quoted
    * wholesale inside a long one has high containment but low Jaccard
    * (the long doc's extra shingles dilute the union). The quote /
    * near-superset detector of a curation pipeline.
    *
    * Prefix filter (PPJoin overlap bound, Xiao et al. 2008): a
    * qualifying pair shares ≥ ⌈θ·|Sa|⌉ elements, so a must match b
    * within its first |Sa| − ⌈θ·|Sa|⌉ + 1 rarest elements — the SAME
    * prefix length as the Jaccard case, so [[prefixOf]] is reused
    * verbatim. The asymmetry: b's side joins its FULL posting list
    * (containment puts no lower bound on how deep the shared element
    * sits in b). Rarest-first ordering keeps those buckets small —
    * a's prefix elements are globally rare, so even b's full postings
    * for them are short. Verify is integer-rational (inter·1e6 ≥
    * |Sa|·p) — no float boundary; empty Sa is excluded before any
    * division.
    *
    * @return (doc_a, doc_b, containment) — a's shingles covered by b.
    */
  def containmentPairs(sets: DataFrame, idCol: String, setCol: String,
      threshold: Double): DataFrame = {
    val p = math.round(threshold * 1000000L) // θ = p / 1e6, exact
    val q = 1000000L
    val base = sets.select(col(idCol).as("doc_id"), col(setCol).as("s"))
      .filter(size(col("s")) > 0)
      .cut()
    val la = base.select(col("doc_id").as("doc_a"), col("s"))
    val rb = base.select(col("doc_id").as("doc_b"), col("s"))
    val freq = base.select(explode(col("s")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val cand = prefixOf(la, "doc_a", freq, p, q)
      .join(rb.select(col("doc_b"), explode(col("s")).as("t")), Seq("t"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    atVerifyWidth(cand)
      .join(la.select(col("doc_a"), col("s").as("sa")), Seq("doc_a"))
      .join(rb.select(col("doc_b"), col("s").as("sb")), Seq("doc_b"))
      .withColumn("inter", call_function("graft_intersect_count", col("sa"), col("sb")))
      .filter(col("inter") * q >= size(col("sa")).cast("long") * p)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / size(col("sa")), 6).as("containment"))
  }

  /** Candidate id pairs spread to the verify width, before the joins
    * that fetch their sets. The per-pair set intersection is CPU-heavy
    * but byte-light, so AQE's size-based coalescing would pack it into
    * one task even with 32 cores idle (one 150 s task in the r10 sf1
    * evidence run); a user-specified `repartition(n)` is exempt from
    * coalescing. The repartition sits below the set joins because
    * Catalyst pushes the threshold filter into the last join's
    * condition: placed above them, it would leave the intersection in
    * the coalesced join stage. DedupSpec pins this shape.
    */
  private def atVerifyWidth(cand: DataFrame): DataFrame =
    cand.repartition(VerifyWidth.of(cand))

  private def prefixOf(base: DataFrame, id: String, freq: DataFrame,
      p: Long, q: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = base.select(col(id), size(col("s")).as("n"), explode(col("s")).as("t"))
    tok.join(freq, "t")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col(id)).orderBy(col("f"), col("t"))))
      .filter(col("pos") <= col("n") - expr(s"(n * ${p}L + ${q - 1}L) div ${q}L") + 1)
      .select(col(id), col("t"))
  }

  /** Exact-Jaccard verification of candidate pairs: inter/uni ≥ p/q as
    * exact integers (uni = 0 never reaches here: empty sets explode to
    * no prefix rows, so they are never candidates).
    */
  private def verifyJaccard(cand: DataFrame, la: DataFrame, rb: DataFrame,
      p: Long, q: Long): DataFrame =
    atVerifyWidth(cand)
      .join(la.select(col("doc_a"), col("s").as("sa")), Seq("doc_a"))
      .join(rb.select(col("doc_b"), col("s").as("sb")), Seq("doc_b"))
      .withColumn("inter", call_function("graft_intersect_count", col("sa"), col("sb")))
      .withColumn("uni", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .filter(col("inter") * q >= col("uni") * p)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))

  /** Cross-corpus exact set-similarity join (the R-S variant of
    * [[exactJaccardPairs]]): every (left, right) pair with Jaccard ≥
    * threshold, NO false negatives — incremental lossless near-dedup
    * of a new batch against a historical corpus (the near-dup
    * counterpart of [[incrementalExact]]).
    *
    * The prefix-filtering lemma holds under ANY total order of
    * elements shared by both sides, so both prefixes are computed
    * against ONE global frequency table over the union of the two
    * inputs; rarest-first ordering is the performance heuristic (small
    * candidate buckets), not a correctness requirement. At 100 TB the
    * corpus-side frequency aggregate is one shuffle and reusable
    * across batches; the candidate join touches only rare-prefix
    * buckets — the corpus never self-joins.
    *
    * @param left  (idCol, setCol) — the incoming batch side.
    * @param right (idCol, setCol) — the historical corpus side.
    * @return (doc_a from left, doc_b from right, jaccard); ids keep
    *         their native types. Equal to the brute-force cross
    *         product filter (DedupSpec asserts equality).
    */
  def exactJaccardJoin(left: DataFrame, right: DataFrame,
      idCol: String, setCol: String, threshold: Double): DataFrame =
    exactJaccardJoinPrepared(
      left.select(col(idCol).as("doc_a"), col(setCol).as("s"))
        .cut(),
      right.select(col(idCol).as("doc_b"), col(setCol).as("s"))
        .cut(),
      threshold)

  /** [[exactJaccardJoin]] over caller-prepared sides: la = (doc_a, s),
    * rb = (doc_b, s), each ideally materialized-once (localCheckpoint)
    * since both the frequency aggregate and the verify join re-read
    * them. Exposed so lifecycle-owning callers (the streaming sink)
    * can hold the checkpointed frames and free EXACTLY those blocks
    * afterwards instead of sweeping the shared SparkContext.
    */
  def exactJaccardJoinPrepared(la: DataFrame, rb: DataFrame,
      threshold: Double): DataFrame = {
    val p = math.round(threshold * 1000000L) // θ = p / 1e6, exact
    val q = 1000000L
    val freq = la.select(explode(col("s")).as("t"))
      .unionByName(rb.select(explode(col("s")).as("t")))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val cand = prefixOf(la, "doc_a", freq, p, q)
      .join(prefixOf(rb, "doc_b", freq, p, q), Seq("t"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cand, la, rb, p, q)
  }

  /** 64-bit SimHash per document: per-token xxhash64 bit votes summed,
    * sign → bit. Near-dups have small hamming distance. Map-only
    * projection via the codegen'd [[graft.functions.SimHash64]] — no
    * explode, no shuffle (the aggregate form below ships one row per
    * token into a 64-column hash aggregate).
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      call_function("graft_simhash", TextFunctions.tokens(col(textCol))).as("simhash"))

  /** Explode/groupBy reference formulation of [[simhash]] (drops
    * empty documents; kept for the bit-equivalence spec).
    */
  def simhashAgg(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("word"))
      .withColumn("wh", xxhash64(col("word")))
    val votes = (0 until 64).map(j =>
      sum(TextFunctions.simhashBitVote(col("wh"), j)).as(s"b$j"))
    val summed = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until 64).map(j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
    summed.select(col("doc_id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Anchoring layouts for [[simhashNearDups]] at hamming ≤ 3, in
    * ascending anchor-bit order: (blocks b, combo size m) with
    * m = b − 3, so ≤ 3 flipped bits leave ≥ b − 3 blocks untouched and
    * at least one m-combo matches exactly (pigeonhole — Manku et al.,
    * WWW'07 §3). Random-collision candidates per anchor table are
    * N²/2^anchorBits, so anchor WIDTH must grow with log₂ N: the
    * classic 4×16 single-band layout is quadratic past N ≈ 3·10⁶ docs
    * — the same fixed-width failure class as the LSH plane count
    * [[graft.operators.Similarity.autoPlanes]] fixed in r10. Wider
    * layouts pay more tables (C(b,m) = 4/10/20) — candidate-row volume
    * linear in N — to keep bucket collisions constant.
    */
  private val simhashLayouts = Seq((4, 1), (5, 2), (6, 3))

  /** Per-block bit widths for `b` blocks over the 64-bit signature
    * (remainder bits spread over the leading blocks).
    */
  private[graft] def simhashWidths(b: Int): Array[Int] =
    Array.tabulate(b)(i => 64 / b + (if (i < 64 % b) 1 else 0))

  /** The GUARANTEED anchor width of layout (b, m): the m smallest
    * block widths summed (the weakest combo bounds the collision rate).
    */
  private[graft] def anchorBits(b: Int, m: Int): Int =
    simhashWidths(b).sorted.take(m).sum

  /** Smallest layout whose guaranteed anchor width keeps expected
    * bucket occupancy at `target`: anchorBits ≥ log₂(N/target).
    * Every driver fixture (≤ 50 k docs at synthetic sf1) selects the
    * historical 4×16 single-band layout, so declared-query results
    * and candidate volumes are unchanged below N ≈ 3.3 M.
    */
  private[graft] def autoSimhashLayout(corpusRows: Long,
      target: Long = 50L): (Int, Int) = {
    val need = math.ceil(math.log(math.max(1.0, corpusRows.toDouble / target)) /
      math.log(2.0)).toInt
    simhashLayouts.find { case (b, m) => anchorBits(b, m) >= need }
      .getOrElse(simhashLayouts.last)
  }

  /** Corpus row estimate from Catalyst plan statistics — never an
    * eager job at construction (the r10 q_x_ann_lsh advice): exact
    * CBO rowCount when present, else on-disk bytes over a declared
    * 128 B/doc divisor (the fixture footprint measures ~125 B/doc;
    * the power-of-two divisor is the same estimate to within 3%).
    * A sizeInBytes that is non-positive or overflows Long (BigInt
    * stats on huge plans) maps to Long.MaxValue — the widest layout,
    * the safe direction — rather than running an eager count() at
    * plan-construction time. autoSimhashLayout is log₂-scaled with
    * ≥ 9-bit steps between layouts, so even a 4× row misestimate
    * cannot select the wrong layout except at a boundary — where both
    * neighbors are correct designs.
    */
  private def estimatedDocRows(df: DataFrame): Long = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount.map(_.toLong).getOrElse {
      if (st.sizeInBytes <= 0 || !st.sizeInBytes.isValidLong) Long.MaxValue
      else math.max(1L, st.sizeInBytes.toLong / 128L)
    }
  }

  /** SimHash near-duplicate pairs: anchor the 64-bit hash on exact
    * block-combination matches (layout auto-sized from the corpus row
    * estimate — see [[autoSimhashLayout]]; any pair within hamming
    * distance 3 shares at least one anchor by pigeonhole), bucket-join,
    * then verify hamming ≤ maxHamming via bit_count. The verify makes
    * the OUTPUT layout-independent — every layout returns exactly the
    * hamming ≤ maxHamming pair set; layouts only trade candidate
    * volume (tables × N rows) against bucket collisions (N²/2^bits).
    */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, layout: Option[(Int, Int)] = None): DataFrame = {
    val picked = layout.getOrElse(autoSimhashLayout(estimatedDocRows(docs)))
    simhashNearDupsFromSignatures(
      simhash(docs, textCol, idCol), maxHamming, picked)
  }

  /** [[simhashNearDups]] from a precomputed (doc_id, simhash) frame —
    * the entry point for a corpus whose signatures are already stored
    * as a column (the 100 TB form: sign once, anchor many).
    */
  def simhashNearDupsFromSignatures(sh: DataFrame, maxHamming: Int,
      layout: (Int, Int)): DataFrame = {
    require(maxHamming <= 3,
      s"anchoring layouts are derived for hamming <= 3 (got $maxHamming): " +
        "m = b - 3 pigeonhole would under-recall a larger bound")
    val (nBlocks, m) = layout
    val widths = simhashWidths(nBlocks)
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftright(col("simhash"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val anchors = (0 until nBlocks).combinations(m).toSeq.map(c =>
      c.foldLeft(lit(0L))((acc, i) => shiftleft(acc, widths(i)).bitwiseOR(block(i))))
    // materialize once: the a/b self-join below would otherwise
    // re-hash the corpus per side
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(anchors: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
      .cut(eager = true)
    val a = banded.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Corpus-wide exact duplicated-SPAN detection — the window-key
    * approximation of suffix-array exact substring dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better"): slide an n-word window over every document and count,
    * per document, how many window instances also occur verbatim in
    * at least one OTHER document. The corpus-self analog of the
    * cross-corpus decontamination pass (q_x_contam).
    *
    * Scale shape: explode to one row per window (linear in corpus
    * tokens, materialized once — both consumers read the lazy
    * localCheckpoint), hash-aggregate per window key for the
    * distinct-doc count (that shuffle carries only map-side partials,
    * ~distinct keys per partition), join back on the window key (the
    * one instance-volume shuffle), final per-doc aggregate. No
    * self-join, no all-pairs — the same plan family as TF-IDF.
    *
    * `hashKeys = true` is the 100 TB form: window strings fold to
    * 8-byte xxhash64 keys BEFORE materialization and both shuffles,
    * cutting shuffled bytes ~an order of magnitude for 10-word
    * windows. A hash collision could only over-count a window as
    * duplicated (never under-count), at ~2⁻⁶⁴ per pair. The default
    * keeps strings so the DuckDB oracle is collision-free and exact;
    * DedupSpec asserts both modes agree on the fixture corpus.
    *
    * @return (doc_id, n_windows, n_dup_windows, dup_frac); documents
    *         shorter than n words have no windows and are absent.
    */
  def spanDupStats(docs: DataFrame, textCol: String, idCol: String, n: Int,
      hashKeys: Boolean = false): DataFrame = {
    val raw = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.wordNgramsExpr(textCol, n)).as("win"))
    // one row per window instance; reused by the per-key agg AND the
    // join-back, so materialize lazily once (hashed form first, so the
    // checkpoint and everything downstream carries 8-byte keys)
    val wins = (if (hashKeys) raw.select(col("doc_id"), xxhash64(col("win")).as("win"))
                else raw)
      .cut()
    val perKey = wins.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    wins.join(perKey, "win")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
  }

  /** Near-dup cluster CANONICALIZATION — the keep/drop decision that
    * turns a cluster assignment into an actual drop list: cluster by
    * word-trigram Jaccard ≥ threshold (lossless prefix-filter edges
    * from [[exactJaccardPairs]] → [[Components.connectedComponents]]),
    * then keep exactly one document per cluster: the longest in
    * words, ties to the smallest id. The ranking is integer-only, so
    * no float comparison can order differently across engines.
    *
    * The per-cluster window is partitioned (cluster_id), never
    * global; cluster sizes are bounded by near-dup group sizes, not
    * corpus size.
    *
    * @return (doc_id, cluster_id, n_words, keep)
    */
  def keepLongestPerCluster(docs: DataFrame,
      textCol: String, idCol: String, threshold: Double): DataFrame = {
    val sets = docs.select(col(idCol),
      array_distinct(TextFunctions.wordNgramsExpr(textCol, 3)).as("g"))
    val edges = exactJaccardPairs(sets, idCol, "g", threshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // ids keep their native type end-to-end (connectedComponents is
    // type-preserving) — a string-id corpus must not be silently
    // nulled out by a long cast.
    val clusters = Components.connectedComponents(
        docs.select(col(idCol).as("id")), edges)
      .select(col("id").as("doc_id"), col("cluster_id"))
    keepLongestFromClusters(docs, textCol, idCol, clusters)
  }

  /** [[keepLongestPerCluster]] over a caller-supplied (doc_id,
    * cluster_id) assignment, so the CC derivation itself can be shared
    * across the cluster-consumer family ([[DupGraph.clusters]]).
    */
  def keepLongestFromClusters(docs: DataFrame,
      textCol: String, idCol: String, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = docs.select(col(idCol).as("doc_id"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("n_words"))
    clusters.join(sizes, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_words").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("cluster_id"), col("n_words"),
        (col("rn") === 1).as("keep"))
  }
}

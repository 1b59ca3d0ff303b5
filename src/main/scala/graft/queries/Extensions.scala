package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}
import graft.Cuts.CutOps

/** LLM-data-pipeline extension queries (SURVEY.md §2.8): dedup family,
  * similarity search, text analysis, multimodal columns.
  *
  * Oracle'd queries follow the §7.4 determinism rules; float-ranked
  * outputs (kNN) round scores to 9dp before ranking so cross-engine
  * noise cannot flip ranks, and fold doubles strictly left-to-right to
  * match DuckDB's sequential list_sum (verified bit-exact).
  * LSH/MinHash variants are model-defined (no SQL oracle) and are
  * property-tested in the specs instead.
  */
object Extensions {
  private val enStop = TextFunctions.stopwordsByLang("en")

  /** zlib-deflate kernel for q_x_compress_ratio. Lives in its own
    * object so the UDF lambda captures nothing: executors reach it as
    * a static, and the per-THREAD Deflater (reset per row, never
    * re-allocated) amortizes the ~256 KB native deflateInit across
    * the whole partition instead of paying it per document. The
    * ThreadLocal is executor-JVM state — never serialized. */
  private object DeflateKernel {
    private val local = new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(6) // fixed level → deterministic signal
    }
    def size(t: String): Long = {
      val d = local.get()
      d.reset() // clears any state a prior row's failure left behind
      d.setInput(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      n
    }
  }

  /** zlib-deflated size (bytes) of the UTF-8 text at fixed level 6 —
    * the compression-ratio quality kernel. A Scala UDF is the honest
    * form here: the cost IS the deflate, which no codegen'd
    * expression would avoid. Streams through an 8 KiB buffer counting
    * output bytes — never materializes the compressed body. */
  private val deflatedBytes = udf { (t: String) =>
    if (t == null) null.asInstanceOf[java.lang.Long]
    else java.lang.Long.valueOf(DeflateKernel.size(t))
  }

  /** One KMV bottom-k sketch of the word-trigram shingle vocabulary
    * per source (shared by q_x_kmv_overlap / q_x_kmv_containment):
    * one bounded-memory aggregate pass; duplicates collapse in the
    * k-string buffer so no DISTINCT shuffle precedes it.
    */
  private def kmvSourceSketches(s: SparkSession, d: String, k: Int): DataFrame =
    table(s, d, "documents")
      .select(col("source"),
        explode(TextFunctions.wordNgramsExpr("text", 3)).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .groupBy(col("source"))
      .agg(call_function("graft_kmv", col("h"), lit(k)).as("ks"))

  private[queries] val knnCosSql =
    """list_sum(list_transform(range(1, 65), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
       / (qn * cn)"""

  val queries: Seq[Query] = Seq(
    // ---- dedup family -------------------------------------------------
    Query("q_x_exact_dedup", (s, d) =>
      Dedup.exactByHash(table(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("h"), col("n_copies"))
        .orderBy(col("doc_id")), Some(
      """SELECT min(doc_id) AS doc_id, sha256(text) AS h, count(*) AS n_copies
         FROM documents GROUP BY sha256(text) ORDER BY doc_id""")),

    Query("q_x_fingerprint", (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), TextFunctions.bagFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")), Some(
      """SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         FROM documents ORDER BY doc_id""")),

    // MinHash-LSH near-dedup over word-TRIGRAM shingles (GPT-3/Gopher
    // style), b=8 bands × r=6 rows ⇒ ~0.998 recall at jaccard 0.9.
    // Full corpus, no sampling: shingle spaces are combinatorial in the
    // vocabulary, so background pairs (j ≤ 0.07 on this fixture) hit a
    // shared band bucket with probability ~j^6 ≈ 0 and buckets stay
    // near-singleton at any corpus size. (Unigram token SETS — the
    // pre-r6 element space — are order-blind and made the fixture
    // degenerately all-pairs-similar, forcing a bench-only 1/10 sample
    // knob. Shingling removed both the degeneracy and the knob.)
    // No SQL oracle (hash-model-defined); spec asserts recall vs exact
    // trigram jaccard on the fixture.
    Query("q_x_near_dedup", (s, d) =>
      Dedup.minhashNearDups(table(s, d, "documents"), "text", "doc_id",
          bands = 8, rowsPerBand = 6, threshold = 0.9, ngram = 3)
        .orderBy(col("doc_a"), col("doc_b")), None),

    // Corpus snapshot diff (dataset versioning audit): content-level
    // added / removed / retained between two corpus snapshots
    // (simulated as deterministic id-filter views of the fixture),
    // compared by sha256 so renames/re-ids don't count as churn and
    // exact duplicates collapse first. Scale shape: only 32-byte
    // hashes shuffle into the full-outer join — payloads never move.
    Query("q_x_snapshot_diff", (s, d) => {
      val docs = table(s, d, "documents")
      def hashes(snap: DataFrame) =
        snap.select(sha2(col("text"), 256).as("h")).distinct()
      val old = hashes(docs.filter(col("doc_id") % 7 =!= 0))
        .withColumn("in_old", lit(1))
      val neu = hashes(docs.filter(col("doc_id") % 5 =!= 0))
        .withColumn("in_new", lit(1))
      old.join(neu, Seq("h"), "full_outer")
        .select(when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .otherwise("retained").as("change_type"))
        .groupBy(col("change_type")).agg(count(lit(1)).as("n_contents"))
        .orderBy(col("change_type"))
    }, Some(
      """WITH old AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 7 <> 0),
         neu AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 5 <> 0)
         SELECT CASE WHEN o.h IS NULL THEN 'added'
                     WHEN n.h IS NULL THEN 'removed'
                     ELSE 'retained' END AS change_type,
                count(*) AS n_contents
         FROM old o FULL OUTER JOIN neu n ON o.h = n.h
         GROUP BY 1 ORDER BY change_type""")),

    // Incremental exact dedup: which docs of the "new batch"
    // (doc_id % 5 == 0) are content-new vs the historical corpus —
    // bloom-gated anti join (only possible-dups shuffle).
    Query("q_x_incr_dedup", (s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalExact(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "text", "doc_id")
        .orderBy(col("doc_id"))
    }, Some(
      """WITH inc AS (
           SELECT min(doc_id) AS doc_id, sha256(text) AS h
           FROM documents WHERE doc_id % 5 = 0 GROUP BY sha256(text)),
         corp AS (SELECT DISTINCT sha256(text) AS ch FROM documents WHERE doc_id % 5 <> 0)
         SELECT i.doc_id, i.h FROM inc i
         ANTI JOIN corp c ON i.h = c.ch
         ORDER BY i.doc_id""")),

    // Incremental LOSSLESS near-dedup: every (new batch, corpus) pair
    // with word-trigram Jaccard ≥ 0.6 — the near-dup counterpart of
    // q_x_incr_dedup, via the cross-corpus (R-S) prefix-filter join.
    // No false negatives, so a batch row with no output pair is
    // certified novel. 100 TB shape: the corpus never self-joins; its
    // element-frequency aggregate is one reusable shuffle, and the
    // candidate equi-join touches only rare-prefix buckets. Oracle:
    // DuckDB brute-force cross join between the two partitions.
    Query("q_x_incr_near_dedup", (s, d) => {
      val g = graft.operators.NgramGrain.sets(s, d, 3)
      Dedup.exactJaccardJoin(
          g.filter(col("doc_id") % 5 === 0),
          g.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "g", threshold = 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
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
               FROM g a JOIN g b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)
         SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
         FROM p WHERE uni > 0 AND inter * 1000000 >= uni * 600000
         ORDER BY doc_a, doc_b""")),

    Query("q_x_simhash_dedup", (s, d) =>
      Dedup.simhashNearDups(table(s, d, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b")), None),

    // Char-trigram Jaccard over a CONTENT-blocked candidate set: the
    // blocking key is the document's first two tokens (header blocking
    // — the q_x_fuzzy pattern on text), pairs form only within a block,
    // and both block membership and the verify read nothing but the
    // text. Deliberately lossy (a near-dup with an edited header is
    // missed — q_x_allpairs_jaccard is the lossless path); what this
    // row oracle-checks is the per-pair Jaccard arithmetic on a
    // realistically blocked pair set. Block size is bounded by the
    // header key's selectivity (vocabulary², independent of corpus
    // size), so within-block pair counts stay linear at any SF.
    Query("q_x_ngram_jaccard", (s, d) => {
      val sh = table(s, d, "documents")
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 2), " ").as("blk"),
          TextFunctions.shinglesExpr("text", 3).as("s"))
      val a = sh.select(col("blk"), col("doc_id").as("doc_a"), col("s").as("sa"))
        // explicit width (operators.VerifyWidth): the per-pair
        // shingle-set jaccard runs on the broadcast join's stream
        // side at scan parallelism otherwise (the q_x_fuzzy class)
        .repartition(graft.operators.VerifyWidth.of(sh), col("doc_a"))
      val b = sh.select(col("blk"), col("doc_id").as("doc_b"), col("s").as("sb"))
      a.join(b, Seq("blk"))
        .filter(col("doc_a") < col("doc_b"))
        // two <3-char docs share the same (empty-ish) block key and
        // would pair with empty shingle sets → 0/0, whose NULL-vs-NaN
        // fate differs across engines; drop empty-union pairs on BOTH
        // engines (the q_x_dup_stats guard)
        .filter(size(array_union(col("sa"), col("sb"))) > 0)
        .select(col("doc_a"), col("doc_b"),
          round(TextFunctions.jaccard(col("sa"), col("sb")), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }, Some(
      """WITH sh AS (
           SELECT doc_id,
                  array_to_string(string_split(text, ' ')[1:2], ' ') AS blk,
                  CASE WHEN length(text) < 3 THEN []::VARCHAR[]
                       ELSE list_distinct(list_transform(range(1, length(text) - 1),
                              i -> substr(text, CAST(i AS INTEGER), 3))) END AS s
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
         ORDER BY doc_a, doc_b""")),

    // ---- similarity search -------------------------------------------
    Query("q_x_knn", (s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceKnn(emb.filter(col("vec_id") % 25 === 0), emb, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM nv WHERE vec_id % 25 = 0),
         c AS (SELECT vec_id AS cand_id, embedding AS cv, nrm AS cn FROM nv),
         p AS (
           SELECT query_id, cand_id, round($knnCosSql, 9) AS cos
           FROM q CROSS JOIN c WHERE cand_id <> query_id)
         SELECT query_id, cand_id, rank FROM (
           SELECT query_id, cand_id,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
           FROM p)
         WHERE rank <= 10 ORDER BY query_id, rank""")),

    // Exact all-pairs cosine ≥ 0.4 via the DISTRIBUTED block join —
    // no driver-side materialization (SimilaritySpec asserts zero
    // jobs at construction); the primitive broadcast kernel
    // (exactCosinePairs) remains the small-subset verifier.
    Query("q_x_cos_pairs", (s, d) =>
      graft.operators.CosGraph.pairs(s, d, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b")), Some(
      s"""WITH nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, embedding AS cv, nrm AS cn FROM nv)
         SELECT id_a, id_b, cos FROM (
           SELECT id_a, id_b, round($knnCosSql, 9) AS cos
           FROM a JOIN b ON id_a < id_b)
         WHERE cos >= 0.4 ORDER BY id_a, id_b""")),

    // Label-noise audit (confident-learning-lite): for a
    // deterministic probe sample, what fraction of each vector's 10
    // nearest neighbors share its label — low agreement flags
    // suspected mislabels / off-distribution points before they
    // poison a classifier or a label-conditioned mixture. Brute-force
    // arm for the oracle (the q_x_knn pattern: probes broadcast,
    // per-row norms precomputed, 9dp-rounded ranks); at 100 TB the
    // neighbor arm is ANN candidates, same downstream agreement join.
    Query("q_x_label_noise", (s, d) => {
      val emb = table(s, d, "embeddings")
      val knn = Similarity.bruteForceKnn(
        emb.filter(col("vec_id") % 40 === 0), emb, k = 10)
      val labels = emb.select(col("vec_id"), col("label"))
      knn
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), Seq("query_id"))
        .join(labels.select(col("vec_id").as("cand_id"),
          col("label").as("c_label")), Seq("cand_id"))
        .groupBy(col("query_id"), col("q_label"))
        .agg(sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_agree"))
        .select(col("query_id").as("vec_id"), col("q_label").as("label"),
          col("n_agree"), round(col("n_agree") / 10.0, 6).as("agree_frac"))
        .orderBy(col("vec_id"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, label, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qv, nrm AS qn
               FROM nv WHERE vec_id % 40 = 0),
         c AS (SELECT vec_id AS cand_id, label AS c_label, embedding AS cv, nrm AS cn FROM nv),
         p AS (SELECT query_id, q_label, cand_id, c_label,
                 round($knnCosSql, 9) AS cos
               FROM q CROSS JOIN c WHERE cand_id <> query_id),
         rk AS (SELECT query_id, q_label, c_label,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, cand_id) AS rank
                FROM p)
         SELECT query_id AS vec_id, q_label AS label,
                CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
                round(CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS DOUBLE) / 10.0, 6) AS agree_frac
         FROM rk WHERE rank <= 10
         GROUP BY query_id, q_label ORDER BY query_id""")),

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    // k=60 — the fusion rule hybrid RAG stacks actually deploy):
    // per query doc, a SEMANTIC ranking (embedding cosine, rounded
    // 9dp like q_x_knn) and a LEXICAL ranking (word-set Jaccard) are
    // fused by Σ 1/(60+rank). Ranks are integers and the fused score
    // is a rational of integers, so ordering is engine-exact. This
    // fixture scores all candidates brute-force (the oracle needs
    // it); at 100 TB each arm generates candidates from its index
    // (ANN lists / inverted postings) and only the union is fused —
    // same fusion plan, pruned inputs.
    Query("q_x_rrf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // norms precomputed per ROW (the bruteForceKnn pattern) — the
      // per-pair kernel then does ONE 64-element dot, not three
      val cand = table(s, d, "embeddings")
        .join(table(s, d, "documents"), col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("embedding"),
          VectorFunctions.norm(col("embedding")).as("cn"),
          array_distinct(TextFunctions.tokens(col("text"))).as("ws"))
      val q = cand.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("query_id"), col("embedding").as("qv"),
          col("cn").as("qn"), col("ws").as("qws"))
      // explicit width (operators.VerifyWidth): the |Q|·N dot+jaccard
      // kernel runs on the broadcast join's stream side — at the
      // documents/embeddings scans' byte-based parallelism otherwise
      val scored = cand
        .repartition(graft.operators.VerifyWidth.of(cand), col("doc_id"))
        .join(broadcast(q), col("doc_id") =!= col("query_id"))
        .withColumn("cos", round(
          VectorFunctions.dot(col("qv"), col("embedding"))
            / (col("qn") * col("cn")), 9))
        .withColumn("jac", TextFunctions.jaccard(col("ws"), col("qws")))
      val wc = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("doc_id"))
      val wj = Window.partitionBy(col("query_id")).orderBy(col("jac").desc, col("doc_id"))
      val wf = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
      scored
        .withColumn("rc", row_number().over(wc))
        .withColumn("rj", row_number().over(wj))
        .withColumn("rrf", lit(1.0) / (col("rc") + 60) + lit(1.0) / (col("rj") + 60))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"), col("rank").cast("int").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH nv AS (
           SELECT e.vec_id, e.embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS nrm,
                  list_distinct(string_split(d.text, ' ')) AS ws
           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, ws AS qws
               FROM nv WHERE vec_id % 25 = 0),
         c AS (SELECT vec_id AS cand_id, embedding AS cv, nrm AS cn, ws AS cws FROM nv),
         p AS (SELECT query_id, cand_id,
                 round($knnCosSql, 9) AS cos,
                 CAST(len(list_intersect(cws, qws)) AS DOUBLE)
                   / len(list_distinct(list_concat(cws, qws))) AS jac
               FROM q CROSS JOIN c WHERE cand_id <> query_id),
         r AS (SELECT query_id, cand_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rc,
                 row_number() OVER (PARTITION BY query_id ORDER BY jac DESC, cand_id) AS rj
               FROM p)
         SELECT query_id, cand_id AS doc_id, CAST(rank AS INTEGER) AS rank FROM (
           SELECT query_id, cand_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY 1.0 / (rc + 60) + 1.0 / (rj + 60) DESC, cand_id) AS rank
           FROM r)
         WHERE rank <= 10 ORDER BY query_id, rank""")),

    // HARD-NEGATIVE mining for contrastive training: per query doc,
    // the top-5 most cosine-similar docs that are NOT near-duplicates
    // (cluster mates would be false negatives — semantically the same
    // document). Composes the similarity arm (brute-force here — the
    // oracle needs exactness; ANN generates candidates at 100 TB) with
    // the lossless DupGraph edge set as the exclusion list. Integer
    // output (ids + rank); cosine rounds at 9dp before ranking like
    // q_x_knn.
    Query("q_x_hard_neg", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = table(s, d, "embeddings")
      val dups = graft.operators.DupGraph.pairs(s, d, threshold = 0.6)
        .select(col("doc_a"), col("doc_b"))
      // symmetric exclusion list (query, excluded-candidate)
      val excl = dups.select(col("doc_a").as("query_id"), col("doc_b").as("cand_id"))
        .unionByName(dups.select(col("doc_b").as("query_id"), col("doc_a").as("cand_id")))
      // norms precomputed per ROW (the bruteForceKnn pattern)
      val q = emb.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          VectorFunctions.norm(col("embedding")).as("qn"))
      val cand0 = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
          VectorFunctions.norm(col("embedding")).as("cnn"))
      // explicit width (operators.VerifyWidth): the |Q|·N cosine
      // kernel runs on the broadcast join's stream side — at scan
      // parallelism otherwise (the bruteForceKnn class)
      val scored = cand0
        .repartition(graft.operators.VerifyWidth.of(cand0), col("cand_id"))
        .join(broadcast(q), col("cand_id") =!= col("query_id"))
        .join(excl, Seq("query_id", "cand_id"), "left_anti")
        .withColumn("cos", round(
          VectorFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cnn")), 9))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         ex AS (SELECT a.doc_id AS u, b.doc_id AS v
               FROM g a JOIN g b ON a.doc_id <> b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM nv WHERE vec_id % 25 = 0),
         c AS (SELECT vec_id AS cand_id, embedding AS cv, nrm AS cn FROM nv),
         p AS (
           SELECT query_id, cand_id, round($knnCosSql, 9) AS cos
           FROM q CROSS JOIN c
           WHERE cand_id <> query_id
             AND NOT EXISTS (SELECT 1 FROM ex
                             WHERE ex.u = query_id AND ex.v = cand_id))
         SELECT query_id, cand_id, rank FROM (
           SELECT query_id, cand_id,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
           FROM p)
         WHERE rank <= 5 ORDER BY query_id, rank""")),

    // Semantic OUTLIER scoring: cosine of every vector against its
    // label-group centroid — the mislabel/contamination detector of an
    // embedding-curated corpus (a vector far from its group's center
    // is a labeling error or an off-distribution document). Scale
    // shape: centroids are one dimension-wise aggregate (64·|labels|
    // rows) broadcast back; scoring is map-side graft_dot — the corpus
    // shuffles once, for the centroid partials. Scores round to 6dp;
    // the ~1e-15 cross-engine drift of the float centroid average is
    // far below the rounding.
    Query("q_x_outlier", (s, d) => {
      val emb = table(s, d, "embeddings")
      val cent = emb
        .select(col("label"),
          posexplode(VectorFunctions.toDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("label"), expr("transform(pm, p -> p.m)").as("c"))
      emb.join(broadcast(cent), "label")
        .select(col("vec_id"), col("label"),
          round(VectorFunctions.dot(col("embedding"), col("c"))
            / (VectorFunctions.norm(col("embedding")) * VectorFunctions.norm(col("c"))),
            6).as("cos_centroid"))
        .orderBy(col("vec_id"))
    }, Some(
      """WITH dims AS (
           SELECT label, CAST(i AS INTEGER) AS pos,
                  CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x,
                  vec_id
           FROM embeddings, range(1, 65) r(i)),
         cent AS (SELECT label, pos, avg(x) AS m FROM dims GROUP BY label, pos),
         sc AS (
           SELECT d.vec_id, d.label,
                  sum(d.x * c.m) AS dt,
                  sqrt(sum(d.x * d.x)) AS nv,
                  sqrt(sum(c.m * c.m)) AS nc
           FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
           GROUP BY d.vec_id, d.label)
         SELECT vec_id, label, round(dt / (nv * nc), 6) AS cos_centroid
         FROM sc ORDER BY vec_id""")),

    // K-means corpus clustering (operators.Ivf.kmeansAssignments —
    // the IVF coarse quantizer as a first-class operator): k=10 over
    // the embedding corpus, reported per cluster with its majority
    // metadata label and the label-association purity. (The fixture's
    // labels are arbitrary metadata on isotropic vectors — measured
    // within-label cosine ≈ across-label — so purity here sits near
    // 1/|labels|; the column is the honest association measurement,
    // not a recovery claim.) No SQL oracle (iterative float training);
    // KmeansSpec asserts totality, the k bound, Lloyd's monotone SSE
    // improvement, and determinism.
    Query("q_x_kmeans", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = table(s, d, "embeddings")
      val byLabel = graft.operators.Ivf.kmeansAssignments(emb, k = 10, iters = 3)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("centroid_id"), col("label")).agg(count(lit(1)).as("nl"))
      val w = Window.partitionBy(col("centroid_id"))
        .orderBy(col("nl").desc, col("label").asc)
      byLabel.withColumn("rn", row_number().over(w))
        .groupBy(col("centroid_id"))
        .agg(sum(col("nl")).as("n_vectors"),
          max(when(col("rn") === 1, col("label"))).as("top_label"),
          max(when(col("rn") === 1, col("nl"))).as("n_top"))
        .select(col("centroid_id"), col("n_vectors"), col("top_label"),
          round(col("n_top").cast("double") / col("n_vectors"), 6).as("purity"))
        .orderBy(col("centroid_id"))
    }, None),

    // Approximate ANN via random-hyperplane LSH with multi-probe.
    // No oracle (model-defined); spec asserts recall vs brute force.
    Query("q_x_ann_lsh", (s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.lshKnn(s, emb.filter(col("vec_id") % 25 === 0), emb, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // Approximate ANN via IVF (k-means coarse quantizer + inverted
    // lists, nProbe nearest lists reranked exactly). No oracle
    // (model-defined); spec asserts recall vs brute force.
    // Measured sweep at sf0.1 with the hash-spread seeding (round 3):
    // nProbe 8/16 → recall 0.775 at iters=1; extra Lloyd iters add
    // ≤0.01 on this corpus (little cluster structure) for a full
    // extra corpus pass, so keep iters=1.
    Query("q_x_ann_ivf", (s, d) => {
      val emb = table(s, d, "embeddings")
      graft.operators.Ivf.ivfKnn(emb.filter(col("vec_id") % 25 === 0), emb,
          k = 10, nProbe = 8, iters = 1)
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // Approximate ANN via product quantization (m=8 subspace codebooks
    // of 32 centroids each → 8 small codes per vector, ~50× smaller
    // than the 64 raw floats) with ADC scoring and exact cosine rerank
    // of the top-16k candidates (rerank is the cheap recall dial — it
    // scales only the exact-rerank row count, never the corpus-sized
    // ADC pass; measured 0.58 → 0.73 recall@10 going 8 → 16,
    // dev/recall.txt). The corpus-COMPRESSION scale path,
    // complementing the bucketing path (LSH) and the partition-pruning
    // path (IVF). No oracle (model-defined); PqSpec asserts recall vs
    // brute force, Recall emits the measured number per round.
    Query("q_x_ann_pq", (s, d) => {
      val emb = table(s, d, "embeddings")
      graft.operators.Pq.pqKnn(s, emb.filter(col("vec_id") % 25 === 0), emb,
          k = 10, m = 8, kCodes = 32, iters = 1, rerankFactor = 16,
          memoKey = Some(d))
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // Approximate ANN via IVF-PQ (FAISS IndexIVFPQ shape): coarse
    // quantizer routes vectors to inverted lists, PQ encodes the
    // RESIDUAL vs the list centroid, queries probe 4/16 lists with
    // per-list ADC tables — pruning × compression multiply: each
    // query scans ~25% of the corpus at m-byte-code cost. No oracle
    // (model-defined); IvfPqSpec asserts recall vs brute force,
    // Recall emits the measured number per round.
    Query("q_x_ann_ivfpq", (s, d) => {
      val emb = table(s, d, "embeddings")
      graft.operators.IvfPq.ivfPqKnn(s, emb.filter(col("vec_id") % 25 === 0), emb,
          k = 10, nCoarse = 16, nProbe = 4, m = 8, kCodes = 32, iters = 1, rerankFactor = 8,
          memoKey = Some(d))
        .orderBy(col("query_id"), col("rank"))
    }, None),

    // Embedding-cosine near-dup DEDUP (SemDeDup-style): exact cosine
    // edges from the distributed block join → connected components →
    // keep the min-id representative per cluster. Composes the two
    // independently-oracle'd kernels (q_x_cos_pairs edge computation,
    // q_x_dup_clusters CC); θ=0.4 yields nontrivial clusters on the
    // fixture (a production pipeline would run 0.9+). 100 TB shape:
    // edge generation is the O(N·B)-shuffle block join (no broadcast of
    // the corpus, no driver collect), CC is O(log d) label rounds.
    Query("q_x_semantic_dedup", (s, d) => {
      val emb = table(s, d, "embeddings")
      val edges = graft.operators.CosGraph.edges(s, d, threshold = 0.4)
      graft.operators.Components
        .connectedComponents(emb.select(col("vec_id").as("id")), edges)
        .select(col("id").as("vec_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_rep"))
        .orderBy(col("vec_id"))
    }, Some(
      s"""WITH RECURSIVE nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, embedding AS cv, nrm AS cn FROM nv),
         e AS (SELECT id_a AS u, id_b AS v FROM (
                 SELECT id_a, id_b, round($knnCosSql, 9) AS cos
                 FROM a JOIN b ON id_a < id_b)
               WHERE cos >= 0.4),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         r AS (SELECT vec_id AS id, vec_id AS reach FROM embeddings
               UNION
               SELECT r.id, s.v FROM r JOIN sym s ON r.reach = s.u)
         SELECT id AS vec_id, CAST(min(reach) AS BIGINT) AS cluster_id,
                (CAST(min(reach) AS BIGINT) = id) AS is_rep
         FROM r GROUP BY id ORDER BY vec_id""")),

    // Int8-style embedding quantization (the storage-compression pass
    // of an embedding pipeline): per-vector absmax scale, elements
    // mapped by floor(x·127/mx) — floor (not round) because Spark
    // HALF_UP vs DuckDB half-even disagree exactly at quantization
    // boundaries. Emits per-vector quantization stats.
    Query("q_x_quantize", (s, d) => {
      val xd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val mx = aggregate(col("embedding"), lit(0.0), (a, x) => greatest(a, abs(xd(x))))
      // all-zero vectors have mx=0: quantize to 0 rather than NaN
      // (Spark would cast NaN→0 silently; DuckDB errors on the cast)
      val qv = transform(col("embedding"),
        x => when(col("mx") === 0.0, lit(0L))
          .otherwise(floor(xd(x) * lit(127.0) / col("mx")).cast("long")))
      table(s, d, "embeddings")
        .withColumn("mx", mx)
        .withColumn("qv", qv)
        .select(col("vec_id"), round(col("mx"), 9).as("qscale"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("qsum"),
          array_min(col("qv")).as("qmin"), array_max(col("qv")).as("qmax"))
        .orderBy(col("vec_id"))
    }, Some(
      """WITH m AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
           FROM embeddings),
         q AS (
           SELECT vec_id, mx,
                  list_transform(embedding,
                    x -> CASE WHEN mx = 0 THEN 0
                         ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT) END) AS qv
           FROM m)
         SELECT vec_id, round(mx, 9) AS qscale,
                CAST(list_sum(qv) AS BIGINT) AS qsum,
                CAST(list_min(qv) AS BIGINT) AS qmin,
                CAST(list_max(qv) AS BIGINT) AS qmax
         FROM q ORDER BY vec_id""")),

    // PCA eigenvalue spectrum of the embedding covariance (intrinsic-
    // dimensionality audit; operators.Pca): corpus-sized work is ONE
    // aggregation pass (mean + second moments, d² map-side partials);
    // only the 64×64 covariance reaches the driver's Jacobi solver.
    // Output is the SPECTRUM only — eigenvectors of near-degenerate
    // spectra (this fixture is isotropic) are not cross-engine
    // reproducible and are deliberately excluded; PcaSpec verifies
    // vector recovery on planted-anisotropy data. No SQL oracle
    // (eigensolve); eigenvalues stable at 6dp (Weyl bound).
    Query("q_x_pca_spectrum", (s, d) =>
      graft.operators.Pca.spectrum(s, table(s, d, "embeddings"), 64)
        .select(col("rank"), round(col("eigenvalue"), 6).as("eigenvalue"),
          round(col("cum_frac"), 6).as("cum_frac"))
        .orderBy(col("rank")), None),

    // Signal-redundancy audit across the quality family: pairwise
    // correlation of the per-doc quality signals (chars, tokens, word
    // entropy, distinct ratio) — tells a curation pipeline which
    // signals are measuring the same thing before it weights them.
    // One explode + two aggregates derive all signals; the corr pass
    // is algebraic (map-side partials). Signals enter corr UNROUNDED
    // (the ~ulp ln drift washes out of a 500-point correlation far
    // below the 6dp output rounding).
    Query("q_x_quality_corr", (s, d) => {
      val tf = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("n_chars"), col("w")).agg(count(lit(1)).as("c"))
      val sig = tf.groupBy(col("doc_id"), col("n_chars")).agg(
        sum(col("c")).as("n_tokens"),
        (log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c"))).as("entropy"),
        (count(lit(1)).cast("double") / sum(col("c"))).as("distinct_ratio"))
      val names = Seq("distinct_ratio", "entropy", "n_chars", "n_tokens")
      val pairs = for {
        i <- names.indices; j <- names.indices if i < j
      } yield (names(i), names(j))
      val aggs = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}__${b}")
      }
      val stackExpr = "stack(" + pairs.size + ", " + pairs.map { case (a, b) =>
        s"'$a', '$b', ${a}__${b}"
      }.mkString(", ") + ") as (sig_a, sig_b, corr)"
      sig.agg(aggs.head, aggs.tail: _*)
        .select(expr(stackExpr))
        .orderBy(col("sig_a"), col("sig_b"))
    }, Some(
      """WITH tok AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS w
                      FROM documents),
         tf AS (SELECT doc_id, n_chars, w, count(*) AS c FROM tok GROUP BY 1, 2, 3),
         sig AS (SELECT doc_id, any_value(n_chars) AS n_chars,
                        CAST(sum(c) AS BIGINT) AS n_tokens,
                        ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(c)) / CAST(sum(c) AS DOUBLE) AS entropy,
                        CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS distinct_ratio
                 FROM tf GROUP BY doc_id),
         m AS (SELECT
           round(corr(distinct_ratio, entropy), 6) AS de,
           round(corr(distinct_ratio, n_chars), 6) AS dc,
           round(corr(distinct_ratio, n_tokens), 6) AS dt,
           round(corr(entropy, n_chars), 6) AS ec,
           round(corr(entropy, n_tokens), 6) AS et,
           round(corr(n_chars, n_tokens), 6) AS ct
         FROM sig)
         SELECT 'distinct_ratio' AS sig_a, 'entropy' AS sig_b, de AS corr FROM m
         UNION ALL SELECT 'distinct_ratio', 'n_chars', dc FROM m
         UNION ALL SELECT 'distinct_ratio', 'n_tokens', dt FROM m
         UNION ALL SELECT 'entropy', 'n_chars', ec FROM m
         UNION ALL SELECT 'entropy', 'n_tokens', et FROM m
         UNION ALL SELECT 'n_chars', 'n_tokens', ct FROM m
         ORDER BY sig_a, sig_b""")),

    // Pairwise Pearson correlation matrix over the numeric fact
    // columns (feature-redundancy audit before model training): all 6
    // pairs in ONE aggregation pass (each corr is an algebraic
    // aggregate — map-side partials, one tiny shuffle), unpivoted to
    // (col_a, col_b, corr) rows. Same sample-corr definition both
    // engines; the partition-order double drift is ~1e-15, rounded at
    // 6dp.
    Query("q_x_corr", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        round(corr(col(a), col(b)), 6).as(s"${a}__${b}")
      }
      val stackExpr = "stack(" + pairs.size + ", " + pairs.map { case (a, b) =>
        s"'$a', '$b', ${a}__${b}"
      }.mkString(", ") + ") as (col_a, col_b, corr)"
      table(s, d, "lineitem")
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(stackExpr))
        .orderBy(col("col_a"), col("col_b"))
    }, Some(
      """WITH c AS (SELECT
           round(corr(l_quantity, l_extendedprice), 6) AS q_e,
           round(corr(l_quantity, l_discount), 6) AS q_d,
           round(corr(l_quantity, l_tax), 6) AS q_t,
           round(corr(l_extendedprice, l_discount), 6) AS e_d,
           round(corr(l_extendedprice, l_tax), 6) AS e_t,
           round(corr(l_discount, l_tax), 6) AS d_t
         FROM lineitem)
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, q_e AS corr FROM c
         UNION ALL SELECT 'l_quantity', 'l_discount', q_d FROM c
         UNION ALL SELECT 'l_quantity', 'l_tax', q_t FROM c
         UNION ALL SELECT 'l_extendedprice', 'l_discount', e_d FROM c
         UNION ALL SELECT 'l_extendedprice', 'l_tax', e_t FROM c
         UNION ALL SELECT 'l_discount', 'l_tax', d_t FROM c
         ORDER BY col_a, col_b""")),

    // Poisson bootstrap of the corpus mean doc length (Chamandy et
    // al., the resampling scheme that works in ONE distributed pass:
    // per (doc, rep) an independent Poisson(1) inclusion weight, so no
    // per-replicate global resample). Weights come deterministic from
    // an md5 inverse-CDF draw — reproducible on any cluster and
    // oracle-able; the CDF cut points are shared literals. All-integer
    // weighted sums; only the final mean divides. Scale: map-only
    // explode ×R then one aggregate — corpus scanned once.
    Query("q_x_bootstrap", (s, d) => {
      val u = conv(substring(md5(concat(col("doc_id"), lit("_"), col("rep"))), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0)
      // Poisson(1) CDF: P(0)=e^-1, P(<=1), P(<=2), P(<=3), P(<=4); cap 5
      val w = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .otherwise(5L)
      table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(19))).as("rep"))
        .withColumn("w", w)
        .groupBy(col("rep"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_chars")).as("wsum"))
        .select(col("rep").cast("int").as("rep"), col("n_eff"),
          round(col("wsum").cast("double") / col("n_eff"), 6).as("boot_mean"))
        .orderBy(col("rep"))
    }, Some(
      """WITH r AS (SELECT doc_id, n_chars, unnest(range(0, 20)) AS rep FROM documents),
         u AS (SELECT rep, n_chars,
                 CAST(('0x' || substr(md5(doc_id || '_' || rep), 1, 8)) AS BIGINT)
                   / 4294967296.0 AS u
               FROM r),
         w AS (SELECT rep, n_chars,
                 CASE WHEN u < 0.36787944117144233 THEN 0
                      WHEN u < 0.7357588823428847 THEN 1
                      WHEN u < 0.9196986029286058 THEN 2
                      WHEN u < 0.9810118431238462 THEN 3
                      WHEN u < 0.9963401531726563 THEN 4
                      ELSE 5 END AS w
               FROM u)
         SELECT CAST(rep AS INTEGER) AS rep,
                CAST(sum(w) AS BIGINT) AS n_eff,
                round(CAST(sum(w * n_chars) AS DOUBLE) / sum(w), 6) AS boot_mean
         FROM w GROUP BY rep ORDER BY rep""")),

    // Winsorization (robust numeric-feature clipping): per-group exact
    // P01/P99 thresholds, values clipped into [p01, p99], reported per
    // group with clip counts and the clipped mean — the outlier-robust
    // normalization step of numeric feature prep. Thresholds are ONE
    // small aggregate broadcast back (no global sort; same
    // percentile-definition pairing as q_x_quality_gate: Spark exact
    // percentile == DuckDB quantile_cont). Counts integer-exact; the
    // clip comparisons use bit-identical thresholds on both engines.
    Query("q_x_winsorize", (s, d) => {
      val o = table(s, d, "orders").select(col("o_orderpriority"), col("o_totalprice"))
      val thr = o.groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.01)").as("p01"),
          expr("percentile(o_totalprice, 0.99)").as("p99"))
      o.join(broadcast(thr), "o_orderpriority")
        .withColumn("clipped",
          when(col("o_totalprice") < col("p01"), col("p01"))
            .when(col("o_totalprice") > col("p99"), col("p99"))
            .otherwise(col("o_totalprice")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") < col("p01"), 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("o_totalprice") > col("p99"), 1L).otherwise(0L)).as("n_clip_high"),
          round(first(col("p01")), 6).as("p01"),
          round(first(col("p99")), 6).as("p99"),
          round(avg(col("clipped")), 6).as("avg_clipped"))
        .orderBy(col("o_orderpriority"))
    }, Some(
      """WITH thr AS (SELECT o_orderpriority,
                quantile_cont(o_totalprice, 0.01) AS p01,
                quantile_cont(o_totalprice, 0.99) AS p99
              FROM orders GROUP BY 1)
         SELECT o.o_orderpriority, count(*) AS n,
                CAST(sum(CASE WHEN o.o_totalprice < t.p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
                CAST(sum(CASE WHEN o.o_totalprice > t.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high,
                round(any_value(t.p01), 6) AS p01,
                round(any_value(t.p99), 6) AS p99,
                round(avg(CASE WHEN o.o_totalprice < t.p01 THEN t.p01
                               WHEN o.o_totalprice > t.p99 THEN t.p99
                               ELSE o.o_totalprice END), 6) AS avg_clipped
         FROM orders o JOIN thr t USING (o_orderpriority)
         GROUP BY o.o_orderpriority ORDER BY o_orderpriority""")),

    // Differential-privacy style noisy count release (Laplace
    // mechanism, ε=1): per-lang doc counts + Laplace(1/ε) noise. The
    // noise draw is DETERMINISTIC here — uniform from md5(lang) via
    // inverse-CDF — so the release is reproducible and oracle-able;
    // a production deployment swaps the seeded uniform for real
    // randomness, keeping the identical mechanism shape. Map-only
    // past one tiny aggregate; the noisy column rounds to 3dp (ln
    // cross-engine drift ≤ ulps, far below the rounding).
    Query("q_x_dp_count", (s, d) => {
      // +0.5 before the divide keeps u strictly inside (-0.5, 0.5):
      // a hash of 00000000 would otherwise land exactly on -0.5 and
      // ln(0) diverges (NULL on Spark, an ERROR on DuckDB)
      val u = ((conv(substring(md5(concat(lit("dp1:"), col("lang"))), 1, 8), 16, 10)
        .cast("double") + lit(0.5)) / lit(4294967296.0)) - lit(0.5)
      val lap = -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) // b = 1/ε = 1
      table(s, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
        .select(col("lang"),
          round(col("n_raw") + lap, 3).as("n_noisy"))
        .orderBy(col("lang"))
    }, Some(
      """WITH c AS (SELECT lang, count(*) AS n_raw FROM documents GROUP BY lang),
         u AS (SELECT lang, n_raw,
                 (CAST(('0x' || substr(md5('dp1:' || lang), 1, 8)) AS BIGINT) + 0.5)
                   / 4294967296.0 - 0.5 AS u
               FROM c)
         SELECT lang, round(n_raw - sign(u) * ln(1 - 2 * abs(u)), 3) AS n_noisy
         FROM u ORDER BY lang""")),

    Query("q_x_vec_stats", (s, d) =>
      table(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("x").cast("double")), 6).as("avg_x"), count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos")), Some(
      """SELECT label, CAST(i AS INTEGER) AS pos,
                round(avg(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)), 6) AS avg_x,
                count(*) AS n
         FROM embeddings, range(0, 8) r(i)
         GROUP BY label, i ORDER BY label, pos""")),

    // Corpus-level MinHash profile per source: per-doc signatures
    // united by the native TypedImperativeAggregate
    // graft_minhash_union (primitive long[k] buffer, map-side partial
    // aggregation), then pairwise sketch-estimated jaccard between
    // sources. Rows-only (hash-model-defined); the aggregate is
    // spec-verified against the Aggregator UDAF and an explode/min
    // reference.
    Query("q_x_source_profile", (s, d) => {
      val k = 32
      val sigs = table(s, d, "documents")
        .select(col("source"),
          Dedup.minhashSignature(array_distinct(split(col("text"), " ")), k).as("sig"))
        .groupBy(col("source"))
        .agg(call_function("graft_minhash_union", col("sig")).as("gsig"))
      val a = sigs.select(col("source").as("src_a"), col("gsig").as("ga"))
      val b = sigs.select(col("source").as("src_b"), col("gsig").as("gb"))
      a.join(b, col("src_a") < col("src_b"))
        .withColumn("est_jaccard",
          expr(s"round(size(filter(zip_with(ga, gb, (x, y) -> x = y), v -> v)) / ${k}D, 6)"))
        .select(col("src_a"), col("src_b"), col("est_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }, None),

    // CROSS-SOURCE near-dup contamination matrix: which source pairs
    // share near-duplicate content (the q_x_source_profile sketch's
    // exact ground truth, and the practical "is dataset B a re-crawl
    // of dataset A" audit). Lossless edges from the shared DupGraph
    // derivation joined to each endpoint's source; emits only pairs
    // with at least one crossing edge.
    Query("q_x_source_xdup", (s, d) => {
      val src = table(s, d, "documents").select(col("doc_id"), col("source"))
      graft.operators.DupGraph.pairs(s, d, threshold = 0.6)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_xdup_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }, Some(
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, source,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         e AS (SELECT a.source AS sa, b.source AS sb
               FROM g a JOIN g b ON a.doc_id < b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000
                 AND a.source <> b.source)
         SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
                count(*) AS n_xdup_pairs
         FROM e GROUP BY 1, 2 ORDER BY src_a, src_b""")),

    // ---- text analysis ------------------------------------------------
    // Pointwise mutual information over term co-occurrence (phrase /
    // collocation mining): PMI(a,b) = ln(P(a,b) / P(a)P(b)) at the
    // document level, for pairs co-occurring in ≥ 5 docs. Plan: one
    // distinct-token explode, a per-doc pair self-join, one pair
    // aggregate; df tables broadcast. Scale: the per-doc pair join is
    // O(Σ u_d²) in distinct terms per doc — at web scale restrict to a
    // broadcast top-V vocabulary first (the q_x_vocab_oov pattern),
    // bounding pairs per doc by V. ln on both engines (DuckDB log()
    // is log10 — dialect trap); double drift ≪ the 6dp rounding.
    Query("q_x_pmi", (s, d) => {
      val docs = table(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("nd"))
      val tok = docs.select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("t"))
      val df = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val a = tok.select(col("doc_id"), col("t").as("term_a"))
      val b = tok.select(col("doc_id"), col("t").as("term_b"))
      a.join(b, Seq("doc_id")).filter(col("term_a") < col("term_b"))
        .groupBy(col("term_a"), col("term_b")).agg(count(lit(1)).as("df_ab"))
        .filter(col("df_ab") >= 5)
        .join(broadcast(df.select(col("t").as("term_a"), col("df").as("df_a"))), "term_a")
        .join(broadcast(df.select(col("t").as("term_b"), col("df").as("df_b"))), "term_b")
        .crossJoin(broadcast(n))
        .select(col("term_a"), col("term_b"), col("df_ab"),
          round(log((col("df_ab") * col("nd")).cast("double")
            / (col("df_a") * col("df_b")).cast("double")), 6).as("pmi"))
        .orderBy(col("term_a"), col("term_b"))
    }, Some(
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         n AS (SELECT count(*) AS nd FROM documents),
         df AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
         pair AS (SELECT a.t AS term_a, b.t AS term_b, count(*) AS df_ab
                  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
                  GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT p.term_a, p.term_b, p.df_ab,
                round(ln(CAST(p.df_ab * n.nd AS DOUBLE)
                         / CAST(fa.df * fb.df AS DOUBLE)), 6) AS pmi
         FROM pair p
         JOIN df fa ON p.term_a = fa.t
         JOIN df fb ON p.term_b = fb.t
         CROSS JOIN n
         ORDER BY term_a, term_b""")),

    // Feature hashing (the hashing trick, Weinberger et al. 2009):
    // fixed-width bag-of-words vectors with md5-derived dimension and
    // sign, L2-normalized — the no-vocabulary featurizer (streaming-
    // friendly: no global dictionary pass, unlike TF-IDF). Integer
    // signed-tf sums until the final normalize, so both engines agree
    // bit-for-bit pre-rounding. Map-side until one (doc, dim)
    // aggregate; no joins besides the per-doc norm. Output exploded
    // (doc_id, dim, weight) — the oracle-friendly sparse form.
    Query("q_x_feat_hash", (s, d) => {
      val k = 16
      val tok = table(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("t"))
      val hashed = tok
        .withColumn("dim", conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long") % k)
        .withColumn("sgn",
          when(conv(substring(md5(col("t")), 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
            .otherwise(-1L))
      val w = hashed.groupBy(col("doc_id"), col("dim")).agg(sum(col("sgn")).as("w"))
      val norm = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      w.join(norm, "doc_id")
        .filter(col("nrm") > 0)
        .select(col("doc_id"), col("dim").cast("int").as("dim"),
          round(col("w").cast("double") / col("nrm"), 6).as("weight"))
        .orderBy(col("doc_id"), col("dim"))
    }, Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 16 AS dim,
                      CASE WHEN CAST(('0x' || substr(md5(t), 9, 1)) AS BIGINT) % 2 = 0
                           THEN 1 ELSE -1 END AS sgn
               FROM tok),
         w AS (SELECT doc_id, dim, sum(sgn) AS w FROM h GROUP BY doc_id, dim),
         nm AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
                FROM w GROUP BY doc_id)
         SELECT w.doc_id, CAST(w.dim AS INTEGER) AS dim,
                round(CAST(w.w AS DOUBLE) / nm.nrm, 6) AS weight
         FROM w JOIN nm ON w.doc_id = nm.doc_id
         WHERE nm.nrm > 0 ORDER BY w.doc_id, dim""")),

    // First-order Markov transition estimation over the event stream:
    // per-user event-type bigrams (lag window, ts ties broken on
    // event_id) → global transition counts and row-normalized
    // probabilities — user-behavior modeling / next-event priors.
    // Partitioned window + two aggregates; nothing global but the
    // |types|² output.
    Query("q_x_markov", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = table(s, d, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type")).agg(count(lit(1)).as("n_trans"))
      val tot = trans.groupBy(col("prev_type")).agg(sum(col("n_trans")).as("n_from"))
      trans.join(tot, "prev_type")
        .select(col("prev_type"), col("event_type"), col("n_trans"),
          round(col("n_trans").cast("double") / col("n_from"), 6).as("p"))
        .orderBy(col("prev_type"), col("event_type"))
    }, Some(
      """WITH t AS (SELECT event_type,
                           lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_type
                    FROM events),
         tr AS (SELECT prev_type, event_type, count(*) AS n_trans
                FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT prev_type, sum(n_trans) AS n_from FROM tr GROUP BY 1)
         SELECT tr.prev_type, tr.event_type, tr.n_trans,
                round(CAST(tr.n_trans AS DOUBLE) / CAST(tot.n_from AS DOUBLE), 6) AS p
         FROM tr JOIN tot ON tr.prev_type = tot.prev_type
         ORDER BY tr.prev_type, event_type""")),

    Query("q_x_text_stats", (s, d) => {
      val words = TextFunctions.tokens(col("text"))
      table(s, d, "documents")
        .select(col("lang"), size(words).as("nw"), col("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nw").cast("long")).as("total_words"),
          round(avg(col("nw")), 6).as("avg_words"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }, Some(
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
                round(avg(len(string_split(text, ' '))), 6) AS avg_words,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""")),

    Query("q_x_top_terms", (s, d) =>
      table(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(25), Some(
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, word LIMIT 25""")),

    Query("q_x_tfidf", (s, d) => {
      val docs = table(s, d, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
      // df as a window over tf: one shuffle by word, instead of a
      // second aggregation of the re-tokenized corpus plus a join
      // (plan audit: 10 Exchanges → 4).
      val withDf = tf.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("word"))))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      withDf
        .crossJoin(broadcast(n))
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("word"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("word"))
    }, Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT t.doc_id, t.word, round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf
         FROM tf t JOIN dfreq d USING (word) CROSS JOIN n
         WHERE t.doc_id < 50
         ORDER BY t.doc_id, t.word""")),

    Query("q_x_token_count", (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), TextFunctions.regexTokenCount("text").as("n_tokens"))
        .orderBy(col("doc_id")), Some(
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""")),

    // Text canonicalization before hashing/dedup: lowercase, collapse
    // whitespace runs, trim — then the content hash of the CANONICAL
    // form. Exact dedup over norm_hash now catches case/whitespace
    // variants that raw-text hashing (q_x_exact_dedup) misses.
    // Map-only, no shuffle; the hash keeps the declared output narrow.
    Query("q_x_normalize", (s, d) => {
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      table(s, d, "documents")
        .select(col("doc_id"),
          length(norm).cast("long").as("n_norm_chars"),
          md5(norm).as("norm_hash"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
                CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_norm_chars,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash
         FROM documents ORDER BY doc_id""")),

    // Generic per-column dataset profile (operators.Profiling): null
    // count, exact distinct count, min/max per column of `documents`,
    // schema-driven from df.schema — the "describe the snapshot"
    // companion to q_x_expectations. One agg pass (Expand for the
    // exact countDistincts; see Profiling scaladoc for the 100 TB
    // approx_count_distinct swap).
    Query("q_x_col_profile", (s, d) =>
      graft.operators.Profiling.columnProfile(table(s, d, "documents")), Some(
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS id_nn, CAST(count(DISTINCT doc_id) AS BIGINT) AS id_nd, CAST(min(doc_id) AS VARCHAR) AS id_mn, CAST(max(doc_id) AS VARCHAR) AS id_mx,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tx_nn, CAST(count(DISTINCT text) AS BIGINT) AS tx_nd, CAST(min(text) AS VARCHAR) AS tx_mn, CAST(max(text) AS VARCHAR) AS tx_mx,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lg_nn, CAST(count(DISTINCT lang) AS BIGINT) AS lg_nd, CAST(min(lang) AS VARCHAR) AS lg_mn, CAST(max(lang) AS VARCHAR) AS lg_mx,
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sc_nn, CAST(count(DISTINCT source) AS BIGINT) AS sc_nd, CAST(min(source) AS VARCHAR) AS sc_mn, CAST(max(source) AS VARCHAR) AS sc_mx,
           CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc_nn, CAST(count(DISTINCT n_chars) AS BIGINT) AS nc_nd, CAST(min(n_chars) AS VARCHAR) AS nc_mn, CAST(max(n_chars) AS VARCHAR) AS nc_mx
         FROM documents)
         SELECT * FROM (
           SELECT 'doc_id' AS "column", 'bigint' AS data_type, n AS n_rows, id_nn AS n_nulls, id_nd AS n_distinct, id_mn AS min_value, id_mx AS max_value FROM m
           UNION ALL SELECT 'text', 'string', n, tx_nn, tx_nd, tx_mn, tx_mx FROM m
           UNION ALL SELECT 'lang', 'string', n, lg_nn, lg_nd, lg_mn, lg_mx FROM m
           UNION ALL SELECT 'source', 'string', n, sc_nn, sc_nd, sc_mn, sc_mx FROM m
           UNION ALL SELECT 'n_chars', 'bigint', n, nc_nn, nc_nd, nc_mn, nc_mx FROM m
         ) ORDER BY "column"""")),

    Query("q_x_quality", (s, d) => {
      val words = TextFunctions.tokens(col("text"))
      val nw = size(words).cast("double")
      val stopRatio = TextFunctions.stopwordHits(words, enStop).cast("double") / nw
      table(s, d, "documents")
        .select(
          col("doc_id"),
          size(words).as("n_words"),
          round(length(col("text")).cast("double") / nw, 6).as("chars_per_word"),
          round(stopRatio, 6).as("stop_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (
           SELECT doc_id, text, string_split(text, ' ') AS words,
                  len(string_split(text, ' ')) AS nw,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to','in','is','it'])) AS hits
           FROM documents)
         SELECT doc_id,
                CAST(nw AS INTEGER) AS n_words,
                round(CAST(length(text) AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS chars_per_word,
                round(CAST(hits AS DOUBLE) / CAST(nw AS DOUBLE), 6) AS stop_ratio,
                round(least(1.0, CAST(nw AS DOUBLE) / 100.0)
                      * (1.0 - CAST(hits AS DOUBLE) / CAST(nw AS DOUBLE)), 6) AS quality
         FROM w ORDER BY doc_id""")),

    // Compression-ratio quality signal (the Gopher-rules repetitive-
    // document detector, Rae et al. 2021 §A1.1 family): a doc whose
    // zlib-deflated size is a small fraction of its raw size is
    // boilerplate/template spam that n-gram repetition scores can
    // miss (q_x_rep_ngrams catches exact trigram repeats; deflate
    // catches longer-range and approximate redundancy). Map-only; the
    // per-doc byte kernel is a Scala UDF by necessity — the cost IS
    // the deflate, which no codegen'd expression would avoid.
    // No-oracle by design (DuckDB has no zlib); CompressRatioSpec
    // pins the signal's invariants and determinism.
    Query("q_x_compress_ratio", (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          deflatedBytes(col("text")).as("n_deflated"))
        .filter(col("n_bytes") > 0)
        // integer-exact flag: deflated below 35% of raw (x100 both
        // sides, no float boundary against the rounded display ratio)
        .withColumn("compress_ratio", round(col("n_deflated") / col("n_bytes"), 6))
        .withColumn("flagged", col("n_deflated") * 100 < col("n_bytes") * 35)
        .orderBy(col("doc_id")), None),

    Query("q_x_lang_id", (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(TextFunctions.tokens(col("text"))).as("lang_pred"))
        .orderBy(col("doc_id")), Some(
      """WITH s AS (
           SELECT doc_id, lang,
                  len(list_intersect(string_split(text, ' '),
                      ['der','die','das','und','ist','ein','zu','nicht'])) AS sc_de,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to','in','is','it'])) AS sc_en,
                  len(list_intersect(string_split(text, ' '),
                      ['el','la','de','que','y','en','un','es'])) AS sc_es,
                  len(list_intersect(string_split(text, ' '),
                      ['le','la','de','et','un','est','que','pour'])) AS sc_fr
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN greatest(sc_de, sc_en, sc_es, sc_fr) <= 0 THEN 'und'
                     WHEN sc_de = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'de'
                     WHEN sc_en = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'en'
                     WHEN sc_es = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'es'
                     WHEN sc_fr = greatest(sc_de, sc_en, sc_es, sc_fr) THEN 'fr'
                     ELSE 'und' END AS lang_pred
         FROM s ORDER BY doc_id""")),

    // Repetition filter (Gopher-style): fraction of duplicated word
    // trigrams per doc — the "looped text" quality gate of a
    // pretraining pipeline. Map-only (per-row array work, no shuffle
    // beyond the final sort).
    Query("q_x_rep_ngrams", (s, d) => {
      val grams = TextFunctions.wordNgramsExpr("text", 3)
      table(s, d, "documents")
        .withColumn("g", grams)
        .select(col("doc_id"), size(col("g")).as("n_grams"),
          size(array_distinct(col("g"))).as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_grams") > 0,
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
            .otherwise(lit(0.0)))
        .select(col("doc_id"), col("n_grams"), col("dup_ratio"),
          (col("dup_ratio") > 0.2).as("repetitive"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ')) END AS gs
               FROM w),
         r AS (SELECT doc_id, len(gs) AS n_grams,
                 CASE WHEN len(gs) > 0
                      THEN round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
                      ELSE CAST(0 AS DOUBLE) END AS dup_ratio
               FROM g)
         SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams, dup_ratio,
                dup_ratio > 0.2 AS repetitive
         FROM r ORDER BY doc_id""")),

    // The word-n-gram unit itself as a declared query: one row per
    // (doc, gram position) over a deterministic doc subset — the
    // direct oracle row for the codegen'd WordNgrams expression that
    // q_x_rep_ngrams / q_x_contam build on. Map-only + final sort.
    Query("q_x_ngrams", (s, d) =>
      table(s, d, "documents")
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          posexplode(TextFunctions.wordNgramsExpr("text", 3)).as(Seq("pos", "gram")))
        .orderBy(col("doc_id"), col("pos")), Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id % 50 = 0),
         u AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w)
         SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
         FROM u ORDER BY doc_id, pos""")),

    // Benchmark decontamination: flag training docs sharing any word
    // trigram with the (tiny) benchmark split. Scale shape: the
    // benchmark gram set is broadcast by construction (benchmarks are
    // small vs the corpus); the corpus side is one explode + semi
    // join + per-doc count — no corpus self-join.
    Query("q_x_contam", (s, d) => {
      val sets = graft.operators.NgramGrain.sets(s, d, 3)
      val bench = sets.filter(col("doc_id") % 97 === 0)
        .select(explode(col("g")).as("g")).distinct()
      val train = sets.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), size(col("g")).as("n_grams"), explode(col("g")).as("g"))
      train.join(broadcast(bench), Seq("g"), "left_semi")
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("doc_id"), col("n_hits"), col("n_grams"),
          round(col("n_hits").cast("double") / col("n_grams"), 6).as("contam_ratio"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS gs
               FROM w),
         t AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS tg FROM g WHERE doc_id % 97 <> 0)
         SELECT doc_id, count(*) AS n_hits, CAST(n_grams AS INTEGER) AS n_grams,
                round(CAST(count(*) AS DOUBLE) / n_grams, 6) AS contam_ratio
         FROM t
         WHERE tg IN (SELECT DISTINCT unnest(gs) FROM g WHERE doc_id % 97 = 0)
         GROUP BY doc_id, n_grams ORDER BY doc_id""")),

    // ---- training-data assembly --------------------------------------
    // Deterministic train/val/test split: reproducible on any cluster,
    // any partitioning (pure function of the id — never rand()).
    Query("q_x_split", (s, d) =>
      table(s, d, "documents")
        .withColumn("split",
          when(col("doc_id") % 10 < 8, "train")
            .when(col("doc_id") % 10 < 9, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split")), Some(
      """SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                     WHEN doc_id % 10 < 9 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1 ORDER BY split""")),

    // Source mixing by deterministic per-source keep-ratios (the
    // data-mixture op of a pretraining pipeline).
    Query("q_x_mix", (s, d) =>
      table(s, d, "documents")
        .withColumn("keep_ratio",
          when(col("source").isin("src0", "src1", "src2"), 8).otherwise(3))
        // sample basis div 20: `source` is doc_id%20 in the fixture, so
        // a plain doc_id%10 basis would keep/drop whole sources
        .filter(expr("(doc_id div 20) % 10") < col("keep_ratio"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source")), Some(
      """SELECT source, count(*) AS n_kept
         FROM documents
         WHERE (doc_id // 20) % 10 < (CASE WHEN source IN ('src0','src1','src2') THEN 8 ELSE 3 END)
         GROUP BY source ORDER BY source""")),

    // Token-budget packing: per source, keep the doc_id-ordered prefix
    // whose cumulative word count fits the budget.
    Query("q_x_token_budget", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      table(s, d, "documents")
        .withColumn("nw", size(TextFunctions.tokens(col("text"))))
        .withColumn("cum_tokens", sum(col("nw").cast("long")).over(w))
        .filter(col("cum_tokens") <= 2000)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), max(col("cum_tokens")).as("tokens_used"))
        .orderBy(col("source"))
    }, Some(
      """WITH c AS (
           SELECT source, doc_id,
                  sum(len(string_split(text, ' '))) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
           FROM documents)
         SELECT source, count(*) AS n_docs, CAST(max(cum_tokens) AS BIGINT) AS tokens_used
         FROM c WHERE cum_tokens <= 2000
         GROUP BY source ORDER BY source""")),

    // Lexicon blocklist screening (the NSFW/toxicity-filter stage of a
    // cleaning pipeline, with the lexicon standing in for a safety
    // list): per-doc OCCURRENCE count of blocked terms and their
    // density; docs above 2% density are flagged. Map-only — the
    // blocklist is a plan literal; a production-sized lexicon would
    // broadcast-join the exploded tokens instead, same semantics.
    Query("q_x_blocklist", (s, d) => {
      val blocked = array(Seq("slow", "spill", "skew").map(lit): _*)
      val words = TextFunctions.tokens(col("text"))
      table(s, d, "documents")
        .select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          size(filter(words, w => array_contains(blocked, w))).cast("long").as("n_blocked"))
        .withColumn("block_ratio", round(col("n_blocked") / col("n_words"), 6))
        // integer-exact threshold (2% = 1/50): no float boundary between
        // the rounded display ratio and the flag
        .withColumn("flagged", col("n_blocked") * 50 > col("n_words"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH b AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(len(list_filter(string_split(text, ' '),
                      w -> list_contains(['slow','spill','skew'], w))) AS BIGINT) AS n_blocked
           FROM documents)
         SELECT doc_id, n_words, n_blocked,
                round(n_blocked * 1.0 / n_words, 6) AS block_ratio,
                n_blocked * 50 > n_words AS flagged
         FROM b ORDER BY doc_id""")),

    // Deterministic round-robin source interleave — the data-loader
    // ordering step after mixing: round r takes each source's r-th doc
    // (by doc_id), alphabetical by source within the round, so batches
    // see every source before any repeats. Scale shape: both windows
    // are PARTITIONED (by source, then by round — each round holds at
    // most |sources| rows); no global sort anywhere in the derivation.
    Query("q_x_interleave", (s, d) => {
      val wSrc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      val wRound = org.apache.spark.sql.expressions.Window
        .partitionBy(col("round")).orderBy(col("source"))
      table(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("round", row_number().over(wSrc).cast("long"))
        .withColumn("pos", row_number().over(wRound).cast("int"))
        .orderBy(col("round"), col("pos"))
    }, Some(
      """WITH r AS (SELECT doc_id, source,
                  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS round
           FROM documents)
         SELECT doc_id, source, round,
                CAST(row_number() OVER (PARTITION BY round ORDER BY source) AS INTEGER) AS pos
         FROM r ORDER BY round, pos""")),

    // Sequence packing: assign whole docs to fixed-capacity training
    // bins (512 tokens) by prefix-sum binning — the batch-construction
    // step between mixing and the trainer. A doc's bin is the bin its
    // STARTING token offset falls in (the standard contiguous-fill
    // approximation of first-fit packing; deterministic, one window
    // pass, no iteration). Packed per source shard — exactly how a
    // distributed pipeline packs (each worker its shard), which also
    // keeps the window PARTITIONED: no global-order single-partition
    // sort at any scale.
    Query("q_x_pack", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      table(s, d, "documents")
        .withColumn("nw", size(TextFunctions.tokens(col("text"))).cast("long"))
        .withColumn("start_tok", sum(col("nw")).over(w) - col("nw"))
        .withColumn("bin", (col("start_tok") / 512).cast("long"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("tokens_packed"),
          round(sum(col("nw")) / lit(512.0), 6).as("fill_ratio"))
        .orderBy(col("source"), col("bin"))
    }, Some(
      """WITH t AS (SELECT source, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
           FROM documents),
         c AS (SELECT source, nw,
                  sum(nw) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nw AS start_tok
               FROM t)
         SELECT source, CAST(start_tok // 512 AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nw) AS BIGINT) AS tokens_packed,
                round(sum(nw) / 512.0, 6) AS fill_ratio
         FROM c GROUP BY source, bin ORDER BY source, bin""")),

    // Redaction / normalization pass (digits + a blocked term).
    Query("q_x_redact", (s, d) =>
      table(s, d, "documents")
        .select(col("doc_id"),
          substring(
            regexp_replace(regexp_replace(col("text"), "[0-9]+", "<num>"),
              "\\bdata\\b", "<redacted>"), 1, 80).as("clean_prefix"))
        .orderBy(col("doc_id")), Some(
      """SELECT doc_id,
                substr(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
                       '\bdata\b', '<redacted>', 'g'), 1, 80) AS clean_prefix
         FROM documents ORDER BY doc_id""")),

    // Exact all-pairs set-similarity self-join (Dedup.exactJaccardPairs,
    // frequency-ordered prefix filtering): every doc pair whose
    // word-trigram shingle sets have Jaccard ≥ 0.6 — the LOSSLESS
    // near-dedup path (no false negatives), oracle'd against a DuckDB
    // brute-force cross join. Word trigrams (not char trigrams): the
    // element space is combinatorial in the vocabulary, so background
    // pairs sit at j ≤ 0.07 while planted near-dups sit at j ≥ 0.9, and
    // the rare-prefix buckets stay small (measured at sf0.1: 300 k
    // candidates vs 12.5 M brute-force pairs).
    Query("q_x_allpairs_jaccard", (s, d) =>
      graft.operators.DupGraph.pairs(s, d, threshold = 0.6)
        .orderBy(col("doc_a"), col("doc_b")), Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.s, b.s)) AS inter,
                      len(list_distinct(list_concat(a.s, b.s))) AS uni
               FROM g a JOIN g b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
         FROM p WHERE uni > 0 AND inter * 1000000 >= uni * 600000
         ORDER BY doc_a, doc_b""")),

    // Exact containment join (Dedup.containmentPairs): every ORDERED
    // pair with |Sa ∩ Sb| / |Sa| ≥ 0.8 over word-trigram shingles —
    // the quote / near-superset detector Jaccard misses (a short doc
    // embedded in a long one dilutes the union). Same rare-prefix
    // candidate generation as the Jaccard join; b's side joins full
    // postings (containment puts no position bound on b). Oracle:
    // DuckDB brute-force over all ordered pairs.
    Query("q_x_containment", (s, d) =>
      Dedup.containmentPairs(
          graft.operators.DupGraph.trigramSets(s, d), "doc_id", "g", 0.8)
        .orderBy(col("doc_a"), col("doc_b")), Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na
               FROM g a JOIN g b ON a.doc_id <> b.doc_id
               WHERE len(a.s) > 0 AND len(b.s) > 0)
         SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / na, 6) AS containment
         FROM p WHERE inter * 1000000 >= na * 800000
         ORDER BY doc_a, doc_b""")),

    // Cross-source vocabulary overlap via KMV bottom-k sketches
    // (functions.KmvSketch, k=256): one bounded-memory aggregate pass
    // over exploded shingle hashes gives a k-string summary per
    // source; every pairwise Jaccard estimate then needs only the 20
    // sketches (array ops on k-length arrays — driver-free, broadcast-
    // sized). The sketched form of q_x_source_xdup's exact matrix: at
    // 100 TB the exact per-pair intersection shuffles the full shingle
    // vocabulary, while this ships 256 strings per (source ×
    // partition) and answers ALL 190 pairs from one tiny table.
    // Deterministic (k smallest distinct md5 strings is a pure set
    // function) — so unlike most sketches it hash-matches a DuckDB
    // oracle that reproduces the same bottom-k with a window rank.
    Query("q_x_kmv_overlap", (s, d) => {
      val k = 256
      val kmv = kmvSourceSketches(s, d, k)
      val a = kmv.select(col("source").as("source_a"), col("ks").as("ka"))
      val b = kmv.select(col("source").as("source_b"), col("ks").as("kb"))
      a.join(b, col("source_a") < col("source_b"))
        .withColumn("merged",
          slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
        .withColumn("k_shared",
          size(array_intersect(array_intersect(col("merged"), col("ka")), col("kb"))))
        .select(col("source_a"), col("source_b"), col("k_shared"),
          round(col("k_shared").cast("double") /
            least(lit(k), size(col("merged"))), 6).as("j_est"))
        .orderBy(col("source_a"), col("source_b"))
    }, Some(
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT DISTINCT source, g
                FROM w, UNNEST(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                    i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END) AS t(g)),
         h AS (SELECT source, md5(g) AS h FROM sh),
         rk AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM h),
         kmv AS (SELECT source, list_sort(array_agg(h)) AS ks
                 FROM rk WHERE r <= 256 GROUP BY source),
         pr AS (SELECT a.source AS source_a, b.source AS source_b,
                       a.ks AS ka, b.ks AS kb
                FROM kmv a JOIN kmv b ON a.source < b.source),
         est AS (SELECT source_a, source_b, ka, kb,
                   list_sort(list_distinct(list_concat(ka, kb)))[1:256] AS merged
                 FROM pr)
         SELECT source_a, source_b,
                len(list_intersect(list_intersect(merged, ka), kb)) AS k_shared,
                round(CAST(len(list_intersect(list_intersect(merged, ka), kb)) AS DOUBLE)
                      / least(256, len(merged)), 6) AS j_est
         FROM est ORDER BY source_a, source_b""")),

    // Directional containment estimates from the SAME KMV sketches
    // as q_x_kmv_overlap (Beyer et al. 2007's set-operation
    // estimators): Ĉ(a→b) = |K∩A∩B| / |K∩A| over the union's
    // bottom-k — "is source b a re-crawl/superset of source a" at
    // sketch cost, the asymmetric question the Jaccard estimate
    // can't answer. All 380 ordered pairs from the same 20 k-string
    // summaries; deterministic, so oracle-able like the overlap.
    Query("q_x_kmv_containment", (s, d) => {
      val k = 256
      val kmv = kmvSourceSketches(s, d, k)
      val a = kmv.select(col("source").as("source_a"), col("ks").as("ka"))
      val b = kmv.select(col("source").as("source_b"), col("ks").as("kb"))
      a.join(b, col("source_a") =!= col("source_b"))
        .withColumn("merged",
          slice(array_sort(array_union(col("ka"), col("kb"))), 1, k))
        .withColumn("den", size(array_intersect(col("merged"), col("ka"))))
        .withColumn("num",
          size(array_intersect(array_intersect(col("merged"), col("ka")), col("kb"))))
        .filter(col("den") > 0)
        .select(col("source_a"), col("source_b"),
          round(col("num").cast("double") / col("den"), 6).as("c_est"))
        .orderBy(col("source_a"), col("source_b"))
    }, Some(
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT DISTINCT source, g
                FROM w, UNNEST(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                  ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                    i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END) AS t(g)),
         h AS (SELECT source, md5(g) AS h FROM sh),
         rk AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM h),
         kmv AS (SELECT source, list_sort(array_agg(h)) AS ks
                 FROM rk WHERE r <= 256 GROUP BY source),
         pr AS (SELECT a.source AS source_a, b.source AS source_b,
                       a.ks AS ka, b.ks AS kb
                FROM kmv a JOIN kmv b ON a.source <> b.source),
         est AS (SELECT source_a, source_b, ka, kb,
                   list_sort(list_distinct(list_concat(ka, kb)))[1:256] AS merged
                 FROM pr),
         cd AS (SELECT source_a, source_b,
                  len(list_intersect(list_intersect(merged, ka), kb)) AS num,
                  len(list_intersect(merged, ka)) AS den
                FROM est)
         SELECT source_a, source_b,
                round(CAST(num AS DOUBLE) / den, 6) AS c_est
         FROM cd WHERE den > 0 ORDER BY source_a, source_b""")),

    // Vocabulary coverage curve: what fraction of the corpus token
    // mass the top-k vocabulary covers, for k ∈ {10, 100, 1000} —
    // the tokenizer-design audit ("how big a vocab buys X%
    // coverage"). One token-frequency aggregate (lazily checkpointed,
    // shared by all three cuts); each cut is a TakeOrdered top-k over
    // the VOCABULARY-sized table, never the corpus. Integer mass
    // ratios → engine-exact.
    Query("q_x_vocab_coverage", (s, d) => {
      val tf = table(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .cut()
      val tot = tf.agg(sum(col("c")).as("total"))
      def cut(k: Int) = tf.orderBy(col("c").desc, col("tok")).limit(k)
        .agg(sum(col("c")).as("mass"), count(lit(1)).as("n_used"))
        .withColumn("k", lit(k))
      cut(10).unionByName(cut(100)).unionByName(cut(1000))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_used"),
          round(col("mass").cast("double") / col("total"), 6).as("coverage"))
        .orderBy(col("k"))
    }, Some(
      """WITH tf AS (SELECT tok, count(*) AS c
                     FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
                     GROUP BY tok),
         tot AS (SELECT sum(c) AS total FROM tf),
         cuts AS (
           SELECT 10 AS k, count(*) AS n_used, sum(c) AS mass
           FROM (SELECT c FROM tf ORDER BY c DESC, tok LIMIT 10)
           UNION ALL
           SELECT 100, count(*), sum(c)
           FROM (SELECT c FROM tf ORDER BY c DESC, tok LIMIT 100)
           UNION ALL
           SELECT 1000, count(*), sum(c)
           FROM (SELECT c FROM tf ORDER BY c DESC, tok LIMIT 1000))
         SELECT k, n_used, round(CAST(mass AS DOUBLE) / total, 6) AS coverage
         FROM cuts, tot ORDER BY k""")),

    // Intra-class embedding diversity via the moment identity:
    // mean pairwise cosine over a label's normalized vectors =
    // (‖Σv̂‖² − Σ‖v̂‖²) / (n(n−1)) — ONE aggregation pass, no pair
    // join anywhere (the O(n²) pair sum collapses algebraically).
    // Low diversity = mode collapse / boilerplate embeddings; the
    // curation metric a 100 TB corpus can only afford in this
    // identity form.
    Query("q_x_diversity", (s, d) => {
      val dims = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      val nrm = dims.groupBy(col("vec_id"), col("label"))
        .agg(sqrt(sum(col("x") * col("x"))).as("nv"))
        .filter(col("nv") > 0)
      val nx = dims.join(nrm, Seq("vec_id", "label"))
        .select(col("label"), col("pos"), (col("x") / col("nv")).as("xh"))
        .cut()
      val s2 = nx.groupBy(col("label"), col("pos")).agg(sum(col("xh")).as("sx"))
        .groupBy(col("label")).agg(sum(col("sx") * col("sx")).as("s2"))
      val s1 = nx.groupBy(col("label")).agg(sum(col("xh") * col("xh")).as("s1"))
      val counts = nrm.groupBy(col("label")).agg(count(lit(1)).as("n"))
      counts.join(s2, Seq("label")).join(s1, Seq("label"))
        .filter(col("n") >= 2)
        .select(col("label"), col("n"),
          round((col("s2") - col("s1")) / (col("n") * (col("n") - 1)), 6).as("mean_cos"))
        .orderBy(col("label"))
    }, Some(
      """WITH dims AS (
           SELECT vec_id, label, CAST(i AS INTEGER) AS pos,
                  CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
           FROM embeddings, range(1, 65) r(i)),
         nrm AS (SELECT vec_id, label, sqrt(sum(x * x)) AS nv
                 FROM dims GROUP BY vec_id, label),
         x2 AS (SELECT d.label, d.pos, d.x / n.nv AS xh
                FROM dims d JOIN nrm n
                  ON d.vec_id = n.vec_id AND d.label = n.label
                WHERE n.nv > 0),
         ps AS (SELECT label, pos, sum(xh) AS sx FROM x2 GROUP BY label, pos),
         s2 AS (SELECT label, sum(sx * sx) AS s2 FROM ps GROUP BY label),
         s1 AS (SELECT label, sum(xh * xh) AS s1 FROM x2 GROUP BY label),
         c AS (SELECT label, count(*) AS n FROM nrm WHERE nv > 0 GROUP BY label)
         SELECT c.label, c.n,
                round((s2.s2 - s1.s1) / (c.n * (c.n - 1)), 6) AS mean_cos
         FROM c JOIN s2 ON c.label = s2.label JOIN s1 ON c.label = s1.label
         WHERE c.n >= 2 ORDER BY c.label""")),

    // Triangle census of the semantic-similarity graph
    // (operators.Triangles over blockedCosinePairs at cos ≥ 0.3):
    // per-vertex triangle counts separate genuine duplicate CLUSTERS
    // (cliques — every member closes triangles) from chains of
    // borderline pairs that connected components would merge. Degree-
    // ordered orientation bounds the wedge join at O(m^1.5) no matter
    // how skewed the hub degrees — the scale property a naive
    // neighbor-join lacks. Oracle: DuckDB brute-force edge derivation
    // + 3-way self-join.
    Query("q_x_triangles", (s, d) => {
      val edges = graft.operators.CosGraph.edges(s, d, threshold = 0.3)
      graft.operators.Triangles.perVertex(edges)
        .select(col("id").as("vec_id"), col("n_tri"))
        .orderBy(col("vec_id"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, embedding AS cv, nrm AS cn FROM nv),
         e AS (SELECT id_a AS ea, id_b AS eb FROM (
                 SELECT id_a, id_b, round($knnCosSql, 9) AS cos
                 FROM a JOIN b ON id_a < id_b)
               WHERE cos >= 0.3),
         tri AS (SELECT e1.ea AS ta, e1.eb AS tb, e2.eb AS tc
                 FROM e e1 JOIN e e2 ON e1.eb = e2.ea
                      JOIN e e3 ON e3.ea = e1.ea AND e3.eb = e2.eb),
         m AS (SELECT ta AS vec_id FROM tri
               UNION ALL SELECT tb FROM tri
               UNION ALL SELECT tc FROM tri)
         SELECT vec_id, count(*) AS n_tri FROM m
         GROUP BY vec_id ORDER BY vec_id""")),

    // k-core of the semantic graph (operators.Kcore, k=3): the dense
    // nucleus where EVERY member keeps ≥ 3 near-neighbors after all
    // peripheral vertices peel away — template-farm / boilerplate
    // detection, complementing triangles (local cliquishness) and
    // DBSCAN (density clusters). No-oracle: iterative peeling has no
    // recursive-CTE form (the shrinking set needs aggregation in the
    // recursive term); KcoreSpec proves equality with a sequential
    // reference peeler, and the result is order-independent (the
    // k-core is a unique maximal subgraph).
    Query("q_x_kcore", (s, d) =>
      graft.operators.Kcore
        .kCore(graft.operators.CosGraph.edges(s, d, threshold = 0.3), k = 3)
        .select(col("id").as("vec_id"), col("core_deg"))
        .orderBy(col("vec_id")), None),

    // Density clustering (graph DBSCAN, ε = cos ≥ 0.3, minPts = 4)
    // over the same semantic edge list: organic topic clumps with
    // core/border roles, low-density background left unclustered —
    // the no-k counterpart of q_x_kmeans. Deterministic min-cluster
    // border rule makes the result a pure function of the edge set,
    // so the full assignment hash-matches a DuckDB recursive-CTE
    // oracle (unlike sequential DBSCAN's order-dependent borders).
    Query("q_x_dbscan", (s, d) => {
      val edges = graft.operators.CosGraph.edges(s, d, threshold = 0.3)
      graft.operators.Dbscan.cluster(edges, minPts = 4)
        .select(col("id").as("vec_id"), col("role"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }, Some(
      s"""WITH RECURSIVE nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         a AS (SELECT vec_id AS id_a, embedding AS qv, nrm AS qn FROM nv),
         b AS (SELECT vec_id AS id_b, embedding AS cv, nrm AS cn FROM nv),
         e AS (SELECT id_a AS ea, id_b AS eb FROM (
                 SELECT id_a, id_b, round($knnCosSql, 9) AS cos
                 FROM a JOIN b ON id_a < id_b)
               WHERE cos >= 0.3),
         sym AS (SELECT ea AS u, eb AS v FROM e UNION ALL SELECT eb, ea FROM e),
         core AS (SELECT u AS id FROM sym GROUP BY u HAVING count(*) >= 3),
         ce AS (SELECT s.u, s.v FROM sym s
                JOIN core c1 ON s.u = c1.id JOIN core c2 ON s.v = c2.id),
         r AS (SELECT id, id AS reach FROM core
               UNION
               SELECT r.id, ce.v FROM r JOIN ce ON r.reach = ce.u),
         lab AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id),
         border AS (SELECT s.u AS id, min(l.cluster_id) AS cluster_id
                    FROM sym s JOIN lab l ON s.v = l.id
                    WHERE s.u NOT IN (SELECT id FROM core)
                    GROUP BY s.u)
         SELECT id AS vec_id, 'core' AS role, cluster_id FROM lab
         UNION ALL
         SELECT id AS vec_id, 'border' AS role, cluster_id FROM border
         ORDER BY vec_id""")),

    // Dedup CASCADE — the production composition: exact (sha256),
    // near (word-trigram Jaccard ≥ 0.6), and quote/superset
    // (containment ≥ 0.9, undirected) edges UNIONED into one dup
    // graph → connected components → longest-doc-keeps rule. One
    // modality alone misses what another catches (case variants hash
    // apart but shingle together; a quoted doc fails Jaccard but
    // hits containment); the cascade's cluster is the union-graph
    // component. Each edge family keeps its own scale shape (hash
    // equi-join / prefix-filter joins); only edge lists union.
    Query("q_x_dedup_cascade", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents")
      val hashes = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val exactE = hashes.select(col("doc_id").as("a"), col("h"))
        .join(hashes.select(col("doc_id").as("b"), col("h")), Seq("h"))
        .filter(col("a") < col("b")).select(col("a"), col("b"))
      val jacE = graft.operators.DupGraph.edges(s, d, threshold = 0.6)
      val contE = Dedup.containmentPairs(
          graft.operators.DupGraph.trigramSets(s, d), "doc_id", "g", 0.9)
        .select(least(col("doc_a"), col("doc_b")).as("a"),
          greatest(col("doc_a"), col("doc_b")).as("b"))
      val edges = exactE.unionByName(jacE).unionByName(contE)
        .dropDuplicates("a", "b")
      val cc = graft.operators.Components
        .connectedComponents(docs.select(col("doc_id").as("id")), edges)
      val byCluster = Window.partitionBy(col("cluster_id"))
      cc.join(docs.select(col("doc_id").as("id"), length(col("text")).as("len")), Seq("id"))
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .withColumn("keep", row_number().over(
          byCluster.orderBy(col("len").desc, col("id"))) === 1)
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("n_members"), col("keep"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         je AS (SELECT a.doc_id AS u, b.doc_id AS v
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                  AND len(list_intersect(a.s, b.s)) * 1000000
                      >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS na
                FROM g a JOIN g b ON a.doc_id <> b.doc_id
                WHERE len(a.s) > 0 AND len(b.s) > 0),
         ce AS (SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
                FROM co WHERE inter * 1000000 >= na * 900000),
         xe AS (SELECT a.doc_id AS u, b.doc_id AS v
                FROM documents a JOIN documents b
                  ON sha256(a.text) = sha256(b.text) AND a.doc_id < b.doc_id),
         e AS (SELECT u, v FROM je UNION SELECT u, v FROM ce UNION SELECT u, v FROM xe),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
               UNION
               SELECT r.id, s.v FROM r JOIN sym s ON r.reach = s.u),
         lab AS (SELECT id, CAST(min(reach) AS BIGINT) AS cluster_id
                 FROM r GROUP BY id),
         sized AS (SELECT lab.id, lab.cluster_id,
                     count(*) OVER (PARTITION BY lab.cluster_id) AS n_members,
                     row_number() OVER (PARTITION BY lab.cluster_id
                       ORDER BY length(d.text) DESC, lab.id) AS rk
                   FROM lab JOIN documents d ON d.doc_id = lab.id)
         SELECT id AS doc_id, cluster_id, n_members, rk = 1 AS keep
         FROM sized ORDER BY doc_id""")),

    // Near-duplicate CLUSTER assignment: candidate edges from the exact
    // similarity join above (all pairs with word-trigram Jaccard ≥ 0.6 —
    // lossless, so no cluster is ever split by a missed edge) → generic
    // distributed connected components (operators.Components,
    // O(log diameter) label-propagation rounds). The oracle recomputes
    // the same edges by brute force and resolves components with a
    // recursive-CTE transitive closure — both sides run real graph
    // clustering; nothing exploits the fixture's layout.
    Query("q_x_dup_clusters", (s, d) =>
      graft.operators.DupGraph.clusters(s, d, threshold = 0.6)
        .orderBy(col("doc_id")), Some(
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         e AS (SELECT a.doc_id AS u, b.doc_id AS v
               FROM g a JOIN g b ON a.doc_id < b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
               UNION
               SELECT r.id, s.v FROM r JOIN sym s ON r.reach = s.u)
         SELECT id AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
         FROM r GROUP BY id ORDER BY doc_id""")),

    // Duplication REPORT: the cluster-size histogram of the near-dup
    // graph — "how duplicated is this corpus" as one table (cluster
    // size → number of clusters, docs covered, docs that dedup would
    // drop). The curation summary a pipeline publishes after
    // q_x_dup_clusters; two tiny aggregates past the shared edge
    // derivation.
    Query("q_x_dup_stats", (s, d) => {
      graft.operators.DupGraph.clusters(s, d, threshold = 0.6)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1).as("n_droppable"))
        .orderBy(col("sz"))
    }, Some(
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         e AS (SELECT a.doc_id AS u, b.doc_id AS v
               FROM g a JOIN g b ON a.doc_id < b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
               UNION
               SELECT r.id, s.v FROM r JOIN sym s ON r.reach = s.u),
         c AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id),
         zs AS (SELECT cluster_id, count(*) AS sz FROM c GROUP BY 1)
         SELECT sz, count(*) AS n_clusters,
                CAST(sum(sz) AS BIGINT) AS n_docs,
                CAST(sum(sz - 1) AS BIGINT) AS n_droppable
         FROM zs GROUP BY sz ORDER BY sz""")),

    // Document centrality over the similarity graph (PageRank):
    // ranks duplicate-cluster members by connectivity — the
    // principled representative-selection signal (vs the length rule
    // of q_x_dedup_keep) — with isolated docs at the floor (1−d)/N.
    // Fixed 10 iterations at damping 0.85; the oracle unrolls the
    // identical recurrence relationally, and ranks surface as ppm
    // rounded to 3dp (FP noise ~1e-11 ppm — far under the rounding).
    Query("q_x_pagerank", (s, d) => {
      val docs = table(s, d, "documents")
      val edges = graft.operators.DupGraph.edges(s, d, threshold = 0.6)
      graft.operators.PageRank
        .pageRank(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"),
          round(col("rank") * 1000000, 3).as("pr_ppm"))
        .orderBy(col("doc_id"))
    }, Some {
      val rounds = (1 to 10).map { k =>
        s"""r$k AS (SELECT d.doc_id,
           |           0.15 / (SELECT n FROM nn)
           |             + 0.85 * coalesce(sum(p.rank / dg.outdeg), 0) AS rank
           |         FROM documents d
           |         LEFT JOIN sym s ON s.dst = d.doc_id
           |         LEFT JOIN r${k - 1} p ON p.doc_id = s.src
           |         LEFT JOIN deg dg ON dg.src = s.src
           |         GROUP BY d.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         e AS (SELECT a.doc_id AS u, b.doc_id AS v
               FROM g a JOIN g b ON a.doc_id < b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION SELECT v AS src, u AS dst FROM e),
         deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         r0 AS (SELECT doc_id, CAST(1 AS DOUBLE) / nn.n AS rank FROM documents, nn),
         $rounds
         SELECT doc_id, round(rank * 1000000, 3) AS pr_ppm
         FROM r10 ORDER BY doc_id"""
    }),

    // Leakage-safe train/val/test split: the bucket rule of q_x_split
    // applied to the near-dup CLUSTER id instead of the doc id, so
    // near-duplicates can never straddle train and test — the eval-
    // contamination path q_x_contam cannot see (a paraphrase of a
    // training doc leaking into test). Composes the q_x_dup_clusters
    // derivation (lossless exact-Jaccard edges → connected
    // components); every doc is a CC node, so the cluster frame
    // already carries the whole corpus — no join back needed.
    Query("q_x_split_safe", (s, d) => {
      graft.operators.DupGraph.clusters(s, d, threshold = 0.6)
        .withColumn("split",
          when(col("cluster_id") % 10 < 8, "train")
            .when(col("cluster_id") % 10 < 9, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"))
        .orderBy(col("split"))
    }, Some(
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         e AS (SELECT a.doc_id AS u, b.doc_id AS v
               FROM g a JOIN g b ON a.doc_id < b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
               UNION
               SELECT r.id, s.v FROM r JOIN sym s ON r.reach = s.u),
         c AS (SELECT id, min(reach) AS cluster_id FROM r GROUP BY id)
         SELECT CASE WHEN cluster_id % 10 < 8 THEN 'train'
                     WHEN cluster_id % 10 < 9 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                count(DISTINCT cluster_id) AS n_clusters
         FROM c GROUP BY 1 ORDER BY split""")),

    // Exact duplicated-SPAN detection (window-key approximation of
    // suffix-array substring dedup, Lee et al. 2022): per doc, how
    // many of its 10-word windows appear verbatim in another doc —
    // the corpus-self analog of q_x_contam. TF-IDF-shaped plan: two
    // shuffles on the window key, no self-join, no all-pairs.
    Query("q_x_span_dedup", (s, d) =>
      Dedup.spanDupStats(table(s, d, "documents"), "text", "doc_id", 10)
        .orderBy(col("doc_id")), Some(
      """WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, unnest(
                 CASE WHEN len(ws) < 10 THEN []::VARCHAR[]
                      ELSE list_transform(range(1, len(ws) - 8),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 9 AS INTEGER)], ' ')) END) AS win
               FROM wd),
         k AS (SELECT win, count(DISTINCT doc_id) AS nd FROM g GROUP BY win)
         SELECT g.doc_id, count(*) AS n_windows,
                CAST(sum(CASE WHEN k.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
                round(CAST(sum(CASE WHEN k.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
         FROM g JOIN k USING (win)
         GROUP BY g.doc_id ORDER BY doc_id""")),

    // Dedup canonicalization: ONE keep per near-dup cluster (longest
    // doc in words, ties to smallest id) — the decision step that
    // turns q_x_dup_clusters' assignment into an actual drop list.
    // Integer-only ranking; per-cluster (partitioned) window.
    Query("q_x_dedup_keep", (s, d) =>
      Dedup.keepLongestFromClusters(table(s, d, "documents"),
          "text", "doc_id", graft.operators.DupGraph.clusters(s, d, threshold = 0.6))
        .orderBy(col("doc_id")), Some(
      """WITH RECURSIVE wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM wd),
         e AS (SELECT a.doc_id AS u, b.doc_id AS v
               FROM g a JOIN g b ON a.doc_id < b.doc_id
               WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                 AND len(list_intersect(a.s, b.s)) * 1000000
                     >= len(list_distinct(list_concat(a.s, b.s))) * 600000),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         r AS (SELECT doc_id AS id, doc_id AS reach FROM documents
               UNION
               SELECT r.id, s.v FROM r JOIN sym s ON r.reach = s.u),
         c AS (SELECT id AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
               FROM r GROUP BY id),
         nw AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
                FROM documents)
         SELECT c.doc_id, c.cluster_id, nw.n_words,
                (row_number() OVER (PARTITION BY c.cluster_id
                   ORDER BY nw.n_words DESC, c.doc_id ASC)) = 1 AS keep
         FROM c JOIN nw USING (doc_id) ORDER BY doc_id""")),

    // Deterministic stratified sampling: keep-decision is a pure
    // function of (salt, doc_id) via md5 — reproducible on any cluster
    // and any partitioning, per-stratum rates out of 256 buckets.
    Query("q_x_sample", (s, d) => {
      val bucket = graft.operators.TrainingPipeline.sampleBucket(col("doc_id"), "graft")
      val rate = when(col("lang") === "en", 200)
        .when(col("lang") === "de", 128).otherwise(64)
      table(s, d, "documents")
        .filter(bucket < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars_sampled"))
        .orderBy(col("lang"))
    }, Some(
      """SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS chars_sampled
         FROM documents
         WHERE (strpos('0123456789abcdef', substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 2, 1)) - 1)
               < (CASE WHEN lang = 'en' THEN 200 WHEN lang = 'de' THEN 128 ELSE 64 END)
         GROUP BY lang ORDER BY lang""")),

    // Incremental rollup maintenance (operators.IncrementalAgg): the
    // daily per-type stats table maintained the way the reference's
    // 5-minute batches would — historical state folded with a delta
    // batch's partial aggregate (here: everything after a cut
    // timestamp PLUS deterministic late stragglers touching old
    // days). DECIMAL sums make the fold exactly associative, so the
    // merged state hash-matches the oracle's full recompute — the
    // no-drift contract. Cost at 100 TB ∝ rollup + batch, never raw
    // history.
    Query("q_x_incr_agg", (s, d) => {
      val ev = table(s, d, "events")
        .withColumn("day", to_date(col("ts")))
      val isDelta = col("ts") >= lit("2024-01-21 12:00:00").cast("timestamp") ||
        col("event_id") % 97 === 0
      val keys = Seq("day", "event_type")
      val state = graft.operators.IncrementalAgg
        .rollup(ev.filter(!isDelta), keys, "value")
      val delta = graft.operators.IncrementalAgg
        .rollup(ev.filter(isDelta), keys, "value")
      graft.operators.IncrementalAgg
        .withAvg(graft.operators.IncrementalAgg.merge(state, delta, keys))
        .select(col("day"), col("event_type"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v"), col("max_v"), col("avg_v"))
        .orderBy(col("day"), col("event_type"))
    }, Some(
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_v,
                min(value) AS min_v, max(value) AS max_v,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE)
                      / count(*), 6) AS avg_v
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""")),

    // Temperature-scaled source mixture (the multilingual-LM sampling
    // rule, α = 0.3): upweight small sources by renormalizing
    // n_i^α — the declarative form of the mixture-design step that
    // precedes q_x_mix's per-source keep rates. Two tiny aggregates
    // (per-source counts, then a 1-row total broadcast back); the
    // corpus itself is scanned once for counts and never shuffled.
    Query("q_x_temp_mix", (s, d) => {
      val counts = table(s, d, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).cast("double").as("tot"),
        sum(pow(col("n_docs"), 0.3)).as("tot_pow"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          round(col("n_docs") / col("tot"), 6).as("nat_share"),
          round(pow(col("n_docs"), 0.3) / col("tot_pow"), 6).as("temp_share"))
        .orderBy(col("source"))
    }, Some(
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS tot,
                      sum(pow(n_docs, 0.3)) AS tot_pow FROM c)
         SELECT source, n_docs,
                round(CAST(n_docs AS DOUBLE) / tot, 6) AS nat_share,
                round(pow(n_docs, 0.3) / tot_pow, 6) AS temp_share
         FROM c, t ORDER BY source""")),

    // Quality-weighted deterministic sampling (the "sample in
    // proportion to a quality score" keep rule of FineWeb-Edu/DCLM
    // style curation): a doc survives iff its 16-bit md5 bucket falls
    // under floor(quality × 65536) — acceptance probability tracks
    // the score, yet membership is a pure function of doc_id (no
    // rand(), reproducible on any cluster/partitioning). Map-only:
    // codegen'd hash/string predicate, no shuffle before the final
    // order — at 100 TB this is one free pass over the corpus.
    Query("q_x_weighted_sample", (s, d) => {
      val h = md5(concat(lit("wsamp"), col("doc_id").cast("string")))
      val hex = lit("0123456789abcdef")
      def nib(i: Int) = instr(hex, substring(h, i, 1)) - 1
      val bucket = ((nib(1) * 16 + nib(2)) * 16 + nib(3)) * 16 + nib(4)
      table(s, d, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(bucket < floor(col("quality") * 65536))
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (
           SELECT doc_id, lang,
                  string_split(text, ' ') AS words,
                  md5(concat('wsamp', CAST(doc_id AS VARCHAR))) AS h
           FROM documents),
         q AS (
           SELECT doc_id, lang, h,
                  round(least(1.0, CAST(len(words) AS DOUBLE) / 100.0)
                        * (1.0 - CAST(len(list_intersect(words,
                            ['the','a','of','and','to','in','is','it'])) AS DOUBLE)
                           / CAST(len(words) AS DOUBLE)), 6) AS quality
           FROM w)
         SELECT doc_id, lang, quality FROM q
         WHERE ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1))
               < floor(quality * 65536)
         ORDER BY doc_id""")),

    // Exact-quota stratified sampling: exactly ceil(n_s/10) docs from
    // each source stratum, chosen by a deterministic md5 rank —
    // reproducible on any cluster and partitioning. Complements
    // q_x_sample, whose bucket-rate keep hits its quota only in
    // expectation; exactness costs a per-stratum rank (one partitioned
    // window computes stratum size and rank in a single shuffle).
    // Integer-exact quota: ceil(n/10) = (n+9) div 10 — no float
    // boundary. 100 TB note: partition-by-stratum windows put one
    // reducer per stratum; with few giant strata, use the two-pass
    // form instead — aggregate counts (tiny), broadcast quotas, then
    // pre-filter by a hash threshold just above the rate and rank only
    // the survivors, so the sort sees ~quota rows per stratum.
    Query("q_x_stratified", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byStratum = Window.partitionBy(col("source"))
      table(s, d, "documents")
        .withColumn("rnd", md5(concat(lit("strat"), col("doc_id").cast("string"))))
        .withColumn("n_total", count(lit(1)).over(byStratum))
        .withColumn("rk", row_number().over(
          byStratum.orderBy(col("rnd"), col("doc_id"))))
        .filter(col("rk") <= expr("(n_total + 9L) div 10L"))
        .groupBy(col("source"))
        .agg(max(col("n_total")).as("n_total"),
          count(lit(1)).as("n_taken"),
          sum(col("n_chars")).as("chars_sampled"))
        .orderBy(col("source"))
    }, Some(
      """WITH r AS (SELECT source, n_chars,
                  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_total,
                  row_number() OVER (PARTITION BY source
                      ORDER BY md5(concat('strat', CAST(doc_id AS VARCHAR))), doc_id) AS rk
           FROM documents)
         SELECT source, max(n_total) AS n_total, count(*) AS n_taken,
                CAST(sum(n_chars) AS BIGINT) AS chars_sampled
         FROM r WHERE rk <= (n_total + 9) // 10
         GROUP BY source ORDER BY source""")),

    // Multi-touch attribution (the marketing-analytics primitive):
    // each purchase credits the view/click touchpoints of the same
    // user within its 1-hour lookback — last-touch (winner takes 1)
    // and linear (1/n each) models side by side. Equi-join on
    // user_id + range predicate (never a time cross join), one
    // per-conversion PARTITIONED window for both rank and count.
    // Deterministic tie-break (ts desc, event_id desc) keeps the
    // winner engine-exact.
    Query("q_x_attribution", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, d, "events")
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"),
          col("ts").as("conv_ts"))
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("event_type").as("touch_type"), col("ts").as("touch_ts"))
      val w = Window.partitionBy(col("conv_id"))
      val credited = conv.join(touch, Seq("user_id"))
        .filter(col("touch_ts") <= col("conv_ts") &&
          col("touch_ts") > col("conv_ts") - expr("INTERVAL 1 HOUR"))
        .withColumn("n_touches", count(lit(1)).over(w))
        .withColumn("rk", row_number().over(
          w.orderBy(col("touch_ts").desc, col("touch_id").desc)))
      val last = credited.filter(col("rk") === 1)
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).cast("double").as("credit"))
        .withColumn("model", lit("last_touch"))
      val linear = credited
        .groupBy(col("touch_type"))
        .agg(sum(lit(1.0) / col("n_touches")).as("credit"))
        .withColumn("model", lit("linear"))
      last.unionByName(linear)
        .select(col("model"), col("touch_type"),
          round(col("credit"), 6).as("credit"))
        .orderBy(col("model"), col("touch_type"))
    }, Some(
      """WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS conv_ts
                       FROM events WHERE event_type = 'purchase'),
         touch AS (SELECT user_id, event_id AS touch_id,
                          event_type AS touch_type, ts AS touch_ts
                   FROM events WHERE event_type IN ('view', 'click')),
         j AS (SELECT conv_id, touch_id, touch_type, touch_ts,
                 count(*) OVER (PARTITION BY conv_id) AS n_touches,
                 row_number() OVER (PARTITION BY conv_id
                   ORDER BY touch_ts DESC, touch_id DESC) AS rk
               FROM conv JOIN touch USING (user_id)
               WHERE touch_ts <= conv_ts
                 AND touch_ts > conv_ts - INTERVAL 1 HOUR),
         lastm AS (SELECT 'last_touch' AS model, touch_type,
                     CAST(count(*) AS DOUBLE) AS credit
                   FROM j WHERE rk = 1 GROUP BY touch_type),
         linm AS (SELECT 'linear' AS model, touch_type,
                    sum(CAST(1.0 AS DOUBLE) / n_touches) AS credit
                  FROM j GROUP BY touch_type)
         SELECT model, touch_type, round(credit, 6) AS credit
         FROM (SELECT * FROM lastm UNION ALL SELECT * FROM linm)
         ORDER BY model, touch_type""")),

    // Re-aggregatable distinct-count sketches (Apache DataSketches
    // HLL, built into Spark): per-(event_type, day) sketch PARTIALS
    // are built once, then unioned across days — the production
    // incremental-distinct pattern `approx_count_distinct` cannot
    // express (its sketch is invisible; these are storable columns a
    // daily pipeline persists, then unions over ANY date range
    // without rescanning events). Deterministic (HLL registers are
    // order-independent maxima) but DuckDB has no DataSketches —
    // no-oracle; HllUnionSpec pins estimate-vs-exact error and
    // union-vs-direct agreement.
    Query("q_x_hll_union", (s, d) => {
      val ev = table(s, d, "events").withColumn("day", to_date(col("ts")))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est_users"),
          count(lit(1)).as("n_days"))
        .orderBy(col("event_type"))
    }, None),

    // Incremental view maintenance for JOINS (operators.
    // IncrementalJoin): the orders⋈customer revenue view maintained
    // under delta batches on BOTH sides via the classic delta rule
    // (state ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) — each refresh pays
    // delta-sized join cost, never a recompute. DECIMAL money sums
    // make the final aggregate exactly associative, so the merged
    // view hash-matches the oracle's full recompute (the no-drift
    // contract, join edition of q_x_incr_agg).
    Query("q_x_incr_join", (s, d) => {
      val orders = table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = table(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val isDa = col("o_orderkey") % 89 === 0
      val isDb = col("o_custkey") % 97 === 0
      val (a0, da) = (orders.filter(!isDa), orders.filter(isDa))
      val (b0, db) = (cust.filter(!isDb), cust.filter(isDb))
      val state = a0.join(b0, Seq("o_custkey"))
      graft.operators.IncrementalJoin
        .refreshed(state, a0, da, b0, db, Seq("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("sum_price"))
        .orderBy(col("c_nationkey"))
    }, Some(
      """SELECT c_nationkey,
                count(*) AS n_orders,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // Changepoint candidate per event_type (CUSUM, Page 1954): the
    // day where the cumulative deviation of the daily mean from the
    // global mean peaks — the classic level-shift detector for
    // telemetry/ingest monitoring. Corpus-sized work is ONE daily
    // aggregate; the CUSUM window runs over the DAY-grain table
    // partitioned by type (never the raw stream). CUSUMs rounded 6dp
    // before the argmax so float noise can't flip the winner, day
    // tie-break.
    Query("q_x_changepoint", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = graft.operators.DayGrain.means(s, d)
      val stats = daily.groupBy(col("event_type"))
        .agg(avg(col("m")).as("mu"), count(lit(1)).as("n_days"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.join(stats, Seq("event_type"))
        .withColumn("cusum", round(sum(col("m") - col("mu")).over(w), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(abs(col("cusum")).desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("cp_day"),
          round(abs(col("cusum")), 6).as("max_abs_cusum"), col("n_days"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
                        FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, avg(m) AS mu, count(*) AS n_days
                FROM daily GROUP BY 1),
         cu AS (SELECT d.event_type, d.day, st.n_days,
                  round(sum(d.m - st.mu) OVER (PARTITION BY d.event_type
                    ORDER BY d.day), 6) AS cusum
                FROM daily d JOIN st USING (event_type)),
         rk AS (SELECT event_type, day, n_days, cusum,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY abs(cusum) DESC, day) AS rk
                FROM cu)
         SELECT event_type, day AS cp_day,
                round(abs(cusum), 6) AS max_abs_cusum, n_days
         FROM rk WHERE rk = 1 ORDER BY event_type""")),

    // Distribution drift between corpus snapshots (PSI — population
    // stability index, the model-monitoring standard): per source,
    // PSI of the n_chars distribution between the old and new
    // snapshot views (the q_x_snapshot_diff convention), over 256-char
    // buckets with +0.5 Laplace smoothing on the union bucket
    // universe. Two tiny bucket aggregates; the corpus scans once per
    // side and nothing corpus-sized shuffles. PSI > 0.2 is the
    // conventional "retrain / investigate" alarm.
    Query("q_x_psi", (s, d) => {
      val docs = table(s, d, "documents")
      def snap(pred: org.apache.spark.sql.Column) = docs.filter(pred)
        .select(col("source"), expr("n_chars div 256").as("bucket"))
      val co = snap(col("doc_id") % 7 =!= 0)
        .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("c_old"))
      val cn = snap(col("doc_id") % 5 =!= 0)
        .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("c_new"))
      val uni = co.select(col("source"), col("bucket"))
        .union(cn.select(col("source"), col("bucket"))).distinct()
      val joined = uni
        .join(co, Seq("source", "bucket"), "left")
        .join(cn, Seq("source", "bucket"), "left")
        .na.fill(0L, Seq("c_old", "c_new"))
      val tot = joined.groupBy(col("source")).agg(
        sum(col("c_old")).as("n_old"), sum(col("c_new")).as("n_new"),
        count(lit(1)).as("n_buckets"))
      joined.join(tot, Seq("source"))
        .withColumn("p", (col("c_old") + 0.5) / (col("n_old") + col("n_buckets") * 0.5))
        .withColumn("q", (col("c_new") + 0.5) / (col("n_new") + col("n_buckets") * 0.5))
        .groupBy(col("source"))
        .agg(max(col("n_buckets")).as("n_buckets"),
          round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
        .orderBy(col("source"))
    }, Some(
      """WITH old_s AS (SELECT source, n_chars // 256 AS bucket FROM documents WHERE doc_id % 7 <> 0),
         new_s AS (SELECT source, n_chars // 256 AS bucket FROM documents WHERE doc_id % 5 <> 0),
         co AS (SELECT source, bucket, count(*) AS c_old FROM old_s GROUP BY 1, 2),
         cn AS (SELECT source, bucket, count(*) AS c_new FROM new_s GROUP BY 1, 2),
         uni AS (SELECT source, bucket FROM co UNION SELECT source, bucket FROM cn),
         j AS (SELECT u.source, u.bucket,
                 COALESCE(co.c_old, 0) AS c_old, COALESCE(cn.c_new, 0) AS c_new
               FROM uni u
               LEFT JOIN co ON co.source = u.source AND co.bucket = u.bucket
               LEFT JOIN cn ON cn.source = u.source AND cn.bucket = u.bucket),
         t AS (SELECT source, sum(c_old) AS n_old, sum(c_new) AS n_new,
                 count(*) AS n_buckets
               FROM j GROUP BY source),
         pq AS (SELECT j.source,
                 (j.c_old + 0.5) / (t.n_old + 0.5 * t.n_buckets) AS p,
                 (j.c_new + 0.5) / (t.n_new + 0.5 * t.n_buckets) AS q,
                 t.n_buckets
               FROM j JOIN t ON j.source = t.source)
         SELECT source, CAST(max(n_buckets) AS BIGINT) AS n_buckets,
                round(sum((p - q) * ln(p / q)), 6) AS psi
         FROM pq GROUP BY source ORDER BY source""")),

    // Per-source KL divergence from the corpus token distribution —
    // "which source is most unlike the mixture" (domain skew audit),
    // over the broadcast top-200 corpus vocabulary with +0.5
    // smoothing (both p and q are proper distributions over the same
    // restricted vocab, so KL ≥ 0 and finite). One corpus token pass;
    // everything after is (sources × 200)-sized.
    Query("q_x_kl_source", (s, d) => {
      // materialize the token stream once (lazily): it feeds the vocab
      // aggregate AND the per-source tf aggregate — without this the
      // corpus tokenization replays per consumer (plan audit showed 5
      // document scans)
      val toks = table(s, d, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .cut()
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
        .orderBy(col("cf").desc, col("tok")).limit(200)
      // smooth by the ACTUAL vocab size (can be < 200 on tiny
      // fixtures) — a fixed +100 would denormalize p and q and let
      // KL go negative
      val corpTot = vocab.agg(sum(col("cf")).as("nc"),
        count(lit(1)).cast("double").as("v"))
      val st = toks.join(broadcast(vocab.select(col("tok"))), Seq("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      val universe = table(s, d, "documents").select(col("source")).distinct()
        .crossJoin(broadcast(vocab))
      val filled = universe.join(st, Seq("source", "tok"), "left")
        .na.fill(0L, Seq("tf"))
      val ns = filled.groupBy(col("source")).agg(sum(col("tf")).as("n_s"))
      filled.join(ns, Seq("source")).crossJoin(broadcast(corpTot))
        .withColumn("p", (col("tf") + 0.5) / (col("n_s") + col("v") * 0.5))
        .withColumn("q", (col("cf") + 0.5) / (col("nc") + col("v") * 0.5))
        .groupBy(col("source"))
        .agg(round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl"))
        .orderBy(col("source"))
    }, Some(
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         v AS (SELECT tok, count(*) AS cf FROM tk GROUP BY tok
               ORDER BY count(*) DESC, tok LIMIT 200),
         ct AS (SELECT sum(cf) AS nc, CAST(count(*) AS DOUBLE) AS vs FROM v),
         st AS (SELECT tk.source, tk.tok, count(*) AS tf
                FROM tk JOIN v ON tk.tok = v.tok GROUP BY 1, 2),
         uni AS (SELECT s.source, v.tok, v.cf
                 FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN v),
         f AS (SELECT uni.source, uni.tok, uni.cf, COALESCE(st.tf, 0) AS tf
               FROM uni LEFT JOIN st ON st.source = uni.source AND st.tok = uni.tok),
         ns AS (SELECT source, sum(tf) AS n_s FROM f GROUP BY source),
         pq AS (SELECT f.source,
                 (f.tf + 0.5) / (ns.n_s + ct.vs * 0.5) AS p,
                 (f.cf + 0.5) / (ct.nc + ct.vs * 0.5) AS q
               FROM f JOIN ns ON f.source = ns.source, ct)
         SELECT source, round(sum(p * ln(p / q)), 6) AS kl
         FROM pq GROUP BY source ORDER BY source""")),

    // Skyline / pareto front over (quality max, n_chars min) — the
    // multi-objective doc selection primitive ("best quality at every
    // length budget"). Scale shape: the corpus-sized pass is ONE
    // per-length aggregate; the dominance test runs on the
    // length-domain-bounded table (a broadcast theta join — bounded
    // by the VALUE DOMAIN of n_chars, not the corpus), then one
    // equi-join back. No global-order window anywhere.
    Query("q_x_pareto", (s, d) => {
      val docs = table(s, d, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      val perLen = docs.groupBy(col("n_chars")).agg(max(col("quality")).as("qmax"))
      val shorter = perLen.select(col("n_chars").as("len2"), col("qmax").as("q2"))
      val m1 = perLen.join(broadcast(shorter), col("len2") < col("n_chars"), "left")
        .groupBy(col("n_chars"), col("qmax")).agg(max(col("q2")).as("m1"))
      docs.join(m1, Seq("n_chars"))
        .filter(col("quality") === col("qmax") &&
          (col("m1").isNull || col("m1") < col("quality")))
        .select(col("doc_id"), col("n_chars"), col("quality"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (
           SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents),
         q AS (SELECT doc_id, n_chars,
                 round(least(1.0, CAST(len(words) AS DOUBLE) / 100.0)
                       * (1.0 - CAST(len(list_intersect(words,
                           ['the','a','of','and','to','in','is','it'])) AS DOUBLE)
                          / CAST(len(words) AS DOUBLE)), 6) AS quality
               FROM w),
         pl AS (SELECT n_chars, max(quality) AS qmax FROM q GROUP BY n_chars),
         m AS (SELECT a.n_chars, a.qmax, max(b.qmax) AS m1
               FROM pl a LEFT JOIN pl b ON b.n_chars < a.n_chars
               GROUP BY a.n_chars, a.qmax)
         SELECT q.doc_id, q.n_chars, q.quality
         FROM q JOIN m ON q.n_chars = m.n_chars
         WHERE q.quality = m.qmax AND (m.m1 IS NULL OR m.m1 < q.quality)
         ORDER BY q.doc_id""")),

    // Fixed-size weighted sampling (Efraimidis–Spirakis A-ES keys):
    // EXACTLY 100 docs with inclusion probability ∝ quality, via
    // key = ln(u)/w with u a deterministic md5 uniform — top-k of a
    // pure doc function, so the sample is reproducible on any
    // cluster AND stable under corpus growth (a new doc displaces at
    // most one incumbent). Complements q_x_weighted_sample (rate-
    // based, size only in expectation). TakeOrderedAndProject top-k —
    // no global sort materializes; keys rounded 9dp pre-rank with
    // doc_id tie-break so float noise can't flip ranks cross-engine.
    Query("q_x_priority_sample", (s, d) => {
      val h = md5(concat(lit("psamp"), col("doc_id").cast("string")))
      val hex = lit("0123456789abcdef")
      def nib(i: Int) = instr(hex, substring(h, i, 1)) - 1
      val bucket = ((nib(1) * 16 + nib(2)) * 16 + nib(3)) * 16 + nib(4)
      val u = (bucket.cast("double") + 0.5) / 65536.0
      table(s, d, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .filter(col("quality") > 0)
        .withColumn("samp_key", round(log(u) / col("quality"), 9))
        .orderBy(col("samp_key").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("quality"), col("samp_key"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (
           SELECT doc_id, lang, string_split(text, ' ') AS words,
                  md5(concat('psamp', CAST(doc_id AS VARCHAR))) AS h
           FROM documents),
         q AS (SELECT doc_id, lang, h,
                 round(least(1.0, CAST(len(words) AS DOUBLE) / 100.0)
                       * (1.0 - CAST(len(list_intersect(words,
                           ['the','a','of','and','to','in','is','it'])) AS DOUBLE)
                          / CAST(len(words) AS DOUBLE)), 6) AS quality
               FROM w),
         k AS (SELECT doc_id, lang, quality,
                 round(ln((((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) + 0.5)
                     / 65536.0) / quality, 9) AS samp_key
               FROM q WHERE quality > 0),
         topk AS (SELECT * FROM k ORDER BY samp_key DESC, doc_id LIMIT 100)
         SELECT doc_id, lang, quality, samp_key FROM topk ORDER BY doc_id""")),

    // Token-distribution quality signals: word entropy
    // H = ln(N) − Σ c·ln(c) / N (one aggregation, no self-join) and
    // distinct-token ratio — the repetition filters of a corpus
    // quality pipeline.
    Query("q_x_entropy", (s, d) => {
      val tf = table(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id")).agg(
          round(log(sum(col("c"))) - sum(col("c") * log(col("c"))) / sum(col("c")), 6)
            .as("entropy"),
          round(count(lit(1)).cast("double") / sum(col("c")), 6).as("distinct_ratio"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2)
         SELECT doc_id,
                round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(c)) / CAST(sum(c) AS DOUBLE), 6) AS entropy,
                round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio
         FROM tf GROUP BY doc_id ORDER BY doc_id""")),

    // Fixed-size token chunking (context-window packing): one output
    // row per 64-token chunk, computed arithmetically from the token
    // count — no per-token explosion.
    Query("q_x_chunks", (s, d) =>
      table(s, d, "documents")
        .withColumn("nt", size(TextFunctions.tokens(col("text"))))
        .withColumn("chunk_idx",
          explode(sequence(lit(0), greatest(lit(0), expr("(nt - 1) div 64")))))
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          (col("chunk_idx") * 64).cast("int").as("tok_start"),
          least(lit(64), col("nt") - col("chunk_idx") * 64).cast("int").as("tok_len"))
        .orderBy(col("doc_id"), col("chunk_idx")), Some(
      """WITH n AS (SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents),
         u AS (SELECT doc_id, nt,
                      unnest(range(0, greatest(1, CAST(ceil(nt / 64.0) AS BIGINT)))) AS i
               FROM n)
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
                CAST(i * 64 AS INTEGER) AS tok_start,
                CAST(least(64, nt - i * 64) AS INTEGER) AS tok_len
         FROM u ORDER BY doc_id, chunk_idx""")),

    // Inverted-index build (the artifact q_x_search would query at
    // scale): term → sorted posting list + document frequency, kept to
    // terms in ≥ 20% of the corpus (integer-exact df·5 ≥ N against a
    // broadcast 1-row count — no fixed absolute cutoff that breaks at
    // other SFs). One explode + one distinct + one aggregate; posting
    // lists are per-TERM arrays, bounded by df, never corpus-sized
    // rows. Emitted comma-joined (both engines) so the driver's pandas
    // sort/hash sees a flat string, not an unhashable array cell.
    Query("q_x_postings", (s, d) => {
      val docs = table(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tok = docs
        .select(explode(TextFunctions.tokens(col("text"))).as("term"), col("doc_id"))
        .distinct()
      tok.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("postings"))
        .crossJoin(broadcast(n))
        .filter(col("df") * 5 >= col("n_docs"))
        .select(col("term"), col("df"), array_join(col("postings"), ",").as("postings"))
        .orderBy(col("term"))
    }, Some(
      """WITH tok AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term, doc_id
                      FROM documents),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT term, count(*) AS df,
                array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         FROM tok, n GROUP BY term, n_docs
         HAVING count(*) * 5 >= n_docs ORDER BY term""")),

    // Percentile-threshold quality gating — how a real cleaning
    // pipeline picks its cutoff: keep docs at or above the corpus P25
    // of the quality score (exact percentile, linear interpolation —
    // same definition as DuckDB quantile_cont), report survivors per
    // lang. The 1-row threshold broadcasts; the corpus never sorts
    // globally (percentile is a single aggregate).
    Query("q_x_quality_gate", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("lang"), TextFunctions.qualityScore(col("text")).as("q"))
      val thr = docs.agg(expr("percentile(q, 0.25)").as("thr"))
      docs.crossJoin(broadcast(thr))
        .filter(col("q") >= col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), round(avg(col("q")), 6).as("avg_quality"))
        .orderBy(col("lang"))
    }, Some(
      """WITH g AS (SELECT doc_id, lang,
                  len(string_split(text, ' ')) AS nw,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to','in','is','it'])) AS hits
           FROM documents),
         q AS (SELECT doc_id, lang,
                 round(least(1.0, CAST(nw AS DOUBLE) / 100.0)
                       * (1.0 - CAST(hits AS DOUBLE) / CAST(nw AS DOUBLE)), 6) AS q
               FROM g),
         t AS (SELECT quantile_cont(q, 0.25) AS thr FROM q)
         SELECT lang, count(*) AS n_kept, round(avg(q), 6) AS avg_quality
         FROM q, t WHERE q.q >= t.thr GROUP BY lang ORDER BY lang""")),

    // Declarative data-quality expectations (Deequ-style): seven
    // constraints over the documents corpus, ALL evaluated in one
    // aggregation pass (operators.Expectations). One check
    // (n_chars_min >= 100) fails by design on the fixture (min is
    // 48), so the report exercises both verdicts — a gate that can
    // only ever print "passed" verifies nothing.
    Query("q_x_expectations", (s, d) => {
      import graft.operators.Expectations._
      report(table(s, d, "documents"), Seq(
        neverNull("text"),
        unique("doc_id"),
        minAtLeast("n_chars", 100),
        maxAtMost("n_chars", 1000),
        inSet("lang", Seq("en", "de", "es", "fr", "zh")),
        distinctAtMost("source", 64),
        fractionWhere("n_chars_consistent", length(col("text")) === col("n_chars"), "==", 1.0)))
    }, Some(
      """WITH m AS (SELECT
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m_nn,
           CAST(count(*) - count(DISTINCT doc_id) AS DOUBLE) AS m_uq,
           CAST(min(n_chars) AS DOUBLE) AS m_min,
           CAST(max(n_chars) AS DOUBLE) AS m_max,
           CAST(sum(CASE WHEN lang IN ('en','de','es','fr','zh') THEN 0 ELSE 1 END) AS DOUBLE) AS m_set,
           CAST(count(DISTINCT source) AS DOUBLE) AS m_card,
           avg(CASE WHEN length(text) = n_chars THEN 1.0 ELSE 0.0 END) AS m_cons
         FROM documents)
         SELECT * FROM (
           SELECT 'text_never_null' AS check_name, round(m_nn, 6) AS metric, '==' AS op, CAST(0.0 AS DOUBLE) AS threshold, m_nn = 0.0 AS passed FROM m
           UNION ALL SELECT 'doc_id_unique', round(m_uq, 6), '==', CAST(0.0 AS DOUBLE), m_uq = 0.0 FROM m
           UNION ALL SELECT 'n_chars_min', round(m_min, 6), '>=', CAST(100.0 AS DOUBLE), m_min >= 100.0 FROM m
           UNION ALL SELECT 'n_chars_max', round(m_max, 6), '<=', CAST(1000.0 AS DOUBLE), m_max <= 1000.0 FROM m
           UNION ALL SELECT 'lang_in_set', round(m_set, 6), '==', CAST(0.0 AS DOUBLE), m_set = 0.0 FROM m
           UNION ALL SELECT 'source_cardinality', round(m_card, 6), '<=', CAST(64.0 AS DOUBLE), m_card <= 64.0 FROM m
           UNION ALL SELECT 'n_chars_consistent', round(m_cons, 6), '==', CAST(1.0 AS DOUBLE), m_cons = 1.0 FROM m
         ) ORDER BY check_name""")),

    // Vocabulary build + OOV audit: top-1000 tokens by corpus
    // frequency (deterministic tie-break on the token) become the
    // vocab; per doc, the fraction of tokens outside it. The
    // tokenizer-prep primitive for a training pipeline: OOV rate is
    // the signal that a vocab/tokenizer no longer fits a corpus
    // slice. 100 TB shape: token counts shuffle once with map-side
    // combine, the vocab cut is TakeOrderedAndProject (per-partition
    // top-k, k-row merge — no global sort), and the audit join
    // BROADCASTS the 1000-row vocab, so the corpus never shuffles for
    // it; the token explode is recomputed for the audit pass rather
    // than materialized (two cheap scans beat caching a corpus-sized
    // explode).
    Query("q_x_vocab_oov", (s, d) => {
      val tok = table(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(1000)
        .select(col("tok"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1).otherwise(0)).as("n_oov"))
        .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         v AS (SELECT tok FROM t GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 1000)
         SELECT t.doc_id,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
         FROM t LEFT JOIN v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // Distributed BPE tokenizer training — the vocabulary-learning
    // step of an LLM pipeline (Sennrich-style merges). One corpus
    // pass builds the word-frequency table; the 24 merge rounds then
    // run on the driver over that vocabulary-sized table (operators.Bpe
    // scaladoc has the scale shape and its driver-memory limit).
    // Deterministic on any partitioning: pair argmax tie-breaks
    // (count desc, pair asc). No-oracle by design — the iterative
    // argmax is not SQL-expressible; BpeSpec asserts exact merge-list
    // equality vs an independent single-node reference plus
    // partitioning invariance. Training runs its one job at build
    // (the word-table collect), so bench and correctness both measure
    // the true training cost rather than a cached replay.
    Query("q_x_bpe", (s, d) => {
      import s.implicits._
      val merges = graft.operators.Bpe.trainMerges(table(s, d, "documents"), "text", 24)
      // publish to the memo (write-through; no-op when graft.Memo is
      // off): q_x_bpe_encode's 16-merge request is a PREFIX of this
      // 24-merge list, so it never needs to re-train
      graft.operators.Bpe.storeMerges(s, d, "text", 24, merges)
      merges
        .toDF()
        .select(col("rank"), col("left"), col("right"), col("freq"))
        .orderBy(col("rank"))
    }, None),

    // Tokenizer APPLY at corpus scale: train 16 BPE merges, then
    // encode and report per-lang fertility (subtokens/word) and
    // compression (chars/subtoken) — the dials a tokenizer is judged
    // by. The encode loop runs once per DISTINCT word (vocab-sized),
    // joined back to (lang, word, n_occ) counts — both join sides
    // vocabulary-scale, no broadcast-size assumption. No-oracle by
    // design (depends on the learned merges); BpeSpec pins the stats
    // to hand-computed values on a tiny corpus.
    Query("q_x_bpe_encode", (s, d) => {
      val docs = table(s, d, "documents")
      // merges are an INPUT artifact here (the query's output is the
      // encode stats) — served from graft.Memo, which q_x_bpe's
      // 24-merge training already covers by prefix (Bpe.trainedMerges
      // scaladoc; BpeSpec pins the prefix property). Memo off
      // (Verify/specs): trains fresh.
      val merges = graft.operators.Bpe.trainedMerges(s, d, "text", 16)
      graft.operators.Bpe.encodeStats(docs, "text", "lang", merges)
    }, None),

    // Keyword search with tf ranking — the ts_rank-style full-text
    // surface of the reference's ad-hoc PG SQL (README.md:62-78),
    // engine-shaped: explode → term filter (pushes into the scan of a
    // token-indexed layout at scale) → per-doc score → global top-k.
    Query("q_x_search", (s, d) => {
      val terms = Seq("data", "model", "training", "learning")
      table(s, d, "documents")
        // cheap containment gate BEFORE the explode: docs with no hit
        // never produce token rows (at scale this is the pushdown-able
        // prefilter over the raw column)
        .filter(col("text").rlike(terms.mkString("\\b(", "|", ")\\b")))
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("score"), countDistinct(col("w")).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }, Some(
      """SELECT doc_id, count(*) AS score, count(DISTINCT w) AS n_terms
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w IN ('data', 'model', 'training', 'learning')
         GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""")),

    // Fuzzy-match blocking + edit distance — the entity-resolution
    // primitive of a dedup pipeline: block candidates on a CONTENT key
    // (name prefix — the production pattern; a phonetic key is the
    // same shape), equi-join within blocks, then verify with
    // levenshtein ≤ k. Never all-pairs, and nothing exploits id
    // adjacency: block membership and the verify both read only the
    // name. Block size is bounded by the key's selectivity (≤100 here
    // — two free trailing chars), not corpus size, so the within-block
    // pair count stays linear in rows at any SF; the verify genuinely
    // prunes (dist≤1 keeps ~18 of 99 neighbors per name).
    Query("q_x_fuzzy", (s, d) => {
      val c = table(s, d, "customer")
        .select(col("c_custkey"), col("c_name"),
          substring(col("c_name"), 1, 16).as("blk"))
      val a = c.select(col("blk"), col("c_custkey").as("id_a"), col("c_name").as("name_a"))
        // explicit width (operators.VerifyWidth): the levenshtein
        // verify runs fused into the broadcast join's STREAM side,
        // i.e. at the scan's byte-based parallelism — one task per
        // small file with every other core idle. Unique id_a spreads
        // the kernel evenly; the broadcast join needs no
        // co-partitioning.
        .repartition(graft.operators.VerifyWidth.of(c), col("id_a"))
      val b = c.select(col("blk"), col("c_custkey").as("id_b"), col("c_name").as("name_b"))
      a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 1)
        .select(col("id_a"), col("id_b"), col("dist"))
        .orderBy(col("id_a"), col("id_b"))
    }, Some(
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
         FROM customer a JOIN customer b
           ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
          AND a.c_custkey < b.c_custkey
         WHERE levenshtein(a.c_name, b.c_name) <= 1
         ORDER BY id_a, id_b""")),

    // End-to-end cleaning pipeline (operators.TrainingPipeline):
    // quality gate → exact dedup (keep-min) → deterministic 50%
    // sample → split assignment, reported per (split, lang). One
    // shuffle (dedup by content hash); every decision a pure function
    // of (content, id, salt).
    Query("q_x_pipeline", (s, d) => {
      val cleaned = graft.operators.TrainingPipeline
        .clean(table(s, d, "documents"), "text", "doc_id")
      cleaned
        .withColumn("nw", size(TextFunctions.tokens(col("text"))))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nw").cast("long")).as("total_words"))
        .orderBy(col("split"), col("lang"))
    }, Some(
      """WITH g AS (
           SELECT doc_id, text, lang,
                  len(string_split(text, ' ')) AS nw,
                  len(list_intersect(string_split(text, ' '),
                      ['the','a','of','and','to','in','is','it'])) AS hits
           FROM documents),
         q AS (SELECT * FROM g
               WHERE nw >= 20 AND CAST(hits AS DOUBLE) / CAST(nw AS DOUBLE) < 0.5),
         d AS (SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
               FROM q),
         s AS (SELECT * FROM d WHERE rn = 1 AND
               (strpos('0123456789abcdef', substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(concat('graft', CAST(doc_id AS VARCHAR))), 2, 1)) - 1) < 128),
         t AS (SELECT *, CASE WHEN doc_id % 10 < 8 THEN 'train'
                              WHEN doc_id % 10 < 9 THEN 'val'
                              ELSE 'test' END AS split
               FROM s)
         SELECT split, lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS total_words
         FROM t GROUP BY split, lang ORDER BY split, lang""")),

    // Time-grid resampling with linear interpolation — the feature
    // store / sensor-pipeline primitive the reference's weather series
    // implies: per event_type, value at every point of a fixed hourly
    // spine, interpolated between the surrounding events. Union the
    // spine into the stream, then ONE partitioned window pass each
    // way (last/first ignoreNulls) — no per-grid-point join, no
    // range-join blowup; spine rows ride the same (type) partitioning
    // as the data. Exact-integer µs arithmetic inside the ratio; the
    // only float ops are the final interpolation. Grid points outside
    // the data range yield null (no extrapolation).
    Query("q_x_resample", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val ev = table(s, d, "events")
        .select(col("event_type"), col("ts"), col("value"), col("event_id"))
      val spine = ev.select(col("event_type")).distinct()
        .select(col("event_type"), explode(expr(
          "sequence(timestamp'2024-01-01 00:00:00', timestamp'2024-01-30 23:00:00', interval 1 hour)")).as("ts"))
      val u = ev
        // ets rides WITH the value (null when value is null) so the
        // interpolation anchor can never come from a different event
        // than the value it is paired with
        .select(col("event_type"), col("ts"),
          when(col("value").isNotNull, col("ts")).as("ets"),
          col("value"), lit(0).as("isg"), col("event_id"))
        .unionByName(spine.select(col("event_type"), col("ts"),
          lit(null).cast("timestamp").as("ets"), lit(null).cast("double").as("value"),
          lit(1).as("isg"), lit(Long.MaxValue).as("event_id")))
      val wp = w.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("isg"), col("event_id"))
        .rowsBetween(w.unboundedPreceding, w.currentRow)
      // next-value pass as last-over-DESC-prefix, NOT
      // [currentRow, unboundedFollowing]: Spark's unbounded-following
      // frame re-scans to partition end per row (O(m²) per type);
      // the reversed prefix frame is incremental O(m) and row-set
      // identical (same total order, reversed)
      val wn = w.partitionBy(col("event_type"))
        .orderBy(col("ts").desc, col("isg").desc, col("event_id").desc)
        .rowsBetween(w.unboundedPreceding, w.currentRow)
      u.withColumn("pv", last(col("value"), ignoreNulls = true).over(wp))
        .withColumn("pt", last(col("ets"), ignoreNulls = true).over(wp))
        .withColumn("nv", last(col("value"), ignoreNulls = true).over(wn))
        .withColumn("nt", last(col("ets"), ignoreNulls = true).over(wn))
        .filter(col("isg") === 1)
        .select(col("event_type"), col("ts"),
          round(col("pv") + (col("nv") - col("pv")) *
            ((unix_micros(col("ts")) - unix_micros(col("pt"))).cast("double") /
             (unix_micros(col("nt")) - unix_micros(col("pt")))), 6).as("v_interp"))
        .orderBy(col("event_type"), col("ts"))
    }, Some(
      """WITH ev AS (SELECT event_type, ts, value, event_id FROM events),
         spine AS (
           SELECT t.event_type, g.ts
           FROM (SELECT DISTINCT event_type FROM ev) t,
                (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                        TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS ts) g),
         u AS (
           SELECT event_type, ts, CASE WHEN value IS NOT NULL THEN ts END AS ets,
                  value, 0 AS isg, event_id FROM ev
           UNION ALL
           SELECT event_type, ts, NULL, NULL, 1, 9223372036854775807 FROM spine),
         w AS (
           SELECT event_type, ts, isg,
                  last_value(value IGNORE NULLS) OVER wp AS pv,
                  last_value(ets IGNORE NULLS) OVER wp AS pt,
                  first_value(value IGNORE NULLS) OVER wn AS nv,
                  first_value(ets IGNORE NULLS) OVER wn AS nt
           FROM u
           WINDOW wp AS (PARTITION BY event_type ORDER BY ts, isg, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wn AS (PARTITION BY event_type ORDER BY ts, isg, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT event_type, ts,
                round(pv + (nv - pv) * (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE)
                      / (epoch_us(nt) - epoch_us(pt))), 6) AS v_interp
         FROM w WHERE isg = 1
         ORDER BY event_type, ts""")),

    // Content-defined chunking — see operators.Chunking (the boundary
    // rule lives there, shared with CdcChunkingSpec's edit-locality
    // property test).
    Query("q_x_cdc_chunks", (s, d) =>
      graft.operators.Chunking
        .cdcChunks(table(s, d, "documents"), "text", "doc_id", n = 3)
        .orderBy(col("doc_id"), col("chunk_idx")), Some(
      """WITH wds AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                      array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS g
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
                     FROM wds WHERE len(ws) >= 3)),
         c AS (SELECT doc_id, pos,
                      CAST(sum(CASE WHEN substr(md5(g), 1, 1) = '0' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS chunk_idx
               FROM g)
         SELECT doc_id, chunk_idx, CAST(min(pos) AS INTEGER) AS start_pos, count(*) AS n_grams
         FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_idx""")),

    // Single-pass heavy hitters via the native Misra–Gries aggregate
    // (graft_freq_items TIA): k counters regardless of input size,
    // map-side partial aggregation ships ONE k-sized summary per
    // partition — the 100 TB answer when the distinct-term cardinality
    // itself is too big to shuffle (q_x_top_terms is the exact form).
    // Output carries its own error bound: true ∈ [est, est+err], and
    // every term with true count > err is guaranteed present.
    // Approximate by design → no oracle; FreqItemsSpec asserts the
    // bounds against exact counts (precedent: q_agg_approx).
    Query("q_x_heavy_hitters", (s, d) =>
      table(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .agg(call_function("graft_freq_items", col("w"), lit(50)).as("sk"))
        .select(explode(col("sk.terms")).as("t"), col("sk.err").as("err"),
          col("sk.n").as("n_tokens"))
        .select(col("t.term").as("term"), col("t.est").as("est"),
          col("err"), col("n_tokens"))
        .orderBy(col("est").desc, col("term")), None),

    // Johnson–Lindenstrauss random projection 64→16 — the standard
    // dimensionality reduction in front of ANN/clustering. Sign
    // matrix deterministic (md5 of "i_j"), baked into the plan as
    // literals: map-only, zero shuffle, each coordinate one codegen'd
    // graft_dot. Long form (vec_id, j, p) for the oracle.
    Query("q_x_rand_proj", (s, d) =>
      graft.operators.Projection.randomProject(
          table(s, d, "embeddings"), "embedding", "vec_id", dIn = 64, dOut = 16)
        .orderBy(col("vec_id"), col("j")), Some(
      """WITH sm AS (
           SELECT j.j AS j, list(CASE WHEN substr(md5(concat(i.i, '_', j.j)), 1, 1) < '8'
                                      THEN 1.0 ELSE -1.0 END ORDER BY i.i) AS sj
           FROM (SELECT unnest(range(0, 64)) AS i) i, (SELECT unnest(range(0, 16)) AS j) j
           GROUP BY j.j)
         SELECT e.vec_id, CAST(sm.j AS INTEGER) AS j,
                round(list_sum(list_transform(range(1, 65),
                        i -> CAST(e.embedding[i] AS DOUBLE) * sm.sj[i])) * 0.25, 6) AS p
         FROM embeddings e CROSS JOIN sm
         ORDER BY e.vec_id, j""")),

    // BM25 top-k retrieval — the ranking function actual search /
    // data-curation retrieval uses (Robertson k1=1.2, b=0.75; Lucene
    // idf = ln(1 + (N−df+.5)/(df+.5)), never negative). Upgrade of
    // q_x_search's raw hit count and q_x_tfidf's tf·idf. Plan shape:
    // rlike containment gate BEFORE the explode (pushdown-able
    // prefilter; semantically a no-op superset), tf/df from one
    // aggregation family, df (≤|terms| rows) and the corpus stats
    // (1 row) broadcast — the corpus never shuffles for them. avgdl is
    // computed as exact-integer sum(dl)/N so the only float ops are
    // the final per-term formula + ln, deterministic under round(·,6).
    Query("q_x_bm25", (s, d) => {
      val terms = Seq("data", "join", "vector", "stream")
      val (k1, b) = (1.2, 0.75)
      val docs = table(s, d, "documents")
      val dl = docs.select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("dl"))
      val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
      val tf = docs
        .filter(col("text").rlike(terms.mkString("\\b(", "|", ")\\b")))
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val avgdl = col("sum_dl").cast("double") / col("n_docs")
      val idf = log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      val contrib = idf * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
      tf.join(broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(round(sum(contrib), 6).as("bm25"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }, Some(
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
         stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl, count(*) AS n_docs FROM dl),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
                WHERE w IN ('data', 'join', 'vector', 'stream') GROUP BY 1, 2),
         df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1)
         SELECT t.doc_id,
                round(sum(ln(1.0 + (n_docs - d.df + 0.5) / (d.df + 0.5))
                          * (t.tf * 2.2)
                          / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (CAST(sum_dl AS DOUBLE) / n_docs)))), 6) AS bm25,
                count(*) AS n_terms
         FROM tf t JOIN df d USING (w) JOIN dl l USING (doc_id) CROSS JOIN stats
         GROUP BY t.doc_id
         ORDER BY bm25 DESC, t.doc_id LIMIT 20""")),

    // Char-trigram LM scoring (CCNet-style quality signal without a
    // shipped model): train the unigram-of-trigrams LM on the corpus
    // itself (counts + total), score each doc by its cross-entropy
    // under that LM — boilerplate/random-noise docs score far from
    // the corpus mean. TF-IDF plan family: explode trigrams once
    // (lazy-checkpointed — the count aggregate AND the score join both
    // read it), one count aggregate, one join back on the gram key; no
    // self-join. At 100 TB the gram-count table is the shippable model
    // artifact — scoring new data is one broadcast-or-shuffle join.
    Query("q_x_lm_score", (s, d) => {
      val grams = table(s, d, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.charNgramsExpr("text", 3)).as("g"))
        .cut()
      val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      val total = grams.agg(count(lit(1)).as("tot"))
      grams.join(counts, "g")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(
          round(sum(log(col("tot").cast("double") / col("c"))) /
            count(lit(1)), 6).as("xent"),
          count(lit(1)).as("n_grams"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH g AS (
           SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS g
           FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i FROM documents)),
         c AS (SELECT g, count(*) AS c FROM g GROUP BY 1),
         tot AS (SELECT count(*) AS tot FROM g)
         SELECT doc_id,
                round(sum(ln(CAST(tot AS DOUBLE) / c.c)) / count(*), 6) AS xent,
                count(*) AS n_grams
         FROM g JOIN c USING (g) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""")),

    // The same n-gram stream as q_x_ngrams, produced by the custom
    // Catalyst GENERATOR (graft_explode_ngrams — the §2.9 UDTF
    // surface): grams stream one row at a time from inside
    // GenerateExec instead of materializing the whole per-doc array
    // before the unnest — peak per-row memory is one gram, the shape
    // that survives the long-document tail at 100 TB. Row-for-row
    // interchangeable with the array form (spec-asserted), same
    // oracle.
    Query("q_x_ngrams_gen", (s, d) =>
      table(s, d, "documents").filter(col("doc_id") % 50 === 0)
        .selectExpr("doc_id", "graft_explode_ngrams(text, 3)")
        .orderBy(col("doc_id"), col("pos")), Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE doc_id % 50 = 0),
         u AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w)
         SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
         FROM u ORDER BY doc_id, pos""")),

    // Bloom-filter membership audit (Spark's runtime-filter bloom
    // expressions — the primitive BloomPrune wields inside joins —
    // surfaced by name as graft_bloom_agg / graft_might_contain):
    // build the filter over the member snapshot's content hashes as a
    // LAZY aggregate in the plan (df.stat.bloomFilter would run a
    // treeAggregate at CONSTRUCTION time — the one eager builder on
    // the board, review finding), broadcast the one-row result, probe
    // EVERY doc, report maybe-rates per true-membership stratum.
    // Bloom bits are an OR of per-item bits — order/partitioning
    // independent, so counts are deterministic; an empty member set
    // yields a NULL filter → might_contain NULL → false. No-oracle
    // (Spark's bloom hashing isn't SQL-reproducible); the spec pins
    // the two contracts that matter: zero false negatives, bounded
    // false-positive rate.
    Query("q_x_bloom", (s, d) => {
      // might_contain requires the filter side to be a constant or a
      // SCALAR SUBQUERY (its analysis rule — so the bloom is built
      // once, not per row); SQL is the natural surface for that shape
      table(s, d, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .createOrReplaceTempView("g_bloom_docs")
      s.sql("""
        WITH member AS (SELECT DISTINCT h FROM g_bloom_docs WHERE doc_id % 3 != 0),
        probes AS (SELECT d.h, m.h IS NOT NULL AS is_member
                   FROM g_bloom_docs d LEFT JOIN member m ON d.h = m.h),
        flags AS (SELECT is_member,
                    COALESCE(graft_might_contain(
                      (SELECT graft_bloom_agg(xxhash64(h), 1000L, 8192L) FROM member),
                      xxhash64(h)), false) AS maybe
                  FROM probes)
        SELECT is_member, count(*) AS n,
               sum(CASE WHEN maybe THEN 1L ELSE 0L END) AS n_maybe,
               round(sum(CASE WHEN maybe THEN 1L ELSE 0L END)
                     / CAST(count(*) AS DOUBLE), 6) AS maybe_rate
        FROM flags GROUP BY is_member ORDER BY is_member""")
    }, None),

    // Count–Min frequency sketch probe: ONE fixed-size mergeable
    // aggregate over the corpus token stream (graft_cms: depth×width
    // counters, linear merge), then distributed point estimates via
    // the graft_cms_query scalar against the broadcast one-row
    // sketch — the bounded-memory "how often does X occur" when
    // distinct-term cardinality itself can't shuffle (point-query
    // cousin of q_x_heavy_hitters' Misra–Gries top-k). No-oracle
    // (Murmur3 buckets aren't SQL-expressible); CmsSpec pins
    // never-undercount, the width error bound, and linearity.
    Query("q_x_cms", (s, d) => {
      import s.implicits._
      val toks = table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
      val sk = toks.agg(call_function("graft_cms", col("t"), lit(4), lit(2048)).as("sk"))
      Seq("data", "join", "vector", "stream").toDF("token")
        .crossJoin(broadcast(sk))
        .select(col("token"),
          call_function("graft_cms_query", col("sk"), col("token"), lit(4), lit(2048)).as("est"))
        .orderBy(col("token"))
    }, None),

    // Community detection on the near-dup graph (deterministic
    // synchronous label propagation): splits a connected component
    // into DENSELY-linked template families — the structure
    // q_x_dup_clusters' transitive closure deliberately ignores.
    // Output is the community-size histogram. No-oracle (iterative,
    // no recursive-CTE form); LpaSpec proves CC-refinement,
    // determinism, and clique/bridge behavior.
    Query("q_x_lpa", (s, d) => {
      val docs = table(s, d, "documents").select(col("doc_id").as("id"))
      val edges = graft.operators.DupGraph.edges(s, d, 0.8)
      graft.operators.Lpa.communities(docs, edges)
        .groupBy(col("community")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
        .orderBy(col("size"))
    }, None),

    // Degree assortativity of the near-dup graph (Newman 2002):
    // Pearson correlation of endpoint degrees over the directed edge
    // list — "do heavily-duplicated docs duplicate EACH OTHER
    // (template farm, r→1) or fan out over singletons (hub spam,
    // r→−1)?" Shapes dedup-keep policy. Edge-grain all the way: one
    // degree aggregate + two joins + one mergeable corr — nothing
    // corpus-sized after the shared DupGraph edges.
    Query("q_x_assortativity", (s, d) => {
      val e = graft.operators.DupGraph.pairs(s, d, 0.8)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      und
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
        .agg(count(lit(1)).as("n_dir_edges"),
          corr(col("du").cast("double"), col("dv").cast("double")).as("c0"))
        // zero degree variance: Spark corr gives NaN, DuckDB NULL —
        // normalize to NULL so the oracle hash can't diverge
        .select(col("n_dir_edges"),
          round(when(isnan(col("c0")), lit(null).cast("double"))
            .otherwise(col("c0")), 6).as("assortativity"))
    }, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         truth AS (SELECT a.doc_id AS u, b.doc_id AS v
                   FROM g a JOIN g b ON a.doc_id < b.doc_id
                   WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                     AND len(list_intersect(a.s, b.s)) * 5
                         >= len(list_distinct(list_concat(a.s, b.s))) * 4),
         und AS (SELECT u, v FROM truth UNION ALL SELECT v, u FROM truth),
         deg AS (SELECT u AS id, count(*) AS deg FROM und GROUP BY u)
         SELECT count(*) AS n_dir_edges,
                round(corr(CAST(du.deg AS DOUBLE), CAST(dv.deg AS DOUBLE)), 6)
                  AS assortativity
         FROM und
         JOIN deg du ON du.id = und.u
         JOIN deg dv ON dv.id = und.v""")),

    // Temporal train/test split with an embargo gap (the financial-ML
    // leakage control): train = events before the cut, test = after
    // cut + embargo, rows inside the embargo quarantined; reports the
    // split sizes AND the cross-boundary leakage surface (users
    // appearing on both sides — the entities whose state could carry
    // information across the cut). One scan + tiny aggregates; the
    // cut is a fixed quantile of the time range computed from min/max
    // only (no percentile over the corpus).
    Query("q_x_temporal_split", (s, d) => {
      val ev = table(s, d, "events")
      // µs-exact boundaries (a seconds cast would floor differently
      // from DuckDB's fractional epoch())
      val mm = ev.agg(min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"))
      val tagged = ev.select(col("user_id"), unix_micros(col("ts")).as("t"))
        .crossJoin(broadcast(mm))
        .withColumn("cut", expr("t0 + ((t1 - t0) * 7) div 10")) // div: Spark `/` on longs is double division
        .withColumn("emb", expr("(t1 - t0) div 20"))
        .withColumn("part",
          when(col("t") < col("cut"), "train")
            .when(col("t") >= col("cut") + col("emb"), "test")
            .otherwise("embargo"))
      val sizes = tagged.groupBy(col("part"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
      val leak = tagged.filter(col("part") === "train")
        .select(col("user_id")).distinct()
        .join(tagged.filter(col("part") === "test")
          .select(col("user_id")).distinct(), "user_id")
        .agg(count(lit(1)).as("n"))
      sizes.crossJoin(broadcast(leak.select(col("n").as("n_spanning_users"))))
        .orderBy(col("part"))
    }, Some(
      """WITH mm AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events),
         tagged AS (SELECT user_id,
                      CASE WHEN epoch_us(ts) < t0 + ((t1 - t0) * 7) // 10 THEN 'train'
                           WHEN epoch_us(ts) >= t0 + ((t1 - t0) * 7) // 10
                                + (t1 - t0) // 20 THEN 'test'
                           ELSE 'embargo' END AS part
                    FROM events CROSS JOIN mm),
         sizes AS (SELECT part, count(*) AS n_rows,
                     count(DISTINCT user_id) AS n_users
                   FROM tagged GROUP BY part),
         leak AS (SELECT count(*) AS n_spanning_users FROM
                    (SELECT DISTINCT user_id FROM tagged WHERE part = 'train') tr
                    JOIN (SELECT DISTINCT user_id FROM tagged WHERE part = 'test') te
                    USING (user_id))
         SELECT part, n_rows, n_users, n_spanning_users
         FROM sizes CROSS JOIN leak ORDER BY part""")),

    // Mutual information between source and length-quartile bucket —
    // the column-dependence audit for feature selection ("does source
    // predict doc length at all?"); the categorical complement of
    // q_x_corr. Exact integer contingency counts until the final
    // log-sum; buckets from fixed 256-char widths (no percentile
    // pass).
    Query("q_x_mi", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), expr("n_chars div 256").as("b"))
      val joint = docs.groupBy(col("source"), col("b")).agg(count(lit(1)).as("nxy"))
      val ms = docs.groupBy(col("source")).agg(count(lit(1)).as("nx"))
      val mb = docs.groupBy(col("b")).agg(count(lit(1)).as("ny"))
      val tot = docs.agg(count(lit(1)).as("nn"))
      joint.join(ms, "source").join(mb, "b").crossJoin(broadcast(tot))
        .agg(round(sum((col("nxy") / col("nn").cast("double"))
          * log((col("nxy") * col("nn")).cast("double")
            / (col("nx") * col("ny")))), 6).as("mi_nats"),
          count(lit(1)).as("n_cells"))
    }, Some(
      """WITH d AS (SELECT source, n_chars // 256 AS b FROM documents),
         j AS (SELECT source, b, count(*) AS nxy FROM d GROUP BY 1, 2),
         ms AS (SELECT source, count(*) AS nx FROM d GROUP BY 1),
         mb AS (SELECT b, count(*) AS ny FROM d GROUP BY 1),
         t AS (SELECT count(*) AS nn FROM d)
         SELECT round(sum((nxy / CAST(nn AS DOUBLE))
                  * ln(CAST(nxy * nn AS DOUBLE) / (nx * ny))), 6) AS mi_nats,
                count(*) AS n_cells
         FROM j JOIN ms USING (source) JOIN mb USING (b) CROSS JOIN t""")),

    // Chi-square independence test source × lang with Cramér's V —
    // the classic contingency audit (is language composition uniform
    // across sources?). Expected counts from the margins; exact
    // integers until the per-cell ratio; dof and V reported so the
    // statistic is interpretable without a table lookup.
    Query("q_x_chisq", (s, d) => {
      val docs = table(s, d, "documents").select(col("source"), col("lang"))
      val joint = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      val ms = docs.groupBy(col("source")).agg(count(lit(1)).as("nx"))
      val ml = docs.groupBy(col("lang")).agg(count(lit(1)).as("ny"))
      val tot = docs.agg(count(lit(1)).as("nn"))
      // the full grid (zero cells included — they carry expected mass)
      val grid = ms.crossJoin(broadcast(ml))
        .join(joint, Seq("source", "lang"), "left").na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .withColumn("e", (col("nx") * col("ny")).cast("double") / col("nn"))
      grid
        .agg(round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2"),
          countDistinct(col("source")).as("r"),
          countDistinct(col("lang")).as("c"),
          max(col("nn")).as("nn"))
        .select(col("chi2"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          round(sqrt(col("chi2") / (col("nn")
            * least(col("r") - 1, col("c") - 1))), 6).as("cramers_v"))
    }, Some(
      """WITH d AS (SELECT source, lang FROM documents),
         j AS (SELECT source, lang, count(*) AS o FROM d GROUP BY 1, 2),
         ms AS (SELECT source, count(*) AS nx FROM d GROUP BY 1),
         ml AS (SELECT lang, count(*) AS ny FROM d GROUP BY 1),
         t AS (SELECT count(*) AS nn FROM d),
         grid AS (SELECT ms.source, ml.lang, ms.nx, ml.ny, t.nn,
                    COALESCE(j.o, 0) AS o,
                    CAST(ms.nx * ml.ny AS DOUBLE) / t.nn AS e
                  FROM ms CROSS JOIN ml CROSS JOIN t
                  LEFT JOIN j ON j.source = ms.source AND j.lang = ml.lang),
         ag AS (SELECT round(sum(pow(o - e, 2) / e), 6) AS chi2,
                  count(DISTINCT source) AS r, count(DISTINCT lang) AS c,
                  max(nn) AS nn
                FROM grid)
         SELECT chi2, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
                round(sqrt(chi2 / (nn * least(r - 1, c - 1))), 6) AS cramers_v
         FROM ag""")),

    // Kaplan–Meier survival curve of user lifetime (first → last
    // event, in days), right-censored for users still active in the
    // final 7 days of the corpus window — the churn-analytics
    // standard that naive "average lifetime" gets wrong. Corpus work
    // is ONE per-user aggregate; the KM product runs at duration
    // grain in log domain (exp∘cumsum∘ln, a partitioned... no — a
    // DURATION-grain window keyed by the constant cohort — so the
    // d=n final step is guarded: its factor would be ln(0)). S(t)=0
    // exactly once the at-risk set dies out.
    Query("q_x_survival", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, d, "events")
      val win = ev.agg(max(unix_micros(col("ts"))).as("t_end"))
      // cohort = the user's FIRST event type (acquisition channel) —
      // an analytics-real segmentation AND the windows' partition key
      // (a literal key would constant-fold into an unpartitioned
      // window; PlanShapeSpec caught exactly that)
      val firstType = ev
        .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type").as("cohort"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"), max(unix_micros(col("ts"))).as("t1"))
        .join(firstType, "user_id")
        .crossJoin(broadcast(win))
        .select(col("user_id"), col("cohort"),
          expr("(t1 - t0) div 86400000000").as("dur"),
          (col("t1") >= col("t_end") - lit(7L * 86400000000L)).as("censored"))
      val byDur = users.groupBy(col("cohort"), col("dur"))
        .agg(count(lit(1)).as("n_ending"),
          sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
          sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
      // n_at_risk(t) = cohort users with dur >= t
      val tot = users.groupBy(col("cohort")).agg(count(lit(1)).as("nn"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("dur"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wc = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      byDur.join(broadcast(tot), "cohort")
        .withColumn("n_risk", col("nn") - coalesce(sum(col("n_ending")).over(w), lit(0L)))
        .withColumn("lnf", when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk"))).otherwise(lit(0.0)))
        .withColumn("dead", sum(when(col("d") >= col("n_risk"), 1L).otherwise(0L)).over(wc))
        .select(col("cohort"), col("dur").as("dur_days"), col("n_risk").as("n_at_risk"),
          col("d").as("n_churned"), col("c").as("n_censored"),
          round(when(col("dead") > 0, lit(0.0))
            .otherwise(exp(sum(col("lnf")).over(wc))), 6).as("survival"))
        .orderBy(col("cohort"), col("dur_days"))
    }, Some(
      """WITH win AS (SELECT max(epoch_us(ts)) AS t_end FROM events),
         ft AS (SELECT user_id, event_type AS cohort FROM (
                  SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS rk
                  FROM events) WHERE rk = 1),
         u AS (SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
               FROM events GROUP BY 1),
         uu AS (SELECT u.user_id, ft.cohort, (t1 - t0) // 86400000000 AS dur,
                  (t1 >= t_end - 7 * 86400000000) AS censored
                FROM u JOIN ft USING (user_id) CROSS JOIN win),
         bd AS (SELECT cohort, dur, count(*) AS n_ending,
                  CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
                  CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
                FROM uu GROUP BY 1, 2),
         t AS (SELECT cohort, count(*) AS nn FROM uu GROUP BY cohort),
         r AS (SELECT bd.cohort, bd.dur, bd.d, bd.c,
                 t.nn - COALESCE(sum(bd.n_ending) OVER (PARTITION BY bd.cohort
                   ORDER BY bd.dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
               FROM bd JOIN t USING (cohort)),
         s AS (SELECT cohort, dur, n_risk, d, c,
                 CASE WHEN d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                      ELSE 0.0 END AS lnf,
                 CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS z
               FROM r)
         SELECT cohort, dur AS dur_days, CAST(n_risk AS BIGINT) AS n_at_risk,
                d AS n_churned, c AS n_censored,
                round(CASE WHEN sum(z) OVER wc > 0 THEN 0.0
                           ELSE exp(sum(lnf) OVER wc) END, 6) AS survival
         FROM s WINDOW wc AS (PARTITION BY cohort ORDER BY dur)
         ORDER BY cohort, dur_days""")),

    // Two-proportion A/B test on a deterministic md5 user split:
    // purchase-conversion rate per arm + the pooled z statistic — the
    // product-analytics experiment readout. Exact integer counts
    // until the three final ratios; the md5 split is the repo's
    // reproducible-anywhere assignment (no RNG, re-runnable on any
    // cluster).
    Query("q_x_ab_test", (s, d) => {
      val ev = table(s, d, "events")
      // conversion = a high-value purchase, so rates sit strictly
      // inside (0,1) and the z denominator is live; the degenerate
      // all-or-nothing case still yields NULL z (guard below), never
      // an ANSI divide-by-zero abort
      val arms = ev.select(col("user_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 80, 1L)
          .otherwise(0L)).as("conv"))
        .withColumn("arm",
          when(conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))), 1, 8),
            16, 10).cast("long") % 2 === 0, "A").otherwise("B"))
      val agg = arms.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
      val a = agg.filter(col("arm") === "A")
        .select(col("n").as("n_a"), col("x").as("x_a"))
      val b = agg.filter(col("arm") === "B")
        .select(col("n").as("n_b"), col("x").as("x_b"))
      a.crossJoin(broadcast(b))
        .withColumn("p_a", col("x_a").cast("double") / col("n_a"))
        .withColumn("p_b", col("x_b").cast("double") / col("n_b"))
        .withColumn("p", (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b")))
        .select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
          round(col("p_a"), 6).as("rate_a"), round(col("p_b"), 6).as("rate_b"),
          round(when(col("p") > 0 && col("p") < 1, (col("p_a") - col("p_b"))
            / sqrt(col("p") * (lit(1.0) - col("p"))
              * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))), 6).as("z"))
    }, Some(
      """WITH u AS (SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' AND value > 80
                           THEN 1 ELSE 0 END) AS conv
                FROM events GROUP BY 1),
         arms AS (SELECT CASE WHEN CAST(('0x' || substr(md5('ab:' || user_id), 1, 8))
                                AS BIGINT) % 2 = 0
                              THEN 'A' ELSE 'B' END AS arm, conv
                  FROM u),
         ag AS (SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS x
                FROM arms GROUP BY arm),
         a AS (SELECT n AS n_a, x AS x_a FROM ag WHERE arm = 'A'),
         b AS (SELECT n AS n_b, x AS x_b FROM ag WHERE arm = 'B'),
         j AS (SELECT n_a, n_b, x_a, x_b,
                 CAST(x_a AS DOUBLE) / n_a AS p_a,
                 CAST(x_b AS DOUBLE) / n_b AS p_b,
                 CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS p
               FROM a CROSS JOIN b)
         SELECT n_a, n_b, x_a, x_b,
                round(p_a, 6) AS rate_a, round(p_b, 6) AS rate_b,
                round(CASE WHEN p > 0 AND p < 1 THEN (p_a - p_b) / sqrt(p * (1 - p)
                  * (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)) END, 6) AS z
         FROM j""")),

    // Effective sample size of an importance-weighted corpus (Kish
    // 1965: ESS = (Σw)²/Σw²) per source, weights = doc length — the
    // mixture-design diagnostic that says how much a weighting scheme
    // REALLY shrinks a source ("1M docs at skewed weights may be
    // worth 80k"). Exact integer sums until one final division; one
    // aggregate pass, source-grain output.
    Query("q_x_ess", (s, d) => {
      table(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sw"),
          sum(col("n_chars") * col("n_chars")).as("sw2"))
        .select(col("source"), col("n_docs"),
          round((col("sw") * col("sw")).cast("double") / col("sw2"), 6).as("ess"),
          round((col("sw") * col("sw")).cast("double") / col("sw2")
            / col("n_docs"), 6).as("ess_frac"))
        .orderBy(col("source"))
    }, Some(
      """WITH a AS (SELECT source, count(*) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS sw,
                  CAST(sum(n_chars * n_chars) AS BIGINT) AS sw2
                FROM documents GROUP BY source)
         SELECT source, n_docs,
                round(CAST(sw * sw AS DOUBLE) / sw2, 6) AS ess,
                round(CAST(sw * sw AS DOUBLE) / sw2 / n_docs, 6) AS ess_frac
         FROM a ORDER BY source""")),

    // Zipf tail exponent of the term-frequency distribution
    // (continuous MLE α = 1 + n/Σ ln(f/xmin) over f ≥ xmin — Clauset
    // et al. 2009's estimator in its closed form): the one-number
    // "is this corpus natural-language-shaped" check (natural text
    // sits near α≈2; templated/synthetic corpora drift). Corpus work
    // is one token count; the fit runs on the VOCABULARY-grain tail.
    Query("q_x_zipf", (s, d) => {
      val xmin = 5.0
      val tf = table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("f"))
        .filter(col("f") >= xmin)
      tf.agg(count(lit(1)).as("n_tail_terms"),
          sum(log(col("f") / lit(xmin))).as("lnsum"))
        .select(col("n_tail_terms"),
          // degenerate corpus guard: if every tail term sits exactly at
          // xmin, lnsum = 0 and the MLE is undefined — emit NULL rather
          // than rely on non-ANSI division semantics (DuckDB's double
          // division would produce inf here, a cross-engine divergence)
          when(col("lnsum") > 0,
            round(lit(1.0) + col("n_tail_terms") / col("lnsum"), 6)).as("alpha"))
    }, Some(
      """WITH tf AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         c AS (SELECT t, count(*) AS f FROM tf GROUP BY t HAVING count(*) >= 5)
         SELECT count(*) AS n_tail_terms,
                CASE WHEN sum(ln(f / 5.0)) > 0
                     THEN round(1.0 + count(*) / sum(ln(f / 5.0)), 6) END AS alpha
         FROM c""")),

    // Value-concentration audit per event_type (the 80/20 question):
    // what share of total value comes from users above the exact P80
    // of per-user value — whale-dependence for revenue, hub-dependence
    // for a corpus. NO global ranking window: the threshold is one
    // exact percentile over the user-grain table, broadcast back —
    // the only concentration formulation that scales.
    Query("q_x_concentration", (s, d) => {
      val perUser = table(s, d, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(round(sum(col("value")), 6).as("v"))
      val p80 = perUser.groupBy(col("event_type"))
        .agg(expr("percentile(v, 0.8)").as("p80"))
      perUser.join(broadcast(p80), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("v") > col("p80"), 1L).otherwise(0L)).as("n_top"),
          round(sum(col("v")), 6).as("total_v"),
          round(sum(when(col("v") > col("p80"), col("v")).otherwise(lit(0.0))), 6)
            .as("top_v"))
        .select(col("event_type"), col("n_users"), col("n_top"),
          round(col("top_v") / col("total_v"), 6).as("top_share"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH pu AS (SELECT event_type, user_id, round(sum(value), 6) AS v
                FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, quantile_cont(v, 0.8) AS p80
               FROM pu GROUP BY event_type),
         j AS (SELECT pu.event_type, pu.v, p.p80 FROM pu JOIN p USING (event_type))
         SELECT event_type, count(*) AS n_users,
                CAST(sum(CASE WHEN v > p80 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
                round(round(sum(CASE WHEN v > p80 THEN v ELSE 0.0 END), 6)
                      / round(sum(v), 6), 6) AS top_share
         FROM j GROUP BY event_type ORDER BY event_type""")),

    // Inter-event gap statistics per user, aggregated per event_type:
    // median and P90 of the seconds between a user's consecutive
    // events — the cadence/burstiness audit behind session-timeout
    // and rate-limit tuning. One per-user partitioned lag window →
    // gap rows; exact percentiles on the gap grain.
    Query("q_x_gaps", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = table(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap_s", (unix_micros(col("ts")) - col("prev")).cast("double") / 1e6)
      gaps.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap_s, 0.5)"), 6).as("median_gap_s"),
          round(expr("percentile(gap_s, 0.9)"), 6).as("p90_gap_s"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH g AS (SELECT event_type,
                  (epoch_us(ts) - lag(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id))
                    / CAST(1000000 AS DOUBLE) AS gap_s
                FROM events)
         SELECT event_type, count(*) AS n_gaps,
                round(quantile_cont(gap_s, 0.5), 6) AS median_gap_s,
                round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
         FROM g WHERE gap_s IS NOT NULL
         GROUP BY event_type ORDER BY event_type""")),

    // Batch EWMA (α = 0.2) per (user, event_type) series — the
    // order-dependent recurrence no window composition expresses
    // without (1−α)^-i overflow. Typed-Dataset shape: groupByKey on
    // the SERIES key + mapGroups sequential fold, so per-group memory
    // is one user's events for one type (session-scale, bounded by
    // user activity — never corpus-scale); keys distribute over all
    // executors. The fold order (ts, event_id) and the 0.2·x + 0.8·y
    // arithmetic are bit-identical to the oracle's recursive CTE, so
    // only the final cross-series avg sees float noise (≪ round 6).
    // Batch twin of the streaming EwmaProcessor (EwmaSpec).
    Query("q_x_ewma_batch", (s, d) => {
      import s.implicits._
      val series = table(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"), col("event_id"), col("value"))
        .as[(Long, String, Long, Long, Double)]
      val finals = series.groupByKey(r => (r._1, r._2)).mapGroups {
        (key: (Long, String), it: Iterator[(Long, String, Long, Long, Double)]) =>
          val arr = it.toArray.sortBy(r => (r._3, r._4))
          var e = arr(0)._5
          var i = 1
          while (i < arr.length) { e = 0.2 * arr(i)._5 + 0.8 * e; i += 1 }
          (key._2, e)
      }.toDF("event_type", "ewma")
      finals.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_series"),
          round(avg(col("ewma")), 6).as("avg_final_ewma"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH RECURSIVE o AS (
           SELECT user_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_type, rn, value AS ewma FROM o WHERE rn = 1
           UNION ALL
           SELECT o.user_id, o.event_type, o.rn, 0.2 * o.value + 0.8 * r.ewma
           FROM o JOIN r ON o.user_id = r.user_id
             AND o.event_type = r.event_type AND o.rn = r.rn + 1),
         f AS (
           SELECT event_type, ewma,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY rn DESC) AS rk
           FROM r)
         SELECT event_type, count(*) AS n_series,
                round(avg(ewma), 6) AS avg_final_ewma
         FROM f WHERE rk = 1
         GROUP BY event_type ORDER BY event_type""")),

    // Exact rolling median (order statistic over a trailing 10-row
    // frame per user) — the robust smoother percentile sketches can't
    // replace when the frame is small and exactness matters. The
    // median aggregate runs INSIDE the partitioned window (10-element
    // frames ⇒ O(frame) per row, not O(partition)); output collapses
    // to event_type grain. Both engines interpolate the even-count
    // middle pair identically ((a+b)/2, quantile_cont semantics).
    Query("q_x_rolling_median", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      table(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"), col("value"))
        // Spark blocks median() inside a framed window — build the
        // order statistic from the sorted frame directly (≤10 values).
        // (a+b)/2 on the middle pair == quantile_cont(0.5) exactly.
        .withColumn("fr", array_sort(collect_list(col("value")).over(w)))
        .withColumn("rmed", expr(
          "(element_at(fr, CAST((size(fr)+1)/2 AS INT)) + " +
            "element_at(fr, CAST(size(fr)/2+1 AS INT))) / 2.0"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("rmed")), 6).as("avg_rolling_median"),
          round(max(col("rmed")), 6).as("max_rolling_median"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH rm AS (
           SELECT event_type,
                  median(value) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS rmed
           FROM events)
         SELECT event_type, count(*) AS n,
                round(avg(rmed), 6) AS avg_rolling_median,
                round(max(rmed), 6) AS max_rolling_median
         FROM rm GROUP BY event_type ORDER BY event_type""")),

    // Quantile normalization of a per-doc statistic across sources
    // (the batch-effect corrector of multi-source corpus assembly):
    // rank within source → decile bucket → per-(source, decile) mean →
    // normalized target = cross-source mean of decile means. One
    // window per source partition + decile-grain aggregates — the
    // decile table is 10 × n_sources rows regardless of corpus size.
    Query("q_x_quantile_norm", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wr = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      val ranked = table(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("decile", expr("((rn - 1) * 10) div n_s"))
      val grp = ranked.groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"), avg(col("n_chars")).as("mean_raw"))
      grp
        .withColumn("norm",
          round(avg(col("mean_raw")).over(Window.partitionBy(col("decile"))), 6))
        .select(col("source"), col("decile"), col("n_docs"),
          round(col("mean_raw"), 6).as("mean_raw"), col("norm"))
        .orderBy(col("source"), col("decile"))
    }, Some(
      """WITH r AS (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS rn,
                  count(*) OVER (PARTITION BY source) AS n_s
           FROM documents),
         g AS (
           SELECT source, ((rn - 1) * 10) // n_s AS decile,
                  count(*) AS n_docs, avg(n_chars) AS mean_raw
           FROM r GROUP BY source, ((rn - 1) * 10) // n_s)
         SELECT source, decile, n_docs, round(mean_raw, 6) AS mean_raw,
                round(avg(mean_raw) OVER (PARTITION BY decile), 6) AS norm
         FROM g ORDER BY source, decile""")),

    // Burstiness audit: Fano factor (var/mean of per-user-per-day
    // event counts) per event_type — dispersion > 1 means bursty
    // arrivals, < 1 means pacing; the drift signal rate-limit and
    // bot-detection thresholds key on. Two aggregations, cell grain
    // then type grain; nothing corpus-sized crosses the shuffle.
    Query("q_x_burstiness", (s, d) => {
      val cells = table(s, d, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      // n, Σc, Σc² stay exact longs; mean and Fano are each ONE final
      // double expression identical on both engines (var_pop/avg have
      // engine-specific float accumulation orders — the integer-moment
      // identity fano = (n·Σc² − (Σc)²)/(n·Σc) sidesteps that).
      cells.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("qc"))
        .select(col("event_type"), col("n_cells"),
          round(col("sc").cast("double") / col("n_cells"), 6).as("mean_c"),
          round((col("n_cells").cast("double") * col("qc") -
            col("sc").cast("double") * col("sc")) /
            (col("n_cells").cast("double") * col("sc")), 6).as("fano"))
        .orderBy(col("event_type"))
    }, Some(
      """WITH c AS (
           SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY user_id, CAST(ts AS DATE), event_type),
         a AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells,
                  CAST(sum(c) AS BIGINT) AS sc,
                  CAST(sum(c * c) AS BIGINT) AS qc
           FROM c GROUP BY event_type)
         SELECT event_type, n_cells,
                round(CAST(sc AS DOUBLE) / n_cells, 6) AS mean_c,
                round((CAST(n_cells AS DOUBLE) * qc - CAST(sc AS DOUBLE) * sc) /
                      (CAST(n_cells AS DOUBLE) * sc), 6) AS fano
         FROM a ORDER BY event_type""")),

    // Multiclass confusion audit: a deterministic argmax "classifier"
    // (first-max over embedding dims 1..10) against the stored label —
    // per-class tp / precision / recall / F1 from pure integer counts
    // (F1 = 2·tp/(n_pred+n_actual), no intermediate float ratios), so
    // both engines divide identical integers. Two class-grain
    // aggregates; nothing corpus-sized crosses the shuffle.
    Query("q_x_confusion", (s, d) => {
      val sliced = slice(col("embedding"), 1, 10)
      val scored = table(s, d, "embeddings")
        .select(col("label").cast("int").as("actual"),
          (array_position(sliced, array_max(sliced)) - 1).cast("int").as("pred"))
      val byActual = scored.groupBy(col("actual"))
        .agg(count(lit(1)).as("n_actual"),
          sum(when(col("pred") === col("actual"), 1L).otherwise(0L)).as("tp"))
      val byPred = scored.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
      byActual.join(byPred, col("actual") === col("pred"), "left")
        .na.fill(0L, Seq("n_pred"))
        .select(col("actual").as("label"), col("n_actual"), col("n_pred"), col("tp"),
          round(when(col("n_pred") > 0, col("tp") / col("n_pred")), 6).as("prec"),
          round(col("tp") / col("n_actual"), 6).as("recall"),
          round(lit(2.0) * col("tp") / (col("n_pred") + col("n_actual")), 6).as("f1"))
        .orderBy(col("label"))
    }, Some(
      """WITH s AS (
           SELECT CAST(label AS INTEGER) AS actual,
                  CAST(list_position(embedding[1:10],
                         list_max(embedding[1:10])) - 1 AS INTEGER) AS pred
           FROM embeddings),
         a AS (SELECT actual, CAST(count(*) AS BIGINT) AS n_actual,
                 CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT) AS tp
               FROM s GROUP BY actual),
         p AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred FROM s GROUP BY pred)
         SELECT actual AS label, n_actual,
                coalesce(n_pred, 0) AS n_pred, tp,
                CASE WHEN coalesce(n_pred, 0) > 0 THEN round(tp / n_pred, 6) END AS prec,
                round(tp / n_actual, 6) AS recall,
                round(2.0 * tp / (coalesce(n_pred, 0) + n_actual), 6) AS f1
         FROM a LEFT JOIN p ON actual = pred
         ORDER BY label""")),

    // Cohen's kappa of the same argmax classifier vs the label — the
    // chance-corrected agreement statistic of annotation QA. po, pe,
    // and kappa all derive from integer marginals (Σ na·np stays in
    // exact longs until one final division), so the doubles agree
    // bit-for-bit pre-round.
    Query("q_x_kappa", (s, d) => {
      val sliced = slice(col("embedding"), 1, 10)
      val scored = table(s, d, "embeddings")
        .select(col("label").cast("int").as("actual"),
          (array_position(sliced, array_max(sliced)) - 1).cast("int").as("pred"))
      val byA = scored.groupBy(col("actual")).agg(count(lit(1)).as("na"))
      val byP = scored.groupBy(col("pred")).agg(count(lit(1)).as("np"))
      val peNum = byA.join(byP, col("actual") === col("pred"), "full")
        .select(coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("np"), lit(0L)).as("np"))
        .agg(sum(col("na") * col("np")).as("pe_num"))
      val st = scored.agg(count(lit(1)).as("n"),
        sum(when(col("actual") === col("pred"), 1L).otherwise(0L)).as("diag"))
      st.crossJoin(peNum).select(col("n"),
        round(col("diag") / col("n"), 6).as("po"),
        round(col("pe_num") / (col("n") * col("n")), 6).as("pe"),
        round((col("diag") / col("n") - col("pe_num") / (col("n") * col("n"))) /
          (lit(1.0) - col("pe_num") / (col("n") * col("n"))), 6).as("kappa"))
    }, Some(
      """WITH s AS (
           SELECT CAST(label AS INTEGER) AS actual,
                  CAST(list_position(embedding[1:10],
                         list_max(embedding[1:10])) - 1 AS INTEGER) AS pred
           FROM embeddings),
         a AS (SELECT actual AS cls, CAST(count(*) AS BIGINT) AS na FROM s GROUP BY actual),
         p AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS np FROM s GROUP BY pred),
         j AS (SELECT coalesce(na, 0) AS na, coalesce(np, 0) AS np
               FROM a FULL JOIN p USING (cls)),
         pe AS (SELECT CAST(sum(na * np) AS BIGINT) AS pe_num FROM j),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) AS BIGINT) AS diag
                FROM s)
         SELECT n, round(diag / n, 6) AS po,
                round(pe_num / (n * n), 6) AS pe,
                round((diag / n - pe_num / (n * n)) / (1.0 - pe_num / (n * n)), 6) AS kappa
         FROM st CROSS JOIN pe""")),

    // ---- statistical audits (model-eval / data-quality statistics) ----

    // One-vs-rest ROC-AUC per label over a deterministic score
    // (embedding dim 1) — the eval primitive for "does this signal
    // separate class ℓ from the rest". Computed on the shared
    // one-vs-pooled grid (SampleTests.pooledGrid) over per-(label,
    // rounded score) counts, never a corpus-wide rank window: AUC =
    // Σ_s [npos(s)·negBelow(s) + ½npos(s)nneg(s)] / (P·N), the
    // tie-aware Mann–Whitney identity, with negBelow = below − cbelow.
    // The numerator is kept ×2 in exact integers until ONE final
    // division, so both engines agree bit-for-bit pre-round. At 100 TB
    // the score grain (rounded 6dp) is bounded by score range × 10⁶,
    // not corpus size.
    Query("q_x_auc", (s, d) =>
      SampleTests.pooledGrid(table(s, d, "embeddings")
          .groupBy(col("label").as("g"),
            round(element_at(col("embedding"), 1).cast("double"), 6).as("v"))
          .agg(count(lit(1)).as("cnt")))
        .groupBy(col("g").as("label"))
        .agg(
          sum(lit(2L) * col("cnt") * (col("below") - col("cbelow")) +
            col("cnt") * (col("tot") - col("cnt"))).as("num2"),
          sum(col("cnt")).as("p"), sum(col("tot") - col("cnt")).as("n"))
        .select(col("label"),
          round(col("num2").cast("double") / (lit(2.0) * col("p") * col("n")), 6).as("auc"),
          col("p").cast("long").as("n_pos"), col("n").cast("long").as("n_neg"))
        .orderBy(col("label")), Some {
      val counts =
        """SELECT label AS g, round(CAST(embedding[1] AS DOUBLE), 6) AS v,
                  count(*) AS cnt
           FROM embeddings GROUP BY 1, 2"""
      s"""WITH ${SampleTests.pooledGridSql(counts)},
         ag AS (SELECT g AS label,
                  CAST(sum(2 * cnt * (below - cbelow) + cnt * (tot - cnt)) AS BIGINT) AS num2,
                  CAST(sum(cnt) AS BIGINT) AS p, CAST(sum(tot - cnt) AS BIGINT) AS n
                FROM pg GROUP BY g)
         SELECT label, round(CAST(num2 AS DOUBLE) / (2.0 * p * n), 6) AS auc,
                p AS n_pos, n AS n_neg
         FROM ag ORDER BY label"""
    }),

    // Autocorrelation function of the daily value series per
    // event_type at lags 1..7 — the seasonality/persistence audit
    // (weekly cycle shows as a lag-7 peak). Corpus-sized work is ONE
    // daily aggregate; the 7 lag columns come from one partitioned
    // window pass over the day-grain table, unpivoted via stack (a
    // zero-shuffle generator), and 7 corr aggregates run in one
    // grouped pass. "Lag" = k observations back in day order (gap
    // semantics identical in the oracle's lag()).
    Query("q_x_acf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = graft.operators.DayGrain.values(s, d)
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = daily.select(
        Seq(col("event_type"), col("v")) ++
          (1 to 7).map(k => lag(col("v"), k).over(w).as(s"l$k")): _*)
      lagged.selectExpr("event_type", "v",
          "stack(7, 1, l1, 2, l2, 3, l3, 4, l4, 5, l5, 6, l6, 7, l7) AS (lag_k, lv)")
        .filter(col("lv").isNotNull)
        .groupBy(col("event_type"), col("lag_k"))
        .agg(round(corr(col("v"), col("lv")), 6).as("acf"),
          count(lit(1)).as("n_pairs"))
        .orderBy(col("event_type"), col("lag_k"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 6) AS v
                FROM events GROUP BY 1, 2),
         lg AS (SELECT event_type, v,
                  lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
                  lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
                  lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
                  lag(v, 7) OVER w AS l7
                FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         un AS (SELECT event_type, v, 1 AS lag_k, l1 AS lv FROM lg
                UNION ALL SELECT event_type, v, 2, l2 FROM lg
                UNION ALL SELECT event_type, v, 3, l3 FROM lg
                UNION ALL SELECT event_type, v, 4, l4 FROM lg
                UNION ALL SELECT event_type, v, 5, l5 FROM lg
                UNION ALL SELECT event_type, v, 6, l6 FROM lg
                UNION ALL SELECT event_type, v, 7, l7 FROM lg)
         SELECT event_type, lag_k, round(corr(v, lv), 6) AS acf,
                count(*) AS n_pairs
         FROM un WHERE lv IS NOT NULL
         GROUP BY event_type, lag_k ORDER BY event_type, lag_k""")),

    // Gini coefficient of document length per source — the
    // inequality audit ("is this source a few giant pages plus
    // stubs, or uniform?"). Rank formula G = 2·Σ i·xᵢ/(n·Σx) −
    // (n+1)/n over ascending xᵢ: one partitioned row_number window
    // (deterministic doc_id tie-break) + one aggregate; exact
    // integers until the final division.
    Query("q_x_gini", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      table(s, d, "documents")
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("i", row_number().over(w))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sx"),
          sum(col("i") * col("n_chars")).as("sxi"))
        .select(col("source"), col("n_docs"),
          round(lit(2.0) * col("sxi") / (col("n_docs") * col("sx"))
            - (col("n_docs") + lit(1.0)) / col("n_docs"), 6).as("gini"))
        .orderBy(col("source"))
    }, Some(
      """WITH rk AS (SELECT source, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS i
                FROM documents),
         ag AS (SELECT source, count(*) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS sx,
                  CAST(sum(i * n_chars) AS BIGINT) AS sxi
                FROM rk GROUP BY source)
         SELECT source, n_docs,
                round(2.0 * sxi / (n_docs * sx) - (n_docs + 1.0) / n_docs, 6) AS gini
         FROM ag ORDER BY source""")),

    // Benford first-digit audit over l_extendedprice — the synthetic
    // -data / fraud smoke test (natural multiplicative data follows
    // log10(1+1/d); fabricated columns don't). First digit via the
    // DECIMAL(18,2) string form, NOT floor(log10): log10 of an exact
    // power of 10 can land at 2.9999… and misbucket cross-engine.
    // One scan, one 9-row aggregate; χ² contribution per digit.
    Query("q_x_benford", (s, d) => {
      val li = table(s, d, "lineitem")
        .select(col("l_extendedprice").cast("decimal(18,2)").as("p"))
        .filter(col("p") >= 1)
      val digits = li.select(substring(col("p").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("nn"))
      digits.crossJoin(broadcast(tot))
        .withColumn("exp_frac", log(10.0, lit(1.0) + lit(1.0) / col("digit")))
        .select(col("digit"), col("n"),
          round(col("n") / col("nn").cast("double"), 6).as("obs_frac"),
          round(col("exp_frac"), 6).as("exp_frac"),
          round(pow(col("n") - col("exp_frac") * col("nn"), 2)
            / (col("exp_frac") * col("nn")), 6).as("chi2"))
        .orderBy(col("digit"))
    }, Some(
      """WITH p AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS p FROM lineitem
                WHERE CAST(l_extendedprice AS DECIMAL(18,2)) >= 1),
         dg AS (SELECT CAST(substr(CAST(p AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                  count(*) AS n
                FROM p GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM dg)
         SELECT digit, n,
                round(n / CAST(nn AS DOUBLE), 6) AS obs_frac,
                round(log10(1.0 + 1.0 / digit), 6) AS exp_frac,
                round(pow(n - log10(1.0 + 1.0 / digit) * nn, 2)
                      / (log10(1.0 + 1.0 / digit) * nn), 6) AS chi2
         FROM dg CROSS JOIN t ORDER BY digit""")),

    // Day-of-week seasonal index per event_type: mean daily value by
    // DOW ÷ overall mean — the load-profile / weekly-cycle audit that
    // complements q_x_acf's lag view. DOW is 0=Sunday on BOTH engines
    // (Spark dayofweek is 1-based, DuckDB 0-based — the §7.4 dialect
    // trap, aligned here by subtracting 1 on the Spark side). All
    // corpus-sized work is the one daily aggregate.
    Query("q_x_seasonality", (s, d) => {
      val daily = graft.operators.DayGrain.values(s, d)
      val byDow = daily
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("int"))
        .groupBy(col("event_type"), col("dow"))
        .agg(avg(col("v")).as("dow_avg"), count(lit(1)).as("n_days"))
      val overall = daily.groupBy(col("event_type")).agg(avg(col("v")).as("all_avg"))
      byDow.join(overall, "event_type")
        .select(col("event_type"), col("dow"), col("n_days"),
          round(col("dow_avg"), 6).as("dow_avg"),
          round(col("dow_avg") / col("all_avg"), 6).as("season_idx"))
        .orderBy(col("event_type"), col("dow"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 6) AS v
                FROM events GROUP BY 1, 2),
         bd AS (SELECT event_type, dayofweek(day) AS dow,
                  avg(v) AS dow_avg, count(*) AS n_days
                FROM daily GROUP BY 1, 2),
         ov AS (SELECT event_type, avg(v) AS all_avg FROM daily GROUP BY 1)
         SELECT bd.event_type, CAST(bd.dow AS INTEGER) AS dow, bd.n_days,
                round(bd.dow_avg, 6) AS dow_avg,
                round(bd.dow_avg / ov.all_avg, 6) AS season_idx
         FROM bd JOIN ov USING (event_type)
         ORDER BY bd.event_type, dow""")),

    // Verbatim-memorization risk audit: per doc, the fraction of its
    // distinct word 5-grams that appear in ≥2 docs — the span-level
    // "how much of this document is boilerplate the model will see
    // again" signal (finer than doc-level near-dup; the n-gram
    // analogue of q_x_span_dedup). Postings-shaped plan: one distinct
    // -gram explode, one df aggregate over the GRAM-grain table, one
    // join back — no doc-pair join anywhere, the only shape that
    // survives 100 TB.
    Query("q_x_memorize", (s, d) => {
      val grams = graft.operators.NgramGrain.postings(s, d, 5)
        .cut()
      val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      grams.join(df, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_grams"), 6).as("shared_frac"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(ws) - 3),
                  i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ')))) AS g
               FROM w),
         df AS (SELECT g, count(*) AS df FROM g GROUP BY g)
         SELECT t.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
                round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) AS shared_frac
         FROM g t JOIN df USING (g)
         GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // Weighted median of doc length per source (weight = a
    // deterministic per-doc importance) — the robust central-tendency
    // primitive for weighted corpora (sample weights, quality
    // weights). Smallest x with 2·cumw ≥ totw via ONE partitioned
    // cumulative window + an integer-exact threshold filter — no
    // global sort, no percentile approximation.
    Query("q_x_wmedian", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, d, "documents")
        .select(col("source"), col("n_chars"), col("doc_id"),
          (col("doc_id") % 7 + 1).as("wt"))
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      docs
        .withColumn("cumw", sum(col("wt")).over(w))
        .withColumn("totw", sum(col("wt")).over(Window.partitionBy(col("source"))))
        .filter(lit(2L) * col("cumw") >= col("totw"))
        .groupBy(col("source"))
        .agg(min(col("n_chars")).as("wmedian"), max(col("totw")).as("total_weight"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT source, n_chars, doc_id, doc_id % 7 + 1 AS wt FROM documents),
         c AS (SELECT source, n_chars, doc_id, wt,
                 sum(wt) OVER (PARTITION BY source
                   ORDER BY n_chars, doc_id) AS cumw,
                 sum(wt) OVER (PARTITION BY source) AS totw
               FROM d)
         SELECT source, min(n_chars) AS wmedian,
                CAST(max(totw) AS BIGINT) AS total_weight
         FROM c WHERE 2 * cumw >= totw
         GROUP BY source ORDER BY source""")),

    // Calibration audit (ECE, 10 bins): deterministic pseudo-
    // probability p from md5(doc_id), outcome drawn as u₂ < p (so the
    // fixture IS calibrated by construction and the expected gap per
    // bin is small) — the model-eval reliability-diagram primitive.
    // Map-only past one 10-row aggregate; the md5 inverse-CDF idiom
    // is the repo's reproducible-anywhere randomness standard.
    Query("q_x_ece", (s, d) => {
      val denom = lit(4294967296.0) // 2^32
      val p = (conv(substring(md5(concat(lit("cal:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + 0.5) / denom
      val u2 = (conv(substring(md5(concat(lit("out:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + 0.5) / denom
      table(s, d, "documents")
        .select(col("doc_id"), p.as("p"), when(u2 < p, 1L).otherwise(0L).as("y"))
        .withColumn("bin", floor(col("p") * 10).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), round(avg(col("p")), 6).as("avg_p"),
          round(avg(col("y")), 6).as("avg_y"))
        .withColumn("gap", round(abs(col("avg_p") - col("avg_y")), 6))
        .orderBy(col("bin"))
    }, Some(
      """WITH s AS (SELECT doc_id,
                  (CAST(('0x' || substr(md5('cal:' || doc_id), 1, 8)) AS BIGINT) + 0.5)
                    / 4294967296.0 AS p,
                  (CAST(('0x' || substr(md5('out:' || doc_id), 1, 8)) AS BIGINT) + 0.5)
                    / 4294967296.0 AS u2
                FROM documents),
         b AS (SELECT CAST(floor(p * 10) AS INTEGER) AS bin, p,
                 CASE WHEN u2 < p THEN 1 ELSE 0 END AS y
               FROM s),
         ag AS (SELECT bin, count(*) AS n, round(avg(p), 6) AS avg_p,
                  round(avg(y), 6) AS avg_y
                FROM b GROUP BY bin)
         SELECT bin, n, avg_p, avg_y, round(abs(avg_p - avg_y), 6) AS gap
         FROM ag ORDER BY bin""")),

    // Retrieval-quality eval (nDCG@10): graded ranking gain of the
    // exact kNN arm against label relevance — the metric that grades
    // every ANN/hybrid-retrieval dial in this repo (recall@k says
    // "found it", nDCG says "ranked it well"). Brute-force arm for
    // the oracle (q_x_knn pattern); IDCG via a broadcast theta join
    // against the 10-row gain table (no unpartitioned window, no
    // driver math) — at 100 TB swap the kNN arm for ANN candidates,
    // same downstream.
    Query("q_x_ndcg", (s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val knn = Similarity.bruteForceKnn(emb.filter(col("vec_id") % 30 === 0), emb, k = 10)
      val labels = emb.select(col("vec_id"), col("label"))
      val rel = knn
        .join(labels.select(col("vec_id").as("query_id"), col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("cand_id"), col("label").as("c_label")), "cand_id")
        .withColumn("rel", when(col("q_label") === col("c_label"), 1.0).otherwise(0.0))
      val agg = rel.groupBy(col("query_id"))
        .agg(sum(col("rel") / log2(col("rank") + 1)).as("dcg"),
          sum(col("rel")).cast("long").as("n_rel"))
      val gains = (1 to 10).map(i => (i, 1.0 / (math.log(i + 1) / math.log(2))))
        .toDF("i", "g")
      val idcg = agg.join(broadcast(gains), col("i") <= col("n_rel"))
        .groupBy(col("query_id")).agg(sum(col("g")).as("idcg"))
      agg.join(idcg, Seq("query_id"), "left")
        .select(col("query_id"), round(col("dcg"), 6).as("dcg"), col("n_rel"),
          round(when(col("idcg") > 0, col("dcg") / col("idcg")), 6).as("ndcg"))
        .orderBy(col("query_id"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, label, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qv, nrm AS qn
               FROM nv WHERE vec_id % 30 = 0),
         c AS (SELECT vec_id AS cand_id, label AS c_label, embedding AS cv, nrm AS cn FROM nv),
         p AS (SELECT query_id, q_label, cand_id, c_label, round($knnCosSql, 9) AS cos
               FROM q CROSS JOIN c WHERE cand_id <> query_id),
         r AS (SELECT query_id, q_label, cand_id, c_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
               FROM p),
         rel AS (SELECT query_id, rank,
                   CASE WHEN q_label = c_label THEN 1.0 ELSE 0.0 END AS rel
                 FROM r WHERE rank <= 10),
         ag AS (SELECT query_id, sum(rel / log2(rank + 1)) AS dcg,
                  CAST(sum(rel) AS BIGINT) AS n_rel
                FROM rel GROUP BY query_id),
         gg AS (SELECT unnest(range(1, 11)) AS i),
         gt AS (SELECT i, 1.0 / log2(i + 1) AS g FROM gg),
         id AS (SELECT a.query_id, sum(gt.g) AS idcg
                FROM ag a JOIN gt ON gt.i <= a.n_rel GROUP BY a.query_id)
         SELECT a.query_id, round(a.dcg, 6) AS dcg, a.n_rel,
                round(CASE WHEN id.idcg > 0 THEN a.dcg / id.idcg END, 6) AS ndcg
         FROM ag a LEFT JOIN id ON a.query_id = id.query_id
         ORDER BY a.query_id""")),

    // Retrieval-quality eval (reciprocal rank): rank of the FIRST
    // relevant hit per query — the metric for known-item search,
    // complementing nDCG's graded view. Same kNN arm; rr is an exact
    // rational of an integer rank, so the output is engine-exact.
    Query("q_x_mrr", (s, d) => {
      val emb = table(s, d, "embeddings")
      val knn = Similarity.bruteForceKnn(emb.filter(col("vec_id") % 30 === 0), emb, k = 10)
      val labels = emb.select(col("vec_id"), col("label"))
      val first = knn
        .join(labels.select(col("vec_id").as("query_id"), col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("cand_id"), col("label").as("c_label")), "cand_id")
        .filter(col("q_label") === col("c_label"))
        .groupBy(col("query_id")).agg(min(col("rank")).as("first_rel_rank"))
      emb.filter(col("vec_id") % 30 === 0)
        .select(col("vec_id").as("query_id"))
        .join(first, Seq("query_id"), "left")
        .select(col("query_id"), col("first_rel_rank"),
          round(coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)), 6).as("rr"))
        .orderBy(col("query_id"))
    }, Some(
      s"""WITH nv AS (
           SELECT vec_id, label, embedding,
                  sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS qv, nrm AS qn
               FROM nv WHERE vec_id % 30 = 0),
         c AS (SELECT vec_id AS cand_id, label AS c_label, embedding AS cv, nrm AS cn FROM nv),
         p AS (SELECT query_id, q_label, cand_id, c_label, round($knnCosSql, 9) AS cos
               FROM q CROSS JOIN c WHERE cand_id <> query_id),
         r AS (SELECT query_id, q_label, cand_id, c_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
               FROM p),
         f AS (SELECT query_id, min(rank) AS first_rel_rank
               FROM r WHERE rank <= 10 AND q_label = c_label GROUP BY query_id)
         SELECT q.query_id, f.first_rel_rank,
                round(COALESCE(CAST(1.0 AS DOUBLE) / f.first_rel_rank, 0.0), 6) AS rr
         FROM q LEFT JOIN f ON q.query_id = f.query_id
         ORDER BY q.query_id""")),

    // Robust outlier days per event_type (modified z-score, Iglewicz–
    // Hoaglin 1993): median/MAD instead of q_anomaly's mean/σ, so a
    // burst can't inflate its own detection threshold. Exact
    // interpolated percentiles (Spark `percentile` == DuckDB
    // `quantile_cont`, the q_x_winsorize equivalence); corpus-sized
    // work is the one daily aggregate, the two percentile passes run
    // on the day-grain table. MAD=0 → z NULL on both engines (never a
    // division blowup).
    Query("q_x_robust_z", (s, d) => {
      val daily = graft.operators.DayGrain.values(s, d)
      val med = daily.groupBy(col("event_type"))
        .agg(expr("percentile(v, 0.5)").as("med"))
      val dev = daily.join(med, "event_type").withColumn("ad", abs(col("v") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(ad, 0.5)").as("mad"))
      dev.join(mad, "event_type")
        .withColumn("z", when(col("mad") > 0,
          round(lit(0.6745) * (col("v") - col("med")) / col("mad"), 6)))
        .select(col("event_type"), col("day"), col("v"), col("z"),
          (abs(col("z")) > 3.5).as("is_outlier"))
        .orderBy(col("event_type"), col("day"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 6) AS v
                FROM events GROUP BY 1, 2),
         med AS (SELECT event_type, quantile_cont(v, 0.5) AS med
                 FROM daily GROUP BY event_type),
         dev AS (SELECT d.event_type, d.day, d.v, m.med, abs(d.v - m.med) AS ad
                 FROM daily d JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
                 FROM dev GROUP BY event_type),
         z AS (SELECT dev.event_type, dev.day, dev.v,
                 CASE WHEN mad.mad > 0
                      THEN round(0.6745 * (dev.v - dev.med) / mad.mad, 6) END AS z
               FROM dev JOIN mad USING (event_type))
         SELECT event_type, day, v, z, abs(z) > 3.5 AS is_outlier
         FROM z ORDER BY event_type, day""")),

    // Theil-T inequality decomposition of doc length by source: the
    // additive T = T_within + T_between split PSI/Gini can't give —
    // "is corpus imbalance driven by a skewed source mix or by skew
    // INSIDE sources?" (mixture-design diagnostics). One doc-level
    // pass joined against two tiny mean tables; everything else is
    // source-grain.
    Query("q_x_theil", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("n_chars")).filter(col("n_chars") > 0)
      val tot = docs.agg(count(lit(1)).as("nn"), sum(col("n_chars")).as("sx"))
      val bySrc = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("ng"), sum(col("n_chars")).as("sxg"))
      val mu = col("sx").cast("double") / col("nn")
      val mug = col("sxg").cast("double") / col("ng")
      docs.join(broadcast(bySrc), "source").crossJoin(broadcast(tot))
        .withColumn("xr", col("n_chars") / mug)
        .groupBy(col("source"), col("ng"), col("sxg"), col("nn"), col("sx"))
        .agg(sum(col("xr") * log(col("xr"))).as("tsum"))
        .select(col("source"), col("ng").as("n_docs"),
          round(mug, 6).as("mean_len"),
          round(col("tsum") / col("ng"), 6).as("t_within"),
          round((col("ng") / col("nn").cast("double")) * (mug / mu) * log(mug / mu), 6)
            .as("t_between_contrib"))
        .orderBy(col("source"))
    }, Some(
      """WITH d AS (SELECT source, n_chars FROM documents WHERE n_chars > 0),
         t AS (SELECT count(*) AS nn, CAST(sum(n_chars) AS BIGINT) AS sx FROM d),
         g AS (SELECT source, count(*) AS ng, CAST(sum(n_chars) AS BIGINT) AS sxg
               FROM d GROUP BY source),
         terms AS (SELECT d.source, g.ng, g.sxg, t.nn, t.sx,
                     (d.n_chars / (CAST(g.sxg AS DOUBLE) / g.ng))
                       * ln(d.n_chars / (CAST(g.sxg AS DOUBLE) / g.ng)) AS xr
                   FROM d JOIN g USING (source) CROSS JOIN t)
         SELECT source, ng AS n_docs,
                round(CAST(sxg AS DOUBLE) / ng, 6) AS mean_len,
                round(sum(xr) / ng, 6) AS t_within,
                round((ng / CAST(nn AS DOUBLE))
                      * ((CAST(sxg AS DOUBLE) / ng) / (CAST(sx AS DOUBLE) / nn))
                      * ln((CAST(sxg AS DOUBLE) / ng) / (CAST(sx AS DOUBLE) / nn)), 6)
                  AS t_between_contrib
         FROM terms GROUP BY source, ng, sxg, nn, sx
         ORDER BY source""")),

    // Entity-resolution blocking audit: reduction ratio (how many
    // candidate pairs the 2-token-header blocking key leaves) vs pair
    // completeness (what fraction of TRUE near-dup pairs, θ=0.8
    // word-trigram Jaccard, the key co-blocks) — the two numbers that
    // justify any blocking scheme before it runs at 100 TB. Candidate
    // count comes from block-size aggregates (Σ m·(m−1)/2 — no pair
    // materialization); only the truth join touches pairs, and that
    // reuses the shared lossless DupGraph edges.
    Query("q_x_blocking", (s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("bk"))
      val sizes = docs.groupBy(col("bk")).agg(count(lit(1)).as("m"))
      val cand = sizes.agg(sum(col("m") * (col("m") - 1) / 2).cast("long").as("n_cand"),
        count(lit(1)).as("n_blocks"))
      val nn = docs.agg(count(lit(1)).as("n_docs"))
      val truth = graft.operators.DupGraph.pairs(s, d, 0.8)
        .select(col("doc_a"), col("doc_b"))
      val cob = truth
        .join(docs.select(col("doc_id").as("doc_a"), col("bk").as("ka")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("bk").as("kb")), "doc_b")
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("ka") === col("kb"), 1L).otherwise(0L)).as("n_coblocked"))
      cand.crossJoin(broadcast(nn)).crossJoin(broadcast(cob))
        .select(col("n_docs"), col("n_blocks"), col("n_cand"),
          col("n_true"), col("n_coblocked"),
          round(lit(1.0) - col("n_cand") / (col("n_docs") * (col("n_docs") - 1) / lit(2.0)), 6)
            .as("reduction_ratio"),
          round(when(col("n_true") > 0,
            col("n_coblocked").cast("double") / col("n_true")), 6).as("pair_completeness"))
    }, Some(
      """WITH k AS (SELECT doc_id,
                  array_to_string(string_split(text, ' ')[1:2], ' ') AS bk
                FROM documents),
         sz AS (SELECT bk, count(*) AS m FROM k GROUP BY bk),
         cand AS (SELECT CAST(sum(m * (m - 1) / 2) AS BIGINT) AS n_cand,
                    count(*) AS n_blocks
                  FROM sz),
         nn AS (SELECT count(*) AS n_docs FROM k),
         w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
                      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' '))) END AS s
               FROM w),
         truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM g a JOIN g b ON a.doc_id < b.doc_id
                   WHERE len(list_distinct(list_concat(a.s, b.s))) > 0
                     AND len(list_intersect(a.s, b.s)) * 5
                         >= len(list_distinct(list_concat(a.s, b.s))) * 4),
         cob AS (SELECT count(*) AS n_true,
                   CAST(sum(CASE WHEN ka.bk = kb.bk THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_coblocked
                 FROM truth
                 JOIN k ka ON ka.doc_id = truth.doc_a
                 JOIN k kb ON kb.doc_id = truth.doc_b)
         SELECT nn.n_docs, cand.n_blocks, cand.n_cand, cob.n_true, cob.n_coblocked,
                round(1.0 - cand.n_cand / (nn.n_docs * (nn.n_docs - 1) / 2.0), 6)
                  AS reduction_ratio,
                round(CASE WHEN cob.n_true > 0
                           THEN cob.n_coblocked / CAST(cob.n_true AS DOUBLE) END, 6)
                  AS pair_completeness
         FROM cand CROSS JOIN nn CROSS JOIN cob""")),

    // ---- multimodal ---------------------------------------------------
    // Binary payload column → batched mapPartitions "decode" (stubbed
    // deterministically — real codecs unavailable in-sandbox; the
    // schema/batching/encoder plumbing is the real thing).
    Query("q_x_multimodal", (s, d) => {
      val media = Multimodal.attachBinary(table(s, d, "documents"))
      Multimodal.decodeFeatures(s, media).toDF()
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
                CAST((ascii(substr(text, 1, 1)) & 31) + 1 AS INTEGER) AS height,
                sha256(text) AS checksum
         FROM documents ORDER BY doc_id""")),

    // The typed-mapPartitions media decode, ORACLE-CHECKED end to end:
    // the fixture payloads are ASCII text bytes, so every stub output
    // (byte length, derived width/height, sha256) is reproducible in
    // SQL — the decode plumbing (encoders, batch shape, partition-
    // local execution) gets the same rows+schema+hash gate as any
    // relational operator, not just a spec. A real codec swaps into
    // the same batch loop.
    Query("q_x_media_features", (s, d) => {
      val media = Multimodal.attachBinary(table(s, d, "documents"))
      Multimodal.decodeFeatures(s, media).toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("checksum"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
                CAST(length(text) AS INTEGER) AS n_bytes,
                CAST(length(text) % 64 + 16 AS INTEGER) AS width,
                CAST(CASE WHEN length(text) = 0 THEN 1
                          ELSE ascii(substr(text, 1, 1)) % 32 + 1 END AS INTEGER) AS height,
                sha256(text) AS checksum
         FROM documents ORDER BY doc_id""")),

    // Audio-shaped reduction over the binary payload (RMS energy,
    // zero crossings, clipping fraction on the centered i8 stream) —
    // integer arithmetic until two final divisions, so the DSP loop
    // is engine-exact against the character-code oracle.
    Query("q_x_waveform", (s, d) => {
      val media = Multimodal.attachBinary(table(s, d, "documents"))
      Multimodal.waveformStats(s, media).toDF()
        // zero-length payloads have no samples: the oracle's unnest
        // generates no rows for them, so drop them here too (the
        // operator itself stays total — waveformStats emits n=0)
        .filter(col("n_samples") > 0)
        .select(col("doc_id"), col("n_samples"),
          round(col("rms"), 6).as("rms"), col("zero_crossings"),
          round(col("clip_frac"), 6).as("clip_frac"))
        .orderBy(col("doc_id"))
    }, Some(
      """WITH ch AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
                FROM documents),
         s AS (SELECT doc_id, i,
                 ascii(substr(text, CAST(i AS INTEGER), 1)) - 64 AS s
               FROM ch),
         lagd AS (SELECT doc_id, s,
                    lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                  FROM s)
         SELECT doc_id,
                CAST(count(*) AS INTEGER) AS n_samples,
                round(sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)), 6) AS rms,
                CAST(sum(CASE WHEN prev IS NOT NULL AND s * prev < 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                round(sum(CASE WHEN abs(s) >= 48 THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) AS clip_frac
         FROM lagd GROUP BY doc_id ORDER BY doc_id""")),

    // Cross-document FRAME dedup: video-shaped near-dup detection —
    // doc pairs sharing ≥ 3 identical 16-byte frames, via the
    // postings shape (frame-hash grain self-join, never doc pairs
    // first). Catches exact and prefix-identical payloads; at 100 TB
    // the frame-hash table IS the content-addressed frame store.
    Query("q_x_frame_dedup", (s, d) => {
      val media = Multimodal.attachBinary(table(s, d, "documents"))
      val frames = Multimodal.sampleFrames(s, media, stride = 1).toDF()
        .select(col("doc_id"), md5(col("frame_bytes")).as("h")).distinct()
        .cut()
      frames.select(col("doc_id").as("doc_a"), col("h"))
        .join(frames.select(col("doc_id").as("doc_b"), col("h")), "h")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared_frames"))
        .filter(col("n_shared_frames") >= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }, Some(
      """WITH f AS (SELECT DISTINCT doc_id,
                  md5(substr(text, CAST((j - 1) * 16 + 1 AS INTEGER), 16)) AS h
                FROM (SELECT doc_id, text,
                        unnest(range(1, CAST(ceil(length(text) / 16.0) AS BIGINT) + 1)) AS j
                      FROM documents WHERE length(text) > 0))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                count(*) AS n_shared_frames
         FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY doc_a, doc_b"""))
  )
}

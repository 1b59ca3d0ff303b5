package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF-PQ approximate nearest neighbor search — the composition of
  * the two scale paths ([[Ivf]] partition pruning × [[Pq]] corpus
  * compression), which is the shape production billion-vector ANN
  * actually deploys (FAISS `IndexIVFPQ`): a coarse quantizer routes
  * each vector to an inverted list, and PQ encodes the RESIDUAL
  * (vector − its coarse centroid) — residuals concentrate near the
  * origin, so the same code budget quantizes them with far less
  * error than raw vectors.
  *
  * Query time: probe the `nProbe` nearest coarse lists; for each
  * (query, probed list) pair build an ADC lookup table from the
  * query's RESIDUAL against that list's centroid; score only the
  * codes stored in probed lists. Cost per query =
  * nProbe/nCoarse of the corpus, at m-lookups-per-candidate over
  * m-byte codes — pruning × compression multiply.
  *
  * Scale shape: coarse centroids and PQ codebooks are tiny and
  * broadcast; the corpus-sized artifacts are the (vec_id,
  * centroid_id, codes) table — m bytes + a list id per vector — and
  * one shared assignment pass (cached once, reused by codebook
  * training and encoding). LUTs are |queries|·nProbe rows of m·k
  * doubles, broadcast; scoring joins them to codes on centroid_id,
  * so a candidate row is touched only by queries probing ITS list.
  * Raw embeddings are read again only for the top-R exact rerank.
  */
object IvfPq {

  /** Approximate top-k with the same output contract as
    * [[Similarity.bruteForceKnn]] (exact cosine rerank, 9dp rounding,
    * id tie-breaks), so recall is directly comparable across the
    * ANN family.
    */
  def ivfPqKnn(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
      nCoarse: Int = 16, nProbe: Int = 4, m: Int = 8, kCodes: Int = 32,
      iters: Int = 1, rerankFactor: Int = 8,
      memoKey: Option[String] = None): DataFrame = {
    require(nCoarse >= 1 && nProbe >= 1 && nProbe <= nCoarse,
      s"need 1 <= nProbe <= nCoarse, got nProbe=$nProbe nCoarse=$nCoarse")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    // index memoization, same contract as Pq.pqKnn: with graft.Memo on,
    // the index artifacts (coarse centroids, PQ codebooks, codes table)
    // build once per (corpus, params) and timed reruns reuse them —
    // the production shape. Verify/specs pass no key → fresh build.
    def memo(part: String)(build: => DataFrame): DataFrame =
      memoKey.fold(build)(mk =>
        graft.Memo(spark, s"IvfPq.$part", (mk, nCoarse, m, kCodes, iters))(build))
    val coarse = memo("coarse")(Ivf.train(corpus, nCoarse, iters))

    // one assignment pass shared by PQ training and encoding: each
    // vector's list id + residual vs its coarse centroid
    val assigned = org.apache.spark.sql.graft.Shim.cacheIfNeeded(
      Ivf.assign(corpus.select(col("vec_id"), col("embedding")), coarse)
        .withColumn("residual",
          zip_with(toDouble(col("embedding")), col("centroid"), (x, c) => x - c))
        .select(col("vec_id"), col("centroid_id"), col("residual").as("embedding")))

    // PQ in residual space: normalize=false — residuals are small
    // displacement vectors, unit-scaling them would distort exactly
    // the structure the codebooks must capture
    val pqCb = memo("codebook")(Pq.train(spark, assigned, m, kCodes, iters, normalize = false))
    val codes = memo("codes")(
      Pq.encode(assigned, pqCb, m, normalize = false)
        .join(assigned.select(col("vec_id"), col("centroid_id")), Seq("vec_id")))

    // probe the nProbe nearest coarse lists per query; the query's
    // residual differs per probed list
    val qd = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(coarse))
      .withColumn("d2",
        dot(col("qv"), col("qv"))
          - lit(2.0) * dot(col("qv"), col("centroid"))
          + dot(col("centroid"), col("centroid")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("centroid_id"))
    val probes = qd.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .withColumn("qr", zip_with(toDouble(col("qv")), col("centroid"), (x, c) => x - c))
      .select(col("query_id"), col("centroid_id"), col("qr"))

    // per-(query, probed list) ADC lookup table over the residual —
    // ONE aggregate per (query, list) pair assembles the m×kCodes
    // matrix (collect all cells, one deterministic sort, order-
    // preserving filter carve), same single-exchange shape as
    // Pq.pqKnn's lut: the former per-sub pre-aggregate added a second
    // exchange without reducing anything.
    val luts = probes
      .select(col("query_id"), col("centroid_id"),
        posexplode(Pq.sliceExpr("qr", m)).as(Seq("sub", "subvec")))
      .join(broadcast(pqCb.select(col("sub"), col("code"), col("centroid"))), Seq("sub"))
      .withColumn("pd", Pq.sqd(col("subvec"), col("centroid")))
      .groupBy(col("query_id"), col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"), col("pd")))).as("sl"))
      .select(col("query_id"), col("centroid_id"),
        expr(s"transform(sequence(0, ${m - 1}), " +
          "s -> transform(filter(sl, c -> c.sub = s), c -> c.pd))").as("lut"))

    // score codes only inside probed lists (the IVF pruning), then
    // per-query top-R and exact rerank (the PQ contract)
    val scored = codes.join(broadcast(luts), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", call_function("graft_adc", col("codes"), col("lut")))
    // asc_nulls_last: NULL adc = corrupted codes, keep them out of
    // the rerank pool (same rationale as Pq.pqKnn)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc_nulls_last, col("vec_id"))
    val cands = scored.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerankFactor * k)
      .select(col("query_id"), col("vec_id").as("cand_id"))

    val rer = cands
      .join(corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv")), Seq("cand_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))), Seq("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 9))
    val wCos = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    rer.withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"), col("cos"))
  }
}

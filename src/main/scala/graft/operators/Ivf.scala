package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor search
  * (SURVEY.md §2.8 "an IVF or LSH-bucketed variant as the scale
  * path").
  *
  * Structure: k-means-lite coarse quantizer (deterministic seeding:
  * every `N/k`-th vector by id; Lloyd iterations as DataFrame jobs) →
  * inverted lists keyed by centroid id → queries probe the nProbe
  * nearest centroids and exact-rerank only those lists.
  *
  * Scale shape: centroids are tiny and BROADCAST; assignment is a
  * map-side argmin per row (no shuffle); the probe join is an
  * equi-join on centroid id. Per-query cost = nProbe/k of the corpus,
  * the IVF contract. Training cost is `iters` passes over the corpus,
  * each a broadcast-argmin + one groupBy(centroid) shuffle of
  * dimension-wise partial sums.
  */
object Ivf {

  /** Assign each row the id of its nearest centroid (L2). `centroids`
    * must be small (collected to a broadcast literal via crossJoin).
    */
  private[operators] def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val withDist = vectors.crossJoin(broadcast(centroids))
      .withColumn("d2",
        dot(col("embedding"), col("embedding"))
          - lit(2.0) * dot(col("embedding"), col("centroid"))
          + dot(col("centroid"), col("centroid")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("centroid_id"))
    withDist.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "d2")
  }

  /** Train a k-centroid quantizer. Deterministic: seeds are the k
    * corpus vectors with the smallest xxhash64(vec_id) — a
    * hash-spread pseudo-random sample picked via `orderBy.limit(k)`,
    * which plans as TakeOrderedAndProject (per-partition top-k, then
    * a k-row merge): NO global sort, no single-partition exchange,
    * identical on any cluster/partitioning. Centroid ids are the seed
    * vec_ids (distinct + deterministic, not dense). `iters` Lloyd
    * steps.
    */
  def train(corpus: DataFrame, k: Int, iters: Int = 3): DataFrame = {
    val seeds = corpus
      .select(col("vec_id"), toDouble(col("embedding")).as("centroid"),
        xxhash64(col("vec_id")).as("hk"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
    // centroid ids = the seed rows' own vec_ids: distinct and
    // deterministic by construction, computed map-side. (Previously a
    // dense 0..k-1 rank via an unpartitioned window — benign over k
    // rows but it tripped WindowExec's single-partition warning in
    // every bench tail. Nothing downstream needs density: assignment
    // ties break on any orderable id, probes equi-join on it, and ids
    // stay stable across Lloyd rounds because updates group by them.)
    var centroids = seeds.select(col("vec_id").as("centroid_id"), col("centroid"))

    (0 until iters).foreach { _ =>
      val assigned = assign(corpus.select(col("vec_id"), col("embedding")), centroids)
      centroids = assigned
        .select(col("centroid_id"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id"),
          expr("transform(pm, p -> p.m)").as("centroid"))
    }
    // guarded cache: centroids are reused by the assign and probe
    // joins; the guard keeps repeated invocations of the same query
    // (bench warm/timed runs) from re-caching the identical plan and
    // spamming "Asked to cache already cached data". Lazy — training
    // runs on first use, never at construction. (localCheckpoint was
    // tried and rejected: under AQE even the lazy form calls toRdd,
    // which executes the training plan at CONSTRUCTION time.)
    org.apache.spark.sql.graft.Shim.cacheIfNeeded(centroids)
  }

  /** Public k-means clustering over an embedding corpus: train k
    * centroids ([[train]] — deterministic hash-spread seeding, Lloyd
    * iterations as DataFrame jobs) and assign every vector to its
    * nearest. The IVF coarse quantizer exposed as a first-class
    * clustering operator (corpus partitioning for curriculum /
    * domain-mix design, semantic bucketing before per-bucket dedup).
    *
    * Scale shape: centroids broadcast, assignment a map-side argmin —
    * the corpus shuffles only for the per-centroid mean updates
    * (dimension-wise partial aggregates), `iters` times.
    *
    * @return (vec_id, centroid_id); centroid ids are the seed rows'
    *         vec_ids (stable, not dense).
    */
  def kmeansAssignments(corpus: DataFrame, k: Int, iters: Int = 3): DataFrame =
    assign(corpus.select(col("vec_id"), col("embedding")), train(corpus, k, iters))
      .select(col("vec_id"), col("centroid_id"))

  /** Approximate top-k: probe the `nProbe` nearest inverted lists per
    * query, exact cosine rerank within them.
    */
  def ivfKnn(queries: DataFrame, corpus: DataFrame,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val centroids = train(corpus, nCentroids, iters)
    // inverted lists: corpus rows keyed by their centroid
    val lists = assign(corpus.select(col("vec_id"), col("embedding")), centroids)
      .select(col("centroid_id"), col("vec_id").as("cand_id"), col("embedding").as("cv"))
    // queries probe their nProbe nearest centroids
    val qd = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2",
        dot(col("qv"), col("qv"))
          - lit(2.0) * dot(col("qv"), col("centroid"))
          + dot(col("centroid"), col("centroid")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("centroid_id"))
    val probes = qd.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("centroid_id"))

    // probes = |queries| × nProbe rows — always the broadcast side
    val cands = lists.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 9))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"), col("cos"))
  }
}

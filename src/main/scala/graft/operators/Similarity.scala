package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §2.8).
  *
  * Two paths:
  *  - [[bruteForceKnn]] — exact: broadcast the (small) query set
  *    against the full corpus; O(|Q|·N) cosine evaluations, fully
  *    distributed, no shuffle of the corpus. The verified baseline.
  *  - [[lshKnn]] — approximate scale path: random-hyperplane LSH
  *    bucket join; each vector is compared only against candidates
  *    sharing a code bucket (multi-probe over 1-bit flips), so the
  *    per-query cost is bucket occupancy, not N. At 100 TB the bucket
  *    join is an equi-shuffle — the same shape as the MinHash path.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * @return (query_id, cand_id, rank[, cos]) — rank by cosine desc,
    *         ties broken by cand_id; cosine rounded to 9dp before
    *         ranking so cross-engine float noise cannot flip ranks.
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      includeScore: Boolean = false): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qnorm", norm(col("qv")))
    // No explicit VerifyWidth repartition here (unlike the pair-verify
    // kernels): the |Q| side is small by contract, so the per-corpus-
    // row kernel is light — measured r17: adding the exchange cost
    // +0.1-0.2 s per consumer at sf0.1 (an extra stage + AQE round)
    // while the kernel itself was never the bottleneck, and at scale
    // the corpus scan's own splits already spread it.
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .withColumn("cnorm", norm(col("cv")))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos", round(dot(col("qv"), col("cv")) / (col("qnorm") * col("cnorm")), 9))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val base = ranked.select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"))
    if (includeScore) ranked.select(col("query_id"), col("cand_id"),
      col("rank").cast("int").as("rank"), col("cos"))
    else base
  }

  /** Exact all-pairs cosine pairs above `threshold`, as a primitive
    * double[] kernel over a broadcast corpus.
    *
    * Value-identical to the declarative form (join on id_a < id_b +
    * `round(graft_dot(va,vb)/(norm·norm), 9) >= threshold`): elements
    * widen to double before multiplying, dots fold strictly
    * left-to-right, and rounding replicates Spark's `round(_, 9)`
    * (HALF_UP over the shortest-decimal repr) — spec-asserted equal.
    * What it removes is the per-pair UnsafeRow traffic of the
    * nested-loop join: the build side is broadcast once (exactly what
    * BroadcastNestedLoopJoin broadcasts, in primitive form) and the
    * O(N²) loop runs on JIT-friendly double[] with zero allocation per
    * pair (~5× over the codegen'd BNLJ form on the sf0.1 fixture).
    *
    * Scale note: all-pairs-exact is O(N²·d) by definition, so N must
    * fit a broadcast — same constraint as any BNLJ build side. The
    * 100 TB path is the LSH-pruned [[cosineNearDups]]; this kernel is
    * the exact verifier one runs on a bucket/blocked subset.
    */
  def exactCosinePairs(spark: SparkSession, vectors: DataFrame,
      threshold: Double): DataFrame = {
    import spark.implicits._
    val vecs = vectors
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
    val corpus = vecs.collect().sortBy(_._1)
    val ids = corpus.map(_._1)
    // duplicate ids would make the binary-search pairing emit (id, id)
    // self-pairs — fail fast instead of returning wrong pairs
    var di = 1
    while (di < ids.length) {
      require(ids(di - 1) != ids(di), s"exactCosinePairs: duplicate vec_id ${ids(di)}")
      di += 1
    }
    val vs = corpus.map(_._2)
    val norms = vs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((ids, vs, norms))
    val th = threshold
    vecs.mapPartitions { it =>
      val (ids, vs, norms) = bc.value
      it.flatMap { case (idA, va) =>
        var sa = 0.0
        var i = 0
        while (i < va.length) { sa += va(i) * va(i); i += 1 }
        val na = math.sqrt(sa)
        val idx = java.util.Arrays.binarySearch(ids, idA)
        val start = if (idx >= 0) idx + 1 else -idx - 1
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = start
        while (j < ids.length) {
          val vb = vs(j)
          var dot = 0.0
          var k = 0
          while (k < va.length) { dot += va(k) * vb(k); k += 1 }
          val c = dot / (na * norms(j))
          // round9 (BigDecimal) only near/above the threshold: a raw
          // cosine below th − 5e-10 cannot round up to ≥ th at 9dp.
          if (c >= th - 5e-10) {
            val cos = round9(c)
            if (cos >= th) out += ((idA, ids(j), cos))
          }
          j += 1
        }
        out.result().iterator
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Exact all-pairs cosine pairs ≥ `threshold` as a fully
    * DISTRIBUTED block join — the declared-query form (the kernel
    * above is the small-subset verifier).
    *
    * Vectors are assigned to `numBlocks` blocks by id; the
    * B(B+1)/2 ordered block pairs form a tiny broadcast relation;
    * each vector is replicated to the block pairs containing its
    * block and pair generation is an equi-join on (block_a, block_b).
    * Every unordered vector pair is produced exactly once: same-block
    * pairs from the (x, x) key under id_a < id_b, cross-block pairs
    * from the single (x, y), x < y key (canonicalized to id_a < id_b
    * afterwards).
    *
    * 100 TB shape: NO driver-side materialization and NO broadcast of
    * the corpus — both sides shuffle by the block-pair key, the
    * O(N²·d) compute (inherent to exact all-pairs) spreads uniformly
    * over ~B²/2 reducers, and shuffle volume is O(N·B). B is the
    * parallelism knob: raise it with cluster size. The cosine is the
    * codegen'd graft_dot over precomputed norms with the same
    * round-then-filter contract as the SQL oracle.
    */
  def blockedCosinePairs(spark: SparkSession, vectors: DataFrame,
      threshold: Double, numBlocks: Int = 8): DataFrame = {
    // No VerifyWidth repartition here: the block-pair join's
    // ENSURE_REQUIREMENTS exchange already hash-distributes on
    // (ba, bb), and an r17 A/B of pinning that width explicitly (plus
    // width-scaled B) measured NEUTRAL-to-worse at fixture scale
    // (cold 3.3 → 3.6 s at like steal) — the per-pair dot kernel is
    // light relative to the join machinery, unlike the levenshtein /
    // set-intersection verifies. B stays the documented cluster-size
    // knob.
    val v = vectors
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("blk", pmod(col("id"), lit(numBlocks)).cast("int"))
    val blockPairs = spark.range(numBlocks.toLong)
      .select(col("id").cast("int").as("ba"))
      .crossJoin(spark.range(numBlocks.toLong).select(col("id").cast("int").as("bb")))
      .filter(col("ba") <= col("bb"))
    val a = v.join(broadcast(blockPairs), col("blk") === col("ba"))
      .select(col("ba"), col("bb"),
        col("id").as("ia"), col("v").as("va"), col("nrm").as("na"))
    val b = v.join(broadcast(blockPairs), col("blk") === col("bb"))
      .select(col("ba").as("bb_ba"), col("bb").as("bb_bb"),
        col("id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("ba") === col("bb_ba") && col("bb") === col("bb_bb"))
      .filter(col("ba") < col("bb") || col("ia") < col("ib"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9))
      .filter(col("cos") >= threshold)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos"))
  }

  /** Spark `round(_, 9)` parity: HALF_UP on the shortest-decimal
    * representation of the double (what Catalyst's RoundBase does).
    */
  private def round9(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Deterministic pseudo-random hyperplanes: nPlanes × dim weights in
    * [-1, 1) from a fixed LCG seed — identical on every executor and
    * every run, no runtime entropy.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(nPlanes)(Array.fill(dim)(next()))
  }

  /** Sign-bit LSH codes of an embedding column, one long (nPlanes ≤ 63
    * bits) per hash table, from the codegen'd `graft_lsh_codes` kernel
    * ([[graft.functions.LshCodes]]): table t uses the deterministic
    * planes `hyperplanes(nPlanes, dim, seed = 42 + 1000·t)`, so each
    * table draws an independent plane set, and no plane value enters
    * the plan.
    */
  private def codes(emb: Column, nPlanes: Int, nTables: Int, dim: Int): Column =
    call_function("graft_lsh_codes", emb, lit(nPlanes), lit(nTables), lit(dim))

  /** The sign-bit LSH code of table `tableIdx` for an embedding column,
    * as column `lsh_code`.
    */
  def lshCode(spark: SparkSession, df: DataFrame, embCol: String,
      nPlanes: Int, dim: Int, tableIdx: Int = 0): DataFrame =
    df.withColumn("lsh_code", codes(col(embCol), nPlanes, tableIdx + 1, dim)(tableIdx))

  /** Codes for all tables at once: one row per (row, table) with the
    * table's code — the multi-table form that makes bucket-join recall
    * tunable (1−(1−p^nPlanes)^nTables, amplified by multi-probe).
    */
  private def lshCodes(df: DataFrame, embCol: String,
      nPlanes: Int, dim: Int, nTables: Int): DataFrame =
    // All tables' codes in ONE projection + posexplode — a single scan
    // of the input, where a per-table union would rescan it nTables
    // times (plan audit: 8 parquet scans → 2 for the kNN query).
    df.select(col("*"), posexplode(codes(col(embCol), nPlanes, nTables, dim))
      .as(Seq("lsh_table", "lsh_code")))

  /** Hash-plane count that keeps expected bucket occupancy ~constant
    * (~`target` rows/bucket) as the corpus grows: 2^planes buckets ∝ N.
    * With FIXED planes, occupancy grows linearly in N and the bucket
    * join goes quadratic — measured in the r10 sf0.1→sf1 evidence run
    * (q_x_ann_lsh 43× on 10× facts with 6 fixed planes). log-scaled
    * planes restore the linear candidate count that makes LSH the
    * declared 100 TB path; recall per probe drops as planes grow, which
    * is the standard planes↔tables/probes dial (dev/recall.txt).
    * Per-query candidate work is (1+planes)·tables·target ≈ O(log N) —
    * the whole query is O(N log N) instead of O(N²). target=50 keeps
    * the plane count at the historical 6 for every driver fixture
    * (≤ 2000 vectors), so recall measurements stay comparable.
    */
  def autoPlanes(corpusRows: Long, target: Long = 50L): Int =
    math.max(6, math.ceil(math.log(math.max(1.0, corpusRows.toDouble / target)) /
      math.log(2.0)).toInt)

  /** Corpus row count for [[autoPlanes]] from Catalyst plan STATISTICS
    * — never an eager job (r10 advice: `corpus.count()` at DataFrame-
    * construction time made every build of q_x_ann_lsh, including
    * explain-only PlanAudit paths, run a full corpus scan first).
    * `rowCount` is exact when CBO stats exist; the fallback divides
    * the relation's sizeInBytes (ON-DISK parquet bytes, scaled by
    * `spark.sql.sources.fileCompressionFactor` — set it above 1 for a
    * compressible corpus, it defaults to 1 and the fixtures' random
    * floats are incompressible, where the 4·dim payload + ~128 B
    * framing estimate is within 5%) by the per-row estimate. A
    * compressible corpus with the factor left at 1 under-counts rows,
    * but autoPlanes is log₂-scaled, so even a 2× row misestimate
    * moves the plane count by ≤1; a non-positive/unknown size falls
    * back to the exact count (one job, same as before).
    */
  private def estimatedRows(df: DataFrame, dim: Int): Long = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount.map(_.toLong).getOrElse {
      if (st.sizeInBytes <= 0 || !st.sizeInBytes.isValidLong) -1L
      else {
        val factor = df.sparkSession.conf
          .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
        math.max(1L, (st.sizeInBytes.toLong * factor).toLong / (4L * dim + 128L))
      }
    }
  }

  /** Approximate top-k: per hash table, queries probe their own bucket
    * plus all 1-bit neighbor buckets (multi-probe); candidates from
    * any table are verified with the exact cosine and ranked per
    * query. Recall vs [[bruteForceKnn]] is asserted in the spec.
    *
    * `nPlanes = -1` (the declared-query default) sizes the code length
    * from the corpus row count via [[autoPlanes]] — constant bucket
    * occupancy at any SF — estimated from plan statistics so plan
    * construction stays job-free ([[estimatedRows]]).
    */
  def lshKnn(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      k: Int, nPlanes: Int = -1, dim: Int = 64, nTables: Int = 4): DataFrame = {
    val nPlanes0 = if (nPlanes > 0) nPlanes else {
      val est = estimatedRows(corpus, dim)
      autoPlanes(if (est > 0) est else corpus.count())
    }
    val qc = lshCodes(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv")), "qv", nPlanes0, dim, nTables)
    val cc = lshCodes(corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv")), "cv", nPlanes0, dim, nTables)
    // multi-probe: explode each query into its code + nPlanes 1-bit flips
    val probes = qc.select(col("query_id"), col("qv"), col("lsh_table"), col("lsh_code"),
      explode(array((lit(0L) +: (0 until nPlanes0).map(p => shiftleft(lit(1L), p))): _*))
        .as("flip"))
      .withColumn("probe_code", col("lsh_code").bitwiseXOR(col("flip")))
      .select(col("query_id"), col("qv"), col("lsh_table"), col("probe_code"))
    val cands = probes.join(cc,
        probes("lsh_table") === cc("lsh_table") && col("probe_code") === cc("lsh_code"))
      .filter(col("query_id") =!= col("cand_id"))
      // a pair found through several tables has the same cosine in
      // each: rounding it per candidate row lets the dedup carry one
      // double instead of both vectors (a hash aggregate, not a sort
      // aggregate over array columns)
      .select(col("query_id"), col("cand_id"), round(cosine(col("qv"), col("cv")), 9).as("cos"))
      .dropDuplicates("query_id", "cand_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank").cast("int").as("rank"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity
    * threshold, restricted to LSH-bucket candidates (scale path) —
    * the embedding-space analog of MinHash near-dedup.
    */
  def cosineNearDups(spark: SparkSession, vectors: DataFrame,
      threshold: Double, nPlanes: Int = 10, dim: Int = 64): DataFrame = {
    val coded = lshCode(spark, vectors.select(col("vec_id"), col("embedding")),
      "embedding", nPlanes, dim)
    val a = coded.select(col("lsh_code"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = coded.select(col("lsh_code"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    a.join(b, Seq("lsh_code"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 9))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}

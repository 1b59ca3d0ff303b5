package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Cosine/kNN properties (SURVEY.md §5.2): self-similarity, range,
  * exactness of the brute-force baseline, and LSH recall against it.
  */
class SimilaritySpec extends SparkSuite {

  private def emb = Tables.table(spark, sfDir, "embeddings")

  test("cosine self-similarity is 1, range within [-1, 1]") {
    val stats = emb.select(
      round(VectorFunctions.cosine(col("embedding"), col("embedding")), 9).as("self"))
      .agg(min("self").as("mn"), max("self").as("mx")).collect().head
    assert(stats.getDouble(0) === 1.0 && stats.getDouble(1) === 1.0)

    val pair = emb.limit(50).select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.limit(50).select(col("vec_id").as("b"), col("embedding").as("vb")))
      .select(VectorFunctions.cosine(col("va"), col("vb")).as("c"))
      .agg(min("c"), max("c")).collect().head
    assert(pair.getDouble(0) >= -1.0000001 && pair.getDouble(1) <= 1.0000001)
  }

  test("brute-force kNN: k rows per query, ranks 1..k, no self-match") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val knn = Similarity.bruteForceKnn(qs, emb, k = 5).cache()
    val perQuery = knn.groupBy("query_id").agg(
      count(lit(1)).as("n"), min("rank").as("mn"), max("rank").as("mx"))
    assert(perQuery.filter(col("n") =!= 5 || col("mn") =!= 1 || col("mx") =!= 5).isEmpty)
    assert(knn.filter(col("query_id") === col("cand_id")).isEmpty)
  }

  test("LSH kNN recall@10 vs brute force is useful (> 0.3) and exact on hits") {
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceKnn(qs, emb, k = 10)
      .select(col("query_id"), col("cand_id"))
    val approx = Similarity.lshKnn(spark, qs, emb, k = 10)
      .select(col("query_id"), col("cand_id"))
    val hits = approx.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    assert(total > 0)
    val recall = hits / total
    info(f"LSH recall@10 = $recall%.3f")
    assert(recall > 0.3)
  }

  test("exactCosinePairs kernel == declarative BNLJ form, bit-exact") {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .withColumn("na", VectorFunctions.norm(col("va")))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      .withColumn("nb", VectorFunctions.norm(col("vb")))
    val declarative = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("cos"))
      .filter(col("cos") >= 0.4)
    val kernel = Similarity.exactCosinePairs(spark, emb, threshold = 0.4)
    assert(kernel.count() > 0)
    assert(kernel.exceptAll(declarative).isEmpty && declarative.exceptAll(kernel).isEmpty)
  }

  test("blockedCosinePairs == exactCosinePairs kernel, any block count") {
    val kernel = Similarity.exactCosinePairs(spark, emb, threshold = 0.4)
    for (b <- Seq(3, 8)) {
      val blocked = Similarity.blockedCosinePairs(spark, emb, threshold = 0.4, numBlocks = b)
      assert(blocked.exceptAll(kernel).isEmpty && kernel.exceptAll(blocked).isEmpty,
        s"numBlocks=$b diverges from the exact kernel")
    }
  }

  test("declared q_x_cos_pairs / q_x_ann_ivf / q_x_ann_lsh launch NO job at construction") {
    // The round-2 q_x_cos_pairs collect()ed the corpus to the driver
    // while BUILDING the DataFrame; IVF training ran a count(); the
    // r10 lshKnn autoPlanes default counted the corpus eagerly (r10
    // advice — stats-based estimate now). All gone: constructing the
    // plan must be fully lazy (no driver-side materialization).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // parquet footer/schema metadata reads are benign (every
        // spark.read.parquet call lists + reads footers) — only DATA
        // materialization (collect/count at construction) is the bug.
        val names = js.stageInfos.map(_.name)
        if (!names.forall(_.startsWith("parquet at "))) {
          jobs.add(s"job ${js.jobId} (${names.mkString("; ")})")
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q_x_cos_pairs")(spark, sfDir)
      SparkEntry.queries("q_x_ann_ivf")(spark, sfDir)
      SparkEntry.queries("q_x_ann_lsh")(spark, sfDir)
      Thread.sleep(500) // listener delivery is async; no wait API is public
      assert(jobs.isEmpty,
        s"query construction launched Spark jobs (driver-side materialization): $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("lshKnn dedups candidate pairs with no sort aggregate and no array column") {
    // the cosine is rounded per candidate row before the dedup, so the
    // aggregate carries (query_id, cand_id, cos), never the vectors
    val plan = Similarity.lshKnn(spark, emb.filter(col("vec_id") % 25 === 0), emb, k = 10)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    val aggs = plan.collect { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, plan)
    assert(plan.collect { case a: SortAggregateExec => a }.isEmpty, plan)
    val arrays = aggs.flatMap(a => a.child.output ++ a.output)
      .filter(_.dataType.isInstanceOf[ArrayType])
    assert(arrays.isEmpty, plan)
  }

  test("hyperplanes are deterministic across invocations") {
    val a = Similarity.hyperplanes(4, 8)
    val b = Similarity.hyperplanes(4, 8)
    assert(a.flatten.toSeq === b.flatten.toSeq)
    assert(a.flatten.forall(x => x >= -1.0 && x < 1.0))
  }

  test("autoPlanes keeps bucket occupancy ~constant and fixture scale stable") {
    // every driver fixture (<= 2000 vectors) must stay at the
    // historical 6 planes so recall measurements remain comparable
    assert(Similarity.autoPlanes(0) == 6)
    assert(Similarity.autoPlanes(500) == 6)
    assert(Similarity.autoPlanes(2000) == 6)
    // beyond that: 2^planes grows with N/target -> occupancy bounded
    for (n <- Seq(20000L, 200000L, 2000000L, 2000000000L)) {
      val p = Similarity.autoPlanes(n)
      val occupancy = n.toDouble / (1L << p)
      assert(occupancy <= 50.0 + 1e-9, s"n=$n planes=$p occupancy=$occupancy")
      assert(p <= 63, "code must fit one long")
    }
    // monotone in corpus size
    val ps = Seq(1L, 100L, 10000L, 1000000L, 100000000L).map(Similarity.autoPlanes(_))
    assert(ps == ps.sorted)
  }
}

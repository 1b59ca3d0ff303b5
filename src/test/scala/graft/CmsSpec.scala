package graft

import org.apache.spark.sql.functions._

import graft.functions.CountMin

/** Count–Min sketch contracts: the three properties that make it safe
  * to substitute for exact counts at scale.
  */
class CmsSpec extends SparkSuite {
  import spark.implicits._

  private val depth = 4
  private val width = 2048

  private def tokens = Tables.table(spark, sfDir, "documents")
    .select(explode(split(col("text"), " ")).as("t"))

  /** Raw counters (geometry header stripped and validated). */
  private def sketchOf(df: org.apache.spark.sql.DataFrame): Array[Long] = {
    val full = df.agg(call_function("graft_cms", col("t"), lit(depth), lit(width)).as("sk"))
      .as[Seq[Long]].head().toArray
    assert(full.length == 2 + depth * width)
    assert(full(0) == depth.toLong && full(1) == width.toLong,
      "sketch header must carry the build geometry")
    full.drop(2)
  }

  private def estimate(sk: Array[Long], item: String): Long =
    (0 until depth).map(i => sk(i * width + CountMin.bucket(item, i, width))).min

  test("estimates never undercount and respect the width error bound") {
    val exact = tokens.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val sk = sketchOf(tokens)
    exact.foreach { case (t, c) =>
      val est = estimate(sk, t)
      assert(est >= c, s"'$t': estimate $est under exact $c — CMS must never undercount")
      // E[excess] = (n - c)/width per row; min over depth rows. 8× the
      // per-row expectation is a generous but non-vacuous envelope.
      assert(est - c <= math.max(8L * n / width, 8L),
        s"'$t': excess ${est - c} beyond plausible collision mass (n=$n)")
    }
  }

  test("the sketch is linear: merge of disjoint halves equals the whole") {
    val whole = sketchOf(tokens)
    val h1 = sketchOf(Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0).select(explode(split(col("text"), " ")).as("t")))
    val h2 = sketchOf(Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 =!= 0).select(explode(split(col("text"), " ")).as("t")))
    val merged = h1.zip(h2).map { case (a, b) => a + b }
    assert(merged.sameElements(whole),
      "element-wise sum of per-half sketches must equal the whole-corpus sketch")
  }

  test("sketch is deterministic across partitionings") {
    val a = sketchOf(tokens.repartition(3))
    val b = sketchOf(tokens.repartition(17))
    assert(a.sameElements(b))
  }

  test("graft_cms_query matches the local estimator and degrades on geometry mismatch") {
    val sk = tokens.agg(call_function("graft_cms", col("t"), lit(depth), lit(width)).as("sk"))
    val probed = Seq("data", "nosuchtokenxyz").toDF("token")
      .crossJoin(broadcast(sk))
      .select(col("token"),
        call_function("graft_cms_query", col("sk"), col("token"), lit(depth), lit(width)).as("est"))
      .as[(String, Long)].collect().toMap
    val local = sketchOf(tokens)
    assert(probed("data") == estimate(local, "data"))
    assert(probed("nosuchtokenxyz") >= 0) // absent item: pure collision mass
    // wrong declared geometry → null, not an abort (ANSI-mode safety)
    val bad = Seq("data").toDF("token").crossJoin(broadcast(sk))
      .select(call_function("graft_cms_query", col("sk"), col("token"), lit(2), lit(99)).as("est"))
      .select(col("est").isNull).as[Boolean].head()
    assert(bad, "geometry mismatch must yield NULL")
    // the insidious case: PRODUCT-compatible wrong geometry (2×4096 ==
    // 4×2048 elements) would silently probe wrong buckets and could
    // undercount — the self-describing header must reject it too
    val prodBad = Seq("data").toDF("token").crossJoin(broadcast(sk))
      .select(call_function("graft_cms_query", col("sk"), col("token"),
        lit(2), lit(depth * width / 2)).as("est"))
      .select(col("est").isNull).as[Boolean].head()
    assert(prodBad, "product-compatible geometry mismatch must yield NULL, not wrong buckets")
  }
}

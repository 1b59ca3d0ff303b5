package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.NgramGrain

/** The shared distinct word-n-gram grain (operators.NgramGrain):
  * with [[Memo]] off (the Verify default) it builds fresh standalone
  * plans and prunes the source column out of consumers that never
  * read it; memo on serves ONE frame per (session, dir, n); cached and
  * uncached results are identical, and both match the direct
  * tokenization expression they replaced. Resets state in finally so
  * the shared test session never leaks bench behavior into other
  * suites.
  */
class NgramGrainSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("sets/postings match direct tokenization; cache serves one frame") {
    Memo.reset()
    val direct3 = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(TextFunctions.wordNgramsExpr("text", 3)).as("g"))
    val wantSets = rows(direct3)
    val wantPost = rows(direct3.select(col("doc_id"), explode(col("g")).as("g")))
    val wantPost5 = rows(Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(TextFunctions.wordNgramsExpr("text", 5))).as("g")))

    val fresh1 = NgramGrain.sets(spark, sfDir, 3)
    val fresh2 = NgramGrain.sets(spark, sfDir, 3)
    assert(fresh1.queryExecution.logical ne fresh2.queryExecution.logical,
      "memo off must build standalone plans")
    assert(rows(fresh1) == wantSets)
    assert(rows(NgramGrain.postings(spark, sfDir, 3)) == wantPost)
    assert(rows(NgramGrain.postings(spark, sfDir, 5)) == wantPost5)

    Memo.enable()
    try {
      val f1 = NgramGrain.frame(spark, sfDir, 3)
      val f2 = NgramGrain.frame(spark, sfDir, 3)
      assert(f1 eq f2, "memo on must serve one frame per (session, dir, n)")
      val f5 = NgramGrain.frame(spark, sfDir, 5)
      assert(f1 ne f5, "n must key the memo")
      assert(rows(NgramGrain.sets(spark, sfDir, 3)) == wantSets,
        "cached sets must equal uncached")
      assert(rows(NgramGrain.postings(spark, sfDir, 3)) == wantPost,
        "cached postings must equal uncached")
      val fr1 = NgramGrain.freshSets(spark, sfDir, 3)
      val fr2 = NgramGrain.freshSets(spark, sfDir, 3)
      assert(fr1.queryExecution.logical ne fr2.queryExecution.logical,
        "freshSets must bypass the memo even when it is on")
      assert(rows(fr1) == wantSets, "freshSets must equal cached sets")
    } finally Memo.reset()
  }

  test("caching off prunes source out of doc-grain consumers") {
    Memo.reset()
    val plan = NgramGrain.sets(spark, sfDir, 3)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty, "expected a parquet scan under the gram sets")
    scans.foreach { cols =>
      assert(!cols.contains("source"),
        s"doc-grain consumer must not read source, got $cols")
      assert(cols == Set("doc_id", "text"),
        s"gram sets must read only (doc_id, text), got $cols")
    }
  }

  test("schema-adaptive: a documents table without source still serves sets") {
    Memo.reset()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ngrain").toString
    Seq((1L, "a b c d"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = rows(NgramGrain.sets(spark, dir, 3))
    assert(got == Set(
      Row(1L, Seq("a b c", "b c d")),
      Row(2L, Seq("a b c", "b c d", "c d e"))))
  }
}

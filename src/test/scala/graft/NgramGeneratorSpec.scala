package graft

import org.apache.spark.sql.functions._

/** The custom Generator (UDTF surface, SURVEY §2.9): row-for-row
  * equivalence with the array-then-explode form, edge cases, and the
  * plan shape that motivates it.
  */
class NgramGeneratorSpec extends SparkSuite {
  import spark.implicits._

  private def viaGenerator(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.selectExpr("doc_id", s"graft_explode_ngrams(text, $n)")

  private def viaArray(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.select(col("doc_id"),
      posexplode(expr(s"graft_word_ngrams(text, $n)")).as(Seq("pos", "gram")))

  test("generator == posexplode(array expression) on the fixture, n in {2,3,5}") {
    val docs = Tables.table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    Seq(2, 3, 5).foreach { n =>
      val a = viaGenerator(docs, n).as[(Long, Int, String)].collect().sorted.toSeq
      val b = viaArray(docs, n).as[(Long, Int, String)].collect().sorted.toSeq
      assert(a == b, s"n=$n: generator diverges from array form")
    }
  }

  test("edge cases: null text, short text, trailing separators") {
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "one two"),
      (4L, "a b c "),   // trailing space → empty final token, same as split()
      (5L, "x y z")
    ).toDF("doc_id", "text")
    val a = viaGenerator(docs, 3).as[(Long, Int, String)].collect().sorted.toSeq
    val b = viaArray(docs, 3).as[(Long, Int, String)].collect().sorted.toSeq
    assert(a == b)
    assert(!a.exists(_._1 == 1L), "null text must emit nothing")
    assert(!a.exists(_._1 == 3L), "2 words cannot form a trigram")
    assert(a.count(_._1 == 4L) == 2, "trailing empty token participates like split()")
  }

  test("the generator plans as Generate without an array-materializing projection") {
    val docs = Tables.table(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val plan = viaGenerator(docs, 3).queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"expected GenerateExec in:\n$plan")
    assert(plan.contains("graft_explode_ngrams"))
    // the array expression must NOT appear anywhere in this plan — the
    // whole point is that no per-row gram array is ever built
    assert(!plan.contains("graft_word_ngrams"))
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.storage.StorageLevel

import graft.operators.{CosGraph, DayGrain, DupGraph}

/** The session-keyed memo ([[Memo]]) on the similarity graphs
  * (DupGraph / CosGraph): memo off (the Verify default) builds fresh
  * standalone plans; memo on serves ONE frame per (session, dir,
  * threshold), never to another session; cached and uncached results
  * are identical; reset unpersists every entry. Resets in finally so
  * the shared test session never leaks bench behavior into other
  * suites.
  */
class GraphCacheSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.collect().toSet

  test("CosGraph: off = fresh plans, on = one frame per key, results equal") {
    Memo.reset()
    val fresh1 = CosGraph.pairs(spark, sfDir, 0.35)
    val fresh2 = CosGraph.pairs(spark, sfDir, 0.35)
    assert(fresh1 ne fresh2, "memo off must build standalone plans")
    val want = rows(fresh1)
    Memo.enable()
    try {
      val c1 = CosGraph.pairs(spark, sfDir, 0.35)
      val c2 = CosGraph.pairs(spark, sfDir, 0.35)
      assert(c1 eq c2, "memo on must serve one frame per (dir, threshold)")
      assert(CosGraph.pairs(spark, sfDir, 0.45) ne c1,
        "different threshold must be a different memo entry")
      assert(rows(c1) == want, "cached result must equal the uncached one")
    } finally Memo.reset()
    assert(CosGraph.pairs(spark, sfDir, 0.35) ne fresh1)
  }

  test("DupGraph: same contract on the shingle modality") {
    Memo.reset()
    val fresh = DupGraph.pairs(spark, sfDir, 0.7)
    val want = rows(fresh)
    Memo.enable()
    try {
      val c1 = DupGraph.pairs(spark, sfDir, 0.7)
      assert(c1 eq DupGraph.pairs(spark, sfDir, 0.7))
      assert(rows(c1) == want)
    } finally Memo.reset()
  }

  test("DupGraph.clusters: same contract at the CC level (r17 grain)") {
    Memo.reset()
    val fresh1 = DupGraph.clusters(spark, sfDir, 0.7)
    val fresh2 = DupGraph.clusters(spark, sfDir, 0.7)
    assert(fresh1 ne fresh2, "memo off must build standalone CC plans")
    val want = rows(fresh1)
    assert(want.nonEmpty, "every doc is a CC node — frame must cover the corpus")
    Memo.enable()
    try {
      val c1 = DupGraph.clusters(spark, sfDir, 0.7)
      assert(c1 eq DupGraph.clusters(spark, sfDir, 0.7),
        "memo on must serve one cluster frame per (dir, threshold)")
      assert(rows(c1) == want, "cached CC assignment must equal the uncached one")
    } finally Memo.reset()
  }

  test("Memo: an entry built on one session is never served to another") {
    Memo.reset()
    val other = spark.newSession()
    Memo.enable()
    try {
      val cos = CosGraph.pairs(spark, sfDir, 0.35)
      val cosOther = CosGraph.pairs(other, sfDir, 0.35)
      assert(cosOther ne cos, "another session must get its own entry")
      assert(cosOther.sparkSession eq other)
      assert(CosGraph.pairs(other, sfDir, 0.35) eq cosOther,
        "each session is served its own one frame")
      assert(rows(cosOther) == rows(cos))
      // star tables are memoized per session too
      val orders = Tables.table(spark, sfDir, "orders")
      assert(Tables.table(spark, sfDir, "orders") eq orders)
      val ordersOther = Tables.table(other, sfDir, "orders")
      assert(ordersOther ne orders, "a star table must not cross sessions")
      assert(ordersOther.sparkSession eq other)
    } finally Memo.reset()
  }

  test("Memo.reset() leaves no DataFrame entry persisted") {
    Memo.reset()
    Memo.enable()
    val frames = try {
      val fs = Seq(
        CosGraph.pairs(spark, sfDir, 0.35),
        DayGrain.frame(spark, sfDir),
        Tables.table(spark, sfDir, "nation"))
      fs.foreach(f => assert(f.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "memo on must persist its DataFrame entries MEMORY_AND_DISK"))
      fs
    } finally Memo.reset()
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
      "reset must unpersist every entry"))
  }
}

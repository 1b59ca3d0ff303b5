package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Components, Kcore, Lpa, PageRank, RangeJoin}
import graft.plans.AsOf

/** Misuse must fail fast with a clear message — not return wrong
  * results (the operator contracts a library consumer relies on).
  */
class ApiContractSpec extends SparkSuite {
  import spark.implicits._

  test("as-of join rejects mismatched key types") {
    val left = Seq((1L, new java.sql.Timestamp(1000))).toDF("k", "ts")
    val right = Seq(("1", new java.sql.Timestamp(500), "x")).toDF("rk", "rts", "tag")
    val e = intercept[Exception] {
      AsOf.join(spark, left, right, "k", "ts", "rk", "rts").collect()
    }
    assert(e.getMessage.contains("as-of key types differ"), e.getMessage)
  }

  test("as-of join rejects a non-temporal ts column") {
    val left = Seq((1L, "notatime")).toDF("k", "ts")
    val right = Seq((1L, "alsonot", "x")).toDF("rk", "rts", "tag")
    val e = intercept[Exception] {
      AsOf.join(spark, left, right, "k", "ts", "rk", "rts").collect()
    }
    assert(e.getMessage.contains("must be TIMESTAMP or BIGINT"), e.getMessage)
  }

  test("as-of join rejects an unknown direction") {
    val df = Seq((1L, new java.sql.Timestamp(0))).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      AsOf.join(spark, df, df.toDF("rk", "rts"), "k", "ts", "rk", "rts",
        direction = "nearest")
    }
    assert(e.getMessage.contains("backward|forward"), e.getMessage)
  }

  test("range join rejects a non-positive bin width") {
    val pts = Seq((1L, 1.0)).toDF("pid", "v")
    val iv = Seq((1L, 0.0, 2.0)).toDF("iid", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      RangeJoin.binned(pts, iv, "v", "lo", "hi", binWidth = 0.0)
    }
    assert(e.getMessage.contains("binWidth"), e.getMessage)
  }

  test("freq_items and ngram expressions reject non-positive size parameters") {
    val e1 = intercept[Exception] { functions.FreqItems(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), k = 0) }
    assert(e1.getMessage.contains("positive"))
    val e2 = intercept[Exception] { functions.CharNgrams(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), n = 0) }
    assert(e2.getMessage.contains("positive"))
  }

  test("connected components reports non-convergence instead of partial labels") {
    val nodes = (0L to 9L).toDF("id")
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(nodes, edges, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("connected components fails loudly on an edge endpoint missing from nodes") {
    // 9 is not a node: it has no self-loop row, so the first label
    // aggregate raises before any round runs, never labelling it
    val nodes = (0L to 3L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 9L)).toDF("a", "b")
    val e = intercept[Exception] {
      Components.connectedComponents(nodes, edges, maxRounds = 5)
    }
    assert(e.getMessage.contains("connectedComponents: edge endpoint not in nodes: 9"),
      e.getMessage)
  }

  test("pagerank fails loudly on an edge endpoint missing from nodes") {
    // 9 is not a node: its round aggregate has no zero row, so `n` is
    // NULL there; that must raise, never emit a NULL rank for it
    val nodes = (0L to 3L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 9L)).toDF("a", "b")
    val e = intercept[Exception] {
      PageRank.pageRank(nodes, edges, rounds = 3).collect()
    }
    assert(e.getMessage.contains("edge endpoint not in nodes: 9"), e.getMessage)
  }

  test("k-core reports non-convergence instead of a half-peeled graph") {
    // a 10-node path peels from both ends one vertex per level: one
    // round (two levels) leaves 2..7, which is not a 2-core
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Kcore.kCore(edges, k = 2, maxRounds = 1)
    }
    assert(e.getMessage.contains("kCore did not converge in 1 rounds"), e.getMessage)
  }

  test("lpa fails loudly on an edge endpoint missing from nodes") {
    // 9 is not a node: it receives 3's label but has no self row, so
    // the round raises instead of labelling it
    val nodes = (0L to 3L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 9L)).toDF("a", "b")
    val e = intercept[Exception] {
      Lpa.communities(nodes, edges, rounds = 3).collect()
    }
    assert(e.getMessage.contains("edge endpoint not in nodes: 9"), e.getMessage)
  }
}

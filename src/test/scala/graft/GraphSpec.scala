package graft

import graft.operators.Graph

/** The shared graph-operator pieces: the converging round loop (on a
  * plain counter, no Spark) and the undirected edge prelude.
  */
class GraphSpec extends SparkSuite {

  test("untilStable runs exactly k rounds when round k reports stable") {
    for (k <- 1 to 5) {
      var calls = 0
      val out = Graph.untilStable("counter", maxRounds = 5, init = 0) { s =>
        calls += 1
        (s + 1, s + 1 == k)
      }
      assert(calls === k)
      assert(out === k)
    }
  }

  test("untilStable fails after exactly maxRounds rounds that never converge") {
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      Graph.untilStable("counter", maxRounds = 7, init = 0) { s =>
        calls += 1
        (s + 1, false)
      }
    }
    assert(calls === 7)
    assert(e.getMessage === "requirement failed: counter did not converge in 7 rounds")
  }

  test("undirected keeps each unordered pair once in each direction, no self-loops") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L), (4L, 1L)).toDF("a", "b")
    val got = Graph.undirected(edges).as[(Long, Long)].collect().toSeq.sorted
    assert(got === Seq((1L, 2L), (1L, 4L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 1L)))
  }
}

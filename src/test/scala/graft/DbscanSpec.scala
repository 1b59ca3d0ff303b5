package graft

import org.apache.spark.sql.functions._

import graft.operators.Dbscan

/** Graph-DBSCAN semantics (operators.Dbscan) against hand-built and
  * brute-force references with the same deterministic border rule.
  */
class DbscanSpec extends SparkSuite {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], minPts: Int): Map[Long, (String, Long)] =
    Dbscan.cluster(edges.toDF("a", "b"), minPts)
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap

  private def brute(edges: Seq[(Long, Long)], minPts: Int): Map[Long, (String, Long)] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1))).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).toSet }
    val core = sym.collect { case (u, nb) if nb.size >= minPts - 1 => u }.toSet
    // components of the core subgraph, label = min id
    var label = core.map(c => c -> c).toMap
    var changed = true
    while (changed) {
      changed = false
      for (u <- core; v <- sym(u) if core(v)) {
        val m = math.min(label(u), label(v))
        if (label(u) != m || label(v) != m) {
          label += u -> m; label += v -> m; changed = true
        }
      }
    }
    val coreOut = core.map(c => c -> ("core", label(c)))
    val borderOut = sym.keys.filterNot(core).flatMap { u =>
      val cs = sym(u).filter(core).map(label)
      if (cs.isEmpty) None else Some(u -> ("border", cs.min))
    }
    (coreOut ++ borderOut).toMap
  }

  test("two clumps, a bridge, and noise classify correctly") {
    // clump A: K4 on 0-3; clump B: K4 on 10-13; bridge 3-20-10 (20 is
    // degree-2 => noise at minPts 4... but it touches cores 3 and 10
    // => border, min cluster); 30-31 isolated pair => noise (absent)
    val k4a = for (a <- 0L until 4L; b <- (a + 1) until 4L) yield (a, b)
    val k4b = for (a <- 10L until 14L; b <- (a + 1) until 14L) yield (a, b)
    val edges = k4a ++ k4b ++ Seq((3L, 20L), (10L, 20L), (30L, 31L))
    val got = run(edges, minPts = 4)
    assert((0L until 4L).forall(i => got(i) == ("core", 0L)))
    assert((10L until 14L).forall(i => got(i) == ("core", 10L)))
    assert(got(20L) == ("border", 0L)) // touches both; min cluster wins
    assert(!got.contains(30L) && !got.contains(31L)) // noise: absent
  }

  test("random graph matches brute-force reference at several minPts") {
    val rnd = new scala.util.Random(7)
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L if rnd.nextDouble() < 0.12
    } yield (a, b)).toSeq
    for (minPts <- Seq(3, 4, 6)) {
      assert(run(edges, minPts) === brute(edges, minPts), s"minPts=$minPts")
    }
  }
}

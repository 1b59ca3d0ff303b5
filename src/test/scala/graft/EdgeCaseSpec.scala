package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Dedup, Upsert}
import graft.plans.AsOf

/** SURVEY.md §5.2 item 2 edge cases: empty inputs, all-duplicate
  * inputs, null keys, empty join sides.
  */
class EdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  private def kv = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
  private def empty = kv.filter("1 = 0")

  test("upsert: empty incoming is identity; empty target returns incoming") {
    assert(Upsert.upsert(kv, empty, Seq("k")).except(kv).isEmpty)
    assert(Upsert.upsert(empty, kv, Seq("k")).except(kv).isEmpty)
    assert(Upsert.upsert(empty, empty, Seq("k")).isEmpty)
  }

  test("upsert with null keys: null-key targets survive (no equi-match on null)") {
    val target = Seq((Some(1L), "a"), (None, "nullrow")).toDF("k", "v")
    val incoming = Seq((Some(1L), "a2"), (None, "nullrow2")).toDF("k", "v")
    val merged = Upsert.upsert(target, incoming, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    // anti-join on null key matches nothing -> old null row survives,
    // incoming null row also lands: documents the PK-must-be-non-null
    // invariant (the reference's PK columns are NOT NULL by definition)
    assert(merged === Set((Some(1L), "a2"), (None, "nullrow"), (None, "nullrow2")))
  }

  test("dedupKeyed: all-duplicate input collapses to one row per key") {
    val dup = Seq.fill(50)((7L, 1, "x")).toDF("k", "seq", "v")
    assert(Upsert.dedupKeyed(dup, Seq("k"), Seq(col("seq"))).count() === 1)
  }

  test("dedup family on empty documents returns empty, not error") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactByHash(emptyDocs, "text", "doc_id").isEmpty)
    assert(Dedup.minhashNearDups(emptyDocs, "text", "doc_id").isEmpty)
    assert(Dedup.simhashNearDups(emptyDocs, "text", "doc_id").isEmpty)
  }

  test("as-of join with empty right yields empty (inner); empty left yields empty") {
    val l = Seq((1L, 1L, new java.sql.Timestamp(1000))).toDF("id", "k", "ts")
    val r = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("rk", "rts", "v")
    assert(AsOf.join(spark, l, r, "k", "ts", "rk", "rts").isEmpty)
    val l0 = l.filter("1 = 0")
    val r1 = Seq((1L, new java.sql.Timestamp(500), 1.0)).toDF("rk", "rts", "v")
    assert(AsOf.join(spark, l0, r1, "k", "ts", "rk", "rts").isEmpty)
  }

  test("graph operators on empty / degenerate edge lists return empty, not error") {
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(operators.Triangles.perVertex(noEdges).isEmpty)
    assert(operators.Dbscan.cluster(noEdges, minPts = 3).isEmpty)
    assert(operators.Kcore.kCore(noEdges, k = 2).isEmpty)
    // a single edge: no triangles, no DBSCAN core at minPts 3, no 2-core
    val one = Seq((1L, 2L)).toDF("a", "b")
    assert(operators.Triangles.perVertex(one).isEmpty)
    assert(operators.Dbscan.cluster(one, minPts = 3).isEmpty)
    assert(operators.Kcore.kCore(one, k = 2).isEmpty)
    // minPts = 2: every edge endpoint is core (neighborhood of 2)
    val db = operators.Dbscan.cluster(one, minPts = 2)
      .as[(Long, String, Long)].collect().toSet
    assert(db === Set((1L, "core", 1L), (2L, "core", 1L)))
  }

  test("kmv sketch of an empty / all-null column is an empty array") {
    val out = Seq.empty[String].toDF("h")
      .agg(call_function("graft_kmv", col("h"), lit(8)).as("ks"))
      .as[Seq[String]].head()
    assert(out.isEmpty)
    val nulls = Seq[Option[String]](None, None).toDF("h")
      .agg(call_function("graft_kmv", col("h"), lit(8)).as("ks"))
      .as[Seq[String]].head()
    assert(nulls.isEmpty)
  }

  test("streaming dedupWithinWatermark drains the fixture without state errors") {
    val out = streaming.StreamingJobs.dedupWithinWatermark(
      streaming.StreamingJobs.readEvents(spark, sfDir))
      .select(col("event_id"))
    val q = out.writeStream.format("memory").queryName("t_wmdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = Tables.events(spark, sfDir).count()
    assert(spark.table("t_wmdedup").count() === n)
  }
}

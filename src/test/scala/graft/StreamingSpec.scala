package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingJobs

/** Structured-Streaming forms verified by batch-equivalence
  * (SURVEY.md §5.2): the same transform over `events` must agree with
  * the oracle'd batch queries when drained with Trigger.AvailableNow.
  */
class StreamingSpec extends SparkSuite {

  private def drain(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  test("streaming tumbling agg == batch tumbling agg") {
    val streamed = drain(
      StreamingJobs.tumbling(StreamingJobs.readEvents(spark, sfDir)),
      "t_tumble", "complete")
      .select(col("ws"), col("event_type"), col("n"))
    val batch = SparkEntry.queries("q_s_tumble")(spark, sfDir)
      .select(col("ws"), col("event_type"), col("n"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming sliding windows == batch sliding windows (counts)") {
    val streamed = drain(
      StreamingJobs.sliding(StreamingJobs.readEvents(spark, sfDir)),
      "t_slide", "complete")
      .select(col("ws"), col("event_type"), col("n"))
    val batch = SparkEntry.queries("q_s_slide")(spark, sfDir)
      .select(col("ws"), col("event_type"), col("n"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming session windows == batch session windows") {
    val streamed = drain(
      StreamingJobs.sessions(StreamingJobs.readEvents(spark, sfDir)),
      "t_sess", "complete")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n"))
    val batch = SparkEntry.queries("q_s_session")(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming dedup emits each event_id once") {
    val streamed = drain(
      StreamingJobs.dedup(StreamingJobs.readEvents(spark, sfDir))
        .select(col("event_id")),
      "t_dedup", "append")
    val n = Tables.events(spark, sfDir).count()
    assert(streamed.count() === n)
    assert(streamed.distinct().count() === n)
  }

  test("streaming near-dedup foreachBatch == batch cross-corpus join") {
    import graft.functions.TextFunctions
    // static historical corpus: pre-shingled word-trigram sets
    val docs = Tables.table(spark, sfDir, "documents")
    val corpusSets = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        array_distinct(TextFunctions.wordNgramsExpr("text", 3)).as("g"))
    // accumulate per-batch outputs; batching must not change the union
    val novelIds = scala.collection.mutable.Set.empty[Long]
    val dupPairs = scala.collection.mutable.Set.empty[(Long, Long)]
    val writer = StreamingJobs.nearDedupSink(
      StreamingJobs.readDocuments(spark, sfDir).filter(col("doc_id") % 5 === 0),
      corpusSets, "text", "doc_id", threshold = 0.6) { (novel, dups, _) =>
      novelIds ++= novel.select(col("doc_id")).collect().map(_.getLong(0))
      dupPairs ++= dups.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      ()
    }
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val batchPairs = operators.Dedup.exactJaccardJoin(
        docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"),
          array_distinct(TextFunctions.wordNgramsExpr("text", 3)).as("g")),
        corpusSets, "doc_id", "g", 0.6)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs === batchPairs)
    val batchNovel = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet --
      batchPairs.map(_._1)
    assert(novelIds === batchNovel)
    assert(novelIds.nonEmpty) // fixture has novel batch docs
  }

  test("foreachBatch upsert sink merges last-writer-wins into target") {
    var store: DataFrame = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
      .filter("1 = 0")
    val writer = StreamingJobs.upsertSink(
      StreamingJobs.readEvents(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts"), col("value")),
      keys = Seq("user_id", "event_type"), orderCol = "ts") {
      (batch, _) =>
        store = operators.Upsert.upsertByPriority(
          store, batch, Seq("user_id", "event_type"), Seq(col("ts"))).cache()
        store.count() // materialize within the batch
        ()
    }
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // final state: exactly one row per (user_id, event_type), the latest
    val expected = operators.Upsert.dedupKeyed(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), col("ts"), col("value")),
      Seq("user_id", "event_type"), Seq(col("ts")))
    assert(store.count() === expected.count())
    assert(store.select(col("user_id"), col("event_type"), col("ts"))
      .except(expected.select(col("user_id"), col("event_type"), col("ts"))).isEmpty)
  }
}

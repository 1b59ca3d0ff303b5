package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.WeatherIngest

/** End-to-end pipeline test (SURVEY.md §5.2 item 4): synthetic OWM
  * payloads → streaming ingest → transform → intra-batch dedup →
  * keyed upsert → golden output; replayed to prove idempotence
  * (the reference's 5-min replay-tolerant merge, weather-etl.py:46,
  * 152-163).
  */
class WeatherPipelineE2eSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // single line: the streaming text source yields one record per line
  private def payload(city: String, dt: Long, temp: Double): String =
    s"""{"dt": $dt, "timezone": 3600, "name": "$city", """ +
      s""""weather": [{"description": "clouds"}], "main": {"temp": $temp}}"""

  test("streaming ingest -> dedup -> upsert -> golden; replay is a no-op") {
    val dir = Files.createTempDirectory("graft-e2e").toString
    // batch 1: two cities + an exact duplicate record (intra-batch dup)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      Seq(payload("Rotterdam", 1704067200L, 7.3),
        payload("Delft", 1704067200L, 6.8),
        payload("Rotterdam", 1704067200L, 7.3)).mkString("\n"))

    var target: DataFrame = null
    val q = spark.readStream.text(dir)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val transformed = WeatherIngest.transform(batch.as[String])
        val base = if (target == null) transformed.filter("1 = 0") else target
        target = WeatherIngest.merge(base, transformed).cache()
        target.count()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // golden after batch 1: dup collapsed, 2 keys
    assert(target.count() === 2)
    val t1 = target.orderBy("city_name").collect()
    assert(t1.map(_.getString(1)).toSeq === Seq("Delft", "Rotterdam"))
    assert(t1.map(_.getDouble(3)).toSeq === Seq(6.8, 7.3))

    // batch 2: Rotterdam re-fetched with a new temp + a new city
    val batch2 = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(
        payload("Rotterdam", 1704067200L, 9.9),
        payload("Gouda", 1704067500L, 5.5))).fetch(spark))
    val after2 = WeatherIngest.merge(target, batch2)
    assert(after2.count() === 3)
    assert(after2.filter($"city_name" === "Rotterdam").collect().head.getDouble(3) === 9.9)

    // replay batch 2: identical state (idempotent merge)
    val replayed = WeatherIngest.merge(after2, batch2)
    assert(replayed.except(after2).isEmpty && after2.except(replayed).isEmpty)
  }

  test("DSv2 replay source: one batch, one partition per tick, merge golden") {
    val dir = Files.createTempDirectory("graft-dsv2").toString
    def write(tick: Int, city: String, dt: Long, temp: Double): Unit = {
      val d = java.nio.file.Paths.get(s"$dir/tick=$tick")
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"$city.json"), payload(city, dt, temp))
    }
    // tick 0 = first poll cycle (3 cities); tick 1 = second cycle:
    // Rotterdam re-polled (same dt key -> upsert replaces) + a new city
    write(0, "Rotterdam", 1704067200L, 7.3)
    write(0, "Delft", 1704067200L, 6.8)
    write(0, "Leiden", 1704067200L, 4.1)
    write(1, "Rotterdam", 1704067200L, 9.9)
    write(1, "Gouda", 1704067500L, 5.5)

    var target: DataFrame = null
    val batchParts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val batchTicks = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def drain(maxTicks: Int): Unit = {
      batchParts.clear(); batchTicks.clear()
      val q = spark.readStream
        .format(classOf[graft.streaming.WeatherReplayProvider].getName)
        .option("path", dir)
        .option("maxTicksPerBatch", maxTicks.toString)
        .load()
        .writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batchParts += batch.rdd.getNumPartitions
          batchTicks += batch.select("tick").distinct().as[Long].collect().sorted.toSeq
          val transformed = WeatherIngest.transform(batch.select("body").as[String])
          val base = if (target == null) transformed.filter("1 = 0") else target
          target = WeatherIngest.merge(base, transformed).cache()
          target.count()
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(1)

    // admission control: one tick per micro-batch, in order
    assert(batchTicks.toSeq === Seq(Seq(0L), Seq(1L)))
    // one input partition per tick, whatever its number of city files
    assert(batchParts.toSeq === Seq(1, 1))
    // golden end state: 4 cities, Rotterdam overwritten by tick 1
    assert(target.count() === 4)
    assert(target.filter($"city_name" === "Rotterdam").collect().head.getDouble(3) === 9.9)
    assert(target.filter($"city_name" === "Leiden").collect().head.getDouble(3) === 4.1)

    // two ticks per batch: one batch, read as one partition per tick
    target = null
    drain(2)
    assert(batchTicks.toSeq === Seq(Seq(0L, 1L)))
    assert(batchParts.toSeq === Seq(2))
  }

  test("merge plan: one source scan, one shuffle, one input partition per tick") {
    val dir = Files.createTempDirectory("graft-dsv2-plan").toString
    val store = Files.createTempDirectory("graft-dsv2-plan-store").toString
    for (tick <- 0 until 4; city <- Seq("Delft", "Gouda", "Leiden")) {
      val d = java.nio.file.Paths.get(s"$dir/tick=$tick")
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"$city.json"), payload(city, 1704067200L + 300L * tick, tick))
    }
    val schema = WeatherIngest.transform(spark.emptyDataset[String]).schema
    var prev: Option[String] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    val q = spark.readStream
      .format(classOf[graft.streaming.WeatherReplayProvider].getName)
      .option("path", dir)
      .option("maxTicksPerBatch", "2")
      .load()
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ticks = batch.select("tick").distinct().count().toInt
        val parts = batch.rdd.getNumPartitions
        val base = prev.map(spark.read.schema(schema).parquet(_))
          .getOrElse(spark.createDataFrame(java.util.List.of[Row](), schema))
        val merged = WeatherIngest.merge(base,
          WeatherIngest.transform(batch.select("body").as[String]))
        merged.collect()
        val plan = merged.queryExecution.executedPlan
        assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan)
        seen += ((ticks, parts,
          collect(plan) { case s: RDDScanExec => s }.size,
          collect(plan) { case e: ShuffleExchangeExec => e }.size))
        merged.write.parquet(s"$store/v=$id")
        prev = Some(s"$store/v=$id")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // (ticks, input partitions, source scans, shuffles) per batch. The
    // micro-batch reaches foreachBatch as an RDD scan; the second
    // batch's target is a parquet scan.
    assert(seen.toSeq === Seq((2, 2, 1, 1), (2, 2, 1, 1)))
    assert(spark.read.parquet(prev.get).count() === 12)
  }

  test("DSv2 replay source: restart resumes from committed tick offset") {
    val dir = Files.createTempDirectory("graft-dsv2-ckpt").toString
    val ckpt = Files.createTempDirectory("graft-dsv2-ckpt-loc").toString
    def write(tick: Int, city: String, dt: Long, temp: Double): Unit = {
      val d = java.nio.file.Paths.get(s"$dir/tick=$tick")
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"$city.json"), payload(city, dt, temp))
    }
    write(0, "Utrecht", 1704067200L, 3.0)
    write(1, "Utrecht", 1704067500L, 3.5)

    def drain(): Seq[Seq[Long]] = {
      val ticks = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      val q = spark.readStream
        .format(classOf[graft.streaming.WeatherReplayProvider].getName)
        .option("path", dir)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          ticks += batch.select("tick").distinct().as[Long].collect().sorted.toSeq
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      ticks.toSeq
    }

    assert(drain() === Seq(Seq(0L), Seq(1L)))
    // new tick lands while the query is down; restart from checkpoint
    // replays ONLY the new tick — exactly-once over the recorded feed
    write(2, "Utrecht", 1704067800L, 4.0)
    assert(drain() === Seq(Seq(2L)))
    // nothing new -> no batches at all
    assert(drain() === Seq.empty)
  }
}

package graft

import org.apache.spark.sql.Row
import java.sql.Timestamp

import graft.streaming.WeatherIngest

/** The reference's ingest transform, field by field
  * (weather-etl.py:122-131), on the FIXTURES.md §2 synthetic payloads.
  */
class WeatherIngestSpec extends SparkSuite {

  private val payload =
    """{"dt": 1704067200, "timezone": 3600, "name": "Rotterdam",
       "weather": [{"description": "light rain"}, {"description": "mist"}],
       "main": {"temp": 7.3}}"""

  private def ts(epochSeconds: Long) = new Timestamp(epochSeconds * 1000L)

  test("transform maps dt+timezone, name, joined descriptions, temp") {
    val out = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(payload)).fetch(spark)).collect()
    assert(out.toSeq === Seq(
      Row(ts(1704067200L + 3600L), "Rotterdam", "light rain, mist", 7.3)))
  }

  test("negative timezone offsets shift backwards (weather-etl.py:127-128)") {
    val p = """{"dt": 1704067200, "timezone": -18000, "name": "NYC",
               "weather": [{"description": "snow"}], "main": {"temp": -2.5}}"""
    val out = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(p)).fetch(spark)).collect()
    assert(out.head.getTimestamp(0) === ts(1704067200L - 18000L))
    assert(out.head.getDouble(3) === -2.5)
  }

  test("single-element weather array joins without separator") {
    val p = """{"dt": 1, "timezone": 0, "name": "X",
               "weather": [{"description": "clear sky"}], "main": {"temp": 1.0}}"""
    val out = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(p)).fetch(spark)).collect()
    assert(out.head.getString(2) === "clear sky")
  }

  test("merge dedups intra-batch duplicates (DISTINCT, weather-etl.py:155-158)") {
    val batch = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(payload, payload)).fetch(spark))
    val empty = batch.filter("1 = 0")
    assert(WeatherIngest.merge(empty, batch).count() === 1)
  }

  test("re-fetched key with changed temp wins (DO UPDATE, weather-etl.py:159-162)") {
    val v1 = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(payload)).fetch(spark))
    val p2 = payload.replace("7.3", "9.9")
    val v2 = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(p2)).fetch(spark))
    val merged = WeatherIngest.merge(v1, v2)
    assert(merged.count() === 1)
    assert(merged.collect().head.getDouble(3) === 9.9)
  }

  test("merge fails loudly on a NULL key: a payload without name or dt") {
    val out = java.nio.file.Files.createTempDirectory("graft-nullkey").toString
    for ((p, i) <- Seq(payload.replace("\"name\": \"Rotterdam\",", ""),
        payload.replace("\"dt\": 1704067200,", "")).zipWithIndex) {
      assert(p != payload)
      val batch = WeatherIngest.transform(
        new WeatherIngest.ReplaySource(Seq(payload, p)).fetch(spark))
      val e = intercept[Exception] {
        WeatherIngest.merge(batch.filter("1 = 0"), batch).write.parquet(s"$out/$i")
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("(time, city_name)")), e)
    }
  }

  test("merge is idempotent end-to-end (run twice == run once)") {
    val batch = WeatherIngest.transform(
      new WeatherIngest.ReplaySource(Seq(payload)).fetch(spark))
    val once = WeatherIngest.merge(batch.filter("1 = 0"), batch)
    val twice = WeatherIngest.merge(once, batch)
    assert(once.except(twice).isEmpty && twice.except(once).isEmpty)
  }
}

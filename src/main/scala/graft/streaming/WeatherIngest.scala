package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's ingest path, Spark-native
  * (reference dags/weather-etl.py:98-143).
  *
  * The reference fetches one JSON document per city from the
  * OpenWeatherMap REST API (weather-etl.py:111,116-119), decodes it
  * (:122), and applies per-record scalar transforms (:126-131). Here
  * the payloads arrive as a Dataset of raw JSON strings (from any
  * source — replay fixture, file drop, or a live HTTP poller), and the
  * entire transform is ONE codegen'd select over `from_json` — no
  * per-row interpreter, columnar end-to-end.
  */
object WeatherIngest {

  /** Schema of exactly the fields the reference reads
    * (weather-etl.py:126-131).
    */
  val owmSchema: StructType = StructType(Seq(
    StructField("dt", LongType),
    StructField("timezone", LongType),
    StructField("name", StringType),
    StructField("weather", ArrayType(StructType(Seq(
      StructField("description", StringType))))),
    StructField("main", StructType(Seq(
      StructField("temp", DoubleType))))))

  /** Abstract source: the live-HTTP implementation is untestable
    * in-sandbox (no egress, weather-etl.py:116-119); replay reads
    * recorded payloads. Both yield the same raw-JSON Dataset.
    */
  trait WeatherSource {
    def fetch(spark: SparkSession): Dataset[String]
  }

  /** Replay source over recorded/synthetic payload strings
    * (FIXTURES.md §2).
    */
  final class ReplaySource(payloads: Seq[String]) extends WeatherSource {
    def fetch(spark: SparkSession): Dataset[String] = {
      import spark.implicits._
      spark.createDataset(payloads)
    }
  }

  /** Live source: GET /data/2.5/weather?q={city}&appid={key}
    * (weather-etl.py:111,116-119), fetched concurrently (the
    * reference's sequential loop is a documented anti-pattern,
    * SURVEY.md §4.1). `baseUrl` defaults to the real API host;
    * HttpSourceSpec drives the IDENTICAL code path against an
    * in-process loopback server (JDK HttpServer — no egress needed),
    * so request formation, concurrency, and body handling are tested
    * for real.
    */
  final class HttpSource(cities: Seq[String], apiKey: String,
      baseUrl: String = "https://api.openweathermap.org") extends WeatherSource {
    require(apiKey.nonEmpty, "OPENWEATHERMAP_API_KEY must be set") // weather-etl.py:106-108
    def fetch(spark: SparkSession): Dataset[String] = {
      import spark.implicits._
      import scala.concurrent._
      import scala.concurrent.duration._
      import ExecutionContext.Implicits.global
      val client = java.net.http.HttpClient.newHttpClient()
      val bodies = Await.result(Future.sequence(cities.map(city => Future {
        val q = java.net.URLEncoder.encode(city, "UTF-8")
        val uri = java.net.URI.create(
          s"$baseUrl/data/2.5/weather?q=$q&appid=$apiKey&units=metric")
        client.send(
          java.net.http.HttpRequest.newBuilder(uri).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      })), 2.minutes)
      spark.createDataset(bodies)
    }
  }

  /** The per-record transform (weather-etl.py:126-131), exactly:
    * time = local timestamp (utcfromtimestamp(dt) + timezone seconds),
    * city_name = name,
    * weather_description = ", ".join(weather[].description),
    * temperature = main.temp.
    */
  def transform(raw: Dataset[String]): DataFrame =
    raw.toDF("body")
      .select(from_json(col("body"), owmSchema).as("r"))
      .select(
        timestamp_seconds(col("r.dt") + col("r.timezone")).as("time"),
        col("r.name").as("city_name"),
        array_join(col("r.weather.description"), ", ").as("weather_description"),
        col("r.main.temp").as("temperature"))

  /** Full micro-batch: intra-batch dedup (DISTINCT,
    * weather-etl.py:155-158) → last-writer-wins merge into the target
    * on PK (time, city_name) (weather-etl.py:152-163). Idempotent:
    * merging the same batch twice is a no-op — the reference's replay
    * tolerance, asserted by property test.
    *
    * One scan of each side and one shuffle: target rows are tagged
    * `p = 0` and batch rows `p = 1`, the union is hash-partitioned on
    * the key, and both the DISTINCT and the per-key window reuse that
    * partitioning; a key keeps the rows with its greatest `p`. The
    * result equals `Upsert.upsert(target, batch.distinct(), keys)` on
    * non-NULL keys (PropertiesSpec), without the anti-join's second
    * pass over the batch.
    *
    * NULL keys fail loudly: the reference's PRIMARY KEY makes `time`
    * and `city_name` NOT NULL (weather-etl.py:76,92), and a NULL-key
    * row would never match, so every re-delivery would add a copy.
    *
    * Unchanged: when one batch holds two different rows for one key,
    * both are kept, since DISTINCT drops only exact duplicates.
    */
  def merge(target: DataFrame, batch: DataFrame): DataFrame = {
    val keys = Seq(col("time"), col("city_name"))
    target.withColumn("__p", lit(0)).unionByName(batch.withColumn("__p", lit(1)))
      .filter(when(col("time").isNull || col("city_name").isNull,
        raise_error(lit("WeatherIngest.merge: NULL in primary key (time, city_name)")))
        .otherwise(lit(true)))
      .repartition(keys: _*)
      .distinct()
      .withColumn("__max", max(col("__p")).over(Window.partitionBy(keys: _*)))
      .filter(col("__p") === col("__max"))
      .drop("__p", "__max")
  }
}

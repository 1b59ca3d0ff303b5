package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture table loaders (TESTDATA.md / FIXTURES.md).
  *
  * All queries read Parquet through these helpers so that scan-level
  * concerns (the `events` nanosecond-timestamp workaround, column
  * pruning, pushdown) are handled once. At 100 TB these reads become
  * partitioned-directory scans; nothing here assumes a single file.
  */
object Tables {
  /** The scalar-typed star-schema tables — the only tables [[table]]
    * memoizes with [[Memo]] on (SURVEY.md §6 "reuse a cached base
    * DataFrame per table"). documents/embeddings/events stay on the
    * vectorized parquet reader: deserializing array/text columns out
    * of the in-memory cache measured SLOWER than re-scanning parquet
    * (simhash 2.7s → 9.1s when cached).
    */
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val names: Seq[String] = star ++ Seq("events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    def read =
      if (name == "events") events(spark, dir)
      else parquet(spark, s"$dir/$name.parquet")
    if (star.contains(name)) Memo(spark, "Tables.table", (dir, name))(read) else read
  }

  /** Load `events` and normalize `ts` to session-timezone TimestampType
    * regardless of how the fixture generation wrote it. Fixtures have
    * shipped with two physical encodings so far, and this loader must
    * keep working across regenerations:
    *
    *  - INT64 TIMESTAMP(NANOS): the Spark reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless `nanosAsLong` is set, which
    *    surfaces it as LongType → truncate nanos to micros (the same
    *    truncation DuckDB applies coercing TIMESTAMP_NS to µs).
    *  - timestamp[us] with isAdjustedToUTC=false: Spark 4 reads it as
    *    TIMESTAMP_NTZ → cast to TimestampType. All entry points pin
    *    `spark.sql.session.timeZone=UTC`, so the cast is wall-clock
    *    identity and matches DuckDB's naive µs TIMESTAMP exactly.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Harmless for µs fixtures; required to even read a nanos fixture.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(parquet(spark, s"$dir/events.parquet"))
  }

  /** Session confs that change what parquet schema inference returns;
    * their values are part of a cached schema's key.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Per session, per path: the key a schema was inferred under (file
    * listing and inference confs) and the schema. Weak in the session,
    * one entry per path; it holds no data.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Any, StructType)]]())

  /** Read a parquet path with a declared schema. `spark.read.parquet`
    * infers the schema with a Spark job (a footer read) on every call,
    * so the schema is inferred once per session, path, file listing
    * (name, length, mtime) and inference confs, and reused while all of
    * them are unchanged. A path that does not exist, or lists no files,
    * reads without a schema so Spark raises its own error.
    */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case Seq() => spark.read.parquet(path)
      case files =>
        val key = (files, inferenceConfs.map(spark.conf.getOption))
        val perPath = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap)
        val schema = Option(perPath.get(path)).collect { case (`key`, s) => s }
          .getOrElse {
            val s = spark.read.parquet(path).schema
            perPath.put(path, (key, s))
            s
          }
        spark.read.schema(schema).parquet(path)
    }

  /** Every file under `path` as (name, length, mtime), sorted; empty
    * when the path does not exist.
    */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Branch on the ACTUAL on-disk dtype of `ts` — never assume the
    * fixture encoding (regression: a stale nanos-as-long assumption
    * broke every events query when the fixture moved to µs).
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}

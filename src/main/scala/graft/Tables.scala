package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
      else spark.read.parquet(s"$dir/$name.parquet")
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
    normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
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

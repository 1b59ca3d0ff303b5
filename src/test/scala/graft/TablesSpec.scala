package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** [[Tables]] infers a parquet schema once per session, path and file
  * listing: a repeated read of an unchanged path runs no Spark job,
  * and a rewritten path is inferred again.
  */
class TablesSpec extends SparkSuite {

  /** Spark jobs started while `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      Thread.sleep(500) // listener delivery is async; no wait API is public
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second read of an unchanged path runs no job; a rewrite is inferred again") {
    val dir = Files.createTempDirectory("tables-schema").toString
    val path = s"$dir/documents.parquet"
    spark.range(4).select(col("id").as("doc_id"), lit("a b").as("text"))
      .write.parquet(path)
    assert(jobsDuring(Tables.table(spark, dir, "documents")) > 0,
      "the first read of a path infers its schema with a job")
    var df = Tables.table(spark, dir, "documents")
    assert(jobsDuring { df = Tables.table(spark, dir, "documents") } === 0)
    assert(df.columns.toSeq === Seq("doc_id", "text"))

    spark.range(3).select(col("id").as("doc_id"), lit(1.5).as("score"), lit(2).as("n"))
      .write.mode("overwrite").parquet(path)
    val after = Tables.table(spark, dir, "documents")
    assert(after.columns.toSeq === Seq("doc_id", "score", "n"))
    assert(after.count() === 3)
  }

  test("events keeps its ts branch on a cached schema") {
    Tables.events(spark, sfDir)
    var df = Tables.events(spark, sfDir)
    assert(jobsDuring { df = Tables.events(spark, sfDir) } === 0)
    assert(df.schema("ts").dataType === TimestampType)
  }

  test("a missing path fails as Spark's own read does") {
    val e = intercept[Exception](Tables.table(spark, "/nonexistent-graft-dir", "documents"))
    assert(e.getMessage.contains("PATH_NOT_FOUND") || e.getMessage.contains("does not exist"),
      e.getMessage)
  }
}

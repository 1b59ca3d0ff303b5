package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Drift
import graft.streaming.{StreamingJobs, TransformWithStateJobs}

/** Streaming Count–Min maintenance and the PSI drift monitor: the
  * streaming forms must agree EXACTLY with their batch definitions
  * (the sketch is linear; PSI is a pure function of histograms).
  */
class StreamingSketchDriftSpec extends SparkSuite {
  import spark.implicits._

  private val depth = 4
  private val width = 256

  private def batchSketches: Map[String, (Long, Seq[Long])] = {
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        call_function("graft_cms",
          col("user_id").cast("string"), lit(depth), lit(width)).as("sk"))
      .as[(String, Long, Seq[Long])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
  }

  private def finalSnapshots(table: String): Map[String, (Long, Seq[Long])] =
    spark.table(table)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("n").desc)))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"), col("sketch"))
      .as[(String, Long, Seq[Long])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap

  test("single-batch streamed CMS == batch graft_cms per key") {
    TransformWithStateJobs.withRocksDb(spark)
    try {
      val out = TransformWithStateJobs.cmsByType(
        spark, StreamingJobs.readEvents(spark, sfDir), depth, width)
      val q = out.toDF().writeStream.format("memory").queryName("t_cms1")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = finalSnapshots("t_cms1")
      val want = batchSketches
      assert(got.keySet == want.keySet)
      got.foreach { case (k, (n, sk)) =>
        assert(n == want(k)._1, s"$k: row count $n != ${want(k)._1}")
        assert(sk == want(k)._2, s"$k: streamed sketch differs from batch aggregate")
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("3-batch streamed CMS == batch graft_cms (state carries the linear merge)") {
    TransformWithStateJobs.withRocksDb(spark)
    try {
      val ev = Tables.events(spark, sfDir)
      val dir = Files.createTempDirectory("graft-cms").toString
      Seq(ev.filter(col("event_id") % 3 === 0),
          ev.filter(col("event_id") % 3 === 1),
          ev.filter(col("event_id") % 3 === 2))
        .zipWithIndex.foreach { case (df, i) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/part$i")
          val f = Files.list(Paths.get(s"$dir/part$i"))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          val dst = Paths.get(s"$dir/b$i.parquet")
          Files.move(f, dst)
          dst.toFile.setLastModified(1700000000000L + i * 60000L)
        }
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).option("latestFirst", "false")
        .parquet(dir)
      val q = TransformWithStateJobs.cmsByType(spark, stream, depth, width)
        .toDF().writeStream.format("memory").queryName("t_cms3")
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          Files.createTempDirectory("graft-cms-ckpt").toString)
        .start()
      q.awaitTermination()
      val got = finalSnapshots("t_cms3")
      val want = batchSketches
      assert(got.keySet == want.keySet)
      got.foreach { case (k, (n, sk)) =>
        assert(n == want(k)._1)
        assert(sk == want(k)._2, s"$k: 3-batch sketch differs from one-shot")
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("drift monitor: identical distribution scores PSI 0; a shift scores > 0; psi >= 0 per batch") {
    val ev = Tables.events(spark, sfDir)
    val ref = Drift.histogram(ev, col("value"), 1.0)
      .localCheckpoint(eager = true)
    // pure-function checks first
    val (selfPsi, _) = Drift.psi(ref, ref)
    assert(math.abs(selfPsi) < 1e-12, s"self-PSI $selfPsi != 0")
    val shifted = Drift.histogram(ev.withColumn("value", col("value") + 10.0),
      col("value"), 1.0)
    val (shiftPsi, _) = Drift.psi(shifted, ref)
    assert(shiftPsi > 0.2, s"a +10 shift must trip the 0.2 alarm, got $shiftPsi")
    // streaming: one batch over the same data → PSI 0 and n = corpus rows
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val q = StreamingJobs.driftSink(
        StreamingJobs.readEvents(spark, sfDir), ref, 1.0) {
      (id, psi, n) => results.synchronized { results += ((id, psi, n)); () }
    }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(results.nonEmpty)
    results.foreach { case (_, psi, _) => assert(psi >= -1e-12, s"negative PSI $psi") }
    val total = results.map(_._3).sum
    assert(total == ev.count(), s"monitored rows $total != corpus")
    if (results.size == 1) assert(math.abs(results.head._2) < 1e-12,
      "single full-corpus batch vs its own reference must score 0")
  }

  // ---- partitioning invariance (r11 verdict item 8) --------------------
  // Managed state must never depend on task layout: the same bounded
  // stream folded at two different shuffle widths (= state-store
  // partition counts, pinned at query start) must produce the same
  // final snapshots.

  test("streamed CMS final snapshots identical at shuffle widths 2 and 5") {
    TransformWithStateJobs.withRocksDb(spark)
    try {
      def run(w: Int): Map[String, (Long, Seq[Long])] = withShuffleWidth(w) {
        val name = s"t_cms_w$w"
        val q = TransformWithStateJobs.cmsByType(
            spark, StreamingJobs.readEvents(spark, sfDir), depth, width)
          .toDF().writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            Files.createTempDirectory(s"graft-cms-inv$w").toString)
          .start()
        q.awaitTermination()
        finalSnapshots(name)
      }
      val narrow = run(2)
      val wide = run(5)
      assert(narrow.keySet == wide.keySet)
      // the sketch fold is commutative (adds only), so the equality is
      // EXACT — any dependence on row routing or within-partition order
      // would break the bit-level sketch compare
      narrow.foreach { case (k, (n, sk)) =>
        assert(n == wide(k)._1, s"$k: n differs across widths")
        assert(sk == wide(k)._2, s"$k: sketch differs across shuffle widths")
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("drift monitor PSI/n invariant to shuffle width") {
    val ev = Tables.events(spark, sfDir)
    val ref = Drift.histogram(ev, col("value"), 1.0).localCheckpoint(eager = true)
    def run(w: Int): Seq[(Long, Double, Long)] = withShuffleWidth(w) {
      val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
      val q = StreamingJobs.driftSink(
          StreamingJobs.readEvents(spark, sfDir), ref, 1.0) {
        (id, psi, n) => results.synchronized { results += ((id, psi, n)); () }
      }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      results.sortBy(_._1).toSeq
    }
    val narrow = run(2)
    val wide = run(5)
    assert(narrow.map(r => (r._1, r._3)) == wide.map(r => (r._1, r._3)),
      "batch ids / row counts differ across shuffle widths")
    // PSI is a sum of per-bucket doubles: partial-sum grouping may vary
    // with the layout, so allow ulp-scale drift but nothing more
    narrow.zip(wide).foreach { case ((id, p1, _), (_, p2, _)) =>
      assert(math.abs(p1 - p2) < 1e-9, s"batch $id: PSI $p1 vs $p2 across widths")
    }
  }
}

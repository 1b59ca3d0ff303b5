package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.{GraftSparkExtensions, SparkEntry}
import graft.streaming.{WeatherIngest, WeatherReplayProvider}

/** JVM half of the benchmark (`perfbench/run.py` is the other half).
  *
  * Runs one workload against the program as it ships — no memo, table
  * cache or `SPARK_GRAFT_*` knob is turned on — and writes one JSON
  * document of raw measurements to `--out`. run.py turns it into metrics
  * and checks outputs.
  *
  * Args (all `--key value`): workload, data (board tables dir), ticks
  * (payload dir), tpb (ticks per batch), queries (comma list, run order),
  * work (scratch dir), seconds, trace (0|1), dump (optional dir for
  * first-pass results).
  */
object PerfBench {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val out = new Json

    // Set-up, measured cold: JVM start → session, warm-up query and, for
    // the ETL, the stream source's registration. Class loading and object
    // initialisation fall inside it.
    val main0 = System.currentTimeMillis()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    val session1 = System.currentTimeMillis()
    spark.range(1000).selectExpr("sum(id)").collect()
    val warm1 = System.currentTimeMillis()
    if (workload.startsWith("etl")) replay(spark, a("ticks"), a("tpb").toInt)
    val end = System.currentTimeMillis()
    out("setup_s") = (end - jvmStart) / 1e3
    out("setup_phases_s") = Map("jvm" -> (main0 - jvmStart) / 1e3, "session" -> (session1 - main0) / 1e3,
      "warmup" -> (warm1 - session1) / 1e3, "source" -> (end - warm1) / 1e3)
    out("cores") = cores
    out("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0

    val err = try {
      if (workload.startsWith("etl")) Etl.run(spark, a, seconds, trace, out)
      else Board.run(spark, a, seconds, trace, out)
      None
    } catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    err.foreach(e => out("error") = e)

    out("live_heap_mb") = liveHeapMb()
    spark.stop()
    Files.writeString(Paths.get(a("out")), out.render)
  }

  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    .withExtensions(new GraftSparkExtensions)
    .getOrCreate()

  def replay(spark: SparkSession, ticks: String, tpb: Int): DataFrame =
    spark.readStream.format(classOf[WeatherReplayProvider].getName)
      .option("path", ticks).option("maxTicksPerBatch", tpb.toString).load()

  /** A full collection. The pause lets Spark's ContextCleaner drop the
    * shuffles and broadcasts the first collection freed.
    */
  def fullGc(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
  }

  /** Heap in use after a full collection. */
  def liveHeapMb(): Double = {
    fullGc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def p(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1).max(0))
    }
}

/** The ETL stream: WeatherReplayProvider → WeatherIngest.transform →
  * WeatherIngest.merge against the previous target version, written as
  * versioned parquet (`store/v=<batch>`), drained with AvailableNow in a
  * closed loop. Each drain replays the ticks from the start into a fresh
  * store and stops after a fixed number of micro-batches.
  */
object Etl {
  /** Warm-up drain length: enough for the cold first batches to pass. */
  val WarmupBatches = 8
  /** Timed micro-batches per second of `--seconds`. A fixed count (not a
    * deadline) puts every run's samples at the same batch positions, so
    * a slow host cannot shift them along the JIT warm-up curve; the
    * count is about `seconds` of draining on 4 cores at this revision.
    */
  val BatchesPerSecond = 1.5

  def run(spark: SparkSession, a: Map[String, String], seconds: Double,
      trace: Boolean, out: Json): Unit = {
    val work = a("work")
    val n = math.ceil(seconds * BatchesPerSecond).toInt
    val cap = 3 * seconds
    // A stream runs for days: its batch latency is a warm JVM's. The
    // warm-up drain is the cold start users wait through once.
    out("warmup") = drain(spark, a, WarmupBatches, cap, s"$work/warmup")
    if (trace) {
      // untraced halves before and after the traced one bracket its
      // warm-up state; their mean is the baseline for tracing overhead
      val half = (n + 1) / 2
      val before = drain(spark, a, half, cap, s"$work/before")
      val tr = new Tracer(spark)
      tr.register()
      val gc0 = PerfBench.gcSeconds()
      val cg0 = Layers.codegen()
      val traced = drain(spark, a, half, cap, s"$work/traced")
      tr.unregister()
      out("trace") = Layers.etl(spark, tr, traced, PerfBench.gcSeconds() - gc0, cg0, work)
      out("untraced") = Seq(before, drain(spark, a, half, cap, s"$work/after"))
      out("result") = traced
    } else out("result") = drain(spark, a, n, cap, s"$work/plain")
  }

  case class Batch(id: Long, transformMs: Double, mergeMs: Double)

  /** Drains until `maxBatches` micro-batches have committed, the ticks
    * run out or `capSeconds` have passed.
    */
  def drain(spark: SparkSession, a: Map[String, String], maxBatches: Int, capSeconds: Double,
      dir: String): Json = {
    import spark.implicits._
    val schema: StructType = WeatherIngest.transform(spark.emptyDataset[String]).schema
    val store = s"$dir/store"
    @volatile var stop = false
    @volatile var skipped = false
    var prev: Option[String] = None
    val done = mutable.ArrayBuffer.empty[Batch]
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.currentTimeMillis()
    val q = PerfBench.replay(spark, a("ticks"), a("tpb").toInt).writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (stop) skipped = true
        else try {
          val s0 = System.nanoTime()
          val transformed = WeatherIngest.transform(batch.select("body").as[String])
          val s1 = System.nanoTime()
          val base = prev.map(spark.read.schema(schema).parquet(_))
            .getOrElse(spark.createDataFrame(java.util.List.of[Row](), schema))
          WeatherIngest.merge(base, transformed).write.parquet(s"$store/v=$id")
          val s2 = System.nanoTime()
          prev = Some(s"$store/v=$id")
          done += Batch(id, (s1 - s0) / 1e6, (s2 - s1) / 1e6)
          if (done.size >= maxBatches) stop = true
        } catch { case e: Throwable => errors += s"batch $id: $e"; throw e }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    val deadline = t0 + capSeconds * 1000
    while (q.isActive && !stop && System.currentTimeMillis() < deadline) q.awaitTermination(10)
    val exhausted = !q.isActive
    if (q.isActive) {
      stop = true
      while (q.isActive && !skipped) Thread.sleep(2)
      q.stop()
    }
    // a batch that threw is already recorded; anything else that ended
    // the stream (source, planning) is one more failed operation
    if (errors.isEmpty) q.exception.foreach(e => errors += s"stream: $e")
    val ids = done.map(_.id).toSet
    val prog = q.recentProgress.filter(p => ids.contains(p.batchId)).sortBy(_.batchId)
    val batches = prog.map { pr =>
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val b = done.find(_.id == pr.batchId).get
      val j = new Json
      j("id") = pr.batchId
      j("start_ms") = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      j("end_tick") = pr.sources.head.endOffset.toLong
      j("duration_ms") = d
      j("transform_ms") = b.transformMs
      j("merge_ms") = b.mergeMs
      j
    }.toSeq
    val res = new Json
    res("batches") = batches
    res("drain_s") = batches.lastOption.map { b =>
      (b.get[Double]("start_ms") + b.get[Map[String, Double]]("duration_ms")("triggerExecution") - t0) / 1e3
    }.getOrElse(0.0)
    res("store") = store
    res("exhausted") = exhausted
    res("errors") = errors.toSeq
    res
  }
}

/** A query board: every query once in the given order (the first pass),
  * then timed passes in the same order for about `seconds`.
  */
object Board {
  def run(spark: SparkSession, a: Map[String, String], seconds: Double,
      trace: Boolean, out: Json): Unit = {
    val data = a("data")
    val order = a("queries").split(",").toSeq
    val dump = a.get("dump")
    val fns = SparkEntry.queries
    val tr = if (trace) Some(new Tracer(spark)) else None

    def exec(name: String, dumpTo: Option[String], t: Option[Tracer], pass: Int): Json = {
      val j = new Json
      val span = t.map(_.open(name, "query.local", 2, s"$name#$pass"))
      val s0 = System.nanoTime()
      try {
        val df = fns(name)(spark, data)
        val rows = df.collect()
        j("s") = (System.nanoTime() - s0) / 1e9
        span.foreach(s => t.get.close(s))
        j("rows") = rows.length
        j("digest") = Digest(df.schema, rows)
        dumpTo.foreach(d => spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
      } catch { case e: Throwable =>
        j("s") = (System.nanoTime() - s0) / 1e9
        span.foreach(s => t.get.close(s))
        j("error") = e.toString.take(300)
      }
      // storage the query left behind (local checkpoints) is dead once it
      // returns; drop it and collect, so no query inherits another's
      // garbage or cleanup work
      if (t.isDefined) j("cached_mb") =
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      PerfBench.fullGc()
      j
    }

    def passes(t: Option[Tracer], budget: Double, first: Int): Seq[Json] = {
      val res = mutable.ArrayBuffer.empty[Json]
      val t0 = System.nanoTime()
      // at least one pass; another only if it should end within budget
      def more = res.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + res.last.get[Double]("s") <= budget
      while (more) {
        val n = first + res.size
        val span = t.map(_.open(s"pass $n", "harness", 1, s"pass#$n"))
        val pj = new Json
        val qs = order.map(q => exec(q, None, t, n))
        span.foreach(s => t.get.close(s))
        pj("queries") = qs
        pj("s") = qs.map(_.get[Double]("s")).sum
        res += pj
      }
      res.toSeq
    }

    out("first") = order.map(q => exec(q, dump, None, 0))
    dump.foreach { d =>
      val pins = order.zip(out.get[Seq[Json]]("first")).map { case (q, j) =>
        q -> Map("rows" -> j.get[Int]("rows"), "digest" -> j.get[String]("digest")) }.toMap
      Files.writeString(Paths.get(s"$d/digests.json"), Json.render(pins))
      Files.writeString(Paths.get(s"$d/oracle.json"),
        Json.render(SparkEntry.oracleSql.filter(x => order.contains(x._1))))
    }
    out("order") = order
    if (tr.isEmpty) out("passes") = passes(None, seconds, 1)
    else {
      // untraced passes before and after the traced one: the baseline
      // for tracing overhead
      val t = tr.get
      val before = passes(None, seconds / 3, 1)
      t.register()
      val r0 = t.now(); val gc0 = PerfBench.gcSeconds()
      val cg0 = Layers.codegen()
      val ps = passes(tr, seconds / 3, 1000)
      val root = Span("run", "harness", 0, "run", r0, t.now())
      t.unregister()
      out("trace") = Layers.board(spark, t, root, ps, PerfBench.gcSeconds() - gc0, cg0, a("work"))
      out("untraced") = before ++ passes(None, seconds / 3, 2000)
      out("passes") = ps
    }
  }
}

/** Order-insensitive digest of a result: column names sorted, each
  * value in a strict per-type canonical form (a double never equals a
  * long or a decimal of the same value), rows sorted, SHA-256.
  */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => "d:" + (if (d.isNaN) "NaN" else java.lang.Double.toString(d))
    case f: Float => "f:" + (if (f.isNaN) "NaN" else java.lang.Float.toString(f))
    case l: Long => "l:" + l
    case i: Int => "i:" + i
    case s: Short => "i:" + s
    case b: Byte => "i:" + b
    case b: Boolean => "b:" + b
    case s: String => "s:" + s.length + ":" + s
    case d: java.math.BigDecimal => "m:" + d.toPlainString
    case t: java.sql.Timestamp => "t:" + t.toInstant
    case t: java.time.Instant => "t:" + t
    case t: java.time.LocalDateTime => "n:" + t
    case d: java.sql.Date => "D:" + d.toLocalDate
    case d: java.time.LocalDate => "D:" + d
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => "?" + o.getClass.getSimpleName + ":" + o
  }

  def apply(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => cols.map { case (_, i) => canon(r.get(i)) }.mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.map(_._1).mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(StandardCharsets.UTF_8)) }
    md.digest().map("%02x".format(_)).mkString
  }
}

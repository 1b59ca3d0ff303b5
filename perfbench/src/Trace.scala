package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for the
  * spans the benchmark opens itself). `group` is shared by every span of
  * one query execution or micro-batch.
  */
case class Span(name: String, layer: String, depth: Int, group: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Per-stage task totals, summed from task-end events. */
final class StageAgg {
  var runMs = 0L; var cpuNs = 0L
  var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
}

/** Collects spans from the benchmark's own calls and from Spark's public
  * hooks: a [[SparkListener]] (jobs, stages, task metrics) and a
  * [[QueryExecutionListener]] (planning phases from the query's
  * `QueryPlanningTracker`). Trigger progress of the ETL comes from the
  * query's `recentProgress`. Everything is kept in memory and written out
  * at the end.
  */
final class Tracer(spark: SparkSession) {
  private val nanoAnchor = System.nanoTime()
  private val wallAnchor = System.currentTimeMillis().toDouble
  def now(): Double = wallAnchor + (System.nanoTime() - nanoAnchor) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  /** (stageId, submitted, completed, numTasks, call site, rdd names) */
  val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Int, String, Seq[String])]
  /** (jobId, start, end, stageIds, call site of the SQL action if any) */
  val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double, Seq[Int], Option[String])]
  private val jobStarts = new ConcurrentHashMap[Int, (Double, Seq[Int], Option[String])]()
  /** SQL execution id -> call site of the action that started it */
  private val execSite = new ConcurrentHashMap[Long, String]()
  /** (phase, start, end) from QueryPlanningTracker */
  val planPhases = mutable.ArrayBuffer.empty[(String, Double, Double)]

  def open(name: String, layer: String, depth: Int, group: String): Span =
    Span(name, layer, depth, group, now(), 0)
  def close(s: Span): Unit = synchronized { spans += s.copy(end = now()) }

  val sparkListener: SparkListener = new SparkListener {
    // Adaptive execution submits a query's jobs from a pool thread, so
    // their own call site shows no program frame; the SQL execution's
    // start event carries the call site of the action behind them.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
      jobStarts.put(e.jobId, (e.time.toDouble, e.stageIds, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (s, ids, site) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time.toDouble, Seq.empty, None))
      Tracer.this.synchronized { jobs += ((e.jobId, s, e.time.toDouble, ids, site)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = i.submissionTime.getOrElse(0L).toDouble
      val c = i.completionTime.getOrElse(s.toLong).toDouble
      Tracer.this.synchronized {
        stages += ((i.stageId, s, c, i.numTasks, i.details, i.rddInfos.map(_.name)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (p, s) =>
        planPhases += ((p, s.startTimeMs.toDouble, s.endTimeMs.toDouble)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

object Tracer {
  /** Layer of a call site from its `graft.*` frames: the innermost frame
    * of a measured operator (`op.<Operator>`, see [[Layers.operators]]),
    * else the first `graft.*` frame's module. The benchmark's own actions
    * have no such frame: they run the query's final plan (`query`).
    */
  def siteLayer(details: String): String = {
    val frames = details.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').split('.').toSeq).toSeq
    def op(f: Seq[String]) =
      if (f.length > 2 && f(1) == "operators") Some(f(2).takeWhile(_ != '$')) else None
    frames.flatMap(op).find(Layers.operators.contains).map("op." + _).getOrElse(
      frames.headOption.map(f => op(f).map("op." + _).getOrElse(f(1).takeWhile(_ != '$')))
        .getOrElse("query"))
  }

  /** Splits the root span's wall time over layers: each instant goes to
    * the deepest span open at that instant (latest start on ties). The
    * shares therefore add up to the root's wall time exactly.
    */
  def selfTimes(root: Span, spans: Seq[Span]): Map[String, Double] = {
    val in = spans.filter(s => s.end > root.start && s.start < root.end)
      .map(s => s.copy(start = math.max(s.start, root.start), end = math.min(s.end, root.end)))
    val cuts = (in.flatMap(s => Seq(s.start, s.end)) ++ Seq(root.start, root.end)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val byStart = in.sortBy(_.start).toArray
    var active = List.empty[Span]
    var k = 0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        while (k < byStart.length && byStart(k).start <= a) { active ::= byStart(k); k += 1 }
        active = active.filter(_.end > a)
        val top = if (active.isEmpty) root
          else active.maxBy(s => (s.depth, s.start))
        out(top.layer) += b - a
      case _ => ()
    }
    out.toMap
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Minimal ordered JSON object. */
final class Json {
  private val m = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = m(k) = v
  def get[T](k: String): T = m(k).asInstanceOf[T]
  def render: String = Json.render(this)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case j: Json => j.m.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case s => str(s.toString)
  }
}

/** Per-layer figures of a traced window, from the [[Tracer]]'s spans and
  * counters. Counts and times are per pass (boards) or per micro-batch
  * (ETL). Spark's own counters are cumulative; this reads their deltas.
  */
object Layers {
  val operators = Seq("Components", "Lpa", "PageRank", "Bpe", "Dedup", "Similarity", "Pq", "IvfPq", "Ivf")

  /** (CodeGenerator compile ns, number of compiled classes) so far. */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def within(s: Double, root: Span) = s >= root.start && s < root.end

  /** Spans of Spark's jobs, stages and planning phases inside `root`,
    * plus shared per-op counters.
    */
  private def common(spark: SparkSession, t: Tracer, root: Span, ops: Int,
      gcS: Double, cg0: (Long, Long), out: Json): Seq[Span] = {
    val cores = spark.sparkContext.defaultParallelism
    val stages = t.synchronized(t.stages.toSeq).filter(s => within(s._2, root))
    val jobs = t.synchronized(t.jobs.toSeq).filter(j => within(j._2, root))
    val phases = t.synchronized(t.planPhases.toSeq).filter(p => within(p._2, root))
    // a job's layer comes from the action behind its SQL execution, else
    // from its last stage's call site; a stage belongs to its job's layer
    val siteOf = stages.map(s => s._1 -> s._5).toMap
    val jobLayer = jobs.map(j => j._1 -> Tracer.siteLayer(
      j._5.orElse(j._4.sorted.lastOption.flatMap(siteOf.get)).getOrElse(""))).toMap
    val layerOf = stages.map(s => s._1 ->
      jobs.find(_._4.contains(s._1)).map(j => jobLayer(j._1)).getOrElse(Tracer.siteLayer(s._5))).toMap
    val aggs = stages.map(s => Option(t.stageAgg.get(s._1)).getOrElse(new StageAgg))
    val n = ops.max(1).toDouble
    val wallS = root.ms / 1e3
    val taskS = aggs.map(_.runMs).sum / 1e3
    out("exec.jobs") = jobs.size / n
    out("exec.stages") = stages.size / n
    out("exec.tasks") = stages.map(_._4).sum / n
    out("exec.task_s") = taskS / n
    out("exec.task_cpu_s") = aggs.map(_.cpuNs).sum / 1e9 / n
    out("exec.busy_ratio") = if (wallS > 0) taskS / (wallS * cores) else 0.0
    out("jvm.gc_s") = gcS / n
    out("shuffle.write_mb") = aggs.map(_.shWrite).sum / 1048576.0 / n
    out("shuffle.read_mb") = aggs.map(_.shRead).sum / 1048576.0 / n
    out("shuffle.fetch_wait_ms") = aggs.map(_.fetchWaitMs).sum / n
    out("spill.mb") = aggs.map(_.spill).sum / 1048576.0 / n
    def phase(p: String) = phases.filter(_._1 == p).map(x => x._3 - x._2).sum / n
    out("plan.analysis_ms") = phase("analysis")
    out("plan.optimizer_ms") = phase("optimization")
    out("plan.physical_ms") = phase("planning")
    val (ns1, c1) = codegen()
    out("codegen.compile_ms") = (ns1 - cg0._1) / 1e6 / n
    out("codegen.classes") = (c1 - cg0._2) / n
    for (f <- operators) {
      val l = "op." + f
      out(s"op.$f.task_s") = stages.zip(aggs).filter(x => layerOf(x._1._1) == l).map(_._2.runMs).sum / 1e3 / n
      out(s"op.$f.jobs") = jobs.count(j => jobLayer(j._1) == l) / n
    }
    phases.map(p => Span(p._1, "planning", 3, "", p._2, p._3)) ++
      jobs.map(j => Span(s"job ${j._1}", "scheduler", 3, "", j._2, j._3)) ++
      stages.map(s => Span(s"stage ${s._1}", "stage." + layerOf(s._1), 4, "", s._2, s._3))
  }

  private def finish(root: Span, spans: Seq[Span], out: Json, work: String): Json = {
    val self = Tracer.selfTimes(root, spans)
    out("self_ms") = self.toSeq.sortBy(-_._2).toMap
    out("wall_ms") = root.ms
    // id = position; parent = the latest-starting shallower span that
    // contains the span's start (the root when none does)
    val all = root +: spans.sortBy(s => (s.start, s.depth))
    val f = s"$work/spans.jsonl"
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(f))
    try all.zipWithIndex.foreach { case (s, i) =>
      val parent = if (i == 0) -1 else (i - 1 to 1 by -1).find { j =>
        val o = all(j); o.depth < s.depth && o.start <= s.start && o.end > s.start
      }.getOrElse(0)
      w.write(Json.render(Map("id" -> i, "parent" -> parent, "name" -> s.name,
        "layer" -> s.layer, "group" -> s.group, "start_ms" -> s.start, "end_ms" -> s.end)))
      w.newLine()
    } finally w.close()
    out("spans_file") = f
    out("spans") = spans.size + 1
    out
  }

  def board(spark: SparkSession, t: Tracer, root: Span, passes: Seq[Json], gcS: Double,
      cg0: (Long, Long), work: String): Json = {
    val out = new Json
    val sparkSpans = common(spark, t, root, passes.size, gcS, cg0, out)
    out("memo.cached_mb") = passes.flatMap(_.get[Seq[Json]]("queries"))
      .map(_.get[Double]("cached_mb")).maxOption.getOrElse(0.0)
    // group Spark spans under the query execution they fall in
    val own = t.all
    val grouped = sparkSpans.map(s => s.copy(group =
      own.find(o => o.depth == 2 && s.start >= o.start && s.start < o.end).map(_.group).getOrElse("")))
    finish(root, own ++ grouped, out, work)
  }

  val phaseOrder = Seq("latestOffset", "setOffsetRange", "getEndOffset", "walCommit",
    "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def etl(spark: SparkSession, t: Tracer, res: Json, gcS: Double, cg0: (Long, Long),
      work: String): Json = {
    val out = new Json
    val batches = res.get[Seq[Json]]("batches")
    if (batches.isEmpty) return out
    val bs = batches.map { b =>
      val d = b.get[Map[String, Double]]("duration_ms")
      (b.get[Long]("id"), b.get[Double]("start_ms"), d)
    }
    val root = Span("run", "harness", 0, "run", bs.head._2,
      bs.map(b => b._2 + b._3("triggerExecution")).max)
    val sparkSpans = common(spark, t, root, bs.size, gcS, cg0, out)
    // trigger phases, laid out in MicroBatchExecution's order
    val own = bs.flatMap { case (id, s, d) =>
      var c = s
      val phases = phaseOrder.filter(d.contains).map { k =>
        val sp = Span(k, s"trigger.$k", 2, s"batch#$id", c, c + d(k)); c += d(k); sp
      }
      Span(s"batch $id", "trigger.other", 1, s"batch#$id", s, s + d("triggerExecution")) +: phases
    }
    def med(k: String) = PerfBench.p(bs.map(_._3.getOrElse(k, 0.0)), 0.5)
    out("trigger.latest_offset_ms") = med("latestOffset")
    out("trigger.query_planning_ms") = med("queryPlanning")
    out("trigger.add_batch_ms") = med("addBatch")
    out("trigger.wal_commit_ms") = med("walCommit")
    out("trigger.commit_offsets_ms") = med("commitOffsets")
    out("trigger.other_ms") = PerfBench.p(bs.map { case (_, _, d) =>
      d("triggerExecution") - phaseOrder.map(d.getOrElse(_, 0.0)).sum }, 0.5)
    out("ingest.transform_ms") = PerfBench.p(batches.map(_.get[Double]("transform_ms")), 0.5)
    out("ingest.merge_ms") = PerfBench.p(batches.map(_.get[Double]("merge_ms")), 0.5)
    // source stages: the ones that scan the replay source's partitions
    val src = t.synchronized(t.stages.toSeq).filter(s => s._6.exists(_.contains("DataSourceRDD")))
    val perBatch = bs.map { case (_, s, d) =>
      val in = src.filter(x => x._2 >= s && x._2 < s + d("triggerExecution"))
      (in.map(_._4).maxOption.getOrElse(0).toDouble,
        in.map(x => Option(t.stageAgg.get(x._1)).map(_.runMs).getOrElse(0L)).sum / 1e3)
    }
    out("source.partitions_per_batch") = PerfBench.p(perBatch.map(_._1), 0.5)
    out("source.read_task_s") = PerfBench.p(perBatch.map(_._2), 0.5)
    val grouped = sparkSpans.map(x => x.copy(group =
      own.find(o => o.depth == 1 && x.start >= o.start && x.start < o.end).map(_.group).getOrElse("")))
    finish(root, own ++ grouped, out, work)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one lineage cut, [[CutOps.cut]]: iterative operators cut every
  * round so Catalyst analysis stays O(1) in the round count, and
  * shared derivations cut once so later readers scan blocks instead of
  * re-running the subtree. Two modes, for every cut:
  *  - default: `localCheckpoint` — executor-local blocks, zero I/O
  *    setup. NOT recoverable: losing an executor loses blocks AND the
  *    truncated lineage.
  *  - reliable: `checkpoint` to the session's checkpoint directory —
  *    the 100 TB mode: cut frames survive executor loss at the cost of
  *    one HDFS/object-store write per cut. Opt in by setting BOTH
  *    `spark.graft.reliableCheckpoint=true` ([[ConfKey]]) and
  *    `SparkContext.setCheckpointDir(...)`. The frame is persisted
  *    BEFORE checkpointing: Spark's reliable checkpoint writes files in
  *    a SECOND job, which would otherwise recompute the whole plan.
  *    Eager cuts unpersist right after the write; lazy cuts are
  *    released by the session's next lazy cut.
  *
  * Pre-cut plan capture (the PlanShapeSpec blind-spot fix): a cut
  * truncates lineage to an `RDDScanExec`, so a shape sweep over an
  * executed plan cannot see a cartesian product or an unpartitioned
  * window UPSTREAM of the cut. Only while a spec has capture enabled
  * (nothing is computed otherwise), every cut records its pre-cut
  * frame and its call site, `File.scala:line` read off the stack.
  *
  * `kRowFold = true` declares the ONE sanctioned unpartitioned-window
  * shape: a deliberate `coalesce(1)` ordered fold over a table already
  * aggregated to bin/grain size (k rows, never corpus rows). The spec
  * additionally requires such frames to contain an aggregation in the
  * plan, so the declaration cannot smuggle a corpus-sized window
  * through a cut.
  */
object Cuts {
  val ConfKey = "spark.graft.reliableCheckpoint"

  final case class Captured(site: String, df: DataFrame, kRowFold: Boolean)

  @volatile private var enabled = false
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Captured]

  /** Spec-only: begin capturing cut sites (clears prior capture). */
  def startCapture(): Unit = synchronized { buf.clear(); enabled = true }

  /** Spec-only: stop capturing and return everything captured. */
  def stopCapture(): Seq[Captured] = synchronized {
    enabled = false; buf.toList
  }

  // the site is the first stack frame outside Cuts and Spark: the
  // line that called `cut`
  private def record(df: DataFrame, kRowFold: Boolean): Unit =
    if (enabled) synchronized {
      if (enabled) {
        val site = new Throwable().getStackTrace.find { f =>
          val c = f.getClassName
          !c.startsWith("graft.Cuts") && !c.startsWith("org.apache.spark")
        }.fold("unknown")(f => s"${f.getFileName}:${f.getLineNumber}")
        buf += Captured(site, df, kRowFold)
      }
    }

  // Reliable + lazy mode: a lazy cut's persist is needed only until its
  // checkpoint materializes (the caller's next action). MEMORY_AND_DISK
  // eviction spills rather than drops, so without an explicit release
  // the persisted round frames accumulate across iterations. The last
  // lazy persist per session is released on the FOLLOWING lazy cut, by
  // which point its checkpoint has materialized. A premature unpersist
  // (two iterative operators interleaving on one session) costs at
  // most a recompute, never correctness: the frame keeps its lineage.
  private val lastLazyPersist =
    scala.collection.concurrent.TrieMap.empty[SparkSession, DataFrame]

  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    def cut(eager: Boolean = false, kRowFold: Boolean = false): DataFrame = {
      record(df, kRowFold)
      val ss = df.sparkSession
      val reliable = ss.conf.get(ConfKey, "false").toBoolean &&
        ss.sparkContext.getCheckpointDir.isDefined
      if (reliable) {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        val out = df.checkpoint(eager)
        if (eager) df.unpersist(blocking = false)
        else lastLazyPersist.put(ss, df).foreach(_.unpersist(blocking = false))
        out
      } else df.localCheckpoint(eager)
    }
  }
}

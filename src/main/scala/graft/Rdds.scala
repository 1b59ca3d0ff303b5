package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Block-manager hygiene helpers shared by Bench and the streaming
  * sinks.
  */
object Rdds {
  // RDD.isLocallyCheckpointed is public bytecode but private[spark] in
  // the Scala signature; reflection reads it without infiltrating the
  // org.apache.spark package. It is true from the moment
  // localCheckpoint is called (unlike isCheckpointed, which flips
  // only on full materialization and so misses the partially-computed
  // blocks of an execution that threw mid-action).
  private val isLocalCp = classOf[RDD[_]].getMethod("isLocallyCheckpointed")

  def isLocallyCheckpointed(r: RDD[_]): Boolean =
    isLocalCp.invoke(r).asInstanceOf[Boolean]

  /** Free the blocks of ONE lazy `localCheckpoint` frame —
    * the LogicalRDD its plan wraps — without touching any other RDD on
    * the shared SparkContext (a context-wide sweep can unpersist a
    * concurrent job's checkpoint, which has no lineage to recompute
    * from). No-op on frames that are not checkpoint-backed.
    */
  def dropLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if isLocallyCheckpointed(lr.rdd) =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

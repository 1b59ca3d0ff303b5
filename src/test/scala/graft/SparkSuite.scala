package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTest {
  lazy val session: SparkSession = {
    val s = GraftSparkExtensions.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with `spark.sql.shuffle.partitions` set to `w`, restoring
    * the suite default after. Streaming queries pin their state-store
    * partition count from this conf at query START, so wrapping a
    * query start in two different widths exercises two genuinely
    * different task/state layouts (partitioning-invariance specs).
    */
  protected def withShuffleWidth[T](w: Int)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", w.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}

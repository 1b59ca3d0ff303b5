package graft

/** Dev harness: flagship smoke + plan inspection (explain output for
  * the scale-critical queries — pushdown, broadcast, codegen spans).
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSparkExtensions.localSession(4)
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.headOption match {
      case Some("explain") =>
        args.drop(1).foreach { q =>
          println(s"===== $q =====")
          SparkEntry.queries(q)(spark, dir).explain("formatted")
        }
      case Some("show") =>
        args.drop(1).foreach { q =>
          println(s"===== $q =====")
          try SparkEntry.queries(q)(spark, dir).show(20, truncate = false)
          catch { case e: Throwable => println(s"THREW: $e"); e.printStackTrace() }
        }
      case _ =>
        val flagship = SparkEntry.entry(spark)
        println(s"flagship rows = ${flagship.count()}")
    }
    spark.stop()
  }
}

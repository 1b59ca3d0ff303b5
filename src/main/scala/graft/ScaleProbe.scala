package graft

import org.apache.spark.sql.functions._
import graft.Cuts.CutOps

/** Dev-only scale probe for the cosine-graph family: prints the edge
  * count, degree extremes, and the oriented wedge count Σ d_out² (the
  * triangle census's join size) for a fixture dir — the numbers that
  * decide whether a graph-family blowup is the PLAN (fix the
  * operator) or the FIXTURE (fix the scaler). Usage:
  * SPARK_GRAFT_SF_DIR=<dir> runMain graft.ScaleProbe [threshold]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val threshold = args.headOption.map(_.toDouble).getOrElse(0.3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSparkExtensions.localSession(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = Tables.table(spark, dir, "embeddings").count()
    val e = operators.CosGraph.edges(spark, dir, threshold)
      .cut(eager = true)
    val m = e.count()
    val deg = operators.Graph.degrees(e)
    val ds = deg.agg(max(col("deg")).as("dmax"),
      sum(col("deg") * col("deg")).as("d2")).collect().head
    // oriented out-degrees: edge leaves its lower-(deg, id) endpoint
    val dmap = deg.select(col("id"), col("deg"))
    val out = e
      .join(dmap.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(dmap.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("dout"))
      .agg(max(col("dout")).as("doutmax"),
        sum(col("dout") * col("dout")).as("wedges")).collect().head
    println(s"[probe] dir=$dir thr=$threshold n=$n m=$m " +
      s"dmax=${ds.getLong(0)} sum_d2=${ds.getLong(1)} " +
      s"dout_max=${out.getLong(0)} oriented_wedges=${out.getLong(1)}")
    spark.stop()
  }
}

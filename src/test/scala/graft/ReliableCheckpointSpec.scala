package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.Cuts.CutOps
import graft.operators.{Components, PageRank}

/** The 100 TB mode of [[Cuts]]: with
  * `spark.graft.reliableCheckpoint=true` and a checkpoint dir set,
  * every lineage cut (the iterative operators' per-round cuts and any
  * other `.cut`) goes through reliable checkpointing (survives
  * executor loss) instead of executor-local blocks — and the results
  * are identical to the default mode.
  */
class ReliableCheckpointSpec extends SparkSuite {
  import spark.implicits._

  private def graph = {
    val nodes = (0L to 9L).toDF("id")
    // two components: a path 0-1-2-3 and a triangle 5-6-7; 4,8,9 isolated
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 5L))
      .toDF("a", "b")
    (nodes, edges)
  }

  test("components and pagerank identical under reliable checkpointing") {
    val (nodes, edges) = graph
    val ccDefault = Components.connectedComponents(nodes, edges)
      .orderBy("id").collect().toSeq
    val prDefault = PageRank.pageRank(nodes, edges, rounds = 5)
      .select(col("id"), round(col("rank"), 9).as("r"))
      .orderBy("id").collect().toSeq

    val ckptDir = Files.createTempDirectory("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Cuts.ConfKey, "true")
    try {
      val ccReliable = Components.connectedComponents(nodes, edges)
        .orderBy("id").collect().toSeq
      val prReliable = PageRank.pageRank(nodes, edges, rounds = 5)
        .select(col("id"), round(col("rank"), 9).as("r"))
        .orderBy("id").collect().toSeq
      assert(ccReliable === ccDefault)
      assert(prReliable === prDefault)
      // the reliable path actually wrote checkpoint data
      val wrote = Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint files written — mode not taken")
    } finally {
      spark.conf.set(Cuts.ConfKey, "false")
    }
  }

  test("a plain frame's cut is reliable too") {
    val df = (1L to 20L).toDF("x").withColumn("y", col("x") * 2)
    val expected = df.orderBy("x").collect().toSeq
    val ckptDir = Files.createTempDirectory("graft-reliable-cut").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Cuts.ConfKey, "true")
    try {
      val got = df.cut(eager = true).orderBy("x").collect().toSeq
      assert(got === expected)
      val wrote = Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(Files.isRegularFile(_)).count()
      assert(wrote > 0, "cut wrote no reliable checkpoint files")
    } finally {
      spark.conf.set(Cuts.ConfKey, "false")
    }
  }
}

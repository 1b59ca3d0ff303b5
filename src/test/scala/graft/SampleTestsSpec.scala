package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.queries.SampleTests

/** The source-comparison tests: the two shared grids pinned on a
  * hand-built frame (groups A = [1, 1, 2] and B = [2, 3]), each oracle
  * CTE builder checked against its Spark form through `spark.sql`,
  * and sharp invariants of the pair-grid statistics — metric axioms,
  * cross-statistic consistency and exact driver recomputes.
  */
class SampleTestsSpec extends SparkSuite {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  private def lengthsBySource(): Map[String, Seq[Long]] =
    Tables.table(spark, sfDir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  private def buckets(): Map[String, Map[Long, Long]] =
    Tables.table(spark, sfDir, "documents")
      .select(col("source"), expr("n_chars div 20").as("b")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toLong).toMap).toMap

  private val obs = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L))

  /** The frame's per-group value counts `(g, v, cnt)`. */
  private def counts(): DataFrame = {
    import spark.implicits._
    obs.toDF("g", "v").groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
  }

  private def rows(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq

  private val pooledCols = Seq("g", "v", "cnt", "tot", "n", "below", "cbelow", "r2")
  private val pairCols = Seq("sa", "sb", "na", "nb", "v", "wa", "wb", "cuma", "cumb", "dv")

  test("pooled grid: every (group, pooled value) cell, cnt 0 where the group has none") {
    val cells = rows(SampleTests.pooledGrid(counts()), "g", "v", "cnt")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(cells == Seq(("A", 1L, 2L), ("A", 2L, 1L), ("A", 3L, 0L),
      ("B", 1L, 0L), ("B", 2L, 1L), ("B", 3L, 1L)))
  }

  test("pooled grid: doubled midranks r2 = 3, 7, 10 at v = 1, 2, 3 with N = 5") {
    val grid = rows(SampleTests.pooledGrid(counts()), "g", "v", "r2", "n")
    grid.foreach(r => assert(r.getLong(3) == 5L))
    Seq("A", "B").foreach { g =>
      assert(grid.filter(_.getString(0) == g).map(r => r.getLong(1) -> r.getLong(2)) ==
        Seq(1L -> 3L, 2L -> 7L, 3L -> 10L), s"group $g")
    }
  }

  test("pair grid: cumulative counts and value steps for (A, B)") {
    val dir = java.nio.file.Files.createTempDirectory("sample_tests_grid").toString
    import spark.implicits._
    obs.toDF("source", "n_chars").write.parquet(s"$dir/documents.parquet")
    val grid = rows(SampleTests.pairGrid(spark, dir, col("n_chars")), pairCols: _*)
    assert(grid.map(r => (r.getString(0), r.getString(1))).distinct == Seq(("A", "B")))
    assert(grid.map(_.getLong(7)) == Seq(2L, 3L, 3L), "cuma")
    assert(grid.map(_.getLong(8)) == Seq(0L, 1L, 2L), "cumb")
    assert(grid.map(r => if (r.isNullAt(9)) None else Some(r.getLong(9))) ==
      Seq(Some(1L), Some(1L), None), "dv")
  }

  test("each grid's oracle CTEs return the Spark form's rows through spark.sql") {
    val dir = java.nio.file.Files.createTempDirectory("sample_tests_sql").toString
    import spark.implicits._
    obs.toDF("source", "n_chars").write.parquet(s"$dir/documents.parquet")
    // an own session keeps these temp views out of the shared one,
    // whose fixture-named views Sql.registerViews owns
    val iso = spark.newSession()
    iso.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    iso.table("documents").select(col("source").as("g"), col("n_chars").as("v"))
      .createOrReplaceTempView("obs")
    val pooledSql = iso.sql(s"""WITH ${SampleTests.pooledGridSql(
      "SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM obs GROUP BY g, v")}
      SELECT * FROM pg""")
    assert(rows(pooledSql, pooledCols: _*) ==
      rows(SampleTests.pooledGrid(counts()), pooledCols: _*))
    val pairSql = iso.sql(s"WITH ${SampleTests.pairGridSql("n_chars")} SELECT * FROM cum")
    assert(rows(pairSql, pairCols: _*) ==
      rows(SampleTests.pairGrid(spark, dir, col("n_chars")), pairCols: _*))
  }

  test("energy distance: nonnegative; one pair matches an O(n^2) driver recompute") {
    val rows = run("q_x_energy_dist").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= -1e-9, "energy distance >= 0"))
    val ls = lengthsBySource()
    val h = rows.head
    val (xs, ys) = (ls(h.getString(0)), ls(h.getString(1)))
    def meanAbs(a: Seq[Long], b: Seq[Long]): Double =
      a.flatMap(x => b.map(y => math.abs(x - y).toDouble)).sum / (a.length.toLong * b.length)
    val d2 = 2 * meanAbs(xs, ys) - meanAbs(xs, xs) - meanAbs(ys, ys)
    assert(math.abs(h.getDouble(2) - d2) < 1e-4, s"energy recompute: $d2")
  }

  test("cvm: nonnegative; one pair matches a pooled-observation driver recompute") {
    val rows = run("q_x_cvm").collect()
    rows.foreach(r => assert(r.getDouble(2) >= -1e-9))
    val ls = lengthsBySource()
    val h = rows.head
    val (xs, ys) = (ls(h.getString(0)).sorted, ls(h.getString(1)).sorted)
    val (na, nb) = (xs.length.toDouble, ys.length.toDouble)
    def cdf(s: Seq[Long], v: Long): Double = s.count(_ <= v) / s.length.toDouble
    val pooled = (xs ++ ys)
    val sum2 = pooled.map(v => math.pow(cdf(xs, v) - cdf(ys, v), 2)).sum
    val t = na * nb / math.pow(na + nb, 2) * sum2
    assert(math.abs(h.getDouble(2) - t) < 1e-4, s"cvm recompute: $t")
  }

  test("kuiper: V >= KS D for every pair; one pair matches a driver recompute") {
    val kuiper = run("q_x_kuiper").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val ls = lengthsBySource()
    val h = kuiper.head
    val (xs, ys) = (ls(h._1._1), ls(h._1._2))
    val grid = (xs ++ ys).distinct.sorted
    def cdf(s: Seq[Long], v: Long): Double = s.count(_ <= v) / s.length.toDouble
    val dpos = grid.map(v => cdf(xs, v) - cdf(ys, v)).max.max(0.0)
    val dneg = grid.map(v => cdf(ys, v) - cdf(xs, v)).max.max(0.0)
    assert(math.abs(h._2 - (dpos + dneg)) < 1e-5, s"kuiper recompute: ${dpos + dneg}")
    // V dominates the one-sided sup distance
    assert(h._2 >= math.max(dpos, dneg) - 1e-9)
  }

  test("mmd: nonnegative; one pair matches a driver kernel recompute") {
    val rows = run("q_x_mmd").collect()
    rows.foreach(r => assert(r.getDouble(2) >= -1e-9, "MMD^2 >= 0"))
    val bs = buckets()
    val h = rows.head
    val (ha, hb) = (bs(h.getString(0)), bs(h.getString(1)))
    def ksum(x: Map[Long, Long], y: Map[Long, Long]): Double =
      (for ((bi, wi) <- x; (bj, wj) <- y)
        yield wi * wj * math.exp(-((bi - bj) * (bi - bj)).toDouble / 50.0)).sum
    val (na, nb) = (ha.values.sum.toDouble, hb.values.sum.toDouble)
    val mmd2 = ksum(ha, ha) / (na * na) + ksum(hb, hb) / (nb * nb) -
      2.0 * ksum(ha, hb) / (na * nb)
    assert(math.abs(h.getDouble(2) - mmd2) < 1e-5, s"mmd recompute: $mmd2")
  }

  test("hellinger: bc in [0,1], h in [0,1]; one pair matches recompute") {
    val rows = run("q_x_hellinger").collect()
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0 + 1e-9)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
    val bs = buckets()
    val h = rows.head
    val (ha, hb) = (bs(h.getString(0)), bs(h.getString(1)))
    val (na, nb) = (ha.values.sum.toDouble, hb.values.sum.toDouble)
    val bc = ha.keySet.intersect(hb.keySet).toSeq
      .map(b => math.sqrt(ha(b).toDouble * hb(b))).sum / math.sqrt(na * nb)
    assert(math.abs(h.getDouble(2) - bc) < 1e-5, s"bc recompute: $bc")
    assert(math.abs(h.getDouble(3) - math.sqrt(math.max(0.0, 1 - bc))) < 1e-5)
  }

  test("renyi: finite for every ordered pair; self-free; matches recompute") {
    val rows = run("q_x_renyi").collect()
    val srcs = buckets().keySet
    assert(rows.length == srcs.size * (srcs.size - 1), "every ordered pair")
    rows.foreach(r => assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
    val bs = buckets()
    val allB = bs.values.flatMap(_.keySet).toSet
    val h = rows.head
    val (ha, hb) = (bs(h.getString(0)), bs(h.getString(1)))
    val (na, nb) = (ha.values.sum.toDouble, hb.values.sum.toDouble)
    val srat = allB.toSeq.map { b =>
      val pa = ha.getOrElse(b, 0L).toDouble / na
      val pbS = (hb.getOrElse(b, 0L) + 1.0) / (nb + allB.size)
      pa * pa / pbS
    }.sum
    assert(math.abs(h.getDouble(2) - math.log(srat)) < 1e-5,
      s"renyi recompute: ${math.log(srat)}")
  }
}

package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions.dot
import graft.operators.Similarity

/** `graft_lsh_codes` ([[graft.functions.LshCodes]]) against the
  * per-plane form it replaced: one `graft_dot(v, array(lit…)) > 0`
  * sign bit per plane, table t on `hyperplanes(nPlanes, dim, 42 +
  * 1000·t)`. Codes must be bit-identical, through whole-stage codegen
  * and through the interpreted path.
  */
class LshCodesSpec extends SparkSuite {

  private val nPlanes = 6
  private val nTables = 4
  private val dim = 16

  private def perPlane(v: Column): Column = array((0 until nTables).map { t =>
    val planes = Similarity.hyperplanes(nPlanes, dim, seed = 42L + 1000L * t)
    (0 until nPlanes).map { p =>
      val w = array(planes(p).map(lit).toIndexedSeq: _*)
      when(dot(v, w) > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }: _*)

  private def kernel(v: Column): Column =
    call_function("graft_lsh_codes", v, lit(nPlanes), lit(nTables), lit(dim))

  /** Seeded random vectors, plus the edge rows: a null vector, a null
    * element inside and past the first `dim` elements, an all-zero
    * vector (every dot exactly 0), a short and a long vector.
    */
  private def vectors(elem: DataType): DataFrame = {
    val rnd = new Random(7)
    def num(x: Double): Any = if (elem == FloatType) x.toFloat else x
    val random = (0 until 200).map(i =>
      Row(i.toLong, Seq.fill(dim)(num(rnd.nextGaussian()))))
    val withNull = Seq.tabulate(dim)(i => if (i == 5) null else num(0.5 - i * 0.1))
    val nullPastDim = Seq.tabulate(dim + 2)(i => if (i == dim + 1) null else num(1.0 - i * 0.05))
    val edges = Seq(
      Row(1000L, null),
      Row(1001L, withNull),
      Row(1002L, nullPastDim),
      Row(1003L, Seq.fill(dim)(num(0.0))),
      Row(1004L, Seq.tabulate(dim / 2)(i => num(i - 3.0))),
      Row(1005L, Seq.tabulate(dim + 5)(i => num(2.0 - i * 0.3))))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(elem, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(random ++ edges, 3), schema)
  }

  private def codesOf(df: DataFrame, c: Column): Map[Long, Seq[Long]] =
    df.select(col("id"), c.as("c")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def withInterpreted[T](f: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (elem <- Seq(FloatType, DoubleType)) {
    test(s"codes equal the per-plane graft_dot > 0 form on array<$elem>") {
      val df = vectors(elem)
      val expected = codesOf(df, perPlane(col("v")))
      assert(codesOf(df, kernel(col("v"))) === expected)
      assert(withInterpreted(codesOf(df, kernel(col("v")))) === expected)
      // the edge rows: null vector, null element and all-zero dots
      // leave every bit 0; a null element past dim does not
      for (id <- Seq(1000L, 1001L, 1003L)) assert(expected(id) === Seq.fill(nTables)(0L), id)
      assert(expected(1002L).exists(_ != 0L))
      assert(expected.values.flatten.toSet.size > nTables, "random vectors must spread codes")
    }
  }

  test("output is nTables non-null longs per row") {
    val out = vectors(FloatType).select(kernel(col("v")).as("c"))
    assert(out.schema("c").dataType === ArrayType(LongType, containsNull = false))
    assert(!out.schema("c").nullable)
    assert(out.collect().forall(_.getSeq[Long](0).size == nTables))
  }

  test("a non-literal count or more than 63 planes fails loudly") {
    val df = vectors(FloatType).withColumn("k", lit(6))
    def failure(c: Column): String = {
      val e = intercept[Exception](df.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
    }
    assert(failure(call_function("graft_lsh_codes", col("v"), col("k"), lit(4), lit(dim)))
      .contains("takes literal counts"))
    assert(failure(call_function("graft_lsh_codes", col("v"), lit(64), lit(1), lit(dim)))
      .contains("nPlanes must be in [1, 63]"))
  }

  test("q_x_ann_lsh carries no plane literal in its plan") {
    // the per-plane form folded each plane into an array<double> literal
    val df = SparkEntry.queries("q_x_ann_lsh")(spark, sfDir)
    val arrays = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case l @ Literal(_, ArrayType(DoubleType, _)) => l
    }))
    assert(arrays.isEmpty, arrays.take(3))
  }
}

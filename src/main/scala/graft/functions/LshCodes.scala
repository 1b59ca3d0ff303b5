package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Codegen'd random-hyperplane LSH codes:
  * `graft_lsh_codes(embedding, nPlanes, nTables, dim)` → `array<bigint>`
  * of `nTables` sign codes, bit p of code t set when the embedding's dot
  * product with plane p of table t is > 0.
  *
  * Table t's planes are `Similarity.hyperplanes(nPlanes, dim, seed = 42
  * + 1000·t)`, built inside the expression, so the plan carries only the
  * three counts: no nTables·nPlanes·dim plane literals for Catalyst to
  * analyse and optimize on every build, or for Janino to compile on
  * every run. All tables' codes come from one pass over the vector.
  *
  * Codes are bit-identical to `graft_dot(embedding, plane) > 0` per
  * plane ([[ArrayDotProduct]]): elements widen to double, each plane's
  * dot accumulates `x * w` left to right over the first
  * min(length, dim) elements, and a bit is set only when the dot is
  * > 0. A null embedding, or a null element in that prefix, makes
  * every dot null there, so all its codes are 0 (LshCodesSpec).
  */
case class LshCodes(child: Expression, nPlanes: Int, nTables: Int, dim: Int)
    extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 63,
    s"graft_lsh_codes: nPlanes must be in [1, 63] (one long per code), got $nPlanes")
  require(nTables >= 1 && dim >= 1,
    s"graft_lsh_codes: nTables and dim must be positive, got $nTables, $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lsh_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_codes expects array<float|double>, got $other")
  }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** All planes, element-major: weight i of plane p of table t sits at
    * `i * nTables * nPlanes + t * nPlanes + p`, so the pass over the
    * vector reads one contiguous row of weights per element.
    */
  @transient private lazy val weights: Array[Double] = LshCodes.weights(nPlanes, nTables, dim)

  override def eval(input: InternalRow): Any = {
    val codes = new Array[Long](nTables)
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (v != null) {
      val tp = nTables * nPlanes
      val acc = new Array[Double](tp)
      val n = math.min(v.numElements(), dim)
      var valid = true
      var i = 0
      while (valid && i < n) {
        if (v.isNullAt(i)) valid = false
        else {
          val x = if (elemIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
          var j = 0
          while (j < tp) { acc(j) += x * weights(i * tp + j); j += 1 }
          i += 1
        }
      }
      if (valid) {
        var j = 0
        while (j < tp) {
          if (acc(j) > 0) codes(j / nPlanes) |= 1L << (j % nPlanes)
          j += 1
        }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    val tp = nTables * nPlanes
    val w = ctx.addReferenceObj("lshWeights", weights, "double[]")
    val acc = ctx.addMutableState("double[]", "lshAcc",
      a => s"$a = new double[$tp];", forceInline = true)
    val codes = ctx.addMutableState("long[]", "lshCodes",
      c => s"$c = new long[$nTables];", forceInline = true)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val x = ctx.freshName("x")
    val ws = ctx.freshName("ws")
    val valid = ctx.freshName("valid")
    ev.copy(code = code"""
      |${v.code}
      |java.util.Arrays.fill($codes, 0L);
      |if (!${v.isNull}) {
      |  java.util.Arrays.fill($acc, 0.0);
      |  double[] $ws = $w;
      |  int $n = java.lang.Math.min(${v.value}.numElements(), $dim);
      |  boolean $valid = true;
      |  for (int $i = 0; $i < $n; $i++) {
      |    if (${v.value}.isNullAt($i)) { $valid = false; break; }
      |    double $x = (double) ${v.value}.$get($i);
      |    for (int $j = 0; $j < $tp; $j++) $acc[$j] += $x * $ws[$i * $tp + $j];
      |  }
      |  if ($valid) {
      |    for (int $j = 0; $j < $tp; $j++) {
      |      if ($acc[$j] > 0) $codes[$j / $nPlanes] |= 1L << ($j % $nPlanes);
      |    }
      |  }
      |}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($codes);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshCodes {

  /** Registry constructor: the three counts must be numeric literals,
    * since they fix the code layout and the planes at plan time.
    */
  def build(e: Seq[Expression]): LshCodes = {
    val counts = e.tail.map { c =>
      require(c.foldable,
        "graft_lsh_codes(embedding, nPlanes, nTables, dim) takes literal counts")
      c.eval() match {
        case k: Number => k.intValue()
        case other => throw new IllegalArgumentException(
          s"graft_lsh_codes: counts must be numeric literals, got $other")
      }
    }
    LshCodes(e(0), counts(0), counts(1), counts(2))
  }

  /** The element-major weight layout of [[LshCodes]]. */
  private def weights(nPlanes: Int, nTables: Int, dim: Int): Array[Double] = {
    val tp = nTables * nPlanes
    val out = new Array[Double](dim * tp)
    for (t <- 0 until nTables) {
      val planes = Similarity.hyperplanes(nPlanes, dim, seed = 42L + 1000L * t)
      for (p <- 0 until nPlanes; i <- 0 until dim) out(i * tp + t * nPlanes + p) = planes(p)(i)
    }
    out
  }
}

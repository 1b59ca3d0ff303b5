package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count–Min sketch (Cormode & Muthukrishnan 2005) hashing shared by
  * the aggregate and the estimator: row i hashes with Murmur3 under a
  * fixed per-row seed — a pure function of (item, i), so sketches are
  * reproducible across runs, executors, and corpus repartitionings.
  */
object CountMin {
  private val rowSeeds = Array(0x9747b28c, 0x1b873593, 0x5bd1e995, 0x27d4eb2f,
    0x165667b1, 0x85ebca6b, 0xc2b2ae35, 0x9e3779b9)
  val maxDepth: Int = rowSeeds.length

  def bucket(item: String, row: Int, width: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(item, rowSeeds(row))
    java.lang.Math.floorMod(h, width)
  }
}

final class CmsState(val counts: Array[Long])

/** `graft_cms(item, depth, width)` → `array<long>` of
  * [depth, width] ++ depth×width counters — the mergeable frequency
  * sketch for "how often does X occur" over streams/corpora whose
  * DISTINCT cardinality itself can't shuffle (the point-query cousin
  * of graft_freq_items' top-k). The 2-slot geometry HEADER makes a
  * sketch self-describing: a probe declaring a product-compatible but
  * WRONG (depth, width) — e.g. (2, 4096) against a (4, 2048) build —
  * would otherwise read unrelated counters and could silently
  * UNDER-count, breaking the one contract CMS exists to keep
  * (review finding; CmsSpec pins the mismatch → NULL behavior).
  *
  * Scale contract: the buffer is depth·width longs regardless of input
  * size; partial aggregation ships one fixed-size summary per
  * (group × partition); and the sketch is LINEAR (merge = element-wise
  * add), so per-day/per-source partials stored as columns re-aggregate
  * over any slice without rescanning — the q_x_hll_union pattern, for
  * counts instead of distincts. Estimates never undercount; overcount
  * is bounded by ~N/width per row, min across depth rows (CmsSpec pins
  * both properties plus linearity).
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsState] {
  require(depth > 0 && depth <= CountMin.maxDepth,
    s"graft_cms: depth must be in [1, ${CountMin.maxDepth}]")
  require(width > 0, "graft_cms: width must be positive")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_cms expects a string item, got $other")
  }

  override def createAggregationBuffer(): CmsState =
    new CmsState(new Array[Long](depth * width))

  override def update(buf: CmsState, input: InternalRow): CmsState = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < depth) {
        buf.counts(i * width + CountMin.bucket(s, i, width)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: CmsState, other: CmsState): CmsState = {
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) += other.counts(i); i += 1 }
    buf
  }

  override def eval(buf: CmsState): Any = {
    val out = new Array[Any](2 + buf.counts.length)
    out(0) = depth.toLong
    out(1) = width.toLong
    var i = 0
    while (i < buf.counts.length) { out(2 + i) = buf.counts(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: CmsState): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.counts.length * 8)
    buf.counts.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CmsState = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    new CmsState(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_cms"
}

object CmsSketch {
  /** Registry constructor: `graft_cms(item, depth, width)` with foldable
    * numeric depth/width (sketch geometry must be known at plan time).
    */
  def build(exprs: Seq[Expression]): CmsSketch = {
    require(exprs.length == 3 && exprs(1).foldable && exprs(2).foldable,
      "graft_cms(item, depth, width) takes literal depth and width")
    (exprs(1).eval(), exprs(2).eval()) match {
      case (d: Number, w: Number) => CmsSketch(exprs(0), d.intValue(), w.intValue())
      case other => throw new IllegalArgumentException(
        s"graft_cms: depth/width must be numeric literals, got $other")
    }
  }
}

/** `graft_cms_query(sketch, item, depth, width)` → the Count–Min point
  * estimate: min over depth rows of the item's counter. A scalar
  * expression so estimation composes distributed (broadcast the
  * one-row sketch, probe from any side of a join) instead of
  * collecting the sketch to the driver. Cold-path (runs once per
  * probe, not per corpus row) — CodegenFallback is the honest cost.
  */
case class CmsQuery(sketch: Expression, item: Expression, depth: Int, width: Int)
  extends Expression with CodegenFallback {
  require(depth > 0 && depth <= CountMin.maxDepth && width > 0,
    s"graft_cms_query: depth must be in [1, ${CountMin.maxDepth}], width positive")

  override def children: Seq[Expression] = Seq(sketch, item)
  override def checkInputDataTypes(): TypeCheckResult =
    (sketch.dataType, item.dataType) match {
      case (ArrayType(LongType, _), StringType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"graft_cms_query expects (array<bigint>, string), got ($s, $i)")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val sk = sketch.eval(input)
    val it = item.eval(input)
    if (sk == null || it == null) null
    else {
      val arr = sk.asInstanceOf[ArrayData]
      // self-describing header: declared geometry must MATCH the
      // build geometry exactly (a product-compatible mismatch would
      // probe wrong buckets and could undercount) — degrade to NULL,
      // never abort, never lie
      if (arr.numElements() != 2 + depth * width ||
        arr.getLong(0) != depth.toLong || arr.getLong(1) != width.toLong) null
      else {
        val s = it.asInstanceOf[UTF8String].toString
        var best = Long.MaxValue
        var i = 0
        while (i < depth) {
          val c = arr.getLong(2 + i * width + CountMin.bucket(s, i, width))
          if (c < best) best = c
          i += 1
        }
        best
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsQuery =
    copy(sketch = newChildren(0), item = newChildren(1))

  override def prettyName: String = "graft_cms_query"
}

object CmsQuery {
  def build(exprs: Seq[Expression]): CmsQuery = {
    require(exprs.length == 4 && exprs(2).foldable && exprs(3).foldable,
      "graft_cms_query(sketch, item, depth, width) takes literal depth and width")
    (exprs(2).eval(), exprs(3).eval()) match {
      case (d: Number, w: Number) => CmsQuery(exprs(0), exprs(1), d.intValue(), w.intValue())
      case other => throw new IllegalArgumentException(
        s"graft_cms_query: depth/width must be numeric literals, got $other")
    }
  }
}

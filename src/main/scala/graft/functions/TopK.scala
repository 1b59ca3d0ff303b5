package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY.md §2.9): a bounded top-k aggregator —
  * the heap-style aggregate Spark lacks as a built-in. Buffer stays
  * O(k) regardless of group size, merges associatively — the property
  * that makes it safe for map-side partial aggregation at 100 TB
  * (unlike collect_list + slice, whose buffer is O(group)).
  *
  * Register with `functions.udaf(new TopKAggregator(k))`.
  */
class TopKAggregator(k: Int) extends Aggregator[Double, Seq[Double], Seq[Double]] {
  require(k > 0)

  override def zero: Seq[Double] = Vector.empty

  private def trim(s: Seq[Double]): Seq[Double] =
    if (s.size <= k) s else s.sorted(Ordering[Double].reverse).take(k)

  override def reduce(buf: Seq[Double], v: Double): Seq[Double] =
    if (buf.size < k) buf :+ v
    else {
      val mn = buf.min
      if (v > mn) trim(buf :+ v) else buf
    }

  override def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] = trim(a ++ b)

  /** Descending, deterministic output. */
  override def finish(buf: Seq[Double]): Seq[Double] =
    buf.sorted(Ordering[Double].reverse)

  override def bufferEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

/** MinHash-sketch union aggregator (SURVEY.md §2.9, §4.2): merges
  * per-row k-wise min-hash signatures into a group signature by
  * element-wise min — the sketch algebra behind corpus-level
  * similarity profiles. Commutative + associative ⇒ partial-agg safe.
  */
class MinHashUnionAggregator(k: Int)
    extends Aggregator[Seq[Long], Seq[Long], Seq[Long]] {

  override def zero: Seq[Long] = Vector.fill(k)(Long.MaxValue)

  private def elemMin(a: Seq[Long], b: Seq[Long]): Seq[Long] =
    a.zip(b).map { case (x, y) => math.min(x, y) }

  override def reduce(buf: Seq[Long], sig: Seq[Long]): Seq[Long] = elemMin(buf, sig)
  override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = elemMin(a, b)
  override def finish(buf: Seq[Long]): Seq[Long] = buf

  override def bufferEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

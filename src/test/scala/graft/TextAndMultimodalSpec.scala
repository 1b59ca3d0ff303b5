package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.multimodal.Multimodal

class TextFunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("langId identifies stopword-bearing sentences; und for none") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist ein tier und das ist gut"),
      (3L, "el perro es un animal y la casa es grande"),
      (4L, "le chien est un animal et la maison est grande"),
      (5L, "qwerty zxcvb asdfgh")
    ).toDF("id", "text")
      .select($"id", TextFunctions.langId(TextFunctions.tokens($"text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(df(1L) === "en" && df(2L) === "de" && df(3L) === "es" && df(4L) === "fr")
    assert(df(5L) === "und")
  }

  test("qualityScore in [0,1]; longer non-stopword text scores higher") {
    val df = Seq(
      (1L, "the the the the a a a a"),
      (2L, Seq.tabulate(120)(i => s"w$i").mkString(" "))
    ).toDF("id", "text")
      .select($"id", TextFunctions.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(df.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(df(2L) > df(1L))
  }

  test("regexTokenCount counts alnum runs") {
    val n = Seq(("a1 b2, c3; --d4!", 1)).toDF("text", "x")
      .select(TextFunctions.regexTokenCount("text")).as[Int].collect().head
    assert(n === 4)
  }

  test("shingles: distinct char trigrams; short text yields empty") {
    val out = Seq(("abcd", 1), ("ab", 2)).toDF("text", "id")
      .select($"id", TextFunctions.shinglesExpr("text", 3).as("s"))
      .as[(Int, Seq[String])].collect().toMap
    assert(out(1) === Seq("abc", "bcd"))
    assert(out(2) === Seq.empty)
  }

  test("jaccard: identical sets 1.0, disjoint 0.0") {
    val out = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d")))
      .toDF("x", "y", "z")
      .select(
        TextFunctions.jaccard($"x", $"y").as("same"),
        TextFunctions.jaccard($"x", $"z").as("diff"))
      .as[(Double, Double)].collect().head
    assert(out === ((1.0, 0.0)))
  }
}

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq((7L, "hello world")).toDF("doc_id", "text")

  test("attachBinary produces binary payload with metadata") {
    val row = Multimodal.attachBinary(docs).collect().head
    assert(row.getAs[Array[Byte]]("payload").toSeq === "hello world".getBytes("UTF-8").toSeq)
    assert(row.getString(2) === "fake/raw")
  }

  test("decodeFeatures (stub) yields deterministic features via mapPartitions") {
    val f = Multimodal.decodeFeatures(spark, Multimodal.attachBinary(docs)).collect().head
    assert(f.doc_id === 7L)
    assert(f.n_bytes === 11)
    assert(f.width === 11 % 64 + 16)
    assert(f.height === ('h'.toInt & 0x1f) + 1)
    assert(f.checksum.length === 64 && f.checksum.matches("[0-9a-f]+"))
  }

  test("decode matches the oracle'd q_x_multimodal formula on fixtures") {
    val viaQuery = SparkEntry.queries("q_x_multimodal")(spark, sfDir)
    val direct = Multimodal.decodeFeatures(spark,
      Multimodal.attachBinary(Tables.table(spark, sfDir, "documents"))).toDF()
    assert(viaQuery.count() === 500)
    assert(viaQuery.except(direct.orderBy($"doc_id")).isEmpty)
  }

  test("resize truncates payloads; sampleFrames strides 16-byte chunks") {
    val resized = Multimodal.resize(spark, Multimodal.attachBinary(docs), 5).collect().head
    assert(resized.payload.toSeq === "hello".getBytes("UTF-8").toSeq)
    assert(resized.format === "fake/resized")

    val longDoc = Seq((1L, "x" * 100)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, Multimodal.attachBinary(longDoc), 2).collect()
    // 100 bytes → 7 chunks (idx 0..6), stride 2 → idx 0,2,4,6
    assert(frames.map(_.frame_idx).sorted.toSeq === Seq(0, 2, 4, 6))
  }
}

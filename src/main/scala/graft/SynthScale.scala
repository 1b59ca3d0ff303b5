package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only fixture scaler for the 100×-would-it-hold evidence run
  * (VERDICT r8 item 8): writes a synthetic sf1 directory by replicating
  * each fact table K=10× with key-shifted copies, keeping the dims as
  * is — the same shape TPC-H scaling has (facts grow, dims ~stay).
  *
  * Key shifting keeps the join/web graph structurally honest: copy i of
  * an order points at copy i of its lineitems (keys shifted by
  * i·stride), while customer/supplier/part FKs stay UNshifted so fact
  * fan-in per dim row grows 10× — exactly what a bigger SF does.
  * Documents get copy-tagged doc_ids and a copy-salted text PREFIX so
  * replicas are not trivial exact duplicates (which would collapse the
  * dedup family's work); embeddings stay per-doc with the same shift.
  *
  * Usage: runMain graft.SynthScale <srcSfDir> <outDir> [K]
  * Writes parquet per table; Bench/Verify then point at <outDir>.
  */
object SynthScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSparkExtensions.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(k).toDF("copy_i"))

    // key stride safely above every fixture key range
    val stride = 100000000L

    def shift(c: String): org.apache.spark.sql.Column =
      col(c) + col("copy_i") * stride

    val dims = Seq("region", "nation", "customer", "supplier", "part")
    dims.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    copies(spark.read.parquet(s"$src/orders.parquet"))
      .withColumn("o_orderkey", shift("o_orderkey"))
      .drop("copy_i")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    copies(spark.read.parquet(s"$src/lineitem.parquet"))
      .withColumn("l_orderkey", shift("l_orderkey"))
      .drop("copy_i")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events: event_id must stay unique; user_id shifts too so the
    // per-user grain (sessions, windows) scales in USERS not in events
    // per user — a 10× corpus has more users, not 10× longer sessions.
    copies(Tables.events(spark, src))
      .withColumn("event_id", shift("event_id"))
      .withColumn("user_id", shift("user_id"))
      .drop("copy_i")
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // documents: shifted ids; copy 0 keeps original text (the planted
    // near-dup structure survives), copies 1..k-1 get every 3rd TOKEN
    // salted with the copy index — that rewrites ~every trigram, so
    // replicas are genuinely NEW content to the shingle/Jaccard/LSH
    // family (first version used a salted prefix only: every doc then
    // sat in a k-clique of near-dups and all pair-grain queries went
    // quadratic BY CONSTRUCTION, telling us about the fixture, not
    // the plans).
    copies(spark.read.parquet(s"$src/documents.parquet"))
      .withColumn("text",
        when(col("copy_i") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              (w, i) => when(i % 3 === 0,
                concat(w, lit("x"), col("copy_i"))).otherwise(w)),
            " ")))
      .withColumn("doc_id", shift("doc_id"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("copy_i")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: per-copy deterministic SIGN-FLIP pattern (an
    // orthogonal diag(±1) per copy) + small jitter. The first
    // version used jitter alone (±0.03/element): replicas of the
    // same base vector stayed at cos ≈ 0.97, so EVERY vector sat in
    // a K-clique of the cosine graph and the whole graph family went
    // quadratic BY CONSTRUCTION (the r11 K=30 run OOMed on exactly
    // this — same lesson as the r10 document-prefix salting).
    // Sign-flips fix the geometry honestly: cos(S·a, S·b) = cos(a,b)
    // for the SAME pattern S, so each copy reproduces the original
    // similarity structure internally, while cross-copy pairs see
    // uncorrelated signs and collapse to cos ≈ 0 — the edge set
    // scales ~K× like a real corpus, not K².
    copies(spark.read.parquet(s"$src/embeddings.parquet"))
      .withColumn("embedding",
        transform(col("embedding"), (x, j) => {
          val jit = x +
            (pmod(col("copy_i") * 31 + j, lit(7)) - lit(3)).cast("float") * lit(0.01f)
          when(col("copy_i") === 0 ||
              pmod(hash(col("copy_i") * 101 + j), lit(2)) === 0, jit)
            .otherwise(-jit).cast("float")
        }))
      .withColumn("vec_id", shift("vec_id"))
      .drop("copy_i")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Tables.names.foreach { t =>
      val n = spark.read.parquet(s"$out/$t.parquet").count()
      println(s"[synth] $t rows = $n")
    }
    spark.stop()
  }
}

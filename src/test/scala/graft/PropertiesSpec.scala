package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Upsert
import graft.streaming.WeatherIngest

/** Property-based tests (SURVEY.md §5.2 item 3) via raw ScalaCheck
  * (no scalatest-plus bridge in the offline cache): upsert idempotence
  * and incoming-wins, the weather merge against its upsert model,
  * dedup fixpoint, set-op algebra, jaccard bounds.
  */
class PropertiesSpec extends SparkSuite {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)
  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val kvGen: Gen[List[(Int, Int)]] =
    Gen.listOfN(12, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))

  test("property: KMV sketch is merge-order / partition independent") {
    // union-of-sketches == sketch-of-union for any split of the input —
    // the mergeability q_x_kmv_overlap's scale argument rests on
    val itemsGen = Gen.listOfN(60, Gen.choose(0, 2000).map(i => s"it$i"))
    check(Prop.forAll(itemsGen, itemsGen) { (xs, ys) =>
      def sk(vs: Seq[String], parts: Int) =
        spark.createDataset(vs).repartition(parts).toDF("v")
          .select(md5(col("v")).as("h"))
          .agg(call_function("graft_kmv", col("h"), lit(16)).as("ks"))
          .as[Seq[String]].head()
      sk(xs ++ ys, 7) == sk(ys ++ xs, 2)
    })
  }

  test("property: containmentPairs == brute force on random set corpora") {
    val corpusGen = Gen.listOfN(8, Gen.nonEmptyListOf(Gen.choose(0, 12).map(i => s"e$i")))
    check(Prop.forAll(corpusGen, Gen.oneOf(0.5, 0.8, 1.0)) { (docs, theta) =>
      val sets = docs.zipWithIndex
        .map { case (es, i) => (i.toLong, es.distinct) }.toDF("id", "s")
      val got = graft.operators.Dedup.containmentPairs(sets, "id", "s", theta)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val p = math.round(theta * 1000000L)
      val rows = docs.map(_.distinct.toSet).zipWithIndex
      val want = (for {
        (sa, a) <- rows; (sb, b) <- rows if a != b && sa.nonEmpty
        if sa.intersect(sb).size * 1000000L >= sa.size.toLong * p
      } yield (a.toLong, b.toLong)).toSet
      got == want
    })
  }

  test("property: merge(merge(t,b),b) == merge(t,b)") {
    check(Prop.forAll(kvGen, kvGen) { (t, b) =>
      val target = Upsert.dedupKeyed(t.toDF("k", "v"), Seq("k"), Seq(col("v")))
      val batch = Upsert.dedupKeyed(b.toDF("k", "v"), Seq("k"), Seq(col("v")))
      val once = Upsert.upsert(target, batch, Seq("k"))
      val twice = Upsert.upsert(once, batch, Seq("k"))
      once.except(twice).isEmpty && twice.except(once).isEmpty
    })
  }

  test("property: after merge, every incoming key carries the incoming value") {
    check(Prop.forAll(kvGen, kvGen) { (t, b) =>
      val target = Upsert.dedupKeyed(t.toDF("k", "v"), Seq("k"), Seq(col("v")))
      val batch = Upsert.dedupKeyed(b.toDF("k", "v"), Seq("k"), Seq(col("v")))
      val merged = Upsert.upsert(target, batch, Seq("k"))
      merged.as("m").join(batch.as("b"), "k")
        .filter(col("m.v") =!= col("b.v")).isEmpty
    })
  }

  test("property: WeatherIngest.merge == upsert(target, batch.distinct()), idempotent") {
    type W = (Int, String, String, Double)
    def df(rs: Seq[W]): DataFrame =
      rs.map { case (t, c, d, v) => (new java.sql.Timestamp(t * 300000L), c, d, v) }
        .toDF("time", "city_name", "weather_description", "temperature")
    def rows(d: DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq
    // targets are what merge produces: distinct rows, non-NULL keys
    def agrees(t: Seq[W], b: Seq[W]): Boolean = {
      val target = df(t).distinct()
      val batch = df(b)
      val got = WeatherIngest.merge(target, batch)
      val model = Upsert.upsert(target, batch.distinct(), Seq("time", "city_name"))
      rows(got) == rows(model) && rows(WeatherIngest.merge(got, batch)) == rows(got)
    }
    // a tiny domain: most draws hold exact duplicates and keys with
    // two values, in the batch and across target and batch
    val wGen: Gen[W] = Gen.zip(Gen.choose(0, 2), Gen.oneOf("Delft", "Gouda"),
      Gen.oneOf("mist", "rain"), Gen.oneOf(4.0, 7.5))
    val wsGen = Gen.choose(0, 8).flatMap(Gen.listOfN(_, wGen))
    check(Prop.forAll(wsGen, wsGen)(agrees))
    val dup = (1, "Delft", "mist", 4.0)
    val twoValues = Seq(dup, dup, (1, "Delft", "rain", 4.0), (2, "Gouda", "mist", 7.5))
    assert(agrees(Nil, twoValues))
    assert(agrees(twoValues, Nil))
    assert(agrees(Seq(dup, (0, "Gouda", "rain", 7.5)), twoValues))
    assert(agrees(Nil, Nil))
  }

  test("property: distinct is a fixpoint") {
    check(Prop.forAll(kvGen) { xs =>
      val d1 = xs.toDF("k", "v").distinct()
      d1.count() == d1.distinct().count()
    })
  }

  test("property: (a EXCEPT b) disjoint from b, and union algebra holds") {
    val setGen = Gen.listOfN(10, Gen.choose(0, 8))
    check(Prop.forAll(setGen, setGen) { (a, b) =>
      val da = a.toDF("x"); val db = b.toDF("x")
      val ex = da.except(db)
      val in = da.intersect(db)
      ex.intersect(db).isEmpty &&
        ex.unionByName(in).distinct().count() == da.distinct().count()
    })
  }

  test("property: jaccard of distinct word arrays is in [0,1], self = 1") {
    val wordsGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
      .map(_.distinct)
    check(Prop.forAll(wordsGen, wordsGen) { (x, y) =>
      val row = Seq((x, y)).toDF("x", "y")
        .select(
          TextFunctions.jaccard(col("x"), col("y")).as("xy"),
          TextFunctions.jaccard(col("x"), col("x")).as("self"))
        .as[(Double, Double)].collect().head
      row._1 >= 0.0 && row._1 <= 1.0 && row._2 == 1.0
    })
  }

  test("property: spanDupStats == brute-force window sharing on random corpora") {
    // tiny vocabulary + short docs → heavy window collisions, the
    // adversarial regime for the distinct-doc counting
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    check(Prop.forAll(Gen.listOfN(6, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup.spanDupStats(docs, "text", "doc_id", 3)
        .select($"doc_id", $"n_windows", $"n_dup_windows")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val wins = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSeq }
      val docsPerGram = wins.flatMap { case (id, ws) => ws.map(w => (w, id)) }
        .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
      val want = wins.map { case (id, ws) =>
        id -> ((ws.size.toLong, ws.count(w => docsPerGram(w) >= 2).toLong)) }.toMap
      got == want
    })
  }

  test("property: CMS never undercounts and is linear under any split") {
    val depth = 3
    val width = 32 // deliberately tiny: force collisions
    def sketch(vs: Seq[String], parts: Int): Seq[Long] = {
      val full = spark.createDataset(vs).repartition(parts).toDF("t")
        .agg(call_function("graft_cms", col("t"), lit(depth), lit(width)).as("sk"))
        .as[Seq[Long]].head()
      assert(full.take(2) == Seq(depth.toLong, width.toLong))
      full.drop(2) // raw counters: linearity is a property of the counter block
    }
    val itemsGen = Gen.listOfN(50, Gen.choose(0, 20).map(i => s"w$i"))
    check(Prop.forAll(itemsGen, itemsGen) { (xs, ys) =>
      val whole = sketch(xs ++ ys, 5)
      val linear = sketch(xs, 3).zip(sketch(ys, 2)).map { case (a, b) => a + b }
      val exact = (xs ++ ys).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val noUndercount = exact.forall { case (t, c) =>
        (0 until depth).map(i =>
          whole(i * width + graft.functions.CountMin.bucket(t, i, width))).min >= c
      }
      whole == linear && noUndercount
    })
  }

  test("property: LPA communities refine connected components on random graphs") {
    val edgeGen = Gen.listOfN(12, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      .map(_.filter(e => e._1 != e._2))
    check(Prop.forAll(edgeGen) { es =>
      val nodes = (0L to 9L).toDF("id")
      val edges = if (es.isEmpty) Seq((0L, 1L)).toDF("a", "b") else es.toDF("a", "b")
      val eset = if (es.isEmpty) Seq((0L, 1L)) else es
      // local union-find reference for CC
      val parent = scala.collection.mutable.Map((0L to 9L).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      eset.foreach { case (a, b) => parent(find(a)) = find(b) }
      val com = graft.operators.Lpa.communities(nodes, edges, rounds = 4)
        .as[(Long, Long)].collect().toMap
      // every pair sharing an LPA community shares a component
      (0L to 9L).combinations(2).forall { case Seq(a, b) =>
        com(a) != com(b) || find(a) == find(b) }
    })
  }

  test("property: PSI is zero on itself and non-negative against any histogram") {
    def hist(counts: Seq[(Long, Long)]) =
      counts.toDF("bucket", "c")
    val hGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 8L), Gen.choose(1L, 30L)))
      .map(_.groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2).sum) }.toSeq)
    check(Prop.forAll(hGen, hGen) { (h1, h2) =>
      val (self, _) = graft.operators.Drift.psi(hist(h1), hist(h1))
      val (cross, _) = graft.operators.Drift.psi(hist(h1), hist(h2))
      math.abs(self) < 1e-12 && cross >= -1e-12
    })
  }
}

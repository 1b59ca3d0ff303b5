package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayIntersectCount, TextFunctions}
import graft.operators.Dedup

/** Dedup-family behavior (SURVEY.md §2.8) on handmade corpora with
  * known similarity structure, plus recall on the fixture.
  */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta"),
    (1L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 0
    (2L, "one two three four five six seven eight"),        // unrelated
    (3L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact dup of 0
    (4L, "theta eta zeta epsilon delta gamma beta alpha")   // permutation of 0
  ).toDF("doc_id", "text")

  test("exactByHash groups byte-identical texts only") {
    val out = Dedup.exactByHash(corpus, "text", "doc_id")
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(out(0L) === 2L)          // docs 0 and 3
    assert(out.size === 4)          // 5 docs, one collision
  }

  test("bag fingerprint collides for permutations, not for different vocab") {
    val fp = corpus.select($"doc_id",
      TextFunctions.bagFingerprint($"text").as("fp")).as[(Long, String)].collect().toMap
    assert(fp(0L) === fp(3L) && fp(0L) === fp(4L)) // same vocabulary
    assert(fp(0L) !== fp(2L))
    assert(fp(0L) !== fp(1L))                      // theta vs iota
  }

  test("incrementalExact == plain anti join; bloom path changes nothing") {
    val hist = corpus.filter($"doc_id" < 3)   // texts of docs 0,1,2
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of hist 0
      (11L, "totally fresh content nine ten eleven twelve"),  // new
      (12L, "totally fresh content nine ten eleven twelve"),  // dup WITHIN batch
      (13L, "one two three four five six seven eight")        // dup of hist 2
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(hist, batch, "text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(out === Set(11L)) // one survivor: the fresh text, min id

    // reference: exactByHash(batch) anti-join hist hashes, no bloom
    val ref = Dedup.exactByHash(batch, "text", "doc_id")
      .join(hist.select(sha2($"text", 256).as("ch")).distinct(),
        $"h" === $"ch", "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(out === ref)

    // empty corpus: every distinct batch text is new
    val emptyHist = hist.filter("1 = 0")
    val all = Dedup.incrementalExact(emptyHist, batch, "text", "doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(all === Set(10L, 11L, 13L))

    // all-dup batch: nothing survives
    val dupBatch = hist.withColumn("doc_id", $"doc_id" + 100)
    assert(Dedup.incrementalExact(hist, dupBatch, "text", "doc_id").isEmpty)
  }

  test("minhash LSH finds exact + near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(corpus, "text", "doc_id",
        bands = 8, rowsPerBand = 4, threshold = 0.7)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 4L))) // jaccard 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // jaccard 7/9
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("minhash recall on fixture vs exact jaccard ≥ 0.9 at θ=0.9") {
    val docs = Tables.table(spark, sfDir, "documents").filter($"doc_id" < 100)
    val words = docs.select($"doc_id",
      array_distinct(TextFunctions.tokens($"text")).as("w"))
    val a = words.select($"doc_id".as("doc_a"), $"w".as("wa"))
    val b = words.select($"doc_id".as("doc_b"), $"w".as("wb"))
    val exact = a.join(b, $"doc_a" < $"doc_b")
      .withColumn("j", TextFunctions.jaccard($"wa", $"wb"))
      .filter($"j" >= 0.9)
      .select($"doc_a", $"doc_b")
    val found = Dedup.minhashNearDups(docs, "text", "doc_id",
        bands = 8, rowsPerBand = 6, threshold = 0.9)
      .select($"doc_a", $"doc_b")
    val nExact = exact.count().toDouble
    val recall = found.intersect(exact).count() / math.max(nExact, 1.0)
    info(f"minhash recall at 0.9 = $recall%.3f over ${nExact.toLong} true pairs")
    assert(nExact === 0 || recall >= 0.9)
  }

  test("shingled minhash (ngram=3) full-fixture recall = 1 on planted pairs; buckets prune") {
    val docs = Tables.table(spark, sfDir, "documents")
    val sh = docs.select($"doc_id",
      array_distinct(TextFunctions.wordNgramsExpr("text", 3)).as("g"))
    val a = sh.select($"doc_id".as("doc_a"), $"g".as("ga"))
    val b = sh.select($"doc_id".as("doc_b"), $"g".as("gb"))
    val exact = a.join(b, $"doc_a" < $"doc_b")
      .withColumn("j", TextFunctions.jaccard($"ga", $"gb"))
      .filter($"j" >= 0.9)
      .select($"doc_a", $"doc_b")
    val found = Dedup.minhashNearDups(docs, "text", "doc_id",
        bands = 8, rowsPerBand = 6, threshold = 0.9, ngram = 3)
      .select($"doc_a", $"doc_b")
    val nExact = exact.count().toDouble
    val recall = found.intersect(exact).count() / math.max(nExact, 1.0)
    info(f"shingled minhash recall at 0.9 = $recall%.3f over ${nExact.toLong} true pairs")
    // planted pairs sit at j ≈ 0.9-0.99: per-band hit prob j^6 ≥ 0.53,
    // miss prob ≤ (1-0.53)^8 ≈ 0.2%% — recall 1.0 expected, and the
    // exact-jaccard verify makes precision 1.0 by construction
    assert(nExact === 0 || recall >= 0.9)
    assert(found.count() === found.intersect(exact).count()) // no extras pass verify
  }

  // Corpus for the exact similarity join: 40 random-vocab docs with
  // near-dups planted at SCATTERED (non-adjacent) positions — 3↔19↔27
  // form a triangle — plus an empty doc. Nothing about the layout is
  // id-adjacent, so an id-offset join cannot fake the result.
  private lazy val scatterCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    val vocab = Vector.tabulate(120)(i => s"w$i")
    def doc() = Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = scala.collection.mutable.ArrayBuffer.tabulate(40)(i => (i.toLong, doc()))
    for ((src, dst) <- Seq((3, 27), (5, 31), (12, 38), (3, 19))) {
      val words = base(src)._2.split(" ")
      words(words.length / 2) = s"edited$dst"
      base(dst) = (dst.toLong, words.mkString(" "))
    }
    base(33) = (33L, "")
    base.toSeq
  }

  private def scatterSets = scatterCorpus.toDF("id", "text")
    .select($"id", array_distinct(array_remove(split($"text", " "), "")).as("s"))

  /** Brute-force all-pairs with the SAME integer-rational threshold
    * test as exactJaccardPairs (θ = p/1e6), so boundary pairs cannot
    * disagree between the two paths by float noise.
    */
  private def bruteForcePairs(sets: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, Long, Double)] = {
    val p = math.round(threshold * 1000000L)
    val a = sets.select($"id".as("doc_a"), $"s".as("sa"))
    val b = sets.select($"id".as("doc_b"), $"s".as("sb"))
    a.join(b, $"doc_a" < $"doc_b")
      .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
      .withColumn("uni", size(array_union($"sa", $"sb")).cast("long"))
      .filter($"uni" > 0 && $"inter" * 1000000L >= $"uni" * p)
      .select($"doc_a", $"doc_b",
        round($"inter".cast("double") / $"uni", 6).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
  }

  test("exactJaccardPairs == brute-force all-pairs; planted dups are non-adjacent") {
    for (theta <- Seq(0.5, 0.7, 0.95, 1.0)) { // 1.0 = exact-duplicate sets: prefix shrinks to the single rarest element
      val got = Dedup.exactJaccardPairs(scatterSets, "id", "s", theta)
        .as[(Long, Long, Double)].collect().toSet
      val want = bruteForcePairs(scatterSets, theta)
      assert(got === want, s"at θ=$theta")
      if (theta == 0.7) {
        val pairs = got.map(t => (t._1, t._2))
        assert(Set((3L, 19L), (3L, 27L), (5L, 31L), (12L, 38L), (19L, 27L))
          .subsetOf(pairs))                       // all planted edges found
        assert(pairs.forall { case (x, y) => y - x > 1 }) // none id-adjacent
      }
    }
  }

  test("containmentPairs == brute-force ordered pairs; asymmetric subsets detected") {
    // plant a strict-subset doc: 6 of doc 3's words → containment
    // (50→3) = 1.0 while (3→50) stays far below threshold
    val sub = scatterCorpus(3)._2.split(" ").distinct.take(6).mkString(" ")
    val corpus2 = (scatterCorpus :+ (50L, sub)).toDF("id", "text")
      .select($"id", array_distinct(array_remove(split($"text", " "), "")).as("s"))
    for (theta <- Seq(0.6, 0.8, 1.0)) { // 1.0: prefix shrinks to the single rarest element
      val got = Dedup.containmentPairs(corpus2, "id", "s", theta)
        .as[(Long, Long, Double)].collect().toSet
      val p = math.round(theta * 1000000L)
      val a = corpus2.select($"id".as("doc_a"), $"s".as("sa"))
      val b = corpus2.select($"id".as("doc_b"), $"s".as("sb"))
      val want = a.join(b, $"doc_a" =!= $"doc_b")
        .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
        .withColumn("na", size($"sa").cast("long"))
        .filter($"na" > 0 && $"inter" * 1000000L >= $"na" * p)
        .select($"doc_a", $"doc_b",
          round($"inter".cast("double") / $"na", 6).as("containment"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want, s"at θ=$theta")
      if (theta == 1.0) {
        val pairs = got.map(t => (t._1, t._2))
        assert(pairs.contains((50L, 3L)))   // subset → superset
        assert(!pairs.contains((3L, 50L)))  // not the reverse
      }
    }
  }

  test("exactJaccardPairs keeps native id types: string ids are not nulled out") {
    val strSets = scatterCorpus.toDF("id", "text")
      .select(format_string("doc-%03d", $"id").as("id"),
        array_distinct(array_remove(split($"text", " "), "")).as("s"))
    val got = Dedup.exactJaccardPairs(strSets, "id", "s", 0.7)
      .select($"doc_a", $"doc_b").as[(String, String)].collect().toSet
    val want = bruteForcePairs(scatterSets, 0.7)
      .map(t => (f"doc-${t._1}%03d", f"doc-${t._2}%03d"))
    assert(got === want && got.nonEmpty)
  }

  test("exactJaccardJoin == brute-force cross pairs between two corpora") {
    // split at id 12 so every planted pair (3,19),(3,27),(5,31),(12,38)
    // crosses the partition boundary (the sides are also deliberately
    // different sizes — the R-S join must not assume symmetry)
    val leftSets = scatterSets.filter($"id" <= 12)
    val rightSets = scatterSets.filter($"id" > 12)
    for (theta <- Seq(0.5, 0.7, 1.0)) {
      val got = Dedup.exactJaccardJoin(leftSets, rightSets, "id", "s", theta)
        .as[(Long, Long, Double)].collect().toSet
      // brute force: all (odd, even) pairs over the same threshold test
      val p = math.round(theta * 1000000L)
      val want = leftSets.select($"id".as("doc_a"), $"s".as("sa"))
        .crossJoin(rightSets.select($"id".as("doc_b"), $"s".as("sb")))
        .withColumn("inter", size(array_intersect($"sa", $"sb")).cast("long"))
        .withColumn("uni", size(array_union($"sa", $"sb")).cast("long"))
        .filter($"uni" > 0 && $"inter" * 1000000L >= $"uni" * p)
        .select($"doc_a", $"doc_b",
          round($"inter".cast("double") / $"uni", 6).as("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want, s"at θ=$theta")
      if (theta == 0.7) {
        val pairs = got.map(t => (t._1, t._2))
        // all four planted cross-partition near-dups are found
        assert(Set((3L, 19L), (3L, 27L), (5L, 31L), (12L, 38L)).subsetOf(pairs))
        assert(pairs.forall { case (a, b) => a <= 12 && b > 12 })
      }
    }
  }

  test("simhash: permutation-with-same-counts collides; hamming small for near-dup") {
    val sh = Dedup.simhash(corpus, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(3L) && sh(0L) === sh(4L)) // identical token bags
    val hammingNear = java.lang.Long.bitCount(sh(0L) ^ sh(1L))
    val hammingFar = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    info(s"hamming near=$hammingNear far=$hammingFar")
    assert(hammingNear < hammingFar)
  }

  test("codegen simhash expression == explode/groupBy aggregate form") {
    val docs = Tables.table(spark, sfDir, "documents")
    val expr = Dedup.simhash(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    val agg = Dedup.simhashAgg(docs, "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(agg.nonEmpty && agg.forall { case (id, v) => expr.get(id).contains(v) })
  }

  test("simhashNearDups returns sorted unique pairs within threshold") {
    val pairs = Dedup.simhashNearDups(corpus, "text", "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.forall(p => p._1 < p._2 && p._3 <= 3))
    assert(pairs.map(p => (p._1, p._2)).toSet.size === pairs.length)
    assert(pairs.exists(p => (p._1, p._2) == (0L, 3L)))
  }

  test("autoSimhashLayout widens anchors with corpus size; fixture scales keep 4x16") {
    assert(Dedup.autoSimhashLayout(500L) == ((4, 1)))
    assert(Dedup.autoSimhashLayout(50000L) == ((4, 1)))     // synthetic sf1
    assert(Dedup.autoSimhashLayout(10000000L) == ((5, 2)))  // past N ~ 3.3M
    assert(Dedup.autoSimhashLayout(5000000000L) == ((6, 3)))
    // guaranteed anchor widths the thresholds derive from
    assert(Dedup.anchorBits(4, 1) == 16 && Dedup.anchorBits(5, 2) == 25 &&
      Dedup.anchorBits(6, 3) == 31)
  }

  test("every anchoring layout returns the identical hamming<=3 set == brute force") {
    val fixture = Tables.table(spark, sfDir, "documents")
    // brute-force truth from the signatures themselves (fixture-sized)
    val sigs = Dedup.simhash(fixture, "text", "doc_id")
      .as[(Long, Long)].collect()
    val truth = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb, java.lang.Long.bitCount(sa ^ sb))).toSet
    Seq((4, 1), (5, 2), (6, 3)).foreach { lo =>
      val got = Dedup.simhashNearDups(fixture, "text", "doc_id",
        maxHamming = 3, layout = Some(lo)).as[(Long, Long, Int)].collect().toSet
      assert(got == truth, s"layout $lo: ${got.size} pairs vs truth ${truth.size}")
    }
  }

  test("planted 3-bit flips spanning 3 blocks are recalled by every layout") {
    // flips at bits 0, 22, 44 land in three DISTINCT blocks of every
    // layout (b=4: blocks 0,1,2; b=5: 0,1,3; b=6: 0,2,4) — the
    // adversarial case where only the pigeonhole's clean-combo
    // guarantee, not luck, produces a candidate.
    val base = 0x0123456789ABCDEFL
    val near3 = base ^ ((1L << 0) | (1L << 22) | (1L << 44))
    val far4 = base ^ 0xF0L // hamming 4: candidate via 3 clean blocks, verify must drop it
    val sigs = Seq((1L, base), (2L, near3), (3L, far4), (4L, ~base))
      .toDF("doc_id", "simhash")
    Seq((4, 1), (5, 2), (6, 3)).foreach { lo =>
      val got = Dedup.simhashNearDupsFromSignatures(sigs, 3, lo)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == Set((1L, 2L, 3)), s"layout $lo: $got")
    }
  }

  test("spanDupStats counts exactly the windows shared across docs") {
    val span = "a b c d e f g h i j" // the planted 10-word span
    val docs = Seq(
      (1L, s"$span x1 x2 x3"),                      // 13 words → 4 windows, 1 shared
      (2L, s"y1 y2 $span"),                         // 12 words → 3 windows, 1 shared
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12 p13 p14 p15"), // 6 windows, 0 shared
      (4L, "too short to have any window")          // < 10 words → absent
    ).toDF("doc_id", "text")
    val out = Dedup.spanDupStats(docs, "text", "doc_id", 10)
      .select($"doc_id", $"n_windows", $"n_dup_windows")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(1L -> ((4L, 1L)), 2L -> ((3L, 1L)), 3L -> ((6L, 0L))))

    // a window repeated WITHIN one doc only is not cross-doc duplicated
    val self = Seq((7L, s"$span $span")).toDF("doc_id", "text")
    val selfOut = Dedup.spanDupStats(self, "text", "doc_id", 10)
      .select($"n_dup_windows").as[Long].head()
    assert(selfOut === 0L)
  }

  test("spanDupStats hashKeys (8-byte shuffle keys) == string keys on the fixture") {
    val fixture = Tables.table(spark, sfDir, "documents")
    def rows(hashKeys: Boolean) =
      Dedup.spanDupStats(fixture, "text", "doc_id", 10, hashKeys = hashKeys)
        .select($"doc_id", $"n_windows", $"n_dup_windows")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val str = rows(hashKeys = false)
    assert(str.nonEmpty && str === rows(hashKeys = true))
  }

  test("keepLongestPerCluster keeps the longest doc (ties → min id), one keep per cluster") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ") // 30 words, 28 trigrams
    val docs = Seq(
      (1L, base),                       // cluster with 5 and 9 (non-adjacent ids)
      (5L, s"$base extra1 extra2 extra3"), // longest of the cluster → the keep
      (9L, s"$base extra1"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"), // singleton
      (7L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")  // singleton
    ).toDF("doc_id", "text")
    val out = Dedup.keepLongestPerCluster(docs, "text", "doc_id", 0.6)
      .select($"doc_id", $"cluster_id", $"keep")
      .as[(Long, Long, Boolean)].collect()
    val keepById = out.map(r => r._1 -> r._3).toMap
    assert(keepById === Map(1L -> false, 5L -> true, 9L -> false, 3L -> true, 7L -> true))
    // the three near-dups share one cluster; exactly one keep per cluster
    val byCluster = out.groupBy(_._2)
    assert(byCluster(out.find(_._1 == 1L).get._2).map(_._1).toSet === Set(1L, 5L, 9L))
    assert(byCluster.values.forall(_.count(_._3) === 1))
  }

  test("keepLongestPerCluster keeps native id types: string-id corpus end-to-end") {
    // same corpus as above but with string ids — exercises the
    // type-preserving path through exactJaccardPairs AND
    // connectedComponents (a silent cast("long") would null every id
    // and return an empty frame)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      ("doc-a", base),
      ("doc-e", s"$base extra1 extra2 extra3"), // longest → the keep
      ("doc-i", s"$base extra1"),
      ("doc-c", "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
      ("doc-g", "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")
    ).toDF("doc_id", "text")
    val out = Dedup.keepLongestPerCluster(docs, "text", "doc_id", 0.6)
      .select($"doc_id", $"cluster_id", $"keep")
      .as[(String, String, Boolean)].collect()
    val keepById = out.map(r => r._1 -> r._3).toMap
    assert(keepById === Map("doc-a" -> false, "doc-e" -> true, "doc-i" -> false,
      "doc-c" -> true, "doc-g" -> true))
    // cluster_id = min id in component under STRING ordering
    assert(out.find(_._1 == "doc-e").get._2 === "doc-a")
    assert(out.groupBy(_._2).values.forall(_.count(_._3) === 1))
  }

  test("set verify runs graft_intersect_count only in the verify-width stage") {
    // Catalyst pushes the threshold filter into the set joins'
    // condition, so the candidate pairs must reach verify width before
    // those joins: every operator evaluating the intersection reads,
    // below it in its stage, only the user-specified repartition
    def shufflesBelow(p: SparkPlan): Seq[ShuffleExchangeExec] = p.children.flatMap {
      case s: ShuffleExchangeExec => Seq(s)
      case _: BroadcastExchangeExec => Nil
      case c => shufflesBelow(c)
    }
    for (q <- Seq("q_x_incr_near_dedup", "q_x_containment", "q_x_allpairs_jaccard")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val users = plan.collect {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersectCount])) => p
      }
      assert(users.nonEmpty, s"$q: no graft_intersect_count in\n$plan")
      for (u <- users) {
        val origins = shufflesBelow(u).map(_.shuffleOrigin)
        assert(origins.nonEmpty && origins.forall(_ == REPARTITION_BY_NUM),
          s"$q: ${u.nodeName} evaluates the intersection above $origins\n$plan")
      }
    }
  }
}

package graft

import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE training: the distributed trainer must reproduce, merge for
  * merge, an independent single-node reference implementation (its own
  * word counting, its own pair counting, its own merge application —
  * shared code with the operator is limited to nothing), and must be
  * invariant to input partitioning.
  */
class BpeSpec extends SparkSuite {

  // ---- independent single-node reference BPE -----------------------
  private def refMerges(corpus: Seq[String], n: Int): Seq[(String, String, Long)] = {
    // code-POINT split (independent of Bpe.charSyms): a surrogate
    // pair is one symbol, matching the plan-side UTF8String semantics
    def splitWord(w: String): Vector[String] =
      w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toVector :+ Bpe.EndOfWord
    var words: Map[Vector[String], Long] = corpus
      .flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => splitWord(w) -> ws.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    while (out.length < n && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) continue = false
      else {
        // same total order as the operator: count desc, then pair asc
        val ((l, r), c) = counts.minBy { case ((a, b), cnt) => (-cnt, a, b) }
        out += ((l, r, c))
        // independent merge application (recursive find-first)
        def apply1(s: Vector[String]): Vector[String] = {
          val i = (0 until s.length - 1).find(j => s(j) == l && s(j + 1) == r)
          i match {
            case Some(j) =>
              // left-to-right non-overlapping: recurse only on the tail
              s.take(j) ++ (Vector(l + r) ++ apply1(s.drop(j + 2)))
            case None => s
          }
        }
        words = words.groupBy { case (syms, _) => apply1(syms) }
          .map { case (syms, m) => syms -> m.values.sum }
      }
    }
    out.toSeq
  }

  private val corpus = Seq(
    "low low low low low lower lower newest newest newest newest newest newest",
    "widest widest widest new new new newer lowest",
    "the model trains on the newest data the model trains")

  test("applyMerge collapses left-to-right, non-overlapping") {
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(Bpe.applyMerge(Seq("x", "y"), "a", "b") == Seq("x", "y"))
    assert(Bpe.applyMerge(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
  }

  test("trainMerges matches the single-node reference, merge for merge") {
    import spark.implicits._
    val docs = corpus.toDF("text")
    val got = Bpe.trainMerges(docs, "text", 12)
      .map(m => (m.left, m.right, m.freq))
    val want = refMerges(corpus, 12)
    assert(got == want)
  }

  test("trainMerges is invariant to input partitioning") {
    import spark.implicits._
    val docs = corpus.toDF("text")
    val a = Bpe.trainMerges(docs, "text", 8)
    val b = Bpe.trainMerges(docs.repartition(7), "text", 8)
    assert(a == b)
  }

  test("trainMerges stops early when the vocabulary is fully merged") {
    import spark.implicits._
    val docs = Seq("ab ab ab").toDF("text")
    val merges = Bpe.trainMerges(docs, "text", 50)
    // "ab</w>" needs exactly 2 merges from (a,b,</w>) regardless of order
    assert(merges.length == 2)
    assert(merges.map(_.rank) == Seq(1, 2))
    // learned merges reduce the word to one symbol
    val syms = merges.foldLeft(Seq("a", "b", Bpe.EndOfWord)) {
      (s, m) => Bpe.applyMerge(s, m.left, m.right)
    }
    assert(syms == Seq("ab" + Bpe.EndOfWord))
  }

  test("segment concatenates back to the original word") {
    import spark.implicits._
    val docs = corpus.toDF("text")
    val merges = Bpe.trainMerges(docs, "text", 10)
    for (w <- Seq("lowest", "newest", "model", "x")) {
      val syms = Bpe.segment(w.map(_.toString) :+ Bpe.EndOfWord, merges)
      assert(syms.mkString == w + Bpe.EndOfWord)
    }
  }

  test("segment prefers the lowest-rank applicable merge") {
    // merges: rank 1 = (b,c); rank 2 = (a,b). On "abc" the standard
    // encoder fires (b,c) first → [a, bc]; a naive rank-order single
    // pass would fire (a,b) at rank 2 → [ab, c].
    val merges = Seq(Bpe.Merge(1, "b", "c", 9L), Bpe.Merge(2, "a", "b", 9L))
    assert(Bpe.segment(Seq("a", "b", "c"), merges) == Seq("a", "bc"))
  }

  test("encodeStats matches hand-computed fertility on a tiny corpus") {
    import spark.implicits._
    // one group; zero merges → every word is chars+1 subtokens
    val docs = Seq(("en", "ab ab cde"), ("en", "ab")).toDF("lang", "text")
    val got = Bpe.encodeStats(docs, "text", "lang", Seq.empty)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // words: ab x3 (3 subtoks each), cde x1 (4 subtoks)
    // n_words=4, n_subtokens=13, subtok/word=3.25, chars/subtok=(3*2+3)/13
    assert(got == Seq(("en", 4L, 13L, 3.25, math.rint(9.0 / 13 * 1e6) / 1e6)))
  }

  test("encodeStats with a learned merge shrinks subtoken count") {
    import spark.implicits._
    val docs = Seq(("en", "ab ab ab cde")).toDF("lang", "text")
    val m0 = Bpe.encodeStats(docs, "text", "lang", Seq.empty)
      .select("n_subtokens").as[Long].head()
    val merges = Bpe.trainMerges(docs, "text", 4)
    val m4 = Bpe.encodeStats(docs, "text", "lang", merges)
      .select("n_subtokens").as[Long].head()
    assert(m4 < m0)
  }

  test("non-BMP text: trainer and encoder agree on code-point symbols") {
    import spark.implicits._
    // an emoji is ONE symbol on both the plan side (UTF8String chars)
    // and the JVM side (charSyms) — a code-UNIT split would break the
    // surrogate pair in two and trained merges would never fire
    val emoji = new String(Character.toChars(0x1F600))
    val docs = Seq(("en", s"${emoji}x ${emoji}x ${emoji}x")).toDF("lang", "text")
    val merges = Bpe.trainMerges(docs, "text", 2)
    assert(merges.map(m => (m.left, m.right)) ==
      refMerges(Seq(s"${emoji}x ${emoji}x ${emoji}x"), 2).map(t => (t._1, t._2)))
    // full merge chain collapses the word to a single subtoken
    val stats = Bpe.encodeStats(docs, "text", "lang", merges)
      .select("n_words", "n_subtokens").as[(Long, Long)].head()
    assert(stats == ((3L, 3L))) // 3 occurrences x 1 subtoken each
    assert(Bpe.charSyms(s"${emoji}x") == Vector(emoji, "x"))
  }

  test("argmax ties break in code-point order, not UTF-16 order") {
    import spark.implicits._
    // U+FF21 < U+1F600 by code point (and in UTF-8 bytes), but the
    // emoji's UTF-16 lead surrogate 0xD83D sorts below 0xFF21. Every
    // pair below has count 1, so order alone picks each merge.
    val emoji = new String(Character.toChars(0x1F600))
    val fullA = "\uFF21"
    val w = Bpe.EndOfWord
    // tie on the right symbol: (a, Ａ) before (a, 😀)
    val right = Bpe.trainMerges(Seq(s"a$emoji a$fullA").toDF("text"), "text", 4)
    assert(right.map(m => (m.left, m.right, m.freq)) == Seq(
      ("a", fullA, 1L), ("a", emoji, 1L), ("a" + fullA, w, 1L), ("a" + emoji, w, 1L)))
    // tie on the left symbol: (Ａ, </w>) before (😀, </w>)
    val left = Bpe.trainMerges(Seq(s"$emoji $fullA").toDF("text"), "text", 4)
    assert(left.map(m => (m.left, m.right)) == Seq((fullA, w), (emoji, w)))
  }

  test("training runs the same few Spark jobs for 2 and for 24 merges") {
    // one corpus pass, then the merge loop on the driver: the job
    // count must not grow with the merge budget
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val docs = corpus.toDF("text")
    def jobsFor(n: Int): Int = {
      val group = s"BpeSpec-jobs-$n"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val marker = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (js.properties != null &&
              js.properties.getProperty("spark.jobGroup.id") == group) {
            if (js.properties.getProperty("spark.job.description") == "marker")
              marker.countDown()
            else jobs.incrementAndGet()
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.sparkContext.setJobGroup(group, "train")
        Bpe.trainMerges(docs, "text", n)
        // the bus delivers in order: once the marker job is seen,
        // every training job before it has been counted
        spark.sparkContext.setJobDescription("marker")
        spark.sparkContext.parallelize(Seq(1), 1).count()
        assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
        jobs.get
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val (j2, j24) = (jobsFor(2), jobsFor(24))
    assert(j2 == j24 && j24 >= 1 && j24 <= 2, s"jobs: n=2 -> $j2, n=24 -> $j24")
  }

  test("randomized corpora: trainer matches the reference on 8 seeds") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      // zipfish toy corpora: small alphabet, repeated draws so real
      // merge structure exists; 3 docs x 30 words
      val vocabPool = Vector.fill(12)(
        (1 to (1 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
      val docs3 = Seq.fill(3)(
        Seq.fill(30)(vocabPool(rnd.nextInt(vocabPool.length))).mkString(" "))
      val got = Bpe.trainMerges(docs3.toDF("text"), "text", 6)
        .map(m => (m.left, m.right, m.freq))
      assert(got == refMerges(docs3, 6), s"seed $seed diverged")
    }
  }

  test("merge ranks learn frequent subwords on the fixture corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = Bpe.trainMerges(docs, "text", 16)
    assert(merges.length == 16)
    assert(merges.map(_.rank) == (1 to 16))
    // pair counts are non-increasing in rank ONLY per greedy step —
    // not globally monotone (a merge can create a more frequent new
    // pair) — but every winning count must be positive
    assert(merges.forall(_.freq > 0))
    // deterministic across retrains on the same input
    assert(Bpe.trainMerges(docs, "text", 16) == merges)
  }

  test("greedy training is prefix-stable: merges(n) == merges(m).take(n)") {
    // merge k depends only on merges 1..k-1, so a longer budget's list
    // extends a shorter one exactly — the property Bpe.trainedMerges'
    // prefix reuse (r17) rides. Checked on both the inline and fixture corpora.
    import spark.implicits._
    val inline = corpus.toDF("text")
    val m12 = Bpe.trainMerges(inline, "text", 12)
    assert(Bpe.trainMerges(inline, "text", 5) == m12.take(5))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val m16 = Bpe.trainMerges(docs, "text", 16)
    assert(Bpe.trainMerges(docs, "text", 8) == m16.take(8))
  }

  test("merge memo: off trains fresh; on serves prefixes, write-throughs") {
    Memo.reset()
    val fresh = Bpe.trainedMerges(spark, sfDir, "text", 6)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(fresh == Bpe.trainMerges(docs, "text", 6),
      "memo off must train fresh")
    Memo.enable()
    try {
      val m10 = Bpe.trainMerges(docs, "text", 10)
      Bpe.storeMerges(spark, sfDir, "text", 10, m10)
      // shorter request served as a prefix of the stored list
      assert(Bpe.trainedMerges(spark, sfDir, "text", 6) == m10.take(6))
      // longer request re-trains (and must still be prefix-consistent)
      val m12 = Bpe.trainedMerges(spark, sfDir, "text", 12)
      assert(m12.take(10) == m10)
      assert(Bpe.trainedMerges(spark, sfDir, "text", 12) == m12)
    } finally Memo.reset()
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.ArrayIntersectCount
import graft.plans.{AsOf, AsOfStrategy}

/** [[GraftSparkExtensions]] is the one install path of graft's SQL
  * functions, optimizer rewrite and as-of strategy. `newSession()`
  * starts a fresh SessionState that shares only what the extension
  * injected, so everything resolving in `fresh` below comes from it;
  * building DataFrames must leave the session's `experimental` hooks
  * untouched, and no source file may register a function or a rule
  * any other way.
  */
class ExtensionsInstallSpec extends SparkSuite {

  private lazy val fresh = spark.newSession()

  /** The failure of `sql`, with the messages of its whole cause chain. */
  private def failure(sql: String): String = {
    val e = intercept[Exception](fresh.sql(sql).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
  }

  test("every declared function resolves in a brand-new session") {
    val names = GraftSparkExtensions.functions.map(_.name)
    assert(names.size === 18 && names.distinct === names, names)
    val missing = names.filterNot(n =>
      fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not resolvable in newSession(): $missing")
  }

  test("injected functions resolve in a brand-new session via SQL") {
    val dot = fresh.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(dot === 11.0)
    val ic = fresh.sql(
      "SELECT graft_intersect_count(array('a','b','c'), array('b','c','d')) AS n")
      .collect()(0).getInt(0)
    assert(ic === 2)
    val sh = fresh.sql("SELECT graft_simhash(array('x','y')) AS h").collect()(0).getLong(0)
    assert(sh === graft.functions.SimHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "y"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))).eval(null))
    val z = fresh.sql("SELECT graft_zorder(3L, 5L) AS z").collect()(0).getLong(0)
    assert(z === graft.functions.ZOrderKey.interleave(3L, 5L))
    val wn = fresh.sql("SELECT graft_word_ngrams('a b c', 2) AS g")
      .collect()(0).getSeq[String](0)
    assert(wn === Seq("a b", "b c"))
    val cn = fresh.sql("SELECT graft_char_ngrams('abcd', 3) AS g")
      .collect()(0).getSeq[String](0)
    assert(cn === Seq("abc", "bcd"))
    val adc = fresh.sql(
      "SELECT graft_adc(array(1, 0), array(array(1.0D, 2.0D), array(3.0D, 4.0D))) AS a")
      .collect()(0).getDouble(0)
    assert(adc === 2.0 + 3.0)
    val fi = fresh.sql(
      "SELECT graft_freq_items(w, 4).terms[0].term AS top FROM " +
      "(SELECT 'x' AS w UNION ALL SELECT 'x' UNION ALL SELECT 'y')")
      .collect()(0).getString(0)
    assert(fi === "x")
  }

  test("native aggregate and minhash resolve and run in SQL") {
    fresh.sql("SELECT 1 AS g, array(5L, 7L) AS sig UNION ALL SELECT 1, array(3L, 9L)")
      .createOrReplaceTempView("sigs")
    val merged = fresh.sql(
      "SELECT graft_minhash_union(sig) AS m FROM sigs GROUP BY g")
      .collect()(0).getSeq[Long](0)
    assert(merged === Seq(3L, 7L))
    val sig = fresh.sql("SELECT graft_minhash(array('a','b'), 4) AS s")
      .collect()(0).getSeq[Long](0)
    assert(sig.length === 4)
  }

  test("a wrong argument count fails with the declared arity") {
    val probes = Seq(
      "graft_dot(array(1.0D), array(2.0D), array(3.0D))" -> "graft_dot takes 2 arguments, got 3",
      "graft_dot(array(1.0D))" -> "graft_dot takes 2 arguments, got 1",
      "graft_zorder(3L, 5L, 7L)" -> "graft_zorder takes 2 arguments, got 3",
      "graft_simhash()" -> "graft_simhash takes 1 argument, got 0",
      "graft_minhash(array('a'), 4, 9)" -> "graft_minhash takes 2 arguments, got 3",
      "graft_intersect_count(array('a'))" -> "graft_intersect_count takes 2 arguments, got 1",
      "graft_minhash_union()" -> "graft_minhash_union takes 1 argument, got 0",
      "graft_adc(array(0))" -> "graft_adc takes 2 arguments, got 1",
      "graft_jaro_winkler('a', 'b', 'c')" -> "graft_jaro_winkler takes 2 arguments, got 3")
    for ((call, msg) <- probes) {
      val m = failure(s"SELECT $call")
      assert(m.contains(msg), s"$call: $m")
    }
    // one argument too many, for every declared function
    for (f <- GraftSparkExtensions.functions) {
      val m = failure(s"SELECT ${f.name}(${Seq.fill(f.arity + 1)("NULL").mkString(", ")})")
      assert(m.contains(s"${f.name} takes ${f.arity} argument"), s"${f.name}: $m")
      assert(m.contains(s"got ${f.arity + 1}"), s"${f.name}: $m")
    }
  }

  test("as-of strategy is injected into the planner") {
    assert(fresh.sessionState.planner.extraPlanningStrategies.contains(AsOfStrategy))
  }

  test("optimizer rewrite fires in a fresh session") {
    val df = fresh.range(2)
      .selectExpr("array(CAST(id AS STRING), 'b') AS x", "array('b', 'c') AS y")
      .selectExpr("size(array_intersect(x, y)) AS n")
    val rewritten = df.queryExecution.optimizedPlan.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[ArrayIntersectCount])) => p
    }
    assert(rewritten.nonEmpty, df.queryExecution.optimizedPlan.toString)
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1, 1))
  }

  test("building DataFrames leaves the session's experimental hooks empty") {
    import spark.implicits._
    Tables.table(spark, sfDir, "region")
    val l = Seq((1L, new java.sql.Timestamp(1000))).toDF("k", "ts")
    val r = Seq((1L, new java.sql.Timestamp(500))).toDF("rk", "rts")
    AsOf.join(spark, l, r, "k", "ts", "rk", "rts")
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("no source file registers a function or assigns an experimental hook") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"source scan found only ${files.size} files under $root")
    val install = """createOrReplaceTempFunction|experimental\.extra\w+\s*[:+]*=(?!=)""".r
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if install.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"install outside GraftSparkExtensions:\n${offenders.mkString("\n")}")
  }
}

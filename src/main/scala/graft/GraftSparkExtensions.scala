package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.plans.{AsOfStrategy, IntersectCountRewrite}

/** Standard library installation point: makes every graft Catalyst
  * extension available to ANY session — including pure-SQL users with
  * no code access — via
  *
  *   spark.sql.extensions=graft.GraftSparkExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftSparkExtensions)`).
  * Injects the codegen'd expressions, the native MinHash-union
  * aggregate, the size(array_intersect) optimizer rewrite, and the
  * as-of join planning strategy. Unlike the temp-function path
  * ([[graft.functions.GraftFunctions.register]], kept for
  * programmatic use), injected functions live in the base registry,
  * so they survive `newSession()` and appear in every session built
  * from the context.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, clazz: String): ExpressionInfo =
    new ExpressionInfo(clazz, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", classOf[ArrayDotProduct].getName),
      (exprs: Seq[Expression]) => ArrayDotProduct(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_intersect_count"),
      info("graft_intersect_count", classOf[ArrayIntersectCount].getName),
      (exprs: Seq[Expression]) => ArrayIntersectCount(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", classOf[SimHash64].getName),
      (exprs: Seq[Expression]) => SimHash64(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_zorder"),
      info("graft_zorder", classOf[ZOrderKey].getName),
      (exprs: Seq[Expression]) => ZOrderKey(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", classOf[MinHashSig].getName),
      { (exprs: Seq[Expression]) =>
        require(exprs.length == 2 && exprs(1).foldable,
          "graft_minhash(words, k) takes a literal k")
        exprs(1).eval() match {
          case n: Number => MinHashSig(exprs(0), n.intValue())
          case other => throw new IllegalArgumentException(
            s"graft_minhash: k must be a numeric literal, got $other")
        }
      }))

    ext.injectFunction((FunctionIdentifier("graft_word_ngrams"),
      info("graft_word_ngrams", classOf[WordNgrams].getName),
      (exprs: Seq[Expression]) => WordNgrams.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_char_ngrams"),
      info("graft_char_ngrams", classOf[CharNgrams].getName),
      (exprs: Seq[Expression]) => CharNgrams.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_minhash_union"),
      info("graft_minhash_union", classOf[MinHashUnion].getName),
      (exprs: Seq[Expression]) => MinHashUnion(exprs(0))))

    ext.injectFunction((FunctionIdentifier("graft_freq_items"),
      info("graft_freq_items", classOf[FreqItems].getName),
      (exprs: Seq[Expression]) => FreqItems.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_adc"),
      info("graft_adc", classOf[AdcLookup].getName),
      (exprs: Seq[Expression]) => AdcLookup(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler", classOf[JaroWinklerSim].getName),
      (exprs: Seq[Expression]) => JaroWinklerSim(exprs(0), exprs(1))))

    ext.injectFunction((FunctionIdentifier("graft_kmv"),
      info("graft_kmv", classOf[KmvSketch].getName),
      (exprs: Seq[Expression]) => KmvSketch.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_cms"),
      info("graft_cms", classOf[CmsSketch].getName),
      (exprs: Seq[Expression]) => CmsSketch.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_cms_query"),
      info("graft_cms_query", classOf[CmsQuery].getName),
      (exprs: Seq[Expression]) => CmsQuery.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_explode_ngrams"),
      info("graft_explode_ngrams", classOf[WordNgramGenerator].getName),
      (exprs: Seq[Expression]) => WordNgramGenerator.build(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg",
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName),
      (exprs: Seq[Expression]) => graft.functions.GraftFunctions.bloomAggBuilder(exprs)))

    ext.injectFunction((FunctionIdentifier("graft_might_contain"),
      info("graft_might_contain",
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName),
      (exprs: Seq[Expression]) => graft.functions.GraftFunctions.mightContainBuilder(exprs)))

    ext.injectOptimizerRule(_ => IntersectCountRewrite)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
  }
}

object GraftSparkExtensions {

  /** The local session every driver main runs: `n` cores, `n` shuffle
    * partitions, UTC session time zone, no UI, graft extensions.
    */
  def localSession(n: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkExtensions)
      .getOrCreate()
}

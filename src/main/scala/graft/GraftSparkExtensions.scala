package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions._
import graft.plans.{AsOfStrategy, IntersectCountRewrite}

/** The one installation point of graft's Catalyst extensions: the
  * `graft_*` SQL functions ([[GraftSparkExtensions.functions]]), the
  * size(array_intersect) optimizer rewrite and the as-of join planning
  * strategy. Every session that runs graft code must be built with it,
  * through
  *
  *   spark.sql.extensions=graft.GraftSparkExtensions
  *
  * (pure-SQL users, no code access) or
  * `SparkSession.builder.withExtensions(new GraftSparkExtensions)`, as
  * [[GraftSparkExtensions.localSession]] does. Nothing registers a
  * function or a rule later: in a session built without the extension
  * a `graft_*` call fails analysis with Spark's UNRESOLVED_ROUTINE.
  * Injected functions live in the base registry, so they survive
  * `newSession()` and appear in every session built from the context.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSparkExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.clazz.getName, f.name),
        { (exprs: Seq[Expression]) =>
          require(exprs.length == f.arity, s"${f.name} takes ${f.arity} " +
            s"argument${if (f.arity == 1) "" else "s"}, got ${exprs.length}")
          f.build(exprs)
        }))
    }
    ext.injectOptimizerRule(_ => IntersectCountRewrite)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
  }
}

object GraftSparkExtensions {

  /** A `graft_*` SQL function: its name, its argument count (checked
    * before `build` runs), the expression class it builds and the
    * builder.
    */
  final case class Fn(name: String, arity: Int, clazz: Class[_],
      build: Seq[Expression] => Expression)

  private def minhash(e: Seq[Expression]): Expression = {
    require(e(1).foldable, "graft_minhash(words, k) takes a literal k")
    e(1).eval() match {
      case n: Number => MinHashSig(e(0), n.intValue())
      case other => throw new IllegalArgumentException(
        s"graft_minhash: k must be a numeric literal, got $other")
    }
  }

  /** Every graft SQL function, declared once. */
  val functions: Seq[Fn] = Seq(
    Fn("graft_dot", 2, classOf[ArrayDotProduct], e => ArrayDotProduct(e(0), e(1))),
    Fn("graft_intersect_count", 2, classOf[ArrayIntersectCount],
      e => ArrayIntersectCount(e(0), e(1))),
    Fn("graft_simhash", 1, classOf[SimHash64], e => SimHash64(e(0))),
    Fn("graft_zorder", 2, classOf[ZOrderKey], e => ZOrderKey(e(0), e(1))),
    Fn("graft_minhash", 2, classOf[MinHashSig], minhash),
    Fn("graft_word_ngrams", 2, classOf[WordNgrams], WordNgrams.build),
    Fn("graft_char_ngrams", 2, classOf[CharNgrams], CharNgrams.build),
    Fn("graft_minhash_union", 1, classOf[MinHashUnion], e => MinHashUnion(e(0))),
    Fn("graft_freq_items", 2, classOf[FreqItems], FreqItems.build),
    Fn("graft_adc", 2, classOf[AdcLookup], e => AdcLookup(e(0), e(1))),
    Fn("graft_lsh_codes", 4, classOf[LshCodes], LshCodes.build),
    Fn("graft_jaro_winkler", 2, classOf[JaroWinklerSim], e => JaroWinklerSim(e(0), e(1))),
    Fn("graft_kmv", 2, classOf[KmvSketch], KmvSketch.build),
    Fn("graft_cms", 3, classOf[CmsSketch], CmsSketch.build),
    Fn("graft_cms_query", 4, classOf[CmsQuery], CmsQuery.build),
    Fn("graft_explode_ngrams", 2, classOf[WordNgramGenerator], WordNgramGenerator.build),
    // Spark's runtime-filter bloom expressions, surfaced by name: a
    // LAZY aggregate build (no construction-time job, unlike
    // df.stat.bloomFilter's treeAggregate) and the paired probe
    Fn("graft_bloom_agg", 3, classOf[BloomFilterAggregate],
      e => BloomFilterAggregate(e(0), e(1), e(2), 0, 0)),
    Fn("graft_might_contain", 2, classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

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

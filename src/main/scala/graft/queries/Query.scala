package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

package object queries {

  /** A query's Spark plan over (session, fixture directory). */
  type Q = (SparkSession, String) => DataFrame

  /** Money columns: a per-row DECIMAL(18,2) cast, then exact decimal
    * sums in both engines (SURVEY.md §7.4).
    */
  private[queries] val dec2 = DecimalType(18, 2)
  private[queries] def money(c: Column): Column = c.cast(dec2)
}

package queries {

  /** One board query, declared once: its Spark plan and, where SQL can
    * express it, the DuckDB SQL that checks it. `None` marks one of the
    * no-oracle queries, pinned by a spec instead.
    */
  final case class Query(name: String, plan: Q, oracle: Option[String])

  object Query {

    /** Name → query over every module's declarations. A name declared
      * twice fails here, naming it, instead of one plan silently
      * replacing the other.
      */
    def registry(modules: Seq[Query]*): Map[String, Query] = {
      val all = modules.flatten
      val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
      require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
      all.map(q => q.name -> q).toMap
    }
  }
}

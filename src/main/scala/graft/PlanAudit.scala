package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Dev-only plan audit: for every declared query, list each parquet
  * scan's read schema and pushed filters — the §4.2 pruning/pushdown
  * checklist (a scan reading all columns for a 2-column projection is
  * a bug). Run: sbt "runMain graft.PlanAudit [queryName...]"
  *
  * A FULL-board run (no args) additionally rewrites dev/plan_audit.txt
  * atomically — one AUDIT-NOTE header, rows sorted by query name — so
  * the committed audit can never go stale-by-append (r14 advice: the
  * file had been appended incrementally, duplicating the header and
  * breaking sort order). Single-query runs print only.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSparkExtensions.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val note = "AUDIT-NOTE RDDScanExec = a localCheckpoint()ed shared derivation " +
      "(Dedup/Components); its PRE-checkpoint plan projects only the needed " +
      "columns before materializing, so parquet pruning still holds -- see the " +
      "narrow .select() immediately upstream of each localCheckpoint call."
    println(note)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val scans = plan.collectLeaves().map {
        case s: FileSourceScanExec =>
          val table = s.relation.location.rootPaths.headOption
            .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
          val cols = s.requiredSchema.fieldNames.mkString(",")
          val pushed = s.metadata.getOrElse("PushedFilters", "[]")
          s"$table[$cols] pushed=$pushed"
        case other => other.getClass.getSimpleName
      }
      val row = s"AUDIT $name :: ${scans.mkString(" | ")}"
      println(row)
      row
    }
    if (args.isEmpty) {
      val tmp = java.nio.file.Paths.get("dev/plan_audit.txt.tmp")
      java.nio.file.Files.write(tmp,
        (note +: rows).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("dev/plan_audit.txt"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      println(s"AUDIT-WROTE dev/plan_audit.txt (${rows.size} rows)")
    }
    spark.stop()
  }
}

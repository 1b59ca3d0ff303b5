package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan shape guards (SURVEY.md §4.2): the scale-killer sweep
  * as a regression spec instead of a per-round manual audit. A query
  * that passes its oracle but plans a cartesian product, an
  * unpartitioned window, or an unpruned scan is correct-but-wrong at
  * 100 TB — these tests make that a build failure, not a judge note.
  */
class PlanShapeSpec extends SparkSuite {

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  // Plan every declared query once (construction may run jobs for the
  // iterative/localCheckpoint-based ones — cheap at the spec fixture).
  // Capture is enabled DURING construction so every lineage cut
  // (Cuts.cut) registers its pre-cut frame and call site —
  // the executed plan alone cannot see upstream of a localCheckpoint.
  private lazy val plansAndCuts: (Seq[(String, SparkPlan)], Seq[Cuts.Captured]) = {
    Cuts.startCapture()
    val ps = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> physical(fn(spark, sfDir))
    }
    (ps, Cuts.stopCapture())
  }
  private def plans: Seq[(String, SparkPlan)] = plansAndCuts._1
  private def capturedCuts: Seq[Cuts.Captured] = plansAndCuts._2

  /** The shape rules applied to a pre-cut frame: no cartesian ever; an
    * unpartitioned window only at a site declared `kRowFold`, and such
    * a frame must contain an aggregation (the bin/grain reduction) —
    * a corpus-sized window cannot ride the declaration.
    */
  private def cutOffenders(captured: Seq[Cuts.Captured]): Seq[String] =
    captured.flatMap { c =>
      val p = physical(c.df)
      val cartesian =
        p.collect { case x: CartesianProductExec => x }.nonEmpty
      val unpartWin =
        p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty
      val hasAgg = p.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      Seq(
        if (cartesian)
          Some(s"${c.site}: cartesian product behind lineage cut") else None,
        if (unpartWin && !c.kRowFold)
          Some(s"${c.site}: unpartitioned window behind lineage cut " +
            "(site not declared kRowFold)") else None,
        if (unpartWin && c.kRowFold && !hasAgg)
          Some(s"${c.site}: kRowFold-declared window with NO upstream " +
            "aggregation — corpus-sized fold?") else None
      ).flatten
    }

  test("no CartesianProduct in any declared query plan") {
    // Deliberate tiny-side cross joins (q_cross, the kNN query spine,
    // block-pair spines) must plan as BroadcastNestedLoopJoin — a
    // CartesianProductExec means BOTH sides shuffle-replicate, which
    // never survives a 100 TB input.
    val offenders = plans.collect {
      case (name, p) if p.collect { case c: CartesianProductExec => c }.nonEmpty => name
    }
    assert(offenders.isEmpty, s"cartesian product planned in: $offenders")
  }

  test("no unpartitioned Window over any declared query's data path") {
    // Window.partitionBy() with no keys funnels the whole input through
    // ONE task. None of the declared queries may contain one (the IVF
    // seed-ranking window was the last, removed in round 6).
    val offenders = plans.collect {
      case (name, p) if p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.nonEmpty => name
    }
    assert(offenders.isEmpty, s"unpartitioned window in: $offenders")
  }

  test("pre-checkpoint plans obey the same shape rules (lineage-cut sweep)") {
    // Every declared query was constructed with capture on; the
    // registry must be non-empty (the iterative operators and shared
    // derivations cut while planning) or the Cuts wiring itself
    // regressed.
    assert(capturedCuts.nonEmpty, "no lineage cuts captured — Cuts wiring broken")
    // each site is the real `File.scala:line` of its .cut call, read
    // off the stack — never a Cuts or Spark frame
    val badSites = capturedCuts.map(_.site).distinct
      .filterNot(_.matches("^[A-Za-z0-9]+\\.scala:\\d+$"))
    assert(badSites.isEmpty, s"cut sites not of the form File.scala:line: $badSites")
    val off = cutOffenders(capturedCuts).distinct
    assert(off.isEmpty, s"shape violations hidden behind lineage cuts:\n${off.mkString("\n")}")
  }

  test("the lineage-cut sweep catches a corpus-sized unpartitioned window (red test)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // a window over the RAW documents table with no partition keys —
    // exactly the shape the executed-plan sweep cannot see once it
    // hides behind a localCheckpoint
    val bad = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
    val asUndeclared = cutOffenders(Seq(Cuts.Captured("red-test", bad, kRowFold = false)))
    assert(asUndeclared.exists(_.contains("unpartitioned window")),
      s"sweep missed the undeclared corpus window: $asUndeclared")
    // and declaring the site kRowFold must NOT launder it: the frame
    // has no aggregation, so the grain-reduction requirement fires
    val asDeclared = cutOffenders(Seq(Cuts.Captured("red-test", bad, kRowFold = true)))
    assert(asDeclared.exists(_.contains("NO upstream aggregation")),
      s"kRowFold declaration laundered a corpus window: $asDeclared")
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collectLeaves().collect { case s: FileSourceScanExec => s }

  test("q_filter pushes its predicates into the parquet scan") {
    val scan = scans(physical(SparkEntry.queries("q_filter")(spark, sfDir)))
    assert(scan.nonEmpty)
    val pushed = scan.head.metadata.getOrElse("PushedFilters", "[]")
    assert(pushed != "[]", s"no pushed filters: $pushed")
  }

  test("q_project prunes the lineitem scan to the projected columns") {
    val scan = scans(physical(SparkEntry.queries("q_project")(spark, sfDir)))
    assert(scan.nonEmpty)
    val width = scan.map(_.requiredSchema.fields.length).max
    assert(width <= 6, s"scan reads $width columns for a narrow projection")
  }

  test("dimension joins broadcast the small side") {
    for (q <- Seq("q_join_dims", "q_x_contam")) {
      val plan = physical(SparkEntry.queries(q)(spark, sfDir)).toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$q does not broadcast its small side")
    }
  }
}

package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.plans.AsOf

/** The plan-level as-of join (custom LogicalPlan + Strategy +
  * BinaryExecNode) must agree with the composite union+window form
  * (queries.Joins q_join_asof) and implement at-or-before semantics.
  */
class AsOfPlanSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("picks the latest right row at-or-before each left ts; inner semantics") {
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(4)), (102L, 2L, ts(50)), (103L, 3L, ts(10)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(5), "a"), (1L, ts(9), "b"), (1L, ts(11), "c"), (2L, ts(50), "x"))
      .toDF("r_user", "r_ts", "tag")
    val out = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts")
      .select($"event_id", $"tag").as[(Long, String)].collect().toMap
    assert(out === Map(
      100L -> "b",  // latest <= t10 is t9
      102L -> "x")) // equal ts matches (at-or-before)
    // 101 (no click <= t4) and 103 (no key 3) drop: inner semantics
  }

  test("string keys: as-of join works for any orderable key type") {
    val left = Seq(("pageA", 100L, ts(10)), ("pageB", 101L, ts(10)))
      .toDF("page", "event_id", "ts")
    val right = Seq(("pageA", ts(5), 1.0), ("pageA", ts(9), 2.0), ("pageB", ts(11), 3.0))
      .toDF("r_page", "r_ts", "v")
    val out = AsOf.join(spark, left, right, "page", "ts", "r_page", "r_ts")
      .select($"event_id", $"v").as[(Long, Double)].collect().toMap
    assert(out === Map(100L -> 2.0)) // pageB's only click is later -> drop
  }

  test("tolerance: matches older than `within` are dropped") {
    val left = Seq((100L, 1L, ts(100))).toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(10), "old"), (1L, ts(95), "recent"))
      .toDF("r_user", "r_ts", "tag")
    // no tolerance → latest at-or-before (t95)
    val loose = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts")
      .select($"tag").as[String].collect().toSeq
    assert(loose === Seq("recent"))
    // 3s tolerance → t95 is 5s old → no match at all
    val tight = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts",
      within = Some(java.time.Duration.ofSeconds(3)))
    assert(tight.isEmpty)
    // 10s tolerance → t95 within range
    val mid = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts",
      within = Some(java.time.Duration.ofSeconds(10)))
    assert(mid.select($"tag").as[String].collect().toSeq === Seq("recent"))
  }

  test("forward direction picks the earliest right row at-or-after") {
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(12)), (102L, 2L, ts(50)), (103L, 1L, ts(99)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(5), "a"), (1L, ts(11), "b"), (1L, ts(20), "c"), (2L, ts(50), "x"))
      .toDF("r_user", "r_ts", "tag")
    val out = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts",
        direction = "forward")
      .select($"event_id", $"tag").as[(Long, String)].collect().toMap
    assert(out === Map(
      100L -> "b",  // earliest >= t10 is t11
      101L -> "c",  // earliest >= t12 is t20
      102L -> "x")) // equal ts matches (at-or-after)
    // 103 (no click >= t99) drops: inner semantics

    // forward tolerance: t20 is 8s after t12 → dropped at within=5s
    val tight = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts",
      within = Some(java.time.Duration.ofSeconds(5)), direction = "forward")
      .select($"event_id", $"tag").as[(Long, String)].collect().toMap
    assert(tight === Map(100L -> "b", 102L -> "x"))
  }

  test("leftOuter keeps unmatched left rows null-extended") {
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(4)), (103L, 3L, ts(10)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts(9), "b")).toDF("r_user", "r_ts", "tag")
    val out = AsOf.join(spark, left, right, "user_id", "ts", "r_user", "r_ts",
        leftOuter = true)
      .select($"event_id", $"tag").as[(Long, Option[String])].collect().toMap
    assert(out === Map(
      100L -> Some("b"),
      101L -> None,   // no click at-or-before t4 → kept, null right
      103L -> None))  // key absent on the right → kept, null right
  }

  test("plan-level as-of == composite window form on the events fixture") {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(max($"value").as("click_value"))
      .select($"user_id".as("c_user"), $"ts".as("click_ts"), $"click_value")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val planned = AsOf.join(spark, purchases, clicks,
        "user_id", "ts", "c_user", "click_ts")
      .select($"event_id", $"user_id", $"ts", $"click_ts", $"click_value")
    val composite = SparkEntry.queries("q_join_asof")(spark, sfDir)
    assert(planned.count() === composite.count())
    assert(planned.except(composite).isEmpty && composite.except(planned).isEmpty)
  }

  test("physical plan uses AsOfJoinExec with shuffle+sort inserted by Spark") {
    val ev = Tables.events(spark, sfDir)
    val l = ev.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"ts")
    val r = ev.filter($"event_type" === "click")
      .select($"user_id".as("ru"), $"ts".as("rts"), $"value")
    val df = AsOf.join(spark, l, r, "user_id", "ts", "ru", "rts")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(plan.contains("Exchange") && plan.contains("Sort"))
    assert(df.count() > 0)
  }
}

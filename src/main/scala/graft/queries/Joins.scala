package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table

/** Join queries (SURVEY.md §2.3) on the star-schema fixtures.
  *
  * Scale notes: dimension sides (customer, nation, region, derived
  * bucket tables) are `broadcast()`-hinted — at 100 TB the fact tables
  * shuffle only when the join key demands it, and AQE handles skew.
  * The as-of join is a composite (union + last-ignore-nulls window),
  * which shuffles once by key instead of doing a range cross join.
  */
object Joins {
  val queries: Seq[Query] = Seq(
    Query("q_join_inner", (s, d) =>
      table(s, d, "orders")
        .join(broadcast(table(s, d, "customer")), col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"),
          money(col("o_totalprice")).cast("double").as("price"))
        .orderBy(col("o_orderkey")), Some(
      """SELECT o_orderkey, c_name, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""")),

    Query("q_join_left", (s, d) =>
      table(s, d, "customer")
        .join(
          table(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first), Some(
      """SELECT c_custkey, o_orderkey
         FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
           ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""")),

    Query("q_join_full", (s, d) => {
      val cc = table(s, d, "customer").groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val ss = table(s, d, "supplier").groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      cc.join(ss, col("c_nationkey") === col("s_nationkey"), "full")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"), col("n_cust"), col("n_supp"))
        .orderBy(col("nationkey"))
    }, Some(
      """SELECT coalesce(c_nationkey, s_nationkey) AS nationkey, n_cust, n_supp
         FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
           ON c_nationkey = s_nationkey
         ORDER BY nationkey""")),

    Query("q_join_semi", (s, d) =>
      table(s, d, "customer")
        .join(
          table(s, d, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")), Some(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey""")),

    Query("q_join_anti", (s, d) =>
      table(s, d, "customer")
        .join(
          table(s, d, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")), Some(
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey""")),

    // Non-equi (theta) join: the build side is tiny and broadcast, so
    // the nested-loop stays O(|orders| * 5) at any scale.
    Query("q_join_theta", (s, d) => {
      val buckets = table(s, d, "region")
        .select(
          col("r_regionkey").as("bucket"),
          (col("r_regionkey") * 100000.0).as("lo"),
          ((col("r_regionkey") + 1) * 100000.0).as("hi"))
      table(s, d, "orders")
        .join(broadcast(buckets), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast(DecimalType(18, 2)).cast("double").as("total"))
        .orderBy(col("bucket"))
    }, Some(
      """SELECT r_regionkey AS bucket, count(*) AS n,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM orders JOIN region
           ON o_totalprice >= r_regionkey * 100000.0 AND o_totalprice < (r_regionkey + 1) * 100000.0
         GROUP BY 1 ORDER BY 1""")),

    Query("q_join_multi", (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          // 4dp cast: exact for 2dp×2dp products, avoids half-way
          // rounding divergence between engines (see Aggregates).
          sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)))
            .cast(DecimalType(18, 4)).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("r_name"), col("n_name")), Some(
      """SELECT r_name, n_name,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
                count(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // As-of join: latest click at-or-before each purchase, per user
    // (time-series semantics of the reference's keyed weather table,
    // weather-etl.py:76). Composite: tag + union + last(ignoreNulls)
    // window — one shuffle by user_id, no range cross join.
    Query("q_join_asof", (s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .select(col("user_id"), col("ts"), col("click_value"),
          lit(0).as("kind"), lit(null).cast("long").as("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(null).cast("double").as("click_value"),
          lit(1).as("kind"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("click_ts", last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
        .withColumn("cv", last(when(col("kind") === 0, col("click_value")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1 && col("click_ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"), col("cv").as("click_value"))
        .orderBy(col("event_id"))
    }, Some(
      """WITH clicks AS (
           SELECT user_id, ts, max(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purch AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts AS ts, c.ts AS click_ts, c.click_value
         FROM purch p ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""")),

    // Plan-level as-of join (plans.AsOfJoinExec — custom LogicalPlan →
    // Strategy → streaming-merge BinaryExecNode), forward direction:
    // FIRST click at-or-after each purchase. One shuffle+sort per
    // side, O(n+m) merge, one-row state.
    Query("q_join_asof_fwd", (s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .select(col("user_id").as("c_uid"), col("ts").as("click_ts"), col("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.join(s, purchases, clicks,
          "user_id", "ts", "c_uid", "click_ts", direction = "forward")
        .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"), col("click_value"))
        .orderBy(col("event_id"))
    }, Some(
      """WITH clicks AS (
           SELECT user_id, ts, max(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purch AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts AS ts, c.ts AS click_ts, c.click_value
         FROM purch p ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
         ORDER BY p.event_id""")),

    // Plan-level as-of join, left-outer backward: every purchase kept,
    // null click columns where no click precedes it (ASOF LEFT JOIN).
    Query("q_join_asof_outer", (s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .select(col("user_id").as("c_uid"), col("ts").as("click_ts"), col("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.join(s, purchases, clicks,
          "user_id", "ts", "c_uid", "click_ts", leftOuter = true)
        .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"), col("click_value"))
        .orderBy(col("event_id"))
    }, Some(
      """WITH clicks AS (
           SELECT user_id, ts, max(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purch AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts AS ts, c.ts AS click_ts, c.click_value
         FROM purch p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""")),

    // Plan-level as-of join with TOLERANCE: latest click at-or-before
    // each purchase, but only within 6 hours — a match further back
    // is discarded (merge_asof(tolerance=...) semantics). Oracled via
    // DuckDB ASOF JOIN + distance post-filter, which is exactly
    // tolerance semantics for the inner as-of (the nearest preceding
    // row is the ONLY candidate; if it is too far there is no match).
    Query("q_join_asof_tol", (s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .select(col("user_id").as("c_uid"), col("ts").as("click_ts"), col("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.plans.AsOf.join(s, purchases, clicks,
          "user_id", "ts", "c_uid", "click_ts",
          within = Some(java.time.Duration.ofHours(6)))
        .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"), col("click_value"))
        .orderBy(col("event_id"))
    }, Some(
      """WITH clicks AS (
           SELECT user_id, ts, max(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         purch AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts AS ts, c.ts AS click_ts, c.click_value
         FROM purch p ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
         WHERE p.ts - c.ts <= INTERVAL 6 HOUR
         ORDER BY p.event_id""")),

    // Binned range join (operators.RangeJoin): interval containment
    // rewritten as an equi-join on a bin id — both sides hash-shuffle
    // (NO broadcast, NO nested loop), so both can be arbitrarily
    // large; the exact predicate filters within-bin candidates.
    Query("q_join_range", (s, d) => {
      // fixture timestamps are NTZ: hop via TIMESTAMP (session TZ is
      // UTC) to get epoch seconds
      val epoch = (c: org.apache.spark.sql.Column) => c.cast("timestamp").cast("long")
      val li = table(s, d, "lineitem")
        .select(col("l_orderkey"), epoch(col("l_shipdate")).as("ship_s"))
      val hot = table(s, d, "orders")
        .filter(col("o_totalprice") > 499000.0)
        .select(col("o_orderkey"), epoch(col("o_orderdate")).as("lo_s"),
          (epoch(col("o_orderdate")) + 86400L).as("hi_s"))
      graft.operators.RangeJoin
        .binnedCount(li, hot, "ship_s", "lo_s", "hi_s",
          binWidth = 86400.0, groupCols = Seq("o_orderkey"))
        .select(col("o_orderkey"), col("n"))
        .orderBy(col("o_orderkey"))
    }, Some(
      """SELECT o_orderkey, count(*) AS n
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 1 DAY
         WHERE o.o_totalprice > 499000
         GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // Bloom-pruned selective semi join (operators.BloomPrune): dim
    // keys → broadcast bloom filter → fact rows drop BEFORE the
    // shuffle; the final exact semi join removes false positives, so
    // the result equals the plain semi join (its oracle) at any fpp.
    Query("q_join_bloom", (s, d) => {
      val li = table(s, d, "lineitem")
      val urgent = table(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.BloomPrune.semiJoin(li, urgent, "l_orderkey", "o_orderkey",
          expectedNumItems = 100000L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    Query("q_cross", (s, d) =>
      table(s, d, "region").crossJoin(table(s, d, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name")), Some(
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name")),

    // Salt-mitigated skew join, surfaced first-class: lineitem's
    // l_suppkey (1000 distinct keys × 6k rows each at sf0.1 — the
    // "hot key" shape AQE's skew splitting can't fix inside stateful
    // ops) spread over 8 salted reducers against a replicated
    // supplier side. The oracle is the PLAIN join aggregate — salting
    // must be invisible in the result (SkewJoinSpec's contract, now
    // driver-checked against DuckDB too).
    Query("q_join_skew", (s, d) => {
      val joined = graft.operators.SkewJoin.saltedJoin(
        table(s, d, "lineitem"),
        // saltedJoin equi-joins on a shared column name — align the
        // small side's key to the fact side's
        table(s, d, "supplier").withColumnRenamed("s_suppkey", "l_suppkey"),
        key = "l_suppkey", saltFactor = 8,
        saltExpr = xxhash64(col("l_orderkey"), col("l_linenumber")))
      joined
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_extendedprice"))).cast(DecimalType(18, 2))
            .cast("double").as("total"))
        .orderBy(col("s_nationkey"))
    }, Some(
      """SELECT s_nationkey, count(*) AS n,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // Two broadcast dims off the fact table (part + supplier).
    Query("q_join_dims", (s, d) =>
      table(s, d, "lineitem")
        .join(broadcast(table(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(table(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_brand"), col("s_name"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("l_extendedprice"))).cast(DecimalType(18, 2)).cast("double").as("total"))
        .orderBy(col("p_brand"), col("s_name")), Some(
      """SELECT p_brand, s_name, count(*) AS n,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY p_brand, s_name ORDER BY p_brand, s_name"""))
  )
}

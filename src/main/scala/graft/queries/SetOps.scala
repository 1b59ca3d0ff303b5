package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.operators.Upsert

/** Sort / limit / top-k / set ops / dedup / upsert / subqueries / CTE /
  * pivot (SURVEY.md §2.6).
  *
  * U1/U2 are the core semantics of the reference's merge step
  * (weather-etl.py:152-163), exposed via [[graft.operators.Upsert]].
  * `orderBy.limit` compiles to TakeOrderedAndProject (top-k pushdown —
  * no full sort at scale).
  */
object SetOps {
  val queries: Seq[Query] = Seq(
    Query("q_sort", (s, d) =>
      table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .orderBy(col("c_mktsegment").asc, col("c_acctbal").desc, col("c_custkey").asc), Some(
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
         ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC""")),

    Query("q_limit", (s, d) =>
      table(s, d, "orders")
        .select(col("o_orderkey"), money(col("o_totalprice")).cast("double").as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(10), Some(
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""")),

    // Keyset (cursor) pagination — the scale-correct page fetch:
    // WHERE (sortkey tuple) > cursor ORDER BY sortkey LIMIT n plans as
    // filter + TakeOrderedAndProject, touching only rows past the
    // cursor; OFFSET-based paging scans and discards everything before
    // the page and gets LINEARLY slower per page at 100 TB.
    Query("q_page_keyset", (s, d) =>
      table(s, d, "orders")
        // fixture o_orderdate reads as TIMESTAMP_NTZ (non-UTC-adjusted
        // µs); session TZ is pinned UTC, so the cast is wall-clock
        // identity and makes the struct comparison type-check
        // cursor literal parsed under spark.sql.session.timeZone (NOT
        // the JVM default TZ java.sql.Timestamp.valueOf would use) so
        // both sides of the comparison share the pinned UTC semantics
        .filter(struct(col("o_orderdate").cast("timestamp"), col("o_orderkey")) >
          struct(lit("1998-06-01 00:00:00").cast("timestamp"), lit(0L)))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_orderdate"),
          money(col("o_totalprice")).cast("double").as("price")), Some(
      """SELECT o_orderkey, o_orderdate,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         FROM orders
         WHERE (o_orderdate, o_orderkey) > (TIMESTAMP '1998-06-01 00:00:00', 0)
         ORDER BY o_orderdate, o_orderkey LIMIT 20""")),

    Query("q_topk_group", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn").cast("int").as("rn"),
          col("o_orderkey"), money(col("o_totalprice")).cast("double").as("price"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }, Some(
      """SELECT o_orderpriority, CAST(rn AS INTEGER) AS rn, o_orderkey, price FROM (
           SELECT o_orderpriority, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
                  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_orderpriority, rn""")),

    Query("q_union_all", (s, d) => {
      val ev = table(s, d, "events")
      val a = ev.filter(col("event_type") === "error").select(col("event_id"), col("event_type"), col("value"))
      val b = ev.filter(col("value") > 150).select(col("event_id"), col("event_type"), col("value"))
      a.unionByName(b).orderBy(col("event_id"), col("event_type"), col("value"))
    }, Some(
      """SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
         UNION ALL
         SELECT event_id, event_type, value FROM events WHERE value > 150
         ORDER BY event_id, event_type, value""")),

    Query("q_union", (s, d) => {
      val ev = table(s, d, "events")
      val a = ev.filter(col("event_type") === "error").select(col("event_id"), col("event_type"), col("value"))
      val b = ev.filter(col("value") > 150).select(col("event_id"), col("event_type"), col("value"))
      a.unionByName(b).distinct().orderBy(col("event_id"), col("event_type"), col("value"))
    }, Some(
      """SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
         UNION
         SELECT event_id, event_type, value FROM events WHERE value > 150
         ORDER BY event_id, event_type, value""")),

    // Schema-evolution-tolerant union: two snapshot versions with
    // drifted schemas (v2 added a column, dropped another) unioned by
    // NAME with missing columns null-filled — how a pipeline reads a
    // dataset across a schema migration without rewriting history.
    // Spark `unionByName(allowMissingColumns)` == DuckDB
    // `UNION ALL BY NAME`.
    Query("q_union_evolve", (s, d) => {
      val c = table(s, d, "customer")
      val v1 = c.select(lit(1).as("snap"), col("c_custkey"), col("c_name"),
        col("c_nationkey"))
      val v2 = c.filter(col("c_custkey") % 2 === 0)
        .select(lit(2).as("snap"), col("c_custkey"), col("c_name"),
          col("c_acctbal"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy(col("snap"), col("c_custkey"))
    }, Some(
      """SELECT * FROM (
           SELECT 1 AS snap, c_custkey, c_name, c_nationkey FROM customer
           UNION ALL BY NAME
           SELECT 2 AS snap, c_custkey, c_name, c_acctbal FROM customer
           WHERE c_custkey % 2 = 0)
         ORDER BY snap, c_custkey""")),

    Query("q_intersect", (s, d) =>
      table(s, d, "customer").filter(col("c_acctbal") > 0).select(col("c_custkey"))
        .intersect(table(s, d, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey")), Some(
      """SELECT c_custkey FROM customer WHERE c_acctbal > 0
         INTERSECT SELECT o_custkey FROM orders
         ORDER BY c_custkey""")),

    Query("q_except", (s, d) =>
      table(s, d, "customer").select(col("c_custkey"))
        .except(table(s, d, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("c_custkey")))
        .orderBy(col("c_custkey")), Some(
      """SELECT c_custkey FROM customer
         EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
         ORDER BY c_custkey""")),

    // U1 plain: DISTINCT (weather-etl.py:155-158 analog).
    Query("q_dedup", (s, d) =>
      table(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")), Some(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus")),

    // U1 keyed: one row per (user_id, event_type), latest wins.
    Query("q_dedup_keyed", (s, d) =>
      Upsert.dedupKeyed(
        table(s, d, "events"),
        Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("event_type")), Some(
      """SELECT user_id, event_type, event_id, ts FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, event_type""")),

    // U2: keyed upsert, incoming batch wins (weather-etl.py:152-163).
    Query("q_upsert", (s, d) => {
      val ev = table(s, d, "events")
      val target = ev.filter(col("event_id") % 3 === 0)
        .select(col("event_id"), col("value"), lit("old").as("src"))
      val incoming = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), (col("value") + 1000).as("value"), lit("new").as("src"))
      Upsert.upsert(target, incoming, Seq("event_id"))
        .orderBy(col("event_id"))
    }, Some(
      """SELECT event_id, value, src FROM (
           SELECT t.event_id, t.value, t.src
           FROM (SELECT event_id, value, 'old' AS src FROM events WHERE event_id % 3 = 0) t
           ANTI JOIN (SELECT event_id FROM events WHERE event_id % 2 = 0) i
             ON t.event_id = i.event_id
           UNION ALL
           SELECT event_id, value + 1000 AS value, 'new' AS src FROM events WHERE event_id % 2 = 0)
         ORDER BY event_id""")),

    // SCD type-2 history build — the temporal variant of the
    // reference's keyed upsert (weather-etl.py:152-163): instead of
    // latest-wins overwrite, every change becomes a versioned row with
    // a validity interval. One partitioned lead() window per key,
    // no self-join; is_current falls out as "no successor".
    Query("q_scd2", (s, d) => {
      val versions = table(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), col("ts").as("valid_from"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("valid_from"), col("event_id"))
      versions
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("user_id"), col("event_type"), col("valid_from"), col("event_id"))
    }, Some(
      """SELECT user_id, event_type, event_id, value, ts AS valid_from,
                lead(ts) OVER w AS valid_to,
                lead(ts) OVER w IS NULL AS is_current
         FROM events WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
         ORDER BY user_id, event_type, valid_from, event_id""")),

    // PG DISTINCT ON (reference README.md:62-78 ad-hoc surface):
    // keyed top-1 — the latest order per customer. Spark-first shape:
    // row_number window + rn=1 filter (WindowGroupLimit pushes the
    // per-key limit below the sort at scale).
    Query("q_distinct_on", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      table(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          money(col("o_totalprice")).cast("double").as("price"))
        .orderBy(col("o_custkey"))
    }, Some(
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
         FROM orders
         ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC""")),

    Query("q_subq_scalar", (s, d) => {
      val c = table(s, d, "customer")
      val avgBal = c.agg(avg(col("c_acctbal")).as("ab"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }, Some(
      """SELECT c_custkey, c_acctbal FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
         ORDER BY c_custkey""")),

    Query("q_subq_in", (s, d) =>
      table(s, d, "orders")
        .join(
          broadcast(table(s, d, "customer")
            .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey")), Some(
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""")),

    Query("q_cte", (s, d) => {
      val rev = table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(money(col("o_totalprice"))).cast(dec2).cast("double").as("rev"))
      rev.join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("rev"))
        .orderBy(col("c_custkey"))
    }, Some(
      """WITH r AS (
           SELECT o_custkey, CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS rev
           FROM orders GROUP BY o_custkey)
         SELECT c_custkey, c_name, rev
         FROM r JOIN customer ON o_custkey = c_custkey
         ORDER BY c_custkey""")),

    // Recursive CTE (PG13 WITH RECURSIVE; Spark 4 native): a gap-free
    // month spine generated by recursion, left-joined to orders — the
    // time-series gap-fill idiom. The spine join is an equi hash join
    // on the month bucket (scale-safe), not a range BNLJ.
    Query("q_recursive_cte", (s, d) => graft.Sql.adhoc(s, d,
      """WITH RECURSIVE months(m) AS (
           SELECT DATE '1995-01-01' AS m
           UNION ALL
           SELECT add_months(m, 1) FROM months WHERE m < DATE '1995-12-01'
         )
         SELECT m, count(o_orderkey) AS n_orders
         FROM months LEFT JOIN orders
           ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
         GROUP BY m ORDER BY m"""), Some(
      """WITH RECURSIVE months(m) AS (
           SELECT DATE '1995-01-01'
           UNION ALL
           SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '1995-12-01'
         )
         SELECT m, CAST(count(o_orderkey) AS BIGINT) AS n_orders
         FROM months LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
         GROUP BY m ORDER BY m""")),

    // Correlated LATERAL subquery (PG13 LATERAL): top-2 orders per
    // customer. Catalyst decorrelates the ORDER BY/LIMIT-2 subquery
    // into a partitioned window — no per-customer re-execution.
    Query("q_lateral", (s, d) => graft.Sql.adhoc(s, d,
      """SELECT c.c_custkey, l.o_orderkey, l.price
         FROM customer c
         JOIN LATERAL (
           SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
           FROM orders WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         ) l
         ORDER BY c.c_custkey, l.price DESC, l.o_orderkey"""), Some(
      """SELECT c.c_custkey, l.o_orderkey, l.price
         FROM customer c
         JOIN LATERAL (
           SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
           FROM orders WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         ) l ON TRUE
         ORDER BY c.c_custkey, l.price DESC, l.o_orderkey""")),

    Query("q_pivot", (s, d) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val piv = table(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment", segs)
        .agg(count(lit(1)))
      piv.select(col("c_nationkey") +:
          segs.map(g => coalesce(col(s"`$g`"), lit(0L)).as(g.toLowerCase)): _*)
        .orderBy(col("c_nationkey"))
    }, Some(
      """SELECT c_nationkey,
                count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS automobile,
                count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS building,
                count(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS furniture,
                count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS household,
                count(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS machinery
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // UNPIVOT (melt) — the inverse of q_pivot: wide measure columns →
    // (measure, val) long form, the shape feature stores and
    // per-metric aggregations want. Narrow map-side transform: no
    // shuffle except the output sort; the row-count multiplier (×4) is
    // the declared semantics, not a join blow-up. Deterministic subset
    // (orderkey % 100) keeps the declared output sortable at any SF.
    Query("q_unpivot", (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"),
          col("l_tax").cast("double").as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"), col("val")), Some(
      """SELECT l_orderkey, l_linenumber, measure, val
         FROM (SELECT l_orderkey, l_linenumber,
                      CAST(l_quantity AS DOUBLE) AS quantity,
                      CAST(l_extendedprice AS DOUBLE) AS extendedprice,
                      CAST(l_discount AS DOUBLE) AS discount,
                      CAST(l_tax AS DOUBLE) AS tax
               FROM lineitem WHERE l_orderkey % 100 = 0)
         UNPIVOT (val FOR measure IN (quantity, extendedprice, discount, tax))
         ORDER BY l_orderkey, l_linenumber, measure, val"""))
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.table

/** Classic TPC-H composite analytics (SURVEY.md §3.3 / §2.8d): the
  * reference's declared query capability is ad-hoc SQL over the
  * warehoused table (README.md:62-78 — "you can write your own SQL
  * queries", executed by Postgres 13). The q_* operator rows cover
  * that surface piecewise; these three run the canonical multi-join
  * analytics end to end — filter pushdown × broadcast dims × big-big
  * join × decimal aggregate × top-k — in one declared, oracle-checked
  * plan each (date windows adapted to the fixture's 1995–2001 span).
  *
  * Scale shapes: the fact tables join on their keys (one shuffle
  * each, AQE-coalesced), every dim is broadcast, top-k plans as
  * TakeOrderedAndProject (never a global sort), and the money sums
  * keep the DECIMAL(18,4) product convention (§7.4).
  */
object Composites {
  private def money4(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))
  private def revenue =
    sum(money4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
      .cast(DecimalType(18, 4)).cast("double")

  /** A composite whose plan is Spark's own parse of its oracle SQL
    * ([[graft.Sql.adhoc]]): both engines run the same text.
    */
  private def sameSql(name: String, sql: String): Query =
    Query(name, (s, d) => graft.Sql.adhoc(s, d, sql), Some(sql))

  /** The three decorrelation composites (r10 verdict item 3) run the
    * SAME SQL text on both engines via [[graft.Sql.adhoc]]: the point
    * is the PLAN, not the dialect — Catalyst must rewrite the
    * HAVING-IN subquery (Q18) to a left-semi hash join, the
    * EXISTS / NOT EXISTS self-join chain (Q21) to left-semi + left-
    * anti hash joins, and the correlated scalar-min (Q2) to an
    * aggregate + equi join — never a per-row re-execution and never a
    * BNLJ on a fact table (plan shapes pinned by CompositesSpec).
    * Q21's lateness predicate and Q2's part-supplier link are adapted
    * to the fixture schema (no commit/receipt dates, no partsupp):
    * late = shipped >60 days after the order date; unit price
    * l_extendedprice/l_quantity stands in for ps_supplycost. Both
    * arithmetic forms are bit-identical across engines (exact integer
    * doubles; IEEE division), so the shared text stays hash-safe.
    */
  private val decorrelated: Seq[Query] = Seq(
    // TPC-H Q18 (large-volume customers): semi join on an aggregated
    // HAVING subquery over the same fact it then re-joins.
    sameSql("q_tpch_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                sum(l_quantity) AS sum_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // TPC-H Q21 (suppliers who kept orders waiting): the EXISTS +
    // NOT EXISTS self-join chain on lineitem — a supplier's late line
    // on a multi-supplier 'F' order where NO OTHER supplier was late.
    sameSql("q_tpch_q21",
      """SELECT s_name, n_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders, nation
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
           AND s_nationkey = n_nationkey
         GROUP BY s_name, n_name ORDER BY numwait DESC, s_name LIMIT 100"""),

    // TPC-H Q2 (minimum-cost supplier): correlated scalar-min
    // subquery — the European supplier(s) hitting the region-wide
    // minimum unit price for each size-15 part.
    sameSql("q_tpch_q2",
      """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
         FROM part, supplier, lineitem, nation, region
         WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
           AND p_size = 15
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND l_extendedprice / l_quantity = (
               SELECT min(l2.l_extendedprice / l2.l_quantity)
               FROM lineitem l2, supplier s2, nation n2, region r2
               WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
                 AND s2.s_nationkey = n2.n_nationkey
                 AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")
  )

  /** Round-11 TPC-H breadth wave — the remaining dial-a-shape
    * composites the fixture schema can express, again as SHARED SQL
    * text on both engines (the plan is the point, not the dialect).
    * Adaptations where the fixture lacks a TPC-H column are noted
    * per query (no commit/receipt dates → the >60-day ship-lag
    * lateness convention from Q21; no l_shipmode/p_container/c_phone
    * → derived delay buckets, p_size, c_nationkey). Determinism
    * (§7.4): every money sum goes through DECIMAL(18,4) terms (exact,
    * order-free), every integer-CASE sum is CAST AS BIGINT (the r8
    * HUGEINT lesson), the Q22 average is an exact-decimal sum / count
    * (a bare double avg is partition-order-dependent), and every
    * output is totally ordered.
    */
  private val tpchWave2: Seq[Query] = Seq(
    // TPC-H Q4 (order priority checking): EXISTS against the fact →
    // left-semi hash join; lateness = shipped >60 days after order.
    sameSql("q_tpch_q4",
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate < TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg
    // — one codegen'd stage, zero joins; the predicate constants are
    // exactly-representable doubles so BETWEEN never straddles an ulp.
    sameSql("q_tpch_q6",
      """SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                  AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24"""),

    // TPC-H Q7 (volume shipping): two-nation flow with a
    // double-aliased nation dim (n1 supplier side, n2 customer side).
    sameSql("q_tpch_q7",
      """SELECT supp_nation, cust_nation, l_year,
                CAST(CAST(sum(volume) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(year(l_shipdate) AS BIGINT) AS l_year,
                      CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume
               FROM supplier, lineitem, orders, customer, nation n1, nation n2
               WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                 AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
                 AND c_nationkey = n2.n_nationkey
                 AND ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
                   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
                 AND l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01') shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year"""),

    // TPC-H Q8 (national market share): NATION_6's share of AMERICA
    // ECONOMY-part revenue by order year — conditional share over a
    // 5-table join; both sums are exact decimals, one final division.
    sameSql("q_tpch_q8",
      """SELECT o_year,
                round(CAST(sum(CASE WHEN nation = 'NATION_6' THEN volume
                                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                      CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
         FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                      CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
                      n2.n_name AS nation
               FROM part, supplier, lineitem, orders, customer,
                    nation n1, nation n2, region
               WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                 AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                 AND c_nationkey = n1.n_nationkey
                 AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
                 AND s_nationkey = n2.n_nationkey
                 AND o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate < TIMESTAMP '1998-01-01'
                 AND p_type = 'ECONOMY') all_nations
         GROUP BY o_year ORDER BY o_year"""),

    // TPC-H Q12 (shipping modes / priority): l_shipmode doesn't exist
    // in the fixture → derived ship-delay buckets (FAST ≤30d, SLOW
    // ≤60d, LATE >60d) carry the same high/low-priority pivot.
    sameSql("q_tpch_q12",
      """SELECT delay_bucket,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM (SELECT o_orderpriority,
                      CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'LATE'
                           WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY THEN 'SLOW'
                           ELSE 'FAST' END AS delay_bucket
               FROM orders, lineitem
               WHERE o_orderkey = l_orderkey
                 AND l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1997-01-01') flagged
         GROUP BY delay_bucket ORDER BY delay_bucket"""),

    // TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    // keeps zero-order customers; the o_comment NOT LIKE exclusion
    // becomes an order-priority exclusion (same join-condition-filter
    // shape: the predicate must ride INSIDE the outer join, not after
    // it, or the zero bucket vanishes).
    sameSql("q_tpch_q13",
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q14 (promo revenue share): conditional-over-total revenue
    // across the part join, one month window.
    sameSql("q_tpch_q14",
      """SELECT round(100.0 *
                  CAST(sum(CASE WHEN p_type = 'PROMO'
                                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                       AS DOUBLE), 6) AS promo_revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1996-09-01'
           AND l_shipdate < TIMESTAMP '1996-10-01'"""),

    // TPC-H Q15 (top supplier): CTE revenue view + scalar-max
    // subquery — Catalyst evaluates the max once (subquery reuse),
    // never per row.
    sameSql("q_tpch_q15",
      """WITH revenue0 AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                       AS DECIMAL(18,4)) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier, revenue0
         WHERE s_suppkey = supplier_no
           AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
         ORDER BY s_suppkey"""),

    // TPC-H Q17 (small-quantity-order revenue): correlated per-part
    // avg → aggregate + equi join back on l_partkey; p_container
    // stands in as p_size. The threshold avg is a sum of
    // integer-valued quantities / count — exact, order-free.
    sameSql("q_tpch_q17",
      """SELECT round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS DOUBLE) / 7.0, 6) AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand = 'Brand#23' AND p_size < 25
           AND l_quantity < (SELECT 0.3 * avg(l_quantity)
                             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),

    // TPC-H Q19 (discounted revenue, disjunctive predicates): the
    // OR-of-ANDs join predicate — Catalyst must still extract the
    // common p_partkey = l_partkey equi key and hash-join, pushing
    // the disjunction to a post-join filter (never a BNLJ).
    sameSql("q_tpch_q19",
      """SELECT CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         FROM lineitem, part
         WHERE p_partkey = l_partkey AND
           ((p_brand = 'Brand#12' AND p_size >= 1 AND p_size <= 15
             AND l_quantity >= 1 AND l_quantity <= 11)
            OR (p_brand = 'Brand#23' AND p_size >= 1 AND p_size <= 25
                AND l_quantity >= 10 AND l_quantity <= 20)
            OR (p_brand = 'Brand#24' AND p_size >= 1 AND p_size <= 35
                AND l_quantity >= 20 AND l_quantity <= 30))"""),

    // TPC-H Q22 (global sales opportunity): NOT EXISTS (anti join) +
    // a scalar avg threshold; c_phone country codes become
    // c_nationkey, and "never ordered" becomes "never ordered
    // URGENT" (every fixture customer has orders, so the literal
    // form is empty at every SF). The threshold is an exact decimal
    // sum / count — a bare avg(double) differs across partition
    // orders.
    sameSql("q_tpch_q22",
      """SELECT cntrycode, count(*) AS numcust,
                CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
         FROM (SELECT c_nationkey AS cntrycode, c_acctbal
               FROM customer
               WHERE c_nationkey <= 12
                 AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                              AS DOUBLE) / count(*)
                                  FROM customer
                                  WHERE c_acctbal > 0.0
                                    AND c_nationkey <= 12)
                 AND NOT EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey
                                   AND o_orderpriority = '1-URGENT')) custsale
         GROUP BY cntrycode ORDER BY cntrycode""")
  )

  /** Round-11 TPC-H completion wave — the last four of the 22, all
    * partsupp-dependent in the official text (the fixture has no
    * partsupp table), re-anchored on lineitem with the Q2 convention
    * (unit price l_extendedprice/l_quantity stands in for
    * ps_supplycost; a supplier "stocks" a part iff it ever shipped
    * it). The PLAN shapes survive the adaptation: Q9's per-part
    * cost subquery decorrelates to an aggregate + equi join under the
    * 5-table star, Q11's HAVING threshold is a one-row scalar
    * subquery broadcast against the grouped fact, Q16's NOT IN is a
    * null-safe anti join under a count-distinct rollup, and Q20 keeps
    * the nested IN chain with a correlated per-part aggregate.
    * Money sums follow §7.4 (DECIMAL(18,4) terms); quantity sums are
    * integer-valued doubles (exact at any partition order); min over
    * doubles is order-free.
    */
  private val tpchWave3: Seq[Query] = Seq(
    // TPC-H Q9 (product-type profit): profit per supplier nation and
    // order year over the canonical 6-table star — supply cost rides
    // the part dim as a fixed retail margin (0.6 · p_retailprice
    // stands in for ps_supplycost; a 2dp value × 0.6 × an integer
    // quantity sits on the 3dp grid, so the DECIMAL(18,4) cast is
    // never near a rounding midpoint — unit-price quotients are NOT
    // hash-safe here, measured).
    sameSql("q_tpch_q9",
      """SELECT nation, o_year,
                CAST(CAST(sum(amount) AS DECIMAL(18,4)) AS DOUBLE) AS sum_profit
         FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                      CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                      - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
               FROM part, supplier, lineitem, orders, nation
               WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                 AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                 AND p_name LIKE '%red%') profit
         GROUP BY nation, o_year ORDER BY nation, o_year DESC"""),

    // TPC-H Q11 (important stock): per-part shipped value for one
    // nation's suppliers, kept only above a fraction of the nation
    // total — the global threshold is a scalar subquery evaluated
    // once and broadcast.
    sameSql("q_tpch_q11",
      """SELECT l_partkey AS ps_partkey,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                     AS DECIMAL(18,4)) AS DOUBLE) AS value
         FROM lineitem, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
           AND n_name = 'NATION_3'
         GROUP BY l_partkey
         HAVING CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                     AS DOUBLE) >
                (SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                             AS DOUBLE) * 0.001
                 FROM lineitem, supplier, nation
                 WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                   AND n_name = 'NATION_3')
         ORDER BY value DESC, ps_partkey"""),

    // TPC-H Q16 (parts/supplier relationship): distinct suppliers per
    // part attribute cell, excluding flagged suppliers via NOT IN —
    // s_acctbal < 0 stands in for the comment-LIKE complaint flag
    // (keys are never null, so the null-aware anti join is a plain
    // left-anti hash join).
    sameSql("q_tpch_q16",
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand <> 'Brand#12' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

    // TPC-H Q20 (potential part promotion): suppliers who dominated a
    // red part's 1996 volume (>20% of all shipments of that part) —
    // the nested-IN chain with a correlated per-part aggregate; the
    // nationkey range plays the country-code role (the Q22
    // convention) so the result is non-degenerate at every SF.
    sameSql("q_tpch_q20",
      """SELECT s_name, s_acctbal
         FROM supplier, nation
         WHERE s_suppkey IN (
             SELECT l1.l_suppkey
             FROM lineitem l1
             WHERE l1.l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
               AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
               AND l1.l_shipdate < TIMESTAMP '1997-01-01'
             GROUP BY l1.l_suppkey, l1.l_partkey
             HAVING sum(l1.l_quantity) > (
                 SELECT 0.2 * sum(l2.l_quantity) FROM lineitem l2
                 WHERE l2.l_partkey = l1.l_partkey
                   AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l2.l_shipdate < TIMESTAMP '1997-01-01'))
           AND s_nationkey = n_nationkey AND n_nationkey < 13
         ORDER BY s_name""")
  )

  val queries: Seq[Query] = decorrelated ++ tpchWave2 ++ tpchWave3 ++ Seq(

    // TPC-H Q1 (pricing summary report): the canonical single-pass
    // wide aggregate — 8 aggregates over 2 group keys, one codegen'd
    // stage, map-side partials carry the whole reduction. All money
    // sums in exact DECIMAL (2dp inputs; 4dp for the 2-factor
    // product, 6dp for the 3-factor charge), averages as one
    // decimal-sum / count division per engine.
    Query("q_tpch_q1", (s, d) =>
      table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).cast("double").as("sum_base_price"),
          sum(money4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast(DecimalType(18, 4)).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)).cast("double").as("sum_charge"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).cast("double") / count(lit(1)), 6).as("avg_qty"),
          round(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).cast("double") / count(lit(1)), 6).as("avg_price"),
          round(sum(col("l_discount").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).cast("double") / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")), Some(
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
                round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 6) AS avg_qty,
                round(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 6) AS avg_price,
                round(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / count(*), 6) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-12-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 (shipping priority): top-10 unshipped BUILDING-segment
    // orders by revenue at the cutoff date.
    Query("q_tpch_q3", (s, d) =>
      table(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(table(s, d, "orders")
          .filter(col("o_orderdate") < lit("1996-03-15").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(table(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority")), Some(
      """SELECT l_orderkey,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
                o_orderdate, o_orderpriority
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1996-03-15'
           AND l_shipdate > TIMESTAMP '1996-03-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")),

    // TPC-H Q5 (local supplier volume): revenue from ASIA customers
    // served by a supplier in the SAME nation, by nation, one year.
    Query("q_tpch_q5", (s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(table(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region"))
          .filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name")), Some(
      """SELECT n_name,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // TPC-H Q10 (returned-item reporting): top-20 customers by lost
    // revenue from returned items in one quarter.
    Query("q_tpch_q10", (s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(table(s, d, "lineitem").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(table(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name")), Some(
      """SELECT c_custkey, c_name,
                CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
                c_acctbal, n_name
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20"""))
  )
}

package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.table

/** Scan / projection / filter / scalar-function queries (SURVEY.md §2.1–§2.2).
  *
  * Semantics derive from the reference's per-record transforms
  * (reference dags/weather-etl.py:122-131) and its declared ad-hoc SQL
  * surface (reference README.md:62-78); all realized as single
  * codegen'd `select`s over the columnar Parquet scan — filters and
  * projections push down to the scan, no per-row interpreter.
  */
object Scalars {
  val queries: Seq[Query] = Seq(
    // (l_orderkey, l_linenumber) is NOT unique in the fixture, so
    // row-level lineitem queries order by every output column — rows
    // equal on all outputs are interchangeable, making the sort total
    // for hashing purposes (SURVEY.md §7.4).
    Query("q_scan", (s, d) => {
      val li = table(s, d, "lineitem")
      li.orderBy(li.columns.map(col).toIndexedSeq: _*)
    }, Some(
      """SELECT * FROM lineitem
         ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate""")),

    Query("q_project", (s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")), Some(
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice")),

    Query("q_filter", (s, d) =>
      table(s, d, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_quantity") < 25 &&
          col("l_returnflag").isin("A", "R") &&
          !(col("l_linestatus") === "O"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag")), Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_quantity < 25 AND l_returnflag IN ('A','R') AND NOT (l_linestatus = 'O')
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""")),

    Query("q_case_when", (s, d) =>
      table(s, d, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 150000, "mid")
            .otherwise("small").as("bucket"))
        .orderBy(col("o_orderkey")), Some(
      """SELECT o_orderkey,
                CASE WHEN o_totalprice > 300000 THEN 'big'
                     WHEN o_totalprice > 150000 THEN 'mid'
                     ELSE 'small' END AS bucket
         FROM orders ORDER BY o_orderkey""")),

    // Nested access on schema-on-read JSON (weather-etl.py:129,131 analog).
    Query("q_nested_get", (s, d) =>
      table(s, d, "events")
        .select(
          col("event_id"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .orderBy(col("event_id")), Some(
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events ORDER BY event_id")),

    // Epoch seconds <-> timestamp (weather-etl.py:126 analog).
    Query("q_epoch_ts", (s, d) =>
      table(s, d, "events")
        .select(
          col("event_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts_sec"))
        .orderBy(col("event_id")), Some(
      """SELECT event_id,
                epoch_us(ts) // 1000000 AS epoch_s,
                make_timestamp((epoch_us(ts) // 1000000) * 1000000) AS ts_sec
         FROM events ORDER BY event_id""")),

    // Timestamp + per-row interval (weather-etl.py:127-128 analog).
    Query("q_ts_offset", (s, d) =>
      table(s, d, "events")
        .select(
          col("event_id"),
          col("ts"),
          expr("ts + make_interval(0, 0, 0, 0, 0, 0, user_id % 3600)").as("ts_local"))
        .orderBy(col("event_id")), Some(
      "SELECT event_id, ts, ts + to_seconds(user_id % 3600) AS ts_local FROM events ORDER BY event_id")),

    // Array projection + string join (weather-etl.py:130 analog).
    Query("q_array_join", (s, d) =>
      table(s, d, "documents")
        .select(
          col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), ", ").as("first_words"))
        .orderBy(col("doc_id")), Some(
      "SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ', ') AS first_words FROM documents ORDER BY doc_id")),

    // String interpolation (weather-etl.py:118 analog).
    Query("q_string_fmt", (s, d) =>
      table(s, d, "events")
        .select(
          col("event_id"),
          format_string("u%03d-%s", col("user_id"), col("event_type")).as("tag"))
        .orderBy(col("event_id")), Some(
      "SELECT event_id, printf('u%03d-%s', user_id, event_type) AS tag FROM events ORDER BY event_id")),

    Query("q_str_funcs", (s, d) =>
      table(s, d, "customer")
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          lower(col("c_mktsegment")).as("lseg"),
          substring(col("c_name"), 1, 8).as("pref"),
          length(col("c_name")).as("len"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          col("c_name").like("%00001%").as("has1"),
          regexp_replace(col("c_name"), "Customer", "C").as("short_name"),
          trim(concat(lit("  "), col("c_name"), lit(" "))).as("trimmed"))
        .orderBy(col("c_custkey")), Some(
      """SELECT c_custkey,
                upper(c_name) AS uname,
                lower(c_mktsegment) AS lseg,
                substr(c_name, 1, 8) AS pref,
                CAST(length(c_name) AS INTEGER) AS len,
                regexp_extract(c_name, '([0-9]+)', 1) AS digits,
                c_name LIKE '%00001%' AS has1,
                regexp_replace(c_name, 'Customer', 'C') AS short_name,
                trim(concat('  ', c_name, ' ')) AS trimmed
         FROM customer ORDER BY c_custkey""")),

    Query("q_date_funcs", (s, d) =>
      table(s, d, "orders")
        .select(
          col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("order_month"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mon"),
          dayofweek(col("o_orderdate")).as("dow"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"),
          last_day(col("o_orderdate")).as("eom"))
        .orderBy(col("o_orderkey")), Some(
      """SELECT o_orderkey,
                CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
                CAST(year(o_orderdate) AS INTEGER) AS yr,
                CAST(month(o_orderdate) AS INTEGER) AS mon,
                CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
                CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
                last_day(o_orderdate) AS eom
         FROM orders ORDER BY o_orderkey""")),

    Query("q_math_funcs", (s, d) =>
      table(s, d, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_d"),
          ceil(col("l_extendedprice")).as("ceil_p"),
          floor(col("l_extendedprice")).as("floor_p"),
          (col("l_orderkey") % 7).as("mod7"),
          round(sqrt(col("l_quantity")), 6).as("sqrt_q"),
          round(log(col("l_extendedprice")), 6).as("ln_p"),
          (col("l_quantity") * col("l_quantity")).as("q_sq"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ceil_p"),
          col("sqrt_q"), col("abs_d")), Some(
      """SELECT l_orderkey, l_linenumber,
                abs(l_discount - 0.05) AS abs_d,
                CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
                CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
                l_orderkey % 7 AS mod7,
                round(sqrt(l_quantity), 6) AS sqrt_q,
                round(ln(l_extendedprice), 6) AS ln_p,
                l_quantity * l_quantity AS q_sq
         FROM lineitem ORDER BY l_orderkey, l_linenumber, ceil_p, sqrt_q, abs_d""")),

    Query("q_json_funcs", (s, d) =>
      table(s, d, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"))
        .orderBy(col("event_id")), Some(
      """SELECT event_id,
                json_extract_string(props, '$.k') AS k_str,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
         FROM events ORDER BY event_id""")),

    // Map-typed view of the JSON payload (schema-on-read to
    // map<string,string> — the dynamic-key form of q_nested_get).
    Query("q_map_funcs", (s, d) =>
      table(s, d, "events")
        .withColumn("m", from_json(col("props"), "map<string,string>", Map.empty[String, String]))
        .select(
          col("event_id"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
          element_at(col("m"), "k").cast("long").as("k_val"),
          size(map_keys(col("m"))).as("n_keys"))
        .orderBy(col("event_id")), Some(
      """SELECT event_id,
                array_to_string(list_sort(json_keys(props)), ',') AS keys,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
                CAST(len(json_keys(props)) AS INTEGER) AS n_keys
         FROM events ORDER BY event_id""")),

    Query("q_array_funcs", (s, d) => {
      val words = split(col("text"), " ")
      table(s, d, "documents")
        .select(
          col("doc_id"),
          size(words).as("n_words"),
          element_at(words, 1).as("first_word"),
          element_at(words, -1).as("last_word"),
          array_contains(words, "data").as("has_data"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                string_split(text, ' ')[1] AS first_word,
                string_split(text, ' ')[-1] AS last_word,
                list_contains(string_split(text, ' '), 'data') AS has_data
         FROM documents ORDER BY doc_id"""))
  )
}

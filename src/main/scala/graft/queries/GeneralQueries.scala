package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._

/** T2 generalization queries (joins / aggs / windows / set ops —
  * SURVEY.md §2.8). */
object GeneralQueries {
  import Common._

  val all: Seq[Query] = Seq(
    // TPC-H Q1-style scan + groupBy aggregation
    // no wide() here: the cents sums are cheap enough that a 3-task
    // scan+partial-agg beats paying a 600k-row repartition shuffle
    // (measured 0.30 vs 0.68 s)
    Query("q13_agg_q1", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(ts("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          fromCents(sum(cents(col("l_quantity"))), 2).as("sum_qty"),
          fromCents(sum(cents(col("l_extendedprice"))), 2).as("sum_base_price"),
          fromCents(sum(cents(col("l_extendedprice")) *
            floor((lit(1.0) - col("l_discount")) * 100 + lit(0.5))), 4)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(COUNT(*) AS BIGINT) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus"""),

    // TPC-H Q3-style 3-way join + agg + total-order top-k.
    // customer is the small side → broadcast hint; orders⋈lineitem is the
    // big shuffle join AQE handles.
    Query("q14_join_agg", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit(ts("1999-01-01 00:00:00")))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit(ts("1997-01-01 00:00:00")))
      Relational.topK(20, Seq(col("revenue").desc, col("l_orderkey").asc))(
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(fromCents(sum(cents(col("l_extendedprice")) *
            floor((lit(1.0) - col("l_discount")) * 100 + lit(0.5))), 4)
            .as("revenue")))
    },
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_orderkey, orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 20"""),

    // TPC-H Q5-style snowflake join: dims broadcast, facts shuffle.
    Query("q15_join_multi", (s, d) => {
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(fromCents(sum(cents(col("l_extendedprice")) *
          floor((lit(1.0) - col("l_discount")) * 100 + lit(0.5))), 4)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),

    // left-semi join (EXISTS)
    Query("q16_semi_join", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"),

    // left-anti join (NOT EXISTS)
    Query("q17_anti_join", (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"),

    // UNION (distinct) of two predicates
    Query("q18_union_distinct", (s, d) =>
      Tables.orders(s, d).filter(col("o_totalprice") > 300000).select("o_orderkey")
        .union(
          Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
            .select("o_orderkey"))
        .distinct(),
      "SELECT o_orderkey FROM orders WHERE o_totalprice > 300000 UNION SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'"),

    // ROLLUP grouping sets, computed by re-aggregation: the finest level
    // aggregates the data ONCE (6 rows), and the coarser levels re-sum
    // that 6-row result — additive aggregates (count, decimal sum)
    // re-aggregate exactly. Spark's native `rollup` would Expand every
    // input row ×3 (600 k → 1.8 M rows through the hash aggregate); this
    // shape scans once and the re-agg is O(groups), the plan you want at
    // any scale for additive measures.
    Query("q19_rollup", (s, d) => {
      val fine = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("__sq"))
      val mid = fine.groupBy("l_returnflag")
        .agg(sum(col("n")).as("n"), sum(col("__sq")).as("__sq"))
        .withColumn("l_linestatus", lit(null).cast("string"))
      val top = fine
        .agg(sum(col("n")).as("n"), sum(col("__sq")).as("__sq"))
        .withColumn("l_returnflag", lit(null).cast("string"))
        .withColumn("l_linestatus", lit(null).cast("string"))
      fine.unionByName(mid.select(fine.columns.map(col): _*))
        .unionByName(top.select(fine.columns.map(col): _*))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          fromCents(col("__sq"), 2).as("sum_qty"))
    },
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    // running window aggregate (exact decimal running sum)
    Query("q20_window_running", (s, d) =>
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        fromCents(sum(cents(col("o_totalprice")))
          .over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_spend")),
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
         FROM orders"""),

    // distinct aggregate + plain aggregates
    Query("q21_distinct_agg", (s, d) =>
      Tables.customer(s, d).groupBy("c_nationkey")
        .agg(countDistinct(col("c_mktsegment")).as("n_segments"),
          count(lit(1)).as("n_customers"),
          fromCents(sum(cents(col("c_acctbal"))), 2).as("total_balance")),
      """SELECT c_nationkey, CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
         FROM customer GROUP BY c_nationkey"""),

    // scalar string/case expressions
    Query("q22_case_string", (s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"),
        when(col("p_size") < 10, "small").when(col("p_size") < 30, "medium")
          .otherwise("large").as("size_class"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type")),
      """SELECT p_partkey, upper(substr(p_name, 1, 8)) AS name_prefix,
         CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
         p_brand || '#' || p_type AS brand_type FROM part"""),

    // as-of join (events -> latest order at-or-before the event, per
    // user): union-sort technique, one shuffle, no join explosion. The
    // right side is pre-aggregated to one row per (key, time) so the
    // tie-break is deterministic in both engines.
    Query("q35_asof_join", (s, d) => {
      val ord = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      Temporal.asofJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
        pruneRightKeys = true) // event users are a small slice of customers
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("event_ts"),
          col("asof_last_orderkey").as("last_orderkey"),
          date_format(col("asof_o_orderdate"), "yyyy-MM-dd").as("order_date"))
    },
      """WITH ord AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
           FROM orders GROUP BY 1, 2),
         ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
           last_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM ev ASOF LEFT JOIN ord
           ON ev.user_id = ord.o_custkey AND ev.ts >= ord.o_orderdate"""),

    // bounded range join via bucketing (equi-join meeting points, exact
    // predicate within buckets) — never BroadcastNestedLoop
    Query("q36_range_join", (s, d) => {
      val e = Tables.events(s, d).filter(col("event_id") < 300)
        .select(col("event_id"), col("value"))
      Temporal.rangeJoinByValue(e, e, "value", "value", 0.5)
        .filter(col("a_event_id") < col("b_event_id"))
        .select(col("a_event_id"), col("b_event_id"),
          col("a_value"), col("b_value"))
    },
      """WITH e AS (SELECT event_id, value FROM events WHERE event_id < 300)
         SELECT a.event_id AS a_event_id, b.event_id AS b_event_id,
           a.value AS a_value, b.value AS b_value
         FROM e a, e b
         WHERE a.event_id < b.event_id AND abs(a.value - b.value) <= 0.5"""),

    // the SAME range-join semantics expressed as a plain DataFrame join
    // with a nested-loop-shaped predicate — the custom optimizer rule
    // (plans/RangeJoinRewrite, self-enabled on the session) rewrites it
    // into the bucketed equi-join, proving the extension path through
    // the correctness gate; all ordered pairs incl. self (the join
    // condition must be exactly the range predicate for the rule to
    // match, so no id-ordering filter here — q36 is the curated variant)
    Query("q56_range_join_rule", (s, d) => {
      plans.RangeJoinRewrite.enable(s)
      val e = Tables.events(s, d).filter(col("event_id") < 300)
        .select(col("event_id"), col("value"))
      e.as("a").join(e.as("b"),
        abs(col("a.value") - col("b.value")) <= lit(0.5))
        .select(col("a.event_id").as("a_event_id"),
          col("b.event_id").as("b_event_id"),
          col("a.value").as("a_value"), col("b.value").as("b_value"))
    },
      """WITH e AS (SELECT event_id, value FROM events WHERE event_id < 300)
         SELECT a.event_id AS a_event_id, b.event_id AS b_event_id,
           a.value AS a_value, b.value AS b_value
         FROM e a, e b
         WHERE abs(a.value - b.value) <= 0.5"""),

    // pivot (wide aggregation): order counts by priority per customer
    // bucket. Spelled as conditional sums, NOT relational .pivot: with
    // the pivot values known up front the .pivot API's plan (two
    // agg+exchange pairs around the non-codegen pivotfirst
    // ImperativeAggregate) collapses to ONE codegen'd hash aggregate
    // over one exchange — absent combinations sum to 0, matching
    // FILTER-count semantics in the oracle
    Query("q47_pivot", (s, d) => {
      def cnt(v: String) =
        sum(when(col("o_orderpriority") === v, 1L).otherwise(0L))
      Tables.orders(s, d)
        .groupBy((col("o_custkey") % 10).as("cust_mod"))
        .agg(cnt("1-URGENT").as("n_urgent"), cnt("2-HIGH").as("n_high"),
          cnt("3-MEDIUM").as("n_medium"))
    },
      """SELECT o_custkey % 10 AS cust_mod,
         CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
         CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
         CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_medium
         FROM orders GROUP BY 1"""),

    // array aggregation: deterministic (sorted) collect per group plus
    // array-derived scalars. The list itself crosses the oracle boundary
    // as a canonical comma-joined string — the driver's comparator sorts
    // column values and cannot sort raw list cells.
    Query("q48_array_agg", (s, d) =>
      Tables.lineitem(s, d).filter(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(array_sort(collect_list(col("l_linenumber"))).as("__ln"),
          count(lit(1)).as("n_lines"))
        .select(col("l_orderkey"),
          concat_ws(",", transform(col("__ln"), _.cast("string"))).as("line_numbers"),
          col("n_lines"),
          array_max(col("__ln")).cast(LongType).as("max_line")),
      """SELECT l_orderkey,
         array_to_string(list_transform(list_sort(list(l_linenumber)), x -> CAST(x AS VARCHAR)), ',') AS line_numbers,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(list_max(list(l_linenumber)) AS BIGINT) AS max_line
         FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey"""),

    // semi-structured extraction: multiple JSON fields from props. One
    // from_json parse per row (Jackson renders scalar tokens verbatim, so
    // numbers extract as their source text, same as get_json_object);
    // three get_json_object calls would parse the same string three times.
    Query("q45_json_props", (s, d) =>
      // widen the scan: the JSON parse otherwise runs on the events
      // table's single row-group task (439 ms serialized at sf0.1 —
      // the round-14 StageAudit sf0.1 sweep finding)
      wide(Tables.events(s, d).select("event_id", "props"))
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL(
            "k STRING, v STRING, missing STRING")).as("__p"))
        .select(col("event_id"), col("__p.k").as("k_raw"),
          col("__p.v").as("v_raw"), col("__p.missing").as("absent")),
      """SELECT event_id,
         json_extract_string(props, '$.k') AS k_raw,
         json_extract_string(props, '$.v') AS v_raw,
         json_extract_string(props, '$.missing') AS absent
         FROM events"""),

    // edit distance between derived strings (fuzzy-match surface)
    Query("q46_levenshtein", (s, d) =>
      Tables.part(s, d).filter(col("p_partkey") < 500)
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("p_brand")).cast(LongType).as("dist_brand"),
          levenshtein(substring(col("p_name"), 1, 10),
            substring(col("p_type"), 1, 10)).cast(LongType).as("dist_type10")),
      """SELECT p_partkey,
         CAST(levenshtein(p_name, p_brand) AS BIGINT) AS dist_brand,
         CAST(levenshtein(substr(p_name, 1, 10), substr(p_type, 1, 10)) AS BIGINT) AS dist_type10
         FROM part WHERE p_partkey < 500"""),

    // set operations: INTERSECT / EXCEPT (distinct semantics)
    Query("q42_intersect_except", (s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      val big = Tables.orders(s, d)
        .filter(col("o_totalprice") > 200000).select("o_custkey")
      urgent.intersect(big).withColumn("set_op", lit("both"))
        .union(urgent.except(big).withColumn("set_op", lit("urgent_only")))
    },
      """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
         SELECT o_custkey, 'both' AS set_op FROM (SELECT * FROM urgent INTERSECT SELECT * FROM big)
         UNION ALL
         SELECT o_custkey, 'urgent_only' AS set_op FROM (SELECT * FROM urgent EXCEPT SELECT * FROM big)"""),

    // navigation window functions: lag / lead / rank / ntile
    Query("q43_window_nav", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        lag("o_orderkey", 1).over(w).as("prev_orderkey"),
        lead("o_orderkey", 1).over(w).as("next_orderkey"),
        rank().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("spend_rank"),
        ntile(4).over(w).as("quartile"))
    },
      """SELECT o_custkey, o_orderkey,
         lag(o_orderkey, 1) OVER w AS prev_orderkey,
         lead(o_orderkey, 1) OVER w AS next_orderkey,
         CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS spend_rank,
         CAST(ntile(4) OVER w AS INT) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),

    // datetime surface: component extraction + day arithmetic
    Query("q44_datetime", (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("o_year"),
        month(col("o_orderdate")).cast(LongType).as("o_month"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("o_day"),
        quarter(col("o_orderdate")).cast(LongType).as("o_quarter"),
        datediff(lit("1999-01-01"), col("o_orderdate")).cast(LongType)
          .as("days_to_1999"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd")
          .as("plus_30d")),
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(month(o_orderdate) AS BIGINT) AS o_month,
         CAST(day(o_orderdate) AS BIGINT) AS o_day,
         CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
         CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_1999,
         strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d
         FROM orders"""),

    // exact interpolated percentiles via histogram selection (same
    // (1-f)*lo + f*hi arithmetic as DuckDB quantile_cont and Spark's
    // buffered `percentile`, but no per-group value buffer and no
    // full-data window: codegen histogram -> tiny cumsum -> rank only
    // the bracket buckets). Both metrics share the two passes.
    Query("q41_percentile", (s, d) =>
      Quantiles.quantileContBucketed(Tables.lineitem(s, d), Seq("l_returnflag"),
        Seq(("q", col("l_quantity"), 1.0, Seq(("__p50q", 0.5))),
          ("p", col("l_extendedprice"), 100.0,
            Seq(("__p25p", 0.25), ("__p75p", 0.75)))))
        .select(col("l_returnflag"),
          round(col("__p50q"), 6).as("p50_qty"),
          round(col("__p25p"), 6).as("p25_price"),
          round(col("__p75p"), 6).as("p75_price")),
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
         round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
         round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
         FROM lineitem GROUP BY l_returnflag"""),

    // correlated-scalar-subquery shape (TPC-H Q17): lineitems below 20%
    // of their part's average quantity, revenue loss per brand. The
    // subquery decorrelates into one per-part aggregate re-joined on the
    // SAME key — the partial-agg exchange is reusable against the probe
    // side's shuffle. The threshold test runs in exact integers
    // (qty_cents · cnt · 5 < sum_cents ⟺ qty < 0.2·avg): a double
    // avg(quantity) would be partial-sum-order-dependent and could flip
    // rows at the boundary between engines.
    Query("q104_qty_threshold", (s, d) => {
      val l = Tables.lineitem(s, d)
      val a = l.groupBy(col("l_partkey").as("__pk"))
        .agg(sum(cents(col("l_quantity"))).as("__sq"),
          count(lit(1)).as("__cnt"))
      l.join(a, col("l_partkey") === col("__pk"))
        .filter(cents(col("l_quantity")) * col("__cnt") * lit(5L) <
          col("__sq"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          fromCents(sum(cents(col("l_extendedprice"))), 2).as("__rev"))
        .select(col("p_brand"), col("n_lines"),
          (col("__rev") / lit(7.0)).as("yearly_loss"))
    },
      // integer threshold test mirrors the Spark side exactly; yearly loss
      // divides the exact decimal sum as a double, once
      """WITH a AS (SELECT l_partkey,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
           CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem GROUP BY 1)
         SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(7.0 AS DOUBLE) AS yearly_loss
         FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
         JOIN part p ON l.l_partkey = p.p_partkey
         WHERE CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) * cnt * 5 < sq
         GROUP BY 1"""),

    // time-bucketed aggregation — the batch equivalent of the streaming
    // tumbling-window count (streaming.EventsStream runs the readStream
    // version of exactly this plan)
    Query("q23_time_bucket", (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          fromCents(sum(cents(col("value"))), 2).as("total_value")),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""")
  )
}

package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators._

/** Reference-operator queries (SURVEY.md §2, O-numbers in comments):
  * one query per operator row of the reference pipelines. */
object ReferenceQueries {
  import Common._

  val all: Seq[Query] = Seq(
    // O9 — ordered column projection
    Query("q01_project", (s, d) =>
      Relational.project(Seq("c_custkey", "c_name", "c_mktsegment"))(
        Tables.customer(s, d)),
      "SELECT c_custkey, c_name, c_mktsegment FROM customer"),

    // O10 — drop rows with any null
    Query("q02_dropna_any", (s, d) =>
      Relational.dropNullsAny(
        Tables.events(s, d)
          .withColumn("big_value", when(col("value") > 150, col("value")))
          .select("event_id", "event_type", "big_value")),
      "SELECT event_id, event_type, value AS big_value FROM events WHERE value > 150"),

    // O11 — drop nulls on subset (null source: JSON field extraction).
    // The ~1M-row JSON parse must NOT run on the single scan task:
    // wide() repartitions the raw rows, and the non-pushable null
    // filter (pushable = false) keeps Catalyst from substituting the
    // parse into the predicate and dragging it below the exchange —
    // with a plain filter both parses land on the scan task (measured
    // ~0.65 s; barriered ~0.2 s at sf0.1).
    Query("q03_dropna_subset", (s, d) =>
      Relational.dropNulls(Seq("k_value"), pushable = false)(
        wide(Tables.events(s, d).select(col("event_id"), col("props")))
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast(LongType).as("k_value"))),
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL"),

    // O12 — bulk rename
    Query("q04_rename_bulk", (s, d) =>
      Relational.project(Seq("supplier_id", "supplier_name", "nation_id", "account_balance"))(
        Relational.renameAll(Map(
          "s_suppkey" -> "supplier_id", "s_name" -> "supplier_name",
          "s_nationkey" -> "nation_id", "s_acctbal" -> "account_balance"))(
          Tables.supplier(s, d))),
      "SELECT s_suppkey AS supplier_id, s_name AS supplier_name, s_nationkey AS nation_id, s_acctbal AS account_balance FROM supplier"),

    // O13 — constant batch audit stamp (injected literal for determinism)
    Query("q05_audit_stamp", (s, d) =>
      Relational.auditStamp("updated_ts", lit("2026-01-01 00:00:00"))(
        Tables.customer(s, d).select("c_custkey")),
      "SELECT c_custkey, '2026-01-01 00:00:00' AS updated_ts FROM customer"),

    // O14 — regex-strip + numeric cast (fixed prefix "A4" -> 4.0)
    Query("q06_regex_cast", (s, d) =>
      Relational.regexStripCast("grade", "A")(
        Tables.customer(s, d).select(col("c_custkey"),
          concat(lit("A"), ((col("c_nationkey") % 5) + 1).cast("string")).as("grade"))),
      "SELECT c_custkey, CAST(regexp_replace('A' || CAST(c_nationkey % 5 + 1 AS VARCHAR), 'A', '') AS DOUBLE) AS grade FROM customer"),

    // O15 — regex-strip with alternation ("A|N")
    Query("q07_regex_alt", (s, d) =>
      Relational.regexStripCast("nps", "A|N")(
        Tables.customer(s, d).select(col("c_custkey"),
          concat(when(col("c_custkey") % 2 === 0, lit("A")).otherwise(lit("N")),
            (col("c_custkey") % 11).cast("string")).as("nps"))),
      "SELECT c_custkey, CAST(regexp_replace((CASE WHEN c_custkey % 2 = 0 THEN 'A' ELSE 'N' END) || CAST(c_custkey % 11 AS VARCHAR), 'A|N', '') AS DOUBLE) AS nps FROM customer"),

    // O16 — membership filter
    Query("q08_membership", (s, d) =>
      Relational.membership("o_orderpriority", Seq("1-URGENT", "2-HIGH"))(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority")),
      "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')"),

    // O17 — date-range predicate (idempotency-delete survivor set)
    Query("q09_range_filter", (s, d) =>
      Relational.rangeFilter("o_orderdate", _ >= lit(ts("1998-01-01 00:00:00")))(
        Tables.orders(s, d))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate")),
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"),

    // O18 + O5 iLimit — top-k under a total order (TakeOrderedAndProject)
    Query("q10_topk", (s, d) =>
      Relational.topK(100, Seq(col("o_totalprice").desc, col("o_orderkey").asc))(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),

    // O18+O19 — deterministic keep-last dedup per key. Pruned first:
    // with fixed-width columns only, keep-last is one hash aggregate,
    // and no column can be pruned out of its buffer afterwards.
    Query("q11_keeplast", (s, d) =>
      Relational.keepLast(Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))(
        Tables.orders(s, d).select("o_custkey", "o_orderdate", "o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date")),
      "SELECT o_custkey, o_orderkey AS latest_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS latest_date FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) WHERE rn = 1"),

    // O7/O20 — positional un-nest (posexplode keeps the ingest position)
    Query("q12_unnest_pos", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("col").as("token")),
      "SELECT doc_id, unnest(range(0, len(string_split(text, ' ')))) AS pos, unnest(string_split(text, ' ')) AS token FROM documents")
  )
}

package graft
package queries

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators._

/** Helpers shared by more than one query tier: scan widening, exact
  * money arithmetic, and the SQL mirrors of graft's hashing and vector
  * primitives that several oracles splice in. */
object Common {
  private[queries] def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Small single-row-group parquet files scan as ONE partition, which
    * would pin heavy narrow per-row compute (JSON parse, regex, token
    * HOFs) to a single task — route those scans through
    * Parallelism.ensure (a no-op on an already-wide scan, so harmless
    * at 100 TB). Projections stay ABOVE the repartition, so the
    * expensive expressions run on all cores. */
  private[queries] def wide(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Parallelism.ensure(df)

  /** Exact money aggregation on unscaled integer cents, recovered with
    * pure double arithmetic: the corpus' money columns are exact
    * 2-decimal values (TPC-H money semantics — probe-verified
    * `round(v*100) = CAST(v AS DECIMAL(18,2))*100` on every money column
    * at both SFs), so `floor(v·100 + 0.5)` lands on the same integer the
    * DECIMAL(18,2) cast would (any fp error < half a cent rounds away;
    * exact for 2-decimal data of magnitude < 2^43). This removes the
    * per-row BigDecimal allocation of a double→decimal cast — the hash
    * aggregate then sums primitive longs, measured 2.4× faster. The
    * cents sum is exact integer arithmetic (long-safe to ~9·10^18
    * cents, far past a 100 TB TPC-H revenue); [[fromCents]] shifts back
    * via an exact decimal division, and only the final cast to double
    * rounds — once, identically to casting the all-decimal sum. */
  private[queries] def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  /** Exact shift back: /10^shift as a DECIMAL division (result scale 6 ≥
    * any shift used here, so the division is exact), then one double
    * rounding. */
  private[queries] def fromCents(c: Column, shift: Int): Column =
    (c.cast("decimal(38,0)") /
      lit(math.pow(10, shift).toLong).cast("decimal(6,0)")).cast("double")

  private[queries] val SimhashMaxBucket = 500
  private[queries] val SimhashMaxHamming = 3
  /** Operator-default degenerate-bucket cap (Dedup / Similarity) — the
    * oracles mirror it so Spark and DuckDB agree even on a corpus where
    * one bucket exceeds it. */
  private[queries] val DefaultMaxBucket = 10000

  /** q75 lexical query terms (drawn from the corpus vocabulary so the
    * overlap ranking provably fires). */
  private[queries] val RrfTerms = Seq("table", "scan", "fast")

  /** DuckDB equivalent of Hashing.hexLong. */
  private[queries] def sqlHexLong(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 14)) AS BIGINT)"

  /** Generated oracle: SimHash 4×14-bit pigeonhole band candidates —
    * the q30 signature pipeline, then band extraction + bucket self-join
    * (mirrors Dedup.simHashCandidates' grouping exactly: distinct pairs,
    * doc_a < doc_b, Hamming distance of the full signatures). */
  private[queries] def simhashCandidatesOracle: String = {
    val bits = 56
    val votes = (0 until bits).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
    val sig = (0 until bits).map(i =>
      s"CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END").mkString(" + ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, sh, $b AS band_idx, (sh >> ${b * 14}) & 16383 AS band_val FROM sig")
      .mkString(" UNION ALL ")
    s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       e AS (SELECT doc_id, ${sqlHexLong("u")} AS h FROM (SELECT doc_id, unnest(w) AS u FROM t)),
       v AS (SELECT doc_id, $votes FROM e GROUP BY doc_id),
       sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM v),
       banded AS ($bands),
       ok AS (SELECT band_idx, band_val FROM banded
              GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $SimhashMaxBucket)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       FROM banded a JOIN banded b
         ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       JOIN ok ON a.band_idx = ok.band_idx AND a.band_val = ok.band_val
       WHERE bit_count(xor(a.sh, b.sh)) <= $SimhashMaxHamming"""
  }
}

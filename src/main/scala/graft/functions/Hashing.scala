package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing primitives.
  *
  * Everything that feeds the DuckDB correctness oracle must hash
  * identically in both engines, so the base hash is md5 (bit-identical
  * everywhere) truncated to 14 hex digits = 56 bits, which fits a signed
  * 64-bit long in both Spark and DuckDB. Spark's own `hash`/`xxhash64`
  * would be faster but are not reproducible outside Spark; they're fine
  * for internal-only salting, not for declared query output.
  *
  * All of these are built-in Catalyst expressions (Md5, Substring, Conv,
  * Cast) — whole-stage codegen'd, no UDFs in the hot path.
  */
object Hashing {

  /** 56-bit non-negative hash of any string column; equals DuckDB's
    * `CAST(concat('0x', substr(md5(x), 1, 14)) AS BIGINT)`. Fused
    * native form ([[Md5Long]]) — one digest + a 7-byte fold instead of
    * the md5→substring→conv→cast chain's three string allocations;
    * bit-identical to that chain (property-tested). */
  def hexLong(c: Column): Column = Native.md5Long(c)

  /** Seeded variant: one independent hash family member per seed —
    * the MinHash permutation family. */
  def hexLongSeeded(c: Column, seed: Int): Column =
    hexLong(concat(lit(s"$seed:"), c))

  /** Full 128-bit content fingerprint as hex (document identity). */
  def fingerprint(c: Column): Column = md5(c)

  /** JVM-side twin of [[hexLong]] for plan-construction-time constants
    * (e.g. LSH hyperplane weights): standard md5, first 14 hex digits as
    * a non-negative long — bit-identical to the Spark expression on the
    * same literal, and to DuckDB's
    * `CAST(concat('0x', substr(md5(x), 1, 14)) AS BIGINT)`. */
  def hexLongJvm(s: String): Long = {
    // thread-local digest: getInstance("MD5") does a provider lookup
    // per call (~5 µs) and fixture muxers call this 65+ times per row —
    // measured 449 µs/doc mux cost, ~70% of it here. digest() resets
    // the instance, so reuse is safe; the 7-byte big-endian fold is
    // bit-identical to parsing the first 14 hex digits (56 bits,
    // non-negative).
    val d = Hashing.md5Local.get().digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
      ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
      ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

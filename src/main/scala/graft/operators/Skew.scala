package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hash-partitioned joins.
  *
  * AQE's skew-join rewrite (on by default) splits oversized partitions of
  * a sort-merge join at runtime, and hash aggregation is already immune
  * to key skew via map-side partial aggregation. The remaining gap —
  * closed here — is an equi-join whose hot keys concentrate on one
  * reducer: the classic fix is salting. The hot side gets a
  * deterministic salt derived from its own row content (NOT rand(): a
  * retried task must re-produce the same salt or shuffle-replay breaks),
  * and the other side is replicated once per salt bucket; joining on
  * (key, salt) spreads each hot key over `buckets` reducers at the cost
  * of replicating the build side `buckets`×.
  *
  * Use when: the build side is too big to broadcast, AQE can't help
  * (e.g. the join must be shuffled-hash), and key histograms are known
  * to be heavy-tailed. `buckets` trades reducer balance against build
  * replication — start at 8–16 for million-row hot keys.
  */
object Skew {

  /** Inner equi-join of `big` (skewed) with `small` on `key`, salted
    * across `buckets` reducers. Result equals `big.join(small, key)`
    * row-for-row. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int): DataFrame = {
    require(buckets > 0)
    // deterministic per-row salt: hash of the whole big-side row
    val salted = big.withColumn("__salt",
      pmod(hash(big.columns.toSeq.map(col): _*), lit(buckets)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Dev-only replicated-corpus generator for the scale rehearsals:
  * replicates the driver corpus with disjoint key ranges per replica
  * (ids shift by replica · stride) and per-replica AFFINE-PERMUTED
  * document text (`translate` with the alphabet permutation
  * i → a·i + b mod 26, a coprime to 26 — 312 distinct permutations, so
  * up to 312 replicas get pairwise-distinct substitutions; the round-13
  * plain rotation collided at r ≡ r' mod 26, which would have minted
  * 4-member twin families at 100 replicas). Replicas share corpus
  * statistics — token counts, doc lengths, zipf shape — without being
  * near-duplicates of each other (a naive text copy would mint
  * C(replicas, 2)-sized twin families and inflate every dedup tier's
  * pair count, grading the corpus, not the engine). Dimension
  * tables (region, nation) copy verbatim.
  * Usage: sbt "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1 10"
  *        sbt "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf10 100 10000000"
  * Not part of any gate; the driver never runs it. */
object ScaleUp {
  // default id stride per replica: comfortably above every base-table
  // id at sf0.1 (max ≈ 1.5e5 orderkeys) while keeping ALL replica ids
  // under 2^31, so 31-bit fast paths that legitimately hold on the
  // driver corpus (packed pair keys, Graph.adamicAdar packIds) stay
  // exercisable at the rehearsal instead of being knocked out by an
  // artificially astronomical id space (round 13: the old 1e9 stride
  // pushed ids to ~9.2e9). At 100 replicas the default overflows 31
  // bits — pass an explicit stride (1e7 keeps 100 replicas ≤ ~9.9e8
  // with 66× headroom over the max base id); the require below is the
  // loud guard.
  private val defaultStride = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    val S = if (args.length > 3) args(3).toLong else defaultStride
    // every replica id must stay under 2^31 (the packIds contract the
    // rehearsal exists to exercise) and strides must clear the base id
    // space (max base id 1.5e5 at sf0.1; collisions would silently
    // merge graph nodes across replicas)
    require(S > 1000000L, s"stride $S is inside the base id space")
    require(reps.toLong * S + 1000000L < Int.MaxValue.toLong,
      s"$reps replicas at stride $S exceed 31-bit ids — pass a smaller " +
        "stride (arg 4), e.g. 10000000 for 100 replicas")
    val spark = Profiles.verify(shuffle = 32)

    def shifted(table: String, idCols: Seq[String],
        textCol: Option[String] = None): DataFrame = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until reps).map { r =>
        val ids = idCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(r * S)))
        textCol match {
          case Some(t) if r > 0 =>
            val abc = "abcdefghijklmnopqrstuvwxyz"
            // affine substitution i -> a*i + b (mod 26): a cycles the 12
            // units of Z/26, b the 26 shifts -> 312 distinct permutations
            val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
            val a = units((r / 26) % units.size)
            val b = r % 26
            val perm = (0 until 26)
              .map(i => abc((a * i + b) % 26)).mkString
            ids.withColumn(t, translate(col(t), abc, perm))
          case _ => ids
        }
      }.reduce(_ unionByName _)
    }

    def write(df: DataFrame, table: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table done")
    }

    write(spark.read.parquet(s"$src/region.parquet"), "region")
    write(spark.read.parquet(s"$src/nation.parquet"), "nation")
    write(shifted("customer", Seq("c_custkey")), "customer")
    write(shifted("supplier", Seq("s_suppkey")), "supplier")
    write(shifted("part", Seq("p_partkey")), "part")
    write(shifted("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(shifted("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(shifted("events", Seq("event_id", "user_id")), "events")
    write(shifted("documents", Seq("doc_id"), Some("text")), "documents")
    write(shifted("embeddings", Seq("vec_id")), "embeddings")
    spark.stop()
  }
}

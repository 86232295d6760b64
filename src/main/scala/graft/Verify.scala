package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subset (mirrors Bench): SPARK_GRAFT_ONLY=q105_source_jsd
    // dumps + declares just those queries so tools/compare.py gates a
    // single query without paying for the whole suite. The driver never
    // sets it, so the official gate always covers everything.
    val selected = SparkEntry.select()
    // SPARK_GRAFT_AQE=1 validates every query (incl. the RangeJoinRewrite
    // rule behind q56) under AQE + GraftExtensions (Profiles.cluster)
    val spark = Profiles.verify()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): the dump stays one part file
      // (the layout the driver has always read), but coalesce is a
      // NARROW collapse — it pulled every post-shuffle stage of the
      // query onto the single writer task, which turned heavy-output
      // queries into one-core marathons at the 10x rehearsal scale
      // (q186 at sf1: ~10 min on one task, found round 13). The
      // repartition exchange keeps the query itself machine-wide and
      // serializes only the write.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Free this query's checkpoint blocks before the next query.
      // Nothing outlives its query — Tables memoizes unpersisted logical
      // relations only — so a blanket release after the dump is safe.
      org.apache.spark.sql.GraftShims.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // One shared escaper (the RPC client's) — two hand-rolled copies
    // would drift on the next escaping fix.
    def q(s: String): String = graft.sources.LimeSurveyClient.jstr(s)
    // sorted by name, so two dumps compare with a plain `diff`
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

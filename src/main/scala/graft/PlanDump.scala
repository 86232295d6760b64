package graft

/** Dev-only: dump `.explain("formatted")` for the named queries into
  * `<outDir>/<query>_<suffix>.txt` — the plan evidence the optimization
  * rounds commit under plans/rNN/. Runs under the exact Bench session
  * profile so the dumped plan is the one the bench times.
  * Usage: sbt "runMain graft.PlanDump plans/r14 before q84_pagerank,q173_ppr"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Profiles.bench()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // "formatted" via the public API (captures what explain prints)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // iterative operators materialize checkpoints at build time; free
      // them so a multi-query dump run doesn't accumulate pinned blocks
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(s"dumped $name")
    }
    spark.stop()
  }
}

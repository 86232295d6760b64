package graft

/** Partition count and AQE must not change answers: the tie-sensitive
  * queries (top-k ties, keep-last, exact dedup, connected-component and
  * label-propagation labels, triangle counts and k-core degrees over
  * pinned checkpoint layouts, hash sampling) give the same sorted output
  * under shuffle {1, 8, 32} × AQE {off, on}, set on the shared session
  * and restored afterwards. */
class LayoutInvarianceSpec extends SparkSpec {
  private val layouts = for {
    shuffle <- Seq(1, 8, 32)
    aqe <- Seq(false, true)
  } yield (shuffle, aqe)

  // q157's 3-core is empty at sf0.001; sf0.01 keeps 45 survivors
  private val queries = Seq("q10_topk", "q11_keeplast", "q28_dedup_exact",
    "q51_dedup_components", "q114_label_prop", "q111_triangles", "q40_sample",
    "q52_stratified_sample").map(_ -> sf001) :+
    ("q157_kcore" -> java.nio.file.Paths.get(sf001).resolveSibling("sf0.01").toString)

  queries.foreach { case (q, dir) =>
    test(s"$q: identical sorted output under shuffle {1, 8, 32} x AQE {off, on}") {
      val outputs = layouts.map { case (shuffle, aqe) =>
        val rows = Profiles.withConf(spark,
            "spark.sql.shuffle.partitions" -> shuffle.toString,
            "spark.sql.adaptive.enabled" -> aqe.toString) {
          try SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
          finally org.apache.spark.sql.GraftShims.release(spark)
        }
        (shuffle, aqe) -> rows
      }
      val (first, reference) = outputs.head
      assert(reference.nonEmpty, s"$q is empty at $dir")
      outputs.tail.foreach { case (layout, rows) =>
        if (rows != reference) fail(s"$q differs at (shuffle, aqe) = $layout " +
          s"from $first: ${rows.diff(reference).take(5)} vs " +
          s"${reference.diff(rows).take(5)}")
      }
    }
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Production parse pattern for tools/bench_ref.json ({"name": value}
    * flat map, no JSON dependency). Exposed so BenchRefSpec can push the
    * COMMITTED file through the exact pattern the guard uses — the r9
    * refresh switched serializers (compact → spaced colons) and the old
    * whitespace-intolerant pattern silently parsed zero entries.
    */
  val benchRefPattern: scala.util.matching.Regex =
    "\"(q[0-9]+[A-Za-z0-9_]*)\"\\s*:\\s*([0-9.Ee+-]+)".r

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev-only: SPARK_GRAFT_ONLY=q30_dedup_simhash,q41_percentile to
    // iterate on one query without paying for the whole suite.
    val selected = SparkEntry.select()
    val spark = Profiles.bench()
    // Warm the JVM (codegen compiler, parquet reader, shuffle paths) so
    // the first timed query isn't charged ~3s of one-time JIT cost.
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.mode("overwrite").format("noop").save()
    // Protocol (BASELINE.md): wall-clock per declared query, warm JVM —
    // each query runs once untimed (codegen compilation, parquet footer
    // cache), then the timed run. noop write materializes EVERY output
    // column; count() would let Catalyst prune the projections and
    // under-report map-only queries.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    // Median of `iters` timed runs per query (after one untimed warm run)
    // so a single host-contention hiccup can't set the round's official
    // number — round 1's driver artifact was 2.4× the reproducible total
    // because two queries caught a noisy-neighbor spike.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    // Reference medians from the previous round's full artifact
    // (tools/bench_ref.json, committed). Contention spanning a whole
    // median-of-5 window has minted 8–19× fake regressions four rounds
    // running (r2-q32, r3-q29, r4-q78/q81, r5-q51/q03): a query whose
    // median blows past its own historical value gets a SECOND pass,
    // temporally separated from the contended window, at the end of the
    // suite. The flat {"name":value} shape is parsed with a regex so the
    // bench needs no JSON dependency.
    val refPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "tools/bench_ref.json"))
    val ref: Map[String, Double] =
      if (java.nio.file.Files.isReadable(refPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(refPath),
          java.nio.charset.StandardCharsets.UTF_8)
        // ":\s*" — whitespace-tolerant: the round-9 ref refresh was
        // serialized with python-json.dump spaced colons and the strict
        // ":" regex parsed ZERO entries, silently disarming the
        // contention-retry guard for a whole round (VERDICT r9 finding
        // #1). BenchRefSpec now asserts the COMMITTED file parses
        // non-empty through this exact pattern.
        benchRefPattern.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    def benchQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      run(fn) // warm
      def timed(): Double = {
        val t0 = System.nanoTime()
        run(fn)
        (System.nanoTime() - t0) / 1e9
      }
      val first = Vector.fill(iters)(timed()).sorted
      // queries past ~1 s are the ones where a single host-contention
      // spike has repeatedly minted fake multi-× regressions in the
      // round artifacts: escalate those from median-of-3 to median-of-5
      // so one outlier sample can never be the median's tie-breaking
      // neighbor
      val times = if (iters >= 3 && first(first.size / 2) > 1.0)
        (first ++ Vector.fill(2)(timed())).sorted else first
      // free this query's checkpoint blocks, outside the timed region
      org.apache.spark.sql.GraftShims.release(spark)
      times(times.size / 2)
    }
    val firstPass = selected.toSeq.sortBy(_._1)
      .map { case (name, fn) =>
        try name -> benchQuery(name, fn)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name: $e"); name -> -1.0
        }
      }.toMap
    // Second isolated pass for contention suspects: a query is suspect
    // when its median exceeds 3× its previous-round value by more than
    // half a second (sub-second scheduling jitter is not a regression).
    // Official value = the ISOLATED second-pass median, not
    // min(first, second): the second pass is the uncontended
    // measurement by construction (temporally separated, run alone), so
    // it is the honest number whichever way it moves — a take-the-best
    // min could only ever shrink the headline, which biases the
    // comparison against a baseline that gets no retry. Both numbers
    // land in the artifact so a judge re-run can audit the call.
    // The two headline graph queries are ALWAYS isolated: they are the
    // engine's heaviest (4+ s), ride the noisiest part of the full-suite
    // window, and their round-over-round swing (q84 2.93→4.36 s in r13
    // with an untouched plan) kept re-opening perf investigations that
    // were host noise. The artifact's official number for these is the
    // temporally-separated solo median every round (VERDICT r13 item 8).
    val alwaysIsolate = Set("q84_pagerank", "q173_ppr")
    val suspects = (firstPass.collect {
      case (name, v) if v >= 0 && ref.get(name).exists(r =>
        v > 3 * r && v - r > 0.5) => name
    } ++ alwaysIsolate.filter(n => firstPass.get(n).exists(_ >= 0)))
      .toSeq.distinct.sorted
    val retried = suspects.map { name =>
      val second = try benchQuery(name, SparkEntry.queries(name))
        catch { case e: Throwable =>
          System.err.println(s"[bench] retry $name: $e"); firstPass(name) }
      System.err.println(f"[bench] retry $name: first=${firstPass(name)}%.3f" +
        f" second=$second%.3f ref=${ref.getOrElse(name, -1.0)}%.3f")
      name -> second
    }.toMap
    val results = firstPass.map { case (name, v) =>
      name -> retried.getOrElse(name, v)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed queries carry -1.0 markers; they must not DEDUCT from the
    // headline total
    val total = results.values.filter(_ >= 0).sum
    val retriedJson = retried.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":{\"first\":" + firstPass(k) + ",\"second\":" + v + "}"
    }.mkString("{", ",", "}")
    // "n" + "summary" lead the line so even a truncated read of the
    // artifact names the query count and the fixed-path summary file —
    // the driver's tail-parse has failed on sbt's [info] prefix three
    // rounds running and the artifact must be self-describing.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"summary":"target/bench_summary.json","queries":$qs,"retried":$retriedJson,"sf":"$sfDir"}"""
    println(json)
    // stdout tails truncate (the r4 driver artifact lost 36 of 100
    // queries): persist the complete per-query JSON where the driver —
    // and any later forensic diff — can read it whole
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver artifact keeps only the LAST 2000 chars of stdout+stderr
    // (measured: every BENCH_rNN.json "tail" is exactly 2000 chars), so
    // the full line above loses its head once the suite passes ~60
    // queries (BENCH_r07.json: "parsed": null). The LAST thing printed
    // is therefore a compact twin sized to survive that tail whole.
    // Through r14 the compact map used qNN keys + 2-decimal seconds and
    // a 1800-char fallback to {} — which 224 queries always exceeded, so
    // the driver was per-query blind every round (PERF_r14 per_query
    // empty, VERDICT r14 finding #1). r15 fix, per the r14 verdict's
    // prescription: bare-number keys and centisecond integer values
    // ("84":234 — full names + full-precision seconds live in the line
    // above and in target/bench_full.json / bench_summary.json),
    // "qunit":"centisec" names the unit. Budget: 2000-char window minus
    // sbt's trailing "[success] Total time..." line (~70 chars) minus
    // margin = 1900. If a slow run outgrows it, the SMALLEST-valued
    // entries are omitted first (sub-0.1 s scheduler-floor queries whose
    // per-query ratios are meaningless anyway) — the unit NEVER changes,
    // so the driver's 8c/32c scaling ratios stay comparable across runs.
    val tailBudget = 1900
    def qnum(k: String): String =
      "^q0*([0-9]+)".r.findFirstMatchIn(k).map(_.group(1)).getOrElse(k)
    val centis = results.toSeq
      .map { case (k, v) => (qnum(k), math.round(v * 100), v) }
      .sortBy { case (n, _, _) => (n.length, n) } // numeric order, no toInt risk
    val sfShort = "sf([0-9.]+)$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("\"" + sfDir + "\"")
    def compactLine(entries: Seq[(String, Long, Double)]) = {
      val m = entries.map { case (n, c, _) => s"\"$n\":$c" }
        .mkString("{", ",", "}")
      f"""{"metric":"total","value":${"%.2f".formatLocal(java.util.Locale.ROOT, total)},"unit":"sec","n":${results.size},"qunit":"centisec","queries":$m,"sf":$sfShort}"""
    }
    // Drop smallest-valued entries until the line fits the tail budget.
    val byValueAsc = centis.sortBy(_._2)
    val compact = (0 to centis.size).iterator
      .map { drop =>
        val kept = byValueAsc.drop(drop).toSet
        compactLine(centis.filter(kept))
      }
      .find(_.length <= tailBudget)
      .getOrElse(compactLine(Seq.empty))
    println(compact)
    // The r8 driver still recorded "parsed": null — the compact stdout
    // line survives the tail but behind sbt's "[info] " prefix, which
    // the driver's parser rejects. Two belt-and-braces channels:
    // (1) a FIXED well-known artifact with the full-precision total AND
    //     per-query map (target/bench_summary.json — small, complete,
    //     no sbt decoration), and
    // (2) the bare compact line on stderr, which sbt passes through
    //     unprefixed — printed AFTER spark.stop() so no shutdown logging
    //     can land between it and the end of the 2000-char tail window.
    val summary = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "target/bench_summary.json"))
    if (summary.getParent != null) java.nio.file.Files.createDirectories(summary.getParent)
    java.nio.file.Files.write(summary,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    System.err.println(compact)
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.util.Base64

import org.apache.spark.sql.functions._

/** End-to-end DSv2 connector tests against the file fake-server
  * transport: `spark.read.format("limesurvey")` with observable
  * pushdown (the canned-reply envelopes slice by the pushed paging
  * params; plan text shows the pruned schema). */
class DataSourceV2Spec extends SparkSpec {

  private def writeReplies(dir: String): Unit = {
    Files.writeString(Paths.get(dir, "get_session_key.json"),
      """{"id":1,"result":"SK-v2-spec","error":null}""")
    val exported =
      """{ "responses": [
        { "11": { "id": "11", "datestamp": "2018-01-01 10:00:00", "q01": "A4", "q03": "a@x.com", "q06": "BR11" } },
        { "12": { "id": "12", "datestamp": "2018-01-02 10:00:00", "q01": "A2", "q03": null,      "q06": "BR12" } },
        { "13": { "id": "13", "datestamp": "2018-01-03 10:00:00", "q01": "A5", "q03": "c@x.com", "q06": "BR13" } }
      ] }"""
    val b64 = Base64.getEncoder.encodeToString(exported.getBytes("UTF-8"))
    Files.writeString(Paths.get(dir, "export_responses.json"),
      s"""{"id":1,"result":"$b64","error":null}""")
    val participants = (0 until 10).map { i =>
      s"""{"tid":"$i","participant_info":{"firstname":"F$i","lastname":"L$i","email":"p$i@x.com"}}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(dir, "list_participants.json"),
      s"""{"id":2,"result":$participants,"error":null}""")
    // survey statistics, consistent with the row fixtures above: 10
    // participants, 3 full responses (values as strings — the API's
    // convention)
    Files.writeString(Paths.get(dir, "get_summary.json"),
      """{"id":3,"result":{"token_count":"10","token_completed":"6",
        |"completed_responses":"3","incomplete_responses":"0",
        |"full_responses":"3"},"error":null}""".stripMargin)
  }

  lazy val dir: String = {
    val d = Files.createTempDirectory("graft_v2").toString
    writeReplies(d)
    d
  }

  private def read(table: String) = spark.read.format("limesurvey")
    .option("transport", s"file:$dir")
    .option("table", table)
    .option("surveyId", "101")
    .option("pageSize", "4")
    .option("maxPages", "3")
    .load()

  test("responses table infers the dynamic per-survey schema") {
    val df = read("responses")
    assert(df.columns.toSeq == Seq("index", "id", "datestamp", "q01", "q03", "q06"))
    // collect, not count: count() would take the pushed get_summary
    // path and skip the row parse this test exists to exercise
    assert(df.collect().length == 3)
    val r = df.filter(col("index") === "12").head()
    assert(r.getAs[String]("q06") == "BR12")
    assert(r.getAs[String]("q03") == null) // JSON null -> SQL null
  }

  test("column pruning reaches the scan (ReadSchema) and the RPC (aFields)") {
    val df = read("responses").select("q06", "datestamp")
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse(plan)
    assert(scanLine.contains("q06") && scanLine.contains("datestamp"), scanLine)
    assert(!scanLine.contains("q01") && !scanLine.contains("q03"), scanLine)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("BR11", "BR12", "BR13"))
  }

  test("limit pushdown truncates at the source") {
    val out = read("responses").limit(2).collect()
    assert(out.length == 2)
  }

  test("participants table reads as parallel pages driven by iStart/iLimit") {
    val df = read("participants")
    assert(df.rdd.getNumPartitions == 3) // maxPages partitions
    val rows = df.collect()
    assert(rows.length == 10) // pages of 4+4+2 across partitions
    assert(rows.map(_.getAs[String]("email")).toSet ==
      (0 until 10).map(i => s"p$i@x.com").toSet)
  }

  test("last partition drains past the planned window (maxPages is a hint, not truncation)") {
    // 10 rows, pageSize 4, maxPages 2: planned window covers 8 rows; the
    // drain on the last partition pages on until the short page
    val df = spark.read.format("limesurvey")
      .option("transport", s"file:$dir").option("table", "participants")
      .option("surveyId", "101").option("pageSize", "4").option("maxPages", "2")
      .load()
    assert(df.rdd.getNumPartitions == 2)
    // collect, not count: count() would take the pushed get_summary
    // path and never exercise the drain
    assert(df.collect().length == 10) // 4 + (4 then drain 2)
    // a pushed filter sees the same complete row set (pushdown can never
    // change visible results vs residual filtering)
    val pushed = df.filter(col("email") === "p9@x.com").collect()
    assert(pushed.map(_.getAs[String]("tid")).toSeq == Seq("9"))
  }

  test("equality filter pushes to the participants RPC (aConditions) and drops from the plan") {
    val df = read("participants").filter(col("email") === "p3@x.com")
    val rows = df.collect()
    // the fake server filters result arrays by aConditions BEFORE paging,
    // so a correct single row proves server-side filtering end-to-end
    assert(rows.map(_.getAs[String]("tid")).toSeq == Seq("3"))
    // the condition reached the wire...
    val body = graft.sources.Transports.FileServerTransport.lastBody.get()
    assert(body.contains(""""aConditions""""), body)
    assert(body.contains(""""email":"p3@x.com""""), body)
    // ...and Spark dropped the post-scan Filter operator (fully pushed;
    // "RuntimeFilters: []" in the scan line is not a Filter node)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains(") Filter "), plan.take(600))
  }

  test("range filter pushes to the RPC (aConditions gt:) and drops from the plan") {
    val df = read("participants").filter(col("tid") > "5")
    assert(df.collect().map(_.getAs[String]("tid")).sorted.toSeq ==
      Seq("6", "7", "8", "9"))
    // the encoded range condition reached the wire...
    val body = graft.sources.Transports.FileServerTransport.lastBody.get()
    assert(body.contains(""""tid":"gt:5""""), body)
    // ...and both the range AND its paired IsNotNull are fully pushed —
    // no post-scan Filter survives
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains(") Filter "), plan.take(600))
  }

  test("IN-list filter pushes to the RPC (aConditions in:) and drops from the plan") {
    val df = read("participants")
      .filter(col("email").isin("p2@x.com", "p7@x.com"))
    assert(df.collect().map(_.getAs[String]("tid")).sorted.toSeq ==
      Seq("2", "7"))
    val body = graft.sources.Transports.FileServerTransport.lastBody.get()
    assert(body.contains("in:p2@x.com"), body)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains(") Filter "), plan.take(600))
  }

  test("two bounds on one attribute: one pushes, the second stays residual") {
    // aConditions is a flat attr -> condition map: the second bound on
    // the same column cannot ship, so it must survive as a Spark filter
    // — and the visible result must be identical to all-residual
    val df = read("participants").filter(col("tid") >= "3" && col("tid") < "7")
    assert(df.collect().map(_.getAs[String]("tid")).sorted.toSeq ==
      Seq("3", "4", "5", "6"))
    val body = graft.sources.Transports.FileServerTransport.lastBody.get()
    assert(body.contains(""""tid":"ge:3"""") || body.contains(""""tid":"lt:7""""),
      body)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(") Filter "), plan.take(600))
  }

  test("COUNT(*) pushes to get_summary: one number, zero row transfer") {
    import graft.sources.Transports.FileServerTransport
    // participants: the count comes from the token_count statistic and
    // NO list_participants RPC ever fires — the reference's own
    // server-delegated count (limesurvey.py get_summary), §2.7's last
    // unmapped hook
    FileServerTransport.posts.clear()
    assert(read("participants").count() == 10L)
    def bodies = FileServerTransport.posts.toArray.toSeq
      .map(_.asInstanceOf[(Long, String)]._2)
    assert(bodies.exists(_.contains("get_summary")), bodies.mkString(";"))
    assert(!bodies.exists(_.contains("list_participants")), bodies.mkString(";"))
    // responses: full_responses, no export fetch beyond the planning-
    // time schema inference
    assert(read("responses").count() == 3L)
    assert(bodies.count(_.contains("get_summary")) >= 2, bodies.mkString(";"))
    // a filtered count must NOT push the aggregate: get_summary counts
    // the whole survey, so the rows scan (with the pushed condition)
    // and Spark counts them
    FileServerTransport.posts.clear()
    assert(read("participants").filter(col("tid") > "5").count() == 4L)
    assert(bodies.exists(_.contains("list_participants")), bodies.mkString(";"))
    assert(!bodies.exists(_.contains("get_summary")), bodies.mkString(";"))
  }

  test("non-ASCII range bound stays residual (UTF-16 vs UTF-8 order divergence)") {
    // server-side range compare uses Java String (UTF-16) order; the
    // dropped Spark filter used UTF8String (byte) order — only pure-ASCII
    // bounds make the two provably agree, so anything else must NOT push
    val df = read("participants").filter(col("email") > "pé") // é
    df.collect()
    val body = graft.sources.Transports.FileServerTransport.lastBody.get()
    assert(!body.contains("gt:"), body)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(") Filter "), plan.take(600)) // residual re-check
  }

  test("non-equality filters stay residual and still evaluate correctly") {
    val df = read("participants").filter(col("email") =!= "p3@x.com")
    assert(df.collect().length == 9)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(") Filter "), plan.take(600)) // residual, not pushed
  }

  test("DSv2 write: one paced add_response per row on a single politeness lane") {
    import graft.sources.Transports.FileServerTransport
    Files.writeString(Paths.get(dir, "add_response.json"),
      """{"id":9,"result":"14","error":null}""")
    import spark.implicits._
    val df = Seq(("14", "A1", "x@x.com"), ("15", "A2", null),
      ("16", "A3", "z@x.com"), ("17", "A4", "w@x.com"))
      .toDF("id", "q01", "q03")
      // non-string columns must cross as their EXTERNAL rendering
      // (timestamp string), never as internal micros
      .withColumn("ts", to_timestamp(lit("2018-01-02 10:30:00")))
      .repartition(3) // writer must collapse this to ONE lane when throttled
    FileServerTransport.posts.clear()
    val t0 = System.nanoTime()
    df.write.format("limesurvey")
      .option("transport", s"file:$dir").option("table", "responses")
      .option("surveyId", "101").option("maxRowsPerSecond", "10")
      .mode("append").save()
    val posts = FileServerTransport.posts.toArray(Array.empty[(Long, String)])
      .filter(_._2.contains(""""method":"add_response"""")).sortBy(_._1)
    assert(posts.length == 4, posts.map(_._2).mkString("\n"))
    // pacing: 10 rows/s => >= 100 ms between consecutive inserts; the
    // single-partition requirement is what makes this a GLOBAL bound
    // (parallel writers would interleave well under the interval).
    // Timestamps are taken inside post(), AFTER the per-row serialize:
    // the FIRST row absorbs Jackson's one-time init (~90 ms observed),
    // landing its post late against its pace point and squeezing the
    // first observed gap — so the first gap is excluded, and the rest
    // get 20% slack for residual jitter. The floor distinguishes
    // "paced" from "unpaced" (~0 ms), not exact scheduling.
    val gaps = posts.map(_._1).sliding(2).map(p => p(1) - p(0)).toSeq
    assert(gaps.tail.forall(_ >= 80000000L), gaps.map(_ / 1e6).toSeq)
    assert(posts.last._1 - t0 >= 280000000L) // 4 rows @10/s: >= ~300 ms span
    // the envelope carries the reference's insert shape: survey id,
    // aResponseData, id blanked, NULL rendered empty
    val bodies = posts.map(_._2)
    assert(bodies.forall(_.contains(""""iSurveyID":101""")), bodies.head)
    val row15 = bodies.find(_.contains(""""q01":"A2"""")).get
    assert(row15.contains(""""id":""""), row15) // blanked, not "15"
    assert(row15.contains(""""q03":""""), row15) // NULL -> empty
    assert(row15.contains("2018-01-02 10:30:00"), row15) // formatted, not micros
  }

  test("DSv2 write without a throttle stays parallel (no single-lane requirement)") {
    import graft.sources.Transports.FileServerTransport
    Files.writeString(Paths.get(dir, "add_response.json"),
      """{"id":9,"result":"ok","error":null}""")
    import spark.implicits._
    FileServerTransport.posts.clear()
    (1 to 8).map(i => (s"$i", s"A$i")).toDF("id", "q01").repartition(4)
      .write.format("limesurvey")
      .option("transport", s"file:$dir").option("table", "responses")
      .option("surveyId", "101").option("maxRowsPerSecond", "0")
      .mode("append").save()
    val posts = FileServerTransport.posts.toArray(Array.empty[(Long, String)])
      .filter(_._2.contains(""""method":"add_response""""))
    assert(posts.length == 8)
  }

  test("the whole survey pipeline runs off the DSv2 source") {
    // connector rows -> the same transform chain the spool path uses
    val df = read("responses")
    val flat = df.select(lit(0L).as("_ingest_pos"), col("index"),
      map(df.columns.toSeq.filterNot(_ == "index")
        .flatMap(c => Seq(lit(c), col(c))): _*).as("rec"))
    val wide = flat.select(col("_ingest_pos"), col("index"),
      col("rec")("id").as("id"), col("rec")("datestamp").as("datestamp"),
      col("rec")("q01").as("q01"), col("rec")("q03").as("q03"),
      col("rec")("q06").as("q06"))
    val out = graft.operators.Relational.keepLast(Seq("q06"),
      Seq(col("datestamp").desc, col("_ingest_pos").desc))(
      wide.na.drop("any", Seq("id", "datestamp", "q01", "q03", "q06")))
    assert(out.count() == 2) // null-email row 12 dropped, others kept
  }

  private def postedBodies(): Seq[String] =
    graft.sources.Transports.FileServerTransport.posts
      .toArray(Array.empty[(Long, String)]).sortBy(_._1).map(_._2).toSeq

  private def calls(bodies: Seq[String], method: String): Seq[String] =
    bodies.filter(_.contains(s""""method":"$method""""))

  test("a paged read logs in once on the driver and sends that key with every page") {
    import graft.sources.Transports.FileServerTransport
    FileServerTransport.posts.clear()
    val rows = spark.read.format("limesurvey")
      .option("transport", s"file:$dir").option("table", "participants")
      .option("surveyId", "101").option("pageSize", "4").option("maxPages", "3")
      .option("user", "etl").option("password", "s3cret")
      .load().collect()
    assert(rows.length == 10)
    val bodies = postedBodies()
    val logins = calls(bodies, "get_session_key")
    assert(logins.length == 1, bodies.mkString("\n"))
    assert(logins.head.contains(""""username":"etl"""") &&
      logins.head.contains(""""password":"s3cret""""), logins.head)
    val pages = calls(bodies, "list_participants")
    assert(pages.length == 3, bodies.mkString("\n"))
    assert(pages.forall(_.contains(""""sSessionKey":"SK-v2-spec"""")), pages)
    assert(!bodies.exists(_.contains(""""sSessionKey":"v2"""")), bodies)
  }

  test("a throttled write logs in once and sends one add_response per row") {
    import graft.sources.Transports.FileServerTransport
    Files.writeString(Paths.get(dir, "add_response.json"),
      """{"id":9,"result":"14","error":null}""")
    import spark.implicits._
    FileServerTransport.posts.clear()
    Seq(("21", "A1"), ("22", "A2"), ("23", "A3"), ("24", "A4"))
      .toDF("id", "q01").repartition(2)
      .write.format("limesurvey")
      .option("transport", s"file:$dir").option("table", "responses")
      .option("surveyId", "101").option("maxRowsPerSecond", "50")
      .option("user", "etl").option("password", "s3cret")
      .mode("append").save()
    val bodies = postedBodies()
    assert(calls(bodies, "get_session_key").length == 1, bodies.mkString("\n"))
    val inserts = calls(bodies, "add_response")
    assert(inserts.length == 4, bodies.mkString("\n"))
    assert(inserts.forall(_.contains(""""sSessionKey":"SK-v2-spec"""")), inserts)
  }

  test("an object-valued result fails the read with the server's status, never an empty table") {
    val bad = Files.createTempDirectory("graft_v2_err").toString
    writeReplies(bad)
    val refused = """{"id":1,"result":{"status":"Invalid session key"},"error":null}"""
    Files.writeString(Paths.get(bad, "export_responses.json"), refused)
    Files.writeString(Paths.get(bad, "list_participants.json"), refused)
    def failure(table: String): String = {
      val e = intercept[Exception](spark.read.format("limesurvey")
        .option("transport", s"file:$bad").option("table", table)
        .option("surveyId", "101").option("pageSize", "4")
        .option("maxPages", "3").load().collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    }
    Seq("responses", "participants").foreach { table =>
      val chain = failure(table)
      assert(chain.contains("RpcError") && chain.contains("Invalid session key"),
        s"$table: $chain")
    }
  }

  test("an empty page is the API's no-rows status and reads as no rows") {
    import graft.sources.Transports.FileServerTransport
    def participants(pageSize: Int, maxPages: Int) = spark.read.format("limesurvey")
      .option("transport", s"file:$dir").option("table", "participants")
      .option("surveyId", "101").option("pageSize", pageSize.toString)
      .option("maxPages", maxPages.toString).load()
    // planned pages past the data: pages 10 and 15 of 10 rows are empty
    assert(participants(5, 4).collect().length == 10)
    // the drain partition's last page is full, so it asks for one more
    FileServerTransport.posts.clear()
    assert(participants(5, 2).collect().length == 10)
    assert(calls(postedBodies(), "list_participants").length == 3, postedBodies())
    // a pushed condition that matches nothing
    assert(participants(4, 3).filter(col("email") === "nobody@x.com").count() == 0)
    assert(FileServerTransport.lastBody.get().contains("nobody@x.com"))
  }

  test("an empty survey's export reads as an empty responses table") {
    val empty = Files.createTempDirectory("graft_v2_empty").toString
    writeReplies(empty)
    Files.writeString(Paths.get(empty, "export_responses.json"),
      """{"id":1,"result":{"status":"No Data, could not get max id."},"error":null}""")
    val df = spark.read.format("limesurvey")
      .option("transport", s"file:$empty").option("table", "responses")
      .option("surveyId", "101").load()
    assert(df.columns.toSeq == Seq("index"))
    assert(df.collect().isEmpty)
  }

  test("a refused insert fails the write with the server's status") {
    val refusing = Files.createTempDirectory("graft_v2_refuse").toString
    writeReplies(refusing)
    Files.writeString(Paths.get(refusing, "add_response.json"),
      """{"id":9,"result":{"status":"Unable to add response"},"error":null}""")
    import spark.implicits._
    val e = intercept[Exception](Seq(("31", "A1")).toDF("id", "q01")
      .write.format("limesurvey")
      .option("transport", s"file:$refusing").option("table", "responses")
      .option("surveyId", "101").option("maxRowsPerSecond", "0")
      .mode("append").save())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
    assert(chain.contains("RpcError") && chain.contains("Unable to add response"), chain)
  }
}

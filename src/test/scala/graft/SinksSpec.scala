package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import graft.sinks.Sinks

/** A local-disk FileSystem that answers for the `graftfs:` scheme —
  * registered purely through Hadoop config (`fs.graftfs.impl`), the
  * identical seam an `s3a://` deployment uses (`fs.s3a.impl`). Must be
  * top-level: Hadoop instantiates it reflectively by class name. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

object ThrottleProbe {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
  def snapshot(): Seq[Map[String, String]] = {
    val b = Seq.newBuilder[Map[String, String]]
    seen.forEach(a => b += a)
    b.result()
  }
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("csvDatedKey writes header CSV under the dated object key (O21/O22)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq(("1", "a@x.com", ""), ("2", null, "A5"))
      .toDF("id_answer", "email", "grade")
    val path = Sinks.csvDatedKey(df.coalesce(1), dir, "orders_survey", "20260101")
    assert(path.endsWith("/limesurvey/orders_survey_20260101.csv"))
    val lines = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(lines.head == "id_answer,email,grade")
    // nulls and empty strings both serialize as empty (pandas parity)
    assert(lines.toSet.contains("1,a@x.com,"))
    assert(lines.toSet.contains("2,,A5"))
  }

  test("sink URI plumbing is scheme-aware, not file:/-hardcoded " +
      "(the s3a config seam)") {
    // mount a NON-file scheme onto the local filesystem — the same
    // config-only seam an s3a:// deployment uses (fs.s3a.impl=
    // S3AFileSystem): if any sink resolved paths through java.io.File
    // or a hardcoded file:/ FileSystem instead of
    // Path.getFileSystem(conf), this scheme would not resolve
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFs].getName)
    val local = Files.createTempDirectory("graft_scheme").toString
    val base = s"graftfs:$local"
    val df = Seq(("1", "a@x.com"), ("2", "b@y.org")).toDF("id", "email")
    // csvDatedKey through the foreign scheme
    val path = Sinks.csvDatedKey(df.coalesce(1), base, "t", "20260101")
    assert(path.startsWith("graftfs:"), path)
    val back = spark.read.option("header", true).csv(path)
      .as[(String, String)].collect().toSet
    assert(back == Set(("1", "a@x.com"), ("2", "b@y.org")), back)
    // replaceWhere (staging-swap rename path) through the foreign scheme
    val batch = Seq(("1", "2018-02-01"), ("2", "2018-03-01"))
      .toDF("id", "date_sent")
    Sinks.replaceWhere(batch, base, "t2", "date_sent", "2018-01-01")
    Sinks.replaceWhere(batch, base, "t2", "date_sent", "2018-01-01")
    val rows = spark.read.parquet(s"$base/t2")
      .as[(String, String)].collect().toSet
    assert(rows == Set(("1", "2018-02-01"), ("2", "2018-03-01")), rows)
    // and the bytes really landed under the local mount — the scheme
    // was honored end-to-end, not silently rewritten
    assert(Files.exists(java.nio.file.Paths.get(local, "t2")))
    assert(Files.exists(java.nio.file.Paths.get(local,
      "limesurvey", "t_20260101.csv")))
  }

  test("jdbcReplaceWhere: ranged reload against a REAL SQL engine " +
      "(embedded Derby) is idempotent, DDL-on-write, NULL-date-keeping") {
    val dbDir = Files.createTempDirectory("graft_derby").resolve("wh")
    val url = s"jdbc:derby:$dbDir;create=true"
    val batch = Seq(("1", "2018-02-01"), ("2", "2018-03-01"))
      .toDF("id", "date_sent")
    // first load CREATEs the table (reference DDL: varchar(256) strings)
    Sinks.jdbcReplaceWhere(batch, url, "survey_t", "date_sent",
      "2018-01-01")
    def readBack() = spark.read.jdbc(url, "survey_t",
        new java.util.Properties)
      .as[(String, String)].collect().toSet
    assert(readBack() == Set(("1", "2018-02-01"), ("2", "2018-03-01")))
    // a pre-cutoff row and a NULL-dated row must both survive reloads
    val keeper = Seq(("0", "2017-06-01"), ("9", null))
      .toDF("id", "date_sent").as[(String, String)]
    Sinks.jdbcReplaceWhere(keeper.toDF(), url, "survey_t", "date_sent",
      "2019-01-01") // range matches nothing existing; appends keepers
    // re-running the ORIGINAL ranged load must not duplicate its rows
    Sinks.jdbcReplaceWhere(batch, url, "survey_t", "date_sent",
      "2018-01-01")
    Sinks.jdbcReplaceWhere(batch, url, "survey_t", "date_sent",
      "2018-01-01")
    val rows = spark.read.jdbc(url, "survey_t", new java.util.Properties)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(
      ("0", Some("2017-06-01")), ("9", None),
      ("1", Some("2018-02-01")), ("2", Some("2018-03-01"))), rows)
  }

  test("replaceWhere reload is idempotent (O23/O24/O25)") {
    val dir = Files.createTempDirectory("graft_wh").toString
    val old = Seq(("2017-06-01", "keep"), ("2018-03-01", "stale"))
      .toDF("date_sent", "v")
    old.write.parquet(s"$dir/t")
    val batch = Seq(("2018-03-01", "fresh"), ("2018-04-01", "fresh2"))
      .toDF("date_sent", "v")
    Sinks.replaceWhere(batch, dir, "t", "date_sent", "2018-01-01")
    val after1 = spark.read.parquet(s"$dir/t")
      .as[(String, String)].collect().toSet
    assert(after1 == Set(("2017-06-01", "keep"), ("2018-03-01", "fresh"),
      ("2018-04-01", "fresh2"))) // stale post-cutoff row replaced
    // re-run the same load: contents unchanged, no duplicates
    Sinks.replaceWhere(batch, dir, "t", "date_sent", "2018-01-01")
    val after2 = spark.read.parquet(s"$dir/t")
      .as[(String, String)].collect().toSet
    assert(after2 == after1)
  }

  test("replaceWhere keeps NULL-dated rows across reloads (DELETE-WHERE parity)") {
    val dir = Files.createTempDirectory("graft_wh_null").toString
    val old = Seq((null.asInstanceOf[String], "undated"), ("2017-06-01", "keep"))
      .toDF("date_sent", "v")
    old.write.parquet(s"$dir/t")
    val batch = Seq(("2018-03-01", "fresh")).toDF("date_sent", "v")
    Sinks.replaceWhere(batch, dir, "t", "date_sent", "2018-01-01")
    val after = spark.read.parquet(s"$dir/t")
      .as[(Option[String], String)].collect().toSet
    // the modeled DELETE WHERE date >= cutoff never deletes a NULL date
    assert(after == Set((None, "undated"), (Some("2017-06-01"), "keep"),
      (Some("2018-03-01"), "fresh")))
  }

  test("replaceWhere creates the table when absent (O24 DDL-on-write)") {
    val dir = Files.createTempDirectory("graft_wh2").toString
    val batch = Seq(("2018-02-01", "x")).toDF("date_sent", "v")
    Sinks.replaceWhere(batch, dir, "fresh_table", "date_sent", "2018-01-01")
    assert(spark.read.parquet(s"$dir/fresh_table").count() == 1)
  }

  test("replaceWhereVersioned pins a concurrent reader to its resolved " +
      "snapshot across a reload (snapshot isolation)") {
    val dir = Files.createTempDirectory("graft_wh_v").toString
    val v1 = Sinks.replaceWhereVersioned(
      Seq(("2017-06-01", "keep"), ("2018-03-01", "stale"))
        .toDF("date_sent", "v"),
      dir, "t", "date_sent", "2017-01-01")
    assert(v1 == 1L)
    // reader resolves NOW — pinned to v1's immutable directory
    val pinned = Sinks.readVersioned(spark, dir, "t")
    val batch = Seq(("2018-03-01", "fresh"), ("2018-04-01", "fresh2"))
      .toDF("date_sent", "v")
    val v2 = Sinks.replaceWhereVersioned(batch, dir, "t", "date_sent",
      "2018-01-01")
    assert(v2 == 2L)
    // mid-reload reader: still sees EXACTLY the v1 contents it resolved,
    // untouched by the reload that committed after it
    assert(pinned.as[(String, String)].collect().toSet ==
      Set(("2017-06-01", "keep"), ("2018-03-01", "stale")))
    // a fresh resolution sees the reloaded table (replaceWhere semantics)
    assert(Sinks.readVersioned(spark, dir, "t")
      .as[(String, String)].collect().toSet ==
      Set(("2017-06-01", "keep"), ("2018-03-01", "fresh"),
        ("2018-04-01", "fresh2")))
    // idempotency: same ranged batch again -> identical contents, new version
    assert(Sinks.replaceWhereVersioned(batch, dir, "t", "date_sent",
      "2018-01-01") == 3L)
    assert(Sinks.readVersioned(spark, dir, "t")
      .as[(String, String)].collect().toSet ==
      Set(("2017-06-01", "keep"), ("2018-03-01", "fresh"),
        ("2018-04-01", "fresh2")))
  }

  test("replaceWhereVersioned skips crashed-writer leftovers; vacuum " +
      "retires history and junk") {
    val dir = Files.createTempDirectory("graft_wh_vc").toString
    Sinks.replaceWhereVersioned(Seq(("2018-02-01", "a")).toDF("date_sent", "v"),
      dir, "t", "date_sent", "2018-01-01")
    // simulate a writer that crashed mid-write: a version directory with
    // data files but NO _SUCCESS marker must be invisible to readers and
    // must not be re-targeted by the next writer
    val junk = new java.io.File(s"$dir/t/_v/v00000002")
    assert(junk.mkdirs())
    java.nio.file.Files.writeString(junk.toPath.resolve("part-junk.parquet"),
      "not parquet")
    assert(Sinks.readVersioned(spark, dir, "t")
      .as[(String, String)].collect().toSet == Set(("2018-02-01", "a")))
    // next reload allocates PAST the stranded v2
    val v3 = Sinks.replaceWhereVersioned(
      Seq(("2018-03-01", "b")).toDF("date_sent", "v"),
      dir, "t", "date_sent", "2018-03-01")
    assert(v3 == 3L)
    assert(Sinks.readVersioned(spark, dir, "t")
      .as[(String, String)].collect().toSet ==
      Set(("2018-02-01", "a"), ("2018-03-01", "b")))
    // vacuum(keep=1): v1 (old committed) and v2 (junk below latest) go,
    // v3 stays readable
    Sinks.vacuumVersions(spark, dir, "t", keep = 1)
    val left = new java.io.File(s"$dir/t/_v").list().sorted.toSeq
    assert(left == Seq("v00000003"), left)
    assert(Sinks.readVersioned(spark, dir, "t").count() == 2)
  }

  /** The data files of a Spark output directory. */
  private def parts(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).toSeq

  test("replaceWhere onto an existing table runs one job: the stored " +
      "schema comes from a footer, not an inference job") {
    val dir = Files.createTempDirectory("graft_wh_jobs").toString
    val batch = Seq(("2018-03-01", "fresh")).toDF("date_sent", "v")
    Sinks.replaceWhere(Seq(("2017-06-01", "keep")).toDF("date_sent", "v"),
      dir, "t", "date_sent", "2017-01-01")
    assert(QueryTrace.of(spark)(Sinks.replaceWhere(batch, dir, "t", "date_sent",
      "2018-01-01"))._2.jobs.size == 1)
    assert(spark.read.parquet(s"$dir/t").as[(String, String)].collect().toSet ==
      Set(("2017-06-01", "keep"), ("2018-03-01", "fresh")))
    // the footer reader yields the schema inference would
    Sinks.replaceWhereVersioned(batch, dir, "tv", "date_sent", "2018-01-01")
    assert(Sinks.readVersioned(spark, dir, "tv").schema ==
      spark.read.parquet(s"$dir/tv/_v/v00000001").schema)
  }

  test("sinks write as many files as the batch's bytes need, never more " +
      "than its partitions") {
    val batch = (1 to 16).map(i => (f"2018-03-$i%02d", s"v$i"))
      .toDF("date_sent", "v").repartition(8)
    val dir = Files.createTempDirectory("graft_sized").toString
    val csv = Sinks.csvDatedKey(batch, dir, "t", "20260101")
    Sinks.replaceWhere(batch, dir, "t", "date_sent", "2018-01-01")
    Sinks.replaceWhere(batch, dir, "t", "date_sent", "2018-01-01")
    assert(parts(csv).size == 1, parts(csv))
    assert(parts(s"$dir/t").size == 1, parts(s"$dir/t"))
    // a tiny split target keeps the width the bytes ask for, capped at
    // the batch's 8 partitions
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = bytes / 3 + 1
    val want = ((bytes + target - 1) / target).min(8).toInt
    assert(want > 1)
    Profiles.withConf(spark, "spark.sql.files.maxPartitionBytes" -> target.toString) {
      val tiny = Files.createTempDirectory("graft_sized_tiny").toString
      val csv = Sinks.csvDatedKey(batch, tiny, "t", "20260101")
      Sinks.replaceWhere(batch, tiny, "t", "date_sent", "2018-01-01")
      assert(parts(csv).size == want, parts(csv))
      assert(parts(s"$tiny/t").size == want, parts(s"$tiny/t"))
    }
  }

  test("replaceWhere reloads a table whose footer has no Spark schema") {
    val dir = Files.createTempDirectory("graft_wh_foreign").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { optional binary date_sent (STRING); optional binary v (STRING); }")
    val file = new Path(s"$dir/t/part-00000.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq("2017-06-01" -> "keep", "2018-03-01" -> "stale").foreach {
      case (d, v) => writer.write(groups.newGroup().append("date_sent", d).append("v", v))
    } finally writer.close()
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try assert(!footer.getFileMetaData.getKeyValueMetaData.asScala.keys
      .exists(_.startsWith("org.apache.spark")))
    finally footer.close()
    Sinks.replaceWhere(Seq(("2018-03-01", "fresh")).toDF("date_sent", "v"),
      dir, "t", "date_sent", "2018-01-01")
    assert(spark.read.parquet(s"$dir/t").as[(String, String)].collect().toSet ==
      Set(("2017-06-01", "keep"), ("2018-03-01", "fresh")))
  }

  test("replaceWhere reloads a partitionBy table and keeps its partition column") {
    val dir = Files.createTempDirectory("graft_wh_part").toString
    Seq(("2017-06-01", "keep", "eu"), ("2018-03-01", "stale", "us"))
      .toDF("date_sent", "v", "region")
      .write.partitionBy("region").parquet(s"$dir/t")
    Sinks.replaceWhere(Seq(("2018-03-01", "fresh", "us")).toDF("date_sent", "v", "region"),
      dir, "t", "date_sent", "2018-01-01")
    val after = spark.read.parquet(s"$dir/t")
      .select("date_sent", "v", "region").as[(String, String, String)].collect().toSet
    assert(after == Set(("2017-06-01", "keep", "eu"), ("2018-03-01", "fresh", "us")))
  }

  test("replaceWhere fails loudly when the stored columns differ from the " +
      "batch, and leaves the table as it was") {
    val dir = Files.createTempDirectory("graft_wh_mismatch").toString
    val stored = Set(("2017-06-01", "keep"), ("2018-03-01", "stale"))
    Sinks.replaceWhere(stored.toSeq.toDF("date_sent", "v"), dir, "t",
      "date_sent", "2017-01-01")
    val e = intercept[AnalysisException](Sinks.replaceWhere(
      Seq(("2018-03-01", "fresh")).toDF("date_sent", "w"), dir, "t",
      "date_sent", "2018-01-01"))
    assert(e.getMessage.contains("\"v\""), e.getMessage)
    assert(spark.read.parquet(s"$dir/t").as[(String, String)].collect().toSet == stored)
  }

  test("Sinks.scala reads a stored table only through its one table reader") {
    val src = Files.readString(Paths.get("src/main/scala/graft/sinks/Sinks.scala"))
    val start = src.indexOf("private def readTable(")
    val end = src.indexOf("\n  }\n", start)
    val reads = "spark\\.read\\.parquet\\(".r.findAllMatchIn(src).map(_.start).toList
    assert(start >= 0 && reads.nonEmpty)
    assert(reads.forall(i => i > start && i < end),
      s"spark.read.parquet( outside readTable at offsets ${reads.filter(i => i < start || i > end)}")
  }

  test("throttledRows paces inserts and blanks id (O26)") {
    val df = Seq(("7", "a"), ("8", "b"), ("9", "c")).toDF("id", "v")
    ThrottleProbe.seen.clear()
    val t0 = System.nanoTime()
    // the callback closure is serialized to executors; ThrottleProbe is
    // resolved statically in the (shared, local-mode) executor JVM
    Sinks.throttledRows(df.coalesce(1), maxRowsPerSecond = 20)(
      m => ThrottleProbe.seen.add(m))
    val elapsed = (System.nanoTime() - t0) / 1e9
    val seen = ThrottleProbe.snapshot()
    assert(seen.size == 3)
    assert(seen.forall(_("id") == "")) // reference blanks id
    assert(seen.map(_("v")).toSet == Set("a", "b", "c"))
    assert(elapsed >= 0.1) // 3 rows at 20 rows/s ≥ ~100ms of pacing
  }
}

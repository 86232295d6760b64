package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File readers for the reference's interchange formats (SURVEY.md §2.1
  * O3/O4). Both return lazy scans with explicit schemas — inference never
  * runs in production paths (SURVEY.md §1.3).
  */
object Readers {

  /** Survey-export schema (FIXTURES.md §1): the per-response one-entry
    * map keyed by response id, all leaf values strings (the reference is
    * stringly typed end-to-end, SURVEY.md §1.2). */
  val surveyExportSchema: StructType = StructType(Seq(
    StructField("responses",
      ArrayType(MapType(StringType, MapType(StringType, StringType))))))

  /** O3 — multiline-JSON spool-file scan
    * (/root/reference/lime_survey_orders_shipped.py:44-48: the reference
    * dumps the API reply to `lime_export_<sid>.txt` as a restart point and
    * re-reads it; the spool write is observable behavior and kept —
    * [[writeSpool]]). */
  def surveyExport(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).schema(surveyExportSchema).json(path)

  /** Same shape from an in-memory JSON string (the API-client path: one
    * driver-side document entering Spark, SURVEY.md §2.1 O1). */
  def surveyExportFromJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(json)).toDF("j")
      .select(from_json(col("j"), surveyExportSchema).as("r"))
      .select(col("r.responses").as("responses"))
  }

  /** Spool-file checkpoint write (stage 4 of the reference lifecycle,
    * SURVEY.md §3.1): the raw export lands on disk before transformation
    * so a rerun can start from the dump. */
  def writeSpool(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** O4 — TSV scan with a junk line before the header
    * (/root/reference/limesurvey.py:151-163: line 0 ignored, line 1 =
    * header codes, lines 2+ = data). The pre-header line is dropped by
    * reading as text first and filtering on a per-file line index —
    * partition-safe, no driver collect. */
  def tsvWithPreHeader(spark: SparkSession, path: String): DataFrame = {
    // monotonically_increasing_id is partition-prefixed but file order
    // matches id order for a single file's splits, so the junk line and
    // the header are the two smallest ids; only those 2 rows hit the
    // driver. Data rows stay distributed.
    // the two-smallest-id probe assumes ONE underlying file: with
    // several files packed into partitions, the other files' junk and
    // header lines would silently pass the `__i > headerId` filter as
    // data rows, and the detected header could come from the wrong file
    val raw = spark.read.text(path)
    // count files from the filesystem listing — constant cost, where a
    // distinct() over input_file_name() was an eager full scan of the
    // text just to validate the invariant. "File" here matches what the
    // scan would actually draw rows from: non-hidden, non-metadata,
    // NON-EMPTY regular files (a zero-byte leftover yields no rows and
    // must not fail a previously-valid single-file input).
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(hPath)).getOrElse(Array.empty)
    val nFiles = matched.iterator.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).iterator.filter(_.isFile)
      else Iterator(s)
    }.count { s =>
      val n = s.getPath.getName
      s.getLen > 0 &&
        !n.startsWith("_") && !n.startsWith(".") // metadata/hidden, as Spark skips
    }
    require(nFiles == 1,
      s"tsvWithPreHeader expects exactly one non-empty file at $path, found $nFiles")
    val lines = raw
      .select(monotonically_increasing_id().as("__i"), col("value"))
    val firstTwo = lines.orderBy("__i").limit(2).collect()
    require(firstTwo.length == 2, s"TSV at $path has no header line")
    val headerId = firstTwo(1).getLong(0)
    val header = firstTwo(1).getString(1).split("\t", -1).toSeq
    val parts = split(col("value"), "\t", -1)
    lines.filter(col("__i") > headerId)
      .select(header.zipWithIndex.map { case (h, i) =>
        // get() nulls out-of-range instead of throwing under ANSI mode,
        // so genuinely short rows pad with null rather than crash
        get(parts, lit(i)).as(h) }: _*)
  }
}

package graft.sinks

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Load-side operators (SURVEY.md §2.5–§2.6). The reference's terminal
  * stores are S3 CSV objects and a Redshift warehouse loaded by bulk COPY;
  * in this zero-egress environment the same behaviors are modeled against
  * `file:/` and a parquet warehouse directory — the sink *semantics*
  * (dated keys, idempotent predicate reload, DDL-on-write, bulk-parallel
  * load, throttled row inserts) are what is reproduced and tested.
  */
object Sinks {

  /** O21+O22 — header CSV to a dated object key
    * (/root/reference/lime_survey_orders_shipped.py:85-95:
    * `limesurvey/<table>_<yyyymmdd>.csv`). `dateKey` is injected for
    * reproducibility (the reference stamps wall-clock `DATE_NOW`,
    * SURVEY.md §7.4.4). Pandas-parity CSV options: header, minimal
    * quoting, empty string for null. The sink sizes its files: one part
    * per `spark.sql.files.maxPartitionBytes` of the batch's estimated
    * size (`sized`), so a nightly batch lands as one object and a
    * large one keeps its width. */
  def csvDatedKey(df: DataFrame, baseUri: String, table: String,
      dateKey: String): String = {
    val path = s"$baseUri/limesurvey/${table}_$dateKey.csv"
    sized(df).write.mode(SaveMode.Overwrite)
      .option("header", true).option("emptyValue", "")
      .csv(path)
    path
  }

  /** O23+O24+O25 — idempotent partition-range reload into a warehouse
    * table (/root/reference/lime_survey_orders_shipped.py:111-151):
    * `DELETE WHERE dateCol >= cutoff` + `CREATE TABLE IF NOT EXISTS` +
    * bulk COPY, modeled as: create-table-if-absent from the frame's
    * schema (DDL-on-write), anti-predicate retention of existing rows,
    * union with the new batch, dynamic overwrite. Re-running the same
    * load yields identical table contents (no duplicate rows) — the
    * property the reference's delete+COPY sequence exists to provide.
    *
    * At scale: the rewrite only rewrites the table, not a shuffle —
    * retention + append is a scan + union, and a partitioned layout
    * (`partitionBy` on a date column + dynamic partition overwrite)
    * reduces it to touched-partition I/O; this compact form keeps the
    * semantics explicit. */
  def replaceWhere(df: DataFrame, warehouseDir: String, table: String,
      dateCol: String, cutoff: String): Unit = {
    val spark = df.sparkSession
    val path = new org.apache.hadoop.fs.Path(s"$warehouseDir/$table")
    val staging = new org.apache.hadoop.fs.Path(s"$warehouseDir/.${table}__staging")
    val backup = new org.apache.hadoop.fs.Path(s"$warehouseDir/.${table}__old")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover from a prior crash mid-swap: if only the backup survives,
    // restore it before reading. The rename result MUST be checked: a
    // false return with the failure swallowed would leave merged = df
    // alone, and the later backup delete would destroy the only copy.
    if (!fs.exists(path) && fs.exists(backup) && !fs.rename(backup, path))
      throw new RuntimeException(
        s"crash recovery failed: could not restore $backup to $path")
    fs.delete(staging, true)
    val merged =
      if (fs.exists(path))
        readTable(spark, path)
          // NULL-dated rows are NOT in the reloaded range: the modeled
          // `DELETE WHERE dateCol >= cutoff` keeps them (NULL predicate
          // deletes nothing), so retention must keep them too
          .filter(col(dateCol) < lit(cutoff) || col(dateCol).isNull)
          .unionByName(df)
      else df
    // Self-overwrite safety without driver materialization: write the
    // merged result to a staging dir (distributed), then swap via
    // backup-rename so the previous table version survives any single
    // failure point (a crash between the renames leaves the backup for
    // the recovery branch above; data is never deleted before the new
    // version is in place).
    sized(merged).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.delete(backup, true)
    if (fs.exists(path) && !fs.rename(path, backup))
      throw new RuntimeException(s"could not move current table aside for $path")
    if (!fs.rename(staging, path)) {
      val rolledBack = !fs.exists(backup) || fs.rename(backup, path)
      throw new RuntimeException(s"staging swap failed for $path" +
        (if (rolledBack) " (previous version rolled back)"
         else s"; ROLLBACK ALSO FAILED — previous version preserved at $backup"))
    }
    fs.delete(backup, true)
  }

  /** Snapshot-isolated variant of [[replaceWhere]] (VERDICT r12 item 7)
    * — a minimal version-directory table format, the Delta/Iceberg idea
    * reduced to its two load-bearing pieces: IMMUTABLE version
    * directories and an ATOMIC commit marker.
    *
    *   `warehouseDir/table/_v/v00000042/` part-*.parquet + _SUCCESS
    *
    * A writer never touches a published version: the merged result
    * (retention below cutoff/NULL + new batch, [[replaceWhere]]
    * semantics) lands in a FRESH `v{N+1}` directory, which becomes
    * visible only when the job-commit `_SUCCESS` marker exists — a
    * single atomic file create. [[readVersioned]] resolves "latest
    * committed version" ONCE and pins the returned DataFrame to that
    * concrete directory, so a reader that resolved v41 keeps reading
    * v41's immutable files however many reloads commit afterwards, and
    * no reader can ever observe a half-swapped table (the compact
    * [[replaceWhere]]'s rename window) or a half-written version
    * (visibility IS the marker). A crash mid-write strands an
    * uncommitted directory that resolution skips and
    * [[vacuumVersions]] clears. Single-writer like the reference's
    * cron: two racing writers contend on the same next version number
    * and the loser fails on the existing directory (ErrorIfExists)
    * instead of corrupting it.
    *
    * @return the committed version number */
  def replaceWhereVersioned(df: DataFrame, warehouseDir: String,
      table: String, dateCol: String, cutoff: String): Long = {
    val spark = df.sparkSession
    val vdir = versionsDir(warehouseDir, table)
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedVersions(fs, vdir)
    // next version counts UNCOMMITTED dirs too: a crashed writer's
    // stranded v43 must not be re-targeted by the next reload (its
    // half-written files would pollute the retry's output)
    val next = (0L +: allVersionDirs(fs, vdir).map(_._1)).max + 1
    val merged = committed.lastOption match {
      case Some((_, p)) =>
        readTable(spark, p)
          .filter(col(dateCol) < lit(cutoff) || col(dateCol).isNull)
          .unionByName(df)
      case None => df
    }
    val target = new org.apache.hadoop.fs.Path(vdir, f"v$next%08d")
    sized(merged).write.mode(SaveMode.ErrorIfExists).parquet(target.toString)
    // Spark drops _SUCCESS on job commit; if a deployment disabled the
    // marker (mapreduce...marksuccessfuljobs=false) the version would
    // be invisible forever — create it explicitly then (atomic create,
    // and the write above has fully committed by this point)
    val marker = new org.apache.hadoop.fs.Path(target, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, false).close()
    next
  }

  /** Read the LATEST COMMITTED version of a [[replaceWhereVersioned]]
    * table, pinned: resolution happens here, once, and the returned
    * DataFrame reads that version's concrete directory for its whole
    * lifetime — concurrent reloads publish new directories and never
    * disturb this one (until [[vacuumVersions]] retires it). */
  def readVersioned(spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String, table: String): DataFrame = {
    val vdir = versionsDir(warehouseDir, table)
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, path) = committedVersions(fs, vdir).lastOption.getOrElse(
      throw new NoSuchElementException(
        s"no committed version of $table under $warehouseDir"))
    readTable(spark, path)
  }

  /** The footer key under which Spark's parquet writer stores the
    * table's schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The stored table at `path`, read with the schema Spark wrote into
    * the footer of one top-level data file. The footer is read here, on
    * the driver; `spark.read.parquet` would read the same footer inside a
    * one-task schema-inference job. Falls back to `spark.read.parquet`
    * when there is no top-level data file (a partitioned layout, whose
    * footer schema lacks the partition columns) or when the footer
    * carries no Spark schema (a file some other writer made). */
  private def readTable(spark: org.apache.spark.sql.SparkSession,
      path: org.apache.hadoop.fs.Path): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dataFile = path.getFileSystem(conf).listStatus(path).find { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
    val footerSchema = dataFile.flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally reader.close()
    }.map(DataType.fromJson).collect { case s: StructType => s }
    footerSchema.fold(spark.read.parquet(path.toString))(
      spark.read.schema(_).parquet(path.toString))
  }

  /** `df` narrowed to ⌈estimated bytes / `spark.sql.files.maxPartitionBytes`⌉
    * partitions — the files one reader split would hold. `coalesce` is
    * narrow (no shuffle) and never raises the partition count. Without
    * CBO the estimate grows with the plan's input bytes, so a batch read
    * from a large input keeps its width. */
  private def sized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    df.coalesce(((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt)
  }

  /** Retire history: keep the newest `keep` committed versions, drop
    * older ones plus any UNCOMMITTED directory below the latest
    * committed version (crashed-writer leftovers; an uncommitted dir
    * ABOVE it may be a writer mid-commit and is left alone). Callers
    * choose `keep` as their reader-lag horizon — a reader pinned to a
    * version older than the last `keep` reloads loses its files. */
  def vacuumVersions(spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String, table: String, keep: Int = 2): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val vdir = versionsDir(warehouseDir, table)
    val fs = vdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedVersions(fs, vdir)
    if (committed.isEmpty) return
    val latest = committed.last._1
    val keepSet = committed.takeRight(keep).map(_._1).toSet
    allVersionDirs(fs, vdir).foreach { case (v, p) =>
      val isCommitted = committed.exists(_._1 == v)
      if ((isCommitted && !keepSet.contains(v)) || (!isCommitted && v < latest))
        fs.delete(p, true)
    }
  }

  private def versionsDir(warehouseDir: String, table: String) =
    new org.apache.hadoop.fs.Path(s"$warehouseDir/$table/_v")

  private def allVersionDirs(fs: org.apache.hadoop.fs.FileSystem,
      vdir: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(vdir)) Seq.empty
    else fs.listStatus(vdir).toSeq.collect {
      // {8,}: the writer formats f"v$next%08d", which grows past 8 digits
      // at version 100,000,000 — a fixed {8} matcher would stop seeing
      // such directories and the next writer's max()+1 would collide
      case st if st.isDirectory && st.getPath.getName.matches("v\\d{8,}") =>
        (st.getPath.getName.drop(1).toLong, st.getPath)
    }.sortBy(_._1)

  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      vdir: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    allVersionDirs(fs, vdir).filter { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    }

  /** Spark's built-in DerbyDialect maps StringType → CLOB, which (a)
    * cannot sit in a ranged DELETE predicate (Derby forbids CLOB
    * comparisons) and (b) makes the writer's setNull(CLOB) fail
    * against the reference-contract varchar(256) columns. Registered
    * once through the PUBLIC dialect extension point; scoped to
    * jdbc:derby URLs, every other type falls through to the default
    * dialect. */
  private object VarcharDerbyDialect
      extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(256)",
          java.sql.Types.VARCHAR))
      case _ => None
    }
  }
  private lazy val derbyDialectRegistered: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
      VarcharDerbyDialect)

  /** O23+O24+O25 against a REAL SQL warehouse over JDBC — the
    * reference's literal Redshift sequence
    * (`lime_survey_orders_shipped.py:111-151`):
    * `DELETE WHERE dateCol >= cutoff` + `CREATE TABLE IF NOT EXISTS`
    * (every string column `varchar(256)`, the reference's type-erasing
    * DDL at :124-132) + bulk load, here the executor-parallel
    * `df.write.jdbc` append (Spark's COPY analogue — each partition
    * batches inserts over its own connection). Idempotency contract
    * (the reference's implicit one): re-running yields identical table
    * contents ONLY for batches whose `dateCol` is non-NULL and
    * >= `cutoff` — the ranged DELETE never matches NULL, so a NULL- or
    * below-cutoff-dated input row would duplicate on every re-run.
    * EXISTING NULL-dated table rows outside the batch survive reloads
    * for the same reason (that part is a feature). Control-plane
    * statements run on ONE driver connection; cutoff crosses as a
    * bind parameter.
    * Spec-driven against the embedded Derby the Spark distribution
    * bundles; a production deployment swaps the URL (Redshift,
    * Postgres, ...) — the same config-only seam as the object store. */
  def jdbcReplaceWhere(df: DataFrame, url: String, table: String,
      dateCol: String, cutoff: String,
      props: java.util.Properties = new java.util.Properties): Unit = {
    derbyDialectRegistered
    def sqlType(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case org.apache.spark.sql.types.LongType => "BIGINT"
      case org.apache.spark.sql.types.IntegerType => "INTEGER"
      case org.apache.spark.sql.types.DoubleType => "DOUBLE"
      case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
      case org.apache.spark.sql.types.TimestampType => "TIMESTAMP"
      case org.apache.spark.sql.types.DateType => "DATE"
      case _ => "VARCHAR(256)" // the reference's type-erasing default
    }
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val exists = {
        // getTables treats its name argument as a LIKE pattern: an
        // unescaped '_' is a single-char wildcard, so probing SURVEY_T
        // would match an existing SURVEYXT, skip the CREATE, and fail
        // the append (ADVICE r12). Escape the metacharacters with the
        // driver's declared escape string.
        val md = conn.getMetaData
        val esc = md.getSearchStringEscape
        val pat = table.toUpperCase(java.util.Locale.ROOT).flatMap {
          case c @ ('_' | '%') => esc + c
          case c => c.toString
        }
        val rs = md.getTables(null, null, pat, null)
        try rs.next() finally rs.close()
      }
      if (!exists) {
        val ddl = df.schema.fields
          .map(f => s""""${f.name.toUpperCase(java.util.Locale.ROOT)}" ${sqlType(f.dataType)}""")
          .mkString(s"CREATE TABLE $table (", ", ", ")")
        val st = conn.createStatement()
        try st.executeUpdate(ddl) finally st.close()
      } else {
        val ps = conn.prepareStatement(
          s"""DELETE FROM $table WHERE "${dateCol.toUpperCase(java.util.Locale.ROOT)}" >= ?""")
        try { ps.setString(1, cutoff); ps.executeUpdate() }
        finally ps.close()
      }
    } finally conn.close()
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** O26 — rate-limited row-at-a-time sink
    * (/root/reference/limesurvey.py:160-164: one `add_response` RPC per
    * TSV row with `sleep(1)`). The throttle is a client-politeness
    * constraint, reproduced as a configurable per-row minimum interval;
    * `maxRowsPerSecond <= 0` disables it. Runs via `foreachPartition` so
    * rows never transit the driver; the insert callback receives each row
    * as a column-name→value map (the reference's `dict(zip(cols, vals))`,
    * limesurvey.py:160-162), NULL as `null`, paced and
    * with `id` blanked by [[RowPacer]]. */
  def throttledRows(df: DataFrame, maxRowsPerSecond: Double)(
      insert: Map[String, String] => Unit): Unit = {
    val cols = df.columns
    // the rate cap is GLOBAL (one polite API client, like the
    // reference's single process): throttled runs route through one
    // partition, otherwise P concurrent partitions would each pace
    // independently and hit the service at P x the stated rate
    val routed = if (maxRowsPerSecond > 0) df.coalesce(1) else df
    routed.foreachPartition { it: Iterator[Row] =>
      val pacer = new RowPacer(maxRowsPerSecond)
      it.foreach { row =>
        insert(pacer(cols.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(i)) null else row.get(i).toString)
        }.toMap))
      }
    }
  }

  /** O26's per-row schedule, shared by [[throttledRows]] and the DSv2
    * write. `pacer(row)` sleeps until the row's send time (absolute, so
    * pacing never drifts with the insert's latency; `maxRowsPerSecond
    * <= 0` disables it) and returns the row with an existing `id`
    * blanked, as the reference does before each insert. */
  final class RowPacer(maxRowsPerSecond: Double) {
    private val intervalNanos =
      if (maxRowsPerSecond <= 0) 0L else (1e9 / maxRowsPerSecond).toLong
    private var next = System.nanoTime()
    def apply(row: Map[String, String]): Map[String, String] = {
      if (intervalNanos > 0) {
        val wait = next - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        next = math.max(next, System.nanoTime()) + intervalNanos
      }
      if (row.contains("id")) row.updated("id", "") else row
    }
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run; `run.py` passes every one
  * from `workloads.json`. The catalog options are empty or zero on survey
  * workloads, and the survey options zero on catalog workloads. */
final case class Opts(
    workload: String,
    kind: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    workDir: String,
    out: String,
    session: Seq[(String, String)],
    warmupPasses: Int,
    queries: Seq[String],
    roundPasses: Int,
    surveyResponses: Int,
    surveyNights: Int,
    windowDays: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val kind = need("kind")
    def catalog(k: String) = if (kind == "catalog") need(k).toInt else 0
    def survey(k: String) = if (kind == "survey") need(k).toInt else 0
    Opts(
      workload = need("workload"),
      kind = kind,
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      dataDir = need("data"),
      workDir = need("work"),
      out = need("out"),
      session = need("session").split(",").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      },
      warmupPasses = need("warmup-passes").toInt,
      queries = if (kind == "catalog") need("queries").split(",").toSeq.filter(_.nonEmpty)
        else Nil,
      roundPasses = catalog("round-passes"),
      surveyResponses = survey("survey-responses"),
      surveyNights = survey("survey-nights"),
      windowDays = survey("window-days"))
  }
}

/** The session every workload runs in: `local[<all cores>]` with the
  * run's session settings (those of `graft.Bench`, from `workloads.json`)
  * and every scratch directory kept under the run's work directory. */
object BenchSession {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def start(o: Opts): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/spark-warehouse")
    val spark = o.session.foldLeft(b)((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(from: Long, to: Long): Double = (to - from) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, secs(t0, now()))
  }
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans, options). Non-finite numbers become null. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot encode ${other.getClass}")
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, encode(v).getBytes(StandardCharsets.UTF_8))
  }
}

object FileTree {
  /** Total bytes and number of regular files under `dir` (0, 0 if absent). */
  def usage(dir: Path): (Long, Int) =
    if (!Files.exists(dir)) (0L, 0)
    else {
      val s = Files.walk(dir)
      try {
        var bytes = 0L; var files = 0
        s.filter(p => Files.isRegularFile(p)).forEach { p =>
          bytes += Files.size(p); files += 1
        }
        (bytes, files)
      } finally s.close()
    }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
}

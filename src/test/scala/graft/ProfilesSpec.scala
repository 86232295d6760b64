package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one-builder invariant: every entry point's session comes from
  * [[Profiles]], and the bench profile cannot drift from the settings
  * the repository benchmark runs under. Next to it, the one-trace
  * invariant: [[QueryTrace]] is the only listener that records jobs. */
class ProfilesSpec extends SparkSpec {

  test("Profiles.scala is the only SparkSession builder in src/main") {
    val builders = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toList
    assert(builders == List("Profiles.scala"), builders)
  }

  test("QueryTrace is the only tracing SparkListener in src/main and src/test") {
    val subclass = """(?:extends|new|with)\s+(?:[\w.]+\.)?SparkListener\b""".r
    val listeners = Seq("src/main", "src/test")
      .flatMap(root => Files.walk(Paths.get(root)).iterator.asScala.toList)
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => subclass.findAllIn(Files.readString(p)).map(_ => p.getFileName.toString))
    // the one other listener: Tables.scala's hook evicts the relation
    // cache when the application ends, and traces nothing
    assert(listeners.sorted == List("QueryTrace.scala", "Tables.scala"), listeners)
  }

  test("the bench profile is exactly the benchmark's session block") {
    // perfbench/workloads.json carries the benchmark's own copy of the
    // Bench settings; read it, never write it
    val json = Files.readString(Paths.get("perfbench/workloads.json"))
    val block = "\"session\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(json)
      .getOrElse(fail("workloads.json has no session block")).group(1)
    val session = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(block)
      .map(m => m.group(1) -> m.group(2)).toMap
    assert(session.nonEmpty)
    assert(Profiles.resolve(Profiles.benchConf(), env = Map.empty) == session)
  }

  test("SPARK_GRAFT_AQE=1 lays the cluster overlay over any profile") {
    val aqe = Map("SPARK_GRAFT_AQE" -> "1")
    Seq(Profiles.benchConf(), Profiles.benchConf(32), Profiles.verifyConf(4))
      .foreach { conf =>
        assert(Profiles.resolve(conf, env = Map.empty) == conf)
        assert(Profiles.resolve(conf, aqe) == conf ++ Profiles.cluster)
      }
  }

  test("SPARK_GRAFT_CONF folds last; turning AQE on there implies the extensions") {
    def conf(kv: String) = Profiles.resolve(Profiles.benchConf(),
      Map("SPARK_GRAFT_CONF" -> kv))
    assert(conf("spark.sql.adaptive.enabled=true;spark.sql.shuffle.partitions=3") ==
      Profiles.benchConf() ++ Profiles.cluster +
        ("spark.sql.shuffle.partitions" -> "3"))
    assert(conf("spark.sql.adaptive.enabled=true;spark.sql.extensions=x.Ext")
      .get("spark.sql.extensions").contains("x.Ext"))
    assert(Profiles.resolve(Profiles.benchConf(), Map("SPARK_GRAFT_AQE" -> "1",
      "SPARK_GRAFT_CONF" -> "spark.sql.adaptive.enabled=false"))
      .get("spark.sql.adaptive.enabled").contains("false"))
  }

  test("the shared test session runs the test profile") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    (Profiles.base + ("spark.sql.shuffle.partitions" -> "4")).foreach {
      case (k, v) => assert(sc.getConf.get(k) == v, k)
    }
    assert(sc.getConf.get("spark.sql.warehouse.dir").contains("graft_warehouse"))
  }
}

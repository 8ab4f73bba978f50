package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Each main's session conf, pinned to literal values as data (no
  * session is built), and the rule that `graft.Session` is the only
  * place the engine builds a SparkSession. */
class SessionSpec extends AnyFunSuite {
  private val unset: String => Option[String] = _ => None
  private val pinned = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
  private def local(cpus: String) = pinned ++ Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.ui.enabled" -> "false")

  test("local is Verify's and Explain's session: local threads, UI off, pinned confs") {
    assert(Session.local("4").toMap == local("4"))
    assert(Session.local("4").size == local("4").size, "no key is set twice")
  }

  test("measured is Bench's, ProfiledQuery's and StreamStateBench's session") {
    val bench = local("32") ++ Map(
      "spark.cleaner.periodicGC.interval" -> "10min",
      "spark.sql.files.maxPartitionBytes" -> "4194304")
    assert(Session.measured("32", "10min", unset).toMap == bench)
    assert(Session.measured("32", "1min", unset).toMap ==
      bench + ("spark.cleaner.periodicGC.interval" -> "1min"))
  }

  test("measured takes SPARK_GRAFT_MAX_PART_BYTES, then the SPARK_GRAFT_CONF overlay last") {
    val env = Map(
      "SPARK_GRAFT_MAX_PART_BYTES" -> "524288",
      "SPARK_GRAFT_CONF" ->
        " spark.cleaner.periodicGC.interval = 1min;;no-equals;spark.x=a=b ").get _
    assert(Session.measured("8", "10min", env).toMap == local("8") ++ Map(
      "spark.cleaner.periodicGC.interval" -> "1min",
      "spark.sql.files.maxPartitionBytes" -> "524288",
      "spark.x" -> "a=b"))
    assert(Session.overlay(None).isEmpty)
  }

  test("deployed is PipelineMain's and StreamMain's session: exactly app name, master, pinned") {
    assert(Session.deployed("graft-pipeline", unset, unset).toMap == pinned ++ Map(
      "spark.app.name" -> "graft-pipeline", "spark.master" -> "local[*]"))
    val env = Map("SPARK_GRAFT_MASTER" -> "local[2]").get _
    assert(Session.deployed("a", unset, env).toMap.apply("spark.master") == "local[2]")
    val props = Map("spark.master" -> "spark://h:7077").get _
    assert(Session.deployed("a", props, env).toMap.apply("spark.master") == "spark://h:7077")
  }

  test("graft.Session is the only place src/main builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val builders = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toList)
    assert(builders == Seq("graft/Session.scala"))
  }
}

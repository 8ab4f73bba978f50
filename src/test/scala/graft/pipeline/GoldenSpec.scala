package graft.pipeline

import graft.SparkSpec
import graft.sources.{EmulatorGenerator, JsonSource}
import org.apache.spark.sql.DataFrame

/** Golden-output tests (SURVEY §5.2 item 2): exact expected results for
  * the deterministic seed-42 / n=400 fixture corpus, frozen after a
  * DuckDB cross-computation. Any semantic drift in cleaning or task
  * logic — even drift that hits the SQL and DataFrame forms equally,
  * which the equality tests can't see — breaks these. */
class GoldenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-golden")
    EmulatorGenerator.writeTopicLayout(dir, n = 400, seed = 42L)
    dir
  }
  private lazy val pin: DataFrame = Clean.pin(JsonSource.readPin(spark, base.toString)).cache()
  private lazy val geo: DataFrame = Clean.geo(JsonSource.readGeo(spark, base.toString)).cache()
  private lazy val user: DataFrame = Clean.user(JsonSource.readUser(spark, base.toString)).cache()

  test("golden task7: top category per age group, incl. NULL band") {
    val got = PinQueries.task7Df(pin, user)
      .as[(Option[String], String, Long)].collect().toSet
    assert(got == Set(
      (None, "mens-fashion", 7L),
      (Some("18-24"), "beauty", 8L),
      (Some("25-35"), "quotes", 15L),
      (Some("36-50"), "finance", 15L),
      (Some("50+"), "education", 22L)))
  }

  test("golden task9: users joined per year") {
    val got = PinQueries.task9Df(user).as[(Int, Long)].collect().toSet
    assert(got == Set((2015, 125L), (2016, 145L), (2017, 130L)))
  }

  test("golden task8: approx-median follower count per age group") {
    val got = PinQueries.task8Df(pin, user)
      .as[(Option[String], Int)].collect().toSet
    assert(got == Set(
      (None, 437000), (Some("18-24"), 745000), (Some("25-35"), 269000),
      (Some("36-50"), 512000), (Some("50+"), 98615)))
  }

  test("golden task4/task6 shapes: cardinalities and global top user") {
    val t4 = PinQueries.task4Df(pin, geo)
    assert(t4.count() == 11)
    assert(t4.agg(org.apache.spark.sql.functions.sum("count")).head().getLong(0) == 86L)
    val t61 = PinQueries.task6Part1Df(pin, geo, user)
    assert(t61.count() == 10)
    val t62 = PinQueries.task6Part2Df(pin, geo, user).as[(String, Int)].head()
    assert(t62 == ("American Samoa", 94000000))
  }
}

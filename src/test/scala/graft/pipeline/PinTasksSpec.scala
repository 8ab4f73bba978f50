package graft.pipeline

import graft.SparkSpec
import graft.sources.{EmulatorGenerator, JsonSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end: generated fixture JSON (garbage vocabulary, duplicate
  * inds) → topic-layout scan → cleaning → Tasks 4–11; asserts the SQL
  * and DataFrame forms agree (plan-independent equality, SURVEY §5.2
  * item 3) plus structural invariants of each result. */
class PinTasksSpec extends SparkSpec {

  private lazy val base: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixtures")
    EmulatorGenerator.writeTopicLayout(dir, n = 400, seed = 42L)
    dir
  }
  private lazy val pin: DataFrame = Clean.pin(JsonSource.readPin(spark, base.toString)).cache()
  private lazy val geo: DataFrame = Clean.geo(JsonSource.readGeo(spark, base.toString)).cache()
  private lazy val user: DataFrame = Clean.user(JsonSource.readUser(spark, base.toString)).cache()

  test("fixtures land with duplicate inds (many-to-many joins exercised)") {
    val dupInds = pin.groupBy("ind").count().filter(col("count") > 1).count()
    assert(dupInds > 0, "fixture must contain duplicate inds (FIXTURES.md rule 1)")
    assert(pin.count() == 400)
  }

  test("SQL and DataFrame forms agree on every task") {
    val sqlForms = PinQueries.allSql(spark, pin, geo, user)
    val dfForms = PinQueries.allDf(pin, geo, user)
    assert(sqlForms.keySet == dfForms.keySet)
    for (name <- sqlForms.keys.toSeq.sorted)
      assertSameRows(sqlForms(name), dfForms(name), s"$name SQL vs DF")
  }

  test("task4: exactly the rank-1 categories per country, ties kept") {
    val t4 = PinQueries.task4Df(pin, geo)
    val counts = pin.join(geo, Seq("ind"))
      .groupBy("country", "category").agg(count(lit(1)).as("count"))
    val maxPerCountry = counts.groupBy("country").agg(max("count").as("count"))
    // every returned row carries its country's max count
    assertSameRows(
      t4.select("country", "count").distinct(),
      maxPerCountry,
      "task4 rank-1 rows == per-country max")
  }

  test("task5 only contains years 2018-2022") {
    val years = PinQueries.task5Df(pin, geo)
      .select("year").distinct().collect().map(_.getInt(0)).toSet
    assert(years.nonEmpty && years.forall(y => y >= 2018 && y <= 2022))
  }

  test("task6.2 picks the global max follower count") {
    val t61 = PinQueries.task6Part1Df(pin, geo, user)
    val t62 = PinQueries.task6Part2Df(pin, geo, user)
    assert(t62.count() == 1)
    val globalMax = t61.agg(max("follower_count")).head().getInt(0)
    assert(t62.head().getInt(1) == globalMax)
  }

  test("task7 age groups are the banding vocabulary") {
    val groups = PinQueries.task7Df(pin, user)
      .select("age_group").distinct().collect().map(_.getString(0)).toSet
    assert(groups.subsetOf(Set("18-24", "25-35", "36-50", "50+", null)))
  }

  test("tasks 8/10/11: windowed+DISTINCT SQL forms equal the groupBy forms") {
    PinQueries.registerViews(pin, geo, user)
    assertSameRows(spark.sql(PinQueries.task8Sql), PinQueries.task8Df(pin, user),
      "task8 window vs groupBy")
    assertSameRows(spark.sql(PinQueries.task10Sql), PinQueries.task10Df(pin, user),
      "task10 window vs groupBy")
    assertSameRows(spark.sql(PinQueries.task11Sql), PinQueries.task11Df(pin, user),
      "task11 window vs groupBy")
  }

  test("allDf plans: no Window for the medians or 6.2, no global Sort for 5/7/11") {
    import org.apache.spark.sql.catalyst.plans.logical.{Sort, Window}
    val plans = PinQueries.allDf(pin, geo, user).map { case (n, df) =>
      n -> df.queryExecution.optimizedPlan }
    for (n <- Seq("task8", "task10", "task11", "task6_2"))
      assert(plans(n).collect { case w: Window => w }.isEmpty, s"$n:\n${plans(n)}")
    for (n <- Seq("task5", "task7", "task11"))
      assert(plans(n).collect { case s: Sort if s.global => s }.isEmpty, s"$n:\n${plans(n)}")
  }

  test("tasks 5/7/11 land as one parquet file in ORDER BY order") {
    val out = java.nio.file.Files.createTempDirectory("graft-sorted").toString
    val orderBy = Map("task5" -> Seq("year", "category"), "task7" -> Seq("age_group"),
      "task11" -> Seq("post_year", "age_group"))
    val tasks = PinQueries.allDf(pin, geo, user)
    for ((n, keys) <- orderBy) {
      tasks(n).write.parquet(s"$out/$n")
      val files = new java.io.File(s"$out/$n").listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$n: ${files.length} files")
      val landed = spark.read.parquet(s"$out/$n").select(keys.map(col): _*)
      assert(landed.count() > 1, n)
      assert(landed.collect().toSeq == landed.orderBy(keys.map(col): _*).collect().toSeq, n)
    }
  }

  test("task6.2's direct top-1 equals the SQL form on tie, null and duplicate cases") {
    import spark.implicits._
    // (ind, country, follower_count) per case; user_name is the ind
    val cases = Seq(
      "two-country tie at the max, one country null" -> Seq(
        (1, Option("B"), Option(100)), (2, None, Option(100)),
        (3, Option("A"), Option(50)), (4, Option("C"), Option(100))),
      "all follower counts null" -> Seq(
        (1, Option("B"), None), (2, Option("A"), None), (3, Option("C"), None)),
      "duplicated join rows" -> Seq(
        (1, Option("B"), Option(7)), (1, Option("B"), Option(7)),
        (2, Option("A"), Option(7)), (2, Option("A"), Option(7)), (3, Option("C"), Option(5))))
    for ((name, rows) <- cases) {
      val p = rows.map { case (i, _, fc) => (i, fc) }.toDF("ind", "follower_count")
      val g = rows.map { case (i, c, _) => (i, c) }.toDF("ind", "country")
      val u = rows.map { case (i, _, _) => (i, s"user$i") }.toDF("ind", "user_name")
      PinQueries.registerViews(p, g, u)
      val sqlForm = spark.sql(PinQueries.task6Part2Sql)
      assert(sqlForm.count() == 1, name)
      assertSameRows(sqlForm, PinQueries.task6Part2Df(p, g, u), name)
    }
  }

  test("building allDf starts no Spark job") {
    import graft.sources.PipelineTable._
    val source = graft.sources.FileJsonTableSource(base.toString)
    val (tasks, jobs) = withJobs(PinQueries.allDf(
      Clean.pin(source.readBatch(spark, Pin)),
      Clean.geo(source.readBatch(spark, Geo)),
      Clean.user(source.readBatch(spark, User))))
    assert(tasks.size == 9)
    assert(jobs.isEmpty, jobs.mkString("; "))
  }

  test("task9 counts sum to the user row count") {
    val total = PinQueries.task9Df(user)
      .agg(sum("number_users_joined")).head().getLong(0)
    assert(total == user.count())
  }

  test("medians are real data values or interpolations within range") {
    val t10 = PinQueries.task10Df(pin, user)
    val lo = pin.agg(min("follower_count")).head().getInt(0)
    val hi = pin.agg(max("follower_count")).head().getInt(0)
    val meds = t10.collect().map(_.getInt(1))
    assert(meds.forall(m => m >= lo && m <= hi))
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's eight analytical questions (Tasks 4–11,
  * `BatchProcessingFinal.ipynb`), each in BOTH forms the reference
  * implies (SURVEY.md §5.2 item 3):
  *   - `xxSql`: the Spark SQL text against registered temp views
  *     (pin_table / geo_table / user_table), matching the reference's
  *     `%sql` cells' semantics and output columns;
  *   - `xxDf`: the DataFrame implementation the pipeline lands, planned
  *     for the fewest Spark stages that give the same rows.
  * Tests assert both forms produce identical results (plan-independent
  * equality).
  *
  * The SQL forms keep the reference's text, and so its plan shapes: the
  * windowed `approx_percentile` plus `DISTINCT` of Tasks 8/10/11, the
  * global `ORDER BY` of Tasks 5/7/11 and Task 6.2 over the 6.1 ranking.
  * The DataFrame forms compute the same rows more cheaply: medians are
  * one group-grain aggregate (the shape `plans.RewriteWindowedDistinctAgg`
  * produces), an `ORDER BY` over a group-grain result lands as one
  * sorted partition ([[sortedSmall]]), and Task 6.2 is a direct top-1.
  */
object PinQueries {

  def registerViews(pin: DataFrame, geo: DataFrame, user: DataFrame): Unit = {
    pin.createOrReplaceTempView("pin_table")
    geo.createOrReplaceTempView("geo_table")
    user.createOrReplaceTempView("user_table")
  }

  /** The reference's 4-bucket age banding (F4;
    * BatchProcessingFinal.ipynb:5947-5954). <18 → NULL, by design. */
  def ageGroup(age: Column): Column =
    when(age >= 18 && age <= 24, "18-24")
      .when(age >= 25 && age <= 35, "25-35")
      .when(age >= 36 && age <= 50, "36-50")
      .when(age > 50, "50+")
      .otherwise(lit(null))

  val ageGroupSql: String =
    """CASE
      |  WHEN age >= 18 AND age <= 24 THEN '18-24'
      |  WHEN age >= 25 AND age <= 35 THEN '25-35'
      |  WHEN age >= 36 AND age <= 50 THEN '36-50'
      |  WHEN age > 50 THEN '50+'
      |  ELSE NULL
      |END""".stripMargin

  /** The reference's median, `approx_percentile(follower_count, 0.5)` at
    * its default accuracy, as the aggregate column of Tasks 8/10/11.
    * Evaluated per group (partial, then final merge) it equals the
    * windowed form bit for bit while a group holds fewer than 5,000
    * non-null values: below that `QuantileSummaries` inserts with
    * `delta = 0` and compresses nothing, because 2·ε·n < 1. Above it the
    * forms may differ, each within the same 1/10,000 rank error. */
  private def medianFollowers: Column =
    percentile_approx(col("follower_count"), lit(0.5), lit(10000))
      .as("median_follower_count")

  /** Lands a group-grain result in `ORDER BY` order as one sorted
    * partition: no range-partition sampling job, and the aggregate below
    * stays parallel (unlike `coalesce(1)`). It sorts at most one row per
    * group, so use it only over an aggregate's output. Task 7 spells it
    * out, with its rank between the shuffle and the sort. */
  private def sortedSmall(df: DataFrame, order: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(order: _*)

  // ---- Task 4: most popular category per country (:3417-3445) --------

  val task4Sql: String = """
    WITH join_tables AS (
      SELECT country, category, count(*) AS count
      FROM pin_table JOIN geo_table ON geo_table.ind = pin_table.ind
      GROUP BY country, category
    ),
    get_rank AS (
      SELECT country, category, count,
             RANK() OVER (PARTITION BY country ORDER BY count DESC) cat_rank
      FROM join_tables
    )
    SELECT DISTINCT country, category, count FROM get_rank WHERE cat_rank = 1"""

  def task4Df(pin: DataFrame, geo: DataFrame): DataFrame = {
    val counts = pin.join(geo, Seq("ind"))
      .groupBy(col("country"), col("category"))
      .agg(count(lit(1)).as("count"))
    val w = Window.partitionBy(col("country")).orderBy(col("count").desc)
    counts.withColumn("cat_rank", rank().over(w))
      .filter(col("cat_rank") === 1)
      .select("country", "category", "count")
      .distinct()
  }

  // ---- Task 5: posts per category per year 2018–2022 (:4074-4090) ----

  val task5Sql: String = """
    SELECT EXTRACT(YEAR FROM timestamp) AS year, category,
           count(category) AS category_count
    FROM pin_table JOIN geo_table ON geo_table.ind = pin_table.ind
    WHERE EXTRACT(YEAR FROM timestamp) BETWEEN 2018 AND 2022
    GROUP BY year, category
    ORDER BY year, category"""

  def task5Df(pin: DataFrame, geo: DataFrame): DataFrame =
    sortedSmall(
      pin.join(geo, Seq("ind"))
        .filter(year(col("timestamp")).between(2018, 2022))
        .groupBy(year(col("timestamp")).as("year"), col("category"))
        .agg(count(col("category")).as("category_count")),
      col("year"), col("category"))

  // ---- Task 6.1: top follower_count user per country (:5497-5518) ----

  val task6Part1Sql: String = """
    WITH initial_table AS (
      SELECT country, user_name AS poster_name, follower_count,
             RANK() OVER (PARTITION BY country ORDER BY follower_count DESC) rank_order
      FROM geo_table
        JOIN user_table ON user_table.ind = geo_table.ind
        JOIN pin_table ON pin_table.ind = user_table.ind
    )
    SELECT DISTINCT country, poster_name, follower_count
    FROM initial_table WHERE rank_order = 1"""

  def task6Part1Df(pin: DataFrame, geo: DataFrame, user: DataFrame): DataFrame = {
    val joined = geo.join(user, Seq("ind")).join(pin, Seq("ind"))
      .select(col("country"), col("user_name").as("poster_name"), col("follower_count"))
    val w = Window.partitionBy(col("country")).orderBy(col("follower_count").desc)
    joined.withColumn("rank_order", rank().over(w))
      .filter(col("rank_order") === 1)
      .select("country", "poster_name", "follower_count")
      .distinct()
  }

  // ---- Task 6.2: country of the top user, LIMIT 1 (:5672-5687).
  // Order-dependent under a tie in the reference (its own comment at
  // :5687); our DataFrame twin adds a country tiebreak so strict runs
  // are deterministic — documented deviation (SURVEY §7.4). ----

  /** Task 6.2 as a direct top-1 over the join's `(country,
    * follower_count)`: the same row as ranking within each country
    * first. The global max M is rank 1 in every country that holds it,
    * so the smallest such country wins either way; `desc` puts a null
    * count last and `country` ascending puts a null country first in
    * both forms. */
  def task6Part2Df(pin: DataFrame, geo: DataFrame, user: DataFrame): DataFrame =
    geo.join(user, Seq("ind")).join(pin, Seq("ind"))
      .select(col("country"), col("follower_count"))
      .orderBy(col("follower_count").desc, col("country"))
      .limit(1)

  /** Task 6.2 SQL form — the reference's `%sql` cell at
    * BatchProcessingFinal.ipynb:5672-5687 wrapped over the 6.1 CTE, with
    * the country tiebreak appended so a follower-count tie can't make
    * the LIMIT 1 row engine-order-dependent (the reference's own result
    * is order-dependent under its latent American Samoa / Angola 8M tie
    * — SURVEY §7.4; documented deviation). */
  val task6Part2Sql: String = """
    WITH initial_table AS (
      SELECT country, user_name AS poster_name, follower_count,
             RANK() OVER (PARTITION BY country ORDER BY follower_count DESC) rank_order
      FROM geo_table
        JOIN user_table ON user_table.ind = geo_table.ind
        JOIN pin_table ON pin_table.ind = user_table.ind
    ),
    top_per_country AS (
      SELECT DISTINCT country, poster_name, follower_count
      FROM initial_table WHERE rank_order = 1
    )
    SELECT country, follower_count
    FROM top_per_country
    GROUP BY follower_count, country
    ORDER BY follower_count DESC, country
    LIMIT 1"""

  // ---- Task 7: top category per age group (:5945-5981) ---------------

  val task7Sql: String = s"""
    WITH create_age_cat AS (
      SELECT category, $ageGroupSql AS age_group
      FROM pin_table JOIN user_table ON pin_table.ind = user_table.ind
    ),
    count_cat AS (
      SELECT age_group, category, COUNT(category) AS category_count
      FROM create_age_cat GROUP BY age_group, category
    ),
    ranked_table AS (
      SELECT age_group, category, category_count,
             RANK() OVER (PARTITION BY age_group ORDER BY category_count DESC) ranked
      FROM count_cat
    )
    SELECT age_group, category, category_count
    FROM ranked_table WHERE ranked = 1
    ORDER BY age_group"""

  def task7Df(pin: DataFrame, user: DataFrame): DataFrame = {
    val counts = pin.join(user, Seq("ind"))
      .select(col("category"), ageGroup(col("age")).as("age_group"))
      .groupBy(col("age_group"), col("category"))
      .agg(count(col("category")).as("category_count"))
    val w = Window.partitionBy(col("age_group")).orderBy(col("category_count").desc)
    // the rank runs in the one partition the ORDER BY lands in: that
    // partition satisfies the window's clustering, so there is no second
    // shuffle, and the window's output is already in age_group order
    counts.repartition(1)
      .withColumn("ranked", rank().over(w))
      .filter(col("ranked") === 1)
      .select("age_group", "category", "category_count")
      .sortWithinPartitions(col("age_group"))
  }

  // ---- Task 8: median follower count per age group (:6200-6217) ------

  val task8Sql: String = s"""
    WITH follower_table AS (
      SELECT follower_count, $ageGroupSql AS age_group
      FROM pin_table JOIN user_table ON pin_table.ind = user_table.ind
    )
    SELECT DISTINCT age_group,
           approx_percentile(follower_count, 0.5) OVER (PARTITION BY age_group)
             median_follower_count
    FROM follower_table"""

  /** Task 8 as one group-grain aggregate of the same
    * `percentile_approx(follower_count, 0.5, 10000)` over the same rows
    * as [[task8Sql]]'s window, with no window sort and no `DISTINCT`.
    * See [[medianFollowers]] for when the two forms are bit-identical. */
  def task8Df(pin: DataFrame, user: DataFrame): DataFrame =
    pin.join(user, Seq("ind"))
      .groupBy(ageGroup(col("age")).as("age_group"))
      .agg(medianFollowers)

  /** Exact-median twin of Task 8 (A10 — the reference's own commented
    * `PERCENTILE_CONT` road, BatchProcessingFinal.ipynb:6214): same
    * grouping, exact `percentile` instead of approx. This is the form
    * the DuckDB oracle hash-matches (QUANTILE_CONT); PinTasksSpec
    * asserts the approx parity forms stay within tolerance of these. */
  def task8ExactDf(pin: DataFrame, user: DataFrame): DataFrame =
    pin.join(user, Seq("ind"))
      .select(col("follower_count"), ageGroup(col("age")).as("age_group"))
      .groupBy(col("age_group"))
      .agg(expr("percentile(follower_count, 0.5)").as("median_follower_count"))

  // ---- Task 9: users joined per year (:18388-18397) ------------------

  val task9Sql: String = """
    SELECT EXTRACT(YEAR FROM date_joined) AS post_year,
           COUNT(user_name) AS number_users_joined
    FROM user_table
    GROUP BY EXTRACT(YEAR FROM date_joined)"""

  def task9Df(user: DataFrame): DataFrame =
    user.groupBy(year(col("date_joined")).as("post_year"))
      .agg(count(col("user_name")).as("number_users_joined"))

  // ---- Task 10: median follower count by join year (:18618-18627) ----

  val task10Sql: String = """
    WITH year_table AS (
      SELECT EXTRACT(YEAR FROM date_joined) AS post_year, follower_count
      FROM user_table JOIN pin_table ON user_table.ind == pin_table.ind
    )
    SELECT DISTINCT post_year,
           approx_percentile(follower_count, 0.5) OVER (PARTITION BY post_year)
             median_follower_count
    FROM year_table"""

  /** Task 10 as one group-grain aggregate (see [[task8Df]]). */
  def task10Df(pin: DataFrame, user: DataFrame): DataFrame =
    user.join(pin, Seq("ind"))
      .groupBy(year(col("date_joined")).as("post_year"))
      .agg(medianFollowers)

  /** Exact-median twin of Task 10 (see [[task8ExactDf]]). */
  def task10ExactDf(pin: DataFrame, user: DataFrame): DataFrame =
    user.join(pin, Seq("ind"))
      .select(year(col("date_joined")).as("post_year"), col("follower_count"))
      .groupBy(col("post_year"))
      .agg(expr("percentile(follower_count, 0.5)").as("median_follower_count"))

  // ---- Task 11: median by join year and age group (:30798-30817) -----

  val task11Sql: String = s"""
    WITH follower_table AS (
      SELECT follower_count, EXTRACT(YEAR FROM date_joined) AS post_year,
             $ageGroupSql AS age_group
      FROM pin_table JOIN user_table ON pin_table.ind = user_table.ind
    )
    SELECT DISTINCT post_year, age_group,
           approx_percentile(follower_count, 0.5)
             OVER (PARTITION BY age_group, post_year) median_follower_count
    FROM follower_table
    ORDER BY post_year, age_group"""

  /** Task 11 as one group-grain aggregate (see [[task8Df]]), landed in
    * `ORDER BY` order by [[sortedSmall]]. */
  def task11Df(pin: DataFrame, user: DataFrame): DataFrame =
    sortedSmall(
      pin.join(user, Seq("ind"))
        .groupBy(
          year(col("date_joined")).as("post_year"),
          ageGroup(col("age")).as("age_group"))
        .agg(medianFollowers),
      col("post_year"), col("age_group"))

  /** Exact-median twin of Task 11 (see [[task8ExactDf]]). */
  def task11ExactDf(pin: DataFrame, user: DataFrame): DataFrame =
    pin.join(user, Seq("ind"))
      .select(
        col("follower_count"),
        year(col("date_joined")).as("post_year"),
        ageGroup(col("age")).as("age_group"))
      .groupBy(col("post_year"), col("age_group"))
      .agg(expr("percentile(follower_count, 0.5)").as("median_follower_count"))

  // ---- Extensions beyond the reference surface (SURVEY §1.3, §7.1.7) --

  /** The `tag_list` upgrade the reference never does: comma-joined
    * string → `array<string>` of trimmed, non-empty tags. */
  def withTags(pin: DataFrame): DataFrame =
    pin.withColumn("tags",
      filter(transform(split(col("tag_list"), ","), t => trim(t)), t => length(t) > 0))

  /** Top `k` tags per category via explode + two-level count + rank —
    * the analysis `tag_list`'s raw form can't support. */
  def topTagsPerCategory(pin: DataFrame, k: Int): DataFrame = {
    val counts = withTags(pin)
      .select(col("category"), explode(col("tags")).as("tag"))
      .groupBy("category", "tag").agg(count(lit(1)).as("tag_count"))
    // rank() over count only: tied tags share a rank and are all kept
    // (same tie semantics as the reference's rank-1 tasks)
    val w = Window.partitionBy(col("category"))
      .orderBy(col("tag_count").desc)
    counts.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= k)
      .select("category", "tag", "tag_count", "rnk")
  }

  /** All tasks from cleaned inputs, SQL form, keyed by task name. */
  def allSql(spark: SparkSession, pin: DataFrame, geo: DataFrame, user: DataFrame)
      : Map[String, DataFrame] = {
    registerViews(pin, geo, user)
    Map(
      "task4" -> spark.sql(task4Sql),
      "task5" -> spark.sql(task5Sql),
      "task6_1" -> spark.sql(task6Part1Sql),
      "task6_2" -> spark.sql(task6Part2Sql),
      "task7" -> spark.sql(task7Sql),
      "task8" -> spark.sql(task8Sql),
      "task9" -> spark.sql(task9Sql),
      "task10" -> spark.sql(task10Sql),
      "task11" -> spark.sql(task11Sql))
  }

  /** All tasks, DataFrame form. */
  def allDf(pin: DataFrame, geo: DataFrame, user: DataFrame): Map[String, DataFrame] =
    Map(
      "task4" -> task4Df(pin, geo),
      "task5" -> task5Df(pin, geo),
      "task6_1" -> task6Part1Df(pin, geo, user),
      "task6_2" -> task6Part2Df(pin, geo, user),
      "task7" -> task7Df(pin, user),
      "task8" -> task8Df(pin, user),
      "task9" -> task9Df(user),
      "task10" -> task10Df(pin, user),
      "task11" -> task11Df(pin, user))
}

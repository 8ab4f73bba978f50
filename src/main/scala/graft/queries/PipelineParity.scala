package graft.queries

import graft.QuerySpec
import graft.pipeline.{Clean, PinQueries}
import graft.sources.{EmulatorGenerator, JsonSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-parity pipeline surfaced through the driver's correctness
  * gate: deterministic fixture JSON (seeded emulator output, landed-
  * topic layout) → explicit-schema JSON scan → cleaning → Tasks 4–11.
  *
  * Unlike the sfDir catalogs, the pipeline's input is not one of the
  * driver's parquet tables — so to give these queries a real DuckDB
  * oracle, the RAW fixture tables (pin/geo/user exactly as scanned from
  * JSON) are also landed as parquet at a stable absolute path
  * ([[parquetRoot]]) the first time any pipeline query runs in a JVM.
  * Each oracle is then full DuckDB SQL over that raw parquet: a
  * cleaning-CTE mirror of [[Clean.pin]]/[[Clean.geo]]/[[Clean.user]]
  * followed by the task SQL — so the oracle checks the entire
  * scan→clean→query path, not just the final aggregation.
  *
  * Engine-divergence notes encoded in the mirror (same rules as the
  * q22 oracle / SURVEY §7.4):
  *   - DuckDB `regexp_replace` needs the `'g'` flag (Spark replaces
  *     every match);
  *   - DuckDB `TRY_CAST('25.5000' AS INT)` rounds; Spark casts to NULL
  *     → integer-regex guard before the cast;
  *   - rank windows order `DESC NULLS LAST` explicitly (Spark's `desc`
  *     default; DuckDB's default, pinned in case of config drift).
  *
  * The three approx-median tasks (8/10/11) are oracled via their
  * exact-percentile twins ([[PinQueries.task8ExactDf]] etc. vs DuckDB
  * `QUANTILE_CONT`) — the approx parity forms are golden-tested in
  * ScalaTest (GoldenSpec) and asserted equal to the windowed reference
  * shape (PinTasksSpec).
  */
object PipelineParity {

  private val FixtureRows = 400

  /** Where the raw fixture tables are landed as parquet so the driver's
    * DuckDB process (which can't see this JVM's temp JSON dir) can read
    * the same rows the engine reads. Absolute and stable across runs;
    * under target/ so `sbt clean` resets it together with everything
    * else derived. */
  val parquetRoot: String =
    sys.env.getOrElse("GRAFT_FIXTURE_DIR", "/root/repo/target/fixture-tables")

  /** Fixture dir is generated once per JVM (seeded → idempotent). */
  @volatile private var fixtureDir: String = _

  private def ensureFixtures(): String = synchronized {
    if (fixtureDir == null) {
      val dir = java.nio.file.Files.createTempDirectory("graft-pipeline-fixtures")
      EmulatorGenerator.writeTopicLayout(dir, FixtureRows, seed = 42L)
      fixtureDir = dir.toString
    }
    fixtureDir
  }

  @volatile private var rawLanded = false

  /** Land the raw frames once per JVM. `coalesce(1)` — the fixture is
    * tiny and a single file keeps the oracle's read_parquet glob
    * trivial; production landing uses the partitioned writers in
    * [[graft.operators.Bucketing]] instead. */
  private def landRawParquet(spark: SparkSession, base: String): Unit = synchronized {
    if (!rawLanded) {
      Seq(
        "pin" -> JsonSource.readPin(spark, base),
        "geo" -> JsonSource.readGeo(spark, base),
        "user" -> JsonSource.readUser(spark, base)
      ).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$parquetRoot/$name")
      }
      rawLanded = true
    }
  }

  /** Cleaned frames are built once per session and persisted: all eight
    * task queries reuse them, so the JSON scan + cleaning chain runs
    * once, not 8× (keyed by session so Verify/Bench/driver sessions
    * don't share stale plans). */
  private val cache =
    scala.collection.concurrent.TrieMap.empty[SparkSession, (DataFrame, DataFrame, DataFrame)]

  private def cleaned(spark: SparkSession): (DataFrame, DataFrame, DataFrame) =
    cache.getOrElseUpdate(spark, {
      val base = ensureFixtures()
      landRawParquet(spark, base)
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      (Clean.pin(JsonSource.readPin(spark, base)).persist(MEMORY_AND_DISK),
        Clean.geo(JsonSource.readGeo(spark, base)).persist(MEMORY_AND_DISK),
        Clean.user(JsonSource.readUser(spark, base)).persist(MEMORY_AND_DISK))
    })

  // ---- DuckDB mirror of the cleaning chain (Clean.pin/geo/user) -------

  /** The reference's 4-bucket age banding, ANSI form (identical text to
    * [[PinQueries.ageGroupSql]] — restated here so the oracle has no
    * Spark-side dependency). */
  private val ageCaseSql =
    """CASE WHEN age >= 18 AND age <= 24 THEN '18-24'
      |     WHEN age >= 25 AND age <= 35 THEN '25-35'
      |     WHEN age >= 36 AND age <= 50 THEN '36-50'
      |     WHEN age > 50 THEN '50+' ELSE NULL END""".stripMargin

  /** WITH-clause prefix shared by every pipeline oracle: raw parquet →
    * cleaned `pin_table` / `geo_table` / `user_table` views mirroring
    * Clean.pin / Clean.geo / Clean.user column-for-column (only the
    * columns the tasks read; `coordinates` is exercised by CleanSpec). */
  private def cleanCtes: String = s"""
    pin_raw AS (SELECT * FROM read_parquet('$parquetRoot/pin/*.parquet')),
    geo_raw AS (SELECT * FROM read_parquet('$parquetRoot/geo/*.parquet')),
    user_raw AS (SELECT * FROM read_parquet('$parquetRoot/user/*.parquet')),
    pin_table AS (
      SELECT "index" AS ind,
             unique_id,
             CASE WHEN title LIKE 'No Title Data%' THEN NULL ELSE title END AS title,
             CASE WHEN description LIKE 'No description available%' THEN NULL
                  ELSE description END AS description,
             CASE WHEN regexp_matches(trim(fc_expanded), '^[+-]?[0-9]+$$')
                  THEN TRY_CAST(trim(fc_expanded) AS INTEGER) ELSE NULL END AS follower_count,
             CASE WHEN poster_name LIKE 'User Info Error%' THEN NULL
                  ELSE poster_name END AS poster_name,
             CASE WHEN tag_list LIKE 'N,o, ,T,a,g,s,%' THEN NULL ELSE tag_list END AS tag_list,
             is_image_or_video,
             CASE WHEN image_src LIKE 'Image src error%' THEN NULL ELSE image_src END AS image_src,
             regexp_replace(
               CASE WHEN save_location LIKE '%.jpg' THEN NULL ELSE save_location END,
               'Local save in ', '', 'g') AS save_location,
             category
      FROM (SELECT *,
                   regexp_replace(regexp_replace(
                     CASE WHEN follower_count LIKE 'User Info Error%' THEN NULL
                          ELSE follower_count END,
                     '[kK]', '000', 'g'), '[mM]', '000000', 'g') AS fc_expanded
            FROM pin_raw)
    ),
    geo_table AS (
      SELECT ind, country, CAST("timestamp" AS TIMESTAMP) AS "timestamp"
      FROM geo_raw
    ),
    user_table AS (
      SELECT ind, first_name || ' ' || last_name AS user_name, age,
             CAST(date_joined AS TIMESTAMP) AS date_joined
      FROM user_raw
    )"""

  /** Prepend the cleaning CTEs to a task body. `body` must start with
    * either another CTE (`, name AS (...)  SELECT ...`) or a bare
    * `SELECT`. */
  private def oracle(body: String): String = s"WITH $cleanCtes $body"

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("q60_pipeline_task4_top_category_per_country",
      Some(oracle("""
        , counts AS (
          SELECT country, category, COUNT(*) AS "count"
          FROM pin_table JOIN geo_table ON geo_table.ind = pin_table.ind
          GROUP BY country, category
        ), ranked AS (
          SELECT *, RANK() OVER (PARTITION BY country ORDER BY "count" DESC) AS cat_rank
          FROM counts
        )
        SELECT DISTINCT country, category, "count" FROM ranked WHERE cat_rank = 1""")),
      (s, _) => { val (pin, geo, _) = cleaned(s); PinQueries.task4Df(pin, geo) }),

    QuerySpec("q61_pipeline_task5_posts_per_year",
      Some(oracle("""
        SELECT EXTRACT(YEAR FROM "timestamp") AS "year", category,
               COUNT(category) AS category_count
        FROM pin_table JOIN geo_table ON geo_table.ind = pin_table.ind
        WHERE EXTRACT(YEAR FROM "timestamp") BETWEEN 2018 AND 2022
        GROUP BY 1, 2""")),
      (s, _) => { val (pin, geo, _) = cleaned(s); PinQueries.task5Df(pin, geo) }),

    QuerySpec("q62_pipeline_task6_top_user_per_country",
      Some(oracle("""
        , joined AS (
          SELECT country, user_name AS poster_name, follower_count,
                 RANK() OVER (PARTITION BY country
                              ORDER BY follower_count DESC NULLS LAST) AS rank_order
          FROM geo_table
            JOIN user_table ON user_table.ind = geo_table.ind
            JOIN pin_table ON pin_table.ind = user_table.ind
        )
        SELECT DISTINCT country, poster_name, follower_count
        FROM joined WHERE rank_order = 1""")),
      (s, _) => { val (pin, geo, user) = cleaned(s); PinQueries.task6Part1Df(pin, geo, user) }),

    QuerySpec("q63_pipeline_task7_top_category_per_age_group",
      Some(oracle(s"""
        , cat AS (
          SELECT category, $ageCaseSql AS age_group
          FROM pin_table JOIN user_table ON pin_table.ind = user_table.ind
        ), counts AS (
          SELECT age_group, category, COUNT(category) AS category_count
          FROM cat GROUP BY age_group, category
        ), ranked AS (
          SELECT *, RANK() OVER (PARTITION BY age_group
                                 ORDER BY category_count DESC) AS rnk
          FROM counts
        )
        SELECT age_group, category, category_count FROM ranked WHERE rnk = 1""")),
      (s, _) => { val (pin, _, user) = cleaned(s); PinQueries.task7Df(pin, user) }),

    QuerySpec("q64_pipeline_task8_median_follower_by_age",
      Some(oracle(s"""
        SELECT age_group, QUANTILE_CONT(follower_count, 0.5) AS median_follower_count
        FROM (SELECT follower_count, $ageCaseSql AS age_group
              FROM pin_table JOIN user_table ON pin_table.ind = user_table.ind) t
        GROUP BY age_group""")),
      (s, _) => { val (pin, _, user) = cleaned(s); PinQueries.task8ExactDf(pin, user) }),

    QuerySpec("q65_pipeline_task9_users_joined_per_year",
      Some(oracle("""
        SELECT EXTRACT(YEAR FROM date_joined) AS post_year,
               COUNT(user_name) AS number_users_joined
        FROM user_table
        GROUP BY 1""")),
      (s, _) => { val (_, _, user) = cleaned(s); PinQueries.task9Df(user) }),

    QuerySpec("q66_pipeline_task10_median_follower_by_join_year",
      Some(oracle("""
        SELECT post_year, QUANTILE_CONT(follower_count, 0.5) AS median_follower_count
        FROM (SELECT EXTRACT(YEAR FROM date_joined) AS post_year, follower_count
              FROM user_table JOIN pin_table ON user_table.ind = pin_table.ind) t
        GROUP BY post_year""")),
      (s, _) => { val (pin, _, user) = cleaned(s); PinQueries.task10ExactDf(pin, user) }),

    QuerySpec("q67_pipeline_task11_median_by_year_and_age",
      Some(oracle(s"""
        SELECT post_year, age_group,
               QUANTILE_CONT(follower_count, 0.5) AS median_follower_count
        FROM (SELECT follower_count, EXTRACT(YEAR FROM date_joined) AS post_year,
                     $ageCaseSql AS age_group
              FROM pin_table JOIN user_table ON pin_table.ind = user_table.ind) t
        GROUP BY post_year, age_group""")),
      (s, _) => { val (pin, _, user) = cleaned(s); PinQueries.task11ExactDf(pin, user) }),

    QuerySpec("q68_pipeline_top_tags_per_category",
      Some(oracle("""
        , tag_rows AS (
          SELECT category, unnest(string_split(tag_list, ',')) AS tag0 FROM pin_table
        ), tags AS (
          SELECT category, trim(tag0) AS tag FROM tag_rows WHERE length(trim(tag0)) > 0
        ), counts AS (
          SELECT category, tag, COUNT(*) AS tag_count FROM tags GROUP BY category, tag
        ), ranked AS (
          SELECT *, RANK() OVER (PARTITION BY category ORDER BY tag_count DESC) AS rnk
          FROM counts
        )
        SELECT category, tag, tag_count, rnk FROM ranked WHERE rnk <= 3""")),
      (s, _) => { val (pin, _, _) = cleaned(s); PinQueries.topTagsPerCategory(pin, 3) }),

    // Task 6.2 — first-class catalog entry (VERDICT r1 §Next 6): the
    // reference's LIMIT-1 country-of-the-top-user, with the
    // deterministic country tiebreak both engines share.
    QuerySpec("q69_pipeline_task6_2_top_country",
      Some(oracle("""
        , joined AS (
          SELECT country, user_name AS poster_name, follower_count,
                 RANK() OVER (PARTITION BY country
                              ORDER BY follower_count DESC NULLS LAST) AS rank_order
          FROM geo_table
            JOIN user_table ON user_table.ind = geo_table.ind
            JOIN pin_table ON pin_table.ind = user_table.ind
        ), top_per_country AS (
          SELECT DISTINCT country, poster_name, follower_count
          FROM joined WHERE rank_order = 1
        )
        SELECT country, follower_count
        FROM top_per_country
        GROUP BY follower_count, country
        ORDER BY follower_count DESC NULLS LAST, country
        LIMIT 1""")),
      (s, _) => {
        val (pin, geo, user) = cleaned(s)
        PinQueries.task6Part2Df(pin, geo, user)
      }))
}

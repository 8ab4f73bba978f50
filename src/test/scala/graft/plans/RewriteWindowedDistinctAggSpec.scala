package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The windowed-DISTINCT-aggregate rewrite: plans lose their Window
  * node, results stay identical, and non-matching shapes are left
  * untouched. */
class RewriteWindowedDistinctAggSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = (1 to 500)
    .map(i => (i.toLong, s"g${i % 7}", (i % 83).toDouble))
    .toDF("id", "grp", "v")

  private def windowedDistinct(d: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("grp"))
    d.select(col("grp"),
      percentile_approx(col("v"), lit(0.5), lit(10000)).over(w).as("med"))
      .distinct()
  }

  private def withRule[A](body: => A): A = {
    spark.experimental.extraOptimizations = Seq(RewriteWindowedDistinctAgg)
    try body finally spark.experimental.extraOptimizations = Nil
  }

  test("rewrites DISTINCT over whole-partition window agg to groupBy") {
    val plain = windowedDistinct(df).collect().toSet
    withRule {
      val q = windowedDistinct(df)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("Window"),
        s"window should be rewritten away:\n$optimized")
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains("HashAggregate") || physical.contains("ObjectHashAggregate"),
        s"expected aggregate exec:\n$physical")
      assert(q.collect().toSet == plain, "rewrite must not change results")
    }
  }

  test("matches the reference Task-8 shape end to end") {
    // same composition as PinQueries.task8Sql: join → project(band, windowed
    // approx median) → distinct
    val users = (1 to 200).map(i => (i.toLong, 15 + i % 50)).toDF("ind", "age")
    val pins = (1 to 200).map(i => (i.toLong, (i * 37 % 9000))).toDF("ind", "follower_count")
    def shape() = {
      val w = Window.partitionBy(col("age_group"))
      pins.join(users, Seq("ind"))
        .select(col("follower_count"),
          graft.pipeline.PinQueries.ageGroup(col("age")).as("age_group"))
        .select(col("age_group"),
          percentile_approx(col("follower_count"), lit(0.5), lit(10000))
            .over(w).as("median_follower_count"))
        .distinct()
    }
    val plain = shape().collect().toSet
    withRule {
      val q = shape()
      assert(!q.queryExecution.optimizedPlan.toString.contains("Window"))
      assert(q.collect().toSet == plain)
    }
  }

  test("does NOT rewrite when the frame is ordered (running aggregate)") {
    withRule {
      val w = Window.partitionBy(col("grp")).orderBy(col("id"))
      val q = df.select(col("grp"), sum(col("v")).over(w).as("run")).distinct()
      assert(q.queryExecution.optimizedPlan.toString.contains("Window"),
        "ordered windows must be left alone")
    }
  }

  test("does NOT rewrite when a partition column is dropped before the distinct") {
    // DISTINCT over (grp, max-per-(grp,grp2)) can COLLAPSE rows the
    // groupBy(grp, grp2) form keeps apart — rewriting would duplicate
    val dup = Seq((1L, 1L, 5.0), (1L, 2L, 5.0)).toDF("grp", "grp2", "v")
    val plain = {
      val w = Window.partitionBy(col("grp"), col("grp2"))
      dup.select(col("grp"), max(col("v")).over(w).as("mx")).distinct()
    }
    val expected = plain.collect().toSeq
    assert(expected.size == 1, "sanity: DISTINCT collapses the tie")
    withRule {
      val w = Window.partitionBy(col("grp"), col("grp2"))
      val q = dup.select(col("grp"), max(col("v")).over(w).as("mx")).distinct()
      assert(q.queryExecution.optimizedPlan.toString.contains("Window"),
        "dropping a partition column must block the rewrite")
      assert(q.collect().toSeq == expected)
    }
  }

  test("does NOT rewrite when extra non-partition columns survive the distinct") {
    withRule {
      val w = Window.partitionBy(col("grp"))
      val q = df.select(col("grp"), col("id"),
        max(col("v")).over(w).as("mx")).distinct()
      assert(q.queryExecution.optimizedPlan.toString.contains("Window"),
        "projections beyond (partition cols, window value) must be left alone")
    }
  }
}

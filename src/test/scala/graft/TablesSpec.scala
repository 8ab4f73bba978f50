package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver's testdata generator has shipped events.ts under two
  * different parquet encodings across rounds — TIMESTAMP(NANOS) (which
  * Spark surfaces only as a raw long under nanosAsLong) and
  * TIMESTAMP(MICROS) isAdjustedToUTC=false (TIMESTAMP_NTZ); MakeScale
  * writes a third, Spark's own TimestampType encoding. Tables.load must
  * surface each as a plain TimestampType with identical instants, or
  * every event-table query breaks on a regeneration (round 10 found 8
  * queries down this way). Loads use declared schemas, so they are
  * checked against the schemas Spark infers from the files. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def loadAs(writeDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    writeDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.load(spark, dir, "events")
  }

  test("events.ts arrives as TimestampType from a TIMESTAMP_NTZ file") {
    val df = loadAs(Seq((1L, "2024-03-01T12:34:56.123456"))
      .toDF("event_id", "s")
      .select(col("event_id"), col("s").cast(TimestampNTZType).as("ts")))
    assert(df.schema("ts").dataType == TimestampType)
    // UTC session: the NTZ wall-clock IS the instant
    assert(df.select(unix_micros(col("ts"))).as[Long].head() ==
      1709296496123456L)
  }

  test("events.ts arrives as TimestampType from a raw-nanos long column") {
    val nanos = 1709296496123456789L // ...456 µs truncated from ...789 ns
    val df = loadAs(Seq((1L, nanos)).toDF("event_id", "ts"))
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).as[Long].head() ==
      1709296496123456L)
  }

  test("events.ts arrives as TimestampType from a Spark-written TimestampType file") {
    // the encoding MakeScale writes back (INT96 under Spark's defaults)
    val df = loadAs(Seq((1L, "2024-03-01T12:34:56.123456Z"))
      .toDF("event_id", "s")
      .select(col("event_id"), col("s").cast(TimestampType).as("ts")))
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).as[Long].head() ==
      1709296496123456L)
  }

  private val sfDirs = "perfbench/data/sf0.001" +:
    Seq("0.001", "0.01", "0.1").map(SparkSpec.testdata)

  test("declared schemas equal the schemas Spark infers, at every sf") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- sfDirs; name <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(Tables.schema(spark, dir, name) == inferred, s"$dir/$name")
    }
  }

  test("Tables.load starts no Spark job") {
    for (dir <- sfDirs) {
      val (_, jobs) = withJobs(Tables.names.foreach(Tables.load(spark, dir, _)))
      assert(jobs.isEmpty, s"$dir: ${jobs.mkString("; ")}")
    }
  }

  test("driver testdata events loads with a timestamp ts at every sf") {
    for (sf <- Seq("0.001", "0.01"))
      assert(Tables.load(spark, s"/root/testdata/sf$sf", "events")
        .schema("ts").dataType == TimestampType, s"sf$sf")
  }
}

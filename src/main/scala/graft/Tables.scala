package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every table is a single parquet file under `sfDir`, read with ONE
  * declared schema per table (the rule `JsonSource` follows for the
  * landed JSON): `spark.read.schema(...).parquet` starts no Spark job,
  * where a plain `spark.read.parquet` runs a schema-inference job per
  * read. Catalyst still gets a columnar vectorized scan with filter
  * pushdown and column pruning; the engine never caches or collects
  * these, and at 100 TB the same code path streams from object storage
  * partitions. `TablesSpec` checks each declared schema against the one
  * Spark infers from the files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // column types in file order; events.ts is resolved per file below
  private val declared: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (n, ddl) => n -> StructType.fromDDL(ddl) }

  /** The schema [[load]] reads `name` with: the declared one, with
    * `events.ts` typed after the file's own encoding. It equals what
    * `spark.read.parquet` infers (under the nanosAsLong setting
    * [[load]] applies). */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val s = declared(name)
    if (name != "events") s
    else StructType(s.map(f =>
      if (f.name == "ts") f.copy(dataType = eventsTsType(spark, s"$sfDir/$name.parquet"))
      else f))
  }

  /** events.ts has shipped as parquet TIMESTAMP(NANOS), as
    * TIMESTAMP(MICROS) NTZ and (rewritten by `MakeScale`) in Spark's
    * TimestampType encoding. The footer names which: one read of one
    * file's metadata, no Spark job. A directory (a Spark-written table)
    * is typed by its first data file. */
  private def eventsTsType(spark: SparkSession, path: String): DataType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(p).isDirectory) p
      else fs.listStatus(p).map(_.getPath)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val ts = footer.getType(footer.getFieldIndex("ts")).asPrimitiveType()
    ts.getLogicalTypeAnnotation match {
      case a: TimestampLogicalTypeAnnotation if a.getUnit == TimeUnit.NANOS => LongType
      case a: TimestampLogicalTypeAnnotation if !a.isAdjustedToUTC => TimestampNTZType
      case null if ts.getPrimitiveTypeName == PrimitiveTypeName.INT64 => LongType // raw nanos
      case _ => TimestampType // INT96 (Spark's default encoding) or UTC-adjusted
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts surfaces as a proper TimestampType whatever its file
    // encoding (see eventsTsType). The NTZ→TIMESTAMP cast is exact
    // because every session pins UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = schema(spark, sfDir, name)
    val df = spark.read.schema(s).parquet(s"$sfDir/$name.parquet")
    if (name == "events" && s("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // exact integer µs
    else if (name == "events" && s("ts").dataType == TimestampNTZType) {
      // Exactness of NTZ→TIMESTAMP depends on the session timezone: the
      // cast reinterprets the wall-clock fields in the session zone. All
      // in-repo entry points pin UTC, but a foreign caller with another
      // zone would silently shift every instant — fail loudly instead.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"Tables.load requires spark.sql.session.timeZone=UTC for the NTZ " +
          s"events encoding (got '$tz'); a non-UTC session would shift instants")
      df.withColumn("ts", col("ts").cast(TimestampType))
    }
    else df
  }
}

/** One engine capability = one named query + optionally one DuckDB oracle.
  *
  * The oracle SQL must produce the *identical* result set (same column
  * names, hash-stable values) when run by DuckDB over the same parquet
  * tables. Determinism rules used throughout the catalog:
  *   - money/double sums go through integer cents
  *     (`CAST(FLOOR(x*100 + 0.5) AS BIGINT)`) so accumulation order can't
  *     change the result and the rounding is pure IEEE arithmetic —
  *     identical on any engine (Spark's ROUND rounds the shortest-decimal
  *     BigDecimal, DuckDB rounds the binary double; FLOOR can't diverge).
  *   - year()/month()/size() results are cast to BIGINT on both sides
  *     (DuckDB extracts are int64, Spark's are int32).
  *   - result sets are unique rows (ties kept by rank(), or broken by an
  *     explicit key) so row order never matters.
  */
final case class QuerySpec(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-up generator for shuffle/spill experiments (VERDICT r3 item 3):
  * replicates the driver's sf0.1 tables `factor`× with id-offsetting so
  * entity keys stay unique and referential integrity holds (each copy's
  * custkey/orderkey/partkey/suppkey/user_id/... move together by
  * copy·STRIDE; region/nation stay fixed, as TPC-H scaling does).
  * Document text is perturbed per copy (a copy-tag token appended,
  * n_chars recomputed) so exact/near-dedup workloads keep the original
  * duplicate structure instead of every doc acquiring `factor` exact
  * twins; embeddings are kept bit-identical across copies — near-dup
  * ops then see genuine duplicate mass, which is the stressful (and
  * realistic, crawl-like) regime for the capped LSH paths.
  *
  * Usage: runMain MakeScale <srcSfDir> <outDir> [factor=10]
  * The output is a drop-in sfDir for Bench/Verify. NOT driver data —
  * local scale experiments only (TESTDATA.md's tables stay canonical).
  */
object MakeScale {
  // divisible by 12 so q79's closed-form chain oracle (keep = doc_id -
  // doc_id%12, which presumes every id range starts at a multiple of
  // 12) holds in every copy, not just copy 0
  private val Stride = 12_000_000_000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.build(graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")) :+ ("spark.app.name" -> "graft-make-scale"))
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame)(shift: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(c => shift(df, c.toLong * Stride)).reduce(_ unionByName _)

    // single FILE per table (not a part-file directory) — the DuckDB
    // checker reads '<sfDir>/<name>.parquet' as a plain file, exactly
    // like the driver's sf dirs
    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$out/_tmp_$name"
      // SMALL row groups (1 MiB uncompressed vs the 128 MiB default):
      // a parquet scan parallelizes across row groups, never within
      // one, and coalesce(1) + default block size wrote every sf1
      // table as a SINGLE row group — making all round-4 sf1 scans
      // single-task no matter what maxPartitionBytes asked for (found
      // round 6 via a q91 thread-dump: one task, 10+ min of CPU).
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", 1024 * 1024)
        .parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
        .head.getPath
      val dest = new org.apache.hadoop.fs.Path(s"$out/$name.parquet")
      fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[make-scale] $name written")
    }

    def load(name: String) = graft.Tables.load(spark, src, name)

    write("region", load("region"))
    write("nation", load("nation"))
    write("customer", copies(load("customer")) { (df, o) =>
      df.withColumn("c_custkey", col("c_custkey") + o) })
    write("supplier", copies(load("supplier")) { (df, o) =>
      df.withColumn("s_suppkey", col("s_suppkey") + o) })
    write("part", copies(load("part")) { (df, o) =>
      df.withColumn("p_partkey", col("p_partkey") + o) })
    write("orders", copies(load("orders")) { (df, o) =>
      df.withColumn("o_orderkey", col("o_orderkey") + o)
        .withColumn("o_custkey", col("o_custkey") + o) })
    write("lineitem", copies(load("lineitem")) { (df, o) =>
      df.withColumn("l_orderkey", col("l_orderkey") + o)
        .withColumn("l_partkey", col("l_partkey") + o)
        .withColumn("l_suppkey", col("l_suppkey") + o) })
    write("events", copies(load("events")) { (df, o) =>
      df.withColumn("event_id", col("event_id") + o)
        .withColumn("user_id", col("user_id") + o) })
    write("documents", copies(load("documents")) { (df, o) =>
      val perturbed = if (o == 0L) col("text")
        else concat(col("text"), lit(s" gc${o / Stride}"))
      df.withColumn("doc_id", col("doc_id") + o)
        .withColumn("text", perturbed)
        .withColumn("n_chars", length(col("text")).cast("long")) })
    write("embeddings", copies(load("embeddings")) { (df, o) =>
      df.withColumn("vec_id", col("vec_id") + o) })

    spark.stop()
  }
}

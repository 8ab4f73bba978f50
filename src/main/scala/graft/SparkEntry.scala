package graft

import graft.queries.{Analytics, BpeQueries, Cleaning, Curation, Extended, Fused, Lm, PipelineParity, Relational, Retrieval, TextAnalysis, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The full capability catalog lives in [[graft.queries.Relational]]
  * (reference Tasks 4–11 shapes: joins, rank-per-group, medians,
  * banding, windows), [[graft.queries.Cleaning]] (the reference's
  * cleaning-transform surface) and [[graft.queries.TextAnalysis]]
  * (training-data ops: dedup, ANN, text analysis). Each QuerySpec that
  * is ANSI-SQL-expressible carries a DuckDB oracle; the rest are
  * verified against brute-force ground truth in ScalaTest.
  */
object SparkEntry {

  def allSpecs: Seq[QuerySpec] =
    Relational.specs ++ Cleaning.specs ++ TextAnalysis.specs ++
      PipelineParity.specs ++ Extended.specs ++ Warehouse.specs ++
      Fused.specs ++ Analytics.specs ++ BpeQueries.specs ++ Retrieval.specs ++
      Lm.specs ++ Curation.specs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the Task-4-shaped 3-way join + group count + RANK()=1 + DISTINCT. */
  def entry(spark: SparkSession): DataFrame = {
    val spec = allSpecs.find(_.name == "q03_top_priority_per_nation").get
    spec.fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allSpecs.map(s => s.name -> s.fn).toMap

  /** The catalog in name order, narrowed to the names that start with a
    * SPARK_GRAFT_ONLY prefix (comma-separated; a local iteration aid,
    * unset for full benchmark and correctness runs). */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    queries.toSeq.sortBy(_._1).filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (LSH/signature queries) → driver records a rows-only check. */
  def oracleSql: Map[String, String] =
    allSpecs.flatMap(s => s.oracle.map(o => s.name -> o.trim)).toMap
}

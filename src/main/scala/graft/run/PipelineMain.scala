package graft.run

import graft.pipeline.{Clean, CurationChain, PinQueries}
import graft.sources.JsonSource
import org.apache.spark.sql.SparkSession

/** The batch driver replacing the reference's Airflow → Databricks
  * orchestration (dag/0af8d0adfd13_dag.py; SURVEY.md §3.4): a plain,
  * cron-able `main()` that runs scan → clean → all eight tasks → parquet
  * out. Retries are the scheduler's job (the DAG's `retries: 5` maps to
  * the cron/workflow layer, not the engine).
  *
  * Usage:
  *   PipelineMain <landedBaseDir> <outDir>
  *     landedBaseDir — topics/{pin,geo,user}/partition=N/ JSON files
  *     outDir        — one parquet dir per task + per cleaned table
  *
  *   PipelineMain curate <corpusDir> <outDir>
  *     corpusDir — holds documents.parquet (the TESTDATA layout)
  *     outDir    — curated/ (scrubbed export parquet) + stats/ (one-row
  *                 release-note stats). The q203 chain as a runnable
  *                 job: near-dedup → containment → span scrub
  *                 ([[graft.pipeline.CurationChain]]).
  *
  *   PipelineMain curate-substr <corpusDir> <outDir> [within-doc]
  *     the same chain with the all-alignment exact-substring scrub
  *     ([[graft.operators.Dedup.exactSubstrScrub]], q214) as the final
  *     stage — keep-one-copy removal of boundary-straddling repeats
  *     the fixed chunk grid misses.
  *
  *   PipelineMain curate-landed <landedBase> <outDir>
  *     landedBase — committed batch=N dirs written by the streaming
  *                  ingest ([[graft.streaming.StreamPipeline.dedupStreamWithIndex]]);
  *                  this nightly half runs the corpus-global stages
  *                  (containment + scrub) the online pass cannot.
  *
  *   PipelineMain gen-topics <baseDir> [n=400] [seed=42]
  *     writes the seeded landed-topic layout (topics/{pin,geo,user}/
  *     partition=0/NNN.json) — the S8-S10 generator as a CLI, so the
  *     whole ingest→clean→tasks path can be driven from a shell
  *     (scripts/smoke_pipeline.py runs exactly that end to end).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gen-topics")) {
      // pure file generation — no SparkSession needed
      val n = if (args.length > 2) args(2).toInt else 400
      val seed = if (args.length > 3) args(3).toLong else 42L
      graft.sources.EmulatorGenerator.writeTopicLayout(
        java.nio.file.Paths.get(args(1)), n, seed)
      println(s"[pipeline] gen-topics: wrote $n records/topic to ${args(1)}")
      return
    }
    val spark = graft.Session.build(graft.Session.deployed("graft-pipeline"))
    args.headOption match {
      case Some("curate") =>
        val Array(_, corpusDir, outDir) = args.take(3)
        val docs = graft.operators.Fanout.forKernel(
          graft.Tables.load(spark, corpusDir, "documents"))
        runCurate(spark, docs.count(),
          CurationChain.curate(docs, "doc_id", "text"), outDir)
      case Some("curate-substr") =>
        val Array(_, corpusDir, outDir) = args.take(3)
        // optional trailing "within-doc": unified occurrence census
        // (q215) — a doc's own internal repeats ship once too
        val withinDoc = args.lift(3).contains("within-doc")
        val docs = graft.operators.Fanout.forKernel(
          graft.Tables.load(spark, corpusDir, "documents"))
        runCurate(spark, docs.count(),
          CurationChain.curateSubstr(docs, "doc_id", "text",
            withinDoc = withinDoc), outDir)
      case Some("curate-landed") =>
        val Array(_, landedBase, outDir) = args.take(3)
        val nInput = graft.streaming.IdempotentSink
          .committedDirs(spark, landedBase) match {
          case dirs if dirs.nonEmpty => spark.read.parquet(dirs: _*).count()
          case _ => 0L
        }
        runCurate(spark, nInput,
          CurationChain.curateLanded(spark, landedBase, "doc_id", "text"),
          outDir)
      case _ =>
        runPinPipeline(spark, args(0), args(1))
    }
    spark.stop()
  }

  /** Land the curated export, then compute the stats artifact FROM the
    * landed files — the chain is evaluated exactly once. */
  private[graft] def runCurate(spark: SparkSession, nInput: Long,
      curated: org.apache.spark.sql.DataFrame, outDir: String): Unit = {
    curated.write.mode("overwrite").parquet(s"$outDir/curated")
    CurationChain.stats(nInput, spark.read.parquet(s"$outDir/curated"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/stats")
  }

  private def runPinPipeline(
      spark: SparkSession, baseDir: String, outDir: String): Unit = {
    // the transport seam (SURVEY §7.1.2): swap FileJsonTableSource for
    // KafkaTableSource(bootstrap, prefix) and nothing downstream changes
    val source = graft.sources.FileJsonTableSource(baseDir)
    import graft.sources.PipelineTable._
    val clean = Seq(
      "pin" -> Clean.pin(source.readBatch(spark, Pin)),
      "geo" -> Clean.geo(source.readBatch(spark, Geo)),
      "user" -> Clean.user(source.readBatch(spark, User)))

    // cleaned tables land as parquet (columnar at rest — fixes the
    // reference's one-JSON-file-per-message landing, SURVEY §4.2), and
    // the tasks read them back from there, so the JSON is parsed once,
    // as the reference's temp views are. The schema is the cleaned
    // plan's, so the read starts no footer-inference job.
    val Seq(pin, geo, user) = clean.map { case (name, df) =>
      val dir = s"$outDir/clean/$name"
      df.write.mode("overwrite").parquet(dir)
      spark.read.schema(df.schema).parquet(dir)
    }

    for ((name, df) <- PinQueries.allDf(pin, geo, user).toSeq.sortBy(_._1))
      df.write.mode("overwrite").parquet(s"$outDir/tasks/$name")
  }
}

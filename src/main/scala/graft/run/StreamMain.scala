package graft.run

import graft.pipeline.Schemas
import graft.streaming.StreamPipeline

/** Streaming driver — the reference's Kinesis notebook as a `main()`
  * (SURVEY.md §3.3): three concurrent checkpointed queries consume the
  * landed topic layout as an unbounded file source (new files = new
  * micro-batches), apply the shared cleaning, and append parquet.
  *
  * `--once` processes everything available then exits (cron-able
  * catch-up, Trigger.AvailableNow); default runs continuously.
  *
  * Usage: StreamMain <landedBaseDir> <outDir> [--once]
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir) = args.take(2)
    val once = args.contains("--once")
    val spark = graft.Session.build(graft.Session.deployed("graft-stream"))

    val trigger =
      if (once) org.apache.spark.sql.streaming.Trigger.AvailableNow()
      else org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")

    // the transport seam (SURVEY §7.1.2): swap FileJsonTableSource for
    // KafkaTableSource(bootstrap, prefix) and nothing downstream changes
    val source = graft.sources.FileJsonTableSource(baseDir)
    import graft.sources.PipelineTable._
    val queries = Seq(
      StreamPipeline.writeStream(
        graft.pipeline.Clean.pin(source.readStream(spark, Pin)), outDir, "pin", trigger),
      StreamPipeline.writeStream(
        graft.pipeline.Clean.geo(source.readStream(spark, Geo)), outDir, "geo", trigger),
      StreamPipeline.writeStream(
        graft.pipeline.Clean.user(source.readStream(spark, User)), outDir, "user", trigger))

    if (once) queries.foreach(_.awaitTermination())
    else spark.streams.awaitAnyTermination()
    spark.stop()
  }
}

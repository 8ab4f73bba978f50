package perfbench

import graft.pipeline.{Clean, PinQueries}
import graft.sources.{EmulatorGenerator, FileJsonTableSource}
import graft.streaming.{IdempotentSink, IndexState, StreamPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. It drives one workload through the engine's
  * public functions, records raw observations (per-op wall times, whether
  * each op threw, where its output landed, and in a traced run the per-call
  * Spark accounting) and writes them as one JSON document. perfbench/run.py
  * starts it, checks the outputs and turns the observations into metrics.
  *
  * Usage: Harness --workload W --seed N --units U --trace 0|1 --work DIR
  *   --data SFDIR --cpus N [--queries q01_x,q03_y,...]
  *
  * `units` is the fixed amount of timed work: catalog passes, pipeline
  * passes or micro-batches. A traced run does the timed work three times,
  * without, with and again without the listener; the tracing overhead is
  * the traced segment against the plain one after it, in one process. */
object Harness {
  type Op = Map[String, Any]

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val result = mutable.LinkedHashMap[String, Any]("session_ms" -> ms(t0))
    // phase boundaries in ms since main() started, for the run log
    val timeline = mutable.LinkedHashMap[String, Any]("session" -> ms(t0))
    result("sentinel_start_ms") = sentinel(spark, cpus)
    val wl: Workload = a("workload") match {
      case "catalog" => new Catalog(spark, a("data"), work, a("queries").split(",").toSeq)
      case "pin_batch" => new PinBatch(spark, cpus, work, a("seed").toLong)
      case "stream_dedup" => new StreamDedup(spark, work, a("seed").toLong)
      case other => sys.error(s"unknown workload $other")
    }
    val units = a("units").toInt
    val s0 = System.nanoTime()
    result ++= wl.setup()
    result("warmup_ms") = ms(s0)
    timeline("setup") = ms(t0)
    result("untraced") = wl.segment("untraced", units, None)
    timeline("untraced") = ms(t0)
    if (a("trace") == "1") {
      val trace = new Trace(wl.spark)
      wl.spark.sparkContext.addSparkListener(trace)
      val seg = wl.segment("traced", units, Some(trace))
      wl.spark.sparkContext.removeSparkListener(trace)
      result("traced") = seg + ("calls" -> trace.snapshot().toMap)
      result("after") = wl.segment("after", units, None)
    }
    result("sentinel_end_ms") = sentinel(wl.spark, cpus)
    timeline("end") = ms(t0)
    result("timeline_ms") = timeline
    Files.writeString(Paths.get(work, "result.json"), Json(result.toMap))
    // everything Spark leaves behind is inside `work`, which the next run
    // wipes; halting skips a second or more of orderly shutdown per run
    Runtime.getRuntime.halt(0)
  }

  /** Bench's measurement session: same pinned confs, local[cpus]; Spark's
    * scratch space stays inside the benchmark's work dir. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.cleaner.periodicGC.interval", "10min")
      .config("spark.sql.files.maxPartitionBytes", s"${4 * 1024 * 1024}")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's host-regime sentinel: fixed in-memory generate + hash-agg +
    * sort, no I/O and no data dependence; the minimum of three reps after
    * a warm rep, since load spikes only ever add time. */
  def sentinel(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 16L * 1000 * 1000, 1, cpus)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v").as("s"), avg("v").as("a"), max("v").as("m"))
        .orderBy("k")
        .write.mode("overwrite").format("noop").save()
      ms(t0)
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  def traced[A](tr: Option[Trace], name: String)(f: => A): A =
    tr.fold(f)(_.call(name)(f))

  /** Time one op; a throw marks it failed and leaves no latency. */
  def op(fields: (String, Any)*)(f: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { f; null } catch { case e: Throwable => e.toString }
    Map("ms" -> (if (err == null) ms(t0) else -1.0), "ok" -> (err == null),
      "error" -> err) ++ fields
  }

  /** Bytes of every regular file under `dir` (0 if absent). */
  def files(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val it = s.iterator()
        val m = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val f: Path = it.next()
          if (Files.isRegularFile(f)) m += f.toString -> Files.size(f)
        }
        m.result()
      } finally s.close()
    }
  }
}

import Harness._

abstract class Workload(var spark: SparkSession) {
  /** Untimed preparation: inputs and the JIT/codegen warm-up. */
  def setup(): Map[String, Any]
  /** The timed work: `units` of it, observed per op. */
  def segment(tag: String, units: Int, tr: Option[Trace]): Map[String, Any]
}

/** A fixed set of catalog queries in a seeded order. Each query is built
  * (until the DataFrame is returned) and executed into the noop sink as
  * two separately timed calls; its output is then written once more as
  * parquet, outside the timed window, for the digest check. Cached and
  * persisted state is counted and cleared between queries. */
final class Catalog(s: SparkSession, data: String, work: String,
    names: Seq[String]) extends Workload(s) {
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n))

  private def reset(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Persisted RDDs plus cached plans, read before the reset. */
  private def leaked(): Int = {
    val plans = try {
      val ss = spark.getClass.getMethod("sharedState").invoke(spark)
      val cm = ss.getClass.getMethod("cacheManager").invoke(ss)
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch { case _: Throwable => 0 }
    spark.sparkContext.getPersistentRDDs.size + plans
  }

  /** One untimed pass for JIT, codegen and the parquet footers, two
    * queries at a time: at this scale a query keeps under a fifth of the
    * cores busy, and the warm-up only has to reach the same code. */
  def setup(): Map[String, Any] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      fns.map { case (_, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, data).write.mode("overwrite").format("noop").save()
            catch { case _: Throwable => () }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    reset()
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.writeString(Paths.get(work, "oracle_sql.json"), Json(oracles))
    Map.empty
  }

  def segment(tag: String, units: Int, tr: Option[Trace]): Map[String, Any] = {
    val loads = tr.toSeq.flatMap { _ =>
      graft.Tables.names.map { t =>
        op("kind" -> "load", "name" -> t)(traced(tr, s"load:$t")(graft.Tables.load(spark, data, t)))
      }
    }
    val ops = for (p <- 1 to units; (n, fn) <- fns) yield {
      reset()
      var build, exec = -1.0
      var leak = 0
      val out = s"$work/out/$tag/p$p/$n"
      val o = op("kind" -> "query", "name" -> n, "pass" -> p, "out" -> out) {
        val t0 = System.nanoTime()
        val df = traced(tr, s"build:$n")(fn(spark, data))
        build = ms(t0)
        val t1 = System.nanoTime()
        traced(tr, s"exec:$n")(df.write.mode("overwrite").format("noop").save())
        exec = ms(t1)
        leak = leaked()
        df.coalesce(1).write.mode("overwrite").parquet(out)
      }
      reset()
      val ok = o("ok") == true
      o ++ Map("build_ms" -> build, "exec_ms" -> exec, "leaked" -> leak,
        "ms" -> (if (ok) build + exec else -1.0))
    }
    Map("ops" -> ops, "loads" -> loads)
  }
}

/** The paper's batch path, in PipelineMain.runPinPipeline's order: scan the
  * landed JSON topics, clean pin/geo/user and land them as parquet, then
  * land every PinQueries task as parquet. One op per landed table.
  *
  * The warm-up is PipelineMain itself on the same topics: its output is
  * the reference the timed passes are checked against. It stops the
  * session it ran in, so the timed passes run in a fresh session of the
  * same, warmed JVM. That session's first pass is over the anchor topics,
  * fixed whatever the seed, whose outputs are checked against digests
  * recorded under perfbench/anchor. */
final class PinBatch(s: SparkSession, cpus: Int, work: String, seed: Long)
    extends Workload(s) {
  private val records = 10000
  private val anchorRecords = 2000
  private val anchorSeed = 7L
  private val landed = s"$work/landed"

  def setup(): Map[String, Any] = {
    EmulatorGenerator.writeTopicLayout(Paths.get(landed), records, seed)
    graft.run.PipelineMain.main(Array(landed, s"$work/reference"))
    spark = session(cpus, work)
    EmulatorGenerator.writeTopicLayout(Paths.get(s"$work/anchor/landed"), anchorRecords,
      anchorSeed)
    val anchor = pass(s"$work/anchor/landed", s"$work/anchor/out", None)
    Map("reference" -> s"$work/reference", "anchor" -> anchor)
  }

  private def pass(in: String, outDir: String, tr: Option[Trace]): Seq[Op] = {
    import graft.sources.PipelineTable._
    val source = FileJsonTableSource(in)
    val (pin, geo, user) = traced(tr, "clean:read")((
      Clean.pin(source.readBatch(spark, Pin)),
      Clean.geo(source.readBatch(spark, Geo)),
      Clean.user(source.readBatch(spark, User))))
    val clean = Seq("pin" -> pin, "geo" -> geo, "user" -> user).map { case (n, df) =>
      op("kind" -> "clean", "name" -> n, "out" -> s"$outDir/clean/$n")(
        traced(tr, s"clean:$n")(df.write.mode("overwrite").parquet(s"$outDir/clean/$n")))
    }
    val tasks = PinQueries.allDf(pin, geo, user).toSeq.sortBy(_._1).map { case (n, df) =>
      op("kind" -> "task", "name" -> n, "out" -> s"$outDir/tasks/$n")(
        traced(tr, s"task:$n")(df.write.mode("overwrite").parquet(s"$outDir/tasks/$n")))
    }
    clean ++ tasks
  }

  def segment(tag: String, units: Int, tr: Option[Trace]): Map[String, Any] = {
    val passes = (1 to units).map { p =>
      val t0 = System.nanoTime()
      val ops = pass(landed, s"$work/out/$tag/p$p", tr).map(_ + ("pass" -> p))
      Map("ms" -> ms(t0), "dir" -> s"$work/out/$tag/p$p", "ops" -> ops)
    }
    Map("passes" -> passes, "records" -> records, "landed" -> landed)
  }
}

/** Seeded micro-batches through StreamPipeline.dedupIndexBatch. Every
  * batch after the first repeats the content of a fifth of the previous
  * batch's fresh docs, so the bloom-positive anti-join runs every batch.
  * Each batch's survivor count is checked against the exact expectation.
  * A segment runs the batch sequence twice, each time into fresh state, so
  * that every batch is timed twice like a catalog query or pipeline table. */
final class StreamDedup(s: SparkSession, work: String, seed: Long) extends Workload(s) {
  private val perBatch = 2000
  private val nDup = perBatch / 5

  def docsFor(b: Int): DataFrame = {
    val base = b.toLong * perBatch
    val cid =
      if (b == 0) col("id") + lit(base)
      else when(col("id") < nDup,
          lit(base - perBatch + nDup) + pmod(col("id") + lit(seed), lit(perBatch - nDup)))
        .otherwise(col("id") + lit(base))
    val toks = (0 until 24).map(j => concat(lit(s"w${j}s${seed}x"), cid.cast("string")))
    spark.range(perBatch).select((col("id") + lit(base)).as("doc_id"),
      concat_ws(" ", toks: _*).as("text"))
  }

  def setup(): Map[String, Any] = {
    for (b <- 0 until 3)
      StreamPipeline.dedupIndexBatch(docsFor(b), b.toLong, "doc_id", "text",
        s"$work/warm/out", s"$work/warm/index")
    Map.empty
  }

  def segment(tag: String, units: Int, tr: Option[Trace]): Map[String, Any] =
    Map("docs" -> perBatch * units,
      "passes" -> (1 to 2).map(p => sequence(s"$work/$tag/p$p", p, units, tr)))

  private def sequence(dir: String, p: Int, units: Int, tr: Option[Trace]): Map[String, Any] = {
    val out = s"$dir/out"
    val idx = s"$dir/index"
    val seen = mutable.HashMap.empty[String, Long]
    var indexWritten = 0L
    var inputBytes = 0L
    val batches = (0 until units).map { b =>
      val docs = docsFor(b)
      inputBytes += docs.agg(sum(octet_length(col("text")) + 8)).head().getLong(0)
      val o = op("kind" -> "batch", "name" -> s"batch$b", "pass" -> p)(
        traced(tr, s"batch:$b")(StreamPipeline.dedupIndexBatch(
          docs, b.toLong, "doc_id", "text", out, idx)))
      val now = files(idx)
      indexWritten += now.collect { case (f, n) if !seen.contains(f) => n }.sum
      seen ++= now
      val expected = if (b == 0) perBatch.toLong else (perBatch - nDup).toLong
      val survivors =
        try spark.read.parquet(s"$out/batch=$b").count() catch { case _: Throwable => -1L }
      val phases = StreamPipeline.lastPhases(idx).getOrElse(Nil)
        .map { case (n, s) => n -> s * 1000 }.toMap
      o ++ Map("survivors" -> survivors, "expected" -> expected,
        "ok" -> (o("ok") == true && survivors == expected),
        "phases" -> phases,
        "index_dirs" -> IndexState.committedData(spark, idx).size,
        "fpp" -> IndexState.lastSaturation(idx).getOrElse(-1.0))
    }
    val committed = spark.read.parquet(IdempotentSink.committedDirs(spark, out): _*)
    val rows = committed.count()
    val distinctIds = committed.select("doc_id").distinct().count()
    val live = IndexState.committedData(spark, idx)
      .map(d => files(new org.apache.hadoop.fs.Path(d).toUri.getPath).values.sum).sum
    Map("ops" -> batches, "rows" -> rows, "distinct_doc_ids" -> distinctIds,
      "input_bytes" -> inputBytes, "index_written_bytes" -> indexWritten,
      "index_live_bytes" -> live, "index_bytes" -> files(idx).values.sum,
      "out_bytes" -> files(out).values.sum)
  }
}

/** Minimal JSON writer for the harness's result document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

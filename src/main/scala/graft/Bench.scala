package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** The `per_query_ms` key of each query: its qNN name prefix. A
    * repeated prefix would overwrite a key and silently drop a query
    * from that line, so it is refused. */
  def shortKeys(names: Seq[String]): Seq[String] = {
    val keys = names.map(_.takeWhile(_ != '_'))
    val dups = keys.diff(keys.distinct).distinct
    require(dups.isEmpty, s"query name prefixes must be unique: ${dups.mkString(", ")}")
    keys
  }

  /** noop sink: materializes EVERY row and column. A count() here lets
    * Catalyst delete provably-cardinality-preserving joins and whole
    * subtrees — several operators would be "benchmarked" without
    * executing at all. */
  private[graft] def run(spark: SparkSession, fn: Query, dir: String): Unit =
    fn(spark, dir).write.mode("overwrite").format("noop").save()

  /** Free per-invocation state: operators that persist/localCheckpoint
    * intermediates (sessionizeBucketed, cappedBucketPairs, kmeans)
    * create NEW cache entries on every call — across 127 queries × 3
    * reps those accumulate until storage memory is full and later
    * samples measure spill, not the query (r6 diagnosis: q91 median
    * 274 s with min 8.6 s — rep 1 fast, reps 2-3 degraded). A real
    * deployment runs one job per session; the harness must too.
    * Runs OUTSIDE the timed window: teardown cost belongs to the
    * harness, not the next query's sample. */
  private[graft] def teardown(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One untimed run of each query at `warmDir` (when it exists and is
    * not the timed dir), each followed by a teardown. */
  private[graft] def warmUp(spark: SparkSession, fns: Seq[Query], warmDir: String,
      sfDir: String): Unit = {
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      fns.foreach { fn =>
        try { run(spark, fn, warmDir); teardown(spark) } catch { case _: Throwable => () }
      }
  }

  /** HOST-REGIME SENTINEL (VERDICT r18 item 2): a pinned calibration
    * probe — fixed-size in-memory generate + hash-agg + sort, zero
    * I/O, zero data dependence — run at window start and end. Three
    * rounds running, round-over-round adjudication needed a judge
    * re-run to separate uniform host drift (this box has ~1.3x fast/
    * slow regimes) from a real regression; the sentinel stamps the
    * regime INTO the artifact so bench_compare.py can normalize
    * per-query ratios by the sentinel ratio instead. min-of-3 after a
    * warm rep: load spikes only ever add time, so the min estimates
    * the window's quiet cost. */
  private[graft] def sentinel(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      import org.apache.spark.sql.functions.{avg, max, sum}
      val t0 = System.nanoTime()
      spark.range(0, 16L * 1000 * 1000, 1, cpus)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v").as("s"), avg("v").as("a"), max("v").as("m"))
        .orderBy("k")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once(); (1 to 3).map(_ => once()).min
  }

  /** GC time of this JVM so far, summed over its collectors. */
  private[graft] def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private final case class Stat(name: String, median: Double, min: Double, max: Double, n: Int)

  /** Bench's summary lines after `pass`, from one reduction of the
    * samples per print. Benchmark tooling parses these lines, often
    * from a short stdout tail; BenchSpec pins their bytes. */
  private[graft] final class Report(names: Seq[String], samples: String => Seq[Double],
      failed: String => Boolean, pass: Int, sfDir: String) {
    // contract: a query that threw on ANY rep reports -1, never a
    // time-of-failure that would read as a (fast) success
    private val stats = names.map { name =>
      val v = samples(name)
      if (failed(name) || v.isEmpty) Stat(name, -1.0, -1.0, -1.0, v.size)
      else {
        val s = v.sorted
        val median =
          if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
        Stat(name, median, s.head, s.last, v.size)
      }
    }
    private val ok = stats.filter(_.median >= 0)
    private val total = ok.map(_.median).sum
    // total_min: sum of per-query MINIMUM sample times. Two rounds in a
    // row (r6, r9->r10) a median-total swing on unchanged code needed
    // manual adjudication as host noise; the min is the noise-robust
    // round-over-round comparator (load spikes only ever ADD time, so
    // the min converges on the quiet-host cost) while the median keeps
    // reporting the spread.
    private val totalMin = ok.map(_.min).sum
    private val nFailed = names.count(failed)
    private def r3(x: Double) = math.round(x * 1000) / 1000.0

    /** `sentinelStart`/`sentinelEnd` read -1 until taken. */
    def summary(sentinelStart: Double, sentinelEnd: Double): String = {
      val sentinel = s"""{"start":${r3(sentinelStart)},"end":${r3(sentinelEnd)}}"""
      val qs = stats.map(s => s"\"" + s.name + "\":" + s.median).mkString("{", ",", "}")
      val spread = stats.map { s =>
        s"\"" + s.name + "\":" + s"""{"median":${s.median},"min":${s.min},"max":${s.max},"n":${s.n}}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"sentinel":$sentinel,"reps":$pass,"sf":"$sfDir"}"""
    }

    /** Compact PER-QUERY map (r20 verdict item 8): median milliseconds
      * under short keys — the qNN prefix, unique across the catalog
      * (`shortKeys` checks it before any query runs) — so the complete
      * 213-query map fits in ~2.6 KB and survives a short stdout tail
      * capture (the full summary is ~17 KB and lands truncated, which
      * left PERF_r20 with n_common=0). Printed BETWEEN the full summary
      * and the final total/total_min lines. */
    def perQueryMs(shortKey: String => String): String = {
      val qs = stats.map { s =>
        val ms = if (s.median < 0) -1L else math.round(s.median * 1000)
        s"\"" + shortKey(s.name) + "\":" + ms
      }.mkString("{", ",", "}")
      s"""{"metric":"per_query_ms","reps":$pass,"q":$qs}"""
    }

    /** Standalone total_min line, printed BEFORE the compact total line so
      * the process's final stdout line keeps "metric":"total" (the shape
      * parsed since r10) while a grep for total_min finds
      * a complete JSON object of its own. */
    def min: String =
      s"""{"metric":"total_min","value":${r3(totalMin)},"unit":"sec","n_queries":${names.size},"n_failed":$nFailed,"reps":$pass,"sf":"$sfDir"}"""

    /** Compact twin of the summary: total + counts only, NO per-query
      * maps. r7 post-mortem: the full summary for 129 queries is ~8 KB
      * on one line, but a stdout tail capture held only ~2.3 KB — the
      * stored tail began MID-line, so a clean rc=0 run still produced
      * parsed:null (two rounds running). This line is <200 bytes,
      * printed AFTER the full summary, so the final line of stdout is
      * always a complete JSON object no matter how small the tail
      * buffer is. The big line and the per-sample JSONL stay for humans. */
    def compact: String =
      s"""{"metric":"total","value":${r3(total)},"total_min":${r3(totalMin)},"unit":"sec","n_queries":${names.size},"n_failed":$nFailed,"reps":$pass,"sf":"$sfDir"}"""

    /** The four lines of a pass summary, in print order. */
    def lines(sentinelStart: Double, sentinelEnd: Double,
        shortKey: String => String): Seq[String] =
      Seq(summary(sentinelStart, sentinelEnd), perQueryMs(shortKey), min, compact)
  }

  def main(args: Array[String]): Unit = {
    val shortKey = {
      val names = SparkEntry.queries.keys.toSeq
      names.zip(shortKeys(names)).toMap
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Wall-clock budget for TIMED SAMPLES (seconds). Once cumulative
    // sample time exceeds it, later passes stop early so the cheapest
    // queries degrade from `reps` samples to 1 — sub-second queries
    // cannot materially breach a 2x gate, while the expensive queries
    // (where a median matters most) keep their full rep count because
    // passes >= 2 visit queries most-expensive-first. r6 post-mortem:
    // the driver's bench timed out (rc=124) and, because the summary
    // printed once at the END, the artifact was empty. Now every
    // completed pass re-prints a full summary line, so a kill at any
    // point leaves the latest complete summary on stdout.
    // 480 (was 240): the 189-query catalog's pass 1 alone costs ~150 s,
    // so a 240 s budget left pass 2+ mostly unrun — n=1 medians that two
    // consecutive judge verdicts could not adjudicate against host
    // noise. 480 funds a full second pass (most-expensive-first) plus
    // most of a third for the queries where a median matters; the
    // per-sample compact summary lines keep any harness kill harmless.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "480").toDouble
    val spark = Session.build(Session.measured(cpus, "10min"))
    spark.sparkContext.setLogLevel("WARN")
    // warmup pass at the smallest sf: JIT + whole-stage-codegen compile
    // per query shape, so timed numbers measure the engine, not javac
    val warmDir = "/root/testdata/sf0.001"
    var sentinelStart = -1.0
    var sentinelEnd = -1.0
    val named = SparkEntry.selected
    warmUp(spark, named.map(_._2), warmDir, sfDir)
    // N timed samples per query, taken ROUND-ROBIN (q1..qn, q1..qn, ...)
    // so a transient machine-load spike lands in at most one sample per
    // query instead of all of them; the median then rejects it. A
    // single-sample harness (rounds 1-5) could not distinguish a real
    // regression from load — 27 queries "regressed" >2x on unchanged
    // code in r5.
    val samples = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failed = collection.mutable.Set.empty[String]
    var spent = 0.0 // cumulative timed-sample seconds, checked vs budgetSec
    def report(pass: Int) = new Report(named.map(_._1), samples, failed, pass, sfDir)
    def printSummary(pass: Int): Unit = {
      report(pass).lines(sentinelStart, sentinelEnd, shortKey).foreach(println)
      System.out.flush()
    }
    def sample(name: String, fn: Query, pass: Int): Unit = {
      val t0 = System.nanoTime()
      try run(spark, fn, sfDir) catch { case _: Throwable => failed += name }
      val sec = (System.nanoTime() - t0) / 1e9
      samples(name) = samples(name) :+ sec
      spent += sec
      // one JSONL progress line per sample, distinct key from the
      // summary's "metric" so the driver's summary parse is unaffected
      // but a timeout still leaves per-query evidence on stdout.
      // Explicit flush: stdout under a pipe is BLOCK-buffered — a
      // timeout kill would discard everything still in the buffer,
      // which is exactly the data this line exists to preserve.
      println(s"""{"bench_sample":{"q":"$name","pass":$pass,"sec":$sec,"ok":${!failed(name)}}}""")
      // ... immediately chased by the <200-byte compact summary so that
      // ANY tail window of stdout — however a timeout kill lands —
      // contains a complete parseable summary line, not just JSONL
      // sample evidence (r6: rc=124 mid-pass left an empty artifact).
      println(report(pass).compact)
      System.out.flush()
      teardown(spark)
    }
    sentinelStart = sentinel(spark, cpus.toInt)
    println(s"""{"bench_sentinel":{"when":"start","sec":$sentinelStart}}""")
    System.out.flush()
    // pass 1: every query gets one sample regardless of budget —
    // partial data beats no data
    for ((name, fn) <- named) sample(name, fn, 1)
    printSummary(1)
    // passes 2..reps: most-expensive-first (by pass-1 time), so when the
    // budget trips, the queries losing reps are the cheapest ones.
    // Queries already in `failed` are skipped: their summary value is
    // pinned at -1 regardless, so re-sampling a deterministic failure
    // only burns budget that healthy expensive queries need for reps.
    for (pass <- 2 to reps) {
      val order = named.filterNot { case (n, _) => failed(n) }
        .sortBy { case (n, _) => -samples(n).headOption.getOrElse(0.0) }
      for ((name, fn) <- order if spent < budgetSec) sample(name, fn, pass)
      printSummary(pass)
    }
    sentinelEnd = sentinel(spark, cpus.toInt)
    println(s"""{"bench_sentinel":{"when":"end","sec":$sentinelEnd}}""")
    System.out.flush()
    // Final re-print AFTER logging is forced off and the session is
    // stopped: executor/shutdown WARNs can otherwise interleave into the
    // captured tail after the summary (the r6 artifact ended on
    // SimpleFunctionRegistry WARNs). With logs off and sbt's output
    // passthrough (build.sbt: StdoutOutput + showSuccess:=false), the
    // process's final stdout line is always this complete <200-byte JSON
    // object, whatever the driver's tail-buffer size.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    printSummary(reps)
  }
}

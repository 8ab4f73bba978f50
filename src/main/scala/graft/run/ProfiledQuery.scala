package graft.run

import graft.{Bench, Session}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage instrumentation harness for the q182 host-bimodality
  * root-cause (VERDICT r19 item 3): four rounds of dedicated sf1
  * windows measured floors spanning 18.4 → 67.9 s on unchanged code
  * and deterministic data, and re-running windows can no longer
  * adjudicate it — the slow regime has to be observed from the INSIDE.
  *
  * Runs one catalog query `reps` times in a dedicated JVM with a
  * [[SparkListener]] capturing per-stage task-time / CPU-time / GC /
  * spill / shuffle / input metrics, plus process-level GC deltas and
  * the Bench host-regime sentinel before and after. One JSON line per
  * rep. Attribution logic the artifact supports:
  *  - GC regime: per-stage `gc_ms` (and the process delta) balloon
  *    while bytes stay identical;
  *  - spill regime: `mem_spill`/`disk_spill` go nonzero;
  *  - plan flip (AQE): the stage COUNT or per-stage byte profile
  *    changes between fast and slow reps;
  *  - host contention / CPU throttling: wall and `run_ms` inflate
  *    while `cpu_ms` per stage stays flat (tasks waiting, not
  *    working) — the sentinel inflates with them;
  *  - page-cache loss: `input_bytes` identical but the scan stages'
  *    `run_ms` inflates with cold reads (`fetch_wait_ms` flat).
  *
  * Usage: runMain graft.run.ProfiledQuery [queryNameCsv] [reps]
  * (comma-separated names profile several queries in ONE JVM — the
  * r20 optimization round's per-stage attribution sweep)
  * Env: SPARK_GRAFT_SF_DIR (default /root/repo/target/sf1),
  *      SPARK_GRAFT_CPUS, SPARK_GRAFT_MAX_PART_BYTES (sf1: 524288).
  */
object ProfiledQuery {
  def main(args: Array[String]): Unit = {
    val names =
      (if (args.length > 0) args(0) else "q182_containment_pairs")
        .split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/target/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.build(Session.measured(cpus, "10min"))
    spark.sparkContext.setLogLevel("WARN")

    // stage metrics buffer, cleared per rep (single-threaded driver:
    // the query action completes, then the listener bus is drained,
    // before the buffer is read)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) stages.add(
          s"""{"stage":${si.stageId},"tasks":${si.numTasks},""" +
          s""""run_ms":${m.executorRunTime},""" +
          s""""cpu_ms":${m.executorCpuTime / 1000000},""" +
          s""""gc_ms":${m.jvmGCTime},""" +
          s""""mem_spill":${m.memoryBytesSpilled},""" +
          s""""disk_spill":${m.diskBytesSpilled},""" +
          s""""input_bytes":${m.inputMetrics.bytesRead},""" +
          s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
          s""""fetch_wait_ms":${m.shuffleReadMetrics.fetchWaitTime},""" +
          s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
          s""""peak_mem":${m.peakExecutionMemory},""" +
          s""""name":"${si.name.takeWhile(_ != ' ').replace("\"", "")}"}""")
      }
    })

    // host CPU accounting from /proc/stat (user/nice/system/idle/iowait/
    // irq/softirq/steal jiffies): the steal delta is the decisive
    // discriminator for a VM host regime — tasks at low cpu/run
    // efficiency WITH high steal = hypervisor co-tenant stealing cycles;
    // low efficiency with near-zero steal = memory-bandwidth stalls or
    // in-guest contention; iowait = disk
    def hostCpu(): Array[Long] =
      try {
        val l = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+").drop(1).map(_.toLong)
        l.padTo(8, 0L).take(8)
      } catch { case _: Throwable => Array.fill(8)(0L) }
    def hostDeltaJson(a: Array[Long], b: Array[Long]): String = {
      val d = a.zip(b).map { case (x, y) => y - x }
      val names = Seq("user", "nice", "system", "idle", "iowait", "irq",
        "softirq", "steal")
      names.zip(d).map { case (n, v) => s""""$n":$v""" }
        .mkString("{", ",", "}")
    }
    val fns = names.map(name => name -> graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name")))
    // warmup at the smallest sf so rep 1 measures the engine, not JIT
    val warmDir = "/root/testdata/sf0.001"
    Bench.warmUp(spark, fns.map(_._2), warmDir, sfDir)
    // the Bench sentinel stamps the host regime per rep, so a slow wall
    // is separable into "sentinel slow too" (host) vs "sentinel fine,
    // stages slow" (query-specific term)
    val sentPre = Bench.sentinel(spark, cpus.toInt)
    for ((name, fn) <- fns; rep <- 1 to reps) {
      Bench.teardown(spark)
      stages.clear()
      val gc0 = Bench.gcMs
      val host0 = hostCpu()
      val t0 = System.nanoTime()
      Bench.run(spark, fn, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val hostD = hostDeltaJson(host0, hostCpu())
      org.apache.spark.ListenerDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val st = stages.asScala.toList
      println(f"""{"profiled":{"q":"$name","rep":$rep,"wall":$wall%.3f,""" +
        s""""proc_gc_ms":${Bench.gcMs - gc0},"sentinel_pre":$sentPre,""" +
        s""""host_jiffies":$hostD,""" +
        s""""n_stages":${st.size},"sf":"$sfDir",""" +
        s""""stages":${st.mkString("[", ",", "]")}}}""")
      System.out.flush()
    }
    val sentPost = Bench.sentinel(spark, cpus.toInt)
    println(s"""{"profiled_sentinel":{"pre":$sentPre,"post":$sentPost}}""")
    System.out.flush()
    spark.stop()
  }
}

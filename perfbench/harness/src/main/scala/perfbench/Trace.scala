package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-call Spark accounting for the traced run.
  *
  * The harness names every call it makes into the engine ("build:q148",
  * "task:task4", "batch:3", ...) and sets that name as the Spark job group
  * before the call. Each job is charged to the group it was submitted
  * under, or to the call the harness has open when the job carries no
  * group (jobs submitted from pool threads that did not inherit it).
  * Stages and tasks are charged to the call of the job that started them.
  * All mutation happens on the single listener-bus thread. */
final class Trace(spark: SparkSession) extends SparkListener {
  final class Stats {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, spillBytes, shuffleBytes, inputBytes, outputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  @volatile private var open: String = "untracked"
  private val stats = mutable.LinkedHashMap.empty[String, Stats]
  private val stageCall = mutable.HashMap.empty[Int, String]
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def of(call: String): Stats = stats.getOrElseUpdate(call, new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val call = group.getOrElse(open)
    of(call).jobs += 1
    e.stageInfos.foreach(s => stageCall.getOrElseUpdate(s.stageId, call))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCall.get(e.stageInfo.stageId).foreach(c => of(c).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageCall.getOrElse(e.stageId, open))
    s.tasks += 1
    s.intervals += e.taskInfo.launchTime -> e.taskInfo.finishTime
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Run `f` as the named call: job group set, wall window recorded. */
  def call[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    open = name
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      synchronized(windows += ((name, t0, t1)))
      open = "untracked"
      sc.clearJobGroup()
    }
  }

  /** Per-call totals as JSON objects, after draining the listener bus.
    * `no_task_ms` is the part of the call's wall window in which none of
    * its tasks was running. */
  def snapshot(): Seq[(String, Map[String, Any])] = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    synchronized {
      windows.toSeq.groupBy(_._1).toSeq.map { case (name, ws) =>
        val s = stats.getOrElse(name, new Stats)
        val wall = ws.map(w => w._3 - w._2).sum
        val busy = ws.map { case (_, t0, t1) => covered(s.intervals.toSeq, t0, t1) }.sum
        name -> Map[String, Any](
          "wall_ms" -> wall, "no_task_ms" -> math.max(0L, wall - busy),
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1000000L, "gc_ms" -> s.gcMs,
          "spill_bytes" -> s.spillBytes, "shuffle_bytes" -> s.shuffleBytes,
          "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes)
      }
    }
  }

  /** Length of the union of `intervals` clipped to [t0, t1]. */
  private def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- clipped) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$hint: ${extraA} rows only in left, ${extraB} rows only in right\n" +
        s"left=${a.collect().take(5).mkString("; ")}\nright=${b.collect().take(5).mkString("; ")}")
  }

  /** Runs `f` under a fresh job group and returns its result with the
    * descriptions of the Spark jobs it started (call sites). A job
    * started for a SQL action from another thread (an adaptive query
    * stage, a broadcast) carries that thread's call site, so the
    * action's own call site follows it in brackets. */
  def withJobs[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            actions.put(s.executionId.toString, s.description)
          case _ =>
        }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val site = e.stageInfos.maxBy(_.stageId).name // the result stage's call site
          val action = Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(actions.get(id))).filter(_ != site)
          jobs.add(action.fold(site)(a => s"$site [$a]"))
        }
    }
    sc.addSparkListener(listener)
    // no group description: a SQL action would take it as its own
    // description in place of its call site
    sc.setJobGroup(group, null, interruptOnCancel = false)
    try {
      val out = f
      org.apache.spark.ListenerDrain(sc)
      (out, jobs.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** The synthetic test tables at one scale factor (TESTDATA.md). */
  def testdata(sf: String): String = s"/root/testdata/sf$sf"

  lazy val session: SparkSession = {
    // the engine's own confs, so plans are checked as the mains run them
    val s = Session.build(Session.local("4") ++ Seq(
      "spark.app.name" -> "graft-tests",
      // janino failures in our doGenCode must fail tests, not silently
      // drop the whole plan to interpreted mode
      "spark.sql.codegen.fallback" -> "false"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

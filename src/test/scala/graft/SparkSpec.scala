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
    * descriptions of the Spark jobs it started (call sites). */
  def withJobs[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.maxBy(_.stageId).name) // the result stage's call site
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
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
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // janino failures in our doGenCode must fail tests, not silently
      // drop the whole plan to interpreted mode
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

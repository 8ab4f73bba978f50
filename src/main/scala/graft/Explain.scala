package graft

/** Plan-audit tool: prints the formatted physical plan for the catalog
  * queries whose names start with a SPARK_GRAFT_ONLY prefix (all when
  * unset) against SPARK_GRAFT_SF_DIR. This is how "the plan you'd
  * want" gets checked by eye — PlanSpec pins the invariants that must
  * never regress; this shows everything else. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_EXPLAIN_MODE: formatted (default) | codegen | extended
    // — codegen answers "did this kernel stay inside whole-stage
    // codegen?" (r20 verdict item 7, the dhash family audit)
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted")
    // codegen mode: debugCodegen cannot see through an un-executed
    // AdaptiveSparkPlan wrapper ("Found 0 WholeStageCodegen
    // subtrees"), so the codegen audit reads the static plan instead
    val spark = Session.build(Session.local("4") :+
      ("spark.sql.adaptive.enabled" -> (mode != "codegen").toString))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.selected.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try fn(spark, sfDir).explain(mode)
      catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}

package graft

/** Eager-job budget: the Spark jobs a catalog query starts while its
  * DataFrame is still being built, at sf0.001. Each such job costs tens
  * of ms whatever it does, and q148, q191 and q192 spend almost all of
  * their time in them, so a change that quietly adds eager probes,
  * cache fills or checkpoints back fails here. */
class EagerJobBudgetSpec extends SparkSpec {
  private val sf = SparkSpec.testdata("0.001")

  private val budgets = Seq(
    "q148_bpe_learned_merges" -> 55,
    "q191_containment_after_neardedup" -> 29,
    "q192_curation_export" -> 29)

  for ((name, budget) <- budgets)
    test(s"${name.takeWhile(_ != '_')} builds with at most $budget eager jobs") {
      val (_, jobs) = withJobs(SparkEntry.queries(name)(spark, sf))
      assert(jobs.size <= budget,
        s"$name started ${jobs.size} jobs while building:\n${jobs.mkString("\n")}")
    }
}

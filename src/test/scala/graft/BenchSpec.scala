package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's compact `per_query_ms` line keys each query by its qNN
  * prefix; two queries sharing a prefix would collapse into one key.
  * Benchmark tooling parses Bench's summary lines, so their bytes are pinned. */
class BenchSpec extends AnyFunSuite {
  test("shortKeys refuses a repeated qNN prefix") {
    val e = intercept[IllegalArgumentException](
      Bench.shortKeys(Seq("q01_pricing_summary", "q02_x", "q01_other")))
    assert(e.getMessage.contains("q01"))
  }

  test("shortKeys keys the whole catalog, one key per query") {
    val names = SparkEntry.queries.keys.toSeq
    assert(Bench.shortKeys(names).distinct.size == names.size)
    assert(Bench.shortKeys(Seq("q148_bpe_learned_merges")) == Seq("q148"))
  }

  test("summary lines keep their exact bytes, with a failed and an unsampled query") {
    val names = Seq("q01_a", "q02_b", "q03_c", "q10_d")
    val samples = Map(
      "q01_a" -> Vector(1.5, 0.25, 1.0),
      "q02_b" -> Vector(0.125),
      "q10_d" -> Vector(2.0, 3.0004)).withDefaultValue(Vector.empty)
    val report = new Bench.Report(names, samples, Set("q02_b"), 2, "/sf")
    val shortKey = names.zip(Bench.shortKeys(names)).toMap
    assert(report.lines(0.5004, -1.0, shortKey) == Seq(
      """{"metric":"total","value":3.5002,"unit":"sec",""" +
        """"queries":{"q01_a":1.0,"q02_b":-1.0,"q03_c":-1.0,"q10_d":2.5002},""" +
        """"spread":{"q01_a":{"median":1.0,"min":0.25,"max":1.5,"n":3},""" +
        """"q02_b":{"median":-1.0,"min":-1.0,"max":-1.0,"n":1},""" +
        """"q03_c":{"median":-1.0,"min":-1.0,"max":-1.0,"n":0},""" +
        """"q10_d":{"median":2.5002,"min":2.0,"max":3.0004,"n":2}},""" +
        """"sentinel":{"start":0.5,"end":-1.0},"reps":2,"sf":"/sf"}""",
      """{"metric":"per_query_ms","reps":2,"q":{"q01":1000,"q02":-1,"q03":-1,"q10":2500}}""",
      """{"metric":"total_min","value":2.25,"unit":"sec","n_queries":4,"n_failed":1,"reps":2,"sf":"/sf"}""",
      """{"metric":"total","value":3.5,"total_min":2.25,"unit":"sec","n_queries":4,"n_failed":1,"reps":2,"sf":"/sf"}"""))
    assert(report.compact == report.lines(-1.0, -1.0, shortKey).last)
  }
}

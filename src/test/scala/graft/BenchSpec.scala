package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's compact `per_query_ms` line keys each query by its qNN
  * prefix; two queries sharing a prefix would collapse into one key. */
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
}

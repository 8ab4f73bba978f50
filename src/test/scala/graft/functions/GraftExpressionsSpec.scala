package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraftExpressionsSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) = {
    GraftFunctions.register(spark)
    super.withFixture(test)
  }

  /** Reference implementation of the rolling hash, for cross-checking
    * the Catalyst expression's eval. */
  private def fpRef(s: String): Long = {
    var h = 1125899906842597L
    for (b <- s.getBytes("UTF-8")) h = 31 * h + (b & 0xffL)
    h
  }

  test("fingerprint64 matches the reference rolling hash") {
    val inputs = Seq("", "a", "hello world", "héllo ünïcode ✓", "x" * 1000)
    val got = inputs.toDF("t")
      .select(col("t"), GraftFunctions.fingerprint64(col("t")).as("fp"))
      .as[(String, Long)].collect().toMap
    for (s <- inputs) assert(got(s) == fpRef(s), s"fingerprint mismatch for '$s'")
  }

  test("fingerprint64: null in, null out; usable from SQL") {
    val r = Seq(Option.empty[String], Some("x")).toDF("t")
      .selectExpr("graft_fingerprint64(t) AS fp")
      .as[Option[Long]].collect()
    assert(r(0).isEmpty && r(1).nonEmpty)
  }

  test("simhash64: all-ones votes, empty array, sign behavior") {
    val r = Seq(
      (1L, Seq(-1L)),              // every bit set → all 64 bits set
      (2L, Seq(0L)),               // all bits zero → votes -1 → no bits... except none
      (3L, Seq.empty[Long])        // no tokens → votes all 0 → >= 0 → all bits set
    ).toDF("id", "hashes")
      .select(col("id"), GraftFunctions.simhash64(col("hashes")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(r(1L) == -1L, "all-ones token → simhash all ones")
    assert(r(2L) == 0L, "all-zeros token → simhash zero")
    assert(r(3L) == -1L, "empty array → ties resolve to 1 bits (documented)")
  }

  test("simhash64 is order-insensitive over the token bag") {
    val a = Seq(Seq(3L, 99L, 1234L, -77L)).toDF("h")
      .select(GraftFunctions.simhash64(col("h"))).as[Long].head()
    val b = Seq(Seq(-77L, 1234L, 3L, 99L)).toDF("h")
      .select(GraftFunctions.simhash64(col("h"))).as[Long].head()
    assert(a == b)
  }

  test("nfc: composes decomposed forms, preserves ASCII zero-copy, null-safe") {
    val composed = "caf\u00e9"          // e-acute, single code point
    val decomposed = "cafe\u0301"       // e + combining acute
    val r = Seq(Some(decomposed), Some(composed), Some("plain ascii"), None)
      .toDF("t")
      .select(GraftFunctions.nfc(col("t")).as("n"))
      .as[Option[String]].collect()
    assert(r(0).contains(composed), "decomposed input must compose")
    assert(r(1).contains(composed), "already-NFC input unchanged")
    assert(r(2).contains("plain ascii"))
    assert(r(3).isEmpty, "null in, null out")
    // dedup utility: normalized forms hash equal
    val hashes = Seq(decomposed, composed).toDF("t")
      .select(md5(GraftFunctions.nfc(col("t")))).as[String].collect()
    assert(hashes(0) == hashes(1))
    // SQL registration path
    val viaSql = Seq(decomposed).toDF("t")
      .selectExpr("graft_nfc(t) AS n").as[String].head()
    assert(viaSql == composed)
  }

  test("CodebookArgmin always returns a valid index, interpreted and codegen'd") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.shim
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // v·c = −Long.MaxValue, so every argmax-dot key is exactly
    // Long.MaxValue: the seed must be candidate 0, never −1
    val saturated = Array(Array(-Long.MaxValue), Array(-Long.MaxValue))
    // ties keep the first index; a dimension mismatch is null
    val tied = Array(Array(3L, 4L), Array(0L, 0L), Array(3L, 4L))
    def interpreted(v: Array[Long], cb: Array[Array[Long]], l2: Boolean): Any =
      CodebookArgmin(Literal.create(v, ArrayType(LongType, false)), cb, l2).eval()
    assert(interpreted(Array(1L), saturated, l2 = false) == 0)
    assert(interpreted(Array(3L, 4L), tied, l2 = true) == 0)
    assert(interpreted(Array(3L, 4L), tied, l2 = false) == 0)
    assert(interpreted(Array(1L), tied, l2 = true) == null)
    // a non-foldable input keeps the kernel inside whole-stage codegen
    def codegen(cb: Array[Array[Long]], l2: Boolean, v: org.apache.spark.sql.Column): Any =
      spark.range(1).select(shim.column(
        CodebookArgmin(shim.expression(v), cb, l2))).head().get(0)
    assert(codegen(saturated, l2 = false, array(col("id") + 1)) == 0)
    assert(codegen(tied, l2 = true, array(col("id") + 3, col("id") + 4)) == 0)
    assert(codegen(tied, l2 = true, array(col("id") + 1)) == null)
  }
}

package graft.queries

import graft.{SparkEntry, SparkSpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The quantized ANN family's shared stages ([[Ann]]): tie order,
  * the recall fixed point and the driver twin of the codebook kernel on
  * a planted corpus; no cache left behind by the family members that
  * used to leak one; and the source rule that the quantization lives in
  * one module. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  // 40 two-dim vectors over {-1..2}×{-1..1}: many equal dots, so ties
  // decide most ranks and argmaxes
  private def vec(i: Int): Seq[Long] = Seq((i % 4) - 1L, ((i / 4) % 3) - 1L)
  private lazy val corpus = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "v")
  private def dotOf(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => x * y }.sum

  test("topK ranks by (score DESC, vec_id ASC) with a long rank") {
    val got = Ann.exactTopK(corpus, Ann.queries(corpus), 3)
    assert(got.schema("rank").dataType == org.apache.spark.sql.types.LongType)
    val expected = (0 until 20).flatMap { q =>
      (0 until 40).filter(_ != q).map(i => (i, dotOf(vec(i), vec(q))))
        .sortBy { case (i, d) => (-d, i) }.take(3).zipWithIndex
        .map { case ((i, d), r) => (q.toLong, i.toLong, d, r + 1L) }
    }
    assert(got.as[(Long, Long, Long, Long)].collect().sorted.toSeq == expected.sorted)
  }

  test("recall is n_hit * 65536 div n_exact, and 0 for a query with no hit") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 30L), (3L, 10L))
      .toDF("query_id", "vec_id")
    val got = Ann.recall(exact, approx).as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 3L, 2L, 2L * 65536 / 3), (2L, 2L, 0L, 0L)))
  }

  test("argmaxDotLocal agrees with the kernel column, ties to the smaller id") {
    // ids 3 and 7 share a centroid: every vector that prefers it ties
    val cb: Ann.Codebook = Seq(3L -> Seq(1L, 0L), 5L -> Seq(0L, 1L), 7L -> Seq(1L, 0L))
    val kernel = corpus.select(col("vec_id"), Ann.argmaxDot(col("v"), cb))
      .as[(Long, Long)].collect().toMap
    val local = (0 until 40).map(i => i.toLong -> Ann.argmaxDotLocal(vec(i), cb)._1).toMap
    assert(kernel == local)
    // vec 1 = (0,-1) ties 3 and 7 at 0; vec 5 = (0,0) ties all three
    assert(local(1L) == 3L && local(5L) == 3L)
    assert(!local.values.exists(_ == 7L), "7 duplicates 3, so it never wins a tie")
  }

  for (name <- Seq("q153", "q160", "q173", "q186"))
    test(s"$name leaves no persisted RDD or cached plan behind") {
      val full = SparkEntry.queries.keys.find(_.startsWith(name + "_")).get
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.queries(full)(spark, SparkSpec.testdata("0.001")).collect()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"leaked persistent RDD ids: $leaked")
      assert(spark.sharedState.cacheManager.isEmpty, "cached plans left behind")
    }

  test("the quantization is written only in Ann and AnnOracle; LitCodebook is gone") {
    val root = Paths.get("src/main/scala")
    def filesWith(text: String) = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(text))
      .map(p => root.relativize(p).toString).toList.sorted)
    val quantizing = filesWith("FLOOR(CAST(x AS DOUBLE)*1000 + 0.5)")
    assert(quantizing.nonEmpty &&
      quantizing.forall(Set("graft/queries/Ann.scala", "graft/queries/AnnOracle.scala")),
      s"quantization written in $quantizing")
    assert(filesWith("LitCodebook").isEmpty)
  }
}

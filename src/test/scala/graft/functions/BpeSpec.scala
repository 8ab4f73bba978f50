package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE training + encoding: the dataflow trainer against an in-memory
  * brute-force reference, the greedy-pass/string-replace equivalence
  * the oracle's exactness pin rests on, and the memoized scan counter
  * against the explode-and-join formulation. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference trainer: same semantics, plain Scala. */
  private def refTrain(wf: Map[String, Long], k: Int): Seq[(String, String)] = {
    var states = wf.keys.map(w => w -> w.toCharArray.map(_.toString).toList).toMap
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- states; (a, b) <- syms.zip(syms.tail) if a != b)
        counts((a, b)) = counts.getOrElse((a, b), 0L) + wf(w)
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        states = states.map { case (w, syms) =>
          w -> Bpe.mergePass(syms.toArray, best._1, best._2).toList
        }
      }
    }
    merges.toSeq
  }

  private def refSegment(w: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(w.toCharArray.map(_.toString).toSeq) { case (s, (l, r)) =>
      Bpe.mergePass(s.toArray, l, r).toSeq
    }

  test("learnMerges: dataflow and local paths both match the brute-force trainer") {
    val rng = new scala.util.Random(5)
    for (trial <- 0 until 3) {
      val alphabet = "abcde"
      val words = Seq.fill(40)(
        (0 until (1 + rng.nextInt(7))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
      val wf = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val wfDf = wf.toSeq.toDF("w", "freq")
      val expect = refTrain(wf, 12)
      // maxDriverVocab = 0 forces the dataflow; the default gate admits
      // this vocabulary and takes the driver-local fast path
      assert(Bpe.learnMerges(wfDf, 12, maxDriverVocab = 0) == expect,
        s"dataflow, trial $trial")
      assert(Bpe.learnMerges(wfDf, 12) == expect, s"local, trial $trial")
    }
  }

  test("local == dataflow on deliberate frequency ties (argmax l/r order)") {
    // (a,b) and (c,d) tie at 3 -> (a,b) wins on l; then within the
    // a-words, (a,c) vs (a,d) tie -> r breaks it. Every round of both
    // paths must agree, so compare full merge lists.
    val wf = Seq(
      ("ab", 3L), ("cd", 3L), ("ac", 2L), ("ad", 2L), ("ce", 1L), ("be", 1L))
    val wfDf = wf.toDF("w", "freq")
    val local = Bpe.learnMergesLocal(wf.toArray, 8)
    val dataflow = Bpe.learnMerges(wfDf, 8, maxDriverVocab = 0)
    assert(local == dataflow)
    assert(local == refTrain(wf.toMap, 8))
    assert(local.head == ("a", "b"), "l-order tie-break")
  }

  test("learnMerges falls back to dataflow when the vocabulary exceeds the gate") {
    val wf = Seq(("ab", 5L), ("ba", 4L), ("aab", 3L), ("bb", 2L))
    val wfDf = wf.toDF("w", "freq")
    // gate of 2 rows < 4 words: must fall through to the dataflow and
    // still produce the reference merges
    assert(Bpe.learnMerges(wfDf, 6, maxDriverVocab = 2) == refTrain(wf.toMap, 6))
  }

  test("local trainer runs production-scale K in seconds") {
    // ~8k distinct words, K=2000 requested (stops when pairs exhaust).
    // The dataflow path costs one Spark job per merge - minutes at this
    // K even locally; the local path must stay well under that.
    val rng = new scala.util.Random(17)
    val alphabet = "abcdefghijklmnop"
    val words = (0 until 8000).map(_ =>
      (0 until (3 + rng.nextInt(10))).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
      .distinct.map(w => (w, 1L + rng.nextInt(50))).toArray
    val t0 = System.nanoTime()
    val merges = Bpe.learnMergesLocal(words, 2000)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"K=${merges.size} merges over ${words.length} words in $sec%.2f s")
    assert(merges.size == 2000, "vocabulary this size must sustain 2000 merges")
    assert(sec < 60.0, f"local trainer too slow: $sec%.1f s")
  }

  test("learnMerges stops early when no non-self pair remains (both paths)") {
    // single repeated letter words: every adjacent pair is a self-pair
    val wfDf = Seq(("aaa", 5L), ("aa", 3L), ("b", 2L)).toDF("w", "freq")
    assert(Bpe.learnMerges(wfDf, 10).isEmpty)
    assert(Bpe.learnMerges(wfDf, 10, maxDriverVocab = 0).isEmpty)
  }

  test("mergePass is greedy left-to-right, non-overlapping") {
    assert(Bpe.mergePass(Array("a", "b", "a", "b"), "a", "b").toSeq == Seq("ab", "ab"))
    assert(Bpe.mergePass(Array("x", "x", "x"), "x", "x").toSeq == Seq("xx", "x"))
    assert(Bpe.mergePass(Array("a", "b", "b"), "a", "b").toSeq == Seq("ab", "b"))
    assert(Bpe.mergePass(Array.empty[String], "a", "b").toSeq == Seq.empty)
  }

  /** The oracle applies a merge as a non-overlapping string replace on
    * a '|'-fenced state, iterated to fixpoint; for l != r that must
    * equal ONE greedy pass — the exactness pin for the DuckDB replay. */
  test("string-replace fixpoint == one greedy pass for non-self pairs") {
    val rng = new scala.util.Random(11)
    for (_ <- 0 until 200) {
      val syms = Seq.fill(1 + rng.nextInt(10))(if (rng.nextBoolean()) "x" else "y")
      def replaceFix(s: String): String = {
        val next = s.replace("|x|y|", "|xy|")
        if (next == s) s else replaceFix(next)
      }
      val viaReplace = replaceFix(syms.mkString("|", "|", "|"))
        .split('|').filter(_.nonEmpty).toSeq
      val viaPass = Bpe.mergePass(syms.toArray, "x", "y").toSeq
      assert(viaReplace == viaPass, s"input $syms")
    }
  }

  test("segment expression equals the fold reference; unseen words fall back to chars") {
    val merges = Seq(("a", "b"), ("ab", "c"), ("d", "e"))
    val words = Seq("abc", "abcabc", "dead", "zzz", "a", "xabcy", "er1")
    val got = words.toDF("w")
      .select(col("w"), Bpe.segment(col("w"), merges).as("p"))
      .as[(String, Seq[String])].collect().toMap
    for (w <- words) assert(got(w) == refSegment(w, merges), w)
    assert(got("zzz") == Seq("z", "z", "z")) // nothing merges: char fallback
  }

  test("encodeIds: flat id sequence == per-word segment + vocab lookup; OOV -> UnkId") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val vocab = Map("abc" -> 1, "d" -> 2, "z" -> 3, "ab" -> 4)
    val got = Seq((0L, "abc d"), (1L, "  ZQ  aB "), (2L, ""), (3L, "abc abc abc"))
      .toDF("i", "t")
      .select(col("i"), Bpe.encodeIds(col("t"), merges, vocab).as("ids"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(0L) == Seq(1, 2))
    // normalization lowers + trims; "zq" segments to [z, q]; q is OOV
    assert(got(1L) == Seq(3, Bpe.UnkId, 4))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq(1, 1, 1), "memoized repeat words")
  }

  test("pieceVocab ids are 1-based, UTF-8 ordered, and cover every corpus piece") {
    val docs = Seq((0L, "abc abd"), (1L, "ca b")).toDF("doc_id", "text")
    val merges = Seq(("a", "b"))
    val v = Bpe.pieceVocab(docs, "text", merges)
    // pieces: abc->[ab,c], abd->[ab,d], ca->[c,a], b->[b]
    assert(v.keySet == Set("ab", "c", "d", "a", "b"))
    assert(v.values.toSeq.sorted == (1 to v.size))
    assert(v("a") < v("ab") && v("ab") < v("b") && v("b") < v("c") && v("c") < v("d"))
  }

  test("bpeTokenCount == explode + per-word segment + sum") {
    val docsDf = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val merges = Bpe.learnMerges(Bpe.wordFreq(docsDf, "text"), 16)
    val viaScan = docsDf.select(col("doc_id"),
      Bpe.bpeTokenCount(col("text"), merges).as("n")).as[(Long, Long)].collect().toMap
    val viaExplode = docsDf
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
      .select(col("doc_id"), size(Bpe.segment(col("w"), merges)).cast("long").as("k"))
      .groupBy("doc_id").agg(sum(col("k")).as("n"))
      .as[(Long, Long)].collect().toMap
    // scan form keeps empty docs at 0; explode form drops them
    for ((d, n) <- viaExplode) assert(viaScan(d) == n, s"doc $d")
    assert(viaScan.keySet.diff(viaExplode.keySet)
      .forall(d => viaScan(d) == 0L))
  }

  test("dataflow learnMerges leaves no persisted RDD or cached plan behind") {
    // the q148 leak: the 8-round localCheckpoints stayed persisted
    val wf = Bpe.wordFreq(
      graft.Tables.load(spark, graft.SparkSpec.testdata("0.001"), "documents"), "text")
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 20 rounds: checkpoints at the start and after rounds 8 and 16
    assert(Bpe.learnMerges(wf, 20, maxDriverVocab = 0).size == 20)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDD ids: $leaked")
    assert(spark.sharedState.cacheManager.isEmpty, "cached plans left behind")
  }
}

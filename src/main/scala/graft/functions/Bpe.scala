package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding subword tokenization as dataflow — the real-token
  * counterpart of [[TextFunctions.subwordCount]]'s proxy, so token
  * budgets (q122-family) and sequence packing (q89-family) can run on
  * actual BPE counts.
  *
  * Design for 100 TB:
  *
  *  - TRAINING ([[Bpe.learnMerges]]) runs at VOCABULARY grain: the
  *    corpus collapses once to a (word, freq) table and every merge
  *    round touches only that table — pair candidates are one
  *    vocab-grain shuffle per round, the argmax is a 1-row fetch
  *    (bounded driver data, same discipline as the k-means sampler in
  *    `Similarity.kmeansCentroids`). The corpus is never rescanned.
  *  - ENCODING rides in the scan: [[Bpe.bpeTokenCount]] is a single
  *    expression over the raw text — no explode, no shuffle; the
  *    merges table is broadcast in the task closure and a per-task
  *    memo caches each distinct word's piece count, so per-row cost is
  *    a hash probe for all but the first sighting of a word (Zipf:
  *    the overwhelming majority of token occurrences are cache hits).
  *
  * Oracle-exactness pins (the q141 "pinned exact regime" playbook —
  * every rule exists so a DuckDB recursive CTE can replay the exact
  * same merges and counts, making the gate a hash match):
  *
  *  - candidate pairs with `left == right` are EXCLUDED from training:
  *    the replay applies a merge as a non-overlapping string replace,
  *    which is only order-equivalent to the left-to-right greedy pass
  *    when occurrences cannot share a boundary symbol (x,x,x,x,x
  *    diverges; x,y never can — see BpeSpec's property test);
  *  - ties in pair frequency break by (left, right) ascending binary
  *    string order — identical in Spark and DuckDB;
  *  - training words are restricted to `^[a-z]+$` (encoding accepts
  *    any word and falls back toward characters).
  */
object Bpe {

  /** One left-to-right greedy merge pass over a symbol sequence:
    * non-overlapping adjacent (l, r) occurrences become l+r. For
    * l != r (the trained regime) one pass reaches the fixpoint —
    * merging cannot create a new (l, r) adjacency. */
  def mergePass(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Segment one word: characters, then each merge in rank order. */
  def segmentWord(word: String, merges: Array[(String, String)]): Array[String] = {
    var syms = word.toCharArray.map(_.toString)
    var m = 0
    while (m < merges.length && syms.length > 1) {
      syms = mergePass(syms, merges(m)._1, merges(m)._2)
      m += 1
    }
    syms
  }

  /** Learn `k` BPE merges from a (word, freq) table. Self-pairs are
    * excluded (oracle-exactness pin, see object doc).
    *
    * Two regimes behind one call, the `maxDriverEdges` gate discipline
    * of `Dedup.connectedComponents`:
    *
    *  - FAST PATH (default): the (word, freq) table is vocabulary-grain
    *    and small BY CONSTRUCTION — when it fits `maxDriverVocab` rows
    *    it is collected once (bounded driver action) and the classic
    *    in-memory trainer runs all `k` rounds driver-side in
    *    milliseconds-per-merge. Production tokenizers train
    *    K=30,000–100,000 merges; the dataflow path costs one Spark job
    *    PER MERGE, i.e. days of scheduler overhead at that K regardless
    *    of cluster size, so the local path is the production regime
    *    (K=2000 measured in seconds — SCALING.md "BPE").
    *  - DATAFLOW fallback (`maxDriverVocab` exceeded, or forced with
    *    `maxDriverVocab = 0` as q148 and the spec's parity tests do):
    *    each round is one vocabulary-grain shuffle (adjacent-pair
    *    candidates → weighted count) plus a single-row argmax fetch;
    *    stops early when no candidate pair remains. The state is
    *    `localCheckpoint`ed once and then every 8 rounds, which bounds
    *    the lineage like `Graph.pageRankFixedPoint`; a merge between
    *    checkpoints is a projection, and every checkpoint is released
    *    before the call returns.
    *
    * The two paths are merge-for-merge IDENTICAL (BpeSpec property
    * tests, including frequency ties): same adjacent-occurrence
    * weighted counts, same (cnt DESC, l, r) argmax with l/r compared in
    * UTF-8 BINARY order (Spark's StringType sort), same greedy
    * non-overlapping merge pass. */
  def learnMerges(wordFreq: DataFrame, k: Int,
      maxDriverVocab: Int = 1 << 20): Seq[(String, String)] = {
    if (maxDriverVocab > 0) {
      val head = wordFreq
        .select(col("w").cast("string"), col("freq").cast("long"))
        .limit(maxDriverVocab + 1).collect()
      if (head.length <= maxDriverVocab)
        return learnMergesLocal(head.map(r => (r.getString(0), r.getLong(1))), k)
    }
    // The (w, freq, syms) state is checkpointed once, and again every 8
    // rounds to bound the lineage (like `Graph.pageRankFixedPoint`).
    // Between checkpoints a merge is a plain projection: each round's
    // argmax re-applies at most 7 vocabulary-grain BpeMergeAdjacent
    // passes over the last checkpoint, which costs less than a per-round
    // persist, whose fill AQE runs as a query stage (a job) of its own.
    var ckpt: DataFrame = null
    def checkpoint(df: DataFrame): DataFrame = {
      val prev = ckpt
      ckpt = df.localCheckpoint(true)
      if (prev != null) graft.Checkpoints.release(prev) // ckpt holds the data now
      ckpt
    }
    var state = checkpoint(wordFreq
      // split(w, '') appends a trailing "" (Java regex split, limit -1):
      // strip it, or phantom (lastChar, "") candidates enter training
      // and — "" being the UTF-8 minimum — win any frequency tie,
      // diverging from the oracle replay and the local fast path
      .select(col("w"), col("freq"),
        array_remove(split(col("w"), ""), "").as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    try {
      while (round < k && !exhausted) {
        val best = state
          .select(col("freq"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .filter(col("p.l") =!= col("p.r"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val l = best(0).getString(0)
          val r = best(0).getString(1)
          merges += ((l, r))
          state = state.withColumn("syms",
            org.apache.spark.sql.graft.shim.column(
              BpeMergeAdjacent(org.apache.spark.sql.graft.shim.expression(col("syms")), l, r)))
          round += 1
          // no checkpoint after the last round: nothing reads it
          if (round % 8 == 0 && round < k) state = checkpoint(state)
        }
      }
    } finally if (ckpt != null) graft.Checkpoints.release(ckpt)
    merges.toSeq
  }

  /** Unsigned byte-wise comparison of the UTF-8 encodings — the exact
    * order Spark sorts StringType by (UTF8String.compareTo), replicated
    * driver-side so local argmax tie-breaks match the dataflow's. */
  private[functions] def utf8Compare(a: String, b: String): Int = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  /** Code-point split — `split(w, '')` semantics minus the trailing
    * empty: Java's zero-width regex matches between code POINTS, so a
    * surrogate pair stays one symbol (toCharArray would split it). */
  private[functions] def codePointSyms(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Driver-local exact twin of the dataflow trainer — the production
    * path for real tokenizer K (see [[learnMerges]]). Per round:
    * weighted adjacent-OCCURRENCE pair counts (self-pairs excluded),
    * argmax by (count DESC, l, r) in UTF-8 binary order, one greedy
    * [[mergePass]] over the words still containing the pair. O(V·L)
    * per round over the vocabulary — no job scheduling, no shuffle. */
  def learnMergesLocal(words: Array[(String, Long)], k: Int): Seq[(String, String)] = {
    var state: Array[(Array[String], Long)] =
      words.map { case (w, f) => (codePointSyms(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]()
      var wi = 0
      while (wi < state.length) {
        val (syms, f) = state(wi)
        var i = 0
        while (i + 1 < syms.length) {
          if (syms(i) != syms(i + 1)) {
            val key = (syms(i), syms(i + 1))
            val cur = counts.get(key)
            counts.put(key, if (cur == null) f else cur.longValue() + f)
          }
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestPair: (String, String) = null
        var bestCnt = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val p = e.getKey
          val c = e.getValue.longValue()
          val better = c > bestCnt || (c == bestCnt && {
            val cl = utf8Compare(p._1, bestPair._1)
            cl < 0 || (cl == 0 && utf8Compare(p._2, bestPair._2) < 0)
          })
          if (better) { bestPair = p; bestCnt = c }
        }
        merges += bestPair
        state = state.map { case (syms, f) =>
          var has = false
          var i = 0
          while (!has && i + 1 < syms.length) {
            has = syms(i) == bestPair._1 && syms(i + 1) == bestPair._2
            i += 1
          }
          if (has) (mergePass(syms, bestPair._1, bestPair._2), f) else (syms, f)
        }
        round += 1
      }
    }
    merges.toSeq
  }

  /** The trained (word, freq) table for a documents frame: whitespace
    * tokens of the normalized text, restricted to `^[a-z]+$`. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Pieces of one word under a fixed merge table (array<string>). */
  def segment(word: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(BpeSegment(shim.expression(word), merges))
  }

  /** BPE token count of a whole text in ONE pass — normalize,
    * whitespace-split, memoized per-word piece count, sum. No explode,
    * no shuffle; merges ride the task closure (broadcast-sized). */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(BpeTokenCount(shim.expression(text), merges))
  }

  /** Vocabulary id for pieces the vocabulary doesn't contain (ids are
    * 1-based). With a vocabulary built by [[pieceVocab]] over the same
    * corpus being encoded, UNK never fires; it exists so encoding a
    * NEW corpus against a frozen tokenizer degrades to a flagged id
    * instead of an error — the production OOV contract. */
  val UnkId = 0

  /** The tokenizer's piece→id table: every distinct piece the merge
    * table produces over the corpus vocabulary, id'd 1..N in UTF-8
    * binary order (deterministic, and exactly DuckDB's default string
    * collation, so an oracle can replay the assignment). The piece set
    * is bounded by |base alphabet| + K merges — a bounded driver
    * object by construction, same class as the merges themselves. */
  def pieceVocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): Map[String, Int] = {
    val pieces = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .distinct()
      .select(explode(segment(col("w"), merges)).as("piece"))
      .distinct()
      .collect().map(_.getString(0))
    pieces.sortWith((a, b) => utf8Compare(a, b) < 0)
      .zipWithIndex.map { case (p, i) => (p, i + 1) }.toMap
  }

  /** The document's flat BPE token-ID sequence (`array<int>`) in ONE
    * scan pass — the artifact a training pipeline actually ships (the
    * count form above only feeds budgeting). Same no-explode/no-shuffle
    * shape as [[bpeTokenCount]]; merges AND vocab ride the closure. */
  def encodeIds(text: Column, merges: Seq[(String, String)],
      vocab: Map[String, Int]): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(BpeEncodeIds(shim.expression(text), merges, vocab))
  }
}

/** `array<string>` → `array<string>`: one greedy left-to-right merge
  * pass of the constant pair (l, r) — the trainer's per-round rewrite,
  * running at vocabulary grain. */
case class BpeMergeAdjacent(child: Expression, l: String, r: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_merge_adjacent"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val syms = new Array[String](arr.numElements())
    var i = 0
    while (i < syms.length) { syms(i) = arr.getUTF8String(i).toString; i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Bpe.mergePass(syms, l, r).map(UTF8String.fromString))
  }

  override protected def withNewChildInternal(c: Expression): BpeMergeAdjacent =
    copy(child = c)
}

/** `string` word → `array<string>` BPE pieces under a fixed merge
  * table (applied in rank order). Vocabulary-grain use. */
case class BpeSegment(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {
  require(merges.forall(m => m._1 != m._2),
    "self-pair merges break oracle replay (see Bpe object doc)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_segment"

  @transient private lazy val mergeArr = merges.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Bpe.segmentWord(input.asInstanceOf[UTF8String].toString, mergeArr)
        .map(UTF8String.fromString))

  override protected def withNewChildInternal(c: Expression): BpeSegment =
    copy(child = c)
}

/** `string` text → `bigint`: total BPE piece count over the whitespace
  * tokens of the normalized text. Per-task memo keyed by word — under
  * a Zipfian vocabulary nearly every occurrence is a hash probe, so
  * the expression costs ~one split pass per row and the corpus never
  * leaves the scan (no explode, no shuffle). Memo capped so an
  * adversarial unbounded vocabulary degrades to recompute, not OOM. */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {
  require(merges.forall(m => m._1 != m._2),
    "self-pair merges break oracle replay (see Bpe object doc)")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_token_count"

  @transient private lazy val mergeArr = merges.toArray
  // ConcurrentHashMap, not HashMap: tasks normally deserialize their own
  // expression instance (thread confinement), but driver-side eval and
  // plan-reuse paths can share one — a shared plain HashMap could corrupt
  // or live-lock on concurrent resize. Same asymptotic cost.
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val memoCap = 1 << 20

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT).trim
    if (text.isEmpty) 0L
    else {
      val words = text.split("\\s+")
      var total = 0L
      var i = 0
      while (i < words.length) {
        val w = words(i)
        val cached = memo.get(w)
        if (cached != null) total += cached.longValue()
        else {
          val n = Bpe.segmentWord(w, mergeArr).length.toLong
          if (memo.size < memoCap) memo.put(w, n)
          total += n
        }
        i += 1
      }
      total
    }
  }

  override protected def withNewChildInternal(c: Expression): BpeTokenCount =
    copy(child = c)
}

/** `string` text → `array<int>`: the flat BPE token-id sequence of the
  * whole document — normalize, whitespace-split, segment each word
  * under the merge table, map every piece through the piece→id
  * vocabulary ([[Bpe.pieceVocab]]; unknown pieces → [[Bpe.UnkId]]).
  * Per-task memo keyed by word caches each distinct word's id array
  * (Zipf: almost every occurrence is a hash probe + arraycopy), capped
  * like [[BpeTokenCount]]'s so an adversarial vocabulary degrades to
  * recompute, not OOM. No explode, no shuffle — the id sequence is
  * born inside the scan. */
case class BpeEncodeIds(child: Expression, merges: Seq[(String, String)],
    vocab: Map[String, Int]) extends UnaryExpression with CodegenFallback {
  require(merges.forall(m => m._1 != m._2),
    "self-pair merges break oracle replay (see Bpe object doc)")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode_ids"

  @transient private lazy val mergeArr = merges.toArray
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Int]]()
  private val memoCap = 1 << 20

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  private def idsOf(w: String): Array[Int] = {
    val cached = memo.get(w)
    if (cached != null) cached
    else {
      val pieces = Bpe.segmentWord(w, mergeArr)
      val ids = new Array[Int](pieces.length)
      var i = 0
      while (i < pieces.length) {
        ids(i) = vocab.getOrElse(pieces(i), Bpe.UnkId)
        i += 1
      }
      if (memo.size < memoCap) memo.put(w, ids)
      ids
    }
  }

  override protected def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT).trim
    if (text.isEmpty)
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Int])
    else {
      val words = text.split("\\s+")
      val perWord = new Array[Array[Int]](words.length)
      var total = 0
      var i = 0
      while (i < words.length) {
        perWord(i) = idsOf(words(i)); total += perWord(i).length; i += 1
      }
      val out = new Array[Int](total)
      var o = 0
      i = 0
      while (i < words.length) {
        System.arraycopy(perWord(i), 0, out, o, perWord(i).length)
        o += perWord(i).length
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): BpeEncodeIds =
    copy(child = c)
}

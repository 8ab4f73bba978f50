package graft.queries

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The integer-quantized ANN / IVF / PQ / SQ8 catalog family's shared
  * stages (q86 q90 q92 q93 q153 q160 q166 q167 q168 q172 q173 q179 q186
  * q190 q208 q209 q210). [[AnnOracle]] generates the matching DuckDB
  * CTEs.
  *
  * Why integers: float cosines cannot be hashed bit-for-bit across two
  * engines, so every member quantizes the unit-norm embeddings ×1000
  * with round-half-up ([[quantize]]) and then scores with integer dots,
  * integer L2 and integer floor means. Products stay ≤ ~2.5e13, far
  * inside int64, and every tie breaks on the smaller id, so DuckDB
  * replays assignment, probing, encoding, training and ranking exactly.
  * The float/production path of each topology (q40–q49) lives in
  * [[graft.operators.Similarity]]; these twins put the topology itself
  * under the hash gate.
  *
  * Literal codebooks: every coarse or product codebook in the family is
  * a FIXED, tiny set of centroids (8–16 vectors, by construction of the
  * queries and of the index families they model — FAISS trains and
  * serves codebooks from memory) at any corpus size. [[codebook]]
  * collects it bounded and driver-side, and assignment becomes a per-row
  * projection: per pass, no corpus×|codebook| candidate explode, no
  * corpus-grain exchange and no argmin window with its two sorts. Only
  * the codebook (≤ 16×64 longs) leaves the executors, the same rows a
  * broadcast would ship.
  *
  * The selection runs through [[graft.functions.CodebookArgmin]]: one
  * fused codegen'd loop over a reference-held long[][] per row,
  * returning the winning candidate INDEX. A per-row array of (key, id)
  * structs with `array_min` measured 1.3–1.9× SLOWER at sf1 than even
  * the broadcast-join + window form on the assignment-dominated queries
  * (q90/q166/q172/q210): K struct allocations and K−1 interpreted
  * comparisons per row. Candidates are sorted by ascending id and the
  * kernel keeps the FIRST best key, so the selection is exactly the
  * window form's (key, id ASC) top-1, bit for bit.
  *
  * Caching: a stage that needs a cache owns it and releases it before
  * returning ([[trainPQ]]). A corpus-grain frame that only the returned
  * lazy plan reads is not persisted: a ≤16-dot projection recomputes
  * more cheaply than a corpus-grain `array<long>` cache writes, and the
  * scans it would save share exchanges through ReuseExchange.
  */
private[queries] object Ann {

  /** The ×1000 round-half-up quantization of a float `x`, in SQL that
    * Spark and DuckDB both parse. The one place the family's number
    * format lives. */
  val quantizedX = "CAST(FLOOR(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)"

  /** [[quantizedX]] as a lambda over array elements. */
  val quantize = s"x -> $quantizedX"

  /** The quantized `embedding` column of the embeddings table. */
  def quantizedEmbedding: Column = expr(s"transform(embedding, $quantize)")

  /** The quantized corpus `(vec_id, extraCols..., v)`, widened for the
    * per-row kernels by [[graft.operators.Fanout.forKernel]]. */
  def quantized(s: SparkSession, dir: String, extraCols: String*): DataFrame =
    graft.operators.Fanout.forKernel(Tables.load(s, dir, "embeddings"))
      .select((col("vec_id") +: extraCols.map(col)) :+ quantizedEmbedding.as("v"): _*)

  /** The family's 20 queries: `(query_id, qv)` for vec_id < 20. */
  def queries(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** Integer dot of two `array<bigint>` columns (the codegen'd kernel). */
  def dot(a: String, b: String): Column = VectorFunctions.longDot(col(a), col(b))

  /** Per-query top-k of `(query_id, vec_id, score)` rows by (score DESC,
    * vec_id ASC), with the 1-based `rank` as a long. */
  def topK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col(score).desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Brute-force top-k by integer dot with the corpus' `vec` column
    * (`r` scores SQ8's reconstruction), the query itself excluded:
    * `(query_id, vec_id, dot, rank)`. Corpus × broadcast queries — the
    * deliberate baseline PlanSpec allowlists. */
  def exactTopK(corpus: DataFrame, queries: DataFrame, k: Int, vec: String = "v"): DataFrame =
    topK(corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), dot(vec, "qv").as("dot")), "dot", k)

  /** Per-query recall of an approximate top-k against the exact one, in
    * the catalog's 16-bit fixed point: `(query_id, n_exact, n_hit,
    * recall_fp)` with recall_fp = n_hit·65536 div n_exact. */
  def recall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id").as("a_qid"), col("vec_id").as("a_vid")),
        col("a_qid") === col("query_id") && col("a_vid") === col("vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("a_vid").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall_fp", expr("(n_hit * 65536) div n_exact"))

  // ---- codebooks ----

  /** (id, centroid) rows, sorted by id. */
  type Codebook = Seq[(Long, Seq[Long])]

  /** Bounded collect of an (id, vec) codebook. Callers pass an
    * already-limited frame (8–16 rows). */
  def codebook(df: DataFrame, idCol: String, vecCol: String): Codebook =
    df.select(col(idCol).cast("long"), col(vecCol)).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)

  /** The untrained codebook convention: the n lowest-id vectors. */
  def lowestIds(corpus: DataFrame, n: Int): Codebook =
    codebook(corpus.orderBy("vec_id").limit(n), "vec_id", "v")

  /** A literal BIGINT array column. */
  private def lit64(v: Seq[Long]): Column = expr(v.mkString("array(", "L,", "L)"))

  /** 1-based winning-candidate index from the fused kernel. */
  private def winner(v: Column, cb: Codebook, l2: Boolean): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(graft.functions.CodebookArgmin(
      shim.expression(v), cb.map(_._2.toArray).toArray, l2)) + lit(1)
  }

  /** Id of the candidate with the largest dot with `v`, ties to the
    * smaller id — the coarse-quantizer selection. */
  def argmaxDot(v: Column, cb: Codebook): Column =
    element_at(lit64(cb.map(_._1)), winner(v, cb, l2 = false))

  /** Id of the candidate nearest to `v` in integer L2, ties to the
    * smaller id — the PQ sub-quantizer selection. */
  def argminL2(v: Column, cb: Codebook): Column =
    element_at(lit64(cb.map(_._1)), winner(v, cb, l2 = true))

  /** Driver-side twin of [[argmaxDot]] — identical Long arithmetic and
    * (dot DESC, id ASC) selection — for deriving bounded codebooks from
    * already-collected rows without another job. */
  def argmaxDotLocal(v: Seq[Long], cb: Codebook): (Long, Seq[Long]) =
    cb.map { case (id, cv) =>
      val d = cv.zip(v).foldLeft(0L) { case (acc, (a, b)) => acc + a * b }
      ((-d, id), (id, cv))
    }.minBy(_._1)._2

  // ---- IVF ----

  /** Coarse assignment: `list_id` = [[argmaxDot]] of `v`. */
  def assign(df: DataFrame, cents: Codebook): DataFrame =
    df.withColumn("list_id", argmaxDot(col("v"), cents))

  /** Coarse assignment keeping the RESIDUAL v − centroid (IVF-PQ):
    * `(vec_id, list_id, rv)`. Both derive from the one kernel index; the
    * centroid is an element_at over a constant array of the codebook. */
  def assignResidual(df: DataFrame, cents: Codebook): DataFrame = {
    val idx = winner(col("v"), cents, l2 = false)
    df.withColumn("_a", struct(
        element_at(lit64(cents.map(_._1)), idx).as("id"),
        element_at(array(cents.map { case (_, cv) => lit64(cv) }: _*), idx).as("centv")))
      .select(col("vec_id"), col("_a.id").as("list_id"),
        expr("zip_with(v, _a.centv, (a, b) -> a - b)").as("rv"))
  }

  /** The nProbe best lists per query by (dot DESC, list_id ASC):
    * `(query_id, qv, list_id, qcdot)`, qcdot = dot(query, centroid).
    * The candidates are sorted INSIDE the query row (array_sort + slice
    * + explode); the struct form is fine here because it runs on the
    * bounded query frame, never the corpus. */
  def probe(queries: DataFrame, cents: Codebook, nProbe: Int): DataFrame = {
    val cands = array(cents.map { case (id, cv) =>
      struct((-VectorFunctions.longDot(col("qv"), lit64(cv))).as("nd"), lit(id).as("id"))
    }: _*)
    queries
      .select(col("query_id"), col("qv"), explode(slice(array_sort(cands), 1, nProbe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.id").as("list_id"), (-col("p.nd")).as("qcdot"))
  }

  /** Candidates of the probed lists scored by exact integer dot, the
    * query itself excluded: `(query_id, vec_id, dot)`. */
  def scoreProbed(assigned: DataFrame, probes: DataFrame): DataFrame =
    assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), dot("v", "qv").as("dot"))

  // ---- PQ: M = 4 subspaces of 16 dims, codebooks per subspace ----

  private val M = 4
  private val SubDims = 16

  /** Per-subspace codebooks, subspace m → (id, subvector) sorted by id. */
  type PqCodebook = Map[Int, Codebook]

  /** Explode each vector into its M subvectors: `(keep..., m, sv)`. */
  def subspaces(df: DataFrame, vecCol: String, keep: String*): DataFrame = {
    val parts = explode(array((0 until M).map { m =>
      struct(lit(m).as("m"), expr(s"slice($vecCol, ${m * SubDims + 1}, $SubDims)").as("sv"))
    }: _*)).as("s")
    df.select(keep.map(col) :+ parts: _*)
      .select(keep.map(col) ++ Seq(col("s.m").as("m"), col("s.sv").as("sv")): _*)
  }

  /** Slice a full-vector codebook into the per-subspace layout. */
  def subCodebooks(rows: Codebook): PqCodebook =
    (0 until M).map(m => m -> rows.map { case (id, v) =>
      id -> v.slice(m * SubDims, (m + 1) * SubDims) }).toMap

  /** The code of subvector `sv` in subspace `m`: one CASE over m. */
  private def codeOf(cb: PqCodebook): Column =
    (1 until M).foldLeft(when(col("m") === 0, argminL2(col("sv"), cb(0)))) {
      case (acc, m) => acc.when(col("m") === m, argminL2(col("sv"), cb(m)))
    }

  /** Encode [[subspaces]] rows: `sv` replaced by its `code`. */
  def encode(sub: DataFrame, cb: PqCodebook): DataFrame =
    sub.withColumn("code", codeOf(cb)).drop("sv")

  /** The codebook as a LocalRelation `(m, cb_id, centv)`: M·|codebook|
    * rows at any scale. */
  private def codebookDf(s: SparkSession, cb: PqCodebook): DataFrame = {
    import s.implicits._
    (0 until M).flatMap(m => cb(m).map { case (id, cv) => (m, id, cv) })
      .toDF("m", "cb_id", "centv")
  }

  /** Per-query ADC lookup tables `(query_id, m, cb_id, pdot)`: the
    * partial dot of each query subvector with each codebook entry. */
  def lut(queries: DataFrame, cb: PqCodebook): DataFrame =
    subspaces(queries, "qv", "query_id").withColumnRenamed("sv", "qsv")
      .join(broadcast(codebookDf(queries.sparkSession, cb)), Seq("m"))
      .select(col("query_id"), col("m"), col("cb_id"), dot("qsv", "centv").as("pdot"))

  /** Asymmetric-distance top-k: approx dot = Σ_m lut[m][code_m], as
    * codes ⋈ broadcast LUT + groupBy sum, the query itself excluded:
    * `(query_id, vec_id, dot_pq, rank)`. */
  def adcTopK(codes: DataFrame, qlut: DataFrame, k: Int): DataFrame =
    topK(codes
      .join(broadcast(qlut), codes("m") === qlut("m") && codes("code") === qlut("cb_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("dot_pq")), "dot_pq", k)

  /** Trained PQ codebooks: init = the `init` lowest ids' subvectors, then
    * `rounds` Lloyd iterations per subspace in exact integer arithmetic.
    * Assignment is [[argminL2]] against the literal codebook (a pure
    * projection), the update a per-dim floor mean computed as
    * (Σ(x+4096) div n) − 4096 — the shift keeps every numerator
    * non-negative, so truncating and flooring division agree — in one
    * map-side-combined M·|codebook|·16-group aggregate per round,
    * collected bounded; empty clusters keep their previous centroid.
    * The codebook lives driver-side between rounds, the way FAISS
    * trains. The corpus is cached for the init and round jobs and
    * released before returning. */
  def trainPQ(corpus: DataFrame, init: Int, rounds: Int): PqCodebook = {
    corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sub = subspaces(corpus, "v", "vec_id")
      def update(cb: PqCodebook): PqCodebook = {
        val upd = sub.withColumn("code", codeOf(cb))
          .select(col("m"), col("code"), posexplode(col("sv")))
          .groupBy(col("m"), col("code"), col("pos"))
          .agg(expr("sum(col + 4096) div count(1) - 4096").as("cv"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getLong(1)))
          .map { case (key, rows) => key -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toSeq }
        cb.map { case (m, cbs) => m -> cbs.map { case (id, cv) => id -> upd.getOrElse((m, id), cv) } }
      }
      val cb0 = subCodebooks(lowestIds(corpus, init))
      (0 until rounds).foldLeft(cb0)((cb, _) => update(cb))
    } finally corpus.unpersist()
  }

  // ---- SQ8 ----

  /** SQ8 encode + reconstruct in one pass: per-DIMENSION min/max over
    * the corpus (the SQ "codebook": 2 arrays of 64 ints, reassembled into
    * ONE broadcastable row), each coordinate squeezed to an 8-bit code
    * (x−mn)·255 div (mx−mn) and reconstructed at the ×255 common
    * denominator, recon = mn·255 + code·(mx−mn): `(vec_id, r)`.
    * Numerators are ≥ 0 by construction, so Spark's `div` and DuckDB's
    * `//` agree; range-0 dims code to 0 and reconstruct to mn·255. */
  def sq8Recon(corpus: DataFrame): DataFrame = {
    val dims = corpus.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
    val cb = dims.agg(
      expr("transform(sort_array(collect_list(struct(d, mn))), s -> s.mn)").as("mns"),
      expr("transform(sort_array(collect_list(struct(d, mx))), s -> s.mx)").as("mxs"))
    corpus.crossJoin(broadcast(cb))
      .withColumn("r", expr(
        """transform(sequence(0, size(v) - 1), i ->
             element_at(mns, i+1) * 255 +
             ((element_at(v, i+1) - element_at(mns, i+1)) * 255 div
                greatest(element_at(mxs, i+1) - element_at(mns, i+1), 1L))
               * (element_at(mxs, i+1) - element_at(mns, i+1)))"""))
      .select(col("vec_id"), col("r"))
  }

  // ---- verify and hash planes ----

  /** `df` with its squared norm `nn` = dot(v, v), for [[cosVerified]]. */
  def normed(df: DataFrame): DataFrame = df.withColumn("nn", dot("v", "v"))

  /** Candidate `(id_a, id_b)` pairs kept where cosine ≥ 0.4, in integer
    * form: dot > 0 ∧ 25·dot² ≥ 4·na·nb (0.4² = 4/25 — exact, no float
    * division). `base` is [[normed]] `(vec_id, v, nn)`. */
  def cosVerified(pairs: DataFrame, base: DataFrame): DataFrame =
    pairs
      .join(base.select(col("vec_id").as("id_a"), col("v").as("va"), col("nn").as("na")),
        Seq("id_a"))
      .join(base.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nn").as("nb")),
        Seq("id_b"))
      .withColumn("dot", dot("va", "vb"))
      .filter(col("dot") > 0 && expr("25 * dot * dot") >= expr("4 * na * nb"))
      .select("id_a", "id_b")

  /** Hyperplane sign bits of `v`: bit j is set when dot(v, plane
    * planes(j)) ≥ 0. The planes are a deterministic LCG coefficient grid
    * coef(p, i) = (1103515245·(p·64+i) + 12345) mod 2¹⁶ − 2¹⁵, computed
    * identically by both engines (no float planes to drift), held as
    * literal arrays so each plane is one codegen'd longDot. */
  def signBits(planes: Seq[Int]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val coef = typedLit((0 until 64).map(i => (1103515245L * (p * 64 + i) + 12345L) % 65536L - 32768L))
      when(VectorFunctions.longDot(col("v"), coef) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
}

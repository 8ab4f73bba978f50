package graft.queries

/** DuckDB replay of the [[Ann]] family's repeated stages: WITH-clause
  * CTEs over the `embeddings` view, each the SQL twin of one Spark stage
  * (quantization, the 20 queries, exact and probed top-k, IVF
  * assignment, PQ encode/LUT/ADC and Lloyd training, SQ8 reconstruction,
  * the integer cosine verify, LCG sign bits, the recall fixed point).
  * Producing SQL text, not plans, the way [[MinhashOracle]] does: each
  * query strings together the CTEs it needs and appends its own. A
  * fragment ends WITHOUT a trailing comma. */
private[queries] object AnnOracle {

  /** `qz(vec_id, extra..., v)`: the corpus quantized by [[Ann.quantize]]. */
  def qz(extra: String*): String =
    s"""qz AS (
          SELECT vec_id,${extra.map(" " + _ + ",").mkString}
                 list_transform(embedding,
                   ${Ann.quantize}) AS v
          FROM embeddings
        )"""

  /** `q(query_id, qv)`: [[Ann.queries]]. */
  val q: String =
    """q AS (
          SELECT vec_id AS query_id, v AS qv FROM qz WHERE vec_id < 20
        )"""

  /** `exact(query_id, vec_id)`: [[Ann.exactTopK]] at k = 5. */
  val exact: String =
    """exact AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY CAST(list_sum(list_transform(generate_series(1, len(c.v)),
                       i -> c.v[i] * q.qv[i])) AS BIGINT) DESC, c.vec_id) AS rank
            FROM qz c, q
            WHERE c.vec_id <> q.query_id) t
          WHERE rank <= 5
        )"""

  /** `name(query_id, vec_id)`: brute-force top-k of `q` against the
    * `vec` column of `rel`, the query itself excluded. */
  def topKIds(name: String, rel: String, vec: String, k: Int): String =
    s"""$name AS (
          SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY CAST(list_sum(list_transform(
                       generate_series(1, len(c.$vec)),
                       i -> c.$vec[i] * q.qv[i])) AS BIGINT) DESC, c.vec_id) AS rank
            FROM $rel c, q
            WHERE c.vec_id <> q.query_id) t
          WHERE rank <= $k
        )"""

  /** The `ranked` CTE over `scored(query_id, vec_id, score)` and the
    * final select: [[Ann.topK]]. */
  def rankedTopK(score: String, k: Int): String =
    s"""ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY $score DESC, vec_id) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, $score, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= $k"""

  /** The final select of [[Ann.recall]] for the approximate top-k CTE
    * `approx(query_id, vec_id)` against `exact`. */
  def recall(approx: String): String =
    s"""SELECT exact.query_id,
               COUNT(*) AS n_exact,
               CAST(SUM(CASE WHEN $approx.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN $approx.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) * 65536 // COUNT(*) AS recall_fp
        FROM exact LEFT JOIN $approx
          ON $approx.query_id = exact.query_id AND $approx.vec_id = exact.vec_id
        GROUP BY exact.query_id"""

  // ---- IVF ----

  /** `cents(list_id, centv)`: [[Ann.lowestIds]]. */
  def cents(n: Int): String =
    s"""cents AS (
          SELECT vec_id AS list_id, v AS centv FROM qz ORDER BY vec_id LIMIT $n
        )"""

  /** `adot` and `assigned(vec_id, carry..., list_id)`: [[Ann.assign]]
    * of `qz` onto `cents` as the (d DESC, list_id) window. */
  def assigned(carry: String*): String =
    s"""adot AS (
          SELECT c.vec_id,${carry.map(" c." + _ + ",").mkString} ct.list_id,
                 CAST(list_sum(list_transform(generate_series(1, len(c.v)),
                   i -> c.v[i] * ct.centv[i])) AS BIGINT) AS d
          FROM qz c, cents ct
        ), assigned AS (
          SELECT vec_id,${carry.map(" " + _ + ",").mkString} list_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY d DESC, list_id) AS r FROM adot)
          WHERE r = 1
        )"""

  /** `name(vec_id, v, list_id)`: the argmax-dot assignment of `rel`
    * (aliased `a`) onto codebook `cb(list_id, centv)`. */
  def argmaxAssign(name: String, rel: String, a: String, cb: String): String =
    s"""$name AS (
          SELECT vec_id, v, list_id FROM (
            SELECT $a.vec_id, $a.v, ct.list_id,
                   ROW_NUMBER() OVER (PARTITION BY $a.vec_id
                     ORDER BY CAST(list_sum(list_transform(generate_series(1, len($a.v)),
                       i -> $a.v[i] * ct.centv[i])) AS BIGINT) DESC, ct.list_id) AS r
            FROM $rel $a, $cb ct) t
          WHERE r = 1
        )"""

  /** `assign1`, `cents1` … `cents<rounds>(list_id, centv)`: the Lloyd
    * rounds of [[graft.operators.Similarity.kmeansCentroidsQuantized]]
    * over `samp`, from `cents0`, with the +4096-shift floor-mean update
    * at each position `i` of `dims` (q210). */
  def ivfLloyd(rounds: Int): String = (1 to rounds).map { r =>
    s"""${argmaxAssign(s"assign$r", "samp", "s", s"cents${r - 1}")}, cents$r AS (
          SELECT list_id, list(cv ORDER BY i) AS centv FROM (
            SELECT a.list_id, i,
                   CAST(SUM(a.v[i] + 4096) AS BIGINT) // COUNT(*) - 4096 AS cv
            FROM assign$r a, dims
            GROUP BY a.list_id, i) t
          GROUP BY list_id
        )"""
  }.mkString(", ")

  /** `scored(query_id, vec_id, dot)`: [[Ann.scoreProbed]] of `assigned`
    * against `probes(query_id, qv, list_id)`. */
  val scoreProbed: String =
    """scored AS (
          SELECT p.query_id, a.vec_id,
                 CAST(list_sum(list_transform(generate_series(1, len(a.v)),
                   i -> a.v[i] * p.qv[i])) AS BIGINT) AS dot
          FROM assigned a JOIN probes p ON a.list_id = p.list_id
          WHERE a.vec_id <> p.query_id
        )"""

  // ---- PQ ----

  /** `ms(m)`: the PQ subspaces. */
  val ms: String =
    """ms AS (
          SELECT unnest(range(4)) AS m
        )"""

  /** `cb(cb_id, v)`, [[ms]] and `enc(vec_id, m, code)`: [[Ann.encode]]
    * against the 8 lowest-id vectors' subvectors. */
  val encoded: String =
    s"""cb AS (
          SELECT vec_id AS cb_id, v FROM qz ORDER BY vec_id LIMIT 8
        ), $ms, enc AS (
          SELECT vec_id, m, code FROM (
            SELECT c.vec_id, ms.m, s.cb_id AS code,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id, ms.m
                     ORDER BY CAST(list_sum(list_transform(generate_series(1, 16),
                       i -> (c.v[ms.m*16+i] - s.v[ms.m*16+i])
                          * (c.v[ms.m*16+i] - s.v[ms.m*16+i]))) AS BIGINT),
                       s.cb_id) AS r
            FROM qz c, ms, cb s) t
          WHERE r = 1
        )"""

  /** `qlut(query_id, m, cb_id, pdot)`: [[Ann.lut]] of `q`'s `qv`
    * column against `cb`'s `cbv` column. */
  def qlut(qv: String, cbv: String): String =
    s"""qlut AS (
          SELECT q.query_id, ms.m, s.cb_id,
                 CAST(list_sum(list_transform(generate_series(1, 16),
                   i -> q.$qv[ms.m*16+i] * s.$cbv[ms.m*16+i])) AS BIGINT) AS pdot
          FROM q, ms, cb s
        )"""

  /** `pq(query_id, vec_id)`: [[Ann.adcTopK]] at k = 5 over `enc` and
    * `qlut`. */
  val pq: String =
    """pq AS (
          SELECT query_id, vec_id FROM (
            SELECT t.query_id, t.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY t.query_id
                     ORDER BY t.dot_pq DESC, t.vec_id) AS rank
            FROM (
              SELECT l.query_id, c.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS dot_pq
              FROM enc c JOIN qlut l ON l.m = c.m AND l.cb_id = c.code
              WHERE c.vec_id <> l.query_id
              GROUP BY 1, 2) t) r
          WHERE rank <= 5
        )"""

  /** `cents0` … `cents<rounds>(m, cb_id, centv)`: [[Ann.trainPQ]] with
    * init = the `init` lowest ids. */
  def trainedPQ(init: Int, rounds: Int): String = {
    val lloyd = (1 to rounds).map { r =>
      s"""assign$r AS (
          SELECT vec_id, m, cb_id, v FROM (
            SELECT c.vec_id, s.m, s.cb_id, c.v,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id, s.m
                     ORDER BY CAST(list_sum(list_transform(generate_series(1, 16),
                       i -> (c.v[s.m*16+i] - s.centv[i])
                          * (c.v[s.m*16+i] - s.centv[i]))) AS BIGINT),
                       s.cb_id) AS r
            FROM qz c, cents${r - 1} s) t
          WHERE r = 1
        ), upd$r AS (
          SELECT m, cb_id, list(cv ORDER BY i) AS centv FROM (
            SELECT a.m, a.cb_id, i,
                   CAST(SUM(a.v[a.m*16+i] + 4096) AS BIGINT) // COUNT(*) - 4096 AS cv
            FROM assign$r a, UNNEST(range(1, 17)) AS ti(i)
            GROUP BY a.m, a.cb_id, i) t
          GROUP BY m, cb_id
        ), cents$r AS (
          SELECT c${r - 1}.m, c${r - 1}.cb_id, COALESCE(u.centv, c${r - 1}.centv) AS centv
          FROM cents${r - 1} c${r - 1} LEFT JOIN upd$r u
            ON u.m = c${r - 1}.m AND u.cb_id = c${r - 1}.cb_id
        )"""
    }
    (s"""cents0 AS (
          SELECT m, cb_id, list(cv ORDER BY i) AS centv FROM (
            SELECT ms.m, c.vec_id AS cb_id, i, c.v[ms.m*16+i] AS cv
            FROM (SELECT vec_id, v FROM qz ORDER BY vec_id LIMIT $init) c,
                 ms, UNNEST(range(1, 17)) AS ti(i)) t
          GROUP BY m, cb_id
        )""" +: lloyd).mkString(", ")
  }

  // ---- SQ8 ----

  /** `dims`, `cb(mns, mxs)` and `recon(vec_id, r)`: [[Ann.sq8Recon]]. */
  val sq8Recon: String =
    """dims AS (
          SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM (
            SELECT u.d AS d, v[u.d] AS x
            FROM qz, unnest(generate_series(1, len(v))) AS u(d)) e
          GROUP BY d
        ), cb AS (
          SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
          FROM dims
        ), recon AS (
          SELECT vec_id,
                 list_transform(generate_series(1, len(v)), i ->
                   mns[i]*255 + ((v[i] - mns[i]) * 255 //
                     (CASE WHEN mxs[i] - mns[i] > 0
                           THEN mxs[i] - mns[i] ELSE 1 END))
                     * (mxs[i] - mns[i])) AS r
          FROM qz CROSS JOIN cb
        )"""

  // ---- verify and hash planes ----

  /** `n2(vec_id, v, nn)`: [[Ann.normed]]. */
  val n2: String =
    """n2 AS (
          SELECT vec_id, v,
                 CAST(list_sum(list_transform(v, x -> x*x)) AS BIGINT) AS nn
          FROM qz
        )"""

  /** `assigned(vec_id, v, nn, list_id)`: [[Ann.assign]] of [[n2]] onto
    * `cents` (q153/q160). */
  val normedAssigned: String =
    """assigned AS (
          SELECT vec_id, v, nn, list_id FROM (
            SELECT q.vec_id, q.v, q.nn, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY CAST(list_sum(list_transform(generate_series(1, len(q.v)),
                       i -> q.v[i] * c.centv[i])) AS BIGINT) DESC, c.list_id) AS r
            FROM n2 q, cents c) t
          WHERE r = 1
        )"""

  /** `verified(id_a, id_b)` over `scored(id_a, id_b, na, nb, dot)`
    * ([[Ann.cosVerified]]) and the min-id keeper's `best(vec_id,
    * partner_min)`. */
  val verified: String =
    """verified AS (
          SELECT id_a, id_b FROM scored
          WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
        ), best AS (
          SELECT id_b AS vec_id, MIN(id_a) AS partner_min FROM verified GROUP BY 1
        )"""

  /** The keeper's `keep_id, is_duplicate` select list over `best`. */
  val keeper: String =
    """LEAST(COALESCE(partner_min, e.vec_id), e.vec_id) AS keep_id,
               LEAST(COALESCE(partner_min, e.vec_id), e.vec_id) <> e.vec_id AS is_duplicate"""

  /** [[Ann.signBits]] over `qz.v` as a BIGINT expression: `bits` sign
    * bits j of the LCG planes `plane` (an expression of j). */
  def signBits(bits: Int, plane: String): String =
    s"""CAST(list_sum(list_transform(range(0, $bits), j ->
                   CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64), i ->
                          v[i] * ((CAST(1103515245 AS BIGINT) * ($plane*64 + i - 1)
                                   + 12345) % 65536 - 32768))) AS BIGINT) >= 0
                        THEN (1 << j) ELSE 0 END)) AS BIGINT)"""
}

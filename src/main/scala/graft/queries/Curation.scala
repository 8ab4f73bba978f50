package graft.queries

import graft.{QuerySpec, Tables}
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation selection passes (round 12, continued): DSIR
  * importance resampling and temperature-based mixture sampling — the
  * two standard "which slice of the crawl do we actually train on"
  * moves, both integer end to end so the full selection (not just a
  * summary) sits under the DuckDB hash oracle. Backed by
  * [[graft.operators.CorpusPrep.dsirWeights]] and
  * [[graft.operators.CorpusPrep.temperatureSample]].
  */
object Curation {

  /** DuckDB twin of [[T.tokens]] (catalog-wide convention). */
  private val tokensSql: String =
    """string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')"""

  /** DuckDB twin of T.shingles over alias `t`. */
  private def shinglesSql(n: Int): String = s"""
    CASE WHEN len(t) < $n THEN [array_to_string(t, ' ')]
         ELSE list_transform(generate_series(1, len(t) - ${n - 1}),
                p -> array_to_string(t[p:p+${n - 1}], ' ')) END"""

  /** DuckDB twin of [[graft.operators.Search.log2FpExpr]]. */
  private def log2FpSql(x: String): String = {
    val msb = s"(length(bin(CAST($x AS BIGINT))) - 1)"
    val pow = s"(CAST(1 AS BIGINT) << $msb)"
    s"(CAST($msb AS BIGINT) * 65536 + ((($x) - $pow) * 65536) // $pow)"
  }

  def specs: Seq[QuerySpec] = Seq(

    // ---- q177: DSIR importance selection (Xie et al. 2023) — score
    // every doc by Σ_features log p̂_target − log p̂_raw over 256 hashed
    // bigram buckets (add-1 smoothing), keep the top-100. The hashed
    // feature space is FIXED-size, so the "model" is a 256-row
    // broadcast regardless of corpus size; target and raw bucket
    // counts come from ONE bucket-grain aggregate (the target flag is
    // a conditional sum riding the same rows). Weights in the 16-bit
    // fixed-point log2 — integers, so the entire selection hashes. The
    // top-100 slice is ORDER BY + LIMIT (TakeOrderedAndProject), never
    // a global window. Target domain: the 'de' slice (17% of the
    // corpus; it fills ~53% of the selected set — the importance
    // weights demonstrably tilt toward the target). ----
    QuerySpec(
      "q177_dsir_importance",
      Some(s"""
        WITH toksl AS (
          SELECT doc_id, lang, $tokensSql AS t FROM documents),
        feats AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(unnest(${shinglesSql(2)})), 1, 4))::BIGINT
                   % 256 AS b
          FROM toksl),
        stats AS (
          SELECT b, COUNT(*) AS cr,
                 CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS ct
          FROM feats GROUP BY b),
        tot AS (
          SELECT CAST(SUM(cr) AS BIGINT) AS cr_tot,
                 CAST(SUM(ct) AS BIGINT) AS ct_tot FROM stats),
        lam AS (
          SELECT b,
                 (${log2FpSql("ct + 1")} - ${log2FpSql("ct_tot + 256")})
               - (${log2FpSql("cr + 1")} - ${log2FpSql("cr_tot + 256")}) AS lam_fp
          FROM stats CROSS JOIN tot),
        w AS (
          SELECT f.doc_id, COUNT(*) AS n_feats,
                 CAST(SUM(lam_fp) AS BIGINT) AS weight_fp
          FROM feats f JOIN lam USING (b) GROUP BY 1)
        SELECT doc_id, n_feats, weight_fp
        FROM w ORDER BY weight_fp DESC, doc_id LIMIT 100"""),
      (s, dir) =>
        graft.operators.CorpusPrep.dsirWeights(
            graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
            "doc_id", "text", isTarget = col("lang") === "de",
            buckets = 256, ngram = 2)
          .orderBy(col("weight_fp").desc, col("doc_id"))
          .limit(100)),

    // ---- q178: temperature-based mixture sampling (τ = 1/2, the
    // multilingual-pretraining rebalance): per-language token budgets
    // ∝ √(language token mass) — tail languages boosted, the head
    // damped — then a deterministic hash-ordered prefix of each
    // language up to its budget. isqrt is the exact integer sqrt (the
    // ±1-corrected FLOOR(SQRT(·)) shared verbatim with the oracle), so
    // budgets and the kept set hash bit-for-bit. Group stats are
    // language-grain and broadcast back; the corpus shuffles once for
    // the per-language running-sum window (the q122 frame with
    // √-rebalanced budgets). ----
    QuerySpec(
      "q178_mixture_temperature_sample",
      Some(s"""
        WITH items AS (
          SELECT lang AS grp, doc_id AS id,
                 CASE WHEN nrm = '' THEN 0
                      ELSE CAST(LEN(STRING_SPLIT(nrm, ' ')) AS BIGINT) END AS n
          FROM (SELECT doc_id, lang,
                       regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nrm
                FROM documents)),
        gstats AS (
          SELECT grp, CAST(SUM(n) AS BIGINT) AS n_g FROM items GROUP BY grp),
        gsqrt AS (
          SELECT grp, n_g, ${graft.operators.CorpusPrep.isqrtSql("n_g")} AS s_g
          FROM gstats),
        tots AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot,
                 CAST(SUM(s_g) AS BIGINT) AS s_tot FROM gsqrt),
        budgets AS (
          -- divide-first decomposition, bit-equal to (T*s_g)//s_tot but
          -- overflow-safe at the 100 TB token regime — mirrors
          -- CorpusPrep.temperatureSample verbatim
          SELECT grp, ((((n_tot * 1 // 2) // s_tot) * s_g)
                     + (((n_tot * 1 // 2) % s_tot) * s_g // s_tot)) AS b_g
          FROM gsqrt CROSS JOIN tots),
        ordered AS (
          SELECT i.grp, i.id, i.n, b.b_g,
                 CAST(SUM(i.n) OVER (
                   PARTITION BY i.grp
                   ORDER BY ${graft.Exact.hashOrderSql("i.id", 1000000)}, i.id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
          FROM items i JOIN budgets b USING (grp))
        SELECT grp AS lang, id AS doc_id, n AS n_toks, cum
        FROM ordered WHERE cum <= b_g"""),
      (s, dir) => {
        val items = Tables.load(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            T.tokenCount(col("text")).as("n_toks"))
        graft.operators.CorpusPrep.temperatureSample(
            items, "lang", "doc_id", "n_toks", budgetNum = 1L, budgetDen = 2L)
          .select(col("grp").as("lang"), col("id").as("doc_id"),
            col("n").as("n_toks"), col("cum"))
      }),

    // ---- q181: INCREMENTAL DSIR — the q169/q147 maintenance
    // discipline applied to the importance model. Bucket stats are
    // additive across disjoint doc sets, so the nightly job tallies
    // only the 10% delta, merges with the at-rest base at BUCKET grain
    // (two ≤256-row tables — the merge is free), and re-derives λ; the
    // corpus that built the base stats is never re-read to update the
    // model. The oracle recomputes the FULL selection from scratch
    // (q177's SQL verbatim), so the hash gate proves incremental ==
    // recompute, λ included. ----
    QuerySpec(
      "q181_dsir_incremental",
      Some(s"""
        WITH toksl AS (
          SELECT doc_id, lang, $tokensSql AS t FROM documents),
        feats AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(unnest(${shinglesSql(2)})), 1, 4))::BIGINT
                   % 256 AS b
          FROM toksl),
        stats AS (
          SELECT b, COUNT(*) AS cr,
                 CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS ct
          FROM feats GROUP BY b),
        tot AS (
          SELECT CAST(SUM(cr) AS BIGINT) AS cr_tot,
                 CAST(SUM(ct) AS BIGINT) AS ct_tot FROM stats),
        lam AS (
          SELECT b,
                 (${log2FpSql("ct + 1")} - ${log2FpSql("ct_tot + 256")})
               - (${log2FpSql("cr + 1")} - ${log2FpSql("cr_tot + 256")}) AS lam_fp
          FROM stats CROSS JOIN tot),
        w AS (
          SELECT f.doc_id, COUNT(*) AS n_feats,
                 CAST(SUM(lam_fp) AS BIGINT) AS weight_fp
          FROM feats f JOIN lam USING (b) GROUP BY 1)
        SELECT doc_id, n_feats, weight_fp
        FROM w ORDER BY weight_fp DESC, doc_id LIMIT 100"""),
      (s, dir) => {
        val P = graft.operators.CorpusPrep
        val docs = graft.operators.Fanout.forKernel(
          Tables.load(s, dir, "documents"))
        // ONE tokenize+hash pass serves base stats, delta stats and
        // scoring (filters run at feature grain on the cache); in the
        // real nightly the base STATS come off the artifact store and
        // only the delta's features are computed at all
        val feats = P.dsirFeatures(docs, "doc_id", "text",
            isTarget = col("lang") === "de", buckets = 256, ngram = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // base and delta tallied side by side in ONE pass over the
        // feature stream (grouped by (bucket, is-delta) — ≤ 512 rows),
        // then split at bucket grain and merged additively exactly as
        // before: the incremental discipline (separate snapshot tallies,
        // bucket-grain merge) is intact, but the corpus-grain cache is
        // read once for the model instead of once per snapshot (r21;
        // guide §2.3 aggregate-before-shuffle). Values are identical:
        // each (b, snapshot) group's cr/ct is the same count the
        // per-snapshot filters produced.
        val tallies = feats
          .groupBy(col("b"), (col("doc_id") % 10 === 0).as("_delta"))
          .agg(count(lit(1)).as("cr"),
            sum(when(col("_tgt"), lit(1L)).otherwise(lit(0L))).as("ct"))
          // eager bounded checkpoint: base and delta both read this
          // ≤512-row table, so the corpus pass behind it runs once even
          // if ReuseExchange declines the union's twin subtrees
          .localCheckpoint()
        val base = tallies.filter(!col("_delta")).select("b", "cr", "ct")
        val delta = tallies.filter(col("_delta")).select("b", "cr", "ct")
        val lam = P.dsirLambda(P.mergeDsirStats(base, delta), buckets = 256)
        P.dsirScore(feats, lam)
          .orderBy(col("weight_fp").desc, col("doc_id"))
          .limit(100)
      }),

    // ---- q182: asymmetric CONTAINMENT pairs — the partial-duplicate
    // axis Jaccard misses (a short doc quoted whole inside a long one
    // has tiny Jaccard but containment ≈ 1); the quote/repost/wrapper
    // detector. Topology is the q171 postings self-join: distinct
    // trigram shingles meet on the shingle key, the df-share cap
    // (df·15 ≤ N) prunes boilerplate-grade shingles BEFORE the join —
    // fan-out bounded by Σ df² over surviving shingles, the text
    // hot-key cap — and both the intersection and the denominator
    // count the same distinctive universe, so containment 1.0 is
    // reachable and the threshold reads "containment among
    // distinctive shingles". Inner = smaller distinctive set (ties by
    // id); cont_fp = inter·65536/sz_inner ≥ 0.2. Integer end to
    // end. ----
    QuerySpec(
      "q182_containment_pairs",
      Some(s"""
        WITH toksl AS (
          SELECT doc_id, $tokensSql AS t FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql(3)}) AS s FROM toksl),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        rare AS (
          SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh GROUP BY s) d
          CROSS JOIN nn
          WHERE df * 15 <= n AND df <= ${graft.operators.Dedup.DefaultMaxDfAbs}),
        rsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
          FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
        SELECT ia AS inner_id, ib AS outer_id, inter,
               sa.sz AS sz_inner, sb.sz AS sz_outer,
               inter * 65536 // sa.sz AS cont_fp
        FROM inter
        JOIN sizes sa ON sa.doc_id = ia
        JOIN sizes sb ON sb.doc_id = ib
        WHERE (sa.sz < sb.sz OR (sa.sz = sb.sz AND ia < ib))
          AND inter * 65536 // sa.sz >= 13108"""),
      (s, dir) =>
        graft.operators.Dedup.containmentPairs(
          graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
          "doc_id", "text", ngram = 3, maxDfShare = 15,
          minContainmentFp = 13108L)),

    // ---- q184: n-gram NOVELTY profile — per doc, the share of its
    // distinct 5-gram shingles that appear NOWHERE else in the corpus
    // (df = 1). The memorization/duplication risk signal: low novelty
    // means the doc is assembled from text the corpus already has
    // (templates, quotes, near-dups that slipped past pair-level
    // dedup); the complement of q139's boilerplate view, at doc grain.
    // Exactly two exchanges at any scale: the df window partitions by
    // the shingle (each shingle's group is its df ≤ corpus docs), and
    // the per-doc reduce partitions by doc — text never moves after
    // the tokenize. Integer ratio → hash-gated. ----
    QuerySpec(
      "q184_ngram_novelty",
      Some(s"""
        WITH toksl AS (
          SELECT doc_id, $tokensSql AS t FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql(5)}) AS s FROM toksl),
        d AS (
          SELECT doc_id, COUNT(*) OVER (PARTITION BY s) AS df FROM sh)
        SELECT doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unique,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 * 65536 // COUNT(*) AS novelty_fp
        FROM d GROUP BY doc_id"""),
      (s, dir) => {
        // df via aggregate, not a window over the shingle (the
        // Dedup.exact r14 rationale: a corpus-universal 5-gram would
        // buffer its whole posting set in one window partition; the
        // count pre-combines map-side). r15: the tokenize+shingle
        // kernel runs exactly ONCE — the r14 join-back shape ran it
        // twice and exchanged the shingle stream twice (the r14 sf1
        // regression). A TAG-UNION aggregate carries both outputs
        // through one shingle-grain exchange: each doc's explode emits
        // its shingles under key (0, s) plus ONE sentinel row under
        // key (1, doc_id), so a single groupBy yields per-shingle
        // (df, owner = min(doc_id) — for a df=1 group the owner IS the
        // unique doc) and per-doc n_shingles (the sentinel's payload)
        // side by side; sentinel keys are doc-unique, so no hot key.
        // Both slices are doc-keyed after that, so ONE doc-grain
        // re-aggregate stitches them — no join, no second reference to
        // the aggregate subtree (a split+join re-evaluates the whole
        // scan: ReuseExchange does not fire across the two consumers).
        // The sentinel rides the SAME posexplode, appended LAST, so its
        // position IS size(arr) — n_shingles costs nothing. (A naive
        // `size(arr)` projection next to the explode is a trap:
        // Catalyst collapses it ABOVE the Generate and re-runs the
        // whole kernel per exploded row — measured 8× slower. Nothing
        // above the Generate may reference `text`.)
        val docs = graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents"))
        val arr = array_distinct(T.shingles(col("text"), 5))
        val tagged = docs
          .select(col("doc_id"),
            posexplode(concat(arr, array(lit(null).cast("string")))))
          .select(col("doc_id"),
            when(col("col").isNotNull,
              struct(lit(0).as("k"), col("col").as("v")))
              .otherwise(struct(lit(1).as("k"),
                col("doc_id").cast("string").as("v"))).as("key"),
            when(col("col").isNull, col("pos").cast("long")).as("n_sh"))
        tagged.groupBy("key")
          .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"),
            min(col("n_sh")).as("n_sh"))
          .filter((col("key.k") === 0 && col("df") === 1) || col("key.k") === 1)
          .groupBy("doc_id")
          .agg(
            sum(when(col("key.k") === 0, lit(1L)).otherwise(lit(0L)))
              .as("n_unique"),
            max(when(col("key.k") === 1, col("n_sh"))).as("n_shingles"))
          .filter(col("n_shingles") > 0)
          .select(col("doc_id"), col("n_shingles"), col("n_unique"))
          .withColumn("novelty_fp", expr("n_unique * 65536 div n_shingles"))
      }),

    // ---- q193: DSIR scoring of a DISJOINT corpus — the path the λ
    // totality contract exists for (r13 fix, first exercised here): the
    // model trains on the odd-id half only, then scores the EVEN half,
    // whose features hash into buckets the model never saw (65536
    // buckets ≫ the odd half's distinct bigrams, so unseen buckets are
    // guaranteed, not probabilistic). dsirLambda emits the FULL bucket
    // domain — unseen buckets carry the add-1-smoothed zero-count λ =
    // log2fp(cr_tot+B) − log2fp(ct_tot+B) shape — so no feature of the
    // scored set can silently vanish from n_feats/weight_fp; an
    // inner-join-on-seen-buckets λ table (the pre-r13 behavior) fails
    // this gate. The oracle replays the total λ domain via
    // range(0, 65536) LEFT JOIN stats. ----
    QuerySpec(
      "q193_dsir_disjoint_score",
      Some(s"""
        WITH toksl AS (
          SELECT doc_id, lang, $tokensSql AS t FROM documents),
        feats AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(unnest(${shinglesSql(2)})), 1, 4))::BIGINT
                   % 65536 AS b
          FROM toksl),
        stats AS (
          SELECT b, COUNT(*) AS cr,
                 CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS ct
          FROM feats WHERE doc_id % 2 = 1 GROUP BY b),
        tot AS (
          SELECT CAST(SUM(cr) AS BIGINT) AS cr_tot,
                 CAST(SUM(ct) AS BIGINT) AS ct_tot FROM stats),
        filled AS (
          SELECT dom.b AS b, COALESCE(s.cr, 0) AS cr, COALESCE(s.ct, 0) AS ct
          FROM (SELECT unnest(range(0, 65536)) AS b) dom
          LEFT JOIN stats s ON s.b = dom.b),
        lam AS (
          SELECT b,
                 (${log2FpSql("ct + 1")} - ${log2FpSql("ct_tot + 65536")})
               - (${log2FpSql("cr + 1")} - ${log2FpSql("cr_tot + 65536")}) AS lam_fp
          FROM filled CROSS JOIN tot),
        w AS (
          SELECT f.doc_id, COUNT(*) AS n_feats,
                 CAST(SUM(lam_fp) AS BIGINT) AS weight_fp
          FROM feats f JOIN lam USING (b)
          WHERE f.doc_id % 2 = 0 GROUP BY 1)
        SELECT doc_id, n_feats, weight_fp
        FROM w ORDER BY weight_fp DESC, doc_id LIMIT 100"""),
      (s, dir) => {
        val P = graft.operators.CorpusPrep
        val feats = P.dsirFeatures(
            graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
            "doc_id", "text", isTarget = col("lang") === "de",
            buckets = 65536, ngram = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val lam = P.dsirLambda(
          P.dsirBucketStats(feats.filter(col("doc_id") % 2 === 1)),
          buckets = 65536)
        P.dsirScore(feats.filter(col("doc_id") % 2 === 0), lam)
          .orderBy(col("weight_fp").desc, col("doc_id"))
          .limit(100)
      }),

    // ---- q194: containment with the ABSOLUTE df cap ACTIVELY pruning
    // — q182/q191 run below the default cap's crossover (df ≤ 1024
    // cannot trigger under 15.4k docs), so until this fixture the
    // cap-binding regime was agreement-by-construction only. Here the
    // cap is parameterized down to 4 with the share cap loosened
    // (df·2 ≤ N keeps shingles up to df = N/2), so every shingle with
    // df in (4, N/2] — the mid-frequency mass — is pruned by the
    // absolute cap ALONE, and the oracle replays the same pruned
    // universe. Semantics under pruning: "containment among
    // ≤cap-frequency shingles" — sizes and intersections count the
    // same universe, the scale-safety argument of q182 verbatim. ----
    QuerySpec(
      "q194_containment_cap_trigger",
      Some(s"""
        WITH toksl AS (
          SELECT doc_id, $tokensSql AS t FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, unnest(${shinglesSql(3)}) AS s FROM toksl),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        rare AS (
          SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh GROUP BY s) d
          CROSS JOIN nn WHERE df * 2 <= n AND df <= 4),
        rsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
          FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
        SELECT ia AS inner_id, ib AS outer_id, inter,
               sa.sz AS sz_inner, sb.sz AS sz_outer,
               inter * 65536 // sa.sz AS cont_fp
        FROM inter
        JOIN sizes sa ON sa.doc_id = ia
        JOIN sizes sb ON sb.doc_id = ib
        WHERE (sa.sz < sb.sz OR (sa.sz = sb.sz AND ia < ib))
          AND inter * 65536 // sa.sz >= 6554"""),
      (s, dir) =>
        graft.operators.Dedup.containmentPairs(
          graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
          "doc_id", "text", ngram = 3, maxDfShare = 2,
          minContainmentFp = 6554L, maxDfAbs = 4)),

    // ---- q197: cross-document duplicated-chunk SCRUB — the
    // RefinedWeb/Dolma "remove duplicated spans" pass q117 only
    // measures: chunks (same fixed 10-token grid) occurring in ≥ 2
    // distinct documents are removed from every document and the
    // surviving text is re-joined in chunk order. The oracle replays
    // the identical grid, document-frequency ban list and ordered
    // re-join. ----
    QuerySpec(
      "q197_chunk_scrub",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        chunks AS (
          SELECT doc_id, i AS chunk_idx,
                 array_to_string(ts[(i*10+1):(i*10+10)], ' ') AS chunk
          FROM toks, UNNEST(range(CAST(CEIL(LEN(ts)/10.0) AS BIGINT))) AS t(i)),
        dfreq AS (
          SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1),
        flagged AS (
          SELECT c.doc_id, c.chunk_idx, c.chunk,
                 CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END AS banned
          FROM chunks c JOIN dfreq d USING (chunk))
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN banned = 0 THEN chunk END,
                                   ' ' ORDER BY chunk_idx), '') AS text_scrubbed,
               COUNT(*) AS n_chunks,
               CAST(SUM(banned) AS BIGINT) AS n_removed
        FROM flagged GROUP BY doc_id"""),
      (s, dir) =>
        graft.operators.Dedup.chunkScrub(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 10, minDocs = 2)),

    // ---- q198: WITHIN-document repeated-chunk dedup (Dolma's
    // paragraph-dedupe pass) — keep each chunk's first occurrence
    // inside its own document, drop later repeats, re-join in order.
    // Pure map-side array HOFs: the plan has ZERO exchanges (asserted
    // in DedupSpec). ----
    QuerySpec(
      "q198_doc_chunk_dedup",
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        chunks AS (
          SELECT doc_id, i AS chunk_idx,
                 array_to_string(ts[(i*10+1):(i*10+10)], ' ') AS chunk
          FROM toks, UNNEST(range(CAST(CEIL(LEN(ts)/10.0) AS BIGINT))) AS t(i)),
        flagged AS (
          SELECT doc_id, chunk_idx, chunk,
                 CASE WHEN chunk_idx = MIN(chunk_idx)
                        OVER (PARTITION BY doc_id, chunk)
                      THEN 0 ELSE 1 END AS dup
          FROM chunks)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN dup = 0 THEN chunk END,
                                   ' ' ORDER BY chunk_idx), '') AS text_deduped,
               COUNT(*) AS n_chunks,
               CAST(SUM(dup) AS BIGINT) AS n_dup
        FROM flagged GROUP BY doc_id"""),
      (s, dir) =>
        graft.operators.Dedup.docChunkDedup(
          Tables.load(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 10)),

    // ---- q199: FUZZY benchmark decontamination — near-duplicate leak
    // removal (paraphrase/light-edit contamination that q47's exact
    // hash and q85's verbatim 13-grams both miss): corpus docs whose
    // shingle Jaccard against ANY blocklist doc reaches 0.5, found via
    // bipartite MinHash-LSH banding (corpus bands probe the broadcast
    // blocklist bands). Blocklist = the doc_id % 10 = 0 slice (q47's
    // fixture convention), corpus = the rest. The md5 shingle family
    // lets DuckDB replay every step — signatures via the inlined
    // affine coefficients, banding by raw signature slice, exact
    // Jaccard verify, anti join — the q91 oracle pattern run across
    // two sides. ----
    QuerySpec(
      "q199_decontaminate_fuzzy",
      Some(s"""
        WITH ${MinhashOracle.signaturesCte(32, 8)},
        pairs AS (
          SELECT DISTINCT c.doc_id AS cid, bl.doc_id AS bid
          FROM banded c JOIN banded bl
            ON c.b = bl.b AND c.key = bl.key
           AND c.doc_id % 10 <> 0 AND bl.doc_id % 10 = 0
        ), contaminated AS (
          SELECT DISTINCT p.cid
          FROM pairs p
          JOIN sh s1 ON s1.doc_id = p.cid
          JOIN sh s2 ON s2.doc_id = p.bid
          WHERE CASE WHEN len(list_distinct(s1.hs || s2.hs)) = 0 THEN 1.0
                     ELSE CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE)
                        / CAST(len(list_distinct(s1.hs || s2.hs)) AS DOUBLE) END >= 0.5
        )
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id % 10 <> 0
          AND NOT EXISTS (SELECT 1 FROM contaminated v WHERE v.cid = d.doc_id)"""),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.operators.Dedup.decontaminateFuzzy(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 0), "text",
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
          shingleHasher = graft.functions.TextFunctions.md5ShingleHashes)
          .select("doc_id")
      }),

    // ---- q201: cross-source near-duplicate overlap matrix — the
    // dataset-analysis staple ("how much of source A is near-copied in
    // source B") behind de-weighting decisions when mixing crawls:
    // verified MinHash pair counts grouped by unordered source pair.
    // Scale shape: the corpus text is read once inside the dedup
    // kernel and never again; the two source-lookup joins run over the
    // narrow (doc_id, source) projection, and the matrix aggregate is
    // |sources|²-bounded. The pair set is NOT bounded by construction
    // (it scales with the corpus's duplicate structure — billions of
    // rows on a heavily-duplicated crawl), so the broadcast hint is
    // GATED on a measured count (r15; the kernel already materialized
    // the pairs, so the count is a cache-local action) — beyond the
    // bound both lookups fall back to AQE-planned shuffles on the doc
    // key. PlanSpec asserts the hinted regime at test scale. ----
    QuerySpec(
      "q201_source_overlap_matrix",
      Some(s"""
        WITH ${MinhashOracle.signaturesCte(32, 8)},
        ${MinhashOracle.verifiedSelfPairsCte(0.5)}
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               COUNT(*) AS n_pairs
        FROM verified v
        JOIN documents da ON da.doc_id = v.id_a
        JOIN documents db ON db.doc_id = v.id_b
        GROUP BY 1, 2"""),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        val pairs = graft.operators.Dedup.minhashCandidatePairs(
          docs, "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
          shingleHasher = graft.functions.TextFunctions.md5ShingleHashes)
          .select(col("id_a"), col("id_b"))
        val hint: DataFrame => DataFrame =
          if (pairs.count() <= 4000000L) (df: DataFrame) => broadcast(df)
          else (df: DataFrame) => df
        val withA = src.join(hint(pairs), col("doc_id") === col("id_a"))
          .select(col("id_b"), col("source").as("_sa"))
        src.join(hint(withA), col("doc_id") === col("id_b"))
          .select(
            least(col("_sa"), col("source")).as("source_a"),
            greatest(col("_sa"), col("source")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
      }),

    // ---- q202: QUALITY-elected cluster keeper — near-dup clusters
    // keep their LONGEST document (curation keeps the best
    // representative, not the smallest id): transitive MinHash
    // clusters, keeper = max (n_chars, then min id) per cluster via a
    // max_by aggregate (cluster-grain, map-combinable — never a
    // per-cluster window). The oracle replays closure with a
    // recursive min-label CTE over the verified pairs (the component
    // min always survives the lbl < dst prune, so the closure is
    // exact) and the keeper with ROW_NUMBER over the tiny clusters. ----
    QuerySpec(
      "q202_cluster_keeper_quality",
      Some(s"""
        WITH RECURSIVE ${MinhashOracle.signaturesCte(32, 8)},
        ${MinhashOracle.verifiedSelfPairsCte(0.5)},
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified),
        reach(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst AS node, r.lbl
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.lbl < e.dst),
        comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY 1),
        keeper AS (
          SELECT cluster, doc_id AS keep_id
          FROM (SELECT c.cluster, d.doc_id,
                       ROW_NUMBER() OVER (PARTITION BY c.cluster
                                          ORDER BY d.n_chars DESC, d.doc_id) AS rn
                FROM comp c JOIN documents d USING (doc_id))
          WHERE rn = 1)
        SELECT c.doc_id, k.keep_id, c.doc_id <> k.keep_id AS is_duplicate
        FROM comp c JOIN keeper k USING (cluster)"""),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val pairs = graft.operators.Dedup.minhashCandidatePairs(
          docs, "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
          shingleHasher = graft.functions.TextFunctions.md5ShingleHashes)
        val clusters = graft.operators.Dedup
          .connectedComponents(docs.select(col("doc_id")), "doc_id", pairs)
          .select(col("doc_id"), col("keep_id").as("_cluster"))
        val keepers = clusters
          .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
          .groupBy(col("_cluster"))
          .agg(max_by(col("doc_id"),
            struct(col("n_chars"), -col("doc_id"))).as("keep_id"))
        clusters.join(keepers, Seq("_cluster"))
          .select(col("doc_id"), col("keep_id"),
            (col("doc_id") =!= col("keep_id")).as("is_duplicate"))
      }),

    // ---- q203: the FULL curation chain as one export — near-dedup
    // keeper election (q91), containment pruning over the deduped
    // corpus (q191), then cross-document span SCRUB (q197) of the
    // surviving documents: the RefinedWeb sequence end to end, emitting
    // the text a trainer actually consumes. Each stage's pair/ban
    // volume shrinks because the previous stage ran first — replica
    // cliques never reach containment, quoted wrappers never reach the
    // chunk ban list. The oracle staples all three replay chains under
    // one hash. ----
    QuerySpec(
      "q203_curated_scrub_export",
      Some {
        val shingleCase = """
          CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
               ELSE list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' ')) END"""
        s"""
        WITH ${MinhashOracle.signaturesCte(32, 8)},
        ${MinhashOracle.verifiedSelfPairsCte(0.5)},
        best AS (
          SELECT id_b AS doc_id, MIN(id_a) AS partner_min FROM verified GROUP BY 1),
        kept AS MATERIALIZED (
          SELECT d.doc_id FROM documents d LEFT JOIN best USING (doc_id)
          WHERE LEAST(COALESCE(partner_min, d.doc_id), d.doc_id) = d.doc_id),
        csh AS MATERIALIZED (
          SELECT DISTINCT t.doc_id, unnest($shingleCase) AS s
          FROM (SELECT toks.doc_id, toks.t FROM toks JOIN kept USING (doc_id)) t),
        nn AS (SELECT COUNT(*) AS n FROM kept),
        rare AS (
          SELECT s FROM (SELECT s, COUNT(*) AS df FROM csh GROUP BY s) d
          CROSS JOIN nn
          WHERE df * 15 <= n AND df <= ${graft.operators.Dedup.DefaultMaxDfAbs}),
        rsh AS MATERIALIZED (SELECT csh.doc_id, csh.s FROM csh JOIN rare USING (s)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
          FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
        contained AS (
          SELECT DISTINCT ia AS doc_id
          FROM inter
          JOIN sizes sa ON sa.doc_id = ia
          JOIN sizes sb ON sb.doc_id = ib
          WHERE (sa.sz < sb.sz OR (sa.sz = sb.sz AND ia < ib))
            AND inter * 65536 // sa.sz >= 13108),
        final_kept AS MATERIALIZED (
          SELECT doc_id FROM kept
          WHERE doc_id NOT IN (SELECT doc_id FROM contained)),
        ktoks AS (
          SELECT d.doc_id, string_split(d.text, ' ') AS ts
          FROM documents d JOIN final_kept USING (doc_id)),
        chunks AS (
          SELECT doc_id, i AS chunk_idx,
                 array_to_string(ts[(i*10+1):(i*10+10)], ' ') AS chunk
          FROM ktoks, UNNEST(range(CAST(CEIL(LEN(ts)/10.0) AS BIGINT))) AS t2(i)),
        dfreq AS (
          SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1),
        flagged AS (
          SELECT c.doc_id, c.chunk_idx, c.chunk,
                 CASE WHEN d2.nd >= 2 THEN 1 ELSE 0 END AS banned
          FROM chunks c JOIN dfreq d2 USING (chunk))
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN banned = 0 THEN chunk END,
                                   ' ' ORDER BY chunk_idx), '') AS text_scrubbed,
               COUNT(*) AS n_chunks,
               CAST(SUM(banned) AS BIGINT) AS n_removed
        FROM flagged GROUP BY doc_id"""
      },
      (s, dir) => {
        // the chain body lives in pipeline.CurationChain so
        // run.PipelineMain can emit it as a job (r15); defaults there
        // ARE these parameters — CurationChainSpec pins the equality
        graft.pipeline.CurationChain.curate(
          graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
          "doc_id", "text")
      }),

    // ---- q204: UniMax budget allocation (Chung et al. 2023) — spread
    // a total token budget (2/5 of the corpus here) over languages as
    // evenly as the per-language repetition cap (3 epochs) allows:
    // languages ascending by cap, each takes min(cap, remaining div
    // remaining_langs) — tail languages get their full capped corpus,
    // the head splits what is left. The corpus-grain work is ONE
    // map-combined per-language token aggregate; the sequential
    // waterfilling runs on the driver over the bounded language domain
    // (the q89 bounded-driver discipline — a window form would be the
    // banned GLOBAL window). The oracle replays the recurrence with a
    // recursive CTE. ----
    QuerySpec(
      "q204_unimax_allocation",
      Some(s"""
        WITH RECURSIVE items AS (
          SELECT lang,
                 CASE WHEN nrm = '' THEN 0
                      ELSE CAST(LEN(STRING_SPLIT(nrm, ' ')) AS BIGINT) END AS n
          FROM (SELECT lang,
                       regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nrm
                FROM documents)),
        gstats AS (
          SELECT lang, CAST(SUM(n) AS BIGINT) AS n_g FROM items GROUP BY lang),
        tot AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot FROM gstats),
        ordered AS (
          SELECT lang, n_g, n_g * 3 AS capv,
                 ROW_NUMBER() OVER (ORDER BY n_g * 3, lang) AS rn,
                 COUNT(*) OVER () AS nl
          FROM gstats),
        rec(rn, alloc, rem) AS (
          SELECT 0, CAST(0 AS BIGINT),
                 ((n_tot // 5) * 2 + (n_tot % 5) * 2 // 5) FROM tot
          UNION ALL
          SELECT o.rn,
                 LEAST(o.capv, r.rem // (o.nl - o.rn + 1)),
                 r.rem - LEAST(o.capv, r.rem // (o.nl - o.rn + 1))
          FROM rec r JOIN ordered o ON o.rn = r.rn + 1)
        SELECT o.lang, o.n_g AS corpus_tokens, o.capv AS cap_tokens,
               r.alloc AS alloc_tokens,
               CASE WHEN o.n_g = 0 THEN 0
                    ELSE r.alloc * 65536 // o.n_g END AS epochs_fp
        FROM rec r JOIN ordered o USING (rn) WHERE r.rn >= 1"""),
      (s, dir) => {
        val stats = Tables.load(s, dir, "documents")
          .select(col("lang"), T.tokenCount(col("text")).as("n"))
          .groupBy("lang").agg(sum(col("n")).as("n_g"))
        graft.operators.CorpusPrep.unimaxAllocation(
          stats, "lang", "n_g", budgetNum = 2L, budgetDen = 5L, epochsCap = 3)
      }),

    // ---- q205: PII density profile — the release-gating scan before
    // any corpus ships: per doc, counts of email / dashed-phone /
    // long-digit-run matches, density per kilotoken in 16-bit fixed
    // point, and a release bucket. One pass riding the scan (three
    // codegen'd regexp_count projections), zero joins; the grouping a
    // release report needs composes downstream. Redaction itself is
    // q46; this is the MEASUREMENT side. ----
    QuerySpec(
      "q205_pii_density",
      Some(s"""
        WITH m AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
                 CAST(len(regexp_extract_all(text,
                   '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
                 CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT)
                   AS n_digit_runs,
                 CASE WHEN nrm = '' THEN 0
                      ELSE CAST(LEN(STRING_SPLIT(nrm, ' ')) AS BIGINT) END AS n_toks
          FROM (SELECT doc_id, text,
                       regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nrm
                FROM documents))
        SELECT doc_id, n_emails, n_phones, n_digit_runs,
               (n_emails + n_phones + n_digit_runs) * 1000 * 65536
                 // GREATEST(n_toks, 1) AS pii_per_kt_fp,
               CASE WHEN n_emails + n_phones + n_digit_runs = 0 THEN 'clean'
                    WHEN (n_emails + n_phones + n_digit_runs) * 1000 * 65536
                         // GREATEST(n_toks, 1) < 65536 THEN 'low'
                    ELSE 'high' END AS bucket
        FROM m"""),
      (s, dir) => {
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents"))
          .select(col("doc_id"),
            regexp_count(col("text"),
              lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
              .cast("long").as("n_emails"),
            regexp_count(col("text"), lit("[0-9]{3}-[0-9]{3}-[0-9]{4}"))
              .cast("long").as("n_phones"),
            regexp_count(col("text"), lit("[0-9]{9,}"))
              .cast("long").as("n_digit_runs"),
            T.tokenCount(col("text")).as("n_toks"))
          .withColumn("pii_per_kt_fp", expr(
            "(n_emails + n_phones + n_digit_runs) * 1000 * 65536" +
              " div greatest(n_toks, 1L)"))
          .select(col("doc_id"), col("n_emails"), col("n_phones"),
            col("n_digit_runs"), col("pii_per_kt_fp"),
            when(col("n_emails") + col("n_phones") + col("n_digit_runs") === 0,
              lit("clean"))
              .when(col("pii_per_kt_fp") < 65536L, lit("low"))
              .otherwise(lit("high")).as("bucket"))
      }),

    // ---- q206: exact-duplication rate by source — the crawl-health
    // report behind de-weighting and re-crawl decisions: per source,
    // how many docs are byte-identical (normalized) to an
    // earlier-id doc anywhere in the corpus. Rides the Dedup.exact
    // aggregate+join-back (min-per-hash pre-combines map-side; no
    // content-hash window), then reduces to the |sources|-bounded
    // report grain. Grouping is hash-family-agnostic, so the md5
    // oracle replays the xxhash engine exactly. ----
    QuerySpec(
      "q206_dup_rate_by_source",
      Some(s"""
        WITH norm AS (
          SELECT doc_id, source,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
          FROM documents),
        keep AS (SELECT h, MIN(doc_id) AS keep_id FROM norm GROUP BY h)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n.doc_id <> k.keep_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dups,
               CAST(SUM(CASE WHEN n.doc_id <> k.keep_id THEN 1 ELSE 0 END)
                 AS BIGINT) * 65536 // COUNT(*) AS dup_rate_fp
        FROM norm n JOIN keep k USING (h) GROUP BY source"""),
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.operators.Dedup.exactNormalized(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_dups"))
          .withColumn("dup_rate_fp", expr("n_dups * 65536 div n_docs"))
      }),

    // ---- q207: epoch expansion — q204's allocation made CONCRETE:
    // every doc repeats alloc div n_g times, and a hash-ordered token
    // prefix of each language repeats once more to spend the
    // remainder (approached from below at doc granularity, the
    // q122/q178 budget discipline). The output is the repeat schedule
    // a trainer consumes. Allocation is group-grain and broadcast;
    // the corpus shuffles once for the language-partitioned
    // running-sum window. The oracle chains q204's recursive-CTE
    // waterfilling into q178's window pattern. ----
    QuerySpec(
      "q207_epoch_expansion",
      Some(s"""
        WITH RECURSIVE items AS (
          SELECT doc_id, lang,
                 CASE WHEN nrm = '' THEN 0
                      ELSE CAST(LEN(STRING_SPLIT(nrm, ' ')) AS BIGINT) END AS n
          FROM (SELECT doc_id, lang,
                       regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nrm
                FROM documents)),
        gstats AS (
          SELECT lang, CAST(SUM(n) AS BIGINT) AS n_g FROM items GROUP BY lang),
        tot AS (
          SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot FROM gstats),
        ordered AS (
          SELECT lang, n_g, n_g * 3 AS capv,
                 ROW_NUMBER() OVER (ORDER BY n_g * 3, lang) AS rn,
                 COUNT(*) OVER () AS nl
          FROM gstats),
        rec(rn, alloc, rem) AS (
          SELECT 0, CAST(0 AS BIGINT),
                 ((n_tot // 5) * 2 + (n_tot % 5) * 2 // 5) FROM tot
          UNION ALL
          SELECT o.rn,
                 LEAST(o.capv, r.rem // (o.nl - o.rn + 1)),
                 r.rem - LEAST(o.capv, r.rem // (o.nl - o.rn + 1))
          FROM rec r JOIN ordered o ON o.rn = r.rn + 1),
        expand AS (
          SELECT i.lang, i.doc_id, i.n, r.alloc, o.n_g,
                 CAST(SUM(i.n) OVER (
                   PARTITION BY i.lang
                   ORDER BY ${graft.Exact.hashOrderSql("i.doc_id", 1000000)},
                            i.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum
          FROM items i
          JOIN ordered o USING (lang)
          JOIN rec r ON r.rn = o.rn)
        SELECT lang, doc_id, n AS n_toks,
               alloc // n_g
                 + CASE WHEN cum <= alloc % n_g THEN 1 ELSE 0 END AS n_repeats
        FROM expand
        WHERE n_g > 0
          AND alloc // n_g
                + CASE WHEN cum <= alloc % n_g THEN 1 ELSE 0 END > 0"""),
      (s, dir) => {
        val P = graft.operators.CorpusPrep
        val items = Tables.load(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            T.tokenCount(col("text")).as("n_toks"))
        val alloc = P.unimaxAllocation(
          items.groupBy("lang").agg(sum(col("n_toks")).as("n_g")),
          "lang", "n_g", budgetNum = 2L, budgetDen = 5L, epochsCap = 3)
        P.epochExpand(items, "lang", "doc_id", "n_toks", alloc)
      }),

    // ---- q208: margin-criterion pair mining (Artetxe & Schwenk 2019;
    // the CCMatrix/LASER bitext-mining decision rule, applied here as
    // a high-precision aligner of a NEW BATCH against the at-rest
    // corpus): a pair survives only if each side is the other's top-1
    // neighbor AND the dot stands out against BOTH sides' k-NN
    // averages — margin = dot·(cnt_a+cnt_b) / (Σtop4_a + Σtop4_b) ≥
    // 1.1. Raw cosine thresholds over-fire in dense hubs (a vector
    // whose whole neighborhood is close); the margin normalizer is
    // exactly the hubness correction. Scale shape: the mining batch
    // (even ids < 200 — ingest-bounded) BROADCASTS; the corpus side
    // streams through the dot scan once per consumer, and both k-NN
    // tables are bounded-state TopK aggregates (map-combined), so
    // nothing corpus-grain is ever sorted or windowed. ----
    QuerySpec(
      "q208_margin_mining",
      Some(s"""
        WITH ${AnnOracle.qz()}, a AS (
          SELECT vec_id AS id_a, v AS av FROM qz
          WHERE vec_id % 2 = 0 AND vec_id < 200
        ), b AS (
          SELECT vec_id AS id_b, v AS bv FROM qz WHERE vec_id % 2 = 1
        ), pairs AS (
          SELECT * FROM (
            SELECT id_a, id_b,
                   CAST(list_sum(list_transform(generate_series(1, len(av)),
                     i -> av[i] * bv[i])) AS BIGINT) AS dot
            FROM a, b) raw
          WHERE dot > 0
        ), ar AS (
          SELECT id_a, id_b, dot,
                 ROW_NUMBER() OVER (PARTITION BY id_a
                                    ORDER BY dot DESC, id_b) AS r
          FROM pairs
        ), astats AS (
          SELECT id_a,
                 CAST(SUM(CASE WHEN r <= 4 THEN dot END) AS BIGINT) AS sumk_a,
                 CAST(SUM(CASE WHEN r <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
                 MIN(CASE WHEN r = 1 THEN id_b END) AS fwd
          FROM ar GROUP BY id_a
        ), br AS (
          SELECT id_a, id_b, dot,
                 ROW_NUMBER() OVER (PARTITION BY id_b
                                    ORDER BY dot DESC, id_a) AS r
          FROM pairs
        ), bstats AS (
          SELECT id_b,
                 CAST(SUM(CASE WHEN r <= 4 THEN dot END) AS BIGINT) AS sumk_b,
                 CAST(SUM(CASE WHEN r <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b,
                 MIN(CASE WHEN r = 1 THEN id_a END) AS bwd
          FROM br GROUP BY id_b
        )
        SELECT p.id_a, p.id_b, p.dot,
               p.dot * (s.cnt_a + t.cnt_b) * 65536
                 // (s.sumk_a + t.sumk_b) AS margin_fp
        FROM pairs p
        JOIN astats s USING (id_a)
        JOIN bstats t USING (id_b)
        WHERE s.fwd = p.id_b AND t.bwd = p.id_a
          AND p.dot * (s.cnt_a + t.cnt_b) * 65536
                // (s.sumk_a + t.sumk_b) >= 72090"""),
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val quant = Ann.quantizedEmbedding
        graft.operators.Similarity.marginMine(
          emb.filter(col("vec_id") % 2 === 1)
            .select(col("vec_id"), quant.as("qv")), "vec_id",
          emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 200)
            .select(col("vec_id"), quant.as("qv")), "vec_id",
          "qv", k = 4, marginFpMin = 72090L)
      }),

    // ---- q209: cluster-balanced DIVERSITY sample — the anti-hub
    // complement of SemDeDup (q153): instead of deleting redundancy
    // inside embedding clusters, CAP each cluster's contribution so
    // the sample spans the space instead of following its density
    // (cluster-balanced selection, the DiverseEvol/dataset-pruning
    // staple). Assignment = nearest of the 16 lowest-id centroids
    // (the q44/q90 untrained choice);
    // the per-cluster keep is the domainCap TopK aggregate in
    // deterministic hash order — map-side partials hold ≤ cap entries
    // per cluster, so the head cluster of a density-skewed space
    // never lands on one reducer (the per-vec assignment window is
    // 16-rows-per-partition, bounded by construction). ----
    QuerySpec(
      "q209_diversity_sample",
      Some(s"""
        WITH ${AnnOracle.qz()}, ${AnnOracle.cents(16)}, ${AnnOracle.assigned()}
        SELECT list_id, vec_id FROM (
          SELECT list_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY list_id
                   ORDER BY ${graft.Exact.hashOrderSql("vec_id", 97)}, vec_id)
                   AS pick
          FROM assigned)
        WHERE pick <= 20"""),
      (s, dir) => {
        val corpus = Ann.quantized(s, dir)
        val assigned = Ann.assign(corpus, Ann.lowestIds(corpus, 16))
          .select(col("list_id").as("domain"), col("vec_id"))
        graft.operators.CorpusPrep.capByDomain(assigned, "vec_id", 20)
          .select(col("domain").as("list_id"), col("vec_id"))
      }),

    // ---- q210: TRAINED-kmeans IVF in integer arithmetic — q49's index
    // family (sampled Lloyd training + IVF assign→probe→rank) under the
    // hash gate (r16 verdict item 3: q49's previous twin q173 trains a
    // PQ codebook, a different family). The trainer is
    // [[Similarity.kmeansCentroidsQuantized]]: a hashOrder-spread
    // 256-row sample, init = first 8 in hash order, TWO Lloyd rounds
    // with argmax-integer-dot assignment (ties to the smaller list id)
    // and the +4096-shift floor-mean update; emptied lists DROP exactly
    // as the float trainer's groupBy does. The oracle replays sampling,
    // both rounds, corpus assignment, probing, and the final top-5 —
    // the whole index build is bit-replayed, not just the search. ----
    QuerySpec(
      "q210_ann_ivf_kmeans_quantized_topk",
      Some(s"""
        WITH ${AnnOracle.qz()}, dims AS (
          -- dimension DERIVED from the data (r16 advice: a hardcoded 65
          -- bound silently truncated/NULL-padded centroids if the
          -- embedding width ever changed; the Scala trainer derives
          -- lengths from the vectors, so the oracle must too)
          SELECT UNNEST(range(1, (SELECT MAX(len(v)) FROM qz) + 1)) AS i
        ), samp AS (
          SELECT vec_id, v,
                 ROW_NUMBER() OVER (ORDER BY
                   ${graft.Exact.hashOrderSql("vec_id", 1000000)}, vec_id) AS rn
          FROM qz
          QUALIFY rn <= 256
        ), cents0 AS (
          SELECT vec_id AS list_id, v AS centv FROM samp WHERE rn <= 8
        ), ${AnnOracle.ivfLloyd(2)}, ${AnnOracle.argmaxAssign("assigned", "qz", "c", "cents2")}, ${AnnOracle.q}, probes AS (
          SELECT query_id, qv, list_id FROM (
            SELECT q.query_id, q.qv, ct.list_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                       i -> q.qv[i] * ct.centv[i])) AS BIGINT) DESC, ct.list_id) AS r
            FROM q, cents2 ct) t
          WHERE r <= 3
        ), ${AnnOracle.scoreProbed}
        SELECT query_id, vec_id, dot, CAST(rank AS BIGINT) AS rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY dot DESC, vec_id) AS rank
          FROM scored)
        WHERE rank <= 5"""),
      (s, dir) => {
        val corpus = Ann.quantized(s, dir)
        // the trained codebook is k=8 rows — collected bounded, so
        // assignment and probing are literal-codebook projections
        val cents = Ann.codebook(
          graft.operators.Similarity.kmeansCentroidsQuantized(
            corpus, "vec_id", "v", k = 8, iters = 2, sampleSize = 256),
          "_list", "_centroid")
        val probes = Ann.probe(Ann.queries(corpus), cents, 3)
        Ann.topK(Ann.scoreProbed(Ann.assign(corpus, cents), probes), "dot", 5)
      }),

    // ---- q211: LEAKAGE-SAFE train/test split — the split analogue of
    // decontamination (Lee et al. 2022 §5: a per-doc hash split leaks
    // through near-duplicate twins). Split unit = the transitive
    // near-dup CLUSTER (md5 MinHash pairs, the q91 family, →
    // connectedComponents min-id roots); side = hashOrder of the
    // cluster ROOT, so components never straddle the boundary. The
    // oracle replays the FULL chain: signatures, banding, verify,
    // transitive closure (recursive min-reachability CTE — exact at
    // gate scale where clusters are small), root hashing. ----
    QuerySpec(
      "q211_leakage_safe_split",
      Some(s"""
        WITH RECURSIVE ${MinhashOracle.signaturesCte(32, 8)},
        ${MinhashOracle.verifiedSelfPairsCte(0.5)},
        edges AS (
          SELECT id_a AS u, id_b AS v FROM verified
          UNION ALL SELECT id_b AS u, id_a AS v FROM verified
        ), reach AS (
          SELECT doc_id AS id, doc_id AS r FROM documents
          UNION
          SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
        ), roots AS (
          SELECT id AS doc_id, MIN(r) AS cluster_root FROM reach GROUP BY 1
        )
        SELECT doc_id, cluster_root,
               CASE WHEN ${graft.Exact.hashOrderSql("cluster_root", 100)} < 10
                    THEN 'test' ELSE 'train' END AS side
        FROM roots"""),
      (s, dir) => {
        val docs = graft.operators.Fanout.forKernel(
          Tables.load(s, dir, "documents"))
        graft.operators.CorpusPrep.leakageSafeSplit(
          docs, "doc_id",
          graft.operators.Dedup.minhashCandidatePairs(
            docs, "doc_id", "text", shingleSize = 3, numHashes = 32,
            bands = 8, threshold = 0.5,
            shingleHasher = graft.functions.TextFunctions.md5ShingleHashes),
          testPct = 10)
      }),

    // ---- q212: INCREMENTAL STICKY split — q211 under the production
    // append-only contract: snapshot 1 (doc_id % 3 ≠ 0) is split and
    // PUBLISHED; snapshot 2 adds the % 3 = 0 docs. Published sides
    // must not move (a test→train flip retroactively contaminates
    // every eval run on the old split); new docs adopt their
    // component's existing side; all-new components get the fresh
    // hash-of-root side; docs BRIDGING both old sides quarantine —
    // any side would put them in near-dup reach of the other, and
    // re-siding old members is forbidden. The oracle replays BOTH
    // closures (old snapshot's and the union's — per-pair similarity
    // is corpus-independent, so old-snapshot pairs are the union's
    // verified pairs with both endpoints old) plus the component side
    // census. ----
    QuerySpec(
      "q212_leakage_safe_split_incremental",
      Some(s"""
        WITH RECURSIVE ${MinhashOracle.signaturesCte(32, 8)},
        ${MinhashOracle.verifiedSelfPairsCte(0.5)},
        edges_old AS (
          SELECT id_a AS u, id_b AS v FROM verified
          WHERE id_a % 3 <> 0 AND id_b % 3 <> 0
          UNION ALL SELECT id_b, id_a FROM verified
          WHERE id_a % 3 <> 0 AND id_b % 3 <> 0
        ), reach_old AS (
          SELECT doc_id AS id, doc_id AS r FROM documents WHERE doc_id % 3 <> 0
          UNION
          SELECT reach_old.id, e.v FROM reach_old
          JOIN edges_old e ON e.u = reach_old.r
        ), assigned AS (
          SELECT id AS doc_id,
                 CASE WHEN ${graft.Exact.hashOrderSql("MIN(r)", 100)} < 10
                      THEN 'test' ELSE 'train' END AS side
          FROM reach_old GROUP BY id
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM verified
          UNION ALL SELECT id_b, id_a FROM verified
        ), reach AS (
          SELECT doc_id AS id, doc_id AS r FROM documents
          UNION
          SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
        ), roots AS (
          SELECT id AS doc_id, MIN(r) AS cluster_root FROM reach GROUP BY 1
        ), census AS (
          -- 'quarantined' poisons both flags (chained-use contract; the
          -- assigned CTE here is a fresh q211 split so it never holds
          -- one, keeping this oracle's result unchanged)
          SELECT r.cluster_root,
                 MAX(CASE WHEN a.side IN ('train', 'quarantined')
                     THEN 1 ELSE 0 END) AS has_train,
                 MAX(CASE WHEN a.side IN ('test', 'quarantined')
                     THEN 1 ELSE 0 END) AS has_test
          FROM roots r LEFT JOIN assigned a USING (doc_id) GROUP BY 1
        )
        SELECT r.doc_id, r.cluster_root,
               CASE WHEN a.side IS NOT NULL THEN a.side
                    WHEN c.has_train = 1 AND c.has_test = 1 THEN 'quarantined'
                    WHEN c.has_train = 1 THEN 'train'
                    WHEN c.has_test = 1 THEN 'test'
                    WHEN ${graft.Exact.hashOrderSql("r.cluster_root", 100)} < 10
                      THEN 'test'
                    ELSE 'train' END AS side,
               a.side IS NULL AS is_new
        FROM roots r
        JOIN census c USING (cluster_root)
        LEFT JOIN assigned a USING (doc_id)"""),
      (s, dir) => {
        val docs = graft.operators.Fanout.forKernel(
          Tables.load(s, dir, "documents"))
        // ONE signature+banding kernel evaluation serves BOTH snapshots
        // (r21: signatures are per-row text functions, so the old
        // snapshot's banded frame is the union's filtered; hot-bucket
        // capping still runs independently per snapshot — the published-
        // split capping contract is untouched). The former shape ran the
        // corpus-grain md5 kernel twice.
        val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val (oldPairs, allPairs) =
          graft.operators.Dedup.minhashCandidatePairsWithSubset(
            docs, "doc_id", "text", col("doc_id") % 3 =!= 0,
            shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5,
            shingleHasher = graft.functions.TextFunctions.md5ShingleHashes)
        val assigned = graft.operators.CorpusPrep.leakageSafeSplit(
          oldDocs, "doc_id", oldPairs, testPct = 10)
          .select(col("doc_id"), col("side"))
        graft.operators.CorpusPrep.leakageSafeSplitIncremental(
          assigned, docs, "doc_id", allPairs, testPct = 10)
      }),

    // ---- q213: cross-doc EXACT-SUBSTRING spans at every token
    // alignment (Lee et al. 2022 ExactSubstr; round 17) — the
    // dedup-family gap the r16 verdict named: q197's fixed chunk grid
    // misses a duplicate straddling a grid line, and q132's CDC chunks
    // crop partial-chunk ends. Fingerprint = each position's 16-token
    // md5 window; a position is flagged when its window occurs in ≥ 2
    // distinct docs; maximal consecutive runs report as (doc, start,
    // len, n_windows). The oracle replays tokenization, every window
    // hash, the distinct-doc census, and the run assembly. ----
    QuerySpec(
      "q213_exact_substr_spans",
      Some("""
        WITH toks AS (
          SELECT doc_id, CASE WHEN nrm = '' THEN [] ELSE string_split(nrm, ' ') END AS t
          FROM (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nrm
                FROM documents)
        ), wins AS (
          SELECT doc_id, p,
                 CAST(CASE WHEN hu >= 9223372036854775808
                           THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS h
          FROM (
            SELECT doc_id, i AS p,
                   list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(range(1, 17),
                       k -> CAST(strpos('0123456789abcdef', m[k]) - 1 AS HUGEINT))),
                     (acc, d) -> acc * 16 + d) AS hu
            FROM (
              SELECT doc_id, i, md5(array_to_string(t[i:i+15], ' ')) AS m
              FROM toks, UNNEST(range(1, len(t) - 16 + 2)) AS ti(i)))
        ), duph AS (
          SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
          WHERE nd >= 2
        ), flagged AS (
          SELECT doc_id, p,
                 p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS run
          FROM wins WHERE h IN (SELECT h FROM duph)
        )
        SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
               CAST(MAX(p) - MIN(p) + 16 AS BIGINT) AS span_len,
               COUNT(*) AS n_windows
        FROM flagged GROUP BY doc_id, run"""),
      (s, dir) => graft.operators.Dedup.exactSubstrSpans(
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
        "doc_id", "text", window = 16, minDocs = 2)),

    // ---- q214: exact-substring SCRUB (round 18) — the consumer-facing
    // action for q213's spans (the r17 verdict: the spans report
    // existed but nothing removed them, so boundary-straddling
    // duplicates still shipped in the curated export). Keep-one-copy
    // on the window-hash census: the MIN doc id holding a duplicated
    // 16-token window keeps its copy, every other doc's flagged runs
    // are cut at token grain. The oracle replays tokenization, the
    // window hashes, the keeper census, run assembly, and the
    // token-level reconstruction. ----
    QuerySpec(
      "q214_exact_substr_scrub",
      Some("""
        WITH toks AS (
          SELECT doc_id, CASE WHEN nrm = '' THEN [] ELSE string_split(nrm, ' ') END AS t
          FROM (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nrm
                FROM documents)
        ), wins AS (
          SELECT doc_id, p,
                 CAST(CASE WHEN hu >= 9223372036854775808
                           THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS h
          FROM (
            SELECT doc_id, i AS p,
                   list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(range(1, 17),
                       k -> CAST(strpos('0123456789abcdef', m[k]) - 1 AS HUGEINT))),
                     (acc, d) -> acc * 16 + d) AS hu
            FROM (
              SELECT doc_id, i, md5(array_to_string(t[i:i+15], ' ')) AS m
              FROM toks, UNNEST(range(1, len(t) - 16 + 2)) AS ti(i)))
        ), census AS (
          SELECT h, MIN(doc_id) AS keep
          FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
        ), flagged AS (
          SELECT w.doc_id, w.p,
                 w.p - ROW_NUMBER() OVER (PARTITION BY w.doc_id ORDER BY w.p) AS run
          FROM wins w JOIN census c USING (h) WHERE w.doc_id <> c.keep
        ), spans AS (
          SELECT doc_id, MIN(p) AS s, MAX(p) + 16 - 1 AS e
          FROM flagged GROUP BY doc_id, run
        ), removed AS (
          SELECT DISTINCT doc_id, i
          FROM spans, UNNEST(range(s, e + 1)) AS ti(i)
        ), tokrows AS (
          SELECT doc_id, i, t[i] AS tok
          FROM toks, UNNEST(range(1, len(t) + 1)) AS ti(i)
        ), keptagg AS (
          SELECT tr.doc_id,
                 string_agg(tr.tok, ' ' ORDER BY tr.i)
                   FILTER (WHERE r.i IS NULL) AS txt,
                 COUNT(*) AS n_toks,
                 COUNT(r.i) AS n_rm
          FROM tokrows tr
          LEFT JOIN removed r ON r.doc_id = tr.doc_id AND r.i = tr.i
          GROUP BY tr.doc_id
        )
        SELECT t.doc_id,
               COALESCE(k.txt, '') AS text_scrubbed,
               COALESCE(k.n_toks, 0) AS n_tokens,
               COALESCE(k.n_rm, 0) AS n_removed
        FROM toks t LEFT JOIN keptagg k USING (doc_id)"""),
      (s, dir) => graft.operators.Dedup.exactSubstrScrub(
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
        "doc_id", "text", window = 16, minDocs = 2)),

    // ---- q215: exact-substring scrub over ALL repeats (round 19) —
    // the full Lee et al. semantic: the census counts every occurrence
    // of a 16-token window (within-doc repeats included, the gap q214's
    // distinct-doc census cannot see), and exactly ONE first-occurrence
    // copy — min (doc_id, position) — survives of each duplicated
    // window. The oracle replays tokenization, window hashes, the
    // occurrence census with its (doc, pos) keeper election, run
    // assembly, and token-level reconstruction. ----
    QuerySpec(
      "q215_exact_substr_scrub_all",
      Some("""
        WITH toks AS (
          SELECT doc_id, CASE WHEN nrm = '' THEN [] ELSE string_split(nrm, ' ') END AS t
          FROM (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nrm
                FROM documents)
        ), wins AS (
          SELECT doc_id, p,
                 CAST(CASE WHEN hu >= 9223372036854775808
                           THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS h
          FROM (
            SELECT doc_id, i AS p,
                   list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(range(1, 17),
                       k -> CAST(strpos('0123456789abcdef', m[k]) - 1 AS HUGEINT))),
                     (acc, d) -> acc * 16 + d) AS hu
            FROM (
              SELECT doc_id, i, md5(array_to_string(t[i:i+15], ' ')) AS m
              FROM toks, UNNEST(range(1, len(t) - 16 + 2)) AS ti(i)))
        ), flagged AS (
          SELECT doc_id, p,
                 p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS run
          FROM (
            SELECT doc_id, p,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn,
                   COUNT(*) OVER (PARTITION BY h) AS n
            FROM wins)
          WHERE n >= 2 AND rn > 1
        ), spans AS (
          SELECT doc_id, MIN(p) AS s, MAX(p) + 16 - 1 AS e
          FROM flagged GROUP BY doc_id, run
        ), removed AS (
          SELECT DISTINCT doc_id, i
          FROM spans, UNNEST(range(s, e + 1)) AS ti(i)
        ), tokrows AS (
          SELECT doc_id, i, t[i] AS tok
          FROM toks, UNNEST(range(1, len(t) + 1)) AS ti(i)
        ), keptagg AS (
          SELECT tr.doc_id,
                 string_agg(tr.tok, ' ' ORDER BY tr.i)
                   FILTER (WHERE r.i IS NULL) AS txt,
                 COUNT(*) AS n_toks,
                 COUNT(r.i) AS n_rm
          FROM tokrows tr
          LEFT JOIN removed r ON r.doc_id = tr.doc_id AND r.i = tr.i
          GROUP BY tr.doc_id
        )
        SELECT t.doc_id,
               COALESCE(k.txt, '') AS text_scrubbed,
               COALESCE(k.n_toks, 0) AS n_tokens,
               COALESCE(k.n_rm, 0) AS n_removed
        FROM toks t LEFT JOIN keptagg k USING (doc_id)"""),
      (s, dir) => graft.operators.Dedup.exactSubstrScrubAll(
        graft.operators.Fanout.forKernel(Tables.load(s, dir, "documents")),
        "doc_id", "text", window = 16, minCopies = 2))
  )
}

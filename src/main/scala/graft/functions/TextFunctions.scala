package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale corpus pipelines.
  *
  * Everything here is composed from codegen'd Spark built-ins (or
  * higher-order array functions) — no Scala UDFs — so the expressions
  * stay inside Catalyst, get pushed into whole-stage codegen where
  * possible, and scale linearly with partitions. The reference's only
  * text ops are LIKE/regexp cleaning (SURVEY.md §2.2–2.3); the corpus
  * analytics here (token stats, quality, lang-id, shingles/minhash
  * plumbing) are the training-data-pipeline extensions.
  */
object TextFunctions {

  /** First 64 bits of md5 as a signed long — the cross-engine-checkable
    * 64-bit hash family: both Spark and DuckDB compute md5 over UTF-8
    * bytes natively, so any operator built on it can carry a DuckDB
    * oracle (q37; same rationale as q85's md5 grams). Good avalanche
    * (unlike a bare polynomial hash), so simhash bit votes stay
    * independent.
    *
    * Kernel (round 6): the hex prefix is read as TWO 32-bit halves —
    * `conv` of 8 hex chars each, cast straight to long — recombined as
    * `hi·2³² + lo`, which overflows-and-wraps into exactly the signed
    * two's-complement value of the full 64-bit prefix (ANSI off; Java
    * long semantics). The previous kernel round-tripped all 16 chars
    * through decimal(20,0) — a per-value `BigDecimal` string parse that
    * dominated q91's profile at scale (one thread-dump frame:
    * `Decimal.fromString` 630 s of one task's CPU at sf1). Values are
    * bit-identical (property-tested against the decimal form). */
  def md5Hash64(c: Column): Column = {
    val hex = md5(c)
    val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32) + lo
  }

  /** The pre-round-6 decimal-kernel form of [[md5Hash64]], kept ONLY as
    * the property-test witness that the fast kernel is value-identical. */
  private[graft] def md5Hash64ViaDecimal(c: Column): Column = {
    val dec = conv(substring(md5(c), 1, 16), 16, 10)
      .cast(org.apache.spark.sql.types.DecimalType(20, 0))
    when(dec >= lit(BigDecimal("9223372036854775808")),
      (dec - lit(BigDecimal("18446744073709551616"))).cast("long"))
      .otherwise(dec.cast("long"))
  }

  /** Lowercase, trim, collapse runs of whitespace — canonical text form
    * used by dedup so cosmetic differences don't defeat hashing. */
  def normalizeText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** Whitespace tokens of the normalized text (empty text → empty array,
    * not array("")). */
  def tokens(c: Column): Column =
    when(length(normalizeText(c)) === 0, array().cast("array<string>"))
      .otherwise(split(normalizeText(c), " "))

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish subword segmentation proxy: counts word pieces produced by
    * splitting on whitespace AND punctuation/digit boundaries — a cheap,
    * deterministic stand-in for a real tokenizer's token count. */
  def subwordCount(c: Column): Column =
    size(filter(
      split(lower(c), "[^a-z0-9]+|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])"),
      t => length(t) > 0)).cast("long")

  /** Word n-gram shingles over the token array: a column of
    * `array<string>` where each element is n consecutive tokens joined by
    * a space. Fewer than n tokens → single shingle of the whole text. */
  def shingles(c: Column, n: Int): Column =
    // The token array is bound ONCE as a lambda variable: higher-order
    // function bodies run interpreted (outside whole-stage codegen), so
    // a captured `tokens(c)` subtree inside the position lambda would
    // re-run the regex tokenization at EVERY shingle position — O(L²)
    // per document (measured 14× on the bigram catalog queries).
    element_at(
      transform(array(tokens(c)), ts =>
        when(size(ts) < n, array(concat_ws(" ", ts)))
          .otherwise(transform(
            sequence(lit(0), size(ts) - n),
            i => concat_ws(" ", slice(ts, i + 1, lit(n)))))),
      1)

  /** Distinct 64-bit hashes of the word n-gram shingles — the input to
    * minhash signatures and exact-Jaccard verification. One-pass custom
    * expression ([[ShingleHashes64]]). */
  def shingleHashes(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(ShingleHashes64(shim.expression(c), n))
  }

  /** All canonical (a < b) id pairs of a bounded posting list
    * (`array<long>` → `array<struct<a,b>>`) — [[SortedPairs]]; the
    * pair-expansion kernel of the postings-grain containment join. */
  def sortedPairs(c: Column): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(SortedPairs(shim.expression(c)))
  }

  /** Packed fast path of [[sortedPairs]] (`array<long>`, each pair as
    * `(a << 32) | b`) — requires ids in [0, 2³¹); see
    * [[SortedPairsPacked]]. */
  def sortedPairsPacked(c: Column): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(SortedPairsPacked(shim.expression(c)))
  }

  /** HOF reference twin of [[shingleHashes]] (xxhash64 over the string
    * shingles of [[shingles]]) — different hash family, same set
    * cardinalities; kept for property cross-checks. */
  def shingleHashesHof(c: Column, n: Int): Column =
    transform(array_distinct(shingles(c, n)), s => xxhash64(s))

  /** md5-prefix shingle hash family — slower per row than
    * [[shingleHashes]] but replayable by DuckDB, which puts the minhash
    * dedup pipeline under the hash oracle (q91/q191/q192/q195/q196).
    * One-pass custom expression ([[Md5ShingleHashes64]]); the HOF twin
    * below is the property-test witness. */
  def md5ShingleHashes(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(Md5ShingleHashes64(shim.expression(c), n))
  }

  /** HOF reference twin of [[md5ShingleHashes]] ([[md5Hash64]] over the
    * distinct string shingles) — kept ONLY as the property-test witness
    * that the one-pass kernel is value-identical (measured 10× slower
    * per corpus pass at sf1). */
  private[graft] def md5ShingleHashesHof(c: Column, n: Int): Column =
    transform(array_distinct(shingles(c, n)), s => md5Hash64(s))

  /** Content-defined chunk spans of a text ([[CdcChunks]]): 1-based
    * (start, len) code-point spans whose boundaries come from rolling
    * w-gram hashes, so identical content chunks identically at any
    * offset — the candidate grid for substring-level dedup. */
  def cdcChunks(c: Column, w: Int = 8, p: Int = 32): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(CdcChunks(shim.expression(c), w, p))
  }

  /** MinHash signature over HASHED shingles (`array<long>`): k affine
    * hash minima in one pass (custom expression [[MinHashSignature]]).
    * Output array<long> of length k. No shuffle. */
  def minhashSignature(shingleHashCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(MinHashSignature(shim.expression(shingleHashCol), k))
  }

  /** Densified one-permutation MinHash signature over HASHED shingles
    * (`array<long>`): one bin-min pass + rotation densification
    * (custom expression [[OphSignature]]) — O(|shingles| + k) per doc
    * vs classic MinHash's O(k·|shingles|). Output array<long> of
    * length k, drop-in for [[bandHashes]] banding. */
  def ophSignature(shingleHashCol: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.shim
    shim.column(OphSignature(shim.expression(shingleHashCol), k))
  }

  /** Band hashes for LSH: split a length-k signature into `bands` bands
    * of k/bands values each and hash each band. Two texts whose
    * signatures agree on any whole band land in the same LSH bucket. */
  def bandHashes(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, concat_ws(",", slice(sig, b * rows + 1, lit(rows)))))
  }

  /** Exact Jaccard similarity of two string arrays (distinct elements). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Redact email addresses, URLs and long digit runs — the scrubbing
    * pass a training corpus gets before packing. Pure regexp_replace
    * chain (codegen'd, no shuffle); patterns kept RE2-compatible so the
    * DuckDB oracle can mirror them exactly. */
  def redact(c: Column): Column = {
    val email = regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = regexp_replace(email, "https?://[^\\s]+", "<URL>")
    regexp_replace(url, "[0-9]{9,}", "<NUM>")
  }

  // --- language identification (marker n-gram heuristic) ---------------

  /** Per-language marker n-grams/words. Tiny profiles: the goal is a
    * deterministic, shuffle-free heuristic, not model-grade accuracy. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", " to ", "ing "),
    "de" -> Seq(" der ", " die ", " und ", " ist ", " nicht ", "sch"),
    "fr" -> Seq(" le ", " la ", " les ", " est ", " et ", " une "),
    "es" -> Seq(" el ", " los ", " es ", " y ", " una ", "ción"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"))

  /** Count of non-overlapping occurrences of `marker` in the text —
    * `(len(x) - len(replace(x, m, ''))) / len(m)`. Literal `replace`,
    * not regexp_replace: no regex engine on the hot path. */
  private def occurrences(c: Column, marker: String): Column =
    ((length(c) - length(replace(c, lit(marker), lit("")))) /
      lit(marker.length)).cast("long")

  /** Predicted language: argmax of marker-occurrence score; ties broken
    * by language code (via max over (score, lang) structs) so the result
    * is deterministic. Unscored text falls back to "und". */
  def langId(c: Column): Column = {
    val padded = concat(lit(" "), normalizeText(c), lit(" "))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val score = markers.map(m => occurrences(padded, m)).reduce(_ + _)
      struct(score.as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  // --- quality scoring --------------------------------------------------

  /** Heuristic quality metrics (Gopher/C4-style length & symbol rules):
    * returns a struct of n_chars, n_tokens, avg_token_len, alpha_ratio,
    * punct_ratio, stopword_ratio, and a composite [0,1] quality score.
    * All per-row arithmetic — deterministic, no accumulation. */
  def qualityMetrics(c: Column): Column = {
    val norm = normalizeText(c)
    val nChars = length(norm).cast("double")
    val toks = tokens(c)
    val nToks = size(toks).cast("double")
    val alpha = length(regexp_replace(norm, "[^a-z]", "")).cast("double")
    val punct = length(regexp_replace(norm, "[^.,;:!?'\"()]", "")).cast("double")
    val stop = Seq(" the ", " a ", " and ", " of ", " to ", " in ", " is ")
      .map(m => occurrences(concat(lit(" "), norm, lit(" ")), m))
      .reduce(_ + _).cast("double")
    val safeChars = greatest(nChars, lit(1.0))
    val safeToks = greatest(nToks, lit(1.0))
    val avgTokLen = (nChars - (nToks - 1)) / safeToks
    val alphaRatio = alpha / safeChars
    val punctRatio = punct / safeChars
    val stopRatio = stop / safeToks
    // score: reward sane token lengths, alphabetic content, some stopwords
    val lenOk = when(nToks.between(5, 100000) && avgTokLen.between(2, 12), 1.0).otherwise(0.0)
    val score = (lenOk * 0.4) + (alphaRatio * 0.3) +
      (least(stopRatio * 5, lit(1.0)) * 0.2) + ((lit(1.0) - least(punctRatio * 5, lit(1.0))) * 0.1)
    struct(
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      avgTokLen.as("avg_token_len"),
      alphaRatio.as("alpha_ratio"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Two-label public suffixes the extractor recognizes (a bounded,
    * explicitly-versioned subset of the public-suffix list — the full
    * list is data, not code, and would ship as a broadcast lookup in
    * production; the subset keeps the LOGIC oracle-checkable). */
  val multiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "co.in", "co.kr", "com.cn", "com.mx")

  /** Registrable domain (eTLD+1) of a URL — the per-site grain a crawl
    * pipeline caps and rate-limits on: `a.b.site.co.uk` and
    * `site.co.uk` must collapse to the same key, while `site.co.uk`
    * and `site.org.uk` must not. Composed entirely from codegen'd
    * built-ins: `parse_url(HOST)` → label split → suffix-aware take.
    * Hosts with a recognized two-label suffix keep three labels,
    * anything else keeps two; bare single-label hosts and malformed
    * URLs (null host) pass through / stay null. */
  def registrableDomain(url: Column): Column = {
    val host = lower(parse_url(url, lit("HOST")))
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    when(host.isNull, lit(null).cast("string"))
      .when(n >= 3 && last2.isin(multiPartSuffixes: _*),
        concat_ws(".", element_at(parts, -3), last2))
      .when(n >= 2, last2)
      .otherwise(host)
  }
}

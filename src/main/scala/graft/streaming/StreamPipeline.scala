package graft.streaming

import graft.pipeline.{Clean, Schemas}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming twin of the batch pipeline (SURVEY.md §2.9).
  *
  * The reference reads three Kinesis streams, deserializes the binary
  * `data` column with from_json over a declared struct, applies the SAME
  * cleaning functions as batch, and appends to checkpointed tables
  * (`Kinesis_Processing.ipynb`). OSS Spark has no Kinesis source, so the
  * source is any streaming DataFrame with a `value` column (Kafka's
  * wire shape; file/memory sources in tests) — semantics preserved:
  * earliest-offset JSON records, stateless map-only transforms,
  * append-mode sink.
  *
  * Design fix carried from SURVEY §2.9 S5: the reference shares ONE
  * checkpoint dir across its three queries (Kinesis_Processing.ipynb
  * :1616) — a correctness hazard; here every sink derives a unique
  * checkpoint path from its query name.
  */
object StreamPipeline {

  /** S4 — deserialize: binary/string `value` → from_json(declared
    * struct) → flatten (`create_dataframe`, Kinesis_Processing.ipynb
    * :701-712). */
  def deserialize(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("our_data"))
      .select("our_data.*")

  /** ST4 — cross-stream pollution guard then table-specific cleaning;
    * identical Clean.* code path as batch (ST3). */
  def cleanPinStream(raw: DataFrame): DataFrame =
    Clean.pin(Clean.dropAllNull(Schemas.rawPin.fieldNames.toSeq.filterNot(_ == "index"))(raw))

  def cleanGeoStream(raw: DataFrame): DataFrame =
    Clean.geo(Clean.dropAllNull(Schemas.rawGeo.fieldNames.toSeq.filterNot(_ == "ind"))(raw))

  def cleanUserStream(raw: DataFrame): DataFrame =
    Clean.user(Clean.dropAllNull(Schemas.rawUser.fieldNames.toSeq.filterNot(_ == "ind"))(raw))

  /** S5 — append-mode parquet sink with a PER-QUERY checkpoint dir. */
  def writeStream(cleaned: DataFrame, outBase: String, name: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    cleaned.writeStream
      .queryName(name)
      .format("parquet")
      .option("path", s"$outBase/data/$name")
      .option("checkpointLocation", s"$outBase/_checkpoints/$name")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Streaming exact-dedup with keyed state (extension — the reference
    * is append-only/stateless): first occurrence of each content hash
    * passes through, replays/duplicates are dropped. State is one
    * boolean per hash via flatMapGroupsWithState; at scale, pair with
    * watermark-based state TTL (GroupStateTimeout) so state doesn't grow
    * unboundedly — here timeout is left NoTimeout for replay-exactness.
    * Emits (hash, serialized row) pairs; callers re-expand downstream. */
  def dedupStream(rows: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            it.take(1).map { case (_, payload) => (key, payload) }
          }
      }
  }

  /** [[dedupStream]] with BOUNDED state — the form that survives an
    * unbounded key domain (at 100 TB/day of crawl the distinct-hash
    * state of the exact variant grows forever; this one's is O(keys
    * inside the watermark window)). Built on the engine's own
    * watermark-evicted dedup operator (`dropDuplicatesWithinWatermark`,
    * state cleanup handled by Structured Streaming itself — no
    * hand-rolled timeout bookkeeping to get wrong).
    *
    * Exactness contract (documented, deliberate): the FIRST arrival of
    * each content hash is emitted, and any replay whose event time is
    * within `delay` of a previous arrival of the same hash is dropped —
    * i.e. emissions are identical to [[dedupStream]] for every
    * duplicate that arrives inside the watermark window. A replay
    * arriving LATER than `delay` past the watermark may re-emit (its
    * state was reclaimed); downstream exact-dedup at rest (q130's
    * incremental discipline) catches that tail. Rows are
    * (content hash, event time, payload). */
  def dedupStreamBounded(
      rows: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, String)],
      delay: String): org.apache.spark.sql.Dataset[(Long, String)] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.toDF("hash", "ts", "payload")
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("hash")
      .select(col("hash"), col("payload"))
      .as[(Long, String)]
  }

  /** Streaming funnel conversion — q143's stream twin: per-user state
    * machine tracking the earliest signup instant and the first
    * purchase at-or-after it, emitting an updated
    * `(user, signup_us, first_purchase_us | -1)` record whenever the
    * pair changes (so the LATEST emission per user equals the batch
    * answer on the same events, under ANY micro-batch split or
    * within-user arrival order).
    *
    * Out-of-order safety without unbounded buffering: the only replay
    * hazard is a purchase arriving BEFORE an earlier-timestamped
    * signup. Purchases at-or-after the current signup candidate
    * collapse into one µs (their min); only purchases strictly before
    * it are retained individually, because a yet-earlier signup could
    * retroactively qualify them. Pre-signup purchases are rare by
    * funnel construction, so state per user is O(pre-signup purchases);
    * for streams where that bound does not hold (purchases with no
    * signup ever), use [[funnelStreamBounded]], whose watermark prunes
    * the buffer without changing any emission. Events inside one batch
    * are processed in (us, type) order so batch-boundary placement
    * never changes the fold. */
  def funnelStream(events: org.apache.spark.sql.Dataset[(Long, String, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, List[Long]), (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, it, state: GroupState[(Long, Long, List[Long])]) =>
          funnelStep(user, it.map(e => (e._2, e._3)), state, Long.MinValue)
      }
  }

  // state: (signupUs | MaxValue, qualPurchaseUs | MaxValue, purchases < signupUs)
  private[graft] val FunnelNone = Long.MaxValue

  /** One funnel state-machine step: fold this batch's (type, us) events
    * (sorted by (us, type) so batch-boundary placement never changes
    * the result) into the state, then prune pre-signup purchases older
    * than `wmUs`. The prune is EXACT under the watermark contract: a
    * purchase at t only ever qualifies for a signup s <= t, and no
    * event with time < wmUs will be delivered, so a buffered purchase
    * with t < wmUs can never be claimed by any future signup. */
  private[graft] def funnelAdvance(
      s0: (Long, Long, List[Long]),
      events: Seq[(String, Long)],
      wmUs: Long): (Long, Long, List[Long]) = {
    val folded = events.sortBy(e => (e._2, e._1)).foldLeft(s0) {
      case ((su, qu, pre), ("signup", t)) if t < su =>
        val (now, still) = pre.partition(_ >= t)
        (t, (qu :: now).min, still)
      case ((su, qu, pre), ("purchase", t)) =>
        if (t >= su) (su, math.min(qu, t), pre)
        else (su, qu, t :: pre)
      case (s, _) => s
    }
    (folded._1, folded._2, folded._3.filter(_ >= wmUs))
  }

  /** Shared update+emit wrapper around [[funnelAdvance]]. */
  private def funnelStep(user: Long, events: Iterator[(String, Long)],
      state: org.apache.spark.sql.streaming.GroupState[(Long, Long, List[Long])],
      wmUs: Long): Iterator[(Long, Long, Long)] = {
    val s0 = state.getOption.getOrElse((FunnelNone, FunnelNone, List.empty[Long]))
    val folded = funnelAdvance(s0, events.toSeq, wmUs)
    state.update(folded)
    val changed = (folded._1, folded._2) != (s0._1, s0._2)
    if (changed && folded._1 != FunnelNone)
      Iterator((user, folded._1,
        if (folded._2 == FunnelNone) -1L else folded._2))
    else Iterator.empty
  }

  /** [[funnelStream]] with BOUNDED per-user state — the production
    * variant paired with a watermark, closing the gap where a user
    * with purchases but no signup grows the pre-signup buffer forever.
    * `lateness` is a calendar-interval string (e.g. "10 minutes"):
    * events arriving with event time older than `max seen - lateness`
    * may be dropped by the engine, and under exactly that contract the
    * pre-signup buffer prunes to `t >= watermark` without changing any
    * emission (see [[funnelAdvance]]). State per user is then
    * O(purchases inside the lateness window), not O(stream age). */
  def funnelStreamBounded(
      events: org.apache.spark.sql.Dataset[(Long, String, Long)],
      lateness: String)
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF("user", "etype", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", lateness)
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, List[Long]), (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, it, state: GroupState[(Long, Long, List[Long])]) =>
          funnelStep(user, it.map(e => (e._2, e._3)), state,
            state.getCurrentWatermarkMs() * 1000L)
      }
  }

  /** Streaming ingest dedup against an AT-REST hash index — the
    * production twin of [[dedupStream]]: instead of unbounded keyed
    * executor state (one entry per content hash ever seen), the dedup
    * state lives in parquet. Per micro-batch (foreachBatch):
    * read the index, run [[graft.operators.Dedup.dedupIncremental]]
    * (within-batch keepers + bloom-gated index anti-join), land
    * survivors AND their hashes through [[IdempotentSink]]'s
    * batch=<id> + _SUCCESS discipline. A replayed batch (foreachBatch
    * is at-least-once) skips both writes on its markers — exactly-once
    * output and index growth; survivors commit BEFORE their hashes so
    * a crash between the two can only replay into a skip, never lose
    * or double-count. State survives restarts, is shared across jobs,
    * and costs zero executor memory between batches; a cross-batch
    * duplicate is dropped because the earlier batch's hash is already
    * in the index. */
  def dedupStreamWithIndex(docs: DataFrame, idCol: String, textCol: String,
      outBase: String, indexBase: String, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems, bloomBits: Long = IndexBloomBits)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$outBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupIndexBatch(batch, batchId, idCol, textCol, outBase, indexBase,
          maxIndexDirs, bloomItems, bloomBits)
      }
      .start()

  // DEFAULT geometry of the at-rest index sidecars (constant per index
  // so every batch's filter merges; matches dedupIncremental's
  // defaults). Size `bloomItems` for the landed ELEMENT count over the
  // stream's life, counting element multiplicity — one per doc for the
  // dedup twin, maxHamming+1 per signature for the dhash twin, 1+bands
  // per doc for the split twin — else the folded filter saturates, the
  // zero-positive fast paths stop firing, and per-batch cost silently
  // reverts to index-scan joins (correctness unaffected; the
  // [[graft.streaming.IndexState.currentBloom]] saturation WARN is the
  // signal, and a mid-stream re-size migrates at the next compaction).
  val IndexBloomItems = 1000000L
  val IndexBloomBits = 1L << 23

  /** Per-batch phase wall clocks around a twin's ACTIONS (everything
    * else is lazy, so these attribute true cost) — the measurement
    * loop that found the r18/r19 corpus-linear terms, kept so the next
    * residual is attributable without re-instrumenting. Always
    * registered per index base ([[lastPhases]] — StreamStateBench
    * exports them into the artifact rows, VERDICT r19 item 6);
    * printed per batch when SPARK_GRAFT_TWIN_PHASES is set. */
  private final class PhaseClock(tag: String) {
    val phases = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      phases += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    def publish(indexBase: String, batchId: Long): Unit = {
      phaseReg.put(indexBase, phases.toList)
      if (sys.env.contains("SPARK_GRAFT_TWIN_PHASES"))
        println(s"$tag-phases b=$batchId " + phases.map {
          case (n, s) => f"$n=$s%.2f" }.mkString(" "))
    }
  }

  private val phaseReg =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Double)]]()

  /** The phase clocks of the most recent index-twin batch for
    * `indexBase` in THIS JVM — a metrics register (the
    * [[IndexState.lastSaturation]] pattern) so a bench/operator can
    * export per-batch phase attribution instead of scraping stdout. */
  def lastPhases(indexBase: String): Option[Seq[(String, Double)]] =
    Option(phaseReg.get(indexBase))

  /** One micro-batch of [[dedupStreamWithIndex]] — named so replay
    * scenarios (crash mid-write → foreachBatch redelivery) are directly
    * testable.
    *
    * State cost per batch is FLAT in stream age (r16 weak item): the
    * bloom gate folds from the at-rest `_bloom` sidecars instead of
    * re-aggregating the whole index ([[IndexState.currentBloom]]); a
    * batch with zero bloom-positives — the common fresh-crawl case —
    * never scans the index at all (the [[graft.operators.Dedup
    * .dedupIncremental]] fast path); and the `batch=N` dirs compact
    * into one generation dir under [[IndexState.shouldCompact]]'s
    * geometric/fan-in policy, so the read side lists a bounded dir
    * set forever. Reads still go through committed (_SUCCESS-marked)
    * dirs only — a torn batch=N left by a crash mid index-write must
    * stay invisible to the replay ([[IndexState.read]] preserves
    * exactly the r14 torn-batch contract).
    *
    * Fixed cost per batch, in Spark jobs: one narrow zero-positive
    * probe, the survivors write (with the anti-join when the probe
    * found a positive) and the index append — 5 jobs on the benchmark
    * batch shape, 6 when the batch compacts (StreamPipelineSpec holds
    * both budgets). Nothing is recomputed: every read is declared
    * ([[IndexState.dedupLayout]]), never inferred, each sidecar is
    * observed on the write of its rows rather than re-aggregated, and
    * a one-file index write coalesces instead of shuffling
    * ([[IndexState.inFiles]]). */
  def dedupIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      outBase: String, indexBase: String, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems,
      bloomBits: Long = IndexBloomBits): Unit = {
    val spark = batch.sparkSession
    val clock = new PhaseClock("dedup")
    import clock.timed
    val layout = IndexState.dedupLayout
    val index = IndexState.read(spark, indexBase, layout.ddl)
    val bloom = timed("fold")(IndexState.currentBloom(spark, indexBase,
      layout, bloomItems, bloomBits))
    val survivors = graft.operators.Dedup
      .dedupIncremental(batch, idCol, textCol, index, "h",
        bloomItems, bloomBits, precomputedBloom = bloom)
    timed("write")(IdempotentSink.writeBatch(outBase)(survivors, batchId))
    // index rows from the COMMITTED output, not the live plan — the
    // survivors DAG would otherwise evaluate twice per batch — read
    // with the schema that write used (no inference job); the
    // committed dir's bytes bound the index append's file sizing
    val outDir = s"$outBase/batch=$batchId"
    timed("append")(IndexState.append(
      spark.read.schema(survivors.schema).parquet(outDir)
        .select(col("content_hash").as("h")),
      batchId, indexBase, layout, bloomItems, bloomBits,
      estBytes = IndexState.dataBytes(spark, outDir)))
    timed("compact")(
      if (IndexState.shouldCompact(spark, indexBase, maxIndexDirs))
        IndexState.compact(spark, indexBase, layout, bloomItems, bloomBits))
    clock.publish(indexBase, batchId)
  }

  /** Streaming IMAGE ingest dedup against an at-rest signature index —
    * the perceptual-hash twin of [[dedupStreamWithIndex]]: per
    * micro-batch, decode + dHash the image payloads
    * ([[graft.operators.Multimodal.dHashImages]]), drop within-batch
    * near-dups and anything within `maxHamming` of an indexed
    * signature ([[graft.operators.Dedup.dedupIncrementalHamming]] —
    * banded index join, bloom short-circuit), then land survivors AND
    * their signatures through [[IdempotentSink]]'s marker discipline.
    * Same crash contract as the text twin: survivors commit BEFORE
    * signatures, replays skip on markers, the index is shared at-rest
    * state with zero executor memory between batches.
    *
    * MODALITY-AGNOSTIC: everything downstream of the hash operates on
    * the (id, dhash) shape, so `hasher` swaps the decode+hash front
    * end — [[graft.operators.Multimodal.dHashImages]] (default),
    * `audioDHashWavs` (q159's spectral hash), `videoDHashY4m` (q162's
    * temporal hash) — without touching the index, bloom, banding, or
    * marker machinery. */
  def dhashStreamDedup(images: DataFrame, idCol: String,
      outBase: String, indexBase: String, maxHamming: Int = 3,
      hasher: (DataFrame, String) => DataFrame =
        graft.operators.Multimodal.dHashImages,
      maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems, bloomBits: Long = IndexBloomBits)
      : org.apache.spark.sql.streaming.StreamingQuery =
    images.writeStream
      .option("checkpointLocation", s"$outBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dhashIndexBatch(batch, batchId, idCol, outBase, indexBase, maxHamming,
          hasher, maxIndexDirs, bloomItems, bloomBits)
      }
      .start()

  /** One micro-batch of [[dhashStreamDedup]] — named so replay and
    * crash-between-writes scenarios are directly testable. Same flat
    * state discipline as [[dedupIndexBatch]]: sidecar-folded bloom
    * (elements = the pigeonhole chunk keys), zero-candidate fast path
    * inside [[graft.operators.Dedup.dedupIncrementalHamming]], and
    * generation compaction of the signature index. */
  def dhashIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
      outBase: String, indexBase: String, maxHamming: Int,
      hasher: (DataFrame, String) => DataFrame =
        graft.operators.Multimodal.dHashImages,
      maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems,
      bloomBits: Long = IndexBloomBits): Unit = {
    val spark = batch.sparkSession
    val clock = new PhaseClock("dhash")
    import clock.timed
    val layout = IndexState.dhashLayout(maxHamming)
    val index = IndexState.read(spark, indexBase, layout.ddl)
    val bloom = timed("fold")(IndexState.currentBloom(spark, indexBase,
      layout, bloomItems, bloomBits))
    val sigs = hasher(batch, idCol)
    val survivors = graft.operators.Dedup.dedupIncrementalHamming(
      sigs, idCol, "dhash", index, "h", maxHamming,
      bloomItems, bloomBits, precomputedBloom = bloom)
    timed("write")(IdempotentSink.writeBatch(outBase)(survivors, batchId))
    // index rows from the COMMITTED output, not the live plan — the
    // survivors DAG (decode + hash + banded join) would otherwise
    // evaluate twice per batch — read with the schema that write used;
    // the committed dir's bytes bound the index append's file sizing
    val outDir = s"$outBase/batch=$batchId"
    timed("append")(IndexState.append(
      spark.read.schema(survivors.schema).parquet(outDir)
        .select(col("dhash").as("h")),
      batchId, indexBase, layout, bloomItems, bloomBits,
      estBytes = IndexState.dataBytes(spark, outDir)))
    timed("compact")(
      if (IndexState.shouldCompact(spark, indexBase, maxIndexDirs))
        IndexState.compact(spark, indexBase, layout, bloomItems, bloomBits))
    clock.publish(indexBase, batchId)
  }

  /** Streaming ingest twin of [[graft.operators.CorpusPrep
    * .leakageSafeSplitIncremental]] — sticky train/test assignment AT
    * INGEST: each micro-batch of new documents gets its side the
    * moment it lands, against the accumulated assignment state, so
    * the published split is always current (the nightly batch form
    * stays the corpus-global reference). Same append-only contract:
    * landed sides never move; a new doc adopts its near-dup
    * component's side; all-new components take the hash-of-root side;
    * a doc whose component touches BOTH landed sides quarantines —
    * and quarantined state POISONS both flags, so later near-dups of
    * a quarantined doc quarantine too (they are transitively in reach
    * of both sides), matching what the batch closure would decide.
    *
    * State at rest (indexBase, parquet batch=N dirs under the
    * [[IdempotentSink]] marker discipline): one row per landed doc —
    * (doc_id, side, hs, bands) — so the per-batch candidate join is a
    * band-key equi-join against stored keys (no index re-hashing),
    * exactly the [[dedupStreamWithIndex]] shape. Components span
    * batch ∪ TOUCHED index nodes (two batch docs sharing an index
    * neighbor must merge even without a direct batch-batch pair — the
    * batch closure's behavior). The index probe takes the same bloom
    * gate as [[graft.operators.Dedup.dedupIncremental]], folded from
    * the at-rest `_bloom` sidecars ([[IndexState]]); per-batch work is
    * batch-sized plus touched index rows, and the index dirs compact
    * into generations so the state read stays flat in stream age.
    *
    * Stream == batch caveat (shared with [[dedupStreamWithIndex]]):
    * the fresh-component hash side uses the component root visible at
    * arrival; identity with the one-shot batch split holds when first
    * arrivals carry component-minimum ids (the planted-spec
    * convention) — the leakage-safety and stickiness invariants hold
    * under ANY arrival order. */
  def splitStreamWithIndex(docs: DataFrame, idCol: String, textCol: String,
      outBase: String, indexBase: String, testPct: Int = 10,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems, bloomBits: Long = IndexBloomBits)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$outBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        splitIndexBatch(batch, batchId, idCol, textCol, outBase, indexBase,
          testPct, shingleSize, numHashes, bands, threshold, maxIndexDirs,
          bloomItems, bloomBits)
      }
      .start()

  /** One micro-batch of [[splitStreamWithIndex]] — named for direct
    * replay/identity testing (the [[dedupIndexBatch]] discipline).
    *
    * Flat per-batch state cost (r16 weak item): the index's `_bloom`
    * sidecar fold ([[IndexState]]) carries BOTH probe domains — landed
    * doc ids (salted) for the stickiness check and (band, hash) keys
    * for the candidate probe — so a batch with no positive on either
    * never reads the index at all; positives fall back to the exact
    * joins. The `batch=N` index dirs compact into one generation dir
    * under [[IndexState.shouldCompact]]'s policy. */
  def splitIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      outBase: String, indexBase: String, testPct: Int = 10,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIndexDirs: Int = 64,
      bloomItems: Long = IndexBloomItems,
      bloomBits: Long = IndexBloomBits): Unit = {
    import graft.functions.{TextFunctions => T}
    val spark = batch.sparkSession
    val clock = new PhaseClock("split")
    import clock.timed
    val layout = IndexState.splitLayout(bands)
    lazy val index = IndexState.read(spark, indexBase, layout.ddl)
    val bloom = timed("fold")(IndexState.currentBloom(spark, indexBase,
      layout, bloomItems, bloomBits))
    // Per-doc stickiness (r16 advice): a doc_id re-delivered in a LATER
    // batch (different batchId, so the idempotency marker cannot catch
    // it — e.g. the upstream source replays a range) must keep its
    // landed side verbatim, exactly as the batch operator's sticky
    // branch does — not be re-sided from the current census and
    // appended again (duplicate, possibly CONFLICTING (doc_id, side)
    // rows). Anti-join the batch against landed doc_ids BEFORE any
    // hashing — bloom-gated, so the common all-fresh batch proves
    // disjointness map-side and never scans the index. The dropped doc
    // still participates in this batch's components through its own
    // index row (bands + side are at rest), so new docs near it
    // adopt/quarantine identically.
    val b0 = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_text"))
    // ONE deserialized filter per batch, reused by every probe site —
    // the BloomProbe reference form (see its doc: a 1 MB bloom Literal
    // made every plan rehash the megabyte through analysis/AQE)
    val bloomF = bloom.map(graft.functions.BloomProbe.deserialize)
    val fresh = bloomF match {
      case None => b0
      case Some(f) =>
        val probe = graft.functions.BloomProbe(f,
          xxhash64(lit(-1), col("doc_id")))
        val maybeLanded = b0.filter(probe)
        if (timed("sticky")(maybeLanded.isEmpty)) b0
        else b0.filter(!probe).unionByName(
          maybeLanded.join(index.select(col("doc_id")), Seq("doc_id"),
            "left_anti"))
    }
    // batch shapes: hashed shingles once, signature+bands riding them
    val bsig = fresh.select(col("doc_id"),
        T.shingleHashes(col("_text"), shingleSize).as("hs"))
      .withColumn("bands", T.bandHashes(
        T.minhashSignature(col("hs"), numHashes), numHashes, bands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bband = bsig.select(col("doc_id"), col("hs"), posexplode(col("bands")))
      .select(col("doc_id"), col("hs"), col("pos").as("b"), col("col").as("k"))
    // batch-batch verified pairs (canonical a < b)
    val bb = bband.select(col("b"), col("k"), col("doc_id").as("id_a"), col("hs").as("hs_a"))
      .join(bband.select(col("b"), col("k"), col("doc_id").as("id_b"), col("hs").as("hs_b")),
        Seq("b", "k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("hs_a"), col("hs_b")).distinct()
      .filter(T.jaccard(col("hs_a"), col("hs_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    // batch-index verified pairs — band keys bloom-gated: only keys the
    // sidecar fold marks positive meet the stored index bands; a batch
    // with zero positive keys (None here) skips the probe AND the
    // census's side join below, proving the all-zero census without an
    // index scan.
    // warms the bsig persist (bband and the index append both reuse it)
    // and bounds the candidate side for the broadcast-size gate below
    val batchRows = timed("bsigCount")(bsig.count())
    val biOpt: Option[(DataFrame, Long, Long)] = bloomF.flatMap { f =>
      val cand = bband.filter(graft.functions.BloomProbe(f,
        xxhash64(col("b"), col("k"))))
      if (timed("candProbe")(cand.isEmpty)) None
      else {
        // IDS-ONLY through the band join + pair distinct (r18), and the
        // index side PRUNED AT REST (r19): the landed corpus's band
        // keys are read from the compacted dir's `_postings` sidecar —
        // narrow (b, k, doc_id) rows partition-pruned to the candidate
        // keys' buckets — plus inline explodes of only the small
        // uncompacted batch dirs ([[IndexState.prunedPostings]]). The
        // r18 form re-exploded the WHOLE index's bands arrays per
        // duplicate-bearing batch (measured corpus-linear: plateau 1.46
        // at 1.6x corpus, BENCH_stream_state_r18.json); this form's
        // probe I/O is bounded by touched buckets + fan-in-capped
        // recent dirs, flat in stream age.
        val candNarrow = cand.select(col("doc_id"), col("b"), col("k"))
        // candidate bucket set: batch-bounded by construction
        // (≤ IndexState.PostingsBuckets distinct values — a driver
        // collect of at most 64 ints)
        val buckets = timed("buckets")(cand
          .select(pmod(xxhash64(col("b"), col("k")),
            lit(IndexState.PostingsBuckets)).cast("int").as("bucket"))
          .distinct().collect().map(_.getInt(0)).toSeq)
        val iband = IndexState.prunedPostings(spark, indexBase, buckets)
          .select(col("doc_id").as("i_id"), col("b"), col("k"))
        // broadcast the BATCH-BOUNDED side (cand ⊆ bband, ≤ batch ×
        // bands rows by construction) so the pruned postings STREAM
        // through a map-side hash join — without the hint the planner
        // shuffles the postings on (b, k) every duplicate-bearing
        // batch. GATED on the bound's estimated bytes vs the session
        // broadcast threshold (ADVICE r18): an oversized micro-batch
        // falls back to the shuffle join (slower, never an OOM-failed
        // batch). ADVICE r19 refinements: a session that DISABLED
        // broadcasting (threshold ≤ 0, e.g. protecting a small driver)
        // is honored — no forced hint; and the per-row estimate is
        // 128 B (3 longs serialize ~32 B, but the in-memory
        // HashedRelation footprint is 2–4× row bytes).
        val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
        val candSide =
          if (bcThreshold > 0 && batchRows * bands * 128L <=
              math.max(bcThreshold, 10L * 1024 * 1024))
            broadcast(candNarrow)
          else candNarrow
        val candPairs = iband.join(candSide, Seq("b", "k"))
          .select(col("doc_id"), col("i_id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // doc-id bounds of the touched index docs: pushed below the
        // wide `hs` (and the census's `side`) scans, where parquet
        // page/row-group stats on the doc_id-sorted merged dir skip
        // decoding everything outside the touched range — the second
        // measured corpus-linear term of r18 (duplicate pressure is
        // recency-skewed in practice, so the bound is usually tight;
        // an adversarial uniform-age probe degrades to the old full
        // decode, never to wrong answers)
        val bounds = timed("bounds")(
          candPairs.agg(min(col("i_id")), max(col("i_id"))).head())
        if (bounds.isNullAt(0)) {
          // bloom FPs only — no real band-key match anywhere in the
          // index; downgrade to the all-fresh census without touching
          // the wide columns at all
          candPairs.unpersist(false)
          None
        } else {
          val (idLo, idHi) = (bounds.getLong(0), bounds.getLong(1))
          val touched = col("doc_id").between(idLo, idHi)
          val ihs = index.filter(touched)
            .select(col("doc_id").as("i_id"), col("hs").as("i_hs"))
            .join(candPairs.select(col("i_id")).distinct(), Seq("i_id"),
              "left_semi")
          val verified = candPairs
            .join(bsig.select(col("doc_id"), col("hs")), Seq("doc_id"))
            .join(ihs, Seq("i_id"))
            .filter(T.jaccard(col("hs"), col("i_hs")) >= threshold)
            .select(col("doc_id"), col("i_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // a bloom FALSE POSITIVE on a band key can still send the
          // batch here (the key exists, Jaccard disproves) — downgrade
          // to the cheap all-fresh census instead of dragging the
          // landed-side outer join through an empty pair set (the
          // isEmpty action warms the persist, so a true-positive batch
          // pays one no-op job, not recomputation). Equivalent by
          // construction: with no verified pair, nodes = batch only
          // and every landed-side lookup would be null anyway (landed
          // ids were anti-joined out of `fresh` above).
          val noPairs = timed("verify")(verified.isEmpty)
          candPairs.unpersist(false)
          if (noPairs) {
            verified.unpersist(false); None
          } else Some((verified, idLo, idHi))
        }
      }
    }
    // components over batch ∪ touched index nodes; census from landed
    // sides ('quarantined' poisons both flags)
    val nodes = biOpt match {
      case Some((bi, _, _)) => bsig.select(col("doc_id"))
        .union(bi.select(col("i_id").as("doc_id"))).distinct()
      case None => bsig.select(col("doc_id")).distinct()
    }
    val edges = biOpt match {
      case Some((bi, _, _)) =>
        bb.union(bi.select(col("doc_id").as("id_a"), col("i_id").as("id_b")))
      case None => bb
    }
    val cc = graft.operators.Dedup.connectedComponents(nodes, "doc_id", edges)
      .select(col("doc_id"), col("keep_id").as("cluster_root"))
    val census = biOpt match {
      case Some((_, idLo, idHi)) => cc
        // the landed-side lookup is range-pruned to the touched docs'
        // doc_id bounds (pushed to parquet stats on the sorted merged
        // dir) AND semi-filtered to the touched nodes BEFORE the outer
        // join: `nodes` is batch-plus-neighborhood sized, so the index
        // side becomes a pruned map-side filtered scan instead of a
        // corpus-sized shuffle partner (r18/r19 measurements). Sound:
        // only touched i_ids can have landed rows (batch ids were
        // anti-joined out of `fresh`), and every i_id is within
        // [idLo, idHi] by construction.
        .join(index.filter(col("doc_id").between(idLo, idHi))
          .select(col("doc_id"), col("side").as("_ls"))
          .join(nodes, Seq("doc_id"), "left_semi"), Seq("doc_id"), "left")
        .groupBy(col("cluster_root"))
        .agg(
          max(when(col("_ls").isin("train", "quarantined"), 1).otherwise(0))
            .as("_ht"),
          max(when(col("_ls").isin("test", "quarantined"), 1).otherwise(0))
            .as("_hs"))
      case None => cc.select(col("cluster_root")).distinct()
        .withColumn("_ht", lit(0)).withColumn("_hs", lit(0))
    }
    val sided = cc
      .join(bsig.select(col("doc_id")), Seq("doc_id")) // batch docs only
      .join(census, Seq("cluster_root"))
      .select(col("doc_id"), col("cluster_root"),
        when(col("_ht") === 1 && col("_hs") === 1, lit("quarantined"))
          .when(col("_ht") === 1, lit("train"))
          .when(col("_hs") === 1, lit("test"))
          .when(graft.Exact.hashOrder(col("cluster_root"), 100) < testPct,
            lit("test"))
          .otherwise(lit("train")).as("side"))
    // assignments commit BEFORE the index (the dedupIndexBatch crash
    // contract: a replay that finds the out marker skips both writes).
    // The index rows derive from the COMMITTED output parquet, not the
    // live plan: `sided`'s DAG (components + census) would otherwise
    // evaluate twice per batch — once for the output write, once for
    // the index append (measured as ~2x the per-batch cost).
    // SIZE-AWARE file counts (ADVICE r19 — a hard repartition(1)
    // serialized a large micro-batch through one task): batchRows is
    // already counted, so the output sizes at ~64 B/row (id, root,
    // side) and the index append at ~400 B/row (wide hs + bands
    // arrays); at bench scale both resolve to the one-file-per-batch
    // layout that ended the r19 small-files storm.
    timed("ccWrite")(IdempotentSink.writeBatch(outBase)(
      sided.repartition(IndexState.sizedFileCount(batchRows * 64L)),
      batchId))
    timed("append")(IndexState.append(
      spark.read.schema(sided.schema).parquet(s"$outBase/batch=$batchId")
        .select(col("doc_id"), col("side"))
        .join(bsig, Seq("doc_id"))
        .select(col("doc_id"), col("side"), col("hs"), col("bands")),
      batchId, indexBase, layout,
      bloomItems, bloomBits, estBytes = batchRows * 400L))
    timed("compact")(
      if (IndexState.shouldCompact(spark, indexBase, maxIndexDirs))
        IndexState.compact(spark, indexBase, layout,
          bloomItems, bloomBits,
          // merged dir doc_id-SORTED in size-targeted files (parquet
          // page/row-group stats then serve the probe's doc-id range
          // pruning) and carrying the bucket-partitioned `_postings`
          // sidecar the candidate probe partition-prunes; the sidecar
          // write is clocked apart so the artifact rows attribute the
          // compaction's data-vs-postings split (VERDICT r19 item 2)
          shape = (df, files) => df
            .repartitionByRange(files, col("doc_id"))
            .sortWithinPartitions(col("doc_id")),
          extraMergedWrite = (s, dir) =>
            timed("postings")(IndexState.writePostings(s, dir))))
    biOpt.foreach(_._1.unpersist(false))
    bsig.unpersist(false)
    clock.publish(indexBase, batchId)
  }

  /** Streaming MinHash-LSH near-dup candidates — the incremental twin
    * of `Dedup.minhashCandidatePairs`'s banded join. Signatures and
    * band hashes are the SAME stateless per-row expressions as batch;
    * the bucket join becomes keyed state: one id list per (band, hash)
    * bucket, and each arriving doc pairs against the bucket's existing
    * members (so a near-dup is flagged the micro-batch its twin
    * arrives, not at the next nightly run). State per bucket is capped
    * at `bucketCap` ids — a degenerate bucket (boilerplate band) stops
    * accumulating and stars new arrivals to its representative
    * (min id seen), the same skew escape as the batch operator; with a
    * cold cap the emitted pair SET equals the batch candidate set
    * (asserted in tests). At scale, add watermark-based state TTL the
    * same way [[dedupStream]] documents. Downstream verifies candidates
    * (exact Jaccard vs the stored texts) exactly as in batch. */
  def minhashCandidatesStream(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      bucketCap: Int = 4096): DataFrame = {
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col(idCol).cast("long").as("id"),
        posexplode(T.bandHashes(
          T.minhashSignature(T.shingleHashes(col(textCol), shingleSize), numHashes),
          numHashes, bands)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
      .as[(Long, Int, Long)]
      .groupByKey { case (_, band, bh) => (band, bh) }
      // state = (minId, members): the representative is tracked
      // SEPARATELY from the capped member list, so an id smaller than
      // every stored member arriving AFTER the cap still becomes the
      // bucket's representative — `members.min` alone would freeze the
      // rep at the min of the first `bucketCap` arrivals and diverge
      // from the batch capped-regime semantics (star to min id seen).
      .flatMapGroupsWithState[(Long, List[Long]), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          val (seenMin, seen) = state.getOption.getOrElse((Long.MaxValue, Nil))
          val incoming = rows.map(_._1).toSeq.distinct.sorted
            .filterNot(seen.contains)
          val out = List.newBuilder[(Long, Long)]
          var acc = seen
          var minId = seenMin
          for (n <- incoming) {
            if (acc.size < bucketCap) {
              acc.foreach(s => out += ((math.min(s, n), math.max(s, n))))
              acc = n :: acc
            } else if (minId != n) {
              out += ((math.min(minId, n), math.max(minId, n)))
            }
            minId = math.min(minId, n)
          }
          state.update((minId, acc))
          out.result().iterator
      }
      .toDF("id_a", "id_b")
  }

  /** Optional extension (SURVEY §2.9 ST6 — absent in the reference):
    * watermarked event-time tumbling-window counts per country —
    * bounded state (windows evict once the watermark passes). */
  def windowedCountryCounts(cleanedGeo: DataFrame): DataFrame =
    cleanedGeo.withWatermark("timestamp", "1 hour")
      .groupBy(window(col("timestamp"), "1 day"), col("country"))
      .agg(count(lit(1)).as("events"))

  /** ST6 extension — watermark-bounded streaming dedup via the native
    * `dropDuplicatesWithinWatermark`: unlike [[dedupStream]] (exact
    * forever, state grows with distinct keys), state here is EVICTED
    * once the watermark passes an entry — the right default for replay
    * suppression where duplicates arrive close together (at-least-once
    * producers), with state bounded by delay × rate. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      keyCols: Seq[String], delay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** ST6 extension — stream enrichment against a static dimension: a
    * broadcast hash join per micro-batch. No streaming state at all —
    * the dimension is rebroadcast per batch, so at scale this is the
    * standard map-side enrich (geo/user lookup tables, blocklists). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** ST6 extension — STREAMING decontamination: the streaming twin of
    * [[graft.operators.Dedup.decontaminateBloom]]. The blocklist is
    * STATIC (eval sets change per release, not per micro-batch): its
    * normalized-content hashes fold ONCE into a bloom filter on the
    * driver before the query starts; each streamed row then tests the
    * broadcast bits map-side, and definite negatives — almost the whole
    * stream — pass through with no join at all. Bloom-positives (true
    * matches plus the fpp sliver) are corrected by a stream-static
    * LEFT ANTI join, so the kept set equals the batch operator's
    * exactly, for ANY filter size. Fully stateless: no watermark, no
    * state store — safe under replay because dropping is deterministic
    * per row. Scale note: the anti join's static side is the full
    * blocklist, but only bloom-positive rows reach it, so the per-batch
    * join input is tiny regardless of stream rate. */
  def decontaminateStream(corpus: DataFrame, textCol: String,
      blocklist: DataFrame, blTextCol: String,
      expectedItems: Long = 1000000L, numBits: Long = 1L << 23): DataFrame = {
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.graft.shim
    val bl = blocklist
      .select(md5(T.normalizeText(col(blTextCol))).as("_block_hash"))
      .distinct()
    val bloomBytes = bl.select(shim.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          shim.expression(xxhash64(col("_block_hash"))),
          shim.expression(lit(expectedItems)), shim.expression(lit(numBits)))
          .toAggregateExpression()).as("_bf"))
      .head().getAs[Array[Byte]]("_bf")
    if (bloomBytes == null) return corpus // empty blocklist: nothing to drop
    val bloomF = graft.functions.BloomProbe.deserialize(bloomBytes)
    def mightContain(h: org.apache.spark.sql.Column) =
      graft.functions.BloomProbe(bloomF, xxhash64(h))
    val hashed = corpus.withColumn("_block_hash", md5(T.normalizeText(col(textCol))))
    hashed.filter(!mightContain(col("_block_hash")))
      .unionByName(
        hashed.filter(mightContain(col("_block_hash")))
          .join(bl, Seq("_block_hash"), "left_anti"))
      .drop("_block_hash")
  }

  /** ST6 extension — stream-stream interval join: each left event pairs
    * with right events of the same key whose time is within
    * `[leftTs - matchWindow, leftTs]`. Watermarks on BOTH sides let the
    * state store evict (state bounded by window+lateness × rate, not by
    * stream length). `lateness` is the independent out-of-orderness
    * tolerance: rows older than the watermark are DROPPED as late
    * input, so it must cover the sources' real skew — including one
    * source's batches racing ahead of the other's — while `matchWindow`
    * stays the semantic pairing window. Column names must be disjoint. */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      matchWindow: String = "1 hour",
      lateness: Option[String] = None): DataFrame = {
    val wm = lateness.getOrElse(matchWindow)
    val l = left.withWatermark(leftTs, wm)
    val r = right.withWatermark(rightTs, wm)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $matchWindow") &&
        col(rightTs) <= col(leftTs))
  }

  /** ST6 extension — streaming sessionization via the native
    * `session_window` (dynamic-gap event-time windows): the streaming
    * twin of [[graft.operators.Sessionize]]. The watermark both bounds
    * state (sessions close once the watermark passes their end) and
    * makes output append-mode-final; per-key ordering is handled by the
    * session-merge state store, so no per-key global sort exists —
    * exactly the property that makes this the STREAMING answer to the
    * hot-key problem the batch bucketed variant solves. */
  def sessionizedCounts(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming twin of q128's gap-fill + linear interpolation
    * ([[graft.operators.GapFill]] — SAME definition, so the two cannot
    * drift). Interpolation needs a user's whole observed series (the
    * bracketing neighbors of a gap can arrive batches apart), so the
    * incremental unit is the USER, not the row. Per micro-batch:
    *
    *  1. the batch's (user, day) cent deltas append to parquet state
    *     (`stateBase`, [[IdempotentSink]] batch=N + _SUCCESS — the
    *     daily-grain aggregate, far smaller than the event stream);
    *  2. the merged committed state is re-aggregated for ONLY the
    *     users this batch touched (a semi join — untouched users cost
    *     nothing), and their full series is re-derived and landed
    *     under `outBase/batch=N`.
    *
    * State commits BEFORE output: a crash between the two replays into
    * a deterministic recompute from committed state (the state write
    * skips on its marker), never a stale-output/fresh-state split.
    * The current answer for a user is their series from the HIGHEST
    * batch that touched them — [[latestSeries]] is that read-side
    * resolve. Per-batch cost scales with touched users' spans, not
    * with total state; at 100 TB the daily state is compacted by the
    * same read-side aggregate every batch performs, and cold users
    * never re-shuffle. */
  def interpolateDailyStream(events: DataFrame,
      stateBase: String, outBase: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", s"$outBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        interpolateDailyBatch(batch, batchId, stateBase, outBase)
      }
      .start()

  /** One micro-batch of [[interpolateDailyStream]] — named so replay
    * and crash-between-writes scenarios are directly testable. */
  def interpolateDailyBatch(batch: DataFrame, batchId: Long,
      stateBase: String, outBase: String): Unit = {
    val spark = batch.sparkSession
    val delta = graft.operators.GapFill.dailyPurchases(batch)
    IdempotentSink.writeBatch(stateBase)(delta, batchId)
    // merged committed state (now including this batch; identical on
    // replay because the skipped re-write leaves the same dirs)
    val committed = IdempotentSink.committedDirs(spark, stateBase)
    val merged = spark.read.parquet(committed: _*)
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("v")).as("v"))
    val touched = delta.select(col("user_id")).distinct()
    val series = graft.operators.GapFill.interpolateDaily(
      merged.join(touched, Seq("user_id"), "left_semi"))
    IdempotentSink.writeBatch(outBase)(series, batchId)
  }

  /** Streaming incremental rollup — q147's twin: maintain an additive
    * materialized aggregate from a stream without ever re-reading
    * history. Per micro-batch (foreachBatch), the batch collapses to a
    * grain-sized partial ([[graft.operators.Rollup.partial]]) and lands
    * as `batch=<id>` through [[IdempotentSink]]'s marker discipline —
    * an at-least-once replay skips on the marker, so each batch's rows
    * enter the rollup exactly once. The current rollup is the re-SUM
    * of all committed partials (additive algebra, same as
    * [[graft.operators.Rollup.merge]]); compacting old partials into
    * one state dir is an optional maintenance move that the same
    * algebra makes safe at any time. */
  def rollupBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      sums: Seq[(String, org.apache.spark.sql.Column)],
      stateBase: String): Unit = {
    val spark = batch.sparkSession
    val gen = resolveGen(spark, stateBase)
    IdempotentSink.writeBatch(gen)(
      graft.operators.Rollup.partial(batch, keys, sums), batchId)
    foldIfSuperseded(spark, stateBase, gen, batchId)
  }

  /** Streaming inverted-index maintenance — q169's batch merge as a
    * foreachBatch pipeline: each micro-batch writes its OWN
    * vocabulary-grain dictionary partial (df/cf/max_tf over just that
    * batch's documents) through [[IdempotentSink]] markers; the
    * current dictionary is the associative fold of committed partials
    * (df/cf additive across disjoint doc sets, max_tf a max — the
    * exact [[graft.operators.Search.mergeIndexStats]] algebra). Text
    * is scanned once, in the batch that carried it; replays skip on
    * markers; the partial store is restart-shared state. Rollup's
    * generation/compaction machinery applies unchanged if partial
    * count ever needs bounding (same marker discipline). */
  def postingsIndexBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, stateBase: String): Unit =
    IdempotentSink.writeBatch(stateBase)(
      graft.operators.Search.indexStats(batch, idCol, textCol), batchId)

  /** Streaming DSIR model maintenance (the q181 discipline as a
    * foreachBatch): each micro-batch tallies its OWN bucket stats —
    * bucket-grain, ≤`buckets` rows per batch — and lands them through
    * the IdempotentSink markers, so a replayed batch is a marker no-op
    * and the model never double-counts. The documents themselves are
    * read once, when their batch arrives. */
  def dsirStatsBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      isTarget: org.apache.spark.sql.Column, stateBase: String,
      buckets: Int = 256, ngram: Int = 2): Unit =
    IdempotentSink.writeBatch(stateBase)(
      graft.operators.CorpusPrep.dsirBucketStats(
        graft.operators.CorpusPrep.dsirFeatures(
          batch, idCol, textCol, isTarget, buckets, ngram)), batchId)

  /** The λ model as of all committed partials (an associative fold of
    * bucket counts, then the log-ratio derivation), or None before the
    * first commit. Score any doc set against it with
    * [[graft.operators.CorpusPrep.dsirScore]]. */
  def currentDsirLambda(spark: org.apache.spark.sql.SparkSession,
      stateBase: String, buckets: Int = 256): Option[DataFrame] = {
    val committed = IdempotentSink.committedDirs(spark, stateBase)
    if (committed.isEmpty) None
    else Some(graft.operators.CorpusPrep.dsirLambda(
      spark.read.parquet(committed: _*)
        .groupBy("b").agg(sum("cr").as("cr"), sum("ct").as("ct")),
      buckets))
  }

  /** The dictionary as of all committed partials, or None before the
    * first commit. */
  def currentIndexStats(spark: org.apache.spark.sql.SparkSession,
      stateBase: String): Option[DataFrame] = {
    val committed = IdempotentSink.committedDirs(spark, stateBase)
    if (committed.isEmpty) None
    else Some(spark.read.parquet(committed: _*)
      .groupBy("token")
      .agg(sum("df").as("df"), sum("cf").as("cf"), max("max_tf").as("max_tf")))
  }

  /** Writer half of the compaction-race protocol (see [[compactRollup]]
    * "Concurrency"): after committing into generation `committedGen`,
    * re-resolve; if a pointer swap intervened, fold this batch's dir
    * into the live generation by atomic rename and re-check — looping
    * until the resolved generation is the one the batch lives in. A
    * batch whose id the new generation already accounts for (merged
    * partial, manifest-covered, or folded by the compactor's own
    * straggler sweep) hits the manifest/exists checks and no-ops, so
    * the fold can never double-count. */
  private[streaming] def foldIfSuperseded(
      spark: org.apache.spark.sql.SparkSession, stateBase: String,
      committedGen: String, batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stateBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var gen = committedGen
    var next = resolveGen(spark, stateBase)
    while (next != gen) {
      foldBatchDir(fs, gen, next, batchId)
      gen = next
      next = resolveGen(spark, stateBase)
    }
  }

  /** Move one committed `batch=<id>` dir from a superseded generation
    * into the live one. The exists-check plus ATOMIC directory rename
    * make the fold race-safe against the other folder (compactor sweep
    * vs writer): at most one mover succeeds, the loser sees the
    * destination present and no-ops. A fold that can neither rename nor
    * find the destination is a real fault and fails loudly — silence
    * here is exactly the data loss this protocol exists to prevent. */
  private[streaming] def foldBatchDir(fs: org.apache.hadoop.fs.FileSystem,
      fromGen: String, toGen: String, batchId: Long): Unit = {
    val src = new org.apache.hadoop.fs.Path(s"$fromGen/batch=$batchId")
    val dst = new org.apache.hadoop.fs.Path(s"$toGen/batch=$batchId")
    // an id the target generation's manifest covers is already inside
    // its merged dir — renaming the old dir in would double-count
    if (IdempotentSink.isCompacted(fs,
        new org.apache.hadoop.fs.Path(toGen), batchId)) return
    if (!fs.exists(dst)) {
      val moved =
        try fs.rename(src, dst)
        catch { case _: java.io.IOException => false }
      if (!moved && !fs.exists(dst))
        throw new java.io.IOException(
          s"failed to fold straggler batch $batchId from $fromGen into $toGen")
    }
  }

  /** Current value of the streamed rollup: re-aggregate every committed
    * partial of the CURRENT generation (see [[compactRollup]]).
    * Returns None when no batch has committed yet. Marker-only
    * compacted-away batches have no dirs at all (their ids live in
    * the generation's `_COMPACTED` manifest), so the read lists only
    * real partials. */
  def currentRollup(spark: org.apache.spark.sql.SparkSession,
      stateBase: String, keys: Seq[String]): Option[DataFrame] = {
    val gen = resolveGen(spark, stateBase)
    val conf = spark.sparkContext.hadoopConfiguration
    val committed = IdempotentSink.committedDirs(spark, gen).filter { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).listStatus(p)
        .exists(_.getPath.getName.endsWith(".parquet"))
    }
    if (committed.isEmpty) None
    else {
      val all = spark.read.parquet(committed: _*)
      val measures = all.columns.filterNot(keys.contains)
      Some(all.groupBy(keys.map(col): _*)
        .agg(sum(col(measures.head)).as(measures.head),
          measures.tail.map(c => sum(col(c)).as(c)): _*))
    }
  }

  /** The generation dir the rollup state currently lives in: `base`
    * until the first compaction, then `base/gen-<n>` as named by the
    * highest `CURRENT-<n>` pointer file.
    *
    * The pointer is a new numbered file per generation, created by
    * tmp-write + rename to a name that never existed before — the
    * pointer state NEVER passes through a deleted/absent window (the
    * r10 design delete-then-renamed a single CURRENT file; a crash
    * between the delete and the rename left no pointer at all, and the
    * fallback silently reverted to pre-compaction `base` state whose
    * stale _SUCCESS markers then swallowed replays forever). A
    * half-built pointer is impossible (rename is atomic) and a
    * half-built GENERATION is invisible (its pointer is only written
    * after the generation's data + manifest are fully committed). */
  private[streaming] def resolveGen(spark: org.apache.spark.sql.SparkSession,
      base: String): String = {
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      if (!fs.exists(basePath)) Array.empty[String]
      else fs.listStatus(basePath).map(_.getPath.getName)
    // a bare CURRENT file is the r10 single-pointer design; silently
    // ignoring it would resolve to pre-compaction `base`, where stale
    // _SUCCESS markers swallow replays — the exact failure mode the
    // numbered-pointer redesign fixed. Fail loudly with the migration.
    if (names.contains("CURRENT"))
      throw new IllegalStateException(
        s"$base holds a legacy bare CURRENT pointer file; migrate by " +
          "reading its generation name and writing an equivalent " +
          "CURRENT-<n> file (then delete CURRENT) before resuming")
    val ptrs = names
      .filter(_.matches("CURRENT-\\d+")).map(_.stripPrefix("CURRENT-").toLong)
    if (ptrs.isEmpty) base else s"$base/gen-${ptrs.max}"
  }

  /** Compact the streamed rollup state — LSM-style generation rollover,
    * crash-safe at every step:
    *
    *  1. the merged partial is written to a NEW generation dir under
    *     the highest committed batch id;
    *  2. every compacted batch id is recorded in the new generation's
    *     `_COMPACTED` range manifest ([[IdempotentSink.compactedRanges]]
    *     — one file of coalesced id ranges, NOT one marker dir per id,
    *     whose count grew with total batches ever), so an at-least-once
    *     replay of a compacted batch still skips — its rows are inside
    *     the merged partial, and double-entry is the failure compaction
    *     must not introduce;
    *  3. a NEW numbered pointer file `CURRENT-<n>` is created
    *     (tmp-write + rename to a never-before-existing name — the
    *     pointer state never passes through a deleted window, see
    *     [[resolveGen]]). Until it lands, readers and writers see the
    *     old generation untouched; a crash anywhere before it leaves a
    *     dead half-built generation dir and full correctness.
    *
    * Concurrency: compaction tolerates a LIVE writer; no committed
    * batch can be lost to the pointer swap. Three mechanisms cover the
    * full interleaving space (a batch commits when its `_SUCCESS`
    * marker lands, at time T_c; the compactor re-lists at T_l and
    * renames the pointer at T_r; the post-swap sweep lists at T_s):
    *
    *  - T_c ≤ T_l: the batch is either in the snapshot (merged /
    *    manifest-covered) or the re-list differs from the snapshot
    *    and the half-built generation is discarded and retried — a
    *    batch missing from BOTH merge and manifest never survives to a
    *    swap;
    *  - T_l < T_c ≤ T_s: the post-rename STRAGGLER SWEEP re-lists the
    *    old generation and folds any committed batch id outside the
    *    snapshot into the new generation by atomic dir rename;
    *  - T_c > T_s: the writer's own post-commit re-resolve
    *    ([[foldIfSuperseded]]) observes T_c > T_s > T_r, sees the new
    *    pointer, and folds its batch itself.
    *
    * Both folders go through the same exists-check + atomic-rename
    * ([[foldBatchDir]]), so a batch already accounted for in the new
    * generation (merged, manifest-covered, or folded by the other party)
    * no-ops — fold can move a batch at most once. The r11 design relied
    * on checkpoint replay to recover the T_l < T_c case, which is wrong
    * in a healthy run: foreachBatch success commits the batch to the
    * streaming checkpoint and it is never redelivered.
    *
    * Needed because the partial-per-batch layout grows by one dir per
    * micro-batch forever; after compaction the read side re-SUMs ONE
    * data dir regardless of stream age, and the replay-skip manifest
    * is one bounded file. */
  def compactRollup(spark: org.apache.spark.sql.SparkSession,
      stateBase: String, keys: Seq[String], attempts: Int = 3): Unit =
    compactState(spark, stateBase, attempts)(
      _ => currentRollup(spark, stateBase, keys).get)((_, _, _) => ())

  /** The generation-rollover SKELETON shared by [[compactRollup]]
    * (merge = re-SUM of the additive partials) and
    * [[IndexState.compact]] (merge = plain union of append-only rows,
    * plus a merged bloom sidecar via `postWrite`): snapshot → merged
    * write → manifest → writer-race check → pointer swap → straggler
    * sweep, exactly the crash/concurrency protocol documented above.
    * `merge` receives the snapshot's committed dirs; `postWrite`
    * receives (fs, the merged batch dir, the snapshot dirs) after the
    * merged data commit and before the manifest — anything it writes
    * into the merged dir rides every later fold/rename atomically. */
  private[streaming] def compactState(
      spark: org.apache.spark.sql.SparkSession,
      stateBase: String, attempts: Int)(
      merge: Seq[String] => DataFrame)(
      postWrite: (org.apache.hadoop.fs.FileSystem,
        org.apache.hadoop.fs.Path, Seq[String]) => Unit): Unit = {
    require(attempts > 0, s"compaction of $stateBase lost the race to a " +
      "concurrent writer on every attempt; quiesce the stream and re-run")
    val phases = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      phases += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    val gen = resolveGen(spark, stateBase)
    val committed = IdempotentSink.committedDirs(spark, gen)
    if (committed.size <= 1) return
    val merged = merge(committed)
    val ids = committed.map(_.replaceAll(".*batch=", "").toLong)
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(stateBase)
    val fs = basePath.getFileSystem(conf)
    // new generation number = one past the highest gen dir ON DISK, not
    // one past the pointer: a compaction that crashed mid-build left a
    // half-built gen-<n> with no pointer, and reusing that dir would
    // merge its stale committed batches into the fresh generation
    val onDisk =
      if (!fs.exists(basePath)) Array.empty[Long]
      else fs.listStatus(basePath).map(_.getPath.getName)
        .filter(_.matches("gen-\\d+")).map(_.stripPrefix("gen-").toLong)
    val genN = if (onDisk.isEmpty) 1L else onDisk.max + 1L
    val newGen = s"gen-$genN"
    timed("mergeWrite")(
      IdempotentSink.writeBatch(s"$stateBase/$newGen")(merged, ids.max))
    timed("postWrite")(postWrite(fs,
      new org.apache.hadoop.fs.Path(s"$stateBase/$newGen/batch=${ids.max}"),
      committed))
    // replay suppression for the folded ids: ONE manifest of coalesced
    // ranges, carrying the OLD generation's manifest forward — not one
    // marker dir per id, whose count grew with total batches ever and
    // made the per-batch generation walk O(stream age) (ADVICE r17).
    // ids.max is covered by the merged dir's own _SUCCESS marker but is
    // included anyway so contiguous id histories stay a single range.
    IdempotentSink.writeCompactedRanges(fs,
      new org.apache.hadoop.fs.Path(s"$stateBase/$newGen"),
      IdempotentSink.coalesceRanges(
        IdempotentSink.compactedRanges(fs, new org.apache.hadoop.fs.Path(gen)),
        ids))
    // writer-race check: anything committed into the old generation
    // since the snapshot is in neither the merge nor the manifest —
    // discard this generation and retry on the fresh snapshot
    val now = IdempotentSink.committedDirs(spark, gen)
      .map(_.replaceAll(".*batch=", "").toLong)
    if (now.toSet != ids.toSet) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$stateBase/$newGen"), true)
      compactState(spark, stateBase, attempts - 1)(merge)(postWrite)
      return
    }
    val tmp = new org.apache.hadoop.fs.Path(s"$stateBase/CURRENT-$genN.tmp")
    val out = fs.create(tmp, true)
    try out.write(newGen.getBytes("UTF-8")) finally out.close()
    val cur = new org.apache.hadoop.fs.Path(s"$stateBase/CURRENT-$genN")
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"pointer swap failed for $stateBase")
    // straggler sweep: a batch that committed into the old generation
    // after the re-list above is in neither the merge nor the
    // manifest — fold it into the new generation (atomic rename,
    // no-op if the writer's own foldIfSuperseded got there first)
    val idSet = ids.toSet
    IdempotentSink.committedDirs(spark, gen)
      .map(_.replaceAll(".*batch=", "").toLong)
      .filterNot(idSet)
      .foreach(id => foldBatchDir(fs, gen, s"$stateBase/$newGen", id))
    if (sys.env.contains("SPARK_GRAFT_TWIN_PHASES"))
      println(s"compact-steps base=$stateBase dirs=${committed.size} " +
        phases.map { case (n, s) => f"$n=$s%.2f" }.mkString(" "))
  }

  /** Read-side resolve for supersede-per-batch state/output layouts
    * ([[interpolateDailyStream]], [[domainCapStream]]): each key's rows
    * from the HIGHEST committed batch that touched it — later batches
    * re-derived the key's full answer, so they supersede. Returns an
    * empty frame of schema `ddlIfEmpty` when nothing is committed. */
  def latestPerKey(spark: org.apache.spark.sql.SparkSession,
      base: String, keyCol: String, ddlIfEmpty: String): DataFrame = {
    val committed = IdempotentSink.committedDirs(spark, base)
    if (committed.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(ddlIfEmpty))
    val all = spark.read.option("basePath", base).parquet(committed: _*)
    val latest = all.groupBy(col(keyCol))
      .agg(max(col("batch")).as("batch"))
    all.join(latest, Seq(keyCol, "batch"))
      .drop("batch")
  }

  /** Read-side resolve for [[interpolateDailyStream]] output. */
  def latestSeries(spark: org.apache.spark.sql.SparkSession,
      outBase: String): DataFrame =
    latestPerKey(spark, outBase, "user_id",
      "user_id BIGINT, day DATE, val DOUBLE, interpolated BOOLEAN")

  /** Streaming twin of [[graft.operators.CorpusPrep.domainCap]] — the
    * per-registrable-domain document cap maintained incrementally. The
    * batch cap is a deterministic hash-order top-k per domain, and
    * TopK merge is associative, so the streaming form keeps, per
    * domain, the current ≤cap kept set at rest in parquet and merges
    * each batch's candidates into it: batch ∪ state → topK — the
    * merged set provably equals the batch operator over all data seen
    * (asserted in tests), independent of arrival order or batch
    * boundaries. Per-batch cost scales with touched domains × cap,
    * never with corpus size; untouched domains are never read
    * ([[latestPerKey]] supersede layout, same discipline as the
    * interpolation twin). Replay skips on the _SUCCESS marker. */
  def domainCapStream(docs: DataFrame, urlCol: String, idCol: String,
      cap: Int, stateBase: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$stateBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        domainCapBatch(batch, batchId, urlCol, idCol, cap, stateBase)
      }
      .start()

  /** One micro-batch of [[domainCapStream]] — named so replay scenarios
    * are directly testable. */
  def domainCapBatch(batch: DataFrame, batchId: Long,
      urlCol: String, idCol: String, cap: Int, stateBase: String): Unit = {
    val spark = batch.sparkSession
    val cand = graft.operators.CorpusPrep.domainCap(batch, urlCol, idCol, cap)
    val touched = cand.select(col("domain")).distinct()
    val prior = latestPerKey(spark, stateBase, "domain",
      s"domain STRING, $idCol BIGINT")
      .join(touched, Seq("domain"), "left_semi")
    // batch ∪ prior kept → re-cap; associativity of the TopK merge
    // makes this equal to capping all data seen so far
    val merged = graft.operators.CorpusPrep.capByDomain(
      cand.unionByName(prior), idCol, cap)
    IdempotentSink.writeBatch(stateBase)(merged, batchId)
  }

  /** Read-side resolve for [[domainCapStream]]: the current kept set. */
  def currentKept(spark: org.apache.spark.sql.SparkSession,
      stateBase: String, idCol: String): DataFrame =
    latestPerKey(spark, stateBase, "domain", s"domain STRING, $idCol BIGINT")

  /** Streaming margin-criterion alignment — the incremental-ingest twin
    * of [[graft.operators.Similarity.marginMine]]: each micro-batch of
    * (quantized) vectors mines its mutual-top-1 margin pairs against
    * the AT-REST corpus and lands them through [[IdempotentSink]]'s
    * batch=<id> + _SUCCESS discipline (replayed batches skip on their
    * marker — exactly-once output). The margin definition is batch-
    * relative by construction (the batch side IS the bounded side), so
    * stream == per-batch batch-operator identity holds exactly and is
    * pinned in StreamPipelineSpec. */
  def marginMineStream(batches: DataFrame, idCol: String, vecCol: String,
      corpus: DataFrame, corpusId: String, outBase: String,
      k: Int = 4, marginFpMin: Long = 72090L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", s"$outBase/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        marginMineBatch(batch, batchId, idCol, vecCol,
          corpus, corpusId, outBase, k, marginFpMin)
      }
      .start()

  /** One micro-batch of [[marginMineStream]] — named so replay
    * scenarios are directly testable. */
  def marginMineBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String,
      corpus: DataFrame, corpusId: String, outBase: String,
      k: Int = 4, marginFpMin: Long = 72090L): Unit =
    IdempotentSink.writeBatch(outBase)(
      graft.operators.Similarity.marginMine(
        corpus, corpusId, batch, idCol, vecCol, k, marginFpMin), batchId)
}

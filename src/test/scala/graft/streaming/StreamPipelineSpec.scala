package graft.streaming

import graft.SparkSpec
import graft.pipeline.{Clean, Schemas}
import graft.sources.EmulatorGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics (SURVEY §5.2 item 6): the same records produce
  * identical cleaned output under readStream (MemoryStream → from_json
  * → clean → checkpointed append sink) as under batch read — the
  * batch/stream identity the reference relies on — plus checkpoint
  * recovery with no duplicates (the test that would have caught the
  * reference's shared-checkpoint bug). */
class StreamPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def pinLines(n: Int, seed: Long): Seq[String] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => EmulatorGenerator.pinJson(rng, i.toLong))
  }

  test("stream deserialize+clean == batch clean on the same records") {
    implicit val sqlCtx = spark.sqlContext
    val lines = pinLines(120, seed = 7L)
    val out = java.nio.file.Files.createTempDirectory("graft-stream").toString

    val mem = MemoryStream[String]
    mem.addData(lines: _*)
    val cleaned = StreamPipeline.cleanPinStream(
      StreamPipeline.deserialize(mem.toDF.withColumnRenamed("value", "value"), Schemas.rawPin))
    val q = StreamPipeline.writeStream(cleaned, out, "pin_stream")
    q.awaitTermination(60000)

    val streamed = spark.read.parquet(s"$out/data/pin_stream")
    val batch = Clean.pin(spark.read.schema(Schemas.rawPin).json(lines.toDS))
    assertSameRows(streamed, batch, "stream vs batch cleaned pin")
  }

  test("checkpoint recovery appends only new records (no duplicates)") {
    implicit val sqlCtx = spark.sqlContext
    val first = pinLines(50, seed = 11L)
    val second = pinLines(30, seed = 13L)
    val out = java.nio.file.Files.createTempDirectory("graft-stream-rec").toString

    val mem1 = MemoryStream[String]
    mem1.addData(first: _*)
    val q1 = StreamPipeline.writeStream(
      StreamPipeline.cleanPinStream(
        StreamPipeline.deserialize(mem1.toDF, Schemas.rawPin)),
      out, "pin_rec")
    q1.awaitTermination(60000)
    assert(spark.read.parquet(s"$out/data/pin_rec").count() == 50)

    // restart from the same checkpoint with a fresh source carrying both
    // old and new data — offsets must resume past the old batch
    val mem2 = MemoryStream[String]
    mem2.addData(first: _*) // same offsets 0..49 in the new source
    mem2.addData(second: _*)
    val q2 = StreamPipeline.writeStream(
      StreamPipeline.cleanPinStream(
        StreamPipeline.deserialize(mem2.toDF, Schemas.rawPin)),
      out, "pin_rec")
    q2.awaitTermination(60000)
    val total = spark.read.parquet(s"$out/data/pin_rec").count()
    assert(total == 80, s"expected 50+30 rows after recovery, got $total")
  }

  test("file-source stream over the landed topic layout == batch scan") {
    // the reference's real landing: JSON files under topics/<t>/partition=N
    // consumed as an unbounded source (new files = new micro-batches)
    val base = java.nio.file.Files.createTempDirectory("graft-landed")
    graft.sources.EmulatorGenerator.writeTopicLayout(base, 60, seed = 23L)
    val out = java.nio.file.Files.createTempDirectory("graft-landed-out").toString
    val stream = spark.readStream
      .schema(Schemas.rawPin)
      .json(s"$base/topics/pin/partition=*")
    val q = StreamPipeline.writeStream(Clean.pin(stream), out, "pin_files")
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$out/data/pin_files")
    val batch = Clean.pin(
      graft.sources.JsonSource.readPin(spark, base.toString))
    assertSameRows(streamed, batch, "file-stream vs batch")
  }

  test("stateful streaming dedup drops replayed content (flatMapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val a = """{"x": 1}"""
    val b = """{"x": 2}"""
    mem.addData(a, b, a, a, b) // replays of the same payloads
    val keyed = mem.toDS().map(s => (s.hashCode.toLong, s))
    val deduped = StreamPipeline.dedupStream(keyed)
    val q = deduped.writeStream.queryName("dedup_out")
      .format("memory").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dedup_out").as[(Long, String)].collect().toSeq
    assert(got.map(_._2).sorted == Seq(a, b).sorted,
      s"each payload exactly once, got $got")
  }

  test("watermarked event-time window counts (extension ST6)") {
    implicit val sqlCtx = spark.sqlContext
    val geoLines = Seq(
      """{"ind": 1, "timestamp": "2021-03-01 10:00:00", "latitude": 1.0, "longitude": 2.0, "country": "Albania"}""",
      """{"ind": 2, "timestamp": "2021-03-01 23:59:59", "latitude": 1.0, "longitude": 2.0, "country": "Albania"}""",
      """{"ind": 3, "timestamp": "2021-03-02 00:00:01", "latitude": 1.0, "longitude": 2.0, "country": "Albania"}""",
      """{"ind": 4, "timestamp": "2021-03-01 12:00:00", "latitude": 1.0, "longitude": 2.0, "country": "Japan"}""")
    val mem = MemoryStream[String]
    mem.addData(geoLines: _*)
    val cleaned = StreamPipeline.cleanGeoStream(
      StreamPipeline.deserialize(mem.toDF, Schemas.rawGeo))
    val windowed = StreamPipeline.windowedCountryCounts(cleaned)
    val q = windowed.writeStream.queryName("geo_windows")
      .format("memory").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("geo_windows")
      .selectExpr("date_format(window.start, 'yyyy-MM-dd')", "country", "events")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("2021-03-01", "Albania", 2L),
      ("2021-03-02", "Albania", 1L),
      ("2021-03-01", "Japan", 1L)))
  }

  test("three concurrent queries with per-query checkpoints") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(17L)
    val out = java.nio.file.Files.createTempDirectory("graft-stream-3").toString
    val pinMem = MemoryStream[String]
    val geoMem = MemoryStream[String]
    val userMem = MemoryStream[String]
    pinMem.addData((0 until 40).map(i => EmulatorGenerator.pinJson(rng, i.toLong)): _*)
    geoMem.addData((0 until 40).map(i => EmulatorGenerator.geoJson(rng, i.toLong)): _*)
    userMem.addData((0 until 40).map(i => EmulatorGenerator.userJson(rng, i.toLong)): _*)

    val qs = Seq(
      StreamPipeline.writeStream(StreamPipeline.cleanPinStream(
        StreamPipeline.deserialize(pinMem.toDF, Schemas.rawPin)), out, "pin"),
      StreamPipeline.writeStream(StreamPipeline.cleanGeoStream(
        StreamPipeline.deserialize(geoMem.toDF, Schemas.rawGeo)), out, "geo"),
      StreamPipeline.writeStream(StreamPipeline.cleanUserStream(
        StreamPipeline.deserialize(userMem.toDF, Schemas.rawUser)), out, "user"))
    qs.foreach(_.awaitTermination(60000))

    assert(spark.read.parquet(s"$out/data/pin").count() == 40)
    assert(spark.read.parquet(s"$out/data/geo").count() == 40)
    assert(spark.read.parquet(s"$out/data/user").count() == 40)
    // distinct checkpoint dirs actually materialized
    val cps = new java.io.File(s"$out/_checkpoints").listFiles().map(_.getName).toSet
    assert(cps == Set("pin", "geo", "user"))
  }

  test("dropDuplicatesWithinWatermark suppresses close replays with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (key, seconds)
    // key 1 replayed twice within the window, key 2 once, key 3 distinct
    mem.addData((1L, 1000L), (1L, 1010L), (2L, 1000L), (3L, 2000L), (1L, 1020L))
    val events = mem.toDF.toDF("k", "s")
      .withColumn("ts", timestamp_seconds(col("s")))
    val q = StreamPipeline.dedupWithinWatermark(events, "ts", Seq("k"))
      .select(col("k")).writeStream.queryName("wm_dedup_out")
      .format("memory").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("wm_dedup_out").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"each key exactly once within the window: $got")
  }

  test("stream-static dimension enrich is a per-batch broadcast join") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "US"), (2L, "DE")).toDF("user_id", "country")
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    val enriched = StreamPipeline.enrichWithDim(
      mem.toDF.withColumnRenamed("value", "user_id"), dim, "user_id")
    val q = enriched.writeStream.queryName("enrich_out").format("memory")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("enrich_out").as[(Long, Option[String])].collect().toSet
    assert(got == Set((1L, Some("US")), (2L, Some("DE")), (3L, None)),
      s"left enrich must keep unmatched stream rows: $got")
  }

  test("stream-stream interval join pairs events within the delay window") {
    implicit val sqlCtx = spark.sqlContext
    // purchases at minute 10 and 90; signups at minutes 0 and 85:
    // with a 1h window, purchase@10 matches signup@0, purchase@90
    // matches signup@85 (NOT signup@0 — 90min gap > 1h)
    val purchases = MemoryStream[(Long, Long)]
    val signups = MemoryStream[(Long, Long)]
    purchases.addData((1L, 10L), (1L, 90L), (2L, 30L))
    signups.addData((1L, 0L), (1L, 85L))
    // keep event times well away from epoch 0: the initial watermark is
    // clamped at 0, and an event exactly at the watermark is late-filtered
    val base = 1000000L
    def ts(df: org.apache.spark.sql.DataFrame, user: String, t: String) =
      df.select(col("_1").as(user), timestamp_seconds(col("_2") * 60 + base).as(t))
    // generous lateness: the two memory sources may land in different
    // micro-batches, racing one side's watermark ahead of the other
    val joined = StreamPipeline.streamIntervalJoin(
      ts(purchases.toDF, "p_user", "p_ts"), ts(signups.toDF, "s_user", "s_ts"),
      "p_user", "s_user", "p_ts", "s_ts",
      matchWindow = "1 hour", lateness = Some("6 hours"))
    val q = joined
      .select(col("p_user"), unix_timestamp(col("p_ts")).as("p_s"),
        unix_timestamp(col("s_ts")).as("s_s"))
      .writeStream.queryName("ivj_out").format("memory")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ivj_out").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, base + 600L, base + 0L), (1L, base + 5400L, base + 5100L)),
      s"got $got")
  }

  test("streaming bloom decontamination == batch operator, incl. collision-heavy filter") {
    implicit val sqlCtx = spark.sqlContext
    val texts = (0L until 300L).map(i => (i, s"streamed document number $i payload"))
    val block = (0L until 300L by 7).map(i => s"Streamed   DOCUMENT number $i PAYLOAD")
      .toDF("text") // normalization must bridge the case/whitespace gap
    val batchExpected = graft.operators.Dedup.decontaminate(
      texts.toDF("doc_id", "text"), "text", block, "text")

    def runStream(numBits: Long): org.apache.spark.sql.DataFrame = {
      val mem = MemoryStream[(Long, String)]
      mem.addData(texts: _*)
      val name = s"decon_out_$numBits"
      val q = StreamPipeline.decontaminateStream(
        mem.toDF.toDF("doc_id", "text"), "text", block, "text",
        expectedItems = 50L, numBits = numBits)
        .writeStream.queryName(name).format("memory")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name)
    }

    // generous filter: bloom rejects most rows map-side
    assertSameRows(runStream(1L << 20), batchExpected, "streaming vs batch decontamination")
    // 64-bit filter: nearly every row is a bloom false positive — the
    // stream-static anti join must carry correctness alone
    assertSameRows(runStream(64L), batchExpected, "streaming exactness must not depend on fpp")
  }

  test("streaming session_window groups events by inactivity gap (ST6 extension)") {
    implicit val sqlCtx = spark.sqlContext
    // user 1: events at minutes 0, 10 (one session: gap < 30min), then 50
    // (new session: 40min gap); user 2: a singleton
    val mem = MemoryStream[(Long, Long)]
    mem.addData((1L, 0L), (1L, 10L), (1L, 50L), (2L, 5L))
    val events = mem.toDF.toDF("user_id", "mins")
      .withColumn("ts", timestamp_seconds(col("mins") * 60))
    val q = StreamPipeline.sessionizedCounts(events, "ts", "user_id")
      .writeStream.queryName("sess_out").format("memory")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select(col("user_id"), col("n_events"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"))
        .as[(Long, Long, Long, Long)].collect().toSet
      // session end = last event + gap (30 min = 1800 s)
      assert(got == Set(
        (1L, 2L, 0L, 600L + 1800L),
        (1L, 1L, 3000L, 3000L + 1800L),
        (2L, 1L, 300L, 300L + 1800L)), s"got $got")
    } finally q.stop()
  }

  test("streaming MinHash candidates across micro-batches == batch candidate set") {
    implicit val sqlCtx = spark.sqlContext
    // near-dup family split ACROSS micro-batches (the case a nightly
    // batch job can't flag until the next run) + unrelated docs
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (10L, "completely unrelated text about distributed query engines and shuffles"))
    val batch2 = Seq(
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "another unrelated document mentioning parquet row groups only"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamPipeline.minhashCandidatesStream(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.queryName("mh_cand").format("memory")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("mh_cand")
        .as[(Long, Long)].collect().toSet
      // batch reference: same banded candidates (threshold 0 keeps every
      // bucket-colliding pair)
      val all = (batch1 ++ batch2).toDF("doc_id", "text")
      val expected = graft.operators.Dedup.minhashCandidatePairs(
          all, "doc_id", "text", threshold = 0.0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(streamed == expected,
        s"stream=$streamed expected=$expected")
      // the near-dup family must actually be in there
      assert(streamed.contains((1L, 2L)) && streamed.contains((1L, 3L)))
    } finally q.stop()
  }

  test("index-backed streaming dedup: cross-batch dups drop, state survives in parquet") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-inc-out").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-inc-idx").toString + "/index"
    val mem = MemoryStream[(Long, String)]
    val q = StreamPipeline.dedupStreamWithIndex(
      mem.toDF.toDF("doc_id", "text"), "doc_id", "text", out, idx)
    try {
      // batch 0: fresh content + an internal dup
      mem.addData((1L, "alpha body"), (2L, "ALPHA   Body"), (3L, "beta body"))
      q.processAllAvailable()
      // batch 1: replding of batch-0 content + fresh
      mem.addData((4L, "alpha body"), (5L, "gamma body"))
      q.processAllAvailable()
      // batch 2: dup of batch-1 survivor + dup within
      mem.addData((6L, "gamma body"), (7L, "delta body"), (8L, "Delta BODY"))
      q.processAllAvailable()
      val survivors = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(survivors == Set(1L, 3L, 5L, 7L),
        s"first arrival of each content must win: $survivors")
      // the index holds exactly the survivors' hashes — restart-shared state
      assert(IndexState.read(spark, idx, "h STRING").select("h").distinct().count() == 4)
    } finally q.stop()
  }

  test("torn index batch (crash mid index-write) is invisible to replay") {
    // Crash model: batch 1's survivors committed to outBase, then the
    // crash hit MID index-write — batch=1 under the index has data files
    // but no _SUCCESS. foreachBatch redelivers batch 1. Pre-fix, the
    // bare spark.read.parquet(indexBase) treated the torn hashes as
    // committed state: the replayed survivors saw their own hashes as
    // "already indexed", shrank, and the index rewrite lost hashes for
    // docs already committed — later cross-batch duplicates then passed.
    val out = java.nio.file.Files.createTempDirectory("graft-torn-out").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-torn-idx").toString + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamPipeline.dedupIndexBatch(
      batchOf((1L, "alpha body"), (2L, "beta body")), 0L, "doc_id", "text", out, idx)
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "gamma body"), (4L, "alpha body")), 1L, "doc_id", "text", out, idx)
    // tear index batch=1: data files stay, commit marker gone
    val marker = new java.io.File(s"$idx/batch=1/_SUCCESS")
    assert(marker.exists(), "fixture expects a committed batch=1 to tear")
    assert(marker.delete())
    // redelivery of batch 1 (out batch=1 is still committed and skips on
    // its marker; the index write must heal from pre-crash state only)
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "gamma body"), (4L, "alpha body")), 1L, "doc_id", "text", out, idx)
    val hashes = IndexState.read(spark, idx, "h STRING").select("h").distinct().count()
    assert(hashes == 3, s"alpha, beta, gamma hashes must all be indexed: $hashes")
    // a later duplicate of batch-1's survivor must still drop
    StreamPipeline.dedupIndexBatch(
      batchOf((5L, "gamma body"), (6L, "delta body")), 2L, "doc_id", "text", out, idx)
    val survivors = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 6L),
      s"gamma's replayed hash must suppress doc 5: $survivors")
  }

  test("dedupIndexBatch job budget: at most 5 Spark jobs per plain batch, 6 per compacting one") {
    // each job costs tens of ms of driver time whatever it does, and a
    // micro-batch is mostly that fixed cost; 2,000-doc batches, each
    // repeating the content of a fifth of the previous batch's docs so
    // the bloom-positive anti-join runs — the stream_dedup benchmark's
    // shape
    val dir = java.nio.file.Files.createTempDirectory("graft-budget").toString
    val (out, idx) = (s"$dir/out", s"$dir/index")
    val (perBatch, nDup) = (2000, 400)
    def docsFor(b: Int) = {
      val base = b.toLong * perBatch
      val cid = if (b == 0) col("id") + lit(base)
        else when(col("id") < nDup, lit(base - perBatch + nDup) + col("id"))
          .otherwise(col("id") + lit(base))
      spark.range(perBatch).select((col("id") + lit(base)).as("doc_id"),
        concat_ws(" ", (0 until 24).map(j => concat(lit(s"w${j}x"), cid.cast("string"))): _*)
          .as("text"))
    }
    def run(b: Int): Seq[String] = withJobs(StreamPipeline.dedupIndexBatch(
      docsFor(b), b.toLong, "doc_id", "text", out, idx))._2
    run(0)
    val plain = run(1)
    assert(IndexState.committedData(spark, idx).size == 2, "batch 1 must not compact")
    val compacting = run(2)
    assert(IndexState.committedData(spark, idx).size == 1, "batch 2 must compact")
    assert(spark.read.parquet(s"$out/batch=2").count() == perBatch - nDup,
      "the repeated docs must drop")
    assert(plain.size <= 5,
      s"a plain batch started ${plain.size} jobs:\n${plain.mkString("\n")}")
    assert(compacting.size <= 6,
      s"a compacting batch started ${compacting.size} jobs:\n${compacting.mkString("\n")}")
  }

  test("splitIndexBatch: adopt/fresh sides at ingest equal the batch incremental split; replay skips") {
    import graft.operators.{CorpusPrep, Dedup}
    val out = java.nio.file.Files.createTempDirectory("graft-split-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-split-idx").toString + "/index"
    def toks(f: Int) = (0 until 40).map(i => s"f${f}w$i")
    def text(ts: Seq[String]) = ts.mkString(" ")
    def variant(f: Int, pos: Int) = text(toks(f).updated(pos, s"f${f}x$pos"))
    // batch 0: family A pair (10, 11), singletons 20 (famB), 31 (famC)
    val b0 = Seq(
      (10L, text(toks(1))), (11L, variant(1, 0)),
      (20L, text(toks(2))), (31L, text(toks(3)))).toDF("doc_id", "text")
    // batch 1: 40 joins famA, 41 joins famC, fresh pair (50, 51), fresh singleton 60
    val b1 = Seq(
      (40L, variant(1, 2)), (41L, variant(3, 0)),
      (50L, text(toks(5))), (51L, variant(5, 0)),
      (60L, text(toks(6)))).toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b0, 0L, "doc_id", "text", out, idx, testPct = 30)
    StreamPipeline.splitIndexBatch(b1, 1L, "doc_id", "text", out, idx, testPct = 30)
    def landed = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    val got = landed
    assert(got.size == 9, s"one assignment per doc: $got")
    // batch-0 sides are the fresh hash-of-root sides (roots 10, 20, 31)
    def hside(root: Long) = if ((root % 1000000007L) * 2654435761L % 100 < 30) "test" else "train"
    assert(got(10L) == hside(10L) && got(11L) == hside(10L), s"famA: $got")
    assert(got(20L) == hside(20L) && got(31L) == hside(31L), s"singletons: $got")
    // adopt: 40 joins famA's side, 41 joins famC's side
    assert(got(40L) == got(10L), s"40 must adopt famA's side: $got")
    assert(got(41L) == got(31L), s"41 must adopt famC's side: $got")
    // fresh: {50,51} share the hash side of root 50; 60 is its own root
    assert(got(50L) == hside(50L) && got(51L) == hside(50L) && got(60L) == hside(60L), got.toString)
    // identity with the one-shot batch incremental split (first arrivals
    // carry component-minimum ids, the documented convention)
    val union = b0.unionByName(b1)
    val assigned0 = spark.read.parquet(s"$idx/batch=0")
      .select(col("doc_id"), col("side"))
    val ref = CorpusPrep.leakageSafeSplitIncremental(
        assigned0, union, "doc_id",
        Dedup.minhashCandidatePairs(union, "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5),
        testPct = 30)
      .filter(col("is_new"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(ref == got.view.filterKeys(k => Set(40L, 41L, 50L, 51L, 60L).contains(k)).toMap,
      s"stream batch-1 sides must equal the batch incremental split: ref=$ref got=$got")
    // replay of batch 1 is marker-skipped: nothing duplicates
    StreamPipeline.splitIndexBatch(b1, 1L, "doc_id", "text", out, idx, testPct = 30)
    assert(landed.size == 9, s"replay must not duplicate assignments: ${landed.size}")
  }

  test("splitIndexBatch: a doc_id re-delivered in a LATER batch keeps its landed side, no duplicates") {
    // The idempotency marker only catches same-batchId replays; an
    // upstream source replaying a range delivers old docs under a NEW
    // batch id. Stickiness (r16 advice): the landed side is kept
    // verbatim — no re-siding from the current census, no duplicate
    // (doc_id, side) rows in out, no duplicate index rows.
    val out = java.nio.file.Files.createTempDirectory("graft-redeliver-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-redeliver-idx").toString + "/index"
    def toks(f: Int) = (0 until 40).map(i => s"r${f}w$i")
    val b0 = Seq((10L, toks(1).mkString(" ")), (20L, toks(2).mkString(" ")))
      .toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b0, 0L, "doc_id", "text", out, idx, testPct = 30)
    // batch 1 re-delivers doc 10 under a fresh batch id, plus a new doc
    val b1 = Seq((10L, toks(1).mkString(" ")), (30L, toks(3).mkString(" ")))
      .toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b1, 1L, "doc_id", "text", out, idx, testPct = 30)
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("side")))
    assert(rows.length == 3, s"exactly one assignment row per doc: ${rows.toSeq}")
    // a near-dup of the re-delivered doc still adopts its landed side
    // (the dropped re-delivery participates via its at-rest index row)
    val b2 = Seq((40L, toks(1).updated(0, "rx0").mkString(" "))).toDF("doc_id", "text")
    StreamPipeline.splitIndexBatch(b2, 2L, "doc_id", "text", out, idx, testPct = 30)
    val g = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(g(40L) == g(10L), s"near-dup of re-delivered doc adopts landed side: $g")
    val idxIds = IndexState.read(spark, idx,
      "doc_id BIGINT, side STRING, hs ARRAY<BIGINT>, bands ARRAY<BIGINT>")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(idxIds == Seq(10L, 20L, 30L, 40L), s"one index row per landed doc: $idxIds")
  }

  test("splitIndexBatch: a doc bridging both landed sides quarantines, and poisons its successors") {
    import graft.functions.{TextFunctions => T}
    val out = java.nio.file.Files.createTempDirectory("graft-splitq-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-splitq-idx").toString + "/index"
    def toks = (0 until 40).map(i => s"q7w$i")
    val z = toks.mkString(" ")
    val a = toks.updated(5, "qx5").mkString(" ")   // ≈ z, landed train
    val b = toks.updated(30, "qx30").mkString(" ") // ≈ z, landed test
    // plant the landed state DIRECTLY (the real-world shape: a and b
    // landed in different epochs before their connector arrived — their
    // mutual similarity was never observed at assignment time)
    val planted = Seq((100L, a, "train"), (200L, b, "test")).toDF("doc_id", "text", "side")
      .select(col("doc_id"), col("side"),
        T.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("bands", T.bandHashes(
        T.minhashSignature(col("hs"), 32), 32, 8))
      .select("doc_id", "side", "hs", "bands")
    graft.streaming.IdempotentSink.writeBatch(idx)(planted, 0L)
    // z bridges both sides -> quarantined
    StreamPipeline.splitIndexBatch(
      Seq((300L, z)).toDF("doc_id", "text"), 1L, "doc_id", "text", out, idx)
    val g1 = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(g1 == Map(300L -> "quarantined"), s"bridge must quarantine: $g1")
    // a later near-dup of the quarantined doc is transitively in reach
    // of both sides -> quarantined too (state poisoning)
    StreamPipeline.splitIndexBatch(
      Seq((400L, toks.updated(1, "qy1").mkString(" "))).toDF("doc_id", "text"),
      2L, "doc_id", "text", out, idx)
    val g2 = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(g2(400L) == "quarantined", s"successor of a quarantined doc: $g2")
  }

  test("streaming image dedup: near-dup payloads drop within and across batches; replay skips") {
    import graft.operators.Multimodal
    val out = java.nio.file.Files.createTempDirectory("graft-img-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-img-idx").toString + "/index"
    // real PNG payloads from the near-dup fixture: ids 0,1 are the same
    // group (hamming <= 2), id 2 is group 0 again, ids 10,11 group 2
    def imagesOf(ids: Long*) = Multimodal.synthesizeNearDupImages(
      ids.toDF("doc_id"), "doc_id")
    // batch 0: base + near-copy of group 0 → keeper 0 only
    StreamPipeline.dhashIndexBatch(imagesOf(0L, 1L), 0L, "doc_id", out, idx, 3)
    // batch 1: ANOTHER group-0 member (must drop via the index) + a
    // fresh group pair (keeper 10)
    StreamPipeline.dhashIndexBatch(imagesOf(2L, 10L, 11L), 1L, "doc_id", out, idx, 3)
    def survivors() = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors() == Set(0L, 10L), s"got ${survivors()}")
    // at-least-once redelivery of batch 1 is a no-op on the markers
    StreamPipeline.dhashIndexBatch(imagesOf(2L, 10L, 11L), 1L, "doc_id", out, idx, 3)
    assert(survivors() == Set(0L, 10L), "replay must not change survivors")
    assert(IndexState.read(spark, idx, "h BIGINT").select("h").count() == 2,
      "index holds exactly the survivors' signatures")
    // a later duplicate of a batch-0 survivor still drops (shared state)
    StreamPipeline.dhashIndexBatch(imagesOf(3L, 20L), 2L, "doc_id", out, idx, 3)
    assert(survivors() == Set(0L, 10L, 20L), s"got ${survivors()}")
  }

  test("streaming perceptual dedup is modality-agnostic: video payloads through the same machinery") {
    import graft.operators.Multimodal
    val out = java.nio.file.Files.createTempDirectory("graft-vid-out").toString + "/out"
    val idx = java.nio.file.Files.createTempDirectory("graft-vid-idx").toString + "/index"
    // genuine y4m payloads from the q162 fixture; only the hasher swaps
    def vidsOf(ids: Long*) = Multimodal.synthesizeNearDupY4m(
      ids.toDF("doc_id"), "doc_id")
    val hasher = Multimodal.videoDHashY4m _
    StreamPipeline.dhashIndexBatch(vidsOf(0L, 1L), 0L, "doc_id", out, idx, 3, hasher)
    StreamPipeline.dhashIndexBatch(vidsOf(2L, 10L, 11L), 1L, "doc_id", out, idx, 3, hasher)
    def survivors() = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors() == Set(0L, 10L), s"got ${survivors()}")
    // replay no-op + shared-state drop, as in the image twin
    StreamPipeline.dhashIndexBatch(vidsOf(2L, 10L, 11L), 1L, "doc_id", out, idx, 3, hasher)
    assert(survivors() == Set(0L, 10L), "replay must not change survivors")
    StreamPipeline.dhashIndexBatch(vidsOf(3L, 20L), 2L, "doc_id", out, idx, 3, hasher)
    assert(survivors() == Set(0L, 10L, 20L), s"got ${survivors()}")
  }

  test("streaming DSIR model: partial fold == full recompute; replay skips") {
    import graft.operators.CorpusPrep
    val state = java.nio.file.Files.createTempDirectory("graft-dsir-state").toString + "/s"
    def docsOf(rows: (Long, String, Boolean)*) = rows.toDF("doc_id", "text", "tgt")
    val b0 = docsOf((1L, "alpha beta gamma", true), (2L, "delta epsilon", false))
    val b1 = docsOf((3L, "alpha beta beta", true), (4L, "beta gamma delta", false))
    val b2 = docsOf((5L, "gamma gamma alpha beta", false))
    val B = 16
    StreamPipeline.dsirStatsBatch(b0, 0L, "doc_id", "text", col("tgt"), state, B)
    StreamPipeline.dsirStatsBatch(b1, 1L, "doc_id", "text", col("tgt"), state, B)
    // replayed batch must be a marker no-op
    StreamPipeline.dsirStatsBatch(b1, 1L, "doc_id", "text", col("tgt"), state, B)
    StreamPipeline.dsirStatsBatch(b2, 2L, "doc_id", "text", col("tgt"), state, B)
    val all = b0.unionByName(b1).unionByName(b2)
    val feats = CorpusPrep.dsirFeatures(all, "doc_id", "text", col("tgt"), B)
    val lamBatch = CorpusPrep.dsirLambda(CorpusPrep.dsirBucketStats(feats), B)
      .as[(Long, Long)].collect().toSet
    val lamStream = StreamPipeline.currentDsirLambda(spark, state, B).get
      .as[(Long, Long)].collect().toSet
    assert(lamStream == lamBatch, s"fold != recompute:\n$lamStream\n$lamBatch")
    // and scoring against the folded model == the one-shot weights
    val wStream = CorpusPrep.dsirScore(feats,
        StreamPipeline.currentDsirLambda(spark, state, B).get)
      .as[(Long, Long, Long)].collect().toSet
    val wBatch = CorpusPrep.dsirWeights(all, "doc_id", "text", col("tgt"), B)
      .as[(Long, Long, Long)].collect().toSet
    assert(wStream == wBatch)
  }

  test("streaming index maintenance: partial fold == full recompute; replay skips") {
    val state = java.nio.file.Files.createTempDirectory("graft-idx-state").toString + "/s"
    def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val b0 = docsOf(1L -> "the quick fox", 2L -> "lazy dog dog")
    val b1 = docsOf(3L -> "the the the quick", 4L -> "fox")
    StreamPipeline.postingsIndexBatch(b0, 0L, "doc_id", "text", state)
    StreamPipeline.postingsIndexBatch(b1, 1L, "doc_id", "text", state)
    // replayed batch must be a marker no-op
    StreamPipeline.postingsIndexBatch(b1, 1L, "doc_id", "text", state)
    val got = StreamPipeline.currentIndexStats(spark, state).get
      .as[(String, Long, Long, Long)].collect().toSet
    val full = graft.operators.Search.indexStats(
        b0.unionByName(b1), "doc_id", "text")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == full, s"fold != recompute:\n$got\n$full")
    // spot-check the non-additive measure: max_tf is a max, not a sum
    assert(got.collect { case ("the", df, cf, mx) => (df, cf, mx) }.head == ((2L, 4L, 3L)))
  }

  test("capped bucket stars to the RUNNING min id, not the min of the first cap") {
    implicit val sqlCtx = spark.sqlContext
    // identical texts collide in every band bucket; cap=2 fills on the
    // first batch. A smaller id arriving AFTER the cap must (a) pair
    // with the current representative and (b) BECOME the representative
    // for later arrivals — the r6 state (member list only) froze the
    // rep at min(first cap arrivals), so id 1 would pair with 5, not 2.
    val text = "the quick brown fox jumps over the lazy dog near the river bank"
    val mem = MemoryStream[(Long, String)]
    val q = StreamPipeline.minhashCandidatesStream(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text", bucketCap = 2)
      .writeStream.queryName("mh_capped").format("memory")
      .outputMode("append").start()
    try {
      mem.addData((5L, text), (6L, text)); q.processAllAvailable()
      mem.addData((2L, text)); q.processAllAvailable()
      mem.addData((1L, text)); q.processAllAvailable()
      val pairs = spark.table("mh_capped").as[(Long, Long)].collect().toSet
      assert(pairs == Set((5L, 6L), (2L, 5L), (1L, 2L)),
        s"got $pairs — (1,2) proves the rep advanced to the running min")
    } finally q.stop()
  }

  test("filter-funnel cascade runs unchanged on a stream (stream == batch)") {
    import graft.functions.{TextFunctions => T}
    implicit val sqlCtx = spark.sqlContext
    // q131's reason cascade is per-row stateless — micro-batch execution
    // must reproduce the batch tagging bit-for-bit (incl. the IEEE
    // quality threshold comparison)
    def funnel(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("lang"), T.qualityMetrics(col("text")).as("m"))
      .select(col("doc_id"),
        when(col("m.n_tokens") < 24, "too_short")
          .when(col("lang") =!= "en", "non_english")
          .when(col("m.quality_score") < 0.8, "low_quality")
          .otherwise("kept").as("reason"))
    val data = Seq(
      (1L, "en", "tiny"),
      (2L, "de", Seq.fill(30)("wort").mkString(" ")),
      (3L, "en", Seq.fill(30)("zz9$").mkString(" ")),
      (4L, "en", "the cat and the dog walked to the house of a friend and " +
        "said hello to everyone in the warm room before dinner was served."))
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(data: _*)
    val q = funnel(mem.toDF.toDF("doc_id", "lang", "text"))
      .writeStream.queryName("funnel_stream").format("memory")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assertSameRows(spark.table("funnel_stream"),
        funnel(data.toDF("doc_id", "lang", "text")), "funnel stream vs batch")
      // the fixture must exercise every cascade arm
      import spark.implicits._
      val reasons = spark.table("funnel_stream")
        .select("reason").as[String].collect().toSet
      assert(reasons == Set("too_short", "non_english", "low_quality", "kept"),
        s"fixture must hit all arms: $reasons")
    } finally q.stop()
  }

  test("fused signal kernels run unchanged on a stream (stream == batch)") {
    import graft.functions.{GraftFunctions, TextFunctions => T}
    implicit val sqlCtx = spark.sqlContext
    GraftFunctions.register(spark)
    // stateless projection == q126's kernel set; micro-batch execution
    // must produce the batch result bit-for-bit (incl. the codegen'd
    // fingerprint64 custom expression inside a streaming plan)
    def signals(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      T.qualityMetrics(col("text")).as("m"),
      T.langId(col("text")).as("lang_pred"),
      GraftFunctions.fingerprint64(T.normalizeText(col("text"))).as("fingerprint"))
      .select(col("doc_id"), col("m.*"), col("lang_pred"), col("fingerprint"))
    val data = Seq(
      (1L, "the quick brown fox and the lazy dog jumped over it"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, ""),
      (4L, "  Whitespace   And CASE  folding\ttest  "))
    val mem = MemoryStream[(Long, String)]
    mem.addData(data: _*)
    val q = signals(mem.toDF.toDF("doc_id", "text"))
      .writeStream.queryName("fused_sig").format("memory")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assertSameRows(spark.table("fused_sig"),
        signals(data.toDF("doc_id", "text")), "fused signals stream vs batch")
    } finally q.stop()
  }

  // ---- streaming gap-fill interpolation (q128's twin) ----

  private def eventsDF(rows: (Long, String, Double, String)*) =
    rows.toDF("user_id", "ts", "value", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))

  private def batchAnswer(all: org.apache.spark.sql.DataFrame) =
    graft.operators.GapFill.interpolateDaily(
      graft.operators.GapFill.dailyPurchases(all))

  test("streaming gap-fill interpolation == batch over micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-gap-out").toString + "/out"
    val st = java.nio.file.Files.createTempDirectory("graft-gap-st").toString + "/state"
    // u1's gap neighbors arrive two batches apart; u1 day1 gets a
    // second contribution in batch 2 (state must SUM across batches);
    // the view event must be filtered out
    val b0 = Seq((1L, "2024-01-01 10:00:00", 10.0, "purchase"),
      (1L, "2024-01-04 09:00:00", 16.0, "purchase"),
      (3L, "2024-01-02 12:00:00", 5.0, "purchase"),
      (3L, "2024-01-02 13:00:00", 99.0, "view"))
    val b1 = Seq((2L, "2024-01-10 08:00:00", 3.0, "purchase"),
      (3L, "2024-01-05 18:00:00", 7.0, "purchase"))
    val b2 = Seq((1L, "2024-01-06 11:00:00", 1.0, "purchase"),
      (1L, "2024-01-01 23:00:00", 2.5, "purchase"))
    val mem = MemoryStream[(Long, String, Double, String)]
    val q = StreamPipeline.interpolateDailyStream(
      mem.toDF.toDF("user_id", "ts", "value", "event_type")
        .withColumn("ts", to_timestamp(col("ts"))), st, out)
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assertSameRows(
      StreamPipeline.latestSeries(spark, out),
      batchAnswer(eventsDF(b0 ++ b1 ++ b2: _*)),
      "streamed interpolation vs one-shot batch")
  }

  test("gap-fill replay (foreachBatch redelivery) changes nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft-gapr-out").toString + "/out"
    val st = java.nio.file.Files.createTempDirectory("graft-gapr-st").toString + "/state"
    val b0 = Seq((1L, "2024-01-01 10:00:00", 10.0, "purchase"),
      (1L, "2024-01-03 09:00:00", 4.0, "purchase"))
    val b1 = Seq((1L, "2024-01-05 09:00:00", 6.0, "purchase"),
      (2L, "2024-01-02 10:00:00", 8.0, "purchase"))
    StreamPipeline.interpolateDailyBatch(eventsDF(b0: _*), 0L, st, out)
    StreamPipeline.interpolateDailyBatch(eventsDF(b1: _*), 1L, st, out)
    val before = StreamPipeline.latestSeries(spark, out).collect().toSet
    StreamPipeline.interpolateDailyBatch(eventsDF(b1: _*), 1L, st, out) // redelivery
    assert(StreamPipeline.latestSeries(spark, out).collect().toSet == before,
      "replayed batch must be a no-op on both state and output")
    assertSameRows(StreamPipeline.latestSeries(spark, out),
      batchAnswer(eventsDF(b0 ++ b1: _*)), "post-replay parity")
  }

  test("crash between state commit and output write heals on redelivery") {
    val out = java.nio.file.Files.createTempDirectory("graft-gapc-out").toString + "/out"
    val st = java.nio.file.Files.createTempDirectory("graft-gapc-st").toString + "/state"
    val b0 = Seq((1L, "2024-01-01 10:00:00", 10.0, "purchase"),
      (1L, "2024-01-04 09:00:00", 16.0, "purchase"))
    val b1 = Seq((1L, "2024-01-06 11:00:00", 1.0, "purchase"))
    StreamPipeline.interpolateDailyBatch(eventsDF(b0: _*), 0L, st, out)
    StreamPipeline.interpolateDailyBatch(eventsDF(b1: _*), 1L, st, out)
    // crash model: state batch=1 committed, output batch=1 torn
    val marker = new java.io.File(s"$out/batch=1/_SUCCESS")
    assert(marker.exists() && marker.delete())
    StreamPipeline.interpolateDailyBatch(eventsDF(b1: _*), 1L, st, out) // redelivery
    assertSameRows(StreamPipeline.latestSeries(spark, out),
      batchAnswer(eventsDF(b0 ++ b1: _*)),
      "healed output must equal the batch answer (series spans day 1..6)")
  }

  // ---- streaming per-domain cap (q135's twin) ----

  private def urlDocs(ids: Seq[Long]) = ids.map { i =>
    val host = if (i % 3 == 0) "www.big.com" else s"site${i % 4}.co.uk"
    (i, s"https://$host/p/$i")
  }.toDF("doc_id", "url")

  test("streaming domain cap == batch cap regardless of batch boundaries") {
    val st = java.nio.file.Files.createTempDirectory("graft-cap-st").toString + "/state"
    val all = (1L to 120L)
    val splits = Seq(all.slice(0, 40), all.slice(40, 90), all.slice(90, 120))
    splits.zipWithIndex.foreach { case (ids, bi) =>
      StreamPipeline.domainCapBatch(urlDocs(ids), bi.toLong, "url", "doc_id", 5, st)
    }
    assertSameRows(
      StreamPipeline.currentKept(spark, st, "doc_id"),
      graft.operators.CorpusPrep.domainCap(urlDocs(all), "url", "doc_id", 5),
      "incremental cap vs one-shot batch cap")
    // arrival-order invariance: reversed batches give the same kept set
    val st2 = java.nio.file.Files.createTempDirectory("graft-cap-st2").toString + "/state"
    splits.reverse.zipWithIndex.foreach { case (ids, bi) =>
      StreamPipeline.domainCapBatch(urlDocs(ids), bi.toLong, "url", "doc_id", 5, st2)
    }
    assertSameRows(
      StreamPipeline.currentKept(spark, st2, "doc_id"),
      StreamPipeline.currentKept(spark, st, "doc_id"),
      "kept set must not depend on arrival order")
  }

  test("domain cap replay (foreachBatch redelivery) is a no-op") {
    val st = java.nio.file.Files.createTempDirectory("graft-capr-st").toString + "/state"
    StreamPipeline.domainCapBatch(urlDocs(1L to 50L), 0L, "url", "doc_id", 5, st)
    StreamPipeline.domainCapBatch(urlDocs(51L to 80L), 1L, "url", "doc_id", 5, st)
    val before = StreamPipeline.currentKept(spark, st, "doc_id").collect().toSet
    StreamPipeline.domainCapBatch(urlDocs(51L to 80L), 1L, "url", "doc_id", 5, st)
    assert(StreamPipeline.currentKept(spark, st, "doc_id").collect().toSet == before)
  }

  // (user, type, µs) fixture exercising every funnel edge: u1 converts;
  // u2 signs up, never buys; u3's purchase lands BEFORE its signup in
  // arrival order (out-of-order stream); u4 buys only before signup
  // (never converts); u5 has no signup (never emitted); u6's later-
  // arriving EARLIER signup retroactively qualifies a buffered purchase;
  // u7's purchase ties its signup instant exactly (counts, us >= signup).
  private val funnelEvents: Seq[(Long, String, Long)] = Seq(
    (1L, "signup", 100L), (1L, "view", 150L), (1L, "purchase", 200L),
    (1L, "purchase", 300L),
    (2L, "signup", 100L),
    (3L, "purchase", 500L), (3L, "signup", 400L),
    (4L, "purchase", 50L), (4L, "signup", 90L),
    (5L, "purchase", 10L), (5L, "view", 20L),
    (6L, "signup", 500L), (6L, "purchase", 300L), (6L, "signup", 250L),
    (7L, "signup", 700L), (7L, "purchase", 700L))

  // the batch (q143 conv-table) answer on the same events
  private val funnelExpected: Map[Long, (Long, Long)] = Map(
    1L -> (100L, 200L), 2L -> (100L, -1L), 3L -> (400L, 500L),
    4L -> (90L, -1L), 6L -> (250L, 300L), 7L -> (700L, 700L))

  private def runFunnel(batches: Seq[Seq[(Long, String, Long)]],
      name: String): Map[Long, (Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamPipeline.funnelStream(mem.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // LATEST emission per user is the answer; memory sink appends in
    // batch order, so fold keeps the last
    spark.table(name).as[(Long, Long, Long)].collect()
      .foldLeft(Map.empty[Long, (Long, Long)]) { case (m, (u, s, p)) =>
        m.updated(u, (s, p))
      }
  }

  test("streaming funnel: latest emission equals the batch conv table") {
    assert(runFunnel(Seq(funnelEvents), "funnel_one") == funnelExpected)
  }

  test("streaming funnel: invariant under micro-batch splits incl. per-event") {
    assert(runFunnel(funnelEvents.grouped(3).toSeq, "funnel_g3") == funnelExpected)
    assert(runFunnel(funnelEvents.map(Seq(_)), "funnel_g1") == funnelExpected)
  }

  test("streaming rollup: committed partials re-sum to the one-shot aggregate") {
    import graft.operators.Rollup
    val r = new scala.util.Random(9)
    val all = Seq.fill(300)((s"p${r.nextInt(4)}", r.nextInt(3).toLong, r.nextInt(500).toLong))
      .toDF("prio", "yr", "cents")
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollup-st").toString + "/state"
    val batches = Seq(all.filter(col("cents") < 150),
      all.filter(col("cents") >= 150 && col("cents") < 400),
      all.filter(col("cents") >= 400))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamPipeline.rollupBatch(b, i.toLong, keys, sums, st)
    }
    val got = StreamPipeline.currentRollup(spark, st, keys).get
    assertSameRows(got, Rollup.partial(all, keys, sums), "stream vs one-shot")
    // at-least-once replay of a batch is a no-op on the marker
    StreamPipeline.rollupBatch(batches(1), 1L, keys, sums, st)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get,
      Rollup.partial(all, keys, sums), "replay must not double-count")
  }

  test("rollup compaction: value preserved, replays skip, stream continues") {
    import graft.operators.Rollup
    val r = new scala.util.Random(13)
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupc-st").toString + "/state"
    val b = Seq(batch(60, 1), batch(40, 2), batch(80, 3), batch(30, 4))
    b.take(3).zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    val pre = StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet
    StreamPipeline.compactRollup(spark, st, keys)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "compaction must not change the rollup value")
    // replay of a COMPACTED batch hits its tombstone marker in the new gen
    StreamPipeline.rollupBatch(b(0), 0L, keys, sums, st)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "replayed compacted batch must not double-count")
    // the stream continues into the new generation
    StreamPipeline.rollupBatch(b(3), 3L, keys, sums, st)
    val expect4 = Rollup.partial(b.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect4,
      "post-compaction batch lands in the live generation")
    // second compaction rolls gen-1 -> gen-2
    StreamPipeline.compactRollup(spark, st, keys)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect4,
      "second compaction preserved the value")
    StreamPipeline.rollupBatch(b(3), 3L, keys, sums, st)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect4,
      "replay after second compaction skips")
  }

  test("rollup compaction: a straggler batch committed into the old generation folds in") {
    import graft.operators.Rollup
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollups-st").toString + "/state"
    val b = Seq(batch(60, 31), batch(40, 32), batch(80, 33))
    b.take(2).zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    StreamPipeline.compactRollup(spark, st, keys)
    // simulate the race: a writer that resolved the OLD generation
    // before the pointer swap commits its batch there AFTER the
    // compactor's re-list — in r11 this batch silently vanished
    IdempotentSink.writeBatch(st)(Rollup.partial(b(2), keys, sums), 2L)
    // ... then runs its post-commit re-resolve, which must fold the
    // batch into the live generation
    StreamPipeline.foldIfSuperseded(spark, st, st, 2L)
    val expect = Rollup.partial(b.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "straggler batch must fold into the live generation, not vanish")
    // the fold is idempotent: re-running it (and replaying the batch)
    // must not double-count
    StreamPipeline.foldIfSuperseded(spark, st, st, 2L)
    StreamPipeline.rollupBatch(b(2), 2L, keys, sums, st)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "fold + replay must be idempotent")
    // a straggler whose id the new generation already tombstoned no-ops
    StreamPipeline.foldIfSuperseded(spark, st, st, 0L)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "tombstoned id must not re-fold")
  }

  test("rollup state: a legacy bare CURRENT pointer fails loudly") {
    val st = java.nio.file.Files.createTempDirectory("graft-rollupl-st").toString + "/state"
    StreamPipeline.rollupBatch(
      Seq(("p0", 1L, 10L)).toDF("prio", "yr", "cents"), 0L,
      Seq("prio", "yr"), Seq("cents_sum" -> col("cents")), st)
    val cur = new java.io.File(st, "CURRENT")
    java.nio.file.Files.write(cur.toPath, "gen-1".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      StreamPipeline.currentRollup(spark, st, Seq("prio", "yr"))
    }
    assert(e.getMessage.contains("legacy bare CURRENT"))
  }

  test("rollup compaction: a half-built generation without its pointer is invisible") {
    import graft.operators.Rollup
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupx-st").toString + "/state"
    val b = Seq(batch(50, 21), batch(70, 22))
    b.zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    val pre = StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet
    // simulate a compaction that crashed mid-build: a gen dir exists
    // (even with a committed-looking garbage batch inside) but its
    // CURRENT-<n> pointer was never written — readers and writers must
    // stay on the pre-compaction state
    IdempotentSink.writeBatch(s"$st/gen-1")(
      Seq(("pX", 9L, 999999L)).toDF("prio", "yr", "cents"), 99L)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "half-built generation must be invisible without its pointer")
    // a real compaction now lands gen-2 (the dead gen-1 dir stays dead)
    StreamPipeline.compactRollup(spark, st, keys)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "compaction after a dead half-built generation preserves the value")
    StreamPipeline.rollupBatch(b(0), 0L, keys, sums, st)
    assert(StreamPipeline.currentRollup(spark, st, keys).get.collect().toSet == pre,
      "replayed compacted batch still tombstoned after crash recovery")
  }

  test("bounded funnel: watermark variant matches the unbounded answer") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    // generous lateness >> the event-time range: nothing is dropped, so
    // bounded must equal the batch oracle exactly
    val q = StreamPipeline.funnelStreamBounded(mem.toDS(), "1 hour")
      .writeStream.queryName("funnel_wm").format("memory")
      .outputMode("append").start()
    try funnelEvents.grouped(4).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("funnel_wm").as[(Long, Long, Long)].collect()
      .foldLeft(Map.empty[Long, (Long, Long)]) { case (m, (u, s, p)) =>
        m.updated(u, (s, p))
      }
    assert(got == funnelExpected)
  }

  test("funnelAdvance: watermark prune never changes a claimable answer") {
    val none = StreamPipeline.FunnelNone
    val s0 = (none, none, List.empty[Long])
    // purchases at 5, 15, 25 with no signup yet
    val buffered = StreamPipeline.funnelAdvance(
      s0, Seq(("purchase", 5L), ("purchase", 15L), ("purchase", 25L)), Long.MinValue)
    assert(buffered._3.toSet == Set(5L, 15L, 25L))
    // watermark at 20 prunes 5 and 15; by the watermark contract no
    // future signup can carry s < 20, and a signup at s >= 20 can only
    // claim purchases >= s >= 20 — so the prune is invisible
    val pruned = StreamPipeline.funnelAdvance(buffered, Seq.empty, 20L)
    assert(pruned._3 == List(25L))
    val afterSignup = StreamPipeline.funnelAdvance(pruned, Seq(("signup", 22L)), 20L)
    val unprunedAfterSignup = StreamPipeline.funnelAdvance(buffered, Seq(("signup", 22L)), Long.MinValue)
    assert((afterSignup._1, afterSignup._2) == (unprunedAfterSignup._1, unprunedAfterSignup._2),
      "claimed (signup, purchase) pair must be identical with and without the prune")
    assert(afterSignup._1 == 22L && afterSignup._2 == 25L)
  }

  test("streaming funnel: random event streams match the brute-force oracle") {
    val r = new scala.util.Random(42)
    val types = Seq("signup", "purchase", "view")
    // timestamps from a SMALL range so signup/purchase ties and
    // out-of-order arrivals are common, plus duplicate instants
    val events = Seq.fill(300)(
      (r.nextInt(20).toLong, types(r.nextInt(3)), r.nextInt(40).toLong))
    def oracle(evs: Seq[(Long, String, Long)]): Map[Long, (Long, Long)] =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        val signups = es.collect { case (_, "signup", t) => t }
        if (signups.isEmpty) None
        else {
          val s = signups.min
          val purch = es.collect { case (_, "purchase", t) if t >= s => t }
          Some(u -> (s, if (purch.isEmpty) -1L else purch.min))
        }
      }
    val expected = oracle(events)
    // arbitrary batch split (sizes 1..15), arrival order AS GENERATED
    // (i.e. random relative to event time)
    def splits(evs: Seq[(Long, String, Long)]): Seq[Seq[(Long, String, Long)]] =
      if (evs.isEmpty) Nil
      else {
        val k = 1 + r.nextInt(15)
        evs.take(k) +: splits(evs.drop(k))
      }
    assert(runFunnel(splits(events), "funnel_rand") == expected)
    assert(runFunnel(Seq(events), "funnel_rand1") == expected)
  }

  test("bounded streaming dedup: emissions match the unbounded variant within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2021-03-01 10:$m%02d:00")
    // payloads replayed across batches, all within a generous watermark
    // window — the bounded variant must emit exactly what dedupStream
    // emits: each hash once, first arrival
    val rows = Seq(
      (1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a"),
      (3L, ts(3), "c"), (2L, ts(9), "b"), (1L, ts(10), "a"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    mem.addData(rows.take(3): _*)
    mem.addData(rows.drop(3): _*)
    val q = StreamPipeline.dedupStreamBounded(mem.toDS(), "1 hour")
      .writeStream.queryName("dedup_bounded_out")
      .format("memory").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dedup_bounded_out").as[(Long, String)].collect().toSeq
    assert(got.sorted == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"each hash exactly once within the watermark, got $got")
  }

  test("chaos: concurrent writers, replays and compactor — rollup stays exactly-once") {
    import graft.operators.Rollup
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupch-st").toString + "/state"
    val batches = (0 until 10).map(i => batch(25 + i, 500 + i))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writers = batches.zipWithIndex.map { case (d, i) =>
        Future {
          StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
          // at-least-once: every batch replays once, racing compaction —
          // markers/tombstones/folds must swallow the replay
          StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
        }
      }
      val compactor = Future {
        (0 until 3).foreach { _ =>
          Thread.sleep(40)
          // losing the snapshot race to a live writer on every attempt
          // is the documented liveness (not correctness) failure —
          // tolerated mid-chaos, retried quiesced below
          try StreamPipeline.compactRollup(spark, st, keys, attempts = 6)
          catch { case _: IllegalArgumentException => () }
        }
      }
      Await.result(Future.sequence(writers :+ compactor), 5.minutes)
    } finally pool.shutdown()
    val expect = Rollup.partial(batches.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "chaos interleaving must not lose or double-count any batch")
    // quiesced: compaction and one more full replay sweep change nothing
    StreamPipeline.compactRollup(spark, st, keys)
    batches.zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "post-chaos compaction + replay sweep must be a no-op")
  }

  test("foldIfSuperseded: double-fold race has one winner; a truly lost batch fails loudly") {
    import graft.operators.Rollup
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def batch(n: Int, seed: Int) = {
      val rr = new scala.util.Random(seed)
      Seq.fill(n)((s"p${rr.nextInt(3)}", rr.nextInt(2).toLong, rr.nextInt(100).toLong))
        .toDF("prio", "yr", "cents")
    }
    val keys = Seq("prio", "yr")
    val sums = Seq("cents_sum" -> col("cents"))
    val st = java.nio.file.Files.createTempDirectory("graft-rollupdf-st").toString + "/state"
    val b = Seq(batch(60, 61), batch(40, 62), batch(80, 63))
    b.take(2).zipWithIndex.foreach { case (d, i) =>
      StreamPipeline.rollupBatch(d, i.toLong, keys, sums, st)
    }
    StreamPipeline.compactRollup(spark, st, keys)
    // straggler commits into the superseded generation...
    IdempotentSink.writeBatch(st)(Rollup.partial(b(2), keys, sums), 2L)
    // ...and BOTH protocol halves (writer re-resolve + compactor sweep)
    // try to fold it concurrently: exists-check + atomic rename means at
    // most one rename wins and the loser no-ops — never a double count,
    // never a loss
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(Seq(
        Future(StreamPipeline.foldIfSuperseded(spark, st, st, 2L)),
        Future(StreamPipeline.foldIfSuperseded(spark, st, st, 2L)))), 2.minutes)
    finally pool.shutdown()
    val expect = Rollup.partial(b.reduce(_ unionByName _), keys, sums)
    assertSameRows(StreamPipeline.currentRollup(spark, st, keys).get, expect,
      "double-fold must land the batch exactly once")
    // fault injection: a batch id that exists in NO generation (rename
    // fails, destination absent) is real data loss — must throw, not
    // silently converge
    val e = intercept[java.io.IOException] {
      StreamPipeline.foldIfSuperseded(spark, st, st, 77L)
    }
    assert(e.getMessage.contains("failed to fold"),
      s"lost-batch fold must fail loudly, got: ${e.getMessage}")
  }

  test("streaming margin mining: per-batch == batch operator, replay skips") {
    // the margin definition is batch-relative by construction (the
    // batch IS the bounded side), so the streamed landing must equal
    // the batch operator applied per batch — and a replayed batch
    // must skip on its _SUCCESS marker, not double its pairs
    val corpus = Seq(
      (1L, Array(1000L, 0L, 0L)), (3L, Array(0L, 1000L, 0L)),
      (5L, Array(0L, 0L, 1000L)), (7L, Array(700L, 700L, 0L)))
      .toDF("vec_id", "qv")
    val b0 = Seq(
      (100L, Array(990L, 10L, 0L)), (102L, Array(0L, 995L, 5L)))
      .toDF("vec_id", "qv")
    val b1 = Seq((104L, Array(5L, 0L, 998L))).toDF("vec_id", "qv")
    val out = java.nio.file.Files.createTempDirectory("graft-mm").toString + "/pairs"
    StreamPipeline.marginMineBatch(b0, 0L, "vec_id", "qv", corpus, "vec_id", out)
    StreamPipeline.marginMineBatch(b1, 1L, "vec_id", "qv", corpus, "vec_id", out)
    val committed = IdempotentSink.committedDirs(spark, out)
    val streamed = spark.read.parquet(committed: _*)
    val expected = graft.operators.Similarity
      .marginMine(corpus, "vec_id", b0, "vec_id", "qv")
      .unionByName(graft.operators.Similarity
        .marginMine(corpus, "vec_id", b1, "vec_id", "qv"))
    assertSameRows(streamed, expected, "streamed landing vs per-batch operator")
    // planted mutual pairs actually surface
    val got = streamed.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 1L), (102L, 3L), (104L, 5L)), s"pairs: $got")
    // at-least-once redelivery: same batch id, no growth
    StreamPipeline.marginMineBatch(b1, 1L, "vec_id", "qv", corpus, "vec_id", out)
    val after = spark.read.parquet(
      IdempotentSink.committedDirs(spark, out): _*)
    assert(after.count() == streamed.count(), "replayed batch must skip")
  }
}

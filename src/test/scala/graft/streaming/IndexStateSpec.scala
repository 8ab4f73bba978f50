package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The at-rest index state layer (r16 weak item): bloom sidecars fold
  * to the same filter the per-batch aggregate would build, missing
  * sidecars heal from their own dir, generation compaction preserves
  * the state and the replay-skip contract, and the streaming twins'
  * outputs are invariant under any compaction schedule. */
class IndexStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-ixs-$tag").toString

  test("bloom sidecars: aggregate bytes, sketch-merge fold, probe; empty geometry merges") {
    val a = IndexState.buildBloom(
      (1L to 100L).toDF("_e"), 1000L, 1L << 16)
    val b = IndexState.buildBloom(
      (200L to 300L).toDF("_e"), 1000L, 1L << 16)
    val empty = IndexState.buildBloom(
      spark.emptyDataset[Long].toDF("_e"), 1000L, 1L << 16)
    val folded = IndexState.mergeBlooms(Seq(a, empty, b)).get
    val probed = (1L to 400L).toDF("v")
      .select(col("v"), IndexState.mightContain(folded, col("v")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives, ever
    assert(((1L to 100L) ++ (200L to 300L)).forall(probed(_)),
      "every inserted element must probe positive after the fold")
    // the gap is mostly negative (fpp is tiny at this geometry)
    val fp = (101L to 199L).count(probed(_))
    assert(fp < 10, s"false-positive flood in the gap: $fp of 99")
  }

  test("dedup index: compaction preserves state, replay-skip, and the cross-batch drop") {
    val out = tmp("cmp-out") + "/out"
    val idx = tmp("cmp-idx") + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // maxIndexDirs = 2: compact after (nearly) every batch — the most
    // hostile schedule for the replay/identity contract
    StreamPipeline.dedupIndexBatch(
      batchOf((1L, "alpha body"), (2L, "beta body")), 0L, "doc_id", "text",
      out, idx, maxIndexDirs = 2)
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "gamma body"), (4L, "alpha body")), 1L, "doc_id", "text",
      out, idx, maxIndexDirs = 2)
    StreamPipeline.dedupIndexBatch(
      batchOf((5L, "delta body")), 2L, "doc_id", "text",
      out, idx, maxIndexDirs = 2)
    def survivors() = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors() == Set(1L, 2L, 3L, 5L), s"got ${survivors()}")
    // state compacted: the live generation lists ONE data dir
    assert(IndexState.committedData(spark, idx).size == 1,
      s"expected one compacted dir: ${IndexState.committedData(spark, idx)}")
    assert(IndexState.read(spark, idx, "h STRING").distinct().count() == 4)
    // replay of a pre-compaction batch id skips on the tombstone marker
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "gamma body"), (4L, "alpha body")), 1L, "doc_id", "text",
      out, idx, maxIndexDirs = 2)
    assert(survivors() == Set(1L, 2L, 3L, 5L), "replay must not change survivors")
    assert(IndexState.read(spark, idx, "h STRING").distinct().count() == 4)
    // a duplicate of batch-0 content still drops through the compacted
    // index (the sidecar fold + anti-join see the merged state)
    StreamPipeline.dedupIndexBatch(
      batchOf((6L, "ALPHA body"), (7L, "epsilon body")), 3L, "doc_id", "text",
      out, idx, maxIndexDirs = 2)
    assert(survivors() == Set(1L, 2L, 3L, 5L, 7L), s"got ${survivors()}")
  }

  test("a missing sidecar heals from its own dir; the gate still drops cross-batch dups") {
    val out = tmp("heal-out") + "/out"
    val idx = tmp("heal-idx") + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamPipeline.dedupIndexBatch(
      batchOf((1L, "alpha body")), 0L, "doc_id", "text", out, idx,
      maxIndexDirs = Int.MaxValue)
    // crash window: the data committed but the sidecar write was lost
    val bloomFile = new java.io.File(s"$idx/batch=0/_bloom")
    assert(bloomFile.exists(), "fixture expects a sidecar to delete")
    assert(bloomFile.delete())
    // next batch heals it on read and the duplicate still drops
    StreamPipeline.dedupIndexBatch(
      batchOf((2L, "alpha body"), (3L, "beta body")), 1L, "doc_id", "text",
      out, idx, maxIndexDirs = Int.MaxValue)
    assert(bloomFile.exists(), "sidecar must be healed in place")
    val survivors = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L), s"got $survivors")
  }

  test("shouldCompact: geometric trigger and fan-in cap") {
    val base = tmp("pol") + "/state"
    val elems = IndexState.Layout("h BIGINT", Seq(xxhash64(col("h").cast("string"))))
    assert(!IndexState.shouldCompact(spark, base), "empty state never compacts")
    IndexState.append((1L to 100L).toDF("h"), 0L, base, elems, 1000L, 1L << 16)
    assert(!IndexState.shouldCompact(spark, base), "one dir never compacts")
    IndexState.append((101L to 200L).toDF("h"), 1L, base, elems, 1000L, 1L << 16)
    // two similar-sized dirs: the small mass matches the largest
    assert(IndexState.shouldCompact(spark, base), "equal dirs must compact")
    IndexState.compact(spark, base, elems, 1000L, 1L << 16)
    assert(!IndexState.shouldCompact(spark, base), "freshly compacted")
    assert(IndexState.read(spark, base, "h BIGINT").distinct().count() == 200,
      "compaction must preserve every row")
    // a tiny tail after a big compacted dir: geometric trigger holds off
    IndexState.append(Seq(201L).toDF("h"), 2L, base, elems, 1000L, 1L << 16)
    assert(!IndexState.shouldCompact(spark, base),
      "a tiny dir after a big one must NOT trigger (write amplification)")
    // ... but the fan-in cap fires regardless of sizes
    assert(IndexState.shouldCompact(spark, base, maxDirs = 2))
  }

  test("compaction writes a range manifest, not tombstone dirs: generation stays flat") {
    val out = tmp("man-out") + "/out"
    val idx = tmp("man-idx") + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // many batches under the most hostile schedule (compact ~every
    // batch): with per-id tombstones the generation accumulated one
    // marker dir per batch EVER (re-tombstoned each rollover — the
    // ADVICE r17 O(stream age) metadata walk); with the manifest the
    // generation holds only real data dirs, forever
    (0 until 8).foreach { b =>
      StreamPipeline.dedupIndexBatch(
        batchOf((b * 10L, s"body number $b")), b.toLong, "doc_id", "text",
        out, idx, maxIndexDirs = 2)
    }
    val gen = StreamPipeline.resolveGen(spark, idx)
    val dirs = new java.io.File(gen).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.length <= 2,
      s"generation must hold only live data dirs, got ${dirs.map(_.getName).toSeq}")
    assert(dirs.forall(d => d.listFiles().exists(_.getName.endsWith(".parquet"))),
      "no marker-only dirs may remain in the generation")
    val fs = new org.apache.hadoop.fs.Path(gen)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // contiguous ids coalesce to ONE range no matter how many rollovers
    val ranges = IdempotentSink.compactedRanges(fs,
      new org.apache.hadoop.fs.Path(gen))
    assert(ranges.size == 1 && ranges.head._1 == 0L,
      s"contiguous history must stay one range, got $ranges")
    // replay of an ancient compacted id skips via the manifest
    val pre = spark.read.parquet(out).count()
    val preIdx = IndexState.read(spark, idx, "h STRING").count()
    StreamPipeline.dedupIndexBatch(
      batchOf((0L, "body number 0")), 0L, "doc_id", "text", out, idx,
      maxIndexDirs = 2)
    assert(spark.read.parquet(out).count() == pre, "replay must skip output")
    assert(IndexState.read(spark, idx, "h STRING").count() == preIdx,
      "replay must not re-append index rows")
  }

  test("merged-dir sidecar loss after the pointer swap heals from the merged rows") {
    val out = tmp("mheal-out") + "/out"
    val idx = tmp("mheal-idx") + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamPipeline.dedupIndexBatch(
      batchOf((1L, "alpha body")), 0L, "doc_id", "text", out, idx, maxIndexDirs = 2)
    StreamPipeline.dedupIndexBatch(
      batchOf((2L, "beta body")), 1L, "doc_id", "text", out, idx, maxIndexDirs = 2)
    // the state is compacted to one merged dir; lose ITS sidecar (the
    // one heal NOT single-batch bounded — cost = the compacted corpus,
    // once; reachable via object-store corruption or manual deletion)
    assert(IndexState.committedData(spark, idx).size == 1,
      "fixture expects a compacted state")
    val gen = StreamPipeline.resolveGen(spark, idx)
    val dataDirs = new java.io.File(gen).listFiles().filter(d =>
      d.isDirectory && d.getName.startsWith("batch=") &&
        d.listFiles().exists(_.getName.endsWith(".parquet")))
    assert(dataDirs.length == 1, s"got ${dataDirs.map(_.getName).toSeq}")
    val f = new java.io.File(dataDirs.head, "_bloom")
    assert(f.exists(), s"fixture expects a merged sidecar at $f")
    assert(f.delete())
    // the next batch's fold heals it from the merged dir's own rows and
    // the gate still drops duplicates of BOTH compacted batches
    StreamPipeline.dedupIndexBatch(
      batchOf((3L, "alpha body"), (4L, "beta body"), (5L, "gamma body")),
      2L, "doc_id", "text", out, idx, maxIndexDirs = Int.MaxValue)
    assert(f.exists(), "merged sidecar must be healed in place")
    val survivors = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 5L), s"got $survivors")
  }

  test("a corrupt sidecar is quarantined and healed, not a permanent wedge") {
    val out = tmp("cor-out") + "/out"
    val idx = tmp("cor-idx") + "/index"
    def batchOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamPipeline.dedupIndexBatch(
      batchOf((1L, "alpha body")), 0L, "doc_id", "text", out, idx,
      maxIndexDirs = Int.MaxValue)
    // torn write: garbage bytes where the serialized filter belongs —
    // pre-fix, BloomFilter.readFrom threw on EVERY subsequent batch
    val bloomFile = new java.io.File(s"$idx/batch=0/_bloom")
    assert(bloomFile.exists())
    java.nio.file.Files.write(bloomFile.toPath,
      Array[Byte](1, 2, 3, 4, 5, 6, 7))
    StreamPipeline.dedupIndexBatch(
      batchOf((2L, "alpha body"), (3L, "beta body")), 1L, "doc_id", "text",
      out, idx, maxIndexDirs = Int.MaxValue)
    val survivors = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L), s"got $survivors")
    // healed: the sidecar parses again
    assert(IndexState.saturation(
      java.nio.file.Files.readAllBytes(bloomFile.toPath)) >= 0.0)
    // a deflated sidecar cut short (its GZIP trailer lost): the GZIP
    // trailer check must catch it, so drop the local fs's .crc sidecar
    // (object stores have no such layer). Batch 1 compacted, so the
    // live sidecar is the merged dir's.
    val live = IndexState.committedData(spark, idx)
    assert(live.size == 1, s"fixture expects one merged dir: $live")
    val merged = new java.io.File(new java.net.URI(live.head).getPath, "_bloom")
    val healed = java.nio.file.Files.readAllBytes(merged.toPath)
    java.nio.file.Files.write(merged.toPath, healed.take(healed.length - 4))
    new java.io.File(merged.getParentFile, "._bloom.crc").delete()
    StreamPipeline.dedupIndexBatch(
      batchOf((4L, "alpha body"), (5L, "gamma body")), 2L, "doc_id", "text",
      out, idx, maxIndexDirs = Int.MaxValue)
    val after = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(after == Set(1L, 3L, 5L), s"got $after")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(merged.toPath), healed),
      "the truncated sidecar must be quarantined and healed to the same bytes")
  }

  test("deflated sidecar: a 2,000-doc batch stays under 64 KiB; the fold and saturation keep the dense filter") {
    val out = tmp("gz-out") + "/out"
    val idx = tmp("gz-idx") + "/index"
    StreamPipeline.dedupIndexBatch(
      (0L until 2000L).map(i => (i, s"deflate body number $i")).toDF("doc_id", "text"),
      0L, "doc_id", "text", out, idx)
    // the dense form at the default geometry is 1,048,592 bytes
    val bloomFile = new java.io.File(s"$idx/batch=0/_bloom")
    assert(bloomFile.length() < 64 * 1024, s"sidecar is ${bloomFile.length()} B")
    val folded = IndexState.currentBloom(spark, idx, IndexState.dedupLayout,
      StreamPipeline.IndexBloomItems, StreamPipeline.IndexBloomBits).get
    assert(folded.length == 1048592, s"the fold hands back dense bytes: ${folded.length}")
    val raw = java.nio.file.Files.readAllBytes(bloomFile.toPath)
    assert(IndexState.saturation(raw) == IndexState.lastSaturation(idx).get)
    assert(IndexState.saturation(raw) == IndexState.saturation(folded))
  }

  test("a dense sidecar from before the deflated layout folds as-is, with no heal, like its deflated form") {
    val base = tmp("dense") + "/state"
    val elems = IndexState.Layout("h BIGINT", Seq(xxhash64(col("h").cast("string"))))
    IndexState.append((1L to 100L).toDF("h"), 0L, base, elems, 1000L, 1L << 16)
    IndexState.append((101L to 200L).toDF("h"), 1L, base, elems, 1000L, 1L << 16)
    val bloomFile = new java.io.File(s"$base/batch=0/_bloom")
    val deflated = java.nio.file.Files.readAllBytes(bloomFile.toPath)
    assert(deflated(0) == 0x1f.toByte && deflated(1) == 0x8b.toByte,
      "sidecars are written as GZIP")
    val allDeflated = IndexState.currentBloom(spark, base, elems, 1000L, 1L << 16).get
    // rewrite batch 0's sidecar the way it was written before: the
    // dense BloomFilter.writeTo bytes, through the hadoop fs (fresh .crc)
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(deflated)))
    val path = new org.apache.hadoop.fs.Path(bloomFile.toURI)
    val os = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
    try bf.writeTo(os) finally os.close()
    val dense = java.nio.file.Files.readAllBytes(bloomFile.toPath)
    assert(dense(0) == 0 && dense.length > deflated.length, "fixture expects the dense form")
    assert(IndexState.saturation(dense) == IndexState.saturation(deflated))
    val mixed = IndexState.currentBloom(spark, base, elems, 1000L, 1L << 16).get
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(bloomFile.toPath), dense),
      "a dense sidecar must fold as-is, not be quarantined or healed")
    assert(java.util.Arrays.equals(mixed, allDeflated),
      "a mixed dense + deflated fold must equal the all-deflated fold")
    def probe(bloom: Array[Byte]) = (1L to 400L).toDF("v")
      .select(IndexState.mightContain(bloom, xxhash64(col("v").cast("string"))))
      .collect().map(_.getBoolean(0)).toSeq
    val hits = probe(mixed)
    assert(hits == probe(allDeflated))
    assert(hits.take(200).forall(identity), "no false negatives in the mixed fold")
  }

  test("geometry re-size mid-stream: incompatible sidecars migrate on the next fold") {
    val base = tmp("geo") + "/state"
    val elems = IndexState.Layout("h BIGINT", Seq(xxhash64(col("h").cast("string"))))
    IndexState.append((1L to 50L).toDF("h"), 0L, base, elems, 1000L, 1L << 16)
    IndexState.append((51L to 100L).toDF("h"), 1L, base, elems, 1000L, 1L << 16)
    // the caller re-sizes after a saturation warning; at-rest sidecars
    // still carry the old geometry. Force the mixed-geometry state a
    // live stream would hit: one dir already healed at the NEW geometry
    assert(new java.io.File(s"$base/batch=0/_bloom").delete())
    val folded = IndexState.currentBloom(spark, base, elems, 4000L, 1L << 18)
    assert(folded.isDefined, "migration must produce a folded filter, not throw")
    val probed = (1L to 100L).toDF("v")
      .select(IndexState.mightContain(folded.get, xxhash64(col("v").cast("string"))).as("hit"))
      .collect().forall(_.getBoolean(0))
    assert(probed, "no false negatives across the migrated fold")
  }

  test("split twin: outputs invariant under a hostile compaction schedule; poisoning survives") {
    import graft.functions.{TextFunctions => T}
    def toks = (0 until 40).map(i => s"ixw$i")
    val z = toks.mkString(" ")
    val a = toks.updated(5, "ixa5").mkString(" ")
    val b = toks.updated(30, "ixb30").mkString(" ")
    def run(maxDirs: Int): (Map[Long, String], Long) = {
      val out = tmp(s"spl-$maxDirs") + "/out"
      val idx = tmp(s"spli-$maxDirs") + "/index"
      val planted = Seq((100L, a, "train"), (200L, b, "test"))
        .toDF("doc_id", "text", "side")
        .select(col("doc_id"), col("side"),
          T.shingleHashes(col("text"), 3).as("hs"))
        .withColumn("bands", T.bandHashes(T.minhashSignature(col("hs"), 32), 32, 8))
        .select("doc_id", "side", "hs", "bands")
      IdempotentSink.writeBatch(idx)(planted, 0L)
      StreamPipeline.splitIndexBatch(
        Seq((300L, z)).toDF("doc_id", "text"), 1L, "doc_id", "text", out, idx,
        maxIndexDirs = maxDirs)
      StreamPipeline.splitIndexBatch(
        Seq((400L, toks.updated(1, "ixy1").mkString(" ")),
            (500L, (0 until 40).map(i => s"fresh$i").mkString(" ")))
          .toDF("doc_id", "text"), 2L, "doc_id", "text", out, idx,
        maxIndexDirs = maxDirs)
      val got = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
      (got, IndexState.read(spark, idx,
        "doc_id BIGINT, side STRING, hs ARRAY<BIGINT>, bands ARRAY<BIGINT>")
        .select("doc_id").distinct().count())
    }
    val (eager, nEager) = run(maxDirs = 2)       // compact after every batch
    val (lazyRun, nLazy) = run(maxDirs = 10000)  // geometric schedule only
    assert(eager == lazyRun,
      s"assignments must not depend on the compaction schedule: $eager vs $lazyRun")
    assert(eager(300L) == "quarantined" && eager(400L) == "quarantined",
      s"bridge + poisoned successor: $eager")
    assert(Set("train", "test").contains(eager(500L)), s"fresh doc: $eager")
    assert(nEager == 5 && nLazy == 5, s"index rows: $nEager/$nLazy")
  }

  test("postings sidecar: compaction writes it bucket-partitioned; pruned probes are sound") {
    import graft.functions.{TextFunctions => T}
    val idx = tmp("post") + "/index"
    def docsOf(ids: Range) = ids.map { i =>
      (i.toLong, (0 until 40).map(j => s"p${i}w$j").mkString(" "), "train")
    }.toDF("doc_id", "text", "side")
      .select(col("doc_id"), col("side"),
        T.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("bands", T.bandHashes(T.minhashSignature(col("hs"), 32), 32, 8))
      .select("doc_id", "side", "hs", "bands")
    IndexState.append(docsOf(0 until 30), 0L, idx,
      IndexState.splitLayout(8), 1000L, 1L << 16)
    IndexState.append(docsOf(30 until 60), 1L, idx,
      IndexState.splitLayout(8), 1000L, 1L << 16)
    IndexState.compact(spark, idx, IndexState.splitLayout(8), 1000L, 1L << 16,
      shape = (df, files) => df
        .repartitionByRange(files, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      extraMergedWrite = (s, dir) => IndexState.writePostings(s, dir))
    val dataDirs = IndexState.committedData(spark, idx)
    assert(dataDirs.size == 1, s"expected one merged dir: $dataDirs")
    val postDir = new java.io.File(
      new java.net.URI(dataDirs.head).getPath, "_postings")
    assert(postDir.isDirectory &&
      postDir.listFiles().exists(_.getName.startsWith("bucket=")),
      s"merged dir must carry a bucket-partitioned _postings sidecar: $postDir")
    // full bucket list == the direct explode of the docs, row for row
    val docs = IndexState.read(spark, idx,
      "doc_id BIGINT, side STRING, hs ARRAY<BIGINT>, bands ARRAY<BIGINT>")
    val direct = IndexState.postingsOf(docs)
      .select("b", "k", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val all = IndexState.prunedPostings(spark, idx,
        0 until IndexState.PostingsBuckets)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == direct, s"full probe must equal the explode: ${all.size} vs ${direct.size}")
    // pruning soundness: a subset probe returns EVERY row of the keys
    // that hash into the requested buckets, and nothing else
    val subset = Seq(0, 1, 2, 3)
    val pruned = IndexState.prunedPostings(spark, idx, subset)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val bucketOf = IndexState.postingsOf(docs)
      .select(col("b"), col("k"), col("doc_id"), col("bucket"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    val want = direct.filter(t => subset.contains(bucketOf(t)))
    assert(pruned == want,
      s"bucket-pruned probe must be exact: got ${pruned.size}, want ${want.size}")
    assert(pruned.size < direct.size,
      "fixture must actually prune (subset buckets hold a strict subset)")
  }

  test("a merged dir WITHOUT _postings (pre-r19 layout) degrades to the inline explode") {
    import graft.functions.{TextFunctions => T}
    def toks = (0 until 40).map(i => s"lgw$i")
    val out = tmp("leg-out") + "/out"
    val idx = tmp("leg-idx") + "/index"
    val planted = Seq((100L, toks.updated(5, "lga5").mkString(" "), "train"))
      .toDF("doc_id", "text", "side")
      .select(col("doc_id"), col("side"),
        T.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("bands", T.bandHashes(T.minhashSignature(col("hs"), 32), 32, 8))
      .select("doc_id", "side", "hs", "bands")
    IdempotentSink.writeBatch(idx)(planted, 0L)
    // batch 1 compacts (maxDirs=2) → merged dir gains _postings; delete
    // it to simulate the pre-r19 merged layout
    StreamPipeline.splitIndexBatch(
      Seq((200L, (0 until 40).map(i => s"x$i").mkString(" ")))
        .toDF("doc_id", "text"), 1L, "doc_id", "text", out, idx,
      maxIndexDirs = 2)
    val dataDirs = IndexState.committedData(spark, idx)
    assert(dataDirs.size == 1)
    val postDir = new java.io.File(
      new java.net.URI(dataDirs.head).getPath, "_postings")
    assert(postDir.isDirectory, "fixture expects the sidecar to delete")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(postDir)
    // a near-dup of the planted doc must still adopt its side — the
    // probe explodes the sidecar-less merged dir inline
    StreamPipeline.splitIndexBatch(
      Seq((300L, toks.updated(1, "lgy1").mkString(" ")))
        .toDF("doc_id", "text"), 2L, "doc_id", "text", out, idx,
      maxIndexDirs = 10000)
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("side")).toMap
    assert(got(300L) == "train", s"legacy merged dir must still match: $got")
  }

  // the three twins' index rows, two small batches of each
  private def splitRows(ids: Range) = {
    import graft.functions.{TextFunctions => T}
    ids.map(i => (i.toLong, (0 until 40).map(j => s"g${i}w$j").mkString(" "),
        if (i % 2 == 0) "train" else "test"))
      .toDF("doc_id", "text", "side")
      .select(col("doc_id"), col("side"), T.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("bands", T.bandHashes(T.minhashSignature(col("hs"), 32), 32, 8))
      .select("doc_id", "side", "hs", "bands")
  }
  private def twinRows: Seq[(String, IndexState.Layout, Int => org.apache.spark.sql.DataFrame)] = Seq(
    ("dedup", IndexState.dedupLayout,
      b => (0 until 50).map(i => s"hash-$b-$i").toDF("t").select(md5(col("t")).as("h"))),
    ("dhash", IndexState.dhashLayout(3),
      b => (0 until 50).map(i => (b * 1000L + i) * 0x9E3779B97F4A7C15L).toDF("h")),
    ("split", IndexState.splitLayout(8), b => splitRows(b * 50 until b * 50 + 30)))

  test("declared index schemas equal the schemas Spark infers from an appended and a compacted dir") {
    // a declared read never infers, so a DDL that drifted from what the
    // twins write would read a missing column as null — each twin's
    // batch function lands the state checked here
    import org.apache.spark.sql.types.StructType
    def inferred(dir: String) = spark.read.parquet(dir).schema
    def check(tag: String, idx: String, ddl: String, run: (Long, Int) => Unit): Unit = {
      run(0L, Int.MaxValue)
      val appended = IndexState.committedData(spark, idx)
      assert(appended.size == 1 && appended.head.endsWith("batch=0"), s"$tag: $appended")
      assert(inferred(appended.head) == StructType.fromDDL(ddl), s"$tag appended")
      run(1L, 2)
      val merged = IndexState.committedData(spark, idx)
      assert(merged.size == 1 && merged.head.contains("/gen-"), s"$tag: $merged")
      assert(inferred(merged.head) == StructType.fromDDL(ddl), s"$tag compacted")
    }
    val text = (b: Long) => Seq((b * 10, s"schema body $b"), (b * 10 + 1, s"other body $b"))
      .toDF("doc_id", "text")
    val dd = tmp("sch-dedup")
    check("dedup", s"$dd/index", IndexState.dedupLayout.ddl, (b, maxDirs) =>
      StreamPipeline.dedupIndexBatch(text(b), b, "doc_id", "text", s"$dd/out",
        s"$dd/index", maxIndexDirs = maxDirs))
    val dh = tmp("sch-dhash")
    check("dhash", s"$dh/index", IndexState.dhashLayout(3).ddl, (b, maxDirs) =>
      StreamPipeline.dhashIndexBatch(graft.operators.Multimodal.synthesizeNearDupImages(
          Seq(b * 10).toDF("doc_id"), "doc_id"), b, "doc_id", s"$dh/out", s"$dh/index",
        3, maxIndexDirs = maxDirs))
    val sp = tmp("sch-split")
    check("split", s"$sp/index", IndexState.SplitDdl, (b, maxDirs) =>
      StreamPipeline.splitIndexBatch(
        Seq((b * 10, (0 until 40).map(i => s"s${b}w$i").mkString(" "))).toDF("doc_id", "text"),
        b, "doc_id", "text", s"$sp/out", s"$sp/index", maxIndexDirs = maxDirs))
    val postings = IndexState.committedData(spark, s"$sp/index").head + "/_postings"
    assert(inferred(postings) == StructType.fromDDL(IndexState.PostingsDdl),
      "split _postings")
  }

  test("an observed sidecar equals healBloom's rebuild of the same dir, byte for byte") {
    val (items, bits) = (1000L, 1L << 16)
    def dense(dir: String) = {
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(
        new java.io.File(new java.net.URI(dir).getPath, "_bloom")))
      try in.readAllBytes() finally in.close()
    }
    // which path built a sidecar: healBloom's aggregate is the one
    // `head` action in IndexState, and an observed sidecar runs none
    def heals(jobs: Seq[String]) = jobs.exists(_.contains("head at IndexState.scala"))
    for ((tag, layout, rows) <- twinRows) {
      val base = tmp(s"obs-$tag") + "/state"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def healed(dir: String) = IndexState.healBloom(spark, fs,
        new org.apache.hadoop.fs.Path(dir), layout, items, bits)
      def sameBytes(dir: String, what: String): Array[Byte] = {
        val observed = dense(dir)
        assert(java.util.Arrays.equals(observed, healed(dir)), s"$tag $what")
        observed
      }
      def append(df: org.apache.spark.sql.DataFrame, id: Long, estBytes: Long = 0L) =
        withJobs(IndexState.append(df, id, base, layout, items, bits, estBytes))._2
      def observedPath(jobs: Seq[String], what: String): Unit =
        assert(!heals(jobs), s"$tag $what: the sidecar was rebuilt, not observed:\n" +
          jobs.mkString("\n"))
      // a normal batch
      observedPath(append(rows(0), 0L), "normal batch")
      val dir0 = IndexState.committedData(spark, base).head
      val normal = sameBytes(dir0, "normal batch")
      // an empty batch observes null: the empty filter
      observedPath(append(rows(1).filter(lit(false)), 1L), "empty batch")
      val dir1 = s"${new java.io.File(dir0).getParent}/batch=1"
      val empty = sameBytes(dir1, "empty batch")
      assert(IndexState.saturation(empty) == 0.0, s"$tag: empty filter")
      // a replay whose marker exists writes nothing and observes
      // nothing, yet heals a lost sidecar to the observed bytes
      val files0 = new java.io.File(new java.net.URI(dir0).getPath).list().toSet
      assert(new java.io.File(new java.net.URI(dir0).getPath, "_bloom").delete())
      assert(heals(append(rows(0), 0L)), s"$tag: the replay must heal")
      assert(java.util.Arrays.equals(dense(dir0), normal), s"$tag replay heal")
      assert(new java.io.File(new java.net.URI(dir0).getPath).list().toSet == files0,
        s"$tag: a replay must not rewrite the dir")
      // a two-file write observes nothing (one filter per task would
      // reach the driver) and builds its sidecar from the written rows
      assert(heals(append(rows(2), 2L, estBytes = 64L * 1024 * 1024)),
        s"$tag: a two-file batch must build its sidecar by aggregate")
      val dir2 = s"${new java.io.File(dir0).getParent}/batch=2"
      assert(new java.io.File(new java.net.URI(dir2).getPath).list()
        .count(_.endsWith(".parquet")) == 2, s"$tag: two files")
      sameBytes(dir2, "two-file batch")
      // a merged dir
      observedPath(withJobs(IndexState.compact(spark, base, layout, items, bits))._2,
        "merged dir")
      val merged = IndexState.committedData(spark, base)
      assert(merged.size == 1, s"$tag: $merged")
      sameBytes(merged.head, "merged dir")
    }
  }

  test("a multi-file merge sends the driver no bloom per write task") {
    // every task of an observed write sends the driver one numBits/8
    // buffer per element expression, and task results count toward
    // spark.driver.maxResultSize: observed on a merge of one task per
    // 32 MiB, that would abort compactions of a large index. Two ~45 MiB
    // split batches merge into two files; the driver may receive the
    // one filter of the aggregate that builds the merged sidecar, and
    // small task results, but not nine filters per write task
    val sc = spark.sparkContext
    val root = tmp("multi")
    val base = s"$root/state"
    val (items, bits) = (100000L, 1L << 22) // 512 KiB filters
    val layout = IndexState.splitLayout(8)
    def rows(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id").as("doc_id"), lit("train").as("side"),
      transform(sequence(lit(0), lit(31)), j => xxhash64(col("id"), j)).as("hs"),
      transform(sequence(lit(0), lit(7)), j => xxhash64(j, col("id"))).as("bands"))
    try {
      IndexState.append(rows(0L, 140000L), 0L, base, layout, items, bits)
      IndexState.append(rows(140000L, 140000L), 1L, base, layout, items, bits)
      val bytes = IndexState.committedData(spark, base)
        .map(IndexState.dataBytes(spark, _)).sum
      assert(IndexState.sizedFileCount(bytes) >= 2, s"only $bytes B of data")
      // the serialized task results of the compaction's jobs: the bytes
      // maxResultSize limits
      val group = s"multi-${java.util.UUID.randomUUID()}"
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val resultBytes = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            e.stageIds.foreach(stages.add)
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId) && e.taskMetrics != null)
            resultBytes.addAndGet(e.taskMetrics.resultSize)
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, null, interruptOnCancel = false)
      try {
        IndexState.compact(spark, base, layout, items, bits,
          shape = (df, files) => df.repartitionByRange(files, col("doc_id"))
            .sortWithinPartitions(col("doc_id")))
        org.apache.spark.ListenerDrain(sc)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      val merged = IndexState.committedData(spark, base)
      assert(merged.size == 1, s"$merged")
      val files = new java.io.File(new java.net.URI(merged.head).getPath).list()
        .count(_.endsWith(".parquet"))
      assert(files >= 2, s"the merge wrote $files file(s)")
      assert(resultBytes.get < 2 * bits / 8, s"the compaction sent the driver " +
        s"${resultBytes.get} B of task results for a ${bits / 8} B filter")
      // the merged sidecar still gates every doc
      val bloom = IndexState.currentBloom(spark, base, layout, items, bits).get
      assert(spark.range(0L, 280000L, 97L)
        .filter(!IndexState.mightContain(bloom, xxhash64(lit(-1), col("id"))))
        .isEmpty, "a merged doc id must probe positive")
    } finally {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
  }

  test("compacted-id manifest: v1 sentinel detects truncation; legacy header-less accepted") {
    val dir = new org.apache.hadoop.fs.Path(tmp("man") + "/gen")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    IdempotentSink.writeCompactedRanges(fs, dir, Seq((0L, 5L), (9L, 12L)))
    assert(IdempotentSink.compactedRanges(fs, dir) == Seq((0L, 5L), (9L, 12L)))
    val manifest = new java.io.File(new java.net.URI(
      new org.apache.hadoop.fs.Path(dir, "_COMPACTED").toString).getPath)
    val lines = new String(
      java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8").split("\n")
    assert(lines.head.startsWith("v1 "), s"header: ${lines.head}")
    // the local fs keeps its own .crc sidecar; drop it so the test
    // exercises THE MANIFEST's sentinel, not hadoop's checksum layer
    // (object stores have no such layer — the sentinel is the defense)
    def rewrite(text: String): Unit = {
      java.nio.file.Files.write(manifest.toPath, text.getBytes("UTF-8"))
      new java.io.File(manifest.getParentFile, "._COMPACTED.crc").delete()
    }
    // truncation that stays PARSEABLE (the ADVICE r18 threat: the lost
    // tail silently un-covers ids) — must fail stop, not skip
    rewrite(lines.head + "\n" + lines(1))
    val e = intercept[IllegalStateException] {
      IdempotentSink.compactedRanges(fs, dir)
    }
    assert(e.getMessage.contains("integrity"), e.getMessage)
    // a pre-r19 header-less manifest still reads (accepted with a WARN)
    rewrite("0-5\n9-12")
    assert(IdempotentSink.compactedRanges(fs, dir) == Seq((0L, 5L), (9L, 12L)))
  }
}

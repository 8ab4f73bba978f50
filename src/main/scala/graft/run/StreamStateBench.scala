package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-batch cost of the streaming index twins as the landed corpus
  * grows (the r16 weak item's "done" criterion: probe time FLAT in
  * batch count). Drives N micro-batches through the foreachBatch
  * bodies directly, and prints ONE JSON line with per-batch wall times
  * plus a head/tail summary.
  *
  * Batches are FRESH documents by default — the common production
  * case, and the zero-positive fast path's best case. `dupPct` > 0
  * makes that share of each batch replicate content from the PREVIOUS
  * batch's fresh docs, so the bloom-positive branch (the one remaining
  * corpus-proportional term, paid per duplicate-bearing batch) is
  * measured instead of argued (VERDICT r17 item 5): every batch then
  * has real positives, the fast path never fires, and the anti-join
  * against the committed index runs every batch.
  *
  * Modes:
  *  - `dedup`  — [[graft.streaming.StreamPipeline.dedupIndexBatch]]
  *    (sidecar-folded bloom, zero-positive fast path, generation
  *    compaction);
  *  - `split`  — [[graft.streaming.StreamPipeline.splitIndexBatch]]
  *    (same, both probe domains);
  *  - `legacy` — the r16 shape, inlined here as the measured baseline:
  *    full committed-index read + per-batch BloomFilterAggregate
  *    rebuild, flat batch=N layout with no sidecars or compaction.
  *
  * Optional [bloomItems] [bloomBits] override the index-sidecar bloom
  * geometry — an UNDERSIZED pair demos the saturation WARN + the
  * per-batch `fpp` climb (VERDICT r18 items 4/6); the per-batch rows
  * carry `fpp` (the folded filter's expected FP rate via
  * [[graft.streaming.IndexState.lastSaturation]]) so the metric is an
  * exported number, not just a grep-able WARN.
  *
  * Usage: runMain graft.run.StreamStateBench [mode] [nBatches] [docsPerBatch] [dupPct] [bloomItems] [bloomBits]
  */
object StreamStateBench {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "dedup"
    val nBatches = if (args.length > 1) args(1).toInt else 50
    val perBatch = if (args.length > 2) args(2).toInt else 2000
    val dupPct = if (args.length > 3) args(3).toInt else 0
    val bloomItems = if (args.length > 4) args(4).toLong
      else graft.streaming.StreamPipeline.IndexBloomItems
    val bloomBits = if (args.length > 5) args(5).toLong
      else graft.streaming.StreamPipeline.IndexBloomBits
    require(nBatches >= 1, s"need nBatches >= 1, got $nBatches")
    require(dupPct >= 0 && dupPct <= 50, s"dupPct must be 0..50, got $dupPct")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.build(graft.Session.measured(cpus, "1min"))
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("graft-ssb").toString
    val out = s"$root/out"
    val idx = s"$root/index"
    // every token carries a CONTENT id: position i >= nDup in batch b
    // is fresh forever (content id = b*perBatch + i, unique); position
    // i < nDup replicates the content of the previous batch's fresh
    // position nDup + (i mod (perBatch - nDup)) — an exact duplicate
    // of an INDEXED doc, so it is bloom-positive and must be dropped
    // by the index anti-join. doc_ids stay globally unique.
    def docsFor(b: Int): DataFrame = {
      val base = b.toLong * perBatch
      val nDup = perBatch * dupPct / 100
      val cid =
        if (b == 0 || nDup == 0) col("id") + lit(base)
        else when(col("id") < nDup,
            lit(base - perBatch + nDup) + pmod(col("id"), lit(perBatch - nDup)))
          .otherwise(col("id") + lit(base))
      val toks = (0 until 24).map(j => concat(lit(s"w${j}x"), cid.cast("string")))
      spark.range(perBatch).select((col("id") + lit(base)).as("doc_id"),
        concat_ws(" ", toks: _*).as("text"))
    }
    val rows = (0 until nBatches).map { b =>
      val docs = docsFor(b)
      val gc0 = graft.Bench.gcMs
      val t0 = System.nanoTime()
      mode match {
        case "dedup" =>
          graft.streaming.StreamPipeline.dedupIndexBatch(
            docs, b.toLong, "doc_id", "text", out, idx,
            bloomItems = bloomItems, bloomBits = bloomBits)
        case "split" =>
          graft.streaming.StreamPipeline.splitIndexBatch(
            docs, b.toLong, "doc_id", "text", out, idx,
            bloomItems = bloomItems, bloomBits = bloomBits)
        case "legacy" =>
          val index = graft.streaming.IndexState.read(spark, idx, "h STRING")
          val survivors = graft.operators.Dedup.dedupIncremental(
            docs, "doc_id", "text", index, "h")
          graft.streaming.IdempotentSink.writeBatch(out)(survivors, b.toLong)
          graft.streaming.IdempotentSink.writeBatch(idx)(
            survivors.select(col("content_hash").as("h")), b.toLong)
        case other => sys.error(s"unknown mode $other")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val dirs = graft.streaming.IndexState.committedData(spark, idx).size
      // exported saturation metric (VERDICT r18 item 6): the expected FP
      // rate of the batch's folded filter — -1 before the first fold
      val fpp = graft.streaming.IndexState.lastSaturation(idx).getOrElse(-1.0)
      // per-batch phase attribution from the twin's own clocks (VERDICT
      // r19 items 2/6): rides in the artifact rows so the next residual
      // is attributable without re-instrumenting; empty for legacy mode
      val phases = graft.streaming.StreamPipeline.lastPhases(idx)
        .getOrElse(Nil)
      // JVM-state counters for session-age drift attribution (r20: the
      // split long run showed batch-LOCAL phases inflating ~3.6x over
      // 500 batches — these separate leaked-persist / class-load /
      // heap-growth hypotheses from the artifact alone)
      val rdds = spark.sparkContext.getPersistentRDDs.size
      val classes = java.lang.management.ManagementFactory
        .getClassLoadingMXBean.getLoadedClassCount
      val heapMb = (java.lang.Runtime.getRuntime.totalMemory() -
        java.lang.Runtime.getRuntime.freeMemory()) / (1024 * 1024)
      // pinned per-batch driver sentinel: a FIXED tiny action whose
      // plan never changes — if ITS wall time drifts with session age,
      // the drift is generic per-job driver/JVM overhead; if it stays
      // flat while batch phases inflate, the drift is specific to the
      // twin's growing plan/state
      val s0 = System.nanoTime()
      spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
      val sentMs = (System.nanoTime() - s0) / 1000000
      // pinned COMPUTE sentinel (r20: the tiny sentinel above stayed
      // flat through a drift that inflated every compute-heavy phase —
      // its compute share is too small to see a compute-RATE regime;
      // this one is ~1 s of pure codegen'd hashing on a fixed cached
      // plan, so host/JVM compute-rate drift moves it proportionally
      // while twin-specific state growth does not)
      val c0 = System.nanoTime()
      spark.range(0, 4000000, 1, 8)
        .selectExpr("max(xxhash64(id, id+1, id+2))").collect()
      val cmpMs = (System.nanoTime() - c0) / 1000000
      (b, sec, dirs, fpp, graft.Bench.gcMs - gc0, phases, rdds, classes, heapMb,
        sentMs, cmpMs)
    }
    def mean(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    def orNull(x: Double): String = if (x.isNaN) "null" else f"$x%.4f"
    // ADAPTIVE slices (ADVICE r18: a 5-batch smoke run must degrade,
    // not hard-fail): head skips up to two warmup batches and takes up
    // to 5; tail is the last up-to-5 after the head; mid is the up-to-5
    // around the midpoint (the plateau comparator — tail corpus is
    // ~1.6x mid corpus at 50 batches, the r18 verdict's ratio). Slices
    // too short to be meaningful emit null summaries.
    val secs = rows.map(_._2)
    val head = if (nBatches >= 12) mean(secs.slice(2, 7))
      else if (nBatches >= 3) mean(secs.slice(1, math.min(6, nBatches - 1)))
      else Double.NaN
    val tail = if (nBatches >= 12) mean(secs.takeRight(5))
      else if (nBatches >= 3) mean(secs.takeRight(1)) else Double.NaN
    val mid = if (nBatches >= 20)
      mean(secs.slice(nBatches / 2 - 2, nBatches / 2 + 3)) else Double.NaN
    val ratio = tail / head
    val plateau = tail / mid
    val batchesJson = rows.map {
      case (b, s, d, f, g, ph, rd, cl, hp, sm, cm) =>
        val phJson = ph.map { case (n, v) => f""""$n":$v%.4f""" }
          .mkString("{", ",", "}")
        f"""{"b":$b,"sec":$s%.4f,"dirs":$d,"fpp":$f%.4f,"gc_ms":$g,""" +
          s""""phases":$phJson,"rdds":$rd,"classes":$cl,"heap_mb":$hp,""" +
          s""""sent_ms":$sm,"cmp_ms":$cm}"""
    }.mkString("[", ",", "]")
    println(
      f"""{"metric":"stream_state","mode":"$mode","n_batches":$nBatches,""" +
      f""""docs_per_batch":$perBatch,"dup_pct":$dupPct,""" +
      s""""bloom_items":$bloomItems,"bloom_bits":$bloomBits,""" +
      s""""head_mean_sec":${orNull(head)},""" +
      s""""tail_mean_sec":${orNull(tail)},""" +
      s""""mid_mean_sec":${orNull(mid)},""" +
      s""""tail_over_head":${orNull(ratio)},""" +
      s""""tail_over_mid":${orNull(plateau)},""" +
      s""""batches":$batchesJson}""")
    spark.stop()
  }
}

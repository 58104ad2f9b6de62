package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingOps

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Drives the Structured Streaming path end-to-end with a MemoryStream:
  * micro-batches → stateful window aggs → memory sink (SURVEY §2.10). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def mkStream(rows: Seq[Ev]): (MemoryStream[Ev], org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows: _*)
    (ms, ms.toDF())
  }

  private val batch1 = Seq(
    Ev(1, ts("2024-01-01 00:01:00"), 1, "click", 1.0),
    Ev(2, ts("2024-01-01 00:02:00"), 1, "click", 2.0),
    Ev(3, ts("2024-01-01 00:07:00"), 2, "view", 4.0),
    Ev(4, ts("2024-01-01 00:11:00"), 2, "click", 8.0),
  )

  test("KQL text plans directly onto a streaming source (Kql.runStream)") {
    val (_, df) = mkStream(batch1)
    val out = graft.kql.Kql.runStream(spark,
      "src | where value > 1.0 | extend v2 = value * 2 | summarize n = count(), s = sum(v2) by event_type",
      TestSpark.sfDir, Map("src" -> df))
    assert(out.isStreaming)
    val sunk = StreamingOps.runToMemory(spark, out, "t_kql", "complete")
    val got = sunk.orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("click", 2L, 20.0), ("view", 1L, 8.0)))
  }

  test("stateless pipeline ops run on streams: hash_split via evaluate") {
    val (_, df) = mkStream(batch1)
    // hashSplit is a pure per-row projection, so the KQL surface plans
    // it straight onto a stream with no state
    val out = graft.kql.Kql.runStream(spark,
      "src | evaluate hash_split(0.5, 0.25, event_id) | summarize n = count() by split",
      TestSpark.sfDir, Map("src" -> df))
    assert(out.isStreaming)
    val sunk = StreamingOps.runToMemory(spark, out, "t_split", "complete")
    val got = sunk.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == batch1.length)
    // batch parity: the same op over the same rows as a static frame
    import spark.implicits._
    val batchGot = graft.ext.LlmOps.hashSplit(batch1.toDF(), 0.5, 0.25, "event_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == batchGot)
  }

  test("stateless r13 ops run on streams: sft_pack + rouge_n via evaluate") {
    import spark.implicits._
    val rows = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "x y"))
    val docsB = rows.toDF("doc_id", "text")
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    ms.addData(rows: _*)
    val sdf = ms.toDF().toDF("doc_id", "text")
    val sft = graft.kql.Kql.runStream(spark,
      "src | evaluate sft_pack(text, doc_id)", TestSpark.sfDir,
      Map("src" -> sdf))
    assert(sft.isStreaming)
    val sunk = StreamingOps.runToMemory(spark, sft, "t_sft", "append")
      .orderBy("doc_id").collect().map(_.toSeq)
    val batch = graft.ext.LlmOps.sftPack(docsB)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(sunk.toSeq == batch.toSeq)
    val rn = graft.kql.Kql.runStream(spark,
      "src | extend r = text, c = text | evaluate rouge_n(r, c, doc_id)",
      TestSpark.sfDir, Map("src" -> sdf))
    assert(rn.isStreaming)
    val sunkR = StreamingOps.runToMemory(spark, rn, "t_rn", "append")
      .orderBy("doc_id").collect()
    assert(sunkR.forall(_.getAs[Long]("recall_1_u") == 1000000L))
  }

  test("stateless r5 text ops run on streams: text_normalize + chunk via evaluate") {
    import spark.implicits._
    val docsB = Seq((1L, "hello  world from  stream"), (2L, "a b c d e")).toDF("doc_id", "text")
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    ms.addData(Seq((1L, "hello  world from  stream"), (2L, "a b c d e")): _*)
    val sdf = ms.toDF().toDF("doc_id", "text")
    val norm = graft.kql.Kql.runStream(spark,
      "src | evaluate text_normalize(text, doc_id)", TestSpark.sfDir,
      Map("src" -> sdf))
    assert(norm.isStreaming)
    val sunkN = StreamingOps.runToMemory(spark, norm, "t_norm", "append")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val batchN = graft.ext.LlmOps.textNormalize(docsB)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sunkN.toSeq == batchN.toSeq)
    val chunk = graft.kql.Kql.runStream(spark,
      "src | evaluate chunk(3, 1, text, doc_id)", TestSpark.sfDir,
      Map("src" -> sdf))
    assert(chunk.isStreaming)
    val sunkC = StreamingOps.runToMemory(spark, chunk, "t_chunk", "append")
    assert(sunkC.count() ==
      graft.ext.LlmOps.chunkDocs(docsB, 3, 1).count())
  }

  test("tdigest sketch aggregates over a stream in complete mode") {
    val (_, df) = mkStream(batch1)
    // UDAF-backed sketches run inside a streaming aggregation like any
    // agg; the extracted median must match the batch digest's
    val out = graft.kql.Kql.runStream(spark,
      "src | summarize td = tdigest(value) by event_type | project event_type, p50 = percentile_tdigest(td, 50)",
      TestSpark.sfDir, Map("src" -> df))
    assert(out.isStreaming)
    val got = StreamingOps.runToMemory(spark, out, "t_td", "complete")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    import spark.implicits._
    val batchGot = graft.kql.Kql.run(spark,
      "src | summarize td = tdigest(value) by event_type | project event_type, p50 = percentile_tdigest(td, 50)",
      graft.kql.Catalog(spark, TestSpark.sfDir)
        .withTable("src", batch1.toDF()))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == batchGot)
  }

  test("KQL streaming join against a static catalog table") {
    val (_, df) = mkStream(batch1)
    // nation is a static parquet table from the fixture catalog: the
    // stream-static join stays streaming
    val out = graft.kql.Kql.runStream(spark,
      "src | extend n_nationkey = user_id | join kind=inner (nation) on n_nationkey | summarize n = count() by n_name",
      TestSpark.sfDir, Map("src" -> df))
    assert(out.isStreaming)
    val sunk = StreamingOps.runToMemory(spark, out, "t_kql_join", "complete")
    assert(sunk.count() == 2) // two distinct user_ids → two nations
  }

  test("tumbling window agg over a stream matches the batch plan") {
    val (_, df) = mkStream(batch1)
    // complete mode: a single AvailableNow batch emits every window
    // (append would hold windows open until a later batch advances the
    // watermark)
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.tumblingAgg(df, "5 minutes", "10 minutes"),
      "t_tumble", "complete")
    val batch = StreamingOps.tumblingAgg(spark.createDataFrame(batch1), "5 minutes", "10 minutes")
    val streamed = out.orderBy("ts", "event_type").collect().map(_.toSeq).toSeq
    val batched = batch.orderBy("ts", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batched)
  }

  test("sliding windows overlap: each event lands in window/slide buckets") {
    val (_, df) = mkStream(batch1)
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.slidingAvg(df, "10 minutes", "5 minutes", "10 minutes"),
      "t_slide", "complete")
    val batch = StreamingOps.slidingAvg(spark.createDataFrame(batch1), "10 minutes", "5 minutes", "10 minutes")
    val streamed = out.orderBy("ts").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch.orderBy("ts").collect().map(_.toSeq).toSeq)
    // a 10m window sliding by 5m covers each instant twice
    assert(out.count() >= 2) // overlapping windows emitted
  }

  test("session windows split on gap") {
    val (_, df) = mkStream(batch1)
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.sessionAgg(df, "3 minutes", "20 minutes"),
      "t_sess", "complete")
    val rows = out.orderBy("user_id", "sess_start").collect()
    // user 1: events at 00:01/00:02 → one session of 2; user 2: 00:07 and
    // 00:11 are > 3m apart → two sessions of 1
    val byUser = rows.groupBy(_.getLong(rows.head.fieldIndex("user_id")))
    assert(byUser(1L).length == 1 && byUser(1L).head.getLong(rows.head.fieldIndex("n_events")) == 2)
    assert(byUser(2L).length == 2)
  }

  test("streaming dedup drops repeated ids within the watermark") {
    val dup = batch1 ++ Seq(Ev(1, ts("2024-01-01 00:01:30"), 1, "click", 1.0))
    val (_, df) = mkStream(dup)
    val out = StreamingOps.runToMemory(spark,
      StreamingOps.dedupStream(df, "event_id", "10 minutes"),
      "t_dedup", "append")
    assert(out.count() == 4) // 5 in, 1 duplicate id dropped
  }

  test("watermark dedup row: cross-batch drops AND post-eviction re-emits both occur") {
    // the driver row's two proofs must be non-vacuous on the fixture:
    // zero 'b2' rows (batch-2 duplicates dropped on batch-1 state) and
    // >0 'b3' rows (re-sends emitted only because the watermark evicted
    // their keys) — plus the dup/re-send sets are non-empty going in
    val out = graft.SparkEntry.streamDedupWmQuery(spark, TestSpark.sfDir)
      .collect()
    val srcs = out.map(_.getAs[String]("src"))
    assert(!srcs.contains("b2"), "a batch-2 duplicate leaked through state")
    val nB3 = srcs.count(_ == "b3")
    assert(nB3 > 0, "no post-eviction re-emits — watermark eviction vacuous")
    assert(srcs.count(_ == "b1") > nB3, "batch-1 emission set vacuous")
  }

  test("batch/stream parity: same builder runs on a static frame") {
    val staticDf = spark.createDataFrame(batch1)
    val agg = StreamingOps.tumblingAgg(staticDf, "5 minutes", "10 minutes")
      .orderBy("ts", "event_type").collect()
    assert(agg.map(_.getLong(2)).sum == 4) // all events counted
  }

  test("streaming scan: per-key state machine persists across micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val batch2 = Seq(
      Ev(5, ts("2024-01-01 00:03:00"), 1, "click", 4.0),
      Ev(6, ts("2024-01-01 00:12:00"), 2, "view", 16.0),
      Ev(7, ts("2024-01-01 00:04:00"), 3, "view", 32.0),
    )
    val q =
      """src
        | partition by user_id (sort by ts asc, event_id asc
          | scan declare (rs:real=0.0) with (step s: true => rs = rs + value))
        | project user_id, event_id, rs"""
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Ev]
    val out = graft.kql.Kql.runStream(spark, q, TestSpark.sfDir, Map("src" -> ms.toDF()))
    assert(out.isStreaming)
    // file sink + checkpoint: the memory sink cannot recover from a
    // checkpoint, and recovery is exactly what carries the per-key scan
    // state from batch 1 into batch 2
    val ckpt = java.nio.file.Files.createTempDirectory("scan_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("scan_out").toString
    def drain(): Unit = {
      val sq = out.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    ms.addData(batch1: _*)
    drain()
    ms.addData(batch2: _*)
    drain() // same checkpoint → state carries over
    val streamed = spark.read.parquet(outDir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    // user 1's running sum CONTINUES from batch1's state (1+2 → +4 = 7);
    // the batch run over the concatenated input is the reference
    val batchOut = graft.kql.Kql.runStream(spark, q, TestSpark.sfDir,
      Map("src" -> spark.createDataFrame(batch1 ++ batch2)))
    assert(!batchOut.isStreaming)
    val batched = batchOut.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(streamed == batched)
    assert(streamed.contains((1L, 5L, 7.0))) // the cross-batch continuation
  }

  test("streaming incremental LINE dedup: cross-batch first-occurrence via the line index") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val src = ms.toDF().toDF("doc_id", "text")
    graft.ext.LlmOps.buildLineIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "graft_line_idx", delim = " ")
    spark.sql("DROP TABLE IF EXISTS graft_line_kept")
    val staleLoc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_line_kept")
    staleLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(staleLoc, true)
    // ' ' delimiter: every token is a "line" on this fixture-style text
    val q = graft.streaming.StreamingOps.lineDedupIncrementalStream(
      src, "graft_line_idx", "graft_line_kept", delim = " ")
    try {
      def kept = {
        spark.catalog.refreshTable("graft_line_kept")
        spark.table("graft_line_kept")
          .select("doc_id", "clean_text").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      // batch 1: 'beta' repeats within the batch — only doc 1 keeps it
      ms.addData((1L, "alpha beta"), (2L, "beta gamma"))
      q.processAllAvailable()
      assert(kept == Map(1L -> "alpha beta", 2L -> "gamma"))
      // batch 2: everything but 'delta' is already indexed cross-batch
      ms.addData((3L, "alpha gamma delta"))
      q.processAllAvailable()
      assert(kept(3L) == "delta")
      // the index holds exactly the 4 distinct line hashes
      spark.catalog.refreshTable("graft_line_idx_lines")
      assert(spark.table("graft_line_idx_lines").distinct().count() == 4L)
      // KQL-reachable against the same grown index: every line of a
      // doc repeating indexed tokens drops
      val kql = graft.kql.Kql.run(spark,
        "src | evaluate line_dedup_incremental('graft_line_idx', ' ', text, doc_id)",
        graft.kql.Catalog(spark, TestSpark.sfDir)
          .withTable("src", Seq((9L, "alpha delta")).toDF("doc_id", "text")))
      assert(kql.head.getString(3) == "")
    } finally q.stop()
  }

  test("streaming incremental dedup: index-backed cross-batch near-dup drops") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val src = ms.toDF().toDF("doc_id", "text")
    // seed: an EMPTY corpus index — the stream builds it up as it keeps
    graft.ext.LlmOps.buildMinhashIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "graft_stream_idx")
    spark.sql("DROP TABLE IF EXISTS graft_stream_kept")
    // a stale managed-table LOCATION from a prior JVM outlives the
    // in-memory catalog (same trap BucketedLayout.writeBucketed clears)
    val staleLoc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_stream_kept")
    staleLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(staleLoc, true)
    val q = graft.streaming.StreamingOps.dedupIncrementalStream(
      src, "graft_stream_idx", "graft_stream_kept")
    try {
      // batch 1: one in-batch exact dup (id 3 repeats id 1's text)
      ms.addData((1L, "alpha beta gamma delta"), (2L, "totally different words here"),
        (3L, "alpha beta gamma delta"))
      q.processAllAvailable()
      // appends run inside foreachBatch's session CLONE — refresh the
      // outer session's cached file listing before reading
      def keptIds = {
        spark.catalog.refreshTable("graft_stream_kept")
        spark.table("graft_stream_kept")
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      assert(keptIds == Set(1L, 2L))
      // batch 2: id 4 near-dups the INDEXED id 1 (cross-batch, via the
      // appended index — no streaming state involved); id 5 is fresh
      ms.addData((4L, "alpha beta gamma delta"), (5L, "fresh new unique content"))
      q.processAllAvailable()
      assert(keptIds == Set(1L, 2L, 5L))
      // the index grew by exactly the kept docs: 3 docs × 4 bands
      spark.catalog.refreshTable("graft_stream_idx_bands")
      spark.catalog.refreshTable("graft_stream_idx_toks")
      assert(spark.table("graft_stream_idx_bands").count() == 12L)
      assert(spark.table("graft_stream_idx_toks").select("id")
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("streaming incremental EMBEDDING dedup: index-backed cross-batch drops + replay") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def cleanTable(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    cleanTable("graft_cosstream_kept")
    graft.ext.LlmOps.buildCosineIndex(
      Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"),
      "graft_cosstream_idx", threshold = 0.8)
    val v1 = Seq(1.0, 0.0, 0.0, 0.1)
    val v2 = Seq(0.0, 1.0, 0.0, 0.0)
    val v3 = Seq(0.0, 0.0, 1.0, 0.0)
    val ms = MemoryStream[(Long, Seq[Double])]
    val src = ms.toDF().toDF("vec_id", "embedding")
    val q = graft.streaming.StreamingOps.dedupCosineIncrementalStream(
      src, "graft_cosstream_idx", "graft_cosstream_kept")
    try {
      def keptIds = {
        spark.catalog.refreshTable("graft_cosstream_kept")
        spark.table("graft_cosstream_kept")
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }
      // batch 1: 2 duplicates v1 (in-batch, min id keeps) + orthogonal v2
      ms.addData((1L, v1), (2L, v1), (3L, v2))
      q.processAllAvailable()
      assert(keptIds == Set(1L, 3L))
      // batch 2: v1 again (cross-batch drop via the grown index) + fresh v3
      ms.addData((4L, v1), (5L, v3))
      q.processAllAvailable()
      assert(keptIds == Set(1L, 3L, 5L))
    } finally q.stop()
    // replay after the index append: recompute would self-match id 5 —
    // the committed-partition guard must preserve the output instead
    val replay = Seq((4L, v1), (5L, v3)).toDF("vec_id", "embedding")
    graft.streaming.StreamingOps.processCosineBatch(replay, 1L,
      "graft_cosstream_idx", "graft_cosstream_kept", "vec_id", "embedding")
    spark.catalog.refreshTable("graft_cosstream_kept")
    assert(spark.table("graft_cosstream_kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
  }

  // Crash-replay contract (r5 advice): a batch that died AFTER the index
  // append but BEFORE the streaming checkpoint commit is re-run by the
  // engine with the same batchId. The index then already contains the
  // batch's own line hashes / signatures, so a recompute would anti-join
  // (or self-match) the whole batch away and the dynamic partition
  // overwrite would replace the committed kept rows with nothing. The
  // committed-partition guard must skip recompute and only re-derive the
  // index append from the durable rows.
  test("line-dedup batch replay after index append preserves committed output") {
    import spark.implicits._
    def cleanTable(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    cleanTable("graft_replay_kept")
    graft.ext.LlmOps.buildLineIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "graft_replay_idx",
      delim = " ")
    val batch = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    def run() = graft.streaming.StreamingOps.processLineBatch(
      batch, 0L, "graft_replay_idx", "graft_replay_kept", " ", "text", "doc_id")
    run() // first attempt: commits kept partition 0 AND appends the index
    def kept = {
      spark.catalog.refreshTable("graft_replay_kept")
      spark.table("graft_replay_kept").select("doc_id", "clean_text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val first = kept
    assert(first == Map(1L -> "alpha beta", 2L -> "gamma"))
    run() // replay with the index already poisoned by batch 0's hashes
    assert(kept == first, "replay must not wipe the committed partition")
    spark.catalog.refreshTable("graft_replay_idx_lines")
    assert(spark.table("graft_replay_idx_lines").distinct().count() == 3L)
    // a batchId collision that is NOT a replay (different ids — the
    // deleted-checkpoint-with-retained-kept-table case) must fail
    // loudly instead of silently discarding the new batch
    val foreign = Seq((9L, "totally new")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamingOps.processLineBatch(
        foreign, 0L, "graft_replay_idx", "graft_replay_kept", " ", "text", "doc_id")
    }
    assert(e.getMessage.contains("not a checkpoint replay"))
    assert(kept == first, "the refused batch must leave the partition intact")
  }

  test("near-dup batch replay after index append preserves committed output") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_replay2_kept")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_replay2_kept")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    graft.ext.LlmOps.buildMinhashIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "graft_replay2_idx")
    val batch = Seq((1L, "alpha beta gamma delta"),
      (2L, "totally different words here")).toDF("doc_id", "text")
    def run() = graft.streaming.StreamingOps.processDedupBatch(
      batch, 0L, "graft_replay2_idx", "graft_replay2_kept", 0.8, "text", "doc_id")
    run()
    def keptIds = {
      spark.catalog.refreshTable("graft_replay2_kept")
      spark.table("graft_replay2_kept").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    assert(keptIds == Set(1L, 2L))
    run() // replay: both docs' signatures are already in the index
    assert(keptIds == Set(1L, 2L),
      "replay must not self-match the batch against its own index entries")
  }

  test("tmp_stream_matview_refresh gives the same answer on a second run in one session") {
    val row = SparkEntry.queries("tmp_stream_matview_refresh")
    val first = row(spark, TestSpark.sfDir).collect().toSeq
    val second = row(spark, TestSpark.sfDir).collect().toSeq
    assert(first.nonEmpty)
    assert(second == first)
  }

  test("matview maintainer: an all-late batch is refused loudly, state untouched") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stage = s"${System.getProperty("java.io.tmpdir")}/graft_mv_late_stage"
    val seed = Seq((1L, "a", 5L), (2L, "b", 10L)).toDF("id", "k", "v")
    seed.withColumn("__batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("__batch_id").parquet(stage)
    graft.sources.MatViewLayout.build(spark.read.parquet(stage),
      "graft_mv_late_m", "src", Seq("k"),
      Seq(graft.sources.MatAgg("count", "", "n"),
        graft.sources.MatAgg("sum", "v", "s")), "id", 2L)
    val ms = MemoryStream[(Long, String, Long)]
    val src = ms.toDF().toDF("id", "k", "v")
    val q = graft.streaming.StreamingOps.matViewMaintainStream(
      src, "graft_mv_late_m", stage, "id")
    try {
      ms.addData((3L, "a", 1L)); q.processAllAvailable() // cursor -> 3
      // an all-late batch (hi = 1 < 3) violates the monotone-ingest
      // contract: it must fail with the NAMED error, not fold or
      // silently vanish
      ms.addData((1L, "c", 9L))
      val e = intercept[Exception](q.processAllAvailable())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("monotone")), msgs(e).mkString(" | "))
    } finally q.stop()
    // nothing changed: cursor still at 3, stage holds no late partition,
    // and the read over committed rows is still exact
    assert(graft.sources.MatViewLayout.cursorOf(spark, "graft_mv_late_m") == 3L)
    val rows = graft.sources.MatViewLayout.read(spark, "graft_mv_late_m",
        _ => spark.read.parquet(stage).drop("__batch_id"))
      .orderBy("k").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L, 6L), ("b", 1L, 10L)))
  }

  test("matview maintainer: a MIXED batch (rows below and above the cursor) is refused; exact replays pass") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val stage = s"${System.getProperty("java.io.tmpdir")}/graft_mv_mixed_stage"
    val seed = Seq((1L, "a", 5L), (2L, "b", 10L)).toDF("id", "k", "v")
    seed.withColumn("__batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("__batch_id").parquet(stage)
    graft.sources.MatViewLayout.build(spark.read.parquet(stage),
      "graft_mv_mixed_m", "src", Seq("k"),
      Seq(graft.sources.MatAgg("count", "", "n"),
        graft.sources.MatAgg("sum", "v", "s")), "id", 2L)
    val ms0 = MemoryStream[(Long, String, Long)]
    val q0 = graft.streaming.StreamingOps.matViewMaintainStream(
      ms0.toDF().toDF("id", "k", "v"), "graft_mv_mixed_m", stage, "id")
    try { ms0.addData((3L, "a", 1L)); q0.processAllAvailable() } // cursor -> 3
    finally q0.stop()
    assert(graft.sources.MatViewLayout.cursorOf(spark, "graft_mv_mixed_m") == 3L)
    def readRows() = graft.sources.MatViewLayout.read(spark, "graft_mv_mixed_m",
        _ => spark.read.parquet(stage).drop("__batch_id"))
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val before = readRows()
    // mixed batch: id 2 sits at-or-below the committed cursor, id 5 above
    // it — staging would keep id 2 forever outside every fold window
    // (fold window is (cursor, hi]), so the maintainer must refuse BEFORE
    // any state changes
    val ms1 = MemoryStream[(Long, String, Long)]
    val q1 = graft.streaming.StreamingOps.matViewMaintainStream(
      ms1.toDF().toDF("id", "k", "v"), "graft_mv_mixed_m", stage, "id")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    try {
      ms1.addData((2L, "c", 100L), (5L, "c", 1L))
      val e = intercept[Exception](q1.processAllAvailable())
      assert(msgs(e).exists(_.contains("mixes")), msgs(e).mkString(" | "))
    } finally q1.stop()
    assert(graft.sources.MatViewLayout.cursorOf(spark, "graft_mv_mixed_m") == 3L)
    assert(readRows() == before, "the refused mixed batch must change nothing")
    // exact replay (hi == committed == 3): the guard lets it through and
    // the per-partition idempotent overwrite + early-return refresh leave
    // the view exact — the crash-between-refresh-and-checkpoint case
    val ms2 = MemoryStream[(Long, String, Long)]
    val q2 = graft.streaming.StreamingOps.matViewMaintainStream(
      ms2.toDF().toDF("id", "k", "v"), "graft_mv_mixed_m", stage, "id")
    try {
      ms2.addData((3L, "a", 1L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(graft.sources.MatViewLayout.cursorOf(spark, "graft_mv_mixed_m") == 3L)
    assert(readRows() == before, "an exact replay must not double-fold")
  }

  test("cosine-dedup stream: pristine-restore path is deterministic across reruns") {
    // r15: tmp_stream_cosine_dedup no longer rebuilds its seed index —
    // it deletes the stream's appended files and refreshes. Three
    // consecutive runs (build, restore, restore) plus one after an
    // explicit rebuild must agree exactly, or the restore is leaking
    // state between runs (a poisoned index makes every odd drop).
    val dir = TestSpark.sfDir
    def run() = {
      val r = SparkEntry.queries("tmp_stream_cosine_dedup")(spark, dir)
        .collect().map(_.toSeq).toSeq
      graft.ext.LlmOps.releaseCaches(); spark.catalog.clearCache()
      r
    }
    val a = run()
    val b = run()
    val c = run()
    assert(a == b && b == c, s"restore drifted: a=$a b=$b c=$c")
    val idx = SparkEntry.queries("tmp_stream_cosine_index")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(idx.head(1) == true, s"index audit failed: $idx")
    val d = run()
    assert(d == a, s"post-rebuild run diverged: d=$d a=$a")
  }

  test("matview: update-mode changelog holds only touched keys; read = latest per key") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS graft_test_matview")
    val staleLoc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_test_matview")
    staleLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(staleLoc, true)
    val ms = MemoryStream[(String, Long)]
    val src = ms.toDF().toDF("k", "v")
    val agg = src.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val q = graft.streaming.StreamingOps.matViewStream(agg, "graft_test_matview")
    try {
      ms.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      ms.addData(("b", 5L), ("c", 7L))
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("graft_test_matview")
    // changelog: batch 0 touched {a, b}; batch 1 re-emitted ONLY {b, c}
    // ("a" unchanged -> absent; this is the update-vs-complete proof),
    // and b's batch-1 row carries the CUMULATIVE aggregate from state
    val log = spark.table("graft_test_matview")
      .select("k", "n", "s", "__batch_id").collect()
      .map(r => (r.getString(0), r.getLong(3)) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(log.keySet == Set("a" -> 0L, "b" -> 0L, "b" -> 1L, "c" -> 1L))
    assert(log(("b", 0L)) == ((1L, 10L)) && log(("b", 1L)) == ((2L, 15L)))
    // materialized state: latest batch per key + per-key update depth
    val st = graft.streaming.StreamingOps
      .matViewRead(spark, "graft_test_matview", Seq("k")).collect()
      .map(r => r.getString(r.fieldIndex("k")) ->
        ((r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("s")),
          r.getLong(r.fieldIndex("n_updates"))))).toMap
    assert(st == Map("a" -> ((2L, 3L, 1L)), "b" -> ((2L, 15L, 2L)),
      "c" -> ((1L, 7L, 1L))))
  }

  test("stream-stream join: watermarked time-window pairs incl. cross-batch state") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = 1700000000000000L // epoch us
    def m(min: Long) = base + min * 60000000L
    val msC = MemoryStream[(Long, Long, Long)]
    val msP = MemoryStream[(Long, Long, Long)]
    def side(ms: MemoryStream[(Long, Long, Long)], pre: String) =
      ms.toDF().toDF(s"${pre}_id", s"${pre}_user", s"${pre}_ts_us")
        .withColumn(s"${pre}_ts", timestamp_micros(col(s"${pre}_ts_us")))
        .withWatermark(s"${pre}_ts", "3700 seconds")
    val joined = side(msC, "c").join(side(msP, "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_id"), col("p_id"), (col("p_ts_us") - col("c_ts_us")).as("dt"))
    val q = joined.writeStream.format("memory")
      .queryName("graft_test_ssjoin").outputMode("append").start()
    try {
      // batch 1: two clicks, one in-window purchase for user 7
      msC.addData((1L, 7L, m(0)), (2L, 8L, m(5)))
      msP.addData((101L, 7L, m(30)))
      q.processAllAvailable()
      // batch 2: a purchase matching batch 1's click 1 (CROSS-BATCH
      // state), one out-of-window purchase for user 8 (75 min > 1 h)
      msP.addData((102L, 7L, m(50)), (103L, 8L, m(80)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_test_ssjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 101L, 30L * 60000000L), (1L, 102L, 50L * 60000000L)))
    // the fixture the declared row runs on really has a cross-batch
    // pair: click below / purchase at-or-above one of the 516/836
    // splits within the hour window (sf0.001: 515 -> 517)
    val evs = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
      .filter(col("event_id") <= 2000)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tu"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def batchOf(id: Long) = if (id < 516) 0 else if (id < 836) 1 else 2
    val cross = for {
      c <- evs if c._4 == "click"
      p <- evs if p._4 == "purchase" && p._2 == c._2 &&
        p._3 >= c._3 && p._3 - c._3 <= 3600000000L &&
        batchOf(p._1) > batchOf(c._1)
    } yield (c._1, p._1)
    assert(cross.nonEmpty, "declared-row fixture lost its cross-batch pair")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ext.LlmOps

/** Streaming surface (SURVEY.md §2.10): the same KQL-shaped aggregations
  * run as Structured Streaming jobs. ADX semantics map as:
  *
  *  - streaming ingest → `readStream` source (file/rate/memory)
  *  - `summarize count() by bin(ts, 5m)` → tumbling `window(ts, "5 minutes")`
  *  - late data → `withWatermark` (rows later than the watermark drop)
  *  - materialized view → the continuously-updated sink table
  *  - update policy → per-batch transform before the sink
  *
  * Batch/stream parity: these builders take any DataFrame — static input
  * runs the identical plan in batch, which is how the correctness gate
  * exercises them; the Structured Streaming test drives the stateful path.
  */
object StreamingOps {

  /** Tumbling-window count/sum per group — the KQL
    * `events | summarize n=count(), s=sum(value) by bin(ts, w), event_type`
    * shape, watermarked for state cleanup. */
  def tumblingAgg(events: DataFrame, windowDur: String, watermark: String,
                  tsCol: String = "ts", groupCol: String = "event_type",
                  valCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(valCol)).as("s"))
      .select(col("window.start").as("ts"), col(groupCol), col("n"), col("s"))

  /** Sliding-window average (KQL moving aggregate over bins). */
  def slidingAvg(events: DataFrame, windowDur: String, slide: String,
                 watermark: String, tsCol: String = "ts",
                 valCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slide))
      .agg(avg(col(valCol)).as("avg_v"))
      .select(col("window.start").as("ts"), col("avg_v"))

  /** Session windows (KQL row_window_session): gap-based sessions per
    * user via Spark's native session_window — stateful, watermarked. */
  def sessionAgg(events: DataFrame, gap: String, watermark: String,
                 tsCol: String = "ts", keyCol: String = "user_id"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col(keyCol), col("n_events"))

  /** Stateful streaming dedup within the watermark horizon
    * (ADX ingestion dedup policy). */
  def dedupStream(events: DataFrame, idCol: String, watermark: String,
                  tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** True when `table` already holds a committed `__batch_id = id`
    * partition — i.e. this foreachBatch invocation is a checkpoint
    * REPLAY of a batch whose output commit succeeded (Structured
    * Streaming never re-runs batches whose checkpoint committed, so a
    * present partition can only mean "crashed between the kept-commit
    * and the checkpoint-commit"). Partition pruning makes the probe one
    * footer read, not a table scan. */
  private def batchCommitted(spark: SparkSession, table: String,
                             id: Long): Boolean =
    spark.catalog.tableExists(table) &&
      spark.table(table).filter(col("__batch_id") === id).limit(1).count() > 0

  /** Replay sanity check for the committed-partition path: every id the
    * partition holds must appear in the incoming batch. A violated
    * containment means the batchId collision is NOT a checkpoint replay
    * — e.g. a deleted/reset checkpoint restarted batch numbering at 0
    * against a RETAINED kept table — and silently reusing the partition
    * would discard the new batch's data forever. Throwing loudly is the
    * only safe move; full content equality cannot be required because
    * dedup legitimately commits a subset of the batch. One
    * partition-pruned read against the (small) in-memory batch. */
  private def requireReplayConsistent(spark: SparkSession, table: String,
      id: Long, batch: DataFrame, idCol: String): Unit = {
    val stray = spark.table(table).filter(col("__batch_id") === id)
      .select(col(idCol))
      .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
    if (stray.limit(1).count() > 0)
      throw new IllegalStateException(
        s"batch $id is already committed to '$table' with ids absent from " +
          "the incoming batch — this batchId collision is not a checkpoint " +
          "replay (was the checkpoint reset while the kept table was " +
          "retained?); refusing to reuse or overwrite the committed partition")
  }

  /** The one foreachBatch sink: runs `step` on each micro-batch of
    * `stream` in output `mode`. Deploys pass a checkpoint dir so a
    * restart resumes at the next unprocessed offset (every step below
    * is replay-safe); tests drive batches with [[drive]]. */
  private def sink(stream: DataFrame, checkpoint: Option[String],
                   mode: String = "append")(
      step: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = stream.writeStream.outputMode(mode).foreachBatch(step)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** The one `__batch_id` table commit: creates `table` (parquet,
    * partitioned by `__batch_id`) with `rows`' columns if it is absent,
    * then replaces exactly the `__batch_id = id` partition with `rows`
    * through a STATIC-partition `INSERT OVERWRITE`. A replayed batch
    * rewrites its own partition instead of appending a second copy,
    * every other partition stays as committed, and no session conf
    * changes (a dynamic overwrite would need the session's
    * `partitionOverwriteMode`, since V1 `insertInto` ignores a
    * per-write option). An empty `rows` leaves the partition empty.
    * `rows`' columns map by position onto the table's. */
  private def commitBatch(table: String, id: Long, rows: DataFrame): Unit = {
    val spark = rows.sparkSession
    if (!spark.catalog.tableExists(table))
      rows.withColumn("__batch_id", lit(id)).limit(0).write.format("parquet")
        .partitionBy("__batch_id").saveAsTable(table)
    val view = "__graft_batch_commit"
    rows.createOrReplaceTempView(view)
    try spark.sql(
      s"INSERT OVERWRITE TABLE $table PARTITION (__batch_id = $id) SELECT * FROM $view")
    finally spark.catalog.dropTempView(view)
  }

  /** One micro-batch of an index-backed dedup stream — package-visible
    * so the crash-replay contract is directly testable. `dedup` keeps
    * the rows of `batch` the index at rest does not already cover;
    * `append` grows the index from kept rows.
    *
    * Replay idempotency has two cases. (1) The kept partition for this
    * batchId is already committed ⇒ the previous attempt died between
    * the index append and the checkpoint commit, so the index may
    * already hold this batch's own signatures or line hashes.
    * RECOMPUTING would dedup the batch against itself (every doc
    * self-matches, every line anti-joins away) and overwrite the
    * committed rows with less. So the replay checks that it is one
    * ([[requireReplayConsistent]]), skips recompute and only re-derives
    * the append from the durable kept rows (duplicate index entries
    * make duplicate candidates, never different drops — re-appending is
    * harmless). (2) No partition ⇒ the append runs strictly after the
    * commit, so the index is untouched by this batch and the normal
    * dedup → commit → append path is correct.
    *
    * The dedup functions persist per-batch frames for within-query
    * reuse; without a per-batch release they accumulate for the life of
    * the stream. releaseCaches() frees exactly the library's own
    * persists AND drains its tracking queue (a clearCache here would
    * leak one tracked plan per micro-batch and nuke any unrelated
    * caches the embedding app holds). */
  private[graft] def dedupBatch(batch: DataFrame, batchId: Long,
      keptTable: String, idCol: String)(
      dedup: DataFrame => DataFrame, append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    if (batchCommitted(spark, keptTable, batchId)) {
      requireReplayConsistent(spark, keptTable, batchId, batch, idCol)
      append(spark.table(keptTable).filter(col("__batch_id") === batchId)
        .drop("__batch_id"))
    } else {
      val kept = dedup(batch).persist()
      commitBatch(keptTable, batchId, kept)
      append(kept)
      kept.unpersist()
    }
    LlmOps.releaseCaches()
  }

  /** Continuous-ingestion near-dup dedup: each micro-batch is deduped
    * against the persisted minhash index (LlmOps.dedupIncremental —
    * index candidates + in-batch self-join, exact-verified), the kept
    * rows are committed to `keptTable`, and their signatures are
    * APPENDED to the index, so later batches dedup against everything
    * kept so far ([[dedupBatch]]).
    *
    * The cross-batch state is the bucketed index AT REST, not streaming
    * state: unlike dropDuplicatesWithinWatermark (whose state store
    * must hold every key inside the watermark horizon in executor
    * memory), the index is unbounded-corpus-sized on disk, bucket-
    * joined exchange-free, and survives restarts/redeploys — the only
    * viable shape when the dedup horizon is "the whole 100 TB corpus",
    * with near-dup (not just exact-key) matching. foreachBatch runs
    * batches sequentially, so append-then-next-batch ordering is safe.
    * Start from [[graft.ext.LlmOps.buildMinhashIndex]] on the seed
    * corpus (possibly empty). */
  def dedupIncrementalStream(stream: DataFrame, indexTable: String,
                             keptTable: String, threshold: Double = 0.8,
                             textCol: String = "text", idCol: String = "doc_id",
                             checkpoint: Option[String] = None)
      : StreamingQuery =
    sink(stream, checkpoint)(dedupBatch(_, _, keptTable, idCol)(
      LlmOps.dedupIncremental(_, indexTable, threshold, textCol = textCol, idCol = idCol),
      LlmOps.appendToMinhashIndex(_, indexTable, textCol = textCol, idCol = idCol)))

  /** Continuous embedding near-dup dedup: each micro-batch dedups
    * against the persisted cosine index
    * ([[graft.ext.LlmOps.dedupCosineIncremental]]), commits kept rows to
    * its own `__batch_id` partition, then grows the index from the
    * committed output ([[dedupBatch]]). Cross-batch state is the
    * bucketed index AT REST — unbounded horizon, near-dup (not
    * exact-key) matching, restart-safe. Seed the index with
    * [[graft.ext.LlmOps.buildCosineIndex]] (possibly on an empty
    * corpus). */
  def dedupCosineIncrementalStream(stream: DataFrame, indexTable: String,
                                   keptTable: String,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding",
                                   checkpoint: Option[String] = None)
      : StreamingQuery =
    sink(stream, checkpoint)(dedupBatch(_, _, keptTable, idCol)(
      LlmOps.dedupCosineIncremental(_, indexTable, idCol = idCol, vecCol = vecCol),
      LlmOps.appendToCosineIndex(_, indexTable, idCol = idCol, vecCol = vecCol)))

  /** Continuous LINE-level dedup ([[graft.ext.LlmOps.lineDedupIncremental]]
    * per micro-batch): each batch drops lines already in the persisted
    * line index, keeps in-batch first occurrences, COMMITS its cleaned
    * docs to its own `__batch_id` partition, and only THEN grows the
    * index from the committed output. A crash before the kept-commit
    * replays cleanly against the unchanged index; a crash after it
    * takes [[dedupBatch]]'s reuse-committed-partition path. */
  def lineDedupIncrementalStream(stream: DataFrame, indexTable: String,
                                 keptTable: String, delim: String = "\n",
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 checkpoint: Option[String] = None)
      : StreamingQuery =
    sink(stream, checkpoint)(dedupBatch(_, _, keptTable, idCol)(
      LlmOps.lineDedupIncremental(_, indexTable, delim, textCol, idCol),
      LlmOps.appendToLineIndex(_, indexTable, delim, idCol = idCol)))

  /** ADX materialized-view / update-policy semantics over a streaming
    * aggregation: run `aggregated` (a streaming groupBy/summarize) in
    * UPDATE output mode — each micro-batch emits ONLY the keys it
    * touched, carrying their new cumulative values from the aggregation
    * state — and upsert them into `viewTable` as an append-only
    * CHANGELOG partitioned by `__batch_id` (the Delta/CDC pattern: the
    * view's current state is "latest batch per key", materialized by
    * [[matViewRead]]). Each batch overwrites its own partition, so a
    * checkpoint replay of a batch is idempotent.
    *
    * Scale shape: the per-batch write is sized by the keys the batch
    * touched, not the view; the aggregation state lives in the
    * streaming state store. A production deployment periodically
    * compacts the changelog (rewrite latest-per-key as a new base) so
    * the [[matViewRead]] window stays bounded; the two-batch parity
    * harness doesn't need one. */
  def matViewStream(aggregated: DataFrame, viewTable: String,
                    checkpoint: Option[String] = None)
      : StreamingQuery =
    sink(aggregated, checkpoint, "update")(
      (batch, batchId) => commitBatch(viewTable, batchId, batch))

  /** Streaming maintenance of an AT-REST [[graft.sources.MatViewLayout]]
    * view (r12) — the ADX update-policy shape where ingest both lands in
    * the source table and advances a materialized view: each micro-batch
    * (1) appends its rows to the live source path the view's resolver
    * reads and (2) folds exactly those rows into the store at the
    * PARTIAL level, advancing the cursor to the batch's own high-water
    * mark. `cursorCol` must be MONOTONE non-decreasing across batches
    * (an ingest cursor — the update-policy shape); an all-late batch is
    * refused loudly before any state changes (see the in-body contract
    * note). foreachBatch runs batches sequentially, so append → refresh
    * ordering is safe; and the append is IDEMPOTENT per batch — each
    * batch lands in its own `__batch_id=<id>` partition with dynamic
    * partition OVERWRITE, so a batch replayed after a crash (including
    * a crash between the append and the refresh, when the cursor has
    * not advanced) overwrites its own partition instead of appending a
    * second copy that the next refresh would double-count. The stage
    * path must therefore be uniformly `__batch_id`-partitioned; seed
    * data goes in as `__batch_id=-1` (see the SparkEntry harness).
    *
    * Complements [[matViewStream]]: that one keeps view state in the
    * STREAMING state store with a changelog sink; this one keeps NO
    * streaming state at all — the store/cursor pair at rest IS the
    * state, so the maintainer can restart anywhere, and a batch query
    * over `materialized_view('V')` between refreshes stays exact via
    * the delta-merge read path. */
  def matViewMaintainStream(stream: DataFrame, view: String,
                            stagePath: String, cursorCol: String,
                            checkpoint: Option[String] = None)
      : StreamingQuery =
    sink(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val b = batch.persist()
      try {
        if (b.count() > 0) {
          // CONTRACT: cursorCol is an INGEST cursor — monotone
          // non-decreasing across batches (update-policy ingest ids /
          // arrival times). A batch whose high-water mark sits below
          // the committed cursor would be silently unreadable forever
          // (the fold window (cursor, hi] and the delta read both
          // exclude it), so refuse it LOUDLY and BEFORE any state
          // changes — stage and store stay exactly as committed.
          // Event-time-late data belongs to matViewStream, whose
          // watermark semantics the tmp_stream_matview_late harness
          // pins. Exact replays (hi == cursor after a crash between
          // refresh and checkpoint commit) pass through: the stage
          // overwrite is per-partition idempotent and refresh
          // early-returns on an unchanged cursor.
          val bounds = b.agg(max(col(cursorCol)), min(col(cursorCol))).head()
          val hi = bounds.getLong(0)
          val lo = bounds.getLong(1)
          val committed = graft.sources.MatViewLayout.cursorOf(spark, view)
          if (hi < committed) throw new IllegalStateException(
            s"matview maintain: batch $batchId high-water $hi is below " +
            s"the committed cursor $committed — '$cursorCol' must be " +
            s"monotone non-decreasing across batches (ingest cursor). " +
            s"For event-time-late rows use matViewStream (watermarked).")
          // A MIXED batch (hi advances past the cursor but some rows sit
          // at or below it) would stage every row yet fold only the
          // (cursor, hi] window — the low rows become silently
          // unreadable forever, the exact loss the all-late refuse
          // exists to prevent. Refuse it too. Exact replays are NOT
          // mixed: a replayed batch has hi == committed (the cursor
          // already advanced to this batch's own high-water mark), so
          // hi > committed is false and the idempotent-overwrite path
          // stays open.
          if (hi > committed && lo <= committed) throw new IllegalStateException(
            s"matview maintain: batch $batchId mixes rows at-or-below the " +
            s"committed cursor $committed (min $lo) with rows above it " +
            s"(max $hi) — the low rows would stage but never fold. " +
            s"'$cursorCol' must be monotone non-decreasing across batches; " +
            s"for event-time-late rows use matViewStream (watermarked).")
          // idempotent: replays overwrite their own partition only
          b.withColumn("__batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id").parquet(stagePath)
          graft.sources.MatViewLayout.refresh(spark, view,
            _ => spark.read.parquet(stagePath).drop("__batch_id"), hi)
        }
      } finally b.unpersist()
    }

  /** Streaming hard-negative mining (r14): each micro-batch of anchors
    * (new training examples) probes the AT-REST IVF index
    * ([[graft.ext.LlmOps.hardNegativesForIndexed]]) and commits its
    * (anchor_id, rank, neg_id, cos_u) rows to its own `__batch_id`
    * partition. STATELESS per anchor — the index is read-only here, so
    * batch parity with the one-shot form is exact by construction and
    * a replay recomputes and overwrites the same rows. The online
    * flavor of the dual-encoder mining loop: negatives are ready as
    * soon as an example arrives, no corpus rescan. */
  def hardNegativesStream(anchors: DataFrame, indexPath: String,
                          centroids: Array[Array[Double]], outTable: String,
                          k: Int = 5, hiCos: Double = 0.9, nProbe: Int = 4,
                          idCol: String = "vec_id",
                          labelCol: String = "label",
                          vecCol: String = "embedding",
                          checkpoint: Option[String] = None)
      : StreamingQuery =
    sink(anchors, checkpoint) { (batch, batchId) =>
      commitBatch(outTable, batchId, LlmOps.hardNegativesForIndexed(
        batch.sparkSession, indexPath, centroids, batch, k, hiCos, nProbe,
        idCol, labelCol, vecCol))
      LlmOps.releaseCaches()
    }

  /** Materialize the current state of a [[matViewStream]] changelog:
    * latest `__batch_id` row per key, plus `n_updates` = number of
    * batches that updated the key (each batch emits a key at most
    * once in update mode, so the changelog row count per key IS the
    * update count). One shuffle by key — the standard compaction
    * read. */
  def matViewRead(spark: SparkSession, viewTable: String,
                  keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    spark.table(viewTable)
      .withColumn("__rn", row_number().over(byKey.orderBy(col("__batch_id").desc)))
      .withColumn("n_updates", count(lit(1)).over(byKey))
      .filter(col("__rn") === 1)
      .drop("__rn", "__batch_id")
  }

  /** A MemoryStream of `A` rows on `s`, and its streaming frame with the
    * tuple's columns named `cols`. */
  def memoryStream[A: Encoder](s: SparkSession,
                               cols: String*): (MemoryStream[A], DataFrame) = {
    val ms = MemoryStream[A](s)
    (ms, ms.toDF().toDF(cols: _*))
  }

  /** Starts `stream` into the in-memory table `sink` (a temp view in the
    * stream's session) in output `mode`. */
  def toMemory(stream: DataFrame, sink: String, mode: String): StreamingQuery =
    stream.writeStream.format("memory").queryName(sink).outputMode(mode).start()

  /** The micro-batch protocol: runs each feed (which may add to several
    * sources), processes everything it made available before the next
    * feed runs, and stops `q` on every path. */
  def drive(q: StreamingQuery)(feeds: (() => Unit)*): Unit =
    try feeds.foreach { feed => feed(); q.processAllAvailable() }
    finally q.stop()

  /** Wire a streaming DataFrame to an in-memory sink and process all
    * currently-available input (used by tests and the demo). */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
                  outputMode: String): DataFrame = {
    drive(toMemory(stream, name, outputMode))(() => ())
    spark.table(name)
  }

  /** Runs `stream` in append mode into the parquet files at `path` until
    * it has processed everything available now, resuming from and
    * committing to `checkpoint`: successive calls on one checkpoint are
    * restarts that carry the stream's state across. */
  def runToParquet(stream: DataFrame, path: String, checkpoint: String): Unit =
    stream.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
}

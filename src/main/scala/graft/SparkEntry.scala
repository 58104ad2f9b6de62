package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.kql.Kql
import graft.ext.{LlmOps, TemporalOps}
import graft.GraftSession.pinned
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{drive, memoryStream, toMemory}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder brief.
  *
  * Every entry below runs through the KQL engine (parser → planner →
  * Catalyst) or the LlmOps extension library; the paired `oracleSql` is
  * the ANSI-SQL equivalent the driver executes in DuckDB over the same
  * parquet. Determinism rules (FIXTURES.md): every multi-row result ends
  * in a total-order sort; double aggregates are decimal-cast or rounded.
  */
object SparkEntry {
  java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))

  /** Flagship query (TPC-H Q1 shape in KQL) on sf0.001; rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    kqlQ(TPCH_Q1)(spark, "/root/testdata/sf0.001")

  private def kqlQ(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => Kql.run(s, q, dir)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** 10-token reline shared by the line-op bench rows — must stay in
    * lockstep with their oracles' tk[k*10+1 : k*10+10] slicing (both
    * sides coalesce NULL text to the empty document). */
  private def relined10(d: DataFrame): DataFrame = {
    val toks = split(coalesce(col("text"), lit("")), "\\s+")
    d.withColumn("text", array_join(transform(
      sequence(lit(0), floor((size(toks) - 1) / lit(10)).cast("int")),
      k => array_join(slice(toks, k * 10 + 1, lit(10)), " ")), "\n"))
  }

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** 9×8 planted grayscale bitmap as hex: px(r, c) = (d·7 + r·13 +
    * c·31) mod 256; doc_id%5==4 docs copy the PREDECESSOR's bitmap with
    * px(0,0) bumped by one — a planted image near-duplicate whose dHash
    * differs in at most one bit. */
  /** The planted bitmap corpus AT REST: production image payloads come
    * from storage, not from a query-time expression — the 72-md5 plant
    * is fixture CONSTRUCTION. It lives in the session warehouse
    * (`graft_img_plant`), rebuilt from the parquet inputs on every
    * timed pass by the llm_image_plant index-build row; the image rows
    * READ it (first touch in a fresh JVM builds it once — the same
    * contract as the llm_audit_* tables). The r10/r11 cross-JVM tmpdir
    * parquet is gone: nothing a timed row consumes survives a driver
    * run any more (r11 verdict task 2's plantedImages decision). */
  /** Which fixture dir each at-rest audit/plant table group on disk was
    * built from in this JVM — a build-or-not dial (the cosIdxState
    * convention), never query data: the data itself flows from the
    * warehouse tables, whose construction the llm_audit_* and
    * llm_image_plant rows re-pay on every timed pass. */
  private val auditBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def buildImagePlant(s: SparkSession, dir: String): Unit = {
    // the 72-md5 pixel expressions are compute-dense over what the scan
    // delivers as a SINGLE split (one small fixture file) — measured 3 s
    // single-threaded. Spread the ids across the session's cores before
    // the per-row plant compute; the shuffled payload is ids only.
    val par = s.sparkContext.defaultParallelism
    graft.sources.BucketedLayout.writePlain(
      docs(s, dir).select(col("doc_id")).repartition(par)
        .select(col("doc_id"), unhex(plantedBitmapHex).as("payload")),
      "graft_img_plant")
    auditBuilt.put("img_plant", dir)
  }
  private def plantedImages(s: SparkSession, dir: String): DataFrame = {
    if (auditBuilt.get("img_plant") != dir) buildImagePlant(s, dir)
    s.table("graft_img_plant")
  }

  private def plantedBitmapHex: org.apache.spark.sql.Column = {
    // md5-derived pseudorandom pixels (the portable ascii convention):
    // an ARITHMETIC plant (d*7 + r*13 + c*31 mod 256) makes wrap
    // patterns of nearby ids hamming-close, so incidental near-pairs
    // grow with the corpus (measured 21.6 s at sf0.1); random pixels
    // leave only the PLANTED predecessor copies pairing up
    def pxOf(id: org.apache.spark.sql.Column, r: Int,
             c: Int): org.apache.spark.sql.Column = {
      val k = md5(concat(id.cast("string"), lit(s"_${r}_$c")))
      pmod(ascii(substring(k, 1, 1)) * 7 + ascii(substring(k, 2, 1)) * 13,
        lit(256))
    }
    // a planted doc copies its predecessor's pixels, so each pixel hashes
    // one source id, and only px(0, 0) of a planted doc is bumped by one
    val planted = pmod(col("doc_id"), lit(5)) === 4
    val src = when(planted, col("doc_id") - 1).otherwise(col("doc_id"))
    def pxv(r: Int, c: Int): org.apache.spark.sql.Column =
      if (r == 0 && c == 0) pmod(pxOf(src, r, c) + planted.cast("int"), lit(256))
      else pxOf(src, r, c)
    // one concat per bitmap row, joined by concat_ws, which Catalyst does
    // not fold back into a single concat: one 72-argument concat
    // overflowed the whole-stage method and fell back from codegen
    concat_ws("", (0 until 8).map(r =>
      concat((0 until 9).map(c => lpad(conv(pxv(r, c), 10, 16), 2, "0")): _*)): _*)
  }

  /** tmp_bucketed_join body: write both sides bucketed + sorted on the
    * join key (one-time layout prep, overwritten per run), join over the
    * bucketed catalog tables. The join itself needs no exchange —
    * co-located buckets at rest (BucketedLayoutSpec asserts the
    * shuffle-free SMJ shape on these exact tables). */
  def bucketedJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.BucketedLayout
    // layout prep prunes to the workload's columns — bucketing is a
    // per-workload materialized layout, and writing the full table width
    // would triple the one-time write for columns no query reads
    BucketedLayout.writeBucketed(
      s.read.parquet(s"$dir/orders.parquet").select("o_custkey", "o_totalprice"),
      "graft_b_orders", Seq("o_custkey"), 8)
    BucketedLayout.writeBucketed(
      s.read.parquet(s"$dir/customer.parquet").select("c_custkey", "c_nationkey"),
      "graft_b_customer", Seq("c_custkey"), 8)
    bucketedJoinOver(s)
  }

  /** The join/agg over the already-written bucketed tables — split out so
    * the spec can assert its plan shape without re-writing the layout. */
  def bucketedJoinOver(s: SparkSession): DataFrame = {
    val o = graft.sources.BucketedLayout.readTable(s, "graft_b_orders")
    val c = graft.sources.BucketedLayout.readTable(s, "graft_b_customer")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rc"))
      .select(col("c_nationkey"), col("n_orders"),
        (col("rc").cast("double") / 100.0).as("rev"))
      .orderBy("c_nationkey")
  }

  /** tmp_stream_parity body: plan the KQL text onto a MemoryStream fed a
    * bounded slice of `events`, drain it into a memory sink, and return
    * the sunk rows (hash-checked against DuckDB's batch recompute). */
  def streamParityQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val rows = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("event_type"), col("value"))
        .as[(Long, String, Double)].collect().toSeq
      val (ms, src) = memoryStream[(Long, String, Double)](s,
        "event_id", "event_type", "value")
      ms.addData(rows: _*)
      val out = Kql.runStream(s,
        """src | summarize n = count(), s = sum(tolong(round(value * 100))) by event_type
          | sort by event_type asc""",
        dir, Map("src" -> src))
      StreamingOps.runToMemory(s, out, "tmp_stream_parity_sink", "complete")
        .orderBy("event_type")
    }

  /** tmp_stream_line_dedup body (r6, verdict task 4): the STATEFUL
    * streaming path — two micro-batches of documents through
    * [[graft.streaming.StreamingOps.lineDedupIncrementalStream]], whose
    * cross-batch state is the persisted line index AT REST (batch 2
    * drops every line batch 1 kept). The committed kept table (both
    * batch partitions) is returned and hash-compared to DuckDB's batch
    * replay of the same two increments. State is rebuilt from empty on
    * every invocation so bench/verify reruns in one JVM stay
    * idempotent; the memory stream is fed a BOUNDED 40-doc slice
    * (harness plumbing, not a data pass). */
  def streamLineDedupQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      // 4 file-buckets, sized to the 40-doc harness corpus (the cosine
      // harness convention — bucket count is the at-rest layout dial);
      // appends read the spec off the table, so batches land in 4 files
      graft.ext.LlmOps.buildLineIndex(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "graft_stream_line_idx",
        buckets = 4)
      graft.sources.BucketedLayout.clearStale(s, "graft_stream_line_kept")
      val rows = relined10(docs(s, dir)).filter(col("doc_id") < 40)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      val (ms, src) = memoryStream[(Long, String)](s, "doc_id", "text")
      drive(StreamingOps.lineDedupIncrementalStream(
          src, "graft_stream_line_idx", "graft_stream_line_kept"))(
        () => ms.addData(rows.filter(_._1 < 20): _*),
        () => ms.addData(rows.filter(_._1 >= 20): _*))
      s.catalog.refreshTable("graft_stream_line_kept")
      s.table("graft_stream_line_kept")
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("clean_text"),
          col("__batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id")
    }

  /** tmp_stream_matview body (r7, verdict task 7): ADX materialized-
    * view / update-policy semantics — a continuous `summarize n, s by
    * bin(ts, 1h)` run in UPDATE output mode over two micro-batches of
    * `events`, upserted into a changelog-backed view table
    * ([[graft.streaming.StreamingOps.matViewStream]]). The returned
    * frame is the view's FINAL state ([[StreamingOps.matViewRead]]:
    * latest batch per key) — hash-compared to DuckDB's batch
    * recompute. `n_updates` (changelog rows per key) proves UPDATE
    * emission: under complete mode every key would carry
    * n_updates = n_batches, but the fixture's batch split touches 140
    * of 141 bins exactly once. Integer-µs hour bins and integer-cent
    * sums keep every value bit-exact cross-engine. View state is
    * rebuilt from empty per invocation (rerun idempotency); the
    * driver-side collect feeds the memory stream a BOUNDED
    * event_id ≤ 2000 slice — harness plumbing, not a data pass. */
  /** tmp_stream_topk body (r9): the continuous top-k dashboard shape —
    * cumulative token counts over two micro-batches in COMPLETE output
    * mode with a bounded sort+limit (legal only after a streaming
    * aggregation in complete mode, which is exactly this plan). The
    * final table must equal the batch recompute over BOTH batches: if
    * batch-2 processing failed to carry batch-1's aggregation state,
    * every shared token's count (and likely the membership of the
    * top-10 itself) would mismatch the oracle. */
  /** Harness-sized streaming queries pay per-partition state-store
    * open/commit overhead every micro-batch (the tmp_stream_join
    * lesson: 32→4 partitions = 21.4→4.0 s); a real deployment sizes
    * the state partition count to the cluster. Pinned per row through
    * [[GraftSession.pinned]], never set on the caller's session. */
  private val lowShuffle = "spark.sql.shuffle.partitions" -> "4"

  def streamTopkQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val rows = docs(s, dir).filter(col("doc_id") < 40)
        .select(col("doc_id"), coalesce(col("text"), lit("")))
        .as[(Long, String)].collect().toSeq
      val (ms, src) = memoryStream[(Long, String)](s, "doc_id", "text")
      val topk = src.select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) >= 1)
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(10)
      drive(toMemory(topk, "graft_stream_topk_sink", "complete"))(
        () => ms.addData(rows.filter(_._1 < 20): _*),
        () => ms.addData(rows.filter(_._1 >= 20): _*))
      s.table("graft_stream_topk_sink").orderBy(col("cnt").desc, col("tok"))
    }

  /** tmp_stream_session body: stateful SESSION WINDOWS made driver-
    * visible — gap-based sessions (30 min) per user over two time-
    * ordered micro-batches in append mode. Sessions spanning the batch
    * boundary MUST merge across batches (the state-crossing proof);
    * the oracle recomputes sessionization over both batches in one
    * gaps-and-islands pass, so a session split at the boundary would
    * mismatch start/end/n_events. Append mode only emits watermark-
    * CLOSED sessions, so two far-future sentinel batches (user −1,
    * filtered out) push the watermark past every real session's end —
    * watermarks advance between batches, hence two flushes. */
  def streamSessionQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s => streamSessionBody(s, dir) }

  /** tmp_rocksdb_session body (r13): the EXACT tmp_stream_session query
    * re-run with the RocksDB state store provider — the disk-backed
    * state backend a 100 TB deployment uses when streaming state
    * outgrows executor memory. Hash-compared against the SAME oracle as
    * tmp_stream_session: the backend must be invisible to results
    * (merge-across-batch sessions, watermark flushes, all of it). */
  def streamSessionRocksQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      s => streamSessionBody(s, dir, "graft_stream_session_rocks_sink")
    }

  /** tmp_extensions_sql body (r13): the spark.sql.extensions hook made
    * driver-visible. Every harness session is BUILT by
    * [[GraftSession.create]] with `spark.sql.extensions=
    * graft.GraftExtensions` — the exact path a cluster session takes
    * from `spark-submit --conf` (SparkSession.applyExtensions reads the
    * static conf at session build; a live session ignores it, which is
    * why the conf sits in GraftSession.create and ExtensionsSpec covers
    * the live-session registerAll alternative separately). This query
    * then runs through the injected `graft_*` functions as PLAIN SQL —
    * no Scala-API touch — and every output is integer-exact for the
    * DuckDB oracle: sorted-intersect over distinct token lengths, an
    * integer-valued self dot product, and an ADC table lookup with an
    * arithmetic plant. */
  def extensionsSqlQuery(s: SparkSession, dir: String): DataFrame = {
    // the functions must have arrived via the session-build hook: this
    // row never calls registerAll, so resolution failing here means
    // the extensions config was dropped from GraftSession.create
    require(s.catalog.functionExists("graft_dot_product"),
      "session not built with spark.sql.extensions=graft.GraftExtensions")
    s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") <= 500)
      .createOrReplaceTempView("graft_ext_docs")
    s.sql("""
      SELECT doc_id,
        CAST(graft_sorted_intersect_count(lens, sequence(1L, 10L)) AS BIGINT)
          AS n_common,
        CAST(graft_dot_product(transform(lens, x -> CAST(x AS DOUBLE)),
                               transform(lens, x -> CAST(x AS DOUBLE)))
          AS BIGINT) AS dot_ll,
        CAST(graft_adc_score(
               array(CAST(pmod(doc_id, 4) AS INT)),
               transform(sequence(0, 3),
                 i -> CAST(pmod(doc_id, 7) * 10 + i AS DOUBLE)),
               4) AS BIGINT) AS adc_u
      FROM (
        SELECT doc_id,
          array_sort(array_distinct(transform(
            filter(split(lower(coalesce(text, '')), '\\s+'),
                   t -> length(t) >= 1),
            t -> CAST(length(t) AS BIGINT)))) AS lens
        FROM graft_ext_docs)
      ORDER BY doc_id""")
  }

  private def streamSessionBody(s: SparkSession, dir: String,
      sink: String = "graft_stream_session_sink"): DataFrame = {
    import s.implicits._
    val evs = s.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") <= 2000)
      .select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("user_id"))
      .as[(Long, Long, Long)].collect().toSeq
    val maxTs = evs.map(_._2).max
    // split at the median id so BOTH batches are non-empty at every SF
    // (sf0.001's slice tops out below id 1000); events are time-ordered
    // by event_id, so batch 2 never falls behind batch 1's watermark
    val halfId = evs.map(_._1).max / 2
    val (ms, raw) = memoryStream[(Long, Long, Long)](s, "event_id", "ts_us", "user_id")
    val src = raw.withColumn("ts", timestamp_micros(col("ts_us")))
    val sess = StreamingOps.sessionAgg(src, "30 minutes", "10 seconds")
      .select(col("user_id"), unix_micros(col("sess_start")).as("start_us"),
        unix_micros(col("sess_end")).as("end_us"), col("n_events"))
    drive(toMemory(sess, sink, "append"))(
      () => ms.addData(evs.filter(_._1 < halfId): _*),
      () => ms.addData(evs.filter(_._1 >= halfId) :+
        ((888888L, maxTs + 86400L * 1000000L, -1L)): _*),
      () => ms.addData((888889L, maxTs + 2 * 86400L * 1000000L, -1L)))
    s.table(sink).filter(col("user_id") >= 0)
      .orderBy("user_id", "start_us")
  }

  /** tmp_stream_sliding body: OVERLAPPING sliding windows (1 h window,
    * 30 min slide) driver-visible — every event lands in exactly two
    * windows, so the final complete-mode table doubles memberships in
    * a way the oracle derives arithmetically (each event contributes
    * to starts floor30(t) and floor30(t) − 30 min). Two micro-batches;
    * cumulative counts must merge across the batch boundary. */
  def streamSlidingQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val rows = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
        .as[(Long, Long, Double)].collect().toSeq
      val halfId = rows.map(_._1).max / 2
      val (ms, raw) = memoryStream[(Long, Long, Double)](s, "event_id", "ts_us", "value")
      val agg = raw.withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("cents"))
        .select(unix_micros(col("window.start")).as("start_us"),
          col("n"), col("cents"))
      drive(toMemory(agg, "graft_stream_sliding_sink", "complete"))(
        () => ms.addData(rows.filter(_._1 < halfId): _*),
        () => ms.addData(rows.filter(_._1 >= halfId): _*))
      s.table("graft_stream_sliding_sink").orderBy("start_us")
    }

  /** tmp_stream_dedup_wm body: Spark's NATIVE watermarked streaming
    * dedup (dropDuplicatesWithinWatermark) driver-visible, proving BOTH
    * halves of its contract across three micro-batches:
    *  - cross-batch state: batch 2 re-sends keys batch 1 emitted (with
    *    a 'b2' marker payload) — all dropped, so any emitted 'b2' row
    *    means state did not cross the boundary;
    *  - watermark EVICTION: a far-future sentinel in batch 2 pushes the
    *    global watermark past every batch-1 key's expiry (first-seen ts
    *    + 1 h delay), so batch 3's re-sends of batch-1 keys EMIT — a
    *    missing 'b3' row means state never ages out (unbounded state =
    *    the thing the watermark bound exists to prevent at 100 TB).
    * The oracle states the expected final table arithmetically (batch-1
    * rows + batch-2 new keys + the id%5==1 re-sends). */
  def streamDedupWmQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val evs = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .as[(Long, Long)].collect().toSeq
      val half = evs.map(_._1).max / 2
      val b1 = evs.filter(_._1 < half).map { case (id, ts) => (id, ts, "b1") }
      val maxTs1 = b1.map(_._2).max
      val b2dups = b1.collect { case (id, _, _) if id % 3 == 0 =>
        (id, maxTs1 + 600L * 1000000, "b2") }
      val b2new = evs.filter(_._1 >= half)
        .map { case (id, ts) => (id, ts, "b2n") }
      // the fixture slice spans up to ~30 days: the 90-day delay keeps
      // EVERY batch-1 key alive through batch 2 (no accidental
      // eviction), and the +400-day sentinel pushes the watermark past
      // every expiry before batch 3 (guaranteed eviction)
      val sentinelTs = maxTs1 + 400L * 86400 * 1000000
      val b3 = b1.collect { case (id, _, _) if id % 5 == 1 =>
        (id, sentinelTs + 86400L * 1000000, "b3") }
      val (ms, raw) = memoryStream[(Long, Long, String)](s, "key", "ts_us", "src")
      val src = raw.withColumn("ts", timestamp_micros(col("ts_us")))
      val dd = StreamingOps.dedupStream(src, "key", "90 days")
        .select(col("key"), col("src"), col("ts_us"))
      drive(toMemory(dd, "graft_stream_ddwm_sink", "append"))(
        () => ms.addData(b1: _*),
        () => ms.addData((b2dups ++ b2new) :+ ((-1L, sentinelTs, "s")): _*),
        () => ms.addData(b3: _*))
      s.table("graft_stream_ddwm_sink").filter(col("key") >= 0)
        .orderBy("key", "src")
    }

  /** tmp_stream_enrich body: stream-STATIC enrichment join — the
    * dominant production stream shape (events joined to a dimension
    * table) that needs NO watermark and no state: the static side
    * broadcasts into every micro-batch. Two micro-batches of events
    * left-join a planted per-user dimension (some users deliberately
    * absent — outer semantics on a stream); final table ≡ the batch
    * left join, value-exact. */
  def streamEnrichQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val evs = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("user_id"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long)].collect().toSeq
      val half = evs.map(_._1).max / 2
      // planted dimension: only users with user_id % 3 != 1 have a tier
      val dim = s.range(0, 10000).select(col("id").as("user_id"))
        .filter(pmod(col("user_id"), lit(3)) =!= 1)
        .withColumn("tier", concat(lit("t"), pmod(col("user_id"), lit(4))))
      val (ms, src) = memoryStream[(Long, Long, Long)](s, "event_id", "user_id", "cents")
      val joined = src.join(broadcast(dim), Seq("user_id"), "left_outer")
        .select(col("event_id"), col("user_id"), col("cents"), col("tier"))
      drive(toMemory(joined, "graft_stream_enrich_sink", "append"))(
        () => ms.addData(evs.filter(_._1 < half): _*),
        () => ms.addData(evs.filter(_._1 >= half): _*))
      s.table("graft_stream_enrich_sink").orderBy("event_id")
    }

  /** tmp_stream_union body: MULTI-SOURCE streaming plan — two
    * independent streams (disjoint event slices standing in for, e.g.,
    * two regional ingest topics) union into ONE aggregation whose
    * state spans both sources and both micro-batch rounds. Complete
    * mode; the oracle recomputes over the union of both slices in one
    * batch pass, so dropped/duplicated legs or per-source state
    * mismatch. */
  def streamUnionQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val evs = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, String, Long)].collect().toSeq
      val half = evs.map(_._1).max / 2
      val cols = Seq("event_id", "user_id", "event_type", "cents")
      val (msA, srcA) = memoryStream[(Long, Long, String, Long)](s, cols: _*)
      val (msB, srcB) = memoryStream[(Long, Long, String, Long)](s, cols: _*)
      val agg = srcA.unionByName(srcB)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      // each source delivers HALF its slice per round: state must
      // merge across sources AND rounds
      val (a, b) = evs.partition(_._1 < half)
      val (a1, a2) = a.splitAt(a.size / 2)
      val (b1, b2) = b.splitAt(b.size / 2)
      drive(toMemory(agg, "graft_stream_union_sink", "complete"))(
        () => { msA.addData(a1: _*); msB.addData(b1: _*) },
        () => { msA.addData(a2: _*); msB.addData(b2: _*) })
      s.table("graft_stream_union_sink").orderBy("event_type")
    }

  /** tmp_stream_scan body: ARBITRARY streaming state driver-visible —
    * the KQL `scan` state machine (per-user running cents sum) runs on
    * a stream via flatMapGroupsWithState: batch 2's sums must CONTINUE
    * from batch 1's persisted machine state, and the oracle is the
    * batch window recompute over both batches, so a state reset at the
    * boundary mismatches every batch-2 row of a user seen in batch 1.
    * File sink + checkpoint (memory sinks cannot recover state);
    * AvailableNow drains per batch. */
  def streamScanQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val evs = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .as[(Long, Long, Long, Long)].collect().toSeq
      val halfId = evs.map(_._1).max / 2
      val (ms, src) = memoryStream[(Long, Long, Long, Long)](s,
        "event_id", "user_id", "ts_us", "cents")
      val q =
        """src
          | partition by user_id (sort by ts_us asc, event_id asc
            | scan declare (rs:long=0) with (step s: true => rs = rs + cents))
          | project user_id, event_id, rs"""
      val out = Kql.runStream(s, q, dir, Map("src" -> src))
      val ckpt = GraftSession.scratch("scan_ckpt")
      val outDir = GraftSession.scratch("scan_out")
      ms.addData(evs.filter(_._1 < halfId): _*)
      StreamingOps.runToParquet(out, outDir, ckpt)
      ms.addData(evs.filter(_._1 >= halfId): _*)
      StreamingOps.runToParquet(out, outDir, ckpt)
      s.read.parquet(outDir).orderBy("user_id", "event_id")
    }

  /** tmp_stream_matview_refresh body (r12): the AT-REST materialized
    * view (MatViewLayout) maintained BY a stream. The store seeds from
    * rows ≤ 700; two micro-batches (split at 1400) each append their
    * rows to the live source path and fold them into the store at the
    * partial level, advancing the cursor. After the stream the cursor
    * sits at the high-water mark, so the final read is served from the
    * STORE ALONE (the delta scan matches nothing) — yet it must equal
    * DuckDB's one-shot aggregation over all 2000 source rows. A
    * dropped/duplicated batch row, a broken partial merge (avg, HLL
    * dcount, arg_max struct), or a cursor bug all mismatch. */
  def streamMatViewRefreshQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val ev = graft.kql.Catalog(s, dir).table("events")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("bin_h"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_type"))
      val stage = GraftSession.scratch("mv_live_stage")
      // seed under __batch_id=-1: the maintainer writes each micro-batch
      // to its own __batch_id partition (idempotent replays), so the
      // stage layout must be uniformly partitioned
      ev.filter(col("event_id") <= 700)
        .withColumn("__batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("__batch_id").parquet(stage)
      val aggs = Seq(
        graft.sources.MatAgg("count", "", "n"),
        graft.sources.MatAgg("sum", "cents", "s"),
        graft.sources.MatAgg("avg", "cents", "avg_c"),
        graft.sources.MatAgg("dcount", "event_type", "d_types"),
        graft.sources.MatAgg("arg_max", "event_id|event_type", "latest_type"))
      graft.sources.MatViewLayout.build(s.read.parquet(stage),
        "graft_mv_stream", "events_live", Seq("bin_h"), aggs,
        "event_id", 700L)
      val rows = ev.filter(col("event_id") > 700)
        .as[(Long, Long, Long, String)].collect().toSeq
      val (ms, src) = memoryStream[(Long, Long, Long, String)](s,
        "event_id", "bin_h", "cents", "event_type")
      drive(StreamingOps.matViewMaintainStream(
          src, "graft_mv_stream", stage, "event_id"))(
        () => ms.addData(rows.filter(_._1 <= 1400): _*),
        () => ms.addData(rows.filter(_._1 > 1400): _*))
      // the maintainer rewrote meta and store from the stream's own
      // session; this session may still hold an earlier run's listing
      s.catalog.refreshTable("graft_mv_stream_meta")
      // cursor must sit at the stream's high-water mark: the read below
      // is then served from the store alone (delta scan empty)
      val cur = s.table("graft_mv_stream_meta").head().getLong(4)
      s.catalog.refreshTable(s"graft_mv_stream_store_c$cur")
      require(cur == rows.map(_._1).max,
        s"matview maintainer left cursor at $cur")
      graft.sources.MatViewLayout.read(s, "graft_mv_stream",
        _ => s.read.parquet(stage))
        .orderBy("bin_h")
    }

  def streamMatViewQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      graft.sources.BucketedLayout.clearStale(s, "graft_stream_matview")
      // epoch-µs ints into the stream (session TZ is UTC, so the NTZ
      // cast is identity) — matches the oracle's epoch_us convention
      val rows = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
        .as[(Long, Long, Double)].collect().toSeq
      val (ms, src) = memoryStream[(Long, Long, Double)](s, "event_id", "ts_us", "value")
      val agg = src
        .groupBy(expr("ts_us div 3600000000").as("bin_h"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("s"))
      drive(StreamingOps.matViewStream(agg, "graft_stream_matview"))(
        () => ms.addData(rows.filter(_._1 < 1000): _*),
        () => ms.addData(rows.filter(_._1 >= 1000): _*))
      s.catalog.refreshTable("graft_stream_matview")
      StreamingOps.matViewRead(s, "graft_stream_matview", Seq("bin_h"))
        .select(col("bin_h"), col("n"), col("s"), col("n_updates"))
        .orderBy("bin_h")
    }

  /** tmp_stream_matview_late body (r7): WATERMARK semantics made
    * driver-visible — the same update-mode materialized view as
    * [[streamMatViewQuery]] but with `withWatermark(ts, 3700s)` and a
    * synthetic STRAGGLER injected into batch 2 that replays batch 1's
    * EARLIEST timestamp (hours below the watermark, which advanced to
    * max(batch-1 ts) − 3700 s after batch 1). Structured Streaming
    * must DROP it, so the final view equals the batch recompute over
    * the real events only — if the straggler leaked into its
    * (batch-1-owned) bin, that bin's n, s (distinctive 12345.00
    * value), and n_updates would all mismatch. The 3700 s delay is
    * deliberately NOT hour-aligned and the fixture's batch-2 rows all
    * sit ABOVE batch 1's max ts, so no real row is near the
    * watermark boundary — the drop decision is unambiguous on any
    * boundary convention. */
  def streamMatViewLateQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      graft.sources.BucketedLayout.clearStale(s, "graft_stream_matview_late")
      val evs = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_id") <= 2000)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
        .as[(Long, Long, Double)].collect().toSeq
      val b1 = evs.filter(_._1 <= 1000)
      val b2 = evs.filter(_._1 > 1000) :+ ((999999L, b1.map(_._2).min, 12345.0))
      val (ms, raw) = memoryStream[(Long, Long, Double)](s, "event_id", "ts_us", "value")
      val src = raw.withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "3700 seconds")
      val agg = src.groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("s"))
        .select(expr("unix_micros(window.start) div 3600000000").as("bin_h"),
          col("n"), col("s"))
      drive(StreamingOps.matViewStream(agg, "graft_stream_matview_late"))(
        () => ms.addData(b1: _*),
        () => ms.addData(b2: _*))
      s.catalog.refreshTable("graft_stream_matview_late")
      StreamingOps.matViewRead(s, "graft_stream_matview_late", Seq("bin_h"))
        .select(col("bin_h"), col("n"), col("s"), col("n_updates"))
        .orderBy("bin_h")
    }

  /** tmp_stream_join body (r8): STREAM-STREAM inner join parity — the
    * one §2.10 join shape the earlier rows don't cover (stream-static
    * joins are spec'd in StreamingSpec; this is two unbounded sides
    * with watermark-bounded state). Clicks and purchases from `events`
    * arrive on two MemoryStreams in two time-split micro-batches each;
    * the join matches purchases to same-user clicks within the
    * preceding hour. Both sides carry 3700 s watermarks, so click
    * state is evicted once it can no longer match a future purchase —
    * bounded state, the 100 TB requirement.
    *
    * Losslessness (what makes the batch oracle VALID): batches split
    * at event_id 516 and 836, and the fixture's events are
    * time-ordered, so every later-batch row sits above the previous
    * batch's max ts M. After each batch the watermark is M − 3700 s; a
    * click is evicted only when it cannot match any
    * event-time ≥ watermark purchase, i.e. clicks older than
    * M − 3700 s − 1 h. Any cross-batch match needs
    * click ts > (purchase ts) − 1 h ≥ M − 1 h — above the eviction
    * bound — so append-mode emission equals the batch join exactly,
    * and the result hash-compares to DuckDB's plain two-sided join.
    * The split ids are chosen so a cross-batch pair EXISTS at both
    * verify SFs (sf0.001: click 515 ⋈ purchase 517 across the first
    * boundary; sf0.01: click 834 ⋈ purchase 839 across the second) —
    * join state provably crossed micro-batches; the spec pins it. */
  def streamStreamJoinQuery(s: SparkSession, dir: String): DataFrame =
    // A two-sided streaming join instantiates FOUR state stores per
    // shuffle partition per micro-batch; at the session's 32 partitions
    // × 3 batches that is ~400 store open/commit cycles on a ~600-row
    // harness feed (measured 21.4 s — pure fixed overhead, not data).
    // Pin the join's state partitioning to 2 for this query; a real
    // deployment sizes this to the cluster (the state partition count
    // is a per-query deployment dial, not a library default). At
    // sub-kilobyte harness batches the commit overhead is the whole
    // cost (32->4 measured 21.4->4.0 s in r8; 4->2 shaves the remaining
    // floor).
    pinned(s, joinShuffle) { s =>
      val evs = clicksAndPurchases(s, dir)
      val (msC, clicks) = joinSide(s, "c")
      val (msP, purchases) = joinSide(s, "p")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("c_id").as("click_id"), col("p_id").as("purchase_id"),
          col("c_user").as("user_id"),
          (col("p_ts_us") - col("c_ts_us")).as("dt_us"))
      def feed(batch: Seq[(Long, Long, Long, String)]): Unit = {
        msC.addData(batch.filter(_._4 == "click").map(t => (t._1, t._2, t._3)): _*)
        msP.addData(batch.filter(_._4 == "purchase").map(t => (t._1, t._2, t._3)): _*)
      }
      drive(toMemory(joined, "graft_stream_join_sink", "append"))(
        () => feed(evs.filter(_._1 < 516)),
        () => feed(evs.filter(t => t._1 >= 516 && t._1 < 836)),
        () => feed(evs.filter(_._1 >= 836)))
      s.table("graft_stream_join_sink").orderBy("click_id", "purchase_id")
    }

  private val joinShuffle = "spark.sql.shuffle.partitions" -> "2"

  /** The click and purchase events of the stream-join rows' bounded
    * slice, as (event_id, user_id, ts_us, event_type). */
  private def clicksAndPurchases(s: SparkSession,
                                 dir: String): Seq[(Long, Long, Long, String)] = {
    import s.implicits._
    s.read.parquet(s"$dir/events.parquet")
      .filter(col("event_id") <= 2000 &&
        col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSeq
  }

  /** One side of the stream-join rows: (id, user, ts_us) rows with
    * columns prefixed `pre`, an event-time column and a 3700 s
    * watermark. */
  private def joinSide(s: SparkSession, pre: String) = {
    import s.implicits._
    val (ms, raw) = memoryStream[(Long, Long, Long)](s,
      s"${pre}_id", s"${pre}_user", s"${pre}_ts_us")
    (ms, raw.withColumn(s"${pre}_ts", timestamp_micros(col(s"${pre}_ts_us")))
      .withWatermark(s"${pre}_ts", "3700 seconds"))
  }

  /** tmp_stream_join_left body: stream-stream LEFT OUTER join — the
    * semantics the inner row can't show: an unmatched click emits its
    * null-extended row only when the global watermark passes the end of
    * its join window (state-timeout emission, not join-time emission).
    * Sentinel batches on BOTH sides (global watermark = min across
    * sources) push the watermark past every real click's window, and a
    * second sentinel batch triggers the flush (emissions happen in the
    * batch AFTER the watermark advances). Parity: the final table must
    * equal DuckDB's plain batch LEFT JOIN — extra null rows for
    * actually-matched clicks, or missing null rows for unmatched ones,
    * both mismatch. */
  def streamStreamLeftJoinQuery(s: SparkSession, dir: String): DataFrame =
    // 2 partitions: same state-store-commit reasoning as the inner join
    pinned(s, joinShuffle) { s =>
      val evs = clicksAndPurchases(s, dir)
      val maxTs = evs.map(_._3).max
      val (msC, clicks) = joinSide(s, "c")
      val (msP, purchases) = joinSide(s, "p")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
        .select(col("c_id").as("click_id"), col("p_id").as("purchase_id"),
          col("c_user").as("user_id"),
          (col("p_ts_us") - col("c_ts_us")).as("dt_us"))
      def feed(batch: Seq[(Long, Long, Long, String)]): Unit = {
        msC.addData(batch.filter(_._4 == "click").map(t => (t._1, t._2, t._3)): _*)
        msP.addData(batch.filter(_._4 == "purchase").map(t => (t._1, t._2, t._3)): _*)
      }
      def sentinel(daysAhead: Long): Unit = {
        msC.addData((777000L + daysAhead, -1L, maxTs + daysAhead * 86400000000L))
        msP.addData((778000L + daysAhead, -1L, maxTs + daysAhead * 86400000000L))
      }
      // 3 blocking rounds, not 4 (r11): the first sentinel pair rides
      // the second data batch — watermarks update BETWEEN batches, so
      // the combined batch still joins its real rows under the old
      // watermark, and the final sentinel batch flushes every
      // unmatched click exactly as before (output-invariant; each
      // round is 4 state stores × partitions of commit overhead)
      drive(toMemory(joined, "graft_stream_join_left_sink", "append"))(
        () => feed(evs.filter(_._1 < 836)),
        () => { feed(evs.filter(_._1 >= 836)); sentinel(3) },
        () => sentinel(6))
      s.table("graft_stream_join_left_sink").filter(col("user_id") >= 0)
        .orderBy("click_id", "purchase_id")
    }

  /** tmp_stream_hard_negatives body (r14): ONLINE hard-negative mining —
    * two micro-batches of anchor vectors probe the at-rest IVF index
    * ([[graft.streaming.StreamingOps.hardNegativesStream]]); committed
    * per-batch partitions union to the final table. nProbe = nLists
    * probes every cell, so the stream's output equals the brute-force
    * scan over the same anchors EXACTLY — the oracle is the plain
    * all-pairs SQL replay (quantized cosine ranking, id tie-breaks),
    * no index state in the oracle at all. Statelessness is the point:
    * the index is read-only, so batch boundaries cannot change results
    * (pruned-probe parity is spec-pinned in StreamingSpec). */
  def streamHardNegativesQuery(s: SparkSession, dir: String): DataFrame =
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val e = embs(s, dir)
      // the anchor index is rebuilt into a fresh scratch directory on
      // every pass, never reused from a previous run; the build is this
      // streaming row's seed setup and is priced in it
      val path = GraftSession.scratch("hn_stream_idx")
      val cents = LlmOps.buildIvfIndex(e, path, nLists = 8)
      graft.sources.BucketedLayout.clearStale(s, "graft_stream_hn")
      val anchors = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>"))
        .as[(Long, Long, Seq[Double])].collect().toSeq
      val (ms, src) = memoryStream[(Long, Long, Seq[Double])](s,
        "vec_id", "label", "embedding")
      drive(StreamingOps.hardNegativesStream(
          src, path, cents, "graft_stream_hn", k = 5, nProbe = 8))(
        () => ms.addData(anchors.filter(_._1 % 200 == 0): _*),
        () => ms.addData(anchors.filter(_._1 % 200 != 0): _*))
      s.catalog.refreshTable("graft_stream_hn")
      s.table("graft_stream_hn")
        .select(col("anchor_id"), col("rank"), col("neg_id"), col("cos_u"))
        .orderBy("anchor_id", "rank")
    }

  /** Pristine-state manager for the streaming cosine-dedup harness (r10
    * verdict task 1: the one-time index build must not be timed inside
    * the streaming row). The build is an at-rest artifact — a deployed
    * pipeline builds the seed index ONCE and streams forever — so the
    * timed streaming row only needs the index RESTORED to its seed
    * state (the stream's appends are new files in the bucketed tables;
    * deleting them is O(appended files), not a rebuild). The full build
    * is carried by the tmp_stream_cosine_index row in the index-build
    * bench class. */
  private val cosIdxTables = Seq("graft_stream_cos_idx_bands",
    "graft_stream_cos_idx_vecs", "graft_stream_cos_idx_meta")
  private val cosIdxState =
    new java.util.concurrent.atomic.AtomicReference[(String, Set[String])](null)
  /** Fixture-derived exact-audit ground truth AT REST (r11 verdict
    * task 2: the memoAudit JVM-lifetime map was flagged as soft result
    * caching — its rows fed timed query plans while surviving the
    * bench's per-query cache sweep). The scale-path contract rows
    * (LSH/minhash/semdedup/incremental dedup) each carry an
    * EXACT-reference side whose only purpose is to check the operator
    * under test; that reference is a pure function of the fixture
    * (DuckDB recomputes it independently on every driver run). It now
    * lives in small warehouse tables written by the dedicated
    * llm_audit_* rows of the index-build bench class — each of those
    * rows REBUILDS its tables from the parquet inputs on every timed
    * pass (the tmp_stream_cosine_index convention), so the audit work
    * is re-paid inside the bench total on every pass. Consumers read
    * the tables; `auditBuilt` tracks only WHICH dir the tables on disk
    * were built from, so a consumer that runs before its builder in a
    * fresh JVM (Verify, specs, bench pass 1 under Map ordering) builds
    * them once itself — it never skips work a builder row's timed body
    * does not re-pay. (`auditBuilt` itself is declared with the image
    * plant at the top of this object.) */

  /** Exact UNBLOCKED cosine pairs over the full corpus, materialized as
    * the three audit tables they ground: semdedup's all-pairs drop set,
    * the streaming-dedup per-odd partner classes and the incremental
    * cosine-dedup should-drop set (both over label≤3 endpoints — the
    * label≤3 pair set is exactly the full unblocked pair set with both
    * endpoints label≤3, so one all-pairs pass feeds all three). */
  private[graft] def buildCosAllAudit(s: SparkSession, dir: String): Unit = {
    val e = embs(s, dir)
    val p = LlmOps.similarityPairs(e.withColumn("__all", lit(1)), 0.3,
        blockCol = "__all", salt = 64)
      .select("i", "j").persist()
    val lab = e.select(col("vec_id"), col("label"))
    val p3 = p
      .join(lab.select(col("vec_id").as("i"), col("label").as("li")), "i")
      .join(lab.select(col("vec_id").as("j"), col("label").as("lj")), "j")
      .filter(col("li") <= 3 && col("lj") <= 3)
      .select("i", "j").persist()
    val undirected = p3.select(col("i").as("x"), col("j").as("y"))
      .union(p3.select(col("j").as("x"), col("i").as("y")))
    val cls = undirected.filter(pmod(col("x"), lit(2)) === 1)
      .groupBy("x").agg(
        max((pmod(col("y"), lit(2)) === 0).cast("int")).as("has_even"),
        max((pmod(col("y"), lit(4)) === 1 && pmod(col("x"), lit(4)) === 1 &&
          col("y") < col("x")).cast("int")).as("has_lower_b1"),
        max((pmod(col("y"), lit(4)) === 1 && pmod(col("x"), lit(4)) === 3)
          .cast("int")).as("has_b1"),
        max((pmod(col("y"), lit(4)) === 3 && pmod(col("x"), lit(4)) === 3 &&
          col("y") < col("x")).cast("int")).as("has_lower_b2"))
    val should = p3.filter(pmod(col("j"), lit(2)) === 1)
      .select(col("j").as("vec_id"))
      .union(p3.filter(pmod(col("i"), lit(2)) === 1 &&
          pmod(col("j"), lit(2)) === 0)
        .select(col("i").as("vec_id")))
      .distinct()
    // three independent tables off the shared persisted pair frames —
    // overlapped (§2.6): each writePlain pays a drop+create+commit tail
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writePlain(
        p.select(col("j").as("vec_id")).distinct(), "graft_audit_sem_drops"),
      () => graft.sources.BucketedLayout.writePlain(
        cls, "graft_audit_cos_stream_cls"),
      () => graft.sources.BucketedLayout.writePlain(
        should, "graft_audit_cos_incr_should"))
    p3.unpersist(false); p.unpersist(false)
    auditBuilt.put("cos_all", dir)
  }

  /** Exact LABEL-BLOCKED cosine pairs over the full corpus → the pair
    * table (similarity-LSH recall audit), the drop set (LSH-dedup
    * survivor audit) and the label≤3 exact clustering (LSH-groups
    * refinement audit). */
  private[graft] def buildCosBlockedAudit(s: SparkSession, dir: String): Unit = {
    val e = embs(s, dir)
    val p = LlmOps.similarityPairs(e, 0.3).select("blk", "i", "j").persist()
    // the clustering's CC loop materializes during the call; the three
    // table writes are then independent — overlapped (§2.6)
    val groups = LlmOps.cosineGroupsFromPairs(
        e.filter(col("label") <= 3), p.filter(col("blk") <= 3))
      .select(col("vec_id"), col("group_id"), col("keep"))
    graft.sources.BucketedLayout.concurrently(
      () => graft.sources.BucketedLayout.writePlain(
        p.select("i", "j"), "graft_audit_sim_pairs"),
      () => graft.sources.BucketedLayout.writePlain(
        p.select(col("j").as("vec_id")).distinct(), "graft_audit_cos_drops_blk"),
      () => graft.sources.BucketedLayout.writePlain(
        groups, "graft_audit_cos_groups"))
    p.unpersist(false)
    auditBuilt.put("cos_blocked", dir)
  }

  /** Exact Jaccard pairs over the 4 audit source blocks (minhash-LSH
    * recall/false-positive audit). */
  private[graft] def buildJaccardBlocksAudit(s: SparkSession, dir: String): Unit = {
    val audit = docs(s, dir)
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
    graft.sources.BucketedLayout.writePlain(
      LlmOps.jaccardPairs(audit, 0.8, blockCol = Some("source"))
        .select("i", "j"),
      "graft_audit_mh_pairs")
    auditBuilt.put("jac_blocks", dir)
  }

  /** Exact-Jaccard should-drop set for the incremental minhash dedup:
    * batch doc ids (≥ the id-midpoint cut) with ANY lower-id exact
    * partner over the src0/src1 corpus. */
  private[graft] def buildJaccardIncrAudit(s: SparkSession, dir: String): Unit = {
    val d4 = docs(s, dir).filter(col("source").isin("src0", "src1"))
    val mm = d4.agg(min("doc_id"), max("doc_id")).head
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    graft.sources.BucketedLayout.writePlain(
      LlmOps.jaccardPairs(d4, 0.8).select(col("j").as("doc_id"))
        .filter(col("doc_id") >= cut).distinct(),
      "graft_audit_mh_drops")
    auditBuilt.put("jac_incr", dir)
  }

  private def tableFiles(s: SparkSession, table: String): Set[String] = {
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) Set.empty
    else {
      val it = fs.listFiles(loc, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.result()
    }
  }

  private[graft] def buildPristineCosIndex(s: SparkSession, dir: String): Unit = {
    val e = embs(s, dir).filter(col("label") <= 3)
    // table-bucket count sized to the harness corpus (~400 seed vectors):
    // 4 file-buckets keeps every append at 4 files instead of 16 — the
    // bucket count is the at-rest layout dial (thousands at 100 TB), and
    // the LSH (band, bucket) join keys are untouched by it
    LlmOps.buildCosineIndex(
      e.filter(pmod(col("vec_id"), lit(2)) === 0), "graft_stream_cos_idx", 0.3,
      buckets = 4)
    cosIdxState.set((dir, cosIdxTables.flatMap(tableFiles(s, _)).toSet))
  }

  /** Restore the seed index if this session already built it for `dir`
    * (delete the stream's appended files, refresh); build it otherwise. */
  private def ensurePristineCosIndex(s: SparkSession, dir: String): Unit =
    cosIdxState.get() match {
      case (d, pristine) if d == dir =>
        cosIdxTables.foreach { t =>
          val extra = tableFiles(s, t) -- pristine
          if (extra.nonEmpty) {
            val fs = new org.apache.hadoop.fs.Path(extra.head)
              .getFileSystem(s.sparkContext.hadoopConfiguration)
            extra.foreach(f =>
              fs.delete(new org.apache.hadoop.fs.Path(f), false))
            s.catalog.refreshTable(t)
          }
        }
      case _ => buildPristineCosIndex(s, dir)
    }

  /** tmp_stream_cosine_dedup body (r6): the stateful streaming parity
    * row for EMBEDDING dedup — two micro-batches of odd-id vectors
    * through [[graft.streaming.StreamingOps.dedupCosineIncrementalStream]]
    * against an even-id seed index; cross-batch state is the cosine LSH
    * index AT REST (batch 1's KEPT vectors grow it, so batch 2 drops
    * against them). Corpus restricted to labels 0–3 so the exact audit
    * is CLOSED (the llm_dedup_cosine_incr convention). Facts:
    * - n_should_seed: odd vectors with an exact-cos ≥ τ partner among
    *   the evens — INDEPENDENT of engine recall, DuckDB-recomputable
    *   exactly from the pair set;
    * - n_false_drops: dropped odds with no partner in their visible
    *   superset (evens ∪ same-batch lower ids ∪, for batch 2, batch 1)
    *   — zero by construction (every drop is exact-verified against a
    *   SUBSET of that superset);
    * - recall_seed_ok: ≥ 90% of the seed-should-drop set actually
    *   dropped (banding recall floor);
    * - cross_state_drop: some batch-2 drop has NO even partner and NO
    *   lower-batch-2 partner — explainable ONLY by batch-1 kept state,
    *   the driver-visible proof the stream is stateful;
    * - n_batches = 2 (both partitions committed). */
  def streamCosineDedupQuery(s: SparkSession, dir: String): DataFrame =
    // 800 label<=3 vectors through 2 micro-batches + a closed audit: at
    // 32 shuffle partitions every foreachBatch join/commit is pure task
    // overhead (the tmp_stream_join 21.4->4.0 s lesson)
    pinned(s, lowShuffle) { s =>
      import s.implicits._
      val e = embs(s, dir).filter(col("label") <= 3)
      ensurePristineCosIndex(s, dir)
      graft.sources.BucketedLayout.clearStale(s, "graft_stream_cos_kept")
      val odds = e.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect().toSeq
      val (ms, src) = memoryStream[(Long, Seq[Double])](s, "vec_id", "embedding")
      drive(StreamingOps.dedupCosineIncrementalStream(
          src, "graft_stream_cos_idx", "graft_stream_cos_kept"))(
        () => ms.addData(odds.filter(_._1 % 4 == 1): _*),
        () => ms.addData(odds.filter(_._1 % 4 == 3): _*))
      s.catalog.refreshTable("graft_stream_cos_kept")
      val kept = s.table("graft_stream_cos_kept")
        .select(col("vec_id"), col("__batch_id").cast("long").as("bid"))
      // closed exact audit over the full label<=3 corpus. The per-odd
      // partner-class table is a PURE FUNCTION of the fixture (exact
      // cosine pairs among ≤4-label vectors — oracle-side ground truth,
      // not engine output); it lives at rest in graft_audit_cos_stream_cls,
      // rebuilt from parquet on every pass by the llm_audit_cos_all
      // index-build row (r11 verdict task 2 — no JVM-memoized query data).
      if (auditBuilt.get("cos_all") != dir) buildCosAllAudit(s, dir)
      val cls = s.table("graft_audit_cos_stream_cls")
      val audit = e.filter(pmod(col("vec_id"), lit(2)) === 1).select(col("vec_id"))
        .join(kept, Seq("vec_id"), "left_outer")
        .join(broadcast(cls.withColumnRenamed("x", "vec_id")), Seq("vec_id"), "left_outer")
        .na.fill(0, Seq("has_even", "has_lower_b1", "has_b1", "has_lower_b2"))
        .withColumn("dropped", col("bid").isNull)
        .withColumn("superset_ok", when(pmod(col("vec_id"), lit(4)) === 1,
            col("has_even") === 1 || col("has_lower_b1") === 1)
          .otherwise(col("has_even") === 1 || col("has_b1") === 1 ||
            col("has_lower_b2") === 1))
      audit.agg(
          sum(when(col("has_even") === 1, 1L).otherwise(0L)).as("n_should_seed"),
          sum(when(col("dropped") && !col("superset_ok"), 1L).otherwise(0L))
            .as("n_false_drops"),
          sum(when(col("dropped") && col("has_even") === 1, 1L).otherwise(0L))
            .as("dropped_seed"),
          sum(when(col("dropped") && pmod(col("vec_id"), lit(4)) === 3 &&
            col("has_even") === 0 && col("has_lower_b2") === 0, 1L).otherwise(0L))
            .as("n_cross"))
        .crossJoin(kept.agg(countDistinct(col("bid")).as("n_batches")))
        .select(col("n_should_seed"), col("n_false_drops"),
          (col("dropped_seed") >= ceil(col("n_should_seed") * 0.9)).as("recall_seed_ok"),
          (col("n_cross") >= 1L).as("cross_state_drop"),
          col("n_batches"))
    }

  // Sums of 2-decimal money doubles go through exact integer cents so the
  // result is bit-identical to the DuckDB oracle (double→decimal casts are
  // NOT cross-engine stable: Spark casts via shortest-string repr).
  private val TPCH_Q1 =
    """lineitem
      | where l_shipdate <= datetime(1998-09-02)
      | summarize sum_qty=sum(tolong(round(l_quantity))),
                  sbp=sum(tolong(round(l_extendedprice * 100))),
                  sdp=sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))),
                  avg_qty=round(avg(l_quantity), 4),
                  avg_price=round(avg(l_extendedprice), 4),
                  count_order=count()
        by l_returnflag, l_linestatus
      | extend sum_base_price = todouble(sbp) / 100.0,
               sum_disc_price = todouble(sdp) / 10000.0
      | project-away sbp, sdp
      | sort by l_returnflag asc, l_linestatus asc"""

  // =============================================================== queries
  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private lazy val inventory: List[(String, Q)] = List(

    // ---------------------------------------------------- core relational
    "q01_where_project" -> Q(kqlQ(
      """lineitem
        | where l_quantity > 30 and l_returnflag == 'A'
        | project l_orderkey, l_linenumber, l_quantity,
                  revenue = l_extendedprice * (1 - l_discount)
        | sort by l_orderkey asc, l_linenumber asc, revenue asc, l_quantity asc
        | take 100"""),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice * (1 - l_discount) AS revenue FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'A' ORDER BY l_orderkey, l_linenumber, revenue, l_quantity LIMIT 100""")),

    "q02_tpch_q1" -> Q(kqlQ(TPCH_Q1),
      Some("""SELECT l_returnflag, l_linestatus, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price, ROUND(AVG(l_quantity), 4) AS avg_qty, ROUND(AVG(l_extendedprice), 4) AS avg_price, CAST(COUNT(*) AS BIGINT) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    "q03_count" -> Q(kqlQ("""lineitem | count"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS Count FROM lineitem""")),

    "q04_distinct" -> Q(kqlQ(
      """lineitem | distinct l_returnflag, l_linestatus
        | sort by l_returnflag asc, l_linestatus asc"""),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2""")),

    "q05_top" -> Q(kqlQ(
      """lineitem | top 50 by l_extendedprice desc, l_orderkey asc, l_linenumber asc, l_partkey asc, l_suppkey asc, l_quantity asc"""),
      Some("""SELECT * FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity LIMIT 50""")),

    "q06_extend_takebin" -> Q(kqlQ(
      """events
        | summarize n=count(), total_c=sum(tolong(round(value * 100))) by bin(ts, 1d)
        | extend total = todouble(total_c) / 100.0
        | project-away total_c
        | sort by ts asc"""),
      Some("""SELECT date_trunc('day', ts) AS ts, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total FROM events GROUP BY 1 ORDER BY 1""")),

    "q07_bin_numeric" -> Q(kqlQ(
      """lineitem
        | summarize n=count(), avg_price=round(avg(l_extendedprice), 4) by bin(l_quantity, 5)
        | sort by l_quantity asc"""),
      Some("""SELECT FLOOR(l_quantity / 5) * 5 AS l_quantity, CAST(COUNT(*) AS BIGINT) AS n, ROUND(AVG(l_extendedprice), 4) AS avg_price FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q08_agg_family" -> Q(kqlQ(
      """lineitem
        | summarize s=sum(tolong(round(l_quantity))), c=count(),
                    ci=countif(l_discount > 0.05),
                    si=sumif(tolong(round(l_quantity)), l_returnflag == 'A'),
                    ai=round(avgif(l_quantity, l_returnflag == 'A'), 4),
                    mn=min(l_quantity), mx=max(l_quantity),
                    mnd=min(l_shipdate), mxd=max(l_shipdate),
                    sd=round(stdev(l_quantity), 4), vr=round(variance(l_quantity), 4)
        by l_linestatus
        | sort by l_linestatus asc"""),
      Some("""SELECT l_linestatus, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c, CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS ci, CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(ROUND(l_quantity) AS BIGINT) END) AS BIGINT) AS si, ROUND(AVG(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 4) AS ai, MIN(l_quantity) AS mn, MAX(l_quantity) AS mx, MIN(l_shipdate) AS mnd, MAX(l_shipdate) AS mxd, ROUND(STDDEV_SAMP(l_quantity), 4) AS sd, ROUND(VAR_SAMP(l_quantity), 4) AS vr FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q09_tpch_q3" -> Q(kqlQ(
      """customer
        | where c_mktsegment == 'BUILDING'
        | join kind=inner (orders) on $left.c_custkey == $right.o_custkey
        | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
        | summarize rc=sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
            by o_orderkey, o_orderdate
        | extend revenue = todouble(rc) / 10000.0
        | project-away rc
        | sort by revenue desc, o_orderkey asc
        | take 20"""),
      Some("""SELECT o_orderkey, o_orderdate, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = 'BUILDING' GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 20""")),

    "q10_tpch_q5" -> Q(kqlQ(
      """region
        | where r_name == 'ASIA'
        | join kind=inner (nation) on $left.r_regionkey == $right.n_regionkey
        | join kind=inner (customer) on $left.n_nationkey == $right.c_nationkey
        | join kind=inner (orders) on $left.c_custkey == $right.o_custkey
        | where o_orderdate >= datetime(1996-01-01) and o_orderdate < datetime(1997-01-01)
        | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | where s_nationkey == n_nationkey
        | summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))) by n_name
        | extend revenue = todouble(rc) / 10000.0
        | project-away rc
        | sort by revenue desc, n_name asc"""),
      Some("""SELECT n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue FROM region JOIN nation ON r_regionkey = n_regionkey JOIN customer ON n_nationkey = c_nationkey JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey JOIN supplier ON l_suppkey = s_suppkey WHERE r_name = 'ASIA' AND s_nationkey = n_nationkey AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    "q11_join_leftouter" -> Q(kqlQ(
      """customer
        | join kind=leftouter (orders | summarize n_orders=count() by o_custkey)
            on $left.c_custkey == $right.o_custkey
        | project c_custkey, c_name, n_orders = coalesce(n_orders, 0)
        | sort by c_custkey asc"""),
      Some("""SELECT c_custkey, c_name, COALESCE(n_orders, 0) AS n_orders FROM customer LEFT JOIN (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1) o ON c_custkey = o_custkey ORDER BY c_custkey""")),

    "q12_join_semi_anti" -> Q(kqlQ(
      """customer
        | join kind=leftsemi (orders | where o_totalprice > 300000) on $left.c_custkey == $right.o_custkey
        | join kind=leftanti (orders | where o_orderstatus == 'F') on $left.c_custkey == $right.o_custkey
        | project c_custkey, c_name
        | sort by c_custkey asc"""),
      Some("""SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000) AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') ORDER BY c_custkey""")),

    "q13_lookup" -> Q(kqlQ(
      """lineitem
        | lookup (supplier) on $left.l_suppkey == $right.s_suppkey
        | summarize tc=sum(tolong(round(l_extendedprice * 100))) by s_name
        | extend total = todouble(tc) / 100.0
        | project-away tc
        | sort by s_name asc"""),
      Some("""SELECT s_name, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1 ORDER BY 1""")),

    "q14_union" -> Q(kqlQ(
      """union (lineitem | where l_returnflag == 'A' | extend src='flagA'),
              (lineitem | where l_returnflag == 'R' | extend src='flagR')
        | summarize n=count() by src, l_linestatus
        | sort by src asc, l_linestatus asc"""),
      Some("""SELECT src, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT 'flagA' AS src, l_linestatus FROM lineitem WHERE l_returnflag = 'A' UNION ALL SELECT 'flagR', l_linestatus FROM lineitem WHERE l_returnflag = 'R') GROUP BY 1, 2 ORDER BY 1, 2""")),

    "q15_string_fns" -> Q(kqlQ(
      """part
        | project p_partkey, up=toupper(p_name), ln=strlen(p_name),
                  sub=substring(p_type, 0, 5),
                  brand_num=toint(extract('([0-9]+)$', 1, p_brand)),
                  has_gear=iff(p_name contains 'GEAR', 1, 0)
        | sort by p_partkey asc"""),
      Some("""SELECT p_partkey, UPPER(p_name) AS up, CAST(LENGTH(p_name) AS BIGINT) AS ln, SUBSTRING(p_type, 1, 5) AS sub, CAST(regexp_extract(p_brand, '([0-9]+)$', 1) AS INT) AS brand_num, CAST(CASE WHEN lower(p_name) LIKE '%gear%' THEN 1 ELSE 0 END AS BIGINT) AS has_gear FROM part ORDER BY p_partkey""")),

    "q16_string_fns2" -> Q(kqlQ(
      """documents
        | project doc_id, n_tokens=array_length(split(text, ' ')),
                  first_tok=split(text, ' ', 0), rev=reverse(lang),
                  cat=strcat(lang, ':', source)
        | sort by doc_id asc"""),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, string_split(text, ' ')[1] AS first_tok, reverse(lang) AS rev, lang || ':' || source AS cat FROM documents ORDER BY doc_id""")),

    "q17_datetime_fns" -> Q(kqlQ(
      """orders
        | project o_orderkey, y=getyear(o_orderdate), mo=getmonth(o_orderdate),
                  d=dayofmonth(o_orderdate), dow=dayofweek(o_orderdate),
                  sod=startofday(o_orderdate), som=startofmonth(o_orderdate),
                  wk=week_of_year(o_orderdate),
                  nextweek=datetime_add('week', 1, o_orderdate),
                  dd=datetime_diff('day', datetime(1998-01-01), o_orderdate)
        | sort by o_orderkey asc"""),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS mo, CAST(dayofmonth(o_orderdate) AS INT) AS d, CAST(dayofweek(o_orderdate) AS INT) AS dow, date_trunc('day', o_orderdate) AS sod, date_trunc('month', o_orderdate) AS som, CAST(weekofyear(o_orderdate) AS INT) AS wk, o_orderdate + INTERVAL 7 DAY AS nextweek, CAST(datediff('day', date_trunc('day', o_orderdate), TIMESTAMP '1998-01-01') AS BIGINT) AS dd FROM orders ORDER BY o_orderkey""")),

    // Window functions inside `project` items (not just `extend`):
    // desugars through the same two-phase GlobalWindow — plan-asserted
    // in PlannerSpec ("window functions inside `project` take the
    // two-phase GlobalWindow path")
    "q187_project_window" -> Q(kqlQ(
      """orders
        | sort by o_orderkey asc
        | project o_orderkey, r = row_number(), p = prev(o_orderkey),
                  c = row_cumsum(o_custkey)"""),
      Some("""SELECT o_orderkey, CAST(ROW_NUMBER() OVER w AS BIGINT) AS r, LAG(o_orderkey) OVER w AS p, CAST(SUM(o_custkey) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM orders WINDOW w AS (ORDER BY o_orderkey)""")),

    "q18_window_fns" -> Q(kqlQ(
      """events
        | sort by user_id asc, ts asc, event_id asc
        | extend rn=row_number(), prev_val=prev(value), next_val=next(value),
                 cum=row_cumsum(value)
        | project event_id, rn, prev_val, next_val, cum_r=round(cum, 4)
        | sort by event_id asc"""),
      Some("""SELECT event_id, rn, prev_val, next_val, cum_r FROM (SELECT event_id, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn, LAG(value) OVER w AS prev_val, LEAD(value) OVER w AS next_val, ROUND(SUM(value) OVER (ORDER BY user_id, ts, event_id ROWS UNBOUNDED PRECEDING), 4) AS cum_r FROM events WINDOW w AS (ORDER BY user_id, ts, event_id)) ORDER BY event_id""")),

    "q19_sessionize" -> Q(kqlQ(
      """events
        | sort by user_id asc, ts asc, event_id asc
        | extend prev_ts = prev(ts), prev_uid = prev(user_id)
        | extend new_sess = iff(isnull(prev_ts) or prev_uid != user_id or ts - prev_ts > 30m, 1, 0)
        | extend sess = row_cumsum(new_sess)
        | summarize n=count() by user_id, sess
        | summarize sessions=count(), avg_len=round(avg(n), 4) by user_id
        | sort by user_id asc"""),
      Some("""WITH s AS (SELECT user_id, ts, event_id, LAG(ts) OVER w AS prev_ts, LAG(user_id) OVER w AS prev_uid FROM events WINDOW w AS (ORDER BY user_id, ts, event_id)), f AS (SELECT user_id, ts, event_id, CASE WHEN prev_ts IS NULL OR prev_uid != user_id OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess FROM s), c AS (SELECT user_id, CAST(SUM(new_sess) OVER (ORDER BY user_id, ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM f), g AS (SELECT user_id, sess, COUNT(*) AS n FROM c GROUP BY 1, 2) SELECT user_id, CAST(COUNT(*) AS BIGINT) AS sessions, ROUND(AVG(n), 4) AS avg_len FROM g GROUP BY 1 ORDER BY user_id""")),

    "q20_argmax" -> Q(kqlQ(
      """orders
        | summarize arg_max(o_orderkey, o_totalprice, o_orderdate) by o_orderstatus
        | sort by o_orderstatus asc"""),
      Some("""SELECT o_orderstatus, MAX(o_orderkey) AS o_orderkey, arg_max(o_totalprice, o_orderkey) AS o_totalprice, arg_max(o_orderdate, o_orderkey) AS o_orderdate FROM orders GROUP BY 1 ORDER BY 1""")),

    "q21_percentile" -> Q(kqlQ(
      """lineitem
        | summarize p50=round(percentile(l_extendedprice, 50), 4),
                    p95=round(percentile(l_extendedprice, 95), 4) by l_returnflag
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50, ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95 FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q22_count_distinct" -> Q(kqlQ(
      """orders | summarize u=count_distinct(o_custkey) by o_orderstatus
        | sort by o_orderstatus asc"""),
      Some("""SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS u FROM orders GROUP BY 1 ORDER BY 1""")),

    // NOTE on the dynamic_to_json reshapes below: the driver's oracle
    // compare sorts the frame in pandas, and multi-column frames with an
    // array-typed column break its lexsort (unhashable ndarray). Array
    // outputs therefore ship as canonical compact JSON strings on BOTH
    // sides (Spark to_json ≡ DuckDB to_json).
    "q23_make_list" -> Q(kqlQ(
      """nation | summarize names=array_sort_asc(make_list(n_name)) by n_regionkey
        | project n_regionkey, names = dynamic_to_json(names)
        | sort by n_regionkey asc"""),
      Some("""SELECT n_regionkey, CAST(to_json(list_sort(list(n_name))) AS VARCHAR) AS names FROM nation GROUP BY 1 ORDER BY 1""")),

    "q24_make_set" -> Q(kqlQ(
      """lineitem | summarize flags=make_set(l_returnflag) by l_linestatus
        | project l_linestatus, flags = dynamic_to_json(flags)
        | sort by l_linestatus asc"""),
      Some("""SELECT l_linestatus, CAST(to_json(list_sort(list(DISTINCT l_returnflag))) AS VARCHAR) AS flags FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q25_mvexpand" -> Q(kqlQ(
      """documents
        | project doc_id, toks=split(text, ' ')
        | mv-expand toks
        | summarize c=count() by tok=tostring(toks)
        | sort by c desc, tok asc
        | take 50"""),
      Some("""SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1 ORDER BY c DESC, tok LIMIT 50""")),

    "q26_parse" -> Q(kqlQ(
      """events
        | parse props with '{"k": ' kval:long '}'
        | summarize total=sum(kval), n=count() by event_type
        | sort by event_type asc"""),
      Some("""SELECT event_type, CAST(SUM(CAST(regexp_extract(props, '\{"k": (-?\d+)\}', 1) AS BIGINT)) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY 1""")),

    "q27_dynamic_json" -> Q(kqlQ(
      """events
        | extend k = tolong(props.k)
        | summarize avg_k=round(avg(k), 4), mx=max(k) by event_type
        | sort by event_type asc"""),
      Some("""SELECT event_type, ROUND(AVG(k), 4) AS avg_k, MAX(k) AS mx FROM (SELECT event_type, CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k FROM events) GROUP BY 1 ORDER BY 1""")),

    "q28_getschema" -> Q(kqlQ("""lineitem | getschema"""),
      Some("""SELECT 'l_orderkey' AS ColumnName, CAST(0 AS BIGINT) AS ColumnOrdinal, 'long' AS ColumnType UNION ALL SELECT 'l_partkey', 1, 'long' UNION ALL SELECT 'l_suppkey', 2, 'long' UNION ALL SELECT 'l_linenumber', 3, 'int' UNION ALL SELECT 'l_quantity', 4, 'real' UNION ALL SELECT 'l_extendedprice', 5, 'real' UNION ALL SELECT 'l_discount', 6, 'real' UNION ALL SELECT 'l_tax', 7, 'real' UNION ALL SELECT 'l_returnflag', 8, 'string' UNION ALL SELECT 'l_linestatus', 9, 'string' UNION ALL SELECT 'l_shipdate', 10, 'datetime' ORDER BY ColumnOrdinal""")),

    "q29_datatable" -> Q(kqlQ(
      """datatable(name:string, v:long) ['a', 1, 'b', 2, 'c', 3]
        | extend v2 = v * 10
        | sort by name asc"""),
      Some("""SELECT * FROM (VALUES ('a', CAST(1 AS BIGINT), CAST(10 AS BIGINT)), ('b', 2, 20), ('c', 3, 30)) t(name, v, v2) ORDER BY name""")),

    "q30_print_range" -> Q(kqlQ(
      """range x from 1 to 1000 step 3
        | summarize n=count(), s=sum(x), mx=max(x)"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s, CAST(MAX(x) AS BIGINT) AS mx FROM generate_series(1, 1000, 3) t(x)""")),

    "q31_case" -> Q(kqlQ(
      """lineitem
        | extend qcat = case(l_quantity < 10, 'low', l_quantity < 30, 'mid', 'high')
        | summarize n=count() by qcat, l_returnflag
        | sort by qcat asc, l_returnflag asc"""),
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qcat, l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    "q32_search" -> Q(kqlQ(
      """events | search 'error' | summarize n=count() by event_type
        | sort by event_type asc"""),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events WHERE lower(event_type) LIKE '%error%' OR lower(props) LIKE '%error%' GROUP BY 1 ORDER BY 1""")),

    "q33_top_hitters" -> Q(kqlQ(
      """documents | top-hitters 10 of source
        | sort by aggregated_source desc, source asc"""),
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS aggregated_source FROM documents GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10""")),

    "q34_innerunique" -> Q(kqlQ(
      """lineitem
        | project l_partkey
        | join kind=innerunique (part) on $left.l_partkey == $right.p_partkey
        | summarize n=count() by p_brand
        | sort by p_brand asc"""),
      Some("""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT DISTINCT l_partkey FROM lineitem) l JOIN part ON l_partkey = p_partkey GROUP BY 1 ORDER BY 1""")),

    "q35_between_in" -> Q(kqlQ(
      """lineitem
        | where l_quantity between (10 .. 20) and l_returnflag in ('A', 'N')
              and l_shipdate between (datetime(1996-01-01) .. datetime(1996-12-31))
        | summarize n=count() by l_returnflag
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'N') AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31' GROUP BY 1 ORDER BY 1""")),

    "q36_project_ops" -> Q(kqlQ(
      """lineitem
        | project-rename qty = l_quantity
        | project-keep l_orderkey, l_linenumber, qty
        | where qty > 45
        | sort by l_orderkey asc, l_linenumber asc, qty asc"""),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem WHERE l_quantity > 45 ORDER BY 1, 2, 3""")),

    "q37_string_predicates" -> Q(kqlQ(
      """part
        | where p_type startswith 'econ' and p_name has 'red'
              and p_brand endswith '3' and p_name !contains 'bolt'
        | project p_partkey, p_name, p_brand, p_type
        | sort by p_partkey asc"""),
      Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part WHERE lower(p_type) LIKE 'econ%' AND regexp_matches(p_name, '(?i)\bred\b') AND lower(p_brand) LIKE '%3' AND NOT (lower(p_name) LIKE '%bolt%') ORDER BY p_partkey""")),

    "q38_make_series" -> Q(kqlQ(
      """events
        | make-series n=count() default=0 on ts
            from datetime(2024-01-01) to datetime(2024-01-31) step 1d by event_type
        | project event_type, n = dynamic_to_json(n)
        | sort by event_type asc"""),
      // the ts axis column is dropped in the final projection (timestamp
      // JSON rendering differs across engines); the 30-element count
      // vector per type still pins grid position + fill behavior
      Some("""WITH grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 DAY)) AS t), types AS (SELECT DISTINCT event_type FROM events), binned AS (SELECT event_type, date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS cnt FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31' GROUP BY 1, 2), filled AS (SELECT ty.event_type, g.t, COALESCE(b.cnt, 0) AS cnt FROM types ty CROSS JOIN grid g LEFT JOIN binned b ON b.event_type = ty.event_type AND b.d = g.t) SELECT event_type, CAST(to_json(list(cnt ORDER BY t)) AS VARCHAR) AS n FROM filled GROUP BY event_type ORDER BY event_type""")),

    "q39_top_nested" -> Q(kqlQ(
      """lineitem
        | top-nested 3 of l_returnflag by sum(tolong(round(l_quantity))),
          top-nested 2 of l_linestatus by count()
        | sort by l_returnflag asc, l_linestatus asc"""),
      Some("""WITH l1 AS (SELECT l_returnflag, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS agg1 FROM lineitem GROUP BY 1), r1 AS (SELECT * FROM l1 QUALIFY ROW_NUMBER() OVER (ORDER BY agg1 DESC, l_returnflag) <= 3), l2 AS (SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS agg2 FROM lineitem WHERE l_returnflag IN (SELECT l_returnflag FROM r1) GROUP BY 1, 2), r2 AS (SELECT * FROM l2 QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY agg2 DESC, l_linestatus) <= 2) SELECT r1.l_returnflag, r1.agg1 AS aggregated_l_returnflag, r2.l_linestatus, r2.agg2 AS aggregated_l_linestatus FROM r1 JOIN r2 USING (l_returnflag) ORDER BY 1, 3""")),

    "q40_rank" -> Q(kqlQ(
      """lineitem
        | sort by l_extendedprice desc
        | extend rk = row_rank_min(l_extendedprice), drk = row_rank_dense(l_extendedprice),
                 pr = round(percent_rank(), 8)
        | where rk <= 100
        | project l_orderkey, l_linenumber, l_extendedprice, rk, drk, pr
        | sort by rk asc, l_orderkey asc, l_linenumber asc"""),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, rk, drk, pr FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(RANK() OVER (ORDER BY l_extendedprice DESC) AS BIGINT) AS rk, CAST(DENSE_RANK() OVER (ORDER BY l_extendedprice DESC) AS BIGINT) AS drk, ROUND(PERCENT_RANK() OVER (ORDER BY l_extendedprice DESC), 8) AS pr FROM lineitem) WHERE rk <= 100 ORDER BY rk, l_orderkey, l_linenumber""")),

    "q41_let_bindings" -> Q(kqlQ(
      """let cutoff = 45;
        let heavy = lineitem | where l_quantity > cutoff;
        heavy
        | summarize n=count(), sc=sum(tolong(round(l_extendedprice * 100))) by l_returnflag
        | extend s = todouble(sc) / 100.0
        | project-away sc
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS s FROM lineitem WHERE l_quantity > 45 GROUP BY 1 ORDER BY 1""")),

    "q42_multimodal_join" -> Q(kqlQ(
      """documents
        | join kind=inner (embeddings) on $left.doc_id == $right.vec_id
        | summarize n=count(), avg_chars=round(avg(n_chars), 4) by label, lang
        | sort by label asc, lang asc"""),
      Some("""SELECT label, lang, CAST(COUNT(*) AS BIGINT) AS n, ROUND(AVG(n_chars), 4) AS avg_chars FROM documents JOIN embeddings ON doc_id = vec_id GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ------------------------------------------------ LLM-pipeline ops
    "llm_dedup_exact" -> Q(
      (s, dir) => LlmOps.dedupExact(docs(s, dir))
        .select(col("keep_id"), col("n_copies")).orderBy("keep_id"),
      Some("""SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY lower(trim(text)) ORDER BY keep_id""")),

    "llm_jaccard_pairs" -> Q(
      (s, dir) => LlmOps.jaccardPairs(docs(s, dir), 0.8, blockCol = Some("source")).orderBy("i", "j"),
      Some("""WITH toks AS (SELECT DISTINCT source, doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1), inter AS (SELECT a.id AS i, b.id AS j, CAST(COUNT(*) AS BIGINT) AS c FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok AND a.id < b.id GROUP BY 1, 2) SELECT i, j, ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jac FROM inter JOIN sizes sa ON i = sa.id JOIN sizes sb ON j = sb.id WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8 ORDER BY i, j""")),

    // MinHash+LSH with a CONTRACT oracle (r3 verdict task 4): the raw
    // pair set is hash-seeded (not SQL-replicable), so the query emits
    // the checkable contract instead — n_exact (DuckDB recomputes the
    // exact pair count for the AUDIT BLOCK), zero false positives among
    // the audit block's LSH pairs (exact-verify guarantees it), and the
    // banding recall floor (0.85 at t=0.8, pinned looser than the
    // measured 0.94+ so fixture growth can't flake it). The audit is
    // SAMPLED to one source block — the exact reference is quadratic in
    // block size, and re-verifying the whole corpus would double the
    // operator's cost inside its own bench row; a 100 TB containment
    // audit samples for the same reason. LSH itself runs on the FULL
    // corpus; the seed-dependent pair set stays covered by LlmOpsSpec.
    "llm_neardup_minhash" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val lsh = LlmOps.nearDupPairsMinhash(d, 0.8).select("i", "j")
        val audit = d.filter(col("source").isin("src0", "src1", "src2", "src3"))
        // exact pair set over the audit blocks: fixture-derived ground
        // truth at rest in graft_audit_mh_pairs, rebuilt every pass by
        // the llm_audit_jaccard_blocks index-build row (r11 task 2)
        if (auditBuilt.get("jac_blocks") != dir) buildJaccardBlocksAudit(s, dir)
        val srcOf = audit.select(col("doc_id"), col("source"))
        // ONE streamed pass over the (large) LSH pair set: the source
        // map and the exact pair set are broadcast, so the check adds no
        // shuffle on top of the operator under test (a full-outer join
        // re-shuffled all 2.9M LSH pairs — measured 2× the whole LSH).
        val exactP = s.table("graft_audit_mh_pairs")
        val counts = lsh
          .join(broadcast(srcOf.select(col("doc_id").as("i"), col("source").as("si"))), "i")
          .join(broadcast(srcOf.select(col("doc_id").as("j"), col("source").as("sj"))), "j")
          .withColumn("w", col("si") === col("sj"))
          .join(broadcast(exactP.withColumn("e", lit(1))), Seq("i", "j"), "left_outer")
          .agg( // coalesce: empty LSH pair set ⇒ (0, 0), not nulls
            coalesce(sum(when(col("w") && col("e").isNull, 1L).otherwise(0L)), lit(0L)).as("n_false_pos"),
            coalesce(sum(when(col("w") && col("e") === 1, 1L).otherwise(0L)), lit(0L)).as("hit"))
        exactP.agg(count(lit(1)).as("n_exact")).crossJoin(counts)
          .select(col("n_exact"), col("n_false_pos"),
            (col("hit") >= ceil(col("n_exact") * 0.85)).as("recall_ok"))
      },
      Some("""WITH toks AS (SELECT DISTINCT source, doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1), inter AS (SELECT a.id AS i, b.id AS j, CAST(COUNT(*) AS BIGINT) AS c FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok AND a.id < b.id GROUP BY 1, 2), ex AS (SELECT i, j FROM inter JOIN sizes sa ON i = sa.id JOIN sizes sb ON j = sb.id WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8) SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok FROM ex""")),

    // Transitive near-dup GROUPS: exact-Jaccard pairs → connected
    // components → (doc, group, size, keep). Deterministic end-to-end
    // (prefix-filtered exact pairs, min-label propagation), so the
    // oracle recomputes the full clustering with a recursive CTE.
    "llm_neardup_groups" -> Q(
      (s, dir) => LlmOps.nearDupGroups(docs(s, dir), 0.8,
        blockCol = Some("source")).orderBy("doc_id"),
      Some("""WITH RECURSIVE toks AS (SELECT DISTINCT source, doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1), inter AS (SELECT a.id AS i, b.id AS j, CAST(COUNT(*) AS BIGINT) AS c FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok AND a.id < b.id GROUP BY 1, 2), prs AS (SELECT i, j FROM inter JOIN sizes sa ON i = sa.id JOIN sizes sb ON j = sb.id WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8), edges AS (SELECT i AS a, j AS b FROM prs UNION SELECT j, i FROM prs), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), grp AS (SELECT a AS node, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a), allg AS (SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id FROM documents d LEFT JOIN grp g ON d.doc_id = g.node), sz AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size FROM allg GROUP BY 1) SELECT a.doc_id, a.group_id, s.group_size, a.doc_id = a.group_id AS keep FROM allg a JOIN sz s USING (group_id) ORDER BY a.doc_id""")),

    // SimHash contract oracle: fingerprints are xxhash64-based (not
    // SQL-replicable), but determinism is — identical lowercased texts
    // MUST collapse to one fingerprint. DuckDB recomputes the doc and
    // text-group counts; the inconsistent-group count is pinned to 0.
    "llm_simhash" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val sh = LlmOps.simHash(d)
        d.select(col("doc_id"), lower(col("text")).as("t"))
          .join(sh, "doc_id")
          .groupBy("t")
          .agg(count_distinct(col("simhash")).as("k"), count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_docs"),
            count(lit(1)).as("n_text_groups"),
            sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_inconsistent"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(COUNT(DISTINCT lower(text)) AS BIGINT) AS n_text_groups, CAST(0 AS BIGINT) AS n_inconsistent FROM documents""")),

    // Deterministic per-stratum sampling + hash split: both use the
    // engine-portable Knuth multiplicative hash, so DuckDB reproduces
    // the exact row sets (not just counts).
    "llm_stratified_sample" -> Q(
      (s, dir) => LlmOps.stratifiedSample(docs(s, dir), 5, "source")
        .select(col("doc_id"), col("source")).orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn FROM documents) WHERE rn <= 5 ORDER BY doc_id""")),

    "llm_hash_split" -> Q(
      (s, dir) => LlmOps.hashSplit(docs(s, dir), 0.8, 0.1)
        .groupBy(col("split")).agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .orderBy("split"),
      Some("""SELECT split, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM (SELECT doc_id, CASE WHEN h < CAST(FLOOR(0.8 * 4294967296) AS BIGINT) THEN 'train' WHEN h < CAST(FLOOR(0.9 * 4294967296) AS BIGINT) THEN 'val' ELSE 'test' END AS split FROM (SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h FROM documents)) GROUP BY 1 ORDER BY 1""")),

    // End-to-end curation pipeline (r5): the operators a training-data
    // run actually chains — quality filter (stop-word ratio + length
    // floor) → exact dedup (min-id survivor per normalized text) →
    // per-source cap → growth-stable hash split → per-(source, split)
    // corpus accounting. Every stage is deterministic and engine-
    // portable, so DuckDB replays the WHOLE pipeline value-exactly —
    // the composition proof that the ops snap together, not just pass
    // alone. Scale shape: two row-wise projections, one dedup shuffle,
    // the two-phase cap, a shuffle-free split, one final agg.
    "llm_pipeline_e2e" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val good = d.join(LlmOps.qualityScore(d)
          .filter(col("stop_ratio") >= 0.05 && col("n_tokens") >= 20)
          .select("doc_id"), "doc_id")
        val keepIds = LlmOps.dedupExact(good).select(col("keep_id").as("doc_id"))
        val capped = LlmOps.sourceCap(good.join(keepIds, "doc_id"), 20)
        LlmOps.hashSplit(capped, 0.8, 0.1)
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source", "split")
      },
      Some("""WITH q AS (SELECT doc_id, source, n_chars, ROUND(CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE) / len(string_split(lower(text), ' ')), 4) AS stop_ratio, len(string_split(lower(text), ' ')) AS n_tokens, lower(trim(text)) AS norm_text FROM documents), good AS (SELECT * FROM q WHERE stop_ratio >= 0.05 AND n_tokens >= 20), keep AS (SELECT MIN(doc_id) AS doc_id FROM good GROUP BY norm_text), capped AS (SELECT g.source, g.doc_id, g.n_chars FROM good g JOIN keep k ON g.doc_id = k.doc_id QUALIFY ROW_NUMBER() OVER (PARTITION BY g.source ORDER BY g.n_chars DESC, g.doc_id) <= 20), split AS (SELECT source, n_chars, CASE WHEN h < CAST(FLOOR(0.8 * 4294967296) AS BIGINT) THEN 'train' WHEN h < CAST(FLOOR(0.9 * 4294967296) AS BIGINT) THEN 'val' ELSE 'test' END AS split FROM (SELECT source, n_chars, (doc_id * 2654435761) % 4294967296 AS h FROM capped)) SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM split GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Per-source/domain cap (r5): keep the top-5 docs per source by
    // (n_chars DESC, doc_id) — the C4/RefinedWeb "limit pages per
    // domain" curation rule. Two-phase top-n (LlmOps.sourceCap): phase 1
    // bounds every (source, input-partition) slice to n rows, so the
    // per-source shuffle input of phase 2 is ≤ n·P even for a
    // mega-domain. Deterministic total order ⇒ value-exact oracle.
    "llm_source_cap" -> Q(
      (s, dir) => LlmOps.sourceCap(docs(s, dir), 5)
        .select(col("source"), col("rank_in_src"), col("doc_id"), col("n_chars"))
        .orderBy("source", "rank_in_src"),
      Some("""SELECT source, rank_in_src, doc_id, n_chars FROM (SELECT source, doc_id, n_chars, ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank_in_src FROM documents) t WHERE rank_in_src <= 5 ORDER BY source, rank_in_src""")),

    // Source-mixing sample (r5): Pile/DoReMi-style per-domain rates via
    // the growth-stable Knuth id hash — a pure per-row projection (no
    // shuffle), and DuckDB reproduces the exact kept row set, reduced
    // here to per-source counts + an id checksum.
    "llm_source_mix" -> Q(
      (s, dir) => LlmOps.weightedSourceSample(docs(s, dir),
          Map("src0" -> 0.5, "src1" -> 0.25), defaultRate = 0.1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source"),
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM (SELECT source, doc_id, (doc_id * 2654435761) % 4294967296 AS h FROM documents) WHERE h < CAST(FLOOR(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25 ELSE 0.1 END * 4294967296) AS BIGINT) GROUP BY source ORDER BY source""")),

    // Token-budget sample (r5): fill a per-source character budget from
    // the deterministic hash order — the "cut an n-token mix per
    // domain" step; the kept set is a hash-prefix reservoir per source.
    // Value-exact: DuckDB replays the cumulative window.
    "llm_token_budget" -> Q(
      (s, dir) => LlmOps.tokenBudgetSample(docs(s, dir), 2000)
        .select(col("source"), col("doc_id"), col("n_chars"), col("cum_w"))
        .orderBy("source", "cum_w"),
      Some("""SELECT source, doc_id, n_chars, cum_w FROM (SELECT source, doc_id, n_chars, CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY (doc_id * 2654435761) % 4294967296, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w FROM documents) WHERE cum_w <= 2000 ORDER BY source, cum_w""")),

    // Benchmark decontamination: train = full documents table, eval =
    // its src0 block; docs sharing any 8-word n-gram with the eval set
    // are flagged with their contaminated-gram count. Token n-grams are
    // string-reconstructible, so DuckDB recomputes the whole report
    // (Spark joins on xxhash64(gram) — count-identical unless a 64-bit
    // collision, ~1e-9 at fixture scale).
    "llm_contamination" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        LlmOps.contamination(d, d.filter(col("source") === "src0"), n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i FROM toks), dg AS (SELECT DISTINCT doc_id, array_to_string(tk[i : i + 7], ' ') AS gram FROM pos), eg AS (SELECT DISTINCT gram FROM dg JOIN documents USING (doc_id) WHERE source = 'src0') SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams FROM dg JOIN eg USING (gram) GROUP BY 1 ORDER BY 1""")),

    // SimHash hamming pairs, contract oracle: fingerprints are
    // xxhash64-based (not SQL-replicable) but two facts are not — (1)
    // identical lowercased texts have hamming 0 and the pigeonhole
    // chunk join is lossless, so with a duplicated corpus every
    // (doc, copy) pair MUST surface: n_identical_found == doc count
    // (fixture texts are distinct); (2) no returned pair exceeds the
    // hamming bound. Full pair-set exactness vs a brute-force
    // all-pairs recompute is pinned in LlmOpsSpec.
    "llm_simhash_pairs" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val corpus = d.select(col("doc_id"), col("text")).unionByName(
          d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val prs = LlmOps.simHashPairs(corpus, maxHamming = 3, nBits = 32)
        val txt = corpus.select(col("doc_id"), lower(col("text")).as("t"))
        prs
          .join(broadcast(txt.select(col("doc_id").as("i"), col("t").as("ti"))), "i")
          .join(broadcast(txt.select(col("doc_id").as("j"), col("t").as("tj"))), "j")
          .agg(
            sum(when(col("ti") === col("tj"), 1L).otherwise(0L)).as("n_identical_found"),
            (max(col("hamming")) <= 3).as("hamming_bounded"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_found, true AS hamming_bounded FROM documents""")),

    // Sentence segmentation over a planted terminator layout: the doc
    // rebuilt as 6-token sentences joined by ". " with a final "." —
    // after the tag-and-split rule each sentence is exactly its chunk
    // plus the terminator, so the oracle derives every row from pure
    // slicing arithmetic (no regex on its side)
    "llm_sentence_split" -> Q(
      (s, dir) => {
        val tk = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val t2 = when(size(tk) === 0, lit(""))
          .otherwise(concat(array_join(transform(
            sequence(lit(0), floor((size(tk) - 1) / lit(6)).cast("int")),
            x => array_join(slice(tk, x * 6 + 1, lit(6)), " ")), ". "),
            lit(".")))
        LlmOps.sentenceSplit(docs(s, dir).withColumn("t2", t2), "t2")
          .orderBy("doc_id", "sent_idx")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '), z -> len(z) >= 1) AS tk FROM documents), b AS (SELECT doc_id, tk, CAST(ceil(len(tk) / 6.0) AS BIGINT) AS nb FROM t WHERE len(tk) > 0) SELECT doc_id, CAST(k AS BIGINT) AS sent_idx, array_to_string(tk[k*6+1 : k*6+6], ' ') || '.' AS sentence, nb AS n_sents FROM (SELECT doc_id, tk, nb, unnest(generate_series(0, CAST(nb - 1 AS INT))) AS k FROM b) ORDER BY doc_id, sent_idx""")),

    // Soft dedup: duplicate groups keep unit TOTAL influence (weight
    // 1/n micros per copy) instead of dropping copies — integer-exact
    "llm_dedup_soft" -> Q(
      (s, dir) => LlmOps.dedupSoft(docs(s, dir))
        .select(col("doc_id"), col("dup_count"), col("weight_u"))
        .orderBy("doc_id"),
      Some("""WITH k AS (SELECT doc_id, lower(trim(COALESCE(text, ''))) AS nk FROM documents), c AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS dup_count FROM k GROUP BY 1) SELECT doc_id, dup_count, CAST(1000000 // dup_count AS BIGINT) AS weight_u FROM k JOIN c USING (nk) ORDER BY doc_id""")),

    // k-anonymity release gate: per (source, lang) combo counts + the
    // ≥ k flag and the corpus rollup — all integers, trivial exact
    // oracle; k=5 splits the fixture (≈50 risky and ≈45 anonymous
    // combos at both SFs — non-vacuous both ways)
    "llm_k_anonymity" -> Q(
      (s, dir) => {
        val combos = LlmOps.kAnonymity(docs(s, dir), Seq("source", "lang"), 5)
        val roll = LlmOps.kAnonymitySummary(docs(s, dir), Seq("source", "lang"), 5)
          .select(lit("__total").as("source"), lit("").as("lang"),
            col("n_risky_rows").as("n"), (col("min_group") >= 5).as("k_anonymous"))
        combos.unionByName(roll).orderBy("source", "lang")
      },
      Some("""WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n, COUNT(*) >= 5 AS k_anonymous FROM documents GROUP BY 1, 2) SELECT * FROM (SELECT source, lang, n, k_anonymous FROM c UNION ALL SELECT '__total', '', CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT), MIN(n) >= 5 FROM c) ORDER BY source, lang""")),

    // Token WER over the same two analytic plants as llm_rouge_l: for
    // BOTH, edit distance = max(|r|,|h|) − LCS is tight (ed ≥ that
    // bound always; deletions/substitutions achieve it), so the oracle
    // derives the distance arithmetically whatever the text content —
    // even docs: ed = n div 7 (pure deletions), odd: ed = ceil(n/5)
    // (pure substitutions with corpus-absent tokens)
    "llm_wer" -> Q(
      (s, dir) => {
        val tk0 = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val rt = slice(tk0, 1, 40)
        val m = pmod(col("doc_id"), lit(2))
        val hyp = when(m === 0,
            array_join(filter(rt, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
          .otherwise(array_join(transform(rt, (z, i) =>
            when(pmod(i, lit(5)) === 0,
              concat(lit("zzz"), i.cast("string"))).otherwise(z)), " "))
        LlmOps.werScore(docs(s, dir)
            .withColumn("ref", array_join(rt, " "))
            .withColumn("hyp", hyp), "ref", "hyp")
          .select(col("doc_id"), col("r_len"), col("h_len"),
            col("edit_dist"), col("wer_u"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, len(list_filter(string_split(COALESCE(text, ''), ' '), z -> len(z) >= 1)[1:40]) AS n FROM documents), b AS (SELECT doc_id, n, CASE WHEN doc_id % 2 = 0 THEN n - n // 7 ELSE n END AS hl, CASE WHEN doc_id % 2 = 0 THEN n // 7 ELSE (n + 4) // 5 END AS ed FROM t) SELECT doc_id, CAST(n AS BIGINT) AS r_len, CAST(hl AS BIGINT) AS h_len, CAST(ed AS BIGINT) AS edit_dist, CAST(CASE WHEN n > 0 THEN ed * 1000000 // n ELSE 0 END AS BIGINT) AS wer_u FROM b ORDER BY doc_id""")),

    // ROUGE-L over two ANALYTIC candidate plants (first 40 tokens):
    // even docs drop every 7th token (a subsequence ⇒ LCS = |cand|
    // exactly), odd docs replace 0-based positions i%5==0 with unique
    // zzz<i> tokens absent from the corpus (⇒ LCS = n − ceil(n/5)
    // exactly) — so the oracle derives LCS and all three micro scores
    // arithmetically, and any DP/boundary bug in the fold mismatches
    "llm_rouge_l" -> Q(
      (s, dir) => {
        val tk0 = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val rt = slice(tk0, 1, 40)
        val m = pmod(col("doc_id"), lit(2))
        val cand = when(m === 0,
            array_join(filter(rt, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
          .otherwise(array_join(transform(rt, (z, i) =>
            when(pmod(i, lit(5)) === 0,
              concat(lit("zzz"), i.cast("string"))).otherwise(z)), " "))
        LlmOps.rougeL(docs(s, dir)
            .withColumn("ref", array_join(rt, " "))
            .withColumn("cand", cand), "ref", "cand")
          .select(col("doc_id"), col("r_len"), col("c_len"), col("lcs"),
            col("rouge_p_u"), col("rouge_r_u"), col("rouge_f_u"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, len(list_filter(string_split(COALESCE(text, ''), ' '), z -> len(z) >= 1)[1:40]) AS n FROM documents), b AS (SELECT doc_id, n, CASE WHEN doc_id % 2 = 0 THEN n - n // 7 ELSE n END AS cl, CASE WHEN doc_id % 2 = 0 THEN n - n // 7 ELSE n - (n + 4) // 5 END AS lcs FROM t) SELECT doc_id, CAST(n AS BIGINT) AS r_len, CAST(cl AS BIGINT) AS c_len, CAST(lcs AS BIGINT) AS lcs, CAST(CASE WHEN cl > 0 THEN lcs * 1000000 // cl ELSE 0 END AS BIGINT) AS rouge_p_u, CAST(CASE WHEN n > 0 THEN lcs * 1000000 // n ELSE 0 END AS BIGINT) AS rouge_r_u, CAST(CASE WHEN n + cl > 0 THEN 2 * lcs * 1000000 // (n + cl) ELSE 0 END AS BIGINT) AS rouge_f_u FROM b ORDER BY doc_id""")),

    // Contrastive hard-negative mining: per anchor (every 50th id),
    // top-5 different-label candidates by cosine, near-dups (> 0.9)
    // excluded; ranking on the 1e-4-quantized score with id tiebreak
    // makes the k-cut cross-engine deterministic
    "llm_hard_negatives" -> Q(
      (s, dir) => LlmOps.hardNegatives(embs(s, dir), 50, 5)
        .orderBy("anchor_id", "rank"),
      Some("""WITH a AS (SELECT vec_id AS anchor_id, label AS al, embedding AS av FROM embeddings WHERE vec_id % 50 = 0), d AS (SELECT a.anchor_id, e.vec_id, SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(a.av[g.i] AS DOUBLE)) AS dp, SQRT(SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS ne, SQRT(SUM(CAST(a.av[g.i] AS DOUBLE) * CAST(a.av[g.i] AS DOUBLE))) AS na FROM embeddings e JOIN a ON e.label != a.al, generate_series(1, 64) g(i) GROUP BY 1, 2), q AS (SELECT anchor_id, vec_id, CAST(ROUND(dp / (ne * na) * 10000) AS BIGINT) AS cos_u FROM d), r AS (SELECT anchor_id, vec_id, cos_u, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_u DESC, vec_id) AS "rank" FROM q WHERE cos_u <= 9000) SELECT anchor_id, CAST("rank" AS BIGINT) AS "rank", vec_id AS neg_id, cos_u FROM r WHERE "rank" <= 5 ORDER BY anchor_id, "rank" """)),

    // IVF-probed hard negatives (r14, the growing-anchor scale path):
    // three contract facts, all deterministic for a given corpus
    // (hash-ordered seeded quantizer): (1) probing ALL cells returns
    // the scan form's rows EXACTLY (pruning only selects candidates —
    // the ranking is the same quantized cut); (2) pruned-probe scores
    // survive an independent exact recompute (IVF never approximates a
    // returned score); (3) pruned probes keep >= half the scan form's
    // top-k pairs (measured well above at both declared SFs)
    "llm_hard_negatives_ivf" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val cents = LlmOps.trainIvfCentroids(e, nLists = 8)
        val bf = LlmOps.hardNegatives(e, 50, 5)
        val full = LlmOps.hardNegativesIvf(e, 50, 5, nLists = 8,
          nProbe = 8, pretrained = Some(cents))
        val pruned = LlmOps.hardNegativesIvf(e, 50, 5, nLists = 8,
          nProbe = 3, pretrained = Some(cents))
        val v = e.select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("v"))
          .withColumn("n", sqrt(aggregate(col("v"), lit(0d), (a, x) => a + x * x)))
        val chk = pruned
          .join(v.select(col("vec_id").as("anchor_id"), col("v").as("av"),
            col("n").as("an")), "anchor_id")
          .join(v.select(col("vec_id").as("neg_id"), col("v").as("nv"),
            col("n").as("nn")), "neg_id")
          .withColumn("ok",
            round(graft.expr.DotProductD(s, col("av"), col("nv")) /
              (col("an") * col("nn")) * 10000).cast("long") === col("cos_u"))
        bf.agg(count(lit(1)).as("bf_n"))
          .crossJoin(full.agg(count(lit(1)).as("full_n")))
          .crossJoin(full.exceptAll(bf).agg(count(lit(1)).as("d1")))
          .crossJoin(bf.exceptAll(full).agg(count(lit(1)).as("d2")))
          .crossJoin(chk.agg(
            sum(when(!col("ok"), 1L).otherwise(0L)).as("mism"),
            count(lit(1)).as("pn")))
          .crossJoin(pruned.join(bf, Seq("anchor_id", "neg_id"))
            .agg(count(lit(1)).as("hit")))
          .select(
            (col("bf_n") > 0 && col("full_n") === col("bf_n") &&
              col("d1") === 0 && col("d2") === 0).as("full_probe_parity"),
            (col("pn") > 0 && col("mism") === 0).as("scores_exact"),
            (col("hit") * 2 >= col("bf_n")).as("recall_ge_half"))
      },
      Some("""SELECT true AS full_probe_parity, true AS scores_exact, true AS recall_ge_half""")),

    // The binary index AT REST: 8-byte-per-vector words scan + bounded
    // candidate collect + bucket-pruned vec fetch — value-identical to
    // the in-memory path, so the SAME replay oracles it
    "llm_ann_binary_indexed" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        LlmOps.buildBinaryIndex(e, "graft_bin_idx")
        val qv = e.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), _.cast("double")))
          .head().getSeq[Double](0).toArray
        LlmOps.annCosineBinaryIndexed(s, "graft_bin_idx", qv, k = 10)
          .orderBy(col("cos_u").desc, col("vec_id"))
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), h AS (SELECT e.vec_id, SUM(CASE WHEN (CAST(e.embedding[g.i] AS DOUBLE) > CAST(0 AS DOUBLE)) != (CAST(q.qv[g.i] AS DOUBLE) > CAST(0 AS DOUBLE)) THEN 1 ELSE 0 END) AS hamming, SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE)) AS dp, SQRT(SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS ne, SQRT(SUM(CAST(q.qv[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE))) AS nq FROM embeddings e, q, generate_series(1, 64) g(i) GROUP BY 1), c AS (SELECT vec_id, CAST(hamming AS BIGINT) AS hamming, CAST(ROUND(dp / (ne * nq) * 10000) AS BIGINT) AS cos_u, ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS hr FROM h) SELECT vec_id, hamming, cos_u FROM c WHERE hr <= 40 ORDER BY cos_u DESC, vec_id LIMIT 10""")),

    // Sign-bit hamming ANN (the 1-bit quantization end): candidates by
    // popcount of xor'd sign words, exact-cosine re-rank; the oracle
    // replays the sign-disagreement count, the (hamming, id) k·refine
    // cut, and the quantized final order verbatim — fully
    // deterministic, no seed
    "llm_ann_binary" -> Q(
      (s, dir) => LlmOps.annCosineBinary(embs(s, dir), queryId = 0, k = 10)
        .orderBy(col("cos_u").desc, col("vec_id")),
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), h AS (SELECT e.vec_id, SUM(CASE WHEN (CAST(e.embedding[g.i] AS DOUBLE) > CAST(0 AS DOUBLE)) != (CAST(q.qv[g.i] AS DOUBLE) > CAST(0 AS DOUBLE)) THEN 1 ELSE 0 END) AS hamming, SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE)) AS dp, SQRT(SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS ne, SQRT(SUM(CAST(q.qv[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE))) AS nq FROM embeddings e, q, generate_series(1, 64) g(i) GROUP BY 1), c AS (SELECT vec_id, CAST(hamming AS BIGINT) AS hamming, CAST(ROUND(dp / (ne * nq) * 10000) AS BIGINT) AS cos_u, ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS hr FROM h) SELECT vec_id, hamming, cos_u FROM c WHERE hr <= 40 ORDER BY cos_u DESC, vec_id LIMIT 10""")),

    "llm_knn_cosine" -> Q(
      (s, dir) => LlmOps.knnCosine(embs(s, dir), queryId = 0, k = 20),
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), dots AS (SELECT e.vec_id, SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE)) AS dp, SQRT(SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS na, SQRT(SUM(CAST(q.qv[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE))) AS nb FROM embeddings e, q, generate_series(1, 64) g(i) GROUP BY e.vec_id) SELECT vec_id, ROUND(dp / (na * nb), 4) AS cos FROM dots ORDER BY cos DESC, vec_id LIMIT 20""")),

    // hyperplane-LSH contract oracle: membership is seed-dependent, but
    // two facts are not — the query vector is its own top hit (cos 1.0),
    // and every returned score must equal the EXACT cosine for that id
    // (LSH prunes candidates, never approximates scores). n_returned is
    // deliberately not emitted (bucket population depends on the seed).
    "llm_ann_lsh" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val res = LlmOps.annCosineLsh(e, queryId = 0, k = 10)
        val exact = LlmOps.cosineAll(e, queryId = 0)
          .withColumnRenamed("cos", "cos_exact")
        res.join(exact, "vec_id")
          .agg(max(when(col("vec_id") === 0, col("cos"))).as("self_cos"),
            sum(when(col("cos") =!= col("cos_exact"), 1L).otherwise(0L))
              .as("n_score_mismatch"))
          .select((col("self_cos") === 1.0).as("self_top"), col("n_score_mismatch"))
      },
      Some("""SELECT true AS self_top, CAST(0 AS BIGINT) AS n_score_mismatch""")),

    // Embedding-space transitive groups (r4): exact cosine pairs →
    // connected components; deterministic, so the oracle reclusters with
    // a recursive CTE over the same pair SQL as llm_similarity_pairs.
    "llm_cosine_groups" -> Q(
      (s, dir) => LlmOps.cosineGroups(embs(s, dir), 0.3).orderBy("vec_id"),
      Some("""WITH RECURSIVE ps AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2), prs AS (SELECT i, j FROM dots WHERE dp / (na * nb) >= 0.3), edges AS (SELECT i AS a, j AS b FROM prs UNION SELECT j, i FROM prs), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), grp AS (SELECT a AS node, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a), allg AS (SELECT e.vec_id, COALESCE(g.group_id, e.vec_id) AS group_id FROM embeddings e LEFT JOIN grp g ON e.vec_id = g.node), sz AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size FROM allg GROUP BY 1) SELECT a.vec_id, a.group_id, s.group_size, a.vec_id = a.group_id AS keep FROM allg a JOIN sz s USING (group_id) ORDER BY a.vec_id""")),

    "llm_similarity_pairs" -> Q(
      (s, dir) => LlmOps.similarityPairs(embs(s, dir), 0.3).orderBy("i", "j"),
      Some("""WITH pairs AS (SELECT a.label AS blk, a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), dots AS (SELECT blk, i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM pairs, generate_series(1, 64) g(x) GROUP BY 1, 2, 3) SELECT blk, i, j, ROUND(dp / (na * nb), 4) AS cos FROM dots WHERE dp / (na * nb) >= 0.3 ORDER BY i, j""")),

    // Incremental EMBEDDING dedup vs a persisted cosine index (r6): the
    // continuous-ingestion analog of llm_dedup_incremental in vector
    // space — evens build the at-rest LSH index, odds arrive as the
    // batch. Corpus restricted to labels 0–3 so the exact audit is
    // CLOSED (the op has no label blocking; an out-of-sample partner
    // would otherwise read as a false drop). Contract facts: zero false
    // drops (every candidate exact-verified) + the banding recall floor,
    // with n_should DuckDB-recomputed from the exact pair set.
    "llm_dedup_cosine_incr" -> Q(
      (s, dir) => {
        val e = embs(s, dir).filter(col("label") <= 3)
        LlmOps.buildCosineIndex(
          e.filter(pmod(col("vec_id"), lit(2)) === 0), "graft_cos_row_idx", 0.3)
        val batch = e.filter(pmod(col("vec_id"), lit(2)) === 1)
        val kept = LlmOps.dedupCosineIncremental(batch, "graft_cos_row_idx")
          .select(col("vec_id")).withColumn("k", lit(1))
        // odd x should drop iff some exact pair links it to any even
        // partner or a SMALLER odd one — fixture-derived ground truth at
        // rest in graft_audit_cos_incr_should, rebuilt every pass by the
        // llm_audit_cos_all index-build row (r11 task 2)
        if (auditBuilt.get("cos_all") != dir) buildCosAllAudit(s, dir)
        val sd = s.table("graft_audit_cos_incr_should").withColumn("s", lit(1))
        batch.select("vec_id")
          .join(kept, Seq("vec_id"), "left_outer")
          .join(sd, Seq("vec_id"), "left_outer")
          .agg(
            coalesce(sum(when(col("s") === 1, 1L).otherwise(0L)), lit(0L)).as("n_should"),
            coalesce(sum(when(col("k").isNull && col("s").isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_false_drops"),
            coalesce(sum(when(col("s") === 1 && col("k").isNull, 1L).otherwise(0L)), lit(0L))
              .as("dropped_valid"))
          .select(col("n_should"), col("n_false_drops"),
            (col("dropped_valid") >= ceil(col("n_should") * 0.9)).as("recall_ok"))
      },
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE label <= 3), ps AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM base a JOIN base b ON a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2), pr AS (SELECT i, j FROM dots WHERE dp / (na * nb) >= 0.3), sd AS (SELECT DISTINCT x FROM (SELECT j AS x FROM pr WHERE j % 2 = 1 UNION ALL SELECT i AS x FROM pr WHERE i % 2 = 1 AND j % 2 = 0)) SELECT CAST((SELECT COUNT(*) FROM sd) AS BIGINT) AS n_should, CAST(0 AS BIGINT) AS n_false_drops, true AS recall_ok""")),

    "llm_quality" -> Q(
      (s, dir) => LlmOps.qualityScore(docs(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens, CAST(length(text) AS BIGINT) AS n_chars_m, ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio, CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','to','a','in','is','it','that','for'))) AS BIGINT) AS n_stopwords, ROUND(CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE) / len(string_split(lower(text), ' ')), 4) AS stop_ratio FROM documents ORDER BY doc_id""")),

    // Gopher-style repetition metrics (r5): top-2-gram coverage,
    // repeated-3-gram fraction, distinct-token ratio — the published
    // quality-filter family; value-exact DuckDB recompute
    "llm_repetition" -> Q(
      (s, dir) => LlmOps.repetitionScore(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), u AS (SELECT doc_id, ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS unique_tok_ratio FROM t), g2 AS (SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS g FROM t, unnest(generate_series(1, len(toks) - 1)) s(i) WHERE len(toks) >= 2), c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2), f2 AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top2gram_frac FROM c2 GROUP BY 1), g3 AS (SELECT doc_id, array_to_string(toks[i : i + 2], ' ') AS g FROM t, unnest(generate_series(1, len(toks) - 2)) s(i) WHERE len(toks) >= 3), c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2), f3 AS (SELECT doc_id, ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 4) AS dup3gram_frac FROM c3 GROUP BY 1) SELECT u.doc_id, unique_tok_ratio, COALESCE(top2gram_frac, 0.0) AS top2gram_frac, COALESCE(dup3gram_frac, 0.0) AS dup3gram_frac FROM u LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id) ORDER BY u.doc_id""")),

    // CCNet-style unigram log-likelihood quality score (r5): mean
    // -ln p(token) under the corpus unigram distribution; per-token
    // integer-micro rounding keeps the aggregate engine-exact
    "llm_unigram_logprob" -> Q(
      (s, dir) => LlmOps.unigramLogProb(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH terms AS (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1), nx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM terms) SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, ROUND(CAST(SUM(CAST(ROUND(-LN(tf / n) * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS mean_neg_logp FROM terms JOIN tfx USING (term), nx GROUP BY 1 ORDER BY 1""")),

    "llm_fingerprint" -> Q(
      (s, dir) => LlmOps.fingerprint(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) SELECT t.doc_id AS doc_id, md5(lower(d.text)) AS fp, list_aggregate(list_transform(generate_series(1, greatest(len(toks) - 2, 1)), i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))), 'min') AS min_shingle_fp FROM t JOIN documents d ON t.doc_id = d.doc_id ORDER BY doc_id""")),

    "llm_tfidf" -> Q(
      (s, dir) => LlmOps.tfIdf(docs(s, dir)).orderBy("id", "term"),
      Some("""WITH terms AS (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2), dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (SELECT DISTINCT id, term FROM terms) GROUP BY 1) SELECT id, term, tf, df, ROUND(tf * ln(CAST((SELECT COUNT(DISTINCT doc_id) FROM documents) AS DOUBLE) / df), 4) AS tfidf FROM tf JOIN dfx USING (term) ORDER BY id, term""")),

    "llm_langid" -> Q(
      (s, dir) => LlmOps.langId(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH s AS (SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b')) + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bwith\b')) + len(regexp_extract_all(lower(text), '\bthat\b')) AS BIGINT) AS s_en, CAST(len(regexp_extract_all(lower(text), '\bel\b')) + len(regexp_extract_all(lower(text), '\bla\b')) + len(regexp_extract_all(lower(text), '\blos\b')) + len(regexp_extract_all(lower(text), '\bque\b')) + len(regexp_extract_all(lower(text), '\bcon\b')) AS BIGINT) AS s_es, CAST(len(regexp_extract_all(lower(text), '\ble\b')) + len(regexp_extract_all(lower(text), '\bla\b')) + len(regexp_extract_all(lower(text), '\bles\b')) + len(regexp_extract_all(lower(text), '\bque\b')) + len(regexp_extract_all(lower(text), '\bavec\b')) AS BIGINT) AS s_fr, CAST(len(regexp_extract_all(lower(text), '\bder\b')) + len(regexp_extract_all(lower(text), '\bdie\b')) + len(regexp_extract_all(lower(text), '\bdas\b')) + len(regexp_extract_all(lower(text), '\bund\b')) + len(regexp_extract_all(lower(text), '\bmit\b')) AS BIGINT) AS s_de, CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh FROM documents) SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh, CASE WHEN s_zh > s_en AND s_zh > s_es AND s_zh > s_fr AND s_zh > s_de THEN 'zh' WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en' WHEN s_es >= s_fr AND s_es >= s_de THEN 'es' WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang FROM s ORDER BY doc_id""")),

    "llm_multimodal_stub" -> Q(
      (s, dir) => {
        val withBin = docs(s, dir).withColumn("payload", encode(col("text"), "UTF-8"))
        LlmOps.stubDecodeFeatures(LlmOps.withMediaMeta(withBin, "payload"), "payload")
          .select(col("doc_id"), col("media_size"), size(col("media_features")).cast("int").as("n_features"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS media_size, CAST(8 AS INT) AS n_features FROM documents ORDER BY doc_id""")),

    // IVF with nProbe = nLists probes every cell, so the result is the
    // brute-force top-k by construction REGARDLESS of the k-means seed —
    // which makes it fully oracle-able (same SQL as llm_knn_cosine).
    // The partial-probe path (the production recall/cost dial) stays
    // seed-dependent and is pinned by LlmOpsSpec's recall-growth test.
    "llm_ann_ivf" -> Q(
      (s, dir) => LlmOps.annCosineIvf(embs(s, dir), queryId = 0, k = 10,
        nLists = 16, nProbe = 16),
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), dots AS (SELECT e.vec_id, SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE)) AS dp, SQRT(SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS na, SQRT(SUM(CAST(q.qv[g.i] AS DOUBLE) * CAST(q.qv[g.i] AS DOUBLE))) AS nb FROM embeddings e, q, generate_series(1, 64) g(i) GROUP BY e.vec_id) SELECT vec_id, ROUND(dp / (na * nb), 4) AS cos FROM dots ORDER BY cos DESC, vec_id LIMIT 10""")),

    // The persisted-index ANN probe (r6, verdict task 3): buildIvfIndex
    // writes the corpus partitionBy(cell); the search reads ONLY the
    // probed cells' files. Three seed-independent facts: (1) the query
    // vector is its own top hit (its cell is by construction the top
    // probe — cellOf and probeCells rank by the same score); (2) every
    // returned score is the EXACT cosine (pruning never approximates
    // scores); (3) the probe is a REAL prune — the probed cells hold
    // some rows but strictly fewer than the corpus, recomputed from the
    // same centroid metadata the search used.
    "llm_ann_ivf_indexed" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val path = GraftSession.scratch("ivf_index")
        val cents = LlmOps.buildIvfIndex(e, path, nLists = 16)
        val q0 = e.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        val res = LlmOps.annCosineIvfIndexed(s, path, cents, q0, k = 10, nProbe = 2)
        val probes = LlmOps.ivfProbeCells(cents, q0, nProbe = 2)
        val exact = LlmOps.cosineAll(e, queryId = 0)
          .withColumnRenamed("cos", "cos_exact")
        val idx = s.read.parquet(path)
        res.join(exact, "vec_id")
          .agg(max(when(col("vec_id") === 0, col("cos"))).as("self_cos"),
            sum(when(col("cos") =!= col("cos_exact"), 1L).otherwise(0L))
              .as("n_score_mismatch"))
          .crossJoin(idx.agg(
            sum(when(col("__cell").isin(probes: _*), 1L).otherwise(0L)).as("n_scanned"),
            count(lit(1)).as("n_total")))
          .select((col("self_cos") === 1.0).as("self_top"), col("n_score_mismatch"),
            (col("n_scanned") > 0L && col("n_scanned") < col("n_total")).as("pruned"))
      },
      Some("""SELECT true AS self_top, CAST(0 AS BIGINT) AS n_score_mismatch, true AS pruned""")),

    // Product-quantization ANN (r6): Jégou-style PQ codes + ADC scoring
    // + exact re-rank of the top k·refine. Codebooks are deterministic
    // (hash-ORDERED driver sample, fixed seed), so the contract facts
    // are reproducible per corpus: (1) k results; (2) every returned
    // score matches the independent exact recompute to 4dp (the re-rank
    // never returns an approximated score — PQ only SELECTS candidates);
    // (3) the query or an identical duplicate survives refine (max cos
    // = 1.0); (4) recall@10 vs the brute-force top-10 >= 7/10 at
    // refine = 8 (measured 10/10 at both declared SFs; the floor leaves
    // margin for corpus drift). The recall-grows-with-refine dial and
    // the IVF-PQ coarse-pruning composition are pinned in LlmOpsSpec.
    "llm_ann_pq" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val res = LlmOps.annCosinePq(e, queryId = 0, k = 10, refine = 8)
        val exact = LlmOps.cosineAll(e, queryId = 0)
          .withColumnRenamed("cos", "cos_exact")
        val topExact = LlmOps.knnCosine(e, queryId = 0, k = 10)
          .select(col("vec_id")).withColumn("t", lit(1L))
        res.join(exact, "vec_id")
          .join(topExact, Seq("vec_id"), "left_outer")
          .agg(count(lit(1)).as("n_results"),
            sum(when(abs(col("cos") - col("cos_exact")) > 0.0001, 1L)
              .otherwise(0L)).as("n_score_mismatch"),
            max(col("cos")).as("maxcos"),
            coalesce(sum(col("t")), lit(0L)).as("n_hits"))
          .select(col("n_results"), col("n_score_mismatch"),
            (col("maxcos") === 1.0).as("self_top"),
            (col("n_hits") >= 7L).as("recall_ok"))
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n_results, CAST(0 AS BIGINT) AS n_score_mismatch, true AS self_top, true AS recall_ok""")),

    // SQ8 scalar-quantization ANN (r6): per-dim affine int8 codes
    // (dim bytes/vector — the high-recall end of the FAISS compression
    // dial, vs PQ's m bytes), approximate int-dot scoring with the
    // dequantization folded into per-dim query weights, exact re-rank.
    // FULLY deterministic (no seed, no sample — min/max params are
    // merge-order independent), so the contract facts are exact: 10
    // results, scores equal the exact recompute to 4dp, self (or an
    // identical dup) on top, recall@10 >= 8/10 at refine = 4 (8-bit
    // per-dim quantization is tight; measured 10/10 at both SFs).
    // DBSCAN density clustering (r7): cosine eps-neighborhoods on the
    // CLOSED label<=3 slice (the llm_dedup_cosine convention) so the
    // exact path is value-exact — DuckDB recomputes the pair set,
    // degree/core rule, recursive-CTE core components, and the
    // deterministic min-cluster border attachment verbatim. The banded
    // LSH method is the 100 TB path (recall-banded, spec'd).
    "llm_dbscan" -> Q(
      (s, dir) => {
        val e = embs(s, dir).filter(col("label") <= 3).withColumn("__all", lit(1))
        LlmOps.dbscanCosine(e, eps = 0.3, minPts = 4, blockCol = "__all")
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE base AS (SELECT vec_id, embedding FROM embeddings WHERE label <= 3), ps AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM base a JOIN base b ON a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2), pr AS (SELECT i, j FROM dots WHERE dp / (na * nb) >= 0.3), sym AS (SELECT i, j FROM pr UNION ALL SELECT j AS i, i AS j FROM pr), deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM sym GROUP BY 1), core AS (SELECT i AS id FROM deg WHERE n + 1 >= 4), ce AS (SELECT p.i, p.j FROM pr p JOIN core a ON p.i = a.id JOIN core b ON p.j = b.id), edges AS (SELECT i AS a, j AS b FROM ce UNION SELECT j, i FROM ce), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), grp AS (SELECT a AS node, LEAST(a, MIN(b)) AS g FROM reach GROUP BY a), cc AS (SELECT id, COALESCE(grp.g, id) AS cluster_id FROM core LEFT JOIN grp ON id = node), ba AS (SELECT s.i, MIN(c.cluster_id) AS bcl FROM sym s JOIN cc c ON s.j = c.id GROUP BY 1) SELECT b.vec_id, CASE WHEN cc.id IS NOT NULL THEN 'core' WHEN ba.i IS NOT NULL THEN 'border' ELSE 'noise' END AS role, CASE WHEN cc.id IS NOT NULL THEN cc.cluster_id ELSE ba.bcl END AS cluster_id FROM base b LEFT JOIN cc ON b.vec_id = cc.id LEFT JOIN ba ON b.vec_id = ba.i ORDER BY b.vec_id""")),

    // Winnowing fingerprints (r7): MOSS local fingerprinting — every
    // w-window of k-token shingles selects its min-hash shingle
    // (leftmost tie rule), encoded as min(h*1e6 + pos) so both engines
    // take one integer window minimum. Value-exact.
    "llm_winnow" -> Q(
      (s, dir) => LlmOps.winnowFingerprints(docs(s, dir), k = 4, w = 5)
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(lower(COALESCE(text, '')), ' '), x -> length(x) > 0) AS tk FROM documents), sh AS (SELECT doc_id, i AS pos, md5(array_to_string(tk[i : i + 3], ' ')) AS m FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 3)) AS i FROM t WHERE len(tk) >= 4)), keyed AS (SELECT doc_id, pos, (CAST(ascii(substr(m, 1, 1)) AS BIGINT) + CAST(ascii(substr(m, 2, 1)) AS BIGINT) * 100 + CAST(ascii(substr(m, 3, 1)) AS BIGINT) * 10000 + CAST(ascii(substr(m, 4, 1)) AS BIGINT) * 1000000 + CAST(ascii(substr(m, 5, 1)) AS BIGINT) * 100000000 + CAST(ascii(substr(m, 6, 1)) AS BIGINT) * 10000000000) * 1000000 + pos AS key FROM sh), sel AS (SELECT DISTINCT doc_id, sel_key FROM (SELECT doc_id, MIN(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel_key, COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n FROM keyed) WHERE n = 5) SELECT doc_id, CAST(sel_key % 1000000 AS INT) AS pos, CAST(sel_key // 1000000 AS BIGINT) AS fp FROM sel ORDER BY doc_id, pos""")),

    // Winnow-based cross-corpus contamination (r8): the training
    // corpus' winnow fingerprints joined against an eval slice's —
    // every (train, eval) pair sharing >= 2 fingerprints, with the
    // eval doc's matched fraction in exact integer micros. The eval
    // slice is drawn from the same table, so each eval doc's verbatim
    // train copy guarantees full-fraction rows while near-dups surface
    // partial overlaps. Value-exact: both engines replay the winnow
    // selection (the llm_winnow machinery) and the integer-micro
    // fraction.
    "llm_winnow_contaminate" -> Q(kqlQ(
      """let EvalDocs = documents | where doc_id % 7 == 0;
         documents
         | evaluate winnow_contamination(EvalDocs, 4, 5, 2, text, doc_id)
         | sort by train_id asc, eval_id asc"""),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(lower(COALESCE(text, '')), ' '), x -> length(x) > 0) AS tk FROM documents), sh AS (SELECT doc_id, i AS pos, md5(array_to_string(tk[i : i + 3], ' ')) AS m FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 3)) AS i FROM t WHERE len(tk) >= 4)), keyed AS (SELECT doc_id, pos, (CAST(ascii(substr(m, 1, 1)) AS BIGINT) + CAST(ascii(substr(m, 2, 1)) AS BIGINT) * 100 + CAST(ascii(substr(m, 3, 1)) AS BIGINT) * 10000 + CAST(ascii(substr(m, 4, 1)) AS BIGINT) * 1000000 + CAST(ascii(substr(m, 5, 1)) AS BIGINT) * 100000000 + CAST(ascii(substr(m, 6, 1)) AS BIGINT) * 10000000000) * 1000000 + pos AS key FROM sh), sel AS (SELECT DISTINCT doc_id, sel_key FROM (SELECT doc_id, MIN(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel_key, COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n FROM keyed) WHERE n = 5), fps AS (SELECT DISTINCT doc_id, sel_key // 1000000 AS fp FROM sel), ev AS (SELECT doc_id AS eval_id, fp FROM fps WHERE doc_id % 7 = 0), esz AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_eval_fp FROM ev GROUP BY 1), j AS (SELECT f.doc_id AS train_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared FROM fps f JOIN ev e USING (fp) GROUP BY 1, 2 HAVING COUNT(*) >= 2) SELECT train_id, eval_id, n_shared, n_eval_fp, CAST((n_shared * 1000000) // n_eval_fp AS BIGINT) AS frac_micros FROM j JOIN esz USING (eval_id) ORDER BY train_id, eval_id""")),

    // Distributed PCA (r8): one-pass covariance (posexplode + dim-row
    // aggregate) + driver Jacobi eigensolve (bounded 64x64 model
    // metadata — the kmeans convention) + DotProductD projection.
    // Contract facts (the kmeans/llm_text_cluster convention —
    // eigenvectors are fp-sensitive, so facts are structural):
    // orthonormal axes, descending eigenvalues bounded by total
    // variance, per-axis projected population variance == eigenvalue,
    // projections mean-centered, full row coverage.
    "llm_pca" -> Q(
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        val p = 4
        val (_, comps, evals, totVar) = LlmOps.pcaFit(e, p)
        def dot(u: Array[Double], v: Array[Double]) =
          u.indices.map(i => u(i) * v(i)).sum
        val orth = (for (i <- comps.indices; j <- comps.indices) yield
          math.abs(dot(comps(i), comps(j)) - (if (i == j) 1.0 else 0.0))).max < 1e-8
        val desc = evals.indices.drop(1).forall(i => evals(i - 1) >= evals(i) - 1e-12)
        val bounded = evals.forall(_ >= -1e-9) && evals.sum <= totVar + 1e-6 * math.max(totVar, 1.0)
        // p-row model check, not a data pass: per-axis projected
        // moments vs the eigenvalues
        val stats = LlmOps.pca(e, p).groupBy("pc")
          .agg(avg(col("proj")).as("m"),
            avg(col("proj") * col("proj")).as("m2"),
            count(lit(1)).as("n")).collect()
        val tol = 1e-6 * math.max(totVar, 1.0)
        val varOk = stats.forall { r =>
          math.abs(r.getDouble(2) - r.getDouble(1) * r.getDouble(1) -
            evals(r.getInt(0) - 1)) <= tol }
        val centered = stats.forall(r =>
          math.abs(r.getDouble(1)) <= 1e-6 * (1 + math.sqrt(math.max(totVar, 0))))
        Seq((stats.map(_.getLong(3)).sum, p.toLong, orth, desc, bounded,
          varOk && centered))
          .toDF("n_proj_rows", "k_components", "orthonormal",
            "evals_descending", "evals_bounded", "proj_var_matches")
      },
      Some("""SELECT CAST((SELECT COUNT(*) FROM embeddings) * 4 AS BIGINT) AS n_proj_rows, CAST(4 AS BIGINT) AS k_components, TRUE AS orthonormal, TRUE AS evals_descending, TRUE AS evals_bounded, TRUE AS proj_var_matches""")),

    // Feature-hashing vectorizer (r7): signed hashing trick, sparse
    // (doc, dim, value) integer output — value-exact via the DSIR
    // md5-hex-char bucket convention plus an independent sign char.
    "llm_feature_hash" -> Q(
      (s, dir) => LlmOps.featureHash(docs(s, dir), dim = 64)
        .orderBy("doc_id", "dim"),
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(lower(COALESCE(text, '')), ' ')) AS w FROM documents), f AS (SELECT doc_id, w FROM w WHERE length(w) >= 1), h AS (SELECT doc_id, (ascii(substr(md5(w), 1, 1)) * 10000 + ascii(substr(md5(w), 2, 1)) * 100 + ascii(substr(md5(w), 3, 1))) % 64 AS dim, CASE WHEN ascii(substr(md5(w), 4, 1)) % 2 = 0 THEN 1 ELSE -1 END AS s FROM f) SELECT doc_id, CAST(dim AS INT) AS dim, CAST(SUM(s) AS BIGINT) AS value FROM h GROUP BY 1, 2 HAVING SUM(s) <> 0 ORDER BY doc_id, dim""")),

    // Text clustering end-to-end (r7): the featureHash bridge feeds the
    // k-means engine directly from the TEXT table — no model embedding
    // anywhere. Contract facts (the llm_kmeans convention): full
    // assignment, cell bound, Lloyd descent.
    "llm_text_cluster" -> Q(
      (s, dir) => {
        // persisted (r15): BOTH kmeansFit calls consume the hashed
        // feature frame — without the persist the token explode + hash
        // pivot runs twice (the image_neardup shared-lineage lesson)
        val dense = LlmOps.persistTracked(
          LlmOps.featureHashDense(docs(s, dir), dim = 32))
        val w1 = LlmOps.kmeansFit(dense, 4, iters = 1, idCol = "doc_id")
          .agg(sum(col("dist2")).as("w1"))
        LlmOps.kmeansFit(dense, 4, iters = 3, idCol = "doc_id")
          .agg(sum(col("dist2")).as("w3"), count(lit(1)).as("n_docs"),
            count_distinct(col("cell")).as("kc"))
          .crossJoin(w1)
          .select(col("n_docs"), (col("kc") <= 4).as("k_ok"),
            (col("w3") <= col("w1") + 1e-6).as("improved"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, true AS k_ok, true AS improved FROM documents""")),

    // JL sign random projection (r7): 64-d -> 16-d in integer micros.
    // The md5-parity sign rule is replayed verbatim by DuckDB and the
    // projection is an integer sum, so every projected value is exact
    // cross-engine regardless of aggregation order.
    "llm_random_projection" -> Q(
      (s, dir) => LlmOps.randomProjection(embs(s, dir), k = 16, dim = 64)
        .orderBy("vec_id", "dim"),
      Some("""WITH sg AS (SELECT d, j, CASE WHEN (position(substring(md5('rp_' || d || '_' || j), 1, 1) IN '0123456789abcdef')) % 2 = 1 THEN 1 ELSE -1 END AS sg FROM generate_series(1, 16) t(d), generate_series(1, 64) u(j)), e AS (SELECT vec_id, j, CAST(ROUND(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT) AS vm FROM embeddings, generate_series(1, 64) g(j)), p AS (SELECT vec_id, d, CAST(SUM(sg * vm) AS BIGINT) AS proj_micro FROM e JOIN sg USING (j) GROUP BY 1, 2) SELECT vec_id, CAST(d AS INT) AS dim, proj_micro FROM p ORDER BY vec_id, dim""")),

    "llm_ann_sq8" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val res = LlmOps.annCosineSq8(e, queryId = 0, k = 10, refine = 4)
        val exact = LlmOps.cosineAll(e, queryId = 0)
          .withColumnRenamed("cos", "cos_exact")
        val topExact = LlmOps.knnCosine(e, queryId = 0, k = 10)
          .select(col("vec_id")).withColumn("t", lit(1L))
        res.join(exact, "vec_id")
          .join(topExact, Seq("vec_id"), "left_outer")
          .agg(count(lit(1)).as("n_results"),
            sum(when(abs(col("cos") - col("cos_exact")) > 0.0001, 1L)
              .otherwise(0L)).as("n_score_mismatch"),
            max(col("cos")).as("maxcos"),
            coalesce(sum(col("t")), lit(0L)).as("n_hits"))
          .select(col("n_results"), col("n_score_mismatch"),
            (col("maxcos") === 1.0).as("self_top"),
            (col("n_hits") >= 8L).as("recall_ok"))
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n_results, CAST(0 AS BIGINT) AS n_score_mismatch, true AS self_top, true AS recall_ok""")),

    // The persisted IVF-PQ index (r6): buildPqIndex writes PQ codes
    // partitioned by coarse cell (m bytes/row — the FAISS on-disk
    // economics) + vectors + quantizer meta; the probe partition-prunes
    // to the probed cells' CODE files, ADC-scores them, and exact
    // re-ranks only the k·refine candidates via one id-join against the
    // vector files. Facts mirror llm_ann_ivf_indexed: the query (or an
    // identical dup) survives with cos 1.0, every returned score equals
    // the exact recompute to 4dp, and the probe is a REAL prune
    // (scanned codes rows strictly between 0 and the corpus),
    // recomputed from the same persisted meta the search used.
    "llm_ann_pq_indexed" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val path = GraftSession.scratch("pq_index")
        val (cents, _) = LlmOps.buildPqIndex(e, path, nLists = 16)
        val q0 = e.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        val res = LlmOps.annCosineIvfPqIndexed(s, path, q0, k = 10,
          nProbe = 2, refine = 4)
        val probes = LlmOps.ivfProbeCells(cents, q0, nProbe = 2)
        val exact = LlmOps.cosineAll(e, queryId = 0)
          .withColumnRenamed("cos", "cos_exact")
        val codes = s.read.parquet(s"$path/codes")
        res.join(exact, "vec_id")
          .agg(max(col("cos")).as("maxcos"),
            sum(when(abs(col("cos") - col("cos_exact")) > 0.0001, 1L)
              .otherwise(0L)).as("n_score_mismatch"))
          .crossJoin(codes.agg(
            sum(when(col("__cell").isin(probes: _*), 1L).otherwise(0L)).as("n_scanned"),
            count(lit(1)).as("n_total")))
          .select((col("maxcos") === 1.0).as("self_top"), col("n_score_mismatch"),
            (col("n_scanned") > 0L && col("n_scanned") < col("n_total")).as("pruned"))
      },
      Some("""SELECT true AS self_top, CAST(0 AS BIGINT) AS n_score_mismatch, true AS pruned""")),

    // Vocabulary spelling-variant pairs (r6): tokens within Levenshtein
    // distance 2, SymSpell deletion-neighborhood blocked (lossless), so
    // the DuckDB brute-force-over-vocab recompute is value-exact. The
    // top-1000 vocabulary cut is (freq desc, token) on both engines.
    "llm_fuzzy_pairs" -> Q(
      (s, dir) => LlmOps.fuzzyTokenPairs(docs(s, dir), minLen = 4,
        maxVocab = 1000, maxDist = 2).orderBy("tok_a", "tok_b"),
      Some("""WITH toks AS (SELECT unnest(string_split(lower(COALESCE(text, '')), ' ')) AS w FROM documents), c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks WHERE length(w) BETWEEN 4 AND 32 GROUP BY 1), v AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 1000) SELECT a.w AS tok_a, b.w AS tok_b, a.cnt AS cnt_a, b.cnt AS cnt_b, CAST(levenshtein(a.w, b.w) AS INT) AS dist FROM v a JOIN v b ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 2 AND levenshtein(a.w, b.w) <= 2 ORDER BY tok_a, tok_b""")),

    // Asymmetric shingle-containment pairs (r6): Broder's c(A→B) =
    // |S(A)∩S(B)|/|S(A)| — doc-in-doc detection where Jaccard stays
    // low. Spark hashes shingles (count-identical modulo ~1e-9
    // collisions — the llm_substring_dup convention); the oracle keeps
    // the strings.
    "llm_containment" -> Q(
      (s, dir) => LlmOps.containmentPairs(docs(s, dir), threshold = 0.4,
        w = 5).orderBy("i", "j"),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(COALESCE(text, '')), ' ') AS toks FROM documents), ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i FROM t WHERE len(toks) >= 5), sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 4], ' ') AS s FROM ix), sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1), pr AS (SELECT a.doc_id AS i, b.doc_id AS j, CAST(COUNT(*) AS BIGINT) AS inter FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT i, j, inter, sa.n AS n_i, sb.n AS n_j, ROUND(CAST(inter AS DOUBLE) / sa.n, 4) AS cont_ij, ROUND(CAST(inter AS DOUBLE) / sb.n, 4) AS cont_ji FROM pr JOIN sz sa ON pr.i = sa.doc_id JOIN sz sb ON pr.j = sb.doc_id WHERE ROUND(CAST(inter AS DOUBLE) / sa.n, 4) >= 0.4 OR ROUND(CAST(inter AS DOUBLE) / sb.n, 4) >= 0.4 ORDER BY i, j""")),

    // Containment dedup (r6): the subset-document curation rule — docs
    // ≥ 40% shingle-contained in another doc drop, supersets survive,
    // mutual containment keeps the min id. Value-exact: DuckDB replays
    // the pair set and the directed drop rules.
    "llm_dedup_contained" -> Q(
      (s, dir) => LlmOps.dedupContained(docs(s, dir), threshold = 0.4,
        w = 5).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(COALESCE(text, '')), ' ') AS toks FROM documents), ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i FROM t WHERE len(toks) >= 5), sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 4], ' ') AS s FROM ix), sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1), pr0 AS (SELECT a.doc_id AS i, b.doc_id AS j, CAST(COUNT(*) AS BIGINT) AS inter FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), pr AS (SELECT i, j, ROUND(CAST(inter AS DOUBLE) / sa.n, 4) AS cij, ROUND(CAST(inter AS DOUBLE) / sb.n, 4) AS cji FROM pr0 JOIN sz sa ON pr0.i = sa.doc_id JOIN sz sb ON pr0.j = sb.doc_id WHERE ROUND(CAST(inter AS DOUBLE) / sa.n, 4) >= 0.4 OR ROUND(CAST(inter AS DOUBLE) / sb.n, 4) >= 0.4), d AS (SELECT i AS victim, j AS keeper FROM pr WHERE cij >= 0.4 AND cji < 0.4 UNION ALL SELECT j, i FROM pr WHERE cji >= 0.4 AND cij < 0.4 UNION ALL SELECT greatest(i, j), least(i, j) FROM pr WHERE cij >= 0.4 AND cji >= 0.4), dm AS (SELECT victim, MIN(keeper) AS contained_in FROM d GROUP BY 1) SELECT doc_id, contained_in IS NULL AS kept, contained_in FROM documents LEFT JOIN dm ON doc_id = victim ORDER BY doc_id""")),

    // Magic-bytes media-type sniffing (r6): synthetic payloads get one
    // of 7 published container signatures (or none) by doc_id; the
    // sniff is pure hex-prefix Column matching — value-exact, both
    // engines build and classify the identical byte streams.
    "llm_media_sniff" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(8))
        val d = docs(s, dir).withColumn("payload", concat(
          when(m === 0, unhex(lit("89504E470D0A1A0A")))
            .when(m === 1, unhex(lit("FFD8FFE000104A46")))
            .when(m === 2, unhex(lit("474946383961")))
            .when(m === 3, unhex(lit("000000186674797069736F6D")))
            .when(m === 4, unhex(lit("524946462400000057415645")))
            .when(m === 5, unhex(lit("255044462D312E34")))
            .when(m === 6, unhex(lit("1F8B0800")))
            .otherwise(unhex(lit(""))),
          encode(col("text"), "UTF-8")))
        LlmOps.sniffMediaType(d, "payload")
          .groupBy("media_type").agg(count(lit(1)).as("n"))
          .orderBy("media_type")
      },
      Some("""WITH p AS (SELECT doc_id, (CASE doc_id % 8 WHEN 0 THEN unhex('89504E470D0A1A0A') WHEN 1 THEN unhex('FFD8FFE000104A46') WHEN 2 THEN unhex('474946383961') WHEN 3 THEN unhex('000000186674797069736F6D') WHEN 4 THEN unhex('524946462400000057415645') WHEN 5 THEN unhex('255044462D312E34') WHEN 6 THEN unhex('1F8B0800') ELSE unhex('') END) || CAST(text AS BLOB) AS payload FROM documents), s AS (SELECT doc_id, upper(hex(payload)) AS h FROM p), t AS (SELECT CASE WHEN substring(h, 1, 8) = '89504E47' THEN 'image/png' WHEN substring(h, 1, 6) = 'FFD8FF' THEN 'image/jpeg' WHEN substring(h, 1, 12) IN ('474946383761', '474946383961') THEN 'image/gif' WHEN substring(h, 1, 4) = '424D' THEN 'image/bmp' WHEN substring(h, 1, 8) = '25504446' THEN 'application/pdf' WHEN substring(h, 1, 8) = '52494646' AND substring(h, 17, 8) = '57415645' THEN 'audio/wav' WHEN substring(h, 1, 8) = '52494646' AND substring(h, 17, 8) = '57454250' THEN 'image/webp' WHEN substring(h, 1, 8) = '52494646' AND substring(h, 17, 8) = '41564920' THEN 'video/avi' WHEN substring(h, 9, 8) = '66747970' THEN 'video/mp4' WHEN substring(h, 1, 8) = '504B0304' THEN 'application/zip' WHEN substring(h, 1, 4) = '1F8B' THEN 'application/gzip' ELSE 'application/octet-stream' END AS media_type FROM s) SELECT media_type, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1 ORDER BY 1""")),

    // Header-parsed image dimensions (r7): the query PLANTS width/height
    // (arithmetic functions of doc_id) into honest PNG / GIF / JPEG
    // / BMP / WebP(VP8, VP8L, VP8X) headers — JPEG behind 0-2
    // variable-length APP0 segments so the SOF segment walk is
    // exercised; GIF and BMP little-endian; PNG big-endian u32; the
    // three WebP variants cover the LE24 canvas pair, the packed
    // 14+14-bit field, and the start-code-guarded LE16 pair — and
    // mediaDims must recover them byte-exactly. The oracle computes
    // the same dims ARITHMETICALLY (it never parses): any offset/
    // endianness/bit-unpack bug on the Spark side mismatches. Case 7
    // payloads are non-image bytes -> null dims by contract.
    "llm_media_dims" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(8))
        val w = (lit(16) + pmod(col("doc_id"), lit(1000))).cast("int")
        val hh = (lit(9) + pmod(col("doc_id"), lit(700))).cast("int")
        def beHex(c: org.apache.spark.sql.Column, digits: Int) = lpad(conv(c, 10, 16), digits, "0")
        def leHex16(c: org.apache.spark.sql.Column) = {
          val be = beHex(c, 4)
          concat(substring(be, 3, 2), substring(be, 1, 2))
        }
        def leHex24(c: org.apache.spark.sql.Column) = {
          val be = beHex(c, 6)
          concat(substring(be, 5, 2), substring(be, 3, 2), substring(be, 1, 2))
        }
        def leHex32(c: org.apache.spark.sql.Column) = {
          val be = beHex(c, 8)
          concat(substring(be, 7, 2), substring(be, 5, 2),
            substring(be, 3, 2), substring(be, 1, 2))
        }
        // one APP0 segment: marker + BE16 length (pad+2, includes
        // itself) + pad zero bytes; pad varies by doc so successive
        // segment offsets differ row to row
        val pad = pmod(col("doc_id"), lit(5)).cast("int")
        val seg = concat(lit("FFE0"), beHex(pad + 2, 4),
          expr("repeat('00', CAST(doc_id % 5 AS INT))"))
        val k = pmod(col("doc_id"), lit(3))
        val jpegHex = concat(lit("FFD8"),
          when(k === 0, lit("")).when(k === 1, seg).otherwise(concat(seg, seg)),
          lit("FFC0"), lit("0008"), lit("08"), beHex(hh, 4), beHex(w, 4), lit("00"))
        val pngHex = concat(lit("89504E470D0A1A0A"), lit("0000000D"),
          lit("49484452"), beHex(w, 8), beHex(hh, 8), lit("08"))
        val gifHex = concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("474946383761"))
            .otherwise(lit("474946383961")),
          leHex16(w), leHex16(hh))
        // BMP: BM + file-size/reserved/offset junk + biSize 40 + LE32 dims
        val bmpHex = concat(lit("424D"), lit("00" * 12), lit("28000000"),
          leHex32(w), leHex32(hh), lit("0100"))
        val riff = lit("52494646" + "00000000" + "57454250")
        // lossy VP8: frame tag junk + 9D012A start code + LE16 dims
        val webpVp8Hex = concat(riff, lit("56503820"), lit("00000000"),
          lit("000000"), lit("9D012A"), leHex16(w), leHex16(hh))
        // VP8L: 0x2F signature + (w-1 | (h-1)<<14) packed LE32
        val webpVp8lHex = concat(riff, lit("5650384C"), lit("00000000"),
          lit("2F"), leHex32((w - 1) + (hh - 1) * 16384))
        // VP8X: flags + reserved + LE24 (canvas-1) pair
        val webpVp8xHex = concat(riff, lit("56503858"), lit("00000000"),
          lit("00"), lit("000000"), leHex24(w - 1), leHex24(hh - 1))
        val d = docs(s, dir).withColumn("payload",
          when(m === 0, unhex(pngHex))
            .when(m === 1, unhex(gifHex))
            .when(m === 2, unhex(jpegHex))
            .when(m === 3, unhex(bmpHex))
            .when(m === 4, unhex(webpVp8Hex))
            .when(m === 5, unhex(webpVp8lHex))
            .when(m === 6, unhex(webpVp8xHex))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.mediaDims(d, "payload")
          .select(col("doc_id"), col("media_type"), col("width"), col("height"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 8 = 0 THEN 'image/png' WHEN doc_id % 8 = 1 THEN 'image/gif' WHEN doc_id % 8 = 2 THEN 'image/jpeg' WHEN doc_id % 8 = 3 THEN 'image/bmp' WHEN doc_id % 8 <= 6 THEN 'image/webp' ELSE 'application/octet-stream' END AS media_type, CASE WHEN doc_id % 8 <= 6 THEN CAST(16 + doc_id % 1000 AS INT) END AS width, CASE WHEN doc_id % 8 <= 6 THEN CAST(9 + doc_id % 700 AS INT) END AS height FROM documents ORDER BY doc_id""")),

    // WAV audio metadata (r7): the query PLANTS format/channels/rate/
    // bits/frame-count (arithmetic functions of doc_id) into honest
    // RIFF/WAVE files — case 1 hides `fmt ` behind a variable ODD-size
    // LIST chunk so the even-padding chunk walk is exercised — and
    // audioMeta must recover them byte-exactly; the oracle computes
    // the same values arithmetically (it never parses). Case 2 is
    // non-audio -> all-null by contract. duration_ms is exact integer
    // floor division on both engines.
    "llm_audio_meta" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(3))
        val ch = (lit(1) + pmod(col("doc_id"), lit(2))).cast("int")
        val rate = (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int")
        val bits = (lit(8) * (lit(1) + pmod(col("doc_id"), lit(2)))).cast("int")
        val block = (ch * bits / lit(8)).cast("int")
        val frames = (lit(10) + pmod(col("doc_id"), lit(50))).cast("int")
        val dataSize = frames * block
        def beHex(c: org.apache.spark.sql.Column, digits: Int) = lpad(conv(c, 10, 16), digits, "0")
        def leHex16(c: org.apache.spark.sql.Column) = {
          val be = beHex(c, 4); concat(substring(be, 3, 2), substring(be, 1, 2))
        }
        def leHex32(c: org.apache.spark.sql.Column) = {
          val be = beHex(c, 8)
          concat(substring(be, 7, 2), substring(be, 5, 2),
            substring(be, 3, 2), substring(be, 1, 2))
        }
        // LIST chunk of odd-leaning size (3..6) + RIFF even padding
        val listChunk = concat(lit("4C495354"),
          leHex32(lit(3) + pmod(col("doc_id"), lit(4))),
          expr("repeat('00', CAST(3 + doc_id % 4 + (3 + doc_id % 4) % 2 AS INT))"))
        val wavHex = concat(lit("52494646"), leHex32(lit(36) + dataSize),
          lit("57415645"),
          when(m === 1, listChunk).otherwise(lit("")),
          lit("666D7420"), leHex32(lit(16)),
          leHex16(lit(1)), leHex16(ch), leHex32(rate),
          leHex32(rate * block), leHex16(block), leHex16(bits),
          lit("64617461"), leHex32(dataSize))
        val d = docs(s, dir).withColumn("payload",
          when(m <= 1, unhex(wavHex))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.audioMeta(d, "payload")
          .select(col("doc_id"), col("audio_format"), col("n_channels"),
            col("sample_rate"), col("bits_per_sample"), col("n_frames"),
            col("duration_ms"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 3 <= 1 THEN CAST(1 AS INT) END AS audio_format, CASE WHEN doc_id % 3 <= 1 THEN CAST(1 + doc_id % 2 AS INT) END AS n_channels, CASE WHEN doc_id % 3 <= 1 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate, CASE WHEN doc_id % 3 <= 1 THEN CAST(8 * (1 + doc_id % 2) AS INT) END AS bits_per_sample, CASE WHEN doc_id % 3 <= 1 THEN CAST(10 + doc_id % 50 AS BIGINT) END AS n_frames, CASE WHEN doc_id % 3 <= 1 THEN CAST((10 + doc_id % 50) * 1000 // (8000 + (doc_id % 8) * 1000) AS BIGINT) END AS duration_ms FROM documents ORDER BY doc_id""")),

    // FLAC audio metadata (r8): plants rate/channels/bits/total-samples
    // (arithmetic functions of doc_id) into the spec-mandated
    // fixed-offset STREAMINFO first block — the packed 64-bit field is
    // assembled by the query as two BE32 halves and flacMeta must
    // recover every field byte-exactly; odd ids are non-FLAC -> all
    // null by contract. The oracle computes the same values
    // arithmetically (it never parses).
    "llm_flac_meta" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(2))
        val rate = lit(8000L) + pmod(col("doc_id"), lit(8)) * 1000L
        val ch = lit(1L) + pmod(col("doc_id"), lit(5))
        val bps = lit(8L) + pmod(col("doc_id"), lit(3)) * 4L
        val tot = lit(1000L) + pmod(col("doc_id"), lit(997))
        val hi = rate * 4096L + (ch - 1L) * 512L + (bps - 1L) * 16L
        def beHex(c: org.apache.spark.sql.Column, digits: Int) =
          lpad(conv(c, 10, 16), digits, "0")
        val flacHex = concat(lit("664C6143"), lit("80"), lit("000022"),
          lit("1000"), lit("1000"), lit("000000"), lit("000000"),
          beHex(hi, 8), beHex(tot, 8))
        val d = docs(s, dir).withColumn("payload",
          when(m === 0, unhex(flacHex))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.flacMeta(d, "payload")
          .select(col("doc_id"), col("sample_rate"), col("n_channels"),
            col("bits_per_sample"), col("total_samples"), col("duration_ms"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate, CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 5 AS INT) END AS n_channels, CASE WHEN doc_id % 2 = 0 THEN CAST(8 + (doc_id % 3) * 4 AS INT) END AS bits_per_sample, CASE WHEN doc_id % 2 = 0 THEN CAST(1000 + doc_id % 997 AS BIGINT) END AS total_samples, CASE WHEN doc_id % 2 = 0 THEN CAST((1000 + doc_id % 997) * 1000 // (8000 + (doc_id % 8) * 1000) AS BIGINT) END AS duration_ms FROM documents ORDER BY doc_id""")),

    // MP3 audio metadata (r8): plants bitrate/rate-index/padding/mode
    // (arithmetic functions of doc_id) into MPEG-1 Layer III frame
    // headers — doc_id%3==1 hides the frame behind a variable-size
    // ID3v2 tag so the syncsafe skip is exercised; the oracle replays
    // the index→value tables as DuckDB list literals and the frame-size
    // rule arithmetically (it never parses). doc_id%3==2 is non-MP3 ->
    // all null by contract.
    "llm_mp3_meta" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(3))
        val brIdx = lit(1L) + pmod(col("doc_id"), lit(14))
        val srIdx = pmod(expr("doc_id div 3"), lit(2))
        val pad = pmod(col("doc_id"), lit(2))
        val mode = pmod(col("doc_id"), lit(4))
        val b3 = brIdx * 16L + srIdx * 4L + pad * 2L
        val b4 = mode * 64L
        def byteHex(c: org.apache.spark.sql.Column) =
          lpad(conv(c, 10, 16), 2, "0")
        val frameHex = concat(lit("FFFB"), byteHex(b3), byteHex(b4))
        val junk = pmod(col("doc_id"), lit(5))
        val id3Hex = concat(lit("494433"), lit("0400"), lit("00"),
          lit("000000"), byteHex(junk),
          expr("repeat('00', CAST(doc_id % 5 AS INT))"))
        val d = docs(s, dir).withColumn("payload",
          when(m === 0, unhex(frameHex))
            .when(m === 1, unhex(concat(id3Hex, frameHex)))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.mp3Meta(d, "payload")
          .select(col("doc_id"), col("bitrate_kbps"), col("sample_rate"),
            col("n_channels"), col("frame_bytes"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 3 <= 1 THEN CAST(list_extract([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320,0], CAST(1 + doc_id % 14 AS INT) + 1) AS INT) END AS bitrate_kbps, CASE WHEN doc_id % 3 <= 1 THEN CAST(list_extract([44100,48000,32000,0], CAST((doc_id // 3) % 2 AS INT) + 1) AS INT) END AS sample_rate, CASE WHEN doc_id % 3 <= 1 THEN CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT) END AS n_channels, CASE WHEN doc_id % 3 <= 1 THEN CAST(CAST(list_extract([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320,0], CAST(1 + doc_id % 14 AS INT) + 1) AS BIGINT) * 144000 // list_extract([44100,48000,32000,0], CAST((doc_id // 3) % 2 AS INT) + 1) + doc_id % 2 AS BIGINT) END AS frame_bytes FROM documents ORDER BY doc_id""")),

    // MP4 video metadata (r7): the query PLANTS timescale/duration/
    // track dims (arithmetic functions of doc_id) into honest ISO-BMFF
    // box trees — ftyp, then a variable-size free box so the top-level
    // walk is exercised, then moov{mvhd, trak{tkhd}} with v0 layouts
    // and 16.16-fixed dims — and videoMeta must recover them
    // byte-exactly; the oracle computes the same values arithmetically
    // (it never parses). Case 1 is non-video -> all-null by contract.
    "llm_video_meta" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(2))
        val tsc = (lit(1000) + pmod(col("doc_id"), lit(10)) * 100).cast("int")
        val dur = (lit(500) + pmod(col("doc_id"), lit(5000))).cast("int")
        val w = (lit(160) + pmod(col("doc_id"), lit(800))).cast("int")
        val hh = (lit(90) + pmod(col("doc_id"), lit(600))).cast("int")
        def beHex(c: org.apache.spark.sql.Column, digits: Int) = lpad(conv(c, 10, 16), digits, "0")
        val pad = pmod(col("doc_id"), lit(4)).cast("int")
        val freeBox = concat(beHex(lit(8) + pad, 8), lit("66726565"),
          expr("repeat('00', CAST(doc_id % 4 AS INT))"))
        val mvhd = concat(lit("0000001C"), lit("6D766864"),
          lit("00000000"), lit("00000000"), lit("00000000"),
          beHex(tsc, 8), beHex(dur, 8))
        val tkhd = concat(lit("0000005C"), lit("746B6864"),
          lit("00000007"), lit("00" * 20), lit("00" * 8), lit("00" * 8),
          lit("00" * 36), beHex(w * 65536, 8), beHex(hh * 65536, 8))
        val trak = concat(lit("00000064"), lit("7472616B"), tkhd)
        val moov = concat(beHex(lit(8 + 28 + 100), 8), lit("6D6F6F76"), mvhd, trak)
        val ftyp = lit("00000010" + "66747970" + "69736F6D" + "00000000")
        val mp4Hex = concat(ftyp, freeBox, moov)
        val d = docs(s, dir).withColumn("payload",
          when(m === 0, unhex(mp4Hex))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.videoMeta(d, "payload")
          .select(col("doc_id"), col("timescale"), col("duration_ms"),
            col("width"), col("height"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN CAST(1000 + (doc_id % 10) * 100 AS INT) END AS timescale, CASE WHEN doc_id % 2 = 0 THEN CAST((500 + doc_id % 5000) * 1000 // (1000 + (doc_id % 10) * 100) AS BIGINT) END AS duration_ms, CASE WHEN doc_id % 2 = 0 THEN CAST(160 + doc_id % 800 AS INT) END AS width, CASE WHEN doc_id % 2 = 0 THEN CAST(90 + doc_id % 600 AS INT) END AS height FROM documents ORDER BY doc_id""")),

    "llm_frame_sample" -> Q(
      (s, dir) => {
        val withBin = docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        LlmOps.frameSample(withBin, "payload", nFrames = 4, frameBytes = 16)
          // hex of the frame bytes, not md5: DuckDB's md5 is VARCHAR-only,
          // and its blobs slice via hex(…) anyway — content-exact compare
          .select(col("doc_id"), col("frame_idx"), col("frame_size"),
            hex(col("frame")).as("frame_hex"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH f AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS h, octet_length(CAST(text AS BLOB)) AS total FROM documents), g AS (SELECT doc_id, i AS frame_idx, substring(h, CAST(i * greatest(total - 16, 1) // 3 AS INT) * 2 + 1, 32) AS frame_hex FROM f, generate_series(0, 3) s(i)) SELECT doc_id, frame_idx, CAST(length(frame_hex) // 2 AS BIGINT) AS frame_size, frame_hex FROM g ORDER BY doc_id, frame_idx""")),

    // BPE pair statistics (r6): frequency-weighted adjacent char-pair
    // counts over the distinct-word vocabulary — the tokenizer-training
    // merge-selection pass; value-exact vs DuckDB's recompute
    // Iterative BPE training (r7): 3 merge rounds, each = pick the
    // best frequency-weighted adjacent pair (cnt desc, pair asc
    // tiebreak) and apply it greedily left-to-right over the
    // vocabulary. The oracle replays all 3 rounds UNROLLED (the
    // q156_pagerank convention): per round it recounts pairs, takes
    // the same argmax, and rebuilds each word via the positional
    // greedy rule — matches of the pair grouped into consecutive
    // runs, every other position merged (exactly the Spark fold's
    // left-to-right semantics, including x==y runs like "aaa").
    // Value-exact: integer counts, string symbols, no FP anywhere.
    "llm_bpe_train" -> Q(
      (s, dir) => LlmOps.bpeTrain(docs(s, dir), rounds = 3),
      Some("""WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (SELECT unnest(string_split(lower(COALESCE(text, '')), ' ')) AS w FROM documents) WHERE length(w) >= 2 GROUP BY 1), v0 AS (SELECT w, f, array_to_string(list_transform(generate_series(1, CAST(length(w) AS INT)), i -> substr(w, i, 1)), ' ') AS s FROM wf), sp1 AS (SELECT w, f, string_split(s, ' ') AS sl FROM v0), e1 AS (SELECT w, f, sl, unnest(generate_series(1, len(sl))) AS j FROM sp1), b1 AS (SELECT sl[j] AS x, sl[j+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt FROM e1 WHERE j < len(sl) GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1), m1 AS (SELECT e.w, e.j FROM e1 e, b1 b WHERE e.j < len(e.sl) AND e.sl[e.j] = b.x AND e.sl[e.j+1] = b.y), k1 AS (SELECT w, j FROM (SELECT w, j, MIN(j) OVER (PARTITION BY w, g) AS p FROM (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS g FROM m1)) WHERE (j - p) % 2 = 0), v1 AS (SELECT e.w, MIN(e.f) AS f, string_agg(CASE WHEN ka.j IS NOT NULL THEN b.x || b.y ELSE e.sl[e.j] END, ' ' ORDER BY e.j) AS s FROM e1 e CROSS JOIN b1 b LEFT JOIN k1 ka ON e.w = ka.w AND e.j = ka.j LEFT JOIN k1 kb ON e.w = kb.w AND e.j = kb.j + 1 WHERE kb.j IS NULL GROUP BY e.w), sp2 AS (SELECT w, f, string_split(s, ' ') AS sl FROM v1), e2 AS (SELECT w, f, sl, unnest(generate_series(1, len(sl))) AS j FROM sp2), b2 AS (SELECT sl[j] AS x, sl[j+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt FROM e2 WHERE j < len(sl) GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1), m2 AS (SELECT e.w, e.j FROM e2 e, b2 b WHERE e.j < len(e.sl) AND e.sl[e.j] = b.x AND e.sl[e.j+1] = b.y), k2 AS (SELECT w, j FROM (SELECT w, j, MIN(j) OVER (PARTITION BY w, g) AS p FROM (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS g FROM m2)) WHERE (j - p) % 2 = 0), v2 AS (SELECT e.w, MIN(e.f) AS f, string_agg(CASE WHEN ka.j IS NOT NULL THEN b.x || b.y ELSE e.sl[e.j] END, ' ' ORDER BY e.j) AS s FROM e2 e CROSS JOIN b2 b LEFT JOIN k2 ka ON e.w = ka.w AND e.j = ka.j LEFT JOIN k2 kb ON e.w = kb.w AND e.j = kb.j + 1 WHERE kb.j IS NULL GROUP BY e.w), sp3 AS (SELECT w, f, string_split(s, ' ') AS sl FROM v2), e3 AS (SELECT w, f, sl, unnest(generate_series(1, len(sl))) AS j FROM sp3), b3 AS (SELECT sl[j] AS x, sl[j+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt FROM e3 WHERE j < len(sl) GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1) SELECT * FROM (SELECT CAST(1 AS INT) AS round, x AS sym_a, y AS sym_b, cnt FROM b1 UNION ALL SELECT CAST(2 AS INT), x, y, cnt FROM b2 UNION ALL SELECT CAST(3 AS INT), x, y, cnt FROM b3) ORDER BY round""")),

    // BPE tokenizer APPLICATION (r7): the corpus token-budget question
    // — per-doc whitespace-word count and post-merge BPE token count
    // under the 3 trained merges. The oracle extends the unrolled
    // replay through the third merge's vocabulary rebuild (v3), maps
    // every doc word to its merged symbol count (1-char words, below
    // the training floor, count 1), and re-aggregates per doc.
    // Value-exact: integer counts end to end.
    "llm_bpe_tokenize" -> Q(
      (s, dir) => LlmOps.bpeTokenize(docs(s, dir), rounds = 3).orderBy("doc_id"),
      Some("""WITH wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (SELECT unnest(string_split(lower(COALESCE(text, '')), ' ')) AS w FROM documents) WHERE length(w) >= 2 GROUP BY 1), v0 AS (SELECT w, f, array_to_string(list_transform(generate_series(1, CAST(length(w) AS INT)), i -> substr(w, i, 1)), ' ') AS s FROM wf), sp1 AS (SELECT w, f, string_split(s, ' ') AS sl FROM v0), e1 AS (SELECT w, f, sl, unnest(generate_series(1, len(sl))) AS j FROM sp1), b1 AS (SELECT sl[j] AS x, sl[j+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt FROM e1 WHERE j < len(sl) GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1), m1 AS (SELECT e.w, e.j FROM e1 e, b1 b WHERE e.j < len(e.sl) AND e.sl[e.j] = b.x AND e.sl[e.j+1] = b.y), k1 AS (SELECT w, j FROM (SELECT w, j, MIN(j) OVER (PARTITION BY w, g) AS p FROM (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS g FROM m1)) WHERE (j - p) % 2 = 0), v1 AS (SELECT e.w, MIN(e.f) AS f, string_agg(CASE WHEN ka.j IS NOT NULL THEN b.x || b.y ELSE e.sl[e.j] END, ' ' ORDER BY e.j) AS s FROM e1 e CROSS JOIN b1 b LEFT JOIN k1 ka ON e.w = ka.w AND e.j = ka.j LEFT JOIN k1 kb ON e.w = kb.w AND e.j = kb.j + 1 WHERE kb.j IS NULL GROUP BY e.w), sp2 AS (SELECT w, f, string_split(s, ' ') AS sl FROM v1), e2 AS (SELECT w, f, sl, unnest(generate_series(1, len(sl))) AS j FROM sp2), b2 AS (SELECT sl[j] AS x, sl[j+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt FROM e2 WHERE j < len(sl) GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1), m2 AS (SELECT e.w, e.j FROM e2 e, b2 b WHERE e.j < len(e.sl) AND e.sl[e.j] = b.x AND e.sl[e.j+1] = b.y), k2 AS (SELECT w, j FROM (SELECT w, j, MIN(j) OVER (PARTITION BY w, g) AS p FROM (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS g FROM m2)) WHERE (j - p) % 2 = 0), v2 AS (SELECT e.w, MIN(e.f) AS f, string_agg(CASE WHEN ka.j IS NOT NULL THEN b.x || b.y ELSE e.sl[e.j] END, ' ' ORDER BY e.j) AS s FROM e2 e CROSS JOIN b2 b LEFT JOIN k2 ka ON e.w = ka.w AND e.j = ka.j LEFT JOIN k2 kb ON e.w = kb.w AND e.j = kb.j + 1 WHERE kb.j IS NULL GROUP BY e.w), sp3 AS (SELECT w, f, string_split(s, ' ') AS sl FROM v2), e3 AS (SELECT w, f, sl, unnest(generate_series(1, len(sl))) AS j FROM sp3), b3 AS (SELECT sl[j] AS x, sl[j+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt FROM e3 WHERE j < len(sl) GROUP BY 1, 2 ORDER BY cnt DESC, x, y LIMIT 1), m3 AS (SELECT e.w, e.j FROM e3 e, b3 b WHERE e.j < len(e.sl) AND e.sl[e.j] = b.x AND e.sl[e.j+1] = b.y), k3 AS (SELECT w, j FROM (SELECT w, j, MIN(j) OVER (PARTITION BY w, g) AS p FROM (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS g FROM m3)) WHERE (j - p) % 2 = 0), v3 AS (SELECT e.w, MIN(e.f) AS f, string_agg(CASE WHEN ka.j IS NOT NULL THEN b.x || b.y ELSE e.sl[e.j] END, ' ' ORDER BY e.j) AS s FROM e3 e CROSS JOIN b3 b LEFT JOIN k3 ka ON e.w = ka.w AND e.j = ka.j LEFT JOIN k3 kb ON e.w = kb.w AND e.j = kb.j + 1 WHERE kb.j IS NULL GROUP BY e.w), sz AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_syms FROM v3), dw AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(lower(COALESCE(text, '')), ' ')) AS w FROM documents) WHERE length(w) >= 1), jj AS (SELECT doc_id, COALESCE(n_syms, 1) AS n FROM dw LEFT JOIN sz USING (w)), ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, CAST(SUM(n) AS BIGINT) AS n_bpe_tokens FROM jj GROUP BY 1) SELECT d.doc_id, COALESCE(n_words, CAST(0 AS BIGINT)) AS n_words, COALESCE(n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""")),

    "llm_bpe_pairs" -> Q(
      (s, dir) => LlmOps.bpePairCounts(docs(s, dir), k = 20),
      Some("""WITH w AS (SELECT unnest(string_split(lower(COALESCE(text, '')), ' ')) AS w FROM documents), f AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM w WHERE length(w) >= 2 GROUP BY 1), px AS (SELECT substr(w, i, 2) AS pair, f FROM (SELECT w, f, unnest(generate_series(1, length(w) - 1)) AS i FROM f)) SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt FROM px GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""")),

    // corpus top-k n-grams (r6): phrase/vocabulary statistics — one
    // explode + one hash aggregate, deterministic tiebreak
    "llm_ngram_counts" -> Q(
      (s, dir) => LlmOps.ngramCounts(docs(s, dir), n = 3, k = 25),
      Some("""WITH t AS (SELECT string_split(lower(COALESCE(text, '')), ' ') AS tk FROM documents), g AS (SELECT array_to_string(tk[i : i + 2], ' ') AS gram FROM (SELECT tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM t WHERE len(tk) >= 3)) SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1 ORDER BY cnt DESC, gram LIMIT 25""")),

    "llm_token_count" -> Q(
      (s, dir) => LlmOps.tokenCount(docs(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_ws_tokens, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens, ROUND(CAST(length(text) AS DOUBLE) / greatest(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')), 1), 4) AS chars_per_token FROM documents ORDER BY doc_id""")),

    // PII scrub: RE2-compatible patterns on both engines; the fixture
    // text is synthetic (counts mostly 0) — the oracle still
    // value-compares the scrubbed text and per-class counts exactly;
    // behavior on real PII is pinned in LlmOpsSpec with injected rows
    "llm_pii_scrub" -> Q(
      (s, dir) => LlmOps.piiScrub(docs(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, CAST(len(regexp_extract_all(text, '\+[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phone, CAST(len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip, regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\+[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g'), '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean_text FROM documents ORDER BY doc_id""")),

    // cross-document repeated 8-token spans: per-doc fraction of
    // distinct shingles shared with at least one other document (Spark
    // side hashes shingles to longs — count-identical modulo ~1e-9
    // collisions; the oracle keeps the strings)
    "llm_substring_dup" -> Q(
      (s, dir) => LlmOps.substringDup(docs(s, dir), w = 8).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), ix AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i FROM t WHERE len(toks) >= 8), sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS s FROM ix), df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1) SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles, ROUND(CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS dup_ratio FROM sh JOIN df USING (s) GROUP BY 1 ORDER BY 1""")),

    // Bigram conditional LM score (r5): mean -ln p(tok|prev) under the
    // corpus MLE bigram model — value-exact via per-pair integer micros
    // (the unigram_logprob convention); docs with < 2 tokens drop out
    "llm_bigram_logprob" -> Q(
      (s, dir) => LlmOps.bigramLogProb(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS toks FROM documents WHERE len(string_split(lower(text), ' ')) >= 2), g AS (SELECT id, toks[i-1] AS prev, toks[i] AS cur FROM (SELECT id, toks, unnest(generate_series(2, len(toks))) AS i FROM t)), c2 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c2 FROM g GROUP BY 1, 2), c1 AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c1 FROM g GROUP BY 1) SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, ROUND(CAST(SUM(CAST(ROUND(-LN(CAST(c2 AS DOUBLE) / c1) * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS mean_neg_logp2 FROM g JOIN c2 USING (prev, cur) JOIN c1 USING (prev) GROUP BY 1 ORDER BY 1""")),

    // URL canonicalization (r8): crawl-dedup front door — known-answer
    // oracle over the documented rules (lowercase scheme+authority,
    // fragment stripped, :80/:443 dropped, utm_*/fbclid/gclid dropped,
    // surviving query params byte-sorted, non-URLs pass through with
    // only the fragment stripped).
    "q173_url_normalize" -> Q(kqlQ(
      """print a = url_normalize('HTTP://Example.COM:80/Path/Page?b=2&utm_source=x&a=1#frag'),
              b = url_normalize('https://site.com:443/'),
              c = url_normalize('https://site.com/x?utm_campaign=z&fbclid=abc'),
              d = url_normalize('not a url#frag'),
              e = url_normalize('https://h.io/p?z=1&y=2&z=0')"""),
      Some("""SELECT 'http://example.com/Path/Page?a=1&b=2' AS a, 'https://site.com/' AS b, 'https://site.com/x' AS c, 'not a url' AS d, 'https://h.io/p?y=2&z=0&z=1' AS e""")),

    // CUSUM change detection (r8): Page's positive-drift statistic over
    // literal series — integer-valued steps make every fold state
    // exactly representable, so the peak statistic and its position are
    // VALUE-EXACT constants both engines agree on (known-answer print
    // oracle, the q162 convention). Case 2 never drifts above target →
    // (0, 0); case 3's drift starts mid-series.
    "q172_cusum" -> Q(kqlQ(
      """print a = series_cusum_detect(pack_array(10.0, 12.0, 9.0, 15.0, 16.0, 14.0), 11.0, 1.0),
              b = series_cusum_detect(pack_array(5.0, 6.0, 5.0, 4.0), 11.0, 1.0),
              c = series_cusum_detect(pack_array(0.0, 0.0, 0.0, 4.0, 4.0, 0.0), 1.0, 1.0)
        | project stat_a = todouble(a.max_stat), idx_a = tolong(a.idx),
                  stat_b = todouble(b.max_stat), idx_b = tolong(b.idx),
                  stat_c = todouble(c.max_stat), idx_c = tolong(c.idx)"""),
      Some("""SELECT CAST(9.0 AS DOUBLE) AS stat_a, CAST(6 AS BIGINT) AS idx_a, CAST(0.0 AS DOUBLE) AS stat_b, CAST(0 AS BIGINT) AS idx_b, CAST(4.0 AS DOUBLE) AS stat_c, CAST(5 AS BIGINT) AS idx_c""")),

    // Per-source KL divergence (r8): the domain-drift statistic — each
    // (source, token) term p·ln(p/q) rounds to integer micros before
    // the per-source sum, so the divergences are VALUE-EXACT (both
    // engines walk identical IEEE division/log sequences; mixed-sign
    // terms round half-away identically).
    "llm_source_kl" -> Q(
      (s, dir) => LlmOps.sourceKl(docs(s, dir)),
      Some("""WITH tk AS (SELECT source, t FROM (SELECT source, unnest(string_split(lower(COALESCE(text, '')), ' ')) AS t FROM documents) WHERE len(t) >= 1), st AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cst FROM tk GROUP BY 1, 2), s AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS cs FROM st GROUP BY 1), tt AS (SELECT t, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1), c AS (SELECT CAST(SUM(cst) AS BIGINT) AS ctot FROM st), terms AS (SELECT source, CAST(ROUND((CAST(cst AS DOUBLE) / cs) * LN((CAST(cst AS DOUBLE) / cs) / (CAST(ct AS DOUBLE) / ctot)) * 1000000.0) AS BIGINT) AS u FROM st JOIN s USING (source) JOIN tt USING (t) CROSS JOIN c) SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms, CAST(SUM(u) AS BIGINT) AS kl_u FROM terms GROUP BY 1 ORDER BY 1""")),

    // Reciprocal-rank fusion (r8): fuses the BM25 lexical top-50 with a
    // deterministic length-prior top-50 (stand-in for the second
    // retrieval system; both rankings and the fusion are exact integer
    // arithmetic, so the fused order and the 10-cut are VALUE-EXACT —
    // ANN-side fusion, whose ranks are FP-tied, is spec'd in ScalaTest
    // instead). Each rank window runs over an ALREADY top-k-bounded
    // 50-row frame (TakeOrderedAndProject first), never the corpus.
    "llm_rrf_fuse" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val bm = LlmOps.bm25(docs(s, dir),
            "fast window merge sort stream", k = 50)
          .select(col("doc_id"), row_number().over(
            Window.orderBy(col("score_u").desc, col("doc_id"))).as("rank"))
          .withColumn("system", lit("bm25"))
        val ln = docs(s, dir).select(col("doc_id"), col("n_chars"))
          .orderBy(col("n_chars").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), row_number().over(
            Window.orderBy(col("n_chars").desc, col("doc_id"))).as("rank"))
          .withColumn("system", lit("length"))
        LlmOps.rrfFuse(bm.unionByName(ln), k0 = 60, topK = 10)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(COALESCE(text, '')), ' ') AS toks FROM documents), d AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl, toks FROM t), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM d), h AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d) WHERE tok IN ('fast', 'window', 'merge', 'sort', 'stream') GROUP BY 1, 2, 3), dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM h GROUP BY 1), c AS (SELECT doc_id, CAST(ROUND(LN(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (tf * (CAST(1.2 AS DOUBLE) + 1.0) / (tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))) * 1000000.0) AS BIGINT) AS cu FROM h JOIN dfq USING (tok) CROSS JOIN s), bm AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY SUM(cu) DESC, doc_id) AS rank FROM c GROUP BY doc_id ORDER BY SUM(cu) DESC, doc_id LIMIT 50), ln AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank FROM documents QUALIFY rank <= 50), u AS (SELECT doc_id, rank FROM bm UNION ALL SELECT doc_id, rank FROM ln), f AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems, CAST(SUM(CAST(ROUND(CAST(1000000 AS DOUBLE) / (60 + rank)) AS BIGINT)) AS BIGINT) AS rrf_u FROM u GROUP BY 1) SELECT doc_id, n_systems, rrf_u FROM f ORDER BY rrf_u DESC, doc_id LIMIT 10""")),

    // Hashed-BoW logistic-regression classifier (r8): contract row (the
    // llm_kmeans convention — per-round double sums are merge-order
    // FP-sensitive, so booleans are hashed, mechanics pinned in the
    // spec). A planted ' qualmark' marker on every doc_id%3==0 doc makes
    // the task separable at every SF: 10 full-batch GD rounds at the
    // monotone-safe lr (idf features + prior-init bias — see the op's
    // optimizer notes; the fixture reaches 1.0 by round 8) must reach
    // >= 95% training accuracy with class-1 probabilities above
    // class-0 on average, covering all rows.
    "llm_quality_classifier" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
          .withColumn("label",
            when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0))
          .withColumn("text",
            when(col("label") === 1, concat(col("text"), lit(" qualmark")))
              .otherwise(col("text")))
        LlmOps.logRegScore(d, "label", dim = 256, iters = 10, lr = 1.3)
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
              .as("n_correct"),
            avg(when(col("label") === 1, col("prob"))).as("p1"),
            avg(when(col("label") === 0, col("prob"))).as("p0"))
          .select(col("n_docs"),
            (col("n_correct") >= col("n_docs") * 0.95).as("acc_ok"),
            (col("p1") > col("p0")).as("separated"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, true AS acc_ok, true AS separated FROM documents""")),

    // Count-min sketch (r8): depth-4 × width-512 sketch over the corpus
    // token stream, probed for five present tokens + one absent — the
    // md5-hex-char salted hashes make counters, probe buckets, and the
    // row-min VALUE-EXACT in DuckDB (the featureHash bucket convention
    // applied to a sketch). est ≥ true structurally; the spec pins the
    // overestimate bound and shard-merge additivity.
    "llm_cms_count" -> Q(
      (s, dir) => LlmOps.cmsCount(docs(s, dir),
        "scan join window stream fast zebra", width = 512, depth = 4),
      Some("""WITH tk AS (SELECT tok FROM (SELECT unnest(string_split(lower(COALESCE(text, '')), ' ')) AS tok FROM documents) WHERE len(tok) >= 1), rs AS (SELECT unnest(generate_series(0, 3)) AS r), h AS (SELECT r, (ascii(substring(md5('cms' || CAST(r AS VARCHAR) || '_' || tok), 1, 1)) * 10000 + ascii(substring(md5('cms' || CAST(r AS VARCHAR) || '_' || tok), 2, 1)) * 100 + ascii(substring(md5('cms' || CAST(r AS VARCHAR) || '_' || tok), 3, 1))) % 512 AS bucket FROM tk CROSS JOIN rs), counters AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1, 2), probes AS (SELECT unnest(['fast', 'join', 'scan', 'stream', 'window', 'zebra']) AS token), ph AS (SELECT token, r, (ascii(substring(md5('cms' || CAST(r AS VARCHAR) || '_' || token), 1, 1)) * 10000 + ascii(substring(md5('cms' || CAST(r AS VARCHAR) || '_' || token), 2, 1)) * 100 + ascii(substring(md5('cms' || CAST(r AS VARCHAR) || '_' || token), 3, 1))) % 512 AS bucket FROM probes CROSS JOIN rs) SELECT token, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS est FROM ph LEFT JOIN counters USING (r, bucket) GROUP BY 1 ORDER BY 1""")),

    // OLS linear regression (r8): planted-recovery oracle — the target
    // is the exact integer relation y = 3·n_chars − 2·(doc_id mod 7) +
    // 7, every Gram sum is an exact integer-valued double (< 2^53), so
    // the normal-equations solve recovers the planted coefficients to
    // ≫ 6dp at every SF and R² = 1 exactly; the oracle pins the
    // constants plus the row count (proof all rows participated).
    "llm_linreg" -> Q(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("n_chars"),
            pmod(col("doc_id"), lit(7L)).as("dmod"))
          .withColumn("y",
            lit(3L) * col("n_chars") - lit(2L) * col("dmod") + lit(7L))
        LlmOps.linReg(d, "y", Seq("n_chars", "dmod"))
          .select(col("feature"), round(col("coef"), 6).as("coef"))
          .orderBy("feature")
      },
      Some("""SELECT feature, coef FROM (SELECT '_intercept' AS feature, 7.0 AS coef UNION ALL SELECT '_n', CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) UNION ALL SELECT '_r2', 1.0 UNION ALL SELECT 'dmod', -2.0 UNION ALL SELECT 'n_chars', 3.0) ORDER BY feature""")),

    // BM25 against the AT-REST inverted index (r12): bucket-pruned
    // postings for the query terms only — scores bit-identical to the
    // corpus-pass llm_bm25, so the SAME DuckDB replay is the oracle
    "llm_bm25_indexed" -> Q(
      (s, dir) => {
        LlmOps.buildBm25Index(docs(s, dir), "graft_bm25_idx")
        LlmOps.bm25Indexed(s, "graft_bm25_idx",
          "fast window merge sort stream", k = 10)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(COALESCE(text, '')), ' ') AS toks FROM documents), d AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl, toks FROM t), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM d), h AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d) WHERE tok IN ('fast', 'window', 'merge', 'sort', 'stream') GROUP BY 1, 2, 3), dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM h GROUP BY 1), c AS (SELECT doc_id, CAST(ROUND(LN(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (tf * (CAST(1.2 AS DOUBLE) + 1.0) / (tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))) * 1000000.0) AS BIGINT) AS cu FROM h JOIN dfq USING (tok) CROSS JOIN s) SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, CAST(SUM(cu) AS BIGINT) AS score_u FROM c GROUP BY 1 ORDER BY score_u DESC, doc_id LIMIT 10""")),

    // Okapi BM25 top-10 retrieval (r8): lexical ranking next to the ANN
    // family — per-(doc, term) contributions in integer micros make the
    // scores, the rank order, and the k-cut VALUE-EXACT cross-engine
    // (the unigram_logprob convention; score stays the integer per the
    // DSIR ROUND(,4) lesson). Both SQL and Column trees fold constants
    // identically — (1.2 + 1.0) and CAST(1.2 AS DOUBLE) are spelled out
    // so DuckDB never drops into DECIMAL arithmetic.
    "llm_bm25" -> Q(
      (s, dir) => LlmOps.bm25(docs(s, dir),
        "fast window merge sort stream", k = 10),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(COALESCE(text, '')), ' ') AS toks FROM documents), d AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl, toks FROM t), s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl FROM d), h AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d) WHERE tok IN ('fast', 'window', 'merge', 'sort', 'stream') GROUP BY 1, 2, 3), dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM h GROUP BY 1), c AS (SELECT doc_id, CAST(ROUND(LN(1.0 + (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * (tf * (CAST(1.2 AS DOUBLE) + 1.0) / (tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / n)))) * 1000000.0) AS BIGINT) AS cu FROM h JOIN dfq USING (tok) CROSS JOIN s) SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms, CAST(SUM(cu) AS BIGINT) AS score_u FROM c GROUP BY 1 ORDER BY score_u DESC, doc_id LIMIT 10""")),

    // C4-style line-level dedup (r5): the fixture text is single-line,
    // so both engines first reformat it into 10-token lines — the op
    // itself is delimiter-generic. Every repeated line survives only at
    // its first (doc_id, pos); docs reassemble in original line order.
    "llm_line_dedup" -> Q(
      (s, dir) => LlmOps.lineDedup(relined10(docs(s, dir))).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents), lx AS (SELECT doc_id, k AS pos, array_to_string(tk[k*10+1 : k*10+10], ' ') AS line FROM (SELECT doc_id, tk, unnest(generate_series(0, CAST(floor((len(tk)-1)/10.0) AS INT))) AS k FROM t)), own AS (SELECT line, MIN(doc_id * 1000000 + pos) AS o FROM lx GROUP BY 1), kept AS (SELECT doc_id, pos, line FROM lx JOIN own USING (line) WHERE doc_id * 1000000 + pos = o), nl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lx GROUP BY 1), ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY 1) SELECT nl.doc_id, n_lines, COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_text, '') AS clean_text FROM nl LEFT JOIN ka USING (doc_id) ORDER BY doc_id""")),

    // RefinedWeb frequent-line boilerplate removal (r5): lines in >= 3
    // distinct docs vanish everywhere; rare lines keep all occurrences
    "llm_boilerplate" -> Q(
      (s, dir) => LlmOps.boilerplateRemove(relined10(docs(s, dir)), minDf = 3)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents), lx AS (SELECT doc_id, k AS pos, array_to_string(tk[k*10+1 : k*10+10], ' ') AS line FROM (SELECT doc_id, tk, unnest(generate_series(0, CAST(floor((len(tk)-1)/10.0) AS INT))) AS k FROM t)), dfq AS (SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM lx GROUP BY 1), kept AS (SELECT doc_id, pos, line FROM lx JOIN dfq USING (line) WHERE df < 3), nl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lx GROUP BY 1), ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY 1) SELECT nl.doc_id, n_lines, COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_text, '') AS clean_text FROM nl LEFT JOIN ka USING (doc_id) ORDER BY doc_id""")),

    // Overlapping token-window chunking (r5): 16-token chunks, 4-token
    // overlap (stride 12) — value-exact per-chunk text recompute
    "llm_chunk" -> Q(
      (s, dir) => LlmOps.chunkDocs(docs(s, dir), chunkTokens = 16,
        overlapTokens = 4).orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents) SELECT doc_id, CAST(k AS INT) AS chunk_idx, CAST(least(16, len(tk) - k*12) AS BIGINT) AS n_toks, array_to_string(tk[k*12+1 : k*12+16], ' ') AS chunk_text FROM (SELECT doc_id, tk, unnest(generate_series(0, CAST(floor((len(tk)-1)/12.0) AS INT))) AS k FROM t) ORDER BY doc_id, chunk_idx""")),

    // Sequence packing (r5): concat-then-cut assignment in Knuth-hash
    // order, 500-char sequences per source — integer-exact quotient /
    // remainder, so DuckDB replays the exact assignment
    "llm_pack" -> Q(
      (s, dir) => LlmOps.packSequences(docs(s, dir), 500)
        .orderBy("source", "seq_id", "offset_in_seq", "doc_id"),
      Some("""WITH c AS (SELECT source, doc_id, n_chars, CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY (doc_id * 2654435761) % 4294967296, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS so FROM documents) SELECT source, CAST(so // 500 AS BIGINT) AS seq_id, doc_id, CAST(n_chars AS BIGINT) AS w, CAST(so % 500 AS BIGINT) AS offset_in_seq FROM c ORDER BY source, seq_id, offset_in_seq, doc_id""")),

    // Distributed Lloyd k-means (r5): contract row — Lloyd's descent
    // property (5-round WCSS <= 1-round WCSS), full assignment, cell
    // count bounded by k. Centroid layout is FP-summation-order
    // dependent, so only the invariant booleans are hashed; the
    // objective/assignment mechanics are pinned in LlmOpsSpec.
    "llm_kmeans" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        val w1 = LlmOps.kmeansFit(e, 8, iters = 1)
          .agg(sum(col("dist2")).as("w1"))
        LlmOps.kmeansFit(e, 8, iters = 5)
          .agg(sum(col("dist2")).as("w5"), count(lit(1)).as("n_points"),
            count_distinct(col("cell")).as("kc"))
          .crossJoin(w1)
          .select(col("n_points"), (col("kc") <= 8).as("k_ok"),
            (col("w5") <= col("w1") + 1e-6).as("improved"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_points, true AS k_ok, true AS improved FROM embeddings""")),

    // Incremental LINE dedup (r5): even-id corpus builds the persisted
    // line index, odd-id batch dedups against it + in-batch
    // first-occurrence — value-exact (DuckDB replays corpus-line
    // membership and batch ownership on the reformatted 10-token lines)
    "llm_line_dedup_incr" -> Q(
      (s, dir) => {
        val r = relined10(docs(s, dir))
        LlmOps.buildLineIndex(r.filter(pmod(col("doc_id"), lit(2)) === 0),
          "graft_line_index")
        LlmOps.lineDedupIncremental(
          r.filter(pmod(col("doc_id"), lit(2)) === 1), "graft_line_index")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents), lx AS (SELECT doc_id, k AS pos, array_to_string(tk[k*10+1 : k*10+10], ' ') AS line FROM (SELECT doc_id, tk, unnest(generate_series(0, CAST(floor((len(tk)-1)/10.0) AS INT))) AS k FROM t)), corp AS (SELECT DISTINCT line FROM lx WHERE doc_id % 2 = 0), bl AS (SELECT doc_id, pos, line FROM lx WHERE doc_id % 2 = 1), fresh AS (SELECT * FROM bl WHERE line NOT IN (SELECT line FROM corp)), own AS (SELECT line, MIN(doc_id * 1000000 + pos) AS o FROM fresh GROUP BY 1), kept AS (SELECT doc_id, pos, line FROM fresh JOIN own USING (line) WHERE doc_id * 1000000 + pos = o), nl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM bl GROUP BY 1), ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY 1) SELECT nl.doc_id, n_lines, COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_text, '') AS clean_text FROM nl LEFT JOIN ka USING (doc_id) ORDER BY doc_id""")),

    // Curation pipeline v2 (r5): the NEW line-level stages composed end
    // to end — boilerplate removal → corpus line dedup → normalize →
    // sequence packing → per-(source, seq) accounting. Every stage is
    // engine-portable, so the whole chain is value-exact (the
    // llm_pipeline_e2e composition-proof pattern). Docs whose every
    // line is removed stay in the corpus with weight 0.
    "llm_pipeline_v2" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        // fused boilerplate→line-dedup: value-identical to the composed
        // bp |> lineDedup (LlmOpsSpec equivalence test) at one explode
        // and one reassemble — the composed form re-split the
        // reassembled text and recomputed the boilerplate subtree 3×
        // (r11 profile: the dedup stage alone was 4.0 of 6.1 s)
        val ld = LlmOps.boilerplateLineDedup(relined10(d), minDf = 3)
        val norm = LlmOps.textNormalize(
          ld.select(col("doc_id"), col("clean_text").as("text")))
        val withSrc = norm.join(d.select("doc_id", "source"), "doc_id")
        LlmOps.packSequences(withSrc, 500, weightCol = "n_chars_norm")
          .groupBy("source", "seq_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_chars"))
          .orderBy("source", "seq_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents), lx AS (SELECT doc_id, k AS pos, array_to_string(tk[k*10+1 : k*10+10], ' ') AS line FROM (SELECT doc_id, tk, unnest(generate_series(0, CAST(floor((len(tk)-1)/10.0) AS INT))) AS k FROM t)), dfq AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM lx GROUP BY 1), k1 AS (SELECT doc_id, pos, line FROM lx JOIN dfq USING (line) WHERE df < 3), own AS (SELECT line, MIN(doc_id * 1000000 + pos) AS o FROM k1 GROUP BY 1), k2 AS (SELECT doc_id, pos, line FROM k1 JOIN own USING (line) WHERE doc_id * 1000000 + pos = o), agg AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS txt FROM k2 GROUP BY 1), alldocs AS (SELECT d.doc_id, d.source, COALESCE(length(trim(regexp_replace(regexp_replace(nfc_normalize(a.txt), '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))), 0) AS w FROM documents d LEFT JOIN agg a USING (doc_id)), c AS (SELECT source, doc_id, w, CAST(SUM(w) OVER (PARTITION BY source ORDER BY (doc_id * 2654435761) % 4294967296, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w AS BIGINT) AS so FROM alldocs) SELECT source, CAST(so // 500 AS BIGINT) AS seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(w) AS BIGINT) AS sum_chars FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // DSIR importance weights (r5): log p_target/p_raw over hashed
    // bigram feature buckets, target = the corpus's en slice. The
    // md5-hex bucket hash is engine-portable, so DuckDB recomputes the
    // exact score (per-gram integer micros)
    "llm_dsir" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        LlmOps.dsirWeights(d, d.filter(col("lang") === "en")).orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id AS id, lang, string_split(lower(text), ' ') AS toks FROM documents WHERE len(string_split(lower(text), ' ')) >= 2), gall AS (SELECT id, lang, concat_ws(' ', toks[i], toks[i+1]) AS gr FROM (SELECT id, lang, toks, unnest(generate_series(1, len(toks)-1)) AS i FROM t)), g AS (SELECT id, lang, (ascii(substr(md5(gr),1,1))*10000 + ascii(substr(md5(gr),2,1))*100 + ascii(substr(md5(gr),3,1))) % 256 AS b FROM gall), tg AS (SELECT b FROM g WHERE lang = 'en'), cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM g GROUP BY 1), ctx AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tg GROUP BY 1), nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nr FROM g), nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM tg), lam AS (SELECT b, CAST(ROUND((LN((COALESCE(ct, 0)+1)/(nt+256)) - LN((cr+1)/(nr+256)))*1000000) AS BIGINT) AS lam_u FROM cr LEFT JOIN ctx USING (b), nr, nt) SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, CAST(SUM(lam_u) AS BIGINT) AS log_w_u FROM g JOIN lam USING (b) GROUP BY 1 ORDER BY 1""")),

    // DSIR Gumbel top-k resampling (r6): the paper's sampling step —
    // deterministic hash-seeded Gumbel noise on the integer-micro log
    // weights; key and cut replay value-exactly in DuckDB (the naive
    // Knuth modmul is safe at fixture id magnitudes).
    "llm_dsir_resample" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        LlmOps.dsirResample(d, d.filter(col("lang") === "en"), k = 200)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id AS id, lang, string_split(lower(text), ' ') AS toks FROM documents WHERE len(string_split(lower(text), ' ')) >= 2), gall AS (SELECT id, lang, concat_ws(' ', toks[i], toks[i+1]) AS gr FROM (SELECT id, lang, toks, unnest(generate_series(1, len(toks)-1)) AS i FROM t)), g AS (SELECT id, lang, (ascii(substr(md5(gr),1,1))*10000 + ascii(substr(md5(gr),2,1))*100 + ascii(substr(md5(gr),3,1))) % 256 AS b FROM gall), tg AS (SELECT b FROM g WHERE lang = 'en'), cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM g GROUP BY 1), ctx AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tg GROUP BY 1), nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nr FROM g), nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM tg), lam AS (SELECT b, CAST(ROUND((LN((COALESCE(ct, 0)+1)/(nt+256)) - LN((cr+1)/(nr+256)))*1000000) AS BIGINT) AS lam_u FROM cr LEFT JOIN ctx USING (b), nr, nt), w AS (SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, CAST(SUM(lam_u) AS BIGINT) AS log_w_u FROM g JOIN lam USING (b) GROUP BY 1), sel AS (SELECT doc_id, n_grams, log_w_u, log_w_u + CAST(ROUND(-LN(-LN((((doc_id * 2654435761) % 4294967296) + 0.5) / 4294967296)) * 1000000) AS BIGINT) AS key_u FROM w ORDER BY key_u DESC, doc_id LIMIT 200) SELECT doc_id, n_grams, log_w_u, key_u FROM sel ORDER BY doc_id""")),

    // Canonical text normalization (r5): NFC + control-char strip +
    // whitespace collapse + trim — value-exact vs DuckDB nfc_normalize
    "llm_text_normalize" -> Q(
      (s, dir) => LlmOps.textNormalize(docs(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(COALESCE(text, '')), '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text, CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(COALESCE(text, '')), '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm FROM documents ORDER BY doc_id""")),

    // Bloom-filter membership dedup (r5): odd-id batch vs even-id
    // corpus. Contract: no false keeps (bloom FNs are structurally
    // impossible — n_false_keep = 0), over-drop bounded by 5% of the
    // exact survivor count (fpp = 0.01, bound sits > 5 sigma out);
    // n_exact_kept is recomputed independently by DuckDB.
    "llm_dedup_bloom" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val corpus = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        val batch = d.filter(pmod(col("doc_id"), lit(2)) === 1)
        val kept = LlmOps.dedupBloomFilter(batch, corpus).select("doc_id")
        val exactKept = batch.join(
          corpus.select(lower(trim(col("text"))).as("__nt")).distinct(),
          lower(trim(batch("text"))) === col("__nt"), "left_anti")
          .select("doc_id")
        kept.withColumn("b", lit(1))
          .join(exactKept.withColumn("e", lit(1)), Seq("doc_id"), "full_outer")
          .agg(
            coalesce(sum(col("e")), lit(0L)).as("n_exact_kept"),
            coalesce(sum(when(col("e").isNull && col("b") === 1, 1L)
              .otherwise(0L)), lit(0L)).as("n_false_keep"),
            coalesce(sum(col("b")), lit(0L)).as("nb"))
          .select(col("n_exact_kept"), col("n_false_keep"),
            (col("n_exact_kept") - col("nb") <=
              ceil(col("n_exact_kept") * 0.05)).as("overdrop_ok"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_kept, CAST(0 AS BIGINT) AS n_false_keep, true AS overdrop_ok FROM documents b WHERE b.doc_id % 2 = 1 AND lower(trim(b.text)) NOT IN (SELECT lower(trim(text)) FROM documents WHERE doc_id % 2 = 0)""")),

    // exact all-pairs variant as the oracle cross-check; the scale
    // default (banded LSH candidates + exact verify) is the rows-only
    // llm_dedup_cosine_lsh below, recall-pinned in LlmOpsSpec
    "llm_dedup_cosine" -> Q(
      (s, dir) => LlmOps.dedupNearCosine(embs(s, dir), 0.3, method = "exact").orderBy("vec_id"),
      Some("""WITH pairs AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM pairs, generate_series(1, 64) g(x) GROUP BY 1, 2), drops AS (SELECT DISTINCT j FROM dots WHERE dp / (na * nb) >= 0.3) SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT j FROM drops) ORDER BY vec_id""")),

    // cosine-LSH dedup contract oracle: missed LSH pairs can only ADD
    // survivors, never remove them, so every exact survivor must be in
    // the LSH survivor set (n_exact_missing = 0), and the LSH set may
    // exceed exact by at most the banding recall allowance (1/0.95).
    // n_exact is recomputed independently by DuckDB (llm_dedup_cosine's
    // oracle reduced to a count).
    "llm_dedup_cosine_lsh" -> Q(
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        // exact survivor set = corpus minus the blocked-pair drop set —
        // fixture-derived ground truth at rest in graft_audit_cos_drops_blk,
        // rebuilt every pass by the llm_audit_cos_blocked index-build row
        // (r11 task 2); the LSH path below is the operator
        if (auditBuilt.get("cos_blocked") != dir) buildCosBlockedAudit(s, dir)
        val ex = e.select("vec_id").join(
          broadcast(s.table("graft_audit_cos_drops_blk")),
          Seq("vec_id"), "left_anti")
        val ls = LlmOps.dedupNearCosine(e, 0.3).select("vec_id")
        // single full-outer pass, same rationale as llm_neardup_minhash
        ex.withColumn("x", lit(1))
          .join(ls.withColumn("l", lit(1)), Seq("vec_id"), "full_outer")
          .agg( // coalesce: both survivor sets empty ⇒ zeros, not nulls
            coalesce(sum(col("x")), lit(0L)).as("n_exact"),
            coalesce(sum(when(col("x") === 1 && col("l").isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_exact_missing"),
            coalesce(sum(col("l")), lit(0L)).as("nl"))
          .select(col("n_exact"), col("n_exact_missing"),
            (col("nl") <= ceil(col("n_exact") / 0.95)).as("extra_ok"))
      },
      Some("""WITH pairs AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM pairs, generate_series(1, 64) g(x) GROUP BY 1, 2), drops AS (SELECT DISTINCT j FROM dots WHERE dp / (na * nb) >= 0.3) SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_exact_missing, true AS extra_ok FROM embeddings WHERE vec_id NOT IN (SELECT j FROM drops)""")),

    // Banded-LSH pair generation as its own bench row (r4 verdict task 3
    // — the 100 TB path for llm_similarity_pairs, bench-visible instead
    // of spec-only). Contract oracle: every LSH pair is exact-cosine-
    // verified, so false positives are structurally zero (any returned
    // pair IS an exact pair); recall vs the exact pair set is pinned at
    // a 0.90 floor (banding auto-tunes to ≥0.95 collision probability AT
    // the threshold, and fixture pairs sit above it). DuckDB recomputes
    // the exact pair count independently.
    "llm_similarity_pairs_lsh" -> Q(
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        val lsh = LlmOps.similarityPairsLsh(e, 0.3).select("i", "j")
        // exact pair set: fixture-derived ground truth at rest in
        // graft_audit_sim_pairs, rebuilt every pass by the
        // llm_audit_cos_blocked index-build row (r11 task 2); feeds both
        // the broadcast membership probe and the n_exact count
        if (auditBuilt.get("cos_blocked") != dir) buildCosBlockedAudit(s, dir)
        val exact = s.table("graft_audit_sim_pairs")
        // coalesce: an empty LSH pair set must yield (0, true), not
        // (null, null) — zero pairs can be the CORRECT answer at some
        // scale/threshold and may not hash-mismatch the oracle
        val counts = lsh
          .join(broadcast(exact.withColumn("e", lit(1))), Seq("i", "j"), "left_outer")
          .agg(coalesce(sum(when(col("e").isNull, 1L).otherwise(0L)), lit(0L)).as("n_false_pos"),
            coalesce(sum(when(col("e") === 1, 1L).otherwise(0L)), lit(0L)).as("hit"))
        exact.agg(count(lit(1)).as("n_exact")).crossJoin(counts)
          .select(col("n_exact"), col("n_false_pos"),
            (col("hit") >= ceil(col("n_exact") * 0.9)).as("recall_ok"))
      },
      Some("""WITH pairs AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM pairs, generate_series(1, 64) g(x) GROUP BY 1, 2) SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok FROM dots WHERE dp / (na * nb) >= 0.3""")),

    // LSH-grouping contract oracle (r4 verdict task 3): cosineGroups'
    // scale path (`method = "lsh"`) as a bench row. LSH pairs are exact-
    // verified, hence a SUBSET of the exact pair set; missing pairs can
    // only SPLIT transitive groups, never merge them. Three seed-
    // independent facts: (1) refinement — no LSH group spans two exact
    // groups; (2) every exact canonical survivor is an LSH survivor (the
    // min of an exact group is also the min of whichever LSH subgroup it
    // lands in); (3) the LSH survivor count exceeds the exact count by at
    // most the banding recall allowance. DuckDB recomputes the exact side
    // (llm_cosine_groups' recursive-CTE reclustering reduced to counts).
    "llm_cosine_groups_lsh" -> Q(
      (s, dir) => {
        val e = embs(s, dir)
        // LSH grouping runs on the FULL corpus (the operator under
        // test); the exact reference is SAMPLED to labels 0–3 — groups
        // never span labels (pairs join on label), so the audit is
        // self-contained, and recomputing the O(n²-within-block) exact
        // reference corpus-wide would double the row's cost inside its
        // own bench row (the same sampling rationale as
        // llm_neardup_minhash's audit blocks). Joining on the audit's
        // vec_ids restricts the LSH side consistently: group ids,
        // sizes, and keep flags of audit-label vectors involve only
        // audit-label vectors.
        import s.implicits._
        val audit = e.filter(col("label") <= 3)
        // exact reference clustering over the audit labels:
        // fixture-derived ground truth at rest in graft_audit_cos_groups,
        // rebuilt every pass by the llm_audit_cos_blocked index-build row
        // (r11 task 2)
        if (auditBuilt.get("cos_blocked") != dir) buildCosBlockedAudit(s, dir)
        val ex = s.table("graft_audit_cos_groups")
          .select(col("vec_id"), col("group_id").as("g_ex"),
            col("keep").as("k_ex"))
        val ls = LlmOps.cosineGroups(e, 0.3, method = "lsh")
          .select(col("vec_id"), col("group_id").as("g_lsh"), col("keep").as("k_lsh"))
        val j = ex.join(ls, "vec_id").persist()
        // coalesce: empty audit ⇒ zeros, not nulls
        val refine = j.groupBy("g_lsh").agg(count_distinct(col("g_ex")).as("k"))
          .agg(coalesce(sum(when(col("k") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_refine_violations"))
        j.agg(
            coalesce(sum(when(col("k_ex"), 1L).otherwise(0L)), lit(0L)).as("n_exact_keep"),
            coalesce(sum(when(col("k_ex") && !col("k_lsh"), 1L).otherwise(0L)), lit(0L)).as("n_keep_missing"),
            coalesce(sum(when(col("k_lsh"), 1L).otherwise(0L)), lit(0L)).as("n_lsh_keep"))
          .crossJoin(refine)
          .select(col("n_exact_keep"), col("n_keep_missing"),
            (col("n_lsh_keep") <= ceil(col("n_exact_keep") / 0.95)).as("extra_ok"),
            col("n_refine_violations"))
      },
      Some("""WITH RECURSIVE ps AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id WHERE a.label <= 3), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2), prs AS (SELECT i, j FROM dots WHERE dp / (na * nb) >= 0.3), edges AS (SELECT i AS a, j AS b FROM prs UNION SELECT j, i FROM prs), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), grp AS (SELECT a AS node, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a), allg AS (SELECT e.vec_id, COALESCE(g.group_id, e.vec_id) AS group_id FROM embeddings e LEFT JOIN grp g ON e.vec_id = g.node WHERE e.label <= 3) SELECT CAST(SUM(CASE WHEN vec_id = group_id THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_keep, CAST(0 AS BIGINT) AS n_keep_missing, true AS extra_ok, CAST(0 AS BIGINT) AS n_refine_violations FROM allg""")),

    // SemDeDup-style semantic dedup (r5): k-means-cell the embedding
    // space, dedup only WITHIN cells (LlmOps.semDedup — the published
    // web-scale semantic-dedup shape; pair work is Σ|cell|², k is the
    // dial). Contract oracle: within-cell pairs ⊆ all pairs, so every
    // ALL-PAIRS exact survivor also survives semdedup (n_exact_missing
    // = 0 structurally — a drop needs a within-cell witness, which is
    // also a global witness) and cross-cell misses only ADD survivors,
    // within the allowance. DuckDB recomputes the all-pairs exact
    // survivor count independently (no label blocking — cross-label
    // pairs above 0.3 exist in the fixture, and a k-means cell can
    // legitimately contain two labels). The Spark exact side runs the
    // salted all-pairs join at salt=64 so the single-block cross
    // product spreads over the full core count.
    //
    // Allowance honesty: the fixture's τ=0.3 dup graph is DENSER than
    // its cluster structure (879 cross-label pairs ≥0.3 at sf0.01), the
    // worst case for cell-local dedup, and the miss ratio moves with
    // scale (measured n_sem/n_exact 2.4 at sf0.001, 2.1 at sf0.01, 3.7
    // at sf0.1 — the paper's τ≈0.9 web regime is cluster-local and far
    // tighter). So the bound is on the REALIZED DROP FRACTION, which is
    // scale-stable: cell-local dedup must capture ≥ 40% of the global
    // dup mass (measured 55% / 58% / 81% at sf0.001/0.01/0.1; the
    // keep-everything no-op scores 0%).
    "llm_semdedup" -> Q(
      (s, dir) => {
        import s.implicits._
        val e = embs(s, dir)
        val sem = LlmOps.semDedup(e, 0.3, nClusters = 8).select("vec_id")
        // exact all-pairs drop set: fixture-derived ground truth at rest
        // in graft_audit_sem_drops, rebuilt every pass by the
        // llm_audit_cos_all index-build row (r11 task 2)
        if (auditBuilt.get("cos_all") != dir) buildCosAllAudit(s, dir)
        val dropsAll = s.table("graft_audit_sem_drops")
        val ex = e.select("vec_id").join(broadcast(dropsAll), Seq("vec_id"), "left_anti")
        ex.withColumn("x", lit(1))
          .join(sem.withColumn("m", lit(1)), Seq("vec_id"), "full_outer")
          .agg( // coalesce: empty survivor sets ⇒ zeros, not nulls
            coalesce(sum(col("x")), lit(0L)).as("n_exact"),
            coalesce(sum(when(col("x") === 1 && col("m").isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_exact_missing"),
            coalesce(sum(col("m")), lit(0L)).as("n_sem"))
          .crossJoin(e.agg(count(lit(1)).as("n_total")))
          .select(col("n_exact"), col("n_exact_missing"),
            (col("n_sem") >= col("n_exact") &&
              (col("n_total") - col("n_sem")) >=
                ceil((col("n_total") - col("n_exact")) * 0.4)).as("drop_ok"))
      },
      Some("""WITH pairs AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM pairs, generate_series(1, 64) g(x) GROUP BY 1, 2), drops AS (SELECT DISTINCT j FROM dots WHERE dp / (na * nb) >= 0.3) SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_exact_missing, true AS drop_ok FROM embeddings WHERE vec_id NOT IN (SELECT j FROM drops)""")),

    // Incremental near-dup dedup (r5): the daily-increment shape of a
    // 100 TB pipeline — corpus minhash signatures persisted ONCE as a
    // (band, bucket)-bucketed index, each new batch joins the index at
    // rest (no corpus rescan, no corpus-side exchange) and exact-
    // verifies candidates. Declared on 2 audit source blocks, split
    // corpus/batch at the id midpoint. Contract oracle: a batch doc is
    // exactly-dropped iff it has ANY lower-id exact partner (corpus ids
    // all sit below the split); exact-verification makes false drops
    // structurally zero, banding misses only ADD kept docs within the
    // recall allowance. DuckDB recomputes the exact-kept count.
    "llm_dedup_incremental" -> Q(
      (s, dir) => {
        import s.implicits._
        val d4 = docs(s, dir).filter(col("source").isin("src0", "src1"))
        val mm = d4.agg(min("doc_id"), max("doc_id")).head
        val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val corpus = d4.filter(col("doc_id") < cut)
        val batch = d4.filter(col("doc_id") >= cut)
        LlmOps.buildMinhashIndex(corpus, "graft_mh_index")
        val kept = LlmOps.dedupIncremental(batch, "graft_mh_index").select(col("doc_id"))
        // the exact-Jaccard drop set is a pure function of the fixture
        // (oracle-side ground truth, not engine output) — at rest in
        // graft_audit_mh_drops, rebuilt every pass by the
        // llm_audit_jaccard_incr index-build row (r11 task 2); the timed
        // row replays a broadcast anti-join of the at-rest ids
        if (auditBuilt.get("jac_incr") != dir) buildJaccardIncrAudit(s, dir)
        val exactDrop = s.table("graft_audit_mh_drops")
        val exactKept = batch.select(col("doc_id"))
          .join(broadcast(exactDrop), Seq("doc_id"), "left_anti")
        val cmp = exactKept.withColumn("x", lit(1))
          .join(kept.withColumn("l", lit(1)), Seq("doc_id"), "full_outer")
          .agg( // coalesce: empty sets ⇒ zeros, not nulls
            coalesce(sum(col("x")), lit(0L)).as("n_exact_kept"),
            coalesce(sum(when(col("x") === 1 && col("l").isNull, 1L).otherwise(0L)), lit(0L))
              .as("n_kept_missing"),
            coalesce(sum(col("l")), lit(0L)).as("nk"))
        batch.agg(count(lit(1)).as("n_new")).crossJoin(cmp)
          .select(col("n_new"), col("n_exact_kept"), col("n_kept_missing"),
            (col("nk") <= ceil(col("n_exact_kept") / 0.85)).as("extra_ok"))
      },
      Some("""WITH d4 AS (SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')), cutv AS (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS cut FROM d4), toks AS (SELECT DISTINCT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM d4), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1), inter AS (SELECT a.id AS i, b.id AS j, CAST(COUNT(*) AS BIGINT) AS c FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2), prs AS (SELECT i, j FROM inter JOIN sizes sa ON i = sa.id JOIN sizes sb ON j = sb.id WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8), batch AS (SELECT doc_id FROM d4, cutv WHERE doc_id >= cut), dropped AS (SELECT DISTINCT j AS doc_id FROM prs, cutv WHERE j >= cut) SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS n_new, CAST((SELECT COUNT(*) FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM dropped)) AS BIGINT) AS n_exact_kept, CAST(0 AS BIGINT) AS n_kept_missing, true AS extra_ok""")),

    // ===== fixture-audit artifact builders (r11 verdict task 2) =====
    // The exact-reference sides of the scale-path contract rows are
    // pure functions of the fixture; they now live in small warehouse
    // tables. Each row below rebuilds its tables from the parquet
    // inputs on EVERY pass (index-build bench class — at-rest artifact
    // construction, the tmp_stream_cosine_index convention) and emits
    // oracle-checkable counts of what it wrote, so the audit cost is
    // honestly priced in the bench and DuckDB re-derives the same
    // ground truth independently.
    "llm_audit_cos_all" -> Q(
      (s, dir) => {
        import s.implicits._
        buildCosAllAudit(s, dir)
        Seq((s.table("graft_audit_sem_drops").count(),
          s.table("graft_audit_cos_stream_cls").count(),
          s.table("graft_audit_cos_incr_should").count()))
          .toDF("n_drops_all", "n_cls", "n_should")
      },
      Some("""WITH ps AS (SELECT a.vec_id AS i, b.vec_id AS j, a.label AS la, b.label AS lb, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id), dots AS (SELECT i, j, la, lb, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2, 3, 4), pr AS (SELECT i, j, la, lb FROM dots WHERE dp / (na * nb) >= 0.3), pr3 AS (SELECT i, j FROM pr WHERE la <= 3 AND lb <= 3), cls AS (SELECT DISTINCT x FROM (SELECT i AS x FROM pr3 WHERE i % 2 = 1 UNION ALL SELECT j AS x FROM pr3 WHERE j % 2 = 1)), sd AS (SELECT DISTINCT x FROM (SELECT j AS x FROM pr3 WHERE j % 2 = 1 UNION ALL SELECT i AS x FROM pr3 WHERE i % 2 = 1 AND j % 2 = 0)) SELECT CAST(COALESCE((SELECT COUNT(DISTINCT j) FROM pr), 0) AS BIGINT) AS n_drops_all, CAST(COALESCE((SELECT COUNT(*) FROM cls), 0) AS BIGINT) AS n_cls, CAST(COALESCE((SELECT COUNT(*) FROM sd), 0) AS BIGINT) AS n_should""")),

    "llm_audit_cos_blocked" -> Q(
      (s, dir) => {
        import s.implicits._
        buildCosBlockedAudit(s, dir)
        Seq((s.table("graft_audit_sim_pairs").count(),
          s.table("graft_audit_cos_drops_blk").count(),
          s.table("graft_audit_cos_groups").filter(col("keep")).count()))
          .toDF("n_pairs", "n_drops", "n_keep")
      },
      Some("""WITH RECURSIVE ps AS (SELECT a.label AS blk, a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), dots AS (SELECT blk, i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2, 3), prs AS (SELECT blk, i, j FROM dots WHERE dp / (na * nb) >= 0.3), p3 AS (SELECT i, j FROM prs WHERE blk <= 3), edges AS (SELECT i AS a, j AS b FROM p3 UNION SELECT j, i FROM p3), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), grp AS (SELECT a AS node, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a), allg AS (SELECT e.vec_id, COALESCE(g.group_id, e.vec_id) AS group_id FROM embeddings e LEFT JOIN grp g ON e.vec_id = g.node WHERE e.label <= 3) SELECT CAST(COALESCE((SELECT COUNT(*) FROM prs), 0) AS BIGINT) AS n_pairs, CAST(COALESCE((SELECT COUNT(DISTINCT j) FROM prs), 0) AS BIGINT) AS n_drops, CAST(COALESCE((SELECT SUM(CASE WHEN vec_id = group_id THEN 1 ELSE 0 END) FROM allg), 0) AS BIGINT) AS n_keep""")),

    "llm_audit_jaccard_blocks" -> Q(
      (s, dir) => {
        import s.implicits._
        buildJaccardBlocksAudit(s, dir)
        Seq(s.table("graft_audit_mh_pairs").count()).toDF("n_pairs")
      },
      Some("""WITH toks AS (SELECT DISTINCT source, doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1), inter AS (SELECT a.id AS i, b.id AS j, CAST(COUNT(*) AS BIGINT) AS c FROM toks a JOIN toks b ON a.source = b.source AND a.tok = b.tok AND a.id < b.id GROUP BY 1, 2), ex AS (SELECT i, j FROM inter JOIN sizes sa ON i = sa.id JOIN sizes sb ON j = sb.id WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8) SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM ex""")),

    "llm_audit_jaccard_incr" -> Q(
      (s, dir) => {
        import s.implicits._
        buildJaccardIncrAudit(s, dir)
        Seq(s.table("graft_audit_mh_drops").count()).toDF("n_drops")
      },
      Some("""WITH d4 AS (SELECT doc_id, text FROM documents WHERE source IN ('src0', 'src1')), cutv AS (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS cut FROM d4), toks AS (SELECT DISTINCT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM d4), sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1), inter AS (SELECT a.id AS i, b.id AS j, CAST(COUNT(*) AS BIGINT) AS c FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id GROUP BY 1, 2), prs AS (SELECT i, j FROM inter JOIN sizes sa ON i = sa.id JOIN sizes sb ON j = sb.id WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8), dropped AS (SELECT DISTINCT j AS doc_id FROM prs, cutv WHERE j >= cut) SELECT CAST(COUNT(*) AS BIGINT) AS n_drops FROM dropped""")),

    // The planted image corpus write as its own index-build row: image
    // payloads are at-rest storage, and this row re-pays the plant
    // construction on every pass (it previously survived across driver
    // runs in the JVM's temp directory — r11 verdict task 2's
    // plantedImages decision).
    "llm_image_plant" -> Q(
      (s, dir) => {
        import s.implicits._
        buildImagePlant(s, dir)
        Seq(s.table("graft_img_plant").count()).toDF("n_docs")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents""")),

    // Bucketed at-rest layout wired into a declared query (r4 verdict
    // task 5): both join sides written bucketed + sorted on the join key
    // (BucketedLayout), then joined — the SMJ reads co-located buckets
    // with NO exchange on either side (plan-asserted in
    // BucketedLayoutSpec with broadcast disabled; at bench scale AQE may
    // broadcast the small side, which is equally shuffle-free). At
    // 100 TB this layout is the difference between reshuffling the fact
    // table on every query and reading pre-partitioned buckets at rest.
    // The oracle is layout-independent: same join over the raw parquet.
    "tmp_bucketed_join" -> Q(
      (s, dir) => bucketedJoinQuery(s, dir),
      Some("""SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS rev FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1 ORDER BY 1""")),

    // Streaming surface oracled one notch beyond unit tests (r4 verdict
    // task 7): the SAME KQL text planned onto a MemoryStream (micro-
    // batched, AvailableNow, memory sink) — the emitted rows are hash-
    // compared against DuckDB's batch recompute, so §2.10 gets a value-
    // exact CORRECTNESS row, not just spec coverage. The driver-side
    // collect feeds the memory stream a BOUNDED slice (event_id ≤ 2000)
    // — stream-harness plumbing, not a data pass; integer-cents sum
    // keeps the aggregate bit-exact across engines.
    "tmp_stream_parity" -> Q(
      (s, dir) => streamParityQuery(s, dir),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s FROM events WHERE event_id <= 2000 GROUP BY 1 ORDER BY 1""")),

    // STATEFUL streaming parity (r6): two micro-batches through the
    // incremental line-dedup runner — batch 2 must drop lines batch 1
    // committed to the persisted index, and each doc's batch
    // attribution must match the replay. Value-exact: DuckDB replays
    // increment 1 (empty index + in-batch ownership), grows the index
    // from its kept lines, then replays increment 2 against it.
    "tmp_stream_line_dedup" -> Q(
      (s, dir) => streamLineDedupQuery(s, dir),
      Some("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tk FROM documents WHERE doc_id < 40), lx AS (SELECT doc_id, k AS pos, array_to_string(tk[k*10+1 : k*10+10], ' ') AS line FROM (SELECT doc_id, tk, unnest(generate_series(0, CAST(floor((len(tk)-1)/10.0) AS INT))) AS k FROM t)), b1 AS (SELECT * FROM lx WHERE doc_id < 20), own1 AS (SELECT line, MIN(doc_id * 1000000 + pos) AS o FROM b1 GROUP BY 1), k1 AS (SELECT doc_id, pos, line FROM b1 JOIN own1 USING (line) WHERE doc_id * 1000000 + pos = o), idx1 AS (SELECT DISTINCT line FROM k1), b2 AS (SELECT * FROM lx WHERE doc_id >= 20), f2 AS (SELECT * FROM b2 WHERE line NOT IN (SELECT line FROM idx1)), own2 AS (SELECT line, MIN(doc_id * 1000000 + pos) AS o FROM f2 GROUP BY 1), k2 AS (SELECT doc_id, pos, line FROM f2 JOIN own2 USING (line) WHERE doc_id * 1000000 + pos = o), kept AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2), nl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lx GROUP BY 1), ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY 1) SELECT nl.doc_id, n_lines, COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_text, '') AS clean_text, CAST(CASE WHEN nl.doc_id < 20 THEN 0 ELSE 1 END AS BIGINT) AS batch_id FROM nl LEFT JOIN ka USING (doc_id) ORDER BY doc_id""")),

    // Materialized-view streaming parity (r7): continuous hourly
    // aggregation in UPDATE mode over two micro-batches; final view
    // state (latest batch per key) hash-compared to the batch
    // recompute, and n_updates — the per-key changelog depth — proves
    // only touched keys were re-emitted (complete mode would pin it at
    // n_batches for every key; the fixture split yields 140 ones).
    "tmp_stream_matview" -> Q(
      (s, dir) => streamMatViewQuery(s, dir),
      Some("""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS bin_h, CAST(ROUND(value * 100) AS BIGINT) AS c, event_id FROM events WHERE event_id <= 2000) SELECT bin_h, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(DISTINCT CASE WHEN event_id < 1000 THEN 0 ELSE 1 END) AS BIGINT) AS n_updates FROM e GROUP BY 1 ORDER BY 1""")),

    // At-rest matview maintained BY a stream (r12): per batch, append
    // to the live source + fold the delta into the partial-state store
    // (MatViewLayout.refresh); final read served from the store alone
    // must equal the one-shot batch aggregation — see
    // streamMatViewRefreshQuery's scaladoc for what mismatches
    "tmp_stream_matview_refresh" -> Q(
      (s, dir) => streamMatViewRefreshQuery(s, dir),
      Some("""WITH e AS (SELECT event_id, epoch_us(ts) // 3600000000 AS bin_h, CAST(ROUND(value * 100) AS BIGINT) AS c, event_type FROM events WHERE event_id <= 2000) SELECT bin_h, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS avg_c, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d_types, ARG_MAX(event_type, event_id) AS latest_type FROM e GROUP BY 1 ORDER BY 1""")),

    // Watermark/late-data parity (r7): the update-mode view with a
    // 3700 s watermark must DROP the batch-2 straggler that replays
    // batch 1's earliest timestamp — the final view hash-equals the
    // batch recompute over the REAL events only, and the straggler's
    // distinctive value would corrupt n, s, and n_updates of its bin
    // if it leaked. One bin (the batch-boundary hour) legitimately
    // carries n_updates = 2.
    "tmp_stream_matview_late" -> Q(
      (s, dir) => streamMatViewLateQuery(s, dir),
      Some("""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS bin_h, CAST(ROUND(value * 100) AS BIGINT) AS c, CASE WHEN event_id <= 1000 THEN 0 ELSE 1 END AS b FROM events WHERE event_id <= 2000) SELECT bin_h, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s, CAST(COUNT(DISTINCT b) AS BIGINT) AS n_updates FROM e GROUP BY 1 ORDER BY 1""")),

    // STATEFUL streaming parity in EMBEDDING space (r6): two
    // micro-batches of odd-id vectors against an even-id seed cosine
    // index; batch 1's kept vectors grow the at-rest index, and the
    // cross_state_drop fact proves batch 2 dropped against that grown
    // state (no even or lower-batch-2 explanation exists). Facts per
    // the streamCosineDedupQuery scaladoc; n_should_seed is
    // DuckDB-recomputed exactly from the closed label<=3 pair set.
    // ONLINE hard-negative mining over the at-rest IVF index (r14):
    // two anchor micro-batches, per-batch committed partitions; with
    // every cell probed the stream output equals the brute-force scan
    // over the same anchors, so the plain all-pairs SQL replays it
    "tmp_stream_hard_negatives" -> Q(
      (s, dir) => streamHardNegativesQuery(s, dir),
      Some("""WITH a AS (SELECT vec_id AS anchor_id, label AS al, embedding AS av FROM embeddings WHERE vec_id % 100 = 0), d AS (SELECT a.anchor_id, e.vec_id, SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(a.av[g.i] AS DOUBLE)) AS dp, SQRT(SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))) AS ne, SQRT(SUM(CAST(a.av[g.i] AS DOUBLE) * CAST(a.av[g.i] AS DOUBLE))) AS na FROM embeddings e JOIN a ON e.label != a.al, generate_series(1, 64) g(i) GROUP BY 1, 2), q AS (SELECT anchor_id, vec_id, CAST(ROUND(dp / (ne * na) * 10000) AS BIGINT) AS cos_u FROM d), r AS (SELECT anchor_id, vec_id, cos_u, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_u DESC, vec_id) AS "rank" FROM q WHERE cos_u <= 9000) SELECT anchor_id, CAST("rank" AS BIGINT) AS "rank", vec_id AS neg_id, cos_u FROM r WHERE "rank" <= 5 ORDER BY anchor_id, "rank" """)),

    "tmp_stream_cosine_dedup" -> Q(
      (s, dir) => streamCosineDedupQuery(s, dir),
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE label <= 3), ps AS (SELECT a.vec_id AS i, b.vec_id AS j, a.embedding AS va, b.embedding AS vb FROM base a JOIN base b ON a.vec_id < b.vec_id), dots AS (SELECT i, j, SUM(CAST(va[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE)) AS dp, SQRT(SUM(CAST(va[g.x] AS DOUBLE) * CAST(va[g.x] AS DOUBLE))) AS na, SQRT(SUM(CAST(vb[g.x] AS DOUBLE) * CAST(vb[g.x] AS DOUBLE))) AS nb FROM ps, generate_series(1, 64) g(x) GROUP BY 1, 2), pr AS (SELECT i, j FROM dots WHERE dp / (na * nb) >= 0.3), und AS (SELECT i AS x, j AS y FROM pr UNION ALL SELECT j AS x, i AS y FROM pr), sd AS (SELECT DISTINCT x FROM und WHERE x % 2 = 1 AND y % 2 = 0) SELECT CAST((SELECT COUNT(*) FROM sd) AS BIGINT) AS n_should_seed, CAST(0 AS BIGINT) AS n_false_drops, true AS recall_seed_ok, true AS cross_state_drop, CAST(2 AS BIGINT) AS n_batches""")),

    // STREAM-STREAM join parity (r8): two unbounded sides (clicks,
    // purchases) with 3700 s watermarks, purchases matched to
    // same-user clicks within the preceding hour, THREE time-split
    // micro-batches per side (splits at event_id 516/836 — chosen so a
    // cross-batch pair exists at both verify SFs). The time-ordered
    // fixture makes append-mode emission provably equal to the batch
    // join (see streamStreamJoinQuery's losslessness note), so
    // DuckDB's plain two-sided join is a value-exact oracle;
    // cross-batch pairs prove join state survived the micro-batch
    // boundary (spec-pinned).
    "tmp_stream_join" -> Q(
      (s, dir) => streamStreamJoinQuery(s, dir),
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS dt_us FROM events c JOIN events p ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND c.event_id <= 2000 AND p.event_id <= 2000 AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 3600000000 ORDER BY click_id, purchase_id""")),

    // ------------------------------------------------- batch 2: joins etc.
    "q43_join_rightouter" -> Q(kqlQ(
      """orders
        | where o_orderstatus == 'P'
        | join kind=rightouter (customer) on $left.o_custkey == $right.c_custkey
        | summarize n_p_orders=countif(isnotnull(o_orderkey)) by c_nationkey
        | sort by c_nationkey asc"""),
      Some("""SELECT c_nationkey, CAST(COUNT(CASE WHEN o_orderkey IS NOT NULL THEN 1 END) AS BIGINT) AS n_p_orders FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o RIGHT JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1""")),

    "q44_join_fullouter" -> Q(kqlQ(
      """customer
        | where c_custkey <= 100
        | join kind=fullouter (orders | where o_custkey >= 50 | summarize n=count() by o_custkey)
            on $left.c_custkey == $right.o_custkey
        | project k = coalesce(c_custkey, o_custkey), n = coalesce(n, 0)
        | sort by k asc"""),
      Some("""SELECT COALESCE(c_custkey, o_custkey) AS k, COALESCE(n, 0) AS n FROM (SELECT * FROM customer WHERE c_custkey <= 100) c FULL JOIN (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders WHERE o_custkey >= 50 GROUP BY 1) o ON c_custkey = o_custkey ORDER BY k""")),

    "q45_join_rightsemi" -> Q(kqlQ(
      """orders
        | where o_totalprice > 200000
        | join kind=rightsemi (customer) on $left.o_custkey == $right.c_custkey
        | summarize n=count() by c_mktsegment
        | sort by c_mktsegment asc"""),
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000) GROUP BY 1 ORDER BY 1""")),

    "q46_join_cross" -> Q(kqlQ(
      """region
        | join kind=cross (datatable(x:long) [1, 2])
        | summarize n=count() by x
        | sort by x asc"""),
      Some("""SELECT x, CAST(COUNT(*) AS BIGINT) AS n FROM region CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (2)) t(x) GROUP BY 1 ORDER BY 1""")),

    "q47_broadcast_hint" -> Q(kqlQ(
      """lineitem
        | join kind=inner hint.strategy=broadcast (part | project p_partkey, p_type)
            on $left.l_partkey == $right.p_partkey
        | summarize n=count() by p_type
        | sort by p_type asc"""),
      Some("""SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1 ORDER BY 1""")),

    "q48_union_inner" -> Q(kqlQ(
      """union kind=inner (orders | project k=o_custkey, amt=o_totalprice),
              (customer | project k=c_custkey, amt=c_acctbal, extra=c_nationkey)
        | summarize n=count(), sc=sum(tolong(round(amt * 100)))"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(amt * 100) AS BIGINT)) AS BIGINT) AS sc FROM (SELECT o_custkey AS k, o_totalprice AS amt FROM orders UNION ALL SELECT c_custkey, c_acctbal FROM customer)""")),

    "q49_parse_where" -> Q(kqlQ(
      """events
        | parse-where props with '{"k": 1' rest:string '}'
        | summarize n=count() by event_type
        | sort by event_type asc"""),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events WHERE regexp_matches(props, '^\{"k": 1.*\}') GROUP BY 1 ORDER BY 1""")),

    "q50_scalar_string_misc" -> Q(kqlQ(
      """print s1 = trim(' ', '  hi  '), s2 = trim_start('0', '00042'),
              s3 = replace_string('a-b-c', '-', '+'),
              s4 = replace_regex('a1b22c', '[0-9]+', '#'),
              s5 = countof('abcabc', 'bc'), s6 = strcat_delim('|', 'x', 'y', 'z'),
              s7 = strrep('ab', 3), s8 = base64_encode_tostring('hello'),
              s9 = base64_decode_tostring('aGVsbG8='), s10 = url_encode('a b&c'),
              s11 = url_decode('a%20b%26c'), s12 = tohex(255),
              s13 = toupper(substring('kusto', 1, 3)),
              s14 = strcat_array(pack_array('a', 'b', 'c'), '-'),
              s15 = array_index_of(pack_array('x', 'y'), 'y'),
              s16 = tostring(array_sum(pack_array(1, 2, 3)))"""),
      Some("""SELECT 'hi' AS s1, '42' AS s2, 'a+b+c' AS s3, 'a#b#c' AS s4, CAST(2 AS BIGINT) AS s5, 'x|y|z' AS s6, 'ababab' AS s7, 'aGVsbG8=' AS s8, 'hello' AS s9, 'a+b%26c' AS s10, 'a b&c' AS s11, 'ff' AS s12, 'UST' AS s13, 'a-b-c' AS s14, CAST(1 AS BIGINT) AS s15, '6.0' AS s16""")),

    "q51_scalar_math" -> Q(kqlQ(
      """print m1 = abs(-5), m2 = ceiling(3.2), m3 = bin(3.7, 1.0),
              m4 = round(exp(1.0), 6), m5 = round(log(7.389056), 4),
              m6 = round(log10(1000.0), 6), m7 = round(log2(8.0), 6),
              m8 = pow(2.0, 10.0), m9 = sqrt(16.0), m10 = sign(-3.5),
              m11 = round(pi(), 4), m12 = round(degrees(pi()), 4),
              m13 = round(radians(180.0), 6),
              m14 = max_of(1, 7, 3), m15 = min_of(1, 7, 3),
              m16 = round(sin(0.5) + cos(0.5) + atan2(1.0, 1.0), 6),
              m17 = isnan(todouble('nan'))"""),
      Some("""SELECT CAST(5 AS BIGINT) AS m1, CAST(4 AS BIGINT) AS m2, 3.0 AS m3, 2.718282 AS m4, 2.0 AS m5, 3.0 AS m6, 3.0 AS m7, 1024.0 AS m8, 4.0 AS m9, -1.0 AS m10, 3.1416 AS m11, 180.0 AS m12, 3.141593 AS m13, CAST(7 AS BIGINT) AS m14, CAST(1 AS BIGINT) AS m15, 2.142406 AS m16, isnan(CAST('nan' AS DOUBLE)) AS m17""")),

    "q52_scalar_datetime2" -> Q(kqlQ(
      """print d1 = format_datetime(datetime(2024-03-05 04:05:06), 'yyyy-MM-dd HH:mm:ss'),
              d2 = endofday(datetime(2024-03-05 10:00:00)),
              d3 = endofmonth(datetime(2024-02-10)),
              d4 = make_datetime(2024, 3, 5, 10, 30, 0),
              d5 = datetime_diff('month', datetime(2024-03-05), datetime(2023-12-31)),
              d6 = unixtime_seconds_todatetime(1700000000),
              d7 = dayofyear(datetime(2024-03-01)),
              d8 = week_of_year(datetime(2024-01-04)),
              d9 = bin_at(datetime(2024-03-05 03:00:00), 1d, datetime(2024-01-01 12:00:00)),
              d10 = datetime_add('quarter', 1, datetime(2023-11-15)),
              d11 = datetime(2024-01-01) + 36h,
              d12 = totimespan('02:30:00') / 60000000"""),
      Some("""SELECT '2024-03-05 04:05:06' AS d1, TIMESTAMP '2024-03-05 23:59:59.999999' AS d2, TIMESTAMP '2024-02-29 23:59:59.999999' AS d3, TIMESTAMP '2024-03-05 10:30:00' AS d4, CAST(3 AS BIGINT) AS d5, TIMESTAMP '2023-11-14 22:13:20' AS d6, CAST(61 AS INT) AS d7, CAST(1 AS INT) AS d8, TIMESTAMP '2024-03-04 12:00:00' AS d9, TIMESTAMP '2024-02-15 00:00:00' AS d10, TIMESTAMP '2024-01-02 12:00:00' AS d11, CAST(150 AS BIGINT) AS d12""")),

    "q53_sample" -> Q(kqlQ(
      """lineitem | sample 100 | summarize n=count()"""),
      Some("""SELECT CAST(100 AS BIGINT) AS n""")),

    "q54_sample_distinct" -> Q(kqlQ(
      """lineitem | sample-distinct 2 of l_returnflag | count"""),
      Some("""SELECT CAST(2 AS BIGINT) AS Count""")),

    // dcount tolerance oracle: the HLL estimate itself has no
    // cross-engine value, but the exact distinct count does, and the
    // estimate's 5%-band membership is deterministic for a fixed
    // dataset. DuckDB recomputes x; ok must hash as literal true.
    "q55_dcount_approx" -> Q(kqlQ(
      """orders
        | summarize d = dcount(o_custkey), x = count_distinct(o_custkey) by o_orderstatus
        | project o_orderstatus, x, ok = todouble(abs(d - x)) / x <= 0.05
        | sort by o_orderstatus asc"""),
      Some("""SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS x, true AS ok FROM orders GROUP BY 1 ORDER BY 1""")),

    "q56_argmin" -> Q(kqlQ(
      """orders
        | summarize arg_min(o_orderkey, o_totalprice) by o_orderstatus
        | sort by o_orderstatus asc"""),
      Some("""SELECT o_orderstatus, MIN(o_orderkey) AS o_orderkey, arg_min(o_totalprice, o_orderkey) AS o_totalprice FROM orders GROUP BY 1 ORDER BY 1""")),

    "q57_percentiles_multi" -> Q(kqlQ(
      """lineitem
        | summarize percentiles(l_quantity, 25, 50, 75) by l_returnflag
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS percentile_l_quantity_25, quantile_cont(l_quantity, 0.5) AS percentile_l_quantity_50, quantile_cont(l_quantity, 0.75) AS percentile_l_quantity_75 FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q58_project_reorder" -> Q(kqlQ(
      """nation | project-reorder n_name, n_nationkey | take 5 | sort by n_nationkey asc"""),
      Some("""SELECT n_name, n_nationkey, n_regionkey FROM nation ORDER BY n_nationkey LIMIT 5""")),

    "q62_toscalar" -> Q(kqlQ(
      """let avg_price = toscalar(lineitem | summarize round(avg(l_extendedprice), 4));
        lineitem | where l_extendedprice > avg_price | summarize n = count()"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_extendedprice > (SELECT ROUND(AVG(l_extendedprice), 4) FROM lineitem)""")),

    "q63_parse_kv" -> Q(kqlQ(
      """datatable(s:string) ['a=1 b=hot c=9.5', 'a=7 b=cold c=0.5']
        | parse-kv s as (a:long, b:string, c:real) with (pair_delimiter=' ', kv_delimiter='=')
        | project a, b, c
        | sort by a asc"""),
      Some("""SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'hot', 9.5), (7, 'cold', 0.5)) t(a, b, c) ORDER BY a""")),

    "q64_mvexpand_index" -> Q(kqlQ(
      """datatable(s:string) ['x y z']
        | extend t = split(s, ' ')
        | mv-expand with_itemindex=ix t
        | project ix, t
        | sort by ix asc"""),
      Some("""SELECT * FROM (VALUES (CAST(0 AS INT), 'x'), (1, 'y'), (2, 'z')) t(ix, t) ORDER BY ix""")),

    "q65_pack_json" -> Q(kqlQ(
      """nation
        | where n_nationkey < 3
        | project j = pack('k', n_nationkey, 'nm', n_name)
        | sort by j asc"""),
      Some("""SELECT '{"k":' || n_nationkey || ',"nm":"' || n_name || '"}' AS j FROM nation WHERE n_nationkey < 3 ORDER BY 1""")),

    "q66_ip_geo_fns" -> Q(kqlQ(
      """print i1 = parse_ipv4('192.168.1.10'),
              i2 = format_ipv4(3232235786),
              i3 = ipv4_is_in_range('192.168.1.10', '192.168.1.0/24'),
              i4 = ipv4_is_in_range('192.168.2.10', '192.168.1.0/24'),
              i5 = ipv4_is_in_range('10.0.0.1', '10.0.0.1'),
              m1 = parse_ipv4_mask('192.168.1.10', 24),
              m2 = parse_ipv4_mask('10.5.7.9', 32),
              u = parse_url('https://host.example.com/a/b?q=1'),
              g = round(geo_distance_2points(-122.4194, 37.7749, -73.9857, 40.7484), 0)"""),
      Some("""SELECT CAST(3232235786 AS BIGINT) AS i1, '192.168.1.10' AS i2, true AS i3, false AS i4, true AS i5, CAST(3232235776 AS BIGINT) AS m1, CAST(168101641 AS BIGINT) AS m2, '{"Scheme":"https","Host":"host.example.com","Path":"/a/b","Query":"q=1"}' AS u, 4129962.0 AS g""")),

    "q67_row_window_session" -> Q(kqlQ(
      """events
        | sort by user_id asc, ts asc, event_id asc
        | extend sess_start = row_window_session(ts, 1d, 30m)
        | summarize n = count() by user_id, sess_start
        | summarize sessions = count(), biggest = max(n) by user_id
        | sort by user_id asc"""),
      // mirrors the serialized-order semantics: the idle-gap flag runs over
      // the GLOBAL (user_id, ts, event_id) order, so sessions can span user
      // boundaries; sess_start = min(ts) over the whole session group
      Some("""WITH s AS (SELECT user_id, ts, event_id, LAG(ts) OVER w AS prev_ts FROM events WINDOW w AS (ORDER BY user_id, ts, event_id)), f AS (SELECT user_id, ts, event_id, CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag FROM s), c AS (SELECT user_id, ts, SUM(flag) OVER (ORDER BY user_id, ts, event_id ROWS UNBOUNDED PRECEDING) AS grp FROM f), g AS (SELECT user_id, MIN(ts) OVER (PARTITION BY grp) AS sess_start FROM c), h AS (SELECT user_id, sess_start, COUNT(*) AS n FROM g GROUP BY 1, 2) SELECT user_id, CAST(COUNT(*) AS BIGINT) AS sessions, CAST(MAX(n) AS BIGINT) AS biggest FROM h GROUP BY 1 ORDER BY user_id""")),

    "q68_takeany_binary" -> Q(kqlQ(
      """nation
        | summarize nm = take_any(n_name), band = binary_all_and(n_nationkey),
                    bor = binary_all_or(n_nationkey) by n_nationkey
        | sort by n_nationkey asc"""),
      Some("""SELECT n_nationkey, MIN(n_name) AS nm, CAST(BIT_AND(n_nationkey) AS INT) AS band, CAST(BIT_OR(n_nationkey) AS INT) AS bor FROM nation GROUP BY 1 ORDER BY 1""")),

    "q69_mv_apply" -> Q(kqlQ(
      """documents
        | project doc_id, toks = split(text, ' ')
        | mv-apply toks on (where strlen(toks) > 4 | summarize long_toks = count())
        | project doc_id, long_toks = coalesce(long_toks, 0)
        | sort by doc_id asc"""),
      Some("""SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 4)) AS BIGINT) AS long_toks FROM documents ORDER BY doc_id""")),

    "q70_let_lambda" -> Q(kqlQ(
      """let disc_price = (p:real, d:real) { p * (1 - d) };
        lineitem
        | where l_quantity > 40
        | project l_orderkey, l_linenumber, dp = disc_price(l_extendedprice, l_discount)
        | sort by l_orderkey asc, l_linenumber asc, dp asc
        | take 50"""),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS dp FROM lineitem WHERE l_quantity > 40 ORDER BY 1, 2, 3 LIMIT 50""")),

    "q71_as_operator" -> Q(kqlQ(
      """nation
        | where n_regionkey == 0
        | as africa
        | union (africa)
        | summarize n = count()"""),
      Some("""SELECT CAST(2 * COUNT(*) AS BIGINT) AS n FROM nation WHERE n_regionkey = 0""")),

    "q72_rollup" -> Q(kqlQ(
      """lineitem
        | summarize n=count(), qty=sum(tolong(round(l_quantity))) by rollup(l_returnflag, l_linestatus)
        | sort by l_returnflag asc, l_linestatus asc"""),
      Some("""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    "q73_scalar_datetime3" -> Q(kqlQ(
      """print eow = endofweek(datetime(2024-03-15)),
              moy = tolong(monthofyear(datetime(2024-03-15))),
              qtr = datetime_part('quarter', datetime(2024-03-15)),
              msec = datetime_part('millisecond', datetime(2024-03-15 10:20:30.1234)),
              ts = format_timespan(totimespan('1.01:01:01'), 'd.hh:mm:ss'),
              cmp = strcmp('abc', 'abd'),
              asc1 = isascii('hello'),
              asc2 = isascii('héllo'),
              soq = startofquarter(datetime(2024-11-05)),
              eoq = endofquarter(datetime(2024-11-05))"""),
      Some("""SELECT TIMESTAMP '2024-03-16 23:59:59.999999' AS eow, CAST(3 AS BIGINT) AS moy, CAST(1 AS BIGINT) AS qtr, CAST(123 AS BIGINT) AS msec, '1.01:01:01' AS ts, CAST(-1 AS BIGINT) AS cmp, true AS asc1, false AS asc2, TIMESTAMP '2024-10-01 00:00:00' AS soq, TIMESTAMP '2024-12-31 23:59:59.999999' AS eoq""")),

    "q74_array_rotate_shift" -> Q(kqlQ(
      """print rl = dynamic_to_json(array_rotate_left(pack_array(1, 2, 3, 4, 5), 2)),
              rr = dynamic_to_json(array_rotate_right(pack_array(1, 2, 3, 4, 5), 1)),
              sl = dynamic_to_json(array_shift_left(pack_array(1, 2, 3, 4, 5), 2, -1)),
              sr = dynamic_to_json(array_shift_right(pack_array(1, 2, 3, 4, 5), 2, 0)),
              sn = dynamic_to_json(array_shift_left(pack_array(1, 2, 3), 1))"""),
      Some("""SELECT '[3,4,5,1,2]' AS rl, '[5,1,2,3,4]' AS rr, '[3,4,5,-1,-1]' AS sl, '[0,0,1,2,3]' AS sr, '[2,3,null]' AS sn""")),

    "q75_has_any_all" -> Q(kqlQ(
      """documents
        | where text has_any ('quick', 'zephyr') and text has_all ('the')
        | summarize n = count()"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE (regexp_matches(lower(text), '\bquick\b') OR regexp_matches(lower(text), '\bzephyr\b')) AND regexp_matches(lower(text), '\bthe\b')""")),

    "q76_invoke" -> Q(kqlQ(
      """let bigqty = (T:(*), lo:long) { T | where l_quantity >= lo | summarize n = count() by l_returnflag | sort by l_returnflag asc };
        lineitem | invoke bigqty(45)"""),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity >= 45 GROUP BY 1 ORDER BY 1""")),

    "q78_pivot" -> Q(kqlQ(
      """events
        | project user_id, event_type
        | evaluate pivot(event_type, count())
        | sort by user_id asc"""),
      Some("""PIVOT (SELECT user_id, event_type FROM events) ON event_type USING count(*) GROUP BY user_id ORDER BY user_id""")),

    "q79_bag_unpack" -> Q(kqlQ(
      """events
        | project user_id, props
        | evaluate bag_unpack(props)
        | summarize s = sum(k) by user_id
        | sort by user_id asc"""),
      Some("""SELECT user_id, CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS s FROM events GROUP BY 1 ORDER BY 1""")),

    "q80_render_materialize" -> Q(kqlQ(
      """let m = materialize(lineitem | summarize n = count() by l_returnflag);
        m | sort by l_returnflag asc | render barchart with (title = 'rows by flag')"""),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q81_scalar_misc" -> Q(kqlQ(
      """print v1 = tostring(parse_version('1.2.3')),
              vc = parse_version('10.0') > parse_version('9.9.9.9'),
              j  = jaccard_index(pack_array(1, 2, 3), pack_array(2, 3, 4)),
              ai = dynamic_to_json(array_iff(pack_array(true, false, true), pack_array(1, 2, 3), pack_array(10, 20, 30))),
              bm = bag_merge('{"a":"1","b":"2"}', '{"b":"3","c":"4"}'),
              rp = dynamic_to_json(repeat(7, 3)),
              bh = bag_has_key('{"a":1,"b":2}', 'a'),
              br = bag_remove_keys('{"a":"1","b":"2","c":"3"}', pack_array('a', 'c')),
              bs = bag_set_key('{"a":"1","b":"2"}', 'b', 9)"""),
      Some("""SELECT '1000000020000000300000000' AS v1, true AS vc, CAST(0.5 AS DOUBLE) AS j, '[1,20,3]' AS ai, '{"a":"1","b":"2","c":"4"}' AS bm, '[7,7,7]' AS rp, true AS bh, '{"b":"2"}' AS br, '{"a":"1","b":"9"}' AS bs""")),

    "q82_series_elementwise" -> Q(kqlQ(
      """print sa = dynamic_to_json(series_add(pack_array(1, 2), pack_array(3, 4))),
              sd = dynamic_to_json(series_divide(pack_array(1, 2), pack_array(2, 4))),
              dp = series_dot_product(pack_array(1, 2, 3), pack_array(4, 5, 6)),
              cs = series_cosine_similarity(pack_array(3, 4), pack_array(3, 4)),
              ff = dynamic_to_json(series_fill_forward(pack_array(1.0, null, 2.0, null))),
              fl = dynamic_to_json(series_fill_linear(pack_array(1.0, null, null, 4.0)))"""),
      Some("""SELECT '[4,6]' AS sa, '[0.5,0.5]' AS sd, CAST(32.0 AS DOUBLE) AS dp,
                     CAST(1.0 AS DOUBLE) AS cs, '[1.0,1.0,2.0,2.0]' AS ff,
                     '[1.0,2.0,3.0,4.0]' AS fl""")),

    "q77_series_outliers" -> Q(kqlQ(
      """print o = series_outliers(pack_array(1.0, 2.0, 3.0, 100.0))"""),
      // ::DOUBLE[] — a bare DuckDB list literal is DECIMAL and
      // hash-compares differently from Spark's array<double>
      Some("""SELECT CAST([0.0, 0.0, 0.0, 47.0] AS DOUBLE[]) AS o""")),

    // ------------------------------------------------- time-series fns
    "q59_series_fns" -> Q(kqlQ(
      """print f = series_fit_line(pack_array(1.0, 3.0, 5.0, 7.0)),
              m = series_fir(pack_array(1.0, 2.0, 3.0, 4.0), pack_array(1.0, 1.0)),
              st = series_stats_dynamic(pack_array(1.0, 2.0, 3.0))
        | project slope = round(f.slope, 6), icpt = round(f.interception, 6),
                  r2 = round(f.rsquare, 6), m = dynamic_to_json(m), st"""),
      Some("""SELECT 2.0 AS slope, 1.0 AS icpt, 1.0 AS r2, '[1.0,1.5,2.5,3.5]' AS m, '{"min":1.0,"max":3.0,"avg":2.0,"stdev":1.0,"sum":6.0,"len":3}' AS st""")),

    "q60_series_trend" -> Q(kqlQ(
      """events
        | make-series n=count() default=0 on ts
            from datetime(2024-01-01) to datetime(2024-01-31) step 1d by event_type
        | extend f = series_fit_line(n)
        | project event_type, slope = round(f.slope, 4)
        | sort by event_type asc"""),
      Some("""WITH grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 DAY)) AS t), types AS (SELECT DISTINCT event_type FROM events), binned AS (SELECT event_type, date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS cnt FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31' GROUP BY 1, 2), filled AS (SELECT ty.event_type, g.t, COALESCE(b.cnt, 0) AS cnt FROM types ty CROSS JOIN grid g LEFT JOIN binned b ON b.event_type = ty.event_type AND b.d = g.t), idx AS (SELECT event_type, cnt, CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t) - 1 AS DOUBLE) AS i FROM filled) SELECT event_type, ROUND(regr_slope(cnt, i), 4) AS slope FROM idx GROUP BY 1 ORDER BY 1""")),

    // hll→merge→dcount_hll tolerance oracle, same pattern as q55: DuckDB
    // recomputes the exact distinct count; the merged-sketch estimate
    // must land in the 5% band (deterministic per dataset).
    "q61_hll_sketch" -> Q(kqlQ(
      """let exact = toscalar(events | summarize count_distinct(user_id));
         events
        | summarize h = hll(user_id) by event_type
        | summarize d = dcount_hll(hll_merge(h))
        | project x = exact, ok = todouble(abs(d - exact)) / exact <= 0.05"""),
      Some("""SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS x, true AS ok FROM events""")),

    // ----------------------------------------- temporal correlation ops
    "tmp_funnel" -> Q(
      (s, dir) => {
        // funnel over epoch-µs longs. Catalog normalizes whatever
        // encoding the fixture generation used (TIMESTAMP(NANOS)-as-long
        // in early rounds, plain TIMESTAMP(MICROS)/NTZ since) to a µs
        // TimestampType — the same truncation DuckDB's reader applies —
        // so the oracle's epoch_us values line up in every fixture era.
        val ev = graft.kql.Catalog(s, dir).table("events")
          .withColumn("ts", unix_micros(col("ts")))
        TemporalOps.funnel(ev, "user_id", "ts", Seq(
            "signup" -> (col("event_type") === "signup"),
            "click" -> (col("event_type") === "click"),
            "purchase" -> (col("event_type") === "purchase")))
          .orderBy("user_id")
      },
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t_signup FROM events WHERE event_type = 'signup' GROUP BY 1), s2 AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e JOIN s1 USING (user_id) WHERE e.event_type = 'click' AND e.ts > s1.t_signup GROUP BY 1), s3 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1) SELECT s1.user_id, epoch_us(t_signup) AS t_signup, epoch_us(t_click) AS t_click, epoch_us(t_purchase) AS t_purchase, CAST(1 + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT AS BIGINT) AS steps_completed FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id) ORDER BY user_id""")),

    "tmp_asof_join" -> Q(
      (s, dir) => {
        val ev = graft.kql.Catalog(s, dir).table("events")
        TemporalOps.asOfLastPrior(ev, "user_id", "ts", "event_id",
            col("event_type") === "click", col("value"), "last_click_val")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value"),
            round(col("last_click_val"), 4).as("last_click_val"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value, ROUND(last_click_val, 4) AS last_click_val FROM (SELECT event_id, user_id, value, event_type, LAST_VALUE(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_val FROM events) WHERE event_type = 'purchase' ORDER BY event_id""")),

    // As-of with tolerance: the latest prior click joins each purchase
    // ONLY if it is <= 30 min stale — matches beyond the tolerance null
    // out (the market-data as-of rule)
    "tmp_asof_tolerance" -> Q(
      (s, dir) => {
        val ev = graft.kql.Catalog(s, dir).table("events")
        TemporalOps.asOfLastPriorWithin(ev, "user_id", "ts", "event_id",
            col("event_type") === "click", col("value"), "last_click_val",
            tolUs = 1800L * 1000000)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            round(col("last_click_val"), 4).as("last_click_val"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, ROUND(CASE WHEN epoch_us(ts) - struct_extract(m, 'mts') <= 1800000000 THEN struct_extract(m, 'mv') END, 4) AS last_click_val FROM (SELECT event_id, user_id, ts, event_type, LAST_VALUE(CASE WHEN event_type = 'click' THEN struct_pack(mts := epoch_us(ts), mv := value) END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m FROM events) WHERE event_type = 'purchase' ORDER BY event_id""")),

    "tmp_range_join" -> Q(
      (s, dir) => {
        val ev = graft.kql.Catalog(s, dir).table("events")
        TemporalOps.rangeJoinPairs(ev, "user_id", "ts", "event_id", 120L * 1000000)
          .groupBy(col("k").as("user_id")).agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM events a JOIN events b ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE GROUP BY 1 ORDER BY 1""")),

    // --------------------------------------------- activity analytics
    "q83_activity_engagement" -> Q(kqlQ(
      """events
        | evaluate activity_engagement(user_id, ts, 1d, 7d)
        | sort by ts asc"""),
      Some("""WITH pairs AS (SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % 86400000000 AS d, user_id FROM events), i AS (SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dcount_activities_inner FROM pairs GROUP BY 1), o AS (SELECT p.d + s.g * 86400000000 AS d, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS dcount_activities_outer FROM pairs p CROSS JOIN generate_series(0, 6) s(g) GROUP BY 1) SELECT make_timestamp(i.d) AS ts, dcount_activities_inner, dcount_activities_outer, ROUND(dcount_activities_inner / CAST(dcount_activities_outer AS DOUBLE), 4) AS activity_ratio FROM i JOIN o USING (d) ORDER BY ts""")),

    "q84_sliding_window_counts" -> Q(kqlQ(
      """events
        | evaluate sliding_window_counts(user_id, ts, 7d, 1d)
        | sort by ts asc"""),
      Some("""WITH r AS (SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS d, user_id FROM events) SELECT make_timestamp(r.d + s.g * 86400000000) AS ts, CAST(COUNT(*) AS BIGINT) AS count_, CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS dcount_ FROM r CROSS JOIN generate_series(0, 6) s(g) GROUP BY 1 ORDER BY ts""")),

    "q85_reduce_by" -> Q(kqlQ(
      """documents
        | reduce by text
        | sort by Count desc, Pattern asc
        | take 20"""),
      Some("""SELECT regexp_replace(text, '[0-9]+', '*', 'g') AS Pattern, CAST(COUNT(*) AS BIGINT) AS Count, MIN(text) AS Representative FROM documents GROUP BY 1 ORDER BY Count DESC, Pattern ASC LIMIT 20""")),

    "q86_make_bag" -> Q(kqlQ(
      """events
        | where event_type == 'purchase'
        | summarize b = make_bag(props) by user_id
        | sort by user_id asc"""),
      // the fixture's props bags are single-key {"k": N}: first-wins over
      // the sorted fold ⇒ the k of the lexicographically smallest bag
      Some("""SELECT user_id, '{"k":"' || CAST(MIN(props)->>'k' AS VARCHAR) || '"}' AS b FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""")),

    "q87_scalar_text2" -> Q(kqlQ(
      """print bs = string_size('héllo'), ir = indexof_regex('abc123', '[0-9]+'),
              h = has_ipv4('src 10.1.2.3 dst'), rq = regex_quote('a.b*c'),
              fb = format_bytes(8000000, 2), gt = gettype(pack_array(1, 2)),
              bo = binary_or(12, 10), cp = dynamic_to_json(to_utf8('Ab')),
              ms = make_string(pack_array(72, 105)),
              nm = ipv4_netmask_suffix('192.168.0.0/24'),
              ic = ipv4_compare('10.0.0.1', '10.0.0.2', 24)"""),
      Some("""SELECT CAST(6 AS BIGINT) AS bs, CAST(3 AS BIGINT) AS ir, true AS h, 'a\.b\*c' AS rq, '7.63 MB' AS fb, 'array' AS gt, CAST(14 AS BIGINT) AS bo, '[65,98]' AS cp, 'Hi' AS ms, CAST(24 AS BIGINT) AS nm, CAST(0 AS BIGINT) AS ic""")),

    "q88_find" -> Q(kqlQ(
      """find in (nation, region) where r_name == 'ASIA' or n_regionkey == 2
        | project source_, n_name, n_regionkey, r_name, r_regionkey
        | sort by source_ asc, n_name asc"""),
      Some("""SELECT * FROM (SELECT 'nation' AS source_, n_name, n_regionkey, CAST(NULL AS VARCHAR) AS r_name, CAST(NULL AS BIGINT) AS r_regionkey FROM nation WHERE n_regionkey = 2 UNION ALL SELECT 'region', NULL, NULL, r_name, r_regionkey FROM region WHERE r_name = 'ASIA') ORDER BY source_ ASC, n_name ASC NULLS FIRST""")),

    "q89_partition_topk" -> Q(kqlQ(
      """orders
        | partition by o_orderpriority (top 3 by o_totalprice desc, o_orderkey asc
                                        | project o_orderpriority, o_orderkey, o_totalprice)
        | sort by o_orderpriority asc, o_orderkey asc"""),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority ASC, o_orderkey ASC""")),

    // LLM ops through the query LANGUAGE (E1) — same implementation the
    // Scala-API entries (llm_*) call; proves the full surface is
    // KQL-reachable
    "q90_kql_llm_dedup" -> Q(kqlQ(
      """documents
        | evaluate dedup_exact(text, doc_id)
        | project keep_id, n_copies
        | sort by keep_id asc"""),
      Some("""SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY lower(trim(text)) ORDER BY keep_id""")),

    // ntile needs a UNIQUE total order for cross-engine determinism (tied
    // rows at tile borders are assigned arbitrarily) — o_orderkey is the
    // fixture's one unique key, so the tile stats below are exact
    "q93_ntile" -> Q(kqlQ(
      """orders
        | sort by o_orderkey asc
        | extend nt = ntile(7), pr = round(percent_rank(), 8)
        | summarize n = count(), mnp = min(pr), mxp = max(pr),
                    mnk = min(o_orderkey), mxk = max(o_orderkey) by nt
        | sort by nt asc"""),
      Some("""WITH r AS (SELECT o_orderkey, CAST(NTILE(7) OVER w AS BIGINT) AS nt, ROUND(PERCENT_RANK() OVER w, 8) AS pr FROM orders WINDOW w AS (ORDER BY o_orderkey)) SELECT nt, CAST(COUNT(*) AS BIGINT) AS n, MIN(pr) AS mnp, MAX(pr) AS mxp, MIN(o_orderkey) AS mnk, MAX(o_orderkey) AS mxk FROM r GROUP BY 1 ORDER BY 1""")),

    // compression scalars are pinned by ROUNDTRIP (deflate bytes are not
    // cross-engine comparable); geohash against known literals
    "q100_zip_geohash" -> Q(kqlQ(
      """print gz = gzip_decompress_from_base64_string(gzip_compress_to_base64_string('the quick brown fox')),
              zl = zlib_decompress_from_base64_string(zlib_compress_to_base64_string('jumps over the lazy dog')),
              bad = gzip_decompress_from_base64_string('bm90LWd6aXA='),
              gh = geo_point_to_geohash(-122.4194, 37.7749, 9),
              gc = geo_point_to_geohash(-0.1278, 51.5074),
              ctr = geo_geohash_to_central_point('9q8yy')
        | project gz, zl, bad, gh, gc,
                  lon = round(ctr.longitude, 4), lat = round(ctr.latitude, 4)"""),
      Some("""SELECT 'the quick brown fox' AS gz, 'jumps over the lazy dog' AS zl, '' AS bad, '9q8yyk8yt' AS gh, 'gcpvj' AS gc, -122.4097 AS lon, 37.771 AS lat""")),

    // two-line segmented fit: slope-1 then slope-2 halves, exact split;
    // expectations computed independently (numpy lstsq) and pinned
    "q103_fit_2lines" -> Q(kqlQ(
      """print f = series_fit_2lines(pack_array(1.0, 2.0, 3.0, 4.0, 5.0, 10.0, 12.0, 14.0, 16.0, 18.0))
        | project rsq = round(f.rsquare, 6), split = f.split_idx,
                  ls = round(f.left_slope, 6), li = round(f.left_interception, 6),
                  rs = round(f.right_slope, 6), ri = round(f.right_interception, 6)"""),
      Some("""SELECT 1.0 AS rsq, CAST(5 AS BIGINT) AS split, 1.0 AS ls, 1.0 AS li, 2.0 AS rs, 0.0 AS ri""")),

    "q102_session_count" -> Q(kqlQ(
      """events
        | evaluate session_count(user_id, ts, datetime(2024-01-01), datetime(2024-01-31), 1d, 2d)
        | sort by ts asc"""),
      Some("""WITH grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 DAY)) AS b) SELECT b AS ts, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS count_session FROM grid LEFT JOIN events e ON e.ts > b - INTERVAL 2 DAY AND e.ts <= b GROUP BY 1 ORDER BY 1""")),

    "q101_narrow" -> Q(kqlQ(
      """nation
        | sort by n_nationkey asc
        | take 3
        | evaluate narrow()
        | sort by Row asc, Column asc"""),
      Some("""WITH t3 AS (SELECT * FROM nation ORDER BY n_nationkey LIMIT 3), r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS BIGINT) AS rn, * FROM t3) SELECT rn AS "Row", 'n_nationkey' AS "Column", CAST(n_nationkey AS VARCHAR) AS "Value" FROM r UNION ALL SELECT rn, 'n_name', n_name FROM r UNION ALL SELECT rn, 'n_regionkey', CAST(n_regionkey AS VARCHAR) FROM r ORDER BY "Row", "Column"""")),

    "q98_shuffle_hint" -> Q(kqlQ(
      """lineitem
        | join kind=inner hint.strategy=shuffle (orders) on $left.l_orderkey == $right.o_orderkey
        | summarize n = count(), s = sum(tolong(round(o_totalprice))) by l_returnflag
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS s FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1""")),

    "q99_ipv6" -> Q(kqlQ(
      """print p1 = parse_ipv6('fe80::85d:e82c:9446:7994'),
              p2 = parse_ipv6('::1'),
              p3 = parse_ipv6('192.168.1.5'),
              c1 = ipv6_compare('fe80::1', 'fe80::2'),
              c2 = ipv6_compare('fe80::1', 'fe80::2', 126),
              m1 = ipv6_is_match('fe80::123:4567', 'fe80::/64'),
              m2 = ipv6_is_match('fe80::123:4567', 'fe81::/64'),
              m3 = ipv6_is_match('192.168.1.5', '192.168.1.0/24'),
              pm = parse_ipv6_mask('fe80::85d:e82c:9446:7994', 120)"""),
      Some("""SELECT 'fe80:0000:0000:0000:085d:e82c:9446:7994' AS p1, '0000:0000:0000:0000:0000:0000:0000:0001' AS p2, '0000:0000:0000:0000:0000:ffff:c0a8:0105' AS p3, CAST(-1 AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2, true AS m1, false AS m2, true AS m3, 'fe80:0000:0000:0000:085d:e82c:9446:7900' AS pm""")),

    "q97_scalar_batch3" -> Q(kqlQ(
      """print nt = not(1 == 2), ct = round(cot(1.0), 6),
              rg = dynamic_to_json(range(1, 9, 3)),
              hc = hash_combine(hash('a'), hash('b')) != hash('a'),
              fm = format_ipv4_mask('192.168.1.77', 24),
              ir = ipv4_is_in_any_range('10.0.1.5', '10.0.0.0/16', '192.168.0.0/24'),
              ir2 = ipv4_is_in_any_range('8.8.8.8', '10.0.0.0/16', '192.168.0.0/24'),
              un = unixtime_nanoseconds_todatetime(1700000000123456789),
              gc = geo_point_in_circle(-122.41, 37.77, -122.40, 37.77, 2000.0),
              gc2 = geo_point_in_circle(-122.41, 37.77, -120.40, 37.77, 2000.0)"""),
      Some("""SELECT true AS nt, 0.642093 AS ct, '[1,4,7]' AS rg, true AS hc, '192.168.1.0/24' AS fm, true AS ir, false AS ir2, TIMESTAMP '2023-11-14 22:13:20.123456' AS un, true AS gc, false AS gc2""")),

    // scan under partition by = the distributed path (hash on key +
    // sortWithinPartitions + per-key state machine); integer-cents
    // accumulation keeps the running sum bit-exact across engines
    "q96_scan" -> Q(kqlQ(
      """events
        | partition by user_id (sort by ts asc, event_id asc
            | scan declare (rs:long=0) with (step s: true => rs = rs + tolong(round(value * 100))))
        | summarize mx = max(rs), n = count() by user_id
        | sort by user_id asc"""),
      Some("""WITH r AS (SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS rs FROM events) SELECT user_id, CAST(MAX(rs) AS BIGINT) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1 ORDER BY 1""")),

    // ACF local-maxima period detection: period-4 signal over 24 points →
    // ACF(4)=25/30, ACF(8)=20/30 (exact closed-form, pinned as literals);
    // r6 adds series_periods_validate on the same signal (echoes the
    // CALLER's candidates — lag 6 is anti-phase, ACF(6)=−13.5/30) and
    // series_sqrt
    "q94_series_periods" -> Q(kqlQ(
      """print r = series_periods_detect(pack_array(
           1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
           1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0), 2, 12, 2),
              v = series_periods_validate(pack_array(
           1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
           1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0), 4, 6)
        | project periods = dynamic_to_json(r.periods), scores = dynamic_to_json(r.scores),
                  vperiods = dynamic_to_json(v.periods), vscores = dynamic_to_json(v.scores),
                  sq = dynamic_to_json(series_sqrt(pack_array(4.0, 9.0)))"""),
      Some("""SELECT '[4.0,8.0]' AS periods, '[0.8333,0.6667]' AS scores, '[4.0,6.0]' AS vperiods, '[0.8333,-0.45]' AS vscores, '[2.0,3.0]' AS sq""")),

    // externaldata over a local parquet URI (zero-egress env: file paths
    // are the reachable URI class; schema declared, not inferred)
    "q95_externaldata" -> Q(
      (s, d) => Kql.run(s,
        s"""externaldata (n_nationkey:long, n_name:string, n_regionkey:long)
              ['$d/nation.parquet'] with (format='parquet')
            | summarize n = count(), mx = max(n_nationkey) by n_regionkey
            | sort by n_regionkey asc""", d),
      Some("""SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n, MAX(n_nationkey) AS mx FROM nation GROUP BY 1 ORDER BY 1""")),

    "q92_series_decompose" -> Q(kqlQ(
      """print an = series_decompose_anomalies(pack_array(
           1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
           1.0, 42.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0), 4)"""),
      Some("""SELECT [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0] AS an""")),

    // last-level `with others`: non-top values fold into one labeled row
    // (additive re-aggregation of the per-value aggregates)
    // mv-combine = inverse of mv-expand: one hash aggregate collecting the
    // named column into an array per group of the remaining columns; the
    // canonical order comes from the explicit array_sort_asc, not the
    // collect (collect_list order is arrival order, no promise made)
    "q131_mv_combine" -> Q(kqlQ(
      """lineitem
        | where l_orderkey <= 1000
        | project l_orderkey, ln = tolong(l_linenumber)
        | mv-combine ln
        | project l_orderkey, lns = dynamic_to_json(array_sort_asc(ln))
        | sort by l_orderkey asc"""),
      Some("""SELECT l_orderkey, CAST(to_json(list_sort(list(CAST(l_linenumber AS BIGINT)))) AS VARCHAR) AS lns FROM lineitem WHERE l_orderkey <= 1000 GROUP BY 1 ORDER BY 1""")),

    // t-digest percentile sketch (r5): banded contract (the q55/q61
    // dcount/hll convention) — the sketch p50/p95 must land inside the
    // exact [48th, 52nd] / [93rd, 97th] percentile bands (rank error at
    // compression 100 is ≲1%, band is 2%); the exact p50 itself is
    // value-compared. Sketch internals are merge-order-dependent, so
    // only banded booleans are hashed.
    "q132_tdigest" -> Q(kqlQ(
      """lineitem
        | summarize td = tdigest(l_extendedprice) by l_returnflag
        | extend p50 = percentile_tdigest(td, 50), p95 = percentile_tdigest(td, 95)
        | join kind=inner (lineitem
            | summarize lo50 = percentile(l_extendedprice, 48),
                        hi50 = percentile(l_extendedprice, 52),
                        lo95 = percentile(l_extendedprice, 93),
                        hi95 = percentile(l_extendedprice, 97),
                        ex50 = round(percentile(l_extendedprice, 50), 4)
              by l_returnflag) on l_returnflag
        | project l_returnflag, ex50,
            p50_ok = p50 >= lo50 and p50 <= hi50,
            p95_ok = p95 >= lo95 and p95 <= hi95
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS ex50, true AS p50_ok, true AS p95_ok FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // t-digest MERGE path (r5): per-(flag, status) partial sketches
    // re-aggregated per flag — the persisted-sketch-cube rollup shape
    // (a 100 TB percentile = one narrow shuffle of <= delta centroids).
    // Same banded contract, plus the inverse check: the rank of the
    // exact median must sit within [47, 53].
    "q133_tdigest_merge" -> Q(kqlQ(
      """lineitem
        | summarize td = tdigest(l_extendedprice) by l_returnflag, l_linestatus
        | summarize m = tdigest_merge(td) by l_returnflag
        | extend p50 = percentile_tdigest(m, 50)
        | join kind=inner (lineitem
            | summarize lo50 = percentile(l_extendedprice, 48),
                        hi50 = percentile(l_extendedprice, 52),
                        ex50 = round(percentile(l_extendedprice, 50), 4)
              by l_returnflag) on l_returnflag
        | extend r50 = rank_tdigest(m, ex50)
        | project l_returnflag, ex50,
            p50_ok = p50 >= lo50 and p50 <= hi50,
            rank_ok = r50 >= 47.0 and r50 <= 53.0
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS ex50, true AS p50_ok, true AS rank_ok FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q6 (r5): pure scan + filter + one money sum — the pushdown
    // showcase (all three predicates land in PushedFilters)
    "q135_tpch_q6" -> Q(kqlQ(
      """lineitem
        | where l_shipdate >= datetime(1997-01-01) and l_shipdate < datetime(1998-01-01)
        | where l_discount >= 0.03 and l_discount <= 0.05 and l_quantity < 24.0
        | summarize rc = sum(tolong(round(l_extendedprice * l_discount * 10000)))
        | project revenue = todouble(rc) / 10000.0"""),
      Some("""SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' AND l_discount >= 0.03 AND l_discount <= 0.05 AND l_quantity < 24.0""")),

    // TPC-H Q14 (r5): promo revenue share — broadcast dim join +
    // conditional money aggregate (fixture p_type is single-word)
    "q136_tpch_q14" -> Q(kqlQ(
      """lineitem
        | where l_shipdate >= datetime(1997-09-01) and l_shipdate < datetime(1997-10-01)
        | join kind=inner (part) on $left.l_partkey == $right.p_partkey
        | summarize promo = sum(tolong(round(iff(p_type == 'PROMO', l_extendedprice * (1 - l_discount), 0.0) * 10000))),
                    total = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
        | project promo_revenue = round(100.0 * todouble(promo) / todouble(total), 4)"""),
      Some("""SELECT ROUND(100.0 * CAST(SUM(CAST(ROUND(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END * 10000) AS BIGINT)) AS DOUBLE) / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE), 4) AS promo_revenue FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""")),

    // TPC-H Q10 (r5, reduced to fixture columns): returned-item revenue
    // per customer over a quarter — 3-way join + grouped money sum + top
    "q137_tpch_q10" -> Q(kqlQ(
      """customer
        | join kind=inner (orders
            | where o_orderdate >= datetime(1997-01-01) and o_orderdate < datetime(1997-04-01))
          on $left.c_custkey == $right.o_custkey
        | join kind=inner (lineitem | where l_returnflag == 'R')
          on $left.o_orderkey == $right.l_orderkey
        | join kind=inner (nation) on $left.c_nationkey == $right.n_nationkey
        | summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
            by c_custkey, c_name, c_acctbal, n_name
        | extend revenue = todouble(rc) / 10000.0
        | project-away rc
        | sort by revenue desc, c_custkey asc
        | take 20"""),
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey JOIN nation ON c_nationkey = n_nationkey WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' AND l_returnflag = 'R' GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q18 (r5): large-volume customers — the grouped-HAVING +
    // join-back shape (aggregate feeds the join's build side)
    "q138_tpch_q18" -> Q(kqlQ(
      """lineitem
        | summarize qty = sum(tolong(round(l_quantity))) by l_orderkey
        | where qty > 250
        | join kind=inner (orders) on $left.l_orderkey == $right.o_orderkey
        | join kind=inner (customer) on $left.o_custkey == $right.c_custkey
        | project c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty
        | sort by o_totalprice desc, o_orderdate asc, o_orderkey asc
        | take 100"""),
      Some("""WITH big AS (SELECT l_orderkey, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty FROM lineitem GROUP BY 1 HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 250) SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty FROM big JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""")),

    // TPC-H Q4 (r6, reduced to fixture columns — no l_commitdate/
    // l_receiptdate, so the EXISTS predicate is l_returnflag == 'R'):
    // the EXISTS-subquery shape — a leftsemi join that must NOT
    // duplicate orders with several matching lines
    "q141_tpch_q4" -> Q(kqlQ(
      """orders
        | where o_orderdate >= datetime(1997-01-01) and o_orderdate < datetime(1997-04-01)
        | join kind=leftsemi (lineitem | where l_returnflag == 'R')
          on $left.o_orderkey == $right.l_orderkey
        | summarize order_count = count() by o_orderpriority
        | sort by o_orderpriority asc"""),
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q12 (r6, l_linestatus standing in for l_shipmode): fact-fact
    // join + dual conditional counts — the countif-over-join shape
    "q142_tpch_q12" -> Q(kqlQ(
      """orders
        | join kind=inner (lineitem
            | where l_returnflag in ('A', 'R')
              and l_shipdate >= datetime(1997-01-01) and l_shipdate < datetime(1998-01-01))
          on $left.o_orderkey == $right.l_orderkey
        | summarize high_line_count = countif(o_orderpriority in ('1-URGENT', '2-HIGH')),
                    low_line_count = countif(o_orderpriority !in ('1-URGENT', '2-HIGH'))
          by l_linestatus
        | sort by l_linestatus asc"""),
      Some("""SELECT l_linestatus, CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE l_returnflag IN ('A','R') AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q16 (r6; lineitem's (l_partkey, l_suppkey) is the partsupp
    // surrogate — the fixture has no partsupp table; the NOT-IN
    // complaint filter becomes s_acctbal < 0): NOT-IN anti-join +
    // exact count-distinct aggregate
    "q143_tpch_q16" -> Q(kqlQ(
      """lineitem
        | join kind=inner (part
            | where p_brand != 'Brand#3' and p_size in (1, 5, 9, 14, 20, 27, 33, 40))
          on $left.l_partkey == $right.p_partkey
        | join kind=leftanti (supplier | where s_acctbal < 0)
          on $left.l_suppkey == $right.s_suppkey
        | summarize supplier_cnt = count_distinct(l_suppkey) by p_brand, p_size
        | sort by supplier_cnt desc, p_brand asc, p_size asc
        | take 20"""),
      Some("""SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand <> 'Brand#3' AND p_size IN (1, 5, 9, 14, 20, 27, 33, 40) AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 20""")),

    // TPC-H Q21 (r6, 'late' = l_returnflag == 'R'): the waiting-supplier
    // EXISTS/NOT-EXISTS chain. The correlated suppkey-inequality
    // subqueries become per-order distinct-supplier aggregates (>1
    // suppliers ⇒ someone else contributed; exactly 1 late supplier ⇒
    // nobody ELSE was late — together equivalent to the original
    // EXISTS l2 / NOT EXISTS l3 pair because the probe row itself is
    // late), then THREE chained leftsemi joins — each an ids-only
    // probe, no fact-row duplication anywhere in the chain
    "q144_tpch_q21" -> Q(kqlQ(
      """let late = lineitem | where l_returnflag == 'R';
        late
        | join kind=leftsemi (orders | where o_orderstatus == 'F')
          on $left.l_orderkey == $right.o_orderkey
        | join kind=leftsemi (lineitem
            | summarize ns = count_distinct(l_suppkey) by l_orderkey
            | where ns > 1) on l_orderkey
        | join kind=leftsemi (late
            | summarize nl = count_distinct(l_suppkey) by l_orderkey
            | where nl == 1) on l_orderkey
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | join kind=inner (nation | where n_name in ('NATION_1', 'NATION_2', 'NATION_3'))
          on $left.s_nationkey == $right.n_nationkey
        | summarize numwait = count_distinct(l_orderkey) by s_name
        | sort by numwait desc, s_name asc
        | take 100"""),
      Some("""WITH late AS (SELECT * FROM lineitem WHERE l_returnflag = 'R'), multi AS (SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(DISTINCT l_suppkey) > 1), onelate AS (SELECT l_orderkey FROM late GROUP BY 1 HAVING COUNT(DISTINCT l_suppkey) = 1) SELECT s_name, CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS numwait FROM late l JOIN supplier ON l.l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE n_name IN ('NATION_1','NATION_2','NATION_3') AND l.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') AND l.l_orderkey IN (SELECT l_orderkey FROM multi) AND l.l_orderkey IN (SELECT l_orderkey FROM onelate) GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""")),

    // TPC-H Q2 (r6; lineitem (l_partkey, l_suppkey, min extendedprice)
    // is the partsupp surrogate): the correlated-min-subquery shape —
    // per-part minimum cost computed once, joined back on (part, cost)
    // so ALL tied suppliers survive (arg_min would pick one
    // arbitrarily). Integer-cents cost per the TPCH_Q1 money
    // convention; the let-bound ps is planned once per reference
    "q145_tpch_q2" -> Q(kqlQ(
      """let ps = lineitem
          | summarize cost_c = min(tolong(round(l_extendedprice * 100))) by l_partkey, l_suppkey;
        ps
        | join kind=inner (ps | summarize min_c = min(cost_c) by l_partkey) on l_partkey
        | where cost_c == min_c
        | join kind=inner (part | where p_size == 20 and p_type == 'PROMO')
          on $left.l_partkey == $right.p_partkey
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | join kind=inner (nation) on $left.s_nationkey == $right.n_nationkey
        | project s_acctbal, s_name, n_name, p_partkey, cost = todouble(min_c) / 100.0
        | sort by s_acctbal desc, n_name asc, s_name asc, p_partkey asc
        | take 100"""),
      Some("""WITH ps AS (SELECT l_partkey, l_suppkey, MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cost_c FROM lineitem GROUP BY 1, 2), mc AS (SELECT l_partkey, MIN(cost_c) AS min_c FROM ps GROUP BY 1) SELECT s_acctbal, s_name, n_name, p_partkey, CAST(min_c AS DOUBLE)/100.0 AS cost FROM ps JOIN mc ON ps.l_partkey = mc.l_partkey AND ps.cost_c = mc.min_c JOIN part ON ps.l_partkey = p_partkey JOIN supplier ON ps.l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE p_size = 20 AND p_type = 'PROMO' ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")),

    // TPC-H Q7 (r6): volume shipping between two nations by year — the
    // dimension-joined-TWICE shape (nation as both supplier and
    // customer nation via let-renamed copies) + disjunctive pair filter
    "q146_tpch_q7" -> Q(kqlQ(
      """let n1 = nation | project s_nationkey = n_nationkey, supp_nation = n_name;
        let n2 = nation | project c_nationkey = n_nationkey, cust_nation = n_name;
        supplier
        | join kind=inner (lineitem
            | where l_shipdate >= datetime(1996-01-01) and l_shipdate < datetime(1998-01-01))
          on $left.s_suppkey == $right.l_suppkey
        | join kind=inner (orders) on $left.l_orderkey == $right.o_orderkey
        | join kind=inner (customer) on $left.o_custkey == $right.c_custkey
        | join kind=inner (n1) on s_nationkey
        | join kind=inner (n2) on c_nationkey
        | where (supp_nation == 'NATION_1' and cust_nation == 'NATION_2')
             or (supp_nation == 'NATION_2' and cust_nation == 'NATION_1')
        | extend l_year = tolong(getyear(l_shipdate))
        | summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
            by supp_nation, cust_nation, l_year
        | project supp_nation, cust_nation, l_year, revenue = todouble(rc) / 10000.0
        | sort by supp_nation asc, cust_nation asc, l_year asc"""),
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue FROM supplier JOIN lineitem ON s_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey JOIN nation n1 ON s_nationkey = n1.n_nationkey JOIN nation n2 ON c_nationkey = n2.n_nationkey WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q13 (r6, o_orderpriority filter standing in for the
    // o_comment NOT LIKE): order-count-per-customer histogram — LEFT
    // join with a join-side predicate + double aggregate
    "q147_tpch_q13" -> Q(kqlQ(
      """customer
        | join kind=leftouter (orders | where o_orderpriority != '1-URGENT')
          on $left.c_custkey == $right.o_custkey
        | summarize c_count = countif(isnotnull(o_orderkey)) by c_custkey
        | summarize custdist = count() by c_count
        | sort by custdist desc, c_count desc"""),
      Some("""WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' GROUP BY 1) SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q15 (r6): top supplier by quarterly revenue — the
    // max-over-aggregate join-back (the view + scalar-subquery shape;
    // ALL ties survive, unlike a top-1)
    "q148_tpch_q15" -> Q(kqlQ(
      """let rev = lineitem
          | where l_shipdate >= datetime(1997-01-01) and l_shipdate < datetime(1997-04-01)
          | summarize tr = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))) by l_suppkey;
        rev
        | extend __k = 1
        | join kind=inner (rev | summarize mx = max(tr) | extend __k = 1) on __k
        | where tr == mx
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | project s_suppkey, s_name, total_revenue = todouble(tr) / 10000.0
        | sort by s_suppkey asc"""),
      Some("""WITH rev AS (SELECT l_suppkey, SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS tr FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY 1) SELECT s_suppkey, s_name, CAST(tr AS DOUBLE) / 10000.0 AS total_revenue FROM supplier JOIN rev ON s_suppkey = l_suppkey WHERE tr = (SELECT MAX(tr) FROM rev) ORDER BY s_suppkey""")),

    // TPC-H Q17 (r6): small-quantity revenue — the correlated-AVG
    // subquery as a per-part aggregate joined back. l_quantity is
    // integral in the fixture, so avg = exact-int-sum / count is
    // bit-identical cross-engine
    "q149_tpch_q17" -> Q(kqlQ(
      """let pa = lineitem | summarize aq = avg(l_quantity) by l_partkey;
        lineitem
        | join kind=inner (part | where p_brand == 'Brand#23')
          on $left.l_partkey == $right.p_partkey
        | join kind=inner (pa) on l_partkey
        | where l_quantity < 0.2 * aq
        | summarize rc = sum(tolong(round(l_extendedprice * 100)))
        | project avg_yearly = round(todouble(rc) / 100.0 / 7.0, 4)"""),
      Some("""WITH pa AS (SELECT l_partkey, AVG(l_quantity) AS aq FROM lineitem GROUP BY 1) SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0, 4) AS avg_yearly FROM lineitem JOIN part ON l_partkey = p_partkey JOIN pa USING (l_partkey) WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * aq""")),

    // TPC-H Q19 (r6): the disjunction-of-conjunctions predicate — three
    // brand/size/quantity bands OR'd over the same fact-dim join
    "q150_tpch_q19" -> Q(kqlQ(
      """lineitem
        | join kind=inner (part) on $left.l_partkey == $right.p_partkey
        | where (p_brand == 'Brand#12' and p_size between (1 .. 15) and l_quantity >= 1 and l_quantity <= 11)
             or (p_brand == 'Brand#23' and p_size between (1 .. 25) and l_quantity >= 10 and l_quantity <= 20)
             or (p_brand == 'Brand#34' and p_size between (1 .. 35) and l_quantity >= 20 and l_quantity <= 30)
        | summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
        | project revenue = todouble(rc) / 10000.0"""),
      Some("""SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue FROM lineitem JOIN part ON p_partkey = l_partkey WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11) OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10 AND l_quantity <= 20) OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20 AND l_quantity <= 30)""")),

    // TPC-H Q22 (r6; nationkey%5 standing in for the phone country
    // code, and the NOT EXISTS scoped to RECENT orders — the synthetic
    // fixture gives every customer at least one historical order):
    // global-scalar-subquery threshold + anti-join. The average is
    // computed on integer cents so the threshold is bit-identical
    // cross-engine
    "q151_tpch_q22" -> Q(kqlQ(
      """let cb = customer
          | project c_custkey, code = c_nationkey % 5, bal_c = tolong(round(c_acctbal * 100));
        cb
        | extend __k = 1
        | join kind=inner (cb | where bal_c > 0 | summarize a = avg(bal_c) | extend __k = 1) on __k
        | where todouble(bal_c) > a
        | join kind=leftanti (orders | where o_orderdate >= datetime(2000-01-01))
          on $left.c_custkey == $right.o_custkey
        | summarize numcust = count(), tb = sum(bal_c) by code
        | project cntrycode = tolong(code), numcust, totacctbal = todouble(tb) / 100.0
        | sort by cntrycode asc"""),
      Some("""WITH cb AS (SELECT c_custkey, c_nationkey % 5 AS code, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer), av AS (SELECT AVG(bal_c) AS a FROM cb WHERE bal_c > 0) SELECT CAST(code AS BIGINT) AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS totacctbal FROM cb, av WHERE bal_c > a AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01') GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q8 (r6): national market share — the deepest join tree in
    // the suite (7 tables, nation joined twice, region rollup) + a
    // conditional-share aggregate on exact integer volumes
    "q152_tpch_q8" -> Q(kqlQ(
      """let n2 = nation | project s_nationkey = n_nationkey, supp_nation = n_name;
        part
        | where p_type == 'PROMO'
        | join kind=inner (lineitem) on $left.p_partkey == $right.l_partkey
        | join kind=inner (orders
            | where o_orderdate >= datetime(1996-01-01) and o_orderdate < datetime(1998-01-01))
          on $left.l_orderkey == $right.o_orderkey
        | join kind=inner (customer) on $left.o_custkey == $right.c_custkey
        | join kind=inner (nation) on $left.c_nationkey == $right.n_nationkey
        | join kind=inner (region | where r_name == 'ASIA')
          on $left.n_regionkey == $right.r_regionkey
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | join kind=inner (n2) on s_nationkey
        | extend o_year = tolong(getyear(o_orderdate)),
                 v = tolong(round(l_extendedprice * (1 - l_discount) * 10000))
        | summarize num = sum(iff(supp_nation == 'NATION_3', v, tolong(0))), den = sum(v)
            by o_year
        | project o_year, mkt_share = round(todouble(num) / todouble(den), 6)
        | sort by o_year asc"""),
      Some("""WITH vol AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS v, n2.n_name AS supp_nation FROM part JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON c_nationkey = n1.n_nationkey JOIN region ON n1.n_regionkey = r_regionkey JOIN nation n2 ON s_nationkey = n2.n_nationkey WHERE r_name = 'ASIA' AND p_type = 'PROMO' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01') SELECT o_year, ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) AS DOUBLE) / SUM(v), 6) AS mkt_share FROM vol GROUP BY 1 ORDER BY 1""")),

    // TPC-H Q9 (r6; the fixture has no partsupp table, so the three
    // partsupp-dependent shapes run on a DOCUMENTED lineitem-derived
    // surrogate: ps_supplycost = min extendedprice cents per (part,
    // supplier), ps_availqty = 10·line-count; p_type = 'PROMO' stands
    // in for p_name LIKE): product profit by supplier nation and order
    // year — the 6-way join with an arithmetic combine of fact and
    // surrogate-dim money, exact in integer ten-thousandths
    "q153_tpch_q9" -> Q(kqlQ(
      """let ps = lineitem
          | summarize ps_supplycost_c = min(tolong(round(l_extendedprice * 100)))
              by ps_partkey = l_partkey, ps_suppkey = l_suppkey;
        lineitem
        | join kind=inner (part | where p_type == 'PROMO')
          on $left.l_partkey == $right.p_partkey
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | join kind=inner (ps)
          on $left.l_partkey == $right.ps_partkey, $left.l_suppkey == $right.ps_suppkey
        | join kind=inner (orders) on $left.l_orderkey == $right.o_orderkey
        | join kind=inner (nation) on $left.s_nationkey == $right.n_nationkey
        | extend profit_tt = tolong(round(l_extendedprice * (1 - l_discount) * 10000))
            - ps_supplycost_c * 100 * tolong(round(l_quantity))
        | summarize pt = sum(profit_tt) by nation = n_name, o_year = tolong(getyear(o_orderdate))
        | project nation, o_year, sum_profit = todouble(pt) / 10000.0
        | sort by nation asc, o_year desc"""),
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_c FROM lineitem GROUP BY 1, 2) SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) - ps_supplycost_c * 100 * CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_profit FROM part JOIN lineitem ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey JOIN orders ON o_orderkey = l_orderkey JOIN nation ON s_nationkey = n_nationkey WHERE p_type = 'PROMO' GROUP BY 1, 2 ORDER BY 1, 2 DESC""")),

    // TPC-H Q11 (r6, same surrogate): important-stock — the
    // group-total-fraction HAVING over an exact integer value sum
    "q154_tpch_q11" -> Q(kqlQ(
      """let ps = lineitem
          | summarize ps_supplycost_c = min(tolong(round(l_extendedprice * 100))),
                      ps_availqty = 10 * count()
              by ps_partkey = l_partkey, ps_suppkey = l_suppkey;
        let pn = ps
          | join kind=inner (supplier) on $left.ps_suppkey == $right.s_suppkey
          | join kind=inner (nation | where n_name in ('NATION_3', 'NATION_8'))
            on $left.s_nationkey == $right.n_nationkey
          | project ps_partkey, v = ps_supplycost_c * ps_availqty;
        pn
        | summarize sv = sum(v) by ps_partkey
        | extend __k = 1
        | join kind=inner (pn | summarize t = sum(v) | extend __k = 1) on __k
        | where todouble(sv) > todouble(t) * 0.0015
        | project ps_partkey, value = todouble(sv) / 100.0
        | sort by value desc, ps_partkey asc
        | take 25"""),
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_c, CAST(COUNT(*) * 10 AS BIGINT) AS ps_availqty FROM lineitem GROUP BY 1, 2), pn AS (SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v FROM ps JOIN supplier ON ps_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey WHERE n_name IN ('NATION_3','NATION_8')), tot AS (SELECT SUM(v) AS t FROM pn) SELECT ps_partkey, CAST(SUM(v) AS DOUBLE) / 100.0 AS value FROM pn, tot GROUP BY 1, t HAVING CAST(SUM(v) AS DOUBLE) > CAST(t AS DOUBLE) * 0.0015 ORDER BY value DESC, ps_partkey LIMIT 25""")),

    // TPC-H Q20 (r6, same surrogate): suppliers with surplus stock of a
    // part type shipped in a window — the nested IN-subquery chain as a
    // two-key join + threshold + semi-join
    "q155_tpch_q20" -> Q(kqlQ(
      """let ps = lineitem
          | summarize ps_supplycost_c = min(tolong(round(l_extendedprice * 100))),
                      ps_availqty = 10 * count()
              by ps_partkey = l_partkey, ps_suppkey = l_suppkey;
        let shipped = lineitem
          | where l_shipdate >= datetime(1997-01-01) and l_shipdate < datetime(1998-01-01)
          | summarize q = sum(tolong(round(l_quantity))) by l_partkey, l_suppkey;
        let good = ps
          | join kind=inner (shipped)
            on $left.ps_partkey == $right.l_partkey, $left.ps_suppkey == $right.l_suppkey
          | join kind=leftsemi (part | where p_type == 'PROMO')
            on $left.ps_partkey == $right.p_partkey
          | where ps_availqty * 2 > q
          | distinct ps_suppkey;
        supplier
        | join kind=inner (nation | where n_name in ('NATION_1', 'NATION_2', 'NATION_3'))
          on $left.s_nationkey == $right.n_nationkey
        | join kind=leftsemi (good) on $left.s_suppkey == $right.ps_suppkey
        | project s_name, s_suppkey
        | sort by s_name asc"""),
      Some("""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, CAST(COUNT(*) * 10 AS BIGINT) AS ps_availqty FROM lineitem GROUP BY 1, 2), shipped AS (SELECT l_partkey, l_suppkey, SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1, 2), good AS (SELECT DISTINCT ps_suppkey FROM ps JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey JOIN part ON p_partkey = ps_partkey WHERE p_type = 'PROMO' AND ps_availqty * 2 > q) SELECT s_name, s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name IN ('NATION_1','NATION_2','NATION_3') AND s_suppkey IN (SELECT ps_suppkey FROM good) ORDER BY s_name""")),

    // scalar batch 6 (r5): unit conversions, codepoints, treepath,
    // bin_auto via the canonical let, format/url/has_any_index extras
    "q134_scalar_batch6" -> Q(kqlQ(
      """let query_bin_auto_size = 10;
        print mi = round(convert_length(1.0, 'Mile', 'Meter'), 4),
              tf = round(convert_temperature(212.0, 'DegreeFahrenheit', 'DegreeCelsius'), 4),
              an = round(convert_angle(180.0, 'Degree', 'Radian'), 6),
              ma = round(convert_mass(1.0, 'Pound', 'Gram'), 4),
              sp = round(convert_speed(1.0, 'Knot', 'KilometerPerHour'), 4),
              en = round(convert_energy(1.0, 'KilowattHour', 'Kilojoule'), 4),
              vo = round(convert_volume(1.0, 'UsGallon', 'Liter'), 6),
              fn = format_number(1234567.891, 2),
              ue = url_encode_component('a b+c'),
              cp = dynamic_to_json(unicode_codepoints_from_string('Hi☃')),
              cs = unicode_codepoints_to_string(pack_array(72, 105), 9731),
              hi = has_any_index('north south', 'east', 'south', 'north'),
              ba = bin_auto(47),
              tp = dynamic_to_json(treepath(dynamic({"a":{"b":1},"c":[5,6]})))"""),
      Some("""SELECT 1609.344 AS mi, 100.0 AS tf, 3.141593 AS an, 453.5924 AS ma, 1.852 AS sp, 3600.0 AS en, 3.785412 AS vo, '1,234,567.89' AS fn, 'a%20b%2Bc' AS ue, '[72,105,9731]' AS cp, 'Hi☃' AS cs, CAST(1 AS BIGINT) AS hi, CAST(40 AS BIGINT) AS ba, '["[''a'']","[''a''][''b'']","[''c'']","[''c''][0]","[''c''][1]"]' AS tp""")),

    // geo point-to-line distance (r5): cross-track/along-track spherical
    // decomposition per segment, min over the LineString. Expected
    // values from an independent scalar implementation of the same
    // spherical model (R=6371000 — the repo's haversine convention;
    // WGS84 geodesics differ ~1%)
    "q139_geo_point_to_line" -> Q(kqlQ(
      """print interior = round(geo_distance_point_to_line(-73.9787, 40.7648,
              dynamic({"type":"LineString","coordinates":[[-73.97687,40.78193],[-73.96537,40.78371]]})), 4),
            endpoint = round(geo_distance_point_to_line(2.0, 0.0,
              dynamic({"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0]]})), 4),
            multiseg = round(geo_distance_point_to_line(0.5, 0.3,
              dynamic({"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]})), 4)"""),
      Some("""SELECT 1910.9925 AS interior, 111194.9266 AS endpoint, 33358.478 AS multiseg""")),

    // scalar batch 7 (r5): pairwise replace_strings, windows
    // command-line parsing, geohash neighbor cells (NW..SE order,
    // reference values from an independent scalar implementation),
    // whole-domain IDN punycode
    "q140_scalar_batch7" -> Q(kqlQ(
      """print rs = replace_strings('A quick brown fox', dynamic(['quick', 'fox']), dynamic(['slow', 'dog'])),
            cl = dynamic_to_json(parse_command_line('program.exe "a b"  c', 'windows')),
            nb = dynamic_to_json(geo_geohash_neighbors('u4pruy')),
            pd = punycode_domain_from_string('académie-française.fr'),
            pu = punycode_domain_to_string('xn--acadmie-franaise-npb1a.fr')"""),
      Some("""SELECT 'A slow brown dog' AS rs, '["program.exe","a b","c"]' AS cl, '["u4prux","u4pruz","u4prvp","u4pruw","u4prvn","u4prut","u4pruv","u4prvj"]' AS nb, 'xn--acadmie-franaise-npb1a.fr' AS pd, 'académie-française.fr' AS pu""")),

    // parallel-array sorting: companion arrays reordered by the first
    "q130_parallel_sort" -> Q(kqlQ(
      """print s = array_sort_asc(pack_array(3, 1, 2), pack_array(30, 10, 20)),
              d = array_sort_desc(pack_array(3, 1, 2), pack_array(30, 10, 20))
        | project k1 = tolong(s[0][0]), v1 = tolong(s[1][0]), dk1 = tolong(d[0][0]), dv1 = tolong(d[1][0])"""),
      Some("""SELECT CAST(1 AS BIGINT) AS k1, CAST(10 AS BIGINT) AS v1, CAST(3 AS BIGINT) AS dk1, CAST(30 AS BIGINT) AS dv1""")),

    // polynomial least squares recovering an exact quadratic
    "q129_fit_poly" -> Q(kqlQ(
      """print f = series_fit_poly(pack_array(1.0, 0.0, 3.0, 10.0, 21.0, 36.0), 2)
        | project r2 = round(todouble(f.rsquare), 9),
                  c0 = round(todouble(f.coefficients[0]), 9),
                  c1 = round(todouble(f.coefficients[1]), 9),
                  c2 = round(todouble(f.coefficients[2]), 9)"""),
      Some("""SELECT CAST(1.0 AS DOUBLE) AS r2, CAST(2.0 AS DOUBLE) AS c0, CAST(-3.0 AS DOUBLE) AS c1, CAST(1.0 AS DOUBLE) AS c2""")),

    // DFT closed forms: impulse → flat spectrum; sin(2πn/4) → X₁ = −2i;
    // ifft∘fft = identity on a non-power-of-two length (direct-DFT path)
    "q128_series_fft" -> Q(kqlQ(
      """print f1 = series_fft(pack_array(1.0, 0.0, 0.0, 0.0)),
              f2 = series_fft(pack_array(0.0, 1.0, 0.0, -1.0)),
              rt = series_ifft(series_fft(pack_array(3.0, 1.0, 4.0, 1.0, 5.0)).re,
                               series_fft(pack_array(3.0, 1.0, 4.0, 1.0, 5.0)).im)
        | project r1 = round(todouble(f1.re[3]), 9), i1 = round(abs(todouble(f1.im[3])), 9),
                  i2 = round(todouble(f2.im[1]), 9),
                  rt2 = round(todouble(rt.re[2]), 9), rti = round(abs(todouble(rt.im[2])), 9)"""),
      Some("""SELECT CAST(1.0 AS DOUBLE) AS r1, CAST(0.0 AS DOUBLE) AS i1, CAST(-2.0 AS DOUBLE) AS i2, CAST(4.0 AS DOUBLE) AS rt2, CAST(0.0 AS DOUBLE) AS rti""")),

    // token-precedence UA classification (Edge before Chrome before
    // Safari) over three canonical UA strings
    "q127_user_agent" -> Q(kqlQ(
      """print c = parse_user_agent('Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36'),
              e = parse_user_agent('Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.100.0'),
              s = parse_user_agent('Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1')"""),
      Some("""SELECT '{"Browser":{"Family":"Chrome","MajorVersion":"120"},"OperatingSystem":{"Family":"Windows"}}' AS c, '{"Browser":{"Family":"Edge","MajorVersion":"120"},"OperatingSystem":{"Family":"Windows"}}' AS e, '{"Browser":{"Family":"Safari","MajorVersion":"17"},"OperatingSystem":{"Family":"iOS"}}' AS s""")),

    // RFC 4180 CSV line parsing and XML-to-dynamic conversion
    "q126_parse_csv_xml" -> Q(kqlQ(
      """print c = parse_csv('a,"b,c",d,"e""f"'),
              x = parse_xml('<r a="1"><k>v</k><k>w</k><t>hi</t></r>')
        | project c1 = tostring(c[1]), c3 = tostring(c[3]), n = array_length(c), x"""),
      Some("""SELECT 'b,c' AS c1, 'e"f' AS c3, CAST(4 AS BIGINT) AS n, '{"r":{"@a":"1","k":["v","w"],"t":"hi"}}' AS x""")),

    // great-circle line length, spherical polygon area, and the windowed
    // array_index_of form — closed-form equatorial pins
    "q125_geo_measures" -> Q(kqlQ(
      """print ll = round(geo_line_length('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]}') / 1000.0, 1),
              pa = round(geo_polygon_area('{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]]]}') / 10000000000.0, 2),
              a1 = array_index_of(pack_array(5, 7, 5, 7, 5), 7, 2),
              a2 = array_index_of(pack_array(5, 7, 5, 7, 5), 5, 0, -1, 3)"""),
      Some("""SELECT CAST(222.4 AS DOUBLE) AS ll, CAST(1.24 AS DOUBLE) AS pa, CAST(3 AS BIGINT) AS a1, CAST(4 AS BIGINT) AS a2""")),

    // punycode via the JDK IDN codec (raw RFC 3492, no ACE prefix) and
    // the windowed/nth-occurrence indexof form
    "q124_scalar_batch5" -> Q(kqlQ(
      """print enc = punycode_from_string('académie-française'),
              dec = punycode_to_string('acadmie-franaise-npb1a'),
              ascii = punycode_from_string('hello'),
              i1 = indexof('abcabcabc', 'bc', 0, -1, 2),
              i2 = indexof('abcabcabc', 'bc', 2, -1, 1),
              i3 = indexof('abcabcabc', 'bc', 0, 2, 1)"""),
      Some("""SELECT 'acadmie-franaise-npb1a' AS enc, 'académie-française' AS dec, 'hello-' AS ascii, CAST(4 AS BIGINT) AS i1, CAST(4 AS BIGINT) AS i2, CAST(-1 AS BIGINT) AS i3""")),

    // every signup→purchase sequence start per user with a 2d step gap
    // inside a 3d span; greedy-earliest completion per start
    "q123_sequence_detect" -> Q(kqlQ(
      """events
        | evaluate sequence_detect(ts, 2d, 3d, event_type == 'signup', event_type == 'purchase', user_id)
        | summarize n = count(), u = count_distinct(user_id)
        | project n, u"""),
      Some("""WITH s AS (SELECT DISTINCT user_id, ts AS t1 FROM events WHERE event_type = 'signup'), c AS (SELECT s.user_id, s.t1, MIN(e.ts) AS t2 FROM s JOIN events e ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.t1 AND e.ts <= s.t1 + INTERVAL 2 DAY GROUP BY 1, 2) SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u FROM c WHERE epoch_us(t2) - epoch_us(t1) <= 259200000000""")),

    // context rows around matches via two-phase lag/lead (no
    // single-partition window): 1 before, 1 after each URGENT order of
    // one clerk, in orderkey order
    "q121_rows_near" -> Q(kqlQ(
      """orders
        | where o_custkey == toscalar(orders | sort by o_orderkey asc | take 1 | project o_custkey)
        | sort by o_orderkey asc
        | evaluate rows_near(o_orderpriority == '1-URGENT', 1, 1)
        | project o_orderkey
        | sort by o_orderkey asc"""),
      Some("""WITH f AS (SELECT o_orderkey, o_orderpriority, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders WHERE o_custkey = (SELECT o_custkey FROM orders ORDER BY o_orderkey LIMIT 1)) SELECT f.o_orderkey FROM f WHERE EXISTS (SELECT 1 FROM f f2 WHERE f2.o_orderpriority = '1-URGENT' AND f.rn BETWEEN f2.rn - 1 AND f2.rn + 1) ORDER BY 1""")),

    // frequent attribute segments over the cube lattice, ratio threshold
    "q122_basket" -> Q(kqlQ(
      """orders
        | evaluate basket(0.15, o_orderpriority, o_orderstatus)
        | sort by percent desc, o_orderpriority asc nulls first, o_orderstatus asc nulls first"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS count_, ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders), 2) AS percent, o_orderpriority, o_orderstatus FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus) HAVING NOT (GROUPING(o_orderpriority) = 1 AND GROUPING(o_orderstatus) = 1) AND ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders), 2) >= 15.0 ORDER BY percent DESC, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""")),

    // sketch-space set algebra: intersection by inclusion-exclusion over
    // mergeable HLL unions (exact at this cardinality — sketches stay in
    // coupon mode)
    "q120_dcount_intersect" -> Q(kqlQ(
      """customer
        | summarize h1 = hll(iff(c_mktsegment == 'BUILDING', c_nationkey, tolong(''))),
                    h2 = hll(iff(c_mktsegment == 'AUTOMOBILE', c_nationkey, tolong('')))
        | evaluate dcount_intersect(h1, h2)"""),
      Some("""SELECT CAST((SELECT COUNT(DISTINCT c_nationkey) FROM customer WHERE c_mktsegment = 'BUILDING') AS BIGINT) AS s0, CAST((SELECT COUNT(DISTINCT c_nationkey) FROM customer WHERE c_mktsegment = 'BUILDING' AND c_nationkey IN (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')) AS BIGINT) AS s1""")),

    // trailing-window exact percentile per bin (fan-out to covered bins,
    // one percentile hash aggregate)
    "q117_rolling_percentile" -> Q(kqlQ(
      """events
        | evaluate rolling_percentile(value, 50, ts, 1d, 7)
        | sort by ts asc"""),
      Some("""WITH b AS (SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS d, value FROM events) SELECT make_timestamp(b.d + s.g * 86400000000) AS ts, quantile_cont(b.value, 0.5) AS rolling_50_percentile FROM b CROSS JOIN generate_series(0, 6) s(g) GROUP BY 1 ORDER BY 1""")),

    // CIDR-range enrichment join: broadcast dimension, long-range
    // containment arithmetic (no UDF)
    "q118_ipv4_lookup" -> Q(kqlQ(
      """let ranges = datatable(net:string, label:string) [
           '10.0.0.0/8', 'net10', '192.168.0.0/16', 'net192', '8.8.8.0/24', 'dns'];
         datatable(ip:string) ['10.1.2.3', '192.168.5.5', '8.8.8.8', '10.255.0.1']
         | evaluate ipv4_lookup(ranges, ip, net)
         | project ip, label
         | sort by ip asc, label asc"""),
      Some("""SELECT * FROM (VALUES ('10.1.2.3', 'net10'), ('10.255.0.1', 'net10'), ('192.168.5.5', 'net192'), ('8.8.8.8', 'dns')) AS t(ip, label) ORDER BY 1, 2""")),

    // even-odd ray casting over a GeoJSON square: inside, outside, and a
    // concave (L-shaped) polygon notch case
    "q119_point_in_polygon" -> Q(kqlQ(
      """print sq = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}',
              el = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,4.0],[4.0,4.0],[4.0,10.0],[0.0,10.0],[0.0,0.0]]]}'
        | project i1 = geo_point_in_polygon(5.0, 5.0, sq),
                  o1 = geo_point_in_polygon(15.0, 5.0, sq),
                  i2 = geo_point_in_polygon(2.0, 8.0, el),
                  o2 = geo_point_in_polygon(8.0, 8.0, el)"""),
      Some("""SELECT true AS i1, false AS o1, true AS i2, false AS o2""")),

    // Welch t-test p-values (closed-form pins: t=0 → p=1; 10σ apart → ~0)
    // and ACF-autodetected decomposition ≡ the explicit-period one
    "q116_welch_decompose" -> Q(kqlQ(
      """print p1 = round(welch_test(5.0, 1.0, 30, 5.0, 1.0, 30), 6),
              p0 = welch_test(0.0, 1.0, 30, 10.0, 1.0, 30) < 0.000001,
              auto = series_decompose(pack_array(
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0)),
              expl = series_decompose(pack_array(
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0), 4)
        | project p1, p0, same = tostring(auto.baseline) == tostring(expl.baseline)"""),
      Some("""SELECT CAST(1.0 AS DOUBLE) AS p1, true AS p0, true AS same""")),

    // sticky-activity distinct count: ids active in >= 3 distinct days of
    // the trailing week, per day — explode-to-covered-bins, two hash aggs
    "q115_active_users" -> Q(kqlQ(
      """events
        | evaluate active_users_count(user_id, ts, datetime(2024-01-01), datetime(2024-01-31), 7d, 1d, 3, 1d)
        | sort by ts asc"""),
      Some("""WITH grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 DAY)) AS b), pers AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS p FROM events), hit AS (SELECT g.b, pers.user_id FROM grid g JOIN pers ON pers.p <= g.b AND pers.p > g.b - INTERVAL 7 DAY GROUP BY 1, 2 HAVING COUNT(DISTINCT pers.p) >= 3) SELECT g.b AS ts, CAST(COUNT(hit.user_id) AS BIGINT) AS dcount FROM grid g LEFT JOIN hit ON g.b = hit.b GROUP BY 1 ORDER BY 1""")),

    // S2 cells: face tokens + the (0,0) leaf are reference S2 values;
    // the level-11 roundtrip pins the projection + Hilbert decode
    "q114_s2cell" -> Q(kqlQ(
      """print leaf = geo_point_to_s2cell(0.0, 0.0, 30),
              f1 = geo_point_to_s2cell(90.0, 0.0, 0),
              f2 = geo_point_to_s2cell(0.0, 80.0, 0),
              t11 = geo_point_to_s2cell(-122.41, 37.77, 11)
        | extend c = geo_s2cell_to_central_point(t11)
        | project leaf, f1, f2, t11,
                  close = geo_distance_2points(-122.41, 37.77,
                    todouble(c.longitude), todouble(c.latitude)) < 10000.0,
                  stable = geo_point_to_s2cell(todouble(c.longitude),
                    todouble(c.latitude), 11) == t11"""),
      Some("""SELECT '1000000000000001' AS leaf, '3' AS f1, '5' AS f2, '808f7e4' AS t11, true AS close, true AS stable""")),

    "q111_topnested_others" -> Q(kqlQ(
      """orders
        | top-nested 2 of o_orderpriority with others = 'Other' by count()
        | sort by aggregated_o_orderpriority desc, o_orderpriority asc"""),
      Some("""WITH l AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS agg FROM orders GROUP BY 1), top2 AS (SELECT * FROM l QUALIFY ROW_NUMBER() OVER (ORDER BY agg DESC, o_orderpriority) <= 2) SELECT o_orderpriority, agg AS aggregated_o_orderpriority FROM top2 UNION ALL SELECT 'Other', CAST(SUM(agg) AS BIGINT) FROM l WHERE o_orderpriority NOT IN (SELECT o_orderpriority FROM top2) ORDER BY 2 DESC, 1""")),

    // per-bin activity metrics: the cumulative distinct is the running
    // sum of first-appearance counts — no set union, two hash aggregates
    "q112_activity_counts" -> Q(kqlQ(
      """events
        | evaluate activity_counts_metrics(user_id, ts, datetime(2024-01-01), datetime(2024-01-31), 1d)
        | sort by ts asc"""),
      Some("""WITH b AS (SELECT user_id, epoch_us(ts) - (epoch_us(ts) - 1704067200000000) % 86400000000 AS d FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-31'), per AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS count_, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dcount FROM b GROUP BY 1), fi AS (SELECT MIN(d) AS d FROM b GROUP BY user_id), nw AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS new_dcount FROM fi GROUP BY 1) SELECT make_timestamp(per.d) AS ts, count_, dcount, COALESCE(new_dcount, 0) AS new_dcount, CAST(SUM(COALESCE(new_dcount, 0)) OVER (ORDER BY per.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS aggregated_dcount FROM per LEFT JOIN nw USING (d) ORDER BY 1""")),

    // dynamic-bag fit variants, path decomposition, percentile arrays
    "q113_scalar_batch4" -> Q(kqlQ(
      """lineitem
        | summarize pa = percentiles_array(l_extendedprice, 25, 50, 75) by l_returnflag
        | project l_returnflag,
                  p25 = round(todouble(pa[0]), 4), p50 = round(todouble(pa[1]), 4),
                  p75 = round(todouble(pa[2]), 4),
                  fl = series_fit_line_dynamic(pack_array(1.0, 2.0, 3.0, 4.0)),
                  pp = parse_path('/usr/local/data/file.tar.gz')
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50, ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75, '{"slope":1.0,"interception":1.0,"rsquare":1.0}' AS fl, '{"RootPath":"","DirectoryPath":"/usr/local/data","DirectoryName":"data","Filename":"file.tar.gz","Extension":"gz"}' AS pp FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // graph pattern matching as relational algebra: each hop an
    // equi-join on node ids (AQE picks broadcast per hop); the oracle is
    // the same chain as SQL joins
    "q109_graph_match" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | make-graph src --> dst
         | graph-match (c)-[e1]->(n)-[e2]->(r)
           project nid = n.id, rid = r.id
         | summarize n_customers = count() by rid
         | sort by rid asc"""),
      Some("""SELECT 'r' || n_regionkey AS rid, CAST(COUNT(*) AS BIGINT) AS n_customers FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY 1""")),

    // bounded-BFS shortest paths: per-level frontier distinct, min(hops)
    // per (s, t); the source filter pushes through the aggregate into
    // the frontier joins
    "q110_graph_paths" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | make-graph src --> dst
         | graph-shortest-paths (s)-[e*1..3]->(t)
           where s.id == 'c1'
           project tid = t.id, hops = array_length(e)
         | sort by tid asc"""),
      Some("""WITH c1 AS (SELECT c_nationkey FROM customer WHERE c_custkey = 1) SELECT 'n' || c_nationkey AS tid, CAST(1 AS BIGINT) AS hops FROM c1 UNION ALL SELECT 'r' || n_regionkey, CAST(2 AS BIGINT) FROM nation JOIN c1 ON n_nationkey = c1.c_nationkey ORDER BY 1""")),

    // PageRank (r6): damped power iteration over the customer→nation→
    // region edge union, 5 rounds. Every step is integer-micro
    // arithmetic (contribution = rank div outdeg, update = 0.15 +
    // (85·Σ) div 100), so the iterative algorithm is VALUE-EXACT
    // cross-engine — DuckDB replays the 5 unrolled rounds verbatim
    // (the integer-cents convention applied to an iterative op).
    // Label-propagation communities (r7): synchronous min-tie LPA is
    // pure count/string arithmetic, so 3 unrolled rounds replay
    // value-exactly in DuckDB (the pagerank convention). Finds dense
    // communities where components find only reachability.
    "q166_label_propagation" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | evaluate label_propagation(3, src, dst)
         | sort by id asc"""),
      Some("""WITH e0 AS (SELECT DISTINCT src AS a, dst AS b FROM (SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst FROM customer UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation) WHERE src <> dst), sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), nodes AS (SELECT 'c' || c_custkey AS id FROM customer UNION SELECT 'n' || c_nationkey FROM customer UNION SELECT 'n' || n_nationkey FROM nation UNION SELECT 'r' || n_regionkey FROM nation), l0 AS (SELECT id, id AS lbl FROM nodes), w1 AS (SELECT id, lbl FROM (SELECT s.a AS id, p.lbl, COUNT(*) AS c, ROW_NUMBER() OVER (PARTITION BY s.a ORDER BY COUNT(*) DESC, p.lbl) AS rn FROM sym s JOIN l0 p ON s.b = p.id GROUP BY s.a, p.lbl) WHERE rn = 1), l1 AS (SELECT n.id, COALESCE(w.lbl, n.id) AS lbl FROM nodes n LEFT JOIN w1 w ON n.id = w.id), w2 AS (SELECT id, lbl FROM (SELECT s.a AS id, p.lbl, COUNT(*) AS c, ROW_NUMBER() OVER (PARTITION BY s.a ORDER BY COUNT(*) DESC, p.lbl) AS rn FROM sym s JOIN l1 p ON s.b = p.id GROUP BY s.a, p.lbl) WHERE rn = 1), l2 AS (SELECT n.id, COALESCE(w.lbl, n.id) AS lbl FROM nodes n LEFT JOIN w2 w ON n.id = w.id), w3 AS (SELECT id, lbl FROM (SELECT s.a AS id, p.lbl, COUNT(*) AS c, ROW_NUMBER() OVER (PARTITION BY s.a ORDER BY COUNT(*) DESC, p.lbl) AS rn FROM sym s JOIN l2 p ON s.b = p.id GROUP BY s.a, p.lbl) WHERE rn = 1), l3 AS (SELECT n.id, COALESCE(w.lbl, n.id) AS lbl FROM nodes n LEFT JOIN w3 w ON n.id = w.id), sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size FROM l3 GROUP BY 1) SELECT id, lbl AS community, community_size FROM l3 JOIN sz USING (lbl) ORDER BY id""")),

    // Triangle counting (r8): per-node triangle counts via
    // degree-ordered orientation (each undirected edge points from its
    // lower-(degree, id) endpoint, so every triangle materializes
    // exactly once at its minimum-key apex — the O(m^1.5) bound that
    // survives hub skew). The customer→nation→region tree alone has no
    // triangles; adding the skip-level customer→region edge closes one
    // triangle per customer. Pure count/string arithmetic ⇒ VALUE-EXACT
    // cross-engine: the oracle replays the same orientation verbatim.
    "q167_triangle_count" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey)),
           (customer
             | join kind=inner (nation) on $left.c_nationkey == $right.n_nationkey
             | project src = strcat('c', c_custkey), dst = strcat('r', n_regionkey));
         E
         | evaluate triangle_count(src, dst)
         | sort by id asc"""),
      Some("""WITH e AS (SELECT 'c' || c_custkey AS x, 'n' || c_nationkey AS y FROM customer UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation UNION ALL SELECT 'c' || c_custkey, 'r' || n_regionkey FROM customer JOIN nation ON c_nationkey = n_nationkey), nodes AS (SELECT DISTINCT x AS id FROM e UNION SELECT DISTINCT y FROM e), und AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b FROM e WHERE x <> y), deg AS (SELECT id, COUNT(*) AS d FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1), o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b) THEN und.a ELSE und.b END AS u, CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b) THEN und.b ELSE und.a END AS v, CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b) THEN db.d ELSE da.d END AS dv FROM und JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b), tri AS (SELECT l.u, l.v AS v1, r.v AS v2 FROM o l JOIN o r ON l.u = r.u AND (l.dv < r.dv OR (l.dv = r.dv AND l.v < r.v)) JOIN o c ON c.u = l.v AND c.v = r.v), pn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS t FROM (SELECT u AS id FROM tri UNION ALL SELECT v1 FROM tri UNION ALL SELECT v2 FROM tri) GROUP BY 1) SELECT n.id, COALESCE(pn.t, CAST(0 AS BIGINT)) AS triangles FROM nodes n LEFT JOIN pn USING (id) ORDER BY n.id""")),

    // k-core peeling (r8): 3 synchronous rounds of "drop nodes with
    // fewer than 2 surviving neighbors". Suppliers (degree 1 — their
    // nation only) peel in round 1; the customer/nation/region web
    // survives with its post-peel degrees. Pure count arithmetic ⇒
    // VALUE-EXACT: the oracle replays the 3 unrolled rounds verbatim
    // (the pagerank convention).
    "q168_kcore" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey)),
           (supplier | project src = strcat('s', s_suppkey), dst = strcat('n', s_nationkey)),
           (customer
             | join kind=inner (nation) on $left.c_nationkey == $right.n_nationkey
             | project src = strcat('c', c_custkey), dst = strcat('r', n_regionkey));
         E
         | evaluate kcore(2, 3, src, dst)
         | sort by id asc"""),
      Some("""WITH e AS (SELECT 'c' || c_custkey AS x, 'n' || c_nationkey AS y FROM customer UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation UNION ALL SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier UNION ALL SELECT 'c' || c_custkey, 'r' || n_regionkey FROM customer JOIN nation ON c_nationkey = n_nationkey), u0 AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b FROM e WHERE x <> y), d1 AS (SELECT id, COUNT(*) AS d FROM (SELECT a AS id FROM u0 UNION ALL SELECT b FROM u0) GROUP BY 1), k1 AS (SELECT id FROM d1 WHERE d >= 2), u1 AS (SELECT a, b FROM u0 JOIN k1 ka ON ka.id = u0.a JOIN k1 kb ON kb.id = u0.b), d2 AS (SELECT id, COUNT(*) AS d FROM (SELECT a AS id FROM u1 UNION ALL SELECT b FROM u1) GROUP BY 1), k2 AS (SELECT id FROM d2 WHERE d >= 2), u2 AS (SELECT a, b FROM u1 JOIN k2 ka ON ka.id = u1.a JOIN k2 kb ON kb.id = u1.b), d3 AS (SELECT id, COUNT(*) AS d FROM (SELECT a AS id FROM u2 UNION ALL SELECT b FROM u2) GROUP BY 1), k3 AS (SELECT id FROM d3 WHERE d >= 2), u3 AS (SELECT a, b FROM u2 JOIN k3 ka ON ka.id = u2.a JOIN k3 kb ON kb.id = u2.b) SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (SELECT a AS id FROM u3 UNION ALL SELECT b FROM u3) GROUP BY 1 ORDER BY 1""")),

    // graph-mark-components (r8): the ADX operator — label every node
    // of the pending graph with its component id, then expose the node
    // table. Same structural oracle as q157: the customer→nation→region
    // union partitions into exactly one component per region, so DuckDB
    // derives the grouping from each node's region key, min-id
    // representative included — value-exact without recursion.
    "q169_graph_mark_components" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | make-graph src --> dst
         | graph-mark-components with_component_id = comp
         | graph-to-table nodes
         | sort by id asc"""),
      Some("""WITH cn AS (SELECT 'c' || c_custkey AS id, n_regionkey AS rk FROM customer JOIN nation ON c_nationkey = n_nationkey), nn AS (SELECT DISTINCT 'n' || n_nationkey AS id, n_regionkey AS rk FROM nation), rr AS (SELECT DISTINCT 'r' || n_regionkey AS id, n_regionkey AS rk FROM nation), allx AS (SELECT id, rk FROM cn UNION ALL SELECT id, rk FROM nn UNION ALL SELECT id, rk FROM rr), grp AS (SELECT rk, MIN(id) AS comp FROM allx GROUP BY 1) SELECT a.id, g.comp FROM allx a JOIN grp g USING (rk) ORDER BY a.id""")),

    "q156_pagerank" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | evaluate pagerank(5, src, dst)
         | sort by id asc"""),
      Some("""WITH e AS (SELECT DISTINCT src, dst FROM (SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst FROM customer UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation)), nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1), r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes), r1 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(x.s, 0)) // 100 AS BIGINT) AS r FROM nodes n LEFT JOIN (SELECT e.dst AS id, SUM(p.r // od.d) AS s FROM e JOIN r0 p ON e.src = p.id JOIN od ON od.src = e.src GROUP BY 1) x ON n.id = x.id), r2 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(x.s, 0)) // 100 AS BIGINT) AS r FROM nodes n LEFT JOIN (SELECT e.dst AS id, SUM(p.r // od.d) AS s FROM e JOIN r1 p ON e.src = p.id JOIN od ON od.src = e.src GROUP BY 1) x ON n.id = x.id), r3 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(x.s, 0)) // 100 AS BIGINT) AS r FROM nodes n LEFT JOIN (SELECT e.dst AS id, SUM(p.r // od.d) AS s FROM e JOIN r2 p ON e.src = p.id JOIN od ON od.src = e.src GROUP BY 1) x ON n.id = x.id), r4 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(x.s, 0)) // 100 AS BIGINT) AS r FROM nodes n LEFT JOIN (SELECT e.dst AS id, SUM(p.r // od.d) AS s FROM e JOIN r3 p ON e.src = p.id JOIN od ON od.src = e.src GROUP BY 1) x ON n.id = x.id), r5 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(x.s, 0)) // 100 AS BIGINT) AS r FROM nodes n LEFT JOIN (SELECT e.dst AS id, SUM(p.r // od.d) AS s FROM e JOIN r4 p ON e.src = p.id JOIN od ON od.src = e.src GROUP BY 1) x ON n.id = x.id) SELECT id, r AS rank_micros, CAST(r AS DOUBLE) / 1000000.0 AS rank FROM r5 ORDER BY id""")),

    // HITS hubs & authorities (r8): 2 rounds of Kleinberg's mutual
    // reinforcement on the customer→nation→region graph, max-normalized
    // in exact integer micros — the oracle unrolls both rounds (each =
    // authority half-step from hubs, then hub half-step from the NEW
    // authorities) verbatim (the q156_pagerank convention). Customers
    // are pure hubs (no in-edges ⇒ auth 0), regions pure authorities.
    "q170_hits" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | evaluate hits(2, src, dst)
         | sort by id asc"""),
      Some("""WITH e AS (SELECT DISTINCT src, dst FROM (SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst FROM customer UNION ALL SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation)), nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes), ar1 AS (SELECT e.dst AS id, SUM(p.h) AS ar FROM e JOIN h0 p ON e.src = p.id GROUP BY 1), a1 AS (SELECT n.id, CAST((COALESCE(x.ar, 0) * 1000000) // (SELECT MAX(ar) FROM ar1) AS BIGINT) AS a FROM nodes n LEFT JOIN ar1 x ON n.id = x.id), hr1 AS (SELECT e.src AS id, SUM(q.a) AS hr FROM e JOIN a1 q ON e.dst = q.id GROUP BY 1), h1 AS (SELECT n.id, CAST((COALESCE(x.hr, 0) * 1000000) // (SELECT MAX(hr) FROM hr1) AS BIGINT) AS h FROM nodes n LEFT JOIN hr1 x ON n.id = x.id), ar2 AS (SELECT e.dst AS id, SUM(p.h) AS ar FROM e JOIN h1 p ON e.src = p.id GROUP BY 1), a2 AS (SELECT n.id, CAST((COALESCE(x.ar, 0) * 1000000) // (SELECT MAX(ar) FROM ar2) AS BIGINT) AS a FROM nodes n LEFT JOIN ar2 x ON n.id = x.id), hr2 AS (SELECT e.src AS id, SUM(q.a) AS hr FROM e JOIN a2 q ON e.dst = q.id GROUP BY 1), h2 AS (SELECT n.id, CAST((COALESCE(x.hr, 0) * 1000000) // (SELECT MAX(hr) FROM hr2) AS BIGINT) AS h FROM nodes n LEFT JOIN hr2 x ON n.id = x.id) SELECT n.id, h2.h AS hub_micros, a2.a AS auth_micros, CAST(h2.h AS DOUBLE) / 1000000.0 AS hub, CAST(a2.a AS DOUBLE) / 1000000.0 AS auth FROM nodes n JOIN h2 ON n.id = h2.id JOIN a2 ON n.id = a2.id ORDER BY n.id""")),

    // Z-order layout round-trip (r8): documents written z-ordered on
    // (n_chars, knuth-hash dim) and re-read through a two-dimensional
    // filter — the layout must change placement, never content, so the
    // filtered read is value-exact vs DuckDB filtering the original
    // table (the per-file range-narrowing that makes the layout PRUNE
    // on both dims is measured in ZOrderLayoutSpec).
    "tmp_zorder_scan" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
          .withColumn("h", pmod(pmod(col("doc_id") * 2654435761L,
            lit(4294967296L)), lit(1000L)))
          .select("doc_id", "n_chars", "h")
        val path = GraftSession.scratch("zq") + "/t"
        graft.sources.ZOrderLayout.zorderWrite(d, path,
          Seq("n_chars", "h"), bits = 4, files = 8)
        s.read.parquet(path)
          .filter(col("n_chars") > 200 && col("h") < 500)
          .select("doc_id", "n_chars", "h").orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars, CAST((doc_id * 2654435761) % 4294967296 % 1000 AS BIGINT) AS h FROM documents WHERE n_chars > 200 AND (doc_id * 2654435761) % 4294967296 % 1000 < 500 ORDER BY doc_id""")),

    // Hilbert layout round-trip (r11): same contract as tmp_zorder_scan
    // for the locality-tighter curve — placement changes, content never
    // does, so the 2-D filtered read is value-exact vs DuckDB on the
    // original table (adjacency/bijection proven in R11OpsSpec)
    "tmp_hilbert_scan" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
          .withColumn("h", pmod(pmod(col("doc_id") * 2654435761L,
            lit(4294967296L)), lit(1000L)))
          .select("doc_id", "n_chars", "h")
        val path = GraftSession.scratch("hq") + "/t"
        graft.sources.HilbertLayout.hilbertWrite(d, path,
          Seq("n_chars", "h"), bits = 4, files = 8)
        s.read.parquet(path)
          .filter(col("n_chars") > 200 && col("h") < 500)
          .select("doc_id", "n_chars", "h").orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars, CAST((doc_id * 2654435761) % 4294967296 % 1000 AS BIGINT) AS h FROM documents WHERE n_chars > 200 AND (doc_id * 2654435761) % 4294967296 % 1000 < 500 ORDER BY doc_id""")),

    // Weighted shortest paths (r8): 3 Bellman-Ford rounds from region
    // r0 over the region→nation→customer tree with integer weights —
    // the oracle unrolls every round verbatim (the q156_pagerank
    // convention); parallel-edge min and the bounded-hop horizon are
    // spec'd. All arithmetic is integer min/+, value-exact.
    "q171_shortest_paths_weighted" -> Q(kqlQ(
      """let E = union
           (nation | project src = strcat('r', n_regionkey), dst = strcat('n', n_nationkey), w = n_nationkey % 5 + 1),
           (customer | project src = strcat('n', c_nationkey), dst = strcat('c', c_custkey), w = c_custkey % 7 + 1);
         E
         | evaluate shortest_paths_weighted('r0', 3, src, dst, w)
         | sort by id asc"""),
      Some("""WITH e0 AS (SELECT 'r' || n_regionkey AS src, 'n' || n_nationkey AS dst, CAST(n_nationkey % 5 + 1 AS BIGINT) AS w FROM nation UNION ALL SELECT 'n' || c_nationkey, 'c' || c_custkey, CAST(c_custkey % 7 + 1 AS BIGINT) FROM customer), e AS (SELECT src, dst, MIN(w) AS w FROM e0 GROUP BY 1, 2), d0(id, d) AS (VALUES ('r0', CAST(0 AS BIGINT))), d1 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d0 UNION ALL SELECT e.dst, d0.d + e.w FROM e JOIN d0 ON e.src = d0.id) GROUP BY 1), d2 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d1 UNION ALL SELECT e.dst, d1.d + e.w FROM e JOIN d1 ON e.src = d1.id) GROUP BY 1), d3 AS (SELECT id, MIN(d) AS d FROM (SELECT id, d FROM d2 UNION ALL SELECT e.dst, d2.d + e.w FROM e JOIN d2 ON e.src = d2.id) GROUP BY 1) SELECT id, d AS dist FROM d3 ORDER BY id""")),

    // bag_zip (r6): property bag from parallel key/value arrays —
    // result keyed by the KEYS length (missing values null, extras
    // ignored, per the docs); plus column_ifexists plan-time schema
    // probes (resolving and non-resolving) on a real table.
    "q164_bag_zip" -> Q(kqlQ(
      """print z1 = bag_zip(pack_array('a', 'b', 'c'), pack_array(1, 2)),
              z2 = bag_zip(pack_array('x', 'y'), pack_array(10, 20, 30)),
              z3 = bag_zip(pack_array('k'), pack_array('v'))"""),
      Some("""SELECT '{"a":1,"b":2,"c":null}' AS z1, '{"x":10,"y":20}' AS z2, '{"k":"v"}' AS z3""")),

    "q165_column_ifexists" -> Q(kqlQ(
      """documents
        | summarize n = count()
            by l = tostring(column_ifexists('lang', 'xx')),
               m = tostring(column_ifexists('no_such_col', 'fb'))
        | sort by l asc"""),
      Some("""SELECT lang AS l, 'fb' AS m, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2 ORDER BY 1""")),

    // GUID ⇄ base64 (r6): Kusto's .NET mixed-endian Guid byte layout —
    // known-answer from the public docs example, zero-GUID, round-trip,
    // and the invalid-input → null convention.
    "q162_guid_base64" -> Q(kqlQ(
      """print enc = base64_encode_fromguid(toguid('ae3133f2-6e22-49ae-b06a-16e6a9b212eb')),
              dec = base64_decode_toguid('8jMxriJurkmwahbmqbIS6w=='),
              zero = base64_encode_fromguid(toguid('00000000-0000-0000-0000-000000000000')),
              rt = base64_decode_toguid(base64_encode_fromguid(toguid('12345678-9abc-def0-1234-56789abcdef0'))),
              bad = base64_decode_toguid('@@not-base64@@')"""),
      Some("""SELECT '8jMxriJurkmwahbmqbIS6w==' AS enc, 'ae3133f2-6e22-49ae-b06a-16e6a9b212eb' AS dec, 'AAAAAAAAAAAAAAAAAAAAAA==' AS zero, '12345678-9abc-def0-1234-56789abcdef0' AS rt, CAST(NULL AS VARCHAR) AS bad""")),

    // Funnel completion (r6): per (start-day, step) — users whose
    // earliest signup→click→purchase chain reached the step within 7
    // days of the start; zero-filled grid. Earliest-chain semantics
    // documented in TemporalOps.funnelCompletion.
    "q161_funnel_completion" -> Q(kqlQ(
      """events
        | evaluate funnel_sequence_completion(user_id, ts, event_type, 1d, 7d,
            'signup', 'click', 'purchase')
        | sort by period asc, step_idx asc"""),
      Some("""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1), s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id) WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1), s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id) WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1), f AS (SELECT s1.user_id, epoch_us(t1) AS u1, epoch_us(t2) AS u2, epoch_us(t3) AS u3 FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)), b AS (SELECT *, u1 - u1 % 86400000000 AS bin FROM f), grid AS (SELECT d.bin, s.i, s.st FROM (SELECT DISTINCT bin FROM b) d, (VALUES (CAST(0 AS BIGINT), 'signup'), (1, 'click'), (2, 'purchase')) s(i, st)), c1 AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1), c2 AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM b WHERE u2 IS NOT NULL AND u2 - u1 <= 604800000000 GROUP BY 1), c3 AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM b WHERE u3 IS NOT NULL AND u3 - u1 <= 604800000000 GROUP BY 1) SELECT make_timestamp(g.bin) AS period, g.i AS step_idx, g.st AS step, COALESCE(CASE g.i WHEN 0 THEN c1.n WHEN 1 THEN c2.n ELSE c3.n END, 0) AS dcount FROM grid g LEFT JOIN c1 ON g.bin = c1.bin LEFT JOIN c2 ON g.bin = c2.bin LEFT JOIN c3 ON g.bin = c3.bin ORDER BY 1, 2""")),

    // diffpatterns (r6): which sources are over-represented in English
    // vs Spanish documents — the incident-investigation "what changed"
    // plugin on the autocluster cube lattice, share-difference
    // criterion (the documented transparent simplification).
    "q160_diffpatterns" -> Q(kqlQ(
      """documents
        | evaluate diffpatterns(lang, 'en', 'es', 0.5, source)
        | sort by source asc"""),
      Some("""WITH t AS (SELECT source, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca, CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS cb FROM documents GROUP BY 1), tot AS (SELECT CAST(SUM(ca) AS DOUBLE) AS ta, CAST(SUM(cb) AS DOUBLE) AS tb FROM t) SELECT ca AS count_a, cb AS count_b, ROUND(ca * 100 / ta, 2) AS percent_a, ROUND(cb * 100 / tb, 2) AS percent_b, ROUND(ABS(ca * 100 / ta - cb * 100 / tb), 2) AS percent_diff, source FROM t, tot WHERE ROUND(ABS(ca * 100 / ta - cb * 100 / tb), 2) >= 0.5 ORDER BY source""")),

    // diffpatterns_text (r6): tokens over- or under-represented in
    // English vs Spanish documents by document-frequency share — the
    // text sibling of diffpatterns, same transparent criterion.
    "q163_diffpatterns_text" -> Q(kqlQ(
      """documents
        | evaluate diffpatterns_text(text, lang, 'en', 'es', 1.0)
        | sort by token asc"""),
      Some("""WITH r AS (SELECT CASE WHEN lang = 'en' THEN 'a' WHEN lang = 'es' THEN 'b' END AS side, text FROM documents WHERE lang IN ('en', 'es')), tot AS (SELECT CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS DOUBLE) AS ta, CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS DOUBLE) AS tb FROM r), tk AS (SELECT side, unnest(list_distinct(string_split(lower(COALESCE(text, '')), ' '))) AS token FROM r), pt AS (SELECT token, CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS count_a, CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS count_b FROM tk WHERE token <> '' GROUP BY 1) SELECT token, count_a, count_b, ROUND(count_a * 100 / ta, 2) AS percent_a, ROUND(count_b * 100 / tb, 2) AS percent_b, ROUND(ABS(count_a * 100 / ta - count_b * 100 / tb), 2) AS percent_diff FROM pt, tot WHERE ROUND(ABS(count_a * 100 / ta - count_b * 100 / tb), 2) >= 1.0 ORDER BY token""")),

    // Window-over-window retention (r6): the documented
    // activity_metrics plugin — per bin: dcount, new, retained from
    // the previous bin, retention rate in exact integer micros; the
    // first bin's rate is null (no previous window). KQL asc sort is
    // nulls-first on both engines here because only the first bin is
    // null-rated and it sorts first by ts anyway.
    "q159_activity_metrics" -> Q(kqlQ(
      """events
        | evaluate activity_metrics(user_id, ts, 1d)
        | sort by ts asc"""),
      Some("""WITH act AS (SELECT DISTINCT user_id AS id, epoch_us(ts) - epoch_us(ts) % 86400000000 AS b FROM events), per AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS dcount_values FROM act GROUP BY 1), fi AS (SELECT id, MIN(b) AS b FROM act GROUP BY 1), nw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS dcount_new_values FROM fi GROUP BY 1), rt AS (SELECT c.b, CAST(COUNT(*) AS BIGINT) AS retained FROM act p JOIN act c ON p.id = c.id AND p.b + 86400000000 = c.b GROUP BY 1), pv AS (SELECT b + 86400000000 AS b, dcount_values AS prev FROM per) SELECT make_timestamp(per.b) AS ts, dcount_values, COALESCE(dcount_new_values, 0) AS dcount_new_values, CASE WHEN prev IS NOT NULL THEN COALESCE(retained, 0) ELSE NULL END AS dcount_retained_values, CAST((COALESCE(retained, 0) * 1000000) // prev AS BIGINT) AS retention_rate_micros, CAST(CAST((COALESCE(retained, 0) * 1000000) // prev AS BIGINT) AS DOUBLE) / 1000000.0 AS retention_rate FROM per LEFT JOIN nw USING (b) LEFT JOIN rt USING (b) LEFT JOIN pv USING (b) ORDER BY 1""")),

    // Cohort retention (r6): the documented new_activity_metrics
    // plugin — users cohorted by first-seen day; every (cohort,
    // activity-day) pair reports retained/churned counts. Rates in
    // exact integer micros (the pagerank convention — a retained/new
    // ratio of small counts can land on a ROUND half-way boundary).
    "q158_new_activity" -> Q(kqlQ(
      """events
        | evaluate new_activity_metrics(user_id, ts, 1d)
        | sort by from_ts asc, to_ts asc"""),
      Some("""WITH act AS (SELECT DISTINCT user_id AS id, epoch_us(ts) - epoch_us(ts) % 86400000000 AS b FROM events), co AS (SELECT id, MIN(b) AS f FROM act GROUP BY 1), cs AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS dcount_new_values FROM co GROUP BY 1), rt AS (SELECT co.f, act.b, CAST(COUNT(*) AS BIGINT) AS dcount_retained_values FROM co JOIN act USING (id) GROUP BY 1, 2) SELECT make_timestamp(rt.f) AS from_ts, make_timestamp(rt.b) AS to_ts, dcount_new_values, dcount_retained_values, dcount_new_values - dcount_retained_values AS dcount_churn_values, CAST((dcount_retained_values * 1000000) // dcount_new_values AS BIGINT) AS retention_rate_micros, CAST((dcount_retained_values * 1000000) // dcount_new_values AS DOUBLE) / 1000000.0 AS retention_rate FROM rt JOIN cs USING (f) ORDER BY 1, 2""")),

    // Generic connected components (r6): the CC engine exposed as a
    // KQL plugin over any edge frame. The customer→nation→region union
    // partitions into exactly one component per region, so DuckDB
    // derives the same grouping STRUCTURALLY (each node's region key)
    // without recursion — value-exact including min-id representatives
    // and sizes.
    "q157_graph_components" -> Q(kqlQ(
      """let E = union
           (customer | project src = strcat('c', c_custkey), dst = strcat('n', c_nationkey)),
           (nation | project src = strcat('n', n_nationkey), dst = strcat('r', n_regionkey));
         E
         | evaluate connected_components(src, dst)
         | sort by id asc"""),
      Some("""WITH cn AS (SELECT 'c' || c_custkey AS id, n_regionkey AS rk FROM customer JOIN nation ON c_nationkey = n_nationkey), nn AS (SELECT DISTINCT 'n' || n_nationkey AS id, n_regionkey AS rk FROM nation), rr AS (SELECT DISTINCT 'r' || n_regionkey AS id, n_regionkey AS rk FROM nation), allx AS (SELECT id, rk FROM cn UNION ALL SELECT id, rk FROM nn UNION ALL SELECT id, rk FROM rr), grp AS (SELECT rk, MIN(id) AS group_id, CAST(COUNT(*) AS BIGINT) AS group_size FROM allx GROUP BY 1) SELECT a.id, g.group_id, g.group_size FROM allx a JOIN grp g USING (rk) ORDER BY a.id""")),

    // special-math family: Lanczos gamma/loggamma (pure Column
    // arithmetic) + incomplete-beta CDF/inverse; closed-form pins
    "q108_special_math" -> Q(kqlQ(
      """print g5 = round(gamma(5.0), 6), g05 = round(gamma(0.5), 6),
              lg10 = round(loggamma(10.0), 6), gneg = round(gamma(-0.5), 6),
              bp = round(beta_pdf(0.3, 2.0, 3.0), 6),
              bc1 = round(beta_cdf(0.3, 1.0, 2.0), 6),
              bc2 = round(beta_cdf(0.25, 2.0, 1.0), 6),
              bc3 = round(beta_cdf(0.5, 2.0, 2.0), 6),
              bi1 = round(beta_inv(0.25, 2.0, 1.0), 6),
              bi2 = round(beta_inv(0.51, 1.0, 2.0), 6)"""),
      Some("""SELECT CAST(24.0 AS DOUBLE) AS g5, CAST(1.772454 AS DOUBLE) AS g05, CAST(12.801827 AS DOUBLE) AS lg10, CAST(-3.544908 AS DOUBLE) AS gneg, CAST(1.764 AS DOUBLE) AS bp, CAST(0.51 AS DOUBLE) AS bc1, CAST(0.0625 AS DOUBLE) AS bc2, CAST(0.5 AS DOUBLE) AS bc3, CAST(0.5 AS DOUBLE) AS bi1, CAST(0.3 AS DOUBLE) AS bi2""")),

    // weighted nearest-rank percentile: first x whose running weight
    // crosses p% of the total (the oracle states the same definition as
    // window SQL)
    "q104_percentilew" -> Q(kqlQ(
      """lineitem
        | summarize p50w = percentilew(l_quantity, l_linenumber, 50) by l_returnflag
        | sort by l_returnflag asc"""),
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS x, SUM(l_linenumber) OVER (PARTITION BY l_returnflag ORDER BY l_quantity ROWS UNBOUNDED PRECEDING) AS cum, SUM(l_linenumber) OVER (PARTITION BY l_returnflag) AS tot FROM lineitem) SELECT l_returnflag, MIN(x) AS p50w FROM c WHERE cum >= CEIL(0.5 * tot) GROUP BY 1 ORDER BY 1""")),

    // seasonal extraction (explicit + autodetected period), recursive IIR,
    // and decompose-forecast — element pins on closed-form series
    "q105_series_fns3" -> Q(kqlQ(
      """print s = series_seasonal(pack_array(1.0, 2.0, 1.0, 2.0, 1.0, 2.0), 2),
              sa = series_seasonal(pack_array(1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0, 5.0)),
              i = series_iir(pack_array(1.0, 0.0, 0.0, 0.0), pack_array(1.0), pack_array(1.0, -0.5)),
              f = series_decompose_forecast(pack_array(0.0, 1.0, 2.0, 3.0, 4.0, 5.0), 2, 1)
        | project s1 = todouble(s[1]), sa0 = todouble(sa[0]), sa1 = todouble(sa[1]),
                  i2 = todouble(i[2]), i3 = todouble(i[3]),
                  f0 = round(todouble(f[0]), 6), f5 = round(todouble(f[5]), 6)"""),
      Some("""SELECT CAST(2.0 AS DOUBLE) AS s1, CAST(1.0 AS DOUBLE) AS sa0, CAST(5.0 AS DOUBLE) AS sa1, CAST(0.25 AS DOUBLE) AS i2, CAST(0.125 AS DOUBLE) AS i3, CAST(0.0 AS DOUBLE) AS f0, CAST(5.0 AS DOUBLE) AS f5""")),

    // URL query-string bags, IPv6 range membership, term-boundary IPv4
    // text search (the '110.0.0.1' row pins the boundary semantics)
    "q106_text_ip2" -> Q(kqlQ(
      """print pq = parse_urlquery('https://h/p?k1=v1&k2=v%202'),
              r6 = ipv6_is_in_range('2001:db8::5', '2001:db8::/112'),
              r6b = ipv6_is_in_any_range('::ffff:10.0.0.1', '10.0.0.0/8', '2001:db8::/32'),
              r6c = ipv6_is_in_any_range('2002::1', '10.0.0.0/8', '2001:db8::/32'),
              ha = has_any_ipv4('log 10.0.0.1 end', '10.0.0.1', '1.2.3.4'),
              hb = has_any_ipv4('log 110.0.0.1 end', '10.0.0.1'),
              hp = has_ipv4_prefix('conn from 192.168.1.55 ok', '192.168.')"""),
      Some("""SELECT '{"Query Parameters":{"k1":"v1","k2":"v 2"}}' AS pq, true AS r6, true AS r6b, false AS r6c, true AS ha, false AS hb, true AS hp""")),

    // conditional dispersion, covariance, and null-keeping list collection
    // (nwith counts every row because make_list_with_nulls keeps the
    // nulls that make_list would drop)
    "q107_agg_family2" -> Q(kqlQ(
      """lineitem
        | extend q2 = todouble(iff(l_linenumber > 3, tostring(l_quantity), 'x'))
        | summarize sdi = stdevif(l_quantity, l_discount > 0.05),
                    vri = varianceif(l_quantity, l_discount > 0.05),
                    cv = covariance(l_quantity, l_extendedprice),
                    cvp = covariancep(l_quantity, l_extendedprice),
                    lst = make_list_with_nulls(q2),
                    n = count()
          by l_returnflag
        | project l_returnflag, sdi = round(sdi, 4), vri = round(vri, 4),
                  cv = round(cv, 2), cvp = round(cvp, 2),
                  nwith = array_length(lst), n
        | sort by l_returnflag asc"""),
      Some("""SELECT l_returnflag, ROUND(STDDEV_SAMP(CASE WHEN l_discount > 0.05 THEN l_quantity END), 4) AS sdi, ROUND(VAR_SAMP(CASE WHEN l_discount > 0.05 THEN l_quantity END), 4) AS vri, ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cv, ROUND(COVAR_POP(l_quantity, l_extendedprice), 2) AS cvp, CAST(COUNT(*) AS BIGINT) AS nwith, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q91_autocluster" -> Q(kqlQ(
      """orders
        | evaluate autocluster(10.0, o_orderpriority, o_orderstatus)
        | sort by percent desc, o_orderpriority asc nulls first, o_orderstatus asc nulls first"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS count_, ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders), 2) AS percent, o_orderpriority, o_orderstatus FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus) HAVING NOT (GROUPING(o_orderpriority) = 1 AND GROUPING(o_orderstatus) = 1) AND ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders), 2) >= 10.0 ORDER BY percent DESC, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""")),

    // ------------------------------------------------------------- r9

    // Exact heavy hitters via the Misra-Gries candidate pass + exact
    // recount (LlmOps.heavyHitters). The fixture vocabulary (31 tokens)
    // is far below the sketch capacity, so the summary is lossless here
    // and the top-20 is exact BY CONSTRUCTION at every SF; the bounded-
    // memory compaction path (vocab >> m) plus the n/(m+1) error bound
    // are property-proven in SketchSpec on synthetic skewed streams.
    "llm_heavy_hitters" -> Q(
      (s, dir) => LlmOps.heavyHitters(docs(s, dir), m = 1024, k = 20),
      Some("""WITH t AS (SELECT unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents) SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 20""")),

    // Bigram collocation mining by integer lift (PMI-equivalent
    // ranking, corpus-constant factor dropped): value-exact — both
    // engines compute c_xy·10^12 div (c_x·c_y) in pure BIGINT
    "llm_collocations" -> Q(
      (s, dir) => LlmOps.collocations(docs(s, dir), minCount = 5, k = 20),
      Some("""WITH tk AS (SELECT list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1) AS toks FROM documents), uni AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c_w FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1), bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM tk, unnest(generate_series(1, len(toks)-1)) s(i) WHERE len(toks) >= 2) GROUP BY 1,2 HAVING COUNT(*) >= 5) SELECT w1, w2, c_xy, u1.c_w AS c_x, u2.c_w AS c_y, CAST((c_xy * CAST(1000000000000 AS BIGINT)) // (u1.c_w * u2.c_w) AS BIGINT) AS lift_u FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2 ORDER BY lift_u DESC, w1, w2 LIMIT 20""")),

    // Canonical-URL keep-best dedup: synthetic per-doc URLs carry the
    // noise url_normalize must collapse (odd docs get an uppercase
    // scheme + an explicit :443, every doc gets tracking params), the
    // oracle computes the canonical form ARITHMETICALLY — any
    // normalization drift mismatches. Keep = max n_chars, tie min id.
    "llm_dedup_url" -> Q(
      (s, dir) => {
        val d = docs(s, dir).withColumn("url", concat(
          when(pmod(col("doc_id"), lit(2)) === 1, lit("HTTPS://"))
            .otherwise(lit("https://")),
          col("source"), lit(".example.com"),
          when(pmod(col("doc_id"), lit(2)) === 1, lit(":443")).otherwise(lit("")),
          lit("/page/"), pmod(col("doc_id"), lit(10)),
          lit("?utm_source=s"), col("doc_id"), lit("&fbclid=x")))
        LlmOps.dedupByCanonicalUrl(d, "url", "n_chars")
          .orderBy("canonical_url")
      },
      Some("""WITH u AS (SELECT doc_id, n_chars, 'https://' || source || '.example.com/page/' || CAST(doc_id % 10 AS VARCHAR) AS canonical_url FROM documents), r AS (SELECT canonical_url, doc_id, n_chars, CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_dups, ROW_NUMBER() OVER (PARTITION BY canonical_url ORDER BY n_chars DESC, doc_id ASC) AS rn FROM u) SELECT canonical_url, doc_id, n_chars, n_dups FROM r WHERE rn = 1 ORDER BY canonical_url""")),

    // Multinomial naive-Bayes language classifier (add-one smoothing,
    // 80/20 split by doc_id mod 5): every log term micro-rounded per
    // token (the unigram_logprob convention) so per-doc sums are exact
    // integers; argmax tiebreak = smallest class name
    "llm_naive_bayes" -> Q(
      (s, dir) => LlmOps.naiveBayesLangId(docs(s, dir), holdMod = 5)
        .orderBy("doc_id"),
      Some("""WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0), test AS (SELECT * FROM documents WHERE doc_id % 5 = 0), tt AS (SELECT doc_id, lang, unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM train), ct AS (SELECT lang AS cl, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY 1,2), tot AS (SELECT lang AS cl, CAST(COUNT(*) AS BIGINT) AS n_l FROM tt GROUP BY 1), v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vv FROM tt), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM train), pri AS (SELECT lang AS cl, CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE) / n_docs) * 1000000) AS BIGINT) AS prior_u FROM train, nd GROUP BY lang, n_docs), st AS (SELECT doc_id, lang AS true_lang, unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM test), sc AS (SELECT s.doc_id, s.true_lang, l.cl, CAST(SUM(CAST(ROUND(LN((CAST(COALESCE(ct.c, 0) AS DOUBLE) + 1) / (tot.n_l + v.vv)) * 1000000) AS BIGINT)) AS BIGINT) AS ev_u FROM st s CROSS JOIN (SELECT cl FROM tot) l LEFT JOIN ct ON ct.cl = l.cl AND ct.tok = s.tok JOIN tot ON tot.cl = l.cl CROSS JOIN v GROUP BY 1, 2, 3), fin AS (SELECT doc_id, true_lang, cl, ev_u + prior_u AS score_u FROM sc JOIN pri USING (cl)), best AS (SELECT doc_id, true_lang, cl AS pred_lang, score_u, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_u DESC, cl ASC) AS rn FROM fin) SELECT doc_id, true_lang, pred_lang, score_u FROM best WHERE rn = 1 ORDER BY doc_id""")),

    // One-pass per-column profiling plugin (dataset-card stats): min/max
    // on native types then stringified; columns chosen without doubles
    // (double→string shortest-repr is not cross-engine stable)
    "q174_profile" -> Q(kqlQ(
      """lineitem
        | evaluate profile(l_linenumber, l_returnflag, l_shipdate, l_orderkey)
        | sort by column asc"""),
      Some("""WITH p AS (SELECT 'l_orderkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_null, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct, CAST(MIN(l_orderkey) AS VARCHAR) AS min_s, CAST(MAX(l_orderkey) AS VARCHAR) AS max_s FROM lineitem UNION ALL SELECT 'l_linenumber', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(l_linenumber) AS BIGINT), CAST(COUNT(DISTINCT l_linenumber) AS BIGINT), CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR) FROM lineitem UNION ALL SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT), CAST(COUNT(DISTINCT l_returnflag) AS BIGINT), CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR) FROM lineitem UNION ALL SELECT 'l_shipdate', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT), CAST(COUNT(DISTINCT l_shipdate) AS BIGINT), CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR) FROM lineitem) SELECT "column", n, n_null, n_distinct, min_s, max_s FROM p ORDER BY "column" """.trim)),

    // Deterministic salted join (SkewOps.saltedJoin): the hot-key
    // mitigation AQE cannot do — spread each left key over 8 salt
    // shuffle partitions, replicate the dim side 8x. Oracle = the plain
    // join; parity proves salting changes the layout, not the answer.
    "tmp_salted_join" -> Q(
      (s, dir) => {
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_extendedprice"))
        val ord = s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.ext.SkewOps.saltedJoin(li, ord, "l_orderkey", salts = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1""")),

    // Per-doc token entropy + type-token ratio (information-density
    // quality signal); entropy in exact integer micro·count units
    "llm_entropy" -> Q(
      (s, dir) => LlmOps.docEntropy(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents), c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1,2), n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS types FROM c GROUP BY 1) SELECT c.doc_id, n.n AS n_tokens, n.types AS n_types, CAST(SUM(c.c * CAST(ROUND(-LN(CAST(c.c AS DOUBLE)/n.n)*1000000) AS BIGINT)) AS BIGINT) AS token_entropy_u, ROUND(CAST(n.types AS DOUBLE)/n.n, 4) AS ttr FROM c JOIN n ON c.doc_id = n.doc_id GROUP BY c.doc_id, n.n, n.types ORDER BY 1""")),

    // MMR diverse top-k selection (r9): integer-quantized scoring
    // makes every greedy round exact; the oracle unrolls all 6 rounds
    // (the pagerank unrolled-round convention)
    "llm_mmr_select" -> Q(
      (s, dir) => LlmOps.mmrSelect(embs(s, dir), queryId = 0, nCand = 16, k = 6)
        .orderBy("step"),
      Some("""WITH q AS (SELECT list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv FROM embeddings WHERE vec_id = 0), ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS v FROM embeddings WHERE vec_id <> 0), rel AS (SELECT e.vec_id, CAST(SUM(e.v[s.i]*q.qv[s.i]) AS BIGINT) AS rel_u FROM ev e, q, unnest(generate_series(1,64)) s(i) GROUP BY e.vec_id), cand AS (SELECT vec_id, rel_u FROM rel ORDER BY rel_u DESC, vec_id LIMIT 16), cv AS (SELECT c.vec_id, c.rel_u, e.v FROM cand c JOIN ev e USING (vec_id)), sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib, CAST(SUM(a.v[s.i]*b.v[s.i]) AS BIGINT) AS sim_u FROM cv a, cv b, unnest(generate_series(1,64)) s(i) WHERE a.vec_id <> b.vec_id GROUP BY 1,2), p1 AS (SELECT vec_id, rel_u, CAST(7*rel_u AS BIGINT) AS mmr_u, CAST(1 AS BIGINT) AS step FROM cand ORDER BY rel_u DESC, vec_id LIMIT 1), s1 AS (SELECT vec_id FROM p1), p2 AS (SELECT c.vec_id, c.rel_u, CAST(7*c.rel_u - 3*MAX(m.sim_u) AS BIGINT) AS mmr_u, CAST(2 AS BIGINT) AS step FROM cand c JOIN sims m ON m.ia = c.vec_id AND m.ib IN (SELECT vec_id FROM s1) WHERE c.vec_id NOT IN (SELECT vec_id FROM s1) GROUP BY c.vec_id, c.rel_u ORDER BY mmr_u DESC, c.vec_id LIMIT 1), s2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM p2), p3 AS (SELECT c.vec_id, c.rel_u, CAST(7*c.rel_u - 3*MAX(m.sim_u) AS BIGINT) AS mmr_u, CAST(3 AS BIGINT) AS step FROM cand c JOIN sims m ON m.ia = c.vec_id AND m.ib IN (SELECT vec_id FROM s2) WHERE c.vec_id NOT IN (SELECT vec_id FROM s2) GROUP BY c.vec_id, c.rel_u ORDER BY mmr_u DESC, c.vec_id LIMIT 1), s3 AS (SELECT vec_id FROM s2 UNION ALL SELECT vec_id FROM p3), p4 AS (SELECT c.vec_id, c.rel_u, CAST(7*c.rel_u - 3*MAX(m.sim_u) AS BIGINT) AS mmr_u, CAST(4 AS BIGINT) AS step FROM cand c JOIN sims m ON m.ia = c.vec_id AND m.ib IN (SELECT vec_id FROM s3) WHERE c.vec_id NOT IN (SELECT vec_id FROM s3) GROUP BY c.vec_id, c.rel_u ORDER BY mmr_u DESC, c.vec_id LIMIT 1), s4 AS (SELECT vec_id FROM s3 UNION ALL SELECT vec_id FROM p4), p5 AS (SELECT c.vec_id, c.rel_u, CAST(7*c.rel_u - 3*MAX(m.sim_u) AS BIGINT) AS mmr_u, CAST(5 AS BIGINT) AS step FROM cand c JOIN sims m ON m.ia = c.vec_id AND m.ib IN (SELECT vec_id FROM s4) WHERE c.vec_id NOT IN (SELECT vec_id FROM s4) GROUP BY c.vec_id, c.rel_u ORDER BY mmr_u DESC, c.vec_id LIMIT 1), s5 AS (SELECT vec_id FROM s4 UNION ALL SELECT vec_id FROM p5), p6 AS (SELECT c.vec_id, c.rel_u, CAST(7*c.rel_u - 3*MAX(m.sim_u) AS BIGINT) AS mmr_u, CAST(6 AS BIGINT) AS step FROM cand c JOIN sims m ON m.ia = c.vec_id AND m.ib IN (SELECT vec_id FROM s5) WHERE c.vec_id NOT IN (SELECT vec_id FROM s5) GROUP BY c.vec_id, c.rel_u ORDER BY mmr_u DESC, c.vec_id LIMIT 1), s6 AS (SELECT vec_id FROM s5 UNION ALL SELECT vec_id FROM p6) SELECT step, vec_id, rel_u, mmr_u FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6) ORDER BY step""")),

    // series_iir IIR filter (r9): EWMA with dyadic alpha=1/2 (every
    // fold state exactly representable -> known-answer print oracle,
    // the q172 convention) and a first-difference filter
    "q175_series_iir" -> Q(kqlQ(
      """print e = dynamic_to_json(series_iir(pack_array(1, 2, 3, 4, 5, 6, 7, 8), pack_array(0.5), pack_array(1.0, -0.5))),
              d = dynamic_to_json(series_iir(pack_array(5, 3, 8, 2), pack_array(1.0, -1.0), pack_array(1.0)))"""),
      Some("""SELECT '[0.5,1.25,2.125,3.0625,4.03125,5.015625,6.0078125,7.00390625]' AS e, '[5.0,-2.0,5.0,-6.0]' AS d""")),

    // Autocorrelation at lags 1..L in integer micro units (the
    // periodicity probe series_periods_detect maximises, exposed
    // directly): floor-mean centering keeps every step in Long
    // arithmetic -> known-answer print oracle; constant / too-short
    // series null
    "q178_series_acf" -> Q(kqlQ(
      """print a = dynamic_to_json(series_acf(pack_array(1, 3, 1, 3, 1, 3), 3)),
              b = dynamic_to_json(series_acf(pack_array(1, 2, 3, 4, 5), 2)),
              c = dynamic_to_json(series_acf(pack_array(5, 5, 5), 2)),
              d = dynamic_to_json(series_acf(pack_array(7), 2))"""),
      Some("""SELECT '[-833333,666666,-500000]' AS a, '[400000,-100000]' AS b, CAST(NULL AS VARCHAR) AS c, CAST(NULL AS VARCHAR) AS d""")),

    // Scalar batch 8 (r12): hash_sha1 (JDK digest; DuckDB has no sha1,
    // so known-answer literals — the guid_base64 convention) and
    // erf/erfc (incomplete-gamma UDF, nano-rounded against reference
    // values; every pinned value sits ≥ 0.02 from its rounding boundary
    // so a last-ulp wobble cannot flip it)
    "q184_scalar_batch8" -> Q(kqlQ(
      """print h1 = hash_sha1('abc'), h2 = hash_sha1(''),
              e1 = tolong(round(erf(0.5) * 1000000000)),
              e2 = tolong(round(erf(1.0) * 1000000000)),
              e3 = tolong(round(erf(2.0) * 1000000000)),
              e4 = tolong(round(erf(-1.0) * 1000000000)),
              e5 = tolong(round(erfc(1.5) * 1000000000))"""),
      Some("""SELECT 'a9993e364706816aba3e25717850c26c9cd0d89d' AS h1, 'da39a3ee5e6b4b0d3255bfef95601890afd80709' AS h2, CAST(520499878 AS BIGINT) AS e1, CAST(842700793 AS BIGINT) AS e2, CAST(995322265 AS BIGINT) AS e3, CAST(-842700793 AS BIGINT) AS e4, CAST(33894854 AS BIGINT) AS e5""")),

    // ingestion_time() resolves per record over file-backed sources
    // (parquet mtime as the single-writer analog of ADX extent
    // ingestion time): non-null for every row, one distinct value for
    // the single-file fixture
    "q185_ingestion_time" -> Q(kqlQ(
      """orders | extend it = ingestion_time()
         | summarize n = count(), n_with = countif(isnotnull(it)),
                     n_files = count_distinct(it)"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_with, CAST(1 AS BIGINT) AS n_files FROM orders""")),

    // ADX materialized view as a first-class source function (r12):
    // build persists PARTIAL aggregation states (avg = (sum, count),
    // dcount = HLL sketch, arg_max = (ord, val) struct) as of cursor
    // 700, refresh folds the (700, 1100] delta in at the partial level
    // and advances the cursor, and materialized_view('V') reads
    // store ∪ re-aggregated tail — so the oracle's FULL-table GROUP BY
    // matches only if build, refresh-merge, delta-merge and every
    // finalizer are all exact. dcount rides the sketch's exact
    // small-cardinality range (≤3 statuses); arg_max's ord is the
    // unique o_orderkey.
    "q183_matview_fn" -> Q(
      (s, dir) => {
        val cat = graft.kql.Catalog(s, dir)
        graft.sources.MatViewLayout.build(cat.table("orders"),
          "graft_mv_orders", "orders", Seq("o_orderpriority"),
          Seq(graft.sources.MatAgg("count", "", "n"),
            graft.sources.MatAgg("sum", "cents", "rev_c"),
            graft.sources.MatAgg("min", "o_orderdate", "min_d"),
            graft.sources.MatAgg("max", "o_orderdate", "max_d"),
            graft.sources.MatAgg("avg", "cents", "avg_c"),
            graft.sources.MatAgg("dcount", "o_orderstatus", "d_status"),
            graft.sources.MatAgg("arg_max", "o_orderkey|o_orderstatus",
              "latest_status")),
          "o_orderkey", 700L,
          derive = Seq("cents" -> "CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
        graft.sources.MatViewLayout.refresh(s, "graft_mv_orders",
          cat.table(_), 1100L)
        Kql.run(s,
          "materialized_view('graft_mv_orders') | sort by o_orderpriority asc",
          cat)
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c, MIN(o_orderdate) AS min_d, MAX(o_orderdate) AS max_d, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_c, CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS d_status, ARG_MAX(o_orderstatus, o_orderkey) AS latest_status FROM orders GROUP BY 1 ORDER BY 1""")),

    // ADX buildschema aggregate: the minimal schema of a dynamic
    // column unioned across rows — single-typed keys render as the
    // type string, multi-typed keys as the sorted type array
    "q186_buildschema" -> Q(kqlQ(
      """nation | where n_nationkey < 9
         | extend d = case(n_nationkey % 3 == 0, '{"x": 1, "y": "s"}',
                           n_nationkey % 3 == 1, '{"x": 1.5, "z": [1, 2]}',
                           '{"x": true, "w": {"a": 1}}')
         | summarize s = buildschema(d)"""),
      Some("""SELECT '{"w":"object","x":["bool","long","real"],"y":"string","z":"array"}' AS s""")),

    // `set` request-option statements parse and drop (ADX request
    // properties steer service behavior with no local counterpart)
    "q182_set_statements" -> Q(kqlQ(
      """set notruncation; set truncationmaxsize = 1048576;
         nation | summarize n = count()"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation""")),

    // Multi-column mv-expand (ADX lockstep/zip semantics): columns
    // expand by position, the shorter array null-pads to the longest
    "q181_mvexpand_multi" -> Q(kqlQ(
      """nation | where n_nationkey < 3
         | extend xs = pack_array(1, 2, 3), ys = pack_array('a', 'b')
         | mv-expand xs, ys
         | project n_nationkey, xs, ys"""),
      Some("""SELECT n_nationkey, CAST(v.xs AS BIGINT) AS xs, v.ys FROM (SELECT n_nationkey FROM nation WHERE n_nationkey < 3) n, (VALUES (1, 'a'), (2, 'b'), (3, NULL)) v(xs, ys) ORDER BY n_nationkey, xs""")),

    // union isfuzzy=true: the unresolvable leg is skipped (ADX
    // semantics), the resolvable one fully answers — driver-visible
    // proof the flag changes planning, not just parsing
    "q180_union_isfuzzy" -> Q(kqlQ(
      """union isfuzzy=true no_such_table, nation
         | summarize n = count(), s = sum(n_nationkey)"""),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS s FROM nation""")),

    // Cross-covariance at lags -L..L (lead-lag detection): a shift-by-1
    // copy peaks at lag +1; length mismatch nulls; known-answer oracle
    "q179_series_xcorr" -> Q(kqlQ(
      """print a = dynamic_to_json(series_xcorr(pack_array(1, 5, 1, 1), pack_array(1, 1, 5, 1), 2)),
              b = dynamic_to_json(series_xcorr(pack_array(1, 2, 3), pack_array(1, 2), 2))"""),
      Some("""SELECT '[2,-5,-4,11,-6]' AS a, CAST(NULL AS VARCHAR) AS b""")),

    // Dynamic-time-warping distance (alignment-tolerant series
    // similarity): stretch-aligned series score 0 where euclidean
    // would not; known-answer print oracle over integer series (every
    // DP cell exact)
    "q177_series_dtw" -> Q(kqlQ(
      """print d0 = series_dtw(pack_array(1, 2, 3), pack_array(1, 1, 2, 2, 3, 3)),
              d1 = series_dtw(pack_array(0, 0, 0), pack_array(1, 1, 1)),
              d2 = series_dtw(pack_array(1, 5, 1, 1), pack_array(1, 1, 5, 1)),
              d3 = series_dtw(pack_array(1, 2), pack_array(2, 4))"""),
      Some("""SELECT CAST(0 AS DOUBLE) AS d0, CAST(3 AS DOUBLE) AS d1, CAST(0 AS DOUBLE) AS d2, CAST(3 AS DOUBLE) AS d3""")),

    // Streaming cumulative top-k (complete mode, 2 micro-batches):
    // the oracle recomputes over BOTH batches in one pass — equality
    // proves the aggregation state crossed the batch boundary
    "tmp_stream_topk" -> Q(
      (s, dir) => streamTopkQuery(s, dir),
      Some("""WITH t AS (SELECT unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents WHERE doc_id < 40) SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 10""")),

    // SentencePiece unigram-LM Viterbi segmentation (Kudo 2018): the
    // data-derived piece vocabulary, integer-micro log probs, and the
    // per-word DP all replay in DuckDB (12 unrolled position CTEs, the
    // mmr convention; tie = longest last piece) -> value-exact
    "llm_unigram_segment" -> Q(
      (s, dir) => LlmOps.unigramSegment(docs(s, dir))
        .orderBy(col("freq").desc, col("word")),
      Some("""WITH wrd AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (SELECT unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS w FROM documents) GROUP BY 1 HAVING len(w) <= 12), pc AS MATERIALIZED (SELECT substr(w, j, l) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM wrd, unnest(generate_series(1, 4)) s(l), unnest(generate_series(1, len(w) - l + 1)) t(j) WHERE len(w) >= l GROUP BY 1), top AS (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece LIMIT 256), ch AS (SELECT piece, cnt FROM pc WHERE len(piece) = 1), v0 AS (SELECT piece, MAX(cnt) AS cnt FROM (SELECT * FROM top UNION ALL SELECT * FROM ch) GROUP BY 1), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM v0), voc AS MATERIALIZED (SELECT piece, CAST(ROUND(LN(CAST(cnt AS DOUBLE) / t) * 1000000) AS BIGINT) AS lp FROM v0, tot), ed0 AS (SELECT w, freq, CAST(j - 1 AS BIGINT) AS j, CAST(j + l - 1 AS BIGINT) AS i, substr(w, j, l) AS piece FROM wrd, unnest(generate_series(1, 4)) s(l), unnest(generate_series(1, len(w) - l + 1)) t(j) WHERE len(w) >= l), ed AS MATERIALIZED (SELECT ed0.w, ed0.freq, ed0.j, ed0.i, ed0.piece, voc.lp FROM ed0 JOIN voc ON voc.piece = ed0.piece), b0 AS MATERIALIZED (SELECT w, freq, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS s, '' AS pth FROM wrd), b1 AS MATERIALIZED (SELECT * FROM b0 UNION ALL SELECT w, freq, CAST(1 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b0 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 1) WHERE rn = 1), b2 AS MATERIALIZED (SELECT * FROM b1 UNION ALL SELECT w, freq, CAST(2 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b1 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 2) WHERE rn = 1), b3 AS MATERIALIZED (SELECT * FROM b2 UNION ALL SELECT w, freq, CAST(3 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b2 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 3) WHERE rn = 1), b4 AS MATERIALIZED (SELECT * FROM b3 UNION ALL SELECT w, freq, CAST(4 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b3 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 4) WHERE rn = 1), b5 AS MATERIALIZED (SELECT * FROM b4 UNION ALL SELECT w, freq, CAST(5 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b4 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 5) WHERE rn = 1), b6 AS MATERIALIZED (SELECT * FROM b5 UNION ALL SELECT w, freq, CAST(6 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b5 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 6) WHERE rn = 1), b7 AS MATERIALIZED (SELECT * FROM b6 UNION ALL SELECT w, freq, CAST(7 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b6 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 7) WHERE rn = 1), b8 AS MATERIALIZED (SELECT * FROM b7 UNION ALL SELECT w, freq, CAST(8 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b7 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 8) WHERE rn = 1), b9 AS MATERIALIZED (SELECT * FROM b8 UNION ALL SELECT w, freq, CAST(9 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b8 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 9) WHERE rn = 1), b10 AS MATERIALIZED (SELECT * FROM b9 UNION ALL SELECT w, freq, CAST(10 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b9 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 10) WHERE rn = 1), b11 AS MATERIALIZED (SELECT * FROM b10 UNION ALL SELECT w, freq, CAST(11 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b10 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 11) WHERE rn = 1), b12 AS MATERIALIZED (SELECT * FROM b11 UNION ALL SELECT w, freq, CAST(12 AS BIGINT) AS pos, s, pth FROM (SELECT e.w, e.freq, b.s + e.lp AS s, CASE WHEN e.j = 0 THEN e.piece ELSE b.pth || ' ' || e.piece END AS pth, ROW_NUMBER() OVER (PARTITION BY e.w ORDER BY b.s + e.lp DESC, e.j ASC) AS rn FROM ed e JOIN b11 b ON b.w = e.w AND b.pos = e.j WHERE e.i = 12) WHERE rn = 1) SELECT w AS word, freq, pth AS seg, CAST(len(string_split(pth, ' ')) AS BIGINT) AS n_pieces, s AS score_u FROM b12 WHERE pos = len(w) ORDER BY freq DESC, word LIMIT 200""")),

    // robots.txt permission check: one planted policy, agent and path
    // varied arithmetically per doc; the oracle states the expected
    // decision as a pure CASE over (id%3, id%6) — group fallback,
    // longest-rule, Allow-beats-Disallow, and REP's case-SENSITIVE
    // path matching (mixed-case rules hit only same-case paths) are
    // all exercised
    "llm_robots_allow" -> Q(
      (s, dir) => {
        val robots = lit("# crawl policy\nUser-agent: alpha\n" +
          "User-agent: beta\nDisallow: /private\nAllow: /private/open\n" +
          "Disallow: /Docs\n" +
          "User-agent: *\nDisallow: /tmp\nDisallow: /Admin\n")
        val agent = when(pmod(col("doc_id"), lit(3)) === 0, lit("Alpha"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("beta"))
          .otherwise(lit("gamma"))
        val m6 = pmod(col("doc_id"), lit(6))
        val path = when(m6 === 0, lit("/private/open/x"))
          .when(m6 === 1, lit("/private/y"))
          .when(m6 === 2, lit("/tmp/z"))
          .when(m6 === 3, lit("/Docs/q"))
          .when(m6 === 4, lit("/Admin/x"))
          .otherwise(lit("/admin/x"))
        docs(s, dir).select(col("doc_id"), agent.as("agent"),
            path.as("path"),
            graft.kql.Functions.registry("robots_allow")(
              List(robots, agent, path)).as("allowed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'Alpha' WHEN 1 THEN 'beta' ELSE 'gamma' END AS agent, CASE doc_id % 6 WHEN 0 THEN '/private/open/x' WHEN 1 THEN '/private/y' WHEN 2 THEN '/tmp/z' WHEN 3 THEN '/Docs/q' WHEN 4 THEN '/Admin/x' ELSE '/admin/x' END AS path, CASE WHEN doc_id % 3 <= 1 THEN (CASE doc_id % 6 WHEN 1 THEN FALSE WHEN 3 THEN FALSE ELSE TRUE END) ELSE (CASE doc_id % 6 WHEN 2 THEN FALSE WHEN 4 THEN FALSE ELSE TRUE END) END AS allowed FROM documents ORDER BY doc_id""")),

    // Audio energy-envelope fingerprint: 64 gradient-sign bits over a
    // planted 65-byte envelope (md5-ascii bytes); the oracle derives
    // every bit arithmetically, sign bit as two's-complement MinValue
    "llm_audio_dhash" -> Q(
      (s, dir) => {
        val env = concat((0 until 65).map { i =>
          val k = md5(concat(col("doc_id").cast("string"), lit(s"_e$i")))
          lpad(conv(pmod(ascii(substring(k, 1, 1)) * 7 +
            ascii(substring(k, 2, 1)) * 13, lit(256)), 10, 16), 2, "0")
        }: _*)
        // the non-envelope branch must be SHORT: the op hashes the
        // leading 65 bytes of anything long enough (by design — a
        // longer envelope is still an envelope)
        val d = docs(s, dir).withColumn("payload",
          when(pmod(col("doc_id"), lit(4)) === 3, unhex(lit("0001")))
            .otherwise(unhex(env)))
        LlmOps.audioDhash(d, "payload").orderBy("doc_id")
      },
      Some("""WITH e AS (SELECT doc_id, i, (ascii(substr(md5(CAST(doc_id AS VARCHAR) || '_e' || i), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '_e' || i), 2, 1)) * 13) % 256 AS v FROM documents, unnest(generate_series(0, 64)) s(i)), g AS (SELECT a.doc_id, a.i, CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.i = a.i + 1 WHERE a.i <= 63) SELECT doc_id, CASE WHEN doc_id % 4 = 3 THEN NULL ELSE CAST(SUM(CASE WHEN i = 63 THEN bit * (-9223372036854775807 - 1) ELSE bit * (CAST(1 AS BIGINT) << i) END) AS BIGINT) END AS dhash FROM g GROUP BY 1 ORDER BY 1""")),

    // Perceptual image dHash over planted 9x8 grayscale bitmaps:
    // px(r,c) = (d*7 + r*13 + c*31) % 256, except doc_id%5==4 docs copy
    // their predecessor's bitmap with pixel (0,0) bumped — a planted
    // near-duplicate. The oracle computes every gradient bit
    // ARITHMETICALLY (never parsing bytes); bit 63 lands on the sign
    // bit, added as Long.MinValue in both engines (two's complement
    // exact)
    "llm_image_dhash" -> Q(
      (s, dir) => LlmOps.imageDhash(plantedImages(s, dir), "payload")
        .orderBy("doc_id"),
      Some("""WITH px AS (SELECT doc_id, r, c, CASE WHEN doc_id % 5 = 4 AND r = 0 AND c = 0 THEN ((ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 2, 1)) * 13) % 256 + 1) % 256 WHEN doc_id % 5 = 4 THEN (ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 2, 1)) * 13) % 256 ELSE (ascii(substr(md5(CAST(doc_id AS VARCHAR) || '_' || r || '_' || c), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '_' || r || '_' || c), 2, 1)) * 13) % 256 END AS v FROM documents, unnest(generate_series(0, 7)) s(r), unnest(generate_series(0, 8)) t(c)), g AS (SELECT a.doc_id, a.r, a.c, CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1 WHERE a.c <= 7) SELECT doc_id, CAST(SUM(CASE WHEN r = 7 AND c = 7 THEN bit * (-9223372036854775807 - 1) ELSE bit * (CAST(1 AS BIGINT) << (r * 8 + c)) END) AS BIGINT) AS dhash FROM g GROUP BY 1 ORDER BY 1""")),

    // Near-dup image pairs by dHash hamming <= 3 via the 4x16-bit
    // pigeonhole (lossless to hamming 3); the oracle recomputes hashes
    // arithmetically and checks ALL pairs — any candidate the split
    // missed would surface
    "llm_image_neardup" -> Q(
      (s, dir) => LlmOps.imageNearDupPairs(
          LlmOps.imageDhash(plantedImages(s, dir), "payload"))
        .orderBy("id_a", "id_b"),
      Some("""WITH px AS (SELECT doc_id, r, c, CASE WHEN doc_id % 5 = 4 AND r = 0 AND c = 0 THEN ((ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 2, 1)) * 13) % 256 + 1) % 256 WHEN doc_id % 5 = 4 THEN (ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id - 1 AS VARCHAR) || '_' || r || '_' || c), 2, 1)) * 13) % 256 ELSE (ascii(substr(md5(CAST(doc_id AS VARCHAR) || '_' || r || '_' || c), 1, 1)) * 7 + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '_' || r || '_' || c), 2, 1)) * 13) % 256 END AS v FROM documents, unnest(generate_series(0, 7)) s(r), unnest(generate_series(0, 8)) t(c)), g AS (SELECT a.doc_id, a.r, a.c, CASE WHEN a.v < b.v THEN 1 ELSE 0 END AS bit FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1 WHERE a.c <= 7), h AS (SELECT doc_id, CAST(SUM(CASE WHEN r = 7 AND c = 7 THEN bit * (-9223372036854775807 - 1) ELSE bit * (CAST(1 AS BIGINT) << (r * 8 + c)) END) AS BIGINT) AS dh FROM g GROUP BY 1) SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming FROM h a JOIN h b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.dh, b.dh)) <= 3 ORDER BY 1, 2""")),

    // n-gram novelty of the eval fold vs the train fold: fraction of
    // distinct trigrams absent from train, integer micros; the oracle
    // counts RAW gram strings (a Spark-side hash collision would
    // mismatch and be caught)
    "llm_ngram_novelty" -> Q(
      (s, dir) => LlmOps.ngramNovelty(docs(s, dir), n = 3, holdMod = 7)
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1) AS toks FROM documents), eg AS (SELECT DISTINCT doc_id AS eid, array_to_string(toks[i:i+2], ' ') AS gram FROM tk, unnest(generate_series(1, len(toks) - 2)) s(i) WHERE doc_id % 7 = 0 AND len(toks) >= 3), tg AS (SELECT DISTINCT array_to_string(toks[i:i+2], ' ') AS gram FROM tk, unnest(generate_series(1, len(toks) - 2)) s(i) WHERE doc_id % 7 <> 0 AND len(toks) >= 3), tot AS (SELECT eid, CAST(COUNT(*) AS BIGINT) AS n_grams FROM eg GROUP BY 1), kn AS (SELECT eid, CAST(COUNT(*) AS BIGINT) AS n_known FROM eg JOIN tg USING (gram) GROUP BY 1) SELECT tot.eid AS doc_id, tot.n_grams, CAST(tot.n_grams - COALESCE(kn.n_known, 0) AS BIGINT) AS n_novel, CAST(((tot.n_grams - COALESCE(kn.n_known, 0)) * 1000000) // tot.n_grams AS BIGINT) AS novelty_u FROM tot LEFT JOIN kn USING (eid) ORDER BY 1""")),

    // Log2 token-length histogram per source (dataset-card profile):
    // buckets by integer bit length, never floating log -> boundary-
    // exact
    "llm_length_histogram" -> Q(
      (s, dir) => LlmOps.lengthHistogram(docs(s, dir))
        .orderBy("source", "len_bucket"),
      Some("""WITH t AS (SELECT source, CAST(len(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS BIGINT) AS n FROM documents), b AS (SELECT source, n, CASE WHEN n <= 0 THEN CAST(-1 AS BIGINT) ELSE CAST(len(bin(n)) - 1 AS BIGINT) END AS len_bucket FROM t) SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens, CAST(MIN(n) AS BIGINT) AS min_len, CAST(MAX(n) AS BIGINT) AS max_len FROM b GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Embedding-centroid drift per source: integer micro means (div
    // remainder dropped identically), squared distance to the corpus
    // centroid -> value-exact
    // Composed crawl front-end v4: robots gate -> URL canonicalization
    // + keep-best dedup -> politeness frontier scheduling -> per-host
    // accounting; every stage arithmetic-planted so ONE composed SQL
    // replay is value-exact end to end
    "llm_pipeline_v4" -> Q(
      (s, dir) => {
        val did = col("doc_id")
        val hostn = expr("(doc_id div 2) % 50")
        val pid = expr("doc_id div 2")
        val seg = when(pmod(did, lit(7)) === 0, lit("x")).otherwise(lit("y"))
        val path = concat(lit("/d"), seg, lit("/p"), pid)
        val url = concat(lit("HTTP://H"), hostn, lit(".Example"), path,
          lit("?utm_source=t&q="), pmod(pid, lit(3)))
        val policy = lit("User-agent: *\nDisallow: /dx\n")
        val d0 = docs(s, dir)
          .withColumn("host", concat(lit("h"), hostn))
          .withColumn("url", url)
          .withColumn("pth", path)
        val kept = d0.filter(graft.kql.Functions.registry("robots_allow")(
          List(policy, lit("bot"), col("pth"))))
        // the dedup projects down to its output schema — re-derive the
        // host from the surviving ids (same arithmetic)
        val dd = LlmOps.dedupByCanonicalUrl(kept, "url", "n_chars")
          .withColumn("host", concat(lit("h"), expr("(doc_id div 2) % 50")))
        val fs = LlmOps.frontierSchedule(dd, perSlot = 2,
          hostCol = "host", priorityCol = "n_chars")
        fs.groupBy("host")
          .agg(count(lit(1)).as("n_urls"),
            max(col("fetch_slot")).as("max_slot"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("host")
      },
      Some("""WITH b AS (SELECT doc_id, n_chars, (doc_id // 2) % 50 AS hostn, doc_id // 2 AS pid FROM documents WHERE doc_id % 7 <> 0), dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY hostn, pid ORDER BY n_chars DESC, doc_id ASC) AS rn FROM b), fs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY hostn ORDER BY n_chars DESC, doc_id ASC) AS rk FROM dd WHERE rn = 1) SELECT 'h' || CAST(hostn AS VARCHAR) AS host, CAST(COUNT(*) AS BIGINT) AS n_urls, CAST(MAX((rk - 1) // 2) AS BIGINT) AS max_slot, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM fs GROUP BY 1 ORDER BY 1""")),

    // Bucket-PRUNED point lookup: a key-equality read on a bucketed
    // table touches 2 of 8 buckets (SelectedBucketsCount asserted in
    // R11OpsSpec) — the at-rest layout's read-side half, next to the
    // exchange-free join tmp_bucketed_join proves
    "tmp_bucket_pruned_scan" -> Q(
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "source", "n_chars")
        graft.sources.BucketedLayout.writeBucketed(
          d, "graft_bprune_docs", Seq("doc_id"), buckets = 8)
        // autoBucketedScan would un-bucket a plain filter scan and
        // forfeit pruning — pin it off for this read so the row
        // exercises the pruned read path (R11OpsSpec asserts
        // SelectedBucketsCount) and materialize EAGERLY under the pin
        pinned(s, "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
          s => s.table("graft_bprune_docs")
            .filter(col("doc_id").isin(7L, 123L))
            .orderBy("doc_id").localCheckpoint(true)
        }
      },
      Some("""SELECT doc_id, source, n_chars FROM documents WHERE doc_id IN (7, 123) ORDER BY doc_id""")),

    // Unicode-script mix: planted per-script phrases; the oracle
    // recomputes every count with RE2's spelling of the SAME Unicode
    // script classes (\p{Latin} vs Java's \p{IsLatin})
    // Tokenizer vocabulary coverage: per-doc OOV rate vs the corpus
    // top-500 word vocabulary ((count desc, token asc) deterministic
    // cut); integer micros, replayed with the same ROW_NUMBER cut
    "llm_tokenizer_oov" -> Q(
      (s, dir) => LlmOps.tokenizerOov(docs(s, dir), 500)
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(lower(COALESCE(text, '')), ' '), z -> len(z) >= 1)) AS tok FROM documents), v AS (SELECT tok FROM (SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rn FROM tk GROUP BY tok) WHERE rn <= 500) SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS oov_u FROM tk t LEFT JOIN v ON v.tok = t.tok GROUP BY 1 ORDER BY 1""")),

    // Deterministic global training shuffle (r13): md5(seed:id) order
    // key (exact in every engine), two-phase global rank, round-robin
    // shard cut — randomness paid once at prep, sequential reads at
    // train time
    "llm_global_shuffle" -> Q(
      (s, dir) => LlmOps.globalShuffle(docs(s, dir), shards = 8)
        .orderBy("shard", "pos_in_shard"),
      Some("""WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos FROM documents) SELECT doc_id, CAST(pos % 8 AS BIGINT) AS shard, CAST(pos // 8 AS BIGINT) AS pos_in_shard FROM r ORDER BY shard, pos_in_shard""")),

    // Classifier calibration audit (r13): fixed-width reliability bins
    // of (TTR score, length outcome) — per-bin support, positives,
    // mean predicted and observed rate, all integer micros
    "llm_calibration" -> Q(
      (s, dir) => LlmOps.calibrationBins(docs(s, dir)).orderBy("bin"),
      Some("""WITH t AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS d, len(coalesce(text, '')) AS c FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), x -> len(x) >= 1) AS toks FROM documents) WHERE len(toks) >= 1), s AS (SELECT (d * 1000000) // n AS score_u, CASE WHEN c >= 200 THEN 1 ELSE 0 END AS label FROM t), b AS (SELECT least((score_u * 10) // 1000000, 9) AS bin, score_u, label FROM s) SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS positives, CAST(SUM(score_u) // COUNT(*) AS BIGINT) AS mean_score_u, CAST((SUM(label) * 1000000) // COUNT(*) AS BIGINT) AS observed_u FROM b GROUP BY 1 ORDER BY 1""")),

    // ROUGE-1/2 recall (r13): same subsequence cand plant as llm_bleu;
    // the oracle recomputes the multiset gram intersection from its own
    // explode — value-exact integers end-to-end
    "llm_rouge_n" -> Q(
      (s, dir) => {
        val tk = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val d2 = docs(s, dir)
          .withColumn("ref", coalesce(col("text"), lit("")))
          .withColumn("cand", array_join(
            filter(tk, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
        LlmOps.rougeN(d2, "ref", "cand").orderBy("doc_id")
      },
      Some("""WITH base AS (SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '), x -> len(x) >= 1) AS r FROM documents), t AS (SELECT doc_id, r, list_filter(r, (x, i) -> i % 7 != 0) AS c FROM base), r1c AS (SELECT doc_id, g, COUNT(*) AS n FROM (SELECT doc_id, unnest(r) AS g FROM t) GROUP BY 1, 2), c1c AS (SELECT doc_id, g, COUNT(*) AS n FROM (SELECT doc_id, unnest(c) AS g FROM t) GROUP BY 1, 2), m1 AS (SELECT r1c.doc_id, SUM(LEAST(r1c.n, c1c.n)) AS m FROM r1c JOIN c1c ON r1c.doc_id = c1c.doc_id AND r1c.g = c1c.g GROUP BY 1), r2c AS (SELECT doc_id, g, COUNT(*) AS n FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(r) - 1), i -> concat(r[i], chr(31), r[i+1]))) AS g FROM t WHERE len(r) >= 2) GROUP BY 1, 2), c2c AS (SELECT doc_id, g, COUNT(*) AS n FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(c) - 1), i -> concat(c[i], chr(31), c[i+1]))) AS g FROM t WHERE len(c) >= 2) GROUP BY 1, 2), m2 AS (SELECT r2c.doc_id, SUM(LEAST(r2c.n, c2c.n)) AS m FROM r2c JOIN c2c ON r2c.doc_id = c2c.doc_id AND r2c.g = c2c.g GROUP BY 1), ln AS (SELECT doc_id, len(r) AS rl FROM t) SELECT ln.doc_id, CAST(COALESCE(m1.m, 0) AS BIGINT) AS match_1, CAST(rl AS BIGINT) AS ref_1, CAST(CASE WHEN rl > 0 THEN (COALESCE(m1.m, 0) * 1000000) // rl ELSE 0 END AS BIGINT) AS recall_1_u, CAST(COALESCE(m2.m, 0) AS BIGINT) AS match_2, CAST(greatest(rl - 1, 0) AS BIGINT) AS ref_2, CAST(CASE WHEN rl - 1 > 0 THEN (COALESCE(m2.m, 0) * 1000000) // (rl - 1) ELSE 0 END AS BIGINT) AS recall_2_u FROM ln LEFT JOIN m1 ON ln.doc_id = m1.doc_id LEFT JOIN m2 ON ln.doc_id = m2.doc_id ORDER BY ln.doc_id""")),

    // Composed training-run prep pipeline v6 (r13): CCNet per-language
    // quality gate (drop the tail tercile) -> SFT loss-mask geometry
    // (drop <2-token docs) -> deterministic global shuffle of the
    // SURVIVING set into 8 shards. The oracle replays all three stages
    // as chained CTEs — a drift anywhere (tercile cut, mask
    // arithmetic, md5 order) mismatches
    "llm_pipeline_v6" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val kept = LlmOps.ccnetBuckets(d).filter(col("bucket") =!= "tail")
          .select(col("doc_id"), col("lang"), col("bucket"))
        val sft = LlmOps.sftPack(d)
          .select(col("doc_id"), col("loss_start"), col("loss_len"))
        // base feeds BOTH the shard assignment and the final join — the
        // ccnetBuckets lineage (corpus tokenize + tf join + two-phase
        // tercile windows) otherwise computes twice, since the two
        // consumers need different distributions and no exchange is
        // reusable between them (§5 cache the right thing; the r11
        // quiet-roll drift on this row tracked exactly that doubled
        // upstream). Narrow survivors-only rows, freed by the harness
        // sweep.
        val base = LlmOps.persistTracked(kept.join(sft, "doc_id"))
        val shuf = LlmOps.globalShuffle(base, shards = 8)
        base.join(shuf, "doc_id")
          .select(col("doc_id"), col("lang"), col("bucket"),
            col("loss_start"), col("loss_len"), col("shard"),
            col("pos_in_shard"))
          .orderBy("doc_id")
      },
      Some("""WITH terms AS (SELECT doc_id, lang, unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), x -> len(x) >= 1)) AS term FROM documents), tfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1), nx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM terms), sc AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens, CAST(SUM(CAST(ROUND(-LN(tf / n) * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT) AS score_u FROM terms JOIN tfx USING (term), nx GROUP BY 1, 2), rk AS (SELECT doc_id, lang, n_tokens, CASE ((ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_u, doc_id) - 1) * 3) // (COUNT(*) OVER (PARTITION BY lang)) WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket FROM sc), keep AS (SELECT doc_id, lang, bucket, n_tokens FROM rk WHERE bucket != 'tail'), b AS (SELECT doc_id, lang, bucket, CAST(greatest(1, (n_tokens * 330000) // 1000000) + 2 AS BIGINT) AS loss_start, CAST(n_tokens - greatest(1, (n_tokens * 330000) // 1000000) + 1 AS BIGINT) AS loss_len FROM keep WHERE n_tokens >= 2), sh AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos FROM b) SELECT b.doc_id, lang, bucket, loss_start, loss_len, CAST(pos % 8 AS BIGINT) AS shard, CAST(pos // 8 AS BIGINT) AS pos_in_shard FROM b JOIN sh ON b.doc_id = sh.doc_id ORDER BY b.doc_id""")),

    // SFT pair assembly (r13): loss-mask geometry in pure integer
    // arithmetic over token counts — per-row projection, zero shuffle
    "llm_sft_pack" -> Q(
      (s, dir) => LlmOps.sftPack(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), x -> len(x) >= 1)) AS n FROM documents) SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(greatest(1, (n * 330000) // 1000000) AS BIGINT) AS n_prompt, CAST(n - greatest(1, (n * 330000) // 1000000) AS BIGINT) AS n_response, CAST(n + 2 AS BIGINT) AS total_len, CAST(greatest(1, (n * 330000) // 1000000) + 2 AS BIGINT) AS loss_start, CAST(n - greatest(1, (n * 330000) // 1000000) + 1 AS BIGINT) AS loss_len FROM t WHERE n >= 2 ORDER BY doc_id""")),

    // DPO preference pairs (r13): per-prompt (argmax, argmin) of the
    // deterministic type-token-ratio score with id tie-breaks — ONE
    // hash aggregate of packed structs, never a window or self-join
    "llm_dpo_pairs" -> Q(
      (s, dir) => LlmOps.dpoPairs(docs(s, dir), groups = 50)
        .orderBy("prompt_id"),
      Some("""WITH t AS (SELECT doc_id, doc_id % 50 AS prompt_id, len(toks) AS n, len(list_distinct(toks)) AS d FROM (SELECT doc_id, list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), x -> len(x) >= 1) AS toks FROM documents) WHERE len(toks) >= 1), s AS (SELECT doc_id, prompt_id, (d * 1000000) // n AS score FROM t), g AS (SELECT prompt_id, doc_id, score, ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY score DESC, doc_id ASC) AS rb, ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY score ASC, doc_id ASC) AS rw, COUNT(*) OVER (PARTITION BY prompt_id) AS nc FROM s) SELECT b.prompt_id, b.doc_id AS chosen_id, w.doc_id AS rejected_id, CAST(b.score - w.score AS BIGINT) AS margin_u, CAST(b.nc AS BIGINT) AS n_candidates FROM g b JOIN g w ON b.prompt_id = w.prompt_id AND b.rb = 1 AND w.rw = 1 WHERE b.nc >= 2 AND b.score - w.score > 0 ORDER BY b.prompt_id""")),

    // Matryoshka truncation-fidelity audit (r13): per-width prefix
    // energy ‖v[:d]‖/‖v‖ in per-row micros, dims-sized aggregate
    "llm_matryoshka" -> Q(
      (s, dir) => LlmOps.matryoshkaEval(embs(s, dir)).orderBy("dim"),
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv FROM embeddings), f AS (SELECT vec_id, vv, list_sum(list_transform(vv, x -> x * x)) AS fe FROM v), e AS (SELECT vec_id, d.dim AS dim, CAST(ROUND(sqrt(list_sum(list_transform(vv[1:d.dim], x -> x * x)) / fe) * 1000000) AS BIGINT) AS fid FROM f, (VALUES (8), (16), (32), (64)) d(dim) WHERE fe > 0) SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(fid) // COUNT(*) AS BIGINT) AS avg_fid_u, CAST(MIN(fid) AS BIGINT) AS min_fid_u FROM e GROUP BY dim ORDER BY dim""")),

    // Curriculum shards (r13): global two-phase rank by difficulty
    // score, contiguous shard cut by rank arithmetic
    "llm_curriculum" -> Q(
      (s, dir) => LlmOps.curriculumShards(docs(s, dir), shards = 8)
        .orderBy("rank"),
      Some("""WITH t AS (SELECT doc_id, len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), x -> len(x) >= 1)) AS n, len(coalesce(text, '')) AS c FROM documents), s AS (SELECT doc_id, (c * 1000000) // n AS score_u FROM t WHERE n >= 1), r AS (SELECT doc_id, score_u, ROW_NUMBER() OVER (ORDER BY score_u, doc_id) AS rk, COUNT(*) OVER () AS nn FROM s) SELECT doc_id, CAST(score_u AS BIGINT) AS score_u, CAST(rk AS BIGINT) AS rank, CAST(((rk - 1) * 8) // nn AS BIGINT) AS shard FROM r ORDER BY rk""")),

    // CCNet-style per-language LM terciles (r13): unigram neg-logprob
    // micros + two-phase per-language rank -> head/middle/tail
    "llm_ccnet_buckets" -> Q(
      (s, dir) => LlmOps.ccnetBuckets(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH terms AS (SELECT doc_id, lang, unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), x -> len(x) >= 1)) AS term FROM documents), tfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1), nx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM terms), sc AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens, CAST(SUM(CAST(ROUND(-LN(tf / n) * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT) AS score_u FROM terms JOIN tfx USING (term), nx GROUP BY 1, 2), r AS (SELECT doc_id, lang, n_tokens, score_u, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_u, doc_id) AS rk, COUNT(*) OVER (PARTITION BY lang) AS nl FROM sc) SELECT doc_id, lang, n_tokens, score_u, CASE ((rk - 1) * 3) // nl WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket FROM r ORDER BY doc_id""")),

    // Training-pair ASSEMBLY pipeline (r12) — the new ops composed
    // end-to-end: mojibake gate (planted U+FFFD damage on id%5==2 —
    // ASCII fixture, so the replayed score reduces to the repl term;
    // id%7==3 docs plant per-bucket DUPLICATE text so the weight
    // stage is non-vacuous) →
    // soft-dedup weights among survivors → T5 span corruption → only
    // docs that yielded spans ship as (input, target, weight) rows.
    // One composed DuckDB replay: a wrong gate decision, weight, mask
    // bit, or sentinel breaks the hash
    "llm_pipeline_v5" -> Q(
      (s, dir) => {
        val damaged = docs(s, dir).withColumn("t2",
          when(pmod(col("doc_id"), lit(5)) === 2,
            regexp_replace(coalesce(col("text"), lit("")), "o", "\ufffd"))
            .when(pmod(col("doc_id"), lit(7)) === 3,
              concat(lit("shared duplicate corpus block "),
                expr("doc_id div 100").cast("string")))
            .otherwise(coalesce(col("text"), lit(""))))
        val gated = LlmOps.mojibakeDetect(damaged, "t2")
          .filter(col("mojibake_u") < 5000)
          .select(col("doc_id"), col("t2"))
        val weighted = LlmOps.dedupSoft(gated, "t2")
        LlmOps.spanCorrupt(weighted, 8, textCol = "t2")
          .filter(col("n_spans") > 0)
          .select(col("doc_id"), col("weight_u"), col("n_spans"),
            col("input_text"), col("target_text"))
          .orderBy("doc_id")
      },
      Some("""WITH dmg AS (SELECT doc_id, CASE WHEN doc_id % 5 = 2 THEN replace(COALESCE(text, ''), 'o', chr(65533)) WHEN doc_id % 7 = 3 THEN 'shared duplicate corpus block ' || CAST(doc_id // 100 AS BIGINT) ELSE COALESCE(text, '') END AS t FROM documents), sc AS (SELECT doc_id, t, CASE WHEN len(t) > 0 THEN (3 * (len(t) - len(replace(t, chr(65533), '')))) * 1000000 // len(t) ELSE 0 END AS mu FROM dmg), keep AS (SELECT doc_id, t FROM sc WHERE mu < 5000), w AS (SELECT doc_id, t, CAST(1000000 // (COUNT(*) OVER (PARTITION BY lower(trim(t)))) AS BIGINT) AS weight_u FROM keep), tw AS (SELECT doc_id, weight_u, list_filter(string_split(t, ' '), z -> len(z) >= 1) AS tk FROM w), b AS (SELECT doc_id, tk, CAST(ceil(len(tk) / 8.0) AS INT) AS nb FROM tw), blk AS (SELECT doc_id, i, tk[i*8+1 : i*8+8] AS bt, ((doc_id * 31 + i) * 2654435761) % 4294967296 AS h FROM (SELECT doc_id, tk, unnest(generate_series(0, nb - 1)) AS i FROM b WHERE nb > 0)), blk2 AS (SELECT doc_id, i, bt, 1 + (h // 4) % 3 AS sl, (h % 4 = 0) AND (len(bt) >= (1 + (h // 4) % 3) + 2) AS m FROM blk), mk AS (SELECT doc_id, i, sl, bt, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k FROM blk2 WHERE m), pieces AS (SELECT b2.doc_id, b2.i, CASE WHEN mk.k IS NOT NULL THEN array_to_string(b2.bt[1:1], ' ') || ' <extra_id_' || mk.k || '>' || CASE WHEN len(b2.bt) > mk.sl + 1 THEN ' ' || array_to_string(b2.bt[mk.sl+2 : len(b2.bt)], ' ') ELSE '' END ELSE array_to_string(b2.bt, ' ') END AS piece FROM blk2 b2 LEFT JOIN mk ON mk.doc_id = b2.doc_id AND mk.i = b2.i), inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS input_text FROM pieces GROUP BY 1), tgt AS (SELECT doc_id, string_agg('<extra_id_' || k || '> ' || array_to_string(bt[2 : sl+1], ' '), ' ' ORDER BY i) AS tgt_body, COUNT(*) AS n_spans FROM mk GROUP BY 1) SELECT tw.doc_id, tw.weight_u, CAST(tgt.n_spans AS BIGINT) AS n_spans, inp.input_text, tgt.tgt_body || ' <extra_id_' || CAST(tgt.n_spans AS BIGINT) || '>' AS target_text FROM tw JOIN inp USING (doc_id) JOIN tgt USING (doc_id) WHERE tgt.n_spans > 0 ORDER BY doc_id""")),

    // Mojibake / encoding-damage detection: three planted damage
    // classes (double-encoded UTF-8 digraphs on id%5==1, replacement
    // chars on 2, C1 controls on 3), every count recomputed by the
    // oracle with the equivalent RE2 classes over the same planted
    // text — an offset/class/weighting bug mismatches
    "llm_mojibake" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(5))
        val base = coalesce(col("text"), lit(""))
        val t2 = when(m === 1, regexp_replace(
            regexp_replace(base, "a", "Ã¡"), "e", "Ã©"))
          .when(m === 2, regexp_replace(base, "o", "\ufffd"))
          .when(m === 3, regexp_replace(base, "t", "\u0092"))
          .otherwise(base)
        LlmOps.mojibakeDetect(docs(s, dir).withColumn("t2", t2), "t2")
          .select(col("doc_id"), col("n_chars"), col("n_repl"),
            col("n_c1"), col("n_digraph"), col("mojibake_u"),
            col("mojibake_flag"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CASE doc_id % 5 WHEN 1 THEN replace(replace(COALESCE(text, ''), 'a', 'Ã¡'), 'e', 'Ã©') WHEN 2 THEN replace(COALESCE(text, ''), 'o', chr(65533)) WHEN 3 THEN replace(COALESCE(text, ''), 't', chr(146)) ELSE COALESCE(text, '') END AS t FROM documents), c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars, CAST(len(t) - len(replace(t, chr(65533), '')) AS BIGINT) AS n_repl, CAST(len(t) - len(regexp_replace(t, '[\x{0080}-\x{009F}]', '', 'g')) AS BIGINT) AS n_c1, CAST((len(t) - len(regexp_replace(t, '[ÃÂâÊ][\x{0080}-\x{00FF}\x{20AC}\x{2018}\x{2019}\x{201C}\x{201D}\x{2122}]', '', 'g'))) // 2 AS BIGINT) AS n_digraph FROM d) SELECT doc_id, n_chars, n_repl, n_c1, n_digraph, CAST(CASE WHEN n_chars > 0 THEN (3 * n_repl + 2 * n_c1 + 2 * n_digraph) * 1000000 // n_chars ELSE 0 END AS BIGINT) AS mojibake_u, (CASE WHEN n_chars > 0 THEN (3 * n_repl + 2 * n_c1 + 2 * n_digraph) * 1000000 // n_chars ELSE 0 END) >= 5000 AS mojibake_flag FROM c ORDER BY doc_id""")),

    // T5 span corruption: every mask decision is block-local hash
    // arithmetic the oracle replays verbatim (block b of doc id masks
    // iff knuth(id·31+b)%4==0, hides 1+(h div 4)%3 tokens from in-block
    // position 2); sentinel numbering and the terminator are replayed
    // with ROW_NUMBER — any span/sentinel/assembly bug mismatches the
    // full input/target strings
    "llm_span_corruption" -> Q(
      (s, dir) => LlmOps.spanCorrupt(docs(s, dir), 8)
        .select("doc_id", "n_spans", "input_text", "target_text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '), z -> len(z) >= 1) AS tk FROM documents), b AS (SELECT doc_id, tk, CAST(ceil(len(tk) / 8.0) AS INT) AS nb FROM t), blk AS (SELECT doc_id, i, tk[i*8+1 : i*8+8] AS bt, ((doc_id * 31 + i) * 2654435761) % 4294967296 AS h FROM (SELECT doc_id, tk, unnest(generate_series(0, nb - 1)) AS i FROM b WHERE nb > 0)), blk2 AS (SELECT doc_id, i, bt, 1 + (h // 4) % 3 AS sl, (h % 4 = 0) AND (len(bt) >= (1 + (h // 4) % 3) + 2) AS m FROM blk), mk AS (SELECT doc_id, i, sl, bt, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k FROM blk2 WHERE m), pieces AS (SELECT b2.doc_id, b2.i, CASE WHEN mk.k IS NOT NULL THEN array_to_string(b2.bt[1:1], ' ') || ' <extra_id_' || mk.k || '>' || CASE WHEN len(b2.bt) > mk.sl + 1 THEN ' ' || array_to_string(b2.bt[mk.sl+2 : len(b2.bt)], ' ') ELSE '' END ELSE array_to_string(b2.bt, ' ') END AS piece FROM blk2 b2 LEFT JOIN mk ON mk.doc_id = b2.doc_id AND mk.i = b2.i), inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY i) AS input_text FROM pieces GROUP BY 1), tgt AS (SELECT doc_id, string_agg('<extra_id_' || k || '> ' || array_to_string(bt[2 : sl+1], ' '), ' ' ORDER BY i) AS tgt_body, COUNT(*) AS n_spans FROM mk GROUP BY 1) SELECT t.doc_id, CAST(COALESCE(tgt.n_spans, 0) AS BIGINT) AS n_spans, COALESCE(inp.input_text, '') AS input_text, COALESCE(tgt.tgt_body || ' ', '') || '<extra_id_' || CAST(COALESCE(tgt.n_spans, 0) AS BIGINT) || '>' AS target_text FROM t LEFT JOIN inp USING (doc_id) LEFT JOIN tgt USING (doc_id) ORDER BY doc_id""")),

    // BLEU: candidate = the doc with every 7th token dropped; clipped
    // n-gram matches are exact integers the oracle recomputes from its
    // own n-gram explode, and the combined score is the published
    // BP·exp(mean ln pₙ) in integer micros
    "llm_bleu" -> Q(
      (s, dir) => {
        val tk = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val d2 = docs(s, dir)
          .withColumn("ref", coalesce(col("text"), lit("")))
          .withColumn("cand", array_join(
            filter(tk, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
        LlmOps.bleuScore(d2, "ref", "cand")
          .select(col("doc_id"), col("r_len"), col("c_len"),
            col("match_1"), col("total_1"), col("match_2"), col("total_2"),
            col("match_3"), col("total_3"), col("match_4"), col("total_4"),
            col("bleu_u"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '), z -> len(z) >= 1) AS r FROM documents), c AS (SELECT doc_id, r, list_filter(r, (z, i) -> i % 7 != 0) AS cd FROM t), ns AS (SELECT doc_id, r, cd, unnest(generate_series(1, 4)) AS n FROM c), cgr AS (SELECT doc_id, n, array_to_string(cd[i : i+n-1], ' ') AS g FROM (SELECT doc_id, n, cd, unnest(generate_series(1, len(cd) - n + 1)) AS i FROM ns WHERE len(cd) >= n)), rgr AS (SELECT doc_id, n, array_to_string(r[i : i+n-1], ' ') AS g FROM (SELECT doc_id, n, r, unnest(generate_series(1, len(r) - n + 1)) AS i FROM ns WHERE len(r) >= n)), ccnt AS (SELECT doc_id, n, g, COUNT(*) AS cc FROM cgr GROUP BY 1, 2, 3), rcnt AS (SELECT doc_id, n, g, COUNT(*) AS rc FROM rgr GROUP BY 1, 2, 3), mt AS (SELECT cc.doc_id, cc.n, SUM(LEAST(cc.cc, COALESCE(rc.rc, 0))) AS m FROM ccnt cc LEFT JOIN rcnt rc USING (doc_id, n, g) GROUP BY 1, 2), bs AS (SELECT doc_id, CAST(len(r) AS BIGINT) AS r_len, CAST(len(cd) AS BIGINT) AS c_len FROM c), pv AS (SELECT bs.doc_id, bs.r_len, bs.c_len, CAST(COALESCE(MAX(CASE WHEN n = 1 THEN m END), 0) AS BIGINT) AS match_1, CAST(COALESCE(MAX(CASE WHEN n = 2 THEN m END), 0) AS BIGINT) AS match_2, CAST(COALESCE(MAX(CASE WHEN n = 3 THEN m END), 0) AS BIGINT) AS match_3, CAST(COALESCE(MAX(CASE WHEN n = 4 THEN m END), 0) AS BIGINT) AS match_4 FROM bs LEFT JOIN mt ON mt.doc_id = bs.doc_id GROUP BY 1, 2, 3) SELECT doc_id, r_len, c_len, match_1, CAST(GREATEST(c_len - 0, 0) AS BIGINT) AS total_1, match_2, CAST(GREATEST(c_len - 1, 0) AS BIGINT) AS total_2, match_3, CAST(GREATEST(c_len - 2, 0) AS BIGINT) AS total_3, match_4, CAST(GREATEST(c_len - 3, 0) AS BIGINT) AS total_4, CASE WHEN match_1 > 0 AND match_2 > 0 AND match_3 > 0 AND match_4 > 0 THEN CAST(ROUND(LEAST(CAST(1 AS DOUBLE), EXP(CAST(1 AS DOUBLE) - CAST(r_len AS DOUBLE) / c_len)) * EXP((LN(CAST(match_1 AS DOUBLE) / GREATEST(c_len - 0, 0)) + LN(CAST(match_2 AS DOUBLE) / GREATEST(c_len - 1, 0)) + LN(CAST(match_3 AS DOUBLE) / GREATEST(c_len - 2, 0)) + LN(CAST(match_4 AS DOUBLE) / GREATEST(c_len - 3, 0))) / CAST(4 AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bleu_u FROM pv ORDER BY doc_id""")),

    "llm_script_detect" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(6))
        val t2 = when(m === 0, lit("hello world latin only"))
          .when(m === 1, lit("привет мир and latin"))
          .when(m === 2, lit("你好 世界 漢字"))
          .when(m === 3, lit("مرحبا بالعالم"))
          .when(m === 4, lit("한국어 텍스트 안녕"))
          .otherwise(lit("नमस्ते दुनिया"))
        LlmOps.scriptDetect(docs(s, dir).withColumn("t2", t2), "t2")
          .select(col("doc_id"), col("n_arabic"), col("n_cjk"),
            col("n_cyrillic"), col("n_devanagari"), col("n_hangul"),
            col("n_latin"), col("n_letters"), col("dominant_script"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CASE doc_id % 6 WHEN 0 THEN 'hello world latin only' WHEN 1 THEN 'привет мир and latin' WHEN 2 THEN '你好 世界 漢字' WHEN 3 THEN 'مرحبا بالعالم' WHEN 4 THEN '한국어 텍스트 안녕' ELSE 'नमस्ते दुनिया' END AS t FROM documents), c AS (SELECT doc_id, CAST(len(t) - len(regexp_replace(t, '\p{Arabic}', '', 'g')) AS BIGINT) AS n_arabic, CAST(len(t) - len(regexp_replace(t, '[\p{Han}\p{Hiragana}\p{Katakana}]', '', 'g')) AS BIGINT) AS n_cjk, CAST(len(t) - len(regexp_replace(t, '\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic, CAST(len(t) - len(regexp_replace(t, '\p{Devanagari}', '', 'g')) AS BIGINT) AS n_devanagari, CAST(len(t) - len(regexp_replace(t, '\p{Hangul}', '', 'g')) AS BIGINT) AS n_hangul, CAST(len(t) - len(regexp_replace(t, '\p{Latin}', '', 'g')) AS BIGINT) AS n_latin FROM d) SELECT doc_id, n_arabic, n_cjk, n_cyrillic, n_devanagari, n_hangul, n_latin, n_arabic + n_cjk + n_cyrillic + n_devanagari + n_hangul + n_latin AS n_letters, CASE WHEN n_arabic + n_cjk + n_cyrillic + n_devanagari + n_hangul + n_latin = 0 THEN NULL ELSE (SELECT s FROM (VALUES (n_arabic, 'arabic'), (n_cjk, 'cjk'), (n_cyrillic, 'cyrillic'), (n_devanagari, 'devanagari'), (n_hangul, 'hangul'), (n_latin, 'latin')) v(n, s) ORDER BY n DESC, s ASC LIMIT 1) END AS dominant_script FROM c ORDER BY doc_id""")),

    // License detection: SPDX tags win over phrase matches; planted
    // headers per id class, decision = a pure CASE in the oracle
    "llm_license_detect" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(6))
        val t2 = when(m === 0,
            lit("SPDX-License-Identifier: MIT\nGNU General Public License text below"))
          .when(m === 1,
            lit("Permission is hereby granted, free of charge, to any person obtaining a copy"))
          .when(m === 2,
            lit("Licensed under the Apache License, Version 2.0 (the \"License\")"))
          .when(m === 3,
            lit("This program is free software: GNU General Public License v3"))
          .when(m === 4,
            lit("Redistribution and use in source and binary forms, with or without modification"))
          .otherwise(coalesce(col("text"), lit("")))
        LlmOps.licenseDetect(docs(s, dir).withColumn("t2", t2), "t2")
          .select(col("doc_id"), col("license"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE doc_id % 6 WHEN 0 THEN 'mit' WHEN 1 THEN 'mit' WHEN 2 THEN 'apache-2.0' WHEN 3 THEN 'gpl' WHEN 4 THEN 'bsd' ELSE NULL END AS license FROM documents ORDER BY doc_id""")),

    // Per-source dataset card: doc/token counts, mean tokens, vocab,
    // exact-dup docs, language-mix entropy — all integer/micro exact
    "llm_dataset_card" -> Q(
      (s, dir) => LlmOps.datasetCard(docs(s, dir)).orderBy("source"),
      Some("""WITH b AS (SELECT source AS src, lang AS lng, doc_id AS id, lower(trim(COALESCE(text, ''))) AS norm, list_filter(string_split(lower(COALESCE(text, '')), ' '), z -> len(z) >= 1) AS toks FROM documents), tk AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_tokens, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM (SELECT src, unnest(toks) AS tok FROM b) GROUP BY 1), ds AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(COUNT(*) - COUNT(DISTINCT norm) AS BIGINT) AS dup_docs FROM b GROUP BY 1), lm AS (SELECT src, lng, CAST(COUNT(*) AS BIGINT) AS cl FROM b GROUP BY 1, 2), en AS (SELECT lm.src, CAST(SUM(lm.cl * CAST(ROUND(LN(CAST(ds.n_docs AS DOUBLE) / lm.cl) * 1000000) AS BIGINT)) AS BIGINT) AS ent_sum FROM lm JOIN ds ON ds.src = lm.src GROUP BY 1) SELECT ds.src AS source, ds.n_docs, tk.n_tokens, CAST((tk.n_tokens * 1000000) // ds.n_docs AS BIGINT) AS mean_tokens_u, tk.vocab, ds.dup_docs, CAST(en.ent_sum // ds.n_docs AS BIGINT) AS lang_entropy_u FROM ds JOIN tk ON tk.src = ds.src JOIN en ON en.src = ds.src ORDER BY source""")),

    // Crawl-frontier politeness scheduling: per-host (priority desc,
    // id) ranks -> fetch slots of 3; ROW_NUMBER replay is value-exact
    "llm_frontier_schedule" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
          .withColumn("host", concat(lit("h"), pmod(col("doc_id"), lit(50))))
          .withColumn("priority", col("n_chars"))
        LlmOps.frontierSchedule(d, perSlot = 3)
          .select(col("doc_id"), col("host"), col("rank_in_host"),
            col("fetch_slot"))
          .orderBy("doc_id")
      },
      Some("""WITH r AS (SELECT doc_id, 'h' || CAST(doc_id % 50 AS VARCHAR) AS host, ROW_NUMBER() OVER (PARTITION BY doc_id % 50 ORDER BY n_chars DESC, doc_id) AS rk FROM documents) SELECT doc_id, host, CAST(rk AS BIGINT) AS rank_in_host, CAST((rk - 1) // 3 AS BIGINT) AS fetch_slot FROM r ORDER BY doc_id""")),

    // Windowed co-occurrence PMI: top-5 association contexts per word
    // over +/-2 windows; symmetric pair space, marginals from the pair
    // table itself; micro-rounded once per pair -> exact order and cut
    "llm_pmi_contexts" -> Q(
      (s, dir) => LlmOps.pmiContexts(docs(s, dir), window = 2,
          minCount = 2, k = 5)
        .orderBy("target", "rank"),
      Some("""WITH t AS (SELECT list_filter(string_split(lower(COALESCE(text, '')), ' '), z -> len(z) >= 1) AS ts FROM documents), pr AS (SELECT ts[i] AS a, ts[i + o] AS b FROM t, unnest(generate_series(1, 2)) s(o), unnest(generate_series(1, len(ts))) u(i) WHERE len(ts) >= 2 AND i + o <= len(ts)), sym AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr), fl AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM sym GROUP BY 1, 2), marg AS (SELECT a, CAST(SUM(c) AS BIGINT) AS m FROM fl GROUP BY 1), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS mm FROM fl), sc AS (SELECT f.a, f.b, f.c AS c_ab, CAST(ROUND(LN((CAST(f.c AS DOUBLE) * tot.mm) / (CAST(ma.m AS DOUBLE) * mb.m)) * 1000000) AS BIGINT) AS pmi_u FROM fl f JOIN marg ma ON ma.a = f.a JOIN marg mb ON mb.a = f.b, tot WHERE f.c >= 2), r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY pmi_u DESC, b ASC) AS rk FROM sc) SELECT a AS target, CAST(rk AS BIGINT) AS "rank", b AS context, c_ab, pmi_u FROM r WHERE rk <= 5 ORDER BY target, rk""")),

    // Per-doc top-k tf-idf keywords: integer tf x micro-idf scores make
    // the order, ties and the k-cut replay exactly
    "llm_keyword_extract" -> Q(
      (s, dir) => LlmOps.keywordExtract(docs(s, dir), k = 5)
        .orderBy("doc_id", "rank"),
      Some("""WITH t AS (SELECT doc_id AS id, unnest(list_filter(string_split(lower(COALESCE(text, '')), ' '), z -> len(z) >= 1)) AS term FROM documents), tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents), sc AS (SELECT id, term, tf, CAST(tf * CAST(ROUND(LN(CAST(nd.nd AS DOUBLE) / df) * 1000000) AS BIGINT) AS BIGINT) AS score_u FROM tf JOIN dft USING (term), nd), r AS (SELECT id, term, tf, score_u, ROW_NUMBER() OVER (PARTITION BY id ORDER BY score_u DESC, term ASC) AS rk FROM sc) SELECT id AS doc_id, CAST(rk AS BIGINT) AS "rank", term, tf, score_u FROM r WHERE rk <= 5 ORDER BY doc_id, rk""")),

    // Stupid Backoff held-out bigram scoring (Brants 2007): the test
    // fold scores against the train fold's counts; planted zzz<id>
    // tokens on id%10==0 force the unseen-unigram backoff branch so
    // n_backoff is provably non-vacuous
    "llm_stupid_backoff" -> Q(
      (s, dir) => {
        val d = docs(s, dir).withColumn("t2",
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(coalesce(col("text"), lit("")), lit(" zzz"),
              col("doc_id")))
          .otherwise(coalesce(col("text"), lit(""))))
        LlmOps.stupidBackoff(d, holdMod = 5, textCol = "t2")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN COALESCE(text, '') || ' zzz' || CAST(doc_id AS VARCHAR) ELSE COALESCE(text, '') END AS t FROM documents), tr AS (SELECT doc_id, string_split(lower(t), ' ') AS toks FROM d WHERE doc_id % 5 <> 0), te AS (SELECT doc_id, string_split(lower(t), ' ') AS toks FROM d WHERE doc_id % 5 = 0), trt AS (SELECT unnest(list_filter(toks, z -> len(z) >= 1)) AS tok FROM tr), uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM trt GROUP BY 1), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vv FROM trt), tg AS (SELECT toks[i-1] AS prev, toks[i] AS cur FROM (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM tr WHERE len(toks) >= 2)), c2 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c2 FROM tg GROUP BY 1, 2), c1 AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c1 FROM tg GROUP BY 1), eg AS (SELECT doc_id AS id, toks[i-1] AS prev, toks[i] AS cur FROM (SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i FROM te WHERE len(toks) >= 2)), sc AS (SELECT eg.id, CASE WHEN c2.c2 IS NOT NULL THEN CAST(ROUND(-LN(CAST(c2.c2 AS DOUBLE) / c1.c1) * 1000000) AS BIGINT) ELSE CAST(ROUND(-LN((CAST(0.4 AS DOUBLE) * (COALESCE(uni.cu, 0) + 1)) / (tot.nn + tot.vv)) * 1000000) AS BIGINT) END AS nlp_u, CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS bo FROM eg LEFT JOIN c2 ON c2.prev = eg.prev AND c2.cur = eg.cur LEFT JOIN c1 ON c1.prev = eg.prev LEFT JOIN uni ON uni.tok = eg.cur, tot) SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, CAST(SUM(bo) AS BIGINT) AS n_backoff, ROUND(CAST(SUM(nlp_u) AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS mean_neg_logp_sb FROM sc GROUP BY 1 ORDER BY 1""")),

    // At-rest Stupid-Backoff LM index (r13): the trained count model
    // persisted once (c2/c1 bucketed on the scorer's join key), the
    // held-out split scored AGAINST THE TABLES — bit-identical to the
    // direct path, so it shares llm_stupid_backoff's oracle verbatim
    "llm_backoff_indexed" -> Q(
      (s, dir) => {
        val d = docs(s, dir).withColumn("t2",
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(coalesce(col("text"), lit("")), lit(" zzz"),
              col("doc_id")))
          .otherwise(coalesce(col("text"), lit(""))))
        LlmOps.buildLmIndex(d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "graft_lm_idx", textCol = "t2")
        LlmOps.stupidBackoffIndexed(s, "graft_lm_idx",
          d.filter(pmod(col("doc_id"), lit(5)) === 0), textCol = "t2")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN COALESCE(text, '') || ' zzz' || CAST(doc_id AS VARCHAR) ELSE COALESCE(text, '') END AS t FROM documents), tr AS (SELECT doc_id, string_split(lower(t), ' ') AS toks FROM d WHERE doc_id % 5 <> 0), te AS (SELECT doc_id, string_split(lower(t), ' ') AS toks FROM d WHERE doc_id % 5 = 0), trt AS (SELECT unnest(list_filter(toks, z -> len(z) >= 1)) AS tok FROM tr), uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM trt GROUP BY 1), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vv FROM trt), tg AS (SELECT toks[i-1] AS prev, toks[i] AS cur FROM (SELECT toks, unnest(generate_series(2, len(toks))) AS i FROM tr WHERE len(toks) >= 2)), c2 AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c2 FROM tg GROUP BY 1, 2), c1 AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c1 FROM tg GROUP BY 1), eg AS (SELECT doc_id AS id, toks[i-1] AS prev, toks[i] AS cur FROM (SELECT doc_id, toks, unnest(generate_series(2, len(toks))) AS i FROM te WHERE len(toks) >= 2)), sc AS (SELECT eg.id, CASE WHEN c2.c2 IS NOT NULL THEN CAST(ROUND(-LN(CAST(c2.c2 AS DOUBLE) / c1.c1) * 1000000) AS BIGINT) ELSE CAST(ROUND(-LN((CAST(0.4 AS DOUBLE) * (COALESCE(uni.cu, 0) + 1)) / (tot.nn + tot.vv)) * 1000000) AS BIGINT) END AS nlp_u, CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS bo FROM eg LEFT JOIN c2 ON c2.prev = eg.prev AND c2.cur = eg.cur LEFT JOIN c1 ON c1.prev = eg.prev LEFT JOIN uni ON uni.tok = eg.cur, tot) SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, CAST(SUM(bo) AS BIGINT) AS n_backoff, ROUND(CAST(SUM(nlp_u) AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS mean_neg_logp_sb FROM sc GROUP BY 1 ORDER BY 1""")),

    // Code-vs-prose routing gate: planted code docs (id%6==0) score
    // ~10x the natural-text docs; the oracle REBUILDS the same planted
    // text and recomputes every count/ratio in SQL, so the two engines
    // agree on the formula, not just the verdict
    "llm_code_detect" -> Q(
      (s, dir) => {
        val did = col("doc_id")
        val codeTxt = concat(lit("import mod\ndef f_"), did,
          lit("(x):\n  y = (x + "), did,
          lit(");\n  return {x: y};\nclass c_"), did,
          lit(":\n  void = 1;"))
        val d = docs(s, dir).withColumn("t2",
          when(pmod(did, lit(6)) === 0, codeTxt)
            .otherwise(coalesce(col("text"), lit(""))))
        LlmOps.codeDetect(d, "t2")
          .select(col("doc_id"), col("n_sym"), col("n_kw"),
            col("code_score_u"), col("is_code"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN 'import mod' || chr(10) || 'def f_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10) || '  y = (x + ' || CAST(doc_id AS VARCHAR) || ');' || chr(10) || '  return {x: y};' || chr(10) || 'class c_' || CAST(doc_id AS VARCHAR) || ':' || chr(10) || '  void = 1;' ELSE COALESCE(text, '') END AS t FROM documents), m AS (SELECT doc_id, CAST(len(regexp_replace(t, '\s', '', 'g')) AS BIGINT) AS ns, CAST(len(t) - len(regexp_replace(t, '[{};()=\[\]<>]', '', 'g')) AS BIGINT) AS sym, string_split(t, chr(10)) AS lines, list_filter(regexp_split_to_array(lower(t), '\s+'), z -> len(z) >= 1) AS toks FROM d), c AS (SELECT doc_id, ns, sym, CAST(len(lines) AS BIGINT) AS nl, CAST(len(list_filter(lines, l -> l LIKE '  %' OR l LIKE chr(9) || '%')) AS BIGINT) AS ind, CAST(len(list_filter(lines, l -> l LIKE '%;' OR l LIKE '%{' OR l LIKE '%}')) AS BIGINT) AS nsemi, CAST(len(list_filter(toks, z -> z IN ('def', 'return', 'import', 'class', 'const', 'function', 'void', 'public', 'lambda', 'elif'))) AS BIGINT) AS kw FROM m) SELECT doc_id, sym AS n_sym, kw AS n_kw, CAST(2 * ((sym * 1000000) // GREATEST(ns, 1)) + ((ind + nsemi) * 1000000) // GREATEST(nl, 1) + LEAST(kw, 10) * 50000 AS BIGINT) AS code_score_u, (2 * ((sym * 1000000) // GREATEST(ns, 1)) + ((ind + nsemi) * 1000000) // GREATEST(nl, 1) + LEAST(kw, 10) * 50000) >= 300000 AS is_code FROM c ORDER BY doc_id""")),

    // WARC + embedded-HTTP header fields from planted crawl records:
    // every field an arithmetic function of doc_id (status/mime/charset
    // CASEs), request records prove the http gate, lowercase header
    // names prove RFC case-insensitivity, raw text docs null out
    "llm_warc_meta" -> Q(
      (s, dir) => {
        val did = col("doc_id")
        val crlf = "\r\n"
        val uri = concat(lit("http://h"), pmod(did, lit(50)),
          lit(".example/p"), did)
        val wtype = when(pmod(did, lit(7)) === 0, lit("request"))
          .otherwise(lit("response"))
        val status = when(pmod(did, lit(3)) === 0, lit("200"))
          .when(pmod(did, lit(3)) === 1, lit("404")).otherwise(lit("301"))
        val mime = when(pmod(did, lit(2)) === 0, lit("text/html"))
          .otherwise(lit("text/plain"))
        val cs = when(pmod(did, lit(4)) === 0, lit("; charset=UTF-8"))
          .when(pmod(did, lit(4)) === 1, lit("; charset=ISO-8859-1"))
          .otherwise(lit(""))
        val wdate = concat(lit("2024-01-"),
          lpad((pmod(did, lit(28)) + 1).cast("string"), 2, "0"),
          lit("T00:00:00Z"))
        // lowercase names on odd ids: header NAMES are case-insensitive
        val clName = when(pmod(did, lit(2)) === 1, lit("content-length"))
          .otherwise(lit("Content-Length"))
        val inner = when(wtype === "request",
            lit(s"GET / HTTP/1.1${crlf}Host: x$crlf$crlf"))
          .otherwise(concat(lit("HTTP/1.1 "), status, lit(s" OK$crlf"),
            lit("Content-Type: "), mime, cs, lit(s"$crlf$crlf")))
        val rec = concat(
          lit(s"WARC/1.0${crlf}WARC-Type: "), wtype, lit(crlf),
          lit("WARC-Target-URI: "), uri, lit(crlf),
          lit("WARC-Date: "), wdate, lit(crlf),
          clName, lit(": "), col("n_chars").cast("string"), lit(crlf),
          lit(s"Content-Type: application/http$crlf$crlf"),
          inner, coalesce(col("text"), lit("")))
        val d = docs(s, dir).withColumn("rec",
          when(pmod(did, lit(5)) === 4, coalesce(col("text"), lit("")))
            .otherwise(rec))
        LlmOps.warcMeta(d, "rec")
          .select(col("doc_id"), col("warc_version"), col("warc_type"),
            col("target_uri"), col("warc_date"), col("content_length"),
            col("http_status"), col("mime"), col("charset"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE '1.0' END AS warc_version, CASE WHEN doc_id % 5 = 4 THEN NULL WHEN doc_id % 7 = 0 THEN 'request' ELSE 'response' END AS warc_type, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE 'http://h' || CAST(doc_id % 50 AS VARCHAR) || '.example/p' || CAST(doc_id AS VARCHAR) END AS target_uri, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z' END AS warc_date, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE CAST(n_chars AS BIGINT) END AS content_length, CASE WHEN doc_id % 5 = 4 OR doc_id % 7 = 0 THEN NULL ELSE CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404 ELSE 301 END AS INT) END AS http_status, CASE WHEN doc_id % 5 = 4 OR doc_id % 7 = 0 THEN NULL WHEN doc_id % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS mime, CASE WHEN doc_id % 5 = 4 OR doc_id % 7 = 0 THEN NULL WHEN doc_id % 4 = 0 THEN 'UTF-8' WHEN doc_id % 4 = 1 THEN 'ISO-8859-1' ELSE NULL END AS charset FROM documents ORDER BY doc_id""")),

    // AVIF/HEIC dims from the ISO-BMFF ispe box: planted meta->iprp->
    // ipco walks with optional filler boxes at two levels; the oracle
    // derives brand/width/height arithmetically (never parsing), so
    // any size/offset/fullbox-header bug mismatches
    "llm_avif_dims" -> Q(
      (s, dir) => {
        val w = lit(16L) + pmod(col("doc_id"), lit(1200L))
        val h = lit(16L) + pmod(col("doc_id") * 7, lit(900L))
        val f1 = pmod(col("doc_id"), lit(2)) === 0 // meta-level filler
        val f2 = pmod(col("doc_id"), lit(4)) === 1 // ipco-level filler
        val brandHex = when(pmod(col("doc_id"), lit(3)) === 0,
            lit("61766966"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("68656963"))
          .otherwise(lit("6D696631"))
        def szHex(b: org.apache.spark.sql.Column) =
          lpad(conv(b, 10, 16), 8, "0")
        val free8 = "0000000866726565"
        val ispeHex = concat(lit("0000001469737065" + "00000000"),
          lpad(conv(w, 10, 16), 8, "0"), lpad(conv(h, 10, 16), 8, "0"))
        val ipcoB = when(f2, lit(36L)).otherwise(lit(28L))
        val iprpB = ipcoB + 8L
        val metaB = iprpB + when(f1, lit(20L)).otherwise(lit(12L))
        val hexAll = concat(
          lit("0000001066747970"), brandHex, lit("00000000"),
          szHex(metaB), lit("6D65746100000000"),
          when(f1, lit(free8)).otherwise(lit("")),
          szHex(iprpB), lit("69707270"),
          szHex(ipcoB), lit("6970636F"),
          when(f2, lit(free8)).otherwise(lit("")),
          ispeHex)
        val d = docs(s, dir).withColumn("payload",
          when(pmod(col("doc_id"), lit(5)) === 4, unhex(lit("0001")))
            .otherwise(unhex(hexAll)))
        LlmOps.avifDims(d, "payload")
          .select(col("doc_id"), col("brand"), col("width"), col("height"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE CASE doc_id % 3 WHEN 0 THEN 'avif' WHEN 1 THEN 'heic' ELSE 'mif1' END END AS brand, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE CAST(16 + doc_id % 1200 AS INT) END AS width, CASE WHEN doc_id % 5 = 4 THEN NULL ELSE CAST(16 + (doc_id * 7) % 900 AS INT) END AS height FROM documents ORDER BY doc_id""")),

    // Heaps-law vocabulary growth: distinct vocab at power-of-2
    // checkpoints along the deterministic hash shuffle + fitted beta;
    // bit-length buckets and integer-milli ln/slope replay in DuckDB
    "llm_heaps_law" -> Q(
      (s, dir) => LlmOps.heapsLaw(docs(s, dir)),
      Some("""WITH d AS (SELECT doc_id, lower(COALESCE(text, '')) AS t, (doc_id * 2654435761) % 4294967296 AS h FROM documents), rk AS (SELECT doc_id, t, ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rk FROM d), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM rk), tk AS (SELECT rk, unnest(list_distinct(list_filter(string_split(t, ' '), z -> len(z) >= 1))) AS tok FROM rk), fr AS (SELECT tok, CAST(MIN(rk) AS BIGINT) AS r FROM tk GROUP BY 1), bu AS (SELECT CASE WHEN r = 1 THEN 0 ELSE len(bin(r - 1)) END AS j, CAST(COUNT(*) AS BIGINT) AS c FROM fr GROUP BY 1), js AS (SELECT CAST(x.j AS INT) AS j, n.nd FROM n, unnest(generate_series(0, CAST(len(bin(n.nd - 1)) AS BIGINT))) x(j)), cum AS (SELECT js.j, js.nd, CAST(SUM(COALESCE(bu.c, 0)) OVER (ORDER BY js.j) AS BIGINT) AS v FROM js LEFT JOIN bu ON bu.j = js.j), pts AS (SELECT LEAST(CAST(1 AS BIGINT) << j, nd) AS checkpoint, v, CAST(ROUND(LN(CAST(LEAST(CAST(1 AS BIGINT) << j, nd) AS DOUBLE)) * 1000) AS BIGINT) AS x_m, CAST(ROUND(LN(CAST(v AS DOUBLE)) * 1000) AS BIGINT) AS y_m FROM cum WHERE v > 0), st AS (SELECT CAST(COUNT(*) AS BIGINT) AS np, CAST(SUM(x_m) AS BIGINT) AS sx, CAST(SUM(y_m) AS BIGINT) AS sy FROM pts), ctr AS (SELECT x_m - (sx // np) AS dx, y_m - (sy // np) AS dy FROM pts, st), beta AS (SELECT CAST((CAST(SUM(dx * dy) AS BIGINT) * 1000000) // CAST(SUM(dx * dx) AS BIGINT) AS BIGINT) AS beta_u FROM ctr) SELECT checkpoint, v AS vocab, x_m AS ln_n_m, y_m AS ln_v_m, beta.beta_u FROM pts, beta ORDER BY checkpoint""")),

    // EXACT stratified split: per-stratum floor-threshold counts honored
    // exactly (the property global hash thresholds only approximate);
    // rank within stratum by (Knuth hash, id) replays as ROW_NUMBER
    "llm_stratified_split" -> Q(
      (s, dir) => LlmOps.stratifiedSplit(docs(s, dir), 0.8, 0.1, "lang")
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id, lang, (doc_id * 2654435761) % 4294967296 AS h FROM documents), r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk, COUNT(*) OVER (PARTITION BY lang) AS ns FROM b) SELECT doc_id, lang, CASE WHEN rk <= (ns * 800000) // 1000000 THEN 'train' WHEN rk <= (ns * 900000) // 1000000 THEN 'val' ELSE 'test' END AS split FROM r ORDER BY doc_id""")),

    // Per-vector embedding outlier quarantine: distance-to-own-centroid
    // past the per-label nearest-rank Tukey fence, all integer milli
    "llm_embedding_outliers" -> Q(
      (s, dir) => LlmOps.embeddingOutliers(embs(s, dir))
        .orderBy("vec_id"),
      Some("""WITH ex AS (SELECT label AS lbl, vec_id AS vid, i - 1 AS d, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v FROM embeddings, unnest(generate_series(1, 64)) s(i)), cent AS (SELECT lbl, d, CAST(CAST(SUM(v) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_m FROM ex GROUP BY 1, 2), dist AS (SELECT ex.lbl, ex.vid, CAST(SUM((ex.v - cent.mean_m) * (ex.v - cent.mean_m)) AS BIGINT) AS dist_m2 FROM ex JOIN cent USING (lbl, d) GROUP BY 1, 2), rk AS (SELECT lbl, vid, dist_m2, ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY dist_m2, vid) AS r, COUNT(*) OVER (PARTITION BY lbl) AS n FROM dist), qs AS (SELECT lbl, CAST(MIN(CASE WHEN r = CAST(ceil(0.25 * n) AS BIGINT) THEN dist_m2 END) AS BIGINT) AS p25, CAST(MIN(CASE WHEN r = CAST(ceil(0.75 * n) AS BIGINT) THEN dist_m2 END) AS BIGINT) AS p75 FROM rk GROUP BY 1), f AS (SELECT lbl, CAST(p75 + (3 * (p75 - p25)) // 2 AS BIGINT) AS hi_fence FROM qs) SELECT dist.vid AS vec_id, dist.lbl AS label, dist.dist_m2, f.hi_fence, dist.dist_m2 > f.hi_fence AS is_outlier FROM dist JOIN f USING (lbl) ORDER BY vec_id""")),

    // Per-label embedding cluster-quality audit: cohesion (mean squared
    // member->centroid distance), nearest-other-centroid separation and
    // the squared Davies-Bouldin score, all in integer milli-units ->
    // the whole audit replays value-exactly in DuckDB
    "llm_cluster_metrics" -> Q(
      (s, dir) => LlmOps.clusterMetrics(embs(s, dir)).orderBy("label"),
      Some("""WITH ex AS (SELECT label AS lbl, i - 1 AS d, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v FROM embeddings, unnest(generate_series(1, 64)) s(i)), cent AS (SELECT lbl, d, CAST(CAST(SUM(v) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_m, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1, 2), i2 AS (SELECT lbl, CAST(SUM((ex.v - cent.mean_m) * (ex.v - cent.mean_m)) AS BIGINT) AS inertia_m2, CAST(MAX(cent.n) AS BIGINT) AS n_vecs FROM ex JOIN cent USING (lbl, d) GROUP BY 1), i3 AS (SELECT lbl, inertia_m2, n_vecs, CAST(inertia_m2 // n_vecs AS BIGINT) AS mean_sq_m2 FROM i2), sep AS (SELECT a.lbl AS la, b.lbl AS lb, CAST(SUM((a.mean_m - b.mean_m) * (a.mean_m - b.mean_m)) AS BIGINT) AS sep_m2 FROM cent a JOIN cent b ON a.d = b.d AND a.lbl <> b.lbl GROUP BY 1, 2), r AS (SELECT sep.la, sep.lb, sep.sep_m2, CAST(((sa.mean_sq_m2 + sb.mean_sq_m2) * 1000000) // sep.sep_m2 AS BIGINT) AS r_u, ROW_NUMBER() OVER (PARTITION BY sep.la ORDER BY sep.sep_m2 ASC, sep.lb ASC) AS rn FROM sep JOIN i3 sa ON sa.lbl = sep.la JOIN i3 sb ON sb.lbl = sep.lb) SELECT i3.lbl AS label, i3.n_vecs, i3.inertia_m2, i3.mean_sq_m2, near.nearest_lbl, near.nearest_sep_m2, agg.db_sq_u FROM i3 JOIN (SELECT la, lb AS nearest_lbl, sep_m2 AS nearest_sep_m2 FROM r WHERE rn = 1) near ON near.la = i3.lbl JOIN (SELECT la, CAST(MAX(r_u) AS BIGINT) AS db_sq_u FROM r GROUP BY 1) agg ON agg.la = i3.lbl ORDER BY label""")),

    "llm_embedding_drift" -> Q(
      (s, dir) => LlmOps.embeddingDrift(embs(s, dir), docs(s, dir))
        .orderBy("source"),
      Some("""WITH j AS (SELECT d.source AS src, e.embedding FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id), ex AS (SELECT src, i - 1 AS d, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v FROM j, unnest(generate_series(1, 64)) s(i)), per AS (SELECT src, d, CAST(SUM(v) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY 1, 2), pm AS (SELECT src, d, n, CAST((sv * 1000) // n AS BIGINT) AS mean_u FROM per), g AS (SELECT d, CAST((CAST(SUM(v) AS BIGINT) * 1000) // COUNT(*) AS BIGINT) AS gmean_u FROM ex GROUP BY 1) SELECT pm.src AS source, CAST(MAX(pm.n) AS BIGINT) AS n_vecs, CAST(SUM((pm.mean_u - g.gmean_u) * (pm.mean_u - g.gmean_u)) AS BIGINT) AS drift_sq_u FROM pm JOIN g USING (d) GROUP BY 1 ORDER BY 1""")),

    // CDC MERGE apply: updates win, inserts append, tombstones delete
    // (the write-side complement of tmp_table_diff); the oracle states
    // the merged snapshot arithmetically
    "tmp_merge_apply" -> Q(
      (s, dir) => {
        val old = docs(s, dir).select("doc_id", "source", "n_chars")
        val updates = docs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0)
          .select(col("doc_id"), col("source"),
            (col("n_chars") + 1000L).as("n_chars"))
          .withColumn("__del", lit(false))
        val inserts = docs(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("source"),
            col("n_chars"))
          .withColumn("__del", lit(false))
        // tombstones exclude update keys: one verdict per key in the
        // change batch (ambiguous update+delete is the caller's bug)
        val deletes = docs(s, dir)
          .filter(pmod(col("doc_id"), lit(7)) === 3 &&
            pmod(col("doc_id"), lit(4)) =!= 0)
          .select("doc_id", "source", "n_chars")
          .withColumn("__del", lit(true))
        graft.ext.TableOps.mergeUpsert(old,
            updates.unionByName(inserts).unionByName(deletes),
            Seq("doc_id"), deleteCol = Some("__del"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, n_chars FROM (SELECT doc_id, source, CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars FROM documents WHERE doc_id % 7 <> 3 OR doc_id % 4 = 0 UNION ALL SELECT doc_id + 10000, source, n_chars FROM documents WHERE doc_id % 5 = 0) ORDER BY doc_id""")),

    // Multi-source streaming union: two streams feed ONE aggregation
    // across two rounds each; oracle = the single-pass batch recompute
    "tmp_stream_union" -> Q(
      (s, dir) => streamUnionQuery(s, dir),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents FROM events WHERE event_id <= 2000 GROUP BY 1 ORDER BY 1""")),

    // Stream-static enrichment join (broadcast dim into every micro-
    // batch, left-outer so dimension misses stay visible): final table
    // equals the batch left join
    "tmp_stream_enrich" -> Q(
      (s, dir) => streamEnrichQuery(s, dir),
      Some("""SELECT e.event_id, e.user_id, CAST(ROUND(e.value * 100) AS BIGINT) AS cents, CASE WHEN e.user_id % 3 <> 1 AND e.user_id < 10000 THEN 't' || CAST(e.user_id % 4 AS VARCHAR) END AS tier FROM events e WHERE e.event_id <= 2000 ORDER BY e.event_id""")),

    // Native watermarked streaming dedup (dropDuplicatesWithinWatermark):
    // batch-2 duplicates drop on batch-1 state (cross-batch proof) AND
    // batch-3 re-sends emit after the watermark evicted their keys
    // (bounded-state proof); oracle = the arithmetic expected table
    "tmp_stream_dedup_wm" -> Q(
      (s, dir) => streamDedupWmQuery(s, dir),
      Some("""WITH e AS (SELECT event_id AS key, epoch_us(ts) AS ts_us FROM events WHERE event_id <= 2000), h AS (SELECT MAX(key) // 2 AS half FROM e), b1 AS (SELECT key, ts_us, 'b1' AS src FROM e, h WHERE key < h.half), m1 AS (SELECT MAX(ts_us) AS mt FROM b1), b2n AS (SELECT key, ts_us, 'b2n' AS src FROM e, h WHERE key >= h.half), b3 AS (SELECT key, m1.mt + CAST(401 AS BIGINT) * 86400 * 1000000 AS ts_us, 'b3' AS src FROM b1, m1 WHERE key % 5 = 1) SELECT key, src, CAST(ts_us AS BIGINT) AS ts_us FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2n UNION ALL SELECT * FROM b3) ORDER BY key, src""")),

    // Streaming KQL scan (arbitrary per-key state): running cents sums
    // continue across the micro-batch boundary; oracle = the batch
    // window recompute over both batches
    "tmp_stream_scan" -> Q(
      (s, dir) => streamScanQuery(s, dir),
      Some("""SELECT user_id, event_id, CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs FROM (SELECT event_id, user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events WHERE event_id <= 2000) ORDER BY user_id, event_id""")),

    // Composed curation pipeline v3 over the r9/r10 ops: token-entropy
    // quality gate (integer rule 2*types >= n) -> exact substring dedup
    // -> alpha-temperature source mixing -> per-source accounting.
    // Every stage is value-exact, so the WHOLE chain hash-matches the
    // composed DuckDB replay — the "a user can run their pipeline"
    // proof for the new operators.
    "llm_pipeline_v3" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val q = LlmOps.docEntropy(d)
          .filter(col("n_types") * 2 >= col("n_tokens"))
          .select(col("doc_id"))
        val kept = d.join(q, Seq("doc_id"))
        val dd = LlmOps.dedupSubstringRemove(kept, spanLen = 8)
        // withSrc feeds temperatureMix (which reads it TWICE — the
        // source-count aggregate and the rate filter) plus the a2
        // aggregate below: without a persist the span-dedup lineage
        // recomputes three times (§5 cache the right thing). Projected
        // to the three consumed columns first so the persisted blocks
        // carry no cleaned text.
        val withSrc = LlmOps.persistTracked(
          dd.select(col("doc_id"), col("n_removed"))
            .join(d.select(col("doc_id"), col("source")), Seq("doc_id")))
        val mixed = LlmOps.temperatureMix(withSrc, 0.3, 0.5)
        val a1 = d.groupBy("source").agg(count(lit(1)).as("n_in"))
        val a2 = withSrc.groupBy("source").agg(
          count(lit(1)).as("n_quality"), sum("n_removed").as("removed_q"))
        val a3 = mixed.groupBy("source").agg(count(lit(1)).as("n_final"))
        a1.join(a2, Seq("source"), "left_outer")
          .join(a3, Seq("source"), "left_outer")
          .select(col("source"), col("n_in"),
            coalesce(col("n_quality"), lit(0L)).as("n_quality"),
            coalesce(col("removed_q"), lit(0L)).as("removed_q"),
            coalesce(col("n_final"), lit(0L)).as("n_final"))
          .orderBy("source")
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents), tq AS (SELECT doc_id FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(DISTINCT tok) AS BIGINT) AS types FROM tk GROUP BY 1) WHERE types * 2 >= n), b2 AS (SELECT d.doc_id, list_filter(string_split(COALESCE(d.text,''),' '), x->len(x)>=1) AS toks, CAST(len(list_filter(string_split(COALESCE(d.text,''),' '), x->len(x)>=1)) AS BIGINT) AS n FROM documents d JOIN tq USING (doc_id)), w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS h FROM b2, unnest(generate_series(1, CAST(n AS INTEGER) - 7)) s(i) WHERE n >= 8), own AS (SELECT h, MIN(doc_id * 1000000 + pos) AS o, COUNT(*) AS cnt FROM w GROUP BY 1), dup AS (SELECT w.doc_id, w.pos FROM w JOIN own ON w.h = own.h WHERE own.cnt > 1 AND w.doc_id * 1000000 + w.pos <> own.o), cov AS (SELECT DISTINCT doc_id, t FROM dup, unnest(generate_series(pos, pos + 7)) s(t)), tokpos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS t FROM b2, unnest(generate_series(1, CAST(n AS INTEGER))) s(i) WHERE n >= 1), keptt AS (SELECT tp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.t = tp.t WHERE cov.doc_id IS NULL GROUP BY 1), ws AS (SELECT b2.doc_id, d.source, b2.n - COALESCE(k.n_kept, 0) AS n_removed FROM b2 LEFT JOIN keptt k USING (doc_id) JOIN documents d ON d.doc_id = b2.doc_id), c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM ws GROUP BY 1), wgt AS (SELECT source, n_s, CAST(ROUND(EXP(CAST(0.3 AS DOUBLE) * LN(CAST(n_s AS DOUBLE))) * 1000000) AS BIGINT) AS w_u FROM c), tt AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total, CAST(SUM(w_u) AS BIGINT) AS w_total FROM wgt), r AS (SELECT source, CAST(LEAST(1000000, ((w_u * 1000000) // w_total) * CAST(ROUND(n_total * CAST(0.5 AS DOUBLE)) AS BIGINT) // n_s) AS BIGINT) AS rate_u FROM wgt, tt), mix AS (SELECT ws.doc_id, ws.source FROM ws JOIN r USING (source) WHERE (ws.doc_id * 2654435761) % 4294967296 < (r.rate_u * 4294967296) // 1000000), a1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in FROM documents GROUP BY 1), a2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality, CAST(SUM(n_removed) AS BIGINT) AS removed_q FROM ws GROUP BY 1), a3 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final FROM mix GROUP BY 1) SELECT a1.source, a1.n_in, COALESCE(a2.n_quality, 0) AS n_quality, COALESCE(a2.removed_q, 0) AS removed_q, COALESCE(a3.n_final, 0) AS n_final FROM a1 LEFT JOIN a2 USING (source) LEFT JOIN a3 USING (source) ORDER BY a1.source""")),

    // Content-defined chunking: boundaries from a rolling window-sum
    // hash (mod 32) -> chunk ids are cumulative boundary counts; the
    // whole pipeline replays as SQL windows
    "llm_cdc_chunks" -> Q(
      (s, dir) => LlmOps.cdcChunks(docs(s, dir), w = 4, maskBits = 5)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM (SELECT doc_id, list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1) AS toks FROM documents), unnest(generate_series(1, len(toks))) s(i)), k AS (SELECT doc_id, pos, tok, (CAST(ascii(substr(md5(tok), 1, 1)) AS BIGINT) + CAST(ascii(substr(md5(tok), 2, 1)) AS BIGINT) * 100 + CAST(ascii(substr(md5(tok), 3, 1)) AS BIGINT) * 10000 + CAST(ascii(substr(md5(tok), 4, 1)) AS BIGINT) * 1000000 + CAST(ascii(substr(md5(tok), 5, 1)) AS BIGINT) * 100000000 + CAST(ascii(substr(md5(tok), 6, 1)) AS BIGINT) * 10000000000) AS key FROM tp), m AS (SELECT doc_id, pos, tok, CASE WHEN pos >= 3 AND SUM(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) % 32 = 0 THEN 1 ELSE 0 END AS bnd FROM k), c AS (SELECT doc_id, pos, tok, COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid FROM m) SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5 FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // KMV distinct sketch: per-source k-minimum md5 fingerprints +
    // the merged global sketch; integer-exact estimator (conv in
    // Spark, digit fold in DuckDB — two methods, equal values)
    "llm_kmv_distinct" -> Q(
      (s, dir) => LlmOps.kmvDistinct(docs(s, dir), k = 256)
        .orderBy("scope"),
      Some("""WITH st AS (SELECT DISTINCT source AS scope, md5(tok) AS fp FROM (SELECT source, unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents)), per AS (SELECT scope, fp FROM (SELECT scope, fp, ROW_NUMBER() OVER (PARTITION BY scope ORDER BY fp) AS r FROM st) WHERE r <= 256), mrg AS (SELECT '__all__' AS scope, fp FROM (SELECT fp, ROW_NUMBER() OVER (ORDER BY fp) AS r FROM (SELECT DISTINCT fp FROM per)) WHERE r <= 256), u AS (SELECT * FROM per UNION ALL SELECT * FROM mrg), e AS (SELECT scope, CAST(COUNT(*) AS BIGINT) AS n_fp, MAX(fp) AS kth FROM u GROUP BY 1), v AS (SELECT scope, n_fp, CAST(SUM((strpos('0123456789abcdef', substr(kth, i, 1)) - 1) * POWER(16, 12 - i)) AS BIGINT) AS kth48 FROM e, unnest(generate_series(1, 12)) s(i) GROUP BY scope, n_fp) SELECT scope, n_fp, kth48, CAST(CASE WHEN n_fp < 256 THEN n_fp ELSE (255 * 281474976710656) // kth48 END AS BIGINT) AS est FROM v ORDER BY scope""")),

    // Stream-stream LEFT OUTER join: unmatched clicks emit null rows
    // via state-timeout after the watermark passes their window; final
    // table ≡ DuckDB's batch left join
    "tmp_stream_join_left" -> Q(
      (s, dir) => streamStreamLeftJoinQuery(s, dir),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type FROM events WHERE event_id <= 2000 AND event_type IN ('click', 'purchase')), c AS (SELECT event_id AS click_id, user_id, t AS ct FROM e WHERE event_type = 'click'), p AS (SELECT event_id AS purchase_id, user_id, t AS pt FROM e WHERE event_type = 'purchase') SELECT c.click_id, p.purchase_id, c.user_id, CAST(p.pt - c.ct AS BIGINT) AS dt_us FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.pt >= c.ct AND p.pt <= c.ct + 3600000000 ORDER BY click_id, purchase_id NULLS FIRST""")),

    // ADX cross-database qualifiers: cluster('c').database('d').T
    // parses and resolves (the db name is the fixture dir's basename —
    // derived at run time so the row is fixture-independent)
    "q176_db_qualifier" -> Q(
      (s, dir) => {
        val db = new java.io.File(dir).getName
        Kql.run(s,
          s"""cluster('local').database('$db').orders
             | summarize n = count(), cents = sum(tolong(round(o_totalprice * 100)))""",
          dir)
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM orders""")),

    // OGG audio metadata: planted first pages with VARIABLE segment
    // tables (the packet offset must be read, not assumed) carrying
    // OpusHead on doc_id%3==0 and a Vorbis id packet on %3==1; the
    // oracle derives every field arithmetically
    "llm_ogg_meta" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(3))
        val nseg = lit(1L) + pmod(col("doc_id"), lit(3))
        val ch = lit(1L) + pmod(col("doc_id"), lit(7))
        val skip = pmod(col("doc_id"), lit(1000))
        val rate = lit(8000L) + pmod(col("doc_id"), lit(5)) * 8000L
        def byteHex(c: org.apache.spark.sql.Column) =
          lpad(conv(c, 10, 16), 2, "0")
        def le16(c: org.apache.spark.sql.Column) = {
          val x = lpad(conv(c, 10, 16), 4, "0")
          concat(substring(x, 3, 2), substring(x, 1, 2))
        }
        def le32(c: org.apache.spark.sql.Column) = {
          val x = lpad(conv(c, 10, 16), 8, "0")
          concat(substring(x, 7, 2), substring(x, 5, 2),
            substring(x, 3, 2), substring(x, 1, 2))
        }
        // OggS + ver 0 + type 02 + granule(8) + serial(4) + seq(4) +
        // crc(4) + nseg + segment table (nseg junk length bytes)
        val pageHex = concat(lit("4F676753"), lit("00"), lit("02"),
          lit("0000000000000000"), lit("AABBCCDD"), lit("00000000"),
          lit("11223344"), byteHex(nseg),
          expr("repeat('13', CAST(1 + doc_id % 3 AS INT))"))
        val opusHex = concat(lit("4F70757348656164"), lit("01"),
          byteHex(ch), le16(skip), le32(rate), lit("0000"), lit("00"))
        val vorbHex = concat(lit("01766F72626973"), lit("00000000"),
          byteHex(ch), le32(rate), lit("00000000"))
        val d = docs(s, dir).withColumn("payload",
          when(m === 0, unhex(concat(pageHex, opusHex)))
            .when(m === 1, unhex(concat(pageHex, vorbHex)))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.oggMeta(d, "payload").orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'opus' WHEN doc_id % 3 = 1 THEN 'vorbis' END AS codec, CASE WHEN doc_id % 3 <= 1 THEN CAST(1 + doc_id % 7 AS BIGINT) END AS n_channels, CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 1000 AS BIGINT) END AS pre_skip, CASE WHEN doc_id % 3 <= 1 THEN CAST(8000 + (doc_id % 5) * 8000 AS BIGINT) END AS sample_rate FROM documents ORDER BY doc_id""")),

    // EXIF/TIFF metadata: planted IFDs in BOTH byte orders (II
    // standalone TIFF on doc_id%3==0, MM inside a JPEG APP1-Exif wrap
    // on %3==1, junk on %3==2), SHORT and LONG value types mixed so
    // the left-justified inline-SHORT endianness trap is exercised;
    // the oracle derives every value arithmetically, never parsing
    "llm_exif_meta" -> Q(
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(3))
        val w = lit(100L) + pmod(col("doc_id"), lit(900))
        val h = lit(80L) + pmod(col("doc_id"), lit(700))
        val o = lit(1L) + pmod(col("doc_id"), lit(8))
        def beHex(c: org.apache.spark.sql.Column, digits: Int) =
          lpad(conv(c, 10, 16), digits, "0")
        def le16(c: org.apache.spark.sql.Column) = {
          val x = beHex(c, 4); concat(substring(x, 3, 2), substring(x, 1, 2))
        }
        def le32(c: org.apache.spark.sql.Column) = {
          val x = beHex(c, 8)
          concat(substring(x, 7, 2), substring(x, 5, 2),
            substring(x, 3, 2), substring(x, 1, 2))
        }
        // II: width SHORT, height SHORT, orientation SHORT, dummy LONG
        val iiHex = concat(lit("49492A00"), lit("08000000"), lit("0400"),
          lit("0001"), lit("0300"), lit("01000000"), le16(w), lit("0000"),
          lit("0101"), lit("0300"), lit("01000000"), le16(h), lit("0000"),
          lit("1201"), lit("0300"), lit("01000000"), le16(o), lit("0000"),
          lit("6987"), lit("0400"), lit("01000000"), le32(lit(0L)))
        // MM inside JPEG APP1: width LONG, height SHORT (left-justified
        // inline), orientation SHORT
        val mmTiff = concat(lit("4D4D002A"), lit("00000008"), lit("0004"),
          lit("0100"), lit("0004"), lit("00000001"), beHex(w, 8),
          lit("0101"), lit("0003"), lit("00000001"), beHex(h, 4), lit("0000"),
          lit("0112"), lit("0003"), lit("00000001"), beHex(o, 4), lit("0000"),
          lit("8769"), lit("0004"), lit("00000001"), lit("00000000"))
        val jpegHex = concat(lit("FFD8"), lit("FFE1"), lit("0040"),
          lit("457869660000"), mmTiff)
        val d = docs(s, dir).withColumn("payload",
          when(m === 0, unhex(iiHex))
            .when(m === 1, unhex(jpegHex))
            .otherwise(concat(unhex(lit("00")), encode(col("text"), "UTF-8"))))
        LlmOps.exifMeta(d, "payload").orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'II' WHEN doc_id % 3 = 1 THEN 'MM' END AS byte_order, CASE WHEN doc_id % 3 <= 1 THEN CAST(100 + doc_id % 900 AS BIGINT) END AS width, CASE WHEN doc_id % 3 <= 1 THEN CAST(80 + doc_id % 700 AS BIGINT) END AS height, CASE WHEN doc_id % 3 <= 1 THEN CAST(1 + doc_id % 8 AS BIGINT) END AS orientation FROM documents ORDER BY doc_id""")),

    // α-temperature source mixing (mT5 rule): per-source keep rates
    // p_s ∝ n_s^0.3 for a 50% target; weights micro-round before the
    // integer total, so the kept row SET replays exactly
    "llm_temperature_mix" -> Q(
      (s, dir) => LlmOps.temperatureMix(docs(s, dir), 0.3, 0.5)
        .groupBy("source", "n_s", "w_u", "rate_u")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source"),
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY 1), w AS (SELECT source, n_s, CAST(ROUND(EXP(CAST(0.3 AS DOUBLE) * LN(CAST(n_s AS DOUBLE))) * 1000000) AS BIGINT) AS w_u FROM c), t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total, CAST(SUM(w_u) AS BIGINT) AS w_total FROM w), r AS (SELECT source, n_s, w_u, CAST(LEAST(1000000, ((w_u * 1000000) // w_total) * CAST(ROUND(n_total * CAST(0.5 AS DOUBLE)) AS BIGINT) // n_s) AS BIGINT) AS rate_u FROM w, t), k AS (SELECT d.source FROM documents d JOIN r USING (source) WHERE (d.doc_id * 2654435761) % 4294967296 < (r.rate_u * 4294967296) // 1000000) SELECT r.source, r.n_s, r.w_u, r.rate_u, CAST(COUNT(*) AS BIGINT) AS n_kept FROM r JOIN k ON k.source = r.source GROUP BY 1, 2, 3, 4 ORDER BY 1""")),

    // Vocabulary drift between two snapshot halves (even/odd docs):
    // smoothed log frequency ratios in integer micros, top movers
    "llm_vocab_drift" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        LlmOps.vocabDrift(d.filter(pmod(col("doc_id"), lit(2)) === 0),
          d.filter(pmod(col("doc_id"), lit(2)) === 1), k = 20)
          .orderBy(abs(col("drift_u")).desc, col("tok"))
      },
      Some("""WITH o AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents WHERE doc_id % 2 = 0) GROUP BY 1), n AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (SELECT unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents WHERE doc_id % 2 = 1) GROUP BY 1), so AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM o), sn AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM n), j AS (SELECT COALESCE(o.tok, n.tok) AS tok, COALESCE(o.c, 0) AS c_old, COALESCE(n.c, 0) AS c_new FROM o FULL OUTER JOIN n ON o.tok = n.tok) SELECT tok, c_old, c_new, CAST(ROUND(LN((CAST(c_new + 1 AS DOUBLE) / CAST(sn.t + 1 AS DOUBLE)) / (CAST(c_old + 1 AS DOUBLE) / CAST(so.t + 1 AS DOUBLE))) * 1000000) AS BIGINT) AS drift_u FROM j, so, sn ORDER BY ABS(drift_u) DESC, tok LIMIT 20""")),

    // Overlapping sliding windows on a stream (complete mode, 2
    // micro-batches): each event lands in EXACTLY two window starts —
    // the oracle derives both memberships arithmetically
    "tmp_stream_sliding" -> Q(
      (s, dir) => streamSlidingQuery(s, dir),
      Some("""WITH e AS (SELECT epoch_us(ts) AS t, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events WHERE event_id <= 2000), m AS (SELECT (t // 1800000000) * 1800000000 - off AS start_us, cents FROM e, unnest([CAST(0 AS BIGINT), CAST(1800000000 AS BIGINT)]) s(off)) SELECT CAST(start_us AS BIGINT) AS start_us, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents FROM m GROUP BY 1 ORDER BY 1""")),

    // Pairwise source token-set Jaccard (corpus-composition audit):
    // inverted-index self-join over distinct (source, token), integer
    // micros -> value-exact
    "llm_source_similarity" -> Q(
      (s, dir) => LlmOps.sourceSimilarity(docs(s, dir))
        .orderBy("src_a", "src_b"),
      Some("""WITH st AS (SELECT DISTINCT src, tok FROM (SELECT source AS src, unnest(list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1)) AS tok FROM documents)), sz AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1), it AS (SELECT a.src AS src_a, b.src AS src_b, CAST(COUNT(*) AS BIGINT) AS inter FROM st a JOIN st b ON a.tok = b.tok AND a.src < b.src GROUP BY 1, 2) SELECT src_a, src_b, za.n AS n_a, zb.n AS n_b, inter, CAST((inter * 1000000) // (za.n + zb.n - inter) AS BIGINT) AS jaccard_u FROM it JOIN sz za ON za.src = it.src_a JOIN sz zb ON zb.src = it.src_b ORDER BY src_a, src_b""")),

    // Tukey-fence outliers per returnflag over integer cents:
    // nearest-rank quartiles, all-integer fences -> value-exact
    "tmp_iqr_outliers" -> Q(
      (s, dir) => graft.ext.TableOps.iqrOutliers(
        s.read.parquet(s"$dir/lineitem.parquet")
          .withColumn("cents",
            expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")),
        "cents", "l_returnflag").orderBy("l_returnflag"),
      Some("""WITH t AS (SELECT l_returnflag AS g, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem), r AS (SELECT g, v, CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS r, CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM t), q AS (SELECT g, MIN(CASE WHEN r = CAST(CEIL(0.25 * n) AS BIGINT) THEN v END) AS p25, MIN(CASE WHEN r = CAST(CEIL(0.75 * n) AS BIGINT) THEN v END) AS p75 FROM r GROUP BY 1), f AS (SELECT g, p25, p75, p25 - (3 * (p75 - p25)) // 2 AS lo_fence, p75 + (3 * (p75 - p25)) // 2 AS hi_fence FROM q) SELECT t.g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, CAST(f.p25 AS BIGINT) AS p25, CAST(f.p75 AS BIGINT) AS p75, CAST(f.lo_fence AS BIGINT) AS lo_fence, CAST(f.hi_fence AS BIGINT) AS hi_fence, CAST(SUM(CASE WHEN t.v < f.lo_fence OR t.v > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers FROM t JOIN f ON t.g = f.g GROUP BY t.g, f.p25, f.p75, f.lo_fence, f.hi_fence ORDER BY 1""")),

    // Streaming session windows (append mode, 2 data batches + 2
    // sentinel flushes): final emitted sessions must equal the batch
    // gaps-and-islands recompute over BOTH batches — a session split at
    // the batch boundary would mismatch
    "tmp_stream_session" -> Q(
      (s, dir) => streamSessionQuery(s, dir),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_id <= 2000), o AS (SELECT user_id, t, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000 THEN 1 ELSE 0 END AS brk FROM e), g AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o) SELECT user_id, CAST(MIN(t) AS BIGINT) AS start_us, CAST(MAX(t) + 1800000000 AS BIGINT) AS end_us, CAST(COUNT(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""")),

    // The session-window query on the RocksDB state store (disk-backed
    // state for 100 TB streaming deployments) — same oracle as
    // tmp_stream_session: the backend must not change a single value
    "tmp_rocksdb_session" -> Q(
      (s, dir) => streamSessionRocksQuery(s, dir),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_id <= 2000), o AS (SELECT user_id, t, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800000000 THEN 1 ELSE 0 END AS brk FROM e), g AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o) SELECT user_id, CAST(MIN(t) AS BIGINT) AS start_us, CAST(MAX(t) + 1800000000 AS BIGINT) AS end_us, CAST(COUNT(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""")),

    // The spark.sql.extensions hook end-to-end: graft_* codegen kernels
    // as plain SQL functions in an extensions-configured session,
    // integer-exact outputs (distinct-token-length intersect, integer
    // self dot product, arithmetic ADC plant)
    "tmp_extensions_sql" -> Q(
      (s, dir) => extensionsSqlQuery(s, dir),
      Some("""WITH base AS (SELECT doc_id, list_sort(list_distinct(list_transform(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'), t -> len(t) >= 1), t -> CAST(len(t) AS BIGINT)))) AS lens FROM documents WHERE doc_id <= 500) SELECT doc_id, CAST(len(list_intersect(lens, CAST([1,2,3,4,5,6,7,8,9,10] AS BIGINT[]))) AS BIGINT) AS n_common, CAST(coalesce(list_sum(list_transform(lens, x -> x * x)), 0) AS BIGINT) AS dot_ll, CAST((doc_id % 7) * 10 + (doc_id % 4) AS BIGINT) AS adc_u FROM base ORDER BY doc_id""")),

    // Exact duplicated-substring removal (Lee et al. 2021, token
    // granular): DuckDB replays the whole rewrite — windows, md5
    // identities, global first-occurrence owners (packed doc*1e6+pos),
    // covered-token union, ordered reassembly — value-exact
    "llm_dedup_substring" -> Q(
      (s, dir) => LlmOps.dedupSubstringRemove(docs(s, dir), spanLen = 8)
        .orderBy("doc_id"),
      Some("""WITH b2 AS (SELECT doc_id, list_filter(string_split(COALESCE(text,''),' '), x->len(x)>=1) AS toks, CAST(len(list_filter(string_split(COALESCE(text,''),' '), x->len(x)>=1)) AS BIGINT) AS n FROM documents), w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(array_to_string(toks[i:i+7], ' ')) AS h FROM b2, unnest(generate_series(1, CAST(n AS INTEGER) - 7)) s(i) WHERE n >= 8), own AS (SELECT h, MIN(doc_id * 1000000 + pos) AS o, COUNT(*) AS cnt FROM w GROUP BY 1), dup AS (SELECT w.doc_id, w.pos FROM w JOIN own ON w.h = own.h WHERE own.cnt > 1 AND w.doc_id * 1000000 + w.pos <> own.o), cov AS (SELECT DISTINCT doc_id, t FROM dup, unnest(generate_series(pos, pos + 7)) s(t)), tokpos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS t, toks[i] AS tok FROM b2, unnest(generate_series(1, CAST(n AS INTEGER))) s(i) WHERE n >= 1), kept AS (SELECT tp.doc_id, tp.t, tp.tok FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.t = tp.t WHERE cov.doc_id IS NULL), agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY t) AS text_kept, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1) SELECT b2.doc_id, COALESCE(agg.text_kept, '') AS text_kept, b2.n AS n_tokens, b2.n - COALESCE(agg.n_kept, 0) AS n_removed FROM b2 LEFT JOIN agg USING (doc_id) ORDER BY b2.doc_id""")),

    // HTML text extraction round trip: each doc is wrapped in a planted
    // page (title/style/script/comment/entity noise, text entity-escaped
    // going in); html_strip must recover exactly the known planted
    // content — the oracle DERIVES it, never parses, so any
    // script-block / tag / entity / whitespace bug mismatches
    "llm_html_strip" -> Q(
      (s, dir) => {
        val esc = replace(replace(replace(coalesce(col("text"), lit("")),
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
          lit(">"), lit("&gt;"))
        val html = concat(
          lit("<html><head><title>T"), col("doc_id"),
          lit("</title><style>p { color: red; }</style>" +
            "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
            "</head>\n<body><h1>Doc "),
          col("doc_id"), lit("</h1><p>"), esc,
          lit("</p><!-- hidden --> <div>&amp;&nbsp;&quot;end&quot;" +
            "</div></body></html>"))
        docs(s, dir).select(col("doc_id"), html.as("h"))
          .select(col("doc_id"),
            graft.kql.Functions.registry("html_strip")(List(col("h")))
              .as("extracted"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, trim(regexp_replace(COALESCE(text,''), '\s+', ' ', 'g')) AS tx FROM documents) SELECT doc_id, 'T' || CAST(doc_id AS VARCHAR) || ' Doc ' || CAST(doc_id AS VARCHAR) || CASE WHEN tx = '' THEN '' ELSE ' ' || tx END || ' & "end"' AS extracted FROM t ORDER BY doc_id""")),

    // Flesch / FK-grade readability: all-integer micro scores (floor
    // div per term) -> value-exact
    "llm_readability" -> Q(
      (s, dir) => LlmOps.readability(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(lower(COALESCE(text,'')),' '), x->len(x)>=1) AS toks, COALESCE(text,'') AS tx FROM documents), b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, CAST(GREATEST(1, len(regexp_extract_all(tx, '[.!?]+'))) AS BIGINT) AS n_sentences, CAST(list_sum(list_transform(toks, w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syllables FROM t WHERE len(toks) > 0) SELECT doc_id, n_words, n_sentences, n_syllables, CAST(206835000 - (1015000 * n_words) // n_sentences - (84600000 * n_syllables) // n_words AS BIGINT) AS flesch_u, CAST((390000 * n_words) // n_sentences + (11800000 * n_syllables) // n_words - 15590000 AS BIGINT) AS fk_grade_u FROM b ORDER BY doc_id""")),

    // Snapshot diff: old = orders minus key%97, new = orders minus
    // key%89 with totalprice perturbed on key%7 — added/removed/
    // changed/unchanged counts must land exactly; the oracle compares
    // COLUMNS directly (the Spark side compares md5 row digests — two
    // different methods agreeing is the point)
    "tmp_table_diff" -> Q(
      (s, dir) => {
        val ord = s.read.parquet(s"$dir/orders.parquet")
        val old = ord.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        val nw = ord.filter(pmod(col("o_orderkey"), lit(89)) =!= 0)
          .withColumn("o_totalprice",
            when(pmod(col("o_orderkey"), lit(7)) === 0,
              col("o_totalprice") + lit(1.0)).otherwise(col("o_totalprice")))
        graft.ext.TableOps.tableDiff(old, nw, Seq("o_orderkey"))
          .groupBy("status").agg(count(lit(1)).as("n"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
          .orderBy("status")
      },
      Some("""WITH old AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0), nw AS (SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS tp FROM orders WHERE o_orderkey % 89 <> 0), d AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k, CASE WHEN o.o_orderkey IS NULL THEN 'added' WHEN n.o_orderkey IS NULL THEN 'removed' WHEN o.o_totalprice = n.tp THEN 'unchanged' ELSE 'changed' END AS status FROM old o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey) SELECT status, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(k) AS BIGINT) AS min_key, CAST(MAX(k) AS BIGINT) AS max_key FROM d GROUP BY 1 ORDER BY 1""")),

    // Compaction planner: 503 synthetic "files" (cents-sized) packed to
    // 2 GB bins by sorted next-fit; the whole assignment replays as one
    // SQL window -> value-exact
    "tmp_compact_plan" -> Q(
      (s, dir) => {
        val files = s.read.parquet(s"$dir/lineitem.parquet")
          .groupBy(pmod(col("l_orderkey"), lit(503)).as("file_id"))
          .agg(sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
            .as("size_bytes"))
        graft.ext.TableOps.compactPlan(files, "size_bytes", "file_id",
            2000000000L)
          .orderBy("bin", "file_id")
      },
      Some("""WITH f AS (SELECT CAST(l_orderkey % 503 AS BIGINT) AS file_id, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS size_bytes FROM lineitem GROUP BY 1), c AS (SELECT file_id, size_bytes, SUM(size_bytes) OVER (ORDER BY size_bytes DESC, file_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM f) SELECT file_id, size_bytes, CAST((cum - size_bytes) // 2000000000 AS BIGINT) AS bin FROM c ORDER BY bin, file_id""")),

    // The streaming cosine-dedup harness's one-time SEED INDEX build as
    // its own row (r10 verdict task 1): a deployed pipeline builds the
    // seed index once and streams forever, so the build cost belongs in
    // the index-build bench class, not inside the timed streaming row
    // (tmp_stream_cosine_dedup now restores the seed state instead of
    // rebuilding). The audit pins the at-rest shape: one _vecs row per
    // even label<=3 vector and exactly nBands=16 banded rows each.
    "tmp_stream_cosine_index" -> Q(
      (s, dir) => {
        import s.implicits._
        buildPristineCosIndex(s, dir)
        val nv = s.table("graft_stream_cos_idx_vecs").count()
        val nb = s.table("graft_stream_cos_idx_bands").count()
        Seq((nv, nb == nv * 16)).toDF("n_vecs", "banded_16x")
      },
      Some("SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs, true AS banded_16x FROM embeddings WHERE label <= 3 AND vec_id % 2 = 0")),

    // The two declared refusal families as a DRIVER artifact (r10
    // verdict task 9): the spec-pinned loud errors become a correctness
    // row, so CORRECTNESS_r*.json itself proves the refusal contract —
    // each message names the gap AND the shipped alternative, with no
    // silent fallback. (Spec twin: PlannerSpec's unsupported-name traps.)
    "q188_refusals" -> Q(
      (s, dir) => {
        import s.implicits._
        def msgOf(q: String): String =
          try { Kql.run(s, q, dir).count(); "NO-ERROR" }
          catch {
            case e: Exception =>
              def walk(t: Throwable): String =
                Option(t.getMessage).getOrElse("") +
                  Option(t.getCause).map(walk).getOrElse("")
              walk(e)
          }
        val h3 = msgOf("nation | extend c = geo_point_to_h3cell(1.0, 2.0, 9)")
        val pr = msgOf("nation | extend p = current_principal()")
        Seq((h3.contains("H3"), h3.contains("geo_point_to_geohash"),
            h3.contains("geo_point_to_s2cell"),
            pr.contains("auth"), !h3.contains("NO-ERROR") && !pr.contains("NO-ERROR")))
          .toDF("h3_names_gap", "h3_offers_geohash", "h3_offers_s2",
            "principal_names_auth", "both_refused")
      },
      Some("SELECT true AS h3_names_gap, true AS h3_offers_geohash, true AS h3_offers_s2, true AS principal_names_auth, true AS both_refused")),

    // fork as a DRIVER row (r10 verdict task 8): Kql.runMulti
    // materializes each named branch of the fork; the single-DataFrame
    // driver contract hosts the multi-result by tagging every branch row
    // with its branch name and unioning on a common (branch, k, v)
    // schema — multi-result execution is artifact-pinned end-to-end,
    // not just spec-pinned (PlannerSpec's runMulti tests stay the
    // branch-shape twin).
    "q189_fork_multi" -> Q(
      (s, dir) => {
        val rs = Kql.runMulti(s,
          """lineitem
            | where l_quantity > 45
            | fork flags = (summarize n = count() by l_returnflag)
                   heavy = (where l_discount >= 0.05 | summarize n = count())""",
          dir).toMap
        val flags = rs("flags").select(lit("flags").as("branch"),
          col("l_returnflag").as("k"), col("n").cast("long").as("v"))
        val heavy = rs("heavy").select(lit("heavy").as("branch"),
          lit("").as("k"), col("n").cast("long").as("v"))
        flags.unionByName(heavy).orderBy("branch", "k")
      },
      Some("""SELECT 'flags' AS branch, l_returnflag AS k, CAST(COUNT(*) AS BIGINT) AS v FROM lineitem WHERE l_quantity > 45 GROUP BY 2 UNION ALL SELECT 'heavy' AS branch, '' AS k, CAST(COUNT(*) AS BIGINT) AS v FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05 ORDER BY branch, k""")),
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.map { case (n, q) => n -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    inventory.collect { case (n, Q(_, Some(sql))) => n -> sql }.toMap
}

package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.LlmOps
import graft.sources.AtRest

/** Empirical scale-slope harness (r6 verdict task 2): build ×K corpora
  * from the sf0.1 fixtures by id-shifted self-union and time the
  * heaviest LLM-pipeline operators at each size, so the "banded /
  * bucketed / partition-pruned ⇒ near-linear" design claims become
  * measured s/row slopes (recorded in BASELINE.md).
  *
  * Corpus construction — "more data of the same distribution", not
  * clones: copy 0 is the original; copy i ≥ 1
  *  - shifts ids by i·10⁷ (disjoint id spaces);
  *  - prefixes every TOKEN with `c<i>_` (disjoint vocabularies, so a
  *    copy has the fixture's internal duplicate structure but no
  *    cross-copy near-dups — cloned text would instead create size-K
  *    duplicate groups and measure K² pair blowup, i.e. the corpus,
  *    not the engine);
  *  - sign-flips embedding dimensions by a per-copy deterministic
  *    pattern (norms and intra-copy cosines exactly preserved,
  *    cross-copy cosines decorrelated);
  *  - suffixes `source` / offsets `label` per copy — block keys SCALE
  *    WITH the data, the documented dial for the exact-within-block
  *    operators (at 100 TB you shard block columns finer, you don't
  *    grow one block to the corpus).
  *
  * Scaled tables are WRITTEN to parquet and read back, so each timing
  * includes the real scan path. One warm-up pass runs at ×1 (JIT +
  * codegen, the Bench convention); slopes are then read from the ×8
  * and ×32 timings of the same warm JVM. Emits one JSON line per
  * (op, scale). */
object Scale {
  private val ID_SHIFT = 10000000L

  // IVF sizing for the growing-anchor hard-negatives row: lists grow
  // √K with the corpus (the standard IVF dial), so the probed fraction
  // shrinks as data grows. Quantizers are trained once per scale
  // OUTSIDE the timers (index metadata, the pq_index convention).
  private def ivfLists(k: Int): Int =
    16 * math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
  private val ivfCentroids =
    scala.collection.mutable.Map[Int, Array[Array[Double]]]()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val scales = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 8, 32)
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_SCALE_ONLY=op1,op2 measures a subset (builder
    // iteration on newly added ops without re-timing the whole set)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(op: String): Boolean = only.forall(_.contains(op))

    for (k <- scales) {
      buildScaled(spark, sfDir, s"$base/x$k", k)
      // the at-rest PQ index is built once per scale OUTSIDE any timer
      // (a one-time indexing job; the probe is the path under test)
      if (!new java.io.File(s"$base/x$k/pq_index/meta").exists())
        LlmOps.buildPqIndex(
          spark.read.parquet(s"$base/x$k/embeddings.parquet"),
          s"$base/x$k/pq_index", nLists = 16)
      // r9 pre-builds, all outside the timers. BM25 postings (probe
      // flatness is the claim — the query reads ITS terms' buckets
      // while the corpus grows; base-copy terms stay fixed-df).
      if (wanted("bm25_indexed_probe"))
        LlmOps.buildBm25Index(
          spark.read.parquet(s"$base/x$k/documents.parquet"),
          s"graft_scale_bm25_x$k")
      // LM model trained per scale OUTSIDE the timer (train once,
      // score forever); the probe scores a FIXED base-copy test set
      if (wanted("backoff_indexed_probe"))
        LlmOps.buildLmIndex(
          spark.read.parquet(s"$base/x$k/documents.parquet"),
          s"graft_scale_lm_x$k")
      if (wanted("hard_negatives_ivf_growing")) {
        // index built ONCE per scale outside the timer (train-once/
        // probe-forever; the pq_index convention) — the ×128 run showed
        // inline per-call cell assignment (nLists·dim UDF work per row)
        // overtaking the scan form, which is an index build hiding in a
        // query, not probe cost
        val e = spark.read.parquet(s"$base/x$k/embeddings.parquet")
        if (!new java.io.File(s"$base/x$k/hn_ivf_index/_SUCCESS").exists())
          ivfCentroids(k) = LlmOps.buildIvfIndex(
            e, s"$base/x$k/hn_ivf_index", nLists = ivfLists(k))
        else if (!ivfCentroids.contains(k))
          ivfCentroids(k) = LlmOps.trainIvfCentroids(e, ivfLists(k))
      }
      if (wanted("matview_read_delta") || wanted("matview_read_hi")) {
        // ingest-ordered live table for the matview rows: production
        // ingest is id/time-ordered, which is what lets the pushed
        // cursor predicate prune the delta scan to the tail row groups
        val byId = s"$base/x$k/documents_by_id.parquet"
        if (!new java.io.File(s"$byId/_SUCCESS").exists())
          spark.read.parquet(s"$base/x$k/documents.parquet")
            .repartitionByRange(32, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(byId)
        val live = spark.read.parquet(byId)
        val mm = live.agg(min("doc_id"), max("doc_id")).head
        val cut60 = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 6 / 10
        val aggs = Seq(graft.sources.MatAgg("count", "", "n"),
          graft.sources.MatAgg("sum", "n_chars", "chars"),
          graft.sources.MatAgg("dcount", "lang", "d_lang"))
        // mv60: cursor mid-corpus (read pays a 40%-of-corpus delta —
        // expect linear); mvhi: refreshed to the high-water mark (read
        // is store + a pruned-empty delta scan — expect ~flat)
        graft.sources.MatViewLayout.build(live, s"graft_scale_mv60_x$k",
          "scale_docs", Seq("source"), aggs, "doc_id", cut60)
        graft.sources.MatViewLayout.build(live, s"graft_scale_mvhi_x$k",
          "scale_docs", Seq("source"), aggs, "doc_id", cut60)
        graft.sources.MatViewLayout.refresh(spark, s"graft_scale_mvhi_x$k",
          _ => live, mm.getLong(1))
      }
    }

    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }

    def selected(dir: String, k: Int) = ops(spark, dir, k)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // warm-up at the smallest scale (JIT + codegen), untimed
    selected(s"$base/x${scales.min}", scales.min).foreach { case (_, fn) =>
      try fn() catch { case _: Throwable => () }
      GraftSession.release(spark)
    }
    val sb = new StringBuilder
    for (k <- scales) {
      val dir = s"$base/x$k"
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
      selected(dir, k).foreach { case (name, fn) =>
        val result = timed(fn)
        GraftSession.release(spark)
        val rowsIn = if (name.startsWith("ann_") || name.contains("kmeans") ||
          name.contains("cosine") || name.contains("semdedup")) nVecs else nDocs
        val line = s"""{"metric":"scale","op":"$name","scale":$k,""" +
          s""""rows_in":$rowsIn,$result,"loadavg":"${loadavg()}"}"""
        println(line); sb.append(line).append('\n')
      }
    }
    // APPEND, never overwrite: the raw rows behind BASELINE.md's slope
    // tables must stay on disk (the r8 verdict found r10–r12 rows gone
    // because subset runs clobbered this file). Full runs additionally
    // archive a round-numbered copy, the bench_detail_r* convention.
    val outName =
      if (only.isDefined) "scale_detail_subset.jsonl" else "scale_detail.jsonl"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outName), sb.toString,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    // FULL runs only get the round-numbered archive (subset reruns must
    // never pollute the rows behind BASELINE.md's slope tables), and the
    // round comes from an explicit env var — inferring it from BENCH_r*
    // files misnumbers when Scale runs before the round's Bench artifact
    if (only.isEmpty) sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"scale_detail_r${r.toInt}%02d.jsonl"),
        sb.toString,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }

  /** The JSON fields of one timed op: `"out_rows"` and `"sec"` when it
    * returned, or only `"error"` (the exception class) when it threw — a
    * failure is never timed. */
  private[graft] def timed(op: () => Long): String = {
    val t0 = System.nanoTime()
    try {
      val out = op()
      s""""out_rows":$out,"sec":${(System.nanoTime() - t0) / 1e9}"""
    } catch { case NonFatal(e) => s""""error":"${e.getClass.getName}"""" }
  }

  /** ×K self-union with the per-copy transforms documented above. */
  def buildScaled(spark: SparkSession, sfDir: String, outDir: String,
                  k: Int): Unit = {
    if (new java.io.File(s"$outDir/documents.parquet/_SUCCESS").exists() &&
        new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS").exists()) return
    val copies = explode(sequence(lit(0), lit(k - 1))).as("__c")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("*"), copies)
      .select(
        (col("doc_id") + col("__c") * ID_SHIFT).as("doc_id"),
        when(col("__c") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(^|\\s)"),
            concat(lit("$1c"), col("__c").cast("string"), lit("_")))).as("text"),
        col("lang"),
        concat(col("source"), lit("_c"), col("__c").cast("string")).as("source"),
        col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("*"), copies)
      .select(
        (col("vec_id") + col("__c") * ID_SHIFT).as("vec_id"),
        transform(col("embedding"), (x, d) =>
          (x * when(col("__c") === 0 ||
              pmod(xxhash64(col("__c"), d), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0))).cast("float")).as("embedding"),
        (col("label") + col("__c") * 100).as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** The measured operator set (the r6 verdict's list): each entry
    * runs the operator's production path and returns its output row
    * count. Exact O(n²) audit stages from the CORRECTNESS harness are
    * deliberately NOT run here — they are oracle plumbing. */
  private def ops(spark: SparkSession, dir: String,
                  k: Int): Seq[(String, () => Long)] = {
    // listed and inferred once per session, not inside every timed op
    def docs = AtRest.frame(spark, s"$dir/documents.parquet")
    def embs = AtRest.frame(spark, s"$dir/embeddings.parquet")
    def relined10(d: DataFrame): DataFrame = {
      val toks = split(coalesce(col("text"), lit("")), "\\s+")
      d.withColumn("text", array_join(transform(
        sequence(lit(0), floor((size(toks) - 1) / lit(10)).cast("int")),
        x => array_join(slice(toks, x * 10 + 1, lit(10)), " ")), "\n"))
    }
    val pqPath = s"$dir/pq_index"
    Seq(
      "neardup_minhash" -> (() =>
        LlmOps.nearDupPairsMinhash(docs, 0.8).count()),
      "neardup_groups" -> (() =>
        LlmOps.nearDupGroups(docs, 0.8, blockCol = Some("source")).count()),
      "cosine_groups_lsh" -> (() =>
        LlmOps.cosineGroups(embs, 0.3, method = "lsh").count()),
      "semdedup" -> (() =>
        LlmOps.semDedup(embs, 0.3, nClusters = 8).count()),
      // end-to-end: build the corpus index on the lower-id half, dedup
      // the upper-id half against it (constant split fraction ⇒ both
      // stages scale with K)
      "dedup_incremental" -> (() => {
        val d = docs
        val mm = d.agg(min("doc_id"), max("doc_id")).head
        val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        LlmOps.buildMinhashIndex(d.filter(col("doc_id") < cut),
          s"graft_scale_mh_x$k")
        LlmOps.dedupIncremental(d.filter(col("doc_id") >= cut),
          s"graft_scale_mh_x$k").count()
      }),
      "line_dedup" -> (() =>
        LlmOps.lineDedup(relined10(docs)).count()),
      // probe-only against the index main() built outside the timer
      "ann_pq_indexed_probe" -> (() => {
        val q0 = embs.orderBy("vec_id").limit(1)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        LlmOps.annCosineIvfPqIndexed(spark, pqPath, q0, k = 10,
          nProbe = 2, refine = 4).count()
      }),
      "kmeans" -> (() =>
        LlmOps.kmeansFit(embs, 8, iters = 5).count()),
      // r7 additions: the banded (100 TB-path) dbscan, synchronous LPA
      // over the doc near-dup graph scale-free edges, and the
      // hashing-trick vectorizer
      "dbscan_lsh" -> (() =>
        LlmOps.dbscanCosine(embs, 0.3, 4, method = "lsh").count()),
      "label_propagation" -> (() =>
        graft.kql.GraphOps.labelPropagation(
          docs.select(col("doc_id").cast("string").as("s"),
            col("source").as("d")), 3, "s", "d").count()),
      "feature_hash" -> (() =>
        LlmOps.featureHash(docs, dim = 64).count()),
      // r8 additions: lexical retrieval (corpus-pass + bounded top-k),
      // the capped-cardinality sketch, 5 GD rounds of the classifier
      // (slope isolates per-round linearity), and 2 HITS rounds over
      // the doc→source bipartite graph (per-half-step checkpoints)
      "bm25" -> (() =>
        LlmOps.bm25(docs, "fast window merge sort stream", k = 10).count()),
      "cms_count" -> (() =>
        LlmOps.cmsCount(docs,
          "scan join window stream fast zebra").count()),
      "logreg_score" -> (() => {
        val d = docs.withColumn("label",
          when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0))
        LlmOps.logRegScore(d, "label", dim = 64, iters = 5).count()
      }),
      "hits" -> (() =>
        graft.kql.GraphOps.hits(
          docs.select(col("doc_id").cast("string").as("s"),
            col("source").as("d")), 2, "s", "d").count()),
      // r15: pagerank moved to the pinned-partitioner RDD loop — same
      // doc→source edges as hits so the two link-analysis slopes are
      // directly comparable.
      "pagerank" -> (() =>
        graft.kql.GraphOps.pageRank(
          docs.select(col("doc_id").cast("string").as("s"),
            col("source").as("d")), 5, "s", "d").count()),
      // r12 (r11 verdict task 8): kCore's peel loop on a NON-bipartite
      // synthetic — on the bipartite doc→source fixture graph the
      // early-convergence exit fires after one peel and a slope row
      // would time setup. Chord steps (1, 2, 7) give odd cycles
      // (+1, +1, −2) and interior degree 6, so k=4 peels a genuine
      // boundary cascade each round; the id universe scales with K.
      "kcore" -> (() => {
        val ids = docs.select(col("doc_id").as("a"))
        val edges = Seq(1L, 2L, 7L).map(st =>
          ids.select(col("a").cast("string").as("s"),
            (col("a") + st).cast("string").as("d")))
          .reduce(_ union _)
        graft.kql.GraphOps.kCore(edges, k = 4, rounds = 6, "s", "d").count()
      }),
      // r10 additions. heavy_hitters: two corpus passes, aggregate
      // cardinality capped at m. dedup_substring: window explode +
      // owner aggregate; copies are vocab-disjoint so duplicate spans
      // stay within-copy (covered-explode scales with duplicates, not
      // K²). source_similarity: per-copy-disjoint tokens keep the
      // inverted-index join Σdf² linear in K. unigram_segment:
      // vocabulary-sized DP over K× distinct words.
      "heavy_hitters" -> (() =>
        LlmOps.heavyHitters(docs, m = 1024, k = 20).count()),
      "dedup_substring" -> (() =>
        LlmOps.dedupSubstringRemove(docs, spanLen = 8).count()),
      "source_similarity" -> (() =>
        LlmOps.sourceSimilarity(docs).count()),
      "unigram_segment" -> (() =>
        LlmOps.unigramSegment(docs, topK = 200).count()),
      // cdc: two window passes + one aggregate; kmv: distinct aggregate
      // + per-scope rank windows (scopes grow with K — per-copy suffixed)
      "cdc_chunks" -> (() =>
        LlmOps.cdcChunks(docs, w = 4, maskBits = 5).count()),
      "kmv_distinct" -> (() =>
        LlmOps.kmvDistinct(docs, k = 256).count()),
      // r11 additions. heaps_law: GlobalWindow rank + distinct-token
      // explode (vocab grows with K under the disjoint-prefix copies).
      // stratified_split: the two-phase per-stratum rank (sources ×
      // copies strata). keyword_extract: tf aggregate + per-doc window.
      // stupid_backoff: three train aggregates + three joins onto the
      // test gram stream.
      "heaps_law" -> (() =>
        LlmOps.heapsLaw(docs).count()),
      "stratified_split" -> (() =>
        LlmOps.stratifiedSplit(docs, 0.8, 0.1, "source").count()),
      "keyword_extract" -> (() =>
        LlmOps.keywordExtract(docs, k = 5).count()),
      "stupid_backoff" -> (() =>
        LlmOps.stupidBackoff(docs).count()),
      // r12 additions. span_corrupt/bleu are per-row expression chains
      // (linearity is the whole claim); hard_negatives pins the ANCHOR
      // count at ~10 while the candidate corpus grows K× — the
      // production shape (bounded query set, growing corpus).
      // the filters REFERENCE the computed columns so column pruning
      // cannot skip the per-row chains a bare count() would drop
      "span_corrupt" -> (() =>
        LlmOps.spanCorrupt(docs, 8)
          .filter(length(col("input_text")) +
            length(col("target_text")) >= 0).count()),
      "bleu" -> (() => {
        val tk = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val d2 = docs.withColumn("ref", coalesce(col("text"), lit("")))
          .withColumn("cand", array_join(
            filter(tk, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
        LlmOps.bleuScore(d2, "ref", "cand")
          .filter(col("bleu_u") >= 0 && col("total_1") >= 0).count()
      }),
      // anchors pinned to the base copy (ids < ID_SHIFT): the query
      // set stays 10 anchors at every K, so the measured slope is the
      // corpus side only
      "hard_negatives" -> (() =>
        LlmOps.hardNegatives(embs, anchorEvery = 200, k = 5,
          anchorMax = ID_SHIFT - 1).count()),
      // r9 additions. hard_negatives with anchors GROWING with the
      // corpus: pairs = anchors × corpus, so the expected slope is K²
      // by construction — the row exists to show the two-phase cut
      // keeps even that shape task-bounded (no single task ever sorts
      // a corpus-sized group); the 100 TB path for growing anchor sets
      // is IVF probes per anchor, not this scan
      "hard_negatives_growing" -> (() =>
        LlmOps.hardNegatives(embs, anchorEvery = 2000, k = 5).count()),
      // r14: the IVF-probed form with the SAME growing anchors — the
      // 100 TB remedy the scan row's comment promises. The at-rest
      // index (cells in the parquet partition column, built outside
      // the timer) is probed per anchor; nLists grows √K (the standard
      // IVF sizing), so the probed fraction 2/nLists FALLS with the
      // corpus: expected slope ~K^1.5 where the scan form is K² by
      // construction
      "hard_negatives_ivf_growing" -> (() =>
        LlmOps.hardNegativesIvfIndexed(spark, s"$dir/hn_ivf_index",
          ivfCentroids(k), anchorEvery = 2000, k = 5,
          nProbe = 2).count()),
      // pmi: Σ len·window positional pairs + (a,b)/(a) hash aggregates
      // + per-target rank; vocab-disjoint copies keep pair cardinality
      // linear in K
      "pmi_contexts" -> (() =>
        LlmOps.pmiContexts(docs, window = 2, minCount = 2, k = 5).count()),
      // probe-only against the postings main() built outside the timer
      // (the ann_pq_indexed convention): expect FLAT — the probe reads
      // its terms' buckets, never the corpus
      "bm25_indexed_probe" -> (() =>
        LlmOps.bm25Indexed(spark, s"graft_scale_bm25_x$k",
          "fast window merge sort stream", k = 10).count()),
      // matview reads against the stores main() built outside the
      // timers: delta-heavy read (cursor mid-corpus — linear in the
      // 40% delta) vs read-after-refresh (cursor at high water — the
      // pruned delta scan matches nothing; expect ~flat)
      "matview_read_delta" -> (() =>
        graft.sources.MatViewLayout.read(spark, s"graft_scale_mv60_x$k",
          _ => AtRest.frame(spark, s"$dir/documents_by_id.parquet")).count()),
      "matview_read_hi" -> (() =>
        graft.sources.MatViewLayout.read(spark, s"graft_scale_mvhi_x$k",
          _ => AtRest.frame(spark, s"$dir/documents_by_id.parquet")).count()),
      // r13 additions: the two shuffle-bearing training-data ops.
      // ccnet: token explode + SHUFFLED vocab join (K× distinct tokens
      // under the prefix-disjoint copies) + two-phase per-lang rank.
      // curriculum: one range exchange + P-row offset broadcast.
      // the filters reference computed outputs (forced evaluation)
      // rouge_l / wer: per-row sequence-DP metrics over FULL document
      // token counts (the r12 interpreted-fold form had to slice bench
      // rows to 40 tokens; these hooks measure the unbounded shape)
      "rouge_l" -> (() => {
        val tk2 = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val d2 = docs.withColumn("ref", coalesce(col("text"), lit("")))
          .withColumn("cand", array_join(
            filter(tk2, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
        LlmOps.rougeL(d2, "ref", "cand")
          .filter(col("rouge_f_u") >= 0 && col("lcs") >= 0).count()
      }),
      "wer" -> (() => {
        val tk2 = filter(split(coalesce(col("text"), lit("")), " "),
          z => length(z) >= 1)
        val d2 = docs.withColumn("ref", coalesce(col("text"), lit("")))
          .withColumn("hyp", array_join(
            filter(tk2, (z, i) => pmod(i + 1, lit(7)) =!= 0), " "))
        LlmOps.werScore(d2, "ref", "hyp")
          .filter(col("wer_u") >= 0 && col("edit_dist") >= 0).count()
      }),
      "ccnet_buckets" -> (() =>
        LlmOps.ccnetBuckets(docs)
          .filter(col("score_u") >= 0 && length(col("bucket")) >= 4).count()),
      "curriculum_shards" -> (() =>
        LlmOps.curriculumShards(docs, shards = 8)
          .filter(col("rank") >= 1 && col("shard") >= 0).count()),
      // probe-only against the LM model main() built outside the
      // timer: the FIXED test set's grams join count tables that grow
      // with the corpus vocabulary — never the corpus itself
      "backoff_indexed_probe" -> (() =>
        LlmOps.stupidBackoffIndexed(spark, s"graft_scale_lm_x$k",
          docs.filter(col("doc_id") < ID_SHIFT &&
            pmod(col("doc_id"), lit(97L)) === 0)).count()),
      // r11 (r10 verdict task 7): buildschema is the one remaining
      // per-row JVM-library (Jackson) UDF — measure its interpreted
      // per-row cost so the dial is a recorded fact. One synthetic JSON
      // doc per corpus row, aggregated per source: pure per-row parse +
      // a tiny distinct-union, so the slope should be ~linear
      "buildschema" -> (() =>
        graft.kql.Kql.run(spark,
          """documents
            | extend d = strcat('{"x": ', tostring(doc_id % 10),
                                ', "s": "', source, '"}')
            | summarize s = buildschema(d) by source""", dir).count()))
  }
}

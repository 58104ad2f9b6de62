package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // loadavg BEFORE the warm-up pass: loadavg_before is sampled after
    // warm-up, when the bench's own 32 threads have already driven the
    // 1-min average to 5+ — only this pre-warmup sample can prove the
    // host was externally quiet (the r8 verdict's clean-host ask)
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadStart = loadavg()
    // JIT/codegen warm-up: run every query once against the smallest
    // fixture so the timed pass below measures the engine, not
    // first-touch class loading and codegen compilation (cold-vs-warm
    // deltas of 3-6× were measured on the heavier queries).
    val warmDir = new java.io.File(sfDir).getParentFile match {
      case p if p != null && new java.io.File(p, "sf0.001").isDirectory =>
        Some(new java.io.File(p, "sf0.001").getPath)
      case _ => None
    }
    warmDir.foreach { wd =>
      selected.foreach { case (_, fn) =>
        try { fn(spark, wd).count() } catch { case _: Throwable => () }
        GraftSession.release(spark)
      }
    }
    // best-of-2 timed passes: single-JVM local mode shows large
    // run-to-run variance (page cache, JIT recompilation, shuffle-file
    // GC); the min is the reproducible engine cost. Caches left behind
    // by materialize()/persisted indexes are dropped after every query —
    // accumulated storage otherwise squeezes execution memory and
    // inflates the heavy shuffle queries (measured 2× on minhash by the
    // end of a 142-query pass).
    // bytes of block-manager storage currently in use — visible leak
    // detector: should be ~0 at every pass boundary after release
    def storageUsed(): Long =
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
    // rows that threw in either pass, with the first error: never timed,
    // out of the best-of-2 and every total, and they fail the run
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def pass(): Map[String, Double] = {
      val (times, errors) =
        timedPass(spark, sfDir, selected.toSeq, () => GraftSession.release(spark))
      errors.foreach { case (k, e) => failed.getOrElseUpdate(k, e) }
      times
    }
    // Per-query perf budgets (r6 verdict task 4): bench_budget.json pins
    // each query's clean-host best-of-2; any row whose best exceeds
    // multiplier× its budget lands in budget_violations. Turns "diff
    // per-query bests across bench_detail_r*.json by hand" into a
    // machine check that protects the 2×-of-baseline gate as heavy
    // coverage rows accumulate. Interpret under the loadavg fields: a
    // loaded host (r6: loadavg 8-9.5) produces spurious violations.
    val budgetFile = new java.io.File("bench_budget.json")
    val (budgets, budgetMult): (Map[String, Double], Double) =
      if (budgetFile.isFile) {
        val txt = scala.io.Source.fromFile(budgetFile).mkString
        val kv = "\"(\\w+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r
          .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
        (kv - "multiplier", kv.getOrElse("multiplier", 2.0))
      } else (Map.empty, 2.0)
    // r9: split harness cost from engine cost. The 2×-of-baseline gate
    // should trend against the PLAN-class subtotal — streaming-harness
    // rows pay MemoryStream micro-batch/state-store commit overhead and
    // index-build rows pay at-rest write+audit cost that a deployed
    // query never re-pays per read; both are coverage contracts, not
    // query plans. Classes are in-code name rules so the artifact and
    // the classification can never drift apart.
    def benchClass(name: String): String =
      if (Set("llm_ann_binary_indexed", "llm_ann_ivf_indexed",
        "llm_ann_pq_indexed", "llm_bm25_indexed", "llm_dedup_incremental",
        "llm_line_dedup_incr", "llm_dedup_cosine_incr", "q183_matview_fn",
        "tmp_bucketed_join", "tmp_hilbert_scan", "tmp_zorder_scan",
        "tmp_bucket_pruned_scan",
        // r11 additions: the streaming harness's one-time seed-index
        // build (an at-rest artifact, checked BEFORE the tmp_stream_
        // prefix rule), and the LM-index row that was always
        // build-train-probe like llm_ann_pq_indexed but was never
        // carried in this set
        "tmp_stream_cosine_index", "llm_backoff_indexed",
        // r12 additions: the at-rest exact-audit artifact builders and
        // the planted-image corpus write (r11 verdict task 2 — each
        // rebuilds its warehouse tables from parquet on every pass;
        // construction of at-rest artifacts, not query-plan work)
        "llm_audit_cos_all", "llm_audit_cos_blocked",
        "llm_audit_jaccard_blocks", "llm_audit_jaccard_incr",
        "llm_image_plant")(name)) "index-build"
      else if (name.startsWith("tmp_stream_") || name == "tmp_rocksdb_session" ||
          name == "tmp_merge_apply") "streaming-harness"
      else "plan"
    val loadBefore = loadavg()
    val p1 = pass()
    val (loadMid, storageMid) = (loadavg(), storageUsed())
    val p2 = pass()
    val (loadAfter, storageAfter) = (loadavg(), storageUsed())
    val results = p1.collect {
      case (k, v) if !failed.contains(k) => k -> math.min(v, p2(k))
    }
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // detailed line FIRST (it is huge and the driver tails stdout — r1's
    // single combined line got truncated and parsed as null), then a
    // compact machine-readable total as the LAST line
    val classTotals = results.toSeq.groupBy { case (k, _) => benchClass(k) }
      .map { case (c, m) => c -> m.map(_._2).sum }
    val classJson = Seq("plan", "index-build", "streaming-harness")
      .map(c => s""""$c":{"sec":${classTotals.getOrElse(c, 0.0)},""" +
        s""""n":${results.keys.count(benchClass(_) == c)}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"detail","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // machine-readable 2×-of-baseline gate (r9 verdict task 7): per-query
    // seconds against the recorded r2 clean-host band (0.344 s/query at
    // sf0.1 / local[32] — BASELINE.md), all-in and plan-class. The gate
    // is a fact of the artifact, not a BASELINE.md hand computation.
    // the 0.344 band was recorded at sf0.1/local[32] ONLY — on any other
    // fixture the ratios would be meaningless, so they are emitted null
    // there (the per-query seconds stay; ADVICE r10)
    val baselinePerQ: Option[Double] =
      if (new java.io.File(sfDir).getName == "sf0.1") Some(0.344) else None
    val planSec = classTotals.getOrElse("plan", 0.0)
    val planN = results.keys.count(benchClass(_) == "plan")
    val allInPerQ = if (results.nonEmpty) total / results.size else 0.0
    val planPerQ = if (planN > 0) planSec / planN else 0.0
    def j(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    val gateJson =
      s"""{"metric":"gate","baseline_per_q":${j(baselinePerQ)},""" +
      s""""all_in_per_q":$allInPerQ,"plan_per_q":$planPerQ,""" +
      s""""all_in_vs_baseline":${j(baselinePerQ.map(allInPerQ / _))},""" +
      s""""plan_vs_baseline":${j(baselinePerQ.map(planPerQ / _))}}"""
    println(gateJson)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val failedJson = failed.map { case (k, e) =>
      s"""{"q":"$k","error":${json.writeValueAsString(e)}}""" }.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"class_subtotals":$classJson,"sf":"$sfDir"}""")
    // Complete per-query artifact ON DISK (r2/r3 verdicts: both driver
    // stdout tails truncate at 2k chars, which made the r3 75.6s-vs-48.3s
    // scare undiagnosable from the recorded artifacts alone). Includes
    // both raw passes so environment noise (min≠either pass trend) is
    // visible after the fact.
    val detail = results.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""  "$k": {"best":$v,"pass1":${p1(k)},"pass2":${p2(k)}}"""
    }.mkString("{\n", ",\n", "\n}")
    // loadavg before/mid/after + storage-bytes at pass boundaries: makes
    // external-host-load contamination and cache leaks machine-detectable
    // from the artifact alone (r5 verdict tasks 1+7)
    // violations: best > multiplier×budget. New queries (no budget row
    // yet) are listed separately so a missing budget is visible, not a
    // silent pass. r11 verdict task 7: budgets regenerated from quiet
    // MINs fire on every loaded roll (22 refuted flags on the r11
    // driver roll) and protect nothing — on a roll whose PRE-WARMUP
    // loadavg shows external load (any of the 1/5/15-min averages
    // > 2.0), violations land in budget_violations_suspect_load
    // instead, still visible but not asserted; the next quiet roll
    // confirms or clears them.
    val hostLoaded = loadStart.split(",").take(3)
      .exists(s => s.nonEmpty && s.toDouble > 2.0)
    val allViolations = results.toSeq.sortBy(_._1).collect {
      case (k, v) if budgets.contains(k) && v > budgetMult * budgets(k) =>
        s"""{"q":"$k","best":$v,"budget":${budgets(k)}}"""
    }
    val violations = if (hostLoaded) Seq.empty else allViolations
    val suspectViolations = if (hostLoaded) allViolations else Seq.empty
    val unbudgeted = results.keys.filterNot(budgets.contains).toSeq.sorted
    val payload =
      s"""{"total":$total,"n_queries":${results.size},"sf":"$sfDir","cpus":$cpus,""" +
      s""""loadavg_start":"$loadStart","loadavg_before":"$loadBefore","loadavg_mid":"$loadMid","loadavg_after":"$loadAfter",""" +
      s""""storage_bytes_mid":$storageMid,"storage_bytes_after":$storageAfter,""" +
      s""""gate":$gateJson,""" +
      s""""class_subtotals":$classJson,""" +
      s""""budget_violations":${violations.mkString("[", ",", "]")},""" +
      s""""budget_violations_suspect_load":${suspectViolations.mkString("[", ",", "]")},""" +
      s""""host_loaded":$hostLoaded,""" +
      s""""unbudgeted":${unbudgeted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""failed":$failedJson,""" +
      s""""queries":$detail}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), payload)
    // ALSO write a round-numbered copy (r4 verdict task 8): the driver
    // overwrites bench_detail.json every round, which made round-over-
    // round per-query regressions (q61-class noise) invisible without
    // git archaeology. Round = max existing BENCH_r* + 1 — the driver
    // writes BENCH_r{N}.json only after the round ends, so during round
    // N the highest on-disk artifact is N−1. Full runs only: dev runs
    // with SPARK_GRAFT_BENCH_ONLY would otherwise overwrite the round's
    // history with a partial query set.
    if (only.isEmpty) {
      val roundNum = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName))
        .map(_.group(1).toInt).foldLeft(0)(math.max) + 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"bench_detail_r$roundNum%02d.json"), payload)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} row(s) threw: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** One timed pass: each row's wall seconds to `count()` its result,
    * `after()` between rows. A row that throws gets its error message
    * instead of a time. */
  def timedPass(spark: SparkSession, dir: String,
                rows: Seq[(String, (SparkSession, String) => DataFrame)],
                after: () => Unit): (Map[String, Double], Map[String, String]) = {
    val times = Map.newBuilder[String, Double]
    val errors = Map.newBuilder[String, String]
    rows.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, dir).count()
        times += name -> (System.nanoTime() - t0) / 1e9
      } catch { case NonFatal(e) => errors += name -> e.toString }
      after()
    }
    (times.result(), errors.result())
  }
}

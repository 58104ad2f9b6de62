package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.LlmOps

/** Round-12 ops: mojibake detection, T5 span corruption, BLEU. */
class R12OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------- mojibake

  test("mojibakeDetect: each signal counts its own damage class") {
    val df = Seq(
      (0L, "café ok clean text"),          // plain é is NOT mojibake
      (1L, "CafÃ© bistro"),           // Ã© = UTF-8 é read as Latin-1
      (2L, "bad � char"),
      (3L, "ctl \u0092 here"),
      (4L, "")).toDF("doc_id", "text")
    val got = LlmOps.mojibakeDetect(df).orderBy("doc_id")
      .select("n_repl", "n_c1", "n_digraph", "mojibake_flag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got(0) == (0L, 0L, 0L, false))
    assert(got(1) == (0L, 0L, 1L, true)) // 2·1e6 div 12 = 166666µ ≥ 5000
    assert(got(2) == (1L, 0L, 0L, true))
    assert(got(3) == (0L, 1L, 0L, true))
    assert(got(4) == (0L, 0L, 0L, false)) // empty: score 0, no div-by-zero
  }

  test("mojibakeDetect: score is integer micros of weighted damage per char") {
    val df = Seq((0L, "x" * 17 + "\ufffd\ufffd" + "\u0092")).toDF("doc_id", "text")
    val r = LlmOps.mojibakeDetect(df).head()
    // n_chars 20, 3·2 + 2·1 = 8 → 8·1e6 div 20 = 400000
    assert(r.getAs[Long]("n_chars") == 20L)
    assert(r.getAs[Long]("mojibake_u") == 400000L)
  }

  // ------------------------------------------------------- span corruption

  private def toks(n: Int, p: String) = (0 until n).map(i => s"$p$i").mkString(" ")

  private def corrupt(rows: (Long, String)*) =
    LlmOps.spanCorrupt(rows.toSeq.toDF("doc_id", "text"), 8)
      .select("doc_id", "n_spans", "input_text", "target_text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))

  test("spanCorrupt: doc 0 masks block 0 (len 1), block 1 passes through") {
    // idHash(0·31+0)%4 = 0, sl 1; idHash(0·31+1)%4 = 1
    val Array((_, n, in, tgt)) = corrupt(0L -> toks(16, "a"))
    assert(n == 1L)
    assert(in == "a0 <extra_id_0> " + (2 to 7).map("a" + _).mkString(" ") +
      " " + (8 to 15).map("a" + _).mkString(" "))
    assert(tgt == "<extra_id_0> a1 <extra_id_1>")
  }

  test("spanCorrupt: doc 8 hides a 3-token span; doc 1 masks the SECOND block") {
    val Array((_, n8, in8, tgt8), _) = corrupt(8L -> toks(16, "x"), 9L -> "")
    assert(n8 == 1L && tgt8 == "<extra_id_0> x1 x2 x3 <extra_id_1>")
    assert(in8.startsWith("x0 <extra_id_0> x4 x5 x6 x7 x8"))
    // doc 1: block 0 unmasked (h%4=3), block 1 masked (h%4=0, sl=2)
    val Array((_, n1, in1, tgt1)) = corrupt(1L -> toks(16, "b"))
    assert(n1 == 1L && tgt1 == "<extra_id_0> b9 b10 <extra_id_1>")
    assert(in1 == (0 to 7).map("b" + _).mkString(" ") +
      " b8 <extra_id_0> " + (11 to 15).map("b" + _).mkString(" "))
  }

  test("spanCorrupt: spans never break the fits rule; empty docs are total") {
    // doc 4 block 0: h%4=0, sl=1 → needs ≥3 tokens to mask
    val got = corrupt(4L -> "p0 p1 p2", 35L -> "q0 q1", 36L -> "")
    assert(got(0) == (4L, 1L, "p0 <extra_id_0> p2", "<extra_id_0> p1 <extra_id_1>"))
    assert(got(1)._2 == 0L) // 2 tokens: no room for span+tail whatever the hash
    assert(got(1)._3 == "q0 q1" && got(1)._4 == "<extra_id_0>")
    assert(got(2) == (36L, 0L, "", "<extra_id_0>"))
  }

  test("spanCorrupt: reassembling input+target recovers every token") {
    val d = docsFixture.limit(40)
    val out = LlmOps.spanCorrupt(d, 8)
    // every token of the original appears in input ∪ target (sentinels aside)
    val bad = out.withColumn("orig",
        filter(split(coalesce(col("text"), lit("")), " "), z => length(z) >= 1))
      .withColumn("recon", concat(
        filter(split(col("input_text"), " "),
          z => length(z) >= 1 && !z.startsWith("<extra_id_")),
        filter(split(col("target_text"), " "),
          z => length(z) >= 1 && !z.startsWith("<extra_id_"))))
      .filter(size(col("orig")) =!= size(col("recon")))
      .count()
    assert(bad == 0L)
  }

  private def docsFixture =
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")

  // ------------------------------------------------------------------ bleu

  private def bleu(ref: String, cand: String): org.apache.spark.sql.Row =
    LlmOps.bleuScore(Seq((0L, ref, cand)).toDF("doc_id", "ref", "cand"),
      "ref", "cand").head()

  test("bleu: identical sentences score exactly 1.0 (10⁶ micros)") {
    val r = bleu("the cat sat on the mat", "the cat sat on the mat")
    assert(r.getAs[Long]("match_1") == 6 && r.getAs[Long]("total_1") == 6)
    assert(r.getAs[Long]("match_4") == 3 && r.getAs[Long]("total_4") == 3)
    assert(r.getAs[Long]("bleu_u") == 1000000L)
  }

  test("bleu: clipping caps repeated-gram credit; missing 2-grams zero it") {
    val r = bleu("the cat", "the the the the")
    assert(r.getAs[Long]("match_1") == 1) // 'the' clipped to ref count 1
    assert(r.getAs[Long]("total_1") == 4)
    assert(r.getAs[Long]("match_2") == 0)
    assert(r.getAs[Long]("bleu_u") == 0L)
  }

  test("bleu: brevity penalty for a shorter candidate; hand-checked value") {
    val r = bleu("a b c d e", "a b c d")
    // all p_n = 1, BP = exp(1 - 5/4)
    val expect = Math.round(Math.exp(1.0 - 5.0 / 4.0) * 1e6)
    assert(r.getAs[Long]("bleu_u") == expect)
  }

  // ---------------------------------------------------------------- rouge-l

  private def lcsRef(a: Seq[String], b: Seq[String]): Long = {
    val dp = Array.ofDim[Long](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
                 else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.length)(b.length)
  }

  test("rougeL: hand case + F1 reduces to 2·LCS/(|r|+|c|)") {
    val r = LlmOps.rougeL(
      Seq((0L, "a b c d", "a x c")).toDF("doc_id", "ref", "cand"),
      "ref", "cand").head()
    assert(r.getAs[Long]("lcs") == 2L)
    assert(r.getAs[Long]("rouge_p_u") == 666666L)  // 2e6 div 3
    assert(r.getAs[Long]("rouge_r_u") == 500000L)
    assert(r.getAs[Long]("rouge_f_u") == 571428L)  // 4e6 div 7
  }

  test("rougeL: fold matches a reference DP on random token arrays") {
    val rnd = new scala.util.Random(7)
    val cases = (0 until 10).map { i =>
      def arr = Seq.fill(2 + rnd.nextInt(12))("tok" + rnd.nextInt(5))
      (i.toLong, arr.mkString(" "), arr.mkString(" "))
    }
    val got = LlmOps.rougeL(cases.toDF("doc_id", "ref", "cand"), "ref", "cand")
      .select("doc_id", "lcs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, rs, cs) =>
      assert(got(id) == lcsRef(rs.split(" ").toSeq, cs.split(" ").toSeq),
        s"doc $id: '$rs' vs '$cs'")
    }
  }

  test("rougeL: empty sides are total and score zero") {
    val rows = LlmOps.rougeL(
      Seq((0L, "", "a b"), (1L, "a b", ""), (2L, null.asInstanceOf[String], null.asInstanceOf[String]))
        .toDF("doc_id", "ref", "cand"), "ref", "cand")
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("lcs") == 0L && r.getAs[Long]("rouge_f_u") == 0L)
    }
  }

  // -------------------------------------------------------------------- wer

  private def edRef(a: Seq[String], b: Seq[String]): Long = {
    val dp = Array.tabulate[Long](a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j.toLong else if (j == 0) i.toLong else 0L)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(
        dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("wer: hand cases incl. the shift that beats hamming") {
    val rows = LlmOps.werScore(Seq(
      (0L, "the cat sat", "the cat sat"),
      (1L, "the cat sat", "the dog sat"),
      (2L, "a b c d", "b c d e"),      // hamming 4, edit 2 (shift)
      (3L, "a b", "")).toDF("doc_id", "ref", "hyp"), "ref", "hyp")
      .orderBy("doc_id").collect().map(_.getAs[Long]("edit_dist"))
    assert(rows.toSeq == Seq(0L, 1L, 2L, 2L))
  }

  test("wer: fold matches a reference DP on random token arrays") {
    val rnd = new scala.util.Random(11)
    val cases = (0 until 10).map { i =>
      def arr = Seq.fill(1 + rnd.nextInt(12))("t" + rnd.nextInt(4))
      (i.toLong, arr.mkString(" "), arr.mkString(" "))
    }
    val got = LlmOps.werScore(cases.toDF("doc_id", "ref", "hyp"), "ref", "hyp")
      .select("doc_id", "edit_dist").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, rs, hs) =>
      assert(got(id) == edRef(rs.split(" ").toSeq, hs.split(" ").toSeq),
        s"doc $id: '$rs' vs '$hs'")
    }
  }


  test("catalog: .txt tables read as one `line` string column per line") {
    val d = java.nio.file.Files.createTempDirectory("graft_txt_cat")
    java.nio.file.Files.writeString(d.resolve("logs.txt"),
      "alpha beta\ngamma\n")
    val cat = new graft.kql.Catalog(spark, d.toString)
    val got = graft.kql.Kql.run(spark,
      "logs | where line has 'alpha' | count", cat)
    assert(got.head().getLong(0) == 1L)
    assert(cat.table("logs").columns.toSeq == Seq("line"))
    assert(cat.table("logs").count() == 2L)
  }

  // ---------------------------------------------------------- tokenizer oov

  test("tokenizerOov: rare words past the vocab cut count as OOV") {
    // vocab top-2 by (count desc, tok asc): 'the' (3), 'cat' (2)
    val df = Seq((0L, "the cat the"), (1L, "the cat zebra"), (2L, "qux zebra"))
      .toDF("doc_id", "text")
    val got = LlmOps.tokenizerOov(df, 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 3L, 0L, 0L), (1L, 3L, 1L, 333333L),
      (2L, 2L, 2L, 1000000L)))
  }

  // ------------------------------------------------------------ pipeline v5

  test("pipeline v5: every stage is non-vacuous on the fixture") {
    val d = docsFixture
    val damaged = d.withColumn("t2",
      when(pmod(col("doc_id"), lit(5)) === 2,
        regexp_replace(coalesce(col("text"), lit("")), "o", "\ufffd"))
        .when(pmod(col("doc_id"), lit(7)) === 3,
          concat(lit("shared duplicate corpus block "),
            expr("doc_id div 100").cast("string")))
        .otherwise(coalesce(col("text"), lit(""))))
    val gated = LlmOps.mojibakeDetect(damaged, "t2")
      .filter(col("mojibake_u") < 5000).select(col("doc_id"), col("t2"))
    assert(gated.count() < d.count())             // the gate drops damage
    assert(gated.filter(pmod(col("doc_id"), lit(5)) === 2).count() == 0)
    val weighted = LlmOps.dedupSoft(gated, "t2")
    assert(weighted.filter(col("weight_u") < 1000000).count() > 0) // dups exist
    val pairs = LlmOps.spanCorrupt(weighted, 8, textCol = "t2")
    assert(pairs.filter(col("n_spans") === 0).count() > 0)  // span cut bites
    assert(pairs.filter(col("n_spans") > 0).count() > 0)
  }

  // ------------------------------------------------------------- binary ann

  test("annCosineBinary: self-top, sign-flip farthest, deterministic") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val got = LlmOps.annCosineBinary(e, queryId = 0, k = 5)
      .orderBy(col("cos_u").desc, col("vec_id")).collect()
    assert(got.head.getLong(0) == 0L)        // the query is its own top hit
    assert(got.head.getLong(1) == 0L)        // hamming 0 to itself
    assert(got.head.getLong(2) == 10000L)    // cos exactly 1.0
    // a second run over a different layout returns identical rows
    val again = LlmOps.annCosineBinary(e.repartition(7), queryId = 0, k = 5)
      .orderBy(col("cos_u").desc, col("vec_id")).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("annCosineBinary: hamming counts sign disagreements exactly") {
    val vq = Seq.fill(64)(1f)
    val v3 = vq.updated(0, -1f).updated(7, -1f).updated(63, -1f)
    val df = Seq((0L, vq), (1L, v3)).toDF("vec_id", "embedding")
    val got = LlmOps.annCosineBinary(df, 0, k = 2)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 0L), (1L, 3L)))
  }

  test("annCosineBinaryIndexed ≡ in-memory path; words table is 2 columns") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    LlmOps.buildBinaryIndex(e, "bin_spec_idx", buckets = 8)
    val qv = e.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double")))
      .head().getSeq[Double](0).toArray
    val direct = LlmOps.annCosineBinary(e, 0, k = 10)
      .orderBy(col("cos_u").desc, col("vec_id")).collect().map(_.toSeq).toSeq
    val indexed = LlmOps.annCosineBinaryIndexed(spark, "bin_spec_idx", qv, k = 10)
      .orderBy(col("cos_u").desc, col("vec_id")).collect().map(_.toSeq).toSeq
    assert(indexed == direct)
    // the scan side is id + one long word — 8 payload bytes per vector
    assert(spark.table("bin_spec_idx_words").columns.toSeq ==
      Seq("vec_id", "__w"))
  }

  test("annCosineBinary/buildBinaryIndex: a corpus vector wider than 64 raises") {
    // Java's shiftleft is mod 64 — without the per-row guard a dim-65
    // vector would silently WRAP into a corrupted sign word
    val bad = Seq((0L, Seq.fill(64)(1f)), (1L, Seq.fill(65)(1f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      LlmOps.annCosineBinary(bad, 0, k = 2).collect()
    }
    assert(e1.getMessage.contains("dim > 64") ||
      Option(e1.getCause).exists(_.getMessage.contains("dim > 64")),
      e1.getMessage)
    val e2 = intercept[Exception] {
      LlmOps.buildBinaryIndex(bad, "bin_spec_bad")
    }
    assert(e2.getMessage.contains("dim > 64") ||
      Option(e2.getCause).exists(_.getMessage.contains("dim > 64")),
      e2.getMessage)
  }

  test("buildschema renders quote/backslash keys as valid JSON") {
    // keys are arbitrary dynamic-column data: build a JSON doc whose
    // keys contain " and \ (codepoints 34/92, avoiding KQL literal
    // escape ambiguity) and require the rendered schema to RE-PARSE
    val cat2 = new graft.kql.Catalog(spark, TestSpark.sfDir)
    val out = graft.kql.Kql.run(spark,
      """nation | where n_nationkey == 0
         | extend q = unicode_codepoints_to_string(34),
                  b = unicode_codepoints_to_string(92)
         | extend d = strcat('{"a', b, q, 'b": 1, "c', b, b,
                             'd": "x", "e": true}')
         | summarize s = buildschema(d)""", cat2).head.getString(0)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(node.isObject, out)
    assert(node.get("a\"b") != null && node.get("a\"b").asText == "long", out)
    assert(node.get("c\\d") != null && node.get("c\\d").asText == "string", out)
    assert(node.get("e").asText == "bool", out)
  }

  // -------------------------------------------------------- sentence split

  test("sentenceSplit: terminators bound sentences, indexes are in-doc, " +
      "empty docs vanish") {
    val df = Seq(
      (0L, "One two. Three four! Five?"),
      (1L, "No terminator here"),
      (2L, "Trailing dot."),
      (3L, "")).toDF("doc_id", "text")
    val got = LlmOps.sentenceSplit(df).orderBy("doc_id", "sent_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, "One two.", 3L), (0L, 1L, "Three four!", 3L),
      (0L, 2L, "Five?", 3L),
      (1L, 0L, "No terminator here", 1L),
      (2L, 0L, "Trailing dot.", 1L)))
  }

  test("sentenceSplit: mid-sentence periods without whitespace do not split") {
    val got = LlmOps.sentenceSplit(
      Seq((0L, "Version 2.5 shipped. Done.")).toDF("doc_id", "text"))
      .orderBy("sent_idx").collect().map(_.getString(2))
    assert(got.toSeq == Seq("Version 2.5 shipped.", "Done."))
  }

  // --------------------------------------------------------------- softdedup

  test("dedupSoft: group weights sum to one document each") {
    val df = Seq((0L, "same text"), (1L, "Same Text  "), (2L, "unique"))
      .toDF("doc_id", "text")
    val got = LlmOps.dedupSoft(df).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("dup_count"), r.getAs[Long]("weight_u")))
    assert(got.toSeq == Seq((2L, 500000L), (2L, 500000L), (1L, 1000000L)))
  }

  // ------------------------------------------------------------ bm25 index

  test("bm25Indexed ≡ corpus-pass bm25 row for row; postings read is " +
      "bucket-pruned") {
    val d = docsFixture
    LlmOps.buildBm25Index(d, "bm25_spec_idx", buckets = 8)
    val q = "fast window merge sort stream"
    val direct = LlmOps.bm25(d, q, k = 10).collect().map(_.toSeq).toSeq
    val indexed = LlmOps.bm25Indexed(spark, "bm25_spec_idx", q, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(indexed == direct)
    // term IN (...) prunes buckets on the postings read (pin the
    // auto-bucketed-scan rule off, the tmp_bucket_pruned_scan lesson)
    val saved = spark.conf.get(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val plan = spark.table("bm25_spec_idx_post")
        .filter(col("tok").isin("fast", "window"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan.take(2000))
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).get
      assert(m.group(1).toInt < m.group(2).toInt)
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", saved)
  }

  // ------------------------------------------------------------ k-anonymity

  test("kAnonymity: per-combo counts, flag, and risk rollup") {
    val df = Seq(("a", "en"), ("a", "en"), ("a", "en"),
                 ("a", "fr"), ("b", "en")).toDF("src", "lng")
    val combos = LlmOps.kAnonymity(df, Seq("src", "lng"), 2)
      .orderBy("src", "lng").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(combos.toSeq == Seq(("a", "en", 3L, true), ("a", "fr", 1L, false),
      ("b", "en", 1L, false)))
    val roll = LlmOps.kAnonymitySummary(df, Seq("src", "lng"), 2).head()
    assert(roll.getLong(0) == 5L && roll.getLong(1) == 3L &&
      roll.getLong(2) == 2L && roll.getLong(3) == 1L)
  }

  // --------------------------------------------------------- hard negatives

  test("hardNegatives: same-label and near-dup candidates are excluded, " +
      "rank follows quantized cosine") {
    val df = Seq(
      (0L, 0, Seq(1f, 0f)),       // anchor (label 0)
      (1L, 0, Seq(0.99f, 0.1f)),  // same label → never a negative
      (2L, 1, Seq(1f, 0.01f)),    // cos ≈ 0.99995 > 0.9 → near-dup, excluded
      (3L, 1, Seq(1f, 0.6f)),     // cos ≈ 0.857 → hard negative, rank 1
      (4L, 1, Seq(1f, 1.2f)),     // cos ≈ 0.640 → rank 2
      (5L, 2, Seq(0f, 1f)))       // cos 0 → rank 3
      .toDF("vec_id", "label", "embedding")
    val got = LlmOps.hardNegatives(df, anchorEvery = 6, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, 3L), (0L, 2L, 4L), (0L, 3L, 5L)))
  }

  test("hardNegatives: anchors broadcast — no corpus-side shuffle for the pair scan") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val plan = LlmOps.hardNegatives(e, 50, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("hardNegatives: each anchor×candidate pair is scored once, in a projection") {
    for (row <- Seq("llm_hard_negatives", "llm_hard_negatives_ivf")) {
      val q = SparkEntry.queries(row)(spark, TestSpark.sfDir)
      q.collect()
      val plan = (q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
      // every pair score is a projected column: it appears once in its
      // Project and never again in a filter or a join condition
      val scored = plan.linesIterator.filter(_.contains("dot_product_d(")).toSeq
      assert(scored.nonEmpty && scored.forall(l => l.contains(" Project [") &&
        "dot_product_d\\(".r.findAllIn(l).size == 1), s"$row:\n$plan")
      GraftSession.release(spark)
    }
  }

  test("hardNegatives: two-phase k-cut — no corpus-sized single-partition window") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val q = LlmOps.hardNegatives(e, 50, 5)
    val plan = q.queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // phase 1 must key on (anchor_id, __p): each sort group holds at
    // most one input partition's candidates for one anchor — the
    // single-phase shape (anchor_id alone on the full candidate set)
    // sorts ~the whole different-label corpus in ONE task per anchor
    assert(specs.exists(s => s.contains("anchor_id") && s.contains("__p")),
      s"no (anchor_id, __p) pre-cut window in plan:\n${plan.take(2000)}")
    // and the anchor-only final rank exists too (over <= k*P survivors)
    assert(specs.exists(s => s.contains("anchor_id") && !s.contains("__p")),
      s"no final per-anchor rank window:\n${plan.take(2000)}")
    // two-phase ≡ the naive single-phase cut (same deterministic key)
    import org.apache.spark.sql.expressions.Window
    val base = e.select(col("vec_id"), col("label"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val anchors = base.filter(pmod(col("vec_id"), lit(50L)) === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("al"),
        col("v").as("av"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    val naive = base.join(broadcast(anchors), col("label") =!= col("al"))
      .withColumn("cos_u", round(dot(col("av"), col("v")) /
        (sqrt(dot(col("av"), col("av"))) * sqrt(dot(col("v"), col("v")))) *
        10000).cast("long"))
      .filter(col("cos_u") <= 9000)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("anchor_id"))
          .orderBy(col("cos_u").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("anchor_id"), col("rank"), col("vec_id").as("neg_id"),
        col("cos_u"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(q.collect().map(key).sorted.toSeq ==
      naive.collect().map(key).sorted.toSeq)
  }

  test("bleu: KQL reach for all three r12 plugins") {
    val cat = new graft.kql.Catalog(spark, TestSpark.sfDir)
    val n1 = graft.kql.Kql.run(spark,
      "documents | evaluate mojibake_detect(text) | where not(mojibake_flag) | count",
      cat).head().getLong(0)
    assert(n1 > 0)
    val n2 = graft.kql.Kql.run(spark,
      "documents | evaluate span_corrupt(8, text, doc_id) | where n_spans > 0 | count",
      cat).head().getLong(0)
    assert(n2 > 0)
    val n3 = graft.kql.Kql.run(spark,
      "documents | extend ref = text, cand = text | evaluate bleu(ref, cand, doc_id) | where bleu_u == 1000000 | count",
      cat).head().getLong(0)
    assert(n3 > 0)
    val n4 = graft.kql.Kql.run(spark,
      "embeddings | evaluate hard_negatives(50, 5, vec_id, label, embedding) | count",
      cat).head().getLong(0)
    assert(n4 == 50L)
  }
}

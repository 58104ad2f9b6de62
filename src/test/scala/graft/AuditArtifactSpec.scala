package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The at-rest exact-audit artifacts (r11 verdict task 2): each
  * llm_audit_* builder's warehouse tables must be row-identical to the
  * direct inline computation the 8 contract rows previously memoized —
  * the restructure moves WHERE the ground truth is computed (a
  * fresh-every-pass index-build row), never WHAT it is. */
class AuditArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import graft.ext.LlmOps

  private def embs = spark.read.parquet(s"$dir/embeddings.parquet")
  private def docsDf = spark.read.parquet(s"$dir/documents.parquet")

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("buildCosAllAudit tables equal the inline exact references") {
    SparkEntry.buildCosAllAudit(spark, dir)
    val e3 = embs.filter(col("label") <= 3)
    // semdedup drop set: distinct j of the full-corpus unblocked pairs
    val pAll = LlmOps.similarityPairs(embs.withColumn("__all", lit(1)), 0.3,
      blockCol = "__all").select("i", "j").cache()
    assert(asSet(spark.table("graft_audit_sem_drops")) ===
      asSet(pAll.select(col("j").as("vec_id")).distinct()))
    // streaming partner classes: the old inline body over label<=3 pairs
    val p3 = LlmOps.similarityPairs(e3.withColumn("__all", lit(1)), 0.3,
      blockCol = "__all").select("i", "j").cache()
    val und = p3.select(col("i").as("x"), col("j").as("y"))
      .union(p3.select(col("j").as("x"), col("i").as("y")))
    val cls = und.filter(pmod(col("x"), lit(2)) === 1)
      .groupBy("x").agg(
        max((pmod(col("y"), lit(2)) === 0).cast("int")).as("has_even"),
        max((pmod(col("y"), lit(4)) === 1 && pmod(col("x"), lit(4)) === 1 &&
          col("y") < col("x")).cast("int")).as("has_lower_b1"),
        max((pmod(col("y"), lit(4)) === 1 && pmod(col("x"), lit(4)) === 3)
          .cast("int")).as("has_b1"),
        max((pmod(col("y"), lit(4)) === 3 && pmod(col("x"), lit(4)) === 3 &&
          col("y") < col("x")).cast("int")).as("has_lower_b2"))
    assert(asSet(spark.table("graft_audit_cos_stream_cls")) === asSet(cls))
    // incremental should-drop ids over the same label<=3 pair set
    val should = p3.filter(pmod(col("j"), lit(2)) === 1)
      .select(col("j").as("vec_id"))
      .union(p3.filter(pmod(col("i"), lit(2)) === 1 &&
          pmod(col("j"), lit(2)) === 0).select(col("i").as("vec_id")))
      .distinct()
    assert(asSet(spark.table("graft_audit_cos_incr_should")) === asSet(should))
    pAll.unpersist(); p3.unpersist()
  }

  test("buildCosBlockedAudit tables equal the inline exact references") {
    SparkEntry.buildCosBlockedAudit(spark, dir)
    val pBlk = LlmOps.similarityPairs(embs, 0.3).select("i", "j").cache()
    assert(asSet(spark.table("graft_audit_sim_pairs")) === asSet(pBlk))
    assert(asSet(spark.table("graft_audit_cos_drops_blk")) ===
      asSet(pBlk.select(col("j").as("vec_id")).distinct()))
    // exact clustering over the audit labels: identical to the
    // cosineGroups call the contract row previously memoized
    val exp = LlmOps.cosineGroups(embs.filter(col("label") <= 3), 0.3,
        method = "exact")
      .select(col("vec_id"), col("group_id"), col("keep"))
    assert(asSet(spark.table("graft_audit_cos_groups")) === asSet(exp))
    pBlk.unpersist()
  }

  test("jaccard audit tables equal the inline exact references") {
    SparkEntry.buildJaccardBlocksAudit(spark, dir)
    val audit = docsDf.filter(col("source").isin("src0", "src1", "src2", "src3"))
    assert(asSet(spark.table("graft_audit_mh_pairs")) ===
      asSet(LlmOps.jaccardPairs(audit, 0.8, blockCol = Some("source"))
        .select("i", "j")))
    SparkEntry.buildJaccardIncrAudit(spark, dir)
    val d4 = docsDf.filter(col("source").isin("src0", "src1"))
    val mm = d4.agg(min("doc_id"), max("doc_id")).head
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    assert(asSet(spark.table("graft_audit_mh_drops")) ===
      asSet(LlmOps.jaccardPairs(d4, 0.8).select(col("j").as("doc_id"))
        .filter(col("doc_id") >= cut).distinct()))
  }

  /** How many "Failed to compile" errors `body` logs: each is a
    * whole-stage codegen fallback to the interpreted path. */
  private def codegenFailures(body: => Unit): Int = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new AbstractAppender("plant-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to compile"))
          failures.incrementAndGet()
    }
    counter.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(counter, Level.ERROR, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(counter.getName)
      ctx.updateLoggers()
      counter.stop()
    }
    failures.get
  }

  test("building the image plant compiles every stage, with no codegen fallback") {
    assert(codegenFailures(SparkEntry.buildImagePlant(spark, dir)) === 0)
  }

  test("the nine media-header parser rows compile every stage, with no codegen fallback") {
    val rows = Seq("llm_media_sniff", "llm_media_dims", "llm_audio_meta",
      "llm_flac_meta", "llm_mp3_meta", "llm_video_meta", "llm_avif_dims",
      "llm_ogg_meta", "llm_exif_meta")
    assert(codegenFailures(rows.foreach { name =>
      SparkEntry.queries(name)(spark, dir).collect()
      GraftSession.release(spark)
    }) === 0)
  }

  test("media parsers hex a payload prefix in one place: the shared byte reader") {
    val ext = new java.io.File("src/main/scala/graft/ext")
    val hits = ext.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.contains("upper(hex(substring(")).toList
        finally src.close()
      }
    assert(hits.size === 1, hits.mkString("\n"))
  }

  test("vector search writes its exact score, candidate cut and anchor cut once") {
    val ext = new java.io.File("src/main/scala/graft/ext")
    val lines = ext.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
    Seq("round(dotD(", "k * refine",
        "Window.partitionBy(col(\"anchor_id\"), col(\"__p\"))").foreach { p =>
      val hits = lines.filter(_.contains(p))
      assert(hits.size === 1, s"$p:\n" + hits.mkString("\n"))
    }
  }

  test("image plant table carries the planted near-duplicate structure") {
    SparkEntry.buildImagePlant(spark, dir)
    val plant = spark.table("graft_img_plant")
    assert(plant.count() === docsDf.count())
    // payloads are 72-byte bitmaps; doc_id%5==4 rows copy their
    // predecessor with exactly one pixel bumped
    val sizes = plant.select(length(col("payload")).as("n"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(sizes === Set(72))
    val near = plant.select(col("doc_id"), col("payload"))
      .join(plant.select((col("doc_id") + 1).as("doc_id"),
        col("payload").as("prev")), "doc_id")
      .filter(pmod(col("doc_id"), lit(5)) === 4)
      .withColumn("eq_tail",
        expr("substring(payload, 2, 71) = substring(prev, 2, 71)"))
    assert(near.filter(!col("eq_tail")).count() === 0)
  }
}

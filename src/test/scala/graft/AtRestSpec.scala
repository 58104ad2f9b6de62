package graft

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import graft.ext.LlmOps
import graft.sources.{MatAgg, MatViewLayout}

/** The at-rest reader behind the index probes ([[graft.sources.AtRest]]):
  * an index rebuilt in place is always probed at its new version, a
  * warm probe builds its frame with no Spark job, and a small index is
  * scanned as one partition while a large one keeps its bucketed,
  * exchange-free join. */
class AtRestSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
  private lazy val embs = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
  private lazy val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
  private val query = "fast window merge sort stream"

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
  private def jobsDuring[A](body: => A): (A, Int) = CatalogSpec.jobsDuring(spark)(body)
  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString
  private lazy val qRaw: Array[Double] = embs.filter(col("vec_id") === 3)
    .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray

  private def mvAggs = Seq(MatAgg("count", "", "n"), MatAgg("sum", "o_custkey", "s"))
  private def mvDirect: Seq[Row] = rows(orders.groupBy("o_orderpriority")
    .agg(count(lit(1)).as("n"), sum("o_custkey").as("s")).orderBy("o_orderpriority"))

  test("a bm25 index rebuilt in place from other docs is probed at its new version") {
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    LlmOps.buildBm25Index(evens, "atrest_bm25_rebuild")
    assert(rows(LlmOps.bm25Indexed(spark, "atrest_bm25_rebuild", query, 10)) ==
      rows(LlmOps.bm25(evens, query, 10)))
    LlmOps.buildBm25Index(odds, "atrest_bm25_rebuild")
    val odd = rows(LlmOps.bm25(odds, query, 10))
    assert(odd != rows(LlmOps.bm25(evens, query, 10)))
    assert(rows(LlmOps.bm25Indexed(spark, "atrest_bm25_rebuild", query, 10)) == odd)
  }

  test("a PQ index rebuilt in place with another seed is probed with its new quantizers") {
    val dir = tmpDir("atrest_pq_")
    LlmOps.buildPqIndex(embs, dir, nLists = 8, seed = 42)
    val before = rows(LlmOps.annCosineIvfPqIndexed(spark, dir, qRaw, 10, refine = 1))
    val (cents, cbs) = LlmOps.buildPqIndex(embs, dir, nLists = 8, seed = 7)
    val (rc, rcb) = LlmOps.readPqIndexMeta(spark, dir)
    assert(rc.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(rcb.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
    val after = rows(LlmOps.annCosineIvfPqIndexed(spark, dir, qRaw, 10, refine = 1))
    // a session that never read the index reads its meta afresh
    val fresh = spark.newSession()
    assert(after == rows(LlmOps.annCosineIvfPqIndexed(fresh, dir, qRaw, 10, refine = 1)))
    assert(before.nonEmpty && after.nonEmpty)
  }

  test("a minhash index rebuilt with other bands refuses a probe with the old ones") {
    val d = docs.limit(40)
    LlmOps.buildMinhashIndex(d, "atrest_mh_rebuild", numHashes = 16, bands = 4)
    assert(LlmOps.dedupIncremental(d.limit(5), "atrest_mh_rebuild").count() >= 0)
    LlmOps.buildMinhashIndex(d, "atrest_mh_rebuild", numHashes = 16, bands = 8)
    val e = intercept[IllegalArgumentException](
      LlmOps.dedupIncremental(d.limit(5), "atrest_mh_rebuild"))
    assert(e.getMessage.contains("bands=8"), e.getMessage)
  }

  test("a matview refresh that advances the cursor is read back") {
    MatViewLayout.build(orders, "atrest_mv", "orders", Seq("o_orderpriority"),
      mvAggs, "o_orderkey", 400L)
    assert(MatViewLayout.cursorOf(spark, "atrest_mv") == 400L)
    val read = () => rows(MatViewLayout.read(spark, "atrest_mv", _ => orders)
      .orderBy("o_orderpriority"))
    assert(read() == mvDirect)
    MatViewLayout.refresh(spark, "atrest_mv", _ => orders, 1100L)
    assert(MatViewLayout.cursorOf(spark, "atrest_mv") == 1100L)
    assert(read() == mvDirect)
    MatViewLayout.refresh(spark, "atrest_mv", _ => orders, 1500L)
    assert(MatViewLayout.cursorOf(spark, "atrest_mv") == 1500L)
  }

  test("a bm25 index of an empty corpus has a null sum_dl and returns no rows") {
    LlmOps.buildBm25Index(docs.limit(0), "atrest_bm25_empty")
    assert(spark.table("atrest_bm25_empty_meta").head().isNullAt(1))
    assert(rows(LlmOps.bm25Indexed(spark, "atrest_bm25_empty", query, 10)).isEmpty)
  }

  test("four threads probing an index for the first time get one answer") {
    LlmOps.buildBm25Index(docs, "atrest_bm25_threads")
    val dir = tmpDir("atrest_pq_threads_")
    LlmOps.buildPqIndex(embs, dir, nLists = 8)
    val barrier = new CyclicBarrier(4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 4).map(_ => pool.submit { () =>
        barrier.await()
        (rows(LlmOps.bm25Indexed(spark, "atrest_bm25_threads", query, 10)),
          rows(LlmOps.annCosineIvfPqIndexed(spark, dir, qRaw, 10)))
      }).map(_.get(300, TimeUnit.SECONDS))
      assert(got.distinct.size == 1)
      assert(got.head._1 == rows(LlmOps.bm25(docs, query, 10)))
    } finally pool.shutdown()
  }

  private def exchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case e: Exchange => e }

  test("warm probes build their frames with no job; a small bm25 index probes in one job") {
    LlmOps.buildBm25Index(docs, "atrest_bm25_jobs")
    val dir = tmpDir("atrest_pq_jobs_")
    LlmOps.buildPqIndex(embs, dir, nLists = 8)
    MatViewLayout.build(orders, "atrest_mv_jobs", "orders", Seq("o_orderpriority"),
      mvAggs, "o_orderkey", 700L)
    val src = orders
    def probes(): Seq[DataFrame] = Seq(
      LlmOps.bm25Indexed(spark, "atrest_bm25_jobs", query, 10),
      MatViewLayout.read(spark, "atrest_mv_jobs", _ => src),
      LlmOps.annCosineIvfPqIndexed(spark, dir, qRaw, 10))
    probes().foreach(_.collect()) // warms the reader
    val (frames, jobs) = jobsDuring(probes())
    assert(jobs == 0)
    val bm = frames.head
    val (got, runJobs) = jobsDuring(bm.collect().toSeq)
    assert(got == rows(LlmOps.bm25(docs, query, 10)))
    assert(runJobs == 1)
    assert(exchanges(bm.queryExecution.executedPlan).isEmpty,
      bm.queryExecution.executedPlan.toString)
  }

  test("a bucketed index above one split keeps its bucketed scan and joins with no exchange") {
    LlmOps.buildBm25Index(docs, "atrest_bm25_large")
    GraftSession.pinned(spark, "spark.sql.files.maxPartitionBytes" -> "1k") { s =>
      val df = LlmOps.bm25Indexed(s, "atrest_bm25_large", query, 10)
      assert(rows(df) == rows(LlmOps.bm25(docs, query, 10)))
      val plan = df.queryExecution.executedPlan
      val joins = collect(plan) { case j: ShuffledHashJoinExec => j }
      assert(joins.size == 1, plan.toString)
      assert(exchanges(joins.head).isEmpty, plan.toString)
      val scans = collect(joins.head) { case f: FileSourceScanExec => f }
      assert(scans.size == 2 && scans.forall(_.bucketedScan), plan.toString)
    }
  }
}

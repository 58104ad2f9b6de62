package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types.TimestampType
import graft.kql.{Catalog, Kql}

/** The session-scoped table metadata cache behind `Catalog`: schema
  * inference runs once per session, table and listing, and a changed
  * listing is always seen by the next lookup. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A fresh single-file copy of the fixture's events table (its `ts` is
    * parquet TIMESTAMP(NANOS)): a path this session has never resolved. */
  private def eventsCopy(dir: String): Unit =
    Files.copy(Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      Paths.get(s"$dir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

  /** Spark jobs `body` starts on this thread. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("catalog.spec") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("catalog.spec", tag)
    try {
      val a = body
      org.apache.spark.TestListenerBus.drain(sc)
      (a, jobs.get)
    } finally {
      sc.setLocalProperty("catalog.spec", null)
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("resolving a table again in one session starts no Spark job") {
    val dir = tmpDir("cat_jobs_")
    eventsCopy(dir)
    val (miss, missJobs) = jobsDuring(Catalog(spark, dir).table("events"))
    assert(missJobs > 0, "the first resolution infers the schema with a job")
    val (hit, hitJobs) = jobsDuring(Catalog(spark, dir).table("events"))
    assert(hitJobs == 0)
    assert(hit.schema == miss.schema)
    assert(hit.schema("ts").dataType == TimestampType)
    assert(rows(hit) == rows(miss))
  }

  test("an overwritten table is seen with its new schema and rows") {
    import spark.implicits._
    val dir = tmpDir("cat_rewrite_")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(rows(Kql.run(spark, "t", dir)) == Seq(Row(1L, "a"), Row(2L, "b")))
    Seq((7.5, true)).toDF("x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Kql.run(spark, "t", dir)
    assert(after.columns.toSeq == Seq("x", "flag"))
    assert(rows(after) == Seq(Row(7.5, true)))
  }

  test("a table file created after a failed lookup resolves on the next lookup") {
    import spark.implicits._
    val dir = tmpDir("cat_late_")
    val c = Catalog(spark, dir)
    intercept[AnalysisException](c.table("late"))
    Seq(3L, 4L).toDF("id").write.parquet(s"$dir/late.parquet")
    assert(rows(c.table("late")) == Seq(Row(3L), Row(4L)))
    assert(rows(Kql.run(spark, "late | where id > 3", dir)) == Seq(Row(4L)))
  }

  test("four threads resolving a table for the first time get one schema") {
    val dir = tmpDir("cat_threads_")
    eventsCopy(dir)
    val barrier = new CyclicBarrier(4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val schemas = (1 to 4).map(_ => pool.submit { () =>
        barrier.await()
        Catalog(spark, dir).table("events").schema
      }).map(_.get(120, TimeUnit.SECONDS))
      assert(schemas.distinct.size == 1)
      assert(schemas.head("ts").dataType == TimestampType)
      assert(Catalog(spark, dir).table("events").schema == schemas.head)
    } finally pool.shutdown()
  }
}

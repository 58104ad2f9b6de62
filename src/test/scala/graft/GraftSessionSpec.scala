package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** GraftSession is the one owner of session config: rows pin their conf
  * on a clone and never write the caller's session, and no other file
  * builds a session or sets conf on one. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val shuffleKey = "spark.sql.shuffle.partitions"

  test("pinned runs on a clone that carries the caller's conf plus the override") {
    spark.conf.set("graft.test.caller_key", "kept")
    try {
      val seen = GraftSession.pinned(spark, shuffleKey -> "3") { s =>
        assert(!(s eq spark))
        assert(SparkSession.active eq s, "the clone is the body's active session")
        (s.conf.get(shuffleKey), s.conf.get("graft.test.caller_key"))
      }
      assert(seen == ("3", "kept"))
      assert(spark.conf.get(shuffleKey) == "4")
      assert(SparkSession.active eq spark)
    } finally spark.conf.unset("graft.test.caller_key")
  }

  test("tmp_stream_join never changes the caller's shuffle partitions while it runs") {
    val row = Future(SparkEntry.queries("tmp_stream_join")(spark, TestSpark.sfDir).collect())
    val seen = Seq.newBuilder[String]
    while (!row.isCompleted) {
      seen += spark.conf.get(shuffleKey)
      Thread.sleep(5)
    }
    assert(Await.result(row, 1.minute).nonEmpty)
    val values = seen.result().toSet
    assert(values == Set("4"), s"caller read $values during the row")
  }

  test("tmp_bucket_pruned_scan leaves the caller's autoBucketedScan=false alone") {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(key, "false")
    try {
      assert(SparkEntry.queries("tmp_bucket_pruned_scan")(spark, TestSpark.sfDir)
        .count() == 2L)
      assert(spark.conf.get(key) == "false")
    } finally spark.conf.unset(key)
  }

  private def sources(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }
  private def offenders(root: String, call: scala.util.matching.Regex,
                        allowed: Set[String]): Seq[String] =
    sources(root).filterNot(p => allowed(p.getFileName.toString))
      .filter(p => call.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(_.toString)

  test("only GraftSession builds a SparkSession") {
    val found = offenders("src", "SparkSession\\s*\\.\\s*builder".r,
      Set("GraftSession.scala"))
    assert(found.isEmpty, s"build through GraftSession.create instead: $found")
  }

  test("no main source sets or unsets session conf outside GraftSession") {
    // StreamingOps is exempt: its sets run on foreachBatch's
    // batch.sparkSession, the stream's own clone, and V1 insertInto
    // ignores a per-write partitionOverwriteMode option
    val found = offenders("src/main", "\\.conf\\s*\\.\\s*(set|unset)\\s*\\(".r,
      Set("GraftSession.scala", "StreamingOps.scala"))
    assert(found.isEmpty, s"pin conf with GraftSession.pinned instead: $found")
  }
}

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

  test("release deletes the scratch directories of the rows that stage files") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def graftEntries = tmp.list().filter(_.startsWith("graft_")).toSet
    val before = graftEntries
    Seq("tmp_stream_scan", "tmp_stream_matview_refresh", "tmp_stream_hard_negatives",
      "llm_ann_ivf_indexed", "llm_ann_pq_indexed", "tmp_zorder_scan",
      "tmp_hilbert_scan").foreach { row =>
      assert(SparkEntry.queries(row)(spark, TestSpark.sfDir).collect().nonEmpty, row)
    }
    GraftSession.release(spark)
    val left = graftEntries -- before
    assert(left.isEmpty, s"left under java.io.tmpdir: $left")
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
    val found = offenders("src/main", "\\.conf\\s*\\.\\s*(set|unset)\\s*\\(".r,
      Set("GraftSession.scala"))
    assert(found.isEmpty, s"pin conf with GraftSession.pinned instead: $found")
  }

  test("StreamingOps.sink is the one foreachBatch under src/main") {
    val calls = sources("src/main").flatMap { p =>
      "\\.foreachBatch\\s*[({]".r
        .findAllIn(java.nio.file.Files.readString(p)).map(_ => p.getFileName.toString)
    }
    assert(calls == Seq("StreamingOps.scala"),
      s"start a batch sink through StreamingOps' one sink and commit: $calls")
  }

  test("only StreamingOps builds, starts or drives a stream") {
    val found = offenders("src/main",
      "\\.processAllAvailable\\s*\\(|\\.writeStream\\b|MemoryStream\\s*\\[".r,
      Set("StreamingOps.scala"))
    assert(found.isEmpty,
      s"use StreamingOps.memoryStream, toMemory and drive instead: $found")
  }

  test("Rounds.partitioner is the one HashPartitioner under src/main") {
    val calls = sources("src/main").flatMap { p =>
      "new\\s+(org\\.apache\\.spark\\.)?HashPartitioner\\b".r
        .findAllIn(java.nio.file.Files.readString(p)).map(_ => p.getFileName.toString)
    }
    assert(calls == Seq("Rounds.scala"),
      s"size an iterative loop's partitioner with Rounds.partitioner: $calls")
  }

  test("only GraftSession makes directories under java.io.tmpdir") {
    val found = offenders("src/main", "java\\.io\\.tmpdir|createTempDirectory".r,
      Set("GraftSession.scala"))
    assert(found.isEmpty, s"stage files in GraftSession.scratch instead: $found")
  }

  test("the at-rest reader is the one file walk and the one per-session cache") {
    for (call <- Seq("Files.walk", "WeakHashMap[SparkSession")) {
      val found = sources("src/main").flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        java.util.regex.Pattern.quote(call).r.findAllIn(text).map(_ => p.getFileName.toString)
      }
      assert(found == Seq("AtRest.scala"), s"$call: list and remember through AtRest: $found")
    }
  }

  test("index probes read their metadata through the at-rest reader") {
    val found = (sources("src/main/scala/graft/ext") ++ sources("src/main/scala/graft/sources"))
      .filter { p =>
        val text = java.nio.file.Files.readString(p)
        text.contains("_meta\").head") || text.contains("/meta\").collect()")
      }.map(_.toString)
    assert(found.isEmpty, s"read index metadata with AtRest.tableMeta or pathMeta: $found")
  }

  test("only graft/sources drops catalog tables") {
    val found = offenders("src/main", "DROP TABLE IF EXISTS".r, Set.empty)
      .filterNot(_.contains("/graft/sources/"))
    assert(found.isEmpty, s"use BucketedLayout.clearStale instead: $found")
  }
}

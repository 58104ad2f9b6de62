package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a row that throws gets an error, never a time, in a bench pass") {
    val rows: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(3).toDF()),
      "planted" -> ((_, _) => throw new IllegalStateException("planted failure")))
    var cleared = 0
    val (times, errors) = Bench.timedPass(spark, TestSpark.sfDir, rows, () => cleared += 1)
    assert(times.keySet == Set("ok"))
    assert(errors.keySet == Set("planted"))
    assert(errors("planted").contains("planted failure"))
    assert(cleared == 2)
  }

  test("a scale op that throws is written with its error and no time") {
    val ok = Scale.timed(() => 7L)
    assert(ok.startsWith("\"out_rows\":7,\"sec\":"), ok)
    val failed = Scale.timed(() => throw new IllegalStateException("planted failure"))
    assert(failed == "\"error\":\"java.lang.IllegalStateException\"")
    assert(!failed.contains("sec") && !failed.contains("out_rows"))
  }
}

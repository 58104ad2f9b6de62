package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Replays golden digests of the rows that run under
  * [[GraftSession.pinned]]: schema, row count and a SHA-256 over the
  * sorted row strings at sf0.001. The goldens were recorded before those
  * rows moved off session-wide conf toggles; they change only when the
  * DuckDB oracle has certified new values, never to make a refactor
  * pass. */
class PinnedRowGoldensSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val goldens: Seq[Array[String]] = {
    val in = getClass.getResourceAsStream("/goldens/pinned_rows_sf0.001.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).map(_.split("\t")).toList
    finally in.close()
  }

  private def digest(df: DataFrame): (String, String, String) = {
    val lines = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    (lines.length.toString, hex, df.schema.catalogString)
  }

  test("goldens cover the 18 pinned rows") {
    assert(goldens.map(_(0)).distinct.size == 18)
  }

  goldens.foreach { case Array(name, n, hash, schema) =>
    test(s"$name matches its golden digest") {
      val got = digest(SparkEntry.queries(name)(spark, TestSpark.sfDir))
      GraftSession.release(spark)
      assert(got == ((n, hash, schema)))
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Replays golden digests of the rows that run under
  * [[GraftSession.pinned]] and of the rows that stage files in
  * [[GraftSession.scratch]]: schema, row count and a SHA-256 over the
  * sorted row strings at sf0.001. Each set was recorded before its rows
  * were refactored; the goldens change only when the DuckDB oracle has
  * certified new values, never to make a refactor pass. Every row runs
  * twice in one session, so state a first run leaves behind (a reused
  * directory, checkpoint or table) shows on the second. */
class PinnedRowGoldensSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def load(resource: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(resource)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).map(_.split("\t")).toList
    finally in.close()
  }
  private val goldens = load("/goldens/pinned_rows_sf0.001.tsv")
  private val scratchGoldens = load("/goldens/scratch_rows_sf0.001.tsv")

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

  (goldens ++ scratchGoldens).foreach { case Array(name, n, hash, schema) =>
    test(s"$name matches its golden digest") {
      val runs = Seq.fill(2) {
        val got = digest(SparkEntry.queries(name)(spark, TestSpark.sfDir))
        GraftSession.release(spark)
        got
      }
      assert(runs == Seq.fill(2)((n, hash, schema)))
    }
  }
}

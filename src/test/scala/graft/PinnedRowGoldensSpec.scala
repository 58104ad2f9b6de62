package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.kql.{Catalog, Kql}

/** Replays golden digests of the rows that run under
  * [[GraftSession.pinned]], of the rows that stage files in
  * [[GraftSession.scratch]], and of the `evaluate` plugins no other spec
  * reaches, of the nine media-header parser rows, of the 13 rows
  * that run graft's iterative operators, of the nine ANN and
  * hard-negative rows no other golden covers, of the five rows that
  * open an at-rest index or table no other golden reads, and of
  * `llm_fingerprint` and the KQL texts whose literals `ParamLiteralSpec`
  * varies: schema, row count
  * and a SHA-256 over the sorted row strings at sf0.001. Each set was
  * recorded before its code was refactored; the goldens change only when
  * the DuckDB oracle has certified new values, never to make a refactor
  * pass. Every pinned and scratch row runs twice
  * in one session, so state a first run leaves behind (a reused
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
  private val pluginGoldens = load("/goldens/plugin_rows_sf0.001.tsv")
  private val mediaGoldens = load("/goldens/media_rows_sf0.001.tsv")
  private val loopGoldens = load("/goldens/loop_rows_sf0.001.tsv")
  private val vectorGoldens = load("/goldens/vector_rows_sf0.001.tsv")
  private val indexGoldens = load("/goldens/index_rows_sf0.001.tsv")
  private val literalGoldens = load("/goldens/literal_rows_sf0.001.tsv")
  private lazy val catalog = Catalog(spark, TestSpark.sfDir)

  import PinnedRowGoldensSpec.digest

  test("goldens cover the 18 pinned rows") {
    assert(goldens.map(_(0)).distinct.size == 18)
  }

  test("goldens cover the 9 media-header parser rows") {
    assert(mediaGoldens.map(_(0)).distinct.size == 9)
  }

  test("goldens cover the 13 loop rows") {
    assert(loopGoldens.map(_(0)).distinct.size == 13)
  }

  test("goldens cover the 9 vector rows") {
    assert(vectorGoldens.map(_(0)).distinct.size == 9)
  }

  test("goldens cover the 5 index rows") {
    assert(indexGoldens.map(_(0)).distinct.size == 5)
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

  // a plugin or literal row with a fifth column is that KQL query over
  // the fixture tables; one without (and every media, loop, vector and
  // index row) is the inventory row of that name
  (pluginGoldens ++ mediaGoldens ++ loopGoldens ++ vectorGoldens ++ indexGoldens ++
      literalGoldens).foreach { g =>
    test(s"${g(0)} matches its golden digest") {
      if (g(0) == "bm25_indexed")
        graft.ext.LlmOps.buildBm25Index(catalog.table("documents"), "graft_golden_bm25")
      val df =
        if (g.length == 5) Kql.run(spark, g(4), catalog)
        else SparkEntry.queries(g(0))(spark, TestSpark.sfDir)
      val got = digest(df)
      GraftSession.release(spark)
      assert(got == (g(1), g(2), g(3)))
    }
  }
}

object PinnedRowGoldensSpec {
  /** Row count, SHA-256 over the sorted `Row.toString` lines joined by
    * `\n`, and the schema's catalog string. */
  def digest(df: DataFrame): (String, String, String) = {
    val lines = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    (lines.length.toString, hex, df.schema.catalogString)
  }
}

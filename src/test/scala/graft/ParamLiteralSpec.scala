package graft

import java.time.{Duration, Instant, LocalDate, LocalDateTime, Period}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.expr.ParamLiteral
import graft.kql.{Catalog, Kql}

/** Filter and projection literals become [[ParamLiteral]]s in the
  * physical plan: a text that differs from an earlier one only in literal
  * values reuses the earlier text's compiled classes, every type gives
  * the rows a plain literal gives, and scans keep their pushed values. */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private lazy val catalog = Catalog(spark, TestSpark.sfDir)

  /** The KQL texts of the literal goldens, by template: the texts of one
    * template differ only in literal values. */
  private val templates: Map[String, Seq[String]] = {
    val in = getClass.getResourceAsStream("/goldens/literal_rows_sf0.001.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).map(_.split("\t")).filter(_.length == 5).toList
      .groupBy(_(0).takeWhile(_ != '#')).map { case (t, gs) => t -> gs.sortBy(_(0)).map(_(4)) }
    finally in.close()
  }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    collect(plan)(_.expressions).flatten.flatMap(_.collect { case p: ParamLiteral => p })

  test("texts that differ only in literal values compile no new class") {
    assert(templates.keySet == Set("lit_lineitem", "lit_events", "lit_orders"))
    templates.foreach { case (name, Seq(first, second)) =>
      Kql.run(spark, first, catalog).collect()
      val before = compiled
      val df = Kql.run(spark, second, catalog)
      df.collect()
      assert(compiled == before, s"$name compiled ${compiled - before} new classes")
      assert(params(df.queryExecution.executedPlan).nonEmpty, name)
      GraftSession.release(spark)
    }
  }

  test("a scan keeps its pushed filter value; the filter above it prints the same literal") {
    val df = Kql.run(spark, "lineitem | where l_quantity > 17 | project l_orderkey, q = l_quantity + 2",
      catalog)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    assert(scans.head.metadata("PushedFilters").contains("GreaterThan(l_quantity,17.0)"),
      scans.head.metadata)
    assert(scans.head.dataFilters.exists(_.exists(_.isInstanceOf[Literal])), plan.toString)
    val conds = collect(plan) { case f: FilterExec => f.condition }
    assert(conds.size == 1 && conds.head.exists(_.isInstanceOf[ParamLiteral]), plan.toString)
    val plain = conds.head.transform { case p: ParamLiteral => p.literal }
    assert(conds.head.toString == plain.toString && conds.head.sql == plain.sql)
    assert(conds.head.toString.contains("> 17.0"), conds.head.toString)
  }

  test("a plan with more literals than a query has parameters keeps them inline") {
    val few = spark.range(4).select((1 to 8).map(i => (col("id") + i).as(s"c$i")): _*)
    val many = spark.range(4).select((1 to 200).map(i => (col("id") + i).as(s"c$i")): _*)
    Seq(few, many).foreach(_.collect())
    assert(params(few.queryExecution.executedPlan).size == 8)
    assert(params(many.queryExecution.executedPlan).isEmpty)
  }

  // one column per type whose values Literal.doGenCode writes into the
  // source, and the values each literal takes (the column holds them
  // all, and a null)
  private val matrix: Seq[(String, Seq[Any])] = Seq(
    "i" -> Seq(7, 0, -1, Int.MinValue, Int.MaxValue),
    "l" -> Seq(42L, 0L, Long.MinValue, Long.MaxValue),
    "s" -> Seq(3.toShort, 0.toShort, Short.MinValue),
    "b" -> Seq(0.toByte, Byte.MinValue, Byte.MaxValue),
    "f" -> Seq(1.5f, 0.0f, -0.0f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity),
    "d" -> Seq(0.1, 0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue),
    "dt" -> Seq(LocalDate.of(1995, 3, 1), LocalDate.of(1970, 1, 1), LocalDate.of(1969, 12, 31)),
    "ts" -> Seq(Instant.parse("1996-01-02T03:04:05.123456Z"), Instant.EPOCH,
      Instant.parse("1969-07-20T20:17:40Z")),
    "ntz" -> Seq(LocalDateTime.of(1996, 1, 2, 3, 4, 5, 123456000), LocalDateTime.of(1970, 1, 1, 0, 0)),
    "dti" -> Seq(Duration.ofHours(36), Duration.ZERO, Duration.ofSeconds(-5)),
    "ymi" -> Seq(Period.ofMonths(14), Period.ZERO, Period.ofMonths(-3)))

  private def data(s: SparkSession): DataFrame = {
    val n = matrix.map(_._2.size).max + 1
    s.range(2 * n).select(col("id") +: matrix.map { case (c, vs) =>
      val held = array((vs.map(lit) :+ lit(null)): _*)
      element_at(held, (col("id") % (vs.size + 1) + 1).cast("int")).as(c)
    }: _*)
  }

  /** The filter keeps the rows at or above `v` (NaN is above every
    * number); the projection uses `v` alone and with the column. */
  private def probe(d: DataFrame, c: String, v: Any): DataFrame = {
    val x = col(c)
    val k: Column = lit(v)
    d.filter(x === k || x > k).select(col("id"), k.as("k"), coalesce(x, k).as("co"),
      (x === k).as("eq"), (x <=> k).as("ns"), (x < k).as("lt"), greatest(x, k).as("gr"),
      when(x > k, k).otherwise(x).as("cw"))
  }

  test("filters and projections give the rows plain literals give, codegen on and off") {
    val modes = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true"),
      Seq("spark.sql.codegen.wholeStage" -> "false"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes; (c, vs) <- matrix; v <- vs) {
      GraftSession.pinned(spark, ("spark.sql.adaptive.enabled" -> "false") +: mode: _*) { s =>
        val plan = probe(data(s), c, v).queryExecution.executedPlan
        assert(params(plan).nonEmpty, plan.toString)
        val plain = plan.transformAllExpressions { case p: ParamLiteral => p.literal }
        // the tasks read the pinned codegen confs only when they are propagated
        def rows(p: SparkPlan) =
          SQLExecution.withSQLConfPropagated(s.asInstanceOf[classic.SparkSession])(p.executeCollect().toSeq)
        val got = rows(plan)
        val want = rows(plain)
        assert(want.nonEmpty && got == want, s"$c = $v under $mode")
      }
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import graft.sources.{MatAgg, MatViewLayout}

/** Materialized-view contract: read ≡ the full-table aggregation at any
  * cursor position, across refreshes, for every mergeable aggregate —
  * and the read plan touches the store + a pushed-down delta scan, not
  * the source's history. */
class MatViewLayoutSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def orders = ordersIn(spark)
  private def ordersIn(s: SparkSession) = s.read.parquet(s"${TestSpark.sfDir}/orders.parquet")

  private val aggs = Seq(
    MatAgg("count", "", "n"),
    MatAgg("sum", "cents", "rev_c"),
    MatAgg("min", "o_orderdate", "min_d"),
    MatAgg("max", "o_orderdate", "max_d"),
    MatAgg("avg", "cents", "avg_c"),
    MatAgg("dcount", "o_orderstatus", "d_status"),
    MatAgg("arg_max", "o_orderkey|o_orderstatus", "latest_status"))
  private val derive = Seq("cents" -> "CAST(ROUND(o_totalprice * 100) AS BIGINT)")

  private def direct: DataFrame = directIn(spark)
  private def directIn(s: SparkSession): DataFrame =
    ordersIn(s).withColumn("cents", expr(derive.head._2))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("rev_c"),
        min("o_orderdate").as("min_d"), max("o_orderdate").as("max_d"),
        (sum("cents").cast("double") / count(lit(1))).as("avg_c"),
        countDistinct("o_orderstatus").as("d_status"),
        max(struct(col("o_orderkey"), col("o_orderstatus")))
          .getField("o_orderstatus").as("latest_status"))

  private def sortedRows(df: DataFrame) =
    df.orderBy("o_orderpriority").collect().map(_.toSeq).toSeq

  /** The exchanges of `df`'s executed plan, after it ran. */
  private def exchanges(df: DataFrame) =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  test("read ≡ full aggregation with both store and delta non-empty") {
    MatViewLayout.build(orders, "mv_spec_orders", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 700L, derive)
    // the cursor genuinely splits the data (store AND delta non-empty)
    assert(orders.filter(col("o_orderkey") <= 700).count() > 0)
    assert(orders.filter(col("o_orderkey") > 700).count() > 0)
    val got = MatViewLayout.read(spark, "mv_spec_orders",
      _ => orders)
    assert(sortedRows(got) == sortedRows(direct))
  }

  test("refresh advances the cursor, read stays exact, store stays key-sized") {
    MatViewLayout.build(orders, "mv_spec_orders2", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 400L, derive)
    MatViewLayout.refresh(spark, "mv_spec_orders2", _ => orders, 1100L)
    val meta = spark.table("mv_spec_orders2_meta").head()
    assert(meta.getLong(4) == 1100L)
    // store row count == number of groups (partial states, not history)
    assert(spark.table("mv_spec_orders2_store_c1100").count() ==
      orders.select("o_orderpriority").distinct().count())
    // the directly superseded version is KEPT for in-flight readers;
    // a second refresh drops it (grandparent collection)
    assert(spark.catalog.tableExists("mv_spec_orders2_store_c400"))
    MatViewLayout.refresh(spark, "mv_spec_orders2", _ => orders, 1200L)
    assert(!spark.catalog.tableExists("mv_spec_orders2_store_c400"))
    assert(spark.catalog.tableExists("mv_spec_orders2_store_c1100"))
    val got = MatViewLayout.read(spark, "mv_spec_orders2", _ => orders)
    assert(sortedRows(got) == sortedRows(direct))
    // a cursor that moves backwards is refused
    intercept[IllegalArgumentException] {
      MatViewLayout.refresh(spark, "mv_spec_orders2", _ => orders, 900L)
    }
  }

  test("delta scan pushes the cursor predicate down; store table is read") {
    MatViewLayout.build(orders, "mv_spec_orders3", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 700L, derive)
    val plan = MatViewLayout.read(spark, "mv_spec_orders3", _ => orders)
      .queryExecution.executedPlan.toString
    assert(plan.contains("mv_spec_orders3_store"))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_orderkey,700)"),
      s"cursor filter not pushed to the delta scan:\n$plan")
  }

  test("arg_max merges correctly whichever side holds the winner") {
    import spark.implicits._
    val df = Seq((1L, "k", "old"), (2L, "k", "storewin"),
                 (3L, "q", "deltawin"), (0L, "q", "seed")).toDF("id", "g", "v")
    // winner of g=k (id 2) is IN the store; winner of g=q (id 3) in delta
    MatViewLayout.build(df, "mv_spec_am", "t", Seq("g"),
      Seq(MatAgg("arg_max", "id|v", "latest"),
          MatAgg("arg_min", "id|v", "first")), "id", 2L)
    val got = MatViewLayout.read(spark, "mv_spec_am", _ => df)
      .orderBy("g").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("k", "storewin", "old"), ("q", "deltawin", "seed")))
  }

  test("dcount is exact at small cardinality and merges across the split") {
    import spark.implicits._
    // 6 distinct values split so 3 appear only in store, 2 only in the
    // delta, 1 in both — the union must count 6, not 4 or 7
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "c"),
                 (5L, "d"), (6L, "e"), (7L, "f")).toDF("id", "v")
      .withColumn("g", lit("all"))
    MatViewLayout.build(df, "mv_spec_dc", "t", Seq("g"),
      Seq(MatAgg("dcount", "v", "dv")), "id", 4L)
    val got = MatViewLayout.read(spark, "mv_spec_dc", _ => df).head()
    assert(got.getLong(1) == 6L)
  }

  test("KQL materialized_view('V') resolves; unknown views fail loudly") {
    MatViewLayout.build(orders, "mv_spec_kql", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 700L, derive)
    val cat = new graft.kql.Catalog(spark, TestSpark.sfDir)
    val got = graft.kql.Kql.run(spark,
      "materialized_view('mv_spec_kql') | summarize total = sum(n)", cat)
    assert(got.head().getLong(0) == orders.count())
    val err = intercept[IllegalArgumentException] {
      graft.kql.Kql.run(spark,
        "materialized_view('mv_spec_nope') | count", cat).collect()
    }
    assert(err.getMessage.contains("mv_spec_nope"))
    // a plain table named materialized_view would still parse as a table
    val ast = new graft.kql.Parser("materialized_view | count")
      .parseStatements().query
    assert(ast.source == graft.kql.Ast.TableRef("materialized_view"))
  }

  test("refresh commit order: a crash before the meta flip leaves reads exact") {
    // simulate the failure window the versioned-store protocol exists
    // for: the NEW store version is fully written but the meta pointer
    // was never flipped (crash between the two writes). Reads must
    // resolve the OLD (store, cursor) pair and stay exact; the orphan
    // new version must be unreferenced.
    MatViewLayout.build(orders, "mv_spec_crash", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 500L, derive)
    // hand-write the orphan: what refresh would produce at cursor 1200,
    // but poisoned (zeroed counts) so reading it would provably mismatch
    val poisoned = spark.table("mv_spec_crash_store_c500")
      .withColumn("__p_n", lit(0L))
    graft.sources.BucketedLayout.writePlain(poisoned, "mv_spec_crash_store_c1200")
    // meta still points at c500 ⇒ the poisoned orphan is invisible
    val got = MatViewLayout.read(spark, "mv_spec_crash", _ => orders)
    assert(sortedRows(got) == sortedRows(direct))
    // the retried refresh overwrites the orphan and commits atomically
    MatViewLayout.refresh(spark, "mv_spec_crash", _ => orders, 1200L)
    assert(spark.table("mv_spec_crash_meta").head().getLong(4) == 1200L)
    val after = MatViewLayout.read(spark, "mv_spec_crash", _ => orders)
    assert(sortedRows(after) == sortedRows(direct))
    // superseded c500 kept one refresh (in-flight readers), then collected
    assert(spark.catalog.tableExists("mv_spec_crash_store_c500"))
    MatViewLayout.refresh(spark, "mv_spec_crash", _ => orders, 1300L)
    assert(!spark.catalog.tableExists("mv_spec_crash_store_c500"))
  }

  test("a read planned BEFORE a refresh still collects exactly after it") {
    // snapshot isolation, bounded at one version back: the read's plan
    // resolved the pre-refresh meta and store; the refresh commits and
    // keeps that superseded store, so the in-flight collect is exact
    MatViewLayout.build(orders, "mv_spec_inflight", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 600L, derive)
    val planned = MatViewLayout.read(spark, "mv_spec_inflight", _ => orders)
    MatViewLayout.refresh(spark, "mv_spec_inflight", _ => orders, 1400L)
    assert(sortedRows(planned) == sortedRows(direct))
  }

  test("refresh to the same cursor is a no-op that keeps the store version") {
    MatViewLayout.build(orders, "mv_spec_same", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 800L, derive)
    MatViewLayout.refresh(spark, "mv_spec_same", _ => orders, 800L)
    assert(spark.catalog.tableExists("mv_spec_same_store_c800"))
    val got = MatViewLayout.read(spark, "mv_spec_same", _ => orders)
    assert(sortedRows(got) == sortedRows(direct))
  }

  test("non-mergeable aggregates are refused at build time") {
    intercept[IllegalArgumentException] {
      MatViewLayout.build(orders, "mv_spec_bad", "orders",
        Seq("o_orderpriority"), Seq(MatAgg("percentile", "cents", "p")),
        "o_orderkey", 700L, derive)
    }
  }

  test("a one-split view reads in one job with no exchange") {
    MatViewLayout.build(orders, "mv_spec_one", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 700L, derive)
    val read = MatViewLayout.read(spark, "mv_spec_one", _ => orders)
    val (got, jobs) = CatalogSpec.jobsDuring(spark)(read.collect())
    assert(jobs == 1)
    assert(exchanges(read).isEmpty, read.queryExecution.executedPlan.toString)
    assert(got.map(_.toSeq).sortBy(_.head.toString).toSeq == sortedRows(direct))
  }

  test("a view above one split keeps its shuffled merge and stays exact") {
    MatViewLayout.build(orders, "mv_spec_split", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 700L, derive)
    GraftSession.pinned(spark, "spark.sql.files.maxPartitionBytes" -> "1k") { s =>
      val read = MatViewLayout.read(s, "mv_spec_split", _ => ordersIn(s))
      assert(sortedRows(read) == sortedRows(directIn(s)))
      assert(exchanges(read).nonEmpty, read.queryExecution.executedPlan.toString)
    }
  }

  test("a view over a local frame keeps its shuffled merge and stays exact") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"g${i % 3}", i * 10)).toDF("id", "g", "v")
    MatViewLayout.build(df, "mv_spec_local", "t", Seq("g"),
      Seq(MatAgg("count", "", "n"), MatAgg("sum", "v", "s")), "id", 25L)
    val read = MatViewLayout.read(spark, "mv_spec_local", _ => df)
    val got = read.orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = df.groupBy("g").agg(count(lit(1)), sum("v")).orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    assert(exchanges(read).nonEmpty, read.queryExecution.executedPlan.toString)
  }

  test("a one-split refresh leaves the store a fresh build at its cursor has") {
    MatViewLayout.build(orders, "mv_spec_one_refresh", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 400L, derive)
    MatViewLayout.refresh(spark, "mv_spec_one_refresh", _ => orders, 1100L)
    MatViewLayout.build(orders, "mv_spec_one_fresh", "orders",
      Seq("o_orderpriority"), aggs, "o_orderkey", 1100L, derive)
    // the merge ran in one partition, so the new store is one file
    assert(spark.table("mv_spec_one_refresh_store_c1100").inputFiles.length == 1)
    val refreshed = sortedRows(MatViewLayout.read(spark, "mv_spec_one_refresh", _ => orders))
    assert(refreshed == sortedRows(MatViewLayout.read(spark, "mv_spec_one_fresh", _ => orders)))
    assert(refreshed == sortedRows(direct))
  }
}

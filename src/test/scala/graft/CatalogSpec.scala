package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.kql.{Catalog, Kql}

/** The session-scoped table metadata cache behind `Catalog`: schema
  * inference runs once per session, table and listing, and a changed
  * listing is always seen by the next lookup. A table Spark reads as one
  * split scans as one partition, and no query result changes for it. */
class CatalogSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A fresh single-file copy of the fixture's events table (its `ts` is
    * parquet TIMESTAMP(NANOS)): a path this session has never resolved. */
  private def eventsCopy(dir: String): Unit =
    Files.copy(Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      Paths.get(s"$dir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

  private def jobsDuring[A](body: => A): (A, Int) = CatalogSpec.jobsDuring(spark)(body)

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

  /** Whether `Catalog` handed the table back as a one-partition scan. */
  private def scansAsOne(df: DataFrame): Boolean =
    df.queryExecution.logical.exists {
      case r: Repartition => !r.shuffle && r.numPartitions == 1
      case _ => false
    }

  /** Files under `dir` that Spark's file index skips. */
  private def hiddenFiles(dir: String): Seq[String] = {
    val walk = Files.list(Paths.get(dir))
    try walk.iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("_") || n.startsWith(".")).toVector
    finally walk.close()
  }

  test("a table scans as one partition exactly when Spark reads it as one split") {
    val dir = tmpDir("cat_split_")
    spark.range(0, 800, 1, 8).write.parquet(s"$dir/parts.parquet")
    hiddenFiles(s"$dir/parts.parquet")
      .foreach(n => Files.delete(Paths.get(s"$dir/parts.parquet/$n")))
    spark.range(0, 100, 1, 1).write.parquet(s"$dir/marked.parquet")
    val marks = hiddenFiles(s"$dir/marked.parquet")
    assert(marks.contains("_SUCCESS") && marks.exists(_.endsWith(".crc")), marks)
    /** Spark's partition count for the table, after checking that
      * Catalog's decision agrees with it. */
    def sparkSplits(s: SparkSession, d: String, name: String): Int = {
      val n = s.read.parquet(s"$d/$name.parquet").rdd.getNumPartitions
      assert(scansAsOne(Catalog(s, d).table(name)) == (n == 1),
        s"$name: Spark reads $n partitions")
      n
    }
    assert(sparkSplits(spark, TestSpark.sfDir, "lineitem") == 1)
    // eight part files: Spark's packing spreads them over the cores
    assert(sparkSplits(spark, dir, "parts") > 1)
    // one part file beside the _SUCCESS and .crc files Spark skips
    assert(sparkSplits(spark, dir, "marked") == 1)
    // the same fixture file above a clone's own split size
    GraftSession.pinned(spark, "spark.sql.files.maxPartitionBytes" -> "64k") { s =>
      assert(sparkSplits(s, TestSpark.sfDir, "lineitem") > 1)
    }
  }

  private def shuffles(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  private def broadcasts(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: BroadcastExchangeExec => e }.size

  private val tpchQ3 =
    """customer
      | where c_mktsegment == 'BUILDING'
      | join kind=inner (orders | where o_orderdate < datetime(1996-03-15))
          on $left.c_custkey == $right.o_custkey
      | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
      | summarize rc=sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
          by o_orderkey, o_orderdate
      | extend revenue = todouble(rc) / 10000.0
      | project-away rc
      | sort by revenue desc, o_orderkey asc
      | take 20"""

  test("a tpch_q3-shaped query over one-split tables runs with no shuffle") {
    val dir = TestSpark.sfDir
    val q3 = Kql.run(spark, tpchQ3, dir)
    val (rows, jobs) = jobsDuring(q3.collect().toSeq)
    assert(rows.size == 20)
    assert(shuffles(q3) == 0, q3.queryExecution.executedPlan)
    // one job for the query, and one for each broadcast build side
    assert(broadcasts(q3) == 2 && jobs == 3, q3.queryExecution.executedPlan)
    val agg = Kql.run(spark,
      """lineitem
        | summarize n = count(), q = sum(l_quantity) by l_returnflag, l_linestatus
        | sort by l_returnflag asc, l_linestatus asc""", dir)
    val (_, aggJobs) = jobsDuring(agg.collect())
    assert(shuffles(agg) == 0 && aggJobs == 1, agg.queryExecution.executedPlan)
    // scans above the split size keep their exchanges and the same rows
    GraftSession.pinned(spark, "spark.sql.files.maxPartitionBytes" -> "4k") { s =>
      val multi = Kql.run(s, tpchQ3, dir)
      assert(multi.collect().toSeq == rows)
      assert(shuffles(multi) > 0, multi.queryExecution.executedPlan)
    }
  }

  /** `name` as a plain `spark.read.parquet` frame, with Catalog's
    * timestamp normalization and without its one-partition scan. */
  private def plainFrame(dir: String, name: String): DataFrame = {
    val want = Catalog(spark, dir).table(name).schema
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    raw.schema.fields.foldLeft(raw) { (d, f) =>
      (f.dataType, want(f.name).dataType) match {
        case (LongType, TimestampType) => // TIMESTAMP(NANOS) read as ns
          d.withColumn(f.name, timestamp_micros(expr(s"`${f.name}` div 1000")))
        case (TimestampNTZType, TimestampType) =>
          d.withColumn(f.name, col(f.name).cast("timestamp"))
        case _ => d
      }
    }
  }

  /** The kql_interactive template shapes, then queries that reach the
    * planner's partition-id-sensitive paths (`monotonically_increasing_id`
    * row ids and orders, and the two-phase GlobalWindow). `true` marks a
    * query whose row order is defined; for the others KQL leaves it
    * unspecified (no sort after a `summarize` or a `partition`), and the
    * two plans do differ in it: a one-partition aggregate emits its
    * groups in first-seen order, a shuffled one by hash partition. */
  private val differential: Seq[(String, Boolean)] = Seq(
    """lineitem
      | where l_quantity > 10 and l_returnflag == 'A'
      | project l_orderkey, l_linenumber, l_quantity,
                revenue = l_extendedprice * (1 - l_discount)
      | sort by l_orderkey asc, l_linenumber asc, revenue asc, l_quantity asc
      | take 100""" -> true,
    """lineitem
      | where l_shipdate <= datetime(1998-01-02)
      | summarize sum_qty=sum(tolong(round(l_quantity))),
                  sbp=sum(tolong(round(l_extendedprice * 100))),
                  avg_qty=round(avg(l_quantity), 4), count_order=count()
        by l_returnflag, l_linestatus
      | extend sum_base_price = todouble(sbp) / 100.0
      | project-away sbp
      | sort by l_returnflag asc, l_linestatus asc""" -> true,
    """events
      | where value > 0.5
      | summarize n=count(), total_c=sum(tolong(round(value * 100))) by bin(ts, 6h)
      | extend total = todouble(total_c) / 100.0
      | project-away total_c
      | sort by ts asc""" -> true,
    """lineitem
      | where l_discount <= 0.05
      | summarize n=count(), avg_price=round(avg(l_extendedprice), 4) by bin(l_quantity, 5)
      | sort by l_quantity asc""" -> true,
    tpchQ3 -> true,
    """region
      | where r_name == 'ASIA'
      | join kind=inner (nation) on $left.r_regionkey == $right.n_regionkey
      | join kind=inner (customer) on $left.n_nationkey == $right.c_nationkey
      | join kind=inner (orders) on $left.c_custkey == $right.o_custkey
      | where o_orderdate >= datetime(1995-01-01) and o_orderdate < datetime(1998-01-01)
      | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
      | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
      | where s_nationkey == n_nationkey
      | summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))) by n_name
      | sort by rc desc, n_name asc""" -> true,
    """customer
      | where c_acctbal > -1000
      | join kind=leftsemi (orders | where o_totalprice > 100000) on $left.c_custkey == $right.o_custkey
      | project c_custkey, c_name, c_acctbal
      | sort by c_custkey asc""" -> true,
    """lineitem
      | where l_quantity >= 4
      | lookup (supplier) on $left.l_suppkey == $right.s_suppkey
      | summarize tc=sum(tolong(round(l_extendedprice * 100))) by s_name
      | sort by s_name asc""" -> true,
    """lineitem
      | where l_discount >= 0.02
      | top 15 by l_extendedprice desc, l_orderkey asc, l_linenumber asc, l_partkey asc""" -> true,
    """part
      | where p_size > 2
      | project p_partkey, up=toupper(p_name), ln=strlen(p_name), sub=substring(p_type, 0, 3),
                has_word=iff(p_name contains 'red', 1, 0), cat=strcat(p_brand, ':', p_type)
      | sort by p_partkey asc""" -> true,
    """orders
      | where o_orderdate >= datetime(1995-02-01) and o_totalprice > 1000
      | extend mo = getmonth(o_orderdate), som = startofmonth(o_orderdate)
      | summarize n=count(), tot=sum(tolong(round(o_totalprice * 100))) by mo, som
      | sort by som asc, mo asc""" -> true,
    """lineitem
      | where l_shipdate > datetime(1996-03-01)
      | summarize dc=dcount(l_orderkey), n=count() by l_returnflag, l_linestatus
      | sort by l_returnflag asc, l_linestatus asc""" -> true,
    """documents
      | where lang == 'en' and n_chars > 40
      | summarize n=count(), chars=sum(n_chars) by source
      | sort by source asc""" -> true,
    """lineitem
      | where l_quantity > 21
      | fork flags = (summarize n = count() by l_returnflag)
             heavy = (where l_discount >= 0.02 | summarize n = count())""" -> false,
    // row numbers over a summarize's sorted output, then over its
    // unspecified order (numbered 1..n either way)
    """lineitem
      | summarize c = count() by l_suppkey
      | sort by c desc, l_suppkey asc
      | serialize
      | extend rn = row_number(), pc = prev(c)""" -> true,
    """lineitem
      | summarize c = count() by l_suppkey
      | serialize
      | extend rn = row_number()
      | summarize n = count(), s = sum(rn), hi = max(rn), total = sum(c)""" -> true,
    // bare serialize over a scan: ids follow the file order
    """orders
      | where o_totalprice > 1000
      | serialize
      | extend rn = row_number(), nx = next(o_orderkey)
      | take 50""" -> true,
    """orders
      | where o_totalprice > 400000
      | serialize
      | distinct o_orderkey, row_number()""" -> true,
    """orders
      | serialize
      | scan declare (rs:long=0) with (step a: true => rs = rs + o_custkey)
      | take 30""" -> true,
    """orders
      | partition by o_orderstatus (take 3)
      | project o_orderkey, o_orderstatus""" -> false,
    """orders
      | where o_orderkey < 50
      | extend a = pack_array(o_custkey, o_orderkey)
      | mv-apply a on (summarize s = sum(a))
      | project o_orderkey, s
      | sort by o_orderkey asc""" -> true,
    // the two-phase GlobalWindow over a global sort
    """orders
      | sort by o_totalprice desc, o_orderkey asc
      | extend rn = row_number(), pv = prev(o_orderkey), cs = row_cumsum(o_custkey)
      | take 30""" -> true)

  test("one-partition scans change no query result") {
    val dir = TestSpark.sfDir
    val plain = Seq("lineitem", "orders", "customer", "supplier", "nation",
      "region", "part", "events", "documents")
      .foldLeft(Catalog(spark, dir))((c, n) => c.withTable(n, plainFrame(dir, n)))
    differential.foreach { case (text, ordered) =>
      val got = Kql.runMulti(spark, text, dir)
      val want = Kql.runMulti(spark, text, plain)
      assert(got.map(_._1) == want.map(_._1))
      got.zip(want).foreach { case ((branch, g), (_, w)) =>
        val (gr, wr) = (g.collect().toSeq, w.collect().toSeq)
        assert(gr.nonEmpty, s"$branch of $text")
        if (ordered) assert(gr == wr, s"$branch of $text")
        else assert(rows(g) == rows(w), s"$branch of $text")
      }
    }
  }
}

object CatalogSpec {
  /** Spark jobs `body` starts on this thread. */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Int) = {
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
}

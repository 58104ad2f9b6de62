package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.kql.{Kql, Catalog}
import scala.jdk.CollectionConverters._

/** Golden-result tests for KQL semantic traps (SURVEY.md §7.4) using
  * inline datatable sources — no fixture dependency. */
class PlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cat = Catalog(spark, TestSpark.sfDir)

  private def run(q: String): Seq[Row] = Kql.run(spark, q, cat).collect().toSeq
  private def one(q: String): Row = run(q).head

  test("string predicates are case-INsensitive by default, _cs sensitive") {
    val base = "datatable(s:string) ['Hello World', 'bye']"
    assert(run(s"$base | where s contains 'HELLO'").length == 1)
    assert(run(s"$base | where s contains_cs 'HELLO'").isEmpty)
    assert(run(s"$base | where s startswith 'hello'").length == 1)
    assert(run(s"$base | where s endswith 'WORLD'").length == 1)
  }

  test("zlib base64 round trip keeps incompressible text whole") {
    // 200 random CJK characters are 600 UTF-8 bytes that deflate does
    // not shrink: the compressed stream outgrows any buffer sized from
    // the character count, and every byte of it must still come out
    val rnd = new scala.util.Random(1)
    val text = Seq.fill(200)((0x4E00 + rnd.nextInt(0x5000)).toChar).mkString
    val r = one(s"print z = zlib_decompress_from_base64_string(" +
      s"zlib_compress_to_base64_string('$text'))")
    assert(r.getString(0) == text)
  }

  test("== is case-sensitive; =~ is not") {
    val base = "datatable(s:string) ['Abc']"
    assert(run(s"$base | where s == 'abc'").isEmpty)
    assert(run(s"$base | where s =~ 'abc'").length == 1)
    assert(run(s"$base | where s !~ 'xyz'").length == 1)
  }

  test("has matches whole terms only") {
    val base = "datatable(s:string) ['green apple pie', 'greenhouse']"
    assert(run(s"$base | where s has 'green'").length == 1)
    assert(run(s"$base | where s contains 'green'").length == 2)
  }

  test("substring and indexof are 0-based") {
    val r = one("print a = substring('abcdef', 2, 3), b = indexof('abcdef', 'cd'), c = indexof('abcdef', 'zz')")
    assert(r.getString(0) == "cde")
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == -1L)
  }

  test("split with 0-based index; array_length") {
    val r = one("print a = split('a,b,c', ',', 1), n = array_length(split('a,b,c', ','))")
    assert(r.getString(0) == "b")
    assert(r.getLong(1) == 3L)
  }

  test("sort default is desc; asc puts nulls first") {
    val vals = run("datatable(x:long) [3, 1, 2] | sort by x | project x").map(_.getLong(0))
    assert(vals == Seq(3L, 2L, 1L))
    val withNull = run("datatable(s:string, x:long) ['a', 1, 'b', 2] | extend y = iff(x == 1, x, tolong('')) | sort by y asc | project s")
      .map(_.getString(0))
    assert(withNull == Seq("b", "a")) // null first on asc
  }

  test("innerunique dedups the left side on the key") {
    val q = """datatable(k:long, v:string) [1, 'a', 1, 'b', 2, 'c']
              | project k
              | join kind=innerunique (datatable(k:long, w:string) [1, 'x', 2, 'y']) on k
              | count"""
    assert(one(q).getLong(0) == 2L)
  }

  test("join renames colliding right columns with suffix 1") {
    val cols = Kql.run(spark,
      """datatable(k:long, v:long) [1, 10]
        | join kind=inner (datatable(k:long, v:long) [1, 20]) on k""", cat).columns.toSeq
    assert(cols == Seq("k", "v", "k1", "v1"))
  }

  test("union outer null-pads missing columns; withsource tags branches") {
    val rows = run(
      """union withsource=src (datatable(a:long) [1]), (datatable(b:long) [2])
        | sort by src asc""")
    assert(rows.length == 2)
    val df = Kql.run(spark, "union (datatable(a:long) [1]), (datatable(b:long) [2])", cat)
    assert(df.columns.toSet == Set("a", "b"))
  }

  test("iff, case, coalesce") {
    val r = one("print a = iff(1 > 2, 'y', 'n'), b = case(1 > 2, 'x', 3 > 2, 'y', 'z'), c = coalesce(tolong(''), 7)")
    assert(r.getString(0) == "n" && r.getString(1) == "y" && r.getLong(2) == 7L)
  }

  test("failed casts yield null (ANSI off fidelity)") {
    val r = one("print a = tolong('abc'), b = toint('12'), c = todouble('x')")
    assert(r.isNullAt(0) && r.getInt(1) == 12 && r.isNullAt(2))
  }

  test("bin on numbers and datetimes; negative-safe floor") {
    val r = one("print a = bin(7, 3), b = bin(-1, 3), c = bin(4.6, 0.5)")
    assert(r.getLong(0) == 6L && r.getLong(1) == -3L && math.abs(r.getDouble(2) - 4.5) < 1e-9)
    val t = one("print t = bin(datetime(2024-03-15 13:47:12), 1h)").getTimestamp(0)
    assert(t.toString.startsWith("2024-03-15 13:00:00"))
  }

  test("timespan arithmetic: ts-ts compares against timespan literal") {
    val rows = run(
      """datatable(a:datetime, b:datetime) [datetime(2024-01-01 10:00:00), datetime(2024-01-01 09:00:00)]
        | where a - b > 30m | count""")
    assert(rows.head.getLong(0) == 1L)
  }

  test("datetime functions: startofweek is Sunday-based") {
    // 2024-03-15 is a Friday; KQL week starts Sunday 2024-03-10
    val r = one("print w = startofweek(datetime(2024-03-15)), d = dayofweek(datetime(2024-03-10))")
    assert(r.getTimestamp(0).toString.startsWith("2024-03-10"))
    assert(r.getInt(1) == 0)
  }

  test("window functions need serialize/sort; then behave") {
    intercept[RuntimeException](run("datatable(x:long) [1, 2] | extend r = row_number()"))
    val rows = run(
      """datatable(x:long) [10, 30, 20]
        | sort by x asc
        | extend r = row_number(), p = prev(x), nx = next(x), c = row_cumsum(x)
        | project x, r, p, nx, c""")
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))) ==
      Seq((10L, 1L, 10L), (20L, 2L, 30L), (30L, 3L, 60L)))
    assert(rows(1).getLong(2) == 10L && rows(1).getLong(3) == 30L)
  }

  test("window functions inside `project` take the two-phase GlobalWindow path") {
    // `sort | project r = row_number()` is legal KQL; it must plan the
    // same __gw_pid two-phase shape as the extend form, never the
    // single-partition Window.orderBy fallback (a one-task global sort
    // at warehouse scale).
    val q = graft.kql.Kql.run(spark,
      """lineitem
        | sort by l_orderkey asc, l_linenumber asc, l_partkey asc
        | project r = row_number(), c = row_cumsum(l_quantity), l_orderkey""", cat)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("__gw_pid"), plan.take(1500))
    // value parity with the extend form on a small deterministic frame
    val viaProject = run(
      """datatable(x:long) [10, 30, 20]
        | sort by x asc
        | project x, r = row_number(), p = prev(x), c = row_cumsum(x)""")
    assert(viaProject.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) ==
      Seq((10L, 1L, 10L), (20L, 2L, 30L), (30L, 3L, 60L)))
    assert(viaProject(1).getLong(2) == 10L)
    // project items always read the INPUT frame: x = prev(x) sees source x
    val shadow = run(
      """datatable(x:long) [10, 30, 20]
        | sort by x asc
        | project x = prev(x), orig = x""")
    assert(shadow.map(r => (Option(r.get(0)), r.getLong(1))) ==
      Seq((None, 10L), (Some(10L), 20L), (Some(20L), 30L)))
    // the residual single-partition fallback (window fns outside
    // extend/project) refuses large file-backed inputs
    spark.conf.set("graft.scan.maxSerialBytes", "1")
    try {
      val e = intercept[RuntimeException](graft.kql.Kql.run(spark,
        """lineitem
          | sort by l_orderkey asc
          | top-nested 2 of l_returnflag by max(row_number())""", cat)
        .collect())
      assert(e.getMessage.contains("single-partition") ||
        e.getMessage.contains("maxSerialBytes"), e.getMessage)
    } finally spark.conf.unset("graft.scan.maxSerialBytes")
  }

  test("declared-out-of-scope functions refuse with the decision and the alternative") {
    val h3 = intercept[RuntimeException](run(
      "print c = geo_point_to_h3cell(-122.3, 47.6, 6)"))
    assert(h3.getMessage.contains("unsupported function 'geo_point_to_h3cell'"))
    assert(h3.getMessage.contains("geo_point_to_geohash"), h3.getMessage)
    val pr = intercept[RuntimeException](run(
      "print p = current_principal()"))
    assert(pr.getMessage.contains("unsupported function 'current_principal'"))
    assert(pr.getMessage.contains("auth"), pr.getMessage)
    // a plain typo still gets the did-you-mean hint, not a refusal
    val typo = intercept[RuntimeException](run("print x = strlenn('a')"))
    assert(typo.getMessage.contains("did you mean"), typo.getMessage)
  }

  test("prev/next n=1 ascending: boundary values ride the stats broadcast, no edge joins") {
    // fast path = ONE broadcast join (the prefix offsets); the per-call
    // edge-row joins only exist for n>1 or descending keys (r4)
    val fast = graft.kql.Kql.run(spark,
      """lineitem
        | sort by l_orderkey asc, l_linenumber asc, l_partkey asc
        | extend p = prev(l_quantity), nx = next(l_quantity)
        | project l_orderkey, p, nx""", cat)
    val nJoinsFast = "Join".r.findAllIn(fast.queryExecution.optimizedPlan.toString).length
    assert(nJoinsFast == 1)
    // descending: falls back to per-call edge frames — each adds an
    // offsets join inside the edge build plus the out⨝edges join
    // (1 offsets + 2×2), which is exactly what the fast path removes
    val slow = graft.kql.Kql.run(spark,
      """lineitem
        | sort by l_orderkey desc, l_linenumber desc, l_partkey desc
        | extend p = prev(l_quantity), nx = next(l_quantity)
        | project l_orderkey, p, nx""", cat)
    val nJoinsSlow = "Join".r.findAllIn(slow.queryExecution.optimizedPlan.toString).length
    assert(nJoinsSlow == 5)
  }

  test("mv-expand explodes arrays in place") {
    val rows = run("datatable(s:string) ['a b c'] | extend t = split(s, ' ') | mv-expand t | project t | sort by t asc")
    assert(rows.map(_.getString(0)) == Seq("c", "b", "a").sorted.reverse.reverse.sorted.reverse.sorted)
    assert(rows.length == 3)
  }

  test("parse extracts typed columns and parse-where filters") {
    val rows = run(
      """datatable(s:string) ['id=42 name=bob', 'garbage']
        | parse s with 'id=' pid:long ' name=' pname
        | project pid, pname""")
    assert(rows.head.getLong(0) == 42L && rows.head.getString(1) == "bob")
    assert(rows(1).isNullAt(0)) // non-matching row: null capture
  }

  test("dynamic JSON member access") {
    val r = one("""datatable(j:string) ['{"a": {"b": 7}, "c": [1,2]}'] | project x = tolong(j.a.b), y = tolong(j.c[1])""")
    assert(r.getLong(0) == 7L && r.getLong(1) == 2L)
  }

  test("let scalar substitution and tabular alias") {
    val r = run("let lim = 15; let small = datatable(x:long) [10, 20, 30] | where x < lim; small | count")
    assert(r.head.getLong(0) == 1L)
  }

  test("make-series fills gaps with default in order") {
    val rows = run(
      """datatable(ts:datetime, v:long) [datetime(2024-01-01 00:30:00), 5, datetime(2024-01-03 01:00:00), 7]
        | make-series s=sum(v) default=0 on ts from datetime(2024-01-01) to datetime(2024-01-04) step 1d""")
    val arr = rows.head.getSeq[Long](rows.head.fieldIndex("s"))
    assert(arr == Seq(5L, 0L, 7L))
  }

  test("getschema reports kql type names") {
    val rows = run("datatable(a:long, b:string, c:datetime) [1, 'x', datetime(2024-01-01)] | getschema")
    assert(rows.map(r => (r.getString(0), r.getString(2))) ==
      Seq(("a", "long"), ("b", "string"), ("c", "datetime")))
  }

  test("distinct, count operator, take") {
    assert(run("datatable(x:long) [1, 1, 2] | distinct x | sort by x asc").length == 2)
    assert(one("datatable(x:long) [1, 1, 2] | count").getLong(0) == 3L)
    assert(run("datatable(x:long) [1, 2, 3] | take 2").length == 2)
  }

  test("top-k returns highest by key with ties broken") {
    val rows = run("datatable(x:long, y:string) [1,'a',3,'b',2,'c'] | top 2 by x desc | project y")
    assert(rows.map(_.getString(0)) == Seq("b", "c"))
  }

  test("arg_max unpacks returned columns") {
    val r = one("datatable(k:string, x:long, y:string) ['g', 1, 'lo', 'g', 9, 'hi'] | summarize arg_max(x, y) by k")
    assert(r.getString(r.fieldIndex("k")) == "g")
    assert(r.getLong(r.fieldIndex("x")) == 9L)
    assert(r.getString(r.fieldIndex("y")) == "hi")
  }

  test("project-away/keep wildcards") {
    val df = Kql.run(spark, "datatable(aa:long, ab:long, b:long) [1,2,3] | project-away a*", cat)
    assert(df.columns.toSeq == Seq("b"))
    val df2 = Kql.run(spark, "datatable(aa:long, ab:long, b:long) [1,2,3] | project-keep a*", cat)
    assert(df2.columns.toSeq == Seq("aa", "ab"))
  }

  test("search filters across string columns") {
    assert(run("datatable(a:string, b:string) ['xx', 'needle here', 'yy', 'zz'] | search 'NEEDLE'").length == 1)
  }

  test("range source generates inclusive sequence") {
    assert(one("range x from 1 to 10 step 3 | summarize n=count(), mx=max(x)").toSeq == Seq(4L, 10L))
  }

  test("column resolution is case-insensitive") {
    assert(one("datatable(MyCol:long) [5] | project mycol").getLong(0) == 5L)
  }

  test("summarize by rollup adds subtotal and grand-total rows") {
    val rows = run(
      """datatable(g:string, h:string, v:long) ['a','x',1, 'a','y',2, 'b','x',3]
        | summarize s=sum(v) by rollup(g, h)""")
    // 3 leaves + 2 g-subtotals + 1 grand total
    assert(rows.length == 6)
    val grand = rows.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    assert(grand.getLong(2) == 6L)
    val aSub = rows.find(r => !r.isNullAt(0) && r.getString(0) == "a" && r.isNullAt(1)).get
    assert(aSub.getLong(2) == 3L)
  }

  test("has_any / has_all match whole terms with OR / AND") {
    val base = "datatable(s:string) ['the quick fox', 'lazy dog', 'quick dogs']"
    assert(run(s"$base | where s has_any ('quick', 'lazy')").length == 3)
    assert(run(s"$base | where s has_all ('quick', 'fox')").length == 1)
    assert(run(s"$base | where s has_any ('dog')").length == 1) // whole term: not 'dogs'
  }

  test("array rotate and shift, including negative n and fill") {
    val r = one("""print rl = array_rotate_left(pack_array(1,2,3,4,5), 7),
                        sl = array_shift_left(pack_array(1,2,3), 5),
                        sr = array_shift_right(pack_array(1,2,3), 1, 9)""")
    assert(r.getSeq[Long](0) == Seq(3L, 4L, 5L, 1L, 2L)) // 7 mod 5 = 2
    assert(r.getSeq[Any](1) == Seq(null, null, null))    // over-shift clamps
    assert(r.getSeq[Long](2) == Seq(9L, 1L, 2L))
  }

  test("invoke applies a tabular let-function with scalar args") {
    val rows = run(
      """let topv = (T:(*), k:long) { T | where v >= k | summarize n = count() };
        datatable(v:long) [1, 5, 9] | invoke topv(5)""")
    assert(rows.head.getLong(0) == 2L)
  }

  test("evaluate pivot spreads values into columns, count fills 0") {
    val rows = run(
      """datatable(g:string, t:string) ['u1','a', 'u1','a', 'u2','b']
        | evaluate pivot(t, count())
        | sort by g asc""")
    // columns: g, a, b
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("u1", 2L, 0L), ("u2", 0L, 1L)))
  }

  test("evaluate pivot: columns the aggregate reads are not group keys") {
    // `in` and `between` read x exactly as `==` does, so the group key
    // is g alone
    for (agg <- Seq("countif(x in (1))", "countif(x between (1 .. 1))")) {
      val df = Kql.run(spark,
        s"""datatable(g:string, k:string, x:long) ['u1','a',1, 'u1','a',2, 'u2','b',1]
           | | evaluate pivot(k, $agg)
           | | sort by g asc""".stripMargin, cat)
      assert(df.columns.toSeq == Seq("g", "a", "b"), agg)
      assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("u1", 1L, 0L), ("u2", 0L, 1L)), agg)
    }
  }

  test("evaluate bag_unpack expands JSON keys to typed columns") {
    val rows = run(
      """datatable(id:long, d:string) [1, '{"x": 5, "y": "a"}', 2, '{"x": 7, "y": "b"}']
        | evaluate bag_unpack(d)
        | project id, x, y
        | sort by id asc""")
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))) ==
      Seq((1L, 5L, "a"), (2L, 7L, "b")))
  }

  test("bag_unpack takes the UNION of keys over heterogeneous bags") {
    val rows = run(
      """datatable(id:long, d:string) [1, '{"x": 5}', 2, '{"y": "b"}', 3, '{"x": 9, "y": "c"}']
        | evaluate bag_unpack(d)
        | project id, x, y
        | sort by id asc""")
    assert(rows.map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1),
      if (r.isNullAt(2)) "" else r.getString(2))) ==
      Seq((1L, 5L, ""), (2L, -1L, "b"), (3L, 9L, "c")))
  }

  test("catalog converts only footer-NANOS long columns, not any long named ts") {
    // a user table with a PLAIN long column named `ts` must stay long
    val dir = java.nio.file.Files.createTempDirectory("cat_ts_").toString
    import spark.implicits._
    Seq((1L, 100L), (2L, 200L)).toDF("id", "ts")
      .write.mode("overwrite").parquet(s"$dir/plaints.parquet")
    val c = Catalog(spark, dir)
    assert(c.table("plaints").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    // the fixture's events.ts IS TIMESTAMP(NANOS) → normalized to timestamp
    assert(cat.table("events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("consume executes and suppresses the result set (schema kept)") {
    val d = Kql.run(spark, "datatable(x:long) [1, 2, 3] | consume", cat)
    assert(d.count() == 0)
    assert(d.columns.toSeq == Seq("x"))
  }

  test("fork fans one input into named branches via runMulti") {
    val rs = Kql.runMulti(spark,
      """datatable(x:long, g:string) [1, 'a', 2, 'a', 3, 'b']
        | fork hi = (where x >= 2 | summarize n = count())
               by_g = (summarize n = count() by g | sort by g asc)""", cat).toMap
    assert(rs.keySet == Set("hi", "by_g"))
    assert(rs("hi").head.getLong(0) == 2L)
    assert(rs("by_g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 1L)))
  }

  test("facet by yields one value-count table per column") {
    val rs = Kql.runMulti(spark,
      """datatable(a:string, b:string) ['x', 'p', 'x', 'q', 'y', 'p']
        | facet by a, b""", cat).toMap
    assert(rs("a").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("x", 2L), ("y", 1L)))
    assert(rs("b").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("p", 2L), ("q", 1L)))
  }

  test("externaldata reads a local CSV with the declared schema") {
    val dir = java.nio.file.Files.createTempDirectory("extdata_")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.write(f, "7,foo\n9,bar\n".getBytes)
    val rows = run(
      s"""externaldata (v:long, s:string) ['${f}'] with (format='csv')
         | sort by v asc""")
    assert(rows.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((7L, "foo"), (9L, "bar")))
  }

  test("series_periods_detect: constant series has no period, noise scores low") {
    val r = one(
      """print r = series_periods_detect(pack_array(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0), 2, 4, 2)
        | project n = array_length(r.periods)""")
    assert(r.getLong(0) == 0L)
  }

  test("scan: running sum over the serialized stream (canonical KQL example)") {
    val rows = run(
      """range x from 1 to 5 step 1
        | sort by x asc
        | scan declare (rs:long=0) with (step a: true => rs = x + rs;)
        | project x, rs
        | sort by x asc""")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 1L), (2L, 3L), (3L, 6L), (4L, 10L), (5L, 15L)))
  }

  test("scan: multi-step sequence matching with match ids and restarts") {
    val rows = run(
      """datatable(i:long, e:string) [
          1, 'start', 2, 'mid', 3, 'end', 4, 'start', 5, 'other', 6, 'mid', 7, 'end']
        | sort by i asc
        | scan with_match_id=m with (
            step s1: e == 'start';
            step s2: e == 'mid';
            step s3: e == 'end';)
        | project i, m
        | sort by i asc""")
    // rows 1-3 form match 1; rows 4,6,7 form match 2; row 5 skipped
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (6L, 2L), (7L, 2L)))
  }

  test("scan after bare serialize runs over the natural order") {
    val r = one(
      """datatable(x:long) [5, 6, 7]
        | serialize
        | scan declare (rs:long=0) with (step a: true => rs = rs + x)
        | summarize mx = max(rs)""")
    assert(r.getLong(0) == 18L)
  }

  test("bare-serialize scan refuses inputs above the single-partition size guard") {
    // A scan without `partition by` is a ONE-partition sequential walk —
    // silent one-core stall at warehouse scale. The planner refuses when
    // the optimizer's size estimate exceeds graft.scan.maxSerialBytes.
    // file-backed table: the parquet scan has a real size estimate
    // (inline datatables are RDD-backed → stats unknown → unguarded)
    spark.conf.set("graft.scan.maxSerialBytes", "1")
    try {
      val e = intercept[RuntimeException](run(
        """lineitem
          | serialize
          | scan declare (rs:long=0) with (step a: true => rs = rs + l_orderkey)"""))
      assert(e.getMessage.contains("partition by"))
      // the partition-by form stays fully parallel and unguarded
      val ok = run(
        """datatable(k:string, x:long) ['a', 1, 'a', 2, 'b', 5]
          | partition by k (sort by x asc
            | scan declare (rs:long=0) with (step a: true => rs = rs + x))
          | summarize mx = max(rs) by k
          | sort by k asc""")
      assert(ok.map(r => (r.getString(0), r.getLong(1))) ==
        Seq(("a", 3L), ("b", 5L)))
    } finally spark.conf.unset("graft.scan.maxSerialBytes")
  }

  test("scan under partition by: per-key machine with boundary resets") {
    val rows = run(
      """datatable(g:string, i:long, v:long) [
          'a', 1, 10, 'a', 2, 20, 'b', 1, 5, 'b', 2, 7]
        | partition by g (sort by i asc
            | scan declare (rs:long=0) with (step s: true => rs = rs + v))
        | summarize mx = max(rs) by g
        | sort by g asc""")
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 30L), ("b", 12L)))
  }

  test("take_anyif picks a value only where the predicate holds") {
    val r = one(
      "datatable(x:long, g:long) [1, 0, 5, 1, 7, 1] | summarize v = take_anyif(x, g == 1)")
    assert(r.getLong(0) == 5L) // single-partition datatable: first match
  }

  test("extract_json and translate scalars") {
    val r = one("""print a = extract_json('$.k.v', '{"k": {"v": 7}}'),
                        b = translate('abc', 'xyz', 'aabbcc')""")
    assert(r.getString(0) == "7")
    assert(r.getString(1) == "xxyyzz")
  }

  test("render is a display directive: data passes through unchanged") {
    val rows = run(
      """datatable(x:long) [1, 2, 3]
        | summarize n = count() by x
        | render columnchart with (title = 'counts')
        | sort by x asc""")
    assert(rows.map(_.getLong(0)) == Seq(1L, 2L, 3L))
  }

  test("materialize caches a tabular let (results still correct)") {
    val rows = run(
      """let m = materialize(datatable(x:long) [1, 2, 3] | extend y = x * 2);
        m | join kind=inner (m) on x | summarize s = sum(y) | project s""")
    assert(rows.head.getLong(0) == 12L)
  }

  test("array_split at 0-based indices; keeps empty head segment") {
    val r = one("print a = array_split(pack_array(1, 2, 3, 4, 5), pack_array(2)), " +
      "b = array_split(pack_array(1, 2, 3, 4, 5), pack_array(1, 3)), " +
      "c = array_split(pack_array(1, 2), pack_array(0))")
    assert(r.getSeq[Seq[Long]](0) == Seq(Seq(1L, 2L), Seq(3L, 4L, 5L)))
    assert(r.getSeq[Seq[Long]](1) == Seq(Seq(1L), Seq(2L, 3L), Seq(4L, 5L)))
    assert(r.getSeq[Seq[Long]](2) == Seq(Seq(), Seq(1L, 2L)))
  }

  test("jaccard_index, array_iff, bag_merge first-wins, parse_version order") {
    val r = one("""print j = jaccard_index(pack_array(1, 2, 3), pack_array(2, 3, 4)),
                        ai = array_iff(pack_array(true, false), pack_array(1, 2), pack_array(9, 9)),
                        bm = bag_merge('{"a":"1"}', '{"a":"2","b":"3"}'),
                        vc = parse_version('1.10.0') > parse_version('1.9.25')""")
    assert(r.getDouble(0) == 0.5)
    assert(r.getSeq[Long](1) == Seq(1L, 9L))
    assert(r.getString(2) == """{"a":"1","b":"3"}""")
    assert(r.getBoolean(3))
  }

  test("series element-wise arithmetic; divide is double division") {
    val r = one("""print sa = series_add(pack_array(1, 2), pack_array(3, 4)),
                        sd = series_divide(pack_array(1, 2), pack_array(2, 4)),
                        sg = series_greater(pack_array(1, 5), pack_array(2, 2)),
                        ab = series_abs(pack_array(-1.5, 2.0))""")
    assert(r.getSeq[Long](0) == Seq(4L, 6L))
    assert(r.getSeq[Double](1) == Seq(0.5, 0.5))
    assert(r.getSeq[Boolean](2) == Seq(false, true))
    assert(r.getSeq[Double](3) == Seq(1.5, 2.0))
  }

  test("series vector reductions: dot, magnitude, cosine, pearson") {
    val r = one("""print dp = series_dot_product(pack_array(1, 2, 3), pack_array(4, 5, 6)),
                        mg = series_magnitude(pack_array(3, 4)),
                        cs = series_cosine_similarity(pack_array(3, 4), pack_array(3, 4)),
                        co = series_cosine_similarity(pack_array(1, 0), pack_array(0, 1)),
                        pc = series_pearson_correlation(pack_array(1.0, 2.0, 3.0), pack_array(2.0, 4.0, 6.0))""")
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == 5.0)
    assert(r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 0.0)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9)
  }

  test("series fills: const, forward, backward, linear") {
    val r = one("""print fc = series_fill_const(pack_array(1.0, null, 3.0), 0.0),
                        ff = series_fill_forward(pack_array(1.0, null, null, 2.0, null)),
                        fb = series_fill_backward(pack_array(null, 1.0, null, 2.0)),
                        fl = series_fill_linear(pack_array(1.0, null, null, 4.0, null))""")
    assert(r.getSeq[Double](0) == Seq(1.0, 0.0, 3.0))
    assert(r.getSeq[Double](1) == Seq(1.0, 1.0, 1.0, 2.0, 2.0))
    assert(r.getSeq[Double](2) == Seq(1.0, 1.0, 2.0, 2.0))
    assert(r.getSeq[Double](3) == Seq(1.0, 2.0, 3.0, 4.0, 4.0))
  }

  test("format_timespan and datetime_part") {
    val r = one("""print a = format_timespan(totimespan('11.02:03:04'), 'd.hh:mm:ss'),
                        b = format_timespan(totimespan('90m'), 'hh:mm'),
                        c = datetime_part('quarter', datetime(2024-11-05))""")
    assert(r.getString(0) == "11.02:03:04")
    assert(r.getString(1) == "01:30")
    assert(r.getLong(2) == 4L)
  }

  test("bitwise binary_* scalars") {
    val r = one("""print a = binary_and(12, 10), o = binary_or(12, 10),
                        x = binary_xor(12, 10), n = binary_not(0),
                        sl = binary_shift_left(1, 4), sr = binary_shift_right(16, 3),
                        c = bitset_count_ones(255)""")
    assert(r.getLong(0) == 8L)
    assert(r.getLong(1) == 14L)
    assert(r.getLong(2) == 6L)
    assert(r.getLong(3) == -1L)
    assert(r.getLong(4) == 16L)
    assert(r.getLong(5) == 2L)
    assert(r.getLong(6) == 8L)
  }

  test("to_utf8 / make_string round-trip incl. supplementary plane") {
    val r = one("""print cp = to_utf8('Ab'), rt = make_string(to_utf8('a😀z')),
                        ms = make_string(pack_array(72, 105))""")
    assert(r.getSeq[Long](0) == Seq(65L, 98L))
    assert(r.getString(1) == "a😀z")
    assert(r.getString(2) == "Hi")
  }

  test("base64_decode_toarray yields byte values") {
    // base64('Hi') == 'SGk='
    val r = one("print b = base64_decode_toarray('SGk=')")
    assert(r.getSeq[Long](0) == Seq(72L, 105L))
  }

  test("gettype classifies KQL types") {
    val r = one("""print a = gettype(1), b = gettype(1.5), c = gettype('s'),
                        d = gettype(true), e = gettype(datetime(2024-01-01)),
                        f = gettype(pack_array(1, 2)), g = gettype(tolong(''))""")
    assert(r.getString(0) == "long")
    assert(r.getString(1) == "real")
    assert(r.getString(2) == "string")
    assert(r.getString(3) == "bool")
    assert(r.getString(4) == "datetime")
    assert(r.getString(5) == "array")
    assert(r.getString(6) == "null")
  }

  test("format_bytes scales to largest unit") {
    val r = one("""print a = format_bytes(1024), b = format_bytes(8000000, 2),
                        c = format_bytes(512), d = format_bytes(1073741824)""")
    assert(r.getString(0) == "1 KB")
    assert(r.getString(1) == "7.63 MB")
    assert(r.getString(2) == "512 Bytes")
    assert(r.getString(3) == "1 GB")
  }

  test("timezone conversions round-trip") {
    val r = one("""print l = datetime_utc_to_local(datetime(2024-06-15 12:00:00), 'America/New_York'),
                        u = datetime_local_to_utc(datetime_utc_to_local(datetime(2024-06-15 12:00:00), 'Asia/Tokyo'), 'Asia/Tokyo')""")
    assert(r.getTimestamp(0).toInstant.toString == "2024-06-15T08:00:00Z")
    assert(r.getTimestamp(1).toInstant.toString == "2024-06-15T12:00:00Z")
  }

  test("string_size, indexof_regex, isutf8, has_ipv4, regex_quote") {
    val r = one("""print bs = string_size('héllo'), cs = strlen('héllo'),
                        ir = indexof_regex('abc123', '[0-9]+'),
                        im = indexof_regex('abc', '[0-9]+'),
                        u8 = isutf8('ok'),
                        h1 = has_ipv4('src 10.1.2.3 dst'), h2 = has_ipv4('ver 1.2.3.999'),
                        rq = regex_quote('a.b*c')""")
    assert(r.getLong(0) == 6L)
    assert(r.getLong(1) == 5L)
    assert(r.getLong(2) == 3L)
    assert(r.getLong(3) == -1L)
    assert(r.getBoolean(4))
    assert(r.getBoolean(5)); assert(!r.getBoolean(6))
    assert(r.getString(7) == "a\\.b\\*c")
  }

  test("startofquarter / endofquarter") {
    val r = one("""print s = startofquarter(datetime(2024-11-05)),
                        e = endofquarter(datetime(2024-11-05))""")
    assert(r.getTimestamp(0).toInstant.toString == "2024-10-01T00:00:00Z")
    assert(r.getTimestamp(1).toInstant.toString == "2024-12-31T23:59:59.999999Z")
  }

  test("series_decompose reconstructs the series; anomalies flag the spike") {
    // periodic 1,2,3,4 × 6 with a +40 spike at 0-based index 13
    val base = Seq.fill(6)(Seq(1.0, 2.0, 3.0, 4.0)).flatten
    val spiked = base.updated(13, base(13) + 40.0)
    val arr = spiked.mkString("pack_array(", ", ", ")")
    val clean = base.mkString("pack_array(", ", ", ")")
    val r = one(
      s"""print d = series_decompose($clean, 4)
         | project m = array_max(series_abs(series_subtract(
                         series_add(d.baseline, d.residual), $clean))),
                   an = series_decompose_anomalies($arr, 4)""")
    assert(r.getDouble(0) < 1e-9)
    val flags = r.getSeq[Long](1)
    assert(flags(13) == 1L)
    assert(flags.count(_ != 0L) == 1)
  }

  test("bag_has_key, bag_remove_keys, bag_set_key") {
    val r = one("""print h1 = bag_has_key('{"a":1,"b":2}', 'a'),
                        h2 = bag_has_key('{"a":1}', 'z'),
                        rm = bag_remove_keys('{"a":"1","b":"2","c":"3"}', pack_array('a', 'c')),
                        st = bag_set_key('{"a":"1","b":"2"}', 'b', 9)""")
    assert(r.getBoolean(0)); assert(!r.getBoolean(1))
    assert(r.getString(2) == """{"b":"2"}""")
    assert(r.getString(3) == """{"a":"1","b":"9"}""")
  }

  test("autocluster mines cube segments above the coverage threshold") {
    val rows = run(
      """datatable(a:string, b:string) ['x', 'p', 'x', 'p', 'x', 'q', 'y', 'q']
        | evaluate autocluster(50.0, a, b)
        | sort by percent desc, a asc nulls first, b asc nulls first""")
    // segments ≥50%: a=x (75%), b wildcard combos
    val segs = rows.map(r => (Option(r.getString(2)), Option(r.getString(3)), r.getDouble(1)))
    assert(segs.contains((Some("x"), None, 75.0)))
    assert(segs.forall(_._3 >= 50.0))
    assert(!segs.contains((None, None, 100.0))) // trivial segment dropped
  }

  test("LLM ops are reachable from the query language via evaluate") {
    val dedup = run(
      """datatable(doc_id:long, text:string) [1, 'a b', 2, 'A b ', 3, 'c']
        | evaluate dedup_exact(text, doc_id) | sort by keep_id asc""")
    assert(dedup.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (3L, 1L)))
    val q = run(
      """datatable(doc_id:long, text:string) [1, 'the quick brown fox!']
        | evaluate quality_score(text, doc_id)""").head
    assert(q.getLong(1) == 4L) // n_tokens
    val fun = run(
      """datatable(u:long, t:long, e:string) [7, 1, 's', 7, 2, 'c', 8, 5, 'c']
        | evaluate funnel_sequence(u, t, e, 's', 'c') | sort by u asc""")
    assert(fun.map(r => (r.getLong(0), r.getLong(3))) == Seq((7L, 2L)))
    val pii = run(
      """datatable(doc_id:long, text:string) [1, 'mail me at a.b@x.io today']
        | evaluate pii_scrub(text, doc_id)""").head
    assert(pii.getLong(1) == 1L && pii.getString(4) == "mail me at <EMAIL> today")
    val sub = run(
      """datatable(doc_id:long, text:string) [
           1, 'p q r s t u v w tail one', 2, 'p q r s t u v w tail two', 3, 'x y z']
        | evaluate substring_dup(8, text, doc_id) | sort by doc_id asc""")
    assert(sub.map(_.getLong(0)) == Seq(1L, 2L)) // doc 3 is under the window
    assert(sub.forall(_.getLong(2) >= 1L))       // both share the leading shingle
  }

  test("r8 graph plugins: triangle_count / kcore / graph-mark-components") {
    // one triangle {a,b,c} plus a pendant d hanging off c
    val tri = run(
      """datatable(s:string, d:string) ['a','b', 'b','c', 'a','c', 'c','d']
        | evaluate triangle_count(s, d) | sort by id asc""")
    assert(tri.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 1L), ("b", 1L), ("c", 1L), ("d", 0L)))
    // k=2 peels the pendant; the triangle survives with degree 2 each
    val core = run(
      """datatable(s:string, d:string) ['a','b', 'b','c', 'a','c', 'c','d']
        | evaluate kcore(2, 3, s, d) | sort by id asc""")
    assert(core.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 2L), ("b", 2L), ("c", 2L)))
    // mark-components: default column name, then the named form
    val mc = run(
      """datatable(s:string, d:string) ['a','b', 'c','d']
        | make-graph s --> d
        | graph-mark-components
        | graph-to-table nodes
        | sort by id asc""")
    assert(mc.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")))
    assert(mc.head.schema.fieldNames.toSeq == Seq("id", "ComponentId"))
    val named = run(
      """datatable(s:string, d:string) ['a','b', 'b','c']
        | make-graph s --> d
        | graph-mark-components with_component_id = comp
        | graph-to-table nodes
        | sort by id asc""")
    assert(named.head.schema.fieldNames.toSeq == Seq("id", "comp"))
    assert(named.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("a", "a"), ("b", "a"), ("c", "a")))
    // a marked graph is still pending: a non-graph consumer is an error
    val e = intercept[RuntimeException](run(
      """datatable(s:string, d:string) ['a','b']
        | make-graph s --> d
        | graph-mark-components
        | where s == 'a'"""))
    assert(e.getMessage.contains("graph"))
    // and graph-match can read the component id as a node property
    val gm = run(
      """datatable(s:string, d:string) ['a','b', 'c','d']
        | make-graph s --> d
        | graph-mark-components with_component_id = comp
        | graph-match (x)-[e]->(y)
            where x.comp == 'a'
            project xid = x.id, yid = y.id
        | sort by xid asc""")
    assert(gm.map(r => (r.getString(0), r.getString(1))) == Seq(("a", "b")))
  }

  test("column_ifexists falls back to default for missing columns") {
    val r = one("""datatable(x:long) [7]
                  | project a = column_ifexists('x', 0), b = column_ifexists('nope', -1)""")
    assert(r.getLong(0) == 7L)
    assert(r.getLong(1) == -1L)
  }

  test("partition by runs the subpipeline per key value") {
    val rows = run(
      """datatable(k:string, v:long) ['a', 1, 'a', 3, 'a', 2, 'b', 5, 'b', 4]
        | partition by k (top 2 by v desc | extend dv = v * 2)
        | sort by k asc, v desc""")
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) == Seq(
      ("a", 3L, 6L), ("a", 2L, 4L), ("b", 5L, 10L), ("b", 4L, 8L)))
    val agg = run(
      """datatable(k:string, v:long) ['a', 1, 'a', 3, 'b', 5]
        | partition by k (summarize s = sum(v))
        | sort by k asc""")
    assert(agg.map(r => (r.getString(0), r.getLong(1))) == Seq(("a", 4L), ("b", 5L)))
  }

  test("find searches across tables with null-padded schemas and source_") {
    val rows = run(
      """let A = datatable(x:long, s:string) [1, 'hit', 2, 'miss'];
         let B = datatable(y:long, s:string) [3, 'hit'];
         find in (A, B) where s == 'hit' | sort by source_ asc""")
    assert(rows.map(_.getString(rows.head.fieldIndex("source_"))) == Seq("A", "B"))
    assert(rows.head.getLong(rows.head.fieldIndex("x")) == 1L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("x")))
    assert(rows(1).getLong(rows(1).fieldIndex("y")) == 3L)
  }

  test("make_bag merges bags, first-wins in sorted order") {
    val r = one("""datatable(d:string) ['{"b":2}', '{"a":1}', '{"a":9,"c":3}']
                  | summarize b = make_bag(d)""")
    assert(r.getString(0) == """{"a":"1","c":"3","b":"2"}""")
  }

  test("reduce by masks digit runs into patterns") {
    val rows = run("""datatable(s:string) ['err 404 on node7', 'err 500 on node12', 'disk full']
                     | reduce by s | sort by Count desc, Pattern asc""")
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getString(2))) == Seq(
      ("err * on node*", 2L, "err 404 on node7"),
      ("disk full", 1L, "disk full")))
  }

  test("evaluate activity_engagement computes inner/outer dcount ratio") {
    val rows = run(
      """datatable(ts:datetime, u:string) [
           datetime(2024-01-01 00:10:00), 'a',
           datetime(2024-01-01 05:00:00), 'b',
           datetime(2024-01-02 00:00:00), 'a']
         | evaluate activity_engagement(u, ts, 1d, 2d) | sort by ts asc""")
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))) ==
      Seq((2L, 2L, 1.0), (1L, 2L, 0.5)))
  }

  test("evaluate sliding_window_counts over trailing window") {
    val rows = run(
      """datatable(ts:datetime, u:string) [
           datetime(2024-01-01 00:10:00), 'a',
           datetime(2024-01-01 05:00:00), 'b',
           datetime(2024-01-02 00:00:00), 'a']
         | evaluate sliding_window_counts(u, ts, 2d, 1d) | sort by ts asc""")
    assert(rows.map(r => (r.getLong(1), r.getLong(2))) ==
      Seq((2L, 2L), (3L, 2L), (1L, 1L)))
  }

  test("special math: gamma reflection, beta cdf/inv round-trip") {
    val r = one("""print g = round(gamma(6.0), 6), gn = round(gamma(-1.5), 6),
                        lg = round(loggamma(100.0), 4),
                        rt = round(beta_inv(beta_cdf(0.37, 2.5, 3.5), 2.5, 3.5), 9)""")
    assert(r.getDouble(0) == 120.0)
    assert(r.getDouble(1) == 2.363272) // Γ(-1.5) = 4√π/3
    assert(r.getDouble(2) == 359.1342) // ln(99!)
    assert(r.getDouble(3) == 0.37)     // inv ∘ cdf = id
  }

  test("percentilew: weight-3 run crosses the median") {
    // values 1..4, weight 3 on value 2 ⇒ total 6, target ceil(3) at x=2
    val r = one("""datatable(x:long, w:long) [1, 1, 2, 3, 3, 1, 4, 1]
                   | summarize p = percentilew(x, w, 50)""")
    assert(r.getDouble(0) == 2.0)
  }

  test("make_list_with_nulls keeps nulls; make_list drops them") {
    val r = one("""datatable(x:string) ['a', 'b'] | extend v = todouble(iff(x == 'a', '1', 'zz'))
                   | summarize withN = array_length(make_list_with_nulls(v)),
                               without = array_length(make_list(v))""")
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 1L)
  }

  test("series_iir feedback and seasonal autodetect") {
    val r = one("""print i = series_iir(pack_array(1.0, 0.0, 0.0), pack_array(1.0), pack_array(1.0, -0.5)),
                        s = series_seasonal(pack_array(1.0, 9.0, 1.0, 9.0, 1.0, 9.0, 1.0, 9.0))
                   | project i1 = todouble(i[1]), i2 = todouble(i[2]), s0 = todouble(s[0]), s1 = todouble(s[1])""")
    assert(r.getDouble(0) == 0.5 && r.getDouble(1) == 0.25)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 9.0)
  }

  test("multi-array array_sort_asc reorders parallel arrays by the first") {
    val r = one(
      """print s = array_sort_asc(pack_array(3, 1, 2), pack_array(30, 10, 20)),
              d = array_sort_desc(pack_array(3, 1, 2), pack_array(30, 10, 20))
        | project k = tostring(s[0]), v = tostring(s[1]), dv = tostring(d[1])""")
    assert(r.getString(0) == "[1, 2, 3]")
    assert(r.getString(1) == "[10, 20, 30]")
    assert(r.getString(2) == "[30, 20, 10]")
  }

  test("dcount_intersect: 2- and 3-sketch inclusion-exclusion is exact at coupon size") {
    val r2 = one(
      """range x from 1 to 15 step 1
        | summarize h1 = hll(iff(x <= 10, x, tolong(''))),
                    h2 = hll(iff(x >= 6, x, tolong('')))
        | evaluate dcount_intersect(h1, h2)""")
    assert(r2.getLong(0) == 10L && r2.getLong(1) == 5L) // |A|=10, |A∩B|=5
    val r3 = one(
      """range x from 1 to 15 step 1
        | summarize h1 = hll(iff(x <= 10, x, tolong(''))),
                    h2 = hll(iff(x >= 6, x, tolong(''))),
                    h3 = hll(iff(x >= 9, x, tolong('')))
        | evaluate dcount_intersect(h1, h2, h3)""")
    assert(r3.getLong(0) == 10L && r3.getLong(1) == 5L && r3.getLong(2) == 2L) // {9,10}
  }

  test("series_fit_poly recovers an exact quadratic") {
    // y = 2x² − 3x + 1 over x = 0..5
    val r = one(
      """print f = series_fit_poly(pack_array(1.0, 0.0, 3.0, 10.0, 21.0, 36.0), 2)
        | project r2 = round(todouble(f.rsquare), 9),
                  c0 = round(todouble(f.coefficients[0]), 9),
                  c1 = round(todouble(f.coefficients[1]), 9),
                  c2 = round(todouble(f.coefficients[2]), 9)""")
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 2.0 && r.getDouble(2) == -3.0 && r.getDouble(3) == 1.0)
  }

  test("series_fft: impulse spectrum, sine line, ifft round-trip") {
    val r = one(
      """print f1 = series_fft(pack_array(1.0, 0.0, 0.0, 0.0)),
              f2 = series_fft(pack_array(0.0, 1.0, 0.0, -1.0)),
              rt = series_ifft(series_fft(pack_array(3.0, 1.0, 4.0, 1.0, 5.0)).re,
                               series_fft(pack_array(3.0, 1.0, 4.0, 1.0, 5.0)).im)
        | project r1 = tostring(f1.re), i1 = tostring(f1.im),
                  i2e = round(todouble(f2.im[1]), 9),
                  rt2 = round(todouble(rt.re[2]), 9), rti = round(todouble(rt.im[2]), 9)""")
    assert(r.getString(0) == "[1.0, 1.0, 1.0, 1.0]") // impulse → flat spectrum
    assert(r.getString(1) == "[0.0, 0.0, 0.0, 0.0]")
    assert(r.getDouble(2) == -2.0) // sin(2πn/4) → X₁ = −2i
    assert(r.getDouble(3) == 4.0 && r.getDouble(4) == 0.0) // ifft∘fft = id (n=5, DFT path)
  }

  test("summarize shuffle hints change the exchange, not the result") {
    val base = "datatable(k:string, v:long) ['a', 1, 'b', 2, 'a', 3]"
    val plain = run(s"$base | summarize s = sum(v) by k | sort by k asc")
    val hinted = run(
      s"$base | summarize hint.shufflekey=k hint.num_partitions=7 s = sum(v) by k | sort by k asc")
    assert(plain.map(r => (r.getString(0), r.getLong(1))) ==
      hinted.map(r => (r.getString(0), r.getLong(1))))
    val plan = Kql.run(spark,
      s"$base | summarize hint.num_partitions=7 s = sum(v) by k", cat)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning(7)") || plan.contains("numPartitions=7"))
  }

  test("parse_csv quoting and parse_xml shape") {
    val r = one(
      """print c = parse_csv('a,"b,c",d,"e""f"'),
              x = parse_xml('<r a="1"><k>v</k><k>w</k><t>hi</t></r>')
        | project c1 = tostring(c[1]), c3 = tostring(c[3]), n = array_length(c), x""")
    assert(r.getString(0) == "b,c")
    assert(r.getString(1) == "e\"f")
    assert(r.getLong(2) == 4L)
    assert(r.getString(3) ==
      """{"r":{"@a":"1","k":["v","w"],"t":"hi"}}""")
  }

  private def planError(q: String): String = {
    val e = intercept[RuntimeException](run(q))
    assert(e.getClass.getSimpleName == "PlanError", e)
    e.getMessage
  }

  test("evaluate preview through Kql.run points to Kql.runMulti") {
    val m = planError("datatable(x:long) [1, 2, 3] | evaluate preview(2)")
    assert(m.contains("Kql.runMulti"), m)
  }

  test("rows_near rejects a non-integer row count with a plan error") {
    val q = "datatable(id:long, v:long) [1, 0, 2, 9] | sort by id asc | evaluate rows_near(v == 9, "
    assert(planError(q + "'one')").contains("rows_near before"))
    assert(planError(q + "1, 1.5)").contains("rows_near after"))
  }

  private val rolling = "datatable(ts:datetime, v:long) [datetime(2024-01-01), 1, " +
    "datetime(2024-01-02), 2] | evaluate rolling_percentile(v, "

  test("rolling_percentile rejects a non-integer window with a plan error") {
    assert(planError(rolling + "50, ts, 1d, 'three')").contains("rolling_percentile window"))
  }

  test("rolling_percentile rejects a non-numeric percentile instead of taking the median") {
    assert(planError(rolling + "'p90', ts, 1d, 3)").contains("rolling_percentile percentile"))
  }

  test("active_users_count rejects a non-integer period count with a plan error") {
    val m = planError("""datatable(ts:datetime, u:string) [datetime(2024-01-01 01:00:00), 'a']
      | evaluate active_users_count(u, ts, datetime(2024-01-01), datetime(2024-01-05), 3d, 1d, 2.5, 1d)""")
    assert(m.contains("active_users_count active_periods"), m)
  }

  test("evaluate preview returns rows plus total count via runMulti") {
    val rs = Kql.runMulti(spark,
      "datatable(x:long) [1, 2, 3, 4, 5] | evaluate preview(2)", cat).toMap
    assert(rs("preview").count() == 2L)
    assert(rs("count").collect().head.getLong(0) == 5L)
  }

  test("geo line length, polygon area, full-arg array_index_of") {
    val r = one(
      """print ll = round(geo_line_length('{"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]}') / 1000.0, 1),
              pa = round(geo_polygon_area('{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,1.0],[0.0,0.0]]]}') / 1e10, 2),
              a1 = array_index_of(pack_array(5, 7, 5, 7, 5), 7, 2),
              a2 = array_index_of(pack_array(5, 7, 5, 7, 5), 5, 0, -1, 3),
              a3 = array_index_of(pack_array(5, 7, 5, 7, 5), 7, 0, 1, 1)""")
    // two ~111.2 km great-circle edges; 1°×1° equatorial cell ≈ 1.24e10 m²
    assert(r.getDouble(0) == 222.4)
    assert(r.getDouble(1) == 1.24)
    assert(r.getLong(2) == 3L)  // first 7 at index >= 2
    assert(r.getLong(3) == 4L)  // third 5
    assert(r.getLong(4) == -1L) // window [0,1) has no 7
  }

  test("punycode round-trip and full-arg indexof") {
    val r = one("""print enc = punycode_from_string('académie-française'),
                        dec = punycode_to_string('acadmie-franaise-npb1a'),
                        ascii = punycode_from_string('hello'),
                        i1 = indexof('abcabcabc', 'bc', 0, -1, 2),
                        i2 = indexof('abcabcabc', 'bc', 2, -1, 1),
                        i3 = indexof('abcabcabc', 'bc', 0, 2, 1),
                        i4 = indexof('abcabcabc', 'zz', 0, -1, 1)""")
    assert(r.getString(0) == "acadmie-franaise-npb1a")
    assert(r.getString(1) == "académie-française")
    assert(r.getString(2) == "hello-")
    // codec failure (label over 63 chars) -> null, not '' — the
    // registry's invalid-input convention (r5 advice)
    val bad = one(s"""print b = punycode_domain_from_string('${"x" * 70}.example')""")
    assert(bad.isNullAt(0))
    assert(r.getLong(3) == 4L)  // second 'bc'
    assert(r.getLong(4) == 4L)  // first 'bc' at/after index 2
    assert(r.getLong(5) == -1L) // window 'ab' has no 'bc'
    assert(r.getLong(6) == -1L)
  }

  test("rows_near keeps the context window around condition rows") {
    val rows = run(
      """datatable(id:long, v:long) [1, 0, 2, 0, 3, 9, 4, 0, 5, 0, 6, 0, 7, 9, 8, 0]
        | sort by id asc
        | evaluate rows_near(v == 9, 1, 2)
        | project id""")
    // cond rows 3 and 7; keep 1 before and 2 after each: 2..5 and 6..8
    assert(rows.map(_.getLong(0)).sorted == Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("basket emits frequent segments above the support ratio") {
    val rows = run(
      """datatable(a:string, b:string) ['x', 'p', 'x', 'p', 'x', 'q', 'y', 'q']
        | evaluate basket(0.5, a, b)
        | sort by percent desc, a asc nulls first, b asc nulls first""")
    // support >= 50% of 4 rows: a=x (75%), b=p, b=q, and (x,p) (50% each)
    assert(rows.map(r => (Option(r.getString(2)), Option(r.getString(3)), r.getLong(0))) ==
      Seq((Some("x"), None, 3L), (None, Some("p"), 2L), (None, Some("q"), 2L),
        (Some("x"), Some("p"), 2L)))
  }

  test("welch_test p-value and series_decompose period autodetect") {
    // equal stats → t = 0 → p = 1; far-apart means → p ≈ 0
    val r = one(
      """print p1 = round(welch_test(5.0, 1.0, 30, 5.0, 1.0, 30), 6),
              p0 = welch_test(0.0, 1.0, 30, 10.0, 1.0, 30) < 1e-6,
              auto = series_decompose(pack_array(
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0)),
              expl = series_decompose(pack_array(
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0,
                1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0), 4)
        | project p1, p0, same = tostring(auto.baseline) == tostring(expl.baseline)""")
    assert(r.getDouble(0) == 1.0)
    assert(r.getBoolean(1))
    // the ACF autodetect recovers period 4 ⇒ identical decomposition
    assert(r.getBoolean(2))
  }

  test("s2 cells: known tokens, roundtrip center, re-encode stability") {
    // (0,0) leaf and the face-cell tokens match the reference S2 values
    val r = one(
      """print leaf = geo_point_to_s2cell(0.0, 0.0, 30),
              f0 = geo_point_to_s2cell(0.0, 0.0, 0),
              f1 = geo_point_to_s2cell(90.0, 0.0, 0),
              f2 = geo_point_to_s2cell(0.0, 80.0, 0),
              f5 = geo_point_to_s2cell(0.0, -80.0, 0),
              t11 = geo_point_to_s2cell(-122.41, 37.77, 11)""")
    assert(r.getString(0) == "1000000000000001")
    assert(r.getString(1) == "1" && r.getString(2) == "3")
    assert(r.getString(3) == "5" && r.getString(4) == "b")
    val t11 = r.getString(5)
    // center of the level-11 cell is within one cell diagonal (~10 km)
    // of the original point, and re-encodes to the same token
    val r2 = one(
      s"""print c = geo_s2cell_to_central_point('$t11')
         | project d = geo_distance_2points(-122.41, 37.77, todouble(c.longitude), todouble(c.latitude)),
                   t = geo_point_to_s2cell(todouble(c.longitude), todouble(c.latitude), 11)""")
    assert(r2.getDouble(0) < 10000.0)
    assert(r2.getString(1) == t11)
  }

  test("top-nested with others folds the non-top values") {
    val rows = run(
      """datatable(k:string, v:long) ['a', 10, 'b', 5, 'c', 1, 'd', 1]
        | top-nested 2 of k with others = 'rest' by sum(v)
        | sort by aggregated_k desc, k asc""")
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 10L), ("b", 5L), ("rest", 2L)))
  }

  test("top-nested with others is correct for non-additive aggregates") {
    // avg over the raw excluded rows: c:1 ×2 + d:4 → avg = 2, NOT the
    // sum/avg of the per-value averages ((1+4)/2 = 2.5)
    val rows = run(
      """datatable(k:string, v:long) ['a', 10, 'b', 5, 'c', 1, 'c', 1, 'd', 4]
        | top-nested 2 of k with others = 'rest' by avg(todouble(v))
        | sort by aggregated_k desc, k asc""")
    assert(rows.map(r => (r.getString(0), r.getDouble(1))) ==
      Seq(("a", 10.0), ("b", 5.0), ("rest", 2.0)))
    // dcount over raw excluded rows: c,d,d → 2 distinct, not sum of
    // per-value dcounts (1+1=2 here, so also pin a duplicate-heavy case)
    val r2 = run(
      """datatable(k:string, u:string) ['a','x','a','y','a','z','b','x','b','y','c','x','c','x','d','x']
        | top-nested 2 of k with others = 'rest' by count_distinct(u)
        | sort by aggregated_k desc, k asc""")
    assert(r2.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 3L), ("b", 2L), ("rest", 1L)))
  }

  test("mv-combine collects per-group arrays (inverse of mv-expand)") {
    val rows = run(
      """datatable(k:string, v:long) ['a', 1, 'a', 2, 'b', 3, 'a', 2]
        | mv-combine v
        | project k, vs = array_sort_asc(v)
        | sort by k asc""")
    assert(rows.map(r => (r.getString(0), r.getSeq[Long](1))) ==
      Seq(("a", Seq(1L, 2L, 2L)), ("b", Seq(3L))))
    // multi-column combine + round-trip with mv-expand
    val rt = run(
      """datatable(k:string, v:long) ['a', 1, 'a', 2, 'b', 3]
        | mv-combine v
        | mv-expand v
        | summarize n = count() by k
        | sort by k asc""")
    assert(rt.map(r => (r.getString(0), r.getLong(1))) == Seq(("a", 2L), ("b", 1L)))
  }

  test("top-nested with others: of-expression name collision keeps raw columns intact") {
    // `of bin(v, 10)` default-names the key "v" — the by-aggregate must
    // still sum RAW v (1+5=6 for the excluded bin 0), not the binned key
    // (0+0=0). r3 ADVICE high: the key is now materialized under an
    // internal name so the raw column survives to the others aggregate.
    val rows = run(
      """datatable(v:long) [1, 5, 12, 13, 25]
        | top-nested 2 of bin(v, 10) with others = 'rest' by sum(v)
        | sort by v asc""")
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("10", 25L), ("20", 25L), ("rest", 6L)))
  }

  test("top-nested: computed parent of-expression joins on the materialized key") {
    // Parent level is a computed bin: the child's grouping and the
    // `with others` anti-join must use the BINNED parent key, not the raw
    // column the default name shadows (r3 ADVICE low #2).
    val rows = run(
      """datatable(v:long, k:string, x:long)
          [1, 'a', 10, 1, 'b', 5, 2, 'a', 3, 11, 'a', 7, 11, 'b', 1, 11, 'c', 2]
        | top-nested 2 of bin(v, 10) by sum(x),
          top-nested 1 of k with others = 'rest' by sum(x)
        | sort by v asc, k asc""")
    // bin 0 rows: sum(x)=18; within it top k = 'a' (13), rest = 5
    // bin 10 rows: sum(x)=10; within it top k = 'a' (7), rest = 1+2 = 3
    assert(rows.map(r => (r.getLong(0), r.getString(2), r.getLong(3))) ==
      Seq((0L, "a", 13L), (0L, "rest", 5L), (10L, "a", 7L), (10L, "rest", 3L)))
  }

  test("driver contract: every declared query ships oracle SQL") {
    // the CORRECTNESS gate hash-compares only oracled rows; a query
    // declared without SQL silently downgrades to a rows-only check —
    // this guard turns that into a loud failure (add the oracle, or an
    // explicit exception here with the reason)
    val noOracle = graft.SparkEntry.queries.keySet -- graft.SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
    // and no orphaned oracles for undeclared queries
    val orphans = graft.SparkEntry.oracleSql.keySet -- graft.SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every evaluate plugin answers a rejected argument count with its signature") {
    val sigs = new graft.kql.Planner(spark, cat).pluginSignatures
    // a Map literal keeps only the last of two equal keys
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/kql/Planner.scala"))
    val declared = "\"([a-z_0-9]+)\" -> plugin\\(".r.findAllMatchIn(src).map(_.group(1)).toList
    assert(declared.size == sigs.size, s"declared twice: ${declared.diff(declared.distinct)}")
    sigs.foreach { case (name, (accepts, sig)) =>
      val n = (0 to 16).find(!accepts(_)).get
      val args = Seq.fill(n)("x").mkString(", ")
      val m = intercept[RuntimeException](
        run(s"datatable(x:long) [1] | evaluate $name($args)")).getMessage
      assert(m.contains(s"plugin '$name' does not take $n argument(s) — expected $sig") &&
        !m.contains("unsupported plugin"), m)
    }
  }

  test("only planStatementsMulti's preview names a plugin outside the plugin table") {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val found = try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => "EvaluateOp\\(\"[^\"]*\"".r
        .findAllIn(java.nio.file.Files.readString(p)).map(m => s"${p.getFileName}: $m"))
      .toList finally s.close()
    assert(found == List("Planner.scala: EvaluateOp(\"preview\""),
      s"declare the plugin in Planner's plugin table instead: $found")
  }

  test("bag_zip degrades on malformed bags instead of throwing") {
    // null key: pair dropped (map_from_arrays would raise 'null as map
    // key'); duplicate key: FIRST occurrence kept (the default
    // mapKeyDedupPolicy=EXCEPTION would kill the whole query)
    val r = run("""print z1 = bag_zip(pack_array('a', null, 'b'), pack_array(1, 2, 3)),
                         z2 = bag_zip(pack_array('k', 'k', 'j'), pack_array(1, 2, 3))""").head
    assert(r.getString(0) == """{"a":1,"b":3}""")
    assert(r.getString(1) == """{"k":1,"j":3}""")
  }

  test("series_cusum_detect: drift position, no-drift zero, tie keeps first peak") {
    // [1,1,5,5,1]: target 1, slack 1 -> steps [-1,-1,3,3,-1] ->
    // S = [0,0,3,6,5] -> peak 6 at position 4
    val r = run("""print a = series_cusum_detect(pack_array(1.0, 1.0, 5.0, 5.0, 1.0), 1.0, 1.0),
                         b = series_cusum_detect(pack_array(1.0), 5.0, 0.0),
                         c = series_cusum_detect(pack_array(3.0, 3.0), 1.0, 1.0)
                   | project sa = todouble(a.max_stat), ia = tolong(a.idx),
                             sb = todouble(b.max_stat), ib = tolong(b.idx),
                             sc = todouble(c.max_stat), ic = tolong(c.idx)""").head
    assert(r.getDouble(0) == 6.0 && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 0.0 && r.getLong(3) == 0L) // below target
    // strictly-better rule: equal increments keep growing, idx follows
    assert(r.getDouble(4) == 2.0 && r.getLong(5) == 2L)
  }

  test("url_normalize: idempotent, null-safe, collapses tracking variants") {
    val r = run("""print a = url_normalize(url_normalize('HTTP://A.io:80/x?utm_source=1&b=2#f')),
                         n = url_normalize(''),
                         q = url_normalize('https://a.io/x?'),
                         p = url_normalize('https://a.io:8080/x')""").head
    assert(r.getString(0) == "http://a.io/x?b=2") // idempotent
    assert(r.getString(1) == "") // empty passes through, never throws
    assert(r.getString(2) == "https://a.io/x")    // empty query dropped
    assert(r.getString(3) == "https://a.io:8080/x") // non-default port kept
    // two tracking-variants of one page collapse to one dedup key
    val keys = run("""datatable (u: string) [
        'https://Site.com/p?utm_campaign=a&x=1',
        'https://site.com:443/p?x=1&fbclid=zz'
      ] | extend k = url_normalize(u) | distinct k""")
    assert(keys.length == 1)
  }

  test("parse_ipv4_mask nulls out-of-range prefixes uniformly") {
    val r = run("""print ok = parse_ipv4_mask('192.168.1.10', 24),
                         neg = parse_ipv4_mask('192.168.1.10', -1),
                         big = parse_ipv4_mask('192.168.1.10', 33)""").head
    assert(r.getLong(0) == 3232235776L) // 192.168.1.0
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("function registry declares no duplicate keys") {
    // a Scala Map literal silently keeps only the LAST entry for a
    // duplicated key — this shadowed the series_iir aggregate fold with
    // an older UDF for three rounds; scan the source so it cannot recur
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/kql/Functions.scala")))
    val keys = "\"([a-zA-Z_0-9]+)\" -> f \\{".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    val dups = keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"duplicate registry keys: ${dups.mkString(", ")}")
  }

  test("Suggest.operators stays in sync with the parser's tab-op cases") {
    // same drift guard as the plugins one: scan parseTabOp's source for
    // its case-string literals so a new operator keyword (or a removed
    // one) fails here instead of silently degrading suggestions
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/kql/Parser.scala")))
    val start = src.indexOf("private def parseTabOp")
    val rest = src.substring(start + 10)
    val end = "\n  (?:private )?def ".r.findFirstMatchIn(rest).get.start
    val body = src.substring(start, start + 10 + end)
    // nested literals inside parseTabOp that are NOT operator keywords:
    // scan's column-type defaults and parse-kv's option names
    val nested = Set("bool", "boolean", "double", "int", "long", "real",
      "timespan", "kv_delimiter", "pair_delimiter")
    val declared = "case (\"[^=]+?)=>".r.findAllMatchIn(body).map(_.group(1))
      .flatMap("\"([a-z][a-z0-9_-]*)\"".r.findAllMatchIn(_).map(_.group(1)))
      .toSet -- nested
    val listed = graft.kql.Suggest.operators.toSet
    assert(declared == listed,
      s"parser-only: ${declared -- listed}; list-only: ${listed -- declared}")
  }

  test("error suggestions: misspellings name the nearest candidate") {
    def msg(q: String): String =
      intercept[RuntimeException](run(q)).getMessage
    // operator
    assert(msg("lineitem | summarze x = count()")
      .contains("did you mean 'summarize'"))
    // dashed operator: the lexer splits at '-', so the unknown-operator
    // error sees only the misspelled HEAD and suggests its neighbour
    assert(msg("lineitem | projct-away l_tax")
      .contains("did you mean 'project'"))
    // scalar function
    assert(msg("print x = tolongg('1')").contains("did you mean 'tolong'"))
    // column
    assert(msg("lineitem | project l_quantty")
      .contains("did you mean 'l_quantity'"))
    // evaluate plugin
    assert(msg("lineitem | evaluate pivott(l_returnflag)")
      .contains("did you mean 'pivot'"))
    // nothing close -> no misleading hint
    assert(!msg("print x = zzqqxxyy(1)").contains("did you mean"))
    // wrong arity on a KNOWN plugin: an arity message, never the name
    // suggested back at the user at edit distance 0
    val ar = msg("lineitem | evaluate semdedup(0.3)")
    assert(ar.contains("does not take 1 argument") && !ar.contains("did you mean"), ar)
  }

  test("make-graph not followed by a graph operator is a plan error") {
    val e = intercept[RuntimeException](run(
      """datatable(s:string, d:string) ['a', 'b']
        | make-graph s --> d
        | where s == 'a'"""))
    assert(e.getMessage.contains("graph"))
    val e2 = intercept[RuntimeException](run(
      """datatable(s:string, d:string) ['a', 'b']
        | make-graph s --> d"""))
    assert(e2.getMessage.contains("graph"))
  }

  // parse_urlquery duplicate keys: last-occurrence wins. Offline env, so
  // pinned to Kusto's published dynamic/JSON semantics rather than a live
  // ADX probe: a property bag cannot hold duplicate keys, and Kusto's
  // parse_json keeps the LAST occurrence on duplicate-key input, so the
  // query-string bag does the same (k=1&k=2 -> k=2).
  test("array_index_of length=0 window returns -1; parse_urlquery dedups repeated params") {
    val r = one(
      """print a = array_index_of(pack_array(5, 7, 5), 5, 0, 0),
              b = array_index_of(pack_array(5, 7, 5), 7, 1, 0),
              q = parse_urlquery('k=1&k=2&z=9')
        | project a, b, q""")
    assert(r.getLong(0) == -1L && r.getLong(1) == -1L)
    assert(r.getString(2) == """{"Query Parameters":{"k":"2","z":"9"}}""")
  }

  test("multi-array array_sort is stable on ties, nulls last, empty-safe") {
    val r = one(
      """print d = array_sort_desc(pack_array(1, 3, toint(''), 3, 2), pack_array(10, 20, 30, 40, 50)),
              a = array_sort_asc(pack_array(1, 3, toint(''), 3, 2), pack_array(10, 20, 30, 40, 50)),
              e = array_sort_desc(array_slice(pack_array(1), 1, 0), array_slice(pack_array(1), 1, 0))
        | project dk = tostring(d[0]), dv = tostring(d[1]),
                  ak = tostring(a[0]), av = tostring(a[1]), en = array_length(e[0])""")
    // desc: 3,3 tie keeps original order (20 before 40); null last
    assert(r.getString(0) == "[3, 3, 2, 1, null]")
    assert(r.getString(1) == "[20, 40, 50, 10, 30]")
    // asc: nulls last too (matches the single-array array_sort path)
    assert(r.getString(2) == "[1, 2, 3, 3, null]")
    assert(r.getString(3) == "[10, 50, 20, 40, 30]")
    assert(r.getLong(4) == 0L)
  }

  test("active_users_count: needs m distinct periods inside the lookback") {
    // 'a' active on days 1,2,3 → counted from day 3 (3 periods in a 3d
    // lookback) but not on day 4 (only days 2,3 remain... still 2 < 3? no:
    // lookback 3d at day4 covers days 2,3,4 → a has 2) ; 'b' active once
    val rows = run(
      """datatable(ts:datetime, u:string) [
           datetime(2024-01-01 01:00:00), 'a',
           datetime(2024-01-02 01:00:00), 'a',
           datetime(2024-01-03 01:00:00), 'a',
           datetime(2024-01-01 02:00:00), 'b']
         | evaluate active_users_count(u, ts, datetime(2024-01-01), datetime(2024-01-05), 3d, 1d, 3, 1d)
         | sort by ts asc""")
    assert(rows.map(_.getLong(1)) == Seq(0L, 0L, 1L, 0L, 0L))
  }

  test("activity_counts_metrics: new vs cumulative distinct") {
    val rows = run(
      """datatable(ts:datetime, u:string) [
           datetime(2024-01-01 01:00:00), 'a',
           datetime(2024-01-01 02:00:00), 'b',
           datetime(2024-01-02 01:00:00), 'a',
           datetime(2024-01-03 01:00:00), 'c']
         | evaluate activity_counts_metrics(u, ts, datetime(2024-01-01), datetime(2024-01-04), 1d)
         | sort by ts asc""")
    // (count, dcount, new, aggregated) per day
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))) ==
      Seq((2L, 2L, 2L, 2L), (1L, 1L, 0L, 2L), (1L, 1L, 1L, 3L)))
  }

  test("ORC source: catalog extension fallback, same results, pushdown reaches the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
      .write.mode("overwrite").orc(s"$dir/nation.orc")
    val q = "nation | where n_regionkey == 2 | summarize n = count()"
    val viaOrc = graft.kql.Kql.run(spark, q, dir)
    val viaParquet = graft.kql.Kql.run(spark, q, TestSpark.sfDir)
    assert(viaOrc.head.getLong(0) == viaParquet.head.getLong(0))
    val plan = viaOrc.queryExecution.executedPlan.toString
    assert(plan.contains("orc") || plan.contains("Orc"))
    assert(plan.contains("PushedFilters") || plan.contains("pushedFilters"))
  }

  test("r6 plugin plan shapes: top-k ANN, single-cube diffpatterns, no cartesians") {
    def plan(q: String): String =
      graft.kql.Kql.run(spark, q, TestSpark.sfDir)
        .queryExecution.executedPlan.toString
    // SQ8 ANN: candidate selection is distributed top-k, never a sort
    val sq8 = plan("embeddings | evaluate ann_sq8(0, 5, 4, vec_id, embedding)")
    assert(sq8.contains("TakeOrderedAndProject"))
    assert(!sq8.contains("CartesianProduct"))
    // diffpatterns: ONE cube aggregate (Expand) + a 1-row broadcast for
    // the totals — no cartesian, no second scan-side aggregate pass
    val dp = plan("documents | evaluate diffpatterns(lang, 'en', 'es', 0.5, source)")
    assert(dp.contains("Expand") && !dp.contains("CartesianProduct"))
    // retention plugins: equi-joins only
    val am = plan("events | evaluate activity_metrics(user_id, ts, 1d)")
    val nam = plan("events | evaluate new_activity_metrics(user_id, ts, 1d)")
    assert(!am.contains("CartesianProduct") && !nam.contains("CartesianProduct"))
  }

  test("funnel_sequence_completion: per-start-bin step counts within the window") {
    val rows = run(
      """datatable(ts:datetime, u:string, et:string) [
           datetime(2024-01-01 00:30:00), 'u1', 'signup',
           datetime(2024-01-01 01:00:00), 'u1', 'click',
           datetime(2024-01-09 01:00:00), 'u1', 'purchase',
           datetime(2024-01-01 02:00:00), 'u2', 'signup',
           datetime(2024-01-02 02:00:00), 'u2', 'click',
           datetime(2024-01-02 03:00:00), 'u3', 'signup',
           datetime(2024-01-02 04:00:00), 'u3', 'purchase']
         | evaluate funnel_sequence_completion(u, ts, et, 1d, 7d,
             'signup', 'click', 'purchase')
         | sort by period asc, step_idx asc""")
    // day-1 starts {u1,u2}: both click within 7d; u1's purchase is 8d+
    // out (earliest-chain window miss). day-2 start {u3}: purchase
    // without a click never completes the chain.
    assert(rows.map(r => (r.getLong(1), r.getString(2), r.getLong(3))) == Seq(
      (0L, "signup", 2L), (1L, "click", 2L), (2L, "purchase", 0L),
      (0L, "signup", 1L), (1L, "click", 0L), (2L, "purchase", 0L)))
  }

  test("diffpatterns: segments whose share differs between the A and B splits") {
    val rows = run(
      """datatable(s:string, x:string) [
           'A', 'p', 'A', 'p', 'A', 'p', 'A', 'q',
           'B', 'p', 'B', 'q', 'B', 'q', 'B', 'q']
         | evaluate diffpatterns(s, 'A', 'B', 10.0, x)
         | sort by x asc""")
    // x=p: 3/4 of A vs 1/4 of B (diff 50); x=q mirrors it
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getString(5))) ==
      Seq((3L, 1L, 75.0, 25.0, 50.0, "p"), (1L, 3L, 25.0, 75.0, 50.0, "q")))
    // a 100-point threshold filters everything
    assert(run(
      """datatable(s:string, x:string) ['A', 'p', 'B', 'p']
         | evaluate diffpatterns(s, 'A', 'B', 100.0, x)""").isEmpty)
  }

  test("diffpatterns_text: tokens whose doc-frequency share differs between splits") {
    val rows = run(
      """datatable(s:string, t:string) [
           'A', 'fail timeout db', 'A', 'fail timeout net',
           'B', 'ok fast db', 'B', 'ok fast net']
         | evaluate diffpatterns_text(t, s, 'A', 'B', 50.0)
         | sort by token asc""")
    // fail/timeout are 100% of A, ok/fast 100% of B; db/net are 50/50
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(5))) == Seq(
      ("fail", 2L, 0L, 100.0), ("fast", 0L, 2L, 100.0),
      ("ok", 0L, 2L, 100.0), ("timeout", 2L, 0L, 100.0)))
    // repeated token in one row counts ONCE (doc frequency, not tf)
    val rep = run(
      """datatable(s:string, t:string) ['A', 'x x x', 'B', 'y']
         | evaluate diffpatterns_text(t, s, 'A', 'B', 1.0)
         | sort by token asc""")
    assert(rep.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("x", 1L), ("y", 0L)))
  }

  test("new_activity_metrics: cohort retention with exact micro rates") {
    val rows = run(
      """datatable(ts:datetime, u:string) [
           datetime(2024-01-01 01:00:00), 'a',
           datetime(2024-01-01 02:00:00), 'b',
           datetime(2024-01-01 03:00:00), 'c',
           datetime(2024-01-02 01:00:00), 'a',
           datetime(2024-01-02 02:00:00), 'd',
           datetime(2024-01-03 01:00:00), 'a',
           datetime(2024-01-03 02:00:00), 'd']
         | evaluate new_activity_metrics(u, ts, 1d)
         | sort by from_ts asc, to_ts asc""")
    // cohort d1 = {a,b,c}: d1 3/3 retained, d2 1/3 (a), d3 1/3 (a);
    // cohort d2 = {d}: d2 1/1, d3 1/1
    val got = rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got == Seq(
      (3L, 3L, 0L, 1000000L),   // d1 → d1
      (3L, 1L, 2L, 333333L),    // d1 → d2 (floor micro division)
      (3L, 1L, 2L, 333333L),    // d1 → d3
      (1L, 1L, 0L, 1000000L),   // d2 → d2
      (1L, 1L, 0L, 1000000L)))  // d2 → d3
    // the double view is micros/1e6 exactly
    assert(rows.map(_.getDouble(6)) == got.map(_._4 / 1000000.0))
  }

  test("activity_metrics: window-over-window retention, null rate on first bin") {
    val rows = run(
      """datatable(ts:datetime, u:string) [
           datetime(2024-01-01 01:00:00), 'a',
           datetime(2024-01-01 02:00:00), 'b',
           datetime(2024-01-01 03:00:00), 'c',
           datetime(2024-01-02 01:00:00), 'a',
           datetime(2024-01-02 02:00:00), 'd',
           datetime(2024-01-03 01:00:00), 'a',
           datetime(2024-01-03 02:00:00), 'd']
         | evaluate activity_metrics(u, ts, 1d)
         | sort by ts asc""")
    // (dcount, new, retained, rate_micros): d1 has no previous bin ⇒
    // null retained/rate; d2 retains {a} of 3; d3 retains {a,d} of 2
    def optL(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val got = rows.map(r => (r.getLong(1), r.getLong(2), optL(r, 3), optL(r, 4)))
    assert(got == Seq(
      (3L, 3L, None, None),
      (2L, 1L, Some(1L), Some(333333L)),
      (2L, 0L, Some(2L), Some(1000000L))))
  }

  private val graphEdges =
    """datatable(src:string, dst:string, w:long) [
         'a', 'b', 1, 'b', 'c', 2, 'a', 'c', 5, 'c', 'd', 1]"""

  test("graph-match: fixed two-hop chain with edge and node predicates") {
    val rows = run(
      s"""$graphEdges
         | make-graph src --> dst
         | graph-match (x)-[e1]->(y)-[e2]->(z)
           where e1.w < 5
           project xid = x.id, zid = z.id, cost = e1.w + e2.w
         | sort by xid asc, zid asc""")
    // a->b->c (1+2) and b->c->d (2+1)
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))) ==
      Seq(("a", "c", 3L), ("b", "d", 3L)))
  }

  test("graph-match: backward edge reverses direction") {
    val rows = run(
      s"""$graphEdges
         | make-graph src --> dst
         | graph-match (x)<-[e]-(y)
           where x.id == 'c'
           project yid = y.id
         | sort by yid asc""")
    assert(rows.map(_.getString(0)) == Seq("a", "b"))
  }

  test("graph-match: variable-length edge binds an edge array") {
    val rows = run(
      s"""$graphEdges
         | make-graph src --> dst
         | graph-match (x)-[e*1..3]->(y)
           where x.id == 'a' and y.id == 'd'
           project hops = array_length(e)
         | sort by hops asc""")
    // a->c->d (2 hops) and a->b->c->d (3 hops)
    assert(rows.map(_.getLong(0)) == Seq(2L, 3L))
  }

  test("graph-match: node properties via `with nodes on id`") {
    val rows = run(
      s"""let N = datatable(id:string, label:string) ['a', 'src', 'd', 'sink'];
         $graphEdges
         | make-graph src --> dst with N on id
         | graph-match (x)-[e*2..3]->(y)
           where isnotempty(x.label) and y.label == 'sink'
           project xl = x.label, yl = y.label
         | distinct xl, yl""")
    assert(rows.map(r => (r.getString(0), r.getString(1))) == Seq(("src", "sink")))
  }

  test("graph-shortest-paths: min hops per pair") {
    val rows = run(
      s"""$graphEdges
         | make-graph src --> dst
         | graph-shortest-paths (s)-[e*1..4]->(t)
           where s.id == 'a'
           project tid = t.id, hops = array_length(e)
         | sort by tid asc""")
    // from a: b=1, c=1 (direct beats a->b->c), d=2
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("b", 1L), ("c", 1L), ("d", 2L)))
  }

  test("graph-to-table: nodes and edges") {
    val n = run(s"$graphEdges | make-graph src --> dst | graph-to-table nodes | count")
    assert(n.head.getLong(0) == 4L)
    val e = run(s"$graphEdges | make-graph src --> dst | graph-to-table edges | count")
    assert(e.head.getLong(0) == 4L)
  }

  test("ipv4 family: netmask suffix, private ranges, compare, match") {
    val r = one("""print ns = ipv4_netmask_suffix('192.168.1.1/24'),
                        ns32 = ipv4_netmask_suffix('10.0.0.1'),
                        p1 = ipv4_is_private('10.1.2.3'), p2 = ipv4_is_private('172.20.0.1'),
                        p3 = ipv4_is_private('8.8.8.8'),
                        c0 = ipv4_compare('192.168.1.1/24', '192.168.1.255'),
                        cl = ipv4_compare('10.0.0.1', '10.0.0.2'),
                        m = ipv4_is_match('10.1.2.3', '10.1.0.0', 16)""")
    assert(r.getLong(0) == 24L)
    assert(r.getLong(1) == 32L)
    assert(r.getBoolean(2)); assert(r.getBoolean(3)); assert(!r.getBoolean(4))
    assert(r.getLong(5) == 0L)
    assert(r.getLong(6) == -1L)
    assert(r.getBoolean(7))
  }

  test("r5 scalar additions: hash mod, bin_auto minimum, index misses, unit errors") {
    // hash(v, m) = hash(v) mod m; hash_many is order-sensitive
    val h = one("""print a = hash('x', 100), b = hash('x'), eq = hash_many('a', 'b') == hash_many('a', 'b'), ne = hash_many('a', 'b') != hash_many('b', 'a')""")
    assert(h.getLong(0) >= 0 && h.getLong(0) < 100)
    assert(h.getBoolean(2) && h.getBoolean(3))
    // bin_auto honors query_bin_auto_minimum as the alignment point
    val ba = one(
      """let query_bin_auto_size = 10; let query_bin_auto_minimum = 3;
        print b = bin_auto(47)""")
    assert(ba.getLong(0) == 43L) // bins aligned to 3: [43, 53)
    // has_any_index: no match -> -1; first match wins
    val hi = one("""print none = has_any_index('alpha beta', 'x', 'y'), first = has_any_index('alpha beta', 'beta', 'alpha')""")
    assert(hi.getLong(0) == -1L && hi.getLong(1) == 0L)
    // unknown conversion units yield null, not a wrong number
    val cu = one("""print u = convert_length(1.0, 'Cubit', 'Meter')""")
    assert(cu.isNullAt(0))
    // treepath of a scalar has no paths; codepoints round-trip
    val tp = one("""print t = array_length(treepath(dynamic(5))), rt = unicode_codepoints_to_string(unicode_codepoints_from_string('héllo ☃'))""")
    assert(tp.getLong(0) == 0L)
    assert(tp.getString(1) == "héllo ☃")
  }

  test("review fixes: RFC3986 component set, invalid codepoints, 2^53-safe bin_at") {
    // '~' stays unreserved, '*' escapes, space is %20 (not '+')
    val ue = one("""print e = url_encode_component('~a *b')""")
    assert(ue.getString(0) == "~a%20%2Ab")
    // invalid code points yield null, never a task crash
    val cp = one("""print bad = unicode_codepoints_to_string(pack_array(1114112)), sur = unicode_codepoints_to_string(pack_array(55296))""")
    assert(cp.isNullAt(0) && cp.isNullAt(1))
    // integer bin_at is exact beyond 2^53 (double floor would misbin)
    val ba = one("""print b = bin_at(1152921504606846976, 10, 0)""")
    assert(ba.getLong(0) == 1152921504606846970L)
    // fractional size over an integer axis stays on the double path
    // (the integer path would truncate 2.5 to 2)
    val bf = one("""print b = bin_at(7, 2.5, 0)""")
    assert(bf.getDouble(0) == 5.0)
    // zero-arg codepoints builds '' (foldLeft, not reduce-on-empty)
    assert(one("""print s = unicode_codepoints_to_string()""").getString(0) == "")
  }

  test("geo_distance_point_to_line edges: on-line zero, invalid inputs null") {
    val r = one("""print zero = round(geo_distance_point_to_line(0.5, 0.0,
        dynamic({"type":"LineString","coordinates":[[0.0,0.0],[1.0,0.0]]})), 4),
      single = geo_distance_point_to_line(1.0, 0.0,
        dynamic({"type":"LineString","coordinates":[[0.0,0.0]]})),
      bad = geo_distance_point_to_line(0.0, 0.0, dynamic(null)),
      malformed = geo_distance_point_to_line(0.0, 0.0,
        dynamic({"type":"LineString","coordinates":[[1.0],[2.0,0.0],[3.0,0.0]]})),
      wrongtype = geo_distance_point_to_line(0.0, 0.0,
        dynamic({"type":"Point","coordinates":[[0.0,0.0],[1.0,0.0]]}))""")
    assert(math.abs(r.getDouble(0)) < 1e-6)   // point ON the segment
    // every invalid-input class nulls — never a confident number:
    // < 2 positions, null line, a malformed coordinate mid-line (a
    // skipping array_min would return the distance to segment 2-3),
    // and a non-LineString type
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("scalar batch 7 edges: replace_strings nulls, cmdline quoting, neighbor counts") {
    // mismatched lookup/rewrite lengths -> null; pack_array form works too
    val rs = one("""print bad = replace_strings('x', dynamic(['a']), dynamic(['b', 'c'])), arr = replace_strings('x y', pack_array('x'), pack_array('z'))""")
    assert(rs.isNullAt(0) && rs.getString(1) == "z y")
    // argv[0] uses CommandLineToArgvW's PROGRAM-NAME rule: backslashes
    // stay literal and quotes only toggle — so the leading a\\"b c"
    // keeps both backslashes; backslash counting applies from argv[1] on
    val cl = one("""print a = dynamic_to_json(parse_command_line('a\\\\"b c" d', 'windows'))""")
    assert(cl.getString(0) == """["a\\\\b c","d"]""")
    // argv[0] quote handling is toggle-only ("" does NOT emit a quote in
    // the program name); the post-2008 "" rule is argument-side. The
    // ARGUMENT machine keeps it: see the 2nd token. Non-windows
    // dialects null.
    val cq = one("""print q = dynamic_to_json(parse_command_line('"a""b" "c""d"', 'windows')), px = parse_command_line('a b', 'posix')""")
    assert(cq.getString(0) == """["ab","c\"d"]""")
    assert(cq.isNullAt(1))
    // argument-side backslash counting still applies past argv[0]
    val c2 = one("""print a = dynamic_to_json(parse_command_line('prog a\\\\"b c" d', 'windows'))""")
    assert(c2.getString(0) == """["prog","a\\b c","d"]""")
    // a mid-lat cell has 8 neighbors, a near-pole cell fewer; garbage -> null
    val nb = one("""print n8 = array_length(geo_geohash_neighbors('u4pruy')), np = array_length(geo_geohash_neighbors('z')), bad = geo_geohash_neighbors('!!')""")
    assert(nb.getLong(0) == 8L)
    assert(nb.getLong(1) < 8L) // 'z' touches the pole band
    assert(nb.isNullAt(2))
  }

  test("TPC-H Q6/Q14 plans: filters reach the scan, dim join broadcasts") {
    val q6 = Kql.run(spark,
      """lineitem
        | where l_shipdate >= datetime(1997-01-01) and l_shipdate < datetime(1998-01-01)
        | where l_discount >= 0.03 and l_discount <= 0.05 and l_quantity < 24.0
        | summarize rc = sum(tolong(round(l_extendedprice * l_discount * 10000)))""",
      cat).queryExecution.executedPlan.toString
    // predicates land in the parquet scan's pushed filters (the plan's
    // toString truncates the list — assert the visible prefix and the
    // pruned read schema, which shows only the 4 referenced columns)
    assert(q6.contains("PushedFilters: [IsNotNull(l_shipdate)"), q6.take(1200))
    assert(q6.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      q6.take(1200))
    assert(!q6.contains("l_orderkey"), "unpruned read schema: " + q6.take(1200))
    val q14 = Kql.run(spark,
      """lineitem
        | where l_shipdate >= datetime(1997-09-01) and l_shipdate < datetime(1997-10-01)
        | join kind=inner (part) on $left.l_partkey == $right.p_partkey
        | summarize total = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))""",
      cat).queryExecution.executedPlan.toString
    assert(q14.contains("BroadcastHashJoin"), q14.take(1200))
  }

  test("TPC-H Q4/Q16/Q21 plans: semi/anti stay semi/anti, small sides broadcast") {
    // Q4: the EXISTS shape must plan as a SEMI join (no fact-row
    // duplication + re-distinct), with the date window pushed to the
    // orders scan
    val q4 = Kql.run(spark,
      """orders
        | where o_orderdate >= datetime(1997-01-01) and o_orderdate < datetime(1997-04-01)
        | join kind=leftsemi (lineitem | where l_returnflag == 'R')
          on $left.o_orderkey == $right.l_orderkey
        | summarize order_count = count() by o_orderpriority""",
      cat).queryExecution.executedPlan.toString
    assert(q4.contains("LeftSemi"), q4.take(1500))
    assert(q4.contains("PushedFilters: [IsNotNull(o_orderdate)"), q4.take(1500))
    // Q16: the NOT-IN shape must plan as an ANTI join against the tiny
    // supplier side — broadcast, not shuffled
    val q16 = Kql.run(spark,
      """lineitem
        | join kind=leftanti (supplier | where s_acctbal < 0)
          on $left.l_suppkey == $right.s_suppkey
        | summarize supplier_cnt = count_distinct(l_suppkey)""",
      cat).queryExecution.executedPlan.toString
    assert(q16.contains("BroadcastHashJoin") && q16.contains("LeftAnti"), q16.take(1500))
    // Q21: three chained semi-joins — every one must remain a semi join
    // (ids-only probes), and the nation dim must broadcast
    val q21 = Kql.run(spark,
      """let late = lineitem | where l_returnflag == 'R';
        late
        | join kind=leftsemi (orders | where o_orderstatus == 'F')
          on $left.l_orderkey == $right.o_orderkey
        | join kind=leftsemi (lineitem
            | summarize ns = count_distinct(l_suppkey) by l_orderkey
            | where ns > 1) on l_orderkey
        | join kind=leftsemi (late
            | summarize nl = count_distinct(l_suppkey) by l_orderkey
            | where nl == 1) on l_orderkey
        | join kind=inner (supplier) on $left.l_suppkey == $right.s_suppkey
        | join kind=inner (nation) on $left.s_nationkey == $right.n_nationkey
        | summarize numwait = count_distinct(l_orderkey) by s_name""",
      cat).queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(q21).size >= 3, q21.take(2000))
    assert(q21.contains("BroadcastHashJoin"), q21.take(2000))
  }
}

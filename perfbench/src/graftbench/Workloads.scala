package graftbench

import graft.kql.{Catalog, Lexer, Parser, Planner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** What an operation hands back to the runner: the frames to
  * materialize (every branch of a multi-result query), empty for a
  * write, whose result is the state it leaves at rest. */
final case class Op(key: String, family: String, kind: String, tag: String,
                    body: Ctx => Seq[(String, DataFrame)])

final class Ctx(val spark: SparkSession, val tr: Tracer, val data: String,
                val work: String) {
  def dir(sf: String): String = s"$data/$sf"
  /** tokens lexed by the traced run's explicit `Lexer.lex` calls, and
    * tables the benchmark resolved through `Catalog.table` */
  var tokens = 0L
  var tables = 0L
}

trait Workload {
  def name: String
  /** Fixtures opened once per set-up (outside any timed operation). */
  def open(ctx: Ctx): Unit = ()
  /** One operation that walks the workload's whole path on tiny inputs;
    * part of each set-up. */
  def ping: Op = Workloads.pingOp
  /** Untimed operations run before the window: they load classes, fill
    * code caches and build the state the timed operations read. They run
    * on four threads, so each must stand alone. */
  def prepare(ctx: Ctx): Seq[Op] = Nil
  /** Operations whose digests are taken before the window. Used where the
    * window only repeats exact operations; operations with fresh inputs
    * are digested after the window instead, so they reach it unseen. */
  def verifyBefore(seed: Long): Seq[Op] = Nil
  /** Timed rounds; the seed picks order and literals. */
  def rounds(seed: Long): Int => Seq[Op]
  /** Every operation any seed can produce (for recording goldens). */
  def universe(ctx: Ctx): Seq[Op]
  /** At-rest state to digest after the window (writes have no result). */
  def state(ctx: Ctx): Seq[(String, () => DataFrame)] = Nil
}

object Workloads {
  val all: Seq[Workload] = Seq(KqlInteractive, BatchIndex)
  def byName(n: String): Workload =
    (all :+ SelfTest).find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$n'"))

  /** KQL text → frames through the public front end, one span per layer.
    * A fresh Catalog per operation, as `Kql.run(spark, text, dir)` does;
    * the tables are resolved inside the catalog span so the planner's
    * own lookups hit that Catalog instance. */
  def kql(ctx: Ctx, dir: String, tables: Seq[String], text: String,
          multi: Boolean): Seq[(String, DataFrame)] = {
    val tr = ctx.tr
    val cat = tr.span("catalog") {
      val c = Catalog(ctx.spark, dir)
      tables.foreach(c.table)
      ctx.tables += tables.length
      c
    }
    if (tr.on) tr.span("lexer") { ctx.tokens += Lexer.lex(text).length }
    val st = tr.span("parser") { new Parser(text).parseStatements() }
    tr.span("planner") {
      val p = new Planner(ctx.spark, cat)
      if (multi) p.planStatementsMulti(st) else Seq("result" -> p.planStatements(st))
    }
  }

  lazy val pingOp: Op = Op("ping", "ping", "query", "",
    ctx => kql(ctx, ctx.dir("sf0.001"), Seq("lineitem"),
      "lineitem | where l_quantity > 10 | summarize n = count() by l_returnflag",
      multi = false))
}

/** Front-end-bound: short KQL queries in the shape of the `q*` inventory
  * families at sf0.01. Half of each round after the first repeats an
  * earlier exact text (a dashboard refresh), alternating halves; the rest
  * use literals this run has not sent yet (ad hoc). */
object KqlInteractive extends Workload {
  val name = "kql_interactive"
  private val sf = "sf0.01"
  /** literal slots 0 until poolSize feed the window; the one after them
    * feeds the warm-up only, so warm-up never pre-compiles a timed text */
  val poolSize = 16
  private val warmSlot = poolSize

  final case class T(name: String, tables: Seq[String], text: Int => String,
                     multi: Boolean = false)

  private def pick[A](xs: Seq[A], i: Int): A = xs(i % xs.length)
  private val flags = Seq("A", "N", "R")
  private val segments = Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
  private val regions = Seq("ASIA", "AMERICA", "EUROPE", "AFRICA", "MIDDLE EAST")
  private val langs = Seq("en", "es", "fr", "de", "zh")
  private val words = Seq("gear", "widget", "bolt", "ring", "gizmo", "red", "small", "blue", "hot")
  private val spans = Seq("1h", "6h", "12h", "1d")

  val templates: Seq[T] = Seq(
    T("where_project", Seq("lineitem"), i =>
      s"""lineitem
         | where l_quantity > ${10 + 2 * i} and l_returnflag == '${pick(flags, i)}'
         | project l_orderkey, l_linenumber, l_quantity,
                   revenue = l_extendedprice * (1 - l_discount)
         | sort by l_orderkey asc, l_linenumber asc, revenue asc, l_quantity asc
         | take 100"""),
    T("tpch_q1", Seq("lineitem"), i =>
      s"""lineitem
         | where l_shipdate <= datetime(1998-${f"${1 + i % 9}%02d"}-${f"${2 + i}%02d"})
         | summarize sum_qty=sum(tolong(round(l_quantity))),
                     sbp=sum(tolong(round(l_extendedprice * 100))),
                     sdp=sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))),
                     avg_qty=round(avg(l_quantity), 4),
                     avg_price=round(avg(l_extendedprice), 4),
                     count_order=count()
           by l_returnflag, l_linestatus
         | extend sum_base_price = todouble(sbp) / 100.0,
                  sum_disc_price = todouble(sdp) / 10000.0
         | project-away sbp, sdp
         | sort by l_returnflag asc, l_linestatus asc"""),
    T("summarize_bin_ts", Seq("events"), i =>
      s"""events
         | where value > ${i * 7}.5
         | summarize n=count(), total_c=sum(tolong(round(value * 100))) by bin(ts, ${pick(spans, i)})
         | extend total = todouble(total_c) / 100.0
         | project-away total_c
         | sort by ts asc"""),
    T("bin_numeric", Seq("lineitem"), i =>
      s"""lineitem
         | where l_discount <= 0.0${1 + i % 9}
         | summarize n=count(), avg_price=round(avg(l_extendedprice), 4) by bin(l_quantity, ${5 + i})
         | sort by l_quantity asc"""),
    T("tpch_q3", Seq("customer", "orders", "lineitem"), i =>
      s"""customer
         | where c_mktsegment == '${pick(segments, i)}'
         | join kind=inner (orders | where o_orderdate < datetime(${1996 + i % 5}-0${1 + i % 7}-15)) on $$left.c_custkey == $$right.o_custkey
         | join kind=inner (lineitem) on $$left.o_orderkey == $$right.l_orderkey
         | summarize rc=sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))
             by o_orderkey, o_orderdate
         | extend revenue = todouble(rc) / 10000.0
         | project-away rc
         | sort by revenue desc, o_orderkey asc
         | take 20"""),
    T("tpch_q5", Seq("region", "nation", "customer", "orders", "lineitem", "supplier"), i =>
      s"""region
         | where r_name == '${pick(regions, i)}'
         | join kind=inner (nation) on $$left.r_regionkey == $$right.n_regionkey
         | join kind=inner (customer) on $$left.n_nationkey == $$right.c_nationkey
         | join kind=inner (orders) on $$left.c_custkey == $$right.o_custkey
         | where o_orderdate >= datetime(${1995 + i % 6}-01-01) and o_orderdate < datetime(${1996 + i % 6}-01-01)
         | join kind=inner (lineitem) on $$left.o_orderkey == $$right.l_orderkey
         | join kind=inner (supplier) on $$left.l_suppkey == $$right.s_suppkey
         | where s_nationkey == n_nationkey
         | summarize rc = sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000))) by n_name
         | extend revenue = todouble(rc) / 10000.0
         | project-away rc
         | sort by revenue desc, n_name asc"""),
    T("semi_join", Seq("customer", "orders"), i =>
      s"""customer
         | where c_acctbal > ${-1000 + 500 * i}
         | join kind=leftsemi (orders | where o_totalprice > ${100000 + 20000 * i}) on $$left.c_custkey == $$right.o_custkey
         | project c_custkey, c_name, c_acctbal
         | sort by c_custkey asc"""),
    T("lookup", Seq("lineitem", "supplier"), i =>
      s"""lineitem
         | where l_quantity >= ${1 + 3 * i}
         | lookup (supplier) on $$left.l_suppkey == $$right.s_suppkey
         | summarize tc=sum(tolong(round(l_extendedprice * 100))) by s_name
         | extend total = todouble(tc) / 100.0
         | project-away tc
         | sort by s_name asc"""),
    T("top", Seq("lineitem"), i =>
      s"""lineitem
         | where l_discount >= 0.0${i % 10}
         | top ${10 + 5 * i} by l_extendedprice desc, l_orderkey asc, l_linenumber asc, l_partkey asc, l_suppkey asc, l_quantity asc"""),
    T("string_fns", Seq("part"), i =>
      s"""part
         | where p_size > ${2 * i}
         | project p_partkey, up=toupper(p_name), ln=strlen(p_name),
                   sub=substring(p_type, 0, ${2 + i % 5}),
                   has_word=iff(p_name contains '${pick(words, i)}', 1, 0),
                   cat=strcat(p_brand, ':', p_type)
         | sort by p_partkey asc"""),
    T("datetime_fns", Seq("orders"), i =>
      s"""orders
         | where o_orderdate >= datetime(${1995 + i % 6}-0${1 + i % 6}-01) and o_totalprice > ${1000 * i}
         | extend mo = getmonth(o_orderdate), dm = dayofmonth(o_orderdate),
                  som = startofmonth(o_orderdate)
         | summarize n=count(), tot=sum(tolong(round(o_totalprice * 100))) by mo, som
         | sort by som asc, mo asc"""),
    T("dcount", Seq("lineitem"), i =>
      s"""lineitem
         | where l_shipdate > datetime(${1995 + i % 6}-${f"${1 + i % 12}%02d"}-01)
         | summarize dc=dcount(l_orderkey), n=count() by l_returnflag, l_linestatus
         | sort by l_returnflag asc, l_linestatus asc"""),
    T("documents", Seq("documents"), i =>
      s"""documents
         | where lang == '${pick(langs, i)}' and n_chars > ${40 + 10 * i}
         | summarize n=count(), chars=sum(n_chars) by source
         | sort by source asc"""),
    T("fork", Seq("lineitem"), i =>
      s"""lineitem
         | where l_quantity > ${20 + i}
         | fork flags = (summarize n = count() by l_returnflag)
                heavy = (where l_discount >= 0.0${1 + i % 9} | summarize n = count())""",
      multi = true),
  )

  private def op(t: T, slot: Int, tag: String): Op =
    Op(s"${t.name}#$slot", t.name, "query", tag,
      ctx => Workloads.kql(ctx, ctx.dir(sf), t.tables, t.text(slot), t.multi))

  override def prepare(ctx: Ctx): Seq[Op] = templates.map(t => op(t, warmSlot, "warm"))

  def universe(ctx: Ctx): Seq[Op] =
    for (t <- templates; s <- 0 to warmSlot) yield op(t, s, "")

  def rounds(seed: Long): Int => Seq[Op] = {
    val rng = new scala.util.Random(seed)
    val fresh = templates.map(t => t.name -> rng.shuffle((0 until poolSize).toList).iterator).toMap
    val used = templates.map(t => t.name -> ArrayBuffer[Int]()).toMap
    // the templates that repeat in odd rounds; even rounds after the
    // first repeat the others, so that every seed sends the same mix of
    // fresh and repeated texts per template and only literals and order vary
    val oddRepeats = rng.shuffle(templates.map(_.name)).take(templates.length / 2).toSet
    r => {
      val repeats: String => Boolean =
        if (r == 0) _ => false
        else if (r % 2 == 1) oddRepeats
        else n => !oddRepeats(n)
      rng.shuffle(templates).map { t =>
        val u = used(t.name)
        if ((repeats(t.name) || !fresh(t.name).hasNext) && u.nonEmpty)
          op(t, u(rng.nextInt(u.length)), "repeat")
        else {
          val s = fresh(t.name).next()
          u += s
          op(t, s, "fresh")
        }
      }
    }
  }
}

/** Execution- and storage-bound: whole inventory rows through
  * `SparkEntry.queries` (the ROADMAP's largest hidden-cost row, a TPC-H
  * multi-join, a single-partition window, a graph loop) next to
  * at-rest index writes and seeded index probes through the public
  * `LlmOps` and `sources.MatViewLayout` calls, all at sf0.01. The index
  * operations bypass Catalog and the KQL front end. Each round runs
  * every row and every write once and 38 probes, in a seeded order; the window only repeats operations whose
  * digests the untimed pass before it has checked. */
object BatchIndex extends Workload {
  val name = "batch_index"
  private val sf = "sf0.01"
  val rows: Seq[String] = Seq("llm_fingerprint", "q144_tpch_q21", "q40_rank", "q156_pagerank")
  /** Probes per round by kind (pq, bm25, dedup, matview), each a distinct
    * literal slot: 38, so that with the rows a round holds the 40 queries
    * a p75 tail needs. bm25 and matview run all 16 of their slots, so the
    * cheap probes — where the median and the p75 of a round fall — are
    * the same set for every seed; the seed draws the pq and dedup slots
    * (a dedup probe costs about five bm25 probes, hence only two). */
  private val probeRuns = Seq(4, 16, 2, 16)
  private val pool = 16
  private lazy val entries = graft.SparkEntry.queries

  private def row(name: String): Op = Op(name, name, "query", "",
    ctx => Seq("result" -> ctx.tr.span("entry") { entries(name)(ctx.spark, ctx.dir(sf)) }))

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var events: DataFrame = _
  private var qvecs: Array[Array[Double]] = _
  private var bmQueries: Array[String] = _

  override def open(ctx: Ctx): Unit = {
    val s = ctx.spark
    docs = s.read.parquet(s"${ctx.dir(sf)}/documents.parquet")
    emb = s.read.parquet(s"${ctx.dir(sf)}/embeddings.parquet")
    events = s.read.parquet(s"${ctx.dir(sf)}/events.parquet")
      .select("event_id", "event_type", "value", "user_id")
    qvecs = emb.filter(col("vec_id") < pool).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    bmQueries = docs.filter(col("doc_id") < pool).orderBy("doc_id")
      .select(slice(split(col("text"), " "), 1, 2)).collect()
      .map(_.getSeq[String](0).mkString(" "))
  }

  private def pq(ctx: Ctx) = s"${ctx.work}/pq_index"
  private val mvAggs = Seq(
    graft.sources.MatAgg("count", "", "n"),
    graft.sources.MatAgg("sum", "value", "s"),
    graft.sources.MatAgg("avg", "value", "avg_v"),
    graft.sources.MatAgg("dcount", "user_id", "users"),
    graft.sources.MatAgg("arg_max", "event_id|user_id", "last_user"))
  private def resolve(name: String): DataFrame = {
    require(name == "events", s"unexpected matview source '$name'")
    events
  }

  private def w(key: String, layer: String)(f: Ctx => Unit): Op =
    Op(key, key, "write", "", ctx => { ctx.tr.span(layer)(f(ctx)); Nil })
  private def q(key: String, layer: String)(f: Ctx => DataFrame): Op =
    Op(key, key.takeWhile(_ != '#'), "query", "", ctx => Seq("result" -> ctx.tr.span(layer)(f(ctx))))

  // Writes rebuild their index from the fixtures every time, so the state
  // after any of them is the same in every round.
  private val writes: Seq[Op] = Seq(
    // doc_id % 4: 0, 1 build the index, 2 is appended, 3 is only probed
    w("minhash_index", "llmops") { _ =>
      graft.ext.LlmOps.buildMinhashIndex(docs.filter(col("doc_id") % 4 < 2), "bench_mh")
      graft.ext.LlmOps.appendToMinhashIndex(docs.filter(col("doc_id") % 4 === 2), "bench_mh")
    },
    w("pq_build", "llmops")(ctx => { graft.ext.LlmOps.buildPqIndex(emb, pq(ctx)); () }),
    w("bm25_build", "llmops")(_ => graft.ext.LlmOps.buildBm25Index(docs, "bench_bm25")),
    w("matview_cycle", "sources") { ctx =>
      graft.sources.MatViewLayout.build(events, "bench_mv", "events", Seq("event_type"),
        mvAggs, "event_id", 4000L)
      graft.sources.MatViewLayout.refresh(ctx.spark, "bench_mv", resolve, 8000L)
    },
    Op("image_plant", "image_plant", "write", "", ctx =>
      Seq("result" -> ctx.tr.span("entry") {
        graft.SparkEntry.queries("llm_image_plant")(ctx.spark, ctx.dir(sf)) })),
  )

  private val probeKinds: Seq[Int => Op] = Seq(
    i => q(s"pq_probe#$i", "llmops")(ctx =>
      graft.ext.LlmOps.annCosineIvfPqIndexed(ctx.spark, pq(ctx), qvecs(i), 10)),
    i => q(s"bm25_probe#$i", "llmops")(ctx =>
      graft.ext.LlmOps.bm25Indexed(ctx.spark, "bench_bm25", bmQueries(i), 10)),
    i => q(s"dedup_probe#$i", "llmops")(_ =>
      graft.ext.LlmOps.dedupIncremental(
        docs.filter(col("doc_id") % 4 === 3 && (col("doc_id") / 4).cast("long") % pool === i),
        "bench_mh")),
    i => q(s"matview_read#$i", "sources")(ctx =>
      graft.sources.MatViewLayout.read(ctx.spark, "bench_mv", resolve)
        .filter(col("event_type") === Seq("click", "error", "purchase", "signup", "view")(i % 5))),
  )

  /** The seed's probes: `probeRuns(k)` distinct literal slots of kind k. */
  private def probes(seed: Long): Seq[Op] = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    probeKinds.indices.flatMap(k =>
      rng.shuffle((0 until pool).toList).take(probeRuns(k)).map(probeKinds(k)))
  }

  override def prepare(ctx: Ctx): Seq[Op] = writes
  override def verifyBefore(seed: Long): Seq[Op] = rows.map(row) ++ probes(seed)
  def universe(ctx: Ctx): Seq[Op] =
    writes ++ rows.map(row) ++ probeKinds.flatMap(k => (0 until pool).map(k))

  def rounds(seed: Long): Int => Seq[Op] = {
    val rng = new scala.util.Random(seed)
    val ps = probes(seed)
    _ => rng.shuffle(writes ++ rows.map(row) ++ ps)
  }

  override def state(ctx: Ctx): Seq[(String, () => DataFrame)] = {
    val s = ctx.spark
    Seq("bench_mh_bands", "bench_mh_toks", "bench_mh_meta", "bench_bm25_post",
      "bench_bm25_terms", "bench_bm25_meta", "graft_img_plant").map(t => s"state:$t" -> (() => s.table(t))) ++
      Seq("codes", "vecs", "meta").map(p =>
        s"state:pq_$p" -> (() => s.read.parquet(s"${pq(ctx)}/$p"))) :+
      ("state:bench_mv" -> (() => graft.sources.MatViewLayout.read(s, "bench_mv", resolve)))
  }
}

/** Planted operations for the benchmark's own tests: one correct, one
  * that throws, one whose golden digest is deliberately wrong. */
object SelfTest extends Workload {
  val name = "selftest"
  private val ops = Seq(
    Op("ok", "ok", "query", "", ctx => Seq("result" -> ctx.spark.range(100).toDF())),
    Op("throws", "throws", "query", "", _ => throw new IllegalStateException("planted failure")),
    Op("wrong", "wrong", "query", "", ctx => Seq("result" -> ctx.spark.range(101).toDF())))
  override def ping: Op = ops.head
  def universe(ctx: Ctx): Seq[Op] = ops
  def rounds(seed: Long): Int => Seq[Op] = _ => ops
}

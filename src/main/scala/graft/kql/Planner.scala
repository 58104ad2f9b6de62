package graft.kql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Ast._
import graft.ext.{ActivityOps, LlmOps, TableOps, TemporalOps}

/** KQL AST → Spark DataFrame planner (SURVEY.md §3.2 step 2).
  *
  * Every tabular operator becomes one declarative DataFrame transformation;
  * Catalyst owns everything below the logical plan (pushdown, pruning,
  * join strategy, codegen — SURVEY.md §4.2). No RDDs, no UDFs, no
  * collect-based control flow: all operators here stay distributed and
  * shuffle only where their semantics require (join/summarize/sort).
  */
final class Planner(spark: SparkSession, catalog: Catalog) {

  private var letTables = Map.empty[String, DataFrame]
  private var letScalars = Map.empty[String, Expr]
  /** Current pipeline order (KQL `serialize`/`sort` state) for window fns. */
  private var sortCols: List[Column] = Nil
  /** The same sort keys unordered (dense_rank distinct-tuple counting). */
  private var sortKeys: List[Column] = Nil
  private var serialized: Boolean = false
  /** True while the physical layout is still range-partitioned in
    * `sortCols` order (straight after a global sort) — lets the two-phase
    * window path skip its range shuffle. Narrow ops preserve it. */
  private var rangeLayout: Boolean = false

  final case class PlanError(msg: String) extends RuntimeException(msg)

  private var letFuncs = Map.empty[String, (List[String], Expr)]
  private var letTabFuncs = Map.empty[String, (String, List[String], Query)]

  def planStatements(st: Statements): DataFrame = {
    bindStatements(st)
    plan(st.query)
  }

  /** Multi-result entry for `fork`/`facet` pipelines: returns one named
    * DataFrame per branch/facet (single-result queries come back as the
    * one-entry "result"). The shared prefix is persisted so branches
    * scan it once. */
  def planStatementsMulti(st: Statements): Seq[(String, DataFrame)] = {
    bindStatements(st)
    val q = st.query
    q.ops.lastOption match {
      case Some(ForkOp(branches)) =>
        val base = plan(Query(q.source, q.ops.init)).persist()
        branches.map { case (nm, ops) =>
          var d = base
          ops.foreach(op => d = applyOp(d, op))
          nm -> d
        }
      case Some(EvaluateOp("preview", Lit(n: Long) :: Nil)) =>
        // KQL preview(n): two result tables — the first n rows and the
        // total count — off one persisted scan
        val base = plan(Query(q.source, q.ops.init)).persist()
        Seq("preview" -> base.limit(n.toInt),
          "count" -> base.groupBy().agg(count(lit(1)).as("Count")))
      case Some(FacetOp(cols)) =>
        val base = plan(Query(q.source, q.ops.init)).persist()
        cols.map { c =>
          val rc = resolveName(base, c)
          c -> base.groupBy(col(rc)).agg(count(lit(1)).as("count_")).orderBy(col(rc))
        }
      case _ => Seq("result" -> plan(q))
    }
  }

  private def bindStatements(st: Statements): Unit = {
    letFuncs = st.funcs
    letTabFuncs = st.tabFuncs
    st.lets.foreach {
      case (n, Left(e))  => letScalars += n -> e
      case (n, Right(q)) =>
        val d = plan(q)
        // KQL materialize(): cache the bound result across its uses
        // (lazy persist — Spark caches on first action)
        letTables += n -> (if (st.materialized(n)) d.persist() else d)
    }
  }

  /** Macro-expand a user lambda call: substitute args for params in the
    * body (KQL function declarations, SURVEY §2.11 — NOT Spark UDFs). */
  private def substitute(e: Expr, env: Map[String, Expr]): Expr = e match {
    case Col(n) if env.contains(n) => env(n)
    case other => other.mapChildren(substitute(_, env))
  }

  def plan(q: Query): DataFrame = {
    val (savedSort, savedKeys, savedSer, savedRl) =
      (sortCols, sortKeys, serialized, rangeLayout)
    sortCols = Nil; sortKeys = Nil; serialized = false; rangeLayout = false
    // restore in finally: a PlanError mid-plan must not leave sort/layout
    // state from the failed subquery visible to a caller that replans
    try {
    var df = planSource(q.source)
    q.ops.foreach { op => df = applyOp(df, op) }
    if (graphCtx.nonEmpty) {
      graphCtx = None
      throw PlanError("make-graph must be followed by a graph operator " +
        "(graph-match / graph-shortest-paths / graph-to-table)")
    }
    df
    } finally {
      sortCols = savedSort; sortKeys = savedKeys
      serialized = savedSer; rangeLayout = savedRl
    }
  }

  // ============================================================== sources
  /** A let-bound table, else the catalog's. */
  private def tableNamed(name: String): DataFrame =
    letTables.getOrElse(name, catalog.table(name))

  private def planSource(s: Source): DataFrame = s match {
    case TableRef(name) =>
      tableNamed(name)
    case QualifiedTableRef(_, db, name) =>
      catalog.tableIn(db, name)
    case MaterializedViewRef(name) =>
      // store ∪ delta merge — the view's source table resolves through
      // THIS catalog, so the delta always reads current data
      graft.sources.MatViewLayout.read(spark, name,
        tableNamed)
    case DataTable(schema, rows) =>
      val st = StructType(schema.map { case (n, t) => StructField(n, kqlType(t)) })
      val data = rows.map { r =>
        Row.fromSeq(r.zip(schema).map { case (e, (_, t)) => staticValue(e, t) })
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), st)
    case PrintSource(items) =>
      val one = spark.range(1).toDF()
      one.select(items.zipWithIndex.map { case ((alias, e), i) =>
        toCol(e, one).as(alias.getOrElse(s"print_$i"))
      }: _*)
    case RangeSource(colName, fromE, toE, stepE) =>
      (staticValue(fromE, ""), staticValue(toE, ""), staticValue(stepE, "")) match {
        case (f: java.lang.Long, t: java.lang.Long, st: java.lang.Long) =>
          spark.range(f, t + 1, st).withColumnRenamed("id", colName)
        case (f: java.sql.Timestamp, t: java.sql.Timestamp, st: java.lang.Long) =>
          spark.range(1).select(explode(sequence(lit(f), lit(t),
            expr(s"INTERVAL ${st} MICROSECOND"))).as(colName))
        case other => throw PlanError(s"unsupported range bounds: $other")
      }
    case UnionSource(kind, withSource, tables, fuzzy) =>
      val branches =
        if (!fuzzy) tables.map(q => branchName(q) -> plan(q))
        else {
          val resolved = tables.flatMap { q =>
            try Some(branchName(q) -> plan(q))
            catch {
              case _: PlanError | _: IllegalArgumentException |
                   _: org.apache.spark.sql.AnalysisException => None
            }
          }
          if (resolved.isEmpty)
            throw PlanError("union isfuzzy=true: no operand resolved")
          resolved
        }
      planUnion(kind, withSource, branches)

    case ExternalData(schema, uris, options) =>
      // external files as a typed table. Zero-egress environment: only
      // local/file URIs are reachable; the declared schema is authoritative
      // (spark.read with explicit schema — no inference pass).
      val st = StructType(schema.map { case (n, t) => StructField(n, kqlType(t)) })
      val fmt = options.getOrElse("format", "csv").toLowerCase
      val passOpts = options - "format"
      val reader = spark.read.schema(st).options(passOpts)
      val raw = fmt match {
        case "csv" | "txt" | "tsv" =>
          val r = if (fmt == "tsv") reader.option("sep", "\t") else reader
          r.csv(uris: _*)
        case "json" | "multijson" => reader.json(uris: _*)
        case "parquet" => spark.read.options(passOpts).parquet(uris: _*)
        case other => throw PlanError(s"externaldata: unsupported format '$other'")
      }
      // enforce declared column order/types regardless of file layout
      raw.select(schema.map { case (n, t) => col(n).cast(kqlType(t)).as(n) }: _*)

    case FindSource(tables, pred) =>
      // cross-table search: null-padding union (each branch keeps its own
      // schema; Catalyst pushes the shared predicate into every scan it
      // applies to), provenance in source_, then one filter over the
      // padded superset schema
      val branches = tables.map { n =>
        tableNamed(n).withColumn("source_", lit(n))
      }
      val u = branches.reduce(_.unionByName(_, allowMissingColumns = true))
      val filtered = u.filter(toCol(pred, u))
      filtered.select((col("source_") +:
        filtered.columns.filterNot(_ == "source_").map(col).toSeq): _*)
  }

  private def branchName(q: Query): String = q.source match {
    case TableRef(n) => n
    case _ => "union_arg"
  }

  private def kqlType(t: String): DataType = t.toLowerCase match {
    case "string" | "guid" | "dynamic" => StringType
    case "long" => LongType
    case "int" => IntegerType
    case "real" | "double" => DoubleType
    case "decimal" => DecimalType(38, 18)
    case "bool" | "boolean" => BooleanType
    case "datetime" | "date" => TimestampType
    case "timespan" => LongType // µs
    case other => throw PlanError(s"unknown KQL type '$other'")
  }

  /** Static (no-column) literal evaluation for datatable/range. */
  private def staticValue(e: Expr, declared: String): Any = e match {
    case Lit(Timespan(us)) => us
    case Lit(v: Long) if declared.toLowerCase == "real" || declared.toLowerCase == "double" => v.toDouble
    case Lit(v: Long) if declared.toLowerCase == "int" => v.toInt
    case Lit(v) => v
    case UnOp("-", inner) => staticValue(inner, declared) match {
      case l: java.lang.Long => -l
      case d: java.lang.Double => -d
      case x => throw PlanError(s"cannot negate $x")
    }
    case BinOp(op, l, r) =>
      val (lv, rv) = (staticValue(l, ""), staticValue(r, ""))
      (lv, rv) match {
        case (a: java.lang.Long, b: java.lang.Long) => op match {
          case "+" => a + b; case "-" => a - b; case "*" => a * b
          case "/" => a / b; case "%" => a % b
          case _ => throw PlanError(s"static op $op")
        }
        case _ => throw PlanError(s"unsupported static expr: $e")
      }
    case other => throw PlanError(s"expected literal, got $other")
  }

  // ============================================================== tab ops
  private def applyOp(df: DataFrame, op: TabOp): DataFrame = {
    val out = applyOp0(df, op)
    op match {
      case _: Sort | _: Top => rangeLayout = true
      // narrow ops keep the range layout; Extend manages its own flag
      case _: Where | _: Project | _: ProjectAway | _: ProjectKeep
         | _: ProjectRename | _: ProjectReorder | _: Extend => ()
      case _ => rangeLayout = false
    }
    out
  }

  /** Set by `make-graph`, consumed by the graph-* operators. */
  private var graphCtx: Option[GraphOps.GraphCtx] = None

  private def applyOp0(df: DataFrame, op: TabOp): DataFrame = {
    // A pending make-graph may only be consumed by a graph-* operator;
    // anything else would silently pass the edge frame through and leave
    // stale ctx for an unrelated later graph-match (r2 ADVICE).
    if (graphCtx.nonEmpty && !op.isInstanceOf[GraphMatchOp]
        && !op.isInstanceOf[GraphShortestPathsOp]
        && !op.isInstanceOf[GraphToTableOp]
        && !op.isInstanceOf[GraphMarkComponentsOp]) {
      // reset before throwing: a caller that catches PlanError and
      // replans on this instance must not see the stale graph context
      graphCtx = None
      throw PlanError("make-graph must be immediately followed by " +
        "graph-match, graph-shortest-paths, graph-mark-components, " +
        "or graph-to-table")
    }
    applyOp1(df, op)
  }

  private def applyOp1(df: DataFrame, op: TabOp): DataFrame = op match {
    case Where(p) => df.filter(toCol(p, df))

    case MakeGraphOp(src, dst, nodes) =>
      val nd = nodes.map { case (tbl, key) =>
        (tableNamed(tbl), key) }
      graphCtx = Some(GraphOps.GraphCtx(df, resolveName(df, src),
        resolveName(df, dst), nd))
      df // placeholder; the next operator must be a graph consumer

    case gm: GraphMatchOp =>
      val ctx = graphCtx.getOrElse(throw PlanError("graph-match needs make-graph first"))
      graphCtx = None
      GraphOps.graphMatch(ctx, gm, (e, d) => toCol(e, d))

    case gs: GraphShortestPathsOp =>
      val ctx = graphCtx.getOrElse(throw PlanError("graph-shortest-paths needs make-graph first"))
      graphCtx = None
      GraphOps.shortestPaths(ctx, gs, (e, d) => toCol(e, d))

    case GraphToTableOp(what) =>
      val ctx = graphCtx.getOrElse(throw PlanError("graph-to-table needs make-graph first"))
      graphCtx = None
      GraphOps.graphToTable(ctx, what)

    case GraphMarkComponentsOp(compCol) =>
      val ctx = graphCtx.getOrElse(
        throw PlanError("graph-mark-components needs make-graph first"))
      // the graph STAYS pending — the canonical follow-up is
      // `graph-to-table nodes` (or a graph-match reading the new
      // node property)
      graphCtx = Some(GraphOps.markComponents(ctx, compCol))
      df

    case Project(items) =>
      val windowed = items.exists { case (_, e) =>
        containsWindowFn(e) || (e match {
          case App("row_window_session", _) => true; case _ => false })
      }
      if (windowed) {
        // Window-bearing project items desugar through applyExtend so
        // they take the same two-phase GlobalWindow path as `extend`
        // (range partition + per-partition window + broadcast prefix
        // offsets) — NOT the single-partition Window.orderBy fallback,
        // which is a one-task global sort at warehouse scale. Temp
        // names preserve project semantics: every item is evaluated
        // against the INPUT frame, never against a sibling item (so
        // `project x = prev(x)` still reads the source x).
        val tmps: List[(Option[String], Expr)] =
          items.zipWithIndex.map { case ((_, e), i) =>
            (Some(s"__pj_$i"): Option[String], e) }
        val ext = applyExtend(df, tmps)
        ext.select(items.zipWithIndex.map { case ((alias, e), i) =>
          col(s"__pj_$i").as(alias.getOrElse(defaultName(e, i)))
        }: _*)
      } else df.select(items.zipWithIndex.map { case ((alias, e), i) =>
        toCol(e, df).as(alias.getOrElse(defaultName(e, i)))
      }: _*)

    case Extend(items) => applyExtend(df, items)

    case ProjectAway(patterns) =>
      val away = patterns.flatMap(p => matchCols(df.columns, p)).toSet
      df.select(df.columns.filterNot(away).map(col): _*)

    case ProjectKeep(patterns) =>
      val keep = patterns.flatMap(p => matchCols(df.columns, p)).toSet
      df.select(df.columns.filter(keep).map(col): _*)

    case ProjectRename(pairs) =>
      pairs.foldLeft(df) { case (d, (nw, old)) => d.withColumnRenamed(resolveName(d, old), nw) }

    case ProjectReorder(cols) =>
      val named = cols.map(resolveName(df, _))
      val rest = df.columns.filterNot(named.toSet)
      df.select((named ++ rest).map(col): _*)

    case Sort(keys) =>
      val ordered = keys.map(k => sortCol(k, df))
      sortCols = ordered
      sortKeys = keys.map(k => toCol(k.e, df))
      serialized = true
      df.orderBy(ordered: _*)

    case Take(n) => df.limit(n.toInt)

    case Top(n, keys) =>
      val ordered = keys.map(k => sortCol(k, df))
      sortCols = ordered
      sortKeys = keys.map(k => toCol(k.e, df))
      serialized = true
      // orderBy+limit ⇒ Spark plans TakeOrderedAndProjectExec: true
      // distributed top-k, no global sort (SURVEY §2.6)
      df.orderBy(ordered: _*).limit(n.toInt)

    case DistinctOp(List(Star())) => df.dropDuplicates()
    case DistinctOp(cols) =>
      df.select(cols.zipWithIndex.map { case (e, i) =>
        toCol(e, df).as(defaultName(e, i)) }: _*).distinct()

    case CountOp() => df.agg(count(lit(1)).as("Count"))

    case ConsumeOp() =>
      // execute-and-discard: the result set is suppressed (schema kept)
      df.limit(0)

    case _: ForkOp | _: FacetOp => throw PlanError(
      "fork/facet produce multiple result tables — use Kql.runMulti")

    case s: ScanOp => planScan(df, s, None, Nil)

    case j: JoinOp => planJoin(df, j)

    case LookupOp(rightQ, keys) =>
      // lookup = broadcast left-outer against a dimension table; right key
      // columns dropped (SURVEY §2.3)
      val right = plan(rightQ)
      val rightRenamed = disambiguate(df, right, keys.map(_.right).toSet)
      val cond = keys.map(k => df(resolveName(df, k.left)) ===
        rightRenamed._1(rightRenamed._2.getOrElse(k.right, k.right))).reduce(_ && _)
      val joined = df.join(broadcast(rightRenamed._1), cond, "left")
      val dropCols = keys.map(k => rightRenamed._2.getOrElse(k.right, k.right))
      dropCols.foldLeft(joined)((d, c) => d.drop(rightRenamed._1(c)))

    case UnionOp(kind, withSource, others, fuzzy) =>
      // the piped-in frame always resolves, so fuzzy legs may ALL drop
      val rest =
        if (!fuzzy) others.map(q => branchName(q) -> plan(q))
        else others.flatMap { q =>
          try Some(branchName(q) -> plan(q))
          catch {
              case _: PlanError | _: IllegalArgumentException |
                   _: org.apache.spark.sql.AnalysisException => None
            }
        }
      planUnion(kind, withSource, ("self" -> df) :: rest)

    case MvExpand(items, withItemIndex) =>
      items match {
        case (alias, e) :: Nil =>
          val c = toCol(e, df)
          val name = alias.getOrElse(defaultName(e, 0))
          val arrCol = typeOf(df, c) match {
            case _: ArrayType => c
            case StringType => from_json(c, ArrayType(StringType))
            case t => throw PlanError(s"mv-expand over $t")
          }
          withItemIndex match {
            case Some(ix) =>
              val replaced = e match { case Col(n) => Some(resolveName(df, n)); case _ => None }
              val others = df.columns.filterNot(replaced.contains).map(col).toSeq
              val outName = replaced.getOrElse(name)
              df.select(others :+ posexplode_outer(arrCol).as(Seq(ix, outName)): _*)
            case None =>
              e match {
                case Col(n) =>
                  df.withColumn(resolveName(df, n), explode_outer(arrCol))
                case _ => df.withColumn(name, explode_outer(arrCol))
              }
          }
        case multi =>
          // ADX multi-column mv-expand: columns expand in LOCKSTEP
          // (zip by position, shorter arrays null-padded to the
          // longest — exactly arrays_zip's contract), one output row
          // per zipped position. Itemindex rides posexplode.
          val prepared = multi.zipWithIndex.map { case ((alias, e), i) =>
            val c = toCol(e, df)
            val arr = typeOf(df, c) match {
              case _: ArrayType => c
              case StringType => from_json(c, ArrayType(StringType))
              case t => throw PlanError(s"mv-expand over $t")
            }
            val outName = (alias, e) match {
              case (Some(a), _) => a
              case (None, Col(n)) => resolveName(df, n)
              case _ => defaultName(e, i)
            }
            (outName, arr)
          }
          val names = prepared.map(_._1)
          if (names.distinct.size != names.size)
            throw PlanError("mv-expand: duplicate output column names")
          val zipped = arrays_zip(prepared.map { case (n, a) =>
            a.as(n) }: _*)
          val others = df.columns.filterNot(names.contains).map(col).toSeq
          withItemIndex match {
            case Some(ix) =>
              df.select(others :+
                  posexplode_outer(zipped).as(Seq(ix, "__mv")): _*)
                .select((others ++ Seq(col(ix)) ++ names.map(n =>
                  col("__mv").getField(n).as(n))): _*)
            case None =>
              df.select(others :+ explode_outer(zipped).as("__mv"): _*)
                .select((others ++ names.map(n =>
                  col("__mv").getField(n).as(n))): _*)
          }
      }

    case MvCombine(colsIn) =>
      // Inverse of mv-expand (SURVEY §2.8.6): one hash aggregate — group
      // by every other column, collect each named column into an array.
      // Plain collect_list: element order is the arrival order of the
      // grouped rows (matches KQL, which makes no order promise here);
      // callers needing a canonical order follow with array_sort_asc.
      val names = colsIn.map(n => resolveName(df, n))
      val others = df.columns.filterNot(names.contains).toSeq
      if (others.isEmpty && names.isEmpty)
        throw PlanError("mv-combine needs at least one column")
      val aggs = names.map(n => collect_list(col(n)).as(n))
      val grouped =
        if (others.isEmpty) df.groupBy()
        else df.groupBy(others.map(col): _*)
      grouped.agg(aggs.head, aggs.tail: _*)
        .select(df.columns.map(col).toSeq: _*) // original column order

    case MvApply(item, ops) =>
      // Per-row subtable pipeline: explode with a row id, run the inner
      // ops (summarize gets the row id as an extra key), join aggregates
      // back to the source row. Row ids come from
      // monotonically_increasing_id — deterministic per scan layout; a
      // persisted surrogate key replaces it at warehouse scale.
      val (alias, e) = item
      val rid = "__mvapply_id"
      val base = df.withColumn(rid, monotonically_increasing_id())
      val arrCol = toCol(e, base)
      val elemName = e match {
        case Col(n) => resolveName(df, n)
        case _ => alias.getOrElse(defaultName(e, 0))
      }
      val arr = typeOf(base, arrCol) match {
        case _: ArrayType => arrCol
        case StringType => from_json(arrCol, ArrayType(StringType))
        case t => throw PlanError(s"mv-apply over $t")
      }
      var sub = base.withColumn(elemName, explode_outer(arr))
      var aggregated = false
      ops.foreach {
        case Where(p) => sub = sub.filter(toCol(p, sub))
        case ex: Extend => sub = applyOp(sub, ex)
        case s2: Summarize =>
          aggregated = true
          sub = planSummarize(sub, Summarize(s2.aggs, s2.by :+ ((Some(rid), Col(rid): Expr))))
        case Sort(_) => () // intra-subtable order is immaterial post-agg
        case other => throw PlanError(s"mv-apply: unsupported inner op $other")
      }
      val joined = if (aggregated) base.join(sub, Seq(rid), "left") else sub
      joined.drop(rid)

    case AsOp(name) =>
      letTables += name -> df
      df

    case ParseOp(srcE, segs, dropNonMatching) =>
      val srcCol = toCol(srcE, df)
      val (pattern, captures) = compileParse(segs)
      val withCols = captures.zipWithIndex.foldLeft(df) {
        case (d, ((name, typ), i)) =>
          val raw = regexp_extract(srcCol, pattern, i + 1)
          val cast = typ.map(t => raw.cast(kqlType(t))).getOrElse(raw)
          d.withColumn(name, cast)
      }
      if (dropNonMatching) withCols.filter(srcCol.rlike(pattern)) else withCols

    case ParseKv(srcE, keys, pairDelim, kvDelim) =>
      val m = str_to_map(toCol(srcE, df),
        lit(java.util.regex.Pattern.quote(pairDelim)),
        lit(java.util.regex.Pattern.quote(kvDelim)))
      keys.foldLeft(df) { case (d, (k, t)) =>
        d.withColumn(k, element_at(m, k).cast(kqlType(t)))
      }

    case GetSchemaOp() =>
      val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
        Row(f.name, i.toLong, kqlTypeName(f.dataType))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
        StructType(Seq(StructField("ColumnName", StringType),
          StructField("ColumnOrdinal", LongType),
          StructField("ColumnType", StringType))))

    case SerializeOp() => serialized = true; df
    case RenderOp() => df

    case SampleOp(n) => df.orderBy(rand(42)).limit(n.toInt)

    case SampleDistinctOp(n, of) =>
      df.select(toCol(of, df).as(defaultName(of, 0))).distinct()
        .orderBy(rand(42)).limit(n.toInt)

    case SearchOp(term) =>
      val strCols = df.schema.fields.filter(_.dataType == StringType).map(f => col(f.name))
      if (strCols.isEmpty) df.limit(0)
      else df.filter(strCols.map(c => lower(c).contains(term.toLowerCase)).reduce(_ || _))

    case ms: MakeSeries => planMakeSeries(df, ms)

    case tn: TopNested => planTopNested(df, tn)

    case InvokeOp(fn, args) =>
      // macro expansion, not a UDF: bind the pipeline input as the table
      // param and the call args as scalar lets, then plan the body query
      val (tabParam, scalarParams, body) = letTabFuncs.getOrElse(fn,
        throw PlanError(s"invoke '$fn': no tabular let-function of that name"))
      if (scalarParams.length != args.length)
        throw PlanError(s"invoke '$fn' expects ${scalarParams.length} args, got ${args.length}")
      val (savedT, savedS) = (letTables, letScalars)
      letTables += tabParam -> df
      letScalars ++= scalarParams.zip(args)
      val out = plan(body)
      letTables = savedT; letScalars = savedS
      out

    case s: Summarize => planSummarize(df, s)

    case EvaluateOp(name, args) => evaluate(df, name, args)

    case PartitionOp(key, ops) =>
      // per-key-value subpipeline, rewritten to distribute instead of
      // looping over key values: row-wise ops apply as-is, summarize
      // gains the key as an extra group column, top/take become one
      // per-key window (a single shuffle on the key — the plan a
      // thousand-executor cluster wants, vs. KQL's legacy sequential
      // per-partition execution)
      val rk = resolveName(df, key)
      var acc = df
      var lastSort: List[SortKey] = Nil
      ops.foreach {
        case w: Where => acc = applyOp(acc, w)
        case e: Extend => acc = applyOp(acc, e)
        case p: Project => acc = applyOp(acc, p)
        case p: ProjectAway => acc = applyOp(acc, p)
        case p: ProjectKeep => acc = applyOp(acc, p)
        case s2: ScanOp =>
          // the distributed scan path: hash-partition on the key, sort
          // within partitions, state machine resets at key boundaries
          acc = planScan(acc, s2, Some(rk), lastSort)
        case s2: Summarize =>
          acc = planSummarize(acc, Summarize(s2.aggs, s2.by :+ ((Some(rk), Col(rk): Expr))))
        case Top(n, keys) =>
          val w = Window.partitionBy(col(rk))
            .orderBy(keys.map(k => sortCol(k, acc)): _*)
          acc = acc.withColumn("__pn", row_number().over(w))
            .filter(col("__pn") <= n).drop("__pn")
        case Take(n) =>
          val w = Window.partitionBy(col(rk))
            .orderBy(monotonically_increasing_id())
          acc = acc.withColumn("__pn", row_number().over(w))
            .filter(col("__pn") <= n).drop("__pn")
        case Sort(keys) =>
          lastSort = keys
          // streaming: a global sort is unsupported (and meaningless on
          // an unbounded input) — the keys feed the downstream scan's
          // per-micro-batch in-group sort instead
          if (!acc.isStreaming)
            acc = acc.orderBy(col(rk).asc +: keys.map(k => sortCol(k, acc)): _*)
        case other => throw PlanError(s"partition: unsupported sub-operator $other")
      }
      acc

    case ReduceOp(by) =>
      // KQL `reduce by`: group rows whose values share a pattern. Our
      // pattern heuristic masks digit runs (the dominant source of
      // variability in logs/ids); representative is the min value for
      // determinism (KQL picks an arbitrary member). One hash shuffle.
      val c = toCol(by, df)
      df.groupBy(regexp_replace(c, lit("[0-9]+"), lit("*")).as("Pattern"))
        .agg(count(lit(1)).as("Count"), min(c).as("Representative"))
  }

  // ====================================================== evaluate plugins
  /** One `evaluate` plugin: its declared parameters and its body. A
    * parameter spelled `x?` may be left out (trailing only); `x...`
    * repeats one or more times and `x*` zero or more (several starred
    * names repeat as a group); names after the repeating tail are
    * required. Dispatch, the arity check, the argument-error labels and
    * the unknown-name suggestions all read this one declaration. */
  private final class Plugin(declared: Seq[String], val body: PluginArgs => DataFrame) {
    private def repeats(p: String) = p.endsWith("...") || p.endsWith("*")
    val fixed: Seq[String] = declared.takeWhile(!repeats(_))
    val tail: Seq[String] = declared.drop(fixed.size).takeWhile(repeats)
      .map(_.stripSuffix("...").stripSuffix("*"))
    val after: Seq[String] = declared.drop(fixed.size + tail.size)
    private val minGroups = if (declared.exists(_.endsWith("..."))) 1 else 0

    def accepts(n: Int): Boolean =
      if (tail.isEmpty) n >= fixed.count(!_.endsWith("?")) && n <= fixed.size
      else {
        val k = n - fixed.size - after.size
        k >= minGroups * tail.size && k % tail.size == 0
      }

    def signature(name: String): String = {
      val group = (tail :+ "...").mkString(", ")
      val shown = fixed.map(p => if (p.endsWith("?")) s"[${p.init}]" else p) ++
        (if (tail.isEmpty) Nil else Seq(if (minGroups == 1) group else s"[$group]")) ++
        after
      s"$name(${shown.mkString(", ")})"
    }
  }

  /** One argument of an `evaluate` call, read as its declared type; every
    * error names the plugin and the parameter. */
  private final class Arg(val e: Expr, label: String, df: DataFrame) {
    private def bad(what: String) = PlanError(s"$label expects $what, got $e")
    def col: String = colIn(df)
    def colIn(in: DataFrame): String = colNameOf(in, e, label)
    def long: Long = e match {
      case Lit(l: Long) => l
      case _ => throw bad("an integer literal")
    }
    def int: Int = long.toInt
    def real: Double = e match {
      case Lit(d: Double) => d
      case Lit(l: Long) => l.toDouble
      case _ => throw bad("a numeric literal")
    }
    def str: String = litString(e, label)
    def span: Long = e match {
      case Lit(Timespan(us)) => us
      case _ => throw bad("a timespan literal")
    }
    def time: Long = staticValue(e, "") match {
      case t: java.sql.Timestamp =>
        val i = t.toInstant
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case _ => throw bad("a datetime literal")
    }
    def table: DataFrame = e match {
      case Col(t) => tableNamed(t)
      case _ => throw bad("a table name")
    }
    /** Constant-folded integer / number (`2 * 3`, `-1`). */
    def foldedInt: Int = staticValue(e, "") match {
      case l: Long => l.toInt
      case _ => throw bad("an integer")
    }
    def foldedReal: Double = staticValue(e, "") match {
      case l: Long => l.toDouble
      case d: Double => d
      case _ => throw bad("a number")
    }
  }

  /** An `evaluate` call's arguments bound to its plugin's parameters. */
  private final class PluginArgs(name: String, p: Plugin, val df: DataFrame,
                                 val exprs: List[Expr]) {
    private def arg(param: String, e: Expr) = new Arg(e, s"$name $param", df)
    private val named: Map[String, Arg] =
      (p.fixed.map(_.stripSuffix("?")).zip(exprs) ++
        p.after.zip(exprs.takeRight(p.after.size))).map { case (n, e) => n -> arg(n, e) }.toMap
    def apply(param: String): Arg = named(param)
    def opt(param: String): Option[Arg] = named.get(param)
    def tail: List[Arg] =
      if (p.tail.isEmpty) Nil
      else exprs.slice(p.fixed.size, exprs.length - p.after.size).zipWithIndex.map {
        case (e, i) => arg(p.tail(i % p.tail.size), e)
      }
  }

  private def plugin(declared: String*)(body: PluginArgs => DataFrame) = new Plugin(declared, body)

  /** Each plugin's accepted argument counts and rendered signature. */
  private[graft] def pluginSignatures: Map[String, (Int => Boolean, String)] =
    plugins.map { case (n, p) => n -> ((p.accepts _), p.signature(n)) }

  private def evaluate(df: DataFrame, name: String, args: List[Expr]): DataFrame = {
    val p = plugins.getOrElse(name, throw PlanError(
      s"evaluate: unsupported plugin '$name'${Suggest.hint(name, plugins.keys)}"))
    if (!p.accepts(args.length))
      throw PlanError(s"evaluate: plugin '$name' does not take ${args.length} " +
        s"argument(s) — expected ${p.signature(name)}")
    p.body(new PluginArgs(name, p, df, args))
  }

  private lazy val plugins: Map[String, Plugin] = Map(
    // KQL preview(n) has two results (planStatementsMulti)
    "preview" -> plugin("n") { a =>
      throw PlanError(s"evaluate preview(${a("n").long}) returns two results (the " +
        "first n rows and the total count): run it through Kql.runMulti")
    },

    // Spark's native pivot (two-pass: distinct values then a pivoting
    // hash aggregate); only the first aggregate is used. Group keys are
    // every column not consumed by the pivot or the aggregate.
    "pivot" -> plugin("column", "aggregate*") { a =>
      val df = a.df
      val pivotName = a("column").col
      val aggE = a.tail.headOption.map(_.e).getOrElse(App("count", Nil))
      def colRefs(e: Expr): Set[String] = e match {
        case Col(n) => Set(n)
        case other => other.children.flatMap(colRefs).toSet
      }
      val consumed = colRefs(aggE) + pivotName
      val groupCols = df.columns.filterNot(c => consumed.exists(_.equalsIgnoreCase(c)))
      val pivoted = df.groupBy(groupCols.map(col).toSeq: _*)
        .pivot(pivotName).agg(toCol(aggE, df, agg = true))
      // KQL pivot yields 0 (not null) for empty count cells
      aggE match {
        case App("count" | "countif", _) => pivoted.na.fill(0L)
        case _ => pivoted
      }
    },

    // schema-creating by definition: KQL bag_unpack emits the UNION of
    // keys across all rows, so infer over a bounded distinct sample of
    // bag shapes (spark.read.json union-merges per-row schemas) — one
    // bounded eager action, then the expansion itself stays lazy
    "bag_unpack" -> plugin("bag") { a =>
      val df = a.df
      val dynE = a("bag").e
      val c = toCol(dynE, df)
      val sample = df.select(c.cast("string").as("__d")).na.drop()
        .distinct().limit(1024)
      val inferred = df.sparkSession.read
        .json(sample.as(org.apache.spark.sql.Encoders.STRING))
      if (inferred.schema.isEmpty) df
      else {
        val parsed = df.withColumn("__bag", from_json(c, inferred.schema))
        val keep: Seq[String] = dynE match {
          case Col(n) =>
            val rn = resolveName(df, n)
            df.columns.filterNot(_.equalsIgnoreCase(rn)).toSeq
          case _ => df.columns.toSeq
        }
        parsed.select(keep.map(c => col(c)) :+ col("__bag.*"): _*)
      }
    },

    // transpose to (Row, Column, Value): zero-based global row ordinal
    // via the two-phase machinery, then one posexplode-style stack of
    // the columns as (name, stringified value) structs
    "narrow" -> plugin() { a =>
      val df = a.df
      if (!serialized && sortCols.isEmpty) serialized = true // natural order
      val (dp, ord, keys, pr) = windowInputs(df)
      val withRow = GlobalWindow.compute(dp, ord, keys,
        Seq(GlobalWindow.RowNumber("__narrow_rn", None)), pr)
      val cols = df.columns.toSeq
      val pairs = array(cols.map(c =>
        struct(lit(c).as("Column"), col(c).cast("string").as("Value"))): _*)
      withRow.select((col("__narrow_rn") - 1L).as("Row"), explode(pairs).as("__kv"))
        .select(col("Row"), col("__kv.Column").as("Column"), col("__kv.Value").as("Value"))
    },

    "activity_engagement" -> plugin("id", "timeline", "inner_window", "outer_window") { a =>
      ActivityOps.activityEngagement(a.df, a("id").col, a("timeline").col,
        a("inner_window").span, a("outer_window").span)
    },

    "sliding_window_counts" -> plugin("id", "timeline", "lookback", "bin") { a =>
      ActivityOps.slidingWindowCounts(a.df, a("id").col, a("timeline").col,
        a("lookback").span, a("bin").span)
    },

    // intersection cardinalities from the sketches by inclusion–exclusion
    // — sketch unions are mergeable (hll_union), so this stays a projection
    "dcount_intersect" -> plugin("hll1", "hll2", "hll3?") { a =>
      val df = a.df
      val hllEs = a.exprs
      val hs = hllEs.map(e => toCol(e, df))
      val est = (c: Column) => hll_sketch_estimate(c)
      val u2 = (x: Column, y: Column) => est(hll_union(x, y))
      val s = hs.map(est)
      val keep = df.columns.filterNot(c => hllEs.exists {
        case Col(n) => resolveName(df, n) == c; case _ => false }).map(col).toList
      if (hs.length == 2) {
        val inter = s(0) + s(1) - u2(hs(0), hs(1))
        df.select((keep :+ s(0).as("s0") :+ greatest(inter, lit(0L)).as("s1")): _*)
      } else {
        val i01 = s(0) + s(1) - u2(hs(0), hs(1))
        val i02 = s(0) + s(2) - u2(hs(0), hs(2))
        val i12 = s(1) + s(2) - u2(hs(1), hs(2))
        val uAll = est(hll_union(hll_union(hs(0), hs(1)), hs(2)))
        val i012 = uAll - s(0) - s(1) - s(2) + i01 + i02 + i12
        df.select((keep :+ s(0).as("s0") :+ greatest(i01, lit(0L)).as("s1")
          :+ greatest(i012, lit(0L)).as("s2")): _*)
      }
    },

    "rolling_percentile" -> plugin("value", "percentile", "timeline", "bin", "window") { a =>
      val pct = a("percentile").foldedReal
      ActivityOps.rollingPercentile(a.df, a("value").col, pct,
        a("timeline").col, a("bin").span, a("window").foldedInt)
    },

    // enrich rows whose IPv4 falls inside a lookup row's CIDR. The range
    // table is dimension-sized ⇒ explicit broadcast; containment is
    // long-range arithmetic on the parsed addresses (no UDF).
    "ipv4_lookup" -> plugin("range_table", "ip", "key") { a =>
      val df = a.df
      val lk = a("range_table").table
      val keyName = a("key").colIn(lk)
      val ipName = a("ip").col
      val net = element_at(split(col(keyName), "/"), 1)
      val sfx = coalesce(element_at(split(col(keyName), "/"), 2).cast("long"), lit(32L))
      val block = pow(lit(2.0), lit(32L) - sfx).cast("long")
      val start = Functions.registry("parse_ipv4")(List(net)) -
        pmod(Functions.registry("parse_ipv4")(List(net)), block)
      val aug = lk.withColumn("__ip_lo", start).withColumn("__ip_hi", start + block - 1)
      val ipL = Functions.registry("parse_ipv4")(List(col(ipName)))
      df.join(broadcast(aug),
          ipL >= aug("__ip_lo") && ipL <= aug("__ip_hi"), "inner")
        .drop("__ip_lo", "__ip_hi")
    },

    "active_users_count" -> plugin("id", "timeline", "start", "end", "lookback",
        "period", "active_periods", "bin") { a =>
      ActivityOps.activeUsersCount(a.df, a("id").col, a("timeline").col,
        a("start").time, a("end").time, a("lookback").span, a("period").span,
        a("active_periods").foldedInt, a("bin").span)
    },

    "activity_counts_metrics" -> plugin("id", "timeline", "start", "end", "bin") { a =>
      ActivityOps.activityCountsMetrics(a.df, a("id").col, a("timeline").col,
        a("start").time, a("end").time, a("bin").span)
    },

    // per-bin dcount / new / retained-from-previous-bin with exact micro rates
    "activity_metrics" -> plugin("id", "timeline", "bin") { a =>
      ActivityOps.activityMetrics(a.df, a("id").col, a("timeline").col, a("bin").span)
    },

    // cohort retention/churn per (first-seen bin, activity bin) pair
    "new_activity_metrics" -> plugin("id", "timeline", "bin") { a =>
      ActivityOps.newActivityMetrics(a.df, a("id").col, a("timeline").col, a("bin").span)
    },

    "session_count" -> plugin("id", "timeline", "start", "end", "bin", "lookback") { a =>
      ActivityOps.sessionCount(a.df, a("id").col, a("timeline").col,
        a("start").time, a("end").time, a("bin").span, a("lookback").span)
    },

    "autocluster" -> plugin("min_percent", "column...") { a =>
      cubeSegments(a.df, a.tail.map(_.col), a("min_percent").real)
    },

    // simplified KQL diffpatterns: attribute segments whose share
    // DIFFERS between the A and B splits of the data (incident
    // investigation — "what changed?"); same cube lattice as
    // autocluster/basket, split counted map-side as two conditional
    // sums, difference threshold in percentage points
    "diffpatterns" -> plugin("split", "a_value", "b_value", "min_diff_percent",
        "column...") { a =>
      diffPatterns(a.df, a("split").col, a("a_value").str, a("b_value").str,
        a("min_diff_percent").real, a.tail.map(_.col))
    },

    // simplified KQL diffpatterns_text: TOKENS whose document-frequency
    // share differs between the A and B splits — the text sibling of
    // diffpatterns (error-message clustering: "which words appear in
    // failing requests but not passing ones")
    "diffpatterns_text" -> plugin("text", "split", "a_value", "b_value",
        "min_diff_percent") { a =>
      diffPatternsText(a.df, a("text").col, a("split").col, a("a_value").str,
        a("b_value").str, a("min_diff_percent").real)
    },

    // simplified KQL basket: frequent attribute segments over the same
    // cube lattice; a leading real literal is the support threshold as a
    // ratio (default 0.05)
    "basket" -> plugin("column...") { a =>
      a.exprs match {
        case Lit(v: Double) :: rest if rest.nonEmpty =>
          cubeSegments(a.df, a.tail.tail.map(_.col), v * 100)
        case _ => cubeSegments(a.df, a.tail.map(_.col), 5.0)
      }
    },

    // on a serialized input: keep rows within `before` rows before /
    // `after` rows (default `before`) after any condition row. Routed
    // through the two-phase GlobalWindow lag/lead machinery — no
    // single-partition window over data.
    "rows_near" -> plugin("condition", "before", "after*") { a =>
      val df = a.df
      val before = a("before").foldedInt
      val after = a.tail.headOption.map(_.foldedInt).getOrElse(before)
      if (before < 0 || after < 0 || before > 32 || after > 32)
        throw PlanError("rows_near supports 0..32 rows before/after")
      val flagged = df.withColumn("__rn_f", when(toCol(a("condition").e, df), 1L).otherwise(0L))
      val (dPrep, ordered, keys, preRanged) = windowInputs(flagged)
      val lagNames = (1 to after).map(k => s"__rn_lag$k")
      val leadNames = (1 to before).map(k => s"__rn_lead$k")
      val calls: List[GlobalWindow.Call] =
        ((1 to after).map(k => GlobalWindow.Lag(lagNames(k - 1), col("__rn_f"), k, Some(lit(0L)))) ++
         (1 to before).map(k => GlobalWindow.Lead(leadNames(k - 1), col("__rn_f"), k, Some(lit(0L))))).toList
      val computed =
        if (calls.isEmpty) dPrep
        else GlobalWindow.compute(dPrep, ordered, keys, calls, preRanged)
      val near = ((col("__rn_f") === 1L) +:
        (lagNames ++ leadNames).map(n => col(n) === 1L)).reduce(_ || _)
      restoreSerializedOrder(
        computed.filter(near).drop(("__rn_f" +: (lagNames ++ leadNames)): _*))
    },

    // ---- LLM-pipeline ops surfaced in the query language (E1): the same
    // LlmOps/TemporalOps implementations the Scala API (E2) calls.
    "dedup_exact" -> plugin("text", "id") { a =>
      LlmOps.dedupExact(a.df, a("text").col, a("id").col)
    },

    "jaccard_pairs" -> plugin("threshold", "text", "id", "block*") { a =>
      LlmOps.jaccardPairs(a.df, a("threshold").real, a.tail.headOption.map(_.col),
        a("text").col, a("id").col)
    },

    // vocabulary spelling-variant pairs within Levenshtein distance
    // max_dist, found by deletion-neighborhood blocking
    "fuzzy_token_pairs" -> plugin("min_len", "max_vocab", "max_dist", "text") { a =>
      LlmOps.fuzzyTokenPairs(a.df, a("min_len").int, a("max_vocab").int,
        a("max_dist").int, textCol = a("text").col)
    },

    // asymmetric shingle-containment pairs
    "containment_pairs" -> plugin("threshold", "w", "text", "id") { a =>
      LlmOps.containmentPairs(a.df, a("threshold").real, a("w").int,
        textCol = a("text").col, idCol = a("id").col)
    },

    // drop docs contained in a larger doc, keep the superset
    "dedup_contained" -> plugin("threshold", "w", "text", "id") { a =>
      LlmOps.dedupContained(a.df, a("threshold").real, a("w").int,
        textCol = a("text").col, idCol = a("id").col)
    },

    // product-quantization ANN with exact re-rank
    "ann_pq" -> plugin("query_id", "k", "refine", "id", "vector") { a =>
      LlmOps.annCosinePq(a.df, a("query_id").long, a("k").int,
        refine = a("refine").int, idCol = a("id").col, vecCol = a("vector").col)
    },

    // transitive components over the input edge frame via the two-phase
    // star engine
    "connected_components" -> plugin("src", "dst") { a =>
      GraphOps.components(a.df, a("src").col, a("dst").col)
    },

    // damped power-iteration PageRank over the input edge frame,
    // integer-micro arithmetic
    "pagerank" -> plugin("iters", "src", "dst") { a =>
      GraphOps.pageRank(a.df, a("iters").int, a("src").col, a("dst").col)
    },

    // per-source KL divergence from the corpus token distribution
    "source_kl" -> plugin("text", "source") { a =>
      LlmOps.sourceKl(a.df, textCol = a("text").col, srcCol = a("source").col)
    },

    // reciprocal-rank fusion of tall (system, id, rank) lists
    "rrf_fuse" -> plugin("k0", "top_k", "system", "id", "rank") { a =>
      LlmOps.rrfFuse(a.df, a("k0").int, a("top_k").int, systemCol = a("system").col,
        idCol = a("id").col, rankCol = a("rank").col)
    },

    // hashed bag-of-words logistic-regression classifier, full-batch GD
    "logreg_score" -> plugin("iters", "dim", "label", "text", "id") { a =>
      LlmOps.logRegScore(a.df, a("label").col, dim = a("dim").int,
        iters = a("iters").int, textCol = a("text").col, idCol = a("id").col)
    },

    // count-min sketch frequency estimates of the space-separated probes
    "cms_count" -> plugin("probes", "width", "depth", "text") { a =>
      LlmOps.cmsCount(a.df, a("probes").str, a("width").int, a("depth").int,
        textCol = a("text").col)
    },

    // exact top-k tokens via the bounded-memory Misra-Gries candidate
    // pass + exact recount
    "heavy_hitters" -> plugin("m", "k", "text") { a =>
      LlmOps.heavyHitters(a.df, a("m").int, a("k").int, a("text").col)
    },

    // top-k bigram collocations by lift (vocabulary-sized work, bounded
    // selection)
    "collocations" -> plugin("min_count", "k", "text") { a =>
      LlmOps.collocations(a.df, a("min_count").int, a("k").int, a("text").col)
    },

    // multinomial NB language classifier over a documents-shaped frame
    // (doc_id, lang, text)
    "naive_bayes_lang" -> plugin("hold_mod") { a =>
      LlmOps.naiveBayesLangId(a.df, a("hold_mod").int)
    },

    // diverse top-k over an embeddings-shaped frame (vec_id, embedding)
    "mmr_select" -> plugin("query_id", "n_cand", "k") { a =>
      LlmOps.mmrSelect(a.df, a("query_id").long, a("n_cand").int, a("k").int)
    },

    // per-doc token entropy + TTR
    "doc_entropy" -> plugin("text", "id") { a =>
      LlmOps.docEntropy(a.df, a("text").col, a("id").col)
    },

    // Unicode-script mix + dominant script (the pre-langid router)
    "script_detect" -> plugin("text") { a => LlmOps.scriptDetect(a.df, a("text").col) },

    // SPDX/phrase license detection
    "license_detect" -> plugin("text") { a => LlmOps.licenseDetect(a.df, a("text").col) },

    // encoding-damage signals + flag
    "mojibake_detect" -> plugin("text") { a => LlmOps.mojibakeDetect(a.df, a("text").col) },

    // T5 denoising pairs
    "span_corrupt" -> plugin("block_size", "text", "id") { a =>
      LlmOps.spanCorrupt(a.df, a("block_size").int, a("text").col, a("id").col)
    },

    // clipped n-gram precision + BLEU
    "bleu" -> plugin("ref", "cand", "id") { a =>
      LlmOps.bleuScore(a.df, a("ref").col, a("cand").col, a("id").col)
    },

    // BM25 against the at-rest inverted index (postings for the query
    // terms only); the piped input is not read
    "bm25_indexed" -> plugin("index_table", "query", "k") { a =>
      LlmOps.bm25Indexed(a.df.sparkSession, a("index_table").str, a("query").str,
        a("k").int)
    },

    // re-identification risk audit — per quasi-identifier-combo counts +
    // the ≥ k flag
    "k_anonymity" -> plugin("k", "column...") { a =>
      LlmOps.kAnonymity(a.df, a.tail.map(_.col), a("k").int)
    },

    // sign-bit hamming ANN
    "ann_binary" -> plugin("query_id", "k", "id", "vec") { a =>
      LlmOps.annCosineBinary(a.df, a("query_id").long, a("k").int,
        idCol = a("id").col, vecCol = a("vec").col)
    },

    // per-doc OOV rate vs the corpus top-K word vocabulary
    "tokenizer_oov" -> plugin("vocab_top", "text", "id") { a =>
      LlmOps.tokenizerOov(a.df, a("vocab_top").int, a("text").col, a("id").col)
    },

    // deterministic training reshard
    "global_shuffle" -> plugin("shards", "id") { a =>
      LlmOps.globalShuffle(a.df, a("shards").int, idCol = a("id").col)
    },

    // reliability bins
    "calibration_bins" -> plugin("bins", "char_cut", "text", "id") { a =>
      LlmOps.calibrationBins(a.df, a("bins").int, a("char_cut").int,
        a("text").col, a("id").col)
    },

    // ROUGE-1/2 n-gram recall
    "rouge_n" -> plugin("ref", "cand", "id") { a =>
      LlmOps.rougeN(a.df, a("ref").col, a("cand").col, a("id").col)
    },

    // SFT loss-mask geometry per doc
    "sft_pack" -> plugin("text", "id") { a =>
      LlmOps.sftPack(a.df, textCol = a("text").col, idCol = a("id").col)
    },

    // per-prompt preference pairs
    "dpo_pairs" -> plugin("groups", "text", "id") { a =>
      LlmOps.dpoPairs(a.df, a("groups").int, a("text").col, a("id").col)
    },

    // prefix-energy truncation audit
    "matryoshka" -> plugin("vec", "id") { a =>
      LlmOps.matryoshkaEval(a.df, vecCol = a("vec").col, idCol = a("id").col)
    },

    // easy-to-hard cut
    "curriculum_shards" -> plugin("shards", "text", "id") { a =>
      LlmOps.curriculumShards(a.df, a("shards").int, a("text").col, a("id").col)
    },

    // per-language LM terciles
    "ccnet_buckets" -> plugin("lang", "text", "id") { a =>
      LlmOps.ccnetBuckets(a.df, a("lang").col, a("text").col, a("id").col)
    },

    // terminator-bounded sentence rows with in-doc indexes (chunking prep)
    "sentence_split" -> plugin("text", "id") { a =>
      LlmOps.sentenceSplit(a.df, a("text").col, a("id").col)
    },

    // duplicate-group training weights (1/n micros) instead of drops
    "dedup_soft" -> plugin("text") { a => LlmOps.dedupSoft(a.df, a("text").col) },

    // token edit distance + WER micros
    "wer" -> plugin("ref", "hyp", "id") { a =>
      LlmOps.werScore(a.df, a("ref").col, a("hyp").col, a("id").col)
    },

    // LCS recall/precision/F1
    "rouge_l" -> plugin("ref", "cand", "id") { a =>
      LlmOps.rougeL(a.df, a("ref").col, a("cand").col, a("id").col)
    },

    // contrastive hard-negative mining
    "hard_negatives" -> plugin("anchor_every", "k", "id", "label", "vec") { a =>
      LlmOps.hardNegatives(a.df, a("anchor_every").int, a("k").int,
        idCol = a("id").col, labelCol = a("label").col, vecCol = a("vec").col)
    },

    // the IVF-pruned form (n_probe = n_lists reproduces the scan form
    // exactly; see LlmOps.hardNegativesIvf)
    "hard_negatives_ivf" -> plugin("anchor_every", "k", "n_lists", "n_probe", "id",
        "label", "vec") { a =>
      LlmOps.hardNegativesIvf(a.df, a("anchor_every").int, a("k").int,
        nLists = a("n_lists").int, nProbe = a("n_probe").int,
        idCol = a("id").col, labelCol = a("label").col, vecCol = a("vec").col)
    },

    // one-row-per-source release summary
    "dataset_card" -> plugin("source", "lang", "text", "id") { a =>
      LlmOps.datasetCard(a.df, a("source").col, a("lang").col, a("text").col,
        a("id").col)
    },

    // crawl politeness fetch slots per host
    "frontier_schedule" -> plugin("per_slot", "host", "priority", "id") { a =>
      LlmOps.frontierSchedule(a.df, a("per_slot").int, a("host").col,
        a("priority").col, a("id").col)
    },

    // top-k PMI association contexts per word
    "pmi_contexts" -> plugin("window", "min_count", "k", "text") { a =>
      LlmOps.pmiContexts(a.df, a("window").int, a("min_count").int, a("k").int,
        textCol = a("text").col)
    },

    // per-doc top-k tf-idf terms (doc tagging / cluster labeling)
    "keyword_extract" -> plugin("k", "text", "id") { a =>
      LlmOps.keywordExtract(a.df, a("k").int, textCol = a("text").col,
        idCol = a("id").col)
    },

    // held-out bigram LM scoring with unigram backoff (Brants 2007)
    "stupid_backoff" -> plugin("hold_mod", "text", "id") { a =>
      LlmOps.stupidBackoff(a.df, a("hold_mod").int, textCol = a("text").col,
        idCol = a("id").col)
    },

    // code-vs-prose routing gate
    "code_detect" -> plugin("text") { a => LlmOps.codeDetect(a.df, a("text").col) },

    // WARC + embedded-HTTP header fields (the crawl container's
    // route-and-filter metadata)
    "warc_meta" -> plugin("text") { a => LlmOps.warcMeta(a.df, a("text").col) },

    // AVIF/HEIC dims from the ISO-BMFF ispe box (meta -> iprp -> ipco
    // walk), header bytes only
    "avif_dims" -> plugin("payload") { a => LlmOps.avifDims(a.df, a("payload").col) },

    // vocabulary-growth checkpoints + fitted Heaps exponent along the
    // deterministic hash shuffle
    "heaps_law" -> plugin("text", "id") { a => LlmOps.heapsLaw(a.df, a("text").col, a("id").col) },

    // exact per-stratum train/val/test assignment
    "stratified_split" -> plugin("train_frac", "val_frac", "strata", "id") { a =>
      LlmOps.stratifiedSplit(a.df, a("train_frac").real, a("val_frac").real,
        a("strata").col, a("id").col)
    },

    // per-vector distance-to-centroid Tukey quarantine
    "embedding_outliers" -> plugin("label", "embedding", "id") { a =>
      LlmOps.embeddingOutliers(a.df, a("label").col, a("embedding").col, a("id").col)
    },

    // per-label cluster cohesion/separation audit (squared
    // Davies-Bouldin, integer milli)
    "cluster_metrics" -> plugin("label", "embedding") { a =>
      LlmOps.clusterMetrics(a.df, a("label").col, a("embedding").col)
    },

    // 64-bit energy-envelope gradient fingerprint
    "audio_dhash" -> plugin("payload") { a => LlmOps.audioDhash(a.df, a("payload").col) },

    // 64-bit perceptual gradient hash
    "image_dhash" -> plugin("payload") { a => LlmOps.imageDhash(a.df, a("payload").col) },

    // pigeonhole near-dup pairs over a dhash frame
    "image_neardup" -> plugin("max_hamming", "id", "dhash") { a =>
      LlmOps.imageNearDupPairs(a.df, a("max_hamming").int, a("id").col, a("dhash").col)
    },

    // per-doc n-gram novelty of the eval fold vs the train fold
    "ngram_novelty" -> plugin("n", "hold_mod", "text", "id") { a =>
      LlmOps.ngramNovelty(a.df, a("n").int, a("hold_mod").int, a("text").col,
        a("id").col)
    },

    // log2 token-length histogram per group
    "length_histogram" -> plugin("by", "text", "id") { a =>
      LlmOps.lengthHistogram(a.df, a("by").col, a("text").col, a("id").col)
    },

    // per-source centroid drift over an embeddings-shaped frame; the
    // source column is the docs table's
    "embedding_drift" -> plugin("docs_table", "source") { a =>
      val dt = a("docs_table").table
      LlmOps.embeddingDrift(a.df, dt, a("source").colIn(dt))
    },

    // content-defined chunking via rolling window-sum boundaries
    "cdc_chunks" -> plugin("w", "mask_bits", "text", "id") { a =>
      LlmOps.cdcChunks(a.df, a("w").int, a("mask_bits").int, a("text").col, a("id").col)
    },

    // mergeable k-minimum-values distinct sketch per group + merged global
    "kmv_distinct" -> plugin("k", "by", "text") { a =>
      LlmOps.kmvDistinct(a.df, a("k").int, a("by").col, a("text").col)
    },

    // OGG Opus/Vorbis id-header metadata
    "ogg_meta" -> plugin("payload") { a => LlmOps.oggMeta(a.df, a("payload").col) },

    // TIFF/EXIF width/height/orientation
    "exif_meta" -> plugin("payload") { a => LlmOps.exifMeta(a.df, a("payload").col) },

    // α-temperature source mixing (mT5 rule) — keep-rate sampling with
    // p_s ∝ n_s^α
    "temperature_mix" -> plugin("alpha", "target_frac", "source", "id") { a =>
      LlmOps.temperatureMix(a.df, a("alpha").real, a("target_frac").real,
        a("source").col, a("id").col)
    },

    // top token-frequency movers between the piped (old) snapshot and
    // the new table
    "vocab_drift" -> plugin("new_table", "k", "text") { a =>
      LlmOps.vocabDrift(a.df, a("new_table").table, a("k").int, a("text").col)
    },

    // unigram-LM Viterbi segmentation of the corpus vocabulary (Kudo 2018)
    "unigram_segment" -> plugin("vocab_top", "top_k", "text", "id") { a =>
      LlmOps.unigramSegment(a.df, a("vocab_top").int, a("top_k").int, 12,
        a("text").col, a("id").col)
    },

    // pairwise source token-set Jaccard (corpus-composition audit)
    "source_similarity" -> plugin("text", "source") { a =>
      LlmOps.sourceSimilarity(a.df, a("text").col, a("source").col)
    },

    // Tukey-fence outlier counts per group over an integer measure
    "iqr_outliers" -> plugin("val", "by") { a =>
      TableOps.iqrOutliers(a.df, a("val").col, a("by").col)
    },

    // remove duplicated span_len-token spans corpus-wide, keeping each
    // span's first occurrence
    "dedup_substring" -> plugin("span_len", "text", "id") { a =>
      LlmOps.dedupSubstringRemove(a.df, a("span_len").int, a("text").col, a("id").col)
    },

    // Flesch / FK-grade integer-micro readability signals per doc
    "readability" -> plugin("text", "id") { a =>
      LlmOps.readability(a.df, a("text").col, a("id").col)
    },

    // snapshot reconciliation — classify keys added/removed/changed/
    // unchanged between the piped (old) table and the new table
    "table_diff" -> plugin("new_table", "key...") { a =>
      val nw = a("new_table").table
      TableOps.tableDiff(a.df, nw, a.tail.map(_.col))
    },

    // small-file bin-packing over a file-metadata frame
    "compact_plan" -> plugin("target_bytes", "size", "id") { a =>
      TableOps.compactPlan(a.df, a("size").col, a("id").col, a("target_bytes").long)
    },

    // canonical-URL keep-best
    "dedup_url" -> plugin("url", "quality", "id") { a =>
      LlmOps.dedupByCanonicalUrl(a.df, a("url").col, a("quality").col, a("id").col)
    },

    // one-pass per-column profiling — (column, n, n_null, n_distinct,
    // min_s, max_s), the dataset-card / data-quality summary. One
    // aggregate over all requested columns (the multi-distinct Expand is
    // ncols+1 wide — at 100 TB swap count_distinct for
    // approx_count_distinct, same plan shape); min/max are computed on
    // the NATIVE type then stringified, so numeric columns don't sort
    // lexically.
    "profile" -> plugin("column...") { a =>
      val names = a.tail.map(_.col)
      val aggs = names.flatMap(n => Seq(
        count(col(n)).as(s"__nn_$n"),
        countDistinct(col(n)).as(s"__nd_$n"),
        min(col(n)).cast("string").as(s"__mn_$n"),
        max(col(n)).cast("string").as(s"__mx_$n")))
      val agged = a.df.agg(count(lit(1)).as("__t"), aggs: _*)
      agged.select(explode(array(names.map(n => struct(
          lit(n).as("column"), col("__t").as("n"),
          (col("__t") - col(s"__nn_$n")).as("n_null"),
          col(s"__nd_$n").as("n_distinct"),
          col(s"__mn_$n").as("min_s"), col(s"__mx_$n").as("max_s"))): _*))
          .as("__p"))
        .select(col("__p.column").as("column"), col("__p.n").as("n"),
          col("__p.n_null").as("n_null"),
          col("__p.n_distinct").as("n_distinct"),
          col("__p.min_s").as("min_s"), col("__p.max_s").as("max_s"))
    },

    // OLS via the normal equations — one Gram-sums aggregate + a
    // driver-side deterministic solve; output (feature, coef) incl.
    // _intercept/_n/_r2
    "linreg" -> plugin("target", "feature...") { a =>
      LlmOps.linReg(a.df, a("target").col, a.tail.map(_.col))
    },

    // single-source Bellman-Ford distances from the `source` node id,
    // non-negative integer weights
    "shortest_paths_weighted" -> plugin("source", "iters", "src", "dst", "w") { a =>
      GraphOps.shortestPathsWeighted(a.df, a("source").str, a("iters").int,
        a("src").col, a("dst").col, a("w").col)
    },

    // Kleinberg hubs & authorities, max-normalized integer-micro arithmetic
    "hits" -> plugin("iters", "src", "dst") { a =>
      GraphOps.hits(a.df, a("iters").int, a("src").col, a("dst").col)
    },

    // synchronous min-tie label-propagation communities over the input
    // edge frame
    "label_propagation" -> plugin("iters", "src", "dst") { a =>
      GraphOps.labelPropagation(a.df, a("iters").int, a("src").col, a("dst").col)
    },

    // per-node triangle counts via degree-ordered orientation
    "triangle_count" -> plugin("src", "dst") { a =>
      GraphOps.triangleCount(a.df, a("src").col, a("dst").col)
    },

    // k-core peeling — surviving nodes + surviving degree after `rounds`
    // synchronous peels
    "kcore" -> plugin("k", "rounds", "src", "dst") { a =>
      GraphOps.kCore(a.df, a("k").int, a("rounds").int, a("src").col, a("dst").col)
    },

    // scalar-quantized (int8) ANN with exact re-rank
    "ann_sq8" -> plugin("query_id", "k", "refine", "id", "vector") { a =>
      LlmOps.annCosineSq8(a.df, a("query_id").long, a("k").int,
        refine = a("refine").int, idCol = a("id").col, vecCol = a("vector").col)
    },

    "neardup_minhash" -> plugin("threshold", "text", "id") { a =>
      LlmOps.nearDupPairsMinhash(a.df, a("threshold").real,
        textCol = a("text").col, idCol = a("id").col)
    },

    "neardup_groups" -> plugin("threshold", "text", "id", "block*") { a =>
      LlmOps.nearDupGroups(a.df, a("threshold").real, a.tail.headOption.map(_.col),
        a("text").col, a("id").col)
    },

    "simhash" -> plugin("text", "id") { a =>
      LlmOps.simHash(a.df, textCol = a("text").col, idCol = a("id").col)
    },

    // n-gram overlap against a benchmark table (decontamination pass).
    // The options are the eval table's text column (default `text`) and
    // 'broadcast' (default) or 'shuffle' — the join strategy for eval
    // corpora too large to broadcast.
    "contamination" -> plugin("eval_table", "n", "text", "id", "option*") { a =>
      val ev = a("eval_table").table
      val (strategy, colArgs) = a.tail.partition(_.e match {
        case Lit(s: String) => s == "broadcast" || s == "shuffle"
        case _ => false
      })
      val evalText = colArgs.headOption.map(_.colIn(ev)).getOrElse("text")
      val bcast = strategy.headOption.forall(_.e match {
        case Lit(s: String) => s == "broadcast"
        case _ => true
      })
      LlmOps.contamination(a.df, ev, a("n").int, a("text").col, a("id").col,
        evalText, bcast)
    },

    // substring-granular contamination pairs via shared winnow fingerprints
    "winnow_contamination" -> plugin("eval_table", "k", "w", "min_shared", "text",
        "id") { a =>
      val ev = a("eval_table").table
      LlmOps.winnowContamination(a.df, ev, a("k").int, a("w").int,
        a("min_shared").int, a("text").col, a("id").col)
    },

    // top-p principal-component projection (driver Jacobi eigensolve over
    // the one-pass covariance, bounded model metadata)
    "pca" -> plugin("p", "id", "vector") { a =>
      LlmOps.pca(a.df, a("p").int, a("id").col, a("vector").col)
    },

    "stratified_sample" -> plugin("n", "strata", "id") { a =>
      LlmOps.stratifiedSample(a.df, a("n").int, a("strata").col, a("id").col)
    },

    "hash_split" -> plugin("train", "val", "id") { a =>
      LlmOps.hashSplit(a.df, a("train").real, a("val").real, a("id").col)
    },

    "simhash_pairs" -> plugin("k", "bits", "text", "id") { a =>
      LlmOps.simHashPairs(a.df, a("k").int, a("bits").int, a("text").col, a("id").col)
    },

    "quality_score" -> plugin("text", "id") { a =>
      LlmOps.qualityScore(a.df, a("text").col, a("id").col)
    },

    "repetition_score" -> plugin("text", "id") { a =>
      LlmOps.repetitionScore(a.df, a("text").col, a("id").col)
    },

    "unigram_logprob" -> plugin("text", "id") { a =>
      LlmOps.unigramLogProb(a.df, a("text").col, a("id").col)
    },

    "bigram_logprob" -> plugin("text", "id") { a =>
      LlmOps.bigramLogProb(a.df, a("text").col, a("id").col)
    },

    // Okapi BM25 top-k lexical retrieval
    "bm25" -> plugin("query", "k", "text", "id") { a =>
      LlmOps.bm25(a.df, a("query").str, a("k").int, textCol = a("text").col,
        idCol = a("id").col)
    },

    // corpus-wide first-occurrence line dedup
    "line_dedup" -> plugin("delimiter", "text", "id") { a =>
      LlmOps.lineDedup(a.df, a("delimiter").str, a("text").col, a("id").col)
    },

    // drop lines appearing in >= min_df distinct docs
    "boilerplate_remove" -> plugin("min_df", "delimiter", "text", "id") { a =>
      LlmOps.boilerplateRemove(a.df, a("min_df").int, a("delimiter").str,
        a("text").col, a("id").col)
    },

    // overlapping token-window chunking
    "chunk" -> plugin("chunk_tokens", "overlap_tokens", "text", "id") { a =>
      LlmOps.chunkDocs(a.df, a("chunk_tokens").int, a("overlap_tokens").int,
        a("text").col, a("id").col)
    },

    // training sequence assignment by cumulative weight
    "pack_sequences" -> plugin("budget", "source", "weight", "id") { a =>
      LlmOps.packSequences(a.df, a("budget").long, a("source").col,
        a("weight").col, a("id").col)
    },

    // DSIR importance weights vs a target corpus
    "dsir" -> plugin("target_table", "n", "buckets", "text", "id") { a =>
      val target = a("target_table").table
      LlmOps.dsirWeights(a.df, target, a("n").int, a("buckets").int,
        a("text").col, a("id").col)
    },

    // Gumbel top-k importance resampling on the DSIR weights
    "dsir_resample" -> plugin("target_table", "k", "n", "buckets", "text", "id") { a =>
      val target = a("target_table").table
      LlmOps.dsirResample(a.df, target, a("k").int, a("n").int, a("buckets").int,
        a("text").col, a("id").col)
    },

    // NFC + control strip + whitespace collapse
    "text_normalize" -> plugin("text", "id") { a =>
      LlmOps.textNormalize(a.df, a("text").col, a("id").col)
    },

    // bloom-filter membership dedup against a corpus table
    "dedup_bloom" -> plugin("corpus_table", "fpp", "text", "id") { a =>
      val corpus = a("corpus_table").table
      LlmOps.dedupBloomFilter(a.df, corpus, a("fpp").real, a("text").col, a("id").col)
    },

    // magic-bytes media-type detection on a binary (or string-bytes) column
    "sniff_media_type" -> plugin("payload") { a => LlmOps.sniffMediaType(a.df, a("payload").col) },

    // image width/height parsed from PNG/GIF/BMP/WebP/JPEG container
    // headers — no decode
    "media_dims" -> plugin("payload") { a => LlmOps.mediaDims(a.df, a("payload").col) },

    // WAV fmt/data chunk-walk metadata (sample rate, channels, bits,
    // frames, duration) — no decode
    "audio_meta" -> plugin("payload") { a => LlmOps.audioMeta(a.df, a("payload").col) },

    // MP3 frame-header metadata (bitrate, rate, channels, frame size),
    // ID3v2-aware — no decode
    "mp3_meta" -> plugin("payload") { a => LlmOps.mp3Meta(a.df, a("payload").col) },

    // FLAC STREAMINFO metadata (sample rate, channels, bits, total
    // samples, duration) — fixed-offset parse, no decode
    "flac_meta" -> plugin("payload") { a => LlmOps.flacMeta(a.df, a("payload").col) },

    // density clustering with core/border/noise roles
    "dbscan" -> plugin("eps", "min_pts", "method", "block", "vec", "id") { a =>
      LlmOps.dbscanCosine(a.df, a("eps").real, a("min_pts").int,
        blockCol = a("block").col, idCol = a("id").col, vecCol = a("vec").col,
        method = a("method").str)
    },

    // MOSS winnowing fingerprints — local substring-granular fingerprinting
    "winnow" -> plugin("k", "w", "text", "id") { a =>
      LlmOps.winnowFingerprints(a.df, a("k").int, a("w").int,
        textCol = a("text").col, idCol = a("id").col)
    },

    // hashing-trick signed bag-of-words vectorizer, sparse output
    "feature_hash" -> plugin("dim", "text", "id") { a =>
      LlmOps.featureHash(a.df, a("dim").int, textCol = a("text").col,
        idCol = a("id").col)
    },

    // JL ±1 projection to k dims in integer micros
    "random_projection" -> plugin("k", "dim", "vec", "id") { a =>
      LlmOps.randomProjection(a.df, a("k").int, a("dim").int,
        idCol = a("id").col, vecCol = a("vec").col)
    },

    // MP4 mvhd/tkhd box-walk metadata (timescale, duration, track dims) —
    // no decode
    "video_meta" -> plugin("payload") { a => LlmOps.videoMeta(a.df, a("payload").col) },

    "lang_id" -> plugin("text", "id") { a => LlmOps.langId(a.df, a("text").col, a("id").col) },

    "fingerprint" -> plugin("text", "id") { a =>
      LlmOps.fingerprint(a.df, a("text").col, a("id").col)
    },

    "token_count" -> plugin("text", "id") { a =>
      LlmOps.tokenCount(a.df, a("text").col, a("id").col)
    },

    "pii_scrub" -> plugin("text", "id") { a => LlmOps.piiScrub(a.df, a("text").col, a("id").col) },

    "substring_dup" -> plugin("w", "text", "id") { a =>
      LlmOps.substringDup(a.df, a("w").int, a("text").col, a("id").col)
    },

    "term_freq" -> plugin("text") { a => LlmOps.termFreq(a.df, a("text").col) },

    "tfidf" -> plugin("text", "id") { a => LlmOps.tfIdf(a.df, a("text").col, a("id").col) },

    "knn_cosine" -> plugin("query_id", "k", "id", "vector") { a =>
      LlmOps.knnCosine(a.df, a("query_id").long, a("k").int, a("id").col,
        a("vector").col)
    },

    "similarity_pairs" -> plugin("threshold", "block", "id", "vector") { a =>
      LlmOps.similarityPairs(a.df, a("threshold").real, a("block").col, a("id").col,
        a("vector").col)
    },

    "similarity_pairs_lsh" -> plugin("threshold", "block", "id", "vector") { a =>
      LlmOps.similarityPairsLsh(a.df, a("threshold").real, a("block").col,
        a("id").col, a("vector").col)
    },

    "cosine_groups" -> plugin("threshold", "block", "id", "vector", "method*") { a =>
      LlmOps.cosineGroups(a.df, a("threshold").real, a("block").col, a("id").col,
        a("vector").col, method = a.tail.headOption.map(_.str).getOrElse("exact"))
    },

    "dedup_cosine" -> plugin("threshold", "block", "id", "vector", "method*") { a =>
      LlmOps.dedupNearCosine(a.df, a("threshold").real, a("block").col, a("id").col,
        a("vector").col, method = a.tail.headOption.map(_.str).getOrElse("lsh"))
    },

    // distributed Lloyd's k-means assignments over embeddings
    "kmeans" -> plugin("k", "iters", "id", "vector") { a =>
      LlmOps.kmeansFit(a.df, a("k").int, a("iters").int, a("id").col, a("vector").col)
    },

    // dedup the input against a persisted buildCosineIndex corpus + itself
    "dedup_cosine_incremental" -> plugin("index_table", "id", "vector") { a =>
      LlmOps.dedupCosineIncremental(a.df, a("index_table").str,
        idCol = a("id").col, vecCol = a("vector").col)
    },

    // top-k adjacent char pairs, frequency-weighted over distinct words
    // (one BPE-trainer pass)
    "bpe_pair_counts" -> plugin("k", "text") { a =>
      LlmOps.bpePairCounts(a.df, a("k").int, textCol = a("text").col)
    },

    // N-round iterative BPE merge training -> the merge table
    "bpe_train" -> plugin("rounds", "text") { a =>
      LlmOps.bpeTrain(a.df, a("rounds").int, textCol = a("text").col)
    },

    // per-doc token counts under the trained merges
    "bpe_tokenize" -> plugin("rounds", "text", "id") { a =>
      LlmOps.bpeTokenize(a.df, a("rounds").int, textCol = a("text").col,
        idCol = a("id").col)
    },

    // corpus top-k n-grams
    "ngram_counts" -> plugin("n", "k", "text") { a =>
      LlmOps.ngramCounts(a.df, a("n").int, a("k").int, textCol = a("text").col)
    },

    // SemDeDup-style k-means-cell semantic dedup; max_cell_size is the
    // mega-cell split cap (0 = off)
    "semdedup" -> plugin("threshold", "n_clusters", "id", "vector", "max_cell_size?") { a =>
      LlmOps.semDedup(a.df, a("threshold").real, a("n_clusters").int,
        idCol = a("id").col, vecCol = a("vector").col,
        maxCellSize = a.opt("max_cell_size").map(_.long).getOrElse(0L))
    },

    // keep the top-n rows per source/domain
    "source_cap" -> plugin("n", "source", "order", "id") { a =>
      LlmOps.sourceCap(a.df, a("n").int, a("source").col, a("order").col, a("id").col)
    },

    // the row-PRESERVING quality gate — keeps every input column, so KQL
    // users can chain the full curation pipeline:
    //   documents | evaluate quality_filter(0.05, 20, text, doc_id)
    //             | evaluate source_cap(...) | evaluate token_budget_sample(...)
    "quality_filter" -> plugin("min_stop_ratio", "min_tokens", "text", "id") { a =>
      val idName = a("id").col
      val passing = LlmOps.qualityScore(a.df, a("text").col, idName)
        .filter(col("stop_ratio") >= a("min_stop_ratio").real &&
          col("n_tokens") >= a("min_tokens").long)
        .select(col(idName))
      a.df.join(passing, Seq(idName), "left_semi")
    },

    // per-source mixing rates: ('src', rate) pairs override default_rate
    "source_sample" -> plugin("default_rate", "source_col", "id", "source*", "rate*") { a =>
      val rates = a.tail.grouped(2).map(g => g.head.str -> g(1).real).toMap
      LlmOps.weightedSourceSample(a.df, rates, a("default_rate").real,
        a("source_col").col, a("id").col)
    },

    // fill a per-source token/char budget
    "token_budget_sample" -> plugin("budget", "source", "weight", "id") { a =>
      LlmOps.tokenBudgetSample(a.df, a("budget").long, a("source").col,
        a("weight").col, a("id").col)
    },

    // drop rows near-duplicating the persisted corpus index
    // (LlmOps.buildMinhashIndex) or a lower-id row of this input
    "dedup_incremental" -> plugin("index_table", "threshold", "text", "id") { a =>
      LlmOps.dedupIncremental(a.df, a("index_table").str, a("threshold").real,
        textCol = a("text").col, idCol = a("id").col)
    },

    // drop lines already in the persisted line index
    // (LlmOps.buildLineIndex) + in-batch first occurrences; pure — the
    // index grows via appendToLineIndex on the committed output
    "line_dedup_incremental" -> plugin("index_table", "delimiter", "text", "id") { a =>
      LlmOps.lineDedupIncremental(a.df, a("index_table").str, a("delimiter").str,
        a("text").col, a("id").col)
    },

    "funnel_sequence" -> plugin("id", "timeline", "type", "step...") { a =>
      val typeName = a("type").col
      val steps = a.tail.map { e => val s = e.str; s -> (col(typeName) === s) }
      TemporalOps.funnel(a.df, a("id").col, a("timeline").col, steps)
    },

    // per (start bin, step) — ids whose earliest funnel chain reached the
    // step within the window
    "funnel_sequence_completion" -> plugin("id", "timeline", "type", "bin", "window",
        "step...") { a =>
      val typeName = a("type").col
      val steps = a.tail.map { e => val s = e.str; s -> (col(typeName) === s) }
      val tsName = a("timeline").col
      TemporalOps.funnelCompletion(
        a.df.withColumn("__fc_us", unix_micros(col(tsName))),
        a("id").col, "__fc_us", a("bin").span, a("window").span, steps)
    },

    // every step-1 occurrence, greedily extended within the step window,
    // whole chain within the span (see TemporalOps); steps are predicates
    "sequence_detect" -> plugin("timeline", "step_window", "span", "step1", "step...",
        "key") { a =>
      val steps = (a("step1") :: a.tail).zipWithIndex.map { case (e, i) =>
        s"s${i + 1}" -> toCol(e.e, a.df)
      }
      TemporalOps.sequenceDetect(a.df, a("key").col, a("timeline").col,
        a("step_window").span, a("span").span, steps)
    }
  )

  /** KQL parse-pattern → anchored regex + ordered named captures.
    * Each capture is lazy until the next literal; the trailing capture is
    * greedy. Typed captures get narrower character classes. */
  private def compileParse(segs: List[ParseSeg]): (String, List[(String, Option[String])]) = {
    val sb = new StringBuilder("^")
    val caps = List.newBuilder[(String, Option[String])]
    segs.zipWithIndex.foreach {
      case (ParseLit(s), _) => sb ++= java.util.regex.Pattern.quote(s)
      case (ParseCol(name, typ), i) =>
        val isLast = !segs.drop(i + 1).exists(_.isInstanceOf[ParseLit])
        val body = typ.map(_.toLowerCase) match {
          case Some("long") | Some("int") => "-?\\d+"
          case Some("real") | Some("double") => "-?\\d+(?:\\.\\d+)?"
          case _ => if (isLast) ".*" else ".*?"
        }
        if (name.isEmpty) sb ++= s"(?:$body)"
        else { sb ++= s"($body)"; caps += name -> typ }
    }
    (sb.toString, caps.result())
  }

  private def kqlTypeName(t: DataType): String = t match {
    case StringType => "string"
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "real"
    case FloatType => "real"
    case BooleanType => "bool"
    case TimestampType => "datetime"
    case _: DecimalType => "decimal"
    case _: ArrayType => "dynamic"
    case _: MapType | _: StructType => "dynamic"
    case other => other.simpleString
  }

  private def matchCols(cols: Array[String], pattern: String): Seq[String] =
    if (pattern.contains("*")) {
      val rx = ("(?i)^" + pattern.split("\\*", -1).map(java.util.regex.Pattern.quote)
        .mkString(".*") + "$").r
      cols.filter(c => rx.findFirstIn(c).isDefined).toSeq
    } else Seq(resolveName0(cols, pattern))

  private def sortCol(k: SortKey, df: DataFrame): Column = {
    val c = toCol(k.e, df)
    (k.asc, k.nullsFirst) match {
      // KQL defaults: asc ⇒ nulls first, desc ⇒ nulls last (SURVEY §7.4)
      case (true, None) => c.asc_nulls_first
      case (false, None) => c.desc_nulls_last
      case (true, Some(true)) => c.asc_nulls_first
      case (true, Some(false)) => c.asc_nulls_last
      case (false, Some(true)) => c.desc_nulls_first
      case (false, Some(false)) => c.desc_nulls_last
    }
  }

  // ================================================================ union
  private def planUnion(kind: String, withSource: Option[String],
                        branches: List[(String, DataFrame)]): DataFrame = {
    val tagged = withSource match {
      case Some(srcCol) => branches.map { case (n, d) => d.withColumn(srcCol, lit(n)) }
      case None => branches.map(_._2)
    }
    kind match {
      case "inner" =>
        val common = tagged.map(_.columns.toSeq).reduce((a, b) => a.filter(b.contains))
        tagged.map(d => d.select(common.map(col): _*)).reduce(_ union _)
      case _ => // outer (default): null-pad missing columns
        tagged.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    }
  }

  // ================================================================= join
  /** Rename right-side columns colliding with left to `name1` (KQL join
    * output convention); returns (renamedRight, originalName→newName). */
  private def disambiguate(left: DataFrame, right: DataFrame,
                           dropKeys: Set[String] = Set.empty): (DataFrame, Map[String, String]) = {
    val leftCols = left.columns.map(_.toLowerCase).toSet
    var renames = Map.empty[String, String]
    var out = right
    right.columns.foreach { c =>
      if (leftCols.contains(c.toLowerCase)) {
        var nn = c + "1"
        var k = 1
        while (out.columns.contains(nn) || leftCols.contains(nn.toLowerCase)) { k += 1; nn = c + k }
        out = out.withColumnRenamed(c, nn)
        renames += c -> nn
      }
    }
    (out, renames)
  }

  private def planJoin(left: DataFrame, j: JoinOp): DataFrame = {
    var right = plan(j.right)
    val kind = j.kind match {
      case "" | "innerunique" => "innerunique"
      case k => k
    }
    // semi/anti keep only one side: no disambiguation needed beyond refs
    kind match {
      case "leftsemi" | "leftanti" | "leftantisemi" =>
        val (r2, ren) = disambiguate(left, right)
        val cond = j.keys.map(k => left(resolveName(left, k.left)) ===
          r2(ren.getOrElse(resolveName0(right.columns, k.right), resolveName0(right.columns, k.right)))).reduce(_ && _)
        val sk = if (kind == "leftsemi") "left_semi" else "left_anti"
        left.join(maybeBroadcast(r2, j.strategyHint), cond, sk)
      case "rightsemi" | "rightanti" | "rightantisemi" =>
        val (l2, ren) = disambiguate(right, left)
        val cond = j.keys.map(k => right(resolveName(right, k.right)) ===
          l2(ren.getOrElse(resolveName0(left.columns, k.left), resolveName0(left.columns, k.left)))).reduce(_ && _)
        val sk = if (kind == "rightsemi") "left_semi" else "left_anti"
        right.join(l2, cond, sk)
      case "cross" =>
        val (r2, _) = disambiguate(left, right)
        left.crossJoin(maybeBroadcast(r2, j.strategyHint))
      case _ =>
        val dedupLeft = kind match {
          case "innerunique" =>
            left.dropDuplicates(j.keys.map(k => resolveName(left, k.left)))
          case _ => left
        }
        val (r2, ren) = disambiguate(dedupLeft, right)
        val cond = j.keys.map(k => dedupLeft(resolveName(dedupLeft, k.left)) ===
          r2(ren.getOrElse(resolveName0(right.columns, k.right), resolveName0(right.columns, k.right)))).reduce(_ && _)
        val sparkKind = kind match {
          case "innerunique" | "inner" => "inner"
          case "leftouter" => "left"
          case "rightouter" => "right"
          case "fullouter" => "full"
          case other => throw PlanError(s"unknown join kind '$other'")
        }
        dedupLeft.join(maybeBroadcast(r2, j.strategyHint), cond, sparkKind)
    }
  }

  private def maybeBroadcast(df: DataFrame, hint: Option[String]): DataFrame = hint match {
    case Some("broadcast") => broadcast(df)
    case Some("shuffle") => df.hint("shuffle_hash")
    case _ => df
  }

  // ============================================================ summarize
  private def planSummarize(df0: DataFrame, s: Summarize): DataFrame = {
    // `hint.shufflekey=col` / `hint.num_partitions=n` (KQL shuffle
    // strategy): pre-shuffle on the named key (skew-spreading / explicit
    // parallelism control); Catalyst reuses the exchange for the groupBy
    val df = (s.hints.get("shufflekey"), s.hints.get("num_partitions")) match {
      case (Some(k), Some(n)) => df0.repartition(n.toInt, col(resolveName(df0, k)))
      case (Some(k), None) => df0.repartition(col(resolveName(df0, k)))
      case (None, Some(n)) => df0.repartition(n.toInt)
      case _ => df0
    }
    // def, not val: `by rollup(...)`/`by cube(...)` must not reach toCol
    // (rollup is a grouping construct, not a scalar function)
    def byCols = s.by.zipWithIndex.map { case ((alias, e), i) =>
      toCol(e, df).as(alias.getOrElse(byDefaultName(e, i)))
    }
    val byNames = s.by.zipWithIndex.map { case ((alias, e), i) =>
      alias.getOrElse(byDefaultName(e, i)) }

    if (s.aggs.isEmpty) // `summarize by g` == distinct g
      return df.select(byCols: _*).distinct()

    // each agg item may expand to several columns (arg_max) or carry a
    // post-agg unpack step
    val aggCols = scala.collection.mutable.ListBuffer[Column]()
    val unpacks = scala.collection.mutable.ListBuffer[(String, Seq[String])]() // structCol -> fieldNames

    s.aggs.zipWithIndex.foreach { case ((alias, e), i) =>
      e match {
        case App("percentiles", colE :: ps) if ps.nonEmpty =>
          // KQL percentiles(x, 25, 50) → columns percentile_x_25, _50
          val base = alias.getOrElse(s"percentile_${defaultName(colE, i)}")
          ps.foreach { p =>
            val pName = p match {
              case Lit(l: Long) => l.toString
              case Lit(d: Double) => d.toString.replace('.', '_')
              case other => throw PlanError(s"percentiles needs literal percents, got $other")
            }
            aggCols += call_function("percentile", toCol(colE, df),
              percentAsFraction(p, df)).as(s"${base}_$pName")
          }
        case App("percentiles_array", colE :: ps) if ps.nonEmpty =>
          // one array-valued column instead of one column per percent
          val base = alias.getOrElse(s"percentiles_${defaultName(colE, i)}")
          aggCols += array(ps.map(p => call_function("percentile",
            toCol(colE, df), percentAsFraction(p, df))): _*).as(base)
        case App("percentilesw_array", colE :: wE :: ps) if ps.nonEmpty =>
          val base = alias.getOrElse(s"percentiles_${defaultName(colE, i)}")
          aggCols += array(ps.map(p => Functions.percentileW(toCol(colE, df),
            toCol(wE, df), percentAsFraction(p, df))): _*).as(base)
        case App("percentilesw", colE :: wE :: ps) if ps.nonEmpty =>
          // weighted variant: percentilesw(x, w, 25, 50) → one column each
          val base = alias.getOrElse(s"percentile_${defaultName(colE, i)}")
          ps.foreach { p =>
            val pName = p match {
              case Lit(l: Long) => l.toString
              case Lit(d: Double) => d.toString.replace('.', '_')
              case other => throw PlanError(s"percentilesw needs literal percents, got $other")
            }
            aggCols += Functions.percentileW(toCol(colE, df), toCol(wE, df),
              percentAsFraction(p, df)).as(s"${base}_$pName")
          }
        case App(fn @ ("arg_max" | "arg_min"), byE :: rets) if rets.nonEmpty =>
          val byC = toCol(byE, df)
          val retCols: List[(String, Column)] = rets.flatMap {
            case Star() => df.columns.toList.map(c => c -> col(c))
            case r => List(defaultName(r, 0) -> toCol(r, df))
          }
          val byName = alias.getOrElse(defaultName(byE, i))
          val packed = struct((byC.as("__by") :: retCols.map { case (n, c) => c.as(n) }): _*)
          val structName = s"__arg$i"
          val agg = if (fn == "arg_max") max_by(packed, byC) else min_by(packed, byC)
          aggCols += agg.as(structName)
          unpacks += structName -> (Seq("__by:" + byName) ++ retCols.map(_._1))
        case _ =>
          aggCols += toCol(e, df, agg = true).as(alias.getOrElse(aggDefaultName(e, i)))
      }
    }

    // `by rollup(a, b)` / `by cube(a, b)` extension (SURVEY §2.4):
    // hierarchical / all-combination subtotals via Spark's native
    // grouping-set support (single shuffle, no plan expansion by us)
    val grouped = s.by match {
      case List((None, App(kind @ ("rollup" | "cube"), gArgs))) if gArgs.nonEmpty =>
        val gCols = gArgs.zipWithIndex.map { case (e, i) =>
          toCol(e, df).as(byDefaultName(e, i)) }
        if (kind == "rollup") df.rollup(gCols: _*) else df.cube(gCols: _*)
      case _ => df.groupBy(byCols: _*)
    }
    var out = grouped.agg(aggCols.head, aggCols.tail.toSeq: _*)
    // unpack arg_max/arg_min structs
    unpacks.foreach { case (structName, fields) =>
      fields.foreach { f =>
        val (fieldName, outName) = if (f.startsWith("__by:")) ("__by", f.drop(5)) else (f, f)
        out = out.withColumn(outName, col(structName).getField(fieldName))
      }
      out = out.drop(structName)
    }
    out
  }

  private def planAgg(e: Expr, df: DataFrame): Column = e match {
    case App(fn, args) =>
      def arg(i: Int) = argAt(fn, args, i)
      def a(i: Int) = toCol(arg(i), df)
      fn match {
        case "count" if args.isEmpty => count(lit(1))
        case "count" => count(a(0))
        case "countif" => count(when(a(0), 1))
        case "sum" => sum(a(0))
        case "sumif" => sum(when(a(1), a(0)))
        case "avg" => avg(a(0))
        case "avgif" => avg(when(a(1), a(0)))
        case "min" => min(a(0))
        case "minif" => min(when(a(1), a(0)))
        case "max" => max(a(0))
        case "maxif" => max(when(a(1), a(0)))
        case "dcount" =>
          val rsd = if (args.length > 1) accuracyToRsd(arg(1)) else 0.02
          approx_count_distinct(a(0), rsd)
        case "dcountif" => approx_count_distinct(when(a(1), a(0)), 0.02)
        case "count_distinct" => count_distinct(a(0))
        case "count_distinctif" => count_distinct(when(a(1), a(0)))
        case "percentile" =>
          call_function("percentile", a(0), percentAsFraction(arg(1), df))
        case "percentile_approx" =>
          percentile_approx(a(0), percentAsFraction(arg(1), df), lit(10000))
        case "take_any" | "any" => first(a(0), ignoreNulls = true)
        case "take_anyif" | "anyif" => first(when(a(1), a(0)), ignoreNulls = true)
        case "make_list" if args.length == 1 => collect_list(a(0))
        case "make_list" => slice(collect_list(a(0)), 1, staticValue(arg(1), "").asInstanceOf[Long].toInt)
        case "make_set" => array_sort(collect_set(a(0)))
        case "make_list_if" => collect_list(when(a(1), a(0)))
        case "make_set_if" => array_sort(collect_set(when(a(1), a(0))))
        case "stdev" => stddev_samp(a(0))
        case "stdevif" => stddev_samp(when(a(1), a(0)))
        case "stdevp" => stddev_pop(a(0))
        case "variance" => var_samp(a(0))
        case "varianceif" => var_samp(when(a(1), a(0)))
        case "variancep" => var_pop(a(0))
        case "covariance" => covar_samp(a(0), a(1))
        case "covariancep" => covar_pop(a(0), a(1))
        case "covarianceif" =>
          covar_samp(when(a(2), a(0)), when(a(2), a(1)))
        case "make_list_with_nulls" =>
          // collect_list drops nulls; a struct wrapper smuggles them through
          transform(collect_list(struct(a(0).as("v"))), s => s.getField("v"))
        case "percentilew" =>
          Functions.percentileW(a(0), a(1), percentAsFraction(arg(2), df))
        case "binary_all_and" => bit_and(a(0))
        case "binary_all_or" => bit_or(a(0))
        case "binary_all_xor" => bit_xor(a(0))
        case "make_bag" =>
          // deterministic variant of KQL's arbitrary-order bag merge:
          // fold lexicographically-sorted bags, first(=smallest)-wins
          // per key (mergeBags is the scalar bag_merge fold step)
          aggregate(array_sort(collect_list(a(0))), lit("{}"),
            (acc, x) => Functions.mergeBags(acc, x))
        case "make_bag_if" =>
          aggregate(array_sort(collect_list(when(a(1), a(0)))), lit("{}"),
            (acc, x) => Functions.mergeBags(acc, x))
        case "hll" => hll_sketch_agg(a(0))
        // ADX buildschema: minimal schema of a dynamic column — per-row
        // (key, type) extraction (Jackson UDF, Functions.jsonKeyTypesUdf)
        // unioned across the group, rendered once per aggregated row
        case "buildschema" =>
          Functions.schemaFormatUdf(array_sort(array_distinct(
            flatten(collect_list(Functions.jsonKeyTypesUdf(a(0)))))))
        case "hll_merge" => hll_union_agg(a(0))
        case "tdigest" => graft.sketch.TDigest.tdigestAgg(a(0))
        case "tdigest_merge" | "merge_tdigest" =>
          graft.sketch.TDigest.tdigestMergeAgg(a(0))
        case "max_by" => max_by(a(0), a(1))
        case "min_by" => min_by(a(0), a(1))
        case other => throw PlanError(s"unknown aggregate '$other'")
      }
    case other => throw PlanError(s"summarize expects aggregate call, got $other")
  }

  private def accuracyToRsd(e: Expr): Double = e match {
    // KQL dcount accuracy 0..4 → rough rsd mapping
    case Lit(l: Long) => l match {
      case 0 => 0.1; case 1 => 0.02; case 2 => 0.01; case 3 => 0.005; case _ => 0.002
    }
    case _ => 0.02
  }

  private def percentAsFraction(e: Expr, df: DataFrame): Column = e match {
    case Lit(l: Long) => lit(l.toDouble / 100.0)
    case Lit(d: Double) => lit(d / 100.0)
    case other => toCol(other, df) / 100.0
  }

  // =========================================================== make-series
  private def planMakeSeries(df: DataFrame, ms: MakeSeries): DataFrame = {
    val axisName = ms.axis match {
      case Col(n) => resolveName(df, n)
      case _ => throw PlanError("make-series axis must be a column")
    }
    val (fromTs, toTs, stepUs) = (ms.from, ms.to, ms.step) match {
      case (Lit(f: java.sql.Timestamp), Lit(t: java.sql.Timestamp), Lit(Timespan(us))) => (f, t, us)
      case other => throw PlanError(s"make-series needs datetime bounds + timespan step, got $other")
    }
    val byNames = ms.by.zipWithIndex.map { case ((alias, e), i) => alias.getOrElse(byDefaultName(e, i)) }
    val byCols = ms.by.zipWithIndex.map { case ((alias, e), i) =>
      toCol(e, df).as(alias.getOrElse(byDefaultName(e, i))) }
    val aggNames = ms.aggs.zipWithIndex.map { case ((alias, e, _), i) => alias.getOrElse(aggDefaultName(e, i)) }

    val axis = col(axisName)
    val binned = df
      .filter(axis >= lit(fromTs) && axis < lit(toTs))
      .groupBy((byCols :+ timestamp_micros(
        floor(unix_micros(axis) / lit(stepUs.toDouble)).cast("long") * stepUs).as(axisName)): _*)
      .agg(toCol(ms.aggs.head._2, df, agg = true).as(aggNames.head),
        ms.aggs.tail.zip(aggNames.tail).map { case ((_, e, _), n) =>
          toCol(e, df, agg = true).as(n) }: _*)

    // grid: one row per (group, bin); end-exclusive
    val lastBin = fromTs.getTime * 1000 +
      ((toTs.getTime * 1000 - fromTs.getTime * 1000 - 1) / stepUs) * stepUs
    val gridSeq = sequence(lit(fromTs), lit(new java.sql.Timestamp(lastBin / 1000))
      .cast("timestamp"), expr(s"INTERVAL $stepUs MICROSECOND"))
    val groups =
      if (byNames.isEmpty) spark.range(1).select(lit(1).as("__one"))
      else df.select(byCols: _*).distinct()
    val grid = groups.select((groups.columns.map(col) :+ explode(gridSeq).as(axisName)).toSeq: _*)

    val joined = grid.join(binned, (byNames :+ axisName).toSeq, "left")
    val filled = ms.aggs.zip(aggNames).foldLeft(joined) { case (d, ((_, _, dflt), n)) =>
      d.withColumn(n, coalesce(col(n), toCol(dflt, d).cast(d.schema(n).dataType)))
    }

    // per group: sorted struct-collect → parallel arrays (SURVEY §7.4
    // order-sensitive collect rule)
    val packed = struct((col(axisName) +: aggNames.map(col)): _*)
    val gb = if (byNames.isEmpty) filled.groupBy() else filled.groupBy(byNames.map(col): _*)
    val arr = array_sort(collect_list(packed))
    var out = gb.agg(arr.as("__series"))
    out = out.withColumn(axisName, expr(s"transform(__series, x -> x.$axisName)"))
    aggNames.foreach { n =>
      out = out.withColumn(n, expr(s"transform(__series, x -> x.$n)"))
    }
    out.drop("__series")
  }

  // =========================================================== top-nested
  private def planTopNested(df: DataFrame, tn: TopNested): DataFrame = {
    // Each level aggregates the ORIGINAL frame by (parents :+ of) — one
    // full-data pass per level — and the surviving-parent filter is a
    // broadcast semi-join on the SMALL grouped result, never on raw rows.
    //
    // Every level's of-expression is materialized on the raw frame under
    // a collision-proof internal name (__of_key_i__) and ALL grouping /
    // anti / semi joins run on those keys; user-facing of-names appear
    // only in the final rename. Two bugs this prevents: (1) `of
    // bin(v,10) ... by sum(v)` — the of default name IS "v", so naming
    // the key "v" on the raw frame would overwrite the column the
    // by-aggregate reads; (2) aliased/computed parent of-expressions
    // (`of bin(x,10)` as parent) were never materialized on the raw
    // frame, so the `with others` anti-join either failed to resolve or
    // silently matched raw values against binned keys.
    val ofNames = tn.levels.zipWithIndex.map { case (lvl, i) =>
      lvl.of._1.getOrElse(defaultName(lvl.of._2, i)) }
    val keyNames = tn.levels.indices.map(i => s"__of_key_${i}__").toList
    val raw = tn.levels.zipWithIndex.foldLeft(df) { case (d, (lvl, i)) =>
      d.withColumn(keyNames(i), toCol(lvl.of._2, d)) }
    var parents: List[String] = Nil // internal key names of outer levels
    var acc: DataFrame = null
    tn.levels.zipWithIndex.foreach { case (lvl, i) =>
      val keyName = keyNames(i)
      val aggName = lvl.by._1.getOrElse(s"aggregated_${ofNames(i)}")
      var grouped = raw
        .groupBy((parents.map(col) :+ col(keyName)): _*)
        .agg(toCol(lvl.by._2, raw, agg = true).as(aggName))
      if (acc != null)
        grouped = grouped.join(broadcast(acc.select(parents.map(col): _*).distinct()),
          parents.toSeq, "left_semi")
      val w = if (parents.isEmpty) Window.orderBy(orderExpr(col(aggName), lvl.asc), col(keyName).asc)
        else Window.partitionBy(parents.map(col): _*)
          .orderBy(orderExpr(col(aggName), lvl.asc), col(keyName).asc)
      val kept = grouped.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= lvl.n).drop("__rk")
      // `with others = "label"`: one extra row per parent folding the
      // non-top values. The aggregate must run over the RAW excluded rows
      // (anti-joined against the kept keys), not over the per-value
      // aggregates — re-summing per-value results is wrong for any
      // non-additive aggregate (avg, dcount, percentile). The anti/semi
      // joins broadcast the SMALL kept/parent sets against the raw frame,
      // and the raw columns stay intact for the by-aggregate. Last level
      // only: an inner others row would be dropped by the child join.
      val ranked = lvl.others match {
        case None => kept
        case Some(lbl) =>
          if (i != tn.levels.length - 1)
            throw PlanError("top-nested `with others` is supported on the last level")
          val keyCols = parents :+ keyName
          var exclRaw = raw.join(broadcast(kept.select(keyCols.map(col): _*)),
            keyCols.toSeq, "left_anti")
          if (acc != null)
            exclRaw = exclRaw.join(
              broadcast(acc.select(parents.map(col): _*).distinct()),
              parents.toSeq, "left_semi")
          val oRow = (if (parents.isEmpty) exclRaw.groupBy()
                      else exclRaw.groupBy(parents.map(col): _*))
            .agg(toCol(lvl.by._2, exclRaw, agg = true)
              .cast(typeOf(grouped, col(aggName))).as(aggName))
            .withColumn(keyName, lit(lbl))
          kept.unionByName(oRow)
      }
      acc = if (acc == null) ranked else acc.join(ranked, parents.toSeq, "inner")
      parents = parents :+ keyName
    }
    keyNames.zip(ofNames).foldLeft(acc) { case (d, (k, n)) =>
      d.withColumnRenamed(k, n) }
  }

  /** Shared engine of `evaluate autocluster` / `evaluate basket`:
    * common attribute segments = CUBE over the given columns (null =
    * wildcard), kept when coverage ≥ minPercent; the trivial
    * all-wildcard segment is dropped. One partial+final hash aggregate —
    * Catalyst expands the cube map-side; the denominator reuses the
    * cube's own all-wildcard row (no separate count pass). */
  private def cubeSegments(df: DataFrame, names: List[String], minPct: Double): DataFrame = {
    val cubed = df.cube(names.map(col): _*)
      .agg(count(lit(1)).as("count_"), grouping_id().as("__g"))
    val totalRow = cubed.filter(col("__g") === (1L << names.length) - 1)
      .select(col("count_").cast("double").as("__total"))
    cubed.filter(col("__g") < (1L << names.length) - 1).drop("__g")
      .crossJoin(broadcast(totalRow))
      .withColumn("percent", round(col("count_") * 100.0 / col("__total"), 2))
      .filter(col("percent") >= minPct)
      .select((col("count_") +: col("percent") +: names.map(col)): _*)
  }

  /** `evaluate diffpatterns(split, 'A', 'B', minDiffPct, cols...)`:
    * cube segments (conjunctions of column=value, null = wildcard)
    * whose SHARE of the A rows differs from their share of the B rows
    * by ≥ minDiffPct percentage points. Same single-aggregate shape as
    * [[cubeSegments]] — the split membership is two conditional sums
    * computed map-side inside the cube, and both denominators come from
    * the cube's own all-wildcard row. The documented Kusto plugin mines
    * the same segment space with a proprietary significance heuristic;
    * this engine uses the transparent share-difference criterion (the
    * autocluster/basket simplification convention). */
  private def diffPatterns(df: DataFrame, splitName: String, aVal: String,
                           bVal: String, minDiffPct: Double,
                           names: List[String]): DataFrame = {
    val flagged = df
      .withColumn("__inA", when(col(splitName) === aVal, 1L).otherwise(0L))
      .withColumn("__inB", when(col(splitName) === bVal, 1L).otherwise(0L))
    val cubed = flagged.cube(names.map(col): _*)
      .agg(sum(col("__inA")).as("count_a"), sum(col("__inB")).as("count_b"),
        grouping_id().as("__g"))
    val totalRow = cubed.filter(col("__g") === (1L << names.length) - 1)
      .select(col("count_a").cast("double").as("__ta"),
        col("count_b").cast("double").as("__tb"))
    cubed.filter(col("__g") < (1L << names.length) - 1).drop("__g")
      .crossJoin(broadcast(totalRow))
      .withColumn("percent_a", round(col("count_a") * 100.0 / col("__ta"), 2))
      .withColumn("percent_b", round(col("count_b") * 100.0 / col("__tb"), 2))
      .withColumn("percent_diff",
        round(abs(col("count_a") * 100.0 / col("__ta") -
          col("count_b") * 100.0 / col("__tb")), 2))
      .filter(col("percent_diff") >= minDiffPct)
      .select((col("count_a") +: col("count_b") +: col("percent_a") +:
        col("percent_b") +: col("percent_diff") +: names.map(col)): _*)
  }

  /** `evaluate diffpatterns_text(text, split, 'A', 'B', minDiffPct)`:
    * distinct tokens ranked by how much their DOCUMENT-FREQUENCY share
    * differs between the A rows and the B rows. One distinct
    * (row, token) explode → one (token, side) aggregate → percent
    * arithmetic against the two row totals (1-row broadcast) — linear
    * in corpus tokens. Same transparent share-difference criterion as
    * [[diffPatterns]]. */
  private def diffPatternsText(df: DataFrame, textCol: String,
                               splitCol: String, aVal: String, bVal: String,
                               minDiffPct: Double): DataFrame = {
    val side = when(col(splitCol) === aVal, lit("a"))
      .when(col(splitCol) === bVal, lit("b"))
    val rows = df.filter(side.isNotNull)
      .select(side.as("__side"), col(textCol).as("__t"))
    val totals = rows.groupBy("__side").agg(count(lit(1)).as("__n"))
      .groupBy().pivot("__side", Seq("a", "b")).sum("__n")
      .select(coalesce(col("a"), lit(0L)).cast("double").as("__ta"),
        coalesce(col("b"), lit(0L)).cast("double").as("__tb"))
    // array_distinct BEFORE the explode ⇒ counts are document
    // frequencies (one vote per row), not term frequencies
    val toks = rows.select(col("__side"),
        explode(array_distinct(split(lower(coalesce(col("__t"), lit(""))),
          "\\s+"))).as("token"))
      .filter(col("token") =!= "")
    val perTok = toks.groupBy("token").agg(
      sum(when(col("__side") === "a", 1L).otherwise(0L)).as("count_a"),
      sum(when(col("__side") === "b", 1L).otherwise(0L)).as("count_b"))
    perTok.crossJoin(broadcast(totals))
      .withColumn("percent_a", round(col("count_a") * 100.0 / col("__ta"), 2))
      .withColumn("percent_b", round(col("count_b") * 100.0 / col("__tb"), 2))
      .withColumn("percent_diff",
        round(abs(col("count_a") * 100.0 / col("__ta") -
          col("count_b") * 100.0 / col("__tb")), 2))
      .filter(col("percent_diff") >= minDiffPct)
      .select(col("token"), col("count_a"), col("count_b"),
        col("percent_a"), col("percent_b"), col("percent_diff"))
  }

  private def orderExpr(c: Column, asc: Boolean): Column = if (asc) c.asc else c.desc

  // ============================================================== exprs
  private[kql] def typeOf(df: DataFrame, c: Column): DataType =
    try df.select(c).schema.head.dataType
    catch { case _: Throwable => NullType }

  private def resolveName(df: DataFrame, name: String): String =
    resolveName0(df.columns, name)

  private def colNameOf(df: DataFrame, e: Expr, what: String): String = e match {
    case Col(n) => resolveName(df, n)
    case other => throw PlanError(s"$what expects a column, got $other")
  }

  private def resolveName0(cols: Array[String], name: String): String =
    cols.find(_ == name).orElse {
      val ci = cols.filter(_.equalsIgnoreCase(name))
      if (ci.length == 1) Some(ci(0)) else None
    }.getOrElse(throw PlanError(
      s"column '$name' not found${Suggest.hint(name, cols)} " +
        s"(available: [${cols.mkString(", ")}])"))

  private def defaultName(e: Expr, i: Int): String = e match {
    case Col(n) => n
    case PathGet(_, Lit(k: String)) => k
    case App("bin", Col(n) :: _) => n
    case App(_, Col(n) :: _) => n
    case _ => s"Column$i"
  }

  private def byDefaultName(e: Expr, i: Int): String = e match {
    case Col(n) => n
    case App("bin", Col(n) :: _) => n
    case PathGet(_, Lit(k: String)) => k
    case _ => s"Column$i"
  }

  private def aggDefaultName(e: Expr, i: Int): String = e match {
    case App("count", Nil) => "count_"
    case App(fn, Col(n) :: _) => s"${fn}_$n"
    case App(fn, _) => s"${fn}_$i"
    case _ => s"Column$i"
  }

  private def windowSpec(df: DataFrame): org.apache.spark.sql.expressions.WindowSpec = {
    // Residual single-partition path. `extend` and `project` both
    // desugar window functions into the two-phase GlobalWindow, so this
    // is only reachable from other expression contexts (`where`,
    // `summarize` args, sort keys, …). Those plan a ONE-task global
    // Window.orderBy — fine for small frames, a silent stall at scale —
    // so apply the same size guard as the bare-serialize `scan`.
    val maxSerial = spark.conf
      .get("graft.scan.maxSerialBytes", (1L << 30).toString).toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est < BigInt(Long.MaxValue) && est > maxSerial) throw PlanError(
      s"window function outside extend/project plans a single-partition " +
      s"global sort; the input is estimated at $est bytes " +
      s"(> graft.scan.maxSerialBytes=$maxSerial). Move the window " +
      s"function into `extend`/`project` (two-phase, distributed), or " +
      s"raise the limit if the input really is small")
    if (sortCols.nonEmpty) Window.orderBy(sortCols: _*)
    else if (serialized) Window.orderBy(monotonically_increasing_id())
    else throw PlanError("window function requires `serialize` or `sort by` first")
  }

  private val windowFns = Set("row_number", "prev", "next", "row_cumsum",
    "row_rank_dense", "row_rank_min", "ntile", "percent_rank")

  // ---------------------------------------------- scale-safe global windows
  //
  // `extend` assignments containing serialized window functions route
  // through GlobalWindow (two-phase: range partition + per-partition
  // window + broadcast prefix offsets) instead of the single-partition
  // `Window.orderBy(...)` — see GlobalWindow.scala. Consecutive
  // window-bearing assignments batch into ONE two-phase pass.

  private def containsWindowFn(e: Expr): Boolean = e match {
    case App(fn, args) if letFuncs.contains(fn) =>
      val (params, body) = letFuncs(fn)
      params.length == args.length &&
        containsWindowFn(substitute(body, params.zip(args).toMap))
    case App(fn, _) if windowFns(fn) => true
    case other => other.children.exists(containsWindowFn)
  }

  private def referencesAny(e: Expr, names: Set[String]): Boolean = e match {
    case Col(n) => names.contains(n)
    case other => other.children.exists(referencesAny(_, names))
  }

  private def applyExtend(df0: DataFrame, items: List[(Option[String], Expr)]): DataFrame = {
    var d = df0
    val arr = items.zipWithIndex.map { case ((alias, e), i) =>
      (alias.getOrElse(defaultName(e, i)), e)
    }.toArray
    var idx = 0
    while (idx < arr.length) {
      val (name, e) = arr(idx)
      e match {
        case App("row_window_session", tsE :: rest) =>
          d = planRowWindowSession(d, name, tsE, rest)
          idx += 1
        case _ if containsWindowFn(e) =>
          val run = scala.collection.mutable.ArrayBuffer[(String, Expr)]((name, e))
          var j = idx + 1
          var stop = false
          while (j < arr.length && !stop) {
            val (nm2, e2) = arr(j)
            val isSess = e2 match {
              case App("row_window_session", _) => true; case _ => false
            }
            // batch only consecutive window assignments that do not read a
            // name defined earlier in the same batch
            if (!containsWindowFn(e2) || isSess ||
                referencesAny(e2, run.map(_._1).toSet)) stop = true
            else { run += ((nm2, e2)); j += 1 }
          }
          d = applyWindowRun(d, run.toList)
          idx = j
        case _ =>
          d = d.withColumn(name, toCol(e, d))
          idx += 1
      }
    }
    d
  }

  private def applyWindowRun(d0: DataFrame, run: List[(String, Expr)]): DataFrame = {
    val calls = scala.collection.mutable.ArrayBuffer[GlobalWindow.Call]()
    val rewritten = run.map { case (nm, e) => (nm, rewriteWindows(e, d0, calls)) }
    val (dPrep, ordered, keys, preRanged) = windowInputs(d0)
    var out = GlobalWindow.compute(dPrep, ordered, keys, calls.toList, preRanged)
    rewritten.foreach { case (nm, re) => out = out.withColumn(nm, toCol(re, out)) }
    out = out.drop(calls.map(_.out).toSeq: _*)
    restoreSerializedOrder(out)
  }

  /** Two stacked global passes (flag → running group id), then the
    * session start is an ordinary hash-partitioned per-group min.
    * Signature: row_window_session(ts, maxDuration, idleTimeout); only
    * the idle gap drives splitting (maxDuration not enforced). */
  private def planRowWindowSession(d0: DataFrame, name: String, tsE: Expr,
                                   rest: List[Expr]): DataFrame = {
    val spans = rest.collect { case Lit(Timespan(us)) => us }
    val idleUs = spans.drop(1).headOption.orElse(spans.headOption)
      .getOrElse(throw PlanError("row_window_session needs an idle timespan"))
    val (dp1, ord1, keys1, pr1) = windowInputs(d0)
    var t = GlobalWindow.compute(dp1, ord1, keys1,
      Seq(GlobalWindow.Lag("__gw_prev", toCol(tsE, dp1), 1, None)), pr1)
    rangeLayout = false // two-phase output is hash-on-pid laid out
    val ts1 = toCol(tsE, t)
    t = t.withColumn("__gw_flag",
      when(col("__gw_prev").isNull ||
        unix_micros(ts1) - unix_micros(col("__gw_prev")) > idleUs, 1L).otherwise(0L))
    val (dp2, ord2, keys2, pr2) = windowInputs(t)
    t = GlobalWindow.compute(dp2, ord2, keys2,
      Seq(GlobalWindow.CumSum("__gw_sess", col("__gw_flag"))), pr2)
    val wg = Window.partitionBy(col("__gw_sess"))
    t = t.withColumn(name, min(toCol(tsE, t)).over(wg))
      .drop("__gw_prev", "__gw_flag", "__gw_sess")
    restoreSerializedOrder(t)
  }

  /** Order/keys/layout inputs for a two-phase pass. Without `sort by`
    * (bare `serialize`), the order is a materialized
    * monotonically_increasing_id — partition-contiguous by construction,
    * so the current layout counts as pre-ranged on first use. */
  private def windowInputs(d: DataFrame): (DataFrame, Seq[Column], Seq[Column], Boolean) = {
    if (sortCols.nonEmpty) (d, sortCols, sortKeys, rangeLayout)
    else if (serialized) {
      if (d.columns.contains("__gw_ord"))
        (d, Seq(col("__gw_ord").asc), Seq(col("__gw_ord")), false)
      else
        (d.withColumn("__gw_ord", monotonically_increasing_id()),
          Seq(col("__gw_ord").asc), Seq(col("__gw_ord")), true)
    }
    else throw PlanError("window function requires `serialize` or `sort by` first")
  }

  /** Re-establish the serialized-order contract after a two-phase pass
    * (subsequent `take`/collect see sorted rows). Catalyst's
    * EliminateSorts removes this sort when a later sort or aggregate
    * supersedes it, so the common pipelines don't pay for it. */
  private def restoreSerializedOrder(out0: DataFrame): DataFrame = {
    var out = out0
    if (sortCols.nonEmpty) { out = out.orderBy(sortCols: _*); rangeLayout = true }
    else { out = out.orderBy(col("__gw_ord").asc); rangeLayout = false }
    if (out.columns.contains("__gw_ord")) out.drop("__gw_ord") else out
  }

  /** Replace window-function subtrees with references to GlobalWindow
    * output columns, recording the calls to compute. */
  private def rewriteWindows(e: Expr, d: DataFrame,
      calls: scala.collection.mutable.ArrayBuffer[GlobalWindow.Call]): Expr = e match {
    case App(fn, args) if letFuncs.contains(fn) =>
      val (params, body) = letFuncs(fn)
      if (params.length != args.length)
        throw PlanError(s"function '$fn' expects ${params.length} args, got ${args.length}")
      rewriteWindows(substitute(body, params.zip(args).toMap), d, calls)
    case App(fn, args) if windowFns(fn) =>
      if (args.exists(containsWindowFn))
        throw PlanError(s"nested window functions are not supported ($fn)")
      val out = s"__gwv${calls.length}"
      fn match {
        case "row_number" =>
          calls += GlobalWindow.RowNumber(out, args.headOption.map(a => toCol(a, d)))
        case "prev" | "next" =>
          val n = if (args.length > 1) staticValue(args(1), "").asInstanceOf[Long].toInt else 1
          val dflt = if (args.length > 2) Some(lit(staticValue(args(2), ""))) else None
          val a0 = toCol(argAt(fn, args, 0), d)
          calls += (if (fn == "prev") GlobalWindow.Lag(out, a0, n, dflt)
                    else GlobalWindow.Lead(out, a0, n, dflt))
        case "row_cumsum" => calls += GlobalWindow.CumSum(out, toCol(argAt(fn, args, 0), d))
        case "row_rank_min" => calls += GlobalWindow.RankMin(out)
        case "row_rank_dense" => calls += GlobalWindow.DenseRank(out)
        case "percent_rank" => calls += GlobalWindow.PercentRank(out)
        case "ntile" =>
          calls += GlobalWindow.NTile(out,
            staticValue(argAt(fn, args, 0), "").asInstanceOf[Long].toInt)
        case other => throw PlanError(s"unsupported window function '$other'")
      }
      Col(out)
    case other => other.mapChildren(rewriteWindows(_, d, calls))
  }

  private[kql] def toCol(e: Expr, df: DataFrame): Column = toCol(e, df, agg = false)

  private[kql] def toCol(e: Expr, df: DataFrame, agg: Boolean): Column = e match {
    case Lit(Timespan(us)) => lit(us)
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case Star() => col("*")
    case Col(name) =>
      if (letScalars.contains(name)) toCol(letScalars(name), df)
      else col(resolveName(df, name))

    case BinOp(op, l, r) => planBinOp(op, l, r, df, agg)
    case UnOp("-", inner) => negate(toCol(inner, df, agg))
    case UnOp("not", inner) => !toCol(inner, df, agg)
    case UnOp(op, _) => throw PlanError(s"unknown unary op '$op'")

    case PathGet(base, key) =>
      val b = toCol(base, df)
      typeOf(df, b) match {
        case StringType => key match {
          case Lit(k: String) => get_json_object(b, s"$$.$k")
          case Lit(i: Long) => get_json_object(b, s"$$[$i]")
          case other => throw PlanError(s"dynamic access needs literal key, got $other")
        }
        case _: ArrayType => element_at(b, toCol(key, df).cast("int") + 1)
        case _: MapType => element_at(b, toCol(key, df))
        case _: StructType => key match {
          case Lit(k: String) => b.getField(k)
          case other => throw PlanError(s"struct access needs literal key, got $other")
        }
        case t => throw PlanError(s"cannot index into $t")
      }

    case ToScalar(q) =>
      // evaluated eagerly at plan time (KQL toscalar semantics); the
      // subquery must reduce to one row — a driver-side scalar, by design
      val row = plan(q).limit(1).collect()
      if (row.isEmpty) lit(null) else lit(row.head.get(0))

    case InList(e2, values, negated, ci) =>
      val c = toCol(e2, df)
      val base =
        if (ci) lower(c).isin(values.map {
          case Lit(s: String) => s.toLowerCase
          case other => throw PlanError(s"in~ needs string literals, got $other")
        }: _*)
        else c.isin(values.map {
          case Lit(Timespan(us)) => us
          case Lit(v) => v
          case other => throw PlanError(s"in() needs literals, got $other")
        }: _*)
      if (negated) !base else base

    case BetweenOp(e2, lo, hi, negated) =>
      val c = toCol(e2, df)
      val base = c >= toCol(lo, df) && c <= toCol(hi, df)
      if (negated) !base else base

    case App(fn, args) =>
      if (letFuncs.contains(fn)) {
        val (params, body) = letFuncs(fn)
        if (params.length != args.length)
          throw PlanError(s"function '$fn' expects ${params.length} args, got ${args.length}")
        toCol(substitute(body, params.zip(args).toMap), df, agg)
      }
      else if (agg && aggFns.contains(fn)) planAgg(e, df)
      else planApp(fn, args, df, agg)
  }

  private val aggFns: Set[String] = Set("count", "countif", "sum", "sumif",
    "avg", "avgif", "min", "minif", "max", "maxif", "dcount", "dcountif",
    "count_distinct", "count_distinctif", "percentile", "percentile_approx",
    "percentilew", "take_any", "any", "take_anyif", "anyif",
    "make_list", "make_set", "make_list_if", "make_set_if",
    "make_list_with_nulls", "make_bag", "make_bag_if",
    "stdev", "stdevif", "stdevp", "variance", "varianceif", "variancep",
    "covariance", "covariancep", "covarianceif", "binary_all_and",
    "binary_all_or", "binary_all_xor", "hll", "hll_merge", "tdigest",
    "tdigest_merge", "merge_tdigest", "max_by", "min_by", "arg_max",
    "arg_min", "buildschema")

  private def isIntegral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def planBinOp(op: String, l: Expr, r: Expr, df: DataFrame, agg: Boolean = false): Column = {
    lazy val lc = toCol(l, df, agg)
    lazy val rc = toCol(r, df, agg)
    lazy val lt = typeOf(df, lc)
    lazy val rt = typeOf(df, rc)
    op match {
      case "+" | "-" =>
        (lt, l, r) match {
          case (TimestampType, _, Lit(Timespan(us))) =>
            timestamp_micros(if (op == "+") unix_micros(lc) + us else unix_micros(lc) - us)
          case (TimestampType, _, _) if rt == TimestampType && op == "-" =>
            unix_micros(lc) - unix_micros(rc) // KQL timespan == µs long here
          case (TimestampType, _, _) if isIntegral(rt) =>
            timestamp_micros(if (op == "+") unix_micros(lc) + rc else unix_micros(lc) - rc)
          case _ if rt == TimestampType && op == "+" =>
            timestamp_micros(unix_micros(rc) + lc)
          case _ => if (op == "+") lc + rc else lc - rc
        }
      case "*" => lc * rc
      case "/" =>
        if (isIntegral(lt) && isIntegral(rt)) (lc.cast("double") / rc).cast("long")
        else lc / rc
      case "%" => lc % rc
      case "==" => lc === rc
      case "!=" => lc =!= rc
      case "<" => lc < rc
      case "<=" => lc <= rc
      case ">" => lc > rc
      case ">=" => lc >= rc
      case "=~" => lower(lc) === lower(rc)
      case "!~" => lower(lc) =!= lower(rc)
      case "and" => lc && rc
      case "or" => lc || rc
      // ---- string predicate operators; KQL default = case-INsensitive
      case "contains" => lower(lc).contains(lower(rc))
      case "contains_cs" => lc.contains(rc)
      case "startswith" => lower(lc).startsWith(lower(rc))
      case "startswith_cs" => lc.startsWith(rc)
      case "endswith" => lower(lc).endsWith(lower(rc))
      case "endswith_cs" => lc.endsWith(rc)
      case "has" => hasTerm(lc, r, df, cs = false)
      case "has_cs" => hasTerm(lc, r, df, cs = true)
      case "hasprefix" => r match {
        case Lit(s: String) => lc.rlike("(?i)\\b" + Functions.rxQuote(s))
        case _ => lower(lc).contains(lower(rc))
      }
      case "hassuffix" => r match {
        case Lit(s: String) => lc.rlike("(?i)" + Functions.rxQuote(s) + "\\b")
        case _ => lower(lc).contains(lower(rc))
      }
      case "matches" => r match {
        case Lit(s: String) => lc.rlike(s)
        case _ => throw PlanError("matches regex needs a literal pattern")
      }
      case other => throw PlanError(s"unknown binary op '$other'")
    }
  }

  /** KQL `has`: whole-term match, case-insensitive by default. */
  private def hasTerm(c: Column, term: Expr, df: DataFrame, cs: Boolean): Column = term match {
    case Lit(s: String) =>
      val flags = if (cs) "" else "(?i)"
      c.rlike(flags + "\\b" + Functions.rxQuote(s) + "\\b")
    case other =>
      val t = toCol(other, df)
      if (cs) c.contains(t) else lower(c).contains(lower(t))
  }

  private def litString(e: Expr, what: String): String = e match {
    case Lit(s: String) => s
    case other => throw PlanError(s"$what requires a string literal, got $other")
  }

  /** Argument `i` (0-based) of a call to `fn`; a call that is short of
    * it is a PlanError naming the function and the 1-based position. */
  private def argAt(fn: String, args: List[Expr], i: Int): Expr =
    args.lift(i).getOrElse(throw PlanError(s"function '$fn' is missing argument ${i + 1}"))

  private def planApp(fn: String, args: List[Expr], df: DataFrame, agg: Boolean = false): Column = {
    def arg(i: Int): Expr = argAt(fn, args, i)
    def a(i: Int): Column = toCol(arg(i), df, agg)
    fn match {
      // ---------------------------------------------------- conditionals
      case "iff" | "iif" => when(a(0), a(1)).otherwise(a(2))
      // plan-time schema probe: the column reference if it resolves,
      // else the fallback expression (KQL column_ifexists)
      case "column_ifexists" =>
        args match {
          case Lit(name: String) :: fallback :: Nil =>
            if (df.columns.exists(_.equalsIgnoreCase(name)))
              col(resolveName(df, name))
            else toCol(fallback, df, agg)
          case _ =>
            throw PlanError("column_ifexists needs ('name', fallbackExpr)")
        }
      case "case" =>
        val pairs = args.dropRight(1).grouped(2).toList
        val dflt = toCol(args.lastOption.getOrElse(arg(0)), df, agg)
        pairs.foldRight(dflt) { case (List(p, v), acc) =>
          when(toCol(p, df, agg), toCol(v, df, agg)).otherwise(acc)
        }
      // ------------------------------------------------------------- bin
      case "bin" | "floor" if args.length == 2 => planBin(arg(0), arg(1), df)
      case "bin_at" if args.length == 3 =>
        // bin_at(x, size, fixedPoint): bins aligned to fixedPoint
        (typeOf(df, a(0)), arg(1), arg(2)) match {
          case (TimestampType, Lit(Timespan(us)), Lit(fp: java.sql.Timestamp)) =>
            val fpUs = fp.getTime * 1000
            timestamp_micros(floor((unix_micros(a(0)) - fpUs) / lit(us.toDouble)).cast("long") * us + fpUs)
          case (t, _, _) if isIntegral(t) && isIntegral(typeOf(df, a(1))) &&
              isIntegral(typeOf(df, a(2))) =>
            // all-integer axis: exact integer math (double floor would
            // misbin beyond 2^53 — 64-bit ids, nanosecond epochs)
            val off = a(0).cast("long") - a(2).cast("long")
            (off - pmod(off, a(1).cast("long")) + a(2).cast("long")).cast("long")
          case (t, _, _) if isIntegral(t) || t == DoubleType ||
              t.isInstanceOf[DecimalType] =>
            // fractional size/alignment on any numeric axis: double
            // floor (exact below 2^53, and a fractional size would be
            // silently truncated by the integer path)
            floor((a(0) - a(2)) / a(1)) * a(1) + a(2)
          case _ => throw PlanError("bin_at supports datetime or numeric axes")
        }
      // -------------------------------------------------------- datetime
      case "ago" => arg(0) match {
        case Lit(Timespan(us)) => timestamp_micros(unix_micros(current_timestamp()) - us)
        case _ => throw PlanError("ago() needs a timespan literal")
      }
      case "datetime_add" =>
        val part = litString(arg(0), "datetime_add part").toLowerCase
        val amount = a(1); val ts = a(2)
        part match {
          case "year" => add_months(ts, amount * 12).cast("timestamp")
          case "quarter" => add_months(ts, amount * 3).cast("timestamp")
          case "month" => add_months(ts, amount).cast("timestamp")
          case "week" => timestamp_micros(unix_micros(ts) + amount.cast("long") * 604800000000L)
          case "day" => timestamp_micros(unix_micros(ts) + amount.cast("long") * 86400000000L)
          case "hour" => timestamp_micros(unix_micros(ts) + amount.cast("long") * 3600000000L)
          case "minute" => timestamp_micros(unix_micros(ts) + amount.cast("long") * 60000000L)
          case "second" => timestamp_micros(unix_micros(ts) + amount.cast("long") * 1000000L)
          case other => throw PlanError(s"datetime_add part '$other'")
        }
      case "datetime_diff" =>
        // boundary-crossing count (KQL semantics): diff of truncated values
        val part = litString(arg(0), "datetime_diff part").toLowerCase
        val d1 = a(1); val d2 = a(2)
        part match {
          case "year" => (year(d1) - year(d2)).cast("long")
          case "quarter" => ((year(d1) * 4 + quarter(d1)) - (year(d2) * 4 + quarter(d2))).cast("long")
          case "month" => ((year(d1) * 12 + month(d1)) - (year(d2) * 12 + month(d2))).cast("long")
          case "week" => ((unix_micros(date_trunc("week", d1)) - unix_micros(date_trunc("week", d2))) / 604800000000L).cast("long")
          case "day" => ((unix_micros(date_trunc("day", d1)) - unix_micros(date_trunc("day", d2))) / 86400000000L).cast("long")
          case "hour" => ((unix_micros(date_trunc("hour", d1)) - unix_micros(date_trunc("hour", d2))) / 3600000000L).cast("long")
          case "minute" => ((unix_micros(date_trunc("minute", d1)) - unix_micros(date_trunc("minute", d2))) / 60000000L).cast("long")
          case "second" => ((unix_micros(date_trunc("second", d1)) - unix_micros(date_trunc("second", d2))) / 1000000L).cast("long")
          case other => throw PlanError(s"datetime_diff part '$other'")
        }
      case "format_datetime" =>
        date_format(a(0), translateDatePattern(litString(arg(1), "format_datetime pattern")))
      case "has_any" => args.tail.map(t => hasTerm(a(0), t, df, cs = false)).reduce(_ || _)
      case "has_all" => args.tail.map(t => hasTerm(a(0), t, df, cs = false)).reduce(_ && _)
      // sequential pairwise replacement over lookup/rewrite arrays
      // (dynamic literals arrive as JSON strings); mismatched lengths
      // -> null (KQL raises)
      case "replace_strings" if args.length == 3 =>
        def arr(c: Column): Column = typeOf(df, c) match {
          case StringType => from_json(c, ArrayType(StringType))
          case _: ArrayType => c.cast("array<string>")
          case _ => lit(null).cast("array<string>")
        }
        val t = a(0).cast("string")
        val lc = arr(a(1)); val rc = arr(a(2))
        when(lc.isNull || rc.isNull || size(lc) =!= size(rc),
          lit(null).cast("string"))
          .when(size(lc) === 0, t) // sequence(1, 0) DESCENDS, guard first
          .otherwise(aggregate(sequence(lit(1), size(lc)), t,
            (acc, i) => replace(acc, element_at(lc, i), element_at(rc, i))))
      // 0-based index of the FIRST matching term, -1 when none matches
      case "has_any_index" =>
        args.tail.map(t => hasTerm(a(0), t, df, cs = false)).zipWithIndex
          .foldRight(lit(-1L)) { case ((m, i), acc) =>
            when(m, lit(i.toLong)).otherwise(acc) }
      // bin_auto(x): bin size (and optional alignment point) come from
      // the canonical let bindings, per the KQL contract
      case "bin_auto" if args.length == 1 =>
        val sizeE = letScalars.getOrElse("query_bin_auto_size",
          throw PlanError(
            "bin_auto(x) requires 'let query_bin_auto_size = <size>;'"))
        letScalars.get("query_bin_auto_minimum") match {
          case Some(minE) => planApp("bin_at", List(arg(0), sizeE, minE), df, agg)
          case None => planApp("bin", List(arg(0), sizeE), df, agg)
        }
      // each arg is a codepoint or a codepoint array — needs arg types
      case "unicode_codepoints_to_string" =>
        val parts = args.map { e =>
          val c = toCol(e, df)
          typeOf(df, c) match {
            case _: ArrayType => Functions.codepointsTo(c.cast("array<long>"))
            case _ => Functions.codepointsTo(array(c.cast("long")))
          }
        }
        // concat_ws silently skips nulls; an invalid code point must
        // null the WHOLE result, not vanish from it (foldLeft: the
        // zero-arg call reduces over an empty list and returns '')
        when(parts.map(_.isNull).foldLeft(lit(false))(_ || _),
          lit(null).cast("string"))
          .otherwise(concat_ws("", parts: _*))
      case "datetime_part" =>
        (litString(arg(0), "datetime_part part").toLowerCase match {
          case "year" => year(a(1))
          case "quarter" => quarter(a(1))
          case "month" => month(a(1))
          case "week" | "week_of_year" => weekofyear(a(1))
          case "day" => dayofmonth(a(1))
          case "dayofyear" => dayofyear(a(1))
          case "hour" => hour(a(1))
          case "minute" => minute(a(1))
          case "second" => second(a(1))
          case "millisecond" => (unix_micros(a(1)) % 1000000L) / 1000L
          case "microsecond" => unix_micros(a(1)) % 1000000L
          case other => throw PlanError(s"datetime_part: unsupported part '$other'")
        }).cast("long")
      case "format_timespan" =>
        // timespan is µs (SURVEY §1.2); supported patterns cover the KQL
        // doc examples: d, dd, h/hh, m/mm, s/ss (longer runs zero-pad)
        val us = a(0).cast("long")
        val fmt = litString(arg(1), "format_timespan pattern")
        val parts = "(d+|h+|m+|s+)".r
        val pieces = scala.collection.mutable.ListBuffer[Column]()
        var rest = fmt
        while (rest.nonEmpty) {
          parts.findPrefixOf(rest) match {
            case Some(run) =>
              // Column./ is double division — keep the fields integral
              val v = (run.head match {
                case 'd' => floor(us / 86400000000L)
                case 'h' => floor((us % 86400000000L) / 3600000000L)
                case 'm' => floor((us % 3600000000L) / 60000000L)
                case 's' => floor((us % 60000000L) / 1000000L)
              }).cast("long")
              // lpad truncates over-long values; keep them whole instead
              val s = v.cast("string")
              pieces += when(length(s) >= run.length, s)
                .otherwise(lpad(s, run.length, "0"))
              rest = rest.drop(run.length)
            case None =>
              pieces += lit(rest.head.toString)
              rest = rest.tail
          }
        }
        concat(pieces.toSeq: _*)
      case "totimespan" => arg(0) match {
        case Lit(s: String) => lit(Literals.parseTimespan(s).micros)
        case Lit(Timespan(us)) => lit(us)
        case _ => a(0).cast("long")
      }
      case "make_timespan" =>
        // make_timespan(hour, minute[, second]) → µs
        val h = a(0).cast("long") * 3600000000L
        val m = a(1).cast("long") * 60000000L
        val s = if (args.length > 2) (a(2).cast("double") * 1e6).cast("long") else lit(0L)
        h + m + s
      // ---------------------------------------------------------- string
      case "substring" =>
        val src = a(0)
        val start = a(1).cast("int") + 1 // KQL 0-based → Spark 1-based
        if (args.length > 2) src.substr(start, a(2).cast("int"))
        else src.substr(start, lit(Int.MaxValue))
      case "split" =>
        val delim = Functions.rxQuote(litString(arg(1), "split delimiter"))
        val arr = split(a(0), delim, -1)
        if (args.length > 2) element_at(arr, a(2).cast("int") + 1)
        else arr
      // full-arg indexof(source, lookup, start, length, occurrence) —
      // the 2-arg fast path lives in the registry. Search window =
      // source[start, start+length); position of the nth occurrence is
      // recovered from the split-part lengths (literal lookup required
      // for the regex split)
      case "indexof" if args.length > 2 =>
        val lookup = litString(arg(1), "indexof lookup (literal for 3+ args)")
        val start = a(2).cast("int")
        val len =
          if (args.length > 3) when(a(3).cast("int") < 0, lit(Int.MaxValue))
            .otherwise(a(3).cast("int"))
          else lit(Int.MaxValue)
        val occ = if (args.length > 4) a(4).cast("int") else lit(1)
        val window = a(0).substr(start + 1, len)
        val parts = split(window, Functions.rxQuote(lookup), -1)
        val found = size(parts) > occ
        val prefix = aggregate(slice(parts, lit(1), occ), lit(0L),
          (acc, p) => acc + length(p)) + (occ - 1).cast("long") * lookup.length
        when(start < 0, lit(-1L))
          .when(found, (prefix + start.cast("long")).cast("long"))
          .otherwise(lit(-1L))
      case "trim" => regexpTrim(a(1), litString(arg(0), "trim regex"), both = true, start = false)
      case "trim_start" => regexpTrim(a(1), litString(arg(0), "trim regex"), both = false, start = true)
      case "trim_end" => regexpTrim(a(1), litString(arg(0), "trim regex"), both = false, start = false)
      case "replace_string" => call_function("replace", a(0), a(1), a(2))
      case "translate" =>
        // KQL arg order is (from, to, source); Spark's is (src, from, to)
        translate(a(2), litString(arg(0), "translate from"),
          litString(arg(1), "translate to"))
      case "extract_json" | "extractjson" =>
        // extract_json("$.path", doc) — JSONPath passes straight through
        get_json_object(a(1), litString(arg(0), "extract_json path"))
      case "replace_regex" => regexp_replace(a(0), litString(arg(1), "replace_regex"), litString(arg(2), "replacement"))
      case "extract" =>
        // extract(regex, captureGroup, source[, typeof])
        val rx = litString(arg(0), "extract regex")
        val grp = arg(1) match { case Lit(l: Long) => l.toInt; case _ => 1 }
        regexp_extract(a(2), rx, grp)
      case "extract_all" =>
        regexp_extract_all(a(1), lit(litString(arg(0), "extract_all regex")), lit(1))
      case "countof" =>
        val needle = arg(1) match {
          case Lit(s: String) =>
            val kind = if (args.length > 2) litString(arg(2), "countof kind") else "normal"
            if (kind == "regex") s else Functions.rxQuote(s)
          case _ => throw PlanError("countof needs literal needle")
        }
        regexp_count(a(0), lit(needle)).cast("long")
      case "pad" | "pad_left" => lpad(a(0), staticValue(arg(1), "").asInstanceOf[Long].toInt,
        if (args.length > 2) litString(arg(2), "pad char") else " ")
      case "pad_right" => rpad(a(0), staticValue(arg(1), "").asInstanceOf[Long].toInt,
        if (args.length > 2) litString(arg(2), "pad char") else " ")
      // ------------------------------------------------------------ math
      case "round" =>
        if (args.length > 1) round(a(0), staticValue(arg(1), "").asInstanceOf[Long].toInt)
        else round(a(0))
      case "rand" => if (args.isEmpty) rand(42) else (rand(42) * a(0).cast("double")).cast("long").cast("double")
      // --------------------------------------------------------- dynamic
      case "pack" | "bag_pack" =>
        val pairs = args.grouped(2).toList.map {
          case List(k, v) => toCol(v, df).as(litString(k, "pack key"))
          case _ => throw PlanError("pack needs key/value pairs")
        }
        to_json(struct(pairs: _*))
      case "pack_all" if args.isEmpty => to_json(struct(df.columns.map(col).toSeq: _*))
      case "pack_dictionary" =>
        val pairs = args.grouped(2).toList.flatMap {
          case List(k, v) => List(lit(litString(k, "key")), toCol(v, df))
          case _ => throw PlanError("pack needs pairs")
        }
        to_json(map(pairs: _*))
      // --------------------------------------------------------- windows
      case "row_number" =>
        val base = row_number().over(windowSpec(df)).cast("long")
        if (args.nonEmpty) base + toCol(arg(0), df) - 1 else base
      case "prev" =>
        val n = if (args.length > 1) staticValue(arg(1), "").asInstanceOf[Long].toInt else 1
        if (args.length > 2) lag(a(0), n, staticValue(arg(2), "")).over(windowSpec(df))
        else lag(a(0), n).over(windowSpec(df))
      case "next" =>
        val n = if (args.length > 1) staticValue(arg(1), "").asInstanceOf[Long].toInt else 1
        if (args.length > 2) lead(a(0), n, staticValue(arg(2), "")).over(windowSpec(df))
        else lead(a(0), n).over(windowSpec(df))
      case "row_cumsum" =>
        sum(a(0)).over(windowSpec(df).rowsBetween(Window.unboundedPreceding, Window.currentRow))
      case "row_rank_min" => rank().over(windowSpec(df)).cast("long")
      case "row_rank_dense" => dense_rank().over(windowSpec(df)).cast("long")
      case "ntile" =>
        val n = staticValue(arg(0), "").asInstanceOf[Long].toInt
        ntile(n).over(windowSpec(df)).cast("long")
      case "percent_rank" => percent_rank().over(windowSpec(df))
      // --------------------------------------------------------- default
      case other =>
        Functions.registry.get(other) match {
          case Some(impl) =>
            impl.applyOrElse(args.map(toCol(_, df, agg)), (_: List[Column]) =>
              throw PlanError(s"function '$other' does not take ${args.length} argument(s)"))
          case None => Suggest.unsupported.get(other) match {
            // declared-out-of-scope KQL functions refuse with the
            // decision and the shipped alternative, not a typo hint
            case Some(why) =>
              throw PlanError(s"unsupported function '$other': $why")
            case None => throw PlanError(s"unknown function '$other'" +
              Suggest.hint(other, Functions.registry.keys))
          }
        }
    }
  }

  /** KQL `scan`: all expression evaluation (step conditions, assignment
    * right-hand sides) is compiled to Catalyst columns up front; the
    * sequential sequence-matching bookkeeping runs in [[ScanExec]].
    * Assignments support `<expr>`, `<var>`, and `<var> + <expr>` forms
    * (covering counters/running aggregates/latching); conditions are row
    * predicates. Under `partition by` the machine is hash-distributed on
    * the key; the bare serialized form runs one ordered partition —
    * scan's own semantics (match ids are then unique per partition key /
    * globally respectively). */
  private def planScan(df: DataFrame, op: ScanOp, partKey: Option[String],
                       partOrder: List[SortKey]): DataFrame = {
    import ScanExec._
    val declared = op.declares
    val declaredNames = declared.map(_._1)
    val declaredSet = declaredNames.toSet
    declaredNames.foreach { n =>
      if (df.columns.exists(_.equalsIgnoreCase(n)))
        throw PlanError(s"scan declare '$n' collides with an input column")
    }
    val declIdx = declaredNames.zipWithIndex.toMap
    val types = declared.map { case (_, t, _) => kqlType(t) }
    val isLong = types.map {
      case LongType | IntegerType => true; case _ => false
    }.toArray

    val nSteps = op.steps.length
    val nVars = declared.length
    val width = df.columns.length
    val condBase = width
    val condCols = op.steps.zipWithIndex.map { case (st, k) =>
      if (referencesAny(st.cond, declaredSet))
        throw PlanError("scan: step conditions may not reference declared variables")
      coalesce(toCol(st.cond, df).cast("boolean"), lit(false)).as(s"__scan_c$k")
    }
    var valIdx = condBase + nSteps
    val assigns = Array.fill(nSteps)(Array.fill[Option[Rhs]](nVars)(None))
    val valCols = scala.collection.mutable.ArrayBuffer[Column]()
    op.steps.zipWithIndex.foreach { case (st, k) =>
      st.assigns.foreach { case (vn, rhs) =>
        val vi = declIdx.getOrElse(vn,
          throw PlanError(s"scan: assignment to undeclared variable '$vn'"))
        def rowValCol(e: Expr): Int = {
          val i = valIdx; valIdx += 1
          valCols += toCol(e, df).cast(types(vi)).as(s"__scan_v$i")
          i
        }
        val spec: Rhs = rhs match {
          case Col(v2) if declIdx.contains(v2) => CarryVar(declIdx(v2))
          case BinOp("+", Col(v2), e) if declIdx.contains(v2) && !referencesAny(e, declaredSet) =>
            AddVar(declIdx(v2), rowValCol(e))
          case BinOp("+", e, Col(v2)) if declIdx.contains(v2) && !referencesAny(e, declaredSet) =>
            AddVar(declIdx(v2), rowValCol(e))
          case e if !referencesAny(e, declaredSet) => SetRow(rowValCol(e))
          case _ => throw PlanError(
            "scan: assignment must be <expr>, <var>, or <var> + <expr>")
        }
        assigns(k)(vi) = Some(spec)
      }
    }
    val projected = df.select(df.columns.map(col).toSeq ++ condCols ++ valCols: _*)
    val defaults: Array[Any] = declared.map { case (_, t, d) => staticValue(d, t) }.toArray
    val outSchema = StructType(
      projected.schema.fields.take(width).toSeq ++
        declared.zip(types).map { case ((n, _, _), t) => StructField(n, t) } ++
        op.matchId.map(m => StructField(m, LongType)).toSeq)

    // Streaming + partition by → arbitrary streaming state: the same
    // step machine through flatMapGroupsWithState, one state entry per
    // key, rows sorted per micro-batch on the declared order columns
    // (appended as extra projected cells — the machine only emits the
    // first `width` input cells, so they never reach the output).
    if (df.isStreaming) {
      val k = partKey.getOrElse(throw PlanError(
        "streaming scan requires `partition by <key>` (bare serialize " +
        "has no global order on an unbounded stream)"))
      val rk = resolveName(df, k)
      val orderCols = partOrder.zipWithIndex.map { case (sk, i) =>
        toCol(sk.e, df).as(s"__scan_o$i") }
      val base = projected.columns.length
      val withOrder = projected.select(
        projected.columns.map(col).toSeq ++ orderCols: _*)
      return ScanExec.runStream(withOrder, outSchema, width, nSteps,
        condBase, assigns.map(_.clone()), defaults, isLong,
        df.columns.indexWhere(_.equalsIgnoreCase(rk)), op.matchId.isDefined,
        partOrder.indices.map(base + _).toArray,
        partOrder.map(_.asc).toArray)
    }

    val (arranged, keyIdx) = partKey match {
      case Some(k) =>
        val rk = resolveName(df, k)
        val ordCols = col(rk).asc +: partOrder.map(sk => sortCol(sk, projected))
        (projected.repartition(col(rk)).sortWithinPartitions(ordCols: _*),
          Some(df.columns.indexWhere(_.equalsIgnoreCase(rk))))
      case None =>
        val ordered: Seq[Column] =
          if (sortCols.nonEmpty) sortCols
          else if (serialized) Seq(monotonically_increasing_id().asc)
          else throw PlanError(
            "scan requires `sort by`/`serialize` first (or use it under partition by)")
        // Scale guard: a bare `serialize`/`sort` + `scan` is inherently
        // sequential — ONE partition walks every row. Fine on small
        // inputs, a silent one-core stall over 100 TB. Refuse when the
        // optimizer's size estimate exceeds graft.scan.maxSerialBytes
        // (default 1 GiB) and point at the fully-parallel `partition by`
        // form, which hash-distributes per-key state machines.
        val maxSerial = spark.conf
          .get("graft.scan.maxSerialBytes", (1L << 30).toString).toLong
        val est = projected.queryExecution.optimizedPlan.stats.sizeInBytes
        // ≥ Long.MaxValue means "stats unknown" (spark.sql.defaultSizeInBytes
        // sentinel, possibly inflated by projection ratios) — typical for
        // RDD-backed inline datatables, which are driver-literal small.
        // File-backed tables (the 100 TB case) always have real sizes.
        if (est < BigInt(Long.MaxValue) && est > maxSerial) throw PlanError(
          s"scan without `partition by` is a single-partition sequential " +
          s"operator; the input is estimated at $est bytes " +
          s"(> graft.scan.maxSerialBytes=$maxSerial). Use `scan ... " +
          s"partition by <key>` for a distributed per-key scan, or raise " +
          s"the limit if the input really is small")
        // one ordered partition: the serialized scan IS sequential;
        // coalesce(1) after the sort concatenates range partitions in
        // index order, preserving the total order
        (projected.orderBy(ordered: _*).coalesce(1), None)
    }
    ScanExec.run(arranged, outSchema, width, nSteps, condBase, assigns,
      defaults, isLong, keyIdx, op.matchId.isDefined)
  }

  private def planBin(value: Expr, step: Expr, df: DataFrame): Column = {
    val v = toCol(value, df)
    typeOf(df, v) match {
      case TimestampType =>
        val us = step match {
          case Lit(Timespan(u)) => u
          case Lit(l: Long) => l
          case other => throw PlanError(s"bin step on datetime must be timespan, got $other")
        }
        timestamp_micros(floor(unix_micros(v) / lit(us.toDouble)).cast("long") * us)
      case t if isIntegral(t) =>
        step match {
          case Lit(stepL: Long) => (floor(v.cast("double") / stepL).cast("long") * stepL)
          case Lit(d: Double) => floor(v.cast("double") / d) * d
          case other => throw PlanError(s"bin step must be literal, got $other")
        }
      case _ =>
        val s = step match {
          case Lit(l: Long) => l.toDouble
          case Lit(d: Double) => d
          case other => throw PlanError(s"bin step must be literal, got $other")
        }
        floor(v.cast("double") / s) * s
    }
  }

  private def regexpTrim(c: Column, rx: String, both: Boolean, start: Boolean): Column = {
    val pat =
      if (both) s"^(?:$rx)+|(?:$rx)+$$"
      else if (start) s"^(?:$rx)+"
      else s"(?:$rx)+$$"
    regexp_replace(c, pat, "")
  }

  /** KQL/.NET datetime format → JVM SimpleDateFormat-ish translation. */
  private def translateDatePattern(p: String): String =
    p.replace("fffffff", "SSSSSSS").replace("ffffff", "SSSSSS")
      .replace("fffff", "SSSSS").replace("ffff", "SSSS")
      .replace("fff", "SSS").replace("ff", "SS").replace("f", "S")
      .replace("tt", "a")
}

/** Facade: parse + plan a KQL query text against a catalog (entry E1). */
object Kql {
  def run(spark: SparkSession, query: String, catalog: Catalog): DataFrame =
    new Planner(spark, catalog).planStatements(new Parser(query).parseStatements())

  def run(spark: SparkSession, query: String, dir: String): DataFrame =
    run(spark, query, Catalog(spark, dir))

  /** Multi-result entry for `fork`/`facet` queries: one named DataFrame
    * per branch (single-result queries return the one-entry "result"). */
  def runMulti(spark: SparkSession, query: String, catalog: Catalog): Seq[(String, DataFrame)] =
    new Planner(spark, catalog).planStatementsMulti(new Parser(query).parseStatements())

  def runMulti(spark: SparkSession, query: String, dir: String): Seq[(String, DataFrame)] =
    runMulti(spark, query, Catalog(spark, dir))

  /** Plan KQL text against STREAMING sources: `tables` maps table names
    * to (possibly streaming) DataFrames — e.g. `readStream` outputs,
    * watermarked by the caller. The planner is declarative DataFrame
    * ops, so row-wise operators, joins against static catalog tables,
    * and grouped aggregations compose into a streaming plan the caller
    * finishes with `writeStream` (Structured Streaming decides legality
    * per its output mode). Plan-time-eager operators (toscalar,
    * bag_unpack sampling, materialize) reject streaming inputs
    * naturally. */
  def runStream(spark: SparkSession, query: String, dir: String,
                tables: Map[String, DataFrame]): DataFrame =
    run(spark, query, new Catalog(spark, dir, tables))
}

package graft.kql

/** KQL abstract syntax tree.
  *
  * Built from scratch for the Spark-native engine. The reference repo
  * (yy-database/kql-engine) contains no AST of its own — its entire public
  * API is an error scaffold (reference: projects/kql-core/src/lib.rs:7-9) —
  * so this models the publicly documented Kusto Query Language surface
  * (SURVEY.md §2), scoped to the driver fixtures.
  */
object Ast {

  // ---------------------------------------------------------------- exprs
  sealed trait Expr {
    /** The direct sub-expressions. `ToScalar` is a leaf: its query is
      * planned on its own, never walked as part of the enclosing
      * expression. */
    def children: List[Expr] = this match {
      case App(_, args) => args
      case BinOp(_, l, r) => List(l, r)
      case UnOp(_, x) => List(x)
      case PathGet(b, k) => List(b, k)
      case InList(x, vs, _, _) => x :: vs
      case BetweenOp(x, lo, hi, _) => List(x, lo, hi)
      case _ => Nil
    }
    /** This node with `f` applied to each of its [[children]]. */
    def mapChildren(f: Expr => Expr): Expr = this match {
      case App(fn, args) => App(fn, args.map(f))
      case BinOp(op, l, r) => BinOp(op, f(l), f(r))
      case UnOp(op, x) => UnOp(op, f(x))
      case PathGet(b, k) => PathGet(f(b), f(k))
      case InList(x, vs, n, ci) => InList(f(x), vs.map(f), n, ci)
      case BetweenOp(x, lo, hi, n) => BetweenOp(f(x), f(lo), f(hi), n)
      case leaf => leaf
    }
  }
  /** Literal value. `value` is one of: Long, Double, String, Boolean, null,
    * java.sql.Timestamp (datetime literal), Timespan (timespan literal). */
  final case class Lit(value: Any) extends Expr
  /** Timespan value carried as microseconds (KQL ticks are 100ns; µs is
    * Spark's native timestamp resolution). */
  final case class Timespan(micros: Long)
  final case class Col(name: String) extends Expr
  final case class Star() extends Expr
  final case class App(fn: String, args: List[Expr]) extends Expr
  final case class BinOp(op: String, l: Expr, r: Expr) extends Expr
  final case class UnOp(op: String, e: Expr) extends Expr
  /** d.k / d["k"] — dynamic member access (JSON path step). */
  final case class PathGet(base: Expr, key: Expr) extends Expr
  final case class InList(e: Expr, values: List[Expr], negated: Boolean,
                          caseInsensitive: Boolean) extends Expr
  /** toscalar(tabular) — evaluated eagerly at plan time to a literal. */
  final case class ToScalar(q: Query) extends Expr
  final case class BetweenOp(e: Expr, lo: Expr, hi: Expr, negated: Boolean) extends Expr

  // ------------------------------------------------------------- sort keys
  final case class SortKey(e: Expr, asc: Boolean, nullsFirst: Option[Boolean])

  // ---------------------------------------------------------- tabular ops
  sealed trait TabOp
  final case class Where(pred: Expr) extends TabOp
  /** project items: (alias, expr). Alias None means derive from expr. */
  final case class Project(items: List[(Option[String], Expr)]) extends TabOp
  final case class Extend(items: List[(Option[String], Expr)]) extends TabOp
  final case class ProjectAway(patterns: List[String]) extends TabOp
  final case class ProjectKeep(patterns: List[String]) extends TabOp
  final case class ProjectRename(pairs: List[(String, String)]) extends TabOp // (new, old)
  final case class ProjectReorder(cols: List[String]) extends TabOp
  final case class Summarize(aggs: List[(Option[String], Expr)],
                             by: List[(Option[String], Expr)],
                             hints: Map[String, String] = Map.empty) extends TabOp
  final case class Sort(keys: List[SortKey]) extends TabOp
  final case class Take(n: Long) extends TabOp
  final case class Top(n: Long, keys: List[SortKey]) extends TabOp
  final case class DistinctOp(cols: List[Expr]) extends TabOp // Star() => all
  final case class CountOp() extends TabOp
  final case class JoinOp(kind: String, strategyHint: Option[String],
                          right: Query, keys: List[JoinKey]) extends TabOp
  /** on-key: leftName == rightName (plain `on c` means both sides `c`). */
  final case class JoinKey(left: String, right: String)
  final case class LookupOp(right: Query, keys: List[JoinKey]) extends TabOp
  final case class UnionOp(kind: String, withSource: Option[String],
                           others: List[Query],
                           isFuzzy: Boolean = false) extends TabOp
  final case class MvExpand(cols: List[(Option[String], Expr)],
                            withItemIndex: Option[String]) extends TabOp
  /** mv-apply x on ( subquery-ops ): per-row subtable pipeline. */
  final case class MvApply(item: (Option[String], Expr), ops: List[TabOp]) extends TabOp
  /** `T | mv-combine c1 [, c2 ...]` — inverse of mv-expand: group by all
    * other columns, collect each named column into an array. */
  final case class MvCombine(cols: List[String]) extends TabOp
  /** `T | as name` — bind the intermediate result. */
  final case class AsOp(name: String) extends TabOp
  /** `parse col with "prefix" name:type "sep" ...` compiled to segments. */
  final case class ParseOp(source: Expr, segments: List[ParseSeg],
                           dropNonMatching: Boolean) extends TabOp
  /** parse-kv col as (k1:t1, ...) with (pair_delimiter=' ', kv_delimiter='=') */
  final case class ParseKv(source: Expr, keys: List[(String, String)],
                           pairDelim: String, kvDelim: String) extends TabOp
  sealed trait ParseSeg
  final case class ParseLit(s: String) extends ParseSeg
  final case class ParseCol(name: String, typ: Option[String]) extends ParseSeg
  final case class GetSchemaOp() extends TabOp
  final case class SerializeOp() extends TabOp
  /** `render <chart> [with (...)]` — display directive, data passes through. */
  final case class RenderOp() extends TabOp
  final case class SampleOp(n: Long) extends TabOp
  final case class SampleDistinctOp(n: Long, of: Expr) extends TabOp
  final case class SearchOp(term: String) extends TabOp
  /** `evaluate plugin(args)` — pivot is the supported plugin. */
  final case class EvaluateOp(plugin: String, args: List[Expr]) extends TabOp
  /** `reduce by expr` — pattern-group similar string values. */
  final case class ReduceOp(by: Expr) extends TabOp
  /** `partition by key ( ops )` — per-key-value subpipeline. */
  final case class PartitionOp(key: String, ops: List[TabOp]) extends TabOp
  final case class MakeSeries(aggs: List[(Option[String], Expr, Expr)], // (alias, aggExpr, default)
                              axis: Expr, from: Expr, to: Expr, step: Expr,
                              by: List[(Option[String], Expr)]) extends TabOp
  final case class TopNested(levels: List[TopNestedLevel]) extends TabOp
  final case class TopNestedLevel(n: Long, of: (Option[String], Expr),
                                  by: (Option[String], Expr), asc: Boolean,
                                  others: Option[String] = None)
  final case class InvokeOp(fn: String, args: List[Expr]) extends TabOp
  /** `consume` — execute the pipeline, suppress the result set. */
  final case class ConsumeOp() extends TabOp
  /** `fork name1 = (ops) name2 = (ops)` — fan one input into N branches
    * (multi-result: reachable via Kql.runMulti; plain run rejects it). */
  final case class ForkOp(branches: List[(String, List[TabOp])]) extends TabOp
  /** `facet by c1, c2` — one value-count table per column (multi-result). */
  final case class FacetOp(cols: List[String]) extends TabOp
  /** `scan [with_match_id=m] [declare (v:t=default,...)] with (steps)` —
    * ordered sequence matching with per-sequence state. */
  final case class ScanStep(name: String, cond: Expr, assigns: List[(String, Expr)])
  final case class ScanOp(matchId: Option[String],
                          declares: List[(String, String, Expr)], // (name, type, default)
                          steps: List[ScanStep]) extends TabOp

  // --------------------------------------------------------------- graph
  /** `make-graph srcCol --> dstCol [with NodesTable on keyCol]` */
  final case class MakeGraphOp(src: String, dst: String,
                               nodes: Option[(String, String)]) extends TabOp
  sealed trait PatElem
  final case class PatNode(name: Option[String]) extends PatElem
  /** minHops == maxHops == 1 for a plain `-[e]->` edge; a `*lo..hi`
    * suffix makes it variable-length. `forward` is edge direction
    * relative to the written left→right node order. */
  final case class PatEdge(name: Option[String], forward: Boolean,
                           minHops: Int, maxHops: Int) extends PatElem
  final case class GraphMatchOp(pattern: List[PatElem], where: Option[Expr],
                                project: List[(Option[String], Expr)]) extends TabOp
  final case class GraphShortestPathsOp(pattern: List[PatElem], where: Option[Expr],
                                        project: List[(Option[String], Expr)]) extends TabOp
  final case class GraphToTableOp(what: String) extends TabOp // "nodes" | "edges"
  /** `graph-mark-components [with_component_id = col]` — labels nodes
    * with their connected-component id; the graph stays pending for the
    * next graph consumer (canonically `graph-to-table nodes`). */
  final case class GraphMarkComponentsOp(compCol: String) extends TabOp

  // ------------------------------------------------------------- sources
  sealed trait Source
  final case class TableRef(name: String) extends Source
  /** `cluster('c').database('d').T` / `database('d').T` — ADX
    * cross-database qualifiers. */
  final case class QualifiedTableRef(cluster: Option[String], db: String,
      table: String) extends Source
  final case class MaterializedViewRef(name: String) extends Source
  final case class DataTable(schema: List[(String, String)], rows: List[List[Expr]]) extends Source
  final case class PrintSource(items: List[(Option[String], Expr)]) extends Source
  final case class RangeSource(col: String, from: Expr, to: Expr, step: Expr) extends Source
  /** union as a source: `union T1, T2 | ...` */
  /** `find in (T1, T2, ...) where pred` — cross-table search. */
  final case class FindSource(tables: List[String], pred: Expr) extends Source
  final case class UnionSource(kind: String, withSource: Option[String],
                               tables: List[Query],
                               isFuzzy: Boolean = false) extends Source
  /** `externaldata (schema) ['uri', ...] with (format='csv', ...)` —
    * external files as a typed table (local/file URIs in this env). */
  final case class ExternalData(schema: List[(String, String)], uris: List[String],
                                options: Map[String, String]) extends Source

  // --------------------------------------------------------------- query
  final case class Query(source: Source, ops: List[TabOp])
  /** let name = scalar-expr | let name = (pipeline); then a final query.
    * `funcs` are scalar lambdas; `tabFuncs` are tabular lambdas
    * (tableParam, scalarParams, body) applied with the `invoke` operator. */
  final case class Statements(lets: List[(String, Either[Expr, Query])], query: Query,
                              funcs: Map[String, (List[String], Expr)] = Map.empty,
                              tabFuncs: Map[String, (String, List[String], Query)] = Map.empty,
                              materialized: Set[String] = Set.empty)
}

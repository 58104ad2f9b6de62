package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One aggregate of a materialized view definition.
  *
  * `fn` ∈ count | sum | min | max | avg | dcount | arg_max | arg_min.
  * For arg_max/arg_min, `col` is `"ordCol|valCol"` (the value of valCol
  * on the row where ordCol is largest/smallest; struct-max semantics, so
  * ties on ord break deterministically by value).
  */
final case class MatAgg(fn: String, col: String, alias: String)

/** ADX materialized-view semantics, Spark-native (SURVEY §2.10: a view
  * `Source | summarize <aggs> by <keys>` whose aggregation is kept
  * continuously fresh without rescanning history).
  *
  * The view persists as two catalog tables:
  *   - `<view>_store_c<cursor>` — PARTIAL aggregation states (mergeable,
  *     never finalized at rest: avg keeps (sum, count), dcount keeps an
  *     HLL sketch, arg_max keeps the (ord, val) struct) grouped by the
  *     view keys, valid for source rows with `cursorCol <= cursor`. The
  *     store is VERSIONED by its cursor: a refresh writes a NEW store
  *     table and never overwrites the one readers resolve;
  *   - `<view>_meta` — one row pinning the source table, the derive
  *     expressions, keys, aggregate specs, the cursor high-water mark,
  *     and the store table that cursor is valid for, so a read
  *     reconstructs the view from the store alone. The meta write is
  *     the COMMIT POINT: it always references a store consistent with
  *     its cursor, so a crash anywhere inside refresh leaves the prior
  *     (store, cursor) pair intact and reads exact.
  *
  * `materialized_view('V')` then reads store ∪ partials(delta) merged —
  * the delta being only source rows PAST the cursor, reached through a
  * pushed-down `cursorCol > cursor` scan filter. Query cost is
  * |distinct keys| + |new rows since refresh|, never a history rescan:
  * exactly the ADX materialized-view contract, and the reason the
  * pattern survives 100 TB of history (the store is key-sized; the
  * delta is ingest-sized). `refresh` re-merges at the PARTIAL level and
  * advances the cursor, so avg/dcount/arg_max stay exact across any
  * number of refresh cycles (finalized values would not re-merge).
  *
  * Only mergeable aggregates are accepted — the same restriction ADX
  * imposes on materialized views, and for the same algebraic reason.
  */
object MatViewLayout {

  /** Materialize the view over rows with `cursorCol <= cursor`.
    * `derive` is a list of (name, Spark-SQL expression) columns applied
    * to the source before keys/aggs resolve — recorded in meta so delta
    * re-aggregation replays the exact same derivation. */
  def build(source: DataFrame, view: String, sourceTable: String,
            keys: Seq[String], aggs: Seq[MatAgg], cursorCol: String,
            cursor: Long, derive: Seq[(String, String)] = Nil): Unit = {
    require(keys.nonEmpty, "matview: need at least one group key")
    require(aggs.nonEmpty, "matview: need at least one aggregate")
    aggs.foreach(a => partialExprs(a)) // validate fns eagerly
    val base = applyDerive(source.filter(col(cursorCol) <= cursor), derive)
    val store = base.groupBy(keys.map(col): _*)
      .agg(aggs.flatMap(partialExprs).head,
        aggs.flatMap(partialExprs).tail: _*)
    BucketedLayout.writePlain(store, storeTableName(view, cursor))
    writeMeta(source.sparkSession, view, sourceTable, keys, aggs,
      cursorCol, cursor, derive)
  }

  /** The view's current contents: at-rest store merged with a partial
    * re-aggregation of the delta (source rows past the cursor), then
    * finalized. `resolve` maps the recorded source-table name to its
    * current frame (the planner passes its catalog). */
  def read(spark: SparkSession, view: String,
           resolve: String => DataFrame): DataFrame = {
    val m = readMeta(spark, view)
    finalizeCols(mergedPartials(spark, view, m, resolve), m)
  }

  /** Fold the delta into the store at the PARTIAL level and advance the
    * cursor to `newCursor` — the periodic refresh that keeps the delta
    * small. Reads are exact before, during, and after (the merge is
    * associative on partial states). */
  def refresh(spark: SparkSession, view: String,
              resolve: String => DataFrame, newCursor: Long): Unit = {
    val m = readMeta(spark, view)
    require(newCursor >= m.cursor,
      s"matview refresh: cursor must advance (${m.cursor} -> $newCursor)")
    if (newCursor == m.cursor) return // delta (c, c] is empty by construction
    // merge store + delta rows in (oldCursor, newCursor]
    val merged = mergedPartials(spark, view, m, name =>
      resolve(name).filter(col(m.cursorCol) <= newCursor))
    // commit protocol: write the merged snapshot to a NEW store table
    // keyed by the new cursor, THEN flip the meta pointer. The store
    // readers resolve is never overwritten, so a crash before the meta
    // write leaves (old store, old cursor) — reads stay exact and the
    // next refresh redoes the fold idempotently (a half-written
    // orphan store is unreferenced and overwritten on retry). The
    // directly superseded version is KEPT one refresh longer — an
    // in-flight read that resolved meta before the flip still scans
    // it safely (bounded snapshot isolation) — and the grandparent
    // version is dropped only after this meta commit.
    val newStore = storeTableName(view, newCursor)
    BucketedLayout.writePlain(merged, newStore)
    writeMeta(spark, view, m.sourceTable, m.keys, m.aggs, m.cursorCol,
      newCursor, m.derive, prevStore = m.storeTable)
    if (m.prevStore.nonEmpty && m.prevStore != newStore &&
        m.prevStore != m.storeTable)
      spark.sql(s"DROP TABLE IF EXISTS ${m.prevStore}")
  }

  /** The committed cursor — what the store has folded through. Exposed
    * for maintainers that must validate batch monotonicity BEFORE
    * touching any state (matViewMaintainStream's late-batch guard). */
  def cursorOf(spark: SparkSession, view: String): Long =
    readMeta(spark, view).cursor

  // ------------------------------------------------------------- internals

  private final case class Meta(sourceTable: String, keys: Seq[String],
      aggs: Seq[MatAgg], cursorCol: String, cursor: Long,
      derive: Seq[(String, String)], storeTable: String,
      prevStore: String)

  private def storeTableName(view: String, cursor: Long): String =
    s"${view}_store_c$cursor"

  // unit/record separators — cannot occur in identifiers or the SQL
  // expressions we emit (escape sequences, not literal control bytes,
  // so the file stays text for diff/blame tooling)
  private val Sep = "\u001f"
  private val Rec = "\u001e"

  private def writeMeta(spark: SparkSession, view: String, sourceTable: String,
      keys: Seq[String], aggs: Seq[MatAgg], cursorCol: String, cursor: Long,
      derive: Seq[(String, String)], prevStore: String = ""): Unit = {
    import spark.implicits._
    val df = Seq((sourceTable, keys.mkString(Sep),
      aggs.map(a => s"${a.fn}$Sep${a.col}$Sep${a.alias}").mkString(Rec),
      cursorCol, cursor,
      derive.map { case (n, e) => s"$n$Sep$e" }.mkString(Rec),
      storeTableName(view, cursor), prevStore))
      .toDF("source_table", "keys", "aggs", "cursor_col", "cursor",
        "derive", "store_table", "prev_store")
    BucketedLayout.writePlain(df, s"${view}_meta")
  }

  /** The committed meta row, read through [[AtRest.tableMeta]]: a probe
    * of an unchanged view starts no job for it. */
  private def readMeta(spark: SparkSession, view: String): Meta = {
    val r =
      try AtRest.tableMeta(spark, s"${view}_meta")(_.head)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"unknown materialized view '$view' (no ${view}_meta table)", e)
      }
    Meta(r.getString(0), r.getString(1).split(Sep).toSeq,
      r.getString(2).split(Rec).toSeq.map { s =>
        val p = s.split(Sep, -1); MatAgg(p(0), p(1), p(2))
      },
      r.getString(3), r.getLong(4),
      if (r.getString(5).isEmpty) Nil
      else r.getString(5).split(Rec).toSeq.map { s =>
        val p = s.split(Sep, 2); (p(0), p(1))
      },
      // pre-versioning metas (6 columns) read the unversioned store
      if (r.length > 6) r.getString(6) else s"${view}_store",
      if (r.length > 7) r.getString(7) else "")
  }

  private def applyDerive(df: DataFrame,
      derive: Seq[(String, String)]): DataFrame =
    derive.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }

  /** store ∪ partials(delta beyond cursor), merged per key — partial
    * column names round-trip, so the result can be finalized OR written
    * back as the next store. */
  private def mergedPartials(spark: SparkSession, view: String, m: Meta,
      resolve: String => DataFrame): DataFrame = {
    val store = AtRest.table(spark, m.storeTable)
    val delta = applyDerive(
      resolve(m.sourceTable).filter(col(m.cursorCol) > m.cursor), m.derive)
      .groupBy(m.keys.map(col): _*)
      .agg(m.aggs.flatMap(partialExprs).head,
        m.aggs.flatMap(partialExprs).tail: _*)
    val all = store.unionByName(delta)
    all.groupBy(m.keys.map(col): _*)
      .agg(m.aggs.flatMap(mergeExprs).head,
        m.aggs.flatMap(mergeExprs).tail: _*)
  }

  private def argCols(a: MatAgg): (String, String) = {
    val p = a.col.split('|')
    require(p.length == 2, s"matview ${a.fn}: col must be 'ord|val', got '${a.col}'")
    (p(0), p(1))
  }

  /** First aggregation: source rows → partial states. */
  private def partialExprs(a: MatAgg): Seq[Column] = a.fn match {
    case "count"  => Seq(count(lit(1)).as(s"__p_${a.alias}"))
    case "sum"    => Seq(sum(col(a.col)).as(s"__p_${a.alias}"))
    case "min"    => Seq(min(col(a.col)).as(s"__p_${a.alias}"))
    case "max"    => Seq(max(col(a.col)).as(s"__p_${a.alias}"))
    case "avg"    => Seq(sum(col(a.col)).as(s"__p_${a.alias}_s"),
                         count(col(a.col)).as(s"__p_${a.alias}_c"))
    case "dcount" => Seq(hll_sketch_agg(col(a.col)).as(s"__p_${a.alias}"))
    case "arg_max" =>
      val (o, v) = argCols(a)
      Seq(max(struct(col(o).as("o"), col(v).as("v"))).as(s"__p_${a.alias}"))
    case "arg_min" =>
      val (o, v) = argCols(a)
      Seq(min(struct(col(o).as("o"), col(v).as("v"))).as(s"__p_${a.alias}"))
    case other => throw new IllegalArgumentException(
      s"matview: aggregate '$other' is not mergeable " +
        "(count/sum/min/max/avg/dcount/arg_max/arg_min)")
  }

  /** Re-aggregation of partial states (store ∪ delta) — aliases back to
    * the partial names so the result round-trips into a refresh. */
  private def mergeExprs(a: MatAgg): Seq[Column] = a.fn match {
    case "count" | "sum" => Seq(sum(col(s"__p_${a.alias}")).as(s"__p_${a.alias}"))
    case "min" | "arg_min" => Seq(min(col(s"__p_${a.alias}")).as(s"__p_${a.alias}"))
    case "max" | "arg_max" => Seq(max(col(s"__p_${a.alias}")).as(s"__p_${a.alias}"))
    case "avg"    => Seq(sum(col(s"__p_${a.alias}_s")).as(s"__p_${a.alias}_s"),
                         sum(col(s"__p_${a.alias}_c")).as(s"__p_${a.alias}_c"))
    case "dcount" => Seq(hll_union_agg(col(s"__p_${a.alias}"))
                           .as(s"__p_${a.alias}"))
    case other => throw new IllegalArgumentException(s"matview: '$other'")
  }

  private def finalizeCols(merged: DataFrame, m: Meta): DataFrame =
    merged.select(m.keys.map(col) ++ m.aggs.map { a =>
      a.fn match {
        case "avg" => (col(s"__p_${a.alias}_s").cast("double") /
          col(s"__p_${a.alias}_c")).as(a.alias)
        case "dcount" => hll_sketch_estimate(col(s"__p_${a.alias}")).as(a.alias)
        case "arg_max" | "arg_min" =>
          col(s"__p_${a.alias}").getField("v").as(a.alias)
        case _ => col(s"__p_${a.alias}").as(a.alias)
      }
    }: _*)
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Library integration surface: register graft's codegen expressions as
  * SQL functions via the standard extensions hook, so an embedding
  * application enables them with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * and then `SELECT graft_dot_product(a, b)` works from ANY surface
  * (SQL, thrift, notebooks) — not just through this library's Scala
  * API. The three expressions are the measured hot-path kernels:
  * DotProductD (pairwise double dot product — the llm_semdedup
  * 2.03→1.26 s win over the UDF it replaced), SortedIntersectCount
  * (sorted-array intersection size without materializing the
  * intersection), and AdcScoreD (PQ asymmetric-distance lookup-table
  * scoring). All three implement doGenCode, so they stay inside
  * whole-stage codegen wherever they appear.
  *
  * The hook also adds [[graft.expr.ParamLiterals]], so a query that
  * differs from an earlier one only in the values of its filter and
  * projection literals reuses the earlier query's compiled classes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectColumnar(_ => GraftExtensions.paramLiterals)
  }
}

object GraftExtensions {

  private val paramLiterals = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = graft.expr.ParamLiterals
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  /** The injected function set — shared by the extensions hook and
    * [[registerAll]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot_product"),
      info("graft_dot_product",
        "graft_dot_product(a, b) - exact double dot product of two numeric arrays"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot_product(a, b)")
        graft.expr.DotProductD(children(0), children(1))
      }),
    (FunctionIdentifier("graft_sorted_intersect_count"),
      info("graft_sorted_intersect_count",
        "graft_sorted_intersect_count(a, b) - |a ∩ b| for two SORTED long arrays"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_sorted_intersect_count(a, b)")
        graft.expr.SortedIntersectCount(children(0), children(1))
      }),
    (FunctionIdentifier("graft_adc_score"),
      info("graft_adc_score",
        "graft_adc_score(codes, table, ksub) - PQ asymmetric-distance score"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "graft_adc_score(codes, table, ksub)")
        graft.expr.AdcScoreD(children(0), children(1), children(2))
      }),
    (FunctionIdentifier("graft_sorted_gram_hashes"),
      info("graft_sorted_gram_hashes",
        "graft_sorted_gram_hashes(token_hashes, n) - sorted xxhash64-fold n-gram identities"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_sorted_gram_hashes(token_hashes, n)")
        graft.expr.SortedGramHashes(children(0), children(1))
      }))

  /** Register into an ALREADY-RUNNING session (withExtensions only
    * binds at session build; an embedder holding a live session calls
    * this instead). Idempotent — re-registration overwrites. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}

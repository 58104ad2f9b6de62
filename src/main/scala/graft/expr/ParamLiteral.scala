package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null literal whose generated code does not spell its value.
  *
  * `Literal.doGenCode` writes every boolean, integral, floating, date,
  * time, timestamp and ANSI interval value into the Java source, so two
  * queries that differ only in such a value compile different classes:
  * Spark's codegen cache is keyed by the source, and the new class also
  * starts cold in the JVM interpreter. This expression reads its value
  * once from the plan's `references` array into a field, so the source
  * depends on the literal's type only. It stays foldable, `eval` returns
  * the value, and it prints exactly as the literal it wraps.
  */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Makes the literals of physical filter conditions and projection
  * lists [[ParamLiteral]]s, so two plans that differ only in those
  * values generate the same code and share one compiled class. It runs
  * as a columnar rule's `preColumnarTransitions` (see
  * [[graft.GraftExtensions]]), that is on every plan and every adaptive
  * stage before the codegen stages are collapsed. Scans keep their
  * pushed filters, and aggregates, windows and limits their literals. */
object ParamLiterals extends Rule[SparkPlan] {
  /** A plan whose filters and projections hold more literals than this
    * keeps them all. A field read takes up to three bytes of bytecode
    * more than an inlined constant, and plans with that many literals
    * generate the largest methods: graft's media-header parsers hold 273
    * to 1,546, and `llm_exif_meta`'s stage then outgrows the JVM's 64 KB
    * method limit. A query's own parameters are far fewer. */
  private val maxParams = 128

  /** The types whose values `Literal.doGenCode` writes into the source;
    * every other literal is already a reference. */
  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _: TimeType | _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }

  private val param: PartialFunction[Expression, Expression] = {
    case l @ Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(l)
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    val targets: PartialFunction[SparkPlan, SparkPlan] = { case p @ (_: FilterExec | _: ProjectExec) => p }
    val n = plan.collect(targets).flatMap(_.expressions).map(_.collect(param).size).sum
    if (n > maxParams) plan
    else plan.transformUp(targets.andThen(_.transformExpressions(param)))
  }
}

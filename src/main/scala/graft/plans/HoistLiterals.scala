package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types._

/** A non-null numeric or datetime literal whose generated code reads
  * its value from the class's reference array instead of writing it
  * into the source. Whole-stage codegen keys its compiled-class cache
  * on the source text, so a query shape run again with other numbers
  * reuses the class compiled for it instead of Janino-compiling a new
  * one. Everywhere else it is the `Literal` it replaces: foldable, not
  * nullable, `eval` returns the value, and it prints, renders as SQL
  * and canonicalizes (exchange and subquery reuse) as that literal. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override lazy val canonicalized: Expression = literal.canonicalized

  /** One primitive field, set from the reference array when the
    * generated object initialises its state. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Replaces the inlined literals of the operators a whole-stage
  * codegen pass compiles — `FilterExec`'s condition, `ProjectExec`'s
  * projection and `HashAggregateExec`'s aggregate filters and result
  * expressions — with `HoistedLiteral`s, so one query shape compiles
  * once per JVM whatever numbers it is run with. Types whose
  * `Literal` codegen already reads a reference (strings, decimals)
  * and booleans are left as they are, as are typed NULLs. Scans keep
  * their data and partition filters as planned, since parquet
  * pushdown is translated from those `Literal`s; window frames,
  * limits and the other operators are not touched.
  *
  * Installed by `GraftSession.configure` as a pre-transition columnar
  * rule, which Spark runs before `CollapseCodegenStages` both in the
  * non-adaptive preparations and in every adaptive stage. */
object HoistLiterals extends Rule[SparkPlan] {

  val install: SparkSessionExtensions => Unit =
    _.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
    })

  private def hoistable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hoist(e: Expression): Expression = e.transform {
    case Literal(v, t) if v != null && hoistable(t) => HoistedLiteral(v, t)
  }

  private def hoistNamed(es: Seq[NamedExpression]): Seq[NamedExpression] =
    es.map(hoist(_).asInstanceOf[NamedExpression])

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = hoist(f.condition))
    case p: ProjectExec => p.copy(projectList = hoistNamed(p.projectList))
    case a: HashAggregateExec =>
      a.copy(
        aggregateExpressions =
          a.aggregateExpressions.map(ae => ae.copy(filter = ae.filter.map(hoist))),
        resultExpressions = hoistNamed(a.resultExpressions))
  }
}

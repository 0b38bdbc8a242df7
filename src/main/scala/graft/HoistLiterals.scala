package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose value the generated code reads from a field set from
  * the class's `references`, instead of spelling it into the source.
  * It evaluates, prints and renders as SQL exactly like the `Literal` it
  * replaces; only its generated code differs, and that code is the same
  * for every value of its type. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal: Literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "literal",
      v => s"$v = $ref;", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule: the non-null numeric, date and timestamp literals of
  * every `FilterExec` condition and `ProjectExec` project list become
  * [[HoistedLiteral]]s.
  *
  * Spark spells such literals into whole-stage Java source, and the
  * compiled-class cache is keyed by that source, so a request shape
  * served with fresh values (`block_number BETWEEN a AND b`) compiled
  * its stages again on every request. After this rule one shape
  * compiles once.
  *
  * The scan nodes keep their `Literal`s: a `FileSourceScanExec`'s
  * partition and data filters are what partition pruning and parquet
  * filter pushdown read, and only `Literal`s translate. Plans print as
  * before. [[GraftSession]] injects the rule as a query post-planner
  * strategy rule, which Spark applies when adaptive execution plans a
  * query (every query with an exchange or a subquery) and again on each
  * adaptive re-plan. */
object HoistLiterals extends Rule[SparkPlan] {

  private def hoistable(t: DataType): Boolean = t match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hoist(e: Expression): Expression = e.transform {
    case Literal(v, t) if v != null && hoistable(t) => HoistedLiteral(v, t)
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = hoist(f.condition)
      if (c eq f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val l = p.projectList.map(hoist(_).asInstanceOf[NamedExpression])
      if (l.zip(p.projectList).forall { case (a, b) => a eq b }) p else p.copy(projectList = l)
  }
}

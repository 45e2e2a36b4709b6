package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock,
  ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType,
  ShortType}

/** A comparison bound that reaches generated code as a reference object.
  *
  * Spark inlines a primitive `Literal` into the generated Java
  * (`ts_us >= 1700000000000000L`), so every new bound is new Java text, a
  * new codegen-cache key and a new compile. A string literal does not
  * recompile: it is passed through `ctx.addReferenceObj`. This expression
  * passes a primitive bound the same way and unboxes it once into a field
  * of the generated class, so the Java text is the same whatever the
  * value. The interpreted path returns the value as the literal would.
  */
case class BoundParam(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }

  override def toString: String = s"bound($value)"
}

/** Physical rule: the non-null numeric literal operands of `FilterExec`
  * comparisons become [[BoundParam]]s, so a request that differs from the
  * last only in its bounds (the alert API's `ts_us` range, `user_id`)
  * reuses the last request's generated classes.
  *
  * Only `FilterExec` conditions change. The scan's partition filters,
  * data filters and pushed filters keep their literals (they never reach
  * generated code), and the logical plan, where
  * graft.plans.AlertStorePruning reads the `ts_us` literals, is already
  * optimized by the time this runs. Installed by graft.GraftExtensions
  * through `injectColumnar` as a pre-transition rule: that runs before
  * `CollapseCodegenStages` both in a plan without exchanges, which AQE
  * does not wrap, and in every adaptive query stage.
  */
object BindFilterBounds extends Rule[SparkPlan] {

  private val Bindable: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      }
      if (bound.fastEquals(f.condition)) f else f.copy(condition = bound)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && Bindable(t) => BoundParam(v, t)
    case other => other
  }
}

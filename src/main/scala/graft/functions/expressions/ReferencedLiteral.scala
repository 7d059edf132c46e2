package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/**
 * A constant whose generated code reads its value from the generated
 * class's `references` array instead of inlining it — the way Spark's own
 * `Literal` already handles strings and decimals. Spark inlines numeric,
 * date and timestamp literals into the generated Java, so the same Cypher
 * template run with a new `$k` produces new source text, and whole-stage
 * codegen compiles new classes (2–9 per tpch_read template, 0.04–0.24 s).
 * With the value behind a reference the source text depends only on the
 * template, and Spark's codegen cache (keyed by source) hands back the
 * class compiled for the first value — the reference's query cache keys a
 * compiled plan on parameter types, not values (QueryCache.scala:122).
 *
 * Prints as the literal it replaces, so plan text does not change.
 */
case class ReferencedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(JavaCode.expression(
      s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}

object ReferencedLiteral {
  /** The types whose `Literal` codegen inlines the value. */
  private def inlined(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def referenced(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ReferencedLiteral(v, t)
    case other => other
  }

  /** Rewrites only the direct literal operands of comparisons and `IN`
    * inside a `FilterExec` condition — the parameter slots of a Cypher
    * WHERE or inline property map. Scans keep their own `dataFilters`
    * (parquet pushdown reads real literals); limits, window frames and
    * `rand(seed)` hold their constants outside any filter condition. */
  private object Rewrite extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec =>
        val c = f.condition.transformUp {
          case c: BinaryComparison => c.mapChildren(referenced)
          case i: In               => i.mapChildren(referenced)
        }
        if (c eq f.condition) f else f.copy(condition = c)
    }
  }

  /** SparkSessionExtensions hook (GraftSession wires this in). A columnar
    * rule's pre-transition step runs in both the AQE and the non-AQE
    * preparations, before `CollapseCodegenStages` generates code. */
  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = Rewrite
    })
}

package graft.functions.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/**
 * A scalar Cypher parameter `$name` in a plan template: typed, with no
 * value. The plan cache keeps one analyzed plan per (query, parameter
 * types) with these leaves in it, and [[ParamSlot.bind]] turns them into
 * `Literal`s for each request before Catalyst optimizes — so pushed scan
 * filters, constant folding and `ReferencedLiteral` see real constants.
 *
 * An unbound slot cannot run: evaluating it or generating its code throws
 * (`Unevaluable`), and physical planning refuses a plan that holds one
 * ([[ParamSlot.inject]]).
 */
case class ParamSlot(name: String, dataType: DataType)
    extends LeafExpression with Unevaluable {
  override def nullable: Boolean = false
  override def toString: String = s"$$$name (unbound parameter)"
}

object ParamSlot {
  /** The literal of a scalar parameter value, None for values a slot does
    * not carry (null, lists, maps, temporal values). Cypher integers are
    * 64-bit and floats are doubles. */
  def literal(v: Any): Option[Literal] = v match {
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte) => Some(Literal(n.asInstanceOf[Number].longValue))
    case n @ (_: java.lang.Double | _: java.lang.Float) =>
      Some(Literal(n.asInstanceOf[Number].doubleValue))
    case s: String => Some(Literal(s))
    case b: java.lang.Boolean => Some(Literal(b.booleanValue))
    case _ => None
  }

  /** `plan` with every slot replaced by its value in `params`. */
  def bind(plan: LogicalPlan, params: Map[String, Any]): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case ParamSlot(n, t) => params.get(n).flatMap(literal)
        .filter(_.dataType == t).getOrElse(throw new IllegalArgumentException(
          s"parameter $$$n does not fit its plan slot of type ${t.simpleString}"))
    }

  /** Refuses to plan physically a logical plan that still holds a slot.
    * A plan-time Spark job over a template (a `Placement` probe, the BFS
    * rounds of `shortestPath`, an RDD conversion) then fails at once on the
    * driver, and the Cypher planner plans that query with its values. */
  private object Unbound extends SparkStrategy {
    def apply(p: LogicalPlan): Seq[SparkPlan] =
      p.expressions.flatMap(_.collectFirst { case s: ParamSlot => s }).headOption
        .fold(Seq.empty[SparkPlan])(s =>
          throw new IllegalStateException(s"cannot run a plan that holds $s"))
  }

  /** SparkSessionExtensions hook (GraftSession wires this in). */
  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => Unbound)
}

package graft.plans

import graft.functions.OptimizationBarrier
import graft.relationalize.DecodeTaggedRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** Restores column pruning of the pass-2 payload decode through the
  * [[OptimizationBarrier]], which hides the decode from Spark's own pruning:
  * without this rule a narrow select over a wide relationalized table
  * decodes its FULL field list.
  *
  * For a consumer (Project / Aggregate, optionally over Filters) of a Project
  * defining `r = barrier(`[[graft.relationalize.DecodeTaggedRow]]`(payload))`,
  * it shrinks the decoder's field list to the struct fields the consumer
  * chain extracts and remaps the `GetStructField` ordinals above. Still one
  * decode per payload; idempotent. The routing projection's raise-on-bad-tag
  * guards count as extractions, so frozen-schema errors survive pruning.
  *
  * Window is NOT a consumer: `Window.output` passes the alias through to
  * ancestors whose ordinals this local rewrite cannot see. That costs
  * nothing, as `ExtractWindowExpressions` puts a window's inputs in a
  * pruning Project below it (PlanSpec pins 8 fields for 2 of 50 columns).
  *
  * Runs via `spark.experimental.extraOptimizations` (see
  * [[graft.functions.GraftFunctions.registerAll]]), after ColumnPruning and
  * CollapseProject have narrowed the consumer to the selected columns.
  */
object PruneBarrieredDecode extends Rule[LogicalPlan] {

  private final case class ParseAlias(alias: Alias, barrier: OptimizationBarrier,
                                      parse: DecodeTaggedRow)

  private def parseAliasOf(e: NamedExpression): Option[ParseAlias] = e match {
    case a @ Alias(b @ OptimizationBarrier(d: DecodeTaggedRow), _) =>
      Some(ParseAlias(a, b, d))
    case _ => None
  }

  /** Walk down through Filters to the Project defining parse aliases.
    * Returns (filters outermost-last, defining project).
    */
  private def unwrap(n: LogicalPlan, acc: List[Filter]): Option[(List[Filter], Project)] = n match {
    case f: Filter => unwrap(f.child, f :: acc)
    case p: Project if p.projectList.exists(parseAliasOf(_).isDefined) => Some((acc, p))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case consumer: UnaryNode if consumer.isInstanceOf[Project] ||
        consumer.isInstanceOf[Aggregate] =>
      unwrap(consumer.child, Nil) match {
        case None => consumer
        case Some((filters, defining)) =>
          val consumerExprs: Seq[Expression] =
            consumer.expressions ++ filters.map(_.condition)
          // alias exprId -> (old schema, pruned schema, retyped attribute)
          val rewrites: Map[ExprId, (StructType, StructType, AttributeReference, Alias)] =
            defining.projectList.flatMap(parseAliasOf).flatMap { pa =>
              val id = pa.alias.exprId
              var whole = false
              val needed = scala.collection.mutable.LinkedHashSet.empty[String]
              def scanUses(e: Expression): Unit = e match {
                case GetStructField(ar: AttributeReference, ord, _) if ar.exprId == id =>
                  needed += pa.parse.schema(ord).name
                case ar: AttributeReference if ar.exprId == id => whole = true
                case other => other.children.foreach(scanUses)
              }
              consumerExprs.foreach(scanUses)
              if (whole || needed.isEmpty || needed.size >= pa.parse.schema.length) None
              else {
                val pruned = StructType(pa.parse.schema.fields.filter(f => needed.contains(f.name)))
                val newAlias = Alias(
                  pa.barrier.copy(child = pa.parse.copy(schema = pruned)),
                  pa.alias.name)(pa.alias.exprId, pa.alias.qualifier)
                Some(id -> (pa.parse.schema, pruned,
                  newAlias.toAttribute.asInstanceOf[AttributeReference], newAlias))
              }
            }.toMap
          if (rewrites.isEmpty) consumer
          else {
            val pf: PartialFunction[Expression, Expression] = {
              case GetStructField(ar: AttributeReference, ord, nameOpt)
                  if rewrites.contains(ar.exprId) =>
                val (old, pruned, attr, _) = rewrites(ar.exprId)
                GetStructField(attr, pruned.fieldIndex(old(ord).name), nameOpt)
            }
            def rewrite(e: Expression): Expression = e.transformDown(pf)
            val newDefining = Project(
              defining.projectList.map(ne => parseAliasOf(ne) match {
                case Some(pa) if rewrites.contains(pa.alias.exprId) =>
                  rewrites(pa.alias.exprId)._4
                case _ => ne
              }),
              defining.child)
            // filters were collected innermost-first; fold re-nests them so
            // the outermost filter ends up on top
            val rebuilt = filters.foldLeft(newDefining: LogicalPlan)(
              (child, f) => Filter(rewrite(f.condition), child))
            consumer.withNewChildren(Seq(rebuilt)).transformExpressions(pf)
          }
      }
  }
}

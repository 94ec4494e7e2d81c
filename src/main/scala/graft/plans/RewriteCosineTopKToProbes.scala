package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.EngineState
import graft.operators.VectorIndex

/** Optimizer rule: rewrite `ORDER BY cosine(emb, <literal query>) DESC
  * LIMIT k` over a REGISTERED cluster-partitioned table into an
  * IVF probe — inject [[VectorIndex.probeFilter]] over the nprobe
  * nearest centroids, which predicate pushdown turns into partition
  * pruning, so the scan reads nprobe cluster directories instead of
  * the corpus. The exact cosine rerank inside the probed clusters is
  * untouched: this is precisely [[VectorIndex.searchApprox]], reached
  * from the declarative query shape (`sql_knn`-style) without the
  * caller calling it.
  *
  * The swap changes results (approximate!), so it NEVER fires on its
  * own: only tables registered in the session's engine state
  * ([[graft.EngineState.registerIndex]]) participate — registration is
  * the recall opt-in, and the recall is pinned by the `ann_autoswap`
  * oracle exactly like `ann_ivf`'s. A registration is visible to its
  * own session only.
  *
  * Injected per session by `Sessions.extensions` via
  * `injectOptimizerRule` (runs in the fixed-point operator batch; the
  * injected Filter is pushed to the scan by the surrounding
  * PushDownPredicates iterations). */
final case class RewriteCosineTopKToProbes(session: SparkSession) extends Rule[LogicalPlan] {

  /** Strip order-preserving wrappers (round/cast keep DESC order up to
    * rounding ties — and the probe restriction is the approximation
    * anyway, guarded by registration + pinned recall). */
  private def stripMonotone(e: Expression): Expression = e match {
    case Round(c, _, _) => stripMonotone(c)
    case Cast(c, _, _, _) => stripMonotone(c)
    case other => other
  }

  /** Resolve an attribute through Project aliases below. */
  private def resolveAlias(e: Expression, plan: LogicalPlan): Expression = e match {
    case a: AttributeReference =>
      val resolved = plan.collectFirst {
        case p: Project if p.projectList.exists {
          case al: Alias => al.exprId == a.exprId
          case _ => false
        } => p.projectList.collectFirst {
          case al: Alias if al.exprId == a.exprId => al.child
        }.get
      }
      resolved.map(resolveAlias(_, plan)).getOrElse(e)
    case other => other
  }

  private def queryVecOf(e: Expression): Option[(AttributeReference, Array[Float])] =
    e match {
      case CosineSimilarity(a: AttributeReference, Literal(v: ArrayData, ArrayType(FloatType, _))) =>
        Some((a, v.toFloatArray))
      case CosineSimilarity(Literal(v: ArrayData, ArrayType(FloatType, _)), a: AttributeReference) =>
        Some((a, v.toFloatArray))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case gl @ GlobalLimit(_, ll @ LocalLimit(_, inner)) =>
      rewriteBelowLimit(inner) match {
        case Some(newInner) => gl.copy(child = ll.copy(child = newInner))
        case None => gl
      }
  }

  /** Rewrite the top-k Sort under a limit, looking through the
    * Project layers column pruning inserts between them. */
  private def rewriteBelowLimit(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case p: Project => rewriteBelowLimit(p.child).map(c => p.copy(child = c))
    case sort @ Sort(SortOrder(scoreExpr, Descending, _, _) +: _, true, child, _) =>
      for {
        (embAttr, qvec) <- queryVecOf(stripMonotone(resolveAlias(scoreExpr, child)))
        (clusterAttr, model, nprobe) <- indexedRelationBelow(child, embAttr)
        // idempotence / user-intent guard: never stack a second probe
        // filter, and never override an existing cluster predicate
        if !child.exists {
          case Filter(cond, _) => cond.references.exists(_.exprId == clusterAttr.exprId)
          case _ => false
        }
      } yield {
        val probes = model.ranked(qvec).take(nprobe)
        val probe = VectorIndex.probeFilter(ColumnBridge.column(clusterAttr), probes)
        sort.copy(child = Filter(ColumnBridge.expression(probe), child))
      }
    case _ => None
  }

  /** The cluster-partitioned relation feeding this subtree, if it is
    * registered and actually carries both the embedding attribute and
    * a cluster column. */
  private def indexedRelationBelow(plan: LogicalPlan, embAttr: AttributeReference)
      : Option[(AttributeReference, VectorIndex.Model, Int)] =
    plan.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] &&
          lr.output.exists(_.exprId == embAttr.exprId) &&
          lr.output.exists(_.name == "cluster") =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        val cluster = lr.output.find(_.name == "cluster").get
          .asInstanceOf[AttributeReference]
        (cluster, fs.location.rootPaths.map(_.toUri.getPath))
    }.flatMap { case (cluster, roots) =>
      EngineState.of(session).indexFor(roots).map { case (m, np) => (cluster, m, np) }
    }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, ColumnarRule, DeserializeToObjectExec,
  MapPartitionsExec, ObjectOperator, SerializeFromObjectExec, SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode}

/** The stage of `VectorSearch.overTopK`: `f` over every row of a
  * top-k. As a `mapPartitions` function it runs in the top-k's one
  * partition; its type is also the mark [[TopKTailCollect]] looks for
  * in a physical plan. */
final case class TopKTail(f: Seq[Row] => Seq[Row]) extends (Iterator[Row] => Iterator[Row]) {
  def apply(rows: Iterator[Row]): Iterator[Row] = f(rows.toVector).iterator
  override def toString: String = "TopKTail"
}

object TopKTail {
  /** Matches a `MapPartitionsExec` function that is a [[TopKTail]]. */
  def unapply(f: AnyRef): Option[TopKTail] = f match {
    case t: TopKTail => Some(t)
    case _ => None
  }
}

/** A top-k stage's plan (`SerializeFromObject ← MapPartitions(TopKTail)
  * ← DeserializeToObject ← Coalesce 1 ← TakeOrderedAndProject`) with a
  * one-stage collect: `executeCollect` takes the top-k through
  * `TakeOrderedAndProjectExec.executeCollect` (a partial top-k per task,
  * merged on the driver) and runs the stage on the driver. `execute`,
  * which a plan above it, a write or `limit(...).collect()` call, is the
  * child's: the top-k shuffled to one partition, the stage in its task. */
case class TopKTailExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  /** The stage runs on the driver through the plan's own deserializer
    * and serializer, which column pruning may have cut to fewer
    * columns than the stage returns. */
  override def executeCollect(): Array[InternalRow] = {
    // looked up as the child runs: code generation wraps its nodes
    val write = child.collectFirst { case s: SerializeFromObjectExec =>
      ObjectOperator.serializeObjectToRow(s.serializer) }.get
    val tail = child.collectFirst { case MapPartitionsExec(TopKTail(t), _, _) => t }.get
    val read = child.collectFirst { case d: DeserializeToObjectExec =>
      ObjectOperator.deserializeRowToObject(d.deserializer, d.child.output) }.get
    val top = child.collectFirst { case t: TakeOrderedAndProjectExec => t }.get
    tail.f(top.executeCollect().toVector.map(read(_).asInstanceOf[Row]))
      .map(write(_).copy()).toArray
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKTailExec =
    copy(child = newChild)
}

/** Wraps every top-k stage subtree of a physical plan in a
  * [[TopKTailExec]]. Injected as a columnar rule's pre-transition step
  * (`Sessions.extensions`), so it sees the plan before code generation
  * and in both adaptive and non-adaptive execution. */
object TopKTailCollect extends ColumnarRule {
  private def wrap(plan: SparkPlan): SparkPlan = plan match {
    case done: TopKTailExec => done
    case s @ SerializeFromObjectExec(_, MapPartitionsExec(TopKTail(_), _,
        DeserializeToObjectExec(_, _, CoalesceExec(1, _: TakeOrderedAndProjectExec)))) =>
      TopKTailExec(s)
    case other => other.mapChildren(wrap)
  }

  override val preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan = wrap(plan)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.PlainSession

import graft.plans.TopKTailExec

/** The smoke check `EntrySmoke` replicates: `SparkEntry.entry` on a
  * session built without `Sessions.extensions`. No injected rule,
  * strategy or columnar rule exists there, so every operator the entry
  * uses must plan and run with Spark's own planner — a node that only
  * an injected strategy can plan fails this spec. */
class PlainSessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("entry on a session without the engine extensions returns the same rows, two-stage") {
    val plain = PlainSession(spark.sparkContext)
    try {
      def tailed(df: DataFrame): Boolean =
        find(df.queryExecution.executedPlan)(_.isInstanceOf[TopKTailExec]).nonEmpty
      val (onPlain, onSpec) = (SparkEntry.entry(plain), SparkEntry.entry(spark))
      val rows = onPlain.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows == onSpec.collect().toSeq)
      // without TopKTailCollect the top-k stage runs its two-stage form
      assert(!tailed(onPlain), onPlain.queryExecution.executedPlan.toString)
      assert(tailed(onSpec), "the spec session plans the one-stage collect")
    } finally EngineState.of(plain).close()
  }
}

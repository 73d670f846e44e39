package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A logical no-op that pins its child's FULL output: `references`
  * claims every child attribute, so Catalyst's ColumnPruning never
  * inserts a narrowing Project below it.
  *
  * Needed by [[graft.sources.AcidFiles]]: ORC's `SchemaEvolution`
  * detects the Hive full-ACID wrapper by its exact six field names and
  * re-wraps any NON-acid-shaped requested schema into an event schema
  * (orc-core `SchemaEvolution.checkAcidSchema`) — a pruned subset of
  * the wrapper columns then misaligns the column vectors and the scan
  * throws. The barrier keeps the scan's requested schema at the full
  * wrapper, which both sides agree is ACID-shaped. Pruning above the
  * barrier (dropping `row__id` etc. from the result) still happens;
  * only the scan itself stays wide — the wrapper's five transaction
  * columns are fixed-width integers, a bounded overhead at any scale.
  */
case class PruningBarrier(child: LogicalPlan) extends UnaryNode {
  override def output = child.output
  override def references: AttributeSet = child.outputSet
  override def maxRows = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): PruningBarrier = copy(child = newChild)
}

object PruningBarrier {
  /** Wrap `df` in a barrier. [[graft.GraftSession.tune]] registers the
    * planning strategy, so every tuned session, the small-path companion
    * included, can plan the barrier.
    */
  def apply(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.ofRows(graft.GraftSession.tune(spark),
      PruningBarrier(df.queryExecution.analyzed))

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PruningBarrier(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }
}

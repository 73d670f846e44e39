package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `OPTIMIZE_PARTITION_KEY_SCANS` (IMPALA-1795): a query that touches
  * only a table's partition-key columns, under an aggregation that is
  * insensitive to row multiplicity (DISTINCT, min, max, ndv), answers
  * from partition METADATA — one constant row per partition — instead
  * of scanning any data file. The reference applies this in
  * `fe/src/main/java/org/apache/impala/planner/HdfsScanNode.java`
  * (see SingleNodePlanner's fast-partition-key-scan path), replacing
  * the scan with a UNION of constant exprs; at a million partitions on
  * a 100 TB table this turns a full-table scan into a driver-side
  * catalog listing.
  *
  * Spark-side: the rewrite runs on the ANALYZED plan. Each
  * `SubqueryAlias` naming a table registered in the
  * [[graft.ImpalaStats]] catalog is replaced by a [[LocalRelation]]
  * carrying the table's partition tuples (original output attributes
  * kept, non-partition columns null — they are provably unreferenced)
  * when:
  *
  *  - every attribute the enclosing plan consumes from the alias is a
  *    partition-key column, and
  *  - the nearest enclosing Aggregate/Distinct reaches the alias only
  *    through multiplicity-safe operators (Filter/Project/Join/
  *    SubqueryAlias) and each of its aggregate functions is DISTINCT,
  *    `min`, `max`, or `ndv` — exactly Impala's eligibility.
  *
  * EXPLAIN renders the collapsed shape by detecting the substituted
  * LocalRelation in the plan this rewrite produced, so the explain
  * text and the executed plan cannot diverge.
  */
object PartitionKeyScans {

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.explain.partitionKeyScans")
      .contains("true")

  /** Rewrite eligible scans; returns the same instance when nothing
    * applies (callers compare with `eq`).
    */
  def rewrite(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    go(spark, plan, aggOk = false, AttributeSet.empty)

  /** Sentinel alias `rewrite` wraps around the partition-tuple
    * LocalRelation so EXPLAIN detects rewrites the pass actually
    * performed (not any LocalRelation that happens to share a
    * registered table's name). The alias itself is inert: Catalyst's
    * EliminateSubqueryAliases removes it before execution.
    */
  private val Marker = "__graft_partition_key_scan__"

  /** A substituted scan in a rewritten plan: the alias name and its
    * partition-row count (EXPLAIN's `constant-operands=N`).
    */
  def substituted(plan: LogicalPlan): Option[(String, Int)] =
    plan.collectFirst {
      case SubqueryAlias(id, SubqueryAlias(inner, lr: LocalRelation))
          if inner.name == Marker =>
        (id.name, lr.data.length)
    }

  /** Impala's aggregate eligibility: every aggregate function is
    * DISTINCT or one of min/max/ndv (multiplicity-insensitive).
    */
  private def eligibleAgg(a: Aggregate): Boolean = {
    val aggs = a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    aggs.forall { ae =>
      ae.isDistinct || (ae.aggregateFunction match {
        case _: Min | _: Max => true
        case f => f.prettyName == "ndv_hll" ||
          f.prettyName == "approx_count_distinct"
      })
    }
  }

  private def go(spark: SparkSession, node: LogicalPlan, aggOk: Boolean,
      refs: AttributeSet): LogicalPlan = node match {
    case sa @ SubqueryAlias(_, _) =>
      val sub = if (aggOk) substitute(spark, sa, refs) else None
      sub.getOrElse {
        // not a registered candidate (or ineligible): keep descending —
        // the alias may wrap a subquery with its own aggregation
        val child = go(spark, sa.child, aggOk, refs)
        if (child eq sa.child) sa else sa.copy(child = child)
      }
    case a: Aggregate =>
      val child =
        go(spark, a.child, eligibleAgg(a), refs ++ a.references)
      if (child eq a.child) a else a.copy(child = child)
    case d: Distinct =>
      val child = go(spark, d.child, aggOk = true, refs ++ d.references)
      if (child eq d.child) d else d.copy(child = child)
    // multiplicity-safe pass-throughs between an aggregate and a scan.
    // Sort/Limit are NOT safe: `distinct year` over the first-k ROWS of
    // an ordered inline view is not `distinct year` over k partition
    // tuples. Impala never crosses them — its eligibility is
    // per-select-block (SingleNodePlanner.java:1518-1524), and an
    // ORDER BY/LIMIT inline view is a separate block.
    case p @ (_: Filter | _: Project | _: Join) =>
      val kids = p.children.map(c =>
        go(spark, c, aggOk, refs ++ p.references))
      if (kids.zip(p.children).forall { case (a, b) => a eq b }) p
      else p.withNewChildren(kids)
    case other =>
      // anything else (Sort, Limit, Window, Generate, Union, …) is
      // row-count sensitive below an aggregate: reset the context
      val kids = other.children.map(c =>
        go(spark, c, aggOk = false, refs ++ other.references))
      if (kids.zip(other.children).forall { case (a, b) => a eq b }) other
      else other.withNewChildren(kids)
  }

  /** Replace the alias's subtree with the partition-tuple
    * LocalRelation when the table qualifies.
    */
  private def substitute(spark: SparkSession, sa: SubqueryAlias,
      refs: AttributeSet): Option[LogicalPlan] = {
    val model =
      graft.ImpalaStats.lookup(sa.identifier.name).getOrElse(return None)
    val partCols = model.partCols()
    if (partCols.isEmpty) return None
    val partIdx = partCols.fields.map(_.name.toLowerCase)
      .zipWithIndex.toMap
    val consumed = sa.outputSet.filter(refs.contains)
    if (!consumed.forall(a => partIdx.contains(a.name.toLowerCase)))
      return None
    val zone = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val output = sa.child.output
    // Ignore empty partitions to match the behavior of the scan-based
    // approach (SingleNodePlanner.java:1529-1530): a partition whose
    // files total zero bytes contributes no rows to a real scan, so its
    // key tuple must not appear in the metadata answer either. A model
    // with NO file list (fileBytes = Nil — sizes not modeled) counts as
    // non-empty; an explicit all-zero list marks a known-empty dir.
    val rows = model.partitions()
      .filter(p => p.fileBytes.isEmpty || p.fileBytes.sum > 0)
      .map { p =>
      InternalRow.fromSeq(output.map { attr =>
        partIdx.get(attr.name.toLowerCase) match {
          case Some(i) =>
            p.values(i) match {
              case Some(s) if attr.dataType == StringType =>
                UTF8String.fromString(s)
              case Some(s) =>
                Cast(Literal(UTF8String.fromString(s), StringType),
                  attr.dataType, zone).eval(InternalRow.empty)
              case None => null
            }
          case None => null
        }
      })
    }
    Some(SubqueryAlias(sa.identifier,
      SubqueryAlias(Marker, LocalRelation(output, rows.toIndexedSeq))))
  }
}

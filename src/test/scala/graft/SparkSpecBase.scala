package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; the same setup as the driver mains. */
abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  /** Smallest fixture dir — specs should stay fast. */
  val sfDir = "/root/testdata/sf0.001"

  /** Every file scan of an executed plan, through AQE query stages. */
  protected def allScans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: QueryStageExec => allScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(allScans)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(4)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Root paths of every file scan of an executed DataFrame. */
  protected def scannedPaths(df: DataFrame): Seq[String] =
    allScans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))

  /** Runs `df`; its scan of `indexPath` must read some, but fewer than
    * half, of the parquet files under it (partition pruning).
    */
  protected def assertPrunedScan(df: DataFrame, indexPath: String): Unit = {
    df.collect()
    val scan = allScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toUri.getPath == indexPath))
      .getOrElse(fail(s"no scan of $indexPath"))
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    val totalFiles = walk(new java.io.File(indexPath))
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead > 0 && filesRead < totalFiles / 2,
      s"filesRead=$filesRead totalFiles=$totalFiles")
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(4)
}

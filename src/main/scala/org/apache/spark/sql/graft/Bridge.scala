package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Minimal bridge into the classic Spark session internals: builds a
  * DataFrame from a LogicalPlan (`Dataset.ofRows` is private[sql]).
  * Lives in the org.apache.spark.sql package tree for access; contains
  * no logic of its own.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A copy of the session (conf, temp views, functions) over the same
    * context and catalog; settings made on the copy stay there.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** A fresh `<prefix>-<uuid>` directory under `java.io.tmpdir` that
    * Spark's shutdown hook deletes, contents and all, when the JVM exits.
    */
  def tempDir(prefix: String): java.nio.file.Path =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).toPath

  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    spark.asInstanceOf[ClassicSession].sessionState.sqlParser.parsePlan(sql)

  /** Analyze a plan WITHOUT the eager command execution `ofRows`
    * performs — callers that transform an INSERT/CTAS plan post-analysis
    * need it to run exactly once, on the transformed plan.
    */
  def analyzeOnly(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    new org.apache.spark.sql.execution.QueryExecution(
      spark.asInstanceOf[ClassicSession], plan,
      mode = org.apache.spark.sql.execution.CommandExecutionMode.SKIP)
      .analyzed

  /** Run the analyzer WITHOUT checkAnalysis — for recovery passes that
    * repair plans Spark's checks would reject (the rules themselves may
    * still throw on unresolvable input).
    */
  def analyzeNoCheck(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.asInstanceOf[ClassicSession].sessionState.analyzer.execute(plan)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

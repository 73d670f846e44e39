package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge

/** The two execution paths of [[GraftSession.route]]: a query takes the
  * path its estimated input picks, and both paths give the same rows.
  */
class ExecutionPathSpec extends SparkSpecBase {

  /** The sf0.01 fixtures, next to the base's sf0.001 ones. */
  private val sf001 = sfDir.stripSuffix("sf0.001") + "sf0.01"

  /** Queries whose adaptive plans vary from run to run. */
  private val variable = Seq("q_dedup_minhash_gate", "tpch_q10", "q_ds_cohort")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The same analyzed plan on the caller's session: the adaptive path. */
  private def adaptive(df: DataFrame): DataFrame =
    Bridge.ofRows(spark, df.queryExecution.analyzed)

  private def isAdaptive(p: SparkPlan): Boolean =
    p.collectWithSubqueries { case a: AdaptiveSparkPlanExec => a }.nonEmpty

  test("both paths return the same rows: headline and variable-plan queries at sf0.01") {
    (Bench.headline ++ variable).distinct.foreach { n =>
      val small = SparkEntry.queries(n)(spark, sf001)
      assert(GraftSession.onSmallPath(small), n)
      val a = adaptive(small)
      assert(!GraftSession.onSmallPath(a), n)
      assert(sortedRows(small) == sortedRows(a), n)
    }
  }

  test("a CTE query is estimated from its definitions, not its references") {
    val df = SparkEntry.queries("q_cte")(spark, sfDir)
    assert(GraftSession.estimatedInputBytes(df).exists(_ <= GraftSession.SmallQueryBytes))
    assert(GraftSession.onSmallPath(df))
    assert(sortedRows(df) == sortedRows(adaptive(df)))
  }

  test("a small fixture query plans without AQE, on one shuffle partition") {
    val df = SparkEntry.queries("tpch_q3")(spark, sfDir)
    assert(GraftSession.onSmallPath(df))
    val p = df.queryExecution.executedPlan
    assert(!isAdaptive(p), p)
    val shuffles = p.collectWithSubqueries { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty && shuffles.forall(_.numPartitions == 1), p)
  }

  test("a query over more than SmallQueryBytes of estimated input stays adaptive") {
    def counts(n: Long) = spark.range(n).groupBy((col("id") % 7).as("k")).count()
    val big = counts(GraftSession.SmallQueryBytes / 8 + 1)
    assert(GraftSession.estimatedInputBytes(big).exists(_ > GraftSession.SmallQueryBytes))
    assert(GraftSession.route(big) eq big)
    assert(isAdaptive(big.queryExecution.executedPlan))
    val small = GraftSession.route(counts(GraftSession.SmallQueryBytes / 8))
    assert(GraftSession.onSmallPath(small))
    assert(!isAdaptive(small.queryExecution.executedPlan))
  }

  test("a streaming query stays on the caller's session") {
    val df = spark.readStream.format("rate").load()
    assert(GraftSession.route(df) eq df)
  }

  test("a conf set on the caller before the query is built applies on the small path") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def broadcastJoins(df: DataFrame): Int = {
      assert(GraftSession.onSmallPath(df))
      df.queryExecution.executedPlan.collect { case j: BroadcastHashJoinExec => j }.size
    }
    def q3 = SparkEntry.queries("tpch_q3")(spark, sfDir)
    assert(broadcastJoins(q3) > 0)
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = q3
      assert(broadcastJoins(df) == 0, df.queryExecution.executedPlan)
      assert(df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1")
    } finally spark.conf.set(key, prior)
    assert(broadcastJoins(q3) > 0)
  }

  test("small-path plans of the variable-plan queries are the same in every run") {
    variable.foreach { n =>
      val plans = (1 to 3).map { _ =>
        val df = SparkEntry.queries(n)(spark, sf001)
        assert(GraftSession.onSmallPath(df), n)
        df.collect()
        // expression ids, exchange plan ids and lambda variable names
        // come from JVM-wide counters, so they differ in every run
        df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#")
          .replaceAll("plan_id=\\d+", "plan_id=").replaceAll("\\bx_\\d+#", "x_#")
      }
      assert(plans.distinct.size == 1, s"$n:\n${plans.distinct.mkString("\n----\n")}")
    }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}

import graft.functions.CollectCapped

/** Plan-shape assertions for the 100 TB design goals: filters and
  * projections reach the parquet scan, small dimensions broadcast,
  * aggregates are partial (map-side) before the shuffle, and hot paths
  * stay inside whole-stage codegen. A plan regression here is a scale
  * bug even when results stay correct.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Exchanges of a query's physical plan as planned, before adaptive
    * execution re-plans any stage.
    */
  private def exchanges(name: String): Seq[Exchange] =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case e: Exchange => e }
      case p => p.collect { case e: Exchange => e }
    }

  test("scan-projection query pushes filter and prunes columns") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") ||
      p.contains("GreaterThanOrEqual(l_quantity"), p)
    // ReadSchema lists only the 4 referenced columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .forall(read.contains), read)
    assert(!read.contains("l_extendedprice"), read)
  }

  test("TPC-H Q3: dimension-side joins broadcast, no full-table shuffle of lineitem") {
    val p = plan("tpch_q3")
    assert(p.contains("BroadcastHashJoin"), p)
    // partial aggregation before the exchange (map-side combine)
    assert(p.contains("HashAggregate"), p)
  }

  test("TPC-H Q5: 6-way join keeps small dims on broadcast side, codegen'd") {
    val p = plan("tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p)
    // whole-stage codegen visible once AQE finalizes the plan
    val df = SparkEntry.queries("tpch_q5")(spark, sfDir)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("TPC-H Q1: partial agg + single shuffle + TopN-free sort") {
    val p = plan("tpch_q1")
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("PushedFilters"), p)
  }

  test("top-k order-by-limit compiles to TakeOrderedAndProject") {
    val p = plan("q_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("semi/anti joins stay joins (no subquery re-execution)") {
    // q4's EXISTS is inner+distinct since r18 (streams the fact table);
    // q20's IN-chain still pins the semi-join shape
    assert(plan("tpch_q20").contains("LeftSemi"), "q20 semi")
    assert(plan("tpch_q16").contains("LeftAnti"), "q16 anti")
    // r18: q21's NOT EXISTS compiles to a window min/max over the late
    // relation (sole-late-supplier predicate), not a lineitem-sized
    // SortMergeJoin LeftAnti; the EXISTS stays a semi join
    val q21 = plan("tpch_q21")
    assert(q21.contains("LeftSemi") && q21.contains("Window"), q21)
    assert(!q21.contains("LeftAnti"), "q21 must not re-join lineitem for NOT EXISTS")
  }

  test("runtime bloom filters inject at scale thresholds (Impala runtime-filter analog)") {
    // RuntimeFilterGenerator.java pushes bloom filters from join builds
    // to scans; Spark's runtime bloom filter does the same once the
    // application-side scan is big enough. The 10 GB default only trips
    // on a real cluster — lower it to prove the wiring here.
    val priorApp = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val priorB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions._
      val li = GraftSession.table(spark, sfDir, "lineitem")
      val ord = GraftSession.table(spark, sfDir, "orders")
        .filter(col("o_totalprice") > 50000)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)))
      assert(j.queryExecution.optimizedPlan.toString.contains("bloom_filter_agg"))
    } finally {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        priorApp)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorB)
    }
  }

  test("rank predicate becomes WindowGroupLimit; limit pushes through analytic") {
    // Impala pins these shapes in PlannerTest/limit-pushdown-analytic.test:
    // a full per-partition (or global) sort here is a scale bug.
    val topk = plan("q_window_topk")
    assert(topk.contains("WindowGroupLimit"), topk)
    val push = plan("q_window_limit_push")
    // LimitPushDownThroughWindow rewrites Limit+Window(empty partition)
    // so the take-ordered happens below the window
    assert(push.contains("TakeOrderedAndProject") ||
      push.contains("WindowGroupLimit"), push)
  }

  test("dedup bucket pipeline shuffles only compact key tuples") {
    val p = plan("q_dedup_minhash")
    // signature kernels evaluate inside project/codegen, not UDF nodes
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // exchange counts as planned before the posting-list kernels merged;
    // a posting list shuffles (key, id[, payload]) entries, never text
    Seq("q_dedup_minhash" -> (5, 3), "q_dedup_simhash" -> (5, 3),
        "q_dedup_ngram" -> (3, 0)).foreach { case (q, (shuffles, broadcasts)) =>
      val ex = exchanges(q)
      val got = (ex.count(_.isInstanceOf[ShuffleExchangeLike]),
        ex.count(_.isInstanceOf[BroadcastExchangeLike]))
      assert(got == (shuffles, broadcasts) && ex.length == shuffles + broadcasts,
        s"$q: (shuffle, broadcast) exchanges $got, want ${(shuffles, broadcasts)}")
      val postings = ex.filter(_.child match {
        case a: BaseAggregateExec => a.aggregateExpressions
          .exists(_.aggregateFunction.isInstanceOf[CollectCapped])
        case _ => false
      })
      assert(postings.nonEmpty, s"$q: no posting-list exchange")
      postings.foreach(e => assert(!e.output.exists(_.name == "text"),
        s"$q: posting-list exchange outputs ${e.output.mkString(", ")}"))
    }
  }

  test("OPTIMIZE_PARTITION_KEY_SCANS executes metadata-only: zero file-scan tasks") {
    // IMPALA-1795: a distinct/min/max aggregate over partition keys
    // answers from the partition listing. At a million partitions this
    // is catalog-read vs full-table-scan — the plan must contain NO
    // file scan, and ineligible shapes (count(*)) must keep the scan.
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_pks").toString
    import spark.implicits._
    Seq((1, "a", 2009, 1), (2, "b", 2009, 2), (3, "c", 2010, 1),
      (4, "d", 2010, 1))
      .toDF("id", "s", "year", "month")
      .write.mode("overwrite").partitionBy("year", "month").parquet(dir)
    val tbl = spark.read.parquet(dir)
    tbl.createOrReplaceTempView("pks_tbl")
    // a registered partition whose directory holds ZERO bytes: the
    // scan-based answer never sees year=2011, so neither may the
    // metadata answer (SingleNodePlanner.java:1529-1530)
    val parts = Seq(Seq("2009", "1") -> 1L, Seq("2009", "2") -> 1L,
      Seq("2010", "1") -> 1L, Seq("2011", "1") -> 0L)
    ImpalaStats.register(ImpalaStats.Model("pks_tbl",
      () => StructType(Seq(StructField("id", IntegerType),
        StructField("s", StringType))),
      () => StructType(Seq(StructField("year", IntegerType),
        StructField("month", IntegerType))),
      () => parts.map { case (p, b) => ImpalaStats.Partition(
        p.map(Option(_)), Seq(b), "PARQUET", "") },
      () => tbl))
    try {
      // the PRODUCT path: SET flows through ImpalaOptions onto the conf
      ImpalaDialect.sql(spark, "set optimize_partition_key_scans=1")
      val q = ImpalaDialect.sql(spark,
        "select min(month) m1, max(year) m2, count(distinct year) c from pks_tbl")
      val row = q.collect().head
      assert(row.getInt(0) == 1 && row.getInt(1) == 2010 &&
        row.getLong(2) == 2L, row.toString)
      assert(allScans(q.queryExecution.executedPlan).isEmpty,
        q.queryExecution.executedPlan.toString)
      assert(q.queryExecution.executedPlan.toString
        .contains("LocalTableScan"))
      // distinct form collapses too
      val d = ImpalaDialect.sql(spark,
        "select distinct year from pks_tbl")
      assert(d.collect().map(_.getInt(0)).sorted.toSeq == Seq(2009, 2010))
      assert(allScans(d.queryExecution.executedPlan).isEmpty)
      // ineligible aggregate (count(*) is multiplicity-sensitive):
      // the real scan stays and sees all 4 rows, not 3 partitions
      val c = ImpalaDialect.sql(spark, "select count(*) c from pks_tbl")
      assert(c.collect().head.getLong(0) == 4L)
      assert(allScans(c.queryExecution.executedPlan).nonEmpty)
      // ORDER BY + LIMIT inline view is row-count sensitive below the
      // distinct: the 2 smallest-year ROWS are both 2009, so the answer
      // is the single year 2009 — a partition-tuple substitution would
      // wrongly return 2 distinct years. The scan must survive.
      val lim = ImpalaDialect.sql(spark,
        "select distinct year from " +
          "(select year from pks_tbl order by year limit 2) v")
      assert(lim.collect().map(_.getInt(0)).toSeq == Seq(2009),
        lim.collect().mkString(","))
      assert(allScans(lim.queryExecution.executedPlan).nonEmpty)
      // EXPLAIN renders the collapsed plan that actually runs
      val ex = ImpalaDialect.sql(spark,
        "explain select min(month) from pks_tbl")
        .collect().map(_.getString(0)).mkString("\n")
      assert(ex.contains("00:UNION") && ex.contains("constant-operands=3"),
        ex)
    } finally {
      ImpalaDialect.sql(spark, "set optimize_partition_key_scans=0")
      ImpalaStats.drop("pks_tbl")
      spark.catalog.dropTempView("pks_tbl")
    }
  }
}

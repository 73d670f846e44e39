package graft.queries

import graft.GraftSession
import org.apache.spark.sql.functions._
import Q.dec2

/** Aggregate completeness (SURVEY.md §2.4): distinct/multi-distinct
  * (`fe/.../analysis/MultiAggregateInfo.java:49-113`), ROLLUP/CUBE/
  * GROUPING SETS (`fe/.../analysis/GroupByClause.java:39-89`), statistical
  * aggregates (KnuthVar*, `be/src/exprs/aggregate-functions-ir.cc`),
  * group_concat (StringConcat*), ndv (HLL), percentiles (ReservoirSample*),
  * min_by/max_by (AggIf*), histogram.
  */
object AggQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- multi-distinct: two distinct classes + a non-distinct agg in one
    // grouping (Impala 2-phase + transposition; Catalyst
    // RewriteDistinctAggregates handles the same shape).
    Q.Def("q_agg_multidistinct", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("nd_supp"),
          countDistinct(col("l_partkey")).as("nd_part"),
          sum_distinct(col("l_quantity")).as("sd_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_suppkey) AS nd_supp,
             COUNT(DISTINCT l_partkey) AS nd_part,
             SUM(DISTINCT l_quantity) AS sd_qty,
             COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""
    )),

    // ---- ROLLUP with grouping() indicators (GroupingSetsType.ROLLUP).
    Q.Def("q_rollup", (s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val c = t(s, dir, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal"),
          grouping(col("r_name")).as("g_r"), grouping(col("n_name")).as("g_n"))
        .orderBy(asc_nulls_last("r_name"), asc_nulls_last("n_name"))
    }, Some("""
      SELECT r_name, n_name, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal,
             CAST(GROUPING(r_name) AS TINYINT) AS g_r,
             CAST(GROUPING(n_name) AS TINYINT) AS g_n
      FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY r_name ASC NULLS LAST, n_name ASC NULLS LAST"""
    )),

    // ---- CUBE (GroupingSetsType.CUBE).
    Q.Def("q_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(asc_nulls_last("o_orderstatus"),
          asc_nulls_last("o_orderpriority"))
    }, Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST"""
    )),

    // ---- explicit GROUPING SETS (GroupingSetsType.SETS).
    Q.Def("q_grouping_sets", (s, dir) => {
      GraftSession.registerAll(s, dir)
      s.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""")
    }, Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST"""
    )),

    // ---- statistical aggregates (KnuthVar/Stddev). Variance scaled to
    // millions before rounding so fp merge-order drift can't move the
    // rounded digit.
    Q.Def("q_agg_stats", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(stddev_samp(col("o_totalprice")), 4).as("sd_samp"),
          round(stddev_pop(col("o_totalprice")), 4).as("sd_pop"),
          round(var_samp(col("o_totalprice")) / 1e6, 6).as("var_samp_m"),
          round(var_pop(col("o_totalprice")) / 1e6, 6).as("var_pop_m"),
          round(corr(col("o_totalprice"), col("o_custkey")), 6).as("corr_ck"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus,
             ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd_samp,
             ROUND(STDDEV_POP(o_totalprice), 4) AS sd_pop,
             ROUND(VAR_SAMP(o_totalprice) / 1e6, 6) AS var_samp_m,
             ROUND(VAR_POP(o_totalprice) / 1e6, 6) AS var_pop_m,
             ROUND(CORR(o_totalprice, o_custkey), 6) AS corr_ck,
             COUNT(*) AS n
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    )),

    // ---- ordered group_concat (Impala's is input-order dependent —
    // SURVEY §7.4 risk 4 — so we pin a sort order on both sides).
    Q.Def("q_group_concat", (s, dir) => {
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("nations"))
        .orderBy(col("n_regionkey"))
    }, Some("""
      SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
      FROM nation
      GROUP BY n_regionkey
      ORDER BY n_regionkey"""
    )),

    // ---- covariance + linear regression aggregates (KnuthVar family
    // companions; Spark and DuckDB share the exact two-pass-free
    // formulations, so rounded values match). Scaled before rounding so
    // fp merge-order drift can't move the rounded digit.
    Q.Def("q_agg_covar", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(covar_samp(col("o_totalprice"), col("o_custkey")) / 1e6, 4)
            .as("cov_samp_m"),
          round(covar_pop(col("o_totalprice"), col("o_custkey")) / 1e6, 4)
            .as("cov_pop_m"),
          round(expr("regr_slope(o_totalprice, o_custkey)"), 6).as("slope"),
          round(expr("regr_intercept(o_totalprice, o_custkey)"), 2).as("icept"),
          expr("regr_count(o_totalprice, o_custkey)").as("n_pairs"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus,
             ROUND(COVAR_SAMP(o_totalprice, o_custkey) / 1e6, 4) AS cov_samp_m,
             ROUND(COVAR_POP(o_totalprice, o_custkey) / 1e6, 4) AS cov_pop_m,
             ROUND(REGR_SLOPE(o_totalprice, o_custkey), 6) AS slope,
             ROUND(REGR_INTERCEPT(o_totalprice, o_custkey), 2) AS icept,
             REGR_COUNT(o_totalprice, o_custkey) AS n_pairs
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    )),

    // ---- group_concat(DISTINCT ...): resolves through the native
    // GroupConcat AggregateFunction + Catalyst's distinct rewrite; the
    // output set is order-unspecified, so both sides sort-normalize the
    // element list before concatenation.
    Q.Def("q_group_concat_distinct", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(concat_ws(",", sort_array(split(
          expr("group_concat(DISTINCT o_orderpriority, ';')"), ";")))
          .as("prios"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus,
             STRING_AGG(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    )),

    // ---- min_by / max_by (Impala aggif internals) with a unique composite
    // ordering key for determinism.
    Q.Def("q_agg_minmaxby", (s, dir) => {
      val key = (col("c_acctbal") * 100).cast("bigint") * 100000 +
        col("c_custkey")
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(max_by(col("c_name"), key).as("richest"),
          min_by(col("c_name"), key).as("poorest"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }, Some("""
      SELECT c_mktsegment,
             ARG_MAX(c_name, CAST(c_acctbal * 100 AS BIGINT) * 100000 + c_custkey) AS richest,
             ARG_MIN(c_name, CAST(c_acctbal * 100 AS BIGINT) * 100000 + c_custkey) AS poorest,
             COUNT(*) AS n
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""
    )),

    // ---- exact interpolated percentiles (Impala appx_median/percentile
    // family; exact here so the oracle can agree bit-for-bit after round).
    Q.Def("q_percentile", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(percentile(col("o_totalprice"), lit(0.25)), 2).as("p25"),
          round(percentile(col("o_totalprice"), lit(0.5)), 2).as("p50"),
          round(percentile(col("o_totalprice"), lit(0.75)), 2).as("p75"),
          round(percentile(col("o_totalprice"), lit(0.99)), 2).as("p99"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus,
             ROUND(QUANTILE_CONT(o_totalprice, 0.25), 2) AS p25,
             ROUND(QUANTILE_CONT(o_totalprice, 0.5), 2) AS p50,
             ROUND(QUANTILE_CONT(o_totalprice, 0.75), 2) AS p75,
             ROUND(QUANTILE_CONT(o_totalprice, 0.99), 2) AS p99
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    )),

    // ---- appx_median: the reference's ReservoirSample median (sorted
    // element n/2, type-preserving) — exact below the 20 000-sample
    // reservoir, so DuckDB replicates it with a list index.
    Q.Def("q_appx_median", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(call_function("appx_median",
          col("o_totalprice").cast("decimal(12,2)")).as("med"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus,
             LIST(CAST(o_totalprice AS DECIMAL(12,2))
                  ORDER BY CAST(o_totalprice AS DECIMAL(12,2)))
               [CAST(COUNT(*) // 2 + 1 AS BIGINT)] AS med
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    )),

    // ---- histogram via explicit bucket arithmetic (Impala histogram/
    // width_bucket; floor arithmetic is engine-agnostic).
    Q.Def("q_histogram", (s, dir) => {
      t(s, dir, "orders")
        .select(least(floor((col("o_totalprice") - 1000.0) / 50000.0),
          lit(9)).cast("int").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }, Some("""
      SELECT CAST(LEAST(FLOOR((o_totalprice - 1000.0) / 50000.0), 9) AS INTEGER) AS bucket,
             COUNT(*) AS n
      FROM orders
      GROUP BY 1
      ORDER BY bucket"""
    )),

    // ---- ndv / approx_count_distinct (HLL — estimates differ from
    // DuckDB's approx_distinct, so the oracle gates the exact counts
    // plus 10% error-bound booleans; Spark's HLL++ is deterministic, so
    // the booleans cannot drift).
    Q.Def("q_ndv", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("__ndv_part"),
          countDistinct(col("l_partkey")).as("exact_part"),
          approx_count_distinct(col("l_suppkey")).as("__ndv_supp"),
          countDistinct(col("l_suppkey")).as("exact_supp"))
        .select(col("l_returnflag"), col("exact_part"), col("exact_supp"),
          (abs(col("__ndv_part") - col("exact_part")) <=
            col("exact_part") * 0.1).as("ndv_part_ok"),
          (abs(col("__ndv_supp") - col("exact_supp")) <=
            col("exact_supp") * 0.1).as("ndv_supp_ok"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_partkey) AS exact_part,
             COUNT(DISTINCT l_suppkey) AS exact_supp,
             TRUE AS ndv_part_ok, TRUE AS ndv_supp_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""
    )),
  )
}

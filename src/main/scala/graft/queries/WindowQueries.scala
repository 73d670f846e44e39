package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q.dec2

/** Analytic (window) functions — AnalyticEvalNode
  * (`be/src/exec/analytic-eval-node.h:87`), planner
  * `fe/.../planner/AnalyticPlanner.java:67`, function list
  * `fe/.../analysis/AnalyticExpr.java:77-94`: rank, dense_rank,
  * row_number, percent_rank, cume_dist, ntile, lead, lag,
  * first_value/last_value [ignore nulls], plus any agg over
  * ROWS/RANGE frames (`fe/.../analysis/AnalyticWindow.java:41-67`).
  *
  * Determinism: ranking under ties is only deterministic for rank/
  * dense_rank; row_number and offset fns always get a unique composite
  * ORDER BY.
  */
object WindowQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- ranking family; top-5 per mktsegment (limit pushdown into
    // analytic sort — PlannerTest/limit-pushdown-analytic.test).
    Q.Def("q_window_rank", (s, dir) => {
      val uniq = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc_nulls_first("c_acctbal"), asc_nulls_last("c_custkey"))
      val byBal = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc_nulls_first("c_acctbal"))
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(uniq).as("rn"),
          rank().over(byBal).as("rnk"),
          dense_rank().over(byBal).as("drnk"))
        .filter(col("rn") <= 5)
        .orderBy(col("c_mktsegment"), col("rn"))
    }, Some("""
      SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC NULLS FIRST, c_custkey ASC NULLS LAST) AS rn,
               RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC NULLS FIRST) AS rnk,
               DENSE_RANK() OVER (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC NULLS FIRST) AS drnk
        FROM customer) x
      WHERE rn <= 5
      ORDER BY c_mktsegment, rn"""
    )),

    // ---- top-k per partition: the rank predicate must become a
    // WindowGroupLimit (Spark's InferWindowGroupLimit — the analog of
    // the reference's limit pushdown into the analytic sort,
    // PlannerTest/limit-pushdown-analytic.test): each partition keeps a
    // k-row heap instead of fully sorting 100 TB per group. Plan shape
    // asserted in PlanSpec.
    Q.Def("q_window_topk", (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(desc_nulls_last("l_extendedprice"),
          asc_nulls_last("l_orderkey"), asc_nulls_last("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy(col("l_returnflag"), col("rn"))
    }, Some("""
      SELECT * FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice DESC NULLS LAST,
                          l_orderkey ASC NULLS LAST,
                          l_linenumber ASC NULLS LAST) AS rn
        FROM lineitem) x
      WHERE rn <= 3
      ORDER BY l_returnflag, rn"""
    )),

    // ---- LIMIT through an un-partitioned analytic
    // (LimitPushDownThroughWindow): the limit reaches the sort below the
    // window, so the rank computes over k rows, not the full table.
    Q.Def("q_window_limit_push", (s, dir) => {
      val w = Window.orderBy(desc_nulls_last("o_totalprice"),
        asc_nulls_last("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .limit(10)
        .orderBy(col("rn"))
    }, Some("""
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC NULLS LAST,
                                o_orderkey ASC NULLS LAST) AS rn
      FROM orders
      ORDER BY rn
      LIMIT 10"""
    )),

    // ---- running aggregates over a ROWS frame with unique ordering.
    Q.Def("q_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc_nulls_last("o_orderdate"), asc_nulls_last("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_total"),
          count(lit(1)).over(w).as("running_n"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_total,
             COUNT(*) OVER w AS running_n
      FROM orders
      WHERE o_custkey <= 50
      WINDOW w AS (PARTITION BY o_custkey
        ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""
    )),

    // ---- RANGE frame over the ordering value (ties enter together, so
    // it's deterministic even with duplicate dates); Impala's default
    // window is RANGE UNBOUNDED PRECEDING → CURRENT ROW
    // (AnalyticWindow.java:41-67).
    Q.Def("q_window_range", (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"))
        .rangeBetween(-5, 0)
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          count(lit(1)).over(w).as("n_within_5"),
          sum(dec2(col("l_quantity"))).over(w).cast("double").as("qty_within_5"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             COUNT(*) OVER w AS n_within_5,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE) AS qty_within_5
      FROM lineitem
      WHERE l_orderkey <= 200
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
        RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
      ORDER BY l_orderkey, l_linenumber"""
    )),

    // ---- lead/lag with defaults (OffsetFnUpdate in aggregate-functions.h).
    Q.Def("q_window_leadlag", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc_nulls_last("o_orderdate"), asc_nulls_last("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lag(col("o_totalprice"), 2, -1.0).over(w).as("prev2_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2)
            .as("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
             LAG(o_totalprice, 1) OVER w AS prev_price,
             LAG(o_totalprice, 2, -1.0) OVER w AS prev2_price,
             LEAD(o_totalprice, 1) OVER w AS next_price,
             ROUND(o_totalprice - LAG(o_totalprice, 1) OVER w, 2) AS delta
      FROM orders
      WHERE o_custkey <= 50
      WINDOW w AS (PARTITION BY o_custkey
        ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC NULLS LAST)
      ORDER BY o_custkey, o_orderkey"""
    )),

    // ---- ntile / percent_rank / cume_dist over a unique global ordering.
    Q.Def("q_window_ntile", (s, dir) => {
      val w = Window.orderBy(asc_nulls_last("s_acctbal"), asc_nulls_last("s_suppkey"))
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_acctbal"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("s_suppkey"))
    }, Some("""
      SELECT s_suppkey, s_acctbal,
             NTILE(4) OVER w AS quartile,
             ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
             ROUND(CUME_DIST() OVER w, 6) AS cume
      FROM supplier
      WINDOW w AS (ORDER BY s_acctbal ASC NULLS LAST, s_suppkey ASC NULLS LAST)
      ORDER BY s_suppkey"""
    )),

    // ---- first_value / last_value with IGNORE NULLS (FirstValUpdate /
    // LastValIgnoreNulls in aggregate-functions.h) over a full-partition
    // frame; NULLs injected on a key pattern.
    Q.Def("q_window_firstlast", (s, dir) => {
      val priceOrNull = when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null))
        .otherwise(col("o_totalprice"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc_nulls_last("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          priceOrNull.as("maybe_price"),
          first(priceOrNull, ignoreNulls = true).over(w).as("first_nn"),
          last(priceOrNull, ignoreNulls = true).over(w).as("last_nn"),
          first(priceOrNull, ignoreNulls = false).over(w).as("first_any"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS maybe_price,
             FIRST_VALUE(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END IGNORE NULLS) OVER w AS first_nn,
             LAST_VALUE(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END IGNORE NULLS) OVER w AS last_nn,
             FIRST_VALUE(CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END) OVER w AS first_any
      FROM orders
      WHERE o_custkey <= 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey ASC NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey"""
    )),
  )
}

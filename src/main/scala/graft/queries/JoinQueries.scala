package graft.queries

import graft.GraftSession
import org.apache.spark.sql.functions._
import Q.dec2

/** Join inventory — every TJoinOp mode from the reference
  * (`common/thrift/PlanNodes.thrift:361-378`): INNER, LEFT/RIGHT/FULL
  * OUTER, LEFT SEMI, LEFT ANTI, NULL_AWARE_LEFT_ANTI (NOT IN), CROSS,
  * plus the nested-loop path for non-equi conditions
  * (`be/src/exec/partitioned-hash-join-node.h:166`,
  * `nested-loop-join-node.h:54`) and the broadcast-vs-partitioned
  * distribution decision (`fe/.../planner/DistributedPlanner.java:479-575`).
  *
  * Scale notes: dims (region/nation/customer/supplier/part) are
  * broadcast-able at any SF — hinted where Catalyst's threshold might
  * not see it; fact-fact joins (orders⋈lineitem) shuffle on the join key
  * with AQE handling skew.
  */
object JoinQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- INNER hash join fact⋈dim, aggregated (broadcast decision is
    // Catalyst's; customer is small at every SF relative to orders).
    Q.Def("q_join_inner", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    }, Some("""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""
    )),

    // ---- TPC-H Q5-shaped 5-way join chain: two broadcast dims + a
    // shuffled fact-fact join, then hash agg. Join order matters at
    // 100 TB: dims broadcast, lineitem⋈orders co-partitions on orderkey.
    Q.Def("q_join_multi", (s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec2(col("l_extendedprice")) *
          (lit(1) - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
        .orderBy(desc_nulls_first("revenue"), asc_nulls_last("n_name"))
    }, Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC NULLS FIRST, n_name ASC NULLS LAST"""
    )),

    // ---- LEFT OUTER: every customer, orders above a threshold or none.
    Q.Def("q_join_left_outer", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          coalesce(sum(dec2(col("o_totalprice"))).cast("double"), lit(0.0))
            .as("big_total"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
             COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS big_total
      FROM customer LEFT OUTER JOIN
        (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        ON c_custkey = o_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey"""
    )),

    // ---- RIGHT OUTER (orders on the left, customer preserved on the right).
    Q.Def("q_join_right_outer", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
        .groupBy(col("c_nationkey"))
        .agg(count(col("o_orderkey")).as("n_pending"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("c_nationkey"))
    }, Some("""
      SELECT c_nationkey, COUNT(o_orderkey) AS n_pending, COUNT(*) AS n_rows
      FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
        RIGHT OUTER JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""
    )),

    // ---- FULL OUTER over two filtered aggregates (unmatched on both sides).
    Q.Def("q_join_full_outer", (s, dir) => {
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 5000.0)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_sup"))
      val cus = t(s, dir, "customer").filter(col("c_acctbal") < 0.0)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cus"))
      sup.join(cus, sup("s_nationkey") === cus("c_nationkey"), "full_outer")
        .select(
          coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
          coalesce(col("n_sup"), lit(0L)).as("n_sup"),
          coalesce(col("n_cus"), lit(0L)).as("n_cus"))
        .orderBy(col("nationkey"))
    }, Some("""
      SELECT COALESCE(s_nationkey, c_nationkey) AS nationkey,
             COALESCE(n_sup, 0) AS n_sup, COALESCE(n_cus, 0) AS n_cus
      FROM (SELECT s_nationkey, COUNT(*) AS n_sup FROM supplier
            WHERE s_acctbal > 5000.0 GROUP BY s_nationkey) s
        FULL OUTER JOIN
           (SELECT c_nationkey, COUNT(*) AS n_cus FROM customer
            WHERE c_acctbal < 0.0 GROUP BY c_nationkey) c
        ON s_nationkey = c_nationkey
      ORDER BY nationkey"""
    )),

    // ---- LEFT SEMI (EXISTS; PlanNodes.thrift LEFT_SEMI_JOIN).
    Q.Def("q_join_semi", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Some("""
      SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      ORDER BY c_custkey"""
    )),

    // ---- LEFT ANTI (NOT EXISTS): customers with no 400k+ order.
    Q.Def("q_join_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_no_big"))
        .orderBy(col("c_nationkey"))
    }, Some("""
      SELECT c_nationkey, COUNT(*) AS n_no_big
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000.0)
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""
    )),

    // ---- NULL_AWARE_LEFT_ANTI (PlanNodes.thrift:367-371): NOT IN with
    // and without a NULL in the list — the NULL side must yield 0 rows.
    Q.Def("q_join_null_anti", (s, dir) => {
      GraftSession.registerAll(s, dir)
      s.sql("""
        SELECT 'no_null' AS variant, COUNT(*) AS n FROM customer
        WHERE c_nationkey NOT IN
          (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        UNION ALL
        SELECT 'with_null' AS variant, COUNT(*) AS n FROM customer
        WHERE c_nationkey NOT IN
          (SELECT CASE WHEN n_nationkey = 2 THEN NULL ELSE n_nationkey END
           FROM nation WHERE n_regionkey = 2)
        ORDER BY variant""")
    }, Some("""
      SELECT 'no_null' AS variant, COUNT(*) AS n FROM customer
      WHERE c_nationkey NOT IN
        (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      UNION ALL
      SELECT 'with_null' AS variant, COUNT(*) AS n FROM customer
      WHERE c_nationkey NOT IN
        (SELECT CASE WHEN n_nationkey = 2 THEN NULL ELSE n_nationkey END
         FROM nation WHERE n_regionkey = 2)
      ORDER BY variant"""
    )),

    // ---- CROSS join (NestedLoopJoinNode CROSS mode).
    Q.Def("q_join_cross", (s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      r.crossJoin(n)
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }, Some("""
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""
    )),

    // ---- pure non-equi condition → BroadcastNestedLoopJoin
    // (NestedLoopJoinNode theta path, be/src/exec/nested-loop-join-node.h:54).
    Q.Def("q_join_nonequi", (s, dir) => {
      val r1 = t(s, dir, "region").select(
        col("r_regionkey").as("k1"), col("r_name").as("name1"))
      val r2 = t(s, dir, "region").select(
        col("r_regionkey").as("k2"), col("r_name").as("name2"))
      r1.join(r2, col("k1") < col("k2"))
        .select(col("name1"), col("name2"))
        .orderBy(col("name1"), col("name2"))
    }, Some("""
      SELECT r1.r_name AS name1, r2.r_name AS name2
      FROM region r1 JOIN region r2 ON r1.r_regionkey < r2.r_regionkey
      ORDER BY name1, name2"""
    )),

    // ---- equi join + residual non-equi conjunct (Impala's
    // other_join_conjuncts, partitioned-hash-join-node.h:49-59).
    Q.Def("q_join_theta_residual", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") > o("o_orderdate"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_late_ship"))
        .orderBy(col("o_orderstatus"))
    }, Some("""
      SELECT o_orderstatus, COUNT(*) AS n_late_ship
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""
    )),

    // ---- explicit broadcast hint (DistributedPlanner broadcast decision;
    // Impala /*+ BROADCAST */ hint, fe/.../analysis/PlanHint.java).
    Q.Def("q_join_broadcast_hint", (s, dir) => {
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec2(col("c_acctbal"))).cast("double").as("total_bal"))
        .orderBy(col("n_name"))
    }, Some("""
      SELECT n_name, COUNT(*) AS n_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""
    )),

    // ---- salted skew join (graft.operators.Skew): R-way salt split of a
    // hot key against an R-fold replicated right side; must be
    // result-identical to the plain equi join (the oracle is the plain
    // join). This is the manual fix for broadcast-infeasible skewed
    // joins that AQE's shuffle-skew splitting can't reach.
    Q.Def("q_join_salted", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      graft.operators.Skew.saltedJoin(l, sup, "l_suppkey", "s_suppkey",
          col("l_orderkey"), r = 4)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("s_nationkey"))
    }, Some("""
      SELECT s_nationkey, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey"""
    )),
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import Q.{dec2, frac2, u2, uf2, sumUnscaledDbl}

/** The reference's TPC-H golden-result suite re-expressed Spark-first:
  * `testdata/workloads/tpch/queries/tpch-q1.test` … `tpch-q22.test`
  * (22 queries, runner `tests/query_test/test_tpch_queries.py`).
  *
  * The driver fixture is TPC-H-ish but lacks `partsupp`,
  * `l_commitdate/l_receiptdate/l_shipmode`, `o_shippriority`,
  * `p_container/p_mfgr`, and phone/address/comment columns. Each query
  * keeps the reference query's *operator shape* (join graph, subquery
  * structure, agg/top-k pattern — what the planner tests exercise) with
  * the missing columns substituted:
  *   - partsupp         → distinct (l_partkey, l_suppkey) pairs from
  *                        lineitem; supply cost → min unit sale price
  *   - commit<receipt   → "late" = l_shipdate > o_orderdate + N days
  *   - l_shipmode       → derived bucket of l_linenumber (documented)
  *   - phone cntrycode  → c_nationkey % 10
  *
  * Money math follows the oracle-parity rules in [[Q]] (decimal sums,
  * double division at the end, formatted dates, total ORDER BY).
  */
object TpchQueries extends QueryGroup {

  /** Unscaled (scale-4) revenue term used by Q3/Q5/Q7/Q8/Q10/…: the
    * exact `dec2(price) * (1 - frac2(discount))` computed on unscaled
    * longs (r17, [[Q.sumUnscaledDbl]] — same rational, no per-row
    * BigDecimal in the aggregate).
    */
  private def urev = Q.uRev(col("l_extendedprice"), col("l_discount"))

  def defs: Seq[Q.Def] = Seq(

    // ---- Q1: pricing summary report (tpch-q1.test).
    Q.Def("tpch_q1", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumUnscaledDbl(u2(col("l_quantity")), 2).as("sum_qty"),
          sumUnscaledDbl(u2(col("l_extendedprice")), 2).as("sum_base_price"),
          sumUnscaledDbl(urev, 4).as("sum_disc_price"),
          sumUnscaledDbl(urev * (lit(100L) + uf2(col("l_tax"))), 6).as("sum_charge"),
          (sumUnscaledDbl(u2(col("l_quantity")), 2) / count(lit(1))).as("avg_qty"),
          (sumUnscaledDbl(u2(col("l_extendedprice")), 2) / count(lit(1))).as("avg_price"),
          (sumUnscaledDbl(uf2(col("l_discount")), 2) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""
    )),

    // ---- Q2: minimum-cost supplier (correlated scalar min subquery,
    // decorrelated Spark-side into a broadcast-able min-per-part join).
    // partsupp.ps_supplycost → min unit price from lineitem.
    Q.Def("tpch_q2", (s, dir) => {
      // correlated min decorrelated as a window min over l_partkey —
      // one pass over the joined stream instead of re-joining a
      // separately aggregated min-cost table
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      t(s, dir, "part")
        .filter(col("p_size") === 15 && col("p_type") === "SMALL")
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .withColumn("cost", col("l_extendedprice") / col("l_quantity"))
        .withColumn("min_cost", min(col("cost")).over(w))
        .filter(col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name")).distinct()
        .orderBy(desc_nulls_first("s_acctbal"), asc_nulls_last("n_name"),
          asc_nulls_last("s_name"), asc_nulls_last("p_partkey"))
        .limit(100)
    }, Some("""
      SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      FROM part, lineitem, supplier, nation, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND p_size = 15 AND p_type = 'SMALL'
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND l_extendedprice / l_quantity = (
          SELECT MIN(l2.l_extendedprice / l2.l_quantity)
          FROM lineitem l2, supplier s2, nation n2, region r2
          WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC NULLS FIRST, n_name, s_name, p_partkey
      LIMIT 100"""
    )),

    // ---- Q3: shipping priority (o_shippriority → o_orderpriority).
    Q.Def("tpch_q3", (s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sumUnscaledDbl(urev, 4).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(desc_nulls_first("revenue"), asc_nulls_last("o_orderdate"),
          asc_nulls_last("l_orderkey"))
        .limit(10)
    }, Some("""
      SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
      ORDER BY revenue DESC NULLS FIRST, o_orderdate, l_orderkey
      LIMIT 10"""
    )),

    // ---- Q4: order priority checking (EXISTS semi join;
    // commit<receipt → shipped >90 days after order).
    Q.Def("tpch_q4", (s, dir) => {
      // r18 (guide §3.1): a left-semi keeping orders rows can only put
      // lineitem on the build side — streaming the FACT table needs the
      // EXISTS as inner join + distinct. (o_orderkey, o_orderpriority)
      // is distinct per order (priority is functionally dependent on
      // the key), so the per-priority counts are identical; the planner
      // picks the join strategy from sizes (broadcast of the 3-month
      // orders slice locally, shuffle at scale), no hint.
      val ordF = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        .join(ordF, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .distinct()
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }, Some("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        AND o_orderdate < TIMESTAMP '1997-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""
    )),

    // ---- Q5: local supplier volume (6-way join, c/s nation equality).
    Q.Def("tpch_q5", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sumUnscaledDbl(urev, 4).as("revenue"))
        .orderBy(desc_nulls_first("revenue"), asc_nulls_last("n_name"))
    }, Some("""
      SELECT n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC NULLS FIRST, n_name"""
    )),

    // ---- Q6: forecasting revenue change (pure scan-filter-agg).
    Q.Def("tpch_q6", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sumUnscaledDbl(u2(col("l_extendedprice")) * uf2(col("l_discount")), 4)
          .as("revenue"))
    }, Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""
    )),

    // ---- Q7: volume shipping between two nations (join-graph with two
    // nation roles + disjunctive pair predicate).
    Q.Def("tpch_q7", (s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("n1_key"),
        col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("n2_key"),
        col("n_name").as("cust_nation"))
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(n1, col("s_nationkey") === col("n1_key"))
        .join(n2, col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_12") ||
          (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_7"))
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumUnscaledDbl(urev, 4).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }, Some("""
      SELECT supp_nation, cust_nation, l_year,
        CAST(SUM(volume) AS DOUBLE) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
              CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_12')
                OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_7'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""
    )),

    // ---- Q8: national market share (conditional-agg ratio).
    Q.Def("tpch_q8", (s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("cn_key"),
        col("n_regionkey").as("cn_region"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))
      t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("c_nationkey") === col("cn_key"))
        .join(t(s, dir, "region").filter(col("r_name") === "AMERICA"),
          col("cn_region") === col("r_regionkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n2, col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sumUnscaledDbl(
            when(col("supp_nation") === "NATION_6", urev).otherwise(lit(0L)), 4)
          / sumUnscaledDbl(urev, 4)).as("mkt_share"))
        .orderBy(col("o_year"))
    }, Some("""
      SELECT o_year,
        CAST(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume ELSE 0 END) AS DOUBLE)
          / CAST(SUM(volume) AS DOUBLE) AS mkt_share
      FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
              CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
              n2.n_name AS supp_nation
            FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND p_type = 'ECONOMY') all_nations
      GROUP BY o_year
      ORDER BY o_year"""
    )),

    // ---- Q9: product-type profit (ps_supplycost → p_retailprice/10 per
    // unit; decimal sums split so the subtraction happens once, in double).
    Q.Def("tpch_q9", (s, dir) => {
      t(s, dir, "part").filter(col("p_name").like("%red%"))
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg((sumUnscaledDbl(urev, 4) -
          sumUnscaledDbl(u2(col("p_retailprice")) * u2(col("l_quantity")), 4) / 10.0d)
          .as("sum_profit"))
        .orderBy(asc_nulls_last("nation"), desc_nulls_first("o_year"))
    }, Some("""
      SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
          - CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / 10.0 AS sum_profit
      FROM part, supplier, lineitem, orders, nation
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
      GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)
      ORDER BY nation, o_year DESC NULLS FIRST"""
    )),

    // ---- Q10: returned-item reporting (top-20 customers by lost revenue).
    Q.Def("tpch_q10", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sumUnscaledDbl(urev, 4).as("revenue"))
        .orderBy(desc_nulls_first("revenue"), asc_nulls_last("c_custkey"))
        .limit(20)
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1997-10-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC NULLS FIRST, c_custkey
      LIMIT 20"""
    )),

    // ---- Q11: important stock identification (HAVING vs global scalar
    // subquery; partsupp value → lineitem extendedprice by NATION_13 supps).
    Q.Def("tpch_q11", (s, dir) => {
      // the scalar total joins back as a broadcast single-row relation —
      // no driver-side .first() (stays one declarative job at any scale)
      val natLi = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation").filter(col("n_name") === "NATION_13"),
          col("s_nationkey") === col("n_nationkey"))
      val total = natLi.agg(
        sumUnscaledDbl(u2(col("l_extendedprice")), 2).as("grand_total"))
      natLi.groupBy(col("l_partkey"))
        .agg(sumUnscaledDbl(u2(col("l_extendedprice")), 2).as("value"))
        .crossJoin(broadcast(total))
        .filter(col("value") > col("grand_total") * 0.001)
        .select(col("l_partkey"), col("value"))
        .orderBy(desc_nulls_first("value"), asc_nulls_last("l_partkey"))
    }, Some("""
      SELECT l_partkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_13'
      GROUP BY l_partkey
      HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) > (
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 0.001
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_13')
      ORDER BY value DESC NULLS FIRST, l_partkey"""
    )),

    // ---- Q12: shipping-mode priority classes (l_shipmode → derived
    // linenumber bucket; conditional two-way counts).
    Q.Def("tpch_q12", (s, dir) => {
      val shipmode = when(pmod(col("l_linenumber"), lit(3)) === 0, "AIR")
        .when(pmod(col("l_linenumber"), lit(3)) === 1, "SHIP").otherwise("TRUCK")
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .withColumn("l_shipmode", shipmode)
        .filter(col("l_shipmode").isin("AIR", "SHIP"))
        .groupBy(col("l_shipmode"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_shipmode"))
    }, Some("""
      SELECT l_shipmode,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM (SELECT o_orderpriority,
              CASE WHEN l_linenumber % 3 = 0 THEN 'AIR'
                   WHEN l_linenumber % 3 = 1 THEN 'SHIP'
                   ELSE 'TRUCK' END AS l_shipmode
            FROM orders, lineitem
            WHERE o_orderkey = l_orderkey
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01') x
      WHERE l_shipmode IN ('AIR','SHIP')
      GROUP BY l_shipmode
      ORDER BY l_shipmode"""
    )),

    // ---- Q13: customer order-count distribution (filtered LEFT OUTER
    // join + two-level aggregation).
    Q.Def("tpch_q13", (s, dir) => {
      // r18 (guide §2.3 aggregate before you shuffle): count orders per
      // o_custkey BEFORE the outer join, so the join carries one
      // (custkey, cnt) row per ordering customer instead of one row per
      // order, and the shuffled orders side is just the custkey column.
      // count(o_orderkey) over the old joined stream = cnt for matched
      // customers and 0 for unmatched (o_orderkey is never null in
      // orders), i.e. coalesce(cnt, 0) — same c_count per customer.
      val perCust = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc_nulls_first("custdist"), desc_nulls_first("c_count"))
    }, Some("""
      SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC NULLS FIRST, c_count DESC NULLS FIRST"""
    )),

    // ---- Q14: promotion effect (ratio of conditional agg).
    Q.Def("tpch_q14", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0d) *
          sumUnscaledDbl(when(col("p_type") === "PROMO", urev).otherwise(lit(0L)), 4) /
          sumUnscaledDbl(urev, 4)).as("promo_revenue"))
    }, Some("""
      SELECT 100.0 *
        CAST(SUM(CASE WHEN p_type = 'PROMO'
          THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
          ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '1997-09-01'
        AND l_shipdate < TIMESTAMP '1997-10-01'"""
    )),

    // ---- Q15: top supplier (CTE revenue view + scalar max subquery).
    Q.Def("tpch_q15", (s, dir) => {
      val revenue = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sumUnscaledDbl(urev, 4).as("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_rev"))
      t(s, dir, "supplier")
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .crossJoin(broadcast(maxRev))
        .filter(col("total_revenue") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }, Some("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      ORDER BY s_suppkey"""
    )),

    // ---- Q16: parts/supplier relationship (NOT IN anti join + distinct
    // count; partsupp → lineitem pairs, comment filter → s_acctbal < 0).
    Q.Def("tpch_q16", (s, dir) => {
      val badSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && !col("p_type").startsWith("STANDARD") &&
          col("p_size").isin(1, 15, 25, 35, 49))
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc_nulls_first("supplier_cnt"), asc_nulls_last("p_brand"),
          asc_nulls_last("p_type"), asc_nulls_last("p_size"))
    }, Some("""
      SELECT p_brand, p_type, p_size,
        COUNT(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand <> 'Brand#5' AND p_type NOT LIKE 'STANDARD%'
        AND p_size IN (1, 15, 25, 35, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC NULLS FIRST, p_brand, p_type, p_size"""
    )),

    // ---- Q17: small-quantity-order revenue (correlated avg subquery,
    // decorrelated into per-part avg join; container → p_type).
    Q.Def("tpch_q17", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val partAvg = li.groupBy(col("l_partkey").as("pa_partkey"))
        .agg((sumUnscaledDbl(u2(col("l_quantity")), 2) / count(lit(1)))
          .as("avg_qty"))
      t(s, dir, "part")
        .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
        .join(li, col("p_partkey") === col("l_partkey"))
        .join(partAvg, col("p_partkey") === col("pa_partkey"))
        .filter(col("l_quantity") < lit(0.2d) * col("avg_qty"))
        .agg((sumUnscaledDbl(u2(col("l_extendedprice")), 2) / 7.0d)
          .as("avg_yearly"))
    }, Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand = 'Brand#3' AND p_type = 'SMALL'
        AND l_quantity < 0.2 * (
          SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)"""
    )),

    // ---- Q18: large-volume customers (HAVING subquery feeding a
    // semi-join, then 3-way join re-aggregation).
    Q.Def("tpch_q18", (s, dir) => {
      // r18 (guide §2.4 remove shuffles): the HAVING subquery's
      // per-order qty sum IS the output's sum_qty — the final group keys
      // (c_name, c_custkey, o_orderdate, o_totalprice) are functionally
      // dependent on o_orderkey, so one aggregation serves both the
      // filter and the projection. One lineitem scan + one agg instead
      // of two scans + semi join + re-aggregation; sums are unscaled
      // longs (order-insensitive), so the value is bit-identical.
      val bigOrders = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("bo_orderkey"))
        .agg(sumUnscaledDbl(u2(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(bigOrders, col("o_orderkey") === col("bo_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(desc_nulls_first("o_totalprice"), asc_nulls_last("o_orderkey"))
        .limit(100)
    }, Some("""
      SELECT c_name, c_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250.0)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
      ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey
      LIMIT 100"""
    )),

    // ---- Q19: discounted revenue (disjunction of conjunctive join
    // predicates — the planner must still extract the equi-join).
    Q.Def("tpch_q19", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#17" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#25" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sumUnscaledDbl(urev, 4).as("revenue"))
    }, Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND (
        (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))"""
    )),

    // ---- Q20: potential part promotion (nested IN-subquery chain →
    // semi-join pipeline).
    Q.Def("tpch_q20", (s, dir) => {
      val redParts = t(s, dir, "part").filter(col("p_name").like("red%"))
        .select(col("p_partkey"))
      val bigSupp = t(s, dir, "lineitem")
        .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(sumUnscaledDbl(u2(col("l_quantity")), 2).as("qty"))
        .filter(col("qty") > 50.0)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(bigSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(t(s, dir, "nation").filter(col("n_name") === "NATION_13"),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }, Some("""
      SELECT s_name, s_acctbal
      FROM supplier
      WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          GROUP BY l_suppkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 50.0)
        AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_13')
      ORDER BY s_name"""
    )),

    // ---- Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS
    // over self-joined lineitem → semi + anti joins; late = shipped
    // >180 days after order date, status F).
    Q.Def("tpch_q21", (s, dir) => {
      // l1 (late line of a status-F order) and l3 (another supplier's
      // late line of the SAME order) are the same relation — the NOT
      // EXISTS order is l1's order, so its status filter is implied.
      // r18 (guide §2.4): the NOT EXISTS is a predicate ON the late
      // relation itself — "no OTHER supplier has a late line in this
      // order" ⟺ every late line of the order carries l1's suppkey ⟺
      // min(l_suppkey) = max(l_suppkey) over the order's late lines. A
      // window min/max over `late` replaces the lineitem-sized
      // SortMergeJoin LeftAnti (and late's second evaluation — one
      // li⋈orders pass instead of two); the EXISTS over full lineitem
      // stays a semi join. Same rows by construction (l1 is itself a
      // late line, so the window sees it).
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val late = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 180 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      val l1 = late
        .withColumn("__mn", min(col("l_suppkey")).over(w))
        .withColumn("__mx", max(col("l_suppkey")).over(w))
        .filter(col("__mn") === col("__mx")) // sole late supplier
        .select(col("l_orderkey").as("l1_orderkey"),
          col("l_suppkey").as("l1_suppkey"))
      val l2 = li.select(col("l_orderkey").as("l2_orderkey"),
        col("l_suppkey").as("l2_suppkey"))
      l1
        .join(l2, col("l2_orderkey") === col("l1_orderkey") &&
          col("l2_suppkey") =!= col("l1_suppkey"), "left_semi")
        .join(t(s, dir, "supplier"), col("l1_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation").filter(col("n_name") === "NATION_13"),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc_nulls_first("numwait"), asc_nulls_last("s_name"))
        .limit(100)
    }, Some("""
      SELECT s_name, COUNT(*) AS numwait
      FROM lineitem l1, orders, supplier, nation
      WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 180 DAY
        AND s_suppkey = l1.l_suppkey
        AND s_nationkey = n_nationkey AND n_name = 'NATION_13'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_orderkey = o3.o_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 180 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC NULLS FIRST, s_name
      LIMIT 100"""
    )),

    // ---- Q22: global sales opportunity (anti join + scalar avg
    // subquery; phone country code → c_nationkey % 10).
    Q.Def("tpch_q22", (s, dir) => {
      val cust = t(s, dir, "customer")
        .withColumn("cntrycode", pmod(col("c_nationkey"), lit(10)))
        .filter(col("cntrycode").isin(1, 2, 3, 4, 5, 6, 7))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((sumUnscaledDbl(u2(col("c_acctbal")), 2) / count(lit(1)))
          .as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sumUnscaledDbl(u2(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }, Some("""
      SELECT cntrycode, COUNT(*) AS numcust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
            FROM customer
            WHERE c_nationkey % 10 IN (1,2,3,4,5,6,7)
              AND c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                FROM customer
                WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1,2,3,4,5,6,7))) custsale
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      GROUP BY cntrycode
      ORDER BY cntrycode"""
    )),
  )
}

package graft.queries

import graft.GraftSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q.{dec2, frac2}

/** TPC-DS-inspired query shapes (the reference's second golden workload,
  * `testdata/workloads/tpcds/`) adapted to the driver schema. These
  * exercise the COMBINATIONS the TPC-H set doesn't: window-over-agg,
  * rollup with grouping(), conditional pivots, self-join cohorts,
  * correlated above-average filters, and top-n-per-group.
  */
object TpcdsQueries extends QueryGroup {

  private def rev = dec2(col("l_extendedprice")) * (lit(1) - frac2(col("l_discount")))

  def defs: Seq[Q.Def] = Seq(

    // ---- q_ds_above_avg (TPC-DS Q1 shape): customers whose total spend
    // exceeds 1.2x their nation's average spend.
    Q.Def("q_ds_above_avg", (s, dir) => {
      // decimal sums window-aggregate exactly; the avg becomes double
      // only in one deterministic division (no fp-order dependence)
      val perCust = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_nationkey"))
        .agg(sum(dec2(col("o_totalprice"))).as("spend_dec"))
      val w = Window.partitionBy(col("c_nationkey"))
      perCust
        .withColumn("nation_avg",
          sum(col("spend_dec")).over(w).cast("double") / count(lit(1)).over(w))
        .withColumn("spend", col("spend_dec").cast("double"))
        .filter(col("spend") > col("nation_avg") * 1.2)
        .select(col("c_custkey"), col("spend"))
        .orderBy(col("c_custkey"))
    }, Some("""
      WITH per_cust AS (
        SELECT c_custkey, c_nationkey,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend_dec
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_nationkey)
      SELECT c_custkey, CAST(spend_dec AS DOUBLE) AS spend
      FROM (SELECT c_custkey, spend_dec,
                   CAST(SUM(spend_dec) OVER (PARTITION BY c_nationkey) AS DOUBLE)
                     / COUNT(*) OVER (PARTITION BY c_nationkey) AS nation_avg
            FROM per_cust) x
      WHERE CAST(spend_dec AS DOUBLE) > nation_avg * 1.2
      ORDER BY c_custkey"""
    )),

    // ---- q_ds_topn_per_group (TPC-DS Q3 shape): top-3 parts by revenue
    // within each brand, via rank over aggregated revenue.
    Q.Def("q_ds_topn_per_group", (s, dir) => {
      val agg = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(sum(rev).cast("double").as("revenue"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(desc_nulls_first("revenue"), asc_nulls_last("p_partkey"))
      agg.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("rk"), col("p_partkey"), col("revenue"))
        .orderBy(col("p_brand"), col("rk"))
    }, Some("""
      WITH agg AS (
        SELECT p_brand, p_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey)
      SELECT p_brand, rk, p_partkey, revenue
      FROM (SELECT p_brand, p_partkey, revenue,
                   ROW_NUMBER() OVER (PARTITION BY p_brand
                     ORDER BY revenue DESC NULLS FIRST, p_partkey) AS rk
            FROM agg) x
      WHERE rk <= 3
      ORDER BY p_brand, rk"""
    )),

    // ---- q_ds_rollup_grouping (TPC-DS Q18/Q22 shape): rollup over
    // region/nation with grouping() markers distinguishing subtotal rows.
    Q.Def("q_ds_rollup_grouping", (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("bal"),
          grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"))
        .orderBy(asc_nulls_last("r_name"), asc_nulls_last("n_name"))
    }, Some("""
      SELECT r_name, n_name, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal,
             CAST(GROUPING(r_name) AS INT) AS g_r,
             CAST(GROUPING(n_name) AS INT) AS g_n
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY r_name ASC NULLS LAST, n_name ASC NULLS LAST"""
    )),

    // ---- q_ds_pivot (TPC-DS Q36/"channel" shape): conditional pivot of
    // order counts per priority class into columns, per market segment.
    Q.Def("q_ds_pivot", (s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("urgent"),
          sum(when(col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("high"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L)).as("rest"),
          count(lit(1)).as("total"))
        .orderBy(col("c_mktsegment"))
    }, Some("""
      SELECT c_mktsegment,
        CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
        CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS rest,
        COUNT(*) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""
    )),

    // ---- q_ds_cohort (TPC-DS Q4/Q11 shape): customers with purchases in
    // BOTH 1997 and 1998 whose 1998 spend grew.
    Q.Def("q_ds_cohort", (s, dir) => {
      val byYear = t(s, dir, "orders")
        .groupBy(col("o_custkey"), year(col("o_orderdate")).as("yr"))
        .agg(sum(dec2(col("o_totalprice"))).cast("double").as("spend"))
      val y97 = byYear.filter(col("yr") === 1997)
        .select(col("o_custkey").as("ck"), col("spend").as("spend97"))
      val y98 = byYear.filter(col("yr") === 1998)
        .select(col("o_custkey").as("ck98"), col("spend").as("spend98"))
      y97.join(y98, col("ck") === col("ck98"))
        .filter(col("spend98") > col("spend97"))
        .select(col("ck").as("c_custkey"), col("spend97").as("s97"),
          col("spend98").as("s98"))
        .orderBy(col("c_custkey"))
    }, Some("""
      WITH by_year AS (
        SELECT o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS INT))
      SELECT a.o_custkey AS c_custkey, a.spend AS s97, b.spend AS s98
      FROM by_year a JOIN by_year b ON a.o_custkey = b.o_custkey
      WHERE a.yr = 1997 AND b.yr = 1998 AND b.spend > a.spend
      ORDER BY c_custkey"""
    )),

    // ---- q_ds_share (TPC-DS Q47 shape): each nation's monthly revenue
    // with its share of the month total (window sum over agg).
    Q.Def("q_ds_share", (s, dir) => {
      val monthly = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name"),
          date_format(col("l_shipdate"), "yyyy-MM").as("mth"))
        .agg(sum(rev).as("rev_dec"))
      val w = Window.partitionBy(col("mth"))
      monthly
        .withColumn("share",
          col("rev_dec").cast("double") / sum(col("rev_dec")).over(w).cast("double"))
        .select(col("n_name"), col("mth"),
          col("rev_dec").cast("double").as("revenue"), col("share"))
        .orderBy(col("mth"), col("n_name"))
    }, Some("""
      WITH monthly AS (
        SELECT n_name, STRFTIME(l_shipdate, '%Y-%m') AS mth,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name, STRFTIME(l_shipdate, '%Y-%m'))
      SELECT n_name, mth, CAST(rev_dec AS DOUBLE) AS revenue,
             CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER (PARTITION BY mth) AS DOUBLE) AS share
      FROM monthly
      ORDER BY mth, n_name"""
    )),

    // ---- q_ds_exists_window (mixing decorrelated EXISTS with windows):
    // suppliers having at least one top-decile line, with their rank.
    Q.Def("q_ds_exists_window", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val w = Window.orderBy(desc_nulls_first("total"), asc_nulls_last("l_suppkey"))
      val perSupp = li.groupBy(col("l_suppkey"))
        .agg(sum(rev).cast("double").as("total"))
      val bigLines = li.filter(col("l_extendedprice") > 90000.0)
        .select(col("l_suppkey").as("bs")).distinct()
      perSupp.join(bigLines, col("l_suppkey") === col("bs"), "left_semi")
        .withColumn("rk", row_number().over(w))
        .select(col("l_suppkey"), col("total"), col("rk"))
        .orderBy(col("rk"))
    }, Some("""
      WITH per_supp AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total
        FROM lineitem GROUP BY l_suppkey)
      SELECT l_suppkey, total,
             ROW_NUMBER() OVER (ORDER BY total DESC NULLS FIRST, l_suppkey) AS rk
      FROM per_supp
      WHERE EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_suppkey = per_supp.l_suppkey
                      AND l2.l_extendedprice > 90000.0)
      ORDER BY rk"""
    )),

    // ---- q_ds_multi_cte (TPC-DS Q95 shape): chained CTEs — filtered
    // fact, derived dimension, final join-aggregate.
    Q.Def("q_ds_multi_cte", (s, dir) => {
      GraftSession.registerAll(s, dir)
      s.sql("""
        WITH busy_parts AS (
          SELECT l_partkey, COUNT(*) AS n
          FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 40),
        part_rev AS (
          SELECT l.l_partkey,
                 SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS gross
          FROM lineitem l
          JOIN busy_parts b ON l.l_partkey = b.l_partkey
          GROUP BY l.l_partkey)
        SELECT p.p_brand,
               COUNT(*) AS n_parts,
               CAST(SUM(pr.gross) AS DOUBLE) AS brand_gross
        FROM part_rev pr JOIN part p ON pr.l_partkey = p.p_partkey
        GROUP BY p.p_brand
        ORDER BY p.p_brand""")
    }, Some("""
      WITH busy_parts AS (
        SELECT l_partkey, COUNT(*) AS n
        FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 40),
      part_rev AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS gross
        FROM lineitem l
        JOIN busy_parts b ON l.l_partkey = b.l_partkey
        GROUP BY l.l_partkey)
      SELECT p.p_brand, COUNT(*) AS n_parts,
             CAST(SUM(pr.gross) AS DOUBLE) AS brand_gross
      FROM part_rev pr JOIN part p ON pr.l_partkey = p.p_partkey
      GROUP BY p.p_brand
      ORDER BY p.p_brand"""
    )),
  )
}

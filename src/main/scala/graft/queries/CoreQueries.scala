package graft.queries

import org.apache.spark.sql.functions._
import Q.{dec2, frac2}

/** Scan / filter / aggregate / sort core — the minimum end-to-end slice
  * (SURVEY.md §7.2 slices 1–2) plus the global-agg and top-k paths.
  *
  * Reference operators covered: HdfsScanNode (parquet scan w/ pushdown,
  * `be/src/exec/hdfs-scan-node-base.h`), SelectNode conjunct evaluation
  * (`be/src/exec/select-node.h:53`), AggregationNode/GroupingAggregator
  * (`be/src/exec/grouping-aggregator.h`), NonGroupingAggregator
  * (`be/src/exec/non-grouping-aggregator.h:69`), SortNode/TopNNode
  * (`be/src/exec/sort-node.h`, `topn-node.h:72`).
  */
object CoreQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- TPC-H Q1 adapted to the fixture schema: the flagship
    // scan→filter→hash-agg→sort slice (tpch-q1.test:1-31 in the reference).
    Q.Def("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - frac2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - frac2(col("l_discount")))
            * (lit(1) + frac2(col("l_tax")))).cast("double").as("sum_charge"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          (sum(frac2(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
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
      WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""
    )),

    // ---- projection + selective filter; filter and 3-column ReadSchema
    // must reach the parquet scan (PushedFilters in .explain).
    Q.Def("q_scan_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") >= lit(49.0) && col("l_discount") >= lit(0.09))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      FROM lineitem
      WHERE l_quantity >= 49.0 AND l_discount >= 0.09
      ORDER BY l_orderkey, l_linenumber"""
    )),

    // ---- compound predicates: AND/OR/NOT, IN list, BETWEEN, LIKE, <=>
    // (BinaryPredicate/CompoundPredicate/InPredicate/LikePredicate,
    // be/src/exprs/*-predicate*.h).
    Q.Def("q_filter_complex", (s, dir) => {
      t(s, dir, "orders")
        .filter(
          (col("o_orderstatus").isin("F", "O") && !(col("o_totalprice") < 5000.0)
            || col("o_orderpriority").like("1-%"))
          && col("o_custkey").between(100, 1200)
          && col("o_orderpriority").rlike("^[0-9]-[A-Z]+$"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
      WHERE ((o_orderstatus IN ('F','O') AND NOT (o_totalprice < 5000.0))
             OR o_orderpriority LIKE '1-%')
        AND o_custkey BETWEEN 100 AND 1200
        AND regexp_matches(o_orderpriority, '^[0-9]-[A-Z]+$')
      ORDER BY o_orderkey"""
    )),

    // ---- non-grouping (global) aggregate: one output row.
    Q.Def("q_agg_global", (s, dir) => {
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        count(col("l_orderkey")).as("n_orderkey"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        min(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("min_ship"),
        max(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("max_ship"))
    }, Some("""
      SELECT COUNT(*) AS n_rows,
             COUNT(l_orderkey) AS n_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
             MIN(l_quantity) AS min_qty,
             MAX(l_quantity) AS max_qty,
             MIN(strftime(l_shipdate, '%Y-%m-%d')) AS min_ship,
             MAX(strftime(l_shipdate, '%Y-%m-%d')) AS max_ship
      FROM lineitem"""
    )),

    // ---- ORDER BY + LIMIT → TakeOrderedAndProject (TopNNode,
    // be/src/exec/topn-node.h:72). Impala NULL ordering default:
    // DESC → NULLS FIRST (OrderByElement.java:115-116); no NULLs in
    // these columns so orderings agree — dedicated NULL-order query below.
    Q.Def("q_topn", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .orderBy(desc_nulls_first("o_totalprice"), asc_nulls_last("o_orderkey"))
        .limit(25)
    }, Some("""
      SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS o_date
      FROM orders
      ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey ASC NULLS LAST
      LIMIT 25"""
    )),

    // ---- LIMIT + OFFSET over a total sort (LimitElement.java offset).
    Q.Def("q_offset_limit", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(desc_nulls_first("c_acctbal"), asc_nulls_last("c_custkey"))
        .offset(10).limit(20)
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      ORDER BY c_acctbal DESC NULLS FIRST, c_custkey ASC NULLS LAST
      LIMIT 20 OFFSET 10"""
    )),

    // ---- Impala default NULL ordering (ASC→NULLS LAST, DESC→NULLS FIRST
    // — the opposite of Spark's default; SURVEY §7.4 risk 3). NULLs
    // injected via nullif so ordering is actually exercised.
    Q.Def("q_sort_nulls", (s, dir) => {
      t(s, dir, "supplier")
        .select(col("s_suppkey"),
          nullif(col("s_nationkey"), lit(7)).as("nk"),
          col("s_acctbal"))
        .orderBy(asc_nulls_last("nk"), desc_nulls_first("s_acctbal"),
          asc_nulls_last("s_suppkey"))
    }, Some("""
      SELECT s_suppkey, nullif(s_nationkey, 7) AS nk, s_acctbal
      FROM supplier
      ORDER BY nk ASC NULLS LAST, s_acctbal DESC NULLS FIRST, s_suppkey ASC NULLS LAST"""
    )),

    // ---- PartialSortNode (be/src/exec/partial-sort-node.h:67,
    // TSortType PARTIAL): per-partition sort, no global order. The
    // oracle compares content (the driver sort-normalizes), which is
    // exactly the PARTIAL contract — rows unchanged, order local.
    Q.Def("q_partial_sort", (s, dir) => {
      t(s, dir, "lineitem")
        .repartition(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .filter(col("l_orderkey") < 3000)
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_orderkey < 3000"""
    )),

    // ---- exchange semantics (krpc-data-stream-sender.cc HASH/RANDOM
    // partitioning): repartitioning must be content-preserving (every
    // row in exactly one partition), populate all 16 partitions, and
    // spread keys (hottest partition ≤ 2× mean — deterministic for
    // Spark's murmur hash partitioning).
    Q.Def("q_exchange_repartition", (s, dir) => {
      t(s, dir, "orders")
        .repartition(16, col("o_custkey"))
        .groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).cast("int").as("n_partitions"),
          sum(col("n")).cast("long").as("total_rows"),
          (max(col("n")) <= (sum(col("n")) / 16) * 2).as("balanced"))
    }, Some("""
      SELECT 16 AS n_partitions,
             (SELECT COUNT(*) FROM orders) AS total_rows,
             TRUE AS balanced"""
    )),

    // ---- deterministic TABLESAMPLE analog (TableSampleClause.java:27-30):
    // hash-free modulus sample so Spark and the oracle agree exactly.
    Q.Def("q_sample_det", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(97)) === 0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_orderkey % 97 = 0
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""
    )),
  )
}

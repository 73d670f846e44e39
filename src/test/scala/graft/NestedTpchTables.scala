package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The nested TPC-H catalog — the reference's flagship nested-types
  * workload (`testdata/workloads/tpch_nested/queries/tpch_nested-q*
  * .test`, built by `testdata/bin/load_nested.py`):
  *
  *   - `customer` gains `c_orders ARRAY<STRUCT<…o_lineitems
  *     ARRAY<STRUCT<…>>>>` (orders lose o_custkey, lineitems lose
  *     l_orderkey — the containment encodes the keys);
  *   - `region` gains `r_nations ARRAY<STRUCT<n_nationkey,n_name,
  *     n_comment>>`;
  *   - `supplier` gains `s_partsupps ARRAY<STRUCT<ps_partkey,
  *     ps_availqty,ps_supplycost,ps_comment>>`;
  *   - `part` stays flat.
  *
  * Source data is the substituted flat catalog ([[TpchSubstitutions]]),
  * so every nested query's results equal its flat counterpart's.
  *
  * Dates ride as STRING inside the nested structs, mirroring
  * load_nested.py's schema (predicates compare lexicographically, which
  * is equivalent for ISO dates), and date-ONLY
  * ('YYYY-MM-DD', as load_nested's source data renders) — boundary
  * predicates like `l_shipdate <= '1998-09-02'` must admit the boundary
  * day, which a 'YYYY-MM-DD HH:MM:SS' rendering would lexicographically
  * exclude. Customers/orders/suppliers with no
  * children carry EMPTY arrays — load_nested's RIGHT JOIN + text load
  * yields NULL collections instead, but every gated query treats the
  * two identically (LEFT JOIN counts 0, EXISTS false), and the
  * null-safe HOF rewrites in graft.NestedRefs handle both.
  *
  * Built once per fixture dir and JVM into a fresh temp dir as parquet
  * (customer bucket-free single write; two shuffles — group lineitems
  * by order, orders by customer — the same shape load_nested.py uses,
  * which partitions and scales linearly on a cluster).
  */
object NestedTpchTables {

  private val lineitemStructDdl =
    """ARRAY<STRUCT<l_partkey: BIGINT, l_suppkey: BIGINT,
      |l_linenumber: INT, l_quantity: DECIMAL(12,2),
      |l_extendedprice: DECIMAL(12,2), l_discount: DECIMAL(12,2),
      |l_tax: DECIMAL(12,2), l_returnflag: STRING, l_linestatus: STRING,
      |l_shipdate: STRING, l_commitdate: STRING, l_receiptdate: STRING,
      |l_shipinstruct: STRING, l_shipmode: STRING, l_comment: STRING>>"""
      .stripMargin.replace("\n", " ")

  /** fixture dir -> the temp dir its nested tables were built into */
  private val built = scala.collection.mutable.Map.empty[String, String]

  /** Register the nested catalog over a fixture dir: flat substituted
    * views first ([[TpchSubstitutions]]), then customer/region/supplier
    * replaced by their nested forms read from the parquet build (created
    * on the JVM's first use of the dir).
    */
  def register(spark: SparkSession, dir: String): Unit = synchronized {
    TpchSubstitutions.register(spark, dir)
    val root = built.getOrElseUpdate(dir, build(spark))
    Seq("customer", "region", "supplier").foreach { t =>
      spark.read.parquet(s"$root/$t").createOrReplaceTempView(t)
    }
  }

  private def build(spark: SparkSession): String = {
    val root = Files.createTempDirectory("graft-tpch-nested").toString
    buildSqls.foreach { case (table, sql) =>
      spark.sql(sql).write.parquet(s"$root/$table")
    }
    root
  }

  /** table -> derivation SQL, in build order. */
  private def buildSqls: Seq[(String, String)] = Seq(
    "customer" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, array_sort(collect_list(named_struct(
         |    'l_partkey', l_partkey, 'l_suppkey', l_suppkey,
         |    'l_linenumber', l_linenumber, 'l_quantity', l_quantity,
         |    'l_extendedprice', l_extendedprice, 'l_discount', l_discount,
         |    'l_tax', l_tax, 'l_returnflag', l_returnflag,
         |    'l_linestatus', l_linestatus,
         |    'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS STRING),
         |    'l_commitdate', CAST(CAST(l_commitdate AS DATE) AS STRING),
         |    'l_receiptdate', CAST(CAST(l_receiptdate AS DATE) AS STRING),
         |    'l_shipinstruct', l_shipinstruct, 'l_shipmode', l_shipmode,
         |    'l_comment', CASE ((l_orderkey + l_linenumber) % 3)
         |      WHEN 0 THEN 'carefully final packages'
         |      WHEN 1 THEN 'quickly ironic deposits' ELSE 'pending foxes'
         |    END))) AS o_lineitems
         |  FROM lineitem GROUP BY l_orderkey),
         |ord AS (
         |  SELECT o.o_custkey, named_struct(
         |    'o_orderkey', o.o_orderkey, 'o_orderstatus', o.o_orderstatus,
         |    'o_totalprice', o.o_totalprice,
         |    'o_orderdate', CAST(CAST(o.o_orderdate AS DATE) AS STRING),
         |    'o_orderpriority', o.o_orderpriority, 'o_clerk', o.o_clerk,
         |    'o_shippriority', o.o_shippriority, 'o_comment', o.o_comment,
         |    'o_lineitems',
         |      coalesce(li.o_lineitems, CAST(array() AS $lineitemStructDdl))
         |  ) AS ord
         |  FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
         |SELECT c.c_custkey, c.c_name, c.c_address, c.c_nationkey,
         |  c.c_phone, c.c_acctbal, c.c_mktsegment, c.c_comment,
         |  coalesce(g.c_orders, array()) AS c_orders
         |FROM customer c LEFT JOIN (
         |  SELECT o_custkey, array_sort(collect_list(ord)) AS c_orders
         |  FROM ord GROUP BY o_custkey) g
         |ON g.o_custkey = c.c_custkey""".stripMargin,

    // the raw region fixture has no r_comment; derive one (no golden
    // query reads it — schema fidelity only)
    "region" ->
      """SELECT r.r_regionkey, r.r_name,
        |  concat('region comment ', r.r_regionkey) AS r_comment,
        |  array_sort(collect_list(named_struct(
        |    'n_nationkey', n.n_nationkey, 'n_name', n.n_name,
        |    'n_comment', concat('nation comment ', n.n_nationkey))))
        |    AS r_nations
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_regionkey, r.r_name""".stripMargin,

    "supplier" ->
      """SELECT s.s_suppkey, s.s_name, s.s_address, s.s_nationkey,
        |  s.s_phone, s.s_acctbal, s.s_comment,
        |  coalesce(g.s_partsupps, array()) AS s_partsupps
        |FROM supplier s LEFT JOIN (
        |  SELECT ps_suppkey, array_sort(collect_list(named_struct(
        |    'ps_partkey', ps_partkey, 'ps_availqty', ps_availqty,
        |    'ps_supplycost', ps_supplycost,
        |    'ps_comment', concat('partsupp comment ', ps_partkey))))
        |    AS s_partsupps
        |  FROM partsupp GROUP BY ps_suppkey) g
        |ON g.ps_suppkey = s.s_suppkey""".stripMargin)
}

package graft

import org.apache.spark.sql.SparkSession

/** The substituted flat TPC-H catalog FunctionalGoldenSpec runs the
  * reference's `tpch.`-prefixed functional queries over: the fixture's
  * missing TPC-H columns supplied by deterministic substitution views
  * (plain ANSI SQL over the raw fixture tables), and the base of
  * [[NestedTpchTables]].
  *
  * Substitutions (all keyed on existing integer columns, documented
  * deltas from the real TPC-H generator):
  *   - nation.n_name/n_regionkey → the 25 spec nation names AND their
  *     spec region assignment by n_nationkey (the fixture's raw
  *     n_regionkey is nationkey%5, which puts e.g. FRANCE in AMERICA —
  *     golden rows pinned to the spec mapping require the derivation)
  *   - part.p_name/p_type/p_size/p_container/p_mfgr → spec-shaped
  *     derivations (color words, 3-word types, 1-50 sizes, container
  *     pairs) so golden LIKE/IN predicates select non-trivial subsets
  *   - customer/supplier phone/address/comment → spec-format derivations
  *     (phone country code = 10 + nationkey, as in the spec)
  *   - orders.o_shippriority/o_comment, lineitem.l_shipmode/
  *     l_shipinstruct/l_commitdate/l_receiptdate → deterministic buckets
  *   - partsupp → distinct (l_partkey, l_suppkey) with min sale price as
  *     ps_supplycost and a count-derived ps_availqty
  *   - all dates shifted back 730 days (fixture spans 1995-2001; the
  *     golden queries' literal windows span 1993-1998)
  *   - money columns served as DECIMAL(12,2)
  */
object TpchSubstitutions {

  private val colorCase =
    """CASE (%s %% 7) WHEN 0 THEN 'forest' WHEN 1 THEN 'green'
      |  WHEN 2 THEN 'red' WHEN 3 THEN 'blue' WHEN 4 THEN 'ivory'
      |  WHEN 5 THEN 'navy' ELSE 'misty' END""".stripMargin

  /** tableName → substitution SELECT over the raw fixture tables. */
  val substitutions: Seq[(String, String)] = Seq(
    "nation" ->
      """SELECT n_nationkey,
        |  CASE n_nationkey
        |    WHEN 0 THEN 'ALGERIA' WHEN 1 THEN 'ARGENTINA' WHEN 2 THEN 'BRAZIL'
        |    WHEN 3 THEN 'CANADA' WHEN 4 THEN 'EGYPT' WHEN 5 THEN 'ETHIOPIA'
        |    WHEN 6 THEN 'FRANCE' WHEN 7 THEN 'GERMANY' WHEN 8 THEN 'INDIA'
        |    WHEN 9 THEN 'INDONESIA' WHEN 10 THEN 'IRAN' WHEN 11 THEN 'IRAQ'
        |    WHEN 12 THEN 'JAPAN' WHEN 13 THEN 'JORDAN' WHEN 14 THEN 'KENYA'
        |    WHEN 15 THEN 'MOROCCO' WHEN 16 THEN 'MOZAMBIQUE' WHEN 17 THEN 'PERU'
        |    WHEN 18 THEN 'CHINA' WHEN 19 THEN 'ROMANIA' WHEN 20 THEN 'SAUDI ARABIA'
        |    WHEN 21 THEN 'VIETNAM' WHEN 22 THEN 'RUSSIA'
        |    WHEN 23 THEN 'UNITED KINGDOM' ELSE 'UNITED STATES' END AS n_name,
        |  CASE n_nationkey
        |    WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 1
        |    WHEN 4 THEN 4 WHEN 5 THEN 0 WHEN 6 THEN 3 WHEN 7 THEN 3
        |    WHEN 8 THEN 2 WHEN 9 THEN 2 WHEN 10 THEN 4 WHEN 11 THEN 4
        |    WHEN 12 THEN 2 WHEN 13 THEN 4 WHEN 14 THEN 0 WHEN 15 THEN 0
        |    WHEN 16 THEN 0 WHEN 17 THEN 1 WHEN 18 THEN 2 WHEN 19 THEN 3
        |    WHEN 20 THEN 4 WHEN 21 THEN 2 WHEN 22 THEN 3 WHEN 23 THEN 3
        |    ELSE 1 END AS n_regionkey
        |FROM nation""".stripMargin,
    "customer" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment,
        |  '' || (10 + c_nationkey) || '-' || (100 + c_custkey % 900) || '-' ||
        |    (100 + (c_custkey * 7) % 900) || '-' || (1000 + c_custkey % 9000)
        |    AS c_phone,
        |  'Address row ' || c_custkey AS c_address,
        |  CASE WHEN c_custkey % 11 = 0 THEN 'accounts wake furiously final'
        |       ELSE 'regular pending accounts' END AS c_comment
        |FROM customer""".stripMargin,
    "supplier" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        |  CAST(s_acctbal AS DECIMAL(12,2)) AS s_acctbal,
        |  'Supplier address ' || s_suppkey AS s_address,
        |  '' || (10 + s_nationkey) || '-' || (100 + s_suppkey % 900) || '-' ||
        |    (100 + (s_suppkey * 7) % 900) || '-' || (1000 + s_suppkey % 9000)
        |    AS s_phone,
        |  CASE WHEN s_suppkey % 13 = 0 THEN 'ironic Customer Complaints sleep'
        |       ELSE 'quiet final deliveries' END AS s_comment
        |FROM supplier""".stripMargin,
    "part" ->
      s"""SELECT p_partkey,
         |  ${colorCase.format("p_partkey")} || ' ' ||
         |  ${colorCase.format("(p_partkey + 3)")} || ' part ' || p_partkey
         |    AS p_name,
         |  p_brand,
         |  p_type || ' ' ||
         |    CASE (p_partkey % 5) WHEN 0 THEN 'ANODIZED' WHEN 1 THEN 'BURNISHED'
         |      WHEN 2 THEN 'PLATED' WHEN 3 THEN 'POLISHED' ELSE 'BRUSHED' END
         |    || ' ' ||
         |    CASE ((p_partkey % 11) % 5) WHEN 0 THEN 'TIN' WHEN 1 THEN 'NICKEL'
         |      WHEN 2 THEN 'BRASS' WHEN 3 THEN 'STEEL' ELSE 'COPPER' END
         |    AS p_type,
         |  1 + (p_partkey % 50) AS p_size,
         |  CASE (p_partkey % 4) WHEN 0 THEN 'SM' WHEN 1 THEN 'MED'
         |    WHEN 2 THEN 'LG' ELSE 'JUMBO' END || ' ' ||
         |  CASE ((p_partkey % 13) % 4) WHEN 0 THEN 'CASE' WHEN 1 THEN 'BOX'
         |    WHEN 2 THEN 'PACK' ELSE 'PKG' END AS p_container,
         |  'Manufacturer#' || (1 + p_partkey % 5) AS p_mfgr,
         |  CAST(p_retailprice AS DECIMAL(12,2)) AS p_retailprice
         |FROM part""".stripMargin,
    "orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
        |  o_orderdate - INTERVAL 730 DAY AS o_orderdate,
        |  o_orderpriority,
        |  'Clerk#' || (1 + o_orderkey % 1000) AS o_clerk,
        |  0 AS o_shippriority,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'furiously special packages requests'
        |       ELSE 'carefully regular deposits' END AS o_comment
        |FROM orders""".stripMargin,
    "lineitem" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |  CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice,
        |  CAST(l_discount AS DECIMAL(12,2)) AS l_discount,
        |  CAST(l_tax AS DECIMAL(12,2)) AS l_tax,
        |  l_returnflag, l_linestatus,
        |  l_shipdate - INTERVAL 730 DAY AS l_shipdate,
        |  l_shipdate - INTERVAL 730 DAY
        |    + (((l_orderkey + l_linenumber) % 10 - 4) * INTERVAL 1 DAY)
        |    AS l_commitdate,
        |  l_shipdate - INTERVAL 730 DAY
        |    + (((l_orderkey * 3 + l_linenumber) % 7) * INTERVAL 1 DAY)
        |    AS l_receiptdate,
        |  CASE ((l_orderkey + l_linenumber) % 4) WHEN 0 THEN 'DELIVER IN PERSON'
        |    WHEN 1 THEN 'COLLECT COD' WHEN 2 THEN 'NONE'
        |    ELSE 'TAKE BACK RETURN' END AS l_shipinstruct,
        |  CASE (l_linenumber % 7) WHEN 0 THEN 'AIR' WHEN 1 THEN 'AIR REG'
        |    WHEN 2 THEN 'SHIP' WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'MAIL'
        |    WHEN 5 THEN 'RAIL' ELSE 'FOB' END AS l_shipmode,
        |  CASE ((l_orderkey + l_linenumber) % 3)
        |    WHEN 0 THEN 'carefully final packages'
        |    WHEN 1 THEN 'quickly ironic deposits'
        |    ELSE 'pending foxes' END AS l_comment
        |FROM lineitem""".stripMargin,
    "partsupp" ->
      """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost,
        |  COUNT(*) * 50 AS ps_availqty
        |FROM lineitem
        |GROUP BY l_partkey, l_suppkey""".stripMargin,
  )

  /** Register the fixture tables, then the substitutions as temp views
    * under the target names (`region` is served raw: its fixture values
    * are already the spec names). Every derivation frame is resolved
    * against the RAW fixture views first (DataFrames hold resolved
    * plans), then the views are replaced, so substitutions never see
    * each other.
    */
  def register(spark: SparkSession, dir: String): Unit = {
    GraftSession.registerAll(spark, dir)
    val frames = substitutions.map { case (n, sql) => n -> spark.sql(sql) }
    frames.foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }
}

package graft.queries

import graft.GoldenTest
import org.apache.spark.sql.SparkSession

/** The functional-suite face of the nested TPC-H workload
  * (`testdata/workloads/functional-query/queries/QueryTest/
  * nested-types-tpch.test`, runner `tests/query_test/
  * test_nested_types.py` TestTpchNestedTypes): collection refs
  * through multi-level paths (`customer.c_orders.o_lineitems`),
  * LEFT ANTI against a collection, the `.item`/`pos` virtual columns,
  * zero-slot collection unnests (IMPALA-2335/2229/2338), analytics
  * over subplan output (IMPALA-2357), and correlated non-grouping
  * aggregates (IMPALA-4049).
  *
  * The file's inline RESULTS are bound to the reference's SF1 load, so
  * these gate through the driver's DuckDB oracle instead: each nested
  * query runs VERBATIM over the derived nested catalog
  * (graft.sources.NestedTpchTables) while the oracle replays a
  * hand-derived FLAT equivalent over the substituted raw parquet —
  * `pos` maps to `row_number() over (partition by parent order by
  * <array_sort struct field order>) - 1`, exactly how the nesting
  * build (array_sort of named_struct) assigns positions.
  *
  * Excluded: the file's two `tpch_parquet.*` "relational version"
  * blocks (plain flat SQL, zero nested surface).
  */
object NestedFunctionalQueries extends QueryGroup {

  // …/workloads/tpch_nested/queries → …/workloads
  private val file = GoldenTest.tpchNestedQueryDir
    .getParent.getParent
    .resolve("functional-query/queries/QueryTest/nested-types-tpch.test")

  /** 0-based case index → flat DuckDB oracle (run through the golden
    * substitution catalog, so n_name etc. match both engines).
    */
  private val flatOracles: Map[Int, String] = Map(
    0 -> """SELECT count(*) FROM customer c
           |JOIN orders o ON o.o_custkey = c.c_custkey
           |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           |WHERE c.c_custkey IN (1, 2)
           |  AND o.o_orderkey IN (4808192, 1374019)""".stripMargin,
    1 -> "SELECT count(*) FROM lineitem",
    2 -> "SELECT count(l_linenumber) FROM lineitem",
    3 -> "SELECT count(*) FROM lineitem",
    6 -> """SELECT c_custkey FROM customer
           |WHERE c_custkey < 10 AND NOT EXISTS
           |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin,
    7 -> """SELECT c_custkey, c_name, o_orderkey, o_orderpriority
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_custkey < 100
           |ORDER BY o_orderpriority, o_orderkey
           |LIMIT 10""".stripMargin,
    8 -> """SELECT t2.s_name
           |FROM customer t1
           |JOIN supplier t2
           |  ON t2.s_phone = t1.c_phone AND t2.s_acctbal = t1.c_acctbal
           |JOIN partsupp t3 ON t3.ps_suppkey = t2.s_suppkey
           |WHERE t2.s_suppkey > t2.s_nationkey""".stripMargin,
    9 -> """SELECT r_regionkey, p_retailprice
           |FROM (SELECT p1.p_partkey, p2.p_retailprice, p2.p_mfgr
           |      FROM part p1 INNER JOIN part p2 ON p1.p_partkey = p2.p_partkey
           |      WHERE p1.p_partkey < 100 AND p2.p_partkey < 100) t2
           |RIGHT JOIN (SELECT r.r_name, r.r_regionkey
           |            FROM region r JOIN nation n
           |              ON n.n_regionkey = r.r_regionkey
           |            WHERE r.r_name = 'AFRICA') t1
           |  ON t1.r_regionkey = t2.p_partkey""".stripMargin,
    10 -> """WITH li AS (
            |  SELECT l_orderkey, l_linenumber,
            |    row_number() OVER (PARTITION BY l_orderkey
            |      ORDER BY l_partkey, l_suppkey, l_linenumber) - 1 AS pos
            |  FROM lineitem)
            |SELECT COALESCE(t2.p_size, t4.pos, o.o_orderkey) AS int_col,
            |  COUNT(*)
            |FROM customer t1
            |LEFT JOIN part t2 ON t1.c_custkey = t2.p_partkey
            |JOIN orders o ON o.o_custkey = t1.c_custkey
            |JOIN li t4 ON t4.l_orderkey = o.o_orderkey
            |WHERE t1.c_custkey < 100 AND t2.p_partkey < 100
            |GROUP BY 1
            |HAVING COALESCE(t2.p_size, t4.pos, o.o_orderkey) <= 5
            |ORDER BY 1""".stripMargin,
    11 -> """SELECT o_orderkey, r FROM
            |  (SELECT o_orderkey,
            |     count(*) OVER (ORDER BY o_orderkey DESC) r
            |   FROM orders) v
            |ORDER BY o_orderkey LIMIT 1""".stripMargin,
    12 -> """SELECT c_custkey, 1 AS cnt1
            |FROM customer
            |WHERE (SELECT count(*) FROM orders
            |       WHERE o_custkey = c_custkey) = 1
            |ORDER BY c_custkey""".stripMargin,
    13 -> """WITH x AS (
            |  SELECT n_name,
            |    row_number() OVER (PARTITION BY n_regionkey
            |      ORDER BY n_nationkey) - 1 AS pos
            |  FROM nation)
            |SELECT pos, count(*) FROM x
            |WHERE n_name IN ('UNITED KINGDOM', 'RUSSIA', 'ROMANIA',
            |  'GERMANY', 'FRANCE', 'SAUDI ARABIA', 'JORDAN', 'IRAQ',
            |  'IRAN', 'EGYPT')
            |GROUP BY pos""".stripMargin)

  override def inputs: Seq[java.nio.file.Path] =
    Seq(GoldenTest.tpchQueryDir, GoldenTest.tpchNestedQueryDir, file)

  def defs: Seq[Q.Def] =
    if (missingInputs.nonEmpty) Seq.empty
    else {
      val cases = GoldenTest.load(file)
      flatOracles.toSeq.sortBy(_._1).flatMap { case (i, flat) =>
        cases.lift(i).map { c =>
          val fake = GoldenTest.Case("", flat, c.types, 0)
          GoldenQueries.catalog.goldenDefVia(s"nested_fn_q$i", fake,
            c.types,
            (s: SparkSession, dir: String) => {
              graft.sources.NestedTpchTables.register(s, dir)
              graft.ImpalaDialect.sql(s, c.query.stripSuffix(";"))
            })
        }
      }
    }
}

package graft.queries

import graft.GoldenTest
import org.apache.spark.sql.SparkSession

/** The reference's SUBPLAN operator shapes over nested collections
  * (`testdata/workloads/functional-query/queries/QueryTest/
  * nested-types-subplan.test`, planner `fe/.../planner/SubplanNode
  * .java`, runtime `be/src/exec/subplan-node.cc`): a FROM-subquery
  * correlated with a preceding ref's collection, carrying its own
  * WHERE / ORDER BY+LIMIT / UNION / GROUP BY / analytic — evaluated
  * per outer row.
  *
  * Spark-first translation (graft.NestedRefs): the subquery body keeps
  * its text, the collection ref becomes a positioned-explode derived
  * table, and the whole item is marked `LATERAL` — Catalyst's
  * decorrelation then plans the per-row evaluation (DomainJoin), which
  * is the scale-correct shape: one Generate + window/agg per customer
  * partition, no driver loop, no cross join.
  *
  * The reference file's inline RESULTS are bound to its SF1 load, so
  * these gate through the driver's DuckDB oracle over the substituted
  * catalog: each nested query runs VERBATIM (dialect + NestedRefs)
  * over the nested catalog while the oracle replays a hand-derived
  * FLAT equivalent — the nesting build (array_sort of named_struct)
  * makes `LIMIT k` after ORDER BY o_orderkey deterministic on both
  * sides. IMPALA-2414's correlated-WITH spelling
  * (nested-types-with-clause.test[1]) rides the same machinery.
  */
object NestedSubplanQueries extends QueryGroup {

  private case class Sq(name: String, nested: String, flat: String,
      types: Seq[String])

  private val qs = Seq(
    Sq("subplan_topn",
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c,
        |  (SELECT * FROM c.c_orders ORDER BY o_orderkey LIMIT 2) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer
        |JOIN (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderkey) AS rn
        |      FROM orders) r ON r.o_custkey = c_custkey
        |WHERE rn <= 2 AND c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      Seq("bigint", "bigint", "decimal")),

    Sq("subplan_union",
      """SELECT c_custkey, o_orderkey
        |FROM customer c,
        |  (SELECT * FROM c.c_orders WHERE o_orderkey % 2 = 0
        |   UNION ALL
        |   SELECT * FROM c.c_orders WHERE o_orderkey % 2 = 1) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      """SELECT c_custkey, o_orderkey
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      Seq("bigint", "bigint")),

    Sq("subplan_groupagg",
      """SELECT c_custkey, v.o_orderpriority, v.cnt, v.total
        |FROM customer c,
        |  (SELECT o_orderpriority, count(o_orderkey) AS cnt,
        |          sum(o_totalprice) AS total
        |   FROM c.c_orders GROUP BY o_orderpriority) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderpriority""".stripMargin,
      """SELECT c_custkey, o_orderpriority,
        |  count(o_orderkey) AS cnt, sum(o_totalprice) AS total
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |GROUP BY c_custkey, o_orderpriority
        |ORDER BY c_custkey, o_orderpriority""".stripMargin,
      Seq("bigint", "string", "bigint", "decimal")),

    Sq("subplan_analytic",
      """SELECT c_custkey, v.o_orderkey, v.rk
        |FROM customer c,
        |  (SELECT o_orderkey,
        |          rank() OVER (ORDER BY o_totalprice DESC) AS rk
        |   FROM c.c_orders) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey, rk""".stripMargin,
      """SELECT c_custkey, o_orderkey,
        |  rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC) AS rk
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey, rk""".stripMargin,
      Seq("bigint", "bigint", "bigint")),

    Sq("subplan_with_corr",
      """SELECT c_custkey, o_orderkey
        |FROM customer c JOIN
        |  (WITH w2 AS (SELECT o_orderkey FROM c.c_orders)
        |   SELECT * FROM w2) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      """SELECT c_custkey, o_orderkey
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      Seq("bigint", "bigint")),

    // non-grouping agg inside the subplan emits a row even for a
    // customer with an EMPTY collection (nested-types-subplan.test[8]:
    // `3,0,NULL`) — the HOF fast-path computes it without an explode
    Sq("subplan_scalar_agg",
      """SELECT c_custkey, v.cnt, v.total
        |FROM customer c,
        |  (SELECT count(o_orderkey) AS cnt, sum(o_totalprice) AS total
        |   FROM c.c_orders) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin,
      """SELECT c_custkey, count(o_orderkey) AS cnt,
        |  sum(o_totalprice) AS total
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
      Seq("bigint", "bigint", "decimal")),

    // RIGHT JOIN against the row's own collection ≡ the inner lateral:
    // every element's parent is its own row
    // (ranger_column_masking_complex_types.test[11] shape)
    Sq("subplan_right_join_coll",
      """SELECT c_custkey, o_orderkey
        |FROM customer c RIGHT JOIN c.c_orders o
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      """SELECT c_custkey, o_orderkey
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      Seq("bigint", "bigint")))

  /** Correlated subplan whose collection path rides THROUGH A STRUCT
    * (`t.info.orders`): Spark's decorrelator rejects struct-typed
    * correlated attributes, so NestedRefs flattens the struct prefix
    * onto the outer item — `(SELECT *, info.orders AS __cp_… FROM …) t`
    * — and correlates on the generated array column
    * (nested-types-scanner-multiple-materialization.test's
    * `t.nested_struct.c.d.item` union shape).
    */
  private val extraQs = Seq(
    // IMPALA-2430: a correlated aggregating subquery as a LEFT OUTER
    // JOIN operand WITHOUT ON, itself left-outer-joining a second
    // correlated level — converts to LEFT OUTER JOIN LATERAL ... ON
    // true (r10 chain fallback)
    Sq("subplan_outer_join_sub",
      """SELECT c_custkey, v.cnt
        |FROM customer c
        |left outer join
        |  (SELECT count(*) AS cnt FROM c.c_orders o left outer join
        |     (SELECT l_linenumber FROM o.o_lineitems WHERE null) nv) v
        |WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin,
      """SELECT c_custkey, count(o_orderkey) AS cnt
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |WHERE c_custkey < 100
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
      Seq("bigint", "bigint")),
    // IMPALA-2456: LEFT ANTI JOIN against a correlated subquery with
    // an ON over its output — converts to a per-row NOT EXISTS probe
    Sq("subplan_anti_join_sub",
      """SELECT c_custkey, o_orderkey
        |FROM customer c
        |inner join c.c_orders o1
        |left anti join
        |  (SELECT o2.o_orderkey AS x
        |   FROM c.c_orders o2, c.c_orders o3) v
        |on c.c_custkey = v.x
        |WHERE c_custkey < 50
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      """SELECT c.c_custkey, o.o_orderkey
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey < 50 AND NOT EXISTS (
        |  SELECT 1 FROM orders o2, orders o3
        |  WHERE o2.o_custkey = c.c_custkey
        |    AND o3.o_custkey = c.c_custkey
        |    AND c.c_custkey = o2.o_orderkey)
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
      Seq("bigint", "bigint")))

  private val structPathQ = Sq("subplan_struct_path",
    """SELECT c_custkey, o_orderkey
      |FROM customer_info t,
      |  (SELECT o_orderkey FROM t.info.orders WHERE o_orderkey % 2 = 0
      |   UNION ALL
      |   SELECT o_orderkey FROM t.info.orders WHERE o_orderkey % 2 = 1) v
      |WHERE c_custkey < 100
      |ORDER BY c_custkey, o_orderkey""".stripMargin,
    """SELECT c_custkey, o_orderkey
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |WHERE c_custkey < 100
      |ORDER BY c_custkey, o_orderkey""".stripMargin,
    Seq("bigint", "bigint"))

  override def inputs: Seq[java.nio.file.Path] =
    Seq(GoldenTest.tpchQueryDir, GoldenTest.tpchNestedQueryDir)

  def defs: Seq[Q.Def] =
    if (missingInputs.nonEmpty) Seq.empty
    else (qs ++ extraQs).map { sq =>
      val fake = GoldenTest.Case("", sq.flat, sq.types, 0)
      GoldenQueries.catalog.goldenDefVia(sq.name, fake, sq.types,
        (s: SparkSession, dir: String) => {
          graft.sources.NestedTpchTables.register(s, dir)
          graft.ImpalaDialect.sql(s, sq.nested)
        })
    } :+ {
      val sq = structPathQ
      val fake = GoldenTest.Case("", sq.flat, sq.types, 0)
      GoldenQueries.catalog.goldenDefVia(sq.name, fake, sq.types,
        (s: SparkSession, dir: String) => {
          graft.sources.NestedTpchTables.register(s, dir)
          s.sql("""SELECT c_custkey,
              |  named_struct('orders', c_orders) AS info
              |FROM customer""".stripMargin)
            .createOrReplaceTempView("customer_info")
          graft.ImpalaDialect.sql(s, sq.nested)
        })
    }
}

package graft.queries

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Set operations (SURVEY.md §2.7): UNION ALL (UnionNode,
  * `be/src/exec/union-node.h:89`), UNION DISTINCT (union + dedup agg,
  * `fe/.../analysis/SetOperationStmt.java:170`), INTERSECT / EXCEPT
  * (rewritten to LEFT SEMI / LEFT ANTI hash joins with `<=>` conjuncts,
  * `SetOperationStmt.java:35-59,686-727` — Spark does the same rewrite
  * natively via ReplaceIntersectWithSemiJoin / ReplaceExceptWithAntiJoin).
  */
object SetOpQueries extends QueryGroup {

  private def highValue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"))

  private def pending(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey"))

  def defs: Seq[Q.Def] = Seq(

    Q.Def("q_union_all", (s, dir) => {
      highValue(s, dir).union(pending(s, dir)).orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P'
      ORDER BY o_orderkey"""
    )),

    Q.Def("q_union_distinct", (s, dir) => {
      highValue(s, dir).union(pending(s, dir)).distinct()
        .orderBy(col("o_orderkey"))
    }, Some("""
      SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0
      UNION
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P'
      ORDER BY o_orderkey"""
    )),

    // custkeys having both an 'F' and an 'O' order.
    Q.Def("q_intersect", (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }, Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey"""
    )),

    // custkeys with an 'F' order but no 'O' order.
    Q.Def("q_except", (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }, Some("""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey"""
    )),

    // constant SELECT with no FROM (UnionNode const-expr list evaluation,
    // be/src/exec/union-node.h; ValuesStmt.java).
    Q.Def("q_values_inline", (s, dir) => {
      GraftSession.tune(s)
      s.sql("""
        SELECT id, name, val FROM VALUES
          (1, 'a', CAST(1.5 AS DOUBLE)), (2, 'b', CAST(2.5 AS DOUBLE)),
          (3, 'c', CAST(NULL AS DOUBLE)) AS t(id, name, val)
        ORDER BY id""")
    }, Some("""
      SELECT id, name, val FROM (VALUES
        (1, 'a', CAST(1.5 AS DOUBLE)), (2, 'b', CAST(2.5 AS DOUBLE)),
        (3, 'c', CAST(NULL AS DOUBLE))) AS t(id, name, val)
      ORDER BY id"""
    )),
  )
}

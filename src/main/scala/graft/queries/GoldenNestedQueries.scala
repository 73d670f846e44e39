package graft.queries

import graft.GoldenTest
import org.apache.spark.sql.SparkSession

/** The reference's nested TPC-H golden workload executed VERBATIM
  * (`testdata/workloads/tpch_nested/queries/tpch_nested-q*.test`,
  * runner `tests/query_test/test_tpch_nested_queries.py`) over the
  * derived nested catalog (graft.sources.NestedTpchTables).
  *
  * Oracle: the FLAT golden tpch-qN text over the substituted raw
  * parquet — the nested workload is built from the flat schema
  * (`testdata/bin/load_nested.py`) and defined to return the same
  * answers, so DuckDB replaying the flat SQL value-verifies the whole
  * nested pipeline: NestedRefs path rewriting, the lateral-subquery
  * Generate plans, and the EXISTS/agg-subquery HOF conversions.
  *
  * All 22 queries are gated; q1/q8/q14/q17's avg//division columns pin
  * both engines to DECIMAL(38,6) (see SubstitutionCatalog.goldenDefVia).
  */
object GoldenNestedQueries extends QueryGroup {

  /** avg / decimal-division output columns per query → DECIMAL(38,6). */
  val decimalOverrides: Map[Int, Map[Int, Int]] = Map(
    1 -> Map(6 -> 6, 7 -> 6, 8 -> 6),
    8 -> Map(1 -> 6),
    14 -> Map(0 -> 6),
    17 -> Map(0 -> 6))

  /** date-valued output columns (nested side renders date-only
    * strings; the flat oracle midnight timestamps).
    */
  private val dateOverrides: Map[Int, Set[Int]] = Map(
    3 -> Set(2),
    18 -> Set(3))

  override def inputs: Seq[java.nio.file.Path] =
    Seq(GoldenTest.tpchQueryDir, GoldenTest.tpchNestedQueryDir)

  def defs: Seq[Q.Def] =
    if (missingInputs.nonEmpty) Seq.empty
    else (1 to 22).map { n =>
      val flat = GoldenTest.tpchCase(n)
      val nested = GoldenTest.tpchNestedCase(n)
      GoldenQueries.catalog.goldenDefVia(s"nested_q$n", flat, flat.types,
        (s: SparkSession, dir: String) => {
          graft.sources.NestedTpchTables.register(s, dir)
          graft.ImpalaDialect.sql(s, nested.query.stripSuffix(";"))
        },
        decimalOverrides.getOrElse(n, Map.empty),
        dateOverrides.getOrElse(n, Set.empty))
    }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every [[graft.queries.QueryGroup]]; each group maps a slice
  * of the reference's operator inventory (SURVEY.md §2) to a named
  * DataFrame query with (where SQL-expressible) a DuckDB oracle.
  */
object SparkEntry {

  private def groups: Seq[QueryGroup] = Seq(
    CoreQueries,
    TpchQueries,
    GoldenQueries,
    GoldenNestedQueries,
    GoldenNestedMaskedQueries,
    NestedFunctionalQueries,
    NestedSubplanQueries,
    TpcdsGoldenQueries,
    TpcdsAnalyticQueries,
    TpcdsQueries,
    JoinQueries,
    SetOpQueries,
    AggQueries,
    WindowQueries,
    SubqueryQueries,
    NestedQueries,
    FunctionQueries,
    PipelineQueries,
    EventsQueries,
    SketchQueries,
  )

  private lazy val byGroup: Seq[(QueryGroup, Seq[Q.Def])] =
    groups.map(g => g -> g.defs)

  lazy val all: Seq[Q.Def] = {
    val ds = byGroup.flatMap(_._2)
    val dup = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    ds
  }

  /** Each group that registered no queries, by name, with the inputs it
    * found missing (none listed: the group is empty for another reason).
    */
  lazy val emptyGroups: Seq[(String, Seq[java.nio.file.Path])] =
    byGroup.collect { case (g, Seq()) =>
      g.getClass.getSimpleName.stripSuffix("$") -> g.missingInputs
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case Q.Def(n, _, Some(sql)) => n -> sql.trim }.toMap
}

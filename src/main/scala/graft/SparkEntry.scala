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

  lazy val all: Seq[Q.Def] = defsOf(groups)

  /** Every group's queries. A group is a fixed set of queries over the
    * repo's own fixtures, so an empty one is a bug: it would shrink the
    * oracle count without a word.
    */
  private[graft] def defsOf(gs: Seq[QueryGroup]): Seq[Q.Def] = {
    val byGroup = gs.map(g => g -> g.defs)
    val empty = byGroup.collect { case (g, Seq()) =>
      g.getClass.getSimpleName.stripSuffix("$") }
    require(empty.isEmpty, s"query groups with no queries: ${empty.mkString(",")}")
    val ds = byGroup.flatMap(_._2)
    val dup = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each query
    * comes back on its execution path ([[GraftSession.route]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> ((s: SparkSession, dir: String) =>
      GraftSession.route(d.fn(s, dir)))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case Q.Def(n, _, Some(sql)) => n -> sql.trim }.toMap
}

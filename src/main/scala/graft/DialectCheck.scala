package graft

import scala.jdk.CollectionConverters._

/** The Spark half of `scripts/dialect_check.py`: runs a file of
  * Impala-dialect SELECTs through [[ImpalaDialect.sql]] over the
  * fixture tables, each on the path [[GraftSession.route]] picks, and
  * writes every result the way [[Verify]] does, for the script's DuckDB
  * compare. Queries run concurrently, one per core.
  *
  * Usage: `DialectCheck <sfDir> <queryFile> <outDir>`. The query file
  * holds one `<name>\t<sql>` line per query. Ends with one
  * `[dialect] attempted=N failed=F …` line on stderr; exits 1 when any
  * query failed.
  */
object DialectCheck {
  def main(args: Array[String]): Unit = {
    val (sfDir, queryFile, outDir) = (args(0), args(1), args(2))
    val spark = GraftSession.local()
    GraftSession.registerAll(spark, sfDir)
    val queries = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(queryFile)).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(name, sql) = line.split("\t", 2)
        name -> (() => GraftSession.route(ImpalaDialect.sql(spark, sql)))
      }
    // one query per core: each distinct query shape pays its codegen
    // compile on the thread that runs it
    val tally = Verify.dump(outDir, "dialect", queries,
      threads = spark.sparkContext.defaultParallelism)
    tally.report("dialect")
    spark.stop()
    if (tally.failed.nonEmpty) sys.exit(1)
  }
}

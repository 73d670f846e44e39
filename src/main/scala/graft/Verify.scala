package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter (dev iteration)
    val filter = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val keep: String => Boolean = n => filter.forall(_(n))
    val spark = GraftSession.local()
    val entry = SparkEntry.queries
    val tally = dump(outDir, "verify",
      entry.toSeq.filter(kv => keep(kv._1)).map { case (name, fn) =>
        name -> (() => fn(spark, sfDir))
      },
      filter.getOrElse(Set.empty).diff(entry.keySet).toSeq.sorted
        .map(_ -> "not in SparkEntry.queries"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    tally.report("verify")
    spark.stop()
    if (tally.failed.nonEmpty) sys.exit(1)
  }

  /** Build each named query, write its result as one parquet file
    * under `outDir/<name>` and count it. A query that throws counts as
    * failed, with one `[tag] <name> failed: <message>` line on stderr.
    * `threads` queries run at a time (Verify runs one). Verify and
    * DialectCheck both write their results through here.
    */
  private[graft] def dump(outDir: String, tag: String,
      queries: Seq[(String, () => DataFrame)],
      skipped: Seq[(String, String)] = Nil, threads: Int = 1): Bench.Tally = {
    new java.io.File(outDir).mkdirs()
    val smallPath = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    def run(name: String, build: () => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      try {
        val df = build()
        smallPath.put(name, GraftSession.onSmallPath(df))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        name -> -1.0
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val results =
      try {
        queries.map { case (n, b) =>
          pool.submit(new java.util.concurrent.Callable[(String, Double)] {
            def call(): (String, Double) = run(n, b)
          })
        }.map(_.get())
      } finally pool.shutdown()
    Bench.Tally(results, skipped,
      scala.jdk.CollectionConverters.MapHasAsScala(smallPath).asScala.toMap)
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filter (dev iteration)
    val filter = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val keep: String => Boolean = n => filter.forall(_(n))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val entry = SparkEntry.queries
    val results = entry.toSeq.filter(kv => keep(kv._1)).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> -1.0
      }
    }
    val tally = Bench.Tally(results,
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
}

package graft

/** Measurement tooling (optimization guide §1.1/§7.2): dump
  * `.explain("formatted")` for bench-headline queries to files, so plan
  * claims (Exchange counts, join strategies, PushedFilters/ReadSchema)
  * are checkable without running Spark. Each file starts with one
  * header line: the query's execution path ([[GraftSession.route]]) and
  * its estimated input bytes.
  *
  * Usage: runMain graft.PlanDump <outDir> [nameFilter,csv]
  * Reads the same env contract as [[Bench]] (SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS). Not part of the driver contract; never timed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.PlanDump <outDir> [nameFilter,csv]")
      sys.exit(2)
    }
    val outDir = args(0)
    val keep: String => Boolean =
      if (args.length > 1) args(1).split(",").toSet else (_ => true)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Bench.headline.filter(keep).foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try {
          val df = fn(spark, sfDir)
          val path = if (GraftSession.onSmallPath(df)) "small" else "adaptive"
          val bytes = GraftSession.estimatedInputBytes(df).fold("unknown")(_.toString)
          val txt = s"-- path=$path estimated_input_bytes=$bytes\n" +
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote $outDir/$name.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}

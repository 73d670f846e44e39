package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup scaling rehearsal (dev tool, driver-independent): times the
  * minhash / simhash / ngram dedup pipelines on the sf documents table
  * at 1× and N× and prints one JSON line with the wall times and the
  * scaling exponent log(tN/t1)/log(N). Near-linear exponents (≲1.2)
  * back the "no quadratic blowup" claim with a measurement.
  *
  * The N× corpus is N content-disjoint replicas (every word suffixed
  * with the replica id, so shingle sets never collide across replicas):
  * the dup-pair structure replicates exactly — the workload is N× by
  * construction, so the exponent isolates the ENGINE's scaling.
  */
object ScaleRehearsal {

  def replicate(docs: DataFrame, n: Int): DataFrame = {
    val m = 10000000L
    (0 until n).map { k =>
      docs.select((col("doc_id") + lit(k * m)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_$k").as("text"))
    }.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = GraftSession.local()

    val docs = GraftSession.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    // materialize both inputs to parquet so timed runs scan files, not
    // the replication expression
    val base = java.nio.file.Files.createTempDirectory("graft_scale").toString
    docs.write.mode("overwrite").parquet(s"$base/x1")
    replicate(docs, mult).write.mode("overwrite").parquet(s"$base/x$mult")
    val x1 = spark.read.parquet(s"$base/x1")
    val xN = spark.read.parquet(s"$base/x$mult")
    x1.count(); xN.count() // warm IO cache

    def time(f: => Unit): Double = {
      val runs = (0 until 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val pipelines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "minhash" -> (d => graft.operators.Dedup.minhashDupPairs(d, "doc_id", "text", threshold = 0.7)),
      "simhash" -> (d => graft.operators.Dedup.simhashDupPairs(d, "doc_id", "text", chunks = 4, maxHamming = 10)),
      "ngram" -> (d => graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text")))

    val results = pipelines.map { case (name, p) =>
      noop(p(x1)) // codegen warm
      val t1 = time(noop(p(x1)))
      val tN = time(noop(p(xN)))
      val exp = math.log(tN / t1) / math.log(mult.toDouble)
      (name, t1, tN, exp)
    }
    val json = results.map { case (n, t1, tN, e) =>
      f""""$n":{"t1":$t1%.2f,"t$mult":$tN%.2f,"exponent":$e%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"dedup_scaling","mult":$mult,"rows_1x":${x1.count()},"pipelines":$json}""")
    spark.stop()
  }
}

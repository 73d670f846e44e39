package graft

import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout (BASELINE.md "bench protocol": ≤2× recorded baseline at
  * the same scale factor).
  *
  * Timing forces *full* materialization through the noop datasource sink
  * (every column computed, nothing collected to the driver) — `count()`
  * would let Catalyst prune the payload columns and under-report.
  */
object Bench {

  /** TPC-H 22 (the reference's perf workload,
    * `testdata/workloads/tpch/queries/`) + the heaviest LLM-pipeline
    * operators (dedup/similarity/text) + events sessionization.
    */
  private[graft] val headline: Seq[String] =
    (1 to 22).map(i => s"tpch_q$i") ++ Seq(
      "q_events_session", "q_events_tumbling",
      "q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash",
      "q_sim_ann", "q_sim_ivf", "q_sim_ann_probe", "q_sim_ivf_probe",
      "q_sim_ivfpq",
      "q_text_stats", "q_lang_id", "q_fingerprint",
      "q_sketch_hll", "q_nested_array_struct", "q_window_running")

  /** Run accounting shared by Bench and Verify: each attempted query's
    * seconds (-1.0 when it failed) and each skipped name with the reason.
    */
  private[graft] final case class Tally(
      times: Seq[(String, Double)], skipped: Seq[(String, String)]) {
    val failed: Seq[String] = times.collect { case (n, t) if t < 0 => n }

    /** Sum over every attempted query, or the per-query failure sentinel
      * -1.0 when any failed — a failure never shrinks the total.
      */
    def total: Double = if (failed.nonEmpty) -1.0 else times.map(_._2).sum

    /** One counts line on stderr, then one line per failed or skipped name
      * and per query group that registered no queries. `compiled` counts
      * the generated classes the JVM compiled (one run per JVM): a codegen
      * cache too small for the run's working set shows as a jump here.
      */
    def report(tag: String): Unit = {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      System.err.println(s"[$tag] attempted=${times.size} failed=${failed.size} " +
        s"skipped=${skipped.size} compiled=$compiled")
      failed.foreach(n => System.err.println(s"[$tag] failed: $n"))
      skipped.foreach { case (n, why) =>
        System.err.println(s"[$tag] skipped: $n ($why)")
      }
      SparkEntry.emptyGroups.foreach { case (g, missing) =>
        val why =
          if (missing.isEmpty) "no input missing" else missing.mkString("missing ", ", ", "")
        System.err.println(s"[$tag] empty group: $g ($why)")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val entry = SparkEntry.queries

    // min over N runs: planning/JIT noise dominates at this scale, the
    // min is the stable per-query cost (single-run wall time is ±3×).
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // optional arg: comma-separated name filter (dev iteration; the
    // driver invokes with no args → full headline set)
    val keep: String => Boolean =
      if (args.nonEmpty) args(0).split(",").toSet else (_ => true)
    val (present, missing) = headline.filter(keep).partition(entry.contains)
    def run(name: String): Unit =
      entry(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    // one untimed pass over the set: JVM warm-up, codegen compilation,
    // catalog reads and first-touch IO land here, not in the first timed
    // iteration
    present.foreach(n => try run(n) catch { case NonFatal(_) => })
    // Timed iterations run round-robin: iteration i runs every query once,
    // so each timing sees the codegen, JIT and page caches as the rest of
    // the set left them, not as the same query left them a moment ago.
    // GC before each iteration so one iteration's allocation debt
    // (broadcast blowups, shuffle buffers) isn't billed to the next.
    val rounds = (0 until iters).map { _ =>
      System.gc()
      present.map { name =>
        val t0 = System.nanoTime()
        try {
          run(name)
          name -> (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            name -> -1.0
        }
      }
    }
    val sampled = rounds.flatten.groupMap(_._1)(_._2)
    val results = present.map { name =>
      val times = sampled(name)
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val tally = Tally(results, missing.map(_ -> "not in SparkEntry.queries"))
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":${tally.total}%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    tally.report("bench")
    spark.stop()
    if (tally.failed.nonEmpty) sys.exit(1)
  }
}

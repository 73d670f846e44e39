package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** JVM side of the benchmark. It drives the engine only through its public
  * entry points (`graft.SparkEntry.queries`, `graft.GraftSession`), runs one
  * workload in a closed loop with one client thread, and writes what it
  * measured as JSON lines for `run.py` to turn into metrics.
  *
  * Usage: Harness <workload> <dataDir> <outFile> <seconds> <trace 0|1>
  *   <seed> <cores>
  *
  * Every operation is timed as construct (build the DataFrame), plan
  * (`queryExecution.executedPlan`) and execute (`collect`). A traced pass
  * also records those three spans, the planner's phase times, the executed
  * plan's exchanges and SQL metrics, and, through a `SparkListener`, the
  * jobs, stages and tasks each operation ran.
  */
object Harness {

  /** The 38 headline queries of the engine's own bench (graft.Bench). */
  val Interactive: Seq[String] =
    (1 to 22).map(i => s"tpch_q$i") ++ Seq(
      "q_events_session", "q_events_tumbling",
      "q_dedup_minhash", "q_dedup_ngram", "q_dedup_simhash",
      "q_sim_ann", "q_sim_ivf", "q_sim_ann_probe", "q_sim_ivf_probe",
      "q_sim_ivfpq", "q_text_stats", "q_lang_id", "q_fingerprint",
      "q_sketch_hll", "q_nested_array_struct", "q_window_running")

  val Tpch: Seq[String] = (1 to 22).map(i => s"tpch_q$i")

  private val OpKey = "perfbench.op"
  private val PhaseKey = "perfbench.phase"

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outFile, secondsArg, traceArg, seedArg,
      coresArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val out = new Out(outFile)
    val ops = workload match {
      case "interactive" => Interactive
      case "tpch-x10" => Tpch
      case w => sys.error(s"unknown workload $w")
    }

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tune(spark)
    val sessionStart = (System.nanoTime() - t0) / 1e9

    val entry = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val missing = ops.filterNot(entry.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry: $missing")
    out.obj("type" -> "record", "workload" -> workload,
      "spark_version" -> spark.version, "cores" -> cores,
      "driver_mem" -> sys.props.getOrElse("perfbench.driverMem", ""),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_uptime_at_main_s" -> (java.lang.management.ManagementFactory
        .getRuntimeMXBean.getUptime / 1e3 - (System.nanoTime() - t0) / 1e9))
    ops.foreach(n => out.obj("type" -> "oracle", "op" -> n,
      "sql" -> oracle.getOrElse(n, null)))

    // Warm-up: one untimed pass with one client per core. It fills the JIT
    // and code-generation caches and builds the persisted ANN/IVF indexes
    // (each index belongs to one query, so no two clients build the same
    // one). Concurrent clients keep this cold pass short; its failures
    // show again in the timed passes.
    val w0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      ops.map(n => pool.submit(new Runnable {
        def run(): Unit = execute(spark, entry(n)(_, dataDir), -1, traced = false)
      })).foreach(_.get())
    } finally pool.shutdown()
    val jitWait = awaitJitQuiet()
    val warmup = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[harness] session started in $sessionStart%.1f s, warm-up took $warmup%.1f s (JIT wait $jitWait%.1f s)")
    out.obj("type" -> "setup", "session_start_s" -> sessionStart,
      "warmup_s" -> warmup)

    // Timed region: whole passes in a seeded order, so that every run
    // measures the same multiset of operations: as many passes as fit in
    // `seconds` at the mean pass time so far, and at least one. A traced
    // run makes three passes, untraced, traced, untraced, so that the
    // tracing overhead is measured in one session and the JIT's warming
    // between passes affects both sides alike.
    System.gc()
    val rng = new scala.util.Random(seedArg.toLong)
    val tracer = if (trace) new Tracer else null
    val firstRows = mutable.LinkedHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]()
    var opId = 0L
    var pass = 0
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (if (trace) pass < 3 else pass == 0 || elapsed * (pass + 1) / pass <= seconds) {
      val traced = trace && pass % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(tracer)
      val order = rng.shuffle(ops)
      for (n <- order) {
        val r = execute(spark, entry(n)(_, dataDir), opId, traced)
        r.rows.foreach { rows =>
          if (!firstRows.contains(n)) firstRows(n) = (rows, r.schema)
        }
        out.obj(Seq("type" -> "op", "op" -> n, "id" -> opId, "pass" -> pass,
          "traced" -> traced) ++ r.fields: _*)
        opId += 1
      }
      if (traced) {
        tracer.waitQuiet()
        spark.sparkContext.removeSparkListener(tracer)
      }
      pass += 1
    }
    out.obj("type" -> "measured", "seconds" -> elapsed, "passes" -> pass)
    out.obj("type" -> "heap", "retained" -> retainedHeap())
    System.err.println(f"[harness] measured $pass pass(es) in $elapsed%.1f s")
    if (trace) tracer.dump(out)

    // Outside the timed region: the first result of every operation goes
    // to parquet for run.py's DuckDB comparison.
    val resDir = new File(outFile).getParentFile.getPath + "/results"
    val writers = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      firstRows.toSeq.map { case (n, (rows, schema)) =>
        writers.submit(new Runnable {
          def run(): Unit =
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.parquet(s"$resDir/$n")
        })
      }.foreach(_.get())
    } finally writers.shutdown()
    out.obj("type" -> "end", "vm_hwm_kb" -> vmHwmKb())
    out.close()
    spark.stop()
  }

  final case class Result(rows: Option[Array[Row]],
      schema: org.apache.spark.sql.types.StructType,
      fields: Seq[(String, Any)])

  /** Run one operation: construct, plan, execute. Failures are returned,
    * never thrown, so that they count against the operations attempted. */
  def execute(spark: SparkSession, build: SparkSession => DataFrame, id: Long,
      traced: Boolean): Result = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, id.toString)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var df: DataFrame = null
    var rows: Array[Row] = null
    val err = try {
      sc.setLocalProperty(PhaseKey, "construct")
      df = build(spark)
      t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "execute")
      rows = df.collect()
      null
    } catch {
      case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .linesIterator.take(3).mkString(" ")
    } finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
    val t3 = System.nanoTime()
    def at(t: Long) = wall0 + (t - t0) / 1e6
    val base = Seq("start_ms" -> at(t0), "end_ms" -> at(t3),
      "latency_s" -> (t3 - t0) / 1e9, "error" -> err)
    if (err != null) return Result(None, null, base)
    val digested = Seq("rows" -> rows.length, "digest" -> digest(rows))
    val tracedFields =
      if (!traced) Nil
      else {
        val qe = df.queryExecution
        val phases = qe.tracker.phases
        def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        val plan = PlanCounts(qe.executedPlan)
        Seq("construct_ms" -> Seq(at(t0), at(t1)),
          "plan_ms" -> Seq(at(t1), at(t2)),
          "execute_ms" -> Seq(at(t2), at(t3)),
          "analysis_s" -> phase("analysis"),
          "optimization_s" -> phase("optimization"),
          "planning_s" -> phase("planning"),
          "shuffle_exchanges" -> plan.shuffles,
          "broadcast_exchanges" -> plan.broadcasts,
          "broadcast_bytes" -> plan.broadcastBytes,
          "files_read" -> plan.filesRead)
      }
    Result(Some(rows), df.schema, base ++ digested ++ tracedFields)
  }

  /** Order-insensitive digest of a result, to check that every execution of
    * an operation returns what its first execution returned. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  final case class PlanCounts(shuffles: Int, broadcasts: Int,
      broadcastBytes: Long, filesRead: Long)

  /** Exchanges and scanned files of an executed (adaptive) plan, including
    * its subqueries. A reused exchange is not counted again. */
  object PlanCounts {
    def apply(root: SparkPlan): PlanCounts = {
      var sh, bc = 0
      var bytes, files = 0L
      val seen = mutable.Set[SparkPlan]()
      def metric(p: SparkPlan, m: String) = p.metrics.get(m).map(_.value).getOrElse(0L)
      def walk(p: SparkPlan): Unit = if (seen.add(p)) {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _: ReusedExchangeExec =>
          case s: ShuffleExchangeLike => sh += 1; s.children.foreach(walk)
          case b: BroadcastExchangeLike =>
            bc += 1; bytes += metric(b, "dataSize"); b.children.foreach(walk)
          case other =>
            files += metric(other, "numFiles")
            other.children.foreach(walk)
        }
        p.subqueries.foreach(walk)
      }
      walk(root)
      PlanCounts(sh, bc, bytes, files)
    }
  }

  /** VmHWM (peak resident set) of this JVM, in kB; 0 where /proc is absent. */
  def vmHwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    } catch { case NonFatal(_) => 0L }

  /** Wait, at most 15 s, until the JIT compilers have been idle for most of
    * half a second, so that compilations queued by the warm-up do not run
    * during the timed region. Returns the seconds waited. */
  def awaitJitQuiet(): Double = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() - t0 < 15L * 1000000000L) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 50
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap the session keeps live after the timed region, in bytes: heap in
    * use after full collections, repeated until it settles, so that the
    * context cleaner has dropped the blocks of broadcasts that a collection
    * freed. */
  def retainedHeap(): Long = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var last, used = Long.MaxValue
    var round = 0
    while (round < 10 && (round < 2 || math.abs(last - used) > (1L << 20))) {
      last = used
      System.gc()
      Thread.sleep(500)
      used = mem.getHeapMemoryUsage.getUsed
      round += 1
    }
    used
  }

  /** Records jobs, stages and tasks in memory, tagged with the operation
    * and the phase (construct, plan or execute) that started them. */
  final class Tracer extends SparkListener {
    private val events = new ConcurrentLinkedQueue[Seq[(String, Any)]]()
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobsOpen, tasksOpen = new AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsOpen.incrementAndGet()
      val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
      val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
      e.stageIds.foreach(s => stageOwner.put(s, op))
      events.add(Seq("type" -> "job", "job" -> e.jobId, "op" -> op,
        "phase" -> phase, "start_ms" -> e.time, "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobsOpen.decrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      events.add(Seq("type" -> "stage", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(), "op" -> stageOwner.get(s.stageId),
        "start_ms" -> s.submissionTime.getOrElse(0L),
        "end_ms" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      tasksOpen.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val base = Seq("type" -> "task", "stage" -> e.stageId,
        "op" -> stageOwner.get(e.stageId), "start_ms" -> i.launchTime,
        "end_ms" -> i.finishTime, "ok" -> i.successful)
      val metrics = if (m == null) Nil else Seq(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "peak_mem" -> m.peakExecutionMemory,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten)
      events.add(base ++ metrics)
      tasksOpen.decrementAndGet()
    }

    /** Wait until the listener bus has delivered every event of the jobs
      * that have started. */
    def waitQuiet(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      var stable = 0
      var last = -1
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val n = events.size
        if (jobsOpen.get == 0 && tasksOpen.get == 0 && n == last) stable += 1
        else stable = 0
        last = n
      }
    }

    def dump(out: Out): Unit = events.forEach(e => out.obj(e: _*))
  }

  /** JSON-lines writer. */
  final class Out(path: String) {
    private val w = new PrintWriter(path, "UTF-8")
    def obj(kv: (String, Any)*): Unit = {
      w.println(kv.map { case (k, v) => s"${str(k)}:${json(v)}" }.mkString("{", ",", "}"))
    }
    def close(): Unit = w.close()
    private def str(s: String) = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
    private def json(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
      case x => str(x.toString)
    }
  }
}

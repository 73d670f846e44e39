package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events fixture's `ts` schema is driver-owned and has changed across
  * rounds (TIMESTAMP(NANOS) → timestamp[µs] NTZ). `GraftSession.table`
  * must normalize every historic shape to `TimestampType` with identical
  * values, so a future regeneration can't dark the whole SQL-text gate
  * again (round-7 postmortem).
  */
class FixtureShapeSpec extends SparkSpecBase {

  // 2024-03-05 12:34:56.789012 UTC, in micros since epoch.
  private val micros = 1709642096789012L

  private def writeEvents(dir: String)(mk: => org.apache.spark.sql.DataFrame): Unit =
    mk.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def readTs(dir: String): (DataType, Long) = {
    val df = GraftSession.table(spark, dir, "events")
    val dt = df.schema("ts").dataType
    val v = df.select(unix_micros(col("ts").cast("timestamp"))).head.getLong(0)
    (dt, v)
  }

  /** Write a TRUE TIMESTAMP(NANOS)-annotated parquet file (the
    * historic fixture shape) — Spark can't author one, so go through
    * parquet-mr directly.
    */
  private def writeNanosFile(dir: String, tsNanos: Long,
      annotate: Boolean): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
      PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val tsField = {
      val b = Types.required(PrimitiveTypeName.INT64)
      (if (annotate)
        b.as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS))
      else b).named("ts")
    }
    val schema: MessageType = Types.buildMessage()
      .addField(new PrimitiveType(
        org.apache.parquet.schema.Type.Repetition.REQUIRED,
        PrimitiveTypeName.INT64, "event_id"))
      .addField(tsField)
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val file = new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(file).withConf(conf).build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
    g.add("event_id", 1L)
    g.add("ts", tsNanos)
    writer.write(g)
    writer.close()
  }

  test("events.ts TIMESTAMP(NANOS) shape normalizes to TimestampType, µs-truncated") {
    val dir = GraftSession.tempDir("graft_fix_nanos").toString
    // nanos value with sub-µs residue: truncation must floor to `micros`.
    writeNanosFile(dir, micros * 1000L + 345L, annotate = true)
    val (dt, v) = readTs(dir)
    assert(dt === TimestampType)
    assert(v === micros)
  }

  test("events.ts raw int64 (no NANOS annotation) rejects from the footer, no scan") {
    val dir = GraftSession.tempDir("graft_fix_rawint").toString
    // a µs count stored as plain INT64 — dividing by 1000 would land
    // in ~1970; the footer check must reject WITHOUT scanning the data
    // (the r8 guard ran a min/max job here). spark.read's own schema
    // inference runs outside the probe, so the job count is scoped to
    // the normalization step only.
    writeNanosFile(dir, micros, annotate = false)
    val df = spark.read.parquet(s"$dir/events.parquet")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSession.normalizeEventsTs(df, s"$dir/events.parquet")
      }
      assert(e.getMessage.contains("TIMESTAMP(NANOS)"))
      Thread.sleep(300) // let any (unexpected) job-start events drain
      assert(jobs === 0, "footer probe must not run a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("events.ts timestamp_ntz (current fixture shape) normalizes, value-identical") {
    val dir = GraftSession.tempDir("graft_fix_ntz").toString
    writeEvents(dir) {
      spark.range(1).select(lit(1L).as("event_id"),
        timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts"))
    }
    val (dt, v) = readTs(dir)
    assert(dt === TimestampType)
    assert(v === micros)
  }

  test("events.ts instant timestamp shape passes through unchanged") {
    val dir = GraftSession.tempDir("graft_fix_ltz").toString
    writeEvents(dir) {
      spark.range(1).select(lit(1L).as("event_id"),
        timestamp_micros(lit(micros)).as("ts"))
    }
    val (dt, v) = readTs(dir)
    assert(dt === TimestampType)
    assert(v === micros)
  }

  test("live fixture dir registers all ten views and events SQL runs") {
    GraftSession.registerAll(spark, sfDir)
    val n = spark.sql(
      "SELECT count(*) FROM events WHERE ts IS NOT NULL").head.getLong(0)
    assert(n > 0)
    // unix_micros path (sessionization) must work on the live shape too.
    val q = queries.EventsQueries.defs.find(_.name == "q_events_session").get
    assert(q.fn(spark, sfDir).count() > 0)
  }
}

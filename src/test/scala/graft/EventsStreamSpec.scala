package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventsStream

/** End-to-end file-source streaming: events parquet arrives in two
  * batches of files; the tumbling agg over the stream equals the batch
  * agg over the union; session windows match the batch sessionization
  * count for gap-separated activity.
  */
class EventsStreamSpec extends SparkSpecBase {
  import spark.implicits._

  test("file-stream tumbling agg == batch result after incremental arrival") {
    val src = GraftSession.tempDir("graft_ev_src").toString
    val out = GraftSession.tempDir("graft_ev_out").toString
    val ckp = GraftSession.tempDir("graft_ev_ckp").toString

    val all = GraftSession.table(spark, sfDir, "events")
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
    // two arrival waves
    all.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$src/b0")
    all.filter($"event_id" % 2 === 1).coalesce(1).write.parquet(s"$src/b1")
    // file source needs a flat dir: point at the parquet part files
    val stream = spark.readStream
      .schema(EventsStream.eventSchema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(src)

    val q = EventsStream.tumblingAgg(stream, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("ev_stream_agg")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("ev_stream_agg")
      .select(date_format($"window_start", "yyyy-MM-dd HH").as("h"),
        $"event_type", $"n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = all
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "yyyy-MM-dd HH").as("h"),
        $"event_type", $"n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState sessionize == batch lag/running-sum sessionization") {
    val events = GraftSession.table(spark, sfDir, "events")
    val stateful = EventsStream.sessionize(spark, events)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: the oracle-checked batch sessionization (q_events_session)
    val batch = SparkEntry.queries("q_events_session")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stateful.keySet == batch.keySet)
    stateful.foreach { case (u, (n, e)) =>
      assert(batch(u) == ((n, e)), s"user $u: stateful=($n,$e) batch=${batch(u)}")
    }
  }

  test("session_window agg bounds sessions by gap") {
    import java.sql.Timestamp
    val evs = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0), // same session
      (1L, Timestamp.valueOf("2024-01-01 11:30:00"), 3.0), // new session (>30m gap)
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 4.0),
    ).toDF("user_id", "ts", "value")
    val sessions = evs
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("value_total"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(sessions.count(_._1 == 1L) == 2) // user 1: two sessions
    assert(sessions.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 2L))
    assert(sessions.count(_._1 == 2L) == 1)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface for the `events` table shape.
  *
  * The reference has no streaming engine (SURVEY.md §2.11 — its
  * "real-time" story is fast batch over continuously-ingested storage).
  * This module upgrades that story Spark-natively: the SAME
  * transformations run as batch (EventsQueries) or incrementally via
  * `readStream`, because they are defined once over a DataFrame and the
  * streaming planner handles state/watermarks.
  *
  * At scale: tumbling-window aggregation state is bounded by
  * (windows-in-watermark × groups); the watermark bounds late-data
  * buffering; file-source streaming reads only newly-arrived files per
  * micro-batch (incremental ingest, no full rescans).
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window counts/sums per event type — identical logic to the
    * batch q_events_tumbling; watermark bounds state for streaming use.
    */
  def tumblingAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("value_sum"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("value_sum"), col("approx_users"))

  /** One closed session per user: explicit custom state via
    * flatMapGroupsWithState (the arbitrary-stateful-processing tier
    * below session_window — for session logic the built-in window can't
    * express, e.g. value-dependent gaps or mid-session emission).
    *
    * BATCH-CONTRACT tier: each group's full history arrives in one call
    * (KeyValueGroupedDataset over a bounded input), is sorted once, and
    * every session — including the trailing open one — is emitted. On an
    * unbounded stream this shape never closes state; use
    * [[sessionizeStream]] (incremental state + event-time timeout) there.
    */
  final case class SessionState(startMs: Long, lastMs: Long, n: Long, sum: Double)
  final case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, value_sum: Double)

  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000): Dataset[ClosedSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    events.select(col("user_id").cast("long"), col("ts").cast("timestamp"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OM.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[SessionState]) => {
          // batch-mode contract: all rows for the group arrive at once;
          // emit every gap-closed session, keep none open
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
          val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var cur: Option[SessionState] = None
          sorted.foreach { case (_, ts, v) =>
            val t = ts.getTime
            cur match {
              case Some(s) if t - s.lastMs <= gapMs =>
                cur = Some(s.copy(lastMs = t, n = s.n + 1, sum = s.sum + v))
              case Some(s) =>
                out += ClosedSession(user, s.startMs, s.lastMs, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, v))
              case None =>
                cur = Some(SessionState(t, t, 1, v))
            }
          }
          cur.foreach(s => out += ClosedSession(user, s.startMs, s.lastMs, s.n, s.sum))
          out.iterator
        })
  }

  /** Disjoint in-progress session fragment for [[sessionizeStream]]
    * (out-of-order arrivals within the watermark can open fragments that
    * later merge when a bridging event lands between them).
    */
  final case class SessionFrag(startMs: Long, lastMs: Long, n: Long, sum: Double)
  final case class SessionsState(frags: List[SessionFrag])

  /** Merge one event into a fragment list: absorb every fragment within
    * `gapMs` of the event (an event can bridge two fragments into one).
    */
  private[streaming] def mergeEvent(frags: List[SessionFrag], t: Long,
      v: Double, gapMs: Long): List[SessionFrag] = {
    val (touch, rest) = frags.partition(f =>
      t >= f.startMs - gapMs && t <= f.lastMs + gapMs)
    SessionFrag((t :: touch.map(_.startMs)).min, (t :: touch.map(_.lastMs)).max,
      touch.map(_.n).sum + 1, touch.map(_.sum).sum + v) :: rest
  }

  /** TRUE-stream sessionization: incremental per-event state with an
    * EVENT-TIME timeout — state is bounded, unlike [[sessionize]]'s
    * batch contract (which materializes each group's history and never
    * closes state on a stream).
    *
    * Per user the state holds only the open session fragments (not the
    * event history). A fragment closes — and is emitted and evicted —
    * once the watermark passes `lastMs + gap`: no later event can extend
    * it, because any such event would itself be behind the watermark and
    * dropped. The registered event-time timeout makes emission happen
    * even when the user never sends another event — the failure mode
    * that leaves state resident forever.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      watermark: String = "30 minutes"): Dataset[ClosedSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    events
      .withWatermark("ts", watermark)
      // no cast on ts: re-casting would strip the watermark tag
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OM.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
            state: GroupState[SessionsState]) => {
          var frags = state.getOption.map(_.frags).getOrElse(Nil)
          rows.foreach { case (_, ts, v) =>
            frags = mergeEvent(frags, ts.getTime, v, gapMs)
          }
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = frags.partition(_.lastMs + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionsState(open))
            // wake this key again when its earliest fragment can close
            state.setTimeoutTimestamp(open.map(_.lastMs).min + gapMs + 1)
          }
          closed.sortBy(_.startMs)
            .map(f => ClosedSession(user, f.startMs, f.lastMs, f.n, f.sum))
            .iterator
        })
  }

  /** Streaming exact dedup on a content key: keep the first occurrence,
    * drop re-deliveries arriving within the watermark horizon
    * (`dropDuplicatesWithinWatermark` bounds the dedup state — the
    * unbounded-history variant `dropDuplicates` would grow state forever
    * on a 100 TB/day feed). The streaming tier of exact dedup;
    * the batch tier (`Dedup.exactDupGroups`) keys on normalized document
    * text, this one keys on the full content tuple.
    *
    * The key is an md5 of the field-named JSON encoding of the content
    * struct (nulls kept explicit): unlike separator concatenation, field
    * boundaries and NULL-vs-empty are unambiguous, so distinct events
    * can never collide into one key.
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour",
      contentCols: Seq[String] = Seq("event_type", "value", "props")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("__content_key",
        md5(to_json(struct(contentCols.map(col): _*),
          Map("ignoreNullFields" -> "false")).cast("binary")))
      .dropDuplicatesWithinWatermark("__content_key")
      .drop("__content_key")

  /** Stream-stream interval join: each left event pairs with right
    * events of the same user within [0, maxDelay] after it. Watermarks
    * on BOTH sides plus the time-range conjunct let the state store
    * evict rows once they can no longer match (unbounded join state is
    * the classic stream-join failure at scale).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      watermark: String = "30 minutes", maxDelay: String = "15 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("value").as("r_value"))
    l.join(r, col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay") &&
      col("l_type") =!= col("r_type"))
  }

  /** Stateless per-row MinHash signatures + LSH band buckets on a text
    * stream — the streaming head of the near-dup pipeline: signatures
    * and bucket ids are computed incrementally at ingest (no state, no
    * shuffle), so downstream batch compaction joins only tiny
    * (band, bucket, id) tuples instead of re-reading the corpus.
    */
  def minhashStream(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16): DataFrame = {
    val sig = call_function("minhash_signature",
      call_function("shingle_hashes", col(textCol), lit(3)), lit(k), lit(42L))
    docs.select(col(idCol).as("id"), sig.as("sig"))
      .select(col("id"), col("sig"),
        graft.operators.Dedup.lshBandBuckets(col("sig"), bands, k / bands)
          .as("buckets"))
  }
}

package graft.queries

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q.{dec2, u2, sumUnscaledDbl}

/** Incremental-batch analytics over the `events` table (the reference has
  * no streaming engine — SURVEY.md §2.11; its "real-time" story is fast
  * batch, which these queries model) plus the INSERT/CTAS write path
  * (HdfsTableSink, `be/src/exec/hdfs-table-sink.h:90` → partitioned
  * parquet write with dynamic partitioning). A Structured Streaming
  * mirror of the tumbling-window agg lives in the test suite.
  */
object EventsQueries extends QueryGroup {

  def defs: Seq[Q.Def] = Seq(

    // ---- tumbling 1-hour windows via the streaming-compatible window()
    // operator (oracle: date_trunc equivalence for aligned windows).
    Q.Def("q_events_tumbling", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumUnscaledDbl(u2(col("value")), 2).as("value_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"), col("event_type"), col("n"), col("value_sum"),
          col("n_users"))
        .orderBy(col("hour_start"), col("event_type"))
    }, Some("""
      SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum,
             COUNT(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start, event_type"""
    )),

    // ---- sliding windows (1h length, 15m slide): each event lands in 4
    // overlapping windows. The oracle enumerates the same 4 aligned
    // starts per event — pinning Spark's window() slide semantics.
    Q.Def("q_events_sliding", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    }, Some("""
      SELECT STRFTIME(to_timestamp(
               CAST(FLOOR(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900),
               '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type, COUNT(*) AS n
      FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
      GROUP BY 1, 2
      ORDER BY win_start, event_type"""
    )),

    // ---- sessionization: 30-minute inactivity gap, lag + running-sum
    // session ids, per-user session stats.
    Q.Def("q_events_session", (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(asc_nulls_last("ts"), asc_nulls_last("event_id"))
      // r18 (guide §2.4): sess_id was a running sum of the non-negative
      // new_sess flag, consumed only as max(sess_id) per user — and the
      // max of a running sum of non-negative terms IS the plain sum, so
      // the second window frame drops entirely (the lag window computes
      // the flags; the aggregate sums them). Early projection of the 4
      // consumed columns keeps the window sort rows narrow (§2.3).
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("prev_us",
          lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >
              1800L * 1000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_sess")).as("n_sessions"),
          count(lit(1)).as("n_events"),
          sumUnscaledDbl(u2(col("value")), 2).as("value_total"))
        .orderBy(col("user_id"))
    }, Some("""
      WITH w AS (
        SELECT user_id, ts, event_id, value,
          LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id
            ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS prev_us
        FROM events),
      flagged AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN prev_us IS NULL
                 OR EPOCH_US(ts) - prev_us > 1800 * 1000000 THEN 1
               ELSE 0 END AS new_sess
        FROM w),
      sess AS (
        SELECT user_id, value,
          SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM flagged)
      SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_total
      FROM sess
      GROUP BY user_id
      ORDER BY user_id"""
    )),

    // ---- native session_window (gap 30m) pinned against an independent
    // lag/running-sum derivation in the oracle: same sessions, same
    // bounds, same per-session counts.
    Q.Def("q_events_session_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("value_sum"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("sess_start"),
          col("n_events"), col("value_sum"))
        .orderBy(col("user_id"), col("sess_start"))
    }, Some("""
      WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                         > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id,
             STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
      FROM sess
      GROUP BY user_id, sid
      ORDER BY user_id, sess_start"""
    )),

    // ---- funnel-ish: per event_type daily counts with day-over-day
    // delta (lag over aggregated series).
    Q.Def("q_events_daily_delta", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(asc_nulls_last("day"))
      daily.withColumn("prev_n", lag(col("n"), 1, 0L).over(w))
        .withColumn("delta", col("n") - col("prev_n"))
        .orderBy(col("event_type"), col("day"))
    }, Some("""
      WITH daily AS (
        SELECT event_type, STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT event_type, day, n,
             LAG(n, 1, 0) OVER (PARTITION BY event_type
               ORDER BY day ASC NULLS LAST) AS prev_n,
             n - LAG(n, 1, 0) OVER (PARTITION BY event_type
               ORDER BY day ASC NULLS LAST) AS delta
      FROM daily
      ORDER BY event_type, day"""
    )),

    // ---- backward as-of join (operators.Temporal, composed
    // union→window→filter): each view event picks up the user's most
    // recent purchase at-or-before it. Oracle: DuckDB's native
    // ASOF LEFT JOIN — strong cross-engine check of the semantics.
    Q.Def("q_events_asof", (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      graft.operators.Temporal.asofJoinBackward(
          views, purchases, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("purchase_id"),
          round(col("purchase_value").cast("double"), 2).as("purchase_value"))
        .orderBy(col("event_id"))
    }, Some("""
      SELECT v.event_id, v.user_id,
             STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             p.purchase_id, ROUND(p.purchase_value, 2) AS purchase_value
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'view') v
      ASOF LEFT JOIN (SELECT user_id, ts, event_id AS purchase_id,
                             value AS purchase_value
                      FROM events WHERE event_type = 'purchase') p
        ON v.user_id = p.user_id AND v.ts >= p.ts
      ORDER BY v.event_id"""
    )),

    // ---- bucketed range join (operators.Temporal.rangeJoin): lineitems
    // shipped within 180 days of their order date — equi-key + interval
    // containment without a nested-loop join. Oracle: plain BETWEEN join.
    Q.Def("q_range_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 180 DAYS")).as("o_deadline"))
      graft.operators.Temporal.rangeJoin(li, ord, "l_orderkey",
          "l_shipdate", "o_orderdate", "o_deadline",
          bucketMs = 30L * 24 * 3600 * 1000)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_in_window"))
        .orderBy(col("l_orderkey"))
    }, Some("""
      SELECT l_orderkey, COUNT(*) AS n_in_window
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 180 DAY
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""
    )),

    // ---- write path: dynamic-partitioned parquet CTAS (HdfsTableSink
    // semantics: INSERT OVERWRITE ... PARTITION (event_type)), then read
    // back and aggregate — the oracle computes the same from the source,
    // proving the round trip is lossless.
    Q.Def("q_write_ctas", (s, dir) => {
      // per-run temp dir: concurrent verify/bench runs must not share
      // (and race on) a fixed output path
      val out = graft.GraftSession.tempDir("graft_ctas_events").toString
      t(s, dir, "events")
        .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_type")
        .parquet(out)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"),
          countDistinct(col("day")).as("n_days"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum,
             COUNT(DISTINCT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d')) AS n_days
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""
    )),

    // ---- Iceberg write path: two IcebergLayout.append commits (two
    // snapshots: metadata.json chain, avro manifest lists/manifests,
    // parquet data files), read back through the native metadata-chain
    // reader — the oracle recomputes from the source, proving the
    // commit/read cycle is lossless (ref write side:
    // fe/.../service/IcebergCatalogOpExecutor.java appendFiles).
    Q.Def("q_iceberg_write_read", (s, dir) => {
      val out = graft.GraftSession.tempDir("graft_iceberg_events")
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      graft.sources.IcebergLayout.create(out,
        "hdfs://graft/test-warehouse/events_ice", ev.schema, Nil,
        Map("write.format.default" -> "parquet"))
      graft.sources.IcebergLayout.append(s, out,
        ev.where(col("event_id") % 2 === 0))
      graft.sources.IcebergLayout.append(s, out,
        ev.where(col("event_id") % 2 === 1))
      graft.sources.IcebergFiles.readTable(s, out.toString)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""
    )),

    // ---- dynamic partition overwrite (HdfsTableSink INSERT OVERWRITE
    // PARTITION semantics, hdfs-table-sink.h:90): rewrite ONLY the
    // partitions present in the incoming frame, leave the rest intact.
    // Final state: 'click' rows doubled, all other partitions original.
    Q.Def("q_write_dynpart", (s, dir) => {
      val out = graft.GraftSession.tempDir("graft_dynpart_events").toString
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      ev.write.mode(SaveMode.Overwrite).partitionBy("event_type").parquet(out)
      // writer-level option, not a session-wide conf mutation — a
      // concurrent query in the same session keeps its own semantics
      ev.filter(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("value_sum"))
        .orderBy(col("event_type"))
    }, Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value * 2
                                ELSE value END AS DECIMAL(12,2))) AS DOUBLE) AS value_sum
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""
    )),
  )
}

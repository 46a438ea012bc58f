package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization: group each user's events into sessions separated by
  * a 30-minute inactivity gap — the session-assembly step of an
  * event-stream training-data pipeline.
  *
  * Two implementations with identical semantics:
  *  - batch: the gaps-and-islands formulation (lag → gap flag →
  *    running sum as session index) — pure window functions, one
  *    shuffle by user.
  *  - streaming: `flatMapGroupsWithState` with event-time timeout —
  *    the custom-state API for unbounded inputs (the shape that keeps
  *    state bounded at 100 TB: one small SessionState per active
  *    user, evicted on timeout).
  */
object Sessionize {

  val GapMs: Long = 30 * 60 * 1000L

  final case class Event(user_id: Long, ts: Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int)

  /** Event-level session assignment: the input events plus a
    * `session_idx` column (per-user running count of gap-exceeding
    * boundaries). The shared front half of the session aggregate and
    * any per-event consumer that must respect session boundaries
    * (e.g. the transition matrix, which must not count a transition
    * across an inactivity gap). One shuffle by user.
    */
  def sessionIndexed(events: DataFrame, gapMs: Long = GapMs): DataFrame = {
    require(gapMs > 0, s"non-positive session gap: $gapMs")
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        // unix_millis keeps sub-second precision — cast-to-long would
        // truncate to seconds and disagree with the streaming path
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs, 1)
          .otherwise(0))
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_session")
  }

  /** [[sessionIndexed]] in DuckDB SQL, for the oracles that build on the
    * session index: the CTE pair `g` (boundary flag) and `sx` (events
    * of `events` with `user_id`, `ts`, the `carry` columns and
    * `session_idx`), to follow a `WITH`.
    */
  def sessionIndexedSql(gapMs: Long, carry: String*): String = {
    require(gapMs > 0, s"non-positive session gap: $gapMs")
    val cols = ("user_id" +: "ts" +: carry).mkString(", ")
    s"""g AS (
       |  SELECT $cols,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR date_diff('millisecond', lag(ts) OVER w, ts) > $gapMs
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |sx AS (
       |  SELECT $cols,
       |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM g)""".stripMargin
  }

  /** Batch gaps-and-islands: session index = running count of
    * gap-exceeding boundaries; one aggregate per (user, session).
    * The inactivity gap is a parameter (default 30 min) — shorter
    * gaps split the same event stream into more, tighter sessions.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = GapMs): DataFrame =
    sessionIndexed(events, gapMs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).cast("int").as("n_events"))
      .drop("session_idx")

  /** Streaming sessionization over a typed event stream. Emits a
    * session when the inactivity gap elapses (event-time timeout via
    * watermark) or, within a micro-batch, when a later event breaches
    * the gap. No main runs it: it is the independent reference that
    * SessionizeSpec's property tests hold the batch path against.
    */
  def sessionizeStream(spark: SparkSession, events: Dataset[Event],
      gapMs: Long = GapMs): Dataset[Session] = {
    require(gapMs > 0, s"non-positive session gap: $gapMs")
    import spark.implicits._
    // The watermark delay must DOMINATE the gap, so it is derived, not
    // fixed: a session stays open for gapMs of inactivity, and its
    // continuation events (or its event-time timeout at last + gapMs)
    // must still clear the watermark when they arrive — a fixed delay
    // below the gap would drop/split in the stream what the batch path
    // merges. 2× the gap keeps a full extra gap of late-arrival slack;
    // the 2 h floor preserves the historical tolerance for small gaps.
    val delayMs = math.max(2 * 60 * 60 * 1000L, 2 * gapMs)
    events
      .withWatermark("ts", s"$delayMs milliseconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processUser(gapMs))
  }

  private def processUser(gapMs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    val out = scala.collection.mutable.ListBuffer.empty[Session]
    var cur = state.getOption
    if (events.isEmpty && state.hasTimedOut) {
      cur.foreach(s => out += Session(userId,
        new Timestamp(s.start), new Timestamp(s.last), s.n))
      state.remove()
      return out.iterator
    }
    for (e <- events.toSeq.sortBy(_.ts.getTime)) {
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= gapMs =>
          cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
        case Some(s) => // gap breached: close the old session, open new
          out += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    cur.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.last + gapMs)
    }
    out.iterator
  }
}

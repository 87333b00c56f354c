package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.operators.{RetentionBitmap, RetentionCountBuffer}

/** One pre-shaped retention event: day offset into the window plus the
  * born/target flags (the UDAF's CASE arguments, evaluated upstream). */
case class RetentionEvent(user_id: Long, born: Boolean, target: Boolean, t: Int)

/** [[RetentionEvent]] carrying the watermarked event-time column — the
  * evicting variant's input (Spark requires the watermark attribute to
  * flow into a stateful operator using event-time timeouts). */
case class TimedRetentionEvent(
    user_id: Long, born: Boolean, target: Boolean, t: Int, ts: java.sql.Timestamp)

/** Emitted per update: the user's current `[born_vec, target_vec]` pair,
  * widened to long for parity with the oracle-facing batch output. */
case class RetentionStats(user_id: Long, stats: Seq[Seq[Long]])

/** Streaming `retention_count` via `mapGroupsWithState` — the custom-state
  * tier of Structured Streaming, for when window aggregates can't express
  * the semantics (the retention bitmap update with its born/target marker
  * rules is exactly that case).
  *
  * Per-user state is the batch accumulator's [[RetentionCountBuffer]],
  * updated by the same [[RetentionBitmap.record]] rule
  * (reference: src/retention/retention_count.rs:90-119): `born[t] = 1`
  * when the born predicate fires, `target[t] = 2` when the same event is
  * also the born event (the self-retention marker `retention_sum`
  * consumes), else `1`, a target-only event outranking the marker `2`.
  * Every bit only moves up that rank, so emissions converge to the batch
  * answer regardless of event arrival order.
  *
  * State is bounded: `2 × (winDays+1)` bytes per user, and
  * [[perUserStatsEvicting]] drops it once the analysis window has
  * closed. Its event-time timeout has a cost per batch: whenever a batch
  * advances the watermark, Spark runs one more micro-batch without data
  * to fire timeouts, so a steady stream pays two batches (and two
  * checkpoint commits) per input batch.
  */
object StatefulRetention {

  /** Shapes a raw event table (ts/user_id/event_type) into
    * [[RetentionEvent]]s for a `winDays`-day window starting `winStart`
    * (yyyy-MM-dd), with born/target event types — the streaming analogue
    * of the batch query's CASE arguments + BETWEEN pre-filter. */
  def shapeEvents(
      events: DataFrame, winStart: String, winDays: Int,
      bornType: String, targetType: String): Dataset[RetentionEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    shaped(events, winStart, winDays, bornType, targetType).as[RetentionEvent]
  }

  /** [[shapeEvents]]' window filter and columns, plus `extra` columns. */
  private def shaped(
      events: DataFrame, winStart: String, winDays: Int,
      bornType: String, targetType: String, extra: Column*): DataFrame =
    events
      .where(col("ts") >= lit(winStart).cast("timestamp") &&
        col("ts") < date_add(lit(winStart).cast("date"), winDays).cast("timestamp"))
      .select(Seq(col("user_id").cast("long").as("user_id"),
        (col("event_type") === bornType).as("born"),
        (col("event_type") === targetType).as("target"),
        datediff(to_date(col("ts")), lit(winStart).cast("date")).cast("int").as("t"))
        ++ extra: _*)

  /** The shared per-group fold: apply a batch of events to the state and
    * shape the emission. */
  private def updateState(uid: Long, it: Iterator[(Boolean, Boolean, Int)],
      state: GroupState[RetentionCountBuffer], winDays: Int): RetentionStats = {
    val s = state.getOption.getOrElse(
      RetentionCountBuffer(new Array[Byte](winDays), new Array[Byte](winDays)))
    it.foreach { case (born, target, t) =>
      if (t >= 0 && t < winDays) RetentionBitmap.record(s, t, born, target)
    }
    state.update(s)
    RetentionStats(uid,
      Seq(s.born.map(_.toLong).toSeq, s.target.map(_.toLong).toSeq))
  }

  /** Per-user retention bitmaps with custom keyed state. Works identically
    * on a streaming Dataset (outputMode `update`) and a batch Dataset —
    * the parity test's contract. */
  def perUserStats(
      events: DataFrame, winStart: String, winDays: Int,
      bornType: String, targetType: String): Dataset[RetentionStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    shapeEvents(events, winStart, winDays, bornType, targetType)
      .groupByKey(_.user_id)
      .mapGroupsWithState[RetentionCountBuffer, RetentionStats](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[RetentionEvent], state: GroupState[RetentionCountBuffer]) =>
          updateState(uid, it.map(e => (e.born, e.target, e.t)), state, winDays)
      }
  }

  /** [[perUserStats]] with production state eviction: once the analysis
    * window's end falls behind the event-time watermark, no event that
    * could still flip a bitmap bit can arrive (the engine filters rows
    * older than the watermark), so every user's state is dropped. The
    * window filter is a predicate on the watermark column itself, which
    * Catalyst keeps ABOVE the EventTimeWatermark node — out-of-window
    * traffic therefore still advances the clock, which is what makes the
    * timeout reachable on a stream whose analysis window is historical.
    * Emissions are identical to [[perUserStats]] for events within the
    * lateness bound; timed-out groups emit nothing (updates are monotone,
    * so the last emission was already final). Kept separate from
    * [[perUserStats]] because batch GroupState cannot arm event-time
    * timeouts, and the NoTimeout form must keep running on batch Datasets
    * for the parity contract. */
  def perUserStatsEvicting(
      events: DataFrame, winStart: String, winDays: Int,
      bornType: String, targetType: String,
      watermarkDelay: String = "1 hour"): Dataset[RetentionStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    val winEndMs = java.time.LocalDate.parse(winStart).plusDays(winDays)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    // flatMap (not map) so timed-out groups can emit zero rows
    shaped(events.withWatermark("ts", watermarkDelay),
        winStart, winDays, bornType, targetType, col("ts"))
      .as[TimedRetentionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionCountBuffer, RetentionStats](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[TimedRetentionEvent], state: GroupState[RetentionCountBuffer]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = updateState(uid, it.map(e => (e.born, e.target, e.t)), state, winDays)
            // all users share the window-end deadline; the max() guard
            // keeps a (theoretically unreachable) straggler from arming a
            // timestamp at or below the current watermark, which throws
            state.setTimeoutTimestamp(
              math.max(winEndMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(out)
          }
      }
  }
}

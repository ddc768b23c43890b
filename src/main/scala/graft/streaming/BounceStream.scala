package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming entry/exit/bounce monitor — the live twin of the q162
  * batch report (`Sessionize.entryExit`): as sessions close on the
  * stream, publish per-event-type entry counts, exit counts, and
  * bounce counts (single-event sessions). The landing-page health
  * dashboard this feeds flips within one watermark delay of a broken
  * entry page, instead of in tomorrow's batch.
  *
  * Shape: [[SessionStream]]'s flatMapGroupsWithState gap sessionizer
  * with O(1) per-user state carrying the session's FIRST and LAST
  * event types (deterministic (ts, event_id) order — the q162
  * contract). Closed visits arrive append-mode (each session
  * finalized exactly once), so the per-type counting is a BATCH-LOCAL
  * aggregate inside foreachBatch merged into the store as
  * ledger-guarded increments — the NearDupStream savings pattern
  * (chaining a streaming aggregation after fMGWS instead would trip
  * Spark's global-watermark correctness check: timeout-emitted rows
  * are "late" to any downstream stateful operator).
  * State bounds: per-user O(1) + tombstone; the delta frame is
  * event-type-domain-bounded, so the store merge is ONE transaction
  * per micro-batch and replays are exactly-once via the ledger row.
  */
object BounceStream {

  import SessionStream.Ev

  /** Store tables this stream provisions (running absolute counts
    * keyed by event_type). */
  val Tables: Seq[String] = Seq("bounce_entries", "bounce_exits",
    "bounce_bounces")

  /** Per-user open-visit state: O(1) — entry/exit types plus the
    * (ts, event_id) coordinates that hold them, so cross-batch
    * stragglers keep the q162 deterministic order (see [[updateUser]]);
    * nothing is buffered. A closed user leaves a seq-only TOMBSTONE
    * (startUs == -1) so the next session numbers seq+1 (the
    * SessionStream id contract). */
  final case class OpenVisit(seq: Long, startUs: Long, lastUs: Long,
      steps: Long, entryType: String = "", exitType: String = "",
      entryId: Long = Long.MaxValue, exitId: Long = Long.MinValue) {
    def isTombstone: Boolean = startUs < 0
  }

  /** One closed visit at the grain q162's session frame aggregates. */
  final case class ClosedVisit(user_id: Long, session_id: String,
      entry_type: String, exit_type: String, steps: Long)

  private def close(userId: Long, s: OpenVisit): ClosedVisit =
    ClosedVisit(userId, s"${userId}_${s.seq}", s.entryType, s.exitType,
      s.steps)

  /** The state-transition function (exposed for direct unit tests).
    *
    * Cross-batch straggler semantics match the batch twin
    * (`Sessionize.entryExit` over the deterministic (ts, event_id)
    * order), mirroring SessionStream.updateUser: an event predating
    * the open visit by more than the gap forms its OWN earlier visit
    * (a bounce, as the batch sessionizer would have split it); an
    * in-gap event only takes over the entry role if it precedes the
    * recorded start — (ts, event_id)-compared against the event that
    * holds it — and only takes over the exit role if it follows the
    * recorded end, so a late-arriving mid-visit event can never
    * overwrite either endpoint. */
  def updateUser(gapSeconds: Long)(
      userId: Long, events: Iterator[Ev],
      state: GroupState[OpenVisit]): Iterator[ClosedVisit] = {
    val gapUs = gapSeconds * 1000000L
    if (state.hasTimedOut) {
      val out = state.getOption.filterNot(_.isTombstone)
        .map(close(userId, _)).iterator
      state.getOption.foreach(s =>
        state.update(OpenVisit(s.seq, -1L, -1L, 0L)))
      return out
    }
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var open = state.getOption
    val closed = Seq.newBuilder[ClosedVisit]
    sorted.foreach { e =>
      val us = e.ts.getTime * 1000L
      open match {
        case Some(s) if s.isTombstone =>
          open = Some(OpenVisit(s.seq + 1, us, us, 1L, e.event_type,
            e.event_type, e.event_id, e.event_id))
        case Some(s) if us < s.startUs - gapUs =>
          // pre-gap straggler: its own earlier single-event visit; the
          // open visit is not yet emitted, so renumber it after the
          // straggler — ids stay event-time-ordered (SessionStream
          // convention)
          closed += close(userId, OpenVisit(s.seq, us, us, 1L,
            e.event_type, e.event_type, e.event_id, e.event_id))
          open = Some(s.copy(seq = s.seq + 1))
        case Some(s) if us - s.lastUs <= gapUs =>
          val entryWins = us < s.startUs ||
            (us == s.startUs && e.event_id < s.entryId)
          val exitWins = us > s.lastUs ||
            (us == s.lastUs && e.event_id > s.exitId)
          open = Some(s.copy(
            startUs = math.min(s.startUs, us),
            lastUs = math.max(s.lastUs, us),
            steps = s.steps + 1,
            entryType = if (entryWins) e.event_type else s.entryType,
            exitType = if (exitWins) e.event_type else s.exitType,
            entryId = if (entryWins) e.event_id else s.entryId,
            exitId = if (exitWins) e.event_id else s.exitId))
        case Some(s) =>
          closed += close(userId, s)
          open = Some(OpenVisit(s.seq + 1, us, us, 1L, e.event_type,
            e.event_type, e.event_id, e.event_id))
        case None =>
          open = Some(OpenVisit(1L, us, us, 1L, e.event_type, e.event_type,
            e.event_id, e.event_id))
      }
    }
    open.foreach { s =>
      state.update(s)
      if (!s.isTombstone)
        state.setTimeoutTimestamp(s.lastUs / 1000L + gapSeconds * 1000L)
    }
    closed.result().iterator
  }

  /** Closed visits, append mode (watermark + event-time timeout close
    * sessions exactly as [[SessionStream.closedSessions]]). */
  def closedVisits(events: DataFrame, gapSeconds: Long = 1800L,
      watermark: String = "10 minutes"): Dataset[ClosedVisit] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        lit(null).cast("double").as("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateUser(gapSeconds))
  }

  /** One micro-batch's per-type delta counts: each closed visit
    * contributes one entry-role and one exit-role row, so all three
    * counters come from ONE aggregate over the (batch-local,
    * type-domain-bounded) visit frame. */
  def typeDelta(closedBatch: DataFrame): DataFrame =
    closedBatch
      .select(explode(array(
        struct(col("entry_type").as("t"), lit(1L).as("e"), lit(0L).as("x"),
          when(col("steps") === 1L, 1L).otherwise(0L).as("b")),
        struct(col("exit_type").as("t"), lit(0L).as("e"), lit(1L).as("x"),
          lit(0L).as("b")))).as("r"))
      .groupBy(col("r.t").as("event_type"))
      .agg(sum(col("r.e")).as("n_entries"), sum(col("r.x")).as("n_exits"),
        sum(col("r.b")).as("n_bounces"))

  /** foreachBatch body: merge the batch's type-grain delta into the
    * running store counts, exactly once under replay
    * ([[KeyedStore.exactlyOnce]]; the delta is domain-bounded, so one
    * partition, one transaction). */
  def bounceBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.exactlyOnce(provider, "bounce", batchId, parts = 1)(
        typeDelta(batch)) { (s, rows) =>
      rows.foreach { r =>
        val t = Seq(r.getString(0))
        s.increment("bounce_entries", t, r.getLong(1))
        s.increment("bounce_exits", t, r.getLong(2))
        s.increment("bounce_bounces", t, r.getLong(3))
      }
    }

  /** The full query: gap sessionizer (append — each visit finalized
    * once) → ledger-guarded per-type increments. */
  def bounceQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String, gapSeconds: Long = 1800L,
      watermark: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    closedVisits(events, gapSeconds, watermark)
      .toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(bounceBatch(provider) _)
      .start()
}

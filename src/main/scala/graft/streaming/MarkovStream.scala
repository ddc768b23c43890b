package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming Markov removal-effect attribution — the live twin of
  * q292 (`graft.ops.Market.markovAttribution`): per-user session
  * state emits one (prev → next) step per within-session pair AND a
  * (∅ → type) row per session START (the start weights the batch op
  * reads from the lag frame's null rows), the store accumulates the
  * type²-grain chain matrix + start counts across batches with
  * ledger-guarded exactly-once increments, and every applied batch
  * re-publishes the channel credits by running the SAME
  * [[graft.ops.Market.markovRemovalLadder]] the batch op runs —
  * parity is by construction, not by twin-maintenance (the
  * StationaryStream convention).
  *
  * Ordering contract: identical to [[TransitionStream]] — a
  * cross-batch straggler older than the user's consumed state is
  * skipped, never paired, never a retroactive session start (batch
  * reprocessing owns exact late-data semantics).
  *
  * Scale shape: state is (last event-time, last type) per ACTIVE
  * user, event-time-timeout-evicted; every store table is
  * type(²)-grain metadata; the ladder is driver arithmetic per
  * batch. */
object MarkovStream {

  val MatrixTable = "ma_matrix"
  val StartsTable = "ma_starts"
  val CreditsTable = "ma_credits"

  /** One emitted step; `prev_type` None = session start. */
  final case class MStep(user_id: Long, prev_type: Option[String],
      next_type: String)

  /** The state-transition function (exposed for unit tests). */
  def updateUser(gapSeconds: Long)(
      userId: Long, events: Iterator[SessionStream.Ev],
      state: GroupState[TransitionStream.LastEv]): Iterator[MStep] = {
    val gapUs = gapSeconds * 1000000L
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var last = state.getOption
    val out = Seq.newBuilder[MStep]
    sorted.foreach { e =>
      val us = e.ts.getTime * 1000L
      last match {
        case Some(l) if us < l.lastUs =>
          () // straggler behind consumed state: skip (contract above)
        case Some(l) if us - l.lastUs <= gapUs =>
          out += MStep(userId, Some(l.lastType), e.event_type)
          last = Some(TransitionStream.LastEv(us, e.event_type))
        case _ => // first event or gap exceeded: a session START
          out += MStep(userId, None, e.event_type)
          last = Some(TransitionStream.LastEv(us, e.event_type))
      }
    }
    last.foreach { l =>
      state.update(l)
      state.setTimeoutTimestamp(l.lastUs / 1000L + gapSeconds * 1000L)
    }
    out.result().iterator
  }

  /** Micro-batch body: collapse to type²+start grain, apply the
    * increments exactly once ([[KeyedStore.exactlyOnce]]; type²-grain
    * metadata, so one partition, one transaction), then re-publish
    * the credits off the full accumulated matrix in that same
    * transaction. Only defined (non-NULL in the batch op) cells are
    * written. */
  def creditsBatch(provider: StoreProvider, channels: Seq[String],
      target: String = "purchase", steps: Int = 5)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.exactlyOnce(provider, "markov", batchId, parts = 1)(
      batch.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("c"))) { (s, rows) =>
      rows.foreach { r =>
        if (r.isNullAt(0))
          s.increment(StartsTable, Seq(r.getString(1)), r.getLong(2))
        else
          s.increment(MatrixTable,
            Seq(r.getString(0), r.getString(1)), r.getLong(2))
      }
      val matrix = s.scan(MatrixTable)
        .map { case (k, v) => ((k(0), k(1)), v) }.toMap
      val starts = s.scan(StartsTable)
        .map { case (k, v) => (k(0), v) }.toMap
      val credits = graft.ops.Market
        .markovRemovalLadder(matrix, starts, channels, target, steps)
      s.replaceGroup(CreditsTable, Nil, credits.flatMap {
        case (ch, pf, pr, rm, cr) => Seq(
          pf.map(v => (Seq(ch, "p_full_bp"): Seq[String], v)),
          pr.map(v => (Seq(ch, "p_removed_bp"): Seq[String], v)),
          rm.map(v => (Seq(ch, "removal_bp"): Seq[String], v)),
          cr.map(v => (Seq(ch, "credit_bp"): Seq[String], v))
        ).flatten
      })
    }

  /** The full query: events → steps+starts → increments → ladder. */
  def creditsQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String, channels: Seq[String],
      target: String = "purchase", steps: Int = 5,
      gapSeconds: Long = 1800L, watermark: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    stepsWithStarts(events, gapSeconds, watermark)
      .toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(creditsBatch(provider, channels, target, steps) _)
      .start()

  /** Wire onto a streaming events frame (user_id, event_id, ts,
    * event_type). */
  def stepsWithStarts(events: DataFrame, gapSeconds: Long = 1800L,
      watermark: String = "10 minutes"): Dataset[MStep] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        lit(null).cast("double").as("value"))
      .as[SessionStream.Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateUser(gapSeconds))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming Kaplan–Meier survival — the live twin of q356
  * (`graft.ops.Retention.kaplanMeier`): per-user state tracks the
  * (first, last) active day, emits an updated span row whenever a
  * batch moves either bound, the store keeps the spans as ABSOLUTE
  * per-user puts (first-day min / last-day max are monotone, so a
  * replayed batch rewrites identical values — idempotence without a
  * ledger), and every batch republishes the survival curve by
  * running the SAME [[graft.ops.Retention.kmLadder]] the batch op
  * runs over the store's span census (censoring at the census' max
  * observed day, exactly the batch rule). Parity is by construction.
  *
  * A late event can EXTEND a user's span backward (earlier first
  * day) or forward — the span table is absolute state, so both
  * retro-corrections land as plain puts and the next curve is right;
  * nothing needs retraction.
  *
  * Scale shape: per-user SS state is two longs with NO timeout —
  * lifetime analysis needs full user history, so state is
  * user-domain-bounded by design (the q75 cohort-window caveat
  * applies: bound the input stream's user domain upstream). The
  * store span census is user-grain; the per-batch curve rebuild
  * collapses it to lifetime grain (≤ observation-span rows) before
  * the driver ladder — at production user counts, swap the scan for
  * a store-side (lifetime → counts) aggregate view; the ladder and
  * its publication are unchanged. */
object KmStream {

  val SpanTable = "km_span"
  val CurveTable = "km_curve"

  /** An updated per-user activity span (epoch days, inclusive). */
  final case class Span(user_id: Long, first_day: Long, last_day: Long)

  /** The state-transition function (exposed for unit tests): emits
    * one span row per batch IFF a bound moved. */
  def updateUser(
      userId: Long, events: Iterator[SessionStream.Ev],
      state: GroupState[(Long, Long)]): Iterator[Span] = {
    val times = events.map(_.ts.getTime).toSeq
    if (times.isEmpty) return Iterator.empty
    val (lo, hi) = (times.min, times.max)
    val next = state.getOption match {
      case Some((f, l)) => (math.min(f, lo), math.max(l, hi))
      case None => (lo, hi)
    }
    if (state.getOption.contains(next)) Iterator.empty
    else {
      state.update(next)
      Iterator(Span(userId,
        Math.floorDiv(next._1, 86400000L), Math.floorDiv(next._2, 86400000L)))
    }
  }

  /** Micro-batch body: absolute span puts, then the curve rebuild
    * off the full census through the shared ladder, in one
    * transaction so no reader sees the curve between its DELETE and
    * its INSERTs. */
  def kmBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        val u = r.getLong(0).toString
        s.put(SpanTable, Seq(u, "first"), r.getLong(1))
        s.put(SpanTable, Seq(u, "last"), r.getLong(2))
      }
      // .toSeq BEFORE the map: mapping a Map to (first, last)
      // pairs would re-key on first_day and silently merge users
      val spans = s.scan(SpanTable)
        .groupBy(_._1.head).toSeq
        .map { case (_, kv) =>
          val m = kv.map { case (k, v) => k(1) -> v }.toMap
          (m("first"), m("last"))
        }
      val censorDay = spans.map(_._2).max
      val lt = spans
        .groupBy { case (f, l) => (l - f, l == censorDay) }
        .map { case ((t, cens), g) =>
          (t, cens, g.size.toLong) }
        .groupBy(_._1).map { case (t, g) =>
          (t,
            g.collect { case (_, false, n) => n }.sum,
            g.collect { case (_, true, n) => n }.sum)
        }.toSeq
      s.replaceGroup(CurveTable, Nil,
        graft.ops.Retention.kmLadder(lt).flatMap {
          case (t, nRisk, d, c, ppm) => Seq(
            (Seq(t.toString, "n_risk"): Seq[String], nRisk),
            (Seq(t.toString, "n_events"): Seq[String], d),
            (Seq(t.toString, "n_censored"): Seq[String], c),
            (Seq(t.toString, "survival_ppm"): Seq[String], ppm))
        })
    }

  /** The full query: events → span updates → absolute puts → curve. */
  def kmQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    spans(events)
      .toDF()
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(kmBatch(provider) _)
      .start()

  /** Wire onto a streaming events frame (user_id, event_id, ts,
    * event_type). */
  def spans(events: DataFrame): Dataset[Span] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        lit(null).cast("double").as("value"))
      .as[SessionStream.Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(updateUser)
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming gap-island monitor — the live twin of the q340 batch
  * gaps-and-islands read (`Retention.gapIslands`): per batch, every
  * missing-day run in the revenue calendar, rebuilt from the
  * absolute day ledger (ChangepointStream's state family). The
  * incident-channel framing: "day N+1 of zero orders" is a live
  * page, not tomorrow's report — and a gap CLOSES retroactively the
  * moment a late order lands inside it, which replacing the whole
  * gap table per batch gets right for free (an append-only gap log
  * would have to retract).
  *
  * Wire shape: one stream of order events (order_id, order_ts,
  * total_price) — the TrailingStream wire.
  *
  * Store state: `gi_day_cents` (day → cents, absolute idempotent
  * puts) and `gi_gaps` ((gap_start_daynum) → gap_days, replaced per
  * batch) plus a `gi_census` row group (n_gaps, max_gap_days,
  * days_missing). The walk is the q340 lead() pass run small over
  * the sorted ledger keys, so batch parity is by construction.
  *
  * Scale shape: event-grain work collapses to day grain inside SS
  * state (one shuffle); the walk is day-grain metadata. */
object GapIslandStream {

  val DayTable = "gi_day_cents"
  val GapTable = "gi_gaps"
  val CensusTable = "gi_census"

  /** The q340 walk: sorted observed days → (gap_start_daynum,
    * gap_days) per missing run. */
  def gapWalk(days: Seq[Long]): Seq[(Long, Long)] = {
    val s = days.distinct.sorted
    s.zip(s.drop(1)).collect {
      case (a, b) if b - a > 1 => (a + 1, b - a - 1)
    }
  }

  /** Micro-batch body: idempotent absolute day puts, then the gap
    * table + census rebuild over the whole (bounded) ledger. */
  def gapBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit = {
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(DayTable, Seq(r.getLong(0).toString), r.getLong(1))
      }
      val days = s.scan(DayTable).map(_._1.head.toLong).toSeq
      val gaps = gapWalk(days)
      s.replaceGroup(GapTable, Nil,
        gaps.map { case (st, len) => (Seq(st.toString), len) })
      s.replaceGroup(CensusTable, Nil, Seq(
        (Seq("n_gaps"), gaps.size.toLong),
        (Seq("max_gap_days"),
          if (gaps.isEmpty) 0L else gaps.map(_._2).max),
        (Seq("days_missing"), gaps.map(_._2).sum)))
    }
  }

  /** The full query: order stream → day totals → ledger + gaps. */
  def gapQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    SeasonalityStream.dayTotals(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(gapBatch(provider) _)
      .start()
}

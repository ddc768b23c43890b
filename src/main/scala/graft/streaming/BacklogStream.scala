package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming open-order BACKLOG monitor — the live twin of the q244
  * batch panel, and the library's incremental-view-maintenance
  * showcase: the published view is a day-grain aggregate whose inputs
  * UPDATE (an order's close day is the max ship date seen SO FAR — a
  * late line can move it forward), so each batch must retract the
  * old contribution and apply the new one, not just append.
  *
  * Wire shape: one stream of ship events (order_id, open_ts,
  * total_price, ship_ts) — the order header fields ride every line
  * (the denormalized CDC shape); the first line seen opens the order.
  *
  * Store state and maintenance:
  *  - `bl_close` (order → close day epoch): monotone max — an
  *    absolute put of max(old, new), idempotent under replay;
  *  - `bl_opened` / `bl_closed` / day cents deltas: day-grain
  *    INCREMENTS with retractions (−1 on the old close day, +1 on the
  *    new) — non-idempotent, so the whole batch's maintenance runs in
  *    ONE transaction under [[graft.sink.KeyedStore.exactlyOnce]];
  *  - `bl_open_eod` / `bl_open_cents_eod`: the derived running sums,
  *    rebuilt by a walk over the calendar-bounded day domain (the
  *    q212 pattern) — so retractions automatically reshape every
  *    later day.
  *
  * Scale shape: event-grain work collapses to order grain in the
  * batch aggregate (one shuffle); only changed orders reach the
  * writer; the walk is day-grain. Order-close state grows with live
  * orders — a deployment evicts rows once closed past the watermark
  * (documented, not implemented: the store is the retention owner).
  */
object BacklogStream {

  /** One streamed ship event (denormalized order header + line). */
  final case class Ship(order_id: Long, open_ts: java.sql.Timestamp,
      total_price: Double, ship_ts: java.sql.Timestamp)

  val Tables: Seq[String] = Seq(
    "bl_close", "bl_day_orders", "bl_day_cents",
    "bl_open_eod", "bl_open_cents_eod", KeyedStore.Ledger)

  private def dayStr(epochDay: Long): String =
    java.time.LocalDate.ofEpochDay(epochDay).toString

  /** Per-batch order-grain summary: first-seen header + max ship day
    * in this batch. */
  def batchOrders(ships: DataFrame, delay: String = "10 minutes"): DataFrame =
    ships
      .withWatermark("ship_ts", delay)
      .groupBy(col("order_id"))
      .agg(
        min(datediff(to_date(col("open_ts")), lit("1970-01-01")))
          .cast("long").as("open_day"),
        min(floor(col("total_price") * lit(100.0)).cast("long")).as("cents"),
        max(datediff(to_date(col("ship_ts")), lit("1970-01-01")))
          .cast("long").as("ship_day"))

  /** The micro-batch body (exposed for tests): one exactly-once
    * transaction applies, per changed order, the retraction of its
    * OLD close-day contribution and the application of the new —
    * first sight also applies the open-day contribution — then
    * rebuilds the derived EOD walk. */
  def backlogBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.exactlyOnce(provider, "backlog", batchId, parts = 1)(batch) {
        (s, rows) =>
      rows.foreach { r =>
        val order = r.getLong(0).toString
        val openDay = r.getLong(1)
        val cents = r.getLong(2)
        val shipDay = r.getLong(3)
        val old = s.get("bl_close", Seq(order))
        if (old.isEmpty) {
          // first sight: open-day contribution + initial close
          s.increment("bl_day_orders", Seq(dayStr(openDay)), 1L)
          s.increment("bl_day_cents", Seq(dayStr(openDay)), cents)
          s.increment("bl_day_orders", Seq(dayStr(shipDay)), -1L)
          s.increment("bl_day_cents", Seq(dayStr(shipDay)), -cents)
          s.put("bl_close", Seq(order), shipDay)
        } else if (shipDay > old.get) {
          // the close moved: retract the old day, apply the new
          s.increment("bl_day_orders", Seq(dayStr(old.get)), 1L)
          s.increment("bl_day_cents", Seq(dayStr(old.get)), cents)
          s.increment("bl_day_orders", Seq(dayStr(shipDay)), -1L)
          s.increment("bl_day_cents", Seq(dayStr(shipDay)), -cents)
          s.put("bl_close", Seq(order), shipDay)
        } // shipDay <= old: a late straggler INSIDE the known
          // span — the close day already covers it, no change
      }
      // derived walk: running open counts/value at EOD over the
      // day-grain delta map (calendar-bounded)
      val days = s.scan("bl_day_orders")
        .map { case (k, v) => (k.head, v) }.sortBy(_._1)
      var run = 0L
      s.replaceGroup("bl_open_eod", Nil, days.map { case (d, v) =>
        run += v; (Seq(d), run)
      })
      val cds = s.scan("bl_day_cents")
        .map { case (k, v) => (k.head, v) }.sortBy(_._1)
      var runC = 0L
      s.replaceGroup("bl_open_cents_eod", Nil, cds.map { case (d, v) =>
        runC += v; (Seq(d), runC)
      })
    }

  /** The full query: ship stream → order-grain batch summary →
    * retract-and-apply maintenance + derived walk. Update mode: only
    * orders CHANGED by the batch reach the writer. */
  def backlogQuery(ships: DataFrame, provider: StoreProvider,
      checkpointDir: String, delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    batchOrders(ships, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(backlogBatch(provider) _)
      .start()
}

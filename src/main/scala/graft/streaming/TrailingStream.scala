package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming trailing-window revenue monitor — the live twin of the
  * q257 batch panel (`Retention.trailingRevenue`): per order day, the
  * day's revenue/orders plus the trailing `windowDays` totals under
  * RANGE-frame semantics (VALUE distance over day numbers — a
  * calendar gap ages revenue out of the window even when no new rows
  * arrive for the missing days, so a dark week never reads as
  * current).
  *
  * Wire shape: one stream of order events (order_id, order_ts,
  * total_price).
  *
  * Store state and maintenance:
  *  - `tr_day_cents` / `tr_day_orders`: day-grain totals. The SS
  *    stateful aggregate (update mode, watermarked) emits ABSOLUTE
  *    totals for the days a batch touched, so the writer does plain
  *    idempotent puts — no retraction ledger needed (contrast
  *    BacklogStream, whose inputs move between days);
  *  - `tr_trail_cents` / `tr_trail_orders`: the derived trailing
  *    sums, rebuilt per batch by a two-pointer walk over the
  *    calendar-bounded day domain in day-NUMBER distance — the
  *    streaming rebuild of the batch RANGE frame (BacklogStream's
  *    EOD-walk machinery, with the window's leading edge evicting by
  *    value distance).
  *
  * Scale shape: event-grain work collapses to day grain inside SS
  * state (one shuffle); only touched days reach the writer; the walk
  * is day-grain (calendar-bounded — years of history is thousands of
  * rows). State is bounded by the watermark horizon on the SS side
  * and the day domain on the store side.
  */
object TrailingStream {

  /** One streamed order event. */
  final case class Order(order_id: Long, order_ts: java.sql.Timestamp,
      total_price: Double)

  val Tables: Seq[String] = Seq(
    "tr_day_cents", "tr_day_orders", "tr_trail_cents", "tr_trail_orders")

  /** Day-grain absolute totals for the days this batch touched
    * (update-mode stateful aggregate — emitted totals are cumulative
    * across batches, late rows inside the watermark fold in). */
  def dayTotals(orders: DataFrame, delay: String = "10 minutes"): DataFrame =
    orders
      .withWatermark("order_ts", delay)
      .groupBy(window(col("order_ts"), "1 day").as("w"))
      .agg(
        sum(floor(col("total_price") * lit(100.0)).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("cents"), col("n_orders"))

  /** The micro-batch body (exposed for tests): idempotent absolute
    * puts of the touched days, then the derived trailing walk over
    * the full (bounded) day domain — two pointers over day numbers,
    * so the window slides by VALUE distance exactly like the batch
    * RANGE frame. */
  def trailBatch(provider: StoreProvider, windowDays: Int = 7)(
      batch: DataFrame, batchId: Long): Unit = {
    require(windowDays >= 1, "windowDays >= 1")
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        val day = r.getString(0)
        s.put("tr_day_cents", Seq(day), r.getLong(1))
        s.put("tr_day_orders", Seq(day), r.getLong(2))
      }
      // derived walk: ISO day strings sort chronologically; the
      // lo pointer evicts days older than windowDays-1 in VALUE
      // distance (calendar gaps shrink the window's content)
      val cents = s.scan("tr_day_cents")
        .map { case (k, v) => (k.head, v) }.sortBy(_._1)
      val orders = s.scan("tr_day_orders")
        .map { case (k, v) => (k.head, v) }.toMap
      val days = cents.map(_._1)
      val nums = days.map(d => java.time.LocalDate.parse(d).toEpochDay)
      var lo = 0
      var sumC = 0L
      var sumO = 0L
      val trail = Array.newBuilder[(String, Long, Long)]
      var i = 0
      while (i < days.length) {
        sumC += cents(i)._2
        sumO += orders(days(i))
        while (nums(lo) < nums(i) - (windowDays - 1L)) {
          sumC -= cents(lo)._2
          sumO -= orders(days(lo))
          lo += 1
        }
        trail += ((days(i), sumC, sumO))
        i += 1
      }
      val t = trail.result()
      s.replaceGroup("tr_trail_cents", Nil,
        t.map { case (d, c, _) => (Seq(d), c) }.toSeq)
      s.replaceGroup("tr_trail_orders", Nil,
        t.map { case (d, _, o) => (Seq(d), o) }.toSeq)
    }
  }

  /** The full query: order stream → day-grain stateful totals →
    * idempotent puts + derived trailing walk. Update mode: only days
    * CHANGED by the batch reach the writer. */
  def trailQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, windowDays: Int = 7,
      delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    dayTotals(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(trailBatch(provider, windowDays) _)
      .start()
}

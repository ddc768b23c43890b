package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming EWMA spike monitor — the live twin of the q272 batch
  * panel (`Retention.ewmaRevenue`): per order day, the day's revenue,
  * its dyadic-decay smoothed baseline, and the spike score in bp.
  * The kernel is the batch op's exactly (lag ℓ weighs 2^(W−1−ℓ),
  * mass 2^W−1, BIGINT shifts — no float recurrence to drift), and
  * lags are DAY-NUMBER distance, so a dark day dilutes the baseline
  * with a true zero even though it never ships a row.
  *
  * Wire shape: one stream of order events (order_id, order_ts,
  * total_price) — TrailingStream's wire, different derived walk.
  *
  * Store state and maintenance:
  *  - `ew_day_cents`: day-grain absolute totals (update-mode
  *    watermarked SS aggregate ⇒ idempotent puts, the TrailingStream
  *    argument);
  *  - `ew_ewma_cents` / `ew_spike_bp`: the derived panel, rebuilt per
  *    batch over the bounded day domain. Unlike the trailing SUM, a
  *    dyadic-weighted sum cannot slide incrementally in integers
  *    (halving a floored sum re-floors every term), so each day
  *    rescans its ≤W in-window days — O(days·W) over CALENDAR-grain
  *    state, still metadata-sized.
  *
  * Scale shape: event-grain work collapses to day grain inside SS
  * state (one shuffle); only touched days reach the writer; the
  * derived walk is day-grain. A spike alert is therefore live within
  * one trigger of the order that caused it.
  */
object EwmaStream {

  /** One streamed order event. */
  final case class Order(order_id: Long, order_ts: java.sql.Timestamp,
      total_price: Double)

  val Tables: Seq[String] = Seq("ew_day_cents", "ew_ewma_cents", "ew_spike_bp")

  /** Day-grain absolute revenue for the days this batch touched. */
  def dayTotals(orders: DataFrame, delay: String = "10 minutes"): DataFrame =
    orders
      .withWatermark("order_ts", delay)
      .groupBy(window(col("order_ts"), "1 day").as("w"))
      .agg(sum(floor(col("total_price") * lit(100.0)).cast("long"))
        .as("cents"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("cents"))

  /** The micro-batch body (exposed for tests): idempotent absolute
    * puts, then the derived EWMA walk — per observed day, the exact
    * shifted sum over its ≤`windowDays` in-window predecessors. A
    * spike row exists ONLY where the baseline floor-divides above
    * zero (the batch op's NULL convention, expressed as key absence). */
  def ewmaBatch(provider: StoreProvider, windowDays: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    require(windowDays >= 2 && windowDays <= 32, "windowDays in [2,32]")
    val denom = (1L << windowDays) - 1L
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put("ew_day_cents", Seq(r.getString(0)), r.getLong(1))
      }
      // ISO day strings sort chronologically
      val panel = s.scan("ew_day_cents")
        .map { case (k, v) => (k.head, v) }.sortBy(_._1)
      val nums = panel.map(p => java.time.LocalDate.parse(p._1).toEpochDay)
      val ewma = Array.newBuilder[(String, Long)]
      val spike = Array.newBuilder[(String, Long)]
      var i = 0
      while (i < panel.length) {
        var wsum = 0L
        var j = i
        while (j >= 0 && nums(i) - nums(j) <= windowDays - 1L) {
          wsum += panel(j)._2 << (windowDays - 1L - (nums(i) - nums(j))).toInt
          j -= 1
        }
        val e = wsum / denom
        ewma += ((panel(i)._1, e))
        if (e > 0L)
          spike += ((panel(i)._1,
            math.floor(10000.0 * panel(i)._2 / e).toLong))
        i += 1
      }
      s.replaceGroup("ew_ewma_cents", Nil,
        ewma.result().map { case (d, v) => (Seq(d), v) }.toSeq)
      s.replaceGroup("ew_spike_bp", Nil,
        spike.result().map { case (d, v) => (Seq(d), v) }.toSeq)
    }
  }

  /** The full query: order stream → day-grain stateful totals →
    * idempotent puts + derived EWMA walk (update mode — only days
    * changed by the batch reach the writer). */
  def ewmaQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, windowDays: Int = 16,
      delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    dayTotals(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(ewmaBatch(provider, windowDays) _)
      .start()
}

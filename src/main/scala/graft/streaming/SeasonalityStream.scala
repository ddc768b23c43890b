package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming seasonality monitor — the live twin of the q301 batch
  * autocorrelation panel (`Retention.autocorrelation`): per batch,
  * the lag-r(ℓ) panel over the full revenue history, recomputed from
  * a day-grain ledger. The TrailingStream pattern: the SS stateful
  * aggregate emits ABSOLUTE day totals (idempotent puts — replay is
  * a no-op), and the derived statistic is rebuilt per batch over the
  * calendar-bounded day domain, dark days as true zeros exactly like
  * the batch spine. "Has the weekly cycle broken" becomes a live
  * number instead of a nightly report.
  *
  * Wire shape: one stream of order events (order_id, order_ts,
  * total_price).
  *
  * Store state: `sz_day_cents` (day → cents ledger) and `sz_autocorr`
  * (lag → [n_pairs, r_bp], replaced per batch). The walk is the
  * BATCH ALGORITHM run small: truncated integer mean, BigInt
  * cross-products, truncation-toward-zero ratio — bit-identical to
  * the q301 oracle arithmetic by construction, pinned by the parity
  * spec.
  *
  * Scale shape: event-grain work collapses to day grain inside SS
  * state (one shuffle); only touched days reach the writer; the walk
  * is day-grain (years = thousands of rows). */
object SeasonalityStream {

  val DayTable = "sz_day_cents"
  val PairsTable = "sz_pairs"
  val RTable = "sz_r_bp"

  /** Day-grain absolute revenue totals (update mode, watermarked). */
  def dayTotals(orders: DataFrame, delay: String = "10 minutes"): DataFrame =
    orders
      .withWatermark("order_ts", delay)
      .groupBy(window(col("order_ts"), "1 day").as("w"))
      .agg(sum(floor(col("total_price") * lit(100.0)).cast("long"))
        .as("cents"))
      .select(
        expr("unix_micros(w.start) div 86400000000").as("daynum"),
        col("cents"))

  /** The q301 walk over a (daynum → cents) ledger — shared by the
    * batch body and the spec's direct unit test. Returns
    * (lag, n_pairs, r_bp-or-null). */
  def autocorrWalk(ledger: Map[Long, Long],
      lags: Seq[Int]): Seq[(Int, Long, Option[Long])] = {
    if (ledger.isEmpty) return lags.map(l => (l, 0L, None))
    val mn = ledger.keys.min
    val mx = ledger.keys.max
    val spine = (mn to mx).map(d => ledger.getOrElse(d, 0L))
    val n = spine.size.toLong
    val m = spine.sum / n
    val dev = spine.map(_ - m)
    val den = dev.map(d => BigInt(d) * d).sum
    lags.map { l =>
      val idx = dev.indices.dropRight(l)
      val num = idx.map(t => BigInt(dev(t)) * dev(t + l)).sum
      val r = if (den > 0) Some(((BigInt(10000) * num) / den).toLong)
        else None
      (l, idx.size.toLong, r)
    }
  }

  /** Micro-batch body: idempotent absolute day puts, then the panel
    * rebuild over the whole (bounded) ledger. */
  def seasonalityBatch(provider: StoreProvider, lags: Seq[Int])(
      batch: DataFrame, batchId: Long): Unit = {
    require(lags.nonEmpty && lags == lags.sorted && lags.head >= 1,
      "lags ascending, >= 1")
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(DayTable, Seq(r.getLong(0).toString), r.getLong(1))
      }
      val ledger = s.scan(DayTable)
        .map { case (k, v) => (k.head.toLong, v) }.toMap
      val panel = autocorrWalk(ledger, lags)
      s.replaceGroup(PairsTable, Nil,
        panel.map { case (l, np, _) => (Seq(l.toString), np) })
      s.replaceGroup(RTable, Nil,
        panel.collect { case (l, _, Some(r)) => (Seq(l.toString), r) })
    }
  }

  /** The full query: order stream → day totals → ledger + panel. */
  def seasonalityQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, lags: Seq[Int] = Seq(1, 7, 14, 28),
      delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    dayTotals(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(seasonalityBatch(provider, lags) _)
      .start()
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming revenue-seasonality monitor — the live twin of the q183
  * batch report (`Retention.revenueSeasonality`): per
  * calendar-month-of-year order counts, revenue cents, and the
  * seasonality index (bp of a flat-12 share), maintained as orders
  * stream in. The demand-planning dashboard this feeds sees a
  * quarter's drift while the quarter is still happening, instead of
  * in the year-end batch.
  *
  * Shape: an update-mode stateful aggregation on the MONTH-OF-YEAR
  * domain (12 groups — the cheapest state machine in the fleet; the
  * watermark is declared for late-data discipline, not eviction,
  * exactly like AdClickStream's T5 running totals). Each batch's
  * changed months arrive with ABSOLUTE totals (Spark's checkpointed
  * aggregation state carries them across restarts), so the publish
  * path is idempotent puts — no ledger, no transaction. The index
  * column depends on ALL months' totals, so one writer re-derives the
  * ≤12-row index table from the store's absolute state per batch
  * (the TrendStream touched-group re-rank pattern, at a domain so
  * small "touched" is just "all").
  */
object RevenueStream {

  /** One streamed order (the wire shape the tests drive). */
  final case class Ord(order_id: Long, total_price: Double,
      ts: java.sql.Timestamp)

  /** Store tables this stream provisions: absolute per-month totals
    * plus the derived index table. */
  val Tables: Seq[String] = Seq("rev_month_orders", "rev_month_cents",
    "rev_month_index")

  /** Per-month ABSOLUTE running (n_orders, month_cents) for months
    * changed this batch (update mode). Money in BIGINT cents via the
    * house one-IEEE-multiply-then-floor rule — identical to the q183
    * batch column. */
  def monthRevenue(orders: DataFrame, delay: String = "10 minutes"): DataFrame =
    orders
      .withWatermark("ts", delay)
      .groupBy(month(col("ts")).cast("long").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("total_price") * lit(100.0)).cast("long"))
          .as("month_cents"))

  /** The micro-batch body (exposed for tests; absolute puts + a
    * full-domain index rebuild — calling it twice with the same batch
    * is a no-op). */
  def revenueBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        val m = Seq(r.getLong(0).toString)
        s.put("rev_month_orders", m, r.getLong(1))
        s.put("rev_month_cents", m, r.getLong(2))
      }
      // one writer re-derives the ≤12-row index table from absolute
      // store state; the double arithmetic mirrors the batch column
      // term-for-term (10000.0 * cents * 12 / total, then floor) so
      // stream and batch agree bit-for-bit
      KeyedStore.perPartition(
        batch.select(lit("all").as("g")).distinct(), provider) { (s, _) =>
        val months = s.scan("rev_month_cents")
          .map { case (k, v) => (k.head, v) }
        val total = months.map(_._2).sum
        s.replaceGroup("rev_month_index", Nil,
          months.map { case (m, cents) =>
            (Seq(m), if (total == 0L) 0L
            else math.floor(10000.0 * cents * 12 / total).toLong)
          })
      }
    } finally { batch.unpersist(); () }
  }

  /** The full query: 12-group running revenue aggregation →
    * idempotent absolute publish + index rebuild. */
  def revenueQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    monthRevenue(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(revenueBatch(provider) _)
      .start()
}

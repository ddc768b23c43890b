package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming price-ending monitor — the live twin of the q346 batch
  * census (`Integrity.priceEndings`): the cent-ending histogram of
  * order totals as an SS stateful aggregate (≤100 absolute cells —
  * the smallest state of any machine in the fleet), with the
  * top-k + rest census rebuilt per batch. The forensic this serves
  * live: a currency-conversion or double-rounding bug shows up as
  * one ending's share spiking WITHIN MINUTES of a deploy — exactly
  * the window a nightly q346 run misses.
  *
  * Wire shape: the TrailingStream order wire (order_id, order_ts,
  * total_price).
  *
  * Store state: `pe_cells` (ending → count, absolute idempotent
  * puts from the SS aggregate) and `pe_census` ((label, field) →
  * value, replaced per batch; fields n/share_bp/expected_bp/
  * excess_bp — the q346 columns). The census walk is the batch
  * algorithm run small, pinned by the parity spec.
  *
  * Scale shape: fact rows collapse to ≤100 ending cells inside SS
  * state (one shuffle); the census is a 9-row fold. */
object PriceEndingStream {

  val CellTable = "pe_cells"
  val CensusTable = "pe_census"

  /** Absolute per-ending counts (update mode, watermarked). */
  def endingCounts(orders: DataFrame,
      delay: String = "10 minutes"): DataFrame =
    orders
      .withWatermark("order_ts", delay)
      .groupBy(pmod(floor(col("total_price") * lit(100.0)).cast("long"),
        lit(100L)).as("e"))
      .agg(count(lit(1)).as("n"))

  /** The q346 census walk over an (ending → count) ledger: top-k by
    * (count desc, ending asc) + one 'rest' rollup. Returns
    * (label, n, share_bp, expected_bp, excess_bp). */
  def census(cells: Map[Long, Long],
      k: Int = 8): Seq[(String, Long, Long, Long, Long)] = {
    if (cells.isEmpty) return Nil
    val total = cells.values.sum
    val ranked = cells.toSeq.sortBy { case (e, n) => (-n, e) }
    val (head, tail) = ranked.splitAt(k)
    val rows = head.map { case (e, n) => (f"$e%02d", n, 1L) } ++
      (if (tail.nonEmpty)
        Seq(("rest", tail.map(_._2).sum, tail.size.toLong))
      else Nil)
    rows.map { case (label, n, ne) =>
      val share = 10000L * n / total
      (label, n, share, 100L * ne, share - 100L * ne)
    }
  }

  /** Micro-batch body: idempotent absolute cell puts, then the
    * census rebuild over the whole (≤100-cell) ledger. */
  def endingBatch(provider: StoreProvider, k: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(CellTable, Seq(r.getLong(0).toString), r.getLong(1))
      }
      val cells = s.scan(CellTable)
        .map { case (kk, v) => (kk.head.toLong, v) }.toMap
      s.replaceGroup(CensusTable, Nil,
        census(cells, k).flatMap { case (label, n, sh, ex, xs) =>
          Seq((Seq(label, "n"), n), (Seq(label, "share_bp"), sh),
            (Seq(label, "expected_bp"), ex),
            (Seq(label, "excess_bp"), xs))
        })
    }
  }

  /** The full query: order stream → ending cells → census. */
  def endingQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, k: Int = 8, delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    endingCounts(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(endingBatch(provider, k) _)
      .start()
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming log-band quantile sketch — the live twin of the q303
  * batch table (`Percentiles.sketchQuantileTable`'s band side): the
  * per-group bit-length-band histogram IS the Structured Streaming
  * state (an update-mode count on (group, band) — ≤64 bands per group
  * whatever the value volume), and every batch overwrites touched
  * cells with their new ABSOLUTE totals. Idempotent puts → crash
  * replay is a free no-op (the CmsStream/SketchStream argument:
  * absolute cell state needs no retraction ledger).
  *
  * Against the other distribution machines: the CMS grid answers
  * point frequencies, the HLL ledger answers distinct counts; this
  * one answers "where is p50/p90/p99 of a VALUE right now" as a
  * guaranteed ≤2×-wide dyadic interval — the live latency/price
  * monitor read — with cells that merge by plain addition, exactly
  * like the batch sketch's claim.
  *
  * Wire shape: a stream of (group, value) fact rows, e.g. return-flag
  * × extended price. [[quantileBands]] is the consumer-side read:
  * the batch op's nearest-rank band walk re-derived from a store
  * snapshot, interval semantics bit-identical to q303's columns.
  */
object QuantileBandStream {

  val Table = "quantile_bands"

  /** Band-cell updates for this batch: update-mode stateful count on
    * (group, band) — emitted counts are cumulative absolutes. The
    * band rule is the batch op's: 0 for cents ≤ 0, else the cents'
    * bit length. */
  def bands(facts: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    facts
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        floor(col(valueCol) * lit(100.0)).cast("long").as("cents"))
      .withColumn("band", when(col("cents") <= 0L, lit(0))
        .otherwise(length(bin(col("cents")))).cast("int"))
      .groupBy(col("grp"), col("band"))
      .agg(count(lit(1)).as("c"))

  /** Idempotent absolute puts of the touched band cells. */
  def writeBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(Table, Seq(r.getString(0), r.getInt(1).toString),
          r.getLong(2))
      }
    }

  /** The full query: fact stream → band counts → absolute puts. */
  def bandQuery(facts: DataFrame, groupCol: String, valueCol: String,
      provider: StoreProvider, checkpointDir: String,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    bands(facts, groupCol, valueCol)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(writeBatch(provider) _)
      .start()

  /** Consumer-side quantile read from a store snapshot: per group the
    * nearest-rank crossing over the ascending band walk (the batch
    * op's `(n·p + 9999) div 10000` rule), answered as the dyadic
    * interval [2^(band−1), 2^band−1] (band 0 → [0, 0]). Returns
    * (group, rank_bp) → (band, lo_cents, hi_cents). */
  def quantileBands(cells: Map[(String, Int), Long],
      ranksBp: Seq[Long]): Map[(String, Long), (Int, Long, Long)] =
    cells.groupBy(_._1._1).flatMap { case (grp, cs) =>
      val byBand = cs.map { case ((_, b), c) => b -> c }.toSeq.sortBy(_._1)
      val n = byBand.map(_._2).sum
      ranksBp.map { p =>
        val rank = (n * p + 9999L) / 10000L
        var cum = 0L
        val band = byBand.collectFirst {
          case (b, c) if { cum += c; cum >= rank } => b
        }.get
        val lo = if (band == 0) 0L else 1L << (band - 1)
        val hi = if (band == 0) 0L else (1L << band) - 1L
        (grp, p) -> ((band, lo, hi))
      }
    }
}

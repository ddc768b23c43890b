package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming CUSUM change-point monitor — the live deployment of the
  * q212 batch detector (`Retention.cusumRevenue`), against an
  * EXPLICIT reference (`targetCents`/day ± `slackBp`): production
  * CUSUM is configured from last period's baseline, because a stream
  * cannot know its own eventual mean. Each micro-batch updates
  * per-day absolute revenue; the alarm walk re-derives from absolute
  * state, so a LATE event that edits an old day correctly reshapes
  * every later day's accumulation — the failure mode an incremental
  * cusum-in-state design silently gets wrong.
  *
  * Shape (the RevenueStream pattern): an update-mode stateful
  * aggregation on the DAY domain (state calendar-bounded; the
  * watermark is late-data discipline, not eviction), absolute puts
  * into `cusum_day_cents`, then ONE writer replays Page's recursion
  * over the store's full day map (a few thousand rows for a decade —
  * metadata-sized) into the derived tables. Replay-idempotent by
  * construction: absolute puts + a derived walk.
  *
  * Arithmetic matches the batch op's integer discipline: dev⁺ =
  * 10000·cents − (10000+slackBp)·target, dev⁻ mirrored; levels are
  * the closed-form cumsum − running-min in Long (exact for any
  * realistic day count), alarms compare against
  * 10000·hMeanDays·target.
  */
object CusumStream {

  /** One streamed order (the wire shape the tests drive). */
  final case class Ord(order_id: Long, total_price: Double,
      ts: java.sql.Timestamp)

  /** Store tables: absolute day cents + the derived walk (pos/neg
    * levels in dev-scale units ÷ target = bp of one target day;
    * alarm bitmask: 1 = pos, 2 = neg). */
  val Tables: Seq[String] =
    Seq("cusum_day_cents", "cusum_pos_bp", "cusum_neg_bp", "cusum_alarm")

  /** Per-day ABSOLUTE running cents for days changed this batch. */
  def dayRevenue(orders: DataFrame, delay: String = "10 minutes"): DataFrame =
    orders
      .withWatermark("ts", delay)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("total_price") * lit(100.0)).cast("long"))
        .as("cents"))

  /** The micro-batch body (exposed for tests): absolute puts + a
    * full-walk rebuild of the derived tables — replaying a batch is a
    * no-op. */
  def cusumBatch(provider: StoreProvider, targetCents: Long,
      slackBp: Long, hMeanDays: Long)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        s.put("cusum_day_cents", Seq(r.getString(0)), r.getLong(1))
      }
      // one writer walks the absolute day map in day order — Page's
      // recursion S_t = max(0, S_{t-1} + dev_t), integer throughout
      KeyedStore.perPartition(
        batch.select(lit("all").as("g")).distinct(), provider) { (s, _) =>
        val days = s.scan("cusum_day_cents")
          .map { case (k, v) => (k.head, v) }.toSeq.sortBy(_._1)
        var sp = 0L
        var sn = 0L
        val walk = days.map { case (day, cents) =>
          sp = math.max(0L, sp + (10000L * cents - (10000L + slackBp) * targetCents))
          sn = math.max(0L, sn + ((10000L - slackBp) * targetCents - 10000L * cents))
          val alarm = (if (sp > 10000L * hMeanDays * targetCents) 1L else 0L) |
            (if (sn > 10000L * hMeanDays * targetCents) 2L else 0L)
          (day, sp / targetCents, sn / targetCents, alarm)
        }
        s.replaceGroup("cusum_pos_bp", Nil,
          walk.map { case (d, p, _, _) => (Seq(d), p) })
        s.replaceGroup("cusum_neg_bp", Nil,
          walk.map { case (d, _, n, _) => (Seq(d), n) })
        s.replaceGroup("cusum_alarm", Nil,
          walk.map { case (d, _, _, a) => (Seq(d), a) })
      }
    } finally { batch.unpersist(); () }
  }

  /** The full query: day-domain running revenue → absolute publish +
    * derived CUSUM walk. */
  def cusumQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, targetCents: Long, slackBp: Long = 2000L,
      hMeanDays: Long = 3L, delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery = {
    require(targetCents > 0L, "targetCents must be positive")
    dayRevenue(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(cusumBatch(provider, targetCents, slackBp, hMeanDays) _)
      .start()
  }
}

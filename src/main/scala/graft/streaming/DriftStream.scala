package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Retention
import graft.sink.{KeyedStore, StoreProvider}

/** Streaming distribution-drift monitor — the live twin of the q109
  * batch report ([[Retention.valueDrift]]): total-variation distance
  * of the INCOMING value distribution against a fixed reference
  * histogram, updated while the stream runs instead of in tomorrow's
  * batch job. The reference side is provisioned once from the batch
  * reference window ([[loadReference]] writes
  * [[Retention.valueHistogram]] rows); the production cadence is to
  * re-provision it on a schedule (weekly reference, live current).
  *
  * Same arithmetic as the batch op — floored bp shares over the SAME
  * [[Retention.bucketCol]] bucketing, |Δ| summed over the union of
  * observed buckets, halved — so the spec asserts exact parity with
  * q109 on the same events.
  *
  * Shape: per-(event_type, bucket) running counts are an update-mode
  * stateful aggregation with NO watermark — deliberately: the state
  * is bounded by the (types × buckets) DOMAIN, not by time, so there
  * is nothing to evict (contrast AnomalyStream, whose per-day keys
  * grow with the calendar). Each micro-batch publishes absolute
  * counts for changed keys, then recomputes TVD for only the types
  * the batch touched (the T6 touched-group pattern) from two
  * domain-bounded prefix scans.
  *
  * Replay-safe: count puts are absolute per (type, bucket) and the
  * TVD put is a pure function of store state — a re-delivered batch
  * overwrites everything with identical values, no ledger needed.
  */
object DriftStream {

  /** One streamed event (the wire shape the tests drive). */
  final case class Event(event_id: Long, event_type: String,
      ts: java.sql.Timestamp, value: Double)

  /** Store tables this stream provisions. */
  val Tables: Seq[String] = Seq("drift_ref", "drift_count", "value_drift")

  /** Provision the reference histogram from the batch reference
    * window. Executor-side pooled writes (T9); rerunnable — puts are
    * absolute. MUST use the same (bucketWidth, nBuckets) as the
    * stream or the comparison is meaningless; callers pass them
    * together (see [[driftQuery]]). */
  def loadReference(ref: DataFrame, provider: StoreProvider,
      bucketWidth: Double = 25.0, nBuckets: Int = 20): Unit =
    KeyedStore.perPartition(
      Retention.valueHistogram(ref, bucketWidth, nBuckets), provider) {
      (s, r) =>
        s.put("drift_ref", Seq(r.getString(0), r.getLong(1).toString),
          r.getLong(2))
    }

  /** Per-(event_type, bucket) ABSOLUTE running counts for keys
    * changed this batch (update mode). Malformed rows dropped exactly
    * as in the batch twin. */
  def bucketCounts(events: DataFrame, bucketWidth: Double = 25.0,
      nBuckets: Int = 20): DataFrame =
    events
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull)
      .groupBy(col("event_type"),
        Retention.bucketCol(col("value"), bucketWidth, nBuckets).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("bucket").cast("string").as("bucket"),
        col("cnt"))

  /** The micro-batch body (exposed for tests; replay must be a
    * no-op). TVD mirrors the batch op bit for bit: floored bp shares,
    * |Δ| over the union of buckets either side observed, integer-
    * halved. A type with no reference rows (or, degenerately, no
    * current rows) has no distribution to compare — no drift row,
    * the batch op's drop semantics. */
  def driftBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        s.put("drift_count", Seq(r.getString(0), r.getString(1)), r.getLong(2))
      }
      val touched = batch.select(col("event_type")).distinct()
      KeyedStore.perPartition(touched, provider) { (s, r) =>
        val et = r.getString(0)
        val ref = s.scanPrefix("drift_ref", Seq(et))
          .map { case (k, v) => k(1) -> v }.toMap
        val cur = s.scanPrefix("drift_count", Seq(et))
          .map { case (k, v) => k(1) -> v }.toMap
        val (refTotal, curTotal) = (ref.values.sum, cur.values.sum)
        if (refTotal > 0 && curTotal > 0) {
          def bp(n: Long, tot: Long): Long =
            math.floor(10000.0 * n / tot).toLong
          val tvd2 = (ref.keySet ++ cur.keySet).iterator.map { b =>
            math.abs(bp(ref.getOrElse(b, 0L), refTotal) -
              bp(cur.getOrElse(b, 0L), curTotal))
          }.sum
          s.put("value_drift", Seq(et), tvd2 / 2)
        }
      }
    } finally batch.unpersist()
  }

  /** The full query: running bucket counts → idempotent publish +
    * touched-type TVD refresh against the provisioned reference. */
  def driftQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String, bucketWidth: Double = 25.0, nBuckets: Int = 20,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery = {
    require(bucketWidth > 0 && nBuckets >= 2, "need a real histogram")
    bucketCounts(events, bucketWidth, nBuckets)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(driftBatch(provider) _)
      .start()
  }
}

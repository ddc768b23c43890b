package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Experiment
import graft.sink.{KeyedStore, StoreProvider}

/** Streaming sample-ratio-mismatch monitor — the live twin of the
  * q147 batch check ([[Experiment.srmCheck]]): per tumbling
  * event-time window, the distinct-user share of each experiment arm
  * vs its declared split, with an alert value on breach — catching a
  * broken assignment/logging path within one window instead of in
  * tomorrow's batch job. Arm bucketing is [[Experiment.armCol]]
  * verbatim (same md5 draw), so a user lands in the same arm on both
  * engines and the spec can assert exact stream≈batch agreement.
  *
  * Shape: CHAINED stateful aggregations in append mode (the Spark
  * 3.5+ multi-stateful-operator pattern) — (window, user) grain
  * first (the distinct-users dedup: SRM over raw events would be
  * biased by events-per-user, exactly as the batch op documents),
  * then re-windowed via `window_time` to (window, arm) grain. Both
  * states are watermark-bounded: the user grain evicts when the
  * watermark passes the window, the arm grain is ≤2 rows per window.
  * Append mode means a (window, arm) count is emitted exactly once,
  * finalized — so store puts are absolute and replay-safe, no ledger.
  *
  * The alert pass is the T6 touched-group pattern: only windows this
  * batch finalized are re-read (a 2-row prefix scan each) to publish
  * observed deviation and the breach flag.
  */
object SrmStream {

  /** One streamed event (the wire shape the tests drive). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long)

  /** Store tables this stream provisions: per (window, arm)
    * distinct users, deviation from the declared split (bp), and the
    * breach flag. */
  val Tables: Seq[String] = Seq("srm_users", "srm_dev", "srm_flag")

  /** Finalized (window, arm) distinct-user counts. */
  def armCounts(events: DataFrame, windowDur: String = "1 hour",
      slack: String = "10 minutes", splitPct: Int = 50): DataFrame =
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .withWatermark("ts", slack)
      // stateful op 1: collapse to (window, user) — the dedup that
      // makes the count DISTINCT users, not events
      .groupBy(window(col("ts"), windowDur).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      // stateful op 2: re-window the finalized user rows to arm grain
      .groupBy(window(window_time(col("w")), windowDur).as("w"),
        Experiment.armCol("user_id", splitPct).as("arm"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("arm"), col("n_users"))

  /** The micro-batch body (exposed for tests; replay must be a
    * no-op): absolute count puts, then deviation + flag for only the
    * windows this batch touched. Same integer arithmetic as the
    * batch op — floored bp share, |obs − exp|, flag on breach. */
  def srmBatch(provider: StoreProvider, splitPct: Int,
      toleranceBp: Long)(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        s.put("srm_users", Seq(r.getString(0), r.getString(1)),
          r.getLong(2))
      }
      val touched = batch.select(col("window_start")).distinct()
      KeyedStore.perPartition(touched, provider) { (s, r) =>
        val w = r.getString(0)
        val byArm = s.scanPrefix("srm_users", Seq(w))
          .map { case (k, v) => k(1) -> v }.toMap
        val total = byArm.values.sum
        if (total > 0) Seq("A", "B").foreach { arm =>
          val expected =
            if (arm == "A") splitPct * 100L else (100 - splitPct) * 100L
          val observed =
            math.floor(10000.0 * byArm.getOrElse(arm, 0L) / total).toLong
          val dev = math.abs(observed - expected)
          s.put("srm_dev", Seq(w, arm), dev)
          s.put("srm_flag", Seq(w, arm), if (dev > toleranceBp) 1L else 0L)
        }
      }
    } finally batch.unpersist()
  }

  /** The full query: finalized arm counts → idempotent publish +
    * touched-window deviation/flag refresh. */
  def srmQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String, windowDur: String = "1 hour",
      slack: String = "10 minutes", splitPct: Int = 50,
      toleranceBp: Long = 300L,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery = {
    require(splitPct >= 1 && splitPct <= 99, "splitPct in [1,99]")
    armCounts(events, windowDur, slack, splitPct)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(srmBatch(provider, splitPct, toleranceBp) _)
      .start()
  }
}

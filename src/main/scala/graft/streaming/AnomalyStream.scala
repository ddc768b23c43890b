package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming volume-anomaly monitor — the ingestion-time twin of the
  * q88 batch report ([[graft.ops.Retention.volumeAnomaly]]): flag a
  * day whose event count deviates from its trailing baseline while
  * the day is still filling, not in tomorrow's batch job.
  *
  * Same decision rule as the batch op — (n·x − S)² > k²·(n·Q − S²)
  * over the trailing `windowDays` OBSERVED days, minObs gate — so the
  * spec can assert exact parity against q88 on the same events.
  *
  * Shape: per-(event_type, day) counts are an update-mode stateful
  * aggregation (Spark's checkpointed state carries totals across
  * batches and restarts; the watermark evicts closed days). Each
  * micro-batch publishes ABSOLUTE counts for changed keys via
  * idempotent per-partition puts, then re-flags only the SPAN the
  * batch can have flipped (the TrendStream/T6 touched-group pattern,
  * bounded further): a changed day sits in the trailing frame of up
  * to `windowDays` later observed days, so flag writes cover
  * [first changed day, `windowDays` past the last changed one] —
  * watermark-bounded, never history-bounded. The per-type state read
  * is calendar-bounded (a row per type per calendar day) and runs
  * executor-side.
  *
  * Replay-safe: every write is an absolute put keyed by
  * (event_type, day) — a re-delivered batch overwrites state with
  * the same values, so no ledger or transaction is needed.
  */
object AnomalyStream {

  /** One streamed event (the wire shape the tests drive). */
  final case class Event(event_id: Long, event_type: String,
      ts: java.sql.Timestamp)

  /** Store tables this stream provisions. */
  val Tables: Seq[String] = Seq("daily_count", "volume_anomaly")

  /** Per-(event_type, day) ABSOLUTE running counts for keys changed
    * this batch (update mode). Null timestamps AND null types are
    * dropped exactly as in the batch twin (a null type can't key a
    * store row — JDBC `k1 = NULL` matches nothing, so the write
    * would silently vanish). */
  def dailyCounts(events: DataFrame, delay: String = "2 days"): DataFrame =
    events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .withWatermark("ts", delay)
      .groupBy(col("event_type"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("cnt"))

  /** The micro-batch body (exposed for tests; calling it twice with
    * the same batch must be a no-op — every write is absolute).
    * Flag arithmetic mirrors the batch op exactly: exact long sums,
    * one double comparison. */
  def anomalyBatch(provider: StoreProvider, windowDays: Int = 7,
      k2: Long = 4L, minObs: Long = 4L)(
      batch: DataFrame, batchId: Long): Unit = {
    validate(windowDays, k2, minObs)
    batch.persist()
    try {
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        s.put("daily_count", Seq(r.getString(0), r.getString(1)), r.getLong(2))
      }
      // Re-flag only what this batch can have flipped: a changed day
      // sits in the trailing frame of up to `windowDays` LATER
      // observed days, so the affected span is [first changed day,
      // windowDays observed days past the last changed one] — puts
      // are bounded by the batch's day span + W, not by history.
      // (The prefix scan still reads the type's full calendar-bounded
      // series — the store API has no range scan; the baseline needs
      // the W days before the first change anyway.)
      val touched = batch.groupBy(col("event_type"))
        .agg(min(col("day")).as("from_day"), max(col("day")).as("to_day"))
      KeyedStore.perPartition(touched, provider) { (s, r) =>
        val (et, from, to) = (r.getString(0), r.getString(1), r.getString(2))
        val days = s.scanPrefix("daily_count", Seq(et))
          .map { case (key, n) => (key(1), n) }.sortBy(_._1)
        val lo = days.indexWhere(_._1 >= from)
        val hi = math.min(
          days.lastIndexWhere(_._1 <= to) + windowDays, days.length - 1)
        (lo to hi).foreach { j =>
          val win = days.slice(math.max(0, j - windowDays), j).map(_._2)
          val n = win.length.toLong
          val sSum = win.sum
          val sumSq = win.iterator.map(x => x * x).sum
          val x = days(j)._2
          val dev = n.toDouble * x.toDouble - sSum.toDouble
          val varTerm =
            n.toDouble * sumSq.toDouble - sSum.toDouble * sSum.toDouble
          val flag =
            if (n >= minObs && dev * dev > k2.toDouble * varTerm) 1L else 0L
          s.put("volume_anomaly", Seq(et, days(j)._1), flag)
        }
      }
    } finally batch.unpersist()
  }

  /** Same contract as the batch twin, enforced at construction time
    * (a misconfigured monitor must fail fast, not silently never
    * flag or die on its first micro-batch). */
  private def validate(windowDays: Int, k2: Long, minObs: Long): Unit = {
    require(windowDays >= 1 && k2 >= 1 && minObs >= 2,
      s"invalid (windowDays=$windowDays, k2=$k2, minObs=$minObs)")
    require(windowDays >= minObs,
      s"minObs=$minObs can never be met by a $windowDays-row frame")
  }

  /** The full query: daily counts → idempotent publish + touched-type
    * re-flag. */
  def anomalyQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String, windowDays: Int = 7, k2: Long = 4L,
      minObs: Long = 4L, delay: String = "2 days",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery = {
    validate(windowDays, k2, minObs)
    // tumbling windows align to UTC midnights regardless of session
    // zone, but the batch twin's to_date follows the session zone —
    // the documented parity only holds on the house UTC pin
    val tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC" || tz == "Etc/UTC",
      s"volume-anomaly parity with the batch report requires a UTC session (got $tz)")
    dailyCounts(events, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(anomalyBatch(provider, windowDays, k2, minObs) _)
      .start()
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming stationary-mix monitor — the live twin of the q350
  * batch power iteration (`Market.stationaryMix`): rides
  * [[TransitionStream]]'s step stream into an absolute
  * (prev → next) count matrix (type²-bounded state), then re-runs
  * the bounded π·P ladder per batch. The live read: the stationary
  * purchase share drifting away from the empirical one is the
  * "sessions are starting hot and dying early" signal, hours before
  * the daily report.
  *
  * Wire shape: the SessionStream event wire (user_id, event_id, ts,
  * event_type) → TransitionStream steps → matrix counts.
  *
  * Store state: `st_matrix` ((prev, next) → count) and `st_mix`
  * ((type, field) → value, replaced per batch; fields
  * stationary_ppm/empirical_ppm/delta_ppm). Steps arrive APPEND
  * (each exactly once from the state machine), so the matrix is
  * maintained by INCREMENTS under [[graft.sink.KeyedStore.exactlyOnce]]
  * (one apply partition, because the increment frame is type²-grain
  * metadata), so a replayed batch double-counts nothing. Chaining an SS
  * aggregate AFTER flatMapGroupsWithState would instead trip
  * Spark's global-watermark correctness check. The walk is EXACTLY
  * the q350 integer ladder (floors, first-type deficit), shared
  * with the spec's direct unit test and pinned against the batch
  * op.
  *
  * Scale shape: event-grain work collapses inside the two stateful
  * stages (per-user last-event state, then type²-grain counts);
  * the walk runs on ≤|types|² metadata. */
object StationaryStream {

  val MatrixTable = "st_matrix"
  val MixTable = "st_mix"

  /** The q350 ladder — literally `Market.stationaryWalk` (ONE
    * implementation serves batch and stream, so parity is by
    * construction, not by twin-maintenance). */
  def stationaryWalk(matrix: Map[(String, String), Long],
      iters: Int = 20): Seq[(String, Long, Long, Long)] =
    graft.ops.Market.stationaryWalk(matrix, iters)

  /** Micro-batch body over the APPENDED steps: distributed count to
    * type² grain, one exactly-once increment transaction, then the
    * ladder over the full matrix. */
  def mixBatch(provider: StoreProvider, iters: Int = 20)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.exactlyOnce(provider, "mix", batchId, parts = 1)(
      batch.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("c"))) { (s, rows) =>
      rows.foreach { r =>
        s.increment(MatrixTable,
          Seq(r.getString(0), r.getString(1)), r.getLong(2))
      }
      val matrix = s.scan(MatrixTable)
        .map { case (k, v) => ((k(0), k(1)), v) }.toMap
      s.replaceGroup(MixTable, Nil,
        stationaryWalk(matrix, iters).flatMap {
          case (t, st, em, d) => Seq(
            (Seq(t, "stationary_ppm"), st),
            (Seq(t, "empirical_ppm"), em),
            (Seq(t, "delta_ppm"), d))
        })
    }

  /** The full query: events → steps → increments → ladder. */
  def mixQuery(events: DataFrame, provider: StoreProvider,
      checkpointDir: String, iters: Int = 20, gapSeconds: Long = 1800L,
      watermark: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    TransitionStream.steps(events, gapSeconds, watermark)
      .toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(mixBatch(provider, iters) _)
      .start()
}

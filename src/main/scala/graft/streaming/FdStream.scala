package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming functional-dependency monitor — the live twin of the
  * q319 batch audit (`Profile.fdAudit`): the (lhs, rhs) cell-count
  * histogram IS the Structured Streaming state (update-mode count on
  * the pair key), batches overwrite touched cells with ABSOLUTE
  * totals, and the consumer derives the whole g3 report from a store
  * snapshot — per-key max, violating-group count, and the
  * rows-to-delete fraction are all reads over cells, never over
  * rows. Idempotent puts → crash replay is a free no-op (the
  * CmsStream/QuantileBandStream argument).
  *
  * Why live: an FD that held at ingest time ("every user has one
  * region") breaks the moment one conflicting row lands; the batch
  * audit finds it at the next run, this machine's report moves within
  * a trigger. State is bounded by the (lhs, rhs) DOMAIN, not the row
  * volume — monitor FDs whose key side is dimension-like (or
  * pre-bucket the key), exactly the batch candidates' shape.
  *
  * Wire shape: a stream of (lhs, rhs) fact rows. [[fdReport]] is the
  * consumer-side read, bit-identical to q319's columns.
  */
object FdStream {

  val Table = "fd_cells"

  /** Cell updates for this batch: update-mode stateful count on
    * (lhs, rhs) — emitted counts are cumulative absolutes. */
  def cells(facts: DataFrame, lhsCol: String, rhsCol: String): DataFrame =
    facts
      .filter(col(lhsCol).isNotNull && col(rhsCol).isNotNull)
      .groupBy(col(lhsCol).cast("string").as("lhs"),
        col(rhsCol).cast("string").as("rhs"))
      .agg(count(lit(1)).as("c"))

  /** Idempotent absolute puts of the touched cells. */
  def writeBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(Table, Seq(r.getString(0), r.getString(1)), r.getLong(2))
      }
    }

  /** The full query: fact stream → cell counts → absolute puts. */
  def fdQuery(facts: DataFrame, lhsCol: String, rhsCol: String,
      provider: StoreProvider, checkpointDir: String,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    cells(facts, lhsCol, rhsCol)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(writeBatch(provider) _)
      .start()

  /** Consumer-side g3 report from a store snapshot — the batch
    * audit's arithmetic over cells: (n_rows, n_groups,
    * violating_groups, g3_bp (None on empty), holds). */
  def fdReport(cells: Map[(String, String), Long])
      : (Long, Long, Long, Option[Long], Int) = {
    val byKey = cells.groupBy(_._1._1)
    val n = cells.values.sum
    val groups = byKey.size.toLong
    val violating = byKey.count(_._2.size > 1).toLong
    val keep = byKey.values.map(_.values.max).sum
    val g3 = if (n > 0) Some((10000L * (n - keep)) / n) else None
    val holds = if (n > 0 && violating == 0) 1 else 0
    (n, groups, violating, g3, holds)
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming fulfillment-latency monitor — the live twin of the q325
  * batch panel (`AreaTopProducts.latencySlaTrend`): the per-month
  * latency-day histogram IS the Structured Streaming state (an
  * update-mode count on (month, latency_days) — latency values are
  * calendar-bounded, so cells stay metadata at any line volume), and
  * batches overwrite touched cells with ABSOLUTE totals: replay is a
  * free no-op (the QuantileBandStream/CmsStream argument).
  *
  * Why exact cells and not a sketch here: unlike arbitrary prices,
  * ship−order latency lives on a small integer domain (days, bounded
  * by business reality), so the EXACT per-month histogram is already
  * sketch-sized — the consumer read reproduces q325's nearest-rank
  * p50/p90 panel and its Theil–Sen p90 slope bit-for-bit from a
  * store snapshot, no approximation step.
  *
  * Wire shape: a stream of already-joined (o_orderdate, l_shipdate)
  * fulfillment events (the join side is the producer's concern — a
  * stream-static join upstream, as in ClickJoinStream).
  */
object LatencyBandStream {

  val Table = "latency_cells"

  /** Cell updates for this batch: update-mode stateful count on
    * (order-month, latency-days) — cumulative absolutes. */
  def cells(facts: DataFrame): DataFrame =
    facts
      .filter(col("o_orderdate").isNotNull && col("l_shipdate").isNotNull)
      .select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lat"))
      .groupBy(col("m"), col("lat"))
      .agg(count(lit(1)).as("c"))

  /** Idempotent absolute puts of the touched cells. */
  def writeBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(Table, Seq(r.getLong(0).toString, r.getLong(1).toString),
          r.getLong(2))
      }
    }

  /** The full query: fulfillment stream → latency cells → puts. */
  def latencyQuery(facts: DataFrame, provider: StoreProvider,
      checkpointDir: String,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    cells(facts)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(writeBatch(provider) _)
      .start()

  /** Consumer-side q325 panel from a store snapshot: per month the
    * nearest-rank p50/p90 over the cells, plus the pairwise-median
    * Theil–Sen slope of the monthly p90 (milli-days/month; None with
    * fewer than two months) — bit-identical to the batch columns. */
  def panel(cells: Map[(Long, Long), Long])
      : (Map[Long, (Long, Long, Long)], Option[Long]) = {
    val byMonth = cells.groupBy(_._1._1)
    val rows = byMonth.map { case (m, cs) =>
      val hist = cs.map { case ((_, l), c) => l -> c }.toSeq.sortBy(_._1)
      val n = hist.map(_._2).sum
      def q(p: Long): Long = {
        val rank = (n * p + 9999L) / 10000L
        var cum = 0L
        hist.collectFirst {
          case (l, c) if { cum += c; cum >= rank } => l
        }.get
      }
      m -> ((n, q(5000L), q(9000L)))
    }
    val p90 = rows.toSeq.map { case (m, (_, _, p)) => (m, p) }.sortBy(_._1)
    val slope =
      if (p90.size < 2) None
      else {
        val ss = (for {
          i <- p90.indices; j <- (i + 1) until p90.size
        } yield (1000L * (p90(j)._2 - p90(i)._2)) /
          (p90(j)._1 - p90(i)._1)).sorted
        val n = ss.size.toLong
        val lo = ss(((n + 1) / 2 - 1).toInt)
        val hi = ss(((n + 2) / 2 - 1).toInt)
        Some(math.floor((lo + hi) / 2.0).toLong)
      }
    (rows, slope)
  }
}

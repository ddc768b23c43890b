package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextAnalysis
import graft.sink.{KeyedStore, StoreProvider}

/** Streaming trending tokens over a document stream — the
  * ingestion-time twin of the q48/q54 vocabulary-head queries:
  * per-window token counts as an update-mode stateful aggregation,
  * published as (a) absolute per-(window, token) totals via
  * idempotent per-partition puts and (b) a per-window top-k
  * re-ranked ONLY for the windows each batch touched (the
  * AdClickStream T6 pattern at corpus grain).
  *
  * State: the aggregation keeps one row per (window, token) —
  * vocabulary × active-window bounded (Zipf-bounded in practice, and
  * the watermark evicts closed windows), never stream-length
  * bounded. Both sink writes are idempotent absolute-state
  * operations (put / replaceGroup), so a re-delivered batch is a
  * no-op and nothing needs a driver-side transaction or collect.
  */
object TrendStream {

  /** One streamed document (the wire shape the tests drive). */
  final case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Store tables this stream provisions. */
  val Tables: Seq[String] = Seq("token_window_count", "token_trend")

  /** Per-(window, token) ABSOLUTE running counts for keys changed
    * this batch (update mode; Spark's checkpointed aggregation state
    * carries the totals across batches and restarts). */
  def windowTokenCounts(docs: DataFrame, windowDur: String = "1 minute",
      delay: String = "2 minutes"): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .withWatermark("ts", delay)
      .select(col("ts"), explode(expr(TextAnalysis.TokensExpr)).as("token"))
      .groupBy(window(col("ts"), windowDur), col("token"))
      .agg(count(lit(1)).as("token_count"))
      .select(
        date_format(col("window.start"), "yyyyMMddHHmm").as("window_key"),
        col("token"), col("token_count"))

  /** The micro-batch body (exposed for tests; calling it twice with
    * the same batch must be a no-op — every write is absolute). */
  def trendBatch(provider: StoreProvider, k: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        s.put("token_window_count", Seq(r.getString(0), r.getString(1)),
          r.getLong(2))
      }
      // re-rank only the windows this batch touched — untouched
      // windows cannot change rank; each re-rank is an indexed prefix
      // scan of that window's full token state, executor-side
      val touched = batch.select(col("window_key")).distinct()
      KeyedStore.perPartition(touched, provider) { (s, r) =>
        val w = r.getString(0)
        val top = s.scanPrefix("token_window_count", Seq(w))
          .map { case (key, n) => (key(1), n) }
          .sortBy { case (tok, n) => (-n, tok) }.take(k)
        s.replaceGroup("token_trend", Seq(w),
          top.map { case (tok, n) => (Seq(w, tok), n) })
      }
    } finally batch.unpersist()
  }

  /** The full query: windowed counts → idempotent per-partition
    * publish + touched-window top-k. */
  def trendingQuery(docs: DataFrame, provider: StoreProvider,
      checkpointDir: String, k: Int = 3, windowDur: String = "1 minute",
      delay: String = "2 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    windowTokenCounts(docs, windowDur, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(trendBatch(provider, k) _)
      .start()
}

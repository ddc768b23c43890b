package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.TextAnalysis
import graft.sink.{KeyedStore, StoreProvider}

/** Streaming vocabulary heavy-hitters monitor — the live twin of the
  * q54 batch operator (`TextAnalysis.heavyHitters`). Batch can recount
  * candidates exactly; a stream cannot re-read its history, so the
  * state IS a mergeable Misra–Gries summary (Misra & Gries 1982;
  * merge rule per Agarwal et al. 2013): at most `m` counters, merged
  * with each micro-batch's per-partition summaries, compressed back
  * to `m` by subtracting the (m+1)-th largest counter.
  *
  * Published guarantees (and what the spec pins):
  *  - counter ≤ true frequency ≤ counter + dec_total, where
  *    `dec_total` (in `hh_meta`) is the accumulated compression mass:
  *    every decrement is accounted, so the bound NEVER silently
  *    loosens;
  *  - any token with true frequency > dec_total is in the state —
  *    a head token on a Zipf-ish stream is never lost;
  *  - with `m` above the stream's distinct-token count the summary
  *    never compresses and the counts are EXACT.
  *
  * Scale shape: the event-grain work (tokenize + per-partition
  * bounded-m summaries) never shuffles raw tokens — only candidate
  * rows (≤ m per partition, plus one raw-count sentinel each) reach
  * the token-grain aggregate, and only that bounded frame reaches the
  * single-writer merge. State is O(m) regardless of stream length.
  *
  * The merge is a non-idempotent read-modify-write, so it runs under
  * [[graft.sink.KeyedStore.exactlyOnce]]: a replayed batch skips.
  */
object TokenStream {

  /** Store tables: the bounded counter summary, its meta counters
    * (key "n" = tokens seen, "dec" = accumulated error bound), the
    * published top-k (token → counter lower bound; upper bound =
    * counter + dec), plus the shared idempotence ledger. */
  val Tables: Seq[String] =
    Seq("hh_state", "hh_meta", "hh_topk", KeyedStore.Ledger)

  /** Per-partition raw-token-count sentinel — a value
    * `TextAnalysis.TokensExpr` can never tokenize to. */
  private val NSentinel = "\u0000n"

  /** Per-batch candidate counts: per-partition Misra–Gries (bounded
    * `m` counters, classic decrement protocol — the q54 map stage)
    * plus one raw-count sentinel per partition, then a token-grain
    * sum over that bounded frame. */
  def batchCandidates(docs: DataFrame, m: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs
      .select(explode(expr(TextAnalysis.TokensExpr)).as("token")).as[String]
    toks.mapPartitions { it =>
      val counts = mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { t =>
        n += 1L
        if (counts.contains(t) || counts.size < m) {
          counts.update(t, counts.getOrElse(t, 0L) + 1L)
        } else {
          val dead = Seq.newBuilder[String]
          counts.keysIterator.foreach { key =>
            val c = counts(key) - 1L
            if (c == 0L) dead += key else counts.update(key, c)
          }
          dead.result().foreach(counts.remove)
        }
      }
      val sentinel =
        if (n > 0L) Iterator((NSentinel, n)) else Iterator.empty
      counts.iterator ++ sentinel
    }.toDF("token", "cnt")
      .groupBy(col("token"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** The micro-batch body (exposed for tests; `batch` is the RAW doc
    * micro-batch — candidates are computed here, NOT as a streaming
    * aggregation, which would keep cross-batch running token state
    * and double-apply under the writer's own merge): one
    * exactly-once transaction merges the batch summary into
    * `hh_state`, compresses to `m`, updates the meta counters, and
    * republishes the top-k — all atomically with the ledger row. */
  def hhBatch(provider: StoreProvider, m: Int, k: Int)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.exactlyOnce(provider, "hh", batchId, parts = 1)(
        batchCandidates(batch, m)) { (s, rows) =>
      var nBatch = 0L
      val merged = mutable.HashMap.empty[String, Long]
      s.scan("hh_state").foreach { case (key, v) =>
        merged.update(key.head, v)
      }
      var candMass = 0L
      rows.foreach { r =>
        val t = r.getString(0)
        val c = r.getLong(1)
        if (t == NSentinel) nBatch += c
        else {
          candMass += c
          merged.update(t, merged.getOrElse(t, 0L) + c)
        }
      }
      // mass the partition summaries already dropped
      var dec = s.get("hh_meta", Seq("dec")).getOrElse(0L) +
        (nBatch - candMass)
      if (merged.size > m) {
        // subtract the (m+1)-th largest counter from all — the
        // standard summary merge; ≤ m survivors by construction
        val cut = merged.values.toSeq.sorted(Ordering.Long.reverse)(m)
        val dead = Seq.newBuilder[String]
        merged.keysIterator.foreach { key =>
          val c = merged(key) - cut
          if (c <= 0L) dead += key else merged.update(key, c)
        }
        dead.result().foreach(merged.remove)
        dec += cut
      }
      s.replaceGroup("hh_state", Nil,
        merged.toSeq.map { case (t, c) => (Seq(t), c) })
      s.put("hh_meta", Seq("n"),
        s.get("hh_meta", Seq("n")).getOrElse(0L) + nBatch)
      s.put("hh_meta", Seq("dec"), dec)
      val topk = merged.toSeq
        .sortBy { case (t, c) => (-c, t) }.take(k)
      s.replaceGroup("hh_topk", Nil,
        topk.map { case (t, c) => (Seq(t), c) })
    }

  /** The full query: raw docs in, bounded per-partition summaries →
    * token-grain candidate aggregate → single-writer merge + top-k
    * publish, all inside foreachBatch (zero Spark streaming state —
    * the summary in the store is the only state). */
  def hhQuery(docs: DataFrame, provider: StoreProvider,
      checkpointDir: String, m: Int = 256, k: Int = 20,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery = {
    require(m >= 1 && k >= 1, "m and k must be positive")
    docs
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(hhBatch(provider, m, k) _)
      .start()
  }
}

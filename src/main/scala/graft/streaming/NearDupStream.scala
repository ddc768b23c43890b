package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Dedup
import graft.sink.{KeyedStore, StoreProvider}

/** Ingestion-time near-duplicate detection against an indexed corpus
  * — the streaming half of `Dedup.incrementalDedupKept`: as documents
  * arrive, flag the ones whose MinHash bands collide with the
  * existing corpus index and whose exact shingle Jaccard confirms the
  * match. The published result is the flagged PAIR list (new doc ×
  * corpus doc + jaccard_bp), the T4-blacklist shape: a downstream
  * sink drops flagged ids; "passes the gate" cannot be an operator
  * here because stream-static ANTI join is unsupported.
  *
  * Why this streams well: every per-document step is STATELESS — the
  * fused MinHashSig signature is a per-row map, banding is a 4-way
  * explode, the index probe is a stream-static equi-join on
  * (band, band_hash) re-planned each micro-batch, and the exact
  * Jaccard verify is per-row array arithmetic on the joined pair. The
  * only state is the final within-watermark pair dedup (a candidate
  * pair can surface in up to NumBands bands), bounded at 2 ids + a
  * timestamp per recent pair. The corpus index is a static frame:
  * rebuild/extend it batch-side (e.g. nightly) and restart the query,
  * the same cadence `incrementalDedupKept` implies.
  */
object NearDupStream {

  /** One streamed document. */
  final case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Batch-side: the corpus LSH index — one row per (band, band_hash)
    * bucket membership, carrying the shingle set for the verify step.
    * Persist/write this once; it is the static join side. */
  def corpusIndex(corpus: DataFrame): DataFrame =
    Dedup.lshBands(Dedup.minhashSignature(corpus), keep = Seq("shingles"))
      .select(col("doc_id").as("corpus_doc_id"),
        col("shingles").as("corpus_shingles"),
        col("band"), col("band_hash"))

  /** Streaming: verified near-dup pairs (doc_id, corpus_doc_id,
    * jaccard_bp) for arriving docs vs the index, append-mode. */
  def matches(stream: DataFrame, index: DataFrame,
      thresholdBp: Long = 8000L, delay: String = "10 minutes"): DataFrame = {
    require(thresholdBp >= 1L && thresholdBp <= 10000L,
      "thresholdBp must be in [1, 10000]")
    val banded = Dedup.lshBands(
      Dedup.minhashSignature(stream.filter(col("text").isNotNull)
        .withWatermark("ts", delay)),
      keep = Seq("shingles", "ts"))
    // verify via the batch path's own jaccardCols — one formula, no
    // batch/stream drift
    Dedup.jaccardCols(banded
        .join(index, Seq("band", "band_hash"))
        .withColumnRenamed("shingles", "sh_a")
        .withColumnRenamed("corpus_shingles", "sh_b"))
      .filter(col("jaccard_bp") >= thresholdBp)
      .select(col("doc_id"), col("corpus_doc_id"), col("jaccard_bp"), col("ts"))
      // a pair can arrive via up to NumBands colliding bands — dedup
      // within the watermark (state: one row per recent flagged pair)
      .dropDuplicatesWithinWatermark("doc_id", "corpus_doc_id")
      .drop("ts")
  }

  // ---- running per-source savings (q102's streaming twin) ----------
  //
  // The flagged-pair stream above tells a sink WHICH docs to drop;
  // operations also needs the ACCOUNTING — "how much of today's crawl
  // was duplicate, per source" — as a running table, not a nightly
  // batch job. The micro-batch body below applies the batch
  // accounting function itself (Dedup.incrementalSavingsReport — one
  // code path, no batch/stream drift) to each arriving batch against
  // the static corpus and merges the per-source DELTA into a keyed
  // store with increments. The delta frame is source-domain-bounded
  // (tiny), so it collapses to ONE store transaction per batch; a
  // ledger marker written in that same transaction makes replayed
  // batches exactly-once (the T4 lesson, single-partition case).

  /** Store tables used by [[savingsBatch]]: the running totals, keyed
    * (source, metric), plus the shared idempotence ledger. */
  val SavingsTable = "neardup_savings"
  private val Metrics = Seq("n_docs", "n_dropped", "tokens_total", "tokens_dropped")

  /** foreachBatch body: merge one micro-batch's per-source savings
    * delta (vs the static `corpus`) into the running store totals,
    * exactly once under batch replay ([[KeyedStore.exactlyOnce]]). */
  def savingsBatch(provider: StoreProvider, corpus: DataFrame,
      thresholdBp: Long = 8000L)(batch: DataFrame, batchId: Long): Unit = {
    var cached: Seq[DataFrame] = Nil
    // domain-bounded delta → one partition, one store transaction
    try KeyedStore.exactlyOnce(provider, "savings", batchId, parts = 1) {
      val (delta, c) = Dedup.incrementalSavingsReportCached(
        batch.select(col("doc_id"), col("text"), col("lang"), col("source")),
        corpus, thresholdBp)
      cached = c
      delta.select(col("source"), col("n_docs"), col("n_dropped"),
        col("tokens_total"), col("tokens_dropped"))
    } { (s, rows) =>
      rows.foreach { r =>
        Metrics.zipWithIndex.foreach { case (m, i) =>
          s.increment(SavingsTable, Seq(r.getString(0), m), r.getLong(i + 1))
        }
      }
    }
    // release the per-batch signature caches — a long-running stream
    // must not accumulate a pair of pinned frames per micro-batch
    finally cached.foreach(_.unpersist(blocking = false))
  }

  /** The running report, read back from the store: one row per source
    * with the q102-shaped columns (savings_bp derived at read time —
    * a ratio cannot be incremented). */
  def savingsReport(provider: StoreProvider)
      : Seq[(String, Long, Long, Long, Long, Long)] = {
    val s = provider.open()
    try s.scan(SavingsTable).groupBy(_._1.head).toSeq.sortBy(_._1)
      .map { case (src, kvs) =>
        def v(m: String): Long =
          kvs.collectFirst { case (List(`src`, `m`), x) => x }.getOrElse(0L)
        val (tt, td) = (v("tokens_total"), v("tokens_dropped"))
        val bp = if (tt == 0L) 0L else math.floor(10000.0 * td / tt).toLong
        (src, v("n_docs"), v("n_dropped"), tt, td, bp)
      }
    finally s.close()
  }

  /** Wire a document stream into the running savings table. */
  def savingsQuery(docs: DataFrame, corpus: DataFrame,
      provider: StoreProvider, checkpointDir: String,
      thresholdBp: Long = 8000L,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(savingsBatch(provider, corpus, thresholdBp) _)
      .start()
}

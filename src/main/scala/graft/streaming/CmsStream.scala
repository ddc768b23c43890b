package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.CountMin
import graft.sink.{KeyedStore, StoreProvider}

/** Streaming count-min sketch — the live twin of the q296 batch
  * sketch (`graft.ops.CountMin`): the d×w counter grid IS the
  * Structured Streaming state (an update-mode count aggregate on the
  * (row_id, bucket) key — at most d·w = 1024 groups, no matter the
  * token volume), and every batch overwrites the touched cells in the
  * store with their new ABSOLUTE totals. Idempotent puts, so crash
  * replay of a batch is a free no-op — the SketchStream argument:
  * absolute state needs no retraction ledger.
  *
  * The point of CMS over the Misra–Gries machine (`TokenStream`): MG
  * answers "which tokens are heavy" within a fixed counter budget;
  * the CMS cells answer "how often has ANY given token appeared",
  * including tokens nobody nominated in advance — the point-frequency
  * service a live abuse/ratelimit check wants. [[estimate]] is the
  * consumer-side read: min over the d cell reads, one-sided exactly
  * like the batch op.
  *
  * Wire shape: a stream of documents (doc_id, ts, text). Token fan-out
  * is ×d at TOKEN grain inside the batch before the stateful
  * aggregate collapses it to cells.
  */
object CmsStream {

  val Table = "cms_cells"

  /** Cell updates for this batch: update-mode stateful count on
    * (row_id, bucket) — emitted counts are cumulative absolutes. */
  def cells(docs: DataFrame): DataFrame = {
    val toks = docs
      .filter(col("text").isNotNull)
      .select(explode(expr(graft.ops.TextAnalysis.TokensExpr)).as("tok"))
    toks
      .select(explode(array((0 until CountMin.Rows).map(j =>
        struct(lit(j).as("row_id"),
          expr(CountMin.rowBucket("tok", j)).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.row_id").as("row_id"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Idempotent absolute puts of the touched cells. */
  def writeBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(Table, Seq(r.getInt(0).toString, r.getLong(1).toString),
          r.getLong(2))
      }
    }

  /** The full query: token stream → cell counts → absolute puts. */
  def cmsQuery(docs: DataFrame, provider: StoreProvider,
      checkpointDir: String,
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    cells(docs)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(writeBatch(provider) _)
      .start()

  /** Consumer-side point estimate from a store snapshot: min over the
    * d cell reads (one-sided, exactly the batch op's read). */
  def estimate(cells: Map[(Int, Long), Long], token: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until CountMin.Rows).map { j =>
      val b = java.lang.Long.parseLong(h.substring(2 * j, 2 * j + 2), 16)
      cells.getOrElse((j, b), 0L)
    }.min
  }
}

package graft.streaming

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.AdAnalytics
import graft.sink.{KeyedStore, StoreProvider}

/** Structured Streaming rewrite of the reference's ad-click job
  * (AdClickRealTimeStatSpark.java; SURVEY.md §2.9 T1-T9, §3.3).
  *
  * Input: a streaming DataFrame with one string column `value` — the
  * Kafka wire shape (S5: `readStream.format("kafka")` + `CAST(value
  * AS STRING)`); tests drive it with MemoryStream. Each line is the
  * reference's log format `timestamp_ms province city user_id ad_id`.
  *
  * Three queries replace the reference's four DStream chains:
  *
  *  1. `statsQuery` — foreachBatch pipeline covering J9 (blacklist
  *     anti-join, re-read per batch for freshness) and T4 (dynamic
  *     blacklist via store-side increment + threshold read-back; the
  *     running totals live in the store so they survive restarts,
  *     exactly the reference's MySQL-state design). T4's increments
  *     are NOT idempotent, so each PARTITION applies its increments
  *     in one store transaction together with a (query, partition)
  *     idempotence-ledger row — replays skip exactly the partitions
  *     that already committed. No driver-side data path.
  *  2. `adStatQuery` — T5 (ad_stat totals) + T6/W2 (province top-3)
  *     as an update-mode stateful aggregation: Spark's checkpointed
  *     state holds the running (day, province, city, ad) totals, so
  *     each micro-batch emits ABSOLUTE totals for changed keys.
  *     Absolute puts are idempotent → no driver transaction needed,
  *     and the writes ship per-partition (T9). A replayed batch
  *     re-puts the same totals. Top-3 re-ranks only the
  *     (day, province) groups the batch touched, executor-side.
  *  3. `trendQuery` — T7 as an idiomatic event-time aggregation:
  *     watermark + 1-minute tumbling window per ad in update mode;
  *     only changed minutes are re-upserted each batch (the
  *     reference's reduceByKeyAndWindow re-published the whole hour).
  *
  * Scale notes: NO driver-side collect remains on ANY path — at the
  * reference's 0.5-1 G events/day a 5 s batch's aggregate key sets
  * can be millions of rows, and they all flow executor→store over
  * per-partition pooled connections (T9) instead of through one
  * driver connection (idempotent puts directly; non-idempotent
  * increments under the per-partition ledger). Store reads are
  * proportional to the BATCH's key set, not accumulated state:
  * threshold checks are point-gets on just-incremented keys, top-3
  * re-ranking prefix-scans only touched groups. The one full-table
  * read left is the blacklist (bounded: offenders only), re-read per
  * batch for freshness like the reference.
  *
  * Source fan-out: every query reads its lines through `clicks`, which
  * narrow-coalesces them to the session's default parallelism (the
  * core count) before parsing; tasks beyond it only run in waves. A
  * micro-batch has as many input partitions as its source hands it:
  * one per `addData` call for a MemoryStream, one per topic-partition
  * for Kafka (more with `minPartitions`). When that exceeds the cores,
  * the source stage's cost is per-task scheduling, not per-row work.
  * The coalesce adds no shuffle and leaves a batch with no more
  * partitions than cores as it is, so a Kafka topic with no more
  * partitions than cores gains nothing from it.
  */
object AdClickStream {

  /** Checkpointing (T2/T8) is the caller's `checkpointLocation`;
    * 5-second micro-batches (T1) via this default trigger. */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Result tables plus the idempotence ledger
    * ([[KeyedStore.Ledger]]) — provision ALL of these when backing
    * the sink with a real database. Upgrade note: the ledger table
    * and its key/value encoding changed in round 4 (was
    * `__applied_batch__` with a single-key batch marker — a name a
    * standards-strict database cannot even create); when upgrading a
    * live deployment, DRAIN the stream (let the last batch commit)
    * before switching, or the first post-upgrade batch re-applies. */
  val Tables: Seq[String] = Seq(
    "ad_user_click_count", "ad_blacklist", "ad_stat",
    "ad_province_top3", "ad_click_trend", KeyedStore.Ledger)

  /** Fixed partition count of the T4 apply stage: the `parts` of its
    * [[KeyedStore.exactlyOnce]] ledger. */
  val LedgerParts = 32

  /** One-partition RDD whose compute() reads the store's blacklist AT
    * TASK RUNTIME. Wrapped in a DataFrame and used as the static side
    * of a stream-static anti-join, it is re-computed on every
    * micro-batch (each trigger re-executes the static plan, and
    * nothing here is cached), giving the reference's per-batch
    * blacklist re-read (:234-314) INSIDE a streaming query graph —
    * which is what lets the T5 aggregation sit upstream in the same
    * query. Genuine imperative per-partition logic, the one place
    * SURVEY §1.4's no-RDD rule carves out. (In production the same
    * effect comes from a JDBC-source static frame; this works for any
    * StoreProvider, including the in-memory test store.) */
  private final class BlacklistRDD(sc: SparkContext, provider: StoreProvider)
      extends RDD[Row](sc, Nil) {
    override def getPartitions: Array[Partition] =
      Array(new Partition { def index: Int = 0 })
    override def compute(split: Partition, ctx: TaskContext): Iterator[Row] = {
      val store = provider.open()
      val ids = try store.scan("ad_blacklist").map(_._1.head.toLong)
        finally store.close()
      ids.map(Row(_)).iterator
    }
  }

  /** The store blacklist as a per-batch-fresh static DataFrame. */
  def blacklistFrame(spark: SparkSession, provider: StoreProvider): DataFrame =
    spark.createDataFrame(new BlacklistRDD(spark.sparkContext, provider),
      StructType(Seq(StructField("user_id", LongType))))

  /** The J9+T4 micro-batch body (exposed for tests) — fully
    * distributed: NO driver-side collect anywhere on the path. The
    * (day, user, ad) count frame applies executor-side under
    * [[KeyedStore.exactlyOnce]], keyed by its own key columns. It has
    * ONE row per key (it is the batch aggregate), so the threshold
    * read-back right after a key's increment sees the key's full
    * post-batch total. (T5/T6 live in `adStatQuery`, whose
    * absolute-total puts are idempotent without any ledger; the trend
    * query likewise.) */
  def statsBatch(provider: StoreProvider, threshold: Long)(
      batch: DataFrame, batchId: Long): Unit =
    KeyedStore.exactlyOnce(provider, "stats", batchId, LedgerParts,
        col("dt"), col("user_id"), col("ad_id")) {
      // J9: anti-join against the *current* blacklist (per-batch
      // freshness, matching the reference's per-batch MySQL re-read).
      // Replay nuance: a user blacklisted by a partition that committed
      // before the crash is anti-joined away on replay, so their
      // residual counts in never-committed partitions are not applied —
      // benign, because a blacklisted user's counts only existed to
      // trigger the blacklisting (the reference has the same one-batch
      // exclusion lag).
      val black = blacklistFrame(batch.sparkSession, provider)
      AdAnalytics.clickCounts(
        batch.join(broadcast(black), Seq("user_id"), "left_anti"))
    } { (s, rows) =>
      rows.foreach { r =>
        // T4: per-(day,user,ad) totals, then the threshold read-back on
        // just-incremented keys only — only a key incremented this
        // batch can newly cross the threshold, and earlier offenders
        // are already blacklisted. Point lookups are the reference's
        // own T4 shape (:502-504); insertKey dedups (A8).
        val key = Seq(r.getString(0), r.getLong(1).toString, r.getLong(2).toString)
        s.increment("ad_user_click_count", key, r.getLong(3))
        if (s.get("ad_user_click_count", key).exists(_ >= threshold))
          s.insertKey("ad_blacklist", Seq(key(1)))
      }
    }

  /** The parsed clicks of `lines`, read at most as many partitions
    * wide as there are cores (see "Source fan-out" above). */
  private def clicks(lines: DataFrame): DataFrame =
    AdAnalytics.parseAdLog(
      lines.coalesce(lines.sparkSession.sparkContext.defaultParallelism))

  /** Query 1: dynamic blacklist (J9/T4). */
  def statsQuery(lines: DataFrame, provider: StoreProvider,
      checkpointDir: String, threshold: Long = 100L,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    clicks(lines)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(statsBatch(provider, threshold) _)
      .start()

  /** The T5+T6 micro-batch body over an UPDATE-mode aggregated batch:
    * rows are (dt, province, city, ad_id, click_count) ABSOLUTE
    * running totals for keys changed this batch (Spark's checkpointed
    * aggregation state carries them across batches and restarts).
    * Exposed for tests — calling it twice with the same batch must be
    * a no-op, which is the replay-safety argument: every write is an
    * idempotent put/replace of absolute state, so no transaction or
    * batch marker is needed and everything ships per-partition (T9). */
  def adStatBatch(provider: StoreProvider)(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      // T5: absolute totals per (day, province, city, ad).
      KeyedStore.perPartition(batch, provider) { (s, r) =>
        s.put("ad_stat",
          Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3).toString),
          r.getLong(4))
      }
      // T6: re-rank ONLY the (day, province) groups this batch
      // touched — untouched groups cannot change rank — each from an
      // indexed prefix scan of full group state, executor-side. The
      // ranking (sum over cities, count desc, ad asc, take 3) is the
      // same provinceTopFromStats contract the batch oracle checks.
      val touched = batch.select(col("dt"), col("province")).distinct()
      KeyedStore.perPartition(touched, provider) { (s, r) =>
        val (dt, prov) = (r.getString(0), r.getString(1))
        val perAd = s.scanPrefix("ad_stat", Seq(dt, prov))
          .groupBy(_._1(3)).map { case (ad, rows) => (ad, rows.map(_._2).sum) }
        val top = perAd.toSeq.sortBy { case (ad, n) => (-n, ad.toLong) }.take(3)
        s.replaceGroup("ad_province_top3", Seq(dt, prov),
          top.map { case (ad, n) => (Seq(dt, prov, ad), n) })
      }
    } finally batch.unpersist()
  }

  /** Query 2: ad_stat running totals + province top-3 (T5/T6) as an
    * update-mode stateful aggregation with per-partition idempotent
    * sinks. The blacklist anti-join runs UPSTREAM of the aggregation
    * against the per-batch-fresh store frame, so blacklisted clicks
    * stop counting from the batch after the offender is listed —
    * the reference's own one-batch lag. Day-window grouping +
    * watermark bound the aggregation state to the watermark horizon
    * (old days evict; their totals stay in the store). */
  def adStatQuery(lines: DataFrame, provider: StoreProvider,
      checkpointDir: String, watermark: String = "1 day",
      trigger: Trigger = DefaultTrigger): StreamingQuery = {
    val parsed = clicks(lines)
    val black = blacklistFrame(parsed.sparkSession, provider)
    parsed
      .join(black, Seq("user_id"), "left_anti")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"),
        col("province"), col("city"), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("dt"),
        col("province"), col("city"), col("ad_id"), col("click_count"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(adStatBatch(provider) _)
      .start()
  }

  /** T7 transform: per-minute event-time buckets per ad. Late data
    * beyond the watermark is dropped; the published table is keyed
    * (minute, ad) so the "trailing hour" is the reader's predicate. */
  def minuteTrend(clicks: DataFrame, watermark: String = "2 minutes"): DataFrame =
    clicks
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))
      .select(
        date_format(col("window.start"), "yyyyMMddHHmm").as("minute_key"),
        col("ad_id"), col("click_count"))

  /** Query 3: click trend (T7), update mode — only changed minute
    * buckets are re-upserted each batch. */
  def trendQuery(lines: DataFrame, provider: StoreProvider,
      checkpointDir: String, watermark: String = "2 minutes",
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    minuteTrend(clicks(lines), watermark)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        KeyedStore.perPartition(batch, provider) { (s, r) =>
          s.put("ad_click_trend",
            Seq(r.getString(0), r.getLong(1).toString), r.getLong(2))
        }
      }
      .start()

  /** Whole job (reference main, §3.3): all three queries on one source. */
  def run(spark: SparkSession, lines: DataFrame, provider: StoreProvider,
      checkpointRoot: String, threshold: Long = 100L,
      trigger: Trigger = DefaultTrigger): Seq[StreamingQuery] = Seq(
    statsQuery(lines, provider, s"$checkpointRoot/stats", threshold, trigger),
    adStatQuery(lines, provider, s"$checkpointRoot/adstat", trigger = trigger),
    trendQuery(lines, provider, s"$checkpointRoot/trend", trigger = trigger))
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ad-click analytics core (reference module 4, AdClickRealTimeStatSpark).
  *
  * These are pure DataFrame→DataFrame transforms shared by BOTH the
  * batch oracle queries and the Structured Streaming jobs
  * (graft.streaming) — the streaming wrappers apply exactly these
  * functions inside foreachBatch / as stateful aggregations, so the
  * DuckDB oracle checks the same logic the stream runs.
  *
  * Reference semantics and divergences (SURVEY §2.9, §7.3):
  *  - T4 blacklist: ≥threshold clicks per (day, user, ad) → user ids.
  *  - T5 ad_stat: running totals per (day, province, city, ad). Batch
  *    analog: total counts (equal to the stream's final state).
  *  - T6/W2 province top-3: reference bug `WHERE rank>=3`; we
  *    implement the documented intent (rank<=3).
  *  - T7 trend: per-minute buckets over the trailing hour (the
  *    idiomatic event-time rewrite of reduceByKeyAndWindow 60min/10s).
  */
object AdAnalytics {

  /** P5: parse the reference's space-delimited ad-click log line
    * `timestamp_ms province city user_id ad_id` (one string column
    * `value`, the Kafka wire shape) into typed columns. */
  def parseAdLog(lines: DataFrame): DataFrame = {
    val p = split(col("value"), " ")
    lines.select(
      timestamp_millis(p.getItem(0).cast("long")).as("ts"),
      p.getItem(1).as("province"),
      p.getItem(2).as("city"),
      p.getItem(3).cast("long").as("user_id"),
      p.getItem(4).cast("long").as("ad_id"))
  }

  /** Events-table shape → ad-click shape: ad_id from props JSON,
    * province/city from the customer→nation→region dimension chain.
    * nation/region are hint-broadcast (fixed 25/5-row domains);
    * customer is left to AQE — a user dimension at the 100 TB design
    * point can be tens of GB, where a forced broadcast would OOM. */
  def eventsAsAdClicks(events: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "click")
      .withColumn("ad_id", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("ad_id").isNotNull)
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("user_id") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("ts"), col("r_name").as("province"), col("n_name").as("city"),
        col("user_id"), col("ad_id"))

  /** T4 (counts stage): clicks per (day, user, ad). */
  def clickCounts(adClicks: DataFrame): DataFrame =
    adClicks
      .groupBy(
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("user_id"), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))

  /** T4 (threshold stage): distinct users over the threshold on any
    * (day, ad) — the dynamic blacklist. */
  def blacklist(adClicks: DataFrame, threshold: Long = 100L): DataFrame =
    clickCounts(adClicks)
      .filter(col("click_count") >= threshold)
      .select(col("user_id")).distinct()

  /** T5: totals per (day, province, city, ad). One shuffle; partial
    * aggregation map-side. In streaming this runs as an update-mode
    * stateful aggregation with identical grouping. */
  def adStats(adClicks: DataFrame): DataFrame =
    adClicks
      .groupBy(
        date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("province"), col("city"), col("ad_id"))
      .agg(count(lit(1)).as("click_count"))

  /** T6 + W2: per (day, province) top-N ads (intent: rank<=N).
    * Delegates to the stats-grain ranker: counting clicks per (dt,
    * province, ad) equals summing the city-level totals. */
  def provinceTopAds(adClicks: DataFrame, topN: Int = 3): DataFrame =
    provinceTopFromStats(adStats(adClicks), topN)

  /** T6 + W2 over pre-aggregated (dt, province, city, ad) stats —
    * the streaming job derives province top-N from the running
    * ad_stat state exactly as the reference re-aggregates its
    * updateStateByKey output (AdClickRealTimeStatSpark.java:735-845). */
  def provinceTopFromStats(stats: DataFrame, topN: Int = 3): DataFrame = {
    val per = stats.groupBy(col("dt"), col("province"), col("ad_id"))
      .agg(sum(col("click_count")).as("click_count"))
    val w = Window.partitionBy(col("dt"), col("province"))
      .orderBy(col("click_count").desc, col("ad_id").asc)
    per.withColumn("rank", row_number().over(w)).filter(col("rank") <= topN)
  }

  /** T7: per-minute click counts per ad over the trailing
    * `windowMinutes` ending at the data's max ts.
    *
    * The trailing-window anchor (max ts) and the bucketed counts both
    * need a full pass over the click stream; a naive scalar-subquery
    * formulation runs the parse+dimension-join lineage TWICE. We
    * persist the two-column (ts, ad_id) projection instead — at scale
    * that is the classic "cache the slim projection you pass twice":
    * 16 bytes/row columnar versus re-reading and re-joining the fact
    * table, and both passes over it are embarrassingly parallel. */
  def clickTrend(adClicks: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val slim = adClicks.select(col("ts"), col("ad_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = slim.agg(max(col("ts")).as("mx"))
    slim
      .crossJoin(mx) // 1 row, broadcast
      .filter(col("ts") >= col("mx") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .groupBy(
        date_format(col("ts"), "yyyyMMddHHmm").as("minute_key"),
        col("ad_id"))
      .agg(count(lit(1)).as("click_count"))
  }
}

package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming rolling-distinct-users monitor — the live twin of the
  * q281 batch panel (`Retention.rollingUsersSketch`): per day, the
  * HLL estimate of distinct users, plus rolling 7/14/28-day distinct
  * estimates from MERGEABLE day sketches. This is the machine the
  * sketch design exists FOR: an exact rolling distinct would need
  * every (user, day) pair replayed per window per trigger; the
  * sketch path keeps one fixed-size summary per day and re-unions
  * ≤maxW of them.
  *
  * Wire shape: one stream of click events (user_id, ts).
  *
  * State and maintenance:
  *  - SS side: an update-mode watermarked day aggregate whose state
  *    IS the day's HLL sketch (`hll_sketch_agg` — a mergeable
  *    TypedImperativeAggregate, so partial aggregation and late rows
  *    inside the watermark fold in exactly like a sum). Each batch
  *    emits the CUMULATIVE sketch for every day it touched —
  *    absolute state, so the writer overwrites, never merges.
  *  - Ledger side: day → latest cumulative sketch bytes, a plain
  *    idempotent overwrite map ([[SketchLedger]] — the JVM-wide
  *    test stand-in for a blob-valued store table; the house
  *    [[graft.sink.KeyedStore]] models the reference's LONG-valued
  *    MySQL tables, so sketch binaries live beside it, exactly as a
  *    production deployment lands them in a bytes column).
  *  - Store side: `sk_dau` (day estimate) and `sk_wau`
  *    ((window, day) rolling estimates), rebuilt per batch by
  *    unioning each day's ≤window trailing ledger sketches —
  *    O(days·Σwindows) unions over CALENDAR-grain state, metadata
  *    regardless of event volume (the EwmaStream walk argument).
  *
  * Replay safety comes for FREE here: overwrite puts of absolute
  * sketches + deterministic re-derivation make a replayed batch a
  * no-op — no retraction ledger (BacklogStream) and no idempotence
  * marker (AdClickStream) needed. That property is the operational
  * selling point of sketch-valued state.
  */
object SketchStream {

  /** One streamed click event. */
  final case class Click(user_id: Long, ts: java.sql.Timestamp)

  val Tables: Seq[String] = Seq("sk_dau", "sk_wau")

  /** JVM-wide day→sketch-bytes ledger, keyed by registry name (the
    * InMemoryStore convention for binary values). */
  object SketchLedger {
    private val m =
      new ConcurrentHashMap[String, ConcurrentHashMap[String, Array[Byte]]]()
    def registry(name: String): ConcurrentHashMap[String, Array[Byte]] =
      m.computeIfAbsent(name, _ => new ConcurrentHashMap())
    def clear(name: String): Unit = m.remove(name)
  }

  /** Cumulative per-day HLL sketches for the days this batch touched
    * (update-mode stateful aggregate; the sketch is the state). */
  def daySketches(clicks: DataFrame, lgK: Int = 12,
      delay: String = "10 minutes"): DataFrame =
    clicks
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sk"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("sk"))

  /** The micro-batch body (exposed for tests): overwrite the touched
    * days' ledger sketches, then re-derive every day's DAU estimate
    * and rolling-window estimates from the ledger. */
  def sketchBatch(registry: String, provider: StoreProvider,
      windows: Seq[Int] = Seq(7, 14, 28), lgK: Int = 12)(
      batch: DataFrame, batchId: Long): Unit = {
    require(windows.nonEmpty && windows == windows.sorted, "windows ascending")
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      val led = SketchLedger.registry(registry)
      rows.foreach { r =>
        led.put(r.getString(0), r.getAs[Array[Byte]](1))
      }
      val days = {
        val it = led.keySet().iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next()
        b.result().sorted
      }
      val nums = days.map(d => java.time.LocalDate.parse(d).toEpochDay)
      var i = 0
      while (i < days.length) {
        val own = HllSketch.heapify(led.get(days(i)))
        s.put("sk_dau", Seq(days(i)), Math.round(own.getEstimate))
        windows.foreach { w =>
          val u = new Union(lgK)
          var j = i
          while (j >= 0 && nums(j) > nums(i) - w) {
            u.update(HllSketch.heapify(led.get(days(j))))
            j -= 1
          }
          s.put("sk_wau", Seq(w.toString, days(i)),
            Math.round(u.getResult(TgtHllType.HLL_8).getEstimate))
        }
        i += 1
      }
    }
  }

  /** The full query: click stream → day sketches → ledger overwrite +
    * rolling-union publish. Update mode: only days changed by the
    * batch ship their (absolute) sketch. */
  def sketchQuery(clicks: DataFrame, provider: StoreProvider,
      checkpointDir: String, registry: String,
      windows: Seq[Int] = Seq(7, 14, 28), lgK: Int = 12,
      delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    daySketches(clicks, lgK, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(sketchBatch(registry, provider, windows, lgK) _)
      .start()
}

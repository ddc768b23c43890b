package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sink.{KeyedStore, StoreProvider}

/** Streaming change-point monitor — the live twin of the q334 batch
  * binary segmentation (`Retention.changepoint`): per batch, the
  * single best level-shift day over the full revenue history,
  * recomputed from a day-grain ledger. The SeasonalityStream
  * pattern: the SS stateful aggregate emits ABSOLUTE day totals
  * (idempotent puts — replay is a no-op), and the argmax walk is
  * rebuilt per batch over the calendar-bounded day domain with dark
  * days as true zeros, exactly like the batch spine. "Did the
  * business step-change, and when" becomes a live dashboard row that
  * sharpens as evidence accumulates, instead of a nightly report.
  *
  * Wire shape: one stream of order events (order_id, order_ts,
  * total_price) — the TrailingStream wire.
  *
  * Store state: `cp_day_cents` (day → cents ledger) and `cp_result`
  * (field → value, replaced per batch: split_daynum, n_days,
  * n_before, n_after, mean_before_cents, mean_after_cents,
  * delta_cents, score_cents). The walk is the BATCH ALGORITHM run
  * small — BigInt A = n·S_τ − τ·S, argmax on ⌊A²/B⌋ with the
  * earliest-day tie-break, sign·⌊|A|/B⌋ delta, ⌊|A|/⌊√B⌋⌋ score —
  * bit-identical to the q334 oracle arithmetic by construction,
  * pinned by the parity spec.
  *
  * Scale shape: event-grain work collapses to day grain inside SS
  * state (one shuffle); only touched days reach the writer; the
  * walk is day-grain (years = thousands of rows). */
object ChangepointStream {

  val DayTable = "cp_day_cents"
  val ResultTable = "cp_result"

  /** The q334 walk over a (daynum → cents) ledger. Returns None for
    * ledgers under 2 spine days (no admissible split), else
    * (split_daynum, n_days, n_before, n_after, mean_before_cents,
    * mean_after_cents, delta_cents, score_cents). */
  def changepointWalk(ledger: Map[Long, Long])
      : Option[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
    if (ledger.isEmpty) return None
    val mn = ledger.keys.min
    val mx = ledger.keys.max
    val spine = (mn to mx).map(d => ledger.getOrElse(d, 0L))
    val n = spine.size.toLong
    if (n < 2L) return None
    val s = spine.map(BigInt(_)).sum
    var sTau = BigInt(0)
    var best: (BigInt, Long, Long, BigInt) = null // (q, daynum, tau, a)
    var tau = 0L
    spine.dropRight(1).foreach { cents =>
      tau += 1
      sTau += cents
      val a = BigInt(n) * sTau - BigInt(tau) * s
      val b = BigInt(tau) * (n - tau)
      val q = (a * a) / b
      if (best == null || q > best._1) best = (q, mn + tau - 1, tau, a)
    }
    val (_, daynum, t, a) = best
    val b = BigInt(t) * (n - t)
    def isqrt(x: BigInt): BigInt = {
      var y = BigInt(math.sqrt(x.toDouble).toLong)
      while (y * y > x) y -= 1
      while ((y + 1) * (y + 1) <= x) y += 1
      y
    }
    Some((daynum, n, t, n - t,
      (sTauAt(spine, t) / t).toLong,
      ((s - sTauAt(spine, t)) / (n - t)).toLong,
      (a.signum * (a.abs / b)).toLong,
      (a.abs / isqrt(b)).toLong))
  }

  private def sTauAt(spine: IndexedSeq[Long], tau: Long): BigInt =
    spine.take(tau.toInt).map(BigInt(_)).sum

  /** Micro-batch body: idempotent absolute day puts, then the argmax
    * walk over the whole (bounded) ledger. */
  def changepointBatch(provider: StoreProvider)(
      batch: DataFrame, batchId: Long): Unit = {
    KeyedStore.singleWriter(batch, provider) { (s, rows) =>
      rows.foreach { r =>
        s.put(DayTable, Seq(r.getLong(0).toString), r.getLong(1))
      }
      val ledger = s.scan(DayTable)
        .map { case (k, v) => (k.head.toLong, v) }.toMap
      val fields = changepointWalk(ledger) match {
        case Some((d, n, nb, na, mb, ma, delta, score)) => Seq(
          "split_daynum" -> d, "n_days" -> n, "n_before" -> nb,
          "n_after" -> na, "mean_before_cents" -> mb,
          "mean_after_cents" -> ma, "delta_cents" -> delta,
          "score_cents" -> score)
        case None => Nil
      }
      s.replaceGroup(ResultTable, Nil,
        fields.map { case (k, v) => (Seq(k), v) })
    }
  }

  /** The full query: order stream → day totals → ledger + argmax. */
  def changepointQuery(orders: DataFrame, provider: StoreProvider,
      checkpointDir: String, delay: String = "10 minutes",
      trigger: Trigger = AdClickStream.DefaultTrigger): StreamingQuery =
    SeasonalityStream.dayTotals(orders, delay)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(changepointBatch(provider) _)
      .start()
}

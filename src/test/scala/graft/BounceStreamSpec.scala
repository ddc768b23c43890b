package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sink.{InMemoryProvider, InMemoryStore}
import graft.streaming.BounceStream
import graft.streaming.SessionStream.Ev

/** Streaming entry/exit/bounce monitor: gap/entry/exit semantics of
  * the state machine, parity with the q162 batch report, and replay
  * idempotence of the publish path. */
class BounceStreamSpec extends SparkSpec {

  // 2026-01-01 00:00:00 UTC, in ms
  private val T0 = 1767225600000L
  private def ts(offsetS: Long) = new Timestamp(T0 + offsetS * 1000)

  /** Sessions under a 1800 s gap:
    * user 1: [view@0, click@60] then [view@5000] (bounce)
    * user 2: [click@0] (bounce)
    * user 3: [signup@0, view@100, purchase@200]            */
  private def fixture: Seq[Ev] = Seq(
    Ev(1, 1, ts(0), "view"), Ev(1, 2, ts(60), "click"),
    Ev(1, 3, ts(5000), "view"),
    Ev(2, 4, ts(0), "click"),
    Ev(3, 5, ts(0), "signup"), Ev(3, 6, ts(100), "view"),
    Ev(3, 7, ts(200), "purchase"))

  test("streamed type counts equal the q162 batch report on the same events") {
    val s = spark
    import s.implicits._
    val store = "bounce-parity"
    InMemoryStore.clear(store)
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Ev]
    val q = BounceStream.bounceQuery(mem.toDF(), InMemoryProvider(store),
      Files.createTempDirectory("graft-bounce").toString)
    try {
      val evs = fixture
      // split on TIME, not list position: a second batch whose events
      // sit behind the first batch's watermark would be dropped late
      val (b1, b2) = evs.partition(_.ts.getTime < T0 + 1000000L)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // close every open session: a far-future sentinel advances the
      // watermark past last_ts + gap for all fixture users
      mem.addData(Ev(99, 999, ts(1000000), "view")); q.processAllAvailable()

      val st = new InMemoryStore(store)
      def table(t: String) = st.scan(t)
        .map { case (k, v) => k.head -> v }.toMap
      // batch twin over the same events, minus the sentinel user
      // (its session never closes on the stream — no watermark after)
      val batch = graft.ops.Sessionize.entryExit(
        evs.toDF().withColumn("value", lit(0.0))
          .withColumn("props", lit("{}")))
        .collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_entries"), r.getAs[Long]("n_exits"),
            r.getAs[Long]("n_bounces")))).toMap
      assert(batch.nonEmpty)
      assert(table("bounce_entries") == batch.map { case (t, v) => t -> v._1 })
      assert(table("bounce_exits") == batch.map { case (t, v) => t -> v._2 })
      assert(table("bounce_bounces") == batch.map { case (t, v) => t -> v._3 })
    } finally q.stop()
  }

  test("state machine: entry fixed at open, exit tracks last event, bounce = 1 step") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[Ev]
    val ckpt = Files.createTempDirectory("graft-bounce2").toString
    val q = BounceStream.closedVisits(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName(s"bounce_out_${System.nanoTime()}")
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(Ev(1, 1, ts(0), "view"), Ev(1, 2, ts(60), "click"),
        Ev(1, 3, ts(120), "view"), Ev(1, 4, ts(5000), "purchase"))
      q.processAllAvailable()
      mem.addData(Ev(99, 9, ts(100000), "view"))
      q.processAllAvailable()
      val out = s.table(q.name).as[BounceStream.ClosedVisit]
        .collect().filter(_.user_id == 1).sortBy(_.session_id)
      assert(out.map(_.session_id).toSeq == Seq("1_1", "1_2"))
      val s1 = out.head
      assert(s1.entry_type == "view" && s1.exit_type == "view" &&
        s1.steps == 3)
      val s2 = out(1)
      assert(s2.entry_type == "purchase" && s2.exit_type == "purchase" &&
        s2.steps == 1) // the bounce
    } finally q.stop()
  }

  test("updateUser: cross-batch stragglers keep the (ts, event_id) entry/exit order") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def usOf(sec: Long) = (T0 + sec * 1000) * 1000L
    // open visit [1000s view .. 1060s click], ids 10 (entry) / 11 (exit)
    val open = BounceStream.OpenVisit(3L, usOf(1000), usOf(1060), 2L,
      "view", "click", 10L, 11L)
    def st() = TestGroupState.create[BounceStream.OpenVisit](
      org.apache.spark.api.java.Optional.of(open),
      GroupStateTimeout.EventTimeTimeout,
      0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)

    // (a) mid-visit straggler (between start and last): merges but
    // takes NEITHER endpoint — the pre-fix bug overwrote exit_type
    val stA = st()
    assert(BounceStream.updateUser(1800L)(
      1L, Iterator(Ev(1, 20, ts(1030), "signup")), stA).isEmpty)
    assert(stA.get == BounceStream.OpenVisit(3L, usOf(1000), usOf(1060), 3L,
      "view", "click", 10L, 11L))

    // (b) gap-close straggler BEFORE start: becomes the entry
    val stB = st()
    assert(BounceStream.updateUser(1800L)(
      1L, Iterator(Ev(1, 21, ts(900), "promo")), stB).isEmpty)
    assert(stB.get == BounceStream.OpenVisit(3L, usOf(900), usOf(1060), 3L,
      "promo", "click", 21L, 11L))

    // (c) straggler more than a gap before start: its own earlier
    // bounce visit under the current seq; open visit renumbered
    val stC = st()
    val outC = BounceStream.updateUser(100L)(
      1L, Iterator(Ev(1, 22, ts(200), "ad")), stC).toSeq
    assert(outC == Seq(BounceStream.ClosedVisit(1L, "1_3", "ad", "ad", 1L)))
    assert(stC.get == open.copy(seq = 4L))

    // (d) equal-ts tie-breaks: id < entryId takes entry; id > exitId
    // takes exit (the batch (ts, event_id) order)
    val stD = st()
    assert(BounceStream.updateUser(1800L)(1L, Iterator(
      Ev(1, 5, ts(1000), "early"), Ev(1, 30, ts(1060), "late")), stD).isEmpty)
    assert(stD.get == BounceStream.OpenVisit(3L, usOf(1000), usOf(1060), 4L,
      "early", "late", 5L, 30L))
  }

  test("re-delivered batch is a no-op: ledger-guarded increments") {
    val s = spark
    import s.implicits._
    val store = "bounce-replay"
    InMemoryStore.clear(store)
    val visits = Seq(
      (1L, "1_1", "view", "click", 2L),
      (2L, "2_1", "click", "click", 1L))
      .toDF("user_id", "session_id", "entry_type", "exit_type", "steps")
    val body = BounceStream.bounceBatch(InMemoryProvider(store)) _
    body(visits, 0L)
    // the on-disk ledger rows a live deployment's replays depend on
    assert(new InMemoryStore(store).scan("graft_applied_batch").toSet == Set(
      List("bounce", "p0") -> 1L, List("bounce", "batch") -> 1L))
    body(visits, 0L) // replay: the ledger row blocks a double-apply
    val st = new InMemoryStore(store)
    assert(st.scan("bounce_entries").map { case (k, v) => k.head -> v }
      .toMap == Map("view" -> 1L, "click" -> 1L))
    // every type seen in ANY role gets a row (0-increments create it)
    assert(st.scan("bounce_exits").map { case (k, v) => k.head -> v }
      .toMap == Map("click" -> 2L, "view" -> 0L))
    assert(st.scan("bounce_bounces").map { case (k, v) => k.head -> v }
      .toMap == Map("click" -> 1L, "view" -> 0L))
  }
}

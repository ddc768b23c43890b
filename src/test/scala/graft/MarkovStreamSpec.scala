package graft

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.ops.Market
import graft.sink.{InMemoryProvider, InMemoryStore, JdbcStore, KeyedStore}
import graft.streaming.{MarkovStream, SessionStream}

/** Streaming Markov removal-effect attribution: parity with the q292
  * batch op on in-order streams across batch splits (one ladder
  * implementation serves both), replay idempotence, start-row
  * emission unit. */
class MarkovStreamSpec extends SparkSpec {

  private val T0 = 1704067200000L // 2024-01-01 00:00:00 UTC
  private val Channels = Seq("click", "view")

  private def ev(id: Long, user: Long, offsetS: Long, typ: String) =
    SessionStream.Ev(user, id, new Timestamp(T0 + offsetS * 1000L), typ)

  private def batchCredits(events: Seq[SessionStream.Ev])
      : Map[(String, String), Long] = {
    val s = spark
    import s.implicits._
    val df = events.map(e => (e.event_id, e.ts, e.user_id, e.event_type))
      .toDF("event_id", "ts", "user_id", "event_type")
    Market.markovAttribution(df, Channels).collect().flatMap { r =>
      val ch = r.getAs[String]("channel")
      Seq("p_full_bp", "p_removed_bp", "removal_bp", "credit_bp").flatMap {
        c =>
          if (r.isNullAt(r.fieldIndex(c))) Nil
          else Seq((ch, c) -> r.getAs[Long](c))
      }
    }.toMap
  }

  private def storeCredits(st: InMemoryStore): Map[(String, String), Long] =
    st.scan(MarkovStream.CreditsTable)
      .map { case (k, v) => (k(0), k(1)) -> v }.toMap

  test("streamed credits equal batch q292 across batch splits") {
    val s = spark
    import s.implicits._
    val name = "markov-test"
    InMemoryStore.clear(name)
    implicit val sq = s.sqlContext
    val mem = MemoryStream[SessionStream.Ev]
    val q = MarkovStream.creditsQuery(mem.toDF(), InMemoryProvider(name),
      Files.createTempDirectory("graft-markov").toString, Channels)
    val fed = scala.collection.mutable.ArrayBuffer.empty[SessionStream.Ev]
    def feed(es: SessionStream.Ev*): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      val st = new InMemoryStore(name)
      // user 1's funnel split MID-SESSION: the click→purchase step
      // and the session start must both survive the batch boundary
      feed(ev(0, 1, 0, "view"), ev(1, 1, 30, "click"))
      feed(ev(2, 1, 60, "purchase"),
        ev(3, 2, 0, "view"), ev(4, 2, 30, "click"))
      assert(storeCredits(st) == batchCredits(fed.toSeq), "after batch 2")
      // a second user's whole funnel plus a lone-start user
      feed(ev(5, 3, 0, "click"), ev(6, 3, 30, "purchase"),
        ev(7, 4, 0, "view"))
      assert(storeCredits(st) == batchCredits(fed.toSeq), "after batch 3")
    } finally q.stop()
  }

  test("creditsBatch replay is a no-op (ledger-guarded increments)") {
    val s = spark
    import s.implicits._
    val name = "markov-replay"
    InMemoryStore.clear(name)
    val batch = Seq(
      (Option.empty[String], "view", 1L),
      (Some("view"), "click", 1L),
      (Some("click"), "purchase", 1L))
      .toDF("prev_type", "next_type", "__ignored")
      .select(col("prev_type"), col("next_type"))
    MarkovStream.creditsBatch(InMemoryProvider(name), Channels)(batch, 0L)
    val st = new InMemoryStore(name)
    val once = (st.scan(MarkovStream.MatrixTable).toSet,
      st.scan(MarkovStream.StartsTable).toSet,
      st.scan(MarkovStream.CreditsTable).toSet)
    MarkovStream.creditsBatch(InMemoryProvider(name), Channels)(batch, 0L)
    assert((st.scan(MarkovStream.MatrixTable).toSet,
      st.scan(MarkovStream.StartsTable).toSet,
      st.scan(MarkovStream.CreditsTable).toSet) == once,
      "replaying batch 0 must change nothing")
  }

  /** One session's steps: a view start, view → click, click → purchase. */
  private def funnelSteps = {
    val s = spark
    import s.implicits._
    Seq(
      (Option.empty[String], "view", 1L),
      (Some("view"), "click", 1L),
      (Some("click"), "purchase", 1L))
      .toDF("prev_type", "next_type", "__ignored")
      .select(col("prev_type"), col("next_type"))
  }

  private type Tables = (Set[(List[String], Long)], Set[(List[String], Long)],
    Set[(List[String], Long)])

  private def tables(st: KeyedStore): Tables =
    (st.scan(MarkovStream.MatrixTable).toSet,
      st.scan(MarkovStream.StartsTable).toSet,
      st.scan(MarkovStream.CreditsTable).toSet)

  test("creditsBatch on Derby: crash after a real matrix increment rolls back; replay is exactly-once") {
    val dir = Files.createTempDirectory("graft-derby-markov").toString
    val url = s"jdbc:derby:$dir/db"
    val boot = DriverManager.getConnection(s"$url;create=true")
    Seq(
      """CREATE TABLE ma_matrix (k1 VARCHAR(32), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin,
      "CREATE TABLE ma_starts (k1 VARCHAR(32), v BIGINT, PRIMARY KEY (k1))",
      """CREATE TABLE ma_credits (k1 VARCHAR(32), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin,
      """CREATE TABLE graft_applied_batch (k1 VARCHAR(32), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin
    ).foreach(boot.createStatement().executeUpdate)
    boot.close()
    def derby(): Tables = {
      val st = new JdbcStore(DriverManager.getConnection(url))
      try tables(st) finally st.close()
    }
    // the same batch applied once to a fresh in-memory store
    val name = "markov-derby-expected"
    InMemoryStore.clear(name)
    MarkovStream.creditsBatch(InMemoryProvider(name), Channels)(funnelSteps, 0L)
    val once = tables(new InMemoryStore(name))
    assert(once._1.nonEmpty && once._3.nonEmpty)

    val body = MarkovStream.creditsBatch(
      CrashOnceProvider(url, MarkovStream.MatrixTable), Channels) _
    // first attempt: a REAL matrix increment lands, then the task dies
    // before the ledger row and the commit — the transaction must roll
    // the increment back with it
    CrashOnceProvider.armed.set(true)
    intercept[Exception] { body(funnelSteps, 0L) }
    assert(!CrashOnceProvider.armed.get, "the injected crash never fired")
    assert(derby() == ((Set.empty, Set.empty, Set.empty)))
    body(funnelSteps, 0L) // replay: nothing was committed, so it applies
    assert(derby() == once)
    body(funnelSteps, 0L) // a second replay after commit is skipped
    assert(derby() == once)
  }

  test("creditsBatch replay on a ledger with only its batch row does not double-count") {
    // batch 0 as applied by a writer that kept only ("markov", "batch")
    // in the ledger: its matrix and start counts, no per-partition row
    val name = "markov-batch-row-only"
    InMemoryStore.clear(name)
    val st = new InMemoryStore(name)
    st.put(MarkovStream.MatrixTable, Seq("view", "click"), 1L)
    st.put(MarkovStream.MatrixTable, Seq("click", "purchase"), 1L)
    st.put(MarkovStream.StartsTable, Seq("view"), 1L)
    st.put("graft_applied_batch", Seq("markov", "batch"), 1L)
    def counts = (st.scan(MarkovStream.MatrixTable).toMap,
      st.scan(MarkovStream.StartsTable).toMap)
    val seeded = counts
    MarkovStream.creditsBatch(InMemoryProvider(name), Channels)(funnelSteps, 0L)
    assert(counts == seeded, "replaying batch 0 must change nothing")
    // the next batch still applies
    MarkovStream.creditsBatch(InMemoryProvider(name), Channels)(funnelSteps, 1L)
    assert(counts == ((seeded._1.map { case (k, v) => k -> 2 * v },
      seeded._2.map { case (k, v) => k -> 2 * v })))
  }

  test("updateUser emits a start row per new session and skips stragglers") {
    val state = new TestGroupState[graft.streaming.TransitionStream.LastEv]
    val out1 = MarkovStream.updateUser(1800L)(1L,
      Iterator(ev(0, 1, 0, "view"), ev(1, 1, 30, "click")), state).toSeq
    assert(out1 == Seq(
      MarkovStream.MStep(1L, None, "view"),
      MarkovStream.MStep(1L, Some("view"), "click")))
    // straggler older than consumed state: skipped, no retro-start
    val out2 = MarkovStream.updateUser(1800L)(1L,
      Iterator(ev(2, 1, 10, "view")), state).toSeq
    assert(out2.isEmpty)
    // gap exceeded: a NEW session start, not a step
    val out3 = MarkovStream.updateUser(1800L)(1L,
      Iterator(ev(3, 1, 30 + 1801, "purchase")), state).toSeq
    assert(out3 == Seq(MarkovStream.MStep(1L, None, "purchase")))
  }
}

package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.ops.Retention
import graft.sink.{InMemoryProvider, InMemoryStore, KeyedStore, StoreProvider}
import graft.streaming.{KmStream, SessionStream}

/** Delegates to an InMemoryStore and logs each write and each
  * transaction bracket in call order. Top-level (a nested class would
  * capture the unserializable suite); the log is a JVM global (local
  * mode). */
object RecordingProvider {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
final case class RecordingProvider(name: String) extends StoreProvider {
  def open(): KeyedStore = new KeyedStore {
    private val inner = new InMemoryStore(name)
    private def rec(op: String, t: String): Unit = RecordingProvider.log.add(s"$op $t")
    def increment(t: String, k: Seq[String], d: Long): Unit = {
      rec("increment", t); inner.increment(t, k, d)
    }
    def get(t: String, k: Seq[String]): Option[Long] = inner.get(t, k)
    def put(t: String, k: Seq[String], v: Long): Unit = { rec("put", t); inner.put(t, k, v) }
    def insertKey(t: String, k: Seq[String]): Unit = { rec("insertKey", t); inner.insertKey(t, k) }
    def replaceGroup(t: String, g: Seq[String], rows: Seq[(Seq[String], Long)]): Unit = {
      rec("replaceGroup", t); inner.replaceGroup(t, g, rows)
    }
    def scan(t: String): Seq[(List[String], Long)] = inner.scan(t)
    override def txBegin(): Unit = { inner.txBegin(); RecordingProvider.log.add("txBegin") }
    override def txCommit(): Unit = { RecordingProvider.log.add("txCommit"); inner.txCommit() }
    def close(): Unit = inner.close()
  }
}

/** Streaming Kaplan–Meier: parity with the q356 batch curve across
  * batch splits (one kmLadder serves both), retro span extension by
  * late data, replay idempotence (absolute puts), emit-on-change
  * state unit. */
class KmStreamSpec extends SparkSpec {

  private val T0 = 1704067200000L // 2024-01-01 00:00:00 UTC

  private def ev(id: Long, user: Long, day: Int) =
    SessionStream.Ev(user, id,
      new Timestamp(T0 + day * 86400000L + 3600000L), "view")

  private def batchCurve(events: Seq[SessionStream.Ev])
      : Map[(String, String), Long] = {
    val s = spark
    import s.implicits._
    val df = events.map(e => (e.event_id, e.ts, e.user_id, e.event_type))
      .toDF("event_id", "ts", "user_id", "event_type")
    Retention.kaplanMeier(df).collect().flatMap { r =>
      val t = r.getAs[Long]("t_days").toString
      Seq((t, "n_risk") -> r.getAs[Long]("n_risk"),
        (t, "n_events") -> r.getAs[Long]("n_events"),
        (t, "n_censored") -> r.getAs[Long]("n_censored"),
        (t, "survival_ppm") -> r.getAs[Long]("survival_ppm"))
    }.toMap
  }

  private def storeCurve(st: InMemoryStore): Map[(String, String), Long] =
    st.scan(KmStream.CurveTable)
      .map { case (k, v) => (k(0), k(1)) -> v }.toMap

  test("streamed curve equals batch q356 across batch splits; late data extends spans") {
    val s = spark
    import s.implicits._
    val name = "km-test"
    InMemoryStore.clear(name)
    implicit val sq = s.sqlContext
    val mem = MemoryStream[SessionStream.Ev]
    val q = KmStream.kmQuery(mem.toDF(), InMemoryProvider(name),
      Files.createTempDirectory("graft-km").toString)
    val fed = scala.collection.mutable.ArrayBuffer.empty[SessionStream.Ev]
    def feed(es: SessionStream.Ev*): Unit = {
      fed ++= es; mem.addData(es: _*); q.processAllAvailable()
    }
    try {
      val st = new InMemoryStore(name)
      // three users, two batches; u3's last day IS the census max →
      // censored in both engines
      feed(ev(0, 1, 0), ev(1, 1, 2), ev(2, 2, 0))
      assert(storeCurve(st) == batchCurve(fed.toSeq), "after batch 1")
      feed(ev(3, 2, 4), ev(4, 3, 1), ev(5, 3, 10))
      assert(storeCurve(st) == batchCurve(fed.toSeq), "after batch 2")
      // LATE data: u1's span extends BACKWARD (earlier first day) —
      // an absolute-state rewrite, no retraction machinery needed
      feed(ev(6, 1, -3))
      assert(storeCurve(st) == batchCurve(fed.toSeq), "after late batch")
    } finally q.stop()
  }

  test("kmBatch replay is a no-op (absolute puts; monotone spans)") {
    val s = spark
    import s.implicits._
    val name = "km-replay"
    InMemoryStore.clear(name)
    val batch = Seq((1L, 19723L, 19725L), (2L, 19723L, 19723L))
      .toDF("user_id", "first_day", "last_day")
    KmStream.kmBatch(InMemoryProvider(name))(batch, 0L)
    val st = new InMemoryStore(name)
    val once = (st.scan(KmStream.SpanTable).toSet,
      st.scan(KmStream.CurveTable).toSet)
    // guard against a vacuous pass: u2 (lifetime 0, uncensored) must
    // produce a real curve row (this is the assert that caught the
    // Map-re-keying span-merge bug)
    assert(once._2.nonEmpty, "curve must not be empty")
    KmStream.kmBatch(InMemoryProvider(name))(batch, 0L)
    assert((st.scan(KmStream.SpanTable).toSet,
      st.scan(KmStream.CurveTable).toSet) == once)
  }

  test("kmBatch writes its spans and its curve in one transaction") {
    val s = spark
    import s.implicits._
    val name = "km-tx"
    InMemoryStore.clear(name)
    RecordingProvider.log.clear()
    val batch = Seq((1L, 19723L, 19725L), (2L, 19723L, 19723L))
      .toDF("user_id", "first_day", "last_day")
    KmStream.kmBatch(RecordingProvider(name))(batch, 0L)
    val ops = RecordingProvider.log.toArray.toSeq.map(_.toString)
    // two users × (first, last) span puts, then the curve's
    // DELETE + INSERTs: all inside one txBegin … txCommit
    assert(ops.count(_ == s"put ${KmStream.SpanTable}") == 4, ops)
    assert(ops.contains(s"replaceGroup ${KmStream.CurveTable}"), ops)
    assert(ops.head == "txBegin" && ops.last == "txCommit", ops)
    assert(!ops.tail.init.exists(_.startsWith("tx")), ops)
  }

  test("updateUser emits only when a bound moves") {
    val state = new TestGroupState[(Long, Long)]
    val out1 = KmStream.updateUser(1L,
      Iterator(ev(0, 1, 2), ev(1, 1, 5)), state).toSeq
    assert(out1 == Seq(KmStream.Span(1L, 19725L, 19728L)))
    // inside the known span: no emission, state unchanged
    val out2 = KmStream.updateUser(1L, Iterator(ev(2, 1, 3)), state).toSeq
    assert(out2.isEmpty)
    // beyond the last day: one widened span row
    val out3 = KmStream.updateUser(1L, Iterator(ev(3, 1, 7)), state).toSeq
    assert(out3 == Seq(KmStream.Span(1L, 19725L, 19730L)))
  }
}

package graft

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.Dedup
import graft.sink.{InMemoryProvider, InMemoryStore, JdbcProvider}
import graft.streaming.{CorpusStream, NearDupStream}

/** q102/q105's streaming twin: the running per-source dedup-savings
  * table must agree with the batch accounting
  * (Dedup.incrementalSavingsReport) on the same arrivals-vs-corpus
  * split, regardless of how the arrivals were micro-batched — and a
  * replayed micro-batch must not double-count. */
class SavingsStreamSpec extends SparkSpec {

  private val T0 = 1767225600000L
  private def ts(offsetS: Long) = new Timestamp(T0 + offsetS * 1000)

  private val LongText =
    "spark shuffles data between stages during wide joins and the " +
      "optimizer prunes columns while adaptive execution coalesces " +
      "partitions to balance skewed work across executors"

  private def corpus: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight", "en", "web"),
      (101L, LongText, "en", "web"),
      (102L, "entirely different content about cooking pasta dishes", "en", "books"))
      .toDF("doc_id", "text", "lang", "source")
  }

  // arrivals: exact replay (dropped), near-dup (dropped), novel doc,
  // null text (kept, 0 tokens), short text (kept), across two sources
  private val arrivals: Seq[CorpusStream.In] = Seq(
    CorpusStream.In(1L, "the quick brown fox jumps over the lazy dog tonight",
      "en", "web", ts(0)),
    CorpusStream.In(2L, LongText.split(' ').init.mkString(" ") + " machines",
      "en", "web", ts(1)),
    CorpusStream.In(3L, "completely unrelated text with novel words entirely",
      "en", "web", ts(2)),
    CorpusStream.In(4L, null, "en", "books", ts(3)),
    CorpusStream.In(5L, "tiny", "en", "books", ts(4)))

  private def arrivalsDf: DataFrame = {
    val s = spark
    import s.implicits._
    arrivals.map(a => (a.doc_id, a.text, a.lang, a.source))
      .toDF("doc_id", "text", "lang", "source")
  }

  private def batchReport: Set[(String, Long, Long, Long, Long, Long)] =
    Dedup.incrementalSavingsReport(arrivalsDf, corpus).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("tokens_total"),
        r.getAs[Long]("tokens_dropped"), r.getAs[Long]("savings_bp"))).toSet

  test("stream savings over split micro-batches == the batch report") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val store = s"savings_${System.nanoTime()}"
    InMemoryStore.clear(store)
    val mem = MemoryStream[CorpusStream.In]
    val q = NearDupStream.savingsQuery(mem.toDF(), corpus,
      InMemoryProvider(store),
      Files.createTempDirectory("graft-sav").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // split mid-source so per-source totals genuinely accumulate
      // across micro-batches
      mem.addData(arrivals.take(2): _*); q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val got = NearDupStream.savingsReport(InMemoryProvider(store)).toSet
    val expect = batchReport
    assert(got == expect)
    // sanity on the expected shape itself: web dropped 2 of 3 docs,
    // books dropped none (null text counts 0 tokens)
    val web = expect.find(_._1 == "web").get
    assert(web._2 == 3L && web._3 == 2L && web._6 > 0L)
    val books = expect.find(_._1 == "books").get
    assert(books._2 == 2L && books._3 == 0L && books._6 == 0L)
  }

  test("savingsBatch on Derby: crash after a real increment rolls back; replay is exactly-once") {
    val dir = Files.createTempDirectory("graft-derby-sav").toString
    val url = s"jdbc:derby:$dir/db"
    val boot = DriverManager.getConnection(s"$url;create=true")
    Seq(
      """CREATE TABLE neardup_savings (k1 VARCHAR(64), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin,
      """CREATE TABLE graft_applied_batch (k1 VARCHAR(32), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin
    ).foreach(boot.createStatement().executeUpdate)
    boot.close()

    val body = NearDupStream.savingsBatch(
      CrashOnceProvider(url, NearDupStream.SavingsTable), corpus) _
    // first attempt: a REAL savings increment lands, then the task
    // dies before the ledger row and the commit — the transaction
    // must roll the increment back with it
    CrashOnceProvider.armed.set(true)
    intercept[Exception] { body(arrivalsDf, 0L) }
    // replay of the same batch id: nothing was committed, so it
    // applies cleanly — totals equal exactly one application
    body(arrivalsDf, 0L)
    assert(NearDupStream.savingsReport(JdbcProvider(url)).toSet == batchReport)
    // and a SECOND replay after commit is skipped via the batch marker
    body(arrivalsDf, 0L)
    assert(NearDupStream.savingsReport(JdbcProvider(url)).toSet == batchReport)
  }

  test("a replayed micro-batch is not double-counted") {
    val store = s"savings_replay_${System.nanoTime()}"
    InMemoryStore.clear(store)
    val provider = InMemoryProvider(store)
    NearDupStream.savingsBatch(provider, corpus)(arrivalsDf, 0L)
    // the on-disk ledger rows a live deployment's replays depend on
    assert(new InMemoryStore(store).scan("graft_applied_batch").toSet == Set(
      List("savings", "p0") -> 1L, List("savings", "batch") -> 1L))
    val once = NearDupStream.savingsReport(provider)
    NearDupStream.savingsBatch(provider, corpus)(arrivalsDf, 0L) // replay
    assert(NearDupStream.savingsReport(provider) == once)
    assert(once.toSet == batchReport)
  }
}

package graft

import java.nio.file.Files
import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.ops.AdAnalytics
import graft.sink.{InMemoryProvider, InMemoryStore, JdbcStore, KeyedStore, StoreProvider}
import graft.streaming.AdClickStream

/** Fault injector for the exactly-once tests: delegates to a real
  * Derby-backed JdbcStore but, while armed, throws ONCE right after an
  * increment of `table` — i.e. after real work, before the ledger
  * row and the commit: exactly the window the per-partition
  * transaction must cover. Top-level (a nested class would capture
  * the unserializable suite); armed is a JVM global (local mode). */
object CrashOnceProvider {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
final case class CrashOnceProvider(url: String, table: String) extends StoreProvider {
  def open(): KeyedStore = new KeyedStore {
    private val inner = new JdbcStore(DriverManager.getConnection(url))
    def increment(t: String, key: Seq[String], delta: Long): Unit = {
      inner.increment(t, key, delta)
      if (t == table && CrashOnceProvider.armed.compareAndSet(true, false))
        throw new RuntimeException("injected crash: after increment, before commit")
    }
    def get(t: String, k: Seq[String]): Option[Long] = inner.get(t, k)
    def put(t: String, k: Seq[String], v: Long): Unit = inner.put(t, k, v)
    def insertKey(t: String, k: Seq[String]): Unit = inner.insertKey(t, k)
    def replaceGroup(t: String, g: Seq[String],
        rows: Seq[(Seq[String], Long)]): Unit = inner.replaceGroup(t, g, rows)
    def scan(t: String): Seq[(List[String], Long)] = inner.scan(t)
    override def scanPrefix(t: String, p: Seq[String]): Seq[(List[String], Long)] =
      inner.scanPrefix(t, p)
    override def txBegin(): Unit = inner.txBegin()
    override def txCommit(): Unit = inner.txCommit()
    def close(): Unit = inner.close()
  }
}

/** Structured Streaming tests for the ad-click job (SURVEY §2.9) —
  * MemoryStream-driven micro-batches, results asserted in the keyed
  * store, matching the reference's published MySQL tables.
  */
class StreamingSpec extends SparkSpec {

  private def line(tsMs: Long, prov: String, city: String, user: Long, ad: Long) =
    s"$tsMs $prov $city $user $ad"

  // 2026-01-01 00:00:00 UTC
  private val T0 = 1767225600000L

  test("statsQuery + adStatQuery: blacklist, ad_stat totals, province top-3 across batches") {
    val s = spark
    import s.implicits._
    val store = "stats-test"
    InMemoryStore.clear(store)
    val ckptRoot = Files.createTempDirectory("graft-ckpt").toString
    implicit val sq = s.sqlContext
    val mem = MemoryStream[String]

    // Batch 1: user 7 trips the threshold (3 clicks, in its own
    // province so the race below stays contained); users 1/2 click
    // normally. The two queries are INDEPENDENT, so whether batch 1's
    // offender clicks are counted into ad_stat depends on which query
    // processes batch 1 first — the design's documented one-batch
    // consistency window. Deterministic cells are asserted exactly;
    // the offender's cell is asserted for cross-batch consistency.
    mem.addData(
      line(T0, "North", "Peak", 7, 9), line(T0 + 1000, "North", "Peak", 7, 9),
      line(T0 + 2000, "North", "Peak", 7, 9),
      line(T0 + 3000, "East", "Metro", 1, 1),
      line(T0 + 4000, "West", "Hills", 2, 2))
    val qStats = AdClickStream.statsQuery(
      mem.toDF(), InMemoryProvider(store), s"$ckptRoot/stats", threshold = 3L)
    val qAd = AdClickStream.adStatQuery(
      mem.toDF(), InMemoryProvider(store), s"$ckptRoot/adstat")
    try {
      qStats.processAllAvailable()
      qAd.processAllAvailable()
      val st1 = new InMemoryStore(store)
      assert(st1.scan("ad_blacklist").map(_._1.head).toSet == Set("7"))
      val northKey = List("2026-01-01", "North", "Peak", "9")
      val stat1 = st1.scan("ad_stat").toMap
      assert(stat1(List("2026-01-01", "East", "Metro", "1")) == 1L)
      assert(stat1(List("2026-01-01", "West", "Hills", "2")) == 1L)
      val north1 = stat1.getOrElse(northKey, 0L) // 0 or 3, race-dependent
      assert(north1 == 0L || north1 == 3L)

      // Batch 2: user 7 is now listed in BOTH queries' view — its
      // click must not count anywhere; user 1 clicks ad 2 twice.
      mem.addData(
        line(T0 + 10000, "North", "Peak", 7, 9), // dropped (blacklisted)
        line(T0 + 11000, "East", "Metro", 1, 2),
        line(T0 + 12000, "East", "Metro", 1, 2))
      qStats.processAllAvailable()
      qAd.processAllAvailable()
      val st2 = new InMemoryStore(store)
      val stat2 = st2.scan("ad_stat").toMap
      assert(stat2(List("2026-01-01", "East", "Metro", "1")) == 1L)
      assert(stat2(List("2026-01-01", "East", "Metro", "2")) == 2L)
      assert(stat2(List("2026-01-01", "West", "Hills", "2")) == 1L)
      assert(stat2.getOrElse(northKey, 0L) == north1) // batch-2 click dropped
      // Province top-3 ranks from full running state, count desc, ad asc.
      val top = st2.scan("ad_province_top3")
        .filter { case (k, _) => k(1) != "North" }
        .map { case (k, v) => (k(0), k(1), k(2), v) }.sorted
      assert(top == Seq(
        ("2026-01-01", "East", "2", 2L), ("2026-01-01", "East", "1", 1L),
        ("2026-01-01", "West", "2", 1L)).sorted)
      // Running per-(day,user,ad) totals kept across batches (the T4
      // path counts batch 1 always: its filter ran before the listing).
      assert(st2.scan("ad_user_click_count").toMap
        .apply(List("2026-01-01", "7", "9")) == 3L)
    } finally { qStats.stop(); qAd.stop() }
  }

  test("trendQuery: per-minute event-time buckets, update mode upsert") {
    val s = spark
    import s.implicits._
    val store = "trend-test"
    InMemoryStore.clear(store)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    implicit val sq = s.sqlContext
    val mem = MemoryStream[String]

    mem.addData(
      line(T0, "E", "M", 1, 9), line(T0 + 30000, "E", "M", 2, 9), // minute 0
      line(T0 + 65000, "E", "M", 3, 9)) // minute 1
    val q = AdClickStream.trendQuery(mem.toDF(), InMemoryProvider(store), ckpt)
    try {
      q.processAllAvailable()
      // Same minute again in a later batch → bucket re-upserted to new total.
      mem.addData(line(T0 + 40000, "E", "M", 4, 9))
      q.processAllAvailable()
      val st = new InMemoryStore(store)
      assert(st.scan("ad_click_trend").toMap ==
        Map(List("202601010000", "9") -> 3L, List("202601010001", "9") -> 1L))
    } finally q.stop()
  }

  test("minuteTrend watermark edge: beyond-horizon late row dropped, in-horizon late row re-upserts, batch parity on survivors") {
    val s = spark
    import s.implicits._
    val store = "trend-watermark"
    InMemoryStore.clear(store)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    implicit val sq = s.sqlContext
    val mem = MemoryStream[String]
    val q = AdClickStream.trendQuery(mem.toDF(), InMemoryProvider(store), ckpt)
    try {
      // batch 1: minutes 0 and 1
      mem.addData(line(T0, "E", "M", 1, 9), line(T0 + 30000, "E", "M", 2, 9),
        line(T0 + 65000, "E", "M", 3, 9))
      q.processAllAvailable()
      // batch 2: minute 5 → watermark (2 min delay) advances to
      // minute 3; the minute-0/1 windows evict from state
      mem.addData(line(T0 + 300000, "E", "M", 4, 9))
      q.processAllAvailable()
      // batch 3: a late row for minute 0 crosses the watermark and
      // must be DROPPED (its store bucket stays at the batch-1
      // total); a late row for minute 4 is within the horizon and
      // must re-upsert
      mem.addData(line(T0 + 40000, "E", "M", 5, 9),
        line(T0 + 250000, "E", "M", 6, 9))
      q.processAllAvailable()
      val st = new InMemoryStore(store)
      val got = st.scan("ad_click_trend").toMap
      assert(got == Map(
        List("202601010000", "9") -> 2L, // NOT 3: late row dropped
        List("202601010001", "9") -> 1L,
        List("202601010004", "9") -> 1L,
        List("202601010005", "9") -> 1L))
      // q16 batch-twin parity on the SURVIVING rows: the store must
      // equal AdAnalytics.clickTrend over exactly the rows the
      // watermark admitted (all but the dropped minute-0 straggler)
      val survivors = Seq(
        line(T0, "E", "M", 1, 9), line(T0 + 30000, "E", "M", 2, 9),
        line(T0 + 65000, "E", "M", 3, 9), line(T0 + 300000, "E", "M", 4, 9),
        line(T0 + 250000, "E", "M", 6, 9)).toDF("value")
      val twin = AdAnalytics.clickTrend(
        AdAnalytics.parseAdLog(survivors), windowMinutes = 60)
        .collect()
        .map(r => List(r.getString(0), r.getLong(1).toString) -> r.getLong(2))
        .toMap
      assert(twin == got, "stream store diverged from the batch twin")
    } finally q.stop()
  }

  test("batch/stream parity: AdAnalytics on the same rows matches the store") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      line(T0, "East", "Metro", 1, 1), line(T0 + 1000, "East", "Metro", 1, 1),
      line(T0 + 2000, "West", "Hills", 2, 2))
    val batch = AdAnalytics.parseAdLog(rows.toDF("value"))
    val stats = AdAnalytics.adStats(batch).collect()
      .map(r => (List(r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3).toString), r.getLong(4))).toMap

    val store = "parity-test"
    InMemoryStore.clear(store)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    implicit val sq = s.sqlContext
    val mem = MemoryStream[String]
    mem.addData(rows: _*)
    val q = AdClickStream.adStatQuery(mem.toDF(), InMemoryProvider(store), ckpt)
    try {
      q.processAllAvailable()
      assert(new InMemoryStore(store).scan("ad_stat").toMap == stats)
    } finally q.stop()
  }

  test("statsBatch is idempotent per batchId (foreachBatch replay safety)") {
    val s = spark
    import s.implicits._
    val store = "replay-test"
    InMemoryStore.clear(store)
    val batch = Seq(
      line(T0, "East", "Metro", 1, 1), line(T0 + 1000, "East", "Metro", 1, 1))
      .toDF("value")
    val parsed = AdAnalytics.parseAdLog(batch)
    val body = AdClickStream.statsBatch(InMemoryProvider(store), 100L) _
    body(parsed, 0L)
    // the on-disk ledger rows a live deployment's replays depend on:
    // the one key's partition of the 32-way keyed repartition, then
    // the batch-grain marker
    assert(new InMemoryStore(store).scan("graft_applied_batch").toSet == Set(
      List("stats", "p4") -> 1L, List("stats", "batch") -> 1L))
    body(parsed, 0L) // replay of the SAME batch must be a no-op
    val st = new InMemoryStore(store)
    assert(st.scan("ad_user_click_count").toMap ==
      Map(List("2026-01-01", "1", "1") -> 2L))
    body(parsed, 1L) // a NEW batch still applies
    assert(new InMemoryStore(store).scan("ad_user_click_count").toMap
      .apply(List("2026-01-01", "1", "1")) == 4L)
  }

  test("statsBatch has no driver collect; partial replay can't double-count") {
    val s = spark
    import s.implicits._
    val store = "partial-replay-test"
    InMemoryStore.clear(store)
    val parsed = AdAnalytics.parseAdLog(Seq(
      line(T0, "East", "Metro", 1, 1), line(T0 + 1000, "East", "Metro", 1, 1),
      line(T0 + 2000, "West", "Hills", 2, 2)).toDF("value"))
    val body = AdClickStream.statsBatch(InMemoryProvider(store), 100L) _
    body(parsed, 0L)
    val applied = new InMemoryStore(store).scan("ad_user_click_count").toMap
    assert(applied == Map(
      List("2026-01-01", "1", "1") -> 2L, List("2026-01-01", "2", "2") -> 1L))
    // simulate a crash AFTER every partition committed but BEFORE the
    // batch-grain marker landed: erase the fast-path marker and replay.
    // The per-partition ledger rows (committed atomically with each
    // partition's increments) must make the replay a no-op.
    new InMemoryStore(store).put("graft_applied_batch", Seq("stats", "batch"), -1L)
    body(parsed, 0L)
    assert(new InMemoryStore(store).scan("ad_user_click_count").toMap == applied)
  }

  test("adStatBatch replay: absolute-total puts make a re-delivered batch a no-op") {
    val s = spark
    import s.implicits._
    val store = "adstat-replay-test"
    InMemoryStore.clear(store)
    // adStatBatch consumes UPDATE-mode aggregate rows: absolute totals
    // for changed keys. Re-delivering the same batch (same totals)
    // must not change the store — no tx marker needed, unlike the
    // increment-based T4 path.
    val totals = Seq(
      ("2026-01-01", "East", "Metro", 1L, 4L),
      ("2026-01-01", "West", "Hills", 2L, 1L))
      .toDF("dt", "province", "city", "ad_id", "click_count")
    val body = AdClickStream.adStatBatch(InMemoryProvider(store)) _
    body(totals, 0L)
    body(totals, 0L) // replay — same absolute totals, same result
    val st = new InMemoryStore(store)
    assert(st.scan("ad_stat").toMap ==
      Map(List("2026-01-01", "East", "Metro", "1") -> 4L,
          List("2026-01-01", "West", "Hills", "2") -> 1L))
    val top = st.scan("ad_province_top3")
      .map { case (k, v) => (k(0), k(1), k(2), v) }.sorted
    assert(top == Seq(
      ("2026-01-01", "East", "1", 4L), ("2026-01-01", "West", "2", 1L)))
    // a later batch with a HIGHER absolute total overwrites, not adds
    val newer = Seq(("2026-01-01", "East", "Metro", 1L, 7L))
      .toDF("dt", "province", "city", "ad_id", "click_count")
    body(newer, 1L)
    body(newer, 1L)
    assert(new InMemoryStore(store).scan("ad_stat").toMap
      .apply(List("2026-01-01", "East", "Metro", "1")) == 7L)
  }

  test("run(): all three queries share one source; all five tables populate") {
    val s = spark
    import s.implicits._
    val store = "run-test"
    InMemoryStore.clear(store)
    val ckpt = Files.createTempDirectory("graft-run").toString
    implicit val sq = s.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      line(T0, "East", "Metro", 1, 1), line(T0 + 1000, "East", "Metro", 1, 1),
      line(T0 + 65000, "West", "Hills", 2, 2))
    val qs = AdClickStream.run(s, mem.toDF(), InMemoryProvider(store), ckpt,
      threshold = 2L) // user 1's two clicks cross it → blacklist populates
    try {
      qs.foreach(_.processAllAvailable())
      val st = new InMemoryStore(store)
      assert(st.scan("ad_stat").nonEmpty)
      assert(st.scan("ad_user_click_count").nonEmpty)
      assert(st.scan("ad_province_top3").nonEmpty)
      assert(st.scan("ad_click_trend").nonEmpty)
      assert(st.scan("ad_blacklist").map(_._1.head).toSet == Set("1"))
    } finally qs.foreach(_.stop())
  }

  test("statsBatch on Derby: crash mid-partition rolls back; replay is exactly-once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-derby-t4").toString
    val boot = DriverManager.getConnection(s"jdbc:derby:$dir/db;create=true")
    Seq(
      """CREATE TABLE ad_user_click_count (k1 VARCHAR(32), k2 VARCHAR(32),
        | k3 VARCHAR(32), v BIGINT, PRIMARY KEY (k1, k2, k3))""".stripMargin,
      "CREATE TABLE ad_blacklist (k1 VARCHAR(32), v BIGINT, PRIMARY KEY (k1))",
      """CREATE TABLE graft_applied_batch (k1 VARCHAR(32), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin
    ).foreach(boot.createStatement().executeUpdate)
    boot.close()

    // two clicks per user so a double-applied partition would show 4
    // and a dropped one 0 — both distinguishable from the correct 2
    val rows = (1 to 8).flatMap(u =>
      Seq(line(T0, "East", "Metro", u, 1), line(T0 + 1000L * u, "East", "Metro", u, 1)))
    val parsed = AdAnalytics.parseAdLog(rows.toDF("value"))
    val body = AdClickStream.statsBatch(
      CrashOnceProvider(s"jdbc:derby:$dir/db", "ad_user_click_count"), 100L) _

    // first attempt: one task performs a REAL increment, then dies
    // before writing its ledger row or committing — the transaction
    // must roll the increment back
    CrashOnceProvider.armed.set(true)
    intercept[Exception] { body(parsed, 0L) }
    // replay: committed partitions skip via their ledger rows, the
    // crashed (rolled-back) one re-applies — exactly-once overall
    body(parsed, 0L)
    val st = new JdbcStore(DriverManager.getConnection(s"jdbc:derby:$dir/db"))
    try assert(st.scan("ad_user_click_count").toMap ==
      (1 to 8).map(u => List("2026-01-01", u.toString, "1") -> 2L).toMap)
    finally st.close()
  }

  /** The partitions AdClickStream coalesces its source to: the default
    * parallelism of SparkSpec's `local[4]` session. */
  private val SourceParts = 4

  /** `q`'s last micro-batch plan from its source scan up to, not
    * including, the first exchange or stateful operator: the scan
    * first, then its ancestors in order. */
  private def sourceStage(q: StreamingQuery): Seq[SparkPlan] = {
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    def down(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case _: MicroBatchScanExec => Some(List(p))
      case _ => p.children.iterator.map(down).collectFirst { case Some(path) => p :: path }
    }
    val up = down(plan).getOrElse(fail(s"no source scan in\n$plan")).reverse
    up.head +: up.tail.takeWhile {
      case _: Exchange | _: StatefulOperator => false
      case _ => true
    }
  }

  test("each ad-click query coalesces a many-chunk source to the core count, once, before its first exchange") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val n = SourceParts
    // exactly one batch, so the last execution is the one that read
    // the chunks (AvailableNow and processing-time triggers end on a
    // no-data batch that advances the watermark)
    val once = Trigger.Once()
    type Start = (DataFrame, StoreProvider, String) => StreamingQuery
    val queries = Seq[(String, Start)](
      ("statsQuery", AdClickStream.statsQuery(_, _, _, trigger = once)),
      ("adStatQuery", AdClickStream.adStatQuery(_, _, _, trigger = once)),
      ("trendQuery", AdClickStream.trendQuery(_, _, _, trigger = once)))
    for ((name, start) <- queries) {
      val store = s"fanout-plan-$name"
      InMemoryStore.clear(store)
      val mem = MemoryStream[String]
      (0 until 3 * n).foreach(i => mem.addData(line(T0 + 1000L * i, "East", "Metro", i, 1)))
      val q = start(mem.toDF(), InMemoryProvider(store),
        Files.createTempDirectory("graft-ckpt").toString)
      try {
        q.awaitTermination()
        val stage = sourceStage(q)
        val scan = stage.head.asInstanceOf[MicroBatchScanExec]
        assert(scan.inputPartitions.size == 3 * n, name)
        val coalesces = stage.collect { case c: CoalesceExec => c.numPartitions }
        assert(coalesces == Seq(n), s"$name source stage: ${stage.map(_.nodeName)}")
      } finally q.stop()
    }
  }

  /** 24 clicks over two minutes of 2026-01-01 in which no user reaches
    * the default threshold of 100. */
  private val fanoutLines: Seq[String] = Seq(
    (0, "East", "Metro", 1, 1), (5, "East", "Metro", 1, 1), (10, "East", "Metro", 2, 1),
    (15, "East", "Port", 3, 2), (20, "East", "Port", 3, 1), (25, "West", "Hills", 4, 3),
    (30, "West", "Hills", 4, 3), (35, "West", "Hills", 5, 3), (40, "West", "Vale", 6, 2),
    (45, "East", "Metro", 2, 2), (50, "East", "Metro", 1, 3), (55, "West", "Vale", 6, 2),
    (60, "East", "Metro", 1, 1), (65, "East", "Port", 3, 2), (70, "West", "Hills", 5, 1),
    (75, "West", "Hills", 4, 3), (80, "East", "Metro", 2, 1), (85, "West", "Vale", 6, 4),
    (90, "East", "Port", 3, 4), (95, "East", "Metro", 1, 2), (100, "West", "Hills", 5, 3),
    (105, "West", "Vale", 6, 2), (110, "East", "Metro", 2, 1), (115, "East", "Port", 3, 2)
  ).map { case (sec, prov, city, user, ad) => line(T0 + 1000L * sec, prov, city, user, ad) }

  test("run(): one chunk and 12 chunks of the same lines publish identical tables, equal to a hand count") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    def publish(store: String, chunks: Seq[Seq[String]]): Map[String, Map[List[String], Long]] = {
      InMemoryStore.clear(store)
      val mem = MemoryStream[String]
      chunks.foreach(c => mem.addData(c))
      val qs = AdClickStream.run(s, mem.toDF(), InMemoryProvider(store),
        Files.createTempDirectory("graft-run").toString)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      val st = new InMemoryStore(store)
      AdClickStream.Tables.filter(_ != "graft_applied_batch")
        .map(t => t -> st.scan(t).toMap).toMap
    }
    val chunks = fanoutLines.grouped(2).toSeq
    assert(chunks.size == 3 * SourceParts)
    val one = publish("fanout-one", Seq(fanoutLines))
    assert(publish("fanout-many", chunks) == one)

    val d = "2026-01-01"
    assert(one("ad_user_click_count") == Map(
      List(d, "1", "1") -> 3L, List(d, "1", "2") -> 1L, List(d, "1", "3") -> 1L,
      List(d, "2", "1") -> 3L, List(d, "2", "2") -> 1L,
      List(d, "3", "1") -> 1L, List(d, "3", "2") -> 3L, List(d, "3", "4") -> 1L,
      List(d, "4", "3") -> 3L,
      List(d, "5", "1") -> 1L, List(d, "5", "3") -> 2L,
      List(d, "6", "2") -> 3L, List(d, "6", "4") -> 1L))
    assert(one("ad_blacklist").isEmpty)
    assert(one("ad_stat") == Map(
      List(d, "East", "Metro", "1") -> 6L, List(d, "East", "Metro", "2") -> 2L,
      List(d, "East", "Metro", "3") -> 1L,
      List(d, "East", "Port", "1") -> 1L, List(d, "East", "Port", "2") -> 3L,
      List(d, "East", "Port", "4") -> 1L,
      List(d, "West", "Hills", "1") -> 1L, List(d, "West", "Hills", "3") -> 5L,
      List(d, "West", "Vale", "2") -> 3L, List(d, "West", "Vale", "4") -> 1L))
    // count desc, then ad asc: ad 3 beats ad 4 in East, ad 1 beats ad 4 in West
    assert(one("ad_province_top3") == Map(
      List(d, "East", "1") -> 7L, List(d, "East", "2") -> 5L, List(d, "East", "3") -> 1L,
      List(d, "West", "3") -> 5L, List(d, "West", "2") -> 3L, List(d, "West", "1") -> 1L))
    assert(one("ad_click_trend") == Map(
      List("202601010000", "1") -> 4L, List("202601010000", "2") -> 4L,
      List("202601010000", "3") -> 4L,
      List("202601010001", "1") -> 4L, List("202601010001", "2") -> 4L,
      List("202601010001", "3") -> 2L, List("202601010001", "4") -> 2L))
  }

  test("statsQuery on Derby: a crash in a 12-chunk first batch, then a restart, applies every count once") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val n = SourceParts
    val dir = Files.createTempDirectory("graft-derby-stats").toString
    val boot = DriverManager.getConnection(s"jdbc:derby:$dir/db;create=true")
    Seq(
      """CREATE TABLE ad_user_click_count (k1 VARCHAR(32), k2 VARCHAR(32),
        | k3 VARCHAR(32), v BIGINT, PRIMARY KEY (k1, k2, k3))""".stripMargin,
      "CREATE TABLE ad_blacklist (k1 VARCHAR(32), v BIGINT, PRIMARY KEY (k1))",
      """CREATE TABLE graft_applied_batch (k1 VARCHAR(32), k2 VARCHAR(32),
        | v BIGINT, PRIMARY KEY (k1, k2))""".stripMargin
    ).foreach(boot.createStatement().executeUpdate)
    boot.close()

    // two clicks per user, in different chunks: a double-applied
    // partition would show 4 and a dropped one 0
    val users = 3 * n
    val mem = MemoryStream[String]
    (0 until users).foreach(c => mem.addData(
      line(T0 + 1000L * c, "East", "Metro", c + 1, 1),
      line(T0 + 1000L * c + 500, "East", "Metro", (c + users / 2) % users + 1, 1)))
    val provider = CrashOnceProvider(s"jdbc:derby:$dir/db", "ad_user_click_count")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    CrashOnceProvider.armed.set(true)
    val first = AdClickStream.statsQuery(mem.toDF(), provider, ckpt)
    try intercept[StreamingQueryException] { first.processAllAvailable() }
    finally first.stop()
    assert(!CrashOnceProvider.armed.get, "the injected crash never fired")

    // restart on the same checkpoint: batch 0 runs again
    val again = AdClickStream.statsQuery(mem.toDF(), provider, ckpt)
    try {
      again.processAllAvailable()
      assert(again.recentProgress.map(_.batchId).headOption.contains(0L))
    } finally again.stop()
    val st = new JdbcStore(DriverManager.getConnection(s"jdbc:derby:$dir/db"))
    try assert(st.scan("ad_user_click_count").toMap ==
      (1 to users).map(u => List("2026-01-01", u.toString, "1") -> 2L).toMap)
    finally st.close()
  }

  test("JdbcStore: upsert semantics on embedded Derby (S9 sink surface)") {
    val dir = Files.createTempDirectory("graft-derby").toString
    val conn = DriverManager.getConnection(s"jdbc:derby:$dir/db;create=true")
    conn.createStatement().executeUpdate(
      """CREATE TABLE ad_stat (k1 VARCHAR(32), k2 VARCHAR(64), v BIGINT,
        | PRIMARY KEY (k1, k2))""".stripMargin)
    conn.createStatement().executeUpdate(
      """CREATE TABLE ad_province_top3 (k1 VARCHAR(32), k2 VARCHAR(64),
        | k3 VARCHAR(32), v BIGINT, PRIMARY KEY (k1, k2, k3))""".stripMargin)
    val st = new JdbcStore(conn)
    st.increment("ad_stat", Seq("d", "p"), 2L) // insert path
    st.increment("ad_stat", Seq("d", "p"), 3L) // update path
    st.put("ad_stat", Seq("d", "q"), 9L)
    st.put("ad_stat", Seq("d", "q"), 4L) // overwrite
    assert(st.scan("ad_stat").toMap ==
      Map(List("d", "p") -> 5L, List("d", "q") -> 4L))
    st.replaceGroup("ad_province_top3", Seq("d", "p"),
      Seq((Seq("d", "p", "1"), 7L)))
    st.replaceGroup("ad_province_top3", Seq("d", "p"),
      Seq((Seq("d", "p", "2"), 8L))) // old group row deleted
    assert(st.scan("ad_province_top3").toMap == Map(List("d", "p", "2") -> 8L))
    st.close()

    // transaction: writes without commit roll back on close (the
    // crash-mid-batch path of the exactly-once guard)
    val conn2 = DriverManager.getConnection(s"jdbc:derby:$dir/db")
    val st2 = new JdbcStore(conn2)
    st2.txBegin()
    st2.increment("ad_stat", Seq("d", "p"), 100L)
    st2.close() // no txCommit → rollback
    val st3 = new JdbcStore(DriverManager.getConnection(s"jdbc:derby:$dir/db"))
    assert(st3.scan("ad_stat").toMap.apply(List("d", "p")) == 5L)
    st3.txBegin()
    st3.increment("ad_stat", Seq("d", "p"), 100L)
    st3.txCommit()
    st3.close()
    val st4 = new JdbcStore(DriverManager.getConnection(s"jdbc:derby:$dir/db"))
    assert(st4.scan("ad_stat").toMap.apply(List("d", "p")) == 105L)

    // point-get and indexed prefix scan (the batch-proportional reads
    // statsBatch relies on; the JDBC override must agree with the
    // trait's scan-and-filter default)
    assert(st4.get("ad_stat", Seq("d", "p")).contains(105L))
    assert(st4.get("ad_stat", Seq("d", "absent")).isEmpty)
    st4.put("ad_stat", Seq("e", "p"), 1L)
    assert(st4.scanPrefix("ad_stat", Seq("d")).toMap ==
      st4.scan("ad_stat").filter(_._1.startsWith(Seq("d"))).toMap)
    assert(st4.scanPrefix("ad_stat", Seq("d")).toMap ==
      Map(List("d", "p") -> 105L, List("d", "q") -> 4L))
    // an empty prefix is the whole table: the derived-table rebuilds
    // of the single-writer streams replace their table this way
    assert(st4.scanPrefix("ad_stat", Nil).toMap == st4.scan("ad_stat").toMap)
    st4.replaceGroup("ad_stat", Nil, Seq((Seq("f", "p"), 3L)))
    assert(st4.scan("ad_stat").toMap == Map(List("f", "p") -> 3L))
    st4.close()
  }
}

package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{Sessionize, SessionStats, SessionFilter}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, user: Long, t: String, typ: String = "click", v: Double = 1.0) =
    (id, Timestamp.valueOf(t), user, typ, v, """{"k": 1}""")

  private lazy val tiny = Seq(
    ev(0, 1, "2024-01-01 00:00:00", "view"),
    ev(1, 1, "2024-01-01 00:10:00", "click"),
    ev(2, 1, "2024-01-01 00:39:00", "purchase", 5.5), // 29min gap: same session
    ev(3, 1, "2024-01-01 01:20:00", "view"), // 41min gap: NEW session
    ev(4, 2, "2024-01-01 00:00:00", "signup")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("assignSessions splits on >30min gap, per user") {
    val s = Sessionize.assignSessions(tiny)
    val byEvent = s.select("event_id", "session_id").as[(Long, String)].collect().toMap
    assert(byEvent(0L) == "1_1" && byEvent(1L) == "1_1" && byEvent(2L) == "1_1")
    assert(byEvent(3L) == "1_2")
    assert(byEvent(4L) == "2_1")
  }

  test("sessionAggregates computes lengths, start, sorted distinct types") {
    val agg = Sessionize(tiny).collect().map(r => r.getAs[String]("session_id") -> r).toMap
    val s11 = agg("1_1")
    assert(s11.getAs[Long]("step_length") == 3L)
    assert(s11.getAs[Long]("visit_length_s") == 39L * 60)
    assert(s11.getAs[String]("start_time") == "2024-01-01 00:00:00")
    assert(s11.getAs[String]("event_types") == "click,purchase,view")
    assert(s11.getAs[Long]("total_value_cents") == 750L) // 1.00+1.00+5.50 in cents
    assert(agg("1_2").getAs[Long]("visit_length_s") == 0L)
  }

  test("SessionStats buckets sum to session_count") {
    val stats = SessionStats(Queries.sessionAggr(spark, sf)).collect()(0)
    val n = stats.getAs[Long]("session_count")
    assert(n > 0)
    val visitSum = Seq("visit_1s_3s", "visit_4s_6s", "visit_7s_9s", "visit_10s_30s",
      "visit_30s_60s", "visit_1m_3m", "visit_3m_10m", "visit_10m_30m", "visit_30m_plus")
      .map(stats.getAs[Long](_)).sum
    // sessions with visit_length_s == 0 fall in no bucket (reference semantics)
    assert(visitSum <= n)
    val stepSum = Seq("step_1_3", "step_4_6", "step_7_9", "step_10_30", "step_30_60", "step_60_plus")
      .map(stats.getAs[Long](_)).sum
    assert(stepSum == n)
  }

  test("SessionFilter with no params passes everything") {
    val sess = Queries.sessionAggr(spark, sf)
    val cust = graft.tables.Tables(spark, sf, "customer")
    val all = SessionFilter(sess, cust, SessionFilter.Params())
    // inner join with dim may drop sessions whose user has no customer row
    assert(all.count() <= sess.count())
    val some = SessionFilter(sess, cust, Queries.filterParams)
    assert(some.count() <= all.count())
  }

  // --- botSessions ------------------------------------------------------

  private lazy val botFixture = Seq(
    // user 1: metronome — 4 events exactly 20 s apart (spread 0)
    ev(10, 1, "2024-01-01 00:00:00"),
    ev(11, 1, "2024-01-01 00:00:20"),
    ev(12, 1, "2024-01-01 00:00:40"),
    ev(13, 1, "2024-01-01 00:01:00"),
    // user 2: fast — gaps 1 s, 25 s, 1 s, 1 s (mean 7 s, spread 24 s)
    ev(20, 2, "2024-01-01 00:00:00"),
    ev(21, 2, "2024-01-01 00:00:01"),
    ev(22, 2, "2024-01-01 00:00:26"),
    ev(23, 2, "2024-01-01 00:00:27"),
    ev(24, 2, "2024-01-01 00:00:28"),
    // user 3: two events, one 1 s gap (spread 0 by construction)
    ev(30, 3, "2024-01-01 00:00:00"),
    ev(31, 3, "2024-01-01 00:00:01"),
    // user 4: single event — no gaps at all
    ev(40, 4, "2024-01-01 00:00:00")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def botMap(minEvents: Long) = Sessionize
    .botSessions(botFixture, minEvents = minEvents,
      fastGapUs = 15000000L, jitterUs = 1000000L)
    .collect().map(r => r.getAs[String]("session_id") -> r).toMap

  test("botSessions: hand-computed gap stats and both verdict paths") {
    val m = botMap(minEvents = 3L)
    val metro = m("1_1")
    assert(metro.getAs[Long]("n_events") == 4L)
    assert(metro.getAs[Long]("min_gap_us") == 20000000L)
    assert(metro.getAs[Long]("max_gap_us") == 20000000L)
    assert(metro.getAs[Long]("avg_gap_us") == 20000000L)
    assert(metro.getAs[Int]("flag_fast") == 0) // mean 20 s ≥ 15 s
    assert(metro.getAs[Int]("flag_metronome") == 1)
    assert(metro.getAs[Int]("is_bot") == 1)
    val fast = m("2_1")
    assert(fast.getAs[Long]("sum_gap_us") == 28000000L)
    assert(fast.getAs[Long]("avg_gap_us") == 7000000L)
    assert(fast.getAs[Int]("flag_fast") == 1)
    assert(fast.getAs[Int]("flag_metronome") == 0) // spread 24 s
    assert(fast.getAs[Int]("is_bot") == 1)
    assert(m("3_1").getAs[Int]("is_bot") == 0) // under the event floor
  }

  test("botSessions: single-event sessions aggregate null gaps and never flag") {
    val solo = botMap(minEvents = 3L)("4_1")
    assert(solo.getAs[Long]("n_events") == 1L)
    assert(solo.isNullAt(solo.fieldIndex("min_gap_us")))
    assert(solo.isNullAt(solo.fieldIndex("avg_gap_us")))
    assert(solo.getAs[Long]("duration_s") == 0L)
    assert(solo.getAs[Int]("flag_fast") == 0 && solo.getAs[Int]("is_bot") == 0)
  }

  test("botSessions: metronome floor is structurally 3 — a one-gap session has spread 0 but is not a metronome") {
    val m = botMap(minEvents = 2L)
    val twoEv = m("3_1")
    assert(twoEv.getAs[Long]("max_gap_us") - twoEv.getAs[Long]("min_gap_us") == 0L)
    assert(twoEv.getAs[Int]("flag_metronome") == 0) // floor, not spread
    assert(twoEv.getAs[Int]("flag_fast") == 1) // 1 s mean under 15 s
  }

  // --- dwellTime --------------------------------------------------------

  test("dwellTime: lead-gap within session; session-final events excluded") {
    val fixture = Seq(
      ev(0, 1, "2024-01-01 00:00:00", "view"),
      ev(1, 1, "2024-01-01 00:00:10", "click"),
      ev(2, 1, "2024-01-01 00:00:30", "purchase"), // last of session 1
      ev(3, 1, "2024-01-01 02:00:00", "view"), // new session
      ev(4, 1, "2024-01-01 02:00:05", "click") // last of session 2
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val m = Sessionize.dwellTime(fixture)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(!m.contains("purchase")) // only ever session-final
    val view = m("view")
    assert(view.getAs[Long]("n_obs") == 2L)
    assert(view.getAs[Long]("total_dwell_us") == 15000000L)
    assert(view.getAs[Long]("min_dwell_us") == 5000000L)
    assert(view.getAs[Long]("max_dwell_us") == 10000000L)
    assert(view.getAs[Long]("avg_dwell_us") == 7500000L)
    assert(m("click").getAs[Long]("total_dwell_us") == 20000000L)
  }

  test("attribution: first/last-touch per session; first-of-session conversions are direct") {
    val evs = Seq(
      // user 1, one session: view → click → purchase
      ev(0, 1, "2024-01-01 00:00:00", "view"),
      ev(1, 1, "2024-01-01 00:05:00", "click"),
      ev(2, 1, "2024-01-01 00:10:00", "purchase"),
      // user 2: purchase opens the session → direct under both models
      ev(3, 2, "2024-01-01 00:00:00", "purchase"),
      // user 2, NEW session (2h later): signup → purchase
      ev(4, 2, "2024-01-01 02:30:00", "signup"),
      ev(5, 2, "2024-01-01 02:35:00", "purchase"),
      // user 3: repeat purchase — the second credits 'purchase' (last)
      // and the session's first event 'view' (first)
      ev(6, 3, "2024-01-01 00:00:00", "view"),
      ev(7, 3, "2024-01-01 00:01:00", "purchase"),
      ev(8, 3, "2024-01-01 00:02:00", "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessionize.attribution(evs).collect()
      .map(r => (r.getAs[String]("model"), r.getAs[String]("channel")) ->
        r.getAs[Long]("conversions")).toMap
    // 5 conversions total per model
    assert(out == Map(
      ("first", "view") -> 3L,   // u1's + both of u3's purchases
      ("first", "signup") -> 1L, // user 2 session 2
      ("first", "direct") -> 1L, // user 2 session 1 (solo purchase)
      ("last", "click") -> 1L,    // u1
      ("last", "signup") -> 1L,   // u2 session 2
      ("last", "view") -> 1L,     // u3's first purchase
      ("last", "purchase") -> 1L, // u3's second purchase
      ("last", "direct") -> 1L))  // user 2 session 1
  }

  test("native session_window agrees with assignSessions on the fixture (boundary semantics documented)") {
    // The engine sessionizes via lag+cumsum (new session iff
    // gap > 1800 s) rather than the built-in session_window — the
    // cumsum gives every downstream op a stable session KEY and a seq
    // the windows can ride. This pins that the native aggregate would
    // produce the SAME session partition on real data, so the choice
    // is about key ergonomics, not divergent semantics.
    val events = graft.tables.Tables(spark, sf, "events")
    val native = events
      .groupBy(col("user_id"),
        session_window(col("ts"), "1800 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .as[(Long, Long)].collect().sorted.toSeq
    val ours = Sessionize.assignSessions(events)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(native == ours)
    // Boundary: an event EXACTLY gap after its predecessor merges
    // under BOTH definitions (ours: strictly-greater splits; native:
    // next start <= window end merges) — the two rules agree even at
    // the edge. Pinned so a Spark behavior change or an engine
    // refactor surfaces here.
    val edge = Seq(
      ev(0, 1, "2024-01-01 00:00:00"),
      ev(1, 1, "2024-01-01 00:30:00") // exactly 1800 s later
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Sessionize.assignSessions(edge)
      .select(countDistinct(col("session_id"))).as[Long].head() == 1L)
    assert(edge.groupBy(col("user_id"),
        session_window(col("ts"), "1800 seconds")).count().count() == 1L)
  }

  test("sessionPaths truncates at maxSteps but converts on the WHOLE session") {
    val evs = Seq(
      // user 1: 6 steps, purchase is the 6th — beyond the 5-step path
      ev(0, 1, "2024-01-01 00:00:00", "view"),
      ev(1, 1, "2024-01-01 00:01:00", "click"),
      ev(2, 1, "2024-01-01 00:02:00", "view"),
      ev(3, 1, "2024-01-01 00:03:00", "click"),
      ev(4, 1, "2024-01-01 00:04:00", "view"),
      ev(5, 1, "2024-01-01 00:05:00", "purchase"),
      // user 2: same 5-step prefix, never converts
      ev(6, 2, "2024-01-01 00:00:00", "view"),
      ev(7, 2, "2024-01-01 00:01:00", "click"),
      ev(8, 2, "2024-01-01 00:02:00", "view"),
      ev(9, 2, "2024-01-01 00:03:00", "click"),
      ev(10, 2, "2024-01-01 00:04:00", "view"),
      // user 3: short journey
      ev(11, 3, "2024-01-01 00:00:00", "signup")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ops.Sessionize.sessionPaths(evs, maxSteps = 5, k = 10)
      .collect().map(r => r.getAs[String]("path") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_converted"),
          r.getAs[Long]("conv_bp")))).toMap
    // users 1 and 2 share the truncated path; only user 1 converted
    assert(out("view>click>view>click>view") == ((2L, 1L, 5000L)))
    assert(out("signup") == ((1L, 0L, 0L)))
    assert(out.size == 2)
  }

  test("positionAttribution: hand journeys cover every path-length regime") {
    val evs = Seq(
      // user 1: view click view click purchase — n=4: first view 4000,
      // last click 4000, middles (click, view) floor(2000/2)=1000 each
      ev(0, 1, "2024-01-01 00:00:00", "view"),
      ev(1, 1, "2024-01-01 00:01:00", "click"),
      ev(2, 1, "2024-01-01 00:02:00", "view"),
      ev(3, 1, "2024-01-01 00:03:00", "click"),
      ev(4, 1, "2024-01-01 00:04:00", "purchase"),
      // user 2: solo purchase -> direct 10000
      ev(5, 2, "2024-01-01 00:00:00", "purchase"),
      // user 3: view purchase -> n=1: view 10000
      ev(6, 3, "2024-01-01 00:00:00", "view"),
      ev(7, 3, "2024-01-01 00:01:00", "purchase"),
      // user 4: view click purchase -> n=2: view 5000, click 5000
      ev(8, 4, "2024-01-01 00:00:00", "view"),
      ev(9, 4, "2024-01-01 00:01:00", "click"),
      ev(10, 4, "2024-01-01 00:02:00", "purchase"),
      // user 5: view purchase purchase -> conv1 n=1: view 10000;
      // conv2 n=2: view 5000 (first), purchase 5000 (last)
      ev(11, 5, "2024-01-01 00:00:00", "view"),
      ev(12, 5, "2024-01-01 00:01:00", "purchase"),
      ev(13, 5, "2024-01-01 00:02:00", "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Sessionize.positionAttribution(evs).collect()
      .map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("credit_bp"), r.getAs[Long]("share_bp")))).toMap
    // view: 4000+1000 (u1) + 10000 (u3) + 5000 (u4) + 10000+5000 (u5)
    assert(out == Map(
      "view" -> ((35000L, 5833L)),
      "click" -> ((10000L, 1666L)), // u1 4000+1000, u4 5000
      "purchase" -> ((5000L, 833L)), // u5 conv2 last touch
      "direct" -> ((10000L, 1666L)))) // u2 solo
  }

  test("positionAttribution matches a per-conversion path walk on generated journeys") {
    // deterministic journeys incl. session gaps, repeat purchases,
    // and long paths (middle splits with floors)
    val types = Seq("view", "click", "cart", "purchase", "signup")
    val evs = (1L to 30L).flatMap { u =>
      val n = 3 + (u % 9).toInt
      (0 until n).map { i =>
        val minutes = i * (5 + (u % 3).toInt * 20) // gaps up to 45min
        val typ = types(((u * 7 + i * 3) % types.size).toInt)
        (u * 100 + i, Timestamp.valueOf("2024-01-01 00:00:00").toLocalDateTime
          .plusMinutes(minutes).toString.replace('T', ' ') + ":00", u, typ)
      }
    }.map { case (id, t, u, typ) => ev(id, u, t.take(19), typ) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // JVM walk: sessionize at 1800s, enumerate conversions, credit paths
    val rows = evs.select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, Timestamp, String)].collect()
    val credits = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    rows.groupBy(_._1).foreach { case (_, es) =>
      val sorted = es.sortBy(e => (e._3.getTime, e._2)).toSeq
      var sessions = Seq(Seq(sorted.head))
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          if (b._3.getTime - a._3.getTime > 1800000L)
            sessions :+= Seq(b)
          else sessions = sessions.init :+ (sessions.last :+ b)
        case _ =>
      }
      sessions.foreach { sess =>
        sess.zipWithIndex.filter(_._1._4 == "purchase").foreach {
          case (_, idx) =>
            val path = sess.take(idx).map(_._4)
            path.size match {
              case 0 => credits("direct") += 10000L
              case 1 => credits(path.head) += 10000L
              case 2 => credits(path.head) += 5000L
                credits(path.last) += 5000L
              case n =>
                credits(path.head) += 4000L
                credits(path.last) += 4000L
                val mid = math.floor(2000.0 / (n - 2)).toLong
                path.slice(1, n - 1).foreach(c => credits(c) += mid)
            }
        }
      }
    }
    val got = Sessionize.positionAttribution(evs).collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Long]("credit_bp"))
      .toMap
    assert(got == credits.toMap.filter(_._2 > 0L))
  }

  test("attribution share_bp sums to ~10000 within each model on the fixture") {
    val rows = Queries.attribution(spark, sf).collect()
    Seq("first", "last").foreach { m =>
      val s = rows.filter(_.getAs[String]("model") == m)
      val tot = s.map(_.getAs[Long]("conversions")).sum
      val bp = s.map(_.getAs[Long]("share_bp")).sum
      assert(tot > 0, s"model $m empty")
      assert(bp <= 10000L && bp > 10000L - s.length, s"model $m: $bp")
    }
  }

  // --- session-grain keys ------------------------------------------------

  /** User 1 has two sessions; two null-user events lie 60 min apart. A
    * null user_id makes a null session_id, so grouping on (session_id,
    * user_id) folds every null-user event into ONE null session. */
  private lazy val nullUserFixture = Seq[(Long, Timestamp, Option[Long], String, Double, String)](
    (0L, Timestamp.valueOf("2024-01-01 00:00:00"), Some(1L), "view", 1.0, "{}"),
    (1L, Timestamp.valueOf("2024-01-01 00:10:00"), Some(1L), "click", 1.0, "{}"),
    (2L, Timestamp.valueOf("2024-01-01 01:00:00"), Some(1L), "purchase", 1.0, "{}"),
    (3L, Timestamp.valueOf("2024-01-01 00:00:00"), None, "view", 1.0, "{}"),
    (4L, Timestamp.valueOf("2024-01-01 01:00:00"), None, "click", 1.0, "{}"),
    (5L, Timestamp.valueOf("2024-01-01 00:05:00"), Some(2L), "signup", 1.0, "{}")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** (session_id, user_id) → events, grouping the sessionized events on
    * the string key. */
  private lazy val stringKeyedSessions: Map[(String, Option[Long]), Long] =
    Sessionize.assignSessions(nullUserFixture)
      .groupBy(col("session_id"), col("user_id")).count()
      .as[(Option[String], Option[Long], Long)].collect()
      .map { case (s, u, n) => (s.orNull, u) -> n }.toMap

  private def keyed(df: org.apache.spark.sql.DataFrame, n: String) =
    df.select(col("session_id"), col("user_id"), col(n))
      .as[(Option[String], Option[Long], Long)].collect()
      .map { case (s, u, c) => (s.orNull, u) -> c }.toMap

  test("sessionAggregates: the groups of (session_id, user_id), null users folded into one session") {
    assert(stringKeyedSessions == Map(
      ("1_1", Some(1L)) -> 2L, ("1_2", Some(1L)) -> 1L,
      ((null, None)) -> 2L, ("2_1", Some(2L)) -> 1L))
    val out = Sessionize(nullUserFixture)
    assert(out.columns.toSeq == Seq("session_id", "user_id", "step_length",
      "visit_length_s", "start_time", "event_types", "total_value_cents"))
    assert(keyed(out, "step_length") == stringKeyedSessions)
    val nullSession = out.filter(col("user_id").isNull).collect().toSeq
    assert(nullSession.map(r => (r.getAs[Long]("visit_length_s"),
      r.getAs[String]("start_time"), r.getAs[String]("event_types"),
      r.getAs[Long]("total_value_cents"))) ==
      Seq((3600L, "2024-01-01 00:00:00", "click,view", 200L)))
  }

  test("botSessions: the groups of (session_id, user_id), null users folded into one session") {
    val out = Sessionize.botSessions(nullUserFixture)
    assert(out.columns.toSeq == Seq("session_id", "user_id", "n_events",
      "duration_s", "min_gap_us", "max_gap_us", "sum_gap_us", "avg_gap_us",
      "flag_fast", "flag_metronome", "is_bot"))
    assert(keyed(out, "n_events") == stringKeyedSessions)
    val solo = out.filter(col("user_id").isNull).collect().head
    // each null-user event opens its own gap window, so no gap is seen
    assert(solo.getAs[Long]("duration_s") == 3600L)
    assert(solo.isNullAt(solo.fieldIndex("min_gap_us")))
    assert(out.filter(col("session_id") === "1_1").select("sum_gap_us").as[Long].head() == 600000000L)
  }

  test("sessionPaths: the null-user events make one two-step session") {
    val out = Sessionize.sessionPaths(nullUserFixture, maxSteps = 5, k = 10)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("view>click", 2L, 0L, 0L), // 1_1 and the null session
      ("purchase", 1L, 1L, 10000L),
      ("signup", 1L, 0L, 0L)))
  }

  test("entryExit: the null-user events make one session entering at view, exiting at click") {
    val out = Sessionize.entryExit(nullUserFixture)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("view", 2L, 0L, 0L, 0L),
      ("click", 0L, 2L, 0L, 0L),
      ("purchase", 1L, 1L, 1L, 10000L),
      ("signup", 1L, 1L, 1L, 10000L)))
  }
}

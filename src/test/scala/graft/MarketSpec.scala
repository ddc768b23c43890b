package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.Market

/** Session-basket mining: co-visitation pairs and the event-type
  * transition matrix. */
class MarketSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, user: Long, t: String, typ: String, k: Int) =
    (id, Timestamp.valueOf(t), user, typ, 1.0, s"""{"k": $k}""")

  private def toEvents(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("coVisitation counts shared-session pairs with both confidences") {
    // user 1, one session: items {1, 2, 3}; user 2, one session: {1, 2};
    // user 2's second session (3h later): {2} — no pair contribution.
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 2),
      ev(2, 1, "2024-01-01 00:02:00", "click", 3),
      ev(3, 1, "2024-01-01 00:03:00", "click", 2), // dup item, same session
      ev(4, 2, "2024-01-01 00:00:00", "click", 2),
      ev(5, 2, "2024-01-01 00:01:00", "click", 1),
      ev(6, 2, "2024-01-01 03:30:00", "click", 2)))
    val got = Market.coVisitation(df, 10)
      .select("item_a", "item_b", "pair_sessions", "sessions_a",
        "sessions_b", "conf_ab_bp", "conf_ba_bp")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // sessions: item1 in 2, item2 in 3, item3 in 1
    // pairs: (1,2) in 2 sessions; (1,3) and (2,3) in 1
    assert(got.head == ((1L, 2L, 2L, 2L, 3L, 10000L, 6666L)))
    assert(got.toSet == Set(
      (1L, 2L, 2L, 2L, 3L, 10000L, 6666L),
      (1L, 3L, 1L, 2L, 1L, 5000L, 10000L),
      (2L, 3L, 1L, 3L, 1L, 3333L, 10000L)))
  }

  test("coVisitation cap bounds the per-session pair comb deterministically") {
    // one session with items 0..9; cap=3 keeps {0,1,2} → C(3,2)=3 pairs
    val df = toEvents((0 until 10).map(i =>
      ev(i.toLong, 1L, f"2024-01-01 00:0$i%01d:00", "click", 9 - i)))
    val got = Market.coVisitation(df, 100, maxItems = 3)
      .select("item_a", "item_b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("coVisitation ranks by pair count then (item_a, item_b) and honors k") {
    // 3 single-session users make pair (5,6) count 3; ties at 1 below it
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 5),
      ev(1, 1, "2024-01-01 00:01:00", "click", 6),
      ev(2, 2, "2024-01-01 00:00:00", "click", 5),
      ev(3, 2, "2024-01-01 00:01:00", "click", 6),
      ev(4, 3, "2024-01-01 00:00:00", "click", 5),
      ev(5, 3, "2024-01-01 00:01:00", "click", 6),
      ev(6, 4, "2024-01-01 00:00:00", "click", 1),
      ev(7, 4, "2024-01-01 00:01:00", "click", 2),
      ev(8, 4, "2024-01-01 00:02:00", "click", 3)))
    val got = Market.coVisitation(df, 2)
      .select("item_a", "item_b", "pair_sessions")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((5L, 6L, 3L), (1L, 2L, 1L)))
  }

  test("coVisitation ignores null items and is repartition-invariant") {
    val base = Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 2))
    val noK = (9L, Timestamp.valueOf("2024-01-01 00:02:00"), 1L, "click", 1.0, "{}")
    val df = toEvents(base :+ noK)
    val a = Market.coVisitation(df, 10).collect().toSeq
    val b = Market.coVisitation(toEvents(base :+ noK).repartition(7), 10)
      .collect().toSeq
    assert(a == b)
    assert(a.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
  }

  test("transitions counts within-session steps with bp probabilities") {
    // user 1 session: view -> click -> click -> purchase
    // user 2 session: view -> click; session break resets the chain
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "view", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 1),
      ev(2, 1, "2024-01-01 00:02:00", "click", 1),
      ev(3, 1, "2024-01-01 00:03:00", "purchase", 1),
      ev(4, 2, "2024-01-01 00:00:00", "view", 1),
      ev(5, 2, "2024-01-01 00:01:00", "click", 1),
      ev(6, 2, "2024-01-01 03:00:00", "purchase", 1))) // new session, no prev
    val got = Market.transitions(df)
      .select("prev_type", "next_type", "transitions", "prob_bp")
      .as[(String, String, Long, Long)].collect().toSet
    // prev 'view' → 2/2 steps to click; prev 'click' → 1 of 2 each
    assert(got == Set(
      ("view", "click", 2L, 10000L),
      ("click", "click", 1L, 5000L),
      ("click", "purchase", 1L, 5000L)))
  }

  test("nextItemPairs builds ordered bounded contexts; repeats kept; sessions isolate") {
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 7),
      ev(1, 1, "2024-01-01 00:01:00", "click", 8),
      ev(2, 1, "2024-01-01 00:02:00", "click", 7), // repeat
      ev(3, 1, "2024-01-01 00:03:00", "click", 9),
      ev(4, 1, "2024-01-01 00:04:00", "click", 5), // context clips to 3
      ev(5, 1, "2024-01-01 05:00:00", "click", 1), // new session, no pair
      ev(6, 1, "2024-01-01 05:01:00", "click", 2)))
    val got = Market.nextItemPairs(df, contextLen = 3)
      .select("event_id", "context", "label")
      .as[(Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, Seq(7L), 8L),
      (2L, Seq(7L, 8L), 7L),
      (3L, Seq(7L, 8L, 7L), 9L),
      (4L, Seq(8L, 7L, 9L), 5L),
      (6L, Seq(1L), 2L)))
  }

  test("nextItemPairs: non-item events neither emit nor break context") {
    val noK = (9L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 1L,
      "error", 1.0, "{}")
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 3),
      ev(1, 1, "2024-01-01 00:01:00", "click", 4)) :+ noK)
    val got = Market.nextItemPairs(df, 3)
      .select("event_id", "context", "label")
      .as[(Long, Seq[Long], Long)].collect().toSeq
    assert(got == Seq((1L, Seq(3L), 4L)))
  }

  test("transitionEntropy: floor-log2 surprisal mass on a hand matrix") {
    // one session v c v c v c v p: from 'view' n=4 (3 click, 1
    // purchase) → bits 3·⌊log2 4/3⌋ + 1·⌊log2 4/1⌋ = 2; from 'click'
    // n=3 all view → 0
    val df = toEvents((0 to 7).map { i =>
      val typ = if (i == 7) "purchase" else if (i % 2 == 0) "view" else "click"
      ev(i.toLong, 1, f"2024-01-01 00:0$i:00", typ, 1)
    })
    val got = Market.transitionEntropy(df)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 3L, 0L, 0L),
      ("view", 4L, 2L, 500L)))
  }

  test("pathTrigrams: contiguous 3-windows with shares; sessions isolate") {
    // v c v c v c v p -> windows vcv×3, cvc×2, cvp×1 (6 total)
    val df = toEvents((0 to 7).map { i =>
      val typ = if (i == 7) "purchase" else if (i % 2 == 0) "view" else "click"
      ev(i.toLong, 1, f"2024-01-01 00:0$i:00", typ, 1)
    })
    val got = Market.pathTrigrams(df)
      .as[(String, String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("view", "click", "view", 3L, 5000L),
      ("click", "view", "click", 2L, 3333L),
      ("click", "view", "purchase", 1L, 1666L)))
    // a session break kills the straddling windows
    val split = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "view", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 1),
      ev(2, 1, "2024-01-01 05:00:00", "view", 1),
      ev(3, 1, "2024-01-01 05:01:00", "click", 1)))
    assert(Market.pathTrigrams(split).count() == 0L)
  }

  test("transitions never crosses a session boundary") {
    // two sessions of the same user: last event of s1 is 'click',
    // first of s2 is 'view' — no click->view edge may appear
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 05:00:00", "view", 1),
      ev(2, 1, "2024-01-01 05:01:00", "click", 1)))
    val got = Market.transitions(df)
      .select("prev_type", "next_type").as[(String, String)].collect().toSet
    assert(got == Set(("view", "click")))
  }

  test("replenishmentCycle: same-day dedup, per-item pooled gaps, support floor") {
    // item 5: user 1 gaps {3,6,1} (a same-day repeat collapses),
    // user 2 gap {1} → pooled sorted [1,1,3,6] → median ⌊(1+3)/2⌋ = 2
    // item 7: one gap only → dropped by minIntervals
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "purchase", 5),
      ev(1, 1, "2024-01-01 09:00:00", "purchase", 5), // same day: dedup
      ev(2, 1, "2024-01-04 00:00:00", "purchase", 5),
      ev(3, 1, "2024-01-10 00:00:00", "purchase", 5),
      ev(4, 1, "2024-01-11 00:00:00", "purchase", 5),
      ev(5, 2, "2024-01-01 00:00:00", "purchase", 5),
      ev(6, 2, "2024-01-02 00:00:00", "purchase", 5),
      ev(7, 3, "2024-01-01 00:00:00", "purchase", 7),
      ev(8, 3, "2024-01-09 00:00:00", "purchase", 7),
      ev(9, 1, "2024-01-05 00:00:00", "view", 5)))   // non-purchase ignored
    val got = Market.replenishmentCycle(df, minIntervals = 3L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((5L, 4L, 2L)))
  }

  test("recsysCoverage: item and event coverage against a pair frame") {
    val pairs = Seq((1L, 2L, 3L), (2L, 3L, 1L))
      .toDF("item_a", "item_b", "pair_sessions")
    // support 2 keeps only {1,2}; items observed {1,2,3,4}; 5 events
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 1),
      ev(2, 1, "2024-01-01 00:02:00", "click", 2),
      ev(3, 2, "2024-01-01 00:00:00", "click", 3),
      ev(4, 2, "2024-01-01 00:01:00", "click", 4)))
    val r = Market.recsysCoverage(df, pairs, minSupport = 2L).collect().head
    assert(r.getAs[Long]("n_items_observed") == 4L)
    assert(r.getAs[Long]("n_items_covered") == 2L)
    assert(r.getAs[Long]("item_coverage_bp") == 5000L)
    assert(r.getAs[Long]("n_events") == 5L)
    assert(r.getAs[Long]("n_events_covered") == 3L)
    assert(r.getAs[Long]("event_coverage_bp") == 6000L)
  }

  test("absorptionProbability: hand-unrolled 5-step recursion on a 2-state chain") {
    // view→click always; click→{purchase, view} 50/50:
    // α1=(0,5000) α2=(5000,5000) α3=(5000,7500) α4=(7500,7500)
    // α5=(7500,8750) for (view, click)
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "view", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 1),
      ev(2, 1, "2024-01-01 00:02:00", "purchase", 1),
      ev(3, 2, "2024-01-01 00:00:00", "view", 1),
      ev(4, 2, "2024-01-01 00:01:00", "click", 1),
      ev(5, 2, "2024-01-01 00:02:00", "view", 1)))
    val got = Market.absorptionProbability(df, "purchase", steps = 5)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("click", 8750L), ("view", 7500L)))
    // one step = the direct edge only
    val one = Market.absorptionProbability(df, "purchase", steps = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("click" -> 5000L, "view" -> 0L))
  }

  test("audienceOverlap: exact user-set jaccard over the top items only") {
    // item 1: {u1,u2,u3}; item 2: {u2,u3}; item 3: {u9} — topK 2 drops it
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 2, "2024-01-01 00:00:00", "click", 1),
      ev(2, 3, "2024-01-01 00:00:00", "click", 1),
      ev(3, 2, "2024-01-01 00:01:00", "click", 2),
      ev(4, 3, "2024-01-01 00:01:00", "click", 2),
      ev(5, 9, "2024-01-01 00:00:00", "click", 3)))
    val got = Market.audienceOverlap(df, topK = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 2L, 2L, 6666L))) // ⌊10000·2/3⌋
  }

  test("tripleItemsets: user-lifetime baskets, support floor, cap") {
    // user 1: {1,2,3}; user 2: {1,2,3,4} (across two far-apart events —
    // lifetime grain ignores session gaps); user 3: {1,2,9}
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "click", 2),
      ev(2, 1, "2024-01-01 00:02:00", "click", 3),
      ev(3, 2, "2024-01-01 00:00:00", "click", 1),
      ev(4, 2, "2024-01-05 00:00:00", "click", 2), // days later: same basket
      ev(5, 2, "2024-01-05 00:01:00", "click", 3),
      ev(6, 2, "2024-01-05 00:02:00", "click", 4),
      ev(7, 3, "2024-01-01 00:00:00", "click", 1),
      ev(8, 3, "2024-01-01 00:01:00", "click", 2),
      ev(9, 3, "2024-01-01 00:02:00", "click", 9)))
    val got = Market.tripleItemsets(df, k = 20, minSupport = 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 2L))) // only {1,2,3} clears support 2
    // cap = 2 → no user basket can form a triple
    assert(Market.tripleItemsets(df, k = 20, minSupport = 1L, maxItems = 2)
      .count() == 0L)
    // support 1 sees every triple of user 2's 4-item basket
    val all = Market.tripleItemsets(df, k = 100, minSupport = 1L)
      .as[(Long, Long, Long, Long)].collect()
    assert(all.length == 5) // {123},{124},{134},{234},{129}
    assert(all.head == ((1L, 2L, 3L, 2L))) // support-desc head
  }

  test("shapleyAttribution hand game: symmetric channels, direct outside, efficiency") {
    // C=2 game (click bit0, view bit1); 4 converting sessions:
    //   u1 click->purchase   (mask {c})
    //   u2 view->purchase    (mask {v})
    //   u3 click,view->purchase (mask {c,v})
    //   u4 purchase alone    (direct)
    // plus noise the game must ignore: u5 never converts; u6's touch
    // comes AFTER the purchase (backward-looking rule → direct)
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "purchase", 1),
      ev(2, 2, "2024-01-01 00:00:00", "view", 1),
      ev(3, 2, "2024-01-01 00:01:00", "purchase", 1),
      ev(4, 3, "2024-01-01 00:00:00", "click", 1),
      ev(5, 3, "2024-01-01 00:01:00", "view", 1),
      ev(6, 3, "2024-01-01 00:02:00", "purchase", 1),
      ev(7, 4, "2024-01-01 00:00:00", "purchase", 1),
      ev(8, 5, "2024-01-01 00:00:00", "click", 1),
      ev(9, 6, "2024-01-01 00:00:00", "purchase", 1),
      ev(10, 6, "2024-01-01 00:01:00", "view", 1)))
    val got = Market.shapleyAttribution(df, Seq("click", "view"))
      .select("channel", "touched_convs", "phi_scaled", "credit_bp")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    // v(∅)=0 v({c})=1 v({v})=1 v({c,v})=3; φ_c·2! = 1·1 + 1·2 = 3 each;
    // direct = 2 convs (u4, u6) ×2! = 4; Σφ = 10 = 2!·5 convs ✓
    assert(got == Seq(
      ("direct", 2L, 4L, Some(4000L)),
      ("click", 2L, 3L, Some(3000L)),
      ("view", 2L, 3L, Some(3000L))))
  }

  test("stationaryMix: a sink type absorbs all long-run mass; ppm closes to 1e6") {
    // one session: click → view → view → view. Matrix: click→view
    // (rs 1), view→view (rs 2, prob 1). The chain drains into view;
    // empirical targets are also all-view → delta 0 everywhere.
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "view", 1),
      ev(2, 1, "2024-01-01 00:02:00", "view", 1),
      ev(3, 1, "2024-01-01 00:03:00", "view", 1)))
    val got = Market.stationaryMix(df, iters = 5)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 0L, 0L, 0L),
      ("view", 1000000L, 1000000L, 0L)))
  }

  test("stationaryMix: a symmetric 2-cycle stays uniform; shares close each round") {
    // click ↔ view alternating: P is the swap matrix, uniform is
    // stationary; floors + the first-type deficit keep Σ = 1e6
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 1, "2024-01-01 00:01:00", "view", 1),
      ev(2, 1, "2024-01-01 00:02:00", "click", 1),
      ev(3, 1, "2024-01-01 00:03:00", "view", 1),
      ev(4, 1, "2024-01-01 00:04:00", "click", 1)))
    val got = Market.stationaryMix(df, iters = 4)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got.map(_._2).sum == 1000000L)
    assert(got == Seq(
      ("click", 500000L, 500000L, 0L),
      ("view", 500000L, 500000L, 0L)))
  }

  test("abcMigration: prior-cum classes per half, absent rows for exits") {
    val s2 = spark
    import s2.implicits._
    // days 0 and 10 → mid 5. Half 0: 8000/1500/500c → A/B/C.
    // Half 1: p1 gone (absent), p2 9000c → A, p3 500c → prior
    // 9000bp < 9500 → B
    val li = Seq(
      (1L, "1970-01-01", 80.0), (2L, "1970-01-01", 15.0),
      (3L, "1970-01-01", 5.0),
      (2L, "1970-01-11", 90.0), (3L, "1970-01-11", 5.0))
      .toDF("l_partkey", "l_shipdate", "l_extendedprice")
    val got = Market.abcMigration(li)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", "absent", 1L, 0L),
      ("B", "A", 1L, 9000L),
      ("C", "B", 1L, 500L)))
  }

  test("shapleyAttribution with ZERO conversions still lists every channel") {
    // regression: touched was a crossJoin against the (empty) mask
    // frame, so the inner phi⋈touched dropped every channel and only
    // 'direct' survived — the oracle's LEFT JOIN ON TRUE keeps them
    val df = toEvents(Seq(
      ev(0, 1, "2024-01-01 00:00:00", "click", 1),
      ev(1, 2, "2024-01-01 00:00:00", "view", 1)))
    val got = Market.shapleyAttribution(df, Seq("click", "view"))
      .select("channel", "touched_convs", "phi_scaled", "credit_bp")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
      .sortBy(_._1)
    assert(got == Seq(
      ("click", 0L, 0L, None),
      ("direct", 0L, 0L, None),
      ("view", 0L, 0L, None)))
  }

  test("shapleyAttribution efficiency identity and full-channel run on sf0.001") {
    val events = graft.tables.Tables(spark, sf, "events")
    val chs = Seq("click", "error", "signup", "view")
    val rows = Market.shapleyAttribution(events, chs)
      .select("channel", "phi_scaled", "credit_bp")
      .as[(String, Long, Option[Long])].collect().toSeq
    assert(rows.map(_._1).toSet == (chs :+ "direct").toSet)
    val fact4 = 24L
    val total = rows.map(_._2).sum
    assert(total > 0L && total % fact4 == 0L,
      s"Σφ must be C!·conversions, got $total")
    // credit shares: floored bp sum within rows of 10000
    val credits = rows.flatMap(_._3)
    assert(credits.sum <= 10000L && credits.sum > 10000L - rows.size)
  }

  test("q179/q318/q323 fill their persisted grain frame before the scalar's broadcast is built") {
    // the broadcast build must read cached blocks, not run the first
    // fact pass in the broadcast thread under broadcastTimeout: every
    // cache the built (not yet executed) frame reads is already full
    val li = (1 to 40).map { i =>
      (i.toLong, (i % 5).toLong, (i % 3).toLong, (i % 7 + 1).toDouble,
        100.0 + i, 0.05, Timestamp.valueOf(f"1996-${i % 12 + 1}%02d-${i % 27 + 1}%02d 00:00:00"))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate")
    val sup = Seq((0L, "s0"), (1L, "s1"), (2L, "s2")).toDF("s_suppkey", "s_name")
    Seq(
      "q179" -> graft.ops.AreaTopProducts.topSupplier(li, sup, "1996-01-01", "1997-01-01"),
      "q318" -> Market.crostonDemand(li, minDemands = 1),
      "q323" -> Market.newsvendorStock(li)).foreach { case (q, df) =>
      val caches = df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(caches.nonEmpty, s"$q reads no cache")
      caches.foreach { r =>
        assert(r.cacheBuilder.isCachedColumnBuffersLoaded,
          s"$q: the grain cache is first filled when the query runs")
      }
    }
  }
}

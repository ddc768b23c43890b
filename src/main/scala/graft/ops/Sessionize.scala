package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Session assignment + session-grain aggregation.
  *
  * Reference semantics: UserVisitSessionAnalyzeSpark.java:340-455 (A1 in
  * SURVEY.md §2.4) groups a clickstream by a session key and computes
  * per-session visit length (max-min action time, seconds), step length
  * (action count) and distinct-concat of categorical columns. The
  * reference's sessions are pre-assigned in the data; over the driver's
  * `events` table we additionally *derive* the session key with the
  * standard 30-minute-inactivity-gap rule, entirely with window
  * functions (no RDD groupByKey — stays in Catalyst, shuffles once on
  * user_id and reuses that partitioning for both the lag and the
  * running sum).
  *
  * Scale notes: the only shuffle is the window partitioning by
  * user_id. At 100 TB the user_id key space is huge (no skew beyond a
  * bot user); sessionization is embarrassingly parallel per user.
  *
  * Session-grain aggregates key on two numbers, (user_id,
  * [[sessionKey]]), not on the per-event `session_id` string: no
  * string concat per event and no string hashing. `session_id` is
  * built once per session, and only where the output carries it.
  */
object Sessionize {

  /** The session half of a session-grain grouping key: `session_seq`,
    * null where `user_id` is null. Grouping on (user_id, sessionKey)
    * gives the groups of (session_id, user_id): a null user's
    * `session_id` is null whatever its seq, so all null-user events
    * fold into one null session, as the oracles' `GROUP BY
    * session_id, user_id` also does. */
  private val sessionKey =
    when(col("user_id").isNotNull, col("session_seq")).as("session_seq")

  /** `user_id + "_" + session_seq`, null when either is null. */
  private def sessionId =
    concat(col("user_id").cast("string"), lit("_"), col("session_seq").cast("string"))

  /** A (user_id, sessionKey) aggregate with its key columns replaced
    * by the leading (session_id, user_id) pair. */
  private def withSessionId(bySession: DataFrame): DataFrame =
    bySession.select(sessionId.as("session_id"), col("*")).drop("session_seq")

  /** Assign gap-based session ids: a new session starts when the time
    * since the user's previous event exceeds `gapSeconds`.
    * Output = input columns + session_id (user_id_seq), ts_us.
    */
  def assignSessions(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "is_new",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(run))
      .withColumn("session_id", sessionId)
      .drop("prev_us", "is_new")
  }

  /** A1: session-grain aggregate. One hash-aggregate over the
    * already-user-partitioned sessionized frame (partial agg map-side).
    *
    * Columns: session_id, user_id, step_length, visit_length_s,
    * start_time (string, reference's yyyy-MM-dd HH:mm:ss format),
    * event_types (sorted distinct concat — the reference's
    * substring-dedup concat is a documented bug we don't replicate,
    * SURVEY.md §7.3), total_value_cents (house money convention:
    * per-event floor(value*100) cents summed as BIGINT — IEEE
    * multiply+floor is bit-identical across engines, unlike
    * double→decimal rounding).
    */
  def sessionAggregates(sessionized: DataFrame): DataFrame =
    withSessionId(sessionized
      .groupBy(col("user_id"), sessionKey)
      .agg(
        count(lit(1)).as("step_length"),
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("visit_length_s"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_time"),
        concat_ws(",", array_sort(collect_set(col("event_type")))).as("event_types"),
        sum(floor(col("value") * lit(100.0))).as("total_value_cents")))

  /** Convenience: events -> session aggregates. */
  def apply(events: DataFrame, gapSeconds: Long = 1800L): DataFrame =
    sessionAggregates(assignSessions(events, gapSeconds))

  /** Bot / automation detection at session grain — the standard
    * pre-analytics hygiene pass (and the guard [[Market.coVisitation]]'s
    * pair cap exists for): sessions that are too fast or too REGULAR to
    * be human. Two integer verdicts over the within-session inter-event
    * gaps:
    *
    *  - `flag_fast`: ≥ `minEvents` events with mean gap below
    *    `fastGapUs` (sustained super-human rate; a one-off double-click
    *    doesn't trip it because the MEAN must stay low);
    *  - `flag_metronome`: ≥ `minEvents` events whose gap spread
    *    (max − min) fits inside `jitterUs` — scripted schedulers fire
    *    on robotic cadence; humans never do. Spread over variance
    *    deliberately: exact BIGINT arithmetic (house no-libm rule) and
    *    one fewer aggregate, with the same verdict on a metronome.
    *
    * Scale shape: the gap lag rides the SAME user_id window partition
    * as session assignment (zero extra shuffle, q91's pattern), then
    * ONE session-grain hash aggregate — partial map-side, key domain =
    * sessions. Single-event sessions aggregate null gaps and flag 0
    * via the `n_events` floor. All columns BIGINT; `div` truncation ≡
    * DuckDB `//` on the non-negative gap domain.
    */
  def botSessions(events: DataFrame, gapSeconds: Long = 1800L,
      minEvents: Long = 5L, fastGapUs: Long = 2000000L,
      jitterUs: Long = 1000000L): DataFrame = {
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    withSessionId(assignSessions(events, gapSeconds)
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(bySession))
      .groupBy(col("user_id"), sessionKey)
      .agg(
        count(lit(1)).as("n_events"),
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("duration_s"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us")))
      .withColumn("avg_gap_us",
        expr("CASE WHEN n_events > 1 THEN sum_gap_us div (n_events - 1) END"))
      .withColumn("flag_fast",
        (col("n_events") >= minEvents && col("avg_gap_us") < fastGapUs)
          .cast("int"))
      // metronome needs ≥ 2 gaps to measure spread — a 2-event session
      // has one gap and spread 0 by construction, so the floor is
      // structurally ≥ 3 regardless of how low `minEvents` is set.
      .withColumn("flag_metronome",
        (col("n_events") >= math.max(minEvents, 3L) &&
          col("max_gap_us") - col("min_gap_us") <= jitterUs).cast("int"))
      .withColumn("is_bot",
        (col("flag_fast") === 1 || col("flag_metronome") === 1).cast("int"))
  }

  /** Per-event-type dwell time — "how long do users sit on X before
    * doing anything else": dwell of an event = gap to the session's
    * NEXT event (the last event of a session has no observable dwell
    * and is excluded — standard time-on-page semantics; session
    * timeout would otherwise dominate every mean). Complements
    * [[Market.transitions]]: that reports WHERE journeys go, this
    * reports HOW LONG each step holds.
    *
    * Scale shape: the lead rides the sessionize user_id partition
    * (zero extra shuffle), then one bounded-domain event_type
    * aggregate — the whole report is metadata-sized. Integer µs
    * throughout; avg via BIGINT `div`.
    */
  def dwellTime(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    assignSessions(events, gapSeconds)
      .withColumn("dwell_us", lead(col("ts_us"), 1).over(bySession) - col("ts_us"))
      .filter(col("dwell_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("dwell_us")).as("total_dwell_us"),
        min(col("dwell_us")).as("min_dwell_us"),
        max(col("dwell_us")).as("max_dwell_us"))
      .withColumn("avg_dwell_us", expr("total_dwell_us div n_obs"))
  }

  /** Top session paths — the "what journeys actually happen" table
    * (the Sankey/flow report every product-analytics tool leads
    * with): sessions grouped by their first `maxSteps` event types
    * joined as a path string, with session counts and the share that
    * converts. Truncation is the standard move: full paths are
    * near-unique (the count table would be the session table), the
    * first-K prefix is where journeys still aggregate.
    *
    * Scale shape: one fact shuffle (the session-grain collect rides
    * the sessionize user_id partition); per-session state is the
    * ≤maxSteps-truncated type array (`slice` after an in-group sort
    * of a session-bounded list); the path aggregate collapses to
    * path-domain grain and the top-k is TakeOrderedAndProject. */
  def sessionPaths(events: DataFrame, gapSeconds: Long = 1800L,
      maxSteps: Int = 5, k: Int = 20,
      convType: String = "purchase"): DataFrame = {
    assignSessions(events, gapSeconds)
      .groupBy(col("user_id"), sessionKey)
      .agg(
        // struct sort by (ts_us, event_id) = deterministic event order
        expr(s"""concat_ws('>', slice(transform(
                |  array_sort(collect_list(struct(ts_us, event_id, event_type))),
                |  s -> s.event_type), 1, $maxSteps))""".stripMargin)
          .as("path"),
        max(when(col("event_type") === convType, 1L).otherwise(0L))
          .as("converted"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"))
      .withColumn("conv_bp",
        floor(lit(10000.0) * col("n_converted") / col("n_sessions"))
          .cast("long"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  /** Entry/exit/bounce report by event type — the landing-page
    * analytics beside [[sessionPaths]]: where do sessions START, where
    * do they END, and which entry types fail to produce a second
    * event (bounce = a single-event session, the classic
    * bounce-rate definition at type grain). A high-bounce entry type
    * is the funnel's leak BEFORE any funnel step fires.
    *
    * Per event_type: `n_entries` (sessions whose first event has the
    * type), `n_exits` (last event), `n_bounces` (single-event
    * sessions entering there), `bounce_bp` = ⌊10000·bounces/entries⌋.
    * First/last are deterministic min/max over (ts_us, event_id)
    * struct order — the unique event key, never partition order.
    *
    * Scale shape: ONE fact shuffle (the sessionize window); the
    * session-grain aggregate keeps user_id in its key so it rides the
    * window's hash(user_id) partitioning; the entry/exit rollups and
    * their full-outer merge run at event-type grain — metadata-sized
    * at any volume. */
  def entryExit(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val sessions = assignSessions(events, gapSeconds)
      .groupBy(col("user_id"), sessionKey)
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("ts_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"),
        count(lit(1)).as("n_events"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entries = sessions.groupBy(col("entry_type").as("event_type"))
      .agg(count(lit(1)).as("n_entries"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounces"))
    val exits = sessions.groupBy(col("exit_type").as("event_type"))
      .agg(count(lit(1)).as("n_exits"))
    entries.join(exits, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_entries"), lit(0L)).as("n_entries"),
        coalesce(col("n_exits"), lit(0L)).as("n_exits"),
        coalesce(col("n_bounces"), lit(0L)).as("n_bounces"))
      .withColumn("bounce_bp",
        when(col("n_entries") === 0L, 0L)
          .otherwise(floor(lit(10000.0) * col("n_bounces") / col("n_entries"))
            .cast("long")))
  }

  /** Conversion attribution report — for every `convType` event, which
    * earlier step of the SAME session gets the credit, under the two
    * standard models side by side:
    *
    *  - `first`: the session's first event type (the acquisition
    *    touch). A conversion that IS the session's first event has no
    *    earlier touch → channel `direct`.
    *  - `last`: the event type immediately preceding the conversion
    *    (the closing touch); first-of-session conversions are again
    *    `direct`.
    *
    * Both models emit (model, channel, conversions, share_bp) — the
    * marketing-analytics table that decides budget splits. An earlier
    * conversion CAN be a later one's touch (sessions with repeat
    * purchases credit 'purchase'); that is the honest reading of the
    * journey, not an artifact.
    *
    * Scale shape: first/lag/row_number all ride the sessionize
    * user_id hash partition (hashpartitioning(user_id) satisfies the
    * (user_id, session_seq) clustering — zero extra shuffle); the
    * conversion filter cuts the stream BEFORE the model explode (2
    * rows per conversion, not per event); the report aggregate runs
    * at the bounded models × event-type-domain grain, share windows
    * on top of that. */
  def attribution(events: DataFrame, gapSeconds: Long = 1800L,
      convType: String = "purchase"): DataFrame = {
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val conv = assignSessions(events, gapSeconds)
      .withColumn("first_type", first(col("event_type")).over(bySession))
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySession))
      .withColumn("seq", row_number().over(bySession))
      .filter(col("event_type") === convType)
      .select(
        when(col("seq") > 1, col("first_type")).otherwise(lit("direct"))
          .as("first_touch"),
        coalesce(col("prev_type"), lit("direct")).as("last_touch"))
    val byModel = Window.partitionBy(col("model"))
    conv
      .select(explode(array(
        struct(lit("first").as("model"), col("first_touch").as("channel")),
        struct(lit("last").as("model"), col("last_touch").as("channel"))))
        .as("mc"))
      .select(col("mc.model").as("model"), col("mc.channel").as("channel"))
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("conversions"))
      .withColumn("share_bp",
        floor(lit(10000.0) * col("conversions") /
          sum(col("conversions")).over(byModel)).cast("long"))
  }

  /** Position-based ("U-shaped") attribution — the third standard
    * model next to [[attribution]]'s first/last and
    * [[Market.markovAttribution]]'s counterfactual: every touch in
    * the conversion's session prefix earns credit, weighted by
    * POSITION — 40% first, 40% last, the middle 20% split evenly
    * (n = 1 touch → 100%; n = 2 → 50/50; a first-of-session
    * conversion has no touch → `direct`). Credit is integer bp per
    * (conversion, touch): first/last weights are exact constants,
    * each middle touch gets ⌊2000/(n−2)⌋ bp (IEEE divide + floor is
    * bit-identical cross-engine; the ≤(n−3) bp floor remainder per
    * conversion is documented, never re-distributed — the same floor
    * convention as every share in the house).
    *
    * The interesting part is the shape: the naive implementation
    * joins every conversion to its whole session prefix (a range
    * self-join — path rows explode quadratically in multi-purchase
    * sessions). Here each EVENT computes its own total credit with
    * three window reads on the one sessionize partition:
    *
    *  - first-credit (seq 1 only): a session-constant sum of
    *    fw(s) over the session's conversions at seq s ≥ 2
    *    (fw = 10000/5000/4000 for path length 1/2/≥3);
    *  - last-credit (seq k ≥ 2, next event converts): 5000 when the
    *    path is the pair, 4000 otherwise — a `lead` read;
    *  - middle-credit (seq k ≥ 2): Σ ⌊2000/(s−3)⌋ over conversions
    *    at s ≥ k+2 — a RANGE frame (2 FOLLOWING → ∞) suffix sum, so
    *    every later conversion's middle rate is read once per event,
    *    not once per (event, conversion) pair.
    *
    * Zero joins, zero self-pairs: row count stays |events| + one
    * extra row per first-of-session conversion (the `direct`
    * credit, emitted via a filtered explode). Report at channel
    * grain: total credit_bp and share_bp.
    */
  def positionAttribution(events: DataFrame, gapSeconds: Long = 1800L,
      convType: String = "purchase"): DataFrame = {
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val bySeq = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("seq").cast("long"))
    val base = assignSessions(events, gapSeconds)
      .withColumn("seq", row_number().over(bySession))
      .withColumn("is_conv", (col("event_type") === convType).cast("int"))
    val credited = base
      // session-constant first-touch mass: fw(s) per conversion, s>=2
      .withColumn("fsum", sum(
        when(col("is_conv") === 1 && col("seq") >= 2,
          when(col("seq") === 2, 10000L)
            .when(col("seq") === 3, 5000L).otherwise(4000L))
          .otherwise(0L))
        .over(Window.partitionBy(col("user_id"), col("session_seq"))))
      .withColumn("nxt_conv", lead(col("is_conv"), 1).over(bySession))
      // suffix sum of middle rates over conversions >= 2 positions later
      .withColumn("msum", sum(
        when(col("is_conv") === 1 && col("seq") >= 4,
          floor(lit(2000.0) / (col("seq") - 3)).cast("long"))
          .otherwise(0L))
        .over(bySeq.rangeBetween(2L, Window.unboundedFollowing)))
      .withColumn("credit",
        when(col("seq") === 1, col("fsum")).otherwise(0L) +
        when(col("seq") >= 2 && col("nxt_conv") === 1,
          when(col("seq") === 2, 5000L).otherwise(4000L)).otherwise(0L) +
        when(col("seq") >= 2, coalesce(col("msum"), lit(0L))).otherwise(0L))
      .withColumn("direct_credit",
        when(col("is_conv") === 1 && col("seq") === 1, 10000L).otherwise(0L))
    val wAll = Window.partitionBy()
    credited
      .select(explode(expr(
        """filter(array(struct(event_type AS channel, credit),
          |             struct('direct' AS channel, direct_credit AS credit)),
          |       x -> x.credit > 0)""".stripMargin)).as("c"))
      .groupBy(col("c.channel").as("channel"))
      .agg(sum(col("c.credit")).as("credit_bp"))
      .withColumn("share_bp",
        floor(lit(10000.0) * col("credit_bp") /
          sum(col("credit_bp")).over(wAll)).cast("long"))
      .orderBy(col("channel").asc)
  }

  /** Session-timeout sensitivity sweep — the calibration table run
    * BEFORE anyone hardcodes a 30-minute gap: for each candidate
    * timeout T, the session count the corpus would produce, in ONE
    * pass. The identity that makes it one pass: sessions(T) =
    * active_users + |gaps > T| (every user starts one session; each
    * super-threshold gap starts another), so a single per-user lag
    * walk yields the gap multiset and every candidate is a
    * conditional count over it — the naive sweep re-sessionizes the
    * corpus per T. The plateau in `n_sessions` as T grows is where
    * the timeout stops mattering; `events_per_session_milli` is the
    * matching density read.
    *
    * Scale shape: one (user)-keyed sort window over the fact table
    * (the same shuffle [[assignSessions]] pays ONCE), collapsing
    * map-side to the ≤|timeouts|-row sweep via conditional sums; the
    * candidate list is compile-time metadata. */
  def timeoutSweep(events: DataFrame,
      timeouts: Seq[Long] = Seq(300L, 600L, 1800L, 3600L, 7200L)): DataFrame = {
    require(timeouts.nonEmpty && timeouts == timeouts.sorted,
      "timeouts ascending")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .filter(col("ts").isNotNull)
      .withColumn("gap_us",
        unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(byUser))
    // n_users = null-gap count (each user's FIRST event has no lag),
    // so the whole sweep is plain conditional sums — no mixed
    // distinct aggregate, no Expand. Gap compare in µs, the
    // assignSessions convention.
    val aggs = Seq(
      count(lit(1)).as("n_events"),
      sum(when(col("gap_us").isNull, 1L).otherwise(0L)).as("n_users")) ++
      timeouts.map(t =>
        sum(when(col("gap_us") > t * 1000000L, 1L).otherwise(0L))
          .as(s"__x$t"))
    val tot = gaps.agg(aggs.head, aggs.tail: _*)
    tot.select(explode(array(timeouts.map(t =>
        struct(lit(t).as("timeout_s"),
          (col("n_users") + col(s"__x$t")).as("n_sessions"),
          col("n_events").as("n_events"))): _*)).as("r"))
      .select(col("r.timeout_s"), col("r.n_sessions"), col("r.n_events"))
      .withColumn("events_per_session_milli",
        expr("(1000 * n_events) DIV n_sessions"))
      .orderBy(col("timeout_s").asc)
  }
}

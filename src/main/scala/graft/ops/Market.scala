package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Session-basket mining over the events stream: item co-visitation
  * ("users who touched X in a session also touched Y") and the
  * event-type transition matrix (the Markov "user journey" report).
  *
  * Reference context: the reference's closest shapes are the
  * category-session rollups (UserVisitSessionAnalyzeSpark.java's
  * top-category / top-session passes, A9/W4 in SURVEY.md §2) — it has
  * no pairwise basket or transition analysis; these are the standard
  * product-analytics extensions over the same clickstream.
  *
  * Scale shapes:
  *  - Co-visitation's danger is the per-session pair explosion: a bot
  *    session with 10k distinct items would emit 50M pairs. The cap is
  *    therefore load-bearing, not cosmetic: every session contributes
  *    at most C(cap, 2) pairs, so pair volume is ≤ sessions × C(cap,2)
  *    regardless of skew. The cap set is DETERMINISTIC (the cap
  *    smallest item ids, via array_sort + slice — rerun- and
  *    layout-stable, unlike "first seen in partition order").
  *  - Shuffle ledger: assignSessions' one user_id window shuffle is
  *    REUSED by the session-set aggregate (hash(user_id) satisfies the
  *    (user_id, session_seq) clustering), then one pair-grain shuffle
  *    whose key domain is observed pairs (catalog-bounded, not
  *    event-bounded), then TakeOrderedAndProject for the head. The
  *    per-item session counts ride the same pair aggregate via an
  *    item-grain twin and two broadcast-sized joins (item catalog ≪
  *    corpus).
  *  - Transitions: the lag sits on the SAME user_id window partition
  *    as session assignment (zero extra shuffle), and the (prev, next)
  *    aggregate's key domain is event-type², metadata-sized.
  *
  * Cross-engine determinism (SURVEY.md §7.3): confidences are integer
  * basis points via BIGINT div (pair_n × 10000 never overflows before
  * 9.2e14 pair sessions); ranks tie-break on ids.
  */
object Market {

  /** Distinct items per session, capped at `maxItems` smallest ids.
    * One row per session with a sorted item array of size ∈ [1, cap].
    */
  private def sessionItems(events: DataFrame, itemCol: String, cap: Int): DataFrame =
    Sessionize.assignSessions(events)
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
      // (user_id, session_seq) is the session key; hash(user_id)
      // partitioning from the sessionize window already clusters it —
      // this aggregate adds no exchange (pinned in PlanAuditSpec).
      .groupBy(col("user_id"), col("session_seq"))
      .agg(slice(array_sort(collect_set(col("item"))), 1, cap).as("items"))

  /** Co-visitation pairs: for every unordered item pair {a < b}, the
    * number of sessions containing both, each item's own session
    * count, and both conditional confidences in basis points.
    * Top `k` pairs by pair_sessions (ties: item_a, item_b asc).
    *
    * Columns: item_a, item_b, pair_sessions, sessions_a, sessions_b,
    * conf_ab_bp (= floor(pair × 10000 / sessions_a)), conf_ba_bp.
    */
  /** a<b pair comb over the basket arrays — pure map stage, bounded
    * by C(cap, 2) per row — then one observed-pair-domain count. */
  private def pairsFromBaskets(baskets: DataFrame): DataFrame =
    baskets.select(explode(expr(
      """flatten(transform(items, (a, i) ->
        |  transform(slice(items, i + 2, size(items)), b ->
        |    struct(a AS item_a, b AS item_b))))""".stripMargin)).as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("pair_sessions"))

  /** The full unordered pair-count set (item_a < item_b,
    * pair_sessions) — the raw co-visitation graph [[coVisitation]]
    * ranks and [[Graph.pageRank]]'s q93 composition feeds on. */
  def coVisitPairs(events: DataFrame, maxItems: Int = 64,
      itemCol: String = "$.k"): DataFrame =
    pairsFromBaskets(sessionItems(events, itemCol, maxItems))

  def coVisitation(events: DataFrame, k: Int, maxItems: Int = 64,
      itemCol: String = "$.k"): DataFrame = {
    // three consumers (pairs + both item-count join sides) — persist
    // the session-grain baskets so the events→window→basket chain
    // runs ONCE (session grain ≪ event grain; disk-backed)
    val baskets = sessionItems(events, itemCol, maxItems)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = pairsFromBaskets(baskets)
    // Item-grain session counts from the SAME capped baskets (so
    // confidences are internally consistent with the pair counts).
    // Eagerly checkpointed: consumed by TWO broadcast builds, and
    // broadcast subtrees cannot reuse un-materialized lineage (the
    // q233/q352 anatomy) — lazy, each build re-ran the explode+count
    // over the whole baskets cache. Item-grain metadata, built once.
    val itemN = baskets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    pairs
      .join(broadcast(itemN.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n", "sessions_a")), Seq("item_a"))
      .join(broadcast(itemN.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n", "sessions_b")), Seq("item_b"))
      .withColumn("conf_ab_bp",
        expr("pair_sessions * 10000L div sessions_a"))
      .withColumn("conf_ba_bp",
        expr("pair_sessions * 10000L div sessions_b"))
      .select("item_a", "item_b", "pair_sessions", "sessions_a",
        "sessions_b", "conf_ab_bp", "conf_ba_bp")
      .orderBy(col("pair_sessions").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Next-item training pairs — the sequential-recommendation twin of
    * TrainingPrep.chunk: for every item event with ≥1 predecessor in
    * its session, emit (context = up to `contextLen` preceding items
    * in time order, label = the item). The supervised dataset a
    * SASRec/GRU4Rec-style model trains on, generated declaratively.
    *
    * Contract: only item-bearing events participate (the stream is
    * filtered BEFORE sessionization, so the 30-min gap rule applies
    * to item events; mirrored in the oracle). Repeats are kept —
    * sequence models want the true event order, not a basket set.
    *
    * Scale shape: one user_id fact shuffle (the sessionize window);
    * the context window rides the SAME partitioning (user_id ⊇
    * (user, session) clustering), so the whole generator is one
    * shuffle + map stages. Context arrays are contextLen-bounded —
    * output size ≤ input × (contextLen+1) longs. */
  def nextItemPairs(events: DataFrame, contextLen: Int = 3,
      itemCol: String = "$.k"): DataFrame = {
    require(contextLen >= 1, "contextLen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val withItem = events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
    val ctx = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-contextLen, -1)
    Sessionize.assignSessions(withItem)
      .withColumn("context", collect_list(col("item")).over(ctx))
      .filter(size(col("context")) >= 1)
      .select(col("user_id"), col("session_seq"), col("event_id"),
        col("context"), col("item").as("label"))
  }

  /** Skip-gram (center, context) pair counts — the word2vec-style
    * co-occurrence table an item-embedding trainer consumes
    * (Mikolov 2013 shape): for every item event, every other item
    * within ±`window` positions of the SAME session emits one
    * directional pair. Repeats kept (true event order, the
    * [[nextItemPairs]] contract); the stream is filtered to
    * item-bearing events BEFORE sessionization, mirrored in the
    * oracle. Top `k` pairs above `minCount`, full-key tie-break.
    *
    * Scale shape: both context windows (±window rows) ride the ONE
    * sessionize user_id shuffle — the explode is 2·window-bounded per
    * event, then a single (center, context)-grain count whose key
    * domain is catalog², observed subset. */
  def skipGramPairs(events: DataFrame, window: Int = 2, k: Int = 50,
      minCount: Long = 2L, itemCol: String = "$.k"): DataFrame = {
    require(window >= 1 && minCount >= 1L, "window and minCount >= 1")
    import org.apache.spark.sql.expressions.{Window => W}
    val withItem = events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
    val sess = W.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    Sessionize.assignSessions(withItem)
      .withColumn("ctx", concat(
        collect_list(col("item")).over(sess.rowsBetween(-window, -1)),
        collect_list(col("item")).over(sess.rowsBetween(1, window))))
      .select(col("item").as("center"), explode(col("ctx")).as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
      .orderBy(col("n_pairs").desc, col("center").asc, col("context").asc)
      .limit(k)
  }

  /** Replenishment cycle per item: exact median days between a
    * user's CONSECUTIVE purchases of the SAME item — the
    * reorder-cadence read behind "subscribe & save" and stock
    * forecasting ([[decayedPopularity]] says what's hot NOW; this
    * says when buyers come BACK). Items below `minIntervals` observed
    * gaps are dropped (a cadence needs evidence).
    *
    * Scale shape: ONE (user, item)-grain aggregate collapses purchase
    * events to each pair's sorted distinct-day set (map-side partial
    * dedup; set bounded by the analysis window's calendar length, the
    * cohortRetention contract) and consecutive gaps fall out of an
    * index-zip over the array — no window at all. The q210 lesson
    * baked in: a (user, item, day) DISTINCT can't serve a
    * (user, item) window's clustering, so the distinct-then-lag plan
    * pays a second fact shuffle this formulation never does. The
    * exact median then runs on the shared cum-histogram machinery at
    * (item, gap-value) grain. Columns: item, n_intervals,
    * median_gap_days (lo/hi floor-average, the medianCents
    * convention /100). */
  def replenishmentCycle(events: DataFrame, minIntervals: Long = 3L,
      itemCol: String = "$.k"): DataFrame = {
    val gaps = events
      .filter(col("event_type") === "purchase" && col("ts").isNotNull)
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
      .select(col("user_id"), col("item"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id"), col("item"))
      .agg(sort_array(collect_set(col("d"))).as("arr"))
      .select(col("item"), explode(expr(
        """transform(slice(arr, 2, size(arr) - 1),
          |  (x, i) -> CAST(datediff(x, element_at(arr, i + 1)) AS BIGINT))
          |""".stripMargin)).as("gap_days"))
    Percentiles.medianCents(gaps, "item", "gap_days")
      .filter(col("n_rows") >= minIntervals)
      .select(col("item"), col("n_rows").as("n_intervals"),
        expr("median_cents div 100L").as("median_gap_days"))
      .orderBy(col("item").asc)
  }

  /** Recommender cold-start coverage — what share of the observed
    * catalog can the co-visitation engine recommend FOR at all (an
    * item with zero qualifying pairs has no neighbors to serve):
    * one row of n_items_observed, n_items_covered, coverage_bp, plus
    * the same at event weight (events whose item is covered — a
    * popularity-weighted view; tail items drag coverage down long
    * after traffic coverage is fine).
    *
    * Rides the SHARED co-vis pair frame (q93/q157/q196/q201 family);
    * the covered-item set is catalog-bounded and broadcasts into the
    * one events pass. */
  def recsysCoverage(events: DataFrame, pairs: DataFrame,
      minSupport: Long = 2L, itemCol: String = "$.k"): DataFrame = {
    val p = pairs.filter(col("pair_sessions") >= minSupport)
    val covered = p.select(col("item_a").as("item"))
      .union(p.select(col("item_b").as("item"))).distinct()
    val ev = events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
      .join(broadcast(covered.withColumn("cov", lit(1L))), Seq("item"), "left")
    ev.agg(
        countDistinct(col("item")).as("n_items_observed"),
        countDistinct(when(col("cov").isNotNull, col("item")))
          .as("n_items_covered"),
        count(lit(1)).as("n_events"),
        sum(when(col("cov").isNotNull, 1L).otherwise(0L))
          .as("n_events_covered"))
      .select(col("n_items_observed"), col("n_items_covered"),
        floor(lit(10000.0) * col("n_items_covered") / col("n_items_observed"))
          .cast("long").as("item_coverage_bp"),
        col("n_events"), col("n_events_covered"),
        floor(lit(10000.0) * col("n_events_covered") / col("n_events"))
          .cast("long").as("event_coverage_bp"))
  }

  /** Event-type transition matrix: within-session (prev → next)
    * step counts and the per-prev transition probability in basis
    * points. The lag window shares the sessionize partitioning —
    * the whole report costs one user_id shuffle plus one
    * event-type²-domain aggregate.
    *
    * Columns: prev_type, next_type, transitions, prob_bp
    * (= floor(transitions × 10000 / Σ transitions from prev_type)).
    */
  def transitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    // event-type²-grain, but both consumers (matrix + row totals)
    // would otherwise re-run the whole fact chain — persist
    val steps = Sessionize.assignSessions(events)
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySession))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("transitions"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Row-total join at event-type grain: metadata-sized, broadcast.
    val totals = steps.groupBy("prev_type")
      .agg(sum("transitions").as("from_total"))
    steps.join(broadcast(totals), Seq("prev_type"))
      .withColumn("prob_bp", expr("transitions * 10000L div from_total"))
      .select("prev_type", "next_type", "transitions", "prob_bp")
  }

  /** Frequent 3-step journey patterns — the sequence-mining read one
    * order up from [[transitions]] (2-step) and sideways from
    * [[Market.nextItemPairs]] (items, not types): which exact
    * three-event paths do sessions actually walk, with each path's
    * share of all 3-windows. The funnel-DISCOVERY tool: q07's funnel
    * asks about a path someone already hypothesized; this table says
    * which paths are worth hypothesizing (a PrefixSpan depth-3 census
    * restricted to contiguous steps — the contiguity is what keeps it
    * one window pass instead of a subsequence blowup).
    *
    * Columns: step1, step2, step3, n_paths, share_bp; top `topK` by
    * count (type tie-breaks — deterministic).
    *
    * Scale shape: two leads on the ONE sessionize shuffle (same
    * window partition), then everything at event-type³ grain —
    * bounded by the type catalog cubed, never by fact rows. */
  def pathTrigrams(events: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy()
    Sessionize.assignSessions(events)
      .withColumn("t1", lead(col("event_type"), 1).over(bySession))
      .withColumn("t2", lead(col("event_type"), 2).over(bySession))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t1").as("step2"),
        col("t2").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .withColumn("share_bp",
        floor(lit(10000.0) * col("n_paths") /
          sum(col("n_paths")).over(wAll)).cast("long"))
      .orderBy(col("n_paths").desc, col("step1").asc, col("step2").asc,
        col("step3").asc)
      .limit(topK)
  }

  /** Next-step predictability — the conditional-entropy read over the
    * [[transitions]] matrix: per current type, H(next | cur) in the
    * house no-libm bit units (per-outcome surprisal ⌊log₂(n/c)⌋ via
    * `flog2Ratio`, mass-weighted — the integer floor of the Shannon
    * sum, the same convention as q126 token surprisal and the q285
    * bigram bits). Low avg bits = a navigation rail (the next step is
    * nearly forced); high = a browse hub. The number [[markovEval]]
    * contextualizes: top-1 accuracy CAN'T beat a high-entropy row, and
    * this table says which rows those are.
    *
    * Columns: prev_type, n_transitions, total_bits, avg_bits_milli.
    *
    * Scale shape: one sessionize shuffle (the lag window), then
    * everything at event-type²-grain: row totals via a type-keyed
    * window, one aggregate back to type grain. */
  def transitionEntropy(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val byPrev = Window.partitionBy(col("prev_type"))
    Sessionize.assignSessions(events)
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySession))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(byPrev))
      .withColumn("bits",
        TrainingPrep.flog2Ratio(col("n"), col("c")).cast("long"))
      .groupBy(col("prev_type"))
      .agg(max(col("n")).as("n_transitions"),
        sum(col("c") * col("bits")).as("total_bits"))
      .withColumn("avg_bits_milli",
        floor(lit(1000.0) * col("total_bits") / col("n_transitions"))
          .cast("long"))
      .orderBy(col("prev_type").asc)
  }

  /** Time-split next-event prediction eval — does the [[transitions]]
    * matrix actually PREDICT, or only describe? Train on transitions
    * whose predicted (next) event falls BEFORE `splitDate`, take each
    * prev type's modal next as the model (count desc, type asc tie),
    * and score top-1 accuracy on the transitions at-or-after the
    * split. The boundary binds to the PREDICTED event (the q63
    * leakage rule: the thing being predicted must never have been
    * trainable), so a transition straddling the split is eval, never
    * train. Prev types first seen in eval carry a NULL prediction and
    * score 0 — the cold-start penalty belongs in the metric.
    *
    * Columns: prev_type, predicted_next, n_eval, n_correct, acc_bp.
    *
    * Scale shape: one sessionize shuffle (the lag window), then
    * train/eval/model/score all live at event-type²-grain (persisted
    * once — two consumers); the model join is broadcast. */
  def markovEval(events: DataFrame, splitDate: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Sessionize.assignSessions(events)
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySession))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"),
        (col("ts") < lit(splitDate).cast("timestamp")).as("is_train"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wPred = Window.partitionBy(col("prev_type"))
      .orderBy(col("n").desc, col("next_type").asc)
    val model = steps.filter(col("is_train"))
      .withColumn("r", row_number().over(wPred))
      .filter(col("r") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_next"))
    steps.filter(!col("is_train"))
      .join(broadcast(model), Seq("prev_type"), "left")
      .groupBy(col("prev_type"), col("predicted_next"))
      .agg(sum(col("n")).as("n_eval"),
        sum(when(col("next_type") === col("predicted_next"), col("n"))
          .otherwise(0L)).as("n_correct"))
      .select(col("prev_type"), col("predicted_next"),
        col("n_eval"), col("n_correct"),
        floor(lit(10000.0) * col("n_correct") / col("n_eval")).cast("long")
          .as("acc_bp"))
      .orderBy(col("prev_type").asc)
  }

  /** k-step absorption probability into `target` under the observed
    * [[transitions]] Markov chain: from each event type, the
    * probability of reaching (e.g.) 'purchase' within `steps`
    * transitions — the funnel read the raw matrix can't give you,
    * because multi-hop paths (view→click→purchase) contribute mass no
    * single cell shows. Session EXIT is the implicit second absorber:
    * row probabilities sum to ≤10000 over observed next steps and the
    * missing mass never converts — exactly the real semantics.
    *
    * Fixed-point bp recursion, unrolled symbolically (the pageRank
    * discipline — the driver composes a plan over the event-type²
    * frame, never touches data):
    *   α₁(s) = p_bp(s→target);
    *   α_{k+1}(s) = α₁(s) + Σ_{t≠target} ⌊p_bp(s→t)·α_k(t)/10000⌋.
    * Every product ≤ 1e8; per-pair floor is the defined semantics the
    * oracle mirrors. Grain is |types|² throughout — metadata. Columns:
    * start_type, absorb_bp (within `steps`), ordered desc/start. */
  def absorptionProbability(events: DataFrame, target: String = "purchase",
      steps: Int = 5): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    val m = transitions(events)
      .select(col("prev_type"), col("next_type"), col("prob_bp"))
      .localCheckpoint(false) // consumed every round
    // α₁ over EVERY start type (0 when no direct edge — a type whose
    // only route is multi-hop must still accumulate in later rounds);
    // the walk itself is [[reachFrom]], shared with markovAttribution
    reachFrom(m, target, steps)
      .select(col("start_type"), col("a_bp").as("absorb_bp"))
      .orderBy(col("absorb_bp").desc, col("start_type").asc)
  }

  /** Sketched audience set-algebra with an exact gate (the q37
    * bound-verdict machinery, completing the approx-swap seam ladder
    * for AUDIENCE counts): per event-type PAIR, the exact distinct
    * reach of each side, of the union, the inclusion–exclusion
    * intersection, and a verdict that the HLL union estimate sits
    * within `maxErrBp` of the exact union. At 100 TB this is the
    * production shape — HLL registers for A, B, and A∪B merge
    * map-side with fixed state, while the exact path pays a
    * distinct-Expand — and the gate is how the sketch stays honest
    * at test SF. Deterministic output (oracle: exact values +
    * literal 1): a drifting sketch flips union_sketch_ok and fails
    * the hash. Columns: type_a, type_b, n_a, n_b, n_union, n_inter,
    * union_sketch_ok; pairs ordered (type_a < type_b).
    *
    * Scale shape: ONE user×type dedup shuffle feeds every pair (the
    * frame is reused, not re-scanned); each pair's counts are plain
    * aggregates of it. Pair domain = event types (≤5²) — metadata. */
  def audienceUnionChecked(events: DataFrame, rsd: Double = 0.015,
      maxErrBp: Long = 500L): DataFrame = {
    val ut = events
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val types = ut.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b")) // ≤ |types|² rows
    val sided = ut.join(broadcast(pairs),
        col("event_type") === col("type_a") ||
          col("event_type") === col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        count_distinct(when(col("event_type") === col("type_a"),
          col("user_id"))).as("n_a"),
        count_distinct(when(col("event_type") === col("type_b"),
          col("user_id"))).as("n_b"),
        count_distinct(col("user_id")).as("n_union"),
        approx_count_distinct(col("user_id"), rsd).as("__sk_union"))
    sided
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_union"), (col("n_a") + col("n_b") - col("n_union"))
          .as("n_inter"),
        (abs(col("__sk_union") - col("n_union")) * lit(10000L) <=
          col("n_union") * lit(maxErrBp)).cast("int")
          .as("union_sketch_ok"))
      .orderBy(col("type_a").asc, col("type_b").asc)
  }

  /** Audience-overlap matrix for the TOP items: exact user-set
    * Jaccard between every pair of the `topK` most-viewed items —
    * "do these two products share an audience" (merchandising reads
    * it for bundle candidates; ads for cross-targeting). Item
    * popularity is distinct-user reach; ties break on item id.
    *
    * Scale shape: the top-item set is a broadcast-sized dim
    * (TakeOrdered over item grain), so the (item, user) frame filters
    * at the scan to topK items and every user contributes at most
    * C(topK, 2) pairs — the intersection join is user-grain bounded,
    * never catalog². Columns: item_a, item_b, n_users_a, n_users_b,
    * n_shared, jaccard_bp. */
  def audienceOverlap(events: DataFrame, topK: Int = 10,
      itemCol: String = "$.k"): DataFrame = {
    require(topK >= 2, "need at least two items to overlap")
    val iu = events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull && col("user_id").isNotNull)
      .select(col("item"), col("user_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eagerly checkpointed: `top` is consumed by THREE broadcast
    // builds (the reach filter + both name-count reattachments), and
    // broadcast subtrees cannot reuse un-materialized lineage (the
    // q352 anatomy) — lazy, each build re-ran the reach aggregate
    // over the iu cache. topK rows, materialized once.
    val top = iu.groupBy(col("item")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("item").asc).limit(topK)
      .localCheckpoint(true)
    val ui = iu.join(broadcast(top), Seq("item"))
    val shared = ui.as("a")
      .join(ui.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(top.select(col("item").as("item_a"),
        col("n_users").as("n_users_a"))), Seq("item_a"))
      .join(broadcast(top.select(col("item").as("item_b"),
        col("n_users").as("n_users_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_users_a"),
        col("n_users_b"), col("n_shared"),
        floor(lit(10000.0) * col("n_shared") /
          (col("n_users_a") + col("n_users_b") - col("n_shared")))
          .cast("long").as("jaccard_bp"))
      .orderBy(col("jaccard_bp").desc, col("item_a").asc, col("item_b").asc)
  }

  /** Association rules by LIFT over the session baskets —
    * [[coVisitation]] ranks pairs by raw co-occurrence, which is
    * dominated by whatever is popular; lift
    * (P(a,b) / (P(a)·P(b)), the independence ratio) surfaces the
    * pairs that co-occur MORE than their popularity predicts — the
    * actual association signal (Agrawal & Srikant 1994's
    * support/confidence framework, Brin 1997's lift correction).
    * `minPair` is the support floor: a 2-session pair can post a
    * huge lift by luck; rules below the floor are noise.
    *
    * lift_bp = ⌊10000·pair/sa/sb·total⌋ evaluated in DOUBLE in
    * exactly that left-to-right order (mirrored textually in the
    * oracle — the volumeAnomaly IEEE-determinism convention;
    * pair·total would overflow BIGINT at 10⁹-session scale, and a
    * decimal ratio has no exact cross-engine floor).
    *
    * Scale shape: [[coVisitation]]'s plan plus ONE 1-row total
    * broadcast — baskets persist once, pairs aggregate at observed-
    * pair grain, item counts broadcast, TakeOrderedAndProject head.
    */
  def associationRules(events: DataFrame, k: Int = 20, minPair: Long = 3L,
      maxItems: Int = 64, itemCol: String = "$.k"): DataFrame = {
    require(minPair >= 1L, "minPair must be >= 1")
    val baskets = sessionItems(events, itemCol, maxItems)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = pairsFromBaskets(baskets)
      .filter(col("pair_sessions") >= minPair)
    // eagerly checkpointed — two broadcast consumers, the q233/q352
    // anatomy (see coVisitation)
    val itemN = baskets.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val total = baskets.agg(count(lit(1)).as("total_sessions"))
    pairs
      .join(broadcast(itemN.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n", "sessions_a")), Seq("item_a"))
      .join(broadcast(itemN.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n", "sessions_b")), Seq("item_b"))
      .join(broadcast(total), lit(true))
      .withColumn("lift_bp",
        floor(lit(10000.0) * col("pair_sessions") / col("sessions_a") /
          col("sessions_b") * col("total_sessions")).cast("long"))
      .select("item_a", "item_b", "pair_sessions", "sessions_a",
        "sessions_b", "total_sessions", "lift_bp")
      .orderBy(col("lift_bp").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Frequent item TRIPLES — the 3-itemset tier above
    * [[associationRules]]' pairs (bundle detection: "these three live
    * in the same basket", the input to 3-way cross-sell and kit
    * pricing). Baskets are USER-lifetime distinct item sets, not
    * single sessions: a kit's pieces are acquired across visits, and
    * at session grain 3-way co-occurrence is too sparse to clear any
    * honest support floor (measured: zero repeated session triples
    * even at 10× data). Top `k` by user support, full-key tie-break.
    *
    * Scale shape: the pair comb's bound is C(cap,2); triples grow a
    * FACTOR of cap steeper, so the basket cap tightens to `maxItems`
    * = 16 by default — C(16,3) = 560 candidate rows per user vs
    * C(64,2) = 2016 for pairs, i.e. the explode stays in the same
    * budget band while k-set order rises. The comb is a pure map
    * stage over sorted distinct baskets (a < b < c by construction,
    * no dedup join), then ONE observed-triple-grain count. A support
    * floor (`minSupport`) keeps the output at report grain. */
  def tripleItemsets(events: DataFrame, k: Int = 20, minSupport: Long = 2L,
      maxItems: Int = 16, itemCol: String = "$.k"): DataFrame = {
    require(minSupport >= 1L, "minSupport must be >= 1")
    events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"))
      .agg(slice(array_sort(collect_set(col("item"))), 1, maxItems).as("items"))
      .select(explode(expr(
        """flatten(transform(items, (a, i) ->
          |  flatten(transform(slice(items, i + 2, size(items)), (b, j) ->
          |    transform(slice(items, i + j + 3, size(items)), c ->
          |      struct(a AS item_a, b AS item_b, c AS item_c))))))""".stripMargin))
        .as("t"))
      .select(col("t.item_a"), col("t.item_b"), col("t.item_c"))
      .groupBy("item_a", "item_b", "item_c")
      .agg(count(lit(1)).as("n_users_3set"))
      .filter(col("n_users_3set") >= minSupport)
      .orderBy(col("n_users_3set").desc,
        col("item_a").asc, col("item_b").asc, col("item_c").asc)
      .limit(k)
  }

  /** Sequential association rules — [[associationRules]] without the
    * bag-of-items blindness: (a THEN b) counts sessions where item
    * a's FIRST occurrence precedes item b's (the direction a
    * recommender actually needs — "viewed X then bought Y" and
    * "bought Y then viewed X" are different products). The AprioriAll
    * 2-sequence (Agrawal & Srikant 1995) over capped session
    * baskets.
    *
    * Order is by (first_us, item) — first-occurrence time with the
    * item id breaking exact-timestamp ties, so the sequence is total
    * and deterministic on both engines. The cap keeps the EARLIEST
    * `maxItems` items (sequences privilege the session head; co-vis
    * keeps smallest ids — different contract, both deterministic).
    *
    * Columns: item_a, item_b (a strictly before b), pair_sessions,
    * sessions_a (sessions where a is in the capped basket),
    * conf_bp = ⌊pair·10000/sessions_a⌋ — P(b later | a). Top `k` by
    * pair_sessions (ties: item_a, item_b).
    *
    * Scale shape: the (session, item) first-occurrence aggregate and
    * the basket aggregate BOTH ride the sessionize user_id window
    * partitioning (user_id stays in every grouping key — zero extra
    * exchanges); ordered pairs are a C(cap,2)-bounded map stage; the
    * pair aggregate's key domain is observed ordered pairs. */
  def sequentialRules(events: DataFrame, k: Int = 20, maxItems: Int = 64,
      itemCol: String = "$.k"): DataFrame = {
    val firsts = Sessionize.assignSessions(events)
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("session_seq"), col("item"))
      .agg(min(col("ts_us")).as("first_us"))
    val baskets = firsts
      .groupBy(col("user_id"), col("session_seq"))
      .agg(slice(array_sort(collect_list(struct(col("first_us"), col("item")))),
        1, maxItems).as("seqd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = baskets.select(explode(expr(
      """flatten(transform(seqd, (a, i) ->
        |  transform(slice(seqd, i + 2, size(seqd)), b ->
        |    struct(a.item AS item_a, b.item AS item_b))))""".stripMargin))
      .as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("pair_sessions"))
    val itemN = baskets
      .select(explode(expr("transform(seqd, s -> s.item)")).as("item_a"))
      .groupBy("item_a").agg(count(lit(1)).as("sessions_a"))
    pairs
      .join(broadcast(itemN), Seq("item_a"))
      .withColumn("conf_bp", expr("pair_sessions * 10000L div sessions_a"))
      .select("item_a", "item_b", "pair_sessions", "sessions_a", "conf_bp")
      .orderBy(col("pair_sessions").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Recency-decayed item popularity — the "trending now" ranking a
    * raw lifetime count can't give (a product hot in 2019 should not
    * outrank one hot this week). Each event contributes
    * `⌊10⁶ / 2^(age_days div halfLifeDays)⌋` popularity mass — an
    * EXACT dyadic half-life: weights are a BIGINT right-shift, never
    * a libm `exp`, so the score is bit-identical cross-engine and
    * across rerun/partition layouts (the house determinism rule the
    * usual `exp(-λ·age)` breaks). Step-wise decay (per completed
    * half-life) is the deliberate trade for exactness; at a 7-day
    * half-life the step error vs smooth decay is < 2× on any single
    * event and washes out in the aggregate ranking.
    *
    * `anchor` is an explicit parameter (wall-clock "now" would be
    * unreproducible — the [[Retention.rfm]] precedent). Future events
    * (age < 0) are excluded: they are clock skew, not popularity.
    *
    * Scale shape: the weight is a pure codegen'd map expression; ONE
    * item-grain fact shuffle (map-side combined) then
    * TakeOrderedAndProject for the head. Item catalog ≪ corpus. */
  def decayedPopularity(events: DataFrame, anchor: String,
      halfLifeDays: Int = 7, k: Int = 20,
      itemCol: String = "$.k"): DataFrame = {
    require(halfLifeDays >= 1, "halfLifeDays must be >= 1")
    events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull && col("ts").isNotNull)
      .withColumn("age",
        datediff(lit(anchor).cast("date"), to_date(col("ts"))).cast("long"))
      .filter(col("age") >= 0L)
      .withColumn("w", expr(
        s"shiftright(1000000L, CAST(least(age div $halfLifeDays, 62L) AS INT))"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w")).as("score_ppm"),
        min(col("age")).as("last_age_days"))
      .orderBy(col("score_ppm").desc, col("item").asc)
      .limit(k)
  }

  /** Next-item predictor BACKTEST: train the majority-transition
    * model (per previous item, the most frequent within-session
    * successor — ties to the smaller item) on events before
    * `splitDate`, score it on the transitions after — the honest
    * time-split accuracy number behind "users who viewed X then
    * viewed Y" recommendations (q91/q99 are the model surfaces; this
    * is their evaluation harness).
    *
    * Both halves are sessionized INDEPENDENTLY over the item events
    * (the q99 standalone-sessionize contract; the split boundary
    * cleanly cuts any session that straddles it — that's the
    * deployment reality too: the model never sees the future half of
    * a live session). Accuracy is transition-weighted; `covered`
    * restricts to transitions whose previous item was seen in
    * training (the model can't guess an unseen item — the gap
    * between acc_bp and covered_acc_bp is the cold-start tax).
    *
    * Scale shape: two sessionize shuffles (one per half — each a
    * user-grain window), two observed-pair-grain aggregates, an
    * item-grain model join (unhinted; item catalogs are broadcast-
    * sized in practice, AQE decides), and a 1-row report. No driver
    * state, no all-pairs anything.
    *
    * One row: n_test, n_covered, n_hits, acc_bp, covered_acc_bp. */
  def nextItemBacktest(events: DataFrame, splitDate: String,
      itemCol: String = "$.k"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withItem = events
      .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
      .filter(col("item").isNotNull)
    val split = lit(splitDate).cast("timestamp")
    def pairCounts(df: DataFrame): DataFrame = {
      val bySession = Window
        .partitionBy(col("user_id"), col("session_seq"))
        .orderBy(col("ts"), col("event_id"))
      Sessionize.assignSessions(df)
        .withColumn("prev_item", lag(col("item"), 1).over(bySession))
        .filter(col("prev_item").isNotNull)
        .groupBy(col("prev_item"), col("item").as("next_item"))
        .agg(count(lit(1)).as("n"))
    }
    val test = pairCounts(withItem.filter(col("ts") >= split))
    val model = majorityNextItemModel(events.filter(col("ts") < split),
      itemCol)
    test.join(model, Seq("prev_item"), "left")
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n_test"),
        coalesce(sum(when(col("predicted").isNotNull, col("n"))), lit(0L))
          .as("n_covered"),
        coalesce(sum(when(col("predicted") === col("next_item"), col("n"))),
          lit(0L)).as("n_hits"))
      .select(col("n_test"), col("n_covered"), col("n_hits"),
        when(col("n_test") === 0L, 0L)
          .otherwise(floor(lit(10000.0) * col("n_hits") / col("n_test"))
            .cast("long")).as("acc_bp"),
        when(col("n_covered") === 0L, 0L)
          .otherwise(floor(lit(10000.0) * col("n_hits") / col("n_covered"))
            .cast("long")).as("covered_acc_bp"))
  }

  /** The majority-transition next-item model as a standalone surface:
    * per previous item, the most frequent within-session successor
    * (ties to the smaller item — deterministic). [[nextItemBacktest]]
    * trains this on its pre-split half; `streaming/ScoreStream`
    * broadcasts the same table against a live event stream. Item-
    * catalog grain: broadcast-sized in practice.
    *
    * Columns: prev_item, predicted. */
  def majorityNextItemModel(events: DataFrame,
      itemCol: String = "$.k"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Sessionize.assignSessions(events
        .withColumn("item", get_json_object(col("props"), itemCol).cast("long"))
        .filter(col("item").isNotNull))
      .withColumn("prev_item", lag(col("item"), 1).over(bySession))
      .filter(col("prev_item").isNotNull)
      .groupBy(col("prev_item"), col("item").as("next_item"))
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy(col("prev_item"))
      .orderBy(col("n").desc, col("next_item").asc)
    pairs
      .withColumn("__rn", row_number().over(byPrev))
      .filter(col("__rn") === 1)
      .select(col("prev_item"), col("next_item").as("predicted"))
  }

  /** Co-visitation recommender BACKTEST: hit-rate@k of the q90 pair
    * surface as an actual recommender — train co-vis pairs on events
    * before `splitDate`, rank each item's top-k neighbors by
    * (pair_sessions desc, id), and score "was the next item in the
    * previous item's list" on the transitions after. The companion to
    * [[nextItemBacktest]]: that grades the top-1 majority model, this
    * grades the k-slot shelf every "users also viewed" module ships —
    * together they say whether the extra k−1 slots earn their screen
    * space.
    *
    * Same honest-split contract as q177: both halves sessionized
    * INDEPENDENTLY, self-transitions excluded (a repeat view is not a
    * recommendation win), `covered` = transitions whose previous item
    * has ≥1 trained neighbor (the cold-start tax is
    * hit_bp vs covered_hit_bp).
    *
    * Scale shape: two sessionize shuffles (one per half), the train
    * half collapsing to capped item-pair grain (the q90 argument);
    * the neighbor shelf is a WindowGroupLimit over item-pair rows;
    * the eval join is (prev, next)-grain against the (items·k)-sized
    * shelf; 1-row report.
    *
    * One row: n_test, n_covered, n_hits, hit_bp, covered_hit_bp. */
  def covisBacktest(events: DataFrame, splitDate: String, k: Int = 5,
      maxItems: Int = 64, itemCol: String = "$.k"): DataFrame = {
    require(k >= 1, "k >= 1")
    import org.apache.spark.sql.expressions.Window
    val split = lit(splitDate).cast("timestamp")
    val pairs = coVisitPairs(events.filter(col("ts") < split),
      maxItems, itemCol)
    val shelf = pairs
      .select(col("item_a").as("prev_item"), col("item_b").as("rec_item"),
        col("pair_sessions"))
      .union(pairs.select(col("item_b"), col("item_a"),
        col("pair_sessions")))
      .withColumn("__r", row_number().over(Window
        .partitionBy(col("prev_item"))
        .orderBy(col("pair_sessions").desc, col("rec_item").asc)))
      .filter(col("__r") <= k)
      .select(col("prev_item"), col("rec_item"))
      // the shelf feeds coverage AND the hit join, and its own build
      // reads the pair frame twice (both directions) — persist the
      // (items·k)-sized result so the train half is scanned once
      // (caller-owned, the house cache convention)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val covered = shelf.select(col("prev_item")).distinct()
      .withColumn("__c", lit(1L))
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val test = Sessionize.assignSessions(events.filter(col("ts") >= split)
        .withColumn("item", get_json_object(col("props"), itemCol)
          .cast("long"))
        .filter(col("item").isNotNull))
      .withColumn("prev_item", lag(col("item"), 1).over(bySession))
      .filter(col("prev_item").isNotNull && col("prev_item") =!= col("item"))
      .groupBy(col("prev_item"), col("item").as("next_item"))
      .agg(count(lit(1)).as("n"))
    val shelfKeyed = shelf.select(col("prev_item").as("__s_prev"),
      col("rec_item").as("__s_rec"))
    test
      .join(covered, Seq("prev_item"), "left")
      .join(shelfKeyed,
        col("prev_item") === col("__s_prev") &&
          col("next_item") === col("__s_rec"), "left")
      .agg(sum(col("n")).as("n_test"),
        coalesce(sum(when(col("__c").isNotNull, col("n"))), lit(0L))
          .as("n_covered"),
        coalesce(sum(when(col("__s_rec").isNotNull, col("n"))), lit(0L))
          .as("n_hits"))
      .select(col("n_test"), col("n_covered"), col("n_hits"),
        when(col("n_test") === 0L, 0L)
          .otherwise(floor(lit(10000.0) * col("n_hits") / col("n_test"))
            .cast("long")).as("hit_bp"),
        when(col("n_covered") === 0L, 0L)
          .otherwise(floor(lit(10000.0) * col("n_hits") / col("n_covered"))
            .cast("long")).as("covered_hit_bp"))
  }

  /** K-step absorption vector of `chain` toward `target` — the
    * shared walk of [[absorptionProbability]] and
    * [[markovAttribution]]: α₁ = direct edge to target (0 where
    * absent), then `steps−1` rounds of
    * α ← α₁ + Σ_non-target P(s→x)·α(x), every frame event-type-grain
    * and lineage-truncated per round. */
  private def reachFrom(chain: DataFrame, target: String,
      steps: Int): DataFrame = {
    val a1 = chain.select(col("prev_type").as("start_type")).distinct()
      .join(broadcast(chain.filter(col("next_type") === target)
        .select(col("prev_type").as("start_type"),
          col("prob_bp").as("direct_bp"))), Seq("start_type"), "left")
      .select(col("start_type"),
        coalesce(col("direct_bp"), lit(0L)).as("a_bp"))
      .localCheckpoint(false)
    (2 to steps).foldLeft(a1) { (a, _) =>
      val hop = chain.filter(col("next_type") =!= target)
        .join(broadcast(a.withColumnRenamed("start_type", "next_type")),
          Seq("next_type"))
        .groupBy(col("prev_type").as("start_type"))
        .agg(sum(expr("prob_bp * a_bp div 10000L")).as("hop_bp"))
      a1.join(broadcast(hop), Seq("start_type"), "left")
        .select(col("start_type"),
          (col("a_bp") + coalesce(col("hop_bp"), lit(0L))).as("a_bp"))
        .localCheckpoint(false)
    }
  }

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * credit model that fixes first/last-touch's blind spots by
    * asking the counterfactual: how much conversion reach DIES if
    * channel c vanishes? removal(c) = 1 − p₋c/p, where p is the
    * session-start-weighted K-step absorption probability toward
    * `target` and p₋c re-runs the same walk on the chain with every
    * edge touching c deleted (paths through c strand — no
    * renormalization, per the model). Credits are removal effects
    * normalized across channels. Start weights are SESSION-START
    * type counts (the null-lag rows of the same window pass that
    * builds the chain); a session starting AT the target counts as
    * reached in both worlds, one starting at the removed channel
    * contributes zero reach in the removal world. Floors are applied
    * per round identically in both walks, so p₋c ≤ p holds exactly
    * and removal effects are never negative.
    *
    * `channels` is a DECLARED domain (the q142 convention — no
    * driver-side distinct-collect); unknown names simply produce a
    * no-op removal row.
    *
    * Scale shape: ONE sessionize shuffle builds the lag frame, which
    * collapses in the SAME job to (prev, next)-type grain (session
    * starts ride along as NULL-prev rows) — ≤|types|²+|types| cells,
    * MODEL-ARTIFACT-sized metadata, the stationaryMix collect class.
    * The (1+|channels|)×K removal-walk rounds then run as driver
    * arithmetic in [[markovRemovalLadder]]: iterating bounded-domain
    * frames as cluster jobs cost 10.7 s of pure stage overhead at
    * sf0.1 in q350 before the same move, and the shared ladder
    * serves any streaming twin so batch≡stream parity is by
    * construction. */
  def markovAttribution(events: DataFrame, channels: Seq[String],
      target: String = "purchase", steps: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(channels.nonEmpty && !channels.contains(target),
      "channels must be non-empty and exclude the target")
    val spark = events.sparkSession
    import spark.implicits._
    val bySession = Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    // ONE job: lag pass + type²-grain collapse; NULL prev = session
    // start (kept by groupBy), split driver-side
    val cells = Sessionize.assignSessions(events)
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySession))
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
      .as[(Option[String], String, Long)].collect() // sanctioned: type² cells
    val matrix = cells.collect { case (Some(p), n, c) => (p, n) -> c }.toMap
    val starts = cells.collect { case (None, n, c) => n -> c }.toMap
    val out = markovRemovalLadder(matrix, starts, channels, target, steps)
      .map { case (ch, pf, pr, rm, cr) =>
        (ch, pf.map(Long.box).orNull, pr.map(Long.box).orNull,
          rm.map(Long.box).orNull, cr.map(Long.box).orNull)
      }
    spark.createDataFrame(out).toDF("channel", "p_full_bp",
        "p_removed_bp", "removal_bp", "credit_bp")
      .orderBy(col("removal_bp").desc, col("channel").asc)
  }

  /** The q292 integer ladder over a collected ((prev, next) → count)
    * matrix + (start type → count) weights — [[markovAttribution]]'s
    * walk as pure driver arithmetic, shareable with a streaming twin
    * (the [[stationaryWalk]] convention). Edge probabilities floor to
    * bp off the FULL matrix's row totals; a removal world deletes
    * every edge touching the channel WITHOUT renormalizing (per
    * Anderl 2014 — stranded paths simply never absorb); per-round
    * per-term floors match the unrolled oracle CTEs exactly.
    * Returns one (channel, p_full_bp, p_removed_bp, removal_bp,
    * credit_bp) row per channel; None mirrors the SQL NULLs on
    * empty input / zero-reach edges. */
  private[graft] def markovRemovalLadder(
      matrix: Map[(String, String), Long], starts: Map[String, Long],
      channels: Seq[String], target: String, steps: Int)
      : Seq[(String, Option[Long], Option[Long], Option[Long],
             Option[Long])] = {
    // prob_bp off the full matrix (removal keeps original edge probs)
    val fromTotal = matrix.groupBy(_._1._1)
      .map { case (p, m) => p -> m.values.sum }
    val prob = matrix.map { case ((p, n), c) =>
      (p, n) -> 10000L * c / fromTotal(p) }
    // K-step absorption toward target over the (optionally cut) edge
    // set: a(x) = 0 for types with no surviving outgoing edge — the
    // same zero the cluster walk's left-join coalesce produced
    def reach(excluded: Option[String]): Map[String, Long] = {
      val edges = prob.filter { case ((p, n), _) =>
        excluded.forall(c => p != c && n != c) }
      val a1 = edges.keys.map(_._1).toSeq.distinct
        .map(p => p -> edges.getOrElse((p, target), 0L)).toMap
      (2 to steps).foldLeft(a1) { (a, _) =>
        a1.map { case (p, direct) =>
          val hop = edges.collect {
            case ((`p`, x), bp) if x != target =>
              bp * a.getOrElse(x, 0L) / 10000L
          }.sum
          p -> (direct + hop)
        }
      }
    }
    // start-weighted reach; a start AT the target is reached in both
    // worlds, a start at the removed channel contributes zero
    def pOf(a: Map[String, Long], excluded: Option[String]): Option[Long] = {
      val tot = starts.values.sum
      if (tot == 0L) None
      else Some(starts.map { case (s, n) =>
        val v = if (excluded.contains(s)) 0L
          else if (s == target) 10000L
          else a.getOrElse(s, 0L)
        n * v
      }.sum / tot)
    }
    val pFull = pOf(reach(None), None)
    val rows = channels.map(c => c -> pOf(reach(Some(c)), Some(c)))
    val removals = rows.map { case (_, pRem) =>
      for (pf <- pFull if pf > 0L; pr <- pRem)
        yield math.floor(10000.0 * (pf - pr) / pf).toLong
    }
    val sumRem = removals.flatten match {
      case Nil => None
      case xs  => Some(xs.sum)
    }
    rows.zip(removals).map { case ((c, pRem), rm) =>
      val credit = for (s <- sumRem if s > 0L; r <- rm)
        yield math.floor(10000.0 * r / s).toLong
      (c, pFull, pRem, rm, credit)
    }
  }

  /** Supplier Pareto frontier (skyline) on mean unit cost vs mean
    * ship delay — the classic two-criteria sourcing query: a supplier
    * is on the frontier iff NO other supplier is at-or-better on both
    * axes (and strictly better on one); everything off the frontier
    * has a strictly preferable alternative and exists only as
    * negotiating leverage. Computed by the textbook sort-scan: order
    * by (cost asc, delay asc, suppkey asc), keep rows whose delay
    * strictly undercuts every predecessor's — equal-(cost, delay)
    * duplicates keep the lowest suppkey as the frontier
    * representative. Unit cost = per-line ⌊100·extendedprice/qty⌋
    * cents (one IEEE divide, floored — the house money rule), means
    * floor-divided.
    *
    * Scale shape: one fact join+pass to SUPPLIER grain; the skyline
    * sort-scan and rank run over the bounded supplier dimension —
    * a single-partition window over dim-grain rows, metadata no
    * matter the fact volume. */
  def supplierSkyline(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = lineitem
      .filter(col("l_shipdate").isNotNull && col("l_quantity") > 0)
      .join(orders.select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("__od")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor(lit(100.0) * col("l_extendedprice") / col("l_quantity"))
          .cast("long")).as("__uc"),
        sum(datediff(to_date(col("l_shipdate")), col("__od")).cast("long"))
          .as("__dl"))
      .select(col("suppkey"), col("n_lines"),
        expr("__uc DIV n_lines").as("mean_unit_cents"),
        expr("(1000 * __dl) DIV n_lines").as("mean_delay_milli"))
    val wPrev = Window
      .orderBy(col("mean_unit_cents").asc, col("mean_delay_milli").asc,
        col("suppkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    stats
      .withColumn("__minPrev", min(col("mean_delay_milli")).over(wPrev))
      .filter(col("__minPrev").isNull ||
        col("mean_delay_milli") < col("__minPrev"))
      .select(
        row_number().over(Window.orderBy(col("mean_unit_cents").asc,
          col("suppkey").asc)).as("skyline_rank"),
        col("suppkey"), col("n_lines"), col("mean_unit_cents"),
        col("mean_delay_milli"))
      .orderBy(col("skyline_rank").asc)
  }

  /** Croston's method for intermittent demand (Croston 1972) — the
    * standard forecast for slow-moving SKUs, where ordinary smoothing
    * of the daily series collapses toward zero on the long dark
    * stretches: smooth the nonzero demand SIZES and the inter-demand
    * INTERVALS separately over occurrence index, forecast
    * units/day = ẑ/x̂. Operates on parts whose demand is actually
    * intermittent: ≥ `minDemands` demand days and ≤ 20% of the global
    * span covered (the same global-span rule as q278 burstiness).
    *
    * Smoothing reuses the q272 dyadic kernel (weights 2^(W−1−lag)
    * over the last W occurrences, integer shifts — no libm, no float
    * state): ẑ and x̂ are ×(2^W−1)-scaled weighted sums, published in
    * milli by integral division; the forecast ratio 1000·zw/xw is
    * exact because the shared kernel scale cancels. The interval
    * window holds the gaps attached to the last W occurrences (the
    * first occurrence carries none).
    *
    * Scale shape: one fact pass collapses to (part, day) grain; ALL
    * windows (count, row_number, lag, min/max) subset-cluster on the
    * single hash(partkey) shuffle, and the report is part-dimension
    * grain. The global span scalar is a parallel aggregate over the
    * PERSISTED part-grain frame (partial min/max per partition, 1-row
    * final) reattached by crossJoin(broadcast(·)) — still no second
    * panel pass, and never a no-partitionBy window, which would plan
    * Exchange SinglePartition over the whole part grain.
    *
    * Columns: partkey, n_demands, demand_span_days, adi_milli (mean
    * inter-demand interval), mean_units_milli, z_hat_milli,
    * x_hat_milli, croston_milli (units/day; NULL if no gaps in
    * window). */
  def crostonDemand(lineitem: DataFrame, windowPow: Int = 8,
      minDemands: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowPow >= 2 && windowPow <= 32, "windowPow in [2,32]")
    val w = windowPow
    val denom = (1L << w) - 1L
    val pd = lineitem
      .filter(col("l_shipdate").isNotNull)
      .groupBy(col("l_partkey").as("partkey"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
          .cast("long").as("daynum"))
      .agg(sum(col("l_quantity").cast("long")).as("units"))
    val byPart = Window.partitionBy(col("partkey"))
    val ordered = byPart.orderBy(col("daynum").asc)
    val g = pd
      .withColumn("n", count(lit(1)).over(byPart))
      .withColumn("idx", row_number().over(ordered))
      .withColumn("gap", col("daynum") - lag(col("daynum"), 1).over(ordered))
      .withColumn("d0", min(col("daynum")).over(byPart))
      .withColumn("d1", max(col("daynum")).over(byPart))
      .groupBy(col("partkey"))
      .agg(max(col("n")).as("n"),
        (max(col("d1")) - max(col("d0"))).as("spread"),
        max(col("d1")).as("__d1"), max(col("d0")).as("__d0"),
        sum(col("units")).as("tot_units"),
        sum(expr(s"CASE WHEN n - idx < $w THEN" +
          s" units * shiftleft(CAST(1 AS BIGINT), ${w - 1} - (n - idx))" +
          " ELSE 0 END")).as("zw"),
        sum(expr(s"CASE WHEN n - idx < $w AND gap IS NOT NULL THEN" +
          s" gap * shiftleft(CAST(1 AS BIGINT), ${w - 1} - (n - idx))" +
          " ELSE 0 END")).as("xw"))
      .persist()
    // filled here, so the broadcast build below reads cached blocks
    // instead of running the fact pass under broadcastTimeout
    g.count()
    // the global day-span scalar: max over parts of each part's max
    // day = max over all (part, day) rows, so a parallel agg over the
    // persisted part-grain frame equals the old separate panel pass —
    // one fact scan total (the cache both sides read), and no
    // single-partition window
    val span = g.agg(
      (max(col("__d1")) - min(col("__d0")) + 1L).as("span"))
    g.crossJoin(broadcast(span))
      .filter(col("n") >= minDemands && col("n") * 5L <= col("span"))
      .select(col("partkey"), col("n").as("n_demands"),
        (col("spread") + 1L).as("demand_span_days"),
        expr("(1000 * spread) DIV (n - 1)").as("adi_milli"),
        expr("(1000 * tot_units) DIV n").as("mean_units_milli"),
        expr(s"(1000 * zw) DIV $denom").as("z_hat_milli"),
        expr(s"(1000 * xw) DIV $denom").as("x_hat_milli"),
        when(col("xw") > 0L, expr("(1000 * zw) DIV xw"))
          .as("croston_milli"))
      .orderBy(col("partkey").asc)
  }

  /** Newsvendor service-level stock per part: the order-up-to
    * quantity covering `serviceBp` of WEEKLY demand (the classic
    * critical-fractile read with the fractile declared, plus the
    * safety margin over mean demand). The essential scale trick is
    * the implicit-zero quantile: most part-weeks have NO demand, and
    * a dense part×week spine is exactly the cross-join a 100 TB plan
    * must avoid — instead the nearest-rank position r over ALL T
    * weeks is answered by arithmetic: if r ≤ T − nz the quantile is
    * 0 (it falls in the dark weeks), else it is the (r−(T−nz))-th
    * smallest NONZERO week. Only observed (part, week) rows ever
    * shuffle.
    *
    * All integer: rank = ceil(T·p/10⁴) by the house (+9999) DIV
    * rule; means in milli-units by integral division.
    *
    * Scale shape: one fact pass to the persisted (part, week) grain
    * (caller owns the cache); the rank window and the per-part stats
    * subset-cluster on one hash(partkey) shuffle; the week-span is a
    * parallel scalar aggregate straight off the cached (part, week)
    * frame, reattached by crossJoin(broadcast(·)) — never a
    * no-partitionBy window (Exchange SinglePartition over the whole
    * part grain); report at part-dimension grain.
    *
    * Columns: partkey, t_weeks, nz_weeks, total_units,
    * mean_weekly_milli, q_units (the service-level weekly demand),
    * safety_milli (1000·q_units − mean). */
  def newsvendorStock(lineitem: DataFrame,
      serviceBp: Long = 9500L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(serviceBp >= 1L && serviceBp <= 10000L,
      "serviceBp in [1,10000]")
    val pw = lineitem
      .filter(col("l_shipdate").isNotNull)
      .groupBy(col("l_partkey").as("partkey"),
        expr("CAST(datediff(to_date(l_shipdate), '1970-01-01')" +
          " AS BIGINT) DIV 7").as("wk"))
      .agg(sum(col("l_quantity").cast("long")).as("units"))
      .persist()
    // filled here, so the broadcast build below reads cached blocks
    // instead of running the fact pass under broadcastTimeout
    pw.count()
    val stats = pw.groupBy(col("partkey"))
      .agg(count(lit(1)).as("nz"), sum(col("units")).as("tot"))
    val ranked = pw.withColumn("rn", row_number().over(
      Window.partitionBy(col("partkey"))
        .orderBy(col("units").asc, col("wk").asc)))
      .select(col("partkey"), col("units"), col("rn"))
    // the global week-span scalar is a parallel aggregate straight
    // off the cached (part, week) frame (min/max over all rows = the
    // panel bounds) reattached by crossJoin(broadcast(·)) — no second
    // fact pass (pw is persisted) and no single-partition window
    val span = pw.agg(
      (max(col("wk")) - min(col("wk")) + 1L).as("t"))
    val qq = stats
      .crossJoin(broadcast(span))
      .withColumn("r", expr(s"(t * $serviceBp + 9999) DIV 10000"))
      .withColumn("j", col("r") - (col("t") - col("nz")))
    qq.join(ranked,
        qq("partkey") === ranked("partkey") && ranked("rn") === qq("j"),
        "left")
      .select(qq("partkey"), col("t").as("t_weeks"),
        col("nz").as("nz_weeks"), col("tot").as("total_units"),
        expr("(1000 * tot) DIV t").as("mean_weekly_milli"),
        coalesce(col("units"), lit(0L)).as("q_units"),
        (lit(1000L) * coalesce(col("units"), lit(0L)) -
          expr("(1000 * tot) DIV t")).as("safety_milli"))
      .orderBy(col("partkey").asc)
  }

  /** ABC–XYZ inventory classification — the planner's two-axis part
    * taxonomy: ABC by cumulative revenue share (the Pareto cut q268
    * reports globally, applied as a per-part class) crossed with XYZ
    * by weekly-demand variability (squared coefficient of variation
    * over ALL span weeks — dark weeks are true zeros via the q323
    * implicit-zero arithmetic: CV² = (T·Σu² − (Σu)²)/(Σu)², no
    * spine). A-X parts get tight replenishment, C-Z parts get
    * make-to-order — the census says how much of the catalog and
    * revenue sits in each regime.
    *
    * Boundary rules, deterministic: ABC by the PRIOR cumulative share
    * (revenue desc, partkey tie-break) — the part that crosses a
    * threshold still belongs to the class it completes, so the top
    * part is always A even at 90% share; XYZ thresholds on exact
    * CV²_bp. All arithmetic integral (decimal(38,0) cross terms).
    *
    * Scale shape: one fact pass to the persisted (part, week) grain;
    * part-grain stats, the ABC rank window (part-dimension bounded —
    * the skyline single-partition regime), and the ≤9-row census are
    * dimension metadata.
    *
    * Columns: abc_class, xyz_class, n_parts, revenue_cents,
    * revenue_share_bp, avg_cv2_bp. */
  def abcXyz(lineitem: DataFrame, aShareBp: Long = 8000L,
      bShareBp: Long = 9500L, xCv2Bp: Long = 2500L,
      yCv2Bp: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(aShareBp < bShareBp && bShareBp <= 10000L, "A < B <= 10000")
    require(xCv2Bp < yCv2Bp, "X < Y")
    val dec = "decimal(38,0)"
    val pw = lineitem
      .filter(col("l_shipdate").isNotNull)
      .groupBy(col("l_partkey").as("partkey"),
        expr("CAST(datediff(to_date(l_shipdate), '1970-01-01')" +
          " AS BIGINT) DIV 7").as("wk"))
      .agg(sum(col("l_quantity").cast("long")).as("units"),
        sum(floor(col("l_extendedprice") * lit(100.0)).cast("long"))
          .as("cents"))
      .persist()
    val span = pw.agg((max(col("wk")) - min(col("wk")) + 1L).as("t"))
    val wAbc = Window.orderBy(col("rev").desc, col("partkey").asc)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val parts = pw.groupBy(col("partkey"))
      .agg(sum(col("cents")).as("rev"), sum(col("units")).as("tot"),
        sum(expr(s"CAST(units AS $dec) * units")).as("s2"))
      .crossJoin(broadcast(span))
      .withColumn("cv2_bp", when(col("tot") > 0L, expr(
        s"""CAST((CAST(10000 AS $dec) *
           |  (CAST(t AS $dec) * s2 - CAST(tot AS $dec) * tot))
           |DIV (CAST(tot AS $dec) * tot) AS BIGINT)""".stripMargin)))
      .withColumn("cum", sum(col("rev")).over(wAbc))
      .withColumn("totrev", sum(col("rev")).over(wAll))
      // boundary products in decimal(38,0): (cum-rev)*10⁴ and
      // share·totrev wrap Long once total revenue cents exceeds
      // ~9.2e14 (TPC-H SF≈40) — same overflow-proofing as the CV²
      // cross terms above
      .withColumn("abc_class",
        when(expr(s"CAST(cum - rev AS $dec) * 10000") <
          expr(s"$aShareBp * CAST(totrev AS $dec)"), "A")
          .when(expr(s"CAST(cum - rev AS $dec) * 10000") <
            expr(s"$bShareBp * CAST(totrev AS $dec)"), "B")
          .otherwise(lit("C")))
      .withColumn("xyz_class",
        when(col("cv2_bp") <= xCv2Bp, "X")
          .when(col("cv2_bp") <= yCv2Bp, "Y").otherwise(lit("Z")))
    parts.groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("revenue_cents"),
        sum(col("cv2_bp")).as("__cv2"))
      .withColumn("revenue_share_bp", expr(
        s"""CAST((10000 * CAST(revenue_cents AS $dec))
           |DIV sum(revenue_cents) OVER () AS BIGINT)""".stripMargin))
      .withColumn("avg_cv2_bp", expr("__cv2 DIV n_parts"))
      .select(col("abc_class"), col("xyz_class"), col("n_parts"),
        col("revenue_cents"), col("revenue_share_bp"), col("avg_cv2_bp"))
      .orderBy(col("abc_class").asc, col("xyz_class").asc)
  }

  /** Stationary distribution of the session transition chain — the
    * long-run event mix the q91 matrix implies, vs the mix actually
    * observed. If the chain ran forever, what share of steps would
    * be purchases? A stationary purchase share far below the
    * empirical one means the observed mix is propped up by session
    * STARTS (users arrive hot and cool down) — a funnel-health read
    * neither the matrix nor the histogram gives alone.
    *
    * Bounded power iteration (the q277/q300 sweep-budget rule):
    * exactly `iters` rounds of π·P in integer ppm, each round
    * re-normalized to 10⁶ with the floor deficit assigned to the
    * lexicographically-first type (deterministic; also the standard
    * renormalize-out-dangling-mass hack for types that never appear
    * as a predecessor). All arithmetic exact; both engines run the
    * identical unrolled ladder.
    *
    * Scale shape: ONE sessionize shuffle into the type²-grain
    * matrix; the matrix (≤|types|² cells — MODEL-ARTIFACT-sized
    * metadata, the BPE-merges collect class) then comes to the
    * driver and the ladder runs in [[stationaryWalk]] — iterating a
    * 36-cell fixpoint as 20 cluster jobs cost 10.7 s of pure stage
    * overhead at sf0.1; as driver arithmetic it is free, and the
    * SAME function serves the streaming twin, so batch≡stream
    * parity is by construction.
    *
    * Columns: event_type, stationary_ppm, empirical_ppm (share of
    * transition TARGETS), delta_ppm. */
  def stationaryMix(events: DataFrame, iters: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1 && iters <= 50, "iters in [1,50]")
    val spark = events.sparkSession
    import spark.implicits._
    val matrix = Sessionize.assignSessions(events)
      .withColumn("prev_type", lag(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"), col("session_seq"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
      .as[(String, String, Long)].collect() // sanctioned: type² cells
      .map { case (p, n, c) => ((p, n), c) }.toMap
    stationaryWalk(matrix, iters)
      .toDF("event_type", "stationary_ppm", "empirical_ppm", "delta_ppm")
      .orderBy(col("event_type").asc)
  }

  /** The q350 integer ladder over a ((prev, next) → count) matrix —
    * shared verbatim by [[stationaryMix]] and
    * `streaming.StationaryStream`. Floors per (i,j) term (the
    * decimal-DIV convention), 10⁶ re-normalization each round with
    * the deficit on the lexicographically-first type. Returns
    * (type, stationary_ppm, empirical_ppm, delta_ppm), type-sorted.
    */
  def stationaryWalk(matrix: Map[(String, String), Long],
      iters: Int = 20): Seq[(String, Long, Long, Long)] = {
    if (matrix.isEmpty) return Nil
    val types = (matrix.keys.map(_._1) ++ matrix.keys.map(_._2))
      .toSeq.distinct.sorted
    val rs = matrix.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    def normalize(raw: Map[String, Long]): Map[String, Long] = {
      val tot = raw.values.sum
      val base = types.map { t =>
        t -> (if (tot > 0) 1000000L * raw.getOrElse(t, 0L) / tot else 0L)
      }.toMap
      val deficit = 1000000L - base.values.sum
      base + (types.head -> (base(types.head) + deficit))
    }
    var pi = normalize(types.map(_ -> 1L).toMap)
    for (_ <- 1 to iters) {
      val raw = types.map { j =>
        j -> matrix.collect { case ((p, n), c) if n == j =>
          (BigInt(pi(p)) * c / rs(p)).toLong // the oracle's HUGEINT DIV
        }.sum
      }.toMap
      pi = normalize(raw)
    }
    val emp = normalize(matrix.groupBy(_._1._2)
      .map { case (n, m) => n -> m.values.sum })
    types.map(t => (t, pi(t), emp(t), pi(t) - emp(t)))
  }

  /** ABC class migration between the two halves of the ship-date
    * span — [[abcXyz]]'s taxonomy made LONGITUDINAL: which parts
    * climbed into A, which A-parts decayed to C, which left the
    * catalog entirely. A static ABC census sizes the replenishment
    * tiers; the transition matrix says how STABLE those tiers are —
    * churn here means the planner's tight-control set is stale the
    * month it ships ('absent' rows are entries/exits).
    *
    * Same boundary arithmetic as q329 (PRIOR cumulative share in
    * decimal(38,0), revenue desc / partkey tie-break), applied per
    * half; midpoint = ⌊(min+max)/2⌋ ship day, first half inclusive.
    *
    * Scale shape: one fact pass to (half, part) grain; the two rank
    * windows run at part-dimension grain (the q329 skyline regime);
    * the matrix is ≤16 rows.
    *
    * Columns: abc_from, abc_to ('A'/'B'/'C'/'absent'), n_parts,
    * revenue_to_cents (second-half revenue carried by the cell). */
  def abcMigration(lineitem: DataFrame, aShareBp: Long = 8000L,
      bShareBp: Long = 9500L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(aShareBp < bShareBp && bShareBp <= 10000L, "A < B <= 10000")
    val dec = "decimal(38,0)"
    val base = lineitem
      .filter(col("l_shipdate").isNotNull)
      .select(col("l_partkey").as("partkey"),
        expr("CAST(datediff(to_date(l_shipdate), '1970-01-01')" +
          " AS BIGINT)").as("d"),
        floor(col("l_extendedprice") * lit(100.0)).cast("long")
          .as("cents"))
    val mid = base.agg(
      expr("CAST((min(d) + max(d)) DIV 2 AS BIGINT)").as("mid"))
    val halves = base.crossJoin(broadcast(mid))
      .groupBy(when(col("d") <= col("mid"), lit(0L)).otherwise(1L)
        .as("half"), col("partkey"))
      .agg(sum(col("cents")).as("rev"))
      .localCheckpoint(false) // both class builds read it
    def classesOf(half: Long): DataFrame = {
      val wAbc = Window.orderBy(col("rev").desc, col("partkey").asc)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      halves.filter(col("half") === half)
        .withColumn("cum", sum(col("rev")).over(wAbc))
        .withColumn("totrev", sum(col("rev")).over(wAll))
        .select(col("partkey"), col("rev"),
          when(expr(s"CAST(cum - rev AS $dec) * 10000") <
            expr(s"$aShareBp * CAST(totrev AS $dec)"), "A")
            .when(expr(s"CAST(cum - rev AS $dec) * 10000") <
              expr(s"$bShareBp * CAST(totrev AS $dec)"), "B")
            .otherwise(lit("C")).as("cls"))
    }
    classesOf(0L)
      .select(col("partkey"), col("cls").as("abc_from"))
      .join(classesOf(1L).select(col("partkey"),
        col("cls").as("abc_to"), col("rev").as("rev_to")),
        Seq("partkey"), "full_outer")
      .select(
        coalesce(col("abc_from"), lit("absent")).as("abc_from"),
        coalesce(col("abc_to"), lit("absent")).as("abc_to"),
        coalesce(col("rev_to"), lit(0L)).as("rev_to"))
      .groupBy(col("abc_from"), col("abc_to"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_to")).as("revenue_to_cents"))
      .orderBy(col("abc_from").asc, col("abc_to").asc)
  }

  /** Exact Shapley-value conversion attribution (Shapley '53 applied
    * to touch sets — the cooperative-game model that q292's Markov
    * removal effect approximates from one direction and q294's fixed
    * U-shape hard-codes): credit for channel c is its average
    * marginal contribution over ALL orderings of the channel
    * coalition,
    *   φ_c = Σ_{S ⊆ Ch\{c}} |S|!·(|Ch|−1−|S|)!/|Ch|! · (v(S∪c)−v(S)),
    * with the characteristic function v(S) = number of converting
    * sessions whose pre-conversion touch set is contained in S
    * (the standard data-driven coalition game on conversion counts).
    * Touches strictly BEFORE the session's first `target` event count
    * (the q124 backward-looking rule); a conversion with no prior
    * touch is `direct` — outside the game, credited its own
    * conversions so the efficiency identity closes over the whole
    * report: Σ φ_scaled = |Ch|!·(total conversions).
    *
    * All arithmetic exact: credits are kept ×|Ch|!-scaled (integer),
    * the single terminal bp division is two exactly-computed longs.
    *
    * Scale shape: ONE sessionize shuffle (row_number + the
    * conversion-rank window + the session bit_or all subset-cluster
    * on hash(user_id)); the game itself runs at MASK grain — the
    * fact stream collapses to ≤2^|Ch| rows before any coalition
    * work, and the 2^|Ch|×2^|Ch| subset-sum / |Ch|·2^|Ch| marginal
    * joins are broadcast metadata (|Ch| ≤ 16 by contract), constant
    * in data volume. No driver collect; channels are a DECLARED
    * domain (the q292 convention).
    *
    * Columns: channel (channels ∪ 'direct'), touched_convs
    * (conversions whose touch set contains the channel; = own
    * conversions for direct), phi_scaled (×|Ch|! exact credit),
    * credit_bp (share of total credit). */
  def shapleyAttribution(events: DataFrame, channels: Seq[String],
      target: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chs = channels.distinct.sorted
    require(chs.nonEmpty && chs.size <= 16 && !chs.contains(target),
      "1..16 channels excluding the target")
    val c = chs.size
    def fct(n: Int): Long = (1 to n).foldLeft(1L)((a, x) => a * x)
    val cFact = fct(c)
    val spark = events.sparkSession
    import spark.implicits._

    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
    val ordered = bySession.orderBy(col("ts"), col("event_id"))
    val bitOf = chs.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (ch, i)) =>
        when(col("event_type") === ch, lit(1L << i)).otherwise(acc)
    }
    // mask grain: one fact pass, ≤2^c rows out
    val maskCounts = Sessionize.assignSessions(events)
      .withColumn("rn", row_number().over(ordered))
      .withColumn("conv_rn",
        min(when(col("event_type") === target, col("rn"))).over(bySession))
      .filter(col("conv_rn").isNotNull)
      .withColumn("bit", when(col("rn") < col("conv_rn"), bitOf))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(coalesce(bit_or(col("bit")), lit(0L)).as("mask"))
      .groupBy(col("mask"))
      .agg(count(lit(1)).as("n_conv"))
      .localCheckpoint(false)

    // v(S) = Σ_{∅≠m⊆S} conv(m) — the subset-sum (zeta transform) at
    // coalition grain: 2^c × ≤2^c broadcast pairs, pure metadata
    val subsets = spark.range(1L << c).select(col("id").as("s"))
    val v = subsets
      .join(broadcast(maskCounts),
        (col("s").bitwiseAND(col("mask")) === col("mask")) &&
          col("mask") =!= 0L, "left")
      .groupBy(col("s"))
      .agg(coalesce(sum(col("n_conv")), lit(0L)).as("v"))
      .localCheckpoint(false)

    val chanDf = chs.zipWithIndex
      .map { case (ch, i) => (ch, 1L << i) }.toDF("channel", "bit")
    val weightOf = (0 until c).foldLeft(lit(null).cast("long")) {
      case (acc, k) =>
        when(bit_count(col("s")) === k,
          lit(fct(k) * fct(c - 1 - k))).otherwise(acc)
    }
    val phi = chanDf
      .crossJoin(subsets) // c·2^c literal rows — broadcast metadata
      .filter(col("s").bitwiseAND(col("bit")) === 0L)
      .join(broadcast(v.select(col("s").as("s1"), col("v").as("v_s"))),
        col("s1") === col("s"))
      .join(broadcast(v.select(col("s").as("s2"), col("v").as("v_sc"))),
        col("s2") === col("s").bitwiseOR(col("bit")))
      .withColumn("w", weightOf)
      .groupBy(col("channel"), col("bit"))
      .agg(sum(col("w") * (col("v_sc") - col("v_s"))).as("phi_scaled"))
    // LEFT join on TRUE (not crossJoin): with ZERO converting
    // sessions maskCounts is empty and a cross join would erase every
    // channel row — the report must still list all channels with
    // zeros (the oracle's `chn LEFT JOIN mc ON TRUE` shape)
    val touched = chanDf
      .join(broadcast(maskCounts), lit(true), "left")
      .groupBy(col("channel"))
      .agg(coalesce(sum(when(col("mask").bitwiseAND(col("bit")) =!= 0L,
        col("n_conv"))), lit(0L)).as("touched_convs"))
    val direct = Seq("direct").toDF("channel")
      .join(broadcast(maskCounts.filter(col("mask") === 0L)), lit(true),
        "left")
      .select(col("channel"),
        coalesce(col("n_conv"), lit(0L)).as("touched_convs"),
        (coalesce(col("n_conv"), lit(0L)) * lit(cFact)).as("phi_scaled"))
    val rows = phi.join(touched, Seq("channel"))
      .select(col("channel"), col("touched_convs"), col("phi_scaled"))
      .unionByName(direct)
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rows
      .withColumn("credit_bp",
        when(sum(col("phi_scaled")).over(wAll) > 0L,
          floor(lit(10000.0) * col("phi_scaled") /
            sum(col("phi_scaled")).over(wAll)).cast("long")))
      .orderBy(col("phi_scaled").desc, col("channel").asc)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import scala.collection.mutable

/** Near-duplicate cluster resolution: connected components over a
  * pair set, plus canonical-representative selection per cluster.
  *
  * Pairwise near-dup output (q22/q31/q27) answers "which documents
  * overlap"; a training-data pipeline needs the transitive closure —
  * "which documents are the SAME cluster" — so that exactly one
  * representative per cluster survives. A is a near-dup of B, B of C:
  * keeping A and C double-counts the content even though (A, C) was
  * never emitted as a pair.
  *
  * Algorithm, two phases:
  *  1. Local contraction. Each partition of the pair set runs a
  *     union-find on its executor (one typed `mapPartitions`, min-id
  *     roots) and emits one (node, local min) edge per non-root node:
  *     the partition's pairs arrive as min-rooted stars. Memory per
  *     task is O(distinct nodes of the partition), held in one hash
  *     map with no spill path — bounded by the partition size the
  *     pair build chose, not by the pair set.
  *  2. The alternating large-star / small-star method of Kiveris et
  *     al., "Connected Components in MapReduce and Beyond" (SoCC
  *     2014) — the published shuffle-native formulation (also what
  *     GraphFrames ships) — over the contracted edges. Its rounds only
  *     merge components that span partitions. A pair set held in at
  *     most one partition skips phase 2 whole: phase 1 has seen every
  *     edge, so its stars are the answer — no distinct, no star-forest
  *     probe, no rounds.
  *     Each round is two self-joins on the CURRENT edge set; the edge
  *     count never grows beyond the input pair count (each node keeps
  *     at most one out-edge per round after small-star), and
  *     convergence is O(log² n) rounds in the worst case.
  *
  * 100 TB shape: every step is a bounded per-partition pass or
  * groupBy/join on the PAIR set (millions of rows when the corpus is
  * billions — pairs are the near-dup survivors, not the corpus),
  * never on the corpus itself. The driver loop only reads a 3-number
  * aggregate per round — no edge data ever reaches the driver. Label
  * assignment back onto the corpus is one broadcast-or-shuffle hash
  * join.
  */
object Clustering {

  /** Component labels for every node of `pairs` (columns `a`/`b` per
    * `aCol`/`bCol`): one row (node, component) per distinct node,
    * component = min node id of its connected component.
    *
    * Nodes absent from `pairs` are absent here — callers left-join
    * and coalesce to the node's own id (see [[nearDupClusters]]).
    *
    * Ids must be integral (byte/short/int/long): the local pass reads
    * them as `Long`, and `component` keeps the input id type. A pair
    * with a null end is no edge.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    Seq(aCol, bCol).foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents needs integral node ids; column $c is ${t.simpleString}")
    }
    // checkpoint the (possibly expensive) pair pipeline ONCE; nodes
    // and the initial edge set both derive from the materialized copy
    // instead of re-running the upstream lineage.
    val p0 = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(false)
    val nodes = p0.select(col("a").as("n"))
      .unionByName(p0.select(col("b").as("n"))).distinct()
    val idType = nodes.schema("n").dataType

    // The checkpoint's partitions are already computed: reading their
    // count runs no job. At most one partition means the local
    // union-find sees every edge and emits each non-root node once.
    val onePartition = p0.queryExecution.toRdd.getNumPartitions <= 1

    // canonical undirected edge set: (hi > lo), no self-loops — each
    // partition's pairs contracted to min-rooted stars by the local
    // union-find; the distinct drops the (node, min) edges that
    // several partitions emit alike.
    // Each round references the previous edge set twice, so the plan
    // lineage doubles per round — checkpoint every round to truncate
    // it (the standard iterative-DataFrame discipline; without it the
    // optimizer re-plans an exponentially growing tree). localCheckpoint
    // keeps blocks on executor storage — on a production cluster with
    // a configured checkpoint dir, swap for Dataset.checkpoint to make
    // rounds re-computable after executor loss.
    // non-eager: the star-forest probe below materializes the
    // checkpoint, so each round runs ONE job for checkpoint+test (one
    // partition has no probe: the labels job materializes it).
    import p0.sparkSession.implicits._
    val stars = p0.filter(col("a").isNotNull && col("b").isNotNull)
      .select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .mapPartitions(localStars)
      .select(col("_1").cast(idType).as("hi"), col("_2").cast(idType).as("lo"))
    var edges = (if (onePartition) stars else stars.distinct())
      .localCheckpoint(false)

    // Convergence = the edge set IS a min-rooted star forest, which is
    // exactly the fixpoint family of large∘small (Kiveris et al. §3):
    // (a) no node is both a leaf (hi) and a root (lo) — depth 1; and
    // (b) every leaf points at exactly ONE root. Given the hi > lo
    // invariant each root is automatically its star's minimum. Testing
    // the ROUND OUTPUT structurally (one aggregate job, materializing
    // the checkpoint as a side effect) converges one round earlier
    // than the count-and-except formulation — no confirmation round
    // re-deriving an identical set, no anti-join proof job — which at
    // bench scale halves the per-query driver/stage overhead and at
    // 100 TB saves two full shuffle rounds over the pair set.
    def isStarForest(e: DataFrame): Boolean = {
      val roots = e.select(col("lo").as("x")).distinct()
      val s = e.join(roots, e("hi") === roots("x"), "left")
        .agg(count(lit(1)).as("n"), count(col("x")).as("chained"),
          countDistinct(col("hi")).as("nhi"))
        .first()
      s.getLong(0) == 0L || (s.getLong(1) == 0L && s.getLong(0) == s.getLong(2))
    }

    // one partition's stars are the final star forest: the probe
    // could only answer yes
    var converged = onePartition || isStarForest(edges)
    var iter = 0

    while (!converged && iter < maxIter) {
      // large-star(u): emit (v, m) for v ∈ Γ(u), v > u, where
      // m = min(Γ(u) ∪ {u}) — strictly-larger neighbors hook onto the
      // neighborhood minimum. Needs the SYMMETRIC adjacency.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mLarge = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterLarge = sym.join(mLarge, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()

      // small-star(u): over directed edges hi→lo (all lo < hi), with
      // m = min(Γ(hi) ∪ {hi}) = min(lo): every other lo re-hooks to m,
      // and hi itself hooks to m.
      val mSmall = afterLarge.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = afterLarge.join(mSmall, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(mSmall.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(false)

      converged = isStarForest(next)
      edges = next
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")

    // star forest: every non-root points at its component min; roots
    // appear only on the lo side.
    nodes
      .join(edges.select(col("hi").as("n"), col("lo").as("root")), Seq("n"), "left")
      .select(col("n").as("node"), coalesce(col("root"), col("n")).as("component"))
  }

  /** One partition's pairs as min-rooted stars: a union-find whose
    * union keeps the smaller root, so every root is its local
    * component's minimum, then one (node, root) edge per non-root
    * node — hi > lo, never a self-loop. State is one map entry per
    * distinct node of the partition. */
  private def localStars(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    pairs.foreach { case (a, b) =>
      if (a != b) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    // find only rewrites values of existing keys: the map never
    // rehashes under this iterator
    parent.keysIterator.map(n => (n, find(n))).filter { case (n, r) => n != r }
  }

  /** Per-document near-dup cluster assignment over the MinHash+LSH
    * pair set: (doc_id, component, cluster_size, canonical_doc_id) for
    * EVERY document (singletons are their own cluster). The canonical
    * representative is the longest text in the cluster (the usual
    * keep-the-most-content policy), doc_id-tie-broken; null text sorts
    * last. One window shuffle on component after the label join.
    */
  def nearDupClusters(docs: DataFrame, thresholdBp: Long = 8000L): DataFrame =
    clustersFrom(assignments(docs, thresholdBp))

  /** THE shared cluster-assignment artifact — the library-level
    * contract for the CC family (q42/q102/q129/q182): the full
    * doc-grain frame `(doc_id, component, cluster_size,
    * canonical_doc_id, source, n_tokens)` that every downstream dedup
    * report is a pure aggregate of. Compute it ONCE per (corpus,
    * threshold), persist/checkpoint it, and feed the `*From`
    * parameterizations — each standalone report otherwise re-runs the
    * LSH pair build + connected components, the expensive 90% of
    * every query in the family. At 100 TB this is the difference
    * between one CC pass and four.
    *
    * `n_tokens` uses the house whitespace token count with null text
    * counting 0 (the [[dedupImpact]] convention). */
  def assignments(docs: DataFrame, thresholdBp: Long = 8000L): DataFrame = {
    val toks = when(col("text").isNotNull,
      size(split(col("text"), " ")).cast("long")).otherwise(0L)
    clustersCarrying(docs, thresholdBp, Seq(col("source"), toks.as("n_tokens")))
  }

  /** q42's shape from a prebuilt [[assignments]] frame. */
  def clustersFrom(assign: DataFrame): DataFrame =
    assign.select(col("doc_id"), col("component"), col("cluster_size"),
      col("canonical_doc_id"))

  /** [[nearDupClusters]] with extra doc columns carried through the
    * ONE corpus-grain label join (so composed reports don't pay a
    * second corpus scan + join to re-attach them). */
  private def clustersCarrying(docs: DataFrame, thresholdBp: Long,
      carry: Seq[Column]): DataFrame = {
    // CC at REPRESENTATIVE (distinct-text) grain: exact replays of a
    // text collapse to one node, so the edge set tracks the near-dup
    // relation, not the replay factor (member-grain edges grow
    // C(d,2) per d-times-replayed text — quadratic on the crawl
    // corpora this is for). Members re-attach afterwards: their
    // group's rep id is min(doc_id) over the text-hash window — ONE
    // corpus shuffle on md5(text), no join against the signature
    // frames — and the rep's component arrives by a node-grain
    // (pair-set-bounded, broadcastable) join. Labels are IDENTICAL to
    // the member-grain formulation because each group's rep is its
    // min doc_id and a shingled group is internally one cluster (the
    // q42/q102 oracles, computed member-grain, pin this). Null and
    // sub-shingle texts have no shingle set, never pair, and keep
    // their own id — the shOk guard reproduces that (their window
    // value is computed but unused).
    val repPairs = Dedup.repNearDupPairs(docs, thresholdBp)
    val labels = connectedComponents(repPairs)
      .select(col("node").as("__rep"), col("component"))
    val shOk = coalesce(size(split(col("text"), " ")), lit(-1)) >= Dedup.ShingleSize
    val wTh = Window.partitionBy(md5(col("text")))
    val withRep = docs.select(col("doc_id") +: col("text") +: carry: _*)
      .withColumn("__rep",
        when(col("text").isNotNull && shOk,
          min(col("doc_id")).over(wTh)))
    val labeled = withRep
      .join(labels, Seq("__rep"), "left")
      .withColumn("component",
        coalesce(col("component"), col("__rep"), col("doc_id")))
      .drop("__rep")
    val byComponent = Window.partitionBy(col("component"))
    val canonicalOrder = byComponent
      .orderBy(coalesce(length(col("text")), lit(-1)).desc, col("doc_id").asc)
    labeled
      .withColumn("cluster_size", count(lit(1)).over(byComponent))
      .withColumn("canonical_doc_id", first(col("doc_id")).over(canonicalOrder))
      .drop("text")
  }

  /** Dedup impact report: what near-dup canonicalization saves, per
    * source — the accounting table every dedup pass ships with (the
    * "X% of the crawl was duplicate" number). A document is KEPT iff
    * it is its cluster's canonical representative ([[nearDupClusters]]
    * semantics: longest text wins, id tie-break; singletons keep
    * themselves). Per source: docs/tokens before and after, and the
    * token savings rate in basis points (⌊10000·dropped/total⌋; 0 for
    * an all-null-text source). Null-text docs count 0 tokens.
    *
    * Scale shape: rides [[nearDupClusters]] (pair-set CC + one label
    * join); `source` and the token count are carried through that one
    * corpus-grain join (no second corpus scan), and the report itself
    * is an aggregate on `source` — a bounded-domain key, so it adds
    * one partial-agg shuffle of source-grain partials. */
  def dedupImpact(docs: DataFrame, thresholdBp: Long = 8000L): DataFrame =
    dedupImpactFrom(assignments(docs, thresholdBp))

  /** [[dedupImpact]] from a prebuilt [[assignments]] frame: one
    * source-grain aggregate, no corpus or pair-set work. */
  def dedupImpactFrom(assign: DataFrame): DataFrame =
    assign
      .withColumn("kept", (col("doc_id") === col("canonical_doc_id")).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(col("n_tokens") * col("kept")).as("tokens_kept"))
      .withColumn("savings_bp",
        when(col("tokens_total") === 0L, lit(0L))
          .otherwise(floor(lit(10000.0) *
            (col("tokens_total") - col("tokens_kept")) / col("tokens_total"))
            .cast("long")))

  /** Cluster-size distribution of the q42 near-dup graph — the shape
    * report read BEFORE acting on dedup results: a corpus whose mass
    * sits in two mega-clusters (boilerplate black holes) needs a
    * different intervention (q123's deny-list) than one with many
    * small clusters (normal crawl duplication). Sizes land in ⌊log₂⌋
    * buckets (q110's geometric-bucket convention: bitlen-as-string
    * so power-of-two boundaries are engine-exact).
    *
    * Scale shape: rides the q42 CC output; one component-grain
    * aggregate collapses docs → clusters, then the ≤64-bucket
    * histogram; doc share windows over the bucket domain. */
  def clusterSizeHistogram(docs: DataFrame, thresholdBp: Long = 8000L): DataFrame =
    clusterSizeHistogramFrom(assignments(docs, thresholdBp))

  /** [[clusterSizeHistogram]] from a prebuilt [[assignments]] frame. */
  def clusterSizeHistogramFrom(assign: DataFrame): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    assign
      .groupBy(col("component"))
      .agg(max(col("cluster_size")).as("sz")) // constant within component
      .withColumn("bucket", (length(bin(col("sz"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .withColumn("docs_bp",
        floor(lit(10000.0) * col("n_docs") / sum(col("n_docs")).over(wAll))
          .cast("long"))
  }

  /** Dedup × quality interaction: per ⌊log₂ cluster-size⌋ bucket, how
    * many docs pass the q18 quality gate — the curation question the
    * two reports can't answer alone: ARE the heavily-duplicated
    * clusters (boilerplate, mirrored spam, scraped templates) lower
    * quality than the singletons? A falling quality_bp with rising
    * bucket is the empirical license to dedup aggressively; a flat
    * profile means dedup and quality filtering are independent axes.
    *
    * Scale shape: rides [[nearDupClusters]] (CC at representative
    * grain, q42) joined at doc grain with the q18 quality verdict —
    * one corpus-grain join, then a ≤64-bucket aggregate. NULL-text
    * docs carry a NULL verdict (excluded from n_quality_ok, counted
    * in n_docs — absence is visible, the q143 convention).
    *
    * Columns: bucket, n_docs, n_quality_ok, quality_bp. */
  def clusterQualityProfile(docs: DataFrame, thresholdBp: Long = 8000L,
      minTokens: Long = 20L, maxShortBp: Long = 4000L): DataFrame =
    clusterQualityProfileFrom(assignments(docs, thresholdBp),
      TextAnalysis.textQuality(docs, minTokens, maxShortBp))

  /** [[clusterQualityProfile]] from a prebuilt [[assignments]] frame
    * and a doc-grain quality verdict (q18's output): one doc-grain
    * join + the ≤64-bucket aggregate. */
  def clusterQualityProfileFrom(assign: DataFrame, quality: DataFrame): DataFrame = {
    val cl = assign.select(col("doc_id"), col("cluster_size"))
    val q = quality
      .select(col("doc_id"), col("quality_ok").cast("long").as("__ok"))
    cl.join(q, Seq("doc_id"))
      .withColumn("bucket", (length(bin(col("cluster_size"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__ok")), lit(0L)).as("n_quality_ok"))
      .withColumn("quality_bp",
        floor(lit(10000.0) * col("n_quality_ok") / col("n_docs"))
          .cast("long"))
      .orderBy(col("bucket").asc)
  }
}

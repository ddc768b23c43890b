package graft

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.ops.Clustering

class ClusteringSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  /** Reference union-find over the same pairs. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /** Labels of `pairs`, spread over `n` partitions first when given:
    * the local union-find contracts each partition on its own, and
    * the star rounds merge what spans partitions. */
  private def cc(pairs: Seq[(Long, Long)], n: Option[Int] = None): Map[Long, Long] = {
    val df = pairs.toDF("doc_a", "doc_b")
    Clustering.connectedComponents(n.fold(df)(k => df.repartition(k)))
      .as[(Long, Long)].collect().toMap
  }

  /** Labels equal union-find in the default layout and at 1, 3 and 8
    * partitions (the 19-edge chain at 8 leaves links between
    * partitions, so the distributed rounds run). */
  private def assertLayoutInvariant(pairs: Seq[(Long, Long)]): Unit = {
    val want = unionFind(pairs)
    Seq(None, Some(1), Some(3), Some(8)).foreach { n =>
      assert(cc(pairs, n) == want, s"partitions: ${n.getOrElse("default")}")
    }
  }

  test("connectedComponents matches union-find on assorted graph shapes") {
    val graphs = Table(
      "pairs",
      // long chain (worst case for naive propagation)
      (1L to 19L).map(i => (i, i + 1)),
      // two components + reversed/self/dup edges
      Seq((5L, 3L), (3L, 9L), (10L, 20L), (20L, 10L), (7L, 7L), (9L, 5L)),
      // star already
      Seq((1L, 2L), (1L, 3L), (1L, 4L)),
      // binary-tree-ish merge
      Seq((8L, 4L), (4L, 2L), (2L, 1L), (8L, 12L), (12L, 14L), (100L, 50L))
    )
    forAll(graphs) { pairs =>
      assertLayoutInvariant(pairs)
    }
  }

  test("connectedComponents on random graphs equals union-find") {
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { _ =>
      val pairs = Seq.fill(60)((rnd.nextLong(40).abs, rnd.nextLong(40).abs))
        .filter(p => p._1 != p._2)
      assertLayoutInvariant(pairs)
    }
  }

  test("connectedComponents of an empty pair set is empty") {
    assert(cc(Seq.empty) == Map.empty)
    val sc = spark.sparkContext
    Seq(sc.emptyRDD[(Long, Long)], sc.parallelize(Seq.empty[(Long, Long)], 1)).foreach { rdd =>
      val out = Clustering.connectedComponents(rdd.toDF("doc_a", "doc_b"))
      assert(out.count() == 0L, s"partitions: ${rdd.getNumPartitions}")
    }
  }

  test("connectedComponents over one partition starts no job while it is built") {
    // the local union-find has seen every edge: no distinct, no
    // star-forest probe, no rounds run before the labels are read
    val pairs = (1L to 19L).map(i => (i, i + 1))
    val (out, started) = withJobCount(
      Clustering.connectedComponents(pairs.toDF("doc_a", "doc_b").coalesce(1)))
    assert(started == 0, s"building connectedComponents started $started jobs")
    assert(out.as[(Long, Long)].collect().toMap == unionFind(pairs))
  }

  test("connectedComponents on Int ids: same labels, component stays int") {
    val pairs = Seq((5L, 3L), (3L, 9L), (10L, 20L), (7L, 7L), (9L, 5L), (21L, 20L))
    val out = Clustering.connectedComponents(
      pairs.map { case (a, b) => (a.toInt, b.toInt) }.toDF("doc_a", "doc_b"))
    assert(out.schema("component").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.as[(Int, Int)].collect().map { case (n, c) => n.toLong -> c.toLong }.toMap ==
      unionFind(pairs))
  }

  test("connectedComponents rejects non-integral ids") {
    val pairs = Seq(("1", "2"), ("2", "3")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Clustering.connectedComponents(pairs)
    }
    assert(e.getMessage.contains("integral node ids"), e.getMessage)
    assert(e.getMessage.contains("doc_a"), e.getMessage)
  }

  test("nearDupClusters: exact dups cluster; canonical is the longest text") {
    // 1,2: identical (cluster {1,2}); 5: longest text but singleton;
    // 7,8: near-identical long texts (one word changed -> >80% Jaccard)
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 0L),
      (2L, "alpha beta gamma delta epsilon", "en", "s", 0L),
      (5L, (1 to 35).map(i => s"only$i").mkString(" "), "en", "s", 0L),
      (7L, base, "en", "s", 0L),
      (8L, base.replace("w30", "zz"), "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Clustering.nearDupClusters(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, comp, size, canon) => id -> ((comp, size, canon)) }.toMap
    assert(out(1L) == ((1L, 2L, 1L)))
    assert(out(2L) == ((1L, 2L, 1L)))  // identical texts: tie -> min id
    assert(out(5L) == ((5L, 1L, 5L)))  // singleton
    assert(out(7L)._1 == 7L && out(7L)._2 == 2L)
    // canonical of {7,8}: both length 107 vs 106 -> doc 7 is longer?
    // w30 (3 chars) -> zz (2 chars): doc 8 is SHORTER, so canonical = 7
    assert(out(7L)._3 == 7L && out(8L)._3 == 7L)
  }

  test("nearDupClusters covers every document exactly once") {
    val docs = Seq(
      (1L, "a b c d e f", "en", "s", 0L),
      (2L, "a b c d e f", "en", "s", 0L),
      (3L, null.asInstanceOf[String], "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Clustering.nearDupClusters(docs)
    assert(out.count() == 3L)
    assert(out.select("doc_id").distinct().count() == 3L)
    // null-text doc is its own singleton cluster
    val row3 = out.filter(col("doc_id") === 3L)
      .select("component", "cluster_size").as[(Long, Long)].head()
    assert(row3 == ((3L, 1L)))
  }

  test("dedupImpact: per-source accounting over a known cluster") {
    val docs = Seq(
      (1L, "w w w w", "crawl"),   // near-dup pair {1,2}; canonical 1
      (2L, "w w w w", "curated"), // (equal length, id tie-break)
      (3L, "one unique text here", "crawl"),
      (4L, null.asInstanceOf[String], "crawl") // singleton, 0 tokens
    ).toDF("doc_id", "text", "source")
    val got = Clustering.dedupImpact(docs)
      .select("source", "n_docs", "n_kept", "tokens_total", "tokens_kept",
        "savings_bp")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("crawl", 3L, 3L, 8L, 8L, 0L),
      ("curated", 1L, 0L, 4L, 0L, 10000L)))
  }

  test("clusterSizeHistogram: log2 buckets over cluster sizes, docs conserved") {
    // {1,2,3} identical → one size-3 cluster (bucket ⌊log2 3⌋ = 1);
    // 5 and 6 singletons (bucket 0)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 0L),
      (2L, "alpha beta gamma delta epsilon", "en", "s", 0L),
      (3L, "alpha beta gamma delta epsilon", "en", "s", 0L),
      (5L, (1 to 35).map(i => s"only$i").mkString(" "), "en", "s", 0L),
      (6L, null.asInstanceOf[String], "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Clustering.clusterSizeHistogram(docs).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("docs_bp")))).toMap
    assert(out(0L) == ((2L, 2L, 4000L))) // two singletons, 2/5 docs
    assert(out(1L) == ((1L, 3L, 6000L))) // the size-3 cluster
    assert(out.keySet == Set(0L, 1L))
  }

  test("reports over a shared assignments frame equal the standalone entries") {
    // the ops.Shared contract: build Clustering.assignments once,
    // derive every family report from it — results must be IDENTICAL
    // to the standalone (rebuild-everything) entry points, including
    // on null-text singletons and cross-source clusters
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "crawl", 0L),
      (2L, "alpha beta gamma delta epsilon", "en", "curated", 0L),
      (3L, (1 to 35).map(i => s"only$i").mkString(" "), "en", "crawl", 0L),
      (4L, null.asInstanceOf[String], "en", "crawl", 0L),
      (5L, "alpha beta gamma delta epsilon", "en", "crawl", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val assign = Clustering.assignments(docs).localCheckpoint()
    val quality = graft.ops.TextAnalysis.textQuality(docs)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(Clustering.clustersFrom(assign)) ==
      rows(Clustering.nearDupClusters(docs)))
    assert(rows(Clustering.dedupImpactFrom(assign)) ==
      rows(Clustering.dedupImpact(docs)))
    assert(rows(Clustering.clusterSizeHistogramFrom(assign)) ==
      rows(Clustering.clusterSizeHistogram(docs)))
    assert(rows(Clustering.clusterQualityProfileFrom(assign, quality)) ==
      rows(Clustering.clusterQualityProfile(docs)))
  }
}

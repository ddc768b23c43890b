package graft

import org.apache.spark.sql.functions._
import graft.ops.Shared

/** The ops.Shared artifact registry's lifecycle contract: build-once
  * memoization, and — the production failure mode — invalidate +
  * rebuild mid-session. localCheckpoint blocks die with their
  * executors (Shared.scala prescribes `checkpoint`/parquet landing on
  * a real cluster); what the library must guarantee is that a session
  * that loses its artifacts and rebuilds them gets IDENTICAL answers,
  * both from the raw artifact and from family queries derived off it.
  */
class SharedSpec extends SparkSpec {
  import spark.implicits._

  test("memo builds once per key; invalidate forces a rebuild with identical values") {
    var builds = 0
    def build() = {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    }
    val key = "sharedspec_probe"
    val first = Shared.memo(spark, key)(build())
    val again = Shared.memo(spark, key)(build())
    assert(builds == 1, "second memo must serve the cached artifact")
    assert(again.collect().map(_.toString).sorted.sameElements(
      first.collect().map(_.toString).sorted))
    Shared.invalidate(spark)
    val rebuilt = Shared.memo(spark, key)(build())
    assert(builds == 2, "invalidate must drop the entry")
    assert(rebuilt.collect().map(_.toString).sorted.sameElements(
      first.collect().map(_.toString).sorted))
    Shared.invalidate(spark) // leave no fixture entries behind
  }

  test("memo builds different keys concurrently and one key once") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // each build waits until the OTHER key's build has started: a
      // lock held across builds would keep the second build from
      // starting until the first one's await timed out
      val started = Map("sharedspec_a" -> new CountDownLatch(1),
        "sharedspec_b" -> new CountDownLatch(1))
      def build(key: String, other: String): Boolean = {
        var overlapped = false
        Shared.memo(spark, key) {
          started(key).countDown()
          overlapped = started(other).await(30, TimeUnit.SECONDS)
          Seq((1L, key)).toDF("k", "v")
        }
        overlapped
      }
      val both = Future.sequence(Seq(
        Future(build("sharedspec_a", "sharedspec_b")),
        Future(build("sharedspec_b", "sharedspec_a"))))
      assert(Await.result(both, 60.seconds) == Seq(true, true),
        "each key's build must run while the other's is in progress")

      // the same key from two threads: one build, and both callers
      // get the built artifact
      val builds = new AtomicInteger(0)
      val inBuild = new CountDownLatch(1)
      def same(): Seq[String] =
        Shared.memo(spark, "sharedspec_same") {
          builds.incrementAndGet()
          inBuild.countDown()
          Thread.sleep(500) // hold the build open while the other caller arrives
          Seq((1L, "x")).toDF("k", "v")
        }.collect().map(_.toString).toSeq
      val first = Future(same())
      inBuild.await(30, TimeUnit.SECONDS)
      val second = Future(same())
      val got = Await.result(Future.sequence(Seq(first, second)), 60.seconds)
      assert(builds.get == 1, "one key must build once")
      assert(got == Seq(Seq("[1,x]"), Seq("[1,x]")))
    } finally {
      pool.shutdown()
      Shared.invalidate(spark)
    }
  }

  test("family queries survive invalidate + rebuild with identical answers") {
    // q200 (publishes the Z-order cell artifact) and q42 (aggregates
    // the near-dup cluster artifact): run, kill the session's
    // artifacts, run again — the rebuild path must reproduce the
    // answer bit-for-bit, proving correctness does not depend on
    // WHICH build produced the blocks (the executor-loss recovery
    // guarantee; perf is the artifact's job, correctness is this one)
    // q321/q307 additionally exercise the layered calendar artifacts
    // (day_revenue → day_revenue_dense → stl_remainder): the rebuild
    // must regenerate the whole chain, not serve a half-dead layer
    val names = Seq("q200_zorder_cells", "q42_neardup_clusters",
      "q321_deseasonalized_cusum", "q307_runs_test")
    def run(n: String): Seq[String] =
      SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
    val before = names.map(n => n -> run(n)).toMap
    Shared.invalidate(spark)
    names.foreach { n =>
      assert(run(n) == before(n), s"$n changed across an artifact rebuild")
    }
    Shared.invalidate(spark)
  }
}

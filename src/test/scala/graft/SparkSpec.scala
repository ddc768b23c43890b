package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // match the Bench/Verify session tuning: keep bounded-set
    // collect_set aggregates hash-based instead of sort-falling-back
    // after 128 groups (see Bench.scala for the sizing rationale)
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 262144)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // per-JVM temp warehouse: managed-table locations (bucketing tests)
    // never collide with a previous run's leftovers
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
  def sf0001: String =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    // Pin the active session on THIS suite's thread. sbt runs suites
    // on pooled threads; getActiveSession is a thread-local set only
    // on the thread that first built the shared session, so a suite
    // scheduled on a different thread planned datasets with a NULL
    // active session — localCheckpoint's plan construction then hit
    // [INTERNAL_ERROR] NPE in SparkPlan.session (the r10 driver's
    // flaky labelProp determinism failure, GraphSpec:207). Eagerness
    // of the checkpoint can't fix that (the plan is built at
    // construction either way); the thread-local is the root cause.
    SparkSession.setActiveSession(s)
    s
  }
  def sf: String = TestSpark.sf0001

  /** `body`'s value and the number of Spark jobs started while it ran.
    * A fence job, told apart by a local property, runs after `body`:
    * the listener bus delivers in order, so once the fence's start
    * arrives, every job started before it has been counted. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val fenceKey = "graft.test.fence"
    val started = new AtomicInteger(0)
    val fenceStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(fenceKey) != null)) fenceStarted.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(fenceKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(fenceKey, null)
      assert(fenceStarted.await(60, TimeUnit.SECONDS), "fence job start never delivered")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** Minimal GroupState stub for direct state-transition-function
  * tests (shared by the streaming specs). */
final class TestGroupState[T] extends org.apache.spark.sql.streaming.GroupState[T] {
  var value: Option[T] = None
  var timedOut: Boolean = false
  override def exists: Boolean = value.isDefined
  override def get: T = value.get
  override def getOption: Option[T] = value
  override def update(t: T): Unit = value = Some(t)
  override def remove(): Unit = value = None
  override def hasTimedOut: Boolean = timedOut
  override def setTimeoutDuration(ms: Long): Unit = ()
  override def setTimeoutDuration(d: String): Unit = ()
  override def setTimeoutTimestamp(ms: Long): Unit = ()
  override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
  override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}

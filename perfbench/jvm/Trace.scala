package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sink.{KeyedStore, StoreProvider}

/** Spans kept in memory and written out when the run ends. Times are
  * epoch milliseconds, the clock Spark's listener events carry. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long = -1L,
    attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

final class Spans {
  private val next = new AtomicLong(0)
  val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def open(parent: Long, kind: String, name: String,
      start: Long = System.currentTimeMillis()): Span = {
    val s = Span(next.incrementAndGet(), parent, kind, name, start)
    all.add(s); s
  }
}

/** Spark listener for the traced run: jobs, stages and task metrics,
  * attributed to the benchmark span that submitted the job (a local
  * property the driver thread sets, inherited by every job it starts,
  * broadcast jobs included). */
final class SchedTrace(spans: Spans) extends SparkListener {
  val SpanKey = "perfbench.span"
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageParent = new ConcurrentHashMap[Int, Span]()
  /** Per phase span id: summed task metrics and task run intervals. */
  val perPhase = new ConcurrentHashMap[Long, PhaseTasks]()
  val aqeUpdates = new LongAdder

  final class PhaseTasks {
    val sums = new ConcurrentHashMap[String, LongAdder]()
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
    /** The largest peak execution memory of one task. */
    val peakMem = new AtomicLong(0L)
    def add(k: String, v: Long): Unit =
      sums.computeIfAbsent(k, _ => new LongAdder).add(v)
  }

  private def phaseOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = phaseOf(e.properties)
    val s = spans.open(parent, "job", s"job ${e.jobId}", e.time)
    jobSpan.put(e.jobId, s)
    e.stageIds.foreach(id => stageParent.put(id, s))
    perPhase.computeIfAbsent(parent, _ => new PhaseTasks).add("jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    val job = stageParent.get(info.stageId)
    val s = spans.open(if (job == null) 0L else job.id, "stage",
      s"stage ${info.stageId}.${info.attemptNumber()}",
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    stageSpan.put(info.stageId, s)
    perPhase.computeIfAbsent(phaseOf(e.properties), _ => new PhaseTasks).add("stages", 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      s.attrs("tasks") = e.stageInfo.numTasks
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageParent.get(e.stageId)
    val phase = if (job == null) 0L else job.parent
    val p = perPhase.computeIfAbsent(phase, _ => new PhaseTasks)
    val info = e.taskInfo
    p.intervals.add(Array(info.launchTime, info.finishTime))
    p.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      p.add("run_ms", m.executorRunTime)
      p.add("cpu_ns", m.executorCpuTime)
      p.add("gc_ms", m.jvmGCTime)
      p.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      p.peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      p.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      p.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      p.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      p.add("rows_read", m.inputMetrics.recordsRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
      aqeUpdates.increment()
}

/** Catalyst phase times of every action the driver thread runs. */
final class PlanTrace extends QueryExecutionListener {
  val phaseMs = new ConcurrentHashMap[String, LongAdder]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.computeIfAbsent(phase, _ => new LongAdder).add(summary.durationMs)
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch progress of every streaming query. The untraced run
  * keeps this one listener: batch commit times are what event latency
  * is measured to. */
final case class StreamBatch(query: String, batchId: Long, endOffset: Long,
    rows: Long, doneNs: Long, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long, stateCommitMs: Long)

final class StreamTrace extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    batches.add(StreamBatch(p.id.toString, p.batchId, end, p.numInputRows, now, d,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum))
  }
}

/** Per-operation call counts and times of the keyed store, shared by
  * every executor thread of this JVM. */
object StoreTiming {
  val ops: Seq[String] = Seq("increment", "get", "put", "insert_key",
    "scan", "scan_prefix", "replace_group", "tx_wait")
  val calls: Map[String, LongAdder] = ops.map(_ -> new LongAdder).toMap
  val nanos: Map[String, LongAdder] = ops.map(_ -> new LongAdder).toMap
  val prefixRows = new LongAdder
  def reset(): Unit = {
    (calls.values ++ nanos.values).foreach(_.reset()); prefixRows.reset()
  }
  @inline def time[T](op: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      nanos(op).add(System.nanoTime() - t0); calls(op).increment()
    }
  }
}

/** Decorator that times each call into the wrapped store. */
final class TimingStore(inner: KeyedStore) extends KeyedStore {
  import StoreTiming.time
  def increment(table: String, key: Seq[String], delta: Long): Unit =
    time("increment")(inner.increment(table, key, delta))
  def get(table: String, key: Seq[String]): Option[Long] =
    time("get")(inner.get(table, key))
  def put(table: String, key: Seq[String], value: Long): Unit =
    time("put")(inner.put(table, key, value))
  def insertKey(table: String, key: Seq[String]): Unit =
    time("insert_key")(inner.insertKey(table, key))
  def replaceGroup(table: String, groupPrefix: Seq[String],
      rows: Seq[(Seq[String], Long)]): Unit =
    time("replace_group")(inner.replaceGroup(table, groupPrefix, rows))
  def scan(table: String): Seq[(List[String], Long)] =
    time("scan")(inner.scan(table))
  override def scanPrefix(table: String, prefix: Seq[String]): Seq[(List[String], Long)] = {
    val rows = time("scan_prefix")(inner.scanPrefix(table, prefix))
    StoreTiming.prefixRows.add(rows.size)
    rows
  }
  override def txBegin(): Unit = time("tx_wait")(inner.txBegin())
  override def txCommit(): Unit = inner.txCommit()
  def close(): Unit = inner.close()
}

final case class TimingProvider(inner: StoreProvider) extends StoreProvider {
  def open(): KeyedStore = new TimingStore(inner.open())
}

/** The traced run's listeners, attached to one session. */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val sched = new SchedTrace(spans)
  val plans = new PlanTrace
  private val sc: SparkContext = spark.sparkContext
  sc.addSparkListener(sched)
  spark.listenerManager.register(plans)

  /** Run `f` under a new span; jobs it submits are attributed to it. */
  def span[T](parent: Long, kind: String, name: String)(f: Span => T): T = {
    val s = spans.open(parent, kind, name)
    val prev = sc.getLocalProperty(sched.SpanKey)
    sc.setLocalProperty(sched.SpanKey, s.id.toString)
    try f(s) finally {
      s.end = System.currentTimeMillis()
      sc.setLocalProperty(sched.SpanKey, prev)
    }
  }
}

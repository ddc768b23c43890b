package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.ops.Shared
import graft.sink.{InMemoryProvider, InMemoryStore, StoreProvider}
import graft.streaming.AdClickStream

/** The benchmark's JVM side. It sets up a session, runs one workload
  * against the library's public entry points and writes the raw
  * timings, outputs and traces as JSON; `perfbench/run.py` turns them
  * into metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace,
  * data, work, out, cpus, t0 (epoch ms when the process was launched),
  * queries and warm (comma-separated ids), warmup_passes and min_passes
  * (batch workloads), rate, history, backlog,
  * warmup, trigger_ms and chunk_ms (ad-stream). */
object Main {
  type Json = Any

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val out = mutable.LinkedHashMap[String, Json]()
    val work = a("work")
    val cpus = a("cpus")
    // Set-up counts from process launch, so JVM start and class loading
    // are part of it.
    val spark = session(cpus, work, a("data"))
    out("setup_s") = (System.currentTimeMillis() - a("t0").toLong) / 1000.0
    out("versions") = Map("spark" -> spark.version,
      "java" -> System.getProperty("java.runtime.version"))
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val cfg = Cfg(a("workload"), a("seed").toLong, a("seconds").toDouble, a("data"), work)
    try {
      a("workload") match {
        case "batch" =>
          out("batch") = Batch.run(spark, cfg, a("queries").split(",").toSeq,
            a("warm").split(",").toSeq, a("warmup_passes").toInt, a("min_passes").toInt, tracer)
        case "ad-stream" =>
          out("stream") = Stream.live(spark, cfg, a("rate").toInt, a("history").toInt,
            a("backlog").toInt,
            a("warmup").toDouble, a("trigger_ms").toLong, a("chunk_ms").toInt, tracer)
      }
      tracer.foreach(t => out("trace") = traceJson(t))
    } finally {
      out("peak_rss_kb") = peakRssKb()
      out("retained_heap_mb") = retained.toSeq
      writeJson(a("out"), out)
      spark.stop()
    }
  }

  final case class Cfg(workload: String, seed: Long, seconds: Double,
      data: String, work: String)

  /** Retained heap after each measured phase of the run. */
  val retained = mutable.ArrayBuffer[Double]()

  /** The session of this repo's entry points, `local[cpus]` with as
    * many shuffle partitions as cores, UTC and no UI, but with a larger
    * cache of generated classes (below). Warm means one parquet scan,
    * shuffle aggregate and noop write have run.
    *
    * Spark's cache of generated classes holds 100 by default, fewer
    * than the batch workload's queries generate, so at the default
    * every warm execution compiles its plan's code again. Each JVM then
    * settled at its own speed: over five seeds the median of q201's
    * warm executions read 2.1, 2.5, 2.8, 3.2 or 3.3 s. With room for
    * 2,000 classes a warm execution compiles nothing, as warm should
    * mean, and three seeds read 1.5–1.7 s. The first execution of each
    * query still compiles all its code, so that cost shows in `cold_s`. */
  def session(cpus: String, work: String, data: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 262144)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    spark
  }

  def secs(fromNs: Long, toNs: Long = System.nanoTime()): Double = (toNs - fromNs) / 1e9

  /** Heap still in use after a full collection: the memory the
    * workload keeps live, which unlike resident size does not depend
    * on when the collector last ran. Called between measured steps. */
  def retainedHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    // the second collection also frees what the context cleaner let go
    // of (broadcasts, shuffles) once the first one dropped its owners
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  def traceJson(t: Tracer): Json = Map(
    "spans" -> t.spans.all.asScala.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs.toMap)
    },
    "phases" -> t.sched.perPhase.asScala.toSeq.map { case (id, p) =>
      Map("span" -> id,
        "sums" -> p.sums.asScala.map { case (k, v) => k -> v.sum }.toMap,
        "peak_mem_bytes" -> p.peakMem.get,
        "intervals" -> p.intervals.asScala.toSeq.map(_.toSeq))
    },
    "plans_ms" -> t.plans.phaseMs.asScala.map { case (k, v) => k -> v.sum }.toMap,
    "aqe_updates" -> t.sched.aqeUpdates.sum)

  private def toJava(v: Json): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }

  def writeJson(path: String, v: Json): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), toJava(v))
}

/** The batch workload: each query's first execution in the JVM writes
  * its result as parquet for the oracle check; warm passes then re-run
  * the `warm` queries, in a seed-permuted order, into the noop sink. */
object Batch {
  import Main.{secs, Json}

  /** Registry entries for short ids such as `q03`. */
  def resolve(ids: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val byId = SparkEntry.queries.map { case (k, f) => k.takeWhile(_ != '_') -> (k, f) }
    ids.map(byId)
  }

  /** One query's timings and errors over the run. */
  final class Times(val sql: String) {
    var cold, coldBuild: Option[Double] = None
    /** The warm-up passes, which still compile hot code, then the counted passes. */
    val warmup, warmupBuild, warm, warmBuild = mutable.ArrayBuffer[Double]()
    /** (pass, message) of each execution that threw; pass 0 is cold. */
    val errors = mutable.ArrayBuffer[Map[String, Any]]()
    def json: Json = Map("oracle_sql" -> sql, "cold" -> cold, "cold_build" -> coldBuild,
      "warmup" -> warmup, "warmup_build" -> warmupBuild,
      "warm" -> warm, "warm_build" -> warmBuild, "errors" -> errors)
  }

  def run(spark: SparkSession, cfg: Main.Cfg, ids: Seq[String], warmIds: Seq[String],
      warmupPasses: Int, minPasses: Int, tracer: Option[Tracer]): Json = {
    val qs = resolve(ids)
    val rng = new scala.util.Random(cfg.seed)
    val times = qs.map { case (name, _) => name -> new Times(SparkEntry.oracleSql(name)) }.toMap
    val root = tracer.map(_.spans.open(0L, "workload", cfg.workload))
    val passes = mutable.ArrayBuffer[Seq[String]]()

    /** (wall, build) seconds of one execution, or None if it threw. A
      * full collection first keeps the previous query's garbage out of
      * its time, whatever order the pass runs in. */
    def once(pass: Int, name: String, fn: (SparkSession, String) => DataFrame,
        sink: DataFrame => Unit): Option[(Double, Double)] = {
      spark.catalog.clearCache()
      System.gc()
      val q = tracer.map(_.spans.open(root.get.id, "query", s"$name#$pass"))
      def timed[T](kind: String)(f: => T): T = tracer match {
        case Some(t) => t.span(q.get.id, kind, name)(_ => f)
        case None => f
      }
      val t0 = System.nanoTime()
      try {
        val df = timed("build")(fn(spark, cfg.data))
        val t1 = System.nanoTime()
        timed("execute")(sink(df))
        Some((secs(t0), secs(t0, t1)))
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        times(name).errors += Map("pass" -> pass, "msg" -> msg)
        System.err.println(s"[perfbench] $name failed in pass $pass: $msg")
        None
      } finally q.foreach(_.end = System.currentTimeMillis())
    }

    // The cold pass keeps the workload's own order: which query first
    // pays a shared first-use cost then never varies from run to run.
    passes += qs.map(_._1)
    qs.foreach { case (name, fn) =>
      once(0, name, fn, _.write.mode("overwrite").parquet(s"${cfg.work}/out/$name"))
        .foreach { case (t, b) => times(name).cold = Some(t); times(name).coldBuild = Some(b) }
    }
    Main.retained += Main.retainedHeapMb(spark)
    // Warm passes write to the noop sink, in one seed-permuted order.
    // The first `warmupPasses` are not counted: per-query times fall
    // by a quarter or more over them as the JIT compiles hot code. Then at least `minPasses` are counted, and more until
    // `seconds` have passed.
    val order = rng.shuffle(resolve(warmIds))
    var start = System.nanoTime()
    var pass = 1
    while (pass <= warmupPasses + minPasses || secs(start) < cfg.seconds) {
      if (pass == warmupPasses + 1) start = System.nanoTime()
      passes += order.map(_._1)
      order.foreach { case (name, fn) =>
        val t = times(name)
        once(pass, name, fn, _.write.format("noop").mode("overwrite").save()).foreach {
          case (w, b) if pass <= warmupPasses => t.warmup += w; t.warmupBuild += b
          case (w, b) => t.warm += w; t.warmBuild += b
        }
      }
      pass += 1
    }
    Main.retained += Main.retainedHeapMb(spark)
    root.foreach(_.end = System.currentTimeMillis())
    Map("queries" -> times.map { case (n, t) => n -> t.json }, "passes" -> passes,
      "out_dir" -> s"${cfg.work}/out",
      "artifacts" -> Shared.buildSeconds(spark))
  }
}

/** The ad-click job: `statsQuery`, `adStatQuery` and `trendQuery`, each
  * with its own source fed the same lines. One MemoryStream shared by
  * the three queries fails with "Offsets committed out of order". */
object Stream {
  import Main.{secs, Json}

  final class Job(spark: SparkSession, store: String, ckpt: String, traced: Boolean) {
    InMemoryStore.clear(store)
    private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    private implicit val enc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val sources: Seq[MemoryStream[String]] = Seq.fill(3)(MemoryStream[String])
    val provider: StoreProvider =
      if (traced) TimingProvider(InMemoryProvider(store)) else InMemoryProvider(store)
    private var queries: Seq[StreamingQuery] = Nil
    /** Offset of the newest chunk, the same in all three sources. */
    def add(lines: Seq[String]): Long =
      sources.map(_.addData(lines).json().toLong).max
    def start(t: Trigger): Unit = {
      val Seq(a, b, c) = sources.map(_.toDF())
      queries = Seq(
        AdClickStream.statsQuery(a, provider, s"$ckpt/stats", trigger = t),
        AdClickStream.adStatQuery(b, provider, s"$ckpt/adstat", trigger = t),
        AdClickStream.trendQuery(c, provider, s"$ckpt/trend", trigger = t))
    }
    def ids: Map[String, String] =
      queries.zip(Job.Names).map { case (q, n) => q.id.toString -> n }.toMap
    /** Wait until every query has committed a batch that reaches
      * `offset`, as `st` reports them; a query that stopped ends the
      * wait and shows in `failed`. Unlike `processAllAvailable`, this
      * does not wait for the next trigger to find no new data. */
    def await(st: StreamTrace, offset: Long): Unit = {
      def done(q: StreamingQuery): Boolean = !q.isActive ||
        st.batches.asScala.exists(b => b.query == q.id.toString && b.endOffset >= offset)
      while (!queries.forall(done)) Thread.sleep(5)
    }
    def stop(): Unit = queries.foreach(_.stop())
    /** Names of the queries that terminated with an error. */
    def failed: Seq[String] =
      queries.zip(Job.Names).collect {
        case (q, n) if q.exception.isDefined => n
      }
    /** The previous day's per-user counts a long-running job would
      * hold: `n` keys the run never changes, but every scan of the store
      * reads. Their users are outside the generator's range. */
    def preload(n: Int): Unit = {
      val s = new InMemoryStore(store)
      try (0 until n).foreach { i =>
        s.put("ad_user_click_count",
          Seq(AdLoad.HistoryDay, (AdLoad.HistoryUser + i).toString, (i % AdLoad.Ads).toString),
          1L + i % 50)
      } finally s.close()
    }
    /** Number of keys in the store's tables. */
    def keys(): Int = {
      val s = new InMemoryStore(store)
      try AdClickStream.Tables.map(s.scan(_).size).sum finally s.close()
    }
    def dump(): Json = {
      val s = new InMemoryStore(store)
      try AdClickStream.Tables.filterNot(_ == "graft_applied_batch").map { t =>
        t -> s.scan(t).map { case (k, v) => k :+ v.toString }
      }.toMap
      finally s.close()
    }
  }

  object Job {
    val Names: Seq[String] = Seq("stats", "adstat", "trend")
  }

  private def batchesJson(st: StreamTrace, ids: Map[String, String], fromNs: Long): Json =
    st.batches.asScala.toSeq.filter(b => ids.contains(b.query)).map { b =>
      Map("query" -> ids(b.query), "batch" -> b.batchId, "end_offset" -> b.endOffset,
        "rows" -> b.rows, "done_s" -> (b.doneNs - fromNs) / 1e9,
        "durations_ms" -> b.durations, "state_rows" -> b.stateRows,
        "state_bytes" -> b.stateBytes, "state_commit_ms" -> b.stateCommitMs)
    }

  private def storeJson(): Json = Map(
    "calls" -> StoreTiming.calls.map { case (k, v) => k -> v.sum },
    "nanos" -> StoreTiming.nanos.map { case (k, v) => k -> v.sum },
    "prefix_rows" -> StoreTiming.prefixRows.sum)

  private def listen(spark: SparkSession): StreamTrace = {
    val st = new StreamTrace
    spark.streams.addListener(st)
    st
  }

  /** The store first gets `history` keys of the previous day. Cold
    * start: the three queries start on a queued backlog of
    * `backlog` events, as after an outage, and each commits it; this
    * also gives the store the history a long-running job has, so the
    * window below runs against a store that grows little. Then the
    * open loop: every `chunkMs` the single generator thread sends the
    * chunk that was due then, however far behind the queries are.
    * Chunks due during the warm-up are not sampled.
    *
    * Processing-time triggers fire at multiples of the interval on the
    * wall clock. Chunk times count from the last such multiple before
    * the loop starts, so every run samples the same whole trigger
    * cycles; chunks whose time had already passed then go out at once,
    * in the warm-up. */
  def live(spark: SparkSession, cfg: Main.Cfg, rate: Int, history: Int, backlog: Int,
      warmup: Double, triggerMs: Long, chunkMs: Int, tracer: Option[Tracer]): Json = {
    val st = listen(spark)
    val job = new Job(spark, s"live-${cfg.seed}", s"${cfg.work}/ckpt", tracer.isDefined)
    job.preload(history)
    val load = new AdLoad(cfg.seed, rate)
    val perChunk = rate * chunkMs / 1000
    val total = ((warmup + cfg.seconds) * 1000 / chunkMs).toInt
    val warmChunks = (warmup * 1000 / chunkMs).toInt
    val chunks = mutable.ArrayBuffer[Json]()
    val lines = mutable.ArrayBuffer[String]()
    lines ++= load.lines(backlog)
    val backlogOffset = job.add(lines.toSeq)
    val cold0 = System.nanoTime()
    job.start(Trigger.ProcessingTime(triggerMs))
    job.await(st, backlogOffset)
    val keysAtStart = job.keys()
    val t0 = System.nanoTime() - System.currentTimeMillis() % triggerMs * 1000000L
    var k = 0
    var last = backlogOffset
    while (k < total) {
      val due = t0 + (chunkMs / 2 + k.toLong * chunkMs) * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      // store calls are counted from the trigger that opens the window
      if (k == warmChunks) StoreTiming.reset()
      val chunk = load.lines(perChunk)
      val sent = System.nanoTime()
      val off = job.add(chunk)
      last = off
      lines ++= chunk
      chunks += Map("offset" -> off, "due_s" -> secs(t0, due),
        "sent_s" -> secs(t0, sent), "measured" -> (k >= warmChunks))
      k += 1
    }
    job.await(st, last)
    Main.retained += Main.retainedHeapMb(spark)
    job.stop()
    spark.streams.removeListener(st)
    Map("cold_start_s" -> secs(t0, cold0), "history" -> history, "backlog" -> backlog, "store_keys_at_start" -> keysAtStart,
      // batches that cover the measured chunks commit up to one
      // interval after the last of them is due
      "window_s" -> Seq(warmup, warmup + cfg.seconds + triggerMs / 1000.0),
      "chunks" -> chunks, "batches" -> batchesJson(st, job.ids, t0),
      "terminated" -> job.failed,
      "lines" -> lines, "store" -> job.dump(), "store_ops" -> storeJson())
  }
}

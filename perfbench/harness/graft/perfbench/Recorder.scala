package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{ExceptionFailure, ListenerDrain, TaskFailedReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON for the raw record (Scala maps, sequences, numbers, strings). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed call into a public function of an engine layer. Times are
  * milliseconds since the run's epoch; `parent` is -1 for an op's root.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double)

/** One closed-loop operation (or one streaming micro-batch); `traced`
  * when it ran with spans on.
  */
final case class OpRecord(id: Int, kind: String, tag: String, startMs: Double, endMs: Double,
    ok: Boolean, items: Long, traced: Boolean)

/** Everything one run measures: ops, spans, Spark jobs and task metrics,
  * planning phases and heap peaks. Job and task events count only while
  * `measuring` is set, so set-up and warm-up work stay out of the totals.
  *
  * A traced run (`traceRun`) turns spans on for every other round only,
  * so the same window also times the untraced ops the tracing overhead
  * is measured against.
  */
final class Recorder(spark: SparkSession, val traceRun: Boolean) {
  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  /** Epoch offset: listener events carry wall-clock ms. */
  private val wallAtT0 = System.currentTimeMillis() - nowMs

  @volatile var measuring = false
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[Span]
  val failures = ArrayBuffer.empty[String]

  // ---- spans -------------------------------------------------------

  private val nextSpan = new AtomicInteger(0)
  private val current = new ThreadLocal[(Int, Int)] { // (span id, op id)
    override def initialValue(): (Int, Int) = (-1, -1)
  }
  val SpanProp = "perfbench.span"
  /** Spans are recorded (and ops decomposed into their pieces) only
    * while this is set.
    */
  @volatile var tracing = false

  /** Time `body` as a span of `layer`. Spark jobs launched from the body
    * carry the span id as a local property, so their task metrics
    * attribute to it. A no-op wrapper when tracing is off.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      val (parent, op) = current.get
      val id = nextSpan.getAndIncrement()
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set((id, op))
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        current.set((parent, op))
        sc.setLocalProperty(SpanProp, prevProp)
        synchronized { spans += Span(id, layer, name, parent, op, start, end) }
      }
    }

  /** A span id for a span whose bounds are known only later (a
    * streaming micro-batch, timed by its progress event).
    */
  def reserveSpan(): Int = nextSpan.getAndIncrement()

  def addSpan(s: Span): Unit = synchronized { spans += s }

  /** Run `body` as a child of span `parent` within op `op` — for work on
    * a thread the op did not start (a foreachBatch handler).
    */
  def within[T](parent: Int, op: Int)(body: => T): T = {
    val prev = current.get
    current.set((parent, op))
    try body finally current.set(prev)
  }

  /** Run one op: time it, count a non-fatal failure instead of letting
    * it end the run, and report the failure on stderr.
    */
  def op(kind: String, tag: String)(body: => Long): Unit = {
    val id = ops.size
    val traced = tracing
    current.set((-1, id))
    val start = nowMs
    val (ok, items) =
      try (true, span("harness", kind)(body))
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$kind: ${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] op $id ($kind) failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          (false, 0L)
      }
    ops.synchronized { ops += OpRecord(id, kind, tag, start, nowMs, ok, items, traced) }
    current.set((-1, -1))
  }

  // ---- Spark jobs and tasks ----------------------------------------

  /** Per-span (or run-wide, key -1) task totals, indexed by [[Tm]]. */
  private val taskTotals = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentHashMap[Int, Array[Double]]() // id -> [start, end]

  object Tm {
    val Tasks = 0; val RunMs = 1; val CpuNs = 2; val GcMs = 3
    val ShuffleRead = 4; val ShuffleWrite = 5; val Spill = 6
    val OutBytes = 7; val InRecords = 8; val Failures = 9; val Stages = 10
    val names = Seq("tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "output_bytes", "input_records", "task_failures", "stages")
  }

  private def add(key: Int, i: Int, v: Long): Unit =
    taskTotals.computeIfAbsent(key, _ => new Array[Long](Tm.names.size))
      .synchronized { taskTotals.get(key)(i) += v }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (measuring) {
        val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toInt).getOrElse(-1)
        jobs.put(e.jobId, Array(e.time - wallAtT0, Double.NaN))
        e.stageIds.foreach { s => stageSpan.put(s, sp); add(-1, Tm.Stages, 1) }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(1) = e.time - wallAtT0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { sp =>
        val keys = if (sp >= 0) Seq(-1, sp) else Seq(-1)
        val m = e.taskMetrics
        keys.foreach { k =>
          add(k, Tm.Tasks, 1)
          e.reason match {
            // a task killed by a stop (the stream's, at the window's end)
            // does not count; one that failed does
            case f: TaskFailedReason if f.countTowardsTaskFailures => add(k, Tm.Failures, 1)
            case _ =>
          }
          if (m != null) {
            add(k, Tm.RunMs, m.executorRunTime)
            add(k, Tm.CpuNs, m.executorCpuTime)
            add(k, Tm.GcMs, m.jvmGCTime)
            add(k, Tm.ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
            add(k, Tm.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
            add(k, Tm.Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
            add(k, Tm.OutBytes, m.outputMetrics.bytesWritten)
            add(k, Tm.InRecords, m.inputMetrics.recordsRead)
          }
        }
        e.reason match {
          case f: ExceptionFailure =>
            System.err.println(s"[perfbench] task failure: ${f.className}: ${f.description}")
          case _ =>
        }
      }
  }

  // ---- planning phases ---------------------------------------------

  val planPhases = ArrayBuffer.empty[Map[String, Double]]
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (measuring) record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (measuring) record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      planPhases.synchronized {
        planPhases += (phases + ("exec_ms" -> durationNs / 1e6))
      }
    }
  }

  /** Add a planning phase timed outside any action's QueryExecution. */
  def planPhase(name: String, ms: Double): Unit =
    if (measuring) planPhases.synchronized { planPhases += Map(name -> ms) }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  // ---- heap ----------------------------------------------------------

  /** Peak heap left live right after a collection, from every GC's own
    * after-collection figures: the footprint the workload needs. A
    * sampled used-heap peak is mostly not-yet-collected garbage and moves
    * with GC timing (it spread 40% between runs).
    */
  @volatile private var liveAfterGcPeak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (measuring && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if !pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
                !pool.contains("Compressed Class") => u.getUsed
          }.sum
          liveAfterGcPeak = math.max(liveAfterGcPeak, live)
        }
      }, null, null)
    case _ =>
  }

  // ---- window --------------------------------------------------------

  var windowStart = 0.0
  var windowEnd = 0.0

  def startWindow(): Unit = {
    ListenerDrain(spark.sparkContext)
    liveAfterGcPeak = 0L
    windowStart = nowMs
    measuring = true
  }

  def endWindow(): Unit = {
    windowEnd = nowMs
    // jobs still running when the window closes stay in the totals;
    // wait for them so no task event arrives after the read below
    ListenerDrain(spark.sparkContext)
    measuring = false
    ListenerDrain(spark.sparkContext)
  }

  def totals(key: Int): Map[String, Long] = {
    val a = Option(taskTotals.get(key)).getOrElse(new Array[Long](Tm.names.size))
    Tm.names.zip(a).toMap
  }

  def raw: Map[String, Any] = Map(
    "window_ms" -> Seq(windowStart, windowEnd),
    "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "tag" -> o.tag, "start" -> o.startMs,
      "end" -> o.endMs, "ok" -> o.ok, "items" -> o.items, "traced" -> o.traced)),
    "failures" -> failures,
    "spans" -> spans.map(s => Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start" -> s.startMs, "end" -> s.endMs)),
    "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (_, v) => v.toSeq },
    "spark" -> totals(-1),
    "span_tasks" -> taskTotals.asScala.collect { case (k, _) if k >= 0 => k.toString -> totals(k) },
    "plan_phases" -> planPhases,
    "heap_peak_mb" -> liveAfterGcPeak / 1048576.0)
}

/** Fixed CPU-bound work on `cores` threads; returns wall seconds. A host
  * speed diagnostic printed beside each run — it is not a metric.
  */
object HostProbe {
  def run(cores: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val t = System.nanoTime()
    val threads = (0 until cores).map { i =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var acc = 0L
        var n = 0
        while (n < 60000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += x * 31
          n += 1
        }
        sink.addAndGet(acc)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t) / 1e9
  }
}

package graftbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.pipeline.{LLMClient, MockLLM}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's LLM client: MockLLM's answers plus a fixed service
  * time per call, standing in for a remote LLM round trip. The wait
  * parks the task thread rather than spinning, as a network wait would.
  * Calls and busy time are counted process-wide (the benchmark runs
  * Spark in local mode, so executors share this JVM). */
final class BenchLLM(serviceNanos: Long) extends LLMClient {
  private val inner = new MockLLM
  override def complete(prompt: String): String = {
    val t0 = System.nanoTime()
    val out = inner.complete(prompt)
    val deadline = t0 + serviceNanos
    var now = System.nanoTime()
    while (now < deadline) { LockSupport.parkNanos(deadline - now); now = System.nanoTime() }
    BenchLLM.calls.incrementAndGet()
    BenchLLM.busyNanos.addAndGet(now - t0)
    out
  }
}

object BenchLLM {
  /** The modelled per-call service time of a remote LLM. */
  val ServiceMillis: Double = 0.5
  val calls = new AtomicLong
  val busyNanos = new AtomicLong
  def factory: () => LLMClient = {
    val nanos = (ServiceMillis * 1e6).toLong
    () => new BenchLLM(nanos)
  }
}

/** A timed call. `gcMs` is the JVM's collection time inside it (0 for
  * the sampler's spans). */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, request: Int,
    gcMs: Long = 0L)

/** A traced window: spans kept in memory, Spark listener counters,
  * planning-phase times, and a stack sampler on the driver thread that
  * attributes the wall time of a call the benchmark cannot wrap piece
  * by piece (Workflow.run) to the module functions on the stack. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val driver = Thread.currentThread()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  private var nextId = 0 // guarded by spans

  /** Runs `f` as a span, a child of the innermost open span. */
  def span[T](name: String, request: Int)(f: => T): T = {
    val id = spans.synchronized { val i = nextId; nextId += 1; i }
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val gc0 = Trace.gcMillis
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val gc = Trace.gcMillis - gc0
      open = open.tail
      spans.synchronized { spans += Span(id, name, t0, t1, parent, request, gc) }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Durations in seconds of the spans with this name. */
  def durations(name: String): Seq[Double] =
    allSpans.filter(_.name == name).map(s => (s.end - s.start) / 1e9)

  private var llmStart = 0L
  private var busyStart = 0L
  /** LLM calls and LLM busy seconds in the traced window. */
  var llmCalls = 0L
  var llmBusyS = 0.0

  // ---- listener events, kept raw and filtered to measured spans later ----

  private val stageEager = mutable.HashMap.empty[Int, Boolean]
  /** (start epoch ms, eager) per job. */
  val jobEvents = mutable.ArrayBuffer.empty[(Long, Boolean)]
  val stageEvents = mutable.ArrayBuffer.empty[Trace.StageEv]
  /** (start epoch ms, duration ms) per planning phase of each query. */
  val planEvents = mutable.ArrayBuffer.empty[(Long, Long)]

  /** SQL executions started from inside the staging barrier. */
  private val eagerExecutions = mutable.HashSet.empty[Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // an execution's details are the call stack of the thread that
    // started it; its jobs may be submitted from other threads (adaptive
    // execution's query stages), so jobs are matched by execution id
    case x: SparkListenerSQLExecutionStart if x.details.contains(Trace.StagingCall) =>
      synchronized { eagerExecutions += x.executionId }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ids = Seq(SQLExecution.EXECUTION_ID_KEY, SQLExecution.EXECUTION_ROOT_ID_KEY)
      .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
    val eager = ids.exists(id => eagerExecutions(id.toLong))
    jobEvents += ((e.time, eager))
    e.stageIds.foreach(s => stageEager(s) = eager)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    for (a <- si.submissionTime; b <- si.completionTime) stageEvents += Trace.StageEv(a, b,
      stageEager.getOrElse(si.stageId, false), si.numTasks,
      if (m == null) 0L else m.executorRunTime, if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => planEvents += ((p.startTimeMs, p.durationMs)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Epoch milliseconds of a System.nanoTime reading. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(nanos: Long): Long = (nanos + epochOffsetNs) / 1000000L

  def start(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    llmStart = BenchLLM.calls.get()
    busyStart = BenchLLM.busyNanos.get()
    sampler.start()
  }

  def stop(): Unit = {
    sampling = false
    running = false
    sampler.join()
    llmCalls = BenchLLM.calls.get() - llmStart
    llmBusyS = (BenchLLM.busyNanos.get() - busyStart) / 1e9
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ---- stack sampler ----

  /** Module functions the sampler attributes time to: (class, method, name). */
  private val Named = Seq(
    ("graft.sources.FileScan$", "scan", "sources.scan"),
    ("graft.sources.FileScan$", "dedupAgainstHistory", "sources.dedup"),
    ("graft.pipeline.Extraction$", "extract", "pipeline.extract"),
    ("graft.Staging$", "materialize", Trace.Stage),
    ("graft.sinks.Sinks$", "shapeForDb", "sinks.shape"),
    ("graft.sinks.Sinks$", "writeFs", "sinks.write_fs"),
    ("graft.sinks.Sinks$", "upsertHistory", "sinks.upsert_history"),
    // Workflow.run reads the file history table itself
    ("org.apache.spark.sql.classic.DataFrameReader", "parquet", "sources.history_read"))

  private val PeriodNanos = 1000000L
  @volatile private var running = true
  @volatile private var sampling = false
  @volatile private var sampleParent = -1
  @volatile private var sampleRequest = -1

  // the open segment: samples with one attribution and one call path
  @volatile private var segKey: String = null
  private var segName: String = null
  private var segStart = 0L
  private var segLast = 0L
  private var segLlm = 0L

  private def closeSegment(): Unit = if (segKey != null) {
    val name =
      if (segName != Trace.Stage) segName
      else if (BenchLLM.calls.get() > segLlm) "pipeline.extract_stage"
      else "sources.fresh_stage"
    spans.synchronized {
      spans += Span(nextId, name, segStart, segLast, sampleParent, sampleRequest)
      nextId += 1
    }
    segKey = null
  }

  private def sampleOnce(prev: Long): Long = {
    val st = driver.getStackTrace
    val now = System.nanoTime()
    // the outermost named frame: the module call the traced code made
    val hit = st.indices.reverseIterator.flatMap { i =>
      val f = st(i)
      Named.collectFirst {
        case (c, m, n) if f.getClassName == c &&
            (f.getMethodName == m || f.getMethodName.startsWith("$anonfun$" + m + "$")) => (i, n)
      }
    }.nextOption()
    val (name, key) = hit match {
      case Some((i, n)) =>
        // the call path above the match separates two calls of the same
        // function in a row (Workflow.run stages twice)
        val path = st.iterator.drop(i + 1).filter(_.getClassName.startsWith("graft."))
          .map(f => f.getClassName + ":" + f.getLineNumber).mkString(",")
        (n, n + "|" + path)
      case None => ("pipeline.workflow_other", "other")
    }
    if (key != segKey) {
      closeSegment()
      segKey = key; segName = name; segStart = prev; segLlm = BenchLLM.calls.get()
    }
    segLast = now
    now
  }

  private val sampler = new Thread(() => {
    var prev = System.nanoTime()
    while (running) {
      if (sampling) prev = sampleOnce(prev)
      else { closeSegment(); prev = System.nanoTime() }
      LockSupport.parkNanos(PeriodNanos)
    }
    closeSegment()
  }, "graftbench-sampler")
  sampler.setDaemon(true)

  /** Runs `f` as a span with the stack sampler on. */
  def sampled[T](name: String, request: Int)(f: => T): T =
    span(name, request) {
      sampleParent = open.head; sampleRequest = request
      sampling = true
      try f
      finally {
        sampling = false
        // let the sampler close the last segment before the next call
        while (segKey != null) LockSupport.parkNanos(PeriodNanos / 4)
      }
    }
}

object Trace {
  private val Stage = "stage"

  /** The engine's staging barrier. The jobs of a SQL execution started
    * inside it materialize an intermediate result while a plan is being
    * built: eager jobs. */
  val StagingCall = "graft.Staging$.materialize"

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** One finished stage: submission and completion (epoch ms), whether
    * its job was eager, and its task metrics. */
  final case class StageEv(submit: Long, complete: Long, eager: Boolean, tasks: Int,
      taskMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
}

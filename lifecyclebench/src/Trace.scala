package lifecyclebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-span counters, summed over every occurrence of a span. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L; var rowsOut = 0L
  var planMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; spill += o.spill; recordsRead += o.recordsRead
    rowsOut += o.rowsOut; planMs += o.planMs
  }

  def json: String =
    s"""{"jobs":$jobs,"tasks":$tasks,"executor_run_ms":$runMs,"executor_cpu_ns":$cpuNs,""" +
      s""""shuffle_write_bytes":$shuffleWrite,"spill_bytes":$spill,""" +
      s""""records_read":$recordsRead,"rows_out":$rowsOut,"plan_ms":$planMs}"""
}

/** Spans around the benchmark's calls into each layer, with Spark
  * counters attributed through one job group per span. Disabled, a span
  * is a plain call: no listener is registered and no job group is set.
  *
  * Spans are kept in memory and written by [[write]] when the run ends.
  * The stack is inheritable so that spans opened inside `foreachBatch`
  * (on the stream's own thread) nest under the span that started the
  * stream. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  final case class Span(id: Int, name: String, parent: Int, thread: String,
      start: Long, var end: Long = 0L)

  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val groupSpan = new ConcurrentHashMap[String, Span]()
  private val extraRows = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var flushed = false
  @volatile private var active = false

  /** Start recording; spans before this (set-up, warm-up) are plain calls. */
  def activate(): Unit = active = enabled

  private def counters(group: String): Counters =
    if (group == null) null else byGroup.computeIfAbsent(group, _ => new Counters)

  private val listener = new SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val execGroup = new ConcurrentHashMap[Long, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        val c = counters(g); c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageGroup.get(e.stageId))
      val m = e.taskMetrics
      if (c != null && m != null) c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.rowsOut += m.outputMetrics.recordsWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
        if (s.jobGroupId.contains("flush")) flushed = true
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        val c = counters(execGroup.remove(end.executionId))
        // the QueryExecution rides on the end event; its tracker holds
        // the analysis/optimization/planning phase times
        val qe = end.getClass.getMethod("qe").invoke(end)
          .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
        if (c != null && qe != null) {
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          c.synchronized { c.planMs += ms }
        }
      case _ => ()
    }
  }

  /** Streaming progress, recorded in both modes: batch durations are
    * an end-to-end metric. */
  final case class Progress(trigger: Long, addBatch: Long, planning: Long, wal: Long, rows: Long)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.longValue).getOrElse(0L)
      progress.add(Progress(ms("triggerExecution"), ms("addBatch"), ms("queryPlanning"),
        ms("walCommit"), e.progress.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.runId)
  }
  spark.streams.addListener(streamListener)
  if (enabled) sc.addSparkListener(listener)

  /** Wait (bounded) until the stream's last progress event is delivered. */
  def awaitStreamEvents(runId: java.util.UUID): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (!terminated.contains(runId) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    val parent = stack.get()
    val s = Span(ids.incrementAndGet(), name, parent.headOption.map(_.id).getOrElse(-1),
      Thread.currentThread.getName, System.nanoTime())
    spans.synchronized { spans += s }
    groupSpan.put(s"span-${s.id}", s)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    stack.set(s :: parent)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack.set(parent)
      if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      else sc.clearJobGroup()
    }
  }

  /** Charge another job group (a stream's own, set by its engine) to the
    * innermost open span. */
  def adoptGroup(group: String): Unit =
    if (active) stack.get().headOption.foreach(s => groupSpan.put(group, s))

  /** Rows a span hands on without writing them (collected or
    * checkpointed), added to the written rows the listener counts. */
  def rows(n: Long): Unit =
    if (active) stack.get().headOption.foreach(s =>
      extraRows.merge(s.id, n, (a, b) => a + b))

  /** Run a marker job and wait until the listener has seen it, so every
    * earlier event has been delivered. */
  def flush(): Unit = if (enabled) {
    flushed = false
    sc.setJobGroup("flush", "flush", interruptOnCancel = false)
    spark.range(1).collect()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(5)
  }

  final case class Layer(selfS: Double, c: Counters)
  val emptyLayer: Layer = Layer(0, new Counters)

  /** Counters per span id, with the rows the benchmark added. */
  private def perSpan(): Map[Int, Counters] = {
    val out = mutable.HashMap.empty[Int, Counters]
    groupSpan.asScala.foreach { case (g, s) =>
      Option(byGroup.get(g)).foreach(c => out.getOrElseUpdate(s.id, new Counters).add(c))
    }
    extraRows.asScala.foreach { case (id, n) => out.getOrElseUpdate(id, new Counters).rowsOut += n }
    out.toMap
  }

  /** Per span name: self seconds and summed counters. Self time
    * is a span's duration minus its direct children's durations. */
  def layers(): Map[String, Layer] = {
    val all = spans.synchronized(spans.toVector)
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    val per = perSpan()
    all.groupBy(_.name).map { case (name, ss) =>
      val sum = new Counters
      ss.foreach(s => per.get(s.id).foreach(sum.add))
      val self = ss.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum / 1e9
      name -> Layer(self, sum)
    }
  }

  /** Write every span, with its own counters, as one JSON file. */
  def write(path: java.nio.file.Path, header: String): Unit = {
    val all = spans.synchronized(spans.toVector)
    val per = perSpan()
    val sb = new StringBuilder
    sb.append("{\"run_id\":").append(Json.str(runId)).append(",\"header\":").append(header)
    sb.append(",\"spans\":[")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""")
      sb.append(s""""thread":${Json.str(s.thread)},"start_ns":${s.start},"end_ns":${s.end},""")
      sb.append(s""""run_id":${Json.str(runId)},"counters":${per.getOrElse(s.id, new Counters).json}}""")
    }
    sb.append("]}")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    if (enabled) sc.removeSparkListener(listener)
  }
}

object Tracer {
  /** Every layer span, in pipeline order. */
  val Spans: Seq[String] = Seq("parse.templates", "extract.enrich", "extract.dedup",
    "extract.changed", "claims.project", "hashindex.merge", "read.stats", "read.lookup",
    "streaming.batch", "dedup.minhash", "dedup.cc", "graph.closure")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

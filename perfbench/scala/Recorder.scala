package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import org.json4s._
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Op timings (always) and, when tracing, spans plus the Spark counters
  * of a [[Tracer]] attributed to each op and span.
  *
  * An op is one unit of client work (a day run, a query, a pipeline run);
  * its latency is wall clock around the call. Tracing adds spans around
  * calls into single layers, a listener on the SparkContext and the
  * session's listenerManager, and after each op a one-task marker job that
  * drains the listener bus (outside the op's own interval), so every
  * event of an op is attributed before the next op starts.
  *
  * Each finished op is also appended to `progress` as one JSON line, so a
  * run whose JVM dies part-way (an out-of-memory exit, say) still leaves a
  * count of the ops it attempted and failed. */
final class Recorder(val tracing: Boolean, progress: Path) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Wall clock in epoch nanoseconds, monotonic within the run. */
  def now: Long = System.nanoTime() + base
  private val heap = java.lang.management.ManagementFactory.getMemoryMXBean

  final case class Op(id: Int, kind: String, name: String, start: Long,
                      end: Long, ok: Boolean, items: Long, error: String,
                      extra: Seq[(String, JValue)])
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, op: Int)

  private val ops = ArrayBuffer.empty[Op]
  private val spans = ArrayBuffer.empty[Span]
  private val phases = ArrayBuffer.empty[(String, Long, Long)]
  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var opId = -1
  private var opExtra = ArrayBuffer.empty[(String, JValue)]
  private var sc: SparkContext = _
  private var tracer: Tracer = _

  def sessionBuilt(spark: SparkSession, buildStart: Long): Unit = {
    phases += (("session.build", buildStart, now))
    sc = spark.sparkContext
    if (tracing) {
      tracer = new Tracer
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer.queryListener)
    }
  }

  def phase[T](name: String)(body: => T): T = {
    val start = now
    try body finally phases += ((name, start, now))
  }

  /** Run one op; a thrown exception marks it failed and is not rethrown,
    * so one failed op is counted rather than ending the run. An
    * OutOfMemoryError on this thread fails the op the same way (the op's
    * garbage is unreachable once it has unwound); one on an executor
    * thread ends the JVM, which `run.py` reports as a failed run. */
  def op(kind: String, name: String, items: Long)(body: => Unit): Unit = {
    val id = ops.size
    opId = id
    opExtra = ArrayBuffer.empty
    if (tracing) {
      sc.setLocalProperty("perfbench.op", id.toString)
      tracer.currentOp = id
    }
    val codegen0 = CodeGenerator.compileTime
    val start = now
    val error =
      try { body; null }
      catch { case e @ (NonFatal(_) | _: OutOfMemoryError) =>
        System.err.println(s"[perfbench] op $kind $name failed: $e")
        s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    val end = now
    stack = Nil
    if (tracing) {
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.span", null)
      tracer.drain(sc)
      opExtra += "codegen_s" -> JDouble((CodeGenerator.compileTime - codegen0) / 1e9)
      opExtra ++= tracer.opSummary(id, start, end)
    }
    // Start every op from a collected heap, so no op pays for the garbage
    // of the one before it; what survives is the op's retained heap.
    System.gc()
    opExtra += "heap_live_mb" -> JDouble(heap.getHeapMemoryUsage.getUsed / 1048576.0)
    ops += Op(id, kind, name, start, end, error == null, items, error, opExtra.toSeq)
    opId = -1
    Files.writeString(progress, s"""{"kind":"$kind","ok":${error == null}}\n""",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }


  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", id.toString)
      val start = now
      try body
      finally {
        spans += Span(id, name, start, now, parent, opId)
        stack = stack.drop(1)
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
      }
    }

  /** Streaming progress of the current op's query (traced runs). */
  def streamProgress(progress: Seq[StreamingQueryProgress]): Unit =
    if (tracing) {
      val rows = progress.map(_.numInputRows).sum
      val ms = progress.map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)).sum
      val state = progress.lastOption.toSeq.flatMap(_.stateOperators).map(_.numRowsTotal).sum
      opExtra += "stream" -> JObject(List(
        "batches" -> JLong(progress.size),
        "input_rows" -> JLong(rows),
        "trigger_s" -> JDouble(ms / 1e3),
        "state_rows" -> JLong(state)))
    }

  /** Bytes the snapshot primitive holds in the block manager right now
    * (traced runs, read at the end of a pipeline op before release). */
  def pinnedBytes(spark: SparkSession): Unit =
    if (tracing) {
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      opExtra += "pinned_bytes" -> JLong(bytes)
    }

  private def secs(ns: Long): JValue = JDouble(ns / 1e9)

  def toJson(conf: PerfBench.Conf, extra: Seq[(String, JValue)]): String = {
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    val spanJson = if (tracing) spans.sortBy(_.id).map { s =>
      JObject(List("id" -> JLong(s.id), "name" -> JString(s.name),
        "start" -> secs(s.start), "end" -> secs(s.end),
        "parent" -> JLong(s.parent), "op" -> JLong(s.op)) ++
        tracer.spanSummary(s.id))
    }.toList else Nil
    val record = JObject(List(
      "workload" -> JString(conf.workload),
      "seed" -> JLong(conf.seed),
      "cpus" -> JLong(conf.cpus),
      "trace" -> JBool(tracing),
      // The heap is fixed and pre-touched, so it is resident from the
      // start: the high-water mark beyond it is the peak off-heap memory.
      "vm_hwm_mb" -> JDouble(hwmKb / 1024.0),
      "heap_committed_mb" -> JDouble(heap.getHeapMemoryUsage.getCommitted / 1048576.0),
      "phases" -> JArray(phases.toList.map { case (n, s, e) =>
        JObject("name" -> JString(n), "start" -> secs(s), "end" -> secs(e))
      }),
      "ops" -> JArray(ops.toList.map { o =>
        JObject(List("id" -> JLong(o.id), "kind" -> JString(o.kind),
          "name" -> JString(o.name), "start" -> secs(o.start), "end" -> secs(o.end),
          "ok" -> JBool(o.ok), "items" -> JLong(o.items),
          "error" -> (if (o.error == null) JNull else JString(o.error))) ++ o.extra)
      }),
      "spans" -> JArray(spanJson)) ++ extra)
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(record))
  }
}

/** Spark counters for the traced run, from a SparkListener on the
  * SparkContext and a QueryExecutionListener on the session. Jobs carry
  * the recorder's op and span ids as local properties; SQL executions and
  * planning callbacks are attributed to the op in flight. */
final class Tracer extends SparkListener {
  final case class Job(id: Int, op: Int, span: Int, start: Long,
                       var end: Long = -1L)
  final case class Stage(job: Int, wallMs: Long, tasks: Int, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, fetchWaitMs: Long, spill: Long,
                         inBytes: Long, inRecords: Long, outBytes: Long,
                         outRecords: Long)
  final case class Exec(id: Long, op: Int, node: String, start: Long,
                        var end: Long = -1L)

  @volatile var currentOp: Int = -1
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = ArrayBuffer.empty[Stage]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val failures = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val planMs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private var markerJob = -1
  private var markersSeen = 0

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val op = currentOp
      if (op >= 0) planMs(op) += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty("perfbench.marker") != null)) markerJob = e.jobId
    else {
      jobs(e.jobId) = Job(e.jobId, prop(e.properties, "perfbench.op"),
        prop(e.properties, "perfbench.span"), e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == markerJob) { markersSeen += 1; notifyAll() }
    else jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); m <- Option(i.taskMetrics)) {
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      stages += Stage(job, wall, i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success)
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(j => failures(j.op) += 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, currentOp, rootNode(s.sparkPlanInfo), s.time)
      case end: SparkListenerSQLExecutionEnd =>
        execs.get(end.executionId).foreach(_.end = end.time)
      case _ =>
    }
  }

  /** The execution's root operator, looking through the adaptive wrapper
    * (a write planned under AQE starts as `AdaptiveSparkPlan` over the
    * write command). */
  private def rootNode(plan: org.apache.spark.sql.execution.SparkPlanInfo): String =
    if (plan == null) ""
    else if (plan.nodeName == "AdaptiveSparkPlan" && plan.children.nonEmpty)
      rootNode(plan.children.head)
    else plan.nodeName

  /** Block until every event posted before this call has been delivered:
    * a one-task marker job is posted last, so its end is seen last. */
  def drain(sc: SparkContext): Unit = {
    val before = synchronized(markersSeen)
    sc.setLocalProperty("perfbench.marker", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.marker", null)
    synchronized {
      val deadline = System.currentTimeMillis() + 60000L
      while (markersSeen == before && System.currentTimeMillis() < deadline) wait(100L)
    }
    currentOp = -1
  }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** A file-writing root command (parquet/CSV/table data) or a catalog
    * command (CREATE/DROP/DESCRIBE/ALTER …). */
  private def isWrite(node: String): Boolean =
    Seq("InsertInto", "SaveAs", "AsSelect").exists(node.contains)
  private def isCatalog(node: String): Boolean =
    !isWrite(node) && (node.startsWith("Execute ") || node.endsWith("Table"))

  def opSummary(op: Int, startNs: Long, endNs: Long): Seq[(String, JValue)] = synchronized {
    val js = jobs.values.filter(_.op == op).toSeq
    val ids = js.map(_.id).toSet
    val st = stages.filter(s => ids.contains(s.job))
    val lo = startNs / 1000000L
    val hi = endNs / 1000000L
    val injobMs = covered(js.map(j => (j.start, if (j.end < 0) hi else j.end)), lo, hi)
    // Top-level executions only: one not nested in another of the same op
    // (a write command runs its query as a nested execution).
    val mine = execs.values.filter(e => e.op == op && e.end >= 0).toSeq
    val ex = mine.filterNot(e => mine.exists(o => (o ne e) &&
      o.start <= e.start && e.end <= o.end && (o.start < e.start || e.end < o.end || o.id < e.id)))
    def execS(p: String => Boolean) = ex.filter(e => p(e.node)).map(e => e.end - e.start).sum / 1e3
    def sumL(f: Stage => Long) = JLong(st.map(f).sum)
    Seq(
      "jobs" -> JLong(js.size),
      "injob_s" -> JDouble(injobMs / 1e3),
      "offjob_s" -> JDouble((endNs - startNs) / 1e9 - injobMs / 1e3),
      "plan_s" -> JDouble(planMs(op) / 1e3),
      "tasks" -> sumL(_.tasks.toLong),
      "task_run_s" -> JDouble(st.map(_.runMs).sum / 1e3),
      "task_cpu_s" -> JDouble(st.map(_.cpuNs).sum / 1e9),
      "gc_s" -> JDouble(st.map(_.gcMs).sum / 1e3),
      "shuffle_read_bytes" -> sumL(_.shuffleRead),
      "shuffle_write_bytes" -> sumL(_.shuffleWrite),
      "fetch_wait_s" -> JDouble(st.map(_.fetchWaitMs).sum / 1e3),
      "spill_bytes" -> sumL(_.spill),
      "input_bytes" -> sumL(_.inBytes),
      "input_records" -> sumL(_.inRecords),
      "bytes_written" -> sumL(_.outBytes),
      "records_written" -> sumL(_.outRecords),
      "task_failures" -> JLong(failures(op)),
      "write_s" -> JDouble(execS(isWrite)),
      "catalog_s" -> JDouble(execS(isCatalog)),
      "sql_roots" -> JArray(ex.map(e => JString(e.node)).distinct.toList))
  }

  /** Per-span counters: jobs launched under the span (by local property)
    * and the wall of its stages that read input. */
  def spanSummary(span: Int): Seq[(String, JValue)] = synchronized {
    val ids = jobs.values.filter(_.span == span).map(_.id).toSet
    val st = stages.filter(s => ids.contains(s.job))
    val scan = st.filter(_.inRecords > 0)
    Seq(
      "jobs" -> JLong(ids.size),
      "scan_s" -> JDouble(scan.map(_.wallMs).sum / 1e3),
      "input_bytes" -> JLong(st.map(_.inBytes).sum),
      "input_records" -> JLong(st.map(_.inRecords).sum))
  }
}

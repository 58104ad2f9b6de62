package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import scala.collection.mutable.ArrayBuffer

/** In-memory spans: (name, start, end, parent, op). Spans are recorded
  * from the benchmark's own code around each call into a layer; nothing
  * inside the engine is instrumented. All spans of one operation run on
  * the client thread, so a span's children never overlap and its self
  * time is its duration minus the sum of its children's durations. */
final class Tracer(val on: Boolean) {
  final class Span(val name: String, val start: Long, var end: Long,
                   val parent: Int, val op: Int, val synthetic: Boolean,
                   val compile0: Long, var compile1: Long,
                   val classes0: Long, var classes1: Long)

  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  var opId: Int = -1

  // wall-clock anchor, to place Spark's millisecond event times on the
  // nanoTime axis the spans use
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L
  def nsToMs(ns: Long): Long = anchorMs + (ns - anchorNs) / 1000000L

  private def compileNs = CodeGenerator.compileTime
  private def classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Spans named here hide several layers behind one public call (a
    * `SparkEntry` row, an `LlmOps` or `sources` call). The sampler splits
    * their self time by the innermost engine frame on the client stack. */
  val opaque = Set("entry", "llmops", "sources")

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val i = spans.length
      spans += new Span(name, System.nanoTime(), -1L,
        open.headOption.getOrElse(-1), opId, false, compileNs, -1L, classes, -1L)
      open = i :: open
      if (opaque(name)) Sampler.active = true
      try f
      finally {
        val s = spans(i)
        s.end = System.nanoTime()
        s.compile1 = compileNs
        s.classes1 = classes
        open = open.tail
        if (opaque(name)) Sampler.active = open.exists(j => opaque(spans(j).name))
      }
    }

  /** A span inferred after the fact (Catalyst phases, codegen, sampled
    * sub-layers), placed inside `parent` and clamped to the parent's
    * remaining self time, so self times still sum to the root. */
  def synth(name: String, parent: Int, durNs: Long): Unit = {
    val p = spans(parent)
    val used = spans.iterator.filter(_.parent == parent)
      .map(s => s.end - s.start).sum
    val d = math.min(durNs, (p.end - p.start) - used)
    if (d > 0) {
      val st = p.start + used
      spans += new Span(name, st, st + d, parent, p.op, true, 0L, 0L, 0L, 0L)
    }
  }

  /** Innermost recorded (not inferred) span of op `op` that contains
    * instant `ns`, or -1. */
  def innermost(op: Int, ns: Long): Int = {
    var best = -1
    for (i <- spans.indices) {
      val s = spans(i)
      if (s.op == op && !s.synthetic && s.start <= ns && ns <= s.end &&
          (best < 0 || s.start >= spans(best).start)) best = i
    }
    best
  }
}

/** Samples the client thread's stack while an opaque span is open and
  * labels each sample with the engine layer of its innermost engine
  * frame. */
object Sampler {
  @volatile var active = false
  private var target: Thread = _
  val times = new ArrayBuffer[Long]()
  val layers = new ArrayBuffer[String]()
  private var thread: Thread = _

  def layerOf(stack: Array[StackTraceElement]): String = {
    var i = 0
    while (i < stack.length) {
      val c = stack(i).getClassName
      if (c.startsWith("graft.")) {
        return if (c.startsWith("graft.kql.Catalog")) "catalog"
        else if (c.startsWith("graft.kql.Lexer") || c.startsWith("graft.kql.Parser")) "parser"
        else if (c.startsWith("graft.ext.LlmOps")) "llmops"
        else if (c.startsWith("graft.sources.")) "sources"
        else if (c.startsWith("graft.SparkEntry")) "entry"
        else "planner"
      }
      i += 1
    }
    ""
  }

  def start(client: Thread): Unit = {
    target = client
    thread = new Thread(() => {
      while (!Thread.currentThread().isInterrupted) {
        if (active) {
          val t = System.nanoTime()
          val l = layerOf(target.getStackTrace)
          times.synchronized { times += t; layers += l }
        }
        java.util.concurrent.locks.LockSupport.parkNanos(2000000L)
      }
    }, "graftbench-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = if (thread != null) { thread.interrupt(); thread.join() }

  /** Samples in [from, to] as (time, layer), oldest first. */
  def between(from: Long, to: Long): Seq[(Long, String)] = times.synchronized {
    times.indices.filter(i => times(i) >= from && times(i) <= to)
      .map(i => (times(i), layers(i)))
  }
}

/** Spark-side counts: a SparkListener for jobs, stages and task metrics,
  * a QueryExecutionListener for Catalyst phase times and files scanned,
  * and a log appender counting whole-stage-codegen fallbacks. Every
  * event keeps its wall-clock time and is attributed to an operation by
  * time after the listener bus is drained. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L
    var inBytes = 0L; var inRecs = 0L
  }
  final case class Job(id: Int, timeMs: Long, stages: Seq[Int])
  final case class Qe(timeMs: Long, phases: Seq[(String, Long, Long)],
                      filesRead: Long)

  val jobs = ArrayBuffer[Job]()
  val stageAcc = scala.collection.mutable.Map[Int, StageAcc]()
  val stagesDone = scala.collection.mutable.Set[Int]()
  val qes = ArrayBuffer[Qe]()
  val fallbacks = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecs += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val files = try scanFiles(qe.executedPlan) catch { case _: Throwable => 0L }
    val t = if (phases.nonEmpty) phases.map(_._2).min else System.currentTimeMillis()
    synchronized { qes += Qe(t, phases, files) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scanFiles(p: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    p match {
      case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
      case s: QueryStageExec => scanFiles(s.plan)
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case other => (other.children ++ other.subqueries).map(scanFiles).sum
    }
  }

  def installFallbackCounter(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val q = fallbacks
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Whole-stage codegen disabled"))
          q.add(e.getTimeMillis)
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }
}

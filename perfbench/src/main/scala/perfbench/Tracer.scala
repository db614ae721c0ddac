package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a layer, made by the benchmark. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val run: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var gcStartMs: Long = 0L
  var gcEndMs: Long = 0L
  def durS: Double = (endNs - startNs) / 1e9
}

/** Counters Spark reports for the work attributed to one span. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var planMs = 0.0
  var compiles = 0L
  var compileMs = 0.0
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * counters attributed to them.
  *
  * Spans live in memory and are written out once, at the end. A span
  * opened while another is open becomes its child; self time is a span's
  * duration minus the time its children cover.
  *
  * Task counters come from a `SparkListener`: each span sets the job
  * group local property, and a job started under it (or, for jobs whose
  * thread set its own group, such as a streaming query's, started while
  * the span is the innermost open one) is attributed to it. Planning time
  * comes from a `QueryExecutionListener` and codegen compiles from the
  * code generator's log; both are attributed to the innermost span open
  * when the phase began. When disabled, a span is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val GroupPrefix = "perfbench-span-"
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val counters = new ConcurrentHashMap[Long, SpanCounters]()
  @volatile private var innermost: Long = 0L
  @volatile var run: Int = -1
  private var spark: SparkSession = _

  // phase events attributed by time once the spans are known
  private val planEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val compileEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def counter(id: Long): SpanCounters = counters.computeIfAbsent(id, _ => new SpanCounters)

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        val id = g.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)
          .getOrElse(innermost)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        counter(id).synchronized { counter(id).jobs += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val c = counter(stageSpan.getOrDefault(e.stageId, innermost))
          c.synchronized {
            c.tasks += 1
            c.cpuNs += m.executorCpuTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty)
          planEvents.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
      }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
    CodegenLog.install { ms => compileEvents.add((System.currentTimeMillis(), ms)) }
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (stack.isEmpty) 0L else stack.top.id
      val sp = new Span(nextId.getAndIncrement(), name, parent, run,
        System.nanoTime(), System.currentTimeMillis())
      sp.gcStartMs = gcMs
      stack.push(sp); spans += sp; innermost = sp.id
      val sc = Option(spark).map(_.sparkContext)
      sc.foreach(_.setJobGroup(GroupPrefix + sp.id, name, interruptOnCancel = false))
      try body
      finally {
        sp.endNs = System.nanoTime()
        sp.gcEndMs = gcMs
        stack.pop()
        innermost = if (stack.isEmpty) 0L else stack.top.id
        sc.foreach { c =>
          if (stack.isEmpty) c.clearJobGroup()
          else c.setJobGroup(GroupPrefix + stack.top.id, stack.top.name, interruptOnCancel = false)
        }
      }
    }

  /** Inside a traced run, compute `df` inside the span so its time lands
    * where the work is; untraced runs return it lazily, as production
    * callers get it. */
  def force(name: String)(df: => DataFrame): DataFrame =
    if (!enabled) df else span(name)(df.localCheckpoint(eager = true))

  /** Wait for the listener bus, then attribute the time-stamped phase
    * events to the innermost span open when each began. */
  def settle(): Unit = if (enabled) {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    val byStart = spans.sortBy(_.startMs)
    def at(ms: Long): Long = {
      // innermost = the latest-starting span that contains the instant
      var best = 0L
      byStart.foreach { sp =>
        val endMs = sp.startMs + (sp.endNs - sp.startNs) / 1000000L
        if (sp.startMs <= ms && ms <= endMs) best = sp.id
      }
      best
    }
    planEvents.asScala.foreach { case (ms, d) => counter(at(ms)).planMs += d }
    compileEvents.asScala.foreach { case (ms, d) =>
      val c = counter(at(ms)); c.compiles += 1; c.compileMs += d
    }
    planEvents.clear(); compileEvents.clear()
  }

  /** Self time of each span: duration minus its children's. */
  def selfTimes: Map[Long, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    spans.map(sp => sp.id -> math.max(0.0, sp.durS - child.getOrElse(sp.id, 0.0))).toMap
  }

  def selfGcS: Map[Long, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.gcEndMs - c.gcStartMs).sum }
    spans.map(sp => sp.id ->
      math.max(0L, sp.gcEndMs - sp.gcStartMs - child.getOrElse(sp.id, 0L)) / 1000.0).toMap
  }

  /** The spans, one JSON object each, for the trace file. */
  def spanRecords(t0Ns: Long): Seq[Map[String, Any]] = {
    val self = selfTimes
    spans.toSeq.map { sp =>
      val c = counter(sp.id)
      Map("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "run" -> sp.run,
        "start_s" -> (sp.startNs - t0Ns) / 1e9, "end_s" -> (sp.endNs - t0Ns) / 1e9,
        "self_s" -> self(sp.id), "spark_jobs" -> c.jobs, "tasks" -> c.tasks,
        "cpu_s" -> c.cpuNs / 1e9, "plan_s" -> c.planMs / 1000.0,
        "codegen_compiles" -> c.compiles, "codegen_compile_s" -> c.compileMs / 1000.0,
        "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
        "spill_bytes" -> c.spill)
    }
  }
}

/** Captures the code generator's "Code generated in N ms" log lines. */
object CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val Logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Msg = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(onCompile: Double => Unit): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Msg(ms) => onCompile(ms.toDouble)
        case _ =>
      }
    }
    app.start()
    config.addAppender(app)
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    config.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}

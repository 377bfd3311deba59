package perfbench

import scala.collection.mutable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A traced interval. Times are microseconds since the epoch; `parent`
  * is the id of the span that caused it (0 for the run's root). */
final case class Span(id: Int, name: String, layer: String,
    start: Long, end: Long, parent: Int)

/** Scheduler totals of one operation execution, read from task-end events. */
final class OpStats {
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var peakMem = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // launch, finish (epoch ms)
}

/** The benchmark's measuring side: a SparkListener that attributes every
  * job, stage and task to the operation that started it (through the
  * `perfbench.op` local property), spans kept in memory, and a log
  * appender counting whole-stage-codegen fallbacks. The listener and
  * the appender are cheap counters and run in every mode; spans are
  * recorded only when `traced`. */
final class Recorder(spark: SparkSession, val traced: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val offsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + offsetUs

  private val lock = new Object
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private def newId(): Int = lock.synchronized { val i = nextId; nextId += 1; i }
  private def add(s: Span): Unit = if (traced) lock.synchronized { spanBuf += s }
  def spans: Seq[Span] = lock.synchronized(spanBuf.toList)

  // ---- benchmark-side spans (driver thread only) ----
  private val stack = mutable.Stack[Int]()
  def currentSpan: Int = if (stack.isEmpty) 0 else stack.top

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = newId()
    val parent = currentSpan
    val t0 = nowUs
    stack.push(id)
    sc.setLocalProperty("perfbench.span", id.toString)
    try body
    finally {
      stack.pop()
      sc.setLocalProperty("perfbench.span", if (stack.isEmpty) null else stack.top.toString)
      add(Span(id, name, layer, t0, nowUs, parent))
    }
  }

  // ---- per-operation scheduler records ----
  private val stats = mutable.HashMap.empty[String, OpStats]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stageJobSpan = mutable.HashMap.empty[Int, Int]
  private val jobOpen = mutable.HashMap.empty[Int, (Int, Long, Int, String)] // span id, start, parent, op
  @volatile private var peakTaskMem = 0L

  /** Run `body` as operation `key`: every job it starts is tagged, and
    * parented to the innermost open span. */
  def asOp[T](key: String)(body: => T): T = {
    sc.setLocalProperty("perfbench.op", key)
    try body
    finally sc.setLocalProperty("perfbench.op", null)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def opStats(key: String): OpStats = lock.synchronized(stats.getOrElse(key, new OpStats))

  /** Largest per-task peak execution memory since the last reset, bytes. */
  def takePeakTaskMem(): Long = { val p = peakTaskMem; peakTaskMem = 0L; p }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = e.properties
      val op = if (props == null) null else props.getProperty("perfbench.op")
      if (op != null) {
        val parent = Option(props.getProperty("perfbench.span")).map(_.toInt).getOrElse(0)
        val id = newId()
        jobOpen(e.jobId) = (id, e.time * 1000L, parent, op)
        e.stageIds.foreach { s => stageOp(s) = op; stageJobSpan(s) = id }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobOpen.remove(e.jobId).foreach { case (id, start, parent, op) =>
        add(Span(id, s"job ${e.jobId} ($op)", "job", start, e.time * 1000L, parent))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      stageOp.get(info.stageId).foreach { op =>
        stats.getOrElseUpdate(op, new OpStats).stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          add(Span(newId(), s"stage ${info.stageId} ${info.name.takeWhile(_ != ' ')}",
            "stage", s * 1000L, c * 1000L, stageJobSpan.getOrElse(info.stageId, 0)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && m.peakExecutionMemory > peakTaskMem) peakTaskMem = m.peakExecutionMemory
      lock.synchronized {
        stageOp.get(e.stageId).foreach { op =>
          val st = stats.getOrElseUpdate(op, new OpStats)
          st.tasks += 1
          if (m != null) {
            st.taskMs += m.executorRunTime
            st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
          }
          if (e.taskInfo != null)
            st.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
    }
  })

  // ---- whole-stage-codegen fallbacks, counted from the log ----
  @volatile private var fallbackCount = 0L
  def codegenFallbacks: Long = fallbackCount
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val codegenLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  locally {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage != null &&
            e.getMessage.getFormattedMessage.contains("Whole-stage codegen disabled"))
          fallbackCount += 1
    }
    appender.start()
    config.addAppender(appender)
    val existing = config.getLoggerConfig(codegenLogger)
    val lc =
      if (existing.getName == codegenLogger) existing
      else {
        val c = new LoggerConfig(codegenLogger, Level.WARN, true)
        config.addLogger(codegenLogger, c)
        c
      }
    lc.setLevel(Level.WARN)
    lc.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  /** Spans as JSON lines: name, layer, start/end (µs since epoch), parent, run id. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb.append(s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""")
        .append(s""""layer":"${s.layer}","name":"${Json.esc(s.name)}",""")
        .append(s""""start_us":${s.start},"end_us":${s.end}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Recorder {
  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover, summed by layer, in microseconds. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start) - covered(kids, s.start, s.end)
      }.sum
    }
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}

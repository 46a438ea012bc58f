package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One traced call into a layer. Spark counters are attributed to the
  * innermost open span through the job group the tracer sets around
  * the call, so every counter here is the span's own (self) share.
  */
final class Span(val id: Int, val parent: Int, val layer: String, val group: String,
    val name: String) {
  var start = 0L
  var end = 0L
  var codegenNs = 0L // inclusive of children; self is derived when written out
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val stageIntervals = ArrayBuffer.empty[(Long, Long)] // epoch ms, submitted → completed
}

/** Span recorder plus the `SparkListener` that feeds it. Disabled, it
  * runs each body and records nothing, so an untraced run pays one
  * boolean test per call. Spans stay in memory and are serialised once
  * when the run ends; `overheadNs` accumulates the time spent in the
  * tracer's own bookkeeping and listener callbacks.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  val overheadNs = new AtomicLong()
  private var sc: SparkContext = _

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t0 = System.nanoTime()
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) s.synchronized {
        s.jobs += 1
        e.stageIds.foreach(id => byStage.put(id, s))
      }
      overheadNs.addAndGet(System.nanoTime() - t0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t0 = System.nanoTime()
      val info = e.stageInfo
      val s = byStage.get(info.stageId)
      if (s != null) s.synchronized {
        s.stages += 1
        s.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
        }
        for (a <- info.submissionTime; b <- info.completionTime) s.stageIntervals += ((a, b))
      }
      overheadNs.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Register the listener on the session the timed work will use. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
  }

  def span[A](layer: String, name: String, group: String = "")(body: => A): A = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), layer, group, name)
    spans += s
    open = s :: open
    val gid = s"perfbench-$runId-${s.id}"
    byGroup.put(gid, s)
    val prevGroup = if (sc == null) null else sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = if (sc == null) null else sc.getLocalProperty("spark.job.description")
    if (sc != null) sc.setJobGroup(gid, name, interruptOnCancel = false)
    val cg0 = CodeGenerator.compileTime
    overheadNs.addAndGet(System.nanoTime() - t0)
    s.start = System.nanoTime()
    try body
    finally {
      s.end = System.nanoTime()
      val t1 = System.nanoTime()
      s.codegenNs = CodeGenerator.compileTime - cg0
      open = open.tail
      if (sc != null) {
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
      overheadNs.addAndGet(System.nanoTime() - t1)
    }
  }

  /** All spans as JSON objects, after the listener bus has drained. */
  def toJson(t0: Long): Seq[String] = {
    if (sc != null) org.apache.spark.perfbench.ListenerBus.drain(sc)
    val childCodegen = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.codegenNs).sum }
    spans.toSeq.map { s =>
      s.synchronized {
        val busy = Json.unionMs(s.stageIntervals.toSeq)
        Json.obj(
          "id" -> s.id, "parent" -> s.parent, "run" -> runId, "layer" -> s.layer,
          "group" -> s.group, "name" -> s.name,
          "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
          "spill_bytes" -> s.spill, "input_bytes" -> s.inputBytes,
          "input_records" -> s.inputRecords,
          "codegen_ms" -> (s.codegenNs - childCodegen.getOrElse(s.id, 0L)).max(0L) / 1e6,
          "stage_busy_s" -> busy / 1e3)
      }
    }
  }
}

/** Minimal JSON writer for the harness's result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Some(x) => value(x)
    case None => "null"
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(json) => json
    case other => str(other.toString)
  }

  /** Pre-serialised JSON, embedded verbatim. */
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Length of the union of [start, end] intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed region.  Times are epoch milliseconds, the clock Spark's
  * listener events carry.  Spans of one result share `group`, which is
  * also the Spark job group of every call made inside the result, so
  * jobs, stages and task metrics land on the span that caused them.
  */
final case class Span(id: Int, name: String, parent: Int, group: String,
    start: Long, end: Long) {
  def ms: Long = end - start
}

final case class JobRec(id: Int, group: String, execId: Long, start: Long,
    var end: Long)

/** Task-level totals of one group. */
final class Totals {
  var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spill = 0L; var resultBytes = 0L; var recordsWritten = 0L
}

/** The traced run's recorder: a SparkListener for jobs, stages, tasks
  * and the executed plans of SQL executions, and the span list.  Everything stays in memory until [[writeSpans]].  Events are
  * dropped while `enabled` is false, which is how the traced run also
  * measures its own untraced half.
  */
final class Recorder {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val totals = new ConcurrentHashMap[String, Totals]()
  private val execExchanges = new ConcurrentHashMap[Long, Int]()

  /** A micro-batch's jobs carry its batch id (the stream's job group is
    * its run id, shared by every batch); other jobs carry the group. */
  private def groupOf(p: java.util.Properties): String =
    if (p == null) null
    else Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .orNull

  private def tot(g: String): Totals = totals.computeIfAbsent(g, _ => new Totals)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val g = groupOf(e.properties)
      if (g != null) {
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(_.toLongOption).getOrElse(-1L)
        jobs.put(e.jobId, JobRec(e.jobId, g, exec, e.time, -1L))
        e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val t = tot(g); t.synchronized { t.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val t = tot(g)
        t.synchronized {
          t.tasks += 1
          if (e.reason != TaskSuccess) t.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            t.runMs += m.executorRunTime
            t.cpuNs += m.executorCpuTime
            t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            t.resultBytes += m.resultSize
            t.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
    // an adaptive execution posts its plan at start and again at every
    // re-plan; the last one seen is the final plan
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
      case s: SparkListenerSQLExecutionStart =>
        execExchanges.put(s.executionId, Recorder.exchanges(s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execExchanges.put(u.executionId, Recorder.exchanges(u.sparkPlanInfo))
      case _ => ()
    }
  }

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(sparkListener)

  private def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  /** Record a span whose times are already known. */
  def add(name: String, parent: Int, group: String, start: Long, end: Long): Span = {
    val s = Span(newId(), name, parent, group, start, end)
    synchronized(spans += s)
    s
  }

  /** Time `body` as a span; `body` gets the span's id, to parent the
    * spans it opens.  A top-level span (parent < 0) makes `group` the
    * job group of the calling thread for its duration. */
  def span[T](name: String, parent: Int, group: String,
      spark: SparkSession)(body: Int => T): T = {
    val id = newId()
    val top = group != null && parent < 0
    if (top) spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body(id)
    finally {
      synchronized(spans += Span(id, name, parent, group, t0, System.currentTimeMillis()))
      if (top) spark.sparkContext.clearJobGroup()
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Listener events arrive asynchronously; give the last ones time to
    * land before reading the totals. */
  def settle(): Unit = Thread.sleep(1000)

  def jobsOf(group: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == group).toSeq

  def exchangesOf(group: String): Int =
    jobsOf(group).map(_.execId).filter(_ >= 0).distinct
      .map(id => execExchanges.getOrDefault(id, 0).intValue).sum

  /** Milliseconds of [start, end] during which no job of `group` ran. */
  def gapMs(group: String, start: Long, end: Long): Long =
    (end - start) - Recorder.covered(jobsOf(group)
      .map(j => (math.max(j.start, start), math.min(if (j.end < 0) end else j.end, end))))

  /** Spans as JSON lines, each with its self time: its duration minus
    * the part of it that its children cover. */
  def writeSpans(path: String): Unit = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val covered = Recorder.covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      val jobsN = if (s.group != null && s.parent < 0) jobsOf(s.group).size else 0
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "group" -> s.group, "start_ms" -> s.start, "end_ms" -> s.end,
        "dur_ms" -> s.ms, "self_ms" -> (s.ms - covered), "jobs" -> jobsN)
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}

object Recorder {
  /** Length of the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var cur = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      val a1 = math.max(a, cur)
      if (b > a1) { total += b - a1; cur = b }
    }
    total
  }

  /** Exchange nodes in a plan tree (shuffle and broadcast; a reused
    * exchange is not a new one). */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0) +
      p.children.map(exchanges).sum
}

/** Minimal JSON writer for the harness's output (maps, sequences,
  * strings, numbers, booleans, null). */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case o: Option[_] => o.map(value).getOrElse("null")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

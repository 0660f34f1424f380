package graft

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge

/** Dev tool: where one operator's time goes, job by job.
  *
  * Usage: runMain graft.Profile <sfDir> [name ...]
  *
  * A name is a registry op or `statement_batch_probe` (the streaming
  * flagship's cold micro-batch, built as Bench times it); no names
  * profiles the whole registry. Each name runs twice in one session —
  * the first run pays codegen — and the cache is cleared after each
  * run. A run has two phases, each under its own job group:
  *  - `build` is the call `fn(spark, sfDir)`: ops that collect or
  *    checkpoint while building their frame run those jobs here, and
  *    `explain()` never shows them;
  *  - `action` writes the whole result to the noop sink, so no
  *    projection is pruned the way a `count()` prunes it.
  * The probe's `build` is one batch apply; it returns no frame, so it
  * has no action. Within a phase jobs are grouped by job description
  * (the [[Stages.all]] labels, whose threads inherit the phase's
  * group) or, without one, by call site — for a SQL execution's jobs,
  * the site that started the execution. Each run prints one JSON line
  * with the groups, the action's exchange count and its final executed
  * plan.
  */
object Profile {
  /** Totals of the jobs of one phase that share a label. `wallMs` is
    * the time at least one of them was running.
    */
  final case class Group(label: String, jobs: Int, stages: Int, tasks: Long,
      wallMs: Long, execRunMs: Long, execCpuMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, resultBytes: Long)

  /** A phase's wall time and its groups in order of first job. */
  final case class Phase(ms: Long, groups: Seq[Group])

  final case class Run(op: String, run: Int, build: Phase, action: Option[Phase],
      exchanges: Option[Int], plan: Option[String], error: Option[String])

  val statementProbe = "statement_batch_probe"
  private val groupPrefix = "graft-profile-"

  private lazy val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  def toJson(r: Run): String = json.writeValueAsString(r)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [name ...]")
    val spark = GraftSession.build(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    try {
      spark.range(1).count()
      for (name <- names; run <- 1 to 2)
        println(toJson(profile(spark, recorder, args(0), name, run)))
    } finally {
      spark.sparkContext.removeSparkListener(recorder)
      spark.stop()
    }
  }

  /** One run of `name`; `recorder` must be listening on `spark`. */
  private[graft] def profile(spark: SparkSession, recorder: Recorder, d: String,
      name: String, run: Int): Run = {
    val sc = spark.sparkContext
    /** The body's outcome, its phase, and the phase's last executed plan. */
    def phase[A](kind: String)(body: => A): (Try[A], Phase, Option[SparkPlan]) = {
      val group = s"$groupPrefix$name-$run-$kind"
      // no description: the group's own jobs are labelled by call site
      sc.setJobGroup(group, null)
      val t0 = System.nanoTime()
      val out = try Try(body) finally sc.clearJobGroup()
      val ms = (System.nanoTime() - t0) / 1000000
      Bridge.waitUntilEmpty(sc)
      val (groups, plan) = recorder.take(group)
      (out, Phase(ms, groups), plan)
    }
    def error(t: Try[_]): Option[String] = t.failed.toOption.map(_.toString)
    try {
      if (name == statementProbe) {
        val probe = new StatementBatchProbe(spark)
        try {
          val (done, build, _) = phase("build")(probe.run())
          Run(name, run, build, None, None, None, error(done))
        } finally probe.close()
      } else {
        val fn = SparkEntry.queries.getOrElse(name,
          throw new IllegalArgumentException(s"unknown op: $name"))
        phase("build")(fn(spark, d)) match {
          case (Failure(e), build, _) => Run(name, run, build, None, None, None, Some(e.toString))
          case (Success(df), build, _) =>
            val (done, action, plan) =
              phase("action")(df.write.format("noop").mode("overwrite").save())
            Run(name, run, build, Some(action), plan.map(exchanges),
              plan.map(_.toString), error(done))
        }
      }
    } finally spark.catalog.clearCache()
  }

  /** Shuffle and broadcast exchanges of a final plan; a reused exchange
    * is not a new one.
    */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case _ => p.children.map(exchanges).sum
  }

  /** The one listener: job, stage and task totals per (job group,
    * label) of the profile's phases, and the executed plan of each
    * group's last finished SQL execution. Callbacks run on the listener
    * bus thread; readers drain the bus first and synchronise with it.
    */
  private[graft] final class Recorder extends SparkListener {
    private final class Acc {
      var jobs, stages = 0
      var tasks, runMs, cpuNs, read, written, spill, result = 0L
      val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private type Key = (String, String)
    private val accs = mutable.LinkedHashMap.empty[Key, Acc]
    private val openJobs = mutable.Map.empty[Int, (Key, Long)]
    private val stageKey = mutable.Map.empty[Int, Key]
    /** Job group and description of each running SQL execution. */
    private val execs = mutable.Map.empty[Long, (String, String)]
    private val plans = mutable.Map.empty[String, SparkPlan]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop("spark.jobGroup.id").filter(_.startsWith(groupPrefix)).foreach { g =>
        // the job's description, else its SQL execution's (which falls
        // back to the site that started the execution: jobs AQE submits
        // from its own threads have no useful call site of their own),
        // else the job's call site, which names its last stage
        val label = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(_.toLongOption)
            .flatMap(execs.get).map(_._2))
          .orElse(prop("callSite.short"))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
        val key = (g, label)
        accs.getOrElseUpdate(key, new Acc).jobs += 1
        openJobs(e.jobId) = (key, e.time)
        e.stageIds.foreach(stageKey.getOrElseUpdate(_, key))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      openJobs.remove(e.jobId).foreach { case (key, start) =>
        accs.get(key).foreach(_.spans += ((start, e.time)))
      }
    }

    private def acc(stageId: Int): Option[Acc] = stageKey.get(stageId).flatMap(accs.get)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      acc(e.stageInfo.stageId).foreach(_.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- acc(e.stageId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.read += m.shuffleReadMetrics.totalBytesRead
        a.written += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.result += m.resultSize
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: SparkListenerSQLExecutionStart => synchronized {
        start.jobGroupId.filter(_.startsWith(groupPrefix))
          .foreach(g => execs(start.executionId) = (g, start.description))
      }
      case end: SparkListenerSQLExecutionEnd => synchronized {
        for ((g, _) <- execs.remove(end.executionId); qe <- Option(Bridge.queryExecution(end)))
          plans(g) = qe.executedPlan
      }
      case _ => ()
    }

    /** Takes what was recorded under job group `group`: its label
      * groups, and the executed plan of its last finished SQL execution.
      */
    def take(group: String): (Seq[Group], Option[SparkPlan]) = synchronized {
      val mine = accs.filter(_._1._1 == group).toSeq
      mine.foreach(kv => accs.remove(kv._1))
      stageKey.filterInPlace((_, k) => k._1 != group)
      (mine.map { case ((_, label), a) =>
        Group(label, a.jobs, a.stages, a.tasks, covered(a.spans.toSeq), a.runMs,
          a.cpuNs / 1000000, a.read, a.written, a.spill, a.result)
      }, plans.remove(group))
    }
  }

  /** Length of the union of the intervals. */
  private def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { total += b - from; cur = b }
    }
    total
  }
}

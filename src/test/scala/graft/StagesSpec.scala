package graft

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier}
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Every job the context starts while installed: start and end times
  * (the scheduler's clock, epoch ms), tags, group and description; and
  * every stage it submits: job group and task count.
  */
final class JobLog extends SparkListener {
  final case class Job(start: Long, tags: Set[String], group: String, desc: String)
  val jobs = new ConcurrentHashMap[Int, Job]()
  val ends = new ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentHashMap[Int, (String, Int)]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def get(k: String) = prop(e.properties, k)
    jobs.put(e.jobId, Job(e.time, get("spark.job.tags").split(",").filter(_.nonEmpty).toSet,
      get("spark.jobGroup.id"), get("spark.job.description")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.put(e.stageInfo.stageId,
      (prop(e.properties, "spark.jobGroup.id"), e.stageInfo.numTasks)); ()
  }

  /** Jobs started at or after `since` that carry a [[Stages]] tag. */
  def staged(since: Long): Map[Int, Job] = jobs.asScala.toMap.filter { case (_, j) =>
    j.start >= since && j.tags.exists(_.startsWith(Stages.tagPrefix)) }

  /** Waits (bounded) until every staged job since `since` has ended,
    * then returns those still open and those that ended after `at`.
    */
  def runningAt(since: Long, at: Long): Map[Int, Job] = {
    val deadline = System.currentTimeMillis() + 30000
    Thread.sleep(500) // let the listener bus deliver the call's events
    while (staged(since).keys.exists(!ends.containsKey(_)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    staged(since).filter { case (id, _) => !ends.containsKey(id) || ends.get(id) > at }
  }
}

class StagesSpec extends SparkTestBase {
  private def sc = spark.sparkContext

  /** A two-task job that runs until cancelled (or a minute passes). */
  private def untilCancelled(): Long = sc.parallelize(1 to 2, 2).map { i =>
    val tc = TaskContext.get()
    val until = System.currentTimeMillis() + 60000
    while (!tc.isInterrupted() && System.currentTimeMillis() < until) Thread.sleep(20)
    i
  }.count()

  private def withLog[T](f: JobLog => T): T = {
    val log = new JobLog
    sc.addSparkListener(log)
    try f(log) finally sc.removeSparkListener(log)
  }

  test("results in argument order; stages inherit the caller's job group and carry label and tag") {
    withLog { log =>
      sc.setJobGroup("stages-spec-group", "caller")
      try {
        val since = System.currentTimeMillis()
        val tagsBefore = sc.getJobTags()
        val out = Stages.all(spark)(
          "slow first" -> { () => Thread.sleep(300); sc.parallelize(1 to 3).count() },
          "fast second" -> { () => sc.parallelize(1 to 5).count() })
        assert(out == Seq(3L, 5L))
        assert(sc.getJobTags() == tagsBefore, "the caller's job tags changed")
        assert(log.runningAt(since, System.currentTimeMillis()).isEmpty)
        val jobs = log.staged(since).values.toSeq
        assert(jobs.map(_.desc).toSet == Set("slow first", "fast second"))
        assert(jobs.forall(_.group == "stages-spec-group"))
        assert(jobs.map(_.tags).distinct.size == 1, "one tag per call")
      } finally sc.clearJobGroup()
    }
  }

  test("a failing stage beside a long Spark job returns promptly with its own exception") {
    withLog { log =>
      val boom = new IllegalStateException("boom")
      val since = System.currentTimeMillis()
      val e = intercept[IllegalStateException] {
        Stages.all(spark)(
          "long" -> { () => untilCancelled() },
          "boom" -> { () => Thread.sleep(1000); throw boom })
      }
      val returned = System.currentTimeMillis()
      assert(e eq boom)
      assert(returned - since < 20000, s"took ${returned - since} ms")
      assert(log.staged(since).values.exists(_.desc == "long"), "the long job never started")
      assert(log.runningAt(since, returned).isEmpty, "a sibling job outlived the call")
    }
  }

  test("cancelling an outer call also cancels the jobs of a nested call") {
    withLog { log =>
      val boom = new IllegalStateException("outer boom")
      val since = System.currentTimeMillis()
      val e = intercept[IllegalStateException] {
        Stages.all(spark)(
          "nested" -> { () =>
            Stages.all(spark)(
              "inner a" -> { () => untilCancelled() },
              "inner b" -> { () => untilCancelled() })
          },
          "boom" -> { () =>
            val deadline = System.currentTimeMillis() + 20000
            while (sc.statusTracker.getActiveJobIds().length < 2 &&
                System.currentTimeMillis() < deadline) Thread.sleep(20)
            throw boom
          })
      }
      val returned = System.currentTimeMillis()
      assert(e eq boom)
      assert(returned - since < 30000, s"took ${returned - since} ms")
      val inner = log.staged(since).values.filter(_.desc.startsWith("inner"))
      assert(inner.size == 2, s"inner jobs: $inner")
      assert(inner.forall(_.tags.count(_.startsWith(Stages.tagPrefix)) == 2),
        "nested jobs must carry the outer and the inner tag")
      assert(log.runningAt(since, returned).isEmpty, "a nested job outlived the outer call")
    }
  }

  test("concurrent stages have one way in: no pool or unbounded wait outside graft/Stages.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val banned = Seq("Executors.new", "Await.result", "Duration.Inf")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/Stages.scala"))
      .flatMap { p =>
        scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().zipWithIndex
          .collect { case (l, i) if banned.exists(l.contains) => s"$p:${i + 1}: ${l.trim}" }
      }.toList
    assert(hits.isEmpty, hits.mkString("\n"))
    val stages = scala.io.Source.fromFile(root.resolve("graft/Stages.scala").toFile, "UTF-8")
    try assert(!stages.mkString.contains("setJobGroup(")) finally stages.close()
  }

  test("operator singletons initialise concurrently without deadlock (fresh class loader)") {
    val app = getClass.getClassLoader
    // child-first for graft classes, so every round initialises them anew
    final class Fresh extends ClassLoader(app) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        getClassLoadingLock(name).synchronized {
          if (!name.startsWith("graft.")) super.loadClass(name, resolve)
          else Option(findLoadedClass(name)).getOrElse {
            val in = app.getResourceAsStream(name.replace('.', '/') + ".class")
            if (in == null) throw new ClassNotFoundException(name)
            val bytes = try in.readAllBytes() finally in.close()
            defineClass(name, bytes, 0, bytes.length)
          }
        }
    }
    val objects = Seq("Dedup", "Similarity", "TextAnalysis").map(o => s"graft.operators.$o$$")
    (1 to 5).foreach { round =>
      val loader = new Fresh
      val barrier = new CyclicBarrier(objects.size)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = objects.map { o =>
        val t = new Thread(() =>
          try { barrier.await(); Class.forName(o, true, loader); () }
          catch { case e: Throwable => errors.add(e); () })
        t.setDaemon(true)
        t.start()
        t
      }
      threads.foreach(_.join(60000))
      assert(!threads.exists(_.isAlive), s"round $round: class initialisation deadlocked")
      assert(errors.isEmpty, s"round $round: ${errors.asScala.mkString("; ")}")
      objects.foreach(o => assert(loader.loadClass(o).getClassLoader eq loader))
    }
  }
}

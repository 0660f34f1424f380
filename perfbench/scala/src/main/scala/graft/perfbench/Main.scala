package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators.{FundEtl, Multimodal}

/** The benchmark's Spark driver program.  It calls graft only through entry
  * points that take an input location (SparkEntry.queries,
  * FundEtl.ingestFrom, Multimodal.imagePipeline,
  * EventStreams.statementPipeline, graft.sources, graft.functions,
  * graft.plans), inside one long-lived session, and writes raw samples
  * as one JSON object for perfbench/run.py to turn into metrics.
  *
  * Usage: Main <config.json> <out.json>
  */
object Main {
  /** One timed result of a closed loop. */
  final case class Sample(name: String, pass: Int, buildS: Double,
      actionS: Double, err: String, group: String) {
    def s: Double = buildS + actionS
  }

  final class Run(val cfg: JsonNode, val spark: SparkSession, val rec: Recorder) {
    val work: String = cfg.get("work").asText
    val seconds: Double = cfg.get("seconds").asDouble
    val traced: Boolean = cfg.get("trace").asBoolean
    val cores: Int = cfg.get("cores").asInt
    val out = ArrayBuffer.empty[(String, Any)]
    def put(k: String, v: Any): Unit = out += (k -> v)
  }

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = new Recorder
    val tb = System.nanoTime()
    val spark = GraftSession.build(s"local[${cfg.get("cores").asInt}]", "graft-perfbench")
    val buildS = (System.nanoTime() - tb) / 1e9
    if (cfg.get("trace").asBoolean) rec.install(spark)
    val run = new Run(cfg, spark, rec)
    run.put("workload", cfg.get("workload").asText)
    run.put("session_build_s", buildS)
    try {
      cfg.get("workload").asText match {
        case "etl_files" =>
          closedLoop(run, jvmStart, Seq("etl_ingest" ->
            (() => FundEtl.ingestFrom(spark, s"${run.work}/statements"))))
        case "query_mix" =>
          closedLoop(run, jvmStart, registryOps(run, s"${run.work}/tables") :+
            ("image_pipeline" -> (() => Multimodal.imagePipeline(spark, s"${run.work}/images"))))
        case "statement_stream" =>
          StreamRun.run(run, jvmStart)
      }
      if (run.traced) Layers.probes(run)
    } finally {
      run.put("peak_rss_mb", peakRssMb())
      if (run.traced) rec.writeSpans(s"${run.work}/trace/spans.jsonl")
      Files.writeString(Paths.get(args(1)), Json.obj(run.out.toSeq: _*) + "\n")
      spark.stop()
    }
  }

  private def registryOps(run: Run, dir: String): Seq[(String, () => DataFrame)] =
    run.cfg.get("ops").elements.asScala.map(_.asText).toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (() => fn(run.spark, dir))
    }

  /** The driver JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def errOf(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(200)}"

  /** One result: build the frame, then materialise all of it into the
    * noop sink.  Traced results run as a span group named after the
    * result, with `build` and `action` child spans. */
  def timedResult(run: Run, name: String, pass: Int, n: Int,
      f: () => DataFrame): Sample = {
    val tracing = run.traced && run.rec.enabled
    val group = if (tracing) s"r$n:$name" else null
    var buildS = 0.0; var actionS = 0.0; var err: String = null
    def timed(parent: Int): Unit = {
      def step[T](label: String)(body: => T): T =
        if (tracing) run.rec.span(label, parent, group, run.spark)(_ => body) else body
      val t0 = System.nanoTime()
      val df = step("build")(f())
      val t1 = System.nanoTime()
      buildS = (t1 - t0) / 1e9
      step("action")(noop(df))
      actionS = (System.nanoTime() - t1) / 1e9
    }
    try {
      if (tracing) run.rec.span(name, -1, group, run.spark)(timed) else timed(-1)
    } catch { case NonFatal(t) => err = errOf(t) }
    Sample(name, pass, buildS, actionS, err, group)
  }

  /** Closed loop, one client: the warm-up pass writes every result to
    * parquet for the output checks and more passes run untimed for
    * `warm_s` seconds; then passes over the list repeat until `seconds` have
    * elapsed (the pass in flight completes). */
  def closedLoop(run: Run, jvmStart: Long, items: Seq[(String, () => DataFrame)]): Unit = {
    val spark = run.spark
    val checkDir = s"${run.work}/check"
    val tw = System.nanoTime()
    if (run.traced) run.rec.enabled = true
    val warm = items.map { case (name, f) =>
      val group = if (run.traced) s"warm:$name" else null
      val t0 = System.nanoTime()
      val err = try {
        def write(): Unit = f().write.mode("overwrite").parquet(s"$checkDir/$name")
        if (run.traced) run.rec.span(s"warm $name", -1, group, spark)(_ => write())
        else write()
        null
      } catch { case NonFatal(t) => errOf(t) }
      Map("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9, "err" -> err,
        "group" -> group)
    }
    // further untimed passes into the noop sink for `warm_s` seconds,
    // so the JIT has compiled the hot paths before the timed region
    val warmUntil = System.nanoTime() + (run.cfg.get("warm_s").asDouble * 1e9).toLong
    while (System.nanoTime() < warmUntil)
      items.foreach { case (_, f) => try noop(f()) catch { case NonFatal(_) => () } }
    val warmupS = (System.nanoTime() - tw) / 1e9
    run.put("warmup_s", warmupS)
    run.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    run.put("warm", warm)
    // Timed region.  A traced run measures its first half with the
    // recorder off and its second half with it on.
    run.rec.enabled = false
    val t0 = System.nanoTime()
    val deadline = t0 + (run.seconds * 1e9).toLong
    val half = t0 + (run.seconds * 5e8).toLong
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    while (System.nanoTime() < deadline) {
      val traced = run.traced && System.nanoTime() >= half
      run.rec.enabled = traced
      val p0 = System.nanoTime()
      items.foreach { case (name, f) =>
        samples += timedResult(run, name, pass, samples.size, f)
      }
      passes += Map("pass" -> pass, "s" -> (System.nanoTime() - p0) / 1e9,
        "traced" -> traced)
      pass += 1
    }
    run.rec.enabled = false
    run.put("measure_s", (System.nanoTime() - t0) / 1e9)
    run.put("passes", passes.toSeq)
    run.put("samples", samples.toSeq.map(s => Map("name" -> s.name,
      "pass" -> s.pass, "s" -> s.s, "build_s" -> s.buildS,
      "action_s" -> s.actionS, "err" -> s.err)))
    if (run.traced) { run.rec.settle(); Layers.operators(run, samples.toSeq, warm) }
    // Oracle inputs, outside the timed region: the split-oracle aux
    // dumps the chosen ops' oracle SQL names, and the SQL itself.
    val ops = items.map(_._1).filter(SparkEntry.oracleSql.contains)
    val auxDir = s"${run.work}/check_aux"
    val auxNames = ops.flatMap(o => "__AUX__/([A-Za-z0-9_]+)".r
      .findAllMatchIn(SparkEntry.oracleSql(o)).map(_.group(1))).distinct
    val auxErr = auxNames.flatMap { a =>
      try {
        SparkEntry.auxDumps(a)(spark, s"${run.work}/tables")
          .write.mode("overwrite").parquet(s"$auxDir/$a")
        None
      } catch { case NonFatal(t) => Some(a -> errOf(t)) }
    }.toMap
    run.put("aux_errors", auxErr)
    run.put("oracle_sql", ops.map(o => o -> SparkEntry.oracleSql(o)
      .replace("__AUX__", new File(auxDir).getAbsolutePath)
      .replace("__OUT__", new File(checkDir).getAbsolutePath)).toMap)
  }
}

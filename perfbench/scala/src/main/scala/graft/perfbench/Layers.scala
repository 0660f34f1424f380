package graft.perfbench

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import graft.sources.{BinaryFiles, Tables}

/** Per-layer metrics of the traced run: the `operators` and `plans`
  * accounting of traced results, and the isolation probes of the
  * `sources`, `functions` and `plans` layers. */
object Layers {
  private def mb(b: Double): Double = b / (1 << 20)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Task totals, jobs and exchanges of each group, as per-group rows. */
  final case class GroupStats(jobs: Int, stages: Long, tasks: Long,
      failedTasks: Long, runS: Double, cpuS: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, resultMb: Double,
      recordsWritten: Long, exchanges: Int)

  def stats(rec: Recorder, group: String): GroupStats = {
    val t = Option(rec.totals.get(group)).getOrElse(new Totals)
    GroupStats(rec.jobsOf(group).size, t.stages, t.tasks, t.failedTasks,
      t.runMs / 1e3, t.cpuNs / 1e9, mb(t.shuffleWrite.toDouble),
      mb(t.shuffleRead.toDouble), mb(t.spill.toDouble), mb(t.resultBytes.toDouble),
      t.recordsWritten, rec.exchangesOf(group))
  }

  /** Means over results of the group statistics, plus the busy share
    * of the executors over the results' wall time. */
  def groupMetrics(run: Main.Run, groups: Seq[(String, Long, Long)]): Map[String, Double] = {
    val st = groups.map(g => stats(run.rec, g._1))
    val wallS = groups.map(g => (g._3 - g._2) / 1e3).sum
    Map(
      "operators.jobs" -> mean(st.map(_.jobs.toDouble)),
      "operators.stages" -> mean(st.map(_.stages.toDouble)),
      "operators.tasks" -> mean(st.map(_.tasks.toDouble)),
      "operators.failed_tasks" -> st.map(_.failedTasks.toDouble).sum,
      "operators.result_mb" -> mean(st.map(_.resultMb)),
      "operators.exec_run_s" -> mean(st.map(_.runS)),
      "operators.exec_cpu_s" -> mean(st.map(_.cpuS)),
      "operators.exec_busy_frac" ->
        (if (wallS > 0) st.map(_.runS).sum / (run.cores * wallS) else 0.0),
      "operators.driver_gap_s" ->
        mean(groups.map { case (g, a, b) => run.rec.gapMs(g, a, b) / 1e3 }),
      "plans.exchanges" -> mean(st.map(_.exchanges.toDouble)),
      "plans.shuffle_write_mb" -> mean(st.map(_.shuffleWriteMb)),
      "plans.shuffle_read_mb" -> mean(st.map(_.shuffleReadMb)),
      "plans.spill_mb" -> mean(st.map(_.spillMb)))
  }

  /** The `operators`/`plans` metrics of a closed loop's traced results,
    * and the per-op figures of the hot list. */
  def operators(run: Main.Run, samples: Seq[Main.Sample],
      warm: Seq[Map[String, Any]]): Unit = {
    val traced = samples.filter(_.group != null)
    val spans = run.rec.allSpans
    val top = spans.filter(s => s.parent == -1 && s.group != null).map(s => s.group -> s).toMap
    val groups = traced.flatMap(s => top.get(s.group)).map(s => (s.group, s.start, s.end))
    val buildJobs = traced.map { s =>
      spans.find(sp => sp.group == s.group && sp.name == "build").map { b =>
        run.rec.jobsOf(s.group).count(j => j.start >= b.start && j.start <= b.end).toDouble
      }.getOrElse(0.0)
    }
    val warmRows = warm.flatMap(w => Option(w("group")).map(g =>
      stats(run.rec, g.toString).recordsWritten.toDouble))
    val hot = run.cfg.get("hot").elements.asScala.map(_.asText).toSeq
    val perOp = hot.flatMap { op =>
      val mine = traced.filter(_.name == op)
      if (mine.isEmpty) Nil
      else {
        val st = mine.map(s => stats(run.rec, s.group))
        Seq(s"op.$op.s" -> median(mine.map(_.s)),
          s"op.$op.jobs" -> mean(st.map(_.jobs.toDouble)),
          s"op.$op.shuffle_mb" -> mean(st.map(s => s.shuffleWriteMb + s.shuffleReadMb)))
      }
    }
    run.put("layers_operators", groupMetrics(run, groups) ++ Map(
      "operators.build_s" -> mean(traced.map(_.buildS)),
      "operators.action_s" -> mean(traced.map(_.actionS)),
      "operators.build_jobs" -> mean(buildJobs),
      "operators.rows_out" -> mean(warmRows)) ++ perOp)
  }

  /** Median seconds of `n` runs of `body`, each recorded as a span. */
  private def probe(run: Main.Run, name: String, n: Int = 3)(body: => Unit): Double =
    median((1 to n).map { i =>
      val t0 = System.nanoTime()
      run.rec.span(s"probe $name", -1, s"probe:$name:$i", run.spark)(_ => body)
      (System.nanoTime() - t0) / 1e9
    })

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def dirMb(path: String): Double = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    if (root.exists) mb(walk(root).toDouble) else 0.0
  }

  /** Isolation probes, run after the timed region of a traced run.
    * Every layer metric is emitted on every workload; a layer the
    * workload does not touch reads 0. */
  def probes(run: Main.Run): Unit = {
    val spark = run.spark
    val w = run.work
    run.rec.enabled = true
    val workload = run.cfg.get("workload").asText
    // sources: the call that builds the source frame, then that frame
    // alone into the noop sink
    val (srcDir, mkSource): (String, () => DataFrame) = workload match {
      case "etl_files" => (s"$w/statements", () => BinaryFiles.scan(spark, "*.txt", s"$w/statements"))
      case "statement_stream" => (s"$w/stream/in", () => BinaryFiles.scan(spark, "*.txt", s"$w/stream/in"))
      case _ => (s"$w/tables", () => Tables.lineitem(spark, s"$w/tables"))
    }
    var files = 0
    val listS = probe(run, "sources.list") { files = mkSource().inputFiles.length }
    val scanSrc = mkSource()
    val scanS = probe(run, "sources.scan")(noop(scanSrc))
    val decodeFailed = try workload match {
      case "etl_files" =>
        spark.read.parquet(s"$w/check/etl_ingest").filter(!col("valid")).count()
      case "statement_stream" =>
        spark.read.option("recursiveFileLookup", "true").parquet(s"$w/stream/extracted").filter(!col("valid")).count()
      case _ =>
        graft.operators.Multimodal.imageDecode(spark, s"$w/images").filter(!col("img_ok")).count()
    } catch { case NonFatal(_) => -1L }
    val sources = Map("sources.list_s" -> listS, "sources.scan_s" -> scanS,
      "sources.files" -> files.toDouble,
      "sources.input_mb" -> (dirMb(srcDir) +
        (if (workload == "query_mix") dirMb(s"$w/images") else 0.0)),
      "sources.decode_failed" -> decodeFailed.toDouble)
    // functions: each kernel alone over a checkpointed corpus input
    val functions =
      if (workload != "query_mix") Map.empty[String, Double]
      else {
        // the corpus repeated `probe_copies` times, so kernel time
        // outweighs the per-job floor
        val copies = explode(sequence(lit(1), lit(run.cfg.get("probe_copies").asInt)))
        val docs = Tables.documents(spark, s"$w/tables").withColumn("copy", copies)
          .select(col("doc_id"), col("text"), col("source")).localCheckpoint()
        val emb = Tables.embeddings(spark, s"$w/tables").withColumn("copy", copies)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val q = emb.head().getSeq[Float](1)
        val toks = split(col("text"), " ")
        def k(name: String, df: => DataFrame) = s"functions.$name" -> probe(run, s"functions.$name")(noop(df))
        Map(
          k("baseline_s", docs.select(col("doc_id"), col("text"))),
          k("minhash_sig_s", docs.select(HashFunctions.minhashSig(HashFunctions.shingleHashes(toks, 3), 32))),
          k("simhash64_s", docs.select(HashFunctions.simhash64(toks))),
          k("token_count_s", docs.select(TextFunctions.bpeTokenCount(col("text")))),
          k("text_embedding_s", docs.select(VectorFunctions.hashedTextEmbedding(col("text")))),
          k("cosine_s", emb.select(VectorFunctions.cosineSim(col("embedding"), typedLit(q)))),
          "plans.topk_s" -> probe(run, "plans.topk")(noop(graft.plans.TopK.perKey(
            docs.withColumn("score", length(col("text"))), Seq("source"), "score", "doc_id", 5))))
      }
    val hot = hotProbes(run)
    run.rec.settle()
    run.rec.enabled = false
    run.put("layers_probes", sources ++ functions ++ hot)
  }

  /** Hot-list ops the workload's list leaves out (their cold first run
    * costs more than a run's budget allows) still get their per-op
    * figures in the traced run: three runs each, the first discarded
    * as the cold one. */
  private def hotProbes(run: Main.Run): Map[String, Double] = {
    if (run.cfg.get("workload").asText != "query_mix") return Map.empty
    val ops = run.cfg.get("ops").elements.asScala.map(_.asText).toSet
    val hot = run.cfg.get("hot").elements.asScala.map(_.asText).filterNot(ops).toSeq
    run.rec.enabled = true
    val out = hot.flatMap { op =>
      val fn = graft.SparkEntry.queries(op)
      val warm = (0 until 3).map(i => Main.timedResult(run, op, -1, 100000 + i,
        () => fn(run.spark, s"${run.work}/tables"))).drop(1).filter(_.err == null)
      if (warm.isEmpty) Nil
      else {
        val st = warm.map(s => stats(run.rec, s.group))
        Seq(s"op.$op.s" -> median(warm.map(_.s)),
          s"op.$op.jobs" -> mean(st.map(_.jobs.toDouble)),
          s"op.$op.shuffle_mb" -> mean(st.map(s => s.shuffleWriteMb + s.shuffleReadMb)))
      }
    }
    run.rec.enabled = false
    out.toMap
  }
}

package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.operators.FundEtl
import graft.streaming.EventStreams

/** statement_stream: an open loop.  One generator thread moves a
  * pre-generated batch of statement files into the watched directory
  * every `interval_s`, whether or not earlier batches were applied;
  * EventStreams.statementPipeline extracts each micro-batch and writes
  * the dedup band index and the IVF index.  A file's latency runs from
  * when its batch was due to the commit of the micro-batch that
  * applied it.
  */
object StreamRun {
  final case class Progress(batchId: Long, startMs: Long, endMs: Long,
      addBatchMs: Long, rows: Long)

  private def rename(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.move(Paths.get(from), Paths.get(to))
  }

  /** The one dated folder of a staged batch. */
  private def stagedFolder(stage: String, k: Int): File =
    new File(f"$stage/batch-$k%04d").listFiles.filter(_.isDirectory).head

  def run(run: Main.Run, jvmStart: Long): Unit = {
    val spark = run.spark
    val w = run.work
    val cfg = run.cfg.get("stream")
    val interval = cfg.get("interval_s").asDouble
    // IVF centroids: embeddings of four fixed files, computed with the
    // featurizer the pipeline itself uses
    val centroids = FundEtl.loadStatements(spark, s"$w/centroid_src")
      .select(xxhash64(col("file_name")).as("id"),
        graft.functions.VectorFunctions.hashedTextEmbedding(col("content")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).take(4).toSeq
    def start(tag: String, in: String) = EventStreams.statementPipeline(spark, in,
      s"$w/$tag/extracted", s"perfbench_${tag}_dd", s"$w/$tag/pairs", centroids,
      s"perfbench_${tag}_ann", s"$w/$tag/topk", s"$w/$tag/ck")
    // warm-up: the staged warm batches, one micro-batch each, through
    // a separate pipeline instance
    val tw = System.nanoTime()
    if (run.traced) run.rec.enabled = true
    new File(s"$w/warm/in").mkdirs()
    val wq = start("warm", s"$w/warm/in")
    for (k <- 0 until new File(s"$w/warm_stage").list().length) {
      val folder = stagedFolder(s"$w/warm_stage", k)
      rename(folder.getPath, s"$w/warm/in/${folder.getName}")
      wq.processAllAvailable()
    }
    wq.stop()
    run.rec.enabled = false
    run.put("warmup_s", (System.nanoTime() - tw) / 1e9)

    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val t0 = Instant.parse(p.timestamp).toEpochMilli
          val d = p.durationMs.asScala
          progress.add(Progress(p.batchId, t0,
            t0 + d.get("triggerExecution").map(_.longValue).getOrElse(0L),
            d.get("addBatch").map(_.longValue).getOrElse(0L), p.numInputRows))
        }
      }
    }
    spark.streams.addListener(listener)
    new File(s"$w/stream/in").mkdirs()
    val q = start("stream", s"$w/stream/in")
    run.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3)

    // the generator: batch k is due at t0 + k * interval
    val nStaged = new File(s"$w/stream_stage").list().length
    val moves = new ConcurrentLinkedQueue[(Int, Long, Long, Int)]() // k, due, moved, files
    val t0 = System.currentTimeMillis() + 200
    val endMs = t0 + (run.seconds * 1000).toLong
    val halfMs = t0 + (run.seconds * 500).toLong
    val gen = new Thread(() => {
      var k = 0
      while (k < nStaged && t0 + (k * interval * 1000).toLong < endMs) {
        val due = t0 + (k * interval * 1000).toLong
        val now = System.currentTimeMillis()
        if (due > now) Thread.sleep(due - now)
        if (run.traced) run.rec.enabled = System.currentTimeMillis() >= halfMs
        val folder = stagedFolder(s"$w/stream_stage", k)
        val n = folder.list().length
        rename(folder.getPath, s"$w/stream/in/${folder.getName}")
        moves.add((k, due, System.currentTimeMillis(), n))
        k += 1
      }
    }, "perfbench-stream-writer")
    gen.start()
    gen.join()
    val moved = moves.asScala.map(_._4).sum
    // let the offered batches drain, bounded
    val drainBy = System.currentTimeMillis() + 90000
    while (progress.asScala.map(_.rows).sum < moved && q.exception.isEmpty &&
        System.currentTimeMillis() < drainBy) Thread.sleep(20)
    run.rec.enabled = false
    val streamErr = q.exception.map(e => String.valueOf(e.getMessage).take(300)).orNull
    q.stop()
    spark.streams.removeListener(listener)
    run.put("measure_s", (System.currentTimeMillis() - t0) / 1e3)

    // ---- post-processing, outside the measured window ----
    val prog = progress.asScala.toSeq.sortBy(_.batchId)
    val byBatch = prog.map(p => p.batchId -> p).toMap
    // which micro-batch applied each file
    val applied = prog.flatMap { p =>
      spark.read.parquet(s"$w/stream/extracted/batch-${p.batchId}")
        .select(col("file_name"), col("batch_date")).collect()
        .map(r => (r.getString(0), r.getString(1), p.batchId))
    }
    val dueOf = moves.asScala.map { case (k, due, _, _) => k -> due }.toMap
    val dateOf = run.cfg.get("stream_dates").elements.asScala.map(_.asText).zipWithIndex.toMap
    val fileRows = applied.map { case (file, date, b) =>
      val p = byBatch(b)
      val due = dueOf(dateOf(date))
      Map("file" -> file, "batch" -> dateOf(date), "micro_batch" -> b,
        "latency_s" -> (p.endMs - due) / 1e3, "apply_s" -> p.addBatchMs / 1e3)
    }
    // backlog: files moved in but not yet committed, at each event
    val events = moves.asScala.toSeq.map(m => (m._3, m._4)) ++ prog.map(p => (p.endMs, -p.rows.toInt))
    val backlog = events.sortBy(_._1).scanLeft(0)(_ + _._2).max
    run.put("stream", Map(
      "error" -> streamErr,
      "moved_files" -> moved,
      "offered_batches" -> moves.size,
      "files" -> fileRows,
      "micro_batches" -> prog.map(p => Map("batch_id" -> p.batchId,
        "start_ms" -> p.startMs, "end_ms" -> p.endMs, "apply_s" -> p.addBatchMs / 1e3,
        "rows" -> p.rows)),
      "first_due_ms" -> t0,
      "last_commit_ms" -> (if (prog.isEmpty) t0 else prog.map(_.endMs).max),
      "gen_lag_s" -> moves.asScala.map(m => (m._3 - m._2) / 1e3).maxOption.getOrElse(0.0),
      "backlog_max_files" -> backlog))
    run.put("stream_check", check(run, prog.map(_.batchId), moved))
    if (run.traced) { run.rec.settle(); traceBatches(run, prog, halfMs) }
  }

  /** The stream's output checks: the union of the batch outputs equals
    * FundEtl.ingestFrom over the same files, every applied micro-batch
    * carries exactly one _APPLIED marker in each index, and the index
    * row counts match the applied files. */
  private def check(run: Main.Run, batches: Seq[Long], moved: Int): Map[String, Any] = {
    val spark = run.spark
    val w = run.work
    try {
      val got = spark.read.option("recursiveFileLookup", "true").parquet(s"$w/stream/extracted")
      val cols = got.columns.filterNot(_ == "batch_date").map(col) :+ col("batch_date")
      val expect = FundEtl.ingestFrom(spark, s"$w/stream/in")
      val g = got.select(cols: _*); val e = expect.select(cols: _*)
      val diff = g.exceptAll(e).count() + e.exceptAll(g).count()
      def markers(dir: String) = Option(new File(dir).listFiles).toSeq.flatten
        .count(d => new File(d, "_APPLIED").exists)
      val pairsMarkers = markers(s"$w/stream/pairs")
      val topkMarkers = markers(s"$w/stream/topk")
      val annRows = spark.table("perfbench_stream_ann").count()
      val ddRows = spark.table("perfbench_stream_dd").count()
      Map("rows" -> got.count(), "moved" -> moved, "diff_rows" -> diff,
        "batches" -> batches.size, "pairs_markers" -> pairsMarkers,
        "topk_markers" -> topkMarkers, "ann_rows" -> annRows, "dd_rows" -> ddRows,
        "ok" -> (diff == 0 && got.count() == moved && pairsMarkers == batches.size &&
          topkMarkers == batches.size && annRows == moved && ddRows == 8L * moved))
    } catch { case NonFatal(t) => Map("ok" -> false, "error" -> String.valueOf(t.getMessage).take(300)) }
  }

  /** Micro-batch spans (the batch, with its foreachBatch apply as a
    * child) and the `streaming`/`operators` metrics of the traced half. */
  private def traceBatches(run: Main.Run, prog: Seq[Progress], halfMs: Long): Unit = {
    val traced = prog.filter(_.startMs >= halfMs)
    traced.foreach { p =>
      val top = run.rec.add(s"micro-batch ${p.batchId}", -1, s"batch:${p.batchId}", p.startMs, p.endMs)
      run.rec.add("apply", top.id, s"batch:${p.batchId}", p.endMs - p.addBatchMs, p.endMs)
    }
    val groups = traced.map(p => (s"batch:${p.batchId}", p.startMs, p.endMs))
    run.put("layers_operators", Layers.groupMetrics(run, groups) ++ Map(
      "streaming.jobs_per_batch" ->
        (if (traced.isEmpty) 0.0 else groups.map(g => run.rec.jobsOf(g._1).size).sum.toDouble / traced.size)))
  }
}

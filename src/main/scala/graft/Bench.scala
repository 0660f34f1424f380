package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Headline set: a stable representative core (scan/agg, joins,
    * windows, ETL, dedup, ANN, streaming-semantics) whose total is
    * comparable across rounds regardless of how many additional
    * operators the library registers. Every registered query is still
    * timed individually in "queries"; "all_total" sums the full sweep.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q06_revenue_filter", "q09_window_rank", "q18_large_orders",
    "etl_master_table", "etl_standardize_union",
    "dd_exact", "dd_minhash_lsh", "ann_brute_topk",
    "tx_clean_corpus", "st_sessionize")

  /** DRIFT SENTINEL op names (round 14, the r13 verdict's ask #2): ten
    * ops whose code has been untouched for many rounds. Two same-code
    * runs in round 13 differed 24% (builder 5.667 s vs driver 7.03 s
    * headline) with the shift uniform across files without commits —
    * machine state, not plans. drift_factor = median(current/reference)
    * over these ops names that machine state explicitly, so
    * `headline_drift_normalized = headline / drift_factor` compares
    * rounds on identical terms.
    *
    * REBASED PER ROUND (round 15, the r14 verdict's ask #2): the
    * reference values are READ from the newest committed prior-round
    * BENCH_QUERIES_r{N}.json (N strictly below the current round, so a
    * same-round local re-run can never self-reference) instead of
    * constants pinned to one round — a hardcoded anchor compounds
    * normalization error across rounds. With per-round rebasing the
    * normalized headline estimates "this code under the REFERENCE
    * round's machine state", so the §6 gate compares it to the
    * reference round's RAW headline (emitted as `headline_ref_raw`,
    * with the ratio precomputed as `headline_gate_ratio`); the file
    * also names the anchor (`drift_ref_round`). [[driftSentinelsR13]]
    * stays as the loud fallback when no prior-round file parses.
    */
  val driftSentinelNames: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q06_revenue_filter", "q16_having", "q34_stats", "etl_classify",
    "mm_resize", "tx_clean_corpus", "ann_brute_topk")

  /** Fallback sentinel references: the DRIVER's official r13 values
    * (the round-14 constants) — used only when no prior
    * BENCH_QUERIES_r*.json is readable, so a fresh checkout still
    * benches with an explicit (if stale) anchor rather than none.
    */
  val driftSentinelsR13: Seq[(String, Double)] = Seq(
    "q01_pricing_summary" -> 0.387, "q03_shipping_priority" -> 0.960,
    "q05_local_supplier" -> 0.841, "q06_revenue_filter" -> 0.244,
    "q16_having" -> 0.396, "q34_stats" -> 0.316,
    "etl_classify" -> 0.206, "mm_resize" -> 0.136,
    "tx_clean_corpus" -> 0.485, "ann_brute_topk" -> 0.328)

  /** The drift reference: sentinel min-times + raw headline + frozen
    * flagship-headline total of the anchor round, read from its
    * committed BENCH_QUERIES_r{N}.json.
    */
  final case class DriftRef(round: Int, sentinels: Seq[(String, Double)],
      rawHeadline: Double, flagshipHeadline: Double)

  /** Directory entries matching `pattern` (one capture group = round
    * number) — the one copy of the list/regex/close pattern shared by
    * the drift-reference loader and the round-number inference.
    */
  private[graft] def roundFiles(dir: java.nio.file.Path,
      pattern: scala.util.matching.Regex): Seq[(Int, java.nio.file.Path)] = {
    // Files.list holds an open directory handle until closed
    val listing = java.nio.file.Files.list(dir)
    try scala.jdk.CollectionConverters
      .IteratorHasAsScala(listing.iterator()).asScala
      .flatMap(p => pattern.findFirstMatchIn(p.getFileName.toString)
        .map(m => (m.group(1).toInt, p))).toSeq
    finally listing.close()
  }

  /** Canonical form of an sf-dir path for the drift-ref sf guard:
    * exact string equality would silently discard every anchor over a
    * trailing slash, a `.` segment, or a symlinked spelling of the
    * same directory (round-15 advice) — and a discarded anchor
    * regresses the gate to the pinned r13 constants without a word.
    * toRealPath resolves symlinks when the path exists; otherwise the
    * lexical normalize still kills slashes and dot segments.
    */
  private[graft] def canonicalSf(p: String): String =
    try java.nio.file.Paths.get(p).toRealPath().toString
    catch { case scala.util.control.NonFatal(_) =>
      try java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
      catch { case scala.util.control.NonFatal(_) => p }
    }

  /** Load the newest BENCH_QUERIES_r{N}.json with N < `currentRound`
    * from `dir` whose `sf` field matches THIS run's sfDir, and extract
    * the drift reference. The sf guard matters (round-15 review): every
    * bench run writes a per-round file, including local scale A/Bs at
    * 25×/100× — a stray off-scale file as the anchor would corrupt
    * drift_factor by the scale ratio itself (sentinels ~25× slower →
    * factor ~25 → gates nonsense in both directions). Mismatched or
    * unparsable candidates are skipped newest-first; no acceptable
    * candidate falls back to the pinned r13 constants (round -1
    * raw/flagship anchors: the r13 file predates those fields, so the
    * gate ratios read -1 rather than a wrong number).
    */
  private[graft] def loadDriftRef(dir: java.nio.file.Path,
      currentRound: Int, sfDir: String): DriftRef = {
    val fallback = DriftRef(13, driftSentinelsR13, -1.0, -1.0)
    // NonFatal, never Throwable: a `return` from inside a lambda
    // travels as NonLocalReturnControl (a Throwable) and a blanket
    // catch would swallow it — flatMap + nextOption avoids the return
    // entirely and NonFatal keeps control-flow throwables out.
    try {
      roundFiles(dir, "^BENCH_QUERIES_r(\\d+)\\.json$".r)
        .filter(_._1 < currentRound).sortBy(-_._1)
        .iterator.flatMap { case (refRound, refPath) =>
          try {
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            val root = mapper.readTree(java.nio.file.Files.readString(refPath))
            val refSf = Option(root.get("sf")).map(_.asText("")).getOrElse("")
            val qnode = root.get("queries")
            if (canonicalSf(refSf) != canonicalSf(sfDir) ||
                qnode == null || !qnode.isObject) None
            else {
              val sentinels = driftSentinelNames.flatMap { k =>
                Option(qnode.get(k)).map(_.asDouble(-1.0)).filter(_ > 0).map(k -> _)
              }
              def num(field: String): Double =
                Option(root.get(field)).map(_.asDouble(-1.0)).getOrElse(-1.0)
              // a reference with most sentinels missing/failed is no anchor
              if (sentinels.size >= 5)
                Some(DriftRef(refRound, sentinels, num("value"),
                  num("flagship_headline_total")))
              else None
            }
          } catch { // unreadable candidate: skip to the next-newest
            case scala.util.control.NonFatal(_) => None
          }
        }.nextOption().getOrElse(fallback)
    } catch { case scala.util.control.NonFatal(_) => fallback }
  }

  /** SECOND headline list (round 12, the verdict's ask #5): the
    * composed flagship DAGs, benched alongside the stable headline so
    * a regression in operator COMPOSITION (a lost cache barrier, a
    * stage that starts recomputing) surfaces round-over-round even
    * when every individual operator stays flat. The four registry
    * flagships are timed inside the normal sweep (so flagship_total is
    * derived from the same samples as everything else); the streaming
    * flagship's batch probe — statementPipelineApplyBatch on the full
    * statement corpus, cold store, batch 0 — is NOT a registry query
    * and is timed separately ([[timeStatementBatch]]), reported under
    * the reserved name "statement_batch_probe".
    */
  val flagships: Seq[String] =
    Seq("etl_e2e", "dd_pipeline", "mm_pipeline", "tx_pipeline")

  /** FROZEN flagship headline set (round 14, the r13 verdict's ask
    * #5): the six composed DAGs — the four registry flagships plus the
    * stateful curation twin and the streaming batch probe — as a FIXED
    * cross-round list, separate from `flagships` (whose total has
    * r11-r13 continuity). The reference total is read per round from
    * the drift anchor's committed flagship_headline_total (the stale
    * r13 constant was dropped in round 16, the r15 verdict's ask #8).
    */
  val flagshipHeadline: Seq[String] =
    Seq("etl_e2e", "dd_pipeline", "mm_pipeline", "tx_pipeline",
      "tx_curation_incremental")

  /** Operators whose SEMANTICS changed this round: their bench deltas
    * vs the prior round are operator changes, not perf regressions
    * (the q22/q37 lesson — reset each round). Round 15: none — the
    * round's changes are bench-reporting (drift rebase, gate ratios,
    * probe-sample spread) and store/scale work with outputs unchanged.
    */
  val semanticsChanged: Seq[String] = Seq.empty

  /** One cold apply of the streaming flagship's micro-batch kernel,
    * timed alone: the setup in [[StatementBatchProbe]]'s constructor
    * and its cleanup stay outside the clock.
    */
  private def timeStatementBatch(spark: SparkSession,
      errors: scala.collection.mutable.Map[String, String]): Double = {
    val probe = new StatementBatchProbe(spark)
    val t0 = System.nanoTime()
    try {
      probe.run()
      (System.nanoTime() - t0) / 1e9
    } catch { case t: Throwable =>
      // record WHAT broke (round-12 advice: a silent -1.0 made a dead
      // streaming flagship undiagnosable from BENCH json); sanitize so
      // the message can't break the hand-built JSON
      errors.getOrElseUpdate("statement_batch_probe",
        t.toString.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160))
      -1.0
    } finally probe.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", "graft-bench")
    // Warm each query once on the tiny SF: identical plans modulo the
    // input path, so the generated-code cache is hot and the timed runs
    // measure execution, not Janino compilation.
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => }
    }
    spark.catalog.clearCache()
    // A failed query must be a loud error marker, not a plausible wall
    // time — otherwise a regression hides inside a "fast" number.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // MIN OF 3 ACROSS INTERLEAVED SWEEPS (round 11; queries_median is
    // the companion statistic from the same samples). The previous
    // shape — 3 back-to-back runs per op — could not absorb the noise
    // it was built for: JVM state (GC debt, JIT recompilation, malloc
    // arenas) carries over from the PRECEDING operator, so all three
    // back-to-back runs of one op share the same bad neighborhood and
    // the median keeps the bias. Round 10's "3-4x regressions with
    // untouched code" were exactly this: queries is a hash Map, so
    // registering 36 new ops reshuffled the sweep order and handed
    // several ops new expensive predecessors. Two fixes here:
    // (a) the sweep order is pinned to sorted names — stable as the
    //     registry grows, so round-over-round neighbors stay fixed;
    // (b) the 3 runs of an op come from 3 FULL sweeps, so each sample
    //     sees a different JVM epoch and both statistics range over
    //     machine states, not over one state thrice.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to 3).foreach { _ =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case t: Throwable =>
            errors.getOrElseUpdate(name, t.getClass.getSimpleName); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Each measurement is self-contained: drop this operator's
        // persisted intermediates so they don't distort the next one.
        spark.catalog.clearCache()
        samples(name) = (if (ok) dt else -1.0) :: samples(name)
      }
    }
    // TWO statistics from the same 3 samples (round 11): the MIN
    // across epochs is the op's achievable warm time — semantically
    // the closest match to the previous back-to-back median (whose
    // runs 2-3 were JIT-warm), so it's the round-over-round
    // comparison statistic and feeds the headline. The MEDIAN across
    // epochs is systematically ~1.3x higher (a mid-sweep sample often
    // runs with this op's JIT state evicted by the other 171 ops —
    // measured uniformly, e.g. q01 0.20→0.28 on untouched code) and
    // is kept alongside as the conservative steady-state number.
    val mins = names.map { name =>
      val times = samples(name)
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val medians = names.map { name =>
      val times = samples(name)
      name -> (if (times.exists(_ < 0)) -1.0 else times.sorted.apply(1))
    }
    val results = mins
    val succeeded = results.filter(_._2 >= 0).toMap
    // Flagship probe: min of 3 cold applies (after the sweeps so its
    // JVM state matches the sweep samples' steady state). The probe
    // cold-builds dirs/tables per call BY DESIGN, so its sample spread
    // is real cold-path variance (1.5-4.0 s across r14's runs) — the
    // samples are emitted as their own field (r14 verdict ask #4) so
    // flagship_headline_total's round-over-round reader can see how
    // much of a delta is probe variance vs operator change.
    val stmtProbe = (1 to 3).map(_ => timeStatementBatch(spark, errors))
    val stmtBatch =
      if (stmtProbe.exists(_ < 0)) -1.0 else stmtProbe.min
    val stmtProbeJson = stmtProbe.mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val headlineTotal = headline.flatMap(succeeded.get).sum
    // A failed headline query shrinks headlineTotal, which would read as a
    // SPEEDUP round-over-round — flag incompleteness so the headline number
    // can't be compared as-is.
    val headlineComplete = headline.forall(succeeded.contains)
    val allTotal = if (succeeded.nonEmpty) succeeded.values.sum else 0.0
    val hs = headline.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sc = semanticsChanged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qsMed = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Flagship second headline: registry flagships from the sweep's
    // own min samples + the separately-timed streaming-batch probe.
    val flagshipMap = flagships.map(k =>
      k -> succeeded.getOrElse(k, -1.0)) :+ ("statement_batch_probe" -> stmtBatch)
    val flagshipComplete = flagshipMap.forall(_._2 >= 0)
    val flagshipTotal =
      if (flagshipComplete) flagshipMap.map(_._2).sum else -1.0
    val fj = flagshipMap.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // The frozen 6-op flagship headline (registry five + the probe)
    // with its r13 back-reference — see flagshipHeadline's scaladoc.
    val fhMap = flagshipHeadline.map(k =>
      k -> succeeded.getOrElse(k, -1.0)) :+ ("statement_batch_probe" -> stmtBatch)
    val fhTotal = if (fhMap.forall(_._2 >= 0)) fhMap.map(_._2).sum else -1.0
    // Output destination + round label, resolved BEFORE the drift
    // block: the drift reference is the newest committed prior-round
    // per-query file, and "prior" needs the current round number.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("BENCH_QUERIES_LATEST.json").getAbsolutePath)
    val outDir = java.nio.file.Paths.get(benchOut).toAbsolutePath.getParent
    // SPARK_GRAFT_ROUND pins the label explicitly (a same-round re-run
    // after the driver already wrote BENCH_r{N}.json would otherwise
    // infer N+1); the fallback infers one past the highest
    // BENCH_r{N}.json already on disk (driver-written, so local
    // builder runs never bump it).
    val rnd = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
      .getOrElse {
        try roundFiles(outDir, "^BENCH_r(\\d+)\\.json$".r)
          .map(_._1).foldLeft(0)(math.max) + 1
        catch { case _: Throwable => 0 }
      }
    // Drift normalization: median(current min / prior-round reference)
    // over the sentinel ops; -1 when fewer than 5 sentinels succeeded
    // (a drift factor from a broken sweep would be noise, not signal).
    val driftRef = loadDriftRef(outDir, rnd, sfDir)
    val driftRatios = driftRef.sentinels.flatMap { case (k, ref) =>
      succeeded.get(k).filter(_ > 0).map(_ / ref)
    }.sorted
    // true median: even counts average the middle two — taking only
    // the upper-middle order statistic would shift the normalized
    // headline by the gap between them
    val driftFactor =
      if (driftRatios.size < 5) -1.0
      else if (driftRatios.size % 2 == 1) driftRatios(driftRatios.size / 2)
      else (driftRatios(driftRatios.size / 2 - 1) + driftRatios(driftRatios.size / 2)) / 2.0
    val headlineNorm =
      if (driftFactor > 0 && headlineComplete) headlineTotal / driftFactor else -1.0
    val driftJson = driftRef.sentinels.map { case (k, ref) =>
      s"\"" + k + "\":{\"ref\":" + ref + ",\"cur\":" + succeeded.getOrElse(k, -1.0) + "}"
    }.mkString("{", ",", "}")
    // Gate ratios, precomputed so the §6 gate is one field read.
    // headline_gate_ratio compares the drift-NORMALIZED headline to the
    // reference round's RAW headline: with per-round rebasing the
    // normalized number estimates this code under the reference round's
    // machine state, which is exactly what the reference's raw number
    // measured. headline_raw_ratio is the round-15 advice's BACKSTOP —
    // drift_factor is computed from the same sweep it normalizes, so a
    // cross-cutting real regression (session config, shared runtime)
    // slows the sentinels too and divides itself out of the normalized
    // number; the raw ratio with a looser bound (§6: ≤1.5×) catches
    // that class, and drift_warning flags a factor far from 1 so a
    // human distinguishes machine state from a uniform code regression
    // before trusting either.
    val headlineGateRatio =
      if (headlineNorm > 0 && driftRef.rawHeadline > 0)
        headlineNorm / driftRef.rawHeadline else -1.0
    val headlineRawRatio =
      if (headlineComplete && driftRef.rawHeadline > 0)
        headlineTotal / driftRef.rawHeadline else -1.0
    val driftWarning =
      driftFactor > 0 && (driftFactor < 0.6 || driftFactor > 1.67)
    // "stat" names the headline statistic EXPLICITLY (the round-11
    // advice): min across 3 interleaved full sweeps, pinned sorted
    // order — round-over-round deltas are only meaningful against a
    // BENCH_r*.json carrying the same marker. queries_median is the
    // conservative steady-state companion from the same samples.
    // FLAGSHIP GATE ON THE RAW RATIO (round 16, the r15 verdict's ask
    // #3, from the builder's own r15 diagnosis): dividing a heavyweight
    // 6-op sum by a drift factor measured on SUB-SECOND sentinels
    // AMPLIFIES drift rather than removing it — r15's three same-tree
    // runs read normalized 1.19/1.10/1.29 vs raw 1.21/1.05/1.11, so
    // the normalized construction breached the 1.15 bound twice with
    // no real regression behind it (dd_pipeline was FASTER than r14 at
    // 25× in the same tree). THE GATE IS flagship_raw_ratio ≤ 1.4
    // (raw sum vs the reference round's raw sum; the bound clears the
    // measured same-tree spread 1.05-1.21 with margin while a real
    // composed-DAG regression — a lost cache barrier doubles
    // dd_pipeline and moves the sum ~1.45× — still trips it).
    // flagship_gate_ratio (the normalized form) stays emitted as the
    // ADVISORY companion: when raw breaches, a normalized value near 1
    // says "machine state", far above 1 says "real".
    val flagshipRawRatio =
      if (fhTotal > 0 && driftRef.flagshipHeadline > 0)
        fhTotal / driftRef.flagshipHeadline else -1.0
    val flagshipGateRatio =
      if (fhTotal > 0 && driftFactor > 0 && driftRef.flagshipHeadline > 0)
        (fhTotal / driftFactor) / driftRef.flagshipHeadline else -1.0
    val fullJson = s"""{"metric":"total","value":$headlineTotal,"unit":"sec","stat":"min_of_3_interleaved_sweeps","headline_complete":$headlineComplete,"drift_factor":$driftFactor,"drift_ref_round":${driftRef.round},"drift_warning":$driftWarning,"headline_drift_normalized":$headlineNorm,"headline_ref_raw":${driftRef.rawHeadline},"headline_gate_ratio":$headlineGateRatio,"headline_raw_ratio":$headlineRawRatio,"drift_sentinels":$driftJson,"flagship_headline_total":$fhTotal,"flagship_headline_ref":${driftRef.flagshipHeadline},"flagship_raw_ratio":$flagshipRawRatio,"flagship_gate_ratio":$flagshipGateRatio,"statement_batch_probe_samples":$stmtProbeJson,"queries":$qs,""" +
      s""""queries_median":$qsMed,"errors":$es,"headline":$hs,"flagship_total":$flagshipTotal,"flagship_complete":$flagshipComplete,"flagship_queries":$fj,"semantics_changed":$sc,"all_total":$allTotal,"n_queries":${results.size},"sf":"$sfDir"}"""
    println(fullJson)
    // The driver's stdout tail capture is character-bounded and has
    // truncated the per-query map to ~40% in past rounds — persist the
    // full map to its own file so per-query times stay comparable
    // across rounds regardless of capture limits. (benchOut/rnd were
    // resolved before the drift block, which reads the prior round's
    // committed per-query file from the same directory.)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchOut), fullJson + "\n")
    catch { case t: Throwable =>
      // never fail the bench over the fallback file, but never lose it
      // silently either — the file exists precisely because stdout gets
      // truncated
      System.err.println(s"[bench] could not persist per-query map to $benchOut: $t")
    }
    // Also persist a PER-ROUND copy so medians stay comparable across
    // rounds after LATEST is overwritten.
    try java.nio.file.Files.writeString(
      outDir.resolve(f"BENCH_QUERIES_r$rnd%02d.json"), fullJson + "\n")
    catch { case t: Throwable =>
      System.err.println(s"[bench] could not persist per-round map: $t")
    }
    // Compact repeat on its own FINAL line: the driver's tail capture is
    // character-bounded and once truncated the leading "value" field out
    // of the long line above. This line is short enough to always survive.
    println(s"""{"metric":"total","value":$headlineTotal,"unit":"sec","stat":"min_of_3_interleaved_sweeps","headline_complete":$headlineComplete,"drift_factor":$driftFactor,"drift_ref_round":${driftRef.round},"drift_warning":$driftWarning,"headline_drift_normalized":$headlineNorm,"headline_gate_ratio":$headlineGateRatio,"headline_raw_ratio":$headlineRawRatio,"flagship_total":$flagshipTotal,"flagship_headline_total":$fhTotal,"flagship_raw_ratio":$flagshipRawRatio,"flagship_gate_ratio":$flagshipGateRatio,"all_total":$allTotal,"n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}

/** One COLD apply of the streaming flagship's micro-batch kernel: the
  * whole statement corpus as batch 0 — extract + classify, the MinHash
  * index build + probe, the IVF index build + probe — into throwaway
  * dirs/tables, mirroring EventStreamsSpec's construction. Fresh table
  * names + temp dir per instance so each `run` pays the full per-batch
  * cost (this probe measures the foreachBatch body, not a warm store);
  * `close` drops the tables and deletes the dir. Bench times `run`
  * under the reserved name "statement_batch_probe"; Profile records
  * its jobs under the same name.
  */
private[graft] final class StatementBatchProbe(spark: SparkSession) extends AutoCloseable {
  import org.apache.spark.sql.functions._
  private val fe = graft.operators.FundEtl
  private val docs = fe.loadStatements(spark, fe.statementsDir)
  private val centroids: Seq[(Long, Seq[Float])] = {
    val seedNames = docs.select(col("file_name")).orderBy(col("file_name"))
      .limit(4).collect().map(_.getString(0)).toSeq
    docs.filter(col("file_name").isin(seedNames: _*))
      .select(xxhash64(col("file_name")).as("id"),
        graft.functions.VectorFunctions.hashedTextEmbedding(col("content"))
          .as("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
  }
  private val tmp = java.nio.file.Files.createTempDirectory("graft-stmt-probe").toString
  private val tag = java.lang.Long.toHexString(System.nanoTime())
  private val ddTbl = s"stmt_probe_dd_$tag"
  private val annTbl = s"stmt_probe_ann_$tag"

  def run(): Unit =
    graft.streaming.EventStreams.statementPipelineApplyBatch(
      docs, 0L, s"$tmp/extracted", ddTbl, s"$tmp/pairs", centroids,
      annTbl, s"$tmp/topk", nprobe = 2, k = 3)

  def close(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $ddTbl")
    spark.sql(s"DROP TABLE IF EXISTS $annTbl")
    // each instance creates its own temp dir — delete it (round-12
    // advice: three leaked parquet-filled dirs per bench run)
    try TempDirs.deleteRecursively(tmp) catch { case _: Throwable => () }
  }
}

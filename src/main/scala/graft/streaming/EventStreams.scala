package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Genuine Structured Streaming pipelines over the events schema.
  *
  * Batch twins with DuckDB oracles live in
  * [[graft.operators.StreamingTwins]]; this module is the streaming
  * runtime: watermarked tumbling aggregation, watermark-bounded key
  * dedup, and custom sessionization state via flatMapGroupsWithState.
  * Specs drive these with MemoryStream (see EventStreamsSpec).
  */
// Top-level case classes: encoder codegen (Janino) cannot instantiate
// object-nested classes (it looks for a zero-arg outer constructor).
case class Evt(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, total_value: Double)

case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)

case class CdcState(lastUs: Long, lastEventId: Long, lastOp: String,
    lastValue: Double, nOps: Long)

case class CdcOut(user_id: Long, last_op: String, final_value: Double,
    last_ts_us: Long, n_ops: Long, deleted: Boolean)

/** Per-user online anomaly state: the OPEN hour (start + running
  * count) and the Welford aggregate (count / mean / M2) over every
  * CLOSED hour so far. Welford is the numerically-stable one-pass
  * mean/variance recurrence — exactly the state a 100 TB stream can
  * afford: three doubles per key, independent of history length.
  */
case class AnomState(hourUs: Long, hourN: Long,
    nClosed: Long, mean: Double, m2: Double)

case class AnomOut(user_id: Long, window_start_us: Long, n: Long,
    z_e4: Long, is_anomaly: Boolean)

/** Per-user online gap-fill state: the OPEN hour with its best (latest
  * by (ts, event_id)) observation, plus the carry value from the last
  * closed hour. Four numbers per key, independent of stream length.
  */
case class GapState(hourUs: Long, bestTsUs: Long, bestEventId: Long,
    bestValue: Double)

case class GapOut(user_id: Long, hour_us: Long, value: Double,
    is_filled: Boolean)

/** Per-user online EWMA state: the last ≤7 prior e2-integer
  * observations (newest first) plus the last emitted (ts, event_id)
  * for straggler rejection — ≤9 numbers per key, independent of
  * stream length.
  */
case class EwmaState(lastTsUs: Long, lastEventId: Long, recent: List[Long])

case class EwmaOut(user_id: Long, ts_us: Long, event_id: Long,
    v_e2: Long, ewma_e2: Long)

/** Per-user rolling-median state: ≤4 prior e2 observations (newest
  * first) plus the last emitted order key — ≤6 numbers per key,
  * independent of stream length.
  */
case class MedianState(lastTsUs: Long, lastEventId: Long, recent: List[Long])

case class MedianOut(user_id: Long, ts_us: Long, event_id: Long,
    v_e2: Long, median_e2: Long, win_n: Long)

/** Per-user transition state: the last accepted event's order key and
  * type, plus the running count of DROPPED out-of-order events — four
  * values per key, independent of stream length.
  */
case class TransState(lastTsUs: Long, lastEventId: Long, lastType: String,
    dropped: Long)

/** `dropped_before` is the user's cumulative dropped-straggler count
  * at emission time — the consumer-visible health metric for the
  * stream/batch equivalence contract (see [[EventStreams
  * .transitionsStream]]).
  */
case class TransOut(user_id: Long, from_type: String, to_type: String,
    ts_us: Long, event_id: Long, dropped_before: Long)

/** Per-type online drift state: the 10-bucket value histograms of the
  * baseline and current periods — 20 longs per key, independent of
  * stream length.
  */
case class DriftState(base: Array[Long], curr: Array[Long])

case class DriftOut(event_type: String, n_base: Long, n_curr: Long,
    l1_ppm: Long, chi2_score: Long)

/** Per-user online attribution state: the latest marketing touch plus
  * the last emitted (ts, event_id) for straggler rejection — four
  * numbers per key.
  */
case class TouchState(touchTsUs: Long, channel: String,
    lastTsUs: Long, lastEventId: Long)

case class AttribOut(user_id: Long, ts_us: Long, event_id: Long,
    channel: String, v_e2: Long)

/** A day-clipped interval boundary: `emittable` marks boundaries whose
  * instant falls inside the tagged day (a clipped end at next-day
  * midnight participates in the running count but never in output —
  * the batch twin's date filter).
  */
case class Bnd(day: Long, t_us: Long, delta: Int, emittable: Boolean)

/** Per-day sweep state: concurrency entering the open hour plus the
  * open hour's buffered boundaries — bounded by one hour of
  * boundaries per day key, never the stream.
  */
case class SweepState(openHourUs: Long, concAtHourStart: Long,
    buf: List[(Long, Int, Boolean)])

case class SweepOut(day: String, hr: Long, max_concurrency: Long,
    n_boundaries: Long)

// Serializable: the flatMapGroupsWithState closures call the shared
// microsOf and therefore capture this module; Spark ships the closure
// to executors.
object EventStreams extends Serializable {

  /** e2 ingestion with the signed-series guard — the streaming form of
    * Relational.e2Guarded (round 12, verdict ask #7): the e2 twins
    * share the batch family's non-negative truncating-div contract,
    * so a negative value aborts the micro-batch loudly with the
    * contract named instead of silently diverging from the batch twin.
    */
  private def e2Of(v: Double): Long = {
    require(v >= 0,
      s"graft e2 contract: negative events.value $v breaks the " +
        "non-negative truncating-div contract (q54/q55/q57/q61 family)")
    math.floor(v * 100 + 0.5).toLong
  }

  // java.sql.Timestamp.getTime truncates to ms; recover full µs so
  // streaming state carries the same event-time boundaries as the
  // batch twins. ONE definition — sessionize, cdcApply, and
  // anomalyDetect must agree on bucket/gap arithmetic or the
  // pipelines silently diverge (the specs' driver replays stay
  // independent copies on purpose).
  private def microsOf(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** File-based stream over an events parquet directory (the
    * production entry: statement drops land in a directory, the stream
    * picks them up incrementally — the streaming version of the
    * reference's daily folder scan).
    */
  def fromParquetDir(spark: SparkSession, dir: String, schemaDdl: String): DataFrame =
    spark.readStream.schema(schemaDdl).parquet(dir)

  /** Watermarked event-time tumbling aggregate. State is bounded by
    * the 2h watermark; keyed by (window, type) — the shuffle key the
    * stateful agg needs anyway.
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Watermarked streaming OHLC resampling — the streaming twin of the
    * batch q47_ohlc_bars (Relational.scala): 15-minute
    * open/high/low/close/volume bars per event type, with
    * first/last-in-bucket expressed as min/max over a
    * (ts, event_id, value) struct. The struct trick matters MORE in
    * streaming than in batch: the state store carries ONE candidate
    * struct per open bar instead of the bar's events, so state is O(1)
    * per (window, type) regardless of event rate — a per-key sorted
    * buffer would grow with the bar's traffic. The 2h watermark closes
    * bars for append-mode emission and bounds state.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    graft.operators.Relational.ohlcAggregate(
      events.withWatermark("ts", "2 hours"))

  /** Watermark-bounded exactly-once key dedup. */
  def dedupByEventId(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: click→purchase attribution — each
    * purchase joins the same user's clicks from the preceding
    * `windowMinutes`. Watermarks on both sides + the event-time range
    * condition let the state store expire unmatched rows; the equi key
    * (user_id) carries the shuffle. Batch twin:
    * StreamingTwins.stStreamJoin.
    */
  def attributeJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** foreachBatch upsert sink: each micro-batch merges into a
    * keep-latest-per-key parquet snapshot (read current → anti-join
    * restated keys → union batch → overwrite). The standard streaming
    * pattern for sinks without native upsert; the batch-side merge is
    * the same anti-join+union shape as the etl_upsert_snapshot
    * operator. Exactly-once per key within a batch via the
    * keep-latest window on (key, ts).
    */
  def upsertToParquet(events: DataFrame, snapshotDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val latest = batch
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("event_id"))
              .orderBy(col("ts").desc, monotonically_increasing_id())))
          .filter(col("rn") === 1).drop("rn")
        val merged =
          try {
            val cur = spark.read.parquet(snapshotDir)
            cur.join(latest.select(col("event_id").as("k")),
                col("event_id") === col("k"), "left_anti")
              .unionByName(latest)
          } catch { case _: org.apache.spark.sql.AnalysisException => latest }
        // two-phase write: parquet can't overwrite its own input dir
        val tmp = snapshotDir + "_staging"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(snapshotDir)
      }
      .start()

  /** STREAMING statement ingestion — the reference's daily folder scan
    * as an incremental pipeline: statement files dropped into `dir`
    * are picked up per micro-batch, classified by the SAME compiled
    * 23-platform matrix as the batch operator (a map-only when-chain
    * plus a stream-static broadcast label join — both stateless, so
    * FundEtl.classifyStatements runs unchanged in append mode), and
    * run through the same map-only extraction tail
    * (FundEtl.extractStatementFields; ONE implementation for both
    * modes). Sink it with upsertToPartitionedParquet keyed on
    * file_name for an incrementally-maintained master table.
    */
  def statementStream(spark: SparkSession, dir: String): DataFrame = {
    val files = graft.sources.BinaryFiles.projectPaths(
        spark.readStream.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .option("recursiveFileLookup", "true")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .load(dir))
      .withColumn("content", col("content").cast("string"))
    graft.operators.FundEtl.extractStatementFields(spark,
      graft.operators.FundEtl.classifyStatements(spark, files))
  }

  /** Partition-pruned foreachBatch upsert: the snapshot is laid out in
    * key-bucket partitions (bkt = key mod nBuckets); each micro-batch
    * merges ONLY the buckets its keys touch — read is partition-pruned
    * and the dynamic-overwrite write replaces just those directories,
    * so per-batch cost is O(touched buckets), not O(snapshot). The
    * full-snapshot sink above rewrites everything every batch; at a
    * 100 TB snapshot that is the difference between a merge and a
    * table rewrite. (A real deployment keys buckets by hash; mod keeps
    * the fixture deterministic.)
    */
  def upsertToPartitionedParquet(events: DataFrame, snapshotDir: String,
      checkpointDir: String, nBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val latest = batch
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("event_id"))
              .orderBy(col("ts").desc, monotonically_increasing_id())))
          .filter(col("rn") === 1).drop("rn")
          .withColumn("bkt", pmod(col("event_id"), lit(nBuckets)))
        val touched = latest.select(col("bkt")).distinct()
          .collect().map(_.getLong(0))
        val merged =
          try {
            // partition pruning: only touched bucket directories are read
            val cur = spark.read.parquet(snapshotDir)
              .filter(col("bkt").isin(touched.map(Long.box): _*))
            cur.join(latest.select(col("event_id").as("k")),
                col("event_id") === col("k"), "left_anti")
              .unionByName(latest)
          } catch { case _: org.apache.spark.sql.AnalysisException => latest }
        // stage the touched buckets, then dynamic-overwrite only them
        val tmp = snapshotDir + "_staging"
        merged.write.mode("overwrite").parquet(tmp)
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try spark.read.parquet(tmp).write.mode("overwrite")
          .partitionBy("bkt").parquet(snapshotDir)
        finally prev match {
          case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      .start()

  /** foreachBatch merge into a BUCKETED MANAGED TABLE — the third
    * point in the sink-cost design space: upsertToParquet rewrites the
    * whole snapshot and shuffles the merge join; the partitioned sink
    * prunes the rewrite; THIS sink removes the merge join's shuffle —
    * the snapshot is bucketed on the merge key, so the anti-join reads
    * it in place (output partitioning already matches the join key)
    * and only the incoming batch hashes into buckets. The rewrite is
    * staged to a twin bucketed table and swapped in with catalog
    * renames. The drop→rename pair is NOT atomic in a Hive-style
    * catalog (a table format with atomic commits is the production
    * answer), so the swap is made CRASH-RECOVERABLE instead: a batch
    * that finds the live table missing but staging present — the only
    * state a crash inside the swap window leaves, and staging always
    * holds a complete merged snapshot by that point — first promotes
    * staging back to live, then the checkpoint replays the
    * interrupted batch on top. Accumulated state is never the only
    * copy in a dropped table. A concurrent reader can still catch
    * the brief not-found window between the two renames. A real
    * lakehouse table format combines this bucketing with the
    * partition pruning of upsertToPartitionedParquet.
    */
  def upsertToBucketedTable(events: DataFrame, table: String,
      checkpointDir: String, nBuckets: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val staging = table + "_staging"
        // crash recovery: a prior run died between DROP(table) and
        // RENAME(staging → table); staging holds the full merged
        // snapshot, so promote it before merging the replayed batch
        if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staging))
          spark.sql(s"ALTER TABLE $staging RENAME TO $table")
        val latest = batch
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("event_id"))
              .orderBy(col("ts").desc, monotonically_increasing_id())))
          .filter(col("rn") === 1).drop("rn")
        val merged =
          if (spark.catalog.tableExists(table)) {
            val cur = spark.table(table)
            cur.join(latest.select(col("event_id").as("k")),
                col("event_id") === col("k"), "left_anti")
              .unionByName(latest)
          } else latest
        spark.sql(s"DROP TABLE IF EXISTS $staging")
        merged.write.bucketBy(nBuckets, "event_id").sortBy("event_id")
          .saveAsTable(staging)
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")
        ()
      }
      .start()

  /** INCREMENTAL dedup-index maintenance — the streaming twin of
    * Dedup.ddIncremental: documents arrive in micro-batches; each
    * batch's MinHash band rows (the SAME kernel + banding code as the
    * batch path — Dedup.minhashSigTableOf / bandedOf) probe the STORED
    * band-index table for near-dup pairs, emit only the pairs that
    * involve a new document, and append themselves into the index.
    * The index is a managed table BUCKETED ON band_key, so the stored
    * side of the probe join reads in place — the only hash exchange is
    * the incoming batch (same shuffle-free-snapshot shape as
    * upsertToBucketedTable). Per-batch cost is batch×bands probes +
    * one batch-sized append, NEVER a full-corpus recompute — which is
    * what makes a continuously-arriving 100 TB corpus dedupable: the
    * index carries the corpus, each batch pays only for itself.
    * Batch-vs-stored and batch-vs-batch candidates are collided
    * separately (a union before the join would destroy the stored
    * side's bucketing and reshuffle the whole index); the two result
    * sets collapse in one canonical groupBy. The emitted pair stream
    * sums to exactly the full recompute's pair graph (spec-asserted
    * per batch in EventStreamsSpec).
    */
  def dedupIndexMaintain(docs: DataFrame, indexTable: String, pairsDir: String,
      checkpointDir: String, nBuckets: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupIndexApplyBatch(batch, batchId, indexTable, pairsDir, nBuckets)
      }
      .start()

  /** One micro-batch of [[dedupIndexMaintain]], IDEMPOTENT under
    * Structured Streaming's replay contract (a failed batch re-runs
    * with the same batchId — the other foreachBatch sinks in this file
    * are overwrite/merge upserts and get replay safety for free; this
    * one appends, so it needs the guard). Pairs land in a BATCH-SCOPED
    * directory rewritten whole on replay, and a marker file written
    * LAST makes a fully-applied batch a no-op. The one remaining crash
    * window — index appended, marker not yet durable — re-appends the
    * batch's band rows on replay; duplicate index rows cannot corrupt
    * output (the probe's canonical (doc_a, doc_b) collapse absorbs
    * duplicate collisions, and the pairs directory is rewritten, not
    * appended), they only cost their storage in the crashed batch.
    * Factored out of the closure so the replay property is directly
    * unit-testable (EventStreamsSpec re-applies a batch id twice).
    * Readers take the union of the batch directories:
    * `spark.read.option("recursiveFileLookup", "true").parquet(pairsDir)`.
    */
  private[graft] def dedupIndexApplyBatch(batch: DataFrame, batchId: Long,
      indexTable: String, pairsDir: String, nBuckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    applyOnce(spark, pairsDir, batchId) { (batchDir, _) =>
      // localCheckpoint, not persist (round 18, the rank-kernel
      // finding): the pairs write and the index append are separate
      // driver actions — as a persist each re-planned an
      // InMemoryTableScan + AQE pass over the band rows; as an eager
      // checkpoint both read a bare ExistingRDD. Batch-bounded blocks,
      // ContextCleaner-freed when the batch-local reference drops.
      val banded = graft.operators.Dedup.bandedOf(
        graft.operators.Dedup.minhashSigTableOf(batch)).localCheckpoint()
      def collide(index: DataFrame, cond: org.apache.spark.sql.Column) =
        graft.operators.Dedup.pairsFromCollisions(
          banded.as("a").join(index.as("b"),
            col("a.band_key") === col("b.band_key") && cond))
      val vsNew = collide(banded, col("a.doc_id") < col("b.doc_id"))
      val newPairs =
        if (spark.catalog.tableExists(indexTable))
          collide(spark.table(indexTable), col("a.doc_id") =!= col("b.doc_id"))
            .unionByName(vsNew)
            // overlaps arise when a crashed replay re-probes rows the
            // failed attempt already indexed — collapse to one pair
            .groupBy(col("doc_a"), col("doc_b"))
            .agg(first(col("est_jaccard")).as("est_jaccard"))
        else vsNew
      // pairs write and index append write disjoint artifacts off the
      // same checkpointed banded frame — overlapped (guide §2.6).
      // Safe even if the append commits while the pairs job is
      // running and its index scan re-lists the table: the probe
      // would then see this batch's own rows, but those collisions
      // are exactly vsNew's pairs, and the (doc_a, doc_b) collapse
      // absorbs them — the same argument that already covers a
      // crashed replay re-probing rows the failed attempt indexed.
      // Marker still last, after both complete.
      graft.Stages.all(spark)(
        "dedup batch: pairs (overlapped)" -> { () =>
          newPairs.write.mode("overwrite").parquet(batchDir.toString) },
        "dedup batch: index append (overlapped)" -> { () =>
          banded.write.mode("append").format("parquet")
            .bucketBy(nBuckets, "band_key")
            .saveAsTable(indexTable) })
    }
  }

  /** Runs `apply` on `dir/batch-<batchId>` unless it carries the
    * _APPLIED marker, then writes the marker LAST: the replay guard of
    * the appending apply-batch kernels. */
  private def applyOnce(spark: SparkSession, dir: String, batchId: Long)(
      apply: (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) => Unit): Unit = {
    val batchDir = new org.apache.hadoop.fs.Path(s"$dir/batch-$batchId")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(batchDir, "_APPLIED")
    if (!fs.exists(marker)) { apply(batchDir, fs); fs.create(marker, true).close() }
  }

  /** INCREMENTAL ANN-index maintenance — the streaming twin of
    * Similarity.annIncremental, structured like [[dedupIndexMaintain]]:
    * vectors arrive in micro-batches; each batch assigns itself to IVF
    * lists map-only (the literal-broadcast quantizer, trained once and
    * passed in), probes the STORED index table for its top-k existing
    * neighbors, writes the results to a batch-scoped directory, and
    * appends its own assigned rows into the index. The index is a
    * managed table BUCKETED ON cent_id, so the stored side of the
    * probe join reads in place — per-batch cost is batch×nprobe list
    * probes + a batch-sized append, never a recompute over the stored
    * corpus. The first batch finds an empty index and emits no
    * neighbors (there is nothing stored to neighbor against); batch
    * vectors never score against their own batch — intra-batch pairs
    * belong to a dedup pass, not an index probe.
    */
  def annIndexMaintain(vectors: DataFrame,
      centroids: Seq[(Long, Seq[Float])], indexTable: String,
      topkDir: String, checkpointDir: String, nprobe: Int = 4, k: Int = 5,
      nBuckets: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annIndexApplyBatch(batch, batchId, centroids, indexTable, topkDir,
          nprobe, k, nBuckets)
      }
      .start()

  /** One micro-batch of [[annIndexMaintain]], IDEMPOTENT under the
    * replay contract exactly like [[dedupIndexApplyBatch]]: results
    * land in a batch-scoped directory rewritten whole on replay, and
    * the _APPLIED marker written LAST makes a fully-applied batch a
    * no-op. The crash window between index append and marker re-probes
    * on replay with THIS batch's rows already stored — the probe
    * anti-joins the batch's own vec_ids out of the candidate stream
    * (self-matches and intra-batch pairs are never index-probe
    * results), and duplicate stored rows collapse per
    * (query, neighbor), so the rewritten output is identical to the
    * pre-crash output (spec-asserted by deleting the marker and
    * re-applying).
    */
  private[graft] def annIndexApplyBatch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Long, Seq[Float])], indexTable: String,
      topkDir: String, nprobe: Int, k: Int, nBuckets: Int): Unit = {
    import graft.functions.VectorFunctions.cosineSim
    val spark = batch.sparkSession
    import spark.implicits._
    applyOnce(spark, topkDir, batchId) { (batchDir, _) =>
      // the index rows carry their writing batch id: the crash-window
      // probe excludes exactly the crashed attempt's rows (not every
      // stored row sharing a vec_id — a later batch may legitimately
      // re-send an id, and its OLD stored version stays probe-able),
      // and replay can detect an already-applied append
      // localCheckpoint, not persist (round 18, the rank-kernel
      // finding): the top-k write and the index append are separate
      // driver actions — checkpointed, both plan over a bare
      // ExistingRDD instead of re-running AQE over an
      // InMemoryTableScan. Batch-bounded, ContextCleaner-freed.
      val assigned = batch
        .select(col("vec_id"), col("embedding"),
          graft.operators.Similarity.nearestCentroidCol(
            col("embedding"), centroids).as("cent_id"),
          lit(batchId).as("batch_id"))
        .localCheckpoint()
      val result =
        if (spark.catalog.tableExists(indexTable)) {
          // probe + presentation are the SHARED Similarity helpers, so
          // the streaming twin can never diverge from the batch
          // operator's tie-breaking or quantization
          val probes = graft.operators.Similarity.probesOf(
            assigned.select(col("vec_id").as("query_id"),
              col("embedding").as("q_emb")),
            centroids, nprobe)
          val scored = spark.table(indexTable)
            // crash-window replay: the failed attempt may have already
            // appended THIS batch — exclude only ITS rows, so the
            // rewritten batch output is identical to the pre-crash
            // output without hiding older same-id versions
            .filter(col("batch_id") =!= batchId)
            .join(probes, Seq("cent_id"))
            // an updated vector must not return its own stored
            // version as a neighbor
            .filter(col("vec_id") =!= col("query_id"))
            .withColumn("raw_sim", cosineSim(col("q_emb"), col("embedding")))
            // a vec_id stored by several batches scores as its best
            // version — max, not first: deterministic under any
            // evaluation order
            .groupBy(col("query_id"), col("vec_id"))
            .agg(max(col("raw_sim")).as("raw_sim"))
          graft.operators.Similarity.topkPresent(scored, k)
        } else
          Seq.empty[(Long, Long, Long, Double)]
            .toDF("query_id", "rank", "neighbor_id", "sim")
      // top-k write and index append overlapped (guide §2.6): both
      // read only the checkpointed assigned frame. Safe even if the
      // append commits while the result job is running and its index
      // scan re-lists the table — the probe filters
      // batch_id =!= batchId, which excludes exactly the rows the
      // concurrent append adds. The idempotent-append probe (a
      // crashed attempt that already appended must not append a
      // second copy) stays strictly BEFORE the append in its own
      // stage. Marker still last, after both complete.
      graft.Stages.all(spark)(
        "ann batch: topk (overlapped)" -> { () =>
          result.write.mode("overwrite").parquet(batchDir.toString) },
        "ann batch: index append (overlapped)" -> { () =>
          val alreadyAppended = spark.catalog.tableExists(indexTable) &&
            !spark.table(indexTable).filter(col("batch_id") === batchId).isEmpty
          if (!alreadyAppended)
            assigned.write.mode("append").format("parquet")
              .bucketBy(nBuckets, "cent_id")
              .saveAsTable(indexTable) })
    }
  }

  /** INCREMENTAL curation — the streaming twin of the
    * TextAnalysis.txPipeline flagship (SURVEY §9's curationStream
    * backlog item, landed as the batch-apply variant §9 blessed:
    * chained flatMapGroupsWithState — keeper state feeding a pack
    * cursor — is not supported in update mode, so a foreachBatch host
    * applies both states as plain batch joins). Documents arrive in
    * micro-batches IN ASCENDING doc_id ORDER (the arrival-order
    * contract: first-seen q_ok == corpus-wide min(doc_id), which is
    * what makes per-batch output equal the one-shot flagship's rows);
    * each batch emits its slice of the curation manifest and advances
    * two persisted states:
    *
    *   - KEEPER STORE (managed table BUCKETED on text_hash): the
    *     first q_ok doc_id per normalized-text hash. The batch probes
    *     it with one left join (at scale the stored side reads in
    *     place, co-partitioned — the dedupIndexMaintain shape) and
    *     appends only hashes it introduced, derived as a FILTER off
    *     the checkpointed labeled frame: a new keeper is exactly
    *     a q_ok row that is its own batch keeper with NULL stored
    *     keeper (round 17 — no second store scan, no anti-join; the
    *     labeled checkpoint severs the lineage through the store, so
    *     the append never reads the table it writes).
    *   - PACK CURSOR (one row per source, rewritten whole per batch
    *     into a batch-scoped file): the cumulative kept-token count
    *     feeding pack_id. Driver-side it is a bounded collect — one
    *     row per SOURCE, the same bounded-literal contract as the
    *     ANN centroids — broadcast back as a map literal.
    *
    * Replay contract (a failed batch re-runs with the same batchId):
    * output and cursor are batch-scoped whole-directory rewrites; the
    * keeper append is idempotent BY the stored_keeper-isNull filter
    * over the recomputed labeled frame (a crashed attempt's append
    * lands in stored_keeper, so the replay's new-keeper filter is
    * empty, and the replayed probe reads the crashed attempt's
    * keepers — its own batch's values, so the output is identical).
    * _APPLIED marker written last short-circuits fully-applied
    * batches.
    * Batch-vs-stream equivalence is driver-gated end-to-end: the
    * registered tx_curation_incremental operator applies this very
    * function over doc_id-range batches and its oracle is the batch
    * flagship's own SQL.
    */
  def curationMaintain(docs: DataFrame, keeperTable: String,
      cursorDir: String, outDir: String, checkpointDir: String,
      budget: Long = 2000L, nBuckets: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationApplyBatch(batch, batchId, keeperTable, cursorDir, outDir,
          budget, nBuckets)
      }
      .start()

  /** One micro-batch of [[curationMaintain]] — see the replay contract
    * there. Factored out so the registered batch-apply operator and
    * the spec drive the exact code the stream runs.
    */
  private[graft] def curationApplyBatch(batch: DataFrame, batchId: Long,
      keeperTable: String, cursorDir: String, outDir: String,
      budget: Long = 2000L, nBuckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    applyOnce(spark, outDir, batchId) { (batchDir, fs) =>
      val storeExists = spark.catalog.tableExists(keeperTable)
      // the batch's own keeper candidates: first q_ok doc per hash, as
      // the SAME unordered window aggregate the one-shot flagship uses
      // (TextAnalysis.txPipeline) — round 18: the old groupBy + join-back
      // paid a second exchange of the scored rows plus a join; the window
      // rides the text_hash exchange the store probe needs anyway, and
      // with the scored subtree appearing once in one plan its persist is
      // gone too
      val withBk = graft.operators.TextAnalysis.curationScored(batch)
        .withColumn("batch_keeper",
          min(when(col("q_ok"), col("doc_id")))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("text_hash"))))
      val keyed =
        if (storeExists) {
          // min() absorbs crash-window duplicate rows in the store
          val stored = spark.table(keeperTable)
            .groupBy(col("text_hash")).agg(min(col("keeper_id")).as("stored_keeper"))
          withBk.join(stored, Seq("text_hash"), "left")
        } else withBk.withColumn("stored_keeper", lit(null).cast("long"))
      // localCheckpoint, not persist (round 18, the rank-kernel finding):
      // the manifest write, the cursor-advance aggregate and the keeper
      // append are three SEPARATE driver actions — as a persist each one
      // re-planned an InMemoryTableScan + AQE pass; as an eager checkpoint
      // they all read a bare ExistingRDD. The materialization also severs
      // the lineage through spark.table(keeperTable), so the append below
      // never reads the table it writes. Batch-bounded blocks,
      // ContextCleaner-freed when the batch-local reference drops.
      val labeled = keyed
        // a stored keeper arrived in an earlier batch → smaller doc_id
        .withColumn("keeper", coalesce(col("stored_keeper"), col("batch_keeper")))
        .withColumn("drop_reason",
          when(!col("q_ok"), "quality")
            .when(col("doc_id") =!= col("keeper"), "duplicate"))
        .localCheckpoint()
      // pack cursor after the previous batch: one row per SOURCE —
      // driver-bounded by contract (the ANN-centroid bounded-literal
      // precedent), so it lives as a plain FS sidecar read/written
      // driver-side: no Spark job to read it, none to write it
      def cursorFile(id: Long) =
        new org.apache.hadoop.fs.Path(s"$cursorDir/batch-$id.tsv")
      val cursor: Map[String, Long] =
        if (batchId > 0 && fs.exists(cursorFile(batchId - 1))) {
          val in = fs.open(cursorFile(batchId - 1))
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty)
            .map { l => val t = l.split("\t", 2); t(0) -> t(1).toLong }.toMap
          finally in.close()
        } else Map.empty
      val offset =
        if (cursor.isEmpty) lit(0L)
        else coalesce(element_at(typedLit(cursor), col("source")), lit(0L))
      val bySource = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // OVERLAPPED INDEPENDENT STAGES (round 18, guide §2.6 — the
      // statement-batch precedent): the manifest write, the
      // cursor-advance (collect + sidecar rewrite) and the keeper
      // append all read only the checkpointed labeled frame and write
      // disjoint artifacts, so nothing orders them within a batch.
      // Replay already covers any completion order — the manifest dir
      // and cursor file are whole rewrites, a crashed attempt's keeper
      // append lands in stored_keeper (see the scaladoc contract), and
      // the _APPLIED marker still goes last, after all three complete.
      graft.Stages.all(spark)(
        "curation batch: manifest (overlapped)" -> { () =>
          labeled
            .withColumn("n_toks", when(col("drop_reason").isNull, col("toks")))
            .withColumn("cum_toks",
              sum(coalesce(col("n_toks"), lit(0L))).over(bySource) + offset)
            .select(col("doc_id"), col("source"), col("quality_score"),
              col("drop_reason"),
              when(col("drop_reason") === "duplicate", col("keeper")).as("keeper_id"),
              col("n_toks"),
              when(col("drop_reason").isNull,
                expr(s"(cum_toks - 1) div $budget")).as("pack_id"))
            .write.mode("overwrite").parquet(batchDir.toString)
        },
        // advance the cursor: previous totals + this batch's kept
        // tokens, rewritten whole (replay-safe), sorted for determinism
        "curation batch: cursor advance (overlapped)" -> { () =>
          val batchTotals = labeled.filter(col("drop_reason").isNull)
            .groupBy(col("source")).agg(sum(col("toks")).as("t"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val mergedTsv = (cursor.keySet ++ batchTotals.keySet).toSeq.sorted
            .map(k => s"$k\t${cursor.getOrElse(k, 0L) + batchTotals.getOrElse(k, 0L)}")
            .mkString("\n")
          val co = fs.create(cursorFile(batchId), true)
          try co.write(mergedTsv.getBytes("UTF-8")) finally co.close()
        },
        // grow the keeper store: only hashes this batch introduced —
        // read off the CHECKPOINTED labeled frame (a new keeper is
        // exactly a q_ok row that is its own batch keeper with no
        // stored keeper), so the append costs no second scan of the
        // keeper table and no anti-join (round 17; the old shape
        // re-read + anti-joined the store per batch). Replay stays
        // idempotent: a crashed attempt's append lands in
        // `stored_keeper`, so the filter is empty on replay. labeled's
        // own checkpoint already severed the lineage through the
        // keeper table, so the append never reads the table it writes
        // (the per-frame checkpoint this filter used to carry is gone
        // — one job per batch saved).
        "curation batch: keeper append (overlapped)" -> { () =>
          labeled
            .filter(col("q_ok") && col("stored_keeper").isNull &&
              col("doc_id") === col("batch_keeper"))
            .select(col("text_hash"), col("batch_keeper").as("keeper_id"))
            .repartition(nBuckets, col("text_hash"))
            .write.mode("append").format("parquet")
            .bucketBy(nBuckets, "text_hash")
            .saveAsTable(keeperTable)
        })
    }
  }

  /** STREAMING FLAGSHIP — the incremental twin of the composed batch
    * flagships (etl_e2e's ingest DAG + dd_pipeline's dedup chain +
    * the ANN index): ONE file stream of dropped statement files feeds
    * THREE maintained artifacts per micro-batch, each stage reusing
    * the batch operators' own kernels so streaming can never diverge
    * from batch semantics:
    *
    *   1. EXTRACT — classify against the broadcast platform-rule
    *      relation and run FundEtl.extractStatementFields (the same
    *      map-only tail as etl_ingest_files); the batch's extracted
    *      rows land in a batch-scoped directory (rewritten whole on
    *      replay — idempotent), whose union IS the master table.
    *   2. DEDUP INDEX — the extracted content, keyed by a stable
    *      file-name hash, probes and grows the band-bucketed MinHash
    *      index via [[dedupIndexApplyBatch]] (same kernel as
    *      dd_minhash_lsh); per-batch pair emission equals the full
    *      recompute's delta (spec-asserted).
    *   3. ANN INDEX — a hashed bag-of-tokens embedding of the content
    *      (VectorFunctions.hashedTextEmbedding — declarative, no UDF)
    *      probes and grows the cent_id-bucketed IVF index via
    *      [[annIndexApplyBatch]], emitting each new statement's top-k
    *      nearest already-indexed statements.
    *
    * The batch frame is checkpointed once and shared by all three
    * stages (the binaryFile source is read once per micro-batch, not
    * thrice).
    * Crash safety composes from the stages' own contracts: stage 1 is
    * a whole-directory rewrite, stages 2-3 carry _APPLIED markers, so
    * a replayed batch re-runs only the stages that did not complete.
    * Per-batch cost is O(batch) extraction + batch×bands index probes
    * + batch×nprobe list probes — never a recompute over the
    * accumulated corpus, which is what makes a continuously-arriving
    * statement firehose consumable at 100 TB.
    */
  def statementPipeline(spark: SparkSession, dir: String, extractedDir: String,
      dedupIndexTable: String, pairsDir: String,
      centroids: Seq[(Long, Seq[Float])], annIndexTable: String,
      topkDir: String, checkpointDir: String, nprobe: Int = 2,
      k: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.BinaryFiles.projectPaths(
        spark.readStream.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .option("recursiveFileLookup", "true")
          .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
          .load(dir))
      .withColumn("content", col("content").cast("string"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        statementPipelineApplyBatch(batch, batchId, extractedDir,
          dedupIndexTable, pairsDir, centroids, annIndexTable, topkDir,
          nprobe, k)
      }
      .start()

  /** One micro-batch of [[statementPipeline]] — factored out so the
    * spec can replay a batch id directly (crash-window contract).
    * `batch` carries (path, content, file_name, batch_date); inside
    * foreachBatch it is a static frame, so classification uses the
    * batch operator's priority window unchanged.
    */
  private[graft] def statementPipelineApplyBatch(batch: DataFrame,
      batchId: Long, extractedDir: String, dedupIndexTable: String,
      pairsDir: String, centroids: Seq[(Long, Seq[Float])],
      annIndexTable: String, topkDir: String, nprobe: Int, k: Int): Unit = {
    val spark = batch.sparkSession
    // localCheckpoint, not persist (round 18, the rank-kernel finding):
    // the three stages are separate driver actions (a write plus two
    // apply-batch kernels that each run several jobs) — checkpointed,
    // every consumer plans over a bare ExistingRDD instead of re-running
    // AQE over an InMemoryTableScan of the extract chain. Batch-bounded,
    // ContextCleaner-freed when the batch-local reference drops.
    val extracted = graft.operators.FundEtl.extractStatementFields(spark,
        graft.operators.FundEtl.classifyStatements(spark, batch),
        extra = Seq("content"))
      .withColumn("doc_id", xxhash64(col("file_name")))
      .localCheckpoint()
    // OVERLAPPED INDEPENDENT STAGES (round 18, guide §2.6 — the
    // dd_pipeline precedent): the three stages write disjoint
    // artifacts (manifest dir, band index + pairs dir, IVF index +
    // topk dir) and all read the one checkpointed batch frame, so
    // nothing orders them. Measured split (round 18, warm; `Profile
    // <sfDir> statement_batch_probe` reports it per stage): dedup 3.7 s
    // dominates over manifest 0.7 + ann 1.0 — the two small stages
    // back-fill the dedup stage's tail instead of serializing after
    // it. Submitted FIFO with dedup first so the
    // dominant stage keeps resource priority; per-stage replay
    // contracts (_APPLIED markers, whole-dir rewrites) are unchanged,
    // and a failure in any stage cancels the others and rethrows
    // before the batch is considered applied.
    graft.Stages.all(spark)(
      "statement batch: dedup index (overlapped)" -> { () =>
        dedupIndexApplyBatch(
          extracted.select(col("doc_id"), col("content").as("text")),
          batchId, dedupIndexTable, pairsDir) },
      "statement batch: ann index (overlapped)" -> { () =>
        annIndexApplyBatch(
          extracted.select(col("doc_id").as("vec_id"),
            graft.functions.VectorFunctions
              .hashedTextEmbedding(col("content")).as("embedding")),
          batchId, centroids, annIndexTable, topkDir, nprobe, k, 8) },
      "statement batch: manifest write (overlapped)" -> { () =>
        extracted.drop("content", "doc_id")
          .write.mode("overwrite").parquet(s"$extractedDir/batch-$batchId") })
  }

  /** STREAMING event-rate anomaly detection — the online variant of
    * the batch z-score (StreamingTwins.stAnomaly): per-user
    * flatMapGroupsWithState carries the open hour plus a WELFORD
    * mean/variance aggregate over closed hours, and each hour is
    * scored AS IT CLOSES against the user's history so far (the batch
    * twin scores against the full corpus — the online op can only
    * know the past; the spec replays the same online definition on the
    * driver and requires exact agreement). z is quantized to e4 as an
    * integer so the emission is engine/replay-stable; hours with <2
    * closed predecessors or zero variance score 0. State is O(1) per
    * key — five numbers — regardless of stream length, the property
    * that makes per-entity anomaly detection viable on an unbounded
    * stream. Ordered delivery is ENFORCED, not assumed: each batch is
    * sorted, and a cross-batch straggler for an already-closed hour is
    * dropped (watermark semantics — spec-asserted) instead of
    * corrupting the open hour; a production deployment fronts this
    * with a watermark and routes the drops like the lateness-audit
    * twin.
    */
  def anomalyDetect(events: Dataset[Evt]): Dataset[AnomOut] = {
    import events.sparkSession.implicits._

    def hourUsOf(ts: Timestamp): Long =
      math.floorDiv(microsOf(ts), 3600000000L) * 3600000000L

    def close(userId: Long, st: AnomState): (AnomOut, AnomState) = {
      val z =
        if (st.nClosed >= 2 && st.m2 > 0) {
          val sd = math.sqrt(st.m2 / (st.nClosed - 1))
          (st.hourN - st.mean) / sd
        } else 0.0
      val zE4 = math.floor(z * 10000 + 0.5).toLong
      val out = AnomOut(userId, st.hourUs, st.hourN, zE4, math.abs(zE4) >= 20000L)
      // Welford fold of the closed hour's count
      val n1 = st.nClosed + 1
      val delta = st.hourN - st.mean
      val mean1 = st.mean + delta / n1
      val m21 = st.m2 + delta * (st.hourN - mean1)
      (out, AnomState(0L, 0L, n1, mean1, m21))
    }

    def fn(userId: Long, evts: Iterator[Evt],
        state: GroupState[AnomState]): Iterator[AnomOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AnomOut]
      var st = state.getOption
      evts.toSeq.sortBy(e => (hourUsOf(e.ts), e.event_id)).foreach { e =>
        val h = hourUsOf(e.ts)
        st = Some(st match {
          case None => AnomState(h, 1L, 0L, 0.0, 0.0)
          case Some(s) if s.hourUs == h => s.copy(hourN = s.hourN + 1)
          // cross-batch straggler for an hour that already closed:
          // DROP it (watermark semantics) rather than silently closing
          // the open hour with a partial count and double-folding the
          // Welford state — the ordered-delivery contract is enforced,
          // not assumed. Production routes these like the
          // lateness-audit twin.
          case Some(s) if h < s.hourUs => s
          case Some(s) =>
            val (o, folded) = close(userId, s)
            out += o
            folded.copy(hourUs = h, hourN = 1L)
        })
      }
      st.foreach(state.update)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING gap fill — the online twin of the batch densify+fill
    * (Relational.q51GapFill): per-user flatMapGroupsWithState carries
    * the OPEN hour's best observation (latest by (ts, event_id) — the
    * same tie-break as the batch struct-max) and, when a later hour's
    * event closes it, emits the closed hour's observed row followed by
    * one forward-filled row per skipped hour. Cumulative emissions
    * after any batch are exactly the batch twin's rows for every hour
    * STRICTLY BEFORE the user's open hour (spec-asserted) — the open
    * hour itself stays unemitted until an event closes it, because a
    * later micro-batch may still improve its observation. State is
    * four numbers per key regardless of stream length; cross-batch
    * stragglers for already-closed hours are dropped (watermark
    * semantics, like [[anomalyDetect]]) instead of rewriting history a
    * downstream sink already consumed.
    */
  def gapFillStream(events: Dataset[Evt]): Dataset[GapOut] = {
    import events.sparkSession.implicits._

    def hourUsOf(ts: Timestamp): Long =
      math.floorDiv(microsOf(ts), 3600000000L) * 3600000000L

    def fn(userId: Long, evts: Iterator[Evt],
        state: GroupState[GapState]): Iterator[GapOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[GapOut]
      var st = state.getOption
      evts.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val h = hourUsOf(e.ts)
        val tUs = microsOf(e.ts)
        st = Some(st match {
          case None => GapState(h, tUs, e.event_id, e.value)
          case Some(s) if h < s.hourUs => s // straggler: dropped
          case Some(s) if s.hourUs == h =>
            if (tUs > s.bestTsUs || (tUs == s.bestTsUs && e.event_id > s.bestEventId))
              GapState(h, tUs, e.event_id, e.value)
            else s
          case Some(s) =>
            out += GapOut(userId, s.hourUs, s.bestValue, is_filled = false)
            var fh = s.hourUs + 3600000000L
            while (fh < h) {
              out += GapOut(userId, fh, s.bestValue, is_filled = true)
              fh += 3600000000L
            }
            GapState(h, tUs, e.event_id, e.value)
        })
      }
      st.foreach(state.update)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING truncated-EWMA smoothing — the online twin of the batch
    * 8-lag window (Relational.q54EwmaSmooth). Where the batch twin
    * reads its 8 lags off a user-partitioned sort, the stream carries
    * them AS STATE: ≤7 prior e2 observations per user (newest first),
    * so each arriving event emits its smoothed row immediately —
    * num/den fold over the same 2^(7−j) weights, one truncating div,
    * identical integer arithmetic. Emission is per-event (no open
    * bucket to close), so cumulative emissions after in-order batches
    * equal the batch twin EXACTLY, row for row (spec-asserted).
    * Out-of-order events older than the last emitted (ts, event_id)
    * are dropped — the lag window is order-defined, and rewriting an
    * already-emitted smooth would corrupt a downstream consumer
    * (same watermark stance as [[gapFillStream]]).
    */
  def ewmaStream(events: Dataset[Evt]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evts: Iterator[Evt],
        state: GroupState[EwmaState]): Iterator[EwmaOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[EwmaOut]
      var st = state.getOption.getOrElse(EwmaState(Long.MinValue, Long.MinValue, Nil))
      evts.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val tUs = microsOf(e.ts)
        val newer = tUs > st.lastTsUs ||
          (tUs == st.lastTsUs && e.event_id > st.lastEventId)
        if (newer) {
          val v = e2Of(e.value).toLong
          var num = v * 128L
          var den = 128L
          st.recent.take(7).zipWithIndex.foreach { case (pv, j) =>
            num += pv * (1L << (6 - j))
            den += 1L << (6 - j)
          }
          out += EwmaOut(userId, tUs, e.event_id, v, num / den)
          st = EwmaState(tUs, e.event_id, (v :: st.recent).take(7))
        }
      }
      state.update(st)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING rolling median — the online twin of the batch last-5
    * median filter (Relational.q61RollingMedian), the [[ewmaStream]]
    * pattern with a sorted-frame index instead of a weighted fold:
    * ≤4 prior e2 observations ride as state, each arriving event
    * emits its lower-median row immediately, so cumulative emissions
    * after in-order batches equal the batch twin row for row
    * (spec-asserted). Same straggler contract: out-of-order events at
    * or behind the last emitted (ts, event_id) drop — the frame is
    * order-defined and an emitted median can't be rewritten.
    */
  def medianStream(events: Dataset[Evt]): Dataset[MedianOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evts: Iterator[Evt],
        state: GroupState[MedianState]): Iterator[MedianOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[MedianOut]
      var st = state.getOption
        .getOrElse(MedianState(Long.MinValue, Long.MinValue, Nil))
      evts.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val tUs = microsOf(e.ts)
        val newer = tUs > st.lastTsUs ||
          (tUs == st.lastTsUs && e.event_id > st.lastEventId)
        if (newer) {
          val v = e2Of(e.value).toLong
          val win = v :: st.recent.take(4)
          val med = win.sorted.apply((win.length + 1) / 2 - 1)
          out += MedianOut(userId, tUs, e.event_id, v, med, win.length.toLong)
          st = MedianState(tUs, e.event_id, win.take(4))
        }
      }
      state.update(st)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING transition mining — the online twin of the batch
    * sequence expansion (Relational.q59MarkovTransitions): where the
    * batch twin sorts each user's whole history and zips adjacent
    * pairs, the stream carries only the LAST accepted event per user
    * as state and emits one (from, to) transition row per arriving
    * event — the downstream count/ppm rollup is then q59's own
    * aggregate over the emitted rows (spec-asserted: cumulative
    * emissions grouped by (from, to) equal the batch operator's
    * n_transitions exactly under in-order batches). Out-of-order
    * events at or behind the last accepted (ts, event_id) are dropped
    * — a late event would need to RETRACT an already-emitted
    * transition and emit two corrected ones, which an append-style
    * consumer can't honor (the [[ewmaStream]] watermark stance).
    *
    * BOUNDED-DISORDER CONTRACT (round 12, the round-11 advice ask):
    * the stream/batch equivalence above holds only while cross-batch
    * delivery is in order per user — each drop permanently removes one
    * (from, to) observation (and rewires the next accepted event's
    * `from` to the pre-straggler state), so cumulative counts diverge
    * from the batch twin by up to 2 rows PER DROP. A production
    * deployment fronts this with a watermark sized to the source's
    * disorder bound. The contract is now MEASURABLE, not assumed:
    * state carries a per-user dropped counter and every emission
    * reports it as `dropped_before` — a consumer (or monitor) sums
    * the per-user maxima and knows exactly how many observations the
    * equivalence has lost; zero means the batch twin's numbers are
    * exact (spec-asserted both ways: all-zero on an ordered corpus,
    * counted on a planted straggler).
    *
    * CHECKPOINT COMPATIBILITY: adding `dropped` to [[TransState]]
    * (round 12) changed the flatMapGroupsWithState state encoder
    * schema — a query restarted from a checkpoint written BEFORE that
    * change fails state-schema compatibility (or misreads state).
    * Consumers upgrading across it must restart from a fresh
    * checkpoint, as with the other state-schema evolutions in this
    * file.
    */
  def transitionsStream(events: Dataset[Evt]): Dataset[TransOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evts: Iterator[Evt],
        state: GroupState[TransState]): Iterator[TransOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
      var st = state.getOption
      evts.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val tUs = microsOf(e.ts)
        val newer = st.forall(s => tUs > s.lastTsUs ||
          (tUs == s.lastTsUs && e.event_id > s.lastEventId))
        if (newer) {
          st.foreach { s =>
            out += TransOut(userId, s.lastType, e.event_type, tUs, e.event_id,
              s.dropped)
          }
          st = Some(TransState(tUs, e.event_id, e.event_type,
            st.map(_.dropped).getOrElse(0L)))
        } else {
          st = st.map(s => s.copy(dropped = s.dropped + 1))
        }
      }
      st.foreach(state.update)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING distribution-drift monitor — the online twin of the
    * batch histogram compare (Relational.q55DriftChi2): per event_type
    * flatMapGroupsWithState carries BOTH periods' 10-bucket e2-value
    * histograms (20 longs per key) and, after folding each
    * micro-batch's events in, emits the type's RUNNING drift row —
    * the same truncating-div ppm shares, L1 and χ²-style scores
    * recomputed from state, so the monitor's latest emission always
    * equals the batch twin run over everything consumed so far
    * (spec-asserted). Counting is order-free (histogram increments
    * commute), so unlike the lag-window twins there is no straggler
    * problem at all — any arrival order converges to the same state.
    */
  def driftStream(events: Dataset[Evt]): Dataset[DriftOut] = {
    import events.sparkSession.implicits._
    val boundaryUs = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

    def fn(tpe: String, evts: Iterator[Evt],
        state: GroupState[DriftState]): Iterator[DriftOut] = {
      val st = state.getOption.getOrElse(
        DriftState(Array.fill(10)(0L), Array.fill(10)(0L)))
      evts.foreach { e =>
        val b = math.min(e2Of(e.value).toLong / 6000L, 9L).toInt
        if (microsOf(e.ts) < boundaryUs) st.base(b) += 1 else st.curr(b) += 1
      }
      state.update(st)
      val tb = st.base.sum
      val tc = st.curr.sum
      var l1 = 0L
      var chi2 = 0L
      var b = 0
      while (b < 10) {
        if (st.base(b) > 0 || st.curr(b) > 0) {
          val pb = st.base(b) * 1000000L / math.max(tb, 1L)
          val pc = st.curr(b) * 1000000L / math.max(tc, 1L)
          l1 += math.abs(pc - pb)
          chi2 += (pc - pb) * (pc - pb) / math.max(pb, 1L)
        }
        b += 1
      }
      Iterator.single(DriftOut(tpe, tb, tc, l1, chi2))
    }

    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING last-touch attribution — the online twin of the batch
    * touch-carry window (Relational.q58Attribution): per-user state is
    * just the latest marketing touch (click/view) plus the straggler
    * bound — four numbers per key — and each arriving purchase emits
    * its attributed (channel, value) row immediately, 24h cutoff and
    * all. Cumulative per-channel rollups of the emissions equal the
    * batch twin exactly after in-order batches (spec-asserted);
    * out-of-order events older than the last emitted (ts, event_id)
    * drop — attribution is order-defined like the EWMA lag window.
    */
  def attributionStream(events: Dataset[Evt]): Dataset[AttribOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evts: Iterator[Evt],
        state: GroupState[TouchState]): Iterator[AttribOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AttribOut]
      var st = state.getOption.getOrElse(
        TouchState(Long.MinValue, "organic", Long.MinValue, Long.MinValue))
      evts.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach { e =>
        val tUs = microsOf(e.ts)
        val newer = tUs > st.lastTsUs ||
          (tUs == st.lastTsUs && e.event_id > st.lastEventId)
        if (newer) {
          if (e.event_type == "purchase") {
            val ch =
              if (st.touchTsUs == Long.MinValue) "organic"
              else if (tUs - st.touchTsUs > 86400000000L) "organic"
              else st.channel
            out += AttribOut(userId, tUs, e.event_id, ch,
              e2Of(e.value).toLong)
          }
          val touched = e.event_type == "click" || e.event_type == "view"
          st = TouchState(
            if (touched) tUs else st.touchTsUs,
            if (touched) e.event_type else st.channel,
            tUs, e.event_id)
        }
      }
      state.update(st)
      out.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Day-clipped boundary stream for [[sweepStream]]: the same
    * interval derivation as the batch twin (dur = floorMod(⌊value⌋,
    * 30)+1 minutes, half-open, split at day boundaries), emitted as
    * ±1 boundary rows tagged with their day partition key.
    */
  def intervalBoundaries(events: Dataset[Evt]): Dataset[Bnd] = {
    import events.sparkSession.implicits._
    val DayUs = 86400000000L
    events.flatMap { e =>
      val s = microsOf(e.ts)
      // .toLong.toInt BEFORE the mod mirrors the batch twin's
      // floor→long→cast("int") chain exactly (saturating double→long,
      // then wrapping long→int) — a Long-domain floorMod here would
      // silently disagree with the batch duration for |⌊value⌋| ≥ 2³¹
      val en = s + (math.floorMod(math.floor(e.value).toLong.toInt, 30) + 1).toLong * 60000000L
      (s / DayUs to en / DayUs).flatMap { day =>
        val segS = math.max(s, day * DayUs)
        val segE = math.min(en, (day + 1) * DayUs)
        Seq(Bnd(day, segS, 1, segS / DayUs == day),
          Bnd(day, segE, -1, segE / DayUs == day))
      }
    }
  }

  /** STREAMING interval-concurrency sweep — the online twin of the
    * batch day-partitioned sweep (Relational.q50IntervalSweep): per-day
    * flatMapGroupsWithState carries the concurrency entering the OPEN
    * hour plus that hour's buffered boundaries; when a later hour's
    * boundary arrives, the open hour finalizes — boundaries fold in
    * (t, delta) order with exact RANGE-frame peer-group semantics (all
    * members of a tied group carry the sum including the group) — and
    * its (max, count) row emits. Within-hour late arrivals are
    * TOLERATED (the buffer absorbs them until the hour closes); a
    * straggler for an already-finalized hour is dropped, the
    * [[anomalyDetect]] watermark contract — unlike a count or a fill,
    * a dropped ±1 would bias every later level, which is exactly why
    * the open hour buffers instead of folding eagerly. State is one
    * hour of boundaries per day key, independent of stream length;
    * cumulative emissions equal the batch twin minus each day's open
    * hour (spec-asserted on the real corpus).
    */
  def sweepStream(bounds: Dataset[Bnd]): Dataset[SweepOut] = {
    import bounds.sparkSession.implicits._
    val HourUs = 3600000000L
    val DayUs = 86400000000L

    def finalize(day: Long, st: SweepState): (Option[SweepOut], Long) = {
      var c = st.concAtHourStart
      val folded = st.buf.groupBy(b => (b._1, b._2)).toSeq.sortBy(_._1)
        .flatMap { case ((_, d), grp) =>
          c += d.toLong * grp.size
          grp.map(g => (c, g._3))
        }
      val emittable = folded.filter(_._2)
      val out =
        if (emittable.isEmpty) None
        else Some(SweepOut(
          java.time.LocalDate.ofEpochDay(day).toString,
          (st.openHourUs % DayUs) / HourUs,
          emittable.map(_._1).max, emittable.size.toLong))
      (out, c)
    }

    def fn(day: Long, bs: Iterator[Bnd],
        state: GroupState[SweepState]): Iterator[SweepOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SweepOut]
      var st = state.getOption
      bs.toSeq.sortBy(b => (b.t_us, b.delta)).foreach { b =>
        val h = (b.t_us / HourUs) * HourUs
        st = Some(st match {
          case None => SweepState(h, 0L, List((b.t_us, b.delta, b.emittable)))
          case Some(s) if h < s.openHourUs => s // straggler: dropped
          case Some(s) if h == s.openHourUs =>
            s.copy(buf = (b.t_us, b.delta, b.emittable) :: s.buf)
          case Some(s) =>
            val (o, c) = finalize(day, s)
            o.foreach(out += _)
            SweepState(h, c, List((b.t_us, b.delta, b.emittable)))
        })
      }
      st.foreach(state.update)
      out.iterator
    }

    bounds
      .groupByKey(_.day)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** STREAMING CDC apply — the incremental twin of
    * FundEtl.etlCdcApply: keyed state holds the latest op per key
    * (ordered by (event time, event_id), so late rows within the
    * stream cannot regress the state), and every micro-batch emits the
    * key's refreshed final row in Update mode — exactly a continuously
    * maintained merge view. A delete marks the row `deleted = true`
    * (downstream sinks drop it) but keeps the state, since a later
    * insert/update legitimately resurrects the key. State size is one
    * small record per LIVE KEY — bounded by the key cardinality, not
    * the stream length, which is what makes a 100 TB changelog
    * consumable: the state store carries the table, not the history.
    */
  def cdcApply(events: Dataset[Evt]): Dataset[CdcOut] = {
    import events.sparkSession.implicits._

    def opOf(eventType: String): String = eventType match {
      case "signup" => "I"
      case "error" => "D"
      case _ => "U"
    }

    def fn(userId: Long, evts: Iterator[Evt], state: GroupState[CdcState]): Iterator[CdcOut] = {
      var cur = state.getOption
      evts.foreach { e =>
        val us = microsOf(e.ts)
        val newer = cur.forall(s =>
          us > s.lastUs || (us == s.lastUs && e.event_id > s.lastEventId))
        cur = Some(cur match {
          case Some(s) if !newer => s.copy(nOps = s.nOps + 1)
          case Some(s) => CdcState(us, e.event_id, opOf(e.event_type), e.value, s.nOps + 1)
          case None => CdcState(us, e.event_id, opOf(e.event_type), e.value, 1L)
        })
      }
      cur match {
        case Some(s) =>
          state.update(s)
          Iterator.single(CdcOut(userId, s.lastOp, s.lastValue, s.lastUs,
            s.nOps, s.lastOp == "D"))
        case None => Iterator.empty
      }
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Gap-based sessionization (30-min inactivity) with explicit state:
    * one SessionState per user, closed + emitted on gap or event-time
    * timeout. The streaming twin of StreamingTwins.stSessionize.
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L

    def fn(userId: Long, evts: Iterator[Evt], state: GroupState[SessionState]): Iterator[SessionOut] = {
      val sorted = evts.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
      var closed = List.empty[SessionOut]
      var cur = state.getOption
      if (sorted.isEmpty) {
        if (state.hasTimedOut && cur.isDefined) {
          val s = cur.get
          closed ::= SessionOut(userId, s.startUs, s.lastUs, s.n, s.total)
          state.remove()
        }
      } else {
        sorted.foreach { e =>
          val us = microsOf(e.ts)
          cur match {
            case Some(s) if us - s.lastUs <= gapUs =>
              cur = Some(SessionState(s.startUs, us, s.n + 1, s.total + e.value))
            case Some(s) =>
              closed ::= SessionOut(userId, s.startUs, s.lastUs, s.n, s.total)
              cur = Some(SessionState(us, us, 1L, e.value))
            case None =>
              cur = Some(SessionState(us, us, 1L, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes.toLong * 60L * 1000L)
        }
      }
      closed.reverseIterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}

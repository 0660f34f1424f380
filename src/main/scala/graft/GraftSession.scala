package graft

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory.
  *
  * Settings chosen for the driver harness (local[32], 128 GiB) but
  * expressed so the same code lands well on a multi-executor cluster:
  * AQE handles runtime coalescing and skew joins, shuffle partitions
  * stay moderate locally, and broadcast threshold covers the dim
  * tables this engine joins against.
  */
object GraftSession {
  def build(master: String = "local[32]", appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Default 32 fits the bench/verify SFs; scale runs MUST override
      // via SPARK_GRAFT_SHUFFLE_PARTITIONS — partitions are sized so
      // one task's state fits executor memory at the target data size,
      // the knob any real deploy tunes first. Measured: the 400×
      // pair graph (439M canonical edges) needs 256 here or the star
      // path's distinct()/min-agg hash maps (~14M keys per task × 32
      // concurrent tasks) exhaust the execution pool and abort with
      // AGGREGATE_OUT_OF_MEMORY; at 256 the same plan completes — the
      // algorithm scales, the partition count was the bottleneck.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      // Second scale knob, same posture as above: iterative graph ops
      // pin near-full edge-set localCheckpoints in storage; at 400×
      // (2× ~439M-row checkpoints live at once) the default 0.5 floor
      // leaves execution too little to run the star rounds' aggs.
      // Scale runs lower it (0.3) so checkpoint blocks spill to disk
      // instead of starving the aggregation pool. Default untouched.
      .config("spark.memory.storageFraction",
        sys.env.getOrElse("SPARK_GRAFT_STORAGE_FRACTION", "0.5"))
      // Folder listing stays on the driver. Past this many paths Spark
      // lists with a job of one task per path, and on one
      // BinaryFiles.scan (local[4], p50 of 7 runs) that job never won:
      // 40 folders 156–296 ms against 10–20 ms on the driver, 400
      // folders 1,083–1,465 ms against 29–55 ms, 4,000 folders
      // 8,540–10,623 ms against 205–250 ms. A streaming micro-batch
      // hands its files over as leaf paths, so past the default of 32
      // files it paid the same job (48 files: a 48-task stage, 524 ms
      // against 240 ms). Pass folders, not leaf files: a leaf glob such
      // as `dir/*/*.txt` makes one path per file (1,508 files ran a
      // 1,508-task listing job of 4.2–4.5 s), and past this threshold
      // that is again one task per file.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // The CC router's driver union-find path collects up to 32M
      // (Long, Long) pairs (Dedup.connectedComponents, budget 64M
      // directed edges ≈ 1 GB of collected rows). The default
      // maxResultSize (1g) would abort a job near that ceiling instead
      // of ever reaching the union-find — so the budget's documented
      // ≥4 GB-driver-headroom assumption is ENFORCED here, where every
      // session (Bench/Verify/Profile/tests) is built. A deploy that
      // lowers this must lower the union-find budget with it.
      .config("spark.driver.maxResultSize", "4g")
      // Janino compilation cache (static conf, default 100 entries):
      // a 205-query sweep evaluates far more distinct codegen units
      // than 100, so every sweep re-compiled nearly every generated
      // class (round 17 — the warm-up pass Bench runs exists to hit
      // this cache, and the default capacity evicted it before the
      // timed sweep came back around). Sized to hold the whole
      // registry's units; ~tens of KB per compiled class. Not a
      // local-mode tune: any long-lived driver serving a many-query
      // workload wants its generated classes compiled once.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // runtime row-group pruning on large joins: the selective side
      // broadcasts a bloom filter into the probe side's scan
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

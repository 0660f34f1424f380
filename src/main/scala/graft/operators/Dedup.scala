package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.cosineSim
import graft.functions.HashFunctions.{intersectCount, minhashSig, simhash64}
import graft.sources.Tables

/** §2.C — deduplication family for a training-data pipeline.
  *
  * All candidate generation is hash-bucket based (explode → equi-join
  * on a bucket key), never pairwise n²: shuffle volume is rows×bands of
  * small keys, which is the property that survives a 100× scale-up.
  * Signatures are computed map-only with codegen'd expression trees
  * (HOFs over token arrays — no UDFs).
  */
object Dedup {
  private type Q = (SparkSession, String) => DataFrame

  private def q4(c: Column): Column = floor(c * 10000 + 0.5) / lit(10000.0)

  /** doc_id + word-3-gram shingle hashes, from the PERSISTED shingle
    * store (round 14 — the band-store pattern generalized; see
    * [[corpusArtifactStore]]): a session `persist()` amortized the
    * tokenize+hash pass within one session only, so every fresh JVM
    * re-paid it for the whole exact-verify family (dd_ngram_jaccard /
    * dd_containment / dd_pair_quality*). The store materializes the
    * shingle table once per corpus, bucketed on doc_id — so
    * dd_containment's fan-back joins (candidates → full shingle sets
    * by doc_a/doc_b) read a pre-hashed side, and fresh sessions
    * re-register over the existing files footer-read cheap. No
    * session cache left behind (the old persist lived for the session
    * lifetime).
    */
  private[graft] def shingleStoreName(d: String): String = storeName("shingle", d)
  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", lower(regexp_replace(trim(col("text")), "\\s+", " ")))
      .withColumn("sh_hashes",
        graft.functions.HashFunctions.shingleHashes(split(col("norm"), " "), 3))
      .select(col("doc_id"), col("sh_hashes"))
  private[graft] def shingled(s: SparkSession, d: String): DataFrame =
    corpusArtifactStore(s, d, shingleStoreName(d), "doc_id")(
      shingledOf(Tables.documents(s, d)))

  /** Exact dedup: md5 of whitespace-normalized lowercase text, keep the
    * smallest doc_id per hash — a partial-aggregating groupBy (map-side
    * combine), not a window, so the shuffle carries one row per digest.
    */
  val ddExact: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("text_hash", md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text_hash"))
      .orderBy(col("doc_id"))

  /** MinHash (32 perms over xxhash64'd 3-gram shingles, computed by
    * the native codegen'd MinHashSignature expression — the HOF chain
    * it replaced was interpreted O(32×shingles) per row) + banded LSH
    * (8 bands × 4 rows): docs sharing any band become candidate pairs;
    * the signature-estimated Jaccard filters at 0.5.
    */
  val ddMinhashLsh: Q = (s, d) =>
    minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** §2.C round 17 — the SAMPLED near-dup pair audit (the r16
    * verdict's optional ask #8, via the dd_containment_sampled
    * playbook): the pair family's 1600× point is OUTPUT-bound — the
    * co-bucketed collision join is exchange-free, but its ~7B emitted
    * pairs exceed the box's disk the moment anything downstream
    * sorts or materializes them. This op keeps the deterministic
    * content-addressed 1-in-8 slice of the exact pair stream
    * ([[pairSamplePredicate]], the shared portable integer hash); the
    * filter evaluates inside the join's output stream BEFORE any
    * exchange, so sort/shuffle/output volume is sample-bounded while
    * the collision scan is unchanged. Pair-volume and quality
    * estimates read off it with a ×8 scale-up — how a 100 TB near-dup
    * audit actually runs past the point where materializing every
    * pair stops being possible. The full operator stays registered as
    * the exact oracle anchor; because the predicate is per-pair, the
    * output is exactly the same hash slice of the full op's output
    * (spec-pinned).
    */
  val ddMinhashLshSampled: Q = (s, d) =>
    minhashPairs(s, d).filter(pairSamplePredicate(8))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Unsorted MinHash-LSH pair graph — shared by dd_minhash_lsh (which
    * adds the presentation sort) and dd_cluster (which doesn't need
    * one; a global sort in front of an iterative consumer is waste).
    */
  /** The MinHash signature table (doc_id, sig[32]) — the boundary of
    * the SPLIT ORACLE: Verify dumps this table (and the other seeded
    * intermediates below) to parquet, and the DuckDB oracle re-runs
    * everything downstream of the hash kernel — banding, bucket join,
    * estimate, threshold — in independent SQL. The kernel itself is
    * pinned bit-for-bit against its HOF twin in HashExprsSpec, so
    * between the two checks the whole operator is covered without
    * DuckDB needing xxhash64. Round 13: derived FROM the store (each
    * doc's band-0 row carries its full signature), so the dumped
    * signatures are literally the stored ones every operator banded
    * against — the oracle audits the store, not a parallel recompute.
    */
  private def minhashSigTable(s: SparkSession, d: String): DataFrame =
    bandedStore(s, d)
      .filter(col("band_key").startsWith("0,"))
      .select(col("doc_id"), col("sig"))

  /** PERSISTED band-bucketed signature store — the default batch
    * pair-generation path for the whole dd_* family (round-13 flagship;
    * the batch twin of the streaming index at
    * EventStreams.dedupIndexMaintain, which proved the
    * `bucketBy(n, "band_key")` shape first).
    *
    * Why a STORE and not a persist(): `persist()` amortizes the
    * shingle→MinHash→band compute within one session only — every new
    * driver run re-pays it (93 s warm at 100×, SURVEY §5). The store
    * materializes the band index ONCE per corpus as an external
    * bucketed parquet table; subsequent runs — including fresh JVMs —
    * re-register the table definition over the existing files
    * (footer-read cheap) and the band self-join reads two bucketed
    * scans co-partitioned on band_key, so the join needs NO exchange
    * (the bucket spec IS the hash partitioning). At cluster scale this
    * is exactly the "materialize the signature table before LSH joins"
    * rule, made durable.
    *
    * Freshness: the store carries a `_SOURCE_FINGERPRINT` sidecar —
    * md5 over the source parquet's (name, length, mtime) listing —
    * checked on every access; a rewritten corpus rebuilds the store
    * instead of serving stale signatures. The sidecar is written LAST
    * (marker-last, same as the streaming index's `_APPLIED`), so a
    * crashed build is indistinguishable from no build. Writes take a
    * JVM-global lock; concurrent readers in other processes of a
    * VALID store are safe (they only list + read).
    *
    * Layout: repartition(32, band_key) before bucketBy(32, band_key)
    * makes partition i hold exactly bucket i's rows (same murmur3
    * hash) — one file per bucket, not tasks×buckets small files.
    */
  private val storeLock = new Object

  /** Store-table name for a (kind, corpus dir): the digest keys the
    * corpus PATH so stores for different dirs coexist in one
    * warehouse; `kind` separates the artifact families (band = MinHash
    * band index, simsig = SimHash signature table, shingle = shingle
    * table) built over the same corpus.
    */
  private[graft] def storeName(kind: String, d: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(d).getCanonicalPath.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    s"graft_dd_${kind}_store_$digest"
  }
  private[graft] def bandStoreName(d: String): String = storeName("band", d)

  private def hadoopFs(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** md5 over the sorted (name, length, mtime) listing of the source
    * parquet (`srcFile`, default the documents table) — a metadata-only
    * staleness probe (one FS list, no data read).
    */
  private def corpusFingerprint(s: SparkSession, d: String,
      srcFile: String = "documents.parquet"): String = {
    val src = new org.apache.hadoop.fs.Path(s"$d/$srcFile")
    val fs = hadoopFs(s, src)
    val st = fs.getFileStatus(src)
    val parts =
      if (st.isDirectory)
        fs.listStatus(src).filter(_.isFile)
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
          .sorted
      else Array(s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private[graft] def bandStorePath(s: SparkSession, name: String): org.apache.hadoop.fs.Path = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    new org.apache.hadoop.fs.Path(wh, name)
  }

  /** The generic persisted corpus-artifact store (round 14 — the
    * round-13 band-store machinery factored out so every per-doc
    * signature/shingle table shares ONE fingerprint/marker/bucketing
    * implementation): build `artifact` once per corpus as an external
    * parquet table bucketed on `bucketCol`, guard freshness with the
    * marker-last `_SOURCE_FINGERPRINT` sidecar, and re-register (not
    * rebuild) on fresh sessions. `artifact` is by-name so the build
    * plan is only constructed when (re)building or for its schema DDL.
    */
  private[graft] def corpusArtifactStore(
      s: SparkSession, d: String, name: String, bucketCol: String,
      srcFile: String = "documents.parquet")(
      artifact: => DataFrame): DataFrame = storeLock.synchronized {
    val path = bandStorePath(s, name)
    val fs = hadoopFs(s, path)
    val marker = new org.apache.hadoop.fs.Path(path, "_SOURCE_FINGERPRINT")
    val fp = corpusFingerprint(s, d, srcFile)
    val stored =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try {
          val buf = new Array[Byte](64) // md5 hex is 32 chars
          val n = in.read(buf)
          Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim)
        } finally in.close()
      }
    if (!stored.contains(fp)) {
      // build (or rebuild after a corpus change): one pass over the
      // documents — the only place the signature/shingle kernel runs
      s.sql(s"DROP TABLE IF EXISTS $name")
      artifact
        .repartition(32, col(bucketCol))
        .write.mode("overwrite").format("parquet")
        .bucketBy(32, bucketCol)
        .option("path", path.toString)
        .saveAsTable(name)
      val out = fs.create(marker, true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
    } else if (!s.catalog.tableExists(name)) {
      // valid store from an earlier run, fresh session: re-register the
      // external bucketed table over the existing files (no data write)
      val ddl = artifact.schema.toDDL
      s.sql(
        s"""CREATE TABLE $name ($ddl) USING PARQUET
           |CLUSTERED BY ($bucketCol) INTO 32 BUCKETS
           |LOCATION '${path.toString}'""".stripMargin)
    }
    s.table(name)
  }

  private[graft] def bandedStore(s: SparkSession, d: String): DataFrame =
    corpusArtifactStore(s, d, bandStoreName(d), "band_key")(
      bandedOf(minhashSigTableOf(Tables.documents(s, d))))

  /** Drop one store table+dir — the explicit invalidation path for
    * callers that rewrote the corpus in place and don't want to wait
    * for the fingerprint check (which would also catch it).
    */
  private[graft] def invalidateStore(s: SparkSession, name: String): Unit = storeLock.synchronized {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val path = bandStorePath(s, name)
    hadoopFs(s, path).delete(path, true)
    ()
  }

  /** Drop ALL artifact stores for a corpus dir (band, simhash-chunk,
    * shingle, and the ANN assignment store keyed on the same dir) —
    * what a corpus rewrite invalidates.
    */
  private[graft] def invalidateBandStore(s: SparkSession, d: String): Unit =
    Seq(bandStoreName(d), simhashStoreName(d), shingleStoreName(d),
        storeName("annivf", d))
      .foreach(invalidateStore(s, _))

  /** (doc_id, sig, band_key) — the LSH band index rows for a signature
    * table: 8 bands × 4 sig positions, one exploded row per band. This
    * IS the stored representation of an incremental dedup index (see
    * [[ddIncremental]] / EventStreams.dedupIndexMaintain): bucketed on
    * band_key, new batches probe it without reshuffling the store.
    */
  private[graft] def bandedOf(sigs: DataFrame): DataFrame =
    sigs.withColumn("band_key", explode(expr(
        """transform(sequence(0, 7), b -> concat_ws(',', cast(b as string),
          |  cast(sig[b*4] as string), cast(sig[b*4+1] as string),
          |  cast(sig[b*4+2] as string), cast(sig[b*4+3] as string)))""".stripMargin)))
      .select(col("doc_id"), col("sig"), col("band_key"))

  /** Signature table for an arbitrary documents relation (doc_id,
    * text) — the streaming index maintenance runs THIS code per
    * micro-batch, so batch and incremental paths share one
    * implementation.
    */
  private[graft] def minhashSigTableOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", lower(regexp_replace(trim(col("text")), "\\s+", " ")))
      .withColumn("sig", minhashSig(
        graft.functions.HashFunctions.shingleHashes(split(col("norm"), " "), 3), 32))
      .select(col("doc_id"), col("sig"))

  /** The est-Jaccard pair emission shared by the full recompute and
    * the incremental probe: canonicalize, collapse multi-band
    * collisions in one groupBy, threshold.
    */
  private[graft] def pairsFromCollisions(cand: DataFrame): DataFrame =
    cand
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        q4(expr(
          "aggregate(zip_with(a.sig, b.sig, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
        ) / 32.0).as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)

  /** FIRST-BAND-WINS pair generation: a pair colliding in several
    * bands is emitted only at its minimum colliding band — both sides
    * carry their full signatures, so "this is the first band that
    * collides" is a per-collision-row check, and the join's output is
    * exactly ONE row per pair. This removes the canonical groupBy
    * from full-corpus pair generation ENTIRELY: at 100× the collision
    * stream is ~8 rows per near-identical pair (≈218M rows for a 27M-
    * pair graph), and shuffling that into a collapse was the dominant
    * cost once the store had removed the signature recompute
    * (measured 66-81 s warm at 100× with the groupBy, vs 93 s
    * pre-store). The check runs once per collision row, so it is the
    * native codegen'd [[graft.functions.HashExprs]] kernel
    * first_colliding_band (early exit at band 0 for near-identical
    * docs — the dominant collision source); an HOF
    * `filter(sequence(0,7), ...)` form of the same predicate was
    * measured SLOWER than the groupBy it replaced (120-149 s at 100×:
    * HOFs are interpreted per row). The estimate numerator is the
    * same story (sig_match_count replacing aggregate∘zip_with). The
    * row's own band index is projected once per SCAN row (4M at 100×)
    * from the band_key prefix, never per collision row.
    * (The incremental/stream probes keep the canonical-groupBy form,
    * [[pairsFromCollisions]]: their stored side can legitimately carry
    * crash-window duplicate rows, which only a collapse absorbs.)
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // Both join sides are the SAME bucketed table scan, co-partitioned
    // on band_key — no exchange anywhere in pair generation.
    import graft.functions.HashFunctions.{firstCollidingBand, sigMatchCount}
    val banded = bandedStore(s, d)
    val probe = banded.withColumn("band_idx",
      expr("cast(substring_index(band_key, ',', 1) as int)"))
    probe.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id") &&
          firstCollidingBand(col("a.sig"), col("b.sig")) === col("a.band_idx"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        q4(sigMatchCount(col("a.sig"), col("b.sig")).cast("double") / 32.0)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** The banded signature table alone — the LSH-geometry op and the
    * skew spec read the band-bucket size distribution off it (Σ bucket²
    * is the join's real cost; no AQE split changes that, only the
    * parallelism).
    * Reads the store — the diagnostic prices the rows the join
    * actually banded against, never a second recompute.
    */
  private[graft] def bandedForDiagnostics(s: SparkSession, d: String): DataFrame =
    bandedStore(s, d)

  /** Triangle census of the near-dup pair graph — the graph-shape
    * diagnostic next to dd_graph_rank's authority scores: near-dup
    * components that are CLIQUES (high clustering) are true duplicate
    * families, while star-shaped components (low clustering, one hub
    * touching many spokes) usually mean a template/boilerplate hub —
    * different curation actions, measurable only with a triangle
    * count. Exact, one row out: edges, wedges Σ deg·(deg−1)/2,
    * triangles via the canonical two-join (a<b<c ordered edge
    * orientation — every triangle counted exactly once, and orienting
    * low→high node bounds the join's per-key fan-out by the MAX
    * out-degree, the standard skew cap), and the global clustering
    * coefficient 3·tri/wedges in ppm. The pair graph materializes
    * once and feeds degrees + both join sides. All integer.
    */
  /** K-CORE decomposition of the near-dup pair graph (round 14 — the
    * §9 backlog item unblocked by a CERTIFICATE oracle): the k-core is
    * the unique maximal subgraph of minimum degree ≥ k, computed by
    * the canonical simultaneous peel — each round removes EVERY node
    * whose degree in the remaining graph is < k, until a fixpoint.
    * At the registered k = 2 the core is exactly the cycle-containing
    * duplicate structure (true multi-member FAMILIES), while trees,
    * chains and isolated pairs peel — the structural complement of
    * dd_graph_triangles' census (k = 2 is also what the committed
    * corpora exercise non-trivially: the sf0.1 pair graph's 2-core
    * has 31 members where its 3-core has 4). Output is TOTAL over
    * documents: (doc_id, removed_round, in_core) — core members carry
    * removed_round = −1; docs with no near-dup edge peel in round 1.
    *
    * THE ORACLE PROBLEM SOLVED (why this was backlogged): the peel
    * fixpoint's round count is data-dependent, so DuckDB cannot replay
    * it with a bounded recursive CTE. Instead of replaying, the oracle
    * VERIFIES A CERTIFICATE — the dumped (node, round) table is
    * re-emitted only if four pure-SQL checks all hold, else every row
    * poisons (the q22/q37/q49 bound-validating pattern lifted to
    * graph algorithms): (a) SOUNDNESS — every core member has ≥ k
    * neighbors inside the core (⇒ core ⊆ true k-core, by maximality);
    * (b) PEEL VALIDITY — every node removed at round t has < k
    * neighbors among {core ∪ removed_round ≥ t} (⇒ by induction on t,
    * no removed node is in the true k-core — so core = k-core
    * EXACTLY); (c) CANONICITY — every node removed at round t > 1 had
    * ≥ k neighbors among {core ∪ removed_round ≥ t−1} (it could not
    * have been removed earlier ⇒ rounds are exactly the simultaneous-
    * peel rounds, not merely a valid order); (d) TOTALITY — exactly
    * one row per document, flags consistent. Together the certificate
    * pins the unique canonical answer without ever running the
    * fixpoint in SQL.
    *
    * Scale: each round is one degree aggregate + two semi-joins over
    * the shrinking edge set (localCheckpoint per round, the CC
    * contract). Clique-dense near-dup graphs converge in 1-3 rounds;
    * the adversarial worst case (a path peels from the ends at k=2)
    * is Θ(n/2) rounds — inherent to peeling — so the loop fails
    * loudly at 64 rounds rather than emitting a non-fixpoint.
    */
  private[graft] def kcoreAssign(nodes: DataFrame, pairs: DataFrame,
      k: Int = 2, maxRounds: Int = 64,
      compactEveryOverride: Option[Int] = None): DataFrame = {
    // ONE static mirrored-edge checkpoint; each round filters it by
    // the (node-cardinality) alive set instead of re-materializing a
    // shrunken edge copy — on a clique-dense graph the edge set barely
    // shrinks, so per-round edge checkpoints accumulate near-full
    // copies and blew executor memory at the 54.6M-edge 100× point.
    // Per-round state that IS checkpointed (flagged/remaining/removed)
    // is bounded by the document count, not the edge count.
    // SPARK_GRAFT_KCORE_COMPACT_EVERY=C (round 16, the r15 verdict's
    // ask #5): every C removal rounds, REWRITE the edge checkpoint
    // filtered to the alive set and free the old blocks — trades write
    // volume against re-reading a disk-resident ~50 GB checkpoint
    // every round at 400×. Default OFF (0): the measured A/B decides;
    // the round-14 accumulate-every-round OOM is not reintroduced
    // because at most ONE extra edge copy is ever live and the stale
    // one unpersists immediately.
    // compactEveryOverride is the spec's injection seam (env vars are
    // not settable per-test in a forked JVM): the equality spec forces
    // the compaction path on a many-round peel and asserts the output
    // is bit-identical to the default path's.
    val compactEvery = compactEveryOverride.orElse(
      sys.env.get("SPARK_GRAFT_KCORE_COMPACT_EVERY")
        .flatMap(_.toIntOption)).filter(_ > 0)
    var edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var remaining = nodes.localCheckpoint()
    // per-round removed frames are each localCheckpoint'd (lineage
    // already truncated), so they fold into ONE union after the loop —
    // re-unioning the growing accumulator every round rewrote
    // O(rounds × removed) rows for no lineage benefit
    val removedRounds = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var round = 1L
    var done = false
    while (!done) {
      val liveDeg = edges
        .join(remaining.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(remaining.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as("deg"))
      // ONE checkpoint per round (round 17 — was three): removed and
      // remaining are plain filters OVER this checkpoint, so their own
      // localCheckpoints bought no lineage truncation and cost a full
      // materialization job each, every round. Both stay node-bounded
      // reads of flagged's cached blocks. Round 18: the removal-
      // emptiness probe rides the SAME checkpoint job as an observed
      // metric (the greedyWalk Observation pattern) — one driver
      // action per round, not two.
      val nRemovedObs = new org.apache.spark.sql.Observation()
      val flagged = remaining.join(liveDeg, Seq("doc_id"), "left")
        .withColumn("deg", coalesce(col("deg"), lit(0L)))
        .observe(nRemovedObs,
          count(when(col("deg") < k, lit(1))).as("n_removed"))
        .localCheckpoint()
      val removed = flagged.filter(col("deg") < k)
        .select(col("doc_id"), lit(round).as("removed_round"))
      if (nRemovedObs.get("n_removed").asInstanceOf[Long] == 0L) done = true
      else {
        // the cap guards REMOVAL rounds: a peel converging in exactly
        // maxRounds removal rounds is fine (its confirming empty round
        // lands above); only a round past the cap that still removes
        // something is non-convergence
        if (round > maxRounds)
          sys.error(s"k-core peel did not converge within $maxRounds removal rounds")
        removedRounds += removed
        remaining = flagged.filter(col("deg") >= k)
          .select(col("doc_id"))
        if (compactEvery.exists(c => round % c == 0)) {
          val prev = edges
          edges = edges
            .join(remaining.select(col("doc_id").as("doc_a")),
              Seq("doc_a"), "left_semi")
            .join(remaining.select(col("doc_id").as("doc_b")),
              Seq("doc_b"), "left_semi")
            .localCheckpoint()
          prev.unpersist(false)
        }
        round += 1
      }
    }
    val core = remaining.select(col("doc_id"),
      lit(-1L).as("removed_round"), lit(true).as("in_core"))
    removedRounds.foldLeft(core)((acc, r) => acc.unionByName(
      r.select(col("doc_id"), col("removed_round"),
        lit(false).as("in_core"))))
  }

  /** The registered k — ONE constant feeding both the Spark peel and
    * the certificate oracle's three threshold literals, so they can
    * never desynchronize (a k change with a stale oracle would poison
    * a correct result).
    */
  private[graft] val kcoreK = 2

  val ddKcore: Q = (s, d) =>
    kcoreAssign(
      Tables.documents(s, d).select(col("doc_id")),
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")), k = kcoreK)
      .orderBy(col("doc_id"))

  /** One row of the palm-tree (DFS) certificate emitted by
    * [[articulationAssign]]: `parent`/`disc`/`fin`/`low` are Tarjan's
    * DFS-tree fields, `is_articulation` the verdict they prove. Kept
    * as a static case class so the flatMapGroups encoder resolves.
    */
  /** `beid` (round 16) is the BICONNECTED-BLOCK id of the tree edge
    * (parent, doc_id) — the standard DFS block labeling: a vertex w
    * opens a new block iff low(w) ≥ disc(parent(w)) (parent is the
    * block's cut-vertex root), else it inherits the parent edge's
    * block; equivalently beid(w) = the deepest boundary
    * ancestor-or-self of w, which is how the contracted oracle
    * re-derives it non-recursively from the validated intervals. None
    * for roots (a root has no parent edge). Two vertices u≠v share a
    * block iff beid(u)=beid(v) ∨ parent(beid(u))=v ∨ parent(beid(v))=u
    * (a vertex's blocks are exactly its parent edge's block plus its
    * child edges' blocks, and every block containing a vertex contains
    * one of its tree edges because the DFS tree restricted to a block
    * spans it) — the O(1)-per-edge membership test the contracted
    * variant's dropped-edge check is built on.
    */
  private[graft] case class PalmCert(doc_id: Long, comp: Long,
      parent: Option[Long], disc: Long, fin: Long, low: Long,
      is_articulation: Boolean, beid: Option[Long])

  /** ARTICULATION POINTS of the near-dup pair graph (round 15 — the
    * last §9 graph-backlog item, unblocked by the certificate idea the
    * r14 verdict asked to mature first): a node is an articulation
    * point iff removing it disconnects its component — in a dedup
    * pipeline these are the TEMPLATE HUBS whose removal splits a
    * near-dup family into independent sub-families (keep-one-per-
    * cluster decisions through a hub are fragile: the hub is often
    * boilerplate gluing unrelated documents, the structural refinement
    * of dd_graph_triangles' star-vs-clique census). Output is TOTAL
    * over documents: (doc_id, comp, parent, disc, fin, low,
    * is_articulation) — the verdict PLUS the certificate that proves
    * it (kcore's dump-the-evidence convention).
    *
    * THE ORACLE PROBLEM SOLVED (why this was backlogged): "removing v
    * disconnects" quantifies over connectivity — the recursive-CTE
    * problem again, per v. Instead of replaying Tarjan, the oracle
    * VERIFIES A PALM-TREE CERTIFICATE in pure SQL: (a) WELL-FORMED —
    * one row per document, no NULL fields, parent NULL ⇔ doc_id =
    * comp; (b) COMPONENTS — comp = min(doc_id) of its class, exactly
    * one root per class, no pair-graph edge crosses classes, every
    * parent edge is a real edge in the same class (parent chains are
    * then real paths to the root ⇒ classes are connected ⇒ classes
    * are EXACTLY the connected components — the connectivity
    * certificate the §9 note said this operator needed); (c) TREE
    * INTERVALS — disc < fin, all 2n timestamps distinct per comp,
    * child interval strictly inside parent interval, sibling intervals
    * disjoint ⇒ intervals form a laminar family in which containment ⇔
    * tree ancestry; (d) PALM PROPERTY — every non-tree pair-graph edge
    * connects an ancestor-descendant pair (nested intervals): a
    * spanning tree all of whose non-tree edges nest IS a DFS tree
    * (Tarjan 1972), so Tarjan's low-link theory applies to the dumped
    * tree no matter how it was produced; (e) LOW FIXPOINT — low(u) =
    * min(disc(u), disc of ancestors reached by a non-tree edge from u,
    * low of children), a structural recursion on the tree (children
    * before parents), so LOCAL consistency pins the unique solution;
    * (f) VERDICT — root ⇔ ≥2 children, non-root ⇔ some child's low ≥
    * its disc. Articulation verdicts are DFS-ORDER-INVARIANT, so ANY
    * certificate passing (a)-(e) proves the one true verdict — the
    * oracle never needs to reproduce Spark's traversal order. Any
    * violation poisons every row.
    *
    * Scale: candidate edges come from the banded store (never n²);
    * components label via the size-routed CC; each component's DFS
    * runs INSIDE ITS OWN TASK (groupByKey(comp) → flatMapGroups — the
    * per-partition imperative escape hatch, used exactly where Spark's
    * operators genuinely can't express a DFS), so components
    * parallelize across the cluster and per-task memory is one
    * component's adjacency, guarded by maxCompEdges (default 8M
    * directed ≈ ~200 MB transient) with a LOUD error — a 100 TB graph
    * whose single component exceeds the budget needs a contracted
    * variant, the dd_kcore 64-round-cap posture. DFS is O(V+E) per
    * component vs the remove-one-recompute definition's O(V·E).
    */
  private[graft] def articulationAssign(nodes: DataFrame, pairs: DataFrame,
      maxCompEdges: Long = 8000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val labels = connectedComponents(p, materialized = true)
    val edged = p
      .join(labels.select(col("node").as("doc_a"), col("label").as("comp")),
        Seq("doc_a"))
      .select(col("comp"), col("doc_a"), col("doc_b"))
      .as[(Long, Long, Long)]
    val cert = edged.groupByKey(_._1)
      .flatMapGroups((comp, it) => tarjanPalmTree(comp, it, maxCompEdges))
      .toDF()
    val isolated = nodes
      .join(labels.select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("comp"),
        lit(null).cast("long").as("parent"), lit(1L).as("disc"),
        lit(2L).as("fin"), lit(1L).as("low"),
        lit(false).as("is_articulation"),
        lit(null).cast("long").as("beid"))
    cert.select(col("doc_id"), col("comp"), col("parent"), col("disc"),
        col("fin"), col("low"), col("is_articulation"), col("beid"))
      .unionByName(isolated)
  }

  /** Iterative Tarjan over one component's edge list: explicit stack
    * (a recursive DFS overflows on long chains), adjacency sorted
    * ascending and rooted at the component minimum so the dump is
    * byte-stable run-to-run. disc and fin draw from ONE counter so the
    * intervals nest the way the oracle's laminarity checks expect.
    * Edges arrive as (comp, doc_a, doc_b) with doc_a < doc_b distinct
    * (the minhashPairs contract); adjacency is deduped defensively for
    * other callers — a duplicate edge would make "skip the parent
    * once" skip a real back edge.
    */
  private def tarjanPalmTree(comp: Long, edgeIt: Iterator[(Long, Long, Long)],
      maxEdges: Long): Iterator[PalmCert] = {
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    // The authoritative budget counts POST-dedup directed edges (the
    // round-15 advice: pre-dedup counting let duplicated input trip the
    // budget spuriously and overstated the reported size). The
    // streaming check below is only the memory backstop — it fires at
    // 4× the budget and names its count as raw pre-dedup input rows.
    var ne = 0L
    edgeIt.foreach { case (_, a, b) =>
      if (a != b) {
        ne += 2
        if (ne > 4 * maxEdges)
          sys.error(s"component $comp exceeds ${4 * maxEdges} directed edges " +
            "PRE-dedup (raw input rows, duplicates included) — aborting " +
            "before adjacency dedup to bound task memory")
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty[Long]) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty[Long]) += a
      }
    }
    val keys = adj.keys.toArray
    java.util.Arrays.sort(keys)
    if (keys.isEmpty) return Iterator.empty
    var nd = 0L
    keys.foreach { k => adj(k) = adj(k).distinct.sorted; nd += adj(k).length }
    if (nd > maxEdges)
      sys.error(s"component $comp has $nd deduped directed edges > budget " +
        s"$maxEdges — articulationAssign needs the contracted variant " +
        "(dd_articulation_contracted) at this scale")
    val root = keys(0)
    require(root == comp,
      s"CC label $comp is not the component minimum $root — labeling contract broken")
    val disc = scala.collection.mutable.LongMap.empty[Long]
    val fin = scala.collection.mutable.LongMap.empty[Long]
    val low = scala.collection.mutable.LongMap.empty[Long]
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val nchild = scala.collection.mutable.LongMap.empty[Long]
    val artic = scala.collection.mutable.LongMap.empty[Boolean]
    var timer = 1L
    val stackN = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stackI = scala.collection.mutable.ArrayBuffer.empty[Int]
    disc(root) = timer; low(root) = timer; timer += 1
    stackN += root; stackI += 0
    while (stackN.nonEmpty) {
      val u = stackN.last
      val i = stackI.last
      val nb = adj(u)
      if (i < nb.length) {
        stackI(stackI.length - 1) = i + 1
        val v = nb(i)
        if (!disc.contains(v)) {
          parent(v) = u
          nchild(u) = nchild.getOrElse(u, 0L) + 1
          disc(v) = timer; low(v) = timer; timer += 1
          stackN += v; stackI += 0
        } else if (!parent.get(u).contains(v)) {
          // back edge (or the descendant side of one): disc(v) > disc(u)
          // contributes nothing, exactly as in the oracle's equation
          if (disc(v) < low(u)) low(u) = disc(v)
        }
      } else {
        stackN.remove(stackN.length - 1)
        stackI.remove(stackI.length - 1)
        fin(u) = timer; timer += 1
        parent.get(u).foreach { pu =>
          if (low(u) < low(pu)) low(pu) = low(u)
          if (pu != root && low(u) >= disc(pu)) artic(pu) = true
        }
      }
    }
    if (nchild.getOrElse(root, 0L) >= 2) artic(root) = true
    // SECOND PASS — block ids, in disc order so a parent's beid is
    // final before any child inherits it. A root child w always has
    // low(w) ≥ disc(root) = 1, so the chain never reads a root's beid.
    val beid = scala.collection.mutable.LongMap.empty[Long]
    keys.sortBy(disc(_)).foreach { w =>
      parent.get(w).foreach { pw =>
        beid(w) = if (low(w) >= disc(pw)) w else beid(pw)
      }
    }
    keys.iterator.map { n =>
      PalmCert(n, comp, parent.get(n), disc(n), fin(n), low(n),
        artic.getOrElse(n, false), beid.get(n))
    }
  }

  val ddArticulation: Q = (s, d) =>
    articulationAssign(
      Tables.documents(s, d).select(col("doc_id")),
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .drop("beid") // block ids are the contracted variant's column
      .orderBy(col("doc_id"))

  /** BRIDGE EDGES of the near-dup pair graph — the edge-side sibling
    * of [[ddArticulation]] from the SAME palm-tree certificate: a tree
    * edge (parent(u), u) is a bridge iff low(u) > disc(parent(u)) (no
    * back edge climbs over it), and non-tree edges are never bridges
    * (they close a cycle with the tree path). Bridges are the
    * SPURIOUS-LINK audit: a near-dup family held together by one pair
    * is usually one banding accident away from being two families.
    * The oracle validates the dumped DFS certificate (__AUX__/dd_dfs —
    * the same assign re-run by Verify; byte-identical because the
    * traversal is deterministic) with the full check set, then derives
    * the bridge list from the VALIDATED certificate in SQL.
    */
  val ddBridges: Q = (s, d) =>
    bridgesFromCert(articulationAssign(
      Tables.documents(s, d).select(col("doc_id")),
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .localCheckpoint())

  /** The tree-edge bridge read-off from a palm certificate — one copy
    * shared by [[ddBridges]] (the full graph's DFS) and
    * [[ddBridgesContracted]] (the sparsifier's DFS, whose bridge set
    * equals the full graph's by the co-block theorem): a tree edge
    * (parent(u), u) is a bridge iff low(u) > disc(parent(u)).
    */
  private def bridgesFromCert(cert: DataFrame): DataFrame =
    cert.as("c")
      .join(cert.as("p"), col("c.parent") === col("p.doc_id"))
      .filter(col("c.low") > col("p.disc"))
      .select(least(col("c.doc_id"), col("c.parent")).as("doc_a"),
        greatest(col("c.doc_id"), col("c.parent")).as("doc_b"),
        col("c.comp").as("comp"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Max sparsify-check-repair rounds and the per-vertex fan-out of
    * the seed sparsifier. Both loud-failure budgets, not tunings: on
    * near-clique dedup families one round suffices (see the scaladoc
    * proof sketch), and a graph that keeps failing the block check for
    * 6 rounds is pathological enough to want a human.
    */
  private[graft] val contractedMaxRounds = 6
  private[graft] val contractedFanout = 3

  /** ARTICULATION POINTS VIA A VERIFIED SPARSIFIER (round 16 — the r15
    * verdict's ask #4: the per-component DFS has a loud 8M-directed-
    * edge task budget, and the 400× corpus's largest family (~16M
    * directed edges in one component) trips it; this variant removes
    * the edge VOLUME from the task while keeping the answer exact and
    * certificate-checked).
    *
    * THE THEOREM (elementary — no sparse-certificate literature needs
    * to be trusted): let H ⊆ G span G's vertices. If every edge
    * (u,v) ∈ G∖H has u,v in a COMMON BICONNECTED BLOCK of H, then G
    * and H have the same components, the same articulation points and
    * the same bridges. Proof: components are equal because H spans
    * and dropped edges stay within blocks (hence components). Adding
    * one intra-block edge e=(u,v) to H changes nothing in the
    * block-cut tree: every simple u-v path lies inside their common
    * block B (leaving B means exiting through a cut vertex and
    * re-entering through the SAME cut vertex — not simple), so every
    * new cycle is ⊆ B ∪ {e}; B ∪ {e} is still 2-connected, blocks
    * outside B are untouched, and e itself lies on a cycle so it is
    * no bridge. Cut vertices = vertices in ≥2 blocks and bridges =
    * 2-vertex blocks are therefore unchanged. Induct edge by edge:
    * blocks only ever grow, so each remaining dropped edge's
    * endpoints stay co-blocked. ∎
    *
    * THE ALGORITHM: H₀ keeps each vertex's edges to its
    * [[contractedFanout]] lowest-id neighbors (≤ 3V undirected edges —
    * on a near-clique family every member keeps the clique minima, so
    * any dropped (u,v) has the two disjoint paths u−m₁−v, u−m₂−v and
    * one round suffices; that is exactly the structure MinHash bands
    * produce). Each round: per-component Tarjan on H (the SAME
    * flatMapGroups kernel dd_articulation uses, now emitting the
    * block id `beid` — see [[PalmCert]]), then a DISTRIBUTED check of
    * every dropped G edge with the O(1) co-block test
    * (beid(u)=beid(v) ∨ parent(beid(u))=v ∨ parent(beid(v))=u, NULLs
    * failing closed); failures union into H and the loop repeats,
    * capped loudly at [[contractedMaxRounds]]. A dropped edge whose
    * endpoints land in different H-components fails the test by
    * construction (beids are vertex ids of one's own component), so
    * the repair loop also restores any connectivity H₀ missed.
    *
    * THE ORACLE extends the palm-tree certificate: the eight
    * palm checks run against the dumped H (__AUX__/dd_h_edges),
    * pinning H's DFS and H's verdicts exactly as dd_articulation's
    * oracle pins G's; then pure-SQL extras re-derive beid from the
    * validated intervals (deepest boundary ancestor-or-self — no
    * recursion) and re-check H ⊆ G, G-edges-within-components, and
    * the co-block property of EVERY dropped G edge. When they hold,
    * the theorem lifts H's verdicts to G — so the certificate proves
    * the answer for the FULL graph while no task ever held more than
    * H's edges. Scale: the DFS task sees ≤ ~(3+repairs)·V edges
    * instead of Σdeg², and the dropped-edge check is an ordinary
    * distributed join over G's edge list.
    */
  private[graft] def contractedCert(nodes: DataFrame, pairs: DataFrame,
      maxCompEdges: Long = 8000000L): (DataFrame, DataFrame) = {
    val spark = nodes.sparkSession
    val p = pairs.select(col("doc_a"), col("doc_b")).distinct().localCheckpoint()
    val nbrs = p.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // H₀ via the TopKValues AGGREGATE, not the TopKPerKey plan: this
    // is the one top-k over a GRAPH-scale input (878.8M mirrored rows
    // at 400×, key cardinality = the whole vertex set), and the
    // aggregate path is spill-safe end to end (ObjectHashAggregate's
    // sort-based fallback + external sort), where the custom plan's
    // partial heaps barely reduce a 3-per-key-per-epoch stream and
    // its exchange OOM'd a 96 GB heap at 400× (measured; the other
    // perKey call sites feed bounded candidate lists, where the
    // no-sort heap plan is the right tool). Largest-(−v) = smallest
    // v; doc ids stay well under 2⁵³, so the Double carrier is exact.
    var h = nbrs.groupBy(col("u"))
      .agg(graft.functions.TopKAggFunctions.topkAgg(
        -col("v").cast("double"), col("v"), contractedFanout).as("top"))
      .select(col("u"), explode(col("top")).as("e"))
      .select(least(col("u"), col("e.tie")).as("doc_a"),
        greatest(col("u"), col("e.tie")).as("doc_b"))
      .distinct().localCheckpoint()
    var round = 0
    var cert: DataFrame = null
    var done = false
    while (!done) {
      cert = articulationAssign(nodes, h, maxCompEdges).localCheckpoint()
      val dropped = p.join(h, Seq("doc_a", "doc_b"), "left_anti")
      val ba = cert.select(col("doc_id").as("doc_a"), col("beid").as("beid_a"))
      val bb = cert.select(col("doc_id").as("doc_b"), col("beid").as("beid_b"))
      val pa = cert.select(col("doc_id").as("beid_a"), col("parent").as("par_a"))
      val pb = cert.select(col("doc_id").as("beid_b"), col("parent").as("par_b"))
      val coBlocked =
        coalesce(col("beid_a") === col("beid_b"), lit(false)) ||
        coalesce(col("par_a") === col("doc_b"), lit(false)) ||
        coalesce(col("par_b") === col("doc_a"), lit(false))
      val failures = dropped
        .join(ba, Seq("doc_a")).join(bb, Seq("doc_b"))
        .join(pa, Seq("beid_a"), "left").join(pb, Seq("beid_b"), "left")
        .filter(!coBlocked)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      if (failures.isEmpty) done = true
      else {
        round += 1
        if (round >= contractedMaxRounds)
          sys.error(s"contracted articulation did not converge in " +
            s"$contractedMaxRounds sparsify-check-repair rounds — " +
            "the pair graph resists block-preserving sparsification")
        h = h.unionAll(failures).distinct().localCheckpoint()
      }
    }
    (cert, h)
  }

  /** Session-scoped memo of [[contractedCert]] per corpus dir: four
    * registry surfaces need the identical (cert, H) pair —
    * dd_articulation_contracted, dd_bridges_contracted, and the
    * dd_cdfs / dd_h_edges aux dumps — and the loop is deterministic,
    * so one Verify run used to execute the suite's most expensive
    * graph job (multi-round sparsify-check-repair over 878.8M
    * mirrored rows at 400×) four times byte-identically. The memoed
    * frames are localCheckpointed, so reuse reads cached blocks; the
    * retained footprint is ONE cert+H copy instead of four. Per-op
    * bench times of later family members therefore ride the memo —
    * the corpusArtifactStore amortization pattern, same caveat.
    *
    * Lifetime (round 17): the outer map is WEAK-keyed on the session,
    * so a stopped-and-dereferenced SparkSession releases its memo (and
    * the pinned checkpoint blocks) instead of living for the process —
    * a lost-executor-invalidated checkpoint therefore dies with its
    * session rather than poisoning later reads. Entries key on the
    * corpus FINGERPRINT (metadata-only, the corpusArtifactStore
    * probe), so a corpus dir regenerated WITHIN a session recomputes
    * instead of returning the stale pair.
    */
  private val contractedMemo = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[(String, String), (DataFrame, DataFrame)]]()
  private def contractedFor(s: SparkSession, d: String): (DataFrame, DataFrame) =
    contractedMemo.synchronized {
      var per = contractedMemo.get(s)
      if (per == null) {
        per = scala.collection.mutable.HashMap.empty
        contractedMemo.put(s, per)
      }
      val fp = corpusFingerprint(s, d)
      // drop this dir's stale pair if the corpus was regenerated
      per.keys.filter(k => k._1 == d && k._2 != fp).toSeq.foreach(per.remove)
      per.getOrElseUpdate((d, fp), contractedCert(
        Tables.documents(s, d).select(col("doc_id")),
        minhashPairs(s, d).select(col("doc_a"), col("doc_b"))))
    }

  val ddArticulationContracted: Q = (s, d) =>
    contractedFor(s, d)._1
      .drop("beid") // the oracle re-derives block ids from the intervals
      .orderBy(col("doc_id"))

  /** The sparsifier H the contracted DFS actually ran on — dumped for
    * the oracle (the loop is deterministic, so Verify's re-run
    * reproduces it byte-for-byte, the dd_dfs convention).
    */
  private[graft] val ddHEdges: Q = (s, d) =>
    contractedFor(s, d)._2
      .orderBy(col("doc_a"), col("doc_b"))

  /** BRIDGE EDGES via the verified sparsifier — the edge half of
    * [[ddArticulationContracted]]: the co-block theorem
    * ([[contractedCert]]'s scaladoc) gives G and H the same bridges,
    * so the sparsifier's palm certificate answers the spurious-link
    * audit too, and no task ever holds more than H's ~(3+repairs)·V
    * edges — the same budget-independence the contracted variant
    * bought the articulation side (without this twin, a 400×-scale
    * bridge audit still trips the full DFS's 8M-edge task budget).
    * The oracle validates the dumped contracted certificate
    * (__AUX__/dd_cdfs — deterministic, so Verify's re-run reproduces
    * it byte-for-byte, the dd_dfs convention) against the dumped H
    * with the eight palm checks, re-checks the four co-block lift
    * conditions (SQL shared one-copy with the articulation twin),
    * then derives the bridge list from the validated certificate.
    */
  val ddBridgesContracted: Q = (s, d) =>
    bridgesFromCert(contractedFor(s, d)._1)

  val ddGraphTriangles: Q = (s, d) => {
    val edges = minhashPairs(s, d)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val deg = edges.select(col("doc_a").as("n"))
      .unionAll(edges.select(col("doc_b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val wedges = deg.agg(
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .join(edges.as("e3"),
        col("e1.doc_a") === col("e3.doc_a") && col("e2.doc_b") === col("e3.doc_b"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("CASE WHEN n_wedges > 0 THEN n_triangles * 3 * 1000000 div n_wedges ELSE 0 END")
          .as("clustering_ppm"))
  }

  /** Estimator-quality audit of the MinHash pair graph — dd_lsh_stats
    * prices the band join; this op measures whether the 32-perm
    * estimate the join emits can be TRUSTED: every emitted pair's
    * est_jaccard is compared against the exact shingle-set Jaccard
    * (array intersect/union over the same shingles the signatures
    * hashed), bucketed by estimate decile, with the absolute-error
    * mass and the false-positive count (estimated ≥ 0.5 but truly
    * below) per bucket. e4-integer errors (the q4 grid both values
    * already live on), so the audit is engine-exact. Cost: the pair
    * graph (output-bounded) joins the shingle table twice by doc_id —
    * the exact verify only ever runs on emitted candidates, never
    * all pairs. The "measure, don't guess" rule applied to dedup
    * itself: at 100 TB you re-run this on a sample before trusting a
    * threshold.
    */
  val ddPairQuality: Q = (s, d) => pairQualityAudit(s, d, sampleMod = 0)

  /** Deterministic 1-in-`sampleMod` hash sample of the audit's pair
    * stream (round 11 — the runnable form of the documented 100 TB
    * design: "the audit runs on a sampled pair set"). The predicate is
    * content-addressed — the repo's shared Knuth multiplicative hash
    * over the combined pair key — so the SAME pairs are sampled in any
    * execution order, on re-runs, and in the DuckDB oracle (pure
    * BIGINT arithmetic, engine-portable where xxhash64 is Spark-only).
    * Crucially it filters the pair stream BEFORE the two shingle joins
    * and the exact intersect/union verify, so the expensive stage's
    * cost is pairFraction-bounded by construction, not by luck.
    *
    * Round 14: this was md5-per-pair (conv(substr(md5(concat(...)))));
    * once the native IntersectCount kernel + the shingle store cut the
    * FULL audit to 3.8 s warm@100×, the sampler's md5 measured 18.1 s
    * on the same graph — the predicate out-costed the verify stage it
    * gates by ~4×, inverting the operator's purpose. The integer hash
    * (the tx_sample_stratified / q53 family) restores sampled < full.
    * The selection test uses the product's bits 0..19 via a range
    * compare (< 2^20/m), not `% m` — 2654435761 ≡ 1 (mod 8), so a
    * low-bit modulus would degenerate to the unscrambled key.
    */
  private def pairSamplePredicate(sampleMod: Int) = expr(
    s"""((((doc_a % 1000003) * 4099 + doc_b % 1000003) % 1000003)
       |  * 2654435761) % 1048576 < ${1048576 / sampleMod}""".stripMargin)

  /** The estimator-quality audit kernel — `sampleMod = 0` audits every
    * emitted pair (the oracle anchor [[ddPairQuality]]); `sampleMod =
    * m > 0` audits the deterministic 1/m hash sample
    * ([[ddPairQualitySampled]], m = 8). Same aggregates either way.
    */
  private def pairQualityAudit(s: SparkSession, d: String, sampleMod: Int): DataFrame = {
    // Pairs come from the band store (no signature recompute at all —
    // round 13 superseded the round-9 "share one shingle persist"
    // compromise); the shingle table is materialized ONLY for the
    // exact intersect/union verify, which genuinely needs raw shingles.
    val sh = shingled(s, d).select(col("doc_id"), col("sh_hashes"))
    val all = minhashPairs(s, d)
    val pairs =
      if (sampleMod > 0) all.filter(pairSamplePredicate(sampleMod)) else all
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh_hashes").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_hashes").as("sh_b")), Seq("doc_b"))
      // |∩| once via the allocation-free native kernel; |∪| derives as
      // |a| + |b| − |∩| (arrays are construction-distinct) — bit-equal
      // to the array_intersect/array_union form, kernel-pinned in spec
      .withColumn("n_shared_k",
        intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("true_j", q4(col("n_shared_k").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_shared_k"))
          .cast("double")))
      .withColumn("est_e4", expr("CAST(floor(est_jaccard * 10000 + 0.5) AS BIGINT)"))
      .withColumn("true_e4", expr("CAST(floor(true_j * 10000 + 0.5) AS BIGINT)"))
      .groupBy(expr("CAST(floor(est_jaccard * 10) AS BIGINT)").as("est_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("est_e4") - col("true_e4"))).as("abs_err_e4"),
        sum(when(col("true_j") < 0.5, 1L).otherwise(0L)).as("false_positives"),
        min(col("true_e4")).as("min_true_e4"))
      .orderBy(col("est_bucket"))
  }

  /** §2.C round 11 — the SAMPLED estimator-quality audit, closing the
    * round-10 gap ("sampled mode is design prose"): identical
    * aggregates to [[ddPairQuality]] over the deterministic 1-in-8
    * content-addressed hash sample of the emitted pair stream (the
    * shared integer hash since round 14 — see [[pairSamplePredicate]]
    * for the measured md5 inversion it fixes). At 100 TB nobody
    * re-verifies every pair to re-trust a threshold; a
    * content-addressed sample is the operational form, and because
    * the predicate filters BEFORE the shingle joins, the verify cost
    * scales with the sample, not the pair graph (25×/100× points in
    * SURVEY §5). The full-verify twin stays registered as the oracle
    * anchor; this op's own oracle composes the dd_minhash_lsh pair
    * CTE + the SAME portable integer predicate + the shingles dump,
    * so the sample membership itself is cross-engine-checked, not
    * just the aggregate.
    */
  val ddPairQualitySampled: Q = (s, d) => pairQualityAudit(s, d, sampleMod = 8)

  /** §2.C round 11 — cluster-SHAPE observability (the third dedup
    * dashboard next to dd_lsh_stats' bucket geometry and
    * dd_pair_quality's estimator audit): the full-corpus near-dup
    * cluster-size distribution — per power-of-two size bucket, how
    * many clusters, how many documents they hold, and the largest
    * cluster. The numbers a curation run reads before acting: a fat
    * '17+' bucket means boilerplate/template families (dedup saves
    * real volume, check dd_graph_triangles for hub-vs-clique), an
    * all-'01' corpus means the LSH threshold is doing nothing.
    * Singletons count (left join + coalesce to own id) so n_docs sums
    * to the corpus and the dup ratio reads directly off the output.
    * Buckets are literal CASE cuts — engine-exact, no float log2.
    * Cost: the pair graph + CC the dedup pass runs anyway, then a
    * label-keyed size aggregate (bounded by cluster count) and a
    * ≤6-row rollup.
    */
  val ddClusterStats: Q = (s, d) => {
    val labels = connectedComponents(
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .toDF("doc_id", "label")
    val all = Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
    all.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .withColumn("size_bucket", expr(
        """CASE WHEN sz = 1 THEN '01' WHEN sz = 2 THEN '02'
          | WHEN sz <= 4 THEN '03-04' WHEN sz <= 8 THEN '05-08'
          | WHEN sz <= 16 THEN '09-16' ELSE '17+' END""".stripMargin))
      .groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_size"))
      .orderBy(col("size_bucket"))
  }

  /** LSH-geometry observability as a first-class operator — the
    * Profile --lsh-skew diagnostic promoted into the registry, because
    * at 100 TB the band-bucket histogram IS the operational dashboard
    * for the whole dedup family: candidate generation is quadratic
    * within buckets (cost = Σ sz·(sz−1)/2, reported here as
    * cand_pairs), so "max_bucket grew" is the earliest possible
    * warning that the 8×4 band geometry needs more planes for the
    * corpus size (SURVEY §5's bucket-grows-with-cluster-not-corpus
    * property, now continuously measurable in-pipeline). Per band:
    * bucket count, docs, max/singleton occupancy, exact collision-pair
    * work. One (band, bucket) grouping shuffle over the band index —
    * the same volume the candidate join itself shuffles — then 8 tiny
    * rows; all counts integer-exact.
    */
  val ddLshStats: Q = (s, d) =>
    bandedForDiagnostics(s, d)
      .select(expr("CAST(split(band_key, ',')[0] AS BIGINT)").as("band"),
        col("band_key"))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_bucket"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singleton_buckets"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      .orderBy(col("band"))

  /** Full-recompute pair graph over an arbitrary documents relation —
    * the ground truth the incremental path's per-batch deltas must sum
    * to (spec-asserted in EventStreamsSpec).
    */
  private[graft] def minhashPairsOf(docs: DataFrame): DataFrame = {
    val banded = bandedOf(minhashSigTableOf(docs))
    pairsFromCollisions(
      banded.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id")))
  }

  /** INCREMENTAL dedup-index maintenance — the production LLM-data
    * shape: documents arrive in batches, and each batch's MinHash
    * signatures band against the STORED band index instead of
    * recomputing the full corpus — emitting exactly the pairs that
    * involve a new document. Candidate volume per batch is
    * batch×bands probes into a band-key hash join (store bucketed on
    * band_key at scale → the stored side never reshuffles; see the
    * EventStreams.dedupIndexMaintain streaming twin, where the store
    * is a bucketed managed table maintained across micro-batches).
    * Here the "new batch" is the deterministic doc_id % 4 == 0 slice
    * so the DuckDB oracle can re-derive it; emitted pairs are exactly
    * the full recompute's pairs touching the slice (spec-asserted),
    * i.e. the delta an index maintainer appends.
    */
  val ddIncremental: Q = (s, d) => {
    val banded = bandedStore(s, d)
    val newSide = banded.filter(pmod(col("doc_id"), lit(4)) === 0)
    // probe: new docs vs the whole index (old + this batch); both-new
    // pairs collide twice and collapse in the canonical groupBy
    pairsFromCollisions(
      newSide.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash over token hashes (native codegen'd SimHash64
    * expression — one pass over tokens instead of an interpreted
    * O(64×tokens) aggregate/zip_with chain); signatures from the
    * PERSISTED signature store, pairs from the two-leg emission below,
    * verified by bit_count(xor) ≤ 4.
    *
    * RECALL CONTRACT (round 14 — fixes the r13 asymmetry where 4×16-bit
    * banding was pigeonhole-exact only to hamming ≤ 3 while the verify
    * admitted ≤ 4, leaving hamming-4 pairs spread one-bit-per-chunk
    * silently unreachable): identical signatures are an equality join
    * (exact by definition), and cross-value candidates come from 15
    * C(6,2) two-chunk pair bands over the 6-chunk 11/11/11/11/10/10
    * layout — hamming ≤ 4 dirties at most 4 of the 6 chunks, leaving
    * ≥ 2 clean chunks = ≥ 1 clean pair band (pigeonhole), so banding
    * is provably exact for the emitted hamming ≤ 4 threshold. The
    * bound is TIGHT: a hamming-5 pair can dirty 5 chunks and leave no
    * clean pair band, so raising the verify threshold past 4 REQUIRES
    * re-deriving the band scheme (single chunks are exact to
    * bands−1; pair bands over c chunks to c−2). The operator's output
    * IS "all pairs at hamming ≤ 4", not "pairs the banding happened
    * to catch".
    */
  /** The persisted SimHash signature store — the bandedStore pattern
    * ([[corpusArtifactStore]]): one (doc_id, simhash) row per
    * document, built once per corpus, fingerprint-guarded,
    * re-registered footer-read-cheap by fresh sessions. Closes the
    * last session-local signature recompute in the dedup family (the
    * r13 `weak`): the old `persist()` re-paid the tokenize+SimHash
    * pass in every fresh JVM.
    */
  private[graft] def simhashStoreName(d: String): String = storeName("simsig", d)
  private[graft] def simhashSigTableOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("simhash", simhash64(split(lower(trim(col("text"))), " ")))
      .select(col("doc_id"), col("simhash"))
  private[graft] def simhashStore(s: SparkSession, d: String): DataFrame =
    corpusArtifactStore(s, d, simhashStoreName(d), "doc_id")(
      simhashSigTableOf(Tables.documents(s, d)))

  /** SimHash signature table — split-oracle boundary, same as
    * [[minhashSigTable]]: the dump IS the store, so the dumped
    * signatures are literally the ones the operator derived its pairs
    * from — the DuckDB oracle audits the store, then re-derives the
    * full output through an INDEPENDENT exact banding (5×13/12-bit
    * single chunks) + hamming verify over the dump.
    */
  private def simhashSigTable(s: SparkSession, d: String): DataFrame =
    simhashStore(s, d)

  /** Pair emission in two disjoint legs, split on VALUE identity —
    * the round-14 redesign that removed the quadratic-in-one-task
    * skew of a chunk-key self-join over doc rows. On a near-dup-heavy
    * corpus most near-dup docs carry IDENTICAL simhash words (a
    * majority vote over near-identical token sets), so doc-level
    * chunk buckets contain whole cliques and a chunk self-join pays
    * bands × C(clique, 2) probe work serialized inside single tasks
    * (measured 21 s warm at 25× for 4×16 banding; 39 s for 8×8 —
    * banding width only scaled the constant). Instead:
    *
    * LEG 1 (identical values, hamming = 0, the dominant output):
    * MAP-SIDE C(n,2) expansion over each signature group's sorted ids
    * array — the q45_basket_pairs move (posexplode + explode(slice),
    * chained codegen'd generators, never a nested-transform HOF), and
    * NO JOIN AT ALL: the (simhash → ids) groups table is already
    * materialized for leg 2's fan-out, so identical-value pairs cost
    * zero additional shuffles. Every identical pair is in the OUTPUT
    * anyway, so C(clique, 2) work is inherent to emission; the only
    * skew exposure is one giant group expanding in one task, which
    * the family's documented exact-dedup-first pipeline order bounds
    * (dd_exact collapses identical TEXTS before near-dup analysis, so
    * identical-signature groups are near-dup families, not byte-dup
    * floods). Two join designs were MEASURED before settling here: a
    * one-side-replicated grid equality join (B-way clique spread,
    * 5.0-7.2s warm@100×) and a triangular-blocked (lo, hi)-cell join
    * (uniform n²/B² spread, 9.1s — the doubled rows×(B+1) shuffle
    * out-costs the extra spread on bounded cliques). The map-side
    * expansion measures at parity with the grid (5.8s warm@100×,
    * within machine noise) and is chosen for the structurally
    * simplest plan: zero extra exchanges, no row replication, and the
    * skew story reduces to the one documented pipeline-order
    * contract instead of a tuning parameter B.
    *
    * LEG 2 (different values, hamming 1..4): a PAIR-BAND join over
    * DISTINCT simhash VALUES only — a table smaller than the corpus
    * by the clique factor, with no identical-value mega-bucket. Bands
    * are the 15 C(6,2) pairs of 11/10-bit chunks (see
    * [[graft.functions.FirstMatchingChunk]]), with FIRST-BAND-WINS
    * emission via that native kernel. Surviving value pairs fan out
    * to doc pairs through two group joins + two explodes
    * (output-bound by construction). Band geometry is MEASURED, not
    * assumed, on the 25× corpus (69k distinct signatures, clustered):
    * 8×8-bit single chunks → ~272 values per bucket, ~75M doc-level
    * probes, 110 s end-to-end; 5×13-bit single chunks (the exactness
    * minimum for single-chunk bands at τ=4) → 137M value-pair probes,
    * 12 s; 15 two-chunk bands (21-22 composite bits) → 35M probes —
    * requiring TWO clean chunks is what prices candidates on a
    * clustered value space.
    *
    * RECALL: leg 1 is exact by definition; leg 2 is pigeonhole-exact
    * for hamming ≤ 4 — at most 4 of the 6 chunks are dirty, so at
    * least one pair band is clean (the mm_phash_pairs τ ≤ bands−1
    * argument lifted to pair bands) — exactly the emitted threshold,
    * closing the r13 asymmetry where 4×16 banding was exact only to
    * ≤ 3 while verify admitted ≤ 4. Output == ALL pairs at hamming
    * ≤ 4, spec-pinned against brute force in DedupRecallSpec; the
    * DuckDB oracle re-derives the same output through a DIFFERENT
    * exact banding (5×13 single chunks) — equivalence of the two
    * bandings is exactly the recall contract.
    */
  /** Leg 1: identical-value pairs via map-side C(n,2) expansion over
    * each group's sorted ids (see [[ddSimhash]] scaladoc). `groups`
    * must be the materialized (simhash, ids) table — the same frame
    * leg 2 fans out through, so this leg adds zero shuffles. Sorted
    * ids make doc_a < doc_b by construction.
    */
  private[graft] def simhashEqPairs(groups: DataFrame): DataFrame =
    groups
      .filter(size(col("ids")) > 1)
      .select(array_sort(col("ids")).as("s"))
      .select(col("s"), posexplode(col("s")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("s"), col("i") + 2, size(col("s")))).as("doc_b"),
        lit(0L).as("hamming"))

  /** Leg 2: cross-value pairs — distinct-value chunk-band join +
    * group fan-out (see [[ddSimhash]] scaladoc). `groups` must be the
    * materialized (simhash, ids) table.
    */
  /** The pair-band join over distinct values alone — the candidate
    * stage of leg 2. Band keys
    * are the 15 C(6,2) chunk pairs of
    * [[graft.functions.FirstMatchingChunk]] (21-22 composite bits per
    * key), generated by one CASE over the exploded band index.
    */
  private[graft] def simhashValuePairs(groups: DataFrame): DataFrame = {
    import graft.functions.HashFunctions.firstMatchingChunk
    import graft.functions.{FirstMatchingChunk => FMC}
    // band_key packed into ONE long — (k << 22) | (chunk_i << 11) |
    // chunk_j; chunks are ≤ 11 bits and k < 15, so the packing is
    // collision-free — because the join hashes and compares this key
    // once per probe and long keys beat strings there
    def chunkSql(c: Int): String = {
      val (st, w) = FMC.chunks(c)
      s"(shiftright(simhash, $st) & ${(1L << w) - 1L})"
    }
    val keyCases = FMC.pairs.zipWithIndex.map { case ((i, j), k) =>
      s"WHEN $k THEN ${k.toLong << 22} + ${chunkSql(i)} * 2048 + ${chunkSql(j)}"
    }.mkString(" ")
    val vchunk = groups.select(col("simhash"))
      .withColumn("k", explode(sequence(lit(0), lit(14))))
      .withColumn("band_key", expr(s"CASE k $keyCases END"))
    vchunk.as("a").join(vchunk.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.simhash") < col("b.simhash") &&
          firstMatchingChunk(col("a.simhash"), col("b.simhash")) === col("a.k"))
      .select(col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= 4)
  }

  private[graft] def simhashCrossPairs(groups: DataFrame): DataFrame = {
    simhashValuePairs(groups)
      .join(groups.select(col("simhash").as("sim_a"), col("ids").as("ids_a")), "sim_a")
      .join(groups.select(col("simhash").as("sim_b"), col("ids").as("ids_b")), "sim_b")
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("hamming"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
  }

  /** distinct-value groups: materialized once (localCheckpoint — read
    * by the chunk join's two sides and both fan-out joins; no session
    * cache left behind)
    */
  private[graft] def simhashGroups(sigs: DataFrame): DataFrame =
    // NULL signatures (a NULL text row) are dropped here: the old
    // hamming verify filtered them (bit_count(NULL ^ NULL) = NULL),
    // and the oracle's chunk joins never match on NULL — without this
    // filter the eq leg would group NULL-signature docs together and
    // emit them as hamming-0 pairs
    sigs.filter(col("simhash").isNotNull)
      .groupBy(col("simhash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .localCheckpoint()

  val ddSimhash: Q = (s, d) => {
    val groups = simhashGroups(simhashStore(s, d))
    simhashEqPairs(groups)
      .unionAll(simhashCrossPairs(groups))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact n-gram Jaccard on candidate pairs blocked by a 1-perm
    * minhash (equal min shingle hash ⇒ candidate; catches j≈0.99 pairs
    * w.p. ≈ j), thresholded at 0.8.
    */
  val ddNgramJaccard: Q = (s, d) => {
    // Two independent 1-perm minhashes as the block key: a random pair
    // at jaccard j collides with prob j² (j=0.1 → 1%), while j≈0.99
    // near-dups still collide w.p. ≈0.98 — buckets stay tiny at any
    // corpus size. A size-ratio guard prunes the remaining candidates
    // before the (expensive) exact array intersect/union runs.
    val sh = shingled(s, d)
      .withColumn("blk1", expr("array_min(sh_hashes)"))
      .withColumn("blk2", expr(
        "array_min(transform(sh_hashes, h -> pmod(pmod(h, 2147483647) * 1103 + 12345, 2147483647)))"))
      .withColumn("n_sh", size(col("sh_hashes")))
      .select(col("doc_id"), col("blk1"), col("blk2"), col("n_sh"), col("sh_hashes"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.blk1") === col("b.blk1") && col("a.blk2") === col("b.blk2") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n_sh") * 5 >= col("a.n_sh") * 4 && col("a.n_sh") * 5 >= col("b.n_sh") * 4)
      .withColumn("ic", intersectCount(col("a.sh_hashes"), col("b.sh_hashes")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        q4(col("ic").cast("double") /
          (col("a.n_sh") + col("b.n_sh") - col("ic")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Embedding near-dup via the hyperplane buckets of Similarity:
    * within-bucket exact cosine ≥ 0.3 (this corpus has no planted
    * embedding dups; 0.3 surfaces the genuinely-closest pairs).
    * Within-bucket comparison is quadratic in bucket size, so the
    * plane count is WIRED to corpus size (Similarity.planesFor: 2^p
    * buckets, expected occupancy ≤ ~32); plane sets nest, so growth
    * only splits buckets. The oracle mirrors the same thresholds via
    * a CASE over count(*).
    */
  val ddEmbedCosine: Q = (s, d) => {
    val n = Tables.embeddings(s, d).count()
    val emb = Tables.embeddings(s, d)
      .withColumn("bucket",
        Similarity.bucketOf(col("embedding"), Similarity.planesFor(n)))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    emb.as("a")
      .join(emb.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosineSim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= 0.3)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        q4(col("cos")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(50)
  }

  /** The cluster-count lever for [[ddSemantic]], wired (the
    * dd_embed_cosine planesFor move applied to SemDeDup): k = ⌈n/512⌉
    * with a floor of 16 keeps expected cluster occupancy ≤ ~512 as the
    * corpus grows — the within-cluster compare is quadratic in
    * occupancy, so fixed k would quietly reintroduce the corpus² it
    * exists to avoid. Centroid prefixes nest, so growth only splits
    * clusters. Exact integer arithmetic; the DuckDB oracle computes
    * the same k from the same count.
    */
  private[graft] def semanticK(n: Long): Int =
    math.max(16L, (n + 511) / 512).toInt

  /** SEMANTIC dedup — the SemDeDup shape (cluster the embedding space,
    * then drop near-identical neighbors within each cluster; Abbas et
    * al. 2023): list assignment via the SHARED deterministic
    * THREE-LEVEL quantizer ([[Similarity.threeLevelParts]] with
    * k = [[semanticK]] — the r15 verdict's shared-kernel rule: one
    * assignment copy across dd_semantic and the adaptive ANN family,
    * so they cannot diverge; every level is a corpus prefix, so DuckDB
    * rebuilds the chain from the parquet and the whole operator
    * carries a full oracle). A vector is then DROPPED iff a lower-id
    * cluster-mate sits at cosine ≥ τ — the greedy keep-first contract:
    * well-defined without transitive closure, and expressible as one
    * EXISTS self-join in SQL. Scale shape: with k ∝ n ([[semanticK]]
    * holds occupancy flat so the within-cluster pair volume stays
    * Σ cluster² ≈ 512·n), a flat n·k assignment is the quadratic that
    * breaks at 100 TB, the round-15 two-level form paid 2n√k =
    * O(n^1.5) cosines, and three levels pay ~3n·k^(1/3); every stage
    * is a broadcast join plus a map-side-combined argmax whose
    * exchange carries one row per vector. Per-level greedy (IVF
    * semantics, not the global argmax) — the oracle mirrors the same
    * windows. τ = 0.3 aligns with dd_embed_cosine's near-dup
    * threshold on this corpus.
    */
  val ddSemantic: Q = (s, d) => {
    val tau = 0.3
    val emb = Tables.embeddings(s, d)
    val k = semanticK(emb.count())
    val (_, _, fineAssign) = Similarity.threeLevelParts(s, emb, k)
    // Persist barrier: the plan reads `assigned` three times (both
    // self-join sides + the final flag join); without the barrier
    // each read re-pays the full assignment. At cluster scale this
    // is the stored assignment table an index build materializes
    // anyway.
    val assigned = fineAssign(emb, "vec_id", "embedding").persist()
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("b.vec_id") < col("a.vec_id") &&
          cosineSim(col("a.embedding"), col("b.embedding")) >= tau,
        "left_semi")
      .select(col("vec_id"))
    assigned
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("hit"), lit(false)).as("is_dropped"))
      .orderBy(col("vec_id"))
  }

  /** Near-dup CLUSTERING: connected components over the MinHash-LSH
    * pair graph — pairwise matches become dedup groups (keep
    * cluster_id = min doc, drop the rest). Routing lives in
    * [[connectedComponents]]: driver union-find below the edge
    * threshold, alternating large-star/small-star above it (measured
    * faster than pointer jumping at 25× and diameter-independent).
    */
  val ddCluster: Q = (s, d) =>
    connectedComponents(minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size").cast("long"))
      .orderBy(col("doc_id"))

  /** Graph AUTHORITY scoring over the near-dup pair graph — the
    * PageRank shape a web-corpus pipeline uses as a document-quality
    * signal (link-graph importance feeding quality filters). Five
    * fixed power iterations, damping 0.85, over the mirrored
    * undirected pair graph; isolated documents are dangling nodes
    * whose mass redistributes uniformly each round.
    *
    * ALL-INTEGER arithmetic (scores are e9-scaled longs; every
    * division is integer division; per-neighbor contributions are
    * integers BEFORE the inflow sum, so the aggregate is order-free) —
    * float PageRank sums neighbor contributions in nondeterministic
    * order and can never hash-match across engines. Per iteration:
    * one shuffle (inflow groupBy) + one doc_id join; the edge list is
    * persisted once and each round localCheckpoints, the same
    * lineage-truncation contract as [[connectedComponents]] (without
    * it round N replays rounds 1..N-1 and the loop goes quadratic).
    * The dangling mass and N are driver SCALARS per round, like the
    * CC convergence read — never a collected table.
    */
  val ddGraphRank: Q = (s, d) =>
    // no checkpoint needed: the kernel's weighted collapse is the
    // single consumer of the LSH pair join and persists its own
    // collapsed frame, so the expensive join runs exactly once
    graphRankScores(
      Tables.documents(s, d).select(col("doc_id")),
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** The power-iteration kernel behind [[ddGraphRank]], over a caller-
    * supplied node set and MATERIALIZED pair graph (localCheckpoint —
    * the same contract as [[connectedComponentsStar]]), so dd_pipeline
    * can run rank over the SAME pair graph its clustering stages read
    * instead of regenerating the LSH join. Returns
    * (doc_id, deg, score_e9).
    */
  private[graft] def graphRankScores(nodeIds: DataFrame,
      pairs: DataFrame, iters: Int = 5,
      driverPathMaxEdges: Long = 1000000L): DataFrame = {
    // COLLAPSE the (multi)graph first: duplicate pairs become integer
    // edge weights. Every duplicate of (a,b) contributes the IDENTICAL
    // integer (score_a div deg_a) per round, so w·(score div deg) is
    // bit-identical to summing the duplicates — and deg likewise sums
    // weights. This is what lets a dense multigraph (tx_textrank's
    // word graph: huge multiplicity over a small vocabulary) route by
    // DISTINCT pair count: 50M co-occurrences over a 10³-word vocab
    // collapse to ≤10⁶ weighted edges and take the driver recurrence,
    // where the uncollapsed loop paid five 100M-row skewed shuffles.
    // The collapse groupBy partial-aggregates map-side, so the one
    // shuffle moves distinct pairs, not occurrences. Graphs that are
    // already distinct (the LSH near-dup pair graph) collapse to
    // w = 1 everywhere at the cost the old edge-count pass paid.
    // localCheckpoint, not persist (round 18): wpairs feeds several
    // SEPARATE driver actions (edge count, the driver route's two
    // collects, or five per-iteration inflow jobs) — as a persist each
    // action re-planned an InMemoryTableScan + AQE pass; as an eager
    // checkpoint they all read a bare ExistingRDD. Measured: warm
    // dd_graph_rank 1.45 → 1.04 s at sf0.1, 11.9 → 7.8 s at 25×.
    // Blocks are edge-bounded and ContextCleaner-freed.
    val wpairs = pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("w")).localCheckpoint()
    val edges = wpairs.union(wpairs.select(
      col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("w")))
    val nEdges = 2L * wpairs.count()
    // Per-node degree is edge-bounded (endpoints only); the node
    // universe is O(corpus) even when the pair graph is tiny, so it is
    // NEVER collected on either route.
    val deg = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(sum(col("w")).as("deg"))
    // Size routing, same budget and rationale as connectedComponents:
    // below the edge threshold the distributed loop pays a fixed
    // multi-job overhead per iteration (5 inflow shuffles + 5
    // checkpoints), where the ALL-INTEGER recurrence replays exactly on
    // the driver — truncating Long division and order-independent
    // integer sums make the two paths bit-identical (spec-asserted),
    // which float scores could never guarantee. Only edge-bounded state
    // lands on the driver (un-mirrored pairs + known-endpoint degrees,
    // primitive LongMaps); isolated nodes ride the scalar isoScore
    // recurrence and the result is the LAZY nodeIds ⟕ broadcast(scored
    // endpoints) — three small jobs total, no O(n) materialization.
    // Edges touching ids absent from nodeIds are skipped, matching the
    // distributed route's inner-join drops. Real 100 TB pair graphs
    // exceed the budget and route to the iterative path.
    if (nEdges <= driverPathMaxEdges) {
      val spark = nodeIds.sparkSession
      import spark.implicits._
      val es = wpairs.select(col("doc_a"), col("doc_b"), col("w"))
        .as[(Long, Long, Long)].collect()
      val endpoints = deg
        .join(nodeIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("deg")).as[(Long, Long)].collect()
      val n = nodeIds.count()
      val teleport = 150000000L / n
      val degM = scala.collection.mutable.LongMap(endpoints: _*)
      val nIso = n - endpoints.length.toLong
      var isoScore = 1000000000L / n
      var score = scala.collection.mutable.LongMap(
        endpoints.map { case (id, _) => id -> 1000000000L / n }: _*)
      (1 to iters).foreach { _ =>
        val perNodeDangling = (nIso * isoScore) / n
        val inflow = new scala.collection.mutable.LongMap[Long]()
        def push(a: Long, b: Long, w: Long): Unit = score.get(a).foreach { sa =>
          if (score.contains(b))
            inflow.update(b, inflow.getOrElse(b, 0L) + w * (sa / degM(a)))
        }
        es.foreach { case (a, b, w) => push(a, b, w); push(b, a, w) }
        score = scala.collection.mutable.LongMap(endpoints.map { case (id, _) =>
          id -> (teleport + (85L * (inflow.getOrElse(id, 0L) + perNodeDangling)) / 100L)
        }: _*)
        isoScore = teleport + (85L * perNodeDangling) / 100L
      }
      val scored = endpoints.toSeq.map { case (id, _) =>
        (id, degM(id), score(id)) }.toDF("doc_id", "ep_deg", "ep_score")
      return nodeIds.select(col("doc_id"))
        .join(broadcast(scored), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("ep_deg"), lit(0L)).as("deg"),
          coalesce(col("ep_score"), lit(isoScore)).as("score_e9"))
    }
    // localCheckpoint, not persist (round 18, same finding as wpairs
    // above): nodes feeds n/nIso counts, the initial-score checkpoint
    // and one join per iteration — eight separate actions, each of
    // which re-planned an InMemoryTableScan + AQE pass as a persist.
    // Node-bounded blocks, ContextCleaner-freed.
    val nodes = nodeIds.select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .withColumn("deg", coalesce(col("deg"), lit(0L)))
      .localCheckpoint()
    val n = nodes.count()
    val teleport = 150000000L / n
    // In an undirected pair graph every non-isolated node has deg ≥ 1,
    // so the dangling set IS the isolated set — and isolated nodes all
    // carry the identical score each round (teleport + dangling share,
    // inflow 0). The dangling mass is therefore nIso·isoScore, a pure
    // driver recurrence: no per-round aggregation job, just the
    // inflow round itself. The oracle computes the same mass by
    // summing s_{k-1} WHERE deg = 0 — equal because uniform.
    val nIso = nodes.filter(col("deg") === 0).count()
    var isoScore = 1000000000L / n
    var scores = nodes
      .withColumn("score_e9", lit(1000000000L / n)).localCheckpoint()
    // The contrib side broadcasts (node-bounded, well under the 64MB
    // threshold), so the union mirror streams straight off the wpairs
    // cache and the ONLY per-iteration exchange is the map-side
    // partially-aggregated inflow. Pre-partitioning the mirrored edges
    // by destination to elide that exchange measured SLOWER at every
    // scale (1×/25×/100× A/B in SURVEY §5's negative-result note) —
    // the up-front 2n-edge shuffle + second cache cost more than five
    // partial-agg exchanges save. Don't retry it.
    (1 to iters).foreach { _ =>
      val perNodeDangling = (nIso * isoScore) / n
      val inflow = scores.filter(col("deg") > 0)
        .select(col("doc_id").as("doc_a"), expr("score_e9 div deg").as("contrib"))
        .join(edges, "doc_a")
        .groupBy(col("doc_b").as("doc_id"))
        .agg(sum(col("w") * col("contrib")).as("inflow"))
      scores = nodes.join(inflow, Seq("doc_id"), "left")
        .withColumn("score_e9",
          lit(teleport) +
            expr(s"(85 * (coalesce(inflow, 0L) + $perNodeDangling)) div 100"))
        .select(col("doc_id"), col("deg"), col("score_e9"))
        .localCheckpoint()
      isoScore = teleport + (85L * perNodeDangling) / 100
    }
    scores.select(col("doc_id"), col("deg"), col("score_e9"))
  }

  /** Connected components over an undirected pair list (`doc_a`,
    * `doc_b`) — a ROUTER, because the right algorithm changes with
    * graph size. Small graphs take the driver union-find fast path
    * (memory math below); larger graphs run alternating large-star/
    * small-star ([[connectedComponentsStar]]), which measured FASTER
    * than the pointer-jumping fixpoint head-to-head (6.1 s vs 8.7 s on
    * the 1.66M-edge 25×-corpus pair graph, labels identical) and
    * converges in O(log² n) rounds INDEPENDENT OF DIAMETER — the
    * property that holds at 100 TB, where a near-dup graph can hide
    * million-hop chains. The pointer-jumping fixpoint remains as
    * [[connectedComponentsPointerJump]] (spec-equal on chain / cycle /
    * corpus graphs).
    *
    * BUDGET (round 14 — the verdict's CC-floor experiment, measured
    * via Profile --cc-floor): raised 1M → 64M directed edges. On the
    * 27.3M-edge 100× pair graph the union-find labels in 10.9-14.4 s
    * where the star path takes 30.9 s warm (90.8 s cold) — the star
    * rounds' fixed multi-job overhead dominates far beyond the old
    * budget, and the driver cost is modest: Tuple2[Long,Long]
    * specializes to raw fields (~32 B/pair, ~1 GB transient at the
    * 32M-pair budget ceiling), LongMap keeps primitives, measured
    * in-flight heap stayed under 4 GB total JVM with labels exactly
    * equal (label_diff=0 both runs). The budget therefore assumes a
    * driver with ≥4 GB headroom — standard for any real cluster
    * driver — and a billion-edge 100 TB graph still routes to the
    * distributed star path. The assumption is ENFORCED, not just
    * documented (round-15 advice): GraftSession sets
    * spark.driver.maxResultSize=4g — at the Spark default (1g) a graph
    * near this ceiling would abort on the collect instead of labeling,
    * and a deploy that lowers maxResultSize must lower this budget
    * with it (budget_edges ≈ maxResultSize / 16 B per directed edge).
    */
  private[graft] def connectedComponents(pairs: DataFrame,
      driverPathMaxEdges: Long = 64000000L,
      materialized: Boolean = false): DataFrame = {
    // materialize the (expensive, LSH-joined) pair graph once: the
    // routing count and whichever path runs read this checkpoint.
    // A caller that already checkpointed (dd_pipeline shares the graph
    // with the rank stage) passes materialized = true — a second
    // localCheckpoint would store and scan a redundant full copy.
    val p = if (materialized) pairs else pairs.localCheckpoint()
    // Small-graph fast path: the right tool changes with scale. Below
    // the threshold (counted as DIRECTED edges — 2× the pair count) a
    // union-find labels the graph in seconds, where a distributed
    // iteration pays a fixed multi-job overhead PER ROUND — measured
    // 9.6s vs 0.9s on a 450k-edge graph, and 30.9s vs 10.9s on the
    // 27.3M-edge 100× graph (Profile --cc-floor; see the scaladoc
    // budget note). The budget is driver heap: specialized long-pair
    // tuples (~32 B/pair transient) + primitive-array LongMap — ~1 GB
    // transient at the 32M-pair ceiling, measured under 4 GB total
    // in-flight JVM heap. Above it, the distributed star path is the
    // only option — a 100 TB near-dup graph has billions of edges and
    // never fits a driver. Labels are identical by construction: union
    // always parents the larger root under the smaller, so every root
    // IS its component minimum — the same labeling both distributed
    // fixpoints converge to (spec-asserted equal on the corpus graph).
    if (2 * p.count() <= driverPathMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = p.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      return parent.keys.toArray.sorted.map(n => (n, find(n))).toSeq
        .toDF("node", "label")
    }
    connectedComponentsStar(p)
  }

  /** Min-label propagation with POINTER JUMPING — the classic
    * alternative distributed CC fixpoint, kept first-class for
    * cross-checking the star path (spec-equal on chain / cycle /
    * corpus graphs). Each round first lowers every node's label to the
    * min over itself and its neighbors (one edge of travel), then
    * rewrites label ← label(label) — label chains halve per round, so
    * the fixpoint lands in O(log diameter) rounds rather than
    * O(diameter). The jump join is safe because labels are monotone:
    * label(n) ≤ n always, so label(label(n)) exists and is ≤ label(n)
    * — both steps only ever lower labels, which also makes the label
    * SUM a convergence certificate (unchanged sum ⇔ fixpoint; one
    * cheap aggregate per round instead of a diff join). Every round is
    * localCheckpoint'ed — the standard lineage truncation for
    * iterative DataFrame algorithms (without it round-N optimization
    * replays all prior rounds; measured 131s → 2s at sf0.1).
    * Non-convergence within the cap FAILS LOUDLY instead of emitting
    * wrong labels. Its per-round shuffle carries the FULL edge set
    * every round — the reason the contracting star variant won the
    * routing decision above.
    */
  private[graft] def connectedComponentsPointerJump(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionAll(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint()
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // Decimal(38,0) sum: Spark's non-ANSI Long sum wraps on overflow, and
    // a wrapped delta of exactly 2^64 would fake a fixpoint on graphs with
    // huge id ranges. Decimal is overflow-proof at any node count.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    // min over self ∪ neighbors — one edge of label travel
    def hop(ls: DataFrame): DataFrame = edges
      .join(ls, edges("doc_a") === ls("node"))
      .select(col("doc_b").as("node"), col("label"))
      .unionAll(ls)
      .groupBy(col("node"))
      .agg(min(col("label")).as("label"))
    // pointer jump: label ← label(label); labels cover all nodes, so
    // the self-join is total
    def jump(ls: DataFrame): DataFrame = {
      val parents = ls.select(col("node").as("p_node"), col("label").as("p_label"))
      ls.join(parents, col("label") === col("p_node"))
        .select(col("node"), col("p_label").as("label"))
    }
    var converged = false
    var rounds = 0
    // 2^40 hops of reach — enough for any graph whose node ids fit a
    // long; hitting the cap means a logic bug, not a big graph
    val maxRounds = 40
    while (!converged && rounds < maxRounds) {
      // Checkpoint the hop before jumping: jump self-joins its input, so
      // an un-checkpointed hop subtree would sit on both sides of the
      // jump join and per-round cost would hinge on exchange reuse.
      val hopped = hop(labels).localCheckpoint()
      val hopSum = labelSum(hopped)
      if (hopSum.compareTo(prevSum) == 0) {
        // hop-fixpoint IS the CC fixpoint (labels are monotone and for
        // every edge (a,b) an unchanged sum forces label(a)=label(b)),
        // so the final round skips the jump join entirely.
        labels = hopped
        converged = true
      } else {
        // an unchanged sum across jump alone is NOT a certificate
        // (jump is label(label); hop could still lower) — only the
        // hop-fixpoint test above terminates the loop.
        val propagated = jump(hopped).localCheckpoint()
        prevSum = labelSum(propagated)
        labels = propagated
      }
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsPointerJump did not converge in $maxRounds rounds")
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the published 100 TB-scale CC algorithm. Where the
    * pointer-jumping fixpoint above keeps the FULL edge set alive every
    * round (its per-round shuffle never shrinks), each star operation
    * REWRITES the edge set toward stars rooted at component minima, so
    * the per-round data volume contracts as components collapse — the
    * property that matters when the pair graph has billions of edges:
    *
    *   large-star(u): every neighbor v > u re-links to
    *                  m(u) = min(N(u) ∪ {u})          (undirected view)
    *   small-star(u): u and all its smaller neighbors link to the
    *                  group min                       (directed view)
    *
    * Both operations preserve the connectivity partition (SoCC'14
    * Lemmas 1-2) and monotonically lower edge endpoints, converging in
    * O(log² n) rounds INDEPENDENT OF DIAMETER to a state where the
    * edge set is a disjoint union of single-parent stars — checked
    * structurally each round (no child is a root AND no child has two
    * parents ⇔ stars ⇔ fixpoint, since L and S are identities on
    * stars). Emits the same (node, label=component-min) relation as
    * [[connectedComponents]]; spec-asserted equal to union-find and to
    * the pointer-jumping fixpoint on chain / cycle / corpus graphs.
    * Non-convergence inside the generous cap fails loudly.
    */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
      roundEdges: scala.collection.mutable.ArrayBuffer[Long] = null): DataFrame = {
    // canonical directed edges: a = child (larger id), b = parent
    // (smaller id); self-loops dropped
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // CALLER CONTRACT: an EXPENSIVE pairs plan must be materialized
    // (persist or localCheckpoint) — edge canonicalization and node
    // extraction both read it, and a live plan re-executes its entire
    // upstream (band join and all) for the second consumer, measured
    // 1.5s → 2.6s on the corpus graph. The router and the
    // dd_cluster_star operator pass materialized input;
    // spec callers pass literal in-memory graphs, where re-reading is
    // free. No barrier here: it would re-copy a graph that at 100× is
    // 27M rows (measured as tens of seconds of pure duplication).
    val raw = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
    var edges = canon(raw).localCheckpoint()
    // all nodes that ever appeared — label extraction must cover nodes
    // that end as roots (no outgoing edge at the fixpoint). Derived
    // from the RAW pairs, before canon drops self-loops: a node that
    // appears only as (x, x) must still be labelled x, matching the
    // driver union-find branch — the router's "labels identical by
    // construction" contract holds on degenerate input too.
    val allNodes = raw.select(col("a").as("node"))
      .unionAll(raw.select(col("b").as("node"))).distinct().localCheckpoint()
    // large-star over the undirected view: m(u) = min(N(u) ∪ {u});
    // emit (v, m(u)) for v ∈ N(u), v > u. Output stays canonical:
    // m(u) ≤ u < v.
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val m = bidir.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a").as("u"), least(col("mn"), col("a")).as("m"))
      bidir.join(m, bidir("a") === m("u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star over the directed view: all of u's parents plus u
    // re-link to the group min. v ranges over parents (< u), so the
    // output is canonical too.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("a")).agg(min(col("b")).as("m"))
      val vEdges = e.join(m, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
      val uEdges = m.select(col("a"), col("m").as("b"))
      vEdges.unionAll(uEdges).distinct()
    }
    // structural fixpoint: disjoint single-parent stars — no child
    // appears as a root, no child keeps two parents. (A star edge set
    // is a fixpoint of both operations, and L/S preserve components,
    // so stars ⇔ done.) Both violation classes union into ONE
    // emptiness probe (round 17 — was two driver-blocking actions per
    // round; the union is empty iff both legs are).
    def isStars(e: DataFrame): Boolean =
      e.select(col("a")).intersect(e.select(col("b")))
        .unionAll(e.groupBy(col("a")).agg(count(lit(1)).as("np"))
          .filter(col("np") > 1).select(col("a")))
        .isEmpty
    // ROUND 18: the structural stars test ran as its OWN job after
    // every round's checkpoint (intersect + multi-parent aggregate —
    // two exchanges per probe). The loop now detects the FIXPOINT
    // instead — (row count, wrap-sum of xxhash64(a,b)) observed for
    // free on each round's checkpoint job (CollectMetrics rides the
    // materialization; no extra action): S∘L is deterministic, so an
    // unchanged edge multiset means every later round is identical
    // and the loop must stop. Soundness is NOT entrusted to the hash:
    // on fixpoint-equality the loop runs isStars ONCE and (a) a hash
    // collision that wasn't a fixpoint just fails the probe and keeps
    // iterating, (b) a true fixpoint that is not stars still throws
    // loudly below, exactly as before. Per round: 2 jobs → 1.
    def edgeSig(e: DataFrame): (DataFrame, () => (Long, Long)) = {
      val obs = new org.apache.spark.sql.Observation()
      // bit_xor, not sum: order-independent AND overflow-free under
      // ANSI (a hash sum tripped ARITHMETIC_OVERFLOW); xor-cancel
      // needs duplicate rows, which canon/largeStar/smallStar exclude
      // by construction (.distinct() outputs)
      val observed = e.observe(obs,
        count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(a, b))").as("h"))
      (observed, () => (obs.get("n").asInstanceOf[Long],
        Option(obs.get("h")).fold(0L)(_.asInstanceOf[Long])))
    }
    var rounds = 0
    val maxRounds = 60 // O(log² n) bound; hitting it means a logic bug
    var stars = false
    var prevSig = Option.empty[(Long, Long)]
    while (!stars && rounds < maxRounds) {
      val (observed, sig) = edgeSig(smallStar(largeStar(edges)))
      edges = observed.localCheckpoint()
      val cur = sig()
      // per-round edge telemetry (spec only): THE property that
      // makes this algorithm the billion-edge route is that the edge
      // set CONTRACTS as components collapse — unlike pointer jumping,
      // whose per-round shuffle never shrinks. The count now reads off
      // the observed metric — no extra job.
      if (roundEdges != null) roundEdges += cur._1
      rounds += 1
      if (prevSig.contains(cur)) stars = isStars(edges)
      prevSig = Some(cur)
    }
    if (!stars)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds")
    allNodes.join(edges, allNodes("node") === edges("a"), "left")
      .select(col("node"), coalesce(col("b"), col("node")).as("label"))
  }

  /** dd_cluster through the large-star/small-star path — same output
    * contract as [[ddCluster]] (node, component-min label, size), same
    * recursive-CTE split oracle; registered separately so the
    * diameter-independent variant is a first-class, hash-checked
    * operator rather than a test-only twin.
    */
  val ddClusterStar: Q = (s, d) =>
    // localCheckpoint fulfils connectedComponentsStar's materialized-
    // input contract: the pair join runs once, not once per consumer
    connectedComponentsStar(
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")).localCheckpoint())
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size").cast("long"))
      .orderBy(col("doc_id"))

  /** Canonical-document selection — the last stage of near-dup
    * removal: within each near-dup cluster keep the HIGHEST-QUALITY
    * member (tie → lowest doc_id), not an arbitrary one; everything
    * else becomes the drop list. Joins the CC cluster labels with the
    * tx_quality score (broadcast-size label table at harness scale;
    * a plain key join at corpus scale), one window for the argmax.
    * Docs outside any near-dup pair are their own canonical.
    */
  val ddCanonical: Q = (s, d) => {
    val labels = connectedComponents(
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val quality = TextAnalysis.txQuality(s, d)
      .select(col("doc_id"), col("quality_score"))
    val labeled = quality.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    labeled
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("rn") === 1).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Near-CONTAINMENT detection — the asymmetric cousin of Jaccard
    * near-dup: a short document quoted or copied inside a longer one
    * has low Jaccard (the union is dominated by the container) but
    * containment |A∩B| / |A| ≈ 1. The size-ratio blocking of
    * dd_ngram_jaccard deliberately rejects exactly these pairs, and a
    * raw shingle self-join is Σdf² — quadratic in shingle document
    * frequency (measured 134s at 5× on this small-vocab corpus). So
    * candidates come from PREFIX FILTERING, the production algorithm:
    * each document probes with its 4 globally-RAREST shingles (by df,
    * ties on the hash) against the df-capped shingle index. True
    * containment A⊆B always collides — every shingle of A, including
    * its rarest, is in B — and 90%-containment misses only if all 4
    * rarest fall in the missing tail (≈0.1⁴). Join volume is
    * Σ_probe df(rarest) — small by construction, since probes are the
    * rare shingles. Only surviving candidates pay the exact
    * intersect/verify against the full shingle sets.
    *
    * This is the prefix-filter candidate stage of [[ddContainment]],
    * over a CALLER-persisted shingle frame — ddContainment passes the
    * same persisted frame it verifies against, so the shingle table is
    * materialized (and held in memory) exactly once. Candidate count is
    * the quantity the df cap must keep bounded as the corpus grows.
    */
  private[graft] def containmentCandidates(
      s: SparkSession, d: String, sh: DataFrame): DataFrame = {
    val nDocs = Tables.documents(s, d).count()
    // index cap (2% of docs, floor 10): hot boilerplate shingles carry
    // no containment signal and are the quadratic risk in ANY
    // shingle-keyed index
    val maxDf = math.max(10L, nDocs * 2 / 100)
    val exploded = sh.select(col("doc_id"), explode(col("sh_hashes")).as("h"))
    val df = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val indexed = exploded.join(df, "h")
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("h"))
    val probes = indexed
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= 4)
      .select(col("doc_id").as("doc_a"), col("h"))
    probes
      .join(indexed.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** The exact verify + emit tail shared by [[ddContainment]] and
    * [[ddContainmentSampled]]: fan the candidate pairs back to their
    * full shingle sets, compute |A∩B|/|A| with the native kernel, keep
    * ≥ 0.9.
    */
  private def containmentVerified(sh: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh_hashes").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_hashes").as("sh_b")), "doc_b")
      .withColumn("n_shared", intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("containment",
        q4(col("n_shared").cast("double") / col("n_a")))
      .filter(col("containment") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  val ddContainment: Q = (s, d) => {
    // the shingle store replaces the old session persist(): each of the
    // three reads below (df-index explode, fan-back a, fan-back b) is a
    // bucketed scan of pre-hashed arrays, not a kernel recompute — and
    // nothing is left cached in the session afterwards
    val sh = shingled(s, d)
      .select(col("doc_id"), col("sh_hashes"))
    containmentVerified(sh, containmentCandidates(s, d, sh))
  }

  /** §2.C round 15 — the SAMPLED containment audit (the r14 verdict's
    * ask #3, via the q46_rfm_sketch / dd_pair_quality_sampled
    * sibling-operator playbook): dd_containment's 100× floor is
    * OUTPUT-bound (53.7M verified pairs on the make_scale clique
    * corpus — per-pair verify cost fell round over round while the
    * emission volume is the output's own size), so the only lever left
    * is emitting LESS, honestly. This op runs the identical
    * prefix-filter candidate stage, then keeps the deterministic
    * content-addressed 1-in-8 pair sample ([[pairSamplePredicate]] —
    * the shared portable integer hash) BEFORE the two shingle fan-back
    * joins and the exact verify, so verify cost AND output volume are
    * sample-bounded by construction. Because verify is a pure per-pair
    * predicate, the output is exactly the same 1-in-8 hash slice of
    * the full operator's output — the containment-rate estimate reads
    * off it with a ×8 scale-up, which is how a 100 TB quote-detection
    * audit actually runs (nobody materializes every containment pair
    * to decide whether a corpus has a quoting problem). The full
    * operator stays registered as the exact anchor; the A/B numbers
    * (SURVEY §5) are the ask's deliverable either way.
    */
  val ddContainmentSampled: Q = (s, d) => {
    val sh = shingled(s, d)
      .select(col("doc_id"), col("sh_hashes"))
    containmentVerified(sh,
      containmentCandidates(s, d, sh).filter(pairSamplePredicate(8)))
  }

  /** LEAKAGE-FREE SPLIT ASSIGNMENT — the train/val/test split a
    * training pipeline must make AFTER near-dup analysis: hashing raw
    * doc ids would scatter near-duplicate documents across splits
    * (evaluation contamination); hashing the CLUSTER id keeps every
    * near-dup group in one split by construction. Reuses the CC
    * labels over the MinHash-LSH pair graph; singletons are their own
    * cluster. The split hash is the engine's reproducible sampling
    * hash (integer arithmetic, cross-engine stable); 80/10/10.
    */
  val ddSplitLeakfree: Q = (s, d) => {
    val labels = connectedComponents(
      minhashPairs(s, d).select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        graft.functions.SampleHash.bucket(col("cluster_id"), 100L))
      .select(col("doc_id"), col("cluster_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** dd_pipeline — THE COMPOSED PRODUCTION CHAIN, one DAG: exact dedup
    * → MinHash-LSH pair graph (over exact survivors, computed ONCE) →
    * connected components + authority power iteration (BOTH iterative
    * stages riding the same materialized graph — no second LSH join)
    * → canonical selection → leak-free split.
    * This is the shape a real 100 TB dedup deployment runs nightly;
    * the standalone dd_* operators above are its stages taken apart
    * for independent oracles, and each of those recomputes the pair
    * graph because each registry entry must stand alone — here the
    * graph is built once and every downstream stage reads the same
    * labels and scores.
    *
    * Stage order is the production order: the exact pass is a plain
    * hash-groupBy (cheapest possible filter) and every survivor it
    * removes shrinks the LSH input — signatures are only ever computed
    * for exact survivors. The pair graph crosses one materialization
    * barrier (inside [[connectedComponents]], which the canonical and
    * split stages then reuse through the label table rather than
    * re-deriving. Output is one row per ORIGINAL document with full
    * decision provenance: its exact-stage representative, its near-dup
    * cluster, whether it is the cluster's quality-canonical survivor,
    * and the cluster-hashed split — the columns a training-data build
    * filters on (`is_canonical`) and routes by (`split`).
    *
    * Reference anchor: the reference pipeline dedups fund records
    * before building the master table (reference
    * `fund_data_etl.py` dedup-then-aggregate flow); this is the same
    * retain-one-then-route contract at corpus scale.
    */
  val ddPipeline: Q = (s, d) => {
    // OVERLAPPED INDEPENDENT JOBS (round 18, the r17 verdict's ask #2,
    // guide §2.6): the pipeline's driver-blocking actions used to run
    // strictly sequentially although three of its subtrees are
    // mutually independent — (a) the quality corpus scan (needs only
    // the documents table, not the dedup chain), (b) the CC labeling
    // and (c) the authority power iteration (both ride the SAME
    // checkpointed pair graph but never each other). Running them
    // concurrently lets each job's straggler tail be back-filled by
    // the others' tasks (the back-fill shape the guide describes).
    val Seq(Seq(quality), Seq(withKeeper, survivors, labels, rank)) =
      graft.Stages.all(s)(
        // quality is a full corpus TEXT scan at 100 TB — the single most
        // overlappable cost: submitted first, checkpointed so the work
        // really happens inside the stage (a lazy frame would defer it
        // back into the sequential final join)
        "dd_pipeline: quality scan (overlapped)" -> { () =>
          Seq(TextAnalysis.txQuality(s, d)
            .select(col("doc_id"), col("quality_score"))
            .localCheckpoint())
        },
        "dd_pipeline: pair graph (overlapped)" -> { () =>
          val docs = Tables.documents(s, d)
          // the digest projection is materialized NARROW (doc_id,
          // text_hash): it feeds both the keeper aggregate and the fan-back
          // join, and without it each consumer re-ran the corpus scan + the
          // normalize-regex + md5 (round 17 — at 100 TB that is a second
          // full pass over the text for zero new information).
          // localCheckpoint, not persist (round 18): the pipeline's many
          // driver actions each re-planned the cached frame as an
          // InMemoryTableScan + AQE pass — as a checkpoint they read a bare
          // ExistingRDD (hashed+keepers A/B: warm min 1.82 → 1.38 s).
          // Blocks are ContextCleaner-freed when the result goes
          // unreachable; 40 B/row, the same residency bound the old
          // cache paid when hit.
          val hashed = docs.select(col("doc_id"),
            md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
              .as("text_hash"))
            .localCheckpoint()
          // exact stage: one partial-aggregating shuffle on the digest; the
          // keeper (min doc_id per digest) is the survivor set.
          // Materialized: read by the fan-back join AND as the root of the
          // survivor chain (pairs semi-joins, rank nodes, CC labels).
          val keepers = hashed.groupBy(col("text_hash"))
            .agg(min(col("doc_id")).as("keeper_id"))
            .localCheckpoint()
          val withKeeper = hashed
            .join(keepers, "text_hash")
            .select(col("doc_id"), col("keeper_id"))
          val survivors = keepers.select(col("keeper_id").as("doc_id"))
          // the pair graph — computed ONCE and materialized HERE, because two
          // iterative stages ride it: connected components (cluster labels)
          // and the authority power iteration. The canonical and split
          // stages consume the resulting labels, not the graph.
          // Round 13: signatures are PER-DOC (no cross-doc dependence), so
          // pairs-among-survivors == the store-backed full-corpus pair
          // stream restricted to survivor endpoints — two semi-joins on the
          // emitted pairs instead of a survivor-subset signature recompute
          // + band self-join. Reads the persisted band store + the
          // first-band-wins join (minhashPairs), so the pipeline inherits
          // both amortizations; the semi-joins shuffle the PAIR graph
          // (narrow rows), never the banded collision stream. Identical
          // pair set (restriction commutes with emission — spec-pinned).
          val pairs = {
            val sa = survivors.select(col("doc_id").as("doc_a"))
            val sb = survivors.select(col("doc_id").as("doc_b"))
            minhashPairs(s, d)
              .join(sa, Seq("doc_a"), "left_semi")
              .join(sb, Seq("doc_b"), "left_semi")
              .select(col("doc_a"), col("doc_b"))
              .localCheckpoint()
          }
          // CC labeling and the authority power iteration are independent
          // consumers of the checkpointed graph — overlapped (their heavy
          // work — routing counts, collects, per-round jobs — runs inside
          // the stages; the returned frames are cheap reads over
          // checkpoints/broadcasts)
          val Seq(labels, rank) = graft.Stages.all(s)(
            "dd_pipeline: CC labels (overlapped)" -> { () =>
              connectedComponents(pairs, materialized = true)
                .select(col("node").as("doc_id"), col("label").as("cluster_id"))
            },
            "dd_pipeline: authority rank (overlapped)" -> { () =>
              graphRankScores(survivors, pairs)
                .select(col("doc_id"), col("score_e9").as("authority_e9"))
            })
          Seq(withKeeper, survivors, labels, rank)
        })
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    // canonical + split computed on the SURVIVOR level (one row per
    // keeper), then fanned back to all original docs by keeper_id —
    // exact dups inherit their keeper's cluster and split but are
    // never canonical themselves.
    val canon = survivors
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(quality, "doc_id")
      .join(rank, "doc_id")
      .withColumn("is_can", row_number().over(w) === 1)
      .withColumn("bucket",
        graft.functions.SampleHash.bucket(col("cluster_id"), 100L))
      .select(col("doc_id").as("keeper_id"), col("cluster_id"), col("is_can"),
        col("authority_e9"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
    withKeeper
      .join(canon, "keeper_id")
      .select(col("doc_id"), col("keeper_id"), col("cluster_id"),
        (col("is_can") && col("doc_id") === col("keeper_id")).as("is_canonical"),
        col("authority_e9"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** The dd_graph_rank oracle: the same five integer power iterations,
    * generated as unrolled CTEs over the dumped pair graph — every
    * round's dangling scalar, integer contributions, and inflow join
    * re-derived independently in SQL.
    */
  private val graphRankOracle: String = {
    val base =
      """WITH pairs AS (
        |  SELECT doc_a, doc_b FROM read_parquet('__AUX__/dd_pairs/*.parquet')),
        |edges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |deg AS (
        |  SELECT d.doc_id, CAST(coalesce(e.c, 0) AS BIGINT) AS deg
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_a AS doc_id, count(*) AS c FROM edges GROUP BY 1) e USING (doc_id)),
        |s0 AS (
        |  SELECT doc_id, deg, CAST(1000000000 // nn.n AS BIGINT) AS score_e9
        |  FROM deg CROSS JOIN nn)""".stripMargin
    base + OracleSql.rankIterCtes("deg", "nn", "edges", k => s"s$k") +
      "\nSELECT doc_id, deg, score_e9 FROM s5 ORDER BY doc_id"
  }

  val queries: Map[String, Q] = Map(
    "dd_articulation" -> ddArticulation,
    "dd_articulation_contracted" -> ddArticulationContracted,
    "dd_bridges" -> ddBridges,
    "dd_bridges_contracted" -> ddBridgesContracted,
    "dd_kcore" -> ddKcore,
    "dd_graph_rank" -> ddGraphRank,
    "dd_pipeline" -> ddPipeline,
    "dd_containment" -> ddContainment,
    "dd_containment_sampled" -> ddContainmentSampled,
    "dd_split_leakfree" -> ddSplitLeakfree,
    "dd_canonical" -> ddCanonical,
    "dd_cluster" -> ddCluster,
    "dd_cluster_star" -> ddClusterStar,
    "dd_exact" -> ddExact,
    "dd_minhash_lsh" -> ddMinhashLsh,
    "dd_minhash_lsh_sampled" -> ddMinhashLshSampled,
    "dd_lsh_stats" -> ddLshStats,
    "dd_cluster_stats" -> ddClusterStats,
    "dd_pair_quality" -> ddPairQuality,
    "dd_pair_quality_sampled" -> ddPairQualitySampled,
    "dd_graph_triangles" -> ddGraphTriangles,
    "dd_incremental" -> ddIncremental,
    "dd_simhash" -> ddSimhash,
    "dd_ngram_jaccard" -> ddNgramJaccard,
    "dd_embed_cosine" -> ddEmbedCosine,
    "dd_semantic" -> ddSemantic)

  /** Split-oracle auxiliary dumps: the Spark-computed seeded
    * intermediates (signature tables, the LSH pair graph) that the
    * DuckDB oracles read back via read_parquet. Verify writes each to
    * `target/verify_aux/<sf>/<name>` and substitutes the `__AUX__`
    * token in the oracle SQL with that absolute path. The hash kernels
    * themselves are pinned bit-for-bit in HashExprsSpec; everything
    * downstream of them (banding, bucket joins, thresholds, connected
    * components, canonical selection) is re-derived independently in
    * SQL — so the only logic either check trusts without a twin is the
    * one-line kernel invocation.
    */
  val auxDumps: Map[String, Q] = Map(
    "dd_minhash_sigs" -> ((s, d) => minhashSigTable(s, d)),
    "dd_simhash_sigs" -> ((s, d) => simhashSigTable(s, d)),
    "dd_shingles" -> ((s, d) => shingled(s, d).select(col("doc_id"), col("sh_hashes"))),
    "dd_pairs" -> ((s, d) => minhashPairs(s, d).select(col("doc_a"), col("doc_b"))),
    "dd_dfs" -> ((s, d) => ddArticulation(s, d)),
    // the sparsifier behind dd_articulation_contracted — the oracle's
    // palm checks and the dropped-edge co-block check both need the
    // exact H the DFS ran on
    "dd_h_edges" -> ddHEdges,
    // the contracted certificate itself, for dd_bridges_contracted's
    // oracle (the dd_dfs convention: __OUT__ may only name an
    // oracle's own dump, so the bridge oracle validates a re-run —
    // which the contractedFor memo serves from cached blocks)
    "dd_cdfs" -> ddArticulationContracted)

  /** dd_exact is deterministic SQL. dd_embed_cosine's hyperplanes are
    * fixed-seed float literals (OracleSql.bucketSql inlines them), so
    * it carries a full oracle too. The xxhash64-seeded operators carry
    * SPLIT ORACLES (see [[auxDumps]]): DuckDB re-runs the banding /
    * join / threshold / clustering logic over the dumped signature
    * tables. dd_cluster's oracle computes connected components from
    * the dumped pair graph with a recursive CTE — a genuinely
    * independent algorithm (transitive closure) from the Spark side's
    * pointer-jumping label propagation.
    */
  /** The recursive-CTE connected-components block shared by every
    * cluster-derived oracle (transitive closure over the dumped pair
    * graph) — one copy, so a closure fix can't reach one oracle and
    * miss the others.
    */
  private val ccOracleCte: String =
    """pairs AS (
      |  SELECT doc_a, doc_b FROM read_parquet('__AUX__/dd_pairs/*.parquet')),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(node, lab) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
      |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** The palm-tree certificate validator shared by the dd_articulation
    * and dd_bridges oracles (see [[articulationAssign]]'s scaladoc for
    * the proof sketch of each check): `src` is the parquet glob of the
    * dumped certificate (dd_articulation reads its OWN output via
    * __OUT__; dd_bridges reads the __AUX__/dd_dfs re-run). Produces the
    * WITH-block up to `poison(n)`; the caller appends its emit SELECT.
    * One copy, so a check fix cannot reach one oracle and miss the
    * other (the ccOracleCte convention).
    */
  private def palmCertCte(src: String,
      edgesGlob: String = "__AUX__/dd_pairs/*.parquet"): String =
    s"""WITH res AS (
      |  SELECT doc_id, comp, parent, disc, fin, low, is_articulation
      |  FROM read_parquet('$src')),
      |p AS (SELECT doc_a, doc_b FROM read_parquet('$edgesGlob')),
      |e AS (SELECT doc_a AS u, doc_b AS v FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |viol_total AS (
      |  SELECT d.doc_id FROM documents d LEFT JOIN res r USING (doc_id)
      |  WHERE r.doc_id IS NULL
      |  UNION ALL
      |  SELECT r.doc_id FROM res r LEFT JOIN documents d USING (doc_id)
      |  WHERE d.doc_id IS NULL
      |  UNION ALL SELECT doc_id FROM res GROUP BY doc_id HAVING count(*) > 1
      |  UNION ALL SELECT doc_id FROM res
      |  WHERE doc_id IS NULL OR comp IS NULL OR disc IS NULL OR fin IS NULL
      |     OR low IS NULL OR is_articulation IS NULL OR disc >= fin
      |     OR (parent IS NULL) <> (doc_id = comp)),
      |viol_comp AS (
      |  SELECT comp AS doc_id FROM res GROUP BY comp
      |  HAVING comp <> min(doc_id)
      |      OR sum(CASE WHEN parent IS NULL THEN 1 ELSE 0 END) <> 1
      |  UNION ALL
      |  SELECT e.u FROM e JOIN res ra ON ra.doc_id = e.u
      |  JOIN res rb ON rb.doc_id = e.v WHERE ra.comp <> rb.comp),
      |viol_parent AS (
      |  SELECT r.doc_id FROM res r LEFT JOIN res pr ON pr.doc_id = r.parent
      |  WHERE r.parent IS NOT NULL AND (pr.doc_id IS NULL
      |     OR pr.comp <> r.comp
      |     OR NOT (pr.disc < r.disc AND r.fin < pr.fin))
      |  UNION ALL
      |  SELECT r.doc_id FROM res r
      |  WHERE r.parent IS NOT NULL AND NOT EXISTS (
      |    SELECT 1 FROM e WHERE e.u = r.doc_id AND e.v = r.parent)),
      |viol_time AS (
      |  SELECT comp AS doc_id FROM (
      |    SELECT comp, disc AS t FROM res
      |    UNION ALL SELECT comp, fin FROM res) z
      |  GROUP BY comp, t HAVING count(*) > 1),
      |viol_sib AS (
      |  SELECT a.doc_id FROM res a JOIN res b
      |    ON a.parent = b.parent AND a.doc_id < b.doc_id
      |  WHERE NOT (a.fin < b.disc OR b.fin < a.disc)),
      |viol_palm AS (
      |  SELECT ra.doc_id FROM p
      |  JOIN res ra ON ra.doc_id = p.doc_a
      |  JOIN res rb ON rb.doc_id = p.doc_b
      |  WHERE coalesce(ra.parent, -1) <> p.doc_b
      |    AND coalesce(rb.parent, -1) <> p.doc_a
      |    AND NOT ((ra.disc < rb.disc AND rb.fin < ra.fin)
      |          OR (rb.disc < ra.disc AND ra.fin < rb.fin))),
      |back AS (
      |  SELECT r.doc_id, min(w.disc) AS be FROM res r
      |  JOIN e ON e.u = r.doc_id JOIN res w ON w.doc_id = e.v
      |  WHERE w.doc_id <> coalesce(r.parent, -1)
      |    AND w.disc < r.disc AND r.fin < w.fin
      |  GROUP BY r.doc_id),
      |childagg AS (
      |  SELECT c.parent AS doc_id, count(*) AS nchild, min(c.low) AS cl,
      |    max(CASE WHEN c.low >= pr.disc THEN 1 ELSE 0 END) AS anyhigh
      |  FROM res c JOIN res pr ON pr.doc_id = c.parent
      |  GROUP BY c.parent),
      |viol_low AS (
      |  SELECT r.doc_id FROM res r
      |  LEFT JOIN back USING (doc_id) LEFT JOIN childagg USING (doc_id)
      |  WHERE r.low <> least(r.disc, coalesce(be, r.disc), coalesce(cl, r.disc))),
      |viol_verdict AS (
      |  SELECT r.doc_id FROM res r LEFT JOIN childagg ca USING (doc_id)
      |  WHERE r.is_articulation <> (CASE WHEN r.parent IS NULL
      |    THEN coalesce(ca.nchild, 0) >= 2
      |    ELSE coalesce(ca.anyhigh, 0) = 1 END)),
      |poison AS (SELECT
      |  (SELECT count(*) FROM viol_total) + (SELECT count(*) FROM viol_comp)
      |  + (SELECT count(*) FROM viol_parent) + (SELECT count(*) FROM viol_time)
      |  + (SELECT count(*) FROM viol_sib) + (SELECT count(*) FROM viol_palm)
      |  + (SELECT count(*) FROM viol_low) + (SELECT count(*) FROM viol_verdict)
      |  AS n)""".stripMargin

  /** The containment-oracle derivation shared by dd_containment and
    * dd_containment_sampled (round-15 review — the palmCertCte one-copy
    * rule applied here too): shingle read → df cap → rarest-4 probes →
    * candidate join → exact verify, with the sampled twin differing
    * ONLY in the content-addressed 1-in-8 candidate cut. A fix to the
    * df cap, probe count or rounding now reaches both oracles.
    */
  private def containmentOracle(sampled: Boolean): String = {
    val sampleCut = if (sampled)
      """,
        |scand AS (
        |  SELECT doc_a, doc_b FROM cand
        |  WHERE ((((doc_a % 1000003) * 4099 + doc_b % 1000003) % 1000003) * 2654435761) % 1048576 < 131072)""".stripMargin
    else ""
    val candSrc = if (sampled) "scand" else "cand"
    s"""WITH sh AS (
      |  SELECT doc_id, sh_hashes FROM read_parquet('__AUX__/dd_shingles/*.parquet')),
      |ex AS (SELECT doc_id, unnest(sh_hashes) AS h FROM sh),
      |df AS (SELECT h, count(*) AS df FROM ex GROUP BY h
      |  HAVING count(*) <= greatest(10, (SELECT count(*) FROM documents) * 2 // 100)),
      |indexed AS (SELECT ex.doc_id, ex.h, df.df FROM ex JOIN df ON ex.h = df.h),
      |probes AS (
      |  SELECT doc_id AS doc_a, h FROM (
      |    SELECT doc_id, h,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY df, h) AS rn
      |    FROM indexed) t
      |  WHERE rn <= 4),
      |cand AS (
      |  SELECT DISTINCT p.doc_a, i.doc_id AS doc_b
      |  FROM probes p JOIN indexed i ON p.h = i.h AND p.doc_a <> i.doc_id)$sampleCut
      |SELECT doc_a, doc_b, n_shared, n_a, containment FROM (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(len(list_intersect(a.sh_hashes, b.sh_hashes)) AS BIGINT) AS n_shared,
      |    CAST(len(a.sh_hashes) AS BIGINT) AS n_a,
      |    floor(len(list_intersect(a.sh_hashes, b.sh_hashes))
      |      / CAST(len(a.sh_hashes) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS containment
      |  FROM $candSrc c
      |  JOIN sh a ON c.doc_a = a.doc_id
      |  JOIN sh b ON c.doc_b = b.doc_id) t
      |WHERE containment >= 0.9 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The co-block LIFT checks shared by the dd_articulation_contracted
    * and dd_bridges_contracted oracles (the palmCertCte one-copy rule):
    * over palmCertCte's res/p/poison — which validated the DFS against
    * the DUMPED SPARSIFIER H — re-derive block ids from the validated
    * intervals (deepest boundary ancestor-or-self, non-recursive) and
    * check the four conditions that lift H's verdicts to the FULL pair
    * graph per [[contractedCert]]'s theorem: (i) H ⊆ G; (ii) no G edge
    * crosses the dumped components; (iii) every non-root vertex has a
    * re-derivable block id; (iv) every dropped G edge's endpoints
    * share a block of H (NULLs failing closed). Yields `poison2(n)`;
    * each caller appends its emit SELECT gated on it.
    */
  private val coBlockLiftCtes: String =
    """,
      |pg AS (SELECT doc_a, doc_b FROM read_parquet('__AUX__/dd_pairs/*.parquet')),
      |eg AS (SELECT doc_a AS u, doc_b AS v FROM pg
      |       UNION ALL SELECT doc_b, doc_a FROM pg),
      |viol_hsub AS (
      |  SELECT h.doc_a AS doc_id FROM p h LEFT JOIN pg g
      |    ON h.doc_a = g.doc_a AND h.doc_b = g.doc_b
      |  WHERE g.doc_a IS NULL),
      |viol_gcomp AS (
      |  SELECT eg.u AS doc_id FROM eg
      |  JOIN res ra ON ra.doc_id = eg.u
      |  JOIN res rb ON rb.doc_id = eg.v
      |  WHERE ra.comp <> rb.comp),
      |bdry AS (
      |  SELECT c.doc_id, c.comp, c.disc, c.fin FROM res c
      |  JOIN res p2 ON p2.doc_id = c.parent WHERE c.low >= p2.disc),
      |beid AS (
      |  SELECT doc_id, bid FROM (
      |    SELECT r.doc_id, b.doc_id AS bid,
      |      row_number() OVER (PARTITION BY r.doc_id ORDER BY b.disc DESC) AS rn
      |    FROM res r JOIN bdry b ON b.comp = r.comp
      |      AND b.disc <= r.disc AND r.fin <= b.fin
      |    WHERE r.parent IS NOT NULL) t WHERE rn = 1),
      |viol_beid AS (
      |  SELECT r.doc_id FROM res r LEFT JOIN beid USING (doc_id)
      |  WHERE r.parent IS NOT NULL AND beid.bid IS NULL),
      |droppedg AS (
      |  SELECT g.doc_a, g.doc_b FROM pg g LEFT JOIN p h
      |    ON g.doc_a = h.doc_a AND g.doc_b = h.doc_b
      |  WHERE h.doc_a IS NULL),
      |viol_blocks AS (
      |  SELECT d.doc_a AS doc_id FROM droppedg d
      |  LEFT JOIN beid ba ON ba.doc_id = d.doc_a
      |  LEFT JOIN beid bb ON bb.doc_id = d.doc_b
      |  LEFT JOIN res rba ON rba.doc_id = ba.bid
      |  LEFT JOIN res rbb ON rbb.doc_id = bb.bid
      |  WHERE NOT (coalesce(ba.bid = bb.bid, FALSE)
      |          OR coalesce(rba.parent = d.doc_b, FALSE)
      |          OR coalesce(rbb.parent = d.doc_a, FALSE))),
      |poison2 AS (SELECT pz.n
      |  + (SELECT count(*) FROM viol_hsub)
      |  + (SELECT count(*) FROM viol_gcomp)
      |  + (SELECT count(*) FROM viol_beid)
      |  + (SELECT count(*) FROM viol_blocks) AS n FROM poison pz)""".stripMargin

  /** The bridge read-off emit shared by the dd_bridges and
    * dd_bridges_contracted oracles (the palmCertCte one-copy rule on
    * the emit side too — review finding, round 16): a tree edge
    * (parent(u), u) with low(u) > disc(parent(u)), gated on the
    * caller's poison CTE. The UNION ALL sentinel closes a real
    * poison-visibility hole the emit's own WHERE clause opened: a
    * poisoned certificate whose corruption also empties the bridge
    * filter (e.g. every low flattened to disc) would otherwise emit
    * ZERO rows — and the operator, deriving bridges from the same
    * broken certificate via the identical filter, would dump an
    * equally empty list, so empty == empty would PASS the very
    * answer the checks had rejected. The sentinel makes a poisoned
    * oracle result non-empty unconditionally (the articulation
    * oracles don't need one: they emit one row per vertex always).
    */
  private def bridgeEmitSql(poisonCte: String): String =
    s"""
      |SELECT doc_a, doc_b, comp FROM (
      |  SELECT
      |    CAST(CASE WHEN pz.n = 0 THEN least(c.doc_id, c.parent)
      |         ELSE -999 END AS BIGINT) AS doc_a,
      |    CAST(CASE WHEN pz.n = 0 THEN greatest(c.doc_id, c.parent)
      |         END AS BIGINT) AS doc_b,
      |    CAST(CASE WHEN pz.n = 0 THEN c.comp END AS BIGINT) AS comp
      |  FROM res c JOIN res pr ON pr.doc_id = c.parent
      |  CROSS JOIN $poisonCte pz
      |  WHERE c.low > pr.disc
      |  UNION ALL
      |  SELECT CAST(-999 AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(NULL AS BIGINT)
      |  FROM $poisonCte pz WHERE pz.n > 0) t
      |ORDER BY doc_a, doc_b""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    // PALM-TREE CERTIFICATE oracles (see articulationAssign scaladoc
    // and palmCertCte): dd_articulation re-emits its own dump only if
    // the eight pure-SQL checks hold; dd_bridges derives the bridge
    // list in SQL from the independently validated __AUX__/dd_dfs
    // certificate (a tree edge is a bridge iff the child's low never
    // climbs to the parent's disc). Any violation poisons every row.
    "dd_articulation" ->
      (palmCertCte("__OUT__/dd_articulation/*.parquet") +
        """
        |SELECT r.doc_id,
        |  CAST(CASE WHEN pz.n = 0 THEN r.comp ELSE -999 END AS BIGINT) AS comp,
        |  CAST(CASE WHEN pz.n = 0 THEN r.parent END AS BIGINT) AS parent,
        |  CAST(CASE WHEN pz.n = 0 THEN r.disc END AS BIGINT) AS disc,
        |  CAST(CASE WHEN pz.n = 0 THEN r.fin END AS BIGINT) AS fin,
        |  CAST(CASE WHEN pz.n = 0 THEN r.low END AS BIGINT) AS low,
        |  CASE WHEN pz.n = 0 THEN r.is_articulation END AS is_articulation
        |FROM res r CROSS JOIN poison pz ORDER BY doc_id""".stripMargin),
    // CONTRACTED-VARIANT oracle (see contractedCert's scaladoc): the
    // eight palm checks validate the DFS against the DUMPED SPARSIFIER
    // H (__AUX__/dd_h_edges) — pinning H's components, tree, lows and
    // verdicts exactly — then four pure-SQL extras lift the verdicts
    // to the FULL pair graph via the elementary co-block theorem:
    // (i) H ⊆ G; (ii) no G edge crosses the dumped components (so
    // comps(H) = comps(G)); (iii) every non-root vertex has a
    // re-derivable block id (beid = deepest boundary ancestor-or-self,
    // from the validated intervals — non-recursive); (iv) every
    // dropped G edge's endpoints share a block of H (the O(1)
    // membership test, NULLs failing closed). Any violation poisons
    // every row. The spanning-tree forgery — dump a valid palm cert of
    // a spanning tree of G and the tree's (wrong for G) verdicts —
    // passes every palm check and fails ONLY viol_blocks, which is the
    // tamper class that proves the new check load-bearing.
    "dd_articulation_contracted" ->
      (palmCertCte("__OUT__/dd_articulation_contracted/*.parquet",
          "__AUX__/dd_h_edges/*.parquet") + coBlockLiftCtes +
        """
        |SELECT r.doc_id,
        |  CAST(CASE WHEN pz.n = 0 THEN r.comp ELSE -999 END AS BIGINT) AS comp,
        |  CAST(CASE WHEN pz.n = 0 THEN r.parent END AS BIGINT) AS parent,
        |  CAST(CASE WHEN pz.n = 0 THEN r.disc END AS BIGINT) AS disc,
        |  CAST(CASE WHEN pz.n = 0 THEN r.fin END AS BIGINT) AS fin,
        |  CAST(CASE WHEN pz.n = 0 THEN r.low END AS BIGINT) AS low,
        |  CASE WHEN pz.n = 0 THEN r.is_articulation END AS is_articulation
        |FROM res r CROSS JOIN poison2 pz ORDER BY doc_id""".stripMargin),
    "dd_bridges" ->
      (palmCertCte("__AUX__/dd_dfs/*.parquet") + bridgeEmitSql("poison")),
    // CONTRACTED bridge oracle (see ddBridgesContracted's scaladoc):
    // the palm checks validate the dumped contracted certificate
    // (__AUX__/dd_cdfs, the Verify re-run — dd_dfs convention) against
    // the dumped sparsifier H; the shared co-block lift checks then
    // prove H's bridges ARE the full graph's, and the emit derives the
    // bridge list from the validated certificate, gated on poison2.
    "dd_bridges_contracted" ->
      (palmCertCte("__AUX__/dd_cdfs/*.parquet",
          "__AUX__/dd_h_edges/*.parquet") + coBlockLiftCtes +
        bridgeEmitSql("poison2")),
    // CERTIFICATE oracle (see ddKcore scaladoc): the operator's OWN
    // primary dump (the __OUT__ token — no second peel run) is
    // re-emitted only if (a) every core member has >= k in-core
    // neighbors, (b) every removed node has < k neighbors
    // at-or-after its round, (c) every node removed after round 1
    // could NOT have been removed earlier, and (d) the table is
    // WELL-FORMED AND TOTAL: one row per document, no row outside the
    // document set, no NULL field, flags consistent — four pure-SQL
    // checks that together pin the unique canonical k-core peel
    // without replaying the fixpoint. Any violation poisons every
    // row (-999 / NULL) so the hash compare fails loudly. The k
    // literals interpolate from the SAME constant the Spark peel
    // uses (kcoreK), so they cannot desynchronize. Review-hardened:
    // out-of-domain rows and NULL fields (invisible to the
    // flag-consistency predicates, whose NULL comparisons don't
    // flag) are explicit viol_total legs.
    "dd_kcore" ->
      s"""WITH res AS (
        |  SELECT doc_id, removed_round, in_core
        |  FROM read_parquet('__OUT__/dd_kcore/*.parquet')),
        |p AS (SELECT doc_a, doc_b FROM read_parquet('__AUX__/dd_pairs/*.parquet')),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |core_deg AS (
        |  SELECT r.doc_id, count(*) AS dg
        |  FROM res r JOIN e ON e.u = r.doc_id
        |  JOIN res r2 ON r2.doc_id = e.v AND r2.in_core
        |  WHERE r.in_core GROUP BY 1),
        |viol_sound AS (
        |  SELECT r.doc_id FROM res r LEFT JOIN core_deg cd USING (doc_id)
        |  WHERE r.in_core AND coalesce(cd.dg, 0) < $kcoreK),
        |rem_deg_now AS (
        |  SELECT r.doc_id, count(r2.doc_id) AS dg
        |  FROM res r LEFT JOIN e ON e.u = r.doc_id
        |  LEFT JOIN res r2 ON r2.doc_id = e.v
        |    AND (r2.in_core OR r2.removed_round >= r.removed_round)
        |  WHERE NOT r.in_core GROUP BY 1),
        |viol_peel AS (SELECT doc_id FROM rem_deg_now WHERE dg >= $kcoreK),
        |rem_deg_prev AS (
        |  SELECT r.doc_id, count(r2.doc_id) AS dg
        |  FROM res r LEFT JOIN e ON e.u = r.doc_id
        |  LEFT JOIN res r2 ON r2.doc_id = e.v
        |    AND (r2.in_core OR r2.removed_round >= r.removed_round - 1)
        |  WHERE NOT r.in_core AND r.removed_round > 1 GROUP BY 1),
        |viol_canon AS (SELECT doc_id FROM rem_deg_prev WHERE dg < $kcoreK),
        |viol_total AS (
        |  SELECT d.doc_id FROM documents d LEFT JOIN res r USING (doc_id)
        |  WHERE r.doc_id IS NULL
        |  UNION ALL
        |  SELECT r.doc_id FROM res r LEFT JOIN documents d USING (doc_id)
        |  WHERE d.doc_id IS NULL
        |  UNION ALL SELECT doc_id FROM res GROUP BY doc_id HAVING count(*) > 1
        |  UNION ALL SELECT doc_id FROM res
        |  WHERE doc_id IS NULL OR removed_round IS NULL OR in_core IS NULL
        |     OR (in_core AND removed_round <> -1)
        |     OR (NOT in_core AND removed_round < 1)),
        |poison AS (SELECT
        |  (SELECT count(*) FROM viol_sound) + (SELECT count(*) FROM viol_peel)
        |  + (SELECT count(*) FROM viol_canon) + (SELECT count(*) FROM viol_total)
        |  AS n)
        |SELECT r.doc_id,
        |  CAST(CASE WHEN pz.n = 0 THEN r.removed_round ELSE -999 END AS BIGINT)
        |    AS removed_round,
        |  CASE WHEN pz.n = 0 THEN r.in_core END AS in_core
        |FROM res r CROSS JOIN poison pz
        |ORDER BY doc_id""".stripMargin,
    "dd_graph_triangles" ->
      """WITH e AS (
        |  SELECT doc_a, doc_b FROM read_parquet('__AUX__/dd_pairs/*.parquet')),
        |deg AS (
        |  SELECT n, count(*) AS dg FROM (
        |    SELECT doc_a AS n FROM e UNION ALL SELECT doc_b FROM e) t GROUP BY n),
        |w AS (
        |  SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges,
        |    CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
        |    JOIN e e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CAST(CASE WHEN n_wedges > 0
        |    THEN n_triangles * 3 * 1000000 // n_wedges ELSE 0 END AS BIGINT)
        |    AS clustering_ppm
        |FROM ne CROSS JOIN w CROSS JOIN tri""".stripMargin,
    "dd_graph_rank" -> graphRankOracle,
    // the full composed chain re-derived independently: exact keepers
    // from md5 in SQL, banding/threshold over the dumped signature
    // table RESTRICTED to keepers (a signature depends only on its own
    // document, so the full-corpus dump restricted to survivors IS the
    // survivor signature table), transitive-closure CC, quality argmax,
    // cluster-hash split — none of it reuses the Spark operators.
    "dd_pipeline" ->
      ("""WITH RECURSIVE
        |hashed AS (
        |  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_hash
        |  FROM documents),
        |keepers AS (SELECT text_hash, min(doc_id) AS keeper_id FROM hashed GROUP BY 1),
        |wk AS (SELECT h.doc_id, k.keeper_id FROM hashed h JOIN keepers k USING (text_hash)),
        |sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__AUX__/dd_minhash_sigs/*.parquet')
        |  WHERE doc_id IN (SELECT keeper_id FROM keepers)),
        |banded AS (
        |  SELECT doc_id, sig, b, sig[b*4+1 : b*4+4] AS band
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |      floor(len(list_filter(range(1, 33), i -> a.sig[i] = b2.sig[i])) / 32.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
        |    FROM banded a JOIN banded b2
        |      ON a.b = b2.b AND a.band = b2.band AND a.doc_id < b2.doc_id) t
        |  WHERE est_jaccard >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(node, lab) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
        |cc AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
        |sedges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
        |snn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keepers),
        |sdeg AS (
        |  SELECT k.keeper_id AS doc_id, CAST(coalesce(e.c, 0) AS BIGINT) AS deg
        |  FROM keepers k LEFT JOIN (
        |    SELECT doc_a AS doc_id, count(*) AS c FROM sedges GROUP BY 1) e
        |    ON k.keeper_id = e.doc_id),
        |r0 AS (
        |  SELECT doc_id, deg, CAST(1000000000 // snn.n AS BIGINT) AS score_e9
        |  FROM sdeg CROSS JOIN snn)""".stripMargin +
      OracleSql.rankIterCtes("sdeg", "snn", "sedges", k => s"r$k") + ",\n" +
      """quality AS (
        |  SELECT doc_id,
        |    floor(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |      * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text))
        |      * 10000 + 0.5) / 10000.0 AS quality_score
        |  FROM documents),
        |surv AS (
        |  SELECT k.keeper_id AS doc_id, coalesce(cc.cluster_id, k.keeper_id) AS cluster_id
        |  FROM keepers k LEFT JOIN cc ON k.keeper_id = cc.doc_id),
        |canon AS (
        |  SELECT s.doc_id, s.cluster_id,
        |    row_number() OVER (PARTITION BY s.cluster_id
        |      ORDER BY q.quality_score DESC, s.doc_id) = 1 AS is_can
        |  FROM surv s JOIN quality q USING (doc_id))
        |SELECT doc_id, keeper_id, cluster_id, is_canonical, authority_e9,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT w.doc_id, w.keeper_id, c.cluster_id,
        |    (c.is_can AND w.doc_id = w.keeper_id) AS is_canonical,
        |    r.score_e9 AS authority_e9,
        |    ((c.cluster_id % 1000003) * 2654435761) % 100 AS bucket
        |  FROM wk w
        |  JOIN canon c ON w.keeper_id = c.doc_id
        |  JOIN r5 r ON w.keeper_id = r.doc_id) t
        |ORDER BY doc_id""".stripMargin),
    // the shared three-level assignment chain (one SQL copy in
    // OracleSql.threeLevelCtes — the kernel-sharing rule applied to
    // the oracles too), parameterized by semanticK's formula
    "dd_semantic" ->
      s"""WITH ${OracleSql.threeLevelCtes(
             "greatest(16, CAST(ceil(count(*) / 512.0) AS BIGINT))")},
        |dropped AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM asg a JOIN asg b
        |    ON a.cent_id = b.cent_id AND b.vec_id < a.vec_id
        |  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.3)
        |SELECT a.vec_id, a.cent_id, (d.vec_id IS NOT NULL) AS is_dropped
        |FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,
    "dd_containment" -> containmentOracle(sampled = false),
    // the sampled sibling: identical derivation with the shared
    // portable integer-hash predicate on the CANDIDATE pairs (the same
    // place the Spark side filters), so sample membership itself is
    // cross-engine-checked, not just the surviving rows
    "dd_containment_sampled" -> containmentOracle(sampled = true),
    "dd_split_leakfree" ->
      s"""WITH RECURSIVE $ccOracleCte
        |SELECT doc_id, cluster_id,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
        |    ((coalesce(cc.cluster_id, d.doc_id) % 1000003) * 2654435761) % 100 AS bucket
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id) t
        |ORDER BY doc_id""".stripMargin,
    "dd_lsh_stats" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__AUX__/dd_minhash_sigs/*.parquet')),
        |banded AS (
        |  SELECT doc_id, b, sig[b*4+1 : b*4+4] AS band_v
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands),
        |bk AS (SELECT b, band_v, count(*) AS sz FROM banded GROUP BY 1, 2)
        |SELECT CAST(b AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(max(sz) AS BIGINT) AS max_bucket,
        |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_buckets,
        |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
        |FROM bk GROUP BY b ORDER BY band""".stripMargin,
    "dd_minhash_lsh" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__AUX__/dd_minhash_sigs/*.parquet')),
        |banded AS (
        |  SELECT doc_id, sig, b, sig[b*4+1 : b*4+4] AS band
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands)
        |SELECT doc_a, doc_b, est_jaccard FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    floor(len(list_filter(range(1, 33), i -> a.sig[i] = b2.sig[i])) / 32.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
        |  FROM banded a JOIN banded b2
        |    ON a.b = b2.b AND a.band = b2.band AND a.doc_id < b2.doc_id) t
        |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // the incremental index probe = the full recompute's pairs that
    // touch the new-batch slice (doc_id % 4 = 0) — the oracle re-runs
    // the banding over the dumped signatures and applies the same
    // delta restriction
    "dd_incremental" ->
      """WITH sigs AS (
        |  SELECT doc_id, sig FROM read_parquet('__AUX__/dd_minhash_sigs/*.parquet')),
        |banded AS (
        |  SELECT doc_id, sig, b, sig[b*4+1 : b*4+4] AS band
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bands)
        |SELECT doc_a, doc_b, est_jaccard FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    floor(len(list_filter(range(1, 33), i -> a.sig[i] = b2.sig[i])) / 32.0 * 10000 + 0.5) / 10000.0 AS est_jaccard
        |  FROM banded a JOIN banded b2
        |    ON a.b = b2.b AND a.band = b2.band AND a.doc_id < b2.doc_id) t
        |WHERE est_jaccard >= 0.5 AND (doc_a % 4 = 0 OR doc_b % 4 = 0)
        |ORDER BY doc_a, doc_b""".stripMargin,
    // 5×13/12-bit chunk banding (round 14): pigeonhole-exact for the
    // emitted hamming ≤ 4 threshold (5 chunks — any pair at hamming
    // ≤ 4 shares a whole chunk). The sigs dump IS the signature store,
    // so this audits the stored signatures; the banded candidate join
    // + hamming verify re-run independently here (the arithmetic-
    // shift-then-mask chunk extraction is engine-agnostic: the mask
    // keeps only bits below the sign-fill).
    "dd_simhash" ->
      """WITH s AS (
        |  SELECT doc_id, simhash FROM read_parquet('__AUX__/dd_simhash_sigs/*.parquet')),
        |chunked AS (
        |  SELECT doc_id, simhash, b,
        |    (simhash >> (b * 13)) & (CASE WHEN b = 4 THEN 4095 ELSE 8191 END) AS chunk
        |  FROM s CROSS JOIN (SELECT unnest(range(0, 5)) AS b) bands)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
        |  FROM chunked a JOIN chunked b2
        |    ON a.b = b2.b AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id) t
        |WHERE hamming <= 4 ORDER BY doc_a, doc_b""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, sh_hashes,
        |    list_min(sh_hashes) AS blk1,
        |    list_min(list_transform(sh_hashes,
        |      h -> ((((h % 2147483647) + 2147483647) % 2147483647) * 1103 + 12345) % 2147483647)) AS blk2,
        |    len(sh_hashes) AS n_sh
        |  FROM read_parquet('__AUX__/dd_shingles/*.parquet'))
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    floor(CAST(len(list_intersect(a.sh_hashes, b.sh_hashes)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh_hashes, b.sh_hashes))) * 10000 + 0.5) / 10000.0 AS jaccard
        |  FROM sh a JOIN sh b
        |    ON a.blk1 = b.blk1 AND a.blk2 = b.blk2 AND a.doc_id < b.doc_id
        |   AND b.n_sh * 5 >= a.n_sh * 4 AND a.n_sh * 5 >= b.n_sh * 4) t
        |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "dd_cluster" ->
      s"""WITH RECURSIVE $ccOracleCte
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM cc ORDER BY doc_id""".stripMargin,
    "dd_cluster_stats" ->
      s"""WITH RECURSIVE $ccOracleCte,
        |alldocs AS (
        |  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS label
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
        |sizes AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS sz
        |  FROM alldocs GROUP BY label)
        |SELECT CASE WHEN sz = 1 THEN '01' WHEN sz = 2 THEN '02'
        |  WHEN sz <= 4 THEN '03-04' WHEN sz <= 8 THEN '05-08'
        |  WHEN sz <= 16 THEN '09-16' ELSE '17+' END AS size_bucket,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs,
        |  CAST(max(sz) AS BIGINT) AS max_size
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,
    // the star variant must land on the identical labeling — the oracle
    // is deliberately the same independent transitive closure
    "dd_cluster_star" ->
      s"""WITH RECURSIVE $ccOracleCte
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM cc ORDER BY doc_id""".stripMargin,
    "dd_canonical" ->
      s"""WITH RECURSIVE $ccOracleCte,
        |quality AS (
        |  SELECT doc_id,
        |    floor(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |      * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text))
        |      * 10000 + 0.5) / 10000.0 AS quality_score
        |  FROM documents)
        |SELECT doc_id, cluster_id, quality_score,
        |  row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY quality_score DESC, doc_id) = 1 AS is_canonical
        |FROM (
        |  SELECT q.doc_id, coalesce(cc.cluster_id, q.doc_id) AS cluster_id, q.quality_score
        |  FROM quality q LEFT JOIN cc ON q.doc_id = cc.doc_id) t
        |ORDER BY doc_id""".stripMargin,
    "dd_exact" ->
      """SELECT min(doc_id) AS doc_id,
        | md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_hash
        |FROM documents GROUP BY 2 ORDER BY doc_id""".stripMargin,
    "dd_embed_cosine" ->
      s"""WITH b AS (
         | SELECT vec_id, embedding,
         |  ${OracleSql.adaptiveBucketSql("embedding", "SELECT count(*) FROM embeddings")} AS bucket
         | FROM embeddings)
         |SELECT vec_a, vec_b, cosine FROM (
         | SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
         |  floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])) * 10000 + 0.5) / 10000.0 AS cosine
         | FROM b a
         | JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])) >= 0.3) t
         |ORDER BY cosine DESC, vec_a, vec_b LIMIT 50""".stripMargin)

  /** The pair-quality oracle COMPOSES the dd_minhash_lsh oracle
    * verbatim as its pair-graph CTE (a banding/threshold change
    * reaches the audit automatically) and re-derives exact Jaccard
    * from the shingles dump, the dd_ngram_jaccard formula.
    */
  /** The (optionally sampled) pair-quality oracle body: `sampleWhere`
    * is interpolated as the pair-stream predicate — empty for the full
    * audit, the portable md5 1-in-8 sampler for the sampled twin.
    * Spark reads the first FOUR hex digits (conv(substr(md5(...),1,4),
    * 16,10) % 8); the oracle reads only the FOURTH digit's position in
    * '0123456789abcdef' — mathematically the same predicate, because
    * 16^k ≡ 0 (mod 8) for every k ≥ 1, so the three higher digits
    * contribute nothing to the mod. The single-char strpos form uses
    * no hex-string CAST (a DuckDB-version-dependent behavior the
    * round-11 advice flagged): substr + strpos + integer arithmetic
    * are core ANSI-ish SQL on any DuckDB build, so sample membership
    * stays cross-engine-checked without pinning a DuckDB version.
    */
  private def pairQualityOracle(sampleWhere: String): String =
    s"""WITH pairs AS (${baseOracles("dd_minhash_lsh")}),
      |sh AS (
      |  SELECT doc_id, sh_hashes FROM read_parquet('__AUX__/dd_shingles/*.parquet')),
      |t AS (
      |  SELECT p.est_jaccard,
      |    floor(CAST(len(list_intersect(a.sh_hashes, b.sh_hashes)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh_hashes, b.sh_hashes))) * 10000 + 0.5) / 10000.0 AS true_j
      |  FROM pairs p
      |  JOIN sh a ON p.doc_a = a.doc_id
      |  JOIN sh b ON p.doc_b = b.doc_id
      |  $sampleWhere)
      |SELECT CAST(floor(est_jaccard * 10) AS BIGINT) AS est_bucket,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(abs(CAST(floor(est_jaccard * 10000 + 0.5) AS BIGINT)
      |    - CAST(floor(true_j * 10000 + 0.5) AS BIGINT))) AS BIGINT) AS abs_err_e4,
      |  CAST(sum(CASE WHEN true_j < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
      |  CAST(min(CAST(floor(true_j * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS min_true_e4
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = baseOracles +
    // the sampled pair stream is the same SQL slice of the full oracle
    ("dd_minhash_lsh_sampled" ->
      s"""WITH pairs AS (${baseOracles("dd_minhash_lsh")})
        |SELECT doc_a, doc_b, est_jaccard FROM pairs
        |WHERE ((((doc_a % 1000003) * 4099 + doc_b % 1000003) % 1000003) * 2654435761) % 1048576 < 131072
        |ORDER BY doc_a, doc_b""".stripMargin) +
    ("dd_pair_quality" -> pairQualityOracle("")) +
    ("dd_pair_quality_sampled" -> pairQualityOracle(
      """WHERE ((((p.doc_a % 1000003) * 4099 + p.doc_b % 1000003) % 1000003) * 2654435761) % 1048576 < 131072"""))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** §2.E — text analysis for a training-data pipeline.
  *
  * Language ID (stopword-profile n-gram heuristic), quality scoring,
  * token counting (whitespace + BPE-ish regex), and a rolling-hash
  * document fingerprint. Everything is `functions._` composition —
  * codegen'd, shuffle-free (map-only over documents), so at 100 TB
  * these run at scan speed. No UDFs.
  */
object TextAnalysis {
  private type Q = (SparkSession, String) => DataFrame

  /** Cross-engine-stable 4dp quantization (see FundEtl.money2: round()
    * on doubles is not engine-stable near boundaries).
    */
  private def q4(c: Column): Column = floor(c * 10000 + 0.5) / lit(10000.0)

  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|of|and|to|in|a)\\b",
    "es" -> "\\b(el|la|de|que|los|es)\\b",
    "de" -> "\\b(der|die|und|das|ist|ein)\\b",
    "fr" -> "\\b(le|les|des|est|une|dans)\\b")

  /** Stopword-profile language ID: count marker hits per language,
    * argmax with a fixed priority tie-break. The reference's platform
    * classifier is the same shape — substring-signature scoring with
    * priority rules (purchase_confirm_extractor.py:1480-1501).
    */
  val txLangId: Q = (s, d) => {
    val scored = langMarkers.foldLeft(Tables.documents(s, d)) {
      case (df, (lang, pat)) =>
        df.withColumn(s"score_$lang", regexp_count(col("text"), lit(pat)).cast("long"))
    }
    val Seq(en, es, de, fr) = langMarkers.map { case (l, _) => col(s"score_$l") }
    scored.select(col("doc_id"),
        en.as("score_en"), es.as("score_es"), de.as("score_de"), fr.as("score_fr"),
        when(en >= es && en >= de && en >= fr && en > 0, "en")
          .when(es >= de && es >= fr && es > 0, "es")
          .when(de >= fr && de > 0, "de")
          .when(fr > 0, "fr")
          .otherwise("unknown").as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length, word count, mean word length, digit and
    * stopword ratios, composite score — the filters an LLM-data
    * pipeline runs before training.
    */
  val txQuality: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_len", length(col("text")).cast("double"))
      .withColumn("n_words", size(split(col("text"), " ")).cast("double"))
      .withColumn("n_stop", regexp_count(col("text"), lit("\\b(the|a|of|and|to)\\b")).cast("double"))
      .withColumn("n_digit", regexp_count(col("text"), lit("[0-9]")).cast("double"))
      .select(col("doc_id"),
        col("n_len").cast("long").as("len_chars"),
        col("n_words").cast("long").as("n_words"),
        q4((col("n_len") - col("n_words") + 1) / col("n_words")).as("avg_word_len"),
        q4(col("n_stop") / col("n_words")).as("stop_ratio"),
        q4(col("n_digit") / col("n_len")).as("digit_ratio"),
        q4(least(col("n_words") / 100.0, lit(1.0)) *
          (lit(1.0) - col("n_digit") / col("n_len"))).as("quality_score"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens plus a BPE-ish regex token
    * stream (letter runs / digit runs / single other chars).
    */
  val txTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        // native one-pass kernel; bit parity with the
        // regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') twin is
        // pinned in TextExprsSpec (the DuckDB oracle still runs the
        // regex form)
        graft.functions.TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_text"))
      .orderBy(col("doc_id"))

  /** Rolling-hash fingerprint over the token stream — a polynomial
    * hash (mod 1e9+7) of (first-char, length) token features, computed
    * with the `aggregate` higher-order function so it stays inside
    * codegen. Mirrors content-fingerprint dedup keys.
    */
  val txFingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        aggregate(
          transform(split(col("text"), " "), x => (ascii(x) * 7 + length(x)).cast("long")),
          lit(0L),
          (acc, x) => pmod(acc * 31 + x, lit(1000000007L))).as("fingerprint"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  /** End-to-end corpus cleaning — the composition an LLM-data pipeline
    * actually runs: quality-gate (length + digit ratio + score), then
    * exact-dedup survivors (min doc_id per normalized digest). The
    * near-dup removal stage on top of this lives in Dedup (rows-only —
    * seeded MinHash); this deterministic core is oracle-checked.
    */
  val txCleanCorpus: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_len", length(col("text")).cast("double"))
      .withColumn("n_words", size(split(col("text"), " ")).cast("double"))
      .withColumn("n_digit", regexp_count(col("text"), lit("[0-9]")).cast("double"))
      .withColumn("quality_score",
        q4(least(col("n_words") / 100.0, lit(1.0)) *
          (lit(1.0) - col("n_digit") / col("n_len"))))
      .filter(col("n_words") >= 10 && col("n_digit") / col("n_len") < 0.3 &&
        col("quality_score") >= 0.1)
      .withColumn("text_hash", md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("lang")).as("lang"),
        min(col("quality_score")).as("quality_score"))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("text_hash"))
      .orderBy(col("doc_id"))

  /** §2.E round 11 — the composed TEXT-CURATION FLAGSHIP, completing
    * the pipeline triad (dd_pipeline dedups text at scale, mm_pipeline
    * curates images; this is the per-document curation MANIFEST an
    * LLM-data run materializes): quality gate → exact dedup among the
    * survivors → token accounting → pack assignment, ONE DAG over ONE
    * corpus scan. Every document gets a row — kept rows carry their
    * pack, dropped rows carry WHY ('quality' | 'duplicate') and, for
    * duplicates, WHICH keeper superseded them (the keeper_id redirect,
    * the mm_pipeline keep_file move on the text side). Quality
    * formulas are tx_clean_corpus's verbatim; the dup keeper is
    * min(doc_id) over the normalized-text hash among quality-passers
    * (an unordered window aggregate — no rank, no per-group sort);
    * packing is tx_pack's per-source running fold restricted to kept
    * docs (dropped docs contribute zero, so pack boundaries are
    * exactly what a post-curation pack pass would produce). Plan: one
    * scan, map-side scoring, two partitioned windows (text_hash,
    * source) + the presentation sort — plan-pinned ≤3 exchanges, no
    * join, no SinglePartition. At 100 TB both window keys are the
    * shuffle keys the semantics need anyway, and the source chain is
    * salted to (source, shard) exactly as tx_pack documents.
    */
  val txPipeline: Q = (s, d) => {
    val budget = 2000L
    val kept = col("drop_reason").isNull
    val bySource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curationScored(Tables.documents(s, d))
      .withColumn("keeper",
        min(when(col("q_ok"), col("doc_id")))
          .over(Window.partitionBy(col("text_hash"))))
      .withColumn("drop_reason",
        when(!col("q_ok"), "quality")
          .when(col("doc_id") =!= col("keeper"), "duplicate"))
      .withColumn("n_toks", when(kept, col("toks")))
      .withColumn("cum_toks",
        sum(coalesce(col("n_toks"), lit(0L))).over(bySource))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("drop_reason"),
        when(col("drop_reason") === "duplicate", col("keeper")).as("keeper_id"),
        col("n_toks"),
        when(kept, expr(s"(cum_toks - 1) div $budget")).as("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** The per-document scoring kernel [[txPipeline]] and the
    * incremental curation twin (EventStreams.curationApplyBatch /
    * [[txCurationIncremental]]) share — ONE implementation of the
    * quality formulas, the normalized-text hash and the token count,
    * so the batch flagship and its stream-shaped twin can never
    * diverge (the Dedup.minhashSigTableOf precedent). Map-only: at
    * 100 TB this runs at scan speed on whatever slice it's handed.
    * Input needs (doc_id, source, text); `toks` is the whitespace
    * token count kept documents carry as n_toks.
    */
  private[graft] def curationScored(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_len", length(col("text")).cast("double"))
      .withColumn("n_words", size(split(col("text"), " ")).cast("double"))
      .withColumn("n_digit", regexp_count(col("text"), lit("[0-9]")).cast("double"))
      .withColumn("quality_score",
        q4(least(col("n_words") / 100.0, lit(1.0)) *
          (lit(1.0) - col("n_digit") / col("n_len"))))
      .withColumn("q_ok", col("n_words") >= 10 &&
        col("n_digit") / col("n_len") < 0.3 && col("quality_score") >= 0.1)
      .withColumn("text_hash",
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .withColumn("toks", col("n_words").cast("long"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("q_ok"), col("text_hash"), col("toks"))

  /** §2.E round 13 — INCREMENTAL curation (the SURVEY §9 backlog item,
    * landed as the batch-apply variant §9 blessed: chained
    * flatMapGroupsWithState can't express keeper-state + pack-cursor
    * in update mode, so a foreachBatch-shaped apply hosts both as
    * plain joins against persisted state). The corpus arrives in
    * ascending-doc_id batches; each batch curates against a keeper
    * store (text_hash → first q_ok doc_id — a bucketed managed table,
    * so at scale the probe join co-partitions against the store
    * without reshuffling it) and a per-source pack cursor (one row
    * per source, rewritten whole per batch), emitting batch by batch
    * EXACTLY the manifest the one-shot [[txPipeline]] flagship
    * computes over the full corpus. The arrival-order contract makes
    * the equivalence exact: batches are doc_id ranges, so first-seen
    * q_ok == min(doc_id) and the cursor offsets reproduce the global
    * per-source running fold. The ORACLE IS THE BATCH FLAGSHIP'S SQL
    * — the driver gate checks stream/batch equivalence end-to-end,
    * not just a spec. Here the batch split is thirds of the doc_id
    * range (two 1-row bounded collects: min/max id); state and
    * batch outputs live under a per-call temp dir and the result is
    * localCheckpoint'd before cleanup so the returned frame owns its
    * data (no dangling temp-file lineage).
    */
  val txCurationIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val keeperTbl = s"graft_curation_keeper_$tag"
    val tmp = java.nio.file.Files.createTempDirectory("graft-curation").toString
    try {
      Seq(docs.filter(col("doc_id") <= cut1),
          docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
          docs.filter(col("doc_id") > cut2))
        .zipWithIndex.foreach { case (b, i) =>
          graft.streaming.EventStreams.curationApplyBatch(
            b, i.toLong, keeperTbl, s"$tmp/cursor", s"$tmp/out")
        }
      s.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
        .orderBy(col("doc_id"))
        .localCheckpoint()
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $keeperTbl")
      try graft.TempDirs.deleteRecursively(tmp)
      catch { case _: Throwable => () } // best-effort temp cleanup
    }
  }

  /** PII-style redaction: digit runs → <NUM>, long hex-ish tokens →
    * <ID>, email-shaped tokens → <EMAIL> — the masking pass a
    * training-data pipeline runs before tokenization. Deterministic,
    * map-only.
    */
  val txRedact: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), "[a-z0-9.+-]+@[a-z0-9.-]+", "<EMAIL>"),
            "[0-9]{4,}", "<NUM>"),
          "\\b[a-f0-9]{16,}\\b", "<ID>"))
      .select(col("doc_id"),
        col("redacted"),
        (col("redacted") =!= col("text")).as("was_redacted"),
        regexp_count(col("redacted"), lit("<NUM>")).cast("long").as("n_num_masks"))
      .orderBy(col("doc_id"))

  /** Bigram frequency table — sliding-window n-gram stats over the
    * corpus (explode the zipped token stream, one shuffle on the
    * bigram key with map-side combine).
    */
  val txBigrams: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(expr(
        """CASE WHEN size(split(text, ' ')) < 2 THEN array()
          | ELSE zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |               slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |               (a, b) -> concat(a, ' ', b)) END""".stripMargin)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(30)

  /** Deterministic stratified sampling — per-language rates via a
    * multiplicative hash of the document id (Knuth constant, id first
    * reduced mod 1000003 so the product never overflows ANSI bigint), so the
    * sample is reproducible across runs and engines: the selection an
    * LLM-data pipeline makes when rebalancing a corpus.
    */
  val txSampleStratified: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("bucket", graft.functions.SampleHash.bucket(col("doc_id"), 100L))
      .withColumn("rate",
        when(col("lang") === "en", 80)
          .when(col("lang").isin("de", "fr", "es"), 50)
          .otherwise(30))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"),
        col("rate").cast("long").as("rate"))
      .orderBy(col("doc_id"))

  /** Deterministic text AUGMENTATION (word dropout) — the EDA-style
    * corpus-expansion pass a training pipeline runs to regularize
    * small domains: each word survives unless its (doc, position)
    * selector lands in the 10% dropout band. The selector is the
    * engine's ONE sampling hash ([[graft.functions.SampleHash]]) over
    * key = doc_id·4099 + position, so the augmentation is exactly
    * reproducible across runs AND engines — augmentation that can't
    * be replayed can't be debugged or deduplicated against its
    * source. Map-only: one filter+transform HOF chain per document,
    * zero shuffle; emits the augmented text's md5 plus drop counts
    * (the md5 pins every byte without doubling the corpus through
    * the compare). Words, not characters: dropout must respect token
    * boundaries or it just manufactures OOV noise.
    */
  val txAugmentDropout: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("kept", expr(
        """filter(transform(words, (w, i) -> struct(w AS w, i AS i)),
          |  x -> pmod(pmod(doc_id * 4099 + x.i, 1000003) * 2654435761, 10) != 0)""".stripMargin))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        (size(col("words")) - size(col("kept"))).cast("long").as("n_dropped"),
        md5(expr("array_join(transform(kept, x -> x.w), ' ')").cast("binary")).as("aug_md5"))
      .orderBy(col("doc_id"))

  /** Document-frequency token pruning — the word-level analog of
    * boilerplate removal: tokens present in > 78% of documents carry
    * no signal (corpus-level stopwords) and are stripped before
    * training. Two shuffles total: one distinct+groupBy for the df
    * table (vocabulary-sized, Zipf-bounded), one groupBy to reassemble
    * documents; the df join keys on the token (AQE broadcasts it when
    * small — no forced hint, the vocabulary of a 100 TB corpus may not
    * fit an executor). Token order is restored via posexplode +
    * array_sort over (pos, tok) structs, so the rebuilt text is
    * deterministic. The corpus is deliberately scanned twice (df
    * branch + rebuild branch) rather than persisting the exploded
    * token stream: the explosion is a ~3× size blowup, and at corpus
    * scale a second columnar scan is cheaper than caching it; the
    * third scan in the plan is the zero-column count(*) (row-count
    * metadata only).
    */
  val txDfPrune: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val df = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    toks.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("keep", col("df") * 100 <= col("n_docs") * 78)
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN keep THEN struct(pos, tok) END)), x -> x.tok), ' ')")
          .as("pruned_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_pruned"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark DECONTAMINATION — the pipeline stage that drops
    * training documents overlapping an evaluation set: word-3-gram
    * shingles on both sides, equi-join on the shingle (never pairwise
    * doc×doc), distinct-overlap count per (corpus doc, benchmark doc),
    * flag at ≥ 5 shared shingles. The benchmark stand-in is doc_id <
    * 20; corpus side is everything else. Shuffle volume is the shingle
    * stream; the benchmark side is broadcast-size by construction
    * (eval sets are small) — asymmetric by design, unlike the
    * symmetric dd_ngram_jaccard near-dup pass.
    */
  /** Word-3-gram shingles, distinct per document — shared by the
    * decontamination family (exact join and bloom-gated variants must
    * shingle identically or their equality contract is vacuous).
    */
  private[graft] def contamShingles(df: DataFrame, idAs: String): DataFrame = df
    .withColumn("norm", lower(regexp_replace(trim(col("text")), "\\s+", " ")))
    .withColumn("toks", split(col("norm"), " "))
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id").as(idAs), explode(expr(
      """array_distinct(transform(sequence(0, size(toks)-3),
        |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))""".stripMargin))
      .as("shingle"))

  val txDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = contamShingles(docs.filter(col("doc_id") < 20), "bench_id")
    val corpus = contamShingles(docs.filter(col("doc_id") >= 20), "doc_id")
    corpus.join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** BLOOM-GATED decontamination — same contract as [[txDecontaminate]]
    * (bitwise-identical output; the oracle is the same exact-join SQL),
    * different 100 TB shape: a bloom filter over the eval-set shingle
    * hashes (built once, a few hundred KB, inlined as a literal the
    * way dd_embed_cosine inlines its planes) gates the corpus shingle
    * stream MAP-ONLY before any join. With a broadcast-size eval set
    * the gate trims probe work; the shape it exists for is the eval
    * side outgrowing broadcast (full held-out corpora, multi-benchmark
    * suites) where the shingle join becomes shuffle-shuffle — then the
    * gate is what keeps the corpus-side shuffle at ~the contaminated
    * fraction instead of every shingle of every document. False
    * positives cost only wasted join probes (the exact join behind the
    * gate kills them); false negatives don't exist, so the equality
    * contract holds by construction. The probe is Spark's own
    * runtime-filter expression — codegen'd, sketch deserialized once
    * per task, not per row (BloomFuncs).
    */
  val txDecontaminateBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // persisted: the eval-side shingle stream is read twice (the bloom
    // build's .head action, then the broadcast join side). NEGATIVE
    // RESULT (round 18): converting this persist to the §10-style
    // eager localCheckpoint measured ~2× SLOWER warm (1.16-1.56 →
    // 2.37-2.90 s, Profile min-of-3 at sf0.1) — the frame is tiny and
    // both consumers are cheap, so the eager materialization job +
    // serialized-block reads cost more than the two AQE re-plans the
    // checkpoint saves. The multi-action rule pays off on frames whose
    // per-action re-planning is expensive, not on 20-doc shingle sets.
    val bench = contamShingles(docs.filter(col("doc_id") < 20), "bench_id").persist()
    val corpus = contamShingles(docs.filter(col("doc_id") >= 20), "doc_id")
    // 20 eval docs × ≤~1k shingles: 64Ki capacity / 8 bits-per-item
    // (~2% FP) is generous headroom at every committed SF; a real
    // deployment sizes from the eval-set count it already knows.
    val bloomBytes = bench
      .agg(graft.functions.BloomFuncs.bloomAgg(
        xxhash64(col("shingle")), 65536L, 8L * 65536L))
      .head.getAs[Array[Byte]](0)
    corpus
      .filter(graft.functions.BloomFuncs.bloomMightContain(
        bloomBytes, xxhash64(col("shingle"))))
      .join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** The decontamination pair PARAMETERIZED for the crossover
    * measurement (OperatorsSpec pins bloom == exact on it): eval set
    * = doc_id < benchMax, and — unlike the registered harness-SF
    * operators — the shingle join carries NO broadcast hint, so the planner does what
    * it would at deployment: broadcast while the eval side fits,
    * shuffle both sides once it doesn't. That unhinted large-eval
    * regime is exactly where the bloom gate earns its keep (the
    * map-only prune keeps the corpus side of the shuffle at ~the
    * contaminated fraction). Bloom capacity sizes from the measured
    * eval shingle count, clamped at 4M items / 4MB of literal — past
    * the clamp the FP rate degrades gracefully (the exact join behind
    * the gate keeps the output identical regardless).
    */
  private[graft] def decontamMeasure(s: SparkSession, d: String,
      benchMax: Long, useBloom: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    // persist only on the bloom path, where the eval shingles feed two
    // driver-materialized reads (count, bloom build) before the join;
    // the persist lifetime stays INSIDE this function — unpersisted as
    // soon as the bloom literal is collected, so no caller (the spec
    // never clearCache()s) inherits executor storage. The
    // returned join recomputes the small eval side once, exactly like
    // the exact path does.
    val bench0 = contamShingles(docs.filter(col("doc_id") < benchMax), "bench_id")
    val corpus = contamShingles(docs.filter(col("doc_id") >= benchMax), "doc_id")
    val gated = if (useBloom) {
      val bench = bench0.persist()
      val cap = math.min(bench.count() * 2, 1L << 22)
      val bloomBytes = bench
        .agg(graft.functions.BloomFuncs.bloomAgg(
          xxhash64(col("shingle")), cap, 8L * cap))
        .head.getAs[Array[Byte]](0)
      bench.unpersist(blocking = true)
      corpus.filter(graft.functions.BloomFuncs.bloomMightContain(
        bloomBytes, xxhash64(col("shingle"))))
    } else corpus
    gated.join(bench0, "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
  }

  /** N-GRAM LM scoring — the shape behind perplexity filtering, the
    * other standard quality gate next to the rule-based ones
    * (tx_quality / tx_repetition): train a bigram model from corpus
    * counts (two partial-aggregating groupBys; the unigram table
    * derives from the bigram table, not a second corpus pass), score
    * every document by its average bigram conditional probability
    * C(w1,w2)/C(w1), and surface the most-surprising bigram (min p) as
    * the outlier signal. Scoring is integer end-to-end — each
    * probability is quantized to ppm BEFORE aggregation, so sums and
    * integer-division averages are exact in any execution order and
    * any engine (float log-sums are not; a real deployment swaps in a
    * trained LM, same plan: broadcast model, map-side scoring).
    *
    * THE MODEL IS DF-PRUNED AND BROADCAST — the scoring join must
    * never shuffle the exploded bigram stream: its key is Zipf-skewed
    * ("of the"-class bigrams land on single reducers at corpus scale)
    * and the raw model grows with the vocabulary, so a shuffled join
    * is the plan that dies at 100 TB. The prune threshold
    * T = max(2, Σc12 / 10⁶) bounds the model AT ≤ 10⁶ ROWS BY
    * CONSTRUCTION (at most Σc/T types can have count ≥ T), so the
    * model is broadcast-size at ANY corpus size and the scoring join
    * is a map-only BroadcastHashJoin — skew vanishes because nothing
    * shuffles on the bigram key. Bigrams outside the pruned model
    * score the OOV floor p = 1 ppm (maximally surprising), via a left
    * join + coalesce, so every ≥2-token document keeps exactly its
    * n_bigrams and its output row. Probabilities stay TRUE conditional
    * counts c12/c1 — pruning selects which rows ship, it never alters
    * a surviving probability. Model TRAINING still shuffles, but only
    * bigram TYPES (two partial-aggregating groupBys), never the
    * per-document stream.
    */
  val txLmScore: Q = (s, d) => {
    val bigrams = Tables.documents(s, d)
      .withColumn("toks",
        split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks)-2),
          |  i -> struct(toks[i] AS w1, toks[i+1] AS w2))""".stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // Deliberately NOT persisted although both the model lineage and
    // the scoring join read this stream: A/B at 25× measured 19.3s
    // either way (the cost is the two model shuffles, not the codegen'd
    // tokenize re-scan), and caching the ~25M-row exploded stream pays
    // real memory. Contrast ddSemantic, where the recomputed
    // projection WAS the dominant cost and the barrier won 5×.
    val bgCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val w1Counts = bgCounts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val total = bgCounts.agg(sum(col("c12")).as("n_total"))
    val model = bgCounts.crossJoin(broadcast(total))
      .filter(col("c12") >= greatest(lit(2L), expr("n_total div 1000000")))
      .join(w1Counts, "w1")
      .withColumn("p_e6",
        floor(col("c12") * 1000000.0 / col("c1") + 0.5).cast("long"))
      .select(col("w1"), col("w2"), col("p_e6"))
    bigrams.join(broadcast(model), Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("p_e6"), lit(1L))).as("sum_p"),
        min(coalesce(col("p_e6"), lit(1L))).as("min_p_e6"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_p div n_bigrams").as("avg_p_e6"), col("min_p_e6"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-based quality filters (the Gopher-rules family):
    * unique-token ratio, duplicated-bigram fraction, and top-token
    * fraction, with a composite repetitiveness flag. Everything is
    * map-only array arithmetic over the token list — including the
    * most-frequent-token count, computed as the longest equal-run of
    * the SORTED token array via a single `aggregate` fold (struct
    * accumulator: previous token, current run, best run) — so the
    * operator runs at scan speed with zero shuffle; the DuckDB oracle
    * derives the same mode count independently via unnest + group-by.
    */
  val txRepetition: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("bigrams", expr(
        """CASE WHEN size(toks) < 2 THEN array()
          | ELSE zip_with(slice(toks, 1, size(toks) - 1),
          |               slice(toks, 2, size(toks) - 1),
          |               (a, b) -> concat(a, ' ', b)) END""".stripMargin))
      .withColumn("n_bg", size(col("bigrams")).cast("long"))
      .withColumn("n_uniq_bg", size(array_distinct(col("bigrams"))).cast("long"))
      // native one-pass hashmap kernel; the array_sort + equal-run
      // `aggregate` fold it replaces is its bit-parity twin in
      // TextExprsSpec (interpreted HOF folds are the 4-8× tax shape
      // at corpus scale)
      .withColumn("top_run",
        graft.functions.TextFunctions.tokenModeCount(col("toks")))
      .select(col("doc_id"), col("n_words"),
        q4(col("n_uniq").cast("double") / col("n_words")).as("uniq_ratio"),
        when(col("n_bg") === 0, 0.0).otherwise(
          q4(lit(1.0) - col("n_uniq_bg").cast("double") / col("n_bg"))).as("dup_bigram_frac"),
        q4(col("top_run").cast("double") / col("n_words")).as("top_tok_frac"))
      .withColumn("is_repetitive",
        col("dup_bigram_frac") > 0.3 || col("top_tok_frac") > 0.2)
      .orderBy(col("doc_id"))

  /** Corpus MIX REBALANCING — the domain/language-mixing stage of a
    * training-data pipeline: a broadcast target-mix relation (lang →
    * parts-per-million share) is joined against the measured per-lang
    * counts, giving a deterministic downsampling rate per language
    * (rate_e6 = target_ppm × total / count, capped at keep-all);
    * selection reuses the stratified-sampling hash so the sample is
    * reproducible across runs and engines. All integer arithmetic —
    * no float rates to drift cross-engine. Two broadcast joins over
    * one corpus scan; the count aggregation is the only shuffle.
    */
  val txMixRebalance: Q = (s, d) => {
    val sqlCtx = s
    import sqlCtx.implicits._
    val targets = Seq(("en", 300000L), ("es", 200000L), ("de", 200000L),
      ("fr", 150000L), ("zh", 150000L)).toDF("lang", "target_ppm")
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val total = docs.agg(count(lit(1)).as("total"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(total))
      .join(broadcast(targets), Seq("lang"), "left")
      .withColumn("rate_e6", least(lit(1000000L),
        expr("coalesce(target_ppm, 0L) * total div cnt")))
      .withColumn("bucket",
        graft.functions.SampleHash.bucket(col("doc_id"), 1000000L))
      .filter(col("bucket") < col("rate_e6"))
      .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"),
        col("rate_e6").cast("long").as("rate_e6"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-window token CHUNKING with overlap — the pretraining/RAG
    * chunker [[txPack]] is the complement of: packing concatenates
    * SHORT documents up to the budget, chunking splits LONG documents
    * across it. Window = 64 tokens, stride = 48 (16-token overlap so
    * no boundary context is lost); chunk i covers tokens
    * [i·48, i·48+64), the last chunk may be short, and an n ≤ 64
    * document is exactly one chunk. All integer: n_chunks =
    * 1 + ⌈(n−64)/48⌉ via the (a+b−1) div b form. Shape: one map-side
    * posexplode + native array slice/join per chunk — zero shuffles
    * except the presentation sort, scan-speed at any corpus size, and
    * the explode factor is bounded by corpus tokens / stride by
    * construction.
    */
  val txChunk: Q = (s, d) => {
    val (win, stride) = (64, 48)
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks_doc", size(col("toks")))
      .withColumn("n_chunks", expr(
        s"CASE WHEN n_toks_doc <= $win THEN 1 " +
          s"ELSE 1 + (n_toks_doc - $win + ${stride - 1}) div $stride END"))
      .select(col("doc_id"), col("toks"), col("n_toks_doc"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("chunk_toks",
        expr(s"slice(toks, start_tok + 1, $win)"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(col("chunk_toks")).cast("long").as("n_toks"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** TEMPERATURE-based corpus mixing — the other standard mixing
    * contract next to [[txMixRebalance]]'s explicit target table: no
    * targets are given, the mix is DERIVED from the measured corpus
    * itself as p(lang) ∝ n^(1/τ) with τ = 2 (the multilingual
    * temperature-sampling rule — up-weights low-resource languages,
    * flattens the natural-size distribution without discarding it;
    * on this corpus en is ~3× every other language and comes out
    * rate-capped lowest). Integer contract: weight = floor(sqrt(n)) —
    * IEEE-754 sqrt of an exactly representable integer is correctly
    * rounded in both engines, so the floor is engine-exact — and the
    * per-language keep rate for a half-corpus budget is the pure
    * integer-division chain ((10⁶·w) div Σw) · (N div 2) div n,
    * staged so no intermediate exceeds bigint below Σn ≈ 8·10²⁵
    * documents. rate_ppm_raw > 10⁶ marks a language the recipe would
    * UPSAMPLE (epoch repetition at training time — selection here
    * caps at keep-all); selection reuses the engine's reproducible
    * sampling hash. Shape: ONE lang-level aggregate (totals derive
    * from it via a global window whose SinglePartition frame carries
    * ~|langs| rows — never a second corpus scan) broadcast back over
    * the corpus; the summary groupBy is the only other corpus-width
    * shuffle — two scans, two hash exchanges at any scale
    * (plan-pinned).
    */
  val txMixTemperature: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .withColumn("weight", floor(sqrt(col("cnt"))).cast("long"))
    // totals via a global window over the LANG-CARDINALITY aggregate —
    // the SinglePartition exchange carries ~|langs| rows, and deriving
    // them from `counts` itself (instead of a second docs.agg) keeps
    // the corpus at exactly two scans: Catalyst doesn't share an
    // uncached subtree, so a separate total aggregate re-scans
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = counts
      .withColumn("n_total", sum(col("cnt")).over(wAll))
      .withColumn("w_total", sum(col("weight")).over(wAll))
      .withColumn("rate_ppm_raw",
        expr("((1000000 * weight) div w_total) * (n_total div 2) div cnt"))
      .withColumn("rate_ppm", least(lit(1000000L), col("rate_ppm_raw")))
      .select(col("lang"), col("cnt"), col("weight"),
        col("rate_ppm_raw"), col("rate_ppm"))
    docs.select(col("doc_id"), col("lang"))
      .join(broadcast(rates), "lang")
      .withColumn("keep",
        graft.functions.SampleHash.bucket(col("doc_id"), 1000000L)
          < col("rate_ppm"))
      .groupBy(col("lang"))
      .agg(max(col("cnt")).as("n_docs"), max(col("weight")).as("weight"),
        max(col("rate_ppm_raw")).as("rate_ppm_raw"),
        max(col("rate_ppm")).as("rate_ppm"),
        sum(col("keep").cast("long")).as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** Sequence PACKING — assign documents to fixed-token-budget packs
    * (the sample-packing stage before training): per source, documents
    * fill packs greedily in doc_id order via a running token sum;
    * pack_id = (cumulative − 1) div budget. The window partitions by
    * source, so packing parallelizes across sources; the running sum
    * within one source is inherently sequential (packing is an ordered
    * fold) — at corpus scale the pack key is salted to (source, shard)
    * to bound any one chain, which only renames packs.
    */
  val txPack: Q = (s, d) => {
    val budget = 2000L
    val bySource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_toks", sum(col("n_toks")).over(bySource))
      .withColumn("pack_id", expr(s"(cum_toks - 1) div $budget"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"),
        col("pack_id"))
      .orderBy(col("doc_id"))
  }

  private val decontaminateOracle: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(toks)-2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      |  FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS toks
      |        FROM documents) t
      |  WHERE len(toks) >= 3)
      |SELECT c.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM (SELECT * FROM sh WHERE doc_id >= 20) c
      |JOIN (SELECT * FROM sh WHERE doc_id < 20) b USING (shingle)
      |GROUP BY 1, 2 HAVING count(*) >= 5
      |ORDER BY 1, 2""".stripMargin

  /** Cross-document REPEATED-PASSAGE detection — the finding behind
    * substring-level training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * boilerplate passages repeat across otherwise-distinct documents
    * and near-dup detection at document granularity cannot see them.
    * Windows of 8 words at stride 4 (half-overlap, so any repeated
    * run ≥ 11 words is guaranteed to land a shared window in BOTH
    * documents regardless of alignment) are grouped; a passage
    * appearing in ≥2 distinct documents is emitted with its spread.
    * Map-side explode is declarative (split → sequence → transform →
    * explode, all codegen'd); partial aggregation collapses
    * within-partition repeats before the shuffle, so shuffle volume
    * is per-partition-DISTINCT passages, not raw windows. At 100 TB
    * the group key becomes xxhash64(passage) with the text carried
    * via first() — same plan shape, fixed-width shuffle key; the
    * text key here keeps the oracle exact end-to-end.
    */
  val txRepeatedPassages: Q = (s, d) => {
    val win = 8
    val stride = 4
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= win)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $win, $stride), i -> array_join(slice(w, i + 1, $win), ' '))"))
        .as("passage"))
      .groupBy(col("passage"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("passage"))
  }

  /** Duplicated-span REMOVAL with document reassembly — the other half
    * of substring-level dedup (tx_repeated_passages DETECTS repeated
    * passages; this op actually rewrites the corpus the way the C4 /
    * Lee et al. 2022 pipelines do before training). Documents are cut
    * into NON-overlapping 8-word spans (non-overlap makes removal
    * well-defined: every word belongs to exactly one span, so the span
    * table is the same size as the corpus, not win× larger); a full
    * span appearing in ≥2 distinct documents is cut from ALL of them;
    * the partial tail span (< 8 words) is never dedup-eligible. Each
    * document is reassembled from its surviving spans in position
    * order and emitted as (span counts, cleaned length, cleaned-text
    * md5) — the md5 pins every byte of the rewrite without shipping
    * the full text through the result compare twice. Plan: the span
    * table is materialized ONCE (localCheckpoint) and feeds both the
    * global duplicate aggregate and the mark join — without the
    * barrier both branches re-scan and re-explode the corpus. Shuffle
    * volume is corpus-sized short strings for the span aggregate (at
    * 10⁹+ docs the group key becomes xxhash64(span) with text via
    * first(), the tx_repeated_passages note applied), and reassembly
    * groups by doc_id — per-group state bounded by document length.
    */
  val txSpanDedup: Q = (s, d) => {
    val win = 8
    val spans = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).as("n"),
        posexplode(expr(
          s"transform(sequence(0, (size(w) - 1) div $win), " +
            s"i -> array_join(slice(w, i * $win + 1, $win), ' '))")))
      .withColumnRenamed("col", "span")
      .withColumn("is_full", (col("pos") + 1) * win <= col("n"))
      .localCheckpoint()
    val dups = spans.filter(col("is_full"))
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("span"), lit(true).as("is_dup"))
    val clean = concat_ws(" ", expr(
      "transform(array_sort(collect_list(CASE WHEN NOT removed THEN struct(pos, span) END)), x -> x.span)"))
    spans.join(dups, Seq("span"), "left")
      .withColumn("removed", col("is_full") && col("is_dup").isNotNull)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        length(clean).cast("long").as("clean_len"),
        md5(clean.cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge-candidate statistics — the first iteration of byte-pair
    * tokenizer training (the vocabulary-induction step an LLM-data
    * engine runs before tokenizing a corpus): collapse the corpus to
    * its word-frequency VOCAB (the aggregate a BPE trainer actually
    * iterates on — corpus-size-independent once built), explode each
    * word into adjacent character pairs, and weight every pair by its
    * word's corpus frequency; the top-20 pairs by weighted count (ties
    * by symbol) are the merge candidates. Exact integer counts. The
    * full trainer is this op driver-iterated: merge the top pair into
    * the vocab's symbol sequences and recompute — each round touches
    * only the vocab table, never the corpus again, which is why BPE
    * training scales: the corpus pass happens ONCE (the word count),
    * bounded-vocab passes happen per merge.
    */
  val txBpePairs: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
    vocab
      .select(col("wf"), posexplode(expr(
        "transform(sequence(1, length(word) - 1), i -> struct(substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b))")))
      .select(col("wf"), col("col.a").as("sym_a"), col("col.b").as("sym_b"))
      .groupBy(col("sym_a"), col("sym_b"))
      .agg(sum(col("wf")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
      .limit(20)
  }

  /** BPE merge APPLICATION — the other half of the tokenizer
    * lifecycle (tx_bpe_pairs trains the merge candidates; this op
    * tokenizes the corpus with a merge list and reports the
    * compression it buys, the measurement that decides how many
    * merges a vocabulary is worth). Each word becomes a spaced
    * character sequence; the 5 merges (this corpus's own top pairs,
    * literal like txBm25's query set so the oracle re-derives
    * nothing) apply as SEQUENTIAL literal replaces — exactly the BPE
    * application rule, order significant; tokens are then the spaced
    * segments. Everything is codegen'd string/HOF composition inside
    * one projection — map-only, zero shuffle before the presentation
    * sort — and the outputs are exact integers (token counts,
    * truncating-div compression ppm).
    */
  val txBpeApply: Q = (s, d) => {
    val merges = Seq("e" -> "r", "i" -> "n", "o" -> "r", "s" -> "t", "o" -> "w")
    val spaced = "trim(regexp_replace(w, '(.)', '$1 '))"
    val merged = merges.foldLeft(spaced) { case (acc, (a, b)) =>
      s"replace($acc, '$a $b', '$a$b')"
    }
    val tokensPerWord =
      s"length($merged) - length(replace($merged, ' ', '')) + 1"
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        expr("aggregate(transform(words, w -> length(w)), 0L, (acc, x) -> acc + x)")
          .as("n_chars"),
        expr(s"aggregate(transform(words, w -> CAST(($tokensPerWord) AS BIGINT)), 0L, (acc, x) -> acc + x)")
          .as("n_tokens"))
      .withColumn("compression_ppm", expr(
        "CASE WHEN n_chars > 0 THEN n_tokens * 1000000 div n_chars ELSE 0 END"))
      .orderBy(col("doc_id"))
  }

  /** §2.E round 11 — the ITERATED BPE trainer (closing round 10's
    * "iteration 1 only" gap): the real vocabulary-induction loop, 8
    * sequential merges driver-orchestrated over the bounded vocab.
    * The corpus is touched exactly ONCE (the word-frequency
    * aggregate); every merge round then runs ONE bounded aggregate
    * over the vocab frame — adjacent-SYMBOL pair counts (multi-char
    * symbols after merges, so pairs come from the space-split token
    * array, not substr) reduced to a 1-row driver read carrying both
    * the argmax (min(struct(-cnt, a, b)) ≡ pair_count DESC, sym_a,
    * sym_b — deterministic) and the previous round's corpus token
    * count (Σ pair weight + the merge-invariant Σwf — see
    * [[trainedMerges]]); the literal merge applies via space-sentinel
    * replace(' a b ' → ' ab '), which is left-to-right
    * non-overlapping in Spark, DuckDB AND java.lang.String alike (the
    * classic BPE scan order; spec-replayed). The vocab
    * localCheckpoints every SECOND round — lineage stays ≤2 literal
    * replaces deep, so round N never replays rounds 1..N-1 (the
    * CC-loop lineage contract) while half the materialization jobs
    * disappear (round 18). Output: one row per learned merge with the
    * corpus token count AFTER that merge — the BPE training curve
    * that decides how many merges a vocabulary is worth (weighted by
    * wf, so it prices the CORPUS, while only vocab rows are ever
    * touched). Merge strings pass through lit()/parameters, never
    * SQL interpolation — a quote in a corpus symbol must not break
    * the trainer. At 100 TB: vocab is Heaps-law bounded and
    * df-prunable; per-merge cost is vocab-proportional, corpus cost
    * is the single initial aggregate. Oracle: the full 8-round
    * recurrence unrolled as sequential CTE pairs (m_k argmax, v_k
    * re-spaced vocab) — the dd_graph_rank precedent, so DuckDB
    * re-learns every merge from raw text and the trained list
    * provably reproduces.
    */
  val txBpeTrain: Q = (s, d) => {
    import s.implicits._
    trainedMerges(s, d)
      .toDF("step", "sym_a", "sym_b", "pair_count", "corpus_tokens")
      .orderBy(col("step"))
  }

  /** The trainer's merge loop — shared by [[txBpeTrain]] (which
    * renders the list + curve) and [[txBpeTokenize]] (which applies
    * the learned list to the corpus). Returns
    * (step, sym_a, sym_b, pair_count, corpus_tokens_after).
    */
  private def trainedMerges(s: SparkSession,
      d: String): Seq[(Long, String, String, Long, Long)] = {
    val nMerges = 8
    val pairsOfToks = expr(
      """CASE WHEN size(toks) < 2 THEN array()
        | ELSE zip_with(slice(toks, 1, size(toks) - 1),
        |               slice(toks, 2, size(toks) - 1),
        |               (a, b) -> struct(a AS a, b AS b)) END""".stripMargin)
    var vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("sp"),
        col("wf"))
      .localCheckpoint()
    // ROUND 18 (the r17 verdict's ask #5) — the loop ran THREE driver
    // jobs per merge (argmax limit(1), checkpoint, token recount);
    // now ONE aggregate per merge carries both decisions:
    //  - the argmax rides min(struct(-cnt, sym_a, sym_b)) — struct
    //    comparison is lexicographic and strings compare binary, so
    //    the min IS the (cnt DESC, sym_a, sym_b) head row;
    //  - tokens(word) = pairs(word) + 1, and Σwf never changes (words
    //    never merge across words), so Σ wf·tokens = total pair
    //    weight + Σwf — round k's pair aggregate therefore PRICES the
    //    corpus after merge k−1 for free, and the old per-round
    //    recount job disappears (one trailing pair aggregate prices
    //    merge 8). Checkpoints drop to every second merge: lineage is
    //    then ≤2 literal replaces deep (state stays vocab-bounded,
    //    the §5 contract), halving the materialization jobs.
    // 3·8+1 = 25 jobs → 8 aggs + 4 checkpoints + Σwf + trailer = 14.
    // Identical merges, counts and curve — OperatorsSpec replays the
    // trainer in plain Scala and the oracle re-learns all 8 rounds.
    val totalWf = vocab.agg(sum(col("wf"))).head().getLong(0)
    def pairAgg(v: DataFrame): org.apache.spark.sql.Row = v
      .withColumn("toks", split(trim(col("sp")), " "))
      .select(col("wf"), explode(pairsOfToks).as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum(col("wf")).as("cnt"))
      .agg(min(struct((-col("cnt")).as("nc"), col("sym_a"), col("sym_b")))
          .as("best"),
        sum(col("cnt")).as("pair_wt"))
      .head()
    def tokensOf(r: org.apache.spark.sql.Row): Long =
      (if (r.isNullAt(1)) 0L else r.getLong(1)) + totalWf
    val steps = Seq.newBuilder[(String, String, Long)]
    val tokenCurve = Seq.newBuilder[Long]
    (1 to nMerges).foreach { step =>
      val r = pairAgg(vocab)
      val best = r.getStruct(0)
      val (a, b, cnt) = (best.getString(1), best.getString(2), -best.getLong(0))
      if (step > 1) tokenCurve += tokensOf(r) // corpus after merge step-1
      steps += ((a, b, cnt))
      vocab = vocab
        .withColumn("sp", call_function("replace",
          col("sp"), lit(s" $a $b "), lit(s" $a$b ")))
      if (step % 2 == 0) vocab = vocab.localCheckpoint()
    }
    tokenCurve += tokensOf(pairAgg(vocab)) // corpus after merge 8
    val curve = tokenCurve.result()
    steps.result().zipWithIndex.map { case ((a, b, cnt), i) =>
      ((i + 1).toLong, a, b, cnt, curve(i))
    }
  }

  /** §2.E round 11 — tokenize the corpus with the TRAINED merge list
    * (the full BPE lifecycle in one operator, closing VERDICT r10's
    * "tx_bpe_apply's merge list is derived once, not from a trained
    * loop"): [[trainedMerges]] learns the 8 merges (corpus pass +
    * vocab-bounded rounds), then the corpus tokenizes against them —
    * per word, the spaced form folds through the 8 learned literal
    * replaces (driver strings bound via lit(), never SQL-interpolated)
    * inside one codegen'd HOF projection, map-only like tx_bpe_apply.
    * tx_bpe_apply stays registered as the FIXED-list anchor (its
    * merges are frozen literals mirrored in its oracle); this op's
    * merges are data-derived, so its oracle re-learns them — the full
    * trainer CTE chain feeds the application fold through cross-joined
    * 1-row merge CTEs. Output is per-document: exact token/char
    * counts and truncating-div compression ppm under the trained
    * vocabulary.
    */
  val txBpeTokenize: Q = (s, d) => {
    val learned = trainedMerges(s, d)
    val spacedOf: Column => Column =
      w => concat(lit(" "), regexp_replace(w, "(.)", "$1 "))
    val mergedOf: Column => Column = w =>
      learned.foldLeft(spacedOf(w)) { case (acc, (_, a, b, _, _)) =>
        call_function("replace", acc, lit(s" $a $b "), lit(s" $a$b "))
      }
    // tokens = spaces - 1 on the space-padded merged form
    val tokensOf: Column => Column = w =>
      (length(mergedOf(w)) -
        length(call_function("replace", mergedOf(w), lit(" "), lit(""))) - 1)
        .cast("long")
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        aggregate(transform(col("words"), w => length(w).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_chars"),
        aggregate(transform(col("words"), tokensOf),
          lit(0L), (acc, x) => acc + x).as("n_tokens"))
      .withColumn("compression_ppm", expr(
        "CASE WHEN n_chars > 0 THEN n_tokens * 1000000 div n_chars ELSE 0 END"))
      .orderBy(col("doc_id"))
  }

  /** BM25 relevance scoring — the full-text-search ranking an
    * analytics engine needs next to embedding retrieval: a literal
    * query relation (4 queries, 2-3 terms) scores every document via
    * the BM25 shape Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    * k1=1.2 b=0.75. Engine-stability contract: idf is the integer
    * surrogate ⌊N·10⁶/df⌋ (documented deviation from the textbook log
    * — a monotone transform, so rankings behave BM25-like while
    * staying exactly reproducible), and each term's contribution is
    * floored to an e6 integer BEFORE the per-document sum, so the
    * aggregate is order-free (float Σ is not associative; integer Σ
    * is). Plan: df from one corpus aggregate over the broadcast-
    * filtered term stream (only query terms survive the explode
    * filter), avgdl a 1-row broadcast, scoring a broadcast join, then
    * the bounded-heap TopK — per-query work never shuffles the corpus.
    */
  val txBm25: Q = (s, d) => {
    import s.implicits._
    val terms: Seq[(Long, String)] = Seq(
      1L -> "spark", 1L -> "join",
      2L -> "window", 2L -> "agg",
      3L -> "customer", 3L -> "order", 3L -> "query",
      4L -> "hash", 4L -> "table")
    val termsDf = terms.toDF("query_id", "term")
    val vocab = terms.map(_._2).distinct
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("dl", size(col("w")).cast("long"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // tf feeds BOTH the df aggregate (broadcast build side) and the
    // scoring probe. Round 18 re-audited round 17's "ReuseExchange
    // already dedupes this" revert rationale at 25× (the r17
    // verdict's ask #6): it is WRONG — the executed 25× plan
    // (plans/r18/tx_bm25_25x_executed.txt) shows two full text scans
    // + two identical (doc_id, dl, term) exchanges and zero
    // ReusedExchange nodes (the broadcast build side plans as its own
    // query stage). BUT the r17 revert still stands on measurement:
    // a tf.persist() was re-tried and measured SLOWER ANYWAY —
    // sf0.1 warm 1.3 → 2.4 s, 25× min-of-4 1.95 → 2.22 s
    // (2×2 interleaved forks) — the selective vocab filter makes the
    // duplicate scan+explode cheaper than the InMemoryRelation
    // barrier it would remove (cache build blocks the broadcast job;
    // the cached read loses the scan's codegen fusion). Negative
    // result recorded so round 19 doesn't re-try it on the plan
    // evidence alone.
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isInCollection(vocab))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "term")
      .join(broadcast(termsDf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_ppm", expr("n_docs * 1000000 div df"))
      .withColumn("tfnorm",
        col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .withColumn("contrib_e6",
        floor(col("idf_ppm") * col("tfnorm") + 0.5).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_e6")).as("score_e6"))
    val top = graft.plans.TopK.perKey(scored,
      keyCols = Seq("query_id"), orderCol = "score_e6", tieCol = "doc_id", k = 10)
    val byQ = Window.partitionBy(col("query_id"))
      .orderBy(col("score_e6").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(byQ).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score_e6"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Learned QUALITY-CLASSIFIER inference fused into the scan — the
    * fastText-style quality filter a web-corpus pipeline runs over
    * every document (the CCNet/GPT-3 filtering shape), expressed as a
    * pure column expression so inference IS the scan: no model
    * runtime, no UDF, one codegen'd projection (the
    * inference-in-pure-SQL idea of the operator-fusion line of work).
    * Features are exact integers (stopword ppm, digit ppm, capped
    * word count, e3 average word length); the linear model's weights
    * are double literals and the LOGIT is emitted — not the sigmoid —
    * quantized to e6: the sigmoid is monotone, so thresholding the
    * logit at 0 is exactly thresholding p at 0.5, and skipping exp()
    * keeps the result bit-reproducible across engines (libm exp is
    * not). Keep-decision + score per doc, map-only at any scale.
    */
  val txQualityClassifier: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("stop_ppm",
        expr("regexp_count(text, '\\\\b(the|of|and|to|in|a)\\\\b') * 1000000L div n_words"))
      .withColumn("digit_ppm",
        expr("(n_chars - length(regexp_replace(text, '[0-9]', ''))) * 1000000L div n_chars"))
      .withColumn("awl_e3", expr("n_chars * 1000L div n_words"))
    // identical textual order on both sides: float addition is
    // left-associative and order changes the last ulp
    docs
      .withColumn("logit_e6", floor(
        (lit(-3.0) + lit(4.0e-5) * col("stop_ppm") +
          lit(0.02) * least(col("n_words"), lit(100L)) +
          lit(2.0e-4) * col("awl_e3") -
          lit(5.0e-6) * col("digit_ppm")) * 1000000 + 0.5).cast("long"))
      .select(col("doc_id"), col("n_words"), col("stop_ppm"),
        col("digit_ppm"), col("awl_e3"), col("logit_e6"),
        (col("logit_e6") >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The hashed bag-of-tokens document embedding — the text→vector
    * bridge (feature hashing into 16 L2-normalized buckets, declarative
    * HOFs, no UDF; see VectorFunctions.hashedTextEmbedding). This IS
    * the split-oracle boundary for tx_topic_cluster: Verify dumps this
    * table and DuckDB re-derives assignment + quantization downstream
    * of the xxhash64 kernel it cannot reproduce.
    */
  private[graft] def docEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      graft.functions.VectorFunctions.hashedTextEmbedding(col("text"))
        .as("embedding"))

  /** §2.E round 10 — corpus topic clustering over the hashed-token
    * embedding: every document assigned to its nearest seed centroid
    * (the first-16-docs quantizer — the fixedCentroids pattern) by
    * cosine argmax. Assignment is a broadcast cross against 16 rows +
    * a partial-aggregating struct-max per doc — map-only before one
    * doc_id collapse, no fact shuffle, the dd_semantic shape applied
    * to TEXT instead of stored vectors (a corpus-sized k reuses the
    * three-level quantizer exactly as dd_semantic does). Ties break to
    * the lowest cluster_id via max(struct(sim, -id)), mirroring the
    * oracle's cosine DESC, cluster_id ASC window.
    */
  val txTopicCluster: Q = (s, d) => {
    import graft.functions.VectorFunctions.cosineSim
    val emb = docEmbeddings(s, d)
    val cents = emb.filter(col("doc_id") < 16)
      .select(col("doc_id").as("cluster_id"), col("embedding").as("c_emb"))
    emb.crossJoin(broadcast(cents))
      .withColumn("sim", cosineSim(col("embedding"), col("c_emb")))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("sim").as("s"), (-col("cluster_id")).as("nc"))).as("m"))
      .select(col("doc_id"), (-col("m.nc")).as("cluster_id"),
        q4(col("m.s")).as("cosine"))
      .orderBy(col("doc_id"))
  }

  /** §2.E round 10 — character/word diversity scoring (the
    * Gopher-style repetitiveness gate: low-diversity documents are
    * boilerplate or generator junk). Per document: Simpson diversity
    * over characters (1 − Σp²; the log-free cousin of entropy — chosen
    * because it stays ALL-INTEGER: Σcnt² over character runs, one
    * division at the end), type-token ratio over words, and the count
    * of the single most frequent word. Everything is a sort+run-length
    * fold over the token array with the `aggregate` higher-order
    * function — MAP-ONLY, whole-stage-codegen'd, zero shuffles
    * (plan-pinned): the per-doc char histogram never materializes as
    * rows, which is the difference between a projection and an
    * explode+groupBy of every character at 100 TB.
    */
  val txCharDiversity: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_chars_t", length(col("text")).cast("long"))
      .withColumn("char_sq_sum", expr(
        """CASE WHEN length(text) = 0 THEN 0L ELSE aggregate(
          |  array_sort(transform(sequence(1, length(text)), i -> substring(text, i, 1))),
          |  named_struct('prev', '', 'run', 0L, 'sq', 0L),
          |  (acc, x) -> IF(x = acc.prev,
          |    named_struct('prev', x, 'run', acc.run + 1L, 'sq', acc.sq),
          |    named_struct('prev', x, 'run', 1L, 'sq', acc.sq + acc.run * acc.run)),
          |  acc -> acc.sq + acc.run * acc.run) END""".stripMargin))
      .withColumn("n_words", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .withColumn("n_distinct_words",
        expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"))
      .withColumn("top_word_n", expr(
        """aggregate(
          |  array_sort(split(text, ' ')),
          |  named_struct('prev', '', 'run', 0L, 'mx', 0L),
          |  (acc, x) -> IF(x = acc.prev,
          |    named_struct('prev', x, 'run', acc.run + 1L, 'mx', greatest(acc.mx, acc.run + 1L)),
          |    named_struct('prev', x, 'run', 1L, 'mx', greatest(acc.mx, 1L))),
          |  acc -> acc.mx)""".stripMargin))
      .select(col("doc_id"), col("n_chars_t"), col("char_sq_sum"),
        expr("CASE WHEN n_chars_t = 0 THEN 0L ELSE " +
          "1000000L - (char_sq_sum * 1000000L) div (n_chars_t * n_chars_t) END")
          .as("simpson_e6"),
        col("n_words"), col("n_distinct_words"),
        expr("(n_distinct_words * 1000000L) div n_words").as("ttr_e6"),
        col("top_word_n"))
      .orderBy(col("doc_id"))

  /** §2.E round 10 — collocation mining by pointwise lift (the
    * association-strength ranking behind phrase detection and
    * tokenizer-merge candidates; PMI's argument without the log, so
    * the score is an exact integer: lift = P(ab)/(P(a)P(b)) =
    * n_ab·N / (n_a·n_b), e6-scaled with a single truncating division).
    * One shuffle each for bigram and unigram counts; the unigram
    * vocabulary joins BROADCAST on both bigram sides (vocabulary ≪
    * corpus — and at web scale the same df-pruning as tx_lm_score
    * bounds it by construction), the corpus total rides the
    * 1-row-literal crossJoin precedent. Min support keeps the ranking
    * stable under sampling noise; ties break by support then lexeme.
    */
  val txCollocations: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val uni = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = uni.agg(sum(col("n_w")).cast("long").as("total_n"))
    val bi = docs
      .select(explode(expr(
        """CASE WHEN size(split(text, ' ')) < 2 THEN array()
          | ELSE zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |               slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |               (a, b) -> struct(a AS w1, b AS w2)) END""".stripMargin))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 20)
    bi
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("n_w", "n_a")), Seq("w1"))
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("n_w", "n_b")), Seq("w2"))
      .crossJoin(broadcast(total))
      // division-first keeps every intermediate in Long at web scale:
      // n_ab ≤ n_a always, so (n_ab·10⁶ div n_a) ≤ 10⁶ and the product
      // with total_n overflows only past ~9.2e12 corpus tokens (~37 TB
      // of text) — the naive n_ab·N·10⁶ ordering wrapped ~10⁵× sooner,
      // silently in Spark's non-ANSI multiply. The e6 ratio keeps
      // 10⁻⁶ relative precision; the oracle mirrors the same order.
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("n_ab"),
        expr("((n_ab * 1000000L) div n_a) * total_n div n_b").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("n_ab").desc, col("bigram"))
      .limit(30)
  }

  /** §2.E round 10 — TextRank keyword extraction (Mihalcea & Tarau's
    * graph ranking over word co-occurrence — the unsupervised keyword
    * scorer): adjacent-word pairs (one edge per occurrence, so edge
    * multiplicity IS the co-occurrence weight, self-pairs dropped)
    * over a row-numbered vocabulary, ranked by the SAME all-integer
    * 5-iteration PageRank kernel dd_graph_rank runs
    * ([[Dedup.graphRankScores]] — one kernel, two domains, both
    * size-routed driver/distributed). Vocabulary ids are HASHES
    * (xxhash64 — round 11, closing the round-10 watch item): the rank
    * recurrence is purely topological, so ids only need to be distinct
    * join keys, and the previous row_number id — the text family's
    * last SinglePartition sort — bought ordering semantics nothing
    * consumed. The output (word, deg, score_e9) is invariant to the
    * relabeling, which is why the oracle can keep its own row_number
    * ids; a 64-bit collision would merge two words, with birthday
    * probability ~n²/2⁶⁵ — ≪10⁻³ even at a 10⁸-word web vocabulary
    * (and any collision is caught by the oracle's collision-free
    * labeling diverging). Plan-pinned window-free in PlanHealthSpec.
    * Top-30 by (score, word); the oracle re-derives the whole graph
    * and unrolls the five iterations in SQL (the shared
    * [[OracleSql.rankIterCtes]] chain).
    */
  val txTextrank: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // localCheckpoint (round 18): the rank kernel's driver route
    // consumes nodeIds in THREE separate driver jobs (endpoint
    // semi-join, node count, final fan-back join) and the pair build
    // broadcasts vocab twice more — without a materialization each of
    // those actions re-ran the corpus explode+distinct (cross-JOB
    // plans never ReuseExchange). The checkpoint is vocab-bounded
    // (distinct words, not corpus rows) and, unlike the r17 persist()
    // attempt that measured SLOWER (cache barrier + InMemoryTableScan
    // per consumer), consumers plan over a bare ExistingRDD: warm
    // 1.46 → 1.29 s at sf0.1, 4.30 → 3.40 s at 25×.
    val vocab = docs.select(explode(split(col("text"), " ")).as("w")).distinct()
      .withColumn("doc_id", xxhash64(col("w"))).localCheckpoint()
    val bi = docs
      .select(explode(expr(
        """CASE WHEN size(split(text, ' ')) < 2 THEN array()
          | ELSE zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |               slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |               (a, b) -> struct(a AS w1, b AS w2)) END""".stripMargin))
        .as("p"))
      .select(col("p.w1"), col("p.w2"))
      .filter(col("w1") =!= col("w2"))
    // NOT checkpointed: the kernel's internal weighted collapse is the
    // single consumer and persists its own (tiny) collapsed frame —
    // materializing 25M raw co-occurrence rows here would only pay the
    // write the collapse exists to avoid
    val pairs = bi
      .join(broadcast(vocab.select(col("w").as("w1"), col("doc_id").as("doc_a"))), Seq("w1"))
      .join(broadcast(vocab.select(col("w").as("w2"), col("doc_id").as("doc_b"))), Seq("w2"))
      .select(col("doc_a"), col("doc_b"))
    Dedup.graphRankScores(vocab.select(col("doc_id")), pairs)
      .join(broadcast(vocab), Seq("doc_id"))
      .select(col("w").as("word"), col("deg"), col("score_e9"))
      .orderBy(col("score_e9").desc, col("word")).limit(30)
  }

  val auxDumps: Map[String, Q] = Map(
    "tx_doc_embeddings" -> docEmbeddings)

  val queries: Map[String, Q] = Map(
    "tx_textrank" -> txTextrank,
    "tx_char_diversity" -> txCharDiversity,
    "tx_collocations" -> txCollocations,
    "tx_topic_cluster" -> txTopicCluster,
    "tx_quality_classifier" -> txQualityClassifier,
    "tx_bm25" -> txBm25,
    "tx_repeated_passages" -> txRepeatedPassages,
    "tx_span_dedup" -> txSpanDedup,
    "tx_bpe_pairs" -> txBpePairs,
    "tx_bpe_apply" -> txBpeApply,
    "tx_bpe_train" -> txBpeTrain,
    "tx_bpe_tokenize" -> txBpeTokenize,
    "tx_augment_dropout" -> txAugmentDropout,
    "tx_mix_rebalance" -> txMixRebalance,
    "tx_mix_temperature" -> txMixTemperature,
    "tx_chunk" -> txChunk,
    "tx_pack" -> txPack,
    "tx_repetition" -> txRepetition,
    "tx_decontaminate" -> txDecontaminate,
    "tx_decontaminate_bloom" -> txDecontaminateBloom,
    "tx_lm_score" -> txLmScore,
    "tx_df_prune" -> txDfPrune,
    "tx_sample_stratified" -> txSampleStratified,
    "tx_redact" -> txRedact,
    "tx_bigrams" -> txBigrams,
    "tx_clean_corpus" -> txCleanCorpus,
    "tx_pipeline" -> txPipeline,
    "tx_curation_incremental" -> txCurationIncremental,
    "tx_langid" -> txLangId,
    "tx_quality" -> txQuality,
    "tx_tokens" -> txTokens,
    "tx_fingerprint" -> txFingerprint)

  /** The tx_textrank oracle: the word graph re-derived from scratch in
    * SQL (vocab row-numbering, adjacency pairs, mirrored edges) with
    * the five rank iterations unrolled via the shared
    * [[OracleSql.rankIterCtes]] chain — the same independence contract as
    * the dd_graph_rank oracle, on a different domain.
    */
  private val textrankOracle: String = {
    val base =
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |vocab AS (
        |  SELECT w, CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS doc_id
        |  FROM (SELECT DISTINCT unnest(t) AS w FROM toks) v),
        |bg AS (
        |  SELECT unnest(CASE WHEN len(t) < 2 THEN []
        |    ELSE list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1])) END) AS bigram
        |  FROM toks),
        |bw AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
        |  FROM bg WHERE split_part(bigram, ' ', 1) <> split_part(bigram, ' ', 2)),
        |pairs AS (
        |  SELECT va.doc_id AS doc_a, vb.doc_id AS doc_b
        |  FROM bw JOIN vocab va ON va.w = bw.w1 JOIN vocab vb ON vb.w = bw.w2),
        |edges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vocab),
        |deg AS (
        |  SELECT v.doc_id, CAST(coalesce(e.c, 0) AS BIGINT) AS deg
        |  FROM vocab v LEFT JOIN (
        |    SELECT doc_a AS doc_id, count(*) AS c FROM edges GROUP BY 1) e USING (doc_id)),
        |s0 AS (
        |  SELECT doc_id, deg, CAST(1000000000 // nn.n AS BIGINT) AS score_e9
        |  FROM deg CROSS JOIN nn)""".stripMargin
    base + OracleSql.rankIterCtes("deg", "nn", "edges", k => s"s$k") +
      "\nSELECT v.w AS word, s5.deg, s5.score_e9 FROM s5 JOIN vocab v USING (doc_id)" +
      "\nORDER BY s5.score_e9 DESC, word LIMIT 30"
  }

  /** tx_bpe_train oracle: the ENTIRE 8-round trainer re-derived in
    * DuckDB as sequential unrolled CTEs — per round, m_k selects the
    * argmax pair over v_{k-1}'s token stream (same DESC/sym
    * tie-break) and v_k applies the space-sentinel literal replace;
    * the output unions every round's (merge, corpus-token-count) row.
    * Independence contract: DuckDB re-learns each merge from the raw
    * corpus — nothing of Spark's trained list is passed through.
    */
  private val bpeNMerges = 8

  /** The trainer recurrence as a WITH-clause body (v0 + per-round
    * m_k/v_k/s_k CTEs) — shared by the tx_bpe_train oracle (union of
    * the s_k rows) and the tx_bpe_tokenize oracle (application fold
    * over the cross-joined m_k rows).
    */
  private val bpeTrainCtes: String = {
    val n = bpeNMerges
    val v0 =
      """v0 AS (
        |  SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS sp, wf FROM (
        |    SELECT word, CAST(count(*) AS BIGINT) AS wf FROM (
        |      SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |    WHERE length(word) >= 2 GROUP BY word))""".stripMargin
    val steps = (1 to n).map { k =>
      s"""m$k AS (
         |  SELECT sym_a, sym_b, CAST(sum(wf) AS BIGINT) AS cnt FROM (
         |    SELECT toks[i] AS sym_a, toks[i + 1] AS sym_b, wf FROM (
         |      SELECT string_split(trim(sp), ' ') AS toks, wf FROM v${k - 1}) tt,
         |      unnest(range(1, len(toks))) AS r(i))
         |  GROUP BY 1, 2 ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
         |v$k AS (
         |  SELECT replace(v.sp, ' ' || m.sym_a || ' ' || m.sym_b || ' ',
         |                 ' ' || m.sym_a || m.sym_b || ' ') AS sp, v.wf
         |  FROM v${k - 1} v CROSS JOIN m$k m),
         |s$k AS (
         |  SELECT CAST($k AS BIGINT) AS step, sym_a, sym_b, cnt AS pair_count,
         |    (SELECT CAST(sum(wf * len(string_split(trim(sp), ' '))) AS BIGINT)
         |     FROM v$k) AS corpus_tokens
         |  FROM m$k)""".stripMargin
    }
    s"WITH $v0,\n${steps.mkString(",\n")}"
  }

  private val bpeTrainOracle: String = {
    val union = (1 to bpeNMerges).map(k => s"SELECT * FROM s$k")
      .mkString("\nUNION ALL ")
    s"$bpeTrainCtes\n$union\nORDER BY step"
  }

  /** tx_bpe_tokenize oracle: re-learn the merges (the shared trainer
    * CTE chain), then tokenize every document against them — the
    * application fold runs inside a list_transform lambda over
    * columns of the cross-joined 1-row m_k CTEs, so DuckDB applies
    * exactly the merges IT derived, independently of Spark's.
    */
  private val bpeTokenizeOracle: String = {
    val spaced = """' ' || regexp_replace(w, '(.)', '\1 ', 'g')"""
    val merged = (1 to bpeNMerges).foldLeft(spaced) { case (acc, k) =>
      s"replace($acc, ' ' || m$k.sym_a || ' ' || m$k.sym_b || ' ', " +
        s"' ' || m$k.sym_a || m$k.sym_b || ' ')"
    }
    val tok = s"length($merged) - length(replace($merged, ' ', '')) - 1"
    val crosses = (1 to bpeNMerges).map(k => s"CROSS JOIN m$k").mkString(" ")
    s"""$bpeTrainCtes
      |SELECT doc_id, n_words, n_chars, n_tokens,
      |  CASE WHEN n_chars > 0 THEN n_tokens * 1000000 // n_chars
      |       ELSE 0 END AS compression_ppm
      |FROM (
      |  SELECT d.doc_id,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(string_split(d.text, ' '),
      |      w -> length(w))) AS BIGINT) AS n_chars,
      |    CAST(list_sum(list_transform(string_split(d.text, ' '),
      |      w -> $tok)) AS BIGINT) AS n_tokens
      |  FROM documents d $crosses) t
      |ORDER BY doc_id""".stripMargin
  }

  /** tx_bpe_apply oracle: the SAME merge list folded into DuckDB
    * string functions (regexp_replace needs the 'g' flag there;
    * replace() is literal-all in both engines).
    */
  private val bpeApplyOracle: String = {
    val merges = Seq("e" -> "r", "i" -> "n", "o" -> "r", "s" -> "t", "o" -> "w")
    val spaced = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    val merged = merges.foldLeft(spaced) { case (acc, (a, b)) =>
      s"replace($acc, '$a $b', '$a$b')"
    }
    val tok = s"length($merged) - length(replace($merged, ' ', '')) + 1"
    s"""SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS n_chars,
      |  CAST(list_sum(list_transform(string_split(text, ' '), w -> $tok)) AS BIGINT) AS n_tokens,
      |  CAST(CASE WHEN list_sum(list_transform(string_split(text, ' '), w -> length(w))) > 0
      |    THEN list_sum(list_transform(string_split(text, ' '), w -> $tok)) * 1000000
      |      // list_sum(list_transform(string_split(text, ' '), w -> length(w)))
      |    ELSE 0 END AS BIGINT) AS compression_ppm
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The curation-manifest oracle — shared verbatim by tx_pipeline and
    * tx_curation_incremental (whose contract is exact equivalence with
    * the batch flagship; one SQL string so the two can never desync).
    */
  private val txPipelineSql: String =
    """WITH raw AS (
      |  SELECT doc_id, source, text,
      |   CAST(length(text) AS DOUBLE) AS n_len,
      |   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
      |   CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, source,
      |    floor(least(n_words / 100.0, 1.0) * (1.0 - n_digit / n_len) * 10000 + 0.5) / 10000.0 AS quality_score,
      |    (n_words >= 10 AND n_digit / n_len < 0.3 AND
      |     floor(least(n_words / 100.0, 1.0) * (1.0 - n_digit / n_len) * 10000 + 0.5) / 10000.0 >= 0.1) AS q_ok,
      |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_hash,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM raw),
      |lab AS (
      |  SELECT *,
      |    min(CASE WHEN q_ok THEN doc_id END) OVER (PARTITION BY text_hash) AS keeper
      |  FROM scored),
      |rsn AS (
      |  SELECT *,
      |    CASE WHEN NOT q_ok THEN 'quality'
      |         WHEN doc_id <> keeper THEN 'duplicate' END AS drop_reason
      |  FROM lab),
      |packd AS (
      |  SELECT *,
      |    CAST(sum(CASE WHEN drop_reason IS NULL THEN toks ELSE 0 END) OVER (
      |      PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
      |  FROM rsn)
      |SELECT doc_id, source, quality_score, drop_reason,
      |  CASE WHEN drop_reason = 'duplicate' THEN keeper END AS keeper_id,
      |  CASE WHEN drop_reason IS NULL THEN toks END AS n_toks,
      |  CASE WHEN drop_reason IS NULL
      |       THEN CAST((cum_toks - 1) // 2000 AS BIGINT) END AS pack_id
      |FROM packd ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "tx_textrank" -> textrankOracle,
    "tx_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS c FROM documents),
        |csq AS (
        |  SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS char_sq_sum
        |  FROM (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2) t GROUP BY 1),
        |wd AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |ws AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |    CAST(count(*) AS BIGINT) AS n_distinct_words,
        |    CAST(max(cnt) AS BIGINT) AS top_word_n
        |  FROM (SELECT doc_id, w, count(*) AS cnt FROM wd GROUP BY 1, 2) t GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars_t,
        |  coalesce(c.char_sq_sum, 0) AS char_sq_sum,
        |  CASE WHEN length(d.text) = 0 THEN 0
        |       ELSE 1000000 - (c.char_sq_sum * 1000000) // (CAST(length(d.text) AS BIGINT) * length(d.text)) END AS simpson_e6,
        |  w.n_words, w.n_distinct_words,
        |  (w.n_distinct_words * 1000000) // w.n_words AS ttr_e6,
        |  w.top_word_n
        |FROM documents d LEFT JOIN csq c USING (doc_id) LEFT JOIN ws w USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "tx_collocations" ->
      """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM wd GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS total_n FROM uni),
        |bg AS (
        |  SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |    ELSE list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1])) END) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents) x),
        |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab FROM bg GROUP BY 1 HAVING count(*) >= 20)
        |SELECT b.bigram, b.n_ab,
        |  ((b.n_ab * 1000000) // ua.n_w) * t.total_n // ub.n_w AS lift_e6
        |FROM bi b
        |JOIN uni ua ON ua.w = split_part(b.bigram, ' ', 1)
        |JOIN uni ub ON ub.w = split_part(b.bigram, ' ', 2)
        |CROSS JOIN tot t
        |ORDER BY lift_e6 DESC, n_ab DESC, bigram LIMIT 30""".stripMargin,
    "tx_topic_cluster" ->
      """WITH e AS (
        |  SELECT doc_id, CAST(embedding AS DOUBLE[]) AS embedding
        |  FROM read_parquet('__AUX__/tx_doc_embeddings/*.parquet')),
        |c AS (
        |  SELECT doc_id AS cluster_id, embedding AS c_emb FROM e
        |  WHERE doc_id < 16),
        |scored AS (
        |  SELECT e.doc_id, c.cluster_id,
        |    list_cosine_similarity(e.embedding, c.c_emb) AS sim,
        |    row_number() OVER (PARTITION BY e.doc_id
        |      ORDER BY list_cosine_similarity(e.embedding, c.c_emb) DESC,
        |               c.cluster_id) AS rn
        |  FROM e CROSS JOIN c)
        |SELECT doc_id, cluster_id,
        |  floor(sim * 10000 + 0.5) / 10000.0 AS cosine
        |FROM scored WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "tx_quality_classifier" ->
      """SELECT doc_id, n_words, stop_ppm, digit_ppm, awl_e3,
        | CAST(floor(
        |   (CAST(-3.0 AS DOUBLE) + CAST(4.0e-5 AS DOUBLE) * stop_ppm +
        |    CAST(0.02 AS DOUBLE) * least(n_words, 100) +
        |    CAST(2.0e-4 AS DOUBLE) * awl_e3 -
        |    CAST(5.0e-6 AS DOUBLE) * digit_ppm) * 1000000 + 0.5) AS BIGINT) AS logit_e6,
        | CAST(floor(
        |   (CAST(-3.0 AS DOUBLE) + CAST(4.0e-5 AS DOUBLE) * stop_ppm +
        |    CAST(0.02 AS DOUBLE) * least(n_words, 100) +
        |    CAST(2.0e-4 AS DOUBLE) * awl_e3 -
        |    CAST(5.0e-6 AS DOUBLE) * digit_ppm) * 1000000 + 0.5) AS BIGINT) >= 0 AS keep
        |FROM (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '\b(the|of|and|to|in|a)\b')) * 1000000
        |    // len(string_split(text, ' ')) AS BIGINT) AS stop_ppm,
        |  CAST((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1000000
        |    // nullif(length(text), 0) AS BIGINT) AS digit_ppm,
        |  CAST(length(text) * 1000 // len(string_split(text, ' ')) AS BIGINT) AS awl_e3
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "tx_bm25" ->
      s"""WITH ${OracleSql.bm25ScoredCte}
        |SELECT query_id, rank, doc_id, score_e6 FROM (
        |  SELECT query_id, doc_id, score_e6,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_e6 DESC, doc_id) AS rank
        |  FROM scored) x
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "tx_bpe_apply" -> bpeApplyOracle,
    "tx_bpe_train" -> bpeTrainOracle,
    "tx_bpe_tokenize" -> bpeTokenizeOracle,
    "tx_augment_dropout" ->
      """WITH k AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |f AS (
        |  SELECT doc_id, words,
        |    list_filter(list_transform(words, (w, i) -> struct_pack(w := w, i := i - 1)),
        |      x -> ((doc_id * 4099 + x.i) % 1000003) * 2654435761 % 10 <> 0) AS kept
        |  FROM k)
        |SELECT doc_id,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  CAST(len(words) - len(kept) AS BIGINT) AS n_dropped,
        |  md5(array_to_string(list_transform(kept, x -> x.w), ' ')) AS aug_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    "tx_bpe_pairs" ->
      """WITH vocab AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS wf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |  WHERE length(word) >= 2 GROUP BY word),
        |pairs AS (
        |  SELECT substr(word, i, 1) AS sym_a, substr(word, i + 1, 1) AS sym_b, wf
        |  FROM vocab, unnest(range(1, length(word))) AS t(i))
        |SELECT sym_a, sym_b, CAST(sum(wf) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY 1, 2
        |ORDER BY pair_count DESC, sym_a, sym_b LIMIT 20""".stripMargin,
    "tx_span_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sp AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS span,
        |    (i + 1) * 8 <= len(w) AS is_full
        |  FROM words, unnest(range(0, (len(w) - 1) // 8 + 1)) AS t(i)),
        |dups AS (
        |  SELECT span FROM sp WHERE is_full
        |  GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |m AS (
        |  SELECT s.doc_id, s.pos, s.span,
        |    (s.is_full AND d.span IS NOT NULL) AS removed
        |  FROM sp s LEFT JOIN dups d USING (span))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(length(coalesce(string_agg(span, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT removed), '')) AS BIGINT) AS clean_len,
        |  md5(coalesce(string_agg(span, ' ' ORDER BY pos)
        |    FILTER (WHERE NOT removed), '')) AS clean_md5
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "tx_repeated_passages" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (
        |  SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS passage
        |  FROM words, unnest(range(1, greatest(len(w) - 7, 0) + 1, 4)) AS t(i))
        |SELECT passage,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  min(doc_id) AS min_doc_id
        |FROM wins GROUP BY passage
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY passage""".stripMargin,
    "tx_mix_rebalance" ->
      """WITH targets(lang, target_ppm) AS (
        |  VALUES ('en', 300000), ('es', 200000), ('de', 200000),
        |         ('fr', 150000), ('zh', 150000)),
        |counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |tot AS (SELECT count(*) AS total FROM documents)
        |SELECT doc_id, lang, bucket, rate_e6 FROM (
        |  SELECT d.doc_id, d.lang,
        |    CAST(((d.doc_id % 1000003) * 2654435761) % 1000000 AS BIGINT) AS bucket,
        |    CAST(least(1000000, coalesce(t.target_ppm, 0) * tot.total // c.cnt) AS BIGINT) AS rate_e6
        |  FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN tot
        |  LEFT JOIN targets t ON d.lang = t.lang) x
        |WHERE bucket < rate_e6 ORDER BY doc_id""".stripMargin,
    "tx_chunk" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id, toks, n,
        |    CASE WHEN n <= 64 THEN 1
        |         ELSE 1 + (n - 64 + 47) // 48 END AS n_chunks
        |  FROM docs),
        |exploded AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM counted)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_toks,
        |  array_to_string(
        |    list_slice(toks, chunk_idx * 48 + 1,
        |               least(n, chunk_idx * 48 + 64)), ' ') AS chunk_text
        |FROM exploded
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "tx_mix_temperature" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS weight
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
        |               CAST(sum(weight) AS BIGINT) AS w_total FROM counts),
        |rates AS (
        |  SELECT lang, cnt, weight,
        |    ((1000000 * weight) // w_total) * (n_total // 2) // cnt
        |      AS rate_ppm_raw,
        |    least(1000000,
        |      ((1000000 * weight) // w_total) * (n_total // 2) // cnt)
        |      AS rate_ppm
        |  FROM counts CROSS JOIN tot)
        |SELECT r.lang, r.cnt AS n_docs, r.weight,
        |  r.rate_ppm_raw, r.rate_ppm,
        |  CAST(sum(CASE WHEN ((d.doc_id % 1000003) * 2654435761) % 1000000
        |                     < r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sampled
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY r.lang""".stripMargin,
    "tx_pipeline" -> txPipelineSql,
    // the incremental twin's oracle IS the batch flagship's SQL: the
    // operator's contract is exact equivalence with txPipeline under
    // the ascending-doc_id arrival order, so the driver gate checks
    // the stream/batch equivalence end-to-end
    "tx_curation_incremental" -> txPipelineSql,
    "tx_pack" ->
      """SELECT doc_id, source, n_toks, cum_toks,
        |  CAST((cum_toks - 1) // 2000 AS BIGINT) AS pack_id
        |FROM (
        |  SELECT doc_id, source, n_toks,
        |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        |  FROM (SELECT doc_id, source,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |        FROM documents) t) x
        |ORDER BY doc_id""".stripMargin,
    "tx_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, len(toks) AS n_words, len(list_distinct(toks)) AS n_uniq,
        |    CASE WHEN len(toks) < 2 THEN 0 ELSE len(toks) - 1 END AS n_bg,
        |    CASE WHEN len(toks) < 2 THEN 0
        |         ELSE len(list_distinct(list_transform(range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i+1]))) END AS n_uniq_bg
        |  FROM t),
        |top AS (
        |  SELECT doc_id, max(c) AS top_run FROM (
        |    SELECT doc_id, count(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u
        |    GROUP BY doc_id, tok) g
        |  GROUP BY doc_id)
        |SELECT doc_id, n_words, uniq_ratio, dup_bigram_frac, top_tok_frac,
        |  dup_bigram_frac > 0.3 OR top_tok_frac > 0.2 AS is_repetitive
        |FROM (
        |  SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
        |    floor(b.n_uniq / CAST(b.n_words AS DOUBLE) * 10000 + 0.5) / 10000.0 AS uniq_ratio,
        |    CASE WHEN b.n_bg = 0 THEN 0.0
        |         ELSE floor((1.0 - b.n_uniq_bg / CAST(b.n_bg AS DOUBLE)) * 10000 + 0.5) / 10000.0 END AS dup_bigram_frac,
        |    floor(p.top_run / CAST(b.n_words AS DOUBLE) * 10000 + 0.5) / 10000.0 AS top_tok_frac
        |  FROM base b JOIN top p ON b.doc_id = p.doc_id) x
        |ORDER BY doc_id""".stripMargin,
    // ONE oracle for both decontamination variants: the bloom gate is
    // an internal prefilter with no false negatives, so the operator
    // contract — and therefore the checked result — is identical.
    "tx_decontaminate" -> decontaminateOracle,
    "tx_decontaminate_bloom" -> decontaminateOracle,
    "tx_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |  FROM toks WHERE len(t) >= 2),
        |bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |w1c AS (SELECT w1, sum(c12) AS c1 FROM bgc GROUP BY 1),
        |tot AS (SELECT sum(c12) AS n_total FROM bgc),
        |model AS (
        |  SELECT b.w1, b.w2,
        |    CAST(floor(b.c12 * 1000000.0 / w.c1 + 0.5) AS BIGINT) AS p_e6
        |  FROM bgc b JOIN w1c w USING (w1) CROSS JOIN tot
        |  WHERE b.c12 >= greatest(2, n_total // 1000000))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(coalesce(p_e6, 1)) // count(*) AS BIGINT) AS avg_p_e6,
        |  CAST(min(coalesce(p_e6, 1)) AS BIGINT) AS min_p_e6
        |FROM bg LEFT JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "tx_df_prune" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(split(text, ' ')) AS tok,
        |         generate_subscripts(split(text, ' '), 1) AS pos
        |  FROM documents),
        |df AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT t.doc_id,
        |  coalesce(string_agg(t.tok, ' ' ORDER BY t.pos)
        |    FILTER (WHERE df.df * 100 <= n.n_docs * 78), '') AS pruned_text,
        |  CAST(count(*) FILTER (WHERE df.df * 100 <= n.n_docs * 78) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE df.df * 100 > n.n_docs * 78) AS BIGINT) AS n_pruned
        |FROM toks t JOIN df ON t.tok = df.tok CROSS JOIN n
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "tx_sample_stratified" ->
      """SELECT doc_id, lang, bucket, rate FROM (
        | SELECT doc_id, lang,
        |  ((doc_id % 1000003) * 2654435761) % 100 AS bucket,
        |  CAST(CASE WHEN lang = 'en' THEN 80
        |       WHEN lang IN ('de','fr','es') THEN 50
        |       ELSE 30 END AS BIGINT) AS rate
        | FROM documents) t
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    "tx_redact" ->
      """SELECT doc_id, redacted, redacted <> text AS was_redacted,
        | len(regexp_extract_all(redacted, '<NUM>')) AS n_num_masks
        |FROM (
        | SELECT doc_id, text,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(text, '[a-z0-9.+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g'),
        |   '\b[a-f0-9]{16,}\b', '<ID>', 'g') AS redacted
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "tx_bigrams" ->
      """SELECT bigram, count(*) AS n FROM (
        | SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |   ELSE list_transform(range(1, len(toks)),
        |        i -> concat(toks[i], ' ', toks[i+1])) END) AS bigram
        | FROM (SELECT string_split(text, ' ') AS toks FROM documents) x) t
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30""".stripMargin,
    "tx_clean_corpus" ->
      """SELECT min(doc_id) AS doc_id, min(lang) AS lang,
        | min(quality_score) AS quality_score, text_hash
        |FROM (
        | SELECT doc_id, lang,
        |  floor(least(n_words / 100.0, 1.0) * (1.0 - n_digit / n_len) * 10000 + 0.5) / 10000.0 AS quality_score,
        |  n_words, n_digit, n_len,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_hash
        | FROM (
        |  SELECT doc_id, lang, text,
        |   CAST(length(text) AS DOUBLE) AS n_len,
        |   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
        |  FROM documents) raw) scored
        |WHERE n_words >= 10 AND n_digit / n_len < 0.3 AND quality_score >= 0.1
        |GROUP BY text_hash ORDER BY doc_id""".stripMargin,
    "tx_langid" ->
      """SELECT doc_id, score_en, score_es, score_de, score_fr,
        | CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr AND score_en > 0 THEN 'en'
        |      WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
        |      WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
        |      WHEN score_fr > 0 THEN 'fr'
        |      ELSE 'unknown' END AS predicted_lang
        |FROM (SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(the|of|and|to|in|a)\b')) AS score_en,
        |  len(regexp_extract_all(text, '\b(el|la|de|que|los|es)\b')) AS score_es,
        |  len(regexp_extract_all(text, '\b(der|die|und|das|ist|ein)\b')) AS score_de,
        |  len(regexp_extract_all(text, '\b(le|les|des|est|une|dans)\b')) AS score_fr
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "tx_quality" ->
      """SELECT doc_id,
        | CAST(n_len AS BIGINT) AS len_chars,
        | CAST(n_words AS BIGINT) AS n_words,
        | floor((n_len - n_words + 1) / n_words * 10000 + 0.5) / 10000.0 AS avg_word_len,
        | floor(n_stop / n_words * 10000 + 0.5) / 10000.0 AS stop_ratio,
        | floor(n_digit / n_len * 10000 + 0.5) / 10000.0 AS digit_ratio,
        | floor(least(n_words / 100.0, 1.0) * (1.0 - n_digit / n_len) * 10000 + 0.5) / 10000.0 AS quality_score
        |FROM (SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n_len,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "tx_tokens" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split(text, ' '),
        |       x -> CAST(ascii(x) * 7 + length(x) AS BIGINT))),
        |   (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
        | n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)
}

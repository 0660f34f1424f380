package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.F — multimodal column plumbing.
  *
  * Images/audio/video ride through the engine as opaque `binary`
  * columns with typed metadata structs; decode/feature-extraction runs
  * batch-wise per partition (the same shape a vectorized/pandas-style
  * decode batch takes on a cluster). Every decoder is REAL and
  * JDK-only — a from-scratch PNG/BMP decoder ([[graft.functions.ImageCodec]]),
  * WAV/AU via javax.sound.sampled ([[graft.functions.AudioCodec]]) —
  * over committed corpora written by independent stdlib-Python
  * generators, with oracle sidecars derived from the generators'
  * pixel/sample formulas so a decoder bug cannot self-confirm.
  */
object Multimodal {
  private type Q = (SparkSession, String) => DataFrame

  /** REAL decode-metadata extraction — the container-sniffing front of
    * an ingest pipeline: per file, the magic-sniffed format (never the
    * extension — a renamed file must not change the answer), the
    * decoded dimensions, the on-disk byte count, and a 4-bin luma
    * quartile histogram over the REAL pixels (the brightness signature
    * a curation filter buckets on). Corrupt files keep their sniffed
    * format with img_ok=false — the row a quarantine audit needs.
    * Sidecar-oracled (tools/gen_images.py expected_meta.parquet, from
    * the pixel formulas + the writer's own byte counts). Map-only:
    * binaryFile scan → per-partition decode, no shuffle before the
    * presentation sort.
    */
  val mmDecodeMeta: Q = (s, _) => {
    import s.implicits._
    graft.sources.BinaryFiles.scan(s, "*.{png,bmp}", imagesDir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          val fmt =
            if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 &&
              bytes(1) == 'P'.toByte && bytes(2) == 'N'.toByte) "png"
            else if (bytes.length >= 2 && bytes(0) == 'B'.toByte &&
              bytes(1) == 'M'.toByte) "bmp"
            else "unknown"
          graft.functions.ImageCodec.decodeRaster(bytes) match {
            case Some(r) =>
              // luma ∈ [0,255]; >> 6 is the quartile bin — all-integer
              val hist = new Array[Long](4)
              var i = 0
              while (i < r.luma.length) { hist(r.luma(i) >> 6) += 1; i += 1 }
              (name, true, fmt, r.width, r.height, bytes.length.toLong,
                hist(0), hist(1), hist(2), hist(3))
            case None =>
              (name, false, fmt, 0, 0, bytes.length.toLong, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("file_name", "img_ok", "format", "width", "height", "n_bytes",
        "h0", "h1", "h2", "h3")
      .orderBy(col("file_name"))
  }

  /** REAL frame sampling over a multi-frame container: decode the
    * committed WAV/AU corpus ([[graft.functions.AudioCodec]], real
    * RIFF/AU PCM parse), split the waveform into fixed 128-sample
    * block frames, keep every 2nd frame, and emit one row per sampled
    * frame with all-integer per-frame statistics (signed sum, abs
    * peak) — an iterator-EXPANDING mapPartitions (one clip in → many
    * frame rows out), the batch shape a real frame-decoder pipeline
    * uses. The oracle reads a sidecar derived from the generator's
    * sample formulas (tools/gen_audio.py), so a decoder bug cannot
    * self-confirm. Corrupt/undecodable files yield no frames (their
    * clip-level failure rows live in mm_audio_decode). Map-only:
    * binaryFile scan → per-partition decode, no shuffle before the
    * final presentation sort.
    */
  val mmFrameSample: Q = (s, _) => frameSample(s, audioDir)

  /** Dir-parameterized frame-sampling pass behind [[mmFrameSample]]. */
  private[graft] def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val frameSize = 128
    val stride = 2
    graft.sources.BinaryFiles.scan(s, "*.{wav,au}", dir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (name, bytes) =>
          graft.functions.AudioCodec.decodeSamples(bytes) match {
            case Some(clip) =>
              val xs = clip.samples
              val nFrames = xs.length / frameSize
              (0 until nFrames by stride).iterator.map { f =>
                var sum = 0L
                var peak = 0L
                var i = f * frameSize
                val end = i + frameSize
                while (i < end) {
                  val v = xs(i).toLong
                  sum += v
                  val a = math.abs(v)
                  if (a > peak) peak = a
                  i += 1
                }
                (name, f.toLong, sum, peak)
              }
            case None => Iterator.empty
          }
        }
      }
      .toDF("file_name", "frame_idx", "frame_sum", "frame_peak")
      .orderBy(col("file_name"), col("frame_idx"))
  }

  /** REAL nearest-neighbor resize over decoded corpus luma: decode the
    * committed PNG/BMP corpus ([[graft.functions.ImageCodec]], real
    * self-contained container parse), NN-resize the integer luma
    * raster to a 10×10 thumbnail (output pixel (y,x) samples source
    * (⌊y·h/10⌋, ⌊x·w/10⌋)), and emit all-integer thumbnail statistics
    * — sum, min, max, plus a position-weighted sum Σ thumb(i)·(i+1)
    * that pins EVERY output pixel's value and position, not just the
    * aggregate. The oracle reads a sidecar computed from the
    * generator's pixel formulas (tools/gen_images.py), never from this
    * decoder. Corrupt files surface as img_ok=false rows. One file in
    * → one thumbnail row out, map-only partition-batched decode.
    */
  val mmResize: Q = (s, _) => {
    import s.implicits._
    val outW = 10
    val outH = 10
    graft.sources.BinaryFiles.scan(s, "*.{png,bmp}", imagesDir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          graft.functions.ImageCodec.decodeRaster(bytes) match {
            case Some(r) =>
              val t = graft.functions.ImageCodec.resizeLuma(r, outW, outH)
              var sum = 0L
              var wsum = 0L
              var mn = Long.MaxValue
              var mx = Long.MinValue
              var i = 0
              while (i < t.length) {
                val v = t(i).toLong
                sum += v
                wsum += v * (i + 1)
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              (name, true, outW, outH, sum, mn, mx, wsum)
            case None => (name, false, 0, 0, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("file_name", "img_ok", "out_w", "out_h",
        "thumb_sum", "thumb_min", "thumb_max", "thumb_wsum")
      .orderBy(col("file_name"))
  }

  /** REAL per-asset feature extraction — the clip-level statistics a
    * training pipeline filters on, computed from the DECODED waveform
    * of the committed WAV/AU corpus: mean |amplitude| and mean energy
    * (e4 fixed-point via pure integer division — bit-exact across
    * engines, no float path), dynamic range (max−min sample), and
    * alphabet size (distinct sample values — a constant-tone or
    * clipped clip shows a tiny alphabet). Corrupt files surface as
    * audio_ok=false rows. Sidecar-oracled (tools/gen_audio.py
    * expected_features.parquet, from the sample formulas). Map-only
    * partition-batched decode.
    */
  /** Constellation-style audio fingerprinting over the decoded
    * waveform — the Shazam-shape landmark scheme restricted to
    * integer-exact features (no FFT: a float spectral transform would
    * be engine/order-unstable, and the committed-corpus oracle pins
    * every bit). 256-sample frames at hop 128; per-frame abs-energy +
    * in-frame zero crossings (a coarse but real spectral proxy —
    * ZCR tracks dominant frequency for monophonic PCM); interior
    * local-max energy peaks (strict vs the two PRECEDING frames, ≥ vs
    * the two FOLLOWING — the asymmetry makes plateau ties
    * deterministic); consecutive-peak landmarks (Δt ≤ 16 frames)
    * hashed as bitlen(e₁)‖zcr₁‖bitlen(e₂)‖Δt and aggregated
    * ORDER-FREE (xor + sum), so the per-file fingerprint is exact in
    * any execution order. Per-partition decode over the binaryFile
    * scan like every codec op; the landmark table never shuffles —
    * one row per file leaves the partition. Sidecar-pinned against
    * tools/gen_audio.py's independent formula derivation.
    */
  val mmAudioFingerprint: Q = (s, _) => {
    import s.implicits._
    val frame = 256
    val hop = 128
    graft.sources.BinaryFiles.scan(s, "*.{wav,au}", audioDir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          graft.functions.AudioCodec.decodeSamples(bytes) match {
            case Some(clip) =>
              val xs = clip.samples
              val nf = if (xs.length < frame) 0 else (xs.length - frame) / hop + 1
              val es = new Array[Long](nf)
              val zs = new Array[Int](nf)
              var j = 0
              while (j < nf) {
                var e = 0L; var z = 0; var i = j * hop
                val end = i + frame
                var prevNeg = false
                var first = true
                while (i < end) {
                  val v = xs(i)
                  e += math.abs(v)
                  val neg = v < 0
                  if (!first && neg != prevNeg) z += 1
                  prevNeg = neg; first = false
                  i += 1
                }
                es(j) = e; zs(j) = z
                j += 1
              }
              var nPeaks = 0L; var nLm = 0L; var lmXor = 0L; var lmSum = 0L
              var lastPeak = -1
              var k = 2
              while (k < nf - 2) {
                if (es(k) > es(k - 2) && es(k) > es(k - 1) &&
                  es(k) >= es(k + 1) && es(k) >= es(k + 2)) {
                  nPeaks += 1
                  if (lastPeak >= 0 && k - lastPeak <= 16) {
                    // bitLength(e) = 64 − nlz(e); 0 for e = 0, matching
                    // the generator's int.bit_length()
                    val bl1 = 64 - java.lang.Long.numberOfLeadingZeros(es(lastPeak))
                    val bl2 = 64 - java.lang.Long.numberOfLeadingZeros(es(k))
                    val hh = (bl1.toLong << 24) | (math.min(zs(lastPeak), 255).toLong << 16) |
                      (bl2.toLong << 8) | (k - lastPeak).toLong
                    lmXor ^= hh; lmSum += hh; nLm += 1
                  }
                  lastPeak = k
                }
                k += 1
              }
              (name, true, nf.toLong, nPeaks, nLm, lmXor, lmSum)
            case None => (name, false, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("file_name", "audio_ok", "n_frames", "n_peaks",
        "n_landmarks", "lm_xor", "lm_sum")
      .orderBy(col("file_name"))
  }

  val mmFeatureExtract: Q = (s, _) => {
    import s.implicits._
    graft.sources.BinaryFiles.scan(s, "*.{wav,au}", audioDir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          graft.functions.AudioCodec.decodeSamples(bytes) match {
            case Some(clip) =>
              val xs = clip.samples
              // PCM16 range: offset-indexed presence array beats a
              // hash set on this per-partition hot path
              val seen = new Array[Boolean](65536)
              var sumAbs = 0L
              var energy = 0L
              var mn = Int.MaxValue
              var mx = Int.MinValue
              var i = 0
              while (i < xs.length) {
                val v = xs(i)
                seen(v + 32768) = true
                sumAbs += math.abs(v)
                energy += v.toLong * v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              var alphabet = 0L
              var j = 0
              while (j < seen.length) { if (seen(j)) alphabet += 1; j += 1 }
              val n = math.max(xs.length, 1).toLong
              (name, true, xs.length.toLong,
                sumAbs * 10000L / n, energy * 10000L / n,
                (if (xs.isEmpty) 0 else mx - mn).toLong, alphabet)
            case None => (name, false, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("file_name", "audio_ok", "n_samples", "mean_abs_e4",
        "mean_energy_e4", "dyn_range", "alphabet")
      .orderBy(col("file_name"))
  }

  /** Perceptual average-hash over the 8×8 NN thumbnail (same index
    * math as mmResize): bit i set iff pixel i is strictly brighter
    * than the thumbnail mean — compared as `pixel·64 > sum` so the
    * mean never becomes a float. Emitted as two 32-bit halves
    * (lo = bits 0..31): a 2^63 bit in one BIGINT would wrap in Spark
    * but ERROR in DuckDB's checked arithmetic, and the split also
    * hands downstream banding its chunks for free. This is the stored
    * artifact of image near-dup dedup; candidate pairing over it is
    * the dd_simhash chunk-band shape (hamming ≤ r pairs share an
    * exact 16-bit band by pigeonhole). Map-only, partition-batched.
    */
  val mmPhash: Q = (s, d) => {
    import s.implicits._
    val out = 8
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        ((col("doc_id") % 32) + 16).cast("int").as("width"),
        ((col("doc_id") % 24) + 12).cast("int").as("height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { batch =>
        batch.map { case (id, bytes, w, h) =>
          val thumb = new Array[Long](out * out)
          var sum = 0L
          var y = 0
          while (y < out) {
            val sy = y * h / out
            var x = 0
            while (x < out) {
              val sx = x * w / out
              val idx = sy * w + sx
              val v: Long = if (idx < bytes.length) (bytes(idx) & 0xff).toLong else 0L
              thumb(y * out + x) = v
              sum += v
              x += 1
            }
            y += 1
          }
          var lo = 0L
          var hi = 0L
          var nBright = 0L
          var i = 0
          while (i < 64) {
            if (thumb(i) * 64 > sum) {
              nBright += 1
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
            i += 1
          }
          (id, lo, hi, nBright)
        }
      }
      .toDF("doc_id", "phash_lo", "phash_hi", "n_bright")
      .orderBy(col("doc_id"))
  }

  private[graft] val imagesDir = s"${graft.sources.BinaryFiles.dataRoot}/images"

  /** REAL image decode over a committed corpus of true PNG files —
    * the full-stats sibling of mmDecodeMeta, closing the image
    * half of the multimodal gap JDK-only:
    * [[graft.functions.ImageCodec]] parses the PNG container with its
    * own chunk/Inflater walk (magic-sniffed, not extension-trusted), emits
    * all-integer channel sums and the mm_phash average-hash over the
    * REAL luma raster (same 8×8 NN index math). The corpus was written
    * by an independent stdlib-Python generator (tools/gen_images.py —
    * no shared code with the reader), and the oracle reads its
    * pixel-formula-derived sidecar, so a decoder bug cannot
    * self-confirm. Corrupt files (bad magic, truncated stream) surface
    * as img_ok=false rows, never a thrown scan. Plan shape: binaryFile
    * scan (distributed listing) → per-partition decode, map-only —
    * the 100 TB posture is one decode pass, no driver involvement,
    * no shuffle.
    */
  val mmImageDecode: Q = (s, _) => imageDecode(s, imagesDir)

  /** Dir-parameterized decode pass behind [[mmImageDecode]] — the
    * benchmark harness points it at its own generated corpus.
    */
  private[graft] def imageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.BinaryFiles.scan(s, "*.{png,bmp}", dir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          graft.functions.ImageCodec.decode(bytes) match {
            case Some(d) =>
              (name, true, d.width, d.height, d.width.toLong * d.height,
                d.sumR, d.sumG, d.sumB, d.phashLo, d.phashHi, d.nBright)
            case None =>
              (name, false, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("file_name", "img_ok", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "phash_lo", "phash_hi", "n_bright")
      .orderBy(col("file_name"))
  }

  /** §2.F round 10 — perceptual NEAR-DUP pairing over the real image
    * corpus: the MinHash-LSH shape applied to the 64-bit average-hash.
    * The hash splits into 64/bandBits equal bands; candidate pairs
    * come from band-equality buckets (one shuffle on the band key,
    * never file×file) and only candidates pay the exact hamming
    * verify. With τ ≤ bands−1 the banding recall is EXACT by
    * pigeonhole — ≤τ differing bits cannot touch every band — so the
    * operator provably equals the all-pairs oracle while doing
    * bucket-join work. Band width is the scale lever: the registry op
    * runs 4-bit bands (τ=15) sized to the 67-file corpus; a web-scale
    * corpus runs 8-bit bands (τ=7) — both widths spec-equal to brute
    * force. Dedup across co-colliding bands happens pre-verify
    * (distinct on the pair), the dd_minhash_lsh precedent.
    */
  private[graft] def phashPairs(ph: DataFrame, bandBits: Int, tau: Int): DataFrame = {
    val nBands = 64 / bandBits
    require(64 % bandBits == 0 && tau <= nBands - 1,
      s"banding guarantees recall only for tau <= ${nBands - 1}")
    val half = nBands / 2
    val mask = (1 << bandBits) - 1
    val banded = ph
      .select(col("file_name"), col("phash_lo"), col("phash_hi"),
        explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .withColumn("bkey", expr(
        s"""(CASE WHEN band < $half THEN phash_lo >> (band * $bandBits)
           | ELSE phash_hi >> ((band - $half) * $bandBits) END) & $mask""".stripMargin))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.file_name") < col("b.file_name"))
      .select(col("a.file_name").as("file_a"), col("b.file_name").as("file_b"),
        col("a.phash_lo").as("lo_a"), col("a.phash_hi").as("hi_a"),
        col("b.phash_lo").as("lo_b"), col("b.phash_hi").as("hi_b"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b) AS BIGINT)"))
      .filter(col("hamming") <= tau)
      .select(col("file_a"), col("file_b"), col("hamming"))
      .orderBy(col("file_a"), col("file_b"))
  }

  val mmPhashPairs: Q = (s, _) =>
    phashPairs(imageDecode(s, imagesDir).filter(col("img_ok"))
      .select(col("file_name"), col("phash_lo"), col("phash_hi")),
      bandBits = 4, tau = 15)

  /** Image near-dup CLUSTERING — the end of the perceptual pipeline:
    * mm_phash hashes, mm_phash_pairs pairs, this op closes the
    * transitive hull and labels every decoded image with its
    * near-dup family (the grouping a curation pass dedups or
    * stratifies on). Components come from the SHARED dedup CC kernel
    * (driver union-find under the edge budget, alternating-star
    * above — the same router the text pipeline uses, applied to a
    * different modality's pair graph): file names enter the kernel as
    * xxhash64 longs, but the emitted label is the component's MIN
    * file_name via a label-agnostic rollup, so the output never
    * depends on hash ordering. Unpaired decoded images emit as
    * singleton clusters of themselves — the full-corpus labeling a
    * downstream keep-one-per-cluster pass needs.
    */
  val mmDedupCluster: Q = (s, _) => {
    val files = imageDecode(s, imagesDir).filter(col("img_ok"))
      .select(col("file_name"), col("phash_lo"), col("phash_hi"))
    val pairs = phashPairs(files, bandBits = 4, tau = 15)
    val labels = graft.operators.Dedup.connectedComponents(
      pairs.select(xxhash64(col("file_a")).as("doc_a"),
        xxhash64(col("file_b")).as("doc_b")))
      .toDF("node", "label")
    val named = files.select(col("file_name"), xxhash64(col("file_name")).as("node"))
      .join(labels, Seq("node"), "left")
      // unpaired files: their own (singleton) component
      .withColumn("label", coalesce(col("label"), col("node")))
    val keys = named.groupBy(col("label"))
      .agg(min(col("file_name")).as("cluster_key"),
        count(lit(1)).as("cluster_size"))
    named.join(keys, Seq("label"))
      .select(col("file_name"), col("cluster_key"), col("cluster_size"))
      .orderBy(col("cluster_key"), col("file_name"))
  }

  /** §2.F round 11 — the composed image-curation FLAGSHIP (the mm
    * mirror of dd_pipeline): decode → phash → banded near-dup pairs →
    * transitive clustering → canonical keep-one + drop list, as ONE
    * DAG. The decoded frame localCheckpoints ONCE and feeds all three
    * consumers (the band join's two sides via phashPairs, the
    * full-corpus labeling, and the quality signal for keep-one) — no
    * re-decode, no re-scan; the pair graph is computed once and the
    * cluster labels ride the shared CC router (driver union-find
    * under the edge budget, alternating-star above). Keep-one policy:
    * highest n_pixels (resolution IS the curation quality of a
    * near-dup image family), tie-broken by file_name, via a
    * per-cluster window — bounded by cluster size, never global. Each
    * row carries its cluster, size, its own resolution, whether it
    * survives, and WHICH file superseded it (keep_file — the
    * redirect/attribution column a curation manifest needs: every
    * dropped asset points at its surviving twin). At 100 TB this is
    * the whole multimodal curation pass in one job: per-stage
    * exchanges are band-key, label, and the presentation sort only
    * (exchange-count pinned in PlanHealthSpec). Oracle: composes the
    * mm_phash_pairs sidecar oracle + an independent recursive string
    * closure + the same keep-one policy in SQL — nothing of the
    * Spark-side hash labeling leaks through.
    */
  val mmPipeline: Q = (s, _) => imagePipeline(s, imagesDir)

  /** Dir-parameterized pipeline behind [[mmPipeline]] — the
    * benchmark harness points it at its own generated corpus.
    */
  private[graft] def imagePipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = imageDecode(s, dir).filter(col("img_ok"))
      .select(col("file_name"), col("phash_lo"), col("phash_hi"),
        col("n_pixels"))
      .localCheckpoint()
    val pairs = phashPairs(
      files.select(col("file_name"), col("phash_lo"), col("phash_hi")),
      bandBits = 4, tau = 15)
    val labels = graft.operators.Dedup.connectedComponents(
      pairs.select(xxhash64(col("file_a")).as("doc_a"),
        xxhash64(col("file_b")).as("doc_b")))
      .toDF("node", "label")
    val named = files
      .withColumn("node", xxhash64(col("file_name")))
      .join(labels, Seq("node"), "left")
      .withColumn("label", coalesce(col("label"), col("node")))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n_pixels").desc, col("file_name"))
    val ranked = named.withColumn("rk", row_number().over(w))
    val keys = ranked.groupBy(col("label"))
      .agg(min(col("file_name")).as("cluster_key"),
        count(lit(1)).as("cluster_size"),
        max(when(col("rk") === 1, col("file_name"))).as("keep_file"))
    ranked.join(keys, Seq("label"))
      .select(col("file_name"), col("cluster_key"), col("cluster_size"),
        col("n_pixels"), (col("rk") === 1).as("is_canonical"), col("keep_file"))
      .orderBy(col("cluster_key"), col("file_name"))
  }

  private[graft] val audioDir = s"${graft.sources.BinaryFiles.dataRoot}/audio"

  /** REAL audio decode over a committed corpus of true WAV files —
    * the audio sibling of [[mmImageDecode]], same contract:
    * [[graft.functions.AudioCodec]] parses the RIFF/PCM container via
    * javax.sound.sampled, emits all-integer clip statistics (abs-sum,
    * energy, peak, zero crossings); the corpus comes from an
    * independent stdlib-Python generator (tools/gen_audio.py, `wave`
    * module) and the oracle reads its sample-formula sidecar. Corrupt
    * files → audio_ok=false rows. binaryFile scan + per-partition
    * decode, map-only.
    */
  val mmAudioDecode: Q = (s, _) => audioDecode(s, audioDir)

  /** Dir-parameterized decode pass behind [[mmAudioDecode]]. */
  private[graft] def audioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sources.BinaryFiles.scan(s, "*.{wav,au}", dir)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          graft.functions.AudioCodec.decode(bytes) match {
            case Some(d) =>
              (name, true, d.nChannels, d.sampleRate, d.nSamples,
                d.sumAbs, d.energy, d.peak, d.zeroCrossings)
            case None =>
              (name, false, 0, 0, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("file_name", "audio_ok", "n_channels", "sample_rate",
        "n_samples", "sum_abs", "energy", "peak", "zero_crossings")
      .orderBy(col("file_name"))
  }

  /** Content-addressed dedup over the opaque binary payload — the
    * storage layout move for media corpora: digest the raw bytes
    * (md5 here; production uses sha256), keep one canonical asset per
    * digest, account the savings. Unlike dd_exact (normalized TEXT),
    * this hashes the payload bytes verbatim — the digest IS the
    * storage key. Partial-aggregating groupBy: one row per digest to
    * the shuffle.
    */
  val mmDedupBytes: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .groupBy(md5(col("payload")).as("digest"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("ref_count"),
        max(length(col("payload"))).cast("long").as("n_bytes"))
      .withColumn("bytes_saved", (col("ref_count") - 1) * col("n_bytes"))
      .orderBy(col("digest"))

  val queries: Map[String, Q] = Map(
    "mm_phash" -> mmPhash,
    "mm_phash_pairs" -> mmPhashPairs,
    "mm_dedup_bytes" -> mmDedupBytes,
    "mm_decode_meta" -> mmDecodeMeta,
    "mm_image_decode" -> mmImageDecode,
    "mm_audio_decode" -> mmAudioDecode,
    "mm_frame_sample" -> mmFrameSample,
    "mm_resize" -> mmResize,
    "mm_feature_extract" -> mmFeatureExtract,
    "mm_audio_fingerprint" -> mmAudioFingerprint,
    "mm_dedup_cluster" -> mmDedupCluster,
    "mm_pipeline" -> mmPipeline)

  /** The byte histogram is computable in SQL for ASCII text, so this
    * gets a real oracle despite the mapPartitions implementation.
    */
  private val baseOracles: Map[String, String] = Map(
    "mm_audio_fingerprint" ->
      s"""SELECT file_name, audio_ok, n_frames, n_peaks, n_landmarks,
        |  lm_xor, lm_sum
        |FROM read_parquet('$audioDir/expected_fingerprint.parquet')
        |ORDER BY file_name""".stripMargin,
    "mm_phash_pairs" ->
      s"""WITH ph AS (
        |  SELECT file_name, phash_lo, phash_hi
        |  FROM read_parquet('$imagesDir/expected.parquet') WHERE img_ok)
        |SELECT a.file_name AS file_a, b.file_name AS file_b,
        |  CAST(bit_count(xor(a.phash_lo, b.phash_lo)) +
        |       bit_count(xor(a.phash_hi, b.phash_hi)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.file_name < b.file_name
        |WHERE bit_count(xor(a.phash_lo, b.phash_lo)) +
        |      bit_count(xor(a.phash_hi, b.phash_hi)) <= 15
        |ORDER BY file_a, file_b""".stripMargin,
    "mm_phash" ->
      """SELECT doc_id,
        | CAST(list_sum(list_transform(range(1, 33), i ->
        |   CASE WHEN thumb[i] * 64 > list_sum(thumb) THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS phash_lo,
        | CAST(list_sum(list_transform(range(33, 65), i ->
        |   CASE WHEN thumb[i] * 64 > list_sum(thumb) THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT) AS phash_hi,
        | CAST(len(list_filter(thumb, v -> v * 64 > list_sum(thumb))) AS BIGINT) AS n_bright
        |FROM (
        | SELECT doc_id,
        |  list_transform(range(0, 64), i ->
        |    CASE WHEN ((i // 8) * h // 8) * w + ((i % 8) * w // 8) < strlen(text)
        |         THEN bytes[((i // 8) * h // 8) * w + ((i % 8) * w // 8) + 1]
        |         ELSE 0 END) AS thumb
        | FROM (
        |  SELECT doc_id, doc_id % 32 + 16 AS w, doc_id % 24 + 12 AS h,
        |   text, list_transform(string_split(text, ''), c -> ascii(c)) AS bytes
        |  FROM documents) r) t
        |ORDER BY doc_id""".stripMargin,
    "mm_image_decode" ->
      s"""SELECT file_name, img_ok,
        | CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        | n_pixels, sum_r, sum_g, sum_b, phash_lo, phash_hi, n_bright
        |FROM read_parquet('$imagesDir/expected.parquet')
        |ORDER BY file_name""".stripMargin,
    "mm_audio_decode" ->
      s"""SELECT file_name, audio_ok,
        | CAST(n_channels AS INT) AS n_channels,
        | CAST(sample_rate AS INT) AS sample_rate,
        | n_samples, sum_abs, energy, peak, zero_crossings
        |FROM read_parquet('$audioDir/expected.parquet')
        |ORDER BY file_name""".stripMargin,
    "mm_dedup_bytes" ->
      """SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
        | CAST(count(*) AS BIGINT) AS ref_count,
        | CAST(max(strlen(text)) AS BIGINT) AS n_bytes,
        | CAST((count(*) - 1) * max(strlen(text)) AS BIGINT) AS bytes_saved
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,
    "mm_decode_meta" ->
      s"""SELECT file_name, img_ok, format,
        | CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        | n_bytes, h0, h1, h2, h3
        |FROM read_parquet('$imagesDir/expected_meta.parquet')
        |ORDER BY file_name""".stripMargin,
    "mm_frame_sample" ->
      s"""SELECT file_name, frame_idx, frame_sum, frame_peak
        |FROM read_parquet('$audioDir/expected_frames.parquet')
        |ORDER BY file_name, frame_idx""".stripMargin,
    "mm_resize" ->
      s"""SELECT file_name, img_ok,
        | CAST(r10_w AS INT) AS out_w, CAST(r10_h AS INT) AS out_h,
        | r10_sum AS thumb_sum, r10_min AS thumb_min,
        | r10_max AS thumb_max, r10_wsum AS thumb_wsum
        |FROM read_parquet('$imagesDir/expected.parquet')
        |ORDER BY file_name""".stripMargin,
    "mm_feature_extract" ->
      s"""SELECT file_name, audio_ok, n_samples, mean_abs_e4,
        | mean_energy_e4, dyn_range, alphabet
        |FROM read_parquet('$audioDir/expected_features.parquet')
        |ORDER BY file_name""".stripMargin)

  /** The cluster oracle COMPOSES the mm_phash_pairs oracle verbatim as
    * its pair CTE and closes the hull with an independent recursive
    * transitive closure over STRING names — no hashing anywhere, so it
    * also cross-checks the Spark side's hash-then-relabel roundtrip.
    */
  /** mm_pipeline's oracle: the mm_dedup_cluster recursive closure plus
    * the keep-one policy (n_pixels DESC, file_name) replayed in SQL
    * over the sidecar's independent pixel counts.
    */
  private val pipelineOracle: String =
    s"""WITH RECURSIVE pairs AS (${baseOracles("mm_phash_pairs")}),
      |ph AS (
      |  SELECT file_name, n_pixels
      |  FROM read_parquet('$imagesDir/expected.parquet') WHERE img_ok),
      |edges AS (
      |  SELECT file_a AS a, file_b AS b FROM pairs
      |  UNION SELECT file_b, file_a FROM pairs),
      |reach(node, lab) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
      |cc AS (SELECT node, min(lab) AS lab FROM reach GROUP BY node),
      |l AS (
      |  SELECT ph.file_name, ph.n_pixels,
      |    coalesce(cc.lab, ph.file_name) AS lab
      |  FROM ph LEFT JOIN cc ON ph.file_name = cc.node),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY lab ORDER BY n_pixels DESC, file_name) AS rk
      |  FROM l),
      |k AS (
      |  SELECT lab, min(file_name) AS cluster_key,
      |    CAST(count(*) AS BIGINT) AS cluster_size FROM l GROUP BY lab),
      |kf AS (SELECT lab, file_name AS keep_file FROM r WHERE rk = 1)
      |SELECT r.file_name, k.cluster_key, k.cluster_size, r.n_pixels,
      |  r.rk = 1 AS is_canonical, kf.keep_file
      |FROM r JOIN k USING (lab) JOIN kf USING (lab)
      |ORDER BY cluster_key, file_name""".stripMargin

  val oracles: Map[String, String] = baseOracles +
    ("mm_pipeline" -> pipelineOracle) + ("mm_dedup_cluster" ->
    s"""WITH RECURSIVE pairs AS (${baseOracles("mm_phash_pairs")}),
      |ph AS (
      |  SELECT file_name FROM read_parquet('$imagesDir/expected.parquet') WHERE img_ok),
      |edges AS (
      |  SELECT file_a AS a, file_b AS b FROM pairs
      |  UNION SELECT file_b, file_a FROM pairs),
      |reach(node, lab) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node),
      |cc AS (SELECT node, min(lab) AS cluster_key FROM reach GROUP BY node),
      |lab AS (
      |  SELECT ph.file_name, coalesce(cc.cluster_key, ph.file_name) AS cluster_key
      |  FROM ph LEFT JOIN cc ON ph.file_name = cc.node)
      |SELECT file_name, cluster_key,
      |  CAST(count(*) OVER (PARTITION BY cluster_key) AS BIGINT) AS cluster_size
      |FROM lab ORDER BY cluster_key, file_name""".stripMargin)
}

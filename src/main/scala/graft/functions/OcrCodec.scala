package graft.functions

/** REAL OCR text recognition, JDK-only — the last decode stub in the
  * reference-parity chain made real. The reference runs EasyOCR over
  * scanned statements (`manual_purchase_confirm_extractor.py:38-58`,
  * the same `extract_text_with_easyocr` in all four manual_*
  * extractors); a neural engine is env-blocked here, so this is the
  * classic fixed-font ancestor of the same step: TEMPLATE-MATCHING OCR
  * against a committed glyph atlas.
  *
  * The font is DATA, not code: tools/gen_scans.py renders the scanned
  * corpus with a deterministic 16x16-per-glyph bitmap font
  * (injectivity-validated — pairwise Hamming distance >= 80) and
  * commits it as data/statements_ocr/font/{atlas.png,charmap.txt}.
  * This matcher loads those templates through the SAME self-contained
  * decoder as the scans ([[ImageCodec.decodeRgb]]) and recognizes each
  * glyph cell by pixel comparison:
  *
  *   - segmentation: fixed 16-pixel grid (the scanner's cell raster);
  *     an all-background cell is a space, trailing spaces trim away
  *   - exact path: a hash lookup on the cell's 256-bit signature
  *     (clean scans never touch the linear scan)
  *   - noisy path: nearest-neighbor Hamming distance over all
  *     templates (XOR + popcount on 4 longs per candidate) — the
  *     generator's flipped-pixel leg lands here, and per-glyph
  *     confidence drops by exactly the flipped bits
  *   - rejection: best distance > 64 bits → the cell is not readably
  *     any known glyph → '?' with score 0 (the generator's
  *     destroyed-cell leg is validated to sit beyond the threshold
  *     from EVERY template, so rejection is deterministic)
  *
  * File confidence is ALL-INTEGER: confPpm = 1e6 · Σ score / (256 ·
  * glyph cells), score = 256 − distance (0 when rejected) — exact in
  * any execution order, mirrored formula-side in the generator's
  * sidecar. Decode failures (bad magic, truncated stream, corrupt
  * IDAT, dimensions off the cell grid) return None — surfaced as
  * ocr_ok=false rows, never a thrown scan, matching the
  * etl_pdf_text / mm_image_decode failure contract.
  */
object OcrCodec {

  // Decode goes through ImageCodec.decodeRgb — the self-contained
  // PNG/BMP decoder with zero JVM-global state. The javax.imageio
  // path it replaces corrupted rare concurrent decodes even with its
  // /tmp disk cache disabled (observed: one scan decoding to garbage
  // pixels and recognizing as all-rejects, only during decode-heavy
  // full sweeps); per-call Inflater/buffer state removes the failure
  // class instead of patching its symptoms.

  final case class Recognized(text: String, confPpm: Long)

  private val Cell = 16
  private val RejectBits = 64
  val defaultFontDir = s"${graft.sources.BinaryFiles.dataRoot}/statements_ocr/font"

  /** One template = the glyph's 256-bit cell signature as 4 longs. */
  private final class Font(
      val chars: Array[Char],
      val templates: Array[Array[Long]],
      val exact: java.util.HashMap[java.util.List[java.lang.Long], java.lang.Integer])

  // one load per (JVM, fontDir): the atlas is a broadcast-constant-
  // sized asset (113 glyphs here; a full CJK fixed font is still <1MB)
  private val fonts =
    new java.util.concurrent.ConcurrentHashMap[String, Font]()

  private def loadFont(dir: String): Font =
    fonts.computeIfAbsent(dir, { d =>
      val atlas = ImageCodec.decodeRgb(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(d, "atlas.png")))
        .getOrElse(sys.error(s"unreadable OCR font atlas: $d/atlas.png"))
      val charmap = new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(d, "charmap.txt")),
        java.nio.charset.StandardCharsets.UTF_8)
      val chars = charmap.toCharArray
      val perRow = atlas.width / Cell
      val luma = lumaRaster(atlas)
      val templates = Array.tabulate(chars.length) { i =>
        cellSig(luma, atlas.width, (i / perRow) * Cell,
          (i % perRow) * Cell)
      }
      val exact =
        new java.util.HashMap[java.util.List[java.lang.Long], java.lang.Integer]()
      var i = 0
      while (i < templates.length) {
        exact.put(key(templates(i)), i)
        i += 1
      }
      new Font(chars, templates, exact)
    })

  private def key(sig: Array[Long]): java.util.List[java.lang.Long] =
    java.util.List.of(sig(0), sig(1), sig(2), sig(3))

  private def lumaRaster(img: ImageCodec.Rgb): Array[Int] = {
    val luma = new Array[Int](img.px.length)
    var p = 0
    while (p < img.px.length) {
      val rgb = img.px(p)
      val r = (rgb >> 16) & 0xff
      val g = (rgb >> 8) & 0xff
      val b = rgb & 0xff
      luma(p) = (r * 299 + g * 587 + b * 114) / 1000
      p += 1
    }
    luma
  }

  /** 256-bit cell signature, row-major MSB-first (the generator's bit
    * order): bit = ink (luma < 128). */
  private def cellSig(luma: Array[Int], w: Int, y0: Int, x0: Int): Array[Long] = {
    val sig = new Array[Long](4)
    var k = 0
    while (k < 256) {
      if (luma((y0 + k / Cell) * w + x0 + k % Cell) < 128)
        sig(k >> 6) |= 1L << (63 - (k & 63))
      k += 1
    }
    sig
  }

  private def hamming(a: Array[Long], b: Array[Long]): Int =
    java.lang.Long.bitCount(a(0) ^ b(0)) +
      java.lang.Long.bitCount(a(1) ^ b(1)) +
      java.lang.Long.bitCount(a(2) ^ b(2)) +
      java.lang.Long.bitCount(a(3) ^ b(3))

  def recognize(bytes: Array[Byte]): Option[Recognized] =
    recognize(bytes, defaultFontDir)

  def recognize(bytes: Array[Byte], fontDir: String): Option[Recognized] =
    try {
      ImageCodec.decodeRgb(bytes).flatMap { img =>
        val w = img.width
        val h = img.height
        // a statement scan is a whole number of glyph cells; anything
        // else is not this scanner's output
        if (w <= 0 || h <= 0 || w % Cell != 0 || h % Cell != 0) None
        else {
          val font = loadFont(fontDir)
          val luma = lumaRaster(img)
          val sb = new java.lang.StringBuilder()
          var scoreSum = 0L
          var nGlyphs = 0L
          var r = 0
          while (r < h / Cell) {
            if (r > 0) sb.append('\n')
            val lineStart = sb.length()
            var lastInk = -1
            var c = 0
            while (c < w / Cell) {
              val sig = cellSig(luma, w, r * Cell, c * Cell)
              if (sig(0) == 0 && sig(1) == 0 && sig(2) == 0 && sig(3) == 0)
                sb.append(' ')
              else {
                nGlyphs += 1
                lastInk = c
                val hit = font.exact.get(key(sig))
                if (hit != null) {
                  sb.append(font.chars(hit.intValue))
                  scoreSum += 256
                } else {
                  // nearest-neighbor fallback: the noisy-scan path
                  var best = -1
                  var bestD = Int.MaxValue
                  var i = 0
                  while (i < font.templates.length) {
                    val dd = hamming(sig, font.templates(i))
                    if (dd < bestD) { bestD = dd; best = i }
                    i += 1
                  }
                  if (bestD > RejectBits) sb.append('?') // score 0
                  else {
                    sb.append(font.chars(best))
                    scoreSum += 256 - bestD
                  }
                }
              }
              c += 1
            }
            // trim the padding cells past the line's last glyph
            sb.setLength(lineStart + lastInk + 1)
            r += 1
          }
          if (nGlyphs == 0) None // blank page: nothing recognizable
          else Some(Recognized(sb.toString,
            1000000L * scoreSum / (256L * nGlyphs)))
        }
      }
    } catch { case _: Exception => None }
}

package graft.llm

import org.apache.spark.sql.{Dataset, Encoder}

import graft.llm.MultimodalQueries.{DecodedMedia, MediaRow}

/** REAL decoders behind the multimodal batch-decode seam: two
  * pure-JVM still-image formats — binary PPM (P6) and uncompressed
  * 24-bpp BMP — parsed from raw bytes with no external library.
  * x_multimodal_real and x_multimodal_bmp run them on containers
  * synthesized per document, and MediaDecodeSpec drives them on
  * golden-bytes fixtures. The text payloads of the other multimodal
  * queries are not image containers, so those decode through
  * MultimodalQueries' deterministic stub behind the same boundary,
  * [[decodeBatches]].
  *
  * Scale shape: decode is partition-local and batched (one decoder
  * invocation per [[DecodeBatch]] items), payloads stay opaque bytes
  * until the decoder touches them, zero shuffle.
  */
object MediaDecode {

  /** Items per decoder invocation at every decode boundary. */
  private[graft] val DecodeBatch = 64

  /** The one decode boundary: `decode` sees each partition in
    * [[DecodeBatch]]-item batches — the JVM analog of an Arrow-batched
    * decode UDF.
    */
  private[graft] def decodeBatches[A, B: Encoder](items: Dataset[A])(
      decode: Seq[A] => Seq[B]): Dataset[B] =
    items.mapPartitions(_.grouped(DecodeBatch).flatMap(decode))

  /** Dispatch on the container's magic bytes. An undecodable payload
    * throws with the doc_id — a real pipeline routes those to a
    * quarantine sink rather than guessing a format.
    */
  private[graft] def decodeBatchReal(batch: Seq[MediaRow]): Seq[DecodedMedia] =
    batch.map { m =>
      val b = m.payload
      val (w, h, rgb, fmt) =
        if (b.length >= 2 && b(0) == 'P'.toByte && b(1) == '6'.toByte) {
          val (pw, ph, px) = parsePpm(b); (pw, ph, px, "ppm")
        } else if (b.length >= 2 && b(0) == 'B'.toByte && b(1) == 'M'.toByte) {
          val (bw, bh, px) = parseBmp(b); (bw, bh, px, "bmp")
        } else throw new IllegalArgumentException(
          s"undecodable payload (not P6/BM) for doc_id=${m.doc_id}")
      DecodedMedia(m.doc_id, w, h, fmt, n_frames = 1, featuresOf(w, h, rgb))
    }

  /** Distributed decode over real media bytes: the real dispatch
    * decoder behind [[decodeBatches]].
    */
  def decodeMedia(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    decodeBatches(media)(decodeBatchReal)
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> <maxval>` with
    * `#`-comments allowed between tokens, one whitespace byte, then
    * `w*h` RGB triples. Only maxval=255 (1 byte/sample) is supported.
    * Returns (width, height, packed RGB).
    */
  private[graft] def parsePpm(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    var i = 2 // past "P6"
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && i < b.length) {
        val c = b(i)
        if (c == '#'.toByte) { while (i < b.length && b(i) != '\n'.toByte) i += 1 }
        else if (c == ' '.toByte || c == '\t'.toByte || c == '\n'.toByte || c == '\r'.toByte) i += 1
        else go = false
      }
    }
    def readInt(): Int = {
      skipWsAndComments()
      require(i < b.length && b(i) >= '0'.toByte && b(i) <= '9'.toByte,
        s"bad PPM header digit at byte $i")
      var v = 0
      while (i < b.length && b(i) >= '0'.toByte && b(i) <= '9'.toByte) {
        v = v * 10 + (b(i) - '0'.toByte); i += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    require(w > 0 && h > 0, s"degenerate PPM dimensions ${w}x$h")
    require(maxv == 255, s"unsupported PPM maxval $maxv (only 8-bit)")
    i += 1 // exactly ONE whitespace byte separates maxval from pixel data
    // Size math in Long: an adversarial header (e.g. 65536×65536) would
    // overflow `w*h*3` in Int, bypass the truncation require, and fail
    // as an ArrayIndexOutOfBounds instead of the documented
    // IllegalArgumentException quarantine contract.
    val needL = w.toLong * h.toLong * 3L
    require(needL <= Int.MaxValue, s"PPM dimensions ${w}x$h overflow a JVM array")
    val need = needL.toInt
    require(b.length - i >= need, s"truncated PPM pixel data (${b.length - i} < $need)")
    (w, h, java.util.Arrays.copyOfRange(b, i, i + need))
  }

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Uncompressed 24-bpp BMP (BITMAPINFOHEADER or longer): rows are
    * 4-byte aligned, stored bottom-up (top-down when the height field
    * is negative), samples in BGR order. Returns (width, height,
    * packed RGB in row-major top-down order).
    */
  private[graft] def parseBmp(b: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(b.length >= 54, s"BMP shorter than its headers (${b.length} bytes)")
    val pixOff = le32(b, 10)
    val dibSize = le32(b, 14)
    require(dibSize >= 40, s"unsupported BMP DIB header size $dibSize")
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = le16(b, 28)
    val comp = le32(b, 30)
    require(w > 0 && h > 0, s"degenerate BMP dimensions ${w}x$hRaw")
    require(bpp == 24 && comp == 0, s"only 24-bpp BI_RGB supported (got $bpp bpp, compression $comp)")
    // Same Long-math quarantine contract as the PPM side: adversarial
    // width/height/pixOff must fail the require()s, not wrap around Int
    // and surface as an array-bounds error.
    require(pixOff >= 54, s"BMP pixel offset $pixOff inside the headers")
    val rowSizeL = ((w.toLong * 3L + 3L) / 4L) * 4L
    val endL = pixOff.toLong + rowSizeL * h.toLong
    require(endL <= Int.MaxValue && w.toLong * h.toLong * 3L <= Int.MaxValue,
      s"BMP dimensions ${w}x$h overflow a JVM array")
    require(b.length >= endL, "truncated BMP pixel data")
    val rowSize = rowSizeL.toInt // safe: bounded by endL <= Int.MaxValue
    val out = new Array[Byte](w * h * 3)
    var row = 0
    while (row < h) {
      val src = pixOff + (if (topDown) row else h - 1 - row) * rowSize
      var x = 0
      while (x < w) {
        val d = (row * w + x) * 3
        out(d) = b(src + x * 3 + 2)     // R
        out(d + 1) = b(src + x * 3 + 1) // G
        out(d + 2) = b(src + x * 3)     // B
        x += 1
      }
      row += 1
    }
    (w, h, out)
  }

  /** The fixed 9-dim feature vector both real decoders emit — simple
    * image statistics, each hand-checkable from golden pixels:
    * [meanR, meanG, meanB, minLuma, maxLuma, meanLuma, brightFrac,
    * aspect, posWeightR], channels normalized to [0,1],
    * luma = (r+g+b)/3, brightFrac = share of pixels with
    * luma > 127.5, aspect = w/(w+h).
    *
    * posWeightR (9th) = Σᵢ i·rᵢ / (255·n²) over the LOGICAL
    * top-down row-major pixel order — the one statistic here that is
    * NOT invariant under pixel permutation. The other eight are
    * whole-image aggregates, so an oracle built on them structurally
    * cannot pin bottom-up vs top-down row handling in the BMP parser;
    * this one breaks under any row reordering and is still a
    * closed-form `generate_series` aggregate in the registry
    * carriers' DuckDB twins. Exact-integer
    * recovery: posw ≤ 255·n(n−1)/2 < 2²⁰ at the carriers' n ≤ 72, so
    * the float round-trip error ≤ posw·2⁻²⁴ ≈ 0.04 ≪ 0.5.
    */
  private[graft] def featuresOf(w: Int, h: Int, rgb: Array[Byte]): Array[Float] = {
    val n = w * h
    var sr = 0L; var sg = 0L; var sb = 0L; var pwr = 0L
    var minL = Double.MaxValue; var maxL = 0.0; var bright = 0
    var i = 0
    while (i < n) {
      val r = rgb(i * 3) & 0xff; val g = rgb(i * 3 + 1) & 0xff; val bl = rgb(i * 3 + 2) & 0xff
      sr += r; sg += g; sb += bl; pwr += i.toLong * r
      val l = (r + g + bl) / 3.0
      if (l < minL) minL = l
      if (l > maxL) maxL = l
      if (l > 127.5) bright += 1
      i += 1
    }
    Array(
      (sr.toDouble / n / 255.0).toFloat,
      (sg.toDouble / n / 255.0).toFloat,
      (sb.toDouble / n / 255.0).toFloat,
      (minL / 255.0).toFloat,
      (maxL / 255.0).toFloat,
      ((sr + sg + sb).toDouble / (3.0 * n) / 255.0).toFloat,
      bright.toFloat / n,
      w.toFloat / (w + h),
      (pwr.toDouble / (255.0 * n.toDouble * n.toDouble)).toFloat)
  }
}

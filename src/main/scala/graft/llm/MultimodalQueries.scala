package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata. The decode step is a clearly-marked deterministic
  * STUB (no image/audio libs in this container) — but the Spark-side
  * shape is real: binary payload column, typed metadata schema,
  * partition-batched decode via mapPartitions, feature vectors out.
  *
  * One media kernel serves every query: the stub frame timeline
  * ([[dimsOf]], [[nFramesOf]], [[mimeOf]] and their SQL twins), one
  * unsampled frame explode ([[allFrames]]), one stub decode boundary
  * ([[stubDecoded]]), one pixel carrier for the real decoder
  * ([[pixelCarrier]]), each used on the Spark side and in the oracle.
  *
  * Scale notes: payloads stay opaque bytes end-to-end (no row-level
  * string conversions); the decode runs partition-local in micro-
  * batches (the same shape a vectorized/Arrow UDF would have), so a
  * 100 TB corpus decodes embarrassingly parallel with no shuffle.
  */
object MultimodalQueries {

  // ----------------------------------------------------------------
  // The stub frame timeline over a payload of `n` bytes: dims, frame
  // count and container mime, each a Spark column plus its SQL twin.
  // [[stubDecodeBatch]] holds the only other copy, in Scala.
  // ----------------------------------------------------------------

  private def dimsOf(n: Column): Seq[Column] = Seq(
    (n % 640 + 1).cast("long").as("width"),
    ((n * 7) % 480 + 1).cast("long").as("height"))
  private def dimsSql(n: String): String =
    s"""CAST($n % 640 + 1 AS BIGINT) AS width,
       |       CAST(($n * 7) % 480 + 1 AS BIGINT) AS height""".stripMargin

  private def nFramesOf(n: Column): Column = (n % 24 + 1).cast("long")
  private def nFramesSql(n: String): String = s"CAST($n % 24 + 1 AS BIGINT)"

  /** The container mime sniff (deterministic stand-in for reading the
    * magic bytes).
    */
  private def mimeOf(docId: Column): Column =
    when(docId % 3 === 0, "jpeg")
      .when(docId % 3 === 1, "png")
      .otherwise("webp")
  private val mimeSql = "CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END"

  /** Oracle twin of [[stubDecodeBatch]]'s rolling checksum — the
    * `(a*31 + byte) mod 1e9+7` fold over the payload bytes, expressed
    * over `ascii(c)` folds (the testdata text is ASCII, so characters
    * ARE the bytes; same primitive x_fingerprint pins).
    */
  private def checksumSql(textCol: String): String =
    s"""list_reduce(
       |           list_prepend(CAST(0 AS BIGINT),
       |             list_transform(string_split($textCol, ''), c -> CAST(ascii(c) AS BIGINT))),
       |           (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** Metadata extraction over the binary payload — pure built-in
    * expressions (byte length, format sniff, derived dimensions), all
    * oracle-checkable.
    */
  val multimodalMeta: QueryDef = QueryDef.sql(
    "x_multimodal_meta",
    s"""WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n, source FROM documents)
       |SELECT doc_id,
       |       CAST(n AS BIGINT) AS n_bytes,
       |       ${dimsSql("n")},
       |       $mimeSql AS format,
       |       ${nFramesSql("n")} AS n_frames,
       |       base64(encode(substr(source, 1, 16))) AS thumb_b64
       |FROM m""".stripMargin) { (s, d) =>
    val n = length(col("payload"))
    Tables.documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(Seq(col("doc_id"), n.cast("long").as("n_bytes")) ++ dimsOf(n) ++ Seq(
        mimeOf(col("doc_id")).as("format"),
        nFramesOf(n).as("n_frames"),
        base64(substring(col("source"), 1, 16).cast("binary")).as("thumb_b64")): _*)
  }

  /** The byte ≡ char precondition [[checksumSql]] relies on: the
    * oracle folds `ascii()` per CHARACTER while [[stubDecodeBatch]]
    * folds payload BYTES — equal only for pure-ASCII text. This guard
    * fails the query with a pointed per-doc error on the first
    * non-ASCII document, so a future testdata change breaks LOUDLY at
    * the data (not as a baffling hash mismatch in the oracle gate).
    */
  private def asciiCheckedPayload(text: Column, docId: Column): Column =
    // NULL text needs its own arm: the length-equality condition is
    // NULL for a NULL document, which would fall through to the
    // raise_error branch and abort the query with a MISLEADING
    // "non-ASCII" message. A NULL document is not a violation of the
    // ASCII assumption — it propagates as a NULL payload, exactly as
    // the plain cast('binary') did.
    when(text.isNull, lit(null).cast("binary"))
      .when(length(text) === length(text.cast("binary")), text.cast("binary"))
      .otherwise(raise_error(concat(
        lit("non-ASCII document violates the byte==char checksum-oracle assumption: doc_id="),
        docId.cast("string"))).cast("binary"))

  /** Input row: media id + opaque payload + declared mime. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String)

  /** Decoded output: typed metadata + a fixed-width feature vector —
    * the schema a real image/audio decoder would produce.
    */
  final case class DecodedMedia(
      doc_id: Long, width: Int, height: Int, format: String,
      n_frames: Int, features: Array[Float])

  /** STUB batch decoder — deterministic fake standing in for an
    * image/audio library (none available in this container). The
    * BATCH signature is the real contract: a native decoder is handed
    * the whole batch once (one JNI/subprocess crossing per
    * [[MediaDecode.DecodeBatch]] items, reusing decode state), not one
    * call per row. Real byte access, fake pixels: dimensions/features
    * derive from payload bytes so the pipeline is testable and
    * reproducible. Each item's key (its frame number) passes through.
    */
  private def stubDecodeBatch(batch: Seq[(Long, MediaRow)]): Seq[(Long, DecodedMedia)] =
    // The stub payloads are the testdata's TEXT bytes, not image
    // containers, so they need a fake decoder. Real containers go
    // through MediaDecode.decodeBatchReal (PPM/BMP parsers dispatched
    // on magic bytes) behind the same boundary; x_multimodal_real and
    // x_multimodal_bmp run it on synthesized images, and a heavier
    // codec (ffmpeg/imageio) would slot in the same way.
    batch.map { case (frameNo, m) =>
      val bytes = m.payload
      val n = bytes.length
      val checksum = bytes.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
      frameNo -> DecodedMedia(
        doc_id = m.doc_id,
        width = (n % 640) + 1,
        height = ((n * 7) % 480) + 1,
        format = m.mime,
        n_frames = (n % 24) + 1,
        features = Array.tabulate(8)(i => ((checksum >> (i * 4)) & 0xff).toFloat / 255f))
    }

  /** The one stub decode boundary: each (doc_id, frame_no, text) row
    * decodes its frame's byte slice — the payload suffix from byte
    * `frame_no`, so frame 0 is the whole payload — in partition-local
    * batches ([[MediaDecode.decodeBatches]]). Returns doc_id, frame_no,
    * width, height, format, n_frames and the quantized feature[0]
    * `f0_q`.
    */
  private def stubDecoded(frames: DataFrame): DataFrame = {
    val spark: SparkSession = frames.sparkSession
    import spark.implicits._
    val media = frames
      .select(col("frame_no"), struct(col("doc_id"),
        asciiCheckedPayload(expr("substring(text, cast(frame_no + 1 as int))"),
          col("doc_id")).as("payload"),
        mimeOf(col("doc_id")).as("mime")))
      .as[(Long, MediaRow)]
    MediaDecode.decodeBatches(media)(stubDecodeBatch)
      .toDF("frame_no", "m")
      .select("frame_no", "m.*")
      .select(col("doc_id"), col("frame_no"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("format"),
        col("n_frames").cast("long").as("n_frames"),
        round(element_at(col("features"), 1).cast("double") * 1000).cast("long").as("f0_q"))
  }

  /** Oracle twin of [[stubDecoded]] over the frame slices of CTE `s`
    * (doc_id, frame_no, ftext): `cols`, the dims and `f0_q` per slice.
    * `f0_q`'s float-vs-double rounding agrees: the float step (2^-24
    * relative) is 100× smaller than the closest any `(x/255)*1000`
    * value comes to a rounding boundary (1/102).
    */
  private def stubDecodedSql(slices: String, cols: String): String =
    s"""WITH $slices,
       |c AS (
       |  SELECT doc_id, frame_no,
       |         octet_length(encode(ftext)) AS n,
       |         ${checksumSql("ftext")} AS checksum
       |  FROM s)
       |SELECT doc_id, $cols,
       |       ${dimsSql("n")},
       |       CAST(round((CAST((checksum & 255) AS DOUBLE) / 255) * 1000) AS BIGINT) AS f0_q
       |FROM c""".stripMargin

  /** Partition-batched decode of each whole payload — the frame-0 case
    * of [[stubDecoded]], the JVM analog of an Arrow-batched decode UDF.
    * Fully oracle-checked: the stub is a deterministic function of the
    * payload bytes, and DuckDB reproduces the checksum/dims.
    */
  val multimodalDecode: QueryDef = QueryDef.sql(
    "x_multimodal_decode",
    stubDecodedSql("s AS (SELECT doc_id, 0 AS frame_no, text AS ftext FROM documents)",
      s"$mimeSql AS format,\n       ${nFramesSql("n")} AS n_frames")) { (s, d) =>
    stubDecoded(Tables.documents(s, d).withColumn("frame_no", lit(0L)))
      .select("doc_id", "width", "height", "format", "n_frames", "f0_q")
  }

  // ----------------------------------------------------------------
  // Pixel carriers: the REAL container decoder ([[MediaDecode]]),
  // oracle-audited end to end on images synthesized per document.
  // ----------------------------------------------------------------

  /** One byte as 2 hex chars: `v` mod 256, zero-padded. */
  private def hexByte(v: Column): Column = lpad(hex(v % 256), 2, "0")

  /** Little-endian hex of an int column's low 4 (resp. 2) bytes — the
    * codegen'd building blocks for real BMP headers.
    */
  private def le32hex(v: Column): Column = concat(
    hexByte(v), hexByte(shiftright(v, 8)), hexByte(shiftright(v, 16)), hexByte(shiftright(v, 24)))
  private def le16hex(v: Column): Column = concat(hexByte(v), hexByte(shiftright(v, 8)))

  /** Channel `(a, b)` of logical pixel `i` of doc `id` — the byte
    * `(a·id + b·i) % 256` — as hex.
    */
  private def chanHex(ab: (Int, Int), i: Column): Column =
    hexByte((if (ab._1 == 1) col("doc_id") else col("doc_id") * ab._1) + i * ab._2)

  /** Every carrier's image size: `(4 + id%5) × (3 + id%7)` pixels. */
  private def carrierSize(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      (lit(4) + col("doc_id") % 5).cast("int").as("w"),
      (lit(3) + col("doc_id") % 7).cast("int").as("h"))

  /** The (a, b) channel coefficients of each carrier's r, g, b. */
  private val PpmRgb = Seq((1, 3), (2, 5), (3, 7))
  private val BmpRgb = Seq((1, 7), (3, 5), (5, 2))

  /** A real-decoder carrier query: `payloads` synthesizes each
    * document's container (doc_id, payload, mime) — logical pixel i
    * of doc `id` carries channels `(a·id + b·i) % 256` for the `rgb`
    * coefficients — and [[MediaDecode.decodeMedia]] decodes it through
    * the magic-byte dispatch. The only non-codegen step is the decode
    * boundary itself.
    *
    * Output is integer-exact: the decoder's float features are
    * rescaled back to the integer statistics they encode (sum_r =
    * f0·n·255, min_luma3 = f3·765, bright_n = f6·n, posw_r =
    * f8·n²·255 — float error ≤ 2⁻²⁴·18360 ≈ 0.001 for the sums, see
    * [[MediaDecode.featuresOf]] for posw_r), so the DuckDB twin is a
    * closed-form aggregate over `generate_series`, not a float
    * compare. bright: luma > 127.5 ⇔ r+g+b > 382.5 ⇔ ≥ 383 on
    * integers. posw_r is the one statistic that is not invariant
    * under pixel permutation, so it pins each parser's row order.
    */
  private def pixelCarrier(name: String, format: String, rgb: Seq[(Int, Int)])(
      payloads: DataFrame => DataFrame): QueryDef = {
    val chans = rgb.zip(Seq("r", "g", "b")).map { case ((a, b), c) =>
      s"(${if (a == 1) "doc_id" else s"$a * doc_id"} + $b * i) % 256 AS $c"
    }
    QueryDef.sql(name,
      s"""WITH d AS (
         |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h FROM documents),
         |p AS (
         |  SELECT doc_id, w, h, i,
         |         ${chans.mkString(",\n         ")}
         |  FROM d, generate_series(0, 71) t(i)
         |  WHERE i < w * h)
         |SELECT doc_id,
         |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |       '$format' AS format, CAST(1 AS BIGINT) AS n_frames,
         |       CAST(sum(r) AS BIGINT) AS sum_r,
         |       CAST(sum(g) AS BIGINT) AS sum_g,
         |       CAST(sum(b) AS BIGINT) AS sum_b,
         |       CAST(min(r + g + b) AS BIGINT) AS min_luma3,
         |       CAST(max(r + g + b) AS BIGINT) AS max_luma3,
         |       CAST(sum(CASE WHEN r + g + b >= 383 THEN 1 ELSE 0 END) AS BIGINT) AS bright_n,
         |       CAST(sum(i * r) AS BIGINT) AS posw_r
         |FROM p GROUP BY doc_id, w, h""".stripMargin) { (s, d) =>
      val spark: SparkSession = s
      import spark.implicits._
      MediaDecode.decodeMedia(payloads(Tables.documents(s, d)).as[MediaRow]).toDF()
        .withColumn("npx", col("width") * col("height"))
        .select(
          col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("format"),
          col("n_frames").cast("long").as("n_frames"),
          round(element_at(col("features"), 1).cast("double") * col("npx") * 255).cast("long").as("sum_r"),
          round(element_at(col("features"), 2).cast("double") * col("npx") * 255).cast("long").as("sum_g"),
          round(element_at(col("features"), 3).cast("double") * col("npx") * 255).cast("long").as("sum_b"),
          round(element_at(col("features"), 4).cast("double") * 765).cast("long").as("min_luma3"),
          round(element_at(col("features"), 5).cast("double") * 765).cast("long").as("max_luma3"),
          round(element_at(col("features"), 7).cast("double") * col("npx")).cast("long").as("bright_n"),
          round(element_at(col("features"), 9).cast("double") * col("npx") * col("npx") * 255).cast("long").as("posw_r"))
    }
  }

  /** Binary PPM (P6) carrier: ASCII header + packed RGB, the pixels
    * hex pairs from `transform`, one `unhex`, binary concat with the
    * header.
    */
  val multimodalReal: QueryDef = pixelCarrier("x_multimodal_real", "ppm", PpmRgb) { documents =>
    val gen = carrierSize(documents).withColumn("n", col("w") * col("h"))
    val hexPix = concat_ws("",
      transform(sequence(lit(0), col("n") - 1), i => concat(PpmRgb.map(chanHex(_, i)): _*)))
    val payload = concat(
      concat(lit("P6\n"), col("w").cast("string"), lit(" "),
        col("h").cast("string"), lit("\n255\n")).cast("binary"),
      unhex(hexPix))
    gen.select(col("doc_id"), payload.as("payload"), lit("ppm").as("mime"))
  }

  /** Uncompressed 24-bpp BMP carrier: a real `BM` file header + 40-byte
    * BITMAPINFOHEADER from little-endian column arithmetic, pixel rows
    * stored BOTTOM-UP in BGR order and padded to 4-byte boundaries
    * (w ∈ 4..8 ⇒ row bytes 12,15,18,21,24 ⇒ all four pad widths 0..3
    * occur in every run).
    *
    * What the oracle pins end-to-end: header field encoding/parsing
    * (dims, pixel offset, bpp, compression), BGR→RGB channel order
    * (the three channel formulas differ, so a swap breaks sum_r vs
    * sum_b), row padding (a parser that misaligned the 4-byte stride
    * would read pad bytes as pixels), and — via `posw_r` — bottom-up
    * vs top-down ROW ORDER, which the eight whole-image aggregates
    * cannot see. MediaDecodeSpec's hand-built golden fixtures still
    * pin the byte level (bottom-up and negative-height top-down bytes
    * decoding to identical pixels), and the synthesis side is pinned
    * against hand-computed container bytes there so a
    * consistent-but-wrong synth/parse pair can't cancel out.
    */
  val multimodalBmp: QueryDef = pixelCarrier("x_multimodal_bmp", "bmp", BmpRgb)(bmpPayloads)

  /** The BMP container synthesis, exposed for the golden-bytes spec:
    * (doc_id, payload, mime) rows whose payload is the complete BMP
    * file, assembled entirely from codegen'd column functions (header
    * arithmetic → hex → one `unhex`). Rows are emitted in STORAGE
    * order (bottom-up): storage row rs holds logical row y = h-1-rs,
    * each pixel as BGR, then `rowsize − 3w` zero pad bytes.
    */
  private[graft] def bmpPayloads(documents: DataFrame): DataFrame = {
    val gen = carrierSize(documents)
      .withColumn("rowsize", ((col("w") * 3 + 3) / 4).cast("int") * 4)
      .withColumn("imgsize", col("rowsize") * col("h"))
    val headerHex = concat(
      lit("424D"),                      // "BM"
      le32hex(col("imgsize") + 54),     // file size
      lit("00000000"),                  // reserved
      lit("36000000"),                  // pixel offset = 54
      lit("28000000"),                  // DIB size = 40 (BITMAPINFOHEADER)
      le32hex(col("w")),
      le32hex(col("h")),                // positive height = bottom-up
      le16hex(lit(1)),                  // planes
      le16hex(lit(24)),                 // bpp
      lit("00000000"),                  // BI_RGB
      le32hex(col("imgsize")),
      lit("00000000"), lit("00000000"), // x/y pixels-per-meter
      lit("00000000"), lit("00000000")) // colors used / important
    val pixHex = concat_ws("",
      transform(sequence(lit(0), col("h") - 1), rs =>
        concat(
          concat_ws("", transform(sequence(lit(0), col("w") - 1), x => {
            val i = (col("h") - 1 - rs) * col("w") + x // logical top-down index
            concat(BmpRgb.reverse.map(chanHex(_, i)): _*) // B, G, R
          })),
          repeat(lit("00"), (col("rowsize") - col("w") * 3).cast("int")))))
    gen.select(col("doc_id"),
      unhex(concat(headerHex, pixHex)).as("payload"),
      lit("bmp").as("mime"))
  }

  // ----------------------------------------------------------------
  // Frame sampling — the subsample-before-decode step, shared by the
  // standalone sampler query and the composed sample-then-decode one.
  // ----------------------------------------------------------------

  /** Every frame of every document: adds `n_frames`/`frame_no` and
    * keeps the input's other columns (the composed query still needs
    * the text).
    */
  private def allFrames(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_frames", nFramesOf(length(col("text").cast("binary"))))
      .withColumn("frame_no", explode(sequence(lit(0L), col("n_frames") - 1)))

  /** Keyframe selection: every 4th frame plus the final frame. */
  private def sampledFrames(docs: DataFrame): DataFrame =
    allFrames(docs).where(col("frame_no") % 4 === 0 || col("frame_no") === col("n_frames") - 1)

  /** The matching oracle CTE pair (m → exploded f) and sample filter. */
  private def frameCtes(carryText: Boolean): String = {
    val t = if (carryText) "text, " else ""
    s"""m AS (
       |  SELECT doc_id, $t${nFramesSql("octet_length(encode(text))")} AS n_frames
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, ${t}n_frames, unnest(generate_series(0, n_frames - 1)) AS frame_no
       |  FROM m)""".stripMargin
  }
  private val frameSamplePredSql = "frame_no % 4 = 0 OR frame_no = n_frames - 1"

  /** Standalone frame sampling: per-row index arithmetic, zero
    * shuffle, fan-out bounded by frames-per-item — and, unlike the
    * decode itself, trivially oracle-checkable.
    */
  val frameSample: QueryDef = QueryDef.sql(
    "x_frame_sample",
    s"""WITH ${frameCtes(carryText = false)}
       |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no, n_frames
       |FROM f
       |WHERE $frameSamplePredSql""".stripMargin) { (s, d) =>
    sampledFrames(Tables.documents(s, d))
      .select("doc_id", "frame_no", "n_frames")
  }

  /** Sample-before-decode, end to end: [[sampledFrames]] runs FIRST,
    * so the expensive batched decode only ever touches the sampled
    * subset — the composed shape of a video-preprocessing pipeline,
    * where decoding all frames would dominate the job. Each sampled
    * frame decodes its own byte slice of the payload through
    * [[stubDecoded]], oracle-checkable per frame exactly like
    * x_multimodal_decode. Zero shuffle: sample, slice, and decode are
    * all partition-local.
    */
  val framesDecoded: QueryDef = QueryDef.sql(
    "x_frames_decoded",
    stubDecodedSql(
      s"""${frameCtes(carryText = true)},
         |s AS (
         |  SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
         |         substr(text, CAST(frame_no + 1 AS INTEGER)) AS ftext
         |  FROM f
         |  WHERE $frameSamplePredSql)""".stripMargin, "frame_no")) { (s, d) =>
    stubDecoded(sampledFrames(Tables.documents(s, d)))
      .select("doc_id", "frame_no", "width", "height", "f0_q")
  }

  // ----------------------------------------------------------------
  // Audio/visual timestamp alignment — the third modality consumer:
  // video frames vs caption/audio segments on the media timeline.
  // ----------------------------------------------------------------

  /** Frame ↔ caption-segment alignment: each document is a media item
    * whose frames ([[allFrames]], the timeline x_frame_sample samples)
    * tick at a fixed `frameUs` cadence and whose text is the
    * caption/transcript track — chunked into `chunkTokens`-token
    * segments, each spanning `tokUs` µs per token on the same timeline
    * (fixed-rate speech, the standard forced-alignment stand-in). A
    * frame pairs with every segment whose time interval it overlaps —
    * subtitle alignment / audio-visual sync, the join a video-training
    * pipeline runs to label frames with concurrent speech.
    *
    * Built on [[graft.operators.IntervalJoin.intervalJoinById]]
    * (doc_id-keyed banded equi-join; frame_no / chunk_id are the
    * per-side unique ids, so the dedup exchange carries three narrow
    * columns) — the second real consumer of the interval operator.
    * A tokenless document's segment gets an INVERTED interval
    * (end = start − 1) and correctly pairs with nothing — the
    * documented inverted-bounds contract. `overlap_ms` is exact
    * integer milliseconds of intersection (inclusive µs ends).
    *
    * Scale shape: both sides explode partition-locally (fan-out ≤
    * frames-per-item and segments-per-doc), then one banded equi-join
    * on (doc_id, band) — no corpus×corpus term anywhere; the band is
    * the segment span `chunkTokens · tokUs` (whole seconds for both
    * configs), the longest segment, so per-row band fan-out ≤ 2.
    */
  private def avAlignDf(s: SparkSession, d: String, chunkTokens: Int,
      tokUs: Long, frameUs: Long): DataFrame = {
    val docs = Tables.documents(s, d)
    val frames = allFrames(docs)
      .select(col("doc_id"), col("frame_no"),
        (col("frame_no") * frameUs).as("f_s"),
        (col("frame_no") * frameUs + (frameUs - 1)).as("f_e"))
    val segUs = chunkTokens * tokUs
    val segs = CurationQueries.chunkDf(docs.select("doc_id", "text"), chunkTokens, overlap = 0)
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * segUs).as("c_s"),
        (col("chunk_id") * segUs + col("n_chunk_tokens") * tokUs - 1).as("c_e"))
    graft.operators.IntervalJoin.intervalJoinById(frames, segs, key = "doc_id",
        lId = "frame_no", rId = "chunk_id",
        lStartUs = "f_s", lEndUs = "f_e", rStartUs = "c_s", rEndUs = "c_e",
        bandSec = segUs / 1000000L)
      .select(col("doc_id"), col("frame_no"), col("chunk_id"),
        expr("(least(f_e, c_e) - greatest(f_s, c_s) + 1) div 1000").as("overlap_ms"))
  }

  /** Naive-inequality oracle over the same deterministic timeline. */
  private def avAlignSql(chunkTokens: Int, tokUs: Long, frameUs: Long): String = {
    val c = chunkTokens
    s"""WITH ${frameCtes(carryText = false)},
       |t AS (
       |  SELECT doc_id, CAST(len(${TextOps.tokensSql()}) AS BIGINT) AS n
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, n,
       |         ${CurationQueries.chunkCountSql(c, overlap = 0)}
       |  FROM t),
       |seg AS (
       |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       |         CAST(k * ${c * tokUs} AS BIGINT) AS c_s,
       |         CAST(k * ${c * tokUs} + least($c, n - k * $c) * $tokUs - 1 AS BIGINT) AS c_e
       |  FROM (SELECT doc_id, n, unnest(generate_series(0, max_k)) AS k FROM k)),
       |fi AS (
       |  SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
       |         CAST(frame_no * $frameUs AS BIGINT) AS f_s,
       |         CAST(frame_no * $frameUs + ${frameUs - 1} AS BIGINT) AS f_e
       |  FROM f)
       |SELECT fi.doc_id, fi.frame_no, seg.chunk_id,
       |       CAST((least(f_e, c_e) - greatest(f_s, c_s) + 1) // 1000 AS BIGINT) AS overlap_ms
       |FROM fi JOIN seg ON fi.doc_id = seg.doc_id AND f_s <= c_e AND c_s <= f_e""".stripMargin
  }

  /** 2 s frames, 16-token segments at 0.5 s/token (8 s span = band). */
  val avAlign: QueryDef = QueryDef.sql(
    "x_av_align", avAlignSql(chunkTokens = 16, tokUs = 500000L, frameUs = 2000000L)) { (s, d) =>
    avAlignDf(s, d, chunkTokens = 16, tokUs = 500000L, frameUs = 2000000L)
  }

  /** Faster cadence: 1 s frames, 24-token segments at 0.25 s/token
    * (6 s span = band) — both knobs real on both sides.
    */
  val avAlignF1: QueryDef = QueryDef.sql(
    "x_av_align_f1", avAlignSql(chunkTokens = 24, tokUs = 250000L, frameUs = 1000000L)) { (s, d) =>
    avAlignDf(s, d, chunkTokens = 24, tokUs = 250000L, frameUs = 1000000L)
  }

  val all: Seq[QueryDef] =
    Seq(multimodalMeta, multimodalDecode, multimodalReal, multimodalBmp,
      frameSample, framesDecoded, avAlign, avAlignF1)
}

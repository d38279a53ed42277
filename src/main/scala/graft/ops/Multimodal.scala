package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` payloads with
  * typed metadata, decoded and featurized entirely by expressions.
  *
  * The container layer is REAL: payloads carry genuine BMP / WAV headers
  * (both are pure header arithmetic — no codec libraries needed), built
  * with codegen'd expressions on the write side and parsed from the
  * actual bytes on the read side. `decodeHeader` recovers width/height
  * (BMP) and sample-rate/channels (WAV) from the byte stream, so the
  * decode path is exercised end-to-end: a wrong offset or endianness
  * breaks the oracle compare, not just a unit test.
  *
  * The FEATURE layer is real DSP over the body bytes: per-channel
  * mean/std for BMP pixel streams, RMS + zero-crossing rate for WAV PCM
  * — codegen'd native expressions (graft.functions.{ByteChannelStats,
  * PcmStats}), so the whole decode→feature path runs inside
  * WholeStageCodegen with no RDD hop. What remains synthetic is only the
  * CONTENT (document text standing in for pixels/samples — the sandbox
  * ships no codec libraries to produce real media); the arithmetic is
  * the true feature math and is oracle-checked byte-for-byte.
  */
object Multimodal {

  /** Little-endian hex encoding of the low `nBytes` bytes of an integral
    * column — the byte-order workhorse for binary header construction
    * with nothing but built-in (codegen'd) expressions. */
  private def leHex(v: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(255L)), 2, "0")): _*)

  /** A valid BMP: BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER (40
    * bytes, width at offset 18, height at 22, both int32 LE) + `data` as
    * the pixel stream. 24bpp, uncompressed, 2835 ppm (the standard 72dpi
    * value). */
  def bmpPayload(width: Column, height: Column, data: Column): Column = {
    val dataSize = length(data)
    concat(
      unhex(concat(
        lit("424D"), leHex(dataSize + 54, 4), lit("0000000036000000"),
        lit("28000000"), leHex(width, 4), leHex(height, 4),
        lit("0100"), lit("1800"), lit("00000000"), leHex(dataSize, 4),
        lit("130B0000"), lit("130B0000"), lit("00000000"), lit("00000000"))),
      data)
  }

  /** A valid 16-bit PCM WAV: RIFF/fmt/data header (44 bytes, channels at
    * offset 22 int16 LE, sample rate at 24 int32 LE) + `data` as the
    * sample stream. */
  def wavPayload(sampleRate: Column, channels: Column, data: Column): Column = {
    val dataSize = length(data)
    concat(
      unhex(concat(
        lit("52494646"), leHex(dataSize + 36, 4), lit("57415645"),
        lit("666D7420"), lit("10000000"), lit("0100"), leHex(channels, 2),
        leHex(sampleRate, 4), leHex(sampleRate * channels * 2, 4),
        leHex(channels * 2, 2), lit("1000"),
        lit("64617461"), leHex(dataSize, 4))),
      data)
  }

  /** documents → media frame: every payload is a real container — images
    * and video keyframes are BMPs carrying deterministic dimensions in
    * their headers, audio is WAV carrying sample-rate/channel metadata;
    * the document text stands in for the pixel/PCM body. Downstream
    * consumers recover the metadata from the BYTES (decodeHeader), not
    * from side columns. */
  def mediaFrame(docs: DataFrame): DataFrame = {
    val data = col("text").cast("binary")
    val width = (col("doc_id") % 640 + 64).cast("int")
    val height = (col("doc_id") % 480 + 48).cast("int")
    val sampleRate = (col("doc_id") % 8).cast("int") * 4000 + 8000
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val mediaType = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs.select(
      col("doc_id"), mediaType.as("media_type"),
      when(mediaType === "audio", wavPayload(sampleRate, channels, data))
        .otherwise(bmpPayload(width, height, data)).as("payload"))
  }

  /** The ASCII-fixture gate shared by the perceptual-hash frames: pass
    * text through untouched iff its char count equals its UTF-8 byte
    * count (1:1 encoding ⟺ pure ASCII; null passes — it carries no
    * payload), else raise. Scan-speed per-row arithmetic, no regex. */
  private def asciiGuarded(docs: DataFrame, who: String): DataFrame =
    docs.withColumn("text",
      when(col("text").isNull ||
        length(col("text")) === octet_length(col("text")), col("text"))
        .otherwise(raise_error(concat(
          lit(who + ": non-ASCII text in doc "), col("doc_id").cast("string"),
          lit(" — the code-point oracle replay is byte-denominated only " +
            "for ASCII fixtures")))))

  /** documents → BMP frame with PLANTED near-duplicates — the image
    * half of [[mediaFrame]] (doc_id % 3 ≠ 1 rows) plus, for every
    * thirtieth doc, a twin whose pixel stream differs in ONE byte (the
    * first body byte replaced with 'x', twin id = doc_id + 10^6): the
    * perturbation a frame-grab or re-encode introduces, which exact
    * dedup can never see and the average hash must survive. Every
    * piece is engine-portable string arithmetic, so the oracle
    * rebuilds both streams and replays the hash bit for bit.
    *
    * ASCII-fixture invariant, asserted loudly: the engine hashes the
    * UTF-8 BYTES of the text body while the oracle replays it from
    * per-character code points — the two denominations agree only
    * while every character is single-byte, so a non-ASCII fixture doc
    * must FAIL here, not silently diverge downstream (the check is
    * `length = octet_length`, true iff the UTF-8 encoding is 1:1). */
  def imageNearDupFrame(docs: DataFrame): DataFrame = {
    // fanOut before the payload build + perceptual hash (real per-row
    // work over KB payloads): a single-split scan serializes it all
    // onto one core; identity at cluster scale (Tables.fanOut)
    val imgs = asciiGuarded(graft.Tables.fanOut(docs, col("doc_id"))
      .filter(col("doc_id") % 3 =!= 1),
      "imageNearDupFrame")
    val width = (col("doc_id") % 640 + 64).cast("int")
    val height = (col("doc_id") % 480 + 48).cast("int")
    val base = imgs.select(col("doc_id"),
      bmpPayload(width, height, col("text").cast("binary")).as("payload"))
    // fail fast if a twin id could collide with a REAL doc id — the
    // planted-twin trick only works while the id spaces are disjoint
    val twins = imgs.filter(col("doc_id") % 30 === 0)
      .select(when(col("doc_id") < 1000000L, col("doc_id") + 1000000L)
        .otherwise(raise_error(concat(
          lit("imageNearDupFrame: doc_id "), col("doc_id").cast("string"),
          lit(" >= 10^6 would collide with the twin id space"))))
        .as("doc_id"),
        bmpPayload(width, height,
          concat(lit("x"), substring(col("text"), 2, Int.MaxValue))
            .cast("binary")).as("payload"))
    base.unionByName(twins)
  }

  /** BMP frame → (doc_id, ahash): the codegen'd 64-bit average hash
    * (functions/BmpAHash) as 16 hex chars, straight off the payload
    * BYTES — non-BMP rows carry null and are dropped by the pair join
    * downstream (ops/Dedup.imageAHashPairs). */
  def imageAHash(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      graft.functions.MediaFunctions.bmpAHash(col("payload")).as("ahash"))

  /** BMP frame → (doc_id, dhash): the codegen'd 64-bit difference hash
    * (functions/BmpDHash) — the gradient axis beside [[imageAHash]]'s
    * level axis: adjacent-cell comparisons survive the smooth
    * brightness ramps that flip aHash bits (and vice versa; spec'd). */
  def imageDHash(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      graft.functions.MediaFunctions.bmpDHash(col("payload")).as("dhash"))

  /** documents → WAV frame with PLANTED near-duplicates — the audio
    * half of [[mediaFrame]] (doc_id % 3 = 1 rows) plus, for every
    * thirtieth audio doc, a twin whose PCM stream differs in ONE byte
    * (the first body byte replaced with 'x' — one sample's low byte,
    * the re-encode/transcode wobble exact dedup can never see). The
    * twin keeps the ORIGINAL doc's sample rate and channel count (a
    * re-encode of the same recording); twin id = doc_id + 10^6 with
    * the imageNearDupFrame collision guard — and the same loudly
    * asserted ASCII-fixture invariant (the 2-byte LE sample pairing
    * makes audio MORE sensitive to a byte/char mismatch than the
    * image walk's 3-byte gray sum: one multi-byte character shifts
    * every later sample's pairing). */
  def audioNearDupFrame(docs: DataFrame): DataFrame = {
    // same fanOut rationale as imageNearDupFrame
    val auds = asciiGuarded(graft.Tables.fanOut(docs, col("doc_id"))
      .filter(col("doc_id") % 3 === 1),
      "audioNearDupFrame")
    val sampleRate = ((col("doc_id") % 8) * 4000 + 8000).cast("int")
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val base = auds.select(col("doc_id"),
      wavPayload(sampleRate, channels, col("text").cast("binary"))
        .as("payload"))
    val twins = auds.filter(col("doc_id") % 30 === 1)
      .select(when(col("doc_id") < 1000000L, col("doc_id") + 1000000L)
        .otherwise(raise_error(concat(
          lit("audioNearDupFrame: doc_id "), col("doc_id").cast("string"),
          lit(" >= 10^6 would collide with the twin id space"))))
        .as("doc_id"),
        wavPayload(sampleRate, channels,
          concat(lit("x"), substring(col("text"), 2, Int.MaxValue))
            .cast("binary")).as("payload"))
    base.unionByName(twins)
  }

  /** WAV frame → (doc_id, dhash): the codegen'd 64-bit temporal
    * difference hash (functions/WavDHash) — the loudness-envelope
    * gradient, the audio member of the perceptual-hash family; feeds
    * the SAME pigeonhole pair join as the image hashes
    * (ops/Dedup.imageHashPairs), closing dedup across all three
    * modalities. */
  def audioDHash(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      graft.functions.MediaFunctions.wavDHash(col("payload")).as("dhash"))

  /** Little-endian integer read of `nBytes` at 1-based byte offset `off`
    * — the exact mirror image of leHex on the write side, again nothing
    * but built-in codegen'd expressions (substring on binary → hex →
    * conv), so the header DECODE path stays inside WholeStageCodegen
    * instead of dropping to an RDD (the round-5 audit's nit: fixed-offset
    * header reads are Catalyst-expressible and don't belong behind the
    * codec seam). */
  private def leInt(p: Column, off: Int, nBytes: Int): Column =
    (0 until nBytes).map(i =>
      conv(hex(substring(p, off + i, 1)), 16, 10).cast("long") * lit(1L << (8 * i)))
      .reduce(_ + _).cast("int")

  /** Pure-expression header decode: magic sniff + fixed-offset LE field
    * reads per the BMP/WAV specs, straight off the payload BYTES. The
    * feature DSP below (extractFeatures) is equally expression-side. */
  private def headerCols(p: Column): Seq[Column] = {
    val isBmp = (length(p) >= 54) && (hex(substring(p, 1, 2)) === lit("424D"))
    val isWav = (length(p) >= 44) && (hex(substring(p, 1, 4)) === lit("52494646")) &&
      (hex(substring(p, 9, 4)) === lit("57415645"))
    Seq(
      when(isBmp, "bmp").when(isWav, "wav").otherwise("unknown").as("container"),
      length(p).cast("int").as("n_bytes"),
      when(isBmp, leInt(p, 19, 4)).as("width"),        // int32 LE at offset 18
      when(isBmp, leInt(p, 23, 4)).as("height"),       // int32 LE at offset 22
      when(isWav, leInt(p, 25, 4)).as("sample_rate"),  // int32 LE at offset 24
      when(isWav, leInt(p, 23, 2)).as("channels"))     // int16 LE at offset 22
  }

  /** media → decoded container metadata, fully expression-side (codegen'd,
    * no RDD hop): (doc_id, media_type, container, n_bytes, width, height,
    * sample_rate, channels). */
  def decodeHeaders(media: DataFrame): DataFrame =
    media.select(Seq(col("doc_id"), col("media_type")) ++ headerCols(col("payload")): _*)

  /** Decoded container metadata: (container, width, height, sampleRate,
    * channels) — JVM twin of headerCols, kept as the executable spec of
    * the byte layout (golden-byte unit tests pin both to the same
    * offsets/endianness). */
  def decodeHeader(p: Array[Byte])
      : (String, Option[Int], Option[Int], Option[Int], Option[Int]) = {
    def le32(off: Int): Int =
      (p(off) & 0xff) | (p(off + 1) & 0xff) << 8 |
        (p(off + 2) & 0xff) << 16 | (p(off + 3) & 0xff) << 24
    def le16(off: Int): Int = (p(off) & 0xff) | (p(off + 1) & 0xff) << 8
    if (p.length >= 54 && p(0) == 'B' && p(1) == 'M')
      ("bmp", Some(le32(18)), Some(le32(22)), None, None)
    else if (p.length >= 44 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
             p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')
      ("wav", None, None, Some(le32(24)), Some(le16(22)))
    else ("unknown", None, None, None, None)
  }

  /** Feature extraction, pure expressions end to end: container sniffed
    * from the bytes picks the DSP — WAV bodies (16-bit LE PCM at offset
    * 44) yield [rms, zcr]; BMP bodies (24bpp interleaved at offset 54)
    * yield per-channel [mean_b, mean_g, mean_r, std_b, std_g, std_r].
    * The kernels accumulate in exact integers (see DspKernel), so the
    * doubles are bit-deterministic and DuckDB-mirrorable — q_multimodal
    * hash-checks them against an independent byte-stream recomputation.
    * No RDD seam remains: a real codec's per-batch init would sit behind
    * `mapInPandas`-style batching, but header parse and body DSP are
    * fixed-offset arithmetic, which is exactly what Catalyst codegen is
    * for. */
  def extractFeatures(media: DataFrame): DataFrame =
    media
      .select((Seq(col("doc_id"), col("media_type")) ++
        headerCols(col("payload")) :+ col("payload")): _*)
      .withColumn("feature",
        when(col("container") === "wav",
          graft.functions.MediaFunctions.pcmStats(col("payload"), offset = 44))
        .when(col("container") === "bmp",
          graft.functions.MediaFunctions.byteChannelStats(col("payload"), offset = 54, stride = 3)))
      .drop("payload")

  // ---- JPEG / FLAC container seams ---------------------------------------
  // Same philosophy as BMP/WAV but one notch harder on the decode side:
  // JPEG metadata is NOT at a fixed offset — SOF0 sits behind a chain of
  // variable-length marker segments, so the decoder is a real marker WALK
  // (expression-native via `aggregate` over a bounded step sequence, still
  // codegen-friendly); FLAC STREAMINFO packs sample-rate/channels/bits/
  // total-samples into one bit-packed big-endian 64-bit group. No codec
  // (entropy decode) is attempted — the sandbox ships none — but every
  // byte these parsers touch is real per the public JPEG/FLAC specs.

  /** Big-endian hex of the low `nBytes` bytes of an integral column —
    * JPEG/FLAC headers are network byte order, the mirror of leHex. */
  private def beHex(v: Column, nBytes: Int): Column =
    concat((nBytes - 1 to 0 by -1).map(i =>
      lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(255L)), 2, "0")): _*)

  /** Big-endian integer read of `nBytes` at 1-based DYNAMIC byte offset
    * `off` (a Column — marker walks land at data-dependent positions).
    * Bytes are placed by shiftleft, not multiplication: for an 8-byte
    * read a high byte ≥ 0x80 lands in the sign bit, where `b * 2^56`
    * overflows the ANSI long multiply but `b << 56` wraps to the
    * intended bit pattern. */
  private def beIntAt(p: Column, off: Column, nBytes: Int): Column =
    (0 until nBytes).map(i =>
      shiftleft(conv(hex(p.substr(off + lit(i), lit(1))), 16, 10).cast("long"),
        8 * (nBytes - 1 - i))).reduce(_ + _)

  /** A structurally valid JPEG/JFIF: SOI, APP0 (JFIF 1.1, 72dpi), a COM
    * segment of `comLen` filler bytes (VARIABLE length — this is what
    * forces the reader to walk markers instead of indexing a constant),
    * SOF0 (baseline, 8-bit, 3 components, height/width big-endian), the
    * body `data` standing in for entropy-coded scan bytes, EOI. */
  def jpegPayload(width: Column, height: Column, comLen: Column, data: Column): Column =
    concat(
      unhex(concat(
        lit("FFD8" +                                    // SOI
          "FFE000104A46494600010100004800480000" +      // APP0: len 16, "JFIF\0", v1.1, 72x72 dpi
          "FFFE"),                                      // COM marker
        beHex(comLen.cast("long") + 2L, 2))),           // COM length (incl. itself)
      lit("x" * 13).substr(lit(1), comLen).cast("binary"),
      unhex(concat(
        lit("FFC0001108"),                              // SOF0, len 17, precision 8
        beHex(height, 2), beHex(width, 2),
        lit("03012200021101031101"))),                  // 3 components: Y 2x2, Cb/Cr 1x1
      data,
      unhex(lit("FFD9")))                               // EOI

  /** A structurally valid FLAC: "fLaC" magic + a single (last) STREAMINFO
    * metadata block. Sample rate (20 bits), channels−1 (3), bits/sample−1
    * (5) and total samples (36) live bit-packed in one big-endian 64-bit
    * group at STREAMINFO offset 10 — built here by integer arithmetic. */
  def flacPayload(sampleRate: Column, channels: Column, data: Column): Column = {
    val totalSamples = (length(data) / (channels * 2)).cast("long")
    // bit fields are PLACED with shiftleft, never multiplication: a
    // 20-bit sample rate ≥ 2^19 occupies the long's sign bit, where
    // `sr * 2^44` raises ANSI overflow but `sr << 44` wraps to the
    // intended bit pattern (the fields are disjoint, so the additions
    // below cannot carry)
    val packed = shiftleft(sampleRate.cast("long"), 44) +
      shiftleft(channels.cast("long") - 1L, 41) +
      lit(15L * (1L << 36)) +                           // bits/sample − 1 = 15 (16-bit)
      totalSamples
    concat(
      unhex(concat(
        lit("664C6143" +                                // "fLaC"
          "80000022" +                                  // last-block flag, type 0, len 34
          "10001000" +                                  // min/max blocksize 4096
          "000000000000"),                              // min/max framesize unknown
        beHex(packed, 8),
        lit("00" * 16))),                               // MD5 of unencoded audio: zeros
      data)
  }

  /** documents → codec-container frame: audio rows carry FLAC, image/video
    * rows carry JPEG whose SOF0 offset varies per row (doc_id-derived COM
    * length), so the downstream marker walk is exercised on real variable
    * geometry, not one constant layout. */
  def codecFrame(docs: DataFrame): DataFrame = {
    val data = col("text").cast("binary")
    val width = (col("doc_id") % 640 + 64).cast("int")
    val height = (col("doc_id") % 480 + 48).cast("int")
    val comLen = (col("doc_id") % 13 + 1).cast("int")
    val sampleRate = ((col("doc_id") % 8) * 4000 + 8000).cast("int")
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val mediaType = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs.select(
      col("doc_id"), mediaType.as("media_type"),
      when(mediaType === "audio", flacPayload(sampleRate, channels, data))
        .otherwise(jpegPayload(width, height, comLen, data)).as("payload"))
  }

  /** Expression-native JPEG marker walk: starting at the first marker
    * after SOI, hop `offset += 2 + segment_length` until an SOF marker
    * (FFC0–FFC2) is found, bounded at `maxSegments` hops. `aggregate`
    * over a constant step sequence carries (offset, sofOffset) as the
    * fold state — data-dependent control flow without leaving Catalyst.
    * Returns the 1-based offset of the SOF marker byte, or −1. */
  private def jpegSofOffset(p: Column, maxSegments: Int = 8): Column = {
    val init = struct(lit(3L).as("off"), lit(-1L).as("sof"))
    val walked = aggregate(
      sequence(lit(1), lit(maxSegments)),
      init,
      (acc, _) => {
        val off = acc.getField("off")
        val sof = acc.getField("sof")
        val m2 = conv(hex(p.substr(off + lit(1L), lit(1))), 16, 10).cast("long")
        val isSof = m2 >= lit(0xC0L) && m2 <= lit(0xC2L)
        val done = sof =!= lit(-1L) || off + lit(3L) > length(p).cast("long")
        struct(
          when(done || isSof, off)
            .otherwise(off + lit(2L) + beIntAt(p, off + lit(2L), 2)).as("off"),
          when(done, sof).when(isSof, off).otherwise(lit(-1L)).as("sof"))
      })
    walked.getField("sof")
  }

  /** media → decoded JPEG/FLAC metadata, fully expression-side: JPEG
    * fields read relative to the WALKED SOF0 offset (which the output
    * exposes as `sof_off` so the compare pins the walk itself), FLAC
    * fields unpacked by shift/mask from the STREAMINFO bit group. */
  private def codecHeaderCols(p: Column): Seq[Column] = {
    val isJpeg = (length(p) >= 4) && (hex(substring(p, 1, 2)) === lit("FFD8"))
    val isFlac = (length(p) >= 42) && (hex(substring(p, 1, 4)) === lit("664C6143"))
    // a JPEG whose SOF sits behind more than maxSegments hops (or is
    // absent) walks out with −1: every SOF-relative field must come
    // back NULL, never a read at a garbage offset
    val sofJpeg = when(isJpeg, jpegSofOffset(p))
    val sof = when(sofJpeg =!= lit(-1L), sofJpeg)
    val packed = beIntAt(p, lit(19L), 8)    // STREAMINFO offset 10 → absolute 19, 1-based
    Seq(
      when(isJpeg, "jpeg").when(isFlac, "flac").otherwise("unknown").as("container"),
      length(p).cast("int").as("n_bytes"),
      sof.cast("int").as("sof_off"),
      conv(hex(p.substr(sof + lit(4L), lit(1))), 16, 10).cast("int")
        .as("sof_precision"),
      beIntAt(p, sof + lit(5L), 2).cast("int").as("height"),
      beIntAt(p, sof + lit(7L), 2).cast("int").as("width"),
      conv(hex(p.substr(sof + lit(9L), lit(1))), 16, 10).cast("int")
        .as("n_components"),
      // UNSIGNED shift: the 20-bit rate's top bit is the long's sign
      // bit, which an arithmetic shift would smear into the result
      when(isFlac, shiftrightunsigned(packed, 44).cast("int")).as("sample_rate"),
      when(isFlac, (shiftright(packed, 41).bitwiseAND(lit(7L)) + 1L).cast("int"))
        .as("channels"),
      when(isFlac, (shiftright(packed, 36).bitwiseAND(lit(31L)) + 1L).cast("int"))
        .as("bits_per_sample"),
      when(isFlac, packed.bitwiseAND(lit((1L << 36) - 1))).as("total_samples"))
  }

  def decodeCodecHeaders(media: DataFrame): DataFrame =
    media.select(
      Seq(col("doc_id"), col("media_type")) ++ codecHeaderCols(col("payload")): _*)

  /** Feature DSP over the CODEC bodies — the same kernels as
    * [[extractFeatures]], but the JPEG body sits at a per-row offset
    * (after the walked SOF0 segment) and ends before the trailing EOI
    * marker, so the pixel-stats kernel runs through the dynamic-offset
    * expression (graft.functions.ByteChannelStatsAt: offset is a full
    * child expression, tailTrim excludes the 2 EOI bytes); the FLAC
    * body is fixed-offset (42) 16-bit PCM, same as WAV at 44. Given
    * the same text bodies, these features are bit-identical to the
    * BMP/WAV ones — the spec pins exactly that. */
  def extractCodecFeatures(media: DataFrame): DataFrame =
    media
      .select((Seq(col("doc_id"), col("media_type")) ++
        codecHeaderCols(col("payload")) :+ col("payload")): _*)
      .withColumn("feature",
        when(col("container") === "flac",
          graft.functions.MediaFunctions.pcmStats(col("payload"), offset = 42))
        .when(col("container") === "jpeg",
          graft.functions.MediaFunctions.byteChannelStatsAt(
            col("payload"), col("sof_off") + lit(18), stride = 3, tailTrim = 2)))
      .drop("payload")

  // ---- progressive JPEG: tables + multi-scan ------------------------------
  // One notch deeper than the SOF walk: a PROGRESSIVE stream (SOF2)
  // carries several SOS scans, and scan data has NO length field — per
  // ITU T.81 a reader terminates a scan by byte-scanning for the next
  // true marker while honoring §B.1.1.5 framing (FF00 stuffing, RSTn).
  // That walk is genuinely imperative, so it runs as the codegen'd
  // native expression graft.functions.JpegScanStats rather than a
  // Catalyst aggregate fold — the (b)-tier custom-Expression path.

  private def dqtHex(id: Int): String =
    "FFDB0043" + f"$id%02X" + "11" * 64 // len 67: id byte + 64 table bytes

  private def dhtHex(id: Int): String =
    // len 27 = 2 + 1 + 16 counts + 8 symbols: one code per length 1-8
    "FFC4001B" + f"${Seq(0x00, 0x01, 0x10, 0x11)(id)}%02X" +
      "01" * 8 + "00" * 8 + "0001020304050607"

  /** A structurally valid PROGRESSIVE JPEG: SOI, APP0, variable-length
    * COM, `nDqt` (≤2) quantization tables, `nDht` (≤4) Huffman tables,
    * SOF2, `nScans` (≤3) SOS scans splitting `text` near-evenly (scan i
    * gets ⌊L/n⌋ bytes plus one while i < L mod n), EOI. Table counts and
    * the scan split are per-row data — the reader must walk and
    * byte-scan, not index a constant layout. `text` must be FF-free
    * (ASCII corpus text is), as real entropy bytes are by stuffing.
    * `comLen` is capped at 13 like [[jpegPayload]]'s — and ENFORCED, as
    * are nDqt/nDht/nScans: an out-of-range value raises rather than
    * writing a stream that silently under-covers its own body (an
    * unwalkable COM, or scans that drop the tail of `text`). */
  def jpegScanPayload(width: Column, height: Column, comLen: Column,
                      nDqt: Column, nDht: Column, nScans: Column,
                      text: Column): Column = {
    // every count cap is enforced the same way as comLen: only `cap`
    // slots are generated, so a silently-accepted out-of-range count
    // would produce a stream that under-covers its own body (nScans = 4
    // would drop the last quarter of `text`) — fail loudly instead
    def rangeChecked(c: Column, name: String, lo: Int, hi: Int): Column =
      when(c < lo || c > hi,
        raise_error(concat(lit(s"jpegScanPayload: $name out of [$lo, $hi]: "),
          c.cast("string")))).otherwise(c)
    val comLenChecked = rangeChecked(comLen, "comLen", 0, 13)
    val nDqtChecked = rangeChecked(nDqt, "nDqt", 0, 2)
    val nDhtChecked = rangeChecked(nDht, "nDht", 0, 4)
    val nScansChecked = rangeChecked(nScans, "nScans", 1, 3)
    val emptyBin = lit(Array.empty[Byte])
    val dqts = (0 until 2).map(i =>
      when(lit(i) < nDqtChecked, unhex(lit(dqtHex(i)))).otherwise(emptyBin))
    val dhts = (0 until 4).map(i =>
      when(lit(i) < nDhtChecked, unhex(lit(dhtHex(i)))).otherwise(emptyBin))
    val bodyLen = length(text).cast("long")
    val base = floor(bodyLen / nScansChecked).cast("long")
    val rem = pmod(bodyLen, nScansChecked.cast("long"))
    val scans = (0 until 3).map { i =>
      val start = lit(i.toLong) * base + least(lit(i.toLong), rem) + lit(1L)
      val len = base + when(lit(i.toLong) < rem, 1L).otherwise(0L)
      when(lit(i) < nScansChecked,
        concat(
          // SOS: len 8, 1 component (Cs 1, Td/Ta 0), Ss 0, Se 3F, AhAl 0
          unhex(lit("FFDA000801" + "0100" + "003F00")),
          text.substr(start.cast("int"), len.cast("int")).cast("binary")))
        .otherwise(emptyBin)
    }
    concat(
      Seq(
        unhex(concat(
          lit("FFD8" +
            "FFE000104A46494600010100004800480000" +
            "FFFE"),
          beHex(comLenChecked.cast("long") + 2L, 2))),
        lit("x" * 13).substr(lit(1), comLenChecked).cast("binary")) ++
      dqts ++ dhts ++
      Seq(unhex(concat(
        lit("FFC2001108"), // SOF2 (progressive), len 17, precision 8
        beHex(height, 2), beHex(width, 2),
        lit("03012200021101031101")))) ++
      scans :+
      unhex(lit("FFD9")): _*)
  }

  /** documents → scan-rich codec frame: audio rows carry FLAC (as in
    * [[codecFrame]]); image/video rows carry progressive JPEG whose
    * table counts and scan split vary per row (doc_id-derived), so the
    * scan walk sees real variable geometry. */
  def scanFrame(docs: DataFrame): DataFrame = {
    val data = col("text").cast("binary")
    val width = (col("doc_id") % 640 + 64).cast("int")
    val height = (col("doc_id") % 480 + 48).cast("int")
    val comLen = (col("doc_id") % 13 + 1).cast("int")
    val nDqt = (col("doc_id") % 2 + 1).cast("int")
    val nDht = (col("doc_id") % 4 + 1).cast("int")
    val nScans = (col("doc_id") % 7 % 3 + 1).cast("int")
    val sampleRate = ((col("doc_id") % 8) * 4000 + 8000).cast("int")
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val mediaType = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs.select(
      col("doc_id"), mediaType.as("media_type"),
      when(mediaType === "audio",
        flacPayload(sampleRate, channels, data))
        .otherwise(jpegScanPayload(width, height, comLen, nDqt, nDht, nScans,
          col("text"))).as("payload"))
  }

  /** media → per-stream table/scan statistics from the full marker walk:
    * DQT/DHT segment counts, scan count, and total/min/max entropy-coded
    * scan byte lengths — all exact integers re-derived from the BYTES by
    * the native walk (non-JPEG payloads yield nulls, container is read
    * from the magic prefix). */
  def scanStats(media: DataFrame): DataFrame = {
    val p = col("payload")
    val container = when(hex(substring(p, 1, 2)) === lit("FFD8"), "jpeg")
      .when(hex(substring(p, 1, 4)) === lit("664C6143"), "flac")
      .otherwise("unknown")
    val s = graft.functions.MediaFunctions.jpegScanStats(p)
    media.select(
      col("doc_id"), col("media_type"), container.as("container"),
      element_at(s, 1).cast("int").as("n_dqt"),
      element_at(s, 2).cast("int").as("n_dht"),
      element_at(s, 3).cast("int").as("n_scans"),
      element_at(s, 4).as("scan_bytes_total"),
      element_at(s, 5).cast("int").as("scan_bytes_min"),
      element_at(s, 6).cast("int").as("scan_bytes_max"))
  }

  /** 4-byte big-endian hex of a NON-NEGATIVE value < 2^32: one
    * hex+lpad, not beHex's per-byte mask chain. The compact form is
    * load-bearing, not cosmetic: the full PNG payload tree with
    * per-byte chains overflowed janino's method limit, whole-stage
    * codegen FAILED, and the entire build stage silently ran
    * interpreted (measured 5.2 s vs 1.4 s at sf0.1). */
  private def beHex32(v: Column): Column = lpad(hex(v.cast("long")), 8, "0")

  /** One PNG chunk by expression: length(4 BE) + type + data + CRC-32
    * over type+data — the CRC computed by Spark's own `crc32` (the zlib
    * polynomial PNG mandates), so the reader's independent recompute
    * checks the BUILDER, not a copied constant. */
  private def pngChunk(typeHex: String, data: Column): Column = {
    val typeAndData = concat(unhex(lit(typeHex)), data)
    concat(unhex(beHex32(length(data))), typeAndData,
      unhex(beHex32(crc32(typeAndData))))
  }

  /** A structurally valid PNG (ISO/IEC 15948 §5): signature, IHDR
    * (width/height big-endian, bit depth 8, `colorType`, compression 0,
    * filter 0, `interlace`), `nIdat` (≤4) IDAT chunks splitting `data`
    * near-evenly (chunk i gets ⌊L/n⌋ bytes plus one while i < L mod n —
    * the jpegScanPayload split), IEND. Chunk geometry is per-row data,
    * so the reader must walk length/type/CRC frames, not index a
    * constant layout. Out-of-range arguments RAISE (the scan-payload
    * convention): a silently-clamped nIdat would drop part of the body,
    * and an invalid colorType/interlace would write a stream real
    * decoders reject. */
  def pngPayload(width: Column, height: Column, colorType: Column,
                 interlace: Column, nIdat: Column, text: Column): Column = {
    // ONE guard site, raw columns everywhere else. The per-argument
    // checked-column form (each use wrapping a CASE + raise_error)
    // duplicated the guard tree into every of nIdat's ~12 references;
    // the generated projection method blew janino's 64 KB limit and the
    // whole build stage silently fell back to interpreted eval
    // (measured 3x). The single guard rides the bit-depth slot — any
    // invalid argument still raises before a byte is emitted.
    val argsOk = colorType.isin(0, 2, 3, 4, 6) && // §11.2.2 legal colour types
      interlace.isin(0, 1) && nIdat >= 1 && nIdat <= 4
    val bitDepthGuard = when(argsOk, lit("08")).otherwise(
      raise_error(concat(lit("pngPayload: invalid colorType/interlace/nIdat: "),
        colorType.cast("string"), lit("/"), interlace.cast("string"),
        lit("/"), nIdat.cast("string"))))
    val ct = colorType
    val il = interlace
    val n = nIdat
    val ihdrData = concat(
      unhex(concat(beHex32(width), beHex32(height))),
      unhex(concat(bitDepthGuard, lpad(hex(ct.cast("long")), 2, "0"), lit("0000"),
        lpad(hex(il.cast("long")), 2, "0"))))
    val bodyLen = length(text).cast("long")
    val base = floor(bodyLen / n).cast("long")
    val rem = pmod(bodyLen, n.cast("long"))
    // body slices via STRING substr + cast, the jpegScanPayload
    // convention: substr on a BINARY column drops the whole
    // chunk-and-CRC subtree out of whole-stage codegen (measured 3x on
    // the builder), while the string form stays codegen'd
    val idats = (0 until 4).map { i =>
      val start = lit(i.toLong) * base + least(lit(i.toLong), rem) + lit(1L)
      val len = base + when(lit(i.toLong) < rem, 1L).otherwise(0L)
      when(lit(i) < n,
        pngChunk("49444154",
          text.substr(start.cast("int"), len.cast("int")).cast("binary")))
        .otherwise(lit(Array.empty[Byte]))
    }
    concat(
      Seq(unhex(lit("89504E470D0A1A0A")), pngChunk("49484452", ihdrData)) ++
      idats :+
      unhex(lit("0000000049454E44AE426082")): _*) // IEND, fixed CRC
  }

  /** documents → PNG/FLAC frame: image/video rows carry PNG whose colour
    * type, interlace flag, and IDAT split vary per row (doc_id-derived);
    * audio rows carry FLAC as in [[codecFrame]]. */
  def pngFrame(docs: DataFrame): DataFrame = {
    val data = col("text").cast("binary")
    val width = (col("doc_id") % 640 + 64).cast("int")
    val height = (col("doc_id") % 480 + 48).cast("int")
    val colorType = (col("doc_id") % 2 * 4 + 2).cast("int") // 2 or 6
    val interlace = (col("doc_id") % 7 % 2).cast("int")
    val nIdat = (col("doc_id") % 5 % 4 + 1).cast("int")
    val sampleRate = ((col("doc_id") % 8) * 4000 + 8000).cast("int")
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val mediaType = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs.select(
      col("doc_id"), mediaType.as("media_type"),
      when(mediaType === "audio", flacPayload(sampleRate, channels, data))
        .otherwise(pngPayload(width, height, colorType, interlace, nIdat,
          col("text"))).as("payload"))
  }

  /** One WARC record by expression: version line, the three mandatory
    * headers a census needs (WARC-Type, WARC-Record-ID, Content-Length),
    * blank line, the `Content-Length`-framed body, CRLF CRLF terminator
    * — the ISO 28500 shape a Common-Crawl-scale text pipeline reads
    * first. Built as STRING concat (documents text is ASCII at every SF,
    * so char length == byte length — the mp4Payload convention) and cast
    * to binary by the caller. */
  private def warcRecord(wtype: Column, rid: Column, body: Column): Column =
    // octet_length, not length: Content-Length is a BYTE count and the
    // record walk slices bytes — a non-ASCII body is multi-byte in the
    // UTF-8 binary cast, so a character count would under-frame it and
    // every later record would mis-slice
    concat(
      lit("WARC/1.0\r\nWARC-Type: "), wtype,
      lit("\r\nWARC-Record-ID: "), rid,
      lit("\r\nContent-Length: "), octet_length(body).cast("string"),
      lit("\r\n\r\n"), body, lit("\r\n\r\n"))

  /** A structurally valid WARC/1.0 file per ISO 28500: `nRecords` (≤4)
    * records — record 0 a `warcinfo`, the rest cycling
    * response/request/metadata by (variant + i) mod 3 — splitting `text`
    * near-evenly (the mdat/IDAT split rule), each record carrying its
    * own Content-Length framing and record id derived from `variant`.
    * Record geometry is per-row data, so the reader must walk version
    * lines and Content-Length frames, not index a constant layout.
    * Out-of-range `nRecords` RAISES from the guard wrapping the final
    * concat — an UNCONDITIONALLY evaluated slot (the mp4Payload
    * convention; riding record 0's type slot, as an earlier revision
    * did, left nRecords <= 0 silently yielding an empty payload because
    * record 0 itself was gated behind `0 < nRecords`). */
  def warcPayload(nRecords: Column, variant: Column, text: Column): Column =
    warcPayloadString(nRecords, variant, text).cast("binary")

  /** [[warcPayload]] before the binary cast — the STRING form the
    * `.warc.gz` builder wraps in gzip members (the stream is ASCII, so
    * the stored-block builder's string substr slicing stays exact). */
  private[graft] def warcPayloadString(nRecords: Column, variant: Column,
                                       text: Column): Column = {
    val t0 = lit("warcinfo")
    val bodyLen = length(text).cast("long")
    val base = floor(bodyLen / nRecords).cast("long")
    val rem = pmod(bodyLen, nRecords.cast("long"))
    val records = (0 until 4).map { i =>
      val start = lit(i.toLong) * base + least(lit(i.toLong), rem) + lit(1L)
      val len = base + when(lit(i.toLong) < rem, 1L).otherwise(0L)
      val body = text.substr(start.cast("int"), len.cast("int"))
      val wtype =
        if (i == 0) t0
        else element_at(array(lit("response"), lit("request"), lit("metadata")),
          ((variant + lit(i)) % 3 + 1).cast("int"))
      val rid = concat(lit("<urn:graft:"), variant.cast("string"),
        lit(s"-$i>"))
      when(lit(i) < nRecords, warcRecord(wtype, rid, body)).otherwise(lit(""))
    }
    when(nRecords >= 1 && nRecords <= 4, concat(records: _*))
      .otherwise(raise_error(concat(
        lit("warcPayload: nRecords out of [1, 4]: "), nRecords.cast("string"))))
  }

  /** documents → WARC frame: every row carries a WARC file whose record
    * count (1-4), record types, ids, and Content-Length framing vary per
    * row (doc_id-derived). */
  def warcFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      warcPayload((col("doc_id") % 4 + 1).cast("int"), col("doc_id"),
        col("text")).as("payload"))

  /** WARC frame → record census + byte accounting, every value
    * re-derived from the BYTES by the native record walk (non-WARC
    * payloads yield nulls). payload_bytes + header_bytes always equals
    * total_bytes on a well-formed stream — the framing cross-check the
    * analytic oracle re-derives from the construction arithmetic. */
  def warcStats(media: DataFrame): DataFrame = {
    val s = graft.functions.MediaFunctions.warcRecordStats(col("payload"))
    media.select(
      col("doc_id"),
      element_at(s, 1).as("n_records"),
      element_at(s, 2).as("n_warcinfo"),
      element_at(s, 3).as("n_response"),
      element_at(s, 4).as("n_request"),
      element_at(s, 5).as("n_metadata"),
      element_at(s, 6).as("n_other"),
      element_at(s, 7).as("payload_bytes"),
      element_at(s, 8).as("header_bytes"),
      length(col("payload")).cast("long").as("total_bytes"))
  }

  /** WARC frame → one row per RECORD: (doc_id, rec_idx, wtype,
    * content_length, payload_offset) — the geometry a reader needs to
    * slice exact payloads out of the raw stream without re-parsing
    * (payload_offset is the 0-based byte offset of the record's first
    * payload byte; `substring(payload, payload_offset + 1,
    * content_length)` recovers the record body bit-exactly, spec'd).
    * Walk and explode both stay expression-side over one scan. */
  def warcRecords(media: DataFrame): DataFrame = {
    val names = array(lit("warcinfo"), lit("response"), lit("request"),
      lit("metadata"), lit("other"))
    media
      .select(col("doc_id"), col("payload"),
        graft.functions.MediaFunctions.warcRecordTable(col("payload")).as("t"))
      .select(col("doc_id"), col("payload"), explode(expr(
        """transform(sequence(0, size(t) DIV 3 - 1), i -> struct(
          |  CAST(i AS BIGINT) AS rec_idx,
          |  element_at(t, CAST(3 * i + 1 AS INT)) AS type_code,
          |  element_at(t, CAST(3 * i + 2 AS INT)) AS content_length,
          |  element_at(t, CAST(3 * i + 3 AS INT)) AS payload_offset))"""
          .stripMargin)).as("r"))
      .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
        element_at(names, (col("r.type_code") + 1).cast("int")).as("wtype"),
        col("r.content_length").as("content_length"),
        col("r.payload_offset").as("payload_offset"))
  }

  /** Corpus-wide WARC census over a [[warcStats]] frame: ONE summary
    * row of pure sums — (n_files, n_malformed, n_records, per-type
    * counts, payload/header/total bytes) — so the census is a MONOID
    * (merge = column-wise sum) and gets a streaming face for free
    * (StreamingMonitors.warcStateSink). Malformed files (the walk's
    * nulls) are COUNTED, never silently dropped, and contribute to no
    * byte column, so payload + header ≡ total holds on the census row
    * exactly as it does per well-formed file. */
  def warcCensus(stats: DataFrame): DataFrame = {
    def s(c: String) = coalesce(sum(coalesce(col(c), lit(0L))), lit(0L)).as(c)
    stats.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_files"),
      coalesce(sum(when(col("n_records").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_malformed"),
      s("n_records"), s("n_warcinfo"), s("n_response"), s("n_request"),
      s("n_metadata"), s("n_other"), s("payload_bytes"), s("header_bytes"),
      coalesce(sum(when(col("n_records").isNull, 0L)
        .otherwise(col("total_bytes"))), lit(0L)).as("total_bytes"))
  }

  /** documents → WARC frame whose RESPONSE payload is the doc-id-varied
    * HTML page (ops/TextAnalysis.htmlPayload) behind a warcinfo record —
    * the Common-Crawl capture shape, where the bytes a text pipeline
    * wants sit inside a response record inside a WARC. Records frame
    * their bodies with octet_length (byte count), so the geometry the
    * walker re-derives is exact even when the doc text is non-ASCII
    * (escaping & < > does NOT ASCII-fy the text — multi-byte
    * codepoints pass through the page builder untouched). */
  def warcHtmlFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        warcRecord(lit("warcinfo"),
          concat(lit("<urn:graft:html-"), col("doc_id").cast("string"),
            lit("-0>")),
          lit("graft-crawl")),
        warcRecord(lit("response"),
          concat(lit("<urn:graft:html-"), col("doc_id").cast("string"),
            lit("-1>")),
          graft.ops.TextAnalysis.htmlPayload(col("doc_id"), col("text"))))
        .cast("binary").as("payload"))

  /** cdx-style SEEKABLE INDEX over a `.warc.gz` frame — the read-side
    * artifact Common Crawl consumers actually use: per WARC record,
    * the record geometry in the UNCOMPRESSED stream (rec_idx, wtype,
    * content_length, payload_offset) joined with the gzip member whose
    * inflated span contains the payload start (member_idx,
    * member_offset = the member's byte offset in the COMPRESSED
    * stream, member_clen = its compressed length, member_ustart = the
    * uncompressed offset where the member's data begins) — so a
    * reader FETCHES member_offset onward, inflates only what it needs,
    * and slices the record without touching the rest of the file
    * (spec'd bit-exact, including payloads straddling member seams).
    * Composition of the two existing walks ([[gzipMembers]] +
    * [[warcRecords]] over [[warcGzStats]]' inflate); the member match
    * is a doc-keyed equi-join with a range post-filter (≤ 4 members
    * per doc), never a cartesian. Deterministic, so it is a write-once
    * parquet artifact at the Artifacts seam (the components/BPE/IVF
    * discipline). */
  def cdxIndex(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("member_idx")
    val mem = gzipMembers(media)
      .select(col("doc_id"), col("member_idx"), col("isize"),
        (col("header_len") + col("deflate_len") + lit(8L)).as("member_clen"))
      .select(col("doc_id"), col("member_idx"), col("member_clen"),
        (sum(col("member_clen")).over(w) - col("member_clen"))
          .as("member_offset"),
        (sum(col("isize")).over(w) - col("isize")).as("member_ustart"),
        sum(col("isize")).over(w).as("__uend"))
    val recs = warcRecords(media.select(col("doc_id"),
      graft.functions.MediaFunctions.gzipInflate(col("payload"))
        .as("payload")))
      .select("doc_id", "rec_idx", "wtype", "content_length",
        "payload_offset")
    recs.join(mem, Seq("doc_id"))
      .filter(col("payload_offset") >= col("member_ustart") &&
        col("payload_offset") < col("__uend"))
      .select(col("doc_id"), col("rec_idx"), col("wtype"),
        col("content_length"), col("payload_offset"), col("member_idx"),
        col("member_offset"), col("member_clen"), col("member_ustart"))
  }

  /** The COMPOSED Common-Crawl read path, end to end: walk the WARC's
    * record geometry ([[warcRecords]] — the native Content-Length walk,
    * not the construction), slice the response payload back out of the
    * raw bytes at the walked (offset, length), decode it as the HTML
    * page, and run the full HTML→text extraction census on what the
    * container actually carried. Spec'd row-equal to
    * [[graft.ops.TextAnalysis.htmlExtractCensus]] over the same docs —
    * the container round-trip is lossless — and the oracle is shared
    * verbatim with `text_html_extract` for the same reason. One scan;
    * the geometry join is doc-keyed (one response row per doc). */
  def warcHtmlTextCensus(docs: DataFrame): DataFrame = {
    val frame = warcHtmlFrame(docs)
    val resp = warcRecords(frame).filter(col("wtype") === "response")
      .select(col("doc_id"), col("content_length"), col("payload_offset"))
    val pages = frame.join(resp, "doc_id")
      .select(col("doc_id"),
        col("payload")
          .substr((col("payload_offset") + 1L).cast("int"),
            col("content_length").cast("int"))
          .cast("string").as("__html"))
    graft.ops.TextAnalysis.htmlCensusFrom(pages)
  }

  /** The FULL real-capture chain's frame: the doc's HTML page inside a
    * WARC response record ([[warcHtmlFrame]]) compressed with REAL
    * deflate ([[graft.functions.DspKernel.gzipDeflate]], level 6 — the
    * zlib default every crawler ships). This is byte-for-byte the shape
    * an actual Common-Crawl capture arrives in: dynamic-Huffman gzip
    * members over WARC records over HTML. */
  def warcGzRealHtmlFrame(docs: DataFrame): DataFrame =
    warcHtmlFrame(docs).select(col("doc_id"),
      graft.functions.MediaFunctions.gzipDeflate(col("payload"), 6)
        .as("payload"))

  /** The real-capture read CHAIN end to end: inflate the dynamic-
    * Huffman gzip by OUR inflater, walk the WARC record geometry,
    * slice the response payload at the walked (offset, length), decode
    * the HTML, run the extraction census — .warc.gz → WARC → HTML →
    * text over actual zlib bytes, nothing stored-block about it. The
    * round trip is lossless, so the oracle is [[warcHtmlTextCensus]]'s
    * (= `text_html_extract`'s) verbatim, and the inflater is already
    * certified per member by the recomputed CRC32/ISIZE
    * (q_multimodal_gzip_real). */
  def warcGzRealHtmlCensus(docs: DataFrame): DataFrame = {
    val inflated = warcGzRealHtmlFrame(docs).select(col("doc_id"),
      graft.functions.MediaFunctions.gzipInflate(col("payload"))
        .as("payload"))
    val resp = warcRecords(inflated).filter(col("wtype") === "response")
      .select(col("doc_id"), col("content_length"), col("payload_offset"))
    val pages = inflated.join(resp, "doc_id")
      .select(col("doc_id"),
        col("payload")
          .substr((col("payload_offset") + 1L).cast("int"),
            col("content_length").cast("int"))
          .cast("string").as("__html"))
    graft.ops.TextAnalysis.htmlCensusFrom(pages)
  }

  /** The census monoid's merge: column-wise sum of two summary rows. */
  def warcCensusMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val u = a.unionByName(b)
    val sums = u.columns.map(c => coalesce(sum(col(c)), lit(0L)).as(c))
    u.agg(sums.head, sums.tail: _*)
  }

  /** 4-byte LITTLE-endian hex of a non-negative value < 2^32 — gzip
    * (RFC 1952) is LE where PNG/MP4 are BE; same compact one-hex+lpad
    * form as [[beHex32]] (the janino method-limit lesson), bytes
    * re-ordered by substring. */
  private def leHex32(v: Column): Column = {
    val be = lpad(hex(v.cast("long")), 8, "0")
    concat(substring(be, 7, 2), substring(be, 5, 2),
      substring(be, 3, 2), substring(be, 1, 2))
  }

  /** 2-byte little-endian hex of a non-negative value < 2^16. */
  private def leHex16(v: Column): Column = {
    val be = lpad(hex(v.cast("long")), 4, "0")
    concat(substring(be, 3, 2), substring(be, 1, 2))
  }

  /** One RFC 1952 gzip member by expression: the 10-byte fixed header
    * (magic 1F 8B, CM 8 = deflate, `flg`, MTIME LE32, XFL 0, OS 3), the
    * FEXTRA (6 bytes: XLEN=4 + subfield "GR" len 0) or FNAME
    * (`name` + NUL) field `flg` selects, the deflate stream as `nBlk`
    * RFC 1951 STORED blocks splitting `chunk` near-evenly (header byte
    * 00/01, LEN LE16, NLEN = 65535 - LEN, raw bytes — stored blocks
    * keep the builder and the analytic oracle exact with no deflater),
    * and the CRC32 + ISIZE LE32 trailer — the CRC computed by Spark's
    * own `crc32` (the polynomial RFC 1952 mandates), so the walker's
    * independent recompute checks the BUILDER, not a copied constant. */
  private def gzipMember(flg: Column, mtime: Column, name: Column,
                         chunk: Column, nBlk: Column): Column = {
    val header = concat(
      unhex(concat(lit("1F8B08"), lpad(hex(flg.cast("long")), 2, "0"),
        leHex32(mtime), lit("0003"))),
      when(flg === 4, unhex(lit("040047520000")))
        .when(flg === 8, concat(name.cast("binary"), unhex(lit("00"))))
        .otherwise(lit(Array.empty[Byte])))
    val clen = length(chunk).cast("long")
    val base = floor(clen / nBlk).cast("long")
    val rem = pmod(clen, nBlk.cast("long"))
    val blocks = (0 until 4).map { j =>
      val start = lit(j.toLong) * base + least(lit(j.toLong), rem) + lit(1L)
      val len = base + when(lit(j.toLong) < rem, 1L).otherwise(0L)
      val hdrByte = when(lit(j.toLong) === nBlk.cast("long") - 1, lit("01"))
        .otherwise(lit("00"))
      when(lit(j) < nBlk,
        concat(unhex(concat(hdrByte, leHex16(len), leHex16(lit(65535L) - len))),
          chunk.substr(start.cast("int"), len.cast("int")).cast("binary")))
        .otherwise(lit(Array.empty[Byte]))
    }
    val trailer = unhex(concat(leHex32(crc32(chunk.cast("binary"))),
      leHex32(clen)))
    concat(Seq(header) ++ blocks :+ trailer: _*)
  }

  /** A structurally valid multi-member gzip stream per RFC 1952:
    * `nMembers` (≤4) members splitting `text` near-evenly (the
    * warcPayload split rule), member i's optional field cycling
    * none/FNAME/FEXTRA by (variant + i) mod 3, its MTIME
    * (variant·16 + i) mod 2^32, and its deflate stream
    * (variant + i) mod 4 + 1 stored blocks — so member geometry is
    * per-row data and the reader must walk header fields, block frames,
    * and trailers, not index a constant layout. Stored blocks bound LEN
    * at 65535, so `text` is capped there (far above the corpus; the
    * near-even member/block splits keep every LEN ≤ ⌈65535/1⌉).
    * Out-of-range arguments RAISE from the guard wrapping the final
    * concat — the unconditionally-evaluated slot warcPayload uses. */
  def gzipPayload(nMembers: Column, variant: Column, text: Column): Column =
    gzipPayloadFromChunks(nMembers, variant, text,
      gzipChunks(nMembers, text))

  /** The near-even member split of [[gzipPayload]] as four slice
    * expressions — split out so the FRAME builders can stage them into
    * their own projection (each chunk is referenced ~6+ times by the
    * member assembly: length, block slices, CRC32). */
  private def gzipChunks(nMembers: Column, text: Column): Seq[Column] = {
    val bodyLen = length(text).cast("long")
    val base = floor(bodyLen / nMembers).cast("long")
    val rem = pmod(bodyLen, nMembers.cast("long"))
    (0 until 4).map { i =>
      val start = lit(i.toLong) * base + least(lit(i.toLong), rem) + lit(1L)
      val len = base + when(lit(i.toLong) < rem, 1L).otherwise(0L)
      text.substr(start.cast("int"), len.cast("int"))
    }
  }

  /** Member assembly over prebuilt chunk expressions (or staged chunk
    * COLUMNS — the frame builders' path). Identical tree to the inline
    * form when the chunks are the inline slices. */
  private def gzipPayloadFromChunks(nMembers: Column, variant: Column,
                                    text: Column,
                                    chunks: Seq[Column]): Column = {
    val members = (0 until 4).map { i =>
      val flg = element_at(array(lit(0), lit(8), lit(4)),
        ((variant + lit(i)) % 3 + 1).cast("int"))
      val mtime = pmod(variant * 16 + lit(i), lit(4294967296L))
      val name = concat(lit("m"), (variant % 10).cast("string"),
        lit(s"-$i.txt"))
      val nBlk = ((variant + lit(i)) % 4 + 1).cast("int")
      when(lit(i) < nMembers, gzipMember(flg, mtime, name, chunks(i), nBlk))
        .otherwise(lit(Array.empty[Byte]))
    }
    when(nMembers >= 1 && nMembers <= 4 && length(text) <= 65535,
      concat(members: _*))
      .otherwise(raise_error(concat(
        lit("gzipPayload: nMembers out of [1, 4] or text > 65535 bytes: "),
        nMembers.cast("string"), lit("/"), length(text).cast("string"))))
      .cast("binary")
  }

  /** Staged gzip assembly over a (doc_id, __gzsrc) frame — the
    * warcGzFrame staging lesson applied one level deeper: projection 1
    * slices each member's chunk ONCE into a column; projection 2
    * assembles the members from the chunk COLUMNS. The member assembly
    * references each chunk ~6+ times (length, four block slices,
    * CRC32), so the inline form re-evaluates every slice — and
    * replicates its start/length arithmetic — per reference;
    * CollapseProject declines to re-inline the non-cheap multiply-
    * referenced aliases, so the stage survives optimization. Same
    * value, same single scan. */
  private def gzipFrameFrom(src: DataFrame): DataFrame = {
    val nMembers = (col("doc_id") % 4 + 1).cast("int")
    val staged = src.select(
      Seq(col("doc_id"), col("__gzsrc")) ++
        gzipChunks(nMembers, col("__gzsrc")).zipWithIndex.map {
          case (c, i) => c.as(s"__chunk$i")
        }: _*)
    staged.select(col("doc_id"),
      gzipPayloadFromChunks(nMembers, col("doc_id"), col("__gzsrc"),
        (0 until 4).map(i => col(s"__chunk$i"))).as("payload"))
  }

  /** documents → gzip frame: every row carries a multi-member gzip
    * stream whose member count (1-4), optional header fields, MTIMEs,
    * and stored-block splits vary per row (doc_id-derived). */
  def gzipFrame(docs: DataFrame): DataFrame =
    gzipFrameFrom(docs.select(col("doc_id"), col("text").as("__gzsrc")))

  /** documents → `.warc.gz` frame — the on-disk shape of a real
    * Common-Crawl capture: the doc's WARC stream ([[warcPayload]]'s
    * geometry, doc_id-varied) wrapped in gzip members
    * ([[gzipPayload]]'s geometry). Member boundaries split the stream
    * near-evenly by BYTES, not by record — the census downstream
    * ([[warcGzStats]]) is framing-agnostic because concatenating the
    * inflated members recovers the stream regardless of where the
    * member cuts fall. */
  def warcGzFrame(docs: DataFrame): DataFrame =
    // STAGED on purpose: the gzip framing references its source string
    // ~40 times (per-member chunk slices, block frames, CRC32,
    // lengths), so inlining the warcPayloadString tree there multiplied
    // an already-large expression ~40-fold — measured at sf0.1 as a
    // 700-second query behind a 140 MiB codegen'd task binary. The WARC
    // string is computed ONCE per row into a column, then the staged
    // gzip assembly (gzipFrameFrom — itself two projections, chunks
    // then members) references it cheaply. Same value, same single
    // scan, ~40x less work (24s measured after the first stage alone).
    gzipFrameFrom(docs.select(col("doc_id"),
      warcPayloadString((col("doc_id") % 4 + 1).cast("int"), col("doc_id"),
        col("text")).as("__gzsrc")))

  /** gzip frame → member census + byte accounting, every value
    * re-derived from the BYTES by the native member walk (non-gzip
    * payloads yield nulls). header_bytes + deflate_bytes +
    * trailer_bytes always equals total_bytes on a well-formed stream —
    * the warcStats framing cross-check, re-derived analytically by the
    * oracle from the construction arithmetic. crc_ok counts members
    * whose stored CRC32 AND ISIZE match the walker's recompute — n_members
    * by construction, certifying builder and walker against each other. */
  def gzipStats(media: DataFrame): DataFrame = {
    val s = graft.functions.MediaFunctions.gzipMemberStats(col("payload"))
    media.select(
      col("doc_id"),
      element_at(s, 1).as("n_members"),
      element_at(s, 2).as("n_fname"),
      element_at(s, 3).as("n_fextra"),
      element_at(s, 4).as("n_blocks"),
      element_at(s, 5).as("header_bytes"),
      element_at(s, 6).as("deflate_bytes"),
      (element_at(s, 1) * lit(8L)).as("trailer_bytes"),
      element_at(s, 7).as("isize_total"),
      element_at(s, 8).as("mtime_sum"),
      element_at(s, 9).as("crc_ok"),
      length(col("payload")).cast("long").as("total_bytes"))
  }

  /** gzip frame → one row per MEMBER: (doc_id, member_idx, flg, mtime,
    * header_len, deflate_len, n_blocks, isize, crc_ok) — the geometry
    * an indexer records per gzip member (Common Crawl's cdx offset
    * discipline). Walk and explode both stay expression-side over one
    * scan (the warcRecords shape). */
  def gzipMembers(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"),
        graft.functions.MediaFunctions.gzipMemberTable(col("payload")).as("t"))
      .select(col("doc_id"), expr(
        """inline(transform(sequence(0, size(t) DIV 7 - 1), i -> struct(
          |  CAST(i AS BIGINT) AS member_idx,
          |  element_at(t, CAST(7 * i + 1 AS INT)) AS flg,
          |  element_at(t, CAST(7 * i + 2 AS INT)) AS mtime,
          |  element_at(t, CAST(7 * i + 3 AS INT)) AS header_len,
          |  element_at(t, CAST(7 * i + 4 AS INT)) AS deflate_len,
          |  element_at(t, CAST(7 * i + 5 AS INT)) AS n_blocks,
          |  element_at(t, CAST(7 * i + 6 AS INT)) AS isize,
          |  element_at(t, CAST(7 * i + 7 AS INT)) AS crc_ok)))"""
          .stripMargin))

  /** `.warc.gz` frame → the WARC record census read THROUGH the gzip
    * layer: inflate the stored members by expression, then run the
    * SAME [[warcStats]] walk — the full Common-Crawl read path
    * (gzip member framing → WARC record framing → census) over one
    * scan, no native inflater, no driver state. Output is column-for-
    * column [[warcStats]]'s, so the analytic WARC oracle replays it
    * unchanged (the inflated stream is byte-identical to the
    * uncompressed build by the stored-block identity, spec'd). */
  def warcGzStats(media: DataFrame): DataFrame =
    warcStats(media.select(col("doc_id"),
      graft.functions.MediaFunctions.gzipInflate(col("payload"))
        .as("payload")))

  /** documents → `.warc.gz` frame compressed with REAL deflate: the
    * doc's WARC stream ([[warcPayloadString]], doc_id-varied geometry)
    * wrapped as ONE gzip member whose deflate stream is
    * `java.util.zip.Deflater` output at level (doc_id % 9) + 1 —
    * dynamic-Huffman blocks for natural text, the shape every actual
    * Common-Crawl capture carries and the stored-block builder cannot
    * produce. Staged (the warcGzFrame lesson): the WARC string is
    * computed once into a column before the deflate expression
    * consumes it. */
  def warcGzRealFrame(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"),
      warcPayloadString((col("doc_id") % 4 + 1).cast("int"), col("doc_id"),
        col("text")).as("__warcsrc"))
    val levels = (1 to 9).map { lvl =>
      when(col("doc_id") % 9 === (lvl - 1),
        graft.functions.MediaFunctions.gzipDeflate(
          col("__warcsrc").cast("binary"), lvl))
    }
    staged.select(col("doc_id"),
      coalesce(levels: _*).as("payload"))
  }

  /** The real-capture read path's self-certifying census: per doc, the
    * gzip member walk's certificate columns (gz_members, gz_crc_ok —
    * the walker RECOMPUTES CRC32 + ISIZE over what IT inflates, so
    * gz_crc_ok = 1 proves the inflater against zlib's compressor;
    * gz_header_bytes = 10 and gz_isize = the WARC stream's byte length
    * are analytic) joined with the full WARC record census over the
    * INFLATED bytes. Deflater-dependent values (deflate_len, n_blocks)
    * stay out of the frame — the oracle prices only what the
    * construction determines. One scan, all expression-side. */
  def warcGzRealStats(media: DataFrame): DataFrame = {
    val g = graft.functions.MediaFunctions.gzipMemberStats(col("payload"))
    val staged = media.select(col("doc_id"),
      element_at(g, 1).as("gz_members"),
      element_at(g, 5).as("gz_header_bytes"),
      element_at(g, 7).as("gz_isize"),
      element_at(g, 9).as("gz_crc_ok"),
      graft.functions.MediaFunctions.gzipInflate(col("payload"))
        .as("payload"))
    val s = graft.functions.MediaFunctions.warcRecordStats(col("payload"))
    staged.select(
      col("doc_id"), col("gz_members"), col("gz_header_bytes"),
      col("gz_isize"), col("gz_crc_ok"),
      element_at(s, 1).as("n_records"),
      element_at(s, 2).as("n_warcinfo"),
      element_at(s, 3).as("n_response"),
      element_at(s, 4).as("n_request"),
      element_at(s, 5).as("n_metadata"),
      element_at(s, 6).as("n_other"),
      element_at(s, 7).as("payload_bytes"),
      element_at(s, 8).as("header_bytes"),
      length(col("payload")).cast("long").as("total_bytes"))
  }

  /** The NUL character tar pads fields, bodies, and the end-of-archive
    * blocks with — built from the code point so the source file never
    * carries a raw control byte. */
  private val Nul: String = 0.toChar.toString

  /** Unsigned byte sum of an ASCII column — the ustar checksum's unit
    * of account. Interpreted HOF, but only ever over the VARIABLE
    * header fields (a ≤ ~25-char name, two 11-digit octal strings);
    * every fixed field's sum is the plan-time constant
    * [[TarFixedHeaderByteSum]]. */
  private def asciiByteSum(s: Column): Column =
    aggregate(split(s, ""), lit(0L), (acc, c) => acc + ascii(c))

  /** Byte sum of every FIXED field in the builder's ustar header: mode
    * "0000644\0", uid/gid "0000000\0", typeflag '0', magic "ustar\0" +
    * version "00", uname "graft" (NUL-padded — NULs count 0), the
    * chksum field read as eight spaces (the ustar recompute rule), and
    * all-NUL linkname/gname/devmajor/devminor/prefix/pad. */
  private val TarFixedHeaderByteSum: Long =
    ("0000644" + Nul + "0000000" + Nul + "0000000" + Nul +
      "0" + "ustar" + Nul + "00" + "graft").map(_.toLong).sum + 8L * 32L

  /** Zero-padded octal of a non-negative value — tar's numeric field
    * encoding (11 digits for size/mtime, 6 for chksum). */
  private def tarOctal(v: Column, width: Int): Column =
    lpad(conv(v.cast("string"), 10, 8), width, "0")

  /** One 512-byte POSIX ustar header by expression: NUL-padded name,
    * mode 0644, uid/gid 0, 11-digit octal size and mtime, the 6-digit
    * octal checksum COMPUTED (fixed-field constant + the variable
    * fields' byte sums + the eight-spaces rule), typeflag '0',
    * `ustar\0` magic + version "00", uname "graft" — so the walker's
    * independent checksum recompute certifies the BUILDER, not a copied
    * constant. `name` and the octal strings must be ASCII (they are by
    * construction: digits + a fixed extension). */
  private def tarHeader(name: Column, size: Column, mtime: Column): Column = {
    val sizeOct = tarOctal(size, 11)
    val mtimeOct = tarOctal(mtime, 11)
    val chksum = lit(TarFixedHeaderByteSum) + asciiByteSum(name) +
      asciiByteSum(sizeOct) + asciiByteSum(mtimeOct)
    concat(
      rpad(name, 100, Nul),
      lit("0000644" + Nul + "0000000" + Nul + "0000000" + Nul),
      sizeOct, lit(Nul),
      mtimeOct, lit(Nul),
      tarOctal(chksum, 6), lit(Nul + " "),
      lit("0"),
      lit(Nul * 100),
      lit("ustar" + Nul + "00"),
      rpad(lit("graft"), 32, Nul),
      lit(Nul * (32 + 8 + 8 + 155 + 12)))
  }

  /** One tar member: the 512-byte header, the body BYTES (size framed
    * by octet_length — byte count, never characters: a multi-byte body
    * must not mis-frame the block walk), NUL-padded to the 512
    * boundary. */
  private def tarMember(name: Column, body: Column, mtime: Column): Column = {
    val size = octet_length(body).cast("long")
    val pad = pmod(lit(512L) - pmod(size, lit(512L)), lit(512L))
    concat(
      tarHeader(name, size, mtime).cast("binary"),
      body.cast("binary"),
      lit(Nul * 511).substr(lit(1), pad.cast("int")).cast("binary"))
  }

  /** A WebDataset-shaped POSIX ustar archive per doc: `nMembers` (≤3)
    * members keyed by the doc's numeric basename — `<doc_id>.txt` (the
    * text), `<doc_id>.cls` (the label, doc_id mod 10), `<doc_id>.json`
    * (typed metadata: id + byte length) — each with a doc_id-varied
    * mtime, closed by the spec's two zero blocks. The (key, field)
    * naming IS the WebDataset convention: a shard reader groups members
    * by basename to reassemble samples. Out-of-range arguments RAISE
    * from the guard wrapping the final concat (the warcPayload
    * unconditionally-evaluated-slot rule). Doc ids are non-negative by
    * the corpus contract; a negative id still frames a valid archive
    * ('-' is ASCII) but classifies as sample_id −1 on the read side. */
  private def tarArchiveFromParts(nMembers: Column, names: Seq[Column],
                                  bodies: Seq[Column],
                                  mtimes: Seq[Column]): Column = {
    val members = (0 until 3).map { i =>
      when(lit(i) < nMembers, tarMember(names(i), bodies(i), mtimes(i)))
        .otherwise(lit(Array.empty[Byte]))
    }
    when(nMembers >= 1 && nMembers <= 3,
      concat(members :+ lit(Nul * 1024).cast("binary"): _*))
      .otherwise(raise_error(concat(
        lit("tarArchive: nMembers out of [1, 3]: "), nMembers.cast("string"))))
  }

  /** documents → WebDataset tar frame — STAGED (the warcGzFrame
    * lesson): projection 1 computes each member's name and body ONCE
    * into columns (the member assembly references its body ~4 times:
    * octet_length for the size field and its checksum, the pad
    * arithmetic, the bytes themselves); projection 2 assembles the
    * archive from the staged columns. Same value, same single scan. */
  def tarFrame(docs: DataFrame): DataFrame = {
    val key = col("doc_id").cast("string")
    val staged = docs.select(
      col("doc_id"),
      concat(key, lit(".txt")).as("__name0"),
      concat(key, lit(".cls")).as("__name1"),
      concat(key, lit(".json")).as("__name2"),
      col("text").as("__body0"),
      pmod(col("doc_id"), lit(10L)).cast("string").as("__body1"),
      concat(lit("{\"id\":"), key, lit(",\"len\":"),
        octet_length(col("text")).cast("string"), lit("}")).as("__body2"))
    val nMembers = (col("doc_id") % 3 + 1).cast("int")
    val mtimes = (0 until 3).map(i =>
      pmod(col("doc_id") * 16 + lit(i.toLong), lit(8589934592L)))
    staged.select(col("doc_id"),
      tarArchiveFromParts(nMembers,
        (0 until 3).map(i => col(s"__name$i")),
        (0 until 3).map(i => col(s"__body$i")),
        mtimes).as("payload"))
  }

  /** tar frame → archive census + byte accounting, every value
    * re-derived from the BYTES by the native header-chain walk
    * (non-tar payloads yield nulls). n_members·512 + body_bytes +
    * pad_bytes + 1024 equals n_blocks·512 on the builder's archives —
    * the framing cross-check the oracle re-derives analytically.
    * chksum_ok counts members whose ustar header checksum matches the
    * walker's recompute — n_members by construction, certifying
    * builder and walker against each other. */
  def tarStats(media: DataFrame): DataFrame = {
    val s = graft.functions.MediaFunctions.tarStats(col("payload"))
    media.select(
      col("doc_id"),
      element_at(s, 1).as("n_members"),
      element_at(s, 2).as("body_bytes"),
      element_at(s, 3).as("pad_bytes"),
      element_at(s, 4).as("chksum_ok"),
      element_at(s, 5).as("ustar_ok"),
      element_at(s, 6).as("n_txt"),
      element_at(s, 7).as("n_cls"),
      element_at(s, 8).as("n_json"),
      element_at(s, 9).as("n_other"),
      element_at(s, 10).as("mtime_sum"),
      element_at(s, 11).as("n_blocks"),
      length(col("payload")).cast("long").as("total_bytes"))
  }

  /** tar frame → one row per MEMBER: (doc_id, member_idx, sample_id,
    * ext_code, body_offset, size, mtime, chksum_ok) — the (key, field)
    * geometry a WebDataset shard reader seeks by. Walk and explode
    * both stay expression-side over one scan (the gzipMembers shape). */
  def tarMembers(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"),
        graft.functions.MediaFunctions.tarMemberTable(col("payload")).as("t"))
      .select(col("doc_id"), expr(
        """inline(transform(sequence(0, size(t) DIV 7 - 1), i -> struct(
          |  CAST(i AS BIGINT) AS member_idx,
          |  element_at(t, CAST(7 * i + 1 AS INT)) AS sample_id,
          |  element_at(t, CAST(7 * i + 2 AS INT)) AS ext_code,
          |  element_at(t, CAST(7 * i + 3 AS INT)) AS body_offset,
          |  element_at(t, CAST(7 * i + 4 AS INT)) AS size,
          |  element_at(t, CAST(7 * i + 5 AS INT)) AS mtime,
          |  element_at(t, CAST(7 * i + 6 AS INT)) AS chksum_ok)))"""
          .stripMargin))

  /** WebDataset SAMPLE census: tar members grouped by their numeric
    * basename — the reassembly a shard reader performs before training
    * (key → {txt, cls, json} fields). Per (doc_id, sample_id):
    * field count, per-extension presence, and the sample's body bytes.
    * Aggregation keys only — no driver state, no fan-out join; at
    * 100 TB this is one partial-aggregated pass over the member rows. */
  def wdsSamples(media: DataFrame): DataFrame =
    tarMembers(media)
      .groupBy(col("doc_id"), col("sample_id"))
      .agg(
        count(lit(1)).as("n_fields"),
        max(when(col("ext_code") === 1L, 1L).otherwise(0L)).as("has_txt"),
        max(when(col("ext_code") === 2L, 1L).otherwise(0L)).as("has_cls"),
        max(when(col("ext_code") === 3L, 1L).otherwise(0L)).as("has_json"),
        sum(col("size")).as("body_bytes"))

  /** Corpus-wide tar census over a [[tarStats]] frame: ONE summary row
    * (a sum monoid — the stream face merges partials column-wise via
    * [[warcCensusMerge]]). Malformed archives (the walk's nulls) are
    * COUNTED in-band and contribute to no byte column. */
  def tarCensus(stats: DataFrame): DataFrame = {
    def s(c: String) = coalesce(sum(coalesce(col(c), lit(0L))), lit(0L)).as(c)
    stats.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_shards"),
      coalesce(sum(when(col("n_members").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_malformed"),
      s("n_members"), s("body_bytes"), s("pad_bytes"), s("chksum_ok"),
      s("ustar_ok"), s("n_txt"), s("n_cls"), s("n_json"), s("n_other"),
      s("mtime_sum"), s("n_blocks"),
      coalesce(sum(when(col("n_members").isNull, 0L)
        .otherwise(col("total_bytes"))), lit(0L)).as("total_bytes"))
  }

  /** Corpus-wide zip census over a [[zipStats]] frame — the same sum
    * monoid (one row, malformed counted in-band, stream-mergeable). */
  def zipCensus(stats: DataFrame): DataFrame = {
    def s(c: String) = coalesce(sum(coalesce(col(c), lit(0L))), lit(0L)).as(c)
    stats.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_archives"),
      coalesce(sum(when(col("n_entries").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_malformed"),
      s("n_entries"), s("n_stored"), s("n_deflated"), s("usize_total"),
      s("csize_total"), s("crc_ok"), s("cd_ok"), s("dtime_sum"),
      s("n_txt"), s("n_cls"), s("n_json"),
      coalesce(sum(when(col("n_entries").isNull, 0L)
        .otherwise(col("total_bytes"))), lit(0L)).as("total_bytes"))
  }

  /** documents → `.tar.gz` frame — the on-disk shape of a REAL
    * WebDataset shard: the doc's tar archive compressed with actual
    * zlib deflate at level (doc_id % 9) + 1 (dynamic-Huffman blocks).
    * Staged: the archive bytes are computed once into a column before
    * the deflate expression consumes them (the warcGzFrame lesson). */
  def tarGzFrame(docs: DataFrame): DataFrame = {
    val staged = tarFrame(docs).select(col("doc_id"),
      col("payload").as("__tarsrc"))
    val levels = (1 to 9).map { lvl =>
      when(col("doc_id") % 9 === (lvl - 1),
        graft.functions.MediaFunctions.gzipDeflate(col("__tarsrc"), lvl))
    }
    staged.select(col("doc_id"), coalesce(levels: _*).as("payload"))
  }

  /** `.tar.gz` frame → the tar census read THROUGH the real gzip
    * layer: our RFC 1951 inflater recovers the archive (gz_crc_ok = 1
    * is the walker-recomputed certificate against zlib's compressor),
    * then the SAME ustar walk runs — the full WebDataset shard read
    * path over one scan. gz_isize = the archive's byte length is
    * analytic (the round trip is lossless); deflater-dependent values
    * stay out of the frame (the warcGzRealStats pricing rule). */
  def tarGzStats(media: DataFrame): DataFrame = {
    val g = graft.functions.MediaFunctions.gzipMemberStats(col("payload"))
    val staged = media.select(col("doc_id"),
      element_at(g, 1).as("gz_members"),
      element_at(g, 7).as("gz_isize"),
      element_at(g, 9).as("gz_crc_ok"),
      graft.functions.MediaFunctions.gzipInflate(col("payload"))
        .as("payload"))
    val s = graft.functions.MediaFunctions.tarStats(col("payload"))
    staged.select(
      col("doc_id"), col("gz_members"), col("gz_isize"), col("gz_crc_ok"),
      element_at(s, 1).as("n_members"),
      element_at(s, 2).as("body_bytes"),
      element_at(s, 3).as("pad_bytes"),
      element_at(s, 4).as("chksum_ok"),
      element_at(s, 5).as("ustar_ok"),
      element_at(s, 6).as("n_txt"),
      element_at(s, 7).as("n_cls"),
      element_at(s, 8).as("n_json"),
      element_at(s, 10).as("mtime_sum"),
      element_at(s, 11).as("n_blocks"))
  }

  /** One STORED zip entry's local header + data by expression, per
    * PKWARE APPNOTE §4.3.7: sig PK\3\4, version 20, flags 0, method 0,
    * DOS time/date, CRC32 (Spark's own `crc32` — the walker's recompute
    * certifies the BUILDER), csize = usize = octet_length (bytes, never
    * chars), name. */
  private def zipLocal(name: Column, body: Column, dtime: Column,
                       ddate: Column): Column = {
    val size = octet_length(body).cast("long")
    concat(
      unhex(concat(lit("504B03041400" + "0000" + "0000"),
        leHex16(dtime), leHex16(ddate),
        leHex32(crc32(body.cast("binary"))),
        leHex32(size), leHex32(size),
        leHex16(octet_length(name).cast("long")), lit("0000"))),
      name.cast("binary"),
      body.cast("binary"))
  }

  /** The matching central-directory entry (§4.3.12): same fields plus
    * version-made-by, empty comment/disk/attr fields, and the entry's
    * local-header offset. */
  private def zipCentral(name: Column, body: Column, dtime: Column,
                         ddate: Column, lfhOffset: Column): Column = {
    val size = octet_length(body).cast("long")
    concat(
      unhex(concat(lit("504B0102" + "1400" + "1400" + "0000" + "0000"),
        leHex16(dtime), leHex16(ddate),
        leHex32(crc32(body.cast("binary"))),
        leHex32(size), leHex32(size),
        leHex16(octet_length(name).cast("long")),
        lit("0000" + "0000" + "0000" + "0000" + "00000000"),
        leHex32(lfhOffset))),
      name.cast("binary"))
  }

  /** documents → WebDataset-shaped STORED zip frame: the tar trio
    * (`<doc_id>.{txt,cls,json}`, nMembers = doc_id mod 3 + 1) as zip
    * entries — local chain, central directory, EOCD, all by expression
    * with the entry CRCs computed (not copied), so the walker's
    * three-layer cross-check certifies the builder. STAGED like
    * tarFrame: names/bodies once into columns, assembly referencing
    * only columns. */
  def zipFrame(docs: DataFrame): DataFrame = {
    val key = col("doc_id").cast("string")
    val staged = docs.select(
      col("doc_id"),
      concat(key, lit(".txt")).as("__name0"),
      concat(key, lit(".cls")).as("__name1"),
      concat(key, lit(".json")).as("__name2"),
      col("text").as("__body0"),
      pmod(col("doc_id"), lit(10L)).cast("string").as("__body1"),
      concat(lit("{\"id\":"), key, lit(",\"len\":"),
        octet_length(col("text")).cast("string"), lit("}")).as("__body2"))
    val nMembers = (col("doc_id") % 3 + 1).cast("int")
    def dtime(i: Int) = pmod(col("doc_id") * 16 + lit(i.toLong), lit(65536L))
    def ddate(i: Int) = pmod(col("doc_id") * 7 + lit(i.toLong), lit(65536L))
    def name(i: Int) = col(s"__name$i")
    def body(i: Int) = col(s"__body$i")
    def entryLen(i: Int) =
      lit(30L) + octet_length(name(i)) + octet_length(body(i))
    def cdLen(i: Int) = lit(46L) + octet_length(name(i)).cast("long")
    val lfhOffsets = (0 until 3).map(i =>
      (0 until i).map(j => when(lit(j) < nMembers, entryLen(j)).otherwise(0L))
        .foldLeft(lit(0L))(_ + _))
    val locals = (0 until 3).map(i =>
      when(lit(i) < nMembers, zipLocal(name(i), body(i), dtime(i), ddate(i)))
        .otherwise(lit(Array.empty[Byte])))
    val centrals = (0 until 3).map(i =>
      when(lit(i) < nMembers,
        zipCentral(name(i), body(i), dtime(i), ddate(i), lfhOffsets(i)))
        .otherwise(lit(Array.empty[Byte])))
    val cdOffset = (0 until 3).map(i =>
      when(lit(i) < nMembers, entryLen(i)).otherwise(0L))
      .foldLeft(lit(0L))(_ + _)
    val cdSize = (0 until 3).map(i =>
      when(lit(i) < nMembers, cdLen(i)).otherwise(0L))
      .foldLeft(lit(0L))(_ + _)
    val eocd = unhex(concat(lit("504B0506" + "0000" + "0000"),
      leHex16(nMembers.cast("long")), leHex16(nMembers.cast("long")),
      leHex32(cdSize), leHex32(cdOffset), lit("0000")))
    staged.select(col("doc_id"),
      when(nMembers >= 1 && nMembers <= 3,
        concat(locals ++ centrals :+ eocd: _*))
        .otherwise(raise_error(concat(
          lit("zipFrame: nMembers out of [1, 3]: "),
          nMembers.cast("string")))).as("payload"))
  }

  /** zip frame → archive census, every value re-derived from the BYTES
    * by the native three-layer walk (local chain re-CRC'd, central
    * directory cross-checked entry-for-entry, EOCD count/size/offset
    * verified; non-zip payloads yield nulls). crc_ok = cd_ok =
    * n_entries by construction. */
  def zipStats(media: DataFrame): DataFrame = {
    val s = graft.functions.MediaFunctions.zipStats(col("payload"))
    media.select(
      col("doc_id"),
      element_at(s, 1).as("n_entries"),
      element_at(s, 2).as("n_stored"),
      element_at(s, 3).as("n_deflated"),
      element_at(s, 4).as("usize_total"),
      element_at(s, 5).as("csize_total"),
      element_at(s, 6).as("crc_ok"),
      element_at(s, 7).as("cd_ok"),
      element_at(s, 8).as("dtime_sum"),
      element_at(s, 9).as("n_txt"),
      element_at(s, 10).as("n_cls"),
      element_at(s, 11).as("n_json"),
      length(col("payload")).cast("long").as("total_bytes"))
  }

  /** zip frame → one row per ENTRY: the (sample key, field, offsets,
    * sizes, verification bits) geometry an extractor seeks by. Walk and
    * explode both expression-side over one scan. */
  def zipEntries(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"),
        graft.functions.MediaFunctions.zipEntryTable(col("payload")).as("t"))
      .select(col("doc_id"), expr(
        """inline(transform(sequence(0, size(t) DIV 10 - 1), i -> struct(
          |  CAST(i AS BIGINT) AS entry_idx,
          |  element_at(t, CAST(10 * i + 1 AS INT)) AS sample_id,
          |  element_at(t, CAST(10 * i + 2 AS INT)) AS ext_code,
          |  element_at(t, CAST(10 * i + 3 AS INT)) AS method,
          |  element_at(t, CAST(10 * i + 4 AS INT)) AS lfh_offset,
          |  element_at(t, CAST(10 * i + 5 AS INT)) AS data_offset,
          |  element_at(t, CAST(10 * i + 6 AS INT)) AS csize,
          |  element_at(t, CAST(10 * i + 7 AS INT)) AS usize,
          |  element_at(t, CAST(10 * i + 8 AS INT)) AS dtime,
          |  element_at(t, CAST(10 * i + 9 AS INT)) AS crc_ok,
          |  element_at(t, CAST(10 * i + 10 AS INT)) AS cd_ok)))"""
          .stripMargin))

  /** documents → REAL zip frame: `java.util.zip.ZipOutputStream` writes
    * each doc's `<doc_id>.txt` as a DEFLATED entry (level cycling 1–9
    * by doc, streaming data descriptor, pinned entry time) — the
    * reference-implementation bytes OUR walker and inflater are
    * certified against. Staged name/body columns feed the kernel. */
  def zipRealFrame(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"),
      concat(col("doc_id").cast("string"), lit(".txt")).cast("binary")
        .as("__name"),
      col("text").cast("binary").as("__body"))
    val levels = (1 to 9).map { lvl =>
      when(col("doc_id") % 9 === (lvl - 1),
        graft.functions.MediaFunctions.zipReal(col("__name"), col("__body"), lvl))
    }
    staged.select(col("doc_id"), coalesce(levels: _*).as("payload"))
  }

  /** REAL zip frame → the census columns the CONSTRUCTION determines
    * (csize is deflater-dependent and stays out — the
    * warcGzRealStats pricing rule): one deflated `.txt` entry, the
    * walker's recomputed CRC and directory checks as certificates,
    * dtime = 0 (the pinned midnight). */
  def zipRealStats(media: DataFrame): DataFrame = {
    val s = graft.functions.MediaFunctions.zipStats(col("payload"))
    media.select(
      col("doc_id"),
      element_at(s, 1).as("n_entries"),
      element_at(s, 2).as("n_stored"),
      element_at(s, 3).as("n_deflated"),
      element_at(s, 4).as("usize_total"),
      element_at(s, 6).as("crc_ok"),
      element_at(s, 7).as("cd_ok"),
      element_at(s, 8).as("dtime_sum"),
      element_at(s, 9).as("n_txt"))
  }

  /** Magic-byte container detection — the DISPATCH a mixed-format
    * ingest runs before any walker: every container the family parses,
    * identified from its signature bytes (BMP 'BM', RIFF/WAVE, JPEG
    * FFD8FF, PNG, FLAC 'fLaC', ISO-BMFF 'ftyp' at offset 4, gzip 1F8B,
    * zip PK\3\4 (or the empty-archive PK\5\6), ustar magic at offset
    * 257, WARC 'WARC/'). Pure built-in expressions (hex/substring
    * comparisons) — codegen'd, no custom kernel, scan speed. */
  def containerOf(p: Column): Column = {
    val h4 = hex(substring(p, 1, 4))
    when(hex(substring(p, 1, 2)) === "424D", "bmp")
      .when(h4 === "52494646" &&
        hex(substring(p, 9, 4)) === "57415645", "wav")
      .when(hex(substring(p, 1, 3)) === "FFD8FF", "jpeg")
      .when(h4 === "89504E47", "png")
      .when(h4 === "664C6143", "flac")
      .when(hex(substring(p, 5, 4)) === "66747970", "mp4")
      .when(hex(substring(p, 1, 2)) === "1F8B", "gzip")
      .when(h4 === "504B0304" || h4 === "504B0506", "zip")
      .when(hex(substring(p, 258, 6)) === "757374617200", "tar")
      .when(hex(substring(p, 1, 5)) === "574152432F", "warc")
      .otherwise("unknown")
  }

  /** A MIXED-container corpus: docs route to tar / zip / gzip / WARC
    * builders by doc_id mod 4 — the fixture shape of an ingest
    * directory holding heterogeneous shards. Four filtered builder
    * passes (fixture-side cost); the OPERATOR under test
    * ([[containerOf]] + [[sniffCensus]]) is per-row + one aggregate. */
  def mixedContainerFrame(docs: DataFrame): DataFrame = {
    def part(k: Int, f: DataFrame => DataFrame): DataFrame =
      f(docs.filter(pmod(col("doc_id"), lit(4L)) === k))
        .select(col("doc_id"), col("payload"))
    part(0, tarFrame)
      .unionByName(part(1, zipFrame))
      .unionByName(part(2, gzipFrame))
      .unionByName(part(3, warcFrame))
  }

  /** The dispatch census: how many shards of each container type the
    * ingest directory holds — one map-side-combined aggregate over the
    * sniffed type. */
  def sniffCensus(media: DataFrame): DataFrame =
    media.select(containerOf(col("payload")).as("container"))
      .groupBy("container").agg(count(lit(1)).as("n_docs"))

  /** One ISO-BMFF box by expression: size(4 BE, includes the 8-byte
    * header) + type + payload — the §4.2 compact form the builder emits
    * (largesize/size-0 are read-side concerns the walker handles). */
  private def mp4Box(typeHex: String, payload: Column): Column =
    concat(unhex(beHex32(length(payload) + 8)), unhex(lit(typeHex)), payload)

  /** The 36-byte identity transform matrix every *hdr box carries
    * (16.16 / 2.30 fixed point: 0x00010000, ..., 0x40000000). */
  private val Mp4UnityMatrix: String =
    "000100000000000000000000" + "000000000001000000000000" + "000000000000000040000000"

  /** A structurally valid ISO-BMFF (MP4) file per ISO/IEC 14496-12:
    * `ftyp` (isom, minor 0x200, compatible isom/mp41), `moov` holding a
    * version-0 `mvhd` (movie `timescale`/`duration`, next_track_ID =
    * nTrak+1) and `nTrak` (≤3) `trak` boxes (each a version-0 `tkhd`
    * with flags 7, track_ID i+1, the movie duration), then `nMdat` (≤4)
    * `mdat` boxes splitting `text` near-evenly (chunk i gets ⌊L/n⌋
    * bytes plus one while i < L mod n — the IDAT/scan split). Box
    * geometry is per-row data, so the reader must walk size/type frames
    * and tile moov's children, not index a constant layout.
    * Out-of-range arguments RAISE (the pngPayload convention), riding
    * the mvhd version slot — ONE guard site, raw columns elsewhere
    * (the duplicated-guard-tree janino lesson). */
  def mp4Payload(timescale: Column, duration: Column, nTrak: Column,
                 nMdat: Column, text: Column): Column = {
    val argsOk = nTrak >= 1 && nTrak <= 3 && nMdat >= 1 && nMdat <= 4 &&
      timescale >= 1 && timescale <= 0xFFFFFFFFL &&
      duration >= 0 && duration <= 0xFFFFFFFFL
    val mvhdVersionFlags = when(argsOk, lit("00000000")).otherwise(
      raise_error(concat(lit("mp4Payload: invalid timescale/duration/nTrak/nMdat: "),
        timescale.cast("string"), lit("/"), duration.cast("string"), lit("/"),
        nTrak.cast("string"), lit("/"), nMdat.cast("string"))))
    val ftyp = unhex(lit("0000001866747970" + "69736F6D" + "00000200" +
      "69736F6D" + "6D703431")) // 24-byte constant box
    val mvhd = mp4Box("6D766864", unhex(concat(
      mvhdVersionFlags, lit("00000000" + "00000000"), // creation, modification
      beHex32(timescale), beHex32(duration),
      lit("00010000" + "0100" + "0000" + "0000000000000000"), // rate, volume, reserved
      lit(Mp4UnityMatrix), lit("00" * 24), // matrix, pre_defined
      beHex32(nTrak + 1)))) // next_track_ID
    val traks = (0 until 3).map { i =>
      when(lit(i) < nTrak,
        mp4Box("7472616B", mp4Box("746B6864", unhex(concat(
          lit("00000007" + "00000000" + "00000000"), // v0 flags 7, creation, modification
          beHex32(lit(i + 1)), lit("00000000"), beHex32(duration), // track_ID, reserved, duration
          lit("00" * 16), lit(Mp4UnityMatrix), // reserved/layer/group/volume, matrix
          lit("00000000" + "00000000")))))) // width, height (16.16)
        .otherwise(lit(Array.empty[Byte]))
    }
    val moov = mp4Box("6D6F6F76", concat(mvhd +: traks: _*))
    val bodyLen = length(text).cast("long")
    val base = floor(bodyLen / nMdat).cast("long")
    val rem = pmod(bodyLen, nMdat.cast("long"))
    // body slices via STRING substr + cast (the jpegScanPayload/PNG
    // convention: binary substr drops the subtree out of codegen)
    val mdats = (0 until 4).map { i =>
      val start = lit(i.toLong) * base + least(lit(i.toLong), rem) + lit(1L)
      val len = base + when(lit(i.toLong) < rem, 1L).otherwise(0L)
      when(lit(i) < nMdat,
        mp4Box("6D646174",
          text.substr(start.cast("int"), len.cast("int")).cast("binary")))
        .otherwise(lit(Array.empty[Byte]))
    }
    concat(Seq(ftyp, moov) ++ mdats: _*)
  }

  /** documents → MP4/FLAC frame: image/video rows carry ISO-BMFF whose
    * movie timescale/duration, track count, and mdat split vary per row
    * (doc_id-derived); audio rows carry FLAC as in [[codecFrame]]. */
  def mp4Frame(docs: DataFrame): DataFrame = {
    val data = col("text").cast("binary")
    val timescale = (col("doc_id") % 48000 + 1000).cast("int")
    val duration = (col("doc_id") % 100000 + 100).cast("int")
    val nTrak = (col("doc_id") % 3 + 1).cast("int")
    val nMdat = (col("doc_id") % 5 % 4 + 1).cast("int")
    val sampleRate = ((col("doc_id") % 8) * 4000 + 8000).cast("int")
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val mediaType = element_at(array(lit("image"), lit("audio"), lit("video")),
      (col("doc_id") % 3 + 1).cast("int"))
    docs.select(
      col("doc_id"), mediaType.as("media_type"),
      when(mediaType === "audio", flacPayload(sampleRate, channels, data))
        .otherwise(mp4Payload(timescale, duration, nTrak, nMdat,
          col("text"))).as("payload"))
  }

  /** media → movie-header fields + box census + mdat byte totals from
    * the full ISO-BMFF walk — every value re-derived from the BYTES by
    * the native expression (non-BMFF payloads yield nulls, container is
    * read from the ftyp/fLaC magic). */
  def mp4Stats(media: DataFrame): DataFrame = {
    val p = col("payload")
    val container = when(hex(substring(p, 5, 4)) === lit("66747970"), "mp4")
      .when(hex(substring(p, 1, 4)) === lit("664C6143"), "flac")
      .otherwise("unknown")
    val s = graft.functions.MediaFunctions.mp4BoxStats(p)
    media.select(
      col("doc_id"), col("media_type"), container.as("container"),
      element_at(s, 1).cast("int").as("timescale"),
      element_at(s, 2).as("duration"),
      element_at(s, 3).cast("int").as("n_trak"),
      element_at(s, 4).cast("int").as("n_boxes"),
      element_at(s, 5).cast("int").as("n_mdat"),
      element_at(s, 6).as("mdat_bytes_total"))
  }

  /** Feature DSP over the MP4 body — the mdat payloads the box walk
    * locates: per-channel mean/std with a GLOBAL body index spanning
    * mdat boundaries (graft.functions.Mp4MdatChannelStats), so a body
    * split across mdat boxes featurizes bit-identically to the unsplit
    * bytes — the spec pins exactly that against the BMP kernel. FLAC
    * rows run the fixed-offset PCM kernel as in
    * [[extractCodecFeatures]]. */
  def mp4Features(media: DataFrame): DataFrame = {
    val p = col("payload")
    val container = when(hex(substring(p, 5, 4)) === lit("66747970"), "mp4")
      .when(hex(substring(p, 1, 4)) === lit("664C6143"), "flac")
      .otherwise("unknown")
    val feature = when(container === "flac",
        graft.functions.MediaFunctions.pcmStats(p, offset = 42))
      .when(container === "mp4",
        graft.functions.MediaFunctions.mp4MdatChannelStats(p, stride = 3))
    media.select(col("doc_id"), col("media_type"),
      container.as("container"), feature.as("feature"))
  }

  /** media → IHDR fields + chunk census + CRC integrity from the full
    * chunk walk — every value re-derived from the BYTES by the native
    * expression, with the per-chunk CRC-32 recomputed and compared
    * against the stored field (crc_bad = 0 proves build and walk agree;
    * non-PNG payloads yield nulls, container is read from the magic). */
  def pngStats(media: DataFrame): DataFrame = {
    val p = col("payload")
    val container = when(hex(substring(p, 1, 4)) === lit("89504E47"), "png")
      .when(hex(substring(p, 1, 4)) === lit("664C6143"), "flac")
      .otherwise("unknown")
    val s = graft.functions.MediaFunctions.pngChunkStats(p)
    media.select(
      col("doc_id"), col("media_type"), container.as("container"),
      element_at(s, 1).cast("int").as("width"),
      element_at(s, 2).cast("int").as("height"),
      element_at(s, 3).cast("int").as("bit_depth"),
      element_at(s, 4).cast("int").as("color_type"),
      element_at(s, 5).cast("int").as("interlace"),
      element_at(s, 6).cast("int").as("n_chunks"),
      element_at(s, 7).cast("int").as("n_idat"),
      element_at(s, 8).as("idat_bytes_total"),
      element_at(s, 9).cast("int").as("crc_bad"))
  }

  // ---------------------------------------------------------------------
  // EXIF — the JPEG metadata seam: an APP1 segment carrying a TIFF 6.0
  // IFD chain (EXIF 2.3), BUILT by expression with doc-id-varied
  // geometry in BOTH byte orders, re-PARSED by the native IFD walk
  // (functions/JpegExifStats), and GPS-scrubbed structure-preservingly
  // (JpegExifGpsScrub) — the multimodal counterpart of text_pii.
  // ---------------------------------------------------------------------

  /** One JPEG-with-EXIF payload per doc, every field a pure function of
    * doc_id so the census oracle is analytic (the PNG/MP4 discipline):
    * endianness II/MM by doc_id % 2 (EVERY multi-byte integer obeys
    * it); layout A (doc_id % 4 ≠ 3) carries IFD0 (width, orientation,
    * out-of-line Make, Exif + GPS pointers) + Exif IFD (ISO, pixel-x)
    * + GPS IFD (inline ASCII ref, two out-of-line RATIONAL triples);
    * layout B drops GPS but chains a thumbnail IFD1 off IFD0's
    * next-IFD link (so the chain walk, not just the pointer hops, has
    * a live branch). Inline values are LEFT-justified in the 4-byte
    * field per TIFF 6.0 §2 in both byte orders. A COM segment is
    * planted BEFORE the APP1 every seventh doc so the marker hop has
    * a live branch. Whole payload assembled as one hex string →
    * unhex, nothing but codegen'd builtins. */
  def exifPayload(docId: Column): Column = {
    val isBE = pmod(docId, lit(2)) === 1
    def u16(v: Column): Column = when(isBE, beHex(v, 2)).otherwise(leHex(v, 2))
    def u32(v: Column): Column = when(isBE, beHex(v, 4)).otherwise(leHex(v, 4))
    def ent(tag: Int, typ: Int, cnt: Int, valHex: Column): Column =
      concat(u16(lit(tag)), u16(lit(typ)), u32(lit(cnt)), valHex)
    def shortVal(v: Column): Column = concat(u16(v), lit("0000"))
    val width = pmod(docId, lit(640)) + 64
    val orient = pmod(docId, lit(8)) + 1
    val iso = pmod(docId, lit(800)) + 100
    val pixx = pmod(docId, lit(4000)) + 320
    val latd = pmod(docId, lit(90))
    val latm = pmod(docId, lit(60))
    val lond = pmod(docId, lit(180))
    val lonm = pmod(docId * 7, lit(60))
    val makeHex = lit("677261667400") // "graft\0", 6 bytes, order-free
    val header = concat(when(isBE, lit("4D4D")).otherwise(lit("4949")),
      u16(lit(42)), u32(lit(8)))
    val exifIfd = concat(u16(lit(2)),
      ent(0x8827, 3, 1, shortVal(iso)),
      ent(0xA002, 4, 1, u32(pixx)),
      u32(lit(0)))
    // layout A: 8 + (2 + 5*12 + 4) = 74 Make, 80 Exif IFD, 110 GPS IFD,
    // 152/176 the two RATIONAL triples, 200 total
    val tiffA = concat(header,
      u16(lit(5)),
      ent(0x0100, 4, 1, u32(width)),
      ent(0x0112, 3, 1, shortVal(orient)),
      ent(0x010F, 2, 6, u32(lit(74))),
      ent(0x8769, 4, 1, u32(lit(80))),
      ent(0x8825, 4, 1, u32(lit(110))),
      u32(lit(0)),
      makeHex,
      exifIfd,
      u16(lit(3)),
      ent(0x0001, 2, 2, lit("4E000000")), // "N\0" inline, left-justified
      ent(0x0002, 5, 3, u32(lit(152))),
      ent(0x0004, 5, 3, u32(lit(176))),
      u32(lit(0)),
      u32(latd), u32(lit(1)), u32(latm), u32(lit(1)), u32(lit(0)), u32(lit(1)),
      u32(lond), u32(lit(1)), u32(lonm), u32(lit(1)), u32(lit(0)), u32(lit(1)))
    // layout B: 8 + (2 + 4*12 + 4) = 62 Make, 68 Exif IFD, 98 IFD1
    // (thumbnail Compression tag) via the NEXT-IFD link, 116 total
    val tiffB = concat(header,
      u16(lit(4)),
      ent(0x0100, 4, 1, u32(width)),
      ent(0x0112, 3, 1, shortVal(orient)),
      ent(0x010F, 2, 6, u32(lit(62))),
      ent(0x8769, 4, 1, u32(lit(68))),
      u32(lit(98)),
      makeHex,
      exifIfd,
      u16(lit(1)),
      ent(0x0103, 3, 1, shortVal(lit(6))),
      u32(lit(0)))
    val hasGps = pmod(docId, lit(4)) =!= 3
    // APP1 length = 2 (itself) + 6 (Exif id) + TIFF: 208 / 124
    val app1 = concat(lit("FFE1"),
      when(hasGps, beHex(lit(208), 2)).otherwise(beHex(lit(124), 2)),
      lit("457869660000"),
      when(hasGps, tiffA).otherwise(tiffB))
    val com = when(pmod(docId, lit(7)) === 0,
      lit("FFFE000C" + "637261776C2D6D657461")) // COM len 12, "crawl-meta"
      .otherwise(lit(""))
    unhex(concat(lit("FFD8"), com, app1, lit("FFD9")))
  }

  /** documents → (doc_id, payload) EXIF frame. */
  def exifFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), exifPayload(col("doc_id")).as("payload"))

  /** EXIF frame → metadata census, every value re-derived from the
    * BYTES by the native IFD walk: endianness, IFD-chain size, tag
    * census, the four planted tag values, and the GPS half — presence,
    * tag count, first latitude/longitude numerators (the coordinates
    * the scrub face erases). */
  def exifStats(media: DataFrame): DataFrame = {
    val s = graft.functions.MediaFunctions.exifStats(col("payload"))
    media.select(
      col("doc_id"),
      when(element_at(s, 1) === 1L, "MM").otherwise("II").as("endian"),
      element_at(s, 2).as("n_ifds"),
      element_at(s, 3).as("n_tags"),
      element_at(s, 4).as("orientation"),
      element_at(s, 5).as("width_tag"),
      element_at(s, 6).as("iso"),
      element_at(s, 7).as("pixel_x"),
      element_at(s, 8).as("has_gps"),
      element_at(s, 9).as("n_gps_tags"),
      element_at(s, 10).as("gps_lat_num"),
      element_at(s, 11).as("gps_lon_num"))
  }

  /** The scrub face: the SAME census read over GPS-scrubbed payloads —
    * identical except the coordinate numerators read 0 (structure is
    * preserved: tag counts and presence don't move). The spec
    * reconciles scrub ≡ census column-for-column. */
  def exifScrubStats(media: DataFrame): DataFrame =
    exifStats(media.select(col("doc_id"),
      graft.functions.MediaFunctions.exifGpsScrub(col("payload"))
        .as("payload")))
}

package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.HTML_EXTRACT_SQL

/** LLM-pipeline multimodal decode and features. */
object MultimodalQueries {

  /** The WARC construction arithmetic per record (doc d holds d % 4 + 1
    * records over a near-even split of its text; record type and id
    * follow from doc_id and the record index): the d, r and per CTEs
    * every WARC oracle starts from. */
  private val WARC_RECORD_CTES: String =
    """WITH d AS (SELECT doc_id, doc_id % 4 + 1 AS nr,
      |    CAST(length(text) AS BIGINT) AS l FROM documents),
      |r AS (SELECT d.doc_id, d.nr, d.l, i.i
      |  FROM d CROSS JOIN (SELECT unnest(range(4)) AS i) i
      |  WHERE i.i < d.nr),
      |per AS (SELECT doc_id, i,
      |    l // nr + CASE WHEN i < l % nr THEN 1 ELSE 0 END AS chunk,
      |    CASE WHEN i = 0 THEN 'warcinfo'
      |         ELSE CASE (doc_id + i) % 3 WHEN 0 THEN 'response'
      |              WHEN 1 THEN 'request' ELSE 'metadata' END
      |    END AS wtype,
      |    length('<urn:graft:' || CAST(doc_id AS VARCHAR) || '-'
      |      || CAST(i AS VARCHAR) || '>') AS ridlen
      |  FROM r)""".stripMargin

  /** Per-doc record census over [[WARC_RECORD_CTES]] (the agg CTE). */
  private val WARC_AGG_CTES: String =
    WARC_RECORD_CTES + """,
      |agg AS (SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_records,
      |    CAST(sum(CASE WHEN wtype = 'warcinfo' THEN 1 ELSE 0 END) AS BIGINT) AS n_warcinfo,
      |    CAST(sum(CASE WHEN wtype = 'response' THEN 1 ELSE 0 END) AS BIGINT) AS n_response,
      |    CAST(sum(CASE WHEN wtype = 'request' THEN 1 ELSE 0 END) AS BIGINT) AS n_request,
      |    CAST(sum(CASE WHEN wtype = 'metadata' THEN 1 ELSE 0 END) AS BIGINT) AS n_metadata,
      |    CAST(0 AS BIGINT) AS n_other,
      |    CAST(sum(chunk) AS BIGINT) AS payload_bytes,
      |    CAST(sum(65 + length(wtype) + ridlen
      |      + length(CAST(chunk AS VARCHAR))) AS BIGINT) AS header_bytes
      |  FROM per GROUP BY doc_id)""".stripMargin

  /** Each record's pre-payload framing and full size (the sized CTE). */
  private val WARC_SIZED_CTES: String =
    WARC_RECORD_CTES + """,
      |sized AS (SELECT doc_id, i, wtype, chunk,
      |    61 + length(wtype) + ridlen
      |      + length(CAST(chunk AS VARCHAR)) AS pre,
      |    65 + length(wtype) + ridlen
      |      + length(CAST(chunk AS VARCHAR)) + chunk AS rsize
      |  FROM per)""".stripMargin

  /** The analytic WARC census (see the scaladoc at its
    * q_multimodal_warc use) — ONE definition serving both the
    * uncompressed read path (q_multimodal_warc) and the .warc.gz path
    * (q_multimodal_warc_gz), which inflates to the byte-identical
    * stream by the stored-block identity. */
  private val WARC_STATS_SQL: String =
    WARC_AGG_CTES + """
      |SELECT doc_id, n_records, n_warcinfo, n_response, n_request,
      |  n_metadata, n_other, payload_bytes, header_bytes,
      |  payload_bytes + header_bytes AS total_bytes
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Shared per-member gzip geometry CTEs — the construction arithmetic
    * of gzipPayload/gzipFrame (member split, flag cycle, MTIME, block
    * split, header/deflate lengths), used by both gzip oracles. */
  private val GZIP_PER_MEMBER_CTES: String =
    """WITH d AS (SELECT doc_id, doc_id % 4 + 1 AS nm,
      |    CAST(length(text) AS BIGINT) AS l FROM documents),
      |r AS (SELECT d.doc_id, d.nm, d.l, i.i
      |  FROM d CROSS JOIN (SELECT unnest(range(4)) AS i) i
      |  WHERE i.i < d.nm),
      |per AS (SELECT doc_id, i,
      |    l // nm + CASE WHEN i < l % nm THEN 1 ELSE 0 END AS chunk,
      |    CASE (doc_id + i) % 3 WHEN 1 THEN 8 WHEN 2 THEN 4 ELSE 0 END AS flg,
      |    (doc_id + i) % 4 + 1 AS nblk,
      |    (doc_id * 16 + i) % 4294967296 AS mtime
      |  FROM r),
      |sized AS (SELECT doc_id, i, chunk, flg, nblk, mtime,
      |    10 + CASE flg WHEN 8 THEN 9 WHEN 4 THEN 6 ELSE 0 END AS header_len,
      |    5 * nblk + chunk AS deflate_len
      |  FROM per)""".stripMargin

  /** Per-member arithmetic of the WebDataset tar builder: member i of
    * doc d is `<d>.{txt,cls,json}` with body bytes (strlen — BYTE
    * length) text / 1-char label / the json template, mtime
    * (d·16+i) mod 2^33, padded to the 512 block. Shared by the tar
    * census, geometry, sample, and .tar.gz oracles. */
  private val TAR_PER_MEMBER_CTES: String =
    """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS nm,
      |    CAST(strlen(text) AS BIGINT) AS s0,
      |    CAST(strlen(CAST(doc_id % 10 AS VARCHAR)) AS BIGINT) AS s1,
      |    CAST(14 + strlen(CAST(doc_id AS VARCHAR))
      |      + strlen(CAST(strlen(text) AS VARCHAR)) AS BIGINT) AS s2
      |  FROM documents),
      |sized AS (SELECT d.doc_id, d.nm, i.i,
      |    CASE i.i WHEN 0 THEN d.s0 WHEN 1 THEN d.s1 ELSE d.s2 END AS msize,
      |    ((CASE i.i WHEN 0 THEN d.s0 WHEN 1 THEN d.s1 ELSE d.s2 END
      |      + 511) // 512) * 512 AS padded,
      |    (d.doc_id * 16 + i.i) % 8589934592 AS mtime
      |  FROM d CROSS JOIN (SELECT unnest(range(3)) AS i) i
      |  WHERE i.i < d.nm)""".stripMargin

  /** The EXIF census recomputed analytically from the construction
    * (the q_multimodal_mp4 discipline); the scrub face differs only in
    * the two coordinate numerators reading 0. */
  private def EXIF_STATS_SQL(scrubbed: Boolean): String = {
    val lat = if (scrubbed) "0" else "doc_id % 90"
    val lon = if (scrubbed) "0" else "doc_id % 180"
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
       |  CAST(3 AS BIGINT) AS n_ifds,
       |  CAST(CASE WHEN doc_id % 4 <> 3 THEN 10 ELSE 7 END AS BIGINT) AS n_tags,
       |  CAST(doc_id % 8 + 1 AS BIGINT) AS orientation,
       |  CAST(doc_id % 640 + 64 AS BIGINT) AS width_tag,
       |  CAST(doc_id % 800 + 100 AS BIGINT) AS iso,
       |  CAST(doc_id % 4000 + 320 AS BIGINT) AS pixel_x,
       |  CAST(CASE WHEN doc_id % 4 <> 3 THEN 1 ELSE 0 END AS BIGINT) AS has_gps,
       |  CAST(CASE WHEN doc_id % 4 <> 3 THEN 3 ELSE 0 END AS BIGINT) AS n_gps_tags,
       |  CAST(CASE WHEN doc_id % 4 <> 3 THEN $lat ELSE -1 END AS BIGINT)
       |    AS gps_lat_num,
       |  CAST(CASE WHEN doc_id % 4 <> 3 THEN $lon ELSE -1 END AS BIGINT)
       |    AS gps_lon_num
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The independent byte-stream recomputation every codec-features
    * oracle shares. Text is pure ASCII at every SF, so ord(char) IS the
    * body byte: image channel c = body index mod 3, audio sample k = bytes
    * (2k, 2k+1) as signed int16 LE. All sums stay integral (DuckDB widens
    * to HUGEINT, Spark holds longs — same exact integers), with one double
    * division + sqrt at the end, mirroring DspKernel's operation order
    * bit-for-bit. doc_id % 3 = 1 rows carry the `audio` container label,
    * the rest `image`; `headerCols` adds columns after the label. */
  private def mediaFeatureSql(audio: String, image: String, headerCols: String = ""): String =
    s"""WITH flat AS (
      |  SELECT doc_id,
      |    unnest(list_transform(string_split(text, ''), (c, i) -> {'idx': i - 1, 'v': ord(c)})) AS e
      |  FROM documents),
      |b AS (SELECT doc_id, e.idx AS idx, e.v AS v FROM flat),
      |ch AS (
      |  SELECT doc_id, idx % 3 AS c, count(*) AS n,
      |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS ss
      |  FROM b GROUP BY 1, 2),
      |chs AS (
      |  SELECT doc_id,
      |    max(CASE WHEN c = 0 THEN CAST(s AS DOUBLE) / n END) AS mean_b,
      |    max(CASE WHEN c = 1 THEN CAST(s AS DOUBLE) / n END) AS mean_g,
      |    max(CASE WHEN c = 2 THEN CAST(s AS DOUBLE) / n END) AS mean_r,
      |    max(CASE WHEN c = 0 THEN sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) END) AS std_b,
      |    max(CASE WHEN c = 1 THEN sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) END) AS std_g,
      |    max(CASE WHEN c = 2 THEN sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) END) AS std_r
      |  FROM ch GROUP BY doc_id),
      |pair AS (
      |  SELECT doc_id, idx // 2 AS k,
      |    max(CASE WHEN idx % 2 = 0 THEN v END) AS lo,
      |    max(CASE WHEN idx % 2 = 1 THEN v END) AS hi
      |  FROM b GROUP BY 1, 2),
      |smp AS (
      |  SELECT doc_id, k,
      |    lo + 256 * hi - CASE WHEN lo + 256 * hi >= 32768 THEN 65536 ELSE 0 END AS smpv
      |  FROM pair WHERE hi IS NOT NULL),
      |sgn AS (
      |  SELECT doc_id, smpv, lag(smpv) OVER (PARTITION BY doc_id ORDER BY k) AS prev
      |  FROM smp),
      |wavs AS (
      |  SELECT doc_id,
      |    sqrt(CAST(CAST(sum(smpv * smpv) AS BIGINT) AS DOUBLE) / count(*)) AS pcm_rms,
      |    CASE WHEN count(*) < 2 THEN 0.0
      |         ELSE CAST(CAST(sum(CASE WHEN prev IS NOT NULL
      |                AND ((smpv >= 0) <> (prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
      |              / (count(*) - 1) END AS pcm_zcr
      |  FROM sgn GROUP BY doc_id)
      |SELECT d.doc_id AS doc_id,
      |  (['image', 'audio', 'video'])[CAST(d.doc_id % 3 AS INT) + 1] AS media_type,
      |  CASE WHEN d.doc_id % 3 = 1 THEN '$audio' ELSE '$image' END AS container,
      |$headerCols  CASE WHEN d.doc_id % 3 = 1 THEN w.pcm_rms END AS pcm_rms,
      |  CASE WHEN d.doc_id % 3 = 1 THEN w.pcm_zcr END AS pcm_zcr,
      |  CASE WHEN d.doc_id % 3 <> 1 THEN c.mean_b END AS px_mean_b,
      |  CASE WHEN d.doc_id % 3 <> 1 THEN c.mean_g END AS px_mean_g,
      |  CASE WHEN d.doc_id % 3 <> 1 THEN c.mean_r END AS px_mean_r,
      |  CASE WHEN d.doc_id % 3 <> 1 THEN c.std_b END AS px_std_b,
      |  CASE WHEN d.doc_id % 3 <> 1 THEN c.std_g END AS px_std_g,
      |  CASE WHEN d.doc_id % 3 <> 1 THEN c.std_r END AS px_std_r
      |FROM documents d
      |LEFT JOIN chs c ON c.doc_id = d.doc_id
      |LEFT JOIN wavs w ON w.doc_id = d.doc_id
      |ORDER BY doc_id""".stripMargin

  val all: Seq[Query] = Seq(

    // end-to-end byte round-trip: the BMP/WAV headers are BUILT by
    // expression on the write side, PARSED from the raw bytes on the read
    // side, and the body DSP (per-channel mean/std over BMP pixels, RMS +
    // zero-crossing rate over WAV PCM) runs as codegen'd expressions over
    // the same bytes; the oracle recomputes headers AND features
    // independently from the byte stream, so a wrong offset, byte order,
    // or accumulation order fails the hash compare
    Query("q_multimodal", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.mediaFrame(Tables.documents(s, dir)))
        .select(col("doc_id"), col("media_type"), col("container"), col("n_bytes"),
          col("width"), col("height"), col("sample_rate"), col("channels"),
          when(col("container") === "wav", element_at(col("feature"), 1)).as("pcm_rms"),
          when(col("container") === "wav", element_at(col("feature"), 2)).as("pcm_zcr"),
          when(col("container") === "bmp", element_at(col("feature"), 1)).as("px_mean_b"),
          when(col("container") === "bmp", element_at(col("feature"), 2)).as("px_mean_g"),
          when(col("container") === "bmp", element_at(col("feature"), 3)).as("px_mean_r"),
          when(col("container") === "bmp", element_at(col("feature"), 4)).as("px_std_b"),
          when(col("container") === "bmp", element_at(col("feature"), 5)).as("px_std_g"),
          when(col("container") === "bmp", element_at(col("feature"), 6)).as("px_std_r"))
        .orderBy("doc_id"),
      // the BMP/WAV header fields, then the shared byte-stream features
      Oracle(mediaFeatureSql("wav", "bmp", headerCols =
        """  CAST(octet_length(CAST(d.text AS BLOB))
          |       + CASE WHEN d.doc_id % 3 = 1 THEN 44 ELSE 54 END AS INT) AS n_bytes,
          |  CASE WHEN d.doc_id % 3 <> 1 THEN CAST(d.doc_id % 640 + 64 AS INT) END AS width,
          |  CASE WHEN d.doc_id % 3 <> 1 THEN CAST(d.doc_id % 480 + 48 AS INT) END AS height,
          |  CASE WHEN d.doc_id % 3 = 1 THEN CAST((d.doc_id % 8) * 4000 + 8000 AS INT) END AS sample_rate,
          |  CASE WHEN d.doc_id % 3 = 1 THEN CAST(d.doc_id % 2 + 1 AS INT) END AS channels,
          |""".stripMargin))),

    // JPEG/FLAC: container build → marker-walk / bit-group decode, all
    // expression-side; the exposed sof_off pins the walk (its landing
    // offset varies per row with the doc_id-derived COM length)
    Query("q_multimodal_codecs", (s, dir) =>
      Multimodal.decodeCodecHeaders(Multimodal.codecFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // JPEG/FLAC seam: the engine BUILDS real JPEG/FLAC containers then
      // re-derives every field from the BYTES — JPEG via a marker WALK whose
      // landing offset (sof_off) the output exposes, FLAC by unpacking the
      // bit-packed STREAMINFO group. The oracle derives the same fields
      // analytically from the doc_id construction formulas, so a wrong hop
      // length, endianness, or shift/mask fails the hash.
      // JPEG layout: SOI(2) + APP0(18) + COM(4+clen) + SOF0(19) + body + EOI(2)
      //   with clen = doc_id%13+1 → sof_off = 25+clen, n_bytes = 45+clen+len.
      // FLAC layout: magic(4) + blockhdr(4) + STREAMINFO(34) + body → 42+len;
      //   total_samples = len // (channels*2), all operands non-negative.
      Oracle("""SELECT doc_id,
          |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
          |  CASE WHEN doc_id % 3 = 1 THEN 'flac' ELSE 'jpeg' END AS container,
          |  CAST(octet_length(CAST(text AS BLOB))
          |       + CASE WHEN doc_id % 3 = 1 THEN 42
          |              ELSE 45 + (doc_id % 13 + 1) END AS INT) AS n_bytes,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(25 + doc_id % 13 + 1 AS INT) END AS sof_off,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(8 AS INT) END AS sof_precision,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 480 + 48 AS INT) END AS height,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 640 + 64 AS INT) END AS width,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(3 AS INT) END AS n_components,
          |  CASE WHEN doc_id % 3 = 1 THEN CAST((doc_id % 8) * 4000 + 8000 AS INT) END AS sample_rate,
          |  CASE WHEN doc_id % 3 = 1 THEN CAST(doc_id % 2 + 1 AS INT) END AS channels,
          |  CASE WHEN doc_id % 3 = 1 THEN CAST(16 AS INT) END AS bits_per_sample,
          |  CASE WHEN doc_id % 3 = 1 THEN CAST(octet_length(CAST(text AS BLOB))
          |       // ((doc_id % 2 + 1) * 2) AS BIGINT) END AS total_samples
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),

    // codec-body DSP: the JPEG body sits at a per-row WALKED offset and
    // ends before the EOI, so the pixel kernel runs through the
    // dynamic-offset expression; FLAC PCM is the fixed-42 twin of WAV
    Query("q_multimodal_codec_features", (s, dir) =>
      Multimodal.extractCodecFeatures(Multimodal.codecFrame(Tables.documents(s, dir)))
        .select(col("doc_id"), col("media_type"), col("container"),
          when(col("container") === "flac", element_at(col("feature"), 1)).as("pcm_rms"),
          when(col("container") === "flac", element_at(col("feature"), 2)).as("pcm_zcr"),
          when(col("container") === "jpeg", element_at(col("feature"), 1)).as("px_mean_b"),
          when(col("container") === "jpeg", element_at(col("feature"), 2)).as("px_mean_g"),
          when(col("container") === "jpeg", element_at(col("feature"), 3)).as("px_mean_r"),
          when(col("container") === "jpeg", element_at(col("feature"), 4)).as("px_std_b"),
          when(col("container") === "jpeg", element_at(col("feature"), 5)).as("px_std_g"),
          when(col("container") === "jpeg", element_at(col("feature"), 6)).as("px_std_r"))
        .orderBy("doc_id"),
      // same independent byte-stream recomputation as q_multimodal (both
      // codec bodies are exactly the text bytes: the JPEG kernel range
      // [sof+19, len-2) and the FLAC range [42, len) each cover the text
      // and nothing else), with the container split on doc_id % 3
      Oracle(mediaFeatureSql("flac", "jpeg"))),

    // progressive-JPEG table/scan census: DQT/DHT counts and per-scan
    // byte lengths re-derived from the BYTES by the full native marker
    // walk (length-less scan regions terminated by FF-scan with
    // stuffing/RSTn framing) — the oracle derives the same integers
    // analytically from the construction formulas, so a wrong hop, a
    // missed table, or an off-by-one scan boundary fails the hash
    Query("q_multimodal_scan_stats", (s, dir) =>
      Multimodal.scanStats(Multimodal.scanFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // analytic twin of the scan walk: table counts come straight from the
      // doc_id construction formulas; the near-even scan split means
      // total = L, min = L // n, max = (L + n - 1) // n (all operands
      // non-negative). Audio rows are FLAC -> every walk field NULL.
      Oracle("""SELECT doc_id,
          |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
          |  CASE WHEN doc_id % 3 = 1 THEN 'flac' ELSE 'jpeg' END AS container,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 2 + 1 AS INT) END AS n_dqt,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 4 + 1 AS INT) END AS n_dht,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 7 % 3 + 1 AS INT) END AS n_scans,
          |  CASE WHEN doc_id % 3 <> 1
          |       THEN CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) END AS scan_bytes_total,
          |  CASE WHEN doc_id % 3 <> 1
          |       THEN CAST(octet_length(CAST(text AS BLOB)) // (doc_id % 7 % 3 + 1) AS INT)
          |       END AS scan_bytes_min,
          |  CASE WHEN doc_id % 3 <> 1
          |       THEN CAST((octet_length(CAST(text AS BLOB)) + doc_id % 7 % 3)
          |            // (doc_id % 7 % 3 + 1) AS INT)
          |       END AS scan_bytes_max
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),

    // PNG chunk walk: payload BUILT by expression (CRC-32 via Spark's
    // crc32), PARSED back by the native walk with per-chunk CRC
    // recompute — crc_bad = 0 across the corpus certifies the framing
    Query("q_multimodal_png", (s, dir) =>
      Multimodal.pngStats(Multimodal.pngFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the PNG fields recomputed analytically from the generator's
      // parameterization (doc_id-derived geometry, body = the text bytes,
      // 2 + n_idat chunks); a wrong build, walk, or CRC shows as a
      // mismatch — crc_bad must be 0 everywhere
      Oracle("""SELECT doc_id,
          |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
          |  CASE WHEN doc_id % 3 = 1 THEN 'flac' ELSE 'png' END AS container,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 640 + 64 AS INT) END AS width,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 480 + 48 AS INT) END AS height,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(8 AS INT) END AS bit_depth,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 2 * 4 + 2 AS INT) END AS color_type,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 7 % 2 AS INT) END AS interlace,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 5 % 4 + 3 AS INT) END AS n_chunks,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 5 % 4 + 1 AS INT) END AS n_idat,
          |  CASE WHEN doc_id % 3 <> 1
          |       THEN CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) END AS idat_bytes_total,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(0 AS INT) END AS crc_bad
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),

    // EXIF metadata walk: APP1/TIFF IFD chains BUILT by expression in
    // BOTH byte orders (pointer IFDs + a next-IFD thumbnail chain),
    // re-PARSED from the bytes by the native IFD walk — endianness,
    // tag census, and the GPS half the scrub face erases; the oracle
    // recomputes every column analytically from the construction
    Query("q_multimodal_exif", (s, dir) =>
      Multimodal.exifStats(Multimodal.exifFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // every EXIF column analytic from the construction: 3 IFDs both
      // layouts (IFD0+Exif+GPS vs IFD0+Exif+thumbnail-IFD1), tag counts
      // 5+2+3 vs 4+2+1, values straight from the doc_id arithmetic
      Oracle(EXIF_STATS_SQL(scrubbed = false))),

    // ... and the GPS scrub read back through the SAME walk: the
    // multimodal counterpart of text_pii — coordinates zeroed,
    // structure (tags, types, counts, offsets) bit-for-bit preserved
    Query("q_multimodal_exif_scrub", (s, dir) =>
      Multimodal.exifScrubStats(Multimodal.exifFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the scrub face: identical census except the coordinate
      // numerators read 0 — structure preserved is WHAT the oracle pins
      Oracle(EXIF_STATS_SQL(scrubbed = true))),

    // ISO-BMFF (MP4) box walk: size/type-framed payload BUILT by
    // expression (ftyp + moov[mvhd + traks] + mdat split), PARSED back
    // by the native walk — movie timescale/duration out of mvhd, trak
    // census from moov's tiled children, mdat byte totals re-derived
    // from the per-row box geometry
    Query("q_multimodal_mp4", (s, dir) =>
      Multimodal.mp4Stats(Multimodal.mp4Frame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the BMFF fields recomputed analytically from the generator's
      // parameterization: mvhd timescale/duration and the trak/mdat
      // census are doc_id-derived, mdat bytes are exactly the text body,
      // n_boxes = ftyp + moov + n_mdat top-level + mvhd + n_trak children
      Oracle("""SELECT doc_id,
          |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
          |  CASE WHEN doc_id % 3 = 1 THEN 'flac' ELSE 'mp4' END AS container,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 48000 + 1000 AS INT) END AS timescale,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 100000 + 100 AS BIGINT) END AS duration,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 3 + 1 AS INT) END AS n_trak,
          |  CASE WHEN doc_id % 3 <> 1
          |       THEN CAST(3 + doc_id % 5 % 4 + 1 + doc_id % 3 + 1 AS INT) END AS n_boxes,
          |  CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 5 % 4 + 1 AS INT) END AS n_mdat,
          |  CASE WHEN doc_id % 3 <> 1
          |       THEN CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) END AS mdat_bytes_total
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),

    // WARC (ISO 28500) — the container a Common-Crawl-scale text
    // pipeline reads FIRST: version-line + named-header + Content-Length
    // framed records BUILT by expression with doc-id-varied geometry,
    // re-PARSED from the raw bytes by the native record walk; the
    // oracle recomputes the census from the construction arithmetic
    Query("q_multimodal_warc", (s, dir) =>
      Multimodal.warcStats(Multimodal.warcFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the WARC census recomputed ANALYTICALLY from the construction
      // arithmetic (the q_multimodal_mp4 discipline): per doc, nr = id%4+1
      // records split text near-evenly; per-record header bytes are the
      // 65 fixed framing bytes (version line 10, three header names with
      // ": " and CRLFs 36+6, blank line 2, terminator 4, per warcRecord's
      // literals) + the type name + the record id + the decimal width of
      // each Content-Length — never a byte parsed. Shared with
      // q_multimodal_warc_gz: the inflated .warc.gz stream is
      // byte-identical to the uncompressed build (stored-block identity),
      // so ONE analytic census covers both read paths.
      Oracle(WARC_STATS_SQL)),

    // the WARC seam's per-record geometry: one row per record with the
    // payload offset a reader slices by — walk + explode expression-side
    Query("q_multimodal_warc_records", (s, dir) =>
      Multimodal.warcRecords(Multimodal.warcFrame(Tables.documents(s, dir)))
        .orderBy("doc_id", "rec_idx"),
      // per-record geometry recomputed analytically: record i's payload
      // starts after every prior record's full size (a window sum) plus
      // its own pre-payload framing (61 fixed bytes + type + id + the
      // Content-Length decimal width — the 65 above minus the trailing
      // 4-byte terminator, which follows the payload)
      Oracle(WARC_SIZED_CTES + """
          |SELECT doc_id, CAST(i AS BIGINT) AS rec_idx, wtype,
          |  CAST(chunk AS BIGINT) AS content_length,
          |  CAST(coalesce(sum(rsize) OVER (PARTITION BY doc_id ORDER BY i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + pre
          |    AS BIGINT) AS payload_offset
          |FROM sized ORDER BY doc_id, rec_idx""".stripMargin)),

    // the corpus-wide census monoid row (the streaming face's batch
    // twin — warcStateSink serves the same sums)
    Query("q_multimodal_warc_census", (s, dir) =>
      Multimodal.warcCensus(Multimodal.warcStats(
        Multimodal.warcFrame(Tables.documents(s, dir)))),
      // the census monoid row: the per-record analytic arithmetic summed
      // corpus-wide (the built corpus has no malformed files, pinned 0)
      Oracle(WARC_RECORD_CTES + """
          |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_files,
          |  CAST(0 AS BIGINT) AS n_malformed,
          |  CAST(count(*) AS BIGINT) AS n_records,
          |  CAST(sum(CASE WHEN wtype = 'warcinfo' THEN 1 ELSE 0 END) AS BIGINT) AS n_warcinfo,
          |  CAST(sum(CASE WHEN wtype = 'response' THEN 1 ELSE 0 END) AS BIGINT) AS n_response,
          |  CAST(sum(CASE WHEN wtype = 'request' THEN 1 ELSE 0 END) AS BIGINT) AS n_request,
          |  CAST(sum(CASE WHEN wtype = 'metadata' THEN 1 ELSE 0 END) AS BIGINT) AS n_metadata,
          |  CAST(0 AS BIGINT) AS n_other,
          |  CAST(sum(chunk) AS BIGINT) AS payload_bytes,
          |  CAST(sum(65 + length(wtype) + ridlen
          |    + length(CAST(chunk AS VARCHAR))) AS BIGINT) AS header_bytes,
          |  CAST(sum(chunk) + sum(65 + length(wtype) + ridlen
          |    + length(CAST(chunk AS VARCHAR))) AS BIGINT) AS total_bytes
          |FROM per""".stripMargin)),

    // gzip (RFC 1952) — the MEMBER framing real Common-Crawl captures
    // arrive in (one gzip member per record, concatenated): multi-member
    // streams BUILT by expression with doc-id-varied geometry (optional
    // FNAME/FEXTRA fields, per-member MTIME, stored-block splits),
    // re-PARSED from the raw bytes by the native member walk with CRC32
    // + ISIZE recomputed per member; the oracle recomputes the census
    // from the construction arithmetic
    Query("q_multimodal_gzip", (s, dir) =>
      Multimodal.gzipStats(Multimodal.gzipFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the gzip member census recomputed ANALYTICALLY from the
      // construction arithmetic: per doc, nm = id%4+1 members split text
      // near-evenly; member i's optional field cycles none/FNAME/FEXTRA by
      // (id+i)%3 (9 = "m<d>-<i>.txt"+NUL / 6 = XLEN+4 extra bytes), its
      // deflate stream is (id+i)%4+1 stored blocks at 5 framing bytes
      // each, its trailer 8 bytes; crc_ok = n_members because the walker
      // RECOMPUTES CRC32+ISIZE and the builder wrote matching values —
      // never a byte parsed by the oracle
      Oracle(GZIP_PER_MEMBER_CTES + """
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(CASE WHEN flg = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_fname,
        |  CAST(sum(CASE WHEN flg = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_fextra,
        |  CAST(sum(nblk) AS BIGINT) AS n_blocks,
        |  CAST(sum(header_len) AS BIGINT) AS header_bytes,
        |  CAST(sum(deflate_len) AS BIGINT) AS deflate_bytes,
        |  CAST(8 * count(*) AS BIGINT) AS trailer_bytes,
        |  CAST(sum(chunk) AS BIGINT) AS isize_total,
        |  CAST(sum(mtime) AS BIGINT) AS mtime_sum,
        |  CAST(count(*) AS BIGINT) AS crc_ok,
        |  CAST(sum(header_len + deflate_len + 8) AS BIGINT) AS total_bytes
        |FROM sized GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // the gzip seam's per-member geometry: one row per member with the
    // header/deflate lengths an indexer records (the cdx offset
    // discipline) — walk + explode expression-side
    Query("q_multimodal_gzip_members", (s, dir) =>
      Multimodal.gzipMembers(Multimodal.gzipFrame(Tables.documents(s, dir)))
        .orderBy("doc_id", "member_idx"),
      // per-member geometry from the same construction CTEs
      Oracle(GZIP_PER_MEMBER_CTES + """
        |SELECT doc_id, CAST(i AS BIGINT) AS member_idx,
        |  CAST(flg AS BIGINT) AS flg, CAST(mtime AS BIGINT) AS mtime,
        |  CAST(header_len AS BIGINT) AS header_len,
        |  CAST(deflate_len AS BIGINT) AS deflate_len,
        |  CAST(nblk AS BIGINT) AS n_blocks,
        |  CAST(chunk AS BIGINT) AS isize,
        |  CAST(1 AS BIGINT) AS crc_ok
        |FROM sized ORDER BY doc_id, member_idx""".stripMargin)),

    // the full .warc.gz read path: WARC records wrapped in gzip members
    // by expression, inflated back (stored-block identity) and run
    // through the SAME WARC census walk — the oracle is the WARC
    // census's, verbatim, because the inflated stream is byte-identical
    // to the uncompressed build
    Query("q_multimodal_warc_gz", (s, dir) =>
      Multimodal.warcGzStats(Multimodal.warcGzFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the .warc.gz path replays the UNCOMPRESSED census verbatim: the
      // gzip layer inflates to the byte-identical stream (stored-block
      // identity, spec'd), so the analytic WARC arithmetic is the oracle
      // for the compressed read path too
      Oracle(WARC_STATS_SQL)),

    // the cdx seekable-index artifact over the .warc.gz frame: record
    // geometry joined with the gzip member whose inflated span holds
    // the payload start — built once at the Artifacts seam, served
    // from parquet; the oracle re-derives both walks analytically
    Query("q_multimodal_cdx", (s, dir) =>
      Artifacts.cached(s, "cdx", "warcgz", dir)(
        Multimodal.cdxIndex(Multimodal.warcGzFrame(Tables.documents(s, dir))))
        .orderBy("doc_id", "rec_idx"),
      // the cdx index re-derived with no byte parsed: record geometry
      // from the WARC construction arithmetic (the warc_records CTEs),
      // member geometry from the gzip construction arithmetic over the
      // warc stream's total length (near-even byte split, optional-field
      // and block-count cycles), record -> member by the uncompressed
      // span containment the engine's range filter applies
      Oracle(WARC_SIZED_CTES + """,
          |recs AS (SELECT doc_id, CAST(i AS BIGINT) AS rec_idx, wtype,
          |    CAST(chunk AS BIGINT) AS content_length,
          |    CAST(coalesce(sum(rsize) OVER (PARTITION BY doc_id ORDER BY i
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + pre
          |      AS BIGINT) AS payload_offset
          |  FROM sized),
          |tot AS (SELECT doc_id, CAST(sum(rsize) AS BIGINT) AS wl
          |  FROM sized GROUP BY 1),
          |m AS (SELECT t.doc_id, t.wl, t.doc_id % 4 + 1 AS nm, mi.i AS member_idx
          |  FROM tot t CROSS JOIN (SELECT unnest(range(4)) AS i) mi
          |  WHERE mi.i < t.doc_id % 4 + 1),
          |msized AS (SELECT doc_id, member_idx,
          |    wl // nm + CASE WHEN member_idx < wl % nm THEN 1 ELSE 0 END AS mchunk,
          |    10 + CASE (doc_id + member_idx) % 3 WHEN 1 THEN 9 WHEN 2 THEN 6
          |         ELSE 0 END
          |      + 5 * ((doc_id + member_idx) % 4 + 1) AS overhead
          |  FROM m),
          |mfull AS (SELECT doc_id, member_idx, mchunk,
          |    CAST(overhead + mchunk + 8 AS BIGINT) AS member_clen,
          |    CAST(coalesce(sum(overhead + mchunk + 8) OVER (
          |      PARTITION BY doc_id ORDER BY member_idx
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS member_offset,
          |    CAST(coalesce(sum(mchunk) OVER (
          |      PARTITION BY doc_id ORDER BY member_idx
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS member_ustart
          |  FROM msized)
          |SELECT r.doc_id, r.rec_idx, r.wtype, r.content_length,
          |  r.payload_offset, CAST(f.member_idx AS BIGINT) AS member_idx,
          |  f.member_offset, f.member_clen, f.member_ustart
          |FROM recs r JOIN mfull f ON f.doc_id = r.doc_id
          |  AND r.payload_offset >= f.member_ustart
          |  AND r.payload_offset < f.member_ustart + f.mchunk
          |ORDER BY r.doc_id, r.rec_idx""".stripMargin)),

    // the FULL real-capture chain: HTML pages inside WARC response
    // records compressed with actual zlib deflate, read back end to end
    // by OUR inflater -> record walk -> payload slice -> extraction
    // census; the oracle is text_html_extract's verbatim because the
    // round trip is lossless and the inflater is CRC-certified
    Query("q_multimodal_warc_gz_html", (s, dir) =>
      Multimodal.warcGzRealHtmlCensus(Tables.documents(s, dir))
        .orderBy("doc_id"),
      // the real-deflate chain inflates to the byte-identical WARC/HTML
      // stream, so the extraction census oracle serves it verbatim too
      Oracle(HTML_EXTRACT_SQL)),

    // the REAL-capture read path: WARC streams compressed with actual
    // zlib deflate (dynamic/fixed Huffman via java.util.zip.Deflater,
    // level cycling 1-9 by doc) and read back by OUR RFC 1951 inflater.
    // gz_crc_ok = 1 is the built-in certificate: the walker recomputes
    // CRC32 + ISIZE over what IT inflates, so a match proves the
    // inflater against zlib's compressor byte for byte; the WARC census
    // columns then prove the inflated stream parses identically to the
    // uncompressed build (one analytic oracle, no byte ever parsed by
    // DuckDB)
    Query("q_multimodal_gzip_real", (s, dir) =>
      Multimodal.warcGzRealStats(
        Multimodal.warcGzRealFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the REAL-deflate path: the same analytic WARC arithmetic (the
      // round trip is lossless), extended with the gzip certificate
      // columns the construction determines — ONE member, a fixed 10-byte
      // header, isize = the WARC stream's full byte length, and crc_ok =
      // 1 because the walker recomputes CRC32/ISIZE over its own inflate
      // output (Deflater-dependent values never reach the frame)
      Oracle(WARC_AGG_CTES + """
          |SELECT doc_id, CAST(1 AS BIGINT) AS gz_members,
          |  CAST(10 AS BIGINT) AS gz_header_bytes,
          |  payload_bytes + header_bytes AS gz_isize,
          |  CAST(1 AS BIGINT) AS gz_crc_ok,
          |  n_records, n_warcinfo, n_response, n_request,
          |  n_metadata, n_other, payload_bytes, header_bytes,
          |  payload_bytes + header_bytes AS total_bytes
          |FROM agg ORDER BY doc_id""".stripMargin)),

    // POSIX ustar (tar) — the container WebDataset shards multimodal
    // training samples into: per-doc archives BUILT by expression
    // (`<doc_id>.{txt,cls,json}` members, computed header checksums,
    // NUL padding, two zero terminator blocks), re-PARSED from the raw
    // bytes by the native header-chain walk with the checksum
    // RECOMPUTED per member; the oracle re-derives the census from the
    // construction arithmetic
    Query("q_multimodal_tar", (s, dir) =>
      Multimodal.tarStats(Multimodal.tarFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the tar census re-derived from the construction arithmetic:
      // member bodies are the text (BYTE length — strlen, never the char
      // count), the 1-char label, and the json template; checksum/magic
      // verification counts equal n_members by construction (the walker
      // recomputes both from the bytes, certifying the builder)
      Oracle(TAR_PER_MEMBER_CTES + """
          |SELECT doc_id, CAST(nm AS BIGINT) AS n_members,
          |  CAST(sum(msize) AS BIGINT) AS body_bytes,
          |  CAST(sum(padded - msize) AS BIGINT) AS pad_bytes,
          |  CAST(nm AS BIGINT) AS chksum_ok,
          |  CAST(nm AS BIGINT) AS ustar_ok,
          |  CAST(1 AS BIGINT) AS n_txt,
          |  CAST(CASE WHEN nm >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_cls,
          |  CAST(CASE WHEN nm >= 3 THEN 1 ELSE 0 END AS BIGINT) AS n_json,
          |  CAST(0 AS BIGINT) AS n_other,
          |  CAST(sum(mtime) AS BIGINT) AS mtime_sum,
          |  CAST(nm + sum(padded) // 512 + 2 AS BIGINT) AS n_blocks,
          |  CAST(nm * 512 + sum(padded) + 1024 AS BIGINT) AS total_bytes
          |FROM sized GROUP BY doc_id, nm ORDER BY doc_id""".stripMargin)),

    // the tar seam's per-member geometry: one row per member with the
    // (sample key, field, body offset) a WebDataset shard reader seeks
    // by — walk + explode expression-side
    Query("q_multimodal_tar_members", (s, dir) =>
      Multimodal.tarMembers(Multimodal.tarFrame(Tables.documents(s, dir)))
        .orderBy("doc_id", "member_idx"),
      Oracle(TAR_PER_MEMBER_CTES + """
          |SELECT doc_id, CAST(i AS BIGINT) AS member_idx,
          |  CAST(doc_id AS BIGINT) AS sample_id,
          |  CAST(i + 1 AS BIGINT) AS ext_code,
          |  CAST(512 * (i + 1) + COALESCE(SUM(padded) OVER (
          |    PARTITION BY doc_id ORDER BY i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS body_offset,
          |  CAST(msize AS BIGINT) AS size,
          |  CAST(mtime AS BIGINT) AS mtime,
          |  CAST(1 AS BIGINT) AS chksum_ok
          |FROM sized ORDER BY doc_id, member_idx""".stripMargin)),

    // WebDataset SAMPLE reassembly: members grouped by their numeric
    // basename into (key -> {txt, cls, json}) samples — the grouping a
    // shard reader performs before training; aggregation keys only
    Query("q_multimodal_wds", (s, dir) =>
      Multimodal.wdsSamples(Multimodal.tarFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      Oracle(TAR_PER_MEMBER_CTES + """
          |SELECT doc_id, CAST(doc_id AS BIGINT) AS sample_id,
          |  CAST(nm AS BIGINT) AS n_fields,
          |  CAST(1 AS BIGINT) AS has_txt,
          |  CAST(CASE WHEN nm >= 2 THEN 1 ELSE 0 END AS BIGINT) AS has_cls,
          |  CAST(CASE WHEN nm >= 3 THEN 1 ELSE 0 END AS BIGINT) AS has_json,
          |  CAST(sum(msize) AS BIGINT) AS body_bytes
          |FROM sized GROUP BY doc_id, nm ORDER BY doc_id""".stripMargin)),

    // the REAL WebDataset shard read path: the tar archive compressed
    // with actual zlib deflate (level cycling 1-9 by doc) and read back
    // by OUR RFC 1951 inflater, then the SAME ustar walk — gz_crc_ok =
    // 1 is the walker-recomputed certificate; the tar census columns
    // prove the inflated archive parses identically to the uncompressed
    // build (one analytic oracle, no byte ever parsed by DuckDB)
    Query("q_multimodal_tar_gz", (s, dir) =>
      Multimodal.tarGzStats(Multimodal.tarGzFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the .tar.gz path: the same analytic tar arithmetic (the real
      // deflate round trip is lossless), extended with the gzip
      // certificate columns the construction determines — ONE member,
      // isize = the archive's full byte length, crc_ok = 1 because the
      // walker recomputes CRC32/ISIZE over its own inflate output
      Oracle(TAR_PER_MEMBER_CTES + """
          |SELECT doc_id, CAST(1 AS BIGINT) AS gz_members,
          |  CAST(nm * 512 + sum(padded) + 1024 AS BIGINT) AS gz_isize,
          |  CAST(1 AS BIGINT) AS gz_crc_ok,
          |  CAST(nm AS BIGINT) AS n_members,
          |  CAST(sum(msize) AS BIGINT) AS body_bytes,
          |  CAST(sum(padded - msize) AS BIGINT) AS pad_bytes,
          |  CAST(nm AS BIGINT) AS chksum_ok,
          |  CAST(nm AS BIGINT) AS ustar_ok,
          |  CAST(1 AS BIGINT) AS n_txt,
          |  CAST(CASE WHEN nm >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_cls,
          |  CAST(CASE WHEN nm >= 3 THEN 1 ELSE 0 END AS BIGINT) AS n_json,
          |  CAST(sum(mtime) AS BIGINT) AS mtime_sum,
          |  CAST(nm + sum(padded) // 512 + 2 AS BIGINT) AS n_blocks
          |FROM sized GROUP BY doc_id, nm ORDER BY doc_id""".stripMargin)),

    // ZIP (PKWARE APPNOTE) — the other container datasets ship in:
    // WebDataset-trio entries BUILT by expression (stored method,
    // computed CRC32s, central directory, EOCD), re-PARSED by the
    // native three-layer walk with the CRC recomputed per entry and the
    // directory cross-checked field-for-field; the oracle re-derives
    // the census from the construction arithmetic
    Query("q_multimodal_zip", (s, dir) =>
      Multimodal.zipStats(Multimodal.zipFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // zip: the same trio arithmetic with zip framing — entry bytes are
      // 30+nlen+size (local header + name + stored data), directory
      // entries 46+nlen, EOCD 22; DOS dtime is the builder's
      // (doc_id·16+i) mod 2^16 (= the tar mtime mod 2^16); every
      // verification counter equals n_entries by construction
      Oracle(TAR_PER_MEMBER_CTES + """,
          |z AS (SELECT doc_id, nm, i, msize, mtime % 65536 AS dtime,
          |    strlen(CAST(doc_id AS VARCHAR))
          |      + CASE i WHEN 2 THEN 5 ELSE 4 END AS nlen
          |  FROM sized)
          |SELECT doc_id, CAST(nm AS BIGINT) AS n_entries,
          |  CAST(nm AS BIGINT) AS n_stored,
          |  CAST(0 AS BIGINT) AS n_deflated,
          |  CAST(sum(msize) AS BIGINT) AS usize_total,
          |  CAST(sum(msize) AS BIGINT) AS csize_total,
          |  CAST(nm AS BIGINT) AS crc_ok,
          |  CAST(nm AS BIGINT) AS cd_ok,
          |  CAST(sum(dtime) AS BIGINT) AS dtime_sum,
          |  CAST(1 AS BIGINT) AS n_txt,
          |  CAST(CASE WHEN nm >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_cls,
          |  CAST(CASE WHEN nm >= 3 THEN 1 ELSE 0 END AS BIGINT) AS n_json,
          |  CAST(sum(30 + nlen + msize) + sum(46 + nlen) + 22 AS BIGINT)
          |    AS total_bytes
          |FROM z GROUP BY doc_id, nm ORDER BY doc_id""".stripMargin)),

    // the zip seam's per-entry geometry: (sample key, field, header and
    // data offsets, sizes, verification bits) — walk + explode
    // expression-side
    Query("q_multimodal_zip_entries", (s, dir) =>
      Multimodal.zipEntries(Multimodal.zipFrame(Tables.documents(s, dir)))
        .orderBy("doc_id", "entry_idx"),
      Oracle(TAR_PER_MEMBER_CTES + """,
          |z AS (SELECT doc_id, nm, i, msize, mtime % 65536 AS dtime,
          |    strlen(CAST(doc_id AS VARCHAR))
          |      + CASE i WHEN 2 THEN 5 ELSE 4 END AS nlen
          |  FROM sized)
          |SELECT doc_id, CAST(i AS BIGINT) AS entry_idx,
          |  CAST(doc_id AS BIGINT) AS sample_id,
          |  CAST(i + 1 AS BIGINT) AS ext_code,
          |  CAST(0 AS BIGINT) AS method,
          |  CAST(COALESCE(SUM(30 + nlen + msize) OVER (
          |    PARTITION BY doc_id ORDER BY i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS lfh_offset,
          |  CAST(30 + nlen + COALESCE(SUM(30 + nlen + msize) OVER (
          |    PARTITION BY doc_id ORDER BY i
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS data_offset,
          |  CAST(msize AS BIGINT) AS csize,
          |  CAST(msize AS BIGINT) AS usize,
          |  CAST(dtime AS BIGINT) AS dtime,
          |  CAST(1 AS BIGINT) AS crc_ok,
          |  CAST(1 AS BIGINT) AS cd_ok
          |FROM z ORDER BY doc_id, entry_idx""".stripMargin)),

    // the REFERENCE-implementation read path: java.util.zip's
    // ZipOutputStream writes each doc as a DEFLATED entry (streaming
    // data descriptor, level cycling 1-9), and OUR walker + RFC 1951
    // inflater read it back — crc_ok = cd_ok = 1 certify the reader
    // against the JDK's writer; deflater-dependent csize stays out of
    // the frame (one analytic oracle)
    Query("q_multimodal_zip_real", (s, dir) =>
      Multimodal.zipRealStats(Multimodal.zipRealFrame(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      // the JDK-written zip: one deflated .txt entry per doc; usize is
      // the text's BYTE length, the verification bits are the walker's
      // recomputed certificates, dtime 0 is the pinned midnight
      Oracle("""SELECT doc_id, CAST(1 AS BIGINT) AS n_entries,
          |  CAST(0 AS BIGINT) AS n_stored,
          |  CAST(1 AS BIGINT) AS n_deflated,
          |  CAST(strlen(text) AS BIGINT) AS usize_total,
          |  CAST(1 AS BIGINT) AS crc_ok,
          |  CAST(1 AS BIGINT) AS cd_ok,
          |  CAST(0 AS BIGINT) AS dtime_sum,
          |  CAST(1 AS BIGINT) AS n_txt
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // container dispatch: a mixed tar/zip/gzip/WARC ingest directory
    // sniffed by magic bytes (pure built-in hex/substring expressions)
    // and censused by type — the routing pass a heterogeneous 100 TB
    // ingest runs before any walker
    Query("q_multimodal_sniff", (s, dir) =>
      Multimodal.sniffCensus(Multimodal.mixedContainerFrame(
        Tables.documents(s, dir))).orderBy("container"),
      // the dispatch census: routing is doc_id mod 4 by construction, so
      // the per-type counts are pure arithmetic
      Oracle("""SELECT CASE doc_id % 4 WHEN 0 THEN 'tar' WHEN 1 THEN 'zip'
          |    WHEN 2 THEN 'gzip' ELSE 'warc' END AS container,
          |  CAST(count(*) AS BIGINT) AS n_docs
          |FROM documents GROUP BY 1 ORDER BY container""".stripMargin)),

    // the corpus-wide tar/zip census monoids (ONE summary row each —
    // the batch twins of the streaming state sinks, which merge the
    // same row column-wise per micro-batch)
    Query("q_multimodal_tar_census", (s, dir) =>
      Multimodal.tarCensus(Multimodal.tarStats(
        Multimodal.tarFrame(Tables.documents(s, dir)))),
      // the corpus-level sums of the same tar/zip construction arithmetic
      Oracle(TAR_PER_MEMBER_CTES + """
          |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_shards,
          |  CAST(0 AS BIGINT) AS n_malformed,
          |  CAST(count(*) AS BIGINT) AS n_members,
          |  CAST(sum(msize) AS BIGINT) AS body_bytes,
          |  CAST(sum(padded - msize) AS BIGINT) AS pad_bytes,
          |  CAST(count(*) AS BIGINT) AS chksum_ok,
          |  CAST(count(*) AS BIGINT) AS ustar_ok,
          |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_txt,
          |  CAST(sum(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cls,
          |  CAST(sum(CASE WHEN i = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_json,
          |  CAST(0 AS BIGINT) AS n_other,
          |  CAST(sum(mtime) AS BIGINT) AS mtime_sum,
          |  CAST(count(*) + sum(padded) // 512
          |    + 2 * count(DISTINCT doc_id) AS BIGINT) AS n_blocks,
          |  CAST(512 * count(*) + sum(padded)
          |    + 1024 * count(DISTINCT doc_id) AS BIGINT) AS total_bytes
          |FROM sized""".stripMargin)),

    Query("q_multimodal_zip_census", (s, dir) =>
      Multimodal.zipCensus(Multimodal.zipStats(
        Multimodal.zipFrame(Tables.documents(s, dir)))),
      Oracle(TAR_PER_MEMBER_CTES + """,
          |z AS (SELECT doc_id, nm, i, msize, mtime % 65536 AS dtime,
          |    strlen(CAST(doc_id AS VARCHAR))
          |      + CASE i WHEN 2 THEN 5 ELSE 4 END AS nlen
          |  FROM sized)
          |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_archives,
          |  CAST(0 AS BIGINT) AS n_malformed,
          |  CAST(count(*) AS BIGINT) AS n_entries,
          |  CAST(count(*) AS BIGINT) AS n_stored,
          |  CAST(0 AS BIGINT) AS n_deflated,
          |  CAST(sum(msize) AS BIGINT) AS usize_total,
          |  CAST(sum(msize) AS BIGINT) AS csize_total,
          |  CAST(count(*) AS BIGINT) AS crc_ok,
          |  CAST(count(*) AS BIGINT) AS cd_ok,
          |  CAST(sum(dtime) AS BIGINT) AS dtime_sum,
          |  CAST(sum(CASE WHEN i = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_txt,
          |  CAST(sum(CASE WHEN i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cls,
          |  CAST(sum(CASE WHEN i = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_json,
          |  CAST(sum(30 + nlen + msize) + sum(46 + nlen)
          |    + 22 * count(DISTINCT doc_id) AS BIGINT) AS total_bytes
          |FROM z""".stripMargin)),

    // the MP4 seam's FEATURE step: per-channel stats over the
    // concatenated mdat payloads the walk locates (global body index
    // spans mdat boundaries, so the split body featurizes exactly like
    // the unsplit bytes); FLAC rows run the fixed-offset PCM kernel
    Query("q_multimodal_mp4_features", (s, dir) =>
      Multimodal.mp4Features(Multimodal.mp4Frame(Tables.documents(s, dir)))
        .select(col("doc_id"), col("media_type"), col("container"),
          when(col("container") === "flac", element_at(col("feature"), 1)).as("pcm_rms"),
          when(col("container") === "flac", element_at(col("feature"), 2)).as("pcm_zcr"),
          when(col("container") === "mp4", element_at(col("feature"), 1)).as("px_mean_b"),
          when(col("container") === "mp4", element_at(col("feature"), 2)).as("px_mean_g"),
          when(col("container") === "mp4", element_at(col("feature"), 3)).as("px_mean_r"),
          when(col("container") === "mp4", element_at(col("feature"), 4)).as("px_std_b"),
          when(col("container") === "mp4", element_at(col("feature"), 5)).as("px_std_g"),
          when(col("container") === "mp4", element_at(col("feature"), 6)).as("px_std_r"))
        .orderBy("doc_id"),
      // identical byte-stream recomputation for the MP4 seam: the
      // concatenated mdat payloads ARE the text bytes in order (the
      // near-even split preserves the global index), so the channel and
      // PCM math is literally the codec-features oracle with the mp4
      // container label
      Oracle(mediaFeatureSql("flac", "mp4"))),
  )
}

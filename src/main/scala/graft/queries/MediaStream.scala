package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Media
import graft.streaming.EventStreams

/** Oracle-gated queries for the multimodal plumbing and the batch side
  * of the streaming surface (streaming-only paths are pinned by
  * ScalaTest batch/stream equivalence instead — not SQL-expressible).
  */
object MediaStream {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ---------------------------------------------------------------- q34
  /** Media ingest metadata profile: documents reinterpreted as opaque
    * binary payloads, aggregated per kind/format. Exercises the binary
    * column path end-to-end in SQL (encode -> byte length -> agg).
    */
  private def q34(s: SparkSession, dir: String): DataFrame =
    Media.fromDocuments(t(s, dir, "documents"))
      .groupBy(col("kind"), col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(length(col("data"))).as("total_bytes"),
        max(length(col("data"))).as("max_bytes"))
      .orderBy(col("kind"))

  private val q34Sql =
    """SELECT kind, format, count(*) AS n_media,
      |  CAST(sum(octet_length(data)) AS BIGINT) AS total_bytes,
      |  max(octet_length(data)) AS max_bytes
      |FROM (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |    ['png','wav','mp4'][CAST(doc_id % 3 AS INTEGER) + 1] AS format,
      |    encode(text) AS data
      |  FROM documents)
      |GROUP BY kind, format
      |ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Frame sampling audit: 4 evenly-spaced 16-byte slices per video
    * payload; checks offsets and the binary frame content byte-for-byte.
    */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val media = Media.fromDocuments(t(s, dir, "documents"))
      .filter(col("kind") === "video")
    Media.sampleFrames(media, n = 4, frameBytes = 16)
      // the binary path runs end-to-end; the OUTPUT cell is hex text
      // because the driver compare cannot hash blob cells
      .withColumn("frame", hex(col("frame")))
      .orderBy(col("media_id"), col("frame_no"))
  }

  // NB: DuckDB 1.0 cannot substring a BLOB, so the oracle slices the
  // (all-ASCII — byte==char) text and encodes the slice; the Spark plan
  // slices true bytes. ASCII-ness is asserted by the hash compare
  // itself (any multibyte doc would diverge). Both engines' hex() are
  // uppercase.
  private val q35Sql =
    """SELECT media_id, kind, frame_no, "offset", frame FROM (
      |  SELECT media_id, kind, f AS frame_no,
      |    CAST(floor(f * greatest(length(text) - 16, 0) / 3.0) AS INTEGER) AS "offset",
      |    hex(encode(substring(text, CAST(floor(f * greatest(length(text) - 16, 0) / 3.0) AS INTEGER) + 1, 16))) AS frame
      |  FROM (
      |    SELECT doc_id AS media_id, 'video' AS kind, text
      |    FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 2),
      |    (SELECT unnest(range(0, 4)) AS f))
      |ORDER BY media_id, frame_no""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Batch sessionization (30-min inactivity gap) — the batch twin of
    * EventStreams.sessionizeStream; oracle rebuilds it from lag +
    * running-sum window functions.
    */
  private def q36(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionizeBatch(t(s, dir, "events"), gapMin = 30)
      .orderBy(col("user_id"), col("session_no"))

  private val q36Sql =
    """SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN prev_ts IS NULL
      |             OR epoch_us(ts) - epoch_us(prev_ts) > 30*60*1000000 THEN 1
      |           ELSE 0 END AS is_new
      |    FROM (
      |      SELECT user_id, event_id, ts,
      |        lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM events)))
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  // ---------------------------------------------------------------- q44
  /** The mapPartitions decode path end-to-end: documents -> opaque
    * media -> typed Dataset -> stub feature extraction. The stub's
    * features are deterministic byte arithmetic, so even this
    * JVM-side path carries an exact SQL oracle (byte values recovered
    * in DuckDB as ASCII codepoints — all-ASCII corpus, see q35 note).
    */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.fromDocuments(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("width"), col("height"), col("duration_ms"),
        // floor-truncated: sum/len integer ratios can tie at the cut
        // digit where the engines' round() disagree (see q24)
        (floor(col("byte_mean") * lit(1e6)) / lit(1e6)).as("byte_mean"))
      .orderBy(col("media_id"))
  }

  private val q44Sql =
    """SELECT doc_id AS media_id,
      |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST(length(text) % 640 + 1 AS INTEGER) AS width,
      |  CAST(length(text) % 480 + 1 AS INTEGER) AS height,
      |  CAST(length(text) * 10 AS BIGINT) AS duration_ms,
      |  floor(CAST(list_sum(list_transform(range(1, length(text) + 1),
      |    i -> unicode(text[CAST(i AS INTEGER):CAST(i AS INTEGER)]))) AS DOUBLE)
      |    / length(text) * 1e6) / 1e6 AS byte_mean
      |FROM documents
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Batch twin of EventStreams.runningCounts (the transformWithState
    * processor): cumulative per-user event count in (ts, event_id)
    * order. The streaming path is pinned to this by the batch/stream
    * equivalence spec; this row gates the batch shape exactly.
    */
  private def q80(s: SparkSession, dir: String): DataFrame =
    EventStreams.runningCountsBatch(t(s, dir, "events"))
      .orderBy(col("user_id"), col("event_id"))

  private val q80Sql =
    """SELECT user_id, event_id, ts,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_count
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Batch twin of EventStreams.dedupEvents (watermarked exactly-once
    * dedup): in batch the watermark is a no-op and
    * dropDuplicatesWithinWatermark degenerates to distinct-on-keys.
    * Keys only in the output — the non-key columns of a kept row are
    * implementation-chosen on true duplicates, so gating them would
    * gate noise, not semantics.
    */
  private def q81(s: SparkSession, dir: String): DataFrame =
    EventStreams.dedupEvents(t(s, dir, "events"), "1 hour")
      .select(col("user_id"), col("event_id"))
      .orderBy(col("user_id"), col("event_id"))

  private val q81Sql =
    """SELECT DISTINCT user_id, event_id FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // --------------------------------------------------------------- q102
  /** REAL image decode, hash-gated end-to-end: documents become
    * genuine P6 PPM binaries (Media.toPpm), ImageCodec parses them —
    * header tokenization, raster offset, RGB de-interleave, exact
    * integer channel sums — and the oracle recomputes every stat from
    * the source text (all-ASCII corpus: pixel byte == codepoint). Any
    * off-by-one in the parser's raster offset shifts the channel
    * assignment and breaks the hash, so this gate pins the decoder,
    * not just the plumbing. Means are floor-truncated at 1e-6 (q44
    * precedent for integer-ratio ties).
    */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toPpm(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q102Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 8 + 1 AS INTEGER) AS w,
      |    CAST(length(text) % 6 + 1 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, w, h, 3*w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(3*w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, 3*w*h) AS px
      |  FROM d),
      |b AS (
      |  SELECT doc_id, w, h, npx,
      |    list_transform(range(1, npx + 1),
      |      i -> unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS bytes
      |  FROM p)
      |SELECT doc_id AS media_id, 'ppm' AS codec, w AS width, h AS height,
      |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |  CAST(w*h AS BIGINT) AS n_pixels,
      |  floor(list_avg(list_transform(list_filter(range(1, npx + 1), i -> (i-1)%3 = 0),
      |    i -> bytes[CAST(i AS INTEGER)])) * 1e6) / 1e6 AS r_mean,
      |  floor(list_avg(list_transform(list_filter(range(1, npx + 1), i -> (i-1)%3 = 1),
      |    i -> bytes[CAST(i AS INTEGER)])) * 1e6) / 1e6 AS g_mean,
      |  floor(list_avg(list_transform(list_filter(range(1, npx + 1), i -> (i-1)%3 = 2),
      |    i -> bytes[CAST(i AS INTEGER)])) * 1e6) / 1e6 AS b_mean,
      |  CAST(list_min(bytes) AS INTEGER) AS px_min,
      |  CAST(list_max(bytes) AS INTEGER) AS px_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q216
  /** REAL PNG decode, hash-gated end-to-end on crawl-real bytes:
    * documents become genuine PNGs (Media.toPng — zlib DEFLATE, all
    * five row filters, multi-chunk IDAT, CRC'd chunks) over the SAME
    * raster as q102's PPMs, and ImageCodec.decodePngFull streams them
    * back — chunk walk, inflate, unfilter, channel sums. The oracle is
    * q102's, re-deriving every stat from the source text (pixel byte
    * == codepoint), so a wrong filter inversion, a broken CRC walk, or
    * a misfed Inflater breaks the hash. Encoder and decoder are
    * inverse paths (not shared code), and the committed python-zlib
    * fixtures pin the decoder independently in ImageCodecSpec.
    */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toPng(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q216Sql = q102Sql.replace("'ppm' AS codec", "'png' AS codec")

  // --------------------------------------------------------------- q233
  /** REAL lossless-WebP (VP8L) decode — the q216 discipline for the
    * last common web image format: documents become genuine VP8L
    * bitstreams carrying the exact q102 raster, and the oracle never
    * parses WebP — it recomputes every stat from the text (pixel byte
    * == codepoint on the all-ASCII corpus). A broken prefix-code
    * build, a bit-order slip in the LSB-first reader, a canonical-
    * assignment bug, or a mis-walked RIFF chunk all hash-fail. The
    * committed python fixture (independent encoder) pins the decoder
    * separately in ImageCodecSpec.
    */
  private def q233(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toWebp(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q233Sql = q102Sql.replace("'ppm' AS codec", "'webp' AS codec")

  // --------------------------------------------------------------- q249
  /** REAL baseline-TIFF decode, hash-gated end-to-end — the scanned-
    * document format joins the image family: documents become genuine
    * TIFFs (Media.toTiff — both byte orders, multi-strip, compression
    * rotating none / LZW+Predictor2 / PackBits) carrying the exact
    * q102 raster, and TiffCodec walks them back (IFD entries,
    * inline-vs-offset values, strip tables, early-change LZW,
    * horizontal-differencing inversion, PackBits runs). Lossless, so
    * the oracle recomputes every stat from the text; a byte-order
    * slip, a wrong strip boundary, or a predictor bug all hash-fail.
    */
  private def q249(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toTiff(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q249Sql = q102Sql.replace("'ppm' AS codec", "'tiff' AS codec")

  // --------------------------------------------------------------- q226
  /** REAL PNG decode for the OTHER crawl-common shapes — 8-bit
    * PLTE-indexed, 16-bit grayscale, Adam7-interlaced RGB, and
    * 4-bit packed indexed
    * (Media.toPngVariants; four payloads per document): the q216
    * gate extended to the palette lookup, the big-endian 16-bit
    * sample read, the bpp-stride unfilter, and the seven-pass
    * interlaced walk. The oracle recovers every palette index /
    * sample from the source text (byte == codepoint) and applies the
    * documented palette map (i, 2i mod 256, 7i mod 256), the
    * byte·257 16-bit expansion, and the q102 RGB de-interleave — a
    * wrong PLTE offset, a swapped byte pair, a filter stride bug, or
    * a mis-placed Adam7 pass pixel breaks the hash.
    */
  private def q226(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toPngVariants(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q226Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 8 + 1 AS INTEGER) AS w,
      |    CAST(length(text) % 6 + 1 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, w, h, w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, w*h) AS px
      |  FROM d),
      |p3 AS (
      |  SELECT doc_id, w, h, w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(3*w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, 3*w*h) AS px3
      |  FROM d),
      |b AS (
      |  SELECT doc_id, w, h, npx,
      |    list_transform(range(1, npx + 1),
      |      i -> unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS bytes
      |  FROM p),
      |idx AS (
      |  SELECT doc_id*4 AS media_id, 'png' AS codec, w AS width, h AS height,
      |    CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |    CAST(npx AS BIGINT) AS n_pixels,
      |    floor(list_avg(bytes) * 1e6) / 1e6 AS r_mean,
      |    floor(list_avg(list_transform(bytes, v -> (v*2)%256)) * 1e6) / 1e6 AS g_mean,
      |    floor(list_avg(list_transform(bytes, v -> (v*7)%256)) * 1e6) / 1e6 AS b_mean,
      |    CAST(least(list_min(bytes),
      |      list_min(list_transform(bytes, v -> (v*2)%256)),
      |      list_min(list_transform(bytes, v -> (v*7)%256))) AS INTEGER) AS px_min,
      |    CAST(greatest(list_max(bytes),
      |      list_max(list_transform(bytes, v -> (v*2)%256)),
      |      list_max(list_transform(bytes, v -> (v*7)%256))) AS INTEGER) AS px_max
      |  FROM b),
      |g16 AS (
      |  SELECT doc_id*4 + 1 AS media_id, 'png' AS codec, w AS width, h AS height,
      |    CAST(1 AS INTEGER) AS channels, CAST(65535 AS INTEGER) AS maxval,
      |    CAST(npx AS BIGINT) AS n_pixels,
      |    floor(list_avg(list_transform(bytes, v -> v*257)) * 1e6) / 1e6 AS r_mean,
      |    floor(list_avg(list_transform(bytes, v -> v*257)) * 1e6) / 1e6 AS g_mean,
      |    floor(list_avg(list_transform(bytes, v -> v*257)) * 1e6) / 1e6 AS b_mean,
      |    CAST(list_min(bytes) * 257 AS INTEGER) AS px_min,
      |    CAST(list_max(bytes) * 257 AS INTEGER) AS px_max
      |  FROM b),
      |a7 AS (
      |  SELECT doc_id*4 + 2 AS media_id, 'png' AS codec, w AS width, h AS height,
      |    CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |    CAST(npx AS BIGINT) AS n_pixels,
      |    floor(list_avg(list_transform(list_filter(range(0, 3*npx), i -> i%3 = 0),
      |      i -> unicode(px3[CAST(i+1 AS INTEGER):CAST(i+1 AS INTEGER)]))) * 1e6) / 1e6 AS r_mean,
      |    floor(list_avg(list_transform(list_filter(range(0, 3*npx), i -> i%3 = 1),
      |      i -> unicode(px3[CAST(i+1 AS INTEGER):CAST(i+1 AS INTEGER)]))) * 1e6) / 1e6 AS g_mean,
      |    floor(list_avg(list_transform(list_filter(range(0, 3*npx), i -> i%3 = 2),
      |      i -> unicode(px3[CAST(i+1 AS INTEGER):CAST(i+1 AS INTEGER)]))) * 1e6) / 1e6 AS b_mean,
      |    CAST(list_min(list_transform(range(1, 3*npx + 1),
      |      i -> unicode(px3[CAST(i AS INTEGER):CAST(i AS INTEGER)]))) AS INTEGER) AS px_min,
      |    CAST(list_max(list_transform(range(1, 3*npx + 1),
      |      i -> unicode(px3[CAST(i AS INTEGER):CAST(i AS INTEGER)]))) AS INTEGER) AS px_max
      |  FROM p3),
      |idx4 AS (
      |  SELECT doc_id*4 + 3 AS media_id, 'png' AS codec, w AS width, h AS height,
      |    CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |    CAST(npx AS BIGINT) AS n_pixels,
      |    floor(list_avg(list_transform(bytes, v -> v%16)) * 1e6) / 1e6 AS r_mean,
      |    floor(list_avg(list_transform(bytes, v -> (v%16)*2)) * 1e6) / 1e6 AS g_mean,
      |    floor(list_avg(list_transform(bytes, v -> (v%16)*7)) * 1e6) / 1e6 AS b_mean,
      |    CAST(list_min(list_transform(bytes, v -> v%16)) AS INTEGER) AS px_min,
      |    CAST(list_max(list_transform(bytes, v -> (v%16)*7)) AS INTEGER) AS px_max
      |  FROM b)
      |SELECT * FROM idx UNION ALL SELECT * FROM g16 UNION ALL SELECT * FROM a7
      |UNION ALL SELECT * FROM idx4
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q230
  /** REAL GIF decode, hash-gated end-to-end — with q216/q226 (PNG),
    * q227/q229 (JPEG) and the BMP/PPM paths this closes the web image
    * format family: documents become genuine GIF89a payloads
    * (Media.toGif — 16-color palette, text-byte indices, odd docs
    * INTERLACED), and GifCodec walks the LSB-first variable-width LZW
    * stream back. GIF is lossless on indices, so the oracle
    * re-derives every stat from the source text through the
    * documented palette map — a wrong width-growth schedule, a broken
    * KwKwK, a mis-ordered interlace pass, or a bad sub-block refill
    * all hash-fail.
    */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toGif(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q230Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 8 + 1 AS INTEGER) AS w,
      |    CAST(length(text) % 6 + 1 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, w, h, w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, w*h) AS px
      |  FROM d),
      |b AS (
      |  SELECT doc_id, w, h, npx,
      |    list_transform(range(1, npx + 1),
      |      i -> unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS bytes
      |  FROM p)
      |SELECT doc_id AS media_id, 'gif' AS codec, w AS width, h AS height,
      |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |  CAST(npx AS BIGINT) AS n_pixels,
      |  floor(list_avg(list_transform(bytes, v -> v%16)) * 1e6) / 1e6 AS r_mean,
      |  floor(list_avg(list_transform(bytes, v -> (v%16)*2)) * 1e6) / 1e6 AS g_mean,
      |  floor(list_avg(list_transform(bytes, v -> (v%16)*7)) * 1e6) / 1e6 AS b_mean,
      |  CAST(list_min(list_transform(bytes, v -> v%16)) AS INTEGER) AS px_min,
      |  CAST(list_max(list_transform(bytes, v -> (v%16)*7)) AS INTEGER) AS px_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q227
  /** REAL baseline JPEG decode, hash-gated end-to-end on the dominant
    * crawl image format: documents become genuine JPEGs
    * (Media.toJpeg — flat-tile rasters, so unit-quant DC-only blocks
    * make the lossy codec EXACTLY invertible), covering both SOF
    * shapes (even docs grayscale + DRI/RST restarts on every 4th,
    * odd docs 4:2:0 color with the interleaved-MCU walk and chroma
    * upsampling), and JpegCodec streams them back. The oracle
    * re-derives every stat from the source text — a wrong Huffman
    * table build, a broken restart, a mis-walked MCU, or an IDCT
    * rounding bug all hash-fail. Independent python-encoded fixtures
    * pin the decoder separately in ImageCodecSpec.
    */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toJpeg(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q227Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 3 + 1 AS INTEGER) AS tw,
      |    CAST(length(text) % 2 + 1 AS INTEGER) AS th
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, tw, th, tw*th AS nt,
      |    substring(repeat(text, CAST(ceil(CAST(tw*th AS DOUBLE) / len) AS INTEGER)),
      |              1, tw*th) AS px
      |  FROM d),
      |b AS (
      |  SELECT doc_id, tw, th, nt,
      |    list_transform(range(1, nt + 1),
      |      i -> unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS bytes
      |  FROM p)
      |SELECT doc_id AS media_id, 'jpeg' AS codec,
      |  CASE WHEN doc_id % 2 = 0 THEN 8*tw ELSE 16*tw END AS width,
      |  CASE WHEN doc_id % 2 = 0 THEN 8*th ELSE 16*th END AS height,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
      |  CAST(255 AS INTEGER) AS maxval,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 64*nt ELSE 256*nt END AS BIGINT) AS n_pixels,
      |  floor(list_avg(bytes) * 1e6) / 1e6 AS r_mean,
      |  floor(list_avg(bytes) * 1e6) / 1e6 AS g_mean,
      |  floor(list_avg(bytes) * 1e6) / 1e6 AS b_mean,
      |  CAST(list_min(bytes) AS INTEGER) AS px_min,
      |  CAST(list_max(bytes) AS INTEGER) AS px_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q229
  /** PROGRESSIVE JPEG decode (SOF2), hash-gated end-to-end — q227's
    * gate on the multi-scan path real crawls dominantly carry:
    * the same flat-tile rasters arrive through the spectral-selection
    * + successive-approximation scan script (DC first at Al=1 + DC
    * refinement, per-component AC band scans at Al=2, two AC
    * refinement passes), so a broken EOBRUN, a mis-stepped
    * correction-bit walk, a wrong successive-approximation shift, or
    * a mis-ordered scan all hash-fail against the same text-derived
    * oracle. JpegCodecSpec additionally pins progressive ≡ baseline
    * BIT-EXACTLY on arbitrary rasters (successive approximation
    * transmits every coefficient bit), which carries the committed
    * python fixtures' independent pinning over to this path.
    */
  private def q229(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toJpegProgressive(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q229Sql = q227Sql

  // --------------------------------------------------------------- q103
  /** REAL audio decode, hash-gated end-to-end: documents become
    * genuine RIFF/WAVE PCM binaries (Media.toWav — full container
    * with fmt and data chunks) and AudioCodec parses them — chunk
    * walk, fmt fields, sample scan — while the oracle recomputes
    * every stat from the source text (sample byte == codepoint).
    * A wrong chunk offset or a misread sample rate breaks the hash;
    * duration is integer-exact (frames*1000/rate in both engines'
    * integer division). Means floor-truncated at 1e-6 (q44 idiom).
    */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toWav(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeAudio(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("channels"),
        col("sample_rate"), col("bits"), col("n_frames"), col("duration_ms"),
        trunc6(col("mean")).as("mean"), col("s_min"), col("s_max"))
      .orderBy(col("media_id"))
  }

  private val q103Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 4000 + 4000 AS INTEGER) AS rate
      |  FROM documents WHERE length(text) > 0),
      |b AS (
      |  SELECT doc_id, rate, len,
      |    list_transform(range(1, len + 1),
      |      i -> unicode(text[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS samples
      |  FROM d)
      |SELECT doc_id AS media_id, 'wav' AS codec, CAST(1 AS INTEGER) AS channels,
      |  rate AS sample_rate, CAST(8 AS INTEGER) AS bits,
      |  CAST(len AS BIGINT) AS n_frames,
      |  CAST(len * 1000 // rate AS BIGINT) AS duration_ms,
      |  floor(list_avg(samples) * 1e6) / 1e6 AS mean,
      |  CAST(list_min(samples) AS INTEGER) AS s_min,
      |  CAST(list_max(samples) AS INTEGER) AS s_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q237
  /** REAL FLAC decode, hash-gated end-to-end — the lossless-audio
    * sibling of q216's PNG gate: documents become genuine FLAC
    * streams (Media.toFlac — fixed predictors rotating over all five
    * orders, Rice residuals, CRC-8/CRC-16-checked frames) carrying
    * the exact q103 sample stream, and FlacCodec walks them back.
    * FLAC is lossless, so the oracle is q103's: every stat re-derived
    * from the text (sample == codepoint). A broken Rice zigzag, a
    * wrong fixed-predictor recurrence, a bit-order slip in the
    * MSB-first reader, or a CRC walk bug all hash-fail. The committed
    * python fixture (independent encoder) pins the decoder separately
    * in FlacCodecSpec.
    */
  private def q237(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toFlac(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeAudio(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("channels"),
        col("sample_rate"), col("bits"), col("n_frames"), col("duration_ms"),
        trunc6(col("mean")).as("mean"), col("s_min"), col("s_max"))
      .orderBy(col("media_id"))
  }

  private val q237Sql = q103Sql.replace("'wav' AS codec", "'flac' AS codec")

  // --------------------------------------------------------------- q240
  /** MP3 census metadata, hash-gated end-to-end: documents become
    * genuine ID3v2.3-tagged MPEG1 Layer III containers (Media.toMp3 —
    * bitrate index rotating over the full 14-entry table, all three
    * MPEG1 sample rates) and Mp3Meta walks them back — syncsafe tag
    * size, text-frame decode, frame-length arithmetic, frame count.
    * Every field is a pure function of (doc_id, len), so the oracle
    * recomputes them all without parsing a byte.
    */
  private def q240(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toMp3(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeMp3Meta(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("version"), col("layer"),
        col("bitrate_kbps"), col("sample_rate"), col("channels"),
        col("n_frames"), col("duration_ms"), col("vbr"), col("title"), col("artist"))
      .orderBy(col("media_id"))
  }

  private val q240Sql =
    """SELECT doc_id AS media_id, 'mpeg1' AS version, CAST(3 AS INTEGER) AS layer,
      |  [32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(doc_id % 14 AS INTEGER) + 1] AS bitrate_kbps,
      |  [44100,48000,32000][CAST(doc_id % 3 AS INTEGER) + 1] AS sample_rate,
      |  CAST(1 AS INTEGER) AS channels,
      |  CAST(length(text) % 7 + 1 AS BIGINT) AS n_frames,
      |  CAST((length(text) % 7 + 1) * 1152 * 1000
      |    // ([44100,48000,32000][CAST(doc_id % 3 AS INTEGER) + 1]) AS BIGINT) AS duration_ms,
      |  FALSE AS vbr,
      |  'doc ' || doc_id AS title,
      |  'src ' || (doc_id % 7) AS artist
      |FROM documents WHERE length(text) > 0
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q243
  /** Ogg census metadata (Opus + Vorbis), hash-gated end-to-end:
    * documents become genuine Ogg streams (Media.toOgg — CRC'd pages,
    * real OpusHead / Vorbis ID packets, linear granule schedule) and
    * OggMeta walks them back — capture sync, the unreflected Ogg
    * CRC-32 over every page, lacing, first-packet parse, terminal-
    * granule duration. Every field is a pure function of
    * (doc_id, len) so the oracle recomputes them all; a CRC slip, a
    * lacing bug, or a wrong granule pick desyncs and hash-fails.
    */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toOgg(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeOggMeta(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("channels"),
        col("sample_rate"), col("pre_skip"), col("n_pages"),
        col("last_granule"), col("duration_ms"))
      .orderBy(col("media_id"))
  }

  private val q243Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0)
      |SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
      |  CAST((doc_id // 2) % 2 + 1 AS INTEGER) AS channels,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 48000
      |            ELSE len % 4000 + 4000 END AS INTEGER) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN len % 1000 ELSE 0 END AS INTEGER) AS pre_skip,
      |  CAST(len % 5 + 2 AS BIGINT) AS n_pages,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN (len % 1000) + len * 48
      |            ELSE len * 3 END AS BIGINT) AS last_granule,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN len
      |            ELSE (len * 3 * 1000) // (len % 4000 + 4000) END AS BIGINT) AS duration_ms
      |FROM d
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q251
  /** MP4/ISO-BMFF container metadata (Mp4Meta), hash-gated
    * end-to-end: documents become genuine MP4 containers (Media.toMp4
    * — ftyp, v0/v1 mvhd+tkhd alternating with duration parity, per-
    * track hdlr/stsd, trailing mdat) and the box walk recovers brand,
    * movie duration, track count, presentation geometry, and codec
    * fourccs WITHOUT touching a sample (the ffprobe rule — see the
    * VideoCodec scaladoc for the container-vs-y4m split). Every field
    * is a pure function of (doc_id, len) so the oracle recomputes
    * them all; a box-bound slip, a FullBox version confusion, or a
    * 16.16 fixed-point misread all hash-fail.
    */
  private def q251(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toMp4(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeMp4Meta(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("brand"), col("minor_version"),
        col("timescale"), col("duration_ms"), col("n_tracks"),
        col("width"), col("height"), col("video_codec"), col("audio_codec"))
      .orderBy(col("media_id"))
  }

  private val q251Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0)
      |SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
      |  CAST(doc_id % 512 AS BIGINT) AS minor_version,
      |  CAST((len % 3 + 1) * 1000 AS BIGINT) AS timescale,
      |  CAST(len % 4000 + 40 AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
      |  CAST(len % 320 + 16 AS INTEGER) AS width,
      |  CAST(len % 240 + 16 AS INTEGER) AS height,
      |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS video_codec,
      |  CASE WHEN doc_id % 3 = 0 THEN 'mp4a' ELSE '' END AS audio_codec
      |FROM d
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q259
  /** FRAGMENTED MP4 metadata (r20 — the DASH/CMAF moof/traf walk),
    * hash-gated end-to-end: documents become genuine fragmented
    * movies (Media.toMp4Fragmented — init segment with mvhd duration
    * 0, mdhd media timescale, mvex/trex defaults + optional mehd,
    * then len%3+2 moof/mdat pairs) and the box walk recovers the
    * duration from all three spec sources — per-sample trun durations
    * on odd docs, tfhd/trex count x default on even, mehd winning on
    * doc_id%4==0 — plus the fragment count and the fragmented flag.
    * Every field is a pure function of (doc_id, len) so the oracle
    * recomputes them all; a tfhd optional-field stride slip, a trex
    * fallback miss, or a trun sample-table misread all hash-fail.
    */
  private def q259(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toMp4Fragmented(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeMp4Meta(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("brand"), col("minor_version"),
        col("timescale"), col("duration_ms"), col("n_tracks"),
        col("width"), col("height"), col("video_codec"), col("audio_codec"),
        col("fragmented"), col("n_fragments"))
      .orderBy(col("media_id"))
  }

  private val q259Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0)
      |SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'dash' ELSE 'iso6' END AS brand,
      |  CAST(doc_id % 256 AS BIGINT) AS minor_version,
      |  CAST((len % 3 + 1) * 1000 AS BIGINT) AS timescale,
      |  CAST(len % 4000 + 40 AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
      |  CAST(len % 320 + 16 AS INTEGER) AS width,
      |  CAST(len % 240 + 16 AS INTEGER) AS height,
      |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS video_codec,
      |  CASE WHEN doc_id % 3 = 0 THEN 'mp4a' ELSE '' END AS audio_codec,
      |  TRUE AS fragmented,
      |  CAST(len % 3 + 2 AS INTEGER) AS n_fragments
      |FROM d
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q263
  /** STANDALONE DASH media segments (r20 — q259's sibling for the
    * files an origin actually serves in volume): documents become
    * moov-LESS styp + sidx + moof/mdat segments and the walk must
    * take the brand from styp and the duration from the sidx's
    * summed reference subsegment_durations at the sidx's own
    * timescale — track fields read empty (they live in the init
    * segment). Both trun layouts appear, and the even-doc
    * count x default form deliberately has NO trex anywhere: a
    * decoder that still insists on the trun-sum path (or on moov)
    * fails every row. Every field is a pure function of
    * (doc_id, len); the oracle recomputes them all.
    */
  private def q263(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toMp4Segment(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeMp4Meta(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("brand"), col("minor_version"),
        col("timescale"), col("duration_ms"), col("n_tracks"),
        col("fragmented"), col("n_fragments"))
      .orderBy(col("media_id"))
  }

  private val q263Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0)
      |SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'msdh' ELSE 'msix' END AS brand,
      |  CAST(doc_id % 64 AS BIGINT) AS minor_version,
      |  CAST((len % 3 + 1) * 1000 AS BIGINT) AS timescale,
      |  CAST(len % 4000 + 40 AS BIGINT) AS duration_ms,
      |  CAST(0 AS INTEGER) AS n_tracks,
      |  TRUE AS fragmented,
      |  CAST(len % 3 + 2 AS INTEGER) AS n_fragments
      |FROM d
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q253
  /** Media-layer PII: EXIF GPS surfacing + in-place redaction
    * (operators.ExifGps) — Quality.piiRedact's image sibling, over
    * BOTH carriers since r20: even docs are JPEGs (GPS in the Exif
    * APP1 TIFF structure), odd docs bare TIFFs (the same GPS IFD
    * pointer in the file's own IFD0). Every third doc carries the
    * deterministic D-M-S rationals; the query extracts the
    * coordinates (integer arcseconds), strips them, and PROVES the
    * redaction: gps_after_strip must read false while the SAME
    * payload still decodes — the jpeg's rotated orientation tag and
    * both carriers' pixel counts survive the zeroing untouched.
    * Every field is a pure function of (doc_id, len), so the oracle
    * recomputes coordinates, refs, and the post-strip state.
    */
  private def q253(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.ExifGps
    val docs = t(s, dir, "documents")
    val media = Media.toJpeg(docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      .union(Media.toTiff(docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
      .as[Media.MediaRecord]
    media.map { m =>
        val before = ExifGps.extract(m.data)
        val (scrubbed, stripped) = ExifGps.strip(m.data)
        val after = ExifGps.extract(scrubbed)
        val img = graft.operators.ImageCodec.decode(scrubbed).toOption
        (m.media_id, m.format, before.isDefined,
          before.map(_.latRef).getOrElse(""), before.map(_.lonRef).getOrElse(""),
          before.map(_.latArcsec).getOrElse(0L), before.map(_.lonArcsec).getOrElse(0L),
          stripped, after.isDefined,
          img.map(_.nPixels).getOrElse(0L),
          img.map(_.orientation).getOrElse(0))
      }
      .toDF("media_id", "container", "has_gps", "lat_ref", "lon_ref",
        "lat_arcsec", "lon_arcsec", "stripped", "gps_after_strip",
        "px_after_strip", "ori_after_strip")
      .orderBy(col("media_id"))
  }

  private val q253Sql =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'tiff' END AS container,
      |  doc_id % 3 = 0 AS has_gps,
      |  CASE WHEN doc_id % 3 = 0
      |    THEN (CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END)
      |    ELSE '' END AS lat_ref,
      |  CASE WHEN doc_id % 3 = 0
      |    THEN (CASE WHEN (doc_id // 2) % 2 = 0 THEN 'E' ELSE 'W' END)
      |    ELSE '' END AS lon_ref,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 324000 ELSE 0 END
      |    AS BIGINT) AS lat_arcsec,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id * 7) % 648000 ELSE 0 END
      |    AS BIGINT) AS lon_arcsec,
      |  doc_id % 3 = 0 AS stripped,
      |  FALSE AS gps_after_strip,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 64 * (length(text) % 3 + 1) * (length(text) % 2 + 1)
      |    ELSE (length(text) % 8 + 1) * (length(text) % 6 + 1) END
      |    AS BIGINT) AS px_after_strip,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 + 1 ELSE 1 END
      |    AS INTEGER) AS ori_after_strip
      |FROM documents WHERE length(text) > 0
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q111
  /** REAL video decode, hash-gated end-to-end: documents become
    * genuine YUV4MPEG2 streams (Media.toY4m — spec-exact stream
    * header, per-frame FRAME markers, C444 planar pictures) and
    * VideoCodec parses them — header tag walk, frame marker scan,
    * plane geometry, luma sample pass — while the oracle recomputes
    * every stat from the source text (all-ASCII corpus: sample byte ==
    * codepoint). A misparsed header tag, a wrong frame offset, or bad
    * Y-plane geometry breaks the hash. Duration is integer-exact
    * (frames*1000*den/num in both engines' integer division); luma
    * mean floor-truncated at 1e-6 (q44 idiom). Compressed codecs stay
    * byte-profiled by design — see Media scaladoc.
    */
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toY4m(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeVideo(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("fps_num"), col("fps_den"), col("colorspace"), col("n_frames"),
        col("duration_ms"), trunc6(col("y_mean")).as("y_mean"),
        col("y_min"), col("y_max"))
      .orderBy(col("media_id"))
  }

  private val q111Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 6 + 1 AS INTEGER) AS w,
      |    CAST(length(text) % 4 + 1 AS INTEGER) AS h,
      |    CAST(length(text) % 3 + 1 AS INTEGER) AS nf
      |  FROM documents WHERE length(text) > 0),
      |r AS (
      |  SELECT doc_id, w, h, nf, 3*w*h AS fsz,
      |    substring(repeat(text, CAST(ceil(CAST(3*w*h*nf AS DOUBLE) / len) AS INTEGER)),
      |              1, 3*w*h*nf) AS rep
      |  FROM d),
      |y AS (
      |  SELECT doc_id, w, h, nf,
      |    array_to_string(list_transform(range(0, nf),
      |      k -> substring(rep, CAST(k*fsz + 1 AS INTEGER), w*h)), '') AS ystr
      |  FROM r),
      |s AS (
      |  SELECT doc_id, w, h, nf,
      |    list_transform(range(1, length(ystr) + 1),
      |      i -> unicode(ystr[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS ys
      |  FROM y)
      |SELECT doc_id AS media_id, 'y4m' AS codec, w AS width, h AS height,
      |  CAST(25 AS INTEGER) AS fps_num, CAST(1 AS INTEGER) AS fps_den,
      |  'C444' AS colorspace, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(nf * 40 AS BIGINT) AS duration_ms,
      |  floor(list_avg(ys) * 1e6) / 1e6 AS y_mean,
      |  CAST(list_min(ys) AS INTEGER) AS y_min,
      |  CAST(list_max(ys) AS INTEGER) AS y_max
      |FROM s
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q201
  /** Scene-cut detection (Media.sceneCuts over VideoCodec.sceneDeltas)
    * on the q111 y4m corpus — the video-curation operator that runs
    * BEFORE frame sampling (sample within shots, not across them):
    * per frame transition the exact mean absolute luma delta in ppm
    * of 255, flagged a cut at 10%. Single-frame videos emit nothing
    * (nf = 1 ⇔ len % 3 = 0 — both sides drop them identically). The
    * oracle re-derives every per-pixel |Δ| from the source text bytes
    * (all-ASCII corpus: byte == codepoint, the q111 rule).
    */
  private def q201(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toY4m(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.sceneCuts(media, thresholdPpm = 100000L).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("frame"), col("delta_ppm"), col("is_cut"))
      .orderBy(col("media_id"), col("frame"))
  }

  private val q201Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 6 + 1 AS INTEGER) AS w,
      |    CAST(length(text) % 4 + 1 AS INTEGER) AS h,
      |    CAST(length(text) % 3 + 1 AS INTEGER) AS nf
      |  FROM documents WHERE length(text) > 0),
      |r AS (
      |  SELECT doc_id, w, h, nf, 3*w*h AS fsz,
      |    substring(repeat(text, CAST(ceil(CAST(3*w*h*nf AS DOUBLE) / len) AS INTEGER)),
      |              1, 3*w*h*nf) AS rep
      |  FROM d),
      |tr AS (SELECT doc_id, w, h, fsz, rep, unnest(range(1, nf)) AS k
      |       FROM r WHERE nf > 1),
      |px AS (SELECT doc_id, w, h, k,
      |    substring(rep, CAST((k-1)*fsz + 1 AS INTEGER), w*h) AS pa,
      |    substring(rep, CAST(k*fsz + 1 AS INTEGER), w*h) AS pb
      |  FROM tr),
      |dl AS (SELECT doc_id, k, w, h,
      |    list_sum(list_transform(range(1, w*h + 1), i -> abs(
      |      unicode(pb[CAST(i AS INTEGER):CAST(i AS INTEGER)]) -
      |      unicode(pa[CAST(i AS INTEGER):CAST(i AS INTEGER)])))) AS s
      |  FROM px)
      |SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame,
      |  CAST((s * 1000000) // (255 * w * h) AS BIGINT) AS delta_ppm,
      |  (s * 1000000) // (255 * w * h) >= 100000 AS is_cut
      |FROM dl
      |ORDER BY media_id, frame""".stripMargin

  // --------------------------------------------------------------- q202
  /** Silence/VAD segmentation (Media.silenceSegments over
    * AudioCodec.windowEnergies) on the q103 WAV corpus — the audio-
    * curation twin of q201 (trim dead air before transcription):
    * 256-sample windows, per window the exact mean |v − 128| in ppm
    * of the 127 full scale, silent under 25%. ASCII sample bytes make
    * both verdict classes fire (lowercase ≈ 47–244k ppm, uppercase ≈
    * 299–496k). The oracle re-derives every window from the source
    * text codepoints (the q111 byte==codepoint rule), partial last
    * window included.
    */
  private def q202(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toWav(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.silenceSegments(media, winSamples = 256, thresholdPpm = 250000L).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("window"), col("n_samples"),
        col("dev_ppm"), col("silent"))
      .orderBy(col("media_id"), col("window"))
  }

  private val q202Sql =
    """WITH d AS (SELECT doc_id, text, length(text) AS len
      |           FROM documents WHERE length(text) > 0),
      |w AS (SELECT doc_id, text, unnest(range((len + 255) // 256)) AS k FROM d),
      |sl AS (SELECT doc_id, k,
      |         substring(text, CAST(k*256 + 1 AS INTEGER), 256) AS seg FROM w),
      |en AS (SELECT doc_id, k, length(seg) AS n,
      |    list_sum(list_transform(range(1, length(seg) + 1),
      |      i -> abs(unicode(seg[CAST(i AS INTEGER):CAST(i AS INTEGER)]) - 128))) AS s
      |  FROM sl)
      |SELECT doc_id AS media_id, CAST(k AS BIGINT) AS "window",
      |  CAST(n AS BIGINT) AS n_samples,
      |  CAST((s * 1000000) // (127 * n) AS BIGINT) AS dev_ppm,
      |  (s * 1000000) // (127 * n) < 250000 AS silent
      |FROM en
      |ORDER BY media_id, "window"""".stripMargin

  // --------------------------------------------------------------- q219
  /** Mixed-format media census — the production shape a crawl's media
    * column actually has (never one format): one table mixing real
    * PPM / PNG / JPEG / GIF / WAV / y4m / image-bearing-PDF payloads
    * and undecodable blobs (doc_id % 17 routes each doc through one
    * adapter; blobs get a space prefix so no codec magic can fire),
    * swept by all three typed media decoders PLUS the PDF extractor
    * (r18: the pdf bucket embeds a /Subtype /Image XObject whose
    * decoded pixels feed px_sum — the census now sees inside PDFs).
    * The census pins, per format: row count, which decoder accepted
    * it (images must reject audio bytes and vice versa — the
    * cross-format REJECTION is the point), the error-channel
    * complement, and integer content checksums (pixel counts, exact
    * truncating durations). The oracle re-derives every number from
    * the documents table alone — adapter geometry, duration rules,
    * and the all-errors blob row included.
    */
  private def q219(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    def bucket(k: Int) = docs.filter(pmod(col("doc_id"), lit(17)) === k)
    val mixed = Media.toPpm(bucket(0))
      .union(Media.toPng(bucket(1)))
      .union(Media.toWav(bucket(2)))
      .union(Media.toY4m(bucket(3)))
      .union(bucket(4).filter(length(col("text")) > 0).select(
        col("doc_id").as("media_id"), lit("blob").as("kind"),
        lit("bin").as("format"),
        encode(concat(lit(" "), col("text")), "UTF-8").as("data")))
      .union(Media.toJpeg(bucket(5)))
      .union(Media.toGif(bucket(6)))
      .union(graft.sources.Pdf.toPdfsWithImages(bucket(7)))
      .union(Media.toWebp(bucket(8)))
      // r18 continuation: the census grows the lossless-audio,
      // archive, lossy-audio-container, scanned-image, Ogg, and Avro
      // families; r19 adds the dominant crawl video container —
      // 17 buckets, every decoder in ONE pass (bucket 10 mixes
      // zip/tar by doc parity, 13 opus/vorbis, 14 all three Avro
      // codecs, 15 MP4 and 16 WebM box/EBML-walk metadata — the
      // format column separates them)
      .union(Media.toFlac(bucket(9)))
      .union(graft.sources.Archive.toArchives(bucket(10)))
      .union(Media.toMp3(bucket(11)))
      .union(Media.toTiff(bucket(12)))
      .union(Media.toOgg(bucket(13)))
      .union(graft.sources.Avro.toAvro(bucket(14)))
      // r20: the mp4 bucket now mixes layouts — every fifth doc is a
      // FRAGMENTED (DASH/CMAF moof/traf) movie with the same surfaced
      // duration, so the census video bucket accepts both and the
      // n_frag column splits the family
      .union(Media.toMp4(bucket(15).filter(pmod(col("doc_id"), lit(5)) =!= 0)))
      .union(Media.toMp4Fragmented(bucket(15).filter(pmod(col("doc_id"), lit(5)) === 0)))
      .union(Media.toWebm(bucket(16)))
      .as[Media.MediaRecord]

    // ONE pass: each record meets all typed decoders AND the pdf /
    // archive / mp3 sniffs in a single mapPartitions (cross-format
    // REJECTION included) — no re-scan of the payload bytes per
    // modality, no media_id re-joins; the only exchange left is the
    // format rollup
    val per = mixed.map { m =>
      val img = graft.operators.ImageCodec.decode(m.data).toOption
      val aud = (if (graft.operators.FlacCodec.sniff(m.data))
        graft.operators.FlacCodec.decode(m.data)
      else graft.operators.AudioCodec.decode(m.data)).toOption
      val vid = graft.operators.VideoCodec.decode(m.data).toOption
      val pdf = if (graft.sources.Pdf.sniff(m.data))
        graft.sources.Pdf.extractText(m.data).toOption else None
      val mp3 = if (graft.operators.Mp3Meta.sniff(m.data))
        graft.operators.Mp3Meta.decode(m.data).toOption else None
      val ogg = if (graft.operators.OggMeta.sniff(m.data))
        graft.operators.OggMeta.decode(m.data).toOption else None
      val mp4 = if (graft.operators.Mp4Meta.sniff(m.data))
        graft.operators.Mp4Meta.decode(m.data).toOption else None
      val webm = if (graft.operators.WebmMeta.sniff(m.data))
        graft.operators.WebmMeta.decode(m.data).toOption else None
      val gps = graft.operators.ExifGps.hasGps(m.data)
      val arc: Option[Long] = // containers: entry/record counts
        if (graft.sources.Archive.sniffZip(m.data))
          graft.sources.Archive.readZip(m.data).toOption.map(_.size.toLong)
        else if (graft.sources.Archive.sniffTar(m.data))
          graft.sources.Archive.readTar(m.data).toOption.map(_.size.toLong)
        else if (graft.sources.Avro.sniff(m.data))
          graft.sources.Avro.read(m.data).toOption.map(_.nRecords)
        else None
      (m.format,
        img.isDefined, aud.isDefined || mp3.isDefined || ogg.isDefined,
        vid.isDefined || mp4.isDefined || webm.isDefined,
        pdf.isDefined, arc.isDefined,
        img.isEmpty && aud.isEmpty && vid.isEmpty && pdf.isEmpty &&
          mp3.isEmpty && ogg.isEmpty && arc.isEmpty && mp4.isEmpty &&
          webm.isEmpty,
        img.map(_.nPixels).getOrElse(0L) + pdf.map(_.imgPx).getOrElse(0L),
        aud.map(_.durationMs).getOrElse(0L) + vid.map(_.durationMs).getOrElse(0L) +
          mp3.map(_.durationMs).getOrElse(0L) + ogg.map(_.durationMs).getOrElse(0L) +
          mp4.map(_.durationMs).getOrElse(0L) + webm.map(_.durationMs).getOrElse(0L),
        img.map(_.orientation.toLong).getOrElse(0L),
        arc.getOrElse(0L), gps, mp4.exists(_.fragmented))
    }.toDF("format", "i_ok", "a_ok", "v_ok", "p_ok", "r_ok", "is_err",
      "px", "ms", "ori", "ents", "gps", "frag")
    per.groupBy(col("format"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("i_ok"), 1L).otherwise(0L)).as("img_ok"),
        sum(when(col("a_ok"), 1L).otherwise(0L)).as("aud_ok"),
        sum(when(col("v_ok"), 1L).otherwise(0L)).as("vid_ok"),
        sum(when(col("p_ok"), 1L).otherwise(0L)).as("pdf_ok"),
        sum(when(col("r_ok"), 1L).otherwise(0L)).as("arc_ok"),
        sum(when(col("is_err"), 1L).otherwise(0L)).as("n_err"),
        sum(col("px")).as("px_sum"),
        sum(col("ms")).as("dur_ms_sum"),
        // Exif orientation checksum (r18): jpeg records carry a
        // doc_id-rotated APP1 tag; everything else decodes upright (1
        // per accepted image, 0 where no image decoder fired)
        sum(col("ori")).as("ori_sum"),
        sum(col("ents")).as("ent_sum"),
        // media-layer PII (r19; r20 adds the bare-TIFF carrier):
        // jpeg/tiff rows with a GPS IFD — the column a scrub stage
        // gates on before bytes ship
        sum(when(col("gps"), 1L).otherwise(0L)).as("n_gps"),
        // fragmented containers (r20): the DASH/CMAF slice of the
        // video bucket — the column a segment-aware pipeline splits on
        sum(when(col("frag"), 1L).otherwise(0L)).as("n_frag"))
      .orderBy(col("format"))
  }

  private val q219Sql =
    """SELECT format, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN b IN (0, 1, 5, 6, 8, 12) THEN 1 ELSE 0 END) AS BIGINT) AS img_ok,
      |  CAST(sum(CASE WHEN b IN (2, 9, 11, 13) THEN 1 ELSE 0 END) AS BIGINT) AS aud_ok,
      |  CAST(sum(CASE WHEN b IN (3, 15, 16) THEN 1 ELSE 0 END) AS BIGINT) AS vid_ok,
      |  CAST(sum(CASE WHEN b = 7 THEN 1 ELSE 0 END) AS BIGINT) AS pdf_ok,
      |  CAST(sum(CASE WHEN b IN (10, 14) THEN 1 ELSE 0 END) AS BIGINT) AS arc_ok,
      |  CAST(sum(CASE WHEN b = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
      |  CAST(sum(CASE WHEN b IN (0, 1, 6, 8, 12)
      |    THEN (len % 8 + 1) * (len % 6 + 1)
      |    WHEN b = 5 THEN (CASE WHEN doc_id % 2 = 0 THEN 64 ELSE 256 END)
      |      * (len % 3 + 1) * (len % 2 + 1)
      |    WHEN b = 7 THEN (CASE WHEN doc_id % 2 = 0
      |      THEN (len % 8 + 1) * (len % 6 + 1)
      |      ELSE 64 * (len % 3 + 1) * (len % 2 + 1) END)
      |    ELSE 0 END) AS BIGINT) AS px_sum,
      |  CAST(sum(CASE WHEN b IN (2, 9) THEN (len * 1000) // (len % 4000 + 4000)
      |    WHEN b = 3 THEN (len % 3 + 1) * 40
      |    WHEN b = 11 THEN ((len % 7 + 1) * 1152 * 1000)
      |      // ([44100,48000,32000][CAST(doc_id % 3 AS INTEGER) + 1])
      |    WHEN b = 13 THEN (CASE WHEN doc_id % 2 = 0 THEN len
      |      ELSE (len * 3 * 1000) // (len % 4000 + 4000) END)
      |    WHEN b IN (15, 16) THEN len % 4000 + 40
      |    ELSE 0 END) AS BIGINT) AS dur_ms_sum,
      |  CAST(sum(CASE WHEN b IN (0, 1, 6, 8, 12) THEN 1
      |    WHEN b = 5 THEN doc_id % 7 + 1 ELSE 0 END) AS BIGINT) AS ori_sum,
      |  CAST(sum(CASE WHEN b = 10 THEN (CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)
      |    WHEN b = 14 THEN len % 4 + 1 ELSE 0 END) AS BIGINT) AS ent_sum,
      |  CAST(sum(CASE WHEN b IN (5, 12) AND doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gps,
      |  CAST(sum(CASE WHEN b = 15 AND doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frag
      |FROM (SELECT doc_id, doc_id % 17 AS b,
      |        CASE doc_id % 17 WHEN 0 THEN 'ppm' WHEN 1 THEN 'png'
      |          WHEN 2 THEN 'wav' WHEN 3 THEN 'y4m' WHEN 5 THEN 'jpeg'
      |          WHEN 6 THEN 'gif' WHEN 7 THEN 'pdf' WHEN 8 THEN 'webp'
      |          WHEN 9 THEN 'flac' WHEN 11 THEN 'mp3' WHEN 12 THEN 'tiff'
      |          WHEN 10 THEN (CASE WHEN doc_id % 4 = 0 THEN 'zip64'
      |            WHEN doc_id % 2 = 0 THEN 'zip' ELSE 'tar' END)
      |          WHEN 13 THEN (CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END)
      |          WHEN 14 THEN 'avro' WHEN 15 THEN 'mp4' WHEN 16 THEN 'webm'
      |          ELSE 'bin' END AS format,
      |        length(text) AS len
      |      FROM documents WHERE length(text) > 0)
      |GROUP BY format
      |ORDER BY format""".stripMargin

  // --------------------------------------------------------------- q220
  /** PDF text extraction (sources.Pdf) — q130's discipline for the
    * third crawl text container: documents become REAL single-page
    * PDFs (classic xref, page tree, content stream showing the title
    * as a hex-literal Tj, the text as one 7-char-chunked TJ array,
    * and a fixed suffix through the ' and " show ops; stream
    * encodings rotate doc_id % 6 through raw, /FlateDecode,
    * /ASCIIHexDecode, the [/ASCII85Decode /FlateDecode] chain,
    * /RunLengthDecode, and /LZWDecode),
    * and the extractor walks stream objects, applies the filter
    * chains, and concatenates the shows. The oracle never parses a
    * PDF: the extracted text must equal
    * 'Doc ' || doc_id || '|' || text || '~fin.' re-derived from the
    * documents table — a wrong escape, a bad hex-pair decode, a
    * mis-framed /Length, a kerning number leaking into the text, or a
    * broken inflate all hash-fail. Committed fixtures (python-built,
    * independent writer) pin the parser separately in PdfSpec.
    */
  private def q220(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Pdf.toPdfs(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    // r18: odd docs arrive in the MODERN container (ObjStm + xref
    // stream with PNG Up-predicted rows) — the structure columns prove
    // the object graph was discovered (page dict found inside the
    // ObjStm, all four compressed objects, the xref stream's type-2
    // entries) while the text stays byte-identical to the classic path
    graft.sources.Pdf.extractRows(media).toDF()
      .filter(col("ok"))
      .select(col("media_id").as("doc_id"),
        (col("n_flate") > 0).as("flate"),
        (col("n_ascii") > 0).as("ascii"),
        col("n_shows"), col("n_pages"), col("n_objstm_objs"),
        col("n_xref_compressed"), col("text"))
      .orderBy(col("doc_id"))
  }

  private val q220Sql =
    """SELECT doc_id, doc_id % 6 IN (1, 3) AS flate,
      |  doc_id % 6 IN (2, 3) AS ascii,
      |  CAST(4 AS INTEGER) AS n_shows,
      |  CAST(doc_id % 2 AS INTEGER) AS n_pages,
      |  CAST(4 * (doc_id % 2) AS INTEGER) AS n_objstm_objs,
      |  CAST(4 * (doc_id % 2) AS INTEGER) AS n_xref_compressed,
      |  'Doc ' || doc_id || '|' || text || '~fin.' AS text
      |FROM documents WHERE length(text) > 0
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q250
  /** Avro object-container ingest, hash-gated end-to-end: documents
    * become genuine multi-block Avro files (sources.Avro.toAvro —
    * metadata map, sync markers, one record per block, codec
    * rotating doc_id % 3 through null / raw-deflate / snappy-with-
    * CRC32) and the reader walks them back: varint/zigzag decode,
    * schema-ordered field decode, per-block sync verification, codec
    * routing incl. the dependency-free Snappy tag-stream decode. Every field is a pure function of
    * (doc_id, text) — the oracle re-derives the whole record stream
    * with substring arithmetic; a zigzag slip, a block mis-frame, or
    * a schema field-order bug all hash-fail.
    */
  private def q250(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Avro.toAvro(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    graft.sources.Avro.listRecords(media)
      .filter(col("err").isNull)
      .select(col("media_id"), col("schema_name"), col("codec"),
        col("n_blocks"), col("n_records"), col("rec_idx"),
        col("id"), col("seq"), col("part"))
      .orderBy(col("media_id"), col("rec_idx"))
  }

  private val q250Sql =
    """WITH d AS (SELECT doc_id, text, length(text) AS len
      |           FROM documents WHERE length(text) > 0),
      |k AS (SELECT doc_id, text, len, len % 4 + 1 AS k,
      |        (len + (len % 4 + 1) - 1) // (len % 4 + 1) AS c FROM d),
      |r AS (SELECT doc_id, k, c, text, unnest(range(0, k)) AS i FROM k)
      |SELECT doc_id AS media_id, 'doc_part' AS schema_name,
      |  CASE doc_id % 3 WHEN 1 THEN 'deflate' WHEN 2 THEN 'snappy'
      |    ELSE 'null' END AS codec,
      |  CAST(k AS INTEGER) AS n_blocks, CAST(k AS BIGINT) AS n_records,
      |  CAST(i AS INTEGER) AS rec_idx,
      |  CAST(doc_id AS VARCHAR) AS id, CAST(i AS VARCHAR) AS seq,
      |  substring(text, CAST(i*c + 1 AS INTEGER), CAST(c AS INTEGER)) AS part
      |FROM r
      |ORDER BY media_id, rec_idx""".stripMargin

  // --------------------------------------------------------------- q257
  /** CCITT Group 4 fax TIFF (the r19 CcittG4 codec), hash-gated
    * end-to-end: documents become bilevel MinIsWhite fax pages whose
    * black flags are text-byte parity, G4-coded in 8-row strips
    * (independent T.6 streams, partial last strip, both byte orders)
    * and decoded through the full 2D walk — vertical/horizontal/pass
    * modes, MH run tables, per-strip reference-line restart. The
    * oracle recomputes every stat from the text alone (luminance 255
    * for even codepoints, 0 for odd); a mode desync, a table slip,
    * or a reference-line carry across strips all hash-fail. An
    * INDEPENDENT python G4 coder pins the bitstream separately in
    * TiffCodecSpec.
    */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toTiffG4(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"), col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q257Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 100 + 30 AS INTEGER) AS w,
      |    CAST(length(text) % 40 + 10 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, w, h, w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, w*h) AS px
      |  FROM d),
      |b AS (
      |  SELECT doc_id, w, h, npx,
      |    list_transform(range(1, npx + 1),
      |      i -> 255 * (1 - unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)]) % 2)) AS vals
      |  FROM p)
      |SELECT doc_id AS media_id, 'tiff' AS codec, w AS width, h AS height,
      |  CAST(1 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |  CAST(npx AS BIGINT) AS n_pixels,
      |  floor(list_avg(vals) * 1e6) / 1e6 AS r_mean,
      |  CAST(list_min(vals) AS INTEGER) AS px_min,
      |  CAST(list_max(vals) AS INTEGER) AS px_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q262
  /** New-style JPEG-in-TIFF (r20, Compression 7 — what scanners
    * actually emit), hash-gated end-to-end: documents become
    * single-strip TIFFs whose strip IS a JPEG stream (q227's
    * exactly-invertible flat-tile rasters, both SOF color models —
    * gray photometric 1 and 4:2:0 YCbCr photometric 6), half of them
    * in the TIFF/EP shared-tables form where DQT/DHT live in a
    * tag-347 JPEGTables stream spliced back at decode. The oracle is
    * q227's with the codec renamed — a broken splice, a dropped
    * table segment, or a photometric/channel mismatch all hash-fail.
    */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toTiffJpeg(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"),
        trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"),
        col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q262Sql = q227Sql.replace("'jpeg' AS codec", "'tiff' AS codec")

  // --------------------------------------------------------------- q261
  /** CCITT G3-family fax TIFF (the r20 CcittG3 codec), hash-gated
    * end-to-end: documents become bilevel MinIsWhite pages rotating
    * doc_id%3 through Modified Huffman (Compression 2, byte-aligned
    * rows), T.4 1D (Compression 3, EOL-framed), and T.4 2D
    * (T4Options bit 0, K=2 tag-bit cadence over the SAME 2D line
    * coder G4 uses) — 7-row strips, both byte orders. q257's oracle
    * shape with G3 dims: the oracle recomputes every stat from the
    * text alone, so an EOL misread, a tag-bit flip, a byte-alignment
    * slip, or a 1D run desync all hash-fail. An INDEPENDENT python
    * G3 coder pins the bitstreams separately in TiffCodecSpec.
    */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toTiffG3(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"), col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q261Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 80 + 25 AS INTEGER) AS w,
      |    CAST(length(text) % 30 + 12 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, w, h, w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, w*h) AS px
      |  FROM d),
      |b AS (
      |  SELECT doc_id, w, h, npx,
      |    list_transform(range(1, npx + 1),
      |      i -> 255 * (1 - unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)]) % 2)) AS vals
      |  FROM p)
      |SELECT doc_id AS media_id, 'tiff' AS codec, w AS width, h AS height,
      |  CAST(1 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |  CAST(npx AS BIGINT) AS n_pixels,
      |  floor(list_avg(vals) * 1e6) / 1e6 AS r_mean,
      |  CAST(list_min(vals) AS INTEGER) AS px_min,
      |  CAST(list_max(vals) AS INTEGER) AS px_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q256
  /** WebM/Matroska container metadata (WebmMeta), hash-gated
    * end-to-end: documents become genuine EBML containers (Media.
    * toWebm — DocType header, Info with TimestampScale at 1 ms or
    * 0.5 ms ticks and an 8-byte-float Duration, per-track
    * Type/CodecID/Video/Audio children, every fifth record with the
    * streaming-muxer UNKNOWN Segment size) and the walk recovers
    * doc type, exact duration, track count/geometry, and codec IDs
    * WITHOUT touching a Cluster — Mp4Meta's discipline for the other
    * crawl video container. Every field is a pure function of
    * (doc_id, len) so the oracle recomputes them all; a varint-
    * marker slip, a scale misread, or an unknown-size mishandling
    * all hash-fail.
    */
  private def q256(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toWebm(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeWebmMeta(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("doc_type"), col("timestamp_scale"),
        col("duration_ms"), col("n_tracks"), col("width"), col("height"),
        col("video_codec"), col("audio_codec"), col("audio_hz"),
        col("audio_channels"))
      .orderBy(col("media_id"))
  }

  private val q256Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0)
      |SELECT doc_id AS media_id, 'webm' AS doc_type,
      |  CAST((len % 2 + 1) * 500000 AS BIGINT) AS timestamp_scale,
      |  CAST(len % 4000 + 40 AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
      |  CAST(len % 640 + 16 AS INTEGER) AS width,
      |  CAST(len % 360 + 16 AS INTEGER) AS height,
      |  CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_VP8' END AS video_codec,
      |  CASE WHEN doc_id % 3 = 0 THEN 'A_OPUS' ELSE '' END AS audio_codec,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 48000 ELSE 0 END AS INTEGER) AS audio_hz,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 2 + 1 ELSE 0 END
      |    AS INTEGER) AS audio_channels
      |FROM d
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q254
  /** Tiled + palette-color TIFF (the r19 TiffCodec extensions),
    * hash-gated end-to-end: documents become photometric-3 rasters —
    * odd docs TILED (16x16 grid, zero-padded edges), even docs the
    * classic strip walk, all three compressions, both byte orders —
    * whose indices are the text bytes under the IDENTITY colormap, so
    * the oracle recomputes every stat from the text alone (decoded
    * channel == source byte). A tile-origin slip, a padded-edge leak
    * into the stats, or a colormap plane mix-up all hash-fail.
    */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def trunc6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6)) / lit(1e6)
    val media = Media.toTiffPalette(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.decodeImages(media).toDF()
      .filter(col("ok"))
      .select(col("media_id"), col("codec"), col("width"), col("height"),
        col("channels"), col("maxval"), col("n_pixels"),
        trunc6(col("r_mean")).as("r_mean"), trunc6(col("g_mean")).as("g_mean"),
        trunc6(col("b_mean")).as("b_mean"), col("px_min"), col("px_max"))
      .orderBy(col("media_id"))
  }

  private val q254Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 40 + 17 AS INTEGER) AS w,
      |    CAST(length(text) % 24 + 17 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0),
      |p AS (
      |  SELECT doc_id, w, h, w*h AS npx,
      |    substring(repeat(text, CAST(ceil(CAST(w*h AS DOUBLE) / len) AS INTEGER)),
      |              1, w*h) AS px
      |  FROM d),
      |b AS (
      |  SELECT doc_id, w, h, npx,
      |    list_transform(range(1, npx + 1),
      |      i -> unicode(px[CAST(i AS INTEGER):CAST(i AS INTEGER)])) AS bytes
      |  FROM p)
      |SELECT doc_id AS media_id, 'tiff' AS codec, w AS width, h AS height,
      |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
      |  CAST(npx AS BIGINT) AS n_pixels,
      |  floor(list_avg(bytes) * 1e6) / 1e6 AS r_mean,
      |  floor(list_avg(bytes) * 1e6) / 1e6 AS g_mean,
      |  floor(list_avg(bytes) * 1e6) / 1e6 AS b_mean,
      |  CAST(list_min(bytes) AS INTEGER) AS px_min,
      |  CAST(list_max(bytes) AS INTEGER) AS px_max
      |FROM b
      |ORDER BY media_id""".stripMargin

  // --------------------------------------------------------------- q252
  /** Nullable-union + array Avro schemas (the r19 extension): the
    * default way real warehouse exports mark optional fields is
    * ["null", T], and repeated fields are arrays — documents become
    * doc_rec containers (sources.Avro.toAvroNullable) whose note
    * union FLIPS member order with doc parity (branch indexes are BY
    * SCHEMA POSITION — a normalization bug flips every null), whose
    * int arrays split into multi-block form on even docs, and whose
    * codec rotates through null/deflate/snappy. The oracle re-derives
    * every value with modular arithmetic; null notes must surface as
    * genuine SQL NULLs.
    */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Avro.toAvroNullable(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    graft.sources.Avro.listDocRecords(media)
      .filter(col("err").isNull)
      .select(col("media_id"), col("codec"), col("rec_idx"),
        col("id"), col("note"), col("tags"))
      .orderBy(col("media_id"), col("rec_idx"))
  }

  private val q252Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0),
      |k AS (SELECT doc_id, len, len % 3 + 1 AS k FROM d),
      |r AS (SELECT doc_id, len, unnest(range(0, k)) AS i FROM k)
      |SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 1 THEN 'deflate' WHEN 2 THEN 'snappy'
      |    ELSE 'null' END AS codec,
      |  CAST(i AS INTEGER) AS rec_idx,
      |  CAST(doc_id AS VARCHAR) AS id,
      |  CASE WHEN (doc_id + i) % 3 = 0 THEN NULL
      |       ELSE 'n' || (doc_id + i) END AS note,
      |  ((len + i) % 7) || ',' || ((len + i) % 5) AS tags
      |FROM r
      |ORDER BY media_id, rec_idx""".stripMargin

  // --------------------------------------------------------------- q258
  /** NESTED Avro record schemas (r19): the default warehouse-export
    * shape — a record-typed field whose value serializes as exactly
    * its sub-fields in writer order, surfaced here as flattened
    * dotted columns (meta.lang, meta.score) through the real-JSON
    * schema parse. Codec rotates doc_id % 3, the nullable note rides
    * the union path, and the oracle re-derives every flattened value
    * with modular arithmetic — a field-order slip in the nested walk
    * desyncs the whole record stream and hash-fails.
    */
  private def q258(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Avro.toAvroNested(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    graft.sources.Avro.listNestedRecords(media)
      .filter(col("err").isNull)
      .select(col("media_id"), col("schema_name"), col("codec"),
        col("rec_idx"), col("id"), col("meta_lang"), col("meta_score"),
        col("note"))
      .orderBy(col("media_id"), col("rec_idx"))
  }

  private val q258Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0),
      |k AS (SELECT doc_id, len, len % 3 + 1 AS k FROM d),
      |r AS (SELECT doc_id, len, unnest(range(0, k)) AS i FROM k)
      |SELECT doc_id AS media_id, 'doc_nested' AS schema_name,
      |  CASE doc_id % 3 WHEN 1 THEN 'deflate' WHEN 2 THEN 'snappy'
      |    ELSE 'null' END AS codec,
      |  CAST(i AS INTEGER) AS rec_idx,
      |  CAST(doc_id AS VARCHAR) AS id,
      |  ['en', 'de', 'fr'][CAST((doc_id + i) % 3 + 1 AS INTEGER)] AS meta_lang,
      |  CAST((len + i) % 1000 AS VARCHAR) AS meta_score,
      |  CASE WHEN (doc_id + i) % 4 = 0 THEN NULL
      |       ELSE 'n' || (doc_id + i) END AS note
      |FROM r
      |ORDER BY media_id, rec_idx""".stripMargin

  // --------------------------------------------------------------- q260
  /** Avro map/enum/fixed schemas (r20 — the remaining warehouse-export
    * types): documents become doc_rich containers
    * (sources.Avro.toAvroRich) whose map<string,int> splits into
    * multi-block form on even docs, whose enum resolves varint
    * indexes to symbols by schema position, and whose fixed(4) digest
    * surfaces as lowercase hex; codec rotates null/deflate/snappy.
    * The oracle re-derives every value with modular arithmetic — a
    * map-block framing slip, an enum off-by-one, or a fixed-width
    * misread all hash-fail.
    */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Avro.toAvroRich(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    graft.sources.Avro.listRichRecords(media)
      .filter(col("err").isNull)
      .select(col("media_id"), col("schema_name"), col("codec"),
        col("rec_idx"), col("id"), col("attrs"), col("color"), col("sig"))
      .orderBy(col("media_id"), col("rec_idx"))
  }

  private val q260Sql =
    """WITH d AS (SELECT doc_id, length(text) AS len
      |           FROM documents WHERE length(text) > 0),
      |k AS (SELECT doc_id, len, len % 3 + 1 AS k FROM d),
      |r AS (SELECT doc_id, len, unnest(range(0, k)) AS i FROM k)
      |SELECT doc_id AS media_id, 'doc_rich' AS schema_name,
      |  CASE doc_id % 3 WHEN 1 THEN 'deflate' WHEN 2 THEN 'snappy'
      |    ELSE 'null' END AS codec,
      |  CAST(i AS INTEGER) AS rec_idx,
      |  CAST(doc_id AS VARCHAR) AS id,
      |  'a=' || ((len + i) % 7) || ',b=' || ((len + i) % 5) AS attrs,
      |  ['red', 'green', 'blue'][CAST((doc_id + i) % 3 + 1 AS INTEGER)] AS color,
      |  lpad(lower(to_hex((doc_id * 31 + i) % 65536)), 8, '0') AS sig
      |FROM r
      |ORDER BY media_id, rec_idx""".stripMargin

  // --------------------------------------------------------------- q244
  /** Composite-font PDF text extraction (/Type0 /Identity-H +
    * /ToUnicode CMap — how real-crawl PDFs actually encode text):
    * documents become PDFs whose every show string is 2-byte GLYPH
    * CODES (sources.Pdf.buildPdfCid: bfchar specials + an
    * incrementing bfrange, the CMap object placed AFTER the content
    * stream so extraction must defer until the object graph
    * completes). The oracle is q220's ground truth — recovering the
    * identical text through a completely different character encoding
    * pins the CMap parse, the Tf font tracking, and the 2-byte code
    * walk; n_cmaps = 1 proves the path fired.
    */
  private def q244(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Pdf.toPdfsCid(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    graft.sources.Pdf.extractRows(media).toDF()
      .filter(col("ok"))
      .select(col("media_id").as("doc_id"), col("n_shows"), col("n_cmaps"),
        col("text"))
      .orderBy(col("doc_id"))
  }

  private val q244Sql =
    """SELECT doc_id, CAST(4 AS INTEGER) AS n_shows, CAST(1 AS INTEGER) AS n_cmaps,
      |  'Doc ' || doc_id || '|' || text || '~fin.' AS text
      |FROM documents WHERE length(text) > 0
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q231
  /** PDF-EMBEDDED image XObjects (r18, verdict task #2) — real-crawl
    * PDFs are image-heavy, and the repo owns complete JPEG and zlib
    * decoders, so `/Subtype /Image` streams now decode instead of
    * skipping. Documents become PDFs that each EMBED one image
    * (sources.Pdf.toPdfsWithImages): even docs a /FlateDecode
    * DeviceRGB raster (toPpm geometry), odd docs a /DCTDecode
    * grayscale flat-tile JPEG (toJpeg geometry, DC-only unit-quant →
    * bit-exact), every third additionally behind an /ASCIIHexDecode
    * transport stage — and doc_id%6==4 rows (r20) an /Indexed
    * palette image whose inline hex lookup maps i -> ((i*3)%256)x3,
    * so the palette resolution itself is text arithmetic. The oracle never parses a PDF OR an image: the
    * pixel count and the decoded gray mean are pure text arithmetic
    * (the toPpm/toJpeg trick), and the extracted TEXT must still
    * equal the q220 ground truth — proving the raster never leaks
    * into the shows channel. A mis-framed XObject, a broken DCT
    * route, a chain misapplied on an image, or one raster byte in
    * the text all hash-fail.
    */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Pdf.toPdfsWithImages(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    // exact-integer contract: the decoded mean times the number of
    // SOURCE bytes recovers the raster byte sum exactly (sums are far
    // below 2^52, so the double round-trips) — no float tolerance in
    // the gate. Even docs: mean over 3*w*h rgb bytes (= 3*img_px);
    // odd: the flat-tile mean times the tile count (= img_px/64).
    graft.sources.Pdf.extractRows(media).toDF()
      .filter(col("ok"))
      .withColumn("nb",
        when(pmod(col("media_id"), lit(6)) === 4, col("img_px")) // indexed: w*h indices
          .when(pmod(col("media_id"), lit(2)) === 0, col("img_px") * 3)
          .otherwise(col("img_px") / 64))
      .select(col("media_id").as("doc_id"),
        col("n_images"), col("n_image_skipped"), col("img_px"),
        round(col("img_mean_sum") * col("nb")).cast("long").as("img_byte_sum"),
        col("text"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q264
  /** CCITT-fax images INSIDE PDFs (r20 — the scanned-PDF shape, and
    * the round's fax codecs composing with the PDF walk): documents
    * become PDFs embedding one /CCITTFaxDecode XObject rotating all
    * three in-scope framings (G4, 1D MH aligned/unaligned, EOL-framed
    * 2D) while the content stream keeps its six-mode rotation. The
    * oracle never parses a PDF or a fax stream: img_px and the visual
    * byte sum (255 x even-codepoint count over the repeated text) are
    * pure text arithmetic, and the extracted TEXT must still equal
    * the q220 ground truth — a /K misroute, a byte-align slip, or a
    * raster leak into the shows channel all hash-fail.
    */
  private def q264(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.sources.Pdf.toPdfsCcitt(t(s, dir, "documents"))
      .as[Media.MediaRecord]
    graft.sources.Pdf.extractRows(media).toDF()
      .filter(col("ok"))
      .select(col("media_id").as("doc_id"),
        col("n_images"), col("n_image_skipped"), col("img_px"),
        round(col("img_mean_sum") * col("img_px")).cast("long").as("img_byte_sum"),
        col("text"))
      .orderBy(col("doc_id"))
  }

  private val q264Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    CAST(length(text) % 40 + 12 AS INTEGER) AS w,
      |    CAST(length(text) % 20 + 6 AS INTEGER) AS h
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, CAST(1 AS INTEGER) AS n_images,
      |  CAST(0 AS INTEGER) AS n_image_skipped,
      |  CAST(w * h AS BIGINT) AS img_px,
      |  CAST(list_sum(list_transform(range(1, w * h + 1),
      |    i -> 255 * (1 - unicode(substring(text,
      |           CAST((i - 1) % len + 1 AS INTEGER), 1)) % 2))) AS BIGINT)
      |    AS img_byte_sum,
      |  'Doc ' || doc_id || '|' || text || '~fin.' AS text
      |FROM d
      |ORDER BY doc_id""".stripMargin

  private val q231Sql =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len
      |  FROM documents WHERE length(text) > 0),
      |geo AS (
      |  SELECT doc_id, text, len,
      |    CASE WHEN doc_id % 6 = 4
      |      THEN (len % 8 + 1) * (len % 6 + 1)            -- palette indices
      |      WHEN doc_id % 2 = 0
      |      THEN 3 * (len % 8 + 1) * (len % 6 + 1)        -- rgb raster bytes
      |      ELSE (len % 3 + 1) * (len % 2 + 1) END AS nb, -- gray tile values
      |    CASE WHEN doc_id % 2 = 0
      |      THEN CAST((len % 8 + 1) * (len % 6 + 1) AS BIGINT)
      |      ELSE CAST(64 * (len % 3 + 1) * (len % 2 + 1) AS BIGINT) END AS img_px
      |  FROM d)
      |SELECT doc_id, CAST(1 AS INTEGER) AS n_images,
      |  CAST(0 AS INTEGER) AS n_image_skipped, img_px,
      |  CAST(list_sum(list_transform(range(1, nb + 1),
      |    i -> CASE WHEN doc_id % 6 = 4
      |           THEN (unicode(substring(text,
      |                  CAST((i - 1) % len + 1 AS INTEGER), 1)) * 3) % 256
      |           ELSE unicode(substring(text,
      |                  CAST((i - 1) % len + 1 AS INTEGER), 1)) END)) AS BIGINT)
      |    AS img_byte_sum,
      |  'Doc ' || doc_id || '|' || text || '~fin.' AS text
      |FROM geo
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q221
  /** Type-routed crawl extraction — the q130 chain on a MIXED-content
    * segment, which is what a real WARC is: html pages and PDFs in
    * the same archive. Even docs arrive as q130's html responses,
    * odd docs as REAL PDF payloads (raw and /FlateDecode — binary
    * bytes, exercising resolveCharset's byte-preserving rule for
    * binary MIME types); the router dispatches on the HTTP
    * Content-Type — html through the builtin stripper, PDFs through
    * sources.Pdf — into one unified text table. The oracle re-derives
    * both branches from the documents table (q130's strip algebra;
    * q220's 'Doc id|' ++ text identity), so a charset corruption of
    * the binary payload, a mis-routed record, or a broken inflate
    * inside the WARC chain all hash-fail.
    */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Pdf, Warc}
    val parsed = Warc.parseArchives(
        Warc.toWarcArchivesMixed(t(s, dir, "documents")), "archive_id", "bytes")
      .filter(col("ok") && col("warc_type") === "response")
      .select(
        regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long").as("doc_id"),
        col("http_content_type"), col("payload"))
      .localCheckpoint(true) // two routed branches scan it
    val html = parsed.filter(col("http_content_type") === "text/html")
      .select(col("doc_id"), col("http_content_type").as("content_type"),
        Warc.htmlText(col("payload")).as("text"))
    val pdfs = parsed.filter(col("http_content_type") === "application/pdf")
      .select(col("doc_id"), col("payload")).as[(Long, String)]
      .map { case (id, p) =>
        Pdf.extractText(p.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) match {
          case Right(x) => (id, "application/pdf", x.text, true)
          case Left(e) => (id, "application/pdf", e, false)
        }
      }
      .toDF("doc_id", "content_type", "text", "ok")
      .filter(col("ok")).drop("ok")
    val out = html.union(pdfs).orderBy(col("doc_id")).localCheckpoint(true)
    graft.Checkpoints.release(parsed)
    out
  }

  private val q221Sql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'text/html'
      |    ELSE 'application/pdf' END AS content_type,
      |  CASE WHEN doc_id % 2 = 0 THEN
      |    'Doc ' || doc_id || ' Doc ' || doc_id || ' & friends ' ||
      |      trim(regexp_replace(text, '\s+', ' ', 'g')) ||
      |      ' lang: ' || lang || ' <' || source || '>'
      |  ELSE 'Doc ' || doc_id || '|' || text || '~fin.' END AS text
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q121
  /** Perceptual image near-dup (Media.imageNearDupPairs): documents
    * become real P6 PPM binaries (the q102 adapter), ImageCodec
    * computes the 8x8 average-hash from the decoded raster, and pairs
    * within hamming 7 of 64 bits surface via 8-band LSH blocking +
    * exact popcount verify. The oracle rebuilds the SAME hash halves
    * from the source text bytes (grid sampling, integer gray sums,
    * floor-mean threshold, bit packing) and joins ALL pairs — so the
    * gate pins the decoder's raster addressing, the hash arithmetic,
    * AND that banding loses no pair under the hamming cap.
    */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toPpm(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.imageNearDupPairs(media, maxHamming = 7)
      .orderBy(col("id_a"), col("id_b"))
  }

  private def q121SqlAt(maxHamming: Int): String = {
    // pixel index of grid cell g (0..63): (gy*h div 8)*w + gx*w div 8;
    // sample s (1-based) of that pixel's channel c is px byte 3*idx+c
    val idx = "(((g//8)*h//8)*w + ((g%8)*w//8))"
    val gray = (c: Int) =>
      s"unicode(px[CAST(3*$idx + $c AS INTEGER) : CAST(3*$idx + $c AS INTEGER)])"
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS len,
       |    CAST(length(text) % 8 + 1 AS INTEGER) AS w,
       |    CAST(length(text) % 6 + 1 AS INTEGER) AS h
       |  FROM documents WHERE length(text) > 0),
       |p AS (
       |  SELECT doc_id, w, h,
       |    substring(repeat(text, CAST(ceil(CAST(3*w*h AS DOUBLE) / len) AS INTEGER)),
       |              1, 3*w*h) AS px
       |  FROM d),
       |s AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), g ->
       |      ${gray(1)} + ${gray(2)} + ${gray(3)}) AS grays
       |  FROM p),
       |hsh AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(range(32, 64), i ->
       |      CASE WHEN grays[CAST(i+1 AS INTEGER)] > list_sum(grays) // 64
       |        THEN (1::BIGINT << CAST(i - 32 AS INTEGER)) ELSE 0 END)) AS hi,
       |    list_sum(list_transform(range(0, 32), i ->
       |      CASE WHEN grays[CAST(i+1 AS INTEGER)] > list_sum(grays) // 64
       |        THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END)) AS lo
       |  FROM s)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
       |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val q121Sql = q121SqlAt(7)

  // --------------------------------------------------------------- q123
  /** Multimodal dedup APPLY — the image counterpart of q58's text
    * pipeline: perceptual near-dup pairs (hamming <= 2, the
    * "re-encoded copy" band) -> connected components -> drop
    * non-canonical members -> per-source census of what survives.
    * Composes three independently-gated operators (q121 pairs, q49's
    * component machinery, q58's keep-canonical rule); the oracle
    * re-derives the full chain — hash build, pair graph, recursive
    * transitive closure, min-id canonicalization — so any stage
    * drifting breaks this hash too.
    */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val media = Media.toPpm(docs).as[Media.MediaRecord]
    val pairs = Media.imageNearDupPairs(media, maxHamming = 2)
    val clusters = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
    graft.operators.Dedup.removeDuplicates(
        docs.filter(length(col("text")) > 0), "doc_id", clusters)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_imgs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  private val q123Sql =
    s"""WITH RECURSIVE
       |pairs AS (SELECT id_a, id_b FROM (${q121SqlAt(2)})),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS n FROM edges),
       |reach AS (
       |  SELECT n, n AS r FROM nodes
       |  UNION
       |  SELECT e.b AS n, reach.r FROM reach JOIN edges e ON reach.n = e.a),
       |drops AS (SELECT doc FROM (SELECT n AS doc, min(r) AS cluster FROM reach GROUP BY n)
       |          WHERE doc <> cluster)
       |SELECT source, count(*) AS n_imgs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |WHERE length(text) > 0 AND doc_id NOT IN (SELECT doc FROM drops)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q129
  /** Perceptual AUDIO near-dup (Media.audioNearDupPairs) — q121's
    * discipline for the waveform modality: documents become real
    * RIFF/WAVE PCM binaries (the q103 adapter), AudioCodec samples 32
    * fixed waveform positions from the decoded data chunk into a
    * 32-bit signature, and pairs within hamming 3 surface via 4-band
    * LSH + exact popcount. The oracle rebuilds the signature from the
    * source text (sample byte == codepoint) and joins ALL pairs —
    * pinning the chunk walk's sample addressing, the floor-mean
    * threshold, the bit packing, and zero banding loss.
    */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Media.toWav(t(s, dir, "documents")).as[Media.MediaRecord]
    Media.audioNearDupPairs(media, maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val q129Sql = {
    val idx = "(w*len)//32 + 1"
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len
       |           FROM documents WHERE length(text) > 0),
       |s AS (SELECT doc_id,
       |        list_transform(range(0, 32), w ->
       |          unicode(text[CAST($idx AS INTEGER) : CAST($idx AS INTEGER)])) AS vals
       |      FROM d),
       |hsh AS (SELECT doc_id,
       |        list_sum(list_transform(range(0, 32), i ->
       |          CASE WHEN vals[CAST(i+1 AS INTEGER)] > list_sum(vals) // 32
       |            THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END)) AS ahash
       |      FROM s)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
       |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------- q130
  /** WARC crawl-archive ingestion, hash-gated end-to-end (the q102
    * discipline for the crawl modality): documents become REAL
    * multi-record WARC archives (sources.Warc.toWarcArchives — full
    * version line, WARC headers, HTTP response envelope), the
    * Content-Length framing walker re-frames them, and the builtin
    * HTML stripper extracts the page text. Every generated page embeds
    * a literal 'WARC/1.0' line inside a script block, so the oracle —
    * which rebuilds the SAME strings from the documents table and
    * re-derives every output column with SQL string ops — passing
    * proves the framing walks Content-Length (separator framing would
    * tear each record at the embedded marker and shift every
    * downstream field).
    */
  /** Shared q130/q142 tail: framed records → per-doc extraction rows. */
  private def warcIngestRows(archives: DataFrame): DataFrame = {
    import graft.sources.Warc
    Warc.parseArchives(archives, "archive_id", "bytes")
      .filter(col("ok") && col("warc_type") === "response")
      .select(
        regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long").as("doc_id"),
        col("target_uri"),
        col("content_length"),
        col("http_status"),
        col("http_content_type"),
        Warc.htmlTitle(col("payload")).as("title"),
        Warc.htmlText(col("payload")).as("text"))
      .orderBy(col("doc_id"))
  }

  private def q130(s: SparkSession, dir: String): DataFrame =
    warcIngestRows(graft.sources.Warc.toWarcArchives(t(s, dir, "documents")))

  // --------------------------------------------------------------- q142
  /** `.warc.gz` ingestion — the compressed-container path, hash-gated:
    * the SAME archives as q130 but with every record compressed as its
    * own gzip member (the Common Crawl layout, and the crawl analog of
    * the reference's multistream-bz2 sniff,
    * /root/reference/src/main.rs:431-433), decoded by
    * [[graft.sources.Warc.gunzipMembers]]'s member walk before
    * Content-Length framing. The oracle is q130's verbatim — the gate
    * pins decode ∘ compress ≡ identity end-to-end through the whole
    * extraction, so a framing shift, a member dropped by the walk, or
    * a sniff miss all hash-fail.
    */
  private def q142(s: SparkSession, dir: String): DataFrame =
    warcIngestRows(graft.sources.Warc.toWarcArchivesGz(t(s, dir, "documents")))

  private val q130Sql = {
    val crlf = "chr(13) || chr(10)"
    s"""WITH d AS (
       |  SELECT doc_id, text, lang, source,
       |    '<!DOCTYPE html><html><head><title>Doc ' || doc_id || '</title>' ||
       |    '<script type="text/javascript">' || chr(10) || 'WARC/1.0' || chr(10) ||
       |    'var x = 1;</script><style>body { color: #000; }</style></head><body>' ||
       |    chr(10) || '  <h1>Doc ' || doc_id || ' &amp; friends</h1>' || chr(10) ||
       |    '  <!-- nav boilerplate -->' || chr(10) || '  <p>' || text || '</p>' ||
       |    chr(10) || '  <div>lang: ' || lang || ' &lt;' || source || '&gt;</div>' ||
       |    chr(10) || '</body></html>' AS html
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, text, lang, source, html,
       |    'HTTP/1.1 200 OK' || $crlf || 'Content-Type: text/html' || $crlf ||
       |    'Content-Length: ' || length(html) || $crlf || $crlf || html AS http
       |  FROM d)
       |SELECT doc_id,
       |  'urn:doc:' || doc_id AS target_uri,
       |  CAST(length(http) AS BIGINT) AS content_length,
       |  CAST(200 AS INTEGER) AS http_status,
       |  'text/html' AS http_content_type,
       |  'Doc ' || doc_id AS title,
       |  'Doc ' || doc_id || ' Doc ' || doc_id || ' & friends ' ||
       |    trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
       |    ' lang: ' || lang || ' <' || source || '>' AS text
       |FROM h
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q144
  /** Anchor-text aggregation (Warc.extractAnchors) — the off-page
    * description signal: what OTHER pages' link texts call a page, per
    * target. Anchors parse from the same synthetic pages the q135 link
    * graph uses (three messy-alias links per doc, texts x/y/z),
    * targets resolve through urlCanonical, and each target aggregates
    * total in-anchor count, distinct texts, and the top text by
    * (count DESC, text ASC) — the min-of-struct argmax, no window.
    * The oracle re-derives the anchor multiset analytically (the q135
    * edge-CTE style: extraction itself is pinned by q130/q141/q134)
    * and mirrors the aggregation with a row_number tie-break.
    */
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val anchors = withAnchorHtml(t(s, dir, "documents"))
      .select(explode(Warc.extractAnchors(col("html"))).as("a"))
      .select(
        regexp_extract(Warc.urlCanonical(col("a.url")), "/p/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("a.text").as("anchor"))
    val perText = anchors.groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("cnt"))
    perText.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_anchors"),
        count(lit(1)).as("n_texts"),
        min(struct((-col("cnt")).as("neg"), col("anchor").as("t"))).as("b"))
      .select(col("doc_id"), col("n_anchors"), col("n_texts"),
        col("b.t").as("top_text"), (-col("b.neg")).as("top_cnt"))
      .orderBy(col("doc_id"))
  }

  private val q144Sql =
    """WITH n AS (SELECT count(*) AS cnt FROM documents),
      |a0 AS (
      |  SELECT (doc_id * 31 + 7) % cnt AS doc_id, 'x' AS anchor FROM documents, n
      |  UNION ALL
      |  SELECT (doc_id * 31 + 14) % cnt, 'y' FROM documents, n
      |  UNION ALL
      |  SELECT (doc_id * 17 + 3) % cnt, 'z' FROM documents, n),
      |pt AS (SELECT doc_id, anchor, CAST(count(*) AS BIGINT) AS cnt
      |       FROM a0 GROUP BY 1, 2),
      |b AS (SELECT doc_id, anchor, cnt,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, anchor) AS rn
      |      FROM pt),
      |g AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_anchors,
      |        CAST(count(*) AS BIGINT) AS n_texts
      |      FROM pt GROUP BY 1)
      |SELECT g.doc_id, g.n_anchors, g.n_texts,
      |  b.anchor AS top_text, b.cnt AS top_cnt
      |FROM g JOIN b ON b.doc_id = g.doc_id AND b.rn = 1
      |ORDER BY g.doc_id""".stripMargin

  // --------------------------------------------------------------- q145
  /** robots.txt politeness (sources.Robots) — per-URL allow/deny
    * verdicts for agent "graftbot" against synthesized per-site
    * robots.txt files. The PARSE is load-bearing in the gate: even
    * sites carry a cased "GraftBot" group (wildcard + $-anchored
    * patterns) plus a catch-all `Disallow: /` group, odd sites only
    * the catch-all — so group splitting, comment stripping, agent
    * case-folding, AND exact-token-over-star selection must all be
    * right for the rule set the matcher sees to be right. The oracle
    * re-derives the post-parse rules analytically (the q135 style) and
    * mirrors the regex conversion + longest-match/allow-tie fold.
    */
  /** The q145/q147 robots fixture evaluated: per-doc (doc_id, host,
    * path, allowed) verdicts for agent "graftbot".
    */
  private def robotsVerdicts(docs: DataFrame): DataFrame = {
    import graft.sources.Robots
    val ks = docs.select((col("doc_id") % 7).as("k")).distinct()
    val txt = when(col("k") % 2 === 0, concat(
        lit("# site "), col("k"),
        lit("\nUser-agent: GraftBot\nDisallow: /p/*"), col("k"),
        lit("$\nAllow: /p/"), col("k"),
        lit("*\n\nUser-agent: *\nDisallow: /\n")))
      .otherwise(concat(
        lit("# site "), col("k"), lit("\nUser-agent: *\nDisallow: /\n")))
    val robots = ks.select(
      concat(lit("www.site"), col("k"), lit(".org")).as("host"), txt.as("txt"))
    val rules = Robots.parseRules(robots, "host", "txt")
    val urls = docs.select(col("doc_id"),
      concat(lit("www.site"), col("doc_id") % 7, lit(".org")).as("host"),
      concat(lit("/p/"), col("doc_id")).as("path"))
    Robots.isAllowed(urls, "host", "path", rules, "graftbot")
      .select(col("doc_id"), col("host"), col("path"), col("allowed"))
  }

  private def q145(s: SparkSession, dir: String): DataFrame =
    robotsVerdicts(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Shared q145/q147 CTE chain ending in
    * rv(doc_id, host, path, allowed) — the analytically-derived
    * post-parse rule set, the regex conversion, and the
    * longest-match/allow-tie fold.
    */
  private val robotsCtes: String =
    """ks AS (SELECT DISTINCT doc_id % 7 AS k FROM documents),
      |r AS (
      |  SELECT 'www.site' || k || '.org' AS host, false AS allow,
      |         '/p/*' || k || '$' AS pattern FROM ks WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT 'www.site' || k || '.org', true, '/p/' || k || '*'
      |  FROM ks WHERE k % 2 = 0
      |  UNION ALL
      |  SELECT 'www.site' || k || '.org', false, '/' FROM ks WHERE k % 2 = 1),
      |rr AS (SELECT host, allow, pattern,
      |         CAST(length(pattern) AS INTEGER) AS plen,
      |         '^' || replace(
      |           CASE WHEN pattern LIKE '%$'
      |             THEN substring(pattern, 1, length(pattern) - 1)
      |             ELSE pattern END,
      |           '*', '.*') ||
      |         CASE WHEN pattern LIKE '%$' THEN '$' ELSE '' END AS re
      |       FROM r),
      |u AS (SELECT doc_id, 'www.site' || (doc_id % 7) || '.org' AS host,
      |        '/p/' || doc_id AS path FROM documents),
      |m AS (SELECT u.doc_id, rr.allow, rr.plen
      |      FROM u JOIN rr ON u.host = rr.host AND regexp_matches(u.path, rr.re)),
      |b AS (SELECT doc_id, allow,
      |        row_number() OVER (PARTITION BY doc_id
      |          ORDER BY plen DESC, CASE WHEN allow THEN 0 ELSE 1 END) AS rn
      |      FROM m),
      |rv AS (SELECT u.doc_id, u.host, u.path, coalesce(bb.allow, true) AS allowed
      |       FROM u LEFT JOIN (SELECT doc_id, allow FROM b WHERE rn = 1) bb
      |         USING (doc_id))""".stripMargin

  private val q145Sql =
    s"""WITH $robotsCtes
       |SELECT doc_id, host, path, allowed FROM rv
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q146
  /** Sitemap ingestion (Warc.sitemapEntries), hash-gated the q130 way:
    * each site's pages render into ONE real sitemap.xml (entries in
    * doc_id order; every third page omits `<priority>` → the spec
    * default 0.5, every fifth omits `<lastmod>` → empty string), the
    * extractor explodes them back, and priorities surface as EXACT ppm
    * parsed from the decimal string (never through a double — 0.7·10⁶
    * in float64 truncates to 699999). The oracle re-derives every
    * field analytically from the same cycles.
    */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val docs = t(s, dir, "documents")
    val entry = concat(
      lit("<url><loc>https://www.site"), col("doc_id") % 7,
      lit(".org/p/"), col("doc_id"), lit("</loc>"),
      when(col("doc_id") % 5 =!= 0, concat(lit("<lastmod>2024-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        lit("</lastmod>"))).otherwise(lit("")),
      when(col("doc_id") % 3 =!= 0, concat(lit("<priority>0."),
        col("doc_id") % 10, lit("</priority>"))).otherwise(lit("")),
      lit("</url>"))
    val sites = docs
      .select((col("doc_id") % 7).as("k"), col("doc_id"), entry.as("e"))
      .groupBy(col("k"))
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("e")))),
          x => x.getField("e")), ""),
        lit("</urlset>")).as("xml"))
    sites.select(col("k"), explode(Warc.sitemapEntries(col("xml"))).as("u"))
      .select(
        regexp_extract(col("u.loc"), "/p/(\\d+)$", 1).cast("long").as("doc_id"),
        concat(lit("www.site"), col("k"), lit(".org")).as("host"),
        col("u.lastmod").as("lastmod"),
        col("u.priority_ppm").as("priority_ppm"))
      .orderBy(col("doc_id"))
  }

  private val q146Sql =
    """SELECT doc_id,
      |  'www.site' || (doc_id % 7) || '.org' AS host,
      |  CASE WHEN doc_id % 5 <> 0
      |    THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |    ELSE '' END AS lastmod,
      |  CAST(CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 10) * 100000
      |       ELSE 500000 END AS BIGINT) AS priority_ppm
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q147
  /** Frontier scheduling — the crawl-side composition query (the q136
    * discipline: every stage an already-gated operator): robots-allowed
    * pages (q145's verdicts) carry their sitemap priority (q146's
    * cycle) and link rank (q135's graph), and each host schedules its
    * pages into fetch WAVES — row_number per host by (priority DESC,
    * rank DESC, doc_id) — the politeness-correct order: wave w of
    * every host can fetch in parallel, no host monopolizes the
    * frontier head, and there is deliberately NO global position (a
    * global frontier sort is both a scale smell and semantically
    * wrong — hosts are independent rate domains). Per-host window =
    * shuffle by host, the partitioning a fetcher needs anyway.
    */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val ranks = LinkGraph.pageRankInt(
      docs.select(col("doc_id")), "doc_id", extractedEdges(docs), "src", "dst", iters = 3)
    val pri = when(col("doc_id") % 3 =!= 0, (col("doc_id") % 10) * 100000L)
      .otherwise(lit(500000L)).cast("long")
    val f = robotsVerdicts(docs).filter(col("allowed"))
      .join(ranks, Seq("doc_id"))
      .withColumn("priority_ppm", pri)
    f.withColumn("wave", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(col("priority_ppm").desc, col("rank_ppm").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("host"), col("wave"),
        col("priority_ppm"), col("rank_ppm"))
      .orderBy(col("doc_id"))
  }

  // lazy: rankGraphCtes is declared later in the object and vals
  // initialize in declaration order — eager interpolation reads null
  private lazy val q147Sql =
    s"""WITH $robotsCtes,
       |$rankGraphCtes,
       |pri AS (SELECT doc_id,
       |          CAST(CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 10) * 100000
       |               ELSE 500000 END AS BIGINT) AS priority_ppm
       |        FROM documents),
       |f AS (SELECT rv.doc_id, rv.host, pri.priority_ppm, r3.rank AS rank_ppm
       |      FROM rv JOIN pri USING (doc_id) JOIN r3 ON r3.id = rv.doc_id
       |      WHERE rv.allowed)
       |SELECT doc_id, host,
       |  CAST(row_number() OVER (PARTITION BY host
       |    ORDER BY priority_ppm DESC, rank_ppm DESC, doc_id) AS BIGINT) AS wave,
       |  priority_ppm, rank_ppm
       |FROM f
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q134
  /** URL canonicalization + URL-level exact dedup — the first dedup a
    * crawl pipeline runs (the q130 discipline: documents synthesize
    * deterministically MESSY recrawl-alias URLs — each page id appears
    * once clean and once with uppercase scheme/host, the default :443
    * port, shuffled params, a utm_* tracking param, and a fragment —
    * and the oracle re-derives the FULL canonicalization generically
    * with SQL regexp/list ops, not the analytic shortcut). Keep-min
    * per canonical URL: the two aliases of every page must collapse,
    * so survivors are exactly the even doc_ids. Map-only codegen
    * rewrite + one groupBy — the 100 TB shape needs nothing else.
    */
  /** The q134/q136 recrawl-alias URL: every page id appears once
    * clean (even doc_id) and once with uppercase scheme/host, the
    * default :443, shuffled params, a utm_* param and a fragment (odd
    * doc_id) — all the mess [[graft.sources.Warc.urlCanonical]]
    * collapses.
    */
  private def messyUrl: org.apache.spark.sql.Column = {
    val page = expr("doc_id DIV 2")
    when(col("doc_id") % 2 === 0,
      concat(lit("https://www.site"), page % 7, lit(".org/p/"), page, lit("?a=1&b=2")))
      .otherwise(
        concat(lit("HTTPS://WWW.SITE"), page % 7, lit(".ORG:443/p/"), page,
          lit("?b=2&utm_source=x&a=1#frag")))
  }

  /** URL-level dedup survivors: keep-min doc_id per canonical URL.
    * Returns (doc_id, canonical_url).
    */
  private def urlSurvivors(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.sources.Warc.urlCanonical(messyUrl).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("doc_id"))

  private def q134(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    urlSurvivors(t(s, dir, "documents"))
      .select(
        col("doc_id"),
        col("canonical_url"),
        Warc.registeredDomain(Warc.urlHost(col("canonical_url"))).as("domain"))
      .orderBy(col("doc_id"))
  }

  /** Shared canonicalization CTEs (q134 + q136): the messy-alias URL
    * build + the generic canonicalization chain, ending in
    * kept(canonical_url, doc_id) — the URL-dedup survivors.
    */
  private val urlCanonCtes: String =
    """u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN 'https://www.site' || (doc_id // 2) % 7 || '.org/p/' ||
      |           (doc_id // 2) || '?a=1&b=2'
      |      ELSE 'HTTPS://WWW.SITE' || (doc_id // 2) % 7 || '.ORG:443/p/' ||
      |           (doc_id // 2) || '?b=2&utm_source=x&a=1#frag'
      |    END AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[^:]+://([^/?#]*)', 1)) AS hostport,
      |    regexp_extract(url, '^[^:]+://[^/?#]*([^#]*)', 1) AS rest
      |  FROM u),
      |c2 AS (
      |  SELECT doc_id, scheme,
      |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |         ELSE hostport END AS host,
      |    CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
      |         ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^utm_'))), '&') AS qs
      |  FROM c),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' || host || path ||
      |      CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
      |  FROM c2),
      |kept AS (
      |  SELECT canonical_url, min(doc_id) AS doc_id
      |  FROM canon GROUP BY canonical_url)""".stripMargin

  /** The registered-domain projection over a canonical URL — the
    * last-two-labels heuristic mirrored from Warc.registeredDomain.
    */
  private val domainSql: String =
    """regexp_extract(regexp_replace(
      |    lower(regexp_extract(canonical_url, '^[^:]+://([^/?#]*)', 1)),
      |    ':[0-9]+$', ''), '([^.]+\.[^.]+)$', 1)""".stripMargin

  private val q134Sql: String =
    "WITH " + urlCanonCtes + "\n" +
      "SELECT doc_id, canonical_url,\n  " + domainSql + " AS domain\n" +
      "FROM kept\nORDER BY doc_id"

  // --------------------------------------------------------------- q135
  /** Crawl link graph + integer PageRank, hash-gated end-to-end: each
    * document renders as a page with three deterministic outlink
    * anchors (clean / uppercase-host-with-:443-and-fragment / utm-
    * tracking variants — every messy form q134 canonicalizes), the
    * edge list is EXTRACTED (extractLinks → urlCanonical → page-id
    * parse), and LinkGraph.pageRankInt runs 3 truncating-BIGINT
    * iterations. The oracle derives the edge set analytically from
    * the same formulas and unrolls the 3 iterations as CTE levels —
    * passing pins the whole chain: anchor extraction, alias
    * canonicalization, dedup-to-votes, and every integer division of
    * the rank recurrence.
    */
  /** The q135/q136 extracted link graph: anchors rendered from the
    * deterministic outlink formulas, then EXTRACTED back
    * (extractLinks → urlCanonical → page-id parse). Returns the
    * (src, dst) edge list, duplicates included (LinkGraph collapses).
    */
  /** Each document rendered as a page of three anchors (targets
    * (doc_id·a + b) mod cnt with messy-alias URLs, anchor texts
    * x/y/z) — the shared synthetic input of the q135/q136/q138/q144
    * crawl-graph family. Returns (doc_id, html).
    */
  private def withAnchorHtml(docs: DataFrame): DataFrame = {
    // corpus size as a broadcast scalar (the scalar-attach idiom)
    val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
    val d1 = (col("doc_id") * 31 + 7) % col("cnt")
    val d2 = (col("doc_id") * 31 + 14) % col("cnt")
    val d3 = (col("doc_id") * 17 + 3) % col("cnt")
    val html = concat(
      lit("<html><body><a href=\"https://www.site"), d1 % 7,
      lit(".org/p/"), d1, lit("\">x</a>"),
      lit("<a class=\"nav\" href=\"HTTPS://WWW.SITE"), d2 % 7,
      lit(".ORG:443/p/"), d2, lit("#top\">y</a>"),
      lit("<a href=\"https://www.site"), d3 % 7,
      lit(".org/p/"), d3, lit("?utm_source=feed\">z</a></body></html>"))
    withCnt.select(col("doc_id"), html.as("html"))
  }

  private def extractedEdges(docs: DataFrame): DataFrame = {
    import graft.sources.Warc
    withAnchorHtml(docs)
      .select(col("doc_id").as("src"), explode(Warc.extractLinks(col("html"))).as("url"))
      .select(col("src"),
        regexp_extract(Warc.urlCanonical(col("url")), "/p/(\\d+)$", 1)
          .cast("long").as("dst"))
  }

  private def q135(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    val edges = extractedEdges(docs)
    val ranks = LinkGraph.pageRankInt(
      docs.select(col("doc_id")), "doc_id", edges, "src", "dst", iters = 3)
    val inDeg = edges.distinct()
      .groupBy(col("dst")).agg(count(lit(1)).as("in_links"))
      .withColumnRenamed("dst", "doc_id")
    ranks.join(inDeg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rank_ppm"),
        coalesce(col("in_links"), lit(0L)).as("in_links"))
      .orderBy(col("doc_id"))
  }

  /** Shared rank-chain CTEs (q135 + q136): analytic edge derivation +
    * 3 unrolled truncating-integer PageRank levels ending in
    * r3(id, rank).
    */
  /** The analytic link-graph edge CTEs alone (n, e0, e) — shared by
    * the rank chain below and the HITS/crawl-depth oracles (q174,
    * q176), which run different recurrences over the SAME graph.
    */
  private val edgeCtes: String =
    """n AS (SELECT count(*) AS cnt FROM documents),
      |e0 AS (
      |  SELECT doc_id AS src, (doc_id * 31 + 7) % cnt AS dst FROM documents, n
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 31 + 14) % cnt FROM documents, n
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 17 + 3) % cnt FROM documents, n),
      |e AS (SELECT DISTINCT src, dst FROM e0)""".stripMargin

  private val rankGraphCtes: String = {
    val levels = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""s$i AS (
         |  SELECT e.dst AS id, CAST(sum($prev.rank // od.deg) AS BIGINT) AS s
         |  FROM e JOIN od USING (src) JOIN $prev ON $prev.id = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT d.doc_id AS id,
         |    CAST(150000 + (850000 * coalesce(s$i.s, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM documents d LEFT JOIN s$i ON s$i.id = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS rank FROM documents),
       |$levels""".stripMargin
  }

  private val q135Sql =
    s"""WITH $rankGraphCtes,
       |ind AS (SELECT dst, count(*) AS n FROM e GROUP BY dst)
       |SELECT r3.id AS doc_id, r3.rank AS rank_ppm,
       |  CAST(coalesce(ind.n, 0) AS BIGINT) AS in_links
       |FROM r3 LEFT JOIN ind ON ind.dst = r3.id
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q138
  /** Domain-level link analysis — graph CONDENSATION, the shape link
    * quality actually computes at corpus scale: the page graph
    * (billions of nodes) collapses to the domain graph (millions)
    * by grouping both endpoints, page-link multiplicity becomes the
    * edge weight, and weighted integer PageRank runs on the condensed
    * graph at a vanishing fraction of the page-level cost. A page's
    * domain is where its URL lives (site{id mod 7} — the same
    * placement the q135 anchors use). Oracle unrolls the weighted
    * recurrence `(rank·w) DIV W_src` exactly.
    */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    // condense: dedup'd page edges -> weighted domain edges
    val de = extractedEdges(docs).distinct()
      .select((col("src") % 7).as("sd"), (col("dst") % 7).as("dd"))
      .groupBy(col("sd"), col("dd")).agg(count(lit(1)).as("w"))
    val nodes = docs.select((col("doc_id") % 7).as("dom")).distinct()
    val ranks = LinkGraph.pageRankWeightedInt(
      nodes, "dom", de, "sd", "dd", "w", iters = 3)
    val pages = docs.groupBy((col("doc_id") % 7).as("dom"))
      .agg(count(lit(1)).as("n_pages"))
    ranks.join(pages, Seq("dom"))
      .select(concat(lit("site"), col("dom")).as("domain"),
        col("rank_ppm"), col("n_pages"))
      .orderBy(col("domain"))
  }

  /** The q138 condensed-graph CTE chain ending in w3(id, rank) +
    * pg(dom, n_pages) — shared verbatim by the q138 oracle and the
    * q168 apportionment oracle.
    */
  private val domainRankCtes: String = {
    val levels = (1 to 3).map { i =>
      val prev = s"w${i - 1}"
      s"""t$i AS (
         |  SELECT de.dd AS id,
         |    CAST(sum(($prev.rank * de.w) // wt.wt) AS BIGINT) AS s
         |  FROM de JOIN wt USING (sd) JOIN $prev ON $prev.id = de.sd
         |  GROUP BY de.dd),
         |w$i AS (
         |  SELECT nd.dom AS id,
         |    CAST(150000 + (850000 * coalesce(t$i.s, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM nd LEFT JOIN t$i ON t$i.id = nd.dom)""".stripMargin
    }.mkString(",\n")
    s"""n AS (SELECT count(*) AS cnt FROM documents),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id * 31 + 7) % cnt AS dst FROM documents, n
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 31 + 14) % cnt FROM documents, n
       |  UNION ALL
       |  SELECT doc_id, (doc_id * 17 + 3) % cnt FROM documents, n),
       |e AS (SELECT DISTINCT src, dst FROM e0),
       |de AS (SELECT src % 7 AS sd, dst % 7 AS dd,
       |         CAST(count(*) AS BIGINT) AS w
       |       FROM e GROUP BY src % 7, dst % 7),
       |wt AS (SELECT sd, CAST(sum(w) AS BIGINT) AS wt FROM de GROUP BY sd),
       |nd AS (SELECT DISTINCT doc_id % 7 AS dom FROM documents),
       |w0 AS (SELECT dom AS id, CAST(1000000 AS BIGINT) AS rank FROM nd),
       |$levels,
       |pg AS (SELECT doc_id % 7 AS dom, CAST(count(*) AS BIGINT) AS n_pages
       |       FROM documents GROUP BY doc_id % 7)""".stripMargin
  }

  private val q138Sql =
    s"""WITH $domainRankCtes
       |SELECT 'site' || w3.id AS domain, w3.rank AS rank_ppm, pg.n_pages
       |FROM w3 JOIN pg ON pg.dom = w3.id
       |ORDER BY domain""".stripMargin

  // --------------------------------------------------------------- q168
  /** Crawl-budget apportionment (LinkGraph.apportionBudget): 1000
    * fetch slots across the q138 condensed domains, ∝ weighted domain
    * rank, largest-remainder method — floor(1000·w ÷ Σw) per domain,
    * leftover slots one each to the largest remainders (ties to the
    * smaller domain). All-integer: Σslots ≡ 1000 EXACTLY — the
    * invariant the float version breaks by ±k and downstream slot
    * consumers count on. The oracle re-derives q138's rank chain
    * (shared CTEs) and the full apportionment arithmetic.
    */
  private def q168(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    val de = extractedEdges(docs).distinct()
      .select((col("src") % 7).as("sd"), (col("dst") % 7).as("dd"))
      .groupBy(col("sd"), col("dd")).agg(count(lit(1)).as("w"))
    val nodes = docs.select((col("doc_id") % 7).as("dom")).distinct()
    val ranks = LinkGraph.pageRankWeightedInt(
        nodes, "dom", de, "sd", "dd", "w", iters = 3)
      .select(concat(lit("site"), col("dom")).as("domain"), col("rank_ppm"))
    LinkGraph.apportionBudget(ranks, "domain", "rank_ppm", budget = 1000L)
      .orderBy(col("domain"))
  }

  private val q168Sql =
    s"""WITH $domainRankCtes,
       |r AS (SELECT 'site' || w3.id AS domain, w3.rank AS rank_ppm FROM w3),
       |tt AS (SELECT CAST(sum(rank_ppm) AS BIGINT) AS tot FROM r),
       |b AS (SELECT domain, rank_ppm,
       |        CAST((1000 * rank_ppm) // tot AS BIGINT) AS base,
       |        CAST((1000 * rank_ppm) % tot AS BIGINT) AS rem
       |      FROM r CROSS JOIN tt),
       |lv AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM b),
       |rk AS (SELECT domain, rank_ppm, base,
       |         row_number() OVER (ORDER BY rem DESC, domain) AS rn
       |       FROM b)
       |SELECT domain, rank_ppm,
       |  CAST(base + CASE WHEN rn <= lv.leftover THEN 1 ELSE 0 END AS BIGINT) AS slots
       |FROM rk CROSS JOIN lv
       |ORDER BY domain""".stripMargin

  // --------------------------------------------------------------- q174
  /** HITS hubs and authorities (LinkGraph.hitsInt) over the q135
    * anchor graph — the second link-quality axis: PageRank finds
    * globally endorsed pages, HITS separates link DIRECTORIES (hub)
    * from endorsed CONTENT (authority), the signal that demotes link
    * farms whose PageRank looks healthy. Two max-normalized integer
    * iterations; the oracle unrolls them as CTE levels over the
    * shared analytic edge set — every sum/normalize is truncating
    * BIGINT arithmetic, so the gate pins the recurrence exactly.
    */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    LinkGraph.hitsInt(docs.select(col("doc_id")), "doc_id",
        extractedEdges(docs), "src", "dst", iters = 2)
      .orderBy(col("doc_id"))
  }

  private lazy val q174Sql = {
    val levels = (1 to 2).map { i =>
      val ph = s"h${i - 1}"
      s"""ar$i AS (
         |  SELECT e.dst AS id, sum($ph.v) AS s
         |  FROM e JOIN $ph ON $ph.id = e.src GROUP BY e.dst),
         |am$i AS (SELECT coalesce(max(s), 1) AS m FROM ar$i),
         |a$i AS (
         |  SELECT d.doc_id AS id,
         |    CAST((coalesce(ar$i.s, 0) * 1000000) // am$i.m AS BIGINT) AS v
         |  FROM documents d LEFT JOIN ar$i ON ar$i.id = d.doc_id
         |  CROSS JOIN am$i),
         |hr$i AS (
         |  SELECT e.src AS id, sum(a$i.v) AS s
         |  FROM e JOIN a$i ON a$i.id = e.dst GROUP BY e.src),
         |hm$i AS (SELECT coalesce(max(s), 1) AS m FROM hr$i),
         |h$i AS (
         |  SELECT d.doc_id AS id,
         |    CAST((coalesce(hr$i.s, 0) * 1000000) // hm$i.m AS BIGINT) AS v
         |  FROM documents d LEFT JOIN hr$i ON hr$i.id = d.doc_id
         |  CROSS JOIN hm$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |h0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS v FROM documents),
       |$levels
       |SELECT h2.id AS doc_id, h2.v AS hub_ppm, a2.v AS auth_ppm
       |FROM h2 JOIN a2 ON a2.id = h2.id
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q175
  /** Redirect-chain resolution (LinkGraph.resolveRedirects): the 3xx
    * chains a crawl contains (http→https, slash canonicalization,
    * moved pages) collapse to final targets by pointer DOUBLING —
    * ⌈log₂ maxHops⌉ self-joins of the redirect map instead of a
    * hop-at-a-time walk. Fixture chains are analytic: runs of three
    * consecutive redirect sources (doc_id % 10 ∈ {0,1,2} → +1, so
    * chains of 1–3 hops), plus a deliberate 2-CYCLE pair
    * (% 50 = 48 ↔ 49) that must come back `resolved = false` with
    * hops = maxHops — exactly what a fetcher's redirect cap reports.
    * maxHops = 4 (a power of two, so the doubled walk's terminal hop
    * count on cycles equals the oracle's bounded step-walk). Oracle:
    * bounded recursive CTE, terminal row per source = max-hop row.
    */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    val red = docs.select(col("doc_id").as("i"))
      .withColumn("tgt",
        when(col("i") % 50 === 48, col("i") + 1)
          .when(col("i") % 50 === 49, col("i") - 1)
          .when(col("i") % 10 <= 2, col("i") + 1))
      .filter(col("tgt").isNotNull)
      .select(concat(lit("u"), col("i")).as("src_url"),
        concat(lit("u"), col("tgt")).as("dst_url"))
    LinkGraph.resolveRedirects(red, "src_url", "dst_url", maxHops = 4)
      .orderBy(col("url"))
  }

  private val q175Sql =
    """WITH RECURSIVE red AS (
      |  SELECT 'u' || doc_id AS u,
      |    'u' || CASE WHEN doc_id % 50 = 48 THEN doc_id + 1
      |                WHEN doc_id % 50 = 49 THEN doc_id - 1
      |                WHEN doc_id % 10 <= 2 THEN doc_id + 1 END AS t
      |  FROM documents
      |  WHERE doc_id % 50 IN (48, 49) OR doc_id % 10 <= 2),
      |w AS (
      |  SELECT u AS u0, t AS cur, 1 AS h FROM red
      |  UNION ALL
      |  SELECT w.u0, red.t, w.h + 1 FROM w JOIN red ON red.u = w.cur
      |  WHERE w.h < 4),
      |f AS (SELECT w.u0, w.cur, w.h FROM w
      |      JOIN (SELECT u0, max(h) AS mh FROM w GROUP BY u0) q
      |        ON q.u0 = w.u0 AND q.mh = w.h)
      |SELECT u0 AS url, cur AS final_url, CAST(h AS BIGINT) AS hops,
      |  (cur NOT IN (SELECT u FROM red)) AND h <= 4 AS resolved
      |FROM f ORDER BY url""".stripMargin

  // --------------------------------------------------------------- q176
  /** Minimum-hop crawl depth from a seed set (LinkGraph.crawlDepth)
    * over the q135 anchor graph — the "how far from the quality
    * seeds" signal seeded crawls key frontier budgets on. Seeds =
    * doc_id % 97 = 0 (sparse, so depths 0–3 and unreached −1 all
    * occur); BFS = per-level frontier⋈edges + anti-join against the
    * visited set, costing |frontier| not |graph|. Oracle: bounded
    * recursive CTE + min(), the textbook shortest-path re-derivation.
    */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    LinkGraph.crawlDepth(docs.select(col("doc_id")), "doc_id",
        extractedEdges(docs), "src", "dst",
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id")), "doc_id",
        maxDepth = 3)
      .orderBy(col("doc_id"))
  }

  private lazy val q176Sql =
    s"""WITH RECURSIVE $edgeCtes,
       |b AS (
       |  SELECT doc_id AS id, 0 AS d FROM documents WHERE doc_id % 97 = 0
       |  UNION ALL
       |  SELECT e.dst, b.d + 1 FROM b JOIN e ON e.src = b.id WHERE b.d < 3),
       |md AS (SELECT id, min(d) AS d FROM b GROUP BY id)
       |SELECT dd.doc_id AS doc_id, CAST(coalesce(md.d, -1) AS BIGINT) AS depth
       |FROM documents dd LEFT JOIN md ON md.id = dd.doc_id
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q187
  /** Community detection by synchronous label propagation
    * (LinkGraph.labelPropagationInt) over the UNDIRECTED q135 anchor
    * graph — the graph signal components can't give: q49's connected
    * components fuse everything one bridge link reaches; LPA converges
    * to locally DENSE groups (mirror farms, template families, spam
    * rings) and splits sparse bridges. Three deterministic rounds
    * (most-frequent previous-round neighbor label, ties to the
    * smallest), then each community's size joins on so the output
    * reads as a community roster. The oracle unrolls the rounds as
    * count→argmax CTE levels over the symmetrized analytic edge set —
    * pure counting, hash-exact.
    */
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    val com = LinkGraph.labelPropagationInt(docs.select(col("doc_id")),
      "doc_id", extractedEdges(docs), "src", "dst", iters = 3)
    val sizes = com.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    com.join(sizes, Seq("community"))
      .select(col("doc_id"), col("community"), col("community_size"))
      .orderBy(col("doc_id"))
  }

  private lazy val q187Sql = {
    val levels = (1 to 3).map { i =>
      val prev = s"l${i - 1}"
      s"""c$i AS (
         |  SELECT eu.a AS id, $prev.lbl AS lbl, count(*) AS c
         |  FROM eu JOIN $prev ON $prev.id = eu.b GROUP BY eu.a, $prev.lbl),
         |b$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl,
         |      row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1),
         |l$i AS (
         |  SELECT $prev.id, coalesce(b$i.lbl, $prev.lbl) AS lbl
         |  FROM $prev LEFT JOIN b$i USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |eu AS (SELECT src AS a, dst AS b FROM e WHERE src <> dst
       |       UNION
       |       SELECT dst, src FROM e WHERE src <> dst),
       |l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents),
       |$levels,
       |cs AS (SELECT lbl, count(*) AS n FROM l3 GROUP BY lbl)
       |SELECT l3.id AS doc_id, l3.lbl AS community,
       |  CAST(cs.n AS BIGINT) AS community_size
       |FROM l3 JOIN cs ON cs.lbl = l3.lbl
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q188
  /** TrustRank — seeded PageRank (LinkGraph.personalizedPageRankInt)
    * over the q135 anchor graph with the q176 seed set (doc_id % 97 =
    * 0): teleport mass lands ONLY on trusted seeds, so a page's score
    * is link-path endorsement FROM the seeds — the anti-spam
    * counterpart of q135's uniform rank, whose per-page teleport
    * stipend a self-linking farm can amplify. Pages unreachable from
    * any seed converge to an exact integer 0 (the q176 depth −1 set,
    * a cross-query invariant). Oracle: the q135 unroll with the
    * teleport term gated on the seed predicate.
    */
  private def q188(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    LinkGraph.personalizedPageRankInt(docs.select(col("doc_id")), "doc_id",
        extractedEdges(docs), "src", "dst",
        docs.filter(col("doc_id") % 97 === 0).select(col("doc_id")), "doc_id",
        iters = 3)
      .orderBy(col("doc_id"))
  }

  private lazy val q188Sql = {
    val levels = (1 to 3).map { i =>
      val prev = s"p${i - 1}"
      s"""u$i AS (
         |  SELECT e.dst AS id, CAST(sum($prev.rank // od.deg) AS BIGINT) AS s
         |  FROM e JOIN od USING (src) JOIN $prev ON $prev.id = e.src
         |  GROUP BY e.dst),
         |p$i AS (
         |  SELECT d.doc_id AS id,
         |    CAST(CASE WHEN d.doc_id % 97 = 0 THEN 150000 ELSE 0 END
         |      + (850000 * coalesce(u$i.s, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM documents d LEFT JOIN u$i ON u$i.id = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgeCtes,
       |od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |p0 AS (SELECT doc_id AS id,
       |         CAST(CASE WHEN doc_id % 97 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
       |       FROM documents),
       |$levels
       |SELECT p3.id AS doc_id, p3.rank AS trust_ppm,
       |  (p3.id % 97 = 0) AS is_seed
       |FROM p3
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q193
  /** Degree + reciprocity report (LinkGraph.degreeStats) over the
    * q135 anchor graph: per page out/in degree and the ppm of
    * out-links that are reciprocated — the link-exchange/spam-ring
    * signature (Becchetti et al. 2008's web-spam feature family)
    * next to the rank queries reading the SAME edges. Reciprocity is
    * one self equi-join on the swapped pair key, never node×node;
    * the oracle re-derives all three counts independently.
    */
  private def q193(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    LinkGraph.degreeStats(docs.select(col("doc_id")), "doc_id",
        extractedEdges(docs), "src", "dst")
      .orderBy(col("doc_id"))
  }

  private val q193Sql =
    s"""WITH $edgeCtes,
       |ee AS (SELECT src, dst FROM e WHERE src <> dst),
       |od AS (SELECT src AS id, count(*) AS o FROM ee GROUP BY src),
       |ind AS (SELECT dst AS id, count(*) AS i FROM ee GROUP BY dst),
       |rc AS (SELECT x.src AS id, count(*) AS r
       |       FROM ee x JOIN ee y ON x.src = y.dst AND x.dst = y.src
       |       GROUP BY x.src)
       |SELECT d.doc_id,
       |  CAST(coalesce(od.o, 0) AS BIGINT) AS out_deg,
       |  CAST(coalesce(ind.i, 0) AS BIGINT) AS in_deg,
       |  CAST(coalesce(rc.r, 0) AS BIGINT) AS n_reciprocal,
       |  CAST(CASE WHEN coalesce(od.o, 0) > 0
       |       THEN (coalesce(rc.r, 0) * 1000000) // od.o
       |       ELSE 0 END AS BIGINT) AS recip_ppm
       |FROM documents d
       |LEFT JOIN od ON od.id = d.doc_id
       |LEFT JOIN ind ON ind.id = d.doc_id
       |LEFT JOIN rc ON rc.id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q205
  /** Template-family detection (Warc.templateFingerprint): pages
    * group by the md5 of their OPENING-TAG sequence — the
    * crawl-curation signal text dedup can't give (generated-site
    * farms and mirror shells are lexically distinct but structurally
    * identical). The q135 anchor pages get one of four analytic
    * template variants (div/p, ul/li/li, table/tr/td, bare), so the
    * gate pins the tag extraction itself: the oracle computes the
    * EXPECTED tag sequence per variant analytically and hashes it —
    * an extractor that caught attribute junk or missed a tag breaks
    * every group.
    */
  private def q205(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val extra = when(col("doc_id") % 4 === 0, lit("<div><p>t</p></div>"))
      .when(col("doc_id") % 4 === 1, lit("<ul><li>i</li><li>j</li></ul>"))
      .when(col("doc_id") % 4 === 2, lit("<table><tr><td>c</td></tr></table>"))
      .otherwise(lit(""))
    withAnchorHtml(t(s, dir, "documents"))
      .select(col("doc_id"),
        Warc.templateFingerprint(concat(col("html"), extra)).as("structure_fp"))
      .groupBy(col("structure_fp"))
      .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("sample_doc"))
      .orderBy(col("sample_doc"))
  }

  private val q205Sql =
    """SELECT md5(CASE doc_id % 4
      |    WHEN 0 THEN 'html>body>a>a>a>div>p'
      |    WHEN 1 THEN 'html>body>a>a>a>ul>li>li'
      |    WHEN 2 THEN 'html>body>a>a>a>table>tr>td'
      |    ELSE 'html>body>a>a>a' END) AS structure_fp,
      |  CAST(count(*) AS BIGINT) AS n_pages,
      |  CAST(min(doc_id) AS BIGINT) AS sample_doc
      |FROM documents
      |GROUP BY 1
      |ORDER BY sample_doc""".stripMargin

  // --------------------------------------------------------------- q206
  /** URL template mining (Warc.urlPathTemplate) — the crawler-trap /
    * frontier-dedup unit: URLs collapse to path templates (hex ids →
    * {h}, digit runs → {n}, query values dropped, param names sorted)
    * and the report counts URLs per (host, template). Three analytic
    * URL shapes exercise every masking rule: a paginated article path
    * with two query params, a zero-padded hex content id, and a
    * static page. The oracle re-derives each template analytically
    * from the doc_id arithmetic — a masking rule that over- or
    * under-matches breaks its group.
    */
  private def q206(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val docs = t(s, dir, "documents")
    val url = concat(lit("https://www.site"), col("doc_id") % 7, lit(".org"),
      when(col("doc_id") % 3 === 0,
        concat(lit("/p/"), col("doc_id"),
          lit("?utm_source=feed&ref="), col("doc_id")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("/article/"),
            lpad(lower(hex(col("doc_id"))), 8, "0")))
        .otherwise(lit("/about")))
    docs.select(Warc.urlHost(url).as("host"),
        Warc.urlPathTemplate(url).as("path_template"))
      .groupBy(col("host"), col("path_template"))
      .agg(count(lit(1)).as("n_urls"))
      .orderBy(col("host"), col("path_template"))
  }

  private val q206Sql =
    """SELECT 'www.site' || (doc_id % 7) || '.org' AS host,
      |  CASE doc_id % 3
      |    WHEN 0 THEN '/p/{n}?ref&utm_source'
      |    WHEN 1 THEN '/article/{h}'
      |    ELSE '/about' END AS path_template,
      |  CAST(count(*) AS BIGINT) AS n_urls
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY host, path_template""".stripMargin

  // --------------------------------------------------------------- q208
  /** Page-metadata extraction (Warc.metaContent / htmlTitle): title,
    * og:title, and description per page, with the fixture exercising
    * BOTH meta attribute orders (property-first on even ids,
    * content-first on odd — real serializers emit both) and a missing
    * description on %3 = 0 (must degrade to empty, not null, not a
    * parse error). Map-only; oracle re-derives every field from the
    * doc_id arithmetic.
    */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val docs = t(s, dir, "documents")
    val metaTitle = when(col("doc_id") % 2 === 0,
      concat(lit("<meta property=\"og:title\" content=\"T"), col("doc_id"),
        lit("\"/>")))
      .otherwise(concat(lit("<meta content=\"T"), col("doc_id"),
        lit("\" property=\"og:title\"/>")))
    val metaDesc = when(col("doc_id") % 3 =!= 0,
      concat(lit("<meta name=\"description\" content=\"D"), col("doc_id") % 10,
        lit("\"/>"))).otherwise(lit(""))
    val html = concat(lit("<html><head><TITLE> Doc "), col("doc_id"),
      lit(" </TITLE>"), metaTitle, metaDesc, lit("</head><body>x</body></html>"))
    docs.select(col("doc_id"),
        trim(Warc.htmlTitle(html)).as("title"),
        Warc.metaContent(html, "og:title").as("og_title"),
        Warc.metaContent(html, "description").as("description"))
      .orderBy(col("doc_id"))
  }

  private val q208Sql =
    """SELECT doc_id,
      |  'Doc ' || doc_id AS title,
      |  'T' || doc_id AS og_title,
      |  CASE WHEN doc_id % 3 <> 0 THEN 'D' || (doc_id % 10) ELSE '' END
      |    AS description
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q214
  /** Event-rate spike detection — the ingest-monitoring report a data
    * pipeline alarms on (a scraper gone hot, a bot flood, a broken
    * dedup upstream): per (event_type, day) the count against its
    * TRAILING 7-observed-day mean in exact ppm, spike at ≥ 2×. A 3×
    * burst is PLANTED on 2024-01-15 (the day's rows union in twice
    * more), so the spike flag provably fires — and only there. All
    * integer (trailing mean is a floor-div of window sums); one
    * day-grain aggregate then a type-keyed ordered window over ~30
    * rows per type — the q192 bounded-window class.
    */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val burst = ev.filter(to_date(col("ts")) === lit("2024-01-15"))
    val all = ev.union(burst).union(burst)
    val days = all.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    days.withColumn("trail_sum", sum(col("n")).over(w))
      .withColumn("trail_days", count(col("n")).over(w))
      .withColumn("ratio_ppm", expr(
        "CASE WHEN trail_days > 0 THEN (n * 1000000L) DIV (trail_sum DIV trail_days) " +
          "ELSE 0L END"))
      .select(col("event_type"), col("day"), col("n").cast("long").as("n"),
        col("ratio_ppm"), (col("ratio_ppm") >= 2000000L).as("spike"))
      .orderBy(col("event_type"), col("day"))
  }

  private val q214Sql =
    """WITH b AS (SELECT event_type, ts FROM events
      |           WHERE CAST(ts AS DATE) = DATE '2024-01-15'),
      |allr AS (SELECT event_type, ts FROM events
      |         UNION ALL SELECT * FROM b UNION ALL SELECT * FROM b),
      |d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |      FROM allr GROUP BY 1, 2),
      |w AS (SELECT event_type, day, n,
      |    sum(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tsum,
      |    count(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS tdays
      |  FROM d)
      |SELECT event_type, day, CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN tdays > 0 THEN (n * 1000000) // (tsum // tdays)
      |       ELSE 0 END AS BIGINT) AS ratio_ppm,
      |  CASE WHEN tdays > 0
      |       THEN (n * 1000000) // (tsum // tdays) >= 2000000
      |       ELSE FALSE END AS spike
      |FROM w
      |ORDER BY event_type, day""".stripMargin

  // --------------------------------------------------------------- q211
  /** Bibliographic coupling (LinkGraph.bibliographicCoupling, Kessler
    * 1963) — q196's dual: pairs of PAGES sharing ≥ 2 outlink targets,
    * the publisher-side similarity that catches template families and
    * mirror shells before their text matches. High in-degree targets
    * drop at the cap (a page everyone links couples everything).
    * Oracle: q196's capped self-join with the edge roles swapped.
    */
  private def q211(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    LinkGraph.bibliographicCoupling(extractedEdges(docs), "src", "dst",
        maxDstInDegree = 64)
      .filter(col("n_common") >= 2)
      .orderBy(col("src_a"), col("src_b"))
  }

  private val q211Sql =
    s"""WITH $edgeCtes,
       |dg AS (SELECT dst, count(*) AS d FROM e GROUP BY dst),
       |ek AS (SELECT e.src, e.dst FROM e JOIN dg USING (dst) WHERE dg.d <= 64),
       |p AS (SELECT a.src AS sa, b.src AS sb
       |      FROM ek a JOIN ek b ON a.dst = b.dst AND a.src < b.src),
       |c AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY sa, sb)
       |SELECT sa AS src_a, sb AS src_b, n AS n_common
       |FROM c WHERE n >= 2
       |ORDER BY src_a, src_b""".stripMargin

  // --------------------------------------------------------------- q210
  /** Effective indexability — the verdict a compliant indexer
    * actually computes, which NEITHER channel alone gives: robots.txt
    * gates FETCHING (q145's verdicts) and the robots META gates
    * INDEXING (q208's extractor reading `noindex`), and a page enters
    * the corpus only when both allow. Metas are analytic (%13 = 0
    * pages declare noindex, alternating attribute order); the oracle
    * composes q145's robots CTEs with the meta arithmetic. One join
    * of two map-only frames on the doc id.
    */
  private def q210(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val docs = t(s, dir, "documents")
    val metaHtml = concat(lit("<html><head>"),
      when(col("doc_id") % 13 === 0,
        when(col("doc_id") % 2 === 0,
          lit("<meta name=\"robots\" content=\"noindex,nofollow\"/>"))
          .otherwise(lit("<meta content=\"noindex\" name=\"robots\"/>")))
        .otherwise(lit("<meta name=\"robots\" content=\"index,follow\"/>")),
      lit("</head><body>x</body></html>"))
    val metas = docs.select(col("doc_id"),
      Warc.metaContent(metaHtml, "robots").contains("noindex").as("noindex"))
    robotsVerdicts(docs)
      .join(metas, Seq("doc_id"))
      .select(col("doc_id"), col("allowed"), col("noindex"),
        (col("allowed") && !col("noindex")).as("indexable"))
      .orderBy(col("doc_id"))
  }

  private lazy val q210Sql =
    s"""WITH $robotsCtes
       |SELECT doc_id, allowed,
       |  doc_id % 13 = 0 AS noindex,
       |  allowed AND NOT (doc_id % 13 = 0) AS indexable
       |FROM rv
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q209
  /** Sitemap-vs-crawl coverage (composition: Warc.sitemapEntries ×
    * an analytic fetch log) — the crawl-ops report a site owner and a
    * crawl operator both read: per host, how many sitemap URLs were
    * fetched (coverage ppm) and how many fetched URLs the sitemap
    * never declared (orphans — generated/linked-only pages). Sitemaps
    * are q146's real XML per site re-parsed through the extractor;
    * the fetch log is analytic (every %5 ≠ 0 page, plus /extra/ pages
    * on %11 = 0 ids that no sitemap lists). Full-outer on the URL —
    * the id-keyed diff shape of q156. Oracle derives every count from
    * the doc_id arithmetic.
    */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val docs = t(s, dir, "documents")
    // mirrors q146's sitemap corpus (one real sitemap.xml per site)
    val entry = concat(
      lit("<url><loc>https://www.site"), col("doc_id") % 7,
      lit(".org/p/"), col("doc_id"), lit("</loc></url>"))
    val sites = docs
      .select((col("doc_id") % 7).as("k"), col("doc_id"), entry.as("e"))
      .groupBy(col("k"))
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("e")))),
          x => x.getField("e")), ""),
        lit("</urlset>")).as("xml"))
    val sm = sites
      .select(explode(Warc.sitemapEntries(col("xml"))).as("u"))
      .select(col("u.loc").as("url"), lit(1L).as("in_sitemap"))
    val fetched = docs.filter(col("doc_id") % 5 =!= 0)
      .select(concat(lit("https://www.site"), col("doc_id") % 7,
        lit(".org/p/"), col("doc_id")).as("url"))
      .union(docs.filter(col("doc_id") % 11 === 0)
        .select(concat(lit("https://www.site"), col("doc_id") % 7,
          lit(".org/extra/"), col("doc_id")).as("url")))
      .withColumn("fetched", lit(1L))
    sm.join(fetched.select(col("url"), col("fetched")), Seq("url"), "full_outer")
      .select(Warc.urlHost(col("url")).as("host"),
        coalesce(col("in_sitemap"), lit(0L)).as("s"),
        coalesce(col("fetched"), lit(0L)).as("f"))
      .groupBy(col("host"))
      .agg(sum(col("s")).as("n_sitemap"),
        sum(col("s") * col("f")).as("n_covered"),
        sum((lit(1L) - col("s")) * col("f")).as("n_orphans"))
      .withColumn("coverage_ppm",
        expr("CASE WHEN n_sitemap > 0 THEN (n_covered * 1000000) DIV n_sitemap " +
          "ELSE 0 END"))
      .orderBy(col("host"))
  }

  private val q209Sql =
    """WITH k AS (SELECT doc_id, doc_id % 7 AS site FROM documents),
      |agg AS (SELECT site,
      |    CAST(count(*) AS BIGINT) AS n_sitemap,
      |    CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_covered,
      |    CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_orphans
      |  FROM k GROUP BY site)
      |SELECT 'www.site' || site || '.org' AS host,
      |  n_sitemap, n_covered, n_orphans,
      |  CAST(CASE WHEN n_sitemap > 0 THEN (n_covered * 1000000) // n_sitemap
      |       ELSE 0 END AS BIGINT) AS coverage_ppm
      |FROM agg
      |ORDER BY host""".stripMargin

  // --------------------------------------------------------------- q196
  /** Co-citation pairs (LinkGraph.coCitation, Small 1973) over the
    * q135 anchor graph: pages repeatedly linked by the SAME sources —
    * the text-free "related pages" signal, link-side sibling of the
    * q28/q31 near-dup candidates. Sources above the degree cap drop
    * before pairing (directory pages co-cite everything — the
    * stopword rule); pairs at n_common ≥ 2 survive. Oracle re-derives
    * the capped self-join + pair count independently.
    */
  private def q196(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    val docs = t(s, dir, "documents")
    LinkGraph.coCitation(extractedEdges(docs), "src", "dst", maxSrcDegree = 64)
      .filter(col("n_common") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q196Sql =
    s"""WITH $edgeCtes,
       |dg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
       |ek AS (SELECT e.src, e.dst FROM e JOIN dg USING (src) WHERE dg.d <= 64),
       |p AS (SELECT a.dst AS da, b.dst AS db
       |      FROM ek a JOIN ek b ON a.src = b.src AND a.dst < b.dst),
       |c AS (SELECT da, db, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY da, db)
       |SELECT da AS doc_a, db AS doc_b, n AS n_common
       |FROM c WHERE n >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------- q140
  /** Format roundtrip identity — upgrades the beyond-parquet sources
    * (sources.Formats: CSV / JSON-lines / ORC) from spec-gated to
    * ORACLE-gated: documents write through each format's sink, read
    * back through its schema-first FAILFAST reader, and reduce to one
    * checksum row per format (row count, key sums, and a content
    * checksum summing a 40-bit fold of md5(text|lang|source) — any
    * quoting/escaping/encoding corruption moves it). The oracle
    * computes the same row from the parquet table directly, so the
    * gate pins roundtrip ≡ identity for every format.
    */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Formats
    val docs = t(s, dir, "documents")
    graft.Checkpoints.overTempDir(s, "q140-fmt") { base =>
      def leg(fmt: String): DataFrame = {
        val p = s"$base/$fmt"
        val back = fmt match {
          case "csv" => Formats.writeCsv(docs, p); Formats.readCsv(s, p, docs.schema)
          case "json" => Formats.writeJsonLines(docs, p); Formats.readJsonLines(s, p, docs.schema)
          case _ => Formats.writeOrc(docs, p); Formats.readOrc(s, p, docs.schema)
        }
        back.agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("sum_id"),
          sum(col("n_chars")).as("sum_chars"),
          // concat, not concat_ws: null-PROPAGATING like the oracle's
          // '||', so a null cell drops the row from both sums instead of
          // silently vanishing on the Spark side only (r14 advice)
          sum(pmod(graft.functions.TextFunctions.hash60(
            concat(col("text"), lit("|"), col("lang"), lit("|"), col("source"))), lit(1L << 40)))
            .as("content_sum"))
          .select(lit(fmt).as("format"), col("*"))
      }
      // the read-back IS the operator under test: overTempDir
      // materializes it before the temp dirs go
      Seq("csv", "json", "orc").map(leg).reduce(_.unionByName(_))
        .orderBy(col("format"))
    }
  }

  private val q140Sql =
    """WITH chk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |    CAST(sum(CAST(concat('0x', substring(md5(text || '|' || lang || '|' || source),
      |      1, 15)) AS BIGINT) % 1099511627776) AS BIGINT) AS content_sum
      |  FROM documents)
      |SELECT f.format, chk.* FROM (VALUES ('csv'), ('json'), ('orc')) f(format), chk
      |ORDER BY f.format""".stripMargin

  // --------------------------------------------------------------- q141
  /** Markdown text extraction (Warc.markdownText), hash-gated the
    * q130 way: documents render as markdown exercising every strip
    * rule — header, blockquote, list markers, bold emphasis, inline
    * code, link AND image payloads, a horizontal rule, and a fenced
    * code block embedding a literal 'WARC/1.0' line (fences must DROP
    * as boilerplate) — and the oracle applies the IDENTICAL
    * RE2-compatible regexp chain in DuckDB (every pattern chosen
    * backreference-free for exactly this mirror), so the gate pins
    * each rule and their order.
    */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val md = concat(
      lit("# Doc "), col("doc_id"),
      lit("\n\n> quoted summary\n\n- item one\n- item "), col("doc_id") % 5,
      lit("\n\n**"), col("text"),
      lit("** with a [link](https://www.site"), col("doc_id") % 7,
      lit(".org/p/"), col("doc_id"),
      lit(") and `code "), col("lang"),
      lit("` plus ![logo](http://img/x.png)\n\n---\n\n```\nWARC/1.0 fenced "),
      col("source"), lit("\n```\n"))
    t(s, dir, "documents")
      .select(col("doc_id"), Warc.markdownText(md).as("text"))
      .orderBy(col("doc_id"))
  }

  private val q141Sql =
    """WITH m AS (
      |  SELECT doc_id,
      |    '# Doc ' || doc_id || e'\n\n> quoted summary\n\n- item one\n- item ' ||
      |    doc_id % 5 || e'\n\n**' || text || '** with a [link](https://www.site' ||
      |    doc_id % 7 || '.org/p/' || doc_id || ') and `code ' || lang ||
      |    e'` plus ![logo](http://img/x.png)\n\n---\n\n```\nWARC/1.0 fenced ' ||
      |    source || e'\n```\n' AS md
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(md, '(?s)```.*?```', ' ', 'g') AS t FROM m),
      |s2 AS (SELECT doc_id, regexp_replace(t, '`([^`]*)`', ' \1 ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(t, '!\[([^\]]*)\]\([^)]*\)', ' \1 ', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(t, '\[([^\]]*)\]\([^)]*\)', ' \1 ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, regexp_replace(t, '(?m)^\s*([-*_]\s*){3,}$', ' ', 'g') AS t FROM s4),
      |s6 AS (SELECT doc_id, regexp_replace(t, '(?m)^#{1,6}\s*', ' ', 'g') AS t FROM s5),
      |s7 AS (SELECT doc_id, regexp_replace(t, '(?m)^\s*>\s?', ' ', 'g') AS t FROM s6),
      |s8 AS (SELECT doc_id, regexp_replace(t, '(?m)^\s*([-*+]|[0-9]+\.)\s+', ' ', 'g') AS t FROM s7),
      |s9 AS (SELECT doc_id, regexp_replace(t, '[*_]+', ' ', 'g') AS t FROM s8)
      |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text
      |FROM s9
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q136
  /** The composed crawl-curation pipeline — q115's composition
    * discipline applied to the crawl side. Five oracle-gated stages,
    * chained exactly as a crawl→training-corpus run orders them:
    *
    *   S1 WARC ingest + HTML text extraction      (q130's chain)
    *   S2 URL-level dedup over recrawl aliases    (q134)
    *   S3 link-rank floor over the FULL graph     (q135; rank needs
    *      every edge, so rank computes before survivor filtering)
    *   S4 extracted-text length floor             (quality family)
    *   S5 per-domain cap, bounded-state           (q114's aggregator)
    *
    * Output: per-domain survivor budget. The oracle re-derives all
    * five stages from the SAME CTE fragments the stage oracles use —
    * a drift in any one stage's semantics breaks this hash even if
    * that stage's own gate is somehow green.
    */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    import graft.operators.{LinkGraph, Quality}
    val docs = t(s, dir, "documents")
    // S1: real archives -> Content-Length framing -> extracted text
    val recs = Warc.parseArchives(Warc.toWarcArchives(docs), "archive_id", "bytes")
      .filter(col("ok") && col("warc_type") === "response")
      .select(
        regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1).cast("long").as("doc_id"),
        // MAIN-content extraction (q225's operator), not the flat
        // strip: the template's title/h1/lang-div boilerplate blocks
        // drop, so the S4 word floor measures body prose only
        Warc.htmlMainText(col("payload")).as("text"))
    // S2: URL-dedup survivors + the per-site key
    val kept = urlSurvivors(docs)
      .select(col("doc_id"),
        Warc.registeredDomain(Warc.urlHost(col("canonical_url"))).as("domain"))
    // S3: link rank over the whole graph, thresholded
    val ranks = LinkGraph.pageRankInt(
      docs.select(col("doc_id")), "doc_id", extractedEdges(docs), "src", "dst", iters = 3)
    // S4: extracted-text word floor (consumes S1's output — the
    // parse is load-bearing, not decoration)
    val sel = kept
      .join(ranks.filter(col("rank_ppm") >= 300000), Seq("doc_id"))
      .join(recs.filter(size(split(col("text"), " ")) >= 15).select(col("doc_id")),
        Seq("doc_id"))
    // S5: per-domain cap via the bounded-state aggregator
    val capped = sel.join(
      Quality.capPerGroup(sel, "domain", "doc_id", cap = 25).select(col("doc_id")),
      Seq("doc_id"))
    capped.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("rank_ppm")).as("tot_rank_ppm"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("domain"))
  }

  private val q136Sql: String =
    "WITH " + urlCanonCtes + ",\n" + rankGraphCtes + ",\n" +
      """txt AS (
        |  SELECT doc_id,
        |    len(string_split(CASE
        |      WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) >= 25
        |      THEN trim(regexp_replace(text, '\s+', ' ', 'g')) ELSE '' END,
        |      ' ')) AS n_words
        |  FROM documents),
        |dom AS (
        |  SELECT doc_id, """.stripMargin + domainSql + """ AS domain FROM kept),
        |sel AS (
        |  SELECT d.doc_id, d.domain, r3.rank AS rank_ppm
        |  FROM dom d
        |  JOIN r3 ON r3.id = d.doc_id
        |  JOIN txt ON txt.doc_id = d.doc_id
        |  WHERE r3.rank >= 300000 AND txt.n_words >= 15),
        |h AS (
        |  SELECT *, CAST(concat('0x', substring(md5(concat('cap|',
        |    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 4503599627370496 AS hv
        |  FROM sel),
        |capped AS (
        |  SELECT doc_id, domain, rank_ppm FROM (
        |    SELECT *, row_number() OVER (PARTITION BY domain ORDER BY hv, doc_id) AS rn
        |    FROM h) WHERE rn <= 25)
        |SELECT domain, count(*) AS n_kept,
        |  CAST(sum(rank_ppm) AS BIGINT) AS tot_rank_ppm,
        |  min(doc_id) AS first_doc
        |FROM capped GROUP BY domain ORDER BY domain""".stripMargin

  // --------------------------------------------------------------- q225
  /** Main-content extraction by block link-density
    * (Warc.htmlMainText) — hash-gated on analytic pages where every
    * rule fires both ways: documents render into a full page whose
    * nav menu (pure links), h1/title (short), and footer (28 visible
    * chars but 22 of link text — the density rule, not the length
    * floor) must DROP, while a mixed sidebar (7 link chars of 44 —
    * under the 33% line) and the body paragraph must SURVIVE, and a
    * second snippet paragraph of length doc_id % 40 straddles the
    * 25-char floor so both sides of the length rule gate. The oracle
    * re-derives the kept concatenation from the documents table alone
    * — a mis-split block, an anchor leaking into the density of the
    * wrong block, or an off-by-one in either integer threshold
    * hash-fails.
    */
  private def q225(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id"), lit("</title></head><body>"),
      lit("<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/about\">" +
        "About us</a></li><li><a href=\"/archive\">Archive</a></li></ul></nav>"),
      lit("<h1>Doc "), col("doc_id"), lit(" &amp; friends</h1>"),
      lit("<div class=\"side\"><a href=\"/tags/1\">tag one</a> related " +
        "reading picked for you today</div>"),
      lit("<p>"), col("text"), lit("</p><p>"),
      expr("substring(text, 1, cast(doc_id % 40 as int))"), lit("</p>"),
      lit("<footer><a href=\"/privacy\">Privacy</a> | <a href=\"/terms\">" +
        "Terms</a> | <a href=\"/contact\">Contact us</a></footer>"),
      lit("</body></html>"))
    t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), Warc.htmlMainText(page).as("main_text"))
      .orderBy(col("doc_id"))
  }

  private val q225Sql =
    """WITH c AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS ct,
      |    trim(regexp_replace(substring(text, 1, CAST(doc_id % 40 AS INTEGER)),
      |      '\s+', ' ', 'g')) AS sn
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id,
      |  'tag one related reading picked for you today' ||
      |  CASE WHEN length(ct) >= 25 THEN ' ' || ct ELSE '' END ||
      |  CASE WHEN length(sn) >= 25 THEN ' ' || sn ELSE '' END AS main_text
      |FROM c
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q161
  /** Mirror-site detection (Warc.mirrorClusters) — the cross-DOMAIN
    * content dedup after q134's URL-level dedup: each document is
    * served from 1 + (doc_id % 3) hosts (sites (doc_id + j) % 7 —
    * distinct domains per page since the replica count stays under
    * 7), pages group by exact content md5, clusters spanning ≥ 2
    * registered domains elect the lexicographically smallest URL as
    * canonical. Single-replica pages (doc_id % 3 = 0) must NOT
    * surface; documents whose text is corpus-duplicated merge into
    * one cluster across their ids — the oracle re-derives the
    * replication, the domain diversity cut, the election, and the
    * order-insensitive membership fingerprint.
    */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    val docs = t(s, dir, "documents")
    val pages = docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("doc_id") % 3)).as("j"))
      .select(col("text"),
        concat(lit("https://www.site"), (col("doc_id") + col("j")) % 7,
          lit(".org/m/"), col("doc_id")).as("url"))
    Warc.mirrorClusters(pages, "url", "text").orderBy(col("fingerprint"))
  }

  private val q161Sql =
    """WITH c AS (
      |  SELECT md5(text) AS fingerprint,
      |    'https://www.site' || ((doc_id + j) % 7) || '.org/m/' || doc_id AS url,
      |    'site' || ((doc_id + j) % 7) || '.org' AS domain
      |  FROM documents, unnest(range(0, doc_id % 3 + 1)) AS u(j))
      |SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
      |  min(url) AS canonical_url,
      |  md5(string_agg(url, '|' ORDER BY url)) AS members_fp
      |FROM c GROUP BY 1 HAVING count(DISTINCT domain) >= 2
      |ORDER BY fingerprint""".stripMargin

  // --------------------------------------------------------------- q162
  /** Politeness-timed fetch schedule — q147's frontier waves
    * multiplied into absolute per-host fetch offsets by the robots
    * `Crawl-delay` directive (Robots.crawlDelays + delayFor): the
    * fixture is q145's robots corpus with delay lines added INSIDE
    * each group (even sites' GraftBot group carries a fractional
    * "(k+1).5" seconds — the ms conversion must be string arithmetic,
    * 1.5 → 1500, never a double — odd sites only a catch-all 2 s;
    * the even sites' catch-all carries a 9 s decoy that exact-agent
    * selection must NOT pick). Crawl-delay lines produce no
    * allow/disallow rules and start no groups, so the rule set — and
    * q145/q147's analytic oracle derivation of it — is unchanged;
    * fetch_ms = (wave − 1) · delay_ms is the earliest polite fetch
    * time. Delays resolve rules-side (tiny) and broadcast onto the
    * frontier; the only corpus exchange remains the per-host wave
    * partitioning a fetcher needs anyway.
    */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LinkGraph
    import graft.sources.Robots
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val ks = docs.select((col("doc_id") % 7).as("k")).distinct()
    val txt = when(col("k") % 2 === 0, concat(
        lit("# site "), col("k"),
        lit("\nUser-agent: GraftBot\nCrawl-delay: "), col("k") + 1,
        lit(".5\nDisallow: /p/*"), col("k"),
        lit("$\nAllow: /p/"), col("k"),
        lit("*\n\nUser-agent: *\nCrawl-delay: 9\nDisallow: /\n")))
      .otherwise(concat(
        lit("# site "), col("k"),
        lit("\nUser-agent: *\nCrawl-delay: 2\nDisallow: /\n")))
    val robots = ks.select(
      concat(lit("www.site"), col("k"), lit(".org")).as("host"), txt.as("txt"))
    val rules = Robots.parseRules(robots, "host", "txt")
    val delays = Robots.delayFor(Robots.crawlDelays(robots, "host", "txt"), "graftbot")
    val urls = docs.select(col("doc_id"),
      concat(lit("www.site"), col("doc_id") % 7, lit(".org")).as("host"),
      concat(lit("/p/"), col("doc_id")).as("path"))
    val verdicts = Robots.isAllowed(urls, "host", "path", rules, "graftbot")
      .select(col("doc_id"), col("host"), col("allowed"))
    val ranks = LinkGraph.pageRankInt(
      docs.select(col("doc_id")), "doc_id", extractedEdges(docs), "src", "dst", iters = 3)
    val pri = when(col("doc_id") % 3 =!= 0, (col("doc_id") % 10) * 100000L)
      .otherwise(lit(500000L)).cast("long")
    verdicts.filter(col("allowed"))
      .join(ranks, Seq("doc_id"))
      .withColumn("priority_ppm", pri)
      .withColumn("wave", row_number().over(
        Window.partitionBy(col("host"))
          .orderBy(col("priority_ppm").desc, col("rank_ppm").desc, col("doc_id")))
        .cast("long"))
      .join(broadcast(delays), Seq("host"))
      .withColumn("fetch_ms", (col("wave") - 1) * col("delay_ms"))
      .select(col("doc_id"), col("host"), col("wave"),
        col("delay_ms"), col("fetch_ms"))
      .orderBy(col("doc_id"))
  }

  // lazy: rankGraphCtes declares later in the object (the q147 note)
  private lazy val q162Sql =
    s"""WITH $robotsCtes,
       |$rankGraphCtes,
       |pri AS (SELECT doc_id,
       |          CAST(CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 10) * 100000
       |               ELSE 500000 END AS BIGINT) AS priority_ppm
       |        FROM documents),
       |f AS (SELECT rv.doc_id, rv.host, pri.priority_ppm, r3.rank AS rank_ppm
       |      FROM rv JOIN pri USING (doc_id) JOIN r3 ON r3.id = rv.doc_id
       |      WHERE rv.allowed),
       |w AS (SELECT doc_id, host,
       |        CAST(row_number() OVER (PARTITION BY host
       |          ORDER BY priority_ppm DESC, rank_ppm DESC, doc_id) AS BIGINT) AS wave
       |      FROM f),
       |d AS (SELECT doc_id, host, wave,
       |        CAST(CASE WHEN (doc_id % 7) % 2 = 0
       |             THEN ((doc_id % 7) + 1) * 1000 + 500
       |             ELSE 2000 END AS BIGINT) AS delay_ms
       |      FROM w)
       |SELECT doc_id, host, wave, delay_ms,
       |  CAST((wave - 1) * delay_ms AS BIGINT) AS fetch_ms
       |FROM d
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q165
  /** robots.txt `Sitemap:` discovery (Robots.sitemapRefs) — the
    * crawl-SEEDING record that closes the robots surface (q145 rules,
    * q162 delays, and now the group-INDEPENDENT sitemap pointers that
    * feed q146's ingestion). The fixture makes position independence
    * load-bearing: even hosts declare one ref BEFORE any UA group and
    * one after (both must surface), odd hosts declare the same ref
    * twice (must collapse to one row). The oracle re-derives the
    * reference set analytically from the same host cycles.
    */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Robots
    val docs = t(s, dir, "documents")
    val ks = docs.select((col("doc_id") % 7).as("k")).distinct()
    val base = concat(lit("https://www.site"), col("k"), lit(".org"))
    val txt = when(col("k") % 2 === 0, concat(
        lit("Sitemap: "), base,
        lit("/sitemap.xml\n# seed\nUser-agent: *\nDisallow: /\nSitemap: "),
        base, lit("/news.xml\n")))
      .otherwise(concat(
        lit("User-agent: *\nDisallow: /\nSitemap: "), base,
        lit("/sitemap.xml\nSitemap: "), base, lit("/sitemap.xml\n")))
    val robots = ks.select(
      concat(lit("www.site"), col("k"), lit(".org")).as("host"), txt.as("txt"))
    Robots.sitemapRefs(robots, "host", "txt")
      .orderBy(col("host"), col("sitemap_url"))
  }

  private val q165Sql =
    """WITH ks AS (SELECT DISTINCT doc_id % 7 AS k FROM documents),
      |u AS (
      |  SELECT 'www.site' || k || '.org' AS host,
      |    'https://www.site' || k || '.org/sitemap.xml' AS sitemap_url
      |  FROM ks
      |  UNION ALL
      |  SELECT 'www.site' || k || '.org',
      |    'https://www.site' || k || '.org/news.xml'
      |  FROM ks WHERE k % 2 = 0)
      |SELECT host, sitemap_url FROM u
      |ORDER BY host, sitemap_url""".stripMargin

  // --------------------------------------------------------------- q235
  /** REAL archive ingest, hash-gated end-to-end: documents become
    * genuine ZIP (even docs — the text carried BOTH stored and
    * DEFLATEd, so one walk covers both methods; every other zip in
    * Zip64 framing with masked EOCD + 0x0001 extras, r19) and ustar
    * TAR (odd docs) payloads, and [[graft.sources.Archive.listEntries]] walks
    * them back by magic — EOCD discovery, central-directory offsets,
    * raw-DEFLATE inflate, CRC-32, tar header checksums. The oracle
    * never parses an archive: it recovers entry names, sizes, and the
    * extracted text straight from the documents table, so a wrong
    * data offset, a misfed Inflater window, or a bad checksum blank
    * all hash-fail. Independent python zipfile/tarfile fixtures pin
    * the reader separately in ArchiveSpec.
    */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Archive
    val media = Archive.toArchives(t(s, dir, "documents")).as[Media.MediaRecord]
    Archive.listEntries(media)
      .filter(col("err").isNull)
      .select(col("media_id"), col("archive"), col("entry_name"),
        col("method"), col("uncomp_size"), col("crc_ok"), col("text"))
      .orderBy(col("media_id"), col("entry_name"))
  }

  private val q235Sql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0)
      |SELECT media_id, archive, entry_name, method, uncomp_size, crc_ok, text
      |FROM (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 4 = 0 THEN 'zip64' ELSE 'zip' END AS archive,
      |    'doc_' || doc_id || '_d.txt' AS entry_name, 'deflate' AS method,
      |    CAST(length(text) AS BIGINT) AS uncomp_size, TRUE AS crc_ok, text
      |  FROM d WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 'zip64' ELSE 'zip' END,
      |    'doc_' || doc_id || '_s.txt', 'stored',
      |    CAST(length(text) AS BIGINT), TRUE, text
      |  FROM d WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, 'tar',
      |    CASE WHEN doc_id % 6 = 3
      |      THEN 'pax/' || repeat('p', 110) || '/doc_' || doc_id || '.txt'
      |      ELSE 'doc_' || doc_id || '.txt' END,
      |    CASE WHEN doc_id % 6 = 3 THEN 'pax' ELSE 'ustar' END,
      |    CAST(length(text) AS BIGINT), TRUE, text
      |  FROM d WHERE doc_id % 2 = 1)
      |ORDER BY media_id, entry_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q235_archive_ingest" -> (q235 _),
    "q168_crawl_budget" -> (q168 _),
    "q165_sitemap_refs" -> (q165 _),
    "q161_mirror_detect" -> (q161 _),
    "q162_fetch_schedule" -> (q162 _),
    "q134_url_dedup" -> (q134 _),
    "q144_anchor_text" -> (q144 _),
    "q145_robots_allow" -> (q145 _),
    "q146_sitemap" -> (q146 _),
    "q147_frontier" -> (q147 _),
    "q135_link_rank" -> (q135 _),
    "q136_crawl_curation" -> (q136 _),
    "q225_main_content" -> (q225 _),
    "q138_domain_rank" -> (q138 _),
    "q174_hits" -> (q174 _),
    "q175_redirects" -> (q175 _),
    "q176_crawl_depth" -> (q176 _),
    "q187_communities" -> (q187 _),
    "q188_trust_rank" -> (q188 _),
    "q193_degree_stats" -> (q193 _),
    "q196_cocitation" -> (q196 _),
    "q205_template_families" -> (q205 _),
    "q206_url_templates" -> (q206 _),
    "q208_meta_extract" -> (q208 _),
    "q209_sitemap_coverage" -> (q209 _),
    "q210_indexability" -> (q210 _),
    "q211_coupling" -> (q211 _),
    "q214_rate_spikes" -> (q214 _),
    "q140_format_roundtrip" -> (q140 _),
    "q141_markdown_extract" -> (q141 _),
    "q130_warc_ingest" -> (q130 _),
    "q142_warc_gzip" -> (q142 _),
    "q121_image_near_dup" -> (q121 _),
    "q219_mixed_media_census" -> (q219 _),
    "q220_pdf_extract" -> (q220 _),
    "q231_pdf_images" -> (q231 _),
    "q264_pdf_ccitt" -> (q264 _),
    "q244_pdf_cid_text" -> (q244 _),
    "q250_avro_ingest" -> (q250 _),
    "q221_mixed_crawl_extract" -> (q221 _),
    "q123_image_dedup_apply" -> (q123 _),
    "q129_audio_near_dup" -> (q129 _),
    "q44_media_decode" -> (q44 _),
    "q102_image_decode" -> (q102 _),
    "q216_png_decode" -> (q216 _),
    "q233_webp_decode" -> (q233 _),
    "q226_png_variants" -> (q226 _),
    "q227_jpeg_decode" -> (q227 _),
    "q229_jpeg_progressive" -> (q229 _),
    "q230_gif_decode" -> (q230 _),
    "q249_tiff_decode" -> (q249 _),
    "q103_audio_decode" -> (q103 _),
    "q237_flac_decode" -> (q237 _),
    "q240_mp3_meta" -> (q240 _),
    "q243_ogg_meta" -> (q243 _),
    "q251_mp4_meta" -> (q251 _),
    "q259_mp4_fragmented" -> (q259 _),
    "q263_mp4_segment" -> (q263 _),
    "q256_webm_meta" -> (q256 _),
    "q257_tiff_g4" -> (q257 _),
    "q261_tiff_g3" -> (q261 _),
    "q262_tiff_jpeg" -> (q262 _),
    "q252_avro_nullable" -> (q252 _),
    "q258_avro_nested" -> (q258 _),
    "q260_avro_map_enum_fixed" -> (q260 _),
    "q253_exif_gps" -> (q253 _),
    "q254_tiff_palette" -> (q254 _),
    "q111_video_decode" -> (q111 _),
    "q201_scene_cuts" -> (q201 _),
    "q202_silence_segments" -> (q202 _),
    "q34_media_meta" -> (q34 _),
    "q35_frame_sample" -> (q35 _),
    "q36_sessionize" -> (q36 _),
    "q80_running_counts" -> (q80 _),
    "q81_event_dedup" -> (q81 _))

  val oracle: Map[String, String] = Map(
    "q235_archive_ingest" -> q235Sql,
    "q168_crawl_budget" -> q168Sql,
    "q165_sitemap_refs" -> q165Sql,
    "q161_mirror_detect" -> q161Sql,
    "q162_fetch_schedule" -> q162Sql,
    "q134_url_dedup" -> q134Sql,
    "q144_anchor_text" -> q144Sql,
    "q145_robots_allow" -> q145Sql,
    "q146_sitemap" -> q146Sql,
    "q147_frontier" -> q147Sql,
    "q135_link_rank" -> q135Sql,
    "q136_crawl_curation" -> q136Sql,
    "q225_main_content" -> q225Sql,
    "q138_domain_rank" -> q138Sql,
    "q174_hits" -> q174Sql,
    "q175_redirects" -> q175Sql,
    "q176_crawl_depth" -> q176Sql,
    "q187_communities" -> q187Sql,
    "q188_trust_rank" -> q188Sql,
    "q193_degree_stats" -> q193Sql,
    "q196_cocitation" -> q196Sql,
    "q205_template_families" -> q205Sql,
    "q206_url_templates" -> q206Sql,
    "q208_meta_extract" -> q208Sql,
    "q209_sitemap_coverage" -> q209Sql,
    "q210_indexability" -> q210Sql,
    "q211_coupling" -> q211Sql,
    "q214_rate_spikes" -> q214Sql,
    "q140_format_roundtrip" -> q140Sql,
    "q141_markdown_extract" -> q141Sql,
    "q130_warc_ingest" -> q130Sql,
    "q142_warc_gzip" -> q130Sql,
    "q121_image_near_dup" -> q121Sql,
    "q219_mixed_media_census" -> q219Sql,
    "q220_pdf_extract" -> q220Sql,
    "q231_pdf_images" -> q231Sql,
    "q264_pdf_ccitt" -> q264Sql,
    "q244_pdf_cid_text" -> q244Sql,
    "q250_avro_ingest" -> q250Sql,
    "q221_mixed_crawl_extract" -> q221Sql,
    "q123_image_dedup_apply" -> q123Sql,
    "q129_audio_near_dup" -> q129Sql,
    "q44_media_decode" -> q44Sql,
    "q102_image_decode" -> q102Sql,
    "q216_png_decode" -> q216Sql,
    "q233_webp_decode" -> q233Sql,
    "q226_png_variants" -> q226Sql,
    "q227_jpeg_decode" -> q227Sql,
    "q229_jpeg_progressive" -> q229Sql,
    "q230_gif_decode" -> q230Sql,
    "q249_tiff_decode" -> q249Sql,
    "q103_audio_decode" -> q103Sql,
    "q237_flac_decode" -> q237Sql,
    "q240_mp3_meta" -> q240Sql,
    "q243_ogg_meta" -> q243Sql,
    "q251_mp4_meta" -> q251Sql,
    "q259_mp4_fragmented" -> q259Sql,
    "q263_mp4_segment" -> q263Sql,
    "q256_webm_meta" -> q256Sql,
    "q257_tiff_g4" -> q257Sql,
    "q261_tiff_g3" -> q261Sql,
    "q262_tiff_jpeg" -> q262Sql,
    "q252_avro_nullable" -> q252Sql,
    "q258_avro_nested" -> q258Sql,
    "q260_avro_map_enum_fixed" -> q260Sql,
    "q253_exif_gps" -> q253Sql,
    "q254_tiff_palette" -> q254Sql,
    "q111_video_decode" -> q111Sql,
    "q201_scene_cuts" -> q201Sql,
    "q202_silence_segments" -> q202Sql,
    "q34_media_meta" -> q34Sql,
    "q35_frame_sample" -> q35Sql,
    "q36_sessionize" -> q36Sql,
    "q80_running_counts" -> q80Sql,
    "q81_event_dedup" -> q81Sql)
}

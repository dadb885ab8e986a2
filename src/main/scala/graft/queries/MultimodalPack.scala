package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.operators.{Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (binary-column) pack over a blob fixture derived
  * deterministically from `documents`: each doc's text bytes wrapped in a
  * real container magic (PNG / JPEG / RIFF-WAVE / raw, by doc_id % 4).
  *
  * Cross-engine parity: DuckDB (this version) cannot slice BLOBs, so the
  * oracles replay binary substrings on `hex(blob)` (2 hex chars per byte,
  * uppercase in both engines); the Spark side stays binary-native
  * (substring/length/compare on BinaryType — no hex round-trip in the
  * engine path, only in checked *outputs*).
  */
object MultimodalPack {

  private def hexLit(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  private val PNG_HEX = hexLit(Multimodal.PNG_MAGIC)     // 89504E470D0A1A0A
  private val JPEG_HEX = hexLit(Multimodal.JPEG_MAGIC)   // FFD8FF
  private val RIFF_HEX = hexLit(Multimodal.RIFF_MAGIC)
  private val WAVE_HEX = hexLit(Multimodal.WAVE_TAG)

  /** Spark-side blob fixture: container header ++ utf8(text) by doc_id % 4.
    * PNG blobs carry a REAL IHDR chunk (length 13, "IHDR", 4-byte
    * big-endian width/height derived from doc_id, bit-depth 8, color type
    * 2, default compression/filter/interlace) so [[Multimodal.metadata]]'s
    * header parse decodes genuine planted dimensions (q63). JPEG blobs
    * carry a real segment list — SOI, a COM segment whose length VARIES
    * with doc_id (so the SOF offset is data-dependent and a fixed-substring
    * "parser" can't fake the decode), then a well-formed single-component
    * SOF0 with planted dims. */
  private[graft] def blobs(s: SparkSession, d: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(4))
    val enc = encode(col("text"), "UTF-8")
    def be16(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 4, "0"))
    def be32(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
    val ihdr = concat(
      lit(Array[Byte](0, 0, 0, 13)), lit(Multimodal.IHDR_TAG),
      be32(lit(1) + pmod(col("doc_id"), lit(512))),
      be32(lit(1) + pmod(col("doc_id"), lit(384))),
      lit(Array[Byte](8, 2, 0, 0, 0)))
    // SOI ++ COM(len 2+c, c='doc_id % 5' pad bytes) ++ SOF0(len 11,
    // precision 8, height, width, 1 component) ++ payload
    val c = pmod(col("doc_id"), lit(5))
    val jpegSeg = concat(
      lit(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xFE.toByte)),
      be16(lit(2) + c),
      encode(call_function("repeat", lit("X"), c), "UTF-8"),
      lit(Array[Byte](0xFF.toByte, 0xC0.toByte, 0x00, 0x0B, 0x08)),
      be16(lit(1) + pmod(col("doc_id"), lit(480))),
      be16(lit(1) + pmod(col("doc_id"), lit(640))),
      lit(Array[Byte](0x01, 0x01, 0x11, 0x00)))
    // real fmt chunk: "fmt " ++ size 16 (LE) ++ PCM format 1 (LE) ++
    // planted channels (mono/stereo by doc_id % 8) ++ planted sample rate
    // (44100 = 44 AC 00 00 LE / 16000 = 80 3E 00 00 LE)
    val mono = pmod(col("doc_id"), lit(8)) === 2
    val fmt = concat(
      lit(Multimodal.FMT_TAG), lit(Array[Byte](16, 0, 0, 0)), lit(Array[Byte](1, 0)),
      when(mono, lit(Array[Byte](1, 0))).otherwise(lit(Array[Byte](2, 0))),
      when(mono, lit(Array[Byte](0x44, 0xAC.toByte, 0, 0)))
        .otherwise(lit(Array[Byte](0x80.toByte, 0x3E, 0, 0))))
    Tables.documents(s, d).select(
      col("doc_id"),
      when(m === 0, concat(lit(Multimodal.PNG_MAGIC), ihdr, enc))
        .when(m === 1, concat(jpegSeg, enc))
        .when(m === 2, concat(lit(Multimodal.RIFF_MAGIC),
          lit(Array[Byte](0, 0, 0, 0)), lit(Multimodal.WAVE_TAG), fmt, enc))
        .otherwise(enc).as("content"))
  }

  /** DuckDB replay of the same fixture + mime sniff (hex-string based). */
  private val BLOBS_SQL =
    s"""blobs AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4
       |      WHEN 0 THEN '\\x89PNG\\x0D\\x0A\\x1A\\x0A'::BLOB ||
       |        '\\x00\\x00\\x00\\x0D'::BLOB || 'IHDR'::BLOB ||
       |        unhex(lpad(to_hex(1 + doc_id % 512), 8, '0')) ||
       |        unhex(lpad(to_hex(1 + doc_id % 384), 8, '0')) ||
       |        '\\x08\\x02\\x00\\x00\\x00'::BLOB ||
       |        encode(text)
       |      WHEN 1 THEN '\\xFF\\xD8\\xFF\\xFE'::BLOB ||
       |        unhex(lpad(to_hex(2 + doc_id % 5), 4, '0')) ||
       |        encode(repeat('X', CAST(doc_id % 5 AS BIGINT))) ||
       |        '\\xFF\\xC0\\x00\\x0B\\x08'::BLOB ||
       |        unhex(lpad(to_hex(1 + doc_id % 480), 4, '0')) ||
       |        unhex(lpad(to_hex(1 + doc_id % 640), 4, '0')) ||
       |        '\\x01\\x01\\x11\\x00'::BLOB || encode(text)
       |      WHEN 2 THEN 'RIFF'::BLOB || '\\x00\\x00\\x00\\x00'::BLOB || 'WAVE'::BLOB ||
       |        'fmt '::BLOB || '\\x10\\x00\\x00\\x00'::BLOB || '\\x01\\x00'::BLOB ||
       |        CASE WHEN doc_id % 8 = 2 THEN '\\x01\\x00'::BLOB ELSE '\\x02\\x00'::BLOB END ||
       |        CASE WHEN doc_id % 8 = 2 THEN '\\x44\\xAC\\x00\\x00'::BLOB ELSE '\\x80\\x3E\\x00\\x00'::BLOB END ||
       |        encode(text)
       |      ELSE encode(text) END AS content
       |  FROM documents),
       |sniffed AS (
       |  SELECT doc_id, content, hex(content) AS h, octet_length(content) AS nbytes,
       |    CASE WHEN substring(hex(content), 1, 16) = '$PNG_HEX' THEN 'image/png'
       |         WHEN substring(hex(content), 1, 6) = '$JPEG_HEX' THEN 'image/jpeg'
       |         WHEN substring(hex(content), 1, 8) = '$RIFF_HEX'
       |          AND substring(hex(content), 17, 8) = '$WAVE_HEX' THEN 'audio/wav'
       |         ELSE 'application/octet-stream' END AS mime
       |  FROM blobs)""".stripMargin

  def all: Seq[QueryDef] = Seq(

    // ---- q38: magic-byte mime sniffing + per-mime byte stats ---------------
    QueryDef(
      "q38_multimodal_sniff",
      s"""WITH $BLOBS_SQL
         |SELECT mime,
         |  CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
         |  CAST(MIN(nbytes) AS BIGINT) AS min_bytes,
         |  CAST(MAX(nbytes) AS BIGINT) AS max_bytes
         |FROM sniffed
         |GROUP BY mime
         |ORDER BY mime""".stripMargin) { (s, d) =>
      blobs(s, d)
        .select(Multimodal.sniffMime(col("content")).as("mime"),
          length(col("content")).cast("long").as("nbytes"))
        .groupBy("mime")
        .agg(
          count(lit(1)).as("n_files"),
          sum(col("nbytes")).as("total_bytes"),
          min(col("nbytes")).as("min_bytes"),
          max(col("nbytes")).as("max_bytes"))
        .orderBy("mime")
    },

    // ---- q39: frame sampling over the binary payload -----------------------
    QueryDef(
      "q39_multimodal_frames",
      s"""WITH $BLOBS_SQL
         |SELECT s.doc_id, s.mime, CAST(r.i AS BIGINT) AS frame_no,
         |  substring(s.h, CAST(r.i * 64 + 1 AS BIGINT), 32) AS frame_hex
         |FROM sniffed s, range(0, 4) r(i)
         |WHERE s.doc_id < 30 AND r.i * 32 + 16 <= s.nbytes
         |ORDER BY s.doc_id, frame_no""".stripMargin) { (s, d) =>
      val sniffed = blobs(s, d)
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), col("content"),
          Multimodal.sniffMime(col("content")).as("mime"))
      Multimodal.frames(sniffed, "content", frameLen = 16, stride = 32, maxFrames = 4)
        .select(col("doc_id"), col("mime"), col("frame_no").cast("long"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("doc_id", "frame_no")
    },

    // ---- q63: typed metadata with REAL PNG + JPEG header parses ------------
    // Multimodal.metadata decodes PNG width/height from the IHDR chunk
    // (4-byte big-endian ints at bytes 17-24) and JPEG dims via the native
    // SOF segment walk (graftbridge.JpegDims). The fixture plants
    // doc_id-derived dims behind a doc_id-VARYING COM segment, and the
    // oracle re-parses both from the blob's hex — for JPEG it computes the
    // SOF offset from the planted COM length (13+2c with c = doc_id%5,
    // checking the 'FFC0' tag there), which only agrees with the Spark side
    // if the generic walk really followed the segment list. Unparseable
    // formats yield null dims, emitted as -1 so the driver's hash never
    // sees a null numeric column.
    QueryDef(
      "q63_multimodal_metadata",
      s"""WITH $BLOBS_SQL
         |SELECT doc_id, mime, CAST(nbytes AS BIGINT) AS bytes,
         |  COALESCE(CASE WHEN mime = 'image/png' AND substring(h, 25, 8) = '49484452'
         |       THEN ('0x' || substring(h, 33, 8))::BIGINT
         |       WHEN mime = 'image/jpeg'
         |        AND substring(h, CAST(13 + 2 * (doc_id % 5) AS INT), 4) = 'FFC0'
         |       THEN ('0x' || substring(h, CAST(27 + 2 * (doc_id % 5) AS INT), 4))::BIGINT
         |       END, -1) AS width,
         |  COALESCE(CASE WHEN mime = 'image/png' AND substring(h, 25, 8) = '49484452'
         |       THEN ('0x' || substring(h, 41, 8))::BIGINT
         |       WHEN mime = 'image/jpeg'
         |        AND substring(h, CAST(13 + 2 * (doc_id % 5) AS INT), 4) = 'FFC0'
         |       THEN ('0x' || substring(h, CAST(23 + 2 * (doc_id % 5) AS INT), 4))::BIGINT
         |       END, -1) AS height
         |FROM sniffed
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      blobs(s, d)
        .select(col("doc_id"), Multimodal.metadata(col("content")).as("m"))
        .select(col("doc_id"), col("m.mime").as("mime"), col("m.bytes").as("bytes"),
          coalesce(col("m.width"), lit(-1L)).as("width"),
          coalesce(col("m.height"), lit(-1L)).as("height"))
        .orderBy("doc_id")
    },

    // ---- q66: WAV fmt-chunk metadata parse (little-endian decode) ----------
    // Multimodal.wavMeta decodes PCM format/channels/sample-rate from the
    // canonical fmt chunk (LE uint16/uint32 at fixed offsets); the fixture
    // plants mono@44100 / stereo@16000 by doc_id, and the oracle re-parses
    // the blob hex with the same byte-reorder ('fmt ' tag = hex 666D7420 at
    // chars 25-32; channels chars 45-48; sample rate chars 49-56). Non-WAV
    // rows → -1 (null-free numeric columns for the driver hash).
    QueryDef(
      "q66_wav_metadata",
      s"""WITH $BLOBS_SQL
         |SELECT doc_id, mime,
         |  COALESCE(CASE WHEN mime = 'audio/wav' AND substring(h, 25, 8) = '666D7420'
         |    THEN ('0x' || substring(h, 47, 2) || substring(h, 45, 2))::BIGINT END, -1) AS channels,
         |  COALESCE(CASE WHEN mime = 'audio/wav' AND substring(h, 25, 8) = '666D7420'
         |    THEN ('0x' || substring(h, 55, 2) || substring(h, 53, 2) ||
         |          substring(h, 51, 2) || substring(h, 49, 2))::BIGINT END, -1) AS sample_rate
         |FROM sniffed
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      blobs(s, d)
        .select(col("doc_id"),
          Multimodal.sniffMime(col("content")).as("mime"),
          Multimodal.wavMeta(col("content")).as("w"))
        .select(col("doc_id"), col("mime"),
          coalesce(col("w.channels"), lit(-1L)).as("channels"),
          coalesce(col("w.sample_rate"), lit(-1L)).as("sample_rate"))
        .orderBy("doc_id")
    },

    // ---- q57: STUB decode→embed features feeding the near-dup family -------
    // The corpus has no exact-duplicate texts, so duplicates are planted:
    // docs with id < 50 appear again (same bytes, id + offset). Identical
    // blobs ⇒ identical stub features ⇒ identical SRP signatures in every
    // table (recall 1 for exact dups, no luck involved) ⇒ a cos_sim = 1.0
    // pair; asserted against exact blob equality in MultimodalSpec.
    // Upgraded r18 (verdict item 4) rows-only → hash-green, the q52/q74
    // planted-twin contract: the query still runs the full stub-feature →
    // SRP-bucket → exact-rerank pipeline, and the output is one row per
    // planted doc (twin pair found, its cosine exactly 1.0 — IEEE
    // sqrt(x·x)=x makes cos(v,v) exact) plus a pair-shape audit over the
    // WHOLE pair list (id_a < id_b, cos ≥ threshold, no duplicate pairs).
    // A planted doc whose twin pair goes missing drops its row (inner
    // join) → row-count red.
    QueryDef(
      "q57_multimodal_feature_dedup",
      """SELECT doc_id, CAST(1 AS BIGINT) AS twin_found,
        |  CAST(1 AS BIGINT) AS twin_cos_one,
        |  CAST(1 AS BIGINT) AS pair_shape_ok
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val b = blobs(s, d)
      val corpus = b.unionByName(
        b.filter(col("doc_id") < 50)
          .select((col("doc_id") + DUP_OFFSET).as("doc_id"), col("content")))
      val feats = corpus
        .select(col("doc_id"), Multimodal.featuresStub(col("content")).as("feat"))
      val pairs = Similarity.cosineNearDup(
        feats, "doc_id", "feat", threshold = 0.9999,
        dim = 8, bits = 8, tables = 4)
        .persist() // two consumers (twin probe + shape audit); Stage.query releases
      val twins = pairs
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + DUP_OFFSET)
        .select(col("id_a").as("doc_id"),
          lit(1L).as("twin_found"),
          when(col("cos_sim") === 1.0d, 1L).otherwise(0L).as("twin_cos_one"))
      val shape = pairs.agg(
        sum(when(col("id_a") < col("id_b") && col("cos_sim") >= 0.9999, 0L)
          .otherwise(1L)).as("bad"),
        (count(lit(1)) - countDistinct(col("id_a"), col("id_b"))).as("dups"))
      twins.crossJoin(broadcast(shape))
        .select(col("doc_id"), col("twin_found"), col("twin_cos_one"),
          when(col("bad") === 0L && col("dups") === 0L, 1L).otherwise(0L)
            .as("pair_shape_ok"))
        .orderBy("doc_id")
    },

    // ---- q154: compressed-payload round trip (native gzip codec) -----------
    // The 100 TB reality the other blob queries skip: text payloads ship
    // and sit COMPRESSED (WARC-style per-record gzip), so decode must be
    // per-row codegen map work. Spark side: utf8(text) -> graft_gzip ->
    // graft_gunzip -> decode, then per-source accounting over the DECODED
    // bytes (count, byte volume, a 40-bit-md5 content checksum, and a
    // must-be-zero failed-decode column). The oracle reads the plain text
    // directly — it can't see gzip bytes, and doesn't need to: any codec
    // corruption, truncation, or charset drift breaks the checksum, and a
    // decode returning null trips n_bad. Compression actually shrinking
    // payloads (and corrupt-input -> null permissiveness, bomb cap) is
    // pinned in CompressionSpec, where the compressed side is observable.
    QueryDef(
      "q154_compressed_payload",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
        |  CAST(SUM(('0x' || substring(md5(text), 1, 10))::BIGINT) AS BIGINT) AS checksum,
        |  CAST(0 AS BIGINT) AS n_bad
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      import graft.functions.CompressionExprs.{gzip, gunzip}
      val payload = gzip(encode(col("text"), "UTF-8"))
      Tables.documentsSpread(s, d)
        .select(col("source"), decode(gunzip(payload), "UTF-8").as("dec"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(encode(col("dec"), "UTF-8"))).cast("long").as("n_bytes"),
          sum(conv(substring(md5(col("dec")), 1, 10), 16, 10).cast("long"))
            .cast("long").as("checksum"),
          sum(when(col("dec").isNull, 1L).otherwise(0L)).as("n_bad"))
        .orderBy("source")
    },

    // ---- q187: MP4 (ISO-BMFF) movie-header decode + frame-sample plan ------
    // The video leg of the media-metadata family (PNG q63 / JPEG q63 / WAV
    // q66): REAL top-level box walk via [[Multimodal.mp4Meta]] — ftyp's
    // size varies with its compatible-brand list and an optional `free`
    // box precedes `moov` for doc_id%4==1, so the mvhd offset is
    // data-dependent and only reading the size fields reaches it — then
    // the schedule a frame-sampling pipeline derives BEFORE any codec
    // runs: ~1 fps capped at 8 samples, PTS in native timescale units via
    // pure integer arithmetic (i·duration DIV n). Planted ground truth:
    // timescale ∈ {600, 1000, 90000} and duration = ts·(1 + id%120) +
    // id%50 by doc_id, with doc_id%5==4 docs carrying raw text that must
    // decode to the unparsed class (timescale -1). The actual frame
    // EXTRACTION stays behind the documented codec stub boundary
    // ([[Multimodal.featuresStub]]); everything up to it — container
    // parse, per-title schedule, sampling arithmetic — is real, and at
    // 100 TB it's the cheap pruning pass that decides which byte ranges
    // the expensive decode stage reads at all.
    QueryDef(
      "q187_mp4_schedule",
      s"""WITH $MP4_SQL,
         |dec1 AS (SELECT doc_id, source, hex(content) AS h,
         |    octet_length(content) AS len FROM vids),
         |dec2 AS (SELECT *, CASE WHEN len >= 4
         |    THEN ('0x' || substring(h, 1, 8))::BIGINT END AS z0 FROM dec1),
         |dec3 AS (SELECT *,
         |    CASE WHEN substring(h, 9, 8) = '$FTYP_HEX' AND z0 BETWEEN 16 AND 80
         |      AND len >= z0 + 8 THEN 1 + 2 * z0 END AS s1 FROM dec2),
         |dec4 AS (SELECT *,
         |    CASE WHEN s1 IS NOT NULL THEN substring(h, s1 + 8, 8) END AS t1,
         |    CASE WHEN s1 IS NOT NULL
         |      THEN ('0x' || substring(h, s1, 8))::BIGINT END AS z1
         |  FROM dec3),
         |dec5 AS (SELECT *,
         |    CASE WHEN t1 = '$MOOV_HEX' THEN s1
         |         WHEN t1 = '$FREE_HEX' AND z1 BETWEEN 8 AND 64
         |          AND 2 * len >= s1 + 2 * z1 + 15
         |          AND substring(h, s1 + 2 * z1 + 8, 8) = '$MOOV_HEX'
         |         THEN s1 + 2 * z1 END AS ms FROM dec4),
         |dec6 AS (SELECT *,
         |    CASE WHEN ms IS NOT NULL AND 2 * len >= ms + 71
         |      AND substring(h, ms + 24, 8) = '$MVHD_HEX'
         |      AND substring(h, ms + 32, 2) = '00'
         |    THEN ('0x' || substring(h, ms + 56, 8))::BIGINT END AS tsc0 FROM dec5),
         |dec7 AS (SELECT doc_id, source,
         |    CASE WHEN tsc0 > 0 THEN tsc0 END AS tsc,
         |    CASE WHEN tsc0 > 0
         |      THEN ('0x' || substring(h, ms + 64, 8))::BIGINT END AS dur
         |  FROM dec6),
         |sched AS (SELECT source, COALESCE(tsc, -1) AS timescale,
         |    CASE WHEN tsc IS NOT NULL THEN (dur * 1000) // tsc END AS dur_ms,
         |    CASE WHEN tsc IS NOT NULL
         |      THEN LEAST(8, GREATEST(1, dur // tsc)) END AS n_samples,
         |    CASE WHEN tsc IS NOT NULL THEN CAST(list_sum(list_transform(
         |        range(0, LEAST(8, GREATEST(1, dur // tsc))),
         |        i -> (i * dur) // LEAST(8, GREATEST(1, dur // tsc)))) AS BIGINT)
         |      END AS pts_sum
         |  FROM dec7)
         |SELECT source, timescale,
         |  CAST(COUNT(*) AS BIGINT) AS n_videos,
         |  COALESCE(CAST(SUM(dur_ms) AS BIGINT), -1) AS sum_dur_ms,
         |  COALESCE(CAST(SUM(n_samples) AS BIGINT), -1) AS sum_samples,
         |  COALESCE(CAST(SUM(pts_sum) AS BIGINT), -1) AS sum_pts
         |FROM sched GROUP BY source, timescale
         |ORDER BY source, timescale""".stripMargin) { (s, d) =>
      val dec = mp4Blobs(s, d)
        .select(col("source"), Multimodal.mp4Meta(col("content")).as("m"))
        .select(col("source"), col("m.timescale").as("tsc"),
          col("m.duration").as("dur"))
        .withColumn("n_samples", when(col("tsc").isNotNull,
          least(lit(8L), greatest(lit(1L), expr("dur DIV tsc")))))
        .withColumn("dur_ms",
          when(col("tsc").isNotNull, expr("dur * 1000 DIV tsc")))
        .withColumn("pts_sum", when(col("tsc").isNotNull, expr(
          """aggregate(sequence(CAST(0 AS BIGINT), n_samples - 1),
            |CAST(0 AS BIGINT),
            |(acc, i) -> acc + (i * dur) DIV n_samples)""".stripMargin.replace("\n", " "))))
      dec
        .groupBy(col("source"), coalesce(col("tsc"), lit(-1L)).as("timescale"))
        .agg(count(lit(1)).as("n_videos"),
          coalesce(sum(col("dur_ms")), lit(-1L)).as("sum_dur_ms"),
          coalesce(sum(col("n_samples")), lit(-1L)).as("sum_samples"),
          coalesce(sum(col("pts_sum")), lit(-1L)).as("sum_pts"))
        .orderBy("source", "timescale")
    },

    // ---- q196: EXIF orientation — the endianness-dependent TIFF IFD walk ---
    // The first metadata decode every image-training pipeline runs: EXIF
    // orientation (1–8) says how the camera was held; training on
    // un-rotated pixels bakes the rotation in as noise, so the rotate/
    // mirror plan must come from the APP1 TIFF header BEFORE any codec.
    // Unlike the PNG/JPEG/WAV/MP4 decodes above, the TIFF walk's byte
    // ORDER is itself data — "II" little vs "MM" big endian, switching
    // every subsequent integer read — and the IFD0 offset is read from
    // the header, not assumed. The fixture plants BOTH endiannesses
    // (doc_id%2), a data-dependent header pad (IFD0 offset = 8 + doc_id%4
    // — a fixed-substring "parser" can't reach the IFD), a two-entry IFD
    // whose FIRST entry is a decoy (ImageDescription 0x010E, the spec's
    // ascending-tag order), and raw-text rows (doc_id%3==2) that must
    // decode to the unparsed class. The oracle rebuilds the identical
    // blob, re-derives the data-dependent entry offset from the plant,
    // CHECKS the orientation tag bytes there in the right endianness, and
    // extracts the value with the same byte swap — agreeing with Spark's
    // generic walk only if the walk really followed header → offset →
    // entry scan.
    QueryDef(
      "q196_exif_orientation", {
        def u16h(v: String) = {
          val x = s"lpad(to_hex($v), 4, '0')"
          s"(CASE WHEN le THEN substring($x, 3, 2) || substring($x, 1, 2) ELSE $x END)"
        }
        def u32h(v: String) = {
          val x = s"lpad(to_hex($v), 8, '0')"
          s"(CASE WHEN le THEN substring($x, 7, 2) || substring($x, 5, 2) || " +
            s"substring($x, 3, 2) || substring($x, 1, 2) ELSE $x END)"
        }
        s"""WITH plant AS (
           |  SELECT doc_id, text, doc_id % 2 = 0 AS le,
           |    CAST(doc_id % 4 AS BIGINT) AS p,
           |    CAST(1 + doc_id % 8 AS BIGINT) AS orient
           |  FROM documents),
           |eblobs AS (
           |  SELECT doc_id, p, le,
           |    CASE WHEN doc_id % 3 = 2 THEN encode(text)
           |    ELSE unhex('FFD8FFE1' || lpad(to_hex(46 + p), 4, '0') ||
           |      '457869660000' ||
           |      CASE WHEN le THEN '4949' ELSE '4D4D' END ||
           |      ${u16h("42")} || ${u32h("8 + p")} ||
           |      repeat('00', CAST(p AS BIGINT)) ||
           |      ${u16h("2")} ||
           |      ${u16h("270")} || ${u16h("2")} || ${u32h("4")} || '64657363' ||
           |      ${u16h("274")} || ${u16h("3")} || ${u32h("1")} ||
           |      ${u16h("orient")} || '0000' || ${u32h("0")}) || encode(text)
           |    END AS content
           |  FROM plant),
           |parsed AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 3 = 2 THEN CAST(-1 AS BIGINT)
           |         WHEN substring(hex(content), CAST(69 + 2 * p AS INT), 4) =
           |              CASE WHEN le THEN '1201' ELSE '0112' END
           |         THEN ('0x' || CASE WHEN le
           |             THEN substring(hex(content), CAST(87 + 2 * p AS INT), 2) ||
           |                  substring(hex(content), CAST(85 + 2 * p AS INT), 2)
           |             ELSE substring(hex(content), CAST(85 + 2 * p AS INT), 4)
           |           END)::BIGINT
           |         ELSE CAST(-1 AS BIGINT) END AS orientation
           |  FROM eblobs)
           |SELECT doc_id, orientation,
           |  CAST(CASE WHEN orientation = -1 THEN -1
           |       WHEN orientation IN (1, 2) THEN 0
           |       WHEN orientation IN (3, 4) THEN 180
           |       WHEN orientation IN (5, 6) THEN 90
           |       ELSE 270 END AS BIGINT) AS rotate_deg,
           |  CAST(CASE WHEN orientation = -1 THEN -1
           |       WHEN orientation IN (2, 4, 5, 7) THEN 1
           |       ELSE 0 END AS BIGINT) AS mirrored
           |FROM parsed
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val o = coalesce(
        Multimodal.exifOrientation(col("content")), lit(-1L))
      exifBlobs(s, d)
        .select(col("doc_id"), o.as("orientation"))
        .select(col("doc_id"), col("orientation"),
          when(col("orientation") === -1L, -1L)
            .when(col("orientation").isin(1L, 2L), 0L)
            .when(col("orientation").isin(3L, 4L), 180L)
            .when(col("orientation").isin(5L, 6L), 90L)
            .otherwise(270L).as("rotate_deg"),
          when(col("orientation") === -1L, -1L)
            .when(col("orientation").isin(2L, 4L, 5L, 7L), 1L)
            .otherwise(0L).as("mirrored"))
        .orderBy("doc_id")
    },

    // ---- q199: EXIF GPS detection + byte-surgery redaction plan ------------
    // q196's TIFF walk composed with q69's PII discipline — the image-side
    // PII gate every multimodal corpus runs before publishing: the GPS IFD
    // pointer tag (0x8825) in IFD0 is THE camera-location signal (its
    // value points at the latitude/longitude/altitude IFD), so the gate
    // must (a) flag its presence, (b) emit the byte-surgery plan — the
    // absolute offset of the 12-byte entry to zero — and (c) PROVE the
    // surgery works, by re-running the same walk over the spliced bytes
    // (`overlay` + re-scan: a zeroed entry no longer matches any tag).
    // The fixture plants BOTH endiannesses (doc_id%2), the data-dependent
    // header pad, a GPS-ABSENT class (doc_id%5==1 keeps the 2-entry IFD —
    // the scan must NOT fire on the zeroed next-pointer bytes at the same
    // position), and raw-text rows (doc_id%3==2, the unparsed class). The
    // oracle rebuilds the identical blob and CHECKS the tag bytes at the
    // plant-derived position in the right endianness (the q196
    // discipline), so the engines agree only if the walk really walked.
    //
    // 100 TB shape: pure per-row codegen'd expression work over the
    // binary column — no shuffle at all until the (tiny) ordered output;
    // in production this runs as a projection inside the ingest scan, and
    // the redaction overlay writes back columnar with zero decode.
    QueryDef(
      "q199_exif_gps_redaction", {
        def u16h(v: String) = {
          val x = s"lpad(to_hex($v), 4, '0')"
          s"(CASE WHEN le THEN substring($x, 3, 2) || substring($x, 1, 2) ELSE $x END)"
        }
        def u32h(v: String) = {
          val x = s"lpad(to_hex($v), 8, '0')"
          s"(CASE WHEN le THEN substring($x, 7, 2) || substring($x, 5, 2) || " +
            s"substring($x, 3, 2) || substring($x, 1, 2) ELSE $x END)"
        }
        s"""WITH plant AS (
           |  SELECT doc_id, text, doc_id % 2 = 0 AS le,
           |    CAST(doc_id % 4 AS BIGINT) AS p,
           |    CAST(1 + doc_id % 8 AS BIGINT) AS orient,
           |    (doc_id % 3 <> 2) AND (doc_id % 5 <> 1) AS gps
           |  FROM documents),
           |eblobs AS (
           |  SELECT doc_id, p, le,
           |    CASE WHEN doc_id % 3 = 2 THEN encode(text)
           |    ELSE unhex('FFD8FFE1' ||
           |      lpad(to_hex((CASE WHEN gps THEN 58 ELSE 46 END) + p), 4, '0') ||
           |      '457869660000' ||
           |      CASE WHEN le THEN '4949' ELSE '4D4D' END ||
           |      ${u16h("42")} || ${u32h("8 + p")} ||
           |      repeat('00', CAST(p AS BIGINT)) ||
           |      ${u16h("CASE WHEN gps THEN 3 ELSE 2 END")} ||
           |      ${u16h("270")} || ${u16h("2")} || ${u32h("4")} || '64657363' ||
           |      ${u16h("274")} || ${u16h("3")} || ${u32h("1")} ||
           |      ${u16h("orient")} || '0000' ||
           |      CASE WHEN gps THEN
           |        ${u16h("34853")} || ${u16h("4")} || ${u32h("1")} || ${u32h("50 + p")}
           |      ELSE '' END ||
           |      ${u32h("0")}) || encode(text)
           |    END AS content
           |  FROM plant),
           |parsed AS (
           |  SELECT doc_id, p, le, content,
           |    doc_id % 3 <> 2 AS ok,
           |    doc_id % 3 <> 2 AND
           |      substring(hex(content), CAST(93 + 2 * p AS INT), 4) =
           |        CASE WHEN le THEN '2588' ELSE '8825' END AS tag_hit
           |  FROM eblobs),
           |vals AS (
           |  SELECT doc_id, p, ok, tag_hit,
           |    CASE WHEN tag_hit THEN CASE WHEN le
           |      THEN ('0x' || substring(hex(content), CAST(115 + 2 * p AS INT), 2)
           |          || substring(hex(content), CAST(113 + 2 * p AS INT), 2)
           |          || substring(hex(content), CAST(111 + 2 * p AS INT), 2)
           |          || substring(hex(content), CAST(109 + 2 * p AS INT), 2))::BIGINT
           |      ELSE ('0x' || substring(hex(content), CAST(109 + 2 * p AS INT), 8))::BIGINT
           |    END END AS gps_val
           |  FROM parsed)
           |SELECT doc_id,
           |  CAST(CASE WHEN NOT ok THEN -1 WHEN tag_hit THEN 1 ELSE 0 END AS BIGINT)
           |    AS has_gps,
           |  CAST(CASE WHEN tag_hit THEN gps_val ELSE -1 END AS BIGINT) AS gps_off,
           |  CAST(CASE WHEN tag_hit THEN 47 + p ELSE -1 END AS BIGINT) AS redact_pos,
           |  CAST(CASE WHEN NOT ok THEN -1 ELSE 1 END AS BIGINT) AS clean_after
           |FROM vals
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      // STAGED through projections, deliberately: each withColumn
      // materializes one walk result as an attribute, so the next stage's
      // walk reads a leaf instead of inlining the previous walk's whole
      // expression tree per byte read (composing them inline is
      // multiplicative — the un-staged form OOM'd the driver during
      // analysis at sf0.001). CollapseProject leaves multi-referenced
      // non-cheap aliases un-inlined, so the staging survives
      // optimization.
      gpsBlobs(s, d)
        // three-valued-logic guard: treat an unknown parse as unparsed
        .withColumn("parsed",
          coalesce(Multimodal.tiffIfdOk(col("content")), lit(false)))
        .withColumn("pos", Multimodal.gpsEntryPos(col("content")))
        .withColumn("off", Multimodal.gpsIfdOffset(col("content")))
        // the surgery itself: zero the 12 entry bytes in place (tag
        // 0x0000, type 0, count 0 — skipped by any conforming reader)...
        .withColumn("zeroed", overlay(col("content"),
          lit(Array.fill[Byte](12)(0)), col("pos").cast("int")))
        // ...then PROVE it by re-running the same detection walk over the
        // spliced bytes
        .withColumn("regps", Multimodal.gpsEntryPos(col("zeroed")))
        .select(col("doc_id"),
          when(!col("parsed"), -1L).when(col("pos").isNotNull, 1L)
            .otherwise(0L).as("has_gps"),
          coalesce(col("off"), lit(-1L)).as("gps_off"),
          coalesce(col("pos"), lit(-1L)).as("redact_pos"),
          when(!col("parsed"), -1L)
            .when(col("pos").isNull, 1L)
            .otherwise(when(col("regps").isNull, 1L).otherwise(0L))
            .as("clean_after"))
        .orderBy("doc_id")
    },

    // ---- q230: GIF logical-screen decode + block-walk frame census ---------
    // The animated-GIF triage every image pipeline runs before any codec:
    // how many frames, is it animated, what are the canvas dims, how big
    // is the palette — all from the container, no LZW decode. Unlike the
    // fixed-offset PNG/WAV reads, a GIF's frames sit behind a
    // variable-length BLOCK LIST (optional global color table sized by a
    // packed-bits field, optional NETSCAPE loop extension, one graphic-
    // control extension per frame, LZW data sub-blocks with a length
    // prefix), so the census is a real walk: read the palette size from
    // the packed byte, hop extension blocks by their fixed sizes, hop
    // each frame by its descriptor + sub-block length, count the 0x2C
    // image separators, and demand the 0x3B trailer. Bounded unroll
    // (9 steps ≥ 1 app ext + 3×(GCE+frame) + trailer, the planted
    // ceiling; the q196 bounded-entry-scan discipline — and the q187
    // lesson: every step's position is STAGED via withColumn, so no
    // subtree multiplies through nested reads). Plants: both versions
    // (87a single-frame/no-GCE vs 89a 1–3 frames), palette
    // present×2-sizes/absent, varying LZW payload lengths, and a
    // raw-text must-fail class. The oracle rebuilds the identical blob
    // and CHECKS introducer/trailer bytes at plant-derived offsets
    // before answering from the plant — agreeing with the walk only if
    // the walk really followed packed-bits → palette hop → block hops.
    QueryDef(
      "q230_gif_census", {
        def le16(v: String) =
          s"(substring(lpad(to_hex($v), 4, '0'), 3, 2) || " +
            s"substring(lpad(to_hex($v), 4, '0'), 1, 2))"
        s"""WITH plant AS (
           |  SELECT doc_id, text,
           |    doc_id % 7 = 3 AS raw,
           |    doc_id % 2 = 0 AS v89,
           |    doc_id % 3 AS gc,
           |    CAST(1 + doc_id % 300 AS BIGINT) AS w,
           |    CAST(1 + doc_id % 200 AS BIGINT) AS h,
           |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 ELSE 1 END
           |      AS BIGINT) AS nf,
           |    CAST(2 + doc_id % 5 AS BIGINT) AS lz,
           |    CAST(doc_id % 4 AS BIGINT) AS lp,
           |    CAST(2 + doc_id % 6 AS BIGINT) AS dl
           |  FROM documents),
           |parts AS (
           |  SELECT *,
           |    CAST(CASE gc WHEN 0 THEN 6 WHEN 2 THEN 24 ELSE 0 END AS BIGINT)
           |      AS gct,
           |    CASE gc WHEN 0 THEN '80' WHEN 2 THEN '82' ELSE '00' END AS pk,
           |    CAST(CASE WHEN doc_id % 2 = 0 AND
           |        (CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 ELSE 1 END) > 1
           |      THEN 19 ELSE 0 END AS BIGINT) AS app
           |  FROM plant),
           |hexes AS (
           |  SELECT *,
           |    (CASE WHEN v89 THEN '474946383961' ELSE '474946383761' END) ||
           |    ${le16("w")} || ${le16("h")} || pk || '0000' ||
           |    repeat('0F', CAST(gct AS INT)) ||
           |    (CASE WHEN app > 0
           |      THEN '21FF0B4E45545343415045322E300301' || ${le16("lp")} || '00'
           |      ELSE '' END) ||
           |    repeat(
           |      (CASE WHEN v89 THEN '21F90400' || ${le16("dl")} || '0000'
           |       ELSE '' END) ||
           |      '2C00000000' || ${le16("w")} || ${le16("h")} || '00' ||
           |      '02' || lpad(to_hex(lz), 2, '0') ||
           |      repeat('5A', CAST(lz AS INT)) || '00',
           |      CAST(nf AS INT)) ||
           |    '3B' AS ghex
           |  FROM parts),
           |blobs AS (
           |  SELECT doc_id, raw, v89, w, h, nf, gct, app, lz,
           |    CASE WHEN raw THEN encode(text) ELSE unhex(ghex) END AS content
           |  FROM hexes),
           |chk AS (
           |  SELECT doc_id, raw, v89, w, h, nf, gct,
           |    hex(content) AS hx,
           |    14 + gct AS fb,
           |    app,
           |    CAST(CASE WHEN v89 THEN 8 ELSE 0 END AS BIGINT) AS gce,
           |    13 + gct + app +
           |      nf * ((CASE WHEN v89 THEN 8 ELSE 0 END) + 13 + lz) + 1 AS tot
           |  FROM blobs),
           |ok AS (
           |  SELECT doc_id, v89, w, h, nf, gct,
           |    NOT raw
           |    AND substring(hx, 1, 12) =
           |      (CASE WHEN v89 THEN '474946383961' ELSE '474946383761' END)
           |    AND (app = 0 OR substring(hx, CAST(2*fb - 1 AS INT), 4) = '21FF')
           |    AND substring(hx, CAST(2*(fb + app + gce) - 1 AS INT), 2) = '2C'
           |    AND substring(hx, CAST(2*tot - 1 AS INT), 2) = '3B' AS good
           |  FROM chk)
           |SELECT doc_id,
           |  CASE WHEN good THEN (CASE WHEN v89 THEN '89a' ELSE '87a' END) END
           |    AS version,
           |  CAST(CASE WHEN good THEN w ELSE -1 END AS BIGINT) AS width,
           |  CAST(CASE WHEN good THEN h ELSE -1 END AS BIGINT) AS height,
           |  CAST(CASE WHEN good THEN gct ELSE -1 END AS BIGINT) AS gct_bytes,
           |  CAST(CASE WHEN good THEN nf ELSE -1 END AS BIGINT) AS n_frames,
           |  CAST(CASE WHEN good THEN (CASE WHEN nf > 1 THEN 1 ELSE 0 END)
           |    ELSE -1 END AS BIGINT) AS animated
           |FROM ok
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      def byteAt(p: org.apache.spark.sql.Column) =
        col("hx").substr(p * 2 - 1, lit(2))
      def step(df: DataFrame): DataFrame = df
        .withColumn("b", byteAt(col("p")))
        .withColumn("lb", byteAt(col("p") + 1))
        .withColumn("ll",
          conv(byteAt(col("p") + 11), 16, 10).cast("long"))
        .withColumn("fin", col("seen") || col("bad"))
        .withColumn("isf", !col("fin") && col("b") === "2C")
        .withColumn("fbad",
          col("isf") && !(byteAt(col("p") + 12 + col("ll")) === "00"))
        .withColumn("nf",
          col("nf") + when(col("isf") && !col("fbad"), 1L).otherwise(0L))
        .withColumn("seen",
          col("seen") || (!col("fin") && col("b") === "3B"))
        .withColumn("bad",
          col("bad") || col("fbad") ||
            (!col("fin") && !col("b").isin("21", "2C", "3B")) ||
            (!col("fin") && col("b") === "21" && !col("lb").isin("F9", "FF")))
        .withColumn("p",
          when(col("fin") || col("bad") || col("b") === "3B", col("p"))
            .when(col("b") === "21" && col("lb") === "FF", col("p") + 19)
            .when(col("b") === "21" && col("lb") === "F9", col("p") + 8)
            .otherwise(col("p") + 13 + col("ll")))
      val base = gifBlobs(s, d)
        .withColumn("hx", hex(col("content")))
        .withColumn("ver",
          when(substring(col("hx"), 1, 12) === "474946383961", "89a")
            .when(substring(col("hx"), 1, 12) === "474946383761", "87a"))
        .withColumn("w", conv(concat(substring(col("hx"), 15, 2),
          substring(col("hx"), 13, 2)), 16, 10).cast("long"))
        .withColumn("h", conv(concat(substring(col("hx"), 19, 2),
          substring(col("hx"), 17, 2)), 16, 10).cast("long"))
        .withColumn("pk", conv(substring(col("hx"), 21, 2), 16, 10)
          .cast("long"))
        .withColumn("gctb",
          when(col("pk") >= 128,
            expr("cast(3 * shiftleft(1, cast(pk % 8 as int) + 1) as bigint)"))
            .otherwise(0L))
        .withColumn("p", lit(14L) + col("gctb"))
        .withColumn("nf", lit(0L))
        .withColumn("seen", lit(false))
        .withColumn("bad", col("ver").isNull)
      val walked = (1 to 9).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("ok", col("ver").isNotNull && col("seen") && !col("bad"))
        .select(col("doc_id"),
          when(col("ok"), col("ver")).as("version"),
          when(col("ok"), col("w")).otherwise(-1L).as("width"),
          when(col("ok"), col("h")).otherwise(-1L).as("height"),
          when(col("ok"), col("gctb")).otherwise(-1L).as("gct_bytes"),
          when(col("ok"), col("nf")).otherwise(-1L).as("n_frames"),
          when(col("ok"), when(col("nf") > 1, 1L).otherwise(0L))
            .otherwise(-1L).as("animated"))
        .orderBy("doc_id")
    },

    // ---- q236: FLAC STREAMINFO decode + metadata-block walk ----------------
    // The audio-side q230: everything an ingest pipeline needs to triage a
    // FLAC file — sample rate, channels, bit depth, duration-in-samples,
    // tag presence — WITHOUT an audio-frame decode. Two real parsing
    // problems compose: (a) the STREAMINFO fields are BIT-packed, not
    // byte-aligned (20-bit sample rate, 3-bit channels-1, 5-bit bps-1,
    // 36-bit total-samples inside 8 bytes) — decoded by ONE conv of the
    // 16-hex-digit window plus shift/mask arithmetic, no per-bit string
    // surgery; (b) the metadata block list is a length-prefixed walk with
    // an is-last FLAG BIT carried in the same byte as the 7-bit block
    // type (VORBIS_COMMENT / PADDING hops, planted in 4 layouts so the
    // flag moves between blocks). The walk demands the final position
    // land exactly on end-of-blob — a hop arithmetic error of one byte
    // fails the row. Bounded 3-step unroll, positions STAGED via
    // withColumn (the q187/q230 discipline); raw-text must-fail class.
    // The oracle rebuilds the identical blob and CHECKS magic, the
    // STREAMINFO header + 34-length, each planted tail-block header byte
    // at its computed offset, and the total byte length before answering
    // from the plant.
    QueryDef(
      "q236_flac_streaminfo", {
        s"""WITH plant AS (
           |  SELECT doc_id, text,
           |    doc_id % 7 = 3 AS raw,
           |    CAST(CASE doc_id % 6 WHEN 0 THEN 8000 WHEN 1 THEN 16000
           |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 WHEN 4 THEN 48000
           |      ELSE 96000 END AS BIGINT) AS sr,
           |    CAST(1 + doc_id % 4 AS BIGINT) AS ch,
           |    CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
           |      ELSE 24 END AS BIGINT) AS bps,
           |    CAST(1000 + doc_id % 100000 AS BIGINT) AS ts,
           |    CAST(doc_id % 4 AS BIGINT) AS lay,
           |    CAST(4 + doc_id % 9 AS BIGINT) AS vl,
           |    CAST(1 + doc_id % 7 AS BIGINT) AS pl
           |  FROM documents),
           |packed AS (
           |  SELECT *,
           |    sr * 17592186044416 + (ch - 1) * 2199023255552 +
           |      (bps - 1) * 68719476736 + ts AS pkv,
           |    CASE lay WHEN 0 THEN 1 WHEN 3 THEN 3 ELSE 2 END AS nb,
           |    CASE lay WHEN 1 THEN TRUE WHEN 3 THEN TRUE ELSE FALSE END
           |      AS haspad,
           |    CASE lay WHEN 2 THEN TRUE WHEN 3 THEN TRUE ELSE FALSE END
           |      AS hasvc
           |  FROM plant),
           |hexes AS (
           |  SELECT *,
           |    '664C6143' ||
           |    (CASE WHEN lay = 0 THEN '80' ELSE '00' END) || '000022' ||
           |    '1000' || '1000' || '000000' || '000000' ||
           |    lpad(to_hex(pkv), 16, '0') || repeat('00', 16) ||
           |    (CASE WHEN hasvc THEN
           |      (CASE WHEN lay = 2 THEN '84' ELSE '04' END) ||
           |      lpad(to_hex(vl), 6, '0') || repeat('56', CAST(vl AS INT))
           |     ELSE '' END) ||
           |    (CASE WHEN haspad THEN
           |      '81' || lpad(to_hex(pl), 6, '0') || repeat('00', CAST(pl AS INT))
           |     ELSE '' END) AS fhex
           |  FROM packed),
           |blobs AS (
           |  SELECT *,
           |    CASE WHEN raw THEN encode(text) ELSE unhex(fhex) END AS content
           |  FROM hexes),
           |chk AS (
           |  SELECT *, hex(content) AS hx,
           |    42 + (CASE WHEN hasvc THEN 4 + vl ELSE 0 END) +
           |         (CASE WHEN haspad THEN 4 + pl ELSE 0 END) AS tot,
           |    43 + (CASE WHEN hasvc THEN 4 + vl ELSE 0 END) AS padp
           |  FROM blobs),
           |ok AS (
           |  SELECT doc_id, sr, ch, bps, ts, nb, hasvc, haspad, pl,
           |    NOT raw
           |    AND substring(hx, 1, 8) = '664C6143'
           |    AND substring(hx, 9, 8) =
           |      (CASE WHEN lay = 0 THEN '80' ELSE '00' END) || '000022'
           |    AND (NOT hasvc OR substring(hx, 85, 2) =
           |      (CASE WHEN lay = 2 THEN '84' ELSE '04' END))
           |    AND (NOT haspad OR substring(hx, CAST(2*padp - 1 AS INT), 2)
           |      = '81')
           |    AND octet_length(content) = tot AS good
           |  FROM chk)
           |SELECT doc_id,
           |  CAST(CASE WHEN good THEN sr ELSE -1 END AS BIGINT) AS sample_rate,
           |  CAST(CASE WHEN good THEN ch ELSE -1 END AS BIGINT) AS channels,
           |  CAST(CASE WHEN good THEN bps ELSE -1 END AS BIGINT)
           |    AS bits_per_sample,
           |  CAST(CASE WHEN good THEN ts ELSE -1 END AS BIGINT)
           |    AS total_samples,
           |  CAST(CASE WHEN good THEN nb ELSE -1 END AS BIGINT) AS n_blocks,
           |  CAST(CASE WHEN good THEN (CASE WHEN hasvc THEN 1 ELSE 0 END)
           |    ELSE -1 END AS BIGINT) AS has_comment,
           |  CAST(CASE WHEN good THEN (CASE WHEN haspad THEN pl ELSE 0 END)
           |    ELSE -1 END AS BIGINT) AS padding_bytes
           |FROM ok
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      def byteAt(p: org.apache.spark.sql.Column) =
        conv(col("hx").substr(p * 2 - 1, lit(2)), 16, 10).cast("long")
      def step(df: DataFrame): DataFrame = df
        .withColumn("fin", col("last") || col("bad"))
        .withColumn("hb", byteAt(col("p")))
        .withColumn("bl",
          conv(col("hx").substr((col("p") + 1) * 2 - 1, lit(6)), 16, 10)
            .cast("long"))
        .withColumn("btype", pmod(col("hb"), lit(128L)))
        .withColumn("hc",
          col("hc") || (!col("fin") && col("btype") === 4L))
        .withColumn("pad",
          col("pad") + when(!col("fin") && col("btype") === 1L, col("bl"))
            .otherwise(0L))
        .withColumn("nb",
          col("nb") + when(!col("fin"), 1L).otherwise(0L))
        .withColumn("bad",
          col("bad") || (!col("fin") && !col("btype").isin(1L, 3L, 4L)))
        .withColumn("last",
          col("last") || (!col("fin") && col("hb") >= 128L))
        .withColumn("p",
          when(col("fin"), col("p")).otherwise(col("p") + 4 + col("bl")))
      val base = flacBlobs(s, d)
        .withColumn("hx", hex(col("content")))
        .withColumn("magic_ok", substring(col("hx"), 1, 8) === "664C6143")
        .withColumn("sihdr", conv(substring(col("hx"), 9, 2), 16, 10)
          .cast("long"))
        .withColumn("silen", conv(substring(col("hx"), 11, 6), 16, 10)
          .cast("long"))
        .withColumn("si_ok",
          col("magic_ok") && pmod(col("sihdr"), lit(128L)) === 0L &&
            col("silen") === 34L)
        // the 8 bit-packed bytes (STREAMINFO offset 10) as ONE integer:
        // sr:20 | ch-1:3 | bps-1:5 | total:36 — < 2^61, exact in a long
        .withColumn("pkv", conv(substring(col("hx"), 2 * 19 - 1, 16), 16, 10)
          .cast("long"))
        .withColumn("sr", shiftright(col("pkv"), 44))
        .withColumn("ch", pmod(shiftright(col("pkv"), 41), lit(8L)) + 1L)
        .withColumn("bps", pmod(shiftright(col("pkv"), 36), lit(32L)) + 1L)
        .withColumn("ts", pmod(col("pkv"), lit(68719476736L)))
        .withColumn("p", lit(43L))
        .withColumn("nb", lit(1L))
        .withColumn("hc", lit(false))
        .withColumn("pad", lit(0L))
        .withColumn("last", col("sihdr") >= 128L)
        .withColumn("bad", !col("si_ok"))
      val walked = (1 to 3).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("ok",
          col("si_ok") && col("last") && !col("bad") &&
            col("p") === length(col("content")) + 1)
        .select(col("doc_id"),
          when(col("ok"), col("sr")).otherwise(-1L).as("sample_rate"),
          when(col("ok"), col("ch")).otherwise(-1L).as("channels"),
          when(col("ok"), col("bps")).otherwise(-1L).as("bits_per_sample"),
          when(col("ok"), col("ts")).otherwise(-1L).as("total_samples"),
          when(col("ok"), col("nb")).otherwise(-1L).as("n_blocks"),
          when(col("ok"), when(col("hc"), 1L).otherwise(0L))
            .otherwise(-1L).as("has_comment"),
          when(col("ok"), col("pad")).otherwise(-1L).as("padding_bytes"))
        .orderBy("doc_id")
    },

    // ---- q240: MP3 frame-sync census with ID3v2 syncsafe skip ---------------
    // The lossy-audio triage q236's FLAC walk can't cover: an MP3 has no
    // global header — duration and bitrate come from walking FRAME
    // HEADERS, each frame's length computed from its own header fields
    // (len = 144·bitrate/samplerate + padding, the MPEG1 Layer III
    // formula), optionally after skipping an ID3v2 tag whose size is a
    // SYNCSAFE integer (four 7-BIT bytes — 130 encodes as 0x01 0x02, so
    // an 8-bit reader breaks on any tag over 127 bytes; the planted
    // sizes cross that boundary both ways). The walk: detect 'ID3',
    // decode the syncsafe size, hop the tag, then 3 bounded frame steps —
    // demand the 0xFFFB sync at each computed offset, decode
    // bitrate/samplerate indices from the packed byte (bit shifts on ONE
    // conv), add the per-frame padding bit, and land exactly on
    // end-of-blob. Per-frame padding ALTERNATES (doc_id+frame parity), so
    // identical headers still produce different frame lengths — a walk
    // that assumes constant stride fails the position check. Raw-text
    // must-fail class; the oracle rebuilds the blob and checks the sync
    // word at every plant-derived frame offset before answering.
    QueryDef(
      "q240_mp3_sync_census", {
        s"""WITH plant AS (
           |  SELECT doc_id, text,
           |    doc_id % 7 = 3 AS raw,
           |    doc_id % 4 <> 0 AS hasid3,
           |    CAST(CASE doc_id % 3 WHEN 0 THEN 60 WHEN 1 THEN 130
           |      ELSE 300 END AS BIGINT) AS ts,
           |    CAST(1 + doc_id % 5 AS BIGINT) AS bi,
           |    CAST(doc_id % 3 AS BIGINT) AS si,
           |    CAST(1 + doc_id % 3 AS BIGINT) AS nf
           |  FROM documents),
           |derived AS (
           |  SELECT *,
           |    CAST(32 + 8 * (bi - 1) AS BIGINT) AS kbps,
           |    CAST(CASE si WHEN 0 THEN 44100 WHEN 1 THEN 48000
           |      ELSE 32000 END AS BIGINT) AS sr
           |  FROM plant),
           |lens AS (
           |  SELECT *,
           |    144 * (kbps * 1000) // sr AS flbase,
           |    CASE WHEN hasid3 THEN 10 + ts ELSE 0 END AS tagtot
           |  FROM derived),
           |fr AS (
           |  SELECT *,
           |    flbase + (doc_id + 1) % 2 AS fl1,
           |    flbase + (doc_id + 2) % 2 AS fl2,
           |    flbase + (doc_id + 3) % 2 AS fl3
           |  FROM lens),
           |hexes AS (
           |  SELECT *,
           |    (CASE WHEN hasid3 THEN
           |      '494433' || '0300' || '00' || '0000' ||
           |      lpad(to_hex(ts // 128), 2, '0') || lpad(to_hex(ts % 128), 2, '0') ||
           |      repeat('54', CAST(ts AS INT))
           |     ELSE '' END) ||
           |    'FFFB' || lpad(to_hex(bi * 16 + si * 4 + (doc_id + 1) % 2 * 2), 2, '0')
           |      || '00' || repeat('4D', CAST(fl1 - 4 AS INT)) ||
           |    (CASE WHEN nf >= 2 THEN
           |      'FFFB' || lpad(to_hex(bi * 16 + si * 4 + (doc_id + 2) % 2 * 2), 2, '0')
           |        || '00' || repeat('4D', CAST(fl2 - 4 AS INT)) ELSE '' END) ||
           |    (CASE WHEN nf >= 3 THEN
           |      'FFFB' || lpad(to_hex(bi * 16 + si * 4 + (doc_id + 3) % 2 * 2), 2, '0')
           |        || '00' || repeat('4D', CAST(fl3 - 4 AS INT)) ELSE '' END)
           |    AS mhex
           |  FROM fr),
           |blobs AS (
           |  SELECT *,
           |    CASE WHEN raw THEN encode(text) ELSE unhex(mhex) END AS content
           |  FROM hexes),
           |chk AS (
           |  SELECT *, hex(content) AS hx,
           |    tagtot + 1 AS o1,
           |    tagtot + 1 + fl1 AS o2,
           |    tagtot + 1 + fl1 + fl2 AS o3,
           |    tagtot + fl1 + (CASE WHEN nf >= 2 THEN fl2 ELSE 0 END) +
           |      (CASE WHEN nf >= 3 THEN fl3 ELSE 0 END) AS tot
           |  FROM blobs),
           |ok AS (
           |  SELECT doc_id, hasid3, ts, nf, kbps, sr,
           |    NOT raw
           |    AND (NOT hasid3 OR substring(hx, 1, 6) = '494433')
           |    AND substring(hx, CAST(2*o1 - 1 AS INT), 4) = 'FFFB'
           |    AND (nf < 2 OR substring(hx, CAST(2*o2 - 1 AS INT), 4) = 'FFFB')
           |    AND (nf < 3 OR substring(hx, CAST(2*o3 - 1 AS INT), 4) = 'FFFB')
           |    AND octet_length(content) = tot AS good
           |  FROM chk)
           |SELECT doc_id,
           |  CAST(CASE WHEN good THEN (CASE WHEN hasid3 THEN 1 ELSE 0 END)
           |    ELSE -1 END AS BIGINT) AS has_id3,
           |  CAST(CASE WHEN good THEN (CASE WHEN hasid3 THEN ts ELSE 0 END)
           |    ELSE -1 END AS BIGINT) AS tag_bytes,
           |  CAST(CASE WHEN good THEN nf ELSE -1 END AS BIGINT) AS n_frames,
           |  CAST(CASE WHEN good THEN kbps ELSE -1 END AS BIGINT)
           |    AS bitrate_kbps,
           |  CAST(CASE WHEN good THEN sr ELSE -1 END AS BIGINT)
           |    AS sample_rate
           |FROM ok
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      def byteAt(p: org.apache.spark.sql.Column) =
        conv(col("hx").substr(p * 2 - 1, lit(2)), 16, 10).cast("long")
      def word(p: org.apache.spark.sql.Column) =
        col("hx").substr(p * 2 - 1, lit(4))
      def step(df: DataFrame): DataFrame = df
        .withColumn("fin", col("bad") || col("p") > col("blen"))
        .withColumn("sync_ok", !col("fin") && word(col("p")) === "FFFB")
        .withColumn("b3",
          when(col("sync_ok"), byteAt(col("p") + 2)).otherwise(0L))
        .withColumn("fbr",
          when(col("sync_ok"), lit(32L) + (shiftright(col("b3"), 4) - 1L) * 8L))
        .withColumn("fsr",
          when(col("sync_ok"),
            when(pmod(shiftright(col("b3"), 2), lit(4L)) === 0L, 44100L)
              .when(pmod(shiftright(col("b3"), 2), lit(4L)) === 1L, 48000L)
              .otherwise(32000L)))
        // first frame pins the stream params; later frames must agree
        .withColumn("bad",
          col("bad") ||
            (!col("fin") && !col("sync_ok")) ||
            (col("sync_ok") && col("kbps").isNotNull &&
              (col("fbr") =!= col("kbps") || col("fsr") =!= col("sr"))))
        .withColumn("kbps", coalesce(col("kbps"), col("fbr")))
        .withColumn("sr", coalesce(col("sr"), col("fsr")))
        .withColumn("nf",
          col("nf") + when(col("sync_ok") && !col("bad"), 1L).otherwise(0L))
        .withColumn("p",
          when(col("fin") || col("bad"), col("p"))
            .otherwise(col("p") + expr("144 * (fbr * 1000) div fsr")
              + pmod(shiftright(col("b3"), 1), lit(2L))))
      val base = mp3Blobs(s, d)
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("hasid3", substring(col("hx"), 1, 6) === "494433")
        // ID3v2 size: four SYNCSAFE bytes (7 bits each) at offsets 7-10
        .withColumn("ts",
          when(col("hasid3"),
            pmod(byteAt(lit(7L)), lit(128L)) * 2097152L +
              pmod(byteAt(lit(8L)), lit(128L)) * 16384L +
              pmod(byteAt(lit(9L)), lit(128L)) * 128L +
              pmod(byteAt(lit(10L)), lit(128L))))
        .withColumn("p",
          when(col("hasid3"), lit(11L) + col("ts")).otherwise(1L))
        .withColumn("nf", lit(0L))
        .withColumn("kbps", lit(null).cast("long"))
        .withColumn("sr", lit(null).cast("long"))
        .withColumn("bad", lit(false))
      val walked = (1 to 3).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("ok",
          !col("bad") && col("nf") >= 1 && col("p") === col("blen") + 1)
        .select(col("doc_id"),
          when(col("ok"), when(col("hasid3"), 1L).otherwise(0L))
            .otherwise(-1L).as("has_id3"),
          when(col("ok"), when(col("hasid3"), col("ts")).otherwise(0L))
            .otherwise(-1L).as("tag_bytes"),
          when(col("ok"), col("nf")).otherwise(-1L).as("n_frames"),
          when(col("ok"), col("kbps")).otherwise(-1L).as("bitrate_kbps"),
          when(col("ok"), col("sr")).otherwise(-1L).as("sample_rate"))
        .orderBy("doc_id")
    },

    // ---- q251: ID3v2 text-frame extraction (audio metadata → columns) -----
    // q240 walks the AUDIO frames past the tag; this walks the TAG
    // itself — the metadata-extraction op an audio-corpus pipeline runs
    // to get title/artist columns out of ID3v2.3 (informal standard,
    // id3.org): 10-byte header with a SYNCSAFE size, then a frame walk —
    // 4-char frame id, big-endian uint32 size, 2 flag bytes, then an
    // encoding byte (0x00 = ISO-8859-1) and the text — terminated by
    // zero-padding. The fixture plants TIT2 (+ TPE1 on %3≠0 docs) with
    // doc-derived text and padding that crosses the 7-bit syncsafe
    // boundary both ways (150 vs <9 bytes); %7==3 rows are raw text (the
    // must-fail class). The walk is blind: frame offsets, sizes, the
    // padding run, and the blob-length/tag-size consistency are all READ
    // from bytes and cross-checked, so any drift between build and parse
    // fails the oracle.
    //
    // 100 TB shape: pure codegen'd expressions riding the scan (hex
    // substring walk, staged via withColumn — the q187/q199
    // expression-tree lesson); zero shuffles beyond the output sort,
    // zero UDFs.
    QueryDef(
      "q251_id3v2_frames",
      """WITH lt AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    doc_id % 7 = 3 AS raw,
        |    substring(letters, 1, CAST(8 + doc_id % 7 AS INT)) AS title,
        |    substring(letters, 21, CAST(6 + doc_id % 5 AS INT)) AS artist,
        |    doc_id % 3 <> 0 AS hasart,
        |    CASE WHEN doc_id % 2 = 0 THEN 150 ELSE doc_id % 9 END AS pad
        |  FROM lt),
        |r AS (
        |  SELECT *,
        |    10 + 1 + length(title) +
        |      CASE WHEN hasart THEN 10 + 1 + length(artist) ELSE 0 END + pad AS tagsz,
        |    CASE WHEN hasart THEN 2 ELSE 1 END AS nfr
        |  FROM p)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CASE WHEN raw THEN NULL ELSE title END AS title,
        |  CASE WHEN raw OR NOT hasart THEN NULL ELSE artist END AS artist,
        |  CAST(CASE WHEN raw THEN -1 ELSE nfr END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN raw THEN -1 ELSE tagsz END AS BIGINT) AS tag_bytes,
        |  CAST(CASE WHEN raw THEN -1 ELSE pad END AS BIGINT) AS pad_bytes
        |FROM r
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      // ---- fixture: ID3v2.3 tag blob (or raw text on the %7==3 rows) ----
      val raw = pmod(did, lit(7)) === 3
      val letters = regexp_replace(col("text"), "[^a-z]", "")
      val title = letters.substr(lit(1), (lit(8L) + pmod(did, lit(7))).cast("int"))
      val artist = letters.substr(lit(21), (lit(6L) + pmod(did, lit(5))).cast("int"))
      val hasArt = pmod(did, lit(3)) =!= 0
      val pad = when(pmod(did, lit(2)) === 0, 150L).otherwise(pmod(did, lit(9)))
      def frame(fidHex: String, txt: org.apache.spark.sql.Column) = concat(
        lit(fidHex), lpad(hex(length(txt) + 1L), 8, "0"), lit("0000"),
        lit("00"), hex(encode(txt, "UTF-8")))
      val blobs = Tables.documentsSpread(s, d)
        .withColumn("__t1", title).withColumn("__t2", artist)
        .withColumn("__tagsz",
          lit(11L) + length(col("__t1")) +
            when(hasArt, lit(11L) + length(col("__t2"))).otherwise(0L) + pad)
        .withColumn("mhex", concat(
          lit("494433030000"), lit("0000"),
          lpad(hex((col("__tagsz") / 128L).cast("long")), 2, "0"),
          lpad(hex(pmod(col("__tagsz"), lit(128L))), 2, "0"),
          frame("54495432", col("__t1")),
          when(hasArt, frame("54504531", col("__t2"))).otherwise(lit("")),
          call_function("repeat", lit("00"), pad.cast("int"))))
        .select(did,
          when(raw, encode(col("text"), "UTF-8"))
            .otherwise(unhex(col("mhex"))).as("content"))
      // ---- the parse side sees ONLY (doc_id, content) from here on ----
      def byteAt(p: org.apache.spark.sql.Column) =
        conv(col("hx").substr(p * 2 - 1, lit(2)), 16, 10).cast("long")
      def step(df: DataFrame): DataFrame = df
        .withColumn("fin", col("done") || col("bad") || col("p") > col("tagend"))
        .withColumn("ispad",
          !col("fin") && col("hx").substr(col("p") * 2 - 1, lit(2)) === "00")
        .withColumn("done", col("fin") || col("ispad"))
        .withColumn("fid", col("hx").substr(col("p") * 2 - 1, lit(8)))
        .withColumn("fsz",
          conv(col("hx").substr((col("p") + 4L) * 2 - 1, lit(8)), 16, 10)
            .cast("long"))
        .withColumn("fok", !col("done") &&
          (col("fid") === "54495432" || col("fid") === "54504531") &&
          col("hx").substr((col("p") + 10L) * 2 - 1, lit(2)) === "00" &&
          col("fsz") >= 1L &&
          col("p") + 10L + col("fsz") - 1L <= col("tagend"))
        .withColumn("bad", col("bad") || (!col("done") && !col("fok")))
        .withColumn("ftxt", when(col("fok"),
          decode(unhex(col("hx").substr((col("p") + 11L) * 2 - 1,
            ((col("fsz") - 1L) * 2L).cast("int"))), "UTF-8")))
        .withColumn("title",
          when(col("fok") && col("fid") === "54495432", col("ftxt"))
            .otherwise(col("title")))
        .withColumn("artist",
          when(col("fok") && col("fid") === "54504531", col("ftxt"))
            .otherwise(col("artist")))
        .withColumn("nfr", col("nfr") + when(col("fok"), 1L).otherwise(0L))
        .withColumn("p",
          when(col("fok"), col("p") + 10L + col("fsz")).otherwise(col("p")))
        .drop("fin", "ispad", "fid", "fsz", "fok", "ftxt")
      val base = blobs
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("hasid3",
          substring(col("hx"), 1, 6) === "494433" && col("blen") >= 10L)
        .withColumn("verok", col("hasid3") && byteAt(lit(4L)) === 3L)
        // ID3v2 size: four SYNCSAFE bytes (7 bits each) at offsets 7-10
        .withColumn("ts", when(col("hasid3"),
          pmod(byteAt(lit(7L)), lit(128L)) * 2097152L +
            pmod(byteAt(lit(8L)), lit(128L)) * 16384L +
            pmod(byteAt(lit(9L)), lit(128L)) * 128L +
            pmod(byteAt(lit(10L)), lit(128L))))
        .withColumn("tagend", lit(10L) + col("ts"))
        .withColumn("p", lit(11L))
        .withColumn("nfr", lit(0L))
        .withColumn("title", lit(null).cast("string"))
        .withColumn("artist", lit(null).cast("string"))
        .withColumn("bad", !col("verok"))
        .withColumn("done", !col("verok"))
      val walked = (1 to 2).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("remhex", col("hx").substr(col("p") * 2 - 1,
          greatest((col("tagend") - col("p") + 1L) * 2L, lit(0L)).cast("int")))
        .withColumn("ok",
          col("hasid3") && !col("bad") && col("nfr") >= 1L &&
            col("remhex").rlike("^(00)*$") && col("blen") === col("tagend"))
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("title")).otherwise(lit(null).cast("string"))
            .as("title"),
          when(col("ok"), col("artist")).otherwise(lit(null).cast("string"))
            .as("artist"),
          when(col("ok"), col("nfr")).otherwise(-1L).as("n_frames"),
          when(col("ok"), col("ts")).otherwise(-1L).as("tag_bytes"),
          when(col("ok"), col("tagend") - col("p") + 1L).otherwise(-1L)
            .as("pad_bytes"))
        .orderBy("doc_id")
    },

    // ---- q256: ZIP central-directory census (archive ingest) ---------------
    // Corpora ship as archives; the ingest layer's first pass is the ZIP
    // central-directory walk (PKWARE APPNOTE, public format): find the
    // end-of-central-directory record at the blob tail (sig PK\x05\x06),
    // read entry count / CD size / CD offset (all little-endian), walk
    // the CD entries (sig PK\x01\x02, LE u16/u32 fields, variable-length
    // name/extra/comment), and CROSS-CHECK each entry's local-file-header
    // sig and name at its recorded offset — the member listing
    // (names/sizes/checksums) without touching file data, which is
    // exactly how an archive reader plans extraction. The fixture builds
    // 1–3 STORED members per doc with doc-derived names/sizes/CRCs and
    // both single- and multi-member layouts; %7==3 rows are raw text
    // (the must-fail class). The walk is blind — every offset, length,
    // and name is READ from bytes, and blob-length/CD-extent consistency
    // is asserted — so a drifted builder or parser fails the oracle's
    // plant-pinned member ledger.
    //
    // 100 TB shape: pure codegen'd hex-substring expressions riding the
    // scan (the q240/q251 discipline), zero shuffles, zero UDFs. Real
    // archives put the EOCD within a bounded tail window — the same
    // fixed-position reads, found by a bounded scan.
    QueryDef(
      "q256_zip_census",
      """WITH lt AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 1 + doc_id % 3 AS nf,
        |    length(substring(letters, 1, CAST(10 + (doc_id+1) % 11 AS INT))) AS l1,
        |    length(substring(letters, 21, CAST(10 + (doc_id+2) % 11 AS INT))) AS l2,
        |    length(substring(letters, 41, CAST(10 + (doc_id+3) % 11 AS INT))) AS l3,
        |    ('0x' || substring(md5('crc:' || CAST(doc_id AS VARCHAR) || ':1'), 1, 15))::BIGINT % 4294967296 AS c1,
        |    ('0x' || substring(md5('crc:' || CAST(doc_id AS VARCHAR) || ':2'), 1, 15))::BIGINT % 4294967296 AS c2,
        |    ('0x' || substring(md5('crc:' || CAST(doc_id AS VARCHAR) || ':3'), 1, 15))::BIGINT % 4294967296 AS c3
        |  FROM lt)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN raw THEN -1 ELSE nf END AS BIGINT) AS n_files,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nf = 1 THEN l1 WHEN nf = 2 THEN l1 + l2
        |    ELSE l1 + l2 + l3 END AS BIGINT) AS total_bytes,
        |  CASE WHEN raw THEN NULL
        |    WHEN nf = 1 THEN 'f1.txt' WHEN nf = 2 THEN 'f1.txt,f2.txt'
        |    ELSE 'f1.txt,f2.txt,f3.txt' END AS names,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nf = 1 THEN c1 WHEN nf = 2 THEN c1 + c2
        |    ELSE c1 + c2 + c3 END AS BIGINT) AS crc_sum
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      // ---- fixture: a STORED-member ZIP per doc ----
      def le2(x: org.apache.spark.sql.Column) = concat(
        lpad(hex(pmod(x, lit(256L))), 2, "0"),
        lpad(hex(pmod((x / 256L).cast("long"), lit(256L))), 2, "0"))
      def le4(x: org.apache.spark.sql.Column) = concat(
        le2(pmod(x, lit(65536L))), le2((x / 65536L).cast("long")))
      val raw = pmod(did, lit(7)) === 3
      val letters = regexp_replace(col("text"), "[^a-z]", "")
      val nf = lit(1L) + pmod(did, lit(3))
      def dat(i: Int) = letters.substr(lit((i - 1) * 20 + 1),
        (lit(10L) + pmod(did + i, lit(11))).cast("int"))
      def crc(i: Int) = pmod(
        conv(substring(md5(concat(lit("crc:"), did.cast("string"),
          lit(s":$i"))), 1, 15), 16, 10).cast("long"),
        lit(4294967296L))
      def nameHex(i: Int) = hexLit(s"f$i.txt".getBytes("UTF-8"))
      val blobs0 = Tables.documentsSpread(s, d)
        .withColumn("l1", length(dat(1)).cast("long"))
        .withColumn("l2", length(dat(2)).cast("long"))
        .withColumn("l3", length(dat(3)).cast("long"))
      def lfh(i: Int) = concat(
        lit("504B0304" + "1400" + "0000000000000000"),
        le4(crc(i)), le4(col(s"l$i")), le4(col(s"l$i")),
        lit("0600" + "0000"), lit(nameHex(i)), hex(encode(dat(i), "UTF-8")))
      def off(i: Int): org.apache.spark.sql.Column = i match {
        case 1 => lit(0L)
        case n => off(n - 1) + lit(36L) + col(s"l${n - 1}")
      }
      def cd(i: Int) = concat(
        lit("504B0102" + "1400" + "1400" + "0000000000000000"),
        le4(crc(i)), le4(col(s"l$i")), le4(col(s"l$i")),
        lit("0600" + "0000" + "0000" + "0000" + "0000" + "00000000"),
        le4(off(i)), lit(nameHex(i)))
      val blobs = blobs0
        .withColumn("cdoff",
          lit(36L) + col("l1") +
            when(nf >= 2, lit(36L) + col("l2")).otherwise(0L) +
            when(nf >= 3, lit(36L) + col("l3")).otherwise(0L))
        .withColumn("mhex", concat(
          lfh(1),
          when(nf >= 2, lfh(2)).otherwise(lit("")),
          when(nf >= 3, lfh(3)).otherwise(lit("")),
          cd(1),
          when(nf >= 2, cd(2)).otherwise(lit("")),
          when(nf >= 3, cd(3)).otherwise(lit("")),
          lit("504B0506" + "0000" + "0000"),
          le2(nf), le2(nf), le4(nf * 52L), le4(col("cdoff")),
          lit("0000")))
        .select(did,
          when(raw, encode(col("text"), "UTF-8"))
            .otherwise(unhex(col("mhex"))).as("content"))
      // ---- the parse side sees ONLY (doc_id, content) from here on ----
      def byteAt(p: org.apache.spark.sql.Column) =
        conv(col("hx").substr(p * 2 - 1, lit(2)), 16, 10).cast("long")
      def rd2(p: org.apache.spark.sql.Column) = byteAt(p) + byteAt(p + 1L) * 256L
      def rd4(p: org.apache.spark.sql.Column) =
        rd2(p) + rd2(p + 2L) * 65536L
      def sig(p: org.apache.spark.sql.Column, n: Int) =
        col("hx").substr(p * 2 - 1, lit(2 * n))
      def step(i: Int)(df: DataFrame): DataFrame = df
        .withColumn("fin", col("bad") || lit(i.toLong) > col("pnf"))
        .withColumn("nmlen", rd2(col("q") + 28L))
        .withColumn("exlen", rd2(col("q") + 30L))
        .withColumn("cmlen", rd2(col("q") + 32L))
        .withColumn("lfo", rd4(col("q") + 42L))
        .withColumn("cdnm", when(!col("fin"),
          decode(unhex(col("hx").substr((col("q") + 46L) * 2 - 1,
            (col("nmlen") * 2L).cast("int"))), "UTF-8")))
        .withColumn("lfnm", when(!col("fin"),
          decode(unhex(col("hx").substr((col("lfo") + 31L) * 2 - 1,
            (rd2(col("lfo") + 27L) * 2L).cast("int"))), "UTF-8")))
        .withColumn("entok", !col("fin") &&
          sig(col("q"), 4) === "504B0102" &&
          sig(col("lfo") + 1L, 4) === "504B0304" &&
          col("cdnm") === col("lfnm") && col("nmlen") >= 1L)
        .withColumn("bad", col("bad") || (!col("fin") && !col("entok")))
        .withColumn("tot",
          col("tot") + when(col("entok"), rd4(col("q") + 24L)).otherwise(0L))
        .withColumn("crcs",
          col("crcs") + when(col("entok"), rd4(col("q") + 16L)).otherwise(0L))
        .withColumn("names", when(!col("entok"), col("names"))
          .otherwise(when(col("names") === "", col("cdnm"))
            .otherwise(concat(col("names"), lit(","), col("cdnm")))))
        .withColumn("q",
          when(col("entok"),
            col("q") + 46L + col("nmlen") + col("exlen") + col("cmlen"))
            .otherwise(col("q")))
        .drop("fin", "nmlen", "exlen", "cmlen", "lfo", "cdnm", "lfnm", "entok")
      val base = blobs
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("e", col("blen") - 21L)
        .withColumn("haszip",
          col("blen") >= 22L && sig(col("e"), 4) === "504B0506")
        .withColumn("pnf", when(col("haszip"), rd2(col("e") + 10L))
          .otherwise(0L))
        .withColumn("cdsz", when(col("haszip"), rd4(col("e") + 12L)))
        .withColumn("cdoff", when(col("haszip"), rd4(col("e") + 16L)))
        .withColumn("q", col("cdoff") + 1L)
        .withColumn("tot", lit(0L))
        .withColumn("crcs", lit(0L))
        .withColumn("names", lit(""))
        // the walker is 3-entry-bounded (the fixture's max); a count
        // beyond the bound is out of scope, not silently truncated
        .withColumn("bad",
          !col("haszip") || col("pnf") < 1L || col("pnf") > 3L ||
            col("blen") =!= col("cdoff") + col("cdsz") + 22L)
      val walked = (1 to 3).foldLeft(base)((df, i) => step(i)(df))
      walked
        .withColumn("ok",
          col("haszip") && !col("bad") &&
            col("q") === col("cdoff") + col("cdsz") + 1L)
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("pnf")).otherwise(-1L).as("n_files"),
          when(col("ok"), col("tot")).otherwise(-1L).as("total_bytes"),
          when(col("ok"), col("names")).otherwise(lit(null).cast("string"))
            .as("names"),
          when(col("ok"), col("crcs")).otherwise(-1L).as("crc_sum"))
        .orderBy("doc_id")
    },

    // ---- q257: WARC record walk (the web-crawl container) ------------------
    // Common Crawl — the largest public LLM-pretraining source — ships
    // as WARC (ISO 28500): concatenated records, each a version line +
    // named header fields + CRLFCRLF + a Content-Length-delimited
    // payload + CRLFCRLF. The ingest pass walks records by
    // Content-Length (never by scanning payload bytes — payloads may
    // contain anything), extracts the header fields (WARC-Type,
    // WARC-Target-URI), and ledgers the payloads. The walk here is
    // blind: header-block end found by locate(CRLFCRLF), payload sliced
    // by the PARSED Content-Length, cursor advanced by it, final-cursor
    // == blob-end asserted — and the per-doc md5 of the concatenated
    // payloads is plant-pinned, so a mis-sliced payload fails the hash.
    // Fixture: 1–3 records per doc (response/metadata/response), %7==3
    // rows raw text (the must-fail class).
    //
    // 100 TB shape: pure map-side string expressions riding the scan
    // (locate/substr/regexp are codegen'd), zero shuffles, zero UDFs —
    // the WARC-splitting pass a crawl pipeline fuses into ingest.
    QueryDef(
      "q257_warc_records",
      """WITH lt AS (
        |  SELECT doc_id, source,
        |    regexp_replace(text, '[^a-z ]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 1 + doc_id % 3 AS nr,
        |    substring(letters, 1, CAST(12 + (doc_id+1) % 17 AS INT)) AS b1,
        |    substring(letters, 31, CAST(12 + (doc_id+2) % 17 AS INT)) AS b2,
        |    substring(letters, 61, CAST(12 + (doc_id+3) % 17 AS INT)) AS b3
        |  FROM lt)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN raw THEN -1 ELSE nr END AS BIGINT) AS n_records,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nr >= 3 THEN 2 ELSE 1 END AS BIGINT) AS n_response,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nr = 1 THEN length(b1) WHEN nr = 2 THEN length(b1) + length(b2)
        |    ELSE length(b1) + length(b2) + length(b3) END AS BIGINT)
        |    AS content_bytes,
        |  CASE WHEN raw THEN NULL
        |    WHEN nr = 1 THEN md5(b1) WHEN nr = 2 THEN md5(b1 || b2)
        |    ELSE md5(b1 || b2 || b3) END AS payload_md5
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      // ---- fixture: the concatenated WARC text ----
      val raw = pmod(did, lit(7)) === 3
      val letters = regexp_replace(col("text"), "[^a-z ]", "")
      val nr = lit(1L) + pmod(did, lit(3))
      val crlf = "\r\n"
      def body(i: Int) = letters.substr(lit((i - 1) * 30 + 1),
        (lit(12L) + pmod(did + i, lit(17))).cast("int"))
      def rec(i: Int, typ: String) = concat(
        lit("WARC/1.0" + crlf),
        lit(s"WARC-Type: $typ$crlf"),
        lit("WARC-Target-URI: http://"), col("source"),
        lit(".ex/p"), did.cast("string"), lit(s"/$i$crlf"),
        lit("Content-Length: "), length(body(i)).cast("string"),
        lit(crlf + crlf), body(i), lit(crlf + crlf))
      // plain scan, not documentsSpread: the walk is pure map-side work,
      // so the plan stays shuffle-free (PlanSpec pins it) — at real scale
      // the input is many files and parallelism comes from the layout
      val gen = Tables.documents(s, d)
        .withColumn("w",
          when(raw, col("text")).otherwise(concat(
            rec(1, "response"),
            when(nr >= 2, rec(2, "metadata")).otherwise(lit("")),
            when(nr >= 3, rec(3, "response")).otherwise(lit("")))))
        .select(did, col("w"))
      // ---- the parse side sees ONLY (doc_id, w) from here on ----
      def step(df: DataFrame): DataFrame = df
        .withColumn("fin", col("bad") || col("p") > col("wlen"))
        // header block: version line + fields, ended by CRLFCRLF
        .withColumn("he",
          expr("locate('\\r\\n\\r\\n', w, CAST(p AS INT))").cast("long"))
        .withColumn("hdr", when(!col("fin") && col("he") > 0L,
          col("w").substr(col("p"), col("he") - col("p"))))
        .withColumn("vok", !col("fin") && col("he") > 0L &&
          col("hdr").startsWith("WARC/1.0\r\n"))
        .withColumn("rtyp",
          regexp_extract(col("hdr"), "WARC-Type: ([a-z]+)\r", 1))
        // Content-Length is the header block's LAST line (no trailing CR
        // inside hdr — the block was cut just before CRLFCRLF)
        .withColumn("clen",
          regexp_extract(col("hdr"), "Content-Length: ([0-9]+)", 1)
            .cast("long"))
        .withColumn("rok", col("vok") && col("rtyp") =!= "" &&
          col("clen").isNotNull &&
          // next cursor he+clen+8 must land at most one past blob end
          col("he") + col("clen") + 7L <= col("wlen"))
        .withColumn("bad", col("bad") || (!col("fin") && !col("rok")))
        .withColumn("pay", when(col("rok"),
          col("w").substr(col("he") + 4L, col("clen"))))
        .withColumn("paycat", when(col("rok"),
          concat(col("paycat"), col("pay"))).otherwise(col("paycat")))
        .withColumn("nrec",
          col("nrec") + when(col("rok"), 1L).otherwise(0L))
        .withColumn("nresp", col("nresp") +
          when(col("rok") && col("rtyp") === "response", 1L).otherwise(0L))
        .withColumn("cbytes",
          col("cbytes") + when(col("rok"), col("clen")).otherwise(0L))
        .withColumn("p", when(col("rok"),
          col("he") + 4L + col("clen") + 4L).otherwise(col("p")))
        .drop("fin", "he", "hdr", "vok", "rtyp", "clen", "rok", "pay")
      val base = gen
        .withColumn("wlen", length(col("w")).cast("long"))
        .withColumn("p", lit(1L))
        .withColumn("nrec", lit(0L))
        .withColumn("nresp", lit(0L))
        .withColumn("cbytes", lit(0L))
        .withColumn("paycat", lit(""))
        .withColumn("bad", !col("w").startsWith("WARC/1.0\r\n"))
      // the walker is 3-record-bounded (the fixture's max); real WARCs
      // split per record upstream — the bound is fixture scope, not a cap
      val walked = (1 to 3).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("ok",
          !col("bad") && col("nrec") >= 1L && col("p") === col("wlen") + 1L)
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("nrec")).otherwise(-1L).as("n_records"),
          when(col("ok"), col("nresp")).otherwise(-1L).as("n_response"),
          when(col("ok"), col("cbytes")).otherwise(-1L).as("content_bytes"),
          when(col("ok"), md5(col("paycat")))
            .otherwise(lit(null).cast("string")).as("payload_md5"))
        .orderBy("doc_id")
    },

    // ---- q259: UTF-8 structural validity gate over raw bytes ---------------
    // The FIRST gate on crawl bytes, before any decode: a single-pass
    // UTF-8 state machine (RFC 3629 structure — lead-byte class C2-DF/1,
    // E0-EF/2, F0-F4/3 continuation bytes 80-BF; 80-C1 and F5-FF are
    // never valid leads) counting structural violations: stray
    // continuations, broken sequences (a non-continuation where one was
    // expected — the byte is re-classified as a lead, the bounded
    // deterministic recovery), invalid leads, and end-of-blob
    // truncation. Overlong/surrogate RANGE checks are deliberately out
    // of scope (structural validity only — documented, the q179 mojibake
    // gate covers post-decode damage). The machine runs as ONE
    // `aggregate()` fold over byte positions — a codegen'd scalar loop,
    // no explode, no per-byte rows. The fixture appends one planted
    // violation class per doc_id%4 (dangling lead / stray continuation /
    // a VALID 2-byte char / nothing) to the doc's own UTF-8 bytes, so
    // multi-byte text exercises the transitions and the oracle pins the
    // exact error count per class.
    //
    // 100 TB shape: pure map-side scan work; state is two integers per
    // row inside the fold. The gate fuses into ingest.
    QueryDef(
      "q259_utf8_gate",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) +
        |    CASE doc_id % 4 WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2
        |      ELSE 0 END AS BIGINT) AS n_bytes,
        |  CAST(CASE doc_id % 4 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_errors,
        |  CAST(CASE doc_id % 4 WHEN 1 THEN 0 WHEN 2 THEN 0 ELSE 1 END
        |    AS BIGINT) AS utf8_ok
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      // ---- fixture: the doc's UTF-8 bytes + one planted tail class ----
      val extraHex = when(did % 4 === 1, "C3")       // dangling lead
        .when(did % 4 === 2, "80")                   // stray continuation
        .when(did % 4 === 3, "C3A9")                 // valid 2-byte char
        .otherwise("")
      val blobs = Tables.documents(s, d)
        .select(did,
          concat(encode(col("text"), "UTF-8"), unhex(extraHex)).as("content"))
      // ---- the gate sees ONLY (doc_id, content) from here on ----
      import org.apache.spark.sql.Column
      def byteAt(i: Column) =
        conv(col("hx").substr(i * 2 - 1, lit(2)), 16, 10).cast("int")
      val stepped = blobs
        .withColumn("hx", hex(col("content")))
        .withColumn("n_bytes", length(col("content")).cast("long"))
        // Empty-blob guard (r16, ADVICE): sequence(1, 0) steps DOWN ([1, 0]),
        // so a zero-byte blob would be "scanned" at two phantom positions
        // and report 2 errors; an empty blob is trivially valid — 0 errors.
        .withColumn("st", when(col("n_bytes") === 0L, 0L).otherwise(aggregate(
          sequence(lit(1), col("n_bytes").cast("int")),
          struct(lit(0).as("exp"), lit(0L).as("err")),
          (acc, i) => {
            val b = byteAt(i)
            val isCont = b >= 128 && b <= 191
            val leadExp = when(b <= 127, 0)
              .when(b >= 194 && b <= 223, 1)
              .when(b >= 224 && b <= 239, 2)
              .when(b >= 240 && b <= 244, 3)
              .otherwise(-1) // 80-C1 / F5-FF: never a valid lead
            val exp = acc.getField("exp")
            val err = acc.getField("err")
            when(exp > 0,
              when(isCont, struct((exp - 1).as("exp"), err.as("err")))
                // broken sequence: count it, re-classify this byte as a
                // lead (another error if it isn't a valid one either)
                .otherwise(struct(greatest(leadExp, lit(0)).as("exp"),
                  (err + 1L + when(leadExp === -1, 1L).otherwise(0L))
                    .as("err"))))
              .otherwise(
                when(leadExp === -1,
                  struct(lit(0).as("exp"), (err + 1L).as("err")))
                  .otherwise(struct(leadExp.as("exp"), err.as("err"))))
          },
          acc => acc.getField("err") +
            // a blob ending mid-sequence is truncated
            when(acc.getField("exp") > 0, 1L).otherwise(0L))))
      stepped.select(did, col("n_bytes"),
          col("st").as("n_errors"),
          when(col("st") === 0L, 1L).otherwise(0L).as("utf8_ok"))
        .orderBy("doc_id")
    }

    ,
    // ---- q266: WebP container probe (RIFF + VP8X extended header) ----------
    // The remaining major web-image container next to PNG/JPEG/GIF
    // (q230/q236/q240): WebP is a RIFF file ('RIFF' + u32LE riff-size +
    // 'WEBP') whose extended form carries a VP8X chunk — 1 flag byte
    // (alpha bit 0x10, animation bit 0x02), 3 reserved bytes, then
    // canvas width-1 and height-1 as 24-bit little-endian — followed by
    // the image-data chunk, with RIFF's odd-size pad byte rule. The
    // probe is blind (the q240/q251/q256 discipline): both magics
    // checked, riff-size cross-checked against the blob length, the
    // VP8X fourcc/size asserted, dimensions and flags READ from bytes,
    // the data chunk walked by its size field (+pad), and the final
    // cursor must land exactly at blob end. Fixture: VP8X + 'VP8 ' stub
    // per doc with doc-derived dims/flags/payload length (both size
    // parities, exercising the pad byte); %7==3 rows raw text (the
    // must-fail class). Oracle pins the planted ledger.
    //
    // 100 TB shape: fixed-position codegen'd hex-substring reads riding
    // the scan; zero shuffles, zero UDFs.
    QueryDef(
      "q266_webp_probe",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
        |    ELSE 1 + doc_id % 1000 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
        |    ELSE 1 + doc_id % 600 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
        |    WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS has_alpha,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
        |    WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS has_anim,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN -1
        |    ELSE 10 + doc_id % 21 END AS BIGINT) AS payload_bytes
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      // ---- fixture: RIFF/WEBP + VP8X + 'VP8 ' stub per doc ----
      def le3(x: org.apache.spark.sql.Column) = concat(
        lpad(hex(pmod(x, lit(256L))), 2, "0"),
        lpad(hex(pmod((x / 256L).cast("long"), lit(256L))), 2, "0"),
        lpad(hex(pmod((x / 65536L).cast("long"), lit(256L))), 2, "0"))
      def le4(x: org.apache.spark.sql.Column) = concat(
        le3(x), lpad(hex(pmod((x / 16777216L).cast("long"), lit(256L))), 2, "0"))
      val raw = pmod(did, lit(7)) === 3
      val w = lit(1L) + pmod(did, lit(1000L))
      val h = lit(1L) + pmod(did, lit(600L))
      val flags = when(pmod(did, lit(2)) === 0, 16L).otherwise(0L) +
        when(pmod(did, lit(5)) === 0, 2L).otherwise(0L)
      val plen = lit(10L) + pmod(did, lit(21L))
      val pad = pmod(plen, lit(2L))
      // riff-size = 'WEBP'(4) + VP8X chunk(8+10) + data chunk(8+plen+pad)
      val riffsz = lit(4L + 18L + 8L) + plen + pad
      val payloadHex = {
        // deterministic stub payload: 'A' x plen (hex 41), padded with 00
        concat(repeat(lit("41"), plen.cast("int")),
          when(pad === 1L, lit("00")).otherwise(lit("")))
      }
      val whex = concat(
        lit("52494646"), le4(riffsz), lit("57454250"),       // RIFF sz WEBP
        lit("56503858"), le4(lit(10L)),                      // VP8X sz=10
        lpad(hex(flags), 2, "0"), lit("000000"),             // flags + rsv
        le3(w - 1L), le3(h - 1L),                            // canvas-1 LE24
        lit("56503820"), le4(plen), payloadHex)              // 'VP8 ' sz data
      val blobs = Tables.documents(s, d)
        .select(did,
          when(raw, encode(col("text"), "UTF-8"))
            .otherwise(unhex(whex)).as("content"))
      // ---- the probe sees ONLY (doc_id, content) from here on ----
      def byteAt(p: org.apache.spark.sql.Column) =
        conv(col("hx").substr(p * 2 - 1, lit(2)), 16, 10).cast("long")
      def rd3(p: org.apache.spark.sql.Column) =
        byteAt(p) + byteAt(p + 1L) * 256L + byteAt(p + 2L) * 65536L
      def rd4(p: org.apache.spark.sql.Column) = rd3(p) + byteAt(p + 3L) * 16777216L
      def sig(p: Long, n: Int) = col("hx").substr((p * 2 - 1).toInt, 2 * n)
      val probed = blobs
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("isriff", col("blen") >= 30L &&
          sig(1, 4) === "52494646" && sig(9, 4) === "57454250")
        .withColumn("szok", col("isriff") && rd4(lit(5L)) + 8L === col("blen"))
        .withColumn("vp8x", col("szok") &&
          sig(13, 4) === "56503858" && rd4(lit(17L)) === 10L)
        .withColumn("pflags", byteAt(lit(21L)))
        .withColumn("pw", lit(1L) + rd3(lit(25L)))
        .withColumn("ph", lit(1L) + rd3(lit(28L)))
        .withColumn("dsz", rd4(lit(35L)))
        // cursor after the data chunk (incl. RIFF pad) must hit blob end
        .withColumn("ok", col("vp8x") &&
          lit(38L) + col("dsz") + pmod(col("dsz"), lit(2L)) === col("blen"))
      probed.select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("pw")).otherwise(-1L).as("width"),
          when(col("ok"), col("ph")).otherwise(-1L).as("height"),
          when(col("ok"), (col("pflags") / 16L).cast("long") % 2L)
            .otherwise(-1L).as("has_alpha"),
          when(col("ok"), (col("pflags") / 2L).cast("long") % 2L)
            .otherwise(-1L).as("has_anim"),
          when(col("ok"), col("dsz")).otherwise(-1L).as("payload_bytes"))
        .orderBy("doc_id")
    }


    ,
    // ---- q267: TAR (ustar) member walk — the WebDataset shard container ----
    // Large multimodal training sets ship as WebDataset shards: plain
    // POSIX ustar archives streamed sequentially (IEEE 1003.1 — public
    // format). The shard-ingest pass walks 512-byte headers: NUL-padded
    // name, OCTAL-ASCII size field, typeflag, 'ustar' magic, and the
    // 8-byte checksum — defined as the byte sum of the header with the
    // checksum field read as 8 spaces — then skips ceil(size/512) data
    // blocks and expects two zero blocks at the tail. The walk here is
    // blind and the checksum is RECOMPUTED per entry (a 512-byte
    // codegen'd fold, the q259 byte-walk discipline) and compared to the
    // stored value, so a corrupted header fails the member ledger even
    // when magic and sizes look sane. Fixture: 1-3 STORED members per
    // doc with doc-derived sizes (q256's slices), proper octal
    // size/checksum fields and end-of-archive blocks; %7==3 rows raw
    // text (the must-fail class). Oracle pins the planted ledger.
    //
    // 100 TB shape: fixed-offset hex reads + one bounded 512-step fold
    // per member, all riding the scan; zero shuffles, zero UDFs — the
    // pass a shard indexer runs before any sample is decoded.
    QueryDef(
      "q267_tar_walk",
      """WITH lt AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 1 + doc_id % 3 AS nf,
        |    length(substring(letters, 1, CAST(10 + (doc_id+1) % 11 AS INT))) AS l1,
        |    length(substring(letters, 21, CAST(10 + (doc_id+2) % 11 AS INT))) AS l2,
        |    length(substring(letters, 41, CAST(10 + (doc_id+3) % 11 AS INT))) AS l3
        |  FROM lt)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN raw THEN -1 ELSE nf END AS BIGINT) AS n_members,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nf = 1 THEN l1 WHEN nf = 2 THEN l1 + l2
        |    ELSE l1 + l2 + l3 END AS BIGINT) AS total_bytes,
        |  CASE WHEN raw THEN NULL
        |    WHEN nf = 1 THEN 'f1.txt' WHEN nf = 2 THEN 'f1.txt,f2.txt'
        |    ELSE 'f1.txt,f2.txt,f3.txt' END AS names
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      import org.apache.spark.sql.Column
      // ---- fixture: a 1-3 member ustar archive per doc ----
      def hexStr(t: String) = t.getBytes("UTF-8").map("%02X".format(_)).mkString
      val zeros512 = "00" * 512
      val raw = pmod(did, lit(7)) === 3
      val nf = lit(1L) + pmod(did, lit(3))
      val letters = regexp_replace(col("text"), "[^a-z]", "")
      def dat(i: Int) = letters.substr(lit((i - 1) * 20 + 1),
        (lit(10L) + pmod(did + i, lit(11))).cast("int"))
      def octDigit(x: Column) = lpad(hex(lit(48L) + x), 2, "0")
      def header(i: Int): Column = {
        val l = col(s"l$i")
        // size field: 9 zeros + 2 octal digits (sizes are 0..20 — a doc
        // whose letter pool runs out yields a legal 0-size member) + NUL
        val sizeHex = concat(lit(hexStr("0" * 9)),
          octDigit(expr(s"l$i div 8")), octDigit(l % 8L), lit("00"))
        // checksum: byte sum of the header with the chksum field as
        // spaces. Constant part (name fN.txt, mode/uid/gid/mtime fields,
        // 8 spaces, typeflag '0', "ustar\u0000" + "00") = 3585 + N;
        // variable part = the size field's two live octal digits.
        val ck = lit(3585L + i) + expr(s"l$i div 8") + l % 8L
        val ckHex = concat(
          (5 to 0 by -1).map(k => octDigit((ck / math.pow(8, k).toLong) % 8L)): _*)
        concat(
          lit(hexStr(s"f$i.txt")), lit("00" * 94),            // name[100]
          lit(hexStr("0000644") + "00"),                      // mode[8]
          lit(hexStr("0000000") + "00"),                      // uid[8]
          lit(hexStr("0000000") + "00"),                      // gid[8]
          sizeHex,                                            // size[12]
          lit(hexStr("0" * 11) + "00"),                       // mtime[12]
          ckHex, lit("0020"),                                 // chksum[8]
          lit("30"),                                          // typeflag '0'
          lit("00" * 100),                                    // linkname
          lit(hexStr("ustar") + "00"), lit(hexStr("00")),     // magic+version
          lit("00" * 32), lit("00" * 32),                     // uname gname
          lit("00" * 8), lit("00" * 8),                       // devmajor/minor
          lit("00" * 155), lit("00" * 12))                    // prefix + pad
      }
      // data + NUL pad to one 512-byte block — EXCEPT a 0-size member,
      // which per ustar has ceil(0/512) = ZERO data blocks (an empty slice
      // happens when a doc's letter pool runs out before member 3; an
      // unconditional pad block would read as a spurious end-of-archive
      // marker and fail the final-cursor check)
      def member(i: Int): Column = concat(header(i),
        when(col(s"l$i") === 0L, lit(""))
          .otherwise(rpad(hex(encode(dat(i), "UTF-8")), 1024, "0")))
      val blobs = Tables.documentsSpread(s, d)
        .withColumn("l1", length(dat(1)).cast("long"))
        .withColumn("l2", length(dat(2)).cast("long"))
        .withColumn("l3", length(dat(3)).cast("long"))
        .withColumn("thex", concat(
          member(1),
          when(nf >= 2, member(2)).otherwise(lit("")),
          when(nf >= 3, member(3)).otherwise(lit("")),
          lit(zeros512), lit(zeros512)))
        .select(did,
          when(raw, encode(col("text"), "UTF-8"))
            .otherwise(unhex(col("thex"))).as("content"))
      // ---- the walk sees ONLY (doc_id, content) from here on ----
      def byteAt(p: Column) =
        conv(col("hx").substr(p * 2 - 1, lit(2)), 16, 10).cast("long")
      def step(df: DataFrame): DataFrame = df
        // end-of-archive: the next 512-block starts with a NUL name byte.
        // Discovered by the WALK (not inferred from blob length — members
        // are 512 bytes + ceil(size/512) blocks, so a 0-size member makes
        // lengths non-uniform)
        .withColumn("done", col("done") ||
          (!col("bad") && byteAt(col("q")) === 0L))
        .withColumn("fin", col("bad") || col("done"))
        .withColumn("magic", when(!col("fin"),
          col("hx").substr((col("q") + 257L) * 2 - 1, lit(12))))
        // stored checksum: 6 octal digits at q+148 (NUL+space tail)
        .withColumn("ckstored", when(!col("fin"),
          conv(decode(unhex(col("hx").substr((col("q") + 148L) * 2 - 1,
            lit(12))), "UTF-8"), 8, 10).cast("long")))
        // recomputed: fold the 512 header bytes, chksum field as spaces
        .withColumn("cksum", when(!col("fin"),
          aggregate(sequence(lit(0), lit(511)), lit(0L),
            (acc, k) => acc + when(k >= 148 && k <= 155, 32L)
              .otherwise(byteAt(col("q") + k.cast("long"))))))
        .withColumn("sz", when(!col("fin"),
          conv(regexp_replace(decode(unhex(col("hx")
            .substr((col("q") + 124L) * 2 - 1, lit(22))), "UTF-8"),
            "\u0000", ""), 8, 10).cast("long")))
        .withColumn("nm", when(!col("fin"),
          substring_index(decode(unhex(col("hx")
            .substr(col("q") * 2 - 1, lit(20))), "UTF-8"), "\u0000", 1)))
        .withColumn("entok", !col("fin") &&
          col("magic") === "757374617200" &&
          byteAt(col("q") + 156L) === 48L &&
          col("cksum") === col("ckstored") &&
          col("sz").isNotNull && col("sz") >= 0L &&
          // header + data blocks must fit before the two end blocks
          col("q") + 512L + ((col("sz") + 511L) / 512L).cast("long") * 512L +
            1024L <= col("blen") + 1L)
        .withColumn("bad", col("bad") || (!col("fin") && !col("entok")))
        .withColumn("nmem", col("nmem") + when(col("entok"), 1L).otherwise(0L))
        .withColumn("tot", col("tot") + when(col("entok"), col("sz")).otherwise(0L))
        .withColumn("names", when(!col("entok"), col("names"))
          .otherwise(when(col("names") === "", col("nm"))
            .otherwise(concat(col("names"), lit(","), col("nm")))))
        .withColumn("q", when(col("entok"),
          col("q") + 512L + ((col("sz") + 511L) / 512L).cast("long") * 512L)
          .otherwise(col("q")))
        .drop("fin", "magic", "ckstored", "cksum", "sz", "nm", "entok")
      val base = blobs
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("q", lit(1L))
        .withColumn("tot", lit(0L))
        .withColumn("nmem", lit(0L))
        .withColumn("names", lit(""))
        .withColumn("done", lit(false))
        // smallest well-formed archive: 1 header + 2 end blocks
        .withColumn("bad",
          col("blen") < 1536L || (col("blen") % 512L) =!= 0L)
      // fixture bound is 3 members; the 4th step only consumes the
      // end-of-archive marker (sets `done`) for 3-member archives
      val walked = (1 to 4).foldLeft(base)((df, _) => step(df))
      walked
        // the walk must have SEEN the zero block, with the two
        // end-of-archive blocks exactly filling the remainder
        .withColumn("ok", !col("bad") && col("done") &&
          col("q") + 1024L === col("blen") + 1L && byteAt(col("q")) === 0L)
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("nmem")).otherwise(-1L).as("n_members"),
          when(col("ok"), col("tot")).otherwise(-1L).as("total_bytes"),
          when(col("ok"), col("names")).otherwise(lit(null).cast("string"))
            .as("names"))
        .orderBy("doc_id")
    }

    ,
    // ---- q273: gzip member walk with CRC32 round-trip ----------------------
    // Common Crawl's WET/WAT shards are CONCATENATED gzip members (RFC
    // 1952 allows it; the crawl tooling relies on it for record-level
    // random access). The shard-index pass walks members blind: header
    // fields + optional FNAME, the stored-deflate block framing (RFC 1951
    // BTYPE=00 — LEN/NLEN complement check), then RECOMPUTES CRC32 over
    // the extracted payload with the engine's codegen'd `crc32` and
    // demands it match the trailer, plus ISIZE == LEN. A flipped payload
    // byte, a lying LEN, or a truncated trailer all fail the ledger. The
    // fixture ([[gzipBlobs]]) plants real streams — GzipWalkSpec decodes
    // the same bytes with java.util.zip.GZIPInputStream (an independent
    // production decoder) and matches payloads byte-for-byte.
    //
    // 100 TB shape: fixed-offset hex reads + one crc32 per member riding
    // the scan; zero shuffles, zero UDFs (the q259/q267 byte-walk
    // discipline). On real shards this pass builds the member index
    // WITHOUT inflating non-stored blocks (those route to a decode stage).
    QueryDef(
      "q273_gzip_member_walk",
      """WITH lt AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 1 + doc_id % 2 AS nm,
        |    doc_id % 3 <> 0 AS fn,
        |    length(substring(letters, 1, CAST(8 + (doc_id+1) % 9 AS INT))) AS l1,
        |    length(substring(letters, 31, CAST(8 + (doc_id+2) % 9 AS INT))) AS l2
        |  FROM lt)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN raw THEN -1 ELSE nm END AS BIGINT) AS n_members,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nm = 1 THEN l1 ELSE l1 + l2 END AS BIGINT) AS total_bytes,
        |  CASE WHEN raw THEN NULL
        |       WHEN NOT fn THEN ''
        |       WHEN nm = 1 THEN 'm1.txt' ELSE 'm1.txt,m2.txt' END AS names
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      import org.apache.spark.sql.Column
      def byteAt(p: Column) = Bytes.byteAt(col("hx"), p)
      def le4At(p: Column) = Bytes.le4At(col("hx"), p)
      def step(df: DataFrame): DataFrame = df
        .withColumn("done", col("done") ||
          (!col("bad") && col("q") === col("blen") + 1L))
        .withColumn("fin", col("bad") || col("done"))
        .withColumn("flg", byteAt(col("q") + 3L))
        .withColumn("fnb", (col("flg") / 8L).cast("long") % 2L)
        // bounded name scan: fixture names are ≤ 16 bytes incl. NUL.
        // ISO-8859-1, not UTF-8: the 16-byte slice can run into the
        // stored-block payload (arbitrary bytes — UTF-8 decode THROWS on
        // malformed sequences); latin-1 maps every byte 1:1 and the
        // planted names are ASCII, identical in both charsets
        .withColumn("nmraw", when(col("fnb") === 1L, substring_index(
          decode(unhex(col("hx").substr((col("q") + 10L) * 2 - 1, lit(32))),
            "ISO-8859-1"), "\u0000", 1)).otherwise(lit("")))
        .withColumn("qd", col("q") + 10L +
          col("fnb") * (length(col("nmraw")).cast("long") + 1L))
        .withColumn("len",
          byteAt(col("qd") + 1L) + byteAt(col("qd") + 2L) * 256L)
        .withColumn("qt", col("qd") + 5L + col("len"))
        .withColumn("pay",
          unhex(col("hx").substr((col("qd") + 5L) * 2 - 1, col("len") * 2L)))
        // every read above may run off the blob (conv of '' → NULL);
        // coalesce the whole conjunction so truncation reads as ¬entry
        .withColumn("entok", coalesce(
          !col("fin") &&
            col("hx").substr(col("q") * 2 - 1, lit(6)) === "1F8B08" &&
            col("flg") === col("fnb") * 8L &&            // only FNAME known
            byteAt(col("qd")) === 1L &&                  // BFINAL=1 BTYPE=00
            byteAt(col("qd") + 3L) === lit(255L) - byteAt(col("qd") + 1L) &&
            byteAt(col("qd") + 4L) === lit(255L) - byteAt(col("qd") + 2L) &&
            col("qt") + 8L <= col("blen") + 1L &&        // trailer fits
            crc32(col("pay")) === le4At(col("qt")) &&    // CRC round-trip
            le4At(col("qt") + 4L) === col("len"),        // ISIZE
          lit(false)))
        .withColumn("bad", col("bad") || (!col("fin") && !col("entok")))
        .withColumn("nmem",
          col("nmem") + when(col("entok"), 1L).otherwise(0L))
        .withColumn("tot",
          col("tot") + when(col("entok"), col("len")).otherwise(0L))
        .withColumn("names", when(!col("entok") || col("fnb") === 0L, col("names"))
          .otherwise(when(col("names") === "", col("nmraw"))
            .otherwise(concat(col("names"), lit(","), col("nmraw")))))
        .withColumn("q",
          when(col("entok"), col("qt") + 8L).otherwise(col("q")))
        .drop("fin", "flg", "fnb", "nmraw", "qd", "len", "qt", "pay", "entok")
      val base = gzipBlobs(s, d)
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("q", lit(1L))
        .withColumn("tot", lit(0L))
        .withColumn("nmem", lit(0L))
        .withColumn("names", lit(""))
        .withColumn("done", lit(false))
        .withColumn("bad", col("blen") < 23L) // smallest member: 10+5+8
      val walked = (1 to 2).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("ok", !col("bad") &&
          col("q") === col("blen") + 1L && col("nmem") >= 1L)
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("nmem")).otherwise(-1L).as("n_members"),
          when(col("ok"), col("tot")).otherwise(-1L).as("total_bytes"),
          when(col("ok"), col("names")).otherwise(lit(null).cast("string"))
            .as("names"))
        .orderBy("doc_id")
    }

    ,
    // ---- q280: zstd frame walk (raw blocks + skippable frames) -------------
    // The third shard container after gzip (q273) and tar (q267): modern
    // crawl/WebDataset tooling ships zstd (RFC 8878), and seekable-zstd
    // interleaves SKIPPABLE frames (the seek table) between data frames.
    // The index pass walks frames blind: data-frame magic FD2FB528(LE),
    // a Single_Segment descriptor with a 1-byte Frame_Content_Size, then
    // the 3-byte LE block header — Last_Block bit set, Block_Type=Raw —
    // whose size must equal FCS; skippable-frame magics 184D2A50..5F with
    // a LE32 length. Raw blocks are exactly what the pass can index
    // WITHOUT entropy decoding (compressed blocks route to a decode
    // stage). Fixture: optional skippable frame (doc_id%5==0), then 1-2
    // single-raw-block data frames with doc-derived payloads (LEN=0
    // legal); %7==3 rows raw text. ZstdWalkSpec decodes every planted
    // stream with zstd-jni's ZstdInputStream (the production decoder
    // Spark itself ships) and matches payloads byte-for-byte.
    //
    // 100 TB shape: fixed-offset hex reads riding the scan; zero
    // shuffles, zero UDFs — the q259/q267/q273 byte-walk discipline.
    QueryDef(
      "q280_zstd_frame_walk",
      """WITH lt AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 1 + doc_id % 2 AS nf,
        |    doc_id % 5 = 0 AS skip,
        |    length(substring(letters, 1, CAST(8 + (doc_id+1) % 9 AS INT))) AS l1,
        |    length(substring(letters, 31, CAST(8 + (doc_id+2) % 9 AS INT))) AS l2
        |  FROM lt)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN raw THEN -1 ELSE nf END AS BIGINT) AS n_data_frames,
        |  CAST(CASE WHEN raw THEN -1 WHEN skip THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_skippable,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN nf = 1 THEN l1 ELSE l1 + l2 END AS BIGINT) AS content_bytes
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      import org.apache.spark.sql.Column
      def byteAt(p: Column) = Bytes.byteAt(col("hx"), p)
      def le4At(p: Column) = Bytes.le4At(col("hx"), p)
      def le3At(p: Column) = Bytes.le3At(col("hx"), p)
      def step(df: DataFrame): DataFrame = df
        .withColumn("done", col("done") ||
          (!col("bad") && col("q") === col("blen") + 1L))
        .withColumn("fin", col("bad") || col("done"))
        .withColumn("mg", le4At(col("q")))
        .withColumn("isdata", coalesce(col("mg") === 0xFD2FB528L, lit(false)))
        // skippable magics: 0x184D2A50 .. 0x184D2A5F
        .withColumn("isskip", coalesce(
          col("mg") >= 0x184D2A50L && col("mg") <= 0x184D2A5FL, lit(false)))
        // data frame: descriptor 0x20 = Single_Segment, FCS 1 byte, no
        // dict, no checksum; block header bit0=Last, bits1-2=Raw
        .withColumn("fcs", byteAt(col("q") + 5L))
        .withColumn("bh", le3At(col("q") + 6L))
        .withColumn("dataok", coalesce(
          col("isdata") && !col("fin") &&
            byteAt(col("q") + 4L) === 0x20L &&
            col("bh") % 2L === 1L && ((col("bh") / 2L).cast("long") % 4L) === 0L &&
            expr("bh div 8") === col("fcs") &&
            col("q") + 9L + col("fcs") <= col("blen") + 1L,
          lit(false)))
        .withColumn("sksz", le4At(col("q") + 4L))
        .withColumn("skipok", coalesce(
          col("isskip") && !col("fin") &&
            col("q") + 8L + col("sksz") <= col("blen") + 1L,
          lit(false)))
        .withColumn("bad", col("bad") ||
          (!col("fin") && !col("dataok") && !col("skipok")))
        .withColumn("ndata",
          col("ndata") + when(col("dataok"), 1L).otherwise(0L))
        .withColumn("nskip",
          col("nskip") + when(col("skipok"), 1L).otherwise(0L))
        .withColumn("tot",
          col("tot") + when(col("dataok"), col("fcs")).otherwise(0L))
        .withColumn("q",
          when(col("dataok"), col("q") + 9L + col("fcs"))
            .when(col("skipok"), col("q") + 8L + col("sksz"))
            .otherwise(col("q")))
        .drop("fin", "mg", "isdata", "isskip", "fcs", "bh", "dataok",
          "sksz", "skipok")
      val base = zstdBlobs(s, d)
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("q", lit(1L))
        .withColumn("tot", lit(0L))
        .withColumn("ndata", lit(0L))
        .withColumn("nskip", lit(0L))
        .withColumn("done", lit(false))
        .withColumn("bad", col("blen") < 9L) // smallest data frame: 6+3+0
      val walked = (1 to 4).foldLeft(base)((df, _) => step(df))
      walked
        .withColumn("ok", !col("bad") &&
          col("q") === col("blen") + 1L && col("ndata") >= 1L)
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("ndata")).otherwise(-1L).as("n_data_frames"),
          when(col("ok"), col("nskip")).otherwise(-1L).as("n_skippable"),
          when(col("ok"), col("tot")).otherwise(-1L).as("content_bytes"))
        .orderBy("doc_id")
    }

    ,
    // ---- q288: OGG page walk (RFC 3533) -------------------------------------
    // The page-structured audio container (Vorbis/Opus ship in it): each
    // page is "OggS", version 0, a header-type byte (0x02 BOS on the
    // first page, 0x04 EOS on the last), a 64-bit granule position, the
    // stream serial, a page sequence number, CRC, then a segment count
    // and lacing table whose SUM is the payload length. The index pass
    // walks pages blind, checks the BOS/EOS bracketing, that the
    // sequence numbers increment from 0, that the serial stays constant,
    // and that the lacing-driven cursor lands exactly on blob end — the
    // page map a seeking/streaming player builds before decoding a
    // single audio packet. Fixture pages carry 1-segment lacing tables
    // (payloads ≤ 255 B, the q273/q280 doc-derived slices); %7==3 rows
    // are raw text (the must-fail class).
    //
    // 100 TB shape: fixed-offset hex reads riding the scan — zero
    // shuffles, zero UDFs (the byte-walk discipline, sixth container).
    QueryDef(
      "q288_ogg_page_walk",
      """WITH lt AS (
        |  SELECT doc_id, regexp_replace(text, '[^a-z]', '', 'g') AS letters
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 2 + doc_id % 2 AS np,
        |    length(substring(letters, 1, CAST(8 + (doc_id+1) % 9 AS INT))) AS l1,
        |    length(substring(letters, 31, CAST(8 + (doc_id+2) % 9 AS INT))) AS l2,
        |    length(substring(letters, 61, CAST(8 + (doc_id+3) % 9 AS INT))) AS l3
        |  FROM lt)
        |SELECT doc_id,
        |  CAST(CASE WHEN raw THEN 0 ELSE 1 END AS BIGINT) AS valid,
        |  CAST(CASE WHEN raw THEN -1 ELSE np END AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN raw THEN -1
        |    WHEN np = 2 THEN l1 + l2 ELSE l1 + l2 + l3 END AS BIGINT)
        |    AS content_bytes,
        |  CAST(CASE WHEN raw THEN -1 ELSE doc_id % 100000 END AS BIGINT)
        |    AS serial
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val did = col("doc_id")
      import org.apache.spark.sql.Column
      def byteAt(p: Column) = Bytes.byteAt(col("hx"), p)
      def le4At(p: Column) = Bytes.le4At(col("hx"), p)
      def step(i: Int)(df: DataFrame): DataFrame = df
        .withColumn("done", col("done") ||
          (!col("bad") && col("q") === col("blen") + 1L))
        .withColumn("fin", col("bad") || col("done"))
        .withColumn("htyp", byteAt(col("q") + 5L))
        .withColumn("ser", le4At(col("q") + 14L))
        .withColumn("seq", le4At(col("q") + 18L))
        .withColumn("nseg", byteAt(col("q") + 26L))
        // fixture pages are single-segment; a general walk would fold the
        // lacing table — 1 byte here keeps the fold trivial and honest
        .withColumn("plen", byteAt(col("q") + 27L))
        .withColumn("pgok", coalesce(
          !col("fin") &&
            col("hx").substr(col("q") * 2 - 1, lit(8)) === "4F676753" &&
            byteAt(col("q") + 4L) === 0L &&
            // page 1 must be BOS; later pages are mid-stream (0) or the
            // EOS page — the final `eos` flag enforces EOS-at-end
            (if (i == 1) col("htyp") === 2L
             else col("htyp") === 0L || col("htyp") === 4L) &&
            col("nseg") === 1L &&
            col("seq") === lit((i - 1).toLong) &&
            (if (i == 1) lit(true) else col("ser") === col("serial")) &&
            col("q") + 28L + col("plen") <= col("blen") + 1L,
          lit(false)))
        .withColumn("serial",
          when(lit(i) === 1 && col("pgok"), col("ser"))
            .otherwise(col("serial")))
        .withColumn("eos", when(col("pgok"), col("htyp") === 4L)
          .otherwise(col("eos")))
        .withColumn("bad", col("bad") || (!col("fin") && !col("pgok")))
        .withColumn("npg",
          col("npg") + when(col("pgok"), 1L).otherwise(0L))
        .withColumn("tot",
          col("tot") + when(col("pgok"), col("plen")).otherwise(0L))
        .withColumn("q",
          when(col("pgok"), col("q") + 28L + col("plen"))
            .otherwise(col("q")))
        .drop("fin", "htyp", "ser", "seq", "nseg", "plen", "pgok")
      val base = oggBlobs(s, d)
        .withColumn("hx", hex(col("content")))
        .withColumn("blen", length(col("content")).cast("long"))
        .withColumn("q", lit(1L))
        .withColumn("tot", lit(0L))
        .withColumn("npg", lit(0L))
        .withColumn("serial", lit(-1L))
        .withColumn("eos", lit(false))
        .withColumn("done", lit(false))
        .withColumn("bad", col("blen") < 28L)
      val walked = (1 to 4).foldLeft(base)((df, i) => step(i)(df))
      walked
        .withColumn("ok", !col("bad") && col("eos") &&
          col("q") === col("blen") + 1L && col("npg") >= 2L)
        .select(did,
          when(col("ok"), 1L).otherwise(0L).as("valid"),
          when(col("ok"), col("npg")).otherwise(-1L).as("n_pages"),
          when(col("ok"), col("tot")).otherwise(-1L).as("content_bytes"),
          when(col("ok"), col("serial")).otherwise(-1L).as("serial"))
        .orderBy("doc_id")
    }

    ,
    // ---- q292: PCM sample analytics from raw WAV bytes ----------------------
    // The q66 family stops at header metadata; this goes INTO the data
    // chunk — real signal statistics (peak, energy, zero/silence count,
    // RMS) computed from the LE16 signed samples themselves, because
    // 16-bit PCM "decode" is just byte math: no codec, no stub (contrast
    // the documented decode stubs for compressed media). The audio-side
    // quality gates a speech-corpus pipeline runs (clipping detection =
    // peak at full scale, silence ratio, loudness) are exactly these
    // aggregates. Fixture: canonical 8 kHz mono 16-bit WAVs, 50-99
    // samples from an integer generator, a planted 10-sample silence
    // stretch on %5 docs; %7==3 rows raw text. The walk validates the
    // full RIFF/fmt/data framing (sizes must tie out to the byte) and
    // folds the samples in ONE codegen'd aggregate with a struct
    // accumulator.
    //
    // 100 TB shape: per-row bounded byte work riding the scan; energy/
    // peak/zero are the map-side features a downstream gate consumes.
    QueryDef(
      "q292_pcm_stats", Q292_ORACLE) { (s, d) =>
      pcmWalk(pcmBlobs(Tables.documentsSpread(s, d))).orderBy("doc_id")
    }

    ,
    // ---- q294: streaming PCM quality gate ------------------------------------
    // q292 as the shards stream in — the first streaming×multimodal
    // member: an audio-ingest gate scoring each arriving blob's samples
    // within its micro-batch. Per-doc verdicts are row-independent
    // (stateless — the q188/q279/q285 stream-static gate shape, no
    // StateStore), batch slices persist idempotently under batch_id, the
    // fold is a plain union, and the result hash-matches batch q292's
    // oracle VERBATIM however ingest was batched. The fixture builder
    // and walk are the SHARED pcmBlobs/pcmWalk helpers, so batch and
    // stream cannot drift.
    QueryDef(
      "q294_stream_pcm_gate", Q292_ORACLE) { (s, d) =>
      val srcDir = TextDedupPack.stagedDocBatches(s, d)
      val store = Stage.cleared("graft-q294-pcm-", d)
      Streams.replay(s, srcDir, ())((_, batch, batchId) =>
        Stage.append(store.toString, batchId,
          pcmWalk(pcmBlobs(batch))))
      s.read.parquet(store.toString)
        .select("doc_id", "valid", "n_samples", "peak_abs", "sum_sq",
          "n_zero", "rms")
        .orderBy("doc_id")
    }

    ,
    // ---- q295: G.711 µ-law decode + signal stats -----------------------------
    // The q292 family's first COMPANDED codec: telephony/call-center audio
    // ships as 8-bit µ-law (WAVE_FORMAT_MULAW, fmt code 7 with the
    // 18-byte extended fmt chunk real encoders write), and its decode is
    // the ITU-T G.711 integer expansion — pure arithmetic, no codec
    // library: c = 255 − b; t = (8·(c mod 16) + 132) · 2^((c div 16) mod 8);
    // pcm = 132 − t when the sign bit is set, t − 132 otherwise. Both
    // engines replay the exact formula on the exact generator bytes, so
    // the decoded signal statistics (peak, energy, clip count at the
    // ±32124 full-scale magnitude) are hash-green end to end — and
    // MulawSpec validates the SAME expansion against the JDK's own
    // javax.sound µ-law decoder on real bytes (the external-decoder
    // discipline of the gzip/zstd/PNG walks). Framing: full RIFF/fmt-18/
    // data tie-out to the byte; %7==3 rows raw text (must-fail).
    //
    // 100 TB shape: identical to q292 post-rebuild — explode the sample
    // index, decode with codegen'd arithmetic, hash-aggregate per doc
    // (map-side partial; one row per doc crosses the exchange).
    QueryDef(
      "q295_mulaw_decode_stats", Q295_ORACLE) { (s, d) =>
      mulawWalk(mulawBlobs(Tables.documentsSpread(s, d))).orderBy("doc_id")
    }

    ,
    // ---- q296: PDF container probe -------------------------------------------
    // The document-corpus container the multimodal family lacked: per
    // blob, a REAL minimal PDF (header %PDF-1.m, catalog/pages/page
    // object chain, byte-exact xref table, trailer with /Size, startxref
    // pointer, %%EOF) whose xref offset is DATA-DEPENDENT (a variable-
    // length comment precedes the xref, so a fixed-substring "parser"
    // cannot fake the probe). The walk is blind — (doc_id, content) only
    // — and must parse the version digit, follow startxref to the xref
    // keyword, tie the 20-byte/entry table to /Size, and count objects;
    // the oracle replays the generator's parameters, so the hash proves
    // the walk extracted exactly what was planted. %7==3 rows raw text
    // (must-fail). This is the triage a 100 TB document-ingest pipeline
    // runs before handing blobs to a heavyweight renderer.
    //
    // 100 TB shape: per-row bounded string probes riding the scan (two
    // anchored regexes + positional slices), zero shuffle before the
    // final orderBy-for-dump.
    QueryDef(
      "q296_pdf_probe", Q296_ORACLE) { (s, d) =>
      pdfWalk(pdfBlobs(Tables.documentsSpread(s, d))).orderBy("doc_id")
    }

  )

  /** q273 fixture: 1-2 REAL multi-member gzip streams per doc (RFC 1952 +
    * RFC 1951 stored blocks — the WET/WAT shard shape Common Crawl ships):
    * per member, a 10-byte header (ID1 ID2 CM=8, FLG carries FNAME on
    * doc_id%3≠0 rows, zero mtime, XFL 0, OS 255), the optional
    * NUL-terminated name "mI.txt", ONE stored deflate block (BFINAL=1
    * BTYPE=00 → byte 0x01, LEN/NLEN LE16 with NLEN = LEN⊕FFFF), the
    * doc-derived payload, then the CRC32(payload) + ISIZE LE32 trailer —
    * the CRC planted with Spark's own `crc32` so the probe's RECOMPUTED
    * value must round-trip. Payload slices may truncate to empty on short
    * docs (LEN=0 is a legal stored block). doc_id%7==3 rows are raw text
    * (the must-fail class). */
  private[graft] def gzipBlobs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    val did = col("doc_id")
    def hexStr(t: String) = t.getBytes("UTF-8").map("%02X".format(_)).mkString
    val raw = pmod(did, lit(7)) === 3
    val nm = lit(1L) + pmod(did, lit(2))
    val fn = pmod(did, lit(3)) =!= 0
    val letters = regexp_replace(col("text"), "[^a-z]", "")
    def dat(i: Int) = letters.substr(lit((i - 1) * 30 + 1),
      (lit(8L) + pmod(did + i, lit(9))).cast("int"))
    def le2(x: Column) = Bytes.le2h(x)
    def le4(x: Column) = Bytes.le4h(x)
    def member(i: Int): Column = {
      val bytes = encode(dat(i), "UTF-8")
      val l = length(bytes).cast("long")
      concat(
        lit("1F8B08"),
        when(fn, lit("08")).otherwise(lit("00")),        // FLG: FNAME or none
        lit("00000000"), lit("00"), lit("FF"),           // mtime, XFL, OS
        when(fn, lit(hexStr(s"m$i.txt") + "00")).otherwise(lit("")),
        lit("01"), le2(l), le2(lit(65535L) - l),         // stored block hdr
        hex(bytes),
        le4(crc32(bytes)), le4(l))                       // trailer
    }
    Tables.documentsSpread(s, d)
      .withColumn("ghex", concat(member(1),
        when(nm >= 2, member(2)).otherwise(lit(""))))
      .select(did,
        when(raw, encode(col("text"), "UTF-8"))
          .otherwise(unhex(col("ghex"))).as("content"))
  }

  /** q280 fixture: REAL zstd streams (RFC 8878) — optional skippable
    * frame (doc_id%5==0: magic 0x184D2A50, LE32 length, 4-byte payload),
    * then 1-2 data frames each a Single_Segment header (descriptor 0x20,
    * 1-byte Frame_Content_Size) with ONE raw block (Last_Block=1,
    * Block_Type=Raw, Block_Size == FCS) carrying a doc-derived payload.
    * Raw-block zstd is legal output of any compliant encoder (level-0 /
    * incompressible path), so zstd-jni decodes these verbatim
    * (ZstdWalkSpec). doc_id%7==3 rows are raw text (the must-fail
    * class). */
  private[graft] def zstdBlobs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val nf = lit(1L) + pmod(did, lit(2))
    val skip = pmod(did, lit(5)) === 0
    val letters = regexp_replace(col("text"), "[^a-z]", "")
    def dat(i: Int) = letters.substr(lit((i - 1) * 30 + 1),
      (lit(8L) + pmod(did + i, lit(9))).cast("int"))
    def le3(x: Column) = Bytes.le3h(x)
    def frame(i: Int): Column = {
      val bytes = encode(dat(i), "UTF-8")
      val l = length(bytes).cast("long")
      concat(
        lit("28B52FFD"),              // magic 0xFD2FB528 LE
        lit("20"),                    // Single_Segment, FCS = 1 byte
        lpad(hex(l), 2, "0"),         // Frame_Content_Size
        le3(lit(1L) + l * 8L),        // block: Last=1, Raw, size
        hex(bytes))
    }
    // skippable frame: seek-table stand-in, 4-byte payload "SKIP"
    val skippable = lit("502A4D18" + "04000000" + "534B4950")
    Tables.documentsSpread(s, d)
      .withColumn("zhex", concat(
        when(skip, skippable).otherwise(lit("")),
        frame(1),
        when(nf >= 2, frame(2)).otherwise(lit(""))))
      .select(did,
        when(raw, encode(col("text"), "UTF-8"))
          .otherwise(unhex(col("zhex"))).as("content"))
  }


  /** q292/q294's WAV fixture over any documents slice: canonical 8 kHz
    * mono 16-bit PCM, 50-99 generator samples, planted silence stretch
    * on %5 docs, %7==3 rows raw text. */
  private[graft] def pcmBlobs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val sil = pmod(did, lit(5)) === 0
    val n = lit(50L) + pmod(did, lit(50))
    def le2h(x: Column) = Bytes.le2h(x)
    def le4h(x: Column) = Bytes.le4h(x)
    def sampleAt(k: Column): Column =
      when(sil && k >= 10 && k < 20, 0L)
        .otherwise((did * 31 + k * 97) % 4001 - 2000)
    // Sample-to-LE16-hex via a literal lookup table (r17): the generator
    // range is exactly [-2000, 2000], so the 4-hex-char little-endian
    // encoding of every possible sample is precomputed ONCE driver-side
    // (4001 strings, ~16 KB in the plan) and the per-element lambda is a
    // single element_at — the previous per-element le2h (two hex/pmod/
    // lpad chains inside an interpreted HOF lambda) was ~0.5 ms/doc of
    // fixture-build cost, the dominant q292/q294 term after the walk
    // fold moved to a hash aggregate.
    val le16Lut = typedlit((-2000 to 2000).map { s =>
      val v = if (s < 0) s + 65536 else s
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    }.toArray)
    val samplesHex = concat_ws("", transform(sequence(lit(0L), n - 1),
      k => element_at(le16Lut, (sampleAt(k) + 2001L).cast("int"))))
    val whex = concat(
      lit("52494646"), le4h(lit(36L) + n * 2L), lit("57415645"),
      lit("666D7420"), le4h(lit(16L)),
      le2h(lit(1L)), le2h(lit(1L)),                   // PCM, mono
      le4h(lit(8000L)), le4h(lit(16000L)),            // rate, byterate
      le2h(lit(2L)), le2h(lit(16L)),                  // align, bits
      lit("64617461"), le4h(n * 2L), samplesHex)
    docs.select(did,
      when(raw, encode(col("text"), "UTF-8"))
        .otherwise(unhex(whex)).as("content"))
  }

  /** q292/q294's blind walk: full RIFF/fmt/data framing validation (sizes
    * tied out to the byte), then ONE codegen'd struct-accumulator fold
    * over the LE16 signed samples → (valid, n_samples, peak_abs, sum_sq,
    * n_zero, rms). Sees ONLY (doc_id, content). */
  private[graft] def pcmWalk(blobs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    def byteAt(p: Column) = Bytes.byteAt(col("hx"), p)
    def le4At(p: Column) = Bytes.le4At(col("hx"), p)
    def le2At(p: Column) = Bytes.le2At(col("hx"), p)
    def sig(p: Int, hexs: String) =
      Bytes.sigAt(col("hx"), lit(p.toLong), hexs.length / 2) === hexs
    val probed = blobs
      .withColumn("hx", hex(col("content")))
      .withColumn("blen", length(col("content")).cast("long"))
      .withColumn("hdrok", coalesce(
        col("blen") >= 46L &&
          sig(1, "52494646") && sig(9, "57415645") &&
          sig(13, "666D7420") && le4At(lit(17L)) === 16L &&
          le2At(lit(21L)) === 1L && le2At(lit(23L)) === 1L &&
          le4At(lit(25L)) === 8000L && le2At(lit(35L)) === 16L &&
          sig(37, "64617461") &&
          le4At(lit(5L)) === col("blen") - 8L &&
          le4At(lit(41L)) === col("blen") - 44L &&
          (col("blen") - 44L) % 2L === 0L,
        lit(false)))
      .withColumn("ns", when(col("hdrok"), (col("blen") - 44L) / 2L)
        .otherwise(lit(-1L)).cast("long"))
    // Sample fold, r17 rebuild: the original struct-accumulator
    // `aggregate(sequence(...))` was an interpreted higher-order function
    // — ~4 ms/doc at 50-99 samples (substr+conv+struct allocation per
    // element, HOFs never enter whole-stage codegen), and count()-based
    // bench numbers HID it because the fold columns prune away under
    // count (q292 "0.35 s" never evaluated a sample; q294's per-batch
    // write did, at ~3 s/micro-batch). Spark-native shape instead:
    // explode the sample index, decode each LE16 sample with codegen'd
    // substr/conv arithmetic, and fold with a hash aggregate — map-side
    // partial agg means exactly one row per doc crosses the exchange,
    // the 100 TB contract. Invalid blobs ride along as a single k=-1
    // row (null sample → masked to the -1 outputs), so every doc still
    // lands exactly once without a second pass over the blob subtree.
    // Semantics identical: exact integer sums, order-independent.
    val u = byteAt(lit(45L) + col("k") * 2L) +
      byteAt(lit(46L) + col("k") * 2L) * 256L
    val sv = u - when(u >= 32768L, 65536L).otherwise(0L)
    probed
      .select(col("doc_id"), col("hdrok"), col("ns"), col("hx"),
        explode(when(col("hdrok") && col("ns") > 0L,
          sequence(lit(0L), col("ns") - 1L))
          .otherwise(array(lit(-1L)))).as("k"))
      .select(col("doc_id"), col("hdrok"), col("ns"),
        when(col("k") >= 0L, sv).as("sv"))
      .groupBy("doc_id", "hdrok", "ns")
      .agg(sum(col("sv") * col("sv")).as("sq"),
        max(abs(col("sv"))).as("pk"),
        sum(when(col("sv") === 0L, 1L).otherwise(0L)).as("nz"))
      // coalesce-to-0 on the valid branch (ADVICE r17): a blob with a
      // valid header but ZERO samples (hdrok=true, ns=0 — a crafted
      // 44-byte WAV) rides the k=-1 sentinel path, so its sv aggregates
      // are NULL; without the coalesce it would emit NULL peak/sum/rms on
      // the hdrok branch. Unreachable with the current generators
      // (n ≥ 40) but a defined-values contract for blind walks: a valid
      // empty data chunk reports 0 peak, 0 energy, 0 zero-crossings,
      // 0.0 rms.
      .select(col("doc_id"),
        when(col("hdrok"), 1L).otherwise(0L).as("valid"),
        col("ns").as("n_samples"),
        when(col("hdrok"), coalesce(col("pk"), lit(0L))).otherwise(-1L).as("peak_abs"),
        when(col("hdrok"), coalesce(col("sq"), lit(0L))).otherwise(-1L).as("sum_sq"),
        when(col("hdrok"), col("nz")).otherwise(-1L).as("n_zero"),
        when(col("hdrok") && col("ns") > 0L,
          sqrt(col("sq").cast("double") / col("ns")))
          .when(col("hdrok"), lit(0d))
          .otherwise(lit(-1d)).as("rms"))
  }

  /** q295 fixture: canonical 8 kHz mono 8-bit µ-law WAV (fmt code 7,
    * 18-byte fmt chunk with cbSize 0 — the WAVE_FORMAT_MULAW shape), 40-79
    * generator bytes (doc_id·37 + k·101 mod 256, full byte range), %7==3
    * rows raw text. Header is 46 bytes: RIFF(12) + fmt(8+18) + data(8). */
  private[graft] def mulawBlobs(docs: DataFrame): DataFrame = {
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val n = lit(40L) + pmod(did, lit(40))
    // byte-to-hex literal LUT (cf. pcmBlobs' LE16 LUT)
    val hexLut = typedlit((0 until 256).map(b => f"$b%02X").toArray)
    val samplesHex = concat_ws("", transform(sequence(lit(0L), n - 1),
      k => element_at(hexLut,
        (pmod(did * 37 + k * 101, lit(256)) + 1L).cast("int"))))
    val whex = concat(
      lit("52494646"), Bytes.le4h(lit(38L) + n), lit("57415645"),
      lit("666D7420"), Bytes.le4h(lit(18L)),
      Bytes.le2h(lit(7L)), Bytes.le2h(lit(1L)),      // µ-law, mono
      Bytes.le4h(lit(8000L)), Bytes.le4h(lit(8000L)), // rate, byterate
      Bytes.le2h(lit(1L)), Bytes.le2h(lit(8L)),      // align, bits
      Bytes.le2h(lit(0L)),                           // cbSize
      lit("64617461"), Bytes.le4h(n), samplesHex)
    docs.select(did,
      when(raw, encode(col("text"), "UTF-8"))
        .otherwise(unhex(whex)).as("content"))
  }

  /** q295's blind walk: RIFF/fmt-18/data framing tie-out, then the G.711
    * integer expansion per sample via the q292 explode + hash-agg shape.
    * Sees ONLY (doc_id, content). */
  private[graft] def mulawWalk(blobs: DataFrame): DataFrame = {
    def byteAt(p: org.apache.spark.sql.Column) = Bytes.byteAt(col("hx"), p)
    def le4At(p: org.apache.spark.sql.Column) = Bytes.le4At(col("hx"), p)
    def le2At(p: org.apache.spark.sql.Column) = Bytes.le2At(col("hx"), p)
    def sig(p: Int, hexs: String) =
      Bytes.sigAt(col("hx"), lit(p.toLong), hexs.length / 2) === hexs
    val probed = blobs
      .withColumn("hx", hex(col("content")))
      .withColumn("blen", length(col("content")).cast("long"))
      .withColumn("hdrok", coalesce(
        col("blen") >= 47L &&
          sig(1, "52494646") && sig(9, "57415645") &&
          sig(13, "666D7420") && le4At(lit(17L)) === 18L &&
          le2At(lit(21L)) === 7L && le2At(lit(23L)) === 1L &&
          le4At(lit(25L)) === 8000L && le4At(lit(29L)) === 8000L &&
          le2At(lit(33L)) === 1L && le2At(lit(35L)) === 8L &&
          le2At(lit(37L)) === 0L &&
          sig(39, "64617461") &&
          le4At(lit(5L)) === col("blen") - 8L &&
          le4At(lit(43L)) === col("blen") - 46L,
        lit(false)))
      .withColumn("ns", when(col("hdrok"), col("blen") - 46L)
        .otherwise(lit(-1L)).cast("long"))
    // G.711 µ-law expansion, codegen'd integer arithmetic per sample row
    val pow2 = typedlit(Array(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L))
    val c = lit(255L) - byteAt(lit(47L) + col("k"))
    val mag = ((c % 16L) * 8L + 132L) *
      element_at(pow2, ((c / 16L).cast("long") % 8L + 1L).cast("int"))
    val pcm = when(c >= 128L, lit(132L) - mag).otherwise(mag - 132L)
    probed
      .select(col("doc_id"), col("hdrok"), col("ns"), col("hx"),
        explode(when(col("hdrok") && col("ns") > 0L,
          sequence(lit(0L), col("ns") - 1L))
          .otherwise(array(lit(-1L)))).as("k"))
      .select(col("doc_id"), col("hdrok"), col("ns"),
        when(col("k") >= 0L, pcm).as("sv"))
      .groupBy("doc_id", "hdrok", "ns")
      .agg(sum(col("sv") * col("sv")).as("sq"),
        max(abs(col("sv"))).as("pk"),
        sum(when(abs(col("sv")) === 32124L, 1L).otherwise(0L)).as("nc"))
      // coalesce-to-0 on the valid branch for the hdrok ∧ ns=0 edge —
      // same defined-values contract as pcmWalk (ADVICE r17)
      .select(col("doc_id"),
        when(col("hdrok"), 1L).otherwise(0L).as("valid"),
        col("ns").as("n_samples"),
        when(col("hdrok"), coalesce(col("pk"), lit(0L))).otherwise(-1L).as("peak_abs"),
        when(col("hdrok"), coalesce(col("sq"), lit(0L))).otherwise(-1L).as("sum_sq"),
        when(col("hdrok"), col("nc")).otherwise(-1L).as("n_clipped"),
        when(col("hdrok") && col("ns") > 0L,
          sqrt(col("sq").cast("double") / col("ns")))
          .when(col("hdrok"), lit(0d))
          .otherwise(lit(-1d)).as("rms"))
  }

  /** q295's oracle: replays the byte generator and the G.711 expansion
    * as the same integer arithmetic (DuckDB `//` = Spark truncating
    * div-then-cast on these non-negatives; `<<` on an 0-7 exponent). */
  private val Q295_ORACLE =
      """WITH p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, 40 + doc_id % 40 AS n
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, n), k ->
        |      (doc_id * 37 + k * 101) % 256) AS bs
        |  FROM p WHERE NOT raw),
        |dec AS (
        |  SELECT doc_id, n,
        |    list_transform(bs, b -> CASE
        |      WHEN (255 - b) >= 128 THEN
        |        132 - (((255 - b) % 16) * 8 + 132) * (1 << (((255 - b) // 16) % 8))
        |      ELSE
        |        (((255 - b) % 16) * 8 + 132) * (1 << (((255 - b) // 16) % 8)) - 132
        |      END) AS ss
        |  FROM sm)
        |SELECT doc_id, CAST(1 AS BIGINT) AS valid,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_max(list_transform(ss, s -> abs(s))) AS BIGINT)
        |    AS peak_abs,
        |  CAST(list_sum(list_transform(ss, s -> s * s)) AS BIGINT) AS sum_sq,
        |  CAST(len(list_filter(ss, s -> abs(s) = 32124)) AS BIGINT)
        |    AS n_clipped,
        |  sqrt(CAST(list_sum(list_transform(ss, s -> s * s)) AS DOUBLE) / n)
        |    AS rms
        |FROM dec
        |UNION ALL
        |SELECT doc_id, 0, -1, -1, -1, -1, CAST(-1 AS DOUBLE)
        |FROM p WHERE raw
        |ORDER BY doc_id""".stripMargin

  // ---- q296 PDF fixture/walk ------------------------------------------------
  // Fixed object chain; lengths computed HERE so the xref offsets can never
  // desynchronize from the bytes (no hand-counted constants).
  private val PdfObj1 = "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
  private val PdfObj2 = "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
  private val PdfObj3 =
    "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>\nendobj\n"
  private val PdfOff1 = 9 // after "%PDF-1.m\n"
  private val PdfOff2 = PdfOff1 + PdfObj1.length
  private val PdfOff3 = PdfOff2 + PdfObj2.length
  private val PdfFixedEnd = PdfOff3 + PdfObj3.length // the comment starts here
  private val PdfXrefBody = {
    def ent(off: Int) = f"$off%010d 00000 n \n"
    "xref\n0 4\n" + "0000000000 65535 f \n" +
      ent(PdfOff1) + ent(PdfOff2) + ent(PdfOff3)
  }

  /** q296 fixture: a real minimal PDF per doc — version minor = doc_id%8,
    * a "%ppp…\n" comment of 2+doc_id%17 bytes before the xref (so the
    * startxref value varies per doc), byte-exact xref offsets. %7==3 rows
    * raw text. */
  private[graft] def pdfBlobs(docs: DataFrame): DataFrame = {
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val minor = pmod(did, lit(8))
    val padN = pmod(did, lit(17)).cast("int")
    val xrefOff = lit(PdfFixedEnd.toLong + 2L) + padN.cast("long")
    val pdf = concat(
      lit("%PDF-1."), minor.cast("string"), lit("\n"),
      lit(PdfObj1 + PdfObj2 + PdfObj3),
      lit("%"), call_function("repeat", lit("p"), padN), lit("\n"),
      lit(PdfXrefBody),
      lit("trailer\n<< /Size 4 /Root 1 0 R >>\nstartxref\n"),
      xrefOff.cast("string"), lit("\n%%EOF"))
    docs.select(did,
      encode(when(raw, col("text")).otherwise(pdf), "UTF-8").as("content"))
  }

  /** q296's blind walk: header version, startxref → xref keyword tie-out,
    * 20-byte/entry table length vs /Size, object count. Sees ONLY
    * (doc_id, content); ISO-8859-1 decode (1:1 bytes, never malformed). */
  private[graft] def pdfWalk(blobs: DataFrame): DataFrame = {
    val probed = blobs
      .withColumn("s", decode(col("content"), "ISO-8859-1"))
      .withColumn("ver",
        when(substring(col("s"), 1, 7) === "%PDF-1." &&
          substring(col("s"), 8, 1).rlike("^[0-9]$"),
          substring(col("s"), 8, 1).cast("long")))
      .withColumn("sx",
        regexp_extract(col("s"), "startxref\n([0-9]+)\n%%EOF", 1)
          .cast("long"))
      .withColumn("xrefok", coalesce(
        col("s").substr(col("sx") + 1L, lit(9L)) === "xref\n0 4\n",
        lit(false)))
      // 4 entries × 20 bytes, then the trailer keyword — ties /Size to the
      // physical table length
      .withColumn("tblok", coalesce(
        col("s").substr(col("sx") + 10L + 80L, lit(8L)) === "trailer\n",
        lit(false)))
      .withColumn("size4",
        regexp_extract(col("s"), "/Size ([0-9]+)", 1) === "4")
      .withColumn("eofok",
        expr("substring(s, length(s) - 4, 5)") === "%%EOF")
      .withColumn("nobj", regexp_count(col("s"), lit(" 0 obj\n")))
      .withColumn("ok", coalesce(
        col("ver").isNotNull && col("eofok") && col("xrefok") &&
          col("tblok") && col("size4"), lit(false)))
    probed.select(col("doc_id"),
      when(col("ok"), 1L).otherwise(0L).as("valid"),
      when(col("ok"), col("ver")).otherwise(-1L).as("version_minor"),
      when(col("ok"), col("nobj").cast("long")).otherwise(-1L).as("n_objects"),
      when(col("ok"), col("sx")).otherwise(-1L).as("xref_at"),
      when(col("ok"), 4L).otherwise(-1L).as("xref_size"))
  }

  /** q296's oracle: replays the generator parameters (the walk must
    * extract exactly what was planted, incl. the per-doc xref offset). */
  private val Q296_ORACLE =
    s"""SELECT doc_id, CAST(1 AS BIGINT) AS valid,
       |  CAST(doc_id % 8 AS BIGINT) AS version_minor,
       |  CAST(3 AS BIGINT) AS n_objects,
       |  CAST($PdfFixedEnd + 2 + doc_id % 17 AS BIGINT) AS xref_at,
       |  CAST(4 AS BIGINT) AS xref_size
       |FROM documents WHERE doc_id % 7 <> 3
       |UNION ALL
       |SELECT doc_id, 0, -1, -1, -1, -1 FROM documents WHERE doc_id % 7 = 3
       |ORDER BY doc_id""".stripMargin

  /** q292/q294's shared oracle (see q292's comment). */
  private val Q292_ORACLE =
      """WITH p AS (
        |  SELECT doc_id, doc_id % 7 = 3 AS raw, doc_id % 5 = 0 AS sil,
        |    50 + doc_id % 50 AS n
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, n), k ->
        |      CASE WHEN sil AND k >= 10 AND k < 20 THEN 0
        |           ELSE ((doc_id * 31 + k * 97) % 4001) - 2000 END) AS ss
        |  FROM p WHERE NOT raw)
        |SELECT doc_id, CAST(1 AS BIGINT) AS valid,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_max(list_transform(ss, s -> abs(s))) AS BIGINT)
        |    AS peak_abs,
        |  CAST(list_sum(list_transform(ss, s -> s * s)) AS BIGINT) AS sum_sq,
        |  CAST(len(list_filter(ss, s -> s = 0)) AS BIGINT) AS n_zero,
        |  sqrt(CAST(list_sum(list_transform(ss, s -> s * s)) AS DOUBLE) / n)
        |    AS rms
        |FROM sm
        |UNION ALL
        |SELECT doc_id, 0, -1, -1, -1, -1, CAST(-1 AS DOUBLE)
        |FROM p WHERE raw
        |ORDER BY doc_id""".stripMargin

  /** q288 fixture: OGG (RFC 3533) page sequences — 2-3 pages per doc,
    * BOS type on the first, EOS on the last, zero granule/CRC (the walk
    * is structural; no public-domain OGG CRC table is assumed), stream
    * serial = doc_id mod 1e5, incrementing page sequence numbers,
    * 1-segment lacing tables with doc-derived payloads. doc_id%7==3 rows
    * are raw text (the must-fail class). */
  private[graft] def oggBlobs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val np = lit(2L) + pmod(did, lit(2))
    val serial = pmod(did, lit(100000L))
    val letters = regexp_replace(col("text"), "[^a-z]", "")
    def dat(i: Int) = letters.substr(lit((i - 1) * 30 + 1),
      (lit(8L) + pmod(did + i, lit(9))).cast("int"))
    def le4(x: Column) = Bytes.le4h(x)
    def page(i: Int): Column = {
      val bytes = encode(dat(i), "UTF-8")
      val l = length(bytes).cast("long")
      val htyp = if (i == 1) lit("02")
        else when(np === i.toLong, lit("04")).otherwise(lit("00"))
      concat(
        lit("4F676753"), lit("00"), htyp,   // "OggS", version, header type
        lit("00" * 8),                      // granule position (unused)
        le4(serial), le4(lit((i - 1).toLong)),
        lit("00" * 4),                      // CRC (structural walk)
        lit("01"), lpad(hex(l), 2, "0"),    // nseg=1, lacing[0]=len
        hex(bytes))
    }
    Tables.documentsSpread(s, d)
      .withColumn("ohex", concat(page(1), page(2),
        when(np >= 3, page(3)).otherwise(lit(""))))
      .select(did,
        when(raw, encode(col("text"), "UTF-8"))
          .otherwise(unhex(col("ohex"))).as("content"))
  }

  /** q230 fixture: minimal-but-real GIFs derived from doc_id — version
    * 87a/89a, optional global color table (two sizes), optional NETSCAPE
    * loop extension, 1–3 frames each with a graphic-control extension
    * (89a) and a one-sub-block LZW payload of varying length; doc_id%7==3
    * rows are raw text (the must-fail class). Mirrors the oracle's
    * `hexes` CTE byte-for-byte. */
  private[graft] def gifBlobs(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val v89 = pmod(did, lit(2)) === 0
    val gc = pmod(did, lit(3))
    val w = lit(1) + pmod(did, lit(300))
    val h = lit(1) + pmod(did, lit(200))
    val nf = when(v89, lit(1) + pmod(did, lit(3))).otherwise(lit(1))
    val lz = lit(2) + pmod(did, lit(5))
    val lp = pmod(did, lit(4))
    val dl = lit(2) + pmod(did, lit(6))
    def le16(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 4, "0")
      concat(substring(x, 3, 2), substring(x, 1, 2))
    }
    val gct = when(gc === 0, lit(6)).when(gc === 2, lit(24)).otherwise(lit(0))
    val pk = when(gc === 0, lit("80")).when(gc === 2, lit("82"))
      .otherwise(lit("00"))
    val app = v89 && (nf > 1)
    val frameUnit = concat(
      when(v89, concat(lit("21F90400"), le16(dl), lit("0000")))
        .otherwise(lit("")),
      lit("2C00000000"), le16(w), le16(h), lit("00"),
      lit("02"), lpad(hex(lz), 2, "0"),
      call_function("repeat", lit("5A"), lz), lit("00"))
    Tables.documentsSpread(s, d)
      .withColumn("unit", frameUnit)
      .withColumn("ghex", concat(
        when(v89, lit("474946383961")).otherwise(lit("474946383761")),
        le16(w), le16(h), pk, lit("0000"),
        call_function("repeat", lit("0F"), gct),
        when(app, concat(lit("21FF0B4E45545343415045322E300301"),
          le16(lp), lit("00"))).otherwise(lit("")),
        call_function("repeat", col("unit"), nf),
        lit("3B")))
      .select(did,
        when(raw, encode(col("text"), "UTF-8"))
          .otherwise(unhex(col("ghex"))).as("content"))
  }

  /** q236 fixture: minimal-but-real FLAC metadata streams derived from
    * doc_id — "fLaC" magic, a 34-byte STREAMINFO whose 8 packed bytes
    * carry the planted (sample rate, channels, bps, total samples) in
    * their real bit positions, then one of 4 tail layouts (none /
    * PADDING / VORBIS_COMMENT / both) moving the is-last flag between
    * blocks; doc_id%7==3 rows are raw text (the must-fail class).
    * Mirrors the oracle's `hexes` CTE byte-for-byte. */
  private[graft] def flacBlobs(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val sr = when(pmod(did, lit(6)) === 0, 8000L)
      .when(pmod(did, lit(6)) === 1, 16000L)
      .when(pmod(did, lit(6)) === 2, 22050L)
      .when(pmod(did, lit(6)) === 3, 44100L)
      .when(pmod(did, lit(6)) === 4, 48000L)
      .otherwise(96000L)
    val ch = lit(1L) + pmod(did, lit(4))
    val bps = when(pmod(did, lit(3)) === 0, 8L)
      .when(pmod(did, lit(3)) === 1, 16L).otherwise(24L)
    val ts = lit(1000L) + pmod(did, lit(100000))
    val lay = pmod(did, lit(4))
    val vl = lit(4L) + pmod(did, lit(9))
    val pl = lit(1L) + pmod(did, lit(7))
    val pkv = sr * lit(17592186044416L) + (ch - 1L) * lit(2199023255552L) +
      (bps - 1L) * lit(68719476736L) + ts
    val hasvc = lay === 2 || lay === 3
    val haspad = lay === 1 || lay === 3
    Tables.documentsSpread(s, d)
      .withColumn("fhex", concat(
        lit("664C6143"),
        when(lay === 0, lit("80")).otherwise(lit("00")), lit("000022"),
        lit("1000"), lit("1000"), lit("000000"), lit("000000"),
        lpad(hex(pkv), 16, "0"),
        call_function("repeat", lit("00"), lit(16)),
        when(hasvc, concat(
          when(lay === 2, lit("84")).otherwise(lit("04")),
          lpad(hex(vl), 6, "0"),
          call_function("repeat", lit("56"), vl.cast("int"))))
          .otherwise(lit("")),
        when(haspad, concat(
          lit("81"), lpad(hex(pl), 6, "0"),
          call_function("repeat", lit("00"), pl.cast("int"))))
          .otherwise(lit(""))))
      .select(did,
        when(raw, encode(col("text"), "UTF-8"))
          .otherwise(unhex(col("fhex"))).as("content"))
  }

  /** q240 fixture: minimal-but-real MPEG1 Layer III streams derived from
    * doc_id — an optional ID3v2 tag whose size field is a real SYNCSAFE
    * integer (planted sizes 60/130/300 cross the 7-bit byte boundary both
    * ways), then 1–3 frames whose headers carry the planted
    * bitrate/samplerate indices and an ALTERNATING padding bit, each body
    * sized by the 144·bitrate/samplerate+padding formula; doc_id%7==3
    * rows are raw text (the must-fail class). Mirrors the oracle's
    * `hexes` CTE byte-for-byte. */
  private[graft] def mp3Blobs(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val raw = pmod(did, lit(7)) === 3
    val hasid3 = pmod(did, lit(4)) =!= 0
    val ts = when(pmod(did, lit(3)) === 0, 60L)
      .when(pmod(did, lit(3)) === 1, 130L).otherwise(300L)
    val bi = lit(1L) + pmod(did, lit(5))
    val si = pmod(did, lit(3))
    val nf = lit(1L) + pmod(did, lit(3))
    val kbps = lit(32L) + (bi - 1L) * 8L
    val sr = when(si === 0, 44100L).when(si === 1, 48000L).otherwise(32000L)
    val flbase = (lit(144L) * (kbps * 1000L)).cast("long").divide(sr)
      .cast("long")
    def frame(idx: Int): org.apache.spark.sql.Column = {
      val pad = pmod(did + idx, lit(2))
      concat(lit("FFFB"),
        lpad(hex(bi * 16L + si * 4L + pad * 2L), 2, "0"), lit("00"),
        call_function("repeat", lit("4D"), (flbase + pad - 4L).cast("int")))
    }
    Tables.documentsSpread(s, d)
      .withColumn("mhex", concat(
        when(hasid3, concat(
          lit("494433"), lit("0300"), lit("00"), lit("0000"),
          lpad(hex((ts / 128L).cast("long")), 2, "0"),
          lpad(hex(pmod(ts, lit(128L))), 2, "0"),
          call_function("repeat", lit("54"), ts.cast("int"))))
          .otherwise(lit("")),
        frame(1),
        when(nf >= 2, frame(2)).otherwise(lit("")),
        when(nf >= 3, frame(3)).otherwise(lit(""))))
      .select(did,
        when(raw, encode(col("text"), "UTF-8"))
          .otherwise(unhex(col("mhex"))).as("content"))
  }

  /** Spark-side q196 fixture: JPEG SOI ++ APP1("Exif\0\0" + TIFF) ++ text
    * payload, with the TIFF byte order, header pad (IFD0 offset), decoy
    * first IFD entry, and orientation all doc_id-derived; doc_id%3==2 rows
    * are raw text (the must-fail class). Mirrors the oracle's `eblobs`
    * CTE byte-for-byte. */
  private[graft] def exifBlobs(s: SparkSession, d: String): DataFrame =
    exifBlobsImpl(s, d, withGps = false)

  /** q199 fixture: same TIFF machinery, but doc_id%5!=1 parsed rows carry
    * a THIRD IFD0 entry — the GPS IFD pointer (0x8825, LONG, count 1,
    * value = the GPS IFD's origin-relative offset, 50+p: right after
    * IFD0's next-pointer). doc_id%5==1 keeps the 2-entry IFD (the
    * GPS-absent class) and doc_id%3==2 stays raw text (unparsed). */
  private[graft] def gpsBlobs(s: SparkSession, d: String): DataFrame =
    exifBlobsImpl(s, d, withGps = true)

  private def exifBlobsImpl(s: SparkSession, d: String,
                            withGps: Boolean): DataFrame = {
    val le = pmod(col("doc_id"), lit(2)) === 0
    val p = pmod(col("doc_id"), lit(4))
    val orient = lit(1) + pmod(col("doc_id"), lit(8))
    def u16e(v: org.apache.spark.sql.Column) = {
      val h = lpad(hex(v), 4, "0")
      unhex(when(le, concat(substring(h, 3, 2), substring(h, 1, 2))).otherwise(h))
    }
    def u32e(v: org.apache.spark.sql.Column) = {
      val h = lpad(hex(v), 8, "0")
      unhex(when(le, concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))).otherwise(h))
    }
    // decoy entry: ImageDescription (0x010E), ASCII type 2, count 4, the
    // 4 chars inline in the value field — valid TIFF, ascending-tag order
    val entry0 = concat(u16e(lit(0x010E)), u16e(lit(2)), u32e(lit(4)),
      lit("desc".getBytes("UTF-8")))
    // Orientation (0x0112), SHORT type 3, count 1, value in the field's
    // first two bytes (endian), zero-padded
    val entry1 = concat(u16e(lit(0x0112)), u16e(lit(3)), u32e(lit(1)),
      u16e(orient), lit(Array[Byte](0, 0)))
    // GPS IFD pointer (0x8825, LONG type 4, count 1) — kept in ascending
    // tag order after 0x010E/0x0112, as the spec mandates
    val hasGps =
      if (withGps) pmod(col("doc_id"), lit(5)) =!= 1 else lit(false)
    val entry2 = concat(u16e(lit(0x8825)), u16e(lit(4)), u32e(lit(1)),
      u32e(lit(50) + p))
    val nEntries = when(hasGps, lit(3)).otherwise(lit(2))
    val tiff = concat(
      when(le, lit(Multimodal.TIFF_LE)).otherwise(lit(Multimodal.TIFF_BE)),
      u16e(lit(42)), u32e(lit(8) + p),
      unhex(call_function("repeat", lit("00"), p)), // the header pad
      u16e(nEntries), entry0, entry1,
      when(hasGps, entry2).otherwise(lit(Array.empty[Byte])),
      u32e(lit(0)))
    val app1Len = when(hasGps, lit(58)).otherwise(lit(46)) + p
    val app1 = concat(
      lit(Array[Byte](0xFF.toByte, 0xD8.toByte)), lit(Multimodal.APP1_MARKER),
      unhex(lpad(hex(app1Len), 4, "0")), // APP1 length, always BE
      lit(Multimodal.EXIF_TAG), tiff)
    Tables.documents(s, d).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 2, encode(col("text"), "UTF-8"))
        .otherwise(concat(app1, encode(col("text"), "UTF-8"))).as("content"))
  }

  private[graft] val DUP_OFFSET = 1000000L

  private val FTYP_HEX = hexLit(Multimodal.FTYP_TAG)
  private val MOOV_HEX = hexLit(Multimodal.MOOV_TAG)
  private val FREE_HEX = hexLit(Multimodal.FREE_TAG)
  private val MVHD_HEX = hexLit(Multimodal.MVHD_TAG)

  /** Constant mvhd (version 0) bytes AFTER the duration field: rate
    * 0x00010000, volume 0x0100, 10 reserved zero bytes, the unity display
    * matrix, 24 pre_defined zero bytes, next_track_ID 2 — 80 bytes, fixed
    * by ISO/IEC 14496-12 §8.2.2 for a canonical header. */
  private[graft] val MVHD_TAIL: Array[Byte] = {
    def be(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    be(0x00010000L) ++ Array[Byte](0x01, 0x00) ++ Array.fill[Byte](10)(0) ++
      Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
        .flatMap(be).toArray ++
      Array.fill[Byte](24)(0) ++ be(2L)
  }

  /** Spark-side MP4 fixture: a canonical fast-start ISO-BMFF file per doc
    * (ftyp with doc_id-varying compatible brands, an optional free box,
    * moov/mvhd with planted timescale+duration, mdat carrying the text) —
    * or raw text bytes for doc_id%5==4 (the must-not-parse class). */
  private[graft] def mp4Blobs(s: SparkSession, d: String): DataFrame = {
    def be32(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
    def ascii(t: String) = lit(t.getBytes("UTF-8"))
    val zero4 = lit(Array[Byte](0, 0, 0, 0))
    val nb = pmod(col("doc_id"), lit(3))
    val ts = when(nb === 0, 600L).when(nb === 1, 1000L).otherwise(90000L)
    val dur = ts * (lit(1L) + pmod(col("doc_id"), lit(120L))) +
      pmod(col("doc_id"), lit(50L))
    val ftyp = concat(be32(lit(16L) + nb * 4), ascii("ftyp"), ascii("isom"),
      zero4, encode(call_function("repeat", lit("mp41"), nb.cast("int")), "UTF-8"))
    val pad = pmod(col("doc_id"), lit(6))
    val free = when(pmod(col("doc_id"), lit(4)) === 1,
      concat(be32(lit(8L) + pad), ascii("free"),
        encode(call_function("repeat", lit("X"), pad.cast("int")), "UTF-8")))
      .otherwise(lit(Array.empty[Byte]))
    val mvhd = concat(be32(lit(108L)), ascii("mvhd"),
      zero4, zero4, zero4, // version 0 + flags, creation, modification
      be32(ts), be32(dur), lit(MVHD_TAIL))
    val moov = concat(be32(lit(116L)), ascii("moov"), mvhd)
    val txt = encode(col("text"), "UTF-8")
    val mdat = concat(be32(lit(8L) + length(txt)), ascii("mdat"), txt)
    Tables.documents(s, d).select(col("doc_id"), col("source"),
      when(pmod(col("doc_id"), lit(5)) === 4, txt)
        .otherwise(concat(ftyp, free, moov, mdat)).as("content"))
  }

  /** DuckDB replay of [[mp4Blobs]] (hex/BLOB concat, cf. BLOBS_SQL). */
  private val MP4_SQL =
    s"""vids AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 5 = 4 THEN encode(text)
       |    ELSE
       |      unhex(lpad(to_hex(16 + 4 * (doc_id % 3)), 8, '0')) || 'ftyp'::BLOB ||
       |      'isom'::BLOB || unhex('00000000') ||
       |      encode(repeat('mp41', CAST(doc_id % 3 AS BIGINT))) ||
       |      CASE WHEN doc_id % 4 = 1
       |        THEN unhex(lpad(to_hex(8 + doc_id % 6), 8, '0')) || 'free'::BLOB ||
       |          encode(repeat('X', CAST(doc_id % 6 AS BIGINT)))
       |        ELSE ''::BLOB END ||
       |      unhex('00000074') || 'moov'::BLOB ||
       |      unhex('0000006C') || 'mvhd'::BLOB || unhex('000000000000000000000000') ||
       |      unhex(lpad(to_hex(CASE doc_id % 3 WHEN 0 THEN 600
       |        WHEN 1 THEN 1000 ELSE 90000 END), 8, '0')) ||
       |      unhex(lpad(to_hex(
       |        (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END)
       |          * (1 + doc_id % 120) + doc_id % 50), 8, '0')) ||
       |      unhex('${hexLit(MVHD_TAIL)}') ||
       |      unhex(lpad(to_hex(8 + octet_length(encode(text))), 8, '0')) ||
       |      'mdat'::BLOB || encode(text)
       |    END AS content
       |  FROM documents)""".stripMargin
}

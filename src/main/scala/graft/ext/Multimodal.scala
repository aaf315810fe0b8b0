package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables

/** Multimodal-column plumbing for training-data pipelines (BASELINE.json
  * north star): media as opaque `binary` columns + typed metadata structs,
  * with decode / feature-extract / frame-sample stages.
  *
  * The actual codecs (pixel/sample decode) are NOT in this container, so
  * the decode kernel is a clearly-marked deterministic STUB — though
  * CONTAINER METADATA is parsed for real across all three modalities
  * (BMP/PNG/GIF/JPEG dimensions, RIFF/WAVE duration, ISO-BMFF/MP4
  * dimensions+duration, all public header math), so the stub only fires
  * for payloads with no parseable container header (such as the text
  * stand-ins in TESTDATA) — but the
  * Spark-side plumbing is real and tested: schema shape, binary column
  * handling, partition-wise batch processing (`mapPartitions`, the Scala
  * analog of `mapInPandas` batch UDFs — one iterator per partition is
  * exactly where a JNI/native codec call sits), and downstream ANN-able
  * feature vectors.
  *
  * Scale notes: binary payloads never shuffle — decode/extract are
  * narrow (partition-local) transforms; only the small extracted
  * metadata/features move. `spark.sql.files.maxPartitionBytes` bounds
  * per-task media bytes.
  */
object Multimodal {

  /** Media table derived from testdata: `documents.text` bytes stand in
    * for an encoded media payload (TESTDATA provides no real blobs).
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    mediaTableOf(Tables.documents(spark, sfDir))

  /** [[mediaTable]]'s projection over an arbitrary documents frame —
    * shared with the signature artifact's append-only refresh.
    */
  private def mediaTableOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("content"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"))

  /** Oracle-checkable metadata: payload byte length per media row (the
    * only property of an opaque blob both engines compute identically).
    */
  def mediaMetadata(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).select(
      col("media_id"), col("media_type"),
      length(col("content")).as("n_bytes"))
      .orderBy(col("media_id").asc)

  private val decodedSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Partition-wise decode. Container metadata is REALLY parsed for all
    * three modalities — BMP/PNG/GIF/JPEG dimensions
    * ([[parseDims]]/[[jpegDims]]), RIFF/WAVE duration ([[wavDuration]]),
    * ISO-BMFF/MP4 dimensions + duration ([[mp4Info]]) — plain public
    * header math, no codec library needed. Only payloads with NO
    * parseable container header take the deterministic stub. A
    * real deployment swaps the stub for the native codec call
    * (libjpeg/ffmpeg via JNI, or hand the iterator to an Arrow batch for a
    * Python `mapInPandas` stage) — this partition-local iterator is
    * exactly where that call sits.
    */
  def decode(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    media.select("media_id", "media_type", "content").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val mt = r.getString(1)
        val bytes = r.getAs[Array[Byte]](2)
        val parsed = mt match {
          case "image" => parseDims(mt, bytes)
          // .m4a audio is an ISO-BMFF container too — try both
          case "audio" => wavDuration(bytes).orElse(mp4Info(bytes))
          case _       => mp4Info(bytes)
        }
        val (w, h, d) = parsed.getOrElse(fakeDecode(mt, bytes))
        Row(id, mt, bytes.length, w, h, d)
      }
    }(enc)
  }

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)

  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)

  private def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)

  private val pngMagic =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Real header parse for the formats whose dimensions are public header
    * math — the full still-image set, leaving ONLY audio/video on the stub:
    *
    *   - BMP: BITMAPINFOHEADER width LE32 @18, height LE32 @22 (negative
    *     height = top-down row order, magnitude is the size);
    *   - PNG: IHDR width BE32 @16, height BE32 @20;
    *   - GIF: "GIF87a"/"GIF89a" magic, logical-screen-descriptor width
    *     LE16 @6, height LE16 @8;
    *   - JPEG: SOI then a marker scan to the first frame header (SOFn) —
    *     see [[jpegDims]].
    *
    * Returns None for payloads that are none of these — those take the
    * stub path.
    *
    * False-positive guards for the text stand-in payloads: the BMP branch
    * validates the DIB header size field @14 (one of the published header
    * sizes) and sane dimensions, not just the 2-byte "BM" magic — any
    * document starting "BM…" (BM25, BMW) would otherwise decode ASCII
    * bytes as garbage geometry. JPEG's 0xFF D8 magic cannot occur in
    * UTF-8 text at all. The GIF branch validates the first BLOCK
    * INTRODUCER after the (color-table-adjusted) header — one of
    * 0x2C/0x21/0x3B per the spec — on top of the 6-byte magic and
    * positive dims; a text payload must now open "GIF8[79]a", encode
    * plausible dims AND place ','/'!'/';' at the exact post-table
    * offset to false-positive — the residual ambiguity of any
    * magic-sniffing ingest; real deployments carry a declared MIME type.
    */
  private[ext] def parseDims(
      mediaType: String, bytes: Array[Byte]): Option[(Int, Int, Long)] =
    if (bytes.length >= 26 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte
      && Set(12, 40, 56, 64, 108, 124).contains(le32(bytes, 14))
      && le32(bytes, 18) > 0 && math.abs(le32(bytes, 22)) > 0)
      Some((le32(bytes, 18), math.abs(le32(bytes, 22)), 0L))
    else if (bytes.length >= 24 && bytes.take(8).sameElements(pngMagic))
      Some((be32(bytes, 16), be32(bytes, 20), 0L))
    else if (bytes.length >= 13 && bytes(0) == 'G'.toByte &&
      bytes(1) == 'I'.toByte && bytes(2) == 'F'.toByte &&
      bytes(3) == '8'.toByte &&
      (bytes(4) == '7'.toByte || bytes(4) == '9'.toByte) &&
      bytes(5) == 'a'.toByte && le16(bytes, 6) > 0 && le16(bytes, 8) > 0 &&
      gifIntroducerOk(bytes))
      Some((le16(bytes, 6), le16(bytes, 8), 0L))
    else if (bytes.length >= 4 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8)
      jpegDims(bytes)
    else None

  /** Structural follow-through for the GIF sniff: the byte after the
    * logical screen descriptor (plus the global color table when its
    * flag is set) must be a legal block introducer — image descriptor
    * 0x2C, extension 0x21, or trailer 0x3B.
    */
  private def gifIntroducerOk(bytes: Array[Byte]): Boolean = {
    val packed = bytes(10) & 0xFF
    val o = 13L +
      (if ((packed & 0x80) != 0) 3L * (1 << ((packed & 7) + 1)) else 0L)
    o < bytes.length && {
      val b = bytes(o.toInt) & 0xFF
      b == 0x2C || b == 0x21 || b == 0x3B
    }
  }

  /** JPEG dimension scan (public JFIF/EXIF marker structure): after the
    * SOI marker, segments are [0xFF, marker, len BE16, payload]; walk them
    * to the first frame header SOF0–SOF15 (excluding DHT 0xC4, JPG 0xC8,
    * DAC 0xCC which reuse the 0xCn space), whose payload is
    * [precision u8][height BE16][width BE16]. Standalone markers
    * (TEM/RSTn) have no length; 0xFF fill bytes pad between segments;
    * hitting SOS (entropy-coded data) or EOI without a SOF means no
    * parseable dimensions — stub path, not a guess.
    */
  private[ext] def jpegDims(b: Array[Byte]): Option[(Int, Int, Long)] = {
    var o = 2
    while (o + 1 < b.length) {
      if ((b(o) & 0xFF) != 0xFF) return None // marker misalignment
      var mOff = o + 1
      while (mOff < b.length && (b(mOff) & 0xFF) == 0xFF) mOff += 1 // fill
      if (mOff >= b.length) return None
      val m = b(mOff) & 0xFF
      val seg = mOff + 1
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) o = seg // standalone
      else if (m == 0xD9 || m == 0xDA) return None // EOI / SOS before SOF
      else {
        if (seg + 1 >= b.length) return None
        val len = be16(b, seg)
        if (len < 2) return None
        if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
          if (seg + 6 >= b.length || len < 7) return None
          val h = be16(b, seg + 3)
          val w = be16(b, seg + 5)
          return if (w > 0 && h > 0) Some((w, h, 0L)) else None
        }
        o = seg + len
      }
    }
    None
  }

  private def be64(b: Array[Byte], o: Int): Long =
    ((be32(b, o) & 0xFFFFFFFFL) << 32) | (be32(b, o + 4) & 0xFFFFFFFFL)

  /** Real audio header parse — RIFF/WAVE (public container spec, same
    * header-math family as [[parseDims]]):
    *
    *   "RIFF" @0, riff size LE32 @4, "WAVE" @8, then a chunk walk of
    *   [id(4), size LE32, payload (even-padded)]. The `fmt ` chunk gives
    *   byte_rate LE32 @+8 (validated: channels/sample_rate positive); the
    *   `data` chunk's size is the sample byte count. duration_ms =
    *   data_bytes * 1000 / byte_rate.
    *
    * Returns `(0, 0, duration_ms)` — audio has no dimensions. None on
    * anything malformed/truncated: those rows take the stub path, never a
    * guess or an index crash.
    */
  private[ext] def wavDuration(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
      b(11) != 'E') return None
    var o = 12
    var byteRate = 0L
    var dataBytes = -1L
    while (o + 8 <= b.length && (byteRate == 0L || dataBytes < 0L)) {
      val id = new String(b, o, 4, "US-ASCII")
      val sz = le32(b, o + 4).toLong & 0xFFFFFFFFL
      if (id == "fmt ") {
        if (o + 8 + 16 > b.length) return None
        val channels = le16(b, o + 10)
        val sampleRate = le32(b, o + 12)
        val br = le32(b, o + 16).toLong & 0xFFFFFFFFL
        if (channels <= 0 || sampleRate <= 0 || br <= 0L) return None
        byteRate = br
      } else if (id == "data") dataBytes = sz
      // advance in LONG arithmetic: a 32-bit declared size near IntMax
      // would wrap an Int sum negative BEFORE any guard and send the
      // next header read out of bounds (chunks are even-padded). The
      // bound leaves headroom for the loop condition's own `o + 8`,
      // which still runs in Int arithmetic
      val next = o.toLong + 8L + sz + (sz & 1L)
      if (next > (Int.MaxValue - 8).toLong) return None
      o = next.toInt
    }
    if (byteRate > 0L && dataBytes >= 0L)
      Some((0, 0, dataBytes * 1000L / byteRate))
    else None
  }

  /** Real audio SAMPLE features for a RIFF/WAVE payload carrying plain
    * 16-bit PCM — the audio counterpart of [[bmpFeatures]] (the one
    * audio encoding whose samples are pure public byte math, no codec):
    * the `fmt ` chunk must declare audio_format=1 (PCM) and 16 bits per
    * sample, and the `data` chunk must be fully present with an even
    * byte count. Samples are signed LE16, channels processed interleaved
    * (features are channel-agnostic energy/shape statistics).
    *
    * Features (all from EXACT integer sums, so deterministic on any
    * engine/partitioning): [mean|s|, rms, zero-crossing rate, peak|s|]
    * — amplitudes normalized by 32768 — followed by a (dim-4)-bin
    * histogram of |s| fractions. n_samples ≤ len/2 < 2³¹ and s² ≤ 2³⁰
    * keep Σs² < 2⁶¹ — no overflow path.
    *
    * None (→ stub embedding) for anything that is not structurally valid
    * 16-bit PCM with its full sample array present — never a guess.
    */
  private[ext] def pcmFeatures(
      bytes: Array[Byte], dim: Int): Option[Array[Double]] = {
    if (dim < 5) return None
    // structural validation + data span shared with pcmPHash (same
    // Long-advance overflow discipline as wavDuration)
    val (off, n) = pcmDataSpan(bytes).getOrElse(return None)
    var sumAbs = 0L; var sumSq = 0L; var crossings = 0L; var peak = 0L
    val bins = dim - 4
    val hist = new Array[Long](bins)
    var prevNeg = false
    var i = 0
    while (i < n) {
      val p = off + i * 2
      val s = ((bytes(p) & 0xFF) | (bytes(p + 1) << 8)).toShort.toInt
      val a = math.abs(s.toLong) // |Short.MinValue| = 32768 needs the Long
      sumAbs += a; sumSq += a * a
      if (a > peak) peak = a
      val neg = s < 0
      if (i > 0 && neg != prevNeg) crossings += 1
      prevNeg = neg
      hist(math.min((a * bins / 32768L).toInt, bins - 1)) += 1
      i += 1
    }
    val out = new Array[Double](dim)
    out(0) = sumAbs.toDouble / n / 32768.0
    out(1) = math.sqrt(sumSq.toDouble / n) / 32768.0
    out(2) = if (n > 1) crossings.toDouble / (n - 1) else 0.0
    out(3) = peak.toDouble / 32768.0
    var j = 0
    while (j < bins) { out(4 + j) = hist(j).toDouble / n; j += 1 }
    Some(out)
  }

  /** Real video/audio container parse — ISO Base Media File Format (MP4,
    * public spec ISO/IEC 14496-12): a box walk of [size BE32, type(4)]
    * (size==1 → 64-bit largesize follows; size==0 → box runs to EOF).
    * Sniffing requires a leading `ftyp` box (its magic cannot occur in
    * UTF-8 text: the size word would need to be tiny AND "ftyp" at @4).
    * Inside `moov`:
    *
    *   - `mvhd` v0: timescale BE32 @+12, duration BE32 @+16 (after the
    *     8-byte box header); v1: @+20 / BE64 @+24. duration_ms =
    *     duration * 1000 / timescale.
    *   - first `trak`/`tkhd` with nonzero geometry: width/height are
    *     16.16 fixed point at content offset 76/80 (v0) or 88/92 (v1) —
    *     audio tracks carry zeros there, so the scan lands on the video
    *     track.
    *
    * Returns `(w, h, duration_ms)` (0×0 for pure-audio .m4a). None on
    * malformed/truncated payloads — stub path, never a guess.
    */
  private[ext] def mp4Info(b: Array[Byte]): Option[(Int, Int, Long)] = {
    // walk boxes in [from, until); return the content span of `typ`
    def findBox(typ: String, from: Int, until: Int): Option[(Int, Int)] = {
      var o = from
      while (o + 8 <= until) {
        val sz32 = be32(b, o).toLong & 0xFFFFFFFFL
        val id = new String(b, o + 4, 4, "US-ASCII")
        val (hdr, sz) =
          if (sz32 == 1L) {
            if (o + 16 > until) return None
            (16, be64(b, o + 8))
          } else if (sz32 == 0L) (8, (until - o).toLong)
          else (8, sz32)
        if (sz < hdr || o + sz > until.toLong) return None
        if (id == typ) return Some((o + hdr, (o + sz).toInt))
        o += sz.toInt
      }
      None
    }
    if (b.length < 12 || findBox("ftyp", 0, b.length).isEmpty) return None
    findBox("moov", 0, b.length).flatMap { case (ms, me) =>
      findBox("mvhd", ms, me).flatMap { case (hs, he) =>
        if (hs >= he) None
        else {
          val v = b(hs) & 0xFF
          val (tsOff, need, durMs) =
            if (v == 1)
              (20, 32, (ts: Int) => be64(b, hs + 24) * 1000L / ts)
            else
              (12, 20,
                (ts: Int) => (be32(b, hs + 16).toLong & 0xFFFFFFFFL) * 1000L / ts)
          if (hs + need > he) None
          else {
            val ts = be32(b, hs + tsOff)
            if (ts <= 0) None
            else {
              val ms1 = durMs(ts)
              // first trak whose tkhd carries nonzero 16.16 geometry
              var w = 0; var h = 0; var o = ms
              var done = false
              while (!done) {
                findBox("trak", o, me) match {
                  case Some((tks, tke)) =>
                    findBox("tkhd", tks, tke).foreach { case (ks, ke) =>
                      val kv = if (ks < ke) b(ks) & 0xFF else -1
                      val geomOff = if (kv == 1) 88 else 76
                      if (kv >= 0 && ks + geomOff + 8 <= ke) {
                        val tw = be32(b, ks + geomOff) >>> 16
                        val th = be32(b, ks + geomOff + 4) >>> 16
                        if (tw > 0 && th > 0 && w == 0) { w = tw; h = th }
                      }
                    }
                    o = tke
                    if (w > 0) done = true
                  case None => done = true
                }
              }
              Some((w, h, ms1))
            }
          }
        }
      }
    }
  }

  /** STUB standing in for the real media codec (not available in this
    * container). Deterministic pure function of the payload: dimensions
    * derive from a 60-bit sha-256 prefix of the bytes, so the DuckDB
    * oracle recomputes them from the same payload (`sha256(text)` hashes
    * the identical UTF-8 bytes) and the downstream frame-sample query is
    * hash-checked end-to-end despite the codec being fake.
    */
  private def fakeDecode(mediaType: String, bytes: Array[Byte]): (Int, Int, Long) = {
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).take(8).map(b => f"$b%02x").mkString
    val pos = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    mediaType match {
      case "image" => (((pos % 1920) + 1).toInt, (((pos >> 16) % 1080) + 1).toInt, 0L)
      case "audio" => (0, 0, (pos % 600000L) + 1L)
      case _       => (((pos % 1280) + 1).toInt, (((pos >> 16) % 720) + 1).toInt, (pos % 7200000L) + 1L)
    }
  }

  /** Aspect-preserving resize planning for decoded visual media: the
    * target box is (maxSide × maxSide), scale = min(1, maxSide/longest
    * edge), output dims rounded down, never upscaled. Pure closed-form
    * column math — the actual pixel resample belongs in the same
    * partition-local kernel slot as [[decode]]'s stub; THIS stage is what
    * decides each row's output geometry (and at 100 TB it runs as a narrow
    * projection, letting the planner prune rows already within bounds).
    */
  def resizePlan(decoded: DataFrame, maxSide: Int = 512): DataFrame = {
    val longest = greatest(col("width"), col("height"))
    val scale = least(lit(1.0), lit(maxSide).cast("double") / longest.cast("double"))
    decoded.filter(col("media_type") =!= "audio")
      .withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
      .withColumn("resize_needed", scale < 1.0)
      .select("media_id", "media_type", "width", "height",
        "out_width", "out_height", "resize_needed")
  }

  /** Frame sampling for video rows: one timestamp every `everyMs`
    * milliseconds of (decoded) duration — the explode pattern that feeds a
    * per-frame feature extractor downstream.
    */
  def sampleFrames(decoded: DataFrame, everyMs: Long = 60000L): DataFrame =
    decoded.filter(col("media_type") === "video")
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))
      .select(col("media_id"), col("frame_ms"), col("width"), col("height"))

  /** Driver-registered frame-sample query: media → partition-local decode
    * (stub kernel) → per-video frame timestamps. Oracle-checked: the stub
    * kernel is sha-256-derived (see [[fakeDecode]]), so the twin rebuilds
    * duration/dims from the same payload bytes and explodes the same
    * frame grid.
    */
  def mediaFrames(spark: SparkSession, sfDir: String): DataFrame =
    sampleFrames(decode(mediaTable(spark, sfDir)))
      .orderBy(col("media_id").asc, col("frame_ms").asc)

  /** Feature extraction, partition-local (the same kernel slot as
    * [[decode]]): payloads that parse as UNCOMPRESSED 24/32-bit BMP or
    * as non-interlaced 8-bit PNG get REAL pixel features — per-channel
    * means + a luminance histogram, computed straight from the public
    * pixel layouts ([[bmpFeatures]]: bottom-up rows, BGR byte order,
    * 4-byte row padding; [[pngFeatures]]: zlib inflate + scanline
    * unfilter) — and audio payloads that parse as RIFF/WAVE 16-bit PCM
    * get REAL sample features (mean/rms/zero-cross/peak + amplitude
    * histogram, [[pcmFeatures]]) — no codec library needed for either.
    * Everything else (compressed codecs, headerless stand-ins) keeps the
    * deterministic hashed byte-chunk embedding, the clearly-marked stub
    * a real pipeline swaps for a model forward pass / native decode at
    * this same spot.
    *
    * Both paths emit `dim` doubles in [0,1] (stub strictly < 1),
    * ANN-able with [[Similarity]]'s operators.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(DoubleType, containsNull = false)))))
    media.select("media_id", "media_type", "content").mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](2)
        val fs = (r.getString(1) match {
          case "image" =>
            bmpFeatures(bytes, dim).orElse(pngFeatures(bytes, dim))
              .orElse(gifFeatures(bytes, dim))
              .orElse(jpegFeatures(bytes, dim))
          case "audio" => pcmFeatures(bytes, dim)
          case _ => None
        }).getOrElse(hashedFeatures(bytes, dim))
        Row(r.getLong(0), fs.toSeq)
      }
    }(enc)
  }

  /** The stub embedding: per-slot xxhash64 of the payload with slot index
    * as seed, folded onto [0, 1) — deterministic, content-sensitive,
    * cheap. Matches the pre-round-7 SQL-expr stub in spirit (not bits).
    */
  private def hashedFeatures(bytes: Array[Byte], dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, j.toLong)
      (((h % 1000L) + 1000L) % 1000L).toDouble / 1000.0
    }

  /** Structural validation + pixel-array layout for an uncompressed
    * 24/32-bit BITMAPINFOHEADER BMP — the shared prologue of
    * [[bmpFeatures]] and [[bmpPHash]]. Returns
    * (width, height, pixelOffset, bytesPerPixel, rowSize); None for
    * anything whose full pixel array is not verifiably present.
    */
  private def bmpLayout(
      bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int, Boolean)] = {
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte)
      return None
    if (le32(bytes, 14) != 40) return None // BITMAPINFOHEADER only
    val bpp = le16(bytes, 28)
    if (bpp != 24 && bpp != 32) return None
    if (le32(bytes, 30) != 0) return None // BI_RGB (uncompressed)
    val width = le32(bytes, 18)
    val rawHeight = le32(bytes, 22)
    val height = math.abs(rawHeight)
    // <= 0, not == 0: abs(Int.MinValue) stays negative, and a negative
    // height must take the stub path, not survive into the bounds math
    if (width <= 0 || height <= 0) return None
    val offset = le32(bytes, 10)
    // rowSize in Long BEFORE the int cast: a hostile width near 2^31
    // would otherwise wrap negative and defeat the bounds check below
    val rowSizeL = (bpp.toLong * width + 31) / 32 * 4
    if (rowSizeL <= 0 || rowSizeL > bytes.length) return None
    val rowSize = rowSizeL.toInt
    if (offset < 54 ||
      offset.toLong + rowSize.toLong * height > bytes.length) return None
    // negative height = top-down row order; positive (the standard
    // encoder default) = bottom-up, where image row y lives in file row
    // height-1-y — the flag matters to any ORDER-SENSITIVE consumer
    // (bmpPHash's spatial grid), not to the order-invariant features
    Some((width, height, offset, bpp / 8, rowSize, rawHeight < 0))
  }

  /** Real pixel features for an uncompressed BITMAPINFOHEADER BMP — the
    * one raster format whose pixel array is pure public math (no entropy
    * coding): rows stored bottom-up (top-down when height is negative —
    * irrelevant to these order-invariant features, but the row walk is
    * still bounds-checked), pixels BGR (BGRA at 32 bpp), each row padded
    * to a 4-byte boundary.
    *
    * Features: [meanR, meanG, meanB, meanLuma] / 256 followed by a
    * (dim-4)-bin luminance histogram (fractions of pixels;
    * luma = (299·R + 587·G + 114·B) / 1000, integer division). Returns
    * None — stub path — for anything that is not a structurally valid
    * uncompressed 24/32-bit BMP whose full pixel array is present.
    */
  private[ext] def bmpFeatures(
      bytes: Array[Byte], dim: Int): Option[Array[Double]] = {
    if (dim < 5) return None
    // features are pixel-order-invariant: the topDown flag is irrelevant
    val (width, height, offset, bytesPerPixel, rowSize, _) =
      bmpLayout(bytes).getOrElse(return None)
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var sumLuma = 0L
    val bins = dim - 4
    val hist = new Array[Long](bins)
    var y = 0
    while (y < height) {
      val rowStart = offset + y * rowSize
      var x = 0
      while (x < width) {
        val p = rowStart + x * bytesPerPixel
        val b = bytes(p) & 0xFF
        val g = bytes(p + 1) & 0xFF
        val r = bytes(p + 2) & 0xFF
        val luma = (299 * r + 587 * g + 114 * b) / 1000
        sumR += r; sumG += g; sumB += b; sumLuma += luma
        hist(luma * bins / 256) += 1
        x += 1
      }
      y += 1
    }
    val n = width.toLong * height
    Some(
      Array(sumR, sumG, sumB, sumLuma).map(_.toDouble / n / 256.0) ++
        hist.map(_.toDouble / n))
  }

  /** 64-bit PERCEPTUAL hash for an uncompressed BMP — the block-mean
    * hash (Yang/Gao/Niu, IIH-MSP'06 family; the blockhash.io scheme):
    * the image is divided into an 8×8 grid, bit (gy·8+gx) is set iff
    * that cell's mean luminance exceeds the global mean. Robust to
    * resizing/re-encode (means survive), sensitive to content; two
    * perceptually-near images differ in few bits, so banded Hamming
    * search ([[mediaNearDup]]) finds them without all-pairs.
    *
    * All integer math: per-cell luma sums (exact), the cell-vs-global
    * mean compare done by BigInt cross-multiplication (64 compares per
    * image — exactness is free), grid assignment `gx = x·8/width`. No
    * float anywhere ⇒ bit-identical on any engine/partitioning.
    */
  private[ext] def bmpPHash(bytes: Array[Byte]): Option[Long] =
    bmpLayout(bytes).map { case (width, height, offset, bpp, rowSize, topDown) =>
      rasterPHash(width, height, (x, y) => {
        // the grid is in IMAGE coordinates: standard (bottom-up) BMPs
        // store image row y in file row height-1-y — without the flip
        // the hash would describe the mirrored image and never match
        // the same content's PNG/GIF re-encode
        val fileRow = if (topDown) y else height - 1 - y
        val p = offset + fileRow * rowSize + x * bpp
        val b = bytes(p) & 0xFF
        val g = bytes(p + 1) & 0xFF
        val r = bytes(p + 2) & 0xFF
        (299 * r + 587 * g + 114 * b) / 1000
      })
    }

  /** The format-agnostic block-mean hash kernel (scaladoc above) over
    * any (x, y) → integer-luma raster accessor — shared by the BMP and
    * PNG decoders, so the SAME image content hashes identically across
    * container formats (spec-pinned: a BMP and a PNG of one pattern
    * collide at Hamming 0).
    */
  private def rasterPHash(
      width: Int, height: Int, luma: (Int, Int) => Int): Long = {
    val cellSum = new Array[Long](64)
    val cellCnt = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < height) {
      val gy = (y.toLong * 8 / height).toInt
      var x = 0
      while (x < width) {
        val l = luma(x, y)
        val cell = gy * 8 + (x.toLong * 8 / width).toInt
        cellSum(cell) += l
        cellCnt(cell) += 1
        total += l
        x += 1
      }
      y += 1
    }
    val nPix = width.toLong * height
    var hash = 0L
    var i = 0
    while (i < 64) {
      // cellMean > globalMean  ⇔  cellSum·nPix > total·cellCnt (exact)
      if (cellCnt(i) > 0 &&
        BigInt(cellSum(i)) * nPix > BigInt(total) * cellCnt(i))
        hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Decode a non-interlaced 8-bit PNG's pixel array — pure public math
    * (RFC 2083): zlib-inflate the concatenated IDAT payloads
    * (`java.util.zip.Inflater` — zlib is in the JVM, no codec library),
    * then reverse the per-scanline filters (None/Sub/Up/Average/Paeth)
    * over rows of `1 filter byte + width·channels` samples. Color types
    * 0 (gray), 2 (RGB), 4 (gray+alpha) and 6 (RGBA) are supported;
    * palette, 16-bit and Adam7-interlaced images return None (stub
    * path, never a guess). Returns (width, height, RGB triplets
    * row-major).
    */
  private[ext] def pngPixels(
      bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 33 || !bytes.take(8).sameElements(pngMagic))
      return None
    // chunk walk: collect IHDR fields + concatenated IDAT payloads
    var o = 8
    var w = 0; var h = 0; var bitDepth = -1; var colorType = -1
    var interlace = -1
    val idat = new java.io.ByteArrayOutputStream()
    while (o + 8 <= bytes.length) {
      val len = be32(bytes, o)
      if (len < 0 || o + 12L + len > bytes.length) return None
      val typ = new String(bytes, o + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(bytes, o + 8); h = be32(bytes, o + 12)
          bitDepth = bytes(o + 16) & 0xFF
          colorType = bytes(o + 17) & 0xFF
          interlace = bytes(o + 20) & 0xFF
        case "IDAT" => idat.write(bytes, o + 8, len)
        case "IEND" => o = bytes.length // stop the walk
        case _      => ()
      }
      if (o < bytes.length) o += 12 + len
    }
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
      case _ => return None // palette/unknown → stub path
    }
    if (w <= 0 || h <= 0 || bitDepth != 8 || interlace != 0) return None
    if (w.toLong * h > 67108864L) return None // 64 MP sanity bound
    // zlib inflate to exactly h rows of (1 + w·channels) bytes
    val stride = 1 + w * channels
    val rawLen = stride.toLong * h
    if (rawLen > Int.MaxValue - 8) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val got = try {
      var off = 0
      var n = 1
      while (off < raw.length && n > 0 && !inf.finished())
        { n = inf.inflate(raw, off, raw.length - off); off += n }
      off
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (got != raw.length) return None
    // reverse the scanline filters in place (bpp = channels at depth 8)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    var y = 0
    while (y < h) {
      val rs = y * stride
      val filter = raw(rs) & 0xFF
      if (filter > 4) return None
      var i = 1
      while (i < stride) {
        val cur = raw(rs + i) & 0xFF
        val left = if (i > channels) raw(rs + i - channels) & 0xFF else 0
        val up = if (y > 0) raw(rs - stride + i) & 0xFF else 0
        val ul =
          if (y > 0 && i > channels) raw(rs - stride + i - channels) & 0xFF
          else 0
        val rec = filter match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case _ => cur + paeth(left, up, ul)
        }
        raw(rs + i) = (rec & 0xFF).toByte
        i += 1
      }
      y += 1
    }
    // project every color type onto RGB triplets
    val rgb = new Array[Byte](w * h * 3)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val s = yy * stride + 1 + xx * channels
        val d = (yy * w + xx) * 3
        colorType match {
          case 0 | 4 =>
            rgb(d) = raw(s); rgb(d + 1) = raw(s); rgb(d + 2) = raw(s)
          case _ =>
            rgb(d) = raw(s); rgb(d + 1) = raw(s + 1); rgb(d + 2) = raw(s + 2)
        }
        xx += 1
      }
      yy += 1
    }
    Some((w, h, rgb))
  }

  /** 63-bit PERCEPTUAL fingerprint for RIFF/WAVE 16-bit PCM audio — the
    * energy-delta sign hash (the Haitsma–Kalker "robust audio
    * fingerprint" family, one band): samples split into 64 equal time
    * windows, per-window energy = Σs² (exact integer — s² ≤ 2³⁰,
    * window length < 2²⁵ keeps sums < 2⁵⁵), bit w set iff
    * energy(w) > energy(w+1). Sign-of-delta is VOLUME-INVARIANT
    * (uniform scaling preserves every comparison) and robust to small
    * local corruption (one damaged window moves ≤ 2 bits), so banded
    * Hamming search finds re-encoded/re-gained copies. None for
    * payloads that are not structurally valid 16-bit PCM or carry
    * fewer than 128 samples (too short for 64 meaningful windows).
    */
  private[ext] def pcmPHash(bytes: Array[Byte]): Option[Long] = {
    val layout = pcmDataSpan(bytes).getOrElse(return None)
    val (off, n) = layout
    if (n < 128) return None
    val energy = new Array[Long](64)
    var i = 0
    while (i < n) {
      val p = off + i * 2
      val s = ((bytes(p) & 0xFF) | (bytes(p + 1) << 8)).toShort.toLong
      energy(((i.toLong * 64) / n).toInt) += s * s
      i += 1
    }
    var hash = 0L
    var w = 0
    while (w < 63) {
      if (energy(w) > energy(w + 1)) hash |= 1L << w
      w += 1
    }
    Some(hash)
  }

  /** Structural 16-bit-PCM validation shared by [[pcmFeatures]] and
    * [[pcmPHash]]: returns (sample array byte offset, sample count).
    */
  private def pcmDataSpan(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 12 || bytes(0) != 'R' || bytes(1) != 'I' ||
      bytes(2) != 'F' || bytes(3) != 'F' || bytes(8) != 'W' ||
      bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    var o = 12
    var fmtOk = false
    var dataOff = -1L
    var dataBytes = -1L
    while (o + 8 <= bytes.length && (!fmtOk || dataOff < 0L)) {
      val id = new String(bytes, o, 4, "US-ASCII")
      val sz = le32(bytes, o + 4).toLong & 0xFFFFFFFFL
      if (id == "fmt ") {
        if (o + 8 + 16 > bytes.length) return None
        val audioFormat = le16(bytes, o + 8)
        val channels = le16(bytes, o + 10)
        val sampleRate = le32(bytes, o + 12)
        val bitsPerSample = le16(bytes, o + 22)
        if (audioFormat != 1 || channels <= 0 || sampleRate <= 0 ||
          bitsPerSample != 16) return None
        fmtOk = true
      } else if (id == "data") { dataOff = o + 8L; dataBytes = sz }
      val next = o.toLong + 8L + sz + (sz & 1L)
      if (next > (Int.MaxValue - 8).toLong) return None
      o = next.toInt
    }
    if (!fmtOk || dataOff < 0L || dataBytes < 2L ||
      (dataBytes & 1L) == 1L ||
      dataOff + dataBytes > bytes.length) return None
    Some((dataOff.toInt, (dataBytes / 2L).toInt))
  }

  /** Decode a GIF87a/89a's FIRST image frame — pure public math
    * (GIF spec + the original Welch LZW): logical screen descriptor →
    * global color table; skip extension blocks; image descriptor →
    * local color table override; then variable-width LZW decompression
    * of the sub-block-chained pixel data (code width grows 3..12 bits,
    * clear/EOI codes per spec), palette lookup to RGB, and Adam-less
    * 4-pass row remap when the interlace flag is set. None for
    * malformed/truncated payloads or frames that don't fill the
    * logical screen (animations' partial frames) — stub path, never a
    * guess.
    */
  private[ext] def gifPixels(
      bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 13 || bytes(0) != 'G' || bytes(1) != 'I' ||
      bytes(2) != 'F' || bytes(3) != '8' ||
      (bytes(4) != '7' && bytes(4) != '9') || bytes(5) != 'a') return None
    val sw = le16(bytes, 6); val sh = le16(bytes, 8)
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > 67108864L) return None
    val packed = bytes(10) & 0xFF
    var o = 13
    var palette: Array[Byte] = null
    if ((packed & 0x80) != 0) { // global color table
      val sz = 3 * (1 << ((packed & 7) + 1))
      if (o + sz > bytes.length) return None
      palette = java.util.Arrays.copyOfRange(bytes, o, o + sz)
      o += sz
    }
    // block walk to the first image descriptor
    while (o < bytes.length && (bytes(o) & 0xFF) == 0x21) { // extension
      o += 2 // introducer + label
      while (o < bytes.length && (bytes(o) & 0xFF) != 0) {
        o += 1 + (bytes(o) & 0xFF)
        if (o > bytes.length) return None
      }
      o += 1 // block terminator
    }
    if (o >= bytes.length || (bytes(o) & 0xFF) != 0x2C) return None
    if (o + 10 > bytes.length) return None
    val ix = le16(bytes, o + 1); val iy = le16(bytes, o + 3)
    val iw = le16(bytes, o + 5); val ih = le16(bytes, o + 7)
    val ipacked = bytes(o + 9) & 0xFF
    // only full-screen first frames (a partial frame needs a composited
    // background this decoder deliberately does not invent)
    if (ix != 0 || iy != 0 || iw != sw || ih != sh) return None
    val interlaced = (ipacked & 0x40) != 0
    o += 10
    if ((ipacked & 0x80) != 0) { // local color table wins
      val sz = 3 * (1 << ((ipacked & 7) + 1))
      if (o + sz > bytes.length) return None
      palette = java.util.Arrays.copyOfRange(bytes, o, o + sz)
      o += sz
    }
    if (palette == null || o >= bytes.length) return None
    val minCodeSize = bytes(o) & 0xFF
    if (minCodeSize < 2 || minCodeSize > 8) return None
    o += 1
    // concatenate the data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while (o < bytes.length && (bytes(o) & 0xFF) != 0) {
      val n = bytes(o) & 0xFF
      if (o + 1 + n > bytes.length) return None
      data.write(bytes, o + 1, n)
      o += 1 + n
    }
    val in = data.toByteArray
    // LZW decode (variable code width, dictionary of byte chains)
    val nPix = sw * sh
    val out = new Array[Byte](nPix)
    var outLen = 0
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val maxDict = 4096
    val prefix = new Array[Int](maxDict)
    val suffix = new Array[Byte](maxDict)
    val stack = new Array[Byte](maxDict)
    var dictSize = eoi + 1
    var codeSize = minCodeSize + 1
    // Long bit cursor: a hostile stream of >~268 MB of concatenated
    // sub-blocks (e.g. endless clear codes) would overflow an Int
    // `bitPos + codeSize + 7`, defeat the bounds check, and throw in
    // the executor instead of taking the documented stub path
    var bitPos = 0L
    var prev = -1
    def readCode(): Int = {
      if ((bitPos + codeSize + 7) / 8 > in.length) return -1
      var v = 0; var i = 0
      while (i < codeSize) {
        val bp = bitPos + i
        if ((in((bp >> 3).toInt) & (1 << (bp & 7).toInt)) != 0) v |= 1 << i
        i += 1
      }
      bitPos += codeSize
      v
    }
    def emit(code: Int): Boolean = { // expand a code onto the output
      var sp = 0
      var c = code
      while (c >= clear) { // walk the chain (root codes are < clear)
        if (sp >= maxDict || c >= dictSize) return false
        stack(sp) = suffix(c); sp += 1; c = prefix(c)
      }
      if (outLen + sp + 1 > nPix) return false
      out(outLen) = c.toByte; outLen += 1
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      true
    }
    def firstByteOf(code: Int): Byte = {
      var c = code
      while (c >= clear) c = prefix(c)
      c.toByte
    }
    var done = false
    while (!done && outLen < nPix) {
      val code = readCode()
      if (code < 0) return None
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (code == eoi) done = true
      else {
        if (prev < 0) {
          if (code >= clear) return None
          if (!emit(code)) return None
        } else {
          if (code < dictSize) {
            if (!emit(code)) return None
            if (dictSize < maxDict) {
              prefix(dictSize) = prev
              suffix(dictSize) = firstByteOf(code)
              dictSize += 1
            }
          } else if (code == dictSize && dictSize < maxDict) {
            // the KwKwK case: new entry = prev chain + its first byte
            prefix(dictSize) = prev
            suffix(dictSize) = firstByteOf(prev)
            dictSize += 1
            if (!emit(code)) return None
          } else return None
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    if (outLen != nPix) return None
    // palette lookup (+ interlace row remap) to RGB
    val rgb = new Array[Byte](nPix * 3)
    val rowOf: Int => Int =
      if (!interlaced) identity
      else {
        val order = new Array[Int](sh)
        var r = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
             y <- start until sh by step) { order(r) = y; r += 1 }
        val inv = new Array[Int](sh)
        for (i <- 0 until sh) inv(order(i)) = i
        y => inv(y)
      }
    var y = 0
    while (y < sh) {
      val srcRow = rowOf(y)
      var x = 0
      while (x < sw) {
        val idx = (out(srcRow * sw + x) & 0xFF) * 3
        if (idx + 2 >= palette.length) return None
        val d = (y * sw + x) * 3
        rgb(d) = palette(idx); rgb(d + 1) = palette(idx + 1)
        rgb(d + 2) = palette(idx + 2)
        x += 1
      }
      y += 1
    }
    Some((sw, sh, rgb))
  }

  /** [[bmpPHash]] for GIF payloads — block-mean kernel over the
    * LZW-decoded, palette-resolved pixels.
    */
  private[ext] def gifPHash(bytes: Array[Byte]): Option[Long] =
    gifPixels(bytes).map { case (w, h, rgb) =>
      rasterPHash(w, h, (x, y) => {
        val p = (y * w + x) * 3
        (299 * (rgb(p) & 0xFF) + 587 * (rgb(p + 1) & 0xFF) +
          114 * (rgb(p + 2) & 0xFF)) / 1000
      })
    }

  /** [[bmpPHash]] for PNG payloads — the same block-mean kernel over the
    * inflated, unfiltered pixel array.
    */
  private[ext] def pngPHash(bytes: Array[Byte]): Option[Long] =
    pngPixels(bytes).map { case (w, h, rgb) =>
      rasterPHash(w, h, (x, y) => {
        val p = (y * w + x) * 3
        (299 * (rgb(p) & 0xFF) + 587 * (rgb(p + 1) & 0xFF) +
          114 * (rgb(p + 2) & 0xFF)) / 1000
      })
    }

  /** Deliberate bail out of the JPEG entropy decoder — malformed or
    * unsupported streams surface as this single caught control exception
    * and become None (the stub path), never an executor throw.
    */
  private object JpegBail extends scala.util.control.ControlThrowable

  /** Canonical Huffman table per ITU-T T.81 §F.2.2.3 (the public
    * MINCODE/MAXCODE/VALPTR decode): `counts(l)` codes of length l+1,
    * values in code order.
    */
  private final class JpegHuff(counts: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (counts(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += counts(l - 1); k += counts(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: JpegBits): Int = {
      var code = br.bit()
      var l = 1
      while (maxCode(l) < code) {
        code = (code << 1) | br.bit()
        l += 1
        if (l > 16) throw JpegBail
      }
      val idx = valPtr(l) + code - minCode(l)
      if (idx < 0 || idx >= vals.length) throw JpegBail
      vals(idx)
    }
  }

  /** Entropy-coded-segment bit reader (T.81 §F.2.2.5): 0xFF 0x00 byte
    * stuffing unstuffed; any other marker mid-read is a bail; Long bit
    * budget (the GIF cursor lesson). `syncRst` realigns to a byte
    * boundary and consumes an expected RSTn marker.
    */
  private final class JpegBits(bytes: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= bytes.length) throw JpegBail
        var b = bytes(pos) & 0xFF; pos += 1
        if (b == 0xFF) {
          if (pos >= bytes.length) throw JpegBail
          val m = bytes(pos) & 0xFF
          if (m == 0x00) pos += 1 // stuffed data 0xFF
          else throw JpegBail     // real marker inside coded data
        }
        cur = b; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def syncRst(n: Int): Unit = {
      nbits = 0 // discard partial byte
      if (pos + 2 > bytes.length || (bytes(pos) & 0xFF) != 0xFF ||
        (bytes(pos + 1) & 0xFF) != (0xD0 + n)) throw JpegBail
      pos += 2
    }
  }

  /** T.81 §F.2.2.1 EXTEND: map a `receive`d magnitude-category value to
    * its signed coefficient.
    */
  private def jpegExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Zig-zag index → natural (row-major) index, T.81 Figure A.6. */
  private val jpegZigzag: Array[Int] = {
    val z = new Array[Int](64)
    var i = 0; var x = 0; var y = 0; var up = true
    while (i < 64) {
      z(i) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      i += 1
    }
    z
  }

  /** cos((2i+1)·j·π/16) · C(j) table for the reference IDCT. */
  private val jpegCos: Array[Array[Double]] = Array.tabulate(8, 8) { (i, j) =>
    val c = if (j == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * math.cos((2 * i + 1) * j * math.Pi / 16.0)
  }

  /** The reference separable IDCT of T.81 §A.3.3 over one dequantized
    * natural-order 8×8 block, level-shifted +128 and clamped into
    * `plane` at (x0, y0) with row stride `pw`. `tmp` is caller-owned
    * 64-slot scratch (hot loop — no per-block allocation). Shared by the
    * sequential scan decoder and the progressive finish pass.
    */
  private def jpegIdct(
      coef: Array[Int], tmp: Array[Double],
      plane: Array[Byte], pw: Int, x0: Int, y0: Int): Unit = {
    // rows then columns (separable)
    var i = 0
    while (i < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          acc += jpegCos(x)(u) * coef(i * 8 + u); u += 1
        }
        tmp(i * 8 + x) = acc / 2.0
        x += 1
      }
      i += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var v = 0
        while (v < 8) { acc += jpegCos(y)(v) * tmp(v * 8 + x); v += 1 }
        val px = (math.round(acc / 2.0) + 128).toInt
        plane((y0 + y) * pw + x0 + x) =
          (if (px < 0) 0 else if (px > 255) 255 else px).toByte
        x += 1
      }
      y += 1
    }
  }

  /** Decoded scan state: per-component sample planes at their padded
    * MCU-grid strides, plus the sampling geometry needed to assemble
    * either the luma plane or full-resolution RGB.
    */
  private final case class JpegPlanes(
      w: Int, h: Int, planes: Array[Array[Byte]], padW: Array[Int],
      cH: Array[Int], cV: Array[Int], hMax: Int, vMax: Int)

  /** Decode the LUMA (Y) plane of a Huffman-coded JPEG — pure public
    * ITU-T T.81 math in the JVM (marker walk per §B, canonical Huffman
    * per §F.2.2, byte unstuffing, restart-interval resync, the
    * reference separable IDCT of §A.3.3), the zlib/LZW precedent
    * extended to the dominant web image format. Only the Y component is
    * dequantized + inverse-transformed: the block-mean hash needs luma
    * alone, and JPEG's Y IS BT.601 luma — the same 299/587/114 weights
    * [[rasterPHash]] computes from RGB — so a JPEG re-encode hashes
    * within a few bits of its BMP/PNG source. In a sequential frame the
    * chroma blocks are still entropy-decoded (the bitstream interleaves
    * them) and dropped; in a progressive frame chroma-only scans are
    * byte-SKIPPED outright (scans are independent given the coefficient
    * state — the luma path never pays for chroma refinement passes).
    *
    * SOF0/SOF1 (Huffman sequential) and SOF2 (Huffman progressive —
    * spectral selection + successive approximation per §G, see
    * [[jpegProgScan]]) are accepted; arithmetic-coded, hierarchical,
    * lossless, 12-bit, >4-component and malformed streams return None —
    * the documented stub path, never a guess. Returns (width, height,
    * row-major Y samples) at the Y component's own sampling resolution
    * ([[rasterPHash]] is resolution-invariant, so subsampled luma hashes
    * identically).
    */
  private[ext] def jpegLuma(
      bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    jpegParse(bytes, lumaOnly = true).map { d =>
      val lumaW = (d.w * d.cH(0) + d.hMax - 1) / d.hMax
      val lumaH = (d.h * d.cV(0) + d.vMax - 1) / d.vMax
      val out = new Array[Byte](lumaW * lumaH)
      var y = 0
      while (y < lumaH) {
        System.arraycopy(d.planes(0), y * d.padW(0), out, y * lumaW, lumaW)
        y += 1
      }
      (lumaW, lumaH, out)
    }

  /** FULL-pixel decode of a Huffman JPEG (sequential or progressive) —
    * every component inverse-transformed, chroma nearest-neighbor-upsampled to the frame
    * grid, JFIF YCbCr→RGB (the public BT.601 full-range matrix) for
    * 3-component scans and grayscale replication for 1-component; 2/4-
    * component (CMYK etc.) return None. Returns (width, height, RGB
    * triplets row-major) — the same contract as [[pngPixels]]/
    * [[gifPixels]], so [[rgbFeatures]] works unchanged.
    */
  private[ext] def jpegPixels(
      bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    jpegParse(bytes, lumaOnly = false).flatMap { d =>
      if (d.planes.length != 1 && d.planes.length != 3) return None
      val rgb = new Array[Byte](d.w * d.h * 3)
      def sample(c: Int, x: Int, y: Int): Int = {
        val sx = x * d.cH(c) / d.hMax
        val sy = y * d.cV(c) / d.vMax
        d.planes(c)(sy * d.padW(c) + sx) & 0xFF
      }
      def clamp(v: Double): Byte = {
        val r = math.round(v).toInt
        (if (r < 0) 0 else if (r > 255) 255 else r).toByte
      }
      var y = 0
      while (y < d.h) {
        var x = 0
        while (x < d.w) {
          val p = (y * d.w + x) * 3
          if (d.planes.length == 1) {
            val g = sample(0, x, y).toByte
            rgb(p) = g; rgb(p + 1) = g; rgb(p + 2) = g
          } else {
            val yy = sample(0, x, y)
            val cb = sample(1, x, y) - 128
            val cr = sample(2, x, y) - 128
            rgb(p) = clamp(yy + 1.402 * cr)
            rgb(p + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
            rgb(p + 2) = clamp(yy + 1.772 * cb)
          }
          x += 1
        }
        y += 1
      }
      Some((d.w, d.h, rgb))
    }

  /** [[bmpFeatures]] for JPEG payloads — channel means + luma
    * histogram over the fully decoded pixels.
    */
  private[ext] def jpegFeatures(
      bytes: Array[Byte], dim: Int): Option[Array[Double]] =
    if (dim < 5) None
    else jpegPixels(bytes).map { case (w, h, rgb) => rgbFeatures(w, h, rgb, dim) }

  /** The shared T.81 marker walk behind [[jpegLuma]]/[[jpegPixels]]
    * (scaladoc above).
    */
  private def jpegParse(
      bytes: Array[Byte], lumaOnly: Boolean): Option[JpegPlanes] = {
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF ||
      (bytes(1) & 0xFF) != 0xD8) return None
    try {
      val qt = Array.ofDim[Int](4, 64)
      val huffDc = new Array[JpegHuff](4)
      val huffAc = new Array[JpegHuff](4)
      var restart = 0
      var adobeTransform = -1 // APP14 color-transform flag, -1 = absent
      var w = 0; var h = 0; var nComp = 0
      // per SOF component: id, hSamp, vSamp, quant-table id
      var cId: Array[Int] = null; var cH: Array[Int] = null
      var cV: Array[Int] = null; var cQ: Array[Int] = null
      // progressive (SOF2) state: per-component quantized-coefficient
      // grids in zigzag order, accumulated across the frame's scans
      // (T.81 §G.1), IDCT'd only at EOI
      var progressive = false
      var progCoefs: Array[Array[Int]] = null
      var progScans = 0
      var hMax = 1; var vMax = 1
      // position override after a progressive scan's entropy bytes (the
      // walk otherwise advances by segment length)
      var oProg = -1
      var o = 2
      // 2-byte bound: EOI can be the last two bytes of the stream (a
      // progressive frame finishes exactly there); payload-bearing
      // markers re-check their own length bytes below
      while (o + 2 <= bytes.length) {
        if ((bytes(o) & 0xFF) != 0xFF) throw JpegBail
        var m = bytes(o + 1) & 0xFF
        o += 2
        while (m == 0xFF && o < bytes.length) { // fill bytes
          m = bytes(o) & 0xFF; o += 1
        }
        if (m == 0xD9) {
          // EOI: a progressive frame finishes HERE — dequant + IDCT the
          // accumulated coefficients (any earlier EOI means no scan data)
          return if (progressive && progScans > 0)
            Some(jpegProgFinish(w, h, nComp, cH, cV, cQ, qt, hMax, vMax,
              progCoefs, lumaOnly))
          else None
        }
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
          // standalone marker, no payload
        } else {
          if (o + 2 > bytes.length) throw JpegBail
          val len = ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
          if (len < 2 || o + len > bytes.length) throw JpegBail
          val seg = o + 2
          val segEnd = o + len
          m match {
            case 0xC0 | 0xC1 | 0xC2 => // Huffman sequential / progressive
              // T.81 allows ONE frame per image: a second SOF after
              // progressive scans have decoded is malformed — without
              // this bail the handler below would zero progCoefs while
              // progScans stayed > 0, and EOI would return all-gray
              // planes instead of the documented None stub (ADVICE r11)
              if (progScans > 0) return None
              progressive = m == 0xC2
              if (segEnd - seg < 6) throw JpegBail
              if ((bytes(seg) & 0xFF) != 8) return None // 12-bit → stub
              h = ((bytes(seg + 1) & 0xFF) << 8) | (bytes(seg + 2) & 0xFF)
              w = ((bytes(seg + 3) & 0xFF) << 8) | (bytes(seg + 4) & 0xFF)
              nComp = bytes(seg + 5) & 0xFF
              if (w <= 0 || h <= 0 || nComp < 1 || nComp > 4) return None
              if (w.toLong * h > 67108864L) return None // 64 MP bound
              if (segEnd - seg < 6 + 3 * nComp) throw JpegBail
              cId = new Array[Int](nComp); cH = new Array[Int](nComp)
              cV = new Array[Int](nComp); cQ = new Array[Int](nComp)
              var c = 0
              while (c < nComp) {
                cId(c) = bytes(seg + 6 + 3 * c) & 0xFF
                val hv = bytes(seg + 7 + 3 * c) & 0xFF
                cH(c) = hv >> 4; cV(c) = hv & 15
                cQ(c) = bytes(seg + 8 + 3 * c) & 0xFF
                if (cH(c) < 1 || cH(c) > 4 || cV(c) < 1 || cV(c) > 4 ||
                  cQ(c) > 3) return None
                c += 1
              }
              hMax = 1; vMax = 1
              c = 0
              while (c < nComp) {
                hMax = math.max(hMax, cH(c)); vMax = math.max(vMax, cV(c))
                c += 1
              }
              if (progressive) {
                // coefficient grids on the padded MCU block grid; Int
                // per coefficient — cap the total like the plane cap
                // (a 64 MP progressive luma alone would be 256 MB).
                // Under lumaOnly, chroma grids are never read (chroma AC
                // scans are byte-skipped; interleaved-DC chroma bits are
                // consumed but their values dropped), so only the luma
                // grid is allocated — or charged against the cap
                val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
                val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
                val nGrids = if (lumaOnly) 1 else nComp
                var total = 0L
                c = 0
                while (c < nGrids) {
                  total += (mcusX * cH(c)).toLong * (mcusY * cV(c)) * 64 * 4
                  c += 1
                }
                if (total > 256L * 1024 * 1024) return None
                progCoefs = Array.tabulate(nComp)(c =>
                  if (c < nGrids)
                    new Array[Int](mcusX * cH(c) * mcusY * cV(c) * 64)
                  else null)
              }
            case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
                0xCD | 0xCE | 0xCF =>
              return None // lossless/arithmetic/hierarchical → stub path
            case 0xC4 => // DHT, possibly several tables per segment
              var p = seg
              while (p < segEnd) {
                if (p + 17 > segEnd) throw JpegBail
                val tcth = bytes(p) & 0xFF
                val tc = tcth >> 4; val th = tcth & 15
                if (tc > 1 || th > 3) throw JpegBail
                val counts = new Array[Int](16)
                var n = 0; var i = 0
                while (i < 16) {
                  counts(i) = bytes(p + 1 + i) & 0xFF; n += counts(i); i += 1
                }
                if (n > 256 || p + 17 + n > segEnd) throw JpegBail
                val vals = new Array[Int](n)
                i = 0
                while (i < n) { vals(i) = bytes(p + 17 + i) & 0xFF; i += 1 }
                val tab = new JpegHuff(counts, vals)
                if (tc == 0) huffDc(th) = tab else huffAc(th) = tab
                p += 17 + n
              }
            case 0xDB => // DQT, 8- or 16-bit precision, several per seg
              var p = seg
              while (p < segEnd) {
                val pqtq = bytes(p) & 0xFF
                val pq = pqtq >> 4; val tq = pqtq & 15
                if (pq > 1 || tq > 3) throw JpegBail
                val step = if (pq == 0) 1 else 2
                if (p + 1 + 64 * step > segEnd) throw JpegBail
                var i = 0
                while (i < 64) {
                  qt(tq)(i) =
                    if (pq == 0) bytes(p + 1 + i) & 0xFF
                    else ((bytes(p + 1 + 2 * i) & 0xFF) << 8) |
                      (bytes(p + 2 + 2 * i) & 0xFF)
                  i += 1
                }
                p += 1 + 64 * step
              }
            case 0xDD =>
              if (segEnd - seg < 2) throw JpegBail
              restart = ((bytes(seg) & 0xFF) << 8) | (bytes(seg + 1) & 0xFF)
            case 0xEE => // Adobe APP14: last byte is the color transform
              if (segEnd - seg >= 12 && bytes(seg) == 'A' &&
                bytes(seg + 1) == 'd' && bytes(seg + 2) == 'o' &&
                bytes(seg + 3) == 'b' && bytes(seg + 4) == 'e')
                // transform lives at the FIXED spec offset (tag 5 +
                // version 2 + flags0 2 + flags1 2), not the segment's
                // last byte — a padded APP14 must not misread padding
                adobeTransform = bytes(seg + 11) & 0xFF
            case 0xDA => // SOS
              if (cId == null) throw JpegBail
              // a len==2 SOS leaves seg == segEnd: bound BEFORE the ns
              // read, matching the DHT/DQT/DRI/SOF discipline (the
              // malformed-bytes contract is None, never an executor throw)
              if (segEnd - seg < 1) throw JpegBail
              // RGB-coded 3-component scans (Adobe APP14 transform=0, or
              // component ids 'R','G','B') would take the JFIF YCbCr→RGB
              // matrix wrongly — detect and take the stub path instead
              if (nComp == 3 && (adobeTransform == 0 ||
                (cId(0) == 'R' && cId(1) == 'G' && cId(2) == 'B')))
                return None
              val ns = bytes(seg) & 0xFF
              if (progressive) {
                // one of the frame's MANY scans (T.81 §G): spectral
                // selection [Ss, Se] at successive-approximation bit Al
                if (ns < 1 || ns > nComp ||
                  segEnd - seg < 1 + 2 * ns + 3) throw JpegBail
                val scanIdx = new Array[Int](ns)
                val dcTab = new Array[JpegHuff](ns)
                val acTab = new Array[JpegHuff](ns)
                var s = 0
                while (s < ns) {
                  val cs = bytes(seg + 1 + 2 * s) & 0xFF
                  val tdta = bytes(seg + 2 + 2 * s) & 0xFF
                  val idx = cId.indexOf(cs)
                  if (idx < 0) throw JpegBail
                  scanIdx(s) = idx
                  // T.81 B.2.3: Td/Ta select among tables 0-3 — a hostile
                  // nibble past 3 must bail, not index out of bounds
                  // (found by the MultimodalSpec scan-walker fuzzer)
                  if ((tdta >> 4) > 3 || (tdta & 15) > 3) throw JpegBail
                  dcTab(s) = huffDc(tdta >> 4)
                  acTab(s) = huffAc(tdta & 15)
                  s += 1
                }
                val ss = bytes(seg + 1 + 2 * ns) & 0xFF
                val se = bytes(seg + 2 + 2 * ns) & 0xFF
                val ahal = bytes(seg + 3 + 2 * ns) & 0xFF
                val ah = ahal >> 4; val al = ahal & 15
                // §G.1 scan constraints: DC scans cover exactly [0, 0]
                // (and may interleave); AC scans cover [Ss≥1, Se≤63] of
                // ONE component; Al ≤ 13 bounds the shifted magnitudes
                if (ss == 0) { if (se != 0) throw JpegBail }
                else if (ns != 1 || se < ss || se > 63) throw JpegBail
                if (ah > 13 || al > 13) throw JpegBail
                // tables are load-bearing only where the scan reads
                // codes: DC-first needs its DC table, AC scans their AC
                // table; refinement-DC reads raw bits only
                s = 0
                while (s < ns) {
                  if (ss == 0 && ah == 0 && dcTab(s) == null) throw JpegBail
                  if (ss > 0 && acTab(s) == null) throw JpegBail
                  s += 1
                }
                progScans += 1
                // a scan that cannot touch the luma coefficients is
                // byte-skipped entirely under lumaOnly (no entropy
                // decode — scans are independent given the coef state)
                val afterScan =
                  if (lumaOnly && !scanIdx.contains(0)) segEnd
                  else jpegProgScan(bytes, segEnd, w, h, cH, cV, hMax,
                    vMax, progCoefs, scanIdx, dcTab, acTab, ss, se, ah,
                    al, restart)
                // realign the marker walk to the next true marker after
                // the scan's entropy bytes (stuffed FF00s and stray RSTn
                // are data, not structure)
                var p = afterScan
                var found = -1
                while (found < 0 && p + 1 < bytes.length) {
                  if ((bytes(p) & 0xFF) != 0xFF) p += 1
                  else {
                    val m2 = bytes(p + 1) & 0xFF
                    if (m2 == 0x00 || (m2 >= 0xD0 && m2 <= 0xD7)) p += 2
                    else found = p
                  }
                }
                if (found < 0) throw JpegBail
                oProg = found
              } else {
                if (ns != nComp || segEnd - seg < 1 + 2 * ns + 3)
                  return None // multi-scan sequential → stub path
                // scan component order must map onto SOF components
                val scanIdx = new Array[Int](ns)
                val dcTab = new Array[JpegHuff](ns)
                val acTab = new Array[JpegHuff](ns)
                var s = 0
                while (s < ns) {
                  val cs = bytes(seg + 1 + 2 * s) & 0xFF
                  val tdta = bytes(seg + 2 + 2 * s) & 0xFF
                  val idx = cId.indexOf(cs)
                  if (idx < 0) throw JpegBail
                  scanIdx(s) = idx
                  // same Td/Ta ≤ 3 bound as the progressive reader
                  if ((tdta >> 4) > 3 || (tdta & 15) > 3) throw JpegBail
                  dcTab(s) = huffDc(tdta >> 4)
                  acTab(s) = huffAc(tdta & 15)
                  if (dcTab(s) == null || acTab(s) == null) throw JpegBail
                  s += 1
                }
                return jpegDecodeScan(bytes, segEnd, w, h, scanIdx, cH, cV,
                  cQ, qt, dcTab, acTab, restart, lumaOnly)
              }
            case _ => () // APPn / COM / unknown: skip by length
          }
          o = if (oProg >= 0) { val t = oProg; oProg = -1; t } else segEnd
        }
      }
      None // ran off the end without a scan
    } catch { case JpegBail => None }
  }

  /** The entropy-coded scan of [[jpegParse]]: interleaved MCU walk
    * (T.81 §A.2.3), Huffman DC-diff + AC run-length block decode
    * (§F.2.2), dequant + reference IDCT into per-component planes — for
    * the FIRST (luma) component only when `lumaOnly` (chroma still
    * entropy-decoded to keep the bitstream in sync), for every
    * component otherwise. Throws [[JpegBail]] on any malformation
    * ([[jpegParse]] catches).
    */
  private def jpegDecodeScan(
      bytes: Array[Byte], scanStart: Int, w: Int, h: Int,
      scanIdx: Array[Int], cHs: Array[Int], cVs: Array[Int], cQ: Array[Int],
      qt: Array[Array[Int]], dcTab: Array[JpegHuff], acTab: Array[JpegHuff],
      restart: Int, lumaOnly: Boolean): Option[JpegPlanes] = {
    val ns = scanIdx.length
    // per-scan-component sampling, in scan order
    val cH = scanIdx.map(cHs)
    val cV = scanIdx.map(cVs)
    var hMax = 1; var vMax = 1
    var s = 0
    while (s < ns) {
      hMax = math.max(hMax, cH(s)); vMax = math.max(vMax, cV(s))
      s += 1
    }
    var blocksPerMcu = 0
    s = 0
    while (s < ns) { blocksPerMcu += cH(s) * cV(s); s += 1 }
    if (blocksPerMcu > 10) throw JpegBail // T.81 B.2.3 bound
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val decodeComps = if (lumaOnly) 1 else ns
    val padW = new Array[Int](ns)
    val planes = new Array[Array[Byte]](ns)
    var totalBytes = 0L
    s = 0
    while (s < ns) {
      padW(s) = mcusX * cH(s) * 8
      val padH = mcusY * cV(s) * 8
      totalBytes += padW(s).toLong * padH
      if (totalBytes > 256L * 1024 * 1024) throw JpegBail
      if (s < decodeComps) planes(s) = new Array[Byte](padW(s) * padH)
      s += 1
    }
    val br = new JpegBits(bytes, scanStart)
    val dcPred = new Array[Int](ns)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restart > 0 && mcu > 0 && mcu % restart == 0) {
        br.syncRst((mcu / restart - 1) % 8)
        java.util.Arrays.fill(dcPred, 0)
      }
      s = 0
      while (s < ns) {
        val qtab = qt(cQ(scanIdx(s)))
        var by = 0
        while (by < cV(s)) {
          var bx = 0
          while (bx < cH(s)) {
            // ---- one 8×8 block (T.81 F.2.2) ----
            java.util.Arrays.fill(coef, 0)
            val t = dcTab(s).decode(br)
            if (t > 15) throw JpegBail
            dcPred(s) += jpegExtend(br.receive(t), t)
            coef(0) = dcPred(s) * qtab(0)
            var k = 1
            while (k < 64) {
              val rs = acTab(s).decode(br)
              val r = rs >> 4; val size = rs & 15
              if (size == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64          // EOB
              } else {
                k += r
                if (k > 63) throw JpegBail
                coef(jpegZigzag(k)) = jpegExtend(br.receive(size), size) *
                  qtab(k)
                k += 1
              }
            }
            if (s < decodeComps) {
              // dequantized block → reference IDCT → component plane
              jpegIdct(coef, tmp, planes(s), padW(s),
                ((mcu % mcusX) * cH(s) + bx) * 8,
                ((mcu / mcusX) * cV(s) + by) * 8)
            }
            bx += 1
          }
          by += 1
        }
        s += 1
      }
      mcu += 1
    }
    Some(JpegPlanes(w, h, planes.take(decodeComps), padW, cH, cV, hMax, vMax))
  }

  /** One PROGRESSIVE scan (T.81 §G.1.2): updates the per-component
    * zigzag-order quantized-coefficient grids in place and returns the
    * byte position after the scan's entropy-coded segment. Four scan
    * kinds: DC first (Huffman diff, shifted left Al), DC refinement (one
    * raw bit per block), AC first (EOB-run-coded spectral band §G.1.2.2),
    * AC refinement (correction bits + ±1«Al insertions, §G.1.2.3).
    * Interleaved scans (ns>1, DC only) walk MCUs; single-component scans
    * walk the component's OWN block raster (§A.2.2, ceil(compW/8) wide —
    * the padded MCU grid is only the storage stride). Restart intervals
    * resync the bit reader and reset DC predictors and the EOB run.
    * Throws [[JpegBail]] on any malformation ([[jpegParse]] catches).
    */
  private def jpegProgScan(
      bytes: Array[Byte], start: Int, w: Int, h: Int,
      cHs: Array[Int], cVs: Array[Int], hMax: Int, vMax: Int,
      coefs: Array[Array[Int]], scanIdx: Array[Int],
      dcTab: Array[JpegHuff], acTab: Array[JpegHuff],
      ss: Int, se: Int, ah: Int, al: Int, restart: Int): Int = {
    val br = new JpegBits(bytes, start)
    val ns = scanIdx.length
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val dcPred = new Array[Int](ns)
    var eobrun = 0
    var rst = 0
    def resync(): Unit = {
      br.syncRst(rst % 8); rst += 1
      java.util.Arrays.fill(dcPred, 0); eobrun = 0
    }
    // ---- per-block kernels over one zigzag-order 64-coef window ----
    // cf == null: an unallocated (lumaOnly-dropped chroma) grid — the
    // bits must still be CONSUMED to keep the stream in sync, only the
    // coefficient store is skipped
    def dcBlock(s: Int, cf: Array[Int], base: Int): Unit =
      if (ah == 0) {
        val t = dcTab(s).decode(br)
        if (t > 15) throw JpegBail
        dcPred(s) += jpegExtend(br.receive(t), t)
        if (cf != null) cf(base) = dcPred(s) << al
      } else if (br.bit() == 1 && cf != null) cf(base) |= (1 << al)
    def acFirst(s: Int, cf: Array[Int], base: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      var k = ss
      while (k <= se) {
        val rs = acTab(s).decode(br)
        val r = rs >> 4; val sz = rs & 15
        if (sz == 0) {
          if (r == 15) k += 16 // ZRL: 16 zero coefficients
          else {
            eobrun = (1 << r) - 1 // EOBn: this block + 2^r-1+ext more
            if (r > 0) eobrun += br.receive(r)
            k = 64
          }
        } else {
          k += r
          if (k > se) throw JpegBail
          cf(base + k) = jpegExtend(br.receive(sz), sz) << al
          k += 1
        }
      }
    }
    def acRefine(s: Int, cf: Array[Int], base: Int): Unit = {
      val p1 = 1 << al; val m1 = -1 << al
      def correct(z: Int): Unit =
        if (br.bit() == 1 && (cf(z) & p1) == 0)
          cf(z) += (if (cf(z) >= 0) p1 else m1)
      var k = ss
      if (eobrun == 0) {
        var done = false
        while (!done && k <= se) {
          val rs = acTab(s).decode(br)
          var r = rs >> 4; val sz = rs & 15
          var insert = 0
          if (sz == 0) {
            if (r < 15) { // EOBn begins; the tail below corrects to Se
              eobrun = 1 << r
              if (r > 0) eobrun += br.receive(r)
              done = true
            }
            // r == 15: a run of 16 zero-HISTORY coefficients
          } else {
            if (sz != 1) throw JpegBail // §G.1.2.3: refinement codes ±1
            insert = if (br.bit() == 1) p1 else m1
          }
          if (!done) {
            // advance over r zero-history slots, emitting correction
            // bits for every nonzero-history coefficient passed over
            var placed = false
            while (!placed && k <= se) {
              val z = base + k
              if (cf(z) != 0) correct(z)
              else if (r == 0) {
                if (insert != 0) cf(z) = insert
                placed = true
              } else r -= 1
              k += 1
            }
            if (!placed && insert != 0) throw JpegBail // ran off the band
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val z = base + k
          if (cf(z) != 0) correct(z)
          k += 1
        }
        eobrun -= 1
      }
    }
    if (ns > 1) {
      // interleaved DC scan: MCU walk (ss==0 enforced by the caller)
      var blocksPerMcu = 0
      var s = 0
      while (s < ns) {
        blocksPerMcu += cHs(scanIdx(s)) * cVs(scanIdx(s)); s += 1
      }
      if (blocksPerMcu > 10) throw JpegBail // T.81 B.2.3 bound
      var mcu = 0
      val nMcus = mcusX * mcusY
      while (mcu < nMcus) {
        if (restart > 0 && mcu > 0 && mcu % restart == 0) resync()
        s = 0
        while (s < ns) {
          val c = scanIdx(s)
          val cf = coefs(c)
          val bw = mcusX * cHs(c)
          var by = 0
          while (by < cVs(c)) {
            var bx = 0
            while (bx < cHs(c)) {
              val row = (mcu / mcusX) * cVs(c) + by
              val colI = (mcu % mcusX) * cHs(c) + bx
              dcBlock(s, cf, (row * bw + colI) * 64)
              bx += 1
            }
            by += 1
          }
          s += 1
        }
        mcu += 1
      }
    } else {
      // single-component scan over the component's real block raster
      val c = scanIdx(0)
      val cf = coefs(c)
      val bw = mcusX * cHs(c) // storage stride in blocks
      val compW = (w * cHs(c) + hMax - 1) / hMax
      val compH = (h * cVs(c) + vMax - 1) / vMax
      val nbx = (compW + 7) / 8
      val nby = (compH + 7) / 8
      var i = 0
      val total = nbx * nby
      while (i < total) {
        if (restart > 0 && i > 0 && i % restart == 0) resync()
        val base = ((i / nbx) * bw + (i % nbx)) * 64
        if (ss == 0) dcBlock(0, cf, base)
        else if (ah == 0) acFirst(0, cf, base)
        else acRefine(0, cf, base)
        i += 1
      }
    }
    br.pos
  }

  /** Progressive finish (at EOI): dequantize the accumulated zigzag
    * coefficient grids and IDCT every stored block into per-component
    * sample planes — the same [[JpegPlanes]] contract as
    * [[jpegDecodeScan]], so [[jpegLuma]]/[[jpegPixels]] serve both
    * coding processes identically. Components are in SOF order (a
    * progressive frame's scans may order components freely; the frame
    * header order is the stable one).
    */
  private def jpegProgFinish(
      w: Int, h: Int, nComp: Int, cH: Array[Int], cV: Array[Int],
      cQ: Array[Int], qt: Array[Array[Int]], hMax: Int, vMax: Int,
      coefs: Array[Array[Int]], lumaOnly: Boolean): JpegPlanes = {
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val decodeComps = if (lumaOnly) 1 else nComp
    val padW = Array.tabulate(nComp)(c => mcusX * cH(c) * 8)
    val planes = new Array[Array[Byte]](decodeComps)
    val nat = new Array[Int](64)
    val tmp = new Array[Double](64)
    var c = 0
    while (c < decodeComps) {
      val bw = mcusX * cH(c)
      val bh = mcusY * cV(c)
      val plane = new Array[Byte](padW(c) * bh * 8)
      val qtab = qt(cQ(c))
      val cf = coefs(c)
      var b = 0
      val total = bw * bh
      while (b < total) {
        val base = b * 64
        var k = 0
        while (k < 64) {
          nat(jpegZigzag(k)) = cf(base + k) * qtab(k); k += 1
        }
        jpegIdct(nat, tmp, plane, padW(c), (b % bw) * 8, (b / bw) * 8)
        b += 1
      }
      planes(c) = plane
      c += 1
    }
    JpegPlanes(w, h, planes, padW, cH, cV, hMax, vMax)
  }

  /** [[bmpPHash]] for JPEG payloads — the block-mean kernel
    * directly over the decoded Y plane (Y IS the BT.601 luma the RGB
    * paths compute), closing the cross-format family: a JPEG re-encode
    * of a BMP/PNG/GIF pairs at low Hamming in [[mediaNearDup]].
    */
  private[ext] def jpegPHash(bytes: Array[Byte]): Option[Long] =
    jpegLuma(bytes).map { case (w, h, yPlane) =>
      rasterPHash(w, h, (x, y) => yPlane(y * w + x) & 0xFF)
    }

  /** [[bmpFeatures]] for PNG payloads — the same channel-mean + luma-
    * histogram features over the decoded pixels.
    */
  private[ext] def pngFeatures(
      bytes: Array[Byte], dim: Int): Option[Array[Double]] =
    if (dim < 5) None
    else pngPixels(bytes).map { case (w, h, rgb) => rgbFeatures(w, h, rgb, dim) }

  /** [[bmpFeatures]] for GIF payloads — same kernel over the
    * LZW-decoded, palette-resolved pixels.
    */
  private[ext] def gifFeatures(
      bytes: Array[Byte], dim: Int): Option[Array[Double]] =
    if (dim < 5) None
    else gifPixels(bytes).map { case (w, h, rgb) => rgbFeatures(w, h, rgb, dim) }

  /** Channel-mean + luma-histogram features over a row-major RGB array —
    * the shared tail of the PNG and GIF feature paths (the BMP path
    * accumulates in file order for the same exact sums).
    */
  private def rgbFeatures(
      w: Int, h: Int, rgb: Array[Byte], dim: Int): Array[Double] = {
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var sumLuma = 0L
    val bins = dim - 4
    val hist = new Array[Long](bins)
    var i = 0
    val n = w * h
    while (i < n) {
      val r = rgb(i * 3) & 0xFF
      val g = rgb(i * 3 + 1) & 0xFF
      val b = rgb(i * 3 + 2) & 0xFF
      val luma = (299 * r + 587 * g + 114 * b) / 1000
      sumR += r; sumG += g; sumB += b; sumLuma += luma
      hist(luma * bins / 256) += 1
      i += 1
    }
    Array(sumR, sumG, sumB, sumLuma).map(_.toDouble / n / 256.0) ++
      hist.map(_.toDouble / n)
  }

  /** Per-media 60/64-bit signature rows: REAL block-mean perceptual
    * hashes for payloads whose pixels are pure public math — uncompressed
    * BMP ([[bmpPHash]]) and non-interlaced 8-bit PNG ([[pngPHash]]: zlib
    * inflate + scanline unfilter, both in the JVM) and RIFF/WAVE
    * 16-bit PCM audio ([[pcmPHash]]: volume-invariant energy-delta sign
    * fingerprint) — with `is_perceptual` true; the SAME image content
    * hashes identically across BMP and PNG (shared raster kernel). For
    * everything else —
    * compressed codecs this container can't decode, headerless
    * stand-ins — a CONTENT-DEFINED 60-bit SimHash stub over
    * the payload's distinct character 4-grams (twinnable sha-60 hash
    * family, the [[Dedup.simHashSignatures]] vote kernel): similar
    * payloads get near signatures, so the banded-Hamming search below
    * finds near-duplicate stand-ins too, not just byte-identical ones.
    * This is the honest stub for an opaque blob — shingle SimHash is
    * exactly what a production pipeline hashes when it CAN'T decode a
    * payload — and the DuckDB twin rebuilds every stub signature
    * bit-for-bit. The perceptual path is real wherever the pixels are
    * (spec-pinned on planted BMP near-duplicates in MultimodalSpec).
    */
  def mediaSignatures(spark: SparkSession, sfDir: String): DataFrame =
    mediaSignaturesOf(mediaTable(spark, sfDir))

  /** The per-media signature index as a MAINTAINED derived table with
    * the `simhash_sig` append-only contract: signatures are per-payload
    * deterministic, so one appended shard hashes ONLY its new media and
    * unions onto the committed index. The registered `media_near_dup`
    * reads this instead of re-hashing the corpus per call — at 100 TB
    * this IS the pHash index a crawl pipeline maintains, with each
    * ingest shard paying one partition-local decode pass.
    */
  private[graft] def mediaSignaturesShared(
      spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Layout.ensureDerived(spark, sfDir, "media_sig",
      Seq("documents.parquet"), "media_id", version = 2,
      append = Some(graft.ops.Layout.Append { ctx =>
        mediaSignaturesOf(
          mediaTableOf(spark.read.parquet(ctx.addedFiles: _*)))
          .join(ctx.oldArtifact.select(col("media_id")), Seq("media_id"),
            "left_anti")
      })) {
      mediaSignaturesOf(mediaTable(spark, sfDir))
    }

  /** [[mediaSignatures]] over an arbitrary (media_id, media_type,
    * content) frame — the kernel, also driven directly by the
    * planted-duplicate recall spec.
    */
  private[graft] def mediaSignaturesOf(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType),
      StructField("media_type", StringType),
      StructField("phash", LongType),
      StructField("is_perceptual", BooleanType))))
    media.select("media_id", "media_type", "content").mapPartitions { rows =>
      // partition-scoped scratch for the stub hash: a per-row
      // MessageDigest.getInstance is a provider lookup + allocation in
      // the hot decode pass (review r13)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val seen = new java.util.HashSet[String]()
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](2)
        val ph = r.getString(1) match {
          case "image" =>
            bmpPHash(bytes).orElse(pngPHash(bytes)).orElse(gifPHash(bytes))
              .orElse(jpegPHash(bytes))
          case "audio" => pcmPHash(bytes)
          case _       => None
        }
        val (h, perceptual) = ph match {
          case Some(v) => (v, true)
          case None    => (stubSimHash60(bytes, md, seen), false)
        }
        Row(r.getLong(0), r.getString(1), h, perceptual)
      }
    }(enc)
  }

  /** 60-bit SimHash stub for a payload NO container decoder claims —
    * majority vote over the payload text's DISTINCT character 4-grams on
    * the twinnable sha-60 hash family (the [[Dedup.simHashSignatures]]
    * vote kernel), computed ROW-LOCALLY inside the same partition pass
    * that already decodes the perceptual families. The former SQL
    * formulation (decode → per-position explode → distinct → sha2/conv →
    * 60 vote aggregates) shuffled payload-length shingle rows through a
    * distinct AND a 60-slot hash-agg per stub payload; since every
    * shingle of a payload lives in its own single row, both shuffles
    * were pure overhead — at 100 TB the stub family now costs exactly
    * the one decode pass the perceptual family pays, nothing moves.
    * Bit-identical to the SQL form for every UTF-8-decodable payload
    * (differential-pinned in MultimodalSpec on the live corpus: same
    * code-point shingling as `substring`, same sha-60 = first 15 hex
    * chars of sha2 = top 60 bits of the digest's first 8 bytes, same
    * strict-majority vote); an INVALID-UTF-8 payload takes Java's
    * replacement decode where the SQL form threw
    * MALFORMED_CHARACTER_CODING — a strict totality win for hostile
    * crawl bytes.
    */
  private[graft] def stubSimHash60(bytes: Array[Byte]): Long =
    stubSimHash60(bytes, java.security.MessageDigest.getInstance("SHA-256"),
      new java.util.HashSet[String]())

  /** [[stubSimHash60]] with caller-owned scratch — the per-partition hot
    * path reuses one digest + shingle set across rows (`digest()` resets
    * the digest; the set is cleared here).
    */
  private[graft] def stubSimHash60(
      bytes: Array[Byte], md: java.security.MessageDigest,
      seen: java.util.HashSet[String]): Long = {
    val t = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val cps = t.codePointCount(0, t.length)
    val votes = new Array[Int](60)
    seen.clear()
    val n = math.max(cps - 3, 1)
    var p = 0
    var ci = 0
    while (p < n) {
      val sh = t.substring(ci, t.offsetByCodePoints(ci, math.min(4, cps - p)))
      if (seen.add(sh)) {
        val d = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h = h >>> 4 // first 15 hex chars of the digest = top 60 bits
        var j = 0
        while (j < 60) {
          votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      if (p + 1 < n) ci = t.offsetByCodePoints(ci, 1)
      p += 1
    }
    var bits = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) bits |= 1L << j; j += 1 }
    bits
  }

  /** Media near-duplicate pairs — the LAST dedup modality (text ✓,
    * embeddings ✓, media now ✓): banded Hamming search over
    * [[mediaSignatures]], the [[Dedup.simHashPairs]] machinery applied
    * to perceptual hashes. Candidates collide on any of the four 16-bit
    * signature chunks (Hamming ≤ `maxHamming` ⇒ some chunk is equal
    * whenever maxHamming < 4·... pigeonhole: ≤ 3 differing chunks out of
    * 4 at maxHamming ≤ 3 per-chunk spread — with the default 8 the
    * chunk-collision recall is the standard SimHash-banding bound, and
    * the planted-duplicate spec measures it); verification is one
    * bit_count(xor) per candidate.
    *
    * Scale shape: signatures are fixed-width rows (corpus-linear, one
    * partition-local decode pass); the chunk self-join keys on 16-bit
    * values — flood-bounded through [[graft.ops.Materialize.localOrSpill]]
    * like the LSH families; verify cost is |candidates|. At 100 TB this
    * is the pHash dedup a crawl pipeline runs per ingest shard against a
    * signature index; the incremental shape is [[Dedup]]'s
    * delta-probes-index pattern unchanged.
    */
  def mediaNearDup(
      spark: SparkSession, sfDir: String, maxHamming: Int = 8): DataFrame =
    // signatures off the maintained index (disk-backed, bucketed): the
    // per-call cost is the chunk join, never a corpus re-hash
    pairsFromSignatures(mediaSignaturesShared(spark, sfDir), maxHamming)

  /** [[mediaNearDup]] over an arbitrary media frame — the kernel the
    * planted-duplicate spec drives directly (live signatures).
    */
  private[ext] def mediaNearDupOf(
      media: DataFrame, maxHamming: Int = 8): DataFrame = {
    val sig = mediaSignaturesOf(media).persist()
    try pairsFromSignatures(sig, maxHamming)
    finally { sig.unpersist(); () }
  }

  /** Incremental (delta-vs-index) media near-dup — the
    * [[Dedup.incrementalMinHash]] shape for the media modality, and the
    * 100 TB media-ingest dataflow: the corpus maintains its signature
    * index once ([[mediaSignaturesShared]], per-payload append-only
    * refresh); an arriving batch hashes only itself, probes the index on
    * the 16-bit signature windows, and Hamming-verifies the candidates.
    * The corpus is never re-paired against itself — per batch, work is
    * proportional to the delta's window collisions.
    *
    * The "new batch" is carved deterministically
    * (`media_id % deltaMod == deltaRem`) so the report is
    * oracle-checkable. One row per delta medium: `dup_of` = the
    * best-matching corpus medium (lowest Hamming, smallest id on ties),
    * `-1`/`is_dup=false` when nothing clears `maxHamming`.
    */
  def mediaNearDupIncremental(
      spark: SparkSession, sfDir: String, maxHamming: Int = 8,
      deltaMod: Int = 10, deltaRem: Int = 9): DataFrame = {
    val sig = mediaSignaturesShared(spark, sfDir)
    val isDelta = pmod(col("media_id"), lit(deltaMod.toLong)) === deltaRem.toLong
    // like pairsFromSignatures: modality AND signature family key the
    // probe, so a perceptual hash never Hamming-compares against a stub
    val probe = chunkedSignatures(sig.filter(isDelta))
      .select(col("chunk_idx"), col("chunk_val"), col("media_type"),
        col("is_perceptual"),
        col("media_id").as("new_media_id"), col("phash").as("ph_n"))
    val index = chunkedSignatures(sig.filter(!isDelta))
      .select(col("chunk_idx"), col("chunk_val"), col("media_type"),
        col("is_perceptual"),
        col("media_id").as("c_id"), col("phash").as("ph_c"))
    val best = probe.join(index,
        Seq("chunk_idx", "chunk_val", "media_type", "is_perceptual"))
      .select("new_media_id", "c_id", "ph_n", "ph_c").distinct()
      .withColumn("hamming", bit_count(col("ph_n").bitwiseXOR(col("ph_c"))))
      .filter(col("hamming") <= maxHamming)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("new_media_id"))
          .orderBy(col("hamming").asc, col("c_id").asc)))
      .filter(col("__rk") === 1)
      .select(col("new_media_id"), col("c_id"), col("hamming"))
    sig.filter(isDelta).select(col("media_id").as("new_media_id"))
      .join(best, Seq("new_media_id"), "left")
      .select(col("new_media_id"),
        coalesce(col("c_id"), lit(-1L)).as("dup_of"),
        col("c_id").isNotNull.as("is_dup"),
        coalesce(col("hamming"), lit(-1)).as("hamming"))
      .orderBy(col("new_media_id").asc)
  }

  /** Media near-dup pairs → transitive duplicate CLUSTERS through the
    * family-shared connected-components kernel ([[Dedup]]'s
    * size-adaptive union-find / graph-contraction CC) — the missing
    * last step that turns pairwise pHash matches into one keeper per
    * duplicate group, exactly as `dedup_clusters` does for text. One
    * row per multi-member cluster: (cluster_id = min member id, keeper,
    * size).
    */
  def mediaDedupClusters(
      spark: SparkSession, sfDir: String, maxHamming: Int = 8): DataFrame = {
    val pairs = mediaNearDup(spark, sfDir, maxHamming)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val all = mediaTable(spark, sfDir).select(col("media_id").as("doc_id"))
    // dropSingletons: the >1 filter below never reads the singleton tail
    Dedup.connectedComponents(pairs, all, dropSingletons = true)
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("keeper_media_id"),
        count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1L)
      .select(col("cluster_id"), col("keeper_media_id"),
        col("cluster_size"))
      .orderBy(col("cluster_id").asc)
  }

  /** The 16-bit banding key rows of a signature frame — the ONE place
    * the chunk layout is defined; the batch pair kernel and the
    * incremental probe both band through this, so they can never band
    * differently.
    */
  private def chunkedSignatures(sig: DataFrame): DataFrame = {
    val chunkCols = (0 until 4).map { c =>
      struct(lit(c).as("idx"),
        shiftright(col("phash"), c * 16)
          .bitwiseAND(lit(0xFFFFL)).as("v"))
    }
    sig.select(col("media_id"), col("media_type"), col("phash"),
      col("is_perceptual"), explode(array(chunkCols: _*)).as("chunk"))
      .select(col("media_id"), col("media_type"), col("phash"),
        col("is_perceptual"),
        col("chunk.idx").as("chunk_idx"), col("chunk.v").as("chunk_val"))
  }

  private def pairsFromSignatures(
      sig: DataFrame, maxHamming: Int,
      maxChunkDocs: Long = 256L): DataFrame = {
    {
      // modality AND signature family are part of the candidate key: an
      // image block-mean hash and an audio energy hash share no feature
      // space, and a perceptual pHash shares none with a character-4-gram
      // SimHash stub of the same modality — a cross-family Hamming
      // coincidence must never become a "pair"
      val chunked0 = chunkedSignatures(sig)
      // boilerplate guard (the Dedup.simHashPairs maxChunkDocs analog,
      // r12 review): a window value shared by a mass-duplicated payload
      // family would otherwise emit ~N² candidate rows on one skewed
      // key; capped buckets drop from candidate generation, mirrored in
      // the DuckDB twins
      val capKey = Seq("chunk_idx", "chunk_val", "media_type",
        "is_perceptual")
      val okChunks = chunked0.groupBy(capKey.map(col): _*)
        .agg(count(lit(1)).as("csz"))
        .filter(col("csz") <= maxChunkDocs)
        .select(capKey.map(col): _*)
      val chunked = chunked0.join(okChunks, capKey, "left_semi")
      val a = chunked.select(col("chunk_idx"), col("chunk_val"),
        col("media_type"), col("is_perceptual"),
        col("media_id").as("media_a"), col("phash").as("ph_a"))
      val b = chunked.select(col("chunk_idx"), col("chunk_val"),
        col("media_type"), col("is_perceptual"),
        col("media_id").as("media_b"), col("phash").as("ph_b"))
      graft.ops.Materialize.localOrSpill(
        a.join(b, Seq("chunk_idx", "chunk_val", "media_type",
            "is_perceptual"))
          .filter(col("media_a") < col("media_b"))
          .select("media_a", "media_b", "ph_a", "ph_b", "is_perceptual")
          .distinct()
          .withColumn("hamming",
            bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
          .filter(col("hamming") <= maxHamming)
          .select(col("media_a"), col("media_b"), col("hamming"),
            col("is_perceptual").as("perceptual"))
          .orderBy(col("media_a").asc, col("media_b").asc))
    }
  }
}

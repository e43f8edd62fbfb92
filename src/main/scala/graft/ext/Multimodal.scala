package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (build brief): image/audio/video payloads
  * as opaque `binary` columns with typed metadata, plus feature-extract /
  * resize / frame-sample stages. Container HEADER parsing (PNG/GIF/JPEG/
  * BMP dims, EXIF orientation, WAV, MP4) and PIXEL decoding (PNG incl.
  * Adam7 via zlib-inflate + unfilter, BMP, GIF incl. full LZW, baseline
  * JPEG incl. full Huffman+IDCT entropy decode, sequential and
  * progressive — see [[PixelCodec]] / [[JpegCodec]]) are REAL,
  * pure-JDK implementations of the public formats. The only remaining
  * stub is video sample decode: those payloads fall back to the
  * deterministic digest stubs, stated per method.
  *
  * Scale notes: binary payloads never shuffle — metadata extraction is a
  * narrow projection, and downstream joins/aggregations use the digest or
  * the (small) feature vector. Decode runs in `mapPartitions` over
  * batched rows (amortizing codec state per partition, exactly like a
  * Pandas-UDF batch on the PySpark side).
  */
object Multimodal {

  /** Fixed-window payload chunking: one row per `chunkSize`-char window
    * of the payload, with per-chunk length and digest — the chunking
    * stage an audio/video pipeline runs before per-chunk decode (byte
    * windows on a binary column; char windows here on the text
    * stand-in). The explode is bounded by payload length and row-local:
    * no shuffle, and chunk rows carry only their own slice — the full
    * payload is never duplicated per chunk downstream of the project.
    */
  def chunkPayload(df: DataFrame, idCol: String, payloadCol: String,
      chunkSize: Int = 64): DataFrame = {
    require(chunkSize > 0)
    df.select(col(idCol), col(payloadCol).as("__p"))
      .select(col(idCol), col("__p"),
        explode(expr(
          s"if(length(__p) = 0, array(), sequence(0, cast((length(__p) - 1) / $chunkSize as int)))"))
          .as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"substring(__p, chunk_idx * $chunkSize + 1, $chunkSize)").as("__c"))
      .select(col(idCol), col("chunk_idx"),
        length(col("__c")).cast("long").as("chunk_len"),
        md5(col("__c")).as("chunk_md5"))
  }

  /** Typed metadata over an opaque binary column: byte length, digest,
    * magic-prefix hex. Pure projection — codegen'd, no shuffle.
    */
  def withMetadata(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", octet_length(col(binCol)).cast("long"))
      .withColumn("content_digest", md5(col(binCol)))
      .withColumn("magic", hex(expr(s"substring($binCol, 1, 4)")))

  /** REAL image-container header parsing — dimensions straight off the
    * magic bytes, no codec library: PNG (signature + IHDR chunk), GIF
    * (logical screen descriptor), JPEG (segment walk to the first SOFn
    * frame header), BMP (BITMAPINFOHEADER / BITMAPCOREHEADER). All
    * offsets are public format knowledge. Returns (format, width,
    * height); None when the payload is not a recognized container or is
    * truncated before its dimension fields.
    */
  def parseImageDims(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = u8(i) << 8 | u8(i + 1)
    def le16(i: Int) = u8(i) | u8(i + 1) << 8
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (bytes.length >= 24 && bytes.startsWith(pngSig) &&
        new String(bytes.slice(12, 16), "US-ASCII") == "IHDR")
      Some(("png", be32(16), be32(20)))
    else if (bytes.length >= 10 && (bytes.startsWith("GIF87a".getBytes("US-ASCII")) ||
        bytes.startsWith("GIF89a".getBytes("US-ASCII"))))
      Some(("gif", le16(6), le16(8)))
    else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk the segment chain; the first SOFn (C0-CF minus the
      // non-frame C4/C8/CC) carries [len][precision][height][width]
      var i = 2
      var out: Option[(String, Int, Int)] = None
      var desynced = false
      while (out.isEmpty && !desynced && i + 3 < bytes.length) {
        if (u8(i) != 0xff) desynced = true
        else {
          var m = i + 1
          while (u8(m) == 0xff && m + 1 < bytes.length) m += 1 // fill bytes
          val marker = u8(m)
          if (marker >= 0xd0 && marker <= 0xd9) i = m + 1 // standalone RSTn/EOI
          else if (m + 2 >= bytes.length) desynced = true
          else {
            val segLen = be16(m + 1)
            val isSof = marker >= 0xc0 && marker <= 0xcf &&
              marker != 0xc4 && marker != 0xc8 && marker != 0xcc
            if (isSof) {
              if (m + 7 < bytes.length && segLen >= 7)
                out = Some(("jpeg", be16(m + 6), be16(m + 4)))
              desynced = out.isEmpty
            } else if (segLen < 2) desynced = true
            else i = m + 1 + segLen
          }
        }
      }
      out
    } else if (bytes.length >= 26 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) {
      val hdrSize = le32(14)
      if (hdrSize >= 40 && bytes.length >= 30) Some(("bmp", le32(18), math.abs(le32(22))))
      else if (hdrSize == 12) Some(("bmp", le16(18), le16(20))) // BITMAPCOREHEADER
      else None
    } else None
  }

  /** EXIF Orientation (IFD0 tag 0x0112) from a JPEG's APP1 segment —
    * the one EXIF field a resize/feature pipeline must honor: a
    * camera-rotated capture stores the sensor's dims plus orientation
    * 5-8 (transpose family), so downstream crops/resizes that ignore it
    * work on sideways images. Pure public-spec parsing: segment walk to
    * APP1 `Exif\0\0`, TIFF header (II little / MM big endian, magic 42),
    * IFD0 entry scan. Returns the raw 1-8 value; None when the payload
    * is not a JPEG, carries no EXIF, omits the tag, or is malformed —
    * never a throw.
    */
  def parseExifOrientation(bytes: Array[Byte]): Option[Int] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = u8(i) << 8 | u8(i + 1)
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var i = 2
    while (i + 3 < bytes.length) {
      if (u8(i) != 0xff) return None
      var m = i + 1
      while (u8(m) == 0xff && m + 1 < bytes.length) m += 1 // fill bytes
      val marker = u8(m)
      if (marker >= 0xd0 && marker <= 0xd9) i = m + 1 // standalone RSTn/EOI
      else if (marker == 0xda) return None // entropy stream: EXIF sits before SOS
      else if (m + 2 >= bytes.length) return None
      else {
        val segLen = be16(m + 1)
        if (segLen < 2) return None
        if (marker == 0xe1 && segLen >= 16 && m + 1 + segLen <= bytes.length &&
            u8(m + 3) == 'E' && u8(m + 4) == 'x' && u8(m + 5) == 'i' &&
            u8(m + 6) == 'f' && u8(m + 7) == 0 && u8(m + 8) == 0) {
          val t = m + 9 // TIFF header
          val end = m + 1 + segLen // APP1 payload bound: offsets must stay inside
          val little = u8(t) == 'I' && u8(t + 1) == 'I'
          val big = u8(t) == 'M' && u8(t + 1) == 'M'
          if (!little && !big) return None
          def u16(p: Int) = if (little) u8(p) | u8(p + 1) << 8 else be16(p)
          def u32(p: Int): Long =
            if (little) (u8(p) | u8(p + 1) << 8 | u8(p + 2) << 16).toLong | (u8(p + 3).toLong << 24)
            else (u8(p).toLong << 24) | (u8(p + 1) << 16 | u8(p + 2) << 8 | u8(p + 3)).toLong
          if (u16(t + 2) != 42) return None
          val ifdOff = u32(t + 4)
          if (ifdOff < 8 || t + ifdOff + 2 > end) return None
          val ifd = t + ifdOff.toInt
          val n = u16(ifd)
          var e = 0
          while (e < n) {
            val p = ifd + 2 + e * 12
            if (p + 12 > end) return None
            // tag 0x0112, type 3 (SHORT), count 1: value inline at +8
            if (u16(p) == 0x0112 && u16(p + 2) == 3 && u32(p + 4) == 1L) {
              val v = u16(p + 8)
              return if (v >= 1 && v <= 8) Some(v) else None
            }
            e += 1
          }
          return None
        }
        i = m + 1 + segLen
      }
    }
    None
  }

  /** Batched per-partition header decode over an opaque binary column:
    * adds `img_format` / `width` / `height` (null for unrecognized
    * payloads). Same codec-per-partition shape as [[decodeFeatures]],
    * but the parser behind it is REAL ([[parseImageDims]]) — binary
    * stays row-local, nothing shuffles.
    */
  def withImageDims(df: DataFrame, binCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("img_format", StringType),
      StructField("width", LongType),
      StructField("height", LongType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val dims = Option(r.getAs[Array[Byte]](binIdx)).flatMap(parseImageDims)
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ (dims match {
          case Some((f, w, h)) => Seq(f, w.toLong, h.toLong)
          case None => Seq(null, null, null)
        }))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Minimal VALID container bytes for a given (format, w, h) — real
    * PNG/GIF/JPEG/BMP headers byte-for-byte per the public specs (the
    * PNG CRC is a placeholder; header parsing never checks it). Used by
    * fixtures and the registered `image_dims` query to exercise
    * [[parseImageDims]] end-to-end against an arithmetic oracle.
    */
  def syntheticImage(format: String, w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def be16(v: Int): Unit = { b(v >> 8); b(v) }
    def be32(v: Int): Unit = { b(v >>> 24); b(v >> 16); b(v >> 8); b(v) }
    def le16(v: Int): Unit = { b(v); b(v >> 8) }
    def le32(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16); b(v >>> 24) }
    format match {
      case "png" =>
        Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).foreach(b)
        be32(13); out.write("IHDR".getBytes("US-ASCII")); be32(w); be32(h)
        b(8); b(2); b(0); b(0); b(0) // bit depth, truecolor, default methods
        be32(0) // CRC placeholder
      case "gif" =>
        out.write("GIF89a".getBytes("US-ASCII")); le16(w); le16(h); b(0); b(0); b(0)
      case "jpeg" =>
        b(0xff); b(0xd8) // SOI
        b(0xff); b(0xe0); be16(16) // APP0/JFIF before the frame header,
        out.write("JFIF".getBytes("US-ASCII")); b(0) // as real encoders emit
        b(1); b(1); b(0); be16(1); be16(1); b(0); b(0)
        b(0xff); b(0xc0); be16(11) // SOF0, 1 component
        b(8); be16(h); be16(w); b(1); b(1); b(0x11); b(0)
        b(0xff); b(0xd9) // EOI
      case "bmp" =>
        out.write("BM".getBytes("US-ASCII"))
        (0 until 12).foreach(_ => b(0)) // file size + reserved + data offset
        le32(40); le32(w); le32(h); le16(1); le16(24) // BITMAPINFOHEADER
        (0 until 24).foreach(_ => b(0))
      case other => throw new IllegalArgumentException(s"unknown format $other")
    }
    out.toByteArray
  }

  /** REAL RIFF/WAVE header parsing — channels, sample rate, bit depth
    * and PCM duration straight off the chunk walk (RIFF container +
    * canonical `fmt ` layout, public format knowledge; chunks are
    * even-padded per the spec). Returns (channels, sampleRateHz,
    * bitsPerSample, durationMs); None for non-WAV or truncated
    * payloads. Duration is integer math over the `data` chunk size:
    * `dataBytes * 8000 / (rate * channels * bits)` — reproducible in
    * SQL for the oracle.
    */
  def parseWavMeta(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | u8(i + 1) << 8
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def ascii(from: Int, until: Int) = new String(bytes.slice(from, until), "US-ASCII")
    if (bytes.length < 12 || ascii(0, 4) != "RIFF" || ascii(8, 12) != "WAVE") None
    else {
      var i = 12
      var fmt: Option[(Int, Int, Int)] = None
      var dataBytes: Option[Long] = None
      while ((fmt.isEmpty || dataBytes.isEmpty) && i + 8 <= bytes.length) {
        val id = ascii(i, i + 4)
        val size = le32(i + 4)
        if (id == "fmt " && size >= 16 && i + 8 + 16 <= bytes.length)
          fmt = Some((le16(i + 10), le32(i + 12).toInt, le16(i + 22)))
        if (id == "data") dataBytes = Some(size)
        // advance in Long: a declared size near Int.MaxValue must end
        // the walk, not wrap `i` negative into an out-of-bounds read
        val next = i.toLong + 8L + size + (size & 1L) // chunks even-padded
        i = if (size < 0 || next > bytes.length) bytes.length else next.toInt
      }
      for {
        (ch, rate, bits) <- fmt
        ds <- dataBytes
        if ch > 0 && rate > 0 && bits > 0
      } yield (ch, rate, bits, ds * 8000L / (rate.toLong * ch * bits))
    }
  }

  /** Batched per-partition WAV header decode: adds `channels` /
    * `sample_rate` / `bits` / `duration_ms` (null for unrecognized
    * payloads). Binary stays row-local, nothing shuffles — the audio
    * twin of [[withImageDims]].
    */
  def withAudioMeta(df: DataFrame, binCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("channels", LongType),
      StructField("sample_rate", LongType),
      StructField("bits", LongType),
      StructField("duration_ms", LongType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val meta = Option(r.getAs[Array[Byte]](binIdx)).flatMap(parseWavMeta)
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ (meta match {
          case Some((ch, rate, bits, ms)) =>
            Seq(ch.toLong, rate.toLong, bits.toLong, ms)
          case None => Seq(null, null, null, null)
        }))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Minimal VALID 44-byte canonical PCM WAV + zeroed data chunk —
    * real header bytes per the public spec, for fixtures and the
    * registered `audio_meta` query.
    */
  def syntheticWav(channels: Int, sampleRateHz: Int, bitsPerSample: Int,
      nSamplesPerChannel: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { b(v); b(v >> 8) }
    def le32(v: Int): Unit = { b(v); b(v >> 8); b(v >> 16); b(v >>> 24) }
    val blockAlign = channels * bitsPerSample / 8
    val dataBytes = nSamplesPerChannel * blockAlign
    out.write("RIFF".getBytes("US-ASCII")); le32(36 + dataBytes)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); le32(16)
    le16(1) // PCM
    le16(channels); le32(sampleRateHz)
    le32(sampleRateHz * blockAlign) // byte rate
    le16(blockAlign); le16(bitsPerSample)
    out.write("data".getBytes("US-ASCII")); le32(dataBytes)
    (0 until dataBytes).foreach(_ => b(0))
    out.toByteArray
  }

  /** REAL ISO BMFF (MP4) container parsing — movie duration off the
    * `moov/mvhd` box (timescale + duration, v0 and v1 layouts), frame
    * dimensions off the first `trak/tkhd` with nonzero 16.16-fixed
    * width/height, track count by `trak` walk, brand off `ftyp`. Box
    * grammar ([size:be32][type:4cc], size==1 → 64-bit largesize,
    * size==0 → to end) is public format knowledge. Returns (brand,
    * durationMs, width, height, nTracks); None for non-BMFF or corrupt
    * box structure. durationMs is integer math `units * 1000 /
    * timescale` — reproducible in SQL for the oracle.
    */
  def parseMp4Meta(bytes: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def ascii(from: Int, until: Int) = new String(bytes.slice(from, until), "US-ASCII")

    // walk child boxes of [from, until); f(type, payloadFrom, payloadUntil);
    // returns false when the box structure is corrupt
    def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var i = from
      var ok = true
      while (ok && i + 8 <= until) {
        val size32 = be32(i)
        val typ = ascii(i + 4, i + 8)
        var hdr = 8L
        val boxSize =
          if (size32 == 1L) { hdr = 16L; if (i + 16 <= until) be64(i + 8) else -1L }
          else if (size32 == 0L) (until - i).toLong
          else size32
        if (boxSize < hdr || i + boxSize > until) ok = false
        else {
          f(typ, i + hdr.toInt, i + boxSize.toInt)
          i += boxSize.toInt
        }
      }
      ok
    }

    if (bytes.length < 16 || ascii(4, 8) != "ftyp") None
    else {
      var brand: Option[String] = None
      var tsDur: Option[(Long, Long)] = None // (timescale, durationUnits)
      var dims: Option[(Long, Long)] = None
      var nTracks = 0L
      // nested-walk corruption must propagate: a corrupt box INSIDE
      // moov/trak after a valid mvhd/tkhd is still a corrupt file
      var nestedOk = true
      val ok = walk(0, bytes.length) {
        case ("ftyp", s, e) => if (e - s >= 4) brand = Some(ascii(s, s + 4))
        case ("moov", ms, me) =>
          nestedOk &= walk(ms, me) {
            case ("mvhd", s, e) =>
              val v = if (e > s) u8(s) else -1
              if (v == 1 && e - s >= 32) tsDur = Some((be32(s + 20), be64(s + 24)))
              else if (v == 0 && e - s >= 20) tsDur = Some((be32(s + 12), be32(s + 16)))
            case ("trak", ts, te) =>
              nTracks += 1
              nestedOk &= walk(ts, te) {
                case ("tkhd", s, e) =>
                  val v = if (e > s) u8(s) else -1
                  // v1 widens creation/modification/duration by 4 bytes each
                  val (wOff, hOff) = if (v == 1) (88, 92) else (76, 80)
                  if ((v == 0 || v == 1) && e - s >= hOff + 4 && dims.isEmpty) {
                    val (w, h) = (be32(s + wOff) >> 16, be32(s + hOff) >> 16)
                    if (w > 0 && h > 0) dims = Some((w, h))
                  }
                case _ =>
              }
            case _ =>
          }
        case _ =>
      }
      for {
        _ <- if (ok && nestedOk) Some(()) else None
        b <- brand
        (ts, dur) <- tsDur
        if ts > 0
        (w, h) <- dims
      } yield (b, dur * 1000L / ts, w, h, nTracks)
    }
  }

  /** Batched per-partition MP4 header decode: adds `brand` /
    * `duration_ms` / `width` / `height` / `n_tracks` (null for
    * unrecognized payloads) — the video twin of [[withImageDims]] /
    * [[withAudioMeta]]; binary stays row-local, nothing shuffles.
    */
  def withVideoMeta(df: DataFrame, binCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("brand", StringType),
      StructField("duration_ms", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("n_tracks", LongType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val meta = Option(r.getAs[Array[Byte]](binIdx)).flatMap(parseMp4Meta)
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ (meta match {
          case Some((b, ms, w, h, n)) => Seq(b, ms, w, h, n)
          case None => Seq(null, null, null, null, null)
        }))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Minimal VALID ISO BMFF bytes — real `ftyp` + `moov/mvhd` (v0) +
    * one video `trak/tkhd` carrying 16.16-fixed dimensions, plus
    * `extraTracks` dimensionless (audio-like) tracks. Duration is
    * planted as `durationMs * timescale / 1000` units so the parser's
    * integer math recovers durationMs exactly when `timescale` is a
    * multiple of 1000 — the fixture twin of [[syntheticImage]] /
    * [[syntheticWav]].
    */
  def syntheticMp4(w: Int, h: Int, durationMs: Long, timescale: Long,
      extraTracks: Int = 0): Array[Byte] = {
    require(timescale > 0 && timescale % 1000 == 0, "timescale must be a multiple of 1000")
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def be16(v: Int): Unit = { b(v >> 8); b(v) }
    def be32(v: Long): Unit = { b((v >>> 24).toInt); b((v >> 16).toInt); b((v >> 8).toInt); b(v.toInt) }
    def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))

    def tkhd(trackId: Int, width: Int, height: Int): Unit = {
      be32(92); fourcc("tkhd")
      be32(0) // version 0 + flags
      be32(0); be32(0) // creation, modification
      be32(trackId.toLong); be32(0) // track id, reserved
      be32(0) // duration (track-level; movie duration is authoritative)
      be32(0); be32(0) // reserved
      be16(0); be16(0); be16(if (width > 0) 0 else 0x0100); be16(0) // layer, alt, volume, reserved
      Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L).foreach(be32) // identity matrix
      be32(width.toLong << 16); be32(height.toLong << 16) // 16.16 fixed
    }

    be32(20); fourcc("ftyp")
    fourcc("isom"); be32(512); fourcc("isom") // major brand, minor, compat

    val durUnits = durationMs * timescale / 1000
    val trakSize = 8 + 92
    val moovSize = 8 + 108 + (1 + extraTracks) * trakSize
    be32(moovSize.toLong); fourcc("moov")
    be32(108); fourcc("mvhd")
    be32(0) // version 0 + flags
    be32(0); be32(0) // creation, modification
    be32(timescale); be32(durUnits)
    be32(0x00010000L); be16(0x0100); be16(0) // rate 1.0, volume 1.0, reserved
    be32(0); be32(0) // reserved
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L).foreach(be32)
    (0 until 6).foreach(_ => be32(0)) // pre_defined
    be32(2L + extraTracks) // next track id
    be32(trakSize.toLong); fourcc("trak"); tkhd(1, w, h)
    (0 until extraTracks).foreach { i =>
      be32(trakSize.toLong); fourcc("trak"); tkhd(2 + i, 0, 0)
    }
    out.toByteArray
  }

  /** MJPEG-in-AVI sample extraction — the REAL video-sample path
    * (reference: n/a — jetstream has no media pipeline; container
    * layout per the public RIFF/AVI spec): walks the RIFF chunk tree
    * lazily and yields each video sample chunk's payload (`##dc` /
    * `##db`, compressed/uncompressed DIB ids — MJPEG files carry one
    * JPEG per `dc` chunk), descending into the `movi` LIST and its
    * nested `rec ` groups. Returns None unless the payload is a
    * RIFF/AVI container; corrupt sizes end the walk at that nesting
    * level instead of throwing (same posture as [[parseMp4Meta]]).
    */
  private[ext] def aviVideoSamples(bytes: Array[Byte]): Option[Iterator[Array[Byte]]] = {
    def ascii(off: Int) = new String(bytes, off, 4, "US-ASCII")
    def le32(off: Int): Long =
      (bytes(off) & 0xffL) | (bytes(off + 1) & 0xffL) << 8 |
        (bytes(off + 2) & 0xffL) << 16 | (bytes(off + 3) & 0xffL) << 24
    if (bytes == null || bytes.length < 12 || ascii(0) != "RIFF" || ascii(8) != "AVI ")
      None
    else Some(new Iterator[Array[Byte]] {
      // (cursor, end, insideMovi) per open nesting level
      private var stack = List((12, bytes.length, false))
      private var staged: Array[Byte] = null
      @annotation.tailrec
      private def advance(): Unit =
        if (staged == null && stack.nonEmpty) {
          val (off, end, inMovi) = stack.head
          if (off + 8 > end) stack = stack.tail
          else {
            val id = ascii(off)
            val size = le32(off + 4)
            val dataOff = off + 8
            if (size > end - dataOff) stack = stack.tail // corrupt: stop level
            else {
              val dataEnd = dataOff + size.toInt
              stack = (dataEnd + (size.toInt & 1), end, inMovi) :: stack.tail
              if (id == "LIST" && size >= 4) {
                val listType = ascii(dataOff)
                if (listType == "movi" || (inMovi && listType == "rec "))
                  stack = (dataOff + 4, dataEnd, true) :: stack
              } else if (inMovi && size > 0 &&
                  (id.endsWith("dc") || id.endsWith("db")))
                staged = java.util.Arrays.copyOfRange(bytes, dataOff, dataEnd)
            }
          }
          advance()
        }
      def hasNext: Boolean = { advance(); staged != null }
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("no more AVI samples")
        val s = staged; staged = null; s
      }
    })
  }

  /** The first `vids` stream's `strf` payload (BITMAPINFOHEADER +
    * palette) from the `hdrl` LIST — required to decode `##db`/`##dc`
    * DIB samples, which carry raw pixel bits with no self-describing
    * header (the MJPEG case is self-describing: each sample is a whole
    * JPEG). Walks RIFF → LIST hdrl → LIST strl; within a strl, `strh`'s
    * fccType (first 4 bytes of its payload) tags the stream type and
    * the following `strf` is its format. Corrupt sizes end that nesting
    * level; never throws.
    */
  private[ext] def aviVideoFormat(bytes: Array[Byte]): Option[Array[Byte]] = {
    def ascii(off: Int) = new String(bytes, off, 4, "US-ASCII")
    def le32(off: Int): Long =
      (bytes(off) & 0xffL) | (bytes(off + 1) & 0xffL) << 8 |
        (bytes(off + 2) & 0xffL) << 16 | (bytes(off + 3) & 0xffL) << 24
    if (bytes == null || bytes.length < 12 || ascii(0) != "RIFF" || ascii(8) != "AVI ")
      return None
    var found: Option[Array[Byte]] = None
    def walkLevel(from: Int, end: Int, inStrl: Boolean): Unit = {
      var off = from
      var vids = false // last strh at THIS level was a video stream
      while (found.isEmpty && off + 8 <= end) {
        val id = ascii(off)
        val size = le32(off + 4)
        val dataOff = off + 8
        if (size > end - dataOff) return // corrupt: stop this level
        val dataEnd = dataOff + size.toInt
        if (id == "LIST" && size >= 4) {
          val lt = ascii(dataOff)
          if (lt == "hdrl" || lt == "strl")
            walkLevel(dataOff + 4, dataEnd, inStrl = lt == "strl")
        } else if (inStrl && id == "strh" && size >= 4)
          vids = ascii(dataOff) == "vids"
        else if (inStrl && id == "strf" && vids && size >= 40)
          found = Some(java.util.Arrays.copyOfRange(bytes, dataOff, dataEnd))
        off = dataEnd + (size.toInt & 1)
      }
    }
    walkLevel(12, bytes.length, inStrl = false)
    found
  }

  /** Decode one AVI video sample: MJPEG samples are self-describing
    * JPEGs (any still codec here may match); DIB samples need the
    * stream's `strf` header ([[PixelCodec.decodeDib]] — BI_RGB 24-bit
    * and BI_RLE8).
    */
  private def decodeAviSample(fmt: Option[Array[Byte]],
      sample: Array[Byte]): Option[PixelCodec.RgbImage] =
    PixelCodec.decodeImage(sample)
      .orElse(fmt.flatMap(f => PixelCodec.decodeDib(f, sample)))

  /** MJPEG-in-MP4 sample extraction: finds the first track whose
    * `stsd` sample description is `jpeg` (QuickTime/BMFF motion-JPEG —
    * every sample is a standalone baseline JPEG) and yields sample
    * payloads by walking the `stbl` sample tables: `stsz` sizes,
    * `stsc` sample-to-chunk runs, `stco`/`co64` chunk offsets (absolute
    * file offsets into `mdat`). Returns None for non-BMFF payloads or
    * when no jpeg track exists; corrupt or out-of-range tables end the
    * iteration early instead of throwing.
    */
  private[ext] def mp4VideoSamples(bytes: Array[Byte]): Option[Iterator[Array[Byte]]] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def ascii(from: Int, until: Int) = new String(bytes.slice(from, until), "US-ASCII")
    def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Unit = {
      var i = from
      var ok = true
      while (ok && i + 8 <= until) {
        val size32 = be32(i)
        val typ = ascii(i + 4, i + 8)
        var hdr = 8L
        val boxSize =
          if (size32 == 1L) { hdr = 16L; if (i + 16 <= until) be64(i + 8) else -1L }
          else if (size32 == 0L) (until - i).toLong
          else size32
        if (boxSize < hdr || i + boxSize > until) ok = false
        else { f(typ, i + hdr.toInt, i + boxSize.toInt); i += boxSize.toInt }
      }
    }
    if (bytes == null || bytes.length < 16 || ascii(4, 8) != "ftyp") return None
    val MaxSamples = 1 << 20 // absurd-count guard on corrupt tables
    var sizes: Array[Long] = null // per-sample; null with fixedSize > 0 = constant
    var fixedSize = 0L
    var nSamples = 0L
    var chunkOffs: Array[Long] = null
    var stscRuns: Array[(Long, Long)] = null // (first_chunk 1-based, samples_per_chunk)
    var isJpeg = false
    var captured = false
    walk(0, bytes.length) {
      case ("moov", ms, me) => walk(ms, me) {
        case ("trak", ts, te) if !captured => walk(ts, te) {
          case ("mdia", ds, de) => walk(ds, de) {
            case ("minf", fs, fe) => walk(fs, fe) {
              case ("stbl", bs, be) =>
                var jpeg = false
                var sz: Array[Long] = null; var fx = 0L; var n = 0L
                var co: Array[Long] = null; var sc: Array[(Long, Long)] = null
                walk(bs, be) {
                  case ("stsd", s, e) =>
                    // v/f(4) entry_count(4) then [size(4) fourcc(4) …]
                    if (e - s >= 16) jpeg = ascii(s + 12, s + 16) == "jpeg"
                  case ("stsz", s, e) if e - s >= 12 =>
                    fx = be32(s + 4)
                    n = math.min(be32(s + 8), MaxSamples)
                    if (fx == 0L && e - s >= 12 + 4 * n)
                      sz = Array.tabulate(n.toInt)(k => be32(s + 12 + 4 * k))
                  case ("stsc", s, e) if e - s >= 8 =>
                    val cnt = math.min(be32(s + 4), MaxSamples)
                    if (e - s >= 8 + 12 * cnt)
                      sc = Array.tabulate(cnt.toInt)(k =>
                        (be32(s + 8 + 12 * k), be32(s + 12 + 12 * k)))
                  case ("stco", s, e) if e - s >= 8 =>
                    val cnt = math.min(be32(s + 4), MaxSamples)
                    if (e - s >= 8 + 4 * cnt)
                      co = Array.tabulate(cnt.toInt)(k => be32(s + 8 + 4 * k))
                  case ("co64", s, e) if e - s >= 8 =>
                    val cnt = math.min(be32(s + 4), MaxSamples)
                    if (e - s >= 8 + 8 * cnt)
                      co = Array.tabulate(cnt.toInt)(k => be64(s + 8 + 8 * k))
                  case _ =>
                }
                if (jpeg && n > 0 && co != null && sc != null &&
                    (sz != null || fx > 0L)) {
                  isJpeg = true; captured = true
                  sizes = sz; fixedSize = fx; nSamples = n
                  chunkOffs = co; stscRuns = sc
                }
              case _ =>
            }
            case _ =>
          }
          case _ =>
        }
        case _ =>
      }
      case _ =>
    }
    if (!isJpeg) None
    else Some(new Iterator[Array[Byte]] {
      private var sample = 0 // 0-based global sample index
      private var chunk = 0 // 0-based chunk index
      private var inChunk = 0 // sample index within chunk
      private var offset: Long = if (chunkOffs.nonEmpty) chunkOffs(0) else -1L
      private def samplesPerChunk(c: Int): Long = {
        // stsc runs: last run whose first_chunk (1-based) <= c+1
        var spc = 1L
        var k = 0
        while (k < stscRuns.length && stscRuns(k)._1 <= c + 1) {
          spc = stscRuns(k)._2; k += 1
        }
        spc
      }
      private def sizeOf(s: Int): Long = if (sizes != null) sizes(s) else fixedSize
      private def inRange: Boolean = {
        if (sample >= nSamples || chunk >= chunkOffs.length || offset < 0) false
        else {
          val sz = sizeOf(sample)
          sz > 0 && offset + sz <= bytes.length
        }
      }
      def hasNext: Boolean = inRange
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("no more MP4 samples")
        val sz = sizeOf(sample).toInt
        val out = java.util.Arrays.copyOfRange(bytes, offset.toInt, offset.toInt + sz)
        sample += 1; inChunk += 1; offset += sz
        if (inChunk >= samplesPerChunk(chunk)) {
          chunk += 1; inChunk = 0
          offset = if (chunk < chunkOffs.length) chunkOffs(chunk) else -1L
        }
        out
      }
    })
  }

  /** Chained decode stages carry ONE `decoded` flag — the latest
    * stage's. Appending a second column of the same name would make
    * every downstream `col("decoded")` ambiguous and parquet writes
    * fail; callers wanting the upstream stage's flag rename it before
    * chaining.
    */
  private def dropDecoded(df: DataFrame): DataFrame =
    if (df.columns.contains("decoded")) df.drop("decoded") else df

  /** First rasterizable content of a payload: a still image
    * (PNG/BMP/GIF/JPEG) directly, the first decodable video sample of
    * an MJPEG / uncompressed-DIB / RLE8-DIB AVI, or the first sample of
    * an MJPEG-in-MP4 `jpeg` track. None means no codec here can
    * rasterize it — the callers' stub fallbacks apply, flagged
    * `decoded = false`.
    */
  private def firstRaster(bytes: Array[Byte]): Option[PixelCodec.RgbImage] =
    PixelCodec.decodeImage(bytes)
      .orElse(aviVideoSamples(bytes).flatMap { samples =>
        val fmt = aviVideoFormat(bytes)
        samples.map(decodeAviSample(fmt, _)).collectFirst { case Some(img) => img }
      })
      .orElse(mp4VideoSamples(bytes).flatMap(samples =>
        samples.map(PixelCodec.decodeImage).collectFirst { case Some(img) => img }))

  /** Feature dimension of [[decodeFeatures]] (4×2 luma grid; the
    * digest fallback emits the same width).
    */
  val StubDims = 8

  /** FALLBACK — deterministic digest features for payloads no codec
    * here can rasterize: derives `StubDims` floats from the content
    * digest, always flagged `decoded = false` so a downstream pipeline
    * can machine-distinguish them from real features at any scale.
    * Recognized rasters — PNG/BMP/GIF/JPEG stills and MJPEG AVI
    * samples — never reach this path, see [[decodeFeatures]].
    */
  private[ext] def stubFeatures(bytes: Array[Byte]): Array[Float] = {
    val digest = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    (0 until StubDims).map { i =>
      // two digest bytes per dim → [-1, 1)
      (((digest(2 * i) & 0xff) << 8 | (digest(2 * i + 1) & 0xff)) - 32768) / 32768.0f
    }.toArray
  }

  /** Batched per-partition decode + feature extract — REAL for
    * PNG/BMP/GIF/JPEG payloads ([[PixelCodec.decodeImage]] rasterizes
    * the container: zlib inflate + unfilter / LZW / Huffman+IDCT incl.
    * progressive) AND for MJPEG AVI video (first sample rasterized via
    * [[aviVideoSamples]] + the JPEG codec); [[PixelCodec.pooledLuma]]
    * grid-pools mean luminance into a `StubDims`-wide embedding. The
    * remaining unrasterizable payloads fall back to [[stubFeatures]].
    * Returns (passthrough columns..., features array<float>, decoded
    * boolean) — `decoded = false` marks the digest fallback, so stub
    * outputs are machine-distinguishable at runtime.
    */
  def decodeFeatures(df: DataFrame, binCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val in = dropDecoded(df) // chained ops REPLACE the flag, never duplicate it
    val spark = in.sparkSession
    val schema = StructType(in.schema.fields ++ Seq(
      StructField("features", ArrayType(FloatType)),
      StructField("decoded", BooleanType, nullable = false)))
    val binIdx = in.schema.fieldIndex(binCol)
    val rdd = in.rdd.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val (feats, decoded) = firstRaster(bytes) match {
          case Some(img) => (PixelCodec.pooledLuma(img, 4, 2), true)
          case None => (stubFeatures(bytes), false)
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(feats.toSeq, decoded))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** FALLBACK — digest stand-in for resize of payloads no pure-JDK
    * codec can rasterize; recognized rasters take the real path in
    * [[resize]].
    */
  private[ext] def stubResize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes ++ s"${w}x$h".getBytes("UTF-8"))

  /** Image resize stage — REAL for PNG/BMP/GIF/JPEG stills and MJPEG
    * AVI first samples: decode ([[firstRaster]]) → nearest-neighbor
    * resample → PNG re-encode with real CRCs ([[PixelCodec.encodePng]]);
    * the output binary decodes in any PNG reader. Unrasterizable
    * payloads fall back to [[stubResize]], flagged `decoded = false`.
    * Per-partition batched; row count unchanged; binary stays columnar
    * and never shuffles.
    */
  def resize(df: DataFrame, binCol: String, width: Int, height: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val in = dropDecoded(df) // chained ops REPLACE the flag, never duplicate it
    val spark = in.sparkSession
    val schema = StructType(in.schema.fields ++ Seq(
      StructField("resized", BinaryType),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val binIdx = in.schema.fieldIndex(binCol)
    val rdd = in.rdd.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val (resized, decoded) = firstRaster(bytes) match {
          case Some(img) =>
            (PixelCodec.encodePng(PixelCodec.resizeNearest(img, width, height)), true)
          case None => (stubResize(bytes, width, height), false)
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(resized, width, height, decoded))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** FALLBACK frame model for containers without a pure-JDK sample
    * decoder (MP4 et al): frame count derived from payload length (one
    * per 256 bytes, ≥1), frame bytes a digest of (payload, index),
    * always flagged `decoded = false`. GIF and MJPEG AVI payloads
    * never reach this — see [[frameSample]].
    */
  private[ext] def stubFrameCount(bytes: Array[Byte]): Int =
    math.max(1, bytes.length / 256)

  private[ext] def stubFrame(bytes: Array[Byte], idx: Int): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes ++ s"frame:$idx".getBytes("UTF-8"))

  /** Video frame sampling: one output row per kept frame — every
    * `everyNth` frame up to `maxFrames` per video. REAL for animated
    * GIF ([[PixelCodec.decodeGifFrames]] LZW-decodes and composites
    * each frame, disposal + transparency honored), for MJPEG /
    * uncompressed-DIB / RLE8-DIB AVI ([[aviVideoSamples]] walks the
    * `movi` list; JPEG samples self-decode, DIB samples decode against
    * the stream's `strf` header via [[PixelCodec.decodeDib]]), and for
    * MJPEG-in-MP4 ([[mp4VideoSamples]] walks the `jpeg` track's sample
    * tables); kept frames are re-encoded as standalone PNGs with
    * `decoded = true`. Other containers use the digest fallback
    * above, flagged `decoded = false`. The 1→N explode happens inside
    * the per-partition iterator (lazily — no frame list materialized
    * per video), which is the production demux shape: a container is
    * opened once and frames stream out. Output adds (frame_idx int,
    * frame binary, decoded boolean).
    */
  def frameSample(df: DataFrame, binCol: String,
      everyNth: Int = 1, maxFrames: Int = Int.MaxValue): DataFrame = {
    require(everyNth >= 1 && maxFrames >= 1)
    import org.apache.spark.sql.types._
    val in = dropDecoded(df) // chained ops REPLACE the flag, never duplicate it
    val spark = in.sparkSession
    val schema = StructType(in.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType),
      StructField("decoded", BooleanType, nullable = false)))
    val binIdx = in.schema.fieldIndex(binCol)
    val rdd = in.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        def row(i: Int, frame: Array[Byte], decoded: Boolean) =
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(i, frame, decoded))
        PixelCodec.decodeGifFrames(bytes) match {
          case Some(frames) =>
            frames.iterator.zipWithIndex
              .filter(_._2 % everyNth == 0).take(maxFrames).map { case (f, i) =>
                row(i, PixelCodec.encodePng(f.image), decoded = true)
              }
          case None => aviVideoSamples(bytes) match {
            case Some(samples) =>
              val fmt = aviVideoFormat(bytes)
              samples.zipWithIndex
                .filter(_._2 % everyNth == 0).take(maxFrames).map { case (sample, i) =>
                  decodeAviSample(fmt, sample) match {
                    case Some(img) => row(i, PixelCodec.encodePng(img), decoded = true)
                    // a corrupt sample inside a well-formed AVI: emit
                    // the flagged digest stand-in, never silently real
                    case None => row(i, stubFrame(bytes, i), decoded = false)
                  }
                }
            case None => mp4VideoSamples(bytes) match {
              case Some(samples) =>
                samples.zipWithIndex
                  .filter(_._2 % everyNth == 0).take(maxFrames).map { case (jpeg, i) =>
                    PixelCodec.decodeImage(jpeg) match {
                      case Some(img) => row(i, PixelCodec.encodePng(img), decoded = true)
                      case None => row(i, stubFrame(bytes, i), decoded = false)
                    }
                  }
              case None =>
                (0 until stubFrameCount(bytes) by everyNth).iterator.take(maxFrames)
                  .map(i => row(i, stubFrame(bytes, i), decoded = false))
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}

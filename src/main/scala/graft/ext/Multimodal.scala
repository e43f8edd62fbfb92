package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (build brief): image/audio/video payloads
  * as opaque `binary` columns with typed metadata, plus the pre-decode
  * chunking stage. Container HEADER parsing (PNG/GIF/JPEG/BMP dims,
  * WAV, MP4) is a REAL, pure-JDK implementation of the public formats,
  * and the synthetic payload builders write valid containers for the
  * oracle queries to parse back. Pixel and video-sample decoding are
  * not part of the shipped surface: no query reads pixels.
  *
  * Scale notes: binary payloads never shuffle — metadata extraction is a
  * narrow projection, and downstream joins/aggregations use the parsed
  * columns. Header parsing runs in `mapPartitions` over batched rows
  * (amortizing parser state per partition, exactly like a Pandas-UDF
  * batch on the PySpark side).
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

  /** Batched per-partition header decode over an opaque binary column:
    * adds `img_format` / `width` / `height` (null for unrecognized
    * payloads). The parser behind it is REAL ([[parseImageDims]]) —
    * binary stays row-local, nothing shuffles.
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
}

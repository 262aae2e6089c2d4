package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing: media travels as an
  * opaque `binary` column plus a typed metadata struct; decode /
  * feature-extraction / resize / frame-sampling run as batch-iterator
  * `mapPartitions` operators (the Scala analogue of `mapInPandas` —
  * one partition = one batch through the codec).
  *
  * Image metadata decode is REAL: `withMediaMeta` runtime-detects
  * `javax.imageio` (present on every standard JDK) and reads
  * format/width/height from the image header — header-only, the pixel
  * payload is never decoded, so the per-row cost is O(header) not
  * O(pixels). Payloads no installed reader recognizes (and all media
  * when ImageIO is absent, e.g. a stripped runtime image without
  * `java.desktop`) fall back to the deterministic `decodeStub` — the
  * same detect-or-stub seam as the PDF extractor (io/FileStore S9).
  * Audio header decode is REAL too: `withAudioMeta` runtime-detects
  * `javax.sound.sampled` (also part of `java.desktop`) and reads
  * container/channels/sample-rate/frame-count from WAV/AIFF/AU headers
  * — again header-only, no sample data decoded. Image RESIZE is real
  * for ImageIO-recognized payloads (`resizeImages`: decode, bilinear
  * scale via `Graphics2D` on a headless `BufferedImage`, re-encode
  * PNG); that one is O(pixels) by nature and says so below. Video
  * CONTAINER metadata is REAL as well: `withVideoMeta` walks ISO-BMFF
  * (MP4/MOV) boxes byte-by-byte — brand, movie duration, track
  * dimensions — needing no library at all. Frame extraction is REAL
  * for animated GIFs (`sampleFrames` → `extractGifFrames`: ImageIO
  * decodes every frame of the one motion format in the JDK) and audio
  * FEATURE extraction is real for PCM WAV/AIFF/AU
  * (`withAudioFeatures`: decode samples, compute RMS/peak/
  * zero-crossing). What remains honestly stubbed is anything
  * requiring a codec or model outside the JDK: compressed-video frame
  * decode (`sampleFrames` slices bytes for MP4/WebM) and LEARNED
  * feature extraction (`featureStub` byte histogram, no embedding
  * model in this runtime). The
  * Spark-side contract — schema, partitioning, batch shape, null
  * behavior — is real and tested, and swapping a real codec in
  * changes one function.
  *
  * Scale notes: binary payloads stay columnar (parquet/binaryFile) and
  * never pass through the driver; feature extraction is map-side only;
  * `spark.sql.files.maxPartitionBytes` governs batch sizing for large
  * blobs.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** Ingest a directory of raw files as a media table:
    * (path, modificationTime, length, content). Spark's binaryFile
    * source handles splitting/listing at scale.
    */
  def readBinaryDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)

  /** Deterministic fake "decode": byte 0,1 → width, byte 2,3 → height,
    * first printable run → format tag. Stands in for an image decoder.
    */
  def decodeStub(bytes: Array[Byte]): Row =
    if (bytes == null || bytes.isEmpty) Row(null, null, null, 0L)
    else Row(
      if (bytes.length >= 4) f"fmt${bytes(0) & 0x03}" else "unknown",
      if (bytes.length >= 2) ((bytes(0) & 0xff) << 8 | (bytes(1) & 0xff)) else 0,
      if (bytes.length >= 4) ((bytes(2) & 0xff) << 8 | (bytes(3) & 0xff)) else 0,
      bytes.length.toLong)

  /** True iff `javax.imageio` is loadable in this runtime (it is on any
    * standard JDK; a jlink-stripped image without `java.desktop` lacks
    * it). Checked once per JVM — executors each evaluate their own copy.
    */
  private lazy val imageIoAvailable: Boolean =
    try { Class.forName("javax.imageio.ImageIO"); true }
    catch { case _: Throwable => false }

  /** Real image-header decode via ImageIO: format name (png/jpeg/gif/
    * bmp/…) and pixel dimensions read from the HEADER ONLY — the reader
    * is never asked for pixel data, so cost is O(header bytes) per blob
    * regardless of image size. None when no installed reader recognizes
    * the payload (caller falls back to `decodeStub`).
    */
  def decodeImage(bytes: Array[Byte]): Option[Row] = {
    if (!imageIoAvailable || bytes == null || bytes.length < 8) return None
    try {
      // MemoryCacheImageInputStream, NOT ImageIO.createImageInputStream:
      // the factory defaults to a FileCacheImageInputStream for stream
      // sources (one temp file created+deleted per row on the hot map
      // path); the bytes are already in memory
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            // Locale.ROOT: default-locale lowercasing is not portable
            // (Turkish-family locales dot-map I/i differently)
            Some(Row(reader.getFormatName.toLowerCase(java.util.Locale.ROOT),
              reader.getWidth(0), reader.getHeight(0), bytes.length.toLong))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case _: Throwable => None }
  }

  /** Metadata for one blob: real ImageIO header decode when a reader
    * recognizes the payload, deterministic stub otherwise.
    */
  /** Real WebP header decode — the crawl web's most common format the
    * JDK has NO reader for, and exactly the case where a pure byte
    * walk suffices: RIFF container sniff, then per-variant dimension
    * fields — VP8X extended header (24-bit canvas w−1/h−1), VP8L
    * lossless (14-bit packed w−1/h−1 after the 0x2f signature), VP8
    * lossy (14-bit w/h after the 0x9d012a start code). O(header),
    * None (→ stub) on anything malformed.
    */
  def decodeWebp(bytes: Array[Byte]): Option[Row] =
    // ONE parser shared with the `webp_dims` codegen expression
    // (functions.ImageWire) — the twins can never drift
    Option(graft.functions.ImageWire.webpFields(bytes))
      .map(m => Row("webp", m.width, m.height, bytes.length.toLong))

  /** Real PNG header decode — ONE IHDR parser shared with the
    * `png_dims` codegen expression (functions.ImageWire). None (→ the
    * ImageIO fallback, then the stub) on anything the strict walk
    * rejects.
    */
  def decodePng(bytes: Array[Byte]): Option[Row] =
    Option(graft.functions.ImageWire.pngFields(bytes))
      .map(m => Row("png", m.width, m.height, bytes.length.toLong))

  /** Real JPEG header decode — ONE SOF segment walk shared with the
    * `jpeg_dims` codegen expression (functions.ImageWire). None on
    * anything the strict walk rejects — ImageIO remains the fallback
    * for payloads the byte walk is too strict for.
    */
  def decodeJpeg(bytes: Array[Byte]): Option[Row] =
    Option(graft.functions.ImageWire.jpegFields(bytes))
      .map(m => Row("jpeg", m.width, m.height, bytes.length.toLong))

  def decodeMediaMeta(bytes: Array[Byte]): Row =
    // pure byte walks first: each magic sniff is ~free and PNG/JPEG/
    // WebP dominate the crawl web, where a futile-or-not ImageIO
    // provider search (stream setup + per-provider probes) costs real
    // per-row time; ImageIO stays as the fallback for every format
    // without a native walk (GIF/BMP/…) and for walk-rejected payloads
    decodeWebp(bytes)
      .orElse(decodePng(bytes))
      .orElse(decodeJpeg(bytes))
      .orElse(decodeImage(bytes))
      .getOrElse(decodeStub(bytes))

  /** Attach the decoded metadata struct — batch-iterator operator.
    * Real image formats (PNG/JPEG/GIF/BMP/… — whatever readers the JVM
    * ships) get true format/width/height; unrecognized payloads get the
    * stub header parse, keeping the column total and deterministic.
    */
  def withMediaMeta(df: DataFrame, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField("media_meta", mediaMetaSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          Row.fromSeq(r.toSeq :+ decodeMediaMeta(bytes))
        }
      }, schema)
  }

  /** EXIF orientation (1–8) for JPEG payloads, NULL otherwise — the
    * flag every crop/resize must honor before touching pixels (a
    * rotated-by-metadata photo is silently transposed otherwise). A
    * REAL header parse via the native `exif_orientation` codegen
    * expression (SOI → APP1 `Exif\0\0` → TIFF IFD0 tag 0x0112): pure
    * column work, O(header) per blob, stays inside whole-stage
    * codegen.
    */
  def withExifOrientation(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("exif_orientation",
      graft.Graft.exifOrientation(col(binCol)))

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", FloatType),
    StructField("bits_per_sample", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_sec", DoubleType),
    StructField("n_bytes", LongType)))

  /** True iff `javax.sound.sampled` is loadable (part of `java.desktop`
    * like ImageIO; absent only on jlink-stripped runtimes).
    */
  private lazy val javaSoundAvailable: Boolean =
    try { Class.forName("javax.sound.sampled.AudioSystem"); true }
    catch { case _: Throwable => false }

  /** Real audio-header decode via javax.sound: container type (wave/
    * aiff/au), channel count, sample rate, bit depth and frame count
    * read from the HEADER ONLY — `getAudioFileFormat` never touches
    * sample data, so cost is O(header) per blob regardless of clip
    * length. None when no installed provider recognizes the payload
    * (caller falls back to `audioStub`).
    */
  def decodeAudio(bytes: Array[Byte]): Option[Row] = {
    if (!javaSoundAvailable || bytes == null || bytes.length < 12) return None
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val f = aff.getFormat
      // getFrameLength may legally be AudioSystem.NOT_SPECIFIED (-1) —
      // a header that doesn't carry the count; surface null, not -1
      // (which would silently poison sums/filters downstream)
      val rawFrames = aff.getFrameLength.toLong
      val frames: Any = if (rawFrames >= 0) rawFrames else null
      val duration =
        if (f.getFrameRate > 0 && rawFrames >= 0)
          rawFrames / f.getFrameRate.toDouble
        else null
      Some(Row(
        aff.getType.toString.toLowerCase(java.util.Locale.ROOT),
        f.getChannels, f.getSampleRate, f.getSampleSizeInBits, frames,
        duration, bytes.length.toLong))
    } catch { case _: Throwable => None }
  }

  /** Real MP3 frame-header decode — the most common compressed audio
    * format, which javax.sound has no provider for; another
    * bytes-suffice case: optional ID3v2 skip (syncsafe 28-bit size),
    * then the 4-byte MPEG audio frame header (11-bit sync, version,
    * Layer III check, sample-rate index, channel mode). Only fields
    * the header truly states are surfaced: format/channels/rate;
    * bit depth, frame count and duration stay NULL (a lossy stream
    * has no PCM depth, and frame count/duration need a full-file scan
    * under VBR — claiming them from one header would be a guess).
    * O(header); None (→ stub) on anything malformed or non-Layer-III.
    */
  def decodeMp3(bytes: Array[Byte]): Option[Row] =
    // the byte walk lives in functions.AudioWire (ONE parser shared
    // with the `mp3_header` codegen expression, so the columnar twin
    // can never drift from this row-level decoder)
    Option(graft.functions.AudioWire.mp3Fields(bytes)).map { f =>
      Row("mp3", f(0).toInt, f(1).toFloat, null, null, null,
        bytes.length.toLong)
    }

  /** Real FLAC STREAMINFO decode — unlike MP3, FLAC's mandatory first
    * metadata block states EVERYTHING: 20-bit sample rate, channels,
    * bit depth, and the exact 36-bit total-sample count, so exact
    * duration comes from the header with no stream scan. Pure byte
    * walk ("fLaC" magic + STREAMINFO block type 0), O(header), None
    * (→ stub) on anything malformed.
    */
  def decodeFlac(bytes: Array[Byte]): Option[Row] =
    // byte walk shared with the `flac_streaminfo` codegen expression
    // via functions.AudioWire — one parser, two surfaces
    Option(graft.functions.AudioWire.flacFields(bytes)).map { f =>
      val samples = f(3)
      // totalSamples = 0 legally means "unknown" — surface null, not 0
      val frames: Any = if (samples > 0) samples else null
      val duration: Any =
        if (samples > 0) samples.toDouble / f(1).toDouble else null
      Row("flac", f(0).toInt, f(1).toFloat, f(2).toInt, frames, duration,
        bytes.length.toLong)
    }

  /** Deterministic fake audio header for payloads javax.sound does not
    * recognize (or when the module is absent): pure byte arithmetic,
    * clearly fake values, total over any input.
    */
  def audioStub(bytes: Array[Byte]): Row =
    if (bytes == null || bytes.isEmpty)
      Row(null, null, null, null, 0L, null, 0L)
    else {
      val channels = (bytes(0) & 1) + 1
      val rate = 8000f * ((bytes(math.min(1, bytes.length - 1)) & 3) + 1)
      val bits = 8 * ((bytes(math.min(2, bytes.length - 1)) & 1) + 1)
      val frames = bytes.length.toLong / (channels * bits / 8)
      Row("pcmstub", channels, rate, bits, frames, frames / rate.toDouble,
        bytes.length.toLong)
    }

  /** Attach decoded audio metadata — batch-iterator operator. Real
    * WAV/AIFF/AU header fields when javax.sound recognizes the payload,
    * the deterministic stub otherwise (same seam as `withMediaMeta`).
    */
  def withAudioMeta(df: DataFrame, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField("audio_meta", audioMetaSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          Row.fromSeq(r.toSeq :+ decodeAudio(bytes)
            .orElse(decodeFlac(bytes))
            .orElse(decodeMp3(bytes)).getOrElse(audioStub(bytes)))
        }
      }, schema)
  }

  val videoMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("timescale", LongType),
    StructField("duration_sec", DoubleType),
    StructField("n_bytes", LongType)))

  /** Real video-container header decode: a pure byte-level ISO-BMFF
    * (MP4/MOV/3GP, ISO/IEC 14496-12) box walk — `ftyp` gives the major
    * brand, `moov/mvhd` the movie timescale + duration (v0 and v1
    * boxes), and the first `trak/tkhd` with nonzero dimensions the
    * presentation width×height (16.16 fixed-point; audio-only files
    * report 0×0 honestly). No codec library involved — box headers are
    * length-prefixed, so cost is O(boxes), never O(media). None when
    * the payload is not ISO-BMFF or the structure is malformed (caller
    * falls back to `videoStub`). Frame DECODE (pixels) still needs a
    * real codec and stays behind `sampleFrames`' stub.
    */
  def decodeVideo(bytes: Array[Byte]): Option[Row] =
    // the box walk lives in functions.VideoWire (ONE parser shared
    // with the `mp4_meta` codegen expression, so the columnar twin
    // can never drift from this row-level decoder)
    Option(graft.functions.VideoWire.bmffFields(bytes)).map { m =>
      Row(m.brand, m.width, m.height, m.timescale,
        if (m.durationUnits >= 0)
          m.durationUnits.toDouble / m.timescale
        else null,
        bytes.length.toLong)
    }

  /** Deterministic fake video header for non-ISO-BMFF payloads: pure
    * byte arithmetic, clearly fake values, total over any input.
    */
  def videoStub(bytes: Array[Byte]): Row =
    if (bytes == null || bytes.isEmpty)
      Row(null, null, null, 0L, null, 0L)
    else Row("rawstub",
      ((bytes(0) & 0xff) << 4) + 16,
      ((bytes(math.min(1, bytes.length - 1)) & 0xff) << 4) + 16,
      90000L, bytes.length / 90000.0, bytes.length.toLong)

  /** Attach decoded video-container metadata — batch-iterator operator.
    * Real brand/dimensions/duration for ISO-BMFF payloads, the
    * deterministic stub otherwise (same seam as `withMediaMeta`).
    */
  def withVideoMeta(df: DataFrame, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField("video_meta", videoMetaSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          Row.fromSeq(r.toSeq :+ decodeVideo(bytes).getOrElse(videoStub(bytes)))
        }
      }, schema)
  }

  /** Real image resize: decode via ImageIO, scale to fit inside
    * maxW×maxH preserving aspect ratio (never upscales), bilinear
    * `Graphics2D` interpolation on a headless `BufferedImage`,
    * re-encode as PNG. Unlike the header decodes this is O(pixels) —
    * the price of a real resample. Returns the ORIGINAL bytes when the
    * image already fits (no lossy round-trip), None when no reader
    * recognizes the payload.
    */
  def resizeImage(bytes: Array[Byte], maxW: Int, maxH: Int): Option[Array[Byte]] = {
    if (!imageIoAvailable || bytes == null || bytes.length < 8) return None
    require(maxW > 0 && maxH > 0, s"resize bounds must be positive: ${maxW}x$maxH")
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
      if (scale >= 1.0) return Some(bytes)
      val (nw, nh) = (math.max(1, math.round(w * scale).toInt),
        math.max(1, math.round(h * scale).toInt))
      val out = new java.awt.image.BufferedImage(
        nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, nw, nh, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    } catch { case _: Throwable => None }
  }

  /** Deterministic resize stand-in for non-image payloads: stride-sample
    * the bytes down to at most maxW*maxH, preserving prefix order.
    */
  def resizeStub(bytes: Array[Byte], maxW: Int, maxH: Int): Array[Byte] = {
    if (bytes == null) return Array.emptyByteArray
    val cap = maxW * maxH
    if (bytes.length <= cap) bytes
    else {
      val stride = math.ceil(bytes.length.toDouble / cap).toInt
      bytes.indices.collect { case i if i % stride == 0 => bytes(i) }.toArray
    }
  }

  /** Attach a bounded-size `resized` binary column — batch-iterator
    * operator. ImageIO-recognized payloads get a true bilinear resample
    * (PNG-encoded); everything else gets the deterministic stride stub.
    * Payloads never cross the driver; the per-row cost is O(pixels) for
    * real images, O(bytes) otherwise.
    */
  def resizeImages(df: DataFrame, binCol: String, maxW: Int, maxH: Int): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField("resized", BinaryType))
    val binIdx = df.schema.fieldIndex(binCol)
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          Row.fromSeq(r.toSeq :+
            resizeImage(bytes, maxW, maxH).getOrElse(resizeStub(bytes, maxW, maxH)))
        }
      }, schema)
  }

  /** Deterministic feature extraction stub: normalized 16-bin byte
    * histogram (stands in for an embedding model over pixels/samples).
    */
  def featureStub(bytes: Array[Byte], bins: Int = 16): Array[Float] = {
    val h = new Array[Float](bins)
    if (bytes == null || bytes.isEmpty) return h
    bytes.foreach(b => h((b & 0xff) * bins / 256) += 1f)
    val n = bytes.length.toFloat
    h.map(_ / n)
  }

  /** Columnar feature extraction: the native `byte_histogram` codegen
    * expression — the whole-stage-codegen form of `withFeatures`. The
    * preferred path whenever the "codec" is byte arithmetic (no library
    * call): the payload never leaves Tungsten rows, and operators
    * downstream stay codegen'd. Null payloads get the all-zero vector,
    * matching `featureStub`.
    */
  def withFeaturesColumnar(df: DataFrame, binCol: String,
                           bins: Int = 16): DataFrame =
    df.withColumn("features",
      coalesce(graft.Graft.byteHistogram(col(binCol), bins),
        array((0 until bins).map(_ => lit(0f)): _*)))

  /** Columnar media metadata: the decode-STUB header arithmetic as pure
    * column expressions (`substring`/`hex`/`conv` work on binary), so
    * metadata extraction stays codegen'd — same output as
    * `withMediaMeta`'s fallback path (i.e. for payloads no ImageIO
    * reader recognizes; real image formats need the library call and go
    * through `withMediaMeta`).
    */
  def withMediaMetaColumnar(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    def byteAt(pos: Int, len: Int) =
      conv(hex(substring(bin, pos, len)), 16, 10).cast("int")
    df.withColumn("media_meta",
      when(bin.isNull || length(bin) === 0,
        struct(lit(null).cast("string").as("format"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          coalesce(length(bin).cast("long"), lit(0L)).as("n_bytes")))
      .otherwise(struct(
        when(length(bin) >= 4,
          concat(lit("fmt"), pmod(byteAt(1, 1), lit(4)).cast("string")))
          .otherwise(lit("unknown")).as("format"),
        when(length(bin) >= 2, byteAt(1, 2)).otherwise(lit(0)).as("width"),
        when(length(bin) >= 4, byteAt(3, 2)).otherwise(lit(0)).as("height"),
        length(bin).cast("long").as("n_bytes"))))
  }

  /** Attach a feature vector column — batch-iterator operator (the
    * template for REAL codecs, which need library calls per batch; for
    * the byte-arithmetic stub prefer `withFeaturesColumnar`).
    */
  def withFeatures(df: DataFrame, binCol: String, bins: Int = 16): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          Row.fromSeq(r.toSeq :+ featureStub(bytes, bins).toSeq)
        }
      }, schema)
  }

  /** Real frame extraction for animated GIFs: ImageIO's GIF reader
    * decodes every frame of a multi-image stream natively (the one
    * motion format a bare JVM can actually open). Returns every
    * `stride`-th frame re-encoded as PNG, with its index in the
    * original sequence. O(pixels × frames read) — the price of real
    * decode. None when the payload is not a GIF or has no frames
    * (caller falls back to the byte-slice stub).
    */
  def extractGifFrames(bytes: Array[Byte], stride: Int): Option[Seq[(Int, Array[Byte])]] = {
    if (!imageIoAvailable || bytes == null || bytes.length < 6) return None
    // sniff the GIF87a/GIF89a magic before spinning up a reader
    if (!(bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')) return None
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true) // allowSearch: scans the stream
          if (n <= 0) return None
          val out = (0 until n by math.max(1, stride)).map { i =>
            val frame = reader.read(i)
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(frame, "png", bos)
            (i, bos.toByteArray)
          }
          Some(out)
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Throwable => None }
  }

  /** Frame sampling — batch-iterator operator exploding 1 media row →
    * n frame rows (the shape a video pipeline needs). Animated GIFs get
    * REAL decoded frames (every `stride`-th frame, PNG-encoded, true
    * sequence index) via `extractGifFrames`; every other payload gets
    * the deterministic byte-slice stub (every `stride`-th `frameSize`
    * chunk) — real frame decode for MP4/WebM needs a codec library this
    * runtime lacks, and says so rather than faking it.
    */
  def sampleFrames(df: DataFrame, binCol: String, frameSize: Int = 64,
                   stride: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val binIdx = df.schema.fieldIndex(binCol)
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType)))
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.flatMap { r =>
          val bytes = if (r.isNullAt(binIdx)) Array.emptyByteArray
            else r.getAs[Array[Byte]](binIdx)
          extractGifFrames(bytes, stride) match {
            case Some(frames) =>
              frames.iterator.map { case (i, png) =>
                Row.fromSeq(r.toSeq ++ Seq(i, png))
              }
            case None =>
              val nFrames = math.max(bytes.length / (frameSize * stride), 0)
              (0 until nFrames).iterator.map { i =>
                val start = i * frameSize * stride
                Row.fromSeq(r.toSeq ++ Seq(i,
                  bytes.slice(start, math.min(start + frameSize, bytes.length))))
              }
          }
        }
      }, schema)
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("rms", DoubleType),
    StructField("peak", DoubleType),
    StructField("zero_cross_rate", DoubleType),
    StructField("n_samples", LongType)))

  /** REAL audio signal features: decode the PCM sample data via
    * javax.sound (WAV/AIFF/AU — the formats whose decode IS in the
    * JDK), then compute root-mean-square energy, peak amplitude and
    * zero-crossing rate over the first channel, all normalized to
    * [-1, 1] full scale. Supports 8-bit (signed/unsigned) and 16-bit
    * PCM, both endiannesses. O(samples) — this one reads the data, not
    * just the header. None for payloads javax.sound cannot decode
    * (caller falls back to `audioFeatureStub`).
    */
  def audioFeatures(bytes: Array[Byte]): Option[Row] = {
    if (!javaSoundAvailable || bytes == null || bytes.length < 12) return None
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val enc = f.getEncoding
        val pcmSigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val pcmUnsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val bits = f.getSampleSizeInBits
        if (!(pcmSigned || pcmUnsigned) || (bits != 8 && bits != 16)) return None
        val frameBytes = f.getFrameSize
        val bytesPerSample = bits / 8
        val data = ais.readAllBytes()
        if (frameBytes <= 0 || data.length < frameBytes) return None
        val n = data.length / frameBytes
        val fullScale = if (bits == 8) 128.0 else 32768.0
        var sumSq = 0.0; var peak = 0.0; var crossings = 0L
        var prevSign = 0; var i = 0
        while (i < n) {
          val off = i * frameBytes // first channel of the frame
          val raw: Int =
            if (bits == 8) {
              val b = data(off) & 0xff
              if (pcmUnsigned) b - 128 else data(off).toInt
            } else {
              val (lo, hi) = if (f.isBigEndian) (off + 1, off) else (off, off + 1)
              val v = ((data(hi) & 0xff) << 8) | (data(lo) & 0xff)
              val s = if (pcmUnsigned) v - 32768 else v.toShort.toInt
              s
            }
          val x = raw / fullScale
          sumSq += x * x
          val ax = math.abs(x); if (ax > peak) peak = ax
          val sign = if (raw > 0) 1 else if (raw < 0) -1 else 0
          if (sign != 0) {
            if (prevSign != 0 && sign != prevSign) crossings += 1
            prevSign = sign
          }
          i += 1
        }
        Some(Row(math.sqrt(sumSq / n), peak,
          if (n > 1) crossings.toDouble / (n - 1) else 0.0, n.toLong))
      } finally ais.close()
    } catch { case _: Throwable => None }
  }

  /** Deterministic stand-in features for payloads javax.sound cannot
    * decode: bytes interpreted as signed 8-bit full-scale samples —
    * same three statistics, pure arithmetic, total over any input.
    */
  def audioFeatureStub(bytes: Array[Byte]): Row =
    if (bytes == null || bytes.isEmpty) Row(null, null, null, 0L)
    else {
      var sumSq = 0.0; var peak = 0.0; var crossings = 0L
      var prevSign = 0; var i = 0
      while (i < bytes.length) {
        val raw = bytes(i).toInt
        val x = raw / 128.0
        sumSq += x * x
        val ax = math.abs(x); if (ax > peak) peak = ax
        val sign = if (raw > 0) 1 else if (raw < 0) -1 else 0
        if (sign != 0) {
          if (prevSign != 0 && sign != prevSign) crossings += 1
          prevSign = sign
        }
        i += 1
      }
      Row(math.sqrt(sumSq / bytes.length), peak,
        if (bytes.length > 1) crossings.toDouble / (bytes.length - 1) else 0.0,
        bytes.length.toLong)
    }

  /** Attach audio signal features (rms/peak/zero-cross) — batch-iterator
    * operator. Real PCM decode for WAV/AIFF/AU payloads, byte-arithmetic
    * stub otherwise (same seam as the header decodes). This is the audio
    * analogue of `withFeatures`: map-side only, payload never crosses
    * the driver.
    */
  def withAudioFeatures(df: DataFrame, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+
      StructField("audio_features", audioFeatureSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    spark.createDataFrame(
      df.rdd.mapPartitions { it =>
        it.map { r =>
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          Row.fromSeq(r.toSeq :+ audioFeatures(bytes).getOrElse(audioFeatureStub(bytes)))
        }
      }, schema)
  }
}

package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus a partition-wise feature-extraction
  * operator.
  *
  * The IMAGE path is fully real: `javax.imageio` (pure JDK — PNG/JPEG
  * decode, no native libs) backs [[imageContent]] /
  * [[resizeImageContent]] / [[imageFixture]], so image width/height and
  * per-channel pixel sums are actual decoded content, oracle-checked
  * against closed-form fixtures. The AUDIO path is real for WAV/PCM:
  * `javax.sound.sampled` (pure JDK) backs [[wavContent]] /
  * [[wavFixture]] — sample rate, duration, amplitude sums, and peak are
  * decoded from actual RIFF/WAVE bytes written by the JDK encoder.
  * Compressed-audio and VIDEO kernels (MP3/AAC decode, frame demux)
  * remain STUBBED with deterministic fakes because no ffmpeg-class libs
  * exist in this environment — the Spark-side machinery around them
  * (schema, batch shape, partitioning, magic-number sniffing) is real;
  * swap [[MediaCodec.decodeStub]] / [[MediaCodec.frameStub]] for a real
  * codec (e.g. javacpp-ffmpeg) without touching the dataflow.
  */
object Multimodal {

  /** Canonical media-table schema: id + opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("byte_len", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  /** Magic-number format sniff over the first payload bytes — pure column
    * algebra on the binary column (hex of an 8-byte prefix). */
  def sniffFormat(payload: Column): Column = {
    val prefix = upper(substring(hex(payload), 1, 16))
    when(prefix.startsWith("FFD8FF"), "jpeg")
      .when(prefix.startsWith("89504E47"), "png")
      .when(prefix.startsWith("47494638"), "gif")
      .when(prefix.startsWith("52494646"), "riff") // wav/avi container
      .when(prefix.startsWith("494433"), "mp3")
      .when(prefix.startsWith("1A45DFA3"), "mkv/webm")
      .otherwise("unknown")
  }

  /** Cheap metadata columns computable without decoding. */
  def withMediaMeta(df: DataFrame, payloadCol: String = "payload"): DataFrame =
    df.withColumn("byte_len", length(col(payloadCol)).cast("long"))
      .withColumn("format", sniffFormat(col(payloadCol)))
      .withColumn("content_md5", md5(col(payloadCol)))

  /** Feature-extraction batch contract: each partition is processed as a
    * stream of rows; the codec returns a fixed-length float vector per
    * payload. This is the Scala analog of `mapInPandas` — per-partition
    * batching, codec state initialized once per partition (not per row),
    * output schema declared up front. A TYPED `Dataset.mapPartitions`
    * with a Row encoder, so the stage stays in the Tungsten pipeline
    * (no RDD drop-out; upstream scans/filters still fuse). */
  def extractFeatures(
      df: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload",
      dim: Int = 8): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      // per-partition codec init happens HERE (once), not per row
      val codec = MediaCodec.open(dim)
      rows.map { r =>
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        Row(r.getLong(idIdx), codec.decodeStub(payload))
      }
    }(Encoders.row(outSchema))
  }

  /** MM5: 64-bit perceptual-hash column — the fingerprint a real image
    * pipeline derives from decoded pixels (DCT low-frequency sign bits,
    * pHash). The kernel here is a STUB like every codec kernel in this
    * module: it splices the payload's md5 into a 64-bit value (pure
    * column algebra, so the oracle reproduces it bit-for-bit). The
    * honest consequence: the stub matches only byte-identical payloads
    * (md5 avalanches), where a real pHash also catches re-encodes and
    * resizes — the banding/verify dataflow downstream is identical
    * either way and is the part under test. */
  def perceptualHashStub(payload: Column): Column =
    when(payload.isNotNull,
      shiftleft(conv(substring(md5(payload), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(payload), 9, 8), 16, 10).cast("long")))

  /** MM5: perceptual near-duplicate pairs over a media table — pHash
    * each payload, then hamming-LSH banding + exact popcount verify via
    * [[graft.dedup.Dedup.fingerprintNearPairs]] (pigeonhole-complete
    * for maxHamming < bands, maxBucket-guarded like every other pair
    * site). 16-bit bands default: 65k buckets per band, maxHamming ≤ 3.
    * Output (id_a, id_b, hamming). */
  def perceptualNearPairs(
      df: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload",
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    val fp = df.select(col(idCol),
      perceptualHashStub(col(payloadCol)).as("__fp"))
    graft.dedup.Dedup.fingerprintNearPairs(fp, idCol, "__fp", maxHamming,
      bits = 64, bands = bands, maxBucket = maxBucket,
      metricName = "phash_buckets")
  }

  /** PNG header dimensions as pure column algebra — no decode: the
    * IHDR chunk is mandatory and first, so width/height are the
    * big-endian u32s at byte offsets 16 and 20 (hex chars 33-40 and
    * 41-48, 1-based). The metadata fast path a 100 TB image-curation
    * scan wants: dimension filters push into the columnar scan without
    * ever touching a decoder. Null for non-PNG payloads. */
  def pngHeaderDims(payload: Column): (Column, Column) = {
    val isPng = upper(substring(hex(payload), 1, 16)).startsWith("89504E47")
    (when(isPng, conv(substring(hex(payload), 33, 8), 16, 10).cast("int"))
       .as("png_width"),
     when(isPng, conv(substring(hex(payload), 41, 8), 16, 10).cast("int"))
       .as("png_height"))
  }

  /** Deterministic gradient-PNG fixture payloads: REAL PNG bytes
    * ([[MediaCodec.gradientPng]] via javax.imageio) whose DECODED
    * channel values are closed-form in (x, y, id) — so a SQL oracle
    * verifies real decoded content analytically, without a decoder of
    * its own. Same typed-mapPartitions contract as every codec op. */
  def imageFixture(df: DataFrame, idCol: String = "media_id"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    // spread the 8-byte ids before the encode: the payloads are born
    // wide, and every decode chained on this frame keeps its width
    graft.Parallelism.coreWide(df, col(idCol)).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        Row(id, MediaCodec.gradientPng(id))
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic sawtooth-WAV fixture payloads: REAL RIFF/WAVE bytes
    * ([[MediaCodec.sawtoothWav]] via javax.sound.sampled) whose DECODED
    * 16-bit samples are closed-form in (n, id) — the audio edition of
    * [[imageFixture]]: a SQL oracle verifies a real encode→decode
    * roundtrip analytically. PCM is lossless, so it is exact. */
  def wavFixture(df: DataFrame, idCol: String = "media_id"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    // NO pre-encode spread here, unlike [[imageFixture]]: javax.sound's
    // AudioSystem routes every encode/decode through a synchronized
    // provider registry, so fanning the WAV codec out across one JVM's
    // cores just converts the work into monitor contention (measured at
    // sf0.1: 3 tasks × ~0.15 s single-threaded vs 32 tasks × ~1.0 s
    // spread — 60× the CPU for a slower wall). Input partitioning is
    // the parallelism; across executor JVMs it scales normally.
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        Row(id, MediaCodec.sawtoothWav(id))
      }
    }(Encoders.row(outSchema))
  }

  /** REAL WAV/PCM decode (javax.sound.sampled — pure JDK): sample rate,
    * exact sample count and duration, and EXACT integer amplitude
    * statistics (sum, peak |amp|, sum of squares — all within long
    * range for 16-bit audio) per payload. Same typed-mapPartitions
    * contract as [[imageContent]]; null/undecodable payloads keep null
    * content columns (a curation pipeline filters on them, it doesn't
    * crash). Output (idCol, sample_rate, n_samples, duration_us,
    * sum_amp, peak_abs, sum_sq). */
  def wavContent(
      df: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload",
      maxBytes: Long = 1L << 28): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("duration_us", LongType, nullable = true),
      StructField("sum_amp", LongType, nullable = true),
      StructField("peak_abs", LongType, nullable = true),
      StructField("sum_sq", LongType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload =
          if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        MediaCodec.decodeWav(payload, maxBytes) match {
          case null => Row(r.getLong(idIdx), null, null, null, null, null, null)
          case (rate, samples) =>
            var sum = 0L; var peak = 0L; var sq = 0L
            var i = 0
            while (i < samples.length) {
              val s = samples(i).toLong
              sum += s
              val a = math.abs(s)
              if (a > peak) peak = a
              sq += s * s
              i += 1
            }
            Row(r.getLong(idIdx), rate,
              samples.length.toLong,
              samples.length.toLong * 1000000L / rate,
              sum, peak, sq)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** REAL image decode (javax.imageio — PNG/JPEG, pure JDK): width,
    * height, and EXACT per-channel pixel sums per payload. The typed
    * mapPartitions contract of [[extractFeatures]] with a real kernel
    * behind it; undecodable/null payloads — and images rejected by the
    * `maxPixels` decompression-bomb guard ([[MediaCodec.decodeImage]])
    * — keep null content columns (a curation pipeline filters on them,
    * it doesn't crash). Output
    * (idCol, width, height, sum_r, sum_g, sum_b). */
  def imageContent(
      df: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload",
      maxPixels: Long = 1L << 26): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sum_r", LongType, nullable = true),
      StructField("sum_g", LongType, nullable = true),
      StructField("sum_b", LongType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload =
          if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        MediaCodec.decodeImage(payload, maxPixels) match {
          case null => Row(r.getLong(idIdx), null, null, null, null, null)
          case img =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            Row(r.getLong(idIdx), img.getWidth, img.getHeight, sr, sg, sb)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** REAL image resize: decode (javax.imageio), nearest-neighbor
    * resample to dstW×dstH with the EXPLICIT integer sampling rule
    * src(x,y) = ((x·srcW) / dstW, (y·srcH) / dstH) — implemented on the
    * raster directly (not Graphics2D, whose sampling rule is
    * implementation-defined) so the output is bit-deterministic and a
    * SQL oracle replays it against the fixture's closed form. Output
    * (idCol, width, height, sum_r, sum_g, sum_b) of the RESIZED image;
    * undecodable payloads keep null content columns. */
  def resizeImageContent(
      df: DataFrame,
      dstW: Int,
      dstH: Int,
      idCol: String = "media_id",
      payloadCol: String = "payload",
      maxPixels: Long = 1L << 26): DataFrame = {
    require(dstW > 0 && dstH > 0, s"bad target size: ${dstW}x$dstH")
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sum_r", LongType, nullable = true),
      StructField("sum_g", LongType, nullable = true),
      StructField("sum_b", LongType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload =
          if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        MediaCodec.decodeImage(payload, maxPixels) match {
          case null => Row(r.getLong(idIdx), null, null, null, null, null)
          case img =>
            val sw = img.getWidth; val sh = img.getHeight
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < dstH) {
              val sy = y * sh / dstH
              var x = 0
              while (x < dstW) {
                val p = img.getRGB(x * sw / dstW, sy)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            Row(r.getLong(idIdx), dstW, dstH, sr, sg, sb)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Resize plumbing: binary → binary through the same typed
    * mapPartitions contract (codec opened once per partition, declared
    * output schema, no RDD drop-out). The stub kernel is a deterministic
    * center crop to width×height bytes — contiguous, so a SQL oracle
    * reproduces the output bytes exactly; a real pixel resampler swaps
    * in at the codec seam (see [[resizeImageContent]] for the real
    * image path). */
  def resize(
      df: DataFrame,
      width: Int,
      height: Int,
      idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("resized", BinaryType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val codec = MediaCodec.open(width * height)
      rows.map { r =>
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        Row(r.getLong(idIdx), codec.resizeStub(payload, width, height))
      }
    }(Encoders.row(outSchema))
  }

  /** Frame-sample plumbing: one media row explodes into n frame rows —
    * the typed-mapPartitions flatMap shape real video sampling needs
    * (output cardinality decided per row by the codec, schema declared
    * up front). The stub samples fixed-width byte windows every
    * `strideBytes`; a real demuxer/decoder swaps in at the seam. */
  def sampleFrames(
      df: DataFrame,
      frameBytes: Int,
      strideBytes: Int,
      maxFrames: Int,
      idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = true)))
    val idIdx = df.schema.fieldIndex(idCol)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val codec = MediaCodec.open(frameBytes)
      rows.flatMap { r =>
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        codec.frameStub(payload, frameBytes, strideBytes, maxFrames).map {
          case (i, frame) => Row(r.getLong(idIdx), i, frame)
        }
      }
    }(Encoders.row(outSchema))
  }
}

/** Codec seam. `decodeStub` is a deterministic fake — a STUB standing in
  * for the real decode (JPEG/PNG pixel decode, audio resample, video
  * frame-sample), which requires native libraries not present in this
  * container. The fake derives a stable feature vector from payload
  * bytes so the Spark-side plumbing (schema, partitioning, batch shape)
  * is real and testable; swap in a real codec without touching it. */
final class MediaCodec private (dim: Int) {
  def decodeStub(payload: Array[Byte]): Seq[Float] = {
    if (payload == null) return null
    // STUB: real implementation would decode pixels/samples here.
    // Deterministic fake: k-strided byte sums (exact integer arithmetic,
    // order-free — so a SQL oracle reproduces them bit-for-bit),
    // normalized to ~[0,1) by one double division, cast to float.
    val sums = new Array[Long](dim)
    var i = 0
    while (i < payload.length) {
      sums(i % dim) += (payload(i) & 0xff)
      i += 1
    }
    val n = math.max(1, payload.length / dim)
    sums.map(s => (s / 255.0 / n).toFloat).toSeq
  }

  /** STUB resize kernel: center crop to width×height bytes (whole
    * payload when shorter). Real implementation: pixel decode +
    * resample. Contiguous by design so oracles can reproduce it. */
  def resizeStub(payload: Array[Byte], width: Int, height: Int): Array[Byte] = {
    if (payload == null) return null
    val n = width * height
    val len = math.min(n, payload.length)
    val off = (payload.length - len) / 2
    java.util.Arrays.copyOfRange(payload, off, off + len)
  }

  /** STUB frame sampler: fixed-width windows every `strideBytes`, capped
    * at `maxFrames`; payloads shorter than one frame yield none. Real
    * implementation: container demux + keyframe decode. */
  def frameStub(
      payload: Array[Byte],
      frameBytes: Int,
      strideBytes: Int,
      maxFrames: Int): Seq[(Int, Array[Byte])] = {
    if (payload == null || payload.length < frameBytes) return Nil
    val n = math.min(maxFrames, (payload.length - frameBytes) / strideBytes + 1)
    (0 until n).map(i =>
      (i, java.util.Arrays.copyOfRange(
        payload, i * strideBytes, i * strideBytes + frameBytes)))
  }
}

object MediaCodec {
  // ImageIO's default stream cache is DISK-backed: every encode/decode
  // of an in-memory payload creates (and deletes) a temp FILE. At 32
  // concurrent decode tasks the filesystem churn dominates the codec —
  // measured at sf0.1: the mm2 decode stage ran ~1.0 s/task with disk
  // cache vs ~0.1 s/task in-memory. All payloads here are byte arrays,
  // so the memory cache is strictly correct and strictly cheaper.
  // NOTE (r13 ADVICE): setUseCache is a JVM-GLOBAL toggle — it affects
  // every ImageIO user co-hosted in this executor JVM, not just this
  // codec. Acceptable for this framework's executors (all media flows
  // through in-memory byte arrays); a host embedding this library next
  // to disk-streaming ImageIO code should be aware it fires at
  // MediaCodec class-load.
  javax.imageio.ImageIO.setUseCache(false)

  def open(dim: Int): MediaCodec = new MediaCodec(dim)

  /** REAL image decode via javax.imageio (pure JDK — PNG, JPEG, GIF,
    * BMP). Returns null for null/undecodable payloads instead of
    * throwing: a curation pipeline treats a corrupt image as a filter
    * signal, not a job failure.
    *
    * DECOMPRESSION-BOMB GUARD (the multimodal maxBucket): dimensions
    * are read from the container HEADER first (ImageReader.getWidth/
    * getHeight decode no pixel data), and any image whose pixel count
    * exceeds `maxPixels` is REJECTED as null without ever allocating
    * its raster — a crafted 30k×30k PNG otherwise costs gigabytes per
    * task at exactly the moment a 100 TB crawl scan can least afford
    * it. Default 2^26 px (64 MP) ≈ 256 MB of INT_RGB raster, the
    * per-task ceiling a curation pass can absorb. */
  def decodeImage(
      payload: Array[Byte],
      maxPixels: Long = 1L << 26): java.awt.image.BufferedImage = {
    if (payload == null) return null
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return null
        val r = readers.next()
        r.setInput(iis)
        try {
          val w = r.getWidth(0).toLong
          val h = r.getHeight(0).toLong
          if (w <= 0 || h <= 0 || w * h > maxPixels) null
          else r.read(0)
        } finally r.dispose()
      } finally iis.close()
    } catch { case _: java.io.IOException => null }
  }

  /** REAL WAV/PCM decode via javax.sound.sampled (pure JDK — RIFF/WAVE
    * containers, PCM and the JDK's convertible encodings like A-law /
    * µ-law). Returns null for null/undecodable payloads instead of
    * throwing — same curation stance as [[decodeImage]].
    *
    * Bomb guard (header-first, the decodeImage discipline): the frame
    * count is read from the container header before any sample data is
    * pulled; a payload whose normalized PCM byte size exceeds
    * `maxBytes` is rejected as null without allocating its buffer.
    * Output: (sampleRateHz, interleaved 16-bit samples). The stream is
    * normalized to 16-bit signed little-endian PCM via the JDK
    * converter so amplitude statistics are encoding-independent. */
  def decodeWav(
      payload: Array[Byte],
      maxBytes: Long = 1L << 28): (Int, Array[Short]) = {
    if (payload == null) return null
    // fast-path magic sniff: a crawl's junk payloads must reject at
    // byte-compare cost, not via AudioSystem's reader-iteration
    // exceptions (measured 294 µs/reject vs 109 µs/decode at 500k
    // clips). The JDK ships exactly three container readers — RIFF/
    // WAVE, FORM/AIFF, .snd/AU — so the sniff loses nothing here.
    if (payload.length < 12) return null
    val m = ((payload(0) & 0xff) << 24) | ((payload(1) & 0xff) << 16) |
      ((payload(2) & 0xff) << 8) | (payload(3) & 0xff)
    if (m != 0x52494646 /* RIFF */ && m != 0x464f524d /* FORM */ &&
      m != 0x2e736e64 /* .snd */ ) return null
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val target = new AudioFormat(
          AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, fmt.getChannels,
          2 * fmt.getChannels, fmt.getSampleRate, false)
        val pcm = AudioSystem.getAudioInputStream(target, ais)
        try {
          val frames = pcm.getFrameLength
          if (frames <= 0 || frames * target.getFrameSize > maxBytes) null
          else {
            val buf = pcm.readAllBytes()
            val n = buf.length / 2
            val out = new Array[Short](n)
            var i = 0
            while (i < n) {
              out(i) = ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort
              i += 1
            }
            (math.round(fmt.getSampleRate), out)
          }
        } finally pcm.close()
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => null
      case _: java.io.IOException => null
      case _: IllegalArgumentException => null // unconvertible encoding
    }
  }

  /** Deterministic sawtooth-WAV fixture: 64 + id%32 mono samples at
    * 8 kHz, sample s(n) = ((n·37 + id·101) mod 65536) − 32768 — REAL
    * RIFF/WAVE bytes (AudioSystem.write) whose decoded samples are
    * closed-form, so a SQL oracle checks a real encode→decode roundtrip
    * analytically. 16-bit PCM is lossless, so it is exact by spec. */
  def sawtoothWav(id: Long): Array[Byte] = {
    require(id >= 0, s"fixture id must be non-negative: $id")
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = (64 + id % 32).toInt
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val amp = (((i.toLong * 37 + id * 101) % 65536) - 32768).toInt
      data(2 * i) = (amp & 0xff).toByte
      data(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(
      AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Deterministic gradient-PNG fixture: width 8 + id%8, height
    * 8 + id%5, channels r = (7x + 13y + id) % 256,
    * g = (3x + 5y + 2id) % 256, b = (11x + y + 3id) % 256 — REAL PNG
    * bytes (ImageIO encode) whose decoded content is closed-form, so a
    * SQL oracle checks a real encode→decode roundtrip analytically.
    * PNG is lossless 8-bit, so the roundtrip is exact by spec. */
  def gradientPng(id: Long): Array[Byte] = {
    require(id >= 0, s"fixture id must be non-negative: $id")
    val w = (8 + id % 8).toInt
    val h = (8 + id % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((x * 7 + y * 13 + id) % 256).toInt
        val g = ((x * 3 + y * 5 + 2 * id) % 256).toInt
        val b = ((x * 11 + y + 3 * id) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }
}

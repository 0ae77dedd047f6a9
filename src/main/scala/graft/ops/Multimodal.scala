package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: media payloads travel as opaque `binary`
  * columns next to a typed metadata struct, and per-item processing
  * (decode / feature-extract / resize / frame-sample) runs as batched
  * partition-local transforms — the Scala analog of `mapInPandas`, expressed
  * with `mapPartitions` over a typed Dataset so each executor core streams
  * through its partition without driver involvement.
  *
  * Codecs: PNG images are decoded/encoded FOR REAL via the JDK's
  * `javax.imageio` ([[ImageIoCodec]] — headless-safe, zero native deps),
  * WAV PCM16 audio via `javax.sound.sampled` ([[WavCodec]]), and video as
  * a real parseable frame container of genuine PNGs ([[FrameContainer]]).
  * The formats whose libraries are NOT in this container (JPEG quality
  * paths, audio resample, MP4/H.264) keep [[FakeCodec]] as a
  * clearly-marked deterministic stand-in. Either way the Spark-side
  * plumbing — schema, partitioning, batch shape, feature contract — is
  * identical; swapping a codec never touches a plan.
  */
object Multimodal {

  /** Typed metadata carried beside every payload. */
  val MetadataSchema: StructType = StructType(Seq(
    StructField("media_type", StringType, nullable = false), // image | audio | video
    StructField("format", StringType, nullable = false), // png, wav, mp4, ...
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true)))

  final case class MediaMeta(
      media_type: String, format: String, width: Option[Int], height: Option[Int],
      n_frames: Option[Int], sample_rate: Option[Int])
  final case class MediaItem(item_id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(item_id: Long, feature: Array[Float])
  final case class MediaFrame(item_id: Long, frame_index: Int, frame: Array[Byte])

  /** ===== deterministic fake codec (stand-in for image/audio libs) ===== */
  object FakeCodec {
    /** "Decode" a payload into a `dim`-float feature vector: a seeded hash
      * mix over the bytes. Deterministic, cheap, shaped exactly like a real
      * embedding so downstream ANN/dedup plumbing is exercised for real.
      */
    def decodeToFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = h * 31 + payload(i); i += 1 }
      var j = 0
      while (j < dim) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        out(j) = (h.toDouble / Long.MaxValue).toFloat
        j += 1
      }
      out
    }

    /** "Resize": real codecs re-encode; the fake truncates/pads the payload
      * to the byte budget implied by the target dims (3 bytes/pixel).
      */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val target = w * h * 3
      java.util.Arrays.copyOf(payload, target)
    }

    /** "Frame-sample": slice the payload into `nFrames` equal chunks. */
    def sampleFrames(payload: Array[Byte], nFrames: Int): Seq[Array[Byte]] = {
      val n = math.max(1, nFrames)
      val len = math.max(1, payload.length / n)
      (0 until n).map(i => java.util.Arrays.copyOfRange(
        payload, math.min(i * len, payload.length), math.min((i + 1) * len, payload.length)))
    }
  }

  /** ===== real image codec (JDK `javax.imageio`, PNG — lossless) ===== */
  object ImageIoCodec {
    // ImageIO defaults to a temp-FILE-backed stream cache: every encode and
    // decode creates and deletes a disk cache file through a synchronized
    // path, so 32 concurrent codec tasks serialize on it — measured r20 as
    // a 3× executorRunTime swing (59 s → 200 s task-time for identical
    // work) in the image-dedup family once the synthesis pass was
    // parallelized. All payloads here are small in-memory byte arrays; the
    // memory-cached stream is strictly better. The flag is PROCESS-GLOBAL:
    // once this object initializes, every ImageIO user in the JVM
    // (executor threads, other libraries) caches streams in memory too.
    javax.imageio.ImageIO.setUseCache(false)

    final case class Decoded(width: Int, height: Int, argb: Array[Int])

    /** Encode a width×height image whose pixel (x, y) is `pixel(x, y)`
      * (0xRRGGBB) as PNG bytes. PNG is lossless, so a decode returns the
      * exact pixels — the property the oracle checks arithmetically.
      */
    def encodePng(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, pixel(x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Decode any ImageIO-supported payload (PNG, BMP, GIF, JPEG) to a
      * BufferedImage with NO pixel-array copy; None when the payload is
      * not a decodable image. ImageIO signals corruption inconsistently —
      * unknown formats return null but a TRUNCATED payload of a recognized
      * format throws (EOF inside the PNG header) — so both are normalized
      * to None: a corrupt byte string must drop the row, never kill the
      * scan task. The hash/stats passes consume the image directly
      * ([[graft.ops.Multimodal.dHashImage]] samples 72 pixels; the sum
      * passes row-stream through a reused buffer) — the full w×h ARGB
      * copy that [[decode]] makes is only for callers that genuinely
      * need every pixel at once (resize, specs).
      */
    def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }

    /** Decode to ARGB pixels (a full copy — see [[decodeImage]] for the
      * copy-free variant the per-row hot paths use).
      */
    def decode(payload: Array[Byte]): Option[Decoded] =
      decodeImage(payload).map { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        Decoded(w, h, img.getRGB(0, 0, w, h, null, 0, w))
      }

    /** Per-channel pixel sums, row-streamed through `rowBuf` (caller keeps
      * one buffer per partition and passes it to every image — the
      * allocation that made the image-stats family GC-bound was one w×h
      * int[] PER IMAGE; this is one max-width int[] per TASK). Values are
      * identical to summing a bulk `getRGB` copy: both paths convert
      * through the same ColorModel.
      */
    def sumRgbRows(img: java.awt.image.BufferedImage,
        rowBuf0: Array[Int]): (Array[Int], Long, Long, Long) = {
      val (w, h) = (img.getWidth, img.getHeight)
      val rowBuf = if (rowBuf0.length >= w) rowBuf0 else new Array[Int](w)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val p = rowBuf(x)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
          x += 1
        }
        y += 1
      }
      (rowBuf, sr, sg, sb)
    }

    /** Nearest-neighbor resize with EXPLICIT source-index math
      * (`sx = x·sw/dw`) rather than Graphics2D scaling — the mapping is a
      * specified integer formula, so resized pixels are deterministic
      * across JVMs and checkable against the source image.
      */
    def resizeNearest(payload: Array[Byte], dw: Int, dh: Int): Option[Array[Byte]] = {
      require(dw > 0 && dh > 0, "target dimensions must be positive")
      decode(payload).map { d =>
        encodePng(dw, dh, (x, y) => {
          val sx = x * d.width / dw
          val sy = y * d.height / dh
          d.argb(sy * d.width + sx) & 0xFFFFFF
        })
      }
    }
  }

  /** ===== real audio codec (JDK `javax.sound.sampled`, WAV PCM16 — lossless) ===== */
  object WavCodec {
    final case class DecodedAudio(sampleRate: Int, samples: Array[Short])

    /** Encode mono 16-bit PCM samples as a WAV container via the JDK's
      * `AudioSystem` (headless-safe, zero native deps — the audio sibling
      * of [[ImageIoCodec]]). WAV PCM is lossless, so a decode returns the
      * exact samples — the property the oracle checks arithmetically.
      */
    def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      require(sampleRate > 0, "sampleRate must be positive")
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false) // mono, signed, little-endian
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        bytes(2 * i) = (samples(i) & 0xFF).toByte
        bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Decode a WAV payload to its PCM16 mono samples; None when the payload
      * is not a parseable audio file OR not 16-bit signed PCM mono — this
      * codec's documented contract, not a general transcoder (resample /
      * channel-mix belongs to libraries not in this container).
      */
    def decode(payload: Array[Byte]): Option[DecodedAudio] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          None
        else {
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          val out = new Array[Short](n)
          val le = !fmt.isBigEndian
          var i = 0
          while (i < n) {
            val lo = bytes(2 * i) & 0xFF
            val hi = bytes(2 * i + 1) & 0xFF
            out(i) = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort
            i += 1
          }
          Some(DecodedAudio(fmt.getSampleRate.toInt, out))
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }
  }

  /** Deterministic generated REAL WAVs, one per row — the audio twin of
    * [[synthesizeImages]]: sample count, rate, and every PCM16 sample are
    * closed-form INTEGER functions of the id (`n = id%400+100`,
    * `rate = 8000 + (id%3)*4000`, `sample(i) = (37i + 101·id) mod 65536
    * − 32768`), so an engine with no audio stack can still compute what the
    * DECODED samples must sum to — the trick that makes a genuine
    * AudioSystem encode→decode roundtrip oracle-checkable in SQL. No trig:
    * a sine would put IEEE transcendentals between the two engines.
    */
  def synthesizeAudio(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        // negative ids would flip Scala's %-sign and hand the closed-form
        // oracle a different signal (same guard as synthesizeImages)
        require(id >= 0, s"synthesizeAudio needs non-negative ids; got $id")
        // n is a multiple of 65 (the fingerprint's window count), so every
        // envelope window holds the same number of samples: with uniform
        // hash samples, unequal windows made energy ∝ window LENGTH — a
        // function of n alone — collapsing the fingerprint space into
        // one signature class per n (quadratic near-dup at scale)
        val n = ((id % 7) * 65 + 130).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        // hash samples, not a sawtooth: the 37i+101id ramp gave every
        // stream a near-flat energy envelope, collapsing the fingerprint
        // space and degenerating audio near-dup candidates quadratic at
        // scale (the synthesizeImages lesson, audio edition)
        val samples = Array.tabulate(n)(i =>
          (((((i * 2654435761L + 11L) % 65536L) *
            ((id * 1099087573L) % 65521L + 3L)) >>> 4) % 65536L - 32768L).toShort)
        (id, WavCodec.encodeWav(rate, samples), rate)
      })
      .toDF("item_id", "payload", "sample_rate")
      .select(col("item_id"), col("payload"),
        struct(lit("audio").as("media_type"), lit("wav").as("format"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          lit(null).cast("int").as("n_frames"),
          col("sample_rate").cast("int").as("sample_rate")).as("meta"))
  }

  /** Perceptual audio fingerprint: decode (real WAV PCM16 decode), split
    * the sample stream into 65 contiguous windows by the explicit integer
    * bounds `start_w = w·n/65`, sum each window's absolute amplitude
    * (exact int64), and set bit `w` when window `w+1` is louder than
    * window `w` — the energy-envelope dHash, completing the
    * [[dHashPixels]] family for the audio column. Comparing ADJACENT
    * window energies (not absolute levels) is what buys the invariance
    * that matters for near-dup: a re-encoded copy hashes identically, a
    * volume-scaled copy preserves almost every comparison (loudness
    * cancels in the inequality), while genuinely different audio flips
    * ~half the bits. Corrupt or non-PCM16 payloads and streams shorter
    * than 65 samples (no well-defined envelope) drop. Scan-speed, no
    * shuffle, 16-byte rows into [[Dedup.audioNearDup]]'s hamming join.
    */
  def audioFingerprint(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        WavCodec.decode(payload).filter(_.samples.length >= 65).map { d =>
          val n = d.samples.length
          val energy = new Array[Long](65)
          var w = 0
          while (w < 65) {
            val start = w * n / 65
            val end = (w + 1) * n / 65
            var e = 0L
            var i = start
            while (i < end) { e += math.abs(d.samples(i).toLong); i += 1 }
            energy(w) = e
            w += 1
          }
          var sig = 0L
          w = 0
          while (w < 64) {
            if (energy(w + 1) > energy(w)) sig |= 1L << w
            w += 1
          }
          (id, sig)
        }
      })
      .toDF("item_id", "afp")
  }

  /** Decode audio payloads (real AudioSystem decode) to amplitude stats and
    * true rate/length — the integrity/feature pass over an audio corpus,
    * sibling of [[imageStats]]: corrupt or non-PCM16-mono payloads are
    * DROPPED, and rate/length come from the DECODED stream, never trusted
    * metadata. Pass `dropped` (a registered `LongAccumulator`) to make the
    * attrition observable — a systematic decode failure surfaces as a
    * metric, not a silently smaller corpus (accumulator semantics: task
    * retries can over-count; an alerting signal, not an exact ledger).
    * Batched per partition; scan-speed, no shuffle.
    */
  def audioStats(
      spark: SparkSession, media: DataFrame,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val d = WavCodec.decode(payload)
        if (d.isEmpty) dropped.foreach(_.add(1L))
        d.map { a =>
          var (sumV, sumAbs, maxAbs) = (0L, 0L, 0L)
          var i = 0
          while (i < a.samples.length) {
            val s = a.samples(i).toLong
            sumV += s
            val abs = math.abs(s)
            sumAbs += abs
            if (abs > maxAbs) maxAbs = abs
            i += 1
          }
          (id, a.sampleRate, a.samples.length.toLong, sumV, sumAbs, maxAbs)
        }
      })
      .toDF("item_id", "sample_rate", "n_samples", "sum_val", "sum_abs", "max_abs")
  }

  /** ===== real video-frame container (length-prefixed REAL PNG frames) =====
    *
    * No MP4/H.264 stack ships in the JDK — but "video as opaque binary"
    * does not have to mean fake BYTES: this container is a real, parseable
    * format (magic + frame count + length-prefixed frames, big-endian),
    * each frame a genuine PNG, so frame extraction is real parsing, frame
    * decode is the real [[ImageIoCodec]], and corruption is detected
    * structurally (bad magic, counts or lengths that leave the payload
    * bounds) instead of pretended. A platform with libav swaps this codec
    * object; every Spark-side shape stays.
    */
  object FrameContainer {
    val Magic: Int = 0x47564944 // "GVID"

    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      val total = 8 + frames.map(f => 4 + f.length).sum
      val bb = java.nio.ByteBuffer.allocate(total) // big-endian by default
      bb.putInt(Magic).putInt(frames.length)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }

    /** None on structural corruption: short header, wrong magic, negative
      * or bounds-escaping counts/lengths, or trailing garbage.
      */
    def decode(payload: Array[Byte]): Option[Seq[Array[Byte]]] = {
      if (payload.length < 8) return None
      val bb = java.nio.ByteBuffer.wrap(payload)
      if (bb.getInt() != Magic) return None
      val n = bb.getInt()
      if (n < 0 || n > payload.length) return None
      val out = Seq.newBuilder[Array[Byte]]
      var i = 0
      while (i < n) {
        if (bb.remaining() < 4) return None
        val len = bb.getInt()
        if (len < 0 || len > bb.remaining()) return None
        val f = new Array[Byte](len)
        bb.get(f)
        out += f
        i += 1
      }
      if (bb.remaining() != 0) None else Some(out.result())
    }
  }

  /** Deterministic generated REAL videos — the moving-picture member of the
    * synthesize family ([[synthesizeImages]] / [[synthesizeAudio]]): each
    * row is a [[FrameContainer]] of `id % 5 + 2` genuine PNG frames whose
    * dims and every pixel are closed-form functions of (id, frame, x, y) —
    * the frame index shifts each channel, so consecutive frames differ and
    * the oracle can still recompute every decoded byte arithmetically.
    */
  def synthesizeVideos(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    // per-row work = n_frames REAL PNG encodes; spread the id rows so a
    // single-split scan doesn't synthesize every container on one core
    Par.spread(df.select(col(idCol).cast("long"))).as[Long]
      .mapPartitions(_.map { id =>
        require(id >= 0, s"synthesizeVideos needs non-negative ids; got $id")
        val nf = (id % 5 + 2).toInt
        // frames must be at least as wide as the 9x8 dHash grid: below
        // that, adjacent grid cells sample the SAME source pixel and their
        // comparison bits are structurally zero — a 4px frame leaves ~12
        // effective signature bits and near-dup degenerates quadratic
        val w = (id % 8 + 12).toInt
        val h = (id % 6 + 10).toInt
        val frames = (0 until nf).map { f =>
          ImageIoCodec.encodePng(w, h, (x, y) => {
            // the image formula's hash pixels + a per-frame term (the
            // f-terms vanish at f = 0, so a trimmed-to-frame-0 twin still
            // hashes identically — the videoNearDup planting contract)
            val r = ((((x * 2654435761L + y * 40503001L + 11L) % 65536L) *
              ((id * 1099087573L + f * 668265263L) % 65521L + 3L)) >>> 8).toInt % 256
            val g = ((((x * 2246822519L + y * 2654435761L + 7L) % 65536L) *
              ((id * 97002721L + f * 40503001L) % 65521L + 5L)) >>> 8).toInt % 256
            val b = ((((x * 3266489917L + y * 97002721L + 13L) % 65536L) *
              ((id * 2246822519L + f * 2654435761L) % 65521L + 7L)) >>> 8).toInt % 256
            (r << 16) | (g << 8) | b
          })
        }
        (id, FrameContainer.encode(frames), nf, w, h)
      })
      .toDF("item_id", "payload", "n_frames", "width", "height")
      .select(col("item_id"), col("payload"),
        struct(lit("video").as("media_type"), lit("gvid").as("format"),
          col("width").cast("int").as("width"), col("height").cast("int").as("height"),
          col("n_frames").cast("int").as("n_frames"),
          lit(null).cast("int").as("sample_rate")).as("meta"))
  }

  /** Decode video payloads — REAL container parse + REAL per-frame PNG
    * decode — to frame count, decoded dims, and per-channel pixel sums over
    * ALL frames; the integrity pass of the video family, completing the
    * [[imageStats]]/[[audioStats]] trio. A structurally-corrupt container
    * OR any undecodable frame drops the row (observably, via `dropped`) —
    * half-decoded stats are worse than attrition. Dims come from the first
    * DECODED frame, never trusted metadata. Scan-speed, no shuffle.
    */
  def videoStats(
      spark: SparkSession, media: DataFrame,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        var rowBuf = new Array[Int](0) // per-task, reused across frames
        it.flatMap { case (id, payload) =>
          val stats = FrameContainer.decode(payload).flatMap { frames =>
            val decoded = frames.map(ImageIoCodec.decodeImage)
            if (decoded.isEmpty || decoded.exists(_.isEmpty)) None
            else {
              var (sr, sg, sb) = (0L, 0L, 0L)
              decoded.foreach { d =>
                val (buf, r, g, b) = ImageIoCodec.sumRgbRows(d.get, rowBuf)
                rowBuf = buf; sr += r; sg += g; sb += b
              }
              val first = decoded.head.get
              Some((id, frames.length.toLong,
                first.getWidth, first.getHeight, sr, sg, sb))
            }
          }
          if (stats.isEmpty) dropped.foreach(_.add(1L))
          stats
        }
      }
      .toDF("item_id", "n_frames", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Explode REAL container videos into every `stride`-th frame —
    * (item_id, frame_index, frame), each frame a standalone decodable PNG
    * (the honest upgrade of [[sampleFrames]]' byte-slicing stand-in, which
    * remains for formats without a JVM codec). Corrupt containers drop
    * observably; non-video rows are filtered by media_type.
    */
  def sampleFramesDecoded(
      spark: SparkSession, media: DataFrame, stride: Int = 1,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    import spark.implicits._
    media.filter(col("meta.media_type") === "video")
      .select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val frames = FrameContainer.decode(payload)
        if (frames.isEmpty) { dropped.foreach(_.add(1L)); Iterator.empty }
        else frames.get.zipWithIndex.collect {
          case (f, i) if i % stride == 0 => MediaFrame(id, i, f)
        }.iterator
      })
      .toDF()
  }

  /** Attach a synthetic payload + metadata to a text table — the
    * deterministic fake "ingest" used by tests and the driver queries
    * (payload = utf8 bytes of the text; dims derived from the id). Image
    * rows are labelled format `raw`, NOT `png`: the payload is text bytes,
    * and claiming a real codec format would route them into the genuine
    * ImageIO path in [[resizeImages]] where they'd (correctly) be treated
    * as corrupt.
    */
  def synthesize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("item_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        element_at(typedLit(Seq("image", "audio", "video")),
          (col(idCol) % 3 + 1).cast("int")).as("media_type"),
        element_at(typedLit(Seq("raw", "wav", "mp4")),
          (col(idCol) % 3 + 1).cast("int")).as("format"),
        (col(idCol) % 640 + 32).cast("int").as("width"),
        (col(idCol) % 480 + 32).cast("int").as("height"),
        (col(idCol) % 30 + 1).cast("int").as("n_frames"),
        lit(16000).cast("int").as("sample_rate")).as("meta"))

  /** Decode payloads to fixed-size feature vectors, batched per partition
    * (mapPartitions — the executor streams its partition through the codec
    * without per-row closure overhead; at scale, repartition upstream by
    * payload size if codec cost is skewed).
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame, dim: Int = 64): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        MediaFeatures(id, FakeCodec.decodeToFeatures(payload, dim))
      })
      .toDF()
  }

  /** Image formats the JDK codec actually decodes — these take the REAL
    * resize path; anything else is a stand-in format for libraries not in
    * this container and keeps [[FakeCodec]].
    */
  private val ImageIoFormats = Set("png", "bmp", "gif", "jpeg", "jpg", "wbmp")

  /** Resize every image payload to the target box; non-images pass through.
    * Dispatch is on `meta.format`: real ImageIO-decodable formats go through
    * [[ImageIoCodec.resizeNearest]] (genuine pixel resize, re-encoded as
    * lossless PNG — format refreshed accordingly), and a real-format payload
    * that fails to decode is corrupt and DROPPED (the [[imageStats]]
    * discipline; the old byte-truncating fallback silently corrupted every
    * real PNG into something downstream decoders then rejected). Stand-in
    * formats keep the deterministic [[FakeCodec]] byte-budget resize. The
    * meta struct rides along (dropping it would break any downstream
    * media_type dispatch) with width/height REFRESHED for resized images —
    * stale declared dims after a resize are worse than none.
    *
    * Unlike [[imageStats]] (a stats pass), this is a TRANSFORM in the data
    * path, so drops must be observable: pass `dropped` (a registered
    * `LongAccumulator`) and every corrupt-payload drop counts into it — a
    * systematic decode failure (a format variant ImageIO rejects) surfaces
    * as attrition a pipeline can alert on instead of a silently smaller
    * corpus. Accumulator semantics apply: task retries can over-count, so
    * treat it as an alerting metric, not an exact ledger.
    */
  def resizeImages(
      spark: SparkSession, media: DataFrame, w: Int, h: Int,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload"), col("meta"))
      .as[(Long, Array[Byte], MediaMeta)]
      .mapPartitions(_.flatMap { case (id, payload, meta) =>
        if (meta.media_type != "image") Some((id, payload, meta))
        else if (ImageIoFormats.contains(meta.format)) {
          val resized = ImageIoCodec.resizeNearest(payload, w, h).map(p => (id, p,
            meta.copy(format = "png", width = Some(w), height = Some(h))))
          if (resized.isEmpty) dropped.foreach(_.add(1L))
          resized
        } else Some((id, FakeCodec.resize(payload, w, h),
          meta.copy(width = Some(w), height = Some(h))))
      })
      .toDF("item_id", "payload", "meta")
  }

  /** Explode video payloads into sampled frames (item_id, frame_index, frame). */
  def sampleFrames(spark: SparkSession, media: DataFrame, nFrames: Int): DataFrame = {
    import spark.implicits._
    media.filter(col("meta.media_type") === "video")
      .select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        FakeCodec.sampleFrames(payload, nFrames).zipWithIndex.map {
          case (f, i) => MediaFrame(id, i, f)
        }
      })
      .toDF()
  }

  /** Deterministic generated REAL PNGs, one per row: dims and every pixel
    * are closed-form functions of the id (`w = id%16+8`, `h = id%12+8`,
    * `r = (7x+13y+id)%256`, `g = (3x+5y+2id)%256`, `b = (11x+17y+3id)%256`),
    * so an engine with no image stack can still compute what the DECODED
    * bytes must sum to — the trick that makes a genuine ImageIO
    * encode→decode roundtrip oracle-checkable in SQL.
    */
  def synthesizeImages(spark: SparkSession, df: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    // PNG encode is the heaviest per-row work in this file; spread the
    // 8-byte id rows so a single-split scan doesn't synthesize the whole
    // corpus on one core (no-op on any multi-split scan — Par.spread)
    Par.spread(df.select(col(idCol).cast("long"))).as[Long]
      .mapPartitions(_.map { id =>
        // Scala's % follows the sign: id <= -8 would hand BufferedImage a
        // non-positive dimension (IllegalArgumentException mid-job) and the
        // pixel formulas would diverge from the closed-form oracle, which
        // assumes non-negative remainders
        require(id >= 0, s"synthesizeImages needs non-negative ids; got $id")
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        val png = ImageIoCodec.encodePng(w, h, (x, y) => {
          // multiplicative-hash pixels (NOT a linear gradient): a linear
          // formula makes neighbor-brightness comparisons near-constant, so
          // every synthesized image's dHash collides into a handful of
          // values and the near-dup candidate space degenerates quadratic
          // (measured: 751 distinct dHashes over 5000 images, image_neardup
          // 100x wall for 10x data). Knuth-style odd constants spread bits
          // 24.. well; everything stays non-negative int64 (exact while
          // id < ~4e9), so a SQL engine replays it with // and %.
          // the id term must enter MULTIPLICATIVELY: an additive id shifts
          // every pixel by a near-constant after the shift, so brightness
          // COMPARISONS (what dHash keeps) survive across ids and copies
          // collide anyway; the bounded product (both factors < 2^17)
          // scrambles bits 8.. nonlinearly per (x, y, id)
          val r = ((((x * 2654435761L + y * 40503001L + 11L) % 65536L) *
            ((id * 1099087573L) % 65521L + 3L)) >>> 8).toInt % 256
          val g = ((((x * 2246822519L + y * 2654435761L + 7L) % 65536L) *
            ((id * 97002721L) % 65521L + 5L)) >>> 8).toInt % 256
          val b = ((((x * 3266489917L + y * 97002721L + 13L) % 65536L) *
            ((id * 2246822519L) % 65521L + 7L)) >>> 8).toInt % 256
          (r << 16) | (g << 8) | b
        })
        (id, png, w, h)
      })
      .toDF("item_id", "payload", "width", "height")
      .select(col("item_id"), col("payload"),
        struct(lit("image").as("media_type"), lit("png").as("format"),
          col("width"), col("height"),
          lit(null).cast("int").as("n_frames"),
          lit(null).cast("int").as("sample_rate")).as("meta"))
  }

  /** Decode image payloads (real ImageIO decode) to per-channel pixel sums
    * and true dimensions — the cheap integrity/feature pass over an image
    * corpus (corrupt payload ⇒ row dropped; dims come from the DECODED
    * image, not trusted metadata). Batched per partition like every codec
    * pass; scan-speed, no shuffle.
    */
  def imageStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // ONE row buffer per task, grown to the widest image seen — not
        // one w×h copy per image (the GC churn that made this family's
        // wall time swing 1.2–2.6 s run-to-run through round 16)
        var rowBuf = new Array[Int](0)
        it.flatMap { case (id, payload) =>
          ImageIoCodec.decodeImage(payload).map { img =>
            val (buf, sr, sg, sb) = ImageIoCodec.sumRgbRows(img, rowBuf)
            rowBuf = buf
            (id, img.getWidth, img.getHeight, sr, sg, sb)
          }
        }
      }
      .toDF("item_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Perceptual difference-hash (dHash) over REAL image payloads: decode,
    * sample a 9×8 luma grid by the EXPLICIT nearest-neighbor index formula
    * (`sx = gx·w/9`, `sy = gy·h/8` — the same specified integer mapping as
    * [[ImageIoCodec.resizeNearest]], so the hash is reproducible
    * arithmetically outside any image stack), and set bit `gy·8+gx` when
    * the right neighbor is brighter. Luma is the integer BT.601-weight
    * approximation `(77r + 150g + 29b) >> 8` — weights sum to 256, all
    * integer, so every engine computes the identical grid.
    *
    * The result is a 64-bit signature whose hamming distance survives
    * re-encoding (lossless or mildly lossy) and small resizes — gradients
    * between neighboring cells barely move — which is exactly what a text
    * SimHash is to token streams. Feed it to
    * [[Dedup.imageNearDup]] / [[Dedup.hammingNearDupPairs]] for the
    * banded near-dup join. Corrupt payloads drop (decode returns None).
    *
    * Shape per 100 TB: one scan-speed mapPartitions decode pass, no
    * shuffle; output is 16 bytes/row regardless of image size, so the
    * downstream near-dup join runs over ~1/10⁶ of the corpus bytes.
    */
  def dHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        ImageIoCodec.decodeImage(payload).map(img => (id, dHashImage(img)))
      })
      .toDF("item_id", "dhash")
  }

  /** The dHash core, sampling the 72 grid pixels STRAIGHT off the decoded
    * image — the hash reads 9×8 pixels no matter how large the image is,
    * so materializing a full w×h ARGB copy first (what the family did
    * through round 16) was pure allocation churn: at 5 000 images/run it
    * was the dominant GC load of the whole image-dedup family. Per-pixel
    * `getRGB` converts through the same ColorModel as the bulk call, so
    * the signature is bit-identical.
    */
  private[graft] def dHashImage(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val lum = new Array[Int](9 * 8)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val p = img.getRGB(gx * w / 9, gy * h / 8)
        lum(gy * 9 + gx) =
          (77 * ((p >> 16) & 0xFF) + 150 * ((p >> 8) & 0xFF) + 29 * (p & 0xFF)) >> 8
        gx += 1
      }
      gy += 1
    }
    lumToSig(lum)
  }

  /** [[dHashImage]] over an already-copied pixel array — kept for the
    * arithmetic specs that pin the 9×8 index formula against hand pixels.
    */
  private[graft] def dHashPixels(d: ImageIoCodec.Decoded): Long = {
    val lum = new Array[Int](9 * 8)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val sx = gx * d.width / 9
        val sy = gy * d.height / 8
        val p = d.argb(sy * d.width + sx)
        lum(gy * 9 + gx) =
          (77 * ((p >> 16) & 0xFF) + 150 * ((p >> 8) & 0xFF) + 29 * (p & 0xFF)) >> 8
        gx += 1
      }
      gy += 1
    }
    lumToSig(lum)
  }

  private def lumToSig(lum: Array[Int]): Long = {
    var sig = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (lum(gy * 9 + gx + 1) > lum(gy * 9 + gx)) sig |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    sig
  }

  /** Perceptual dHash of a VIDEO's representative frame (`frameIndex`,
    * default the first): container parse → one real PNG decode → the
    * shared 9×8 luma dHash ([[dHashPixels]]). One frame is the right
    * signature for the near-dup question "is this the same footage,
    * re-encoded or trimmed?" — a trimmed or container-rewritten copy keeps
    * its leading frame bit-identical, while hashing every frame would cost
    * a full decode pass and then need per-frame pair semantics anyway.
    * Corrupt containers, out-of-range indexes, and undecodable frames drop
    * the row (never half-hash). Scan-speed, no shuffle, 16-byte output
    * rows regardless of video size.
    */
  def videoDHash(
      spark: SparkSession,
      media: DataFrame,
      frameIndex: Int = 0): DataFrame = {
    require(frameIndex >= 0, "frameIndex must be >= 0")
    import spark.implicits._
    media.select(col("item_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        for {
          frames <- FrameContainer.decode(payload)
          if frameIndex < frames.length
          img <- ImageIoCodec.decodeImage(frames(frameIndex))
        } yield (id, dHashImage(img))
      })
      .toDF("item_id", "dhash")
  }

  /** Ingest a DIRECTORY of media files as the engine's (item_id, payload,
    * meta) shape — the missing first edge of the multimodal graph: every
    * codec operator here consumed an already-columnar payload, but a real
    * corpus starts as files on object storage. Spark's built-in `binaryFile`
    * source carries the read (path/length/content columns, distributed
    * listing, `pathGlobFilter` pushdown — non-matching files are never
    * opened), so this is a scan-speed projection on top: `item_id` =
    * xxhash64 of the file path (stable across re-ingests and re-listings —
    * a positional id would reshuffle on every new file), `format` = the
    * lowercased filename extension, `media_type` from the format family,
    * and declared dims NULL — real dims come from DECODE
    * ([[imageStats]]/[[videoStats]] read them from the bytes; trusting
    * filenames for dimensions is how corrupt metadata gets born).
    *
    * 100 TB posture: `binaryFile` splits the LISTING across the cluster but
    * never a file (an opaque payload has no split points); per-file cost is
    * one open + one sequential read, and `spark.sql.files.maxPartitionBytes`
    * packs small files into sane tasks. Oversized payloads are the caller's
    * filter (`length <= maxBytes` prunes on the LISTING column before any
    * content is read).
    */
  def ingestBinaryFiles(
      spark: SparkSession,
      dir: String,
      glob: Option[String] = None,
      maxBytes: Long = 512L << 20): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val files = glob.fold(reader)(g => reader.option("pathGlobFilter", g))
      .option("recursiveFileLookup", "true")
      .load(dir)
      .filter(col("length") <= maxBytes)
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    val mediaType = when(ext.isin("png", "bmp", "gif", "jpeg", "jpg", "wbmp"), "image")
      .when(ext.isin("wav", "flac", "mp3", "ogg"), "audio")
      .when(ext.isin("mp4", "webm", "mkv", "avi", "fcv"), "video")
      .otherwise("binary")
    files.select(
      xxhash64(col("path")).as("item_id"),
      col("content").as("payload"),
      struct(
        mediaType.as("media_type"),
        ext.as("format"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("int").as("n_frames"),
        lit(null).cast("int").as("sample_rate")).as("meta"),
      col("path").as("source_path"),
      col("length").as("payload_bytes"))
  }

  /** Scan-speed metadata projection (no codec): per-item payload size and
    * typed metadata — the query the driver oracle checks.
    */
  def describe(media: DataFrame): DataFrame =
    media.select(
      col("item_id"),
      length(col("payload")).as("payload_bytes"),
      col("meta.media_type").as("media_type"),
      col("meta.format").as("format"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      col("meta.n_frames").as("n_frames"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Sizing.rebalance

/** Multimodal binary-column plumbing (SURVEY.md §2 #40): image/audio/
  * video payloads travel as opaque `binary` columns with a typed
  * metadata struct; decode/feature-extract runs batched inside
  * `mapPartitions`.
  *
  * Three decode paths:
  *  - IMAGE: a REAL PNG codec via the JDK's `javax.imageio` —
  *    [[withImagePayload]] renders deterministic grayscale PNGs (pixels
  *    = tiled text bytes, dims derived from the byte length) and
  *    [[decodeImageFeatures]] decodes them back to dimensions + pixel
  *    statistics. Lossless, so the oracle can predict every output.
  *  - AUDIO: a REAL WAV codec via the JDK's `javax.sound.sampled` —
  *    [[withAudioPayload]] wraps the text bytes as 8-bit unsigned PCM
  *    mono samples in a WAV container and [[decodeAudioFeatures]] reads
  *    them back through `AudioSystem` to sample count / rate / duration
  *    / RMS amplitude. Lossless PCM, so the oracle predicts every
  *    output from the text bytes.
  *  - GENERIC: [[withBinaryPayload]]/[[decodeFeatures]] keep the
  *    codec-free plumbing with a clearly-marked deterministic stub —
  *    the shape a video decoder (JNI ffmpeg frame sampler etc., no JDK
  *    codec exists) would plug into.
  */
object Multimodal {

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(FloatType))))

  /** Attach a binary payload column. In this repo the payload is the
    * UTF-8 bytes of `text` (a deterministic fake "image"); in production
    * this column is read straight from parquet/object storage.
    */
  def withBinaryPayload(docs: DataFrame, textCol: String = "text",
                        binCol: String = "payload"): DataFrame =
    docs.withColumn(binCol, col(textCol).cast("binary"))

  /** STUB decode of one payload. Deterministic fake standing in for a
    * real image decode: dimensions derived from the byte length, a
    * 4-float feature vector from simple byte statistics.
    */
  private def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val n = bytes.length
    val width = n % 640 + 1
    val height = n % 480 + 1
    var sum = 0L
    var i = 0
    while (i < n) { sum += bytes(i) & 0xff; i += 1 }
    val mean = if (n == 0) 0f else sum.toFloat / n
    val feat = Array(n.toFloat, mean, (bytes.headOption.getOrElse(0: Byte) & 0xff).toFloat,
      (bytes.lastOption.getOrElse(0: Byte) & 0xff).toFloat)
    (width, height, feat)
  }

  /** Batched decode over partitions: rows are drained in fixed-size
    * batches (the shape a vectorized/JNI decoder wants), each batch is
    * "decoded", results stream out. No partition is ever materialized
    * whole, so executor memory stays bounded regardless of partition
    * size.
    */
  def decodeFeatures(withPayload: DataFrame, batchSize: Int = 64,
                     idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = withPayload.select(col(idCol), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(decodedSchema))
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val (w, h, feat) = decodeStub(bytes)
          Row(id, bytes.length.toLong, w, h, feat)
        }
      }
    }
  }

  // ---- real image path (JDK javax.imageio, no external deps) ----

  /** Deterministic grayscale PNG for a byte payload: width/height
    * derived from the byte length, pixel (x,y) = byte ((y·w+x) mod n)
    * tiled. Lossless (PNG + 8-bit gray), so decode recovers the exact
    * dims and pixel statistics the oracle predicts from the text.
    */
  private[operators] def encodePng(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    // thumbnail-scale dims: the codec path is real either way, and the
    // synthetic pixel volume shouldn't dominate the decode benchmark
    val w = n % 320 + 1
    val h = n % 240 + 1
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val pix = new Array[Byte](w * h)
    var i = 0
    while (i < pix.length) { pix(i) = if (n == 0) 0 else bytes(i % n); i += 1 }
    img.getRaster.setDataElements(0, 0, w, h, pix)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic real GIF from the document bytes — the [[encodePng]]
    * geometry rule through the GIF encoder (LZW, palette), so the
    * header parse below reads genuine codec output.
    */
  private[operators] def encodeGif(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    val w = n % 320 + 1
    val h = n % 240 + 1
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val pix = new Array[Byte](w * h)
    var i = 0
    while (i < pix.length) { pix(i) = if (n == 0) 0 else bytes(i % n); i += 1 }
    img.getRaster.setDataElements(0, 0, w, h, pix)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "gif", out)
    out.toByteArray
  }

  /** GIF companion of [[withImagePayload]]. */
  def withGifPayload(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = rebalance(docs, idCol).select(col(idCol), col(textCol).cast("binary").as("_raw"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", LongType),
      StructField(binCol, BinaryType)))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](1)
        Row(r.getLong(0), raw.length.toLong, encodeGif(raw))
      }
    }
  }

  /** DECODE-FREE GIF metadata — [[pngHeaderMeta]]'s little-endian
    * sibling: `GIF` signature + logical-screen width/height from the
    * fixed 6-10 byte header, pure Column byte arithmetic. GIF is
    * LITTLE-endian like WAV, so fields assemble per byte.
    */
  def gifHeaderMeta(withPayload: DataFrame, binCol: String = "payload"): DataFrame = {
    def byte(pos: Int) = conv(hex(substring(col(binCol), pos, 1)), 16, 10).cast("long")
    def le(start: Int, len: Int) =
      (0 until len).map(i => byte(start + i) * lit(1L << (8 * i))).reduce(_ + _)
    withPayload.select(col("doc_id"), col("n_bytes"),
      (hex(substring(col(binCol), 1, 3)) === lit("474946")).as("is_gif"),
      le(7, 2).cast("int").as("width"),
      le(9, 2).cast("int").as("height"))
  }

  /** Real JPEG encode of one doc's bytes (ImageIO baseline JFIF):
    * dims derived from the byte count like [[encodeGif]], pixels from
    * the doc bytes. */
  private[operators] def encodeJpeg(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    val w = n % 320 + 1
    val h = n % 240 + 1
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val pix = new Array[Byte](w * h)
    var i = 0
    while (i < pix.length) { pix(i) = if (n == 0) 0 else bytes(i % n); i += 1 }
    img.getRaster.setDataElements(0, 0, w, h, pix)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** JPEG companion of [[withGifPayload]]: REAL baseline JFIF bytes. */
  def withJpegPayload(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = rebalance(docs, idCol).select(col(idCol), col(textCol).cast("binary").as("_raw"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", LongType),
      StructField(binCol, BinaryType)))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](1)
        Row(r.getLong(0), raw.length.toLong, encodeJpeg(raw))
      }
    }
  }

  /** DECODE-FREE JPEG metadata — unlike PNG/GIF's fixed-offset
    * headers, JPEG's SOF frame sits after a VARIABLE run of segments
    * (APP0/DQT/DHT tables the encoder sizes as it likes), so this is
    * a real container WALK in pure Column arithmetic: each segment is
    * FF marker, 2-byte big-endian length (self-inclusive), next = pos
    * + 2 + len; the walk is unrolled to `maxSegments` chained
    * columns (linear plan growth — nesting the position expression
    * would be exponential) and PARKS at the first SOF0/1/2 marker.
    * Rows whose SOF lies deeper than the unroll emit NULL dims (no
    * verdict) rather than garbage — the anomalies-minObs convention.
    */
  def jpegHeaderMeta(withPayload: DataFrame, binCol: String = "payload",
                     maxSegments: Int = 12): DataFrame = {
    def byteAt(p: Column): Column =
      conv(hex(col(binCol).substr(p.cast("int"), lit(1))), 16, 10).cast("long")
    def be2(p: Column): Column = byteAt(p) * 256L + byteAt(p + 1L)
    def isSof(p: Column): Column =
      byteAt(p) === 255L && byteAt(p + 1L).isin(192L, 193L, 194L)
    var dfx = withPayload.withColumn("_p0", lit(3L))
    for (i <- 0 until maxSegments) {
      val p = col(s"_p$i")
      dfx = dfx.withColumn(s"_p${i + 1}",
        when(isSof(p), p).otherwise(p + 2L + be2(p + 2L)))
    }
    val sof = col(s"_p$maxSegments")
    dfx.select(col("doc_id"), col("n_bytes"),
        (hex(substring(col(binCol), 1, 2)) === lit("FFD8")).as("is_jpeg"),
        when(isSof(sof), be2(sof + 5L)).cast("int").as("height"),
        when(isSof(sof), be2(sof + 7L)).cast("int").as("width"))
  }

  /** Real decode of one PNG: dimensions + pixel statistics via
    * `ImageIO`. Returns (width, height, features = [n_pixels,
    * mean_pixel, first_pixel, last_pixel]).
    */
  private[operators] def decodePng(bytes: Array[Byte]): (Int, Int, Array[Float]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val pix = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
    var sum = 0L
    var i = 0
    while (i < pix.length) { sum += pix(i); i += 1 }
    val feat = Array((w * h).toFloat, sum.toFloat / (w * h), pix.head.toFloat, pix.last.toFloat)
    (w, h, feat)
  }

  /** Attach a REAL image payload: the text bytes rendered as a
    * grayscale PNG (batched mapPartitions — the encoder is the same
    * per-partition shape the decoder uses). `n_bytes` carries the
    * original media byte length through to the output so the oracle
    * can check it independently of the container size.
    */
  def withImagePayload(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = rebalance(docs, idCol).select(col(idCol), col(textCol).cast("binary").as("_raw"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bytes", LongType),
      StructField(binCol, BinaryType)))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache inside executors
      rows.map { r =>
        val raw = r.getAs[Array[Byte]](1)
        Row(r.getLong(0), raw.length.toLong, encodePng(raw))
      }
    }
  }

  /** DECODE-FREE image metadata: parse the PNG header (signature +
    * IHDR width/height/bit depth/color type) with pure Column byte
    * arithmetic — `substring` on the binary column, `hex`, `conv` —
    * no ImageIO, no mapPartitions, no codec CPU. This is the metadata
    * pass a real media pipeline runs FIRST at 100 TB ("how many 4k
    * images do we have / drop everything under 64px") — filtering on
    * it prunes the corpus before any expensive decode runs, and being
    * a plain projection it pipelines into the payload scan
    * (plan-asserted map-only). PNG stores IHDR at a fixed offset with
    * big-endian fields, so the parse is engine-exact byte arithmetic
    * (the oracle predicts the same geometry from the deterministic
    * encoder).
    */
  def pngHeaderMeta(withPayload: DataFrame, binCol: String = "payload"): DataFrame = {
    def be(start: Int, len: Int) =
      conv(hex(substring(col(binCol), start, len)), 16, 10)
    withPayload.select(col("doc_id"), col("n_bytes"),
      (hex(substring(col(binCol), 1, 8)) === lit("89504E470D0A1A0A")).as("is_png"),
      be(17, 4).cast("int").as("width"),
      be(21, 4).cast("int").as("height"),
      be(25, 1).cast("int").as("bit_depth"),
      be(26, 1).cast("int").as("color_type"))
  }

  /** DECODE-FREE audio metadata — the WAV companion of
    * [[pngHeaderMeta]]: RIFF/WAVE signature, channel count, sample
    * rate, bit depth, and data-chunk byte size parsed from the
    * canonical 44-byte header with pure Column byte arithmetic. WAV is
    * LITTLE-endian, so multi-byte fields assemble per byte
    * (b0 + 256·b1 + …) instead of one hex slice — still a plain
    * projection: no AudioSystem, no mapPartitions, prune-before-decode
    * at any scale.
    */
  def wavHeaderMeta(withPayload: DataFrame, binCol: String = "payload"): DataFrame = {
    def byte(pos: Int) = conv(hex(substring(col(binCol), pos, 1)), 16, 10).cast("long")
    def le(start: Int, len: Int) =
      (0 until len).map(i => byte(start + i) * lit(1L << (8 * i))).reduce(_ + _)
    withPayload.select(col("doc_id"),
      (hex(substring(col(binCol), 1, 4)) === lit("52494646") &&
        hex(substring(col(binCol), 9, 4)) === lit("57415645")).as("is_wav"),
      le(23, 2).cast("int").as("n_channels"),
      le(25, 4).cast("int").as("sample_rate"),
      le(35, 2).cast("int").as("bits_per_sample"),
      le(41, 4).as("data_bytes"))
  }

  /** Batched REAL decode over partitions: fixed-size batches drained
    * through `ImageIO` (bounded memory, the vectorized-decoder shape),
    * emitting the [[decodedSchema]] metadata + features. `n_bytes` is
    * passed through from the payload row (original media size).
    */
  def decodeImageFeatures(withPayload: DataFrame, batchSize: Int = 64,
                          idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = withPayload.select(col(idCol), col("n_bytes"), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(decodedSchema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (w, h, feat) = decodePng(r.getAs[Array[Byte]](2))
          Row(r.getLong(0), r.getLong(1), w, h, feat)
        }
      }
    }
  }

  val signatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sig", LongType)))

  /** Block-mean perceptual signature (aHash family) over REAL decoded
    * images: the image split into a grid×grid block lattice, bit b set
    * iff block b's mean brightness exceeds the global mean — the
    * classic resize-robust image-dedup key (identical and
    * near-identical renders collide; a changed region flips only its
    * block bits, so Hamming distance on `sig` is the image analog of
    * SimHash banding).
    *
    * The bit decision is INTEGER-EXACT: `bsum·npix > gsum·bnpix`
    * cross-multiplied in longs — no float mean, no boundary drift, so
    * the signature is bit-reproducible by any engine that can see the
    * pixel values (the DuckDB oracle rebuilds it from the deterministic
    * payload bytes). Blocks outside a tiny image (w or h < grid) have
    * no pixels and contribute 0 bits on both sides.
    *
    * Same distribution shape as [[decodeImageFeatures]]: batched
    * ImageIO decode behind the caller's pinned rebalance, map-only; the
    * signature is 8 bytes per image, so the downstream dup-group
    * shuffle carries signatures, never pixels.
    */
  def imageSignatures(withPayload: DataFrame, grid: Int = 4, batchSize: Int = 64,
                      idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    require(grid >= 1 && grid * grid <= 63, s"grid² must fit the long signature, got $grid")
    val in = withPayload.select(col(idCol), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(signatureSchema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val (w, h) = (img.getWidth, img.getHeight)
          val pix = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
          val nb = grid * grid
          val bsum = new Array[Long](nb)
          val bn = new Array[Long](nb)
          var gsum = 0L
          var p = 0
          while (p < pix.length) {
            val blk = (p / w * grid / h) * grid + (p % w * grid / w)
            bsum(blk) += pix(p); bn(blk) += 1; gsum += pix(p)
            p += 1
          }
          val npix = pix.length.toLong
          var sig = 0L
          var b = 0
          while (b < nb) {
            if (bsum(b) * npix > gsum * bn(b)) sig |= 1L << b
            b += 1
          }
          Row(r.getLong(0), w, h, sig)
        }
      }
    }
  }

  // ---- real audio path (javax.sound.sampled WAV codec, JDK-only) ----

  val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", LongType),
    StructField("sample_rate", IntegerType),
    StructField("duration_s", DoubleType),
    StructField("rms", DoubleType)))

  private val AudioRate = 8000f

  /** The JDK's WAVE codec resolved ONCE per executor JVM through the
    * public `javax.sound.sampled.spi` API. `AudioSystem.write` /
    * `getAudioInputStream` re-dispatch to the provider on EVERY call
    * through a shared AppContext/ServiceLoader path — measured ~25µs
    * per call AND negative thread scaling (16 concurrent decode tasks
    * run 2× slower than one). Direct provider calls are the same codec
    * with per-row cost 4× lower and linear scaling — the difference
    * between a media-decode stage that uses a 1000-executor cluster and
    * one that serializes on a JVM lock.
    */
  @transient private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(sys.error("no WAVE AudioFileWriter provider in this JVM"))
  }
  @transient private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val probe = encodeWav(Array[Byte](1, 2, 3))
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.find { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      .getOrElse(sys.error("no WAVE AudioFileReader provider in this JVM"))
  }

  /** Deterministic WAV for a byte payload: each byte is one 8-bit
    * unsigned PCM mono sample at 8 kHz. Lossless, so decode recovers
    * the exact sample stream the oracle predicts from the text.
    */
  private[operators] def encodeWav(bytes: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      AudioRate, 8, 1, 1, AudioRate, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, bytes.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Real decode of one WAV through the JDK WAVE reader: frame count,
    * sample rate, duration, RMS amplitude around the 8-bit-unsigned
    * midpoint.
    */
  private[operators] def decodeWav(wav: Array[Byte]): (Long, Int, Double, Double) = {
    val ais = wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    val n = ais.getFrameLength
    val buf = ais.readAllBytes()
    ais.close()
    var ss = 0L
    var i = 0
    while (i < buf.length) { val a = (buf(i) & 0xff) - 128; ss += a.toLong * a; i += 1 }
    val rms = if (buf.length == 0) 0.0 else math.sqrt(ss.toDouble / buf.length)
    (n, fmt.getSampleRate.toInt, n.toDouble / fmt.getSampleRate.toDouble, rms)
  }

  /** Attach a REAL audio payload (batched mapPartitions, like the image
    * path).
    */
  def withAudioPayload(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = rebalance(docs, idCol).select(col(idCol), col(textCol).cast("binary").as("_raw"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField(binCol, BinaryType)))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))
    in.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), encodeWav(r.getAs[Array[Byte]](1))))
    }
  }

  /** Batched REAL audio decode over partitions → [[audioSchema]]. */
  def decodeAudioFeatures(withPayload: DataFrame, batchSize: Int = 64,
                          idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = withPayload.select(col(idCol), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(audioSchema))
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (n, rate, dur, rms) = decodeWav(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), n, rate, dur, rms)
        }
      }
    }
  }

  val audioSigSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", LongType),
    StructField("sig", LongType)))

  /** Block-energy perceptual signature over REAL decoded audio — the
    * 1-D analog of [[imageSignatures]]: the sample stream split into
    * `blocks` contiguous blocks, bit b set iff block b's mean ENERGY
    * (mean square around the PCM midpoint) exceeds the stream's global
    * mean energy. Identical/near-identical clips collide; a changed
    * region flips only its block bits, so Hamming distance on `sig`
    * is audio near-dup blocking (the poor-man's chromaprint whose
    * Spark-side shape — batched decode, 8-byte keys shuffling instead
    * of waveforms — is exactly a fingerprinting pipeline's).
    *
    * The bit decision is INTEGER-EXACT (`bss·n > gss·bn`
    * cross-multiplied in longs over the exact sum-of-squares; no float
    * RMS), and block membership is pure integer math (`p·blocks/n`),
    * so the oracle rebuilds every signature from the deterministic
    * payload bytes. Empty streams sign 0.
    */
  def audioSignatures(withPayload: DataFrame, blocks: Int = 16, batchSize: Int = 64,
                      idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    require(blocks >= 1 && blocks <= 63, s"blocks must fit the long signature, got $blocks")
    val in = withPayload.select(col(idCol), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(audioSigSchema))
    in.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val ais = wavReader.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val buf = ais.readAllBytes()
          ais.close()
          val n = buf.length.toLong
          val bss = new Array[Long](blocks)
          val bn = new Array[Long](blocks)
          var gss = 0L
          var p = 0
          while (p < buf.length) {
            val a = (buf(p) & 0xff) - 128
            val blk = (p.toLong * blocks / n).toInt
            bss(blk) += a.toLong * a; bn(blk) += 1; gss += a.toLong * a
            p += 1
          }
          var sig = 0L
          var b = 0
          while (b < blocks) {
            if (bss(b) * n > gss * bn(b)) sig |= 1L << b
            b += 1
          }
          Row(r.getLong(0), n, sig)
        }
      }
    }
  }

  // ---- video path: PNG-frame container + stride sampling (JDK-only) ----
  // The JDK ships no video codec, but what the SPARK side of a video
  // pipeline owes the cluster is container demux, frame SAMPLING (seek
  // to every k-th frame without touching the rest), and bounded-memory
  // per-frame decode. Model exactly that with a real container: an
  // index header (frame count + per-frame lengths) over REAL
  // ImageIO-encoded PNG frames. The sampling math, the seek-by-index,
  // and the per-frame codec work are all genuine; only the codec brand
  // differs from ffmpeg.

  val videoSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("n_sampled", IntegerType),
    StructField("sampled_pixels", LongType),
    StructField("mean_sampled", DoubleType)))

  private val FrameBytes = 64
  private val MaxFrames = 8

  /** Deterministic frame slicing: `min(n/64 + 1, 8)` frames; every
    * frame but the last covers 64 bytes, the last takes the remainder
    * (possibly empty → a 1×1 zero frame, like [[encodePng]] of no
    * bytes). The oracle predicts every frame's dims and pixel sums
    * from the text alone.
    */
  private[operators] def encodeVideo(bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    val nFrames = math.min(n / FrameBytes + 1, MaxFrames)
    val frames = (0 until nFrames).map { f =>
      val lo = f * FrameBytes
      val hi = if (f == nFrames - 1) n else (f + 1) * FrameBytes
      encodePng(java.util.Arrays.copyOfRange(bytes, lo, hi))
    }
    val buf = java.nio.ByteBuffer.allocate(4 * (1 + nFrames) + frames.map(_.length).sum)
    buf.putInt(nFrames)
    frames.foreach(fr => buf.putInt(fr.length))
    frames.foreach(buf.put)
    buf.array()
  }

  /** Demux + sample + decode one container: every `stride`-th frame is
    * sought via the index (unsampled frames are never parsed, let
    * alone decoded) and decoded through ImageIO. Returns (n_frames,
    * n_sampled, sampled pixel count, mean sampled pixel value).
    */
  private[operators] def decodeVideo(container: Array[Byte], stride: Int): (Int, Int, Long, Double) = {
    val buf = java.nio.ByteBuffer.wrap(container)
    val nFrames = buf.getInt
    val lens = Array.fill(nFrames)(buf.getInt)
    val offsets = lens.scanLeft(4 * (1 + nFrames))(_ + _)
    var sampled = 0
    var pixels = 0L
    var pixSum = 0L
    var f = 0
    while (f < nFrames) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        container, offsets(f), lens(f)))
      val (w, h) = (img.getWidth, img.getHeight)
      val pix = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
      var i = 0
      while (i < pix.length) { pixSum += pix(i); i += 1 }
      pixels += pix.length
      sampled += 1
      f += stride
    }
    (nFrames, sampled, pixels, if (pixels == 0) 0.0 else pixSum.toDouble / pixels.toDouble)
  }

  val sceneCutSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("n_cuts", IntegerType),
    StructField("first_cut", IntegerType)))

  /** Scene-change detection over the video container: a cut between
    * consecutive frames whenever their mean luminance differs by more
    * than `tNum/tDen` gray levels — the shot-boundary primitive behind
    * frame-sampling policies ("one frame per scene beats one per N"),
    * here over every frame via the same index-demux + ImageIO decode
    * as [[decodeVideoFeatures]] (stride 1 by definition: a cut needs
    * both neighbors).
    *
    * The threshold is RATIONAL and the decision INTEGER-EXACT:
    * |sumᵢ·nᵢ₋₁ − sumᵢ₋₁·nᵢ|·tDen > tNum·nᵢ·nᵢ₋₁ — cross-multiplied
    * longs, no float means, so the oracle rebuilds every cut from the
    * deterministic payload bytes. Returns per video: frame count, cut
    * count, and the first cut's frame index (1-based; NULL when no
    * cut — the "scene 2 starts here" seek target), all computed inside
    * the batched map — per-frame rows never leave the executor.
    */
  def videoSceneCuts(withPayload: DataFrame, tNum: Long = 8L, tDen: Long = 1L,
                     batchSize: Int = 64,
                     idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    require(tNum >= 0 && tDen > 0, s"threshold must be a nonneg rational, got $tNum/$tDen")
    val in = withPayload.select(col(idCol), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(sceneCutSchema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val container = r.getAs[Array[Byte]](1)
          val buf = java.nio.ByteBuffer.wrap(container)
          val nFrames = buf.getInt
          val lens = Array.fill(nFrames)(buf.getInt)
          val offsets = lens.scanLeft(4 * (1 + nFrames))(_ + _)
          var prevSum = 0L
          var prevN = 0L
          var cuts = 0
          var firstCut = -1
          var f = 0
          while (f < nFrames) {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
              container, offsets(f), lens(f)))
            val (w, h) = (img.getWidth, img.getHeight)
            val pix = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
            var s = 0L
            var i = 0
            while (i < pix.length) { s += pix(i); i += 1 }
            val np = pix.length.toLong
            if (f > 0 && math.abs(s * prevN - prevSum * np) * tDen > tNum * np * prevN) {
              cuts += 1
              if (firstCut < 0) firstCut = f
            }
            prevSum = s; prevN = np
            f += 1
          }
          Row(r.getLong(0), nFrames, cuts,
            if (firstCut < 0) null else Integer.valueOf(firstCut))
        }
      }
    }
  }

  /** Attach a REAL video-container payload (batched mapPartitions). */
  def withVideoPayload(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val in = rebalance(docs, idCol).select(col(idCol), col(textCol).cast("binary").as("_raw"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField(binCol, BinaryType)))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(schema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map(r => Row(r.getLong(0), encodeVideo(r.getAs[Array[Byte]](1))))
    }
  }

  /** Batched frame-sampled decode over partitions → [[videoSchema]]. */
  def decodeVideoFeatures(withPayload: DataFrame, stride: Int = 2, batchSize: Int = 64,
                          idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    require(stride > 0, "stride must be positive")
    val in = withPayload.select(col(idCol), col(binCol))
    implicit val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(videoSchema))
    in.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (nf, ns, px, mean) = decodeVideo(r.getAs[Array[Byte]](1), stride)
          Row(r.getLong(0), nf, ns, px, mean)
        }
      }
    }
  }
}

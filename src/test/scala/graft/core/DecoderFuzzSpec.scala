package graft.core

import java.util.concurrent.{ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Multimodal
import graft.sinks.{O5mReader, O5mWriter, PbfReader, PbfWriter, PreparedWay}
import graft.sources.WarcLite

/** Seeded mutation fuzzing of every decoder of untrusted bytes. Each seed
  * is a valid input built in-process; each mutant cuts it at a random
  * length, flips 1-4 random bytes, or sets one 32-bit word in its first
  * 512 bytes to an extreme value. A mutant passes when it decodes, or when
  * the decoder refuses it with a plain `IllegalArgumentException` whose
  * message names the format or field; anything else (an index, array-size
  * or out-of-memory error, a raw inflater or parse exception) and any
  * decode that outlives the time limit fails the test. */
class DecoderFuzzSpec extends AnyFunSuite {

  private val MutantsPerSeed = 2000
  private val LimitMs = 5000L
  private val Extremes = Array(0, -1, Int.MaxValue, Int.MinValue, 0x7fff, 0xffff, 1 << 30)

  private def mutate(seed: Array[Byte], rnd: scala.util.Random): Array[Byte] = rnd.nextInt(3) match {
    case 0 => seed.take(rnd.nextInt(seed.length))
    case 1 =>
      val m = seed.clone()
      (0 to rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 + rnd.nextInt(255))).toByte
      }
      m
    case _ =>
      val m = seed.clone()
      val at = rnd.nextInt(math.min(512, m.length - 3))
      val v = Extremes(rnd.nextInt(Extremes.length))
      val le = rnd.nextBoolean()
      (0 until 4).foreach(k => m(at + k) = (v >>> (8 * (if (le) k else 3 - k))).toByte)
      m
  }

  private def daemonPool(): ExecutorService = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "decoder-fuzz"); t.setDaemon(true); t
  }

  /** Decodes each seed, then `MutantsPerSeed` mutants of it, each on a
    * worker thread under `LimitMs`; reports the outcome tallies and fails
    * on any outcome other than a decode or a named refusal. */
  private def fuzz(names: Regex, seeds: (String, Array[Byte])*)(decode: Array[Byte] => Any): Unit = {
    val tally = scala.collection.mutable.TreeMap.empty[String, Int].withDefaultValue(0)
    val example = scala.collection.mutable.Map.empty[String, String]
    var pool = daemonPool()
    try seeds.foreach { case (name, seed) =>
      decode(seed)
      val rnd = new scala.util.Random(name.hashCode.toLong)
      (0 until MutantsPerSeed).foreach { _ =>
        val m = mutate(seed, rnd)
        val f = pool.submit(() => decode(m))
        val outcome =
          try { f.get(LimitMs, TimeUnit.MILLISECONDS); "decoded" }
          catch {
            case _: TimeoutException =>
              // a spinning decode keeps its thread; later mutants get a new one
              pool.shutdownNow(); pool = daemonPool()
              "timeout"
            case e: ExecutionException => e.getCause match {
              case r: IllegalArgumentException if r.getClass == classOf[IllegalArgumentException] &&
                  r.getMessage != null && names.findFirstIn(r.getMessage).isDefined => "refused"
              case t =>
                val k = t.getClass.getSimpleName
                example.getOrElseUpdate(k, s"$name: $t at ${t.getStackTrace.headOption.getOrElse("?")}")
                k
            }
          }
        tally(outcome) += 1
      }
    } finally pool.shutdownNow()
    info(tally.map { case (k, n) => s"$k $n" }.mkString(", "))
    val untyped = tally.keySet -- Set("decoded", "refused")
    assert(untyped.isEmpty, untyped.map(k => s"$k x${tally(k)}, e.g. ${example.getOrElse(k, "")}").mkString("\n"))
  }

  private val rows = 40
  private val cols = 36
  private val ints = Array.tabulate(rows * cols) { k =>
    if (k % 97 == 0) -32768f else ((k * 37) % 4000 - 500).toFloat
  }
  private val fracs = Array.tabulate(rows * cols) { k =>
    if (k % 97 == 0) Float.NaN else ((k * 37) % 3000) / 8f + 0.125f
  }

  test("TIFF: mutants of six layouts decode or refuse by name") {
    import TiffFixtures.buildTiff
    fuzz("TIFF|GeoKey".r,
      "uncompressed strips" -> buildTiff(rows, cols, ints, 1, 1, tiled = false, rps = 16),
      "deflate + predictor 2" -> buildTiff(rows, cols, ints, 8, 2, tiled = false, rps = 16),
      "LZW tiled" -> buildTiff(rows, cols, ints, 5, 1, tiled = true, tw = 16, th = 16),
      "PackBits tiled" -> buildTiff(rows, cols, ints, 32773, 1, tiled = true, tw = 16, th = 16),
      "float32 deflate + predictor 3" ->
        buildTiff(rows, cols, fracs, 8, 3, tiled = false, rps = 16, bits = 32, nodataTag = "-9999 "),
      "BigTIFF deflate tiled" -> buildTiff(rows, cols, ints, 8, 1, tiled = true, tw = 16, th = 16, big = true)
    )(Tiff.decode(_))
  }

  private val rgb = Png.Image(32, 24, 3, Array.tabulate(32 * 24 * 3)(k => ((k * 31) % 251).toByte))

  test("PNG: mutants of an RGB image decode or refuse by name") {
    fuzz("PNG".r, "32x24 RGB" -> Png.encode(rgb))(Png.decode(_))
  }

  test("WAV: mutants of a PCM clip decode or refuse by name") {
    val audio = Wav.Audio(16000, 1, Array.tabulate(200)(i => (i * 331 - 30000).toShort))
    fuzz("WAV".r, "mono 16-bit" -> Wav.encode(audio))(Wav.decode(_))
  }

  test("video: mutants of a framed payload decode or refuse by name") {
    val out = new java.io.ByteArrayOutputStream()
    (0 until 5).foreach { f =>
      val png = Png.encode(Png.Image(16, 12, 1, Array.tabulate(16 * 12)(k => (k * 7 + f).toByte)), r => (r + f) % 5)
      out.write(Array(png.length >>> 24, png.length >>> 16, png.length >>> 8, png.length).map(_.toByte))
      out.write(png)
    }
    fuzz("video|PNG".r, "5 PNG frames" -> out.toByteArray)(Multimodal.videoFrames(_).foreach(Png.decode))
  }

  test("WARC: mutants of two records parse or refuse by name") {
    val dir = java.nio.file.Files.createTempDirectory("warc-fuzz")
    val path = dir.resolve("a.warc")
    WarcLite.write(path.toString, Iterator(
      ("https://w.example/1", 1704067200000000L, "<html>one</html>".getBytes("UTF-8")),
      ("https://w.example/2", 1704067201500000L, "<html>two\r\n</html>".getBytes("UTF-8"))))
    val seed = java.nio.file.Files.readAllBytes(path)
    java.nio.file.Files.delete(path); java.nio.file.Files.delete(dir)
    fuzz("WARC".r, "2 records" -> seed)(
      m => WarcLite.parse(new java.io.ByteArrayInputStream(m)).foreach(_ => ()))
  }

  test("HGT: mutants of a 31x31 grid decode or refuse by name; a side below 2 refuses") {
    val side = 31
    val seed = Array.tabulate(2 * side * side)(k => (if (k % 2 == 0) k / 256 else k * 7).toByte)
    fuzz("hgt".r, "31x31" -> seed)(Hgt.decode(_))
    for (n <- Seq(0, 2)) {
      val e = intercept[IllegalArgumentException](Hgt.decode(new Array[Byte](n)))
      assert(e.getMessage.contains(s"hgt byte length $n"), e.getMessage)
    }
  }

  test("poly: mutants of a two-section file parse or refuse by name") {
    val seed = ("area\n1\n\t6.0 43.0\n\t7.0 43.0\n\t6.5 44.0\nEND\n" +
      "2\n\t8.25 45.5\n\t8.75 45.5\n\t8.5 46.125\n\t8.25 45.5\nEND\nEND\n").getBytes("UTF-8")
    fuzz("poly".r, "2 sections" -> seed)(m => PolyFile.parse(new String(m, "UTF-8")))
    val e = intercept[IllegalArgumentException](PolyFile.parse("area\n1\nEND\nEND\n"))
    assert(e.getMessage.contains("poly file"), e.getMessage)
  }

  // 2,000 nodes and 40 ways of 50 nodes each, every fifth closed
  private val nodeLons = Array.tabulate(2000)(i => 10000000L + i * 7L)
  private val nodeLats = Array.tabulate(2000)(i => 20000000L - i * 3L)
  private val ways = (0 until 40).map(w => PreparedWay(1L + 50 * w, 50, w % 5 == 0, 100L * w))

  test("PBF: mutants of a nodes-and-ways file decode or refuse by name") {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new PbfWriter(bos, BBox(1, 1, 4, 2))
    w.writeDenseNodes(1L, nodeLons, nodeLats, nodeLons.length)
    w.writeWays(ways, 1L, _ => "elevation_minor")
    w.done()
    fuzz("PBF".r, "2000 nodes + 40 ways" -> bos.toByteArray)(PbfReader.decode(_))
  }

  test("o5m: mutants of a nodes-and-ways file decode or refuse by name") {
    val bos = new java.io.ByteArrayOutputStream()
    val w = new O5mWriter(bos, BBox(1, 1, 4, 2))
    w.writeNodes(1L, nodeLons, nodeLats, nodeLons.length)
    w.writeWays(ways, 1L, _ => "elevation_minor")
    w.done()
    fuzz("o5m".r, "2000 nodes + 40 ways" -> bos.toByteArray)(O5mReader.decode(_))
  }
}

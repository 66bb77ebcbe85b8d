package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

/** Golden pins for every media writer in [[Multimodal]] and for the
  * JPEG decoder's dead-letter sweeps. Each family is one MD5 over the
  * `case md5` lines of a fixed matrix, so any changed byte, reason or
  * decoded pixel moves it; a failure prints the lines to diff against
  * a known-good build. The JPEG coefficient writers are reached
  * through [[CodecWriters]]. */
class CodecGoldenSpec extends AnyFunSuite {
  import CodecWriters.{Chroma, Coeff, Quant}

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def pin(family: String, expected: String)(
      cases: Seq[(String, Array[Byte])]): Unit = {
    val lines = cases.map { case (n, b) => s"$n ${md5(b)}" }
    val got = md5(lines.mkString("\n").getBytes("UTF-8"))
    assert(got == expected, s"$family: $got\n${lines.mkString("\n")}")
  }

  private val reasons = Set("truncated", "bad_magic", "bad_header",
    "unsupported", "bad_huffman")

  /** A decode as one token: the reason, or the dims and the pixels'
    * MD5. */
  private def outcome(r: Either[String, (Int, Int, Array[Int])]): String =
    r match {
      case Left(reason) =>
        assert(reasons.contains(reason), reason); reason
      case Right((w, h, px)) => s"${w}x$h:${md5(px.map(_.toByte))}"
    }

  // the JpegCodecSpec formulas: DC sign flips, a 62-zero run, ±1023
  private val quantF: Quant = (u, v) => 1 + u + 2 * v
  private val quantC: Quant = (u, v) => 3 + (u + v) % 4
  private val coeffF: Coeff = (blk, u, v) =>
    if (u == 0 && v == 0) (if (blk % 2 == 0) 1 else -1) * (37 + 11 * blk)
    else if (u == 7 && v == 7 && blk % 3 == 0) 1023
    else if ((3 * u + 5 * v + blk) % 11 < 3) ((blk + 7 * u + 13 * v) % 19) - 9
    else 0
  private val chromaF: Chroma = (comp, m, u, v) =>
    if ((u + v + comp + m) % 5 < 2) ((m + 5 * u + 3 * v + 7 * comp) % 9) - 4
    else 0

  // the q337-family fixture formulas of PerceptualQueries, per doc id
  private def q337(id: Long): (Quant, Coeff, Chroma) = {
    val h32 = (id * 2654435761L) % 4294967296L
    val quant: Quant = (u, v) => (1 + (2 * u + 3 * v + id) % 6).toInt
    val coeff: Coeff = (blk, u, v) =>
      if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 127) - 64).toInt
      else if ((3 * u + 5 * v + id + blk) % 7 < 2)
        (((id + 11 * u + 17 * v + 23 * blk) % 15) - 7).toInt
      else 0
    val chroma: Chroma = (comp, m, u, v) =>
      if ((u + v + comp + id + m) % 5 < 2)
        (((id + 5 * u + 3 * v + 7 * comp) % 9) - 4).toInt
      else 0
    (quant, coeff, chroma)
  }

  private val grayDims = Seq((1, 1), (8, 8), (16, 16), (17, 13), (33, 9),
    (24, 40))
  private val colorDims = Seq((8, 8), (16, 16), (17, 13), (33, 17))
  private val samplings = Seq((2, 2), (2, 1), (1, 1)) // 4:2:0, 4:2:2, 4:4:4
  private val restarts = Seq(0, 1, 3)
  private val bandSets = Seq(Seq((1, 5), (6, 63)), Seq((1, 63)),
    Seq((1, 1), (2, 9), (10, 35), (36, 63)), Seq((1, 5)))
  private val ids = 0L until 40L

  test("sequential gray writer bytes") {
    pin("gray", "e3c8bf40a75922e5f0bdb030eda95c86")(
      for ((w, h) <- grayDims; ri <- restarts)
        yield s"$w x $h ri$ri" ->
          CodecWriters.gray(w, h, quantF, coeffF, ri))
  }

  test("progressive gray writer bytes") {
    pin("grayProg", "02e7345cab89ca892b2de4463309cfdb")(
      for ((w, h) <- grayDims.drop(2); ri <- restarts;
          bands <- bandSets; al <- Seq(0, 1, 2))
        yield s"$w x $h ri$ri $bands al$al" ->
          CodecWriters.grayProg(w, h, quantF, coeffF, ri, bands, al))
  }

  test("sequential color writer bytes") {
    pin("color", "6b193e0d3cbe78f2068846511471824e")(
      for ((w, h) <- colorDims; (hy, vy) <- samplings; ri <- restarts)
        yield s"$w x $h $hy$vy ri$ri" -> CodecWriters.color(w, h, hy, vy,
          quantF, quantC, coeffF, chromaF, ri))
  }

  test("progressive color writer bytes") {
    pin("colorProg", "7a8fba5f8771e8d43403f53aaf27317a")(
      for ((w, h) <- colorDims; (hy, vy) <- samplings;
          bands <- bandSets.take(2); al <- Seq(0, 2))
        yield s"$w x $h $hy$vy $bands al$al" -> CodecWriters.colorProg(w,
          h, hy, vy, quantF, quantC, coeffF, chromaF, bands, al))
  }

  test("q337, q346, q359, q360 and q363 fixture scripts") {
    pin("gates", "ef9cdc25b3d86da5c8bf92e25fb4b3ea")(ids.flatMap { id =>
      val (quant, coeff, chroma) = q337(id)
      val ri = if (id % 5 == 0) 2 else 0
      val bands = if (id % 3 == 0) Seq((1, 63)) else Seq((1, 5), (6, 63))
      Seq(
        s"q337 $id" -> CodecWriters.gray(16, 16, quant, coeff, 0),
        s"q359 $id" -> CodecWriters.grayProg(16, 16, quant, coeff, ri,
          bands, 0),
        s"q360 $id" -> CodecWriters.grayProg(16, 16, quant, coeff, ri,
          bands, 2),
        s"q346 $id" -> CodecWriters.color(16, 16, 2, 2, quant, quantC,
          coeff, chroma, 0),
        s"q363 $id" -> CodecWriters.colorProg(16, 16, 2, 2, quant, quantC,
          coeff, chroma, bands, if (id % 3 == 1) 2 else 0))
    })
  }

  test("pixel-path and header-only JPEG writer bytes") {
    val pixel = (x: Int, y: Int) => 20 + (7 * x + 11 * y + 13 * ((x * y) % 5)) % 200
    pin("jpegMisc", "91c054d226e40b3371e79863a825b35c")(
      (for ((w, h) <- grayDims; ri <- restarts)
        yield s"pixels $w x $h ri$ri" ->
          Multimodal.encodeJpegGrayPixels(w, h, pixel, quantF, ri)) ++
      (for ((w, h, n, p) <- Seq((640, 480, 3, 8), (1, 1, 1, 8),
          (100, 50, 4, 12), (65535, 65535, 3, 8), (7, 9, 2, 8)))
        yield s"header $w x $h $n p$p" -> Multimodal.encodeJpeg(w, h, n, p)))
  }

  test("PNG writer bytes") {
    val gray = (x: Int, y: Int) => (x * 37 + y * 11 + x * y) % 256
    val rgb = (x: Int, y: Int) =>
      ((x * 7 + y * 3) % 256, (x * 2 + y * 11) % 256, (x * 13 + y) % 256)
    pin("png", "6ee8ded90784bc87ce5a9e3ff1675dcd")(
      (for ((w, h, ct, d) <- Seq((1, 1, 0, 8), (640, 480, 2, 8),
          (100, 50, 6, 16), (Int.MaxValue, 3, 3, 1)))
        yield s"header $w x $h ct$ct d$d" -> Multimodal.encodePng(w, h, ct, d)) ++
      (for ((w, h) <- Seq((1, 1), (16, 16), (17, 5), (40, 3));
          f <- Seq(0, 4, 5))
        yield {
          val filter = (y: Int) => if (f == 5) y % 5 else f
          Seq(s"gray $w x $h f$f" ->
              Multimodal.encodePngGray(w, h, gray, filter),
            s"rgb $w x $h f$f" ->
              Multimodal.encodePngColor(w, h, rgb, filter),
            s"rgba $w x $h f$f" ->
              Multimodal.encodePngColor(w, h, rgb, filter, alpha = 128))
        }).flatten)
  }

  test("MP4 and WAV writer bytes, PCM decode outcomes") {
    val sampleByte = (j: Int, i: Int) => j * 31 + i * 7
    val pcm = Seq((1, 8, Array.tabulate(50)(i => (i * 13) % 200 - 100)),
      (2, 16, Array.tabulate(64)(i => (i * 977) % 60000 - 30000)))
    val wavs = pcm.map { case (ch, bits, s) =>
      Multimodal.encodeWavSamples(ch, 8000, bits, s) }
    val pcmOutcomes = wavs.flatMap { b =>
      (0 to b.length).map(k => Multimodal.decodeWavPcm(b.take(k)) match {
        case Left(r) => r
        case Right((ch, rate, mix)) => s"$ch $rate ${mix.mkString(",")}"
      })
    }
    pin("mp4wav", "399751189e7f1462d80372270f28ad64")(
      (for ((brand, ts, dur, w, h, n) <- Seq(("isom", 1000L, 5000L, 640, 480, 0),
          ("isom", 1000L, 5000L, 640, 480, 1), ("mp42", 90000L, 1L << 33, 1920,
          1080, 3), ("avc1", 0L, 0L, 1, 1, 2)))
        yield s"mp4 $brand $ts $dur $w $h $n" ->
          Multimodal.encodeMp4(brand, ts, dur, w, h, n)) ++
      (for ((sizes, chunks) <- Seq((Array(5), 1), (Array(3, 4, 5), 2),
          (Array(10, 1, 1, 7, 2), 3), (Array(2, 2, 2, 2), 4)))
        yield s"samples ${sizes.mkString(",")} c$chunks" ->
          Multimodal.encodeMp4Samples("isom", 90000L, 3000L, sizes,
            sampleByte, chunks)) ++
      Seq("wav 1 8" -> Multimodal.encodeWav(1, 8000, 8, 100),
        "wav 2 16" -> Multimodal.encodeWav(2, 44100, 16, 37)) ++
      wavs.zipWithIndex.map { case (b, i) => s"pcm $i" -> b } :+
      ("pcm decode" -> pcmOutcomes.mkString("\n").getBytes("UTF-8")))
  }

  // the sweep streams: sequential with restarts, sequential without,
  // progressive with successive approximation and restarts, and
  // 4:2:0 color progressive with successive approximation
  private val sweepStreams = Seq(
    "seq ri2" -> CodecWriters.gray(16, 16, quantF, coeffF, 2),
    "seq" -> CodecWriters.gray(16, 16, quantF, coeffF, 0),
    "prog SA ri2" -> CodecWriters.grayProg(16, 16, quantF, coeffF, 2,
      Seq((1, 5), (6, 63)), 2),
    "color prog SA" -> CodecWriters.colorProg(16, 16, 2, 2, quantF, quantC,
      coeffF, chromaF, Seq((1, 5), (6, 63)), 2))

  test("truncation sweep: the outcome at every prefix") {
    pin("truncation", "df2381b17d049a0cdb0f26e258251f35")(
      sweepStreams.map { case (name, full) =>
        name -> (0 until full.length).map(k =>
          s"$k ${outcome(Multimodal.decodeJpegGray(full.take(k)))}")
          .mkString("\n").getBytes("UTF-8")
      })
  }

  test("bit-flip sweep: the outcome at every third byte") {
    pin("bitflip", "8bc3e73e53557f96ca6bebb657d01091")(
      sweepStreams.map { case (name, full) =>
        name -> (3 until full.length by 3).map { i =>
          val c = full.clone(); c(i) = (c(i) ^ 0x6d).toByte
          s"$i ${outcome(Multimodal.decodeJpegGray(c))}"
        }.mkString("\n").getBytes("UTF-8")
      })
  }
}

package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.JpegFrame

/** The baseline JPEG pixel codec (r18, VERDICT r17 ask #1): ITU-T
  * T.81 sequential-DCT greyscale encode/decode. The q337-family gates
  * prove the distributed path + oracle agreement; this spec proves
  * the codec against the container spec directly — the crafted-size
  * matrix standard of ADVICE r16: round trips across block-grid
  * shapes, entropy-coding corner cases (ZRL runs, EOB, max-category
  * values, DC sign flips), restart markers, 16-bit DQT, the
  * dead-letter lanes, and the never-throw truncation/bit-flip sweeps.
  */
class JpegCodecSpec extends SparkSuite {

  /** Structural view of a decode result — Either/tuple equality over
    * an Array compares by REFERENCE, so tests compare this instead. */
  private def norm(r: Either[String, (Int, Int, Array[Int])])
      : Either[String, (Int, Int, Seq[Int])] =
    r.map { case (w, h, px) => (w, h, px.toSeq) }

  /** Reference decode path the byte-level decoder must reproduce:
    * dequantize + clamp + the shared exact IDCT, assembled from the
    * block grid and cropped — NO bytes involved. */
  private def referencePixels(w: Int, h: Int,
      quant: (Int, Int) => Int,
      coeff: (Int, Int, Int) => Int): Array[Int] = {
    val bxN = (w + 7) / 8; val byN = (h + 7) / 8
    val px = new Array[Int](w * h)
    for (by <- 0 until byN; bx <- 0 until bxN) {
      val f = new Array[Long](64)
      for (v <- 0 until 8; u <- 0 until 8) {
        val dq = coeff(by * bxN + bx, u, v).toLong * quant(u, v)
        f(v * 8 + u) = math.max(-2048L, math.min(2047L, dq))
      }
      val blockPx = Multimodal.idctBlock8Micro(f)
      for (y <- 0 until 8; x <- 0 until 8) {
        val gx = bx * 8 + x; val gy = by * 8 + y
        if (gx < w && gy < h) px(gy * w + gx) = blockPx(y * 8 + x)
      }
    }
    px
  }

  // a dense-ish deterministic coefficient formula exercising DC sign
  // flips across blocks, long zero runs (ZRL), EOB, and values at the
  // ±1023 category-10 boundary
  private def coeffFormula(blk: Int, u: Int, v: Int): Int =
    if (u == 0 && v == 0) (if (blk % 2 == 0) 1 else -1) * (37 + 11 * blk)
    else if (u == 7 && v == 7 && blk % 3 == 0) 1023 // forces a 62-zero run
    else if ((3 * u + 5 * v + blk) % 11 < 3)
      ((blk + 7 * u + 13 * v) % 19) - 9
    else 0

  private def quantFormula(u: Int, v: Int): Int = 1 + u + 2 * v

  private val formulaFrame = JpegFrame.gray(quantFormula, coeffFormula)

  test("Annex K table invariants: 162 distinct AC symbols = all " +
      "(run<=15, size 1..10) + EOB + ZRL; 12 DC categories; both " +
      "canonically feasible") {
    assert(Multimodal.jDcBits.sum == 12 &&
      Multimodal.jDcVals.toSeq == (0 to 11))
    assert(Multimodal.jAcBits.sum == 162)
    val expected = (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)
      .toSet + 0x00 + 0xf0
    assert(Multimodal.jAcVals.length == 162 &&
      Multimodal.jAcVals.toSet == expected &&
      Multimodal.jAcVals.distinct.length == 162)
    assert(Multimodal.buildHuff(Multimodal.jDcBits,
      Multimodal.jDcVals).nonEmpty)
    assert(Multimodal.buildHuff(Multimodal.jAcBits,
      Multimodal.jAcVals).nonEmpty)
  }

  test("zigzag is the T.81 Figure A.6 permutation") {
    val zz = Multimodal.zigzag
    assert(zz.toSet == (0 until 64).toSet)
    // the spec's published prefix (natural index = row*8 + col)
    assert(zz.take(10).toSeq ==
      Seq(0, 1, 8, 16, 9, 2, 3, 10, 17, 24))
    assert(zz(63) == 63)
  }

  test("acMicro8: α(0)=1/√2 row is flat 707107, known spot values") {
    assert((0 until 8).forall(x => Multimodal.acMicro8(0)(x) == 707107L))
    assert(Multimodal.acMicro8(1)(0) == 980785L) // cos(π/16)·10⁶
    assert(Multimodal.acMicro8(4)(0) == 707107L) // cos(π/4)·10⁶
    assert(Multimodal.acMicro8(4)(1) == -707107L) // cos(3π/4)·10⁶
  }

  test("coefficient round trip across the crafted-size matrix: " +
      "decode(encode(coeffs)) == dequant+IDCT reference, bit-exact") {
    for ((w, h) <- Seq((8, 8), (16, 16), (24, 8), (16, 24), (12, 10),
        (1, 1), (8, 17))) {
      val bytes = Multimodal.encodeJpegCoeffs(w, h, formulaFrame)
      val got = Multimodal.decodeJpegGray(bytes)
      assert(got.isRight, s"$w x $h -> $got")
      val Right((gw, gh, px)) = got
      assert(gw == w && gh == h)
      assert(px.toSeq ==
        referencePixels(w, h, quantFormula, coeffFormula).toSeq,
        s"$w x $h pixel mismatch")
    }
  }

  test("restart markers: DRI 1 and 3 decode identically to the " +
      "no-DRI stream; a misnumbered RST dead-letters as bad_huffman") {
    val base = norm(Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(16, 16, formulaFrame)))
    for (dri <- Seq(1, 3)) {
      val bytes = Multimodal.encodeJpegCoeffs(16, 16, formulaFrame,
        restartInterval = dri)
      assert(norm(Multimodal.decodeJpegGray(bytes)) == base, s"dri=$dri")
    }
    // corrupt the first restart marker's number (FF D0 -> FF D7)
    val bytes = Multimodal.encodeJpegCoeffs(16, 16, formulaFrame,
      restartInterval = 1)
    val at = (0 until bytes.length - 1).indexWhere(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xd0)
    assert(at > 0)
    val evil = bytes.clone(); evil(at + 1) = 0xd7.toByte
    assert(Multimodal.decodeJpegGray(evil) == Left("bad_huffman"))
  }

  test("pixel-path encode: constant blocks at q=1 round-trip EXACTLY; " +
      "a smooth gradient stays within the fixed-point tolerance") {
    val flat = Multimodal.encodeJpegGrayPixels(16, 16, (_, _) => 173,
      (_, _) => 1)
    val Right((_, _, fpx)) = Multimodal.decodeJpegGray(flat)
    assert(fpx.forall(_ == 173))
    def grad(x: Int, y: Int): Int = 40 + 7 * x + 5 * y
    val g = Multimodal.encodeJpegGrayPixels(16, 16, grad, (_, _) => 1)
    val Right((_, _, gpx)) = Multimodal.decodeJpegGray(g)
    val maxErr = (0 until 256).map(i =>
      math.abs(gpx(i) - grad(i % 16, i / 16))).max
    assert(maxErr <= 2, s"gradient max error $maxErr")
    // ADVICE r18: an all-black image quantizes DC to exactly -1024 at
    // q=1 — legal T.81 (8-bit DC spans [-1024, 1016], DC-diff
    // category 11 encodes it) and must round-trip, not throw
    val black = Multimodal.encodeJpegGrayPixels(16, 16, (_, _) => 0,
      (_, _) => 1)
    val Right((_, _, bpx)) = Multimodal.decodeJpegGray(black)
    assert(bpx.forall(_ == 0))
    val white = Multimodal.encodeJpegGrayPixels(16, 16, (_, _) => 255,
      (_, _) => 1)
    val Right((_, _, wpx)) = Multimodal.decodeJpegGray(white)
    assert(wpx.forall(_ == 255))
  }

  test("progressive (r19): spectral-selection containers decode to " +
      "EXACTLY the sequential pixels — band splits, DRI resync, EOBn " +
      "runs, partial edge blocks, partial band coverage") {
    def quant(u: Int, v: Int): Int = 1 + (2 * u + 3 * v + 5) % 6
    def coeff(blk: Int, u: Int, v: Int): Int =
      if (u == 0 && v == 0) ((blk * 37 + 11) % 128) - 64
      else if ((3 * u + 5 * v + blk) % 7 < 2)
        ((blk + 11 * u + 17 * v) % 15) - 7
      else 0
    val Right((_, _, seq)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(16, 16, JpegFrame.gray(quant, coeff)))
    for (bands <- Seq(Seq((1, 5), (6, 63)), Seq((1, 63)),
        Seq((1, 1), (2, 9), (10, 35), (36, 63)))) {
      val Right((_, _, p)) = Multimodal.decodeJpegGray(
        Multimodal.encodeJpegProgressiveCoeffs(16, 16,
          JpegFrame.gray(quant, coeff), 0, bands))
      assert(p.sameElements(seq), s"bands=$bands")
    }
    for (dri <- Seq(1, 3)) {
      val Right((_, _, p)) = Multimodal.decodeJpegGray(
        Multimodal.encodeJpegProgressiveCoeffs(16, 16,
          JpegFrame.gray(quant, coeff), dri))
      assert(p.sameElements(seq), s"dri=$dri")
    }
    // EOBn runs: a sparse 17x17 (partial edge blocks) where most
    // blocks' high band is all-zero -> multi-block EOB runs
    def sparse(blk: Int, u: Int, v: Int): Int =
      if (u == 0 && v == 0) blk - 4
      else if (u + v == 1 && blk % 5 == 0) 3 else 0
    val Right((_, _, s2)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(17, 17, JpegFrame.gray(quant, sparse)))
    val Right((_, _, p2)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegProgressiveCoeffs(17, 17,
        JpegFrame.gray(quant, sparse)))
    assert(p2.sameElements(s2), "sparse 17x17 EOBn path")
    // bands need not cover 1..63: uncovered coefficients decode 0 —
    // equal to a sequential encode of the low-band-only coefficients
    def coeffLow(blk: Int, u: Int, v: Int): Int = {
      val k = (0 until 64).find(i =>
        Multimodal.zigzag(i) == v * 8 + u).get
      if (k <= 5) coeff(blk, u, v) else 0
    }
    val Right((_, _, sLow)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(16, 16, JpegFrame.gray(quant, coeffLow)))
    val Right((_, _, pLow)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegProgressiveCoeffs(16, 16,
        JpegFrame.gray(quant, coeff), 0, Seq((1, 5))))
    assert(pLow.sameElements(sLow), "partial band coverage")
  }

  test("progressive successive approximation (r19): bit-plane " +
      "refinement chains reconstruct the sequential pixels EXACTLY — " +
      "Al 1..3, DRI, dense/sparse, negatives, corrections across " +
      "EOB runs") {
    def quant(u: Int, v: Int): Int = 1 + (2 * u + 3 * v + 5) % 6
    // dense: many already-significant coefficients per refinement
    def dense(blk: Int, u: Int, v: Int): Int =
      if (u == 0 && v == 0) ((blk * 37 + 11) % 128) - 64
      else (((blk + 11 * u + 17 * v) % 15) - 7)
    // sparse: long zero runs + isolated ±1s (newly-significant at the
    // LAST refinement only) + corrections inside EOB runs
    def sparse(blk: Int, u: Int, v: Int): Int =
      if (u == 0 && v == 0) blk % 3 - 1
      else if ((u + v + blk) % 23 == 0) (if (blk % 2 == 0) 1 else -1)
      else if ((u * v + blk) % 31 == 0) -5
      else 0
    for ((cf, name) <- Seq((dense _, "dense"), (sparse _, "sparse"));
        al <- Seq(1, 2, 3); dri <- Seq(0, 3)) {
      val Right((_, _, seq)) = Multimodal.decodeJpegGray(
        Multimodal.encodeJpegCoeffs(16, 16, JpegFrame.gray(quant, cf)))
      val Right((_, _, p)) = Multimodal.decodeJpegGray(
        Multimodal.encodeJpegProgressiveCoeffs(16, 16,
          JpegFrame.gray(quant, cf),
          dri, Seq((1, 5), (6, 63)), approxLow = al))
      assert(p.sameElements(seq), s"$name al=$al dri=$dri")
    }
    // a 24x24 sparse image: multi-block EOB runs WITH buffered
    // correction bits crossing block boundaries
    def wide(blk: Int, u: Int, v: Int): Int =
      if (u == 0 && v == 0) blk - 4
      else if (blk % 4 == 1 && u + v == 2) 3
      else 0
    val Right((_, _, s2)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(24, 24, JpegFrame.gray(quant, wide)))
    val Right((_, _, p2)) = Multimodal.decodeJpegGray(
      Multimodal.encodeJpegProgressiveCoeffs(24, 24,
        JpegFrame.gray(quant, wide),
        0, Seq((1, 63)), approxLow = 2))
    assert(p2.sameElements(s2), "EOB-run correction bits")
    // the 0xF1..0xFA regression (round-19 lesson): EXACTLY 15 zeros
    // before a value needs the (15<<4)|s symbols — a table without
    // them makes the encoder emit ZERO bits and desync. One isolated
    // coefficient at zigzag 16 (offset 15 in a (1,63) band) pins it,
    // and zigzag 17 (offset 16) pins the ZRL+*(0<<4|s) split next door
    for (pos <- Seq(16, 17); v <- Seq(1, -1, 3)) {
      def one(blk: Int, u: Int, vv: Int): Int = {
        val k = (0 until 64).find(i =>
          Multimodal.zigzag(i) == vv * 8 + u).get
        if (k == pos) v else 0
      }
      val Right((_, _, a)) = Multimodal.decodeJpegGray(
        Multimodal.encodeJpegCoeffs(8, 8, JpegFrame.gray(quant, one)))
      for (al <- Seq(0, 1)) {
        val Right((_, _, b)) = Multimodal.decodeJpegGray(
          Multimodal.encodeJpegProgressiveCoeffs(8, 8,
            JpegFrame.gray(quant, one),
            0, Seq((1, 63)), approxLow = al))
        assert(b.sameElements(a), s"pos=$pos v=$v al=$al")
      }
    }
    // broken refinement chain (Ah must equal Al + 1) -> bad_header:
    // patch the DC refinement scan's AhAl from 0x10 to 0x20
    val prog = Multimodal.encodeJpegProgressiveCoeffs(16, 16,
      JpegFrame.gray(quant, dense), 0, Seq((1, 63)), approxLow = 1)
    val at = (0 until prog.length - 9).indexWhere(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda &&
        (prog(i + 9) & 0xff) == 0x10)
    assert(at > 0, "no refinement SOS found")
    val broken = prog.clone(); broken(at + 9) = 0x20.toByte
    assert(Multimodal.decodeJpegGray(broken) == Left("bad_header"))
  }

  test("color progressive (r19): interleaved DC + per-component AC " +
      "scans decode the luma EXACTLY as the sequential color " +
      "container — 4:2:0/4:2:2/4:4:4, spectral and SA, chroma scans " +
      "marker-skipped") {
    def quantY(u: Int, v: Int): Int = 1 + (2 * u + 3 * v) % 6
    def quantC(u: Int, v: Int): Int = 3 + (u + v) % 4
    def coeffC(comp: Int, m: Int, u: Int, v: Int): Int =
      if ((u + v + comp + m) % 5 < 2) (((m + 5 * u + 3 * v +
        7 * comp) % 9) - 4)
      else 0
    for ((hy, vy, w, h) <- Seq((2, 2, 16, 16), (2, 1, 16, 16),
        (1, 1, 16, 16), (2, 2, 24, 16), (2, 2, 17, 13))) {
      val lumaW = ((w + 8 * hy - 1) / (8 * hy)) * hy
      def coeffY(blk: Int, u: Int, v: Int): Int = {
        val bx = blk % lumaW; val by = blk / lumaW
        if (u == 0 && v == 0) ((bx * 37 + by * 59 + 11) % 128) - 64
        else if ((3 * u + 5 * v + blk) % 7 < 2)
          ((blk + 11 * u + 17 * v) % 15) - 7
        else 0
      }
      val Right((_, _, seqPx)) = Multimodal.decodeJpegGray(
        Multimodal.encodeJpegCoeffs(w, h, JpegFrame.ycc(hy, vy,
          quantY, quantC, coeffY, coeffC)))
      for (al <- Seq(0, 2); dri <- Seq(0, 1, 3)) {
        val prog = Multimodal.encodeJpegProgressiveCoeffs(w, h,
          JpegFrame.ycc(hy, vy, quantY, quantC, coeffY, coeffC),
          restartInterval = dri, bands = Seq((1, 5), (6, 63)),
          approxLow = al)
        val Right((_, _, p)) = Multimodal.decodeJpegGray(prog)
        assert(p.sameElements(seqPx),
          s"hy=$hy vy=$vy w=$w al=$al dri=$dri")
      }
    }
    // interleaved AC scan is illegal: patch a color progressive
    // stream's interleaved DC SOS band to (1,5) -> bad_header
    val cp = Multimodal.encodeJpegProgressiveCoeffs(16, 16,
      JpegFrame.ycc(2, 2, quantY, quantC, (_, _, _) => 0,
        (_, _, _, _) => 0))
    val at = (0 until cp.length - 1).indexWhere(i =>
      (cp(i) & 0xff) == 0xff && (cp(i + 1) & 0xff) == 0xda)
    // SOS(Ns=3): FF DA len2 03 [1 00 2 00 3 00] Ss Se AhAl
    assert((cp(at + 11) & 0xff) == 0 && (cp(at + 12) & 0xff) == 0)
    val badAc = cp.clone()
    badAc(at + 11) = 0x01.toByte; badAc(at + 12) = 0x05.toByte
    assert(Multimodal.decodeJpegGray(badAc) == Left("bad_header"))
  }

  test("progressive dead lanes (r19): successive approximation, " +
      "color SOF2, sequential-scan-in-SOF2, AC-before-DC, mid-scan " +
      "truncation, oversized buffer admission") {
    def quant(u: Int, v: Int): Int = 1 + (u + v) % 4
    def coeff(blk: Int, u: Int, v: Int): Int =
      if (u == 0 && v == 0) 10 else 0
    val prog = Multimodal.encodeJpegProgressiveCoeffs(16, 16,
      JpegFrame.gray(quant, coeff))
    // Al past the 13-bit point-transform ceiling -> bad_header
    val sosAt = (0 until prog.length - 1).indexWhere(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda)
    assert(sosAt > 0 && (prog(sosAt + 9) & 0xff) == 0)
    val sa = prog.clone(); sa(sosAt + 9) = 0x0e.toByte
    assert(Multimodal.decodeJpegGray(sa) == Left("bad_header"))
    // color container patched to SOF2 (color progressive DECODES
    // since the r19 completion): its interleaved FULL-RANGE scan is
    // an interleaved AC scan — illegal §G.1 -> bad_header
    val color = Multimodal.encodeJpegCoeffs(16, 16,
      JpegFrame.ycc(2, 2, quant, quant, coeff, (_, _, _, _) => 0))
    val colAt = (0 until color.length - 1).indexWhere(i =>
      (color(i) & 0xff) == 0xff && (color(i + 1) & 0xff) == 0xc0)
    val colProg = color.clone(); colProg(colAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegGray(colProg) == Left("bad_header"))
    // a SEQUENTIAL stream whose SOF0 is patched to SOF2 (the q337
    // %13 lane): its full-range Ss=0,Se=63 scan is an invalid
    // progressive scan header -> bad_header (not unsupported)
    val seqBytes = Multimodal.encodeJpegCoeffs(16, 16,
      JpegFrame.gray(quant, coeff))
    val seqAt = (0 until seqBytes.length - 1).indexWhere(i =>
      (seqBytes(i) & 0xff) == 0xff && (seqBytes(i + 1) & 0xff) == 0xc0)
    val seqProg = seqBytes.clone(); seqProg(seqAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegGray(seqProg) == Left("bad_header"))
    // an AC band scan arriving before the DC scan -> bad_header:
    // patch the FIRST scan's Ss/Se from (0,0) to (1,5)
    val acFirst = prog.clone()
    acFirst(sosAt + 7) = 0x01.toByte; acFirst(sosAt + 8) = 0x05.toByte
    assert(Multimodal.decodeJpegGray(acFirst) == Left("bad_header"))
    // truncation mid-scan and before EOI
    assert(Multimodal.decodeJpegGray(prog.take(sosAt + 12)) ==
      Left("truncated"))
    assert(Multimodal.decodeJpegGray(prog.take(prog.length - 2)) ==
      Left("truncated"))
    // oversized: patch dims past the 2^22-pixel progressive buffer
    // cap (SOF2 body: prec, h16, w16 at generator-known offsets)
    val sofAt = (0 until prog.length - 1).indexWhere(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc2)
    val big = prog.clone()
    big(sofAt + 5) = 0x0c.toByte; big(sofAt + 6) = 0x00.toByte // h=3072
    big(sofAt + 7) = 0x06.toByte; big(sofAt + 8) = 0x00.toByte // w=1536
    assert(Multimodal.decodeJpegGray(big) == Left("unsupported"))
  }

  test("color PNG (r19): RGB and RGBA round-trip through byte-wide " +
      "defiltering to the exact REC.601 integer luma; alpha ignored; " +
      "grey path byte-identical to before") {
    def rgb(x: Int, y: Int): (Int, Int, Int) =
      ((x * 7 + y * 3) % 256, (x * 2 + y * 11 + 5) % 256,
        (x * 13 + y + 3) % 256)
    def luma(x: Int, y: Int): Int = {
      val (r, g, b0) = rgb(x, y)
      (299 * r + 587 * g + 114 * b0 + 500) / 1000
    }
    for (alpha <- Seq(-1, 128); fMode <- Seq(0, 1)) {
      val png = Multimodal.encodePngColor(16, 16, rgb,
        y => if (fMode == 0) y % 5 else 4, alpha)
      val Right((w, h, px)) = Multimodal.decodePngGray(png)
      assert(w == 16 && h == 16)
      val bad = (0 until 256).filter(i => px(i) != luma(i % 16, i / 16))
      assert(bad.isEmpty, s"alpha=$alpha fMode=$fMode bad=$bad")
    }
    // a 1-pixel-wide color image: the left reference is always the
    // zero boundary (x >= bpp never fires on the first pixel)
    val thin = Multimodal.encodePngColor(1, 4, rgb, _ => 1)
    val Right((_, _, tp)) = Multimodal.decodePngGray(thin)
    assert(tp.toSeq == (0 until 4).map(y => luma(0, y)))
  }

  test("jpegSofMarker (r19): first SOF through DQT/DHT/DRI hops; " +
      "progressive patch reads C2; truncation/garbage/PNG read None") {
    val bytes = Multimodal.encodeJpegCoeffs(16, 16, formulaFrame,
      restartInterval = 2)
    assert(Multimodal.jpegSofMarker(bytes) == Some(0xc0))
    val at = (0 until bytes.length - 1).indexWhere(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0)
    val prog = bytes.clone(); prog(at + 1) = 0xc2.toByte
    assert(Multimodal.jpegSofMarker(prog) == Some(0xc2))
    assert(Multimodal.jpegSofMarker(bytes.take(10)).isEmpty)
    assert(Multimodal.jpegSofMarker("nope".getBytes).isEmpty)
    assert(Multimodal.jpegSofMarker(
      Multimodal.encodePngGray(2, 2, (_, _) => 7, _ => 0)).isEmpty)
  }

  test("16-bit DQT (Pq=1): same values as the 8-bit table decode to " +
      "the same pixels") {
    val bytes = Multimodal.encodeJpegCoeffs(8, 8, formulaFrame)
    // the encoder's layout is SOI then DQT: FF DB 00 43 00 q[64]
    assert((bytes(2) & 0xff) == 0xff && (bytes(3) & 0xff) == 0xdb &&
      (bytes(5) & 0xff) == 0x43 && (bytes(6) & 0xff) == 0x00)
    val q8 = bytes.slice(7, 71)
    val dqt16 = Array[Byte](0xff.toByte, 0xdb.toByte, 0x00, 0x83.toByte,
      0x10) ++ q8.flatMap(v => Array[Byte](0, v)) // Pq=1 (HIGH nibble)
    val patched = bytes.take(2) ++ dqt16 ++ bytes.drop(71)
    assert(norm(Multimodal.decodeJpegGray(patched)) ==
      norm(Multimodal.decodeJpegGray(bytes)))
  }

  test("dead-letter lanes: header-only stream, unsupported variants, " +
      "undefined tables, infeasible DHT, zero quant") {
    // header-only (encodeJpeg has SOI/APP0/SOF0/EOI, no scan)
    assert(Multimodal.decodeJpegGray(
      Multimodal.encodeJpeg(16, 16, 1)) == Left("truncated"))
    // 3-component frames are SUPPORTED since the color extension, so
    // a header-only color stream reads truncated like the grey one;
    // > 4 components stays on the unsupported lane
    assert(Multimodal.decodeJpegGray(
      Multimodal.encodeJpeg(16, 16, 3)) == Left("truncated"))
    assert(Multimodal.decodeJpegGray(
      Multimodal.encodeJpeg(16, 16, 5)) == Left("unsupported"))
    // 12-bit precision -> unsupported
    assert(Multimodal.decodeJpegGray(
      Multimodal.encodeJpeg(16, 16, 1, precision = 12)) ==
      Left("unsupported"))
    val good = Multimodal.encodeJpegCoeffs(8, 8, formulaFrame)
    // SOF0 -> SOF2 (progressive is DECODED since r19): the stream's
    // full-range sequential scan is an invalid progressive scan
    // header -> bad_header; SOF1 (extended sequential) stays on the
    // unsupported lane
    val sofAt = (0 until good.length - 1).indexWhere(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0)
    val prog = good.clone(); prog(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegGray(prog) == Left("bad_header"))
    val ext = good.clone(); ext(sofAt + 1) = 0xc1.toByte
    assert(Multimodal.decodeJpegGray(ext) == Left("unsupported"))
    // zero DQT entry -> bad_header (offset 7 = first zigzag entry)
    val zq = good.clone(); zq(7) = 0
    assert(Multimodal.decodeJpegGray(zq) == Left("bad_header"))
    // infeasible DHT: 3 codes of length 1 (Kraft overflow), with
    // BITS[3] reduced so the declared TOTAL stays 12 and the length
    // check can't mask the feasibility check
    val dhtAt = (0 until good.length - 1).indexWhere(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc4)
    val kraft = good.clone()
    kraft(dhtAt + 5) = 3 // BITS[1] of class 0: 0 -> 3
    kraft(dhtAt + 7) = 2 // BITS[3]: 5 -> 2
    assert(Multimodal.decodeJpegGray(kraft) == Left("bad_huffman"))
    // strip both DHT segments -> SOS references undefined tables
    val len0 = ((good(dhtAt + 2) & 0xff) << 8) | (good(dhtAt + 3) & 0xff)
    val d2 = good.take(dhtAt) ++ good.drop(dhtAt + 2 + len0)
    val dhtAt2 = (0 until d2.length - 1).indexWhere(i =>
      (d2(i) & 0xff) == 0xff && (d2(i + 1) & 0xff) == 0xc4)
    val len1 = ((d2(dhtAt2 + 2) & 0xff) << 8) | (d2(dhtAt2 + 3) & 0xff)
    val noDht = d2.take(dhtAt2) ++ d2.drop(dhtAt2 + 2 + len1)
    assert(Multimodal.decodeJpegGray(noDht) == Left("bad_header"))
    // magic lanes
    assert(Multimodal.decodeJpegGray(Array.emptyByteArray) ==
      Left("truncated"))
    assert(Multimodal.decodeJpegGray(Array[Byte](0xff.toByte)) ==
      Left("truncated"))
    assert(Multimodal.decodeJpegGray("GIF89a".getBytes("US-ASCII")) ==
      Left("bad_magic"))
  }

  test("truncation sweep: every prefix of a valid stream classifies " +
      "into the reason vocabulary or decodes — never throws") {
    val full = Multimodal.encodeJpegCoeffs(16, 16, formulaFrame,
      restartInterval = 2)
    val reasons = Set("truncated", "bad_magic", "bad_header",
      "unsupported", "bad_huffman")
    val whole = norm(Multimodal.decodeJpegGray(full))
    for (k <- 0 until full.length) {
      norm(Multimodal.decodeJpegGray(full.take(k))) match {
        case Left(r) => assert(reasons.contains(r), s"prefix $k -> $r")
        case Right(v) => // only acceptable once all blocks are present
          assert(Right(v) == whole, s"prefix $k decoded differently")
      }
    }
  }

  test("bit-flip sweep: single-byte corruption anywhere classifies " +
      "or decodes, never throws and never loops") {
    val full = Multimodal.encodeJpegCoeffs(16, 16, formulaFrame)
    val reasons = Set("truncated", "bad_magic", "bad_header",
      "unsupported", "bad_huffman")
    for (i <- 2 until full.length; if i % 3 == 0) {
      val c = full.clone(); c(i) = (c(i) ^ 0x6d).toByte
      Multimodal.decodeJpegGray(c) match {
        case Left(r) => assert(reasons.contains(r), s"flip@$i -> $r")
        case Right(_) => () // a flip inside entropy data may still decode
      }
    }
  }

  /** Luma reference in the DECODER's interleaved geometry: blocks
    * raster over the mcuX·hy grid (which pads past non-MCU-aligned
    * dims), cropped to (w, h). */
  private def colorReferencePixels(w: Int, h: Int, hy: Int, vy: Int,
      quant: (Int, Int) => Int,
      coeff: (Int, Int, Int) => Int): Array[Int] = {
    val mcuX = (w + 8 * hy - 1) / (8 * hy)
    val mcuY = (h + 8 * vy - 1) / (8 * vy)
    val bw = mcuX * hy
    val px = new Array[Int](w * h)
    for (by <- 0 until mcuY * vy; bx <- 0 until bw) {
      val f = new Array[Long](64)
      for (v <- 0 until 8; u <- 0 until 8) {
        val dq = coeff(by * bw + bx, u, v).toLong * quant(u, v)
        f(v * 8 + u) = math.max(-2048L, math.min(2047L, dq))
      }
      val blockPx = Multimodal.idctBlock8Micro(f)
      for (y <- 0 until 8; x <- 0 until 8) {
        val gx = bx * 8 + x; val gy = by * 8 + y
        if (gx < w && gy < h) px(gy * w + gx) = blockPx(y * 8 + x)
      }
    }
    px
  }

  private def chromaFormula(comp: Int, m: Int, u: Int, v: Int): Int =
    if ((u + v + comp + m) % 5 < 2) ((m + 5 * u + 3 * v + 7 * comp) % 9) - 4
    else 0

  test("color decode: 4:2:0 / 4:2:2 / 4:4:4 across MCU-aligned and " +
      "padded dims — luma bit-exact, chroma walked and discarded") {
    for {
      (hy, vy) <- Seq((2, 2), (2, 1), (1, 1))
      (w, h) <- Seq((16, 16), (32, 16), (20, 12), (8, 8))
    } {
      val bytes = Multimodal.encodeJpegCoeffs(w, h,
        JpegFrame.ycc(hy, vy, quantFormula,
          (u, v) => 3 + (u + v) % 4, coeffFormula, chromaFormula))
      val got = Multimodal.decodeJpegGray(bytes)
      assert(got.isRight, s"$hy x$vy $w x $h -> $got")
      val Right((gw, gh, px)) = got
      assert(gw == w && gh == h, s"$hy x$vy $w x $h dims")
      assert(px.toSeq == colorReferencePixels(w, h, hy, vy,
        quantFormula, coeffFormula).toSeq,
        s"$hy x$vy $w x $h luma mismatch")
    }
  }

  test("color luma == greyscale decode of the same coefficients " +
      "(MCU-aligned), and color restart markers across 4 MCUs") {
    val grey = norm(Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(16, 16, formulaFrame)))
    val color = norm(Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(16, 16, JpegFrame.ycc(2, 2,
        quantFormula, (u, v) => 3 + (u + v) % 4, coeffFormula,
        chromaFormula))))
    assert(color == grey)
    val base = norm(Multimodal.decodeJpegGray(
      Multimodal.encodeJpegCoeffs(32, 32, JpegFrame.ycc(2, 2,
        quantFormula, (u, v) => 3 + (u + v) % 4, coeffFormula,
        chromaFormula))))
    for (dri <- Seq(1, 2)) {
      val withRst = Multimodal.encodeJpegCoeffs(32, 32,
        JpegFrame.ycc(2, 2, quantFormula,
          (u, v) => 3 + (u + v) % 4, coeffFormula, chromaFormula),
        restartInterval = dri)
      assert(norm(Multimodal.decodeJpegGray(withRst)) == base,
        s"dri=$dri")
    }
  }

  test("color dead lanes: downsampled luma and multi-scan Ns < Nf " +
      "are unsupported BEFORE any entropy work; truncation sweep " +
      "never throws") {
    val good = Multimodal.encodeJpegCoeffs(16, 16,
      JpegFrame.ycc(2, 2, quantFormula,
        (u, v) => 3 + (u + v) % 4, coeffFormula, chromaFormula))
    // SOF layout: SOI(2) DQT(69) DQT(69) -> SOF0 at 140; Y HV at 151,
    // Cb HV at 154
    assert((good(140) & 0xff) == 0xff && (good(141) & 0xff) == 0xc0 &&
      (good(151) & 0xff) == 0x22 && (good(154) & 0xff) == 0x11)
    val down = good.clone()
    down(151) = 0x11; down(154) = 0x22 // luma 1x1 under 2x2 chroma
    assert(Multimodal.decodeJpegGray(down) == Left("unsupported"))
    val sosAt = (0 until good.length - 1).indexWhere(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda)
    val multiScan = good.clone(); multiScan(sosAt + 4) = 1 // Ns 3 -> 1
    assert(Multimodal.decodeJpegGray(multiScan) == Left("unsupported"))
    val reasons = Set("truncated", "bad_magic", "bad_header",
      "unsupported", "bad_huffman")
    val whole = norm(Multimodal.decodeJpegGray(good))
    for (k <- 0 until good.length by 2) {
      norm(Multimodal.decodeJpegGray(good.take(k))) match {
        case Left(r) => assert(reasons.contains(r), s"prefix $k -> $r")
        case Right(v) => assert(Right(v) == whole,
          s"prefix $k decoded differently")
      }
    }
  }

  test("decodeImageGray dispatch: a PNG and a JPEG of the SAME " +
      "coefficient-defined content decode to identical pixels") {
    val w = 16; val h = 16
    val ref = referencePixels(w, h, quantFormula, coeffFormula)
    val jpeg = Multimodal.encodeJpegCoeffs(w, h, formulaFrame)
    val png = Multimodal.encodePngGray(w, h,
      (x, y) => ref(y * w + x), y => y % 5)
    val a = norm(Multimodal.decodeImageGray(jpeg))
    val b = norm(Multimodal.decodeImageGray(png))
    assert(a.isRight && a == b, s"jpeg=$a png=$b")
    assert(a == Right((w, h, ref.toSeq)))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QuerySpec.table
import graft.ops.Multimodal

/** Batch 18 (round 16): the perceptual image tier — REAL PNG pixel
  * decode (Inflater + the five ISO/IEC 15948 §9.2 defilter
  * predictors) feeding aHash/dHash banded-hamming near-dup pairs.
  * Closes the r15 deferral: the tier was scoped-not-shipped while the
  * container ops decoded headers only; with the full greyscale
  * codec the hashes run over real decoded bytes, and the oracle never
  * parses a byte — every pixel re-derives from the fixture's doc_id
  * formula (the q33/q129/q143 encode-half discipline). */
object PerceptualQueries {

  /** Deterministic 16×16 greyscale PNG fixture. Per doc: group
    * g = doc_id div 4, variant r = doc_id % 4. Pixel formula
    * (everything integer, DuckDB-replayable):
    *
    *   base(x,y)  = (7x + 11y + 13·((x·y) mod 5)) mod 140
    *   wm(x,y)    = 48 · bit( knuth(g), ((y div 2)·8 + (x div 2)) mod 32 )
    *   p(x,y)     = base + 3r + wm + (24 if r = 3 ∧ x < 2 ∧ y < 2)
    *
    * with knuth(g) = (g · 2654435761) mod 2³² (Knuth's multiplicative
    * hash). The WATERMARK term paints g's mixed bit pattern into the
    * 8×8 block grid at ±48 grey levels, so different groups land
    * ~16 aHash bits apart (no accidental near-dups at ANY scale),
    * while the 3r term is a uniform brightness shift the hashes are
    * invariant to (variants 0–2 hash identically) and variant 3 adds
    * one localized +24 block perturbation (hamming 1–2 — a true
    * NEAR-dup, not a copy). Max pixel 139+9+48+24 = 220 < 256 — no
    * wraparound anywhere. Scanline filters cycle (doc_id + y) mod 5,
    * so every payload exercises all five predictors. Dead-letter
    * lanes: doc_id % 11 truncates to 20 bytes (inside the IHDR
    * chunk), doc_id % 13 flips a byte inside the IDAT data (CRC
    * mismatch → bad_crc). */
  private[graft] def pngPixelFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val g = id / 4
      val r = (id % 4).toInt
      val h32 = (g * 2654435761L) % 4294967296L
      def pixel(x: Int, y: Int): Int = {
        val base = (7 * x + 11 * y + 13 * ((x * y) % 5)) % 140
        val wmBit = ((h32 >> (((y / 2) * 8 + (x / 2)) % 32)) & 1L).toInt
        base + 3 * r + 48 * wmBit +
          (if (r == 3 && x < 2 && y < 2) 24 else 0)
      }
      val full = Multimodal.encodePngGray(16, 16, pixel,
        y => ((id + y) % 5).toInt)
      val payload =
        if (id % 11 == 0) full.take(20)
        else if (id % 13 == 0) {
          val c = full.clone(); c(45) = (c(45) ^ 0x5a).toByte; c
        } else full
      (id, "png", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** The fixture's pixel formula as a DuckDB CTE: one row per
    * (doc_id, x, y) of every OK payload. */
  private val pixelSql: String =
    """px AS (SELECT doc_id, x, y,
      |    (7 * x + 11 * y + 13 * ((x * y) % 5)) % 140
      |    + 3 * (doc_id % 4)
      |    + 48 * (((((doc_id // 4) * 2654435761) % 4294967296)
      |        >> (((y // 2) * 8 + (x // 2)) % 32)) & 1)
      |    + CASE WHEN doc_id % 4 = 3 AND x < 2 AND y < 2
      |        THEN 24 ELSE 0 END AS p
      |  FROM documents, range(0, 16) tx(x), range(0, 16) ty(y)
      |  WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0)""".stripMargin

  /** The 8×8 block-sum / hash pipeline over [[pixelSql]] — shared by
    * the hash and pair oracles. aHash bit: bs·64 ≥ total (blocks are
    * 2×2 of a 16×16 image, so the integer compare IS the mean
    * compare); halves keep every shift ≤ 31. dHash bit: raw
    * horizontal block-sum compare, 56 bits in one safe BIGINT. */
  private val hashSql: String =
    """blocks AS (SELECT doc_id, x // 2 AS bx, y // 2 AS by,
      |    CAST(SUM(p) AS BIGINT) AS bs
      |  FROM px GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, SUM(bs) AS total FROM blocks GROUP BY 1),
      |abits AS (SELECT b.doc_id, b.by * 8 + b.bx AS idx,
      |    CASE WHEN b.bs * 64 >= t.total THEN 1 ELSE 0 END AS bit
      |  FROM blocks b JOIN tot t ON b.doc_id = t.doc_id),
      |ah AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN idx >= 32
      |      THEN CAST(bit AS BIGINT) << (idx - 32) ELSE 0 END)
      |      AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN idx < 32
      |      THEN CAST(bit AS BIGINT) << idx ELSE 0 END)
      |      AS BIGINT) AS ahash_lo
      |  FROM abits GROUP BY doc_id),
      |dbits AS (SELECT l.doc_id, l.by * 7 + l.bx AS didx,
      |    CASE WHEN l.bs > r.bs THEN 1 ELSE 0 END AS bit
      |  FROM blocks l JOIN blocks r ON l.doc_id = r.doc_id
      |    AND l.by = r.by AND r.bx = l.bx + 1
      |  WHERE l.bx < 7),
      |dh AS (SELECT doc_id,
      |    CAST(SUM(CAST(bit AS BIGINT) << didx) AS BIGINT) AS dhash
      |  FROM dbits GROUP BY doc_id),
      |hh AS (SELECT ah.doc_id, ah.ahash_hi, ah.ahash_lo, dh.dhash
      |  FROM ah JOIN dh ON ah.doc_id = dh.doc_id)""".stripMargin

  /** Deterministic 4-frame MP4 video fixture (r17): the mod-4 doc
    * lane, each video a real ISO container whose samples are 16×16
    * greyscale PNGs from an integer formula (the [[pngPixelFixture]]
    * discipline lifted to sequences). Group g = doc_id div 8 pairs
    * (8k, 8k+4); variant r = (doc_id div 4) mod 2:
    *
    *   base(x,y,f) = (7x + 11y + 13·((x·y + f) mod 5)
    *                  + 9·((f·(x+y)) mod 7)) mod 120
    *   wm(x,y)     = 48 · bit( knuth(g), ((y div 2)·8 + (x div 2)) mod 32 )
    *   p           = base + wm + 3r + (16 if r = 1 ∧ f = 0 ∧ x < 2 ∧ y < 2)
    *
    * — r is a uniform brightness shift (DCT-pHash-invariant) plus one
    * corner perturbation on frame 0 only, so (8k, 8k+4) are TRUE
    * video near-dups (Σ-hamming 1–2, concentrated in frame 0) while
    * the group watermark keeps every other pair far apart. Max pixel
    * 119+48+3+16 = 186 < 256. Scanline filters cycle
    * (doc_id + f + y) mod 5. Dead lane: doc_id % 44 = 0 truncates the
    * container. */
  private[graft] def mp4VideoFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long]
      .filter(_ % 4 == 0)
      .map { id =>
        val g = id / 8
        val r = ((id / 4) % 2).toInt
        val h32 = (g * 2654435761L) % 4294967296L
        def pixel(f: Int)(x: Int, y: Int): Int = {
          val base = (7 * x + 11 * y + 13 * ((x * y + f) % 5) +
            9 * ((f * (x + y)) % 7)) % 120
          val wmBit = ((h32 >> (((y / 2) * 8 + (x / 2)) % 32)) & 1L).toInt
          base + 48 * wmBit + 3 * r +
            (if (r == 1 && f == 0 && x < 2 && y < 2) 16 else 0)
        }
        val frames = (0 until 4).map(f => Multimodal.encodePngGray(
          16, 16, pixel(f), y => ((id + f + y) % 5).toInt))
        val full = Multimodal.encodeMp4Samples("isom", 1000L, 4000L,
          frames.map(_.length).toArray,
          (j, i) => frames(j)(i) & 0xff, nChunks = 2)
        val payload = if (id % 44 == 0) full.take(40) else full
        (id, "mp4", payload)
      }.toDF("media_id", "kind", "media")
  }

  /** The video fixture's pixel formula as a CTE: one row per
    * (doc_id, f, x, y) of every OK payload. */
  private def vpixelSql: String =
    """vpx AS (SELECT doc_id, f, x, y,
      |    (7 * x + 11 * y + 13 * ((x * y + f) % 5)
      |     + 9 * ((f * (x + y)) % 7)) % 120
      |    + 48 * (((((doc_id // 8) * 2654435761) % 4294967296)
      |        >> (((y // 2) * 8 + (x // 2)) % 32)) & 1)
      |    + 3 * ((doc_id // 4) % 2)
      |    + CASE WHEN (doc_id // 4) % 2 = 1 AND f = 0
      |        AND x < 2 AND y < 2 THEN 16 ELSE 0 END AS p
      |  FROM documents, range(0, 4) tf(f), range(0, 16) tx(x),
      |    range(0, 16) ty(y)
      |  WHERE doc_id % 4 = 0 AND doc_id % 44 <> 0)""".stripMargin

  /** Per-(doc, frame) DCT pHash over [[vpixelSql]] — the [[dctSql]]
    * pipeline keyed by (doc_id, f). */
  private def vdctSql: String =
    s"""vct AS (SELECT * FROM (VALUES ${Multimodal.cosMicroSqlValues})
      |  t(u, x, c)),
      |vrs AS (SELECT p.doc_id, p.f, ct.u, p.y,
      |    CAST(SUM(p.p * ct.c) AS BIGINT) AS rsum
      |  FROM vpx p JOIN vct ct ON ct.x = p.x GROUP BY 1, 2, 3, 4),
      |vcoef AS (SELECT r.doc_id, r.f, r.u, cv.u AS v,
      |    CAST(SUM(r.rsum * cv.c) AS BIGINT) AS fc
      |  FROM vrs r JOIN vct cv ON cv.x = r.y GROUP BY 1, 2, 3, 4),
      |vmed AS (SELECT doc_id, f, quantile_disc(fc, 0.5) AS m
      |  FROM vcoef WHERE u * 8 + v NOT IN (0, 63) GROUP BY 1, 2),
      |vph AS (SELECT c.doc_id, c.f,
      |    CAST(SUM(CASE WHEN c.u * 8 + c.v NOT IN (0, 63)
      |        AND c.fc > m.m
      |      THEN CAST(1 AS BIGINT) << (c.u * 8 + c.v)
      |      ELSE 0 END) AS BIGINT) AS phash
      |  FROM vcoef c JOIN vmed m ON m.doc_id = c.doc_id
      |    AND m.f = c.f GROUP BY 1, 2)""".stripMargin

  /** Deterministic baseline-JPEG fixture (r18, VERDICT r17 ask #1):
    * 16×16 greyscale, 4 blocks, defined in QUANTIZED-COEFFICIENT
    * space so the oracle replays the decoder's documented exact
    * integer IDCT from the formula and never parses a byte. Per doc,
    * h32 = knuth(doc_id); with q(u,v) = 1 + (2u + 3v + doc_id) % 6:
    *
    *   dc(blk)    = ((h32 >> 7·blk) & 127) − 64
    *   ac(blk,u,v)= ((doc_id + 11u + 17v + 23·blk) % 15) − 7
    *                  when (3u + 5v + doc_id + blk) % 7 < 2, else 0
    *
    * |dequantized| ≤ 64·6 = 384 ≪ the decoder's ±2048 clamp, so the
    * oracle can skip it. Dead lanes: doc_id % 11 truncates inside the
    * DQT (→ truncated); doc_id % 13 patches SOF0→SOF2 at the
    * generator-known offset 72 — since the r19 progressive tier this
    * reads as an SOF2 frame whose full-range Ss=0,Se=63 scan is an
    * INVALID progressive scan header (→ bad_header; real SOF2
    * streams decode via q359). */
  private[graft] def jpegCoeffFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val h32 = (id * 2654435761L) % 4294967296L
      def quant(u: Int, v: Int): Int =
        (1 + (2 * u + 3 * v + id) % 6).toInt
      def coeff(blk: Int, u: Int, v: Int): Int =
        if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 127) - 64).toInt
        else if ((3 * u + 5 * v + id + blk) % 7 < 2)
          (((id + 11 * u + 17 * v + 23 * blk) % 15) - 7).toInt
        else 0
      val full = Multimodal.encodeJpegCoeffs(16, 16,
        Multimodal.JpegFrame.gray(quant, coeff))
      val payload =
        if (id % 11 == 0) full.take(24)
        else if (id % 13 == 0) {
          val c = full.clone()
          require((c(72) & 0xff) == 0xc0, "fixture layout drifted")
          c(72) = 0xc2.toByte; c
        } else full
      (id, "jpeg", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** PROGRESSIVE (SOF2) container of EXACTLY the q337 coefficient
    * formula (r19): per doc the band split varies (full-band 1..63 on
    * doc_id ≡ 0 mod 3, the (1,5)+(6,63) split otherwise) and every
    * fifth doc adds a restart interval — different containers, same
    * quantized coefficients, so the decoded pixels must equal q337's
    * and the gate reuses the SAME IDCT oracle. Dead lanes: doc_id %
    * 11 truncates inside the DQT; doc_id % 13 clobbers the DC scan's
    * component selector (id 2 in a frame whose only component is
    * id 1 → bad_header; the lane moved off AhAl when the r19 SA tier
    * made Al ≠ 0 a DECODED mode — see q360). */
  private[graft] def jpegProgressiveFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val h32 = (id * 2654435761L) % 4294967296L
      def quant(u: Int, v: Int): Int =
        (1 + (2 * u + 3 * v + id) % 6).toInt
      def coeff(blk: Int, u: Int, v: Int): Int =
        if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 127) - 64).toInt
        else if ((3 * u + 5 * v + id + blk) % 7 < 2)
          (((id + 11 * u + 17 * v + 23 * blk) % 15) - 7).toInt
        else 0
      val full = Multimodal.encodeJpegProgressiveCoeffs(16, 16,
        Multimodal.JpegFrame.gray(quant, coeff),
        restartInterval = if (id % 5 == 0) 2 else 0,
        bands = if (id % 3 == 0) Seq((1, 63)) else Seq((1, 5), (6, 63)))
      val payload =
        if (id % 11 == 0) full.take(24)
        else if (id % 13 == 0) {
          val c = full.clone()
          val sosAt = (0 until c.length - 1).indexWhere(i =>
            (c(i) & 0xff) == 0xff && (c(i + 1) & 0xff) == 0xda)
          require(sosAt > 0 && (c(sosAt + 5) & 0xff) == 1,
            "progressive fixture layout drifted")
          c(sosAt + 5) = 0x02.toByte; c
        } else full
      (id, "jpeg", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** SUCCESSIVE-APPROXIMATION progressive container of the q337
    * formula (r19, the SA completion of q359): first scans at point
    * transform Al = 2, then two full refinement passes (Ah=2→Al=1,
    * Ah=1→Al=0) for DC and every AC band — the libjpeg-style scan
    * script real web encoders emit. Same coefficients → q337's
    * oracle VERBATIM again. Dead lanes: % 11 truncated; % 13 patches
    * the first refinement scan's AhAl 0x21 → 0x31 (a chain that
    * skips a bit plane — invalid §G.1.1.1.2 → bad_header). */
  private[graft] def jpegProgressiveSaFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val h32 = (id * 2654435761L) % 4294967296L
      def quant(u: Int, v: Int): Int =
        (1 + (2 * u + 3 * v + id) % 6).toInt
      def coeff(blk: Int, u: Int, v: Int): Int =
        if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 127) - 64).toInt
        else if ((3 * u + 5 * v + id + blk) % 7 < 2)
          (((id + 11 * u + 17 * v + 23 * blk) % 15) - 7).toInt
        else 0
      val full = Multimodal.encodeJpegProgressiveCoeffs(16, 16,
        Multimodal.JpegFrame.gray(quant, coeff),
        restartInterval = if (id % 5 == 0) 2 else 0,
        bands = if (id % 3 == 0) Seq((1, 63)) else Seq((1, 5), (6, 63)),
        approxLow = 2)
      val payload =
        if (id % 11 == 0) full.take(24)
        else if (id % 13 == 0) {
          val c = full.clone()
          val at = (0 until c.length - 10).indexWhere(i =>
            (c(i) & 0xff) == 0xff && (c(i + 1) & 0xff) == 0xda &&
              (c(i + 9) & 0xff) == 0x21)
          require(at > 0, "SA fixture layout drifted")
          c(at + 9) = 0x31.toByte; c
        } else full
      (id, "jpeg", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** COLOR PROGRESSIVE container of the q346 coefficient formulas
    * (r19): 4:2:0 SOF2 — ONE interleaved DC scan, luma AC bands,
    * chroma AC scans the decoder marker-skips — at Al = 2 with two
    * full refinement passes on doc_id ≡ 1 mod 3 (spectral-only
    * otherwise). Same luma coefficients as q337/q346 → the SAME
    * pixel oracle: the cross-container pin now spans five forms.
    * Dead lanes: % 11 truncated in DQT; % 13 patches the interleaved
    * DC scan's band to (1,5) — an interleaved AC scan, illegal §G.1
    * (→ bad_header). */
  private[graft] def jpegColorProgressiveFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val h32 = (id * 2654435761L) % 4294967296L
      def quantY(u: Int, v: Int): Int =
        (1 + (2 * u + 3 * v + id) % 6).toInt
      def coeffY(blk: Int, u: Int, v: Int): Int =
        if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 127) - 64).toInt
        else if ((3 * u + 5 * v + id + blk) % 7 < 2)
          (((id + 11 * u + 17 * v + 23 * blk) % 15) - 7).toInt
        else 0
      def quantC(u: Int, v: Int): Int = 3 + (u + v) % 4
      def coeffC(comp: Int, m: Int, u: Int, v: Int): Int =
        if ((u + v + comp + id + m) % 5 < 2)
          (((id + 5 * u + 3 * v + 7 * comp) % 9) - 4).toInt
        else 0
      val full = Multimodal.encodeJpegProgressiveCoeffs(16, 16,
        Multimodal.JpegFrame.ycc(2, 2, quantY, quantC, coeffY, coeffC),
        bands = if (id % 3 == 0) Seq((1, 63)) else Seq((1, 5), (6, 63)),
        approxLow = if (id % 3 == 1) 2 else 0)
      val payload =
        if (id % 11 == 0) full.take(24)
        else if (id % 13 == 0) {
          val c = full.clone()
          val at = (0 until c.length - 1).indexWhere(i =>
            (c(i) & 0xff) == 0xff && (c(i + 1) & 0xff) == 0xda)
          require(at > 0 && (c(at + 11) & 0xff) == 0 &&
            (c(at + 12) & 0xff) == 0, "color-prog fixture drifted")
          c(at + 11) = 0x01.toByte; c(at + 12) = 0x05.toByte; c
        } else full
      (id, "jpeg", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** COLOR PNG fixture (r19): 16×16 truecolour payloads whose R/G/B
    * channels derive from doc_id formulas, rows cycling ALL five §9.2
    * filters (byte-wide defiltering at bpp 3/4 is what the gate
    * pins); every fourth doc is RGBA (ct 6, constant alpha — ignored,
    * so its luma equals the RGB twin's rule). Dead lanes: % 11
    * truncates inside the signature; % 13 flips an IDAT payload byte
    * (→ bad_crc, the chunk-checksum lane). */
  private[graft] def pngColorFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      def rgb(x: Int, y: Int): (Int, Int, Int) =
        (((x * 7 + y * 3 + id) % 256).toInt,
          ((x * 2 + y * 11 + id * 5) % 256).toInt,
          ((x * 13 + y + id * 3) % 256).toInt)
      val full = Multimodal.encodePngColor(16, 16, rgb, y => y % 5,
        alpha = if (id % 4 == 0) 128 else -1)
      val payload =
        if (id % 11 == 0) full.take(20)
        else if (id % 13 == 0) {
          val c = full.clone()
          require(c.length > 47, "color-png fixture drifted")
          c(46) = (c(46) ^ 0x55).toByte; c // inside IDAT data
        } else full
      (id, "image", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** The JPEG fixture's decoded pixels as DuckDB CTEs: quantized
    * coefficients from the doc_id formula, dequantized, then the
    * decoder's EXACT two-stage integer IDCT over the shared
    * [[Multimodal.acMicro8]] table — one round-half-up by 4·10¹² via
    * the nonnegative offset (so `//` truncation IS the floor), +128,
    * [0,255] clamp. Ends in a CTE `jpx(doc_id, px_, py, p)`. */
  private def jpegPixelSql(okPredicate: String): String =
    s"""jc AS (SELECT doc_id, blk, u, v,
      |    (CASE WHEN u = 0 AND v = 0 THEN
      |        ((((doc_id * 2654435761) % 4294967296) >> (7 * blk))
      |          & 127) - 64
      |      WHEN (3*u + 5*v + doc_id + blk) % 7 < 2 THEN
      |        ((doc_id + 11*u + 17*v + 23*blk) % 15) - 7
      |      ELSE 0 END)
      |    * (1 + (2*u + 3*v + doc_id) % 6) AS f
      |  FROM documents, range(0, 4) tb(blk), range(0, 8) tu(u),
      |    range(0, 8) tv(v)
      |  WHERE $okPredicate),
      |act AS (SELECT * FROM (VALUES ${Multimodal.acMicro8SqlValues})
      |  t(u, x, c)),
      |jg AS (SELECT c.doc_id, c.blk, c.v, ax.x,
      |    CAST(SUM(c.f * ax.c) AS BIGINT) AS gs
      |  FROM jc c JOIN act ax ON ax.u = c.u GROUP BY 1, 2, 3, 4),
      |js AS (SELECT g.doc_id, g.blk, g.x, ay.x AS y,
      |    CAST(SUM(ay.c * g.gs) AS BIGINT) AS s
      |  FROM jg g JOIN act ay ON ay.u = g.v GROUP BY 1, 2, 3, 4),
      |jpx AS (SELECT doc_id, (blk % 2) * 8 + x AS px_,
      |    (blk // 2) * 8 + y AS py,
      |    LEAST(255, GREATEST(0,
      |      (s + 2000000000000 + 4096000000000000) // 4000000000000
      |        - 1024 + 128)) AS p
      |  FROM js)""".stripMargin

  /** COLOR (4:2:0) baseline-JPEG fixture (r18, the q337 content in a
    * three-component interleaved container): the LUMA plane carries
    * EXACTLY q337's coefficient formula — 16×16 at hy = vy = 2 is one
    * MCU whose 2×2 luma raster coincides with q337's block grid — so
    * the decoded luma must equal the greyscale decode bit-for-bit and
    * the gate reuses q337's oracle VERBATIM. Chroma planes carry
    * their own nonzero coefficients (quantC = 3 + (u+v) % 4) that the
    * decoder must entropy-walk correctly to land the luma; they never
    * reach the output. Dead lanes: doc_id % 11 truncates inside DQT;
    * doc_id % 13 patches SOF0→SOF1 at the generator-known offset 141
    * (extended sequential — the unsupported lane). */
  private[graft] def jpegColorFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val h32 = (id * 2654435761L) % 4294967296L
      def quantY(u: Int, v: Int): Int =
        (1 + (2 * u + 3 * v + id) % 6).toInt
      def coeffY(blk: Int, u: Int, v: Int): Int =
        if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 127) - 64).toInt
        else if ((3 * u + 5 * v + id + blk) % 7 < 2)
          (((id + 11 * u + 17 * v + 23 * blk) % 15) - 7).toInt
        else 0
      def quantC(u: Int, v: Int): Int = 3 + (u + v) % 4
      def coeffC(comp: Int, m: Int, u: Int, v: Int): Int =
        if ((u + v + comp + id + m) % 5 < 2)
          (((id + 5 * u + 3 * v + 7 * comp) % 9) - 4).toInt
        else 0
      val full = Multimodal.encodeJpegCoeffs(16, 16,
        Multimodal.JpegFrame.ycc(2, 2, quantY, quantC, coeffY, coeffC))
      val payload =
        if (id % 11 == 0) full.take(24)
        else if (id % 13 == 0) {
          val c = full.clone()
          require((c(141) & 0xff) == 0xc0, "color fixture layout drifted")
          c(141) = 0xc1.toByte; c
        } else full
      (id, "jpeg", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** LOSSY pixel-path JPEG fixture (r18): pixels from an integer
    * formula go through the REAL forward path — level shift, exact
    * fixed-point forward DCT, round-half-up quantization — then the
    * entropy encoder, so the gate pins encodeJpegGrayPixels
    * end-to-end: the decoded payload must equal the
    * forward→quant→dequant→IDCT composition, which the oracle
    * replays ENTIRELY in SQL (every stage exact integer).
    *
    *   p(x,y) = 20 + ((7x + 11y + 13·((x·y) mod 5) + doc_id mod 97)
    *            mod 200),   q(u,v) = 1 + (u + 2v + doc_id) mod 5 */
  private[graft] def jpegLossyFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      def pixel(x: Int, y: Int): Int =
        (20 + (7 * x + 11 * y + 13 * ((x * y) % 5) + id % 97) % 200).toInt
      def quant(u: Int, v: Int): Int = (1 + (u + 2 * v + id) % 5).toInt
      (id, "jpeg", Multimodal.encodeJpegGrayPixels(16, 16, pixel, quant))
    }.toDF("media_id", "kind", "media")
  }

  /** The lossy round trip as DuckDB CTEs: pixel formula → per-block
    * forward DCT (two exact GROUP-BY stages over the shared acMicro8
    * table) → round-half-up quantization (ONE division by 4·10¹²·q
    * via the nonnegative offset) → dequantization (|qv·q| ≤ ~1300,
    * inside the decoder's ±2048 clamp — skipped, documented) → the
    * same IDCT replay → decoded pixels in `jpx`. */
  private def jpegLossySql: String =
    s"""lp AS (SELECT doc_id, blk, x, y,
      |    20 + (7 * ((blk % 2) * 8 + x) + 11 * ((blk // 2) * 8 + y)
      |      + 13 * ((((blk % 2) * 8 + x) * ((blk // 2) * 8 + y)) % 5)
      |      + doc_id % 97) % 200 - 128 AS pc
      |  FROM documents, range(0, 4) tb(blk), range(0, 8) tx(x),
      |    range(0, 8) ty(y)),
      |act AS (SELECT * FROM (VALUES ${Multimodal.acMicro8SqlValues})
      |  t(u, x, c)),
      |ft AS (SELECT p.doc_id, p.blk, au.u, p.y,
      |    CAST(SUM(p.pc * au.c) AS BIGINT) AS tm
      |  FROM lp p JOIN act au ON au.x = p.x GROUP BY 1, 2, 3, 4),
      |fm AS (SELECT t.doc_id, t.blk, t.u, av.u AS v,
      |    CAST(SUM(t.tm * av.c) AS BIGINT) AS fmicro
      |  FROM ft t JOIN act av ON av.x = t.y GROUP BY 1, 2, 3, 4),
      |qv AS (SELECT doc_id, blk, u, v,
      |    (fmicro + (4000000000000 * (1 + (u + 2*v + doc_id) % 5)) // 2
      |      + (4000000000000 * (1 + (u + 2*v + doc_id) % 5)) * 1024)
      |      // (4000000000000 * (1 + (u + 2*v + doc_id) % 5)) - 1024
      |      AS q
      |  FROM fm),
      |jc AS (SELECT doc_id, blk, u, v,
      |    q * (1 + (u + 2*v + doc_id) % 5) AS f FROM qv),
      |jg AS (SELECT c.doc_id, c.blk, c.v, ax.x,
      |    CAST(SUM(c.f * ax.c) AS BIGINT) AS gs
      |  FROM jc c JOIN act ax ON ax.u = c.u GROUP BY 1, 2, 3, 4),
      |js AS (SELECT g.doc_id, g.blk, g.x, ay.x AS y,
      |    CAST(SUM(ay.c * g.gs) AS BIGINT) AS s
      |  FROM jg g JOIN act ay ON ay.u = g.v GROUP BY 1, 2, 3, 4),
      |jpx AS (SELECT doc_id, (blk % 2) * 8 + x AS px_,
      |    (blk // 2) * 8 + y AS py,
      |    LEAST(255, GREATEST(0,
      |      (s + 2000000000000 + 4096000000000000) // 4000000000000
      |        - 1024 + 128)) AS p
      |  FROM js)""".stripMargin

  /** Mixed PNG+JPEG fixture (r18): one CONTENT per group g = doc_id
    * div 4, defined in coefficient space with a FIXED quant table
    * q(u,v) = 2 + (u + 3v) % 5; variants r = doc_id % 4:
    *
    *   r=0  PNG of the content's IDCT pixels (lossless)
    *   r=1  PNG of those pixels + 3 (uniform brightness — aHash
    *        invariant; coefficients keep pixels ≤ 245, no clamp)
    *   r=2  JPEG of the SAME coefficients — decodes to EXACTLY r=0's
    *        pixels (the decoder and the PNG generator share
    *        idctBlock8Micro), the cross-format dup the gate exists for
    *   r=3  JPEG with dc(0) += 2 — a localized sub-level perturbation
    *        (a true near-dup, hamming 0–2)
    *
    * Content: dc(blk) = ((h32g >> 7·blk) & 63) − 32, ac as in the
    * q337 fixture but keyed by g. Dead lane: doc_id % 23 truncates to
    * 10 bytes (→ truncated in both decoders). */
  private[graft] def mixedMediaFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    graft.ops.Scans.spread(
        table(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val g = id / 4
      val r = (id % 4).toInt
      val h32 = (g * 2654435761L) % 4294967296L
      def quant(u: Int, v: Int): Int = 2 + (u + 3 * v) % 5
      def coeff(blk: Int, u: Int, v: Int): Int = {
        val base =
          if (u == 0 && v == 0) (((h32 >> (7 * blk)) & 63) - 32).toInt
          else if ((3 * u + 5 * v + g + blk) % 7 < 2)
            (((g + 11 * u + 17 * v + 23 * blk) % 13) - 6).toInt
          else 0
        base + (if (r == 3 && blk == 0 && u == 0 && v == 0) 2 else 0)
      }
      val (kind, full) =
        if (r >= 2) ("jpeg",
          Multimodal.encodeJpegCoeffs(16, 16,
            Multimodal.JpegFrame.gray(quant, coeff)))
        else {
          // assemble the content's decoded pixels EXACTLY as the JPEG
          // decoder would (shared idctBlock8Micro), then PNG them
          val px = new Array[Int](256)
          for (blk <- 0 until 4) {
            val f = new Array[Long](64)
            for (v <- 0 until 8; u <- 0 until 8)
              f(v * 8 + u) = coeff(blk, u, v).toLong * quant(u, v)
            val bp = Multimodal.idctBlock8Micro(f)
            for (y <- 0 until 8; x <- 0 until 8)
              px(((blk / 2) * 8 + y) * 16 + (blk % 2) * 8 + x) =
                bp(y * 8 + x)
          }
          ("png", Multimodal.encodePngGray(16, 16,
            (x, y) => px(y * 16 + x) + (if (r == 1) 3 else 0),
            y => ((id + y) % 5).toInt))
        }
      val payload = if (id % 23 == 0) full.take(10) else full
      (id, kind, payload)
    }.toDF("media_id", "kind", "media")
  }

  /** The mixed fixture's pixels as a `px(doc_id, x, y, p)` CTE — the
    * [[jpegPixelSql]] IDCT replay keyed by group, with the r=3 DC
    * perturbation and the r=1 brightness shift applied where the
    * variants put them, so ONE pixel CTE covers both formats and the
    * q307 hash pipeline applies verbatim. */
  private def mixedPixelSql: String =
    s"""mc AS (SELECT doc_id, blk, u, v,
      |    ((CASE WHEN u = 0 AND v = 0 THEN
      |        (((((doc_id // 4) * 2654435761) % 4294967296)
      |          >> (7 * blk)) & 63) - 32
      |      WHEN (3*u + 5*v + (doc_id // 4) + blk) % 7 < 2 THEN
      |        (((doc_id // 4) + 11*u + 17*v + 23*blk) % 13) - 6
      |      ELSE 0 END)
      |     + CASE WHEN doc_id % 4 = 3 AND blk = 0 AND u = 0 AND v = 0
      |        THEN 2 ELSE 0 END)
      |    * (2 + (u + 3*v) % 5) AS f
      |  FROM documents, range(0, 4) tb(blk), range(0, 8) tu(u),
      |    range(0, 8) tv(v)
      |  WHERE doc_id % 23 <> 0),
      |act AS (SELECT * FROM (VALUES ${Multimodal.acMicro8SqlValues})
      |  t(u, x, c)),
      |mg AS (SELECT c.doc_id, c.blk, c.v, ax.x,
      |    CAST(SUM(c.f * ax.c) AS BIGINT) AS gs
      |  FROM mc c JOIN act ax ON ax.u = c.u GROUP BY 1, 2, 3, 4),
      |ms AS (SELECT g.doc_id, g.blk, g.x, ay.x AS y,
      |    CAST(SUM(ay.c * g.gs) AS BIGINT) AS s
      |  FROM mg g JOIN act ay ON ay.u = g.v GROUP BY 1, 2, 3, 4),
      |px AS (SELECT doc_id, (blk % 2) * 8 + x AS x,
      |    (blk // 2) * 8 + y AS y,
      |    LEAST(255, GREATEST(0,
      |      (s + 2000000000000 + 4096000000000000) // 4000000000000
      |        - 1024 + 128))
      |    + CASE WHEN doc_id % 4 = 1 THEN 3 ELSE 0 END AS p
      |  FROM ms)""".stripMargin

  val all: Seq[QuerySpec] = Seq(

    // PNG pixel decode (r16): full inflate + defilter over payloads
    // that exercise all five filter predictors, verified by
    // position-weighted pixel sums (sum_wpix moves if ANY pixel lands
    // at the wrong place or value) plus both dead-letter lanes. The
    // oracle re-derives every pixel from the fixture formula — it
    // never touches a byte.
    QuerySpec("q306_png_pixel_decode",
      (s, dir) => Multimodal.pngPixelStats(s, pngPixelFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $pixelSql,
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((y * 16 + x + 1) * p) AS BIGINT) AS swp
        |  FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_crc' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Perceptual hashes (r16): aHash as two non-negative 32-bit
    // halves + 56-bit dHash, exact integer arithmetic end to end —
    // the oracle rebuilds both hashes from the re-derived pixels.
    QuerySpec("q307_perceptual_hashes",
      (s, dir) => Multimodal.imagePerceptualHashes(
          s, pngPixelFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $pixelSql,
        |$hashSql
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_crc' END AS reason,
        |  hh.ahash_hi, hh.ahash_lo, hh.dhash
        |FROM documents d LEFT JOIN hh ON d.doc_id = hh.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Perceptual near-dup pairs (r16): banded-hamming LSH join — 4
    // disjoint 16-bit bands of the aHash, pigeonhole-complete to
    // hamming 3. The fixture's group variants 0–2 land at hamming 0
    // (brightness shifts), variant 3 at 1–2 (the localized
    // perturbation), and the per-group watermark keeps different
    // groups ~16 bits apart — so the result is exactly the planted
    // near-dup classes, at every scale.
    QuerySpec("q308_perceptual_pairs",
      (s, dir) => Multimodal.perceptualNearDupPairs(
          Multimodal.imagePerceptualHashes(
            s, pngPixelFixture(s, dir)), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $pixelSql,
        |$hashSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, (ahash_hi >> 16) & 65535 AS bv
        |    FROM hh
        |  UNION ALL SELECT doc_id, 1, ahash_hi & 65535 FROM hh
        |  UNION ALL SELECT doc_id, 2, (ahash_lo >> 16) & 65535 FROM hh
        |  UNION ALL SELECT doc_id, 3, ahash_lo & 65535 FROM hh),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |pr AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(ha.ahash_hi, hb.ahash_hi)) +
        |    bit_count(xor(ha.ahash_lo, hb.ahash_lo)) AS hamming,
        |    bit_count(xor(ha.dhash, hb.dhash)) AS dhash_hamming
        |  FROM cand c JOIN hh ha ON ha.doc_id = c.id_a
        |  JOIN hh hb ON hb.doc_id = c.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming,
        |  CAST(dhash_hamming AS INTEGER) AS dhash_hamming
        |FROM pr WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin)),

    // DCT pHash (r16): the frequency-domain third hash — exact
    // fixed-point 2-D DCT-II over the decoded pixels with the
    // SHARED Scala-generated cosine table (both engines consume the
    // same 128 integer constants, so no trig-rounding trust), 62 AC
    // coefficients (DC and the (7,7) Nyquist corner dropped — bit 63
    // is the JVM sign bit and an overflow in DuckDB's checked shift)
    // thresholded at their discrete median (quantile_disc(0.5) ≡
    // sorted[30], verified semantics).
    // Uniform brightness lands entirely in the discarded DC term.
    QuerySpec("q316_dct_phash",
      (s, dir) => Multimodal.imageDctHash(s, pngPixelFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $pixelSql,
        |$dctSql
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_crc' END AS reason,
        |  ph.phash
        |FROM documents d LEFT JOIN ph ON d.doc_id = ph.doc_id
        |ORDER BY media_id""".stripMargin)),

    // DCT near-dup pairs (r16): the banded-hamming join on the
    // frequency hash. Brightness variants 0–2 hash IDENTICALLY
    // (DC-only difference — stronger than the aHash tier, whose
    // blocks shift together but whose bits can flip at the mean
    // boundary); the variant-3 corner perturbation and the group
    // watermark land where the spatial tier put them.
    QuerySpec("q317_dct_pairs",
      (s, dir) => Multimodal.dctNearDupPairs(
          Multimodal.imageDctHash(s, pngPixelFixture(s, dir)),
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $pixelSql,
        |$dctSql,
        |bands AS (
        |  SELECT doc_id, b.band, (phash >> (b.band * 16)) & 65535 AS bv
        |  FROM ph, (SELECT UNNEST([0, 1, 2, 3]) AS band) b),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |pr AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(pa.phash, pb.phash)) AS hamming
        |  FROM cand c JOIN ph pa ON pa.doc_id = c.id_a
        |  JOIN ph pb ON pb.doc_id = c.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM pr WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin)),

    // Image near-dup dedup e2e (r16): the q81/q309 composite applied
    // to the image wing — perceptual pairs → connected components →
    // min-id canonical keep. Dead-letter payloads never hash, so
    // they pass through untouched (a corrupt image is an admission
    // problem, not a duplicate). The oracle replays hashes, bands,
    // pairs, AND the recursive-CTE component tail.
    QuerySpec("q321_media_neardup_e2e",
      (s, dir) => {
        val fx = pngPixelFixture(s, dir)
        val pairs = Multimodal.perceptualNearDupPairs(
          Multimodal.imagePerceptualHashes(s, fx), maxHamming = 3)
        graft.ops.Dedup.dedupByPairs(
            fx.select(col("media_id"), col("kind")), "media_id",
            pairs, "id_a", "id_b")
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $pixelSql,
        |$hashSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, (ahash_hi >> 16) & 65535 AS bv
        |    FROM hh
        |  UNION ALL SELECT doc_id, 1, ahash_hi & 65535 FROM hh
        |  UNION ALL SELECT doc_id, 2, (ahash_lo >> 16) & 65535 FROM hh
        |  UNION ALL SELECT doc_id, 3, ahash_lo & 65535 FROM hh),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |good AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN hh ha ON ha.doc_id = c.id_a
        |  JOIN hh hb ON hb.doc_id = c.id_b
        |  WHERE bit_count(xor(ha.ahash_hi, hb.ahash_hi)) +
        |    bit_count(xor(ha.ahash_lo, hb.ahash_lo)) <= 3),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id AS media_id, 'png' AS kind FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT id FROM comp WHERE id <> component)
        |ORDER BY media_id""".stripMargin)),

    // WAV PCM decode → energy-contour fingerprint (r16): the audio
    // completion of the perceptual tier — real sample decode (8-bit
    // unsigned AND 16-bit signed LE through one centered scale),
    // windowed energies under the exact (f·W) div n rule, and the
    // amplitude-invariant contour (a uniform gain scales every e_w
    // together). The oracle re-derives every sample from the doc_id
    // waveform formula — it never parses a byte.
    QuerySpec("q323_wav_pcm_fingerprint",
      (s, dir) => Multimodal.audioFingerprint(
          s, pcmWavFixture(s, dir), windows = 8)
        .orderBy(col("media_id")),
      Some(s"""WITH $pcmSql
        |SELECT d.doc_id AS media_id, d.doc_id % 11 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated' END AS reason,
        |  fp.n AS n_frames, fp.energy, fp.contour
        |FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Audio volume-twin near-dup pairs (r16): equality join on the
    // (n_frames, contour) fingerprint — the planted (2k, 2k+1) amp
    // 1/2 twins land as pairs with energy_b = 4·energy_a (or the
    // reverse); candidates keyed, never all-pairs.
    QuerySpec("q324_audio_neardup_pairs",
      (s, dir) => Multimodal.audioNearDupPairs(
          Multimodal.audioFingerprint(s, pcmWavFixture(s, dir),
            windows = 8))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $pcmSql
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.n AS n_frames, a.contour,
        |  a.energy AS energy_a, b.energy AS energy_b
        |FROM fp a JOIN fp b ON b.n = a.n AND b.contour = a.contour
        |  AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin)),

    // Image resize (r16, the builder brief's resize step): exact
    // integer box-filter 16×16 → 8×8 (each output pixel = floor-mean
    // of its 2×2 block), re-encoded as a REAL PNG payload and then
    // DECODED AGAIN through pngPixelStats — so the gate pins the
    // whole encode→resize→re-encode→decode chain with the q306
    // position-pinned sums; the oracle re-derives the resized pixels
    // from the fixture formula (floor(block sum / 4)). Dead letters
    // pass through with their original reason.
    QuerySpec("q325_image_resize",
      (s, dir) => {
        val rz = Multimodal.resizePngGray(
          s, pngPixelFixture(s, dir), outW = 8, outH = 8)
        val okStats = Multimodal.pngPixelStats(s,
          rz.filter(col("ok"))
            .select(col("media_id"), col("kind"), col("media")))
        val dead = rz.filter(!col("ok")).select(col("media_id"),
          col("ok"), col("reason"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("n_pixels"),
          lit(null).cast("long").as("sum_pix"),
          lit(null).cast("long").as("sum_wpix"))
        okStats.unionByName(dead).orderBy(col("media_id"))
      },
      Some(s"""WITH $pixelSql,
        |rp AS (SELECT doc_id, x // 2 AS rx, y // 2 AS ry,
        |    CAST(SUM(p) // 4 AS BIGINT) AS q
        |  FROM px GROUP BY 1, 2, 3),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(q) AS BIGINT) AS sp,
        |    CAST(SUM((ry * 8 + rx + 1) * q) AS BIGINT) AS swp
        |  FROM rp GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_crc' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(8 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(8 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // REAL MP4 frame sampling (r16): retires the repo's last
    // stand-in — the §8.7 sample-location algorithm (stsc chunk runs
    // → stco offsets → stsz sizes) over a two-chunk sample table,
    // extracting 4 evenly-spaced sample payloads per video (indices
    // k·S div min(4,S)) with position-pinned byte stats. The oracle
    // re-derives sizes, selection, and every byte from the doc_id
    // formulas; it never parses a box.
    QuerySpec("q326_mp4_frame_sample",
      (s, dir) => Multimodal.sampleMp4Frames(
          s, mp4SampleFixture(s, dir), nFrames = 4)
        .orderBy(col("media_id"), col("frame_idx").asc_nulls_last),
      Some("""WITH par AS (SELECT doc_id, 3 + doc_id % 6 AS s
        |  FROM documents
        |  WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0),
        |sel AS (SELECT doc_id, s,
        |    CAST((k * s) // LEAST(4, s) AS INTEGER) AS j
        |  FROM par, range(0, 4) t(k) WHERE k < LEAST(4, s)),
        |fr AS (SELECT doc_id, j,
        |    16 + (doc_id * 7 + j * 13) % 32 AS sz FROM sel),
        |by AS (SELECT doc_id, j, sz, i,
        |    (doc_id + 31 * j + 17 * i) % 256 AS v
        |  FROM fr, range(0, 48) t(i) WHERE i < sz),
        |st AS (SELECT doc_id, j, CAST(ANY_VALUE(sz) AS BIGINT) AS nb,
        |    CAST(SUM(v) AS BIGINT) AS sv,
        |    CAST(SUM((i + 1) * v) AS BIGINT) AS wv
        |  FROM by GROUP BY 1, 2)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_magic' END AS reason,
        |  CAST(st.j AS INTEGER) AS frame_idx, st.nb AS n_bytes,
        |  st.sv AS sum_bytes, st.wv AS sum_wbytes
        |FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id
        |ORDER BY media_id, frame_idx NULLS LAST""".stripMargin)),

    // Per-frame video DCT pHash (r17, VERDICT r16 missing #5): the
    // composition q326 + q316 left open — real ISO sample-table
    // frame extraction, per-frame PNG pixel decode, per-frame
    // fixed-point DCT pHash. The oracle re-derives every frame's
    // pixels from the fixture formula and replays the DCT pipeline
    // per (doc, frame) — it never parses a byte.
    QuerySpec("q335_video_frame_phash",
      (s, dir) => Multimodal.videoFrameDctHashes(
          s, mp4VideoFixture(s, dir), nFrames = 4)
        .orderBy(col("media_id"), col("frame_idx").asc_nulls_last),
      Some(s"""WITH $vpixelSql,
        |$vdctSql
        |SELECT d.doc_id AS media_id, d.doc_id % 44 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 44 = 0 THEN 'truncated' END AS reason,
        |  CAST(vph.f AS INTEGER) AS frame_idx, vph.phash
        |FROM documents d LEFT JOIN vph ON d.doc_id = vph.doc_id
        |WHERE d.doc_id % 4 = 0
        |ORDER BY media_id, frame_idx NULLS LAST""".stripMargin)),

    // Video near-dup dedup e2e (r17): frame-signature sequences →
    // frame-0 banded candidates (pigeonhole: Σ-hamming ≤ 3 forces an
    // identical frame-0 band) → positional Σ-hamming verify →
    // connected components → min-id keep — the q321 composite lifted
    // to video. The planted (8k, 8k+4) brightness+corner variants
    // collapse; the watermark keeps groups apart; the truncated lane
    // passes through untouched.
    QuerySpec("q336_video_neardup_e2e",
      (s, dir) => {
        val fx = mp4VideoFixture(s, dir)
        val pairs = Multimodal.videoNearDupPairs(
          Multimodal.videoFrameDctHashes(s, fx, nFrames = 4),
          maxHamming = 3)
        graft.ops.Dedup.dedupByPairs(
            fx.select(col("media_id"), col("kind")), "media_id",
            pairs, "id_a", "id_b")
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $vpixelSql,
        |$vdctSql,
        |f0 AS (SELECT doc_id, phash FROM vph WHERE f = 0),
        |bands AS (SELECT doc_id, b.band,
        |    (phash >> (b.band * 16)) & 65535 AS bv
        |  FROM f0, (SELECT UNNEST([0, 1, 2, 3]) AS band) b),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |good AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN vph pa ON pa.doc_id = c.id_a
        |  JOIN vph pb ON pb.doc_id = c.id_b AND pb.f = pa.f
        |  GROUP BY 1, 2
        |  HAVING SUM(bit_count(xor(pa.phash, pb.phash))) <= 3),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id AS media_id, 'mp4' AS kind FROM documents
        |WHERE doc_id % 4 = 0 AND doc_id NOT IN
        |  (SELECT id FROM comp WHERE id <> component)
        |ORDER BY media_id""".stripMargin)),

    // Haitsma–Kalker band-energy fingerprint (r18, VERDICT r17
    // missing #6): the 9×8 band-energy matrix over an exact integer
    // filterbank (shared centi trig tables), time-and-band
    // difference signs → 56 bits. NO division anywhere, so the
    // planted (2k, 2k+1) volume twins scale every energy by amp²
    // exactly and hash IDENTICALLY. The oracle re-derives every
    // sample from the doc_id waveform formula and replays the
    // filterbank — it never parses a byte.
    QuerySpec("q344_audio_band_fingerprint",
      (s, dir) => Multimodal.audioBandFingerprint(
          s, pcmWavFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $hkSql
        |SELECT d.doc_id AS media_id, d.doc_id % 11 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated' END AS reason,
        |  CAST(p.n AS BIGINT) AS n_frames, h.band_hash
        |FROM documents d
        |LEFT JOIN hpar p ON p.doc_id = d.doc_id
        |LEFT JOIN hh2 h ON h.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Audio banded near-dup pairs (r18): the dctNearDupPairs
    // machinery over the 56-bit band hash — band-keyed candidates,
    // pigeonhole-complete to hamming 3, never all-pairs. Volume
    // twins land at hamming 0; different recordings stay far apart.
    QuerySpec("q345_audio_band_pairs",
      (s, dir) => Multimodal.audioBandNearDupPairs(
          Multimodal.audioBandFingerprint(s, pcmWavFixture(s, dir)),
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $hkSql,
        |bands AS (
        |  SELECT doc_id, b.band, (band_hash >> (b.band * 16)) & 65535
        |      AS bv
        |  FROM hh2, (SELECT UNNEST([0, 1, 2, 3]) AS band) b),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |pr AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(pa.band_hash, pb.band_hash)) AS hamming
        |  FROM cand c JOIN hh2 pa ON pa.doc_id = c.id_a
        |  JOIN hh2 pb ON pb.doc_id = c.id_b)
        |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        |FROM pr WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin)),

    // Audio near-dup dedup e2e (r18): the q321 composite applied to
    // the band-fingerprint tier — banded-hamming pairs → connected
    // components → min-id keep. The planted volume twins collapse
    // (division-free gain exactness), truncated payloads pass
    // through untouched. Completes the audio family the way q321
    // completed images and q336 video.
    QuerySpec("q351_audio_neardup_e2e",
      (s, dir) => {
        val fx = pcmWavFixture(s, dir)
        val pairs = Multimodal.audioBandNearDupPairs(
          Multimodal.audioBandFingerprint(s, fx), maxHamming = 3)
        graft.ops.Dedup.dedupByPairs(
            fx.select(col("media_id"), col("kind")), "media_id",
            pairs, "id_a", "id_b")
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $hkSql,
        |bands AS (
        |  SELECT doc_id, b.band, (band_hash >> (b.band * 16)) & 65535
        |      AS bv
        |  FROM hh2, (SELECT UNNEST([0, 1, 2, 3]) AS band) b),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |good AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN hh2 pa ON pa.doc_id = c.id_a
        |  JOIN hh2 pb ON pb.doc_id = c.id_b
        |  WHERE bit_count(xor(pa.band_hash, pb.band_hash)) <= 3),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id AS media_id, 'audio' AS kind FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT id FROM comp WHERE id <> component)
        |ORDER BY media_id""".stripMargin)),

    // DCT pHash over the MIXED PNG+JPEG fixture (r18): the
    // frequency-domain hash through the dispatched decode — the
    // oracle composes the mixed-format IDCT pixel CTE with q316's
    // DCT pipeline VERBATIM (both end in a px(doc_id, x, y, p)
    // frame), pinning that the pHash contract is format-independent.
    // JPEG frame-type share (r19, VERDICT r18 missing #5 — the
    // codec-investment stat): per payload the first SOF marker (192
    // baseline / 194 progressive / null unreachable) and the decode
    // outcome, rolled up to (sof_marker, status, n). This is the
    // number that ranks whether SOF2 decode is worth building:
    // sequential-only is the documented honest v1, and the share it
    // loses is now measured per corpus instead of unknown. Cheap
    // marker walk + one combinable groupBy; payloads never shuffle.
    QuerySpec("q358_jpeg_sof_share",
      (s, dir) => Multimodal.imageSofShare(s, jpegCoeffFixture(s, dir))
        .orderBy(col("sof_marker").asc_nulls_last, col("status")),
      Some("""WITH c AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN NULL
        |         WHEN doc_id % 13 = 0 THEN 194 ELSE 192 END
        |      AS sof_marker,
        |    CASE WHEN doc_id % 11 = 0 THEN 'truncated'
        |         WHEN doc_id % 13 = 0 THEN 'bad_header'
        |         ELSE 'ok' END AS status
        |  FROM documents)
        |SELECT CAST(sof_marker AS INTEGER) AS sof_marker, status,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM c GROUP BY 1, 2
        |ORDER BY sof_marker ASC NULLS LAST, status""".stripMargin)),

    // PROGRESSIVE JPEG pixel decode (r19 — the investment q358's
    // share stat ranked): SOF2 spectral selection, real multi-scan
    // walk — DC scan, per-band AC scans with §G.1.2.2 EOBn run
    // decoding, tables redefinable between scans, RSTm inside scans,
    // coefficient accumulation until EOI. The fixture is the SAME
    // coefficient formula as q337 in a progressive container (band
    // splits and restart intervals vary per doc), so the oracle is
    // q337's IDCT replay VERBATIM — sequential ≡ progressive at the
    // pixel level, the cross-container pin (the PNG≡JPEG move one
    // level deeper). Successive approximation (Ah/Al ≠ 0) is the
    // documented out-of-tier lane.
    QuerySpec("q359_jpeg_progressive_decode",
      (s, dir) => Multimodal.pngPixelStats(s,
          jpegProgressiveFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH ${jpegPixelSql(
          "doc_id % 11 <> 0 AND doc_id % 13 <> 0")},
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((py * 16 + px_ + 1) * p) AS BIGINT) AS swp
        |  FROM jpx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_header' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // SUCCESSIVE-APPROXIMATION progressive decode (r19, the SA
    // completion of q359 — the mode virtually every real progressive
    // web JPEG uses): first scans at Al=2 then two bit-plane
    // refinement passes per band, with §G.1.2.3 correction-bit
    // decoding (newly-significant ±2^Al, corrections interleaved
    // through runs and EOB-run blocks). Same coefficient formula →
    // the pixels must STILL equal q337's sequential decode: one
    // oracle now pins three containers (sequential ≡ spectral ≡ SA).
    QuerySpec("q360_jpeg_progressive_sa",
      (s, dir) => Multimodal.pngPixelStats(s,
          jpegProgressiveSaFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH ${jpegPixelSql(
          "doc_id % 11 <> 0 AND doc_id % 13 <> 0")},
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((py * 16 + px_ + 1) * p) AS BIGINT) AS swp
        |  FROM jpx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_header' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // COLOR PROGRESSIVE luma decode (r19, closing the progressive
    // matrix): interleaved DC scan (per-component predictors, luma
    // stored, chroma entropy-consumed), per-component AC scans with
    // the chroma ones SKIPPED by marker scan (entropy data cannot
    // contain a bare FF — the skip needs no decode), mixed
    // spectral/SA per doc. Same luma coefficients as q337 → the one
    // pixel oracle now pins FIVE containers: sequential grey,
    // sequential color, progressive grey, SA grey, progressive
    // color.
    QuerySpec("q363_jpeg_color_progressive",
      (s, dir) => Multimodal.pngPixelStats(s,
          jpegColorProgressiveFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH ${jpegPixelSql(
          "doc_id % 11 <> 0 AND doc_id % 13 <> 0")},
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((py * 16 + px_ + 1) * p) AS BIGINT) AS swp
        |  FROM jpx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_header' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // COLOR PNG luma decode (r19 — web PNGs are overwhelmingly
    // RGB(A); the grey-only tier silently dead-lettered them as
    // unsupported): §9.2 defiltering generalized to BYTE-wide
    // predictors at bpp 3/4, then ONE exact REC.601 integer luma
    // division per pixel (alpha ignored — the luma-plane contract
    // the JPEG color tier set). The oracle derives every channel
    // from the doc_id formula and replays the same division; RGBA
    // docs land the SAME luma as their RGB construction, pinning
    // alpha-transparency.
    QuerySpec("q364_png_color_luma",
      (s, dir) => Multimodal.pngPixelStats(s, pngColorFixture(s, dir))
        .orderBy(col("media_id")),
      Some("""WITH g AS (SELECT doc_id, x, y,
        |    (299 * ((x*7 + y*3 + doc_id) % 256) +
        |     587 * ((x*2 + y*11 + doc_id*5) % 256) +
        |     114 * ((x*13 + y + doc_id*3) % 256) + 500) // 1000 AS p
        |  FROM documents, range(0, 16) tx(x), range(0, 16) ty(y)
        |  WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((y * 16 + x + 1) * p) AS BIGINT) AS swp
        |  FROM g GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_crc' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    QuerySpec("q352_mixed_dct_phash",
      (s, dir) => Multimodal.imageDctHash(s, mixedMediaFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $mixedPixelSql,
        |$dctSql
        |SELECT d.doc_id AS media_id, d.doc_id % 23 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 23 = 0 THEN 'truncated' END AS reason,
        |  ph.phash
        |FROM documents d LEFT JOIN ph ON d.doc_id = ph.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Baseline JPEG pixel decode (r18, VERDICT r17 ask #1): the full
    // T.81 chain — marker walk, DQT/DHT parse, canonical Huffman
    // entropy decode with byte unstuffing, dequantization, exact
    // integer IDCT — verified by the q306 position-pinned sums. The
    // oracle re-derives every pixel from the COEFFICIENT formula via
    // the shared acMicro8 table; it never parses a byte. Dead lanes:
    // truncation inside DQT, and an SOF2-patched sequential stream
    // whose full-range scan is an invalid progressive scan header
    // (bad_header since the r19 progressive tier).
    QuerySpec("q337_jpeg_pixel_decode",
      (s, dir) => Multimodal.pngPixelStats(s, jpegCoeffFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH ${jpegPixelSql(
          "doc_id % 11 <> 0 AND doc_id % 13 <> 0")},
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((py * 16 + px_ + 1) * p) AS BIGINT) AS swp
        |  FROM jpx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_header' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // COLOR JPEG luma decode (r18, the color completion of q337):
    // three-component 4:2:0 interleaved MCUs — the decoder must
    // entropy-walk every chroma block with its own predictor and
    // tables to land the luma plane, which must equal the greyscale
    // decode of the SAME coefficients bit-for-bit. The oracle is
    // q337's IDCT replay verbatim: one pixel contract across
    // greyscale and color containers.
    QuerySpec("q346_jpeg_color_luma",
      (s, dir) => Multimodal.pngPixelStats(s, jpegColorFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH ${jpegPixelSql(
          "doc_id % 11 <> 0 AND doc_id % 13 <> 0")},
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((py * 16 + px_ + 1) * p) AS BIGINT) AS swp
        |  FROM jpx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'unsupported' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(16 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // LOSSY pixel-path round trip (r18): the forward encoder —
    // level shift, exact fixed-point forward DCT, round-half-up
    // quantization — composed with the decoder; the oracle replays
    // the WHOLE composition in SQL (forward two-stage sums, the
    // one-division quantizer, dequant, IDCT), so the driver now
    // checks the encode half end-to-end, not just via specs.
    QuerySpec("q347_jpeg_lossy_roundtrip",
      (s, dir) => Multimodal.pngPixelStats(s, jpegLossyFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $jpegLossySql,
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    CAST(SUM((py * 16 + px_ + 1) * p) AS BIGINT) AS swp
        |  FROM jpx GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, TRUE AS ok,
        |  CAST(NULL AS VARCHAR) AS reason,
        |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // JPEG-input resize (r18): the q325 chain with a JPEG source —
    // decodeImageGray inside resizePngGray accepts the q337 fixture,
    // box-filters 16×16 → 8×8, re-encodes a REAL PNG, and the result
    // decodes AGAIN through pngPixelStats; the oracle re-derives the
    // resized pixels from the coefficient formula's IDCT replay
    // (floor(2×2 block sum / 4)). Dead lanes pass through with the
    // JPEG tier's reasons.
    QuerySpec("q349_jpeg_resize",
      (s, dir) => {
        val rz = Multimodal.resizePngGray(
          s, jpegCoeffFixture(s, dir), outW = 8, outH = 8)
        val okStats = Multimodal.pngPixelStats(s,
          rz.filter(col("ok"))
            .select(col("media_id"), col("kind"), col("media")))
        val dead = rz.filter(!col("ok")).select(col("media_id"),
          col("ok"), col("reason"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("n_pixels"),
          lit(null).cast("long").as("sum_pix"),
          lit(null).cast("long").as("sum_wpix"))
        okStats.unionByName(dead).orderBy(col("media_id"))
      },
      Some(s"""WITH ${jpegPixelSql(
          "doc_id % 11 <> 0 AND doc_id % 13 <> 0")},
        |rp AS (SELECT doc_id, px_ // 2 AS rx, py // 2 AS ry,
        |    CAST(SUM(p) // 4 AS BIGINT) AS q
        |  FROM jpx GROUP BY 1, 2, 3),
        |st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM(q) AS BIGINT) AS sp,
        |    CAST(SUM((ry * 8 + rx + 1) * q) AS BIGINT) AS swp
        |  FROM rp GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  d.doc_id % 11 <> 0 AND d.doc_id % 13 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 11 = 0 THEN 'truncated'
        |       WHEN d.doc_id % 13 = 0 THEN 'bad_header' END AS reason,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(8 AS INTEGER) END AS width,
        |  CASE WHEN st.doc_id IS NOT NULL
        |    THEN CAST(8 AS INTEGER) END AS height,
        |  st.np AS n_pixels, st.sp AS sum_pix, st.swp AS sum_wpix
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Mixed-format perceptual hashes (r18): PNG and baseline-JPEG
    // payloads of the SAME coefficient-defined content hash through
    // one dispatched kernel — the oracle derives ONE pixel CTE (the
    // IDCT replay) for both formats and reuses the q307 hash
    // pipeline verbatim, which is the point: the decoded-pixel
    // contract is format-independent.
    QuerySpec("q338_mixed_perceptual_hashes",
      (s, dir) => Multimodal.imagePerceptualHashes(
          s, mixedMediaFixture(s, dir))
        .orderBy(col("media_id")),
      Some(s"""WITH $mixedPixelSql,
        |$hashSql
        |SELECT d.doc_id AS media_id, d.doc_id % 23 <> 0 AS ok,
        |  CASE WHEN d.doc_id % 23 = 0 THEN 'truncated' END AS reason,
        |  hh.ahash_hi, hh.ahash_lo, hh.dhash
        |FROM documents d LEFT JOIN hh ON d.doc_id = hh.doc_id
        |ORDER BY media_id""".stripMargin)),

    // Mixed PNG+JPEG near-dup dedup e2e (r18, the ask's "done"
    // surface): the q321 composite over the mixed fixture — banded
    // aHash candidates, true-hamming verify, connected components,
    // min-id keep. The planted classes cross the FORMAT boundary:
    // r=2 (JPEG) collapses onto its r=0/r=1 PNG twins at hamming 0
    // because both decode to the same exact-integer pixels; the r=3
    // JPEG DC perturbation lands within the banded radius; dead
    // letters pass through untouched.
    QuerySpec("q339_mixed_neardup_e2e",
      (s, dir) => {
        val fx = mixedMediaFixture(s, dir)
        val pairs = Multimodal.perceptualNearDupPairs(
          Multimodal.imagePerceptualHashes(s, fx), maxHamming = 3)
        graft.ops.Dedup.dedupByPairs(
            fx.select(col("media_id"), col("kind")), "media_id",
            pairs, "id_a", "id_b")
          .orderBy(col("media_id"))
      },
      Some(s"""WITH $mixedPixelSql,
        |$hashSql,
        |bands AS (
        |  SELECT doc_id, 0 AS band, (ahash_hi >> 16) & 65535 AS bv
        |    FROM hh
        |  UNION ALL SELECT doc_id, 1, ahash_hi & 65535 FROM hh
        |  UNION ALL SELECT doc_id, 2, (ahash_lo >> 16) & 65535 FROM hh
        |  UNION ALL SELECT doc_id, 3, ahash_lo & 65535 FROM hh),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band
        |    AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |good AS (SELECT c.id_a, c.id_b
        |  FROM cand c JOIN hh ha ON ha.doc_id = c.id_a
        |  JOIN hh hb ON hb.doc_id = c.id_b
        |  WHERE bit_count(xor(ha.ahash_hi, hb.ahash_hi)) +
        |    bit_count(xor(ha.ahash_lo, hb.ahash_lo)) <= 3),
        |edges AS (SELECT id_a AS a, id_b AS b FROM good
        |  UNION SELECT id_b, id_a FROM good),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach AS (
        |  WITH RECURSIVE r(src, node) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node)
        |  SELECT * FROM r),
        |comp AS (SELECT src AS id, MIN(node) AS component
        |  FROM reach GROUP BY src)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 4 >= 2 THEN 'jpeg' ELSE 'png' END AS kind
        |FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT id FROM comp WHERE id <> component)
        |ORDER BY media_id""".stripMargin)))

  /** Deterministic PCM WAVE fixture (r16) — the pngPixelFixture move
    * on audio: per doc, base = doc_id div 2 picks the waveform
    * g(f) = ((3 + base%7)·f + (base%11)·(f² mod 13)) mod 101 − 50
    * over n = 16 + base%83 mono frames at amp = 1 + doc_id%2, encoded
    * 8-bit unsigned (128 + amp·g) when base is even and 16-bit signed
    * (amp·g·256) when odd — so consecutive ids (2k, 2k+1) are
    * VOLUME TWINS of the same recording (the planted near-dup class;
    * centered mix-down = amp·g in both widths). doc_id % 11 truncates
    * inside the fmt chunk (dead letter). */
  private[graft] def pcmWavFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val base = id / 2
      val amp = 1 + (id % 2).toInt
      val bits = if (base % 2 == 0) 8 else 16
      val n = (16 + base % 83).toInt
      def g(f: Int): Int =
        (((3 + base % 7) * f + (base % 11) * ((f.toLong * f) % 13))
          % 101).toInt - 50
      val samples = Array.tabulate(n)(f =>
        if (bits == 8) 128 + amp * g(f) else amp * g(f) * 256)
      val full = Multimodal.encodeWavSamples(1, 8000, bits, samples)
      val payload = if (id % 11 == 0) full.take(30) else full
      (id, "audio", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** Deterministic MP4 fixture WITH a real sample table (r16): per
    * doc, S = 3 + id%6 samples of sizes 16 + (7·id + 13·j) % 32 whose
    * bytes are (id + 31·j + 17·i) % 256, laid out in TWO chunks so
    * the reader must run the actual stsc chunk-run algorithm.
    * doc_id % 11 truncates inside moov; % 13 clobbers the ftyp tag
    * (truncation wins on overlap, matching the oracle CASE order). */
  private[graft] def mp4SampleFixture(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val nS = (3 + id % 6).toInt
      val sizes = Array.tabulate(nS)(j =>
        (16 + (id * 7 + j * 13) % 32).toInt)
      val full = Multimodal.encodeMp4Samples("isom", 1000L, 9000L,
        sizes, (j, i) => ((id + 31 * j + 17 * i) % 256).toInt,
        nChunks = 2)
      val payload =
        if (id % 11 == 0) full.take(40)
        else if (id % 13 == 0) { val c = full.clone(); c(4) = 'X'.toByte; c }
        else full
      (id, "video", payload)
    }.toDF("media_id", "kind", "media")
  }

  /** The fixture's centered mix-down + windowed energies as DuckDB
    * CTEs: fr re-derives amp·g(f) per frame from the doc_id formula
    * (never touching a byte), ew the per-window energies under the
    * (f·8) // n window rule, fp the (n, energy, contour) fingerprint
    * of every OK payload. */
  private def pcmSql: String =
    """par AS (SELECT doc_id, doc_id // 2 AS base,
      |    1 + doc_id % 2 AS amp,
      |    16 + (doc_id // 2) % 83 AS n
      |  FROM documents WHERE doc_id % 11 <> 0),
      |fr AS (SELECT doc_id, n,
      |    amp * ((((3 + base % 7) * f + (base % 11) * ((f * f) % 13))
      |      % 101) - 50) AS s,
      |    (f * 8) // n AS w
      |  FROM par, range(0, 98) g(f) WHERE f < n),
      |ew AS (SELECT doc_id, w, CAST(SUM(s * s) AS BIGINT) AS e
      |  FROM fr GROUP BY doc_id, w),
      |ctr AS (SELECT a.doc_id,
      |    CAST(SUM(CASE WHEN a.e > b.e
      |      THEN CAST(1 AS BIGINT) << a.w ELSE 0 END) AS BIGINT)
      |      AS contour
      |  FROM ew a JOIN ew b
      |    ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |  GROUP BY a.doc_id),
      |fp AS (SELECT p.doc_id, CAST(p.n AS BIGINT) AS n, t.energy,
      |    c.contour
      |  FROM par p
      |  JOIN (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS energy
      |    FROM ew GROUP BY doc_id) t ON t.doc_id = p.doc_id
      |  JOIN ctr c ON c.doc_id = p.doc_id)""".stripMargin

  /** The Haitsma–Kalker filterbank over the [[pcmWavFixture]]
    * waveform formula as DuckDB CTEs (r18): hpar re-derives the
    * per-doc parameters, hfr the samples with the 9-window rule and
    * the mod-16 phase, hx the per-(window, band) cos/sin projections
    * over the shared centi trig VALUES, he the division-free
    * energies, hb the time-and-band difference-sign bits, hh2 the
    * packed 56-bit hash. */
  private def hkSql: String =
    s"""hpar AS (SELECT doc_id, doc_id // 2 AS base,
      |    1 + doc_id % 2 AS amp,
      |    16 + (doc_id // 2) % 83 AS n
      |  FROM documents WHERE doc_id % 11 <> 0),
      |hfr AS (SELECT doc_id, n,
      |    amp * ((((3 + base % 7) * f + (base % 11) * ((f * f) % 13))
      |      % 101) - 50) AS s,
      |    (f * 9) // n AS w, f % 16 AS p
      |  FROM hpar, range(0, 98) g(f) WHERE f < n),
      |ht AS (SELECT * FROM (VALUES ${Multimodal.hkTrigSqlValues})
      |  t(b, p, ct, st)),
      |hx AS (SELECT f.doc_id, f.w, t.b,
      |    CAST(SUM(f.s * t.ct) AS BIGINT) AS xc,
      |    CAST(SUM(f.s * t.st) AS BIGINT) AS xs
      |  FROM hfr f JOIN ht t ON t.p = f.p GROUP BY 1, 2, 3),
      |he AS (SELECT doc_id, w, b, xc * xc + xs * xs AS e FROM hx),
      |hb AS (SELECT a.doc_id, (a.w - 1) * 7 + a.b AS idx,
      |    CASE WHEN (a.e - r.e) - (u.e - ur.e) > 0
      |      THEN 1 ELSE 0 END AS bit
      |  FROM he a
      |  JOIN he r ON r.doc_id = a.doc_id AND r.w = a.w
      |    AND r.b = a.b + 1
      |  JOIN he u ON u.doc_id = a.doc_id AND u.w = a.w - 1
      |    AND u.b = a.b
      |  JOIN he ur ON ur.doc_id = a.doc_id AND ur.w = a.w - 1
      |    AND ur.b = a.b + 1
      |  WHERE a.w >= 1 AND a.b <= 6),
      |hh2 AS (SELECT doc_id,
      |    CAST(SUM(CAST(bit AS BIGINT) << idx) AS BIGINT) AS band_hash
      |  FROM hb GROUP BY doc_id)""".stripMargin

  /** The exact fixed-point DCT pipeline over [[pixelSql]] as a DuckDB
    * CTE — constants injected from [[Multimodal.cosMicro]] (the ONE
    * shared table), row-sums first then the column pass, mirroring
    * the kernel's associativity exactly (integer addition — any
    * order agrees). */
  private def dctSql: String =
    s"""ct AS (SELECT * FROM (VALUES ${Multimodal.cosMicroSqlValues})
      |  t(u, x, c)),
      |rs AS (SELECT p.doc_id, ct.u, p.y,
      |    CAST(SUM(p.p * ct.c) AS BIGINT) AS rsum
      |  FROM px p JOIN ct ON ct.x = p.x GROUP BY 1, 2, 3),
      |coef AS (SELECT r.doc_id, r.u, cv.u AS v,
      |    CAST(SUM(r.rsum * cv.c) AS BIGINT) AS f
      |  FROM rs r JOIN ct cv ON cv.x = r.y GROUP BY 1, 2, 3),
      |med AS (SELECT doc_id, quantile_disc(f, 0.5) AS m FROM coef
      |  WHERE u * 8 + v NOT IN (0, 63) GROUP BY 1),
      |ph AS (SELECT c.doc_id,
      |    CAST(SUM(CASE WHEN c.u * 8 + c.v NOT IN (0, 63)
      |        AND c.f > m.m
      |      THEN CAST(1 AS BIGINT) << (c.u * 8 + c.v)
      |      ELSE 0 END) AS BIGINT) AS phash
      |  FROM coef c JOIN med m ON m.doc_id = c.doc_id GROUP BY 1)"""
      .stripMargin
}

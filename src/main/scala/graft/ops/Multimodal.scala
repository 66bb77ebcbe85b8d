package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder-prompt north star): media
  * payloads travel as opaque `binary` columns with typed metadata;
  * decode/feature steps are partition-local transforms.
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked DETERMINISTIC STUB — but everything Spark-side is
  * real and tested: the schema contract, the binary column handling,
  * the mapPartitions batch shape (the Scala analogue of mapInPandas:
  * one iterator per partition, vectorizable kernel inside), and the
  * row-multiplying frame extraction.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, media: Array[Byte])
  case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Wrap any (id, text) table into a media table: the text bytes stand
    * in for an encoded image/audio payload. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol).as("media_id"),
      (col(idCol) % 3).cast("int").cast("string").as("kind"),
      encode(col(payloadCol), "UTF-8").as("media"))

  /** Byte-level EXACT media dedup (r15, VERDICT r14 #7 — the
    * content-level tier above the header decoders): duplicate groups
    * of a binary column by content identity, keyed on
    * (md5(bytes), byte length) so the exchange carries a 16-byte
    * digest + an int per row instead of the media payload — at 100 TB
    * the media bytes NEVER cross the wire, only the scan reads them
    * (the same one-shuffle map-side-combinable shape as exact text
    * dedup, q25). The length in the key documents the md5-collision
    * paranoia (a collision would additionally have to match lengths);
    * null payloads are excluded (no content to compare). Output: one
    * row per distinct content, (rep_media_id = min id, n_copies,
    * n_bytes).
    *
    * The perceptual near-dup tier (aHash/dHash over a decoded
    * thumbnail) is deliberately NOT shipped this round: it needs the
    * pixel decode the container-level ops skip, and its cost is the
    * decode, not the hash — scoped in COVERAGE.md §scale notes. */
  def mediaDedupExact(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    df.filter(col(binCol).isNotNull)
      .groupBy(md5(col(binCol)).as("__h"),
        length(col(binCol)).as("n_bytes"))
      .agg(min(col(idCol)).as("rep_media_id"),
        count(lit(1)).as("n_copies"))
      .select(col("rep_media_id"), col("n_copies"), col("n_bytes"))

  /** Pure-expression metadata extraction over the binary column —
    * byte length, head bytes (hex), and a cheap content checksum. All
    * codegen'd; this is the "cheap scan pass" of a media pipeline. */
  def mediaMetadata(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      length(col("media")).as("n_bytes"),
      hex(substring(col("media"), 1, 8)).as("head_hex"),
      crc32(col("media")).as("checksum"))

  // -------------------------------------------------------------------
  // Real image header decode — PNG (ISO/IEC 15948 §5.2/§11.2.2: the
  // 8-byte signature and the IHDR chunk) and JPEG/JFIF (ITU-T T.81
  // §B.2: marker segments and the SOFn frame header). Pure Scala over
  // the binary column: a training pipeline's first decode pass
  // (dimensions / channels / bit depth for filtering and batching)
  // needs no codec, only the public container formats — the same move
  // as the from-scratch ESRI shapefile reader.
  // -------------------------------------------------------------------

  /** Parsed header attributes of an encoded image payload. */
  case class ImageHeader(format: String, width: Int, height: Int,
      channels: Int, bitDepth: Int)

  private val PngSig: Array[Int] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** PNG color type → sample channels (ISO/IEC 15948 §6.1: 0 grey,
    * 2 truecolour, 3 indexed, 4 grey+alpha, 6 truecolour+alpha). */
  private def pngChannels(colorType: Int): Option[Int] = colorType match {
    case 0 => Some(1); case 2 => Some(3); case 3 => Some(1)
    case 4 => Some(2); case 6 => Some(4); case _ => None
  }

  /** Header parse; Left(reason) is the dead-letter lane (the
    * reject-with-reason discipline of the CSV pipeline, P7).
    * Reasons: `truncated` (payload ends inside a structure that its
    * own leading bytes promise), `bad_magic` (neither container's
    * signature), `bad_header` (well-delimited but spec-invalid
    * values), `no_sof` (JPEG ended before any frame header). */
  def parseImageHeader(bytes: Array[Byte]): Either[String, ImageHeader] = {
    if (bytes.length >= 2 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8)
      parseJpeg(bytes)
    else if (bytes.length > 0 && u8(bytes, 0) == PngSig(0)) {
      // PNG signature prefix: mismatch within the available bytes is
      // bad_magic; a clean prefix that simply ends early is truncated
      val n = math.min(bytes.length, 8)
      if ((1 until n).exists(i => u8(bytes, i) != PngSig(i))) Left("bad_magic")
      else if (bytes.length < 8) Left("truncated")
      else parsePng(bytes)
    }
    else if (bytes.length < 2) Left("truncated")
    else Left("bad_magic")
  }

  private def parsePng(b: Array[Byte]): Either[String, ImageHeader] = {
    // signature(8) + chunk length(4) + chunk type(4) + IHDR data(13)
    if (b.length < 29) return Left("truncated")
    if (be32(b, 8) != 13L) return Left("bad_header")
    val typ = new String(b.slice(12, 16), "US-ASCII")
    if (typ != "IHDR") return Left("bad_header") // §11.2.2: IHDR first
    val w = be32(b, 16); val h = be32(b, 20)
    val depth = u8(b, 24); val colorType = u8(b, 25)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
      return Left("bad_header")
    if (!Set(1, 2, 4, 8, 16).contains(depth)) return Left("bad_header")
    pngChannels(colorType) match {
      case Some(ch) => Right(ImageHeader("png", w.toInt, h.toInt, ch, depth))
      case None => Left("bad_header")
    }
  }

  private def parseJpeg(b: Array[Byte]): Either[String, ImageHeader] = {
    var pos = 2 // past SOI
    while (pos + 1 < b.length) {
      if (u8(b, pos) != 0xff) return Left("bad_header")
      // T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
      // marker byte — consume the run, the marker is the first non-FF
      // (review r10: without this, a spec-valid FF D8 FF FF E0 stream
      // misreads the fill byte as the marker and strides misaligned)
      var mpos = pos + 1
      while (mpos < b.length && u8(b, mpos) == 0xff) mpos += 1
      if (mpos >= b.length) return Left("truncated")
      val marker = u8(b, mpos)
      if (marker == 0xd9) return Left("no_sof") // EOI before any SOF
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) pos = mpos + 1
      else {
        if (mpos + 3 > b.length) return Left("truncated")
        val len = be16(b, mpos + 1)
        if (len < 2) return Left("bad_header")
        val isSof = (marker >= 0xc0 && marker <= 0xcf) &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          // T.81 B.2.2: P(1) Y(2) X(2) Nf(1) after the length field
          if (mpos + 9 > b.length) return Left("truncated")
          val precision = u8(b, mpos + 3)
          val h = be16(b, mpos + 4); val w = be16(b, mpos + 6)
          val ncomp = u8(b, mpos + 8)
          if (w == 0 || h == 0 || ncomp == 0) return Left("bad_header")
          return Right(ImageHeader("jpeg", w, h, ncomp, precision))
        }
        pos = mpos + 1 + len
      }
    }
    Left("truncated")
  }

  /** Distributed header decode over the binary column: one row per
    * payload, parse failures as in-band dead-letter columns (ok=false
    * + reason, attributes null) so a pipeline can route rejects
    * without a second pass. Partition-local, no shuffle. */
  def imageHeaders(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          parseImageHeader(r.media) match {
            case Right(hd) => (r.media_id, r.kind, true,
              Option.empty[String], Option(hd.format), Option(hd.width),
              Option(hd.height), Option(hd.channels), Option(hd.bitDepth))
            case Left(reason) => (r.media_id, r.kind, false, Option(reason),
              Option.empty[String], Option.empty[Int], Option.empty[Int],
              Option.empty[Int], Option.empty[Int])
          }
        }
      }
      .toDF("media_id", "kind", "ok", "reason", "format", "width", "height",
        "channels", "bit_depth")
  }

  /** Training-pipeline image admission rule over an [[imageHeaders]]
    * frame: drop undecodable payloads, tiny images, extreme aspect
    * ratios, and non-color images — the standard multimodal pretraining
    * filters (LAION-style), all in exact integer arithmetic
    * (aspect·1000 cross-multiply, no float division) so the rule is
    * engine-replicable. Adds `keep`; pure projection, zero shuffle. */
  def imageQualityFilter(headers: DataFrame, minDim: Int = 32,
      maxAspectMilli: Int = 2000, minChannels: Int = 3): DataFrame =
    headers.withColumn("keep",
      col("ok") &&
        col("width") >= minDim && col("height") >= minDim &&
        // long arithmetic: width can legally be Int.MaxValue (PNG) and
        // a 32-bit `greatest*1000` wraps silently under non-ANSI
        // multiply — a 2,200,000×1,000 image would wrap NEGATIVE and
        // pass the very aspect cut it exists to fail (review r10)
        greatest(col("width"), col("height")).cast("long") * 1000L <=
          least(col("width"), col("height")).cast("long") * maxAspectMilli.toLong &&
        col("channels") >= minChannels)

  /** Minimal spec-conformant PNG: signature + IHDR (real CRC) + IEND.
    * The encode half of the header codec — fixture source for the q33
    * gate (the generator controls the bytes, so the oracle re-derives
    * the attributes arithmetically) and a real writer of valid
    * (header-only) PNG streams. */
  def encodePng(width: Int, height: Int, colorType: Int, bitDepth: Int): Array[Byte] =
    PngSig.map(_.toByte) ++
      pngChunk("IHDR", pngIhdr(width, height, bitDepth, colorType)) ++
      pngChunk("IEND", Array.emptyByteArray)

  /** Minimal spec-conformant JPEG: SOI + APP0/JFIF + SOF0 + EOI. The
    * APP0 segment is deliberate — a parser that doesn't walk marker
    * segments properly trips on it before reaching the SOF. */
  def encodeJpeg(width: Int, height: Int, nComp: Int, precision: Int = 8): Array[Byte] = {
    val jw = new JpegWriter
    // APP0 "JFIF\0" v1.02, no density, no thumbnail
    jw.seg(0xe0, "JFIF".map(_.toInt) ++ Seq(0, 1, 2, 0, 0, 1, 0, 1, 0, 0))
    jw.sof(0xc0, precision, width, height,
      (1 to nComp).map(c => (0x11, if (c == 1) 0 else 1)))
    jw.bytes
  }

  // -------------------------------------------------------------------
  // Baseline JPEG pixel codec (r18, VERDICT r17 missing #3 / ask #1):
  // ITU-T T.81 sequential DCT, greyscale — DQT/DHT/SOF0/SOS marker
  // walk, canonical Huffman entropy coding (§C.2 code construction,
  // §F.1.2 encode / §F.2.2 decode procedures, byte stuffing, restart
  // markers), dequantization, and an EXACT fixed-point integer IDCT
  // (the cosMicro discipline: one Scala-generated α·cos table shared
  // with the oracle SQL builder, two-stage row/column sums in int64
  // with no intermediate rounding, ONE documented round-half-up at the
  // end) — so the decoded pixels of a coefficient-defined fixture are
  // integer-replayable by any engine. The same pure-JVM from-spec move
  // as the PNG Inflater codec (r16) and the MP4 §8.7 box walk.
  // -------------------------------------------------------------------

  /** Combined α·cos fixed-point table for the 8-point DCT axis:
    * acMicro8(u)(x) = round(10⁶·α(u)·cos(π(2x+1)u/16)) with α(0)=1/√2,
    * α(u>0)=1 (T.81 §A.3.3, the two 1/2 factors applied once at the
    * final scale — so IDCT pixel = Σ/(4·10¹²)). ONE Scala-computed
    * table shared by the decoder's IDCT, the pixel-path encoder's
    * forward DCT, and the oracle CTE builder — the two engines agree
    * by construction, never by trusting two trig libraries. */
  private[graft] val acMicro8: Array[Array[Long]] =
    Array.tabulate(8, 8)((u, x) =>
      Math.round(1e6 * (if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0)
        * StrictMath.cos(Math.PI * (2 * x + 1) * u / 16)))

  /** The table as SQL VALUES rows `(u, x, c)` for the oracle CTE. */
  private[graft] def acMicro8SqlValues: String =
    (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u,$x,${acMicro8(u)(x)})").mkString(", ")

  /** T.81 Figure A.6 zigzag order: zz(k) = natural index (row·8+col)
    * of scan position k — GENERATED by the diagonal walk (even
    * diagonals run bottom-left→top-right) instead of 64 typed
    * literals a typo could corrupt. Encoder and decoder share it, so
    * it cancels in round-trips; the oracle consumes coefficients in
    * natural (u,v) order and never sees it. */
  private[graft] val zigzag: Array[Int] = {
    val out = new Array[Int](64)
    var i = 0
    for (s <- 0 until 15) {
      val rs = math.max(0, s - 7) to math.min(7, s)
      val cells = if (s % 2 == 0) rs.reverse else rs
      for (r <- cells) { out(i) = r * 8 + (s - r); i += 1 }
    }
    out
  }

  // T.81 Annex K.3 typical luminance Huffman tables (spec-published
  // constants). The encoder WRITES them into DHT and the decoder
  // rebuilds whatever DHT carries, so the pair is self-consistent by
  // construction; JpegCodecSpec pins the structural invariants (162
  // distinct AC symbols = every (run ≤ 15, size 1..10) pair + EOB +
  // ZRL; 12 DC categories; canonical feasibility).
  private[graft] val jDcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[graft] val jDcVals: Array[Int] = (0 to 11).toArray
  private[graft] val jAcBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private[graft] val jAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** AC Huffman table for the PROGRESSIVE encoder (r19): the Annex K
    * sequential AC table cannot code EOBn runs — symbols (n<<4)|0 for
    * n ≥ 1 simply do not exist in it (sequential never emits them),
    * and its Kraft sum leaves exactly one 16-bit slot free, so they
    * cannot be added. Progressive streams ship their own tables; this
    * one is deliberately trivial — every symbol the spectral-
    * selection and refinement coders can emit (run 0..15 × size
    * 0..10 = 176 symbols: EOB/EOBn at s=0 r≤14, ZRL = 0xF0, and ALL
    * run/size pairs INCLUDING r=15 — a 15-zero run before a value is
    * legal and the sequential Annex K table ends with exactly those
    * 0xF1..0xFA codes; omitting them made the encoder emit ZERO bits
    * for such a symbol and desync, the round-19 lesson) at code
    * length 8. Kraft 176/256 < 1: feasible, canonical, decodes
    * through the same §F.2.2.3 machinery as any DHT. Compression is
    * not the point of a fixture container; correctness of the EOBn
    * path is. */
  private[graft] val jAcProgVals: Array[Int] =
    (0 to 15).flatMap(r => (0 to 10).map(s => (r << 4) | s)).toArray
  private[graft] val jAcProgBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, jAcProgVals.length, 0, 0, 0, 0, 0, 0,
      0, 0)

  /** Canonical Huffman table in the DHT (BITS, HUFFVAL) form — the
    * §C.2 code generator plus the §F.2.2.3 MINCODE/MAXCODE/VALPTR
    * decode arrays and a symbol→(code,len) encode map. Arrays are
    * indexed by code LENGTH 1..16. */
  private[graft] final class JpegHuff(
      val minCode: Array[Int], val maxCode: Array[Int],
      val valPtr: Array[Int], val vals: Array[Int],
      val encLen: Array[Int], val encCode: Array[Int])

  /** Build a [[JpegHuff]]; None when the (BITS, HUFFVAL) spec is
    * infeasible — more codes at a length than a prefix code admits
    * (Kraft overflow), a repeated symbol, or a BITS/HUFFVAL length
    * mismatch. The decoder maps None to `bad_huffman`. */
  private[graft] def buildHuff(bits: Array[Int],
      vals: Array[Int]): Option[JpegHuff] = {
    val minCode = new Array[Int](17); val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    java.util.Arrays.fill(maxCode, -1)
    val encLen = new Array[Int](256); val encCode = new Array[Int](256)
    var code = 0; var k = 0
    var l = 1
    while (l <= 16) {
      valPtr(l) = k; minCode(l) = code
      val n = bits(l - 1)
      if (k + n > vals.length) return None
      var j = 0
      while (j < n) {
        if (code >= (1 << l)) return None // Kraft overflow
        val sym = vals(k)
        if (sym < 0 || sym > 255 || encLen(sym) != 0) return None
        encLen(sym) = l; encCode(sym) = code
        code += 1; j += 1; k += 1
      }
      if (n > 0) maxCode(l) = code - 1
      code <<= 1
      l += 1
    }
    if (k != vals.length) None
    else Some(new JpegHuff(minCode, maxCode, valPtr, vals,
      encLen, encCode))
  }

  /** MSB-first bit writer with §F.1.2.3 byte stuffing (0xFF → 0xFF
    * 0x00) and 1-padding on flush. */
  private final class JBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1); nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00)
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nbits > 0) {
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.write(acc)
      if (acc == 0xff) out.write(0x00)
      acc = 0; nbits = 0
    }
    /** The Huffman code of `sym` in table `t`. */
    def putSym(t: JpegHuff, sym: Int): Unit =
      put(t.encCode(sym), t.encLen(sym))
    /** The `t` additional bits of `v` (§F.1.2.1: negatives as
      * v + 2ᵗ − 1); nothing when t = 0. */
    def putVal(v: Int, t: Int): Unit =
      if (t > 0) put(if (v >= 0) v else v + (1 << t) - 1, t)
  }

  /** DC/AC magnitude category (T.81 Table F.1): bits needed for |v|;
    * category(0) = 0. */
  private def jCategory(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** MSB-first entropy-segment bit reader (§F.2.2.5 NEXTBIT): byte
    * unstuffing (0xFF 0x00 → 0xFF), any other marker mid-entropy →
    * `truncated`, Huffman decode via MINCODE/MAXCODE, the §F.2.2.1
    * EXTEND sign extension, and the RSTm check. One instance per
    * scan, `p` resuming the marker walk when the scan's blocks are
    * exhausted. */
  private final class JpegBitReader(b: Array[Byte], var p: Int) {
    var acc = 0; var nb = 0
    var err: String = null
    private var rst = 0
    def nextBit(): Int = {
      if (nb == 0) {
        if (p >= b.length) { err = "truncated"; return -1 }
        val v = b(p) & 0xff; p += 1
        if (v == 0xff) {
          if (p >= b.length) { err = "truncated"; return -1 }
          if ((b(p) & 0xff) == 0x00) p += 1 // §F.1.2.3 stuffed byte
          else { err = "truncated"; return -1 } // marker mid-entropy
        }
        acc = v; nb = 8
      }
      nb -= 1
      (acc >>> nb) & 1
    }
    def decodeSym(t: JpegHuff): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        val bit = nextBit(); if (bit < 0) return -1
        code = (code << 1) | bit; l += 1
        if (t.maxCode(l) >= 0 && code >= t.minCode(l) &&
          code <= t.maxCode(l))
          return t.vals(t.valPtr(l) + (code - t.minCode(l)))
      }
      err = "bad_huffman"; -1
    }
    def receiveExtend(t: Int): Int = {
      val v = receive(t)
      if (t > 0 && v < (1 << (t - 1))) v - (1 << t) + 1 else v
    }
    /** Raw `t`-bit receive WITHOUT sign extension (EOBn run length
      * extension bits, §G.1.2.2). */
    def receive(t: Int): Int = {
      var v = 0; var i = 0
      while (i < t) {
        val bit = nextBit(); if (bit < 0) return 0
        v = (v << 1) | bit; i += 1
      }
      v
    }
    /** §F.2.2.5 restart: drop the pad bits, then expect RSTm with m
      * cycling 0..7 — `truncated` when the stream ends first,
      * `bad_huffman` when anything else stands there. */
    def restart(): Boolean = {
      nb = 0
      if (p + 1 >= b.length) err = "truncated"
      else if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xff) != 0xd0 + rst)
        err = "bad_huffman"
      else { p += 2; rst = (rst + 1) % 8 }
      err == null
    }
  }

  /** T.81 §A.2 block geometry of a `w`×`h` frame whose components
    * sample at `hs`×`vs`: the MCU grid and, per component, its TRUE
    * block grid (what a scan of that component alone walks), stored
    * raster over the MCU-padded grid `padW(c)` blocks wide. A lone
    * component samples 1×1 whatever the SOF says: its MCU is one
    * block (§A.2.2). */
  private final class JpegGeom(w: Int, h: Int, hs: Array[Int],
      vs: Array[Int]) {
    val ch: Array[Int] = if (hs.length == 1) Array(1) else hs
    val cv: Array[Int] = if (vs.length == 1) Array(1) else vs
    private val hmax = ch.max; private val vmax = cv.max
    val mcuX: Int = (w + 8 * hmax - 1) / (8 * hmax)
    val mcuY: Int = (h + 8 * vmax - 1) / (8 * vmax)
    def padW(c: Int): Int = mcuX * ch(c)
    def padH(c: Int): Int = mcuY * cv(c)
    def trueW(c: Int): Int = ((w * ch(c) + hmax - 1) / hmax + 7) / 8
    def trueH(c: Int): Int = ((h * cv(c) + vmax - 1) / vmax + 7) / 8
  }

  /** One scan's block order (the encoder's and the decoder's): a lone
    * component raster over its true grid (§A.2.2), several
    * interleaved per MCU, h×v blocks each in raster order (§A.2.3).
    * `block(c, blk)` gets the block's index in component c's padded
    * grid; `restart()` runs before every `ri`-th unit (block or MCU).
    * Stops at the first false either returns. */
  private def walkScan(g: JpegGeom, cs: Array[Int], ri: Int)(
      restart: () => Boolean)(block: (Int, Int) => Boolean): Unit = {
    val lone = cs.length == 1
    val tw = g.trueW(cs(0))
    val units = if (lone) tw * g.trueH(cs(0)) else g.mcuX * g.mcuY
    var ok = true; var i = 0
    while (ok && i < units) {
      if (ri > 0 && i > 0 && i % ri == 0) ok = restart()
      if (ok && lone) ok = block(cs(0), (i / tw) * g.padW(cs(0)) + i % tw)
      else if (ok) {
        val mx = i % g.mcuX; val my = i / g.mcuX
        for (c <- cs; v2 <- 0 until g.cv(c); h2 <- 0 until g.ch(c))
          if (ok) ok = block(c,
            (my * g.cv(c) + v2) * g.padW(c) + mx * g.ch(c) + h2)
      }
      i += 1
    }
  }

  /** One frame component of the coefficient encoders: sampling
    * `h`×`v` (1..4), quant table `tq`, and `coeff(blk, u, v)`, the
    * QUANTIZED coefficient of block `blk` raster over the component's
    * MCU-padded block grid (`mcuX·h` blocks wide), u horizontal. DC
    * spans T.81's 8-bit [-1024, 1016] — an all-black pixel encode
    * quantizes DC to exactly -1024 (ADVICE r18) — and ACs the 10-bit
    * ±1023 the Annex K tables code. */
  final case class JpegComp(h: Int, v: Int, tq: Int,
      coeff: (Int, Int, Int) => Int)

  /** A frame for the coefficient encoders: DQT tables `quants`
    * (`quant(u, v)` ∈ [1, 255], natural order, table id = position)
    * and `comps` in SOF order (component id = position + 1). */
  final case class JpegFrame(quants: Seq[(Int, Int) => Int],
      comps: Seq[JpegComp]) {
    require(comps.nonEmpty && comps.length <= 4, "JPEG: 1..4 components")
    require(comps.forall(c => c.h >= 1 && c.h <= 4 && c.v >= 1 &&
      c.v <= 4 && quants.indices.contains(c.tq)),
      "JPEG: sampling must be 1..4 and tq a table index")

    /** Zigzag coefficient `k` of block `blk` of component `c`. */
    private[Multimodal] def z(c: Int, blk: Int, k: Int): Int = {
      val n = zigzag(k)
      val v = comps(c).coeff(blk, n % 8, n / 8)
      if (k == 0) require(v >= -1024 && v <= 1016,
        s"JPEG: DC $v outside [-1024, 1016]")
      else require(v >= -1023 && v <= 1023,
        s"JPEG: coeff $v outside the 10-bit range")
      v
    }
  }

  object JpegFrame {
    /** One greyscale component, `coeff` raster over the
      * ceil(w/8)×ceil(h/8) grid. */
    def gray(quant: (Int, Int) => Int,
        coeff: (Int, Int, Int) => Int): JpegFrame =
      JpegFrame(Seq(quant), Seq(JpegComp(1, 1, 0, coeff)))

    /** YCbCr: luma at `hy`×`vy` (2×2 is 4:2:0, 2×1 4:2:2, 1×1 4:4:4)
      * on table 0, both chroma 1×1 on table 1; `coeffC(comp, mcu, u,
      * v)` with comp ∈ {1, 2} indexes chroma blocks by MCU. */
    def ycc(hy: Int, vy: Int, quantY: (Int, Int) => Int,
        quantC: (Int, Int) => Int, coeffY: (Int, Int, Int) => Int,
        coeffC: (Int, Int, Int, Int) => Int): JpegFrame =
      JpegFrame(Seq(quantY, quantC), JpegComp(hy, vy, 0, coeffY) +:
        Seq(1, 2).map(c =>
          JpegComp(1, 1, 1, (m: Int, u: Int, v: Int) => coeffC(c, m, u, v))))
  }

  private lazy val jDcHuff = buildHuff(jDcBits, jDcVals).get
  private lazy val jAcHuff = buildHuff(jAcBits, jAcVals).get
  private lazy val jAcProgHuff = buildHuff(jAcProgBits, jAcProgVals).get

  /** The JPEG frame writer: SOI on construction, one method per
    * marker segment, entropy-coded scans, EOI in `bytes`. */
  private final class JpegWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private val bits = new JBitWriter(out)
    marker(0xd8)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, body: Seq[Int]): Unit = {
      marker(m); val len = body.length + 2
      out.write((len >>> 8) & 0xff); out.write(len & 0xff)
      body.foreach(v => out.write(v & 0xff))
    }
    def dqt(tq: Int, quant: (Int, Int) => Int): Unit =
      seg(0xdb, tq +: Seq.tabulate(64) { k =>
        val n = zigzag(k); val qv = quant(n % 8, n / 8)
        require(qv >= 1 && qv <= 255,
          s"JPEG: quant $qv outside 8-bit DQT range")
        qv
      })
    /** SOFn; `comps` are (sampling byte, quant table) in id order. */
    def sof(m: Int, precision: Int, width: Int, height: Int,
        comps: Seq[(Int, Int)]): Unit =
      seg(m, Seq(precision, (height >>> 8) & 0xff, height & 0xff,
        (width >>> 8) & 0xff, width & 0xff, comps.length) ++
        comps.zipWithIndex.flatMap { case ((hv, tq), i) =>
          Seq(i + 1, hv, tq) })
    def dht(tcth: Int, counts: Array[Int], vals: Array[Int]): Unit =
      seg(0xc4, tcth +: (counts.toSeq ++ vals))
    def dri(ri: Int): Unit = seg(0xdd, Seq((ri >>> 8) & 0xff, ri & 0xff))
    /** SOS over components `cs` (frame indices, all on tables 0/0),
      * band Ss..Se, approximation byte `ahal`, then the blocks in
      * [[walkScan]] order through `coder`, RSTm every `ri` units. */
    def scan(g: JpegGeom, ri: Int, cs: Array[Int], ss: Int, se: Int,
        ahal: Int, coder: ScanCoder): Unit = {
      seg(0xda, (cs.length +: cs.toSeq.flatMap(c => Seq(c + 1, 0x00))) ++
        Seq(ss, se, ahal))
      var rst = 0
      walkScan(g, cs, ri) { () =>
        coder.end(bits); bits.flush()
        marker(0xd0 + rst); rst = (rst + 1) % 8
        true
      } { (c, blk) => coder.block(bits, c, blk); true }
      coder.end(bits); bits.flush()
    }
    def bytes: Array[Byte] = { marker(0xd9); out.toByteArray }
  }

  /** One scan kind's entropy coder: `block` codes a block, `end`
    * closes a restart interval or the scan (a pending EOB run, the DC
    * predictors). */
  private trait ScanCoder {
    def block(bw: JBitWriter, c: Int, blk: Int): Unit
    def end(bw: JBitWriter): Unit
  }

  /** §F.1.2 sequential block coder: per-component DC difference, AC
    * run/size with ZRL and EOB. */
  private final class SeqCoder(f: JpegFrame) extends ScanCoder {
    private val preds = new Array[Int](f.comps.length)
    def block(bw: JBitWriter, c: Int, blk: Int): Unit = {
      val z = Array.tabulate(64)(k => f.z(c, blk, k))
      val diff = z(0) - preds(c); preds(c) = z(0)
      val t = jCategory(diff)
      bw.putSym(jDcHuff, t); bw.putVal(diff, t)
      var k = 1
      while (k < 64) {
        if (z(k) == 0) {
          var e = k
          while (e < 64 && z(e) == 0) e += 1
          if (e == 64) { bw.putSym(jAcHuff, 0x00); k = 64 } // EOB
          else {
            var run = e - k
            while (run > 15) { bw.putSym(jAcHuff, 0xf0); run -= 16 } // ZRL
            val s = jCategory(z(e))
            bw.putSym(jAcHuff, (run << 4) | s); bw.putVal(z(e), s)
            k = e + 1
          }
        } else {
          val s = jCategory(z(k))
          bw.putSym(jAcHuff, s); bw.putVal(z(k), s)
          k += 1
        }
      }
    }
    def end(bw: JBitWriter): Unit = java.util.Arrays.fill(preds, 0)
  }

  /** §G.1.2.1 DC scan. First (ah = 0): the difference of the point-
    * transformed values — an ARITHMETIC shift, so the refinement bit
    * rebuilds negatives exactly via the decoder's two's-complement
    * OR. Refinement: bit `al` raw. */
  private final class DcCoder(f: JpegFrame, ah: Int, al: Int)
      extends ScanCoder {
    private val preds = new Array[Int](f.comps.length)
    def block(bw: JBitWriter, c: Int, blk: Int): Unit = {
      val v0 = f.z(c, blk, 0)
      if (ah == 0) {
        val v = v0 >> al
        val diff = v - preds(c); preds(c) = v
        val t = jCategory(diff)
        bw.putSym(jDcHuff, t); bw.putVal(diff, t)
      } else bw.put((v0 >> al) & 1, 1)
    }
    def end(bw: JBitWriter): Unit = java.util.Arrays.fill(preds, 0)
  }

  /** An AC band scan's pending EOB run (§G.1.2.2): consecutive blocks
    * with nothing left to code collapse into one EOBn symbol. */
  private abstract class AcCoder extends ScanCoder {
    protected var eobrun = 0
    protected def flushEob(bw: JBitWriter): Unit = if (eobrun > 0) {
      val n = 31 - Integer.numberOfLeadingZeros(eobrun)
      bw.putSym(jAcProgHuff, n << 4); bw.putVal(eobrun - (1 << n), n)
      eobrun = 0
    }
  }

  /** AC first scan of band Ss..Se at point transform sign·(|v|>>Al):
    * EOBn runs (≤ 32767) across all-zero blocks, ZRL inside blocks. */
  private final class AcFirstCoder(f: JpegFrame, ss: Int, se: Int,
      al: Int) extends AcCoder {
    def block(bw: JBitWriter, c: Int, blk: Int): Unit = {
      val z = Array.tabulate(se - ss + 1) { i =>
        val v = f.z(c, blk, ss + i)
        if (v >= 0) v >> al else -((-v) >> al)
      }
      if (z.forall(_ == 0)) {
        eobrun += 1
        if (eobrun == 32767) flushEob(bw) // §G.1.2.2 run cap
      } else {
        flushEob(bw)
        var k = 0
        while (k < z.length) {
          var e = k
          while (e < z.length && z(e) == 0) e += 1
          if (e == z.length) { eobrun = 1; k = z.length }
          else {
            var run = e - k
            while (run > 15) { bw.putSym(jAcProgHuff, 0xf0); run -= 16 }
            val s = jCategory(z(e))
            bw.putSym(jAcProgHuff, (run << 4) | s); bw.putVal(z(e), s)
            k = e + 1
          }
        }
      }
    }
    def end(bw: JBitWriter): Unit = flushEob(bw)
  }

  /** AC refinement scan of band Ss..Se for bit plane `a` (§G.1.2.3):
    * newly significant coefficients as run/1 plus a sign bit, one
    * correction bit per coefficient with history. */
  private final class AcRefineCoder(f: JpegFrame, ss: Int, se: Int,
      a: Int) extends AcCoder {
    // TWO correction-bit buffers (the §G.1.2.3 emission order the
    // decoder's advance loop implies): `beBits` ride with the pending
    // EOB run and are emitted right after its EOBn symbol; `brBits`
    // are the CURRENT block's corrections and follow the next
    // new-significant symbol's sign bit (or roll into the run if the
    // block ends without one)
    private val beBits = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val brBits = scala.collection.mutable.ArrayBuffer.empty[Int]
    private def emitEobrun(bw: JBitWriter): Unit = {
      flushEob(bw)
      beBits.foreach(bit => bw.put(bit, 1))
      beBits.clear()
    }
    private def emitBr(bw: JBitWriter): Unit = {
      brBits.foreach(bit => bw.put(bit, 1))
      brBits.clear()
    }
    def block(bw: JBitWriter, c: Int, blk: Int): Unit = {
      val vs = Array.tabulate(se - ss + 1)(i => f.z(c, blk, ss + i))
      val absv = vs.map(v => (if (v < 0) -v else v) >> a)
      // last newly-significant position: zeros beyond it fold into the
      // EOB run instead of ZRLs
      val eobPos = absv.lastIndexWhere(_ == 1)
      var r = 0
      var i = 0
      while (i < absv.length) {
        val t = absv(i)
        if (t == 0) r += 1
        else {
          // the ZRL flush runs at EVERY nonzero position — before the
          // correction-buffer branch — so the buffered bits stay a
          // positional PREFIX of what the decoder's next advance
          // consumes (emitting it only at new-significant positions
          // would desync corrections across ZRLs)
          while (r > 15 && i <= eobPos) {
            emitEobrun(bw)
            bw.putSym(jAcProgHuff, 0xf0); r -= 16
            emitBr(bw)
          }
          if (t > 1) brBits += (t & 1) // correction bit
          else { // newly significant (this scan's bit is its MSB)
            emitEobrun(bw)
            bw.putSym(jAcProgHuff, (r << 4) | 1)
            bw.put(if (vs(i) >= 0) 1 else 0, 1) // sign bit
            emitBr(bw)
            r = 0
          }
        }
        i += 1
      }
      if (r > 0 || brBits.nonEmpty) {
        eobrun += 1
        beBits ++= brBits; brBits.clear()
        // run cap (§G.1.2.2) and the libjpeg-style buffered-bit cap, so
        // neither state grows unbounded
        if (eobrun == 32767 || beBits.length > 937) emitEobrun(bw)
      }
    }
    def end(bw: JBitWriter): Unit = emitEobrun(bw)
  }

  /** SOI, the DQTs, SOF `sof`, the Annex K DC table and `ac`, and DRI
    * when `ri` > 0 — the head both coefficient encoders share. */
  private def jpegHead(sof: Int, width: Int, height: Int, f: JpegFrame,
      acBits: Array[Int], acVals: Array[Int], ri: Int): JpegWriter = {
    require(width > 0 && width <= 0xffff && height > 0 &&
      height <= 0xffff, "JPEG: dims must be 1..65535")
    val jw = new JpegWriter
    f.quants.zipWithIndex.foreach { case (q, tq) => jw.dqt(tq, q) }
    jw.sof(sof, 8, width, height, f.comps.map(c => ((c.h << 4) | c.v, c.tq)))
    jw.dht(0x00, jDcBits, jDcVals)
    jw.dht(0x10, acBits, acVals)
    if (ri > 0) jw.dri(ri)
    jw
  }

  private def geomOf(width: Int, height: Int, f: JpegFrame): JpegGeom =
    new JpegGeom(width, height, f.comps.map(_.h).toArray,
      f.comps.map(_.v).toArray)

  /** COMPLETE baseline JPEG encoder from QUANTIZED COEFFICIENTS: SOI +
    * DQTs + SOF0 (precision 8) + DHT (the Annex K.3 typical pair,
    * shared by every component) + optional DRI + ONE SOS over every
    * component + a real entropy-coded segment (DC difference coding,
    * AC run/size with ZRL and EOB, byte stuffing, RSTm every
    * `restartInterval` MCUs with every predictor reset) + EOI. A
    * greyscale frame's scan walks its block grid; a color frame's
    * interleaves per MCU h·v luma blocks (raster within the MCU)
    * then one Cb and one Cr block. The fixture source for the
    * q337-family gates: the generator controls the coefficients, so
    * the oracle re-derives every decoded pixel arithmetically without
    * parsing a byte; q346's luma, at full resolution, must decode to
    * EXACTLY the pixels its coefficients define whatever chroma the
    * decoder walks past. */
  def encodeJpegCoeffs(width: Int, height: Int, frame: JpegFrame,
      restartInterval: Int = 0): Array[Byte] = {
    val jw = jpegHead(0xc0, width, height, frame, jAcBits, jAcVals,
      restartInterval)
    jw.scan(geomOf(width, height, frame), restartInterval,
      frame.comps.indices.toArray, 0, 63, 0, new SeqCoder(frame))
    jw.bytes
  }

  /** PROGRESSIVE (SOF2) encoder from quantized coefficients (r19): the
    * frame of [[encodeJpegCoeffs]] with the [[jAcProgBits]] AC table
    * (progressive AC coding needs EOBn symbols the Annex K table
    * cannot hold), entropy data as a scan script — ONE DC scan over
    * every component (interleaved when there are several, the only
    * legal interleaved form, §G.1), then one AC scan per band: the
    * first component's `bands` (1 ≤ Ss ≤ Se ≤ 63, §G.1.1.1.1), every
    * other component one 1..63 band — at point transform
    * `approxLow`, then `approxLow` bit-plane refinement passes over
    * the same script (Ah = a + 1 → Al = a). AC scans code real
    * §G.1.2.2 EOBn runs; RSTm resync per scan (DRI counts MCUs in the
    * DC scan of a color frame, blocks elsewhere). Bands need not cover
    * 1..63 (uncovered coefficients decode as zero — progressive's
    * defining property); the q359 fixture covers fully so the decode
    * pins bit-for-bit to the sequential container of the SAME
    * coefficients. */
  def encodeJpegProgressiveCoeffs(width: Int, height: Int,
      frame: JpegFrame, restartInterval: Int = 0,
      bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
      approxLow: Int = 0): Array[Byte] = {
    require(bands.forall { case (ss, se) =>
      ss >= 1 && se >= ss && se <= 63 },
      "encodeJpegProgressiveCoeffs: bands must satisfy 1<=Ss<=Se<=63")
    require(approxLow >= 0 && approxLow <= 10,
      "encodeJpegProgressiveCoeffs: approxLow must be 0..10")
    val jw = jpegHead(0xc2, width, height, frame, jAcProgBits,
      jAcProgVals, restartInterval)
    val g = geomOf(width, height, frame)
    val script = bands.map((0, _)) ++
      (1 until frame.comps.length).map((_, (1, 63)))
    def pass(ah: Int, al: Int): Unit = {
      jw.scan(g, restartInterval, frame.comps.indices.toArray, 0, 0,
        (ah << 4) | al, new DcCoder(frame, ah, al))
      for ((c, (ss, se)) <- script)
        jw.scan(g, restartInterval, Array(c), ss, se, (ah << 4) | al,
          if (ah == 0) new AcFirstCoder(frame, ss, se, al)
          else new AcRefineCoder(frame, ss, se, al))
    }
    pass(0, approxLow)
    for (a <- approxLow - 1 to 0 by -1) pass(a + 1, a)
    jw.bytes
  }

  /** REAL lossy pixel-path encode: level shift, exact fixed-point
    * forward DCT over the same [[acMicro8]] table (two-stage int64
    * sums, no intermediate rounding), round-half-up quantization in
    * ONE division (denominator 4·10¹²·q, the nonnegative-offset floor
    * so any engine's integer division agrees), then
    * [[encodeJpegCoeffs]]. Partial edge blocks pad by edge
    * replication (the standard MCU completion rule). */
  def encodeJpegGrayPixels(width: Int, height: Int,
      pixel: (Int, Int) => Int, quant: (Int, Int) => Int,
      restartInterval: Int = 0): Array[Byte] = {
    val bxN = (width + 7) / 8; val byN = (height + 7) / 8
    val coeffs = Array.ofDim[Int](bxN * byN, 64)
    for (by <- 0 until byN; bx <- 0 until bxN) {
      val pm = Array.ofDim[Int](8, 8)
      for (y <- 0 until 8; x <- 0 until 8) {
        val sx = math.min(bx * 8 + x, width - 1)
        val sy = math.min(by * 8 + y, height - 1)
        pm(y)(x) = (pixel(sx, sy) & 0xff) - 128
      }
      // stage 1: tm(u,y) = Σ_x p(y,x)·ac(u,x)   (|tm| ≤ 8·128·10⁶)
      val tm = Array.ofDim[Long](8, 8)
      for (u <- 0 until 8; y <- 0 until 8) {
        var s = 0L; var x = 0
        while (x < 8) { s += pm(y)(x) * acMicro8(u)(x); x += 1 }
        tm(u)(y) = s
      }
      val blkIdx = by * bxN + bx
      for (v <- 0 until 8; u <- 0 until 8) {
        var s = 0L; var y = 0
        while (y < 8) { s += tm(u)(y) * acMicro8(v)(y); y += 1 }
        // quantized = round-half-up(s / (4·10¹²·q)); |s| ≤ 8.2·10¹⁵
        // and den·1024 ≤ 1.05·10¹⁸ keep the shifted numerator inside
        // int64 AND non-negative, so / truncation IS the floor
        val den = 4000000000000L * quant(u, v)
        // ideal DC spans exactly [-1024, 1016]; the micro table's
        // ~1e-6 relative error could nudge the rounded value one past
        // either end, so clamp the DC slot to the encodable range
        // (ADVICE r18 — ACs stay within ±1023 by the same argument)
        val qv = ((s + den / 2 + den * 1024L) / den - 1024L).toInt
        coeffs(blkIdx)(v * 8 + u) =
          if (u == 0 && v == 0) math.max(-1024, math.min(1016, qv))
          else qv
      }
    }
    encodeJpegCoeffs(width, height,
      JpegFrame.gray(quant, (blk, u, v) => coeffs(blk)(v * 8 + u)),
      restartInterval)
  }

  /** Exact integer 8×8 IDCT over DEQUANTIZED coefficients in natural
    * order (index v·8+u, |F| ≤ 2048 by the decoder's clamp): stage 1
    * g(v,x) = Σ_u F(v,u)·ac(u,x) ≤ 8·2048·10⁶; stage 2 s(x,y) =
    * Σ_v ac(v,y)·g(v,x) ≤ 1.4·10¹⁷ — then ONE round-half-up by
    * 4·10¹² via the nonnegative offset (s + den/2 + 1024·den ≥ 0, so
    * floor ≡ `/` truncation in the JVM and `//` in DuckDB), +128
    * level shift, clamp to [0,255]. No intermediate rounding
    * anywhere, so integer addition order is free and the oracle's
    * GROUP BY sums replay it exactly. */
  private[graft] def idctBlock8Micro(f: Array[Long]): Array[Int] = {
    val g = Array.ofDim[Long](8, 8)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0L; var u = 0
        while (u < 8) { s += f(v * 8 + u) * acMicro8(u)(x); u += 1 }
        g(v)(x) = s; x += 1
      }
      v += 1
    }
    val out = new Array[Int](64)
    val den = 4000000000000L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0L; var vv = 0
        while (vv < 8) { s += acMicro8(vv)(y) * g(vv)(x); vv += 1 }
        val pix = (s + den / 2 + den * 1024L) / den - 1024L + 128L
        out(y * 8 + x) = math.max(0L, math.min(255L, pix)).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  /** Full baseline JPEG pixel decode to the LUMA plane (T.81 §E
    * marker walk + §F.2.2 entropy decode): DQT (Pq 0 and 1), DHT
    * (canonical build with feasibility checks), SOF0 with 1–4
    * components — single-component scans decode non-interleaved;
    * multi-component scans (color: 4:4:4, 4:2:2, 4:2:0, any Hi/Vi ≤
    * 4 with full-resolution luma) walk interleaved MCUs, decoding
    * every component's entropy data and keeping component 0 (luma —
    * exactly the greyscale signal the perceptual tier hashes; the
    * chroma planes and the YCbCr→RGB conversion are deliberately out
    * of scope, documented). DRI/RSTm restart handling (per MCU,
    * all predictors reset), byte unstuffing, dequantization with the
    * documented ±2048 clamp (the 8-bit-precision DCT range — a
    * crafted stream cannot push the IDCT sums past int64), exact
    * integer IDCT, +128 level shift, [0,255] clamp, crop from the
    * MCU grid to the declared dims. Dead-letter reasons extend the
    * header tier's: `truncated` (stream ends inside a promised
    * structure, EOI before scan data, or a stray marker inside the
    * entropy segment), `bad_magic`, `bad_header` (spec-invalid or
    * internally inconsistent segments, undefined tables at SOS, scan
    * components out of SOF order, invalid progressive scan scripts —
    * Ss/Se outside §G.1.1.1.1, a refinement chain that skips a bit
    * plane, AC before DC), `unsupported` (valid JPEG outside this
    * tier: extended / arithmetic SOFs, 12-bit precision, > 4
    * components, sequential multi-scan files, downsampled luma,
    * > 64M pixels, PARTIAL-interleave progressive scans (1 < Ns <
    * Nf), progressive over 2²² pixels — the buffered-coefficient
    * bound), `bad_huffman`
    * (infeasible DHT, a 16-bit prefix
    * matching no code, coefficient index overflow, or a
    * missing/misnumbered restart marker). Every declared size is
    * bounds-checked before any advance (the ADVICE r16 rule). */
  def decodeJpegGray(
      b: Array[Byte]): Either[String, (Int, Int, Array[Int])] = {
    if (b.length < 2) return Left("truncated")
    if (u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return Left("bad_magic")
    val quantT = new Array[Array[Int]](4)
    val dcT = new Array[JpegHuff](4); val acT = new Array[JpegHuff](4)
    var w = 0; var h = 0
    // per-component frame parameters (r18 color extension): SOF order;
    // component 0 is the luma plane this tier decodes
    var compId: Array[Int] = null; var compH: Array[Int] = null
    var compV: Array[Int] = null; var compTq: Array[Int] = null
    var dcIds: Array[Int] = null; var acIds: Array[Int] = null
    var dri = 0; var sawSof = false
    var geo: JpegGeom = null
    // progressive (SOF2) state, r19: scans accumulate quantized
    // coefficients in zigzag order into zAll until EOI
    var progressive = false
    var progScans = 0; var progDcDone = false
    var zAll: Array[Array[Int]] = null
    var progPos = -1; var progEoi = false
    var pos = 2; var sosPos = -1
    while (sosPos < 0 && !progEoi) {
      if (pos + 1 >= b.length) return Left("truncated")
      if (u8(b, pos) != 0xff) return Left("bad_header")
      // consume the §B.1.1.2 fill-byte run, as the header tier does
      var mp = pos + 1
      while (mp < b.length && u8(b, mp) == 0xff) mp += 1
      if (mp >= b.length) return Left("truncated")
      val m = u8(b, mp)
      if (m == 0xd9) {
        // EOI: ends a progressive stream that delivered at least its
        // DC scan; before any scan it means a truncated file
        if (progressive && progScans > 0 && progDcDone) progEoi = true
        else return Left("truncated")
      }
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) pos = mp + 1
      else {
        if (mp + 3 > b.length) return Left("truncated")
        val len = be16(b, mp + 1)
        if (len < 2) return Left("bad_header")
        if (mp + 1 + len > b.length) return Left("truncated")
        val body = mp + 3; val end = mp + 1 + len
        m match {
          case 0xdb => // DQT: one or more tables per segment
            var p = body
            while (p < end) {
              val pq = u8(b, p) >> 4; val tq = u8(b, p) & 15
              if (tq > 3 || pq > 1) return Left("bad_header")
              val n = if (pq == 0) 64 else 128
              if (p + 1 + n > end) return Left("bad_header")
              val t = new Array[Int](64)
              for (k <- 0 until 64) {
                val v = if (pq == 0) u8(b, p + 1 + k)
                  else be16(b, p + 1 + 2 * k)
                if (v == 0) return Left("bad_header")
                t(zigzag(k)) = v // store in natural order
              }
              quantT(tq) = t
              p += 1 + n
            }
          case 0xc4 => // DHT: one or more tables per segment
            var p = body
            while (p < end) {
              if (p + 17 > end) return Left("bad_header")
              val tc = u8(b, p) >> 4; val th = u8(b, p) & 15
              if (tc > 1 || th > 3) return Left("bad_header")
              val bits = Array.tabulate(16)(i => u8(b, p + 1 + i))
              val n = bits.sum
              if (n > 256 || p + 17 + n > end) return Left("bad_header")
              val vals = Array.tabulate(n)(i => u8(b, p + 17 + i))
              buildHuff(bits, vals) match {
                case Some(t) => if (tc == 0) dcT(th) = t else acT(th) = t
                case None => return Left("bad_huffman")
              }
              p += 17 + n
            }
          case sof if sof == 0xc0 || sof == 0xc2 =>
            // SOF0 baseline sequential / SOF2 progressive (r19)
            if (sawSof) return Left("bad_header")
            if (end - body < 6) return Left("bad_header")
            val prec = u8(b, body)
            h = be16(b, body + 1); w = be16(b, body + 3)
            val nf = u8(b, body + 5)
            if (prec != 8) return Left("unsupported")
            if (nf < 1 || nf > 4) return Left("unsupported")
            if (w == 0 || h == 0) return Left("bad_header")
            if (end - body < 6 + 3 * nf) return Left("bad_header")
            compId = new Array[Int](nf); compH = new Array[Int](nf)
            compV = new Array[Int](nf); compTq = new Array[Int](nf)
            for (c <- 0 until nf) {
              val at = body + 6 + 3 * c
              compId(c) = u8(b, at)
              compH(c) = u8(b, at + 1) >> 4
              compV(c) = u8(b, at + 1) & 15
              compTq(c) = u8(b, at + 2)
              if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 ||
                compV(c) > 4 || compTq(c) > 3) return Left("bad_header")
            }
            if (w.toLong * h > 64L * 1024 * 1024)
              return Left("unsupported")
            geo = new JpegGeom(w, h, compH, compV)
            if (sof == 0xc2) {
              // progressive tier (r19; multi-component since the
              // color extension): luma must be full-resolution (the
              // sequential tier's contract) so its coefficient grid
              // carries the output; chroma scans are entropy-
              // consumed (interleaved DC) or marker-skipped
              // (non-interleaved — entropy data cannot contain a
              // bare FF, so the next scan is findable WITHOUT
              // decoding). Tighter pixel cap than sequential:
              // progressive must BUFFER every luma coefficient until
              // EOI (64 ints/block), so admission is 2²² pixels
              // ≈ 16 MB of buffer per row
              if (nf > 1) {
                val hm = compH.max; val vm = compV.max
                if (compH(0) != hm || compV(0) != vm)
                  return Left("unsupported")
              }
              if (w.toLong * h > (1L << 22)) return Left("unsupported")
              progressive = true
              // luma grid is MCU-PADDED (interleaved DC scans walk
              // full MCUs); non-interleaved scans cover the TRUE
              // ceil(w/8)×ceil(h/8) grid and map into it
              zAll = Array.ofDim[Int](geo.padW(0) * geo.padH(0), 64)
            }
            sawSof = true
          case mm if mm >= 0xc1 && mm <= 0xcf && mm != 0xc2 &&
              mm != 0xc4 && mm != 0xc8 && mm != 0xcc =>
            return Left("unsupported") // extended/arith/lossless
          case 0xdd =>
            if (end - body < 2) return Left("bad_header")
            dri = be16(b, body)
          case 0xda if !progressive =>
            if (!sawSof) return Left("bad_header")
            val nf = compId.length
            if (end - body < 1 + 2 * nf + 3) return Left("bad_header")
            // one scan carrying every frame component (a multi-scan
            // file — Ns < Nf — is valid JPEG outside this tier)
            if (u8(b, body) != nf) return Left("unsupported")
            dcIds = new Array[Int](nf); acIds = new Array[Int](nf)
            for (c <- 0 until nf) {
              // scan components must follow SOF order (T.81 B.2.3)
              if (u8(b, body + 1 + 2 * c) != compId(c))
                return Left("bad_header")
              dcIds(c) = u8(b, body + 2 + 2 * c) >> 4
              acIds(c) = u8(b, body + 2 + 2 * c) & 15
              if (dcIds(c) > 3 || acIds(c) > 3 ||
                dcT(dcIds(c)) == null || acT(acIds(c)) == null ||
                quantT(compTq(c)) == null) return Left("bad_header")
            }
            val tail = body + 1 + 2 * nf
            if (u8(b, tail) != 0 || u8(b, tail + 1) != 63 ||
              u8(b, tail + 2) != 0) return Left("unsupported")
            sosPos = end
          case 0xda => // progressive scan (r19, T.81 §G)
            val nf = compId.length
            if (end - body < 1) return Left("bad_header")
            val ns = u8(b, body)
            if (ns < 1 || ns > nf || end - body < 1 + 2 * ns + 3)
              return Left("bad_header")
            val tail = body + 1 + 2 * ns
            val ss = u8(b, tail); val se = u8(b, tail + 1)
            val ah = u8(b, tail + 2) >> 4; val al = u8(b, tail + 2) & 15
            // §G.1.1.1.1: a scan codes EITHER the DC coefficient
            // (Ss = Se = 0) or an AC band 1 ≤ Ss ≤ Se ≤ 63; the DC
            // scan must precede any AC scan of its component; a
            // refinement must step exactly one bit plane
            // (Ah = Al + 1, §G.1.1.1.2). A full-range Ss=0,Se=63
            // "sequential" scan inside an SOF2 frame is invalid —
            // bad_header, not unsupported.
            val refine = ah != 0
            val isDc = ss == 0 && se == 0
            if (!isDc && !(ss >= 1 && se >= ss && se <= 63))
              return Left("bad_header")
            if (al > 13 || (refine && ah != al + 1))
              return Left("bad_header")
            if (quantT(compTq(0)) == null) return Left("bad_header")
            val scanCi = new Array[Int](ns)
            val scanTd = new Array[Int](ns); val scanTa = new Array[Int](ns)
            for (i <- 0 until ns) {
              val ci = compId.indexOf(u8(b, body + 1 + 2 * i))
              if (ci < 0) return Left("bad_header")
              // scan components follow SOF order (T.81 B.2.3)
              if (i > 0 && ci <= scanCi(i - 1)) return Left("bad_header")
              scanCi(i) = ci
              scanTd(i) = u8(b, body + 2 + 2 * i) >> 4
              scanTa(i) = u8(b, body + 2 + 2 * i) & 15
            }
            // interleaved AC scans are illegal (§G.1); a PARTIAL
            // interleave (1 < Ns < Nf) would need per-subset MCU
            // geometry — valid JPEG outside this tier
            if (ns > 1 && !isDc) return Left("bad_header")
            if (ns > 1 && ns != nf) return Left("unsupported")
            val p1 = 1 << al; val m1 = -(1 << al)
            if (ns == 1 && scanCi(0) != 0) {
              // chroma-only scan: the output is the luma plane, and
              // entropy data cannot contain a bare 0xFF (§F.1.2.3
              // stuffing), so the next marker is findable WITHOUT
              // decoding — skip over data and RSTms byte-wise
              var q = end; var stop = false
              while (!stop) {
                if (q + 1 >= b.length) { q = b.length; stop = true }
                else if (u8(b, q) == 0xff) {
                  val n2 = u8(b, q + 1)
                  if (n2 == 0x00 || (n2 >= 0xd0 && n2 <= 0xd7)) q += 2
                  else stop = true
                } else q += 1
              }
              progScans += 1
              progPos = q
            } else {
              // the luma scan alone (blocks raster over its TRUE grid)
              // or the INTERLEAVED DC scan over every component (the
              // full MCU walk): both put scan index = component index,
              // luma coefficients land in zAll, chroma DCs are
              // entropy-consumed (first) or cost one raw bit
              // (refinement) to keep the stream in sync, then drop
              if (!isDc && !progDcDone) return Left("bad_header")
              if (isDc && !refine &&
                scanTd.exists(t => t > 3 || dcT(t) == null))
                return Left("bad_header")
              if (!isDc && (scanTa(0) > 3 || acT(scanTa(0)) == null))
                return Left("bad_header")
              val huff = if (isDc) null else acT(scanTa(0))
              val rd = new JpegBitReader(b, end)
              val preds = new Array[Int](ns)
              var eobrun = 0
              walkScan(geo, scanCi, dri) { () =>
                eobrun = 0
                rd.restart() && { java.util.Arrays.fill(preds, 0); true }
              } { (c, blk) =>
                val z = if (c == 0) zAll(blk) else null
                if (isDc && !refine) {
                  // DC first scan: diffs in the Al-shifted domain
                  val t = rd.decodeSym(dcT(scanTd(c)))
                  if (rd.err == null) {
                    if (t > 15) rd.err = "bad_huffman"
                    else {
                      preds(c) += rd.receiveExtend(t)
                      if (z != null) z(0) = preds(c) << al
                    }
                  }
                } else if (isDc) {
                  // DC refinement: one raw bit, OR'd into the two's-
                  // complement partial value (§G.1.2.1 — arithmetic
                  // shift on encode makes this exact for negatives)
                  val bit = rd.nextBit()
                  if (rd.err == null && bit == 1 && z != null) z(0) |= p1
                } else if (!refine) {
                  // AC first scan (§G.1.2.2): spectral selection with
                  // EOBn runs, values scaled by the point transform
                  if (eobrun > 0) eobrun -= 1
                  else {
                    var k = ss
                    while (k <= se && rd.err == null) {
                      val sym = rd.decodeSym(huff)
                      if (rd.err == null) {
                        val run = sym >> 4; val sv = sym & 15
                        if (sv == 0) {
                          if (run == 15) k += 16 // ZRL
                          else {
                            // EOBn: 2^run + `run` raw bits, THIS block
                            // included
                            eobrun = (1 << run) + rd.receive(run) - 1
                            k = 64
                          }
                        } else {
                          k += run
                          if (k > se) rd.err = "bad_huffman"
                          else { z(k) = rd.receiveExtend(sv) << al; k += 1 }
                        }
                      }
                    }
                  }
                } else {
                  // AC refinement (§G.1.2.3): newly-significant
                  // coefficients arrive as ±2^Al; every position with
                  // NONZERO history consumes a correction bit — runs
                  // and ZRL count only zero-history positions, and
                  // EOB-run blocks still pay their correction bits
                  var k = ss
                  if (eobrun == 0) {
                    var eobSet = false
                    while (k <= se && rd.err == null && !eobSet) {
                      val sym = rd.decodeSym(huff)
                      if (rd.err == null) {
                        var run = sym >> 4; val sv = sym & 15
                        var newVal = 0
                        if (sv != 0) {
                          if (sv != 1) rd.err = "bad_huffman"
                          else newVal = if (rd.nextBit() == 1) p1 else m1
                        } else if (run != 15) {
                          eobrun = (1 << run) + rd.receive(run)
                          eobSet = true // this block finishes below
                        }
                        if (rd.err == null && !eobSet) {
                          var done = false
                          while (k <= se && !done && rd.err == null) {
                            if (z(k) != 0) {
                              val bit = rd.nextBit()
                              if (rd.err == null && bit == 1 &&
                                (z(k) & p1) == 0)
                                z(k) += (if (z(k) >= 0) p1 else m1)
                            } else if (run == 0) {
                              if (sv != 0) z(k) = newVal
                              done = true
                            } else run -= 1
                            k += 1
                          }
                        }
                      }
                    }
                  }
                  if (eobrun > 0 && rd.err == null) {
                    while (k <= se && rd.err == null) {
                      if (z(k) != 0) {
                        val bit = rd.nextBit()
                        if (rd.err == null && bit == 1 && (z(k) & p1) == 0)
                          z(k) += (if (z(k) >= 0) p1 else m1)
                      }
                      k += 1
                    }
                    eobrun -= 1
                  }
                }
                rd.err == null
              }
              if (rd.err != null) return Left(rd.err)
              if (isDc && !refine) progDcDone = true
              progScans += 1
              progPos = rd.p
            }
          case _ => () // APPn / COM / others: length-skipped
        }
        if (sosPos < 0)
          pos = if (progPos >= 0) { val t = progPos; progPos = -1; t }
            else end
      }
    }
    // ---- progressive reconstruction (r19): EOI seen, coefficients
    // complete — exactly the sequential tier's per-block math over the
    // accumulated zigzag buffer, so a spectral-selection split of the
    // same quantized coefficients decodes to IDENTICAL pixels (the q359
    // cross-container pin) ----
    if (progEoi) {
      val px = new Array[Int](w * h)
      val qt = quantT(compTq(0))
      for (blk <- zAll.indices) blitBlock(zAll(blk), qt, blk, geo.padW(0),
        px, w, h)
      return Right((w, h, px))
    }
    // ---- entropy-coded segment ----
    // Nf=1 scans are NON-interleaved: MCU = one block, raster over the
    // image's own block grid, sampling factors ignored (T.81 F.2.1.2).
    // Multi-component scans interleave Hi×Vi blocks per MCU; this tier
    // requires the luma (FIRST) component at full resolution so the
    // output keeps the (w, h) contract — a downsampled-luma frame is
    // valid JPEG outside the tier.
    val nf = compId.length
    if (nf > 1 && (compH(0) != compH.max || compV(0) != compV.max))
      return Left("unsupported")
    val px = new Array[Int](w * h)
    val rd = new JpegBitReader(b, sosPos)
    val preds = new Array[Int](nf)
    // DC diff + AC run/size decode of one block of component c, in
    // zigzag order. Chroma blocks are decoded FULLY (the bit stream
    // must advance) and discarded; luma blocks land in the plane.
    walkScan(geo, Array.range(0, nf), dri) { () =>
      rd.restart() && { java.util.Arrays.fill(preds, 0); true }
    } { (c, blk) =>
      val z = new Array[Int](64)
      val t = rd.decodeSym(dcT(dcIds(c)))
      if (rd.err == null && t > 15) rd.err = "bad_huffman"
      if (rd.err == null) {
        preds(c) += rd.receiveExtend(t)
        z(0) = preds(c)
      }
      var k = 1
      while (k < 64 && rd.err == null) {
        val sym = rd.decodeSym(acT(acIds(c)))
        if (rd.err == null) {
          val run = sym >> 4; val s = sym & 15
          if (s == 0) {
            if (run == 15) k += 16 // ZRL
            else if (run == 0) k = 64 // EOB
            else rd.err = "bad_huffman"
          } else {
            k += run
            if (k > 63) rd.err = "bad_huffman"
            else { z(k) = rd.receiveExtend(s); k += 1 }
          }
        }
      }
      if (rd.err == null && c == 0)
        blitBlock(z, quantT(compTq(0)), blk, geo.padW(0), px, w, h)
      rd.err == null
    }
    if (rd.err != null) Left(rd.err) else Right((w, h, px))
  }

  /** Dequantize one block of zigzag coefficients (the documented ±2048
    * clamp), run the exact integer IDCT, and write its pixels at block
    * `blk` of a grid `gw` blocks wide into the `w`×`h` plane, cropping
    * what falls outside. */
  private def blitBlock(z: Array[Int], qt: Array[Int], blk: Int, gw: Int,
      px: Array[Int], w: Int, h: Int): Unit = {
    val f = new Array[Long](64)
    var k = 0
    while (k < 64) {
      val n = zigzag(k)
      f(n) = math.max(-2048L, math.min(2047L, z(k).toLong * qt(n)))
      k += 1
    }
    val px8 = idctBlock8Micro(f)
    val x0 = (blk % gw) * 8; val y0 = (blk / gw) * 8
    var y = 0
    while (y < 8 && y0 + y < h) {
      var x = 0
      while (x < 8 && x0 + x < w) {
        px((y0 + y) * w + x0 + x) = px8(y * 8 + x)
        x += 1
      }
      y += 1
    }
  }

  /** Format-dispatched greyscale pixel decode — the single entry the
    * perceptual tier consumes (r18, VERDICT r17 ask #1: the tier
    * accepts JPEG payloads wherever it accepted PNG): FF D8 →
    * [[decodeJpegGray]], everything else (PNG signature, truncation,
    * foreign magic) → [[decodePngGray]], whose prefix handling
    * already issues `truncated`/`bad_magic` for the non-PNG cases. */
  private[graft] def decodeImageGray(
      b: Array[Byte]): Either[String, (Int, Int, Array[Int])] =
    if (b.length >= 2 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8)
      decodeJpegGray(b)
    else decodePngGray(b)

  /** First SOFn marker of a JPEG stream (T.81 §B.1.1.4 walk —
    * standalone markers skipped, fill-byte runs consumed, segments
    * hopped by their length field), or None when no frame header is
    * reachable (truncated/corrupt before SOF, or not a JPEG). The
    * cheap classifier behind the q358 codec-investment stat: which
    * frame types (baseline C0, progressive C2, …) a corpus carries,
    * WITHOUT paying for entropy decode. */
  private[graft] def jpegSofMarker(b: Array[Byte]): Option[Int] = {
    if (b.length < 2 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var pos = 2
    while (true) {
      if (pos + 1 >= b.length) return None
      if (u8(b, pos) != 0xff) return None
      var mp = pos + 1
      while (mp < b.length && u8(b, mp) == 0xff) mp += 1
      if (mp >= b.length) return None
      val m = u8(b, mp)
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
        m != 0xcc) return Some(m)
      if (m == 0xd9 || m == 0xda) return None // EOI / scan: no frame
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) pos = mp + 1
      else {
        if (mp + 3 > b.length) return None
        val len = be16(b, mp + 1)
        if (len < 2 || mp + 1 + len > b.length) return None
        pos = mp + 1 + len
      }
    }
    None // unreachable
  }

  /** Frame-type share statistic over a media frame (r19, VERDICT r18
    * missing #5): per payload, the SOF marker (192 = baseline C0,
    * 194 = progressive C2, null = none reachable) and the decode
    * outcome ('ok' or the dead-letter reason), aggregated to
    * (sof_marker, status, n) — the number that says how much of a
    * corpus an unsupported frame type costs BEFORE anyone invests in
    * decoding it. One combinable groupBy over per-row
    * classification: scan-shaped, payloads never shuffle. */
  def imageSofShare(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val sof = jpegSofMarker(r.media)
          val status = decodeImageGray(r.media) match {
            case Right(_) => "ok"
            case Left(reason) => reason
          }
          (sof, status)
        }
      }
      .toDF("sof_marker", "status")
      .groupBy(col("sof_marker"), col("status"))
      .agg(count(lit(1)).as("n"))
  }

  // -------------------------------------------------------------------
  // Real audio header decode — RIFF/WAVE (the Microsoft/IBM WAVE spec,
  // canonical PCM layout: RIFF descriptor, `fmt ` chunk, `data` chunk).
  // Same move as the PNG/JPEG pair: a training pipeline's first audio
  // pass (sample rate / channels / duration for filtering and
  // batching) needs only the public container format, no codec.
  // -------------------------------------------------------------------

  /** Parsed header attributes of a PCM WAVE payload. `durationMicros`
    * is exact integer floor arithmetic (n_samples·1e6 div rate). */
  case class WavHeader(channels: Int, sampleRate: Int, bitsPerSample: Int,
      nSamples: Long, durationMicros: Long)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** WAVE header parse; Left(reason) is the dead-letter lane (same
    * reason vocabulary as [[parseImageHeader]]): `truncated`,
    * `bad_magic` (not a RIFF/WAVE stream), `bad_header` (fmt chunk
    * spec-invalid or internally inconsistent), `no_data` (stream ends
    * before any data chunk). Walks chunks in order (chunks are
    * word-aligned: odd sizes carry a pad byte) and requires `fmt `
    * before `data`, as the canonical layout does. */
  def parseWavHeader(b: Array[Byte]): Either[String, WavHeader] = {
    def ascii(i: Int, n: Int): String = {
      val upTo = math.min(b.length, i + n)
      if (i >= upTo) "" else new String(b.slice(i, upTo), "US-ASCII")
    }
    val riff = ascii(0, 4)
    if (riff != "RIFF")
      return Left(if (b.length < 4 && "RIFF".startsWith(riff)) "truncated"
                  else "bad_magic")
    if (b.length < 12) return Left("truncated")
    if (ascii(8, 4) != "WAVE") return Left("bad_magic")
    var pos = 12
    var fmt: Option[(Int, Int, Int, Int, Int)] = None // ch, rate, byteRate, align, bits
    while (pos + 8 <= b.length) {
      val id = ascii(pos, 4)
      val size = le32(b, pos + 4)
      // a declared size past the stream end can't be walked (and a
      // near-2^32 value would wrap pos negative → infinite loop)
      if (size > b.length.toLong) return Left("truncated")
      val body = pos + 8
      if (id == "fmt ") {
        if (size < 16) return Left("bad_header")
        if (body + 16 > b.length) return Left("truncated")
        val audioFormat = le16(b, body)
        val channels = le16(b, body + 2)
        val rate = le32(b, body + 4)
        val byteRate = le32(b, body + 8)
        val align = le16(b, body + 12)
        val bits = le16(b, body + 14)
        if (audioFormat != 1) return Left("bad_header") // PCM only
        if (channels == 0 || rate <= 0 || rate > Int.MaxValue ||
            bits == 0 || bits % 8 != 0) return Left("bad_header")
        // internal consistency: align = ch·bits/8, byteRate = rate·align
        if (align != channels * bits / 8) return Left("bad_header")
        if (byteRate != rate * align) return Left("bad_header")
        fmt = Some((channels, rate.toInt, byteRate.toInt, align, bits))
      } else if (id == "data") {
        fmt match {
          case None => return Left("bad_header") // data before fmt
          case Some((ch, rate, _, align, bits)) =>
            if (body + size > b.length) return Left("truncated")
            val nSamples = size / align
            val durMicros = nSamples * 1000000L / rate
            return Right(WavHeader(ch, rate, bits, nSamples, durMicros))
        }
      }
      pos = body + size.toInt + (size.toInt & 1) // word alignment pad
    }
    // walked off the chunk list: a clean end (pos lands exactly on the
    // stream end) just never had a data chunk; anything else is a
    // dangling partial chunk header or an overrunning declared size
    if (pos == b.length) Left("no_data") else Left("truncated")
  }

  /** Distributed WAVE header decode over the binary column — the audio
    * analogue of [[imageHeaders]]: one row per payload, dead-letter
    * columns in-band, partition-local, no shuffle. */
  def wavHeaders(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          parseWavHeader(r.media) match {
            case Right(hd) => (r.media_id, true, Option.empty[String],
              Option(hd.channels), Option(hd.sampleRate),
              Option(hd.bitsPerSample), Option(hd.nSamples),
              Option(hd.durationMicros))
            case Left(reason) => (r.media_id, false, Option(reason),
              Option.empty[Int], Option.empty[Int], Option.empty[Int],
              Option.empty[Long], Option.empty[Long])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "channels", "sample_rate",
        "bits_per_sample", "n_samples", "duration_micros")
  }

  /** Minimal spec-conformant PCM WAVE: RIFF descriptor + fmt chunk +
    * data chunk of deterministic bytes. The encode half of the WAVE
    * codec — fixture source for the q129 gate (the generator controls
    * the bytes, so the oracle re-derives every attribute
    * arithmetically) and a real writer of valid PCM containers. */
  def encodeWav(channels: Int, sampleRate: Int, bitsPerSample: Int,
      nSamples: Int): Array[Byte] = {
    require(channels > 0 && sampleRate > 0 && bitsPerSample % 8 == 0)
    val align = channels * bitsPerSample / 8
    val dataSize = nSamples * align
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    out.write("RIFF".getBytes("US-ASCII"), 0, 4)
    w32(4L + 24L + 8L + dataSize) // WAVE + fmt chunk + data chunk
    out.write("WAVE".getBytes("US-ASCII"), 0, 4)
    out.write("fmt ".getBytes("US-ASCII"), 0, 4)
    w32(16L); w16(1); w16(channels); w32(sampleRate.toLong)
    w32(sampleRate.toLong * align); w16(align); w16(bitsPerSample)
    out.write("data".getBytes("US-ASCII"), 0, 4)
    w32(dataSize.toLong)
    var i = 0
    while (i < dataSize) { out.write((i * 31 + 7) & 0xff); i += 1 }
    out.toByteArray
  }

  /** EXACT integer box-filter image downscale (r16) — the builder
    * brief's `resize` step made real now that pixels decode: each
    * output pixel is the floor-mean of its (w/outW)×(h/outH) source
    * block (integer sum quot block-size — no float filter kernel, so
    * any engine re-derives the result), and the output is a REAL
    * re-encoded PNG payload (filter-0 scanlines), ready for the next
    * pipeline stage exactly like an input image. Dimensions must be
    * integer multiples of the target (the box grid; anything else →
    * `bad_dims` — a production pipeline pads/crops upstream, it does
    * not silently resample). Decode dead letters pass through with
    * their original reason and an EMPTY payload. Per-row transform:
    * pixels never leave the task. */
  def resizePngGray(spark: SparkSession, media: DataFrame,
      outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, "resizePngGray: positive target dims")
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          decodeImageGray(r.media) match {
            case Right((w, h, px))
                if w % outW == 0 && h % outH == 0 =>
              val sx = w / outW; val sy = h / outH
              // Long accumulation (ADVICE r16): 255*area overflows Int
              // for block areas past ~8.4M pixels (8192x8192 -> 2x2),
              // which decodePngGray's dimension bounds permit
              val area = sx.toLong * sy
              def out(x: Int, y: Int): Int = {
                var s = 0L; var dy = 0
                while (dy < sy) {
                  var dx = 0
                  while (dx < sx) {
                    s += px((y * sy + dy) * w + (x * sx + dx))
                    dx += 1
                  }
                  dy += 1
                }
                (s / area).toInt
              }
              (r.media_id, r.kind, Multimodal.encodePngGray(
                outW, outH, out, _ => 0), true,
                Option.empty[String])
            case Right(_) =>
              (r.media_id, r.kind, Array.emptyByteArray, false,
                Option("bad_dims"))
            case Left(reason) =>
              (r.media_id, r.kind, Array.emptyByteArray, false,
                Option(reason))
          }
        }
      }
      .toDF("media_id", "kind", "media", "ok", "reason")
  }

  /** [[encodeWav]] with caller-provided SAMPLES — the encode half of
    * the PCM tier (r16): frame-interleaved little-endian samples,
    * 8-bit unsigned (value + 128) or 16-bit signed, one Int per
    * (frame, channel) in frame-major order. The generator controls
    * every sample, so a fixture's oracle re-derives the decoded
    * waveform arithmetically (the encodePngGray discipline applied
    * to audio). */
  def encodeWavSamples(channels: Int, sampleRate: Int,
      bitsPerSample: Int, samples: Array[Int]): Array[Byte] = {
    require(bitsPerSample == 8 || bitsPerSample == 16,
      "encodeWavSamples: 8 or 16 bits")
    require(samples.length % channels == 0,
      "encodeWavSamples: samples must be whole frames")
    val header = encodeWav(channels, sampleRate, bitsPerSample,
      samples.length / channels)
    val dataSize = samples.length * bitsPerSample / 8
    val out = java.util.Arrays.copyOf(header, header.length)
    // overwrite the deterministic filler with the caller's samples
    val dataStart = out.length - dataSize
    var i = 0
    while (i < samples.length) {
      if (bitsPerSample == 8) out(dataStart + i) = (samples(i) & 0xff).toByte
      else {
        out(dataStart + 2 * i) = (samples(i) & 0xff).toByte
        out(dataStart + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      i += 1
    }
    out
  }

  /** PCM decode — the data-plane completion of [[wavHeaders]] (r16):
    * chunk walk to `fmt ` + `data`, then per frame the CENTERED
    * mix-down Σ_channels centered(sample), where centered = value−128
    * for 8-bit unsigned and value quot 256 for 16-bit signed (both
    * exact integers; quot truncates toward zero — the engine-shared
    * rule). Mapping both widths onto the same ±127-ish scale makes
    * the downstream energy features width-independent. Dead letters:
    * the [[wavHeaders]] vocabulary + `truncated` when the data chunk
    * promises more bytes than the stream holds. */
  def decodeWavPcm(b: Array[Byte]): Either[String, (Int, Int, Array[Int])] = {
    if (b.length < 12) return Left("truncated")
    def ascii(i: Int, n: Int) = new String(b, i, n, "US-ASCII")
    if (ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE")
      return Left("bad_magic")
    var pos = 12
    var channels = 0; var rate = 0; var bits = 0
    while (pos + 8 <= b.length) {
      val id = ascii(pos, 4); val sz = le32(b, pos + 4)
      // bound the chunk BEFORE touching or skipping it (ADVICE r16):
      // sz is the unsigned 32-bit wire value — sz >= 2^31 made the
      // old `pos += 8 + sz.toInt` advance wrap negative or sit
      // stationary (an executor-task infinite loop) instead of the
      // documented dead-letter; Long arithmetic + this check make
      // the subsequent toInt provably safe (sz <= b.length)
      if (pos + 8L + sz > b.length) return Left("truncated")
      if (id == "fmt ") {
        if (pos + 8 + 16 > b.length) return Left("truncated")
        if (le16(b, pos + 8) != 1) return Left("bad_header") // PCM only
        channels = le16(b, pos + 10)
        rate = le32(b, pos + 12).toInt
        bits = le16(b, pos + 22)
        if (channels <= 0 || rate <= 0 || (bits != 8 && bits != 16))
          return Left("bad_header")
      } else if (id == "data") {
        if (channels == 0) return Left("bad_header") // data before fmt
        if (pos + 8 + sz > b.length) return Left("truncated")
        val align = channels * bits / 8
        if (sz % align != 0) return Left("bad_header")
        val nFrames = (sz / align).toInt
        val mix = new Array[Int](nFrames)
        var f = 0
        while (f < nFrames) {
          var c = 0; var acc = 0
          while (c < channels) {
            val off = pos + 8 + f * align + c * bits / 8
            acc += (if (bits == 8) (b(off) & 0xff) - 128
                    else le16(b, off).toShort / 256)
            c += 1
          }
          mix(f) = acc
          f += 1
        }
        return Right((channels, rate, mix))
      }
      pos += 8 + sz.toInt
    }
    if (pos == b.length) Left("bad_header") // clean walk, no data chunk
    else Left("truncated")
  }

  /** Volume-invariant audio fingerprint over decoded PCM (r16) — the
    * dHash move on the energy envelope: the centered mix-down splits
    * into `windows` spans (frame f → window (f·W) quot n, the exact
    * integer rule both engines replay), per-window energy
    * e_w = Σ s², and contour bit w set iff e_w > e_{w+1} (W−1 bits).
    * A uniform gain scales every e_w together, so the contour is
    * amplitude-invariant — exactly the near-dup property (same
    * recording, different loudness). Output:
    * (media_id, ok, reason, n_frames, energy, contour). Per-row
    * decode; samples never leave the task. */
  def audioFingerprint(spark: SparkSession, media: DataFrame,
      windows: Int = 8): DataFrame = {
    require(windows >= 2 && windows <= 63,
      "audioFingerprint: windows in [2, 63]")
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          decodeWavPcm(r.media) match {
            case Right((_, _, mix)) if mix.nonEmpty =>
              val n = mix.length
              val e = new Array[Long](windows)
              var f = 0
              while (f < n) {
                e((f.toLong * windows / n).toInt) +=
                  mix(f).toLong * mix(f)
                f += 1
              }
              var contour = 0L
              var w = 0
              while (w < windows - 1) {
                if (e(w) > e(w + 1)) contour |= 1L << w
                w += 1
              }
              (r.media_id, true, Option.empty[String],
                Option(n.toLong), Option(e.sum), Option(contour))
            case Right(_) => // valid container, zero frames: its own
              // lane, not bad_header — the stream IS spec-conformant
              (r.media_id, false, Option("no_frames"),
                Option.empty[Long], Option.empty[Long],
                Option.empty[Long])
            case Left(reason) =>
              (r.media_id, false, Option(reason), Option.empty[Long],
                Option.empty[Long], Option.empty[Long])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "n_frames", "energy", "contour")
  }

  /** Fixed-point trig tables for the [[audioBandFingerprint]]
    * filterbank: period-16 cosine/sine bins b = 1..8 sampled at the
    * half-sample phase, CENTI precision — hkCos(b)(p) =
    * round(10²·cos(π·b·(2p+1)/16)) — so a per-window projection of
    * up to ~33M frames squares inside int64 (|X| ≤ 254·100·L).
    * One Scala-computed pair shared with the oracle CTE builder. */
  private[graft] val hkCosCenti: Array[Array[Long]] =
    Array.tabulate(8, 16)((bi, p) =>
      Math.round(1e2 * StrictMath.cos(Math.PI * (bi + 1) * (2 * p + 1) / 16)))
  private[graft] val hkSinCenti: Array[Array[Long]] =
    Array.tabulate(8, 16)((bi, p) =>
      Math.round(1e2 * StrictMath.sin(Math.PI * (bi + 1) * (2 * p + 1) / 16)))

  /** The tables as SQL VALUES rows `(b, p, ct, st)` (b is 0-based). */
  private[graft] def hkTrigSqlValues: String =
    (for (bi <- 0 until 8; p <- 0 until 16)
      yield s"($bi,$p,${hkCosCenti(bi)(p)},${hkSinCenti(bi)(p)})")
      .mkString(", ")

  /** Haitsma–Kalker band-energy fingerprint (r18, VERDICT r17 missing
    * #6 — the q323 contour generalized to a per-window BAND matrix;
    * Haitsma & Kalker 2002's sign-of-energy-difference hash over a
    * fixed integer filterbank instead of an FFT): the centered
    * mix-down splits into `windows` spans (the exact (f·W) div n
    * rule); per window w and band b the filterbank projection is
    *
    *   Xc(w,b) = Σ_{f∈w} s(f)·hkCos(b, f mod 16),  Xs likewise,
    *   E(w,b)  = Xc² + Xs²   (NO division anywhere)
    *
    * and bit (w−1)·(B−1)+b of the hash is set iff
    * (E(w,b) − E(w,b+1)) − (E(w−1,b) − E(w−1,b+1)) > 0 — the paper's
    * time-and-band difference sign. Because no step divides, an
    * exact integer gain g scales every E by g² and the hash is
    * EXACTLY gain-invariant (stronger than the contour tier's, whose
    * invariance argument is also division-free): the planted volume
    * twins land at hamming 0 by construction. Defaults (9 windows ×
    * 8 bands → 56 bits) keep the hash one non-negative BIGINT.
    *
    * int64 bound, joint in length AND amplitude: |X| ≤
    * maxAbs·L_w·100 must square inside int64 where L_w ≤ n/windows+1,
    * so the frame cap SCALES WITH `windows` (ADVICE r18): rows over
    * windows·2²⁰/9 frames dead-letter `too_long` (2²⁰ at the default
    * 9 — chunk minute-scale audio upstream) and mix-down samples
    * outside ±254 dead-letter `too_loud` (mono/stereo 8/16-bit mixes
    * stay inside by construction; a many-channel mix does not) —
    * 254·(2²⁰/9 + 1)·100 ≈ 2.96·10⁹ squares to 8.8·10¹⁸ < 2⁶³ at
    * EVERY windows value, because the cap keeps n/windows ≤ 2²⁰/9.
    * Per-row decode, samples never leave the task. */
  def audioBandFingerprint(spark: SparkSession, media: DataFrame,
      windows: Int = 9, bands: Int = 8): DataFrame = {
    require(windows >= 2 && bands >= 2 && bands <= 8 &&
      (windows - 1) * (bands - 1) <= 62,
      "audioBandFingerprint: need (windows-1)*(bands-1) <= 62 bits")
    // windows·2²⁰/9: the per-window projection length n/windows + 1
    // is what squares — a fixed 2²⁰ cap only bounds it for
    // windows ≥ 9 (ADVICE r18: windows 2..8 could silently wrap)
    val frameCap = windows.toLong * (1 << 20) / 9
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          decodeWavPcm(r.media) match {
            case Right((_, _, mix)) if mix.length > frameCap =>
              (r.media_id, false, Option("too_long"),
                Option.empty[Long], Option.empty[Long])
            case Right((_, _, mix))
                if mix.exists(v => v > 254 || v < -254) =>
              (r.media_id, false, Option("too_loud"),
                Option.empty[Long], Option.empty[Long])
            case Right((_, _, mix)) if mix.nonEmpty =>
              val n = mix.length
              val xc = Array.ofDim[Long](windows, bands)
              val xs = Array.ofDim[Long](windows, bands)
              var f = 0
              while (f < n) {
                val w = (f.toLong * windows / n).toInt
                val p = f % 16
                val s = mix(f).toLong
                var bi = 0
                while (bi < bands) {
                  xc(w)(bi) += s * hkCosCenti(bi)(p)
                  xs(w)(bi) += s * hkSinCenti(bi)(p)
                  bi += 1
                }
                f += 1
              }
              val e = Array.tabulate(windows, bands)((w, bi) =>
                xc(w)(bi) * xc(w)(bi) + xs(w)(bi) * xs(w)(bi))
              var h = 0L
              var w = 1
              while (w < windows) {
                var bi = 0
                while (bi < bands - 1) {
                  val d = (e(w)(bi) - e(w)(bi + 1)) -
                    (e(w - 1)(bi) - e(w - 1)(bi + 1))
                  if (d > 0) h |= 1L << ((w - 1) * (bands - 1) + bi)
                  bi += 1
                }
                w += 1
              }
              (r.media_id, true, Option.empty[String],
                Option(n.toLong), Option(h))
            case Right(_) =>
              (r.media_id, false, Option("no_frames"),
                Option.empty[Long], Option.empty[Long])
            case Left(reason) =>
              (r.media_id, false, Option(reason), Option.empty[Long],
                Option.empty[Long])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "n_frames", "band_hash")
  }

  /** Banded near-dup pairs over [[audioBandFingerprint]] hashes: the
    * [[dctNearDupPairs]] machinery verbatim (4 disjoint 16-bit bands,
    * pigeonhole-complete to hamming 3) — the 56-bit hash is
    * non-negative, so the band arithmetic carries over unchanged. */
  def audioBandNearDupPairs(fps: DataFrame,
      maxHamming: Int = 3): DataFrame =
    dctNearDupPairs(fps.select(col("media_id"), col("ok"),
      col("band_hash").as("phash")), maxHamming)

  /** Near-dup pairs from an [[audioFingerprint]] frame (r16): the
    * volume-twin rule — candidates from an EQUALITY join on
    * (n_frames, contour) (keyed, never all-pairs; the contour is the
    * amplitude-invariant signature), id_a < id_b, with both energies
    * carried so the consumer sees the gain ratio. */
  def audioNearDupPairs(fps: DataFrame): DataFrame = {
    val ok = fps.filter(col("ok"))
      .select(col("media_id"), col("n_frames"), col("contour"),
        col("energy"))
    ok.select(col("media_id").as("id_a"), col("n_frames"),
        col("contour"), col("energy").as("energy_a"))
      .join(ok.select(col("media_id").as("id_b"), col("n_frames"),
        col("contour"), col("energy").as("energy_b")),
        Seq("n_frames", "contour"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("n_frames"),
        col("contour"), col("energy_a"), col("energy_b"))
  }

  // -------------------------------------------------------------------
  // Real video container decode — ISO/IEC 14496-12 (MP4 / ISO base
  // media file format): the length-prefixed box walk, `ftyp` major
  // brand, `moov`/`mvhd` timescale + presentation duration, and
  // per-`trak` `tkhd` dimensions (16.16 fixed point). Completes the
  // multimodal triad: image (PNG/JPEG, q33), audio (RIFF/WAVE, q129),
  // video (BMFF) — a training pipeline's first video pass (duration /
  // resolution / track shape for admission filtering and batching)
  // needs only the public container format, no codec.
  // -------------------------------------------------------------------

  /** Parsed header attributes of an ISO-BMFF (MP4) payload.
    * `durationMicros` is exact integer floor arithmetic
    * (durationTicks·1e6 div timescale); `width`/`height` are the
    * integer pixel parts of tkhd's 16.16 fixed-point values, from the
    * first track that declares a nonzero width (the video track —
    * audio tkhds carry zero dimensions per §8.3.2). */
  case class Mp4Header(brand: String, nTracks: Int, timescale: Long,
      durationTicks: Long, durationMicros: Long, width: Int, height: Int)

  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  /** BMFF header parse; Left(reason) is the dead-letter lane (the
    * shared reason vocabulary): `truncated` (stream ends inside a
    * structure its own length prefix promises), `bad_magic` (first
    * box is not `ftyp`), `bad_header` (well-delimited but
    * spec-invalid: box size < 8, unknown fullbox version, zero
    * mvhd timescale, moov without mvhd), `no_moov` (clean box walk
    * ends without any moov). Handles the 64-bit `largesize` (§4.2
    * size==1) and size==0 (box extends to the end of its container)
    * encodings. */
  def parseMp4Header(b: Array[Byte]): Either[String, Mp4Header] = {
    def ascii(i: Long, n: Int): String = {
      val from = i.toInt
      val upTo = math.min(b.length, from + n)
      if (from >= upTo) "" else new String(b.slice(from, upTo), "US-ASCII")
    }
    // one box header at `pos` bounded by its container's end:
    // Right((type, bodyStart, boxEnd))
    def box(pos: Long, limit: Long): Either[String, (String, Long, Long)] = {
      if (pos + 8 > limit) return Left("truncated")
      val size32 = be32(b, pos.toInt)
      val typ = ascii(pos + 4, 4)
      if (size32 == 1L) { // §4.2: 64-bit largesize follows the type
        if (pos + 16 > limit) return Left("truncated")
        val large = be64(b, pos.toInt + 8)
        if (large < 16) Left("bad_header")
        else if (pos + large > limit) Left("truncated")
        else Right((typ, pos + 16, pos + large))
      } else if (size32 == 0L) { // box extends to container end
        Right((typ, pos + 8, limit))
      } else if (size32 < 8) Left("bad_header")
      else if (pos + size32 > limit) Left("truncated")
      else Right((typ, pos + 8, pos + size32))
    }
    // magic: the first box must be ftyp (§4.3 "shall be placed as
    // early as possible"; canonically first). Distinguish a short
    // stream that is still a plausible prefix from a non-BMFF stream.
    val magic = ascii(4, 4)
    if (b.length < 8)
      return Left(if ("ftyp".startsWith(magic)) "truncated" else "bad_magic")
    if (magic != "ftyp") return Left("bad_magic")
    val fileEnd = b.length.toLong
    box(0, fileEnd) match {
      case Left(r) => Left(r)
      case Right((_, ftypBody, ftypEnd)) =>
        if (ftypBody + 8 > ftypEnd) return Left("bad_header") // brand+minor
        val brand = ascii(ftypBody, 4)
        // walk the remaining top-level boxes for moov
        var pos = ftypEnd
        while (pos < fileEnd) {
          box(pos, fileEnd) match {
            case Left(r) => return Left(r)
            case Right(("moov", body, end)) =>
              return parseMoov(b, brand, body, end)
            case Right((_, _, end)) => pos = end
          }
        }
        Left("no_moov")
    }
  }

  /** moov child walk: mvhd (required, timescale+duration) and trak
    * count / first nonzero tkhd dimensions. */
  private def parseMoov(b: Array[Byte], brand: String, moovBody: Long,
      moovEnd: Long): Either[String, Mp4Header] = {
    def be32At(i: Long): Long = be32(b, i.toInt)
    def ascii4(i: Long): String =
      new String(b.slice(i.toInt, i.toInt + 4), "US-ASCII")
    var pos = moovBody
    var mvhd: Option[(Long, Long)] = None // timescale, duration
    var nTracks = 0
    var width = 0
    var height = 0
    while (pos < moovEnd) {
      if (pos + 8 > moovEnd) return Left("truncated")
      val size32 = be32At(pos)
      val typ = ascii4(pos + 4)
      val (body, end) =
        if (size32 == 1L) {
          if (pos + 16 > moovEnd) return Left("truncated")
          val large = be64(b, pos.toInt + 8)
          if (large < 16) return Left("bad_header")
          (pos + 16, pos + large)
        } else if (size32 == 0L) (pos + 8, moovEnd)
        else if (size32 < 8) return Left("bad_header")
        else (pos + 8, pos + size32)
      if (end > moovEnd) return Left("truncated")
      typ match {
        case "mvhd" =>
          if (body + 4 > end) return Left("truncated")
          val version = u8(b, body.toInt)
          // §8.2.2: v0 = 32-bit creation/modification/duration,
          // v1 = 64-bit; timescale is 32-bit in both
          val (tsOff, durOff, dur64) = version match {
            case 0 => (body + 12, body + 16, false)
            case 1 => (body + 20, body + 24, true)
            case _ => return Left("bad_header")
          }
          if (durOff + (if (dur64) 8 else 4) > end) return Left("truncated")
          val timescale = be32At(tsOff)
          if (timescale == 0) return Left("bad_header")
          val duration = if (dur64) be64(b, durOff.toInt) else be32At(durOff)
          // v1 durations are unsigned 64-bit and may carry the
          // all-ones "unknown" sentinel; anything that would wrap
          // the ·1e6 micros conversion is dead-lettered, not
          // silently emitted negative
          if (duration < 0 || duration > Long.MaxValue / 1000000L)
            return Left("bad_header")
          mvhd = Some((timescale, duration))
        case "trak" =>
          nTracks += 1
          // child walk for tkhd
          var tp = body
          while (tp < end) {
            if (tp + 8 > end) return Left("truncated")
            val ts32 = be32At(tp)
            val tTyp = ascii4(tp + 4)
            val (tBody, tEnd) =
              if (ts32 == 1L) {
                if (tp + 16 > end) return Left("truncated")
                val large = be64(b, tp.toInt + 8)
                if (large < 16) return Left("bad_header")
                (tp + 16, tp + large)
              } else if (ts32 == 0L) (tp + 8, end)
              else if (ts32 < 8) return Left("bad_header")
              else (tp + 8, tp + ts32)
            if (tEnd > end) return Left("truncated")
            if (tTyp == "tkhd") {
              if (tBody + 4 > tEnd) return Left("truncated")
              val v = u8(b, tBody.toInt)
              // §8.3.2: v0 = 20 bytes of ids/times, v1 = 32; then
              // 16 bytes reserved/layer/volume, 36 of matrix, then
              // width/height as 16.16 fixed
              val wOff = v match {
                case 0 => tBody + 4 + 20 + 16 + 36
                case 1 => tBody + 4 + 32 + 16 + 36
                case _ => return Left("bad_header")
              }
              if (wOff + 8 > tEnd) return Left("truncated")
              if (width == 0) {
                width = (be32At(wOff) >>> 16).toInt
                height = (be32At(wOff + 4) >>> 16).toInt
              }
            }
            tp = tEnd
          }
        case _ => ()
      }
      pos = end
    }
    mvhd match {
      case None => Left("bad_header") // a moov without mvhd is invalid
      case Some((ts, dur)) =>
        Right(Mp4Header(brand, nTracks, ts, dur, dur * 1000000L / ts,
          width, height))
    }
  }

  /** Distributed BMFF header decode over the binary column — the video
    * analogue of [[wavHeaders]]: one row per payload, dead-letter
    * columns in-band, partition-local, no shuffle. */
  def mp4Headers(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          parseMp4Header(r.media) match {
            case Right(hd) => (r.media_id, true, Option.empty[String],
              Option(hd.brand), Option(hd.nTracks), Option(hd.timescale),
              Option(hd.durationTicks), Option(hd.durationMicros),
              Option(hd.width), Option(hd.height))
            case Left(reason) => (r.media_id, false, Option(reason),
              Option.empty[String], Option.empty[Int], Option.empty[Long],
              Option.empty[Long], Option.empty[Long],
              Option.empty[Int], Option.empty[Int])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "brand", "n_tracks", "timescale",
        "duration_ticks", "duration_micros", "width", "height")
  }

  /** Minimal spec-conformant BMFF file: `ftyp` + `moov`(`mvhd` +
    * nTracks·`trak`(`tkhd`)) — the encode half of the container,
    * fixture source for the q143 gate (the generator controls the
    * bytes, so the oracle re-derives every attribute arithmetically).
    * The first track carries the 16.16 video dimensions; the rest
    * declare zero dims (the §8.3.2 audio-track convention).
    * `timescale = 0` is accepted here (it is a *byte-level* writer)
    * precisely so the bad_header dead-letter lane can be fixtured. */
  def encodeMp4(brand: String, timescale: Long, durationTicks: Long,
      width: Int, height: Int, nTracks: Int): Array[Byte] = {
    require(nTracks >= 0 && brand.length == 4)
    val traks = (1 to nTracks).map { tid =>
      val (w, h) = if (tid == 1) (width, height) else (0, 0)
      boxOf("trak", mp4Tkhd(tid, durationTicks, w, h))
    }
    mp4Ftyp(brand) ++ boxOf("moov",
      (mp4Mvhd(timescale, durationTicks, nTracks + 1L) +: traks).reduce(_ ++ _))
  }

  private def be32a(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
    ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def boxOf(typ: String, body: Array[Byte]): Array[Byte] =
    be32a(8L + body.length) ++ typ.getBytes("US-ASCII") ++ body
  private def mp4Identity: Array[Byte] =
    Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
      .flatMap(be32a).toArray
  private def mp4Ftyp(brand: String): Array[Byte] =
    boxOf("ftyp", brand.getBytes("US-ASCII") ++ be32a(0L) ++ // minor version
      brand.getBytes("US-ASCII") ++ "iso2".getBytes("US-ASCII"))
  /** `mvhd` v0: zero times, rate and volume 1.0, identity matrix. */
  private def mp4Mvhd(timescale: Long, durationTicks: Long,
      nextTrackId: Long): Array[Byte] =
    boxOf("mvhd", Array[Byte](0, 0, 0, 0) ++ // fullbox v0
      be32a(0L) ++ be32a(0L) ++ // creation, modification
      be32a(timescale) ++ be32a(durationTicks) ++
      be32a(0x00010000L) ++ // rate 1.0
      Array[Byte](0x01, 0x00) ++ Array.fill[Byte](10)(0) ++ // volume+reserved
      mp4Identity ++ Array.fill[Byte](24)(0) ++ // pre_defined
      be32a(nextTrackId))
  /** `tkhd` v0, enabled|in-movie|in-preview, 16.16 dims. */
  private def mp4Tkhd(trackId: Long, durationTicks: Long, width: Int,
      height: Int): Array[Byte] =
    boxOf("tkhd", Array[Byte](0, 0, 0, 7) ++
      be32a(0L) ++ be32a(0L) ++ be32a(trackId) ++ be32a(0L) ++
      be32a(durationTicks) ++ Array.fill[Byte](16)(0) ++ mp4Identity ++
      be32a(width.toLong << 16) ++ be32a(height.toLong << 16))

  /** [[encodeMp4]] extended with a REAL sample table + payload (r16):
    * one video trak carrying the full §8 stbl nesting — stsd (zero
    * entries), stts (one run), stsc (chunk runs), stsz (explicit
    * sizes), stco (absolute chunk offsets) — and an `mdat` whose
    * bytes are the caller's samples laid out chunk by chunk. Samples
    * split across `nChunks` chunks (front-loaded: first chunks take
    * ⌈S/nChunks⌉), so a reader must run the real stsc chunk-run
    * algorithm, not assume one chunk. stco offsets are absolute file
    * offsets, patched after the moov length is known (the moov size
    * does not depend on the offset VALUES, only their count). */
  def encodeMp4Samples(brand: String, timescale: Long,
      durationTicks: Long, sampleSizes: Array[Int],
      sampleByte: (Int, Int) => Int, nChunks: Int = 2): Array[Byte] = {
    require(sampleSizes.nonEmpty && sampleSizes.forall(_ > 0))
    require(nChunks >= 1 && nChunks <= sampleSizes.length)
    val s = sampleSizes.length
    val per = (s + nChunks - 1) / nChunks // front-loaded split
    val chunkSizes = (0 until nChunks)
      .map(c => sampleSizes.slice(c * per, math.min((c + 1) * per, s)))
      .filter(_.nonEmpty)
    val full = Array[Byte](0, 0, 0, 0)
    val stsd = boxOf("stsd", full ++ be32a(0L))
    val stts = boxOf("stts", full ++ be32a(1L) ++
      be32a(s.toLong) ++ be32a(1L))
    // stsc runs: one entry per distinct samples-per-chunk run
    val runs = chunkSizes.map(_.length).zipWithIndex
      .foldLeft(List.empty[(Int, Int)]) { case (acc, (n, i)) =>
        acc match {
          case (fc, pn) :: _ if pn == n => acc
          case _ => (i + 1, n) :: acc
        }
      }.reverse
    val stsc = boxOf("stsc", full ++ be32a(runs.length.toLong) ++
      runs.flatMap { case (fc, n) =>
        be32a(fc.toLong) ++ be32a(n.toLong) ++ be32a(1L) }.toArray)
    val stsz = boxOf("stsz", full ++ be32a(0L) ++ be32a(s.toLong) ++
      sampleSizes.flatMap(sz => be32a(sz.toLong)))
    def stcoOf(offsets: Seq[Long]) = boxOf("stco",
      full ++ be32a(offsets.length.toLong) ++ offsets.flatMap(be32a).toArray)
    def moovOf(offsets: Seq[Long]): Array[Byte] = {
      val mdhd = boxOf("mdhd", full ++ be32a(0L) ++ be32a(0L) ++
        be32a(timescale) ++ be32a(durationTicks) ++
        Array[Byte](0x55, (0xc4 & 0xff).toByte, 0, 0))
      val hdlr = boxOf("hdlr", full ++ be32a(0L) ++
        "vide".getBytes("US-ASCII") ++ Array.fill[Byte](12)(0) ++
        Array[Byte](0))
      val stbl = boxOf("stbl",
        stsd ++ stts ++ stsc ++ stsz ++ stcoOf(offsets))
      val minf = boxOf("minf", stbl)
      val mdia = boxOf("mdia", mdhd ++ hdlr ++ minf)
      boxOf("moov", mp4Mvhd(timescale, durationTicks, 2L) ++
        boxOf("trak", mp4Tkhd(1L, durationTicks, 64, 64) ++ mdia))
    }
    val ftyp = mp4Ftyp(brand)
    // two-pass: moov length is offset-value independent
    val moovLen = moovOf(chunkSizes.map(_ => 0L)).length
    val payloadStart = ftyp.length + moovLen + 8L
    val chunkOffsets = chunkSizes
      .scanLeft(payloadStart)((o, c) => o + c.map(_.toLong).sum).init
    val moov = moovOf(chunkOffsets)
    val payload = new java.io.ByteArrayOutputStream()
    var j = 0
    sampleSizes.foreach { sz =>
      var i = 0
      while (i < sz) { payload.write(sampleByte(j, i) & 0xff); i += 1 }
      j += 1
    }
    ftyp ++ moov ++ boxOf("mdat", payload.toByteArray)
  }

  /** REAL container-level frame sampling (r16) — retires the byte-
    * slice stand-in ([[sampleFramesStub]], kept for its q61 batch-
    * shape gate): walk to the video trak's sample table, run the
    * ACTUAL ISO/IEC 14496-12 §8.7 algorithm (stsc chunk runs →
    * per-chunk sample counts, stco absolute offsets, stsz sizes →
    * per-sample file offsets), and extract `nFrames` evenly-spaced
    * sample PAYLOADS from mdat — what a pipeline's first video pass
    * does before handing keyframes to a real decoder; no codec
    * needed, only the public container format. Selection rule:
    * N' = min(nFrames, S) frames at sample indices k·S quot N'
    * (k < N'). Output one row per extracted frame with
    * position-pinned payload stats (the q306 discipline: sum_wbytes
    * moves if any byte lands wrong), or ONE dead-letter row
    * ([[parseMp4Header]]'s reason vocabulary + `no_stbl`/`truncated`
    * when the sample table or a promised sample range is missing).
    * Per-row transform; payloads never leave the task. */
  def sampleMp4Frames(spark: SparkSession, media: DataFrame,
      nFrames: Int): DataFrame = {
    require(nFrames > 0, "sampleMp4Frames: nFrames must be positive")
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .flatMap { r =>
        extractMp4Samples(r.media, nFrames) match {
          case Right(frames) => frames.map { case (idx, bytes) =>
            var sum = 0L; var wsum = 0L; var i = 0
            while (i < bytes.length) {
              val v = bytes(i) & 0xff
              sum += v; wsum += (i + 1).toLong * v; i += 1
            }
            (r.media_id, true, Option.empty[String], Option(idx),
              Option(bytes.length.toLong), Option(sum), Option(wsum))
          }
          case Left(reason) =>
            Seq((r.media_id, false, Option(reason), Option.empty[Int],
              Option.empty[Long], Option.empty[Long],
              Option.empty[Long]))
        }
      }
      .toDF("media_id", "ok", "reason", "frame_idx", "n_bytes",
        "sum_bytes", "sum_wbytes")
  }

  /** The §8.7 sample-location walk behind [[sampleMp4Frames]]. */
  private def extractMp4Samples(b: Array[Byte],
      nFrames: Int): Either[String, Seq[(Int, Array[Byte])]] = {
    def be32u(i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    def ascii(i: Int, n: Int): String = new String(b, i, n, "US-ASCII")
    if (b.length < 8) return Left("truncated")
    if (ascii(4, 4) != "ftyp") return Left("bad_magic")
    // find stbl by nested walk: moov/trak/mdia/minf/stbl.
    // Returns the box start, or -1 (not found) / -2 (found but its
    // declared size overruns the parent — a truncation signal).
    def findChild(from: Int, limit: Int, typ: String): Int = {
      var pos = from
      while (pos + 8 <= limit) {
        val sz = be32u(pos)
        if (sz < 8) return -1
        // bound the advance BEFORE the type match (ADVICE r17): sz is
        // unsigned 32-bit, so `pos += sz.toInt` on a crafted box
        // wrapped negative (AIOOBE) or looped; an overrunning child
        // ends the walk regardless of type — a MATCHING overrunner is
        // never accepted (the old order accepted it and only
        // re-validated against b.length, weakening the nesting bound)
        if (pos + sz > limit)
          return if (ascii(pos + 4, 4) == typ) -2 else -1
        if (ascii(pos + 4, 4) == typ) return pos
        pos += sz.toInt
      }
      -1
    }
    def walk(path: Seq[String]): Int = {
      var from = 0; var limit = b.length
      for (t <- path) {
        val p = findChild(from, limit, t)
        if (p == -2) return -2
        if (p < 0) return -1
        val sz = be32u(p)
        if (p + sz > b.length) return -2
        from = p + 8; limit = (p + sz).toInt
      }
      from
    }
    val stblFrom = walk(Seq("moov", "trak", "mdia", "minf", "stbl"))
    if (stblFrom == -2) return Left("truncated")
    if (stblFrom < 0) return Left("no_stbl")
    // the stbl limit: its own box bounds
    val stblBox = walk(Seq("moov", "trak", "mdia", "minf"))
    val stblPos = findChild(stblBox, b.length, "stbl")
    val stblLimit = (stblPos + be32u(stblPos)).toInt
    def table(typ: String): Int = findChild(stblFrom, stblLimit, typ)
    val (stsc, stsz, stco) = (table("stsc"), table("stsz"), table("stco"))
    if (stsc < 0 || stsz < 0 || stco < 0) return Left("no_stbl")
    // every declared entry table must fit inside its OWN box and the
    // box inside the file (ADVICE r16): a malformed count otherwise
    // read out of bounds (uncaught AIOOBE killing the task) or
    // allocated a near-2^32-entry array — validate in Long BEFORE
    // any toInt or allocation, then dead-letter as `truncated`
    def boxEnd(p: Int): Long = p + be32u(p)
    if (boxEnd(stsz) > b.length || stsz + 20L > boxEnd(stsz) ||
        boxEnd(stco) > b.length || stco + 16L > boxEnd(stco) ||
        boxEnd(stsc) > b.length || stsc + 16L > boxEnd(stsc))
      return Left("truncated")
    val nSamplesL = be32u(stsz + 16)
    if (nSamplesL == 0) return Left("no_stbl")
    val fixedSz = be32u(stsz + 12)
    if (fixedSz == 0 && stsz + 20L + 4L * nSamplesL > boxEnd(stsz))
      return Left("truncated")
    // with variable sizes the count is box-bounded above; a fixed-size
    // table carries no per-sample rows, so cap by what the file could
    // possibly hold (every sample is at least one byte of mdat)
    if (nSamplesL > b.length) return Left("truncated")
    val nSamples = nSamplesL.toInt
    def sizeOf(j: Int): Int =
      if (fixedSz != 0) fixedSz.toInt else be32u(stsz + 20 + 4 * j).toInt
    val nChunksL = be32u(stco + 12)
    if (stco + 16L + 4L * nChunksL > boxEnd(stco))
      return Left("truncated")
    val nChunks = nChunksL.toInt
    def chunkOff(c: Int): Long = be32u(stco + 16 + 4 * c)
    val nRunsL = be32u(stsc + 12)
    if (stsc + 16L + 12L * nRunsL > boxEnd(stsc))
      return Left("truncated")
    val nRuns = nRunsL.toInt
    // expand stsc runs to per-chunk sample counts
    val perChunk = new Array[Int](nChunks)
    var ri = 0
    while (ri < nRuns) {
      val fc = be32u(stsc + 16 + 12 * ri).toInt
      if (fc < 1) return Left("truncated") // 1-based per ISO 8.7.4
      val n = be32u(stsc + 20 + 12 * ri).toInt
      val lc = if (ri + 1 < nRuns) be32u(stsc + 16 + 12 * (ri + 1)).toInt
               else nChunks + 1
      var c = fc
      while (c < lc && c <= nChunks) { perChunk(c - 1) = n; c += 1 }
      ri += 1
    }
    if (perChunk.map(_.toLong).sum < nSamples) return Left("no_stbl")
    // absolute offset of sample j: chunk offset + sizes before it
    val sampleOffsets = new Array[Long](nSamples)
    var j = 0
    var c = 0
    while (c < nChunks && j < nSamples) {
      var off = chunkOff(c)
      var k = 0
      while (k < perChunk(c) && j < nSamples) {
        sampleOffsets(j) = off
        off += sizeOf(j)
        j += 1; k += 1
      }
      c += 1
    }
    val nOut = math.min(nFrames, nSamples)
    val out = (0 until nOut).map { k =>
      val idx = (k.toLong * nSamples / nOut).toInt
      val off = sampleOffsets(idx); val sz = sizeOf(idx)
      if (sz < 0 || off < 0 || off + sz > b.length)
        return Left("truncated")
      (idx, java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + sz))
    }
    Right(out)
  }

  // -------------------------------------------------------------------
  // Real PNG PIXEL decode (r16, VERDICT r15 "what's missing #3") — the
  // step past the header tier: IDAT inflate (java.util.zip.Inflater —
  // zlib/RFC 1950 is exactly what PNG's compression method 0 requires)
  // plus the five ISO/IEC 15948 §9.2 defilter predictors, pure JVM, no
  // codec dependency. Feeds the perceptual near-dup tier (aHash/dHash
  // + banded hamming pairs — the q28/q71 SimHash move applied to
  // images) with REAL bytes instead of the header-only stubs the tier
  // was deliberately deferred over in r15.
  // -------------------------------------------------------------------

  /** §9.4 Paeth predictor: the neighbor (left, up, up-left) closest to
    * left + up − upleft, ties broken left, up, up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val len = data.length
    out.write((len >>> 24) & 0xff); out.write((len >>> 16) & 0xff)
    out.write((len >>> 8) & 0xff); out.write(len & 0xff)
    val typeAndData = typ.getBytes("US-ASCII") ++ data
    out.write(typeAndData, 0, typeAndData.length)
    val crc = new java.util.zip.CRC32()
    crc.update(typeAndData)
    val c = crc.getValue
    out.write(((c >>> 24) & 0xff).toInt)
    out.write(((c >>> 16) & 0xff).toInt)
    out.write(((c >>> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    out.toByteArray
  }

  /** IHDR body: dims, bit depth, colour type; deflate, adaptive
    * filtering, no interlace. */
  private def pngIhdr(width: Int, height: Int, depth: Int,
      colorType: Int): Array[Byte] =
    Array(width >>> 24, width >>> 16, width >>> 8, width, height >>> 24,
      height >>> 16, height >>> 8, height, depth, colorType, 0, 0, 0)
      .map(_.toByte)

  /** The pixel PNG writers' shared path: `fill(y, row)` sets scanline
    * y's width·bpp raw bytes, then the §9.2 filter `filterForRow(y)`
    * (0–4; `left` is the corresponding byte of the pixel bpp bytes
    * back, the exact inverse of the decode recurrence: filt = raw −
    * pred mod 256), one Deflater-compressed IDAT, depth 8, every chunk
    * CRC real. */
  private def encodePngRaw(width: Int, height: Int, bpp: Int,
      colorType: Int, filterForRow: Int => Int)(
      fill: (Int, Array[Int]) => Unit): Array[Byte] = {
    val rowBytes = width * bpp
    val raw = Array.ofDim[Int](height, rowBytes)
    for (y <- 0 until height) fill(y, raw(y))
    val filtered = new java.io.ByteArrayOutputStream()
    for (y <- 0 until height) {
      val f = filterForRow(y)
      require(f >= 0 && f <= 4, s"encodePng: filter $f not in [0,4]")
      filtered.write(f)
      for (x <- 0 until rowBytes) {
        val left = if (x >= bpp) raw(y)(x - bpp) else 0
        val up = if (y > 0) raw(y - 1)(x) else 0
        val ul = if (x >= bpp && y > 0) raw(y - 1)(x - bpp) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        filtered.write((raw(y)(x) - pred) & 0xff)
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered.toByteArray); defl.finish()
    val z = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    defl.end()
    PngSig.map(_.toByte) ++
      pngChunk("IHDR", pngIhdr(width, height, 8, colorType)) ++
      pngChunk("IDAT", z.toByteArray) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** COMPLETE spec-conformant greyscale PNG (colour type 0, bit depth
    * 8) through [[encodePngRaw]]: `filterForRow` picks the filter per
    * scanline, so a fixture can exercise ALL five predictors in one
    * payload; [[decodePngGray]]'s round-trip spec pins it
    * bit-for-bit. */
  def encodePngGray(width: Int, height: Int, pixel: (Int, Int) => Int,
      filterForRow: Int => Int): Array[Byte] = {
    require(width > 0 && height > 0, "encodePngGray: need positive dims")
    encodePngRaw(width, height, 1, 0, filterForRow) { (y, row) =>
      for (x <- 0 until width) row(x) = pixel(x, y) & 0xff
    }
  }

  /** COMPLETE truecolour PNG encoder (r19 — colour type 2, or 6 with
    * a constant alpha when `alpha` ≥ 0) through [[encodePngRaw]] at
    * bpp 3 or 4. Fixture source for the q364 color-PNG gate. */
  def encodePngColor(width: Int, height: Int,
      pixel: (Int, Int) => (Int, Int, Int), filterForRow: Int => Int,
      alpha: Int = -1): Array[Byte] = {
    require(width > 0 && height > 0, "encodePngColor: positive dims")
    val bpp = if (alpha >= 0) 4 else 3
    encodePngRaw(width, height, bpp, if (bpp == 4) 6 else 2,
        filterForRow) { (y, row) =>
      for (x <- 0 until width) {
        val (r, g, b0) = pixel(x, y)
        row(x * bpp) = r & 0xff
        row(x * bpp + 1) = g & 0xff
        row(x * bpp + 2) = b0 & 0xff
        if (bpp == 4) row(x * bpp + 3) = alpha & 0xff
      }
    }
  }

  /** Full greyscale pixel decode: chunk walk with per-chunk CRC
    * verification, IDAT concatenation, zlib inflate, and §9.2
    * defiltering with all five predictors. Dead-letter reasons extend
    * the header tier's: `truncated` (stream or inflate ends inside a
    * promised structure), `bad_magic`, `bad_crc` (chunk checksum
    * mismatch — the corrupt-payload lane), `bad_header`,
    * `unsupported` (a valid PNG this greyscale-8 tier doesn't decode),
    * `bad_deflate` (zlib stream malformed), `bad_filter` (scanline
    * filter type > 4). Returns (width, height, row-major pixels). */
  def decodePngGray(
      b: Array[Byte]): Either[String, (Int, Int, Array[Int])] = {
    if (b.length < 8) return Left("truncated")
    if ((0 until 8).exists(i => u8(b, i) != PngSig(i)))
      return Left("bad_magic")
    var pos = 8
    var w = 0; var h = 0; var bpp = 1
    var sawIhdr = false; var sawEnd = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawEnd) {
      if (pos + 8 > b.length) return Left("truncated")
      val len = be32(b, pos)
      if (len > Int.MaxValue - 12L) return Left("bad_header")
      val n = len.toInt
      if (pos + 12 + n > b.length) return Left("truncated")
      val typ = new String(b.slice(pos + 4, pos + 8), "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(b, pos + 4, 4 + n)
      if (crc.getValue != be32(b, pos + 8 + n)) return Left("bad_crc")
      typ match {
        case "IHDR" =>
          if (sawIhdr || n != 13) return Left("bad_header")
          val ww = be32(b, pos + 8); val hh = be32(b, pos + 12)
          if (ww <= 0 || hh <= 0 || ww > Int.MaxValue ||
            hh > Int.MaxValue) return Left("bad_header")
          val depth = u8(b, pos + 16); val ct = u8(b, pos + 17)
          if (pngChannels(ct).isEmpty ||
            !Set(1, 2, 4, 8, 16).contains(depth))
            return Left("bad_header")
          // r19: truecolour (2) and truecolour+alpha (6) join the
          // tier — web PNGs are overwhelmingly RGB(A); the output
          // stays the luma plane (the JPEG color tier's contract)
          if (depth != 8 || !(ct == 0 || ct == 2 || ct == 6))
            return Left("unsupported")
          if (u8(b, pos + 18) != 0 || u8(b, pos + 19) != 0 ||
            u8(b, pos + 20) != 0) return Left("unsupported")
          w = ww.toInt; h = hh.toInt; sawIhdr = true
          bpp = if (ct == 0) 1 else if (ct == 2) 3 else 4
        case "IDAT" =>
          if (!sawIhdr) return Left("bad_header")
          idat.write(b, pos + 8, n)
        case "IEND" =>
          if (!sawIhdr) return Left("bad_header")
          sawEnd = true
        case _ => () // ancillary chunk: CRC-verified, content skipped
      }
      pos += 12 + n
    }
    // a scanline = 1 filter byte + width·bpp sample bytes (§9:
    // filters operate on BYTES; `left` is the corresponding byte of
    // the pixel bpp bytes back)
    if (w.toLong * h > 64L * 1024 * 1024) return Left("unsupported")
    val rowBytes = w * bpp
    val expect = h * (1 + rowBytes)
    val flt = new Array[Byte](expect)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val inflated: Either[String, Int] =
      try {
        var got = 0
        var stuck = false
        while (got < expect && !inf.finished() && !stuck) {
          val m = inf.inflate(flt, got, expect - got)
          if (m == 0 && (inf.needsInput() || inf.needsDictionary()))
            stuck = true
          got += m
        }
        if (got < expect) Left("truncated") else Right(got)
      } catch {
        case _: java.util.zip.DataFormatException => Left("bad_deflate")
      } finally inf.end()
    inflated match {
      case Left(r) => Left(r)
      case Right(_) =>
        val chan = new Array[Byte](h * rowBytes)
        var badFilter = false
        var y = 0
        while (y < h && !badFilter) {
          val f = flt(y * (rowBytes + 1)) & 0xff
          if (f > 4) badFilter = true
          else {
            var x = 0
            while (x < rowBytes) {
              val v = flt(y * (rowBytes + 1) + 1 + x) & 0xff
              val left =
                if (x >= bpp) chan(y * rowBytes + x - bpp) & 0xff else 0
              val up =
                if (y > 0) chan((y - 1) * rowBytes + x) & 0xff else 0
              val ul = if (x >= bpp && y > 0)
                chan((y - 1) * rowBytes + x - bpp) & 0xff else 0
              val pred = f match {
                case 0 => 0
                case 1 => left
                case 2 => up
                case 3 => (left + up) / 2
                case _ => paeth(left, up, ul)
              }
              chan(y * rowBytes + x) = ((v + pred) & 0xff).toByte
              x += 1
            }
          }
          y += 1
        }
        if (badFilter) Left("bad_filter")
        else {
          val px = new Array[Int](w * h)
          if (bpp == 1) {
            var i = 0
            while (i < px.length) { px(i) = chan(i) & 0xff; i += 1 }
          } else {
            // REC.601 integer luma, round-half-up in ONE division —
            // the exact rule color-PNG oracles replay; alpha (bpp 4)
            // is ignored, the luma-plane contract
            var i = 0
            while (i < px.length) {
              val o = i * bpp
              px(i) = (299 * (chan(o) & 0xff) +
                587 * (chan(o + 1) & 0xff) +
                114 * (chan(o + 2) & 0xff) + 500) / 1000
              i += 1
            }
          }
          Right((w, h, px))
        }
    }
  }

  /** Distributed pixel decode with position-pinning aggregates — the
    * gate surface for [[decodePngGray]]: per payload (ok, reason,
    * width, height, n_pixels, sum_pix, sum_wpix) where sum_wpix =
    * Σ (y·w + x + 1)·p(x,y) weights every pixel by its position, so
    * ANY defilter or inflate slip moves the output (a plain sum would
    * forgive transposed or re-ordered pixels). Partition-local, no
    * shuffle; payload memory is bounded per row, pixels never leave
    * the task. Format-dispatched since r18 ([[decodeImageGray]]):
    * accepts PNG and baseline-JPEG payloads alike. */
  def pngPixelStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          decodeImageGray(r.media) match {
            case Right((w, h, px)) =>
              var s = 0L; var ws = 0L; var i = 0
              while (i < px.length) {
                s += px(i); ws += (i + 1).toLong * px(i); i += 1
              }
              (r.media_id, true, Option.empty[String], Option(w),
                Option(h), Option(px.length.toLong), Option(s),
                Option(ws))
            case Left(reason) =>
              (r.media_id, false, Option(reason), Option.empty[Int],
                Option.empty[Int], Option.empty[Long],
                Option.empty[Long], Option.empty[Long])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "width", "height", "n_pixels",
        "sum_pix", "sum_wpix")
  }

  /** Perceptual hashes over DECODED pixels — aHash (8×8 block means
    * vs global mean) and dHash (horizontal gradient sign over the 8×8
    * block grid), both in EXACT integer arithmetic so any engine
    * re-derives them: with w,h divisible by 8 every block holds
    * w·h/64 pixels, so "block mean ≥ global mean" is the integer
    * comparison bs·64 ≥ total (no division), and the dHash bit is a
    * raw block-sum compare bs(bx,by) > bs(bx+1,by). The aHash rides
    * as two NON-NEGATIVE 32-bit halves (hi = bits 32–63 of the
    * by·8+bx index order) — a single signed 64-bit hash would trap
    * bit 63 in engine-specific overflow semantics (DuckDB refuses
    * 1<<63); the dHash's 7×8 = 56 bits fit one safe BIGINT. Both are
    * brightness-shift invariant (a uniform +c moves every block sum
    * and the global mean together), which is exactly the perceptual
    * property the near-dup tier needs. Dims not divisible by 8 →
    * `bad_dims` dead letter. Format-dispatched since r18: PNG and
    * baseline-JPEG payloads hash through the same kernel. */
  def imagePerceptualHashes(spark: SparkSession,
      media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          decodeImageGray(r.media) match {
            case Right((w, h, px)) if w % 8 == 0 && h % 8 == 0 =>
              val bw = w / 8; val bh = h / 8
              val bs = Array.ofDim[Long](8, 8)
              var total = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = px(y * w + x)
                  bs(y / bh)(x / bw) += p; total += p
                  x += 1
                }
                y += 1
              }
              var hi = 0L; var lo = 0L; var dh = 0L
              for (by <- 0 until 8; bx <- 0 until 8) {
                val idx = by * 8 + bx
                if (bs(by)(bx) * 64 >= total) {
                  if (idx >= 32) hi |= 1L << (idx - 32)
                  else lo |= 1L << idx
                }
                if (bx < 7 && bs(by)(bx) > bs(by)(bx + 1))
                  dh |= 1L << (by * 7 + bx)
              }
              (r.media_id, true, Option.empty[String], Option(hi),
                Option(lo), Option(dh))
            case Right(_) =>
              (r.media_id, false, Option("bad_dims"),
                Option.empty[Long], Option.empty[Long],
                Option.empty[Long])
            case Left(reason) =>
              (r.media_id, false, Option(reason), Option.empty[Long],
                Option.empty[Long], Option.empty[Long])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "ahash_hi", "ahash_lo", "dhash")
  }

  /** Fixed-point cosine table for [[imageDctHash]] — ONE
    * Scala-computed table shared by the Spark kernel and the oracle
    * SQL builder (`cosMicroSqlValues`), so the two engines agree by
    * construction, not by trusting two trig implementations to round
    * alike: C(u,x) = round(10⁶·cos(π(2x+1)u/32)) for the 16-pixel
    * axis and the 8 retained frequencies. StrictMath keeps the table
    * itself reproducible across JVMs. */
  private[graft] val cosMicro: Array[Array[Long]] =
    Array.tabulate(8, 16)((u, x) =>
      Math.round(1e6 * StrictMath.cos(Math.PI * (2 * x + 1) * u / 32)))

  /** The table as SQL VALUES rows `(u, x, c)` for the oracle CTE. */
  private[graft] def cosMicroSqlValues: String =
    (for (u <- 0 until 8; x <- 0 until 16)
      yield s"($u,$x,${cosMicro(u)(x)})").mkString(", ")

  /** pHash-style DCT perceptual hash (r16) — the frequency-domain
    * third member of the perceptual tier ([[imagePerceptualHashes]]
    * holds the spatial two): the unnormalized 2-D DCT-II of the
    * decoded 16×16 greyscale image in EXACT fixed-point arithmetic
    * (the shared [[cosMicro]] table; per-coefficient sums peak at
    * 255·10¹²·256 ≈ 6.5·10¹⁶ — inside int64), keeping the 8×8
    * low-frequency block minus DC AND minus the (7,7) Nyquist corner
    * = 62 AC coefficients, each thresholded against their exact
    * discrete median (element 30 of the sorted 62 — no
    * interpolation, no floats). Bit u·8+v of the single BIGINT hash
    * (bits 1..62; bits 0 and 63 stay 0, so the value is NON-NEGATIVE
    * — bit 63 would be the sign bit in the JVM and an outright
    * overflow in DuckDB's checked `<<`). Omitting
    * the α(u) normalization is deliberate and documented: the median
    * threshold makes the hash invariant to any GLOBAL scale, and the
    * per-frequency weights only re-rank coefficients — a fixed,
    * engine-replayable variant of the published pHash, not a claim
    * of bit-compatibility with any library. Uniform brightness
    * shifts land entirely in the discarded DC term, so
    * brightness-variant copies hash IDENTICALLY (stronger than
    * aHash's block-mean invariance). Non-16×16 frames dead-letter
    * as `bad_dims`. Format-dispatched since r18: PNG and
    * baseline-JPEG payloads hash through the same kernel. */
  def imageDctHash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          decodeImageGray(r.media) match {
            case Right((16, 16, px)) =>
              (r.media_id, true, Option.empty[String],
                Option(dctHash16(px)))
            case Right(_) =>
              (r.media_id, false, Option("bad_dims"),
                Option.empty[Long])
            case Left(reason) =>
              (r.media_id, false, Option(reason), Option.empty[Long])
          }
        }
      }
      .toDF("media_id", "ok", "reason", "phash")
  }

  /** Near-dup pairs from an [[imageDctHash]] frame — the banded
    * hamming join on the 62-bit (bits 0 and 63 always clear) DCT
    * hash: 4
    * disjoint 16-bit bands, pigeonhole recall to hamming ≤ 3,
    * candidates from a band-keyed equi self-join, true hamming
    * filter after. The q308 move on the frequency-domain hash. */
  /** The fixed-point 8×8 DCT pHash of a decoded 16×16 greyscale
    * pixel array — the [[imageDctHash]] kernel, shared with the
    * per-frame video tier: exact integer cosMicro products, AC
    * median (sorted index 30 of the 62 AC coefficients — DuckDB's
    * quantile_disc(0.5)), bit set iff f > median. */
  private[graft] def dctHash16(px: Array[Int]): Long = {
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var y = 0
        while (y < 16) {
          val cv = cosMicro(v)(y)
          var x = 0
          var rowAcc = 0L
          while (x < 16) {
            rowAcc += px(y * 16 + x) * cosMicro(u)(x)
            x += 1
          }
          acc += rowAcc * cv
          y += 1
        }
        f(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(f, 1, 63)
    java.util.Arrays.sort(ac)
    val med = ac(30)
    var h = 0L
    var i = 1
    while (i < 63) {
      if (f(i) > med) h |= 1L << i
      i += 1
    }
    h
  }

  /** Per-frame DCT pHashes of container-packaged video (r17, VERDICT
    * r16 missing #5 — the composition q326 + q316 left open): walk
    * the MP4 sample table, extract `nFrames` evenly-spaced sample
    * payloads, decode each as a 16×16 greyscale PNG, and emit one
    * (media_id, frame_idx, phash) row per frame — the video's
    * frame-signature sequence. A container failure dead-letters the
    * video with [[sampleMp4Frames]]'s reason vocabulary; a sample
    * that is not a decodable 16×16 PNG dead-letters the WHOLE video
    * as `bad_frame` (a partial signature would alias near-dup
    * distances). Per-row decode; payloads never leave the task. */
  def videoFrameDctHashes(spark: SparkSession, media: DataFrame,
      nFrames: Int): DataFrame = {
    require(nFrames > 0, "videoFrameDctHashes: nFrames must be positive")
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .flatMap { r =>
        extractMp4Samples(r.media, nFrames) match {
          case Right(frames) =>
            val decoded = frames.map { case (idx, bytes) =>
              idx -> decodeImageGray(bytes)
            }
            if (decoded.forall(_._2.exists(t => t._1 == 16 && t._2 == 16)))
              decoded.map { case (idx, Right((_, _, px))) =>
                (r.media_id, true, Option.empty[String], Option(idx),
                  Option(dctHash16(px)))
              case _ => throw new IllegalStateException("unreachable")
              }
            else
              Seq((r.media_id, false, Option("bad_frame"),
                Option.empty[Int], Option.empty[Long]))
          case Left(reason) =>
            Seq((r.media_id, false, Option(reason),
              Option.empty[Int], Option.empty[Long]))
        }
      }
      .toDF("media_id", "ok", "reason", "frame_idx", "phash")
  }

  /** Video near-dup pairs over [[videoFrameDctHashes]] signatures
    * (r17): candidates come from a band-keyed equi-join on FRAME 0's
    * four 16-bit pHash bands — by pigeonhole, Σ-over-frames hamming
    * ≤ 3 forces frame 0's hashes within hamming 3, which forces one
    * identical band (the [[dctNearDupPairs]] argument applied to the
    * sequence head) — then the TRUE distance verifies: equal frame
    * counts, frames joined positionally, total hamming ≤ maxHamming.
    * Never all-pairs; the sequence never leaves its keyed joins. */
  def videoNearDupPairs(frameHashes: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "videoNearDupPairs: 4 bands of 16 guarantee recall only to " +
        s"hamming 3, got $maxHamming")
    val ok = frameHashes.filter(col("ok"))
      .select(col("media_id"), col("frame_idx"), col("phash"))
    val nf = ok.groupBy(col("media_id"))
      .agg(count(lit(1)).as("__nf"))
    val f0 = ok.filter(col("frame_idx") === 0)
    val bands = f0.select(col("media_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("phash"), b * 16)
              .bitwiseAND(lit(65535L)).as("bv"))): _*)).as("bd"))
      .select(col("media_id"), col("bd.band").as("band"),
        col("bd.bv").as("bv"))
    val cand = bands.select(col("media_id").as("id_a"), col("band"),
        col("bv"))
      .join(bands.select(col("media_id").as("id_b"),
          col("band").as("__b2"), col("bv").as("__v2")),
        col("band") === col("__b2") && col("bv") === col("__v2") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val pa = ok.select(col("media_id").as("id_a"), col("frame_idx"),
      col("phash").as("__ha"))
    val pb = ok.select(col("media_id").as("id_b"), col("frame_idx"),
      col("phash").as("__hb"))
    cand.join(pa, Seq("id_a")).join(pb, Seq("id_b", "frame_idx"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(bit_count(col("__ha").bitwiseXOR(col("__hb"))))
        .as("hamming"),
        count(lit(1)).as("__nj"))
      .join(nf.select(col("media_id").as("id_a"), col("__nf").as("__na")),
        Seq("id_a"))
      .join(nf.select(col("media_id").as("id_b"), col("__nf").as("__nb")),
        Seq("id_b"))
      .filter(col("__na") === col("__nb") && col("__nj") === col("__na")
        && col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"),
        col("__na").cast("long").as("n_frames"),
        col("hamming").cast("int").as("hamming"))
  }

  def dctNearDupPairs(hashes: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "dctNearDupPairs: 4 bands of 16 guarantee recall only to " +
        s"hamming 3, got $maxHamming")
    val okh = hashes.filter(col("ok"))
      .select(col("media_id"), col("phash"))
    val banded = okh.select(col("media_id"), col("phash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("phash"), b * 16)
              .bitwiseAND(lit(65535L)).as("bv"))): _*)).as("bd"))
      .select(col("media_id"), col("phash"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    banded.select(col("media_id").as("id_a"),
        col("phash").as("__pa"), col("band"), col("bv"))
      .join(banded.select(col("media_id").as("id_b"),
          col("phash").as("__pb"), col("band").as("__band2"),
          col("bv").as("__bv2")),
        col("band") === col("__band2") && col("bv") === col("__bv2") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__pa"), col("__pb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("__pa").bitwiseXOR(col("__pb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Perceptual near-dup pairs from an [[imagePerceptualHashes]]
    * frame — the banded-hamming LSH join (the q28/q71 SimHash move on
    * image hashes): the 64 aHash bits split into 4 disjoint 16-bit
    * bands; by pigeonhole any pair within hamming ≤ 3 agrees on at
    * least one band EXACTLY, so candidates come from a band-keyed
    * equi self-join (never all pairs), then the true hamming
    * (popcount of the half-wise XORs) filters. Output carries the
    * dHash hamming beside it as the second-opinion diagnostic. All
    * band values non-negative (the halves are), so no sign-extension
    * traps in any engine. */
  def perceptualNearDupPairs(hashes: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "perceptualNearDupPairs: 4 bands of 16 guarantee recall only " +
        s"to hamming 3, got $maxHamming")
    val okh = hashes.filter(col("ok"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("dhash"))
    val banded = okh.select(col("media_id"), col("ahash_hi"),
        col("ahash_lo"), col("dhash"),
        explode(array(
          struct(lit(0).as("band"),
            shiftrightunsigned(col("ahash_hi"), 16).as("bv")),
          struct(lit(1).as("band"),
            col("ahash_hi").bitwiseAND(lit(65535L)).as("bv")),
          struct(lit(2).as("band"),
            shiftrightunsigned(col("ahash_lo"), 16).as("bv")),
          struct(lit(3).as("band"),
            col("ahash_lo").bitwiseAND(lit(65535L)).as("bv"))))
          .as("bd"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("dhash"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    val left = banded.select(col("media_id").as("id_a"),
      col("ahash_hi").as("__ha"), col("ahash_lo").as("__la"),
      col("dhash").as("__da"), col("band"), col("bv"))
    val right = banded.select(col("media_id").as("id_b"),
      col("ahash_hi").as("__hb"), col("ahash_lo").as("__lb"),
      col("dhash").as("__db"), col("band").as("__band2"),
      col("bv").as("__bv2"))
    left.join(right,
        col("band") === col("__band2") && col("bv") === col("__bv2") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__ha"), col("__la"),
        col("__da"), col("__hb"), col("__lb"), col("__db"))
      .distinct() // a pair agreeing on several bands collapses to one
      .withColumn("hamming",
        bit_count(col("__ha").bitwiseXOR(col("__hb"))) +
          bit_count(col("__la").bitwiseXOR(col("__lb"))))
      .withColumn("dhash_hamming",
        bit_count(col("__da").bitwiseXOR(col("__db"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"),
        col("dhash_hamming").cast("int").as("dhash_hamming"))
  }

  /** Row-multiplying frame sampler (video → frames shape): splits the
    * payload into `nFrames` byte slices. SUPERSEDED as of r16 by
    * [[sampleMp4Frames]], which runs the real §8.7 sample-table walk —
    * this byte-slice form stays for its q61 batch-shape gate (the
    * explode-inside-mapPartitions shape, payload-format-agnostic). */
  def sampleFramesStub(spark: SparkSession, media: DataFrame, nFrames: Int = 4): Dataset[Frame] = {
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("media"))
      .as[MediaRow]
      .flatMap { r =>
        val n = math.min(nFrames, math.max(1, r.media.length))
        val step = math.max(1, r.media.length / n)
        (0 until n).iterator.map { i =>
          val from = i * step
          val until = math.min(r.media.length, from + step)
          Frame(r.media_id, i, r.media.slice(from, until))
        }
      }
  }
}

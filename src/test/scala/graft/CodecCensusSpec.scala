package graft

import org.scalatest.funsuite.AnyFunSuite

/** The media codecs in `ops/Multimodal.scala` define each byte-level
  * helper once: one JPEG frame writer and bit reader, one PNG chunk
  * writer, one set of MP4 box and little-endian readers. A second
  * local copy of any of them is the copy-per-variant shape this
  * census keeps out. */
class CodecCensusSpec extends AnyFunSuite {
  private val helpers = Seq(
    "marker", "seg", "dqt", "putSym", "putVal",             // JPEG writer
    "flushEob", "emitEobrun", "emitBr",                     // AC scan coders
    "nextBit", "decodeSym", "receiveExtend",                // JPEG reader
    "pngChunk", "be32a", "boxOf", "le16", "le32")           // PNG, MP4, WAV

  test("each codec helper is defined at most once in Multimodal.scala") {
    val path = java.nio.file.Paths.get("src/main/scala/graft/ops/Multimodal.scala")
    assert(java.nio.file.Files.isRegularFile(path), path.toAbsolutePath)
    val text = java.nio.file.Files.readString(path)
    val copies = helpers.map { h =>
      h -> s"""\\bdef\\s+$h\\b""".r.findAllIn(text).size
    }.filter(_._2 > 1)
    assert(copies.isEmpty,
      copies.map { case (h, n) => s"$h: $n defs" }.mkString(", "))
  }
}

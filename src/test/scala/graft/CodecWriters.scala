package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.JpegFrame

/** The JPEG coefficient writers as [[CodecGoldenSpec]] calls them. The
  * golden spec reaches the writers only through this object, so its
  * matrix and pinned digests stay byte-identical when a writer's
  * signature changes; only this file follows the API. */
object CodecWriters {
  type Quant = (Int, Int) => Int
  type Coeff = (Int, Int, Int) => Int
  type Chroma = (Int, Int, Int, Int) => Int

  def gray(w: Int, h: Int, quant: Quant, coeff: Coeff,
      ri: Int): Array[Byte] =
    Multimodal.encodeJpegCoeffs(w, h, JpegFrame.gray(quant, coeff), ri)

  def grayProg(w: Int, h: Int, quant: Quant, coeff: Coeff, ri: Int,
      bands: Seq[(Int, Int)], al: Int): Array[Byte] =
    Multimodal.encodeJpegProgressiveCoeffs(w, h,
      JpegFrame.gray(quant, coeff), ri, bands, al)

  def color(w: Int, h: Int, hy: Int, vy: Int, quantY: Quant,
      quantC: Quant, coeffY: Coeff, coeffC: Chroma,
      ri: Int): Array[Byte] =
    Multimodal.encodeJpegCoeffs(w, h,
      JpegFrame.ycc(hy, vy, quantY, quantC, coeffY, coeffC), ri)

  def colorProg(w: Int, h: Int, hy: Int, vy: Int, quantY: Quant,
      quantC: Quant, coeffY: Coeff, coeffC: Chroma,
      bands: Seq[(Int, Int)], al: Int): Array[Byte] =
    Multimodal.encodeJpegProgressiveCoeffs(w, h,
      JpegFrame.ycc(hy, vy, quantY, quantC, coeffY, coeffC), 0, bands, al)
}

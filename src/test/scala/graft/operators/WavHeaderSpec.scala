package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Real RIFF/WAVE header decode on synthesized byte streams (the audio
  * sibling of ImageHeaderSpec).
  */
class WavHeaderSpec extends AnyFunSuite {

  /** Build a structurally valid WAV: PCM fmt chunk + data chunk. */
  private def wav(ch: Int, rate: Int, bits: Int, nSamples: Int,
      extraChunk: Boolean = false, fmtCode: Int = 1): Array[Byte] = {
    val ba = ch * bits / 8
    val dataLen = nSamples * ba
    val bb = java.nio.ByteBuffer.allocate(200 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(0); bb.put("WAVE".getBytes)
    if (extraChunk) { // LIST chunk of odd size: exercises word alignment
      bb.put("LIST".getBytes); bb.putInt(5); bb.put(Array[Byte](1, 2, 3, 4, 5, 0))
    }
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(fmtCode.toShort); bb.putShort(ch.toShort); bb.putInt(rate)
    bb.putInt(rate * ba); bb.putShort(ba.toShort); bb.putShort(bits.toShort)
    bb.put("data".getBytes); bb.putInt(dataLen)
    bb.put(new Array[Byte](dataLen))
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  test("PCM 16-bit stereo 44100 Hz decodes exactly") {
    assert(Multimodal.decodeWavHeader(wav(2, 44100, 16, 1000)) ==
      Some((2, 44100, 16, 1000L)))
  }

  test("odd-sized intermediate chunk is word-aligned over") {
    assert(Multimodal.decodeWavHeader(wav(1, 16000, 8, 320, extraChunk = true)) ==
      Some((1, 16000, 8, 320L)))
  }

  test("IEEE-float format code accepted; unknown codes rejected") {
    assert(Multimodal.decodeWavHeader(wav(1, 48000, 32, 10, fmtCode = 3)).isDefined)
    assert(Multimodal.decodeWavHeader(wav(1, 48000, 32, 10, fmtCode = 85)).isEmpty)
  }

  test("non-WAV bytes (text, images, truncated) decode to None") {
    assert(Multimodal.decodeWavHeader("plain text document".getBytes).isEmpty)
    assert(Multimodal.decodeWavHeader(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeWavHeader(wav(2, 44100, 16, 100).take(20)).isEmpty)
  }

  test("decodeAllHeaders: WAV rows get audio metadata, text rows get nulls, nulls safe") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, wav(2, 44100, 16, 500)),
      (2L, "not audio at all".getBytes),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "media")
    val r = Multimodal.decodeAllHeaders(df, "id", "media")
      .orderBy("id").collect()
    assert(r(0).getAs[Int]("channels") == 2 && r(0).getAs[Int]("sample_rate") == 44100 &&
      r(0).getAs[Long]("n_samples") == 500L)
    assert(r(0).isNullAt(r(0).fieldIndex("img_fmt")) && r(0).isNullAt(r(0).fieldIndex("mp4_brand")))
    for (row <- r.drop(1)) assert((1 until row.length).forall(row.isNullAt), row)
  }

  test("planAudioSegments: window arithmetic, short-tail segment, non-wav rows emit nothing") {
    import TestSpark.spark.implicits._
    val df = Seq(
      (1L, wav(ch = 2, rate = 8000, bits = 16, nSamples = 100)),
      (2L, wav(ch = 1, rate = 8000, bits = 8, nSamples = 30)), // fits one window
      (3L, "nope".getBytes),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "media")
    val r = Multimodal.planAudioSegments(df, "id", "media", segSamples = 40)
      .orderBy("id", "seg_idx").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3), x.getInt(4), x.getLong(5)))
    assert(r.toSeq == Seq(
      (1L, 0, 0L, 40L, 4, 160L), (1L, 1, 40L, 40L, 4, 160L), (1L, 2, 80L, 20L, 4, 80L),
      (2L, 0, 0L, 30L, 1, 30L)))
  }
}

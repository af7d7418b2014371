package graft.operators

import java.nio.ByteBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Synthetic ISO BMFF fixtures — built field-by-field from the ISO
  * 14496-12 box layout, no codec libs involved (the container header is
  * the real deliverable; frame decode stays stubbed).
  */
class Mp4HeaderSpec extends AnyFunSuite {

  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + payload.length)
    b.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
    b.array()
  }

  private def ftyp(brand: String): Array[Byte] =
    box("ftyp", brand.getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      brand.getBytes("US-ASCII"))

  private def mvhdV0(timescale: Int, duration: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.putInt(0) // version 0 + flags
    b.putInt(0).putInt(0) // ctime, mtime
    b.putInt(timescale).putInt(duration)
    box("mvhd", b.array())
  }

  private def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(108)
    b.putInt(0x01000000) // version 1
    b.putLong(0L).putLong(0L) // ctime, mtime (64-bit)
    b.putInt(timescale).putLong(duration)
    box("mvhd", b.array())
  }

  test("v0 mvhd: brand, timescale, duration decoded") {
    val mp4 = ftyp("isom") ++ box("free", new Array[Byte](4)) ++
      box("moov", mvhdV0(600, 72000))
    assert(Multimodal.decodeMp4Header(mp4).contains(("isom", 600L, 72000L)))
  }

  test("v1 mvhd with 64-bit duration") {
    val mp4 = ftyp("mp42") ++ box("moov", mvhdV1(90000, 5400000000L))
    assert(Multimodal.decodeMp4Header(mp4).contains(("mp42", 90000L, 5400000000L)))
  }

  test("non-BMFF bytes (text, WAV, truncated) decode to None") {
    assert(Multimodal.decodeMp4Header("hello world not a video".getBytes).isEmpty)
    assert(Multimodal.decodeMp4Header(Array[Byte](0, 0, 0, 8)).isEmpty)
    val truncated = ftyp("isom").dropRight(2)
    assert(Multimodal.decodeMp4Header(truncated).isEmpty)
  }

  test("zero timescale is rejected, not divided by") {
    val mp4 = ftyp("isom") ++ box("moov", mvhdV0(0, 100))
    assert(Multimodal.decodeMp4Header(mp4).isEmpty)
  }

  test("decodeAllHeaders: a BMFF row gets brand, timescale and duration; a text row gets nulls") {
    val spark = TestSpark.spark
    import spark.implicits._
    val video = ftyp("isom") ++ box("moov", mvhdV0(600, 600 * 45))
    val r = Multimodal.decodeAllHeaders(
        Seq((1L, video), (2L, "plain text".getBytes)).toDF("id", "bin"), "id", "bin")
      .orderBy("id").select("id", "mp4_brand", "timescale", "duration_ticks").collect()
    assert(r(0).getString(1) == "isom" && r(0).getLong(2) == 600L && r(0).getLong(3) == 27000L)
    assert(r(1).isNullAt(1) && r(1).isNullAt(2) && r(1).isNullAt(3))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Extracted media features — opaque binary in, typed metadata out. */
final case class MediaFeatures(
    id: Long,
    byte_len: Int,
    fmt: String,
    width: Int,
    height: Int,
    n_frames: Int,
    feat_sum: Long)

/** Multimodal-column plumbing (SURVEY.md §2-C): image/audio/video travel as
  * opaque `binary` columns; decode/feature-extract runs batch-wise inside
  * `mapPartitions`, the Scala analogue of a Pandas UDF — per-partition
  * iterator in, iterator out, with decoder state initialized once per
  * partition (the pattern that amortizes a real model/codec load across the
  * partition at 100 TB scale).
  *
  * Header decode is REAL for PNG/JPEG/GIF (container signatures + dimension
  * fields — no codec needed); payloads that match no image signature fall
  * back to `decodeStub`, a deterministic fake standing in for a full codec +
  * feature head (which doesn't ship in this environment). The oracle table's
  * media column is ASCII text cast to binary — it can never match an image
  * signature — so q44 pins the stub path while ImageHeaderSpec pins the real
  * one.
  */
object Multimodal {

  /** Parse (fmt, width, height) from real image container headers:
    * PNG IHDR (big-endian u32 dims at offsets 16/20 behind the 8-byte
    * signature), JPEG SOFn frame headers (big-endian u16 height/width after
    * the precision byte; DHT/JPG/DAC excluded per ITU T.81 B.2.2), GIF
    * logical screen descriptor (little-endian u16 at 6/8). Returns None for
    * anything that is not a structurally valid image header.
    */
  def decodeImageHeader(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    if (bytes == null) None
    // PNG: 89 50 4E 47 0D 0A 1A 0A, first chunk must be IHDR
    else if (bytes.length >= 24 && be32(0) == 0x89504e47L && be32(4) == 0x0d0a1a0aL &&
      be32(12) == 0x49484452L /* "IHDR" */ ) {
      val w = be32(16); val h = be32(20)
      if (w >= 1 && h >= 1 && w <= Int.MaxValue && h <= Int.MaxValue)
        Some(("png", w.toInt, h.toInt))
      else None
    }
    // JPEG: SOI then marker segments until a SOFn frame header
    else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8 && u8(2) == 0xff) {
      var i = 2
      var out: Option[(String, Int, Int)] = None
      var done = false
      while (!done && i + 3 < bytes.length) {
        if (u8(i) != 0xff) { done = true } // desynced — not a parseable JPEG
        else {
          var j = i
          while (j < bytes.length && u8(j) == 0xff) j += 1 // skip fill bytes
          if (j + 1 >= bytes.length) done = true
          else {
            val marker = u8(j)
            if (marker >= 0xd0 && marker <= 0xd9 || marker == 0x01) i = j + 1 // standalone
            else if (j + 2 >= bytes.length) done = true
            else {
              val segLen = be16(j + 1)
              val isSof = marker >= 0xc0 && marker <= 0xcf &&
                marker != 0xc4 && marker != 0xc8 && marker != 0xcc
              if (isSof) {
                if (j + 8 < bytes.length && segLen >= 8) {
                  val h = be16(j + 4); val w = be16(j + 6)
                  if (w >= 1 && h >= 1) out = Some(("jpg", w, h))
                }
                done = true
              } else if (segLen < 2) done = true
              else i = j + 1 + segLen
            }
          }
        }
      }
      out
    }
    // GIF87a / GIF89a logical screen descriptor
    else if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a') {
      val w = le16(6); val h = le16(8)
      if (w >= 1 && h >= 1) Some(("gif", w, h)) else None
    }
    else None
  }

  /** Parse real RIFF/WAVE audio headers: (channels, sample_rate,
    * bits_per_sample, n_samples). Walks the chunk list (RIFF spec: 4-byte
    * id, le32 size, word-aligned) for `fmt ` (PCM fields, little-endian)
    * and `data` (payload size → sample count via block align). Returns
    * None for anything not structurally a WAV — so text-as-binary columns
    * can never take this path, mirroring decodeImageHeader.
    */
  def decodeWavHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      bytes.length >= i + 4 && (0 until 4).forall(k => u8(i + k) == s.charAt(k))
    if (bytes == null || bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) None
    else {
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // channels, rate, bits, blockAlign
      var dataBytes = -1L
      while (i + 8 <= bytes.length && (fmt.isEmpty || dataBytes < 0)) {
        val size = le32(i + 4)
        if (tag(i, "fmt ") && size >= 16 && i + 8 + 16 <= bytes.length) {
          val audioFormat = le16(i + 8)
          val ch = le16(i + 10)
          val rate = le32(i + 12)
          val blockAlign = le16(i + 20)
          val bits = le16(i + 22)
          // PCM (1) or IEEE float (3) with sane fields only
          if ((audioFormat == 1 || audioFormat == 3) && ch >= 1 && rate >= 1 &&
            rate <= Int.MaxValue && bits >= 1 && blockAlign >= 1)
            fmt = Some((ch, rate.toInt, bits, blockAlign))
        } else if (tag(i, "data")) dataBytes = size
        i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        if (size < 0 || size > Int.MaxValue) return None
      }
      fmt.collect { case (ch, rate, bits, ba) if dataBytes >= 0 =>
        (ch, rate, bits, dataBytes / ba)
      }
    }
  }

  /** STUB decoder — deterministic fake standing in for a real codec
    * (e.g. JPEG decode + CNN feature head). Replace the body, keep the
    * signature.
    */
  def decodeStub(bytes0: Array[Byte]): (String, Int, Int, Int, Long) = {
    // null media columns are common in curation tables: decode as empty
    // rather than failing the task
    val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
    val n = bytes.length // raw byte length (DuckDB oracle: strlen)
    val fmt = (n % 3) match {
      case 0 => "png"
      case 1 => "jpg"
      case _ => "webp"
    }
    // "features" = first 4 code points of the UTF-8 decode — char-based so
    // the SQL oracle (unicode() over substr) agrees on non-ASCII payloads
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    var featSum = 0L
    var i = 0
    var taken = 0
    while (i < s.length && taken < 4) {
      val cp = s.codePointAt(i)
      featSum += cp
      i += Character.charCount(cp)
      taken += 1
    }
    (fmt, 1 + n % 64, 1 + (n * 7) % 64, 1 + n % 8, featSum)
  }

  /** Audio segmentation PLAN over a binary column: one row per fixed-size
    * sample window of each WAV payload — (seg_idx, start_sample,
    * seg_samples, frame_bytes, seg_bytes) — the decode-free slicing step a
    * large-scale AV pipeline runs before shipping windows to feature
    * extractors: boundaries are pure header arithmetic (frame = channels ·
    * bits/8), so the plan costs one header parse per row, no sample decode,
    * and downstream readers fetch exact byte ranges. Non-WAV / null rows
    * emit nothing (mixed-media columns are the norm). The decode behind
    * the plan stays the documented stub — codec libs are out of scope; the
    * batch shape (mapPartitions over the binary column, flat segment
    * output) is the deliverable.
    */
  def planAudioSegments(df: DataFrame, idCol: String, binCol: String,
      segSamples: Int): DataFrame = {
    require(segSamples >= 1, "planAudioSegments: segSamples must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeWavHeader(bytes) match {
            case Some((ch, _, bits, n)) =>
              val frame = ch * (bits / 8)
              val nSegs = ((n + segSamples - 1) / segSamples).toInt
              (0 until nSegs).map { i =>
                val start = i.toLong * segSamples
                val len = math.min(segSamples.toLong, n - start)
                (id, i, start, len, frame, len * frame)
              }
            case None => Iterator.empty
          }
        }
      }
      .toDF("id", "seg_idx", "start_sample", "seg_samples", "frame_bytes",
        "seg_bytes")
  }

  /** Image patch-grid PLAN over a binary column: per image, the ViT-style
    * `patch`×`patch` tiling derived from the header dimensions alone —
    * (nx, ny, n_patches, pad_x, pad_y), where pad is the right/bottom
    * fill the last partial patch needs. The pre-processing bookkeeping a
    * vision-data pipeline computes corpus-wide BEFORE any pixel decode
    * (sequence-length budgeting: n_patches IS the token count of a patch
    * transformer). Non-image / null rows emit nulls (mixed-media safe).
    */
  def planImagePatches(df: DataFrame, idCol: String, binCol: String,
      patch: Int): DataFrame = {
    require(patch >= 1, "planImagePatches: patch must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeImageHeader(bytes) match {
            case Some((fmt, w, h)) =>
              val nx = (w + patch - 1) / patch
              val ny = (h + patch - 1) / patch
              (id, Some(fmt), Some(w), Some(h), Some(nx), Some(ny),
                Some(nx.toLong * ny), Some(nx * patch - w), Some(ny * patch - h))
            case None =>
              (id, None, None, None, None, None, None, None, None)
          }
        }
      }
      .toDF("id", "img_fmt", "width", "height", "nx", "ny", "n_patches",
        "pad_x", "pad_y")
  }

  /** ISO BMFF / MP4 container header decode: walks the top-level box
    * sequence for `ftyp` (major brand) and `moov`, then the moov children
    * for `mvhd` (movie timescale + duration, both version 0 and 1 layouts,
    * 64-bit `largesize` boxes included). Returns (brand, timescale,
    * duration_ticks); duration seconds = ticks / timescale. None for
    * anything not structurally BMFF — text-as-binary can never take this
    * path (same contract as decodeImageHeader / decodeWavHeader). The
    * frame-decode step behind this header stays a stub: codec libs are
    * out of scope; the Spark-side plumbing is the deliverable.
    */
  def decodeMp4Header(bytes: Array[Byte]): Option[(String, Long, Long)] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int): String =
      new String(Array(bytes(i), bytes(i + 1), bytes(i + 2), bytes(i + 3)),
        java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes == null || bytes.length < 16) return None
    // first box must be ftyp (ISO 14496-12 §4.3: "shall be placed as early
    // as possible"; in practice first)
    if (fourcc(4) != "ftyp") return None
    var brand: Option[String] = None
    var mvhd: Option[(Long, Long)] = None
    var i = 0
    while (i + 8 <= bytes.length && (brand.isEmpty || mvhd.isEmpty)) {
      val size32 = be32(i)
      val typ = fourcc(i + 4)
      val (size, hdr) =
        if (size32 == 1 && i + 16 <= bytes.length) (be64(i + 8), 16)
        else (size32, 8)
      if (size < hdr || i + size > bytes.length) return brandResult(brand, mvhd)
      if (typ == "ftyp" && size >= hdr + 4) brand = Some(fourcc(i + hdr))
      else if (typ == "moov") {
        // walk moov children for mvhd
        var j = i + hdr
        val end = i + size.toInt
        while (j + 8 <= end && mvhd.isEmpty) {
          val csize = be32(j)
          if (csize < 8 || j + csize > end) return brandResult(brand, mvhd)
          if (fourcc(j + 4) == "mvhd" && csize >= 8 + 4) {
            val version = u8(j + 8)
            // v0: ctime/mtime 4+4, timescale 4, duration 4 at offset +20
            // v1: ctime/mtime 8+8, timescale 4, duration 8 at offset +28
            // Field reads are bounded by the mvhd box's OWN csize, not just
            // the moov end: a malformed short mvhd must reject rather than
            // read timescale/duration bytes from the next sibling box.
            if (version == 0 && csize >= 8 + 24 && j + 8 + 24 <= end)
              mvhd = Some((be32(j + 20), be32(j + 24)))
            else if (version == 1 && csize >= 8 + 36 && j + 8 + 36 <= end)
              mvhd = Some((be32(j + 28), be64(j + 32)))
          }
          j += csize.toInt
        }
      }
      i += size.toInt
    }
    brandResult(brand, mvhd)
  }

  private def brandResult(brand: Option[String],
      mvhd: Option[(Long, Long)]): Option[(String, Long, Long)] =
    for { b <- brand; (ts, dur) <- mvhd if ts > 0 } yield (b, ts, dur)

  /** All three header families decoded in one mapPartitions pass (image /
    * RIFF-WAVE / ISO-BMFF; at most one decodes per row — container
    * signatures are disjoint). Shuffle-free: one projection per partition
    * over the binary column, the q102 oracle-gate shape. Absent families
    * are null columns.
    */
  def decodeAllHeaders(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val img = decodeImageHeader(bytes)
          val wav = decodeWavHeader(bytes)
          val mp4 = decodeMp4Header(bytes)
          (id,
            img.map(_._1), img.map(_._2), img.map(_._3),
            wav.map(_._1), wav.map(_._2), wav.map(_._3), wav.map(_._4),
            mp4.map(_._1), mp4.map(_._2), mp4.map(_._3))
        }
      }
      .toDF("id", "img_fmt", "width", "height",
        "channels", "sample_rate", "bits", "n_samples",
        "mp4_brand", "timescale", "duration_ticks")
  }

  /** Batch feature extraction over a binary column. */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (codec/model handle)
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeImageHeader(bytes) match {
            case Some((fmt, w, h)) =>
              // real container header: true dims; still images are 1 frame;
              // feat_sum stays the deterministic byte-level feature so the
              // column is total regardless of path
              val (_, _, _, _, featSum) = decodeStub(bytes)
              MediaFeatures(id, bytes.length, fmt, w, h, 1, featSum)
            case None =>
              val (fmt, w, h, frames, featSum) = decodeStub(bytes)
              MediaFeatures(id, bytes.length, fmt, w, h, frames, featSum)
          }
        }
      }
  }
}

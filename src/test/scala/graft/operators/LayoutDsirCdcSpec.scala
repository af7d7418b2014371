package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-computable pins for the round-7 additions: Z-order keys (q118),
  * DSIR importance scoring (q117), and content-defined chunking (q116).
  */
class LayoutDsirCdcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Layout / Z-order ----

  test("mortonKey: interleaves bits of two 3-bit values") {
    // q1=0b101 (5), q2=0b011 (3): bit b of col i lands at b*2+i
    // positions: q1 bits at 0,2,4 -> 1,0,1 ; q2 bits at 1,3,5 -> 1,1,0
    // key = 1<<0 | 1<<1 | 0<<2 | 1<<3 | 1<<4 | 0<<5 = 1+2+8+16 = 27
    val df = Seq((5L, 3L)).toDF("q1", "q2")
    val k = df.select(Layout.mortonKey(Seq(col("q1"), col("q2")), 3).as("z"))
      .head().getLong(0)
    assert(k == 27L)
  }

  test("mortonKey: single column is the identity up to bit width") {
    val df = Seq(Tuple1(41L)).toDF("q")
    val k = df.select(Layout.mortonKey(Seq(col("q")), 6).as("z")).head().getLong(0)
    assert(k == 41L)
  }

  test("quantize: min maps to 0, max maps to 2^bits-1, constant col to 0") {
    val df = Seq((0.0, 0.0, 10.0), (10.0, 0.0, 10.0), (7.0, 7.0, 7.0))
      .toDF("v", "mn", "mx")
    val r = df.select(Layout.quantize(col("v"), col("mn"), col("mx"), 8).as("q"))
      .collect().map(_.getLong(0))
    assert(r.toSeq == Seq(0L, 255L, 0L))
  }

  test("withZorderKey: key is monotone under joint scaling and bounded") {
    val df = (0 until 64).map(i => (i.toLong, (i % 8).toLong, (i / 8).toLong))
      .toDF("id", "x", "y")
    val keyed = Layout.withZorderKey(df, Seq("x", "y"), bits = 3).collect()
    val zs = keyed.map(r => r.getLong(r.fieldIndex("zkey")))
    assert(zs.forall(z => z >= 0 && z < 64))
    assert(zs.distinct.length == 64) // distinct cells -> distinct keys
    // corner points: (0,0) -> 0, (7,7) -> 63
    val byXy = keyed.map(r => ((r.getLong(1), r.getLong(2)),
      r.getLong(r.fieldIndex("zkey")))).toMap
    assert(byXy((0L, 0L)) == 0L && byXy((7L, 7L)) == 63L)
  }

  test("hilbertKey: bijection over the full 16x16 grid with Manhattan-adjacent consecutive cells") {
    val cells = for (x <- 0 until 16; y <- 0 until 16) yield (x, y)
    val r = cells.toDF("x", "y")
      .withColumn("d", Layout.hilbertKey(col("x"), col("y"), bits = 4))
      .collect().map(row => (row.getAs[Long]("d"), (row.getInt(0), row.getInt(1))))
    // bijection: 256 distinct keys covering [0, 256)
    assert(r.map(_._1).sorted.toSeq == (0L until 256L))
    // the defining Hilbert property: walking the curve in key order moves
    // exactly one cell at a time (Morton fails this at quadrant jumps)
    val byD = r.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
    // canonical order-1 orientation scaled up: (0,0) starts, (15,0) ends
    assert(byD.head == ((0, 0)) && byD.last == ((15, 0)))
  }

  test("withHilbertKey: constant column degenerates to a 1-D walk, key bounded") {
    val df = (0 until 32).map(i => (i.toLong, 7.0)).toDF("a", "b")
    val r = Layout.withHilbertKey(df, "a", "b", bits = 4)
      .select("a", "hkey").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.forall { case (_, k) => k >= 0 && k < 256 })
    // quantized b is constant 0 → the walk visits distinct keys per a-bin
    assert(r.map(_._2).distinct.length == 16)
  }

  // ---- DSIR importance scoring ----

  test("importanceScore: target-only features score scale, raw-only score 0") {
    // 2 target docs of pure "tgt" tokens, 2 raw docs of pure "raw" tokens:
    // every bucket a doc touches is exclusively target or exclusively raw.
    val docs = Seq(
      (1L, "tgt tgt tgt", true), (2L, "tgt tgt tgt", true),
      (3L, "raw raw raw", false), (4L, "raw raw raw", false))
      .toDF("doc_id", "text", "is_t")
    val r = Sampling.importanceScore(docs, "doc_id", "text", col("is_t"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(2)))
    assert(r.toSeq == Seq((1L, 1000000L), (2L, 1000000L),
      (3L, 0L), (4L, 0L)))
  }

  test("importanceScore: mixed doc scores between pure extremes, in ratio") {
    // "m" appears in both a target and a raw doc -> its bucket weight is
    // t_b*scale div c_b with t_b=2 (one target doc, 2 occurrences) c_b=4.
    val docs = Seq(
      (1L, "m m", true),
      (2L, "m m", false))
      .toDF("doc_id", "text", "is_t")
    val r = Sampling.importanceScore(docs, "doc_id", "text", col("is_t"))
      .orderBy("doc_id").collect().map(x => (x.getLong(0), x.getLong(2)))
    // bigram "m m" also shared; every feature has w = 2*scale div 4 = 500000
    assert(r.toSeq == Seq((1L, 500000L), (2L, 500000L)))
  }

  test("importanceScore: n_feats counts unigrams plus bigrams") {
    val docs = Seq((1L, "a b c", true)).toDF("doc_id", "text", "is_t")
    val r = Sampling.importanceScore(docs, "doc_id", "text", col("is_t"))
      .head()
    assert(r.getLong(r.fieldIndex("n_feats")) == 5L) // 3 unigrams + 2 bigrams
  }

  // ---- content-defined chunking ----

  test("cdcChunks: boundaries are content-defined and edit-local") {
    // Build two docs that share a long suffix but differ in a prefix
    // insertion; CDC must give the shared suffix chunks identical hashes
    // (the `shared` flag) despite the positional shift.
    val words = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words), (2L, "inserted " + words))
      .toDF("doc_id", "text")
    val r = Dedup.cdcChunks(docs, "doc_id", "text", modulus = 4)
      .orderBy("doc_id", "chunk_idx").collect()
    val shared = r.filter(_.getBoolean(4))
    // the long shared run must produce at least one cross-doc shared chunk
    assert(shared.nonEmpty, "no shared chunks despite 60-token shared suffix")
    // chunk token counts must sum back to the doc token counts
    val sums = r.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(2)).sum)
    assert(sums(1L) == 60 && sums(2L) == 61)
  }

  test("cdcChunks: chunk_idx is dense from 0 per doc") {
    val docs = Seq((7L, (1 to 40).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val idx = Dedup.cdcChunks(docs, "doc_id", "text", modulus = 4)
      .orderBy("chunk_idx").collect().map(_.getInt(1))
    assert(idx.toSeq == idx.indices.toSeq)
  }

  test("cdcChunks: rejects modulus < 2") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.cdcChunks(docs, "doc_id", "text", modulus = 1)
    }
  }

  // ---- winnowing fingerprints ----

  test("winnowFingerprints: every complete window selects, gaps never exceed w") {
    val docs = Seq((1L, (1 to 50).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val pos = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 8)
      .orderBy("pos").collect().map(_.getInt(1))
    // 50 tokens -> 47 grams (pos 0..46), complete windows start at 0..39:
    // window 0 selects within [0,7], window 39 within [39,46], and two
    // consecutive selections can never be more than w apart (the classic
    // winnowing guarantee).
    assert(pos.head <= 7)
    pos.sliding(2).foreach { case Array(a, b) => assert(b - a <= 8) case _ => }
    assert(pos.last >= 39)
  }

  test("winnowFingerprints: a shared run yields identical fingerprints despite shift") {
    val shared = (1 to 40).map("s" + _).mkString(" ")
    val docs = Seq((1L, shared), (2L, "x1 x2 x3 " + shared)).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 8)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    // every doc-1 window [s, s+7] reappears in doc 2 as [s+3, s+10] with
    // identical gram hashes and the same rightmost-tie argmin, so doc 1's
    // fingerprint set must be a subset of doc 2's
    assert(fps(1L).subsetOf(fps(2L)),
      s"shift broke fingerprints: missing ${fps(1L) -- fps(2L)}")
    assert(fps(1L).nonEmpty)
  }

  test("winnowFingerprints: short documents yield no complete window") {
    val docs = Seq((1L, (1 to 10).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    // 10 tokens -> 7 grams < w=8 -> no complete window
    assert(Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 8).count() == 0)
  }

  // ---- snapshot diff ----

  test("snapshotDiff: classifies added/removed/changed/unchanged") {
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newS = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("doc_id", "text")
    val r = Dedup.snapshotDiff(oldS, newS, "doc_id", "text")
      .orderBy("id").collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.toSeq == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
  }
}

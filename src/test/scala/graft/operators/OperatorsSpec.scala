package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit-level behavior of the Layer-C operators on tiny synthetic inputs
  * with hand-computable answers (the sf-scale behavior is oracle-checked
  * through SparkEntry.queries).
  */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "a b c d e f g h"), // exact dup of 1
    (3L, "a b c d e f g x"), // near dup of 1 (shares 2 of 3+3-2... 6-gram shingles)
    (4L, "q r s t u v w z")) // unrelated
    .toDF("doc_id", "text")

  test("exactByHash groups exact duplicates, keeps min id") {
    val r = Dedup.exactByHash(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(r.map(x => (x.getLong(1), x.getLong(2))).toSeq ==
      Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("shingles: k=6 over 8 tokens yields 3 shingles; short docs yield none") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 6)
    assert(sh.where($"id" === 1).count() == 3)
    val short = Seq((9L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.shingles(short, "doc_id", "text", 6).count() == 0)
  }

  test("ngramJaccardPairs finds exact and near duplicates with correct jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 6, threshold = 0.3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    // docs 1,2 identical => jac 1.0 ; 1~3 and 2~3 share 2 of 3 shingles
    // each => 2/(3+3-2) = 0.5
    assert(pairs.toSeq == Seq((1L, 2L, 1.0), (1L, 3L, 0.5), (2L, 3L, 0.5)))
  }

  test("lshNearDupPairs agrees with exact pairs on duplicates") {
    val pairs = Dedup.lshNearDupPairs(docs, "doc_id", "text",
      k = 6, numHashes = 16, bands = 4, threshold = 0.9)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("setSimilarityJoin: exact token-Jaccard pairs at t=1/2 with hand-computed values") {
    // sets: 1={a..h}, 2={a..h}, 3={a..g,x}, 4={q..z}
    // J(1,2)=1, J(1,3)=J(2,3)=7/9 (inter 7, union 9), J(*,4)=0
    val pairs = Dedup.setSimilarityJoin(docs, "doc_id", "text", num = 1, den = 2)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(pairs.toSeq == Seq(
      (1L, 2L, 8L, 1.0), (1L, 3L, 7L, 7.0 / 9), (2L, 3L, 7L, 7.0 / 9)))
  }

  test("setSimilarityJoin: prefix filter is complete vs brute force on a randomized corpus") {
    // 30 docs over a 12-token vocab: dense overlap stresses the prefix
    // bound (every J>=2/3 pair must still share a prefix token)
    val rng = new scala.util.Random(7)
    val vocab = ('a' to 'l').map(_.toString)
    val rdocs = (1L to 30L).map { i =>
      (i, rng.shuffle(vocab).take(4 + rng.nextInt(6)).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.setSimilarityJoin(rdocs, "doc_id", "text", num = 2, den = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = rdocs.collect().map(r => (r.getLong(0), r.getString(1).split(" ").toSet)).toSeq
    val expect = (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size
      if 3 * inter >= 2 * (si.size + sj.size - inter)
    } yield (i, j)).toSet
    assert(got == expect)
  }

  test("setSimilarityJoin: hot-token cap computes jaccard on the capped sets") {
    val hotDocs = Seq(
      (1L, "z a b c"), (2L, "z a b d"), (3L, "z e f g"), (4L, "z h i j"))
      .toDF("doc_id", "text") // z in all 4 docs
    // capped at df<=3: z dropped; sets {a,b,c}/{a,b,d} → J=1/2 kept
    val capped = Dedup.setSimilarityJoin(hotDocs, "doc_id", "text",
      num = 1, den = 2, maxTokenDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(capped.toSeq == Seq((1L, 2L, 3L))) // n_b=3: z not counted
    // uncapped: {z,a,b,c}/{z,a,b,d} → J=3/5 ≥ 1/2 and z-only overlaps stay 0-ish
    val un = Dedup.setSimilarityJoin(hotDocs, "doc_id", "text", num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(un.toSeq == Seq((1L, 2L)))
  }

  test("unimaxSample: waterfilling quotas — capped prefix, fair share, mod-remainder extra") {
    // sources: s1 has 2 rows, s2 has 5, s3 has 6; budget 9, epochs 1
    // caps asc [2,5,6]: 2*3=6<=9 → capped; 5*2=10<=7? no; 6*1<=7? no
    // rem=7, m=2 → 3 each, rem%m=1 → first uncapped (s2) gets 4
    val rows = (1 to 2).map(i => (s"a$i", "s1")) ++
      (1 to 5).map(i => (s"b$i", "s2")) ++ (1 to 6).map(i => (s"c$i", "s3"))
    val df = rows.toDF("id", "src")
    val r = Sampling.unimaxSample(df, "id", "src", budget = 9L)
    val quotas = r.select("src", "quota").distinct().collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(quotas == Map("s1" -> 2L, "s2" -> 4L, "s3" -> 3L))
    val taken = r.groupBy("src").count().collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(taken == Map("s1" -> 2L, "s2" -> 4L, "s3" -> 3L))
  }

  test("unimaxSample: budget above total caps leaves everything capped (no division by zero)") {
    val df = Seq(("a", "s1"), ("b", "s1"), ("c", "s2")).toDF("id", "src")
    val r = Sampling.unimaxSample(df, "id", "src", budget = 100L)
    val quotas = r.select("src", "quota").distinct().collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(quotas == Map("s1" -> 2L, "s2" -> 1L))
    assert(r.count() == 3)
  }

  test("unimaxSample: maxEpochs lifts the cap but sample_rank covers each row once") {
    // s1 has 2 rows, cap at 2 epochs = 4; budget 6, s2 has 4 rows cap 8
    // caps asc [4,8]: 4*2=8<=6? no → uncapped: rem=6 m=2 → 3 each, mod 0
    val df = (Seq(("a", "s1"), ("b", "s1")) ++
      (1 to 4).map(i => (s"c$i", "s2"))).toDF("id", "src")
    val r = Sampling.unimaxSample(df, "id", "src", budget = 6L, maxEpochs = 2)
    val quotas = r.select("src", "quota").distinct().collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(quotas == Map("s1" -> 3L, "s2" -> 3L))
    // s1's quota 3 exceeds its 2 rows: both rows emitted once (epoch
    // replication is the caller's job), s2 contributes 3 of 4
    val taken = r.groupBy("src").count().collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    assert(taken == Map("s1" -> 2L, "s2" -> 3L))
  }

  test("linkageScore: integer FS weights sum per field, null-safe agreement, threshold cut") {
    val recs = Seq(
      (1L, "b1", "x", "p"), (2L, "b1", "x", "p"),     // agree both: 3+2=5
      (3L, "b1", "x", "q"), (4L, "b1", "y", "p"),     // partial agreements
      (5L, "b2", null, "p"), (6L, "b2", null, "p"),   // null<=>null agrees
      (7L, "b3", "x", "p"))                            // lone block: no pair
      .toDF("id", "blk", "f1", "f2")
    val r = Dedup.linkageScore(recs, "id", "blk",
      Seq(("f1", 3, -2), ("f2", 2, -1)), minScore = Int.MinValue)
      .orderBy("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1L, 2L, 5L), (1L, 3L, 2L), (1L, 4L, 0L),
      (2L, 3L, 2L), (2L, 4L, 0L), (3L, 4L, -3L),
      (5L, 6L, 5L)))
    val cut = Dedup.linkageScore(recs, "id", "blk",
      Seq(("f1", 3, -2), ("f2", 2, -1)), minScore = 5).count()
    assert(cut == 2)
  }

  test("linkageScore: maxBlockSize drops degenerate blocks") {
    val recs = (1L to 10L).map(i => (i, "hot", "x", "p")) ++
      Seq((11L, "ok", "x", "p"), (12L, "ok", "x", "p"))
    val df = recs.toDF("id", "blk", "f1", "f2")
    val r = Dedup.linkageScore(df, "id", "blk",
      Seq(("f1", 1, 0)), minScore = 0, maxBlockSize = 5)
      .select("id_a").collect().map(_.getLong(0))
    assert(r.toSeq == Seq(11L))
  }

  test("phraseTag: finds all occurrences, overlapping phrases, 1-based positions") {
    val d = Seq(
      (1L, "a b c a b"),     // "a b" at 1 and 4; "a b c" at 1
      (2L, "x a y b"),       // anchors present, phrases absent
      (3L, "b c"))           // no anchor match for "a ..."
      .toDF("doc_id", "text")
    val r = TextAnalysis.phraseTag(d, "doc_id", "text",
        Seq(("t1", "a b"), ("t2", "a b c")))
      .orderBy("id", "pos", "tag").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getInt(3)))
    assert(r.toSeq == Seq((1L, "t1", 1), (1L, "t2", 1), (1L, "t1", 4)))
  }

  test("kCenterGreedy: seeds at min id, then picks the geometric extremes") {
    val vecs = Seq(
      (1L, Array(1f, 0f)),     // seed (min id)
      (2L, Array(1f, 0.01f)),  // near-duplicate of the seed — never picked
      (3L, Array(-1f, 0f)),    // opposite: farthest from seed
      (4L, Array(0f, 1f)))     // orthogonal: farthest from {1, 3}
      .toDF("vec_id", "embedding")
    val r = Similarity.kCenterGreedy(vecs, k = 3)
      .orderBy("sel_order").collect()
      .map(x => (x.getInt(0), x.getLong(1)))
    assert(r.toSeq == Seq((1, 1L), (2, 3L), (3, 4L)))
    // far_cos grows monotonically: each center is less far than the last
    val f = Similarity.kCenterGreedy(vecs, k = 3).orderBy("sel_order")
      .collect().drop(1).map(_.getDouble(2))
    assert(f.sliding(2).forall(p => p(0) <= p(1)), f.toSeq.toString)
  }

  test("kCenterGreedy: k past the sequential-scan cap is rejected (VERDICT r14 #4)") {
    val vecs = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.kCenterGreedy(vecs, k = 513)
    }
    assert(e.getMessage.contains("sequential corpus scans"))
  }

  test("ngramJaccardPairs hot-shingle cap drops corpus-wide shingles from the representation") {
    // 30 docs sharing one hot 6-gram, each with a unique 7th token: every
    // doc has 2 shingles, one of which (the hot one) appears in all 30
    val hotDocs = (1 to 30).map(i => (i.toLong, s"h1 h2 h3 h4 h5 h6 u$i")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", k = 6, threshold = 0.3)
    assert(uncapped.count() == 30L * 29 / 2) // every pair shares the hot shingle: jac = 1/3
    val capped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", k = 6, threshold = 0.3,
      maxShingleDocFreq = 10)
    assert(capped.count() == 0) // hot shingle dropped; remaining shingles unique per doc
    // cap above the actual doc frequency changes nothing
    val loose = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", k = 6, threshold = 0.3,
      maxShingleDocFreq = 30)
    assert(loose.count() == 30L * 29 / 2)
  }

  test("simhash kernel is bit-identical to the explode + per-bit-sum formulation") {
    val tricky = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a  b"),            // empty token between double spaces
      (3L, "trailing "),       // trailing empty token
      (4L, ""),                // single empty token
      (5L, "日本語 トークン 混在 text")) // non-ASCII code points
      .toDF("doc_id", "text")
    val bits = 30
    // reference formulation: explode + 30 sum aggregates (the pre-kernel shape)
    val tok = tricky.select($"doc_id".as("id"),
      explode(split($"text", " ")).as("tok"))
      .select($"id", graft.functions.graft_hash64($"tok").as("h"))
    val sums = (0 until bits).map(b => sum(shiftright($"h", b) % 2 * 2 - 1).as(s"s$b"))
    val agg = tok.groupBy($"id").agg(sums.head, sums.drop(1): _*)
    val sig = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }
    val expected = agg.select($"id", sig.as("simhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val actual = Dedup.simhash(tricky, "doc_id", "text", bits).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected)
  }

  test("simhash is a pure projection: no shuffle, no explode in the plan") {
    val plan = Dedup.simhash(docs, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("simhash: identical docs share signatures; signature is stable") {
    val r = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) == r(2L))
    assert(r == Dedup.simhash(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap)
  }

  private val vecs = Seq(
    (0L, Seq(1f, 0f, 0f), 0),
    (1L, Seq(0.9f, 0.1f, 0f), 0), // closest to 0
    (2L, Seq(0f, 1f, 0f), 1),
    (3L, Seq(-1f, 0f, 0f), 2))
    .toDF("vec_id", "embedding", "label")

  test("cosineTopK ranks by cosine, excludes self") {
    val r = Similarity.cosineTopK(vecs, vecs.where($"vec_id" === 0), k = 3)
      .orderBy("rn").collect().map(x => x.getLong(1)).toSeq
    assert(r == Seq(1L, 2L, 3L)) // cos: ~0.993, 0, -1
  }

  test("truncatedRecall: overlap counted per query; a neighbor living only in the cut dims is lost") {
    // query 0 = (1, 0, 0, 10). Full 4-dim top-2: id 1 (identical direction,
    // cos 1) then id 2; truncated to 2 dims, id 1's prefix (0.1, 0) still
    // aligns but id 3 (1, 0, 0, -10) becomes IDENTICAL to the query prefix
    // and displaces id 2 — overlap drops to 1.
    val vs = Seq(
      (0L, Seq(1f, 0f, 0f, 10f), "q"),
      (1L, Seq(0.1f, 0f, 0f, 1f), "a"),   // same direction as q: full cos 1
      (2L, Seq(1f, 0.2f, 0f, 9f), "b"),   // close in full space
      (3L, Seq(1f, 0f, 0f, -10f), "c"))   // opposite in dim 4, identical prefix
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.truncatedRecall(vs, vs.where($"vec_id" === 0), k = 2, dims = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((0L, 1L, 2L)), s"got $r") // only one of the true top-2 survives
    // sanity: truncating to the full width loses nothing
    val full = Similarity.truncatedRecall(vs, vs.where($"vec_id" === 0), k = 2, dims = 4)
      .collect().map(x => x.getLong(1)).toSeq
    assert(full == Seq(2L))
  }

  test("embeddingNearDupPairs finds the near pair when tables fit the dim") {
    val r = Similarity.embeddingNearDupPairs(vecs, 0.9, signBits = 1, numTables = 3, dim = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r == Seq((0L, 1L))) // only cos(v0,v1) ~ 0.994 clears 0.9
  }

  test("embeddingNearDupPairs fails loudly on embeddings shorter than declared dim") {
    // dim=8 declared but vectors are 3-dim: without the guard every row
    // hashes past the array end into one null bucket and the self-join
    // silently degenerates to N²/2 (ADVICE r3) — it must raise instead.
    val e = intercept[Exception] {
      Similarity.embeddingNearDupPairs(vecs, 0.9, signBits = 4, numTables = 2, dim = 8)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("embeddingNearDupPairs")), s"unexpected error: $e")
  }

  test("knnPredict majority vote with label tiebreak") {
    val r = Similarity.knnPredict(vecs, vecs.where($"vec_id" === 0), k = 2)
      .head()
    assert(r.getInt(1) == 0) // neighbors 1 (label 0) and 2 (label 1) -> tie -> smaller label
  }

  test("langId/quality survive word lists containing quotes (no SQL splicing)") {
    val d = Seq((1L, "l' amour d' été")).toDF("doc_id", "text")
    val r = TextAnalysis.langId(d, "doc_id", "text",
      markers = Seq("fr" -> Seq("l'", "d'"), "en" -> Seq("the")))
      .head()
    assert(r.getAs[Int]("s_fr") == 2 && r.getAs[String]("predicted") == "fr")
    val q = TextAnalysis.quality(d, "doc_id", "text", stopwords = Seq("l'", "d'")).head()
    assert(q.getAs[Int]("n_stop") == 2)
  }

  test("saltedJoin rejects outer join types that would inflate multiplicity") {
    intercept[IllegalArgumentException](
      Skew.saltedJoin(large, small, "k", 4, "right"))
    intercept[IllegalArgumentException](
      Skew.saltedJoin(large, small, "k", 4, "full_outer"))
  }

  private lazy val large = spark.range(0, 10).toDF("k")
  private lazy val small = Seq((1L, "x")).toDF("k", "v")

  test("multimodal stub tolerates null media") {
    val d = Seq((1L, Array[Byte](65)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "media")
    val r = Multimodal.extractFeatures(d, "doc_id", "media").collect()
      .map(f => f.id -> f.byte_len).toMap
    assert(r == Map(1L -> 1, 2L -> 0))
  }

  test("quality metrics are exact on a known doc") {
    val d = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(d, "doc_id", "text").head()
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_uniq") == 5)
    assert(r.getAs[Int]("n_stop") == 2) // 'the' twice
    assert(math.abs(r.getAs[Double]("ttr") - 5.0 / 6) < 1e-15)
  }

  test("fingerprints: fp_bag invariant under token reordering, fp_content not") {
    val d = Seq((1L, "x y z"), (2L, "z y x")).toDF("doc_id", "text")
    val r = TextAnalysis.fingerprints(d, "doc_id", "text").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val m = r.map(t => t._1 -> (t._2, t._3)).toMap
    assert(m(1L)._2 == m(2L)._2) // bag equal
    assert(m(1L)._1 != m(2L)._1) // content differs
  }

  test("multimodal stub on real binary round-trips deterministic features") {
    val d = Seq((1L, Array[Byte](10, 20, 30, 40, 50)), (2L, Array[Byte]()))
      .toDF("doc_id", "media")
    val r = Multimodal.extractFeatures(d, "doc_id", "media").collect()
      .map(f => f.id -> f).toMap
    assert(r(1L).byte_len == 5 && r(1L).feat_sum == 100 && r(1L).fmt == "webp")
    assert(r(2L).byte_len == 0 && r(2L).feat_sum == 0 && r(2L).width == 1)
  }

  test("VectorMeanAggregator: per-label centroid via typed UDAF") {
    val agg = new VectorMeanAggregator(3).toColumn
    val r = vecs.as[(Long, Seq[Float], Int)]
      .groupByKey(_._3)
      .mapValues(_._2)
      .agg(agg.name("centroid"))
      .collect().toMap
    assert(r(1) == Seq(0.0, 1.0, 0.0))
    val c0 = r(0)
    assert(math.abs(c0.head - 0.95) < 1e-7 && math.abs(c0(1) - 0.05) < 1e-7)
  }

  test("asofJoin: latest right row at-or-before each left ts, per key") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), 101L),
      (2L, ts("2024-01-01 10:00:00"), 200L))
      .toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 9L),
      (1L, ts("2024-01-01 11:00:00"), 11L),
      (1L, ts("2024-01-01 12:00:00"), 12L), // equal ts => <= applies
      (2L, ts("2024-01-01 23:00:00"), 23L)) // after left's ts => null
      .toDF("user_id", "ts", "event_id")
    val r = Temporal.asofJoin(left, right, "user_id", "ts", "event_id")
      .orderBy("user_id", "event_id").collect()
      .map(x => (x.getLong(2), if (x.isNullAt(3)) -1L else x.getLong(3)))
    assert(r.toSeq == Seq((100L, 9L), (101L, 12L), (200L, -1L)))
  }

  test("trainValTestSplit partitions every row exactly once with stable splits") {
    val df = spark.range(0, 1000).toDF("id")
    val split = Sampling.trainValTestSplit(df, "id")
    assert(split.count() == 1000)
    val byGroup = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup.keySet == Set("train", "val", "test"))
    assert(byGroup("train") > 700 && byGroup("train") < 900)
  }

  test("decontaminate: flag selects exactly the benchmark-content docs; remove is its complement") {
    val corpus = Seq((1L, "a b c"), (2L, "d e f"), (3L, "a b c"), (4L, "g h i"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c")).toDF("doc_id", "text")
    val flagged = Decontaminate.flagExact(corpus, bench, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 3L)) // both copies of the contaminated text
    val clean = corpus.join(Decontaminate.flagExact(corpus, bench, "text"), Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 4L))
  }

  test("tokenStats: BPE-ish chunks split contractions, digits, punctuation") {
    val d = Seq((1L, "it's 2025, isn't it?"), (2L, "plain words only")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenStats(d, "doc_id", "text").orderBy("doc_id").collect()
    // it|'s| 2025|,| isn|'t| it|? -> 8 chunks vs 4 ws tokens
    assert(r(0).getInt(1) == 4 && r(0).getInt(2) == 8)
    assert(r(1).getInt(1) == 3 && r(1).getInt(2) == 3)
  }

  test("flagNearNgram: shingle-overlap contamination flags near-copies, not unrelated docs") {
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "b1 b2 b3 b4 b5 b6 b7 b8"),   // exact copy: 3/3 shingles shared
      (2L, "x0 b1 b2 b3 b4 b5 b6 b7 b8"), // near copy: 3/4 shared
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8"),   // unrelated: 0/3
      (4L, "b1 b2 b3"))                  // too short to shingle: out of scope
      .toDF("doc_id", "text")
    val r = Decontaminate.flagNearNgram(corpus, bench, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getBoolean(3))).toMap
    assert(r(1L) == ((3L, true)) && r(2L) == ((3L, true)) && r(3L) == ((0L, false)))
    assert(!r.contains(4L)) // no shingles -> no evidence -> absent (as q31/q65)
  }

  test("flagNearNgram plan: zero-exchange corpus projection (VERDICT r19 stretch #8)") {
    // the probe rewrite: the old shape exploded every corpus shingle and
    // re-aggregated per doc twice; the corpus side must now be a pure
    // hash_hits_64 projection — no Exchange anywhere in the plan
    val bench = Seq((100L, "b1 b2 b3 b4 b5 b6 b7 b8")).toDF("doc_id", "text")
    val corpus = Seq((1L, "b1 b2 b3 b4 b5 b6 b7 b8")).toDF("doc_id", "text")
    val qe = Decontaminate.flagNearNgram(corpus, bench, "doc_id", "text")
      .queryExecution
    assert(!qe.executedPlan.toString.contains("Exchange"), qe.executedPlan.toString)
    // the local fixture constant-folds to a LocalTableScan in the physical
    // plan, so the kernel is pinned on the analyzed plan
    assert(qe.analyzed.toString.contains("hash_hits_64"), qe.analyzed.toString)
    // the benchmark cap fails loudly, not silently
    val e = intercept[IllegalArgumentException] {
      Decontaminate.flagNearNgram(corpus, bench, "doc_id", "text",
        maxBenchHashes = 2)
    }
    assert(e.getMessage.contains("maxBenchHashes"), e.getMessage)
  }

  test("flagNgramCollision: one colliding 13-gram flags, at ANY alignment (the straddling case)") {
    // benchmark: 20 tokens b1..b20
    val bench = Seq((100L, (1 to 20).map("b" + _).mkString(" "))).toDF("doc_id", "text")
    // doc 1 quotes benchmark tokens b5..b17 (13 tokens) mid-document at an
    // offset (position 3) no fixed-shingle alignment hits — q65's ratio
    // rule sees 1/8 shared 6-shingles... the point: ANY window collides.
    val straddle = ((1 to 3).map("x" + _) ++ (5 to 17).map("b" + _) ++ (1 to 4).map("y" + _)).mkString(" ")
    // doc 2 shares only 12 consecutive benchmark tokens — below the rule
    val twelve = ((1 to 4).map("x" + _) ++ (5 to 16).map("b" + _) ++ (1 to 4).map("y" + _)).mkString(" ")
    // doc 3 unrelated; doc 4 too short to window
    val corpus = Seq(
      (1L, straddle), (2L, twelve),
      (3L, (1 to 25).map("c" + _).mkString(" ")),
      (4L, "b1 b2 b3")).toDF("doc_id", "text")
    val r = Decontaminate.flagNgramCollision(corpus, bench, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r(1L) == ((8L, 1L, true)), s"straddling 13-gram must flag: ${r(1L)}")
    assert(r(2L) == ((8L, 0L, false)), s"12 shared tokens must NOT flag: ${r(2L)}")
    assert(r(3L) == ((13L, 0L, false)))
    assert(r(4L) == ((0L, 0L, false))) // short docs stay in the frame, unflagged
    // removal is the complement of the flag: every doc not contaminated
    assert(r.collect { case (id, (_, _, false)) => id }.toSet == Set(2L, 3L, 4L))
  }

  test("flagNgramCollision: zero corpus-side exchanges (projection-only plan)") {
    // a parquet corpus, not a local Seq — ConvertToLocalRelation folds a
    // LocalRelation projection away entirely, hiding the plan under test
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = Seq((100L, (1 to 20).map("b" + _).mkString(" "))).toDF("doc_id", "text")
    val plan = Decontaminate.flagNgramCollision(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decontamination must not shuffle the corpus:\n$plan")
    assert(plan.contains("hash_hits_128"), plan)
  }

  test("benchmarkWindowHashes: bound is enforced, empty benchmark yields an empty probe") {
    val bench = Seq((1L, (1 to 30).map("b" + _).mkString(" "))).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Decontaminate.benchmarkWindowHashes(bench, "text", n = 13, maxHashes = 3)
    }
    val empty = Decontaminate.benchmarkWindowHashes(
      Seq((1L, "too short")).toDF("doc_id", "text"), "text", n = 13)
    assert(empty.isEmpty)
    // an empty probe is legal: nothing flags
    val corpus = Seq((1L, (1 to 20).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val r = corpus.select(
      graft.functions.hash_hits_128(
        graft.functions.rolling_window_hashes(col("text"), 13), empty).as("h"))
      .head().getLong(0)
    assert(r == 0L)
  }

  test("LSH recall: every high-Jaccard pair from the exact path is an LSH pair") {
    // 30 synthetic docs: ten base texts, each with a near-copy (one token
    // changed -> high shingle overlap) and an unrelated doc. Deterministic
    // given the fixed hash family: the exact n-gram pairs at J>=0.5 must
    // all surface through the banded MinHash path with the q32 parameters.
    // 24-token docs, one token changed -> J = 18/20 = 0.9; with 16 hashes /
    // 4 bands the per-pair candidate probability is 1-(1-0.9^4)^4 ≈ 0.986,
    // so ≥80% recall is a safe deterministic floor (fixed hash family).
    val base = (0 until 10).map { i =>
      (0 until 24).map(j => s"w${i}_$j").mkString(" ")
    }
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split(" ")
      Seq(
        (i * 3L, t),
        (i * 3L + 1, ("CHANGED" +: toks.drop(1)).mkString(" ")), // near dup
        (i * 3L + 2, (0 until 24).map(j => s"u${i}_$j").mkString(" ")))
    }.toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 6, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshNearDupPairs(docs, "doc_id", "text", k = 6,
      numHashes = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 10, s"expected the 10 engineered near-dup pairs, got $exact")
    // every LSH pair is exact-verified (candidates re-checked against true
    // Jaccard), so LSH ⊆ exact ALWAYS; recall is probabilistic by design
    assert((lsh -- exact).isEmpty, s"LSH produced unverified pairs ${lsh -- exact}")
    assert(lsh.size >= 8, s"LSH recall below floor: found ${lsh.size}/10 ($lsh)")
  }

  test("redactPii counts and replaces emails, IPs, phone runs in fixed order") {
    val d = Seq(
      (1L, "ping 10.0.0.1 then mail root@host.example then call 020-7946-0958"),
      (2L, "clean text only"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 1 && r(0).getInt(2) == 1 && r(0).getInt(3) == 1)
    assert(r(0).getString(4) == "ping <IP> then mail <EMAIL> then call <PHONE>")
    assert(r(1).getString(4) == "clean text only")
  }

  test("repetition: duplicate fractions, top-word dominance, bigram guard") {
    val d = Seq(
      (1L, "spam spam spam spam"), // all dup: top_word_frac 1.0
      (2L, "a b c d e f"),         // no repetition (top word 1/6 < 0.2)
      (3L, "solo"))                // single token: zero bigrams -> guard
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(r(0).getDouble(2) == 0.75 && r(0).getDouble(4) == 1.0 && r(0).getBoolean(5))
    assert(r(1).getDouble(2) == 0.0 && !r(1).getBoolean(5))
    assert(r(2).getDouble(3) == 0.0) // not NULL/NaN: the /0 guard
  }

  test("suffix policy flags un-allowlisted atomic productive-suffix nouns") {
    import graft.ja.DictEntry
    val bad = DictEntry("観光地", "名詞-一般", "", Array.empty)
    val properNoun = DictEntry("築地", "名詞-固有名詞-地域", "", Array.empty)
    val established = DictEntry("研究者", "名詞-一般", "", Array.empty)
    val issues = graft.tools.DictLint.suffixPolicy(Seq(bad, properNoun, established))
    assert(issues.map(_.surface) == Seq("観光地")) // the q55-regression class
  }

  test("embedded dictionary passes DictLint structural invariants") {
    assert(graft.tools.DictLint.lint().isEmpty)
  }

  test("spark.udf.register: scala closure UDF callable from SQL") {
    spark.udf.register("graft_double_it", (x: Long) => x * 2)
    assert(spark.sql("SELECT graft_double_it(21) AS v").head().getLong(0) == 42L)
  }

  test("spanDedup: first occurrence wins corpus-wide, documents reassembled in order") {
    // spanWords=2 → doc 1: [a b][c d][e f]; doc 2 repeats [c d] and adds its
    // own; doc 3 is entirely spans seen earlier; doc 4 has an odd tail span
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "a b c d"),
      (4L, "x y z"))
      .toDF("doc_id", "text")
    val r = Dedup.spanDedup(d, "doc_id", "text", spanWords = 2)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (1L, 3, 3, "a b c d e f"), // everything first-seen here
      (2L, 2, 1, "x y"),         // [c d] already in doc 1
      (3L, 2, 0, ""),            // both spans seen earlier → empty survivor
      (4L, 2, 1, "z")))          // [x y] in doc 2; odd tail [z] survives
  }

  test("spanDedup: within-document repeats also dedupe to the first span") {
    val d = Seq((7L, "a b a b a b")).toDF("doc_id", "text")
    val r = Dedup.spanDedup(d, "doc_id", "text", spanWords = 2).head()
    assert((r.getInt(1), r.getInt(2), r.getString(3)) == (3, 1, "a b"))
  }

  test("exactSubstringSpans: offset-shifted duplicate found at any alignment, merged maximal") {
    // docs 1 and 2 share the 6-token run "c d e f g h" at DIFFERENT offsets
    // (1 vs 3) — fixed-stride spanDedup misses this at spanWords>=2; every
    // 4-window inside the shared run duplicates, so the merged island spans
    // exactly the run in each doc. doc 3 shares nothing 4 tokens long.
    val d = Seq(
      (1L, "a c d e f g h x y z"),      // run at tokens 1..6 (0-based)
      (2L, "p q r c d e f g h w v u"),  // run at tokens 3..8
      (3L, "a c d m f g h t k j"))      // breaks the run; no other 4-window shared
      .toDF("doc_id", "text")
    val r = Dedup.exactSubstringSpans(d, "doc_id", "text", minLen = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    // windows of len 4 inside "c d e f g h": positions 1,2,3 in doc 1 →
    // span [1, 7); positions 3,4,5 in doc 2 → span [3, 9)
    assert(r.toSeq == Seq((1L, 1L, 7L, 6L, 3L), (2L, 3L, 9L, 6L, 3L)))
  }

  test("exactSubstringSpans: within-document repeat duplicates too; disjoint islands stay split") {
    // "a b c d" occurs twice inside one document with a unique gap wider
    // than minLen — two separate spans, each of one window
    val d = Seq((9L, "a b c d u1 u2 u3 u4 u5 a b c d")).toDF("doc_id", "text")
    val r = Dedup.exactSubstringSpans(d, "doc_id", "text", minLen = 4)
      .orderBy("span_start").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getLong(4)))
    assert(r.toSeq == Seq((0L, 4L, 1L), (9L, 13L, 1L)))
  }

  test("exactSubstringRemove: both copies of a duplicated run are cut, surrounding text survives byte-identical") {
    val d = Seq(
      (1L, "a c d e f g h x y z"),      // shared run "c d e f g h" at tokens 1..6
      (2L, "p q r c d e f g h w v u"),  // same run at tokens 3..8
      (3L, "a c d m f g h t k j"))      // no duplicated 4-window
      .toDF("doc_id", "text")
    val r = Dedup.exactSubstringRemove(d, "doc_id", "text", minLen = 4)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (1L, 10L, 6L, "a x y z"),         // span [1,7) removed
      (2L, 12L, 6L, "p q r w v u"),     // span [3,9) removed
      (3L, 10L, 0L, "a c d m f g h t k j"))) // untouched, byte-identical
  }

  test("exactSubstringRemove: a fully-duplicated document empties to ''") {
    val d = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val r = Dedup.exactSubstringRemove(d, "doc_id", "text", minLen = 4)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq((4L, 4L, ""), (4L, 4L, "")))
  }

  test("exactSubstringSpans: plan is candidates-then-merge — no cross join, one doc-keyed window") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.exactSubstringSpans(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"must never go all-pairs:\n$plan")
    assert(plan.contains("Window"), s"expected the islands window:\n$plan")
  }

  test("fuzzyMatchBlocked: prefix OR suffix block candidates, exact verify, no double-count") {
    val recs = Seq(
      (1L, "jonathan smith"),
      (2L, "jonathon smith"),  // 1 sub; prefix4 AND suffix4 both match 1 → single pair row
      (3L, "jonathan smyth"),  // 1 sub vs 1 (prefix block); 2 vs 2
      (4L, "smith jonathan"),  // word swap: lev>4 from all, never a result
      (5L, "xqzwv aaaaa"))     // shares no block with anyone
      .toDF("id", "name")
    val r = Dedup.fuzzyMatchBlocked(recs, "id", "name", blockLen = 4, maxDist = 4)
      .orderBy("ka", "kb").collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(r.toSeq == Seq((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2)))
  }

  test("fuzzyMatchBlocked contract: edits hitting both block regions exclude the pair") {
    val recs = Seq((1L, "abcdefgh"), (2L, "Xbcdefgi")).toDF("id", "name") // lev=2 but
    // first edit breaks the prefix-4 block, second breaks the suffix-4 block
    assert(Dedup.fuzzyMatchBlocked(recs, "id", "name", blockLen = 4, maxDist = 4).count() == 0)
  }

  test("fuzzyMatchBlocked: maxBlockSize drops a degenerate block; other pass still matches") {
    // all five share the boilerplate prefix "form" (a 5-member prefix
    // block, over the cap of 4 → the whole prefix pass is pruned); only
    // 1-2 share a suffix block and survive via the suffix pass
    val recs = Seq(
      (1L, "form aaaa zz11"), (2L, "form aaab zz11"), (3L, "form bbbb yy22"),
      (4L, "form cccc xx33"), (5L, "form dddd ww44"))
      .toDF("id", "name")
    val capped = Dedup.fuzzyMatchBlocked(recs, "id", "name",
      blockLen = 4, maxDist = 2, maxBlockSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((1L, 2L)), s"got ${capped.mkString(",")}")
    // uncapped, the degenerate prefix block yields the same verified pair
    // plus nothing else here (lev gate), proving the cap only prunes
    val uncapped = Dedup.fuzzyMatchBlocked(recs, "id", "name",
      blockLen = 4, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.toSeq == Seq((1L, 2L)))
  }

  test("sessionize: idle-gap breaks, 1-based ordinals, per-session rollups, tie order") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 10L, ts(0)),    // session 1
      (1L, 11L, ts(60)),   // +60s  same session (gap 100s)
      (1L, 12L, ts(200)),  // +140s -> break, session 2
      (1L, 13L, ts(200)),  // same ts as 12 -> tie broken by id, same session
      (2L, 20L, ts(5))     // separate key
    ).toDF("user_id", "event_id", "ts")
    val r = Temporal.sessionize(ev, "user_id", "ts", "event_id",
        gapUs = 100L * 1000000L)
      .orderBy("user_id", "session_seq").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(5)))
    assert(r.toSeq == Seq(
      (1L, 1L, 2L, 60000000L),  // events 10,11; 60 s span
      (1L, 2L, 2L, 0L),         // events 12,13 at the same instant
      (2L, 1L, 1L, 0L)))
  }

  test("transitionMatrix: journey-local pairs, tie order, exact rates") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 10L, ts(0), "view"), (1L, 11L, ts(1), "click"),
      (1L, 12L, ts(2), "view"), (1L, 13L, ts(2), "buy"), // tie -> id order
      (2L, 20L, ts(0), "view"), (2L, 21L, ts(9), "click")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val r = Temporal.transitionMatrix(ev, "user_id", "ts", "event_id", "event_type")
      .orderBy("from_type", "to_type").collect()
      .map(x => ((x.getString(0), x.getString(1)), (x.getLong(2), x.getLong(3), x.getDouble(4))))
      .toMap
    // from view: ->click twice (u1, u2), ->buy once (the 12->13 tie pair)...
    // wait: pairs are (view,click) u1, (click,view) u1, (view,buy) u1, (view,click) u2
    assert(r(("view", "click")) == ((2L, 3L, 2.0 / 3)))
    assert(r(("view", "buy")) == ((1L, 3L, 1.0 / 3)))
    assert(r(("click", "view")) == ((1L, 1L, 1.0)))
    assert(r.size == 3)
  }

  test("burstDays: calendar baseline, cross-multiply gate, no-baseline days unflagged") {
    import java.sql.Timestamp
    def ts(day: Long, k: Int) = new Timestamp(day * 86400000L + k * 1000L)
    // type A: 1/day on days 0-6, then 10 on day 7 -> 10*7 > 2*7 burst;
    // day 0 has no baseline -> not flagged; type B: flat, never flagged
    val ev = (0L to 6L).map(d => (d * 100, ts(d, 0), "A")) ++
      (1 to 10).map(k => (700L + k, ts(7, k), "A")) ++
      (0L to 3L).map(d => (900 + d, ts(d, 0), "B"))
    val df = ev.toDF("event_id", "ts", "event_type")
    val r = Temporal.burstDays(df, "event_type", "ts", windowDays = 7, multNum = 2)
      .collect().map(x => ((x.getString(0), x.getLong(1)), (x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3), x.getBoolean(4)))).toMap
    assert(r(("A", 0L)) == ((1L, -1L, false)), "first day: null baseline, short history")
    assert(r(("A", 7L)) == ((10L, 7L, true)), "full baseline and 10*7 > 2*7")
    assert(r(("A", 3L)) == ((1L, 3L, false)), "sparse early day gated by the history guard")
    assert(!r.filterKeys(_._1 == "B").values.exists(_._3), "short series never flags")
  }

  test("retentionCohorts: first-seen bucketing, offsets, distinct-user counts") {
    import java.sql.Timestamp
    def ts(day: Long, k: Int) = new Timestamp(day * 86400000L + k * 1000L)
    val ev = Seq(
      (1L, ts(0, 0)), (1L, ts(0, 1)), (1L, ts(2, 0)), // cohort 0: d0 twice, d2
      (2L, ts(0, 0)), (2L, ts(1, 0)),                 // cohort 0: d0, d1
      (3L, ts(2, 0))                                  // cohort 2: d2
    ).toDF("user_id", "ts")
    val r = Temporal.retentionCohorts(ev, "user_id", "ts")
      .orderBy("cohort_day", "day_offset").collect()
      .map(x => ((x.getLong(0), x.getLong(1)), (x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(
      (0L, 0L) -> ((2L, 3L)), // users 1,2 active day 0; 3 events
      (0L, 1L) -> ((1L, 1L)), // user 2 on day 1
      (0L, 2L) -> ((1L, 1L)), // user 1 on day 2
      (2L, 0L) -> ((1L, 1L))), s"got $r")
  }

  test("recencyScore: hand-computed half-life shifts, future clamp, shift cap") {
    import java.sql.Timestamp
    // anchor = 100 days after epoch; half-life 10 days; scale 1000000
    val anchorUs = 100L * 86400000000L
    def ts(day: Long) = new Timestamp(day * 86400000L)
    val ev = Seq(
      (1L, ts(100)),  // age 0   -> 0 halvings -> 1000000
      (1L, ts(85)),   // age 15  -> 1 halving  -> 500000
      (1L, ts(59)),   // age 41  -> 4 halvings -> 62500
      (2L, ts(101)),  // future  -> clamps to age 0 -> 1000000
      (3L, ts(-900))  // age 1000 -> capped 62 halvings -> 0
    ).toDF("user_id", "ts")
    val r = Temporal.recencyScore(ev, "user_id", "ts", anchorUs,
        halfLifeDays = 10)
      .orderBy("user_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1L, 3L, 1562500L, 0L),
      (2L, 1L, 1000000L, 0L),
      (3L, 1L, 0L, 1000L)))
  }
}

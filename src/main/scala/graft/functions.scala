package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, call_function, lit, sqrt, transform, typedLit, zip_with}

/** Public Column API for the engine's functions — the Spark-side analogue
  * of the reference's registered Hive function (README.md:22–29). Requires
  * `Graft.register(spark)` (or the session extension) on the target session.
  */
object functions {

  /** tokenize_ja_neologd(line) with defaults: NORMAL mode, default stop
    * words/tags, no user dictionary.
    */
  def tokenize_ja_neologd(line: Column): Column =
    call_function("tokenize_ja_neologd", line)

  def tokenize_ja_neologd(line: Column, mode: String): Column =
    call_function("tokenize_ja_neologd", line, lit(mode))

  /** Full form. null arguments mean "use default" (reference semantics). */
  def tokenize_ja_neologd(
      line: Column,
      mode: String,
      stopWords: Seq[String],
      stopTags: Seq[String]): Column =
    call_function("tokenize_ja_neologd", line, strOrNull(mode),
      arrOrNull(stopWords), arrOrNull(stopTags))

  def tokenize_ja_neologd(
      line: Column,
      mode: String,
      stopWords: Seq[String],
      stopTags: Seq[String],
      userDictRows: Seq[String]): Column =
    call_function("tokenize_ja_neologd", line, strOrNull(mode),
      arrOrNull(stopWords), arrOrNull(stopTags), arrOrNull(userDictRows))

  def tokenize_ja_neologd_url(
      line: Column,
      mode: String,
      stopWords: Seq[String],
      stopTags: Seq[String],
      userDictUrl: String): Column =
    call_function("tokenize_ja_neologd", line, strOrNull(mode),
      arrOrNull(stopWords), arrOrNull(stopTags), lit(userDictUrl))

  /** Zero-arg version form (reference A11): returns ["<engine version>"]. */
  def tokenize_ja_neologd_version(): Column = call_function("tokenize_ja_neologd")

  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  /** Deterministic polynomial string hash (see graft.expr.GraftHash64).
    * Built directly from the expression — no session registration needed.
    */
  def graft_hash64(c: Column): Column = toCol(graft.expr.GraftHash64(toExpr(c)))

  /** Cosine similarity of two array<float|double> vectors. */
  def cosine_sim(a: Column, b: Column): Column =
    toCol(graft.expr.CosineSimilarity(toExpr(a), toExpr(b)))

  /** Ordered double fold over array<struct<key, v:double>>: sort by
    * (key, v) asc, left-fold v from 0.0 — the codegen replacement for
    * `aggregate(array_sort(ts), 0.0, (acc,x) -> acc + x.v)` (see
    * graft.expr.OrderedStructSum for the exactness/null contract).
    */
  def ordered_struct_sum(c: Column): Column =
    toCol(graft.expr.OrderedStructSum(toExpr(c)))

  /** Integer dot product of two array<bigint> vectors (codegen'd; see
    * graft.expr.LongDot).
    */
  def long_dot(a: Column, b: Column): Column =
    toCol(graft.expr.LongDot(toExpr(a), toExpr(b)))

  /** One-pass word repetition stats [n_tokens, n_distinct_words,
    * n_distinct_bigrams, max_word_count] (codegen'd; see
    * graft.expr.WordRepetitionStats).
    */
  def word_repetition_stats(text: Column): Column =
    toCol(graft.expr.WordRepetitionStats(toExpr(text)))

  /** One-pass token profile [n_tokens, n_distinct, sum_len, n_stopword,
    * n_alpha] (codegen'd; see graft.expr.TokenProfile).
    */
  def token_profile(text: Column, stopwords: Seq[String]): Column =
    toCol(graft.expr.TokenProfile(toExpr(text), stopwords.toIndexedSeq))

  /** Hashes of all k-token shingles of a space-separated text (codegen'd
    * fused split+slice+hash; see graft.expr.ShingleHashes).
    */
  def shingle_hashes(text: Column, k: Int): Column =
    toCol(graft.expr.ShingleHashes(toExpr(text), k))

  /** Token-level content-defined chunks of a space-separated text:
    * `array<struct<chunk_idx:int, n_tokens:int, chunk_hash:bigint>>`, one
    * element per chunk in text order (codegen'd; see graft.expr.CdcChunks).
    * Tokens follow `split(text, " ")`: empty tokens count, and "" is one
    * empty token. A token whose graft_hash64 is ≡ 0 (mod `modulus`) closes
    * its chunk (the empty token always does); `chunk_hash` is graft_hash64
    * of the chunk's text, the input substring from its first token to its
    * last. Null text gives null. `modulus` must be >= 2.
    */
  def cdc_chunks(text: Column, modulus: Int): Column =
    toCol(graft.expr.CdcChunks(toExpr(text), modulus))

  /** 128-bit fingerprints of all win-token windows of a space-separated
    * text, O(n) rolling (codegen'd; see graft.expr.RollingWindowHashes).
    */
  def rolling_window_hashes(text: Column, win: Int): Column =
    toCol(graft.expr.RollingWindowHashes(toExpr(text), win))

  /** Count of the row's 16-byte window fingerprints present in the
    * plan-embedded pair-sorted probe (codegen'd; see graft.expr.HashHits128)
    * — the per-row kernel of n-gram benchmark decontamination
    * (operators.Decontaminate.flagNgramCollision). Build `probe` with
    * Decontaminate.benchmarkWindowHashes.
    */
  def hash_hits_128(hashes: Column, probe: Seq[Long]): Column =
    toCol(graft.expr.HashHits128(toExpr(hashes), probe))

  /** Count of the row's 64-bit hashes present in the plan-embedded sorted
    * probe (codegen'd; see graft.expr.HashHits64) — the long-array sibling
    * of hash_hits_128 that turns shingle-containment and LSH-band checks
    * into pure projections (the streaming ingest-gate shape).
    */
  def hash_hits_64(hashes: Column, probe: Seq[Long]): Column =
    toCol(graft.expr.HashHits64(toExpr(hashes), probe))

  /** Sorted distinct blocklist patterns occurring in `text` — one
    * Aho–Corasick pass regardless of pattern-list size (codegen'd; see
    * graft.expr.AcMatch). The curation blocklist scan: O(n + matches) per
    * row vs O(P·n) for P separate contains calls.
    */
  def ac_match(text: Column, patterns: Array[String]): Column =
    toCol(graft.expr.AcMatch(toExpr(text), patterns.toIndexedSeq))

  /** Row-level BPE segmentation through a plan-embedded ordered merge
    * table (codegen'd; see graft.expr.BpeSegment) — the apply half of
    * operators.TextAnalysis.bpeMerges.
    */
  def bpe_segment(text: Column, merges: Array[Array[String]]): Column = {
    require(merges.forall(_.length == 2),
      "bpe_segment: every merge row must be a (left, right) pair")
    toCol(graft.expr.BpeSegment(toExpr(text),
      merges.map(m => (m(0), m(1))).toIndexedSeq))
  }

  /** Row-level unigram-LM Viterbi segmentation through a plan-embedded
    * (piece, prob) vocabulary (codegen'd; see graft.expr.UnigramSegment) —
    * the decode half of operators.TextAnalysis.unigramLmVocab (Kudo 2018).
    */
  def unigram_segment(text: Column, pieces: Seq[String], probs: Seq[Double],
      unkScore: Double): Column =
    toCol(graft.expr.UnigramSegment(toExpr(text), pieces, probs, unkScore))

  /** Row-level forward–backward expected unigram piece counts (soft-EM
    * E-step, Kudo 2018 §3.2; codegen'd — see graft.expr.UnigramExpected):
    * array<struct<piece, q>> with q the 2^24-quantized posterior mass.
    */
  def unigram_expected(text: Column, pieces: Seq[String], probs: Seq[Double],
      unkScore: Double): Column =
    toCol(graft.expr.UnigramExpected(toExpr(text), pieces, probs, unkScore))

  /** Per-row SimHash signature of a space-separated text (codegen'd fused
    * split+hash+vote; see graft.expr.SimHash64). A pure projection — the
    * scale-safe replacement for explode + per-bit sum aggregation.
    */
  def simhash64(text: Column, bits: Int): Column =
    toCol(graft.expr.SimHash64(toExpr(text), bits))

  /** Hilbert-curve index of a quantized non-negative (x, y) pair at order
    * `bits` (codegen'd static kernel; see graft.expr.HilbertIndex).
    */
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    toCol(graft.expr.HilbertIndex(toExpr(x.cast("long")), toExpr(y.cast("long")), bits))

  /** Index of the cosine-nearest centroid (shuffle-free per-row argmax over
    * plan-embedded centroids; see graft.expr.NearestCentroid).
    */
  /** ±1 sign-matrix projection of a quantized vector (see graft.expr.RandProject). */
  def rand_project(emb: Column, signs: Array[Array[Int]], scale: Long): Column =
    toCol(graft.expr.RandProject(toExpr(emb), signs, scale))

  /** Per-row char stats [n, distinct, collisions] (see graft.expr.CharStats). */
  def char_stats(text: Column): Column = toCol(graft.expr.CharStats(toExpr(text)))

  /** Single-pass writing-system class counts
    * [n_chars, latin, digit, hiragana, katakana, kanji, space]
    * (see graft.expr.ScriptCounts).
    */
  def script_counts(text: Column): Column = toCol(graft.expr.ScriptCounts(toExpr(text)))

  /** Single-pass Gopher repetition-filter integers (Rae et al. 2021 Table
    * A1 — layout at graft.expr.Kernels.repetitionSignals).
    */
  def repetition_signals(text: Column): Column =
    toCol(graft.expr.RepetitionSignals(toExpr(text)))

  /** Fused shingle + MinHash + banding summary
    * `[n_distinct_shingles, band_0, …]` (see graft.expr.MinhashBands).
    */
  def minhash_bands(text: Column, k: Int, aCo: Seq[Long], bCo: Seq[Long],
      bands: Int): Column =
    toCol(graft.expr.MinhashBands(toExpr(text), k, aCo, bCo, bands))

  /** Packed integer-L2 k-means assignment (see graft.expr.KmeansAssign). */
  def kmeans_assign(emb: Column, centroids: Array[Array[Long]], scale: Long): Column =
    toCol(graft.expr.KmeansAssign(toExpr(emb), centroids, scale))

  def nearest_centroid(emb: Column, centroids: Array[Array[Double]]): Column =
    toCol(graft.expr.NearestCentroid(toExpr(emb), centroids))

  /** Dot product of two vectors via ordered fold (zip_with + aggregate —
    * pure built-ins, codegen'd).
    */
  def dot_product(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm of a vector. */
  def l2_norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Unit-normalize a vector — codegen'd expression computing the norm once
    * per row (a transform-lambda formulation re-evaluates the norm fold per
    * element, O(d²)). Zero vector passes through as doubles.
    */
  def l2_normalize(a: Column): Column = toCol(graft.expr.L2Normalize(toExpr(a)))

  private def strOrNull(s: String): Column =
    if (s == null) lit(null).cast("string") else lit(s)

  private def arrOrNull(a: Seq[String]): Column =
    if (a == null) lit(null).cast("array<string>") else typedLit(a)
}

package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.Kernels

/** Text-analysis operators for training-data curation (SURVEY.md §2-C):
  * quality scoring, language ID, token statistics, fingerprinting, TF-IDF,
  * n-grams. All are narrow per-row projections + keyed aggregations —
  * no driver-side state, safe at any scale.
  */
object TextAnalysis {

  private def toks(textCol: Column): Column = split(textCol, " ")

  /** Adjacent-token bigram structs (w1, w2) — the zip_with pattern shared
    * by bigramFluency and knBigramGate: the tail slot pads with null and
    * the filter drops it, so 0/1-token rows yield an empty array (where a
    * sequence(1, size−1) formulation would not). oovBigramGate keeps its
    * own string-concat variant (different output shape, oracle-pinned).
    */
  private def bigramStructs(text: Column): Column = {
    val tk = toks(text)
    filter(
      zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2"))),
      x => x.getField("w1").isNotNull && x.getField("w2").isNotNull)
  }

  /** Sliding-window document chunking for training-sequence preparation:
    * token windows of `chunkSize` advancing by `chunkSize - overlap`, the
    * final window clamped to the document end. Every document yields at
    * least one chunk (short docs yield themselves); ceil is computed in
    * integer arithmetic so the chunk count is exactly reproducible.
    *
    * A pure per-row Generate (projection → posexplode) — no shuffle, no
    * state: at corpus scale it streams through whole-stage codegen and the
    * output partitioning inherits the input's. The token array is
    * materialized as an attribute BEFORE the per-chunk lambda so the split
    * runs once per row, not once per chunk (the higher-order-lambda
    * re-evaluation trap, PLANS.md).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol).as("doc_id"), toks(col(textCol)).as("tk"),
        size(toks(col(textCol))).as("len"))
      .where(col("len") > 0)
      .withColumn("n_chunks", // integer ceil((len-overlap)/stride), ≥ 1
        greatest(lit(1),
          floor((col("len") - lit(overlap) + lit(stride - 1)) / lit(stride)).cast("int")))
      .select(col("doc_id"), col("tk"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => slice(col("tk"), i * stride + 1, lit(chunkSize)))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        size(col("col")).as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Concat-and-split sequence packing — the standard LLM training-data
    * layout: within a shard, documents are concatenated in a deterministic
    * order and the token stream is cut into fixed `contextLen` windows;
    * each document therefore occupies [start_offset, start_offset+n) of
    * its shard's stream and spans bins first_bin..last_bin. One running-sum
    * window per shard (parallelism = #shards, same scaling argument as
    * epochShuffle), all integer arithmetic. Empty documents are excluded
    * (they occupy no span).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      shardCol: String, contextLen: Int): DataFrame = {
    require(contextLen > 0)
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // empty text must contribute no span: split("") is [""] (1 "token"),
    // so the guard is on text length, mirrored in the oracle
    df.where(length(col(textCol)) > 0)
      .select(col(shardCol), col(idCol),
        size(toks(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col(shardCol), col(idCol), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_offset"),
        ((col("cum") - col("n_tokens")) / contextLen).cast("long").as("first_bin"),
        ((col("cum") - 1) / contextLen).cast("long").as("last_bin"))
  }

  /** Whole-document bin packing by first-fit decreasing — the NO-SPLIT
    * example-packing layout ([[packSequences]]'s concat-and-split cuts
    * documents across context windows; SFT/instruction corpora must keep
    * each example whole, so examples are packed into fixed-capacity bins
    * instead — FFD is the classic 11/9·OPT + 6/9 approximation, Johnson
    * 1973). Documents are sharded by `doc_id mod nShards` (a DETERMINISTIC
    * relational key, so the oracle replays the exact same grouping — not
    * Spark's physical partitioning), and each shard runs FFD over its
    * documents in (n_tokens DESC, doc_id ASC) order: first open bin with
    * room takes the document, else a new bin opens. A document longer
    * than the capacity opens its own permanently-overfull bin and is
    * flagged oversize.
    *
    * Scale shape: the per-shard state is ONLY (doc_id, n_tokens) pairs
    * and per-bin remaining capacities — never text — a few tens of MB for
    * a 10⁶-document shard inside one `flatMapGroups` task; nShards scales
    * the layout to any corpus (the epochShuffle parallelism argument).
    * The first-fit search runs on a leftmost-fit SEGMENT TREE over bin
    * remainders (O(log bins) per document — the naive linear scan is
    * O(docs·bins) per shard, hours of single-core CPU at the advertised
    * shard size; round-19 review finding). One token-count projection +
    * one shard-keyed exchange. Shard = `doc_id % nShards` with the SIGN
    * FOLLOWING THE DIVIDEND — both Spark's `%` and DuckDB's `%` truncate
    * toward zero, so the oracle replays the exact grouping for negative
    * ids too (pmod would not).
    *
    * Output per doc: doc_id, shard, bin (0-based within shard),
    * n_tokens, oversize.
    */
  def packBinsFfd(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, nShards: Int = 32): DataFrame = {
    require(capacity > 0 && nShards > 0,
      s"packBinsFfd: need capacity > 0 and nShards > 0, got $capacity/$nShards")
    val spark = df.sparkSession
    import spark.implicits._
    df.where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        (col(idCol).cast("long") % lit(nShards.toLong)).as("shard"),
        size(toks(col(textCol))).as("n_tokens"))
      .as[(Long, Long, Int)]
      .groupByKey(_._2)
      .flatMapGroups { (shard, it) =>
        val docs = it.toArray.sortBy { case (id, _, n) => (-n, id) }
        val ff = new FirstFitTree(capacity)
        docs.iterator.map { case (id, _, n) =>
          (id, shard, ff.place(n), n.toLong, n > capacity)
        }
      }
      .toDF("doc_id", "shard", "bin", "n_tokens", "oversize")
  }

  /** Packing-efficiency dashboard over [[packBinsFfd]]: per shard, bins
    * used vs the ⌈Σtokens / capacity⌉ lower bound and the occupancy rate —
    * the number a training-infra team actually watches (wasted pad tokens
    * = wasted accelerator hours; FFD's gap to the lower bound is the
    * actionable headroom). occupancy_ppm = Σtokens·10⁶ div (bins·capacity)
    * counts oversize bins at their true fill, so a shard of oversize
    * documents can exceed 10⁶ — visible, not clamped. All integer
    * arithmetic; one ≤|shards|-group aggregate over the packing frame.
    */
  def packBinsReport(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, nShards: Int = 32): DataFrame = {
    val packed = packBinsFfd(df, idCol, textCol, capacity, nShards)
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("bin")) + 1).cast("long").as("n_bins"),
        sum(when(col("oversize"), 1L).otherwise(0L)).as("n_oversize"))
      .withColumn("lower_bound",
        expr(s"(n_tokens + ${capacity - 1}L) div ${capacity}L"))
      .withColumn("occupancy_ppm",
        expr(s"(n_tokens * 1000000L) div (n_bins * ${capacity}L)"))
  }

  /** Composed packing layout with OVERSIZE SALVAGE (VERDICT r19 #5):
    * [[packBinsFfd]] can only FLAG a document longer than the capacity and
    * strand it in a permanently-overfull bin; real SFT pipelines either
    * truncate or split such documents. This layout routes each document to
    * the right strategy: fitting documents (n_tokens ≤ capacity) pack
    * whole through the FFD walk; the oversize remainder is SALVAGED
    * through the [[packSequences]] concat-and-split arithmetic at
    * contextLen = capacity, in a per-shard salvage stream separate from
    * the FFD bins (an oversize doc is cut into ⌈n/capacity⌉ windows
    * instead of wasting a bin and losing its tail to padding overflow).
    *
    * Scale shape: ONE token-count projection, localCheckpointed — the
    * frame is slim (doc_id, shard, n_tokens) rows, never text — feeding
    * both branches, then exactly one shard-keyed exchange per stage (the
    * FFD flatMapGroups; the salvage running-sum window). Per-shard task
    * state stays counts + bin remainders.
    *
    * Output per doc: doc_id, shard, layout ('ffd' | 'salvage'), n_tokens,
    * bin_first, bin_last — for 'ffd' both equal the FFD bin; for 'salvage'
    * they span the capacity-sized windows the doc occupies in its shard's
    * salvage stream (documents concatenated in doc_id order, the
    * packSequences contract).
    */
  def packBinsWithSalvage(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, nShards: Int = 32): DataFrame = {
    require(capacity > 0 && nShards > 0,
      s"packBinsWithSalvage: need capacity > 0 and nShards > 0, got $capacity/$nShards")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long").as("doc_id"),
        (col(idCol).cast("long") % lit(nShards.toLong)).as("shard"),
        size(toks(col(textCol))).as("n_tokens"))
      .localCheckpoint()
    val fit = counts.where(col("n_tokens") <= capacity)
      .as[(Long, Long, Int)]
      .groupByKey(_._2)
      .flatMapGroups { (shard, it) =>
        val docs = it.toArray.sortBy { case (id, _, n) => (-n, id) }
        val ff = new FirstFitTree(capacity)
        docs.iterator.map { case (id, _, n) =>
          val b = ff.place(n).toLong
          (id, shard, b, n.toLong)
        }
      }
      .toDF("doc_id", "shard", "bin", "n_tokens")
      .select(col("doc_id"), col("shard"), lit("ffd").as("layout"),
        col("n_tokens"), col("bin").as("bin_first"), col("bin").as("bin_last"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val salvage = counts.where(col("n_tokens") > capacity)
      .withColumn("cum", sum(col("n_tokens").cast("long")).over(w))
      .select(col("doc_id"), col("shard"), lit("salvage").as("layout"),
        col("n_tokens").cast("long").as("n_tokens"),
        // integer `div`, not double `/`+cast (ADVICE r20 #1): the double
        // path rounds past 2^53 of per-shard cumulative tokens while the
        // q232 oracle's `//` stays exact — keep the arithmetic integer
        // end-to-end like packBinsReport (identical results below 2^53,
        // both truncate toward zero on these non-negative operands)
        expr(s"(cum - n_tokens) div ${capacity}L").as("bin_first"),
        expr(s"(cum - 1L) div ${capacity}L").as("bin_last"))
    fit.union(salvage)
  }

  /** The [[packBinsReport]] dashboard extended over the composed
    * [[packBinsWithSalvage]] layout: per shard, documents/bins/tokens per
    * strategy plus salvage_ppm (the fraction of tokens that would have
    * been stranded in overfull FFD bins, now laid out in capacity-sized
    * windows). All integer arithmetic; one ≤|shards|-group aggregate.
    */
  def packSalvageReport(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, nShards: Int = 32): DataFrame = {
    val packed = packBinsWithSalvage(df, idCol, textCol, capacity, nShards)
    packed.groupBy(col("shard"))
      .agg(
        sum(when(col("layout") === "ffd", 1L).otherwise(0L)).as("n_docs_ffd"),
        sum(when(col("layout") === "salvage", 1L).otherwise(0L)).as("n_docs_salvaged"),
        (coalesce(max(when(col("layout") === "ffd", col("bin_last"))), lit(-1L))
          + lit(1L)).as("ffd_bins"),
        (coalesce(max(when(col("layout") === "salvage", col("bin_last"))), lit(-1L))
          + lit(1L)).as("salvage_bins"),
        sum(when(col("layout") === "ffd", col("n_tokens")).otherwise(0L)).as("tokens_ffd"),
        sum(when(col("layout") === "salvage", col("n_tokens")).otherwise(0L)).as("tokens_salvaged"))
      .withColumn("salvage_ppm",
        expr("(tokens_salvaged * 1000000L) div (tokens_ffd + tokens_salvaged)"))
  }

  /** Corpus-frequency quality signals: per document, the mean corpus
    * frequency of its tokens and the fraction of rare tokens (corpus count
    * < minCount) — the integer-arithmetic core of unigram-LM scoring
    * (low mean frequency / high rare ratio ⇒ off-distribution text), kept
    * rational (long ÷ long in double) so it hash-compares bit-for-bit.
    *
    * Two shuffles at scale: the vocabulary aggregation and the doc-keyed
    * re-aggregation; the token→count join is shuffle-keyed on the token
    * (skewed head tokens are AQE-splittable). A bounded top-K vocabulary
    * broadcast would remove the join shuffle at the cost of treating tail
    * tokens as rare — the exact formulation is kept here because the
    * vocabulary is itself corpus-derived and already one hash-agg.
    */
  def corpusFreqScore(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 5): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"), explode(toks(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    tok.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        count(when(col("cnt") < minCount, 1)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_cnt").cast("double") / col("n_tokens")).as("mean_token_freq"),
        (col("n_rare").cast("double") / col("n_tokens")).as("rare_ratio"))
  }

  /** Per-document token statistics + a deterministic quality score in
    * [0,1]: 0.4·TTR + 0.3·(1 − stopword ratio) + 0.3·min(1, n/100).
    * (Integer-derived double arithmetic only — reproducible bit-for-bit.)
    */
  def quality(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and")): DataFrame = {
    // one codegen pass (graft.expr.TokenProfile, r22) replaces the four
    // interpreted per-token HOFs (length fold, isin filter, distinct,
    // size); the stopword set rides the plan as a reference object —
    // word lists with quotes still cannot break (or inject into) the plan.
    // Divisions stay in-plan: long/long `/` is the same IEEE double divide
    // the int/int form produced, so every emitted bit is unchanged.
    val n = element_at(col("__tp"), 1)
    df.select(col(idCol),
        graft.functions.token_profile(col(textCol), stopwords).as("__tp"))
      .select(
        col(idCol),
        n.cast("int").as("n_tokens"),
        element_at(col("__tp"), 2).cast("int").as("n_uniq"),
        element_at(col("__tp"), 4).cast("int").as("n_stop"),
        (element_at(col("__tp"), 3) / n).as("avg_tok_len"))
      .withColumn("ttr", col("n_uniq") / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("quality",
        col("ttr") * 0.4 + (lit(1) - col("stop_ratio")) * 0.3 +
          least(lit(1.0), col("n_tokens") / 100.0) * 0.3)
  }

  /** Marker-word language ID: score = |tokens ∩ markers(lang)|, predict the
    * argmax (ties broken by the fixed language order given).
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
      markers: Seq[(String, Seq[String])] = Seq(
        "en" -> Seq("the", "a", "of", "and"),
        "de" -> Seq("der", "die", "das", "und"),
        "fr" -> Seq("le", "la", "les", "et"),
        "es" -> Seq("el", "los", "las", "y"))): DataFrame = {
    val scored = markers.foldLeft(df.select(col(idCol), col(textCol))) {
      case (d, (lang, words)) =>
        d.withColumn(s"s_$lang",
          size(filter(toks(col(textCol)), x => x.isin(words: _*))))
    }
    val best = markers.map { case (l, _) => col(s"s_$l") }
    val pred = markers.foldRight(lit("und"): Column) { case ((lang, _), alt) =>
      when(col(s"s_$lang") >= greatest(best: _*) && col(s"s_$lang") > 0, lang).otherwise(alt)
    }
    scored.select(Seq(col(idCol)) ++ markers.map { case (l, _) => col(s"s_$l") }
      :+ pred.as("predicted"): _*)
  }

  /** Content fingerprints: fp_content hashes the exact token stream
    * (rolling polynomial hash), fp_bag hashes the sorted distinct token
    * bag — invariant under token reordering, catching shuffled duplicates.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = toks(col(textCol))
    df.select(
      col(idCol),
      graft.functions.graft_hash64(concat_ws(" ", tk)).as("fp_content"),
      graft.functions.graft_hash64(
        concat_ws(" ", array_sort(array_distinct(tk)))).as("fp_bag"))
  }

  /** Top-`topK` global token frequencies with dense rank. Bounded by
    * construction: the count aggregation is partial+final, and the global
    * order materializes as TakeOrderedAndProject (per-partition top-K, then
    * a K-row merge) — NOT a global sort or a single-partition window over
    * the full distinct-token table, which would funnel every distinct token
    * through one task at corpus scale. The rank window then runs over ≤ K
    * rows (a user constant), which is O(K) regardless of corpus size.
    */
  def tokenFreq(df: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    val counts = df.select(explode(toks(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(topK)
    counts.withColumn("rnk",
      dense_rank().over(Window.orderBy(col("n").desc, col("tok"))))
  }

  /** Top-n terms per document by a rational TF·(N/df) weight (oracle-safe:
    * no transcendental functions; ln-based TF-IDF is `tfIdfLog` below).
    */
  def tfIdfTop(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(toks(col(textCol))).as("tok"))
    val docLen = tok.groupBy(col("id")).agg(count(lit(1)).as("len"))
    val tf = tok.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(docLen, Seq("id"))
      .join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tf", col("cnt") / col("len"))
      .withColumn("score", col("tf") * col("n_docs") / col("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= n)
      .select(col("id"), col("tok"), col("cnt"), col("df"), col("score"), col("rn"))
  }

  /** Classic ln-based TF-IDF (engine API; not oracle-compared since libm
    * log bits may differ across engines).
    */
  def tfIdfLog(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(toks(col(textCol))).as("tok"))
    val tf = tok.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfreq, Seq("tok")).crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("cnt") * log(col("n_docs") / col("df")))
  }

  /** Global top word n-grams by frequency. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, limit: Int): DataFrame = {
    df.select(explode(Dedup.gramsOf(toks(col(textCol)), n)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(limit)
  }

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019, the public
    * regex behind BPE chunking), adapted to the java.regex ∩ RE2 subset:
    * the original's trailing-space lookahead is dropped (RE2 has no
    * lookaround), so terminal whitespace runs count as one chunk —
    * deterministic and identical in both engines. Chunks: contractions,
    * optional-space+letters, optional-space+digits, optional-space+other,
    * whitespace runs.
    */
  val BpeChunkRe: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token-count statistics per document: whitespace tokens (the corpus
    * convention) and BPE-ish pre-tokenizer chunks — the quantity an LLM
    * data pipeline budgets by. Pure codegen'd regexp, shuffle-free.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(toks(col(textCol))).as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(BpeChunkRe), lit(0))).as("n_bpe_chunks"),
      length(col(textCol)).as("n_chars"))

  /** PII patterns shared with the DuckDB oracle: kept in the
    * java.util.regex ∩ RE2 common subset (no lookaround, no backrefs) so
    * the SAME pattern string runs in both engines with identical matches.
    * Caveat: `\b` is Unicode-aware in Java but ASCII-only in RE2 — matches
    * agree on ASCII text (this corpus) but can differ where a digit abuts a
    * non-ASCII word character; keep boundary-sensitive patterns
    * digit-delimited if the corpus goes multilingual.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d()\\- ]{6,}\\d"

  /** PII scrubbing for training corpora: emails, IPv4 literals, and
    * phone-shaped digit runs counted (on the original text) and replaced
    * with typed placeholders, in a fixed order (email → ip → phone) so the
    * passes compose deterministically. Pure codegen'd regexp functions —
    * per-row, shuffle-free, safe at any scale.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    def n(re: String) = size(regexp_extract_all(text, lit(re), lit(0)))
    df.select(
      col(idCol),
      n(EmailRe).as("n_emails"),
      n(Ipv4Re).as("n_ips"),
      n(PhoneRe).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))
  }

  /** Gopher/C4-style repetition signals per document (Rae et al. 2021
    * §A1.1 quality heuristics): duplicate-word fraction, duplicate-bigram
    * fraction, and top-word dominance, plus the combined repetitive flag.
    * All ratios are int/int divisions (bit-reproducible in the oracle);
    * the zero-bigram edge is guarded because Spark yields NULL on x/0
    * while DuckDB yields NaN.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String,
      dupWordMax: Double = 0.3, topWordMax: Double = 0.2): DataFrame = {
    // All four integers come from ONE codegen per-row pass
    // (graft.expr.WordRepetitionStats, r22). The r21 form ran three
    // interpreted higher-order expressions per row — an array_sort +
    // struct-fold run-length for the top word (max run over sorted tokens
    // = max hash count, so no sort is needed at all), a zip_with bigram
    // build + array_distinct, and a word array_distinct — profiled as
    // q59's dominant CPU. The divisions below are unchanged (long/long
    // `/` is the same IEEE double divide the int/int form produced), so
    // every emitted bit and the null/short-doc edge semantics are
    // identical: a null text yields a null stats array, which nulls
    // n_tokens/fracs exactly as size(null)/aggregate(null) did, and the
    // n >= 2 guard still lands dup_bigram_frac on 0.0.
    val n = element_at(col("__wr"), 1)
    val nd = element_at(col("__wr"), 2)
    val nb = element_at(col("__wr"), 3)
    val mr = element_at(col("__wr"), 4)
    df.select(col(idCol),
        graft.functions.word_repetition_stats(col(textCol)).as("__wr"))
      .select(
        col(idCol),
        n.cast("int").as("n_tokens"),
        (lit(1) - nd / n).as("dup_word_frac"),
        when(n >= 2, lit(1) - nb / (n - 1))
          .otherwise(lit(0.0)).as("dup_bigram_frac"),
        (mr / n).as("top_word_frac"))
      .withColumn("repetitive",
        col("dup_word_frac") > dupWordMax || col("top_word_frac") > topWordMax)
  }

  /** The FULL Gopher repetition filter (Rae et al. 2021 Table A1) — the
    * thirteen published signals `repetition` (word-level) and
    * `gopherFilter` (length/alpha gates) do not cover: duplicate
    * line/paragraph fractions, duplicate line/paragraph CHARACTER
    * fractions, top-{2,3,4}-gram character coverage, and duplicated
    * {5..10}-gram character coverage (span union — a token under two
    * overlapping duplicated windows counts once). Thresholds default to
    * the paper's Table A1 values; `keep` is their conjunction, emitted as
    * auditable columns (the gopherFilter convention).
    *
    * All thirteen fractions divide exact kernel integers
    * (graft.expr.RepetitionSignals — ONE per-row pass, zero shuffles at
    * any corpus size; the relational formulation explodes the corpus ~9×
    * and shuffles every window), so the DuckDB oracle reproduces every
    * bit with int/int division. Ties in "the most frequent n-gram" are
    * resolved by taking max(count × chars) over distinct n-grams — the
    * deterministic form of the paper's (ambiguous-under-ties) rule;
    * documented here because a filter threshold, not the champion n-gram,
    * is the contract.
    */
  /** The thirteen Table-A1 fraction columns off a `repetition_signals`
    * array column (shared by gopherRepetition and
    * repetitionHealthBySource; layout at Kernels.repetitionSignals).
    */
  private def repetitionFracCols(rs: Column): Seq[Column] = {
    def frac(num: Column, den: Column): Column =
      when(den > 0, num / den).otherwise(lit(0.0))
    val chars = rs.getItem(1)
    Seq(
      frac(rs.getItem(12), rs.getItem(11)).as("dup_line_frac"),
      frac(rs.getItem(14), rs.getItem(13)).as("dup_line_char_frac"),
      frac(rs.getItem(16), rs.getItem(15)).as("dup_para_frac"),
      frac(rs.getItem(18), rs.getItem(17)).as("dup_para_char_frac"),
      frac(rs.getItem(2), chars).as("top_2gram_char_frac"),
      frac(rs.getItem(3), chars).as("top_3gram_char_frac"),
      frac(rs.getItem(4), chars).as("top_4gram_char_frac"),
      frac(rs.getItem(5), chars).as("dup_5gram_char_frac"),
      frac(rs.getItem(6), chars).as("dup_6gram_char_frac"),
      frac(rs.getItem(7), chars).as("dup_7gram_char_frac"),
      frac(rs.getItem(8), chars).as("dup_8gram_char_frac"),
      frac(rs.getItem(9), chars).as("dup_9gram_char_frac"),
      frac(rs.getItem(10), chars).as("dup_10gram_char_frac"))
  }

  private def repetitionKeep(dupLineMax: Double, dupParaMax: Double,
      dupLineCharMax: Double, dupParaCharMax: Double,
      topNgramMax: Seq[Double], dupNgramMax: Seq[Double]): Column = {
    require(topNgramMax.length == 3, "topNgramMax: thresholds for n = 2, 3, 4")
    require(dupNgramMax.length == 6, "dupNgramMax: thresholds for n = 5..10")
    val gates = Seq(
      col("dup_line_frac") <= dupLineMax,
      col("dup_line_char_frac") <= dupLineCharMax,
      col("dup_para_frac") <= dupParaMax,
      col("dup_para_char_frac") <= dupParaCharMax) ++
      topNgramMax.zipWithIndex.map { case (t, i) =>
        col(s"top_${i + 2}gram_char_frac") <= t } ++
      dupNgramMax.zipWithIndex.map { case (t, i) =>
        col(s"dup_${i + 5}gram_char_frac") <= t }
    gates.reduce(_ && _)
  }

  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
      dupLineMax: Double = 0.30, dupParaMax: Double = 0.30,
      dupLineCharMax: Double = 0.20, dupParaCharMax: Double = 0.20,
      topNgramMax: Seq[Double] = Seq(0.20, 0.18, 0.16),
      dupNgramMax: Seq[Double] = Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)): DataFrame = {
    val rs = col("__rs")
    df.select(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.repetition_signals(col(textCol)).as("__rs"))
      .select(col("doc_id") +: rs.getItem(0).as("n_tokens") +: repetitionFracCols(rs): _*)
      .withColumn("keep", repetitionKeep(dupLineMax, dupParaMax,
        dupLineCharMax, dupParaCharMax, topNgramMax, dupNgramMax))
  }

  /** Per-source repetition health rollup — the corpus-dashboard face of
    * [[gopherRepetition]] (composes with corpusReport/q191/q150): for each
    * source, how many docs fail the full Table-A1 conjunction, how many
    * trip the two headline gates individually, and the source-level
    * duplicated-5-gram character ratio as a RATIO OF INTEGER SUMS
    * (Σ covered / Σ chars) — a mean of per-doc double fractions would be
    * accumulation-order-dependent and break the exact-hash oracle gate
    * (the Relational.scala double-sum rule); integer sums reassociate
    * freely, so the one source-keyed aggregate stays map-side-combinable.
    * Scale shape: ONE kernel projection + ONE source-keyed exchange of
    * |sources| × 7 longs.
    */
  def repetitionHealthBySource(df: DataFrame, srcCol: String, textCol: String,
      dupLineMax: Double = 0.30, dupParaMax: Double = 0.30,
      dupLineCharMax: Double = 0.20, dupParaCharMax: Double = 0.20,
      topNgramMax: Seq[Double] = Seq(0.20, 0.18, 0.16),
      dupNgramMax: Seq[Double] = Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)): DataFrame = {
    val rs = col("__rs")
    df.select(
        col(srcCol).as("source"),
        graft.functions.repetition_signals(col(textCol)).as("__rs"))
      .select(col("source") +: rs.getItem(1).as("__tchars") +:
        rs.getItem(5).as("__dup5") +: repetitionFracCols(rs): _*)
      .withColumn("__keep", repetitionKeep(dupLineMax, dupParaMax,
        dupLineCharMax, dupParaCharMax, topNgramMax, dupNgramMax))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("top_2gram_char_frac") > topNgramMax.head, 1L)
          .otherwise(0L)).as("n_top2_fail"),
        sum(when(col("dup_5gram_char_frac") > dupNgramMax.head, 1L)
          .otherwise(0L)).as("n_dup5_fail"),
        sum(col("__dup5")).as("dup5_chars"),
        sum(col("__tchars")).as("token_chars"))
      .withColumn("dup5_char_frac",
        when(col("token_chars") > 0, col("dup5_chars") / col("token_chars"))
          .otherwise(lit(0.0)))
  }

  /** Per-source curation FUNNEL — the attrition dashboard over the
    * sequential gate chain encoding → character diversity → Gopher
    * repetition: for each source, how many docs enter and how many
    * survive each cumulative stage. This is the report a 100 TB curation
    * run is steered by (which source is losing docs, and at WHICH gate),
    * composing [[encodingDamageReport]], [[charDiversityReport]] and
    * [[gopherRepetition]] semantics without paying their three scans.
    *
    * Scale shape: ONE corpus scan evaluating all three codegen kernels
    * (`script_counts`, `char_stats`, `repetition_signals`) in one fused
    * projection — per-row work identical to running the three gates, I/O
    * paid once — then ONE source-keyed aggregate of |sources| × 4 longs
    * (map-side combinable). The gate formulas are kept in lockstep with
    * the standalone reports by a cross-equivalence spec (the booleans
    * must match the three reports joined on doc_id), so a threshold
    * drift fails the suite, not just the oracle.
    */
  def curationFunnelBySource(df: DataFrame, srcCol: String, textCol: String,
      ppmThreshold: Int = 1000, maxCollPermille: Long = 80,
      minDistinct: Long = 10,
      dupLineMax: Double = 0.30, dupParaMax: Double = 0.30,
      dupLineCharMax: Double = 0.20, dupParaCharMax: Double = 0.20,
      topNgramMax: Seq[Double] = Seq(0.20, 0.18, 0.16),
      dupNgramMax: Seq[Double] = Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)): DataFrame = {
    val rs = col("__rs")
    df.select(
        col(srcCol).as("source"),
        graft.functions.script_counts(col(textCol)).as("__sc"),
        graft.functions.char_stats(col(textCol)).as("__cs"),
        graft.functions.repetition_signals(col(textCol)).as("__rs"))
      .select(col("source") +:
        col("__sc").getItem(0).as("__n_chars") +:
        col("__sc").getItem(7).as("__n_repl") +:
        col("__sc").getItem(8).as("__n_ctrl") +:
        col("__cs").getItem(0).as("__cd_chars") +:
        col("__cs").getItem(1).as("__cd_distinct") +:
        col("__cs").getItem(2).as("__cd_coll") +:
        repetitionFracCols(rs): _*)
      // the encodingDamageReport formula (ppm in integer div, sum vs
      // threshold) and the charDiversityReport formula (decimal(38)
      // cross-multiply — coll_num nears n² at 100 TB docs) verbatim
      .withColumn("__damaged",
        (when(col("__n_chars") > 0, expr("__n_repl * 1000000 div __n_chars"))
            .otherwise(0L) +
          when(col("__n_chars") > 0, expr("__n_ctrl * 1000000 div __n_chars"))
            .otherwise(0L)) >= ppmThreshold)
      .withColumn("__gibberish",
        (col("__cd_chars") >= 2 &&
          col("__cd_coll").cast("decimal(38,0)") * 1000 >
            lit(maxCollPermille) * col("__cd_chars").cast("decimal(38,0)") *
              (col("__cd_chars") - 1)) ||
          col("__cd_distinct") < minDistinct)
      .withColumn("__rep_keep", repetitionKeep(dupLineMax, dupParaMax,
        dupLineCharMax, dupParaCharMax, topNgramMax, dupNgramMax))
      .withColumn("__p1", !col("__damaged"))
      .withColumn("__p2", col("__p1") && !col("__gibberish"))
      .withColumn("__p3", col("__p2") && col("__rep_keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__p1"), 1L).otherwise(0L)).as("n_pass_encoding"),
        sum(when(col("__p2"), 1L).otherwise(0L)).as("n_pass_diversity"),
        sum(when(col("__p3"), 1L).otherwise(0L)).as("n_pass_repetition"))
      .withColumn("survival_ppm",
        when(col("n_docs") > 0,
          expr("(n_pass_repetition * 1000000L) div n_docs")).otherwise(0L))
  }

  /** C4/Gopher-style composite document filter (Raffel et al. 2020;
    * Rae et al. 2021): one narrow-projection pass computes the per-doc
    * signals and a boolean per rule, plus the conjunctive `keep` — emitted
    * as columns (not a WHERE) so downstream curation can audit WHY a doc
    * was dropped. All signals are integer-ratio doubles: bit-identical
    * across engines.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, maxDupFrac: Double = 0.5): DataFrame = {
    // one codegen pass (graft.expr.TokenProfile, r22) replaces the three
    // interpreted per-token HOFs (length fold, rlike filter, distinct) —
    // n_alpha's per-char [a-z] check is exactly ^[a-z]+$ on the reachable
    // inputs (see Kernels.tokenProfile); divisions stay in-plan.
    val n = element_at(col("__tp"), 1)
    df.select(col(idCol),
        graft.functions.token_profile(col(textCol), Seq.empty).as("__tp"))
      .select(
        col(idCol),
        n.cast("int").as("n_words"),
        (element_at(col("__tp"), 3) / n).as("mean_word_len"),
        (element_at(col("__tp"), 5) / n).as("alpha_frac"),
        (lit(1) - element_at(col("__tp"), 2) / n).as("dup_frac"))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("r_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("r_dup", col("dup_frac") <= maxDupFrac)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_alpha") && col("r_dup"))
  }

  /** Script/style blocks (content included), then comments, then bare tags.
    * Tags are quote-aware — a `>` inside a quoted attribute value
    * (`data-x="1 > 0"`) does not end the tag. Non-greedy `.*?`, `(?s)`,
    * and non-capturing groups behave identically in Java regex and RE2,
    * so the DuckDB oracle runs the same patterns verbatim.
    */
  val HtmlAttrs = "(?:[^>\"']|\"[^\"]*\"|'[^']*')*"
  val HtmlBlockRe =
    s"(?s)<script\\b$HtmlAttrs>.*?</script>|(?s)<style\\b$HtmlAttrs>.*?</style>"
  val HtmlCommentRe = "(?s)<!--.*?-->"
  val HtmlTagRe = s"<$HtmlAttrs>"

  /** HTML boilerplate stripping for web-crawl curation: drop script/style
    * blocks (with their contents), comments, and tags; decode the common
    * character entities; collapse whitespace runs. `n_tags` counts markup
    * elements on the raw input as a boilerplate-density signal (the
    * text-to-markup ratio filter in jusText/trafilatura-style pipelines).
    *
    * Entity decode order is fixed with `&amp;` LAST, the standard order
    * that keeps `&amp;lt;` decoding to the literal text `&lt;` rather than
    * `<`. Pure codegen'd regexp projection — per-row, shuffle-free.
    */
  def stripHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val raw = col(htmlCol)
    val noMarkup = regexp_replace(
      regexp_replace(
        regexp_replace(raw, HtmlBlockRe, " "),
        HtmlCommentRe, " "),
      HtmlTagRe, " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noMarkup) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    df.select(
      col(idCol),
      size(regexp_extract_all(raw, lit(HtmlTagRe), lit(0))).as("n_tags"),
      trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " ")).as("text"))
  }

  /** Fullwidth ASCII (U+FF01–U+FF5E) → halfwidth, plus curly quotes,
    * en/em dashes, NBSP, and the ideographic space — the 1:1 character
    * repairs, applied via a single translate() pass.
    */
  val NormFrom: String =
    (0xFF01 to 0xFF5E).map(_.toChar).mkString +
      "‘’“”–— 　"
  val NormTo: String =
    (0x21 to 0x7E).map(_.toChar).mkString + "''\"\"--  "

  /** Zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) — deleted outright. */
  val ZeroWidthRe = "[​‌‍﻿]"

  /** C0 controls except \t\n\r (those fold into the whitespace collapse),
    * plus DEL. `\x` escapes parse identically in Java regex and RE2.
    */
  val ControlRe = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Unicode hygiene normalization for scraped text (the deterministic
    * core of an ftfy-style cleanup): fullwidth→halfwidth ASCII, curly
    * quotes/dashes → ASCII, ellipsis → "...", zero-width chars and C0
    * controls stripped, whitespace runs collapsed, ends trimmed. Returns
    * the cleaned text plus a `changed` flag and before/after lengths so a
    * pipeline can measure how dirty each source is.
    *
    * The whitespace collapse uses the explicit class [ \t\n\r] rather than
    * `\s` because Java and RE2 disagree on `\s` membership (\x0B/\f) —
    * both are stripped by ControlRe first, making the engines agree.
    * Single codegen'd projection: per-row, shuffle-free at any scale.
    */
  def normalizeText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val raw = col(textCol)
    val cleaned = trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            replace(translate(raw, NormFrom, NormTo), lit("…"), lit("...")),
            ZeroWidthRe, ""),
          ControlRe, ""),
        "[ \\t\\n\\r]+", " "))
    df.select(
      col(idCol),
      length(raw).as("n_chars_raw"),
      cleaned.as("text"),
      length(cleaned).as("n_chars"),
      (cleaned =!= raw).as("changed"))
  }

  /** Full curation pipeline in one pass — the standard pre-training chain
    * (normalize → quality-gate → exact-dedup-first-wins) composed from the
    * engine's own stages, returning one row per input document with every
    * gate's verdict and the final keep decision. The per-row stages
    * (normalize, token/alpha/repetition gates) fuse into a single
    * whole-stage-codegen projection; the only shuffle is the dedup window
    * keyed by the 128-bit content fingerprint of the NORMALIZED text
    * (dedup after normalization is the order that catches
    * formatting-variant duplicates). At 100 TB: one exchange, digest-keyed.
    */
  def curate(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 10, maxWords: Int = 100000,
      maxDupFrac: Double = 0.5): DataFrame = {
    val cleaned = normalizeText(df, idCol, textCol)
      .select(col(idCol), col("text").as("clean"))
    val tk = toks(col("clean"))
    val n = size(tk)
    val gated = cleaned.select(
      col(idCol),
      col("clean"),
      n.as("n_tokens"),
      (n >= minWords && n <= maxWords).as("pass_length"),
      ((lit(1) - size(array_distinct(tk)) / n) <= maxDupFrac).as("pass_dup"))
    gated
      .withColumn("copy_rank", row_number().over(
        Window.partitionBy(md5(col("clean"))).orderBy(col(idCol))))
      .withColumn("pass_unique", col("copy_rank") === 1)
      .withColumn("keep",
        col("pass_length") && col("pass_dup") && col("pass_unique"))
      .drop("clean")
  }

  /** Inverted index (posting lists) over a tokenized corpus — the search/
    * retrieval primitive of a training-data pipeline (contamination lookup,
    * corpus exploration): one row per term with document frequency and the
    * ordered postings [(doc_id, positions)], low-DF terms prunable via
    * `minDf`. Scale shape: ONE shuffle keyed by term; positions are
    * gathered per (term, doc) by a map-side-combinable collect_list whose
    * state is bounded by a single document's occurrences of one term, then
    * postings per term bounded by document frequency — for web-scale DF
    * skew (stopword terms), shard hot terms by a doc_id prefix before the
    * final gather.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      minDf: Int = 1): DataFrame = {
    val posed = df.select(col(idCol).as("doc_id"),
      posexplode(toks(col(textCol))).as(Seq("pos", "term")))
    posed
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"),
        count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        sort_array(collect_list(struct(col("doc_id"), col("positions"))))
          .as("postings"))
      .where(col("df") >= minDf)
  }

  /** Encoding-damage gate: per-document counts of U+FFFD replacement
    * characters (the residue of every failed charset decode upstream) and
    * of C0/DEL control characters outside \t\n\r — mojibake and
    * binary-contamination tells no quality LM filter catches, because the
    * damaged text still "reads" as tokens. Integer ppm densities (the
    * corpus-wide determinism convention), gate fires when their sum
    * reaches `ppmThreshold`. Pure built-in projection — codegen, zero
    * shuffle at any corpus size; empty docs report 0 ppm, undamaged.
    */
  def encodingDamageReport(df: DataFrame, idCol: String, textCol: String,
      ppmThreshold: Int = 1000): DataFrame = {
    // ONE script_counts char pass (slots 0/7/8), zero regex scans — the
    // q199 kernel shape (VERDICT r17 #4); the two-regex form survives as
    // the TextHygieneSpec parity oracle
    df.select(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.script_counts(col(textCol)).as("__sc"))
      .select(
        col("doc_id"), col("__sc").getItem(0).as("n_chars"),
        col("__sc").getItem(7).as("n_replacement"), col("__sc").getItem(8).as("n_ctrl"))
      .withColumn("replacement_ppm", // div, not /: Column./ is double division
        when(col("n_chars") > 0, expr("n_replacement * 1000000 div n_chars"))
          .otherwise(0L))
      .withColumn("ctrl_ppm",
        when(col("n_chars") > 0, expr("n_ctrl * 1000000 div n_chars"))
          .otherwise(0L))
      .withColumn("damaged",
        col("replacement_ppm") + col("ctrl_ppm") >= ppmThreshold)
  }

  /** Script-mix profile: per-document character counts by writing-system
    * class (latin letters, digits, hiragana, katakana, kanji, space,
    * other) plus the dominant script under a fixed priority tiebreak —
    * the signal that separates "Japanese doc", "code-switched doc", and
    * "ascii-art/table junk" where token-level language-ID (q39) sees only
    * whitespace-delimited words. ONE codegen char pass per row
    * (graft.expr.ScriptCounts — the original seven-regex built-in
    * projection scanned every row seven times; sf0.1 is overhead-bound
    * either way at ~0.63 s — the 7x per-byte win is the 100 TB term)
    * with identical class ranges, so the DuckDB regex mirror
    * is unchanged. Zero shuffle at any corpus size.
    */
  def scriptMixReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val out = df.select(
      col(idCol).cast("long").as("doc_id"),
      graft.functions.script_counts(col(textCol)).as("sc"))
      .select(
        col("doc_id"),
        col("sc").getItem(0).as("n_chars"),
        col("sc").getItem(1).as("n_latin"),
        col("sc").getItem(2).as("n_digit"),
        col("sc").getItem(3).as("n_hiragana"),
        col("sc").getItem(4).as("n_katakana"),
        col("sc").getItem(5).as("n_kanji"),
        col("sc").getItem(6).as("n_space"))
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_digit") - col("n_hiragana")
          - col("n_katakana") - col("n_kanji") - col("n_space"))
    // dominant script: first max in a FIXED priority order (total order —
    // the oracle mirrors the same CASE chain). A doc with zero SCRIPT
    // characters (whitespace-only, or whitespace+space-class only) labels
    // 'space', not a confident 'latin' from an all-zero >= test
    // (round-17 review finding — the ascii-art/table-junk class).
    out.withColumn("dominant", dominantScriptCase)
  }

  /** The scriptMixReport priority CASE over its unpacked count columns —
    * shared with fertilityByScript so the two operators can never drift.
    */
  private def dominantScriptCase: Column =
    when(col("n_chars") === 0, lit("empty"))
      .when(col("n_latin") + col("n_digit") + col("n_hiragana")
        + col("n_katakana") + col("n_kanji") + col("n_other") === 0, lit("space"))
      .when(col("n_latin") >= greatest(col("n_digit"), col("n_hiragana"),
        col("n_katakana"), col("n_kanji"), col("n_other")), lit("latin"))
      .when(col("n_digit") >= greatest(col("n_hiragana"), col("n_katakana"),
        col("n_kanji"), col("n_other")), lit("digit"))
      .when(col("n_hiragana") >= greatest(col("n_katakana"), col("n_kanji"),
        col("n_other")), lit("hiragana"))
      .when(col("n_katakana") >= greatest(col("n_kanji"), col("n_other")), lit("katakana"))
      .when(col("n_kanji") >= col("n_other"), lit("kanji"))
      .otherwise(lit("other"))

  /** Tokenizer fertility by writing system (the multilingual-tokenizer
    * health metric — fertility = subword tokens per whitespace word — that
    * XLM-R/NLLB-class reports break down per script to show which writing
    * systems a shared vocabulary over- or under-segments): each document
    * is labeled with its dominant script (the scriptMixReport CASE, shared
    * verbatim) and segmented by the corpus-learned BPE merge table
    * (graft.expr.BpeSegment, the q187 apply path); per script class the
    * report sums words / subword symbols / chars as integers — the
    * consumer divides, but two integer-div ppm rates ship for dashboards.
    *
    * Scale shape: ONE corpus scan evaluates both codegen kernels
    * (script_counts + bpe_segment) in a fused projection — fertility is a
    * zero-shuffle per-row computation until the ≤8-class aggregate. The
    * merge table rides the plan as a literal (the q187 precedent); no
    * join, no second scan at any corpus size.
    */
  def fertilityByScript(df: DataFrame, idCol: String, textCol: String,
      merges: Array[Array[String]]): DataFrame = {
    val perDoc = df.select(
        col(idCol).cast("long").as("doc_id"),
        graft.functions.script_counts(col(textCol)).as("sc"),
        size(filter(toks(col(textCol)), w => length(w) > 0))
          .cast("long").as("n_words"),
        size(graft.functions.bpe_segment(col(textCol), merges))
          .cast("long").as("n_syms"))
      .select(col("doc_id"),
        col("sc").getItem(0).as("n_chars"),
        col("sc").getItem(1).as("n_latin"),
        col("sc").getItem(2).as("n_digit"),
        col("sc").getItem(3).as("n_hiragana"),
        col("sc").getItem(4).as("n_katakana"),
        col("sc").getItem(5).as("n_kanji"),
        col("sc").getItem(6).as("n_space"),
        col("n_words"), col("n_syms"))
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_digit") - col("n_hiragana")
          - col("n_katakana") - col("n_kanji") - col("n_space"))
      .withColumn("dominant", dominantScriptCase)
    perDoc.groupBy(col("dominant"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_syms")).as("sum_syms"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("fertility_ppm",
        when(col("sum_words") > 0,
          expr("(sum_syms * 1000000) div sum_words")).otherwise(lit(0L)))
      .withColumn("chars_per_sym_ppm",
        when(col("sum_syms") > 0,
          expr("(sum_chars * 1000000) div sum_syms")).otherwise(lit(0L)))
  }

  /** Heaps-law vocabulary growth curve: cumulative distinct-token counts
    * at ten document-id deciles — the corpus-health diagnostic that says
    * whether a source is still contributing new vocabulary or repeating
    * itself (sub-linear growth flattening early = heavy duplication or
    * template text). Integer-exact: a token's first appearance is
    * min(doc_id), its decile is ceil(fd·10/m) in integer arithmetic.
    *
    * Scale shape: one explode + token-keyed min aggregate (the q41 class),
    * a ≤10-row per-decile count, and the ≤10 (bucket, count) rows collect
    * to the driver (bounded, the IVF-fit class) where the cumulative sum
    * becomes a literal 10-row result frame — no unpartitioned window at
    * any corpus size.
    *
    * Deciles span [min(doc_id), max(doc_id)], not [1, max]: a raw
    * ceil(fd·10/max) put a doc_id-0 first appearance in a nonexistent
    * bucket 0 and divided by zero on an all-zero-id corpus (round-17
    * review finding) — the min-anchored form is total over any id range.
    */
  def vocabularyGrowth(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mRow = df.agg(min(col(idCol).cast("long")), max(col(idCol).cast("long"))).head()
    if (mRow.isNullAt(0)) // empty corpus: an empty curve, not an NPE
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("bucket", "doc_threshold", "n_new", "vocab_cum")
    val mn = mRow.getLong(0)
    val span = mRow.getLong(1) - mn + 1
    val counts = df.select(col(idCol).cast("long").as("doc_id"),
        explode(toks(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      .select(expr(s"((fd - $mn + 1) * 10 + $span - 1) div $span").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rows = (1L to 10L).scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), b) =>
      val nNew = counts.getOrElse(b, 0L)
      (b, mn - 1 + span * b / 10, nNew, cum + nNew)
    }.tail
    rows.toSeq.toDF("bucket", "doc_threshold", "n_new", "vocab_cum")
  }

  /** Per-SOURCE Heaps-law vocabulary growth (VERDICT r17 stretch #8): the
    * q200 curve grouped by source, each source bucketed over ITS OWN
    * doc-id span — the per-source health dashboard signal that separates
    * "this source still contributes vocabulary" from "this source is
    * repeating itself" (composes with corpusReport and the q191/q150
    * gates). Output: (source, bucket 1..10, doc_threshold, n_new,
    * vocab_cum), one 10-row curve per source.
    *
    * Scale shape: strictly better than q200's — NO driver collect at all.
    * One (source, token)-keyed exchange for first-appearance minima, a
    * broadcast join of the per-source bounds frame (#sources rows), one
    * (source, bucket) aggregate, and a source-partitioned cumsum window
    * over ≤ 10 rows per partition. Every stage's parallelism is #sources
    * or better; no single-reducer shape at any corpus size.
    */
  def vocabularyGrowthBySource(df: DataFrame, sourceCol: String,
      idCol: String, textCol: String): DataFrame = {
    val bounds = df.groupBy(col(sourceCol).as("source"))
      .agg(min(col(idCol).cast("long")).as("mn"),
        (max(col(idCol).cast("long")) - min(col(idCol).cast("long")) + 1L).as("span"))
    val firstSeen = df.select(col(sourceCol).as("source"),
        col(idCol).cast("long").as("doc_id"), explode(toks(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(min(col("doc_id")).as("fd"))
    val counts = firstSeen.join(broadcast(bounds), Seq("source"))
      // same ceiling bucketing as vocabularyGrowth (integer div — the
      // repo convention; bucket 1..10 over the source's own span)
      .select(col("source"), expr("((fd - mn + 1) * 10 + span - 1) div span").as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("n_new"))
    val grid = bounds
      .select(col("source"), explode(expr("sequence(1, 10)")).as("b"),
        col("mn"), col("span"))
      .select(col("source"), col("b").cast("long").as("bucket"),
        expr("mn - 1 + span * CAST(b AS BIGINT) div 10").as("doc_threshold"))
    val w = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(counts, Seq("source", "bucket"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("vocab_cum", sum(col("n_new")).over(w))
      .select(col("source"), col("bucket"), col("doc_threshold"),
        col("n_new"), col("vocab_cum"))
  }

  /** Per-source corpus health report — the dashboard aggregate a curation
    * pipeline runs before/after each filtering stage: document and token
    * volume, exact-duplicate rate (on a content fingerprint, so the
    * distinct-count shuffles 32-char digests, not documents), and the
    * short-document fraction. One hash aggregate over the corpus; the
    * distinct digest count rides Spark's partial-aggregate Expand, so no
    * row travels with its full text. All ratios are int/int (oracle-exact).
    */
  def corpusReport(df: DataFrame, sourceCol: String, textCol: String,
      shortTokens: Int = 50): DataFrame = {
    val nTok = size(toks(col(textCol)))
    df.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok.cast("long")).as("n_tokens"),
        countDistinct(md5(col(textCol))).as("n_distinct"),
        count(when(nTok < shortTokens, 1)).as("n_short"))
      .withColumn("dup_frac", lit(1) - col("n_distinct") / col("n_docs"))
      .withColumn("short_frac", col("n_short") / col("n_docs"))
  }

  /** Per-group quality cap — "keep the best `k` documents per domain /
    * source / host", the domination guard every curation mix applies so a
    * single prolific source cannot swamp the corpus (C4 and Gopher both
    * cap per-host contributions). Rank is (rankCol DESC, idCol ASC) so an
    * integer rank column (e.g. distinct-token count, an int quality
    * grade) keeps the output engine-exact; ties cannot flip.
    *
    * Scale shape: ONE keyed window (hash-partitioned on the group — the
    * q132 no-single-reducer rule); parallelism is #groups and the per-task
    * sort is bounded by the largest group. For a pathologically hot group
    * pre-filter with a cheap gate first (the stratifiedSample note).
    * Output: the input columns + cap_rank (1-based within the group).
    */
  def capPerGroup(df: DataFrame, groupCol: String, rankCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, "capPerGroup: k must be >= 1")
    df.withColumn("cap_rank",
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(col(rankCol).desc, col(idCol))))
      .where(col("cap_rank") <= k)
  }

  /** Multi-phrase tagging — the FlashText/Aho-Corasick use case (topic
    * tagging, blocklists, PII term lists) reformulated as a token-anchored
    * candidate join instead of a per-row automaton: scanning every
    * document against every phrase is O(docs × phrases) UDF work, but a
    * phrase can only start where its FIRST token occurs, so candidates =
    * posexploded tokens ⋈ broadcast(phrase list keyed by anchor token),
    * then one id-keyed join back verifies the full slice. At 100 TB the
    * explode is the only corpus-sized stage (one Generate, no shuffle —
    * the anchor join broadcasts), and verification carries the token
    * array only for candidate rows.
    *
    * `phrases`: (tag, space-separated phrase). Output: one row per match
    * (id, tag, phrase, pos) with pos 1-based.
    */
  def phraseTag(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[(String, String)]): DataFrame = {
    require(phrases.nonEmpty, "phraseTag needs at least one phrase")
    require(phrases.forall(_._2.nonEmpty), "phraseTag: empty phrase")
    val spark = df.sparkSession
    import spark.implicits._
    val ph = phrases.map { case (tag, p) =>
      val pt = p.split(" ", -1); (tag, p, pt.head, pt.length)
    }.toDF("tag", "phrase", "anchor", "plen")
    val docs = df.select(col(idCol).as("id"), toks(col(textCol)).as("tks"))
    val cand = docs
      .select(col("id"), posexplode(col("tks")).as(Seq("pos", "tok")))
      .join(broadcast(ph), col("tok") === col("anchor"))
      .select(col("id"), col("pos"), col("tag"), col("phrase"), col("plen"))
    cand.join(docs, Seq("id"))
      .where(concat_ws(" ", slice(col("tks"), col("pos") + 1, col("plen"))) === col("phrase"))
      .select(col("id"), col("tag"), col("phrase"), (col("pos") + 1).as("pos"))
  }

  /** Integerized language-model quality gate: score each document by its
    * OUT-OF-VOCABULARY BIGRAM rate against a reference corpus — the exact
    * analogue of the KenLM-perplexity filter every production pretraining
    * pipeline runs (CCNet, Gopher §A1.2), with perplexity's log-space
    * float replaced by the count pair it monotonically tracks for gating:
    * a document whose word transitions rarely occur in the reference is
    * exactly a document whose n-gram LM probability mass collapses.
    * Counts are integers, so the gate sits in the exact-hash oracle where
    * a float perplexity never could (q42 rule).
    *
    * keep ⇔ n_oov · 1000 ≤ maxOovPermille · n_bg (documents with fewer
    * than 2 tokens have no bigrams and pass vacuously).
    *
    * Scale shape: the reference bigram vocabulary is ONE distinct-keyed
    * shuffle over the (usually much smaller) reference slice; scoring is
    * one equi-join on the bigram key (hot bigrams have 1 ref row each, so
    * multiplicity stays 1:1 — no blowup) plus one doc-keyed aggregation.
    * Bigrams are built per-row inside codegen (zip_with over the token
    * array — no self-join, no window) and only misses need the join row.
    * No collect, no broadcast of the vocabulary (it can be billions of
    * bigrams at 100 TB; the equi-join shuffles only matched keys).
    */
  def oovBigramGate(docs: DataFrame, refDocs: DataFrame, idCol: String,
      textCol: String, maxOovPermille: Long): DataFrame = {
    require(maxOovPermille >= 0, "oovBigramGate: maxOovPermille must be >= 0")
    def bigrams(textCol: Column): Column = {
      val tk = toks(textCol)
      filter(
        zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        x => x.isNotNull)
    }
    val refBg = refDocs
      .select(explode(bigrams(col(textCol))).as("bg")).distinct()
      .withColumn("in_ref", lit(true))
    val docBg = docs.select(col(idCol).as("doc_id"),
      explode(bigrams(col(textCol))).as("bg"))
    val scored = docBg.join(refBg, Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"),
        count(when(col("in_ref").isNull, 1)).as("n_oov"))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bg"), lit(0L)).as("n_bg"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("keep",
        col("n_oov") * 1000 <= lit(maxOovPermille) * col("n_bg"))
  }

  /** Bigram-LM fluency score with stupid backoff (Brants et al., EMNLP
    * 2007, "Large Language Models in Machine Translation" — the backoff
    * that drops normalization for scale) — the log-free stand-in for a
    * perplexity filter: score each document by the MEAN scaled conditional
    * probability of its bigrams under a reference-corpus bigram model.
    * Seen bigram → ⌊C(w₁w₂)·S / C(w₁)⌋; unseen → the paper's α=0.4
    * unigram backoff ⌊2·C(w₂)·S / (5·T)⌋ (exact integers — perplexity's
    * log is banned from the compare path by the tfIdfLog house rule, and
    * mean conditional probability ranks fluent-vs-disfluent the same way:
    * high = predictable text, near-zero = word salad / wrong language).
    *
    * Scale shape: model fitting is two explode+count aggregates over the
    * reference (vocabulary-sized results, hash-partitioned); scoring is
    * one explode + two equi-joins keyed on the bigram/unigram string +
    * one doc_id aggregate. At 100 TB the model side is corpus-vocabulary
    * sized — orders smaller than the corpus — so AQE broadcasts it when it
    * fits and hash-joins otherwise; the bigram join key would move to a
    * 64-bit fingerprint to cut shuffle width (string keys kept here for
    * oracle parity). One presentation double (mean_score) over exact sums.
    */
  def bigramFluency(docs: DataFrame, refDocs: DataFrame, idCol: String,
      textCol: String, scale: Long = 1000000L): DataFrame = {
    val uni = refDocs.select(explode(toks(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = refDocs.select(explode(bigramStructs(col(textCol))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val tot = uni.agg(sum(col("c1")).as("t_tokens"))
    val docBg = docs.select(col(idCol).as("doc_id"),
        explode(bigramStructs(col(textCol))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val scored = docBg
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("contrib",
        when(col("c12").isNotNull, expr(s"(c12 * ${scale}L) div c1"))
          .otherwise(expr(s"(2 * coalesce(c2, 0L) * ${scale}L) div (5 * t_tokens)")))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(scored.groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("contrib")).as("score_sum")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_sum"), lit(0L)).as("score_sum"))
      .withColumn("mean_score",
        when(col("n_bigrams") > 0,
          col("score_sum").cast("double") / col("n_bigrams").cast("double")))
  }

  /** Interpolated Kneser–Ney bigram gate (Kneser & Ney, ICASSP 1995; the
    * smoothing family CCNet's KenLM perplexity filter runs at 5-gram
    * order — Wenzek et al. 2020) — the published rung above
    * [[bigramFluency]]'s stupid backoff: the discounted bigram estimate is
    * interpolated with the CONTINUATION unigram (how many distinct
    * contexts a word follows), so boilerplate tokens that are frequent but
    * context-locked stop inflating fluency.
    *
    * With discount D = 3/4 every probability is the exact rational
    *   P(w2|w1) = max(c₁₂−D, 0)/c₁ + (D·N₁₊(w1·)/c₁)·(N₁₊(·w2)/N)
    * over the common denominator 4·c₁·N (N = distinct bigram types):
    *   num = max(4·c₁₂−3, 0)·N + 3·N₁₊(w1·)·N₁₊(·w2),   den = 4·c₁·N
    * and an UNSEEN context (c₁ = 0, the held-out case) backs off to the
    * pure continuation estimate num = N₁₊(·w2), den = N. A bigram is
    * improbable when num·threshDen < den (P < 1/threshDen) — an integer
    * cross-multiply, so the gate sits on the exact-hash oracle. Exactness
    * bound: products stay under 2⁶³ while max(c₁₂)·N < 2.3·10¹⁵ — holds
    * through ~10⁸-bigram training splits; past that, cast the four count
    * columns to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the arithmetic
    * is unchanged.
    *
    * Scale shape: train side = one bigram explode + three vocabulary-sized
    * aggregates (bigram-, w1-, w2-keyed) and a one-row type total; scoring
    * = one bigram explode, three bigram/vocab-keyed LEFT joins (the model
    * is corpus-vocabulary-sized and never broadcast — the q145 rule), a
    * one-row broadcast of N, then ONE doc-keyed aggregate. Docs with no
    * bigrams pass (vacuously fluent). Output per doc: n_bigrams,
    * n_unseen_ctx, n_improb, improb_ppm (integer div), keep = at most 20%
    * improbable bigrams.
    */
  def knBigramGate(docs: DataFrame, refDocs: DataFrame, idCol: String,
      textCol: String, threshDen: Long = 1000L): DataFrame = {
    require(threshDen >= 1L, "knBigramGate: threshDen must be >= 1")
    // localCheckpoint (r21): the bigram model is read by FOUR consumers
    // (the scored join, ctx, cont, tot) — as an un-rooted subtree each
    // consumer re-runs the model's final merge aggregation over the reused
    // exchange output (4× the vocabulary-sized merge at any scale); one
    // model-sized materialization runs it once.
    val bi = refDocs.select(explode(bigramStructs(col(textCol))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    // context stats from the bigram table: c1 = Σ c12 (token count of w1
    // as a context), n1fol = distinct continuations N₁₊(w1·)
    val ctx = bi.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fol"))
    val cont = bi.groupBy("w2").agg(count(lit(1)).as("ncont"))
    val tot = bi.agg(count(lit(1)).as("nn"))
    val docBg = docs.select(col(idCol).as("doc_id"),
        explode(bigramStructs(col(textCol))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val scored = docBg
      .join(bi, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("n1fol"), lit(0L)).as("n1fol"),
        coalesce(col("ncont"), lit(0L)).as("ncont"),
        col("nn"))
      .withColumn("num",
        when(col("c1") > 0,
          greatest(lit(4L) * col("c12") - lit(3L), lit(0L)) * col("nn")
            + lit(3L) * col("n1fol") * col("ncont"))
          .otherwise(col("ncont")))
      .withColumn("den",
        when(col("c1") > 0, lit(4L) * col("c1") * col("nn"))
          .otherwise(col("nn")))
      .withColumn("improb",
        col("den") === 0L || col("num") * lit(threshDen) < col("den"))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(scored.groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          sum(when(col("c1") === 0L, 1L).otherwise(0L)).as("n_unseen_ctx"),
          sum(when(col("improb"), 1L).otherwise(0L)).as("n_improb")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen_ctx"), lit(0L)).as("n_unseen_ctx"),
        coalesce(col("n_improb"), lit(0L)).as("n_improb"))
      .withColumn("improb_ppm",
        when(col("n_bigrams") > 0,
          expr("(n_improb * 1000000L) div n_bigrams")).otherwise(lit(0L)))
      .withColumn("keep", col("n_improb") * lit(5L) <= col("n_bigrams"))
  }

  /** Adjacent-token trigram structs (w1, w2, w3) — [[bigramStructs]]
    * composed once more: the two tail slots pad with null and the filter
    * drops them, so 0/1/2-token rows yield an empty array.
    */
  private def trigramStructs(text: Column): Column = {
    val tk = toks(text)
    val t2 = slice(tk, lit(2), greatest(size(tk) - 1, lit(0)))
    val t3 = slice(tk, lit(3), greatest(size(tk) - 2, lit(0)))
    filter(
      zip_with(
        zip_with(tk, t2, (a, b) => struct(a.as("w1"), b.as("w2"))),
        t3,
        (ab, c) => struct(ab.getField("w1").as("w1"),
          ab.getField("w2").as("w2"), c.as("w3"))),
      x => x.getField("w1").isNotNull && x.getField("w2").isNotNull &&
        x.getField("w3").isNotNull)
  }

  /** Interpolated Kneser–Ney TRIGRAM gate (VERDICT r18 #3) — one backoff
    * level above [[knBigramGate]], closing most of the daylight to the
    * 5-gram KenLM CCNet actually runs (Wenzek et al. 2020; same smoothing
    * family, same discount D = 3/4 at every level):
    *
    *   P(w3|w1w2) = max(c₁₂₃−D,0)/c₁₂ + (D·N₁₊(w1w2·)/c₁₂)·P₂(w3|w2)
    *   P₂(w3|w2)  = max(n₂₃−D,0)/N₁₊(·w2·) + (D·N₁₊(w2·)/N₁₊(·w2·))·Pc(w3)
    *   Pc(w3)     = N₁₊(·w3) / N
    *
    * with all lower-order statistics the CONTINUATION counts (modified
    * KN): n₂₃ = N₁₊(·w2w3) distinct left-contexts of the bigram,
    * N₁₊(·w2·) its row-sum, N = distinct (w2,w3) pair types. Every
    * probability is the exact rational over nested common denominators:
    *
    *   P2num = max(4·n₂₃−3, 0)·N + 3·N₁₊(w2·)·N₁₊(·w3)
    *   P2den = 4·N₁₊(·w2·)·N
    *   num   = max(4·c₁₂₃−3, 0)·P2den + 3·N₁₊(w1w2·)·P2num
    *   den   = 4·c₁₂·P2den
    *
    * backing off a level when its context is unseen (c₁₂ = 0 → the
    * (P2num, P2den) pair; N₁₊(·w2·) = 0 → the (N₁₊(·w3), N) pair).
    * Improbable = num·threshDen < den by cross-multiply. The cubed count
    * products overflow BIGINT on large training splits, so the INTERNAL
    * arithmetic runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) while
    * every OUTPUT column stays BIGINT. Operating envelope: num and den
    * themselves are exact to 10³⁸; the improbability compare multiplies
    * num by threshDen, so ITS envelope is 10³⁸/threshDen — past that,
    * non-ANSI Spark nulls the product and the coalesce(…, false) below
    * resolves it to the provably-correct "probable" verdict, while ANSI
    * Spark and DuckDB error loudly instead. The num-side proof does NOT
    * extend to den (ADVICE r19 #1): a null den = 4·c₁₂·P2den (reachable
    * only past ~10¹²-token references) admits BOTH verdicts, so it fails
    * LOUDLY (raise_error) — matching DuckDB's HUGEINT error rather than
    * silently counting the trigram as probable.
    *
    * Scale shape: the model is ONE trigram explode + one (w1,w2,w3)
    * aggregate on the reference; every other statistic (context counts,
    * continuation counts, row-sums, the type total) derives from that
    * vocabulary-sized frame by further shrinking aggregates. Scoring is
    * one trigram explode + five model-keyed LEFT joins (never broadcast —
    * the q145 rule) + one doc-keyed rollup. Output mirrors knBigramGate:
    * doc_id, n_trigrams, n_unseen_ctx, n_improb, improb_ppm, keep.
    */
  def knTrigramGate(docs: DataFrame, refDocs: DataFrame, idCol: String,
      textCol: String, threshDen: Long = 1000L): DataFrame = {
    require(threshDen >= 1L, "knTrigramGate: threshDen must be >= 1")
    // localCheckpoint (r21, the knBigramGate rationale): tri feeds the
    // scored join + ctx12 + n23, and n23 feeds four more consumers — the
    // un-rooted tree re-ran the trigram model's merge aggregation once per
    // consumer path (6 copies in the before-plan,
    // plans/r21/q224_kn_trigram_gate_before.txt).
    val tri = refDocs.select(explode(trigramStructs(col(textCol))).as("tg"))
      .select(col("tg.w1"), col("tg.w2"), col("tg.w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
      .localCheckpoint()
    // top-level context stats: c12 = token count of (w1,w2) as a context,
    // nfol12 = N₁₊(w1w2·) distinct continuations
    val ctx12 = tri.groupBy("w1", "w2")
      .agg(sum(col("c123")).as("c12"), count(lit(1)).as("nfol12"))
    // continuation-count family (each row of tri is one distinct triple,
    // so COUNT(*) over a grouping = the distinct-type count)
    val n23 = tri.groupBy("w2", "w3").agg(count(lit(1)).as("n23"))
      .localCheckpoint() // read by mid2, cont3, tot AND the scored join
    val mid2 = n23.groupBy("w2")
      .agg(sum(col("n23")).as("nmid2"), count(lit(1)).as("nfol2"))
    val cont3 = n23.groupBy("w3").agg(count(lit(1)).as("ncont3"))
    val tot = n23.agg(count(lit(1)).as("nn"))
    val docTg = docs.select(col(idCol).as("doc_id"),
        explode(trigramStructs(col(textCol))).as("tg"))
      .select(col("doc_id"), col("tg.w1"), col("tg.w2"), col("tg.w3"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val scored = docTg
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(n23, Seq("w2", "w3"), "left")
      .join(mid2, Seq("w2"), "left")
      .join(cont3, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        dec(coalesce(col("c123"), lit(0L))).as("c123"),
        coalesce(col("c12"), lit(0L)).as("c12_l"),
        dec(coalesce(col("c12"), lit(0L))).as("c12"),
        dec(coalesce(col("nfol12"), lit(0L))).as("nfol12"),
        dec(coalesce(col("n23"), lit(0L))).as("n23"),
        dec(coalesce(col("nmid2"), lit(0L))).as("nmid2"),
        dec(coalesce(col("nfol2"), lit(0L))).as("nfol2"),
        dec(coalesce(col("ncont3"), lit(0L))).as("ncont3"),
        dec(col("nn")).as("nn"))
      .withColumn("p2num",
        when(col("nmid2") > 0,
          greatest(lit(4) * col("n23") - lit(3), lit(0)) * col("nn")
            + lit(3) * col("nfol2") * col("ncont3"))
          .otherwise(col("ncont3")))
      .withColumn("p2den",
        when(col("nmid2") > 0, lit(4) * col("nmid2") * col("nn"))
          .otherwise(col("nn")))
      .withColumn("num",
        when(col("c12") > 0,
          greatest(lit(4) * col("c123") - lit(3), lit(0)) * col("p2den")
            + lit(3) * col("nfol12") * col("p2num"))
          .otherwise(col("p2num")))
      .withColumn("den",
        when(col("c12") > 0, lit(4) * col("c12") * col("p2den"))
          .otherwise(col("p2den")))
      // den overflow is NOT coalesce-able (ADVICE r19 #1): unlike the
      // num side below — where null provably means "probable" — a null
      // den is compatible with both verdicts, and letting it fall through
      // the when() would silently count the trigram as probable while
      // DuckDB errors loudly. Fail loudly like the oracle instead; the
      // branch is unreachable below ~10¹²-token references (scaladoc).
      // (every den input is coalesced non-null, so den IS NULL ⟺ a
      // decimal(38,0) overflow in the den/p2den product chain)
      .withColumn("den",
        when(col("den").isNotNull, col("den"))
          .otherwise(raise_error(lit(
            "knTrigramGate: den overflowed decimal(38,0) — reference split too large for the documented envelope"))))
      // num·threshDen can exceed DECIMAL(38,0) (round-19 review finding);
      // under non-ANSI Spark that yields NULL. coalesce(…, false) is then
      // EXACTLY correct, not a degradation: an overflowed product means
      // num·threshDen > 10³⁸ ≥ den (den is a valid decimal(38,0) value on
      // this row), so the true comparison is false — the trigram is
      // genuinely probable. Under ANSI the overflow errors loudly instead,
      // and DuckDB HUGEINT errors past 1.7·10³⁸ — same envelope, louder
      // failure mode, documented in the scaladoc.
      .withColumn("improb",
        col("den") === 0 ||
          coalesce(col("num") * lit(threshDen) < col("den"), lit(false)))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(scored.groupBy("doc_id").agg(
          count(lit(1)).as("n_trigrams"),
          sum(when(col("c12_l") === 0L, 1L).otherwise(0L)).as("n_unseen_ctx"),
          sum(when(col("improb"), 1L).otherwise(0L)).as("n_improb")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_unseen_ctx"), lit(0L)).as("n_unseen_ctx"),
        coalesce(col("n_improb"), lit(0L)).as("n_improb"))
      .withColumn("improb_ppm",
        when(col("n_trigrams") > 0,
          expr("(n_improb * 1000000L) div n_trigrams")).otherwise(lit(0L)))
      .withColumn("keep", col("n_improb") * lit(5L) <= col("n_trigrams"))
  }

  /** Vocabulary frequency spectrum: token types binned by ⌊log₂(count)⌋ —
    * the heavy-tail diagnostic of corpus health (a natural corpus shows a
    * smooth Zipf-like decay of types per doubling bin; boilerplate-heavy
    * or templated corpora spike in the high bins, OCR noise in bin 0).
    * The log is computed EXACTLY as `length(binary(count)) − 1` (Spark
    * `conv(n,10,2)`, DuckDB `printf('%b')`) — integer-string arithmetic,
    * not libm, so the bin edges sit on the exact-hash gate (the ilog2
    * trick that replaces the banned float log).
    *
    * Scale shape: one explode + token-keyed count (the q41 shuffle), then
    * a ≤64-group aggregate — the spectrum is log-bounded regardless of
    * corpus size. Output: bin, n_types, n_tokens, ordered by bin.
    */
  def frequencySpectrum(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(explode(toks(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    counts
      .withColumn("bin", (length(conv(col("n"), 10, 2)) - 1).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_tokens"))
      .orderBy("bin")
  }

  /** Token-distribution drift between two corpus snapshots, in integer
    * parts-per-million: for each token, rate₁ = ⌊n₁·10⁶/T₁⌋ and rate₂ =
    * ⌊n₂·10⁶/T₂⌋ (T = snapshot token totals), drift = rate₁ − rate₂ —
    * the distribution-shift monitor between crawls/epochs (vocabulary
    * churn, topic drift, a scraper suddenly ingesting a new boilerplate).
    * All-integer: the χ²/KL formulations either overflow 64-bit cross
    * products or need the banned log; ppm-rate differences rank the same
    * movers and stay exact. Top `k` by (|drift| desc, token asc).
    *
    * Scale shape: two token-keyed counts + one full-outer join on token +
    * a one-row total broadcast each; the top-k is a TakeOrdered over the
    * vocabulary-sized frame. Corpus scanned once per snapshot.
    */
  def tokenDrift(snapA: DataFrame, snapB: DataFrame, textCol: String,
      k: Int): DataFrame = {
    def counts(df: DataFrame, n: String, t: String) = {
      val c = df.select(explode(toks(col(textCol))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as(n))
      (c, c.agg(sum(col(n)).as(t)))
    }
    val (ca, ta) = counts(snapA, "n1", "t1")
    val (cb, tb) = counts(snapB, "n2", "t2")
    ca.join(cb, Seq("tok"), "full_outer")
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("tok"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        expr("(coalesce(n1, 0L) * 1000000L) div t1").as("ppm1"),
        expr("(coalesce(n2, 0L) * 1000000L) div t2").as("ppm2"))
      .withColumn("drift", col("ppm1") - col("ppm2"))
      .orderBy(abs(col("drift")).desc, col("tok"))
      .limit(k)
  }

  /** Character-diversity gibberish gate: per document, exact code-point
    * counts (total, distinct) and the Simpson collision numerator
    * Σ cᵢ·(cᵢ−1) — the log-free entropy surrogate (libm `ln` bits differ
    * across engines, the tfIdfLog house rule, so Shannon entropy cannot sit
    * on the exact-hash gate; collision probability ranks the same
    * pathologies). A document is flagged when its repeated-pair rate
    * exceeds `maxCollPermille` (low-diversity junk: aaaa…, repeated
    * boilerplate runs) or it has fewer than `minDistinct` distinct
    * characters. `coll_ratio` is the one presentation double over the
    * exact integers (the q42 rule).
    *
    * Scale shape: a single codegen'd projection ([[graft.expr.CharStats]]
    * — one char pass per row, no explode, no shuffle, stays inside
    * whole-stage codegen), where the per-char groupBy formulation shuffles
    * every character of the corpus. The gate is an integer cross-multiply,
    * so the flag itself never touches a float.
    */
  def charDiversityReport(df: DataFrame, idCol: String, textCol: String,
      maxCollPermille: Long = 80, minDistinct: Long = 10): DataFrame = {
    val st = graft.functions.char_stats(col(textCol))
    df.select(col(idCol).as("doc_id"), st.as("__cs"))
      .select(col("doc_id"),
        col("__cs").getItem(0).as("n_chars"),
        col("__cs").getItem(1).as("n_distinct"),
        col("__cs").getItem(2).as("coll_num"))
      .withColumn("coll_ratio",
        when(col("n_chars") >= 2,
          col("coll_num").cast("double") /
            (col("n_chars") * (col("n_chars") - 1)).cast("double")))
      .withColumn("is_gibberish",
        // The cross-multiply runs in decimal(38,0) (ADVICE r14): coll_num
        // approaches n_chars², so the former 64-bit `coll_num * 1000` wraps
        // at ~10^8 code points — plausible single documents at 100 TB —
        // silently flipping the flag. decimal(38) holds n²·1000 past
        // n = 10^17 code points; the comparison stays exact-integer.
        (col("n_chars") >= 2 &&
          col("coll_num").cast("decimal(38,0)") * 1000 >
            lit(maxCollPermille) * col("n_chars").cast("decimal(38,0)") * (col("n_chars") - 1)) ||
          col("n_distinct") < minDistinct)
  }

  /** Byte-pair-encoding vocabulary induction (Sennrich, Haddow & Birch,
    * ACL 2016 — the merge-table learner behind every BPE/WordPiece-family
    * tokenizer): `steps` greedy merges of the most frequent adjacent
    * symbol pair, ties to the lexicographically smallest pair. Returns the
    * learned merge table — (step, left, right, merged, pair_count) — which
    * IS the trained tokenizer artifact, as a local relation: collecting it
    * runs no Spark job.
    *
    * Scale shape (the classic BPE factorization): ONE corpus scan builds
    * the (word, count) table — the only corpus-sized shuffle, localCheckpointed
    * once — and every merge step after that is ONE Spark job over those
    * vocabulary-sized rows: each word is rebuilt through the merges so far
    * (Kernels.bpeForm, the walk bpe_segment applies, so learner and apply
    * cannot drift), its overlapping adjacent pairs are emitted weighted by
    * the word count (the reference get_stats), reduceByKey sums them, and a
    * fold picks the best pair. k steps cost k jobs plus the word count; no
    * per-step plan is built. At 100 TB the corpus is read once; iteration
    * cost is independent of corpus size.
    *
    * Exactness: symbols ride a sentinel-spaced string (" c1 c2 … "), so
    * pair application is standard leftmost non-overlapping `replace`
    * applied twice — bit-identical in Spark and DuckDB and exactly BPE's
    * greedy left-to-right merge. Counts are integer; ordering is (count
    * desc, "l r" asc in UTF-8 byte order — Spark's string `asc`, not
    * `String.compareTo`) — no floats anywhere. Characters are code points;
    * the synthetic corpus is ASCII so Spark and DuckDB substr agree
    * (documented caveat for astral-plane text in the oracle).
    */
  def bpeMerges(df: DataFrame, textCol: String, steps: Int): DataFrame =
    localRelation(df, "step INT NOT NULL, `left` STRING, `right` STRING, merged STRING, " +
        "pair_count BIGINT NOT NULL",
      bpeCore(df, textCol, steps)._1.map(m => Row(m._1, m._2, m._3, m._4, m._5)))

  /** Corpus token frequencies AFTER `steps` BPE merges — the segmentation
    * apply step for free: each distinct word of the learner's word-count
    * table goes through bpe_segment with the learned merges, and its
    * symbols are counted weighted by the word count — a vocabulary-sized
    * projection and aggregate, no second corpus scan. Ties order
    * (freq desc, token asc); top `k`.
    */
  def bpeVocabFreq(df: DataFrame, textCol: String, steps: Int, k: Int): DataFrame = {
    require(k >= 1, s"bpeVocabFreq: k must be >= 1, got $k")
    val (merges, words) = bpeCore(df, textCol, steps)
    words
      .select(col("cnt"), explode(graft.functions.bpe_segment(col("w"),
        merges.map(m => Array(m._2, m._3)).toArray)).as("token"))
      .groupBy("token").agg(sum("cnt").as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
  }

  /** The merge table and the localCheckpointed (w, cnt) word counts. */
  private def bpeCore(df: DataFrame, textCol: String, steps: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(steps >= 1 && steps <= 64,
      s"bpeMerges: steps must be in [1, 64] (one Spark job per step), got $steps")
    val words = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val counts = words.queryExecution.toRdd.map(r => (r.getUTF8String(0).toString, r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var exhausted = false
    while (merges.length < steps && !exhausted) {
      val patterns = merges.map(m => " " + m._2 + " " + m._3 + " ").toArray
      val replacements = merges.map(m => " " + m._4 + " ").toArray
      val (pair, pc) = counts
        .flatMap { case (w, cnt) =>
          val form = graft.expr.Kernels.bpeForm(w, patterns, replacements)
          val a = form.substring(1, form.length - 1).split(" ", -1)
          (1 until a.length).map(i => (a(i - 1) + " " + a(i), cnt))
        }
        .reduceByKey(_ + _)
        .fold((null, 0L))((x, y) => if (bpeBetter(y, x)) y else x)
      if (pair == null) exhausted = true
      else {
        val Array(l, r) = pair.split(" ", 2)
        merges += ((merges.length + 1, l, r, l + r, pc))
      }
    }
    (merges.toSeq, words)
  }

  /** Best-pair order of the merge learner: count desc, then the "l r" pair
    * asc in UTF-8 byte order; `(null, 0)` is the fold's identity.
    */
  private def bpeBetter(a: (String, Long), b: (String, Long)): Boolean =
    b._1 == null || (a._1 != null && (a._2 > b._2 || (a._2 == b._2 &&
      org.apache.spark.unsafe.types.UTF8String.fromString(a._1)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b._1)) < 0)))

  /** Adaptive per-source token floor: gate each document against its OWN
    * source's lower-quartile token count instead of one global constant —
    * the curation pattern for mixed-source corpora where a fixed floor
    * over-prunes terse sources and under-prunes verbose ones. The
    * threshold is the EXACT order statistic at rank 1 + (n−1)·q (no
    * interpolation — an integer token count from a real document, so the
    * whole gate sits on the exact-hash oracle: ties broken by doc_id).
    *
    * Shape: one source-keyed ranking window + one source-sized threshold
    * frame joined back (broadcast at any real source count) — two
    * exchanges total, no skew risk beyond the source key itself. q is
    * fourths to stay integer-exact (1 = lower quartile, 2 = median).
    */
  def adaptiveTokenFloor(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, quarter: Int = 1): DataFrame = {
    require(quarter >= 1 && quarter <= 3, s"quarter must be 1..3, got $quarter")
    val base = df.select(col(idCol).cast("long").as("doc_id"),
      col(srcCol).as("source"),
      size(split(col(textCol), " ")).cast("long").as("n_toks"))
    val w = Window.partitionBy("source").orderBy(col("n_toks").asc, col("doc_id").asc)
    val ranked = base
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
    val floors = ranked
      .where(col("rn") === lit(1) + expr(s"((cnt - 1) * $quarter) div 4"))
      .select(col("source"), col("n_toks").as("floor_toks"))
    base.join(floors, Seq("source"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("floor_toks"),
        (col("n_toks") >= col("floor_toks")).as("keep"))
  }

  /** SentencePiece-style unigram-LM tokenizer induction (Kudo 2018 — the
    * OTHER major subword algorithm beside BPE; T5/mT5/Llama-family
    * vocabularies are trained this way): seed a candidate vocabulary from
    * raw substring frequencies (every single codepoint up to the
    * 65536-piece vocabulary bound — Kudo's totality requirement, with the
    * tail beyond the cap served by the decoder's single-codepoint unk
    * fallback — plus the topV most frequent multi-codepoint substrings
    * up to maxPieceLen), assign each piece the empirical probability
    * freq/total, Viterbi-segment the corpus under that model
    * (Kernels.unigramSegment — the hard-EM E-step), and report each
    * piece's corpus usage with the prune signal (Kudo §3.2 discards
    * pieces whose removal costs nothing; a seeded piece the Viterbi path
    * never uses is exactly that). Iterating the loop re-seeds probs from
    * usage — [[unigramLmEm]] and [[unigramLmTrain]]; one E-step keeps the
    * whole operator on the exact-hash oracle gate (the DuckDB twin replays
    * the DP with a recursive CTE).
    *
    * Scale shape (all five unigram learners): ONE corpus scan counts the
    * distinct words — the only corpus-sized shuffle, localCheckpointed
    * once — and every later step is ONE Spark job over those
    * vocabulary-sized (word, wc) rows, weighting each word by its count
    * (never once per occurrence): the seed is one job (substrings summed by
    * reduceByKey, a top-K per partition merged on the driver), and each
    * E-step is one job that runs the segmentation kernel on every word and
    * sums usage per piece. No per-step plan is built. The report is a local
    * relation of |vocab| rows (alphabet cap + topV): collecting it runs no
    * job.
    *
    * Output: piece, freq (seed), p (= freq/total, one double division),
    * is_char, usage (Viterbi-path occurrences, weighted by word count),
    * keep (chars always; multi-pieces with usage > 0).
    */
  def unigramLmVocab(df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topV: Int = 48): DataFrame = {
    val op = "unigramLmVocab"
    val (words, seed) = unigramSeed(op, df, textCol, maxPieceLen, topV, "topV")
    val usage = unigramUsage(op, words, seed, hard = true, soft = false)
    val total = seed.map(_._2).sum
    localRelation(df, "piece STRING NOT NULL, freq BIGINT NOT NULL, p DOUBLE NOT NULL, " +
        "is_char BOOLEAN NOT NULL, usage BIGINT NOT NULL, keep BOOLEAN NOT NULL",
      seed.map { case (p, f) =>
        val u = usage.get(p).fold(0L)(_._1)
        Row(p, f, f.toDouble / total.toDouble, isChar(p), u, isChar(p) || u > 0)
      })
  }

  /** Kudo 2018 §3.2's TRUE E-step — soft EM (VERDICT r19 #2): where
    * [[unigramLmVocab]] counts pieces on the single Viterbi path (hard EM,
    * a documented approximation), this computes EXPECTED piece counts via
    * forward–backward over the full segmentation lattice
    * (Kernels.unigramExpected) and re-estimates the model from them.
    * The output reports BOTH counts side by side — the divergence surface:
    * a piece on a near-tied alternative segmentation gets usage_hard = 0
    * but usage_soft_q > 0, and the soft M-step keeps it where hard-EM
    * would prune it (exactly the degenerate-pruning failure Kudo's
    * marginal E-step exists to avoid).
    *
    * Exactness: the lattice sums stay in boosted linear space (the
    * [[unigramLmVocab]] renormalization discipline extended to sums —
    * no transcendentals, so cross-engine bit-equality carries over), and
    * every posterior is quantized to an INTEGER q = ⌊eq·2^24⌋ before it
    * leaves its word, so the corpus rollup Σ wc·q is order-independent and
    * the driver's exact-hash gate holds. The rollup multiplies and adds
    * with Math.multiplyExact/addExact: it is exact up to Long.MaxValue and
    * fails with an error naming this operator past it — exactly where the
    * DuckDB twin's HUGEINT→BIGINT cast fails. The re-estimated p2 is then
    * one double division of identical integers per piece. See
    * [[graft.expr.Kernels.unigramExpected]] for the proof obligations.
    *
    * Scale shape: the [[unigramLmVocab]] shape with both E-steps (Viterbi
    * and forward–backward) in ONE job over the word counts; the M-step
    * total is summed on the driver over the |vocab| report rows.
    *
    * Output: piece, freq (seed), is_char, usage_hard (Viterbi-path count,
    * wc-weighted), usage_soft_q (Σ wc·q — expected count in 2^-24 units),
    * pruned (multi-piece with zero soft mass), p2 (soft-re-estimated
    * probability; chars get the +1-occurrence = +2^24 backbone smoothing
    * mirroring unigramLmEm; NULL when pruned).
    */
  def unigramLmSoftEm(df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topV: Int = 48): DataFrame = {
    val op = "unigramLmSoftEm"
    val (words, seed) = unigramSeed(op, df, textCol, maxPieceLen, topV, "topV")
    val usage = unigramUsage(op, words, seed, hard = true, soft = true)
    // the soft M-step weight: expected mass + the 2^24 (= one occurrence
    // in q units) character-backbone smoothing, the unigramLmEm +1 rule
    val rows = seed.map { case (p, f) =>
      val (hard, softQ) = usage.getOrElse(p, (0L, 0L))
      (p, f, hard, softQ, Kernels.usageAdd(op, softQ, if (isChar(p)) 16777216L else 0L))
    }
    val tot2 = rows.iterator.map(_._5).foldLeft(0L)(Kernels.usageAdd(op, _, _))
    localRelation(df, "piece STRING NOT NULL, freq BIGINT NOT NULL, is_char BOOLEAN NOT NULL, " +
        "usage_hard BIGINT NOT NULL, usage_soft_q BIGINT NOT NULL, pruned BOOLEAN NOT NULL, p2 DOUBLE",
      rows.map { case (p, f, hard, softQ, w2) =>
        val pruned = !isChar(p) && softQ == 0
        Row(p, f, isChar(p), hard, softQ, pruned,
          if (pruned) null else w2.toDouble / tot2.toDouble)
      })
  }

  /** The iterated half of [[unigramLmVocab]] — one full hard-EM cycle of
    * the Kudo 2018 loop (prune + re-estimate + re-segment): pass 1 seeds
    * and Viterbi-segments exactly like unigramLmVocab; pass 2 PRUNES
    * multi-codepoint pieces the pass-1 path never used (§3.2 — a piece
    * whose removal costs nothing), re-estimates piece probabilities from
    * pass-1 usage (single codepoints get +1 so the character backbone
    * survives with zero usage — Kudo never drops characters; multi-pieces
    * get no smoothing so pruned stays pruned), and re-segments under the
    * new model. The report shows the loop working: seed freq, pass-1
    * usage, the prune verdict, the re-estimated p2, and pass-2 usage.
    *
    * Scale shape: the [[unigramLmVocab]] shape plus ONE more E-step job
    * over the word counts; the re-estimation between the passes runs on
    * the driver over the ≤ |vocab| pass-1 usages. The oracle replays BOTH
    * Viterbi passes (two recursive-CTE DP/backtrack pairs over the two
    * embedded models).
    */
  def unigramLmEm(df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, topV: Int = 48): DataFrame = {
    val op = "unigramLmEm"
    val (words, seed) = unigramSeed(op, df, textCol, maxPieceLen, topV, "topV")
    val usage1 = unigramUsage(op, words, seed, hard = true, soft = false)
    def u1(p: String) = usage1.get(p).fold(0L)(_._1)
    val kept = seed.map { case (p, _) => (p, u1(p) + (if (isChar(p)) 1L else 0L)) }
      .filter(_._2 > 0)
    val usage2 = unigramUsage(op, words, kept, hard = true, soft = false)
    val (pieces2, probs2, _) = modelProbs(kept)
    val p2 = pieces2.iterator.zip(probs2.iterator).toMap
    localRelation(df, "piece STRING NOT NULL, freq BIGINT NOT NULL, usage_1 BIGINT NOT NULL, " +
        "pruned BOOLEAN NOT NULL, p2 DOUBLE, usage_2 BIGINT NOT NULL",
      seed.map { case (p, f) =>
        Row(p, f, u1(p), !p2.contains(p), p2.getOrElse(p, null),
          usage2.get(p).fold(0L)(_._1))
      })
  }

  /** The prune schedule [[unigramLmTrain]] iterates: multi-piece keep
    * counts from seedV down to targetV, each round keeping
    * max(targetV, ceil(v · (1 − pruneFrac))) — Kudo 2018 §3.2's "prune a
    * fixed fraction per round until the vocabulary reaches the target
    * size", the schedule T5/mT5/Llama-family vocabularies were trained
    * on. Deterministic and data-independent, so the DuckDB oracle can
    * replay a FIXED number of Viterbi passes.
    */
  def unigramPruneSchedule(seedV: Int, targetV: Int, pruneFrac: Double): Seq[Int] = {
    require(seedV > targetV && targetV >= 1 && pruneFrac > 0 && pruneFrac < 1,
      s"unigramPruneSchedule: need seedV > targetV >= 1 and pruneFrac in (0,1), got $seedV/$targetV/$pruneFrac")
    // the min(v - 1, …) forces strict decrease: for v < 1/pruneFrac the
    // bare ceil is a FIXED POINT (ceil(v·(1−f)) = v whenever f·v < 1), so
    // e.g. (200, 50, 0.01) would stall at 99 and never terminate
    // (round-19 review finding)
    Iterator.iterate(seedV)(v =>
        math.max(targetV, math.min(v - 1, math.ceil(v * (1.0 - pruneFrac)).toInt)))
      .drop(1).takeWhile(_ > targetV).toSeq :+ targetV
  }

  /** The FULL Kudo 2018 §3.2 training loop (VERDICT r18 #2), generalizing
    * the single [[unigramLmEm]] cycle: seed a large candidate vocabulary
    * (top seedV multi-codepoint substrings + the capped character
    * backbone), then iterate Viterbi-segment → usage-estimate → prune the
    * lowest-usage multi-pieces down the [[unigramPruneSchedule]] →
    * re-estimate probabilities, until the multi-piece vocabulary reaches
    * targetV; one final Viterbi pass under the target model reports final
    * usage. Pruning keeps the top schedule-count multi-pieces by
    * (usage DESC, piece ASC in UTF-8 byte order) among those with
    * usage > 0 — a round can undershoot its schedule slot when fewer
    * pieces were used at all (vocabulary shrinkage is monotone either
    * way); characters are never pruned and carry the +1 backbone weight
    * (Kudo never drops the totality alphabet).
    *
    * Scale shape: the [[unigramLmVocab]] shape with one E-step job per
    * schedule round plus one for the final model — the iteration count is
    * fixed by the schedule (ceil(log(targetV/seedV)/log(1−pruneFrac))
    * rounds), independent of corpus size; pruning and re-estimation run on
    * the driver over ≤ |vocab| usages. The oracle replays every pass:
    * schedule length + 1 recursive-CTE DP/backtrack pairs over the
    * embedded models.
    *
    * Output per seeded piece: piece, freq (seed), is_char,
    * rounds_survived (prune rounds outlived: 0 = cut at the first prune,
    * schedule-length = reached the final model; chars always reach it),
    * final_p (null once pruned), final_usage (usage under the final
    * model).
    */
  def unigramLmTrain(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      seedV: Int = 96, targetV: Int = 24, pruneFrac: Double = 0.5): DataFrame =
    unigramTrainReport("unigramLmTrain", df, textCol, maxPieceLen, seedV, targetV,
      pruneFrac, soft = false)

  /** The FULL Kudo 2018 §3.2 loop with the TRUE (soft-EM) E-step — the
    * [[unigramLmTrain]] schedule driven by forward–backward EXPECTED
    * counts instead of Viterbi-path counts (the q231 E-step inside the
    * q223 loop, completing VERDICT r19 #2): per round, usage is the
    * integer-quantized posterior mass Σ wc·⌊eq·2^24⌋, pruning keeps the
    * top-scheduled multi-pieces by (expected mass DESC, piece UTF-8 ASC),
    * and re-estimation weights are the quantized masses with the
    * character backbone smoothed by 2^24 (= one occurrence in q units).
    * The loop's behavioral difference from hard EM is exactly the q231
    * divergence surface, compounded: a near-tied piece the Viterbi path
    * never uses carries zero hard usage and dies in round 1, while its
    * lattice mass keeps it alive here (UnigramSoftEmSpec pins a corpus
    * where the two loops ship DIFFERENT final vocabularies).
    *
    * Scale shape: the [[unigramLmTrain]] shape — one word count, one seed
    * job, one soft E-step job per round plus one for the final model, a
    * local-relation report; the usage sums are the exact [[unigramLmSoftEm]]
    * rollup.
    *
    * Output mirrors unigramLmTrain with final_usage in q units:
    * piece, freq, is_char, rounds_survived, final_p, final_usage_q.
    */
  def unigramLmTrainSoft(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      seedV: Int = 96, targetV: Int = 24, pruneFrac: Double = 0.5): DataFrame =
    unigramTrainReport("unigramLmTrainSoft", df, textCol, maxPieceLen, seedV, targetV,
      pruneFrac, soft = true)

  private def unigramTrainReport(op: String, df: DataFrame, textCol: String,
      maxPieceLen: Int, seedV: Int, targetV: Int, pruneFrac: Double,
      soft: Boolean): DataFrame = {
    val rows = unigramTrainCore(op, df, textCol, maxPieceLen, seedV, targetV, pruneFrac, soft)
      .fold(Array.empty[Row]) { t =>
        // final_p comes from the SAME modelProbs arithmetic the decode
        // kernel ran with — not a second hand-rolled normalization
        // (round-19 review finding: the report must show the exact
        // doubles the segmentation used)
        val (pieces, probs, _) = modelProbs(t.model)
        val finalP = pieces.iterator.zip(probs.iterator).toMap
        t.seedRows.map { case (p, f) =>
          Row(p, f, isChar(p), t.survivedRounds(p), finalP.getOrElse(p, null),
            t.finalUsage.getOrElse(p, 0L))
        }
      }
    localRelation(df, "piece STRING NOT NULL, freq BIGINT NOT NULL, is_char BOOLEAN NOT NULL, " +
        "rounds_survived INT NOT NULL, final_p DOUBLE, " +
        s"${if (soft) "final_usage_q" else "final_usage"} BIGINT NOT NULL", rows)
  }

  /** Trained state shared by [[unigramLmTrain]] (the per-piece report) and
    * [[unigramFertilityBySource]] (the corpus-fit dashboard): the seed
    * rows, prune-survival rounds, and the FINAL model (piece → weight). */
  private final case class UnigramTrained(
      seedRows: Array[(String, Long)],
      survivedRounds: collection.Map[String, Int],
      model: Array[(String, Long)],
      finalUsage: Map[String, Long])

  /** The [[unigramLmTrain]] loop body — one E-step job per schedule round
    * plus one under the final model (see the public scaladoc for the full
    * contract). Returns None on an empty corpus. */
  private def unigramTrainCore(op: String, df: DataFrame, textCol: String,
      maxPieceLen: Int, seedV: Int, targetV: Int,
      pruneFrac: Double, soft: Boolean): Option[UnigramTrained] = {
    val sched = unigramPruneSchedule(seedV, targetV, pruneFrac)
    val (words, seedRows) = unigramSeed(op, df, textCol, maxPieceLen, seedV, "seedV")
    if (seedRows.isEmpty) return None
    // hard: Viterbi-path counts; soft: the exact Σ wc·q of the q231 E-step
    def segUsage(model: Array[(String, Long)]): Map[String, Long] =
      unigramUsage(op, words, model, hard = !soft, soft = soft)
        .map { case (p, (h, q)) => p -> (if (soft) q else h) }
    // the character-backbone smoothing: one occurrence — which in soft
    // mode is 2^24 quantization units (the q231 M-step rule)
    val charSmooth = if (soft) 16777216L else 1L
    var model: Array[(String, Long)] = seedRows
    val survivedRounds = scala.collection.mutable.HashMap.empty[String, Int]
    seedRows.foreach { case (p, _) => survivedRounds(p) = 0 }
    sched.zipWithIndex.foreach { case (keepV, round) =>
      val usage = segUsage(model)
      val charsW = model.filter(m => isChar(m._1))
        .map { case (p, _) => (p, usage.getOrElse(p, 0L) + charSmooth) }
      // tie-break by UNSIGNED UTF-8 byte order, not Java String order
      // (round-19 review finding): Spark's UTF8String and DuckDB both
      // compare binary UTF-8, while String.compareTo compares UTF-16
      // code units — a usage tie at the cut between a supplementary
      // codepoint and a high-BMP char would otherwise pick different
      // survivors per engine
      val multiKept = model.filter(m => !isChar(m._1))
        .map { case (p, _) => (p, usage.getOrElse(p, 0L)) }
        .filter(_._2 > 0)
        .sortBy { case (p, u) => (UTF8String.fromString(p), u) }(Kernels.unigramSeedOrder)
        .take(keepV)
      model = charsW ++ multiKept
      (charsW.iterator.map(_._1) ++ multiKept.iterator.map(_._1))
        .foreach(p => survivedRounds(p) = round + 1)
    }
    Some(UnigramTrained(seedRows, survivedRounds, model, segUsage(model)))
  }

  /** (pieces, probs, unkScore) for a (piece, weight) model — the single
    * place the probability arithmetic lives so every consumer hands the
    * IDENTICAL doubles to the kernels. */
  private def modelProbs(model: Array[(String, Long)])
      : (IndexedSeq[String], IndexedSeq[Double], Double) = {
    val total = model.map(_._2).sum
    (model.map(_._1).toIndexedSeq,
      model.map(_._2.toDouble / total.toDouble).toIndexedSeq,
      1.0 / (total.toDouble * 1000000.0))
  }

  private def isChar(p: String): Boolean = p.codePointCount(0, p.length) == 1

  /** The unigram learners' shared start: the (word, wc) counts of the
    * corpus's non-empty space-separated words — one corpus scan and
    * shuffle, localCheckpointed once and read as an RDD by every later
    * job — and the seed vocabulary (piece, freq) from ONE job: every
    * code-point substring of up to maxPieceLen code points (Spark `substr`
    * semantics) summed by wc, then, per partition and again on the driver,
    * the top (65536 − multiV) single code points and the top multiV longer
    * pieces by (freq desc, piece asc in UTF-8 byte order). Characters come
    * first.
    *
    * The alphabet is CAPPED at the 65536-piece vocabulary bound minus the
    * multi budget (ADVICE r18): a full multilingual codepoint inventory (CJK
    * extensions + symbols + emoji) can exceed 65536 distinct codepoints;
    * keeping the most frequent routes the long tail through the kernels'
    * single-codepoint unk fallback (which exists exactly for out-of-vocab
    * codepoints), so the DP stays total. The cap never binds at oracle
    * scale, so the DuckDB replay (which seeds every codepoint) is
    * unaffected where it runs. multiV ≤ 61440 keeps a 4096-codepoint
    * backbone (ADVICE r19).
    */
  private def unigramSeed(op: String, df: DataFrame, textCol: String,
      maxPieceLen: Int, multiV: Int, multiName: String)
      : (RDD[(UTF8String, Long)], Array[(String, Long)]) = {
    require(maxPieceLen >= 2 && multiV >= 1,
      s"$op: need maxPieceLen >= 2 and $multiName >= 1, got $maxPieceLen/$multiV")
    require(multiV <= 61440,
      s"$op: $multiName capped at 61440 (the 65536 vocabulary bound minus a 4096-codepoint character-backbone reservation), got $multiV")
    val words = df.select(explode(toks(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
      .queryExecution.toRdd.map(r => (r.getUTF8String(0).copy(), r.getLong(1)))
    val charV = 65536 - multiV
    val tops = words
      .flatMap { case (w, wc) =>
        val n = w.numChars
        (0 until n).iterator.flatMap(i => (1 to math.min(maxPieceLen, n - i)).iterator
          .map(l => (w.substring(i, i + l), wc)))
      }
      .reduceByKey(Kernels.usageAdd(op, _, _))
      .mapPartitions { it =>
        val (c, m) = it.toArray.partition(_._1.numChars == 1)
        Iterator((c.sorted(Kernels.unigramSeedOrder).take(charV),
          m.sorted(Kernels.unigramSeedOrder).take(multiV)))
      }
      .collect()
    def top(xs: Array[(UTF8String, Long)], k: Int) =
      xs.sorted(Kernels.unigramSeedOrder).take(k).map { case (p, f) => (p.toString, f) }
    (words, top(tops.flatMap(_._1), charV) ++ top(tops.flatMap(_._2), multiV))
  }

  /** One E-step job over the (word, wc) counts under `model` (piece,
    * weight): per piece, the wc-weighted count on each word's Viterbi path
    * (`hard`, Kernels.unigramSegment) and Σ wc·q over its quantized
    * forward–backward posteriors (`soft`, Kernels.unigramExpected), both
    * from the same pass over the words when both are asked for. The model
    * passes the UnigramSegment.vocab checks first. An empty model runs no
    * job.
    */
  private def unigramUsage(op: String, words: RDD[(UTF8String, Long)],
      model: Array[(String, Long)], hard: Boolean, soft: Boolean)
      : Map[String, (Long, Long)] =
    if (model.isEmpty) Map.empty
    else {
      val (pieces, probs, unk) = modelProbs(model)
      val (vocab, maxLen) = graft.expr.UnigramSegment.vocab(op, pieces, probs, unk, soft)
      unigramRollup(op, words.flatMap { case (w, wc) =>
        val path = if (hard) Kernels.unigramSegment(w, vocab, unk, maxLen).array else Array.empty[Any]
        val post = if (soft) Kernels.unigramExpected(w, vocab, unk, maxLen).array else Array.empty[Any]
        path.iterator.map(p => (p.toString, (wc, 0L, 0L))) ++ post.iterator.map { e =>
          val r = e.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          (r.getUTF8String(0).toString, (0L, wc, r.getLong(1)))
        }
      }).collect().toMap
    }

  /** The E-step rollup: per piece, Σ hard and Σ wc·q over (piece, (hard,
    * wc, q)) terms, in exact BIGINT arithmetic (Kernels.usageTimes and
    * usageAdd), so the sums are order-independent, and one past
    * Long.MaxValue fails with an error naming `op`.
    */
  private[operators] def unigramRollup(op: String,
      terms: RDD[(String, (Long, Long, Long))]): RDD[(String, (Long, Long))] =
    terms.mapValues { case (h, wc, q) => (h, Kernels.usageTimes(op, wc, q)) }
      .reduceByKey((a, b) => (Kernels.usageAdd(op, a._1, b._1), Kernels.usageAdd(op, a._2, b._2)))

  /** A local relation of `rows` under the DDL schema: collecting it runs no
    * Spark job. */
  private def localRelation(df: DataFrame, ddl: String, rows: Seq[Row]): DataFrame =
    df.sparkSession.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  /** Tokenizer fit of the TRAINED unigram vocabulary, per source — the
    * [[fertilityByScript]] dashboard re-aimed at the [[unigramLmTrain]]
    * output (the question a tokenizer-training run actually asks: how many
    * subword pieces per character does the trained vocabulary spend on
    * each corpus slice — XLM-R/NLLB report exactly this per language):
    * train the vocabulary down the prune schedule, then ONE zero-shuffle
    * codegen decode projection over the corpus rows (the trained model
    * rides the plan; `unigram_segment` segments every whitespace word of
    * the row in one pass) and ONE source-keyed aggregate. Integer
    * fertility: pieces_per_kchar = n_pieces·1000 div n_chars (chars =
    * non-space codepoints, the kernel's own word alphabet).
    *
    * Scale shape: training is the q223 loop (one word count, then one
    * Spark job per seed and per E-step over the distinct words); the
    * corpus-sized work is the single decode projection + one
    * ≤|sources|-group aggregate — no joins, no corpus-keyed exchange
    * beyond the aggregate's.
    */
  def unigramFertilityBySource(df: DataFrame, textCol: String,
      sourceCol: String, maxPieceLen: Int = 4, seedV: Int = 96,
      targetV: Int = 24, pruneFrac: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unigramTrainCore("unigramFertilityBySource", df, textCol, maxPieceLen, seedV, targetV,
        pruneFrac, soft = false) match {
      case None =>
        // no trainable words does NOT mean no sources: the report still
        // rolls up every source with zero pieces — the oracle aggregates
        // FROM documents unconditionally, so an empty frame here would
        // row-count-diverge on a whitespace-only corpus (round-19 review
        // finding)
        df.select(col(sourceCol).as("source"),
            length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
          .select(col("source"), col("n_docs"), col("n_chars"),
            lit(0L).as("n_pieces"), lit(0L).as("pieces_per_kchar"))
      case Some(t) =>
        val (pieces, probs, unk) = modelProbs(t.model)
        df.select(col(sourceCol).as("source"),
            size(graft.functions.unigram_segment(col(textCol), pieces, probs, unk))
              .cast("long").as("n_pieces"),
            length(regexp_replace(col(textCol), " ", "")).cast("long").as("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("n_pieces")).as("n_pieces"))
          .withColumn("pieces_per_kchar",
            when(col("n_chars") > 0,
              expr("(n_pieces * 1000L) div n_chars")).otherwise(lit(0L)))
    }
  }

  /** Zipf doubling-bin fit: the integer least-squares slope of
    * ilog2(types-per-bin) against the [[frequencySpectrum]] bin index — a
    * one-number corpus-health summary of the heavy tail (a natural corpus
    * decays with slope near −1 under Zipf's law: each doubling of token
    * frequency roughly halves the number of types; templated/boilerplate
    * corpora flatten, OCR noise steepens). Both axes are EXACT integers
    * (the ilog2 binary-string trick, never libm), so the regression sums
    * and the num/den pair sit on the exact-hash gate; slope and intercept
    * are each ONE division of identical integers — bit-reproducible
    * cross-engine without any float accumulation order to pin.
    *
    * Scale shape: the spectrum is one explode + token-keyed count and a
    * ≤64-group aggregate (log-bounded at any corpus size); the fit adds
    * one global aggregate over those ≤64 rows. Output: one row
    * (n_bins, sx, sy, sxy, sxx, slope_num, slope_den, slope, intercept);
    * slope/intercept null when degenerate (fewer than two distinct bins).
    */
  def zipfSpectrumFit(df: DataFrame, textCol: String): DataFrame = {
    val pts = frequencySpectrum(df, textCol)
      .select(col("bin").cast("long").as("x"),
        (length(conv(col("n_types"), 10, 2)) - 1).cast("long").as("y"))
    pts.agg(
        count(lit(1)).as("n_bins"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n_bins") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_den", col("n_bins") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        when(col("slope_den") =!= 0,
          col("slope_num").cast("double") / col("slope_den").cast("double")))
      .withColumn("intercept",
        when(col("slope_den") =!= 0,
          (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
            / col("n_bins").cast("double")))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3: the corpus
    * is split into head / middle / tail THIRDS by language-model
    * perplexity, and downstream mixing samples the thirds differently):
    * each document's Kneser–Ney improbability rate ([[knBigramGate]]'s
    * integer improb_ppm — the repo's exact-arithmetic perplexity stand-in)
    * is tertile-binned by the shared histogram-quantile sketch, and the
    * report rolls up each bucket's population and gate stats. qbin 0
    * ("head") = lowest improbability = most fluent.
    *
    * Scale shape: the KN gate is one vocabulary-keyed join chain (see
    * knBigramGate); its per-doc output is localCheckpointed ONCE because
    * the quantile sketch scans its input three times (stats, histogram,
    * assignment — the q212 residual-frame precedent; at cluster scale an
    * explicit persist serves the same purpose). Everything after is the
    * bounded-histogram shape: ≤64 bucket rows, one ≤3-group aggregate.
    */
  def perplexityTertiles(docs: DataFrame, refDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val gate = knBigramGate(docs, refDocs, idCol, textCol).localCheckpoint()
    val binned = HistogramQuantiles.quantileBin(gate, "improb_ppm",
      buckets = 64, qs = Seq(1.0 / 3, 2.0 / 3))
    binned.groupBy(col("qbin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("n_bigrams")).as("sum_bigrams"),
        sum(col("n_improb")).as("sum_improb"),
        min(col("improb_ppm")).as("min_ppm"),
        max(col("improb_ppm")).as("max_ppm"))
      .withColumn("bucket_label",
        when(col("qbin") === 0, lit("head"))
          .when(col("qbin") === 1, lit("middle"))
          .otherwise(lit("tail")))
  }
}

/** Leftmost-first-fit segment tree over open-bin REMAINING capacities —
  * the O(log bins) inner loop of [[TextAnalysis.packBinsFfd]] (round-19
  * review finding: the naive linear scan is O(docs·bins) per shard).
  * `place(n)` returns the 0-based index of the leftmost open bin with
  * remaining ≥ n, opening a new bin when none has room — bit-identical to
  * the linear first-fit walk (an oversize document opens a bin whose
  * remainder goes negative and never fits anything again). Leaves hold
  * remainders (−1 = not open); internal nodes hold subtree maxima; the
  * leaf array doubles on demand.
  */
// private[graft]: the packBinsFfd walk plus graft.tools.FfdBench (the
// BASELINE.md measurement of the O(log bins) claim, VERDICT r19 #6)
private[graft] final class FirstFitTree(capacity: Int) {
  private var leafCap = 1024
  private var tree = {
    val t = new Array[Int](2 * leafCap)
    java.util.Arrays.fill(t, -1)
    t
  }
  private var nBins = 0

  private def grow(): Unit = {
    val old = tree
    val oldLeafCap = leafCap
    leafCap *= 2
    tree = new Array[Int](2 * leafCap)
    java.util.Arrays.fill(tree, -1)
    System.arraycopy(old, oldLeafCap, tree, leafCap, oldLeafCap)
    var i = leafCap - 1
    while (i >= 1) {
      tree(i) = math.max(tree(2 * i), tree(2 * i + 1))
      i -= 1
    }
  }

  def place(n: Int): Int = {
    val b =
      if (tree(1) >= n) {
        var i = 1
        while (i < leafCap) i = if (tree(2 * i) >= n) 2 * i else 2 * i + 1
        i - leafCap
      } else {
        if (nBins == leafCap) grow()
        val fresh = nBins
        nBins += 1
        tree(leafCap + fresh) = capacity
        fresh
      }
    var i = leafCap + b
    tree(i) -= n
    i >>= 1
    while (i >= 1) {
      tree(i) = math.max(tree(2 * i), tree(2 * i + 1))
      i >>= 1
    }
    b
  }
}

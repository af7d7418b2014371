package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over whitespace-tokenized documents — the ranked
  * search the reference delegates to its host engine (README.md:22-29
  * positions the tokenizer as the analysis stage of a Hive/Solr-style
  * search pipeline; this is the ranking stage, Spark-first).
  *
  * Scale shape: the query-term filter is applied directly under the token
  * explode, so only matched postings — at most |terms| · |docs| rows, in
  * practice a tiny fraction of the token stream — ever reach a shuffle.
  * Document frequencies aggregate those same matched postings (≤ |terms|
  * rows out, broadcast back), corpus stats (N, avgdl) are one scalar
  * aggregate broadcast as a single row, and the final ranking is
  * TakeOrdered (top-k per partition → merge), never a global sort.
  */
object Retrieval {

  /** BM25 top-k (Robertson/Walker/Jones, TREC-3 Okapi):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * `logIdf = true` is the classic form, idf = ln(1 + (N−df+0.5)/(df+0.5)).
    * `logIdf = false` drops the ln and uses the rational idf
    * (N−df+0.5)/(df+0.5): per-term monotone in df exactly like the classic
    * form, and — because it is pure field arithmetic — bit-reproducible
    * across engines, which keeps the whole pipeline (tokenize → tf → df →
    * length-norm → ordered sum → top-k) inside the exact-hash oracle gate.
    * (The no-libm rule: libm `ln` bits differ across engines, so the ln
    * form stays off every oracle-compared path.)
    *
    * The per-document sum folds term scores in sorted-term order (sorted
    * struct array + left fold from 0.0), so the double accumulation order
    * is deterministic and replayable by any engine with an ordered fold.
    *
    * Output: doc_id, n_terms (matched query terms), score, rn (1-based).
    * Documents matching no query term are absent (standard disjunctive
    * retrieval over an inverted index: only postings are scored).
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20, logIdf: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: query term set must be non-empty")
    bm25TopKTerms(df, idCol, textCol,
      df.sparkSession.createDataFrame(terms.distinct.map(Tuple1(_)))
        .toDF("term"),
      k1, b, topK, logIdf)
  }

  /** bm25TopK with the query term set as a one-column DataFrame ("term") —
    * the shape query-expansion stages produce. The term set joins the
    * posting stream broadcast (it is a query, bounded by construction),
    * so the plan is identical to the literal-isin form: only matched
    * postings reach a shuffle.
    */
  def bm25TopKTerms(df: DataFrame, idCol: String, textCol: String,
      termsDf: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20, logIdf: Boolean = true): DataFrame = {
    val terms = termsDf.select(col("term")).distinct()
    val toks = split(col(textCol), " ")
    val lens = df.select(col(idCol).as("doc_id"), size(toks).as("dl"))
    val stats = lens.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val posted = df.select(col(idCol).as("doc_id"), explode(toks).as("term"))
      .join(broadcast(terms), Seq("term"))
    val tf = posted.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("dft"))
    // Operand shapes below are kept in lockstep with the q127 oracle SQL:
    // identical association order => identical double bits.
    val idfRaw = (col("n_docs").cast("double") - col("dft") + lit(0.5)) /
      (col("dft") + lit(0.5))
    val idf = if (logIdf) log(lit(1.0) + idfRaw) else idfRaw
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val scored = tf
      .join(broadcast(dft), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * (col("tf").cast("double") * lit(k1 + 1.0) / denom))
    // ordered_struct_sum (r22): the sorted-term left fold used to run as
    // an interpreted `aggregate(array_sort(...))` HOF — CodegenFallback,
    // evaluated via the interpreter per document. The codegen kernel sorts
    // by (term, s) and folds the same IEEE double chain: bit-identical
    // (terms are distinct per doc — groupBy keys), oracle hash green.
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("term"), col("s"))).as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n_terms"),
        graft.functions.ordered_struct_sum(col("ts")).as("score"))
    // TakeOrdered bounds the sort; the rank window then runs over ≤ topK
    // rows (the q41 pattern — never a global single-partition window).
    val top = perDoc.orderBy(col("score").desc, col("doc_id")).limit(topK)
    top.withColumn("rn",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("n_terms"), col("score"), col("rn"))
  }

  /** Hybrid lexical+vector retrieval with reciprocal-rank fusion
    * (Cormack/Clarke/Büttcher, SIGIR 2009): BM25 supplies the lexical
    * candidate set (top `kLex`), each candidate is re-scored by cosine to
    * the query vector, and the two RANKINGS fuse as
    * rrf = 1/(rrfK + lex_rn) + 1/(rrfK + vec_rn). Rank-based fusion is
    * scale-free (no score normalization problem) and — because the fused
    * quantity is a fixed two-term sum over small integers — exactly
    * reproducible cross-engine, unlike score-blend hybrids.
    *
    * Scale shape: everything after the BM25 TakeOrdered touches ≤ kLex
    * rows — the embedding join probes by id (broadcast candidate side),
    * the query vector is a one-row broadcast, and both rank windows run
    * over the candidate set only.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], queryVecId: Long,
      kLex: Int = 25, kFinal: Int = 10, rrfK: Int = 60): DataFrame = {
    val lex = bm25TopK(docs, idCol, textCol, terms, topK = kLex,
        logIdf = false)
      .select(col("doc_id"), col("rn").as("lex_rn"))
    val qv = broadcast(emb.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb")))
    val cand = broadcast(lex)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .crossJoin(qv)
      .withColumn("cos", graft.functions.cosine_sim(col("embedding"), col("q_emb")))
    val wV = Window.orderBy(col("cos").desc, col("doc_id"))
    val ranked = cand.withColumn("vec_rn", row_number().over(wV))
      .withColumn("rrf",
        lit(1.0) / (lit(rrfK) + col("lex_rn")) +
          lit(1.0) / (lit(rrfK) + col("vec_rn")))
    val wF = Window.orderBy(col("rrf").desc, col("doc_id"))
    ranked.withColumn("rn", row_number().over(wF))
      .where(col("rn") <= kFinal)
      .select(col("doc_id"), col("lex_rn"), col("vec_rn"), col("cos"),
        col("rrf"), col("rn"))
  }

  /** Pseudo-relevance-feedback term expansion (the RM3 family, Lavrenko &
    * Croft SIGIR 2001 / Abdul-Jaleel TREC 2004): assume the top `kFb`
    * BM25 documents are relevant, mine their most frequent terms, and add
    * the top `mExp` (excluding the seed terms and tokens shorter than
    * `minLen`) to the query. Unweighted expansion keeps every downstream
    * number inside the exact-oracle gate — classic RM3 interpolates
    * per-term probabilities, which would reintroduce cross-engine float
    * drift for no extra coverage here.
    *
    * Scale shape: the feedback set is ≤ kFb doc ids broadcast into the
    * token stream; candidate counting aggregates only those documents'
    * tokens; the top-m selection is TakeOrdered over the candidate term
    * table. Ties break by (weight desc, term asc) — total and replayable.
    */
  def prfExpandTerms(df: DataFrame, idCol: String, textCol: String,
      seedTerms: Seq[String], kFb: Int, mExp: Int, minLen: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seedTerms.nonEmpty, "prfExpandTerms: seed term set must be non-empty")
    val fb = bm25TopK(df, idCol, textCol, seedTerms, k1, b,
      topK = kFb, logIdf = false).select(col("doc_id"))
    df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .join(broadcast(fb), Seq("doc_id"))
      .where(length(col("term")) >= minLen && !col("term").isin(seedTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("term")).limit(mExp)
      .select(col("term"))
  }

  /** Ranking evaluation at cutoffs `ks`: precision@k, recall@k, MRR@k over
    * a ranked result (doc_id, rn) and a boolean relevance-label table —
    * the measurement loop every retrieval stack closes before shipping a
    * ranker change. Metric choice follows the oracle-gate house rule:
    * P/R/MRR are single integer divisions (exactly replayable), where
    * nDCG's log2 discounts would put libm bits in the compare path
    * (the no-libm rule).
    *
    * Scale shape: ranked is ≤ topK rows by construction — every join here
    * is broadcast-bounded; the label table aggregates once into a one-row
    * total. MRR@k is 0.0 when no relevant doc is retrieved (standard).
    */
  def evalRanking(ranked: DataFrame, labels: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "evalRanking: cutoff list must be non-empty")
    val spark = ranked.sparkSession
    import spark.implicits._
    val lab = labels.select(col("doc_id"), col("rel"))
    val j = ranked.select(col("doc_id"), col("rn"))
      .join(lab, Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(false)))
    val tot = lab.agg(count(when(col("rel"), lit(1))).as("total_rel"))
    j.join(broadcast(ks.toDF("k")), col("rn") <= col("k"))
      .groupBy("k")
      .agg(count(when(col("rel"), lit(1))).as("n_rel"),
        min(when(col("rel"), col("rn"))).as("first_rel_rn"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_rel"), col("total_rel"),
        (col("n_rel").cast("double") / col("k")).as("precision"),
        // guard total_rel = 0 like mrr guards first_rel_rn: IEEE 0/0 is NaN
        // and DuckDB's divide-by-zero semantics differ across versions
        when(col("total_rel") === 0, lit(0.0))
          .otherwise(col("n_rel").cast("double") / col("total_rel")).as("recall"),
        when(col("first_rel_rn").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_rel_rn")).as("mrr"))
  }

  /** BM25 with one round of pseudo-relevance feedback: seed retrieval →
    * expansion terms → re-retrieval over seed ∪ expansion. Rational idf
    * throughout (the oracle-gate form).
    */
  def bm25Prf(df: DataFrame, idCol: String, textCol: String,
      seedTerms: Seq[String], kFb: Int = 10, mExp: Int = 3, minLen: Int = 4,
      topK: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val exp = prfExpandTerms(df, idCol, textCol, seedTerms, kFb, mExp, minLen, k1, b)
    val seed = df.sparkSession
      .createDataFrame(seedTerms.distinct.map(Tuple1(_))).toDF("term")
    bm25TopKTerms(df, idCol, textCol, exp.union(seed).distinct(),
      k1, b, topK, logIdf = false)
  }

  /** MMR diversification re-rank (Carbonell & Goldstein, SIGIR 1998):
    * greedily select kSel results from the BM25 top-kLex candidate list,
    * each step maximizing  λ·relevance − (1−λ)·max-similarity-to-selected.
    *
    * Every compared quantity is BIGINT-exact so the greedy argmax (and
    * therefore the whole selection) sits in the exact oracle gate:
    * relevance = (kLex+1 − lex_rn)·relUnit (reversed lexical rank, an
    * integer), similarity = the RAW int8-quantized dot product
    * (Quantize.int8 codes, the q75 math WITHOUT the double rescale — the
    * scales cancel in an argmax over a shared candidate pool anyway), and
    * λ enters as the integer pair lamNum/lamDen multiplied through:
    * mmr = lamNum·rel − (lamDen−lamNum)·maxsim. Ties break by doc_id.
    * Classic MMR compares raw cosines; the integer formulation trades the
    * (monotone) scale factors for bit-reproducibility, not behavior.
    *
    * Scale shape: everything after the BM25 TakeOrdered is bounded by
    * kLex, so the candidate frame (≤ kLex rows of id, rank and int8
    * codes) is COLLECTED once and the greedy argmax loop runs on the
    * driver in the same exact integer arithmetic (r22). The r21 form kept
    * the loop distributed — kSel TakeOrdered jobs plus per-step
    * localCheckpoints over ≤ kLex-row frames — and measured 56 jobs /
    * 3.3 s wall for 1.0 CPU-s at sf0.1: pure job-scheduling overhead on a
    * provably bounded problem. The collect is the house bounded-collect
    * class (kLex·dims longs — smaller than the PQ codebook collects);
    * corpus-scale work (the BM25 ranking, the embedding probe join) stays
    * distributed, and the driver never touches an unbounded frame. The
    * embeddings are semi-joined to the candidates before Quantize.int8, so
    * quantization runs on ≤ kLex rows, not the whole table; int8 works per
    * row, so the codes are the same.
    * Selection order, tie-breaks (doc_id asc) and the integer mmr scores
    * are replayed bit-identically — pinned by RetrievalSpec and the q141
    * oracle hash.
    */
  def mmrDiversify(docs: DataFrame, emb: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], kLex: Int = 20, kSel: Int = 8,
      lamNum: Long = 6L, lamDen: Long = 10L, relUnit: Long = 2000L)
      : DataFrame = {
    require(kSel >= 1 && kSel <= kLex, "mmrDiversify: need 1 <= kSel <= kLex")
    require(lamNum > 0 && lamNum < lamDen, "mmrDiversify: 0 < lambda < 1")
    val lex = bm25TopK(docs, idCol, textCol, terms, topK = kLex,
        logIdf = false)
      .select(col("doc_id"), col("rn").as("lex_rn"))
    val codes = graft.operators.Quantize
      .int8(emb.join(broadcast(lex.select(col("doc_id").as("vec_id"))), Seq("vec_id"),
        "left_semi"), "vec_id", "embedding")
      .select(col("vec_id").as("doc_id"), col("codes"))
    val candRows = broadcast(lex).join(codes, Seq("doc_id"))
      .select(col("doc_id"), col("lex_rn"),
        ((lit(kLex + 1) - col("lex_rn")).cast("long") * relUnit).as("rel"),
        col("codes"))
      .collect()
    val sess = docs.sparkSession
    import sess.implicits._
    if (candRows.isEmpty)
      return Seq.empty[(Long, Int, Int)].toDF("doc_id", "lex_rn", "pick")
    val ids = candRows.map(_.getLong(0))
    val rns = candRows.map(_.getInt(1))
    val rels = candRows.map(_.getLong(2))
    val cds = candRows.map(_.getSeq[Long](3).toArray)
    val n = candRows.length
    val dims = cds.map(_.length).distinct
    require(dims.length == 1, "mmrDiversify: embedding column 'embedding' " +
      s"has mixed dimensions ${dims.sorted.mkString(", ")} among the candidates")
    def dot(x: Array[Long], y: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    // greedy loop — the exact integer recurrence of the r21 distributed
    // form: seed = argmax (rel desc, doc_id asc); each further step
    // maximizes lamNum·rel − (lamDen−lamNum)·max-sim-to-selected with the
    // same tie-break. All longs, so bit-equal to the Spark TakeOrdered.
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val maxsim = Array.fill(n)(Long.MinValue)
    var seed = 0
    for (j <- 1 until n)
      if (rels(j) > rels(seed) || (rels(j) == rels(seed) && ids(j) < ids(seed)))
        seed = j
    picked += seed
    while (picked.length < math.min(kSel, n)) {
      val last = picked.last
      var best = -1
      var bestMmr = 0L
      for (j <- 0 until n if !picked.contains(j)) {
        val s = dot(cds(j), cds(last))
        if (s > maxsim(j)) maxsim(j) = s
        val mmr = lamNum * rels(j) - (lamDen - lamNum) * maxsim(j)
        if (best < 0 || mmr > bestMmr || (mmr == bestMmr && ids(j) < ids(best))) {
          best = j; bestMmr = mmr
        }
      }
      picked += best
    }
    picked.zipWithIndex
      .map { case (j, k) => (ids(j), rns(j), k + 1) }
      .toSeq.toDF("doc_id", "lex_rn", "pick")
  }

  /** Cohen's κ classifier-agreement as EXACT integer rationals (Cohen,
    * 1960): with n pairs, a = exact agreements, and pe_num = Σ_c
    * n_pred(c)·n_truth(c) the chance-agreement numerator,
    *
    *   κ = (n·a − pe_num) / (n² − pe_num)
    *
    * — both sides integers, so the eval metric sits on the exact-hash
    * gate; `kappa` is the one presentation double (the evalRanking
    * rational-only rule). The label-noise / annotator-drift audit for
    * classifier-labeled curation (a high-accuracy classifier with κ≈0 is
    * just predicting the majority class — accuracy alone can't see it).
    *
    * Scale shape: one corpus-scan aggregate + two class-keyed marginal
    * counts (|classes| rows) joined and summed — three tiny frames
    * cross-joined broadcast; no window, no corpus-sized shuffle.
    * Output: one row (n, n_agree, pe_num, kappa_num, kappa_den, kappa).
    */
  def cohenKappa(pairs: DataFrame, predCol: String, truthCol: String): DataFrame = {
    val base = pairs.select(col(predCol).cast("long").as("p"),
      col(truthCol).cast("long").as("t"))
    val totals = base.agg(count(lit(1)).as("n"),
      count(when(col("p") === col("t"), 1)).as("n_agree"))
    val margP = base.groupBy(col("p").as("c")).agg(count(lit(1)).as("np"))
    val margT = base.groupBy(col("t").as("c")).agg(count(lit(1)).as("nt"))
    val pe = margP.join(margT, Seq("c"))
      .agg(coalesce(sum(col("np") * col("nt")), lit(0L)).as("pe_num"))
    totals.crossJoin(broadcast(pe))
      .withColumn("kappa_num", col("n") * col("n_agree") - col("pe_num"))
      .withColumn("kappa_den", col("n") * col("n") - col("pe_num"))
      .withColumn("kappa",
        when(col("kappa_den") =!= 0,
          col("kappa_num").cast("double") / col("kappa_den").cast("double")))
  }

  /** BM25 hard-negative mining (the DPR recipe, Karpukhin et al. 2020 §4.2:
    * "negative passages... the top passages returned by BM25"): for each
    * query document, the lexically-closest corpus documents are ranked by
    * per-query BM25 (query terms = the query doc's distinct tokens, the
    * doc-as-query protocol), the document itself is excluded, and each
    * candidate is annotated with its embedding cosine to the query — a
    * candidate that is lexically top-ranked but semantically DISTANT
    * (cos < threshold) is a hard negative for contrastive training.
    *
    * Scale shape: the query side is bounded, so its distinct (qid, term)
    * frame and the union term set broadcast; the corpus token stream is
    * filtered to matched terms UNDER the explode (the bm25TopK discipline —
    * only postings shuffle, keyed on (doc_id, term)); the per-query
    * expansion happens on the matched tf frame, not the token stream; the
    * ranking window keys on qid; and the embedding annotation probes by id
    * with the ≤ topM·|queries| candidate frame broadcast. Embeddings are
    * LEFT-joined: a candidate (or query) without a vector keeps cos null
    * and is_hard false — never silently dropped.
    *
    * `maxQueryTerms` caps each query's term set at the rarest-df (= max
    * idf) terms — the Lucene MoreLikeThis doc-as-query protocol
    * (maxQueryTerms defaults to 25 there). The cap bounds the per-query
    * expansion at Σ_{t ∈ cap} df(t) rows: WITHOUT it, a low-entropy
    * corpus (template text, degenerate vocabulary) degrades doc-as-query
    * to |queries| × |postings| — measured 17.7 s → ~2 s at sf0.1 on
    * exactly that corpus shape. Rarest-first also selects the most
    * DISCRIMINATIVE terms, so ranking quality is what MoreLikeThis ships.
    *
    * Per-term scores are q20 fixed-point quantized and summed as
    * integers (see the inline note at the aggregate — the measured
    * replacement for the interpreted rank-ordered double fold); logIdf =
    * false keeps libm out of the compare path (the no-libm rule).
    *
    * Output per query: qid, doc_id, n_terms, score_q20 (fixed-point
    * BM25·2²⁰), rn, cos, is_hard = cos IS NOT NULL AND cos < cosThreshold.
    */
  def bm25HardNegatives(docs: DataFrame, idCol: String, textCol: String,
      queryPred: org.apache.spark.sql.Column, emb: DataFrame,
      topM: Int, cosThreshold: Double,
      k1: Double = 1.2, b: Double = 0.75, maxQueryTerms: Int = 16): DataFrame = {
    require(topM >= 1, s"bm25HardNegatives: topM must be >= 1, got $topM")
    require(maxQueryTerms >= 1,
      s"bm25HardNegatives: maxQueryTerms must be >= 1, got $maxQueryTerms")
    val toksC = split(col(textCol), " ")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"))
    val lens = base.select(col("doc_id"),
      size(split(col("__text"), " ")).as("dl"))
    val stats = lens.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = docs.where(queryPred)
      .select(col(idCol).cast("long").as("qid"), explode(toksC).as("term"))
      .distinct()
    val termsAll = qterms.select(col("term")).distinct()
    // dl rides the posting rows into the tf aggregate (constant per doc,
    // max() reduces it) so the scored frame NEVER joins back to the
    // corpus-sized lens frame — on a low-entropy corpus the matched-tf
    // frame is postings-dense and that join was a full extra shuffle
    val posted = base
      .select(col("doc_id"), size(split(col("__text"), " ")).as("dl"),
        explode(split(col("__text"), " ")).as("term"))
      .join(broadcast(termsAll), Seq("term"))
    val tf = posted.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("dft"))
    // operand shapes in lockstep with bm25TopKTerms / the q127 oracle:
    // identical association order => identical double bits
    val idf = (col("n_docs").cast("double") - col("dft") + lit(0.5)) /
      (col("dft") + lit(0.5))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    // MoreLikeThis term cap: per query keep the maxQueryTerms rarest terms
    // (df asc, term asc — deterministic); the window runs over the bounded
    // broadcast-sized qterms frame, never the postings
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dft").asc, col("term").asc)
    val qtermsCapped = qterms.join(dft, Seq("term"))
      .withColumn("__qtr", row_number().over(wq))
      .where(col("__qtr") <= maxQueryTerms)
      .select(col("qid"), col("term"))
    // Per-term scores are quantized to q20 fixed point (the q208 PQ
    // precedent: FLOOR(s · 2²⁰) — ~1e-6 resolution) so the per-(qid, doc)
    // rollup is an ASSOCIATIVE integer SUM: codegen hash agg with map-side
    // combine, order-free and exact on both engines. The rank-ordered
    // double fold bm25TopKTerms uses is correct but runs as an
    // INTERPRETED higher-order function — over the postings-dense frame a
    // doc-as-query workload produces, that fold measured 12.4 s of the
    // operator's 14 s at sf0.1; the integer sum removes it wholesale.
    // Overflow headroom: s < idf(df=1)·(k1+1) ≈ 1.47·N, so the 16-term
    // q20 sum stays under 2⁶³ up to N ≈ 3.7·10¹¹ docs — beyond that,
    // widen to DECIMAL(38,0) (the q209 upgrade path).
    val scored = tf
      .join(broadcast(qtermsCapped), Seq("term"))
      .where(col("doc_id") =!= col("qid"))
      .join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("sq",
        floor((idf * (col("tf").cast("double") * lit(k1 + 1.0) / denom))
          * lit(1048576.0)).cast("long"))
    val perDoc = scored.groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        sum(col("sq")).as("score_q20"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_q20").desc, col("doc_id"))
    // localCheckpoint: cand is bounded (≤ topM·|queries| rows) but
    // referenced FIVE times below (the output branch, both candIds union
    // sides, and — through candIds — both embSmall derivations). Spark
    // logical plans are trees, so without the re-root every reference
    // embeds its own copy of the whole corpus BM25 subtree — measured as a
    // 522-operator / 107-Exchange physical plan at r21 open (plan file
    // plans/r21/q214_bm25_hard_negatives_before.txt); one bounded
    // materialization collapses it to a single BM25 pass.
    val cand = perDoc.withColumn("rn", row_number().over(w))
      .where(col("rn") <= topM)
      .localCheckpoint()
    // the embedding annotation must LEFT-preserve cand, and a left join
    // cannot broadcast-build its preserved side (the tripletMine note) —
    // so first reduce emb to the candidate/query ids with a broadcast
    // inner join (emb scans shuffle-free, ≤ 2·topM·|queries| rows out),
    // then broadcast the reduced frames as the build sides
    val candIds = cand.select(col("qid").as("vec_id"))
      .union(cand.select(col("doc_id").as("vec_id"))).distinct()
    // localCheckpoint: embSmall (≤ 2·topM·|queries| rows) feeds BOTH the
    // qe and ce build sides — without the re-root each side re-scans the
    // embeddings parquet through its own copy of the reduction join.
    val embSmall = emb.join(broadcast(candIds), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val qe = embSmall.select(col("vec_id").as("qid"), col("embedding").as("__qe"))
    val ce = embSmall.select(col("vec_id").as("doc_id"), col("embedding").as("__ce"))
    cand
      .join(broadcast(qe), Seq("qid"), "left")
      .join(broadcast(ce), Seq("doc_id"), "left")
      .withColumn("cos", graft.functions.cosine_sim(col("__qe"), col("__ce")))
      .select(col("qid"), col("doc_id"), col("n_terms"), col("score_q20"),
        col("rn"), col("cos"),
        (col("cos").isNotNull && col("cos") < lit(cosThreshold)).as("is_hard"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines (SURVEY.md §2-C).
  *
  * Algorithms follow the published formulations: MinHash resemblance
  * sketches (Broder 1997, "On the resemblance and containment of
  * documents"), LSH banding (Leskovec/Rajaraman/Ullman, Mining of Massive
  * Datasets ch. 3), and SimHash (Charikar 2002, "Similarity estimation
  * techniques from rounding algorithms").
  *
  * The operators are stateless DataFrame→DataFrame transforms built from
  * shuffle-keyed built-ins, so they scale with partition count:
  * shingle/signature explosion is map-side, candidate generation shuffles
  * on (band, value) or shingle keys, and skewed keys are handled by AQE
  * skew-join splitting at runtime. One exception runs Spark jobs and
  * collects to the driver while it builds its plan: `connectedComponents`
  * checkpoints and counts its edges, collects them (and the node ids) into
  * a driver union-find when they fit under its size bound, and otherwise
  * runs one `isEmpty` convergence job per iteration.
  *
  * No operator caches a frame in the session: once a result is consumed,
  * the CacheManager holds no entry from it. Several operators read their
  * input more than once (the two sides of a self-join, the verification
  * join back to the shingle hashes, both blocking passes), and every read
  * recomputes it, so the input must be deterministic: no `rand`, `uuid`
  * or `monotonically_increasing_id` in its plan. Where two reads plan to
  * the same exchange, AQE's stage reuse runs it once.
  */
object Dedup {

  /** MinHash permutation constants, mod P = 1e9+7 (mirrored in DuckDB
    * oracles).
    */
  def hashA(i: Int): Long = 1103L * i + 12289L
  def hashB(i: Int): Long = 24593L * i + 786433L

  def tokens(textCol: Column): Column = split(textCol, " ")

  /** Exact dedup by content hash: one representative (min id) per distinct
    * text. A single hash-shuffle; at 100 TB the md5 shrinks shuffle keys to
    * 32 bytes regardless of document size.
    */
  def exactByHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** k-gram positions 1..size-k+1, guarded: Spark's sequence(1, n) counts
    * DOWN when n < 1, so short texts must yield an empty array explicitly.
    */
  private[operators] def gramsOf(tk: Column, k: Int): Column = {
    // k-gram windows via arrays_zip of k shifted slices: every slice is a
    // TOP-LEVEL lambda child, evaluated once per row. The index-sequence
    // form (slice(tk, i, k) inside the transform lambda) re-evaluates the
    // tokenization expression per element — O(n·k·n) per row, profiled as
    // the dominant cost of q43/q59 at sf0.1.
    val m = size(tk) - (k - 1)
    val shifted = (0 until k).map(j => slice(tk, lit(j + 1), m))
    when(size(tk) >= k,
      transform(arrays_zip(shifted: _*),
        s => concat_ws(" ", (0 until k).map(j => s.getField(j.toString)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct k-token shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(gramsOf(tokens(col(textCol)), k))).as("shingle"))

  /** (id, h) where h = graft_hash64(shingle), distinct per doc — the
    * long-keyed shingle view: 8-byte shuffle keys instead of strings, used
    * by both Jaccard and MinHash. Computed by the fused ShingleHashes
    * expression (no intermediate shingle strings) with per-row
    * array_distinct — dedup happens map-side with NO shuffle, and a
    * within-doc hash collision merges identically in every engine.
    */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(graft.functions.shingle_hashes(col(textCol), k))).as("h"))

  /** n-gram Jaccard near-duplicate pairs over hashed shingles (id_a < id_b,
    * jac ≥ threshold). Shuffle is keyed by the 8-byte shingle hash; only
    * shingles shared by ≥2 docs produce join rows, so cost tracks
    * true-duplicate density, not |docs|². Pick k large enough that random
    * shingle collisions are rare (k=6 over a 31-word vocabulary ⇒ 887M-value
    * space; hash space 1e9+7).
    *
    * `maxShingleDocFreq` is the hot-key density control for corpus scale: a
    * shingle appearing in more than this many documents (boilerplate,
    * license headers) would contribute a quadratic number of join rows on a
    * single key; such shingles are dropped from the representation entirely
    * (both the shared counts AND the per-doc sizes — set semantics stay
    * consistent, like a stopword). The hot set is tiny by construction
    * (Zipf tail), so it broadcasts.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleDocFreq: Int = Int.MaxValue): DataFrame = {
    val all = hashedShingles(df, idCol, textCol, k)
    val sh =
      if (maxShingleDocFreq == Int.MaxValue) all
      else {
        // rows of `all` are distinct (id, h), so count(*) per h = doc freq
        val hot = all.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxShingleDocFreq).select(col("h"))
        all.join(broadcast(hot), Seq("h"), "left_anti")
      }
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("id").as("id_a"), col("h"))
    val b = sh.select(col("id").as("id_b"), col("h"))
    val shared = a.join(b, Seq("h"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"), col("n_b"), col("jaccard"))
  }

  /** Containment near-dup pairs (Broder's containment coefficient):
    * |A∩B| / |A| — the one-sided overlap that catches SUBSET duplicates
    * (a doc embedded verbatim inside a larger one), which symmetric
    * Jaccard misses when sizes are skewed (|A∩B|/|A∪B| → small). Same
    * shingle-hash-keyed shuffle as ngramJaccardPairs; emits the ordered
    * pair once with both directions' coefficients, keeping rows where
    * either direction clears the threshold.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double): DataFrame = {
    val sh = hashedShingles(df, idCol, textCol, k)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("id").as("id_a"), col("h"))
    val b = sh.select(col("id").as("id_b"), col("h"))
    val shared = a.join(b, Seq("h"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("containment_a", col("shared") / col("n_a"))
      .withColumn("containment_b", col("shared") / col("n_b"))
      .where(col("containment_a") >= threshold || col("containment_b") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"),
        col("containment_a"), col("containment_b"))
  }

  /** Exact set-similarity self-join (word-token Jaccard ≥ num/den) via
    * AllPairs/PPJoin prefix filtering (Bayardo et al., "Scaling Up All
    * Pairs Similarity Search", WWW'07; Xiao et al., "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW'08). Complements the
    * approximate stack: q31's shingle-Jaccard generates a candidate for
    * EVERY shared shingle and q32's LSH is probabilistic; this operator is
    * exact AND candidate-bounded — a pair is generated only when the two
    * docs share a token in their PREFIXES (the p = n − ⌈t·n⌉ + 1 globally
    * rarest tokens of each doc), which completeness of the prefix filter
    * guarantees is sufficient for every pair with Jaccard ≥ t.
    *
    * Scale shape: token df is aggregated (one token-keyed shuffle, never
    * collected — billions of tokens at 100 TB), rarity ranks are per-doc
    * windows (id-keyed), the candidate join keys ONLY on prefix tokens —
    * Σdf² over the rare tail instead of over every token — with the
    * length filter den·min(n_a,n_b) ≥ num·max(n_a,n_b) applied inside the
    * join, and verification joins the candidate set (id-keyed, bounded)
    * back to sorted token arrays: full token sets never ride the
    * quadratic shuffle (the SemDeDup rule). The threshold is a rational
    * num/den and every gate is integer cross-multiplication, so the
    * kept-pair set is engine-exact vs a brute-force oracle.
    *
    * `maxTokenDocFreq` drops corpus-wide tokens from the representation
    * (the q31 `maxShingleDocFreq` convention — both engine and oracle
    * apply the same cap, and Jaccard is computed on the capped sets).
    */
  def setSimilarityJoin(
      df: DataFrame, idCol: String, textCol: String,
      num: Int, den: Int,
      maxTokenDocFreq: Int = Int.MaxValue): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")
    val all = df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val toks =
      if (maxTokenDocFreq == Int.MaxValue) all
      else {
        val hot = all.groupBy(col("tok")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxTokenDocFreq).select(col("tok"))
        all.join(broadcast(hot), Seq("tok"), "left_anti")
      }
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val rarity = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("tok"))
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // prefix length p = n − ⌈num·n/den⌉ + 1, all-integer
    val pref = toks.join(dfreq, Seq("tok"))
      .withColumn("rnk", row_number().over(rarity))
      .join(sizes, Seq("id"))
      .where(col("rnk") <=
        col("n") - floor((lit(num) * col("n") + lit(den - 1)) / lit(den)) + lit(1))
      .select(col("id"), col("tok"), col("n"))
    val a = pref.select(col("id").as("id_a"), col("tok"), col("n").as("n_a"))
    val b = pref.select(col("id").as("id_b"), col("tok"), col("n").as("n_b"))
    val cand = a.join(b, Seq("tok"))
      .where(col("id_a") < col("id_b") &&
        lit(den) * col("n_a") >= lit(num) * col("n_b") &&
        lit(den) * col("n_b") >= lit(num) * col("n_a"))
      .select(col("id_a"), col("id_b")).distinct()
    val arrs = toks.groupBy(col("id"))
      .agg(sort_array(collect_list(col("tok"))).as("tks"), count(lit(1)).as("n"))
    cand
      .join(arrs.select(col("id").as("id_a"), col("tks").as("tks_a"),
        col("n").as("n_a")), Seq("id_a"))
      .join(arrs.select(col("id").as("id_b"), col("tks").as("tks_b"),
        col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("tks_a"), col("tks_b"))).cast("long"))
      .where(lit(den) * col("inter") >= lit(num) * (col("n_a") + col("n_b") - col("inter")))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  /** The LSH band values of each document: (id, j, bval), one row per band
    * j in [0, bands). One fused `minhash_bands` kernel call per row
    * (graft.expr.MinhashBands: shingle → permute → min → band in a single
    * pass): shingle hashes as in [[hashedShingles]], signature mins over
    * the (hashA(i)·h + hashB(i)) mod 1e9+7 permutations, and each band folds
    * r = numHashes/bands consecutive mins with (acc·131 + m) mod 1e9+7. A document
    * with fewer than k tokens, or a null text, has no shingles and so no
    * band rows: it can never band-collide. `id` keeps the type of `idCol`.
    */
  private[operators] def minhashBandRows(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int): DataFrame =
    df.select(col(idCol).as("id"), minhashSummary(col(textCol), k, numHashes, bands).as("ms"))
      .select(col("id"), posexplode(slice(col("ms"), 2, bands)).as(Seq("j", "bval")))

  /** `[n_distinct_shingles, band_0, …]` of a text (see [[minhashBandRows]]). */
  private[operators] def minhashSummary(text: Column, k: Int, numHashes: Int,
      bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.minhash_bands(text, k,
      (0 until numHashes).map(hashA), (0 until numHashes).map(hashB), bands)
  }

  /** LSH banding over MinHash signatures → candidate pairs → exact Jaccard
    * verification. bands×rowsPerBand must equal numHashes. Candidates join
    * on (band index, band value) of [[minhashBandRows]]: only docs agreeing
    * on an entire band meet, which is the sub-quadratic path at scale. The
    * verification then joins each candidate pair to the two documents'
    * distinct shingle-hash arrays and intersects them in-row, so no
    * shingle is ever exploded or shuffled on its own. `idCol` must be a
    * key: each id names one document.
    */
  def lshNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 6, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val bandRows = minhashBandRows(df, idCol, textCol, k, numHashes, bands)
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.j") === col("y.j") && col("x.bval") === col("y.bval")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val hs = df.select(col(idCol).as("id"),
      array_distinct(graft.functions.shingle_hashes(col(textCol), k)).as("hs"))
    cand
      .join(hs.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        col("shared") / (size(col("hs_a")) + size(col("hs_b")) - col("shared")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash over the token multiset: `bits`-wide signature where bit b is
    * set iff Σ_tokens (±1 by bit b of graft_hash64(token)) > 0. A pure
    * per-row projection (fused codegen'd kernel — zero shuffle, unlike the
    * explode + `bits` sum-aggregates formulation, which moves every token
    * through an exchange). A null text yields a null signature row (the
    * explode form silently dropped such docs).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 30): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.simhash64(col(textCol), bits).as("simhash"))

  /** Connected components over an undirected edge list — the cluster-
    * formation step between near-duplicate PAIRS (LSH / n-gram / SimHash
    * output) and a deduplicated corpus: near-duplication is not transitive,
    * so a pipeline that drops "the b of every (a,b) pair" can drop both
    * endpoints of one pair and neither endpoint of an inferred one. The
    * correct keep-set is one canonical representative per component.
    *
    * Alternating large-star / small-star (Kiveris et al., SoCC'14,
    * "Connected Components in MapReduce and Beyond"): converges in
    * O(log² n) rounds, and every round is built from shuffle-keyed
    * `groupBy(min)` + equi-joins only — a node's neighborhood is never
    * materialized in one task (no `collect_list`), so degree skew ends up
    * as AQE-splittable join skew, not an OOM. Each round localCheckpoints
    * to truncate lineage (iterative plans otherwise nest exponentially)
    * and the convergence probe is a single signed-count aggregation
    * (empty symmetric difference between consecutive checkpointed edge
    * sets) — one job per round.
    *
    * Input rows are (srcCol, dstCol) edges, any orientation, self-loops
    * and duplicates tolerated. Returns (doc_id, cluster_id) for every node
    * appearing in `edges`, where cluster_id is the component-minimum id —
    * deterministic regardless of iteration order, so it hash-compares
    * against a transitive-closure oracle.
    *
    * Size-adaptive: at or below `driverThreshold` canonical edges the
    * labels come from a driver union-find over the (bounded, collected)
    * edge list instead — identical output, none of the per-round fixed
    * cost. Pass 0 to force the distributed path.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, driverThreshold: Long = 1L << 20): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.where(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))

    // Checkpoint the RAW edge list once, up front: both the canonical edge
    // set and the node list derive from it, and without this the upstream
    // pipeline that produced the edges (at corpus scale, the full LSH
    // candidate+verify pass) re-executes once per derivation — profiled as
    // a full second pipeline run on q67 (nodes was the un-checkpointed
    // copy). One materialization of a pairs-sized frame is strictly
    // cheaper than recomputing its producer.
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint()
    val nodes = sym(raw).select(col("u").as("doc_id")).distinct()

    var e = canon(raw).localCheckpoint()
    val nEdges = e.count()

    // Size-adaptive: a near-dup edge set is orders of magnitude smaller
    // than the corpus that produced it, and each distributed round costs
    // ~6 shuffle stages plus two convergence jobs — pure fixed overhead
    // when the graph fits in one task. Below the threshold (default 2^20
    // edges ≈ 16 MB — the same driver-memory class as IvfIndex's
    // sample-bounded fit) resolve with a driver union-find; the output is
    // identical (component-minimum labels) and the distributed path stays
    // the default above it. Long-id graphs only — other id types always
    // take the distributed path.
    val isLongId = e.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (nEdges <= driverThreshold && isLongId) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      e.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val sess = edges.sparkSession
      import sess.implicits._
      val labels = nodes.collect().map(r => r.getLong(0)).sorted
        .map(n => n -> find(n))
      return sess.createDataset(labels.toIndexedSeq)
        .toDF("doc_id", "cluster_id")
    }

    var converged = nEdges == 0
    var iter = 0
    // size the iteration shuffles to the edge count, not the session-wide
    // default: near-dup edge sets are orders of magnitude smaller than the
    // corpus that produced them, and each round is several shuffle stages
    // whose fixed per-partition cost dominates when partitions are
    // near-empty. ~1M edges per partition; large graphs keep wide shuffles.
    // Explicit repartition on the iterated frames (NOT a session-wide
    // spark.sql.shuffle.partitions write, which would race under
    // concurrent queries sharing the session): groupBy("u") and the
    // star joins on "u" reuse the hash partitioning, so each star adds
    // exactly one exchange.
    val sess = edges.sparkSession
    val sessParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val nParts = math.max(1L, math.min(sessParts.toLong, nEdges / 1000000L + 1)).toInt
    while (!converged && iter < maxIter) {
      // large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ {u})
      val s1 = sym(e).repartition(nParts, col("u"))
      val mL = s1.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = canon(s1.join(mL, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star(u): attach u and every neighbor v < u to min(Γ⁻(u) ∪ {u})
      val s2 = sym(large).where(col("v") < col("u")).repartition(nParts, col("u"))
      val mS = s2.groupBy("u").agg(min("v").as("m"))
      val small = canon(
        s2.join(mS, "u").select(col("v").as("u"), col("m").as("v"))
          .unionAll(mS.select(col("u"), col("m").as("v"))))
      val next = small.localCheckpoint()
      // Single-job convergence probe: both frames are canonical (distinct)
      // edge sets, so set equality ⟺ empty symmetric difference — one
      // signed-count aggregation over the two cached frames, replacing the
      // previous count() + left_anti.isEmpty pair (two jobs per round).
      converged = next.select(col("u"), col("v"), lit(1L).as("s"))
        .unionAll(e.select(col("u"), col("v"), lit(-1L).as("s")))
        .repartition(nParts, col("u"), col("v"))
        .groupBy("u", "v").agg(sum("s").as("d"))
        .where(col("d") =!= 0).isEmpty
      e = next
      iter += 1
    }
    // fixed point is a star forest: every edge is (root=u, child=v) with
    // root the component minimum; roots label themselves
    nodes
      .join(e.select(col("v").as("doc_id"), col("u").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Near-duplicate clusters end-to-end: LSH pairs → connected components
    * → one row per clustered document with its canonical representative
    * (component-minimum id) and cluster size. Documents in no pair are
    * implicitly canonical and not emitted (at corpus scale they are the
    * overwhelming majority — emitting them would turn a pairs-sized result
    * into a corpus-sized one).
    */
  def nearDupClusters(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 6, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val pairs = lshNearDupPairs(df, idCol, textCol, k, numHashes, bands, threshold)
    val cc = connectedComponents(pairs, "id_a", "id_b")
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
    cc.join(sizes, Seq("cluster_id"))
      .select(col("cluster_id"), col("doc_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"),
        col("n_docs"))
  }

  /** Normalized-fingerprint dedup (the "fuzzy-exact" rung between exact
    * md5 dedup and MinHash): casefold → strip every char outside
    * [a-z0-9 ] → collapse whitespace runs → trim, then keep the
    * minimum-doc_id copy per md5 of the normal form. Catches the
    * dominant real-corpus near-dup class (case/punctuation/whitespace
    * variants of one text) at exact-dedup cost — no shingles, no bands.
    * Output: (doc_id, fp, keep).
    *
    * Scale shape: the normal form and its digest are computed in the scan
    * projection, so only (doc_id, 32-char fp) pairs ride the ONE fp-keyed
    * exchange; keep is min(doc_id) vs self inside the fp partition.
    *
    * EMPTY normal forms are exempt (keep = true): the [a-z0-9 ] alphabet
    * means a fully non-Latin document (kana/kanji/cyrillic) normalizes to
    * "", and without the exemption every such doc in the corpus would
    * share md5("") and all but one be flagged — a data-destroying default
    * on non-English corpora (round-17 review finding). "No ASCII signal"
    * is "this rung can't judge", not "duplicate". Blank rows SALT their
    * window key (ADVICE r17): they are unconditionally kept (the
    * `blank ||` short-circuit ignores whatever min the salted partition
    * computes), so spreading md5("") over 64 salt groups costs nothing —
    * and on a predominantly non-Latin corpus the shared key would
    * otherwise funnel nearly the whole frame through one window
    * partition, the single-reducer shape this function's contract rules
    * out. (A filter-out/union-back split keeps the contract too but pays
    * a second corpus scan — measured 0.42 → 1.17 s at sf0.1.)
    */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val normalized = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))
    val pairs = df.select(col(idCol).cast("long").as("doc_id"),
      md5(normalized).as("fp"), (length(normalized) === 0).as("blank"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__wkey"))
    pairs
      .withColumn("__wkey",
        when(col("blank"), concat(lit("~"), pmod(col("doc_id"), lit(64)).cast("string")))
          .otherwise(col("fp")))
      .withColumn("keep",
        col("blank") || col("doc_id") === min(col("doc_id")).over(w))
      .drop("blank", "__wkey")
  }

  /** Near-dup cluster REPRESENTATIVE selection: for every LSH/CC cluster
    * keep the best copy by an integer quality score (distinct-token count —
    * lexical richness, the q193 convention), score ties broken by doc_id
    * ascending. The dedup decision real pipelines want: "drop near-dups,
    * but keep the richest copy, not the arbitrary minimum-id one".
    * Output: one row per CLUSTERED doc (singletons are implicitly kept and
    * not emitted, the nearDupClusters contract) with
    * (cluster_id, doc_id, score, n_docs, keep).
    *
    * Scale shape: nearDupClusters' banded-LSH + large-star/small-star CC
    * (never all-pairs), then ONE cluster-keyed join to fetch scores and ONE
    * cluster-partitioned rank window over the pairs-sized cluster frame —
    * corpus text never rides either exchange.
    */
  def clusterRepresentatives(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 6, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val clusters = nearDupClusters(df, idCol, textCol, k, numHashes, bands, threshold)
    val scores = df.select(col(idCol).cast("long").as("doc_id"),
      // fused split+distinct codegen pass (graft.expr.TokenProfile, r22)
      element_at(graft.functions.token_profile(col(textCol), Seq.empty), 2)
        .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    clusters.join(scores, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("cluster_id"), col("doc_id"), col("score"), col("n_docs"), col("keep"))
  }

  /** C4-style duplicated-span removal (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning", §2.2: "we discarded all but one of any
    * three-sentence span occurring more than once in the data set"): split
    * each document into consecutive `spanWords`-word spans (the analog of
    * the three-sentence span for whitespace-delimited text), keep only the
    * FIRST occurrence of each exact span across the whole corpus — first =
    * minimum (doc_id, span_idx) — and reassemble each document from its
    * surviving spans. This removes boilerplate repeated ACROSS documents
    * (navigation chrome, license headers, quoted reposts) that doc-level
    * dedup cannot touch, while keeping the documents themselves.
    *
    * Output: one row per input document — (doc_id, total_spans, kept_spans,
    * text_dedup). A document whose every span occurred earlier elsewhere
    * comes back with kept_spans=0 and empty text (callers filter).
    *
    * Scale shape: span explosion is map-side (`posexplode` over a per-row
    * `transform`); the global first-occurrence pick is ONE shuffle keyed by
    * span text (window `min(struct(doc_id, span_idx))` — no orderBy, so no
    * rank sort beyond the partition hash); reassembly is one groupBy on
    * doc_id whose state is bounded by single-document size, never corpus
    * size. At 100 TB the span shuffle would key on a 128-bit fingerprint of
    * the span rather than its text to cut shuffle bytes (the text must ride
    * along anyway for reassembly, but fingerprint keys keep the sort/compare
    * narrow); the string key is kept here for oracle parity.
    */
  def spanDedup(
      df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 10): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    val words = tokens(col(textCol))
    // integer ceil-div; empty text still yields one (empty) span so every
    // input document produces an output row
    val nSpans = greatest(lit(1),
      floor((size(words) + lit(spanWords - 1)) / lit(spanWords)).cast("int"))
    val spans = transform(sequence(lit(0), nSpans - 1),
      i => array_join(slice(words, i * spanWords + 1, lit(spanWords)), " "))
    val exploded = df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(spans).as(Seq("span_idx", "span")))
    val firstOcc = org.apache.spark.sql.expressions.Window.partitionBy("span")
    val marked = exploded.withColumn("first",
        min(struct(col("doc_id"), col("span_idx"))).over(firstOcc))
      .withColumn("kept",
        col("first.doc_id") === col("doc_id") &&
          col("first.span_idx") === col("span_idx"))
    marked.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("total_spans"),
        count(when(col("kept"), 1)).cast("int").as("kept_spans"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("span_idx"), col("span"))))),
            s => s.getField("span")),
          " ").as("text_dedup"))
  }

  /** Token-level content-defined chunking (the CDC idea of LBFS/rsync,
    * re-expressed on token streams): a chunk boundary falls AFTER any
    * token whose hash ≡ 0 (mod `modulus`), so boundaries are a pure
    * function of local content — insert or delete a sentence and every
    * chunk outside the edit region keeps its identity, which fixed-stride
    * spans (spanDedup) cannot do. Expected chunk length ≈ `modulus`
    * tokens. Returns one row per chunk with its fingerprint and a
    * `shared` flag (fingerprint occurs in more than one document) — the
    * shift-robust near-dup evidence.
    *
    * Scale shape: boundaries, chunk indices, token counts and chunk
    * fingerprints come from ONE codegen'd pass per document
    * (graft.functions.cdc_chunks: no token explode, no chunk string, no
    * lambda), inlined to one row per chunk; the cross-corpus `shared`
    * count is then the only exchange, keyed by the 8-byte chunk
    * fingerprint — no text travels on it. All hashes are graft_hash64, so
    * the DuckDB oracle reproduces every boundary and fingerprint
    * bit-for-bit.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      modulus: Int = 8): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    val chunks = df.select(col(idCol).cast("long").as("doc_id"),
      inline(graft.functions.cdc_chunks(col(textCol), modulus)))
    // DISTINCT aggregates aren't available as window functions; min≠max of
    // doc_id over the fingerprint partition is the same cross-document test
    val multi = org.apache.spark.sql.expressions.Window.partitionBy("chunk_hash")
    chunks
      .withColumn("shared",
        min(col("doc_id")).over(multi) =!= max(col("doc_id")).over(multi))
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("chunk_hash"), col("shared"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS,
    * SIGMOD'03): every complete window of `w` consecutive k-gram hashes
    * selects its minimum (rightmost position on hash ties — the classic
    * robust-winnowing tie-break), and the fingerprint set is the distinct
    * selected (position, hash) pairs. Guarantees: at least one fingerprint
    * per window (consecutive selections ≤ w apart), density ~2/(w+1), and
    * any shared substring of ≥ w+k-1 tokens shares at least one
    * fingerprint regardless of where it sits in either document — the
    * matching guarantee MinHash cannot give per-substring. Documents with
    * fewer than w+k-1 tokens have no complete window and yield no rows
    * (route short docs through exact/near-dup instead).
    *
    * The per-window argmin is ONE integer aggregate: hashes (< 2^30) pack
    * as `h·2^31 + (2^31-1-pos)`, so MIN picks the smallest hash and breaks
    * ties toward the LARGEST position; both engines replay the packing
    * bit-for-bit. Scale shape: map-side codegen gram hashing, ONE exchange
    * keyed by doc for the leading window, and the de-dup of per-window
    * selections is a groupBy on (doc, pos) that reuses the window's doc
    * partitioning — no second exchange; only (doc_id, pos, 8-byte key)
    * rows travel.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    import graft.functions.graft_hash64
    val half = 1L << 31
    val grams = df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(gramsOf(tokens(col(textCol)), k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        (graft_hash64(col("gram")) * half + (lit(half - 1) - col("pos"))).as("key"))
    val leading = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    grams
      .withColumn("winkey", min(col("key")).over(leading))
      .withColumn("n_in_win", count(lit(1)).over(leading))
      .where(col("n_in_win") === w)
      .select(col("doc_id"),
        (lit(half - 1) - col("winkey").bitwiseAND(lit(half - 1))).cast("int").as("pos"),
        shiftright(col("winkey"), 31).as("fp"))
      .groupBy("doc_id", "pos").agg(first(col("fp")).as("fp"))
  }

  /** Corpus snapshot diff: classify every doc id across two snapshots as
    * added / removed / changed / unchanged by content digest — the daily
    * crawl-refresh bookkeeping step. ONE full-outer sort-merge join keyed
    * by id; only (id, 32-char md5) rows shuffle, never text.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("old_md5"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("new_md5"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "unchanged")
          .otherwise("changed"))
      .select(col("id"), col("status"))
  }

  /** Blocked fuzzy match: the production shape of q94's record-linkage
    * primitive (edit-distance pairs). Candidate pairs come from the UNION
    * of two blocking passes — a prefix block and a suffix block over the
    * match column — each a plain hash EQUI-join on its computed blocking
    * key, then exact levenshtein verification over candidates only. No
    * theta join / BNLJ appears in the plan at any scale, and the pair
    * space is the union of within-block pairs, never all-pairs; cost is
    * sum of block-size² over blocks, bounded by key selectivity. Contract
    * (standard record-linkage blocking): a pair whose edits hit BOTH the
    * prefix and the suffix region is not a candidate — recall is tuned by
    * adding blocking passes, not by widening joins. The reference
    * delegates all relational work to Hive (README.md:22-29); this is the
    * Spark-native analogue of the blocked fuzzy self-join a Hive user
    * writes by hand with a blocking-key equi-join.
    */
  def fuzzyMatchBlocked(
      df: DataFrame, keyCol: String, strCol: String,
      blockLen: Int, maxDist: Int,
      maxBlockSize: Int = Int.MaxValue): DataFrame = {
    // ADVICE r21: the 3-arg banded levenshtein's semantics for a negative
    // threshold are not defined by this repo (the old 2-arg form made a
    // negative maxDist a trivially-empty filter); reject it loudly. The
    // q94 call site passes the fixed threshold 2.
    require(maxDist >= 0, s"fuzzyMatchBlocked: maxDist must be >= 0, got $maxDist")
    val base = df.select(col(keyCol).as("fm_k"), col(strCol).as("fm_s"),
      substring(col(strCol), 1, blockLen).as("fm_pre"),
      substring(col(strCol), -blockLen, blockLen).as("fm_suf"))
    // The probe side is explicitly repartitioned on the blocking key: the
    // verify cost lives in the JOIN OUTPUT (|candidates| levenshtein DPs),
    // which AQE's size-based coalescing cannot see — with a small
    // base the broadcast-join probe side collapses to ~1 partition and all
    // ~456k DPs ran on one core (q125 at 6.8 s). The explicit key
    // repartition is also exactly the 100x-scale plan: a shuffle equi-join
    // on the blocking key. The distance filter runs map-side right after
    // the join, so the union + distinct carries only matching pairs.
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // maxBlockSize is the degenerate-block density control at corpus scale
    // (same trade as ngramJaccardPairs' maxShingleDocFreq, q31): a
    // boilerplate prefix shared by millions of records makes one block
    // quadratic; blocks over the cap are DROPPED from that pass (the hot
    // set is small by definition → broadcast anti-join, main side stays
    // shuffle-free), recall for their members rides on the other pass.
    def prune(key: String): DataFrame =
      if (maxBlockSize == Int.MaxValue) base
      else {
        val hot = base.groupBy(col(key)).agg(count(lit(1)).as("n"))
          .where(col("n") > maxBlockSize).select(col(key))
        base.join(broadcast(hot), Seq(key), "left_anti")
      }
    def pass(key: String): DataFrame = {
      val side = prune(key)
      // banded DP (r21): the threshold overload computes O(len·maxDist)
      // cells with early exit instead of the full O(len²) matrix — the
      // verify DP is the dominant per-candidate cost (q125: ~10 CPU-s at
      // sf0.1, all in this projection). Rows where the band exceeds
      // maxDist return the -1 sentinel; the filter keeps exactly the
      // dist <= maxDist rows with identical dist values.
      side.repartition(parts, col(key)).as("a").join(side.as("b"),
          col(s"a.$key") === col(s"b.$key") && col("a.fm_k") < col("b.fm_k"))
        .select(col("a.fm_k").as("ka"), col("b.fm_k").as("kb"),
          levenshtein(col("a.fm_s"), col("b.fm_s"), maxDist).as("dist"))
        .where(col("dist") >= 0)
    }
    pass("fm_pre").unionByName(pass("fm_suf"))
      .distinct() // a pair found by both passes dedupes on (ka, kb, dist)
  }

  /** Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter, "A
    * Theory for Record Linkage", JASA 1969) over blocked candidate pairs:
    * each field comparison contributes its agreement weight
    * (log₂ m/u, positive) or disagreement weight (log₂ (1−m)/(1−u),
    * negative) and the pair's total score classifies link / possible /
    * non-link. Weights here are caller-supplied INTEGERS (scaled
    * log-odds) so the score sum and the threshold cut are engine-exact —
    * the float-LLR formulation would tie-flip between engines.
    *
    * Complements [[fuzzyMatchBlocked]]: that operator answers "are these
    * strings within edit distance k"; this one fuses evidence across
    * MULTIPLE fields with per-field reliability weights, the standard
    * formulation for entity resolution over structured records.
    *
    * Scale shape (the q125 lesson applied): candidates meet on the block
    * key with the probe side explicitly repartitioned on it — scoring
    * cost lives in the join OUTPUT, which AQE cannot see — and blocks
    * over `maxBlockSize` are dropped via a broadcast anti-join (the
    * degenerate-block control; recall for their members needs a second
    * blocking pass, exactly as in fuzzyMatchBlocked). Field agreement is
    * null-safe (`<=>`): two NULLs agree, NULL vs value disagrees.
    *
    * `fields` maps field name → (agreeWeight, disagreeWeight).
    */
  def linkageScore(
      df: DataFrame, idCol: String, blockCol: String,
      fields: Seq[(String, Int, Int)], minScore: Int,
      maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(fields.nonEmpty, "linkageScore needs at least one field")
    val cols = Seq(col(idCol).as("lk_id"), col(blockCol).as("lk_b")) ++
      fields.map { case (f, _, _) => col(f) }
    val base = df.select(cols: _*)
    val pruned =
      if (maxBlockSize == Int.MaxValue) base
      else {
        val hot = base.groupBy(col("lk_b")).agg(count(lit(1)).as("n"))
          .where(col("n") > maxBlockSize).select(col("lk_b"))
        base.join(broadcast(hot), Seq("lk_b"), "left_anti")
      }
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val score = fields.map { case (f, wa, wd) =>
      when(col(s"a.$f") <=> col(s"b.$f"), lit(wa.toLong)).otherwise(lit(wd.toLong))
    }.reduce(_ + _)
    pruned.repartition(parts, col("lk_b")).as("a")
      .join(pruned.as("b"),
        col("a.lk_b") === col("b.lk_b") && col("a.lk_id") < col("b.lk_id"))
      .select(col("a.lk_id").as("id_a"), col("b.lk_id").as("id_b"),
        col("a.lk_b").as("block"), score.as("score"))
      .where(col("score") >= minScore)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540): coarse
    * k-means clustering bounds the pairwise search, then inside each
    * cluster every vector with a near-identical neighbor (cosine ≥
    * `threshold`) of smaller id is marked a duplicate of the smallest such
    * neighbor. The keep set is iteration-order-free: a vector survives iff
    * NO same-cluster smaller-id vector is within the threshold.
    *
    * Scale shape: cluster assignment is the shuffle-free per-row argmax of
    * `IvfIndex.assign` (plan-embedded centroids, codegen); candidate pairs
    * meet on the cid equi-key carrying IDS ONLY — the wide embeddings
    * rejoin by id afterwards (the embeddingNearDupPairs layout), so
    * vectors never ride the quadratic shuffle. Within-cluster cost is
    * Σ|cluster|², bounded by fitting nlist ∝ N/targetClusterSize — the
    * paper's own knob (50k clusters for LAION-440M).
    *
    * Output: vec_id, cid, dup_of (null ⇔ keep), keep.
    */
  def semanticDedup(corpus: DataFrame, model: IvfIndex.Model,
      threshold: Double): DataFrame = {
    val asg = IvfIndex.assign(corpus, model)
      .select(col("vec_id"), col("cid"))
    val cand = asg.as("a").join(asg.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val ea = corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val eb = corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val dups = cand.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .where(graft.functions.cosine_sim(col("emb_a"), col("emb_b")) >= threshold)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
      .select(col("id_b").as("vec_id"), col("dup_of"))
    asg.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Exact duplicated-substring spans à la Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499):
    * each output span is the union of duplicated length-`minLen` windows
    * whose [p, p+minLen) ranges overlap or touch (flagged positions merge
    * iff p₂ − p₁ ≤ minLen) — the token ranges ExactSubstr removal would
    * cut, where a window is "duplicated" when it occurs at least twice in
    * the corpus (across documents or repeated within one). A merged span
    * may contain interior windows that are NOT themselves duplicated
    * (ADVICE r15: flagged at p and p+minLen with unique windows between
    * merges into one range) — that is deliberate: the span covers the
    * union of the duplicated ranges, not an every-window invariant. This
    * is the substring-level generalization q108's fixed-stride spanDedup
    * cannot express: a duplicate at an arbitrary offset shifts across
    * stride boundaries and escapes fixed spans, but every length-≥minLen
    * shared run contains ALL of its minLen-windows, so window-hash
    * duplication finds it at any alignment.
    *
    * Algorithm (the distributed k-gram-anchored variant of the paper's
    * suffix array — candidates-then-merge, never all-pairs):
    *  1. one posexplode of rolling_window_hashes(text, minLen) — O(n)
    *     128-bit fingerprints per document via two wraparound-i64
    *     polynomial rolls (graft.expr.RollingWindowHashes; formerly
    *     per-position md5-of-joined-slice at O(n·L) compute — the 100 TB
    *     kernel swap VERDICT r15 #2 asked for). The DuckDB oracle keeps
    *     its md5 form: fingerprints are internal to the dup flag, so
    *     output spans agree exactly short of a 128-bit collision
    *     (expected colliding pairs at 10^11 windows ≈ 10^-17);
    *  2. a count window keyed on the fingerprint flags duplicated
    *     positions in the SAME pass — the first version aggregated dupes
    *     separately and semi-joined back, which re-computed the corpus
    *     explode and re-shuffled it (two scans, two hash exchanges); the
    *     window is one exchange+sort over (doc_id, pos, 16-byte
    *     fingerprint) rows and nothing else, and no text rides it;
    *  3. gaps-and-islands per document (ONE doc-keyed window exchange):
    *     flagged windows at p₁ < p₂ merge iff p₂ − p₁ ≤ minLen (their
    *     ranges overlap or touch), and each island reports its merged
    *     [span_start, span_end) token range.
    *
    * Scale shape: ONE corpus scan and two keyed shuffles total (window
    * hash, then doc_id over only the flagged survivors), state bounded by
    * per-document size in the island stage. Returns (doc_id, span_start,
    * span_end, span_len, n_windows) ordered within doc.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // O(n) rolling 128-bit fingerprints per document (VERDICT r15 #2 —
    // formerly per-position md5(concat_ws(slice(...))), O(n·L) compute per
    // token position); posexplode yields (pos, fingerprint) directly, no
    // token array or window string ever materializes, and an
    // under-minLen-token document contributes zero rows (empty array). The
    // DuckDB oracle keeps the md5 form: fingerprints are internal to the
    // dup flag, so the output spans match exactly unless the 128-bit roll
    // collides (expected colliding pairs at 10^11 windows: ~10^-17).
    val wins = df
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(graft.functions.rolling_window_hashes(col(textCol), minLen)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val flagged = wins
      .withColumn("c", count(lit(1)).over(byH))
      .where(col("c") >= 2)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val islands = flagged
      .withColumn("brk",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") - lag(col("pos"), 1).over(byDoc) > minLen, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    islands.groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + minLen).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"), col("n_windows"))
  }

  /** The removal half of the Lee et al. 2022 ExactSubstr pipeline: cut
    * every duplicated span [[exactSubstringSpans]] finds (BOTH copies, the
    * paper's criterion) out of each document and reassemble the survivors.
    *
    * Shape: the span frame is duplicate-sized (small — only flagged
    * ranges), aggregated doc-keyed into per-document span lists (bounded
    * by tokens/minLen per doc), then ONE equi-join back onto the corpus
    * and a pure lambda projection: `filter(toks, (t, i) -> no span covers
    * i)` iterates the token ARRAY with its index (the HOF house rule —
    * `spans` is an attribute, so the inner `exists` scans a small
    * materialized list per token, not a recomputed expression). Documents
    * without spans keep their text byte-identical (left join, null spans
    * short-circuit). Returns (doc_id, n_toks, n_removed, text_dedup)
    * ordered within doc.
    */
  def exactSubstringRemove(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20): DataFrame = {
    val spanLists = exactSubstringSpans(df, idCol, textCol, minLen)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    val toks = split(col(textCol), " ")
    df.select(col(idCol).cast("long").as("doc_id"), col(textCol))
      .join(spanLists, Seq("doc_id"), "left")
      // two-step select so `kept` materializes once (the alias stays an
      // attribute under the outer projection — no double filter pass)
      .select(col("doc_id"), size(toks).cast("long").as("n_toks"),
        when(col("spans").isNull, toks).otherwise(
          filter(toks, (t, i) =>
            !exists(col("spans"), sp => i >= sp("s") && i < sp("e"))))
          .as("kept"))
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_dedup"))
  }
}

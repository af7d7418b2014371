package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, Graph, IvfIndex, Temporal, Layout, Multimodal, Privacy, Retrieval, Robust, Sampling, Similarity, TextAnalysis}
import Tables._

/** Layer-C LLM-data-pipeline operators (SURVEY.md §2-C) as oracle-checked
  * queries over the driver's documents/embeddings/events tables.
  *
  * The DuckDB oracles reproduce every hash/score bit-for-bit: graft_hash64
  * is a polynomial over code points re-derivable with list_reduce, cosine
  * accumulates strictly left-to-right in double, and all ratios divide
  * integers — see the determinism rules in Relational.scala.
  */
object Pipeline {

  // ---- shared DuckDB fragments (kept in lockstep with the Scala ops) ----

  /** graft_hash64(e) in DuckDB. */
  private def hashSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))), " +
      s"(a, x) -> (a * 131 + x) % 1000000007)"

  /** Hashed distinct 6-token shingles CTE (matches Dedup.hashedShingles
    * k=6: distinct AFTER hashing, 8-byte join keys).
    */
  private lazy val shingleCtes =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
       |sh AS (SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 4),
       |    i -> array_to_string(list_slice(t, i, i + 5), ' '))) AS s FROM tk)),
       |hs AS (SELECT DISTINCT doc_id, ${hashSql("s")} h FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) n FROM hs GROUP BY doc_id)""".stripMargin

  /** Ordered-reduce cosine (matches graft.expr.CosineSimilarity exactly). */
  /** cosSql over only the first `dims` dimensions (the q190 truncation). */
  private def cosSqlDims(a: String, b: String, dims: Int): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(1, ${dims + 1}), k -> " +
        s"CAST($x[k] AS DOUBLE) * CAST($y[k] AS DOUBLE)), (u, v) -> u + v)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(range(1, 65), k -> " +
        s"CAST($x[k] AS DOUBLE) * CAST($y[k] AS DOUBLE)), (u, v) -> u + v)"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Sign-bucket over the first 8 dims (matches Similarity.signBucket). */
  private def bucketSql(e: String): String =
    (0 until 8).map(i => s"(CASE WHEN $e[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  /** Sign-bucket of 8 dims starting at a SQL offset expression (matches
    * Similarity.signBucketAt with signBits=8).
    */
  private def bucketSqlAt(e: String, offset: String): String =
    (0 until 8).map(i => s"(CASE WHEN $e[$offset + ${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  /** q127 BM25 constants — shared by the Spark call and the oracle SQL
    * (Double.toString round-trips exactly, so interpolating the Scala
    * doubles into the SQL text keeps both engines on identical literals).
    */
  private val Bm25Terms = Seq("spark", "hash", "vector", "merge")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** q129 histogram-quantile constants (shared Spark call / oracle SQL). */
  private val HistB = 64
  private val HistQs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /** q130 hybrid-search query vector id. */
  private val HybridQVec = 3L

  private val piiRows = Seq(
    -6L -> "edge@case@double.com and 999.999.999.999 and 12345678",
    -5L -> "mixed: jane_doe99@mail.co.uk from 172.16.254.3 phoned 0800 123 456",
    -4L -> "no personal info here at all",
    -3L -> "call +1 555-123-4567 or (03) 1234-5678 for support",
    -2L -> "server at 10.0.0.1 and backup at 192.168.1.254 rebooted",
    -1L -> "contact alice.smith@example.com or bob@test.org today")

  // ---- dedup family ----

  val q30 = Q(
    "q30_dedup_exact",
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
      |FROM documents GROUP BY md5(text) ORDER BY content_md5""".stripMargin) { (s, dir) =>
    Dedup.exactByHash(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("content_md5")
  }

  /** q31 exercises the hot-shingle density control (maxShingleDocFreq=50):
    * a shingle in more docs than the cap is dropped from the representation
    * (shared counts AND sizes), bounding the worst join key at corpus scale.
    * The oracle mirrors the cap exactly.
    */
  val q31 = Q(
    "q31_neardup_ngram",
    s"""WITH $shingleCtes,
       |hot AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) > 50),
       |hs2 AS (SELECT * FROM hs WHERE h NOT IN (SELECT h FROM hot)),
       |sizes2 AS (SELECT doc_id, COUNT(*) n FROM hs2 GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) shared
       |  FROM hs2 a JOIN hs2 b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared, sa.n AS n_a, sb.n AS n_b,
       |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
       |FROM pairs
       |JOIN sizes2 sa ON sa.doc_id = id_a
       |JOIN sizes2 sb ON sb.doc_id = id_b
       |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 6, threshold = 0.8,
      maxShingleDocFreq = 50)
      .orderBy("id_a", "id_b")
  }

  private val minhashParamsSql: String =
    (0 until 16).map(i => s"(${i}, ${Dedup.hashA(i)}, ${Dedup.hashB(i)})").mkString(", ")

  /** MinHash-LSH verified-pair CTE chain at threshold 0.5, shared by q32
    * (the pairs themselves) and q67 (cluster formation on top of them).
    */
  private lazy val lshPairCtes =
    s"""$shingleCtes,
       |params(i, a, b) AS (VALUES $minhashParamsSql),
       |mh AS (SELECT doc_id, i, MIN((a * h + b) % 1000000007) m
       |       FROM hs CROSS JOIN params GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) sig FROM mh GROUP BY doc_id),
       |bands AS (SELECT doc_id, j,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, j*4 + 1, j*4 + 4)),
       |                (acc, x) -> (acc * 131 + x) % 1000000007) bval
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
       |cand AS (SELECT DISTINCT x.doc_id id_a, y.doc_id id_b
       |  FROM bands x JOIN bands y
       |    ON x.j = y.j AND x.bval = y.bval AND x.doc_id < y.doc_id),
       |shared AS (SELECT c.id_a, c.id_b, COUNT(*) shared
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.id_a
       |  JOIN hs b ON b.doc_id = c.id_b AND b.h = a.h
       |  GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b,
       |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
       |  FROM shared
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5)""".stripMargin

  val q32 = Q(
    "q32_neardup_minhash_lsh",
    s"""WITH $lshPairCtes
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Dedup.lshNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 6, numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Near-dup cluster formation (q67): LSH pairs → connected components →
    * canonical representative per cluster. The oracle derives the same
    * labels by brute force — recursive transitive closure over the pair
    * graph, then MIN(reachable id) — which the large-star/small-star
    * DataFrame iteration must reproduce exactly (component-min labels are
    * iteration-order-independent).
    */
  val q67 = Q(
    "q67_dedup_clusters",
    s"""WITH RECURSIVE $lshPairCtes,
       |symp AS (SELECT id_a AS a, id_b AS b FROM pairs
       |         UNION ALL SELECT id_b, id_a FROM pairs),
       |cnodes AS (SELECT DISTINCT a AS id FROM symp),
       |reach(src, dst) AS (
       |  SELECT id, id FROM cnodes
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN symp s ON s.a = r.dst),
       |lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |cs AS (SELECT cluster_id, COUNT(*) AS n_docs FROM lab GROUP BY cluster_id)
       |SELECT lab.cluster_id, lab.doc_id,
       |  lab.doc_id = lab.cluster_id AS is_canonical, cs.n_docs
       |FROM lab JOIN cs USING (cluster_id)
       |ORDER BY cluster_id, doc_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Dedup.nearDupClusters(t(s, dir, "documents"), "doc_id", "text",
      k = 6, numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy("cluster_id", "doc_id")
  }

  private val simhashBits = 30
  private val simhashSumsSql = (0 until simhashBits)
    .map(b => s"SUM(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) s$b").mkString(", ")
  private val simhashCombineSql = (0 until simhashBits)
    .map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")

  val q33 = Q(
    "q33_simhash",
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
       |h AS (SELECT doc_id, ${hashSql("tok")} h FROM tok),
       |sums AS (SELECT doc_id, $simhashSumsSql FROM h GROUP BY doc_id)
       |SELECT doc_id AS id, CAST($simhashCombineSql AS BIGINT) AS simhash
       |FROM sums ORDER BY id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", simhashBits).orderBy("id")
  }

  // ---- similarity search family ----

  /** Truncated-embedding recall@10: how much exact-top-k fidelity survives
    * keeping only the first 16 of 64 dims — the Matryoshka-style
    * dimension-reduction decision measured as per-query integer overlap
    * (Similarity.truncatedRecall; two shuffle-free broadcast scans + one
    * tiny keyed join, so the evaluation scales like two q34s).
    */
  val q190 = Q(
    "q190_truncated_recall",
    s"""WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id % 100 = 0),
       |c AS (SELECT vec_id nid, embedding ce FROM embeddings),
       |scf AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS cos
       |        FROM c CROSS JOIN q WHERE nid <> qid),
       |topf AS (SELECT qid, nid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM scf)
       |  WHERE rn <= 10),
       |sct AS (SELECT qid, nid, ${cosSqlDims("qe", "ce", 16)} AS cos
       |        FROM c CROSS JOIN q WHERE nid <> qid),
       |topt AS (SELECT qid, nid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM sct)
       |  WHERE rn <= 10),
       |ov AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |       FROM topf JOIN topt USING (qid, nid) GROUP BY qid)
       |SELECT q.qid AS qid, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |       CAST(10 AS BIGINT) AS k
       |FROM q LEFT JOIN ov ON q.qid = ov.qid ORDER BY q.qid""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    Similarity.truncatedRecall(emb, emb.where(col("vec_id") % 100 === 0), k = 10, dims = 16)
      .orderBy("qid")
  }

  val q34 = Q(
    "q34_embed_topk",
    s"""WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id % 100 = 0),
       |c AS (SELECT vec_id nid, label, embedding ce FROM embeddings),
       |sc AS (SELECT qid, nid, label, ${cosSql("qe", "ce")} AS cos
       |       FROM c CROSS JOIN q WHERE nid <> qid)
       |SELECT qid, nid, label, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM sc)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    Similarity.cosineTopK(emb, emb.where(col("vec_id") % 100 === 0), k = 5)
      .orderBy("qid", "rn")
  }

  val q35 = Q(
    "q35_embed_ann_bucket",
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id qid, embedding qe, bucket FROM e WHERE vec_id % 50 = 0),
       |sc AS (SELECT qid, c.vec_id nid, ${cosSql("qe", "c.embedding")} AS cos
       |       FROM e c JOIN q USING (bucket) WHERE c.vec_id <> qid)
       |SELECT qid, nid, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM sc)
       |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    Similarity.bucketedCosineTopK(emb, emb.where(col("vec_id") % 50 === 0), k = 3)
      .orderBy("qid", "rn")
  }

  val q36 = Q(
    "q36_knn_classify",
    s"""WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings WHERE vec_id % 100 = 0),
       |c AS (SELECT vec_id nid, label, embedding ce FROM embeddings),
       |sc AS (SELECT qid, nid, label, ${cosSql("qe", "ce")} AS cos
       |       FROM c CROSS JOIN q WHERE nid <> qid),
       |topk AS (SELECT qid, label FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM sc)
       |  WHERE rn <= 10),
       |votes AS (SELECT qid, label, COUNT(*) votes FROM topk GROUP BY 1, 2)
       |SELECT qid, label AS predicted_label, votes FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) rn FROM votes)
       |WHERE rn = 1 ORDER BY qid""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    Similarity.knnPredict(emb, emb.where(col("vec_id") % 100 === 0), k = 10)
      .orderBy("qid")
  }

  /** q37 runs banded hyperplane LSH (8 tables × 8 sign bits covering all 64
    * dims): a pair is a candidate iff some 8-dim block's sign pattern
    * agrees — strictly higher recall than the old single-table form, with
    * bucket-keyed (sub-quadratic) candidate generation. Oracle mirrors the
    * banding exactly.
    */
  val q37 = Q(
    "q37_embed_neardup",
    s"""WITH tb AS (SELECT unnest(range(0, 8)) AS tbl),
       |e AS (SELECT vec_id, tbl, ${bucketSqlAt("embedding", "tbl * 8")} AS bkt
       |      FROM embeddings CROSS JOIN tb),
       |cand AS (SELECT DISTINCT x.vec_id id_a, y.vec_id id_b
       |  FROM e x JOIN e y ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
       |SELECT id_a, id_b, ${cosSql("a.embedding", "b.embedding")} AS cos
       |FROM cand
       |JOIN embeddings a ON a.vec_id = id_a
       |JOIN embeddings b ON b.vec_id = id_b
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Similarity.embeddingNearDupPairs(t(s, dir, "embeddings"), threshold = 0.4,
      signBits = 8, numTables = 8)
      .orderBy("id_a", "id_b")
  }

  // ---- text analysis family ----

  val q38 = Q(
    "q38_text_quality",
    """SELECT doc_id,
      |  len(t) AS n_tokens,
      |  len(list_distinct(t)) AS n_uniq,
      |  len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop,
      |  list_reduce(list_prepend(0, list_transform(t, x -> length(x))), (a, x) -> a + x) / len(t) AS avg_tok_len,
      |  len(list_distinct(t)) / len(t) AS ttr,
      |  len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and'))) / len(t) AS stop_ratio,
      |  (len(list_distinct(t)) / len(t)) * 0.4
      |    + (1 - len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and'))) / len(t)) * 0.3
      |    + least(CAST(1.0 AS DOUBLE), len(t) / CAST(100.0 AS DOUBLE)) * 0.3 AS quality
      |FROM (SELECT doc_id, string_split(text, ' ') t FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.quality(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  val q39 = Q(
    "q39_lang_id",
    """WITH s AS (SELECT doc_id,
      |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) s_en,
      |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) s_de,
      |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et'))) s_fr,
      |  len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y'))) s_es
      |FROM documents)
      |SELECT doc_id, s_en, s_de, s_fr, s_es,
      |  CASE WHEN s_en >= greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
      |       WHEN s_de >= greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
      |       WHEN s_fr >= greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
      |       WHEN s_es >= greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
      |       ELSE 'und' END AS predicted
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  val q40 = Q(
    "q40_fingerprints",
    s"""SELECT doc_id, ${hashSql("text")} AS fp_content,
       |  ${hashSql("array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')")} AS fp_bag
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  /** q41's rank is bounded top-K (K=1000): the plan must be TakeOrdered +
    * an O(K) window, never a single-partition window over every distinct
    * token (asserted in PlanShapeSpec).
    */
  val q41 = Q(
    "q41_token_freq",
    """WITH counts AS (
      |  SELECT tok, COUNT(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) tok FROM documents)
      |  GROUP BY tok),
      |top AS (SELECT * FROM counts ORDER BY n DESC, tok LIMIT 1000)
      |SELECT tok, n, DENSE_RANK() OVER (ORDER BY n DESC, tok) AS rnk
      |FROM top ORDER BY rnk""".stripMargin) { (s, dir) =>
    TextAnalysis.tokenFreq(t(s, dir, "documents"), "text", topK = 1000).orderBy("rnk")
  }

  val q42 = Q(
    "q42_tfidf_top",
    """WITH tok AS (SELECT doc_id id, unnest(string_split(text, ' ')) tok FROM documents),
      |lens AS (SELECT id, COUNT(*) len FROM tok GROUP BY id),
      |tf AS (SELECT id, tok, COUNT(*) cnt FROM tok GROUP BY id, tok),
      |dfreq AS (SELECT tok, COUNT(*) df FROM tf GROUP BY tok),
      |nd AS (SELECT COUNT(DISTINCT doc_id) n_docs FROM documents),
      |sc AS (SELECT id, tok, cnt, df,
      |         CAST(cnt AS DOUBLE) / len * n_docs / df AS score
      |       FROM tf JOIN lens USING (id) JOIN dfreq USING (tok) CROSS JOIN nd)
      |SELECT id, tok, cnt, df, score, rn FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, tok) rn FROM sc)
      |WHERE rn <= 3 ORDER BY id, rn""".stripMargin) { (s, dir) =>
    TextAnalysis.tfIdfTop(t(s, dir, "documents"), "doc_id", "text", n = 3)
      .orderBy("id", "rn")
  }

  val q43 = Q(
    "q43_ngrams_top",
    """SELECT ngram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i + 1])) AS ngram
      |  FROM (SELECT string_split(text, ' ') t FROM documents))
      |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin) { (s, dir) =>
    TextAnalysis.topNgrams(t(s, dir, "documents"), "text", n = 2, limit = 20)
  }

  // ---- multimodal + event dedup + tokenizer parity ----

  val q44 = Q(
    "q44_multimodal_stub",
    """SELECT doc_id AS id, CAST(strlen(text) AS INT) AS byte_len,
      |  CASE strlen(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END AS fmt,
      |  CAST(1 + strlen(text) % 64 AS INT) AS width,
      |  CAST(1 + (strlen(text) * 7) % 64 AS INT) AS height,
      |  CAST(1 + strlen(text) % 8 AS INT) AS n_frames,
      |  CAST(list_reduce(list_prepend(0, list_transform(string_split(substr(text, 1, 4), ''),
      |    c -> unicode(c))), (a, x) -> a + x) AS BIGINT) AS feat_sum
      |FROM documents ORDER BY id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    Multimodal.extractFeatures(docs, "doc_id", "media").toDF()
      .orderBy("id")
  }

  val q45 = Q(
    "q45_event_dedup",
    """SELECT user_id, event_type, MIN(event_id) AS first_event, COUNT(*) AS n
      |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n"))
      .orderBy("user_id", "event_type")
  }

  /** Tokenizer parity against an independent engine: on the all-ASCII
    * corpus the analyzer chain reduces to whitespace splitting + lowercase
    * (no Japanese stopwords/POS hit), which DuckDB can replicate — so the
    * tokenizer expression itself sits inside the correctness gate.
    */
  val q46 = Q(
    "q46_tokenize_counts",
    """SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(graft.functions.tokenize_ja_neologd(col("text"))).as("n_toks"))
      .orderBy("doc_id")
  }

  val q47 = Q(
    "q47_tokenize_freq",
    """SELECT lower(tok) AS tok, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) tok FROM documents)
      |WHERE tok <> '' GROUP BY lower(tok) ORDER BY lower(tok)""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    t(s, dir, "documents")
      .select(explode(graft.functions.tokenize_ja_neologd(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy("tok")
  }

  /** Vector column functions under the oracle: norms and dot products
    * against a reference vector (vec_id 0), all ordered-fold arithmetic.
    */
  val q48 = Q(
    "q48_vector_stats",
    s"""WITH q AS (SELECT embedding qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label,
       |  sqrt(list_reduce(list_transform(range(1, 65), k ->
       |    CAST(embedding[k] AS DOUBLE) * CAST(embedding[k] AS DOUBLE)), (u, v) -> u + v)) AS norm,
       |  list_reduce(list_transform(range(1, 65), k ->
       |    CAST(embedding[k] AS DOUBLE) * CAST(qe[k] AS DOUBLE)), (u, v) -> u + v) AS dot0
       |FROM embeddings CROSS JOIN q
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val q0 = broadcast(emb.where(col("vec_id") === 0).select(col("embedding").as("qe")))
    emb.crossJoin(q0).select(
      col("vec_id"), col("label"),
      graft.functions.l2_norm(col("embedding")).as("norm"),
      graft.functions.dot_product(col("embedding"), col("qe")).as("dot0"))
      .orderBy("vec_id")
  }

  /** HLL sketch aggregation under a REAL oracle: raw sketch values are
    * engine-specific (DuckDB cannot reproduce Spark's HLL++ bits), so the
    * query emits exact distinct counts PLUS booleans asserting the sketch
    * landed within its error budget (3σ of the configured rsd: 15% for the
    * default 5%, 6% for rsd=0.02). The oracle states the booleans as TRUE —
    * if the sketch ever drifts outside the budget the hash-compare fails,
    * so HLL accuracy itself sits inside the correctness gate.
    */
  val q49 = Q(
    "q49_approx_distinct",
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  COUNT(DISTINCT props) AS exact_props,
      |  TRUE AS approx_users_ok, TRUE AS approx_props_ok
      |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin) { (s, dir) =>
    // Two DISTINCT aggregates on different columns in ONE agg would force
    // Catalyst's Expand (row multiplication ahead of the shuffle — VERDICT
    // r2 "What's wrong" #2, 4× the events table through the exchange at
    // scale). Instead each distinct column gets its own aggregation — a
    // single distinct group plans as two-phase hash aggregation with NO
    // Expand — and the two 5-row results join on event_type.
    val ev = t(s, dir, "events")
    val users = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("au"))
    val props = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("props")).as("exact_props"),
        approx_count_distinct(col("props"), 0.02).as("ap"))
    // Null-safe equality: both aggregations emit a NULL group for NULL
    // event_type (as the oracle's GROUP BY does); a plain equi-join would
    // silently drop that row (NULL keys never match) — a latent divergence
    // the non-null generator masks (ADVICE r3).
    users.join(props, users("event_type") <=> props("event_type"))
      .select(users("event_type").as("event_type"), col("exact_users"), col("exact_props"),
        (abs(col("au") - col("exact_users")) <= col("exact_users") * 0.15).as("approx_users_ok"),
        (abs(col("ap") - col("exact_props")) <= col("exact_props") * 0.06).as("approx_props_ok"))
      .orderBy("event_type")
  }

  /** Approximate percentile with an exact anchor (q74): the discrete
    * median (element at rank ⌈n/2⌉ — no interpolation, so the double is an
    * actual parquet value and hash-compares bit-for-bit) plus a budget
    * boolean for percentile_approx: GK rank error ≤ 1/accuracy keeps the
    * sketch's median inside the exact [p45, p55] element bounds. Same
    * oracle shape as q49's HLL budget (exact values + TRUE literals).
    * The exact ranks need a per-key sort — that is the oracle anchor; the
    * sketch (one partial-aggregable buffer per key, no sort) is what runs
    * at corpus scale.
    */
  val q74 = Q(
    "q74_approx_percentile",
    """WITH r AS (SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type,
      |  MIN(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median_disc,
      |  TRUE AS approx_ok
      |FROM r GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events").where(col("value").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    val ranked = ev.select(col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
    val exact = ranked.groupBy(col("event_type")).agg(
      min(when(col("rn") === ((col("n") + 1) / 2).cast("long"), col("value"))).as("median_disc"),
      min(when(col("rn") === ceil(col("n") * 0.45).cast("long"), col("value"))).as("v45"),
      min(when(col("rn") === ceil(col("n") * 0.55).cast("long"), col("value"))).as("v55"))
    val approx = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap"))
    exact.join(approx, exact("event_type") <=> approx("event_type"))
      .select(exact("event_type").as("event_type"), col("median_disc"),
        (col("ap") >= col("v45") && col("ap") <= col("v55")).as("approx_ok"))
      .orderBy("event_type")
  }

  /** Two-tier quantized ANN (q75): int8 integer-dot candidate generation
    * (kCand=50) + full-precision cosine re-rank (k=5). The oracle rebuilds
    * the codes from the same floor(x/scale + ½) formula, so the candidate
    * sets — and therefore the exact re-ranked results — match exactly.
    * Zero-scale guards mirror Quantize.int8 (codes 0 ⇒ score 0).
    */
  val q75 = Q(
    "q75_quantized_rerank",
    s"""WITH qq AS (SELECT vec_id qid, embedding qe,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS qs
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |cq AS (SELECT vec_id nid, embedding ce,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS cs
       |  FROM embeddings),
       |ap AS (SELECT qid, nid, ce, qe,
       |  CASE WHEN qs = 0 OR cs = 0 THEN CAST(0 AS DOUBLE)
       |    ELSE (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 65),
       |        k -> CAST(floor(CAST(qe[k] AS DOUBLE) / qs + 0.5) AS BIGINT)
       |           * CAST(floor(CAST(ce[k] AS DOUBLE) / cs + 0.5) AS BIGINT))),
       |      (a, x) -> a + x) AS DOUBLE) * qs) * cs END AS ascore
       |  FROM cq CROSS JOIN qq WHERE nid <> qid),
       |cand AS (SELECT qid, nid, ce, qe FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ascore DESC, nid) crn
       |    FROM ap) WHERE crn <= 50),
       |sc AS (SELECT qid, nid, ${cosSql("qe", "ce")} AS cos FROM cand)
       |SELECT qid, nid, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM sc)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    Similarity.quantizedRerankTopK(emb, emb.where(col("vec_id") % 100 === 0),
      kCand = 50, k = 5)
      .orderBy("qid", "rn")
  }

  /** As-of join: each click event picks up the latest prior (<=) signup of
    * the same user — the union+ordered-window pattern (one shuffle, no
    * range-join explosion). Oracle mirrors the same algorithm with
    * last_value IGNORE NULLS.
    */
  val q50 = Q(
    "q50_asof_join",
    """WITH u AS (
      |  SELECT user_id, ts, event_id, 1 AS is_left, CAST(NULL AS BIGINT) AS payload
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, CAST(NULL AS BIGINT), 0, event_id
      |  FROM events WHERE event_type = 'signup'),
      |w AS (SELECT *, last_value(payload IGNORE NULLS) OVER (
      |        PARTITION BY user_id ORDER BY ts, is_left, payload NULLS FIRST
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup
      |      FROM u)
      |SELECT user_id, event_id AS click_id, ts, asof_signup
      |FROM w WHERE is_left = 1 ORDER BY user_id, click_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.Temporal.asofJoin(clicks, signups, "user_id", "ts", "event_id")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"),
        col("asof_event_id").as("asof_signup"))
      .orderBy("user_id", "click_id")
  }

  /** Real-Japanese tokenization inside the correctness gate: the 122
    * hand-reviewed golden sentences run through the full analyzer chain
    * (Viterbi lattice + T2–T7 filters) on executors, and the DuckDB oracle
    * is the literal table of reviewed expectations (JaGolden.oracleSql) —
    * so any dictionary/cost-model regression fails the driver's
    * hash-compare, not just ScalaTest. Mixed-script coverage: kanji,
    * hiragana function words, katakana loanwords, Latin (SNS), digits.
    */
  val q55 = Q("q55_tokenize_ja_golden", graft.ja.JaGolden.oracleSql) { (s, dir) =>
    graft.Graft.register(s)
    val corpus = graft.ja.JaGolden.corpus.map(g => (g.sid, g.sentence))
    s.createDataFrame(corpus).toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** SEARCH/EXTENDED modes under the oracle (VERDICT r2 "Next round" #4):
    * the mode-reviewed corpus subset runs through the analyzer chain with an
    * explicit mode argument — pinning the reference's mode dispatch contract
    * (KuromojiNEologdUDF.java:171-192: SEARCH decomposes lexicalized
    * compounds, EXTENDED additionally unigrams unknown CJK runs) inside the
    * driver gate, not just ScalaTest.
    */
  private def modeGolden(
      name: String, mode: String,
      subset: Seq[(Int, String, Seq[String])], oracle: String): Q =
    Q(name, oracle) { (s, dir) =>
      graft.Graft.register(s)
      s.createDataFrame(subset.map { case (sid, sentence, _) => (sid, sentence) })
        .toDF("sid", "sentence")
        .select(col("sid"),
          graft.functions.tokenize_ja_neologd(col("sentence"), mode).as("toks"))
        .select(col("sid"), size(col("toks")).as("n_toks"),
          concat_ws("|", col("toks")).as("tokens"))
        .orderBy("sid")
    }

  val q56 = modeGolden("q56_tokenize_ja_search", "SEARCH",
    graft.ja.JaGolden.searchSubset, graft.ja.JaGolden.searchOracleSql)
  val q57 = modeGolden("q57_tokenize_ja_extended", "EXTENDED",
    graft.ja.JaGolden.extendedSubset, graft.ja.JaGolden.extendedOracleSql)

  /** Empty stop sets disable BOTH filters (reference A4/A5, UDF:95-100,
    * 194-228 — empty array ≠ null, which means "use defaults"): the raw
    * morpheme stream with base forms, pinned against reviewed rows like
    * q55-q57.
    */
  val q60 = Q("q60_tokenize_ja_nostop", graft.ja.JaGolden.nostopOracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.nostopSubset.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(
          col("sentence"), "NORMAL", Seq.empty, Seq.empty).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** User-dictionary override (reference A6, UDF:102-104, 230-249 and its
    * own golden TEST:279-299: 日本経済新聞 with a user dict row segments to
    * 日本|経済|新聞): const CSV rows reparse per the Kuromoji format
    * `surface,segmentation,readings,POS`, and user entries win their span
    * in every mode. Pinned as a literal-table oracle over sentences where
    * the embedded dictionary alone would segment differently.
    */
  val q61 = Q(
    "q61_tokenize_ja_userdict",
    """SELECT * FROM (VALUES
      |  (1, 3, '日本|経済|新聞'),
      |  (2, 5, '日本|経済|新聞|記事|読む'),
      |  (3, 3, 'グラフト|エンジン|速い')
      |) AS t(sid, n_toks, tokens) ORDER BY sid""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val userDict = Seq(
      "日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",
      "グラフトエンジン,グラフト エンジン,グラフト エンジン,カスタム名詞")
    val rows = Seq(
      (1, "日本経済新聞。"),           // user segmentation overrides the whole-entity entry
      (2, "日本経済新聞の記事を読む。"), // …in context
      (3, "グラフトエンジンは速い。"))   // user entry over pure-unknown text
    s.createDataFrame(rows).toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(
          col("sentence"), "NORMAL", null, null, userDict).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Zero-arg version introspection (reference A11, UDF:121-129: the call
    * returns a 1-element array with the artifact version).
    */
  val q62 = Q(
    "q62_version_call",
    "SELECT * FROM (VALUES (1, '0.1.0')) AS t(sid, version)") { (s, dir) =>
    graft.Graft.register(s)
    s.sql("SELECT 1 AS sid, tokenize_ja_neologd()[0] AS version")
  }

  /** BPE-ish token budgeting (q66): the GPT-2 pre-tokenizer chunk count —
    * what an LLM pipeline actually budgets by — counted with the SAME
    * regex string in both engines (apostrophes doubled for the SQL
    * literal). The six q58 literal rows ride along so punctuation,
    * contractions, and digit runs are exercised beyond the
    * space-separated-words corpus.
    */
  val q66 = Q(
    "q66_token_budget",
    s"""WITH src AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    ${piiRows.map { case (id, s) => s"(CAST($id AS BIGINT), '$s')" }.mkString(",\n    ")}
       |  ) AS v(doc_id, text))
       |SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '${TextAnalysis.BpeChunkRe.replace("'", "''")}')) AS n_bpe_chunks,
       |  CAST(length(text) AS INT) AS n_chars
       |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionAll(piiRows.toDF("doc_id", "text"))
    TextAnalysis.tokenStats(docs, "doc_id", "text").orderBy("doc_id")
  }

  /** Sliding-window chunking (q68): chunkSize=64, overlap=16 → stride=48;
    * chunk_idx/n_tokens cast to INT on the oracle side (DuckDB len/range
    * are BIGINT, Spark size/posexplode are INT).
    */
  val q68 = Q(
    "q68_chunking",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ch AS (SELECT doc_id, t,
      |         unnest(range(0, GREATEST(1, (len(t) - 16 + 47) // 48))) AS i
      |       FROM tk WHERE len(t) > 0)
      |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |  CAST(len(list_slice(t, i*48 + 1, i*48 + 64)) AS INT) AS n_tokens,
      |  array_to_string(list_slice(t, i*48 + 1, i*48 + 64), ' ') AS chunk_text
      |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 64, overlap = 16)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Corpus-frequency quality scoring (q69): rational unigram-LM signals
    * (mean corpus frequency, rare-token ratio at minCount=5) — long÷long
    * doubles only, so the hash compare is exact.
    */
  val q69 = Q(
    "q69_corpus_freq_score",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents),
      |tok2 AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
      |vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok2 GROUP BY tok)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean_token_freq,
      |  CAST(COUNT(CASE WHEN cnt < 5 THEN 1 END) AS DOUBLE) / COUNT(*) AS rare_ratio
      |FROM tok2 JOIN vocab USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.corpusFreqScore(t(s, dir, "documents"), "doc_id", "text", minCount = 5)
      .orderBy("doc_id")
  }

  /** Deterministic epoch shuffle + sharding (q70): shard and in-shard
    * position are pure functions of (doc_id, epoch salt) — the oracle
    * recomputes both from the shared polynomial hash.
    */
  val q70 = Q(
    "q70_epoch_shuffle",
    s"""WITH hk AS (SELECT doc_id,
       |  ${hashSql("CAST(doc_id AS VARCHAR) || ':epoch1'")} AS k FROM documents)
       |SELECT doc_id, k % 8 AS shard,
       |  CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS INT)
       |    AS pos_in_shard
       |FROM hk ORDER BY shard, pos_in_shard""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.epochShuffle(
      t(s, dir, "documents").select(col("doc_id")), "doc_id",
      numShards = 8, salt = "epoch1")
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
      .orderBy("shard", "pos_in_shard")
  }

  /** Int8 embedding quantization (q71): per-vector scale, saturation
    * bound, and left-to-right reconstruction-error fold — every step a
    * single IEEE op, so the doubles hash-match bit-for-bit.
    */
  val q71 = Q(
    "q71_quantize_int8",
    """WITH sc AS (SELECT vec_id, embedding AS e,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
      |  FROM embeddings)
      |SELECT vec_id, scale,
      |  CASE WHEN scale = 0 THEN 0
      |    ELSE list_max(list_transform(range(1, 65),
      |      k -> CAST(abs(floor(CAST(e[k] AS DOUBLE) / scale + 0.5)) AS BIGINT)))
      |  END AS max_abs_code,
      |  CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
      |      k -> abs(CAST(e[k] AS DOUBLE)
      |             - floor(CAST(e[k] AS DOUBLE) / scale + 0.5) * scale))),
      |      (u, v) -> u + v)
      |  END AS recon_err
      |FROM sc ORDER BY vec_id""".stripMargin) { (s, dir) =>
    graft.operators.Quantize.int8(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("scale"), col("max_abs_code"), col("recon_err"))
      .orderBy("vec_id")
  }

  /** Per-stratum reservoir sample (q72): fixed quota of 20 docs per
    * source, membership a pure function of (doc_id, salt).
    */
  val q72 = Q(
    "q72_stratified_sample",
    s"""WITH h AS (SELECT source, doc_id,
       |  ${hashSql("CAST(doc_id AS VARCHAR) || ':graft'")} AS k FROM documents),
       |r AS (SELECT source, doc_id,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS INT)
       |    AS sample_rank FROM h)
       |SELECT source, doc_id, sample_rank FROM r WHERE sample_rank <= 20
       |ORDER BY source, sample_rank""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents").select(col("source"), col("doc_id")),
      "doc_id", "source", k = 20)
      .select(col("source"), col("doc_id"), col("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** Concat-and-split sequence packing (q73): contextLen=512, sharded by
    * source. Windowed SUM is CAST to BIGINT in the oracle (DuckDB windowed
    * SUM(BIGINT) yields HUGEINT).
    */
  val q73 = Q(
    "q73_sequence_packing",
    """WITH tk AS (SELECT source, doc_id, len(string_split(text, ' ')) AS n
      |            FROM documents WHERE length(text) > 0),
      |c AS (SELECT source, doc_id, n,
      |        CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM tk)
      |SELECT source, doc_id, n AS n_tokens, cum - n AS start_offset,
      |  (cum - n) // 512 AS first_bin, (cum - 1) // 512 AS last_bin
      |FROM c ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.packSequences(t(s, dir, "documents"), "doc_id", "text",
      "source", contextLen = 512)
      .orderBy("source", "doc_id")
  }

  /** Skew-handling operators inside the gate: the salted join must produce
    * EXACTLY the plain join's rows (salt only redistributes them across
    * tasks), and two-phase salted aggregation must produce exactly the
    * one-phase totals — so the oracles are the unsalted formulations.
    * rand()-assigned salts are fine under the hash compare precisely
    * because the result set is salt-independent. value sums go through
    * DECIMAL so the partial/total reassociation is exact (the double-sum
    * ordering rule in Relational.scala).
    */
  /** Near-duplicate benchmark decontamination (q65): GPT-3/C4-style rule —
    * contaminated iff ≥ half of a doc's distinct 6-token shingles occur in
    * the benchmark set. Docs too short to shingle carry no evidence and are
    * out of scope (as in q31). The bench subset (doc_id % 89) includes
    * exact members AND their near-dup neighbors via shared shingles.
    */
  val q65 = Q(
    "q65_decontaminate_near",
    s"""WITH $shingleCtes,
       |bh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 89 = 0),
       |shared AS (SELECT doc_id, COUNT(*) n_shared FROM hs
       |           WHERE h IN (SELECT h FROM bh) GROUP BY doc_id)
       |SELECT sizes.doc_id AS id, sizes.n AS n_shingles,
       |  COALESCE(shared.n_shared, 0) AS n_shared,
       |  COALESCE(shared.n_shared, 0) * 2 >= sizes.n AS contaminated
       |FROM sizes LEFT JOIN shared USING (doc_id)
       |ORDER BY id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.where(col("doc_id") % 89 === 0)
    graft.operators.Decontaminate.flagNearNgram(docs, bench, "doc_id", "text")
      .orderBy("id")
  }

  val q63 = Q(
    "q63_salted_join",
    """SELECT e.event_id, e.event_type, e.user_id, d.type_total
      |FROM events e JOIN (
      |  SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY event_type
      |) d USING (event_type)
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("type_total"))
    graft.operators.Skew.saltedJoin(
      ev.select(col("event_id"), col("event_type"), col("user_id")), dim, "event_type")
      .select(col("event_id"), col("event_type"), col("user_id"), col("type_total"))
      .orderBy("event_id")
  }

  val q64 = Q(
    "q64_salted_agg",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .withColumn("value_dec", col("value").cast("decimal(18,3)"))
    graft.operators.Skew.saltedSumCount(ev, "event_type", "value_dec")
      .select(col("event_type"), col("n"),
        col("sum_value_dec").cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Composite: tokenizer (UDTF shape) → hash agg → per-group ranking
    * window — the full §7.3 slice parameterized by source.
    */
  val q51 = Q(
    "q51_top_tokens_per_source",
    """SELECT source, tok, n, rn FROM (
      |  SELECT source, tok, COUNT(*) AS n,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY COUNT(*) DESC, tok) AS rn
      |  FROM (SELECT source, lower(unnest(string_split(text, ' '))) AS tok
      |        FROM documents)
      |  WHERE tok <> '' GROUP BY source, tok)
      |WHERE rn <= 3 ORDER BY source, rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n").desc, col("tok"))
    t(s, dir, "documents")
      .select(col("source"),
        explode(graft.functions.tokenize_ja_neologd(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy("source", "rn")
  }

  /** Deterministic hash split: same ids land in the same split in any
    * engine (the DuckDB oracle recomputes the bucket with the portable
    * hash). rand()-based sampling could never be oracle-checked.
    */
  val q52 = Q(
    "q52_deterministic_split",
    s"""WITH b AS (SELECT doc_id, lang,
       |  ${hashSql("CAST(doc_id AS VARCHAR) || ':graft'")} % 100 AS bucket
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Sampling
      .trainValTestSplit(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .orderBy("doc_id")
  }

  /** Exact decontamination: planted near-duplicates are NOT exact content
    * matches, so only the self-selected benchmark docs flag — the semi-join
    * on the 8-byte fingerprint is the point.
    */
  val q53 = Q(
    "q53_decontaminate",
    """WITH fp AS (SELECT doc_id, md5(text) AS f FROM documents),
      |bench AS (SELECT DISTINCT f FROM fp WHERE doc_id % 97 = 0)
      |SELECT doc_id FROM fp WHERE f IN (SELECT f FROM bench)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.where(col("doc_id") % 97 === 0)
    graft.operators.Decontaminate.flagExact(docs, bench, "text")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** One Lloyd iteration of the q54 oracle: assign the sample to the
    * centroids of CTE `$prev` (argmax cosine, ties → smallest cid), then
    * dim-wise means via an ordered double fold in vec_id order — the exact
    * accumulation order of IvfIndex.fit, so centroids match bit-for-bit.
    */
  private def ivfIterSql(prev: String, n: Int): String =
    s"""a$n AS (SELECT vec_id, v, cid FROM (
       |  SELECT s.vec_id, s.v, $prev.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |      ORDER BY ${cosSql("s.v", s"$prev.c")} DESC NULLS LAST, $prev.cid) rn
       |  FROM s CROSS JOIN $prev) WHERE rn = 1),
       |m$n AS (SELECT cid, dim,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v[dim] ORDER BY vec_id)),
       |      (acc, x) -> acc + x) / COUNT(*) AS mean
       |  FROM a$n CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) d
       |  GROUP BY cid, dim),
       |c$n AS (SELECT $prev.cid, coalesce(u.c, $prev.c) AS c
       |  FROM $prev LEFT JOIN (SELECT cid, list(mean ORDER BY dim) AS c
       |                        FROM m$n GROUP BY cid) u USING (cid))""".stripMargin

  /** Full IVF pipeline under the oracle: fit (2 deterministic Lloyd
    * iterations on the vec_id%7 sample, nlist=4) → assign → probe search
    * (nprobe=2, k=5). The DuckDB oracle replays fit bit-for-bit (ordered
    * folds), then the same argmax assignment and probe top-k.
    */
  val q54 = Q(
    "q54_ivf_search",
    s"""WITH s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id % 7 = 0
       |           ORDER BY vec_id LIMIT 65536),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |       FROM (SELECT vec_id, v FROM s ORDER BY vec_id LIMIT 4)),
       |${ivfIterSql("c0", 1)},
       |${ivfIterSql("c1", 2)},
       |q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |      FROM embeddings WHERE vec_id % 100 = 0),
       |pr AS (SELECT qid, qv, cid FROM (
       |        SELECT q.qid, q.qv, c2.cid,
       |          ROW_NUMBER() OVER (PARTITION BY q.qid
       |            ORDER BY ${cosSql("q.qv", "c2.c")} DESC NULLS LAST, c2.cid) rn
       |        FROM q CROSS JOIN c2) WHERE rn <= 2),
       |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |         FROM embeddings),
       |asg AS (SELECT vec_id AS nid, v AS nv, cid FROM (
       |         SELECT corp.vec_id, corp.v, c2.cid,
       |           ROW_NUMBER() OVER (PARTITION BY corp.vec_id
       |             ORDER BY ${cosSql("corp.v", "c2.c")} DESC NULLS LAST, c2.cid) rn
       |         FROM corp CROSS JOIN c2) WHERE rn = 1),
       |cand AS (SELECT pr.qid, asg.nid, ${cosSql("pr.qv", "asg.nv")} AS cos
       |         FROM pr JOIN asg USING (cid) WHERE asg.nid <> pr.qid)
       |SELECT qid, nid, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM cand)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    val m = IvfIndex.fit(emb.where(col("vec_id") % 7 === 0), nlist = 4, iters = 2)
    IvfIndex.search(emb, emb.where(col("vec_id") % 100 === 0), m, k = 5, nprobe = 2)
      .orderBy("qid", "rn")
  }

  /** PII scrubbing with the SAME regex strings in both engines (patterns
    * live in the java.util.regex ∩ RE2 common subset — TextAnalysis
    * scaladoc). The generator corpus carries no PII, so six literal rows
    * with known emails/IPs/phones ride along (the round-1 lesson: an
    * oracle the data cannot exercise proves nothing); DuckDB needs the
    * explicit 'g' flag Spark applies implicitly. (piiRows itself is
    * declared at the top of the object: vals initialize in file order and
    * q66, defined earlier in the file, also embeds the rows.)
    */
  val q58 = Q(
    "q58_pii_redact",
    s"""WITH src AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    ${piiRows.map { case (id, s) => s"(CAST($id AS BIGINT), '$s')" }.mkString(",\n    ")}
       |  ) AS v(doc_id, text))
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS n_emails,
       |  len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS n_ips,
       |  len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
       |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
       |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted
       |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionAll(piiRows.toDF("doc_id", "text"))
    TextAnalysis.redactPii(docs, "doc_id", "text").orderBy("doc_id")
  }

  /** Gopher-style repetition scoring (q59): int/int ratios only; the
    * zero-bigram CASE keeps Spark (NULL on /0) and DuckDB (NaN) aligned.
    */
  val q59 = Q(
    "q59_repetition",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |srt AS (SELECT doc_id, t, list_sort(t) s,
      |        CASE WHEN len(t) >= 2
      |             THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
      |             ELSE [] END bg FROM tk),
      |bnd AS (SELECT doc_id, t, bg,
      |        list_filter(range(1, len(s) + 1), i -> i = 1 OR s[i] <> s[i - 1]) b,
      |        len(t) n FROM srt),
      |runs AS (SELECT doc_id, t, bg, n,
      |         list_max(list_transform(range(1, len(b) + 1),
      |           j -> (CASE WHEN j < len(b) THEN b[j + 1] ELSE n + 1 END) - b[j])) top
      |         FROM bnd)
      |SELECT doc_id,
      |  n AS n_tokens,
      |  1 - len(list_distinct(t)) / n AS dup_word_frac,
      |  CASE WHEN len(bg) > 0 THEN 1 - len(list_distinct(bg)) / len(bg)
      |       ELSE 0.0 END AS dup_bigram_frac,
      |  top / n AS top_word_frac,
      |  (1 - len(list_distinct(t)) / n) > 0.3 OR (top / n) > 0.2 AS repetitive
      |FROM runs ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
  }

  /** Bloom-pruned semi join (q79): lineitem rows whose part is in a
    * selective dimension subset. The bloom filter drops non-matching rows
    * at the scan, before any exchange; the surviving rows still pass a real
    * semi join, so the oracle is the plain IN-subquery formulation — the
    * bloom pass is invisible in the result by construction.
    */
  val q79 = Q(
    "q79_bloom_pruned_join",
    """SELECT l_orderkey, l_linenumber, l_partkey
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    graft.operators.BloomPrune.prunedSemiJoin(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
      t(s, dir, "part").where(col("p_size") >= 40),
      "l_partkey", "p_partkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Count-min-sketch heavy hitters (q80), pinned with the q49 error-budget
    * pattern: the oracle computes the exact top-20 token counts and asserts
    * the sketch guarantees as literal TRUEs; the Spark side computes the
    * REAL comparisons from a deterministic fixed-seed sketch (merge order
    * irrelevant: elementwise sums commute), so a sketch that ever
    * underestimated or blew its ε-budget would hash-mismatch.
    */
  val q80 = Q(
    "q80_cms_heavy_hitters",
    """WITH tok AS (SELECT lower(unnest(string_split(text, ' '))) AS tok
      |            FROM documents),
      |tc AS (SELECT tok, COUNT(*) AS n FROM tok WHERE tok <> ''
      |       GROUP BY tok)
      |SELECT tok, n, TRUE AS no_underestimate, TRUE AS within_budget
      |FROM tc ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, dir) =>
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("raw"))
      .select(lower(col("raw")).as("tok"))
      .where(col("tok") =!= "")
    graft.operators.Cms.heavyHitterAudit(toks, "tok", k = 20)
  }

  /** C4/Gopher composite quality filter (q85): per-rule booleans + keep
    * flag as columns — audit-friendly curation, one projection pass, all
    * ratios integer-division doubles.
    */
  val q85 = Q(
    "q85_gopher_filter",
    """WITH m AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sig AS (SELECT doc_id, len(t) AS n_words,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(t, x -> CAST(length(x) AS BIGINT))),
      |    (a, b) -> a + b) AS DOUBLE) / len(t) AS mean_word_len,
      |  len(list_filter(t, x -> regexp_full_match(x, '[a-z]+'))) / len(t)
      |    AS alpha_frac,
      |  1 - len(list_distinct(t)) / len(t) AS dup_frac
      |  FROM m)
      |SELECT doc_id, n_words, mean_word_len, alpha_frac, dup_frac,
      |  n_words BETWEEN 50 AND 100000 AS r_word_count,
      |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_len,
      |  alpha_frac >= 0.8 AS r_alpha,
      |  dup_frac <= 0.5 AS r_dup,
      |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
      |    AND alpha_frac >= 0.8 AND dup_frac <= 0.5 AS keep
      |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.gopherFilter(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Custom Catalyst Generator (q87): explode_ngrams as ONE Generate
    * operator — the native UDTF extension point, vs the reference's
    * array-UDF + explode two-step. Position comes out of the generator
    * itself, so no posexplode/array materialization.
    */
  val q87 = Q(
    "q87_explode_ngrams_udtf",
    """SELECT doc_id,
      |  unnest(range(0, greatest(len(t) - 2, 0))) AS pos,
      |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |    i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS ngram
      |FROM (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents WHERE doc_id % 100 = 0)
      |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    t(s, dir, "documents").where(col("doc_id") % 100 === 0)
      .createOrReplaceTempView("graft_docs_q87")
    s.sql(
      """SELECT doc_id, explode_ngrams(text, 3) FROM graft_docs_q87
        |ORDER BY doc_id, pos""".stripMargin)
  }

  /** Collocation mining by lift (q88): PMI without the log — the score is
    * the exact rational c_xy·N/(c_x·c_y) evaluated in ONE double multiply
    * and divide in both engines (log's libm last-ulp differences would
    * break the hash compare; the ranking is log-invariant anyway since log
    * is monotone). Bigrams come from the q87 Generator; unigram counts
    * join back on the bigram's two halves.
    */
  val q88 = Q(
    "q88_collocations_lift",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
      |         i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bigram
      |       FROM tk WHERE len(t) >= 2),
      |bc AS (SELECT bigram, COUNT(*) AS c_xy FROM bg GROUP BY bigram),
      |uc AS (SELECT unnest(t) AS tok FROM tk),
      |u AS (SELECT tok, COUNT(*) AS c FROM uc GROUP BY tok),
      |n AS (SELECT COUNT(*) AS total FROM bg)
      |SELECT bigram, c_xy,
      |  (CAST(c_xy AS DOUBLE) * total) / (CAST(ux.c AS DOUBLE) * uy.c) AS lift
      |FROM bc, n,
      |  u ux, u uy
      |WHERE ux.tok = string_split(bigram, ' ')[1]
      |  AND uy.tok = string_split(bigram, ' ')[2]
      |  AND c_xy >= 5
      |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_docs_q88")
    s.sql(
      """WITH bg AS (SELECT ngram AS bigram FROM (
        |    SELECT explode_ngrams(text, 2) FROM graft_docs_q88)),
        |bc AS (SELECT bigram, COUNT(*) AS c_xy FROM bg GROUP BY bigram),
        |u AS (SELECT tok, COUNT(*) AS c FROM (
        |    SELECT explode(split(text, ' ')) AS tok FROM graft_docs_q88)
        |  GROUP BY tok),
        |n AS (SELECT COUNT(*) AS total FROM bg)
        |SELECT bigram, c_xy,
        |  (CAST(c_xy AS DOUBLE) * total) / (CAST(ux.c AS DOUBLE) * uy.c) AS lift
        |FROM bc CROSS JOIN n
        |  JOIN u ux ON ux.tok = split(bigram, ' ')[0]
        |  JOIN u uy ON uy.tok = split(bigram, ' ')[1]
        |WHERE c_xy >= 5
        |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin)
  }

  /** Cross-source vocabulary overlap (q89): pairwise Jaccard between each
    * source's distinct-token set, computed as a token-keyed co-occurrence
    * self-join (never materializing per-source sets as arrays) — at 100 TB
    * this is one distinct pass + one equi-join on token, with the 190
    * source pairs reduced map-side.
    */
  val q89 = Q(
    "q89_source_vocab_jaccard",
    """WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
      |            FROM documents),
      |sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
      |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS i
      |          FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      |          GROUP BY a.source, b.source)
      |SELECT sa, sb, i, (za.n + zb.n - i) AS un,
      |  CAST(i AS DOUBLE) / (za.n + zb.n - i) AS jaccard
      |FROM inter JOIN sz za ON za.source = sa JOIN sz zb ON zb.source = sb
      |ORDER BY sa, sb""".stripMargin) { (s, dir) =>
    val st = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val sz = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val a = st.as("a"); val b = st.as("b")
    val inter = a.join(b,
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.as("za"), col("za.source") === col("sa"))
      .join(sz.as("zb"), col("zb.source") === col("sb"))
      .select(col("sa"), col("sb"), col("i"),
        (col("za.n") + col("zb.n") - col("i")).as("un"),
        (col("i").cast("double") / (col("za.n") + col("zb.n") - col("i"))).as("jaccard"))
      .orderBy("sa", "sb")
  }

  /** Banded range join (q96): value-in-interval enrichment without a
    * nested loop. The oracle is the plain BETWEEN join; the Spark side
    * buckets by floor(v/band) and equi-joins — identical rows, one hash
    * shuffle (PlanShapeSpec pins no BroadcastNestedLoopJoin/Cartesian).
    * The interval dim is derived from events itself so both engines build
    * byte-identical inputs; intervals overlap (width 30 > stride 25) so
    * multi-match rows are exercised.
    */
  val q96 = Q(
    "q96_band_range_join",
    """WITH dim AS (SELECT DISTINCT (user_id % 20) AS band_id,
      |    CAST((user_id % 20) * 25 AS DOUBLE) AS lo,
      |    CAST((user_id % 20) * 25 + 30 AS DOUBLE) AS hi
      |  FROM events)
      |SELECT band_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim d ON e.value BETWEEN d.lo AND d.hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val dim = ev.select((col("user_id") % 20).as("band_id"),
      ((col("user_id") % 20) * 25).cast("double").as("lo"),
      ((col("user_id") % 20) * 25 + 30).cast("double").as("hi")).distinct()
    graft.operators.Temporal.bandJoin(
      ev.select(col("value"), col("value").cast("decimal(18,3)").as("vdec")),
      dim, "value", "lo", "hi", band = 32.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("vdec")).cast("double").as("sum_value"))
      .orderBy("band_id")
  }

  /** Distributed triangle counting (q97): the near-dup graph-quality
    * diagnostic — triangles = transitively-consistent duplicate triples.
    * Edge relation (same nation, close balances, bounded key range) is
    * derived identically in both engines; the count is the canonical
    * three-way self-join on ordered vertices (a<b<c), each hop an
    * equi-join on shared endpoints — no pair/triple materialization
    * beyond the joins themselves.
    */
  val q97 = Q(
    "q97_triangle_count",
    """WITH e AS (SELECT a.c_nationkey AS nk, a.c_custkey AS u, b.c_custkey AS v
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE a.c_custkey < 300 AND b.c_custkey < 300
      |    AND abs(a.c_acctbal - b.c_acctbal) < 500)
      |SELECT e1.nk AS nation, COUNT(*) AS n_triangles
      |FROM e e1 JOIN e e2 ON e1.v = e2.u AND e1.nk = e2.nk
      |          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v AND e3.nk = e1.nk
      |GROUP BY e1.nk ORDER BY nation""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer").where(col("c_custkey") < 300)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val a = c.as("a"); val b = c.as("b")
    val e = a.join(b,
        col("a.c_nationkey") === col("b.c_nationkey") &&
        col("a.c_custkey") < col("b.c_custkey") &&
        abs(col("a.c_acctbal") - col("b.c_acctbal")) < 500)
      .select(col("a.c_nationkey").as("nk"),
        col("a.c_custkey").as("u"), col("b.c_custkey").as("v"))
    val e1 = e.as("e1"); val e2 = e.as("e2"); val e3 = e.as("e3")
    e1.join(e2, col("e1.v") === col("e2.u") && col("e1.nk") === col("e2.nk"))
      .join(e3, col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v") &&
        col("e3.nk") === col("e1.nk"))
      .groupBy(col("e1.nk").as("nation"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("nation")
  }

  /** Time-window event pairing (q98): the batch twin of the stream-stream
    * interval join — every (a, b) same-user pair with b inside a's
    * 30-minute forward window, via the q96 band join on epoch-µs (band =
    * window width, so each interval spans ≤ 2 buckets). The user-equality
    * predicate re-checks after the bucket join; at 100 TB the bucket key
    * would be (user, time-bucket) to prune cross-user candidates before
    * the shuffle — same operator, composite key.
    */
  val q98 = Q(
    "q98_time_window_pairs",
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
      |SELECT a.user_id AS user_id, COUNT(*) AS n_pairs
      |FROM ev a JOIN ev b
      |  ON a.user_id = b.user_id
      | AND b.us BETWEEN a.us AND a.us + 1800000000
      | AND a.event_id <> b.event_id
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val points = ev.select(col("user_id").as("bu"), col("event_id").as("be"),
      col("us").cast("double").as("v"))
    val intervals = ev.select(col("user_id").as("au"), col("event_id").as("ae"),
      col("us").cast("double").as("lo"),
      (col("us") + 1800000000L).cast("double").as("hi"))
    graft.operators.Temporal.bandJoin(points, intervals, "v", "lo", "hi",
        band = 1.8e9)
      .where(col("au") === col("bu") && col("ae") =!= col("be"))
      .groupBy(col("au").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Containment-coefficient near-dup (q99): Broder's one-sided overlap
    * |A∩B|/|A| — catches a document embedded verbatim in a larger one,
    * where symmetric Jaccard (q31) stays below threshold because the union
    * is dominated by the larger doc. Threshold 0.6 on either direction.
    */
  val q99 = Q(
    "q99_containment_neardup",
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) shared
       |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared,
       |  CAST(shared AS DOUBLE) / sa.n AS containment_a,
       |  CAST(shared AS DOUBLE) / sb.n AS containment_b
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(shared AS DOUBLE) / sa.n >= 0.6
       |   OR CAST(shared AS DOUBLE) / sb.n >= 0.6
       |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 6, threshold = 0.6)
      .orderBy("id_a", "id_b")
  }

  /** Ordered-event funnel (q100): per user, did click → view → purchase
    * happen in temporal order? Computed as three conditional min/max
    * aggregates in ONE hash agg pass (no self-joins, no window): the
    * canonical product-analytics shape — at 100 TB one shuffle keyed by
    * user, partial aggregation map-side.
    */
  val q100 = Q(
    "q100_event_funnel",
    """WITH f AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
      |    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase
      |  FROM events GROUP BY user_id)
      |SELECT user_id, first_click, first_view, last_purchase,
      |  first_click IS NOT NULL AND first_view IS NOT NULL
      |    AND last_purchase IS NOT NULL
      |    AND first_click <= first_view AND first_view <= last_purchase
      |    AS converted
      |FROM f ORDER BY user_id""".stripMargin) { (s, dir) =>
    val us = unix_micros(col("ts"))
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "click", us)).as("first_click"),
        min(when(col("event_type") === "view", us)).as("first_view"),
        max(when(col("event_type") === "purchase", us)).as("last_purchase"))
      .select(col("user_id"), col("first_click"), col("first_view"),
        col("last_purchase"),
        (col("first_click").isNotNull && col("first_view").isNotNull &&
          col("last_purchase").isNotNull &&
          col("first_click") <= col("first_view") &&
          col("first_view") <= col("last_purchase")).as("converted"))
      .orderBy("user_id")
  }

  /** Held-out conformance inside the driver gate (VERDICT r6 "Next round"
    * #2): the blind-authored 98-sentence evaluation corpus runs through the
    * full analyzer chain on executors against its literal-table oracle —
    * the out-of-sample counterpart to q55's development corpus, mirroring
    * the reference's arbitrary-news-text robustness tests
    * (KuromojiNEologdUDFTest.java:202-259). First-run rate before any fix:
    * 63/98 (protocol + adjudication in the resource header and SURVEY §7.4).
    */
  val q101 = Q("q101_tokenize_ja_heldout", graft.ja.JaGolden.heldoutOracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Second blind held-out set (round 7): 60 fresh-register sentences
    * authored AFTER the first set's fixes, measuring whether those fixes
    * generalized or just patched the first sample. First-run rate before
    * any fix: 38/60 (63.3%) — the same ~two-thirds as the first set,
    * so the out-of-sample rate is a stable property of the dictionary
    * (protocol + adjudication in the resource header and SURVEY §7.4).
    */
  val q105 = Q("q105_tokenize_ja_heldout2", graft.ja.JaGolden.heldout2OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus2.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Third blind held-out set (round 7): authored after the derived
    * compound-verb layer to measure its effect on out-of-sample text.
    * First-run 15/30 exposed the missing auxiliaries and the aux-as-V1
    * hole; post-fix 30/30 (adjudication in the resource header).
    */
  val q106 = Q("q106_tokenize_ja_heldout3", graft.ja.JaGolden.heldout3OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus3.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Fourth blind held-out set (round 7): authored after the auxiliary
    * expansion, over six fresh registers (wedding, conveyor sushi,
    * disaster drill, hair salon, parcel delivery, stargazing); 2 of the 42
    * authored sentences duplicated golden sentences and were dropped as not
    * out-of-sample. First-run 19/40 (47.5%); post-adjudication 40/40
    * (resource header + SURVEY §7.4 record the split of convention
    * conflicts vs genuine gaps).
    */
  val q107 = Q("q107_tokenize_ja_heldout4", graft.ja.JaGolden.heldout4OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus4.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Composed curation pipeline (q114): normalize → length/repetition
    * gates → exact-dedup-first-wins, one verdict row per document. The
    * oracle chains the same stages as CTEs; `pass_dup` is an int/int
    * ratio, the dedup rank partitions by md5 of the NORMALIZED text.
    */
  val q114 = Q(
    "q114_curation_pipeline", {
      def lit1(s0: String) = "'" + s0.replace("'", "''") + "'"
      raw"""WITH c AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(
         |    replace(translate(text, ${lit1(TextAnalysis.NormFrom)},
         |                      ${lit1(TextAnalysis.NormTo)}), '…', '...'),
         |    '${TextAnalysis.ZeroWidthRe}', '', 'g'),
         |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
         |    '[ \t\n\r]+', ' ', 'g')) AS clean FROM documents),
         |g AS (SELECT doc_id, clean,
         |  len(string_split(clean, ' ')) AS n_tokens,
         |  len(list_distinct(string_split(clean, ' '))) AS n_distinct FROM c),
         |r AS (SELECT doc_id, clean, n_tokens,
         |  n_tokens >= 10 AND n_tokens <= 100000 AS pass_length,
         |  (1 - n_distinct / n_tokens) <= 0.5 AS pass_dup,
         |  CAST(row_number() OVER (PARTITION BY md5(clean) ORDER BY doc_id)
         |       AS INT) AS copy_rank FROM g)
         |SELECT doc_id, n_tokens, pass_length, pass_dup, copy_rank,
         |  copy_rank = 1 AS pass_unique,
         |  pass_length AND pass_dup AND copy_rank = 1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    TextAnalysis.curate(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Inverted index (q115): posting lists per term with df/cf, minDf=2
    * pruning; the query flattens the nested postings for the hash compare
    * (one row per (term, doc), positions comma-joined).
    */
  val q115 = Q(
    "q115_inverted_index",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |p AS (SELECT doc_id, CAST(i AS INT) AS pos, t[i + 1] AS term
      |      FROM tk, unnest(range(0, len(t))) AS u(i)),
      |td AS (SELECT term, doc_id, list_sort(list(pos)) AS plist
      |       FROM p GROUP BY 1, 2),
      |t2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
      |         CAST(sum(len(plist)) AS BIGINT) AS cf FROM td GROUP BY 1)
      |SELECT td.term, t2.df, t2.cf, td.doc_id,
      |  array_to_string(td.plist, ',') AS positions
      |FROM td JOIN t2 USING (term) WHERE t2.df >= 2
      |ORDER BY td.term, td.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
      minDf = 2)
      .select(col("term"), col("df"), col("cf"),
        explode(col("postings")).as("p"))
      .select(col("term"), col("df"), col("cf"),
        col("p.doc_id").as("doc_id"),
        array_join(col("p.positions"), ",").as("positions"))
      .orderBy("term", "doc_id")
  }

  /** Content-defined chunking (q116): boundaries where graft_hash64(token)
    * ≡ 0 (mod 8), chunk fingerprints, cross-document shared flag. The
    * oracle replays boundary selection, the strictly-before running count,
    * the ordered reassembly, and the min≠max sharing test.
    */
  val q116 = Q(
    "q116_cdc_chunks",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |p AS (SELECT doc_id, CAST(i AS INT) AS pos, t[i + 1] AS tok
       |      FROM tk, unnest(range(0, len(t))) AS u(i)),
       |b AS (SELECT doc_id, pos, tok,
       |        (${hashSql("tok")} % 8 = 0) AS boundary FROM p),
       |cx AS (SELECT doc_id, pos, tok,
       |  CAST(SUM(CASE WHEN boundary THEN 1 ELSE 0 END) OVER (
       |         PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
       |       - CASE WHEN boundary THEN 1 ELSE 0 END AS INT) AS chunk_idx
       |  FROM b),
       |ch AS (SELECT doc_id, chunk_idx, CAST(COUNT(*) AS INT) AS n_tokens,
       |         string_agg(tok, ' ' ORDER BY pos) AS chunk
       |       FROM cx GROUP BY 1, 2),
       |h AS (SELECT doc_id, chunk_idx, n_tokens,
       |        ${hashSql("chunk")} AS chunk_hash FROM ch)
       |SELECT doc_id, chunk_idx, n_tokens, chunk_hash,
       |  MIN(doc_id) OVER (PARTITION BY chunk_hash)
       |    <> MAX(doc_id) OVER (PARTITION BY chunk_hash) AS shared
       |FROM h ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text", modulus = 8)
      .orderBy("doc_id", "chunk_idx")
  }

  /** DSIR importance scoring (q117): hashed unigram+bigram features,
    * integer fixed-point target-affinity weights (target = lang 'en'),
    * per-doc count-weighted mean bucket weight. The oracle replays
    * feature hashing, bucket weights (BIGINT `//`), and the final
    * integer-division score — no float sums anywhere.
    */
  val q117 = Q(
    "q117_dsir_importance",
    s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |f AS (SELECT doc_id, (lang = 'en') AS is_target,
       |        unnest(list_concat(t, list_transform(range(1, len(t)),
       |          i -> t[i] || ' ' || t[i + 1]))) AS feat
       |      FROM tk),
       |bk AS (SELECT doc_id, is_target, ${hashSql("feat")} % 4096 AS bucket FROM f),
       |pd AS (SELECT doc_id, bucket, COUNT(*) AS cnt, MAX(is_target) AS is_target
       |       FROM bk GROUP BY 1, 2),
       |w AS (SELECT bucket,
       |        CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT)
       |          * 1000000 // CAST(SUM(cnt) AS BIGINT) AS w
       |      FROM pd GROUP BY 1)
       |SELECT pd.doc_id, CAST(SUM(pd.cnt) AS BIGINT) AS n_feats,
       |  CAST(SUM(pd.cnt * w.w) AS BIGINT) // CAST(SUM(pd.cnt) AS BIGINT) AS score
       |FROM pd JOIN w USING (bucket)
       |GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin) { (s, dir) =>
    Sampling.importanceScore(t(s, dir, "documents"), "doc_id", "text",
      isTarget = col("lang") === "en", buckets = 4096)
      .orderBy("doc_id")
  }

  /** Z-order layout key (q118): Morton interleave of quantized
    * (o_custkey, o_totalprice), 16 bits each — the multi-dimensional
    * clustering key for stats-pruned layouts. The oracle replays the
    * min/max quantization (IEEE double ops are exactly rounded in both
    * engines) and all 32 interleave terms bit-for-bit.
    */
  val q118 = Q(
    "q118_zorder_key", {
      val interleave = (0 until 16).flatMap(b => Seq(
        s"(((q1 >> $b) & 1) << ${2 * b})",
        s"(((q2 >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH s AS (SELECT MIN(o_custkey) mn1, MAX(o_custkey) mx1,
         |  MIN(o_totalprice) mn2, MAX(o_totalprice) mx2 FROM orders),
         |q AS (SELECT o_orderkey,
         |  CASE WHEN mx1 <= mn1 THEN 0 ELSE CAST(FLOOR(
         |    (CAST(o_custkey AS DOUBLE) - CAST(mn1 AS DOUBLE))
         |    / (CAST(mx1 AS DOUBLE) - CAST(mn1 AS DOUBLE)) * 65535.0) AS BIGINT) END AS q1,
         |  CASE WHEN mx2 <= mn2 THEN 0 ELSE CAST(FLOOR(
         |    (CAST(o_totalprice AS DOUBLE) - CAST(mn2 AS DOUBLE))
         |    / (CAST(mx2 AS DOUBLE) - CAST(mn2 AS DOUBLE)) * 65535.0) AS BIGINT) END AS q2
         |  FROM orders, s)
         |SELECT o_orderkey, $interleave AS zkey
         |FROM q ORDER BY o_orderkey""".stripMargin
    }) { (s, dir) =>
    Layout.withZorderKey(t(s, dir, "orders"), Seq("o_custkey", "o_totalprice"), bits = 16)
      .select(col("o_orderkey"), col("zkey"))
      .orderBy("o_orderkey")
  }

  /** Winnowing fingerprints (q120): 4-gram hashes, trailing-8 window
    * minima selection. The oracle replays gram construction, hashing, the
    * trailing window MIN, and the equality selection.
    */
  val q120 = Q(
    "q120_winnow_fingerprints",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
       |        array_to_string(t[i:i + 3], ' ') AS gram
       |      FROM tk, unnest(range(1, len(t) - 2)) AS u(i)),
       |h AS (SELECT doc_id, pos,
       |        ${hashSql("gram")} * 2147483648 + (2147483647 - pos) AS key
       |      FROM g),
       |m AS (SELECT doc_id,
       |        MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS winkey,
       |        COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS n_in_win
       |      FROM h)
       |SELECT DISTINCT doc_id,
       |  CAST(2147483647 - (winkey % 2147483648) AS INT) AS pos,
       |  winkey // 2147483648 AS fp
       |FROM m WHERE n_in_win = 8
       |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
    Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
      k = 4, w = 8)
      .orderBy("doc_id", "pos")
  }

  /** Snapshot diff (q121): old = docs with id%5!=0 (text uppercased where
    * id%7=0 to synthesize edits), new = docs with id%11!=0 — so all four
    * statuses occur. Both sides replay the same synthetic snapshots.
    */
  val q121 = Q(
    "q121_snapshot_diff",
    """WITH o AS (SELECT doc_id AS id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS old_md5
      |  FROM documents WHERE doc_id % 5 <> 0),
      |n AS (SELECT doc_id AS id, md5(text) AS new_md5
      |  FROM documents WHERE doc_id % 11 <> 0)
      |SELECT COALESCE(o.id, n.id) AS id,
      |  CASE WHEN o.old_md5 IS NULL THEN 'added'
      |       WHEN n.new_md5 IS NULL THEN 'removed'
      |       WHEN o.old_md5 = n.new_md5 THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON o.id = n.id
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val oldSnap = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0, upper(col("text")))
          .otherwise(col("text")))
    val newSnap = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
    Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .orderBy("id")
  }

  val q119 = Q("q119_tokenize_ja_heldout6", graft.ja.JaGolden.heldout6OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus6.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q122 = Q("q122_tokenize_ja_heldout7", graft.ja.JaGolden.heldout7OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus7.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q123 = Q("q123_tokenize_ja_heldout8", graft.ja.JaGolden.heldout8OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus8.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q124 = Q("q124_tokenize_ja_heldout9", graft.ja.JaGolden.heldout9OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus9.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** q125: the blocked fuzzy-match scale path (VERDICT r10 #6). q94 keeps
    * the exact bounded theta self-join as the semantics twin; this runs the
    * SAME record-linkage primitive behind prefix/suffix blocking equi-joins
    * over document heads — the shape that survives 100x (PLANS.md pin: no
    * BNLJ in the physical plan). The oracle mirrors the two blocking passes
    * as one OR-join (DuckDB efficiency is irrelevant; row sets identical).
    */
  val q125 = Q(
    "q125_fuzzy_match_blocked",
    """WITH heads AS (SELECT doc_id, substr(text, 1, 30) AS head FROM documents)
      |SELECT a.doc_id AS ka, b.doc_id AS kb,
      |  levenshtein(a.head, b.head) AS dist
      |FROM heads a JOIN heads b ON a.doc_id < b.doc_id
      | AND (substr(a.head, 1, 4) = substr(b.head, 1, 4)
      |   OR substr(a.head, length(a.head) - 3, 4) = substr(b.head, length(b.head) - 3, 4))
      |WHERE levenshtein(a.head, b.head) <= 6
      |ORDER BY ka, kb""".stripMargin) { (s, dir) =>
    val heads = t(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 30).as("head"))
    Dedup.fuzzyMatchBlocked(heads, "doc_id", "head", blockLen = 4, maxDist = 6)
      .orderBy("ka", "kb")
  }

  val q126 = Q("q126_tokenize_ja_heldout10", graft.ja.JaGolden.heldout10OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus10.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** BM25 retrieval (q127): the ranked-search stage over the whitespace
    * corpus, rational-idf mode so every double stays field arithmetic (no
    * libm ln in the comparison path — the no-libm rule). The
    * oracle replays tf, df, the N/avgdl stats, the exact operand
    * association of the per-term score, and the term-sorted left fold of
    * the per-document sum — any drift in tokenization, weighting order, or
    * the top-k tie-break fails the hash.
    */
  /** Shared BM25 CTE chain (q127/q130): rational-idf scores, term-sorted
    * per-doc fold, top-`topK` with ranks in CTE `lex`.
    */
  private def bm25Ctes(topK: Int): String = {
    val termList = Bm25Terms.map(t0 => s"'$t0'").mkString(", ")
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |lens AS (SELECT doc_id, len(t) AS dl FROM tk),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
       |m AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |f AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM m
       |      WHERE term IN ($termList) GROUP BY 1, 2),
       |dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dft FROM f GROUP BY 1),
       |sc AS (SELECT doc_id, term,
       |         ((CAST(n_docs AS DOUBLE) - dft + 0.5) / (dft + 0.5))
       |           * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0} / (CAST(tf AS DOUBLE)
       |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))) AS s
       |       FROM f JOIN dfr USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
       |d AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
       |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY term)),
       |          (a, x) -> a + x) AS score
       |      FROM sc GROUP BY doc_id),
       |top AS (SELECT * FROM d ORDER BY score DESC, doc_id LIMIT $topK),
       |lex AS (SELECT doc_id, n_terms, score,
       |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rn
       |  FROM top)""".stripMargin
  }

  val q127 = Q(
    "q127_bm25_topk",
    s"""WITH ${bm25Ctes(25)}
       |SELECT doc_id, n_terms, score, rn FROM lex ORDER BY rn""".stripMargin
    ) { (s, dir) =>
    Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, k1 = Bm25K1, b = Bm25B, topK = 25, logIdf = false)
      .orderBy("rn")
  }

  /** Hybrid retrieval (q130): BM25 candidates (shared q127 CTEs) re-ranked
    * by cosine to a query vector, fused by reciprocal ranks —
    * 1/(60+lex_rn)+1/(60+vec_rn). Rank fusion keeps the fused score a
    * two-term sum over small integers: exactly replayable (a score-blend
    * hybrid would inherit both engines' score-scale drift). The oracle's
    * 1.0 literal must be CAST AS DOUBLE — DuckDB's bare 1.0 is DECIMAL and
    * decimal division would diverge from Spark's double bits.
    */
  val q130 = Q(
    "q130_hybrid_search",
    s"""WITH ${bm25Ctes(25)},
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $HybridQVec),
       |cand AS (SELECT lex.doc_id, lex.rn AS lex_rn,
       |    ${cosSql("e.embedding", "qv.qe")} AS cos
       |  FROM lex JOIN embeddings e ON e.vec_id = lex.doc_id CROSS JOIN qv),
       |rv AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT)
       |    AS vec_rn FROM cand),
       |fused AS (SELECT doc_id, lex_rn, vec_rn, cos,
       |    CAST(1 AS DOUBLE) / (60 + lex_rn) + CAST(1 AS DOUBLE) / (60 + vec_rn)
       |      AS rrf FROM rv)
       |SELECT doc_id, lex_rn, vec_rn, cos, rrf, rn FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rn
       |  FROM fused)
       |WHERE rn <= 10 ORDER BY rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Retrieval.hybridRrf(t(s, dir, "documents"), t(s, dir, "embeddings"),
      "doc_id", "text", Bm25Terms, queryVecId = HybridQVec,
      kLex = 25, kFinal = 10, rrfK = 60)
      .orderBy("rn")
  }

  /** SemDeDup (q128): the q54 IVF fit replay (identical CTE text — same
    * sample, nlist=4, 2 Lloyd iterations, ordered folds) supplies the
    * clusters, then the oracle mirrors the within-cluster smaller-id
    * near-duplicate rule at the q37 threshold (0.4 — this corpus's
    * near-dup band; production semantic dedup runs 0.95+, the knob is the
    * operator's parameter).
    */
  val q128 = Q(
    "q128_semantic_dedup",
    s"""WITH s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id % 7 = 0
       |           ORDER BY vec_id LIMIT 65536),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |       FROM (SELECT vec_id, v FROM s ORDER BY vec_id LIMIT 4)),
       |${ivfIterSql("c0", 1)},
       |${ivfIterSql("c1", 2)},
       |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |         FROM embeddings),
       |asg AS (SELECT vec_id, v, cid FROM (
       |         SELECT corp.vec_id, corp.v, c2.cid,
       |           ROW_NUMBER() OVER (PARTITION BY corp.vec_id
       |             ORDER BY ${cosSql("corp.v", "c2.c")} DESC NULLS LAST, c2.cid) rn
       |         FROM corp CROSS JOIN c2) WHERE rn = 1),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |      FROM asg a JOIN asg b
       |        ON a.cid = b.cid AND a.vec_id < b.vec_id
       |      WHERE ${cosSql("a.v", "b.v")} >= 0.4),
       |d AS (SELECT id_b AS vec_id, MIN(id_a) AS dup_of FROM p GROUP BY 1)
       |SELECT asg.vec_id, asg.cid, d.dup_of, d.dup_of IS NULL AS keep
       |FROM asg LEFT JOIN d USING (vec_id) ORDER BY asg.vec_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    val m = IvfIndex.fit(emb.where(col("vec_id") % 7 === 0), nlist = 4, iters = 2)
    Dedup.semanticDedup(emb, m, threshold = 0.4).orderBy("vec_id")
  }

  /** Histogram quantiles (q129): the order-independent quantile summary —
    * bucket counts are commutative, so the one-pass result is
    * bit-reproducible across partitionings and engines (GK/t-digest state
    * is arrival-order-dependent and could never sit in this gate). The
    * oracle replays min/max/count, the bucket formula (same operand
    * association, LEAST clamp, degenerate-range guard), the cumulative
    * window, and the first-bucket-≥⌈q·n⌉ probe.
    */
  val q129 = Q(
    "q129_histogram_quantiles", {
      val qList = HistQs.mkString(", ")
      s"""WITH r AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
         |           WHERE l_extendedprice IS NOT NULL),
         |stats AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
         |                 CAST(COUNT(*) AS BIGINT) AS n FROM r),
         |hist AS (SELECT CASE WHEN hi = lo THEN 0
         |    ELSE LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / $HistB)) AS INT),
         |               ${HistB - 1}) END AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS cnt, MAX(lo) AS lo, MAX(hi) AS hi,
         |    MAX(n) AS n
         |  FROM r CROSS JOIN stats GROUP BY 1),
         |cum AS (SELECT *, CAST(SUM(cnt) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist),
         |qs AS (SELECT CAST(unnest([$qList]) AS DOUBLE) AS q),
         |hit AS (SELECT q, MIN(bucket) AS bucket FROM cum JOIN qs
         |    ON cum >= CAST(CEIL(q * n) AS BIGINT) GROUP BY q)
         |SELECT q, bucket, lo + bucket * ((hi - lo) / $HistB) AS lo_edge,
         |  CASE WHEN bucket = ${HistB - 1} THEN hi
         |       ELSE lo + (bucket + 1) * ((hi - lo) / $HistB) END AS hi_edge,
         |  cum, n
         |FROM hit JOIN cum USING (bucket) ORDER BY q""".stripMargin
    }) { (s, dir) =>
    graft.operators.HistogramQuantiles
      .quantiles(t(s, dir, "lineitem"), "l_extendedprice", HistB, HistQs)
      .orderBy("q")
  }

  /** Integer PageRank (q131): graph authority over the symmetrized
    * customer↔supplier purchase graph (node id = key·2 / key·2+1 keeps the
    * two key spaces disjoint). Scaled-integer arithmetic is what admits
    * the exact-hash gate at all — double PageRank sums contributions in
    * shuffle arrival order and its low bits are not replayable. The
    * oracle unrolls the three iterations as CTEs (recursive CTEs forbid
    * aggregation in the recursive term on both engines); every operand is
    * BIGINT, both engines floor-divide positives identically (Spark `div`
    * truncates toward zero, DuckDB `//` floors — equal on the all-positive
    * rank mass), and DuckDB's HUGEINT SUM is cast back to BIGINT.
    */
  val q131 = Q(
    "q131_pagerank_hosts", {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (SELECT n.node,
           |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(r.pr // d.outdeg) AS s
           |    FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON d.src = e.src
           |    GROUP BY 1) c ON n.node = c.node)""".stripMargin
      s"""WITH eraw AS (SELECT DISTINCT o.o_custkey * 2 AS cu,
         |    l.l_suppkey * 2 + 1 AS su
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS (SELECT cu AS src, su AS dst FROM eraw
         |      UNION ALL SELECT su AS src, cu AS dst FROM eraw),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")}
         |SELECT node, pr, rn FROM (
         |  SELECT node, pr,
         |    CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INT) AS rn
         |  FROM r3)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin
    }) { (s, dir) =>
    // ed re-rooted before the symmetrizing union (r21): both union sides
    // reference it, so the un-checkpointed tree ran the orders⋈lineitem
    // distinct twice inside pageRankInt's edge materialization job.
    val ed = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cu"),
        (col("l_suppkey") * 2 + 1).as("su"))
      .distinct()
      .localCheckpoint()
    val edges = ed.select(col("cu").as("src"), col("su").as("dst"))
      .union(ed.select(col("su").as("src"), col("cu").as("dst")))
    Graph.pageRankInt(edges, iters = 3, topK = 20).orderBy("rn")
  }

  /** k-anonymity release audit (q132): the quasi-identifier gate that runs
    * after PII redaction (q58 scrubs direct identifiers; combinations of
    * harmless columns still re-identify). Quasi tuple = (nation, segment,
    * $1000 balance bucket); k = 5. One hash-keyed shuffle — the class
    * size is an unordered window count (no sort, no single reducer).
    * FLOOR(double) is LONG in Spark and DOUBLE in DuckDB — the oracle
    * CASTs to BIGINT; the division itself is the same IEEE double op on
    * both engines.
    */
  val q132 = Q(
    "q132_k_anonymity",
    """WITH g AS (SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket FROM customer),
      |w AS (SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
      |    bal_bucket) AS qi_n FROM g)
      |SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(CASE WHEN qi_n < 5 THEN 1 END) AS BIGINT) AS n_suppressed,
      |  CAST(MIN(qi_n) AS BIGINT) AS min_class
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).as("bal_bucket"))
    Privacy.kAnonymityReport(g,
        quasi = Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5,
        groupCols = Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        col("n_rows"), col("n_suppressed"), col("min_class"))
      .orderBy("nation", "segment")
  }

  /** Robust MAD outlier audit (q133): median + MAD instead of mean +
    * stddev (50% breakdown vs 0% — a contaminated tail cannot drag the
    * gate), both as exact LOWER MEDIANS over integer dollars via
    * value-keyed counts + a cumulative window over DISTINCT values only
    * (domain-bounded — the corpus never enters a window). Integer
    * selection is engine-exact where interpolated percentiles are not.
    * Global med/mad broadcast into a per-row flag; |v−med| > 5·mad.
    */
  val q133 = Q(
    "q133_mad_outliers",
    """WITH r AS (SELECT o_orderpriority AS grp,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) AS v FROM orders),
      |cnts AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnts),
      |cum AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM cnts),
      |med AS (SELECT MIN(v) AS med FROM cum CROSS JOIN tot
      |        WHERE c >= (n + 1) // 2),
      |dev AS (SELECT ABS(v - med) AS d, CAST(SUM(cnt) AS BIGINT) AS cnt
      |        FROM cnts CROSS JOIN med GROUP BY 1),
      |cum2 AS (SELECT d, CAST(SUM(cnt) OVER (ORDER BY d
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM dev),
      |mad AS (SELECT MIN(d) AS mad FROM cum2 CROSS JOIN tot
      |        WHERE c >= (n + 1) // 2)
      |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(CASE WHEN ABS(v - med) > 5 * mad THEN 1 END) AS BIGINT)
      |    AS n_outliers,
      |  MAX(med) AS med, MAX(mad) AS mad
      |FROM r CROSS JOIN med CROSS JOIN mad
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val r = t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
      floor(col("o_totalprice")).as("v"))
    Robust.madOutlierReport(r, "v", mult = 5, groupCols = Seq("grp"))
      .orderBy("grp")
  }

  /** l-diversity audit (q134): k-anonymity's companion gate — a class can
    * be large yet homogeneous in the sensitive attribute, and
    * re-identification then reveals the value anyway. Quasi = (nation,
    * $1000 balance bucket), sensitive = market segment, l = 3. One
    * (quasi, sensitive)-keyed hash aggregate, then two shrinking
    * re-aggregations — no window, no join.
    */
  val q134 = Q(
    "q134_l_diversity",
    """WITH g AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket FROM customer),
      |cls AS (SELECT c_nationkey, bal_bucket,
      |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS diversity,
      |    CAST(COUNT(*) AS BIGINT) AS class_n
      |  FROM g GROUP BY 1, 2)
      |SELECT c_nationkey AS nation,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(COUNT(CASE WHEN diversity < 3 THEN 1 END) AS BIGINT) AS n_weak,
      |  CAST(MIN(diversity) AS BIGINT) AS min_diversity,
      |  CAST(SUM(class_n) AS BIGINT) AS n_rows
      |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val g = t(s, dir, "customer").select(
      col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).as("bal_bucket"))
    Privacy.lDiversityReport(g,
        quasi = Seq("c_nationkey", "bal_bucket"), sensitiveCol = "c_mktsegment",
        l = 3, groupCols = Seq("c_nationkey"))
      .select(col("c_nationkey").as("nation"), col("n_classes"),
        col("n_weak"), col("min_diversity"), col("n_rows"))
      .orderBy("nation")
  }

  /** t-closeness audit (q142): the third rung of the release-audit ladder
    * (k-anonymity q132 → l-diversity q134 → distributional leakage). For
    * the categorical sensitive attribute the paper's EMD reduces to the
    * variational distance, and the whole report stays BIGINT-exact as the
    * rational pair (dist_num, dist_den) with a cross-multiplied breach
    * test — see Privacy.tClosenessReport. Same quasi/sensitive split as
    * q134 so the three audits compose on one release candidate.
    */
  val q142 = Q(
    "q142_t_closeness",
    """WITH g AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket FROM customer),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
      |gl AS (SELECT c_mktsegment AS s, CAST(COUNT(*) AS BIGINT) AS gs FROM g GROUP BY 1),
      |cls AS (SELECT c_nationkey, bal_bucket, CAST(COUNT(*) AS BIGINT) AS class_n
      |        FROM g GROUP BY 1, 2),
      |cell AS (SELECT c_nationkey, bal_bucket, c_mktsegment AS s,
      |        CAST(COUNT(*) AS BIGINT) AS cs FROM g GROUP BY 1, 2, 3),
      |terms AS (SELECT cls.c_nationkey, cls.bal_bucket, cls.class_n, tot.n,
      |    abs(gl.gs * cls.class_n - COALESCE(cell.cs, 0) * tot.n) AS term
      |  FROM cls CROSS JOIN gl
      |  LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
      |    AND cell.bal_bucket = cls.bal_bucket AND cell.s = gl.s
      |  CROSS JOIN tot)
      |SELECT c_nationkey AS nation, bal_bucket, class_n,
      |  CAST(SUM(term) AS BIGINT) AS dist_num,
      |  CAST(2 * MAX(n) * MAX(class_n) AS BIGINT) AS dist_den,
      |  (5 * SUM(term) > 1 * (2 * MAX(n) * MAX(class_n))) AS breach
      |FROM terms GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = t(s, dir, "customer").select(
      col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).as("bal_bucket"))
    Privacy.tClosenessReport(g,
        quasi = Seq("c_nationkey", "bal_bucket"), sensitiveCol = "c_mktsegment",
        tNum = 1L, tDen = 5L)
      .select(col("c_nationkey").as("nation"), col("bal_bucket"),
        col("class_n"), col("dist_num"), col("dist_den"), col("breach"))
      .orderBy("nation", "bal_bucket")
  }

  /** Integer HITS (q144): hub/authority scoring over the DIRECTED
    * customer→supplier purchase graph (q131's graph without the
    * symmetrization — HITS needs the direction). Max-normalization stands
    * in for the paper's L2 norm so every number stays in the exact gate;
    * two iterations, each replayed by the oracle as (authority sum →
    * scalar-subquery max → floor-div) then the same for hubs. Pure hubs
    * (customers) rank with auth 0 behind every supplier.
    */
  val q144 = Q(
    "q144_hits_hubs_authorities", {
      def iterCtes(prevH: String, i: Int): String =
        s"""ar$i AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS s
           |  FROM e JOIN $prevH h ON e.src = h.node GROUP BY 1),
           |a$i AS (SELECT node,
           |  CAST(s * 1000000 // (SELECT MAX(s) FROM ar$i) AS BIGINT) AS a
           |  FROM ar$i),
           |hr$i AS (SELECT e.src AS node, CAST(SUM(a$i.a) AS BIGINT) AS s
           |  FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1),
           |h$i AS (SELECT node,
           |  CAST(s * 1000000 // (SELECT MAX(s) FROM hr$i) AS BIGINT) AS h
           |  FROM hr$i)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT o.o_custkey * 2 AS src,
         |    l.l_suppkey * 2 + 1 AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
         |${iterCtes("h0", 1)},
         |${iterCtes("h1", 2)}
         |SELECT node, auth, hub, rn FROM (
         |  SELECT n.node, COALESCE(a2.a, 0) AS auth, COALESCE(h2.h, 0) AS hub,
         |    CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(a2.a, 0) DESC, n.node)
         |      AS INT) AS rn
         |  FROM n LEFT JOIN a2 ON n.node = a2.node
         |         LEFT JOIN h2 ON n.node = h2.node)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin
    }) { (s, dir) =>
    val edges = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    Graph.hitsInt(edges, iters = 2, topK = 20).orderBy("rn")
  }

  /** Deterministic label propagation (q147): synchronous LPA with the
    * total (count desc, label asc) tie-break over the symmetrized
    * customer–supplier graph (q131's edges — LPA wants the undirected
    * neighborhood). Three hops, each replayed by the oracle as
    * count → windowed pick → coalesce; output is community sizes.
    */
  val q147 = Q(
    "q147_label_propagation", {
      def iterCte(prev: String, i: Int): String =
        s"""c$i AS (SELECT e.dst AS node, l.lab, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM e JOIN $prev l ON e.src = l.node GROUP BY 1, 2),
           |p$i AS (SELECT node, lab AS new_lab FROM (
           |    SELECT node, lab, ROW_NUMBER() OVER (PARTITION BY node
           |      ORDER BY c DESC, lab) AS rn FROM c$i) WHERE rn = 1),
           |l$i AS (SELECT prev.node, COALESCE(p$i.new_lab, prev.lab) AS lab
           |  FROM $prev prev LEFT JOIN p$i ON prev.node = p$i.node)""".stripMargin
      s"""WITH eraw AS (SELECT DISTINCT o.o_custkey * 2 AS cu,
         |    l.l_suppkey * 2 + 1 AS su
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  WHERE l.l_quantity > 48),
         |e AS (SELECT cu AS src, su AS dst FROM eraw
         |      UNION ALL SELECT su AS src, cu AS dst FROM eraw),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |l0 AS (SELECT node, node AS lab FROM n),
         |${iterCte("l0", 1)},
         |${iterCte("l1", 2)},
         |${iterCte("l2", 3)}
         |SELECT lab, size, rn FROM (
         |  SELECT lab, size, CAST(ROW_NUMBER() OVER (ORDER BY size DESC, lab)
         |    AS INT) AS rn
         |  FROM (SELECT lab, CAST(COUNT(*) AS BIGINT) AS size FROM l3 GROUP BY 1))
         |WHERE rn <= 20 ORDER BY rn""".stripMargin
    }) { (s, dir) =>
    // ed re-rooted before the symmetrizing union — the q131 rationale
    val ed = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"))
      .where(col("l_quantity") > 48)
      .select((col("o_custkey") * 2).as("cu"),
        (col("l_suppkey") * 2 + 1).as("su"))
      .distinct()
      .localCheckpoint()
    val edges = ed.select(col("cu").as("src"), col("su").as("dst"))
      .union(ed.select(col("su").as("src"), col("cu").as("dst")))
    Graph.labelPropagation(edges, iters = 3, topK = 20).orderBy("rn")
  }

  /** Temperature-scaled source mix (q151): α = 1/2 sampling quotas
    * (mT5 rule) with an exact integer square root — float sqrt near a
    * perfect square could flip a quota between engines, so both sides
    * apply the same two-sided floor correction. Per-source pick by the
    * deterministic hash order.
    */
  val q151 = Q(
    "q151_temperature_mix",
    s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source
       |  FROM documents GROUP BY 1),
       |i0 AS (SELECT source, n_source,
       |    CAST(FLOOR(SQRT(CAST(n_source AS DOUBLE))) AS BIGINT) AS f FROM c),
       |i1 AS (SELECT source, n_source,
       |    CASE WHEN (f+1)*(f+1) <= n_source THEN f+1 ELSE f END AS u FROM i0),
       |isq AS (SELECT source, n_source,
       |    CASE WHEN u*u > n_source THEN u-1 ELSE u END AS isq FROM i1),
       |q AS (SELECT source, n_source, isq,
       |    CAST((100 * isq) // (SELECT SUM(isq) FROM isq) AS BIGINT) AS quota FROM isq),
       |r AS (SELECT d.doc_id, d.source, q.n_source, q.isq, q.quota,
       |    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY
       |      ${hashSql("CAST(d.doc_id AS VARCHAR) || ':temp'")}, d.doc_id)
       |      AS sample_rank
       |  FROM documents d JOIN q ON d.source = q.source)
       |SELECT doc_id, source, n_source, isq, quota,
       |  CAST(sample_rank AS INT) AS sample_rank
       |FROM r WHERE sample_rank <= quota ORDER BY source, sample_rank""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.temperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", k = 100)
      .select(col("doc_id"), col("source"), col("n_source"), col("isq"),
        col("quota"), col("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** Per-source quality cap (q150): keep the 10 highest-distinct-token
    * documents per source — the per-host domination guard (C4/Gopher cap
    * rule) ranked by an integer key so the cut is engine-exact.
    */
  val q150 = Q(
    "q150_cap_per_source",
    """WITH sc AS (SELECT doc_id, source,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq
      |  FROM documents)
      |SELECT doc_id, source, n_uniq, cap_rank FROM (
      |  SELECT doc_id, source, n_uniq,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_uniq DESC, doc_id) AS INT) AS cap_rank
      |  FROM sc)
      |WHERE cap_rank <= 10 ORDER BY source, cap_rank""".stripMargin) { (s, dir) =>
    val sc = t(s, dir, "documents").select(col("doc_id"), col("source"),
      element_at(graft.functions.token_profile(col("text"), Seq.empty), 1 + 1)
        .cast("int").as("n_uniq"))
    TextAnalysis.capPerGroup(sc, "source", "n_uniq", "doc_id", k = 10)
      .orderBy("source", "cap_rank")
  }

  /** Batch sessionization (q149): idle-gap session assignment per user
    * (30-minute rule) with per-session rollups — the labeling complement
    * to the streaming session window (q104 aggregates, this labels).
    * Lag + running-sum over one keyed sort; epoch-µs exact.
    */
  val q149 = Q(
    "q149_sessionize",
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |b AS (SELECT user_id, event_id, us,
      |    CASE WHEN LAG(us) OVER w IS NULL
      |           OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM b)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MIN(us) AS BIGINT) AS start_us, CAST(MAX(us) AS BIGINT) AS end_us,
      |  CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    graft.operators.Temporal.sessionize(t(s, dir, "events"),
        "user_id", "ts", "event_id", gapUs = 1800000000L)
      .orderBy("user_id", "session_seq")
  }

  /** Recency-decayed engagement score (q148): power-of-two half-life
    * weighting per user over the events table — exp-decay's exact
    * integer stand-in (score = Σ 10⁶ >> age_in_half_lives, anchor
    * 2024-02-01T00:00:00Z, half-life 7 days). One projection + one keyed
    * aggregate; the oracle replays the epoch math and the shift.
    */
  val q148 = Q(
    "q148_recency_score",
    """WITH ev AS (SELECT user_id,
      |    GREATEST(CAST(0 AS BIGINT),
      |      (1706745600000000 - epoch_us(ts)) // 86400000000) AS age_days
      |  FROM events),
      |c AS (SELECT user_id, age_days,
      |    (CAST(1000000 AS BIGINT) >> CAST(LEAST(age_days // 7, 62) AS INT))
      |      AS contrib FROM ev)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(contrib) AS BIGINT) AS score,
      |  CAST(MIN(age_days) AS BIGINT) AS freshest_days
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Temporal.recencyScore(t(s, dir, "events"),
        "user_id", "ts", anchorUs = 1706745600000000L, halfLifeDays = 7)
      .orderBy("user_id")
  }

  /** OOV-bigram LM gate (q145): the integerized KenLM-perplexity filter —
    * score every document by how many of its word transitions never occur
    * in a reference slice (doc_id % 7 = 0 stands in for the "clean"
    * corpus). Counts replace log-space perplexity so the gate is
    * oracle-exact; the DuckDB replay builds bigrams with a zipped
    * unnest + generate_subscripts self-join where Spark uses a per-row
    * codegen zip_with.
    */
  val q145 = Q(
    "q145_oov_bigram_gate",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |        generate_subscripts(string_split(text, ' '), 1) AS pos
      |      FROM documents),
      |bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
      |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |ref AS (SELECT DISTINCT bg FROM bg WHERE doc_id % 7 = 0),
      |sc AS (SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
      |         CAST(COUNT(CASE WHEN ref.bg IS NULL THEN 1 END) AS BIGINT) AS n_oov
      |       FROM bg LEFT JOIN ref ON bg.bg = ref.bg GROUP BY 1)
      |SELECT d.doc_id, COALESCE(sc.n_bg, 0) AS n_bg,
      |  COALESCE(sc.n_oov, 0) AS n_oov,
      |  COALESCE(sc.n_oov, 0) * 1000 <= 10 * COALESCE(sc.n_bg, 0) AS keep
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    TextAnalysis.oovBigramGate(docs,
        docs.where(col("doc_id") % 7 === 0), "doc_id", "text",
        maxOovPermille = 10L)
      .orderBy("doc_id")
  }

  /** Weighted deterministic sample (q146): integerized Efraimidis–Spirakis
    * A-ES over the documents table with token count as the weight — the
    * "prefer long documents, but reproducibly" sampling step of a
    * curation mix. priority = hash(id:salt) div weight, k smallest win;
    * the oracle replays the polynomial hash with list_reduce and the same
    * floor division.
    */
  val q146 = Q(
    "q146_weighted_sample",
    s"""WITH w AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
       |p AS (SELECT doc_id, source, w,
       |    ${hashSql("CAST(doc_id AS VARCHAR) || ':wsample'")} // w AS priority
       |  FROM w WHERE w > 0)
       |SELECT doc_id, source, w, priority, sample_rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS INT)
       |    AS sample_rank FROM p)
       |WHERE sample_rank <= 50 ORDER BY sample_rank""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("w"))
    Sampling.weightedSample(docs, "doc_id", "w", k = 50).orderBy("sample_rank")
  }

  /** PRF expanded retrieval (q135): one round of pseudo-relevance feedback
    * (RM3 family) — BM25 seed pass, top-weight expansion terms mined from
    * the feedback docs (len ≥ 4, seed excluded, (w desc, term) tie-break),
    * re-retrieval over seed ∪ expansion. Unweighted expansion keeps every
    * number in the exact gate (classic RM3's interpolated weights would
    * reintroduce float drift). The oracle replays BOTH scoring chains —
    * the second one joins a term CTE instead of a literal list.
    */
  val q135 = Q(
    "q135_bm25_prf", {
      val lits = Bm25Terms.map(t0 => s"'$t0'").mkString(", ")
      def chain(sfx: String, topK: Int): String =
        s"""dfr$sfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dft
           |  FROM f$sfx GROUP BY 1),
           |sc$sfx AS (SELECT doc_id, term,
           |    ((CAST(n_docs AS DOUBLE) - dft + 0.5) / (dft + 0.5))
           |      * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0} / (CAST(tf AS DOUBLE)
           |         + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))) AS s
           |  FROM f$sfx JOIN dfr$sfx USING (term) JOIN lens USING (doc_id)
           |  CROSS JOIN stats),
           |d$sfx AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(s ORDER BY term)),
           |      (a, x) -> a + x) AS score
           |  FROM sc$sfx GROUP BY doc_id),
           |top$sfx AS (SELECT * FROM d$sfx ORDER BY score DESC, doc_id LIMIT $topK),
           |lex$sfx AS (SELECT doc_id, n_terms, score,
           |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rn
           |  FROM top$sfx)""".stripMargin
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |lens AS (SELECT doc_id, len(t) AS dl FROM tk),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
         |m AS (SELECT doc_id, unnest(t) AS term FROM tk),
         |f1 AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM m
         |       WHERE term IN ($lits) GROUP BY 1, 2),
         |${chain("1", 10)},
         |exp AS (SELECT term FROM (
         |    SELECT m.term AS term, CAST(COUNT(*) AS BIGINT) AS w
         |    FROM m JOIN top1 USING (doc_id)
         |    WHERE length(m.term) >= 4 AND m.term NOT IN ($lits)
         |    GROUP BY 1) ORDER BY w DESC, term LIMIT 3),
         |allt AS (SELECT term FROM exp
         |         UNION SELECT term FROM (SELECT unnest([$lits]) AS term)),
         |f2 AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM m
         |       JOIN allt USING (term) GROUP BY 1, 2),
         |${chain("2", 15)}
         |SELECT doc_id, n_terms, score, rn FROM lex2 ORDER BY rn""".stripMargin
    }) { (s, dir) =>
    Retrieval.bm25Prf(t(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, kFb = 10, mExp = 3, minLen = 4, topK = 15,
      k1 = Bm25K1, b = Bm25B)
      .orderBy("rn")
  }

  /** Quantile-bin stratification (q136): per-row quartile assignment from
    * the q129 histogram sketch (byte-identical bucket math), then exact
    * decimal revenue per stratum — the balanced-sampling / curriculum
    * split step. The assignment is a per-row projection against two
    * broadcast one-row frames (stats + the ≤|qs| threshold array); the
    * corpus never joins or shuffles before the final rollup.
    */
  val q136 = Q(
    "q136_quantile_bins", {
      s"""WITH r AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
         |    l_extendedprice AS p FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |stats AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
         |                 CAST(COUNT(*) AS BIGINT) AS n FROM r),
         |hist AS (SELECT CASE WHEN hi = lo THEN 0
         |    ELSE LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / $HistB)) AS INT),
         |               ${HistB - 1}) END AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS cnt, MAX(n) AS n
         |  FROM r CROSS JOIN stats GROUP BY 1),
         |cum AS (SELECT *, CAST(SUM(cnt) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist),
         |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS q),
         |hit AS (SELECT q, MIN(bucket) AS bucket FROM cum JOIN qs
         |    ON cum >= CAST(CEIL(q * n) AS BIGINT) GROUP BY q),
         |tb AS (SELECT list(bucket) AS tb FROM hit),
         |binned AS (SELECT
         |    CAST(len(list_filter(tb, t -> t < CASE WHEN hi = lo THEN 0
         |      ELSE LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / $HistB)) AS INT),
         |                 ${HistB - 1}) END)) AS INT) AS qbin, p
         |  FROM r CROSS JOIN stats CROSS JOIN tb)
         |SELECT qbin, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  SUM(CAST(p AS DECIMAL(9,2))) AS revenue
         |FROM binned GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, dir) =>
    graft.operators.HistogramQuantiles
      .quantileBin(t(s, dir, "lineitem"), "l_extendedprice", HistB,
        Seq(0.25, 0.5, 0.75))
      .groupBy(col("qbin"))
      .agg(count(lit(1)).as("n_rows"),
        sum(Tables.dec(col("l_extendedprice"))).as("revenue"))
      .orderBy("qbin")
  }

  /** Retrieval evaluation (q137): P@k / R@k / MRR@k of the q127 BM25
    * ranking against a deterministic pseudo-label (documents containing
    * the token 'join' are relevant) at cutoffs 5/10/25. P/R/MRR are
    * single integer divisions — exactly replayable where nDCG's log2
    * discount would put libm bits in the compare path (q42 rule). Every
    * join is over the ≤ topK candidate rows; labels reduce to one
    * broadcast total.
    */
  val q137 = Q(
    "q137_retrieval_eval",
    s"""WITH ${bm25Ctes(25)},
       |lab AS (SELECT doc_id,
       |    list_contains(string_split(text, ' '), 'join') AS rel
       |  FROM documents),
       |tot AS (SELECT CAST(COUNT(CASE WHEN rel THEN 1 END) AS BIGINT)
       |    AS total_rel FROM lab),
       |jn AS (SELECT lex.rn, COALESCE(lab.rel, FALSE) AS rel
       |  FROM lex LEFT JOIN lab USING (doc_id)),
       |ks AS (SELECT CAST(unnest([5, 10, 25]) AS INT) AS k),
       |per AS (SELECT k,
       |    CAST(COUNT(CASE WHEN rel THEN 1 END) AS BIGINT) AS n_rel,
       |    MIN(CASE WHEN rel THEN rn END) AS first_rel_rn
       |  FROM jn JOIN ks ON jn.rn <= ks.k GROUP BY k)
       |SELECT k, n_rel, total_rel,
       |  CAST(n_rel AS DOUBLE) / k AS precision,
       |  CASE WHEN total_rel = 0 THEN 0.0
       |       ELSE CAST(n_rel AS DOUBLE) / total_rel END AS recall,
       |  CASE WHEN first_rel_rn IS NULL THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(1 AS DOUBLE) / first_rel_rn END AS mrr
       |FROM per CROSS JOIN tot ORDER BY k""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val ranked = Retrieval.bm25TopK(docs, "doc_id", "text",
      Bm25Terms, k1 = Bm25K1, b = Bm25B, topK = 25, logIdf = false)
    val labels = docs.select(col("doc_id"),
      array_contains(split(col("text"), " "), "join").as("rel"))
    Retrieval.evalRanking(ranked, labels, Seq(5, 10, 25)).orderBy("k")
  }

  /** Personalized PageRank (q138): the q131 recurrence with teleport mass
    * restricted to a seed set (customers of nation 1) — proximity-to-
    * trusted-seeds, the whitelist-expansion curation primitive. Same
    * integer exactness; the only new oracle element is the seed CTE
    * carried through each unrolled iteration's base term.
    */
  val q138 = Q(
    "q138_personalized_pagerank", {
      def iterCte(prev: String, cur: String): String =
        s"""$cur AS (SELECT nn.node,
           |    CAST((CASE WHEN nn.is_seed THEN 150000 ELSE 0 END)
           |      + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
           |  FROM nn LEFT JOIN (
           |    SELECT e.dst AS node, SUM(r.pr // d.outdeg) AS s
           |    FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON d.src = e.src
           |    GROUP BY 1) c ON nn.node = c.node)""".stripMargin
      s"""WITH eraw AS (SELECT DISTINCT o.o_custkey * 2 AS cu,
         |    l.l_suppkey * 2 + 1 AS su
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS (SELECT cu AS src, su AS dst FROM eraw
         |      UNION ALL SELECT su AS src, cu AS dst FROM eraw),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |sd AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
         |       WHERE c_nationkey = 1),
         |nn AS (SELECT n.node, (sd.node IS NOT NULL) AS is_seed
         |       FROM n LEFT JOIN sd ON n.node = sd.node),
         |r0 AS (SELECT node, CASE WHEN is_seed THEN CAST(1000000 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS pr FROM nn),
         |${iterCte("r0", "r1")},
         |${iterCte("r1", "r2")},
         |${iterCte("r2", "r3")}
         |SELECT node, pr, is_seed, rn FROM (
         |  SELECT r3.node, r3.pr, nn.is_seed,
         |    CAST(ROW_NUMBER() OVER (ORDER BY r3.pr DESC, r3.node) AS INT) AS rn
         |  FROM r3 JOIN nn ON r3.node = nn.node WHERE r3.pr > 0)
         |WHERE rn <= 20 ORDER BY rn""".stripMargin
    }) { (s, dir) =>
    // ed re-rooted before the symmetrizing union — the q131 rationale
    val ed = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("cu"),
        (col("l_suppkey") * 2 + 1).as("su"))
      .distinct()
      .localCheckpoint()
    val edges = ed.select(col("cu").as("src"), col("su").as("dst"))
      .union(ed.select(col("su").as("src"), col("cu").as("dst")))
    val seeds = t(s, dir, "customer").where(col("c_nationkey") === 1)
      .select((col("c_custkey") * 2).as("node"))
    Graph.personalizedPageRankInt(edges, seeds, iters = 3, topK = 20)
      .orderBy("rn")
  }

  /** MMR diversification re-rank (q141): greedy λ·rel − (1−λ)·maxsim over
    * the q127 BM25 top-20, with BIGINT-exact arithmetic throughout —
    * relevance is the reversed lexical rank × relUnit, similarity the raw
    * int8-code dot product (q75 quantization), λ = 6/10 as an integer
    * pair. The oracle replays the greedy selection as a recursive CTE
    * carrying the selected-id list in a single state row; relUnit = 2000
    * sits where diversity genuinely reorders this corpus (lex rank 9
    * jumps to pick 2) instead of degenerating to the relevance order.
    */
  val q141 = Q(
    "q141_mmr_diversify", {
      val (kLex, kSel, lamNum, lamDen, relUnit) = (20, 8, 6L, 10L, 2000L)
      s"""WITH RECURSIVE ${bm25Ctes(kLex)},
         |cq AS (SELECT l.doc_id, l.rn AS lex_rn,
         |    CAST(($kLex + 1 - l.rn) AS BIGINT) * $relUnit AS rel,
         |    CASE WHEN list_max(list_transform(e.embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
         |      THEN list_transform(range(1, 65), k -> CAST(0 AS BIGINT))
         |      ELSE list_transform(range(1, 65),
         |        k -> CAST(floor(CAST(e.embedding[k] AS DOUBLE)
         |          / (list_max(list_transform(e.embedding, x -> abs(CAST(x AS DOUBLE)))) / 127)
         |          + 0.5) AS BIGINT)) END AS codes
         |  FROM lex l JOIN embeddings e ON e.vec_id = l.doc_id),
         |prs AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, 65), k -> a.codes[k] * b.codes[k])),
         |      (acc, x) -> acc + x) AS sim
         |  FROM cq a JOIN cq b ON a.doc_id <> b.doc_id),
         |sel AS (
         |  SELECT 1 AS pick,
         |    [(SELECT doc_id FROM cq ORDER BY rel DESC, doc_id LIMIT 1)] AS ids
         |  UNION ALL
         |  SELECT pick + 1, list_append(ids, (
         |      SELECT c.doc_id FROM cq c
         |      WHERE NOT list_contains(sel.ids, c.doc_id)
         |      ORDER BY $lamNum * c.rel - ${lamDen - lamNum} *
         |          (SELECT MAX(p.sim) FROM prs p
         |           WHERE p.da = c.doc_id AND list_contains(sel.ids, p.db)) DESC,
         |        c.doc_id
         |      LIMIT 1))
         |  FROM sel WHERE pick < $kSel)
         |SELECT s.ids[s.pick] AS doc_id, c.lex_rn, CAST(s.pick AS INT) AS pick
         |FROM sel s JOIN cq c ON c.doc_id = s.ids[s.pick]
         |ORDER BY pick""".stripMargin
    }) { (s, dir) =>
    graft.Graft.register(s)
    Retrieval.mmrDiversify(t(s, dir, "documents"), t(s, dir, "embeddings"),
      "doc_id", "text", Bm25Terms, kLex = 20, kSel = 8,
      lamNum = 6L, lamDen = 10L, relUnit = 2000L)
      .orderBy("pick")
  }

  val q139 = Q("q139_tokenize_ja_heldout11", graft.ja.JaGolden.heldout11OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus11.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q140 = Q("q140_tokenize_ja_heldout12", graft.ja.JaGolden.heldout12OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus12.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q143 = Q("q143_tokenize_ja_heldout13", graft.ja.JaGolden.heldout13OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus13.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q152 = Q("q152_tokenize_ja_heldout14", graft.ja.JaGolden.heldout14OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus14.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Exact distributed integer k-means (q162): k=4, 2 full Lloyd cycles
    * over the embeddings table, assignment under the final centroids. The
    * oracle unrolls both cycles as CTEs in the same quantized-integer
    * arithmetic (floor-division means, tie by smaller cid), so a drift in
    * ANY iteration — assignment, mean, empty-cluster rule — hash-fails.
    */
  private def kmeansIterSql(prev: String, i: Int): String =
    s"""d$i AS (SELECT v.vec_id, c.cid,
       |  CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS dist
       |  FROM vq v JOIN $prev c ON v.d = c.d GROUP BY 1, 2),
       |a$i AS (SELECT vec_id, cid, dist FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM d$i) WHERE rn = 1),
       |m$i AS (SELECT a.cid, v.d, CAST(SUM(v.q) // COUNT(*) AS BIGINT) AS q
       |  FROM a$i a JOIN vq v USING (vec_id) GROUP BY 1, 2),
       |c$i AS (SELECT p.cid, p.d, COALESCE(m$i.q, p.q) AS q
       |  FROM $prev p LEFT JOIN m$i ON p.cid = m$i.cid AND p.d = m$i.d)""".stripMargin

  val q162 = Q(
    "q162_kmeans_int",
    s"""WITH vq AS (SELECT vec_id, d,
       |    CAST(FLOOR(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
       |seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
       |c0 AS (SELECT s.cid, v.d, v.q FROM seed s JOIN vq v USING (vec_id)),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)},
       |df AS (SELECT v.vec_id, c.cid,
       |  CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS dist
       |  FROM vq v JOIN c2 c ON v.d = c.d GROUP BY 1, 2)
       |SELECT vec_id, CAST(cid AS INT) AS cid, dist FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM df) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Clustering.kmeansInt(t(s, dir, "embeddings"), k = 4, iters = 2)
      .orderBy("vec_id")
  }

  /** Character-diversity gibberish gate (q163): exact Simpson collision
    * counts per document — the log-free entropy surrogate (libm ln is
    * banned from the compare path; collision probability ranks the same
    * junk). Engine side is one codegen'd char-pass projection; the oracle
    * re-derives the counts from a per-character groupBy.
    */
  val q163 = Q(
    "q163_char_diversity",
    """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
      |            FROM documents),
      |cnt AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM ch GROUP BY 1, 2),
      |st AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
      |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |         CAST(SUM(n * (n - 1)) AS BIGINT) AS coll_num
      |       FROM cnt GROUP BY 1)
      |SELECT doc_id, n_chars, n_distinct, coll_num,
      |  CASE WHEN n_chars >= 2 THEN
      |    CAST(coll_num AS DOUBLE) / CAST(n_chars * (n_chars - 1) AS DOUBLE)
      |  END AS coll_ratio,
      |  (n_chars >= 2 AND coll_num * 1000 > 80 * n_chars * (n_chars - 1))
      |    OR n_distinct < 10 AS is_gibberish
      |FROM st ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.charDiversityReport(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Triplet mining (q164): hardest negative + weakest positive per query
    * anchor with the triplet margin. The oracle re-derives both frontiers
    * with rank windows (cos asc/desc, nid tie) — an independent
    * formulation of the engine's single argmax/argmin aggregate, so a tie
    * or null-handling drift hash-fails.
    */
  val q164 = Q(
    "q164_triplet_mine",
    s"""WITH q AS (SELECT vec_id AS qid, label AS q_label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE vec_id % 11 = 0),
       |c AS (SELECT vec_id AS nid, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |s AS (SELECT * FROM (
       |    SELECT q.qid, q.q_label, c.nid, c.label,
       |      ${cosSql("q.qv", "c.v")} AS cs
       |    FROM q CROSS JOIN c WHERE c.nid <> q.qid)
       |  WHERE cs IS NOT NULL),
       |pos AS (SELECT qid, nid, cs, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cs, nid) AS rn FROM s WHERE label = q_label),
       |neg AS (SELECT qid, nid, cs, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cs DESC, nid) AS rn FROM s WHERE label <> q_label)
       |SELECT q.qid, q.q_label, p.nid AS pos_id, p.cs AS pos_cos,
       |  n.nid AS neg_id, n.cs AS neg_cos, p.cs - n.cs AS margin
       |FROM q
       |LEFT JOIN (SELECT * FROM pos WHERE rn = 1) p ON q.qid = p.qid
       |LEFT JOIN (SELECT * FROM neg WHERE rn = 1) n ON q.qid = n.qid
       |ORDER BY q.qid""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    Similarity.tripletMine(emb, emb.where(col("vec_id") % 11 === 0))
      .orderBy("qid")
  }

  /** Leakage-safe split (q165): the q52 bucket rule keyed by the q67
    * near-dup cluster representative, so near-duplicates never straddle
    * splits. The oracle rebuilds the cluster map with the recursive-CTE
    * components and re-derives the buckets — both halves independently.
    */
  val q165 = Q(
    "q165_leakage_safe_split",
    s"""WITH RECURSIVE $lshPairCtes,
       |symp AS (SELECT id_a AS a, id_b AS b FROM pairs
       |         UNION ALL SELECT id_b, id_a FROM pairs),
       |cnodes AS (SELECT DISTINCT a AS id FROM symp),
       |reach(src, dst) AS (
       |  SELECT id, id FROM cnodes
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN symp s ON s.a = r.dst),
       |lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |keyed AS (SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS split_key
       |          FROM documents d LEFT JOIN lab USING (doc_id)),
       |b AS (SELECT doc_id, split_key,
       |  ${hashSql("CAST(split_key AS VARCHAR) || ':graft'")} % 100 AS bucket
       |  FROM keyed)
       |SELECT doc_id, split_key,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val docs = t(s, dir, "documents")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
      k = 6, numHashes = 16, bands = 4, threshold = 0.5)
    graft.operators.Sampling.leakageSafeSplit(docs, clusters, "doc_id")
      .orderBy("doc_id")
  }

  /** Bigram-LM fluency (q166): stupid-backoff conditional-probability
    * scores, model fit on the even-doc_id half so the odd half exercises
    * the unseen-bigram backoff arm. All-integer contributions; the oracle
    * rebuilds model + scoring from per-position bigram extraction.
    */
  val q166 = Q(
    "q166_bigram_fluency",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sp AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk),
      |dbg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1,
      |               t[CAST(i AS INT) + 1] AS w2 FROM sp),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
      |          SELECT unnest(t) AS w FROM tk WHERE doc_id % 2 = 0) GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t_tokens FROM uni),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |       FROM dbg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |contrib AS (SELECT d.doc_id,
      |    CASE WHEN bi.c12 IS NOT NULL THEN (bi.c12 * 1000000) // u1.c1
      |         ELSE (2 * COALESCE(u2.c1, 0) * 1000000) // (5 * tot.t_tokens)
      |    END AS c
      |  FROM dbg d
      |  LEFT JOIN bi ON d.w1 = bi.w1 AND d.w2 = bi.w2
      |  LEFT JOIN uni u1 ON d.w1 = u1.w
      |  LEFT JOIN uni u2 ON d.w2 = u2.w
      |  CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |          CAST(SUM(c) AS BIGINT) AS score_sum FROM contrib GROUP BY 1)
      |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(agg.score_sum, 0) AS score_sum,
      |  CASE WHEN agg.n_bigrams > 0 THEN
      |    CAST(agg.score_sum AS DOUBLE) / CAST(agg.n_bigrams AS DOUBLE)
      |  END AS mean_score
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    TextAnalysis.bigramFluency(docs, docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** ±1 random projection (q167): 64 float dims → 8 exact-long sketch
    * columns. The oracle regenerates the polyHash-parity sign matrix as a
    * 512-row CTE and re-derives each component from an unnest+join sum —
    * an independent formulation of the codegen kernel's fold.
    */
  val q167 = Q(
    "q167_random_projection", {
      val pCols = (0 until 8).map(j =>
        s"CAST(MAX(CASE WHEN j = $j THEN p END) AS BIGINT) AS p$j").mkString(",\n  ")
      s"""WITH vq AS (SELECT vec_id, d,
         |    CAST(FLOOR(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(embedding) AS e,
         |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
         |sm AS (SELECT j, d,
         |    CASE WHEN ${hashSql("CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)")} % 2 = 0
         |         THEN 1 ELSE -1 END AS sg
         |  FROM (SELECT unnest(range(0, 8)) AS j),
         |       (SELECT unnest(range(1, 65)) AS d)),
         |proj AS (SELECT vec_id, j, SUM(sg * q) AS p
         |  FROM vq JOIN sm USING (d) GROUP BY 1, 2)
         |SELECT vec_id,
         |  $pCols
         |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
    Clustering.randomProjection(t(s, dir, "embeddings"), outDims = 8)
      .orderBy("vec_id")
  }

  /** Stream-static enrichment rollup (q168): events joined to a
    * customer-derived dimension, counted per (day window, segment) — the
    * q103/q104 batch-twin convention runs the ACTUAL streaming operator
    * code on the batch frame (watermark no-op). Null segment row keeps
    * the unmatched stream (left join — dropping would under-count).
    */
  val q168 = Q(
    "q168_stream_static_enrich",
    """WITH dim AS (SELECT c_custkey AS user_id, c_mktsegment AS segment
      |             FROM customer)
      |SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS win_start,
      |  dim.segment, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(9,2))) AS DOUBLE) AS sum_value
      |FROM events e LEFT JOIN dim USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST""".stripMargin) { (s, dir) =>
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    graft.streaming.StreamingOps.enrichedTumblingCounts(t(s, dir, "events"), dim)
      .orderBy(col("win_start"), col("segment").asc_nulls_first)
  }

  /** Pareto data-selection frontier (q169): (distinct-token quality ↑,
    * char-length cost ↓). The engine runs the two-phase bucket-prefilter
    * + exact range-window sweep; the oracle brute-forces dominance with
    * NOT EXISTS — a completely independent derivation, so a prefilter
    * unsoundness (a wrongly dropped frontier row) hash-fails.
    */
  val q169 = Q(
    "q169_pareto_front",
    """WITH sc AS (SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q,
      |    CAST(length(text) AS BIGINT) AS c
      |  FROM documents)
      |SELECT s.doc_id, s.q AS quality, s.c AS cost,
      |  NOT EXISTS (SELECT 1 FROM sc o
      |    WHERE o.q >= s.q AND o.c <= s.c AND (o.q > s.q OR o.c < s.c))
      |    AS on_front
      |FROM sc s ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val sc = t(s, dir, "documents").select(col("doc_id"),
      element_at(graft.functions.token_profile(col("text"), Seq.empty), 1 + 1)
        .cast("int").as("nuq"),
      length(col("text")).as("len"))
    Robust.paretoFront(sc, "doc_id", "nuq", "len").orderBy("doc_id")
  }

  /** Vocabulary frequency spectrum (q170): types per ⌊log₂(count)⌋
    * doubling bin. Both engines derive the bin from the binary-string
    * length of the exact count — no libm log near a power-of-two edge.
    */
  val q170 = Q(
    "q170_frequency_spectrum",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1)
      |SELECT CAST(length(printf('%b', n)) - 1 AS INT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(n) AS BIGINT) AS n_tokens
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    TextAnalysis.frequencySpectrum(t(s, dir, "documents"), "text")
  }

  /** Event-transition matrix (q172): Markov pair counts per user journey
    * under the (ts, event_id) total order; oracle re-derives with LAG.
    */
  val q172 = Q(
    "q172_transition_matrix",
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) AS us FROM events),
      |p AS (SELECT LAG(event_type) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS from_type,
      |      event_type AS to_type FROM e),
      |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(SUM(n_pairs) AS BIGINT) AS n_from
      |      FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n_pairs, t.n_from,
      |  CAST(c.n_pairs AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS rate
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
    Temporal.transitionMatrix(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
      .orderBy("from_type", "to_type")
  }

  /** Daily burst detection (q173): 7-day trailing calendar baseline,
    * burst when n·7 > 2·trailing (exact cross-multiply). Oracle mirrors
    * the calendar RANGE frame over the epoch-day integer.
    */
  val q173 = Q(
    "q173_burst_days",
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
      |      RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
      |      AS trailing_n,
      |    MIN(day) OVER (PARTITION BY event_type) AS first_day
      |  FROM d)
      |SELECT event_type, day, n, trailing_n,
      |  day - first_day >= 7 AND n * 7 > 2 * COALESCE(trailing_n, 0)
      |    AS is_burst
      |FROM w ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    Temporal.burstDays(t(s, dir, "events"), "event_type", "ts",
        windowDays = 7, multNum = 2)
      .orderBy("event_type", "day")
  }

  /** Cohen's κ over the kNN classifier (q174): predictions from the q36
    * operator on the vec_id%7 query set vs true labels, κ as exact integer
    * rationals. The oracle replays knn + marginals independently.
    */
  val q174 = Q(
    "q174_cohen_kappa",
    s"""WITH q AS (SELECT vec_id qid, label AS truth, embedding qe
       |           FROM embeddings WHERE vec_id % 7 = 0),
       |c AS (SELECT vec_id nid, label, embedding ce FROM embeddings),
       |sc AS (SELECT qid, nid, label, ${cosSql("qe", "ce")} AS cs
       |       FROM c CROSS JOIN q WHERE nid <> qid),
       |topk AS (SELECT qid, label FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, nid) rn FROM sc)
       |  WHERE rn <= 10),
       |votes AS (SELECT qid, label, COUNT(*) votes FROM topk GROUP BY 1, 2),
       |pred AS (SELECT qid, label AS p FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) rn
       |  FROM votes) WHERE rn = 1),
       |pairs AS (SELECT pred.p, q.truth AS t FROM pred JOIN q USING (qid)),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(CASE WHEN p = t THEN 1 END) AS BIGINT) AS n_agree FROM pairs),
       |mp AS (SELECT p AS c, CAST(COUNT(*) AS BIGINT) AS np FROM pairs GROUP BY 1),
       |mt AS (SELECT t AS c, CAST(COUNT(*) AS BIGINT) AS nt FROM pairs GROUP BY 1),
       |pe AS (SELECT CAST(COALESCE(SUM(np * nt), 0) AS BIGINT) AS pe_num
       |       FROM mp JOIN mt USING (c))
       |SELECT n, n_agree, pe_num,
       |  n * n_agree - pe_num AS kappa_num,
       |  n * n - pe_num AS kappa_den,
       |  CASE WHEN n * n - pe_num <> 0 THEN
       |    CAST(n * n_agree - pe_num AS DOUBLE) / CAST(n * n - pe_num AS DOUBLE)
       |  END AS kappa
       |FROM tot CROSS JOIN pe""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") % 7 === 0)
    val preds = Similarity.knnPredict(emb, queries, k = 10)
      .join(queries.select(col("vec_id").as("qid"), col("label").as("truth")), Seq("qid"))
    Retrieval.cohenKappa(preds, "predicted_label", "truth")
  }

  /** Token drift report (q175): ppm-rate differences between the even-
    * and odd-doc_id snapshot halves, top 50 movers by (|drift|, token).
    */
  val q175 = Q(
    "q175_token_drift",
    """WITH a AS (SELECT unnest(string_split(text, ' ')) AS tok
      |           FROM documents WHERE doc_id % 2 = 0),
      |b AS (SELECT unnest(string_split(text, ' ')) AS tok
      |      FROM documents WHERE doc_id % 2 = 1),
      |ca AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n1 FROM a GROUP BY 1),
      |cb AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n2 FROM b GROUP BY 1),
      |ta AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1 FROM ca),
      |tb AS (SELECT CAST(SUM(n2) AS BIGINT) AS t2 FROM cb),
      |j AS (SELECT COALESCE(ca.tok, cb.tok) AS tok,
      |        COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
      |      FROM ca FULL OUTER JOIN cb USING (tok)),
      |r AS (SELECT tok, n1, n2,
      |        (n1 * 1000000) // t1 AS ppm1, (n2 * 1000000) // t2 AS ppm2
      |      FROM j CROSS JOIN ta CROSS JOIN tb)
      |SELECT tok, n1, n2, ppm1, ppm2, ppm1 - ppm2 AS drift
      |FROM r ORDER BY ABS(ppm1 - ppm2) DESC, tok LIMIT 50""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    TextAnalysis.tokenDrift(docs.where(col("doc_id") % 2 === 0),
      docs.where(col("doc_id") % 2 === 1), "text", k = 50)
  }

  /** Audio segmentation plan (q176): 256-sample windows over the fixture's
    * two WAV payloads, boundaries from header arithmetic only. Oracle is
    * the hand-computed literal (2ch/16-bit/1000 samples → 4 segments at
    * frame 4; 1ch/8-bit/320 → 2 at frame 1); non-WAV rows emit nothing.
    */
  val q176 = Q(
    "q176_audio_segments",
    """SELECT * FROM (VALUES
      |  (6, 0, 0, 256, 4, 1024), (6, 1, 256, 256, 4, 1024),
      |  (6, 2, 512, 256, 4, 1024), (6, 3, 768, 232, 4, 928),
      |  (7, 0, 0, 256, 1, 256), (7, 1, 256, 64, 1, 64)
      |) AS t(id, seg_idx, start_sample, seg_samples, frame_bytes, seg_bytes)
      |ORDER BY id, seg_idx""".stripMargin) { (s, dir) =>
    import s.implicits._
    val fixture = graft.operators.MediaFixture.rows.toDF("id", "bytes")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_q176_media_fixture").getAbsolutePath
    fixture.coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.operators.Multimodal.planAudioSegments(
        s.read.parquet(tmp), "id", "bytes", segSamples = 256)
      .orderBy("id", "seg_idx")
  }

  /** Per-source percentile normalization (q177): distinct-token quality
    * calibrated to within-source ppm position — the cross-source mixing
    * prerequisite. Oracle mirrors rank/count windows and the ppm floor.
    */
  val q177 = Q(
    "q177_percentile_normalize",
    """WITH sc AS (SELECT doc_id, source,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS q
      |  FROM documents)
      |SELECT doc_id, source, q,
      |  CAST(CASE WHEN COUNT(*) OVER (PARTITION BY source) > 1 THEN
      |    ((ROW_NUMBER() OVER (PARTITION BY source ORDER BY q, doc_id) - 1)
      |      * 1000000)
      |    // (COUNT(*) OVER (PARTITION BY source) - 1)
      |  ELSE 0 END AS BIGINT) AS pctl_ppm
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sc = t(s, dir, "documents").select(col("doc_id"), col("source"),
      element_at(graft.functions.token_profile(col("text"), Seq.empty), 1 + 1)
        .cast("int").as("q"))
    graft.operators.Sampling.percentileNormalize(sc, "source", "q", "doc_id")
      .orderBy("doc_id")
  }

  /** Degree spectrum (q178) over the customer→supplier purchase graph
    * (the q131 edge definition: orders×lineitem), ilog2 doubling bins.
    */
  val q178 = Q(
    "q178_degree_spectrum",
    """WITH e AS (SELECT o.o_custkey AS src, l.l_suppkey AS dst
      |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |od AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |idg AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |ob AS (SELECT 'out' AS direction,
      |         CAST(length(printf('%b', deg)) - 1 AS INT) AS bin,
      |         CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |         CAST(SUM(deg) AS BIGINT) AS n_edges FROM od GROUP BY 2),
      |ib AS (SELECT 'in' AS direction,
      |         CAST(length(printf('%b', deg)) - 1 AS INT) AS bin,
      |         CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |         CAST(SUM(deg) AS BIGINT) AS n_edges FROM idg GROUP BY 2)
      |SELECT * FROM ob UNION ALL SELECT * FROM ib
      |ORDER BY direction, bin""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
    Graph.degreeSpectrum(e).orderBy("direction", "bin")
  }

  /** Retention cohorts (q179): the classic retention triangle over the
    * events table — first-seen day × day offset, distinct active users.
    */
  val q179 = Q(
    "q179_retention_cohorts",
    """WITH d AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day
      |           FROM events),
      |f AS (SELECT u, MIN(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
      |  CAST(COUNT(DISTINCT d.u) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM d JOIN f USING (u)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Temporal.retentionCohorts(t(s, dir, "events"), "user_id", "ts")
      .orderBy("cohort_day", "day_offset")
  }

  /** Image patch-grid plan (q180): ViT 16×16 tiling bookkeeping from the
    * header alone — n_patches is the transformer token count. Literal
    * oracle over the fixture's five images; non-image rows all-null.
    */
  val q180 = Q(
    "q180_image_patches",
    """SELECT * FROM (VALUES
      |  (1, 'png', 1, 1, 1, 1, 1, 15, 15),
      |  (2, 'png', 640, 480, 40, 30, 1200, 0, 0),
      |  (3, 'jpg', 3, 2, 1, 1, 1, 13, 14),
      |  (4, 'jpg', 400, 300, 25, 19, 475, 0, 4),
      |  (5, 'gif', 7, 5, 1, 1, 1, 9, 11),
      |  (6, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (7, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (8, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (9, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (10, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (11, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (12, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (13, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (14, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (15, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
      |) AS t(id, img_fmt, width, height, nx, ny, n_patches, pad_x, pad_y)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val fixture = graft.operators.MediaFixture.rows.toDF("id", "bytes")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_q180_media_fixture").getAbsolutePath
    fixture.coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.operators.Multimodal.planImagePatches(
        s.read.parquet(tmp), "id", "bytes", patch = 16)
      .orderBy("id")
  }

  /** q183 oracle: the BPE merge walk unrolled — one (pairs → argmax →
    * double-replace) stage per step, each stage's pick computed IN SQL so
    * the hash compare verifies the Spark driver's literal-embedded picks
    * stage by stage. Mirrors TextAnalysis.bpeMerges exactly (overlap pair
    * counts, (pc DESC, pair ASC) tie-break, two-pass sentinel replace).
    */
  private def bpeOracleSql(steps: Int): String = {
    s"""${bpeStagesSql(steps)}
       |SELECT * FROM (${(1 to steps).map { k =>
      s"""SELECT $k AS step, split_part(pair, ' ', 1) AS lhs,
         |  split_part(pair, ' ', 2) AS rhs, replace(pair, ' ', '') AS merged,
         |  CAST(pc AS BIGINT) AS pair_count FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")}) ORDER BY step""".stripMargin
  }

  /** Shared WITH-clause prefix of the q183/q184 oracles: word counts,
    * char-symbol init, and one MATERIALIZED (pairs → argmax →
    * double-replace) stage per merge step.
    */
  private def bpeStagesSql(steps: Int): String = {
    val stages = (1 to steps).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS (SELECT pair, SUM(cnt) AS pc FROM (
         |  SELECT cnt, unnest(list_transform(range(1, len(a)), i ->
         |    list_extract(a, CAST(i AS INT)) || ' ' || list_extract(a, CAST(i + 1 AS INT)))) AS pair
         |  FROM (SELECT cnt, string_split(trim(s), ' ') AS a FROM $prev)
         |) GROUP BY pair),
         |b$k AS MATERIALIZED (SELECT pair, pc FROM p$k ORDER BY pc DESC, pair ASC LIMIT 1),
         |v$k AS MATERIALIZED (SELECT replace(replace(s,
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' '),
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' ') AS s, cnt
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |v0 AS MATERIALIZED (SELECT ' ' || array_to_string(
       |    list_transform(range(1, length(word) + 1), i -> substr(word, CAST(i AS INT), 1)),
       |    ' ') || ' ' AS s, cnt FROM w),
       |$stages""".stripMargin
  }

  /** BPE vocabulary induction (Sennrich et al. 2016): the learned merge
    * table over the documents corpus — see TextAnalysis.bpeMerges for the
    * one-corpus-scan / vocabulary-sized-iteration shape.
    */
  /** BPE segmentation apply step for free: the learner's final vocabulary
    * state already carries every distinct word's segmented symbols, so
    * corpus token frequencies after 8 merges are one vocabulary-sized
    * explode weighted by word counts — no second corpus scan.
    */
  val q184 = Q(
    "q184_bpe_vocab_freq",
    s"""${bpeStagesSql(8)}
       |SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
       |  SELECT cnt, unnest(string_split(trim(s), ' ')) AS token FROM v8)
       |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin) { (s, dir) =>
    graft.operators.TextAnalysis.bpeVocabFreq(
      graft.queries.Tables.t(s, dir, "documents"), "text", steps = 8, k = 50)
  }

  /** Row-level BPE apply (the inference half of the tokenizer-training
    * story — VERDICT r15 #3): merges learned on the documents corpus
    * (q183's exact walk, an 8-row bounded collect) are applied to
    * genuinely NEW text (part names never seen by the learner) through the
    * plan-embedded codegen expression graft.expr.BpeSegment — a pure
    * projection, zero shuffle at any corpus size. The oracle re-derives
    * every merge pick in SQL (the q183 stages) and then replays the same
    * double-replace chain per part name, so both the learned table AND the
    * apply semantics are independently verified.
    */
  val q187 = Q(
    "q187_bpe_segment_apply",
    s"""${bpeStagesSql(8)},
       |a0 AS (SELECT p_partkey AS id, ' ' || array_to_string(list_transform(
       |    list_filter(string_split(p_name, ' '), w -> length(w) > 0),
       |    w -> array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), ' ')),
       |  '  ') || ' ' AS s FROM part),
       |${(1 to 8).map { k =>
      s"""a$k AS (SELECT id, replace(replace(s,
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' '),
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' ') AS s
         |  FROM a${k - 1})""".stripMargin
    }.mkString(",\n")},
       |syms AS (SELECT id, list_filter(string_split(trim(s), ' '),
       |           x -> length(x) > 0) AS a FROM a8)
       |SELECT CAST(id AS BIGINT) AS id, CAST(len(a) AS BIGINT) AS n_syms,
       |       array_to_string(list_slice(a, 1, 12), '|') AS prefix
       |FROM syms ORDER BY id""".stripMargin) { (s, dir) =>
    val merges = graft.operators.TextAnalysis.bpeMerges(
        graft.queries.Tables.t(s, dir, "documents"), "text", steps = 8)
      .collect().sortBy(_.getInt(0)) // a local relation: collected with no job
      .map(r => Array(r.getString(1), r.getString(2))) // bounded: exactly 8 rows
    graft.queries.Tables.t(s, dir, "part")
      .select(col("p_partkey").cast("long").as("id"),
        graft.functions.bpe_segment(col("p_name"), merges).as("syms"))
      .select(col("id"), size(col("syms")).cast("long").as("n_syms"),
        concat_ws("|", slice(col("syms"), 1, 12)).as("prefix"))
      .orderBy("id")
  }

  /** Per-source BPE compression (chars per symbol): the tokenizer-fit
    * health signal — a source whose text compresses poorly under the
    * corpus-learned merges is out-of-distribution for the tokenizer
    * (Gopher-style quality reporting at the source granularity). Integer
    * sums only, so the whole report sits on the exact-hash gate; the
    * consumer divides. One corpus scan through the zero-shuffle
    * bpe_segment projection + a |sources|-sized aggregation.
    */
  val q192 = Q(
    "q192_bpe_compression_by_source",
    s"""${bpeStagesSql(8)},
       |a0 AS (SELECT doc_id, source, length(text) AS n_chars,
       |    ' ' || array_to_string(list_transform(
       |    list_filter(string_split(text, ' '), w -> length(w) > 0),
       |    w -> array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), ' ')),
       |  '  ') || ' ' AS s FROM documents),
       |${(1 to 8).map { k =>
      s"""a$k AS (SELECT doc_id, source, n_chars, replace(replace(s,
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' '),
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' ') AS s
         |  FROM a${k - 1})""".stripMargin
    }.mkString(",\n")},
       |syms AS (SELECT source, n_chars,
       |           len(list_filter(string_split(trim(s), ' '),
       |             x -> length(x) > 0)) AS n_syms FROM a8)
       |SELECT source, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(SUM(n_syms) AS BIGINT) AS sum_syms
       |FROM syms GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = graft.queries.Tables.t(s, dir, "documents")
    val merges = graft.operators.TextAnalysis.bpeMerges(docs, "text", steps = 8)
      .collect().sortBy(_.getInt(0)) // a local relation: collected with no job
      .map(r => Array(r.getString(1), r.getString(2))) // bounded: exactly 8 rows
    docs.select(col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(graft.functions.bpe_segment(col("text"), merges)).cast("long").as("n_syms"))
      .groupBy("source")
      .agg(sum("n_chars").as("sum_chars"), sum("n_syms").as("sum_syms"))
      .orderBy("source")
  }

  val q183 = Q("q183_bpe_merges", bpeOracleSql(8)) { (s, dir) =>
    graft.operators.TextAnalysis.bpeMerges(
        graft.queries.Tables.t(s, dir, "documents"), "text", steps = 8)
      .select(col("step"), col("left").as("lhs"), col("right").as("rhs"),
        col("merged"), col("pair_count"))
      .orderBy("step")
  }

  /** Token-budget-constrained selection (Sampling.tokenBudgetSelect):
    * greedy best-docs-first under a global token budget — the corpus
    * assembly step after scoring. Integer score (distinct tokens),
    * inclusive running sum, strict prefix keep.
    */
  val q193 = Q(
    "q193_token_budget_select",
    """WITH s AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS score
      |      FROM documents),
      |c AS (SELECT doc_id, n_toks, score,
      |        SUM(n_toks) OVER (ORDER BY score DESC, doc_id
      |                          ROWS UNBOUNDED PRECEDING) AS cum_toks
      |      FROM s)
      |SELECT doc_id, n_toks, score, CAST(cum_toks AS BIGINT) AS cum_toks,
      |       cum_toks <= 30000 AS keep
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.tokenBudgetSelect(
        graft.queries.Tables.t(s, dir, "documents"), "doc_id", "text", budget = 30000L)
      .orderBy("doc_id")
  }

  /** Adaptive per-source token floor (TextAnalysis.adaptiveTokenFloor):
    * each document gated against its source's exact lower-quartile token
    * count — the mixed-source curation pattern a single global floor
    * cannot express. Integer order statistic, doc_id tie-breaks.
    */
  val q191 = Q(
    "q191_adaptive_token_floor",
    """WITH b AS (SELECT doc_id, source,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |      FROM documents),
      |r AS (SELECT doc_id, source, n_toks,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_toks, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS cnt
      |      FROM b),
      |fl AS (SELECT source, n_toks AS floor_toks FROM r
      |       WHERE rn = 1 + ((cnt - 1) * 1) // 4)
      |SELECT b.doc_id, b.source, b.n_toks, fl.floor_toks,
      |       b.n_toks >= fl.floor_toks AS keep
      |FROM b JOIN fl USING (source)
      |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextAnalysis.adaptiveTokenFloor(
        graft.queries.Tables.t(s, dir, "documents"), "doc_id", "source", "text", quarter = 1)
      .orderBy("doc_id")
  }

  /** Blocklist term scan (the curation gate shape): which blocked terms
    * appear in each document, via ONE Aho–Corasick pass over the text
    * regardless of list size (graft.expr.AcMatch — plan-embedded automaton,
    * pure codegen projection, zero shuffle). The pattern list deliberately
    * contains overlapping entries (scan/can/an s) so the failure links and
    * output-set propagation are exercised under the oracle gate; the DuckDB
    * oracle mirrors with per-pattern contains.
    */
  val q189 = {
    val patterns = Array("scan", "can", "an s", "slow fast", "table part",
      "spark", "agg row", "value tab", "windows", "merge batch", "big table",
      "a a the")
    val lit = patterns.map(p => s"'${p}'").mkString("[", ", ", "]")
    Q(
      "q189_blocklist_ac_match",
      s"""SELECT doc_id, CAST(len(m) AS BIGINT) AS n_matched,
         |       COALESCE(array_to_string(m, '|'), '') AS matched
         |FROM (SELECT doc_id,
         |        list_sort(list_filter($lit, p -> contains(text, p))) AS m
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.queries.Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.ac_match(col("text"), patterns).as("m"))
        .select(col("doc_id"), size(col("m")).cast("long").as("n_matched"),
          concat_ws("|", col("m")).as("matched"))
        .orderBy("doc_id")
    }
  }

  /** The removal half of ExactSubstr (Lee et al. 2022): every duplicated
    * span q182 finds is cut from its document (both copies, the paper's
    * criterion) and the survivors reassembled — one duplicate-sized
    * span-list aggregation, one doc-keyed equi-join, one lambda
    * projection; see Dedup.exactSubstringRemove.
    */
  val q188 = Q(
    "q188_exact_substring_remove",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |w AS (SELECT doc_id, unnest(range(0, len(toks) - 20 + 1)) AS pos, toks
      |      FROM t WHERE len(toks) >= 20),
      |h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(list_slice(toks, pos + 1, pos + 20), ' ')) AS h
      |      FROM w),
      |d AS (SELECT h FROM h GROUP BY h HAVING COUNT(*) >= 2),
      |f AS (SELECT doc_id, pos FROM h WHERE h IN (SELECT h FROM d)),
      |i AS (SELECT doc_id, pos,
      |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |              OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
      |             THEN 1 ELSE 0 END AS brk
      |      FROM f),
      |g AS (SELECT doc_id, pos,
      |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |                       ROWS UNBOUNDED PRECEDING) AS isl
      |      FROM i),
      |spans AS (SELECT doc_id,
      |        CAST(MIN(pos) AS BIGINT) AS span_start,
      |        CAST(MAX(pos) + 20 AS BIGINT) AS span_end
      |      FROM g GROUP BY doc_id, isl),
      |tokpos AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |        generate_subscripts(string_split(text, ' '), 1) AS p1
      |      FROM documents),
      |removed AS (SELECT DISTINCT t.doc_id, t.p1
      |      FROM tokpos t JOIN spans s
      |        ON t.doc_id = s.doc_id
      |       AND t.p1 - 1 >= s.span_start AND t.p1 - 1 < s.span_end),
      |keptagg AS (SELECT t.doc_id,
      |        CAST(COUNT(*) AS BIGINT) AS n_toks,
      |        CAST(COUNT(*) FILTER (WHERE r.p1 IS NULL) AS BIGINT) AS n_kept,
      |        string_agg(CASE WHEN r.p1 IS NULL THEN t.tok END, ' ' ORDER BY t.p1) AS text_kept
      |      FROM tokpos t LEFT JOIN removed r
      |        ON t.doc_id = r.doc_id AND t.p1 = r.p1
      |      GROUP BY t.doc_id)
      |SELECT doc_id, n_toks, n_toks - n_kept AS n_removed,
      |       COALESCE(text_kept, '') AS text_dedup
      |FROM keptagg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Dedup.exactSubstringRemove(
        graft.queries.Tables.t(s, dir, "documents"), "doc_id", "text", minLen = 20)
      .orderBy("doc_id")
  }

  /** Exact duplicated-substring spans (Lee et al. 2022 ExactSubstr at
    * window granularity): maximal merged ranges of corpus-duplicated
    * 20-token windows — see Dedup.exactSubstringSpans for the three-shuffle
    * candidates-then-merge shape.
    */
  val q182 = Q(
    "q182_exact_substring_spans",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |w AS (SELECT doc_id, unnest(range(0, len(toks) - 20 + 1)) AS pos, toks
      |      FROM t WHERE len(toks) >= 20),
      |h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        md5(array_to_string(list_slice(toks, pos + 1, pos + 20), ' ')) AS h
      |      FROM w),
      |d AS (SELECT h FROM h GROUP BY h HAVING COUNT(*) >= 2),
      |f AS (SELECT doc_id, pos FROM h WHERE h IN (SELECT h FROM d)),
      |i AS (SELECT doc_id, pos,
      |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |              OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
      |             THEN 1 ELSE 0 END AS brk
      |      FROM f),
      |g AS (SELECT doc_id, pos,
      |        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |                       ROWS UNBOUNDED PRECEDING) AS isl
      |      FROM i),
      |spans AS (SELECT doc_id,
      |        CAST(MIN(pos) AS BIGINT) AS span_start,
      |        CAST(MAX(pos) + 20 AS BIGINT) AS span_end,
      |        CAST(COUNT(*) AS BIGINT) AS n_windows
      |      FROM g GROUP BY doc_id, isl)
      |SELECT doc_id, span_start, span_end,
      |       span_end - span_start AS span_len, n_windows
      |FROM spans
      |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    graft.operators.Dedup.exactSubstringSpans(
        graft.queries.Tables.t(s, dir, "documents"), "doc_id", "text", minLen = 20)
      .orderBy("doc_id", "span_start")
  }

  /** The MLlib pipeline stage under the oracle gate: the SAME golden rows as
    * q55, but produced through graft.ml.JaTokenizerTransformer (the spark.ml
    * face of the kernel) instead of the SQL function — hash-matching q55's
    * literal oracle proves the two API surfaces are byte-identical.
    */
  val q185 = Q("q185_ml_transformer_tokens", graft.ja.JaGolden.oracleSql) { (s, dir) =>
    val corpus = graft.ja.JaGolden.corpus.map(g => (g.sid, g.sentence))
    new graft.ml.JaTokenizerTransformer()
      .setInputCol("sentence").setOutputCol("toks")
      .transform(s.createDataFrame(corpus).toDF("sid", "sentence"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Per-source Heaps curve (q204): q200's vocabulary-growth curve grouped
    * by source, each source over its own doc-id span — and a strictly
    * better scale shape (zero driver collects; the cumsum window is
    * source-partitioned over 10 rows per source).
    */
  val q204 = Q(
    "q204_vocab_growth_by_source",
    """WITH b AS (SELECT source, MIN(doc_id) AS mn,
      |             MAX(doc_id) - MIN(doc_id) + 1 AS span
      |           FROM documents GROUP BY source),
      |tok AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |f AS (SELECT source, tok, MIN(doc_id) AS fd FROM tok GROUP BY source, tok),
      |fb AS (SELECT f.source,
      |         CAST(((fd - b.mn + 1) * 10 + b.span - 1) // b.span AS BIGINT) AS bucket
      |       FROM f JOIN b USING (source)),
      |c AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      |      FROM fb GROUP BY source, bucket),
      |g AS (SELECT b.source, CAST(unnest(generate_series(1, 10)) AS BIGINT) AS bucket,
      |        b.mn, b.span FROM b),
      |j AS (SELECT g.source, g.bucket,
      |        CAST(g.mn - 1 + g.span * g.bucket // 10 AS BIGINT) AS doc_threshold,
      |        COALESCE(c.n_new, 0) AS n_new
      |      FROM g LEFT JOIN c USING (source, bucket))
      |SELECT source, bucket, doc_threshold, CAST(n_new AS BIGINT) AS n_new,
      |  CAST(SUM(n_new) OVER (PARTITION BY source ORDER BY bucket
      |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
      |FROM j ORDER BY source, bucket""".stripMargin) { (s, dir) =>
    TextAnalysis.vocabularyGrowthBySource(t(s, dir, "documents"), "source", "doc_id", "text")
      .orderBy("source", "bucket")
  }

  /** The full Gopher repetition filter (q205, Rae et al. 2021 Table A1):
    * the thirteen published duplicate-line/paragraph and n-gram-coverage
    * signals as ONE codegen kernel pass per row
    * (graft.expr.RepetitionSignals — zero corpus shuffles; the oracle's
    * relational form below explodes the corpus once per n and shuffles
    * every window, which is exactly the shape the kernel exists to avoid).
    * Line/paragraph boundaries are derived deterministically from the
    * single-line corpus by rewriting the ' line ' / ' part ' tokens to
    * "\n" / "\n\n" IN THE QUERY (both engines run the same two replaces in
    * the same order), so the line-level signals are exercised on real
    * data, not only in the spec's literal frames.
    */
  /** The full q205 oracle CTE chain (derived line breaks → token/window
    * counts per n → line/paragraph duplicate stats → the thirteen
    * fractions in CTE `f`) — shared with q207's per-source rollup, which
    * aggregates the same integers.
    */
  private lazy val gopherRepCtes: String =
    """WITH d AS (SELECT doc_id,
      |        replace(replace(text, ' part ', chr(10) || chr(10)), ' line ', chr(10)) AS text
      |      FROM documents),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
      |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |        CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT) AS tchars
      |      FROM t),
      |tokpos AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |        generate_subscripts(string_split(text, ' '), 1) AS p1 FROM d),
      |w2 AS (SELECT doc_id, unnest(range(0, len(toks) - 1)) AS pos, toks FROM t WHERE len(toks) >= 2),
      |c2 AS (SELECT doc_id, array_to_string(list_slice(toks, pos + 1, pos + 2), ' ') AS gram,
      |        CAST(list_sum(list_transform(list_slice(toks, pos + 1, pos + 2), x -> len(x))) AS BIGINT) AS gchars,
      |        COUNT(*) AS cnt
      |      FROM w2 GROUP BY doc_id, gram, gchars),
      |top2 AS (SELECT doc_id, CAST(MAX(cnt * gchars) AS BIGINT) AS best FROM c2 GROUP BY doc_id),
      |w3 AS (SELECT doc_id, unnest(range(0, len(toks) - 2)) AS pos, toks FROM t WHERE len(toks) >= 3),
      |c3 AS (SELECT doc_id, array_to_string(list_slice(toks, pos + 1, pos + 3), ' ') AS gram,
      |        CAST(list_sum(list_transform(list_slice(toks, pos + 1, pos + 3), x -> len(x))) AS BIGINT) AS gchars,
      |        COUNT(*) AS cnt
      |      FROM w3 GROUP BY doc_id, gram, gchars),
      |top3 AS (SELECT doc_id, CAST(MAX(cnt * gchars) AS BIGINT) AS best FROM c3 GROUP BY doc_id),
      |w4 AS (SELECT doc_id, unnest(range(0, len(toks) - 3)) AS pos, toks FROM t WHERE len(toks) >= 4),
      |c4 AS (SELECT doc_id, array_to_string(list_slice(toks, pos + 1, pos + 4), ' ') AS gram,
      |        CAST(list_sum(list_transform(list_slice(toks, pos + 1, pos + 4), x -> len(x))) AS BIGINT) AS gchars,
      |        COUNT(*) AS cnt
      |      FROM w4 GROUP BY doc_id, gram, gchars),
      |top4 AS (SELECT doc_id, CAST(MAX(cnt * gchars) AS BIGINT) AS best FROM c4 GROUP BY doc_id),
      |g5 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, pos + 1, pos + 5), ' ') AS gram
      |      FROM (SELECT doc_id, unnest(range(0, len(toks) - 4)) AS pos, toks FROM t WHERE len(toks) >= 5)),
      |k5 AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
      |cov5 AS (SELECT DISTINCT tp.doc_id, tp.p1 FROM tokpos tp
      |      JOIN (SELECT g.doc_id, g.pos FROM g5 g JOIN k5 USING (doc_id, gram)) w
      |        ON tp.doc_id = w.doc_id AND tp.p1 - 1 >= w.pos AND tp.p1 - 1 < w.pos + 5),
      |d5 AS (SELECT c.doc_id, CAST(SUM(len(tp.tok)) AS BIGINT) AS cov FROM cov5 c
      |      JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.p1 = tp.p1 GROUP BY c.doc_id),
      |g6 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, pos + 1, pos + 6), ' ') AS gram
      |      FROM (SELECT doc_id, unnest(range(0, len(toks) - 5)) AS pos, toks FROM t WHERE len(toks) >= 6)),
      |k6 AS (SELECT doc_id, gram FROM g6 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
      |cov6 AS (SELECT DISTINCT tp.doc_id, tp.p1 FROM tokpos tp
      |      JOIN (SELECT g.doc_id, g.pos FROM g6 g JOIN k6 USING (doc_id, gram)) w
      |        ON tp.doc_id = w.doc_id AND tp.p1 - 1 >= w.pos AND tp.p1 - 1 < w.pos + 6),
      |d6 AS (SELECT c.doc_id, CAST(SUM(len(tp.tok)) AS BIGINT) AS cov FROM cov6 c
      |      JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.p1 = tp.p1 GROUP BY c.doc_id),
      |g7 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, pos + 1, pos + 7), ' ') AS gram
      |      FROM (SELECT doc_id, unnest(range(0, len(toks) - 6)) AS pos, toks FROM t WHERE len(toks) >= 7)),
      |k7 AS (SELECT doc_id, gram FROM g7 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
      |cov7 AS (SELECT DISTINCT tp.doc_id, tp.p1 FROM tokpos tp
      |      JOIN (SELECT g.doc_id, g.pos FROM g7 g JOIN k7 USING (doc_id, gram)) w
      |        ON tp.doc_id = w.doc_id AND tp.p1 - 1 >= w.pos AND tp.p1 - 1 < w.pos + 7),
      |d7 AS (SELECT c.doc_id, CAST(SUM(len(tp.tok)) AS BIGINT) AS cov FROM cov7 c
      |      JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.p1 = tp.p1 GROUP BY c.doc_id),
      |g8 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, pos + 1, pos + 8), ' ') AS gram
      |      FROM (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS pos, toks FROM t WHERE len(toks) >= 8)),
      |k8 AS (SELECT doc_id, gram FROM g8 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
      |cov8 AS (SELECT DISTINCT tp.doc_id, tp.p1 FROM tokpos tp
      |      JOIN (SELECT g.doc_id, g.pos FROM g8 g JOIN k8 USING (doc_id, gram)) w
      |        ON tp.doc_id = w.doc_id AND tp.p1 - 1 >= w.pos AND tp.p1 - 1 < w.pos + 8),
      |d8 AS (SELECT c.doc_id, CAST(SUM(len(tp.tok)) AS BIGINT) AS cov FROM cov8 c
      |      JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.p1 = tp.p1 GROUP BY c.doc_id),
      |g9 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, pos + 1, pos + 9), ' ') AS gram
      |      FROM (SELECT doc_id, unnest(range(0, len(toks) - 8)) AS pos, toks FROM t WHERE len(toks) >= 9)),
      |k9 AS (SELECT doc_id, gram FROM g9 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
      |cov9 AS (SELECT DISTINCT tp.doc_id, tp.p1 FROM tokpos tp
      |      JOIN (SELECT g.doc_id, g.pos FROM g9 g JOIN k9 USING (doc_id, gram)) w
      |        ON tp.doc_id = w.doc_id AND tp.p1 - 1 >= w.pos AND tp.p1 - 1 < w.pos + 9),
      |d9 AS (SELECT c.doc_id, CAST(SUM(len(tp.tok)) AS BIGINT) AS cov FROM cov9 c
      |      JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.p1 = tp.p1 GROUP BY c.doc_id),
      |g10 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |        array_to_string(list_slice(toks, pos + 1, pos + 10), ' ') AS gram
      |      FROM (SELECT doc_id, unnest(range(0, len(toks) - 9)) AS pos, toks FROM t WHERE len(toks) >= 10)),
      |k10 AS (SELECT doc_id, gram FROM g10 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
      |cov10 AS (SELECT DISTINCT tp.doc_id, tp.p1 FROM tokpos tp
      |      JOIN (SELECT g.doc_id, g.pos FROM g10 g JOIN k10 USING (doc_id, gram)) w
      |        ON tp.doc_id = w.doc_id AND tp.p1 - 1 >= w.pos AND tp.p1 - 1 < w.pos + 10),
      |d10 AS (SELECT c.doc_id, CAST(SUM(len(tp.tok)) AS BIGINT) AS cov FROM cov10 c
      |      JOIN tokpos tp ON c.doc_id = tp.doc_id AND c.p1 = tp.p1 GROUP BY c.doc_id),
      |lns AS (SELECT doc_id, l FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM d)
      |      WHERE l <> ''),
      |lcnt AS (SELECT doc_id, l, COUNT(*) AS c FROM lns GROUP BY doc_id, l),
      |ls AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
      |        CAST(SUM(c - 1) AS BIGINT) AS dup_lines,
      |        CAST(SUM(c * len(l)) AS BIGINT) AS line_chars,
      |        CAST(SUM((c - 1) * len(l)) AS BIGINT) AS dup_line_chars
      |      FROM lcnt GROUP BY doc_id),
      |prs AS (SELECT doc_id, l FROM (SELECT doc_id,
      |        unnest(string_split(text, chr(10) || chr(10))) AS l FROM d) WHERE l <> ''),
      |pcnt AS (SELECT doc_id, l, COUNT(*) AS c FROM prs GROUP BY doc_id, l),
      |ps AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_paras,
      |        CAST(SUM(c - 1) AS BIGINT) AS dup_paras,
      |        CAST(SUM(c * len(l)) AS BIGINT) AS para_chars,
      |        CAST(SUM((c - 1) * len(l)) AS BIGINT) AS dup_para_chars
      |      FROM pcnt GROUP BY doc_id),
      |f AS (SELECT b.doc_id, b.n_tokens,
      |  CASE WHEN COALESCE(ls.n_lines, 0) > 0 THEN ls.dup_lines / ls.n_lines ELSE 0.0 END AS dup_line_frac,
      |  CASE WHEN COALESCE(ls.line_chars, 0) > 0 THEN ls.dup_line_chars / ls.line_chars ELSE 0.0 END AS dup_line_char_frac,
      |  CASE WHEN COALESCE(ps.n_paras, 0) > 0 THEN ps.dup_paras / ps.n_paras ELSE 0.0 END AS dup_para_frac,
      |  CASE WHEN COALESCE(ps.para_chars, 0) > 0 THEN ps.dup_para_chars / ps.para_chars ELSE 0.0 END AS dup_para_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(top2.best, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS top_2gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(top3.best, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS top_3gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(top4.best, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS top_4gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(d5.cov, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS dup_5gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(d6.cov, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS dup_6gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(d7.cov, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS dup_7gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(d8.cov, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS dup_8gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(d9.cov, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS dup_9gram_char_frac,
      |  CASE WHEN b.tchars > 0 THEN CAST(COALESCE(d10.cov, 0) AS BIGINT) / b.tchars ELSE 0.0 END AS dup_10gram_char_frac
      |FROM base b
      |LEFT JOIN ls USING (doc_id) LEFT JOIN ps USING (doc_id)
      |LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id) LEFT JOIN top4 USING (doc_id)
      |LEFT JOIN d5 USING (doc_id) LEFT JOIN d6 USING (doc_id) LEFT JOIN d7 USING (doc_id)
      |LEFT JOIN d8 USING (doc_id) LEFT JOIN d9 USING (doc_id) LEFT JOIN d10 USING (doc_id))""".stripMargin

  private val gopherKeepSql: String =
    """(dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
      |   AND dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20
      |   AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
      |   AND top_4gram_char_frac <= 0.16
      |   AND dup_5gram_char_frac <= 0.15 AND dup_6gram_char_frac <= 0.14
      |   AND dup_7gram_char_frac <= 0.13 AND dup_8gram_char_frac <= 0.12
      |   AND dup_9gram_char_frac <= 0.11 AND dup_10gram_char_frac <= 0.10)""".stripMargin

  val q205 = Q(
    "q205_gopher_repetition",
    s"""$gopherRepCtes
       |SELECT f.*,
       |  $gopherKeepSql AS keep
       |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val derived = t(s, dir, "documents").select(col("doc_id"),
      replace(replace(col("text"), lit(" part "), lit("\n\n")),
        lit(" line "), lit("\n")).as("text"))
    TextAnalysis.gopherRepetition(derived, "doc_id", "text").orderBy("doc_id")
  }

  /** Per-source repetition health (q207): the corpus-dashboard rollup of
    * q205 — per source, docs failing the Table-A1 conjunction, the two
    * headline-gate trip counts, and the duplicated-5-gram character ratio
    * as a ratio of integer sums (a mean of per-doc doubles would be
    * accumulation-order-dependent across engines). ONE kernel projection
    * + ONE source-keyed aggregate; the oracle re-aggregates the identical
    * q205 CTE integers.
    */
  val q207 = Q(
    "q207_repetition_health_by_source",
    s"""$gopherRepCtes,
       |k AS (SELECT f.doc_id, f.top_2gram_char_frac, f.dup_5gram_char_frac,
       |        $gopherKeepSql AS keep
       |      FROM f),
       |raw AS (SELECT b.doc_id, b.tchars,
       |        CAST(COALESCE(d5.cov, 0) AS BIGINT) AS cov5
       |      FROM base b LEFT JOIN d5 USING (doc_id))
       |SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |  CAST(SUM(CASE WHEN k.top_2gram_char_frac > 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS n_top2_fail,
       |  CAST(SUM(CASE WHEN k.dup_5gram_char_frac > 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup5_fail,
       |  CAST(SUM(raw.cov5) AS BIGINT) AS dup5_chars,
       |  CAST(SUM(raw.tchars) AS BIGINT) AS token_chars,
       |  CASE WHEN SUM(raw.tchars) > 0
       |       THEN CAST(SUM(raw.cov5) AS BIGINT) / CAST(SUM(raw.tchars) AS BIGINT)
       |       ELSE 0.0 END AS dup5_char_frac
       |FROM k
       |JOIN (SELECT doc_id, source FROM documents) s USING (doc_id)
       |JOIN raw USING (doc_id)
       |GROUP BY s.source ORDER BY s.source""".stripMargin) { (s, dir) =>
    val derived = t(s, dir, "documents").select(col("source"),
      replace(replace(col("text"), lit(" part "), lit("\n\n")),
        lit(" line "), lit("\n")).as("text"))
    TextAnalysis.repetitionHealthBySource(derived, "source", "text")
      .orderBy("source")
  }

  /** Fuzzy benchmark decontamination (q206): near-duplicate MATCH against
    * a single benchmark doc — corpus×benchmark MinHash-LSH banding (the
    * q32 machinery re-aimed at two corpora) then exact Jaccard
    * verification on the hashed shingle sets, at the q32 threshold 0.5.
    * Fills the protocol slot between q65 (containment in the benchmark
    * UNION) and q203 (single 13-gram collision): the "lightly paraphrased
    * eval item" class. The corpus never shuffles — per-row signatures in
    * the scan projection, benchmark bands broadcast; the oracle replays
    * the identical permutations (hashA/hashB) and band fold.
    */
  val q206 = Q(
    "q206_fuzzy_decontaminate",
    s"""WITH $shingleCtes,
       |params(i, a, b) AS (VALUES $minhashParamsSql),
       |mh AS (SELECT doc_id, i, MIN((a * h + b) % 1000000007) m
       |       FROM hs CROSS JOIN params GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) sig FROM mh GROUP BY doc_id),
       |bands AS (SELECT doc_id, j,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, j*4 + 1, j*4 + 4)),
       |                (acc, x) -> (acc * 131 + x) % 1000000007) bval
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
       |cand AS (SELECT DISTINCT c.doc_id AS id, b.doc_id AS id_b
       |  FROM bands c JOIN bands b ON c.j = b.j AND c.bval = b.bval
       |  WHERE c.doc_id % 89 <> 0 AND b.doc_id % 89 = 0),
       |shr AS (SELECT c.id, c.id_b, COUNT(*) AS shared
       |  FROM cand c JOIN hs a ON a.doc_id = c.id
       |  JOIN hs b2 ON b2.doc_id = c.id_b AND b2.h = a.h
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.id, c.id_b,
       |    COALESCE(s.shared, 0) / (sa.n + sb.n - COALESCE(s.shared, 0)) AS j
       |  FROM cand c LEFT JOIN shr s ON s.id = c.id AND s.id_b = c.id_b
       |  JOIN sizes sa ON sa.doc_id = c.id
       |  JOIN sizes sb ON sb.doc_id = c.id_b),
       |agg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |    CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       |    MAX(j) AS best FROM jac GROUP BY id)
       |SELECT d.doc_id AS id, CAST(COALESCE(sz.n, 0) AS BIGINT) AS n_shingles,
       |  COALESCE(a.n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
       |  COALESCE(a.n_matches, CAST(0 AS BIGINT)) AS n_matches,
       |  COALESCE(a.best, 0.0) AS best_jaccard,
       |  COALESCE(a.n_matches, 0) > 0 AS contaminated
       |FROM documents d
       |LEFT JOIN sizes sz ON sz.doc_id = d.doc_id
       |LEFT JOIN agg a ON a.id = d.doc_id
       |WHERE d.doc_id % 89 <> 0
       |ORDER BY id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.operators.Decontaminate.fuzzyContamination(
        docs.where(col("doc_id") % 89 =!= 0), docs.where(col("doc_id") % 89 === 0),
        "doc_id", "text", threshold = 0.5)
      .orderBy("id")
  }

  /** N-gram-overlap benchmark decontamination (q203): the GPT-3 13-gram
    * collision rule (Brown et al. 2020 §C) — one colliding 13-token window
    * anywhere in the document, at ANY alignment, flags it; the published
    * protocol q65's ratio rule and q53's exact rule both under-catch
    * (DecontaminateNgramSpec pins the straddling case). Benchmark side =
    * the q65 convention (doc_id % 89). The oracle replays the windows with
    * DuckDB md5 over the window TEXT — the q182 precedent: only collision
    * BEHAVIOR must match, the fingerprints never leave the operator.
    */
  val q203 = Q(
    "q203_decontaminate_ngram",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |w AS (SELECT doc_id, unnest(range(0, len(toks) - 13 + 1)) AS pos, toks
      |      FROM t WHERE len(toks) >= 13),
      |h AS (SELECT doc_id,
      |        md5(array_to_string(list_slice(toks, pos + 1, pos + 13), ' ')) AS h
      |      FROM w),
      |bh AS (SELECT DISTINCT h FROM h WHERE doc_id % 89 = 0),
      |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM h
      |         WHERE h IN (SELECT h FROM bh) GROUP BY doc_id)
      |SELECT t.doc_id AS id,
      |  CAST(CASE WHEN len(t.toks) >= 13 THEN len(t.toks) - 12 ELSE 0 END AS BIGINT) AS n_windows,
      |  COALESCE(hits.n_hits, CAST(0 AS BIGINT)) AS n_hits,
      |  COALESCE(hits.n_hits, 0) > 0 AS contaminated
      |FROM t LEFT JOIN hits USING (doc_id)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val bench = docs.where(col("doc_id") % 89 === 0)
    graft.operators.Decontaminate.flagNgramCollision(docs, bench, "doc_id", "text")
      .orderBy("id")
  }

  val q201 = Q("q201_tokenize_ja_heldout21", graft.ja.JaGolden.heldout21OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus21.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q202 = Q("q202_tokenize_ja_heldout22", graft.ja.JaGolden.heldout22OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus22.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q221 = Q("q221_tokenize_ja_heldout23", graft.ja.JaGolden.heldout23OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus23.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q222 = Q("q222_tokenize_ja_heldout24", graft.ja.JaGolden.heldout24OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus24.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q229 = Q("q229_tokenize_ja_heldout25", graft.ja.JaGolden.heldout25OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus25.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q230 = Q("q230_tokenize_ja_heldout26", graft.ja.JaGolden.heldout26OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus26.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q194 = Q("q194_tokenize_ja_heldout19", graft.ja.JaGolden.heldout19OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus19.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q195 = Q("q195_tokenize_ja_heldout20", graft.ja.JaGolden.heldout20OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus20.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q186 = Q("q186_tokenize_ja_heldout18", graft.ja.JaGolden.heldout18OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus18.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q181 = Q("q181_tokenize_ja_heldout17", graft.ja.JaGolden.heldout17OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus17.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q171 = Q("q171_tokenize_ja_heldout16", graft.ja.JaGolden.heldout16OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus16.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  val q161 = Q("q161_tokenize_ja_heldout15", graft.ja.JaGolden.heldout15OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus15.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** Exact word-token Jaccard self-join at t = 1/2 via AllPairs/PPJoin
    * prefix filtering (engine side); the oracle brute-forces every
    * shared-token pair — an independent derivation, so a prefix-filter
    * completeness bug (a missed pair) would hash-mismatch.
    */
  val q153 = Q(
    "q153_set_similarity_join",
    """WITH tk0 AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
      |hot AS (SELECT tok FROM tk0 GROUP BY tok HAVING COUNT(*) > 100),
      |tk AS (SELECT * FROM tk0 WHERE tok NOT IN (SELECT tok FROM hot)),
      |sizes AS (SELECT doc_id, COUNT(*) n FROM tk GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) inter
      |  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
      |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |WHERE 2 * inter >= sa.n + sb.n - inter
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Dedup.setSimilarityJoin(t(s, dir, "documents"), "doc_id", "text",
      num = 1, den = 2, maxTokenDocFreq = 100).orderBy("id_a", "id_b")
  }

  /** UniMax budget allocation over derived non-uniform strata (the raw
    * sources are deliberately uniform in the testdata, which makes
    * waterfilling degenerate): suffix < 3 keeps its own stratum (25 docs
    * each at sf0.01), the rest merge by parity into two large strata
    * (200/225). Budget 304 exercises all three branches — capped prefix
    * (the three smalls), integer fair share for the two survivors, and
    * the rem-mod extra (+1 to the first uncapped in (cap, stratum)
    * order).
    */
  val q154 = Q(
    "q154_unimax_mix",
    s"""WITH d AS (SELECT doc_id,
       |    CASE WHEN CAST(substr(source, 4) AS INT) < 3
       |         THEN CAST(substr(source, 4) AS INT)
       |         ELSE 3 + CAST(substr(source, 4) AS INT) % 2 END AS stratum
       |  FROM documents),
       |c AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_source,
       |    CAST(COUNT(*) AS BIGINT) AS cap FROM d GROUP BY 1),
       |w AS (SELECT stratum, n_source, cap,
       |    COUNT(*) OVER () AS k,
       |    ROW_NUMBER() OVER (ORDER BY cap, stratum) AS idx,
       |    COALESCE(SUM(cap) OVER (ORDER BY cap, stratum
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
       |  FROM c),
       |f AS (SELECT *, cap * (k - idx + 1) <= 304 - cum_prev AS is_capped FROM w),
       |g AS (SELECT *,
       |    SUM(CASE WHEN is_capped THEN 0 ELSE 1 END) OVER (ORDER BY cap, stratum
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS urank,
       |    304 - SUM(CASE WHEN is_capped THEN cap ELSE 0 END) OVER () AS rem,
       |    k - SUM(CASE WHEN is_capped THEN 1 ELSE 0 END) OVER () AS m
       |  FROM f),
       |q AS (SELECT stratum, n_source, cap,
       |    CAST(CASE WHEN is_capped THEN cap
       |         ELSE rem // m + CASE WHEN urank <= rem % m THEN 1 ELSE 0 END
       |    END AS BIGINT) AS quota
       |  FROM g),
       |r AS (SELECT d.doc_id, d.stratum, q.n_source, q.cap, q.quota,
       |    ROW_NUMBER() OVER (PARTITION BY d.stratum ORDER BY
       |      ${hashSql("CAST(d.doc_id AS VARCHAR) || ':unimax'")}, d.doc_id)
       |      AS sample_rank
       |  FROM d JOIN q ON d.stratum = q.stratum)
       |SELECT doc_id, stratum, n_source, cap, quota,
       |  CAST(sample_rank AS INT) AS sample_rank
       |FROM r WHERE sample_rank <= LEAST(quota, n_source)
       |ORDER BY stratum, sample_rank""".stripMargin) { (s, dir) =>
    val sfx = substring(col("source"), 4, 10).cast("int")
    val base = t(s, dir, "documents").select(col("doc_id"),
      when(sfx < 3, sfx).otherwise(lit(3) + pmod(sfx, lit(2))).as("stratum"))
    graft.operators.Sampling.unimaxSample(base, "doc_id", "stratum",
        budget = 304L, maxEpochs = 1)
      .select(col("doc_id"), col("stratum"), col("n_source"), col("cap"),
        col("quota"), col("sample_rank"))
      .orderBy("stratum", "sample_rank")
  }

  /** Hilbert layout key (q155): the q118 Z-order companion on the same
    * quantized (o_custkey, o_totalprice) pair. The oracle unrolls the
    * 16 fold levels as chained CTEs — per level the quadrant term
    * s²·xor(3·rx, ry) accrues and the low bits rotate (flip by the
    * all-ones mask when rx=1 ∧ ry=0, then swap).
    */
  val q155 = Q(
    "q155_hilbert_key", {
      val mask = 65535L
      val levels = (0 until 16).map { i =>
        val s = 1L << (15 - i)
        val rx = s"CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END"
        val ry = s"CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END"
        s"""l${i + 1} AS (SELECT o_orderkey,
           |  d$i + CAST(${s * s} AS BIGINT) * xor(3 * ($rx), ($ry)) AS d${i + 1},
           |  CASE WHEN (y$i & $s) > 0 THEN x$i
           |       WHEN (x$i & $s) > 0 THEN $mask - y$i ELSE y$i END AS x${i + 1},
           |  CASE WHEN (y$i & $s) > 0 THEN y$i
           |       WHEN (x$i & $s) > 0 THEN $mask - x$i ELSE x$i END AS y${i + 1}
           |  FROM l$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH s AS (SELECT MIN(o_custkey) mn1, MAX(o_custkey) mx1,
         |  MIN(o_totalprice) mn2, MAX(o_totalprice) mx2 FROM orders),
         |l0 AS (SELECT o_orderkey, CAST(0 AS BIGINT) AS d0,
         |  CASE WHEN mx1 <= mn1 THEN 0 ELSE CAST(FLOOR(
         |    (CAST(o_custkey AS DOUBLE) - CAST(mn1 AS DOUBLE))
         |    / (CAST(mx1 AS DOUBLE) - CAST(mn1 AS DOUBLE)) * 65535.0) AS BIGINT) END AS x0,
         |  CASE WHEN mx2 <= mn2 THEN 0 ELSE CAST(FLOOR(
         |    (CAST(o_totalprice AS DOUBLE) - CAST(mn2 AS DOUBLE))
         |    / (CAST(mx2 AS DOUBLE) - CAST(mn2 AS DOUBLE)) * 65535.0) AS BIGINT) END AS y0
         |  FROM orders, s),
         |$levels
         |SELECT o_orderkey, d16 AS hkey FROM l16 ORDER BY o_orderkey""".stripMargin
    }) { (s, dir) =>
    Layout.withHilbertKey(t(s, dir, "orders"), "o_custkey", "o_totalprice", bits = 16)
      .select(col("o_orderkey"), col("hkey"))
      .orderBy("o_orderkey")
  }

  /** Fellegi–Sunter linkage over customers blocked by nation: integer
    * log-odds weights (segment +3/−2, balance band +2/−1, name tail
    * +1/0), threshold 5 — which structurally requires segment AND band
    * agreement. The balance band offsets before the integer division
    * because Spark's `div` truncates toward zero while DuckDB's `//`
    * floors: they differ on negatives, so the band is computed on a
    * shifted non-negative value in BOTH engines.
    */
  val q156 = Q(
    "q156_linkage_score",
    """WITH c AS (SELECT c_custkey, c_nationkey cc, c_mktsegment,
      |    (CAST(FLOOR(c_acctbal * 100) AS BIGINT) + 100000000) // 100000 AS bal_band,
      |    substr(c_name, length(c_name), 1) AS name_tail FROM customer)
      |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, a.cc AS block,
      |  CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 3 ELSE -2 END
      |     + CASE WHEN a.bal_band = b.bal_band THEN 2 ELSE -1 END
      |     + CASE WHEN a.name_tail = b.name_tail THEN 1 ELSE 0 END AS BIGINT) AS score
      |FROM c a JOIN c b ON a.cc = b.cc AND a.c_custkey < b.c_custkey
      |WHERE CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 3 ELSE -2 END
      |    + CASE WHEN a.bal_band = b.bal_band THEN 2 ELSE -1 END
      |    + CASE WHEN a.name_tail = b.name_tail THEN 1 ELSE 0 END >= 5
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val base = t(s, dir, "customer").select(
      col("c_custkey"),
      col("c_nationkey").as("cc"),
      col("c_mktsegment"),
      expr("(CAST(FLOOR(c_acctbal * 100) AS BIGINT) + 100000000) div 100000").as("bal_band"),
      substring(col("c_name"), -1, 1).as("name_tail"))
    Dedup.linkageScore(base, "c_custkey", "cc",
        Seq(("c_mktsegment", 3, -2), ("bal_band", 2, -1), ("name_tail", 1, 0)),
        minScore = 5)
      .orderBy("id_a", "id_b")
  }

  /** Multi-phrase tagging (q157): five phrases incl. a 3-token one. The
    * oracle brute-slices every position (no anchor pre-filter) — an
    * independent derivation, so an anchor-join bug that drops or
    * duplicates a candidate hash-mismatches.
    */
  val q157 = Q(
    "q157_phrase_tag",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
      |ph(tag, phrase, plen) AS (VALUES
      |  ('join', 'hash join', 2), ('join', 'sort merge', 2),
      |  ('join', 'sort merge join', 3), ('scan', 'table scan', 2),
      |  ('streaming', 'stream window', 2)),
      |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tk),
      |m AS (SELECT doc_id, tag, phrase, i FROM pos JOIN ph
      |  ON array_to_string(list_slice(t, i, i + plen - 1), ' ') = phrase)
      |SELECT doc_id, tag, phrase, CAST(i AS INT) AS pos
      |FROM m ORDER BY doc_id, pos, tag, phrase""".stripMargin) { (s, dir) =>
    graft.operators.TextAnalysis.phraseTag(t(s, dir, "documents"), "doc_id", "text",
        Seq(("join", "hash join"), ("join", "sort merge"),
          ("join", "sort merge join"), ("scan", "table scan"),
          ("streaming", "stream window")))
      .select(col("id").as("doc_id"), col("tag"), col("phrase"), col("pos"))
      .orderBy("doc_id", "pos", "tag", "phrase")
  }

  /** Embedding outlier gate (q158): operator COMPOSITION — the q128 IVF
    * fit + shuffle-free assignment, per-vector micro-cosine to the
    * assigned centroid (floor(cos·10⁶), the q71 integerization rule), and
    * the q133 exact-MAD gate grouped per cluster. The real curation step
    * this models: drop vectors far from every cluster (corrupt embeds,
    * wrong-modality rows) before they poison ANN recall.
    */
  val q158 = Q(
    "q158_embed_outlier_gate",
    s"""WITH s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id % 7 = 0
       |           ORDER BY vec_id LIMIT 65536),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
       |       FROM (SELECT vec_id, v FROM s ORDER BY vec_id LIMIT 4)),
       |${ivfIterSql("c0", 1)},
       |${ivfIterSql("c1", 2)},
       |corp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |         FROM embeddings),
       |asg AS (SELECT vec_id, cid, cs FROM (
       |         SELECT corp.vec_id, c2.cid, ${cosSql("corp.v", "c2.c")} AS cs,
       |           ROW_NUMBER() OVER (PARTITION BY corp.vec_id
       |             ORDER BY ${cosSql("corp.v", "c2.c")} DESC NULLS LAST, c2.cid) rn
       |         FROM corp CROSS JOIN c2) WHERE rn = 1),
       |r AS (SELECT cid, CAST(FLOOR(cs * 1000000) AS BIGINT) AS v FROM asg),
       |cnts AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnts),
       |cum AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM cnts),
       |med AS (SELECT MIN(v) AS med FROM cum CROSS JOIN tot
       |        WHERE c >= (n + 1) // 2),
       |dev AS (SELECT ABS(v - med) AS d, CAST(SUM(cnt) AS BIGINT) AS cnt
       |        FROM cnts CROSS JOIN med GROUP BY 1),
       |cum2 AS (SELECT d, CAST(SUM(cnt) OVER (ORDER BY d
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c FROM dev),
       |mad AS (SELECT MIN(d) AS mad FROM cum2 CROSS JOIN tot
       |        WHERE c >= (n + 1) // 2)
       |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(CASE WHEN ABS(v - med) > 5 * mad THEN 1 END) AS BIGINT)
       |    AS n_outliers,
       |  MAX(med) AS med, MAX(mad) AS mad
       |FROM r CROSS JOIN med CROSS JOIN mad
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val emb = t(s, dir, "embeddings")
    val m = IvfIndex.fit(emb.where(col("vec_id") % 7 === 0), nlist = 4, iters = 2)
    val scored = IvfIndex.assign(emb, m)
      .join(broadcast(m.toDF(s)), Seq("cid"))
      .select(col("cid"),
        floor(graft.functions.cosine_sim(col("embedding"), col("centroid"))
          * lit(1000000d)).cast("long").as("qcos"))
    Robust.madOutlierReport(scored, "qcos", mult = 5, groupCols = Seq("cid"))
      .orderBy("cid")
  }

  /** k-center greedy coreset (q159): 4 centers over the embeddings table.
    * The oracle unrolls the greedy's k steps as CTE pairs (b_i keeps the
    * running max-cosine, s_i takes the (best asc, vec_id asc) argmin
    * outside the selected set) — same IEEE cosine, same total order.
    */
  val q159 = Q(
    "q159_kcenter_coreset", {
      val steps = (2 to 4).map { i =>
        val prevSel = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
        s"""s$i AS (SELECT vec_id, v, best FROM b${i - 1}
           |  WHERE vec_id NOT IN ($prevSel)
           |  ORDER BY best, vec_id LIMIT 1),
           |b$i AS (SELECT b.vec_id, b.v,
           |    GREATEST(b.best, COALESCE(${cosSql("b.v", s"s$i.v")}, -2.0)) AS best
           |  FROM b${i - 1} b, s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH corp AS (SELECT vec_id, v FROM (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
         |  WHERE v IS NOT NULL
         |    AND list_reduce(list_transform(v, x -> x * x), (u, w) -> u + w) > 0),
         |s1 AS (SELECT vec_id, v FROM corp ORDER BY vec_id LIMIT 1),
         |b1 AS (SELECT c.vec_id, c.v,
         |    COALESCE(${cosSql("c.v", "s1.v")}, -2.0) AS best FROM corp c, s1),
         |$steps
         |SELECT CAST(1 AS INT) AS sel_order, vec_id, CAST(NULL AS DOUBLE) AS far_cos FROM s1
         |UNION ALL SELECT 2, vec_id, best FROM s2
         |UNION ALL SELECT 3, vec_id, best FROM s3
         |UNION ALL SELECT 4, vec_id, best FROM s4
         |ORDER BY sel_order""".stripMargin
    }) { (s, dir) =>
    graft.Graft.register(s)
    Similarity.kCenterGreedy(t(s, dir, "embeddings"), k = 4)
      .orderBy("sel_order")
  }

  /** Per-flag 5% trimmed mean of extended price in exact cents (q160).
    * Both engines trim over the same (cents, orderkey, linenumber) total
    * order; the kept-set sum is exact and the mean is its one IEEE
    * division.
    */
  val q160 = Q(
    "q160_trimmed_mean",
    """WITH r AS (SELECT l_returnflag AS grp,
      |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v,
      |    l_orderkey, l_linenumber FROM lineitem),
      |w AS (SELECT grp, v,
      |    ROW_NUMBER() OVER (PARTITION BY grp
      |      ORDER BY v, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY grp) AS n FROM r),
      |k AS (SELECT grp, v, n FROM w
      |  WHERE rn > (n * 50) // 1000 AND rn <= n - (n * 50) // 1000)
      |SELECT grp, MAX(n) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(v) AS BIGINT) AS sum_kept,
      |  CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
      |FROM k GROUP BY grp ORDER BY grp""".stripMargin) { (s, dir) =>
    val r = t(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
      floor(col("l_extendedprice") * 100).cast("long").as("v"),
      col("l_orderkey"), col("l_linenumber"))
    Robust.trimmedMeanReport(r, "v", Seq("grp"), permille = 50,
        tieCols = Seq("l_orderkey", "l_linenumber"))
      .orderBy("grp")
  }

  val q113 = Q("q113_tokenize_ja_heldout5", graft.ja.JaGolden.heldout5OracleSql) { (s, dir) =>
    graft.Graft.register(s)
    s.createDataFrame(graft.ja.JaGolden.heldoutCorpus5.map { case (sid, sentence, _) => (sid, sentence) })
      .toDF("sid", "sentence")
      .select(col("sid"),
        graft.functions.tokenize_ja_neologd(col("sentence")).as("toks"))
      .select(col("sid"), size(col("toks")).as("n_toks"),
        concat_ws("|", col("toks")).as("tokens"))
      .orderBy("sid")
  }

  /** C4-style duplicated-span removal (q108): 10-word spans, first
    * occurrence by (doc_id, span_idx) wins corpus-wide, documents
    * reassembled from surviving spans. The oracle mirrors the
    * first-occurrence rule with a row_number window and rebuilds the text
    * with an ordered string_agg (NULL-skipping on both engines; COALESCE
    * for the all-spans-removed document, where Spark's array_join of an
    * empty array is '').
    */
  val q108 = Q(
    "q108_span_dedup",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sp AS (SELECT doc_id, t,
      |         unnest(range(0, GREATEST(1, (len(t) + 9) // 10))) AS i
      |       FROM tk),
      |spans AS (SELECT doc_id, CAST(i AS INT) AS span_idx,
      |            array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' ') AS span
      |          FROM sp),
      |rk AS (SELECT doc_id, span_idx, span,
      |         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
      |       FROM spans)
      |SELECT doc_id, CAST(COUNT(*) AS INT) AS total_spans,
      |  CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS INT) AS kept_spans,
      |  COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '')
      |    AS text_dedup
      |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", spanWords = 10)
      .orderBy("doc_id")
  }

  /** Real media bytes through the full binary-column path (VERDICT r6
    * "Next round" #7): MediaFixture's structurally valid PNG/JPEG/GIF/WAV/
    * MP4 binaries (+ corrupt rows pinning the rejection paths, incl. the
    * short-mvhd bounds check) roundtrip through a parquet BINARY column —
    * write then scan, the shape the driver testdata lacks — and decode via
    * the real header parsers in one mapPartitions pass. The oracle is the
    * literal table of values determined by the fixture's construction
    * parameters; DuckDB hash-compares every decoded field.
    */
  val q102 = Q("q102_multimodal_binary",
    """SELECT * FROM (VALUES
      |  (1, 'png', 1, 1, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (2, 'png', 640, 480, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (3, 'jpg', 3, 2, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (4, 'jpg', 400, 300, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (5, 'gif', 7, 5, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (6, NULL, NULL, NULL, 2, 44100, 16, 1000, NULL, NULL, NULL),
      |  (7, NULL, NULL, NULL, 1, 16000, 8, 320, NULL, NULL, NULL),
      |  (8, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'isom', 600, 1200),
      |  (9, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'mp42', 90000, 450000),
      |  (10, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (11, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (12, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (13, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (14, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
      |  (15, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
      |) AS t(id, img_fmt, width, height, channels, sample_rate, bits,
      |       n_samples, mp4_brand, timescale, duration_ticks)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val fixture = graft.operators.MediaFixture.rows.toDF("id", "bytes")
    // binary-column parquet roundtrip: write then scan, so the decode reads
    // bytes that traveled through a real parquet BINARY column
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_q102_media_fixture").getAbsolutePath
    fixture.coalesce(1).write.mode("overwrite").parquet(tmp)
    graft.operators.Multimodal.decodeAllHeaders(s.read.parquet(tmp), "id", "bytes")
      .orderBy("id")
  }

  /** Streaming-surface twin inside the oracle gate (VERDICT r6 "Next
    * round" #8): the EXACT StreamingOps.intervalJoin code — the watermarked
    * stream-stream interval join — run on batch frames (watermarks are
    * no-ops in batch; the join predicate and column contract are
    * identical), so the driver hash-checks the operator definition, not a
    * re-implementation. Clicks enriched with the purchases of the
    * preceding hour, per user. Interval math is µs-exact on both sides.
    */
  val q103 = Q("q103_stream_interval_join",
    """SELECT e.user_id, e.event_id, e.ts, r.event_id AS event_id_r, r.ts AS ts_r
      |FROM events e JOIN events r ON e.user_id = r.user_id
      |  AND epoch_us(r.ts) >= epoch_us(e.ts) - 3600000000
      |  AND epoch_us(r.ts) <= epoch_us(e.ts)
      |WHERE e.event_type = 'click' AND r.event_type = 'purchase'
      |ORDER BY e.user_id, e.event_id, event_id_r""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    graft.streaming.StreamingOps.intervalJoin(
      ev.where(col("event_type") === "click"),
      ev.where(col("event_type") === "purchase"),
      lookback = "1 hour")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_id_r"), col("ts_r"))
      .orderBy("user_id", "event_id", "event_id_r")
  }

  /** Streaming session windows' twin: StreamingOps.sessionCounts (the
    * built-in session_window + watermark aggregation) on a batch frame,
    * hash-checked against a DuckDB gaps-and-islands derivation of the same
    * contract — sess_start = first event, sess_end = last event + gap.
    * Together with q21 (hand-rolled batch sessionize) this pins that the
    * engine session_window semantics and the SQL derivation agree.
    */
  val q104 = Q("q104_stream_session_window",
    """WITH e AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |         OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM e)
      |SELECT MIN(ts) AS sess_start,
      |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS sess_end,
      |  user_id, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin) { (s, dir) =>
    graft.streaming.StreamingOps.sessionCounts(t(s, dir, "events"))
      .orderBy("user_id", "sess_start")
  }

  /** HTML boilerplate stripping (q109). The driver corpus is plain text,
    * so both sides wrap each document in the same deterministic HTML
    * scaffold (script with a bare `<`, style, comment, attributes,
    * entities) and the oracle re-runs the strip chain verbatim in RE2 —
    * pinning block-before-tag ordering, entity decode order (&amp; last),
    * and the whitespace collapse.
    */
  val q109 = Q(
    "q109_html_strip", {
      def lit1(s0: String) = "'" + s0.replace("'", "''") + "'"
      raw"""WITH h AS (SELECT doc_id,
        |  concat('<html><head><title>', source,
        |         '</title><script type="text/javascript">var x = 1 < 2;</script>',
        |         '<style>p { color: red; }</style></head><body><!-- nav -->',
        |         '<h1 class="main">', lang, '</h1><p id="d', doc_id, '">', text,
        |         '</p><br/>&nbsp;&amp;co &#39;q&#39; &lt;tag&gt;</body></html>') AS html
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(html, ${lit1(TextAnalysis.HtmlTagRe)})) AS n_tags,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(html,
        |        ${lit1(TextAnalysis.HtmlBlockRe)}, ' ', 'g'),
        |        ${lit1(TextAnalysis.HtmlCommentRe)}, ' ', 'g'),
        |        ${lit1(TextAnalysis.HtmlTagRe)}, ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&'),
        |    '[ \t\n\r]+', ' ', 'g')) AS text
        |FROM h ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val wrapped = t(s, dir, "documents").withColumn("html", concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2;</script>" +
        "<style>p { color: red; }</style></head><body><!-- nav -->" +
        "<h1 class=\"main\">"), col("lang"),
      lit("</h1><p id=\"d"), col("doc_id").cast("string"), lit("\">"), col("text"),
      lit("</p><br/>&nbsp;&amp;co &#39;q&#39; &lt;tag&gt;</body></html>")))
    TextAnalysis.stripHtml(wrapped, "doc_id", "html").orderBy("doc_id")
  }

  /** q110's dirty garnish, shared verbatim by the Spark side and the
    * oracle literal: curly quote, fullwidth Test/123/!, NBSP, ideographic
    * space, en/em dashes, and a ZWSP. Unicode escapes, not raw chars, so
    * the invisibles are visible in review.
    */
  private val DirtyPre =
    "\u201C\uFF34\uFF45\uFF53\uFF54\u00A0\uFF11\uFF12\uFF13\uFF01\u201D\u3000"
  private val DirtyMid = "\u2013x\u2014\u200B"

  /** Unicode hygiene normalization (q110): both sides prepend/append the
    * same dirty garnish (fullwidth ASCII, curly quotes, NBSP, ideographic
    * space, en/em dashes, ZWSP, ellipsis, a C0 control) to each document,
    * and the oracle replays translate + replace + the two strips + the
    * collapse with literals generated from the SAME NormFrom/NormTo
    * constants — a drifted mapping fails the hash.
    */
  val q110 = Q(
    "q110_normalize_text", {
      def lit1(s0: String) = "'" + s0.replace("'", "''") + "'"
      raw"""WITH d AS (SELECT doc_id,
         |  concat(${lit1(DirtyPre)}, lang, ${lit1(DirtyMid)}, text, '\u2026', chr(7))
         |    AS dirty FROM documents),
         |c AS (SELECT doc_id, dirty,
         |  trim(regexp_replace(regexp_replace(regexp_replace(
         |    replace(translate(dirty, ${lit1(TextAnalysis.NormFrom)},
         |                      ${lit1(TextAnalysis.NormTo)}), '\u2026', '...'),
         |    '${TextAnalysis.ZeroWidthRe}', '', 'g'),
         |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
         |    '[ \t\n\r]+', ' ', 'g')) AS clean FROM d)
         |SELECT doc_id, length(dirty) AS n_chars_raw, clean AS text,
         |  length(clean) AS n_chars, clean <> dirty AS changed
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val dirty = t(s, dir, "documents").withColumn("dirty", concat(
      lit(DirtyPre), col("lang"), lit(DirtyMid), col("text"),
      lit("\u2026\u0007")))
    TextAnalysis.normalizeText(dirty, "doc_id", "dirty").orderBy("doc_id")
  }

  val q111 = Q(
    "q111_mixture_weights",
    s"""WITH h AS (SELECT doc_id, lang,
       |  ${hashSql("CAST(doc_id AS VARCHAR) || ':mix'")} % 10000 AS hh
       |  FROM documents),
       |c AS (SELECT doc_id, lang,
       |  (CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 0 WHEN 'de' THEN 0 ELSE 1 END)
       |  + (CASE WHEN hh < (CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 5000
       |                     ELSE 0 END) THEN 1 ELSE 0 END) AS n
       |  FROM h)
       |SELECT * FROM (
       |  SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy
       |  FROM c WHERE n >= 1)
       |ORDER BY lang, doc_id, copy""".stripMargin) { (s, dir) =>
    graft.operators.Sampling.mixtureWeights(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang",
      Map("en" -> 2.3, "zh" -> 0.5, "de" -> 0.0))
      .orderBy("lang", "doc_id", "copy")
  }

  /** Per-source corpus health report (q112): doc/token volume, exact-dup
    * rate on md5 fingerprints, short-doc fraction — one hash aggregate.
    */
  val q112 = Q(
    "q112_corpus_report",
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(CASE WHEN len(string_split(text, ' ')) < 50 THEN 1 END) AS BIGINT)
      |    AS n_short,
      |  1 - COUNT(DISTINCT md5(text)) / COUNT(*) AS dup_frac,
      |  COUNT(CASE WHEN len(string_split(text, ' ')) < 50 THEN 1 END) / COUNT(*)
      |    AS short_frac
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    TextAnalysis.corpusReport(t(s, dir, "documents"), "source", "text")
      .orderBy("source")
  }

  /** Near-dup cluster representative selection (q196): for every q67
    * cluster keep the richest copy — score = distinct-token count, ties by
    * doc_id (Dedup.clusterRepresentatives). The oracle re-derives the LSH
    * pairs, the recursive-CTE components, AND the in-cluster argmax.
    */
  val q196 = Q(
    "q196_cluster_representatives",
    s"""WITH RECURSIVE $lshPairCtes,
       |symp AS (SELECT id_a AS a, id_b AS b FROM pairs
       |         UNION ALL SELECT id_b, id_a FROM pairs),
       |cnodes AS (SELECT DISTINCT a AS id FROM symp),
       |reach(src, dst) AS (
       |  SELECT id, id FROM cnodes
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN symp s ON s.a = r.dst),
       |lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs FROM lab GROUP BY cluster_id),
       |sc AS (SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS score
       |       FROM documents)
       |SELECT lab.cluster_id, lab.doc_id, sc.score, cs.n_docs,
       |  (ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
       |     ORDER BY sc.score DESC, lab.doc_id)) = 1 AS keep
       |FROM lab JOIN cs USING (cluster_id) JOIN sc USING (doc_id)
       |ORDER BY cluster_id, doc_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Dedup.clusterRepresentatives(t(s, dir, "documents"), "doc_id", "text",
      k = 6, numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy("cluster_id", "doc_id")
  }

  /** Encoding-damage gate (q197): U+FFFD and C0/DEL control densities in
    * integer ppm, gate at 1000 ppm combined — pure codegen projection
    * (TextAnalysis.encodingDamageReport). DuckDB regexp_replace needs the
    * 'g' flag to mirror Spark's replace-all default.
    */
  val q197 = Q(
    "q197_encoding_damage",
    """WITH c AS (SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT)
      |      AS n_replacement,
      |    CAST(length(text) - length(regexp_replace(text,
      |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT) AS n_ctrl
      |  FROM documents)
      |SELECT doc_id, n_chars, n_replacement, n_ctrl,
      |  CAST(CASE WHEN n_chars > 0 THEN n_replacement * 1000000 // n_chars ELSE 0 END AS BIGINT)
      |    AS replacement_ppm,
      |  CAST(CASE WHEN n_chars > 0 THEN n_ctrl * 1000000 // n_chars ELSE 0 END AS BIGINT)
      |    AS ctrl_ppm,
      |  (CASE WHEN n_chars > 0 THEN n_replacement * 1000000 // n_chars ELSE 0 END) +
      |  (CASE WHEN n_chars > 0 THEN n_ctrl * 1000000 // n_chars ELSE 0 END) >= 1000
      |    AS damaged
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.encodingDamageReport(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Normalized-fingerprint dedup (q198): casefold / strip non-alnum /
    * collapse whitespace, keep min doc_id per md5 of the normal form
    * (Dedup.normalizedDedup) — the fuzzy-exact rung below MinHash.
    */
  val q198 = Q(
    "q198_normalized_dedup",
    """WITH n AS (SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents),
      |fp AS (SELECT doc_id, md5(norm) AS fp, length(norm) = 0 AS blank FROM n)
      |SELECT doc_id, fp,
      |  blank OR doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
      |FROM fp ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.normalizedDedup(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Script-mix profile (q199): per-doc char counts by writing-system
    * class + fixed-priority dominant label (TextAnalysis.scriptMixReport)
    * — pure codegen projection; the oracle mirrors the ranges and the
    * CASE chain exactly ('g' flag for RE2's replace-all).
    */
  val q199 = Q(
    "q199_script_mix",
    """WITH c AS (SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |    CAST(length(text) - length(regexp_replace(text, '[\x{3041}-\x{3096}]', '', 'g')) AS BIGINT) AS n_hiragana,
      |    CAST(length(text) - length(regexp_replace(text, '[\x{30A1}-\x{30FA}\x{30FC}]', '', 'g')) AS BIGINT) AS n_katakana,
      |    CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS n_kanji,
      |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space
      |  FROM documents),
      |d AS (SELECT *, n_chars - n_latin - n_digit - n_hiragana - n_katakana - n_kanji - n_space AS n_other FROM c)
      |SELECT doc_id, n_chars, n_latin, n_digit, n_hiragana, n_katakana, n_kanji, n_space, n_other,
      |  CASE WHEN n_chars = 0 THEN 'empty'
      |       WHEN n_latin + n_digit + n_hiragana + n_katakana + n_kanji + n_other = 0 THEN 'space'
      |       WHEN n_latin >= GREATEST(n_digit, n_hiragana, n_katakana, n_kanji, n_other) THEN 'latin'
      |       WHEN n_digit >= GREATEST(n_hiragana, n_katakana, n_kanji, n_other) THEN 'digit'
      |       WHEN n_hiragana >= GREATEST(n_katakana, n_kanji, n_other) THEN 'hiragana'
      |       WHEN n_katakana >= GREATEST(n_kanji, n_other) THEN 'katakana'
      |       WHEN n_kanji >= n_other THEN 'kanji'
      |       ELSE 'other' END AS dominant
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.scriptMixReport(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Heaps-law vocabulary growth (q200): cumulative distinct tokens at
    * ten doc-id deciles (TextAnalysis.vocabularyGrowth) — integer decile
    * assignment, ≤10-row driver cumsum, no unpartitioned window.
    */
  val q200 = Q(
    "q200_vocabulary_growth",
    """WITH mx AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) - MIN(doc_id) + 1 AS span FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |f AS (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok),
      |b AS (SELECT CAST(((fd - mx.mn + 1) * 10 + mx.span - 1) // mx.span AS BIGINT) AS bucket FROM f, mx),
      |c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new FROM b GROUP BY bucket),
      |g AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS bucket),
      |j AS (SELECT g.bucket, COALESCE(c.n_new, 0) AS n_new FROM g LEFT JOIN c USING (bucket))
      |SELECT j.bucket, CAST(mx.mn - 1 + mx.span * j.bucket // 10 AS BIGINT) AS doc_threshold,
      |  CAST(j.n_new AS BIGINT) AS n_new,
      |  CAST(SUM(j.n_new) OVER (ORDER BY j.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
      |FROM j, mx ORDER BY j.bucket""".stripMargin) { (s, dir) =>
    TextAnalysis.vocabularyGrowth(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("bucket")
  }

  // ---- q208: product-quantization ANN (Jégou/Douze/Schmid 2011) ----

  /** One PQ subspace's oracle chain: local dim re-base, the shared seed
    * rows, two unrolled Lloyd cycles in the q162 arithmetic, the encode
    * argmin under the final centroids, and the per-query ADC distance rows
    * (which are exactly the e-CTE rows filtered to the query set — the
    * lookup table IS the assignment-distance relation).
    */
  private def pqSubCtes(j: Int, lo: Int, hi: Int, src: String = "vq"): String = {
    val v = s"v$j"
    def iter(prev: String, i: Int) =
      s"""d${j}_$i AS (SELECT v.vec_id, c.cid,
         |  CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS dist
         |  FROM $v v JOIN $prev c ON v.d = c.d GROUP BY 1, 2),
         |a${j}_$i AS (SELECT vec_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY dist, cid) AS rn FROM d${j}_$i) WHERE rn = 1),
         |m${j}_$i AS (SELECT a.cid, v.d, CAST(SUM(v.q) // COUNT(*) AS BIGINT) AS q
         |  FROM a${j}_$i a JOIN $v v USING (vec_id) GROUP BY 1, 2),
         |c${j}_$i AS (SELECT p.cid, p.d, COALESCE(m.q, p.q) AS q
         |  FROM $prev p LEFT JOIN m${j}_$i m ON p.cid = m.cid AND p.d = m.d)""".stripMargin
    s"""$v AS (SELECT vec_id, d - ${lo - 1} AS d, q FROM $src WHERE d >= $lo AND d <= $hi),
       |c${j}_0 AS (SELECT s.cid, v.d, v.q FROM seed s JOIN $v v USING (vec_id)),
       |${iter(s"c${j}_0", 1)},
       |${iter(s"c${j}_1", 2)},
       |e$j AS (SELECT v.vec_id, c.cid,
       |  CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS dist
       |  FROM $v v JOIN c${j}_2 c ON v.d = c.d GROUP BY 1, 2),
       |enc$j AS (SELECT vec_id, cid AS code FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM e$j) WHERE rn = 1),
       |dt$j AS (SELECT vec_id AS qid, cid, dist FROM e$j WHERE vec_id % 97 = 0)""".stripMargin
  }

  /** Product-quantization ANN (q208): m=4 subspaces × 16 dims, kCent=4
    * codebook entries per subspace fit with the exact integer Lloyd
    * (2 cycles, the q162 contract), corpus encoded as 4 codes, queries
    * (vec_id % 97) answered by asymmetric distance computation — the
    * lookup-table sum of exact per-subspace long distances. The oracle
    * replays ALL of it: four per-subspace fit chains off one shared seed
    * CTE, the encode argmins, and the four-way table-lookup join; a drift
    * anywhere (a mean, a tie, a code, one lookup) hash-fails.
    */
  val q208 = Q(
    "q208_pq_ann",
    s"""WITH vq AS (SELECT vec_id, d,
       |    CAST(FLOOR(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
       |seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
       |${pqSubCtes(0, 1, 16)},
       |${pqSubCtes(1, 17, 32)},
       |${pqSubCtes(2, 33, 48)},
       |${pqSubCtes(3, 49, 64)},
       |full_d AS (SELECT d0.qid, e0.vec_id AS nid,
       |    d0.dist + d1.dist + d2.dist + d3.dist AS dist
       |  FROM enc0 e0
       |  JOIN enc1 e1 USING (vec_id) JOIN enc2 e2 USING (vec_id)
       |  JOIN enc3 e3 USING (vec_id)
       |  JOIN dt0 d0 ON d0.cid = e0.code
       |  JOIN dt1 d1 ON d1.qid = d0.qid AND d1.cid = e1.code
       |  JOIN dt2 d2 ON d2.qid = d0.qid AND d2.cid = e2.code
       |  JOIN dt3 d3 ON d3.qid = d0.qid AND d3.cid = e3.code
       |  WHERE e0.vec_id <> d0.qid)
       |SELECT qid, nid, dist, CAST(rn AS INT) AS rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dist, nid) AS rn FROM full_d)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    graft.operators.Quantize.pqTopK(emb, emb.where(col("vec_id") % 97 === 0),
        m = 4, kCent = 4, iters = 2, topK = 5)
      .orderBy("qid", "rn")
  }

  /** Interpolated Kneser–Ney bigram gate (q209; Kneser & Ney 1995 — the
    * CCNet perplexity-filter smoothing family): model trained on the
    * doc_id % 10 ≠ 0 split, EVERY doc scored, so unseen-context backoff
    * (the pure continuation estimate) is exercised on real held-out rows.
    * All-integer rational arithmetic over the common denominator 4·c1·N;
    * improbable = P < 1/1000 by cross-multiply. The oracle replays counts,
    * continuation stats, both branches, and the per-doc rollup.
    */
  val q209 = Q(
    "q209_kn_bigram_gate",
    """WITH alltk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |trb AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
      |  SELECT t, unnest(range(1, len(t))) AS i FROM alltk WHERE doc_id % 10 <> 0)),
      |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM trb GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |        CAST(COUNT(*) AS BIGINT) AS n1fol FROM bi GROUP BY 1),
      |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM bi GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM bi),
      |db AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
      |  SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM alltk)),
      |sc AS (SELECT d.doc_id,
      |    COALESCE(b.c12, 0) AS c12, COALESCE(x.c1, 0) AS c1,
      |    COALESCE(x.n1fol, 0) AS n1fol, COALESCE(ct.ncont, 0) AS ncont, tot.nn
      |  FROM db d LEFT JOIN bi b USING (w1, w2) LEFT JOIN ctx x USING (w1)
      |  LEFT JOIN cont ct USING (w2) CROSS JOIN tot),
      |f AS (SELECT doc_id, c1,
      |    CASE WHEN c1 > 0
      |         THEN GREATEST(4 * c12 - 3, 0) * nn + 3 * n1fol * ncont
      |         ELSE ncont END AS num,
      |    CASE WHEN c1 > 0 THEN 4 * c1 * nn ELSE nn END AS den
      |  FROM sc),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_ctx,
      |    CAST(SUM(CASE WHEN den = 0 OR num * 1000 < den THEN 1 ELSE 0 END) AS BIGINT) AS n_improb
      |  FROM f GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
      |  COALESCE(a.n_unseen_ctx, CAST(0 AS BIGINT)) AS n_unseen_ctx,
      |  COALESCE(a.n_improb, CAST(0 AS BIGINT)) AS n_improb,
      |  CASE WHEN COALESCE(a.n_bigrams, 0) > 0
      |       THEN CAST(a.n_improb * 1000000 // a.n_bigrams AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS improb_ppm,
      |  COALESCE(a.n_improb, 0) * 5 <= COALESCE(a.n_bigrams, 0) AS keep
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    TextAnalysis.knBigramGate(docs, docs.where(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Hashed-feature batch-perceptron quality classifier (q210; the
    * fastText-style linear gate, Joulin et al. 2017): seed label = lang
    * 'en' vs rest, training split doc_id % 5 ≠ 0, 32 hash buckets, 2
    * epochs. The oracle unrolls both epochs: from w=0 epoch 1's update is
    * the full class-difference sum; epoch 2 re-scores, takes the
    * misclassified set, and adds its delta; final scores come from the
    * epoch-2 weights over ALL docs (held-out included).
    */
  val q210 = Q(
    "q210_perceptron_quality",
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, CAST(${hashSql("tok")} % 32 AS INT) AS f,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2),
       |lab AS (SELECT doc_id,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
       |    doc_id % 5 <> 0 AS is_train
       |  FROM documents),
       |trf AS (SELECT tf.doc_id, tf.f, tf.cnt, l.y
       |  FROM tf JOIN lab l USING (doc_id) WHERE l.is_train),
       |w1 AS (SELECT f, CAST(SUM(y * cnt) AS BIGINT) AS w FROM trf GROUP BY 1),
       |s2 AS (SELECT t.doc_id, t.y,
       |    CAST(SUM(t.cnt * COALESCE(w1.w, 0)) AS BIGINT) AS s
       |  FROM trf t LEFT JOIN w1 USING (f) GROUP BY 1, 2),
       |m2 AS (SELECT doc_id, y FROM s2 WHERE y * s <= 0),
       |d2 AS (SELECT t.f, CAST(SUM(t.y * t.cnt) AS BIGINT) AS d
       |  FROM trf t JOIN m2 USING (doc_id, y) GROUP BY 1),
       |w2 AS (SELECT COALESCE(w1.f, d2.f) AS f,
       |    CAST(COALESCE(w1.w, 0) + COALESCE(d2.d, 0) AS BIGINT) AS w
       |  FROM w1 FULL JOIN d2 ON w1.f = d2.f),
       |fs AS (SELECT tf.doc_id,
       |    CAST(SUM(tf.cnt * COALESCE(w2.w, 0)) AS BIGINT) AS score
       |  FROM tf LEFT JOIN w2 USING (f) GROUP BY 1)
       |SELECT l.doc_id, l.y,
       |  COALESCE(fs.score, CAST(0 AS BIGINT)) AS score,
       |  CAST(CASE WHEN COALESCE(fs.score, 0) > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
       |  (CASE WHEN COALESCE(fs.score, 0) > 0 THEN 1 ELSE -1 END) = l.y AS correct,
       |  l.is_train
       |FROM lab l LEFT JOIN fs USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.QualityClassifier.perceptron(
        t(s, dir, "documents"), "doc_id", "text",
        label = when(col("lang") === "en", 1L).otherwise(-1L),
        isTrain = col("doc_id") % 5 =!= 0,
        nFeatures = 32, epochs = 2)
      .orderBy("doc_id")
  }

  /** IVFADC (q212): the full Jégou 2011 layout — coarse integer k-means
    * lists (the q162 chain verbatim), exact long RESIDUALS from the
    * assigned centroid, per-subspace residual codebooks (the q208 chains
    * re-sourced FROM the residual relation, scale 1), nprobe=2 probe
    * selection by (coarse dist, cid), and candidate scoring by residual
    * lookup tables keyed (qid, probed cid). The oracle replays every
    * stage: a drift in the coarse fit, the residual arithmetic, any
    * sub-fit iteration, the probe ranking, or one table lookup
    * hash-fails.
    */
  val q212 = Q(
    "q212_ivfadc_ann",
    s"""WITH vq AS (SELECT vec_id, d,
       |    CAST(FLOOR(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS e,
       |          generate_subscripts(embedding, 1) AS d FROM embeddings)),
       |seed AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
       |c0 AS (SELECT s.cid, v.d, v.q FROM seed s JOIN vq v USING (vec_id)),
       |${kmeansIterSql("c0", 1)},
       |${kmeansIterSql("c1", 2)},
       |ad AS (SELECT v.vec_id, c.cid,
       |  CAST(SUM((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS dist
       |  FROM vq v JOIN c2 c ON v.d = c.d GROUP BY 1, 2),
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM ad) WHERE rn = 1),
       |r AS (SELECT v.vec_id, v.d, v.q - c.q AS q
       |  FROM vq v JOIN af a USING (vec_id)
       |  JOIN c2 c ON c.cid = a.cid AND c.d = v.d),
       |${pqSubCtes(0, 1, 16, "r")},
       |${pqSubCtes(1, 17, 32, "r")},
       |${pqSubCtes(2, 33, 48, "r")},
       |${pqSubCtes(3, 49, 64, "r")},
       |probe AS (SELECT vec_id AS qid, cid AS pcid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM ad WHERE vec_id % 97 = 0)
       |  WHERE rn <= 2),
       |qres AS (SELECT p.qid, p.pcid, v.d, v.q - c.q AS q
       |  FROM probe p JOIN vq v ON v.vec_id = p.qid
       |  JOIN c2 c ON c.cid = p.pcid AND c.d = v.d),
       |qdt0 AS (SELECT qr.qid, qr.pcid, s.cid,
       |    CAST(SUM((qr.q - s.q) * (qr.q - s.q)) AS BIGINT) AS dist
       |  FROM (SELECT qid, pcid, d - 0 AS d, q FROM qres
       |        WHERE d >= 1 AND d <= 16) qr
       |  JOIN c0_2 s ON s.d = qr.d GROUP BY 1, 2, 3),
       |qdt1 AS (SELECT qr.qid, qr.pcid, s.cid,
       |    CAST(SUM((qr.q - s.q) * (qr.q - s.q)) AS BIGINT) AS dist
       |  FROM (SELECT qid, pcid, d - 16 AS d, q FROM qres
       |        WHERE d >= 17 AND d <= 32) qr
       |  JOIN c1_2 s ON s.d = qr.d GROUP BY 1, 2, 3),
       |qdt2 AS (SELECT qr.qid, qr.pcid, s.cid,
       |    CAST(SUM((qr.q - s.q) * (qr.q - s.q)) AS BIGINT) AS dist
       |  FROM (SELECT qid, pcid, d - 32 AS d, q FROM qres
       |        WHERE d >= 33 AND d <= 48) qr
       |  JOIN c2_2 s ON s.d = qr.d GROUP BY 1, 2, 3),
       |qdt3 AS (SELECT qr.qid, qr.pcid, s.cid,
       |    CAST(SUM((qr.q - s.q) * (qr.q - s.q)) AS BIGINT) AS dist
       |  FROM (SELECT qid, pcid, d - 48 AS d, q FROM qres
       |        WHERE d >= 49 AND d <= 64) qr
       |  JOIN c3_2 s ON s.d = qr.d GROUP BY 1, 2, 3),
       |cand AS (SELECT p.qid, a.vec_id AS nid, p.pcid,
       |    e0.code AS k0, e1.code AS k1, e2.code AS k2, e3.code AS k3
       |  FROM af a JOIN probe p ON a.cid = p.pcid
       |  JOIN enc0 e0 ON e0.vec_id = a.vec_id
       |  JOIN enc1 e1 ON e1.vec_id = a.vec_id
       |  JOIN enc2 e2 ON e2.vec_id = a.vec_id
       |  JOIN enc3 e3 ON e3.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.qid),
       |full_d AS (SELECT c.qid, c.nid,
       |    q0.dist + q1.dist + q2.dist + q3.dist AS dist
       |  FROM cand c
       |  JOIN qdt0 q0 ON q0.qid = c.qid AND q0.pcid = c.pcid AND q0.cid = c.k0
       |  JOIN qdt1 q1 ON q1.qid = c.qid AND q1.pcid = c.pcid AND q1.cid = c.k1
       |  JOIN qdt2 q2 ON q2.qid = c.qid AND q2.pcid = c.pcid AND q2.cid = c.k2
       |  JOIN qdt3 q3 ON q3.qid = c.qid AND q3.pcid = c.pcid AND q3.cid = c.k3)
       |SELECT qid, nid, dist, CAST(rn AS INT) AS rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dist, nid) AS rn FROM full_d)
       |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    graft.operators.Quantize.ivfAdcTopK(emb,
        emb.where(col("vec_id") % 97 === 0),
        kCoarse = 4, nprobe = 2, m = 4, kCent = 4, iters = 2, topK = 5)
      .orderBy("qid", "rn")
  }

  /** Per-source curation funnel (q211): attrition through the sequential
    * encoding → diversity → repetition gate chain, per source — the
    * steering dashboard of a large curation run. ONE scan evaluates all
    * three codegen kernels; the oracle composes the q197/q163 gate CTEs
    * and the shared q205 repetition chain over the same derived-break
    * text, then re-aggregates. Gate-formula lockstep with the standalone
    * reports is spec-pinned (CurationFunnelSpec cross-equivalence).
    */
  val q211 = Q(
    "q211_curation_funnel",
    s"""$gopherRepCtes,
       |k AS (SELECT f.doc_id, $gopherKeepSql AS keep FROM f),
       |enc AS (SELECT doc_id,
       |    (CASE WHEN n_chars > 0 THEN n_replacement * 1000000 // n_chars ELSE 0 END) +
       |    (CASE WHEN n_chars > 0 THEN n_ctrl * 1000000 // n_chars ELSE 0 END) >= 1000
       |      AS damaged
       |  FROM (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |      CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT)
       |        AS n_replacement,
       |      CAST(length(text) - length(regexp_replace(text,
       |        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) AS BIGINT) AS n_ctrl
       |    FROM d)),
       |dv AS (SELECT doc_id,
       |    (n_chars >= 2 AND coll_num * 1000 > 80 * n_chars * (n_chars - 1))
       |      OR n_distinct < 10 AS gib
       |  FROM (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
       |      CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |      CAST(SUM(n * (n - 1)) AS BIGINT) AS coll_num
       |    FROM (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n FROM
       |        (SELECT doc_id, unnest(string_split(text, '')) AS c FROM d)
       |      GROUP BY 1, 2)
       |    GROUP BY 1)),
       |fu AS (SELECT s.source,
       |    NOT e.damaged AS p1,
       |    NOT e.damaged AND NOT v.gib AS p2,
       |    NOT e.damaged AND NOT v.gib AND k.keep AS p3
       |  FROM k JOIN enc e USING (doc_id) JOIN dv v USING (doc_id)
       |  JOIN (SELECT doc_id, source FROM documents) s USING (doc_id))
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_encoding,
       |  CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_diversity,
       |  CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_repetition,
       |  CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
       |    AS survival_ppm
       |FROM fu GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val derived = t(s, dir, "documents").select(col("source"),
      replace(replace(col("text"), lit(" part "), lit("\n\n")),
        lit(" line "), lit("\n")).as("text"))
    TextAnalysis.curationFunnelBySource(derived, "source", "text")
      .orderBy("source")
  }

  /** Margin-based bitext mining (q213; Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix parallel-pair criterion): the embeddings table split
    * into a bounded "source" side (vec_id % 20 = 0) and a "target" side
    * (odd vec_ids), forward top-4 candidates rescored by the ratio margin
    * cos / ((avgNN(x) + avgNN(y)) / 2). Both neighborhood means fold in
    * rank order from 0.0 and divide by the found-neighbor count, so every
    * double bit replays; the oracle mirrors the windows and folds exactly.
    */
  val q213 = Q(
    "q213_margin_bitext",
    s"""WITH x AS (SELECT vec_id xid, embedding xe FROM embeddings WHERE vec_id % 20 = 0),
       |y AS (SELECT vec_id yid, embedding ye FROM embeddings WHERE vec_id % 2 = 1),
       |sc AS (SELECT * FROM (
       |  SELECT xid, yid, ${cosSql("xe", "ye")} AS cos FROM y CROSS JOIN x)
       |  WHERE cos IS NOT NULL),
       |fwd AS (SELECT xid, yid, cos, ROW_NUMBER() OVER (
       |    PARTITION BY xid ORDER BY cos DESC, yid) AS rn FROM sc),
       |fk AS (SELECT * FROM fwd WHERE rn <= 4),
       |ax AS (SELECT xid, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(cos ORDER BY rn)), (a, v) -> a + v)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_x FROM fk GROUP BY xid),
       |bwd AS (SELECT xid, yid, cos, ROW_NUMBER() OVER (
       |    PARTITION BY yid ORDER BY cos DESC, xid) AS rn FROM sc),
       |bk AS (SELECT * FROM bwd WHERE rn <= 4),
       |ay AS (SELECT yid, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(cos ORDER BY rn)), (a, v) -> a + v)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_y FROM bk GROUP BY yid)
       |SELECT f.xid, f.yid, f.cos, CAST(f.rn AS INT) AS rn,
       |  f.cos / ((ax.avg_x + ay.avg_y) / 2.0) AS margin,
       |  (ax.avg_x + ay.avg_y) > 0.0 AND
       |    f.cos / ((ax.avg_x + ay.avg_y) / 2.0) > 1.05 AS accepted
       |FROM fk f JOIN ax USING (xid) JOIN ay USING (yid)
       |ORDER BY f.xid, f.rn""".stripMargin) { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    Similarity.marginBitextMine(
        emb.where(col("vec_id") % 20 === 0),
        emb.where(col("vec_id") % 2 === 1),
        k = 4, threshold = 1.05)
      .orderBy("xid", "rn")
  }

  /** BM25 hard-negative mining (q214; the DPR recipe, Karpukhin et al.
    * 2020): per query doc (doc_id % 100 = 0), the top-8 lexically-closest
    * corpus docs under doc-as-query BM25 (rational idf — house libm rule;
    * each query capped at its 16 rarest-df terms, the Lucene MoreLikeThis
    * protocol — the cap is what keeps doc-as-query sub-quadratic on a
    * low-entropy corpus), annotated with the embedding cosine; is_hard
    * flags lexically-close-but-semantically-distant candidates (cos <
    * 0.1). Embeddings LEFT-join (sf0.1 has vectors for only the first
    * 2000 doc ids — missing vectors keep cos null, is_hard false). The
    * oracle replays the per-query BM25 chain with the q127 fold
    * discipline, the term-cap window, and the same left joins.
    */
  val q214 = Q(
    "q214_bm25_hard_negatives",
    s"""WITH qd AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id % 100 = 0),
       |qt AS (SELECT DISTINCT qid, unnest(string_split(text, ' ')) AS term FROM qd),
       |terms AS (SELECT DISTINCT term FROM qt),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |lens AS (SELECT doc_id, len(t) AS dl FROM tk),
       |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
       |m AS (SELECT doc_id, unnest(t) AS term FROM tk),
       |f AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |      FROM m JOIN terms USING (term) GROUP BY 1, 2),
       |dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dft FROM f GROUP BY 1),
       |qtc AS (SELECT qid, term FROM (
       |    SELECT qt.qid, qt.term, ROW_NUMBER() OVER (
       |      PARTITION BY qt.qid ORDER BY dfr.dft ASC, qt.term ASC) AS qtr
       |    FROM qt JOIN dfr USING (term)) WHERE qtr <= 16),
       |sc AS (SELECT qtc.qid, f.doc_id, f.term,
       |         CAST(FLOOR((((CAST(n_docs AS DOUBLE) - dft + 0.5) / (dft + 0.5))
       |           * (CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0} / (CAST(tf AS DOUBLE)
       |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))))
       |           * 1048576.0) AS BIGINT) AS sq
       |       FROM f JOIN qtc USING (term) JOIN dfr USING (term)
       |       JOIN lens USING (doc_id) CROSS JOIN stats
       |       WHERE f.doc_id <> qtc.qid),
       |d AS (SELECT qid, doc_id, CAST(COUNT(*) AS INT) AS n_terms,
       |        CAST(SUM(sq) AS BIGINT) AS score_q20
       |      FROM sc GROUP BY qid, doc_id),
       |cand AS (SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY qid ORDER BY score_q20 DESC, doc_id) AS INT) AS rn FROM d)
       |  WHERE rn <= 8),
       |ann AS (SELECT c.qid, c.doc_id, c.n_terms, c.score_q20, c.rn,
       |    CASE WHEN qe.embedding IS NULL OR ce.embedding IS NULL THEN NULL
       |         ELSE ${cosSql("qe.embedding", "ce.embedding")} END AS cos
       |  FROM cand c
       |  LEFT JOIN embeddings qe ON qe.vec_id = c.qid
       |  LEFT JOIN embeddings ce ON ce.vec_id = c.doc_id)
       |SELECT qid, doc_id, n_terms, score_q20, rn, cos,
       |  cos IS NOT NULL AND cos < 0.1 AS is_hard
       |FROM ann ORDER BY qid, rn""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    Retrieval.bm25HardNegatives(t(s, dir, "documents"), "doc_id", "text",
        queryPred = col("doc_id") % 100 === 0, emb = t(s, dir, "embeddings"),
        topM = 8, cosThreshold = 0.1, k1 = Bm25K1, b = Bm25B,
        maxQueryTerms = 16)
      .orderBy("qid", "rn")
  }

  /** Tokenizer fertility by script (q215): subword symbols per whitespace
    * word, per dominant writing system — the multilingual tokenizer-fit
    * dashboard (a script whose fertility is far above the corpus mean is
    * under-served by the learned vocabulary). ONE fused scan evaluates
    * script_counts + bpe_segment; the oracle replays the q183 merge walk,
    * the q192 replace chain, and the q199 script CASE, then re-aggregates.
    */
  val q215 = Q(
    "q215_fertility_by_script",
    s"""${bpeStagesSql(8)},
       |a0 AS (SELECT doc_id, ' ' || array_to_string(list_transform(
       |    list_filter(string_split(text, ' '), w -> length(w) > 0),
       |    w -> array_to_string(list_transform(range(1, length(w) + 1),
       |           i -> substr(w, CAST(i AS INT), 1)), ' ')),
       |  '  ') || ' ' AS s FROM documents),
       |${(1 to 8).map { k =>
      s"""a$k AS (SELECT doc_id, replace(replace(s,
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' '),
         |    ' ' || (SELECT pair FROM b$k) || ' ',
         |    ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' ') AS s
         |  FROM a${k - 1})""".stripMargin
    }.mkString(",\n")},
       |syms AS (SELECT doc_id, CAST(len(list_filter(string_split(trim(s), ' '),
       |           x -> length(x) > 0)) AS BIGINT) AS n_syms FROM a8),
       |cnt AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS n_words,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
       |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
       |    CAST(length(text) - length(regexp_replace(text, '[\\x{3041}-\\x{3096}]', '', 'g')) AS BIGINT) AS n_hiragana,
       |    CAST(length(text) - length(regexp_replace(text, '[\\x{30A1}-\\x{30FA}\\x{30FC}]', '', 'g')) AS BIGINT) AS n_katakana,
       |    CAST(length(text) - length(regexp_replace(text, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS BIGINT) AS n_kanji,
       |    CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space
       |  FROM documents),
       |lab AS (SELECT doc_id, n_words, n_chars,
       |    CASE WHEN n_chars = 0 THEN 'empty'
       |         WHEN n_latin + n_digit + n_hiragana + n_katakana + n_kanji + n_other = 0 THEN 'space'
       |         WHEN n_latin >= GREATEST(n_digit, n_hiragana, n_katakana, n_kanji, n_other) THEN 'latin'
       |         WHEN n_digit >= GREATEST(n_hiragana, n_katakana, n_kanji, n_other) THEN 'digit'
       |         WHEN n_hiragana >= GREATEST(n_katakana, n_kanji, n_other) THEN 'hiragana'
       |         WHEN n_katakana >= GREATEST(n_kanji, n_other) THEN 'katakana'
       |         WHEN n_kanji >= n_other THEN 'kanji'
       |         ELSE 'other' END AS dominant
       |  FROM (SELECT *, n_chars - n_latin - n_digit - n_hiragana - n_katakana
       |          - n_kanji - n_space AS n_other FROM cnt)),
       |g AS (SELECT dominant, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_words) AS BIGINT) AS sum_words,
       |    CAST(SUM(n_syms) AS BIGINT) AS sum_syms,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |  FROM lab JOIN syms USING (doc_id) GROUP BY dominant)
       |SELECT dominant, n_docs, sum_words, sum_syms, sum_chars,
       |  CAST(CASE WHEN sum_words > 0 THEN sum_syms * 1000000 // sum_words
       |       ELSE 0 END AS BIGINT) AS fertility_ppm,
       |  CAST(CASE WHEN sum_syms > 0 THEN sum_chars * 1000000 // sum_syms
       |       ELSE 0 END AS BIGINT) AS chars_per_sym_ppm
       |FROM g ORDER BY dominant""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val docs = t(s, dir, "documents")
    val merges = graft.operators.TextAnalysis.bpeMerges(docs, "text", steps = 8)
      .collect().sortBy(_.getInt(0)) // a local relation: collected with no job
      .map(r => Array(r.getString(1), r.getString(2))) // bounded: exactly 8 rows
    TextAnalysis.fertilityByScript(docs, "doc_id", "text", merges)
      .orderBy("dominant")
  }

  /** CCNet perplexity tertiles (q216; Wenzek et al. 2020): the corpus
    * split into head/middle/tail thirds by the q209 KN improbability rate,
    * bucketed through the shared q136 histogram-quantile sketch (64
    * buckets, thresholds CAST(1 AS DOUBLE)/3 and 2/3 — double division,
    * never DuckDB decimal). The oracle replays the whole q209 chain, the
    * q136 bucket math, and the rollup.
    */
  val q216 = Q(
    "q216_perplexity_tertiles",
    s"""WITH alltk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |trb AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
       |  SELECT t, unnest(range(1, len(t))) AS i FROM alltk WHERE doc_id % 10 <> 0)),
       |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM trb GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |        CAST(COUNT(*) AS BIGINT) AS n1fol FROM bi GROUP BY 1),
       |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM bi GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM bi),
       |db AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
       |  SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM alltk)),
       |scd AS (SELECT d.doc_id,
       |    COALESCE(b.c12, 0) AS c12, COALESCE(x.c1, 0) AS c1,
       |    COALESCE(x.n1fol, 0) AS n1fol, COALESCE(ct.ncont, 0) AS ncont, tot.nn
       |  FROM db d LEFT JOIN bi b USING (w1, w2) LEFT JOIN ctx x USING (w1)
       |  LEFT JOIN cont ct USING (w2) CROSS JOIN tot),
       |ff AS (SELECT doc_id, c1,
       |    CASE WHEN c1 > 0
       |         THEN GREATEST(4 * c12 - 3, 0) * nn + 3 * n1fol * ncont
       |         ELSE ncont END AS num,
       |    CASE WHEN c1 > 0 THEN 4 * c1 * nn ELSE nn END AS den
       |  FROM scd),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN den = 0 OR num * 1000 < den THEN 1 ELSE 0 END) AS BIGINT) AS n_improb
       |  FROM ff GROUP BY 1),
       |pp AS (SELECT d.doc_id,
       |    COALESCE(a.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       |    COALESCE(a.n_improb, CAST(0 AS BIGINT)) AS n_improb,
       |    CASE WHEN COALESCE(a.n_bigrams, 0) > 0
       |         THEN CAST(a.n_improb * 1000000 // a.n_bigrams AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS improb_ppm,
       |    COALESCE(a.n_improb, 0) * 5 <= COALESCE(a.n_bigrams, 0) AS keep
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  LEFT JOIN agg a USING (doc_id)),
       |r AS (SELECT *, CAST(improb_ppm AS DOUBLE) AS x FROM pp),
       |stats AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
       |                 CAST(COUNT(*) AS BIGINT) AS n FROM r),
       |hist AS (SELECT CASE WHEN hi = lo THEN 0
       |    ELSE LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / $HistB)) AS INT),
       |               ${HistB - 1}) END AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS cnt, MAX(n) AS n
       |  FROM r CROSS JOIN stats GROUP BY 1),
       |cum AS (SELECT *, CAST(SUM(cnt) OVER (ORDER BY bucket
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist),
       |qs AS (SELECT unnest([CAST(1 AS DOUBLE) / 3, CAST(2 AS DOUBLE) / 3]) AS q),
       |hit AS (SELECT q, MIN(bucket) AS bucket FROM cum JOIN qs
       |    ON cum >= CAST(CEIL(q * n) AS BIGINT) GROUP BY q),
       |tb AS (SELECT list(bucket) AS tb FROM hit),
       |binned AS (SELECT r.*,
       |    CAST(len(list_filter(tb, t -> t < CASE WHEN hi = lo THEN 0
       |      ELSE LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / $HistB)) AS INT),
       |                 ${HistB - 1}) END)) AS INT) AS qbin
       |  FROM r CROSS JOIN stats CROSS JOIN tb)
       |SELECT qbin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
       |  CAST(SUM(n_improb) AS BIGINT) AS sum_improb,
       |  CAST(MIN(improb_ppm) AS BIGINT) AS min_ppm,
       |  CAST(MAX(improb_ppm) AS BIGINT) AS max_ppm,
       |  CASE WHEN qbin = 0 THEN 'head' WHEN qbin = 1 THEN 'middle'
       |       ELSE 'tail' END AS bucket_label
       |FROM binned GROUP BY qbin ORDER BY qbin""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    TextAnalysis.perplexityTertiles(docs,
        docs.where(col("doc_id") % 10 =!= 0), "doc_id", "text")
      .orderBy("qbin")
  }

  /** Zipf doubling-bin fit (q217): integer least squares of
    * ilog2(types-per-bin) against the q170 spectrum bin — slope near −1 is
    * the natural-corpus signature. All sums integer; slope/intercept are
    * single divisions of identical integers on both engines.
    */
  val q217 = Q(
    "q217_zipf_spectrum_fit",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |sp AS (SELECT CAST(length(printf('%b', n)) - 1 AS BIGINT) AS x,
      |    CAST(COUNT(*) AS BIGINT) AS n_types FROM c GROUP BY 1),
      |pts AS (SELECT x, CAST(length(printf('%b', n_types)) - 1 AS BIGINT) AS y FROM sp),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM pts)
      |SELECT n_bins, sx, sy, sxy, sxx,
      |  CAST(n_bins * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n_bins * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CASE WHEN n_bins * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST(n_bins * sxy - sx * sy AS DOUBLE)
      |            / CAST(n_bins * sxx - sx * sx AS DOUBLE) END AS slope,
      |  CASE WHEN n_bins * sxx - sx * sx = 0 THEN NULL
      |       ELSE (CAST(sy AS DOUBLE)
      |             - (CAST(n_bins * sxy - sx * sy AS DOUBLE)
      |                / CAST(n_bins * sxx - sx * sx AS DOUBLE))
      |               * CAST(sx AS DOUBLE))
      |            / CAST(n_bins AS DOUBLE) END AS intercept
      |FROM a""".stripMargin) { (s, dir) =>
    TextAnalysis.zipfSpectrumFit(t(s, dir, "documents"), "text")
  }

  /** SentencePiece unigram-LM induction (q218; Kudo 2018): substring-seeded
    * vocabulary (all chars + top-48 multi-codepoint substrings ≤4), one
    * hard-EM Viterbi E-step over the distinct-words frame, usage-based
    * prune signal. The oracle replays the seeding, the DP (recursive CTE
    * carrying the dp/choice lists, `ORDER BY s DESC, j ASC` = the kernel's
    * ascending-j strict-> tie rule), the backtrack, and the usage rollup.
    */
  val q218 = Q(
    "q218_unigram_lm_vocab",
    s"""WITH RECURSIVE
      |tokw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |subs AS (SELECT word, wc, unnest(flatten(list_transform(range(1, length(word) + 1),
      |    i -> list_transform(range(1, least(4, length(word) - i + 1) + 1),
      |      l -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM tokw),
      |pf AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM subs GROUP BY piece),
      |chars AS (SELECT piece, freq FROM pf WHERE length(piece) = 1),
      |multi AS (SELECT piece, freq FROM pf WHERE length(piece) >= 2
      |  ORDER BY freq DESC, piece LIMIT 48),
      |vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
      |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM vocab),
      |v AS (SELECT piece, freq, CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS p
      |  FROM vocab CROSS JOIN tot),
      |vm AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v),
      |${unigramDpCtes("", "vm")},
      |usage AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage
      |  FROM segs JOIN tokw USING (word) GROUP BY piece)
      |SELECT v.piece, v.freq, v.p, length(v.piece) = 1 AS is_char,
      |  COALESCE(u.usage, CAST(0 AS BIGINT)) AS usage,
      |  (length(v.piece) = 1 OR COALESCE(u.usage, 0) > 0) AS keep
      |FROM v LEFT JOIN usage u USING (piece) ORDER BY v.piece""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.unigramLmVocab(t(s, dir, "documents"), "text",
        maxPieceLen = 4, topV = 48)
      .orderBy("piece")
  }

  /** Multi-protocol decontamination audit (q219): the four contamination
    * protocols (exact md5, q65 shingle containment, q203 13-gram window
    * collision, q206 fuzzy match at 0.5) over the q65/q203/q206 benchmark
    * convention (doc_id % 89), rolled up per source with the any-protocol
    * union — the release-gate dashboard. The oracle concatenates the four
    * committed protocol chains verbatim and re-aggregates.
    */
  val q219 = Q(
    "q219_decontamination_audit",
    s"""WITH $shingleCtes,
       |ebh AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 89 = 0),
       |ex AS (SELECT doc_id, md5(text) IN (SELECT fp FROM ebh) AS exact_hit
       |       FROM documents),
       |cbh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 89 = 0),
       |cshared AS (SELECT doc_id, COUNT(*) n_shared FROM hs
       |            WHERE h IN (SELECT h FROM cbh) GROUP BY doc_id),
       |contain AS (SELECT sizes.doc_id,
       |    COALESCE(cshared.n_shared, 0) * 2 >= sizes.n AS contain_hit
       |  FROM sizes LEFT JOIN cshared USING (doc_id)),
       |wt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ww AS (SELECT doc_id, unnest(range(0, len(toks) - 13 + 1)) AS pos, toks
       |       FROM wt WHERE len(toks) >= 13),
       |wh AS (SELECT doc_id,
       |         md5(array_to_string(list_slice(toks, pos + 1, pos + 13), ' ')) AS h
       |       FROM ww),
       |wbh AS (SELECT DISTINCT h FROM wh WHERE doc_id % 89 = 0),
       |whits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM wh
       |          WHERE h IN (SELECT h FROM wbh) GROUP BY doc_id),
       |win AS (SELECT wt.doc_id, COALESCE(whits.n_hits, 0) > 0 AS window_hit
       |        FROM wt LEFT JOIN whits USING (doc_id)),
       |params(i, a, b) AS (VALUES $minhashParamsSql),
       |mh AS (SELECT doc_id, i, MIN((a * h + b) % 1000000007) m
       |       FROM hs CROSS JOIN params GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) sig FROM mh GROUP BY doc_id),
       |bands AS (SELECT doc_id, j,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, j*4 + 1, j*4 + 4)),
       |                (acc, x) -> (acc * 131 + x) % 1000000007) bval
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
       |cand AS (SELECT DISTINCT c.doc_id AS id, b.doc_id AS id_b
       |  FROM bands c JOIN bands b ON c.j = b.j AND c.bval = b.bval
       |  WHERE c.doc_id % 89 <> 0 AND b.doc_id % 89 = 0),
       |shr AS (SELECT c.id, c.id_b, COUNT(*) AS shared
       |  FROM cand c JOIN hs a ON a.doc_id = c.id
       |  JOIN hs b2 ON b2.doc_id = c.id_b AND b2.h = a.h
       |  GROUP BY 1, 2),
       |jac AS (SELECT c.id, c.id_b,
       |    COALESCE(s.shared, 0) / (sa.n + sb.n - COALESCE(s.shared, 0)) AS j
       |  FROM cand c LEFT JOIN shr s ON s.id = c.id AND s.id_b = c.id_b
       |  JOIN sizes sa ON sa.doc_id = c.id
       |  JOIN sizes sb ON sb.doc_id = c.id_b),
       |fz AS (SELECT id AS doc_id,
       |    CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) > 0 AS fuzzy_hit
       |  FROM jac GROUP BY id)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN ex.exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN COALESCE(contain.contain_hit, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_contain,
       |  CAST(SUM(CASE WHEN win.window_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_window,
       |  CAST(SUM(CASE WHEN COALESCE(fz.fuzzy_hit, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
       |  CAST(SUM(CASE WHEN ex.exact_hit OR COALESCE(contain.contain_hit, FALSE)
       |    OR win.window_hit OR COALESCE(fz.fuzzy_hit, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_any,
       |  CAST((COUNT(*) - SUM(CASE WHEN ex.exact_hit OR COALESCE(contain.contain_hit, FALSE)
       |    OR win.window_hit OR COALESCE(fz.fuzzy_hit, FALSE) THEN 1 ELSE 0 END)) * 1000000
       |    // COUNT(*) AS BIGINT) AS clean_ppm
       |FROM documents d
       |JOIN ex ON ex.doc_id = d.doc_id
       |LEFT JOIN contain ON contain.doc_id = d.doc_id
       |JOIN win ON win.doc_id = d.doc_id
       |LEFT JOIN fz ON fz.doc_id = d.doc_id
       |WHERE d.doc_id % 89 <> 0
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val docs = t(s, dir, "documents")
    graft.operators.Decontaminate.auditBySource(
        docs.where(col("doc_id") % 89 =!= 0),
        docs.where(col("doc_id") % 89 === 0),
        "doc_id", "text", "source", fuzzyThreshold = 0.5)
      .orderBy("source")
  }

  /** One Viterbi DP + backtrack recursive-CTE pair over the embedded model
    * `vm` (the q218 oracle shape), emitting `segs$sfx(word, piece)`.
    *
    * Scores carry the kernel's power-of-two renormalization (ADVICE r18
    * underflow fix, [[graft.expr.Kernels.unigramSegment]]): a raw product
    * ≤ 2^-256 is multiplied by 2^256 (exact — only the exponent moves) and
    * its integer boost count increments; candidates order by
    * (boost ASC, stored DESC, j ASC). The thresholds are the Java shortest
    * double representations, which DuckDB's correctly-rounded parser maps
    * back to the identical bits, so both engines run the same arithmetic.
    */
  private def unigramDpCtes(sfx: String, vm: String): String = {
    val lo = graft.expr.Kernels.UnigramBoostLo
    val hi = graft.expr.Kernels.UnigramBoostHi
    s"""dp$sfx AS (
       |  SELECT word, 0 AS i, [CAST(1 AS DOUBLE)] AS dps, [CAST(0 AS INT)] AS bts,
       |    [CAST(0 AS INT)] AS chs FROM tokw
       |  UNION ALL
       |  SELECT word, i + 1, list_append(dps, best.s), list_append(bts, CAST(best.b AS INT)),
       |    list_append(chs, CAST(best.j AS INT))
       |  FROM dp$sfx CROSS JOIN $vm,
       |  LATERAL (SELECT b, s, j FROM (
       |      SELECT CASE WHEN raw <= $lo THEN bs + 1 ELSE bs END AS b,
       |        CASE WHEN raw <= $lo THEN raw * $hi ELSE raw END AS s, j
       |      FROM (SELECT dps[j + 1] * m[substr(word, CAST(j + 1 AS INT), CAST(i + 1 - j AS INT))][1] AS raw,
       |          bts[j + 1] AS bs, j
       |        FROM unnest(range(greatest(0, i + 1 - 4), i + 1)) t(j)))
       |    WHERE s IS NOT NULL ORDER BY b ASC, s DESC, j ASC LIMIT 1) best
       |  WHERE i < length(word)
       |),
       |fin$sfx AS (SELECT word, chs FROM dp$sfx WHERE i = length(word)),
       |bt$sfx AS (
       |  SELECT word, CAST(length(word) AS INT) AS pos, chs, CAST([] AS VARCHAR[]) AS pcs FROM fin$sfx
       |  UNION ALL
       |  SELECT word, chs[pos + 1], chs,
       |    list_prepend(substr(word, CAST(chs[pos + 1] + 1 AS INT),
       |      CAST(pos - chs[pos + 1] AS INT)), pcs)
       |  FROM bt$sfx WHERE pos > 0),
       |segs$sfx AS (SELECT word, unnest(pcs) AS piece FROM bt$sfx WHERE pos = 0)""".stripMargin
  }

  /** One forward–backward expected-count CTE chain over the embedded model
    * `vm` (the q231 oracle shape), emitting `exq$sfx(word, piece, q)` — the
    * soft-EM E-step twin of [[unigramDpCtes]].
    *
    * Replays [[graft.expr.Kernels.unigramExpected]] bit-for-bit: the
    * forward/backward sums are ORDERED left folds
    * (list_reduce(list_prepend(0.0, list(term ORDER BY pos)), +) = the
    * kernel's ascending accumulation from 0.0), window terms are aligned
    * to the window's minimum boost with exact power-of-two literal
    * multiplies (spread ≤ 2 — the kernel proves and enforces it), each sum
    * renormalizes at most once (≤ 2^-256 → ×2^256), and the per-occurrence
    * posterior ((α·p)·β)/Z is boost-adjusted through a 5-literal CASE
    * (k ∈ [-2, 2], kernel-enforced) and floored to ⌊eq·2^24⌋ — an INTEGER,
    * so the downstream Σ wc·q rollup is order-independent on both engines.
    * All literals are Java shortest-repr doubles, which DuckDB's
    * correctly-rounded parser maps to identical bits. No unk term: the
    * oracle (and the sf-scale Spark twin) seeds every single codepoint, so
    * the map probe only misses on invalid multi-spans (filtered).
    */
  private def unigramFwdBwdCtes(sfx: String, vm: String): String = {
    val lo = graft.expr.Kernels.UnigramBoostLo
    val hi = graft.expr.Kernels.UnigramBoostHi
    val d1 = "8.636168555094445E-78" // 2^-256
    val d2 = "7.458340731200207E-155" // 2^-512
    val u1 = "1.157920892373162E77" // 2^256
    val u2 = "1.3407807929942597E154" // 2^512
    s"""fwd$sfx AS (
       |  SELECT word, 0 AS i, [CAST(1 AS DOUBLE)] AS fas, [CAST(0 AS INT)] AS fbs FROM tokw
       |  UNION ALL
       |  SELECT word, i + 1, list_append(fas, res.s), list_append(fbs, CAST(res.b AS INT))
       |  FROM fwd$sfx CROSS JOIN $vm,
       |  LATERAL (
       |    SELECT CASE WHEN ssum <= $lo THEN ssum * $hi ELSE ssum END AS s,
       |      CASE WHEN ssum <= $lo THEN bc + 1 ELSE bc END AS b
       |    FROM (
       |      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list(t.raw * (CASE t.bt - t.bc WHEN 0 THEN 1.0 WHEN 1 THEN $d1 WHEN 2 THEN $d2 END) ORDER BY t.j)),
       |        (acc, x) -> acc + x) AS ssum,
       |        MAX(t.bc) AS bc
       |      FROM (
       |        SELECT j, bt, raw, MIN(bt) OVER () AS bc FROM (
       |          SELECT j, fbs[j + 1] AS bt,
       |            fas[j + 1] * m[substr(word, CAST(j + 1 AS INT), CAST(i + 1 - j AS INT))][1] AS raw
       |          FROM unnest(range(greatest(0, i + 1 - 4), i + 1)) u(j))
       |        WHERE raw IS NOT NULL) t)) res
       |  WHERE i < length(word)
       |),
       |bwd$sfx AS (
       |  SELECT word, CAST(length(word) AS INT) AS j0, [CAST(1 AS DOUBLE)] AS bas, [CAST(0 AS INT)] AS bbs FROM tokw
       |  UNION ALL
       |  SELECT word, j0 - 1, list_prepend(res.s, bas), list_prepend(CAST(res.b AS INT), bbs)
       |  FROM bwd$sfx CROSS JOIN $vm,
       |  LATERAL (
       |    SELECT CASE WHEN ssum <= $lo THEN ssum * $hi ELSE ssum END AS s,
       |      CASE WHEN ssum <= $lo THEN bc + 1 ELSE bc END AS b
       |    FROM (
       |      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list(t.raw * (CASE t.bt - t.bc WHEN 0 THEN 1.0 WHEN 1 THEN $d1 WHEN 2 THEN $d2 END) ORDER BY t.i2)),
       |        (acc, x) -> acc + x) AS ssum,
       |        MAX(t.bc) AS bc
       |      FROM (
       |        SELECT i2, bt, raw, MIN(bt) OVER () AS bc FROM (
       |          SELECT i2, bbs[i2 - j0 + 1] AS bt,
       |            m[substr(word, CAST(j0 AS INT), CAST(i2 - j0 + 1 AS INT))][1] * bas[i2 - j0 + 1] AS raw
       |          FROM unnest(range(j0, least(length(word), j0 - 1 + 4) + 1)) u(i2))
       |        WHERE raw IS NOT NULL) t)) res
       |  WHERE j0 > 0
       |),
       |finf$sfx AS (SELECT word, fas, fbs FROM fwd$sfx WHERE i = length(word)),
       |finb$sfx AS (SELECT word, bas, bbs FROM bwd$sfx WHERE j0 = 0),
       |exq$sfx AS MATERIALIZED (
       |  SELECT word, piece, CAST(floor(eq * 16777216.0) AS BIGINT) AS q FROM (
       |    SELECT word, substr(word, CAST(j + 1 AS INT), CAST(i - j AS INT)) AS piece,
       |      (((fas[j + 1] * p) * bas[i + 1]) / fas[length(word) + 1])
       |        * (CASE fbs[j + 1] + bbs[i + 1] - fbs[length(word) + 1]
       |            WHEN -2 THEN $u2 WHEN -1 THEN $u1 WHEN 0 THEN 1.0
       |            WHEN 1 THEN $d1 WHEN 2 THEN $d2 END) AS eq
       |    FROM (
       |      SELECT f.word AS word, i, j,
       |        m[substr(f.word, CAST(j + 1 AS INT), CAST(i - j AS INT))][1] AS p,
       |        f.fas AS fas, f.fbs AS fbs, b.bas AS bas, b.bbs AS bbs
       |      FROM finf$sfx f JOIN finb$sfx b USING (word) CROSS JOIN $vm,
       |        LATERAL unnest(range(1, length(f.word) + 1)) u(i),
       |        LATERAL unnest(range(greatest(0, i - 4), i)) v(j))
       |    WHERE p IS NOT NULL)
       |  WHERE floor(eq * 16777216.0) > 0)""".stripMargin
  }

  /** Unigram-LM SOFT EM (q231; Kudo 2018 §3.2's true E-step — VERDICT r19
    * #2): forward–backward EXPECTED piece counts over the full segmentation
    * lattice beside the hard (Viterbi-path) counts, with the model
    * re-estimated from the soft counts. The oracle replays the Viterbi DP
    * (the q218 recursive-CTE pair) AND the forward–backward chain
    * ([[unigramFwdBwdCtes]]) over the same embedded model; the divergence
    * between usage_hard and usage_soft_q is the queryable surface of the
    * hard-EM approximation.
    */
  val q231 = Q(
    "q231_unigram_lm_soft_em",
    s"""WITH RECURSIVE
      |tokw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY word),
      |subs AS (SELECT word, wc, unnest(flatten(list_transform(range(1, length(word) + 1),
      |    i -> list_transform(range(1, least(4, length(word) - i + 1) + 1),
      |      l -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM tokw),
      |pf AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM subs GROUP BY piece),
      |vocab AS (SELECT piece, freq FROM pf WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, freq FROM (SELECT piece, freq FROM pf WHERE length(piece) >= 2
      |    ORDER BY freq DESC, piece LIMIT 48)),
      |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM vocab),
      |v AS (SELECT piece, freq, CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS p
      |  FROM vocab CROSS JOIN tot),
      |vm AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v),
      |${unigramDpCtes("", "vm")},
      |${unigramFwdBwdCtes("", "vm")},
      |uh AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage_hard
      |  FROM segs JOIN tokw USING (word) GROUP BY piece),
      |us AS (SELECT piece, CAST(SUM(wc * q) AS BIGINT) AS usage_soft_q
      |  FROM exq JOIN tokw USING (word) GROUP BY piece),
      |rep AS (SELECT v.piece, v.freq, length(v.piece) = 1 AS is_char,
      |    COALESCE(uh.usage_hard, CAST(0 AS BIGINT)) AS usage_hard,
      |    COALESCE(us.usage_soft_q, CAST(0 AS BIGINT)) AS usage_soft_q
      |  FROM v LEFT JOIN uh USING (piece) LEFT JOIN us USING (piece)),
      |w2t AS (SELECT *, usage_soft_q + CASE WHEN is_char THEN 16777216 ELSE 0 END AS w2 FROM rep),
      |t2 AS (SELECT CAST(SUM(w2) AS BIGINT) AS tot2 FROM w2t WHERE w2 > 0)
      |SELECT piece, freq, is_char, usage_hard, usage_soft_q,
      |  (NOT is_char AND usage_soft_q = 0) AS pruned,
      |  CASE WHEN NOT is_char AND usage_soft_q = 0 THEN NULL
      |       ELSE CAST(w2 AS DOUBLE) / CAST(tot2 AS DOUBLE) END AS p2
      |FROM w2t CROSS JOIN t2 ORDER BY piece""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.unigramLmSoftEm(t(s, dir, "documents"), "text",
        maxPieceLen = 4, topV = 48)
      .orderBy("piece")
  }

  /** Unigram-LM hard-EM iteration (q220; the full Kudo 2018 loop working:
    * seed → Viterbi → PRUNE unused multi-pieces → re-estimate from usage
    * (+1 on single codepoints only, the character backbone) → re-segment).
    * The oracle replays BOTH Viterbi passes — two recursive-CTE DP pairs
    * over the pass-1 and pass-2 embedded models.
    */
  val q220 = Q(
    "q220_unigram_lm_em",
    s"""WITH RECURSIVE
       |tokw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |subs AS (SELECT word, wc, unnest(flatten(list_transform(range(1, length(word) + 1),
       |    i -> list_transform(range(1, least(4, length(word) - i + 1) + 1),
       |      l -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM tokw),
       |pf AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM subs GROUP BY piece),
       |vocab AS (SELECT piece, freq FROM pf WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (SELECT piece, freq FROM pf WHERE length(piece) >= 2
       |    ORDER BY freq DESC, piece LIMIT 48)),
       |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM vocab),
       |v AS (SELECT piece, freq, CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS p
       |  FROM vocab CROSS JOIN tot),
       |vm AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v),
       |${unigramDpCtes("", "vm")},
       |u1 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage_1
       |  FROM segs JOIN tokw USING (word) GROUP BY piece),
       |w2 AS (SELECT v.piece,
       |    COALESCE(u1.usage_1, 0) + CASE WHEN length(v.piece) = 1 THEN 1 ELSE 0 END AS w
       |  FROM v LEFT JOIN u1 USING (piece)),
       |kept AS (SELECT piece, w FROM w2 WHERE w > 0),
       |tot2 AS (SELECT CAST(SUM(w) AS BIGINT) AS total2 FROM kept),
       |v2 AS (SELECT piece, CAST(w AS DOUBLE) / CAST(total2 AS DOUBLE) AS p2
       |  FROM kept CROSS JOIN tot2),
       |vm2 AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p2))) AS m FROM v2),
       |${unigramDpCtes("2", "vm2")},
       |u2 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage_2
       |  FROM segs2 JOIN tokw USING (word) GROUP BY piece)
       |SELECT v.piece, v.freq,
       |  COALESCE(u1.usage_1, CAST(0 AS BIGINT)) AS usage_1,
       |  v2.p2 IS NULL AS pruned,
       |  v2.p2,
       |  COALESCE(u2.usage_2, CAST(0 AS BIGINT)) AS usage_2
       |FROM v LEFT JOIN u1 USING (piece) LEFT JOIN v2 USING (piece)
       |LEFT JOIN u2 USING (piece)
       |ORDER BY v.piece""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.unigramLmEm(t(s, dir, "documents"), "text",
        maxPieceLen = 4, topV = 48)
      .orderBy("piece")
  }

  /** Full unigram-LM training loop (q223; Kudo 2018 §3.2 — the schedule
    * T5/mT5/Llama vocabularies ran): seed 96 multi-pieces + the character
    * backbone, prune half the multi vocabulary per round down to 24
    * (schedule 96 → 48 → 24: two prune rounds, three Viterbi passes),
    * keeping the top survivors by (usage DESC, piece ASC) and
    * re-estimating probabilities from usage each round. The oracle
    * replays ALL THREE passes as recursive-CTE DP/backtrack pairs over
    * the three embedded models and re-derives both prune cuts with
    * integer-ordered windows.
    */
  /** The q223/q226 shared training replay: seed → three Viterbi passes
    * (models vm → vmb → vmc down the 96 → 48 → 24 schedule) with both
    * prune cuts as integer-ordered windows. Ends having defined
    * `segsc(word, piece)` — the corpus decode under the FINAL model —
    * plus the v/mu1/v2 frames the report tails join. */
  private def unigramTrainCtes: String =
    s"""tokw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |subs AS (SELECT word, wc, unnest(flatten(list_transform(range(1, length(word) + 1),
       |    i -> list_transform(range(1, least(4, length(word) - i + 1) + 1),
       |      l -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM tokw),
       |pf AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM subs GROUP BY piece),
       |vocab AS (SELECT piece, freq FROM pf WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (SELECT piece, freq FROM pf WHERE length(piece) >= 2
       |    ORDER BY freq DESC, piece LIMIT 96)),
       |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM vocab),
       |v AS (SELECT piece, freq, CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS p
       |  FROM vocab CROSS JOIN tot),
       |vm AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v),
       |${unigramDpCtes("", "vm")},
       |u1 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage
       |  FROM segs JOIN tokw USING (word) GROUP BY piece),
       |cu1 AS (SELECT v.piece, COALESCE(u1.usage, 0) + 1 AS w
       |  FROM v LEFT JOIN u1 USING (piece) WHERE length(v.piece) = 1),
       |mu1 AS (SELECT piece, usage AS w FROM (
       |    SELECT u1.piece, u1.usage, ROW_NUMBER() OVER (
       |      ORDER BY u1.usage DESC, u1.piece) AS rn
       |    FROM u1 JOIN v USING (piece)
       |    WHERE length(u1.piece) >= 2 AND u1.usage > 0) WHERE rn <= 48),
       |m1 AS (SELECT * FROM cu1 UNION ALL SELECT * FROM mu1),
       |t1 AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM m1),
       |v1 AS (SELECT piece, CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS p
       |  FROM m1 CROSS JOIN t1),
       |vmb AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v1),
       |${unigramDpCtes("b", "vmb")},
       |u2 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage
       |  FROM segsb JOIN tokw USING (word) GROUP BY piece),
       |cu2 AS (SELECT cu1.piece, COALESCE(u2.usage, 0) + 1 AS w
       |  FROM cu1 LEFT JOIN u2 USING (piece)),
       |mu2 AS (SELECT piece, usage AS w FROM (
       |    SELECT u2.piece, u2.usage, ROW_NUMBER() OVER (
       |      ORDER BY u2.usage DESC, u2.piece) AS rn
       |    FROM u2 JOIN mu1 USING (piece)
       |    WHERE u2.usage > 0) WHERE rn <= 24),
       |m2 AS (SELECT * FROM cu2 UNION ALL SELECT * FROM mu2),
       |t2 AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM m2),
       |v2 AS (SELECT piece, CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS p
       |  FROM m2 CROSS JOIN t2),
       |vmc AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v2),
       |${unigramDpCtes("c", "vmc")}""".stripMargin

  /** The q234 soft-EM training replay: the [[unigramTrainCtes]] structure
    * with [[unigramFwdBwdCtes]] in place of the Viterbi DP — per pass,
    * usage is the integer Σ wc·q over the quantized forward–backward
    * emissions, the character backbone smooths by +16777216 (one
    * occurrence in q units), and both prune cuts are integer-ordered
    * windows (usage DESC, piece ASC — DuckDB compares binary UTF-8 like
    * the operator's utf8Less). Ends with u3s, the final-model expected
    * usage, plus the vs/mu1s/v2s report frames.
    */
  private def unigramTrainSoftCtes: String =
    s"""tokw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |subs AS (SELECT word, wc, unnest(flatten(list_transform(range(1, length(word) + 1),
       |    i -> list_transform(range(1, least(4, length(word) - i + 1) + 1),
       |      l -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece FROM tokw),
       |pf AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM subs GROUP BY piece),
       |vocab AS (SELECT piece, freq FROM pf WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (SELECT piece, freq FROM pf WHERE length(piece) >= 2
       |    ORDER BY freq DESC, piece LIMIT 96)),
       |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM vocab),
       |vs AS (SELECT piece, freq, CAST(freq AS DOUBLE) / CAST(total AS DOUBLE) AS p
       |  FROM vocab CROSS JOIN tot),
       |vm AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM vs),
       |${unigramFwdBwdCtes("", "vm")},
       |u1s AS MATERIALIZED (SELECT piece, CAST(SUM(wc * q) AS BIGINT) AS usage
       |  FROM exq JOIN tokw USING (word) GROUP BY piece),
       |cu1s AS (SELECT vs.piece, COALESCE(u1s.usage, 0) + 16777216 AS w
       |  FROM vs LEFT JOIN u1s USING (piece) WHERE length(vs.piece) = 1),
       |mu1s AS (SELECT piece, usage AS w FROM (
       |    SELECT u1s.piece, u1s.usage, ROW_NUMBER() OVER (
       |      ORDER BY u1s.usage DESC, u1s.piece) AS rn
       |    FROM u1s JOIN vs USING (piece)
       |    WHERE length(u1s.piece) >= 2 AND u1s.usage > 0) WHERE rn <= 48),
       |m1s AS (SELECT * FROM cu1s UNION ALL SELECT * FROM mu1s),
       |t1s AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM m1s),
       |v1s AS (SELECT piece, CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS p
       |  FROM m1s CROSS JOIN t1s),
       |vmb AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v1s),
       |${unigramFwdBwdCtes("b", "vmb")},
       |u2s AS MATERIALIZED (SELECT piece, CAST(SUM(wc * q) AS BIGINT) AS usage
       |  FROM exqb JOIN tokw USING (word) GROUP BY piece),
       |cu2s AS (SELECT cu1s.piece, COALESCE(u2s.usage, 0) + 16777216 AS w
       |  FROM cu1s LEFT JOIN u2s USING (piece)),
       |mu2s AS (SELECT piece, usage AS w FROM (
       |    SELECT u2s.piece, u2s.usage, ROW_NUMBER() OVER (
       |      ORDER BY u2s.usage DESC, u2s.piece) AS rn
       |    FROM u2s JOIN mu1s USING (piece)
       |    WHERE u2s.usage > 0) WHERE rn <= 24),
       |m2s AS (SELECT * FROM cu2s UNION ALL SELECT * FROM mu2s),
       |t2s AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM m2s),
       |v2s AS (SELECT piece, CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS p
       |  FROM m2s CROSS JOIN t2s),
       |vmc AS (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM v2s),
       |${unigramFwdBwdCtes("c", "vmc")},
       |u3s AS MATERIALIZED (SELECT piece, CAST(SUM(wc * q) AS BIGINT) AS usage
       |  FROM exqc JOIN tokw USING (word) GROUP BY piece)""".stripMargin

  /** Full unigram-LM training loop under the TRUE soft-EM E-step (q234;
    * the q231 forward–backward expected counts driving the q223 prune
    * schedule — VERDICT r19 #2 completed at the loop level). The oracle
    * replays all THREE expected-count passes as forward/backward
    * recursive-CTE chains over the three models it re-derives itself.
    * The usage/emission CTEs are MATERIALIZED: DuckDB materializes
    * recursive CTEs but INLINES non-recursive ones, so without the hint
    * each chain re-evaluates the previous chain's emission scan at every
    * step of its own recursion — measured 600x (the full q234 oracle fell
    * from >10 min to ~1 s at sf0.01 with the hints; the hint is part of
    * the committed SQL because the blowup is structural, not data-sized).
    */
  val q234 = Q(
    "q234_unigram_lm_train_soft",
    s"""WITH RECURSIVE
       |$unigramTrainSoftCtes
       |SELECT vs.piece, vs.freq, length(vs.piece) = 1 AS is_char,
       |  CAST(CASE WHEN length(vs.piece) = 1 THEN 2
       |    WHEN mu2s.piece IS NOT NULL THEN 2
       |    WHEN mu1s.piece IS NOT NULL THEN 1
       |    ELSE 0 END AS INT) AS rounds_survived,
       |  v2s.p AS final_p,
       |  COALESCE(u3s.usage, CAST(0 AS BIGINT)) AS final_usage_q
       |FROM vs LEFT JOIN mu1s USING (piece) LEFT JOIN mu2s USING (piece)
       |LEFT JOIN v2s USING (piece) LEFT JOIN u3s USING (piece)
       |ORDER BY vs.piece""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.unigramLmTrainSoft(t(s, dir, "documents"), "text",
        maxPieceLen = 4, seedV = 96, targetV = 24, pruneFrac = 0.5)
      .orderBy("piece")
  }

  val q223 = Q(
    "q223_unigram_lm_train",
    s"""WITH RECURSIVE
       |$unigramTrainCtes,
       |u3 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS usage
       |  FROM segsc JOIN tokw USING (word) GROUP BY piece)
       |SELECT v.piece, v.freq, length(v.piece) = 1 AS is_char,
       |  CAST(CASE WHEN length(v.piece) = 1 THEN 2
       |    WHEN mu2.piece IS NOT NULL THEN 2
       |    WHEN mu1.piece IS NOT NULL THEN 1
       |    ELSE 0 END AS INT) AS rounds_survived,
       |  v2.p AS final_p,
       |  COALESCE(u3.usage, CAST(0 AS BIGINT)) AS final_usage
       |FROM v LEFT JOIN mu1 USING (piece) LEFT JOIN mu2 USING (piece)
       |LEFT JOIN v2 USING (piece) LEFT JOIN u3 USING (piece)
       |ORDER BY v.piece""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.unigramLmTrain(t(s, dir, "documents"), "text",
        maxPieceLen = 4, seedV = 96, targetV = 24, pruneFrac = 0.5)
      .orderBy("piece")
  }

  /** Interpolated Kneser–Ney trigram gate (q224; VERDICT r18 #3 — one
    * backoff level above q209, the same smoothing family CCNet's 5-gram
    * KenLM runs): model on the doc_id % 10 ≠ 0 split, every doc scored so
    * both backoff branches run on real held-out rows. Nested exact
    * rationals with continuation counts at the lower orders; the cubed
    * count products run in HUGEINT (the operator uses DECIMAL(38,0)) —
    * outputs stay BIGINT. The oracle replays the single trigram
    * aggregate, every derived continuation statistic, both backoffs, and
    * the rollup.
    */
  val q224 = Q(
    "q224_kn_trigram_gate",
    """WITH alltk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |trt AS (SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM (
      |  SELECT t, unnest(range(1, len(t) - 1)) AS i FROM alltk WHERE doc_id % 10 <> 0)),
      |tri AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123 FROM trt GROUP BY 1, 2, 3),
      |ctx12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12,
      |        CAST(COUNT(*) AS BIGINT) AS nfol12 FROM tri GROUP BY 1, 2),
      |nb AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n23 FROM tri GROUP BY 1, 2),
      |mid2 AS (SELECT w2, CAST(SUM(n23) AS BIGINT) AS nmid2,
      |        CAST(COUNT(*) AS BIGINT) AS nfol2 FROM nb GROUP BY 1),
      |cont3 AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS ncont3 FROM nb GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM nb),
      |dtr AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM alltk)),
      |sc AS (SELECT d.doc_id,
      |    CAST(COALESCE(tr.c123, 0) AS HUGEINT) AS c123,
      |    COALESCE(x.c12, 0) AS c12_l,
      |    CAST(COALESCE(x.c12, 0) AS HUGEINT) AS c12,
      |    CAST(COALESCE(x.nfol12, 0) AS HUGEINT) AS nfol12,
      |    CAST(COALESCE(b.n23, 0) AS HUGEINT) AS n23,
      |    CAST(COALESCE(m.nmid2, 0) AS HUGEINT) AS nmid2,
      |    CAST(COALESCE(m.nfol2, 0) AS HUGEINT) AS nfol2,
      |    CAST(COALESCE(c3.ncont3, 0) AS HUGEINT) AS ncont3,
      |    CAST(tot.nn AS HUGEINT) AS nn
      |  FROM dtr d LEFT JOIN tri tr USING (w1, w2, w3)
      |  LEFT JOIN ctx12 x USING (w1, w2) LEFT JOIN nb b USING (w2, w3)
      |  LEFT JOIN mid2 m USING (w2) LEFT JOIN cont3 c3 USING (w3)
      |  CROSS JOIN tot),
      |f1 AS (SELECT doc_id, c12_l, c123, c12, nfol12,
      |    CASE WHEN nmid2 > 0
      |         THEN GREATEST(4 * n23 - 3, 0) * nn + 3 * nfol2 * ncont3
      |         ELSE ncont3 END AS p2num,
      |    CASE WHEN nmid2 > 0 THEN 4 * nmid2 * nn ELSE nn END AS p2den
      |  FROM sc),
      |f2 AS (SELECT doc_id, c12_l,
      |    CASE WHEN c12 > 0
      |         THEN GREATEST(4 * c123 - 3, 0) * p2den + 3 * nfol12 * p2num
      |         ELSE p2num END AS num,
      |    CASE WHEN c12 > 0 THEN 4 * c12 * p2den ELSE p2den END AS den
      |  FROM f1),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
      |    CAST(SUM(CASE WHEN c12_l = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_ctx,
      |    CAST(SUM(CASE WHEN den = 0 OR num * 1000 < den THEN 1 ELSE 0 END) AS BIGINT) AS n_improb
      |  FROM f2 GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(a.n_trigrams, CAST(0 AS BIGINT)) AS n_trigrams,
      |  COALESCE(a.n_unseen_ctx, CAST(0 AS BIGINT)) AS n_unseen_ctx,
      |  COALESCE(a.n_improb, CAST(0 AS BIGINT)) AS n_improb,
      |  CASE WHEN COALESCE(a.n_trigrams, 0) > 0
      |       THEN CAST(a.n_improb * 1000000 // a.n_trigrams AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS improb_ppm,
      |  COALESCE(a.n_improb, 0) * 5 <= COALESCE(a.n_trigrams, 0) AS keep
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    TextAnalysis.knTrigramGate(docs, docs.where(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Fertility of the TRAINED unigram vocabulary, per source (q226): the
    * question a tokenizer-training run reports per corpus slice — pieces
    * per thousand characters under the q223-trained model (XLM-R/NLLB
    * report exactly this per language). Trains down the 96 → 48 → 24
    * schedule, then ONE zero-shuffle decode projection over the corpus
    * and ONE source-keyed aggregate. The oracle replays the full q223
    * training chain (three recursive-CTE DP pairs), rolls the final
    * decode up per word, and re-weights by per-source word occurrences.
    */
  val q226 = Q(
    "q226_unigram_fertility",
    s"""WITH RECURSIVE
       |$unigramTrainCtes,
       |wpc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np FROM segsc GROUP BY word),
       |dw AS (SELECT source, word FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0),
       |ps AS (SELECT source, CAST(SUM(np) AS BIGINT) AS n_pieces
       |  FROM dw JOIN wpc USING (word) GROUP BY source),
       |cs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(length(replace(text, ' ', ''))) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY source)
       |SELECT cs.source, cs.n_docs, cs.n_chars,
       |  COALESCE(ps.n_pieces, CAST(0 AS BIGINT)) AS n_pieces,
       |  CASE WHEN cs.n_chars > 0
       |       THEN CAST(COALESCE(ps.n_pieces, 0) * 1000 // cs.n_chars AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS pieces_per_kchar
       |FROM cs LEFT JOIN ps USING (source)
       |ORDER BY cs.source""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    TextAnalysis.unigramFertilityBySource(t(s, dir, "documents"), "text",
        "source", maxPieceLen = 4, seedV = 96, targetV = 24, pruneFrac = 0.5)
      .orderBy("source")
  }

  /** Whole-document FFD bin packing (q227): the no-split example-packing
    * layout (SFT corpora keep examples whole), capacity 128 over 8
    * doc_id-mod shards. The oracle replays each shard's first-fit-
    * decreasing walk with a recursive CTE carrying the open-bin fills
    * list — the first bin with room via a list_filter lambda, exactly
    * the operator's while-loop.
    */
  /** The q227/q228 shared FFD replay: per doc_id-mod shard, documents in
    * (n DESC, doc_id) order walk a recursive CTE carrying the open-bin
    * fills list (first fitting bin via a list_filter lambda — the
    * operator's segment-tree leftmost fit). Ends with `pk` holding the
    * complete walk; consumers project `bins` (per-doc assignment) or
    * `fills` (per-shard occupancy) at i = cnt.m. `ordFilter` restricts
    * which documents enter the walk (q232 packs only fitting docs). */
  private def packFfdCtes(ordFilter: String = ""): String =
    s"""dl AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(doc_id % 8 AS BIGINT) AS shard,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n
      |  FROM documents WHERE length(text) > 0),
      |ord AS (SELECT doc_id, shard, n, ROW_NUMBER() OVER (
      |    PARTITION BY shard ORDER BY n DESC, doc_id) AS rn FROM dl$ordFilter),
      |cnt AS (SELECT shard, CAST(COUNT(*) AS INT) AS m FROM ord GROUP BY shard),
      |pk AS (
      |  SELECT shard, 0 AS i, CAST([] AS BIGINT[]) AS fills, CAST([] AS INT[]) AS bins
      |  FROM cnt
      |  UNION ALL
      |  SELECT shard, i + 1,
      |    CASE WHEN b <= len(fills)
      |         THEN list_transform(range(1, len(fills) + 1),
      |           j -> CASE WHEN j = b THEN fills[j] + n ELSE fills[j] END)
      |         ELSE list_append(fills, CAST(n AS BIGINT)) END,
      |    list_append(bins, CAST(b - 1 AS INT))
      |  FROM (
      |    SELECT p.shard, p.i, p.fills, p.bins, o.n,
      |      COALESCE(list_filter(range(1, len(p.fills) + 1),
      |          j -> p.fills[j] + o.n <= 128)[1],
      |        len(p.fills) + 1) AS b
      |    FROM pk p JOIN ord o ON o.shard = p.shard AND o.rn = p.i + 1)
      |)""".stripMargin

  val q227 = Q(
    "q227_pack_bins_ffd",
    s"""WITH RECURSIVE
      |${packFfdCtes()},
      |fin AS (SELECT pk.shard, pk.bins FROM pk JOIN cnt USING (shard) WHERE pk.i = cnt.m)
      |SELECT o.doc_id, o.shard, CAST(f.bins[o.rn] AS INT) AS bin,
      |  CAST(o.n AS BIGINT) AS n_tokens, o.n > 128 AS oversize
      |FROM ord o JOIN fin f USING (shard)
      |ORDER BY o.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.packBinsFfd(t(s, dir, "documents"), "doc_id", "text",
        capacity = 128, nShards = 8)
      .orderBy("doc_id")
  }

  /** Packing-efficiency dashboard (q228): per shard, FFD bins used vs the
    * token lower bound and occupancy — the pad-waste number a training
    * run watches. The oracle extends the q227 replay with the rollup.
    */
  val q228 = Q(
    "q228_pack_efficiency",
    s"""WITH RECURSIVE
      |${packFfdCtes()},
      |fin AS (SELECT pk.shard, pk.fills FROM pk JOIN cnt USING (shard) WHERE pk.i = cnt.m),
      |tot AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN n > 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize
      |  FROM ord GROUP BY shard)
      |SELECT t.shard, t.n_docs, t.n_tokens,
      |  CAST(len(f.fills) AS BIGINT) AS n_bins,
      |  t.n_oversize,
      |  CAST((t.n_tokens + 127) // 128 AS BIGINT) AS lower_bound,
      |  CAST(t.n_tokens * 1000000 // (len(f.fills) * 128) AS BIGINT) AS occupancy_ppm
      |FROM tot t JOIN fin f USING (shard)
      |ORDER BY t.shard""".stripMargin) { (s, dir) =>
    TextAnalysis.packBinsReport(t(s, dir, "documents"), "doc_id", "text",
        capacity = 128, nShards = 8)
      .orderBy("shard")
  }

  /** Composed packing layout with oversize salvage (q232; VERDICT r19 #5):
    * fitting docs pack whole through the FFD walk; oversize docs — which
    * plain FFD strands in permanently-overfull bins — lay out through the
    * packSequences concat-and-split arithmetic at contextLen = capacity in
    * a per-shard salvage stream. The oracle runs the q227 FFD replay
    * restricted to fitting docs plus one running-sum window for salvage.
    */
  val q232 = Q(
    "q232_pack_bins_salvage",
    s"""WITH RECURSIVE
      |${packFfdCtes(" WHERE n <= 128")},
      |fin AS (SELECT pk.shard, pk.bins FROM pk JOIN cnt USING (shard) WHERE pk.i = cnt.m),
      |ffd AS (SELECT o.doc_id, o.shard, 'ffd' AS layout,
      |    CAST(o.n AS BIGINT) AS n_tokens,
      |    CAST(f.bins[o.rn] AS BIGINT) AS bin_first,
      |    CAST(f.bins[o.rn] AS BIGINT) AS bin_last
      |  FROM ord o JOIN fin f USING (shard)),
      |sal AS (SELECT doc_id, shard, 'salvage' AS layout,
      |    CAST(n AS BIGINT) AS n_tokens,
      |    CAST((cum - n) // 128 AS BIGINT) AS bin_first,
      |    CAST((cum - 1) // 128 AS BIGINT) AS bin_last
      |  FROM (SELECT doc_id, shard, n,
      |      SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
      |        ROWS UNBOUNDED PRECEDING) AS cum
      |    FROM dl WHERE n > 128))
      |SELECT * FROM ffd UNION ALL SELECT * FROM sal
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.packBinsWithSalvage(t(s, dir, "documents"), "doc_id", "text",
        capacity = 128, nShards = 8)
      .orderBy("doc_id")
  }

  /** Salvage-extended packing dashboard (q233): the q228 report over the
    * composed layout — per shard, docs/bins/tokens per strategy plus the
    * salvaged-token fraction. The oracle re-aggregates the q232 chains.
    */
  val q233 = Q(
    "q233_pack_salvage_report",
    s"""WITH RECURSIVE
      |${packFfdCtes(" WHERE n <= 128")},
      |fin AS (SELECT pk.shard, pk.fills FROM pk JOIN cnt USING (shard) WHERE pk.i = cnt.m),
      |sal AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs_salvaged,
      |    CAST(SUM(n) AS BIGINT) AS tokens_salvaged,
      |    CAST((SUM(n) + 127) // 128 AS BIGINT) AS salvage_bins
      |  FROM dl WHERE n > 128 GROUP BY shard),
      |ff AS (SELECT o.shard, CAST(COUNT(*) AS BIGINT) AS n_docs_ffd,
      |    CAST(SUM(o.n) AS BIGINT) AS tokens_ffd,
      |    CAST(len(ANY_VALUE(f.fills)) AS BIGINT) AS ffd_bins
      |  FROM ord o JOIN fin f USING (shard) GROUP BY o.shard),
      |sh AS (SELECT DISTINCT shard FROM dl)
      |SELECT sh.shard,
      |  COALESCE(ff.n_docs_ffd, CAST(0 AS BIGINT)) AS n_docs_ffd,
      |  COALESCE(sal.n_docs_salvaged, CAST(0 AS BIGINT)) AS n_docs_salvaged,
      |  COALESCE(ff.ffd_bins, CAST(0 AS BIGINT)) AS ffd_bins,
      |  COALESCE(sal.salvage_bins, CAST(0 AS BIGINT)) AS salvage_bins,
      |  COALESCE(ff.tokens_ffd, CAST(0 AS BIGINT)) AS tokens_ffd,
      |  COALESCE(sal.tokens_salvaged, CAST(0 AS BIGINT)) AS tokens_salvaged,
      |  CAST(COALESCE(sal.tokens_salvaged, 0) * 1000000
      |    // (COALESCE(ff.tokens_ffd, 0) + COALESCE(sal.tokens_salvaged, 0)) AS BIGINT) AS salvage_ppm
      |FROM sh LEFT JOIN ff USING (shard) LEFT JOIN sal USING (shard)
      |ORDER BY sh.shard""".stripMargin) { (s, dir) =>
    TextAnalysis.packSalvageReport(t(s, dir, "documents"), "doc_id", "text",
        capacity = 128, nShards = 8)
      .orderBy("shard")
  }

  /** Streaming ingest-time decontamination gate, batch twin (q225): the
    * per-document protocol flags of Decontaminate.ingestGate — every rung
    * a stateless projection or stream-static join (the append-mode shapes;
    * DecontamIngestGateSpec runs the same operator over a MemoryStream).
    * The oracle reuses the q219 protocol chains and emits per-doc flags;
    * fuzzy_candidate is the band-collision SCREEN (the batch fuzzy
    * protocol's candidate set, pre-verification).
    */
  val q225 = Q(
    "q225_decontamination_ingest_gate",
    s"""WITH $shingleCtes,
       |ebh AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 89 = 0),
       |ex AS (SELECT doc_id, md5(text) IN (SELECT fp FROM ebh) AS exact_hit
       |       FROM documents),
       |cbh AS (SELECT DISTINCT h FROM hs WHERE doc_id % 89 = 0),
       |cshared AS (SELECT doc_id, COUNT(*) n_shared FROM hs
       |            WHERE h IN (SELECT h FROM cbh) GROUP BY doc_id),
       |contain AS (SELECT sizes.doc_id,
       |    COALESCE(cshared.n_shared, 0) * 2 >= sizes.n AS contain_hit
       |  FROM sizes LEFT JOIN cshared USING (doc_id)),
       |wt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |ww AS (SELECT doc_id, unnest(range(0, len(toks) - 13 + 1)) AS pos, toks
       |       FROM wt WHERE len(toks) >= 13),
       |wh AS (SELECT doc_id,
       |         md5(array_to_string(list_slice(toks, pos + 1, pos + 13), ' ')) AS h
       |       FROM ww),
       |wbh AS (SELECT DISTINCT h FROM wh WHERE doc_id % 89 = 0),
       |whits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM wh
       |          WHERE h IN (SELECT h FROM wbh) GROUP BY doc_id),
       |win AS (SELECT wt.doc_id, COALESCE(whits.n_hits, 0) > 0 AS window_hit
       |        FROM wt LEFT JOIN whits USING (doc_id)),
       |params(i, a, b) AS (VALUES $minhashParamsSql),
       |mh AS (SELECT doc_id, i, MIN((a * h + b) % 1000000007) m
       |       FROM hs CROSS JOIN params GROUP BY doc_id, i),
       |sig AS (SELECT doc_id, list(m ORDER BY i) sig FROM mh GROUP BY doc_id),
       |bands AS (SELECT doc_id, j,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, j*4 + 1, j*4 + 4)),
       |                (acc, x) -> (acc * 131 + x) % 1000000007) bval
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u),
       |fzc AS (SELECT DISTINCT c.doc_id FROM bands c
       |  JOIN bands b ON c.j = b.j AND c.bval = b.bval
       |  WHERE c.doc_id % 89 <> 0 AND b.doc_id % 89 = 0)
       |SELECT d.doc_id, ex.exact_hit,
       |  COALESCE(contain.contain_hit, FALSE) AS contain_hit,
       |  win.window_hit,
       |  fzc.doc_id IS NOT NULL AS fuzzy_candidate,
       |  ex.exact_hit OR COALESCE(contain.contain_hit, FALSE) OR win.window_hit
       |    OR fzc.doc_id IS NOT NULL AS any_hit
       |FROM documents d
       |JOIN ex ON ex.doc_id = d.doc_id
       |LEFT JOIN contain ON contain.doc_id = d.doc_id
       |JOIN win ON win.doc_id = d.doc_id
       |LEFT JOIN fzc ON fzc.doc_id = d.doc_id
       |WHERE d.doc_id % 89 <> 0
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    graft.Graft.register(s)
    val docs = t(s, dir, "documents")
    graft.operators.Decontaminate.ingestGate(
        docs.where(col("doc_id") % 89 =!= 0),
        docs.where(col("doc_id") % 89 === 0),
        "doc_id", "text")
      .select(col("doc_id"), col("exact_hit"), col("contain_hit"),
        col("window_hit"), col("fuzzy_candidate"), col("any_hit"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38, q39,
    q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54,
    q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68,
    q69, q70, q71, q72, q73, q74, q75, q79, q80, q85, q87, q88, q89, q96,
    q97, q98, q99, q100, q101, q102, q103, q104, q105, q106, q107, q108, q109, q110, q111, q112, q113, q114, q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125, q126, q127, q128, q129, q130, q131, q132, q133, q134, q135, q136, q137, q138, q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150, q151, q152, q153, q154, q155, q156, q157, q158, q159, q160, q161, q162, q163, q164, q165, q166, q167, q168, q169, q170, q171, q172, q173, q174, q175, q176, q177, q178, q179, q180, q181, q182, q183, q184, q185, q186, q187, q188, q189, q190, q191, q192, q193, q194, q195, q196, q197, q198, q199, q200, q201, q202, q203, q204, q205, q206, q207, q208, q209, q210, q211, q212, q213, q214, q215, q216, q217, q218, q219, q220, q221, q222, q223, q224, q225, q226, q227, q228, q229, q230, q231, q232, q233, q234)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.graft_hash64

/** Deterministic, engine-independent sampling and splitting for
  * training-data pipelines. Unlike rand()-based sampling, membership is a
  * pure function of the row's id (+ salt): reproducible across runs,
  * engines, and cluster topologies, stable under re-partitioning, and
  * joinable — two tables sampled with the same salt select the SAME ids,
  * which rand() can never guarantee. This is the property that matters at
  * 100 TB, where a "10% sample" must mean the same rows tomorrow.
  */
object Sampling {

  /** Hash bucket in [0, 100) for an id column and salt. */
  def pctBucket(id: Column, salt: String): Column =
    graft_hash64(concat(id.cast("string"), lit(":"), lit(salt))) % 100

  /** Assign train/val/test splits by hash bucket: [0,train) → "train",
    * [train, train+val) → "val", rest → "test".
    */
  def trainValTestSplit(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10, salt: String = "graft"): DataFrame = {
    require(trainPct + valPct <= 100)
    val b = pctBucket(col(idCol), salt)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-safe train/val/test split: the [[trainValTestSplit]] bucket
    * rule keyed by the NEAR-DUP CLUSTER representative instead of the
    * document id, so a near-duplicate pair can never straddle two splits —
    * the held-out-contamination failure mode of id-keyed splits (a val doc
    * whose near-copy sits in train leaks the answer; the reason benchmark
    * decontamination (q53/q65) and split assignment must share the dedup
    * graph). Documents in no cluster key by their own id (identical
    * buckets to trainValTestSplit, so adding clustering only MOVES the
    * near-dup minority, never reshuffles the clean majority).
    *
    * Scale shape: the cluster frame is pairs-sized (nearDupClusters emits
    * only clustered docs), so the join is a broadcast of the small side
    * onto one corpus scan; the bucket is a pure projection after that.
    * Output: doc_id, split_key (cluster rep or self), split.
    */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10, salt: String = "graft"): DataFrame = {
    require(trainPct + valPct <= 100)
    val keyed = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(org.apache.spark.sql.functions.broadcast(
        clusters.select(col("doc_id"), col("cluster_id"))), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
    val b = pctBucket(col("split_key"), salt)
    keyed.select(col("doc_id"), col("split_key"),
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Per-group percentile normalization in integer ppm: each row's score
    * becomes its within-group rank position on [0, 10⁶] — the calibration
    * step before mixing quality scores ACROSS sources (a raw 0.7 from one
    * classifier run and a 0.7 from another are not comparable; their
    * within-source percentiles are). ppm = (rank−1)·10⁶ div (n−1) over the
    * (score, id) total order; single-row groups sit at 0 (documented).
    * All-integer, so the calibrated score itself stays on the exact gate.
    *
    * Scale shape: ONE keyed window (rank + count share the partition
    * frame; parallelism = #groups, per-task sort bounded by the largest
    * group — pre-bucket a mega-group by a hash salt if one source
    * dominates, the q150 note).
    */
  def percentileNormalize(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val part = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val w = part.orderBy(col(scoreCol), col(idCol))
    df.withColumn("__pn_rank", row_number().over(w))
      .withColumn("__pn_n", count(lit(1)).over(part))
      .withColumn("pctl_ppm",
        when(col("__pn_n") > 1,
          expr("((__pn_rank - 1) * 1000000L) div (__pn_n - 1)"))
          .otherwise(lit(0L)))
      .drop("__pn_rank", "__pn_n")
  }

  /** Per-stratum reservoir sample: exactly min(k, |stratum|) rows per
    * stratum, selected and ordered by (hash(id:salt), id) — the balanced-
    * sampling step for mixing sources/domains/languages at fixed quotas.
    * Deterministic and repartition-stable (membership is a pure function
    * of id and salt, unlike rand()-reservoirs). The window partitions by
    * the stratum key, so parallelism = #strata and each task ranks one
    * stratum; at scale a heavily skewed stratum can pre-filter with
    * `pctBucket` before ranking to bound the sort input.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      k: Int, salt: String = "graft"): DataFrame = {
    val key = graft_hash64(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    df.withColumn("smp_key", key)
      .withColumn("sample_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(strataCol)).orderBy(col("smp_key"), col(idCol))))
      .where(col("sample_rank") <= k)
      .drop("smp_key")
  }

  /** Source-weighted mixture materialization — the "epochs per source"
    * step of an LLM training mix (GPT-3 Table 2.2-style): weight 2.3 on a
    * source repeats each of its rows 2 times plus a deterministic 30%
    * chance of a third copy; weight 0.4 keeps a 40% hash-sample; weight 0
    * drops the source. Fractions are resolved in basis points against the
    * row's id hash, so membership of the fractional copy is a pure
    * function of (id, salt) — reproducible, repartition-stable, and
    * engine-independent (the DuckDB oracle reproduces it exactly).
    *
    * Scale shape: one codegen'd projection + a map-side explode of a tiny
    * int sequence — no shuffle, no driver state; output partitioning
    * inherits the input's. `copy` (1..n) lets a downstream epoch shuffle
    * spread repeats across shards.
    */
  def mixtureWeights(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      salt: String = "mix"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 100),
      "mixture weights must be in [0, 100]")
    def parts(w: Double): (Int, Int) = {
      val base = math.floor(w).toInt
      (base, math.round((w - base) * 10000).toInt)
    }
    val h = graft_hash64(concat(col(idCol).cast("string"), lit(":"), lit(salt))) % 10000
    val (db, dbp) = parts(defaultWeight)
    val (base, bp) = weights.foldLeft((lit(db), lit(dbp))) {
      case ((b, f), (k, v)) =>
        val (kb, kf) = parts(v)
        (when(col(sourceCol) === k, kb).otherwise(b),
          when(col(sourceCol) === k, kf).otherwise(f))
    }
    df.withColumn("n_copies", base + when(h < bp, 1).otherwise(0))
      .where(col("n_copies") >= 1)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies").cast("long"))))
      .drop("n_copies")
  }

  /** Deterministic epoch shuffle + shard assignment for training readers:
    * shard = hash(id:salt) mod numShards — reshuffled per epoch by
    * changing the salt — and a reading position WITHIN the shard ordered
    * by (hash, id). Each data-loader worker gets a disjoint, reproducible,
    * internally-shuffled slice. Deliberately NOT a global row_number (a
    * no-partition window is a single-reducer at scale): the per-shard
    * window partitions by shard, so parallelism = numShards and hash
    * balance bounds the skew; the id tiebreak makes positions unique and
    * engine-independent.
    */
  def epochShuffle(df: DataFrame, idCol: String, numShards: Int,
      salt: String = "epoch0"): DataFrame = {
    val h = graft_hash64(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    df.withColumn("shuffle_key", h)
      .withColumn("shard", pmod(col("shuffle_key"), lit(numShards.toLong)))
      .withColumn("pos_in_shard",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("shuffle_key"), col(idCol))))
  }

  /** DSIR-style data selection scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", re-expressed with the
    * engine's determinism rules): hashed unigram+bigram features, per-
    * bucket target-affinity weights, per-document importance scores. Docs
    * whose feature mix resembles the target distribution score high; use
    * the score to select/resample raw data toward a target domain.
    *
    * Weights are integer fixed-point, NOT float log-ratios: for bucket b
    * with target count t_b and corpus count c_b,
    * `w_b = (t_b * scale) div c_b` ∈ [0, scale] — a monotone proxy of the
    * target/raw frequency ratio with no floating-point sums anywhere, so
    * the DuckDB oracle reproduces every score bit-for-bit (float Σ over a
    * shuffle-ordered feature set would not hash-match across engines).
    * Per-doc `score = (Σ_b cnt_b·w_b) div n_feats` — the count-weighted
    * mean bucket weight, in [0, scale].
    *
    * Scale shape — the canonical DSIR two-pass (fit, then apply). Pass 1
    * (weights): the feature stream partial-aggregates map-side straight
    * into `buckets` cells, so its exchange carries ≤ tasks × buckets tiny
    * rows — no per-doc key anywhere. Pass 2 (scoring): ONE exchange keyed
    * by (doc, bucket) builds per-doc feature counts, the ≤`buckets`-row
    * weight table comes back as a broadcast hash join, and the final
    * per-doc sum re-shuffles only (doc_id, cnt, w) longs. The corpus text
    * is scanned twice (both passes re-derive features) but never travels
    * on any exchange.
    */
  def importanceScore(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 4096,
      scale: Long = 1000000L): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val toks = Dedup.tokens(col(textCol))
    val feats = df.select(col(idCol).as("doc_id"), isTarget.as("is_target"),
      explode(concat(toks, Dedup.gramsOf(toks, 2))).as("feat"))
      .select(col("doc_id"), col("is_target"),
        (graft_hash64(col("feat")) % buckets).as("bucket"))
    val wts = feats.groupBy("bucket")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("t_b"),
        count(lit(1)).as("c_b"))
      .select(col("bucket"),
        expr(s"t_b * ${scale}L div c_b").as("w"))
    feats.groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(wts), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_feats"),
        expr("sum(cnt * w) div sum(cnt)").as("score"))
  }

  /** Temperature-scaled source mixing (the mT5/multilingual α-sampling
    * rule, Xue et al. 2021 §3.1 with α = 1/2): sample quotas proportional
    * to |source|^α so large sources are damped and small sources
    * up-weighted, the standard fix for a web mix where one domain is 100×
    * another. α = 1/2 is computed as an EXACT integer square root —
    * float `sqrt` can be off by one ULP near perfect squares and an
    * engine disagreement there flips a whole quota — via floor(sqrt)
    * followed by a two-sided integer correction, identical in Spark and
    * the DuckDB oracle. Quotas use floor division (quota_i =
    * k·isqrt(n_i) div Σ isqrt(n_j)), so Σ quotas ≤ k; rows are then
    * picked per source by the [[stratifiedSample]] hash order.
    *
    * Scale shape: one count aggregation (#sources rows) broadcast back,
    * one keyed rank window per source, no collect. Output: the sampled
    * rows with (n_source, isq, quota, sample_rank).
    */
  def temperatureSample(df: DataFrame, idCol: String, sourceCol: String,
      k: Int, salt: String = "temp"): DataFrame = {
    require(k >= 1, "temperatureSample: k must be >= 1")
    def isqrt(c: Column): Column = {
      val f = floor(sqrt(c.cast("double"))).cast("long")
      // two-sided correction: float sqrt may land one off near squares
      val up = when((f + 1) * (f + 1) <= c, f + 1).otherwise(f)
      when(up * up > c, up - 1).otherwise(up)
    }
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_source"))
      .withColumn("isq", isqrt(col("n_source")))
    val tot = counts.agg(sum(col("isq")).as("isq_tot"))
    val quotas = counts.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"(${k}L * isq) div isq_tot"))
      .select(col(sourceCol), col("n_source"), col("isq"), col("quota"))
    val key = graft_hash64(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    df.join(broadcast(quotas), Seq(sourceCol))
      .withColumn("smp_key", key)
      .withColumn("sample_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(sourceCol)).orderBy(col("smp_key"), col(idCol))))
      .where(col("sample_rank") <= col("quota"))
      .drop("smp_key")
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual Pretraining",
    * ICLR 2023): distribute a total document budget across sources as
    * uniformly as possible, capping each source at `maxEpochs` passes over
    * its data — the epoch-capped complement to [[temperatureSample]]'s
    * proportional α-scaling. The paper's per-source loop is replaced by a
    * closed form: with caps sorted ascending, the capped set is exactly
    * the prefix where cap_i·(k−i+1) ≤ B − Σ_{j<i}cap_j (if the test fails
    * at i it fails at every j > i: cap_j·r_j ≥ cap_i·r_i − cap_i >
    * R_i − cap_i = R_j), and the survivors share the remainder by integer
    * division, the first (rem mod m) sources in (cap, source) order taking
    * one extra — fully integer, so the allocation is engine-exact.
    *
    * Scale shape: every allocation window runs over the per-source COUNT
    * frame (≤ #sources rows — the q151 rule: the only single-partition
    * exchange is this tiny frame, never the corpus); quotas broadcast
    * back and the per-source pick is the stratified hash-rank window
    * keyed on source. With maxEpochs > 1 a rare source's quota may exceed
    * its row count: sample_rank covers each row at most once and the
    * emitted quota records the full allocation (callers replicate
    * quota div n_source epochs + remainder downstream).
    */
  def unimaxSample(df: DataFrame, idCol: String, sourceCol: String,
      budget: Long, maxEpochs: Int = 1, salt: String = "unimax"): DataFrame = {
    require(budget >= 0, "unimaxSample: budget must be >= 0")
    require(maxEpochs >= 1, "unimaxSample: maxEpochs must be >= 1")
    val W = org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_source"))
      .withColumn("cap", col("n_source") * lit(maxEpochs.toLong))
    val byCap = W.orderBy(col("cap"), col(sourceCol))
    val full = W.partitionBy()
    val quotas = counts
      .withColumn("k", count(lit(1)).over(full))
      .withColumn("idx", row_number().over(byCap))
      .withColumn("cum_prev", coalesce(
        sum(col("cap")).over(byCap.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("is_capped",
        col("cap") * (col("k") - col("idx") + lit(1)) <= lit(budget) - col("cum_prev"))
      .withColumn("urank", sum(when(col("is_capped"), lit(0L)).otherwise(lit(1L)))
        .over(byCap.rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("rem",
        lit(budget) - sum(when(col("is_capped"), col("cap")).otherwise(lit(0L))).over(full))
      .withColumn("m",
        col("k") - sum(when(col("is_capped"), lit(1L)).otherwise(lit(0L))).over(full))
      // the otherwise-branch is never taken when m = 0 (everything capped),
      // so the division cannot hit zero at runtime
      .withColumn("quota", when(col("is_capped"), col("cap")).otherwise(
        expr("rem div m") + when(col("urank") <= expr("rem % m"), lit(1L)).otherwise(lit(0L))))
      .select(col(sourceCol), col("n_source"), col("cap"), col("quota"))
    val key = graft_hash64(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    df.join(broadcast(quotas), Seq(sourceCol))
      .withColumn("smp_key", key)
      .withColumn("sample_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(sourceCol)).orderBy(col("smp_key"), col(idCol))))
      .where(col("sample_rank") <= least(col("quota"), col("n_source")))
      .drop("smp_key")
  }

  /** Deterministic weighted sampling without replacement — the integerized
    * Efraimidis–Spirakis A-ES scheme (IPL 2006): each row draws the
    * uniform key hash(id:salt) ∈ [0, 2³⁰·931…) and is ranked by
    * priority = key div weight; the k SMALLEST priorities win. A row with
    * twice the weight halves its expected priority — the integer analogue
    * of the paper's u^(1/w) exponential keys — while membership stays a
    * pure function of (id, salt, weight): reproducible across runs,
    * repartitionings, and engines (the q52/q72 determinism contract; a
    * rand()-based sampler could never sit under the exact-hash oracle).
    * Weights must be positive integers (row dropped at w ≤ 0); ties break
    * by id.
    *
    * Scale shape: the priority is a per-row codegen projection and the
    * global k-smallest is TakeOrdered (no single-reducer window over the
    * corpus — the q41 rule); the rank window runs over ≤ k rows. For
    * per-stratum quotas compose with [[stratifiedSample]]'s
    * window-by-stratum shape instead.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int,
      salt: String = "wsample"): DataFrame = {
    require(k >= 1, "weightedSample: k must be >= 1")
    val key = graft_hash64(concat(col(idCol).cast("string"), lit(":"), lit(salt)))
    val ranked = df
      .where(col(weightCol) > 0)
      .withColumn("priority", key.cast("long"))
      .withColumn("priority", expr(s"priority div ${weightCol}"))
      .orderBy(col("priority"), col(idCol)).limit(k)
    ranked.withColumn("sample_rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("priority"), col(idCol))))
  }

  /** Token-budget-constrained corpus selection: keep the best documents
    * (greedy by a per-document integer score, descending; doc_id
    * tie-breaks) until the cumulative token count would exceed `budget` —
    * the "assemble the best N-token training mix" step after quality
    * scoring. The score here is DISTINCT token count (lexical richness —
    * integer, so the whole selection sits on the exact-hash gate); `keep`
    * uses the strict prefix rule: a document stays iff every token of it
    * fits, i.e. its inclusive running sum ≤ budget. Greedy-prefix, not
    * knapsack — the standard corpus-assembly choice (documents are small
    * vs the budget, so the LP gap is one document).
    *
    * Shape (the two-pass distributed prefix sum — VERDICT r16 #2): one
    * scan computes (n_toks, score) per row (pure projection); the global
    * running sum is NOT a single-partition window. Rows bucket by score
    * value (`score div width`, 64 value-range buckets off one max(score)
    * aggregate — all rows of one score share a bucket, so bucket order IS
    * the global (score desc, doc_id) order across buckets), the in-bucket
    * running sum is a Window PARTITIONED BY bucket, and the ≤ 64 per-bucket
    * totals collect to the driver (bounded, the IVF-fit class) where the
    * exclusive cross-bucket offsets become a literal map expression riding
    * the plan — cum_toks = offset(bucket) + in-bucket sum. One keyed
    * exchange over the triples frame (~1% of corpus bytes — the text never
    * rides the sort), no single-reducer stage at any corpus size. Skew
    * bound: a bucket holds at most the rows of 1/64th of the score range;
    * heavy single-score corpora degrade to fewer effective buckets, never
    * to a worse shape than the range-partition they'd need anyway.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    // localCheckpoint (r21): the scored triples are read THREE times (the
    // max(score) probe, the ≤64-bucket totals collect, and the final
    // window) — without the re-root each pass re-runs the corpus scan and
    // the split+array_distinct projection, the operator's dominant cost.
    // The materialized frame is 3 longs/doc (~1% of corpus bytes, the
    // documented triples-frame budget).
    // fused split+count+distinct codegen pass (graft.expr.TokenProfile,
    // r22) — one per-row kernel call instead of split + size +
    // array_distinct expression trees
    val scored = df.select(col(idCol).cast("long").as("doc_id"),
        graft.functions.token_profile(col(textCol), Seq.empty).as("__tp"))
      .select(col("doc_id"), element_at(col("__tp"), 1).as("n_toks"),
        element_at(col("__tp"), 2).as("score"))
      .localCheckpoint()
    val maxScore = scored.agg(max(col("score"))).head().getAs[Any](0) match {
      case null => return scored // empty corpus: nothing to rank
        .withColumn("cum_toks", lit(null).cast("long"))
        .withColumn("keep", lit(null).cast("boolean"))
        .select(col("doc_id"), col("n_toks"), col("score"), col("cum_toks"), col("keep"))
      case l: Long => l
    }
    val width = math.max(1L, maxScore / 64L + 1L)
    // integer `div`, not Column./ (double) — exact at any score magnitude
    // (Column./ stays monotonic only below 2^53; the repo convention at
    // the top of queries/Relational.scala, ADVICE r17)
    val bucketed = scored.withColumn("bucket", expr(s"score div ${width}L"))
    // ≤ 64 (bucket, total) rows — the bounded driver collect of the
    // documented "broadcast cumulative offsets" pass
    val totals = bucketed.groupBy(col("bucket"))
      .agg(sum(col("n_toks")).as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1) // global order is score DESC → higher buckets first
    val offsets = totals.scanLeft((Long.MaxValue, 0L)) {
      case ((_, acc), (b, tot)) => (b, acc + tot)
    } // (bucket, inclusive-through-bucket); exclusive offset of b = previous acc
    val exclusive = totals.map(_._1).zip(offsets.map(_._2)).toMap // bucket -> sum of strictly-higher buckets
    val offsetExpr = exclusive.foldLeft(lit(0L)) { case (e, (b, off)) =>
      when(col("bucket") === b, lit(off)).otherwise(e)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
    bucketed
      .withColumn("cum_toks", offsetExpr + sum(col("n_toks")).over(w))
      .withColumn("keep", col("cum_toks") <= budget)
      .select(col("doc_id"), col("n_toks"), col("score"), col("cum_toks"), col("keep"))
  }
}

/** Benchmark decontamination: flag/remove training documents whose content
  * fingerprint collides with a held-out evaluation set — the standard
  * pre-training hygiene step. The benchmark side is small → broadcast
  * semi/anti join on a 128-bit md5 fingerprint (graft_hash64's ~2^30 range
  * would false-positive at billion-doc scale); the corpus scan never
  * shuffles.
  */
object Decontaminate {

  private def fp(textCol: String): Column = md5(col(textCol))

  /** Corpus rows whose exact content fingerprint appears in `benchmark`. */
  def flagExact(corpus: DataFrame, benchmark: DataFrame, textCol: String): DataFrame = {
    val bfp = benchmark.select(fp(textCol).as("__fp")).distinct()
    corpus.withColumn("__fp", fp(textCol))
      .join(broadcast(bfp), Seq("__fp"), "left_semi")
      .drop("__fp")
  }

  /** Near-duplicate benchmark contamination (the GPT-3/C4-style n-gram
    * overlap rule): a corpus doc is contaminated when ≥ `threshold` of its
    * distinct k-token shingles also occur anywhere in the benchmark set.
    * Returns (id, n_shingles, n_shared, contaminated); docs with no
    * shingles (< k tokens, or null text) are omitted — callers LEFT-join
    * with false (the q219 contract).
    *
    * Scale shape (VERDICT r19 stretch #8 — shared onto the `hash_hits_64`
    * kernel the streaming gate introduced): the corpus side is now a PURE
    * PROJECTION — per row, distinct shingle hashes + one binary-search
    * probe of the plan-embedded sorted benchmark array — so the whole flag
    * is zero-exchange at any corpus size (spec-pinned). The previous shape
    * exploded every corpus shingle into a broadcast semi-join and
    * re-aggregated per doc TWICE (n_shared, n_shingles) — two doc-keyed
    * exchanges of the exploded frame that existed only to count what the
    * kernel counts in-row. Output is bit-identical (hashedShingles was
    * already distinct-per-doc). The benchmark side becomes one bounded
    * collect (≤ `maxBenchHashes`, loud require — the benchmarkWindowHashes
    * / ingestGate contract: an eval set is small by construction; per-shard
    * decontamination is the documented path past the cap). The integer
    * comparison `shared·den ≥ num·total` avoids any FP ratio.
    */
  def flagNearNgram(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 6,
      thresholdNum: Int = 1, thresholdDen: Int = 2,
      maxBenchHashes: Int = 1 << 21): DataFrame = {
    val rows = Dedup.hashedShingles(benchmark, idCol, textCol, k)
      .select(col("h")).distinct().limit(maxBenchHashes + 1).collect()
    require(rows.length <= maxBenchHashes,
      s"benchmark has over $maxBenchHashes distinct $k-shingle hashes — raise maxBenchHashes " +
        "explicitly or decontaminate per benchmark shard")
    val probe = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      rows.map(_.getLong(0)).sorted)
    corpus
      .select(col(idCol).as("id"), array_distinct(
        graft.functions.shingle_hashes(col(textCol), k)).as("__hs"))
      .where(size(col("__hs")) > 0)
      .select(col("id"), size(col("__hs")).cast("long").as("n_shingles"),
        graft.functions.hash_hits_64(col("__hs"), probe).as("n_shared"))
      .withColumn("contaminated",
        col("n_shared") * thresholdDen >= col("n_shingles") * thresholdNum)
  }

  /** Distinct `n`-token rolling-window fingerprints of the benchmark set,
    * folded to (hi, lo) pairs and pair-sorted for [[graft.expr.HashHits128]].
    * The ONE bounded driver collect of the n-gram decontamination rung (the
    * IVF-fit / AC-pattern-list class): the benchmark side is an evaluation
    * set — small by definition — and `maxHashes` makes the bound explicit
    * instead of silent (default 2²¹ ≈ 2M distinct 13-grams ≈ 32 MiB of
    * probe longs riding the plan; a full eval-suite decontamination pass is
    * typically 10⁵–10⁶).
    */
  def benchmarkWindowHashes(benchmark: DataFrame, textCol: String, n: Int,
      maxHashes: Int = 1 << 21): scala.collection.immutable.ArraySeq[Long] = {
    val rows = benchmark
      .select(explode(graft.functions.rolling_window_hashes(col(textCol), n)).as("__h"))
      .distinct()
      .limit(maxHashes + 1)
      .collect()
    require(rows.length <= maxHashes,
      s"benchmark has over $maxHashes distinct $n-gram fingerprints — raise maxHashes " +
        "explicitly or decontaminate per benchmark shard")
    val pairs = rows.map(r => graft.expr.HashProbe128.fold(r.getAs[Array[Byte]](0)))
      .sortWith { case ((h1, l1), (h2, l2)) =>
        val c = java.lang.Long.compare(h1, h2)
        c < 0 || (c == 0 && java.lang.Long.compare(l1, l2) < 0)
      }
    val flat = new Array[Long](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      flat(2 * i) = pairs(i)._1
      flat(2 * i + 1) = pairs(i)._2
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(flat)
  }

  /** N-gram-overlap benchmark decontamination — the published GPT-3 rule
    * (Brown et al. 2020 §C, also the PaLM/Llama eval protocol): a training
    * document is contaminated when ANY `n`-token window of its text also
    * occurs as an `n`-token window ANYWHERE in the benchmark set, at any
    * alignment. Strictly stronger than [[flagExact]] (whole-content
    * fingerprints) and differently shaped than [[flagNearNgram]] (which
    * thresholds on the shingle-overlap RATIO): one colliding 13-gram —
    * including a benchmark passage quoted mid-document straddling any
    * fixed-shingle alignment — flags the document.
    * Returns (id, n_windows, n_hits, contaminated).
    *
    * Scale shape: ONE corpus scan, ZERO corpus-side exchanges — the
    * O(tokens) rolling fingerprints and the probe count are both computed
    * in the scan projection (`rolling_window_hashes` + `hash_hits_128`
    * codegen kernels); the benchmark side reduces to a sorted probe array
    * riding the plan (see [[benchmarkWindowHashes]] for the bound). The
    * broadcast-semi-join formulation would explode the corpus ~L× and pay
    * a per-doc re-aggregation shuffle; this is a projection.
    */
  def flagNgramCollision(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      maxBenchHashes: Int = 1 << 21): DataFrame = {
    val probe = benchmarkWindowHashes(benchmark, textCol, n, maxBenchHashes)
    corpus
      .select(col(idCol).cast("long").as("id"),
        graft.functions.rolling_window_hashes(col(textCol), n).as("__hs"))
      .select(col("id"), size(col("__hs")).cast("long").as("n_windows"),
        graft.functions.hash_hits_128(col("__hs"), probe).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0L)
  }

  /** Fuzzy benchmark contamination — the near-duplicate-MATCH protocol
    * (RefinedWeb / Llama-style fuzzy decontamination; Penedo et al. 2023):
    * a corpus doc is contaminated when its shingle-set Jaccard similarity
    * to a SINGLE benchmark document reaches `threshold`. Complements the
    * two existing rungs with different failure modes: [[flagNgramCollision]]
    * fires on one quoted 13-gram (local evidence), [[flagNearNgram]] on
    * containment in the benchmark UNION (so shared boilerplate across many
    * benchmark docs can accumulate); this rung fires only on whole-document
    * similarity to one eval item — the "lightly paraphrased test question"
    * class. Candidates come from cross-corpus MinHash-LSH banding (the q32
    * self-join machinery re-aimed at two corpora), then exact verification
    * on the hashed shingle sets. Returns one row per corpus doc:
    * (id, n_shingles, n_candidates, n_matches, best_jaccard, contaminated).
    *
    * Scale shape — the corpus NEVER shuffles: band values come from ONE
    * fused codegen kernel per row (`minhash_bands`: shingle → permute →
    * min → band in a single pass; the self-join form explodes shingles
    * and shuffles every one of them twice — right for corpus×corpus,
    * wasteful when one side is an eval set), they broadcast-join against
    * the benchmark's band table, and only the candidate pairs (bounded by
    * benchmark size × collisions) see the exact-verification shingle
    * projection — the broadcast join sits BELOW it in the plan. Three
    * narrow corpus scans, zero corpus-wide exchanges; the only shuffle is
    * the candidate-pair distinct. The bands are the ones q32's self-join
    * uses ([[Dedup.minhashBandRows]]: same hashA/hashB permutations, same
    * mod-1e9+7 band fold), so the DuckDB oracle replays them exactly.
    *
    * Run over only the rows [[ingestGate]]'s fuzzy screen quarantined, this
    * is the confirm step of that loop, and a lossless one: its candidates
    * are exactly the band collisions the screen fires on, so a row with no
    * collision is reported clean with zero work, and screen ∘ confirm ≡ the
    * batch protocol (pinned by QuarantineConfirmSpec).
    */
  def fuzzyContamination(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 6, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.8): DataFrame = {
    // ONE fused codegen kernel per row (shingle → permute → min → band;
    // graft.expr.MinhashBands) — the first cut ran the signature as an
    // interpreted array_distinct ∘ aggregate ∘ zip_with chain and the
    // corpus scan dominated the query (3.28 s clean sf0.1). Shingle-less
    // docs return no bands, so they can never band-collide.
    def bandFrame(df: DataFrame): DataFrame = Dedup.minhashBandRows(
      df.select(col(idCol).cast("long").as("id"), col(textCol)), "id", textCol,
      k, numHashes, bands)
    val benchBands = bandFrame(benchmark)
      .select(col("id").as("id_b"), col("j"), col("bval"))
    val cand = bandFrame(corpus)
      .join(broadcast(benchBands), Seq("j", "bval"))
      .select(col("id"), col("id_b")).distinct() // the one (tiny) shuffle
    // exact verification on CANDIDATE rows only: the broadcast join runs
    // BEFORE the shingle projection, so the kernel never touches a
    // non-candidate row in this scan (a Project(hs) under the join would
    // evaluate it corpus-wide)
    def hsCol: Column = array_distinct(graft.functions.shingle_hashes(col(textCol), k))
    val benchHs = benchmark
      .select(col(idCol).cast("long").as("id_b"), hsCol.as("hs_b"))
    val ver = corpus.select(col(idCol).cast("long").as("id"), col(textCol))
      .join(broadcast(cand), Seq("id"))
      .withColumn("hs", hsCol)
      .join(broadcast(benchHs), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("hs"), col("hs_b"))))
      .withColumn("jaccard",
        col("shared") / (size(col("hs")) + size(col("hs_b")) - col("shared")))
    val agg = ver.groupBy(col("id")).agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_matches"),
      max(col("jaccard")).as("best_jaccard"))
    corpus.select(col(idCol).cast("long").as("id"),
        element_at(Dedup.minhashSummary(col(textCol), k, numHashes, bands), 1)
          .as("n_shingles"))
      .join(broadcast(agg), Seq("id"), "left")
      .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
      .withColumn("best_jaccard", coalesce(col("best_jaccard"), lit(0.0)))
      .withColumn("contaminated", col("n_matches") > 0L)
  }

  /** The STREAMING-NATIVE ingest-time decontamination gate (VERDICT r18
    * stretch #8): the per-document protocol flags of [[auditBySource]]
    * re-expressed so EVERY rung is a stateless projection or a
    * stream-static join — the shapes Structured Streaming runs in append
    * mode with zero state, so a live corpus stream is flagged at ingest:
    *
    *  - exact: md5 fingerprint LEFT-joined against the broadcast static
    *    benchmark fingerprints (a stream-static join);
    *  - contain: distinct shingle hashes counted against a plan-embedded
    *    sorted benchmark probe by `hash_hits_64` — the semi-join +
    *    per-doc re-aggregation of [[flagNearNgram]] (stateful on a
    *    stream) collapses into one projection;
    *  - window: the [[flagNgramCollision]] rolling-hash probe, already a
    *    projection;
    *  - fuzzy: the MinHash BAND-COLLISION SCREEN — per-row `minhash_bands`
    *    keys (bval·bands + j) probed against the benchmark's band keys.
    *    A band hit is a CANDIDATE, not a confirmed near-dup (the exact
    *    Jaccard verify needs the candidate join — batch territory), so
    *    the column is `fuzzy_candidate`: stream-side it quarantines for
    *    the batch audit to confirm; it can only over-flag, never miss a
    *    pair the batch fuzzy protocol would catch (same bands, same
    *    arithmetic — [[fuzzyContamination]]'s candidates are exactly the
    *    band collisions).
    *
    * The benchmark side is STATIC (an eval suite): its three probe
    * arrays are collected once at plan build, bounded by `maxBenchHashes`
    * (the benchmarkWindowHashes contract). Output: every corpus column +
    * exact_hit, contain_hit, window_hit, fuzzy_candidate, any_hit.
    * DecontamIngestGateSpec runs it over a MemoryStream with one
    * engineered leak per class and pins batch-parity on the three exact
    * protocols.
    */
  def ingestGate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      containK: Int = 6, containNum: Int = 1, containDen: Int = 2,
      windowN: Int = 13, fuzzyK: Int = 6, fuzzyNumHashes: Int = 16,
      fuzzyBands: Int = 4, maxBenchHashes: Int = 1 << 21): DataFrame = {
    require(fuzzyNumHashes % fuzzyBands == 0, "bands must divide numHashes")
    def boundedLongs(df: DataFrame, what: String): Seq[Long] = {
      val rows = df.distinct().limit(maxBenchHashes + 1).collect()
      require(rows.length <= maxBenchHashes,
        s"benchmark has over $maxBenchHashes distinct $what — raise maxBenchHashes")
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        rows.map(_.getLong(0)).sorted)
    }
    val windowProbe = benchmarkWindowHashes(benchmark, textCol, windowN, maxBenchHashes)
    val shingleProbe = boundedLongs(
      benchmark.select(explode(array_distinct(
        graft.functions.shingle_hashes(col(textCol), containK))).as("h")),
      s"$containK-shingle hashes")
    def bandKeys: Column = {
      val ms = Dedup.minhashSummary(col(textCol), fuzzyK, fuzzyNumHashes, fuzzyBands)
      transform(slice(ms, 2, fuzzyBands),
        (bval, j) => bval * lit(fuzzyBands.toLong) + j.cast("long"))
    }
    val bandProbe = boundedLongs(
      benchmark.select(explode(bandKeys).as("h")), "LSH band keys")
    val bfp = broadcast(benchmark.select(fp(textCol).as("__fp")).distinct()
      .withColumn("__hitE", lit(true)))
    corpus
      .withColumn("__fp", fp(textCol))
      .join(bfp, Seq("__fp"), "left")
      .withColumn("__hs", array_distinct(
        graft.functions.shingle_hashes(col(textCol), containK)))
      // every flag coalesces to false so a NULL-text ingest row reads as
      // uniformly clean (round-19 review finding): the hash kernels
      // null-propagate, and an any_hit of NULL would vanish from BOTH
      // sides of a downstream quarantine filter instead of classifying
      .withColumn("exact_hit", coalesce(col("__hitE"), lit(false)))
      .withColumn("contain_hit", coalesce(
        size(col("__hs")) > 0 &&
          graft.functions.hash_hits_64(col("__hs"), shingleProbe) * lit(containDen.toLong)
            >= size(col("__hs")).cast("long") * lit(containNum.toLong),
        lit(false)))
      .withColumn("window_hit", coalesce(
        graft.functions.hash_hits_128(
          graft.functions.rolling_window_hashes(col(textCol), windowN),
          windowProbe) > 0L,
        lit(false)))
      .withColumn("fuzzy_candidate", coalesce(
        graft.functions.hash_hits_64(bandKeys, bandProbe) > 0L, lit(false)))
      .withColumn("any_hit",
        col("exact_hit") || col("contain_hit") || col("window_hit")
          || col("fuzzy_candidate"))
      .drop("__fp", "__hitE", "__hs")
  }

  /** Multi-protocol decontamination audit, rolled up per source — the
    * release-gate dashboard over the four published contamination
    * protocols this engine ships, which catch DIFFERENT leak classes:
    * [[flagExact]] (verbatim copies), [[flagNearNgram]] (shingle
    * containment in the benchmark union — the C4 rule),
    * [[flagNgramCollision]] (a single colliding n-token window — the
    * GPT-3 §C rule), and [[fuzzyContamination]] (whole-document near-dup
    * match — the RefinedWeb/Llama rule). A corpus that looks clean under
    * one protocol routinely isn't under another; the audit reports all
    * four side by side plus the any-protocol union.
    *
    * Scale shape: each protocol subtree keeps its own audited shape
    * (broadcast benchmark fingerprints / plan-embedded probe array /
    * banded LSH candidates — the corpus text is scanned once per protocol
    * and never shuffles); the per-doc flags are slim (id, bool) frames
    * joined id-keyed, then ONE |sources|-group aggregate. Protocols whose
    * frames omit short documents (no shingles) LEFT-join with a false
    * default — a sub-k-token doc is trivially uncontaminated there.
    *
    * Output per source: n_docs, n_exact, n_contain, n_window, n_fuzzy,
    * n_any, clean_ppm (integer div).
    */
  def auditBySource(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      containK: Int = 6, windowN: Int = 13,
      fuzzyThreshold: Double = 0.8): DataFrame = {
    val ids = corpus.select(col(idCol).cast("long").as("id"),
      col(sourceCol).as("source"))
    val bfp = broadcast(benchmark.select(fp(textCol).as("__fp")).distinct()
      .withColumn("__hitE", lit(true)))
    val exact = corpus
      .select(col(idCol).cast("long").as("id"), fp(textCol).as("__fp"))
      .join(bfp, Seq("__fp"), "left")
      .select(col("id"), coalesce(col("__hitE"), lit(false)).as("exact_hit"))
    val contain = flagNearNgram(corpus, benchmark, idCol, textCol, k = containK)
      .select(col("id"), col("contaminated").as("contain_hit"))
    val window = flagNgramCollision(corpus, benchmark, idCol, textCol, n = windowN)
      .select(col("id"), col("contaminated").as("window_hit"))
    val fuzzy = fuzzyContamination(corpus, benchmark, idCol, textCol,
        threshold = fuzzyThreshold)
      .select(col("id"), col("contaminated").as("fuzzy_hit"))
    ids
      .join(exact, Seq("id"))
      .join(contain, Seq("id"), "left")
      .join(window, Seq("id"))
      .join(fuzzy, Seq("id"), "left")
      .select(col("id"), col("source"), col("exact_hit"),
        coalesce(col("contain_hit"), lit(false)).as("contain_hit"),
        col("window_hit"),
        coalesce(col("fuzzy_hit"), lit(false)).as("fuzzy_hit"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("contain_hit"), 1L).otherwise(0L)).as("n_contain"),
        sum(when(col("window_hit"), 1L).otherwise(0L)).as("n_window"),
        sum(when(col("fuzzy_hit"), 1L).otherwise(0L)).as("n_fuzzy"),
        sum(when(col("exact_hit") || col("contain_hit") || col("window_hit")
          || col("fuzzy_hit"), 1L).otherwise(0L)).as("n_any"))
      .withColumn("clean_ppm",
        expr("((n_docs - n_any) * 1000000) div n_docs"))
  }
}


package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) as a
  * typed UDAF — the frequency-sketch counterpart to Spark's built-in HLL
  * (`approx_count_distinct`).
  *
  * At 100 TB a global token-frequency table is a full shuffle of the corpus
  * vocabulary; the sketch replaces it with one depth×width long matrix per
  * partition, merged by elementwise sum (commutative + associative → Spark
  * runs partial/map-side aggregation, and the shuffle carries one fixed-size
  * buffer per partition, independent of vocabulary size). With fixed seeded
  * hash rows the sketch value is bit-deterministic for a given input
  * multiset regardless of partitioning or merge order — which is what lets
  * q80 pin it under the DuckDB oracle via error-budget booleans (the q49
  * HLL pattern).
  */
object Cms {

  /** Row-d bucket for a token hash: affine map over the Mersenne prime
    * 2^31-1 with fixed constants → deterministic everywhere. tokenHash is
    * < 1e9+7 < 2^30 and the seeds are < 2^31, so a·h + b stays within a
    * 64-bit long — no overflow, no BigInt in the per-token path.
    */
  def bucket(h: Long, d: Int, width: Int): Int = {
    val p = 2147483647L // 2^31 - 1
    val v = (SeedsA(d) * h + SeedsB(d)) % p
    (v % width).toInt
  }

  private val SeedsA = Array(976369L, 1299709L, 15485863L, 32452843L, 49979687L, 67867967L)
  private val SeedsB = Array(86028121L, 104395301L, 122949823L, 141650939L, 160481183L, 179424673L)

  /** Polynomial code-point hash — same kernel as graft_hash64 so the token
    * hash itself is oracle-reproducible.
    */
  def tokenHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 131 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Point estimate: min over rows of the row's bucket counter. Never
    * underestimates (every occurrence lands in each row's bucket); expected
    * per-row overestimate is N/width for total count N.
    */
  def estimate(sketch: Seq[Long], token: String, depth: Int, width: Int): Long = {
    val h = tokenHash(token)
    var best = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = sketch(d * width + bucket(h, d, width))
      if (c < best) best = c
      d += 1
    }
    best
  }

  final class CmsAggregator(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], Seq[Long]] {
    require(depth > 0 && depth <= 6 && width > 0)

    override def zero: Array[Long] = new Array[Long](depth * width)

    override def reduce(b: Array[Long], tok: String): Array[Long] = {
      if (tok != null) {
        val h = tokenHash(tok)
        var d = 0
        while (d < depth) { b(d * width + bucket(h, d, width)) += 1; d += 1 }
      }
      b
    }

    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }

    override def finish(b: Array[Long]): Seq[Long] = b.toSeq

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Column aggregate: CMS of a string column. */
  def cmsAgg(c: Column, depth: Int = 4, width: Int = 4096): Column =
    udaf(new CmsAggregator(depth, width)).apply(c)

  /** Heavy-hitter audit: exact top-k tokens (count desc, token asc) of
    * `tokenCol` in `df`, each annotated with whether the CMS point estimate
    * respects its one-sided guarantees: `no_underestimate` (always true by
    * construction) and `within_budget` (estimate ≤ exact + budgetMul·N/width,
    * true for every row/SF we pin — the expected one-row excess is N/width,
    * so budgetMul=8 leaves ~(1/8)^depth slack per token).
    *
    * The sketch is a single 1-row aggregate broadcast to the k audited
    * tokens — no driver collect, no vocabulary-sized shuffle.
    */
  def heavyHitterAudit(df: DataFrame, tokenCol: String, k: Int = 20,
      depth: Int = 4, width: Int = 4096, budgetMul: Int = 8): DataFrame = {
    // Null tokens are excluded from the audit: CmsAggregator.reduce skips
    // them (a sketch has no null bucket), so an exact null group would call
    // the estimate UDF with a null token and NPE in tokenHash.
    val toks = df.select(col(tokenCol).as("tok")).where(col("tok").isNotNull)
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(k)
    val sketch = toks.agg(
      cmsAgg(col("tok"), depth, width).as("sketch"),
      count(lit(1)).as("total"))
    val est = udf((s: Seq[Long], t: String) => estimate(s, t, depth, width))
    top.join(broadcast(sketch))
      .withColumn("est", est(col("sketch"), col("tok")))
      .select(col("tok"), col("n"),
        (col("est") >= col("n")).as("no_underestimate"),
        (col("est") <= col("n") + ceil(lit(budgetMul) * col("total") / lit(width)).cast("long"))
          .as("within_budget"))
      .orderBy(desc("n"), asc("tok"))
  }
}

/** Histogram-based approximate quantiles — the one-pass mergeable quantile
  * summary whose result is ORDER-INDEPENDENT: bucket counts are commutative
  * sums, so unlike GK/t-digest sketches (whose state depends on arrival
  * order) the histogram answer is bit-reproducible across any partitioning
  * and replayable by another engine — which keeps it inside the exact-hash
  * oracle gate (q129). Error is bounded by the bucket width
  * (max−min)/buckets, the classic equi-width-histogram trade
  * (Ioannidis, "The history of histograms", VLDB 2003).
  *
  * Scale shape: one scalar min/max/count aggregate broadcast as a single
  * row, then ONE hash aggregate of the corpus onto ≤ `buckets` rows; the
  * cumulative window and the quantile probe join touch only those B rows
  * (the probe cross join is |qs|×B ≤ a few hundred — never the corpus).
  */
object HistogramQuantiles {
  import org.apache.spark.sql.expressions.Window

  /** Shared subtrees: ONE corpus stats aggregate and ONE corpus histogram
    * aggregate (≤ `buckets` rows with the cumulative window on top), reused
    * by both [[quantiles]] and [[quantileBin]] so neither triggers a third
    * corpus scan (ADVICE r11 / VERDICT r11 #6). Intermediates carry the
    * reserved `__qb_` prefix so they can never collide with (or clobber) a
    * caller column named lo/hi/n/tb (ADVICE r11).
    */
  private def statsAndCum(df: DataFrame, valueCol: String,
      buckets: Int): (DataFrame, DataFrame) = {
    val v = col(valueCol).cast("double")
    val rows = df.where(v.isNotNull).select(v.as("__qb_x"))
    val stats = rows.agg(min(col("__qb_x")).as("__qb_lo"),
      max(col("__qb_x")).as("__qb_hi"), count(lit(1)).as("__qb_n"))
    // degenerate single-value range: everything lands in bucket 0
    val idx = when(col("__qb_hi") === col("__qb_lo"), lit(0))
      .otherwise(least(
        floor((col("__qb_x") - col("__qb_lo")) /
          ((col("__qb_hi") - col("__qb_lo")) / buckets)).cast("int"),
        lit(buckets - 1)))
    val hist = rows.crossJoin(broadcast(stats))
      .groupBy(idx.as("__qb_bucket"))
      .agg(count(lit(1)).as("__qb_cnt"), max(col("__qb_lo")).as("__qb_lo"),
        max(col("__qb_hi")).as("__qb_hi"), max(col("__qb_n")).as("__qb_n"))
    // ≤ buckets rows from here on — the single-partition window is bounded
    val cum = hist.withColumn("__qb_cum",
      sum(col("__qb_cnt")).over(Window.orderBy(col("__qb_bucket"))))
    (stats, cum)
  }

  /** Per-quantile threshold rows: bucket, that bucket's cumulative count,
    * and the (constant) lo/hi/n — answered from the bounded cumulative
    * histogram in ONE aggregate (min_by carries the winning bucket's cum,
    * so no join back onto the cum subtree re-executes the corpus scans).
    */
  private def thresholdHits(cum: DataFrame, qs: Seq[Double]): DataFrame = {
    val spark = cum.sparkSession
    import spark.implicits._
    val qdf = broadcast(qs.toDF("q"))
    cum.join(qdf,
        col("__qb_cum") >= ceil(col("q") * col("__qb_n")).cast("long"))
      .groupBy(col("q")).agg(
        min(col("__qb_bucket")).as("__qb_bucket"),
        min_by(col("__qb_cum"), col("__qb_bucket")).as("__qb_cum"),
        max(col("__qb_lo")).as("__qb_lo"), max(col("__qb_hi")).as("__qb_hi"),
        max(col("__qb_n")).as("__qb_n"))
  }

  def quantiles(df: DataFrame, valueCol: String, buckets: Int,
      qs: Seq[Double]): DataFrame = {
    require(buckets >= 1 && qs.nonEmpty, "need buckets >= 1 and qs non-empty")
    val (_, cum) = statsAndCum(df, valueCol, buckets)
    thresholdHits(cum, qs)
      .select(col("q"), col("__qb_bucket").as("bucket"),
        (col("__qb_lo") + col("__qb_bucket") *
          ((col("__qb_hi") - col("__qb_lo")) / buckets)).as("lo_edge"),
        when(col("__qb_bucket") === buckets - 1, col("__qb_hi"))
          .otherwise(col("__qb_lo") + (col("__qb_bucket") + 1) *
            ((col("__qb_hi") - col("__qb_lo")) / buckets)).as("hi_edge"),
        col("__qb_cum").as("cum"), col("__qb_n").as("n"))
  }

  /** Per-row quantile-bin assignment — the stratification step a balanced
    * sampler / curriculum builder runs on top of the quantile sketch:
    * every input row gains `qbin` = the number of quantile thresholds
    * strictly below its histogram bucket (0 = at-or-below the first
    * quantile, |qs| = above the last). Bucket math is byte-identical to
    * [[quantiles]], so the bin boundaries ARE the sketch's answers.
    *
    * Scale shape: the stats row and the ≤|qs| threshold buckets (collected
    * into ONE array row) are both broadcast; the assignment itself is a
    * per-row projection (`size(filter(...))` over a ≤|qs| array — inside
    * codegen, no join, no shuffle of the corpus). Bin counting is
    * order-independent, so the result sits in the exact gate like the
    * sketch it composes.
    */
  def quantileBin(df: DataFrame, valueCol: String, buckets: Int,
      qs: Seq[Double]): DataFrame = {
    require(buckets >= 1 && qs.nonEmpty, "need buckets >= 1 and qs non-empty")
    // one threshold per q is what the unrolled element_at below indexes:
    // an out-of-range q hits no bucket and a repeated q shares one group,
    // so either would leave fewer than |qs| thresholds
    require(qs.forall(q => q >= 0.0 && q <= 1.0) && qs.distinct.size == qs.size,
      s"quantileBin: qs must be distinct values in [0, 1], got ${qs.mkString("[", ", ", "]")}")
    val v = col(valueCol).cast("double")
    // the threshold row CARRIES lo/hi (thresholdHits folds the stats
    // constants through the histogram aggregate), so the per-row pass
    // broadcasts exactly ONE auxiliary subtree — runtime corpus scans are
    // stats + histogram + the output pass, with no second stats execution
    // (the round-11 shape re-ran min/max once per broadcast)
    val (_, cum) = statsAndCum(df, valueCol, buckets)
    val thr = thresholdHits(cum, qs)
      .agg(collect_list(col("__qb_bucket")).as("__qb_tb"),
        max(col("__qb_lo")).as("__qb_lo"), max(col("__qb_hi")).as("__qb_hi"))
    val idx = when(col("__qb_hi") === col("__qb_lo"), lit(0))
      .otherwise(least(
        floor((v - col("__qb_lo")) / ((col("__qb_hi") - col("__qb_lo")) / buckets))
          .cast("int"),
        lit(buckets - 1)))
    // |qs| is a plan literal, so the "count thresholds below idx" filter
    // unrolls to |qs| codegen'd conditionals (r22) — the filter() HOF form
    // ran the lambda through the expression interpreter once per row per
    // element. Counting is order-free, so the unrolled sum over positions
    // equals size(filter(...)) exactly; v-null rows stay null via the
    // outer when, and a row only reaches qbin when thr has all |qs|
    // thresholds (collect_list over the non-empty threshold hits).
    val nBelow = qs.indices
      .map(i => when(element_at(col("__qb_tb"), i + 1) < idx, 1).otherwise(0))
      .reduce(_ + _)
    df.crossJoin(broadcast(thr))
      .withColumn("qbin",
        when(v.isNull, lit(null)).otherwise(nBelow.cast("int")))
      .drop("__qb_lo", "__qb_hi", "__qb_tb")
  }
}

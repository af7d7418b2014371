package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-authority scoring over an edge list — the host-graph quality
  * signal of a web-scale curation pipeline (rank hosts by link authority,
  * then gate documents on their host's score). Complements the two graph
  * operators already in the library (connected components in
  * `Dedup.dedupClusters`, triangle counting in q97).
  *
  * The reference delegates all relational/graph work to its host engine
  * (README.md:22-29); this is the Spark-first expression of the one graph
  * primitive every corpus-curation stack ends up needing.
  */
object Graph {

  /** Fixed-iteration PageRank (Brin & Page, WWW 1998) in scaled integer
    * arithmetic:
    *
    *   pr₀(v)   = scale
    *   prᵢ(v)   = base + (dampNum · Σ_{(u,v)∈E} prᵢ₋₁(u) div outdeg(u))
    *                       div dampDen
    *   base       = scale − scale·dampNum div dampDen   (teleport mass)
    *
    * Why integers: double PageRank sums per-neighbor contributions in
    * shuffle arrival order, so the low bits differ run-to-run and
    * engine-to-engine — it could never sit under the exact-hash oracle
    * gate. Integer `div` + integer `+` are associative and commutative, so
    * the fixed-point result is bit-identical under ANY partitioning, merge
    * order, or engine, and each floor-division loses < 1 unit per edge
    * (scale = 10⁶ keeps the truncation ≤ 1e-6 of the rank mass per hop).
    * The iteration count is a parameter, not a convergence test — a
    * driver-side convergence loop would need a global materialization per
    * check; fixed hops is what production web-graph jobs run anyway.
    *
    * Scale shape: each iteration is exactly two shuffles — pr joined to
    * edges on src (both sides hash-partitioned on the join key; AQE merges
    * the tiny pr side), then the contribution sum keyed by dst. The
    * node/degree tables are computed once from a single up-front
    * `localCheckpoint` of the edge list, so the orders⋈lineitem subtree
    * that derives the edges is NOT replayed per iteration (the
    * `Dedup.dedupClusters` large-star/small-star pattern). Rank rows are
    * one (long, long) pair per node — at 10⁹ nodes that is ~16 GB across
    * the cluster, far below the edge shuffle that dominates. No
    * driver-side collect anywhere; the final top-k is TakeOrdered with the
    * pr window over ≤ k rows (q41 pattern).
    *
    * Input `edges` must have long columns `src`, `dst`. Dangling nodes
    * (outdeg 0) contribute nothing but still receive teleport mass via the
    * left join — the simplified (non-redistributing) dangling treatment.
    *
    * Output: node, pr, rn (1-based, ties broken by node id) — top `topK`.
    */
  def pageRankInt(edges: DataFrame, iters: Int, topK: Int,
      scale: Long = 1000000L, dampNum: Long = 85L, dampDen: Long = 100L)
      : DataFrame =
    seededPageRank(edges, None, iters, topK, scale, dampNum, dampDen)
      .select(col("node"), col("pr"), col("rn"))

  /** Personalized PageRank (Haveliwala, WWW 2002): identical recurrence to
    * [[pageRankInt]] except the teleport mass lands ONLY on the seed set —
    * rank₀ and the per-iteration base term are `scale`/`base` for seeds and
    * 0 for everyone else. Ranks then measure proximity to the seeds (the
    * "expand from a trusted whitelist" curation primitive: seed known-good
    * hosts, harvest what the graph pulls close). Same integer-exactness,
    * same two keyed shuffles per hop; the seed set joins as a broadcast
    * one-column frame, never a literal in the plan.
    */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame, iters: Int,
      topK: Int, scale: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame =
    seededPageRank(edges, Some(seeds), iters, topK, scale, dampNum, dampDen)

  /** The one PageRank loop: (node, pr, is_seed, rn), top `topK` by pr with
    * pr > 0. `seeds = None` makes every node a seed, which is plain
    * PageRank: then pr₀ = scale and every hop adds base, and base =
    * scale − scale·dampNum div dampDen ≥ 1, so the pr > 0 filter removes
    * nothing.
    */
  private def seededPageRank(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, topK: Int, scale: Long, dampNum: Long, dampDen: Long): DataFrame = {
    require(iters >= 1, "PageRank: iters must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "PageRank: 0 < damp < 1")
    // hash-partition on src BEFORE the checkpoint: LogicalRDD preserves
    // the physical partitioning, so none of the `iters` join stages has to
    // re-exchange the edge side — only the tiny rank table moves per hop
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // Node universe = sources ∪ sinks (pure sinks still hold rank mass),
    // with each node's outdeg and seed flag folded in ONCE — the iteration
    // then needs a single equi-join per hop instead of two. Checkpointed:
    // one small row per node, and every iteration's lineage restarts here
    // instead of replaying the union/distinct.
    val withDeg = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
    val withSeed = seeds match {
      case Some(sd) =>
        val seed = sd.select(col("node").cast("long").as("node"))
          .distinct().withColumn("is_seed", lit(true))
        withDeg.join(broadcast(seed), Seq("node"), "left")
      case None => withDeg.withColumn("is_seed", lit(true))
    }
    val nodes = withSeed
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .localCheckpoint()
    val base = scale - scale * dampNum / dampDen
    val baseCol = when(col("is_seed"), lit(base)).otherwise(lit(0L))
    var pr = nodes.withColumn("pr",
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)))
    for (i <- 1 to iters) {
      // per-edge contribution computed on the NODE side before the join —
      // one divide per node, not per edge; outdeg 0 rows yield null but
      // never match (a node with no out-edges joins no e.src)
      val contrib = e
        .join(pr.select(col("node").as("src"),
          expr("pr div outdeg").as("c")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("s"))
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("is_seed"),
          (baseCol + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
            .as("pr"))
      // lineage guard (VERDICT r11 #5): the rank plan otherwise grows
      // linearly with iters and user-controlled depth (iters >= ~30) pays
      // analyzer/optimizer blowup. Every 8 hops the rank table — one
      // small (node, outdeg, is_seed, pr) row per node — re-roots at a
      // LogicalRDD, the dedupClusters checkpoint cadence. Default depths
      // (<= 8) never hit this branch, so the pinned q131/q138 plans are
      // unchanged.
      if (i % 8 == 0 && i < iters) pr = pr.localCheckpoint()
    }
    val top = pr.where(col("pr") > 0)
      .orderBy(col("pr").desc, col("node")).limit(topK)
    top.withColumn("rn",
        row_number().over(Window.orderBy(col("pr").desc, col("node"))))
      .select(col("node"), col("pr"), col("is_seed"), col("rn"))
  }

  /** Degree spectrum: node counts per ⌊log₂(degree)⌋ doubling bin, in and
    * out separately — the graph-health diagnostic (a natural link graph
    * decays smoothly; a crawler trap or bot ring spikes a high bin, a
    * disconnected ingest batch inflates bin 0). The bin is the q170
    * string-exact ilog2 (conv to binary, length−1) — no libm at
    * power-of-two edges.
    *
    * Scale shape: two keyed degree counts + a ≤64-group aggregate each;
    * output is 2·64 rows regardless of graph size.
    */
  def degreeSpectrum(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    def spectrum(keyCol: String, dir: String) =
      e.groupBy(col(keyCol).as("node")).agg(count(lit(1)).as("deg"))
        .withColumn("bin", (length(conv(col("deg"), 10, 2)) - 1).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("n_edges"))
        .withColumn("direction", lit(dir))
    spectrum("src", "out").unionByName(spectrum("dst", "in"))
      .select(col("direction"), col("bin"), col("n_nodes"), col("n_edges"))
  }

  /** Fixed-iteration HITS (Kleinberg, JACM 1999) in scaled integer
    * arithmetic — the hub/authority complement to [[pageRankInt]]: on a
    * bipartite curation graph (documents→hosts, customers→suppliers,
    * queries→documents) PageRank measures undirected closeness, HITS
    * separates "points at good things" (hub) from "is pointed at by good
    * hubs" (authority), which is the signal a crawl-frontier or
    * source-selection gate actually wants.
    *
    *   h₀(u)    = scale
    *   aᵢ(v)    = scale · Σ_{(u,v)∈E} hᵢ₋₁(u)  div  max_w Σ hᵢ₋₁
    *   hᵢ(u)    = scale · Σ_{(u,v)∈E} aᵢ(v)    div  max_w Σ aᵢ
    *
    * The max-normalization replaces the paper's L2 norm: a square root
    * cannot sit under the exact-hash oracle gate (q42 rule), while integer
    * max + one floor-division per node is associative-commutative-exact
    * under any partitioning and preserves the paper's fixed point up to
    * per-hop truncation < 1 unit in `scale`. Overflow bound: raw sums are
    * ≤ maxdeg·scale and the normalize multiplies by `scale` again, so the
    * caller must keep maxdeg·scale² < 2⁶³ (at the default 10⁶ that is
    * maxdeg ≤ ~9·10⁶; drop `scale` for pathological skew).
    *
    * Scale shape: TWO partition-aligned checkpointed edge copies — the
    * authority step joins h on src, the hub step joins a on dst; staging
    * `e` once per join key means neither per-hop join re-exchanges the
    * edge side (the pageRankInt rule, doubled because HITS alternates join
    * keys). Unlike pageRankInt no per-hop node left-join is needed: a
    * missing (node, score) row IS score 0 for both the next join and the
    * final coalesce, so each half-step is exactly one edge-side join + one
    * keyed sum + a one-row broadcast max. Final top-k is TakeOrdered by
    * authority with the rank window over ≤ topK rows.
    *
    * Output: node, auth, hub, rn (1-based by auth desc, node asc) — top
    * `topK` over the full node universe (pure hubs rank with auth 0).
    */
  def hitsInt(edges: DataFrame, iters: Int, topK: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hitsInt: iters must be >= 1")
    require(scale > 0, "hitsInt: scale must be positive")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val eBySrc = e.repartition(col("src")).localCheckpoint()
    val eByDst = eBySrc.repartition(col("dst")).localCheckpoint()
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    var h = nodes.withColumn("h", lit(scale))
    var a: DataFrame = null
    for (i <- 1 to iters) {
      // Overflow enforcement (ADVICE r13), zero extra jobs: the documented
      // bound maxdeg·scale² < 2⁶³ is equivalent per hop to s ≤ 2⁶³/scale
      // for every raw sum s (scores entering a hop are ≤ scale, so
      // s ≤ maxdeg·scale) — checked in-plan by a codegen'd raise_error
      // branch on the exact values instead of a separate degree aggregate
      // (the first guard version collected max degree up front and cost
      // q144 a measured ~2 s per call).
      val normalize = (s: String) =>
        s"IF($s > ${Long.MaxValue / scale}L, " +
          s"raise_error(concat('hitsInt: raw sum ', CAST($s AS STRING), " +
          s"' overflows at scale=${scale} — lower scale')), " +
          s"($s * ${scale}L) div m)"
      // Unlike pageRankInt (whose rank frame is referenced ONCE per hop),
      // each HITS half-step references the raw-sum frame twice (it feeds
      // both its own max and the normalized scores) — and Spark logical
      // plans are trees, not DAGs, so the un-checkpointed subtree
      // DUPLICATES per reference and the plan grows exponentially with
      // iters (measured: 2 hops cost 4.7 s vs 3-hop PageRank's 2.7 s at
      // sf0.1). The re-root sits on the RAW sum (araw/hraw), not on the
      // normalized frame: checkpointing `a` after the crossJoin (the r20
      // shape) still computed each half-step's edge join + keyed sum
      // TWICE per hop — once under the broadcast-max subtree and once on
      // the main branch. Checkpointing the raw frame runs that join+sum
      // exactly once; the max and the normalize are then near-free
      // projections over the checkpointed node-sized RDD, and the
      // normalized a/h recompute (project + broadcast crossJoin only) is
      // cheaper than a second materialization. One (long, long) row per
      // node, one eager job per half-step — same job count as r20, half
      // the work per job.
      val araw = eBySrc
        .join(h.select(col("node").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s"))
        .localCheckpoint()
      val amax = araw.agg(max(col("s")).as("m"))
      a = araw.crossJoin(broadcast(amax))
        .select(col("node"), expr(normalize("s")).as("a"))
      val hraw = eByDst
        .join(a.select(col("node").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("s"))
        .localCheckpoint()
      val hmax = hraw.agg(max(col("s")).as("m"))
      h = hraw.crossJoin(broadcast(hmax))
        .select(col("node"), expr(normalize("s")).as("h"))
    }
    val scored = nodes
      .join(a, Seq("node"), "left")
      .join(h, Seq("node"), "left")
      .select(col("node"), coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
    val top = scored.orderBy(col("auth").desc, col("node")).limit(topK)
    top.withColumn("rn",
        row_number().over(Window.orderBy(col("auth").desc, col("node"))))
      .select(col("node"), col("auth"), col("hub"), col("rn"))
  }

  /** Fixed-iteration synchronous label propagation (Raghavan et al., Phys.
    * Rev. E 2007) made fully deterministic: every node starts as its own
    * label; each hop it adopts the most frequent label among its
    * in-neighbors, ties broken by SMALLEST label, keeping its current
    * label when it has no in-neighbors. The paper's random visit order and
    * random tie-breaks are replaced by synchronous updates + the total
    * (count desc, label asc) order, so the result is a pure function of
    * the edge list — bit-identical under any partitioning and replayable
    * by the SQL oracle (the same determinism rewrite that admits
    * [[pageRankInt]] to the exact gate). Community detection is the
    * curation use: propagate host/domain cluster identity through the
    * link graph, then cap or gate per community.
    *
    * Scale shape: edges staged once, hash-partitioned on src (the per-hop
    * join key); each hop is one edge join + one (node, label)-keyed count
    * + one window keyed on node (no single reducer — the q132 rule) + one
    * node left-join; the label frame re-roots every 8 hops (lineage
    * guard). Output: one row per COMMUNITY — label, size, rn (by size
    * desc, label asc), top `topK`.
    */
  def labelPropagation(edges: DataFrame, iters: Int, topK: Int): DataFrame = {
    require(iters >= 1, "labelPropagation: iters must be >= 1")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    var lab = nodes.withColumn("lab", col("node"))
    for (i <- 1 to iters) {
      val cnt = e
        .join(lab.select(col("node").as("src"), col("lab")), Seq("src"))
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val pick = cnt.withColumn("rn",
          row_number().over(Window.partitionBy(col("node"))
            .orderBy(col("c").desc, col("lab"))))
        .where(col("rn") === 1)
        .select(col("node"), col("lab").as("new_lab"))
      lab = lab.join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_lab"), col("lab")).as("lab"))
      // Re-root EVERY hop, not every 8: unlike pageRankInt (one reference
      // per hop → linear plan), each LPA hop references the previous label
      // frame TWICE (the in-neighbor count join and the keep-current left
      // join), so the un-checkpointed plan doubles per hop — 2^iters copies
      // of the initial frame (the HITS failure mode; the before-plan at r21
      // open carried ~30 Exchanges for 3 hops). One node-sized (long, long)
      // materialization per hop keeps the plan linear.
      if (i < iters) lab = lab.localCheckpoint()
    }
    val sizes = lab.groupBy("lab").agg(count(lit(1)).as("size"))
    val top = sizes.orderBy(col("size").desc, col("lab")).limit(topK)
    top.withColumn("rn",
        row_number().over(Window.orderBy(col("size").desc, col("lab"))))
      .select(col("lab"), col("size"), col("rn"))
  }
}

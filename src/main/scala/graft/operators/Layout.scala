package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering keys.
  *
  * At 100 TB the scan is the query: parquet row-group min/max stats prune
  * what predicates never touch, but a sort on one column only prunes that
  * column's predicates. Interleaving the bits of k quantized columns gives
  * every column locality in the SAME 1-D sort order, so range-partitioning
  * and sorting by the Z-key makes row-group stats selective for ALL k
  * dimensions at once — the Delta Lake / Databricks `ZORDER BY` idea,
  * built from plain Catalyst bit arithmetic.
  *
  * Determinism (the DuckDB oracle replays every bit): quantization is
  * `floor((v - min) / (max - min) * (2^bits - 1))` — IEEE double subtract/
  * divide/multiply are exactly rounded, so both engines compute identical
  * bits from identical inputs; the interleave is pure integer shifts.
  *
  * Scale shape: the min/max stats are ONE scalar aggregate broadcast back
  * via a literal-free crossJoin (no driver round-trip in the plan — the
  * 1-row side broadcasts); the key itself is a per-row codegen projection.
  * A writer that wants the Z-ordered layout range-repartitions on the key
  * and sorts within partitions.
  */
object Layout {

  /** Bit-interleaved Morton key over already-quantized non-negative int
    * columns (each in [0, 2^bits)): bit b of column i lands at position
    * b * ncols + i. With k·bits ≤ 63 the key fits a BIGINT.
    */
  def mortonKey(quantized: Seq[Column], bits: Int): Column = {
    val n = quantized.size
    require(n >= 1, "mortonKey needs at least one column")
    require(n * bits <= 63, s"$n cols x $bits bits exceeds a signed 64-bit key")
    val terms = for {
      (q, i) <- quantized.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(q, b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ + _)
  }

  /** Quantize `v` into [0, 2^bits) given column min/max (max==min → 0). */
  def quantize(v: Column, vmin: Column, vmax: Column, bits: Int): Column = {
    val maxq = (1L << bits) - 1
    when(vmax <= vmin, lit(0L)).otherwise(
      floor((v.cast("double") - vmin.cast("double"))
        / (vmax.cast("double") - vmin.cast("double")) * lit(maxq.toDouble))
        .cast("long"))
  }

  /** Append a `zkey` Morton key over `cols` (numeric), quantized against
    * the columns' global min/max.
    */
  def withZorderKey(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val joined = df.crossJoin(broadcast(stats))
    val qs = cols.map(c =>
      quantize(col(c), col(s"__min_$c"), col(s"__max_$c"), bits))
    joined.withColumn("zkey", mortonKey(qs, bits))
      .drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  /** Hilbert-curve key over two already-quantized non-negative columns
    * (each in [0, 2^bits)) — the better-locality companion to
    * [[mortonKey]]: Morton's bit-interleave takes long diagonal jumps at
    * quadrant boundaries (adjacent keys can be 2^b cells apart), while the
    * Hilbert curve is a space-filling path whose CONSECUTIVE keys are
    * always Manhattan-adjacent cells, so range-partitioning by the key
    * yields tighter per-file bounding boxes and better parquet min/max
    * pruning on both dimensions (the classic Faloutsos/Roseman result;
    * curve mapping per Hilbert's construction, top-down quadrant
    * recursion).
    *
    * Implementation: a top-down quadrant walk over the bit levels
    * s = 2^(bits-1) … 1 with state (d, x, y) — per level the quadrant
    * pair (rx, ry) contributes s²·((3·rx) xor ry) to the key and the
    * remaining low bits are rotated into canonical orientation (ry = 0:
    * flip both by the all-ones mask when rx = 1, then swap x/y). Runs as
    * the codegen'd static kernel `graft.expr.HilbertIndex` — per-row, no
    * shuffle, engine-exact (the DuckDB oracle unrolls the same levels as
    * CTEs). The first cut expressed the walk as an `aggregate` HOF fold:
    * identical semantics, but the lambda evaluates interpreted per row
    * per level (~30× slower on the q155 scan) — kernel-vs-HOF is the
    * measured difference, recorded here so the fold form doesn't return.
    */
  def hilbertKey(xq: Column, yq: Column, bits: Int): Column =
    graft.functions.hilbert_index(xq, yq, bits)

  /** Append an `hkey` Hilbert key over two numeric columns, quantized
    * against their global min/max (the [[withZorderKey]] shape: one
    * broadcast stats row, then a per-row projection).
    */
  def withHilbertKey(df: DataFrame, xCol: String, yCol: String, bits: Int): DataFrame = {
    val stats = df.agg(
      min(col(xCol)).as("__min_x"), max(col(xCol)).as("__max_x"),
      min(col(yCol)).as("__min_y"), max(col(yCol)).as("__max_y"))
    df.crossJoin(broadcast(stats))
      .withColumn("hkey", hilbertKey(
        quantize(col(xCol), col("__min_x"), col("__max_x"), bits),
        quantize(col(yCol), col("__min_y"), col("__max_y"), bits), bits))
      .drop("__min_x", "__max_x", "__min_y", "__max_y")
  }
}

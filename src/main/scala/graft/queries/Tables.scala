package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** One verifiable query: Spark implementation + (optionally) the exact
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Queries without SQL get the weaker rows-only check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    sql: Option[String])

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(sql))
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)
}

object Tables {
  /** All driver tables are single parquet files under the sf dir.
    *
    * Each read takes its schema from the file's parquet footer, read on the
    * driver ([[file]]), so building a query starts no Spark job. Nothing is
    * cached: every call reads the footer again under the session conf of
    * that moment. A directory (a multi-file table) fails, naming the path.
    *
    * `events.ts` has shipped as both INT64 TIMESTAMP(NANOS) and native
    * `timestamp[us]` across testdata generations, so the read is
    * schema-adaptive:
    *   - LongType (nanos read under `nanosAsLong`): truncate to micros —
    *     exactly what DuckDB does reading the same file. Integer `div`
    *     (not `/`) because epoch-nanos ≈ 1.7e18 exceeds double's 53-bit
    *     mantissa.
    *   - TIMESTAMP_NTZ (unadjusted `timestamp[us]`): cast to the session-TZ
    *     timestamp; all entrypoints pin `spark.sql.session.timeZone=UTC`,
    *     so the cast is epoch-identical and downstream window/watermark
    *     code sees the one timestamp type it has always seen.
    *   - TimestampType: pass through.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = file(spark, path)
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType    => df
        case other            =>
          // Fail at the read, not in a downstream window/watermark: any
          // other type means a testdata regeneration changed the encoding
          // and this dispatch needs a new arm (ADVICE r9).
          throw new IllegalStateException(
            s"events.ts read as unsupported type $other from $path — " +
            "expected INT64-NANOS (LongType under nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP")
      }
    } else file(spark, path)
  }

  /** One parquet file, read with the schema of its footer: the footer is
    * read and converted on the driver as Spark's own schema inference
    * converts it, without the one-task inference job. Fails on a directory.
    */
  private[graft] def file(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftParquetBridge.footerSchema(spark, path)).parquet(path)

  /** Exact decimal view of a 2-dp double column: makes SUM/ordering
    * deterministic and bit-identical across Spark and DuckDB (double
    * summation is association-order-dependent; decimal is exact).
    * Precision 9 keeps products within both engines' 38-digit cap.
    */
  def dec(c: Column): Column = c.cast("decimal(9,2)")
}

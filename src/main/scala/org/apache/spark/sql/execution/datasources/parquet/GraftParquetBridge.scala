package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Access to Spark's `private[parquet]` footer reader and schema converter. */
object GraftParquetBridge {
  /** The footer of the one parquet file at `path`, read on the driver with
    * no Spark job. A directory fails, naming the path.
    */
  def footer(spark: SparkSession, path: String): Footer = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val p = new Path(path)
    val file = p.getFileSystem(conf).getFileStatus(p)
    require(!file.isDirectory, s"$path is a directory; a table must be one parquet file")
    ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
      ignoreCorruptFiles = false).head
  }

  /** The Spark schema of the footer `f` of the file at `path`, converted
    * under the session conf of this moment the way Spark's own schema
    * inference converts it.
    */
  def schemaOf(spark: SparkSession, f: Footer, path: String): StructType =
    ParquetFileFormat.readSchema(Seq(f), spark.asInstanceOf[classic.SparkSession])
      .getOrElse(throw new IllegalStateException(s"no parquet schema in $path"))

  /** Whether `f`'s top-level `column` is INT64 annotated TIMESTAMP(NANOS). */
  def isInt64Nanos(f: Footer, column: String): Boolean = {
    val schema = f.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField(column) && {
      val t = schema.getType(schema.getFieldIndex(column))
      t.isPrimitive &&
        t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
        (t.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
  }
}

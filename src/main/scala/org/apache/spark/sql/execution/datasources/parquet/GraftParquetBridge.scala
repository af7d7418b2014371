package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Access to Spark's `private[parquet]` footer reader and schema converter. */
object GraftParquetBridge {
  /** The Spark schema of the one parquet file at `path`: its footer, read on
    * the driver and converted under the session conf the way Spark's own
    * schema inference converts it, with no Spark job. A directory fails,
    * naming the path.
    */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = p.getFileSystem(conf).getFileStatus(p)
    require(!file.isDirectory, s"$path is a directory; a table must be one parquet file")
    val footers = ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
      ignoreCorruptFiles = false)
    ParquetFileFormat.readSchema(footers, session)
      .getOrElse(throw new IllegalStateException(s"no parquet schema in $path"))
  }
}

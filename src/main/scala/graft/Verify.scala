package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q127_x,q128_y dumps just those queries and
    // restricts oracle_sql.json to match, so check.py compares exactly the
    // subset.
    val names = SparkEntry.selected()
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    names.foreach { name =>
      // remove any stale dump FIRST: a query failing before its write must
      // not leave a previous run's output to false-pass the compare
      val target = new java.io.File(s"$outDir/$name")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (target.exists()) rm(target)
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.view.filterKeys(names.toSet)
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

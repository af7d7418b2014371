package graft.tools

/** Measured audit of the session-lived operator persists (Dedup.stage and
  * friends, VERDICT r21 #7): run the named queries through the noop sink,
  * then print every cached RDD's memory/disk footprint from
  * getRDDStorageInfo. The numbers decide the storage-level question with
  * data instead of folklore — for SQL-cached DataFrames the in-memory
  * form is ALWAYS the compressed columnar CachedBatch (the
  * serialized-vs-deserialized distinction of RDD storage levels does not
  * apply), so the open choices are memory-vs-disk split and replication.
  * Usage: runMain graft.tools.StageAudit <queryName> [...]
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { name =>
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(s"[stage-audit] after $name:")
      spark.sparkContext.getRDDStorageInfo.foreach { i =>
        println(f"[stage-audit]   rdd=${i.id}%-4d parts=${i.numCachedPartitions}%-3d " +
          f"mem=${i.memSize / 1024.0 / 1024.0}%8.2f MB disk=${i.diskSize / 1024.0 / 1024.0}%8.2f MB " +
          f"level=${i.storageLevel} name=${Option(i.name).getOrElse("?")}")
      }
      val s = spark.sparkContext.getExecutorMemoryStatus.values.headOption
      s.foreach { case (max, free) =>
        println(f"[stage-audit]   storage pool: max=${max / 1024.0 / 1024.0}%8.2f MB free=${free / 1024.0 / 1024.0}%8.2f MB")
      }
    }
    spark.stop()
  }
}

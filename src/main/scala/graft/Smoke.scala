package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry and print
  * the result (expects rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val rows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry() returned no rows")
    // SQL registration surface, as the driver/user would call it
    Graft.register(spark)
    println("[smoke] version=" +
      spark.sql("SELECT tokenize_ja_neologd()").head().getSeq[String](0).head)
    // streaming surface: rate source -> event shape -> windowed agg -> memory sink
    import org.apache.spark.sql.functions._
    val stream = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
      .select(col("timestamp").as("ts"), (col("value") % 7).as("user_id"),
        when(col("value") % 2 === 0, "click").otherwise("view").as("event_type"),
        (col("value") % 100).cast("double").as("value"))
    val q = graft.streaming.StreamingOps
      .tumblingCounts(stream, delay = "2 seconds", win = "5 seconds")
      .writeStream.format("memory").queryName("smoke_stream").outputMode("append").start()
    Thread.sleep(8000)
    q.processAllAvailable()
    q.stop()
    val n = spark.table("smoke_stream").count()
    println(s"[smoke] streaming finalized windows=$n")
    require(n > 0, "streaming smoke produced no finalized windows")
    spark.stop()
  }
}

package graft

/** Print formatted physical plans for the named queries (or all) — used to
  * audit pushdown/broadcast/codegen decisions per SURVEY.md §7.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = SparkEntry.selected(if (args.nonEmpty) Some(args.mkString(",")) else None)
    val spark = Session.local()
    val queries = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

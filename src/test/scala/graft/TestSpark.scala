package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    Graft.register(s)
    s
  }
}

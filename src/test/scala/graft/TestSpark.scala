package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftTestBridge.drainListeners

/** One shared local session for all Spark-backed specs (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    Graft.register(s)
    s
  }

  /** `f`'s result and the Spark jobs started while it ran, every listener
    * event delivered.
    */
  def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      drainListeners(sc)
      (r, n.get())
    } finally sc.removeSparkListener(listener)
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to build a session: no main source builds its own, and the
  * suite's session carries the settings `Session.local` promises.
  */
class SessionSpec extends AnyFunSuite {
  test("graft/Session.scala is the only main source that builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(builders == List("graft/Session.scala"), builders)
  }

  test("TestSpark is Session.local(4): 4 cores and partitions, UTC, AQE on") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}

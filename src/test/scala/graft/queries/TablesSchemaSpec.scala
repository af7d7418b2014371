package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobs

/** Pins `Tables.t`'s schema-adaptive events read against BOTH `ts`
  * encodings the driver's testdata has shipped (VERDICT r8 "Next round" #2):
  * INT64 TIMESTAMP(NANOS) (rounds 1-7) and native `timestamp[us]` (round 8+).
  * The two fixtures under test resources hold the same three instants; both
  * must load to TimestampType with identical microsecond values, so the next
  * testdata regeneration cannot silently break a sixth of the oracle gate.
  *
  * Also pins the footer-schema read: a table read starts no Spark job, its
  * schema is the one Spark infers, every `events.ts` arm dispatches, only an
  * INT64-nanos `ts` sets `nanosAsLong` on the session, and a directory
  * fails.
  */
class TablesSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  // Temp dirs are removed in afterAll so repeated test runs don't
  // accumulate parquet copies (ADVICE r9).
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs += d
    d
  }
  override def afterAll(): Unit = {
    // Close each Files.walk stream and isolate per-dir failures so one
    // undeletable dir doesn't leak handles or abort the rest (ADVICE r10).
    tmpDirs.foreach { d =>
      try {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case e: Throwable => info(s"cleanup of $d failed: ${e.getMessage}") }
    }
    super.afterAll()
  }

  /** `df` as the single parquet file `<dir>/<name>.parquet`, the shape of a
    * driver table (Spark itself writes a directory of part files).
    */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val out = dir.resolve(s"_$name")
    df.coalesce(1).write.parquet(out.toString)
    val parts = Files.list(out)
    val part = try parts.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally parts.close()
    Files.move(part, dir.resolve(s"$name.parquet"))
  }

  /** Stage a fixture as `<tmpdir>/events.parquet` so Tables.t's name-keyed
    * branch applies, and return the loaded frame's (ts-type, epoch-micros).
    */
  private def load(fixture: String): (org.apache.spark.sql.types.DataType, Seq[Long]) = {
    val src = Paths.get(getClass.getResource(s"/graft/fixtures/$fixture").toURI)
    val dir = tempDir("graft_events_schema")
    Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.t(spark, dir.toString, "events")
    val micros = df.selectExpr("unix_micros(ts) AS us").orderBy("us")
      .collect().map(_.getLong(0)).toSeq
    (df.schema("ts").dataType, micros)
  }

  test("events ts loads identically from TIMESTAMP(NANOS) and timestamp[us] parquet") {
    val (usType, usMicros) = load("events_ts_us.parquet")
    val (nsType, nsMicros) = load("events_ts_ns.parquet")
    assert(usType == TimestampType, "native micros must surface as session-TZ timestamp")
    assert(nsType == TimestampType, "nanos-workaround path must surface as session-TZ timestamp")
    assert(usMicros == nsMicros, "both encodings must decode to the same instants")
    // the instants themselves (UTC session TZ pinned in TestSpark):
    // 2024-01-01T10:00:00.123456Z / 2024-01-02T11:30:00.654321Z / 2024-01-03T23:59:59.999999Z
    assert(usMicros == Seq(1704103200123456L, 1704195000654321L, 1704326399999999L))
  }

  test("all six event columns survive both encodings with the same schema") {
    for (f <- Seq("events_ts_us.parquet", "events_ts_ns.parquet")) {
      val src = Paths.get(getClass.getResource(s"/graft/fixtures/$f").toURI)
      val dir = tempDir("graft_events_cols")
      Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val df = Tables.t(spark, dir.toString, "events")
      assert(df.columns.toSeq ==
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
      assert(df.count() == 3)
    }
  }

  test("an unsupported ts encoding fails loudly at the read, not downstream") {
    val dir = tempDir("graft_events_bad")
    import spark.implicits._
    writeTable(Seq(("e1", "2024-01-01 10:00:00")).toDF("event_id", "ts"), dir, "events")
    val ex = intercept[IllegalStateException] {
      Tables.t(spark, dir.toString, "events").collect()
    }
    assert(ex.getMessage.contains("unsupported type"), ex.getMessage)
  }

  test("reading each sf0.01 table starts no Spark job, and its schema is the one Spark infers") {
    val dir = "/root/testdata/sf0.01"
    val listing = Files.list(Paths.get(dir))
    val names = try listing.iterator.asScala.map(_.getFileName.toString)
      .collect { case f if f.endsWith(".parquet") => f.stripSuffix(".parquet") }.toSeq.sorted
      finally listing.close()
    assert(names.size == 10, names)
    names.foreach { name =>
      val (df, n) = jobs(Tables.t(spark, dir, name))
      assert(n == 0, s"$name: $n jobs to read")
      assert(df.columns.nonEmpty)
      val path = s"$dir/$name.parquet"
      assert(Tables.file(spark, path).schema == spark.read.parquet(path).schema, name)
    }
  }

  test("each events.ts arm dispatches: INT64-nanos, TIMESTAMP_NTZ and TIMESTAMP files") {
    import spark.implicits._
    val micros = 1704103200123456L // 2024-01-01T10:00:00.123456Z
    val nanos = tempDir("graft_events_nanos")
    Files.copy(Paths.get(getClass.getResource("/graft/fixtures/events_ts_ns.parquet").toURI),
      nanos.resolve("events.parquet"))
    val ntz = tempDir("graft_events_ntz")
    writeTable(Seq(("e1", java.time.LocalDateTime.parse("2024-01-01T10:00:00.123456")))
      .toDF("event_id", "ts"), ntz, "events")
    val ts = tempDir("graft_events_ts")
    writeTable(Seq(("e1", java.time.Instant.parse("2024-01-01T10:00:00.123456Z")))
      .toDF("event_id", "ts"), ts, "events")
    Seq(nanos -> LongType, ntz -> TimestampNTZType, ts -> TimestampType).foreach {
      case (dir, fileType) =>
        val df = Tables.t(spark, dir.toString, "events")
        assert(Tables.file(spark, s"$dir/events.parquet").schema("ts").dataType == fileType)
        assert(df.schema("ts").dataType == TimestampType, fileType)
        val first = df.selectExpr("unix_micros(ts)").orderBy("unix_micros(ts)").head().getLong(0)
        assert(first == micros, fileType)
    }
  }

  test("nanosAsLong is set on the session only for an INT64-nanos events.ts") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val us = Tables.t(spark, "/root/testdata/sf0.01", "events")
      assert(us.schema("ts").dataType == TimestampType)
      assert(!spark.conf.getAll.contains(key), "a timestamp[us] events file leaves the flag unset")
      val nanos = tempDir("graft_events_nanos_flag")
      Files.copy(Paths.get(getClass.getResource("/graft/fixtures/events_ts_ns.parquet").toURI),
        nanos.resolve("events.parquet"))
      val df = Tables.t(spark, nanos.toString, "events")
      assert(spark.conf.getAll.get(key).contains("true"), "the scan of a nanos file needs the flag")
      assert(df.selectExpr("min(unix_micros(ts))").head().getLong(0) == 1704103200123456L)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a directory is not a table: the read fails, naming the path") {
    val dir = tempDir("graft_table_dir")
    import spark.implicits._
    val path = dir.resolve("orders.parquet").toString
    Seq((1L, "a")).toDF("o_orderkey", "o_comment").write.parquet(path)
    val ex = intercept[IllegalArgumentException](Tables.t(spark, dir.toString, "orders"))
    assert(ex.getMessage.contains(path), ex.getMessage)
  }
}

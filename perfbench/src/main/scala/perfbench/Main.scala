package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Graft, SparkEntry}
import graft.ja.{JaDictionary, JaGolden}

/** JVM side of the benchmark. It prints one JSON object per line on stdout;
  * `run.py` turns those records into the workload's metrics.
  *
  *   --mode run     set up, then run one workload (see Runner)
  *   --mode record  run every SparkEntry query once, dump each result as
  *                  parquet plus oracle_sql.json (the layout
  *                  scripts/check.py reads) and print each result's digest
  */
object Main {

  final case class Opts(
      mode: String = "run",
      workload: String = "pipeline_ops",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      sf: String = "",
      work: String = ".bench_work",
      expected: String = "perfbench/expected/sf0.1.tsv",
      cpus: Int = Runtime.getRuntime.availableProcessors(),
      out: String = "")

  def parse(args: Seq[String], o: Opts = Opts()): Opts = args match {
    case Seq() => o
    case "--mode" +: v +: rest => parse(rest, o.copy(mode = v))
    case "--workload" +: v +: rest => parse(rest, o.copy(workload = v))
    case "--seed" +: v +: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" +: v +: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" +: v +: rest => parse(rest, o.copy(trace = v == "1"))
    case "--sf" +: v +: rest => parse(rest, o.copy(sf = v))
    case "--work" +: v +: rest => parse(rest, o.copy(work = v))
    case "--expected" +: v +: rest => parse(rest, o.copy(expected = v))
    case "--cpus" +: v +: rest => parse(rest, o.copy(cpus = v.toInt))
    case "--out" +: v +: rest => parse(rest, o.copy(out = v))
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def session(o: Opts): SparkSession = {
    val work = Paths.get(o.work).toAbsolutePath
    SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  /** Session build, `Graft.register`, the first dictionary load and a
    * warm-up query, each timed; prints the `setup` record, whose `total_s`
    * is the JVM's uptime when set-up ends.
    */
  def setup(o: Opts, trace: Trace): SparkSession = {
    def timed[T](name: String)(body: => T): (T, Double) = trace.span("setup", name) {
      val t = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t) / 1e9)
    }
    val (spark, sessionS) = timed("session") {
      val s = session(o)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val (_, registerS) = timed("register")(Graft.register(spark))
    val (_, dictS) = timed("dict_load")(JaDictionary.embedded)
    val (_, warmS) = timed("warmup") {
      import org.apache.spark.sql.functions._
      // the tokenizer's hot loops, compiled before any query times them
      val tok = new graft.ja.JaTokenizer()
      val sentences = JaGolden.corpus.map(_.sentence)
      (0 until 4).foreach(_ => sentences.foreach(tok.tokenize))
      // one query that touches parquet, the tokenizer's generated code, a
      // shuffle and a collect
      val ja = typedLit(sentences.take(64))
      spark.read.parquet(s"${o.sf}/documents.parquet")
        .select(col("lang"), element_at(ja, (pmod(col("doc_id"), lit(64)) + 1).cast("int")).as("ja"))
        .groupBy("lang").agg(sum(size(graft.functions.tokenize_ja_neologd(col("ja")))))
        .collect()
    }
    Json.emit("kind" -> "setup", "total_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "session_s" -> sessionS, "register_s" -> registerS, "dict_load_s" -> dictS, "warmup_s" -> warmS)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    require(o.sf.nonEmpty, "--sf <test data directory> is required")
    o.mode match {
      case "run" =>
        Runner.run(o)
      case "record" =>
        record(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Dump every query's result once, in the layout `scripts/check.py`
    * compares, next to the digest the benchmark checks against.
    */
  def record(o: Opts): Unit = {
    require(o.out.nonEmpty, "--out is required for --mode record")
    val spark = setup(o, new Trace(false))
    val out = Paths.get(o.out)
    Files.createDirectories(out)
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, o.sf)
        val rows = df.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(name).toString)
        Json.emit("kind" -> "record", "query" -> name, "rows" -> rows.length,
          "digest" -> Digest.of(df.schema, rows), "wall_s" -> secs)
      } catch {
        case e: Throwable =>
          Json.emit("kind" -> "record", "query" -> name, "error" -> String.valueOf(e.getMessage).take(300))
      }
    }
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString("{", ",\n", "}")
    Files.writeString(out.resolve("oracle_sql.json"), oracle)
    spark.stop()
  }
}

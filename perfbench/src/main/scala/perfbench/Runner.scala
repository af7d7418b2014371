package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, ScalaUDF, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.expr.TokenizeJaNeologd
import graft.ja.{JaMode, JaTokenizer, UserDict}

/** One workload in one session: a closed loop with one client. Each pass
  * runs the workload's queries one after another in an order drawn from the
  * seed; the cache is cleared before every query and every result is
  * checked.
  *
  * An untraced run measures only. A traced run runs each query once to warm
  * up, measures half its passes untraced, then attaches the work-counter
  * listener and records spans for the other half, then times the
  * single-thread kernels.
  */
object Runner {

  /** A query: how to build its DataFrame, and how to check its rows. An
    * error message means the result is wrong.
    */
  final case class QueryDef(
      name: String,
      build: SparkSession => DataFrame,
      check: (DataFrame, Array[Row]) => Option[String])

  final case class Expected(status: String, rows: Long, digest: String)

  /** Size of the `ja_tokenize` corpus, and of the smaller corpus that
    * `pipeline_ops` runs the two tokenizer queries on in each of its passes.
    */
  final case class JaSize(docs: Int, docChars: Int, lines: Int)
  val FullJa = JaSize(docs = 3200, docChars = 2000, lines = 60000)
  val PipelineJa = JaSize(docs = 1600, docChars = 2000, lines = 30000)
  val TopK = 50

  /** Rough seconds per warm pass on 4 cores; sets a run's pass count. */
  val NominalPassS = Map("ja_tokenize" -> 0.9, "pipeline_ops" -> 5.0)

  /** The fewest passes a run makes. The first passes of a JVM pay for class
    * loading and JIT compilation; run.py leaves them out of the metrics
    * (`WARMUP_PASSES` there), so every run keeps several measured passes.
    */
  val MinPasses = Map("ja_tokenize" -> 8, "pipeline_ops" -> 4)

  /** The `Pipeline.all` queries that `pipeline_ops` runs, chosen by what
    * each exercises, so that every layer the traced run reports is on it.
    */
  val PipelinePanel: Seq[String] = Seq(
    "q187_bpe_segment_apply", // bpe_segment; ~23 jobs at plan time (the BPE merges)
    "q189_blocklist_ac_match", // ac_match (acScan); a small job near the scheduling floor
    "q220_unigram_lm_em", // unigram_segment; jobs at plan time
    "q231_unigram_lm_soft_em", // unigram_expected and unigram_segment
    "q159_kcenter_coreset", // persists while building and leaves a cache entry
    "q99_containment_neardup", // similarity join that leaves a cache entry
    "q71_quantize_int8", // ~22 interpreted (lambda) expressions
    "q116_cdc_chunks") // ~14 interpreted expressions, content-defined chunking

  def loadExpected(path: String): Map[String, Expected] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", -1))
      .collect { case Array(n, st, r, d) => n -> Expected(st, r.toLong, d) }.toMap

  def suiteQuery(name: String, sf: String, expected: Map[String, Expected]): QueryDef = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no such query $name"))
    QueryDef(name, spark => fn(spark, sf), (df, rows) =>
      expected.get(name) match {
        case None => Some("no recorded digest")
        case Some(e) if e.status == "fail" => Some("result failed scripts/check.py when recorded")
        case Some(e) =>
          val d = Digest.of(df.schema, rows)
          if (d == e.digest) None
          else Some(s"digest $d != ${e.digest} (rows ${rows.length} vs ${e.rows})")
      })
  }

  // ---- the ja_tokenize queries ---------------------------------------------

  /** Writes the corpus as parquet, `files` files per table. Rows go to
    * files longest first, each to the file with the fewest characters so
    * far, so every task gets the same work whatever the seed drew.
    */
  def writeCorpus(spark: SparkSession, c: JaCorpus, dir: Path, files: Int): Unit = {
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("text", StringType)))
    def put(xs: Array[String], name: String): Unit = {
      val load = Array.fill(files)(0L)
      val byFile = Array.fill(files)(mutable.ArrayBuffer.empty[Row])
      xs.indices.sortBy(i => (-xs(i).length, i)).foreach { i =>
        val f = load.indices.minBy(load)
        load(f) += xs(i).length
        byFile(f) += Row(i, xs(i))
      }
      val rdd = spark.sparkContext.parallelize(byFile.toSeq.map(_.toSeq), files).flatMap(identity)
      spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    put(c.docs, "docs.parquet")
    put(c.lines, "lines.parquet")
  }

  /** Query 2's tokenizer call: SEARCH mode, explicit stop lists, inline
    * user dictionary.
    */
  def searchTok(c: JaCorpus) = graft.functions.tokenize_ja_neologd(
    col("text"), "SEARCH", JaCorpus.stopWords, JaCorpus.stopTags, c.userDict)

  /** Query 2 over any frame with (id, text): the one-select explode + size
    * shape, folded into (rows, sum of n, xor of xxhash64(id, token)).
    */
  def linesQuery(lines: DataFrame, c: JaCorpus): DataFrame =
    lines.select(col("id"), explode(searchTok(c)).as("token"), size(searchTok(c)).as("n"))
      .agg(count(lit(1)).as("rows"), sum(col("n")).as("sum_n"),
        bit_xor(xxhash64(col("id"), col("token"))).as("xor"))

  /** Query 2's result computed by the tokenizer kernel, on all cores. */
  def expectedLines(c: JaCorpus): (Long, Long, Long, Option[String]) = {
    val tok = new JaTokenizer(JaMode.Search, JaCorpus.stopWords.toSet, JaCorpus.stopTags.toSet,
      UserDict.parse(c.userDict))
    val out = java.util.stream.IntStream.range(0, c.lines.length).parallel().mapToObj { i =>
      val ts = tok.tokenize(c.lines(i))
      var x = 0L
      val h0 = XXH64.hashInt(i, 42L)
      ts.foreach { t =>
        val u = UTF8String.fromString(t)
        x ^= XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h0)
      }
      (ts.length.toLong, ts.length.toLong * ts.length, x, ts.toSeq)
    }.toArray.map(_.asInstanceOf[(Long, Long, Long, Seq[String])])
    val golden = JaCorpus.goldenSearch(c)
    val bad = golden.indices.filter(i => out(i)._4 != golden(i))
    val goldenErr =
      if (bad.isEmpty) None
      else Some(s"${bad.length}/${golden.length} golden lines differ from JaGolden, first: " +
        s"${c.lines(bad.head)} -> ${out(bad.head)._4.mkString("|")} vs ${golden(bad.head).mkString("|")}")
    (out.map(_._1).sum, out.map(_._2).sum, out.foldLeft(0L)(_ ^ _._3), goldenErr)
  }

  def jaQueries(c: JaCorpus, dir: Path): Seq[QueryDef] = {
    val docsPath = dir.resolve("docs.parquet").toString
    val linesPath = dir.resolve("lines.parquet").toString
    val topK = JaCorpus.expectedTopK(c, TopK)
    lazy val lines = expectedLines(c)
    Seq(
      QueryDef("ja_docs_topk", spark =>
        spark.read.parquet(docsPath)
          .select(explode(graft.functions.tokenize_ja_neologd(col("text"))).as("token"))
          .groupBy("token").count()
          .orderBy(desc("count"), asc("token")).limit(TopK),
        (_, rows) => {
          val got = rows.toSeq.map(r => (r.getString(0), r.getLong(1)))
          if (got == topK) None
          else Some(s"top-$TopK differs from the golden counts at rank " +
            got.zip(topK).indexWhere { case (a, b) => a != b })
        }),
      QueryDef("ja_lines_search", spark => linesQuery(spark.read.parquet(linesPath), c),
        (_, rows) => {
          val (n, sn, x, goldenErr) = lines
          val r = rows.head
          if (goldenErr.isDefined) goldenErr
          else if ((r.getLong(0), r.getLong(1), r.getLong(2)) == ((n, sn, x))) None
          else Some(s"(rows, sum_n, xor) = ${r.toSeq} but the kernel gives ($n, $sn, $x)")
        }))
  }

  // ---- measurement -----------------------------------------------------------

  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case other => other +: (other.children.flatMap(planNodes) ++ other.subqueries.flatMap(planNodes))
  }

  /** Lambda, CodegenFallback and ScalaUDF nodes in the executed plan. */
  def interpretedNodes(df: DataFrame): Int =
    planNodes(df.queryExecution.executedPlan).iterator.map(_.expressions.iterator.map(_.collect {
      case _: LambdaFunction => 1
      case _: CodegenFallback => 1
      case _: ScalaUDF => 1
    }.size).sum).sum

  /** TokenizeJaNeologd nodes in the optimized plan. */
  def tokenizeExprs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
      .map(_.collect { case t: TokenizeJaNeologd => t }.size).sum

  /** Runs queries in one session and prints one record per query and per
    * pass through `out`.
    */
  final class Session(val spark: SparkSession, val workload: String,
      val out: String => Unit = Json.println) {
    var listener: Option[GroupListener] = None
    var trace = new Trace(false)
    var traced = false
    val passTimes = mutable.ArrayBuffer.empty[Double]

    /** Runs one query cold and prints its record; returns its wall time. */
    def runQuery(q: QueryDef, pass: Int, tag: String = "query"): Double = {
      val sc = spark.sparkContext
      val group = s"${q.name}#$pass"
      spark.catalog.clearCache()
      var buildS = 0.0
      var execS = 0.0
      var rows = Array.empty[Row]
      var error: Option[String] = None
      var df: DataFrame = null
      trace.span("query", q.name) {
        val t0 = System.nanoTime()
        try {
          sc.setJobGroup(group + ":build", s"${q.name} build", false)
          df = trace.span("query.build", q.name, group + ":build")(q.build(spark))
          val t1 = System.nanoTime()
          buildS = (t1 - t0) / 1e9
          sc.setJobGroup(group + ":exec", s"${q.name} execute", false)
          rows = trace.span("query.execute", q.name, group + ":exec")(df.collect())
          execS = (System.nanoTime() - t1) / 1e9
        } catch {
          case e: Throwable =>
            execS = (System.nanoTime() - t0) / 1e9 - buildS
            error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
        } finally sc.clearJobGroup()
      }
      val cachedLeft = PerfbenchBridge.cachedEntries(spark)
      if (error.isEmpty) error =
        try q.check(df, rows)
        catch { case e: Throwable => Some(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val extra: Seq[(String, Any)] = listener match {
        case Some(l) =>
          PerfbenchBridge.drainListeners(sc)
          Seq("build_jobs" -> l.get(group + ":build").jobs,
            "counters" -> l.get(group + ":exec").fields.toMap,
            "interpreted_nodes" -> (if (df == null) 0 else interpretedNodes(df)))
        case None => Nil
      }
      out(Json.obj(Seq[(String, Any)]("kind" -> tag, "workload" -> workload, "query" -> q.name,
        "pass" -> pass, "traced" -> traced, "build_s" -> buildS, "exec_s" -> execS,
        "wall_s" -> (buildS + execS), "ok" -> error.isEmpty, "error" -> error.map(_.take(300)),
        "rows" -> rows.length, "cached_left" -> cachedLeft) ++ extra: _*))
      buildS + execS
    }

    /** `passes` passes over `qs`, each in an order drawn from `rnd`. Before
      * each query one HostSpeed sample runs on as many threads as the
      * session has cores; the pass time leaves the samples out.
      */
    def window(qs: Seq[QueryDef], passes: Int, rnd: scala.util.Random): Unit =
      (0 until passes).foreach { _ =>
        val threads = spark.sparkContext.defaultParallelism
        val p0 = System.nanoTime()
        val calib = rnd.shuffle(qs).map { q =>
          val c = HostSpeed.sample(threads)
          runQuery(q, passTimes.length)
          c
        }
        val last = (System.nanoTime() - p0) / 1e9 - calib.sum
        out(Json.obj("kind" -> "pass", "pass" -> passTimes.length, "traced" -> traced, "pass_s" -> last,
          "calib_s" -> calib))
        passTimes += last
      }
  }

  /** Generates the corpus and writes it under `work`. */
  def prepareJa(spark: SparkSession, work: Path, seed: Long, size: JaSize, cpus: Int): (JaCorpus, Path) = {
    val c = JaCorpus.generate(seed, size.docs, size.docChars, size.lines)
    val dir = work.resolve(s"ja-seed$seed-${size.docs}")
    deleteTree(dir)
    // eight small files per core: a core that the host slows down takes
    // fewer of them, so one slow core does not hold up the whole query
    writeCorpus(spark, c, dir, 8 * cpus)
    // one file per task: the corpus is small, and by default Spark would
    // pack several files into one partition and leave cores idle
    spark.conf.set("spark.sql.files.openCostInBytes", (256L << 20).toString)
    Json.emit(Seq[(String, Any)]("kind" -> "corpus", "size" -> size.toString) ++ c.manifest: _*)
    (c, dir)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def run(o: Main.Opts): Unit = {
    val trace = new Trace(o.trace)
    val spark = Main.setup(o, trace)
    val work = Paths.get(o.work).toAbsolutePath
    val rnd = new scala.util.Random(o.seed)
    val s = new Session(spark, o.workload)
    val expected = loadExpected(o.expected)

    val (queries, corpus) = o.workload match {
      case "ja_tokenize" =>
        val (c, dir) = prepareJa(spark, work, o.seed, FullJa, o.cpus)
        (jaQueries(c, dir), c)
      case "pipeline_ops" =>
        // every workload reports the tokenizer metrics: pipeline_ops runs
        // the two tokenizer queries in each pass, on a smaller corpus
        val (c, dir) = prepareJa(spark, work, o.seed, PipelineJa, o.cpus)
        (PipelinePanel.map(suiteQuery(_, o.sf, expected)) ++ jaQueries(c, dir), c)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // A fixed number of passes for the measuring time, from the workload's
    // nominal pass time: the JIT keeps speeding queries up for longer than
    // a run lasts, so every run must do the same work in the same order of
    // events to be comparable.
    val passes = math.max(MinPasses(o.workload), math.round(o.seconds / NominalPassS(o.workload)).toInt)
    if (!o.trace) {
      s.window(queries, passes, rnd)
      // run-quality signal: the zero-data version call measures the
      // per-query scheduling floor on this host right now
      val q62 = SparkEntry.queries.keys.find(_.startsWith("q62_")).get
      val floor = (0 until 3).map(_ => s.runQuery(suiteQuery(q62, o.sf, expected), -1, "floor")).min
      Json.emit("kind" -> "quality", "version_call_floor_s" -> floor)
    } else {
      rnd.shuffle(queries).foreach(q => s.runQuery(q, -1, "first"))
      s.window(queries, passes / 2, rnd)
      s.trace = trace
      val l = new GroupListener
      spark.sparkContext.addSparkListener(l)
      s.listener = Some(l)
      s.traced = true
      s.window(queries, passes / 2, rnd)
      trace.attachJobs(l)
      s.listener = None

      val kb = new KernelBench(trace)
      val kdocs = {
        var n = 0L
        corpus.docs.takeWhile { d => n += d.length; n <= 400000 }
      }
      val layer = kb.tokenizer(kdocs, corpus.lines.take(8000), corpus.userDict, 0.3) ++
        kb.exprKernels(0.3) ++ Seq(
          "rules.tokenize_exprs" -> tokenizeExprs(linesQuery(
            spark.createDataFrame(Seq((0, corpus.lines.head))).toDF("id", "text"), corpus)))
      val self = trace.selfSeconds
      val kinds = Seq("setup", "query", "query.build", "query.execute", "spark.job", "kernel")
      Json.emit(Seq[(String, Any)]("kind" -> "layer") ++ layer ++
        kinds.map(k => s"trace.self_s.${k.replace('.', '_')}" -> self.getOrElse(k, 0.0)): _*)
      trace.write(work.resolve(s"trace-${o.workload}-seed${o.seed}.json"))
    }
    Json.emit("kind" -> "rss", "peak_rss_mb" -> peakRssMb())
    spark.stop()
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.GraftSparkBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{GroupCounters, QueryRun, Work}

/** graft.Bench's stdout contract without a benchmark run: the per-query and
  * summary lines are JSON under any default locale, a query line stays under
  * 4 KB, and the listener splits work by job group. Also the query-subset
  * helper every harness main shares.
  */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private val work = Work(jobs = 3, stages = 4, tasks = 12, cpuNs = 1234567890L,
    shuffleBytes = 2500000L, inputBytes = 7500000L)

  test("query and summary lines parse as JSON under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val runs = Seq(
        QueryRun("q01_a", 1.23456, work, 1, ""),
        QueryRun("q02_b", -1.0, Work(), 0, "IllegalStateException: boom"),
        QueryRun("q62_version_call", 0.0216, Work(), 0, ""))
      val q = json.readTree(Bench.queryLine(runs.head))
      assert(q.get("kind").asText == "query" && q.get("query").asText == "q01_a")
      assert(q.get("wall_s").asDouble == 1.2346 && !q.has("spread"))
      assert(q.get("jobs").asLong == 3 && q.get("stages").asLong == 4 && q.get("tasks").asLong == 12)
      assert(q.get("build_jobs").asLong == 1, "jobs run while the DataFrame was built")
      assert(q.get("cpu_s").asDouble == 1.235 && q.get("shuffle_mb").asDouble == 2.5 &&
        q.get("input_mb").asDouble == 7.5)
      assert(!q.has("error"))
      val failed = json.readTree(Bench.queryLine(runs(1)))
      assert(failed.get("wall_s").asDouble == -1.0)
      assert(failed.get("error").asText == "IllegalStateException: boom")
      assert(failed.get("build_jobs").asLong == 0)
      val s = json.readTree(Bench.summaryLine(runs, "/data/sf0.1"))
      val fields = Seq("metric", "value", "unit", "n", "fails",
        "version_call_floor_sec", "cheap5_floor_sec", "sf")
      assert(fields.forall(s.has) && s.size == fields.size)
      assert(s.get("metric").asText == "total_summary" && s.get("n").asInt == 3)
      assert(s.get("fails").asInt == 1 && s.get("value").asDouble == 1.23456 + 0.0216)
      assert(s.get("version_call_floor_sec").asDouble == 0.022)
      assert(s.get("cheap5_floor_sec").asDouble == -1.0, "fewer than 5 successful queries")
    } finally Locale.setDefault(saved)
  }

  test("a query line stays under 4 KB for the longest query name and a 10 KB error") {
    val name = SparkEntry.queries.keys.maxBy(_.length)
    // worst case per char once escaped: control chars (6 bytes), quotes and
    // backslashes (2), three-byte UTF-8 and surrogate pairs
    val error = ("\u0001\"\\語😀" * 2100).take(10240)
    val line = Bench.queryLine(QueryRun(name, -1.0, work, work.jobs, error))
    assert(line.getBytes(StandardCharsets.UTF_8).length < 4096)
    val q = json.readTree(line)
    assert(q.get("query").asText == name)
    assert(error.startsWith(q.get("error").asText))
  }

  test("the listener attributes jobs and tasks to the right group when two tiny groups run back to back") {
    val sc = TestSpark.spark.sparkContext
    val counters = new GroupCounters
    sc.addSparkListener(counters)
    try {
      sc.setJobGroup("bench-spec:a", "a", interruptOnCancel = false)
      sc.parallelize(1 to 10, 3).count()
      sc.setJobGroup("bench-spec:b", "b", interruptOnCancel = false)
      sc.parallelize(1 to 10, 2).map(x => (x % 2, x)).reduceByKey(_ + _, 2).collect()
      sc.parallelize(1 to 10, 1).count()
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 5).count()
      GraftSparkBridge.drainListeners(sc)
    } finally sc.removeSparkListener(counters)
    val a = counters("bench-spec:a")
    val b = counters("bench-spec:b")
    assert((a.jobs, a.stages, a.tasks, a.shuffleBytes) == ((1L, 1L, 3L, 0L)))
    assert((b.jobs, b.stages, b.tasks) == ((2L, 3L, 5L)))
    assert(b.shuffleBytes > 0)
    assert(counters("bench-spec:none") == Work())
  }

  test("SPARK_GRAFT_ONLY: exact names select a sorted subset; an unknown name fails, naming it") {
    assert(SparkEntry.selected(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selected(Some("q62_version_call, q01_pricing_summary")) ==
      Seq("q01_pricing_summary", "q62_version_call").sorted)
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q62_version_call,q62_version_cal,q01")))
    assert(e.getMessage.contains("q62_version_cal") && e.getMessage.contains("q01"))
    assert(!e.getMessage.contains("q62_version_call"))
    intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
  }
}

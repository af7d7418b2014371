package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Work counters of the Spark jobs that ran under one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6, "input_mb" -> inputBytes / 1e6)
}

/** SparkListener that splits work counters and job spans by the job group
  * the benchmark sets around each query's build and execute phases.
  */
final class GroupListener extends SparkListener {
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  /** (group, job id, start epoch ms, end epoch ms) of every finished job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()

  private def of(group: String): Counters = counters.computeIfAbsent(group, _ => new Counters)

  def get(group: String): Counters = Option(counters.get(group)).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    jobGroup.put(e.jobId, group)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, group))
    of(group).synchronized(of(group).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val group = Option(jobGroup.get(e.jobId)).getOrElse("(none)")
    jobs.add((group, e.jobId, Option(jobStartMs.get(e.jobId)).getOrElse(e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(Option(stageGroup.get(e.stageInfo.stageId)).getOrElse("(none)"))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(Option(stageGroup.get(e.stageId)).getOrElse("(none)"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

/** In-memory span recorder. Spans nest by call order; Spark job spans are
  * attached afterwards to the span that owned their job group. Nothing is
  * written until `write`.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private val groupSpan = mutable.HashMap.empty[String, Int]
  private var nextId = 1

  def span[T](kind: String, name: String, group: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      if (group != null) groupSpan(group) = id
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack.push((id, kind, name, System.nanoTime()))
      try body
      finally {
        val (_, k, n, s) = stack.pop()
        done += Span(id, parent, k, n, s - nano0, System.nanoTime() - nano0)
      }
    }

  /** Turn the listener's finished jobs into spans under their group's span. */
  def attachJobs(l: GroupListener): Unit = if (enabled) {
    l.jobs.asScala.foreach { case (group, jobId, s, e) =>
      groupSpan.get(group).foreach { parent =>
        val id = nextId
        nextId += 1
        done += Span(id, parent, "spark.job", s"job $jobId",
          (s - epochMs0) * 1000000L, (e - epochMs0) * 1000000L)
      }
    }
  }

  /** Self time per span kind: duration minus the union of its children. */
  def selfSeconds: Map[String, Double] = {
    val children = done.groupBy(_.parent)
    done.groupBy(_.kind).map { case (kind, spans) =>
      kind -> spans.iterator.map { sp =>
        val kids = children.getOrElse(sp.id, Nil).map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (sp.end - sp.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val body = done.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_s" -> s.start / 1e9, "dur_s" -> (s.end - s.start) / 1e9)
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body)
  }
}

object Trace {
  /** Start and end in nanoseconds from the trace's creation. */
  final case class Span(id: Int, parent: Int, kind: String, name: String, start: Long, end: Long)
}

package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark job/task records for the traced run.
  *
  * A span is opened by the benchmark around one of its own calls into a
  * layer; while it is open, jobs the calling thread submits carry the
  * span's id as their job group, so the listener attributes stages and
  * tasks to the innermost span. Everything stays in memory and is written
  * out once, after the run. Times are milliseconds on one clock (epoch
  * aligned, sub-millisecond from nanoTime), the clock Spark stamps its
  * job events with.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[SpanRec]
  val counts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  // each thread nests its own spans; a thread started inside a span opens
  // its spans under the parent it is given
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  val listener = new JobListener

  /** The innermost span open on this thread (0 when none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Run `f` inside a span named `name`, nested under `parent`. */
  def span[A](name: String, parent: Int = current)(f: => A): A = {
    val id = nextId.getAndIncrement()
    val outer = stack.get
    stack.set(id :: outer)
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val start = nowMs
    try f
    finally {
      val rec = SpanRec(id, parent, name, start, nowMs)
      spans.synchronized(spans += rec)
      stack.set(outer)
      outer.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A count recorded at the open span's boundary (rows, bytes, files). */
  def count(name: String, value: Double): Unit =
    counts.synchronized(counts += ((current, name, value)))

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(listener)
  }
}

object Tracer {
  final case class SpanRec(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)
  final case class JobRec(jobId: Int, group: String, startMs: Long, var endMs: Long)

  /** Per-job-group Spark counters (times in seconds, sizes in bytes). */
  final class Counters {
    var jobs, stages, tasks, tasksFailed = 0L
    var runS, cpuS, gcS, queueS = 0.0
    var shuffleWrite, shuffleRead, spill = 0L
    def toJson: String = Json.obj(Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "tasks_failed" -> tasksFailed,
      "executor_run_s" -> runS, "executor_cpu_s" -> cpuS, "gc_s" -> gcS,
      "task_queue_s" -> queueS, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill))
  }

  /** Job timeline plus task counters keyed by job group (the span id). */
  final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val byGroup = mutable.HashMap.empty[String, Counters]
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val stageSubmitted = mutable.HashMap.empty[Int, Long]

    private def group(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("0")
    private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = group(e.properties)
      jobs(e.jobId) = JobRec(e.jobId, g, e.time, e.time)
      e.stageIds.foreach(s => stageGroup(s) = g)
      counters(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val info = e.stageInfo
      stageSubmitted(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
      if (!stageGroup.contains(info.stageId)) stageGroup(info.stageId) = group(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      counters(stageGroup.getOrElse(e.stageInfo.stageId, "0")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counters(stageGroup.getOrElse(e.stageId, "0"))
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.tasksFailed += 1
      stageSubmitted.get(e.stageId).foreach { s =>
        c.queueS += math.max(0L, e.taskInfo.launchTime - s) / 1e3
      }
      Option(e.taskMetrics).foreach { m =>
        c.runS += m.executorRunTime / 1e3
        c.cpuS += m.executorCpuTime / 1e9
        c.gcS += m.jvmGCTime / 1e3
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Minimal JSON emission for the run record (numbers, strings, nested
  * sequences and objects). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "null" else if (d.isInfinite) (if (d > 0) "1e309" else "-1e309") else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.json
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  /** Already-encoded JSON passed through unchanged. */
  final case class Raw(json: String)
}

package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** In-memory spans and counts of one traced run, written out when the
  * run ends. Spans are recorded by the benchmark around its calls into
  * each layer (and from the Spark listener for the jobs and stages those
  * calls start); nothing is recorded inside the program.
  *
  * Times are wall-clock milliseconds since the epoch with fractional
  * nanosecond resolution, so benchmark spans and Spark's own event times
  * share one axis.
  */
final class Tracer {
  import Tracer.Span

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = the root
  val counts: scala.collection.mutable.LinkedHashMap[String, Double] =
    scala.collection.mutable.LinkedHashMap.empty

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def current: Int = stack.head

  /** Run `f` inside a span named `name`, child of the innermost open span. */
  def span[A](name: String)(f: => A): A = {
    val s = open(name, current, nowMs)
    stack = s.id :: stack
    try f
    finally { s.endMs = nowMs; stack = stack.tail }
  }

  /** A closed span with given times (Spark events arrive after the fact). */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Int = {
    val s = open(name, parent, startMs); s.endMs = endMs; s.id
  }

  private def open(name: String, parent: Int, startMs: Double): Span = synchronized {
    val s = Span(spans.length + 1, parent, name, startMs, Double.NaN)
    spans += s
    s
  }

  def count(name: String, v: Double): Unit = counts(name) = v

  /** Self time per span name: duration minus the part of its interval
    * covered by its children, summed over spans of that name.
    */
  def selfMs: Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((tot, reach), (a, b)) =>
          if (b <= reach) (tot, reach) else (tot + b - (a max reach), b)
        }._1
      s.name -> (s.durMs - covered)
    }
    self.groupBy(_._1).map { case (n, v) => n -> v.map(_._2).sum }.toSeq.sortBy(-_._2)
  }

  def write(file: Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sp = spans.map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    val self = selfMs.map { case (n, v) => f"${q(n)}:$v%.3f" }
    val cs = counts.map { case (n, v) => s"${q(n)}:$v" }
    Files.createDirectories(file.getParent)
    Files.write(file, (s"""{"spans":[${sp.mkString(",\n")}],\n"self_ms":{${self.mkString(",")}},""" +
      s"""\n"counts":{${cs.mkString(",")}}}\n""").getBytes(UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, var endMs: Double) {
    def durMs: Double = endMs - startMs
  }
}

/** Spark-side record of jobs, stages and tasks, kept in the benchmark's
  * own code. [[mark]] starts a window; [[window]] returns what completed
  * since the mark.
  */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Long]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  def mark(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }

  def window(): Window = synchronized { Window(jobs.toList, stages.toList, tasks.toList) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.fetchWaitTime, m.outputMetrics.bytesWritten,
      m.executorCpuTime, m.jvmGCTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful) tasks += e.taskInfo.duration
  }
}

object JobListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long = -1L)
  final case class Stage(jobId: Int, submittedMs: Long, completedMs: Long,
      shuffleBytesWritten: Long, shuffleWriteNs: Long, fetchWaitMs: Long,
      outputBytes: Long, cpuNs: Long, gcMs: Long)
  final case class Window(jobs: Seq[Job], stages: Seq[Stage], taskMs: Seq[Long]) {
    def shuffleBytes: Long = stages.map(_.shuffleBytesWritten).sum
    def lastJobEndMs: Long = if (jobs.isEmpty) 0L else jobs.map(_.endMs).max
  }
}

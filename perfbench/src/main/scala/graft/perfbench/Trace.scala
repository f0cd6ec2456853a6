package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are wall-clock epoch ms, so
  * spans built from Spark's own timestamps (job start/end, planning
  * phases, streaming progress) nest with the harness's own spans.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span tree, written once at the end of a traced run. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def now: Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs

  /** Time `body` as a child span of `parent`; returns (result, span id). */
  def span[T](name: String, parent: Int)(body: Int => T): (T, Span) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val t0 = now
    val r = body(id)
    val s = Span(id, parent, name, t0, now)
    if (enabled) synchronized { spans += s }
    (r, s)
  }

  /** Record an interval measured elsewhere (Spark events). */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    val id = nextId
    nextId += 1
    if (enabled) spans += Span(id, parent, name, startMs, endMs)
    id
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: a span's duration minus the time covered by
    * its children (their union, as concurrent children overlap), summed
    * over spans of the same layer (the name up to its first ':').
    */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val covered = ss.groupBy(_.parent).map { case (p, cs) =>
      val merged = cs.map(c => (c.startMs, c.endMs)).sortBy(_._1)
        .foldLeft(List.empty[(Double, Double)]) {
          case ((s0, e0) :: rest, (s1, e1)) if s1 <= e0 => (s0, math.max(e0, e1)) :: rest
          case (acc, iv) => iv :: acc
        }
      p -> merged.map { case (a, b) => b - a }.sum
    }
    ss.groupBy(s => s.name.takeWhile(_ != ':')).map { case (layer, xs) =>
      layer -> xs.map(s => s.durMs - covered.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[\n")
    sb ++= all.map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      .mkString(",\n")
    sb ++= "\n],\"self_ms\":"
    sb ++= Json.obj(selfTimeMs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    sb ++= "}\n"
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  // nanoTime-based clock aligned to epoch ms once, so spans are
  // monotonic but comparable with Spark's epoch-ms event times
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}

/** Job, stage-task and planning events as Spark reports them, kept
  * for attribution to bench lines by wall-clock interval after the
  * run (lines run one at a time on the main thread).
  */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile var lastJobEndId: Int = -1

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastJobEndId = e.jobId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.finishTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def spillMb: Double = tasks.asScala.map(_.diskSpillBytes).sum / 1048576.0
}

object SparkEvents {
  final case class Job(id: Int, startMs: Long, var endMs: Long = -1)
  final case class Task(finishMs: Long, shuffleWriteBytes: Long, diskSpillBytes: Long)
  final case class Plan(startMs: Long, endMs: Long, phasesMs: Long)
}

/** Minimal JSON writing for the result line and side files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

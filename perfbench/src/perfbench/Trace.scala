package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One bench-side span. `parent` is -1 at the root; every span of a run
  * shares the tracer's `runId`.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)

/** In-memory span recorder; written out once, when the run ends. When
  * disabled every call is a plain passthrough, so untraced runs record
  * nothing.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime(), -1L)
      spans += s
      open = s.id :: open
      try f finally { s.endNs = System.nanoTime(); open = open.tail }
    }

  def json(jobs: Seq[JobRec]): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val sb = new StringBuilder
    sb ++= s"""{"run_id": "${esc(runId)}", "spans": [\n"""
    sb ++= spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${esc(s.name)}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(",\n")
    sb ++= "],\n\"jobs\": [\n"
    sb ++= jobs.map(j =>
      s"""{"job": ${j.jobId}, "start_ns": ${j.startNs}, "end_ns": ${j.endNs}, """ +
        s""""file": "${esc(j.file)}", "frame": "${esc(j.frame)}", "tasks": ${j.tasks}, """ +
        s""""task_s": ${j.taskNs / 1e9}}""").mkString(",\n")
    sb ++= "]}\n"
    sb.toString
  }
}

/** Per-stage task totals, summed in `onTaskEnd`. */
final class StageAgg {
  var tasks = 0
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val durations = ArrayBuffer.empty[Long]
}

/** One finished Spark job with its program attribution: `file` is the
  * source file of the innermost program frame (`graft.*`, or the bench's
  * own `perfbench.*`) of the call that triggered it, "" when none.
  */
final case class JobRec(jobId: Int, startNs: Long, endNs: Long, execId: Long,
    stages: Seq[Int], var file: String = "", var frame: String = "",
    var tasks: Int = 0, var taskNs: Long = 0L)

/** Spark listener for traced runs. Job start and end are the events'
  * own wall-clock times (ms), mapped onto the `System.nanoTime` clock of
  * the bench spans, so delays on the listener bus do not shift them.
  *
  * Attribution: a job's `spark.sql.execution.id` resolves through
  * `SparkListenerSQLExecutionStart` to the call site of the Dataset action
  * (its root execution's, for nested executions). Jobs with no execution
  * id (RDD actions such as `zipWithIndex`) run on the calling thread, and
  * their stage details carry that thread's stack.
  */
final class JobListener extends SparkListener {
  private val lock = new Object
  private val execs = mutable.Map.empty[Long, (Long, String)] // id -> (root, details)
  private val starts = mutable.Map.empty[Int, (Long, Long, Seq[Int], String)]
  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nanos(ms: Long): Long = nano0 + (ms - wall0Ms) * 1000000L
  val stages = mutable.Map.empty[Int, StageAgg]
  val jobs = ArrayBuffer.empty[JobRec]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => lock.synchronized {
      execs(e.executionId) = (e.rootExecutionId.getOrElse(e.executionId), e.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    starts(e.jobId) = (nanos(e.time), execId, e.stageIds, details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    starts.remove(e.jobId).foreach { case (t0, execId, st, details) =>
      val rec = JobRec(e.jobId, t0, nanos(e.time), execId, st)
      val (file, frame) = attribute(execId, details)
      rec.file = file; rec.frame = frame
      jobs += rec
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    val m = e.taskMetrics
    a.tasks += 1
    if (m != null) {
      a.taskNs += m.executorRunTime * 1000000L
      a.durations += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def programFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))

  private def attribute(execId: Long, details: String): (String, String) = {
    val viaExec =
      if (execId < 0) None
      else execs.get(execId).flatMap { case (root, d) =>
        programFrame(d).orElse(execs.get(root).flatMap(r => programFrame(r._2)))
      }
    viaExec.orElse(programFrame(details)) match {
      case Some(f) =>
        val file = f.substring(f.lastIndexOf('(') + 1).takeWhile(c => c != ':' && c != ')')
        (file, f)
      case None => ("", "")
    }
  }

  /** Finished jobs that started inside `[t0, t1]`, with task totals. */
  def jobsIn(t0: Long, t1: Long): Seq[JobRec] = lock.synchronized {
    jobs.filter(j => j.startNs >= t0 && j.startNs <= t1).map { j =>
      val aggs = j.stages.flatMap(stages.get)
      j.tasks = aggs.map(_.tasks).sum
      j.taskNs = aggs.map(_.taskNs).sum
      j
    }.toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = lock.synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }
}

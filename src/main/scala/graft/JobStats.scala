package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark job totals per phase: the value of the local property
  * [[JobStats.Phase]] on the thread that submits a job. Spark copies a
  * thread's local properties into the threads AQE and broadcast exchanges
  * submit their jobs from, so a phase counts every job its body causes,
  * and no job run outside it. Jobs with no phase are not counted.
  *
  * A stage of a SQL execution is named by the call site of the Dataset
  * action that started its root execution (`count at Foo.scala:12`, or the
  * job description when one is set), as `SparkListenerSQLExecutionStart`
  * reports it. Spark's own stage name is the call site of the submitting
  * thread, which under AQE is a pool thread (`... at
  * CompletableFuture.java`) and names no program code.
  */
final class JobStats private (sc: SparkContext) extends SparkListener {
  import JobStats._

  private val jobs = mutable.Map.empty[String, Int]
  private val stageRows = mutable.Map.empty[String, Vector[Stage]]
  private val stagePhase = mutable.Map.empty[(Int, Int), (String, String)]
  /** Running SQL executions: id -> the call site of its root execution. */
  private val callSites = mutable.Map.empty[Long, String]

  private def phaseOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Phase)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        callSites(s.executionId) = callSites.getOrElse(root, s.description)
      case s: SparkListenerSQLExecutionEnd => callSites.remove(s.executionId)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    phaseOf(e.properties).foreach(p => jobs(p) = jobs.getOrElse(p, 0) + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    phaseOf(e.properties).foreach { p =>
      val callSite = Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
        .flatMap(id => callSites.get(id.toLong))
      stagePhase(si.stageId -> si.attemptNumber()) = (p, callSite.getOrElse(si.name))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stagePhase.remove(si.stageId -> si.attemptNumber()).foreach { case (p, name) =>
      val m = si.taskMetrics
      val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
      stageRows(p) = stageRows.getOrElse(p, Vector.empty) :+ Stage(si.stageId, name,
        si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000,
        m.jvmGCTime, m.executorDeserializeTime, m.resultSerializationTime,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime / 1000000)
    }
  }

  /** The totals of `phase` so far, after every event already posted has
    * been delivered.
    */
  def apply(phase: String): Totals = {
    ListenerBusDrain(sc)
    synchronized(Totals(jobs.getOrElse(phase, 0), stageRows.getOrElse(phase, Vector.empty)))
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object JobStats {

  /** The local property that names a job's phase. */
  val Phase = "graft.phase"

  /** Register a new listener on `sc`; [[JobStats.stop]] removes it. */
  def install(sc: SparkContext): JobStats = {
    val s = new JobStats(sc)
    sc.addSparkListener(s)
    s
  }

  /** Run `body` with its jobs counted under `phase`. */
  def phase[T](sc: SparkContext, phase: String)(body: => T): T = {
    val outer = sc.getLocalProperty(Phase)
    sc.setLocalProperty(Phase, phase)
    try body finally sc.setLocalProperty(Phase, outer)
  }

  /** One completed stage attempt; times in ms, sizes in bytes. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, deserializeMs: Long,
      resultSerializeMs: Long, fetchWaitMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, shuffleWriteMs: Long)

  /** A phase's jobs and its completed stages, with their sums. */
  final case class Totals(jobs: Int, stageRows: Vector[Stage]) {
    def stages: Int = stageRows.size
    def tasks: Int = stageRows.map(_.tasks).sum
    def runMs: Long = stageRows.map(_.runMs).sum
    def shuffleReadBytes: Long = stageRows.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stageRows.map(_.shuffleWriteBytes).sum
    def stageWallMs: Long = stageRows.map(_.wallMs).sum
  }
}

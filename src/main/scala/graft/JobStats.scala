package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Spark job totals per phase: the value of the local property
  * [[JobStats.Phase]] on the thread that submits a job. Spark copies a
  * thread's local properties into the threads AQE and broadcast exchanges
  * submit their jobs from, so a phase counts every job its body causes,
  * and no job run outside it. Jobs with no phase are not counted.
  */
final class JobStats private (sc: SparkContext) extends SparkListener {
  import JobStats._

  private val jobs = mutable.Map.empty[String, Int]
  private val stageRows = mutable.Map.empty[String, Vector[Stage]]
  private val stagePhase = mutable.Map.empty[(Int, Int), String]

  private def phaseOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Phase)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    phaseOf(e.properties).foreach(p => jobs(p) = jobs.getOrElse(p, 0) + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    phaseOf(e.properties).foreach(stagePhase(e.stageInfo.stageId -> e.stageInfo.attemptNumber()) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stagePhase.remove(si.stageId -> si.attemptNumber()).foreach { p =>
      val m = si.taskMetrics
      val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
      stageRows(p) = stageRows.getOrElse(p, Vector.empty) :+ Stage(si.stageId, si.name,
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

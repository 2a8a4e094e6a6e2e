package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `JobStats` counts exactly the jobs of a phase's body: the ones it
  * submits itself and the ones AQE and broadcast threads submit for it,
  * and none run outside it.
  */
class JobStatsSpec extends AnyFunSuite with SparkTest with BeforeAndAfterAll {

  private lazy val sc = spark.sparkContext
  private var stats: JobStats = _

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    stats = JobStats.install(sc)
  }

  override protected def afterAll(): Unit =
    try stats.stop() finally super.afterAll()

  /** One RDD job of `parts` tasks in one stage. */
  private def oneJob(parts: Int): Long = sc.parallelize(1 to 100, parts).count()

  /** The id of a new untagged job. Job ids are sequential, so the jobs run
    * between two markers are the ids between them, whatever their group
    * (a broadcast job runs in a group of its own).
    */
  private def marker(): Int = {
    oneJob(1)
    ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(null).max
  }

  test("a phase counts exactly the jobs of its body") {
    JobStats.phase(sc, "two-counts") { oneJob(3); oneJob(3) }
    val t = stats("two-counts")
    assert((t.jobs, t.stages, t.tasks) == (2, 2, 6))
    assert(t.stageRows.forall(s => s.tasks == 3 && s.wallMs >= 0 && s.runMs >= 0))
    assert(stats("never-run") == JobStats.Totals(0, Vector.empty))
  }

  test("an untagged job between two tagged bodies is not counted") {
    JobStats.phase(sc, "split")(oneJob(2))
    oneJob(5)
    JobStats.phase(sc, "split")(oneJob(2))
    val t = stats("split")
    assert((t.jobs, t.tasks) == (2, 4))
  }

  test("a broadcast join's jobs count under the phase that ran it") {
    val before = marker()
    val rows = JobStats.phase(sc, "broadcast") {
      spark.range(1000).join(broadcast(spark.range(10)), "id").count()
    }
    val ran = marker() - before - 1
    assert(rows == 10)
    assert(ran >= 2, s"$ran jobs; a broadcast and the count expected")
    assert(stats("broadcast").jobs == ran)
  }

  test("an AQE query's stages are named by the call site of its action") {
    JobStats.phase(sc, "aqe") {
      spark.range(1000).groupBy(col("id") % 7).count().collect()
    }
    val names = stats("aqe").stageRows.map(_.name)
    assert(names.size >= 2, s"a shuffle map stage and a result stage expected: $names")
    assert(names.forall(_.startsWith("collect at JobStatsSpec.scala:")), names)
  }

  test("phases run back to back keep separate totals") {
    JobStats.phase(sc, "first")(oneJob(3))
    JobStats.phase(sc, "second") { oneJob(2); oneJob(2) }
    assert((stats("first").jobs, stats("first").tasks) == (1, 3))
    assert((stats("second").jobs, stats("second").tasks) == (2, 4))
  }
}

package graft.cardano

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobStats, SparkTest}

/** A period's cost is dominated by its Spark job count, not its data: each
  * job pays scheduling and, under AQE, a stage materialization. This pins
  * the job count of one fixture `syncPeriod` over a non-empty store, so an
  * eager pre-job (a `getNumPartitions` or `isEmpty` probe, a per-table
  * scan) cannot creep back into the sync path unnoticed.
  */
class SyncJobBudgetSpec extends AnyFunSuite with SparkTest {

  /** 37 jobs measured for the period below, plus a small margin. */
  private val Budget = 40

  test("one fixture syncPeriod stays within its Spark job budget") {
    val src = Files.createTempDirectory("budget-src").toString
    Fixture.write(spark, src)
    val store = new TableStore(spark, Files.createTempDirectory("budget-store").toString)
    val driver = new SyncDriver(spark, src, store)
    val (t1, t2) = (Timestamp.valueOf("2021-03-02 13:47:00"), Timestamp.valueOf("2021-03-02 16:00:00"))
    driver.syncPeriod(driver.genesis, t1)

    val stats = JobStats.install(spark.sparkContext)
    val jobs =
      try {
        JobStats.phase(spark.sparkContext, "budget")(driver.syncPeriod(t1, t2))
        stats("budget").jobs
      } finally stats.stop()
    assert(store.read("asset_tx").count() + store.read("asset_mint_tx").count() > 0)
    assert(jobs <= Budget, s"$jobs jobs for one fixture period, budget $Budget")
  }
}

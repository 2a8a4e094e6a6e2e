package graft.cardano

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** A period's cost is dominated by its Spark job count, not its data: each
  * job pays scheduling and, under AQE, a stage materialization. This pins
  * the job count of one fixture `syncPeriod` over a non-empty store, so an
  * eager pre-job (a `getNumPartitions` or `isEmpty` probe, a per-table
  * scan) cannot creep back into the sync path unnoticed.
  */
class SyncJobBudgetSpec extends AnyFunSuite with SparkTest {

  /** 37 jobs measured for the period below, plus a small margin. */
  private val Budget = 40

  private val Tag = "graft.test.jobBudget"

  test("one fixture syncPeriod stays within its Spark job budget") {
    val src = Files.createTempDirectory("budget-src").toString
    Fixture.write(spark, src)
    val store = new TableStore(spark, Files.createTempDirectory("budget-store").toString)
    val driver = new SyncDriver(spark, src, store)
    val (t1, t2) = (Timestamp.valueOf("2021-03-02 13:47:00"), Timestamp.valueOf("2021-03-02 16:00:00"))
    driver.syncPeriod(driver.genesis, t1)

    // jobs of the tagged thread, including the ones AQE and broadcast
    // exchanges submit from their own threads (they inherit its properties)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(Tag) != null) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(Tag, "1")
    try driver.syncPeriod(t1, t2)
    finally {
      spark.sparkContext.setLocalProperty(Tag, null)
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(store.read("asset_tx").count() + store.read("asset_mint_tx").count() > 0)
    assert(jobs.get <= Budget, s"${jobs.get} jobs for one fixture period, budget $Budget")
  }
}

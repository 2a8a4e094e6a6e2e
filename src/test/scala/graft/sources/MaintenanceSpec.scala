package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

class MaintenanceSpec extends AnyFunSuite with SparkTest {

  private val dir = "/root/testdata/sf0.001"

  test("compact shrinks a many-small-files table without changing its rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("compact").toString + "/t"
    val df = (1L to 10000L).map(i => (i, s"row_$i")).toDF("id", "s")
    df.repartition(64).write.parquet(path) // simulate micro-batch accretion
    assert(Maintenance.parquetFileCount(spark, path) == 64)

    Maintenance.compact(spark, path) // 10k rows ≪ 128 MiB -> one file
    assert(Maintenance.parquetFileCount(spark, path) == 1)
    val back = spark.read.parquet(path).as[(Long, String)].collect().sortBy(_._1)
    assert(back.length == 10000 && back.head == ((1L, "row_1")) && back.last == ((10000L, "row_10000")))
  }

  test("date-partitioned events: a date filter prunes partitions before I/O") {
    val path = Files.createTempDirectory("datepart").toString + "/events"
    Maintenance.writeDatePartitioned(
      Tables.events(spark, dir).select("event_id", "ts", "user_id"), "ts", path)

    val q = spark.read.parquet(path).where(col("date") === "2024-01-02")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // the date predicate must be a partition filter, not a data filter
    assert(plan.contains("(date"), plan)
    val scanned = "PartitionCount: (\\d+)".r.findFirstMatchIn(
      q.queryExecution.executedPlan.toString)
    for (m <- scanned) assert(m.group(1).toInt == 1, plan)

    // and the pruned read returns exactly that day's rows
    val expected = Tables.events(spark, dir)
      .where(to_date(col("ts")) === "2024-01-02").count()
    assert(q.count() == expected && expected > 0)
  }

  test("z-ordered layout: every file covers a small (x, y) envelope; " +
      "a time-sorted layout does not") {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey", "l_orderkey")
    val zPath = Files.createTempDirectory("zorder").toString + "/t"
    Maintenance.writeZOrdered(li, "l_partkey", "l_orderkey", zPath, nFiles = 16)
    assert(Maintenance.parquetFileCount(spark, zPath) == 16)

    def envelopes(path: String, sortCol: String, n: Int) = {
      val src = if (path == null)
        li.repartitionByRange(n, col(sortCol)).sortWithinPartitions(sortCol)
          .withColumn("f", spark_partition_id().cast("string"))
      else spark.read.parquet(path).withColumn("f", input_file_name())
      src.groupBy("f").agg(
          (max("l_partkey") - min("l_partkey")).as("xs"),
          (max("l_orderkey") - min("l_orderkey")).as("ys"))
        .select(avg("xs"), avg("ys")).as[(Double, Double)].head()
    }
    val (zx, zy) = envelopes(zPath, null, 16)
    val (ox, oy) = envelopes(null, "l_suppkey", 16) // uncorrelated layout
    // the z layout bounds BOTH dimensions; a layout clustered on an
    // unrelated key leaves both near the full domain
    assert(zx < ox / 2 && zy < oy / 2,
      s"z envelopes ($zx, $zy) not tighter than suppkey-sorted ($ox, $oy)")
    // row preservation
    assert(spark.read.parquet(zPath).count() == li.count())
  }

  test("heavyHitters candidates+verify equals exact heavy hitters") {
    import spark.implicits._
    // zipf-ish: key k appears ~ 2000/k times
    val rows = (1 to 50).flatMap(k => Seq.fill(2000 / k)(s"key_$k")).toDF("k")
    val support = 0.02
    val got = graft.ext.Sketches.heavyHitters(rows, "k", support)
      .as[(String, Long)].collect().toMap
    val exact = rows.groupBy("k").count().as[(String, Long)].collect()
      .filter(_._2 > rows.count() * support).toMap
    assert(got == exact)
  }
}

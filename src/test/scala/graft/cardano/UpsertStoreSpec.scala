package graft.cardano

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Versioned-store contract: a mutable table's version is one full dir,
  * an append table's the union of its delta dirs, staged versions stay
  * unseen until committed, vacuum keeps what retained versions read, and a
  * merge-on-read layer left by an older build is refused, never half-read.
  */
class UpsertStoreSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def assetDf(rows: (Long, Long)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, w) => org.apache.spark.sql.Row(
        id, 1, s"h$id", s"n$id", s"fp$id", w: java.lang.Long) }.asJava,
      Schemas.asset)

  private implicit class SeqOps[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add); l
    }
  }

  private def owners(df: DataFrame): Map[Long, Long] =
    df.select("id", "current_wallet_id").as[(Long, Long)].collect().toMap

  test("append tables: committed versions with no delta dir; staged ones stay unseen") {
    val store = new TableStore(spark, Files.createTempDirectory("gaps").toString)
    def wallets(ids: Long*): DataFrame = spark.createDataFrame(
      ids.map(i => org.apache.spark.sql.Row(i, s"addr$i", "ENTERPRISE", null)).asJava,
      Schemas.wallet)
    def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet
    store.commit(Map("wallet" -> store.appendNext("wallet", wallets(1L, 2L))))
    // v2 and v3 commit other tables only: the wallet table skips them
    store.commit(Map("wallet" -> 3L))
    store.commit(Map("wallet" -> store.appendNext("wallet", wallets(3L))))
    // a staged, uncommitted v5
    store.appendNext("wallet", wallets(4L))
    assert(store.currentVersion("wallet") == 4L)
    assert(ids(store.read("wallet")) == Set(1L, 2L, 3L))
    assert(ids(store.readVersion("wallet", 3)) == Set(1L, 2L))
    assert(ids(store.readVersion("wallet", 2)) == Set(1L, 2L))
    assert(store.nextIds(Seq("wallet")) == Map("wallet" -> 4L))
    // a mutable table's full version and a table with no version, in the
    // same aggregation
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> 10L, 4L -> 10L))))
    assert(store.nextIds(Seq("asset", "wallet", "collection")) ==
      Map("asset" -> 5L, "wallet" -> 4L, "collection" -> 1L))
  }

  test("vacuum keeps every dir a retained version still resolves through") {
    val store = new TableStore(spark, Files.createTempDirectory("vac").toString)
    for (w <- 1L to 4L)
      store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> w, 2L -> 10L * w))))
    val current = owners(store.read("asset"))
    assert(current == Map(1L -> 4L, 2L -> 40L))
    def fulls = new java.io.File(store.root, "asset/full").list().sorted.toSeq
    val tool = new SnapshotTool(store)
    // keep = 1: the horizon is v3, so v1 and v2 go
    assert(tool.vacuumSnapshots(keep = 1) == 2)
    assert(fulls == Seq("v=3", "v=4"))
    assert(owners(store.readVersion("asset", 3)) == Map(1L -> 3L, 2L -> 30L))
    // keep = 0: only the current version stays
    assert(tool.vacuumSnapshots(keep = 0) == 1)
    assert(fulls == Seq("v=4"))
    assert(owners(store.read("asset")) == current)
  }

  test("a full version holding a legacy _upsert marker fails on read and nextIds") {
    val store = new TableStore(spark, Files.createTempDirectory("legacy").toString)
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> 10L, 2L -> 10L))))
    // v2 as an older build staged a merge-on-read layer: changed rows only,
    // plus a marker file holding the merge key
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(2L -> 20L))))
    Files.write(java.nio.file.Paths.get(store.root, "asset", "full", "v=2", "_upsert"),
      "id\n".getBytes("UTF-8"))
    for (e <- Seq(
        intercept[IllegalStateException](store.read("asset")),
        intercept[IllegalStateException](store.nextIds(Seq("asset")))))
      assert(e.getMessage.contains("asset version 2"), e.getMessage)
    // the full version below it still reads
    assert(owners(store.readVersion("asset", 1)) == Map(1L -> 10L, 2L -> 10L))
  }
}

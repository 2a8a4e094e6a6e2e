package graft.cardano

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Merge-on-read contract of `TableStore.upsertNext`: layer staging is
  * O(delta) (no base rewrite), reads resolve newest-version-wins per key,
  * time travel sees each committed version's state, and vacuum never
  * drops a dir a retained version still needs.
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

  test("upsert layers resolve newest-wins; base is never rewritten") {
    val store = new TableStore(spark,
      Files.createTempDirectory("mor").toString)
    // v1: base with assets 1..3
    store.commit(Map("asset" ->
      store.writeNext("asset", assetDf(1L -> 10L, 2L -> 10L, 3L -> 10L))))
    val v1Files = new java.io.File(store.root, "asset/full/v=1").list().sorted
    // v2: layer updates asset 2, inserts asset 4
    store.commit(Map("asset" ->
      store.upsertNext("asset", assetDf(2L -> 20L, 4L -> 20L), "id")))
    // v3: layer updates assets 2 (again) and 3
    store.commit(Map("asset" ->
      store.upsertNext("asset", assetDf(2L -> 30L, 3L -> 30L), "id")))

    assert(owners(store.read("asset")) ==
      Map(1L -> 10L, 2L -> 30L, 3L -> 30L, 4L -> 20L))
    // time travel: v2 sees the first layer only, v1 the base
    assert(owners(store.readVersion("asset", 2)) ==
      Map(1L -> 10L, 2L -> 20L, 3L -> 10L, 4L -> 20L))
    assert(owners(store.readVersion("asset", 1)) ==
      Map(1L -> 10L, 2L -> 10L, 3L -> 10L))
    // the base dir was not touched by either layer staging
    assert(new java.io.File(store.root, "asset/full/v=1").list().sorted
      .sameElements(v1Files))
    assert(store.nextIds(Seq("asset", "wallet")) == Map("asset" -> 5L, "wallet" -> 1L))
  }

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
  }

  test("vacuum keeps every dir a retained version still resolves through") {
    val store = new TableStore(spark,
      Files.createTempDirectory("morvac").toString)
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> 10L))))
    store.commit(Map("asset" -> store.upsertNext("asset", assetDf(1L -> 20L), "id")))
    store.commit(Map("asset" -> store.upsertNext("asset", assetDf(2L -> 20L), "id")))
    val tool = new SnapshotTool(store)
    // keep=1 horizon is v2 — a LAYER; its base v1 must survive the vacuum
    assert(tool.vacuumSnapshots(keep = 1) == 0)
    assert(owners(store.read("asset")) == Map(1L -> 20L, 2L -> 20L))
    // after compacting into a v4 base, keep=1 (horizon v3, still a layer)
    // retains everything; keep=0 (horizon = the v4 base) drops v1..v3
    store.commit(Map("asset" -> store.writeNext("asset", store.read("asset"))))
    assert(tool.vacuumSnapshots(keep = 0) == 3)
    assert(owners(store.read("asset")) == Map(1L -> 20L, 2L -> 20L))
  }
}

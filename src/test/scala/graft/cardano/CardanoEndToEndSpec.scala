package graft.cardano

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Golden end-to-end sync of the FIXTURES.md §A scenario set
  * (SURVEY.md §5.3/5.5/5.6): full catch-up, incremental equivalence,
  * idempotence. Golden values derived by hand-simulating the reference's
  * loop (`/root/reference/app/main.py:109-330`) over the fixture in the
  * pinned record order (tx_time, tx_id, ma_id, tx_out_id).
  */
class CardanoEndToEndSpec extends AnyFunSuite with SparkTest {

  private lazy val srcDir = {
    val d = Files.createTempDirectory("cardano-src").toString
    Fixture.write(spark, d)
    d
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private def runSync(intervalMinutes: Long): TableStore = {
    val out = Files.createTempDirectory(s"pantasia-$intervalMinutes").toString
    val store = new TableStore(spark, out)
    val driver = new SyncDriver(spark, srcDir, store, intervalMinutes)
    driver.catchUp()
    store
  }

  private def rows(store: TableStore, table: String): Seq[Seq[Any]] =
    store.read(table).collect().toSeq
      .map(_.toSeq.map {
        case t: Timestamp => t.toString
        case d: java.math.BigDecimal => d.longValueExact()
        case x => x
      })
      .sortBy(_.head.asInstanceOf[Number].longValue)

  private lazy val store = runSync(120)

  val metaA =
    """{"name": "Asset A", "files": [{"src": "ipfs://fA", "mediaType": "image/png"}], "image": "ipfs://imgA"}"""
  val filesA = """[{"src": "ipfs://fA", "mediaType": "image/png"}]"""

  test("wallet: entity resolution, STAKE vs ENTERPRISE, first-appearance ids") {
    assert(rows(store, "wallet") == Seq(
      Seq(1L, Fixture.stake1, "STAKE", null),
      Seq(2L, Fixture.addrE1, "ENTERPRISE", null),
      Seq(3L, Fixture.stake2, "STAKE", null)))
  }

  test("collection: policy dedup in first-appearance order") {
    assert(rows(store, "collection") == Seq(
      Seq(1, Fixture.polXHex, null),
      Seq(2, Fixture.polYHex, null)))
  }

  test("asset: dedup, name decoding, current_wallet last-write-wins") {
    assert(rows(store, "asset") == Seq(
      Seq(1L, 1, s"${Fixture.polXHex}.4e46542d41", "NFT-A", Fixture.fpA, 3L),
      Seq(2L, 1, s"${Fixture.polXHex}.4e46542d42", "NFT-B", Fixture.fpB, 2L),
      Seq(3L, 2, s"${Fixture.polYHex}.544f4b", "TOK", Fixture.fpC, 3L),
      Seq(4L, 1, s"${Fixture.polXHex}.4e46542d46", "NFT-F", Fixture.fpF, 3L),
      Seq(5L, 2, s"${Fixture.polYHex}.ff41", "ff41", Fixture.fpD, 1L),
      Seq(6L, 2, s"${Fixture.polYHex}.002742", " 'B", Fixture.fpE, 2L)))
  }

  test("asset_tx: transfer facts in stream order") {
    assert(rows(store, "asset_tx") == Seq(
      Seq(1L, 1L, 3L, 1L, Fixture.txHashHex(13), "2021-03-02 11:30:00.0"),
      Seq(2L, 4L, 3L, 1L, Fixture.txHashHex(13), "2021-03-02 11:30:00.0"),
      Seq(3L, 3L, 1L, 60L, Fixture.txHashHex(14), "2021-03-02 13:47:00.0"),
      Seq(4L, 3L, 3L, 40L, Fixture.txHashHex(14), "2021-03-02 13:47:00.0"),
      Seq(5L, 5L, 1L, 1L, Fixture.txHashHex(18), "2021-03-02 16:00:00.0")))
  }

  test("asset_mint_tx: mint + burn facts with CIP-25 extraction") {
    assert(rows(store, "asset_mint_tx") == Seq(
      Seq(1L, 1L, 1L, 1L, Fixture.txHashHex(11), "2021-03-02 10:00:00.0",
        "ipfs://imgA", metaA, filesA),
      Seq(2L, 2L, 2L, 1L, Fixture.txHashHex(12), "2021-03-02 10:30:00.0",
        "ipfs://imgB", """{"image": "ipfs://imgB"}""", null),
      Seq(3L, 3L, 2L, 100L, Fixture.txHashHex(12), "2021-03-02 10:30:00.0",
        null, null, null),
      Seq(4L, 1L, null, -1L, Fixture.txHashHex(15), "2021-03-02 13:48:00.0",
        null, null, null),
      Seq(5L, 3L, 1L, 50L, Fixture.txHashHex(16), "2021-03-02 14:10:00.0",
        null, null, null),
      Seq(6L, 5L, 3L, 1L, Fixture.txHashHex(17), "2021-03-02 14:30:00.0",
        "ipfs://imgD", """{"image": "ipfs://imgD"}""", null),
      Seq(7L, 6L, 2L, 1L, Fixture.txHashHex(17), "2021-03-02 14:30:00.0",
        "ipfs://imgE", """{"image": "ipfs://imgE"}""", null)))
  }

  test("asset_ext: latest pointers; burns never touch ext") {
    assert(rows(store, "asset_ext") == Seq(
      Seq(1L, 1L, 1L, 1L),
      Seq(2L, 2L, 2L, null),
      Seq(3L, 3L, 5L, 4L),
      Seq(4L, 4L, null, 2L),
      Seq(5L, 5L, 6L, 5L),
      Seq(6L, 6L, 7L, null)))
  }

  test("incremental equivalence: many 120-min periods == one big period") {
    val oneShot = runSync(1000000)
    for (t <- Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx", "asset_ext"))
      assert(rows(store, t) == rows(oneShot, t), s"table $t differs")
  }

  test("idempotence: a second catch-up is a no-op") {
    val driver = new SyncDriver(spark, srcDir, store, 120)
    val before = Seq("wallet", "asset", "asset_tx", "asset_mint_tx", "asset_ext")
      .map(t => rows(store, t))
    assert(driver.catchUp() == 0)
    val after = Seq("wallet", "asset", "asset_tx", "asset_mint_tx", "asset_ext")
      .map(t => rows(store, t))
    assert(before == after)
  }

  test("user: 7th app-owned table bootstraps; wallet.user_id FK holds") {
    // postgres.py:96-104 — the sync never inserts users, but the table
    // must exist (empty, right schema) as the FK target of wallet.user_id
    assert(Schemas.targetTables.size == 7)
    val user = store.read("user")
    assert(user.schema == Schemas.user)
    assert(user.count() == 0L)
    // referential integrity (postgres.py:243): every non-null
    // wallet.user_id must resolve to a user row — anti-join must be empty
    val orphans = store.read("wallet")
      .where(org.apache.spark.sql.functions.col("user_id").isNotNull)
      .join(user.selectExpr("id AS user_id"), Seq("user_id"), "left_anti")
    assert(orphans.count() == 0L, "wallet.user_id rows without a user")
  }

  test("tip probes: cardano tip lags 3 blocks; pantasia tip tracks facts") {
    val driver = new SyncDriver(spark, srcDir, store, 120)
    assert(driver.cardanoTip().contains(ts("2021-03-02 16:00:00")))
    assert(driver.pantasiaTip() == ts("2021-03-02 16:00:00"))
    val empty = new TableStore(spark,
      Files.createTempDirectory("empty-store").toString)
    val d2 = new SyncDriver(spark, srcDir, empty, 120)
    assert(d2.pantasiaTip() == d2.genesis)
  }
}

package graft.cardano

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit, max, min}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Focused unit tests of the A4 last-write-wins semantics
  * (`/root/reference/app/main.py` queues `UPDATE current_wallet_id = <resolved>`
  * for every asset transferred in the batch — including when the resolved
  * wallet is NULL, e.g. a tx_out with no address). A coalesce-based fallback
  * would silently keep the stale owner; the transform must use an explicit
  * has-update marker instead.
  */
class TransformSpec extends AnyFunSuite with SparkTest {

  private val recordsSchema = StructType(Seq(
    StructField("policy_id", StringType),
    StructField("asset_fingerprint", StringType),
    StructField("asset_name_hash", StringType),
    StructField("tx_hash", StringType),
    StructField("quantity", DecimalType(20, 0)),
    StructField("address", StringType),
    StructField("is_mint_tx", BooleanType),
    StructField("tx_time", TimestampType),
    StructField("image", StringType),
    StructField("files", StringType),
    StructField("metadata", StringType),
    StructField("ma_id", LongType),
    StructField("tx_id", LongType),
    StructField("tx_out_id", LongType)))

  private def df(schema: StructType, rows: Seq[Any]*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq)), schema)

  private def transfer(fp: String, address: String, txId: Long): Seq[Any] =
    Seq("aa" * 28, fp, "4e4654", "cc" * 32, new java.math.BigDecimal(1),
      address, false, Timestamp.valueOf("2021-03-02 10:00:00"),
      null, null, null, 1L, txId, txId * 10)

  private def state(assets: Seq[Any]*): Transform.State = Transform.State(
    wallet = df(Schemas.wallet,
      Seq(7L, "addr_w7", "ENTERPRISE", null),
      Seq(8L, "addr_w8", "ENTERPRISE", null)),
    collection = df(Schemas.collection, Seq(1, "aa" * 28, null)),
    asset = df(Schemas.asset, assets: _*),
    assetExt = df(Schemas.assetExt, Seq(1L, 1L, null, null)),
    nextWalletId = 9L, nextCollectionId = 2L, nextAssetId = 2L,
    nextAssetTxId = 1L, nextAssetMintTxId = 1L)

  private def currentWallets(d: Transform.Delta): Map[Long, Any] =
    d.assetUpdated.collect()
      .map(r => r.getLong(0) -> r.get(5)).toMap

  test("A4: a transfer whose address is NULL overwrites current_wallet_id with NULL") {
    val st = state(Seq(1L, 1, "h1", "n1", "fpA", 7L))
    val d = Transform(df(recordsSchema, transfer("fpA", null, 100L)), st)
    assert(currentWallets(d) == Map(1L -> null),
      "last transfer resolved to no wallet: the UPDATE must still apply")
  }

  test("A4: last transfer in record order wins; untouched assets keep their owner") {
    val st = state(
      Seq(1L, 1, "h1", "n1", "fpA", 7L),
      Seq(2L, 1, "h2", "n2", "fpB", 7L))
    val d = Transform(df(recordsSchema,
      transfer("fpA", "addr_w8", 100L),
      transfer("fpA", null, 101L)), st) // later tx_id: null owner wins
    assert(currentWallets(d) == Map(1L -> null, 2L -> 7L))
  }

  test("A4: a resolvable last transfer updates the owner") {
    val st = state(Seq(1L, 1, "h1", "n1", "fpA", 7L))
    val d = Transform(df(recordsSchema,
      transfer("fpA", null, 100L),
      transfer("fpA", "addr_w8", 101L)), st)
    assert(currentWallets(d) == Map(1L -> 8L))
  }

  // ---- one period, sequenced on one partition or several -----------------

  private val policyB = "bb" * 28

  private def rec(fp: String, policy: String, address: String, isMint: Boolean,
      qty: Long, txId: Long, maId: Long, txOutId: java.lang.Long): Seq[Any] =
    Seq(policy, fp, "4e4654", f"$txId%064x", new java.math.BigDecimal(qty),
      address, isMint, new Timestamp(Timestamp.valueOf("2021-03-02 10:00:00").getTime + txId * 1000L),
      null, null, null, maId, txId, txOutId)

  /** A period of 64 records: new and known wallets, a new collection, new
    * assets, transfers of a known asset, and a tx that burns a NEW asset
    * and outputs it again. The burn row (tx_out_id null) ties the output
    * row on (tx_time, tx_id, ma_id), so it is the asset's first record only
    * if nulls order first, as in the record order.
    */
  private lazy val period: Seq[Seq[Any]] =
    Seq(
      rec("fpZ", policyB, null, true, -1L, 100L, 9L, null),
      rec("fpZ", policyB, "addr_z", true, 1L, 100L, 9L, 1000L),
      rec("fpN", policyB, "addr_w7", true, 5L, 101L, 8L, 1010L)) ++
    (102L until 163L).map { tx =>
      val fp = if (tx % 3 == 0) "fpN" else "fpA"
      val policy = if (fp == "fpA") "aa" * 28 else policyB
      val addr = if (tx % 5 == 0) null else s"addr_n${tx % 11}"
      rec(fp, policy, addr, false, 1L, tx, if (fp == "fpA") 1L else 8L, tx * 10)
    }

  private def deltaRows(d: Transform.Delta): Seq[Seq[String]] =
    Seq(d.walletInserts, d.collectionInserts, d.assetInserts, d.assetTxInserts,
      d.assetMintTxInserts, d.assetExtInserts, d.assetUpdated, d.assetExtUpdated)
      .map(_.collect().map(_.toSeq.mkString("|")).toSeq.sorted)

  test("one period's Delta is row-identical with AQE partition coalescing on and off") {
    val st = state(Seq(1L, 1, "h1", "n1", "fpA", 7L))
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    def run(coalesce: Boolean) = {
      spark.conf.set(conf, coalesce.toString)
      try deltaRows(Transform(df(recordsSchema, period: _*), st))
      finally spark.conf.unset(conf)
    }
    val (on, off) = (run(coalesce = true), run(coalesce = false))
    assert(on == off)

    val d = Transform(df(recordsSchema, period: _*), st)
    // the burn row came first: fpZ's first wallet is none, and no transfer
    // of fpZ follows, so its owner stays unset
    val z = d.assetInserts.where("fingerprint = 'fpZ'").collect()
    assert(z.length == 1 && z.head.isNullAt(5), z.toSeq)
    // mint facts in record order: the burn (-1) before its tx's output
    val mints = d.assetMintTxInserts.orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getDecimal(3).longValue).toSeq
    assert(mints == Seq(1L -> -1L, 2L -> 1L, 3L -> 5L))
    // ids continue from the state: fpZ then fpN; collection 2; transfer ids 1..61
    assert(d.assetInserts.select("id", "fingerprint").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap == Map("fpZ" -> 2L, "fpN" -> 3L))
    assert(d.collectionInserts.collect().map(r => r.getInt(0) -> r.getString(1)).toSeq ==
      Seq(2 -> policyB))
    assert(d.assetTxInserts.agg(min("id"), max("id"), count(lit(1))).collect().head.toSeq ==
      Seq(1L, 61L, 61L))
    // new wallets are numbered from 9 in first-appearance order; addr_w7 is known
    val wallets = d.walletInserts.orderBy("id").collect().map(_.getString(1)).toSeq
    assert(wallets.head == "addr_z" && wallets.size == 12 && !wallets.contains("addr_w7"))
  }
}

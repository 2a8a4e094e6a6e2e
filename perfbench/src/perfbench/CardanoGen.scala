package perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cardano.Schemas
import graft.functions.Bech32

/** What the generator made: the shape summary plus the per-tx and per-key
  * arrays the benchmark uses to pick read keys and expected record counts.
  */
final case class Source(shape: SourceShape, recordsPerTx: Array[Int],
    txAddr: Array[Int], walletKey: Array[String], fingerprint: Array[String],
    assetPolicy: Array[String], assetMintTx: Array[Int]) {
  private lazy val prefix: Array[Long] = recordsPerTx.scanLeft(0L)(_ + _)
  /** Txs with chain time <= t. */
  def txsUpTo(t: Timestamp): Int = {
    val blocks = Math.floorDiv(t.getTime - CardanoGen.Start.getTime,
      CardanoGen.BlockSeconds * 1000L) + 1
    math.max(0L, math.min(recordsPerTx.length.toLong, blocks * CardanoGen.TxPerBlock)).toInt
  }
  /** The end of the first block at which `(from, end]` holds at least
    * `n` records, or None when the source has fewer left.
    */
  def blockEndAfter(from: Timestamp, n: Long): Option[Timestamp] = {
    val base = prefix(txsUpTo(from))
    val i = java.util.Arrays.binarySearch(prefix, base + n) match {
      case k if k >= 0 => k
      case k => -k - 1
    }
    if (i >= prefix.length) None else Some(CardanoGen.txTime(math.max(i - 1, 0)))
  }

  /** Records the source holds in the window `(from, to]`. */
  def records(from: Timestamp, to: Timestamp): Long =
    prefix(txsUpTo(to)) - prefix(txsUpTo(from))
}

final case class SourceShape(
    txs: Int, records: Long, wallets: Int, stakeKeys: Int, assets: Int,
    policies: Int, mintTxs: Int, metadataTxs: Int, burns: Int,
    mintRecords: Long, hotRecords: Long, blocks: Int) {
  def json: String =
    s"""{"txs": $txs, "records": $records, "distinct_wallets": $wallets, """ +
    s""""distinct_stake_keys": $stakeKeys, "assets": $assets, "policies": $policies, """ +
    s""""mint_share": ${fmt(mintRecords.toDouble / records)}, """ +
    s""""metadata_share": ${fmt(metadataTxs.toDouble / math.max(1, mintTxs))}, """ +
    s""""burns": $burns, "hot_asset_share": ${fmt(hotRecords.toDouble / records)}}"""
  private def fmt(d: Double) = f"$d%.4f"
}

/** Seeded synthetic cardano-db-sync source (the eight tables `MainQuery`
  * reads), generated on the driver and written as parquet.
  *
  * Shape, chosen so every branch of the sync runs at a realistic share:
  *  - key bytes come from SHA-256 of (seed, role, index), so every payment
  *    and stake key is distinct; base addresses share stake keys (one stake
  *    key owns several payment addresses), enterprise addresses have none;
  *  - every mint tx has an output carrying each asset it mints, so mints
  *    reach `asset_mint_tx` through the `is_mint_tx` path, and a share of
  *    mint txs carries CIP-25 (key 721) metadata for those assets;
  *  - a share of assets is burned in a later tx (negative `ma_tx_mint`);
  *  - a share of transfer outputs carries one of a few hot assets, the
  *    skewed keys that make shuffles uneven.
  * Transfers only move assets that are already minted, so the record
  * stream is causally ordered in chain time.
  */
object CardanoGen {

  /** One minute after `SyncDriver.genesis`, so an empty store's first
    * period already holds records.
    */
  val Start: Timestamp = Timestamp.valueOf("2021-03-01 21:48:00")
  val BlockSeconds = 20
  val TxPerBlock = 10
  val HotAssets = 16

  private def sha(seed: Long, role: String, i: Long): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"$seed/$role/$i".getBytes("UTF-8"))
    md.digest()
  }

  def blockTime(block: Long): Timestamp =
    new Timestamp(Start.getTime + block * BlockSeconds * 1000L)

  /** Chain time of the block holding tx `i`. */
  def txTime(i: Long): Timestamp = blockTime(i / TxPerBlock)

  def generate(spark: SparkSession, dir: String, seed: Long, nTx: Int): Source = {
    val rnd = new SplittableRandom(seed)
    val nAddr = math.max(64, nTx / 3)
    val nStake = math.max(16, nAddr / 3)
    val nPolicies = math.max(8, nTx / 200)
    val stakeBytes = Array.tabulate(nStake)(s => sha(seed, "stake", s).take(28))
    val isBase = Array.tabulate(nAddr)(_ => rnd.nextInt(10) < 7)
    val stakeOf = Array.tabulate(nAddr)(a => if (isBase(a)) rnd.nextInt(nStake) else -1)
    val address = Array.tabulate(nAddr) { a =>
      val pay = sha(seed, "pay", a).take(28)
      if (isBase(a)) Bech32.encode("addr", Array(0x01.toByte) ++ pay ++ stakeBytes(stakeOf(a)))
      else Bech32.encode("addr", Array(0x61.toByte) ++ pay)
    }
    val policyHex = Array.tabulate(nPolicies)(p =>
      sha(seed, "policy", p).take(28).map(b => f"${b & 0xff}%02x").mkString)

    val block = ArrayBuffer.empty[Row]
    val tx = ArrayBuffer.empty[Row]
    val txOut = ArrayBuffer.empty[Row]
    val maTxOut = ArrayBuffer.empty[Row]
    val maTxMint = ArrayBuffer.empty[Row]
    val multiAsset = ArrayBuffer.empty[Row]
    val txMeta = ArrayBuffer.empty[Row]

    val nBlocks = (nTx + TxPerBlock - 1) / TxPerBlock
    for (b <- 0 until nBlocks) block += Row(b.toLong, blockTime(b))

    var assets = 0
    val recordsPerTx = new Array[Int](nTx)
    val txAddr = new Array[Int](nTx)
    val fingerprint = ArrayBuffer.empty[String]
    val assetPolicy = ArrayBuffer.empty[String]
    val assetMintTx = ArrayBuffer.empty[Int]
    var outId = 0L
    var mintTxs = 0
    var metaTxs = 0
    var records = 0L
    var mintRecords = 0L
    var hotRecords = 0L
    var burns = 0
    val pendingBurns = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Int]]
    val usedAddr = new java.util.BitSet(nAddr)
    val usedStake = new java.util.BitSet(nStake)
    def pickAddr(): Int = {
      val a = rnd.nextInt(nAddr)
      usedAddr.set(a); if (stakeOf(a) >= 0) usedStake.set(stakeOf(a))
      a
    }
    def newOutput(txId: Int): Long = {
      val a = pickAddr()
      txAddr(txId) = a
      val id = outId; outId += 1
      txOut += Row(id, txId.toLong, address(a),
        if (stakeOf(a) >= 0) java.lang.Long.valueOf(stakeOf(a).toLong) else null)
      id
    }
    def qty(q: Long) = new java.math.BigDecimal(q)

    for (t <- 0 until nTx) {
      tx += Row(t.toLong, sha(seed, "tx", t), (t / TxPerBlock).toLong)
      val recordsBefore = records
      // the first txs mint the hot assets; afterwards every fourth tx mints.
      // Counts are fixed and only identities are drawn, so every seed gives
      // stores of the same size.
      if (assets < HotAssets || t % 4 == 0) {
        mintTxs += 1
        val policy = rnd.nextInt(nPolicies)
        val k = 1 + mintTxs % 3
        val minted = (0 until k).map { _ =>
          val id = assets; assets += 1
          val name = f"Pb$policy%04d_$id%07d"
          val fp = f"asset1pb$seed%x_$id%09d"
          multiAsset += Row(id.toLong, hexBytes(policyHex(policy)), name.getBytes("UTF-8"), fp)
          fingerprint += fp; assetPolicy += policyHex(policy); assetMintTx += t
          (id, name)
        }
        val out = newOutput(t)
        minted.foreach { case (id, _) =>
          val q = if (rnd.nextInt(3) == 0) 1000L else 1L
          maTxMint += Row(id.toLong, qty(q), t.toLong)
          maTxOut += Row(id.toLong, qty(q), out)
          records += 1; mintRecords += 1
          if (id < HotAssets) hotRecords += 1
          if (id >= HotAssets && rnd.nextInt(50) == 0) {
            val at = t + 1 + rnd.nextInt(math.max(1, nTx / 4))
            if (at < nTx) pendingBurns.getOrElseUpdate(at, ArrayBuffer.empty) += id
          }
        }
        if (mintTxs % 5 < 3) {
          metaTxs += 1
          val body = minted.map { case (_, name) =>
            s""""$name": {"name": "$name", "image": "ipfs://Qm${name.hashCode & 0x7fffffff}", """ +
              s""""files": [{"src": "ipfs://f/$name", "mediaType": "image/png"}]}"""
          }.mkString(", ")
          txMeta += Row(t.toLong, new java.math.BigDecimal(721),
            s"""{"${policyHex(policy)}": {$body}}""", t.toLong)
        }
      } else {
        // transfer: 1-2 outputs, each carrying 1-2 already-minted assets
        for (_ <- 0 until 1 + rnd.nextInt(2)) {
          val out = newOutput(t)
          val carried = (0 until 1 + rnd.nextInt(2)).map { _ =>
            if (rnd.nextInt(10) < 3) rnd.nextInt(HotAssets) else rnd.nextInt(assets)
          }.distinct
          carried.foreach { id =>
            maTxOut += Row(id.toLong, qty(1L), out)
            records += 1
            if (id < HotAssets) hotRecords += 1
          }
        }
      }
      pendingBurns.remove(t).foreach(_.foreach { id =>
        maTxMint += Row(id.toLong, qty(-1L), t.toLong)
        records += 1; burns += 1
      })
      recordsPerTx(t) = (records - recordsBefore).toInt
    }

    val stakeRows = (0 until nStake).map(s =>
      Row(s.toLong, Bech32.encode("stake", Array(0xe1.toByte) ++ stakeBytes(s))))

    def write(name: String, rows: collection.Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val tables = Seq(
      ("block", block, Schemas.block), ("tx", tx, Schemas.tx),
      ("tx_out", txOut, Schemas.txOut), ("ma_tx_out", maTxOut, Schemas.maTxOut),
      ("ma_tx_mint", maTxMint, Schemas.maTxMint), ("multi_asset", multiAsset, Schemas.multiAsset),
      ("stake_address", stakeRows, Schemas.stakeAddress), ("tx_metadata", txMeta, Schemas.txMetadata))
    // independent writes: run them as concurrent Spark jobs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(tables.map { case (n, rows, schema) =>
      Future(write(n, rows, schema)) }), Duration.Inf)

    val enterprise = (0 until nAddr).count(a => usedAddr.get(a) && stakeOf(a) < 0)
    val shape = SourceShape(nTx, records, usedStake.cardinality() + enterprise,
      usedStake.cardinality(), assets, nPolicies, mintTxs, metaTxs, burns,
      mintRecords, hotRecords, nBlocks)
    // the target's wallet key: the stake address for base addresses
    val walletKey = Array.tabulate(nAddr)(a =>
      if (stakeOf(a) >= 0) stakeRows(stakeOf(a)).getString(1) else address(a))
    Source(shape, recordsPerTx, txAddr, walletKey, fingerprint.toArray,
      assetPolicy.toArray, assetMintTx.toArray)
  }

  private def hexBytes(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}

package graft.cardano

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bech32

/** Scale stress for the sync engine: generates a ~1M-output synthetic
  * cardano source with Spark (no driver-side loops), runs a multi-period
  * catch-up, prints per-period timing, and asserts global invariants
  * (dense ids, referential integrity, LWW consistency).
  *
  * Run: sbt "Test/runMain graft.cardano.ScaleSync [nTx] [nAssets] [nWallets] [nPeriods]"
  */
object ScaleSync {

  def genAddress(i: Long): String = {
    // deterministic pool: 70% base (stake derivable), 30% enterprise
    val payment = Array.tabulate[Byte](28)(j => ((i * 31 + j) & 0xff).toByte)
    if (i % 10 < 7) {
      val stake = Array.tabulate[Byte](28)(j => ((i * 17 + j * 7) & 0xff).toByte)
      Bech32.encode("addr", Array(0x01.toByte) ++ payment ++ stake)
    } else {
      Bech32.encode("addr", Array(0x61.toByte) ++ payment)
    }
  }

  def generate(spark: SparkSession, dir: String, nTx: Int, nAssets: Int,
      nWallets: Int): Unit = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2021-03-01 22:00:00").getTime

    val nBlocks = nTx / 20
    spark.range(0, nBlocks)
      .select(col("id"),
        // one block per ~40 seconds -> nBlocks*40s of chain time
        expr(s"timestamp_millis($t0 + id * 40000)").as("time"))
      .write.mode("overwrite").parquet(s"$dir/block.parquet")

    spark.range(0, nTx)
      .select(col("id"),
        unhex(lpad(hex(xxhash64(col("id"))), 64, "0")).as("hash"),
        (col("id") / 20).cast("long").as("block_id"))
      .write.mode("overwrite").parquet(s"$dir/tx.parquet")

    // assets: zipf-ish popularity via hash-skew; 28-byte policy from a pool
    // of 64 policies; names printable ascii
    spark.range(0, nAssets)
      .select(col("id"),
        unhex(lpad(hex(pmod(xxhash64(col("id")), lit(64))), 56, "a")).as("policy"),
        encode(concat(lit("asset-"), col("id")), "utf-8").as("name"),
        concat(lit("asset1scale"), col("id")).as("fingerprint"))
      .write.mode("overwrite").parquet(s"$dir/multi_asset.parquet")

    val addrUdf = udf(genAddress _)
    val wallets = spark.range(0, nWallets)
      .select(col("id"), addrUdf(col("id")).as("address"))
      .localCheckpoint()

    // 1 output per tx, each carrying 1-3 assets
    val txOut = spark.range(0, nTx)
      .select(col("id"),
        col("id").as("tx_id"),
        pmod(xxhash64(col("id"), lit(1)), lit(nWallets)).as("w"))
      .join(wallets.withColumnRenamed("id", "w"), Seq("w"))
      // stake_address_id: null for enterprise (w%10>=7), else w
      .select(col("id"), col("tx_id"), col("address"),
        when(col("w") % 10 < 7, col("w")).as("stake_address_id"))
    txOut.write.mode("overwrite").parquet(s"$dir/tx_out.parquet")

    val stakeUdf = udf((i: Long) => {
      val stake = Array.tabulate[Byte](28)(j => ((i * 17 + j * 7) & 0xff).toByte)
      Bech32.encode("stake", Array(0xe1.toByte) ++ stake)
    })
    wallets.where(col("id") % 10 < 7)
      .select(col("id"), stakeUdf(col("id")).as("view"))
      .write.mode("overwrite").parquet(s"$dir/stake_address.parquet")

    // ma_tx_out: explode 1-3 assets per output; zipf-skewed asset choice
    // (popular assets get disproportionate traffic — the AQE skew case)
    spark.range(0, nTx)
      .select(col("id").as("tx_out_id"),
        explode(sequence(lit(0), pmod(xxhash64(col("id"), lit(2)), lit(3)))).as("k"))
      .select(
        pmod(
          when(pmod(xxhash64(col("tx_out_id"), col("k")), lit(10)) < 3,
            pmod(xxhash64(col("tx_out_id"), col("k"), lit(3)), lit(20)))         // 30% -> hot 20
            .otherwise(pmod(xxhash64(col("tx_out_id"), col("k"), lit(4)), lit(nAssets))),
          lit(nAssets)).as("ident"),
        lit(new java.math.BigDecimal(1)).as("quantity"),
        col("tx_out_id"))
      .dropDuplicates("ident", "tx_out_id")
      .write.mode("overwrite").parquet(s"$dir/ma_tx_out.parquet")

    // mints: every asset minted once by a deterministic tx; ~2% burns
    val mints = spark.range(0, nAssets)
      .select(col("id").as("ident"),
        lit(new java.math.BigDecimal(1000)).as("quantity"),
        pmod(xxhash64(col("id"), lit(5)), lit(nTx)).as("tx_id"))
    val burns = spark.range(0, nAssets / 50)
      .select((col("id") * 50).as("ident"),
        lit(new java.math.BigDecimal(-1)).as("quantity"),
        pmod(xxhash64(col("id"), lit(6)), lit(nTx)).as("tx_id"))
    mints.unionByName(burns)
      .dropDuplicates("ident", "tx_id")
      .write.mode("overwrite").parquet(s"$dir/ma_tx_mint.parquet")

    // CIP-25 metadata for ~25% of mint txs
    mints.where(col("ident") % 4 === 0)
      .join(spark.read.parquet(s"$dir/multi_asset.parquet")
        .select(col("id").as("ident"), lower(hex(col("policy"))).as("p"),
          col("name")),
        Seq("ident"))
      .select(
        col("ident").as("id"),
        lit(new java.math.BigDecimal(721)).as("key"),
        concat(lit("{\""), col("p"), lit("\": {\""),
          decode(col("name"), "utf-8"),
          lit("\": {\"image\": \"ipfs://img\", \"name\": \"x\"}}}")).as("json"),
        col("tx_id"))
      .write.mode("overwrite").parquet(s"$dir/tx_metadata.parquet")
  }

  def main(args: Array[String]): Unit = {
    val nTx = if (args.length > 0) args(0).toInt else 400000
    val nAssets = if (args.length > 1) args(1).toInt else 100000
    val nWallets = if (args.length > 2) args(2).toInt else 50000

    val spark = graft.Graft.session("scale-sync")

    val srcDir = Files.createTempDirectory("scale-src").toString
    val outDir = Files.createTempDirectory("scale-out").toString
    var t = System.nanoTime()
    generate(spark, srcDir, nTx, nAssets, nWallets)
    println(f"SCALE generate ${(System.nanoTime() - t) / 1e9}%.1f s " +
      s"(tx=$nTx assets=$nAssets wallets=$nWallets, " +
      s"ma_tx_out=${spark.read.parquet(s"$srcDir/ma_tx_out.parquet").count()})")

    // chain time = nBlocks * 40s; size the interval for ~nPeriods periods
    // (4th arg — more periods = smaller per-period deltas)
    val nPeriods = if (args.length > 3) args(3).toInt else 10
    val intervalMin = math.max((nTx / 20).toLong * 40 / 60 / nPeriods, 5)
    val store = new TableStore(spark, outDir)
    val driver = new SyncDriver(spark, srcDir, store, intervalMin)
    t = System.nanoTime()
    val n = driver.catchUp()
    val syncSec = (System.nanoTime() - t) / 1e9
    println(f"SCALE sync $n periods in $syncSec%.1f s (${syncSec / n.max(1)}%.1f s/period)")

    // ---- invariants --------------------------------------------------------
    def check(name: String, cond: Boolean): Unit = {
      println(s"SCALE invariant $name: ${if (cond) "OK" else "VIOLATED"}")
      assert(cond, name)
    }
    val asset = store.read("asset"); val wallet = store.read("wallet")
    val atx = store.read("asset_tx"); val amtx = store.read("asset_mint_tx")
    val ext = store.read("asset_ext"); val coll = store.read("collection")

    def dense(df: DataFrame): Boolean = {
      val r = df.agg(count(lit(1)), max(col("id")).cast("long"),
        countDistinct(col("id"))).collect()(0)
      r.getLong(0) == r.getLong(1) && r.getLong(0) == r.getLong(2)
    }
    check("dense wallet ids", dense(wallet))
    check("dense collection ids", dense(coll))
    check("dense asset ids", dense(asset))
    check("dense asset_tx ids", dense(atx))
    check("dense asset_mint_tx ids", dense(amtx))
    check("asset_ext id==asset_id",
      ext.where(col("id") =!= col("asset_id")).isEmpty)
    check("facts reference existing assets",
      atx.join(asset, atx("asset_id") === asset("id"), "left_anti").isEmpty &&
        amtx.join(asset, amtx("asset_id") === asset("id"), "left_anti").isEmpty)
    check("wallet ids referenced exist",
      atx.where(col("wallet_id").isNotNull)
        .join(wallet, atx("wallet_id") === wallet("id"), "left_anti").isEmpty)
    check("current_wallet matches last transfer",
      asset.join(
        atx.groupBy("asset_id").agg(max_by(col("wallet_id"), col("id")).as("lw")),
        asset("id") === col("asset_id"))
        .where(!(col("current_wallet_id") <=> col("lw"))).isEmpty)
    println("SCALE rows: " + Seq("wallet" -> wallet, "collection" -> coll,
      "asset" -> asset, "asset_tx" -> atx, "asset_mint_tx" -> amtx,
      "asset_ext" -> ext).map { case (n2, d) => s"$n2=${d.count()}" }.mkString(" "))
    spark.stop()
  }
}

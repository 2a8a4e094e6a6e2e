package graft.cardano

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CardanoFunctions._
import graft.functions.CipJson

/** The reference's main extraction query
  * (`/root/reference/app/db/postgres.py:327-402`), as a declarative
  * DataFrame pipeline (SURVEY.md §2 SRC2, J1-J5, U1, P1-P6, S1-S3, O1).
  *
  * Shape notes for scale:
  *  - the `(from, to]` predicate lands directly on `block.time` before any
  *    join, so Catalyst pushes it into the block scan and only the matching
  *    blocks' tx ids flow into the big joins;
  *  - `multi_asset` / `stake_address` / `tx_metadata` joins are plain equi
  *    joins — AQE broadcasts the per-period slices when they are small;
  *  - the reference's LEFT JOIN LATERAL mint-probe is decorrelated into a
  *    left equi-join on (ma_id, tx_id) (J4): same semantics, hash-joinable;
  *  - ids/hash/time are carried through the branches instead of re-joined
  *    (J5 collapses into the branch projections — semantically identical,
  *    one big join fewer).
  */
object MainQuery {

  /** Load one source table with the declared schema enforced on read.
    * `dir` is either a fixture/export directory (`$dir/<name>.parquet`)
    * or a JDBC URL — the reference's live ingress
    * (`/root/reference/app/db/postgres.py:23-50`) — in which case the
    * table is a partitioned JDBC relation (see [[JdbcSource]]).
    */
  def sourceTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (JdbcSource.isJdbc(dir))
      JdbcSource.table(spark, dir, name, Schemas.sourceTables(name))
    else
      spark.read.schema(Schemas.sourceTables(name)).parquet(s"$dir/$name.parquet")

  /** All asset activity in `(from, to]`, one row per (asset, tx[, output]) —
    * the reference's record stream, UNORDERED. The reference's ORDER BY
    * block time (O1) is a contract on the columns, not on the rows:
    * `(tx_time, tx_id, ma_id, tx_out_id)` with nulls first is the pinned
    * total order, and `Transform`'s one sequencing pass imposes it, so a
    * sort here would only add a sampling job and a range shuffle.
    *
    * Output columns (reference names + pinned-determinism extras):
    * policy_id, asset_fingerprint, asset_name, asset_name_hash, tx_hash,
    * quantity, address, stake_address, is_mint_tx, tx_time, image, files,
    * metadata, ma_id, tx_id, tx_out_id (null on the burn branch).
    */
  def extract(spark: SparkSession, dir: String, from: Timestamp, to: Timestamp): DataFrame = {
    val block       = sourceTable(spark, dir, "block")
      .where(col("time") > lit(from) && col("time") <= lit(to))   // P4, pushed to scan
    val tx          = sourceTable(spark, dir, "tx")
    val txOut       = sourceTable(spark, dir, "tx_out")
    val maTxOut     = sourceTable(spark, dir, "ma_tx_out")
    val maTxMint    = sourceTable(spark, dir, "ma_tx_mint")
    val multiAsset  = sourceTable(spark, dir, "multi_asset")
    val stakeAddr   = sourceTable(spark, dir, "stake_address")
    val txMetadata  = sourceTable(spark, dir, "tx_metadata")

    // txs in window, with hash/time attached once (collapses J5)
    val txInWindow = tx
      .join(block, tx("block_id") === block("id"))
      .select(tx("id").as("w_tx_id"), lhex(tx("hash")).as("tx_hash"),
        block("time").as("tx_time"))

    val maCols = multiAsset.select(
      col("id").as("ma_join_id"),
      lhex(col("policy")).as("policy_id"),
      escape_encode(col("name")).as("asset_name"),
      lhex(col("name")).as("asset_name_hash"),
      col("fingerprint").as("asset_fingerprint"))

    // Branch A — burns (J1, P3): ma_tx_mint w/ negative quantity.
    val burnBranch = maTxMint
      .where(col("quantity") < 0)
      .join(txInWindow, maTxMint("tx_id") === col("w_tx_id"))
      .join(maCols, maTxMint("ident") === col("ma_join_id"))
      .select(
        col("ident").as("ma_id"),
        col("policy_id"), col("asset_name"), col("asset_name_hash"),
        col("asset_fingerprint"),
        col("quantity"),
        maTxMint("tx_id").as("tx_id"),
        lit(null).cast("string").as("address"),        // P2
        lit(null).cast("string").as("stake_address"),  // P2
        lit(null).cast("long").as("tx_out_id"),
        col("tx_hash"), col("tx_time"))

    // Branch B — outputs (J2 + J3): every asset-carrying tx output.
    val outputBranch = maTxOut
      .join(txOut, maTxOut("tx_out_id") === txOut("id"))
      .join(txInWindow, txOut("tx_id") === col("w_tx_id"))
      .join(maCols, maTxOut("ident") === col("ma_join_id"))
      .join(stakeAddr.select(col("id").as("sa_id"), col("view")),
        txOut("stake_address_id") === col("sa_id"), "left")
      .select(
        maTxOut("ident").as("ma_id"),
        col("policy_id"), col("asset_name"), col("asset_name_hash"),
        col("asset_fingerprint"),
        maTxOut("quantity").as("quantity"),
        txOut("tx_id").as("tx_id"),
        txOut("address").as("address"),
        col("view").as("stake_address"),
        maTxOut("tx_out_id").as("tx_out_id"),
        col("tx_hash"), col("tx_time"))

    val allMaTx = burnBranch.unionByName(outputBranch)   // U1

    // J4 decorrelated: (ma_id, tx_id) minted in that tx => is_mint_tx=true.
    val mintKeys = maTxMint
      .select(col("ident").as("mk_ma_id"), col("tx_id").as("mk_tx_id"))
      .distinct()
      .withColumn("is_mint_tx", lit(true))

    // CIP-25 metadata per tx (P5): key = 721 only.
    val meta721 = txMetadata
      .where(col("key") === lit(721))
      .select(col("tx_id").as("meta_tx_id"), col("json"))

    val withMint = allMaTx
      .join(mintKeys,
        col("ma_id") === col("mk_ma_id") && col("tx_id") === col("mk_tx_id"),
        "left")
      .join(meta721, col("tx_id") === col("meta_tx_id"), "left")
      .withColumn("cip",
        when(col("is_mint_tx") && col("json").isNotNull,
          CipJson.cip25(col("json"), col("policy_id"), col("asset_name"))))

    withMint.select(
      col("policy_id"), col("asset_fingerprint"), col("asset_name"),
      col("asset_name_hash"), col("tx_hash"), col("quantity"),
      col("address"), col("stake_address"), col("is_mint_tx"),
      col("tx_time"),
      col("cip._1").as("image"),
      col("cip._3").as("files"),
      col("cip._2").as("metadata"),
      col("ma_id"), col("tx_id"), col("tx_out_id"))
  }
}

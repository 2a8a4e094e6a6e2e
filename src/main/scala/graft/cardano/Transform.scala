package graft.cardano

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CardanoFunctions._

/** Set-based re-expression of the reference's row-at-a-time transform loop
  * (`/root/reference/app/main.py:109-330`; SURVEY.md §2.4 A1-A5, T1-T3).
  *
  * The loop's dict-probe-then-insert becomes: each key's first appearance
  * in the period (min over the record order), probed against the existing
  * dimension, and dense ids continuing from the table's max id. ONE
  * ordered pass (`SurrogateIds.withSequence` with five counters) numbers
  * the records and every id family at once — new wallets, collections and
  * assets by first appearance, mint and transfer facts by record order —
  * and the ids are resolved onto the record stream once, so every output
  * is a projection of that pinned stream or one aggregate over it. The
  * loop's "queue an UPDATE per record, apply in order" becomes
  * last-by-sequence aggregates (max_by) — deterministic where the
  * reference's UPDATE..FROM VALUES with duplicate keys is not (SURVEY §2
  * SNK2 note).
  */
object Transform {

  /** Current state of the target tables, as read by a sync cycle. */
  case class State(
      wallet: DataFrame,
      collection: DataFrame,
      asset: DataFrame,
      assetExt: DataFrame,
      nextWalletId: Long,
      nextCollectionId: Long,
      nextAssetId: Long,
      nextAssetTxId: Long,
      nextAssetMintTxId: Long)

  /** One period's delta: rows to append, and the two mutable tables as
    * their full recomputed contents, which the sink stages whole. All
    * fields are lazy plans; only what the sink uses is ever computed.
    */
  case class Delta(
      walletInserts: DataFrame,
      collectionInserts: DataFrame,
      assetInserts: DataFrame,
      assetTxInserts: DataFrame,
      assetMintTxInserts: DataFrame,
      assetExtInserts: DataFrame,
      assetUpdated: DataFrame,     // full asset table after current_wallet_id LWW
      assetExtUpdated: DataFrame)  // full asset_ext table after latest-ptr LWW

  /** Record-stream total order: block time, then pinned tiebreakers, then
    * a row tag that only separates exact duplicates. Every column sorts
    * ascending with nulls first, as a struct of them does — so `min` of
    * the struct is the first appearance in this order.
    */
  private val orderCols = Seq("tx_time", "tx_id", "ma_id", "tx_out_id", "rec_tag")
  private val recordOrder = orderCols.map(col(_).asc_nulls_first)
  private val ord = struct(orderCols.map(col): _*)

  /** The three dimensions share one key space: `tag:key`. */
  private val families = Seq(
    // (tag, record key column, resolved id column)
    ("w", "wallet_key", "wallet_id"),
    ("c", "policy_id", "collection_id"),
    ("a", "asset_fingerprint", "asset_id"))
  private def tagged(tag: String, key: Column): Column = concat(lit(s"$tag:"), key)

  /** Left-join `m` (columns `key` + `cols`) onto `df` once per family, by
    * that family's tagged key, renaming `cols` with the family's prefix.
    * All three joins broadcast the same plan, so its exchange is built once.
    */
  private def lookup(df: DataFrame, m: DataFrame, cols: String*): DataFrame =
    families.foldLeft(df) { case (acc, (tag, key, _)) =>
      acc.join(broadcast(m), col("key") === tagged(tag, col(key)), "left")
        .select(acc.columns.toSeq.map(col) ++ cols.map(c => col(c).as(s"${tag}_$c")): _*)
    }

  /** A mutable table's staged contents: hash-partitioned on id, so AQE
    * sizes the files (one for a small table), and sorted by id within each.
    * The broadcast joins that build them stream the pre-period table in
    * its own file layout; written as is, every rewrite would add a file.
    */
  private def byId(df: DataFrame): DataFrame =
    df.repartition(col("id")).sortWithinPartitions(col("id"))

  def apply(records: DataFrame, st: State): Delta = {
    // ---- the period's records, enriched and pinned once (A1 keys, T1) -----
    val r = records
      .withColumn("stake_derived", stake_address(col("address")))
      .select(
        col("policy_id"), col("asset_fingerprint"), col("asset_name_hash"),
        col("tx_hash"), col("quantity"), col("tx_time"), col("image"),
        col("files"), col("metadata"), col("ma_id"), col("tx_id"), col("tx_out_id"),
        coalesce(col("stake_derived"), col("address")).as("wallet_key"),
        when(col("address").isNull, lit(null).cast("string"))
          .when(col("stake_derived").isNotNull, lit("STAKE"))
          .otherwise(lit("ENTERPRISE")).as("addr_type"),
        coalesce(col("is_mint_tx"), lit(false)).as("is_mint"), // T1 NULL trap
        monotonically_increasing_id().as("rec_tag"))
      .localCheckpoint() // every branch below reads it; pin it (and rec_tag)

    // ---- first appearance of each key + its pre-period id (A1-A3) ----------
    // one aggregate over all three families' tagged keys; the dims are
    // probed with the delta-sized key set broadcast, so they never shuffle
    val firsts = r
      .select(ord.as("ord"),
        explode(array(families.map { case (t, k, _) => tagged(t, col(k)) }: _*)).as("key"))
      .where(col("key").isNotNull) // a record with no wallet key has no wallet
      .groupBy(col("key"))
      .agg(min(col("ord")).as("first"))
    val known = Seq(
        st.wallet.select(tagged("w", col("address")).as("key"), col("id").cast("long").as("old")),
        st.collection.select(tagged("c", col("policy_id")).as("key"), col("id").cast("long").as("old")),
        st.asset.select(tagged("a", col("fingerprint")).as("key"), col("id").cast("long").as("old")))
      .reduce(_.unionByName(_))
      .join(broadcast(firsts.select(col("key"))), Seq("key"))
    val seen = firsts.join(broadcast(known), Seq("key"), "left")

    // a new key's first record is the one that inserts it
    val flagged = families.foldLeft(lookup(r, seen, "first", "old")) {
      case (df, (tag, _, _)) =>
        df.withColumn(s"${tag}_new", col(s"${tag}_old").isNull && (ord <=> col(s"${tag}_first")))
          .drop(s"${tag}_first")
    }

    // ---- ONE ordered pass: record sequence + all five id families (T3) ----
    val seq = SurrogateIds.withSequence(flagged, "rec_seq", recordOrder, Seq(
      "w_rank" -> col("w_new"), "c_rank" -> col("c_new"), "a_rank" -> col("a_new"),
      "mint_rank" -> col("is_mint"), "tx_rank" -> !col("is_mint")))

    // new keys' ids, from their first records; resolved onto every record
    // of the key through one broadcast of this delta-sized map
    val newIds = seq
      .select(explode(array(
        when(col("w_new"), struct(tagged("w", col("wallet_key")).as("key"),
          (col("w_rank") + st.nextWalletId).as("id"))),
        when(col("c_new"), struct(tagged("c", col("policy_id")).as("key"),
          (col("c_rank") + st.nextCollectionId).as("id"))),
        when(col("a_new"), struct(tagged("a", col("asset_fingerprint")).as("key"),
          (col("a_rank") + st.nextAssetId).as("id"))))).as("n"))
      .where(col("n").isNotNull)
      .select(col("n.key").as("key"), col("n.id").as("id"))
    val resolved = families.foldLeft(lookup(seq, newIds, "id")) {
      case (df, (tag, _, id)) =>
        df.withColumn(id, coalesce(col(s"${tag}_old"), col(s"${tag}_id")))
          .drop(s"${tag}_old", s"${tag}_id")
      }
      .withColumn("fact_id",
        when(col("is_mint"), col("mint_rank") + st.nextAssetMintTxId)
          .otherwise(col("tx_rank") + st.nextAssetTxId))
      .localCheckpoint() // every table write below reads it

    // ---- dimension inserts (A1, A2): the new keys' first records ----------
    val walletInserts = resolved.where(col("w_new"))
      .select(col("wallet_id").as("id"), col("wallet_key").as("address"),
        col("addr_type").as("address_type"), lit(null).cast("int").as("user_id"))
    val collectionInserts = resolved.where(col("c_new"))
      .select(col("collection_id").cast("int").as("id"), col("policy_id"),
        lit(null).cast("string").as("name"))

    // ---- fact rows (T1 routing, T2 construction) ---------------------------
    val transfer = !col("is_mint")
    val assetMintTxInserts = resolved.where(col("is_mint"))
      .select(col("fact_id").as("id"), col("asset_id"), col("wallet_id"),
        col("quantity"), col("tx_hash"), col("tx_time"),
        col("image"), col("metadata"), col("files"))
    val assetTxInserts = resolved.where(transfer)
      .select(col("fact_id").as("id"), col("asset_id"), col("wallet_id"),
        col("quantity"), col("tx_hash"), col("tx_time"))

    // ---- everything per asset, in one aggregate (A3-A5) --------------------
    // first record (a new asset's row), last transfer's wallet (A4), and the
    // latest pointers: positive-quantity mints bump latest_mint_tx_id,
    // transfers bump latest_tx_id, burns (qty<0 mints) never touch asset_ext
    val perAssetRaw = resolved.groupBy(col("asset_id")).agg(
      max(col("a_new")).as("is_new"),
      min_by(struct(col("collection_id"), col("policy_id"), col("asset_name_hash"),
        col("asset_fingerprint"), col("wallet_id")), col("rec_seq")).as("f"),
      max(transfer).as("has_lw"),
      max_by(col("wallet_id"), when(transfer, col("rec_seq"))).as("lw"),
      max(when(col("is_mint") && col("quantity") > 0, col("fact_id"))).as("b_mint"),
      max(when(transfer, col("fact_id"))).as("b_tx"))
    // which of these assets already have an asset_ext row
    val extHit = st.assetExt.select(col("asset_id"))
      .join(broadcast(perAssetRaw.select(col("asset_id"))), Seq("asset_id"))
      .withColumn("has_ext", lit(true))
    val perAsset = perAssetRaw.join(broadcast(extHit), Seq("asset_id"), "left")
      .localCheckpoint()

    // current_wallet_id: last transfer in batch, else first record's wallet (A4)
    val assetInserts = perAsset.where(col("is_new"))
      .select(
        col("asset_id").as("id"),
        col("f.collection_id").cast("int").as("collection_id"),
        concat_ws(".", col("f.policy_id"), col("f.asset_name_hash")).as("hash"),
        hex_to_string(col("f.asset_name_hash")).as("name"),
        col("f.asset_fingerprint").as("fingerprint"),
        coalesce(col("lw"), col("f.wallet_id")).as("current_wallet_id"))

    // ---- current_wallet_id LWW for existing assets (A4) --------------------
    // An explicit has-update marker, not coalesce(new_cw, current): the
    // reference queues `UPDATE current_wallet_id = <resolved>` for every asset
    // with a transfer this batch, so a transfer whose wallet key resolves to
    // NULL must overwrite (pantasia main.py A4) rather than silently keep the
    // stale owner.
    val lastTransfer = broadcast(perAsset.where(col("has_lw") && !col("is_new"))
      .select(col("asset_id"), col("lw").as("new_cw"), col("has_lw")))
    val assetUpdated = st.asset
      .join(lastTransfer, st.asset("id") === lastTransfer("asset_id"), "left")
      .select(st.asset("id"), col("collection_id"), col("hash"), col("name"),
        col("fingerprint"),
        when(col("has_lw"), col("new_cw")).otherwise(col("current_wallet_id"))
          .as("current_wallet_id"))
      .unionByName(assetInserts)

    // ---- asset_ext inserts + latest-pointer LWW (A5) -----------------------
    val pointers = perAsset.where(col("b_mint").isNotNull || col("b_tx").isNotNull)
    val assetExtInserts = pointers.where(col("has_ext").isNull)
      .select(col("asset_id").as("id"), col("asset_id"),
        col("b_mint").as("latest_mint_tx_id"), col("b_tx").as("latest_tx_id"))
    val extPointers = broadcast(pointers.where(col("has_ext"))
      .select(col("asset_id"), col("b_mint"), col("b_tx")))
    val assetExtUpdated = st.assetExt
      .join(extPointers, Seq("asset_id"), "left")
      .select(col("id"), col("asset_id"),
        coalesce(col("b_mint"), col("latest_mint_tx_id")).as("latest_mint_tx_id"),
        coalesce(col("b_tx"), col("latest_tx_id")).as("latest_tx_id"))
      .unionByName(assetExtInserts)

    Delta(walletInserts, collectionInserts, assetInserts, assetTxInserts,
      assetMintTxInserts, assetExtInserts, byId(assetUpdated), byId(assetExtUpdated))
  }
}

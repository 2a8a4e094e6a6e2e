package graft.cardano

import java.sql.DriverManager

/** JDBC egress — the reference's target side. The reference keeps its 7
  * output tables in a "pantasia" Postgres and writes them over a second
  * psycopg2 connection (`/root/reference/app/db/postgres.py:31-50`, insert
  * paths `:156-250`). Here the engine's sink of record stays the versioned
  * parquet [[TableStore]] (atomic multi-table commits, snapshot/restore —
  * both of which a bare JDBC target lacks), and
  * this object materializes the store's current committed state INTO a
  * JDBC database for the applications that read the reference's tables.
  *
  * FK-safe and idempotent: the old rows are deleted child-tables-first in
  * ONE driver-side transaction (DELETE, not TRUNCATE — Postgres refuses
  * TRUNCATE on any FK-referenced table, and the reference schema
  * advertises `wallet.user_id -> user`), then each table is appended
  * parents-first, so every intermediate commit point is FK-consistent.
  * Missing tables are created on first export. Re-running after the same
  * store commit converges to the same contents.
  *
  * NOT an atomic cutover: the delete pass is one transaction, but the
  * insert pass streams per-table over parallel autocommitting
  * connections, so a concurrent reader can observe the target between
  * tables (empty-then-filling). For zero-downtime consumers, export into
  * a staging schema/database and swap names — the reference's own
  * backup/restore cutover (`scripts/backup_restore.py:180-208`) is that
  * pattern, available here as `SnapshotTool` + a rename on the target.
  *
  * Scale shape: each table ships over `JdbcSource.NumPartitionsConf`
  * parallel batched connections (10000 rows per round trip). This is the
  * O(table) full-state integration surface; a per-period O(delta) feed would ship
  * only the append tables' new delta dirs instead of re-shipping the
  * dimension tables every period.
  */
object JdbcSink {

  /** Batched rows per JDBC round trip. */
  private val BatchSize = 10000

  /** Parents before children (reference FK graph,
    * `app/db/postgres.py:214-249`): inserts run in this order, deletes in
    * reverse, so FKs hold at every commit point.
    */
  val insertOrder: Seq[String] = Seq(
    "user", "wallet", "collection", "asset",
    "asset_ext", "asset_tx", "asset_mint_tx")

  /** Write the current committed version of each table to the target
    * database. Returns the exported (table, rowCount) pairs in insert
    * order.
    */
  def export(store: TableStore, url: String,
      tables: Seq[String] = insertOrder): Seq[(String, Long)] = {
    val spark = store.spark
    val props = new java.util.Properties()
    props.setProperty("batchsize", BatchSize.toString)

    // one transaction clears the old rows, children first
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      tables.reverse.foreach { t =>
        try st.executeUpdate(s"""DELETE FROM "$t"""")
        catch {
          case e: java.sql.SQLException
              if Option(e.getSQLState).exists(_.startsWith("42")) =>
            // table not there yet — the append below creates it
        }
      }
      st.close()
      conn.commit()
    } finally conn.close()

    tables.map { t =>
      val df = store.read(t).coalesce(
        spark.conf.get(JdbcSource.NumPartitionsConf, "8").toInt).persist()
      try {
        df.write.mode("append").jdbc(url, s"\"$t\"", props)
        (t, df.count()) // served from the persisted blocks, no re-read
      } finally df.unpersist()
    }
  }
}

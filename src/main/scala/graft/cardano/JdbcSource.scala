package graft.cardano

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Live JDBC ingress — the other half of SURVEY.md §2 SRC1.
  *
  * The reference's only real source is a psycopg2 connection to the
  * cardano-db-sync Postgres (`/root/reference/app/db/postgres.py:23-50`;
  * main query at `:332-395`). Here the same role is a Spark JDBC relation
  * per source table: pass a JDBC URL (credentials as standard URL query
  * parameters, e.g. `jdbc:postgresql://host/cexplorer?user=u&password=p`)
  * as the sync's `sourceDir` and the whole pipeline — tip probe, period
  * stepping, extraction — runs against the live database unchanged,
  * because every source read goes through `MainQuery.sourceTable`.
  *
  * Scale shape (what changes at a 1000-executor cluster vs one psycopg2
  * cursor):
  *  - each table is read over `spark.graft.jdbc.numPartitions` parallel
  *    connections, range-split on the dense serial `id` PK (cardano-db-sync
  *    ids are append-only serials, so ranges are uniform); bounds come from
  *    one driver-side `min/max(id)` probe — O(1) per table per period;
  *  - Catalyst pushes the per-period `(from, to]` block-time predicate and
  *    the column projection into the remote WHERE/SELECT (pinned by
  *    JdbcSourceSpec), so the database ships one period's rows, never the
  *    chain's history;
  *  - a fetch size of 10000 rows per round trip keeps each cursor
  *    streaming instead of materializing the result server- or
  *    client-side.
  *
  * Tables without a resolvable `id` (or empty ones) fall back to a single
  * partition — correct, just serial.
  *
  * Dialect note (Postgres vs the in-sandbox Derby the specs run on):
  * equivalence is proven against Derby (`JdbcSourceSpec` — parquet ≡ JDBC
  * sync, predicate pushed into the remote WHERE) because no Postgres
  * server exists in this environment. The dialect-sensitive surface is
  * small and handled by Spark's `PostgresDialect` automatically:
  *  - `numeric(20,0)` (quantities, `postgres.py:131,140`) maps to
  *    `DecimalType(20,0)` on both engines — the schemas in
  *    `Schemas.scala` already declare it, and `spark.read.jdbc` verifies
  *    the remote metadata against it;
  *  - identifier quoting: Postgres lower-cases unquoted identifiers while
  *    Derby upper-cases them — all table/column names here are already
  *    lower-case ASCII, the no-op case for both;
  *  - `bytea` (tx hashes / policies) arrives as `BinaryType` from the
  *    Postgres driver, same as the parquet fixtures;
  *  - `timestamp` (no tz) maps to `TimestampType` under the session's
  *    pinned UTC on both.
  * If a real Postgres becomes reachable, run the same JdbcSourceSpec
  * equivalence suite against it with only the URL changed.
  *
  * Round-10 update: the sandbox gained Postgres 15 SERVER binaries (but
  * still no Postgres JDBC driver jar, and zero egress to fetch one — so
  * the in-JVM spec stays on Derby). Every dialect fact above, plus the
  * reference tip-probe SQL shapes and the Spark-style quoted pushdown
  * WHERE, is now EXECUTED against a real Postgres 15.18 by
  * `tools/check_pg_dialect.sh` (7/7 pass recorded in PERFORMANCE.md):
  * numeric(20,0) 20-digit round-trip, lowercase identifier folding,
  * bytea hex round-trip, client-TZ-invariant plain timestamps, the
  * OFFSET-3 tip probe, the two-CTE UNION ALL sink tip, and the pushed
  * half-open time range.
  */
object JdbcSource {

  /** A `sourceDir` that is a JDBC URL selects this ingress. */
  def isJdbc(dir: String): Boolean = dir.startsWith("jdbc:")

  /** Parallel connections per table read (range-split on `id`) and per
    * table exported by [[JdbcSink]]. */
  val NumPartitionsConf = "spark.graft.jdbc.numPartitions"

  /** JDBC fetch size per cursor (rows per round trip). */
  private val FetchSize = 10000

  /** Driver-side `(min(id), max(id))` probe — one scalar round trip; None
    * when the table is empty or has no `id` column. Only a
    * missing-column/table error (SQLState class 42, e.g. Derby 42X04 /
    * Postgres 42703) selects the unsplit fallback; transient failures
    * (timeout, connection) propagate so the period-level retry handles
    * them instead of the read silently collapsing to one connection.
    */
  private def idBounds(url: String, table: String): Option[(Long, Long)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT MIN(id), MAX(id) FROM $table")
      try {
        if (!rs.next()) None
        else {
          val lo = rs.getLong(1); val loNull = rs.wasNull()
          val hi = rs.getLong(2); val hiNull = rs.wasNull()
          if (loNull || hiNull) None else Some((lo, hi))
        }
      } finally rs.close()
    } catch {
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(_.startsWith("42")) =>
        None // no id column (or no such table) -> unsplit read
    } finally conn.close()
  }

  /** Read one source table as a partitioned JDBC relation, aligned to the
    * declared schema (exact column names and types; extra remote columns
    * such as the split key are pruned — and the pruning itself pushes down,
    * so they are not shipped either).
    */
  def table(spark: SparkSession, url: String, name: String,
      schema: StructType): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("fetchsize", FetchSize.toString)
    val n = spark.conf.get(NumPartitionsConf, "8").toInt
    val raw = idBounds(url, name) match {
      case Some((lo, hi)) if n > 1 && hi > lo =>
        spark.read.jdbc(url, name, "id", lo, hi, n, props)
      case _ => spark.read.jdbc(url, name, props)
    }
    raw.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
  }
}

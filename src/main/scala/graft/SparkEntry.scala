package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps every implemented operator family from SURVEY.md §2 (and
  * the phase-E extension operators) to a DataFrame pipeline over the
  * synthetic tables in `sfDir`; `oracleSql` holds the DuckDB-equivalent SQL
  * of every one of them. Each family registers a query together with its
  * oracle, so a query without one does not compile.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Queries.all("q2_join_chain")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Queries.all

  def oracleSql: Map[String, String] =
    graft.queries.Queries.oracles
}

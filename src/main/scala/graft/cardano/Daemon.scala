package graft.cardano

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.SparkSession

/** The sync daemon, the deployed entry point (`docker/Dockerfile`):
  *
  *   graft.cardano.Daemon <storeRoot> [source]
  *
  * Syncs `source` (a directory of source parquet tables, or a
  * cardano-db-sync JDBC URL; [[Settings.cdbUrl]] with
  * [[Settings.cdbCredentials]] when not given) into the [[TableStore]] at
  * `storeRoot`. It catches up, then polls the source tip
  * every 10 s until SIGTERM or SIGINT, which lets the period in flight
  * commit ([[SyncDriver.runContinuously]]; the reference's
  * `app/main.py:43-57,391-399`). The `PANTASIA_*` settings
  * ([[Settings.load]]) configure the sync and [[LogConfig]] the logging.
  */
object Daemon {

  /** The store root and the source, if one is given. */
  def parseArgs(args: Seq[String]): (String, Option[String]) = args match {
    case Seq(root) => (root, None)
    case Seq(root, source) => (root, Some(source))
    case _ => throw new IllegalArgumentException(
      s"usage: graft.cardano.Daemon <storeRoot> [source]; got ${args.size} arguments")
  }

  /** The sync of `source` into the store at `root`, configured by
    * `settings`; with no `source`, the `PANTASIA_CDB_*` database. */
  def driver(spark: SparkSession, root: String, source: Option[String],
      settings: Settings): SyncDriver = {
    val (url, credentials) = source match {
      case Some(dir) => (dir, Map.empty[String, String])
      case None => (settings.cdbUrl, settings.cdbCredentials)
    }
    new SyncDriver(spark, url, new TableStore(spark, root), settings.timeInterval,
      settings.maxRetries, settings.backoffMillis, credentials)
  }

  def main(args: Array[String]): Unit = {
    val (root, source) = parseArgs(args.toSeq)
    val settings = Settings.load()
    val spark = graft.Graft.session("pantasia-db-sync")
    LogConfig(settings)
    val log = LogManager.getLogger(LogConfig.AppLogger)
    try {
      // a source URL given as the argument may carry a password
      log.info(s"syncing into $root")
      log.info(s"stopped after ${driver(spark, root, source, settings).runContinuously()} periods")
    } finally spark.stop()
  }
}

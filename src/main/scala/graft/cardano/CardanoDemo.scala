package graft.cardano

/** Library-surface smoke: full incremental sync over a source directory.
  *
  * Usage: runMain graft.cardano.CardanoDemo <sourceDir> <targetDir> [intervalMin]
  * Prints each target table after catch-up.
  *
  * Env-configured like the reference daemon (`app/settings.py:1-12`):
  * `PANTASIA_TIME_INTERVAL` (an explicit argv interval wins),
  * `PANTASIA_MAX_RETRIES`, `PANTASIA_BACKOFF_MILLIS`,
  * `PANTASIA_LOG_LEVEL`, with an optional `.env` file underneath the
  * process env.
  */
object CardanoDemo {
  def main(args: Array[String]): Unit = {
    val sourceDir = args(0)
    val targetDir = args(1)
    val settings0 = Settings.load()
    val settings =
      if (args.length > 2) settings0.copy(timeInterval = args(2).toLong)
      else settings0
    val spark = graft.Graft.session("cardano-demo")
    spark.sparkContext.setLogLevel(settings.logLevel match {
      case "DEBUG" => "INFO" // spark DEBUG drowns the demo output
      case l => l
    })
    // per-logger levels from PANTASIA_LOG_CONFIG (the reference's
    // logging.yaml bootstrap, main.py:404-415), layered under LOG_LEVEL
    LogConfig(settings)

    val store = new TableStore(spark, targetDir)
    val driver = new SyncDriver(spark, sourceDir, store, settings)
    val n = driver.catchUp()
    println(s"DEMO: ran $n periods; cardanoTip=${driver.cardanoTip()}, pantasiaTip=${driver.pantasiaTip()}")
    for (t <- Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx", "asset_ext")) {
      println(s"== $t (v${store.currentVersion(t)}) ==")
      store.read(t).orderBy("id").show(50, false)
    }
    spark.stop()
  }
}

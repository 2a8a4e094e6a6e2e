package graft.cardano

/** Env-var configuration surface with reference parity (the reference's
  * `app/settings.py:1-12` and `.env.template`): the same
  * `PANTASIA_`-prefixed variables, same names, same defaults, plus an
  * optional `.env` properties file with pydantic's precedence —
  * process env beats the file, the file beats code defaults.
  *
  * Every field is read by the daemon ([[Daemon]]):
  *   - `timeInterval` (`PANTASIA_TIME_INTERVAL`, minutes), `maxRetries`
  *     and `backoffMillis` size the [[SyncDriver]]'s period grid and its
  *     retry;
  *   - `logLevel` and `logConfig` configure logging ([[LogConfig]]);
  *   - the five `cdb*` fields make [[cdbUrl]] and [[cdbCredentials]],
  *     the source the daemon syncs from when it is given no source
  *     argument.
  * The reference's `DB_*` target settings, `IN_MEMORY_INDEX`,
  * `ENVIRONMENT` and `DB_BACKUP_PATH` are ignored like any unknown key:
  * the sink of record is the [[TableStore]] root the daemon is given, and
  * [[JdbcSink.export]] takes its target URL as an argument. The retry
  * budget and the log-config path are engine extensions the reference
  * hard-codes; they follow the same `PANTASIA_` convention so one
  * deployment surface configures everything.
  */
final case class Settings(
    timeInterval: Long = 120,
    logLevel: String = "INFO",
    cdbHost: String = "localhost",
    cdbPort: Int = 5433,
    cdbUser: String = "postgres",
    cdbPass: String = "postgres",
    cdbName: String = "cexplorer",
    maxRetries: Int = 2,
    backoffMillis: Long = 500,
    logConfig: String = "") {

  /** Source (cardano-db-sync mirror) JDBC URL from the CDB_* settings:
    * the daemon's source when it is given none (`JdbcSource.isJdbc` routes
    * it). It names no credentials: a driver's error message repeats the
    * URL, and the log must never carry the password.
    */
  def cdbUrl: String = s"jdbc:postgresql://$cdbHost:$cdbPort/$cdbName"

  /** The connection properties that go with [[cdbUrl]]. */
  def cdbCredentials: Map[String, String] = Map("user" -> cdbUser, "password" -> cdbPass)
}

object Settings {

  val Prefix = "PANTASIA_"

  /** Build from an already-prefixed key map (`PANTASIA_TIME_INTERVAL`
    * -> "90"). Unknown keys are ignored, like pydantic's default. A
    * period interval of zero minutes or less is rejected: the period grid
    * would never reach the tip.
    */
  def fromMap(env: Map[String, String]): Settings = {
    def v(key: String): Option[String] = env.get(Prefix + key).map(_.trim)
    val d = Settings()
    val timeInterval = v("TIME_INTERVAL").map(_.toLong).getOrElse(d.timeInterval)
    require(timeInterval > 0, s"${Prefix}TIME_INTERVAL must be positive, got $timeInterval")
    Settings(
      timeInterval = timeInterval,
      logLevel = v("LOG_LEVEL").getOrElse(d.logLevel),
      cdbHost = v("CDB_HOST").getOrElse(d.cdbHost),
      cdbPort = v("CDB_PORT").map(_.toInt).getOrElse(d.cdbPort),
      cdbUser = v("CDB_USER").getOrElse(d.cdbUser),
      cdbPass = v("CDB_PASS").getOrElse(d.cdbPass),
      cdbName = v("CDB_NAME").getOrElse(d.cdbName),
      maxRetries = v("MAX_RETRIES").map(_.toInt).getOrElse(d.maxRetries),
      backoffMillis = v("BACKOFF_MILLIS").map(_.toLong).getOrElse(d.backoffMillis),
      logConfig = v("LOG_CONFIG").getOrElse(d.logConfig))
  }

  /** `KEY=VALUE` lines; `#` comments and blanks skipped; optional
    * `export ` prefix and surrounding quotes stripped — the `.env`
    * dialect the reference's template uses.
    */
  private[cardano] def parseEnvFile(path: java.nio.file.Path): Map[String, String] = {
    if (!java.nio.file.Files.isRegularFile(path)) return Map.empty
    val lines = java.nio.file.Files.readAllLines(path, java.nio.charset.StandardCharsets.UTF_8)
    import scala.jdk.CollectionConverters._
    lines.asScala.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains('='))
      .map { l =>
        val noExport = if (l.startsWith("export ")) l.substring(7).trim else l
        val i = noExport.indexOf('=')
        val k = noExport.substring(0, i).trim
        val raw = noExport.substring(i + 1).trim
        val unq =
          if (raw.length >= 2 && ((raw.head == '"' && raw.last == '"') ||
              (raw.head == '\'' && raw.last == '\''))) raw.substring(1, raw.length - 1)
          else raw
        k -> unq
      }
      .toMap
  }

  /** Load with pydantic precedence: defaults < `.env` file < process
    * env. `envFile = None` skips file lookup entirely.
    */
  def load(envFile: Option[String] = Some(".env"),
      env: Map[String, String] = sys.env): Settings = {
    val fileMap = envFile
      .map(f => parseEnvFile(java.nio.file.Paths.get(f)))
      .getOrElse(Map.empty)
    fromMap(fileMap ++ env.filter(_._1.startsWith(Prefix)))
  }
}

package graft.cardano

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Env-var configuration parity with the reference
  * (`app/settings.py:1-12`, `.env.template`): PANTASIA_-prefixed keys,
  * pydantic precedence (defaults < .env file < process env), and the
  * overrides actually steering the demo/sync loop.
  */
class SettingsSpec extends AnyFunSuite with SparkTest {

  test("defaults match the reference's Settings class") {
    val s = Settings()
    assert(s.timeInterval == 120 && s.logLevel == "INFO")
    assert(s.dbHost == "localhost" && s.dbPort == 5432 && s.dbName == "pantasia")
    assert(s.cdbHost == "localhost" && s.cdbPort == 5433 && s.cdbName == "cexplorer")
  }

  test("PANTASIA_* map overrides every reference field; unknown keys ignored") {
    val s = Settings.fromMap(Map(
      "PANTASIA_TIME_INTERVAL" -> "90",
      "PANTASIA_IN_MEMORY_INDEX" -> "False",
      "PANTASIA_LOG_LEVEL" -> "DEBUG",
      "PANTASIA_ENVIRONMENT" -> "prod",
      "PANTASIA_DB_HOST" -> "dbh", "PANTASIA_DB_PORT" -> "15432",
      "PANTASIA_DB_USER" -> "u1", "PANTASIA_DB_PASS" -> "p1",
      "PANTASIA_DB_NAME" -> "n1", "PANTASIA_DB_BACKUP_PATH" -> "/b/",
      "PANTASIA_CDB_HOST" -> "ch", "PANTASIA_CDB_PORT" -> "15433",
      "PANTASIA_CDB_USER" -> "u2", "PANTASIA_CDB_PASS" -> "p2",
      "PANTASIA_CDB_NAME" -> "n2",
      "PANTASIA_POLL_SECONDS" -> "3",
      "PANTASIA_MAX_RETRIES" -> "5", "PANTASIA_BACKOFF_MILLIS" -> "7",
      "PANTASIA_NO_SUCH_KEY" -> "x", "UNPREFIXED" -> "y"))
    assert(s.timeInterval == 90 && s.logLevel == "DEBUG")
    assert(s.dbUrl == "jdbc:postgresql://dbh:15432/n1?user=u1&password=p1")
    assert(s.cdbUrl == "jdbc:postgresql://ch:15433/n2?user=u2&password=p2")
    assert(s.maxRetries == 5 && s.backoffMillis == 7)
  }

  test(".env file is read underneath the process env (pydantic precedence)") {
    val envFile = Files.createTempFile("graft", ".env")
    Files.write(envFile,
      """# comment line
        |PANTASIA_TIME_INTERVAL=60
        |export PANTASIA_DB_HOST="filehost"
        |PANTASIA_CDB_NAME='filedb'
        |
        |not a kv line is skipped? no - has no equals
        |""".stripMargin.getBytes("UTF-8"))
    val s = Settings.load(Some(envFile.toString),
      env = Map("PANTASIA_TIME_INTERVAL" -> "30"))
    assert(s.timeInterval == 30, "process env must beat the .env file")
    assert(s.dbHost == "filehost", "export prefix + quotes stripped")
    assert(s.cdbName == "filedb")
    assert(s.dbPort == 5432, "unset keys keep defaults")
    val s2 = Settings.load(None, env = Map.empty)
    assert(s2 == Settings(), "no file, no env -> pure defaults")
  }

  test("a PANTASIA_TIME_INTERVAL of zero or less is rejected, from the env and from .env") {
    for (bad <- Seq("0", "-5")) {
      val e = intercept[IllegalArgumentException] {
        Settings.fromMap(Map("PANTASIA_TIME_INTERVAL" -> bad))
      }
      assert(e.getMessage.contains(s"PANTASIA_TIME_INTERVAL must be positive, got $bad"))
      val envFile = Files.createTempFile("graft", ".env")
      Files.write(envFile, s"PANTASIA_TIME_INTERVAL=$bad\n".getBytes("UTF-8"))
      intercept[IllegalArgumentException](Settings.load(Some(envFile.toString), env = Map.empty))
    }
  }

  test("a SyncDriver with a zero-minute interval cannot be built") {
    val store = new TableStore(spark, Files.createTempDirectory("interval-out").toString)
    val e = intercept[IllegalArgumentException](new SyncDriver(spark, "unused", store, 0))
    assert(e.getMessage.contains("intervalMinutes must be positive, got 0"))
  }

  test("PANTASIA_LOG_CONFIG file drives per-logger levels; LOG_LEVEL wins for the app") {
    // the reference's logging.yaml dialect, verbatim structure
    // (main.py:404-415 reads it, then overrides the app logger's level
    // with settings.log_level before dictConfig)
    val yaml =
      """version: 1
        |formatters:
        |  simple:
        |    format: '%(asctime)s | %(message)s'
        |handlers:
        |  console:
        |    class: logging.StreamHandler
        |    level: DEBUG
        |loggers:
        |  pantasia-db-sync:
        |    level: WARNING
        |    handlers: [console, file]
        |    propagate: no
        |  graft.sync.driver:
        |    level: DEBUG
        |  org.apache.spark:
        |    level: ERROR
        |root:
        |  level: DEBUG
        |  handlers: [console]
        |""".stripMargin
    val parsed = LogConfig.parseLoggerLevels(yaml)
    assert(parsed == Map(
      "pantasia-db-sync" -> "WARNING",
      "graft.sync.driver" -> "DEBUG",
      "org.apache.spark" -> "ERROR",
      LogConfig.Root -> "DEBUG"),
      s"dialect parse mismatch: $parsed")

    // layering: file supplies per-subsystem levels, env LOG_LEVEL
    // replaces the app logger's (exactly main.py:411)
    val s = Settings.fromMap(Map("PANTASIA_LOG_LEVEL" -> "DEBUG"))
    val eff = LogConfig.effectiveLevels(s, Some(yaml))
    assert(eff("pantasia-db-sync") == "DEBUG",
      "PANTASIA_LOG_LEVEL must beat the file for the app logger")
    assert(eff("org.apache.spark") == "ERROR" &&
      eff("graft.sync.driver") == "DEBUG" && eff(LogConfig.Root) == "DEBUG")
    // no file at all: the env level still lands on the app logger
    assert(LogConfig.effectiveLevels(s, None) ==
      Map("pantasia-db-sync" -> "DEBUG"))

    // end-to-end: PANTASIA_LOG_CONFIG path -> log4j2 levels applied
    val f = Files.createTempFile("graft-log", ".yaml")
    Files.write(f, yaml.getBytes("UTF-8"))
    val s2 = Settings.fromMap(Map(
      "PANTASIA_LOG_CONFIG" -> f.toString,
      "PANTASIA_LOG_LEVEL" -> "ERROR"))
    assert(s2.logConfig == f.toString)
    import org.apache.logging.log4j.{Level, LogManager}
    val prevRoot = LogManager.getRootLogger.getLevel
    try {
      val applied = LogConfig(s2)
      assert(applied("pantasia-db-sync") == "ERROR")
      assert(LogManager.getLogger("graft.sync.driver").getLevel == Level.DEBUG)
      assert(LogManager.getLogger("pantasia-db-sync").getLevel == Level.ERROR)
    } finally {
      // restore the suite's quiet levels (the file set root=DEBUG)
      import org.apache.logging.log4j.core.config.Configurator
      Configurator.setRootLevel(prevRoot)
      Configurator.setLevel("org.apache.spark", Level.WARN)
    }
  }

  test("demo loop honors env overrides: interval drives the period grid") {
    val srcDir = Files.createTempDirectory("set-src").toString
    Fixture.write(spark, srcDir)

    def run(settings: Settings): (Int, TableStore) = {
      val out = Files.createTempDirectory("set-out").toString
      val store = new TableStore(spark, out)
      val driver = new SyncDriver(spark, srcDir, store, settings)
      (driver.catchUp(), store)
    }
    val (nDefault, sDefault) =
      run(Settings.fromMap(Map.empty))
    val (nOverride, sOverride) =
      run(Settings.fromMap(Map("PANTASIA_TIME_INTERVAL" -> "60")))
    assert(nOverride > nDefault,
      s"halving the interval must add periods ($nDefault -> $nOverride)")
    // and the synced content is interval-invariant (the ST3 guarantee)
    for (t <- Seq("wallet", "asset", "asset_tx")) {
      val a = sDefault.read(t).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      val b = sOverride.read(t).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      assert(a.toSeq == b.toSeq, s"table $t diverged across intervals")
    }
  }
}

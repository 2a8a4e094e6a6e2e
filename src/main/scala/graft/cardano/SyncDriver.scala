package graft.cardano

import java.sql.Timestamp
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental micro-batch driver (SURVEY.md §2.8 ST1-ST8,
  * `/root/reference/app/main.py:43-107`, `app/db/postgres.py:251-325`).
  *
  * Period grid: step from the sink tip to the source tip in
  * `intervalMinutes` increments (default 120, the reference's
  * PANTASIA_TIME_INTERVAL), last period clamped; each period extracts
  * `(from, to]`, transforms, and commits atomically via TableStore versions
  * (idempotent re-run — our ST6 upgrade over the reference).
  *
  * `sourceCredentials` are the connection properties (`user`, `password`)
  * of a JDBC `sourceDir` ([[JdbcSource]]); a directory source needs none.
  */
class SyncDriver(
    spark: SparkSession,
    sourceDir: String,
    store: TableStore,
    intervalMinutes: Long = 120,
    maxRetries: Int = 2,
    backoffMillis: Long = 500,
    sourceCredentials: Map[String, String] = Map.empty) {

  require(intervalMinutes > 0, s"intervalMinutes must be positive, got $intervalMinutes")

  /** First native-asset block (`app/db/postgres.py:308`). */
  val genesis: Timestamp = Timestamp.valueOf("2021-03-01 21:47:00")

  /** ST1 / SRC3: 4th-newest block time — "don't read the last 3 blocks". */
  def cardanoTip(): Option[Timestamp] = {
    val rows = MainQuery.sourceTable(spark, sourceDir, "block", sourceCredentials)
      .select(col("time"))
      .orderBy(col("time").desc, col("id").desc)
      .offset(3).limit(1)
      .collect()
    rows.headOption.map(_.getTimestamp(0))
  }

  /** ST2 / SRC4: resume point = max written tx_time across both fact
    * tables; genesis when empty.
    */
  def pantasiaTip(): Timestamp = {
    val m = Seq("asset_tx", "asset_mint_tx").map(store.read(_).select("tx_time"))
      .reduce(_.unionByName(_)).agg(max(col("tx_time"))).collect()(0)
    if (m.isNullAt(0)) genesis else m.getTimestamp(0)
  }

  /** ST3: tumbling periods from `from` (exclusive) to `tip` (inclusive),
    * `intervalMinutes` wide, last one clamped to `tip`.
    */
  def periodList(from: Timestamp, tip: Timestamp): Seq[Timestamp] = {
    val out = Seq.newBuilder[Timestamp]
    out += from
    var cur = from.toInstant
    val end = tip.toInstant
    while (cur.isBefore(end)) {
      cur = cur.plus(intervalMinutes, ChronoUnit.MINUTES)
      if (cur.isAfter(end)) cur = end
      out += Timestamp.from(cur)
    }
    out.result()
  }

  /** Run one period `(from, to]`: extract → transform → stage → commit. */
  def syncPeriod(from: Timestamp, to: Timestamp): Unit = {
    val records = MainQuery.extract(spark, sourceDir, from, to, sourceCredentials)

    val next = store.nextIds(Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx"))
    val state = Transform.State(
      wallet = store.read("wallet"),
      collection = store.read("collection"),
      asset = store.read("asset"),
      assetExt = store.read("asset_ext"),
      nextWalletId = next("wallet"),
      nextCollectionId = next("collection"),
      nextAssetId = next("asset"),
      nextAssetTxId = next("asset_tx"),
      nextAssetMintTxId = next("asset_mint_tx"))

    val d = Transform(records, state)

    // Stage every table's next version, then flip pointers together (SNK3).
    val staged = Map(
      "wallet"        -> store.appendNext("wallet", d.walletInserts),
      "collection"    -> store.appendNext("collection", d.collectionInserts),
      "asset_tx"      -> store.appendNext("asset_tx", d.assetTxInserts),
      "asset_mint_tx" -> store.appendNext("asset_mint_tx", d.assetMintTxInserts),
      "asset"         -> store.writeNext("asset", d.assetUpdated),
      "asset_ext"     -> store.writeNext("asset_ext", d.assetExtUpdated))
    store.commit(staged)
  }

  /** ST8: bounded retry with exponential backoff around one period
    * (reference `app/main.py:421-425` catches a transient-error taxonomy;
    * here ANY non-fatal failure is retried up to `maxRetries` times).
    * Safe to re-execute blindly because a failed attempt commits nothing
    * (fail-before-commit atomicity, `FailureAtomicitySpec`) — the retry
    * re-runs the identical period from the same committed state and
    * overwrites its own staged dirs. A stop request cancels the backoff
    * and rethrows so shutdown is never delayed by a failing source.
    */
  def syncPeriodWithRetry(from: Timestamp, to: Timestamp): Unit =
    withRetry(s"period ($from, $to]")(syncPeriod(from, to))

  private val log = org.apache.logging.log4j.LogManager.getLogger(LogConfig.AppLogger)

  /** Run `body`, and on a non-fatal failure retry it up to `maxRetries`
    * times after a backoff that doubles from `backoffMillis`. */
  private def withRetry[T](what: String, attempt: Int = 0)(body: => T): T =
    try body
    catch {
      case scala.util.control.NonFatal(e) if attempt < maxRetries && !stopRequested =>
        val wait = backoffMillis << attempt
        log.warn(s"$what failed, retry ${attempt + 1} of $maxRetries in $wait ms: $e")
        pause(wait)
        // a stop that arrived mid-backoff must not trigger another
        // attempt against a failing source — rethrow immediately
        if (stopRequested) throw e
        withRetry(what, attempt + 1)(body)
    }

  @volatile private var stopRequested = false

  /** ST7: request a graceful stop. The period in flight finishes and
    * commits, then [[catchUp]] and [[runContinuously]] return; nothing is
    * torn down mid-write. JVM shutdown calls this from the hook that
    * [[runContinuously]] registers.
    */
  def requestStop(): Unit = stopRequested = true

  /** Sleep `millis` in steps of at most 100 ms; a stop request ends it
    * early. */
  private def pause(millis: Long): Unit = {
    var slept = 0L
    while (!stopRequested && slept < millis) {
      val step = math.min(100L, millis - slept)
      Thread.sleep(step); slept += step
    }
  }

  /** ST4 + ST7: the reference's outer daemon loop — catch up, then poll
    * the source tip every `pollSeconds` (default 10s, `app/main.py:52-53`),
    * until [[requestStop]] or JVM shutdown (SIGTERM, SIGINT). Each cycle
    * probes the source tip once, with the same bounded retry as a period,
    * so a briefly unreachable source does not end the loop. Returns total
    * periods run.
    *
    * Shutdown order. Spark stops its context from a hook it registers with
    * Hadoop's `ShutdownHookManager` at priority 40, and Hadoop runs its
    * hooks one at a time, highest priority first. The loop registers its
    * own hook there at priority 50: it requests a stop and waits up to
    * [[SyncDriver.StopTimeoutSeconds]] for the loop to return, so the
    * period in flight commits before Spark stops. A period still running
    * after that is cut when Spark stops under it, and commits nothing,
    * like any failed period; the next start re-runs it.
    */
  def runContinuously(pollSeconds: Int = 10, maxCycles: Int = Int.MaxValue): Int = {
    val exited = new java.util.concurrent.CountDownLatch(1)
    val hook: Runnable = () => { requestStop(); exited.await() }
    val hooks = org.apache.hadoop.util.ShutdownHookManager.get()
    hooks.addShutdownHook(hook, 50, SyncDriver.StopTimeoutSeconds,
      java.util.concurrent.TimeUnit.SECONDS)
    var total = 0
    var lastTip: Option[java.sql.Timestamp] = None
    var cycles = 0
    try {
      while (!stopRequested && cycles < maxCycles) {
        val tip = withRetry("source tip probe")(cardanoTip())
        if (tip != lastTip) {
          total += catchUp(tip)
          lastTip = tip
        } else pause(pollSeconds * 1000L)
        cycles += 1
      }
      total
    } finally {
      exited.countDown()
      try hooks.removeShutdownHook(hook)
      catch { case _: IllegalStateException => } // already shutting down
    }
  }

  /** Catch up from the sink tip to the source `tip` (probed by default)
    * once — the reference's inner `while len(period_list) > 1` drain. A
    * stop request ends it after the period in flight. Returns periods run.
    */
  def catchUp(tip: Option[Timestamp] = cardanoTip()): Int = tip match {
    case None => 0
    case Some(t) =>
      var n = 0
      periodList(pantasiaTip(), t).sliding(2).takeWhile(_ => !stopRequested).foreach {
        case Seq(from, to) => syncPeriodWithRetry(from, to); n += 1
        case _ =>
      }
      n
  }
}

object SyncDriver {

  /** How long JVM shutdown waits for the period in flight to commit
    * ([[SyncDriver.runContinuously]]): twelve times the largest measured
    * period, 25.1 s at 400k assets on `local[32]` (PERFORMANCE.md,
    * ScaleSync). A longer period, from a far larger store or fewer cores,
    * is cut and re-run on the next start. Compose's `stop_grace_period`
    * must exceed this plus the 30 s Hadoop gives Spark's own stop hook.
    */
  val StopTimeoutSeconds = 300L
}

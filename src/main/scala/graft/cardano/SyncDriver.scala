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
  */
class SyncDriver(
    spark: SparkSession,
    sourceDir: String,
    store: TableStore,
    intervalMinutes: Long = 120,
    maxRetries: Int = 2,
    backoffMillis: Long = 500) {

  require(intervalMinutes > 0, s"intervalMinutes must be positive, got $intervalMinutes")

  /** Env-configured construction (reference parity: the daemon is
    * configured entirely through `PANTASIA_*`, `app/settings.py:1-12`).
    */
  def this(spark: SparkSession, sourceDir: String, store: TableStore,
      settings: Settings) =
    this(spark, sourceDir, store, settings.timeInterval,
      settings.maxRetries, settings.backoffMillis)

  /** First native-asset block (`app/db/postgres.py:308`). */
  val genesis: Timestamp = Timestamp.valueOf("2021-03-01 21:47:00")

  /** ST1 / SRC3: 4th-newest block time — "don't read the last 3 blocks". */
  def cardanoTip(): Option[Timestamp] = {
    val rows = MainQuery.sourceTable(spark, sourceDir, "block")
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
    val a = store.read("asset_tx").agg(max(col("tx_time")).as("t"))
    val b = store.read("asset_mint_tx").agg(max(col("tx_time")).as("t"))
    val m = a.unionByName(b).agg(max(col("t"))).collect()(0)
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
    val records = MainQuery.extract(spark, sourceDir, from, to)

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
  def syncPeriodWithRetry(from: Timestamp, to: Timestamp): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { syncPeriod(from, to); done = true }
      catch {
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          if (attempt > maxRetries || stopRequested) throw e
          pause(backoffMillis << (attempt - 1))
          // a stop that arrived mid-backoff must not trigger another
          // attempt against a failing source — rethrow immediately
          if (stopRequested) throw e
      }
    }
  }

  @volatile private var stopRequested = false

  /** ST7: request a graceful stop — the current period finishes (and
    * commits) before the loop exits; nothing is torn down mid-write.
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
    * until `requestStop()` (or the registered JVM shutdown hook) fires.
    * Each cycle probes the source tip once. Returns total periods run.
    */
  def runContinuously(pollSeconds: Int = 10, maxCycles: Int = Int.MaxValue): Int = {
    val hook = new Thread(() => requestStop())
    Runtime.getRuntime.addShutdownHook(hook)
    var total = 0
    var lastTip: Option[java.sql.Timestamp] = None
    var cycles = 0
    try {
      while (!stopRequested && cycles < maxCycles) {
        val tip = cardanoTip()
        if (tip != lastTip) {
          total += catchUp(tip)
          lastTip = tip
        } else pause(pollSeconds * 1000L)
        cycles += 1
      }
      total
    } finally {
      try Runtime.getRuntime.removeShutdownHook(hook)
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

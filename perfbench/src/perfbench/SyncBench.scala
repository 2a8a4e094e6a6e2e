package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Graft
import graft.cardano.{MainQuery, SyncDriver, TableStore, Transform}

/** Sizes of one sync workload: a source of `txs` transactions, of which
  * set-up syncs the first `presyncRecords` records in one period, plus one
  * period of the timed size when `warmPeriod`; the timed periods carry
  * `periodRecords` records each.
  */
final case class SyncParams(txs: Int, presyncRecords: Int, warmPeriod: Boolean,
    periodRecords: Int)

object SyncParams {
  val Tables = Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx", "asset_ext")
  /** Reads after each commit, and the fewest a run makes: what the run
    * budget allows, not the hundred that would leave ten samples beyond p90.
    */
  val Reads = 30

  def of(workload: String): SyncParams = workload match {
    // a catch-up from an empty store: set-up is its first period, the
    // timed periods are the next ones, as large as the store they land in
    case "sync_backfill" => SyncParams(txs = 4500, presyncRecords = 2500, warmPeriod = false,
      periodRecords = 2500)
    // the daemon's steady state: warm, over a store five times the delta
    case "sync_tip" => SyncParams(txs = 1600, presyncRecords = 1500, warmPeriod = true,
      periodRecords = 300)
  }
}

/** One timed cycle: the daemon's poll (`cardanoTip`, `pantasiaTip`) and one
  * `syncPeriod`, with the records the committed window holds.
  */
final case class Cycle(startNs: Long, endNs: Long, records: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class PhaseResult(cycles: Seq[Cycle], readMs: Seq[Double],
    bytesAdded: Map[String, Long], lastTo: Option[Timestamp]) {
  def records: Long = cycles.map(_.records).sum
  def periodSeconds: Double = cycles.map(_.seconds).sum
  def recordsPerS: Double = records / periodSeconds
}

/** The sync workloads (`sync_backfill`, `sync_tip`): a closed loop with one
  * client that polls, syncs one period and, after each commit, runs a
  * seeded mix of marketplace reads through `TableStore.read`.
  */
final class SyncBench(ctx: Ctx, workload: String) {
  import ctx._
  import Ctx.expect

  val p: SyncParams = SyncParams.of(workload)
  val srcDir: String = work.resolve("src").toString
  private val presyncDir = work.resolve("presync")
  private var src: Source = _
  /** The next period end: the first block end after the sink tip that
    * makes the period carry `periodRecords` records, at most the source
    * tip. Equal record counts per period keep the seed out of the timings.
    */
  private def nextTo(from: Timestamp, tip: Timestamp): Timestamp =
    src.blockEndAfter(from, p.periodRecords).filterNot(_.after(tip)).getOrElse(tip)

  def srcShapeJson: String = src.shape.json

  /** Generates the source, then syncs the history the timed periods
    * continue from, untimed. `warmPeriod` adds one period of the timed size,
    * which compiles the plans of a period over a non-empty store; without
    * it they add a third or more to the first timed period.
    */
  def setup(): Unit = {
    src = timed("setup.generate") { CardanoGen.generate(spark, srcDir, seed, p.txs) }
    timed("setup.presync") {
      val store = new TableStore(spark, presyncDir.toString)
      val driver = new SyncDriver(spark, srcDir, store)
      val presyncTo = src.blockEndAfter(driver.genesis, p.presyncRecords).get
      driver.syncPeriod(driver.genesis, presyncTo)
      val warm =
        if (p.warmPeriod) {
          val to = nextTo(presyncTo, driver.cardanoTip().get)
          driver.syncPeriod(presyncTo, to)
          to
        } else presyncTo
      new ReadMix(ctx, store, src, new Tracer(false, "")).run(3, warm)
    }
  }

  /** A fresh copy of the pre-synced store. */
  def restore(name: String): Path = {
    val dir = work.resolve(name)
    Files.createDirectories(dir)
    Fs.copyTree(presyncDir, dir)
    dir
  }

  private def open(dir: Path): (TableStore, SyncDriver) = {
    val store = new TableStore(spark, dir.toString)
    (store, new SyncDriver(spark, srcDir, store))
  }

  /** The timed phase on a fresh copy of the pre-synced store: at least one
    * cycle, and cycles until `seconds` have passed; `Reads` reads after
    * each commit unless `reads` is off. `tracer` set = traced phase.
    */
  def phase(name: String, tracer: Option[Tracer], minCycles: Int = 1,
      maxCycles: Int = Int.MaxValue, reads: Boolean = true): (PhaseResult, TableStore) = {
    val dir = restore(name)
    val (store, driver) = open(dir)
    val before = Fs.tableBytes(dir, SyncParams.Tables)
    val r = runCycles(store, driver, tracer, minCycles, maxCycles, seconds,
      if (reads) SyncParams.Reads else 0)
    val after = Fs.tableBytes(dir, SyncParams.Tables)
    (r.copy(bytesAdded = SyncParams.Tables.map(t => t -> (after(t) - before(t))).toMap), store)
  }

  private def runCycles(store: TableStore, driver: SyncDriver, tracer: Option[Tracer],
      minCycles: Int, maxCycles: Int, minSeconds: Double, minReads: Int): PhaseResult = {
    val tr = tracer.getOrElse(new Tracer(false, ""))
    val reads = new ReadMix(ctx, store, src, tr)
    val cycles = ArrayBuffer.empty[Cycle]
    val readMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastTo: Option[Timestamp] = None
    var exhausted = false
    // a failing period is retried by the next cycle; the hard cap keeps a
    // persistently failing program from looping past the run budget
    while (!exhausted && cycles.size < maxCycles &&
        (cycles.size < minCycles || elapsed < minSeconds || readMs.size < minReads) &&
        elapsed < 4 * minSeconds + 60) {
      val c0 = System.nanoTime()
      attempted += 1
      try {
        val (from, to) = tr("cycle") {
          val tip = tr("driver.cardanoTip")(driver.cardanoTip()).get
          val from = tr("driver.pantasiaTip")(driver.pantasiaTip())
          val to = nextTo(from, tip)
          if (to.after(from)) {
            if (tr.enabled) tracedPeriod(store, tr, from, to) else driver.syncPeriod(from, to)
          }
          (from, to)
        }
        if (!to.after(from)) exhausted = true
        else {
          cycles += Cycle(c0, System.nanoTime(), src.records(from, to))
          log(s"period ($from, $to]: ${src.records(from, to)} records in ${cycles.last.seconds} s")
          lastTo = Some(to)
          if (minReads > 0) readMs ++= reads.run(SyncParams.Reads, to)
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          log(s"period failed: $e")
      }
    }
    PhaseResult(cycles.toSeq, readMs.toSeq, Map.empty, lastTo)
  }

  /** `SyncDriver.syncPeriod` step by step through the same public calls, so
    * a traced run can time each layer from outside. Mirrors the default
    * `compactEvery = 1`, under which both mutable tables are staged whole.
    */
  private def tracedPeriod(store: TableStore, tr: Tracer, from: Timestamp, to: Timestamp): Unit =
    tr("period") {
      val records = tr("extract")(MainQuery.extract(spark, srcDir, from, to))
      val state = tr("store.state") {
        Transform.State(
          wallet = store.read("wallet"),
          collection = store.read("collection"),
          asset = store.read("asset"),
          assetExt = store.read("asset_ext"),
          nextWalletId = store.nextId("wallet"),
          nextCollectionId = store.nextId("collection"),
          nextAssetId = store.nextId("asset"),
          nextAssetTxId = store.nextId("asset_tx"),
          nextAssetMintTxId = store.nextId("asset_mint_tx"))
      }
      val d = tr("transform")(Transform(records, state))
      val staged = tr("store.write") {
        Map(
          "wallet" -> store.appendNext("wallet", d.walletInserts),
          "collection" -> store.appendNext("collection", d.collectionInserts),
          "asset_tx" -> store.appendNext("asset_tx", d.assetTxInserts),
          "asset_mint_tx" -> store.appendNext("asset_mint_tx", d.assetMintTxInserts),
          "asset" -> store.writeNext("asset", d.assetUpdated),
          "asset_ext" -> store.writeNext("asset_ext", d.assetExtUpdated))
      }
      tr("store.commit")(store.commit(staged))
    }

  // ---- output checks (outside the timed window) ---------------------------

  def check(store: TableStore, r: PhaseResult): Unit = {
    // with no successful period or read there is no timing to report
    expect(r.cycles.nonEmpty && r.readMs.nonEmpty, "no period or no read succeeded")
    val t = SyncParams.Tables.map(n => n -> store.read(n)).toMap
    def dense(n: String): Unit = {
      val row = t(n).agg(count(lit(1)), max(col("id")).cast("long"), countDistinct(col("id"))).collect()(0)
      val (c, m) = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      expect(c == m && c == row.getLong(2), s"$n ids are not dense 1..n (count=$c max=$m)")
    }
    Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx").foreach(dense)
    val (asset, wallet, atx, amtx, ext) =
      (t("asset"), t("wallet"), t("asset_tx"), t("asset_mint_tx"), t("asset_ext"))
    expect(ext.where(col("id") =!= col("asset_id")).isEmpty, "asset_ext id != asset_id")
    expect(ext.join(asset, ext("asset_id") === asset("id"), "left_anti").isEmpty,
      "asset_ext row without asset")
    for ((n, f) <- Seq("asset_tx" -> atx, "asset_mint_tx" -> amtx)) {
      expect(f.join(asset, f("asset_id") === asset("id"), "left_anti").isEmpty, s"$n -> asset broken")
      expect(f.where(col("wallet_id").isNotNull)
        .join(wallet, f("wallet_id") === wallet("id"), "left_anti").isEmpty, s"$n -> wallet broken")
    }
    expect(asset.join(atx.groupBy("asset_id").agg(max_by(col("wallet_id"), col("id")).as("lw")),
        asset("id") === col("asset_id"))
      .where(!(col("current_wallet_id") <=> col("lw"))).isEmpty,
      "current_wallet_id differs from the last transfer")
    r.lastTo.foreach { to =>
      val expected = src.records(new Timestamp(0L), to)
      val committed = atx.count() + amtx.count()
      expect(committed == expected, s"committed facts $committed != extracted records $expected")
    }
  }

  /** The timed periods' final tables equal one period over the same window. */
  def checkSinglePeriod(store: TableStore, r: PhaseResult): Unit = r.lastTo.foreach { to =>
    val dir = restore("single")
    val (single, driver) = open(dir)
    driver.syncPeriod(driver.pantasiaTip(), to)
    SyncParams.Tables.foreach { n =>
      expect(Fs.contentHash(store.read(n)) == Fs.contentHash(single.read(n)),
        s"$n after ${r.cycles.size} periods differs from one period over the same window")
    }
  }

  // ---- metrics --------------------------------------------------------------

  def endToEnd(r: PhaseResult): Seq[Metric] = Seq(
    Metric("records_per_s", r.recordsPerS, "records/s"),
    Metric("period_p50_s", Stats.median(r.cycles.map(_.seconds)), "s"),
    Metric("read_p50_ms", Stats.quantile(r.readMs, 0.5), "ms"),
    Metric("read_p90_ms", Stats.quantile(r.readMs, 0.9), "ms"),
    Metric("sink_bytes_per_record", r.bytesAdded.values.sum.toDouble / r.records, "bytes/record"))

  /** The traced phase: the timed phase with bench spans and the job
    * listener on. Its jobs are attributed when `layers` runs.
    */
  def tracedPhase(): (PhaseResult, TableStore, Tracer, JobListener) = {
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val tr = new Tracer(true, s"$workload-$seed")
    // sync_tip: two periods at least, so the single-period equivalence
    // check always has something to compare
    val (r, store) = phase("traced", Some(tr), minCycles = if (workload == "sync_tip") 2 else 1)
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    (r, store, tr, listener)
  }

  /** Per-layer metrics of the traced phase, per period unless the unit
    * says otherwise; then one untraced period at `local[1]` over the same
    * window as the traced phase's first, for the parallel speed-up.
    */
  def layers(traced: PhaseResult, tr: Tracer, listener: JobListener): Seq[Metric] = {
    Files.writeString(work.resolve("trace.json"),
      tr.json(listener.jobsIn(Long.MinValue, Long.MaxValue)))
    val periods = tr.spans.filter(_.name == "cycle").toSeq
    val n = periods.size.max(1).toDouble
    def spanSum(name: String) = tr.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    val jobs = periods.flatMap(s => listener.jobsIn(s.startNs, s.endNs))
    val readSpans = tr.spans.filter(_.name == "read").toSeq
    def layerJobs(file: String, fn: String = "") =
      jobs.filter(j => j.file == file && j.frame.contains(fn))
    def jobSeconds(js: Seq[JobRec]) = js.map(j => (j.endNs - j.startNs) / 1e9).sum
    val ids = layerJobs("SurrogateIds.scala")
    val idsInTransform = tr.spans.filter(_.name == "transform").map { s =>
      Stats.covered(s.startNs, s.endNs, ids.map(j => (j.startNs, j.endNs)))
    }.sum / 1e9
    val writes = jobs.filter(j => j.file == "TableStore.scala" &&
      Seq("writeNext", "appendNext", "upsertNext").exists(j.frame.contains))
    val gap = periods.map { s =>
      val js = listener.jobsIn(s.startNs, s.endNs)
      (s.endNs - s.startNs - Stats.covered(s.startNs, s.endNs, js.map(j => (j.startNs, j.endNs)))) / 1e9
    }.sum
    val stages = listener.stagesOf(jobs)
    val taskS = stages.map(_.taskNs).sum / 1e9
    val wall = periods.map(s => (s.endNs - s.startNs) / 1e9).sum
    val heaviest = stages.sortBy(-_.taskNs).headOption
    val skew = heaviest.map(h => h.durations.max.toDouble / math.max(1.0, Stats.median(h.durations.map(_.toDouble).toSeq))).getOrElse(0.0)
    val mb = 1024.0 * 1024.0
    val scanRows = stages.map(_.inputRecords).sum
    val readPlan = readSpans.map(s => tr.spans.filter(c => c.parent == s.id && c.name == "read.plan")
      .map(c => (c.endNs - c.startNs) / 1e6).sum)
    val readExec = readSpans.map(s => tr.spans.filter(c => c.parent == s.id && c.name == "read.exec")
      .map(c => (c.endNs - c.startNs) / 1e6).sum)
    val unattributed = jobs.count(_.file.isEmpty)

    spark.stop()
    ctx.spark = Graft.session("perfbench", 1)
    val (serial, _) = phase("serial", None, maxCycles = 1, reads = false)

    val rec = traced.records.toDouble
    Seq(
      Metric("driver.tip_s", (spanSum("driver.cardanoTip") + spanSum("driver.pantasiaTip")) / n, "s"),
      Metric("driver.gap_s", gap / n, "s"),
      Metric("ids.jobs", ids.size / n, "jobs"),
      Metric("ids.s", jobSeconds(ids) / n, "s"),
      Metric("transform.jobs", layerJobs("Transform.scala").size / n, "jobs"),
      Metric("transform.s", (spanSum("transform") - idsInTransform) / n, "s"),
      Metric("extract.rows", rec / n, "records"),
      Metric("extract.scan_rows", scanRows / n, "rows"),
      Metric("extract.scan_ratio", scanRows / rec, "rows/record"),
      Metric("store.write_jobs", writes.size / n, "jobs"),
      Metric("store.write_s", spanSum("store.write") / n, "s"),
      Metric("store.state_s", spanSum("store.state") / n, "s"),
      Metric("store.commit_s", spanSum("store.commit") / n, "s")) ++
    SyncParams.Tables.map(t => Metric(s"store.bytes.$t", traced.bytesAdded(t) / rec, "bytes/record")) ++
    Seq(
      Metric("store.read_plan_ms", Stats.median(readPlan), "ms"),
      Metric("read.exec_ms", Stats.median(readExec), "ms"),
      Metric("spark.jobs", jobs.size / n, "jobs"),
      Metric("spark.stages", stages.size / n, "stages"),
      Metric("spark.tasks", stages.map(_.tasks).sum / n, "tasks"),
      Metric("spark.task_s", taskS / n, "s"),
      Metric("spark.busy_ratio", taskS / (wall * cores), "ratio"),
      Metric("spark.shuffle_write_mb", stages.map(_.shuffleWrite).sum / mb / n, "MB"),
      Metric("spark.shuffle_read_mb", stages.map(_.shuffleRead).sum / mb / n, "MB"),
      Metric("spark.spill_mb", stages.map(_.spill).sum / mb / n, "MB"),
      Metric("spark.input_mb", stages.map(_.inputBytes).sum / mb / n, "MB"),
      Metric("spark.output_mb", stages.map(_.outputBytes).sum / mb / n, "MB"),
      Metric("spark.gc_s", stages.map(_.gcMs).sum / 1e3 / n, "s"),
      Metric("spark.stage_skew", skew, "ratio"),
      Metric("spark.parallel_speedup", serial.cycles.head.seconds / traced.cycles.head.seconds, "ratio"),
      Metric("error_rate", ctx.failed.toDouble / ctx.attempted, "ratio"),
      Metric("trace.unattributed_jobs", unattributed, "jobs"),
      Metric("trace.period_p50_s", Stats.median(traced.cycles.map(_.seconds)), "s"),
      Metric("trace.read_p50_ms", Stats.quantile(traced.readMs, 0.5), "ms"))
  }
}

/** The marketplace read mix run after each commit: an asset page by
  * fingerprint plus its `asset_ext`, a wallet's holdings, and a policy's
  * last 20 transfers. Half the keys are hot (the skewed assets, their
  * policies, recently active wallets), half drawn from all committed
  * history. Keys come from the generator, restricted to what is committed.
  */
final class ReadMix(ctx: Ctx, store: TableStore, src: Source, tr: Tracer) {
  private val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)

  def run(n: Int, committedTo: Timestamp): Seq[Double] = {
    val txs = src.txsUpTo(committedTo)
    val assets = src.assetMintTx.lastIndexWhere(_ < txs) + 1
    (0 until n).flatMap { i =>
      val hot = rnd.nextBoolean()
      val asset = if (hot) rnd.nextInt(math.min(CardanoGen.HotAssets, assets)) else rnd.nextInt(assets)
      val tx = if (hot) txs - 1 - rnd.nextInt(math.min(txs, 200)) else rnd.nextInt(txs)
      val t0 = System.nanoTime()
      ctx.attempted += 1
      try {
        tr("read") {
          i % 3 match {
            case 0 => assetPage(src.fingerprint(asset))
            case 1 => holdings(src.walletKey(src.txAddr(tx)))
            case _ => policyTransfers(src.assetPolicy(asset))
          }
        }
        Some((System.nanoTime() - t0) / 1e6)
      } catch {
        case NonFatal(e) =>
          ctx.failed += 1
          ctx.log(s"read failed: $e")
          None
      }
    }
  }

  private def plan(name: String): DataFrame = tr("read.plan")(store.read(name))
  private def exec(df: DataFrame) = tr("read.exec")(df.collect())

  private def assetPage(fp: String): Unit = {
    val a = exec(plan("asset").where(col("fingerprint") === fp))
    Ctx.expect(a.length == 1, s"asset page $fp: ${a.length} assets")
    val id = a(0).getAs[Long]("id")
    val e = exec(plan("asset_ext").where(col("asset_id") === id))
    Ctx.expect(e.length == 1, s"asset page $fp: ${e.length} asset_ext rows")
  }

  private def holdings(walletKey: String): Unit = {
    val w = exec(plan("wallet").where(col("address") === walletKey).select("id"))
    Ctx.expect(w.length == 1, s"holdings $walletKey: ${w.length} wallets")
    exec(plan("asset").where(col("current_wallet_id") === w(0).getLong(0)))
  }

  private def policyTransfers(policy: String): Unit = {
    val c = exec(plan("collection").where(col("policy_id") === policy).select("id"))
    Ctx.expect(c.length == 1, s"policy $policy: ${c.length} collections")
    val assets = plan("asset").where(col("collection_id") === c(0).getInt(0)).select(col("id").as("asset_id"))
    val last = exec(plan("asset_tx").join(assets, "asset_id")
      .orderBy(col("tx_time").desc, col("id").desc).limit(20))
    Ctx.expect(last.length <= 20, s"policy $policy: ${last.length} transfers")
  }
}

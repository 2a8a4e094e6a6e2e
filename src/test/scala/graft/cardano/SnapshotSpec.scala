package graft.cardano

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** SNK5 rollback, vacuum and archives, and ST4/ST7 continuous mode. */
class SnapshotSpec extends AnyFunSuite with SparkTest {

  private lazy val srcDir = {
    val d = Files.createTempDirectory("snap-src").toString
    Fixture.write(spark, d)
    d
  }

  private val tables = Schemas.targetTables.keys.toSeq.sorted

  private def rows(store: TableStore, t: String): Seq[String] =
    store.read(t).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** The committed store's violations of its invariants: dense ids, every
    * fact row's asset and wallet exist, and each asset's current wallet is
    * the wallet of its last transfer.
    */
  private def violations(store: TableStore): Seq[String] = {
    def longs(t: String, c: String): Seq[Long] =
      store.read(t).select(col(c).cast("long")).collect().toSeq
        .collect { case r if !r.isNullAt(0) => r.getLong(0) }
    val ids = Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx")
      .map(t => t -> longs(t, "id")).toMap
    val notDense = ids.collect { case (t, v) if v.sorted != (1L to v.size.toLong) => s"$t ids not dense" }
    val orphans = for {
      fact <- Seq("asset_tx", "asset_mint_tx")
      (dim, c) <- Seq("asset" -> "asset_id", "wallet" -> "wallet_id")
      if !longs(fact, c).toSet.subsetOf(ids(dim).toSet)
    } yield s"$fact.$c names a missing $dim"
    val lastWallet = store.read("asset_tx").groupBy("asset_id")
      .agg(max_by(col("wallet_id"), col("id")).as("last_wallet"))
    val wrongOwner = store.read("asset").join(lastWallet, col("id") === col("asset_id"))
      .where(!(col("current_wallet_id") <=> col("last_wallet"))).count()
    notDense.toSeq ++ orphans ++
      (if (wrongOwner > 0) Seq(s"$wrongOwner assets' wallet is not their last transfer's") else Nil)
  }

  test("rollback restores an earlier committed state; vacuum cleans stages") {
    val out = Files.createTempDirectory("snap-out").toString
    val store = new TableStore(spark, out)
    val driver = new SyncDriver(spark, srcDir, store, 120)
    driver.catchUp()
    val before = tables.map(t => t -> rows(store, t)).toMap
    def sameAsBefore(when: String): Unit =
      for (t <- tables) assert(rows(store, t) == before(t), s"table $t differs $when")

    val finalAssets = store.read("asset").count()
    val current = store.currentVersion("asset")
    assert(store.listVersions()("asset")._1 == current && current > 2, "multi-period run expected")

    // snapshot read: a mid version's state differs from final
    val mid = current / 2
    val midAssets = store.readVersion("asset", mid).count()
    assert(midAssets <= finalAssets)

    // roll back through every retained version, newest first: each one
    // keeps the invariants, and catchUp then re-syncs the same store
    for (v <- current - 1 to 1L by -1) {
      store.rollback(v)
      assert(store.currentVersion("asset") == v)
      if (v == mid) assert(store.read("asset").count() == midAssets)
      assert(violations(store).isEmpty, s"after rollback to $v")
    }
    driver.catchUp()
    sameAsBefore("after rollback to 1 and catchUp")
    assert(violations(store).isEmpty)

    // one period staged but never committed: vacuumStaged removes exactly
    // its dirs, and the committed state reads the same rows
    val onDisk = store.listVersions()
    val noCommit = new TableStore(spark, out) {
      override def commit(versions: Map[String, Long]): Unit = throw new IllegalStateException("crash")
    }
    intercept[IllegalStateException] {
      new SyncDriver(spark, srcDir, noCommit, 120).syncPeriod(driver.genesis, driver.pantasiaTip())
    }
    val stagedOnly = store.listVersions()
      .map { case (t, (_, vs)) => t -> vs.diff(onDisk(t)._2) }.filter(_._2.nonEmpty)
    assert(stagedOnly.keySet == Set("wallet", "collection", "asset", "asset_tx", "asset_mint_tx", "asset_ext") &&
      stagedOnly.values.forall(_.size == 1), s"one staged version per synced table: $stagedOnly")
    assert(store.vacuumStaged() == stagedOnly.size)
    assert(store.listVersions() == onDisk)
    sameAsBefore("after vacuumStaged")

    val removed = store.vacuumSnapshots(keep = 1)
    assert(removed > 0, "old full versions should be vacuumable")
    // current state still readable after vacuum
    assert(store.read("asset").count() == finalAssets)
    assert(store.read("asset_ext").count() == 6)

    // a vacuumed version neither reads nor rolls back, and the failed
    // rollback leaves the manifest as it was
    val now = store.currentVersion("asset")
    val manifest = java.nio.file.Paths.get(out, "_manifest")
    val manifestBytes = Files.readAllBytes(manifest)
    val e = intercept[IllegalArgumentException](store.rollback(1))
    assert(e.getMessage.contains(s"oldest version still restorable is ${now - 1}"), e.getMessage)
    assert(java.util.Arrays.equals(Files.readAllBytes(manifest), manifestBytes), "_manifest changed")
    intercept[IllegalArgumentException](store.readVersion("asset", 1))
    // the oldest retained version rolls back and re-syncs to the same store
    store.rollback(now - 1)
    assert(violations(store).isEmpty, s"after rollback to ${now - 1}")
    driver.catchUp()
    sameAsBefore("after rollback past a vacuum and catchUp")
    assert(violations(store).isEmpty)
  }

  test("single-artifact archive round-trips the store byte-identically; list/pick works") {
    val out = Files.createTempDirectory("arc-out").toString
    val store = new TableStore(spark, out)
    new SyncDriver(spark, srcDir, store, 120).catchUp()
    val tool = new SnapshotTool(store)
    val backups = Files.createTempDirectory("arc-backups").toString

    val f1 = tool.archive(backups, "nightly-01")
    tool.archive(backups, "nightly-02")
    assert(tool.listArchives(backups) == Seq("nightly-01", "nightly-02"))

    // determinism: same tree -> byte-identical artifacts
    val b1 = Files.readAllBytes(java.nio.file.Paths.get(f1.stripPrefix("file:")))
    val b2 = Files.readAllBytes(java.nio.file.Paths.get(
      s"$backups/nightly-02.zip"))
    assert(java.util.Arrays.equals(b1, b2), "archive bytes must be deterministic")

    // restore into a fresh root: every file byte-identical to the original
    val restored = Files.createTempDirectory("arc-restored").toString + "/store"
    tool.restoreArchive(f1, restored)
    def walk(root: String): Map[String, Array[Byte]] = {
      val base = java.nio.file.Paths.get(root)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.readAllBytes(p))
        .toMap
    }
    val orig = walk(out)
    val back = walk(restored)
    assert(orig.keySet == back.keySet, "restored tree differs in file set")
    for ((k, v) <- orig)
      assert(java.util.Arrays.equals(v, back(k)), s"file $k not byte-identical")

    // the restored artifact is a WORKING store: same contents, same tips
    val restoredStore = new TableStore(spark, restored)
    for (t <- Seq("wallet", "asset", "asset_tx", "asset_mint_tx")) {
      val a = store.read(t).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      val b = restoredStore.read(t).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      assert(a.toSeq == b.toSeq, s"restored table $t differs")
    }

    // restores never clobber an existing store
    intercept[IllegalArgumentException] { tool.restoreArchive(f1, restored) }
  }

  test("restoreArchive rejects zip-slip entries: traversal, absolute, drive-letter") {
    val store = new TableStore(spark,
      Files.createTempDirectory("slip-store").toString)
    val tool = new SnapshotTool(store)
    def craft(entry: String): String = {
      val f = Files.createTempFile("evil", ".zip")
      val zos = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(f))
      try {
        zos.putNextEntry(new java.util.zip.ZipEntry(entry))
        zos.write("owned".getBytes)
        zos.closeEntry()
      } finally zos.close()
      f.toString
    }
    // Hadoop's Path(parent, child) resolves an absolute child against the
    // FS root — each of these must be rejected BEFORE any write happens
    for (bad <- Seq("../escape", "sub/../../escape", "/etc/cron.d/x",
        "\\server\\share\\x", "C:evil", "c:/evil")) {
      val dest = Files.createTempDirectory("slip-dest").toString + "/store"
      intercept[IllegalArgumentException] {
        tool.restoreArchive(craft(bad), dest)
      }
      assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dest.stripPrefix("file:"))),
        s"no file may be created for unsafe entry '$bad'")
    }
    // and a benign relative entry still restores
    val okDest = Files.createTempDirectory("slip-ok").toString + "/store"
    tool.restoreArchive(craft("tbl/part-0000.parquet"), okDest)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$okDest/tbl/part-0000.parquet")))
  }

  test("interactive restore CLI: list, pick by index, reference error answers") {
    val out = Files.createTempDirectory("cli-out").toString
    val store = new TableStore(spark, out)
    new SyncDriver(spark, srcDir, store, 120).catchUp()
    val tool = new SnapshotTool(store)
    val backups = Files.createTempDirectory("cli-backups").toString
    tool.archive(backups, "monthly")
    tool.archive(backups, "nightly")

    def run(input: String, dest: String): (Option[String], Seq[String]) = {
      val printed = Seq.newBuilder[String]
      val in = new java.io.BufferedReader(new java.io.StringReader(input))
      val r = SnapshotTool.runRestore(tool, backups, dest, in, printed += _)
      (r, printed.result())
    }

    // happy path: pick 2 -> "nightly" restored into a working store
    val dest = Files.createTempDirectory("cli-dest").toString + "/store"
    val (picked, lines) = run("2\n", dest)
    assert(picked.contains("nightly"))
    assert(lines.contains("Found the following backups :"))
    assert(lines.contains("1: monthly") && lines.contains("2: nightly"),
      "archives must list 1-based in sorted order")
    val restored = new TableStore(spark, dest)
    assert(restored.read("asset").count() == store.read("asset").count())

    // reference error answers (backup_restore.py:343-347)
    val d2 = Files.createTempDirectory("cli-dest2").toString + "/store"
    val (r2, l2) = run("not-a-number\n", d2)
    assert(r2.isEmpty &&
      l2.contains("Error parsing integer. Please enter an integer."))
    val (r3, l3) = run("7\n", d2)
    assert(r3.isEmpty &&
      l3.contains("Please enter an index number from the following list") &&
      l3.count(_ == "2: nightly") == 2, "out-of-range re-lists the archives")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d2)),
      "rejected picks must not touch the destination")

    // empty backup dir
    val (r4, l4) = run("1\n", d2)
    val emptyDir = Files.createTempDirectory("cli-empty").toString
    val (r5, l5) = {
      val printed = Seq.newBuilder[String]
      val in = new java.io.BufferedReader(new java.io.StringReader("1\n"))
      (SnapshotTool.runRestore(tool, emptyDir, d2, in, printed += _), printed.result())
    }
    assert(r5.isEmpty && l5.exists(_.startsWith("No backups found")))
    assert(r4.contains("monthly"), "valid pick on the second dest works")
  }

  test("runContinuously syncs to tip, then stops gracefully on request") {
    val out = Files.createTempDirectory("cont-out").toString
    val store = new TableStore(spark, out)
    val driver = new SyncDriver(spark, srcDir, store, 120)
    val t = new Thread(() => driver.runContinuously(pollSeconds = 1, maxCycles = 3))
    t.start()
    // let it catch up, then request stop
    val deadline = System.currentTimeMillis() + 120000
    while (store.read("asset_tx").count() < 5 && System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    driver.requestStop()
    t.join(60000)
    assert(!t.isAlive, "driver loop did not stop")
    assert(store.read("asset_tx").count() == 5)
    assert(store.read("asset").count() == 6)
  }

  test("a source dir with no block table yet is an empty chain: the loop keeps polling") {
    val src = Files.createTempDirectory("fresh-src").toString + "/source"
    val store = new TableStore(spark, Files.createTempDirectory("fresh-out").toString)
    val driver = new SyncDriver(spark, src, store, 120)
    assert(driver.cardanoTip().isEmpty)
    assert(driver.runContinuously(pollSeconds = 0, maxCycles = 3) == 0)
    // once an export fills the dir, the next run syncs it
    Fixture.write(spark, src)
    assert(driver.runContinuously(pollSeconds = 0, maxCycles = 1) > 0)
    assert(store.read("asset_tx").count() == 5)
  }

  test("runContinuously probes the source tip once per cycle") {
    val store = new TableStore(spark, Files.createTempDirectory("probe-out").toString)
    var probes = 0
    var periods = 0
    val driver = new SyncDriver(spark, srcDir, store, 120) {
      override def cardanoTip(): Option[java.sql.Timestamp] = { probes += 1; super.cardanoTip() }
      override def syncPeriod(from: java.sql.Timestamp, to: java.sql.Timestamp): Unit =
        periods += 1
    }
    // one cycle on a new tip: one probe, then the whole catch-up
    assert(driver.runContinuously(pollSeconds = 1, maxCycles = 1) == periods)
    assert(periods > 0)
    assert(probes == 1, s"$probes tip probes in one cycle")
  }

  test("a stop request ends runContinuously's poll wait promptly") {
    val store = new TableStore(spark, Files.createTempDirectory("poll-out").toString)
    new SyncDriver(spark, srcDir, store, 120).catchUp()
    val secondProbe = new java.util.concurrent.CountDownLatch(2)
    val driver = new SyncDriver(spark, srcDir, store, 120) {
      override def cardanoTip(): Option[java.sql.Timestamp] = {
        val tip = super.cardanoTip(); secondProbe.countDown(); tip
      }
    }
    // cycle 1 finds nothing to sync; cycle 2 sees the same tip and waits 60 s
    val t = new Thread(() => driver.runContinuously(pollSeconds = 60))
    t.start()
    assert(secondProbe.await(120, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(300)
    driver.requestStop()
    t.join(2000)
    assert(!t.isAlive, "driver loop did not stop within 2 s of the request")
  }
}

package graft.cardano

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** SNK5 snapshot/restore + ST4/ST7 continuous mode. */
class SnapshotSpec extends AnyFunSuite with SparkTest {

  private lazy val srcDir = {
    val d = Files.createTempDirectory("snap-src").toString
    Fixture.write(spark, d)
    d
  }

  test("rollback restores an earlier committed state; vacuum cleans stages") {
    val out = Files.createTempDirectory("snap-out").toString
    val store = new TableStore(spark, out)
    val driver = new SyncDriver(spark, srcDir, store, 120)
    driver.catchUp()
    val tool = new SnapshotTool(store)

    val finalAssets = store.read("asset").count()
    val versions = tool.listVersions()
    assert(versions("asset")._1 > 1, "multi-period run expected")

    // snapshot read: version 6 state differs from final
    val mid = store.currentVersion("asset") / 2
    val midAssets = store.readVersion("asset", mid).count()
    assert(midAssets <= finalAssets)

    // rollback all tables to mid, re-sync catches back up to the same state
    tool.rollback(mid)
    assert(store.read("asset").count() == midAssets)
    driver.catchUp()
    assert(store.read("asset").count() == finalAssets)
    assert(store.read("asset_tx").count() == 5)

    // one period staged but never committed: vacuumStaged removes exactly
    // its dirs, and the committed state reads the same rows
    def rows(t: String) = store.read(t).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val committed = Schemas.targetTables.keys.map(t => t -> rows(t)).toMap
    val onDisk = tool.listVersions()
    val noCommit = new TableStore(spark, out) {
      override def commit(versions: Map[String, Long]): Unit = throw new IllegalStateException("crash")
    }
    intercept[IllegalStateException] {
      new SyncDriver(spark, srcDir, noCommit, 120).syncPeriod(driver.genesis, driver.pantasiaTip())
    }
    val stagedOnly = tool.listVersions()
      .map { case (t, (_, vs)) => t -> vs.diff(onDisk(t)._2) }.filter(_._2.nonEmpty)
    assert(stagedOnly.keySet == Set("wallet", "collection", "asset", "asset_tx", "asset_mint_tx", "asset_ext") &&
      stagedOnly.values.forall(_.size == 1), s"one staged version per synced table: $stagedOnly")
    assert(tool.vacuumStaged() == stagedOnly.size)
    assert(tool.listVersions() == onDisk)
    for ((t, r) <- committed) assert(rows(t) == r, s"table $t changed by vacuumStaged")
    val removed = tool.vacuumSnapshots(keep = 1)
    assert(removed > 0, "old full versions should be vacuumable")
    // current state still readable after vacuum
    assert(store.read("asset").count() == finalAssets)
    assert(store.read("asset_ext").count() == 6)
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

package graft.cardano

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Versioned-store contract: a mutable table's version is one full dir,
  * an append table's the union of its delta dirs, staged versions stay
  * unseen until committed, vacuum keeps what retained versions read, a
  * merge-on-read layer left by an older build is refused, never half-read,
  * and every staged file is zstd Parquet with v2 pages, readable beside
  * versions an older build staged as snappy with v1 pages.
  */
class UpsertStoreSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def assetDf(rows: (Long, Long)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, w) => org.apache.spark.sql.Row(
        id, 1, s"h$id", s"n$id", s"fp$id", w: java.lang.Long) }.asJava,
      Schemas.asset)

  private def wallets(ids: Long*): DataFrame = spark.createDataFrame(
    ids.map(i => org.apache.spark.sql.Row(i, s"addr$i", "ENTERPRISE", null)).asJava,
    Schemas.wallet)

  /** (codec, v2 pages) of every column chunk of every parquet file under
    * `dir`, read from the file footers.
    */
  private def chunkFormats(dir: String): Seq[(CompressionCodecName, Boolean)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toUri), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getCodec -> c.getEncodingStats.usesV2Pages)
      finally reader.close()
    }
  }

  private def owners(df: DataFrame): Map[Long, Long] =
    df.select("id", "current_wallet_id").as[(Long, Long)].collect().toMap

  test("append tables: committed versions with no delta dir; staged ones stay unseen") {
    val store = new TableStore(spark, Files.createTempDirectory("gaps").toString)
    def ids(df: DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet
    store.commit(Map("wallet" -> store.appendNext("wallet", wallets(1L, 2L))))
    // v2 and v3 commit other tables only: the wallet table skips them
    store.commit(Map("wallet" -> 3L))
    store.commit(Map("wallet" -> store.appendNext("wallet", wallets(3L))))
    // a staged, uncommitted v5
    store.appendNext("wallet", wallets(4L))
    assert(store.currentVersion("wallet") == 4L)
    assert(ids(store.read("wallet")) == Set(1L, 2L, 3L))
    assert(ids(store.readVersion("wallet", 3)) == Set(1L, 2L))
    assert(ids(store.readVersion("wallet", 2)) == Set(1L, 2L))
    assert(store.nextIds(Seq("wallet")) == Map("wallet" -> 4L))
    // a mutable table's full version and a table with no version, in the
    // same aggregation
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> 10L, 4L -> 10L))))
    assert(store.nextIds(Seq("asset", "wallet", "collection")) ==
      Map("asset" -> 5L, "wallet" -> 4L, "collection" -> 1L))
  }

  test("vacuum keeps every dir a retained version still resolves through") {
    val store = new TableStore(spark, Files.createTempDirectory("vac").toString)
    for (w <- 1L to 4L)
      store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> w, 2L -> 10L * w))))
    val current = owners(store.read("asset"))
    assert(current == Map(1L -> 4L, 2L -> 40L))
    def fulls = new java.io.File(store.root, "asset/full").list().sorted.toSeq
    val tool = new SnapshotTool(store)
    // keep = 1: the horizon is v3, so v1 and v2 go
    assert(tool.vacuumSnapshots(keep = 1) == 2)
    assert(fulls == Seq("v=3", "v=4"))
    assert(owners(store.readVersion("asset", 3)) == Map(1L -> 3L, 2L -> 30L))
    // keep = 0: only the current version stays
    assert(tool.vacuumSnapshots(keep = 0) == 1)
    assert(fulls == Seq("v=4"))
    assert(owners(store.read("asset")) == current)
  }

  test("a full version holding a legacy _upsert marker fails on read and nextIds") {
    val store = new TableStore(spark, Files.createTempDirectory("legacy").toString)
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(1L -> 10L, 2L -> 10L))))
    // v2 as an older build staged a merge-on-read layer: changed rows only,
    // plus a marker file holding the merge key
    store.commit(Map("asset" -> store.writeNext("asset", assetDf(2L -> 20L))))
    Files.write(java.nio.file.Paths.get(store.root, "asset", "full", "v=2", "_upsert"),
      "id\n".getBytes("UTF-8"))
    for (e <- Seq(
        intercept[IllegalStateException](store.read("asset")),
        intercept[IllegalStateException](store.nextIds(Seq("asset")))))
      assert(e.getMessage.contains("asset version 2"), e.getMessage)
    // the full version below it still reads
    assert(owners(store.readVersion("asset", 1)) == Map(1L -> 10L, 2L -> 10L))
  }

  test("writeNext and appendNext stage zstd-compressed parquet with v2 data pages") {
    val store = new TableStore(spark, Files.createTempDirectory("format").toString)
    store.commit(Map(
      "wallet" -> store.appendNext("wallet", wallets(1L, 2L, 3L)),
      "asset" -> store.writeNext("asset", assetDf(1L -> 1L, 2L -> 3L))))
    for (dir <- Seq("wallet/delta/v=1", "asset/full/v=1")) {
      val chunks = chunkFormats(s"${store.root}/$dir")
      assert(chunks.nonEmpty, s"$dir holds no column chunk")
      assert(chunks.forall(_ == (CompressionCodecName.ZSTD -> true)), s"$dir: $chunks")
    }
  }

  test("a store staged as snappy with v1 pages keeps syncing in the new format") {
    val srcDir = Files.createTempDirectory("upgrade-src").toString
    Fixture.write(spark, srcDir)
    val mixedRoot = Files.createTempDirectory("upgrade").toString
    // the previous build's staging: snappy, v1 pages, same layout
    val legacy = new TableStore(spark, mixedRoot) {
      private def stageV1(df: DataFrame, dir: String): Unit =
        df.write.mode("overwrite").option("compression", "snappy")
          .option("parquet.writer.version", "v1").parquet(s"$root/$dir")
      override def writeNext(name: String, df: DataFrame): Long = {
        val next = currentVersion(name) + 1
        stageV1(df, s"$name/full/v=$next"); next
      }
      override def appendNext(name: String, delta: DataFrame): Long = {
        val next = currentVersion(name) + 1
        stageV1(delta, s"$name/delta/v=$next"); next
      }
    }
    val fresh = new TableStore(spark, Files.createTempDirectory("upgrade-fresh").toString)
    val bounds = Seq("2021-03-02 11:00:00", "2021-03-02 13:00:00",
      "2021-03-02 14:30:00", "2021-03-02 16:00:00").map(Timestamp.valueOf)
    val windows = (new SyncDriver(spark, srcDir, fresh).genesis +: bounds).sliding(2).toSeq
    def sync(store: TableStore, ws: Seq[Seq[Timestamp]]): SyncDriver = {
      val driver = new SyncDriver(spark, srcDir, store, 120)
      ws.foreach { case Seq(from, to) => driver.syncPeriod(from, to) }
      driver
    }
    sync(fresh, windows)
    sync(legacy, windows.take(2))
    assert(chunkFormats(mixedRoot).toSet == Set(CompressionCodecName.SNAPPY -> false))
    val upgraded = new TableStore(spark, mixedRoot)
    val driver = sync(upgraded, windows.drop(2))
    assert(chunkFormats(mixedRoot).toSet ==
      Set(CompressionCodecName.SNAPPY -> false, CompressionCodecName.ZSTD -> true))

    def contents(store: TableStore, t: String): Seq[String] =
      store.read(t).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val tables = Schemas.targetTables.keys.toSeq
    for (t <- tables)
      assert(contents(upgraded, t) == contents(fresh, t), s"table $t differs")
    val idTables = Seq("wallet", "collection", "asset", "asset_tx", "asset_mint_tx")
    assert(upgraded.nextIds(idTables) == fresh.nextIds(idTables))
    assert(driver.pantasiaTip() == bounds.last)

    // the mixed store archives and restores into a store that reads the same
    val tool = new SnapshotTool(upgraded)
    val archive = tool.archive(Files.createTempDirectory("upgrade-backups").toString, "mixed")
    val dest = Files.createTempDirectory("upgrade-restored").toString + "/store"
    tool.restoreArchive(archive, dest)
    val restored = new TableStore(spark, dest)
    for (t <- tables)
      assert(contents(restored, t) == contents(upgraded, t), s"restored table $t differs")
    assert(restored.nextIds(idTables) == fresh.nextIds(idTables))
  }
}

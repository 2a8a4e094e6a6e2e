package graft.cardano

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Target-table persistence (SURVEY.md §2.1 SNK1-SNK5).
  *
  * Layout per table under `<root>/<name>/`:
  *   - `delta/v=N/` — an append table's period-N delta (facts, dims);
  *   - `full/v=N/`  — a mutable table's complete contents as of period N
  *     (`asset`, `asset_ext`): each period stages the whole recomputed
  *     table, the plain-parquet form of the reference's one
  *     UPDATE…FROM VALUES per period (SNK2);
  * plus one root-level `_manifest` file holding every table's committed
  * version (`name=N` lines).
  *
  * A period stages version N+1 dirs for every table, then `commit` writes the
  * whole table→version map to a tmp file and atomically renames it over
  * `_manifest` — the reference's single transaction per period (SNK3) as ONE
  * filesystem rename, so a crash can never half-commit a period and readers
  * never observe a missing pointer. Readers only see data at/below their
  * table's manifest entry, so
  *   - appends are O(delta): a version is the union of delta dirs 1..N;
  *   - a mutable table's version is its one `full/v=N` dir, rewritten
  *     whole each period (O(dim));
  *   - re-running a failed period overwrites its staged dirs (idempotent,
  *     ST6 — an intentional upgrade over the reference);
  *   - snapshots are free: old versions stay on disk until vacuumed, and
  *     `readVersion` is the pg_dump/pg_restore path (SNK5) collapsed to a
  *     pinned read.
  *
  * File format: every staged version is Parquet compressed with zstd and
  * written with v2 data pages, whatever the session's defaults.
  *   - The tables are mostly hex and bech32 strings (`tx_hash`,
  *     `fingerprint`, `hash`, addresses). An LZ-only codec such as snappy
  *     barely shrinks them; zstd's entropy stage does.
  *   - `id` columns ascend within a file (ids are assigned in record
  *     order, and `Transform` sorts each partition of the mutable tables
  *     by id), and so do pointers that track them, such as
  *     `asset_ext.asset_id`. Where a dictionary does not pay, v2 pages
  *     fall back to `DELTA_BINARY_PACKED` for such columns; v1 pages fall
  *     back to plain values.
  * Parquet records the codec and encodings per column chunk, so a store
  * that already holds versions in another format (snappy, v1 pages) reads
  * them unchanged beside the new ones: no migration.
  */
class TableStore(val spark: SparkSession, val root: String) {

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Manifest I/O goes through the RAW filesystem: on a checksummed local
  // fs, ChecksumFs renames the data file and its .crc sidecar as TWO
  // operations, so a concurrent reader can observe new manifest bytes
  // against the old checksum (flaky ChecksumException under the
  // continuous-sync loop). With no sidecar the rename is truly one op.
  private val rawFs = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def tableDir(name: String) = new Path(root, name)
  private def manifestFile = new Path(root, "_manifest")
  private def deltaDir(name: String, v: Long) = new Path(tableDir(name), s"delta/v=$v")
  private def fullDir(name: String, v: Long) = new Path(tableDir(name), s"full/v=$v")

  /** The committed table→version map. Absent file (fresh store) = all 0. */
  def manifest(): Map[String, Long] = {
    if (!rawFs.exists(manifestFile)) return Map.empty
    val in = rawFs.open(manifestFile)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    text.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      line.substring(0, i) -> line.substring(i + 1).toLong
    }.toMap
  }

  def currentVersion(name: String): Long = manifest().getOrElse(name, 0L)

  private def writeManifest(m: Map[String, Long]): Unit = {
    val tmp = new Path(root, s"_manifest.tmp")
    val out = rawFs.create(tmp, true)
    try out.write(m.toSeq.sorted.map { case (n, v) => s"$n=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // drop checksum sidecars left by any pre-raw writer so a checksummed
    // reader can never pair stale crc bytes with the new manifest
    fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(manifestFile), false)
        c.getRawFileSystem.delete(c.getChecksumFile(tmp), false)
      case _ => ()
    }
    // Single atomic rename-with-overwrite: POSIX rename on the raw local
    // fs; FileContext's overwrite rename on HDFS-like stores (rawFs eq fs
    // there). No delete-then-rename window either way.
    if (rawFs eq fs) {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(manifestFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } else require(rawFs.rename(tmp, manifestFile),
      s"manifest rename failed: $tmp -> $manifestFile")
  }

  /** A local relation, so the optimizer prunes it from the plans that
    * read it, and an aggregate over empty tables alone runs no job. */
  private def empty(name: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      Schemas.targetTables(name))

  /** The version numbers of a table's `delta` or `full` (`kind`) dirs,
    * ascending — ONE directory listing, however many versions the store
    * has staged (per-version `exists` probes would make every read's
    * planning grow with store age).
    */
  def versions(name: String, kind: String): Seq[Long] = {
    val listed =
      try fs.listStatus(new Path(tableDir(name), kind)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith("v=")) n.drop(2).toLongOption else None
    }.sorted
  }

  /** The delta dirs of an append table's version `v`, oldest first
    * (versions the table skipped have no dir).
    */
  private def appendDirs(name: String, v: Long): Seq[String] =
    versions(name, "delta").filter(_ <= v).map(deltaDir(name, _).toString)

  /** The dirs holding version `v` of a table: a mutable table's `full/v=N`
    * when it has one, else the append table's delta dirs 1..N.
    *
    * A `full/v=N` holding an `_upsert` marker is a merge-on-read layer
    * staged by an older build: only the rows that period changed. The
    * parquet reader skips `_`-prefixed files, so reading it as a full
    * version would silently lose every other row; such a store must be
    * compacted by the build that wrote it (stage a full version and commit).
    */
  private def versionDirs(name: String, v: Long): Seq[String] = {
    if (v <= 0L) return Seq.empty
    val full = fullDir(name, v)
    val files =
      try fs.listStatus(full).toSeq
      catch { case _: java.io.FileNotFoundException => return appendDirs(name, v) }
    if (files.exists(_.getPath.getName == "_upsert"))
      throw new IllegalStateException(
        s"$name version $v is a merge-on-read upsert layer ($full/_upsert); " +
          "this build reads only full versions")
    Seq(full.toString)
  }

  /** Read a table at version `v` (its committed current by default). */
  def readVersion(name: String, v: Long): DataFrame = {
    val dirs = versionDirs(name, v)
    if (dirs.isEmpty) empty(name)
    else spark.read.schema(Schemas.targetTables(name)).parquet(dirs: _*)
  }

  def read(name: String): DataFrame = readVersion(name, currentVersion(name))

  /** The writer of one staged version dir, in the store's file format:
    * zstd and v2 data pages (see the class doc for why). Overwrite keeps a
    * re-run of a failed period idempotent. The caller runs the write, so
    * its jobs carry the `writeNext` / `appendNext` call site that job
    * attribution (perfbench's trace) reads.
    */
  private def stager(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.writer.version", "v2")

  /** Stage `df` as the table's complete next-version contents. */
  def writeNext(name: String, df: DataFrame): Long = {
    val next = currentVersion(name) + 1
    stager(df).parquet(fullDir(name, next).toString)
    next
  }

  /** Stage `delta` as the table's next-version append. */
  def appendNext(name: String, delta: DataFrame): Long = {
    val next = currentVersion(name) + 1
    stager(delta).parquet(deltaDir(name, next).toString)
    next
  }

  /** Atomically commit a set of staged versions (the per-period txn, SNK3):
    * the merged map lands in one manifest rename, all tables or none.
    */
  def commit(versions: Map[String, Long]): Unit =
    writeManifest(manifest() ++ versions)

  /** SRC5: next id = max(id)+1 (1 for an empty table) of each of `names`,
    * from ONE aggregation over their committed versions: the tables' `id`
    * columns, tagged by table, in a single `groupBy(table).max` — two
    * Spark jobs for all tables, none when all are empty. Spark
    * does not answer `max()` from parquet footer statistics by default,
    * so each table is a column scan.
    */
  def nextIds(names: Seq[String]): Map[String, Long] = {
    val committed = manifest()
    val maxIds = names
      .map(n => readVersion(n, committed.getOrElse(n, 0L))
        .select(lit(n).as("t"), col("id").cast("long").as("id")))
      .reduce(_.unionByName(_)).groupBy(col("t")).agg(max(col("id")))
      .collect().collect { case r if !r.isNullAt(1) => r.getString(0) -> r.getLong(1) }.toMap
    names.map(n => n -> maxIds.get(n).fold(1L)(_ + 1L)).toMap
  }

  /** [[nextIds]] of one table. */
  def nextId(name: String): Long = nextIds(Seq(name))(name)
}

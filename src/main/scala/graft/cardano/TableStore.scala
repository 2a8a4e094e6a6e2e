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
  *   - snapshots are free (SNK5): old versions stay on disk until
  *     [[vacuumSnapshots]] drops them, [[readVersion]] reads one, and
  *     [[rollback]] points the manifest back at one.
  *
  * This class is the only code that knows how versions sit on disk: every
  * read, rollback and vacuum resolves a version through one rule,
  * `versionDirs`. `SnapshotTool` archives the store as a plain file tree.
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
  private def versionDir(name: String, kind: String, v: Long) =
    new Path(tableDir(name), s"$kind/v=$v")

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
  private def versions(name: String, kind: String): Seq[Long] = {
    val listed =
      try fs.listStatus(new Path(tableDir(name), kind)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith("v=")) n.drop(2).toLongOption else None
    }.sorted
  }

  /** The full version that version `v` of a mutable table reads: the
    * newest of `fulls` at or below `v`. */
  private def fullFor(fulls: Seq[Long], v: Long): Option[Long] = fulls.filter(_ <= v).lastOption

  /** The dirs holding version `v` of a table — the one rule by which
    * reads, [[rollback]] and [[vacuumSnapshots]] resolve a version:
    *   - a mutable table's `full/v=N`, N by [[fullFor]];
    *   - else an append table's delta dirs 1..`v`, oldest first (versions
    *     the table skipped have no dir);
    *   - else none: the table is empty at `v`.
    * A mutable table whose every full version lies above `v` had `v`
    * vacuumed. That fails, naming the oldest version still restorable:
    * read as empty, it would orphan every fact row.
    *
    * A mutable table's current version costs one listing (its own
    * `full/v=N`) and an append table's two (that probe, then `delta/`);
    * only a version with neither lists `full/` too.
    *
    * A `full/v=N` holding an `_upsert` marker is a merge-on-read layer
    * staged by an older build: only the rows that period changed. The
    * parquet reader skips `_`-prefixed files, so reading it as a full
    * version would silently lose every other row; such a store must be
    * compacted by the build that wrote it (stage a full version and commit).
    */
  private def versionDirs(name: String, v: Long): Seq[Path] = {
    if (v <= 0L) return Seq.empty
    val full = versionDir(name, "full", v)
    val files =
      try fs.listStatus(full).toSeq
      catch { case _: java.io.FileNotFoundException => return dirsBelow(name, v) }
    if (files.exists(_.getPath.getName == "_upsert"))
      throw new IllegalStateException(
        s"$name version $v is a merge-on-read upsert layer ($full/_upsert); " +
          "this build reads only full versions")
    Seq(full)
  }

  /** [[versionDirs]] of a version `v` with no `full/v=N` of its own. */
  private def dirsBelow(name: String, v: Long): Seq[Path] = {
    val deltas = versions(name, "delta").filter(_ <= v)
    if (deltas.nonEmpty) return deltas.map(versionDir(name, "delta", _))
    val fulls = versions(name, "full")
    fullFor(fulls, v) match {
      case Some(older) => versionDirs(name, older)
      case None if fulls.isEmpty => Seq.empty
      case None => throw new IllegalArgumentException(
        s"$name version $v was vacuumed; the oldest version still restorable is ${fulls.head}")
    }
  }

  /** Read a table at version `v` (its committed current by default). */
  def readVersion(name: String, v: Long): DataFrame = {
    val dirs = versionDirs(name, v)
    if (dirs.isEmpty) empty(name)
    else spark.read.schema(Schemas.targetTables(name)).parquet(dirs.map(_.toString): _*)
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
    stager(df).parquet(versionDir(name, "full", next).toString)
    next
  }

  /** Stage `delta` as the table's next-version append. */
  def appendNext(name: String, delta: DataFrame): Long = {
    val next = currentVersion(name) + 1
    stager(delta).parquet(versionDir(name, "delta", next).toString)
    next
  }

  /** Atomically commit a set of staged versions (the per-period txn, SNK3):
    * the merged map lands in one manifest rename, all tables or none.
    */
  def commit(versions: Map[String, Long]): Unit =
    writeManifest(manifest() ++ versions)

  /** Every table's committed version and the versions it has on disk,
    * ascending; those above the committed one are aborted stages.
    */
  def listVersions(): Map[String, (Long, Seq[Long])] = {
    val committed = manifest()
    Schemas.targetTables.keys.map { t =>
      t -> (committed.getOrElse(t, 0L), (versions(t, "delta") ++ versions(t, "full")).distinct.sorted)
    }.toMap
  }

  /** Restore (SNK5): atomically point every table back to `version`; a
    * table already at or below it stays. Each target is resolved by
    * [[versionDirs]] first, so a version [[vacuumSnapshots]] dropped fails
    * before the manifest is touched.
    */
  def rollback(version: Long): Unit = {
    require(version >= 0L, s"negative version $version")
    val committed = manifest()
    val target = Schemas.targetTables.keys
      .map(t => t -> math.min(version, committed.getOrElse(t, 0L))).toMap
    target.foreach { case (t, v) => versionDirs(t, v) }
    writeManifest(committed ++ target)
  }

  /** Drop staged-but-uncommitted version dirs (aborted periods). */
  def vacuumStaged(): Int = {
    val committed = manifest()
    val aborted = for {
      t <- Schemas.targetTables.keys.toSeq
      kind <- Seq("delta", "full")
      v <- versions(t, kind) if v > committed.getOrElse(t, 0L)
    } yield versionDir(t, kind, v)
    aborted.foreach(fs.delete(_, true))
    aborted.size
  }

  /** Drop full versions of the mutable tables that no version from
    * `current - keep` up reads ([[versionDirs]]): every full version is
    * complete on its own, so those below the one [[fullFor]] picks at that
    * horizon go. Delta dirs are all live by design.
    */
  def vacuumSnapshots(keep: Int = 2): Int = {
    require(keep >= 0, s"negative keep $keep")
    val committed = manifest()
    val dropped = Schemas.targetTables.keys.toSeq.flatMap { t =>
      val fulls = versions(t, "full")
      val oldestKept = fullFor(fulls, committed.getOrElse(t, 0L) - keep).getOrElse(0L)
      fulls.filter(_ < oldestKept).map(versionDir(t, "full", _))
    }
    dropped.foreach(fs.delete(_, true))
    dropped.size
  }

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

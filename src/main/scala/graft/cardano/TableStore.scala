package graft.cardano

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Target-table persistence (SURVEY.md §2.1 SNK1-SNK5).
  *
  * Layout per table under `<root>/<name>/`:
  *   - `delta/v=N/` — an append table's period-N delta (facts, dims);
  *   - `full/v=N/`  — a mutable table's complete contents as of period N
  *     (`asset`, `asset_ext` — the plain-parquet stand-in for a
  *     Delta/Iceberg MERGE, which is the intended production sink);
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
  *   - re-running a failed period overwrites its staged dirs (idempotent,
  *     ST6 — an intentional upgrade over the reference);
  *   - snapshots are free: old versions stay on disk until vacuumed, and
  *     `readVersion` is the pg_dump/pg_restore path (SNK5) collapsed to a
  *     pinned read.
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

  private def empty(name: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.targetTables(name))

  /** The version numbers staged under `<table>/<kind>/` (`delta` or
    * `full`), newest first — ONE directory listing, however many versions
    * the store has committed (per-version `exists` probes would make every
    * read's planning grow with store age).
    */
  private def stagedVersions(name: String, kind: String): Seq[Long] = {
    val listed =
      try fs.listStatus(new Path(tableDir(name), kind)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith("v=")) n.drop(2).toLongOption else None
    }.sorted(Ordering[Long].reverse)
  }

  /** Version `v` of a mutable table as (newest full base at or below `v`,
    * 0 if none; the upsert layers after it, oldest first), or None when
    * `v` has no `full/` dir (an append table). Marker probes stop at the
    * newest base, so they are bounded by the layers since the last
    * compaction.
    */
  private def mutableLayout(name: String, v: Long): Option[(Long, Seq[Long])] = {
    val fulls = stagedVersions(name, "full").dropWhile(_ > v)
    if (!fulls.headOption.contains(v)) None
    else {
      val (layers, older) = fulls.span(isUpsertLayer(name, _))
      Some((older.headOption.getOrElse(0L), layers.reverse))
    }
  }

  /** The delta dirs of an append table's version `v`, oldest first
    * (versions the table skipped have no dir).
    */
  private def appendDirs(name: String, v: Long): Seq[String] =
    stagedVersions(name, "delta").dropWhile(_ > v).reverse.map(deltaDir(name, _).toString)

  /** Read a table at version `v` (its committed current by default).
    * Mutable tables resolve merge-on-read: the newest full BASE at or
    * below `v` plus every upsert layer after it, newest-version-wins per
    * key — one `max_by` aggregation keyed on the merge key (map-side
    * combining, one shuffle of base+delta rows).
    */
  def readVersion(name: String, v: Long): DataFrame = {
    if (v <= 0L) return empty(name)
    val schema = Schemas.targetTables(name)
    val layout = mutableLayout(name, v)
    if (layout.isDefined) {
      val (baseV, layers) = layout.get
      if (layers.isEmpty)
        return spark.read.schema(schema).parquet(fullDir(name, v).toString)
      val key = upsertKey(name, layers.last)
      val cols = schema.fieldNames
      // resolve the (small, delta-sized) layers among themselves with one
      // newest-wins aggregation, then subtract their keys from the base
      // with a BROADCAST anti-join — the base never shuffles, the
      // deletion-vector trick in key form. A max_by over base ∪ layers
      // would shuffle O(dim) rows on every read and cost as much as the
      // full rewrite this layout exists to avoid.
      val layerResolved = layers
        .map(l => spark.read.schema(schema)
          .parquet(fullDir(name, l).toString).withColumn("__v", lit(l)))
        .reduce(_.unionByName(_))
        .groupBy(col(key))
        .agg(max_by(struct(cols.map(col): _*), col("__v")).as("__r"))
        .select(cols.map(c => col(s"__r.$c").as(c)): _*)
      if (baseV == 0L) return layerResolved
      return spark.read.schema(schema).parquet(fullDir(name, baseV).toString)
        .join(broadcast(layerResolved.select(col(key))), Seq(key), "left_anti")
        .unionByName(layerResolved)
    }
    val deltas = appendDirs(name, v)
    if (deltas.isEmpty) empty(name)
    else spark.read.schema(schema).parquet(deltas: _*)
  }

  def read(name: String): DataFrame = readVersion(name, currentVersion(name))

  /** Stage `df` as the table's complete next-version contents. */
  def writeNext(name: String, df: DataFrame): Long = {
    val next = currentVersion(name) + 1
    df.write.mode("overwrite").parquet(fullDir(name, next).toString)
    next
  }

  /** Stage `delta` as the table's next-version append. */
  def appendNext(name: String, delta: DataFrame): Long = {
    val next = currentVersion(name) + 1
    delta.write.mode("overwrite").parquet(deltaDir(name, next).toString)
    next
  }

  // --- merge-on-read upserts (the O(delta) path for mutable tables) --------

  private def upsertMarker(name: String, v: Long) =
    new Path(fullDir(name, v), "_upsert")

  /** Whether version `v` is an upsert LAYER (changed+inserted rows only)
    * rather than a complete base. The marker file holds the merge key.
    */
  private def isUpsertLayer(name: String, v: Long): Boolean =
    v > 0L && fs.exists(upsertMarker(name, v))

  /** Public view of the layer/base distinction (SnapshotTool's vacuum
    * reachability rule needs it).
    */
  private[cardano] def isUpsertLayerVersion(name: String, v: Long): Boolean =
    isUpsertLayer(name, v)

  private def upsertKey(name: String, v: Long): String = {
    val in = fs.open(upsertMarker(name, v))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
    finally in.close()
  }

  /** Stage a keyed upsert as the table's next version WITHOUT rewriting
    * the table — merge-on-read, the plain-parquet form of a Delta/Iceberg
    * MERGE (SURVEY §2.1 SNK2) for frequent-update workloads: staging
    * writes O(delta) rows; `readVersion` resolves base + layers by
    * newest-version-wins per key in one key-shuffled aggregation. This
    * replaces the per-period O(dim) full rewrite of the mutable tables —
    * copy-on-write (hash-bucketed or not) degenerates back to O(dim) the
    * moment a period's delta spreads across most files, which zipf-hot
    * sync traffic does every period.
    *
    * Read fan-in is bounded by periodically staging a full base instead
    * (`writeNext` of the recomputed table — the driver does this every
    * `compactEvery` periods, amortizing the rewrite to O(dim/K)).
    * Crash safety is unchanged: layers are staging dirs, the manifest
    * rename remains the only commit point, re-runs overwrite in place.
    */
  def upsertNext(name: String, upserts: DataFrame, keyCol: String): Long = {
    val next = currentVersion(name) + 1
    upserts.write.mode("overwrite").parquet(fullDir(name, next).toString)
    // marker goes in AFTER the parquet overwrite (which clears the dir)
    val out = fs.create(upsertMarker(name, next), true)
    try out.write((keyCol + "\n").getBytes("UTF-8")) finally out.close()
    next
  }

  /** Atomically commit a set of staged versions (the per-period txn, SNK3):
    * the merged map lands in one manifest rename, all tables or none.
    */
  def commit(versions: Map[String, Long]): Unit =
    writeManifest(manifest() ++ versions)

  /** SRC5: next id = max(id)+1 (1 for an empty table) of each of `names`,
    * from ONE aggregation: the tables' `id` columns, tagged by table, in a
    * single `groupBy(table).max` — two Spark jobs for all tables. Spark
    * does not answer `max()` from parquet footer statistics by default,
    * so each table is a column scan. Reads the UNRESOLVED union of base +
    * upsert layers: ids are never deleted and an update never changes a
    * row's id, so max(id) over raw layers equals max over the resolved
    * table — skipping the merge-on-read shuffle.
    */
  def nextIds(names: Seq[String]): Map[String, Long] = {
    val committed = manifest()
    val scans = names.flatMap { name =>
      val v = committed.getOrElse(name, 0L)
      val dirs = mutableLayout(name, v) match {
        case Some((baseV, layers)) =>
          ((if (baseV > 0L) Seq(baseV) else Seq.empty) ++ layers).map(fullDir(name, _).toString)
        case None => if (v > 0L) appendDirs(name, v) else Seq.empty
      }
      if (dirs.isEmpty) None
      else Some(spark.read.schema(Schemas.targetTables(name)).parquet(dirs: _*)
        .select(lit(name).as("t"), col("id").cast("long").as("id")))
    }
    val maxIds =
      if (scans.isEmpty) Map.empty[String, Long]
      else scans.reduce(_.unionByName(_)).groupBy(col("t")).agg(max(col("id")))
        .collect().collect { case r if !r.isNullAt(1) => r.getString(0) -> r.getLong(1) }.toMap
    names.map(n => n -> maxIds.get(n).fold(1L)(_ + 1L)).toMap
  }

  /** [[nextIds]] of one table. */
  def nextId(name: String): Long = nextIds(Seq(name))(name)
}

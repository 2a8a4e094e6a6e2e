package graft.cardano

import org.apache.hadoop.fs.Path

/** SNK5's backup half (the reference's `scripts/backup_restore.py`): the
  * store as one portable file, restored into a fresh root. Snapshots,
  * rollback and vacuum are version operations and live in [[TableStore]],
  * the only code that knows how versions sit on disk; this tool treats the
  * store as a plain file tree and names no path inside it.
  */
class SnapshotTool(store: TableStore) {

  private val fs = new Path(store.root)
    .getFileSystem(store.spark.sparkContext.hadoopConfiguration)

  // --- single-artifact backups (reference scripts/backup_restore.py:53-117,
  // 211-222, 331-353: one compressed file per backup, list/pick UX) --------

  /** Walk every regular file under the store root (checksum sidecars
    * skipped — they are local-FS cache state, regenerated on write, and
    * would couple the artifact to one filesystem's checksum layout).
    * Returns root-relative '/'-separated names, sorted for determinism.
    */
  private def storeFiles(): Seq[String] = {
    val rootPath = fs.makeQualified(new Path(store.root))
    val rootUri = rootPath.toUri.getPath
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (st.isFile && !st.getPath.getName.endsWith(".crc")) out += rel
    }
    out.result().sorted
  }

  /** Archive the ENTIRE store (every file under its root) as ONE
    * portable compressed file `<backupDir>/<tag>.zip` — the engine's
    * `pg_dump -Fc | gzip`: a single shippable artifact per backup instead
    * of a directory tree.
    * Entry order is sorted and entry timestamps are pinned, so archiving
    * the same store twice yields byte-identical artifacts. Streams
    * through the Hadoop FS API on both ends (runs against HDFS/S3A).
    */
  def archive(backupDir: String, tag: String): String = {
    require(tag.nonEmpty && !tag.contains('/'), s"bad tag: $tag")
    val dst = new Path(backupDir, s"$tag.zip")
    val dstFs = dst.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    dstFs.mkdirs(new Path(backupDir))
    val tmp = new Path(backupDir, s"$tag.zip.tmp")
    val zos = new java.util.zip.ZipOutputStream(dstFs.create(tmp, true))
    val buf = new Array[Byte](1 << 16)
    try {
      zos.setLevel(9) // the reference gzips at --compress=9
      for (rel <- storeFiles()) {
        val e = new java.util.zip.ZipEntry(rel)
        e.setTime(0L) // pinned: identical trees -> identical artifacts
        zos.putNextEntry(e)
        val in = fs.open(new Path(store.root, rel))
        try {
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) zos.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        zos.closeEntry()
      }
    } finally zos.close()
    // visible only when complete (a crashed backup never lists)
    if (!dstFs.rename(tmp, dst)) {
      dstFs.delete(dst, true)
      require(dstFs.rename(tmp, dst), s"archive rename failed: $tmp -> $dst")
    }
    dst.toString
  }

  /** Restore a store from a single archive file into `destRoot`, which
    * must be absent or empty — restores never clobber silently; the swap
    * is the caller's explicit rename, as in the reference's
    * `<db>_restore` + swap flow.
    */
  def restoreArchive(archiveFile: String, destRoot: String): Unit = {
    val conf = store.spark.sparkContext.hadoopConfiguration
    val src = new Path(archiveFile)
    val srcFs = src.getFileSystem(conf)
    val dest = new Path(destRoot)
    val destFs = dest.getFileSystem(conf)
    require(!destFs.exists(dest) || destFs.listStatus(dest).isEmpty,
      s"refusing to restore over a non-empty $destRoot")
    val zis = new java.util.zip.ZipInputStream(srcFs.open(src))
    val buf = new Array[Byte](1 << 16)
    try {
      var e = zis.getNextEntry
      while (e != null) {
        // Zip-slip guard for untrusted archives: reject traversal,
        // absolute names (Hadoop's Path(parent, child) resolves an
        // absolute child against the FS root, ignoring destRoot), and
        // Windows drive/backslash prefixes — then verify the resolved
        // path actually lands under destRoot (defense in depth).
        val name = e.getName
        require(!name.contains("..") && !name.startsWith("/") &&
          !name.startsWith("\\") && !name.matches("^[A-Za-z]:.*"),
          s"unsafe entry: $name")
        if (!e.isDirectory) {
          val target = new Path(dest, name)
          val destPrefix = Path.getPathWithoutSchemeAndAuthority(dest).toString
          val targetPath = Path.getPathWithoutSchemeAndAuthority(target).toString
          require(targetPath == destPrefix ||
            targetPath.startsWith(destPrefix.stripSuffix("/") + "/"),
            s"entry escapes restore root: $name")
          val out = destFs.create(target, true)
          try {
            var n = zis.read(buf)
            while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = zis.read(buf) }
          } finally out.close()
        }
        zis.closeEntry()
        e = zis.getNextEntry
      }
    } finally zis.close()
  }

  /** List available archives in `backupDir`, newest-name-last — the
    * reference's list-and-pick UX (`backup_restore.py:211-222`).
    */
  def listArchives(backupDir: String): Seq[String] = {
    val d = new Path(backupDir)
    val dFs = d.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    if (!dFs.exists(d)) Seq.empty
    else dFs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".zip") && !n.endsWith(".tmp"))
      .map(_.stripSuffix(".zip")).sorted
  }
}

/** The reference's interactive restore flow
  * (`scripts/backup_restore.py:331-353`): list archives numbered from 1,
  * read an index from the operator, restore the picked one — with the
  * same two failure answers (non-integer input, out-of-range index).
  * The protocol core is pure ([[pick]]) and the loop takes an explicit
  * reader/printer ([[runRestore]]) so a spec drives it end-to-end
  * headlessly; [[main]] wires stdin/stdout.
  */
object SnapshotTool {

  /** 1-based pick with the reference's error strings
    * (`backup_restore.py:343-347`). Returns the 0-based index.
    */
  def pick(archives: Seq[String], input: String): Either[String, Int] =
    scala.util.Try(input.trim.toInt).toOption match {
      case None =>
        Left("Error parsing integer. Please enter an integer.")
      case Some(i) if i < 1 || i > archives.size =>
        Left("Please enter an index number from the following list")
      case Some(i) => Right(i - 1)
    }

  /** List/pick/restore. Returns the restored tag, or None on empty
    * backup dir or a rejected pick (after printing the reference's
    * messages, including re-listing on an out-of-range index).
    */
  def runRestore(tool: SnapshotTool, backupDir: String, destRoot: String,
      in: java.io.BufferedReader, out: String => Unit): Option[String] = {
    val archives = tool.listArchives(backupDir)
    if (archives.isEmpty) {
      out(s"No backups found in $backupDir")
      None
    } else {
      out("Found the following backups :")
      archives.zipWithIndex.foreach { case (a, ix) => out(s"${ix + 1}: $a") }
      out("Select a backup by its index and press Enter:")
      pick(archives, Option(in.readLine()).getOrElse("")) match {
        case Left(err) =>
          out(err)
          out("Available backups : ")
          archives.zipWithIndex.foreach { case (a, ix) => out(s"${ix + 1}: $a") }
          None
        case Right(ix) =>
          val tag = archives(ix)
          out(s"Restoring $tag from local storage")
          tool.restoreArchive(new Path(backupDir, s"$tag.zip").toString, destRoot)
          Some(tag)
      }
    }
  }

  /** `run-main graft.cardano.SnapshotTool <storeRoot> <backupDir> <destRoot>` */
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: SnapshotTool <storeRoot> <backupDir> <destRoot>")
    val spark = graft.Graft.session("graft-restore")
    try {
      val tool = new SnapshotTool(new TableStore(spark, args(0)))
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      runRestore(tool, args(1), args(2), in, println(_))
    } finally spark.stop()
  }
}

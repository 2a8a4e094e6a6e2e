package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance utilities for parquet-dir tables — the ops a
  * long-running ingest needs to stay healthy at scale: small-file
  * compaction (streaming/micro-batch appends accrete thousands of tiny
  * files; scans then pay per-file open + footer costs and lose row-group
  * locality) and date-partitioned layout (so time-range predicates prune
  * whole directories before any I/O).
  */
object Maintenance {

  /** Number of parquet part-files under `path`. */
  def parquetFileCount(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else
      fs.listStatus(p).count { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }
  }

  /** Rewrite a parquet dir into ~`targetFileBytes`-sized files (computed
    * from the current on-disk size, so the rewrite is one narrow coalesce
    * when shrinking the file count — no shuffle). Stages into a temp dir
    * and atomically swaps via rename, so a reader never sees a half
    * -written table and a crash mid-compact leaves the original intact.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new Path(path + ".compact.tmp")
    val old = new Path(path + ".compact.old")
    fs.delete(tmp, true); fs.delete(old, true)
    spark.read.parquet(path).coalesce(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(p, old)) sys.error(s"compact: could not stage $path aside")
    if (!fs.rename(tmp, p)) { fs.rename(old, p); sys.error(s"compact: swap failed for $path") }
    fs.delete(old, true)
  }

  /** Write `df` date-partitioned on `tsCol` (one directory per day).
    * Readers filtering on `date` prune partitions before any file I/O —
    * the parquet-dir analog of the reference's indexed `block.time` range
    * predicate (`app/db/postgres.py:348-349`).
    */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("date", to_date(col(tsCol)))
      .write.mode("overwrite").partitionBy("date").parquet(path)

  /** Write `df` clustered on the Z-order curve over two integral columns
    * (`OPTIMIZE ZORDER BY`, minus the table format): min-max-normalize
    * each column into `bits`-bit bins, range-partition by the interleaved
    * z-value into `nFiles`, sort within each file, drop the helpers.
    * Every output file then covers a small rectangle in (x, y) space, so
    * parquet footer min/max stats prune scans on EITHER column — a
    * time-ordered or single-key layout prunes only one.
    *
    * The normalization is what makes mismatched domains interleave
    * fairly: raw interleaving of a 200-value column with a 2M-value
    * column puts the wide column's high bits above every bit of the
    * narrow one, and the curve degenerates to a single-key sort (this is
    * why table formats bin columns before z-ordering too).
    *
    * Scale: one min/max aggregate + one range exchange (sampled bounds)
    * + a per-partition sort — the cost of any global sort; run it as a
    * maintenance rewrite, like `compact`.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
      path: String, nFiles: Int, bits: Int = 10): Unit = {
    val r = df.agg(min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    val (xLo, xHi, yLo, yHi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val m = (1L << bits) - 1
    def bin(c: String, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else expr(s"(CAST($c AS BIGINT) - $lo) * $m div ${hi - lo}")
    df.withColumn("__z",
        graft.ext.Layout.zValue(bin(xCol, xLo, xHi), bin(yCol, yLo, yHi), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}

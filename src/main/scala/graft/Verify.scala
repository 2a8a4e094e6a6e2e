package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.session("verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (dev iteration only; the
    // driver never sets it, so its runs always cover the full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Per-query completion records for _manifest.json — a machine-readable
    // receipt so an empty/zeroed driver-side CORRECTNESS artifact is
    // attributable (driver vs code) at a glance.
    val manifest = scala.collection.mutable.ArrayBuffer.empty[(String, Either[String, Long])]
    selected.foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // metadata-only count from the freshly written parquet footer
        val rows = spark.read.parquet(s"$outDir/$name").count()
        manifest += name -> Right(rows)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        manifest += name -> Left(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Completion manifest: per-query row counts (or error), plus an explicit
    // terminal "completed" record. VERDICT r10 ask #1: the round's hard
    // correctness signal must never again hinge on a single driver artifact.
    val ok = manifest.count(_._2.isRight)
    val entries = manifest.map {
      case (n, Right(rows)) => s"${q(n)}: {${q("rows")}: $rows}"
      case (n, Left(err))   => s"${q(n)}: {${q("error")}: ${q(err)}}"
    }.mkString(",")
    val mjson =
      s"""{${q("queries")}: {$entries}, ${q("completed")}: $ok, ${q("total")}: ${manifest.size}}"""
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), mjson)
    spark.stop()
    System.err.println(s"[verify] done $ok/${manifest.size}")
  }
}

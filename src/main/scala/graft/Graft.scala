package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** User-facing entry points.
  *
  * `session` is the one session profile: every main, dev tool, test suite
  * and the benchmark builds its session here, so all of them run the same
  * configuration. `registerTables` exposes the synthetic star schema as
  * temp views so the whole engine is reachable from `spark.sql(...)` as
  * well as the DataFrame API.
  */
object Graft {

  /** Cores of a session whose caller names none: `SPARK_GRAFT_CPUS` if
    * set, else the machine's processors, at most 32.
    */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** A `local[cores]` session: shuffle partitions sized to cores, AQE on,
    * UTC, no UI, plus the two settings below.
    */
  def session(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The default 100-entry whole-stage-codegen class cache thrashes
      // across a 310-query suite: every pass re-pays Janino compilation
      // for every query, and which query pays extra depends on its
      // alphabetical predecessor's plan count (dedup_containment: 1.5 s
      // isolated, 2.1 s right after dedup_cluster_incremental; 1.5-1.7 s
      // in the same position with the cache raised). A long-lived app
      // sizes this cache to its live plan count.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Always the sort-based shuffle writer. Below the 200-partition
      // default threshold Spark picks the bypass-merge writer, which
      // creates one file per reduce partition per map task (M×R files per
      // exchange) and then concatenates them: ~100 ms of shuffle-write
      // time per map task on kilobyte-sized exchanges (file-creation
      // latency, not data). The sort writer emits one data and one index
      // file per task at any R, and its extra in-memory sort is negligible
      // when a partition fits the buffer. R > 200 selects the sort path
      // anyway, so this only changes the small-R regime, where the file
      // storm is pure overhead. Bench 20-query subset: 37.5 -> 30.6 s.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register every synthetic table in `dir` as a temp view (events with
    * its µs-timestamp conversion applied), enabling plain SQL usage.
    * Idempotent per (session, dir): re-registration re-lists and re-reads
    * ten parquet footers on the driver, so repeat calls with the same dir
    * (every SQL-text query does one) are skipped; switching dirs within a
    * session re-registers.
    */
  private val lastDir =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()
  def registerTables(spark: SparkSession, dir: String): Unit = {
    if (dir == lastDir.put(Integer.valueOf(System.identityHashCode(spark)), dir))
      return
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach(n => Tables.table(spark, dir, n).createOrReplaceTempView(n))
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** Expose the native kernels (`graft_mix64`, `graft_dot`,
    * `graft_simhash64`, `graft_minhash`) as SQL functions on a live
    * session — same codegen'd expressions the DataFrame operators use.
    * (New sessions can set `spark.sql.extensions=graft.GraftExtensions`
    * instead.)
    */
  def registerFunctions(spark: SparkSession): Unit =
    GraftExtensions.register(spark)
}

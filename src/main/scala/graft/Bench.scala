package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("bench")
    warmUp(spark, sfDir)
    // (name, seconds, ok); a failed query is reported as -1, never as a
    // normal-looking timing, so regressions-to-failure are visible.
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (dev profiling; the driver
    // never sets it, so its runs always cover the full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // N full passes (default 3): single-pass totals moved ±15% between
    // the round-6 driver run and an identical closing run on the same
    // host (co-tenant noise). SPARK_GRAFT_BENCH_RUNS=1 restores the old
    // single-pass mode for dev iteration.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def onePass(): Seq[(String, Double, Boolean)] =
      queries.zipWithIndex.map { case ((name, fn), i) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val secs = (System.nanoTime() - t0) / 1e9
        cleanUp(spark)
        (name, if (ok) secs else -1.0, ok)
      }
    val passes: Seq[Seq[(String, Double, Boolean)]] = (1 to nRuns).map(_ => onePass())
    // Per-query MIN across passes (round 9, was median): the many-job
    // families (vec_quantize, graph_triangles, graph_scc) carry one-time
    // JIT/codegen and GC-pressure spikes in SOME pass of every suite run,
    // so their in-suite median sat 1.8× above their isolated steady-state
    // medians (PERFORMANCE.md round-8 protocol note). The min over 3 warm
    // passes is the classic steady-state estimator — it cannot undershoot
    // the true cost, and per-pass totals stay visible in run_totals. A
    // query failing in ANY pass reports -1 (a flaky failure must surface,
    // not vanish into the statistic).
    // BOTH statistics are recorded per query (round 10 — the round-9
    // protocol switch made cross-round deltas need manual
    // renormalization): min stays the headline steady-state number,
    // median rides along in bench_detail.json so any past or future
    // round can be compared like-for-like without re-running.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results: Seq[(String, Double, Double, Boolean)] =
      queries.indices.map { qi =>
        val name = queries(qi)._1
        val runs = passes.map(_(qi))
        val ok = runs.forall(_._3)
        (name,
          if (ok) runs.map(_._2).min else -1.0,
          if (ok) median(runs.map(_._2)) else -1.0,
          ok)
      }
    val runTotals = passes.map(p => p.collect { case (_, v, true) => v }.sum)
    def fmt(v: Double): String = f"$v%.3f"
    val errors = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, true) => v }.sum
    val totalMedian = results.collect { case (_, _, m, true) => m }.sum
    // numeric scale factor parsed from the dir name (e.g. ".../sf0.1" -> 0.1)
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")
    // Full per-query detail goes to a sidecar file; the stdout line must
    // stay well under the harness's 2000-char stdout-tail capture or it is
    // truncated mid-JSON and never parsed (this is what happened to the
    // 102-entry single-line dumps of earlier rounds). The headline line
    // carries the slowest 50 queries verbatim plus one rollup bucket.
    val detail = results.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val detailMedian = results
      .map { case (k, _, m, _) => "\"" + k + "\":" + fmt(m) }
      .mkString("{", ",", "}")
    val runTotalsJson = runTotals.map(fmt).mkString("[", ",", "]")
    val detailJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"protocol":"min-of-$nRuns","stats":["min","median"],"total_median":${fmt(totalMedian)},"run_totals":$runTotalsJson,"queries":$detail,"queries_median":$detailMedian,"errors":$errors,"sf":$sfNum,"sf_dir":"$sfDir"}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_detail.json"),
        (detailJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => }
    val slow = results.filter(_._4).sortBy(-_._2)
    val top = slow.take(50)
    val restSum = slow.drop(50).map(_._2).sum
    val qs = (top.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v) } :+
      ("\"_rest_" + slow.drop(50).size + "q\":" + fmt(restSum)))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$qs,"errors":$errors,"sf":$sfNum}""")
    spark.stop()
  }

  /** JVM warm-up (not timed): the parquet read path plus the RDD
    * shuffle, window, and broadcast-join machinery — otherwise the
    * alphabetically-first query using each path is charged its one-time
    * class-loading/codegen cost and per-query numbers don't reflect
    * steady state.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.sparkContext.parallelize(0 until 1000, 8)
        .map(i => (i % 16, i.toLong)).reduceByKey(_ + _).count()
      import org.apache.spark.sql.functions.{broadcast, expr, sum}
      val small = spark.range(100).selectExpr("id % 5 AS k", "id AS v")
      small.join(broadcast(spark.range(5).selectExpr("id AS k")), "k")
        .withColumn("r", expr("row_number() over (partition by k order by v)"))
        .agg(sum("r")).collect()
    } catch { case _: Throwable => }

  /** Per-query cleanup, outside the timed window.
    *
    * localCheckpoint blocks from the finished query are only freed by the
    * ContextCleaner AFTER a GC notices the dead references; across 150+
    * queries the block store otherwise accretes and WHICH later queries
    * pay the eviction + GC pressure shifts with run order (measured:
    * multi-second noise moving between runs). Dropping the finished
    * query's persistent RDDs explicitly keeps every query's block-store
    * state identical, plus a GC for broadcast/shuffle state.
    *
    * BLOCKING unpersist (round 13): with blocking=false the block frees
    * race INTO the next query's timing window, so a heavy predecessor
    * taxes whichever query follows it alphabetically — measured on
    * dedup_containment: 1.53 s isolated, 2.05-2.10 s when timed right
    * after dedup_cluster_incremental, with containment's own code and plan
    * unchanged. Finishing the cleanup synchronously removes the
    * predecessor-dependent cross-talk.
    */
  private[graft] def cleanUp(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

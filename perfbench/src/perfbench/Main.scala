package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft

final case class Metric(name: String, value: Double, unit: String)

/** State shared by one workload run: the session, the run's scratch
  * directory, operation counts and output-check violations.
  */
final class Ctx(var spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  val setupSteps = ArrayBuffer.empty[(String, Double)]

  def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally setupSteps += name -> (System.nanoTime() - t0) / 1e9
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** Output-check violations of the run; any one makes it incorrect. */
object Ctx {
  val violations = ArrayBuffer.empty[String]
  def expect(cond: Boolean, what: String): Unit =
    if (!cond && violations.size < 50) violations += what
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Nanoseconds of `[t0, t1]` covered by the union of `ivs`. */
  def covered(t0: Long, t1: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = t0
    for ((a, b) <- ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val s = math.max(a, end)
      if (b > s) { total += b - s; end = b }
    }
    total
  }
}

object Fs {
  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }

  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def tableBytes(root: Path, tables: Seq[String]): Map[String, Long] =
    tables.map(t => t -> size(root.resolve(t))).toMap

  /** Row count and order-independent content hash of a table. */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }
}

/** One workload run in a fresh JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> <launchEpochMs>`.
  * Writes `<workDir>/result.json`; the wrapper script prints the final line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, coresS, launchS) = args
    val work = Paths.get(workS)
    val cores = coresS.toInt
    val spark = Graft.session("perfbench", cores)
    val sessionS = (System.currentTimeMillis() - launchS.toLong) / 1e3
    val ctx = new Ctx(spark, work, seedS.toLong, secondsS.toDouble, cores)
    ctx.setupSteps += "setup.session" -> sessionS
    val trace = traceS == "1"

    val (metrics, shape) = workload match {
      case "sync_backfill" | "sync_tip" =>
        val b = new SyncBench(ctx, workload)
        b.setup()
        val (r, store, traced) =
          if (trace) { val (r, s, tr, l) = b.tracedPhase(); (r, s, Some((tr, l))) }
          else { val (r, s) = ctx.timed("timed")(b.phase("timed", None)); (r, s, None) }
        ctx.log(s"${r.cycles.size} periods, ${r.records} records, ${r.readMs.size} reads")
        ctx.timed("check")(b.check(store, r))
        if (r.cycles.size > 1) ctx.timed("check.single")(b.checkSinglePeriod(store, r))
        val m = traced.map { case (tr, l) => b.layers(r, tr, l) }.getOrElse(b.endToEnd(r))
        (m, b.srcShapeJson)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = ctx.setupSteps.filter(_._1.startsWith("setup.")).map(_._2).sum
    val all = if (trace) metrics else Metric("setup_s", setupS, "s") +: metrics
    val m = all.map(x => s""""${x.name}": {"value": ${num(x.value)}, "unit": "${x.unit}"}""")
    val steps = ctx.setupSteps.map { case (n, s) => s""""$n": ${num(s)}""" }
    val json =
      s"""{"correct": ${Ctx.violations.isEmpty && ctx.attempted > 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${m.mkString(", ")}}, """ +
      s""""violations": [${Ctx.violations.map(v => "\"" + v.replace("\"", "'") + "\"").mkString(", ")}], """ +
      s""""steps": {${steps.mkString(", ")}}, "shape": $shape}"""
    Files.writeString(work.resolve("result.json"), json)
    ctx.spark.stop()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).round(new java.math.MathContext(10)).toPlainString
}

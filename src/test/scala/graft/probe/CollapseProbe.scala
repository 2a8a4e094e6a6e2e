package graft.probe

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev probe: where does collapseConsecutive's time go at 5M rows?
  * Run: sbt "Test/runMain graft.probe.CollapseProbe [n]"
  */
object CollapseProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000000L
    val spark = graft.Graft.session("collapse-probe")
    val ev = graft.ext.ScalePipeline.events(spark, n).localCheckpoint()
    println(s"n=${ev.count()}")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t("window-only") {
      ev.withColumn("rn", row_number().over(w))
        .agg(sum("rn")).collect()
    }
    t("window-lag-chg-run") {
      val prev = lag(col("event_type"), 1).over(w)
      ev.withColumn("__chg",
          when(row_number().over(w) === 1 || !(prev <=> col("event_type")), 1L)
            .otherwise(0L))
        .withColumn("run", sum(col("__chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .agg(sum("run")).collect()
    }
    t("full-collapse") {
      graft.ext.Dedup.collapseConsecutive(ev, "user_id", "ts", "event_id",
        "event_type", "value").agg(sum("n_in_run")).collect()
    }
    t("groupby-minby-only") {
      ev.groupBy("user_id")
        .agg(min_by(struct(col("event_id"), col("value")),
          struct(col("ts"), col("event_id"))).as("h"), count(lit(1)).as("c"))
        .agg(sum("c")).collect()
    }
    spark.stop()
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress for the dataset-lifecycle operators: generates a
  * synthetic event log / catalog with PLANTED structure (pure
  * expressions, no driver loops), runs each operator at 1M+ rows, prints
  * per-stage timing, and asserts the invariants that must survive any
  * partitioning:
  *  - cdcApply conserves op counts (Σ n_ops over survivors + tombstoned
  *    keys' ops == total log length) and keeps exactly the planted
  *    surviving keys;
  *  - collapseConsecutive's runs are a partition of the stream (Σ
  *    n_in_run == n events) with the planted run count;
  *  - selectByBudget output satisfies the inclusive-prefix property per
  *    group;
  *  - ksDrift of a cohort against itself is 0 at any size;
  *  - fuzzySelfJoin finds exactly the planted near-name pairs;
  *  - datasetSplit fractions hold at 1M and old assignments never move.
  *
  * Run: sbt "Test/runMain graft.ext.ScalePipeline [nEvents]"
  */
object ScalePipeline {

  /** Deterministic event log: `n` events over `n/50` users; event_type
    * cycles A/A/B per user position (planting 2 runs per 3 events), and
    * every 10th user's LAST event is a delete tombstone.
    */
  def events(spark: SparkSession, n: Long): DataFrame = {
    val users = n / 50
    spark.range(0, n)
      .select(col("id").as("event_id"),
        pmod(col("id"), lit(users)).as("user_id"),
        (col("id") / users).cast("long").as("pos"),
        (col("id") % 1000).cast("double").as("value"))
      .withColumn("event_type",
        when(pmod(col("pos"), lit(3)) < 2, "A").otherwise("B"))
      .withColumn("ts", expr("timestamp_micros(1600000000000000 + pos * 1000000 + user_id)"))
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val spark = graft.Graft.session("scale-pipeline")

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALEPIPE $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val ev = events(spark, n).localCheckpoint()
    val users = n / 50
    println(s"SCALEPIPE events n=${ev.count()} users=$users")

    // --- cdcApply: tombstone = the planted last-position delete ---------
    val perUser = n / users // events per user (pos 0..perUser-1)
    val log = ev.withColumn("op",
      when(pmod(col("user_id"), lit(10)) === 0 &&
        col("pos") === (perUser - 1), "D").otherwise("U"))
    val state = t("cdc-apply")(
      DataOps.cdcApply(log, Seq("user_id"), "op", Seq("ts", "event_id"),
        Seq("value")).localCheckpoint())
    val survivors = state.count()
    val tombstoned = users - survivors
    require(tombstoned == (users + 9) / 10,
      s"tombstoned $tombstoned != planted ${(users + 9) / 10}")
    val opsConserved = state.agg(sum("n_ops")).head.getLong(0)
    require(opsConserved == (users - tombstoned) * perUser,
      s"survivor op count $opsConserved != ${(users - tombstoned) * perUser}")

    // --- collapseConsecutive: planted A/A/B runs ------------------------
    // one aggregation job over the collapse result — checkpointing a
    // multi-million-row intermediate here only measures the block store
    val Seq(totalInRuns, gotRuns) = t("collapse-consecutive") {
      val r = Dedup.collapseConsecutive(ev, "user_id", "ts", "event_id",
          "event_type", "value")
        .agg(sum("n_in_run"), count(lit(1))).head
      Seq(r.getLong(0), r.getLong(1))
    }
    require(totalInRuns == n, s"runs lose events: $totalInRuns != $n")
    // per user: positions cycle AAB AAB … -> 2 runs per complete triple,
    // and a trailing partial AA is 1 run, trailing A likewise 1
    val triples = perUser / 3
    val rem = perUser % 3
    val expRunsPerUser = triples * 2 + (if (rem > 0) 1 else 0)
    require(gotRuns == users * expRunsPerUser,
      s"run count ${gotRuns} != planted ${users * expRunsPerUser}")

    // --- selectByBudget: inclusive-prefix property under the budget -----
    val budget = 25L * 900 // ~half of each user's value mass
    val overBudget = t("select-budget")(
      DataOps.selectByBudget(
        ev.select(col("user_id"), col("event_id"), col("value").cast("long").as("cost")),
        "user_id", Seq(col("cost").desc, col("event_id").asc), "cost", budget)
        .groupBy("user_id").agg(max("cum_cost").as("m"))
        .where(col("m") > budget).count())
    require(overBudget == 0, s"$overBudget groups exceed the budget")

    // --- ksDrift: self-vs-self must be exactly 0 at any size ------------
    val ks = t("ks-drift")(
      Analytics.ksDrift(ev, "event_type", "value",
        pmod(col("user_id"), lit(2)) === 0))
    val maxKs = ks.agg(max(abs(col("ks")))).head.getDouble(0)
    require(maxKs < 0.02,
      s"same-distribution cohorts drifted: ks=$maxKs") // identical value cycle per cohort

    // --- fuzzySelfJoin: planted near-names ------------------------------
    // base = 16-hex-digit mix64 of the pair id (decimal bases would make
    // numeric neighbors like n123x/n124x GENUINE lev-1 pairs — the exact
    // matcher finds them all, so the fixture must not plant any by
    // accident); suffix x/y for the even/odd sibling -> exactly one
    // planted lev-1 pair per base
    val nNames = math.min(n / 10, 200000L)
    val names = spark.range(0, nNames)
      .select(col("id"),
        concat(lit("n"),
          lpad(hex(graft.ext.HashExprs.mix64((col("id") / 2).cast("long"))),
            16, "0"),
          when(pmod(col("id"), lit(2)) === 0, "x").otherwise("y")).as("name"))
    val fuzz = t("fuzzy-join")(
      Joins.fuzzySelfJoinLev1(names, "id", "name").localCheckpoint())
    val gotPairs = fuzz.count()
    require(gotPairs == nNames / 2,
      s"fuzzy pairs $gotPairs != planted ${nNames / 2}")
    // and they are exactly the planted sibling pairs, not lookalikes
    val badPairs = fuzz.where(col("id_b") =!= col("id_a") + 1 ||
      (col("id_a") % 2) =!= 0).count()
    require(badPairs == 0, s"$badPairs non-sibling pairs matched")

    // --- datasetSplit: fractions at 1M; prefix stability -----------------
    val split = t("dataset-split")(
      DataOps.datasetSplit(spark.range(0, n).toDF("id"), "id",
        Seq(("train", 80), ("val", 90), ("test", 100))).localCheckpoint())
    val fr = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(math.abs(fr("train") - 0.8 * n) < 0.005 * n, fr.toString)
    val moved = DataOps.datasetSplit(spark.range(0, n / 2).toDF("id"), "id",
        Seq(("train", 80), ("val", 90), ("test", 100)))
      .join(split.withColumnRenamed("split", "split_full"), Seq("id"))
      .where(col("split") =!= col("split_full")).count()
    require(moved == 0, s"$moved assignments moved when the corpus grew")

    println("SCALEPIPE all invariants hold")
    spark.stop()
  }
}

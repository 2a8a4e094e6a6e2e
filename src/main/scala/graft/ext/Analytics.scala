package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics and snapshot-comparison operators.
  *
  * These generalize the reference's incremental-sync bookkeeping
  * (`app/db/postgres.py:471-502` update-joins, `app/main.py:43-57` period
  * loop) into reusable set-based operators: an ordered conversion funnel,
  * cohort retention, and a CDC-style snapshot diff (the read side of a
  * MERGE).
  */
object Analytics {

  /** Ordered conversion funnel: for each step k, a user qualifies iff they
    * have an event of type steps(k) strictly after their qualifying time
    * for step k-1 (first step: their earliest steps(0) event). Returns one
    * row per step with the surviving-user count.
    *
    * Scale: one hash aggregation + one equi-join per step, all keyed by
    * the user column — at N steps the event table is scanned once per step
    * on a pruned type filter (pushed to the scan) and every shuffle
    * carries only (user, ts). The per-step stage frame is user-cardinality
    * sized, never event-cardinality.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col(userCol).as("u"), col(tsCol).as("t"),
      col(typeCol).as("et"))
    // stages(k): (u, t_k) = earliest qualifying event per user for step k;
    // the whole funnel is one lazy plan (a union of stage counts), not a
    // driver loop of actions. Stage k's plan embeds stage k-1's, so a
    // DEEP funnel would re-compute O(N²) stages — past 4 steps each stage
    // gets an eager checkpoint (linear, at the cost of opaque RDD scans in
    // the plan); short funnels keep the fully-declarative plan so
    // Catalyst shows the per-step pushed filters (PlanSpec pins this).
    val barrier: DataFrame => DataFrame =
      if (steps.length > 4) _.localCheckpoint(true) else identity
    val stages = steps.tail.scanLeft(
      barrier(ev.where(col("et") === steps.head)
        .groupBy("u").agg(min(col("t")).as("t")))
    ) { (prev, step) =>
      barrier(ev.where(col("et") === step)
        .join(prev.select(col("u"), col("t").as("t_prev")), Seq("u"))
        .where(col("t") > col("t_prev"))
        .groupBy("u").agg(min(col("t")).as("t")))
    }
    stages.zip(steps).zipWithIndex.map { case ((stage, step), i) =>
      stage.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).cast("long").as("step"),
          lit(step).as("event_type"), col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Cohort retention: users are grouped by the week of their first event
    * (the cohort); for every (cohort, week-offset) cell, the number of
    * distinct users active in that week. One aggregation to form cohorts,
    * one join back (user-keyed), one distinct aggregation — offsets are
    * exact because both sides of the subtraction are week-truncated.
    */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      date_trunc("week", col(tsCol)).as("w"))
    val cohorts = ev.groupBy("u").agg(min(col("w")).as("cohort_week"))
    ev.dropDuplicates("u", "w")
      .join(cohorts, Seq("u"))
      .withColumn("week_offset",
        (datediff(col("w"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Exponentially-weighted moving average per key: fold
    * `s ← value·alpha + s·(1−alpha)` over each key's events in
    * (ts, tiebreak) order, starting from 0.0. The fold is an explicit
    * left-to-right `aggregate` over a sorted collected list, so the float
    * result is bit-reproducible (and replayable by an ordered
    * `list_reduce`) — a window-function EWMA via `pow` would not be.
    * Pick `alpha` binary-representable (0.25, 0.5, ...) to keep every
    * step's arithmetic exact-identical across engines.
    *
    * Scale: sequential per key by definition, parallel across keys; the
    * collected list is one key's history (bounded by per-user event
    * counts). For keys with unbounded history, fold incrementally per
    * time-slice and carry the state forward (the streaming form).
    */
  def ewma(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, alpha: Double): DataFrame = {
    val a = lit(alpha)
    events.where(col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col(tsCol), col(tieCol),
          col(valCol).as("v")))).as("xs"))
      .select(col(keyCol), col("n"),
        aggregate(col("xs"), lit(0.0),
          (s, x) => x.getField("v") * a + s * (lit(1.0) - a)).as("ewma"))
  }

  /** Linear (multi-touch) attribution: each conversion splits one unit of
    * credit equally across the user's touch events in the lookback
    * window (`(conv_ts − window, conv_ts]`). Returns per touch type:
    * `(touch_type, conversions_touched, credit)`.
    *
    * Determinism: per-conversion credit is round(1/n, 6) (an exact
    * integer-derived rational) summed in DECIMAL — order-independent,
    * so the float total hash-matches the replay.
    *
    * Scale: the conversions×touches match is a USER-KEYED band join
    * (per-user fan-out is bounded by per-user activity — never a
    * cartesian), followed by two conversion-keyed aggregations; shuffles
    * carry (user) and (conversion id) keys only.
    */
  def attributionLinear(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, convType: String,
      touchTypes: Seq[String], windowDays: Int = 7): DataFrame = {
    val conv = events.where(col(typeCol) === convType)
      .select(col(idCol).as("__cid"), col(userCol).as("__u"), col(tsCol).as("__ct"))
    val touch = events.where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(tsCol).as("__tt"),
        col(typeCol).as("touch_type"))
    val m = conv.join(touch,
        Seq("__u"))
      .where(col("__tt") <= col("__ct") &&
        col("__tt") > col("__ct") - expr(s"interval $windowDays days"))
      .select(col("__cid"), col("touch_type"))
      .localCheckpoint(true) // read by the per-conversion total AND the credit sum
    val tot = m.groupBy("__cid").agg(count(lit(1)).as("__n"))
    m.join(tot, Seq("__cid"))
      .groupBy("touch_type")
      .agg(countDistinct(col("__cid")).as("conversions_touched"),
        sum(round(lit(1.0) / col("__n"), 6).cast("decimal(30,6)"))
          .cast("double").as("credit"))
  }

  /** The interpolation formula shared VERBATIM with the DuckDB oracle:
    * both engines evaluate this one SQL string over identical integer
    * inputs (scaled-long bucket sums `psv`/`nsv`, counts `pn`/`nn`,
    * epoch seconds `pt`/`t`/`nt`), so the float result is bit-identical.
    * `pt = nt` marks an observed bucket (both anchors are the row
    * itself); the NULL branches are edge fills (the spine is bounded by
    * observations, so they only fire on degenerate inputs).
    *
    * No final `round()`: identical IEEE ops on identical inputs already
    * give identical bits, and rounding would REINTRODUCE divergence —
    * linear midpoints land exactly on .5 × 1e-6 ties, where Spark's
    * HALF_UP and DuckDB's double-round disagree.
    */
  val interpValueExpr: String = {
    val pv = "(CAST(psv AS DOUBLE) / 1000000.0 / pn)"
    val nv = "(CAST(nsv AS DOUBLE) / 1000000.0 / nn)"
    s"""CASE
       |  WHEN psv IS NULL AND nsv IS NULL THEN NULL
       |  WHEN psv IS NULL THEN $nv
       |  WHEN nsv IS NULL OR nt = pt THEN $pv
       |  ELSE $pv + ($nv - $pv)
       |    * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
       |END""".stripMargin
  }

  /** Time-series densify + linear interpolation: bucket `valCol` per key
    * into fixed intervals, emit EVERY bucket between each key's first and
    * last observation, and fill the gaps by interpolating linearly
    * between the neighbouring observed bucket means (edge gaps carry the
    * nearest observation). Returns (keys..., bucket, n, value) where `n`
    * is the observation count (0 for filled buckets) and `value` the
    * observed-or-interpolated bucket mean, rounded at 6.
    *
    * Determinism: bucket means are exact scaled-long sufficient
    * statistics (the anomaly_zscore / vec_covariance discipline), the
    * anchor-carrying windows copy those integers (never re-sum floats),
    * and the only float math is `interpValueExpr` — one shared
    * expression string both engines run on identical inputs.
    *
    * Scale: one map-side-combining aggregate, a per-key spine explode
    * proportional to each key's own span, and two window passes over the
    * SAME (key, bucket) exchange — AQE reuses the partitioning, so the
    * whole fill is a single shuffle of (key, bucket, longs).
    */
  def interpolateLinear(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, unit: String = "hour"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val c = df.where(col(valCol).isNotNull)
      .groupBy(keys :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        (sum(round(col(valCol), 6).cast("decimal(30,6)")) * lit(1000000))
          .cast("long").as("sv"))
    val spine = c.groupBy(keys: _*)
      .agg(min(col("bucket")).as("__t0"), max(col("bucket")).as("__t1"))
      .select(keys :+ explode(sequence(col("__t0"), col("__t1"),
        expr(s"interval 1 $unit"))).as("bucket"): _*)
    val g = spine.join(c, keyCols :+ "bucket", "left")
      .withColumn("t", unix_timestamp(col("bucket")))
    val wPrev = Window.partitionBy(keys: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(keys: _*).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    g.withColumn("psv", last(col("sv"), ignoreNulls = true).over(wPrev))
      .withColumn("pn", last(col("n"), ignoreNulls = true).over(wPrev))
      .withColumn("pt",
        last(when(col("sv").isNotNull, col("t")), ignoreNulls = true).over(wPrev))
      .withColumn("nsv", first(col("sv"), ignoreNulls = true).over(wNext))
      .withColumn("nn", first(col("n"), ignoreNulls = true).over(wNext))
      .withColumn("nt",
        first(when(col("sv").isNotNull, col("t")), ignoreNulls = true).over(wNext))
      .select(keys ++ Seq(col("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        expr(interpValueExpr).as("value")): _*)
  }

  /** The CUSUM reference and slack shared VERBATIM with the DuckDB
    * oracle, over exact scaled-long sufficient statistics (cnt, sx,
    * sxx): mu is the group mean, kappa = σ/2 the standard slack.
    */
  val cusumMuExpr: String = "(CAST(sx AS DOUBLE) / 1000000.0 / CAST(cnt AS DOUBLE))"
  val cusumKappaExpr: String = {
    val n = "CAST(cnt AS DOUBLE)"
    val sx = "(CAST(sx AS DOUBLE) / 1000000.0)"
    val sxx = "(CAST(sxx AS DOUBLE) / 1000000.0)"
    s"(0.5 * sqrt(($n * $sxx - $sx * $sx) / ($n * ($n - 1.0))))"
  }

  /** One-sided CUSUM drift detection per key: the classic fold
    * s_k = max(0, s_{k-1} + x_k − mu − kappa) over the key's time-ordered
    * values, returning the final statistic and its running maximum —
    * the change-point signal a pipeline uses to catch upstream drift
    * (a source whose value distribution shifted mid-stream).
    *
    * Determinism: mu/kappa come from exact scaled-long statistics
    * through ONE shared expression string, and the fold itself is an
    * ordered left fold with a struct accumulator — both replayed exactly
    * (DuckDB `list_reduce` over a struct-prepended list). No rounding:
    * identical IEEE ops on identical inputs are bit-identical.
    *
    * Scale: one map-side-combining stats aggregate (broadcast back), one
    * ordered collect per key — sequential per key BY DEFINITION (CUSUM
    * is a recurrence), parallel across keys, same shape as `ewma`.
    */
  def cusum(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String): DataFrame = {
    val stats = events.where(col(valCol).isNotNull)
      .groupBy(col(keyCol)).agg(
        count(lit(1)).as("cnt"),
        (sum(round(col(valCol), 6).cast("decimal(30,6)")) * lit(1000000))
          .cast("long").as("sx"),
        (sum(round(col(valCol) * col(valCol), 6).cast("decimal(30,6)"))
          * lit(1000000)).cast("long").as("sxx"))
    val folded = events.where(col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col(tsCol), col(tieCol),
          col(valCol).as("v")))).as("__xs"))
      .join(broadcast(stats), Seq(keyCol))
    val step = s"greatest(0.0D, acc.s + x.v - $cusumMuExpr - $cusumKappaExpr)"
    folded.selectExpr(keyCol, "n",
      s"""aggregate(__xs, named_struct('s', 0.0D, 'm', 0.0D),
         |  (acc, x) -> named_struct('s', $step, 'm', greatest(acc.m, $step))
         |) AS __c""".stripMargin)
      .selectExpr(keyCol, "n", "__c.s AS cusum_end", "__c.m AS cusum_max")
  }

  /** Holt double exponential smoothing (level + trend) per key: the
    * ordered fold
    *   l_k = α·x_k + (1−α)(l_{k−1} + b_{k−1})
    *   b_k = β(l_k − l_{k−1}) + (1−β)·b_{k−1}
    * seeded l_1 = x_1, b_1 = 0. Returns (key, n, level, trend, forecast)
    * with forecast = level + trend (the one-step-ahead prediction).
    *
    * Determinism: an ordered left fold with a struct accumulator; the
    * DuckDB replay folds over DOUBLE[] list state (struct accumulators
    * alias across list_reduce iterations there) with the level
    * expression recomputed inline in the trend slot — identical ops on
    * identical inputs, no rounding anywhere.
    *
    * Scale: same shape as `ewma`/`cusum` — sequential per key by
    * definition, parallel across keys, one exchange of (key, fold
    * inputs).
    */
  def holt(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, alpha: Double, beta: Double): DataFrame = {
    val newL = s"CASE WHEN acc.n = 0L THEN x.v " +
      s"ELSE $alpha * x.v + ${1 - alpha} * (acc.l + acc.b) END"
    events.where(col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col(tsCol), col(tieCol),
          col(valCol).as("v")))).as("__xs"))
      .selectExpr(keyCol, "n",
        s"""aggregate(__xs,
           |  named_struct('lp', 0.0D, 'l', 0.0D, 'b', 0.0D, 'n', 0L),
           |  (acc, x) -> named_struct(
           |    'lp', acc.l,
           |    'l', $newL,
           |    'b', CASE WHEN acc.n = 0L THEN 0.0D
           |         ELSE $beta * (($newL) - acc.l) + ${1 - beta} * acc.b END,
           |    'n', acc.n + 1L)
           |) AS __h""".stripMargin)
      .selectExpr(keyCol, "n", "__h.l AS level", "__h.b AS trend",
        "__h.l + __h.b AS forecast")
  }

  /** Deterministic two-sample permutation test for a mean difference
    * (the exact-inference companion to Welch's t when distributional
    * assumptions are off, and to the bootstrap when the question is a
    * p-value): the group labels are re-dealt `b` times and the observed
    * mean difference is ranked against the permutation distribution.
    * Each "permutation" is RNG-free — replica r ranks the n items by
    * mix64 of the global grid index (a uniform permutation per replica,
    * the splitmix64 sampling discipline) and assigns the first n_a
    * ranks to group A. p = (#{|Δ_r| ≥ |Δ_obs|} + 1)/(b + 1), the
    * standard add-one estimator.
    *
    * Determinism: values are per-term round-6 decimals, every replica
    * sum exact; the diff comparisons run on UNROUNDED doubles derived
    * from identical exact sums in both engines; final outputs go
    * through [[half6Sql]]. Restart/partitioning-invariant end to end.
    *
    * Scale: the grid is n·b rows. Per-replica selection has two regimes
    * (round 10): at the operator's intended EVAL-set sizes (n ≤ 100k)
    * it is one replica-keyed window pass — each partition sorts at most
    * 100k rows, bounded by the branch guard itself, never by the
    * caller; above that it becomes a DISTRIBUTED exact order statistic:
    * rows bucket by the hash's top bits (bucket count adapts to ~1000
    * rows/bucket; arithmetic `>>` preserves long order, so bucket order
    * = hash order), a per-replica exclusive prefix count over the
    * bucket rows — the only per-replica window, bounded by the bucket
    * count, never by n (the Pareto-staircase discipline) — ranks each
    * bucket, buckets entirely below the n_a-th statistic contribute
    * their pre-aggregated sums, and the single boundary bucket ranks
    * only its own ~1000 rows. The item index is the range-repartitioned
    * `SurrogateIds` pass. b is the accuracy/cost dial. Input contract: n here
    * is the EVAL-set size (benchmark items, slice aggregates) —
    * permutation inference on raw corpus rows at 100 TB would grid
    * 100·n rows; stratify or aggregate to items first, which is also
    * what makes the test statistically meaningful (and with the
    * bucketed selection, a corpus-sized caller degrades to wasted work,
    * not to 100 corpus-sized single-partition sorts).
    */
  def permutationTest(df: DataFrame, idCol: String, valCol: String,
      cond: Column, b: Int = 100): DataFrame = {
    require(b >= 1)
    val spark = df.sparkSession
    val items = graft.cardano.SurrogateIds.withSequence(
      df.where(col(valCol).isNotNull && cond.isNotNull)
        .select(col(idCol).cast("long").as("__id"),
          round(col(valCol).cast("double"), 6).cast("decimal(30,6)")
            .as("__v"),
          cond.cast("boolean").as("__g")),
      "__idx", Seq(col("__id")))
      .localCheckpoint(true) // feeds the observed stats AND the replicas
    val obs = items.agg(
      sum(col("__g").cast("long")).as("n_a"),
      sum((!col("__g")).cast("long")).as("n_b"),
      sum(when(col("__g"), col("__v")).otherwise(lit(0))).as("__sa"),
      sum(col("__v")).as("__st"))
    val nRows = items.count()
    val grid = spark.range(nRows * b).select(
      expr(s"id div $nRows").as("__r"),
      pmod(col("id"), lit(nRows)).as("__idx"),
      HashExprs.mix64(col("id")).as("__h"))
    // per-replica selection of the n_a smallest (__h, __idx), two regimes:
    //  - eval-sized inputs (n ≤ 100k — the operator's intended input,
    //    and the branch guard that BOUNDS what one window partition can
    //    ever hold): one replica-keyed window pass, cheapest by far;
    //  - above it, a distributed exact order statistic: bucket counts →
    //    per-replica prefix over the bucket rows (bucket count adapts to
    //    ~1000 rows/bucket) → whole full buckets + ONE ranked boundary
    //    bucket. The selected SET is identical to a per-replica sort; no
    //    partition ever holds more than one replica-bucket.
    val byRep = if (nRows <= 100000L) {
      val w = Window.partitionBy("__r")
        .orderBy(col("__h").asc, col("__idx").asc)
      grid.join(items.select("__idx", "__v"), Seq("__idx"))
        .withColumn("__rn", row_number().over(w))
        .crossJoin(broadcast(obs.select("n_a")))
        .groupBy(col("__r"))
        .agg(sum(when(col("__rn") <= col("n_a"), col("__v"))
          .otherwise(lit(0))).as("sa"))
    } else {
      // bits ≈ log2(n/1000), clamped [8, 16]: ~1000-row buckets, and the
      // arithmetic >> preserves long order so bucket order = hash order
      val bits = math.min(16,
        math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(nRows / 1000)))
      val shift = 64 - bits
      val gi = grid.join(items.select("__idx", "__v"), Seq("__idx"))
        .withColumn("__bkt", expr(s"__h >> $shift"))
      val bcnt = gi.groupBy("__r", "__bkt")
        .agg(count(lit(1)).as("__c"), sum(col("__v")).as("__sv"))
      val wB = Window.partitionBy("__r").orderBy(col("__bkt").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = bcnt
        .withColumn("__below", coalesce(sum(col("__c")).over(wB), lit(0L)))
        .crossJoin(broadcast(obs.select("n_a")))
        .localCheckpoint(true) // b × 2^bits rows; feeds full AND boundary
      val fullSum = cum.where(col("__below") + col("__c") <= col("n_a"))
        .groupBy("__r").agg(sum(col("__sv")).as("__sfull"))
      val bound = cum
        .where(col("__below") < col("n_a") &&
          col("__below") + col("__c") > col("n_a"))
        .select(col("__r"), col("__bkt"),
          (col("n_a") - col("__below")).as("__k"))
      val wR = Window.partitionBy("__r", "__bkt")
        .orderBy(col("__h").asc, col("__idx").asc)
      val boundSum = gi.join(broadcast(bound), Seq("__r", "__bkt"))
        .withColumn("__rn", row_number().over(wR))
        .where(col("__rn") <= col("__k"))
        .groupBy("__r").agg(sum(col("__v")).as("__sbnd"))
      fullSum.join(boundSum, Seq("__r"), "full")
        .select(col("__r"),
          (coalesce(col("__sfull"), expr("CAST(0 AS DECIMAL(30,6))")) +
            coalesce(col("__sbnd"), expr("CAST(0 AS DECIMAL(30,6))")))
            .as("sa"))
    }
    val repDiff =
      "CAST(sa AS DOUBLE) / n_a - (CAST(__st AS DOUBLE) - CAST(sa AS DOUBLE)) / n_b"
    val obsDiff =
      "CAST(__sa AS DOUBLE) / n_a - (CAST(__st AS DOUBLE) - CAST(__sa AS DOUBLE)) / n_b"
    byRep.crossJoin(broadcast(obs))
      .where(col("n_a") >= 1L && col("n_b") >= 1L)
      .withColumn("__dr", expr(repDiff))
      .withColumn("__dobs", expr(obsDiff))
      .groupBy(col("n_a"), col("n_b"), col("__dobs"))
      .agg(sum(when(abs(col("__dr")) >= abs(col("__dobs")), 1L)
        .otherwise(0L)).as("n_ge"))
      .select(col("n_a"), col("n_b"),
        expr(half6Sql("__dobs")).as("diff_obs"),
        col("n_ge"),
        expr(half6Sql(s"(CAST(n_ge AS DOUBLE) + 1.0) / ($b.0 + 1.0)"))
          .as("p_value"))
  }

  /** One Holt–Winters additive step, rendered for EITHER engine via the
    * accessor arguments — the single source of truth for the fold
    * expressions, so the Spark `aggregate` lambda and the DuckDB
    * `list_reduce` lambda cannot drift. State layout (flat DOUBLE array
    * — list accumulators are rebuilt per step in both engines, struct
    * ones alias in DuckDB): [level, trend, n, s₀..s_{m−1}]. Returns the
    * 3+m new-state expressions in order. Reads are all from the OLD
    * state; `newL` is recomputed inline where later slots need it,
    * exactly the `holt` discipline.
    */
  private[graft] def hwStepExprs(l: String, b: String, n: String,
      s: Int => String, x: String, alpha: Double, beta: Double,
      gamma: Double, m: Int): Seq[String] = {
    val mod = s"CAST($n AS BIGINT) % $m"
    val sjOld = (0 until m).map(k =>
      if (k == m - 1) s"ELSE ${s(k)}" else s"WHEN $mod = $k THEN ${s(k)}")
      .mkString("CASE ", " ", " END")
    val newL = s"CASE WHEN $n = 0.0 THEN $x " +
      s"ELSE $alpha * ($x - ($sjOld)) + ${1 - alpha} * ($l + $b) END"
    val newB = s"CASE WHEN $n = 0.0 THEN 0.0 " +
      s"ELSE $beta * (($newL) - $l) + ${1 - beta} * $b END"
    val slots = (0 until m).map(k =>
      s"CASE WHEN $mod = $k THEN $gamma * ($x - ($newL)) " +
        s"+ ${1 - gamma} * ${s(k)} ELSE ${s(k)} END")
    Seq(newL, newB, s"$n + 1.0") ++ slots
  }

  /** The next-step season pick from a FINAL state h (same accessor
    * style): slot (n mod m), i.e. the season of the observation that
    * would arrive next.
    */
  private[graft] def hwNextSeasonExpr(n: String, s: Int => String,
      m: Int): String = {
    val mod = s"CAST($n AS BIGINT) % $m"
    (0 until m).map(k =>
      if (k == m - 1) s"ELSE ${s(k)}" else s"WHEN $mod = $k THEN ${s(k)}")
      .mkString("CASE ", " ", " END")
  }

  /** Holt–Winters additive triple exponential smoothing per key —
    * completing the [[ewma]] (level) → [[holt]] (level+trend) ladder
    * with the SEASONAL term: x̂ = l + b + s_{season}, the classic
    * forecast for periodic telemetry (hourly load, weekday traffic).
    * Zero-initialized seasonals (l₀ = x₁, b₀ = 0, s = 0 — the init IS
    * the contract: both engines replay it identically), updates in
    * (ts, tiebreak) order: l ← α(x − s_j) + (1−α)(l+b);
    * b ← β(l−l_prev) + (1−β)b; s_j ← γ(x − l) + (1−γ)s_j.
    *
    * Determinism: the per-key series is one `sort_array(collect_list)`
    * + one `aggregate` fold over a FLAT double-array state — fixed
    * evaluation order, identical IEEE ops in both engines (the
    * holt/cusum ordered-fold discipline; the step expressions are
    * literally shared via [[hwStepExprs]]).
    *
    * Scale: per-key series must fit in one aggregation buffer — the
    * operator contract for ordered folds (keys here are bounded series
    * like per-entity telemetry; corpus-wide series should be
    * pre-bucketed by period first).
    */
  def holtWinters(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, alpha: Double, beta: Double,
      gamma: Double, period: Int): DataFrame = {
    require(period >= 2)
    val step = hwStepExprs(
      "element_at(acc, 1)", "element_at(acc, 2)", "element_at(acc, 3)",
      k => s"element_at(acc, ${4 + k})", "x.v",
      alpha, beta, gamma, period)
    val init = Seq.fill(3 + period)("0.0D").mkString(", ")
    val nextS = hwNextSeasonExpr("element_at(__h, 3)",
      k => s"element_at(__h, ${4 + k})", period)
    events.where(col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col(tsCol), col(tieCol),
          col(valCol).as("v")))).as("__xs"))
      .selectExpr(keyCol, "n",
        s"""aggregate(__xs, array($init),
           |  (acc, x) -> array(${step.mkString(",\n    ")})
           |) AS __h""".stripMargin)
      .selectExpr(keyCol, "n",
        "element_at(__h, 1) AS level",
        "element_at(__h, 2) AS trend",
        s"element_at(__h, 1) + element_at(__h, 2) + ($nextS) AS forecast")
  }

  /** Exact lower median (the ((n+1) div 2)-th smallest VALUE, a multiset
    * selection — unique regardless of row tie-breaks) of `v` per group,
    * as a distributed selection rather than a per-group rank sort:
    *
    *  1. one aggregation: per-group count + an `approx_percentile`
    *     [0.45, 0.55] band. GK rank error at accuracy 10000 is ±n/10000,
    *     so the true median's rank always falls inside the band;
    *  2. one aggregation: count of values strictly below the band, plus
    *     the sorted band values (≈ 10% of the group), from which the
    *     median is picked by exact rank.
    *
    * The approximate band only steers WHERE to look; the returned value
    * is the exact order statistic, so results are independent of
    * partitioning (and of the sketch's merge order). No per-group sort
    * of the full data ever happens — with a handful of huge groups a
    * `row_number` rank pass serializes each group on one core, while
    * this stays parallel end to end (degenerating gracefully only when
    * a group is one giant tie, in which case the "band" IS the answer).
    */
  private[ext] def lowerMedianByGroup(df: DataFrame, groupCol: String,
      valCol: String, out: String): DataFrame = {
    // median of the NON-NULL value multiset: nulls would inflate __n
    // (count) while being invisible to the percentile band and the
    // below-count, mis-ranking the pick — with the loud tripwire below,
    // that inconsistency would throw instead of skewing silently
    val dfnn = df.where(col(valCol).isNotNull)
    val stats = dfnn.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n"),
      approx_percentile(col(valCol),
        array(lit(0.45), lit(0.55)), lit(10000)).as("__pc"))
    dfnn.join(broadcast(stats), Seq(groupCol))
      .groupBy(col(groupCol)).agg(
        sum((col(valCol) < col("__pc")(0)).cast("long")).as("__below"),
        sort_array(collect_list(
          when(col(valCol).between(col("__pc")(0), col("__pc")(1)),
            col(valCol)))).as("__band"),
        first(col("__n")).as("__n"))
      .select(col(groupCol),
        // a band miss (the exact rank falling outside [p45, p55] —
        // impossible under GK's ±n/10000 rank-error contract, but the
        // contract deserves a tripwire) must be LOUD: a silently-null
        // median would skew every downstream statistic (ADVICE r09)
        coalesce(
          try_element_at(col("__band"),
            (expr("(__n + 1) div 2") - col("__below")).cast("int")),
          expr("assert_true(false, 'lowerMedianByGroup: exact median " +
            "rank fell outside the approx_percentile band')"))
          .as(out))
  }

  /** Exact multi-quantile selection per group — `lowerMedianByGroup`
    * generalized: for each percentile in `pcts` (integer percents, so the
    * target rank ⌈pct·n/100⌉ is computed in EXACT integer arithmetic —
    * `ceil(p·n)` on doubles mis-ranks when p·n lands a ulp above an
    * integer), ONE approx-banded pass + ONE exact in-band pick, all
    * percentiles sharing the same two scans. Returns (group, pct, value)
    * with `value` an actual input double (no interpolation — nothing to
    * drift between engines or partitionings).
    *
    * Scale: same machinery as the median — no per-group rank sort of the
    * full data; each band is ~10% of its group, every aggregation is
    * map-side-combining, and a `row_number` replay only exists on the
    * oracle side.
    */
  def quantilesByGroup(df: DataFrame, groupCol: String, valCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100))
    val slim = df.select(col(groupCol), col(valCol)).where(col(valCol).isNotNull)
    val los = pcts.map(p => math.max(0.0, p / 100.0 - 0.05))
    val his = pcts.map(p => math.min(1.0, p / 100.0 + 0.05))
    val k = pcts.length
    val stats = slim.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n"),
      approx_percentile(col(valCol),
        array((los ++ his).map(lit): _*), lit(10000)).as("__pc"))
    val aggs = pcts.indices.flatMap { i =>
      Seq(
        sum((col(valCol) < col("__pc")(i)).cast("long")).as(s"__below_$i"),
        sort_array(collect_list(
          when(col(valCol).between(col("__pc")(i), col("__pc")(k + i)),
            col(valCol)))).as(s"__band_$i"))
    }
    val g = slim.join(broadcast(stats), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("__n")).as("__n"), aggs: _*)
    val picks = pcts.indices.map { i =>
      // integer ceiling rank: (pct·n + 99) div 100 — never a double;
      // band misses trip loudly (the lowerMedianByGroup tripwire)
      struct(lit(pcts(i).toLong).as("pct"),
        coalesce(
          try_element_at(col(s"__band_$i"),
            expr(s"CAST((${pcts(i)} * __n + 99) div 100 - __below_$i AS INT)")),
          expr("assert_true(false, 'quantilesByGroup: exact rank fell " +
            "outside the approx_percentile band')"))
          .as("value"))
    }
    g.select(col(groupCol), explode(array(picks: _*)).as("__q"))
      .select(col(groupCol), col("__q.pct").as("pct"), col("__q.value").as("value"))
  }

  /** Robust per-group outlier flags via median absolute deviation. Both
    * medians are LOWER medians — exact multiset order statistics
    * (`lowerMedianByGroup`), so the selected values are actual input
    * doubles and the whole pipeline is exact (no interpolation, nothing
    * to drift between engines or across partitionings). A point is an
    * outlier when `|x − med| > k · MAD` with k = 3·1.4826 (the normal
    * consistency constant), the robust analogue of `anomaly_zscore`'s
    * 3σ rule — unlike the z-score it doesn't let the outliers themselves
    * inflate the threshold.
    *
    * Scale: four group aggregations (two per median) + two broadcast
    * joins — every pass is map-side-combining and fully parallel. The
    * rank-sort alternative (`row_number` per group) serializes each
    * group on one core, which with few huge groups is the skew point.
    */
  def madOutliers(df: DataFrame, groupCol: String, idCol: String,
      valCol: String, k: Double = 4.4478): DataFrame = {
    // never carry more than (group, id, value) through the passes —
    // wide payload columns (raw text, JSON props) stay at the scan
    val slim = df.select(col(groupCol), col(idCol), col(valCol))
    val med = lowerMedianByGroup(slim, groupCol, valCol, "__med")
    val dev = slim.join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(col(valCol) - col("__med")))
    val mad = lowerMedianByGroup(dev, groupCol, "__dev", "__mad")
    dev.join(broadcast(mad), Seq(groupCol))
      .select(col(idCol), col(groupCol), round(col("__dev"), 6).as("dev"),
        (col("__dev") > lit(k) * col("__mad")).as("is_outlier"))
  }

  /** CDC-style snapshot diff: compare per-key aggregate state between an
    * old snapshot and a new one, classifying each key as added / changed /
    * unchanged (removed cannot occur when old ⊆ new, as in append-only
    * sync). This is exactly the read side of the reference's UPDATE-join
    * upsert (SURVEY §2.1 SNK2) — the rows a MERGE would touch.
    *
    * `keyCol` drives a full-outer sort-merge join of two aggregates that
    * share the same key partitioning — one shuffle per side at any scale.
    * Change detection uses the exact count, never float equality.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keyCol: String, countCol: String, valueCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("k"),
      col(countCol).as("n_old"), col(valueCol).as("v_old"))
    val n = newSnap.select(col(keyCol).as("k"),
      col(countCol).as("n_new"), col(valueCol).as("v_new"))
    o.join(n, Seq("k"), "full_outer")
      .withColumn("status",
        when(col("n_old").isNull, lit("added"))
          .when(col("n_new").isNull, lit("removed"))
          .when(col("n_old") =!= col("n_new"), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per group: the max
    * gap between the empirical CDFs of cohort A (`inA`) and cohort B over
    * `valCol` — the standard distribution-drift alarm between a new data
    * batch and the reference corpus. Exact and engine-replayable: the
    * running counts stay integers and the max is taken over
    * |ca·nB − cb·nA| (all integer), with ONE final division — no float
    * accumulation anywhere.
    *
    * Scale: one aggregation to (group, value) granularity, one
    * co-partitioned running-count window per group, one tiny totals join.
    * No global sort; state is distinct-value-sized, not row-sized.
    */
  def ksDrift(df: DataFrame, groupCol: String, valCol: String,
      inA: Column): DataFrame = {
    // Null values are excluded up front: a null ECDF point is meaningless,
    // and engines disagree on where nulls sort in the cumulative window
    // (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), so keeping them
    // would make the statistic engine-dependent.
    val counts = df.where(col(valCol).isNotNull)
      .groupBy(col(groupCol), col(valCol))
      .agg(sum(inA.cast("long")).as("__a"),
        sum((!inA).cast("long")).as("__b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(valCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = counts
      .withColumn("__ca", sum(col("__a")).over(w))
      .withColumn("__cb", sum(col("__b")).over(w))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b"))
    cum.join(broadcast(totals), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(abs(col("__ca") * col("n_b") - col("__cb") * col("n_a"))).as("__d"))
      .withColumn("ks",
        col("__d").cast("double") / (col("n_a") * col("n_b")).cast("double"))
      .drop("__d")
  }

  /** Next-event training pairs: per entity stream in (`tsCol`, `idCol`)
    * order, a sliding window of the previous `ctx` event types as the
    * context string and the current type as the label — the
    * sequence-model dataset construction step (next-action prediction).
    * All windows cluster on the entity key: one exchange, per-key sorts,
    * no global ordering. Rows with an empty context (stream head) keep
    * an empty string, so every event becomes an example.
    */
  def nextEventPairs(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, ctx: Int = 3): DataFrame = {
    require(ctx >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val lags = (ctx to 1 by -1).map(i => lag(col(typeCol), i).over(w))
    events.select(col(userCol), col(tsCol), col(idCol),
      concat_ws(" ", lags: _*).as("context"),
      col(typeCol).as("label"))
  }

  /** Equi-width histogram: two passes — one scalar aggregate for the
    * global [min, max] envelope, then one map-side-combining bucket
    * count. Bucket edges are `min + i·width` in plain IEEE arithmetic
    * (no rounding anywhere), so any engine that replays the same two
    * expressions lands every value in the same bucket bit-for-bit; the
    * top edge is closed (`least(…, nb-1)`) so max lands in the last
    * bucket instead of overflowing.
    *
    * Scale: the envelope pass is a 2-value aggregate; the count pass
    * shuffles `nb` longs per partition. No sort, no window.
    */
  def histogram(df: DataFrame, valCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0)
    // Nulls are excluded, not binned: floor(null/width) is null and
    // least(null, nb-1) skips the null, which would silently dump every
    // null row into the TOP bucket and inflate its count.
    val nn = df.where(col(valCol).isNotNull)
    val envRow = nn
      .agg(min(col(valCol).cast("double")), max(col(valCol).cast("double")))
      .collect()(0)
    if (envRow.isNullAt(0)) // empty or all-null input: no envelope, no rows
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("bucket"), lit(0L).as("cnt"),
          lit(0.0).as("lo"), lit(0.0).as("hi"))
    val (mn, mx) = (envRow.getDouble(0), envRow.getDouble(1))
    val width = if (mx > mn) (mx - mn) / nBuckets else 1.0
    val bucket = least(floor((col(valCol).cast("double") - mn) / width),
      lit(nBuckets - 1.0)).cast("long")
    nn.select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", lit(mn) + col("bucket") * lit(width))
      .withColumn("hi", lit(mn) + (col("bucket") + 1L) * lit(width))
  }

  /** Shannon entropy of the per-key row distribution, in nats, plus the
    * [0, 1] normalization by ln(k) — the companion balance metric to
    * `giniConcentration` below (dataset cards usually report both).
    * Per-key terms −p·ln p are round(6) DECIMAL sums (order-independent,
    * ln ulp absorbed — the attribution discipline); p itself is an exact
    * integer ratio.
    *
    * Scale: one map-side-combining count aggregation to key granularity,
    * a broadcast single-row total, one key-sized aggregation.
    */
  def entropyConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds the total AND the term sum
    val total = counts.agg(sum(col("cnt")).as("s"))
    counts.crossJoin(broadcast(total))
      .withColumn("__p", col("cnt").cast("double") / col("s").cast("double"))
      .agg(count(lit(1)).as("n"), first(col("s")).as("s"),
        sum(round(-col("__p") * log(col("__p")), 6).cast("decimal(30,6)"))
          .cast("double").as("entropy"))
      .withColumn("entropy_norm",
        when(col("n") === 1L, lit(0.0))
          .otherwise(round(col("entropy") / log(col("n").cast("double")), 6)))
  }

  /** The Gini formula shared VERBATIM with the DuckDB oracle over the
    * three integer sufficient statistics (rank-weighted sum, total, n).
    */
  val giniExpr: String =
    "round(2.0 * CAST(s_rank AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) " +
      "- (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)"

  /** Gini concentration of per-key activity: how unequally the rows of
    * `df` are distributed over `keyCol` (0 = uniform, →1 = one key owns
    * everything) — the corpus-balance / contributor-concentration index
    * of a dataset audit. Computed from the sorted-rank identity
    * `G = 2·Σ i·x_i / (n·Σ x_i) − (n+1)/n`, which is tie-order-invariant
    * (equal x swap freely), so the pinned (count, key) rank order makes
    * it deterministic without mattering mathematically.
    *
    * Scale: one map-side-combining count aggregation to key granularity,
    * the range-partition dense ranker (`SurrogateIds`) (NO single-partition
    * window), and one final integer fold to a single row.
    */
  def giniConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
    graft.cardano.SurrogateIds.withSequence(
        counts, "__i", Seq(col("cnt").asc, col(keyCol).asc))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"),
        sum((col("__i") + 1L) * col("cnt")).as("s_rank"))
      .withColumn("gini", expr(giniExpr))
  }

  /** OLS slope/intercept expressions shared VERBATIM with the DuckDB
    * oracle over DECIMAL(30,6) sums of per-rank round(6) ln terms. The
    * intercept expression references the already-computed `slope`
    * column (Spark adds it via withColumn; the oracle nests a SELECT).
    */
  val zipfSlopeExpr: String =
    "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN 0.0 " +
      "ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
      "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) END"
  val zipfInterceptExpr: String =
    "round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) " +
      "/ CAST(n AS DOUBLE), 6)"

  /** Zipf power-law fit over the top-`topN` items of a frequency table:
    * log-log OLS of ln(count) on ln(rank). The slope (~ −1 for natural
    * language) is the standard sanity probe on a training corpus's token
    * distribution — a much flatter slope flags synthetic/boilerplate
    * text, a much steeper one flags a collapsed vocabulary. Ranks are
    * pinned (count desc, item asc); per-rank terms ln r, ln c, their
    * product and square are round(6) DECIMAL sums (order-independent, ln
    * ulp absorbed — the entropy discipline), and slope/intercept are
    * shared final expressions.
    *
    * Scale: one map-side-combining count aggregation to item
    * granularity, a TakeOrdered top-N (never a global sort), and an OLS
    * fold over topN rows.
    */
  def zipfFit(counts: DataFrame, itemCol: String, cntCol: String,
      topN: Int = 100): DataFrame = {
    val top = counts.orderBy(col(cntCol).desc, col(itemCol).asc).limit(topN)
    val ranked = graft.cardano.SurrogateIds.withSequence(
      top, "__i", Seq(col(cntCol).desc, col(itemCol).asc))
    val lnR = log((col("__i") + 1L).cast("double"))
    val lnC = log(col(cntCol).cast("double"))
    ranked
      .agg(count(lit(1)).as("n"),
        sum(round(lnR, 6).cast("decimal(30,6)")).as("sx"),
        sum(round(lnC, 6).cast("decimal(30,6)")).as("sy"),
        sum(round(lnR * lnC, 6).cast("decimal(30,6)")).as("sxy"),
        sum(round(lnR * lnR, 6).cast("decimal(30,6)")).as("sxx"))
      // exact DECIMAL sums → one deterministic double each for output
      .select(col("n"), col("sx").cast("double").as("sx"),
        col("sy").cast("double").as("sy"),
        col("sxy").cast("double").as("sxy"),
        col("sxx").cast("double").as("sxx"))
      .withColumn("slope", expr(zipfSlopeExpr))
      .withColumn("intercept", expr(zipfInterceptExpr))
  }

  /** Mean/variance expressions shared VERBATIM with the DuckDB oracle
    * over integer (nb, sx, sxx) — exact divisions of sub-2^53 integers.
    */
  val seasonalMeanExpr: String =
    "CAST(sx AS DOUBLE) / CAST(nb AS DOUBLE)"
  val seasonalVarExpr: String =
    "round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
      "/ CAST(nb AS DOUBLE)) / CAST(nb AS DOUBLE), 6)"

  /** Seasonal (hour-of-day) activity baseline per group: bucket events
    * into hours, then profile each (group, hour-of-day) slot across days
    * — observed-slot count, exact integer sums, mean and population
    * variance. The baseline table that seasonal anomaly detection
    * (compare tonight's 02:00 against ALL 02:00s, not the global mean)
    * and load forecasting start from.
    *
    * Exactness: hourly counts and their squares stay integers; the two
    * float expressions are shared verbatim. Scale: two map-side-combining
    * aggregations — (group, hour) then (group, hour-of-day); the second
    * operates on a bucket-sized table, and the profile is 24×groups rows.
    */
  def seasonalProfile(df: DataFrame, groupCol: String, tsCol: String): DataFrame =
    // null timestamps would emit a meaningless null-hod profile row
    df.where(col(tsCol).isNotNull)
      .groupBy(col(groupCol), date_trunc("hour", col(tsCol)).as("__b"))
      .agg(count(lit(1)).as("__x"))
      .groupBy(col(groupCol), hour(col("__b")).as("hod"))
      .agg(count(lit(1)).as("nb"), sum(col("__x")).as("sx"),
        sum(col("__x") * col("__x")).as("sxx"))
      .withColumn("mean", expr(seasonalMeanExpr))
      .withColumn("variance", expr(seasonalVarExpr))

  /** The Pearson formula shared VERBATIM with the DuckDB oracle over the
    * five integer sufficient statistics — one final float expression, so
    * both engines see identical bits; round(6) for the sqrt ties.
    */
  val autocorrExpr: String =
    "round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) " +
      "/ (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
      "* sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"

  /** Lag-`lagUnits` autocorrelation of each group's activity series: Pearson
    * correlation between the per-bucket event count at time t and at
    * t + lag, paired by calendar bucket (both buckets must be observed —
    * gaps are excluded pairwise, not zero-filled). The seasonality /
    * periodicity probe of a pipeline's drift suite: near 1 at the
    * period, near 0 off it.
    *
    * Exactness: counts and their pairwise products stay integers through
    * the aggregation; the ONE float expression is `autocorrExpr` on both
    * engines. Scale: one map-side-combining aggregate to (group, bucket)
    * granularity, a self-equi-join on the shifted bucket (both sides the
    * SAME tiny aggregate), and a final group-sized aggregation.
    */
  def autocorr(df: DataFrame, groupCol: String, tsCol: String,
      unit: String = "hour", lagUnits: Int = 1): DataFrame = {
    // null timestamps would form a null bucket that silently never joins
    // its lag (the ksDrift null rule) — exclude them up front
    val c = df.where(col(tsCol).isNotNull).groupBy(col(groupCol),
        date_trunc(unit, col(tsCol)).as("__b"))
      .agg(count(lit(1)).as("__x"))
      .localCheckpoint(true) // both sides of the lag self-join
    val lagged = c.select(col(groupCol),
      (col("__b") - expr(s"interval $lagUnits $unit")).as("__b"),
      col("__x").as("__y"))
    c.join(lagged, Seq(groupCol, "__b"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"),
        sum(col("__x") * col("__y")).cast("double").as("sxy"))
      .where(col("n") >= 3 &&
        col("n") * col("sxx") > col("sx") * col("sx") &&
        col("n") * col("syy") > col("sy") * col("sy"))
      .withColumn("autocorr", expr(autocorrExpr))
  }

  /** The Welch t statistic shared VERBATIM with the DuckDB oracle:
    * evaluated over the six exact DECIMAL-derived sufficient statistics
    * (na, sa, qa, nb, sb, qb — counts, per-term-rounded sums, sums of
    * squares), so both engines run the identical double arithmetic in
    * the identical order on identical inputs (the q58 / vecCovariance
    * discipline).
    */
  /** The pooled standard-error term (the sqrt argument): also the
    * definedness guard — per-term rounding can push a constant cohort's
    * variance slightly NEGATIVE (qa − sa²/na < 0), so the guard must be
    * on this exact weighted expression, not on the raw variances.
    */
  val welchSeExpr: String =
    "((qa - sa * sa / na) / (na - 1.0)) / na + " +
      "((qb - sb * sb / nb) / (nb - 1.0)) / nb"

  val welchTExpr: String =
    s"round((sa / na - sb / nb) / sqrt($welchSeExpr), 6)"

  /** Two-cohort Welch's t statistic per group: the mean-shift drift test
    * between cohort A (`inA`) and cohort B over `valCol` — the
    * parametric companion to [[ksDrift]] (KS alarms on shape, Welch on
    * level). Sufficient statistics are per-term round(6) DECIMAL sums
    * (order-independent); the final expression is ONE shared SQL string.
    * Groups where either cohort has n < 2 or zero variance are dropped
    * (t undefined). Scale: one map-side-combining aggregation to group
    * granularity — six numbers of state per group, no window, no sort.
    */
  def welchT(df: DataFrame, groupCol: String, valCol: String,
      inA: Column): DataFrame = {
    val v = col(valCol)
    def dsum(c: Column, in: Column): Column =
      sum(when(in, round(c, 6).cast("decimal(30,6)")).otherwise(lit(null)))
    val agg = df.where(v.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        sum(inA.cast("long")).as("na0"), sum((!inA).cast("long")).as("nb0"),
        dsum(v, inA).cast("double").as("sa"),
        dsum(v * v, inA).cast("double").as("qa"),
        dsum(v, !inA).cast("double").as("sb"),
        dsum(v * v, !inA).cast("double").as("qb"))
      .withColumn("na", col("na0").cast("double"))
      .withColumn("nb", col("nb0").cast("double"))
    agg
      .where(col("na0") >= 2 && col("nb0") >= 2 && expr(s"$welchSeExpr > 0.0"))
      .withColumn("t_welch", expr(welchTExpr))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("t_welch"))
  }

  /** Shared Cohen's d expression over the welchT sufficient statistics:
    * d = (mean_a − mean_b)/s_p with the pooled variance
    * s_p² = ((qa − sa²/na) + (qb − sb²/nb))/(na + nb − 2) — the EFFECT
    * SIZE the t statistic lacks (t grows with n even for trivial
    * shifts; d is the shift in pooled-SD units — the Cliff's-delta
    * lesson, parametric edition).
    */
  val cohensDVarExpr: String =
    "(((qa - sa * sa / na) + (qb - sb * sb / nb)) / (na + nb - 2.0))"
  val cohensDExpr: String =
    s"round((sa / na - sb / nb) / sqrt($cohensDVarExpr), 6)"

  /** Cohen's d per group for the same A-vs-rest cohort split as
    * [[welchT]] — same exact per-term-round(6) DECIMAL sums, one shared
    * final expression, groups with < 2 of either cohort or zero pooled
    * variance dropped. Report it NEXT TO the t statistic: t answers
    * "is the shift real", d answers "is it big enough to care".
    */
  def cohensD(df: DataFrame, groupCol: String, valCol: String,
      inA: Column): DataFrame = {
    val v = col(valCol)
    def dsum(c: Column, in: Column): Column =
      sum(when(in, round(c, 6).cast("decimal(30,6)")).otherwise(lit(null)))
    df.where(v.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        sum(inA.cast("long")).as("na0"), sum((!inA).cast("long")).as("nb0"),
        dsum(v, inA).cast("double").as("sa"),
        dsum(v * v, inA).cast("double").as("qa"),
        dsum(v, !inA).cast("double").as("sb"),
        dsum(v * v, !inA).cast("double").as("qb"))
      .withColumn("na", col("na0").cast("double"))
      .withColumn("nb", col("nb0").cast("double"))
      .where(col("na0") >= 2 && col("nb0") >= 2 &&
        expr(s"$cohensDVarExpr > 0.0"))
      .withColumn("mean_diff", expr("round(sa / na - sb / nb, 6)"))
      .withColumn("cohens_d", expr(cohensDExpr))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("mean_diff"), col("cohens_d"))
  }

  /** Shared Mann–Whitney z expression over the four exact per-group
    * statistics (na, nb as doubles; u2a = 2·U_A and ties = Σ(t³−t) as
    * exact integers cast to double): the tie-corrected normal
    * approximation z = (2U_A − na·nb) / sqrt((na·nb/3)·((n+1) −
    * ties/(n(n−1)))), no continuity correction. The variance factor is
    * also the definedness guard (all-tied groups have it = 0).
    */
  val mannWhitneyVarExpr: String =
    "(na * nb / 3.0) * ((na + nb + 1.0) - CAST(ties AS DOUBLE) " +
      "/ ((na + nb) * (na + nb - 1.0)))"
  val mannWhitneyZExpr: String =
    s"round((CAST(u2a AS DOUBLE) - na * nb) / sqrt($mannWhitneyVarExpr), 6)"

  /** Cliff's delta from the same exact statistics — the EFFECT SIZE the
    * z statistic lacks (z grows with n even for trivial shifts; delta is
    * the probability a random A value exceeds a random B value minus the
    * reverse, tied pairs half-credited): δ = 2U_A/(na·nb) − 1 = u2a/(na·nb) − 1.
    */
  val cliffsDeltaExpr: String =
    "round(CAST(u2a AS DOUBLE) / (na * nb) - 1.0, 6)"

  /** Two-cohort Mann–Whitney U test per group — the RANK-based drift
    * alarm completing the triad with [[ksDrift]] (shape) and [[welchT]]
    * (level): it detects a location shift without assuming the metric's
    * scale is meaningful, the right default for heavy-tailed quality
    * scores. Exactness: ranks live only on the COMPRESSED (group,
    * value) table (the AUC discipline — the data-scale rows never see a
    * window). Tied values share their average rank; doubling clears the
    * half-integers, so 2R_A = Σ_v ca(v)·(2·below(v) + t(v) + 1) is an
    * exact integer, as are 2U_A = 2R_A − na(na+1) and the tie term
    * Σ(t³−t) — both summed in DECIMAL(38,0) because rank·count products
    * are n²-scale and t³ is n³-scale, the chi2 silent-wrap class. ONE
    * shared final z expression. Groups with an empty cohort or all
    * values tied are dropped (z undefined).
    *
    * Scale: one map-side-combining aggregation to (group, value)
    * granularity, one group-keyed cumulative window over that compressed
    * table, one group-keyed sum. Distinct-value-bounded state.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valCol: String,
      inA: Column): DataFrame = {
    val v = col(valCol)
    val comp = df.where(v.isNotNull)
      .groupBy(col(groupCol), v.as("__v"))
      .agg(sum(inA.cast("long")).as("__ca"),
        sum((!inA).cast("long")).as("__cb"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = col("__ca") + col("__cb")
    val ranked = comp.withColumn("__below",
      coalesce(sum(t).over(w), lit(0L)))
    // promote BEFORE the first multiply — rank·count is n²-scale and the
    // tie term n³-scale, the documented silent-wrap class
    val tD = t.cast("decimal(38,0)")
    ranked.groupBy(col(groupCol))
      .agg(sum(col("__ca")).as("na0"), sum(col("__cb")).as("nb0"),
        sum(col("__ca").cast("decimal(38,0)") *
          (lit(2L) * col("__below") + t + lit(1L)).cast("decimal(38,0)"))
          .as("__r2a"),
        sum((tD * tD - lit(1L)) * tD).as("ties"))
      .withColumn("u2a",
        col("__r2a") - col("na0").cast("decimal(38,0)") * (col("na0") + 1))
      .withColumn("na", col("na0").cast("double"))
      .withColumn("nb", col("nb0").cast("double"))
      .where(col("na0") >= 1 && col("nb0") >= 1 &&
        expr(s"$mannWhitneyVarExpr > 0.0"))
      .withColumn("z", expr(mannWhitneyZExpr))
      .withColumn("cliffs_delta", expr(cliffsDeltaExpr))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        // exact DECIMAL internally; surfaced as DOUBLE (both engines
        // round-to-nearest the same integer, so the hash still matches)
        col("u2a").cast("double").as("u2_a"), col("z"), col("cliffs_delta"))
  }

  /** Theil–Sen robust trend slope per group over the daily-count series
    * — the MAGNITUDE companion to the Mann–Kendall tau (`ts_trend` says
    * whether volume trends; this says how fast, immune to outlier days
    * that wreck an OLS slope): the lower median of all pairwise slopes
    * (x_j − x_i)/(d_j − d_i), i < j. Ties in slope are pinned by the day
    * pair, so the pick is deterministic on any engine.
    *
    * Exactness: counts and day gaps are exact integers; each slope is
    * ONE double division both engines compute identically; the median is
    * a rank pick (lower median, the madOutliers convention), not an
    * average — no float accumulation anywhere, final round(6) only for
    * display. Scale: the pair join and its window run on the
    * DAY-compressed table (≤ days² rows per group — the tsTrend shape);
    * the raw events see only the one daily aggregation.
    */
  def theilSenSlope(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(groupCol), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__x"))
      .localCheckpoint(true) // both sides of the pair join
    val pairs = daily.as("a").join(daily.as("b"),
        col(s"a.$groupCol") === col(s"b.$groupCol") &&
          col("a.__d") < col("b.__d"))
      .select(col(s"a.$groupCol").as(groupCol),
        ((col("b.__x") - col("a.__x")).cast("double") /
          datediff(col("b.__d"), col("a.__d")).cast("double")).as("__slope"),
        col("a.__d").as("__d1"), col("b.__d").as("__d2"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__slope"), col("__d1"), col("__d2"))
    val all = Window.partitionBy(col(groupCol))
    pairs.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
      .where(col("__rn") === expr("(__n + 1) div 2"))
      .select(col(groupCol), col("__n").as("n_pairs"),
        round(col("__slope"), 6).as("slope"))
  }

  /** Shared one-way ANOVA F expression over the five per-group
    * statistics (k, n as doubles; s, q, b as DECIMAL-summed doubles):
    * F = ((b − s²/n)/(k−1)) / ((q − b)/(n−k)), where b = Σ_i s_i²/n_i is
    * the between-cohorts raw term. The within-term (q − b) is also the
    * definedness guard — per-term rounding can push a constant group's
    * within-variance slightly negative (the welchSeExpr lesson).
    */
  val anovaFExpr: String =
    "round(((b - s * s / n) / (k - 1.0)) / ((q - b) / (n - k)), 6)"

  /** Brown–Forsythe test per group across the cohorts of `cohortCol` —
    * the VARIANCE-homogeneity companion to [[anovaF]] (do cohorts differ
    * in SPREAD, not location?): W is exactly the one-way ANOVA F applied
    * to the absolute deviations z_ij = |x_ij − median_i| from each
    * cohort's median (Brown & Forsythe 1974 — the median-centered Levene
    * variant, robust to non-normality; means would give classic Levene).
    * A drift alarm for "same mean, fatter tails" shifts that every
    * location test (Welch/ANOVA/Mann–Whitney) is blind to — completing
    * the location + spread test matrix.
    *
    * Exactness: the cohort median is the exact LOWER median (the repo's
    * deterministic order-statistic discipline — an actual input value,
    * nothing interpolated, so both engines pick the identical number);
    * deviations round at 6 into DECIMAL, their squares round at 6
    * per-term (the anovaF sum discipline — every cross-row sum
    * order-free), and the final statistic is the SHARED [[anovaFExpr]].
    * Cohorts with < 2 groups, n ≤ k, or zero within-variance drop.
    *
    * Scale: the median is the banded two-pass selection (no per-cohort
    * sort of raw data), then one aggregation to (group, cohort) and one
    * to group granularity — anovaF's exact shape, plus one broadcast
    * median attach. (The internal median key concatenates group and
    * cohort with a \u0001 separator — values containing that control
    * byte would alias; sanitize upstream if your keys are binary.)
    */
  def brownForsythe(df: DataFrame, groupCol: String, valCol: String,
      cohortCol: Column): DataFrame = {
    val v = col(valCol)
    val rows = df.where(v.isNotNull && cohortCol.isNotNull)
      .select(col(groupCol).as("__g"), cohortCol.as("__c"), v.as("__v"))
      .withColumn("__gc", concat_ws("\u0001", col("__g"), col("__c")))
      .localCheckpoint(true) // feeds the median pass AND the deviations
    val med = lowerMedianByGroup(rows, "__gc", "__v", "__med")
    val cell = rows.join(broadcast(med), Seq("__gc"))
      .withColumn("__z", round(abs(col("__v") - col("__med")), 6))
      .groupBy(col("__g"), col("__c"))
      .agg(count(lit(1)).as("__ni"),
        sum(col("__z").cast("decimal(30,6)")).as("__si"),
        sum(round(col("__z") * col("__z"), 6).cast("decimal(30,6)"))
          .as("__qi"))
    cell.groupBy(col("__g"))
      .agg(count(lit(1)).cast("double").as("k"),
        sum(col("__ni")).as("n0"),
        sum(col("__si")).cast("double").as("s"),
        sum(col("__qi")).cast("double").as("q"),
        sum(round(col("__si").cast("double") * col("__si").cast("double")
          / col("__ni").cast("double"), 6).cast("decimal(30,6)"))
          .cast("double").as("b"))
      .withColumn("n", col("n0").cast("double"))
      .where(col("k") >= 2.0 && col("n") > col("k") &&
        expr("q - b > 0.0"))
      .withColumn("w_stat", expr(anovaFExpr))
      .select(col("__g").as(groupCol), col("k").cast("long").as("n_cohorts"),
        col("n0").as("n"), col("w_stat"))
  }

  /** Shared two-proportion pooled z expression over exact longs
    * (ka/na0 successes of trials in cohort A, kb/nb0 in B):
    * z = (p̂A − p̂B) / √(p̂(1−p̂)(1/nA + 1/nB)) with p̂ the pooled rate —
    * identical in Spark SQL and DuckDB.
    */
  private[graft] def propZExpr: String = {
    val pa = "(CAST(ka AS DOUBLE) / CAST(na0 AS DOUBLE))"
    val pb = "(CAST(kb AS DOUBLE) / CAST(nb0 AS DOUBLE))"
    val pp = "(CAST(ka + kb AS DOUBLE) / CAST(na0 + nb0 AS DOUBLE))"
    half6Sql(s"($pa - $pb) / sqrt($pp * (1.0 - $pp) * " +
      "(1.0 / CAST(na0 AS DOUBLE) + 1.0 / CAST(nb0 AS DOUBLE)))")
  }

  /** Two-proportion z-test per group — the A/B conversion-rate test
    * (the single most-run test in practice: "did the success rate move
    * between cohorts?"), completing the test matrix beside the
    * mean-shift ([[welchT]]), spread ([[brownForsythe]]/[[bartlett]]),
    * and shape ([[ksDrift]]) alarms. Pooled-variance normal
    * approximation; groups where either cohort is empty or the pooled
    * rate is degenerate (0 or 1 — zero variance) drop.
    *
    * Exactness: four exact longs per group from ONE map-side-combining
    * aggregation; the statistic and both rates are shared half-rounded
    * final expressions.
    */
  def twoProportionZ(df: DataFrame, groupCol: String, success: Column,
      inA: Column): DataFrame = {
    df.where(success.isNotNull && inA.isNotNull)
      .select(col(groupCol),
        inA.cast("boolean").as("__a"), success.cast("boolean").as("__s"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__a").cast("long")).as("na0"),
        sum((!col("__a")).cast("long")).as("nb0"),
        sum((col("__a") && col("__s")).cast("long")).as("ka"),
        sum((!col("__a") && col("__s")).cast("long")).as("kb"))
      .where(col("na0") >= 1L && col("nb0") >= 1L &&
        col("ka") + col("kb") > 0L &&
        col("ka") + col("kb") < col("na0") + col("nb0"))
      .withColumn("rate_a",
        expr(half6Sql("CAST(ka AS DOUBLE) / CAST(na0 AS DOUBLE)")))
      .withColumn("rate_b",
        expr(half6Sql("CAST(kb AS DOUBLE) / CAST(nb0 AS DOUBLE)")))
      .withColumn("z", expr(propZExpr))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("ka").as("k_a"), col("kb").as("k_b"),
        col("rate_a"), col("rate_b"), col("z"))
  }

  /** Shared minimum-detectable-effect expression over the same exact
    * longs as [[propZExpr]]: MDE = (z_{α/2} + z_β) · √(p̂(1−p̂)(1/nA +
    * 1/nB)) with z_{.025} = 1.959964, z_{.20} = 0.841621 (α = 5%
    * two-sided, 80% power — the industry-default design point).
    * Identical in Spark SQL and DuckDB; only sqrt (IEEE
    * correctly-rounded) and the two constants appear, so both engines
    * compute the same bits.
    */
  private[graft] def mdeExpr: String = {
    val pp = "(CAST(ka + kb AS DOUBLE) / CAST(na0 + nb0 AS DOUBLE))"
    half6Sql(s"(1.959964 + 0.841621) * sqrt($pp * (1.0 - $pp) * " +
      "(1.0 / CAST(na0 AS DOUBLE) + 1.0 / CAST(nb0 AS DOUBLE)))")
  }

  /** Minimum detectable effect per group for the two-proportion design
    * — the power-analysis companion to [[twoProportionZ]] and the
    * number every "the z-test found nothing" verdict must be read
    * against: the smallest absolute rate difference the CURRENT cohort
    * sizes can detect at 5% two-sided significance with 80% power.
    * A non-significant z with an MDE larger than any effect worth
    * acting on means the experiment was too small to answer, not that
    * there is no effect — the distinction between "no evidence" and
    * "evidence of none" (the same gap [[tostEquivalence]] closes from
    * the other side). Also reported relative to the pooled rate
    * (`mde_rel` = MDE/p̂, the "detectable lift") — the form experiment
    * sizing sheets quote.
    *
    * Exactness: the identical four exact longs as [[twoProportionZ]]
    * from ONE map-side-combining aggregation; MDE and mde_rel are
    * shared half-rounded final expressions over them (constants +
    * IEEE sqrt only). Degenerate pooled rates (0 or 1 — no variance to
    * power against) drop, as do empty cohorts.
    *
    * Scale: one row-local projection + one map-side-combining
    * aggregation to group granularity — four longs of state per group.
    */
  def minDetectableEffect(df: DataFrame, groupCol: String, success: Column,
      inA: Column): DataFrame = {
    df.where(success.isNotNull && inA.isNotNull)
      .select(col(groupCol),
        inA.cast("boolean").as("__a"), success.cast("boolean").as("__s"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__a").cast("long")).as("na0"),
        sum((!col("__a")).cast("long")).as("nb0"),
        sum((col("__a") && col("__s")).cast("long")).as("ka"),
        sum((!col("__a") && col("__s")).cast("long")).as("kb"))
      .where(col("na0") >= 1L && col("nb0") >= 1L &&
        col("ka") + col("kb") > 0L &&
        col("ka") + col("kb") < col("na0") + col("nb0"))
      .withColumn("pooled_rate", expr(half6Sql(
        "CAST(ka + kb AS DOUBLE) / CAST(na0 + nb0 AS DOUBLE)")))
      .withColumn("mde_abs", expr(mdeExpr))
      // the relative form divides the two ALREADY-rounded readouts, so
      // both engines divide identical bits (no double-rounding race)
      .withColumn("mde_rel", expr(half6Sql("mde_abs / pooled_rate")))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("ka").as("k_a"), col("kb").as("k_b"),
        col("pooled_rate"), col("mde_abs"), col("mde_rel"))
  }

  /** Sample-ratio mismatch check per group — the FIRST sanity gate of
    * every A/B readout (Fabijan et al.'s "most common data-quality bug
    * in online experiments"): if the realized assignment split differs
    * from the designed ratio more than chance allows, the experiment's
    * randomization is broken and every downstream metric comparison is
    * invalid — [[twoProportionZ]]/[[cuped]]/[[sprt]] results should be
    * DISCARDED on a mismatch, not explained. One-df chi-square against
    * the expected split: χ² = (n_A − n·p)²/(n·p) + (n_B − n·(1−p))²/
    * (n·(1−p)), flagged at the 5% critical value 3.841459.
    *
    * Exactness: cohort counts are exact longs from ONE aggregation; χ²
    * and the expected count are shared half-rounded expressions over
    * them and the design-ratio literal.
    */
  def sampleRatioMismatch(df: DataFrame, groupCol: String, inA: Column,
      expectedA: Double = 0.5): DataFrame = {
    require(expectedA > 0.0 && expectedA < 1.0,
      "srm: expected ratio must be in (0,1)")
    val ea = s"(CAST(na0 + nb0 AS DOUBLE) * $expectedA)"
    val eb = s"(CAST(na0 + nb0 AS DOUBLE) * ${1.0 - expectedA})"
    val chi2 = s"(CAST(na0 AS DOUBLE) - $ea) * (CAST(na0 AS DOUBLE) - $ea) " +
      s"/ $ea + (CAST(nb0 AS DOUBLE) - $eb) * (CAST(nb0 AS DOUBLE) - $eb) / $eb"
    df.where(inA.isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(inA.cast("long")).as("na0"),
        sum((!inA).cast("long")).as("nb0"))
      .where(col("na0") + col("nb0") >= 1L)
      .withColumn("expected_a", expr(half6Sql(ea)))
      .withColumn("chi2", expr(half6Sql(chi2)))
      .withColumn("mismatch", expr(s"$chi2 > 3.841459"))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("expected_a"), col("chi2"), col("mismatch"))
  }

  /** Shared difference-in-differences expression over the four exact
    * cell statistics (ntp/nt0/ncp/nc0 longs; stp/st0/scp/sc0 rounded
    * DECIMAL sums cast to double): DiD = (ȳ_T,post − ȳ_T,pre) −
    * (ȳ_C,post − ȳ_C,pre) — identical in Spark SQL and DuckDB.
    */
  private[graft] val didExpr: String =
    "((stp / CAST(ntp AS DOUBLE) - st0 / CAST(nt0 AS DOUBLE)) " +
      "- (scp / CAST(ncp AS DOUBLE) - sc0 / CAST(nc0 AS DOUBLE)))"

  /** Difference-in-differences per group — the panel-data causal readout
    * when assignment wasn't randomized: the treated cohort's pre→post
    * metric change minus the control cohort's, which nets out any shared
    * time trend under the parallel-trends assumption (the workhorse of
    * rollout and holdback analyses where [[twoProportionZ]]-style
    * randomized comparison isn't available). Output per group: the four
    * cell sizes and means, and the DiD estimate.
    *
    * Exactness: cell counts are exact longs and cell sums per-term
    * round-6 DECIMAL (order-free partial aggregation); every mean and
    * the estimate are shared half-rounded final expressions. Groups
    * with any empty cell drop — a DiD with a missing cell is undefined,
    * not zero.
    *
    * Scale: ONE map-side-combining aggregation to group granularity —
    * four longs + four decimals of state per group.
    */
  def diffInDiff(df: DataFrame, groupCol: String, valCol: String,
      inTreat: Column, inPost: Column): DataFrame = {
    val v = col(valCol)
    def cell(t: Boolean, p: Boolean): Column = {
      val in = (if (t) inTreat else !inTreat) && (if (p) inPost else !inPost)
      sum(when(in, round(v, 6).cast("decimal(30,6)")))
    }
    def cnt(t: Boolean, p: Boolean): Column = {
      val in = (if (t) inTreat else !inTreat) && (if (p) inPost else !inPost)
      sum(in.cast("long"))
    }
    df.where(v.isNotNull && inTreat.isNotNull && inPost.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        cnt(t = true, p = true).as("ntp"), cnt(t = true, p = false).as("nt0"),
        cnt(t = false, p = true).as("ncp"), cnt(t = false, p = false).as("nc0"),
        cell(t = true, p = true).cast("double").as("stp"),
        cell(t = true, p = false).cast("double").as("st0"),
        cell(t = false, p = true).cast("double").as("scp"),
        cell(t = false, p = false).cast("double").as("sc0"))
      .where(col("ntp") >= 1L && col("nt0") >= 1L &&
        col("ncp") >= 1L && col("nc0") >= 1L)
      .withColumn("mean_treat_post",
        expr(half6Sql("stp / CAST(ntp AS DOUBLE)")))
      .withColumn("mean_treat_pre",
        expr(half6Sql("st0 / CAST(nt0 AS DOUBLE)")))
      .withColumn("mean_ctrl_post",
        expr(half6Sql("scp / CAST(ncp AS DOUBLE)")))
      .withColumn("mean_ctrl_pre",
        expr(half6Sql("sc0 / CAST(nc0 AS DOUBLE)")))
      .withColumn("did", expr(half6Sql(didExpr)))
      .select(col(groupCol), col("ntp").as("n_treat_post"),
        col("nt0").as("n_treat_pre"), col("ncp").as("n_ctrl_post"),
        col("nc0").as("n_ctrl_pre"), col("mean_treat_post"),
        col("mean_treat_pre"), col("mean_ctrl_post"), col("mean_ctrl_pre"),
        col("did"))
  }

  /** Shared CUPED final expressions over the per-group sufficient
    * statistics (na0/nb0 exact longs; sxa/sxb/sya/syb/qx/qy/sxy
    * per-term-rounded DECIMAL sums cast to double; n/na/nb their double
    * forms) — spelled identically in Spark SQL and DuckDB. n-scaled
    * central moments (the common 1/(n−1) cancels in every ratio):
    * varx = qx − sx²/n, cov = sxy − sx·sy/n, θ = cov/varx,
    * diff_cuped = diff_raw − θ·(x̄_A − x̄_B), and the variance-reduction
    * ratio is ρ² = cov²/(varx·vary).
    */
  private[graft] val cupedSx = "(sxa + sxb)"
  private[graft] val cupedSy = "(sya + syb)"
  private[graft] val cupedVarX = s"(qx - $cupedSx * $cupedSx / n)"
  private[graft] val cupedVarY = s"(qy - $cupedSy * $cupedSy / n)"
  private[graft] val cupedCov = s"(sxy - $cupedSx * $cupedSy / n)"
  private[graft] val cupedTheta = s"($cupedCov / $cupedVarX)"
  private[graft] val cupedDiffRaw = "(sya / na - syb / nb)"
  private[graft] val cupedDiffAdj =
    s"($cupedDiffRaw - $cupedTheta * (sxa / na - sxb / nb))"
  private[graft] val cupedRho2 =
    s"($cupedCov * $cupedCov / ($cupedVarX * $cupedVarY))"

  /** CUPED variance reduction per group (Deng, Xu, Kohavi & Walker 2013
    * — the standard experimentation-platform trick): adjust each unit's
    * metric y by a pre-experiment covariate x,
    * y' = y − θ(x − x̄) with θ = cov(x,y)/var(x), which shrinks metric
    * variance by exactly ρ² while leaving the treatment-effect estimate
    * unbiased (x predates assignment, so E[x|A] = E[x|B]). The same
    * experiment then detects effects 1/√(1−ρ²) smaller — or needs
    * (1−ρ²)× the traffic: the cheapest sensitivity win an A/B platform
    * has, and the natural companion to [[twoProportionZ]] /
    * [[minDetectableEffect]] / [[sprt]] on the mean-metric side.
    * Output per group: cohort sizes, θ, the raw and CUPED-adjusted
    * cohort mean difference, and the variance-reduction ratio ρ².
    *
    * `df` is UNIT-level (one row per experimental unit with its
    * covariate `xCol`, metric `yCol`, and assignment `inA`) — build it
    * with one upstream aggregation. θ is estimated on the pooled
    * cohorts (the standard single-θ form).
    *
    * Exactness: cohort counts are exact longs; every moment is a
    * per-term round-6 DECIMAL sum (order-free, partial-aggregation
    * safe); θ, both diffs, and ρ² are shared half-rounded final
    * expressions over those sums. Groups with a degenerate covariate or
    * metric (varx/vary ≤ 0) or a cohort below 2 drop.
    *
    * Scale: ONE map-side-combining aggregation to group granularity —
    * two longs + seven decimals of state per group.
    */
  def cuped(df: DataFrame, groupCol: String, xCol: String, yCol: String,
      inA: Column): DataFrame = {
    val x = col(xCol); val y = col(yCol)
    def dsum(c: Column): Column =
      sum(round(c, 6).cast("decimal(30,6)"))
    def dsumIf(c: Column, in: Column): Column =
      sum(when(in, round(c, 6).cast("decimal(30,6)")))
    df.where(x.isNotNull && y.isNotNull && inA.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        sum(inA.cast("long")).as("na0"),
        sum((!inA).cast("long")).as("nb0"),
        dsumIf(x, inA).cast("double").as("sxa"),
        dsumIf(x, !inA).cast("double").as("sxb"),
        dsumIf(y, inA).cast("double").as("sya"),
        dsumIf(y, !inA).cast("double").as("syb"),
        dsum(x * x).cast("double").as("qx"),
        dsum(y * y).cast("double").as("qy"),
        dsum(x * y).cast("double").as("sxy"))
      .where(col("na0") >= 2L && col("nb0") >= 2L)
      .withColumn("n", (col("na0") + col("nb0")).cast("double"))
      .withColumn("na", col("na0").cast("double"))
      .withColumn("nb", col("nb0").cast("double"))
      .where(expr(s"$cupedVarX > 0.0") && expr(s"$cupedVarY > 0.0"))
      .withColumn("theta", expr(half6Sql(cupedTheta)))
      .withColumn("diff_raw", expr(half6Sql(cupedDiffRaw)))
      .withColumn("diff_cuped", expr(half6Sql(cupedDiffAdj)))
      .withColumn("var_reduction", expr(half6Sql(cupedRho2)))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("theta"), col("diff_raw"), col("diff_cuped"),
        col("var_reduction"))
  }

  /** Wald's sequential probability ratio test per group — the EARLY
    * STOPPING discipline fixed-n tests can't give (peeking at a z-test
    * until it crosses 1.96 inflates false positives several-fold; the
    * SPRT is the test DESIGNED to be peeked at: its error rates hold at
    * every step by construction). Events stream in (tsCol, idCol)
    * order; after n trials with k successes the Bernoulli log-likelihood
    * ratio of H1: p=p1 vs H0: p=p0 is
    *
    *   LLR(n, k) = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)),
    *
    * and the test stops the FIRST time LLR ≥ ln((1−β)/α) (accept H1) or
    * LLR ≤ ln(β/(1−α)) (accept H0), else reports `continue`. Output per
    * group: total n/k, the final LLR, the first-crossing step
    * `n_decision` (null when never crossed), and the verdict at that
    * step — "this experiment could have stopped after n_decision
    * events", the sample-efficiency readout.
    *
    * Exactness: n and k at every step are exact window integers
    * (row_number + running sum over the pinned (ts, id) order — never a
    * float accumulation); the four ln constants are evaluated ONCE in
    * the driver and embedded as shortest-roundtrip literals in both
    * engines, so every per-step LLR is the same two IEEE
    * multiply-adds of exact longs on both sides; the final LLR is one
    * shared half-rounded expression over the group totals.
    *
    * Scale: one group-keyed ordered window over the events (the
    * sessionize shape — state is the running pair, never a global
    * sort), one filtered min_by aggregation for the crossing, one
    * map-side-combining totals aggregation, and a group-count-sized
    * join.
    */
  def sprt(df: DataFrame, groupCol: String, success: Column,
      tsCol: String, idCol: String, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "sprt: design rates must be distinct and in (0,1)")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "sprt: error rates must be in (0,1)")
    val c1 = math.log(p1 / p0)
    val c2 = math.log((1.0 - p1) / (1.0 - p0))
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val w = Window.partitionBy(groupCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val llrExpr = s"CAST(k AS DOUBLE) * $c1 " +
      s"+ CAST(n - k AS DOUBLE) * $c2"
    // null id rows are excluded OUTRIGHT (ADVICE r11 #5): the walk's
    // order key is (ts, id), and a null id orders NULLS FIRST in Spark
    // but NULLS LAST in DuckDB — a latent cross-engine divergence in
    // n_decision on tied timestamps. Excluded from the totals too, so
    // n_total and the walk count the same event set.
    val cum = df
      .where(success.isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(groupCol), col(tsCol), col(idCol),
        success.cast("boolean").cast("long").as("__s"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("k", sum(col("__s")).over(w))
      .withColumn("__llr", expr(llrExpr))
    val crossing = cum
      .where(col("__llr") >= upper || col("__llr") <= lower)
      .groupBy(col(groupCol))
      .agg(min(col("n")).as("n_decision"),
        expr(s"min_by(__llr >= $upper, n)").as("__h1"))
    val totals = df
      .where(success.isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(success.cast("boolean").cast("long")).as("k"))
    totals.join(crossing, Seq(groupCol), "left")
      .withColumn("llr_final", expr(half6Sql(llrExpr)))
      .withColumn("decision",
        when(col("n_decision").isNull, lit("continue"))
          .when(col("__h1"), lit("accept_h1"))
          .otherwise(lit("accept_h0")))
      .select(col(groupCol), col("n").as("n_total"), col("k").as("k_total"),
        col("llr_final"), col("n_decision"), col("decision"))
  }

  /** TOST equivalence test per group (two one-sided tests, Schuirmann
    * 1987 — the eval question significance tests can't answer: not "is
    * B different?" but "is B the SAME within a margin?", the gate a
    * model/data swap actually needs): with Δ = mean_A − mean_B and the
    * Welch standard error, t_lower = (Δ + margin)/se tests Δ > −margin
    * and t_upper = (margin − Δ)/se tests Δ < margin; EQUIVALENT iff
    * both exceed the one-sided 5% normal critical value 1.644854 (the
    * large-sample z approximation — exact Welch df would drag a
    * t-quantile function across engines; at eval-set sizes the
    * difference is far below the margin's own uncertainty, and the
    * approximation is documented rather than silent). Because the
    * approximation is anti-conservative at small cohorts (t(2) 5%
    * one-sided ≈ 2.92 vs z 1.645), the output carries a `large_n`
    * flag (both cohorts ≥ 30, where |z − t| < 0.06) — callers gating
    * on `equivalent` should also require `large_n` (ADVICE r10 #4).
    *
    * Exactness: the same per-term round-6 DECIMAL sufficient statistics
    * as [[welchT]]; Δ, both t's, and the verdict are shared final
    * expressions ([[half6Sql]]-rounded) over those exact sums. Groups
    * where either cohort has n < 2 or zero variance drop (se undefined).
    *
    * Scale: ONE map-side-combining aggregation to group granularity —
    * welchT's exact shape.
    */
  def tostEquivalence(df: DataFrame, groupCol: String, valCol: String,
      inA: Column, margin: Double): DataFrame = {
    require(margin > 0.0, "tost: margin must be positive")
    val v = col(valCol)
    def dsum(c: Column, in: Column): Column =
      sum(when(in, round(c, 6).cast("decimal(30,6)")).otherwise(lit(null)))
    val diffExpr = "(sa / na - sb / nb)"
    val seExpr = s"sqrt($welchSeExpr)"
    df.where(v.isNotNull)
      .groupBy(col(groupCol))
      .agg(
        sum(inA.cast("long")).as("na0"), sum((!inA).cast("long")).as("nb0"),
        dsum(v, inA).cast("double").as("sa"),
        dsum(v * v, inA).cast("double").as("qa"),
        dsum(v, !inA).cast("double").as("sb"),
        dsum(v * v, !inA).cast("double").as("qb"))
      .withColumn("na", col("na0").cast("double"))
      .withColumn("nb", col("nb0").cast("double"))
      .where(col("na0") >= 2 && col("nb0") >= 2 && expr(s"$welchSeExpr > 0.0"))
      .withColumn("diff", expr(half6Sql(diffExpr)))
      .withColumn("t_lower",
        expr(half6Sql(s"($diffExpr + $margin) / ($seExpr)")))
      .withColumn("t_upper",
        expr(half6Sql(s"($margin - $diffExpr) / ($seExpr)")))
      .withColumn("equivalent",
        expr(s"least(($diffExpr + $margin) / ($seExpr), " +
          s"($margin - $diffExpr) / ($seExpr)) > 1.644854"))
      .select(col(groupCol), col("na0").as("n_a"), col("nb0").as("n_b"),
        col("diff"), col("t_lower"), col("t_upper"), col("equivalent"),
        (col("na0") >= 30L && col("nb0") >= 30L).as("large_n"))
  }

  /** Shared Bartlett final expression over (k, n: doubles; w, lt, invs:
    * per-term-rounded DECIMAL sums cast to double): T = ((n−k)·ln(Sp²) −
    * Σ(nᵢ−1)·ln(Sᵢ²)) / (1 + (Σ1/(nᵢ−1) − 1/(n−k)) / (3(k−1))) with
    * Sp² = w/(n−k). Spelled identically in Spark SQL and DuckDB.
    */
  private[graft] def bartlettExpr: String = half6Sql(
    "((n - k) * ln(w / (n - k)) - lt) / " +
      "(1.0 + (invs - 1.0 / (n - k)) / (3.0 * (k - 1.0)))")

  /** Bartlett's test per group across the cohorts of `cohortCol` — the
    * NORMAL-THEORY variance-homogeneity test completing the spread
    * matrix beside [[brownForsythe]] (Bartlett is the likelihood-ratio
    * test, most powerful under normality but tail-sensitive;
    * Brown–Forsythe is the robust screen — real pipelines run both and
    * diverge between them as a non-normality signal). T ~ χ²(k−1)
    * under H0.
    *
    * Exactness: per-cohort sufficient statistics are exact DECIMAL sums
    * (n, Σround(x,6), Σround(x²,6) — the anovaF discipline); every
    * cross-cohort reduction is a per-term round-6 DECIMAL sum — the
    * within-SS term w_i = round(q_i − s_i²/n_i, 6), the log term
    * round((n_i−1)·ln(S_i²), 6), the inverse term round(1/(n_i−1), 6) —
    * so cohort combine order can't drift; ONE shared final expression
    * ([[bartlettExpr]], half-away-from-zero rounded). Cohorts need
    * n_i ≥ 2; groups drop when k < 2, n ≤ k, or ANY cohort has zero
    * within-variance (ln undefined — dropping the cohort instead would
    * silently change k).
    *
    * Scale: one map-side-combining aggregation to (group, cohort), one
    * to group granularity — anovaF's exact shape, vocabulary-sized
    * exchanges.
    */
  def bartlett(df: DataFrame, groupCol: String, valCol: String,
      cohortCol: Column): DataFrame = {
    val v = col(valCol)
    val cell = df.where(v.isNotNull && cohortCol.isNotNull)
      .select(col(groupCol).as("__g"), cohortCol.as("__c"),
        round(v.cast("double"), 6).cast("decimal(30,6)").as("__v"),
        round(v.cast("double") * v.cast("double"), 6)
          .cast("decimal(30,6)").as("__v2"))
      .groupBy("__g", "__c")
      .agg(count(lit(1)).as("__ni"),
        sum(col("__v")).as("__si"), sum(col("__v2")).as("__qi"))
      .where(col("__ni") >= 2L)
      .withColumn("__wi", expr(
        "CAST(round(CAST(__qi AS DOUBLE) - CAST(__si AS DOUBLE) " +
          "* CAST(__si AS DOUBLE) / CAST(__ni AS DOUBLE), 6) " +
          "AS DECIMAL(30,6))"))
      .withColumn("__si2", expr(
        "CAST(__wi AS DOUBLE) / (CAST(__ni AS DOUBLE) - 1.0)"))
    cell.groupBy("__g")
      .agg(count(lit(1)).cast("double").as("k"),
        sum(col("__ni")).as("n0"),
        min(col("__si2")).as("__minv"),
        sum(col("__wi")).cast("double").as("w"),
        sum(expr(
          "CAST(round((CAST(__ni AS DOUBLE) - 1.0) * ln(CASE WHEN __si2 " +
            "<= 0.0 THEN 1.0 ELSE __si2 END), 6) AS DECIMAL(30,6))"))
          .cast("double").as("lt"),
        sum(expr(
          "CAST(round(1.0 / (CAST(__ni AS DOUBLE) - 1.0), 6) " +
            "AS DECIMAL(30,6))")).cast("double").as("invs"))
      .withColumn("n", col("n0").cast("double"))
      .where(col("k") >= 2.0 && col("n") > col("k") &&
        col("__minv") > 0.0)
      .withColumn("t_stat", expr(bartlettExpr))
      .select(col("__g").as(groupCol), col("k").cast("long").as("n_cohorts"),
        col("n0").as("n"), col("t_stat"))
  }

  /** One-way ANOVA F statistic per group across the cohorts of
    * `cohortCol` — [[welchT]]'s k-cohort generalization (is ANY cohort's
    * mean off?), the one-shot screen a pipeline runs before k² pairwise
    * tests. Sufficient statistics are per-(group, cohort) exact DECIMAL
    * sums (n, Σround(x,6), Σround(x²,6)); the per-cohort between-term
    * s_i²/n_i is itself rounded at 6 and DECIMAL-summed so the cohort
    * combine is order-independent too; ONE shared final expression.
    * Groups with < 2 cohorts, n ≤ k, or zero within-variance are
    * dropped (F undefined).
    *
    * Scale: one map-side-combining aggregation to (group, cohort)
    * granularity, one to group granularity — three numbers of state per
    * cohort, five per group. No window, no join.
    */
  def anovaF(df: DataFrame, groupCol: String, valCol: String,
      cohortCol: Column): DataFrame = {
    val v = col(valCol)
    val cell = df.where(v.isNotNull && cohortCol.isNotNull)
      .groupBy(col(groupCol), cohortCol.as("__c"))
      .agg(count(lit(1)).as("__ni"),
        sum(round(v, 6).cast("decimal(30,6)")).as("__si"),
        sum(round(v * v, 6).cast("decimal(30,6)")).as("__qi"))
    cell.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("k"),
        sum(col("__ni")).as("n0"),
        sum(col("__si")).cast("double").as("s"),
        sum(col("__qi")).cast("double").as("q"),
        sum(round(col("__si").cast("double") * col("__si").cast("double")
          / col("__ni").cast("double"), 6).cast("decimal(30,6)"))
          .cast("double").as("b"))
      .withColumn("n", col("n0").cast("double"))
      .where(col("k") >= 2.0 && col("n") > col("k") &&
        expr("q - b > 0.0"))
      .withColumn("f_stat", expr(anovaFExpr))
      .select(col(groupCol), col("k").cast("long").as("n_cohorts"),
        col("n0").as("n"), col("f_stat"))
  }

  /** Shared tie-corrected Friedman Q expression (Conover's form) over
    * exact 4-scaled statistics (n, k as doubles; b4 = Σ_j (2R_j)²/n as a
    * per-treatment-rounded DECIMAL sum in double; a4 = Σ(2r_ij)² exact;
    * c4 = n·k(k+1)² exact): Q = n·(k−1)·(b4 − c4)/(a4 − c4) — the 4×
    * scaling cancels, and Σ_j (R_j − n(k+1)/2)² expands to n(B − C),
    * which is where the leading n comes from. The denominator is the
    * definedness guard (every block fully tied ⇒ a4 = c4).
    */
  val friedmanQExpr: String =
    "round(n * (k - 1.0) * (b4 - CAST(c4 AS DOUBLE)) " +
      "/ (CAST(a4 AS DOUBLE) - CAST(c4 AS DOUBLE)), 6)"

  /** Kendall's W (coefficient of concordance) from the same statistics —
    * Friedman's EFFECT SIZE: W = Q/(n(k−1)) ∈ [0, 1], 1 = every block
    * ranks the treatments identically. Reported alongside Q because Q
    * grows with n even for trivial disagreements (the z-vs-delta lesson).
    */
  val kendallWExpr: String =
    "round((b4 - CAST(c4 AS DOUBLE)) " +
      "/ (CAST(a4 AS DOUBLE) - CAST(c4 AS DOUBLE)), 6)"

  /** Friedman test per slice: k systems scored on the SAME n blocks
    * (models × benchmark items, raters × documents) — ranks within each
    * block, so systems on arbitrary, incomparable score scales still
    * compare (the repeated-measures companion to [[kruskalWallis]] and
    * the frequentist cousin of `eval_bradley_terry`). Tie-corrected:
    * Q = n(k−1)(B−C)/(A−C) with A = Σ r_ij², B = Σ_j R_j²/n,
    * C = nk(k+1)²/4 — which reduces to the classic
    * 12ΣR_j²/(nk(k+1)) − 3n(k+1) when tie-free.
    *
    * Exactness: within-block average ranks carried DOUBLED (2r = 2·below
    * + t + 1, exact integers); A and the per-treatment rank sums are
    * exact DECIMAL(38,0); the per-treatment (2R_j)²/n term rounds at 6
    * and DECIMAL-sums (order-free combine, the anovaF b discipline); ONE
    * shared final expression. Input contract: each (block, treatment)
    * appears once (a complete design); slices need k ≥ 2 and a nonzero
    * denominator or they are dropped.
    *
    * Scale: one aggregation to (slice, block, value) granularity, one
    * block-keyed window over that compressed table (blocks are k-sized —
    * the user-keyed-window discipline), then treatment- and slice-level
    * aggregations. No global window, no driver state.
    */
  def friedmanQ(df: DataFrame, sliceCol: String, blockCol: String,
      treatmentCol: String, valCol: String): DataFrame = {
    val v = col(valCol)
    val rows = df.where(v.isNotNull)
      .select(col(sliceCol).as("__s"), col(blockCol).as("__blk"),
        col(treatmentCol).as("__trt"), v.as("__v"))
      .localCheckpoint(true) // feeds the tie table AND the rank attach
    val bv = rows.groupBy(col("__s"), col("__blk"), col("__v"))
      .agg(count(lit(1)).as("__t"))
    val w = Window.partitionBy(col("__s"), col("__blk")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = bv
      .withColumn("__below", coalesce(sum(col("__t")).over(w), lit(0L)))
      .select(col("__s"), col("__blk"), col("__v"),
        (lit(2L) * col("__below") + col("__t") + lit(1L)).as("__2r"))
    val cells = rows.join(ranked, Seq("__s", "__blk", "__v"))
    val r2D = col("__2r").cast("decimal(38,0)")
    val perTrt = cells.groupBy(col("__s"), col("__trt"))
      .agg(count(lit(1)).as("__n"), sum(r2D).as("__r2j"),
        sum(r2D * r2D).as("__a4j"))
    perTrt.groupBy(col("__s").as(sliceCol))
      .agg(count(lit(1)).cast("double").as("k"),
        max(col("__n")).as("n0"),
        min(col("__n")).as("__nmin"),
        sum(col("__a4j")).as("a4"),
        sum(round(col("__r2j").cast("double") * col("__r2j").cast("double")
          / col("__n").cast("double"), 6).cast("decimal(38,6)"))
          .cast("double").as("b4"))
      .where(col("n0") === col("__nmin")) // complete design only
      .withColumn("n", col("n0").cast("double"))
      .withColumn("c4",
        (col("n0").cast("decimal(38,0)") *
          expr("CAST(k * (k + 1.0) * (k + 1.0) AS DECIMAL(38,0))")))
      .where(col("k") >= 2.0 && expr("CAST(a4 AS DOUBLE) > CAST(c4 AS DOUBLE)"))
      .withColumn("q", expr(friedmanQExpr))
      .withColumn("kendall_w", expr(kendallWExpr))
      .select(col(sliceCol), col("n0").as("n_blocks"),
        col("k").cast("long").as("n_treatments"), col("q"),
        col("kendall_w"))
  }

  /** Shared Kruskal–Wallis H expression over (n as double; b = the
    * per-cohort-rounded DECIMAL sum of (2R_i)²/n_i as double; ties =
    * Σ(t³−t) exact): with R_i carried doubled (2R_i exact), Σ R_i²/n_i =
    * b/4, so H = (3/(n(n+1)))·b − 3(n+1), tie-corrected by
    * 1 − ties/(n³−n). The correction factor is also the definedness
    * guard (all values tied ⇒ 0).
    */
  val kruskalCorrExpr: String =
    "(1.0 - CAST(ties AS DOUBLE) / (n * n * n - n))"
  val kruskalHExpr: String =
    "round(((3.0 / (n * (n + 1.0))) * b - 3.0 * (n + 1.0)) " +
      s"/ $kruskalCorrExpr, 6)"

  /** Kruskal–Wallis H test per group across the cohorts of `cohortCol` —
    * the NONPARAMETRIC [[anovaF]] (and [[mannWhitneyU]]'s k-cohort
    * generalization): is any cohort's value distribution shifted, with
    * no normality assumption? Completes the test matrix: Welch/ANOVA
    * parametric, Mann–Whitney/Kruskal–Wallis rank-based.
    *
    * Exactness: the mannWhitneyU discipline — ranks only on the
    * COMPRESSED (group, value) table (cohort counts ride alongside),
    * average ranks carried doubled so every 2R_i is an exact integer in
    * DECIMAL(38,0); the per-cohort term (2R_i)²/n_i rounds at 6 and
    * DECIMAL-sums (order-free cohort combine, the anovaF b discipline);
    * ONE shared final expression with the tie-correction factor as the
    * definedness guard. Groups with < 2 cohorts or all values tied are
    * dropped.
    *
    * Scale: one aggregation to (group, value, cohort) granularity, one
    * to (group, value) for the rank window, one to (group, cohort), one
    * to group — all map-side combining; the only window runs over the
    * distinct-value-compressed table.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valCol: String,
      cohortCol: Column): DataFrame = {
    val v = col(valCol)
    val cvc = df.where(v.isNotNull && cohortCol.isNotNull)
      .groupBy(col(groupCol), v.as("__v"), cohortCol.as("__c"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true) // feeds the value-total AND the rank attach
    val tv = cvc.groupBy(col(groupCol), col("__v"))
      .agg(sum(col("__cnt")).as("__t"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = tv
      .withColumn("__below", coalesce(sum(col("__t")).over(w), lit(0L)))
      .select(col(groupCol), col("__v"),
        (lit(2L) * col("__below") + col("__t") + lit(1L)).as("__2r"),
        col("__t"))
    val perCohort = cvc.join(ranked, Seq(groupCol, "__v"))
      .groupBy(col(groupCol), col("__c"))
      .agg(sum(col("__cnt")).as("__ni"),
        sum(col("__cnt").cast("decimal(38,0)") *
          col("__2r").cast("decimal(38,0)")).as("__r2i"))
    val tD = col("__t").cast("decimal(38,0)")
    val tieTbl = ranked.groupBy(col(groupCol))
      .agg(sum((tD * tD - lit(1L)) * tD).as("ties"))
    perCohort.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("k"),
        sum(col("__ni")).as("n0"),
        sum(round(col("__r2i").cast("double") * col("__r2i").cast("double")
          / col("__ni").cast("double"), 6).cast("decimal(38,6)"))
          .cast("double").as("b"))
      .join(tieTbl, Seq(groupCol))
      .withColumn("n", col("n0").cast("double"))
      .where(col("k") >= 2.0 && expr(s"$kruskalCorrExpr > 0.0"))
      .withColumn("h", expr(kruskalHExpr))
      .select(col(groupCol), col("k").cast("long").as("n_cohorts"),
        col("n0").as("n"), col("h"))
  }

  /** Shared Wilcoxon signed-rank z expression over the exact per-group
    * statistics (n as double; r2p = 2·W⁺ and ties = Σ(t³−t) as exact
    * integers cast to double): multiplying the classic z's numerator and
    * denominator by 4 clears every fraction —
    * z = (2·r2p − n(n+1)) / sqrt((2n(n+1)(2n+1) − ties)/3). The variance
    * factor is also the definedness guard (all |d| tied ⇒ 0).
    */
  val wilcoxonVarExpr: String =
    "(2.0 * n * (n + 1.0) * (2.0 * n + 1.0) - CAST(ties AS DOUBLE)) / 3.0"
  val wilcoxonZExpr: String =
    "round((2.0 * CAST(r2p AS DOUBLE) - n * (n + 1.0)) " +
      s"/ sqrt($wilcoxonVarExpr), 6)"

  /** Paired Wilcoxon signed-rank test per group — [[mannWhitneyU]]'s
    * PAIRED companion (two scores of the SAME item, e.g. two classifier
    * variants over one corpus): ranks the absolute differences and asks
    * whether positive differences carry systematically more rank mass.
    * Zero differences are dropped (the standard convention); tied |d|
    * values share their average rank.
    *
    * Exactness: the [[mannWhitneyU]] discipline verbatim — ranks only on
    * the COMPRESSED (group, |d|) table, half-integers cleared by
    * doubling (2W⁺ = Σ cp·(2·below + t + 1), exact), tie term Σ(t³−t),
    * both in DECIMAL(38,0) (n²/n³-scale products), ONE shared z
    * expression. Groups with no nonzero pairs or all |d| tied are
    * dropped (z undefined).
    *
    * Scale: one map-side-combining aggregation to (group, |d|)
    * granularity, one group-keyed cumulative window over the compressed
    * table, one group-keyed sum.
    */
  def wilcoxonSignedRank(df: DataFrame, groupCol: String, aCol: String,
      bCol: String): DataFrame = {
    val d = col(aCol) - col(bCol)
    val comp = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull && d =!= 0.0)
      .groupBy(col(groupCol), abs(d).as("__ad"))
      .agg(sum((d > 0).cast("long")).as("__cp"),
        sum((d < 0).cast("long")).as("__cn"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val t = col("__cp") + col("__cn")
    val ranked = comp.withColumn("__below",
      coalesce(sum(t).over(w), lit(0L)))
    val tD = t.cast("decimal(38,0)")
    ranked.groupBy(col(groupCol))
      .agg(sum(t).as("n0"), sum(col("__cp")).as("n_pos"),
        sum(col("__cp").cast("decimal(38,0)") *
          (lit(2L) * col("__below") + t + lit(1L)).cast("decimal(38,0)"))
          .as("r2p"),
        sum((tD * tD - lit(1L)) * tD).as("ties"))
      .withColumn("n", col("n0").cast("double"))
      .where(col("n0") >= 1 && expr(s"$wilcoxonVarExpr > 0.0"))
      .withColumn("z", expr(wilcoxonZExpr))
      .select(col(groupCol), col("n0").as("n_pairs"), col("n_pos"),
        col("z"))
  }

  /** Chi-squared independence test between two categorical columns,
    * with degrees of freedom and Cramér's V — the association audit
    * between, say, language and source (a corpus where they correlate
    * has a sampling skew to explain). Exactness: each cell's statistic
    * is `(o·n − r·c)² / (r·c·n)`, every term promoted to DOUBLE BEFORE
    * the first multiply — `o·n` is row-count-squared scale, which in
    * LONG silently wraps (non-ANSI) past ~3e9 rows, a silent-corruption
    * class at the 100 TB target. Both engines evaluate the identical
    * left-associated double chain, each cell rounds at 6 and sums in
    * DECIMAL, so the test still replays bit-for-bit (double products
    * are exact to 2^53; past that both engines share the same ulp).
    * Rows with a null in either column are excluded (they belong to no
    * cell).
    *
    * Scale: one aggregation to cell granularity (k·m rows), two tiny
    * marginal aggregations broadcast back onto the cells.
    */
  def chi2Independence(df: DataFrame, colA: String,
      colB: String): DataFrame = {
    val cells = df.where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(true) // feeds both marginals and the term sum
    val rowT = cells.groupBy("__a").agg(sum(col("__o")).as("__r"))
    val colT = cells.groupBy("__b").agg(sum(col("__o")).as("__c"))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__k"), countDistinct(col("__b")).as("__m"))
    val num = (col("__o").cast("double") * col("__n") -
      col("__r").cast("double") * col("__c"))
    cells.join(broadcast(rowT), Seq("__a"))
      .join(broadcast(colT), Seq("__b"))
      .crossJoin(broadcast(tot))
      .agg(
        first(col("__n")).as("n"),
        ((first(col("__k")) - 1L) * (first(col("__m")) - 1L)).as("df"),
        sum(round((num * num) /
          (col("__r").cast("double") * col("__c") * col("__n")), 6)
          .cast("decimal(30,6)")).cast("double").as("chi2"),
        least(first(col("__k")), first(col("__m"))).as("__minkm"))
      .withColumn("cramers_v",
        round(sqrt(col("chi2") /
          (col("n") * (col("__minkm") - 1L)).cast("double")), 6))
      .drop("__minkm")
  }

  /** Per-group KL divergence of a key distribution from the global one
    * — the domain-shift / mixture audit (how far each source's token
    * mix sits from the corpus blend). Probabilities are exact integer
    * ratios; each `p·ln(p/q)` term is round(6) DECIMAL-summed (the
    * entropy-term discipline — the ln ulp is absorbed by the rounding).
    * Q has full support over every group's keys by construction
    * (the global distribution includes every group), so no term is
    * ever log-of-zero.
    *
    * Scale: one aggregation to (group, key), one to key, one tiny
    * totals frame — the global key table joins the group table
    * key-partitioned; state is vocabulary-sized, never row-sized.
    */
  def klFromGlobal(df: DataFrame, groupCol: String,
      keyCol: String): DataFrame = {
    val gk = df.where(col(keyCol).isNotNull)
      .groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(true)
    val g = gk.groupBy(col(groupCol)).agg(sum(col("__o")).as("__ng"))
    val k = gk.groupBy(col(keyCol)).agg(sum(col("__o")).as("__ok"))
    val tot = gk.agg(sum(col("__o")).as("__n"))
    gk.join(broadcast(g), Seq(groupCol))
      .join(k, Seq(keyCol))
      .crossJoin(broadcast(tot))
      .withColumn("__p", col("__o").cast("double") / col("__ng").cast("double"))
      .withColumn("__q", col("__ok").cast("double") / col("__n").cast("double"))
      .groupBy(col(groupCol))
      .agg(first(col("__ng")).as("n_keys_obs"),
        sum(round(col("__p") * log(col("__p") / col("__q")), 6)
          .cast("decimal(30,6)")).cast("double").as("kl"))
      .withColumnRenamed("n_keys_obs", "n_obs")
  }

  /** The shared half-away-from-zero scale-6 rounding, spelled with
    * floor/abs/compare only — `round(x, 6)` differs between engines at
    * binary-representation boundaries (Spark rounds the EXACT double via
    * BigDecimal HALF_UP; DuckDB's double round() can go the other way on
    * values a hair under .5e-6 — measured on stats_jsd at sf0.001:
    * 0.0036284999999999998 → 0.003628 vs 0.003629). Identical IEEE ops
    * in both engines; the Similarity.round6Scaled twin.
    *
    * Domain: |x| must stay below 2^53/10^6 ≈ 9.0e9 — beyond that,
    * `x · 1e6` exceeds 2^53 and the fractional part the half-up compare
    * reads is silently gone (the result degrades to plain truncation of
    * an already-integral double). Every call site feeds bounded
    * statistics (JSD ≤ ln 2, p-values ≤ 1, rate ratios, betweenness
    * deltas ≤ seed·reach); a caller with potentially huge magnitudes
    * must pass them through unrounded instead.
    */
  def half6Sql(t: String): String =
    s"(CAST(CASE WHEN ($t) * 1000000.0 < 0 " +
      s"THEN -(floor(abs(($t) * 1000000.0)) + (CASE WHEN abs(($t) * 1000000.0) - floor(abs(($t) * 1000000.0)) >= 0.5 THEN 1 ELSE 0 END)) " +
      s"ELSE floor(abs(($t) * 1000000.0)) + (CASE WHEN abs(($t) * 1000000.0) - floor(abs(($t) * 1000000.0)) >= 0.5 THEN 1 ELSE 0 END) " +
      s"END AS DOUBLE) / 1000000.0)"

  /** Shared JSD final expression over (sa, sb: per-term-rounded DECIMAL
    * sums cast to double; qcov, n: exact longs): the words a group never
    * observed contribute q·ln(q/(q/2)) = q·ln 2 to KL(Q‖M) in closed
    * form, so they never need rows — ½·ln 2·(1 − qcov/n) covers the
    * entire unobserved tail exactly. Final rounding via [[half6Sql]]
    * (an sf0.001 group landed on a round(x, 6) engine boundary).
    */
  val jsdExpr: String =
    half6Sql("0.5 * sa + 0.5 * sb + 0.5 * ln(2.0) " +
      "* (1.0 - CAST(qcov AS DOUBLE) / CAST(n AS DOUBLE))")

  /** Per-group Jensen–Shannon divergence of the key distribution from
    * the corpus blend — [[klFromGlobal]]'s symmetric, always-finite
    * companion (KL explodes on group-only words; JSD is bounded by ln 2,
    * the right scale for comparing domain shifts ACROSS groups). Per
    * observed (group, word): p·ln(p/m) and q·ln(q/m) with m = (p+q)/2,
    * per-term round(6) DECIMAL sums; the unobserved tail of KL(Q‖M) is
    * the closed form ½·ln2·(1 − qcov/n) — no vocab-sized row expansion
    * per group. ONE shared final expression.
    *
    * Scale: identical to [[klFromGlobal]] — one (group, key) count,
    * group/key marginals joined back (group marginal broadcast), one
    * group-keyed sum. State per group: two decimals + two longs.
    */
  def jsdFromGlobal(df: DataFrame, groupCol: String,
      keyCol: String): DataFrame = {
    val gk = df.where(col(keyCol).isNotNull)
      .groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(true)
    val g = gk.groupBy(col(groupCol)).agg(sum(col("__o")).as("__ng"))
    val k = gk.groupBy(col(keyCol)).agg(sum(col("__o")).as("__ok"))
    val tot = gk.agg(sum(col("__o")).as("__n"))
    gk.join(broadcast(g), Seq(groupCol))
      .join(k, Seq(keyCol))
      .crossJoin(broadcast(tot))
      .withColumn("__p", col("__o").cast("double") / col("__ng").cast("double"))
      .withColumn("__q", col("__ok").cast("double") / col("__n").cast("double"))
      .withColumn("__m", (col("__p") + col("__q")) / 2.0)
      .groupBy(col(groupCol))
      .agg(first(col("__ng")).as("n_obs"),
        sum(round(col("__p") * log(col("__p") / col("__m")), 6)
          .cast("decimal(30,6)")).cast("double").as("sa"),
        sum(round(col("__q") * log(col("__q") / col("__m")), 6)
          .cast("decimal(30,6)")).cast("double").as("sb"),
        sum(col("__ok")).as("qcov"),
        first(col("__n")).as("n"))
      .withColumn("jsd", expr(jsdExpr))
      .select(col(groupCol), col("n_obs"), col("jsd"))
  }

  /** First-order Markov transition matrix over each entity's event
    * stream: counts of consecutive (from_type → to_type) steps and the
    * row-normalized transition probability — the behavioral-model /
    * sequence-prior estimation step (also the input to the next-event
    * perplexity check on `nextEventPairs` output).
    *
    * Exactness: counts are integers end to end; `prob` is one integer
    * ratio rounded at 6. Scale: the lag window co-partitions with the
    * entity key (one exchange, per-key sorts), then two aggregations at
    * type-pair granularity — state is |types|², not row-sized; the
    * row-total join broadcasts.
    */
  def markovTransitions(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    // null event types are excluded BEFORE the lag: inside the stream
    // they would both form (x, null) rows and silently break the chain
    // around them (the ksDrift null rule)
    val steps = events.where(col(typeCol).isNotNull)
      .select(col(keyCol), lag(col(typeCol), 1).over(w).as("from_type"),
        col(typeCol).as("to_type"))
      .where(col("from_type").isNotNull)
    val counts = steps.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("from_type").agg(sum(col("cnt")).as("__t"))
    counts.join(broadcast(totals), Seq("from_type"))
      .withColumn("prob",
        round(col("cnt").cast("double") / col("__t").cast("double"), 6))
      .drop("__t")
  }

  /** Per-slice exact binomial sign test over a day-ordered count series,
    * corrected for multiple testing with Benjamini–Hochberg — the audit
    * that separates "this slice's volume is trending" from "one of 40
    * slices was bound to look like it" (the multiple-comparisons trap
    * every per-slice quality dashboard falls into).
    *
    * The series is the slice's daily row count (integer-exact, the
    * tsTrend compression), so the consecutive-day movement signs need no
    * float arithmetic at all. Per slice: k = # upward movements among
    * the n non-flat movements; the two-sided p-value is the exact
    * binomial tail 2·min(P[X≤k], P[X≥k]) at p=½ — computed from exact
    * BIGINT binomial coefficients via the multiplicative recurrence
    * C(n,j) = Π_{i≤j} (n−i+1)/i folded in order (each prefix is itself a
    * binomial coefficient, so every intermediate division is exact; for
    * day-count series n ≤ 366, far inside the C(n,·)·n ≤ 2^63 envelope
    * whenever n ≤ 61 — `require`d, since a year of DAILY movements never
    * exceeds it per period and longer windows should aggregate weekly).
    * One final division per slice, rounded at 6.
    *
    * BH step-up across the m slices: rank p ascending (ties broken by
    * slice id for determinism), reject ranks ≤ k* = max{i : p_(i) ≤
    * i·q/m}. The ranking window runs over the SLICE-GRANULARITY table (m
    * rows, one per slice — the compressed-table exception to the
    * no-global-window rule; the data-scale rows never see a window).
    *
    * Scale: one (slice, day) count aggregation (map-side combining), one
    * slice-keyed lag window, one slice-keyed sum — then the m-row BH
    * ranking. State per slice: two longs.
    */
  def signTestBH(events: DataFrame, sliceCols: Seq[String], tsCol: String,
      q: Double = 0.05, maxDays: Int = 61): DataFrame = {
    require(sliceCols.nonEmpty)
    val slice = sliceCols.map(col)
    val daily = events
      .groupBy(slice :+ to_date(col(tsCol)).as("__d"): _*)
      .agg(count(lit(1)).as("__x"))
    val w = Window.partitionBy(slice: _*).orderBy(col("__d"))
    val moves = daily
      .select(slice :+ (col("__x") - lag(col("__x"), 1).over(w)).as("__dx"): _*)
      .where(col("__dx").isNotNull && col("__dx") =!= 0)
    // every slice stays in the family — a slice with zero non-flat
    // movements is still one of the m tested hypotheses (p = 1), and
    // dropping it would silently shrink the BH denominator
    val perSlice = daily.select(slice: _*).distinct()
      .join(moves.groupBy(slice: _*)
        .agg(count(lit(1)).as("n_moves"),
          sum((col("__dx") > 0).cast("long")).as("k_up")),
        sliceCols, "left")
      .na.fill(0L, Seq("n_moves", "k_up"))
      .withColumn("__chk",
        assert_true(col("n_moves") <= maxDays,
          lit(s"signTestBH: more than $maxDays movements per slice — " +
            "aggregate to a coarser grain")))
      .where(col("__chk").isNull).drop("__chk")
    // C(n,j) as an in-order integer fold; the tails share it verbatim.
    // j = 0 is guarded explicitly: Spark's sequence(1, 0) is DESCENDING
    // (the corpusBleu trap) and would fold through a division by zero,
    // while DuckDB's generate_series(1, 0) is empty — the one j where
    // the two engines' unguarded folds disagree.
    val binom =
      "(CASE WHEN j = 0 THEN CAST(1 AS BIGINT) ELSE " +
        "aggregate(sequence(1, CAST(j AS INT)), CAST(1 AS BIGINT), " +
        "(acc, i) -> acc * (n_moves - i + 1) div i) END)"
    val tail = (lo: String, hi: String) =>
      s"aggregate(sequence(CAST($lo AS INT), CAST($hi AS INT)), " +
        s"CAST(0 AS BIGINT), (acc, j) -> acc + $binom)"
    val withP = perSlice.withColumn("p_value", expr(
      s"""CASE WHEN n_moves = 0 THEN 1.0 ELSE round(least(1.0,
         |  2.0 * CAST(least(${tail("0", "k_up")}, ${tail("k_up", "n_moves")})
         |            AS DOUBLE)
         |      / CAST(${tail("0", "n_moves")} AS DOUBLE)), 6) END""".stripMargin))
    val wAll = Window.orderBy(col("p_value") +: slice: _*)
    val ranked = withP
      .withColumn("rank", row_number().over(wAll).cast("long"))
      .withColumn("__m", count(lit(1)).over(
        Window.partitionBy()).cast("long"))
    val kStar = max(when(
      col("p_value") <= col("rank").cast("double") * q / col("__m").cast("double"),
      col("rank")).otherwise(lit(0L)))
      .over(Window.partitionBy())
    ranked
      .withColumn("bh_thresh",
        round(col("rank").cast("double") * q / col("__m").cast("double"), 6))
      .withColumn("rejected", col("rank") <= kStar)
      .drop("__m")
  }

  /** Per-slice single change-point over the daily count series: the day
    * maximizing |CUSUM| of the mean-centered series — binary
    * segmentation's first split, the point estimate companion to the
    * [[cusum]] monitor. The centered prefix sum is kept exact by
    * multiplying through by the day count: C_t = D·Σ_{d≤t} x_d − t·S
    * (a DECIMAL(38,0) integer — no float drift, no S/D division), so
    * argmax ties are well-defined and break to the earliest day.
    *
    * Scale: one (slice, day) aggregation, one slice-keyed window pair
    * (prefix sum + argmax), one row per slice out.
    */
  def changepointCusum(events: DataFrame, sliceCols: Seq[String],
      tsCol: String): DataFrame = {
    require(sliceCols.nonEmpty)
    val slice = sliceCols.map(col)
    // day-truncated TIMESTAMP, not DATE: the proven oracle-compare dtype
    // (the cohort_retention convention)
    val daily = events
      .groupBy(slice :+ date_trunc("day", col(tsCol)).as("day"): _*)
      .agg(count(lit(1)).cast("decimal(38,0)").as("__x"))
    val ws = Window.partitionBy(slice: _*)
    val wOrd = ws.orderBy(col("day"))
    val scored = daily
      .withColumn("__t", row_number().over(wOrd).cast("decimal(38,0)"))
      .withColumn("__pre", sum(col("__x")).over(wOrd))
      .withColumn("__D", count(lit(1)).over(ws).cast("decimal(38,0)"))
      .withColumn("__S", sum(col("__x")).over(ws))
      // interior points only: C_D = 0 by construction and a "change
      // point" at the final day is vacuous
      .where(col("__t") < col("__D"))
      .withColumn("__c",
        abs(col("__D") * col("__pre") - col("__t") * col("__S")))
    scored.groupBy(slice: _*)
      .agg(expr("min_by(day, struct(-__c, day))").as("cp_day"),
        max(col("__c")).as("__cmax"),
        max(col("__D")).cast("long").as("n_days"))
      // score on the original per-day scale: |C|/D, one division
      .withColumn("score", round(col("__cmax").cast("double")
        / col("n_days").cast("double"), 6))
      .drop("__cmax")
  }
}

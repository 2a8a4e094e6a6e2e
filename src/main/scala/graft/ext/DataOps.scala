package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-assembly operators for a large-scale training-data pipeline:
  * profiling, deterministic sampling, and mixture weighting. All pure
  * DataFrame compositions — one aggregation or window pass each, no
  * driver-side iteration, no RNG (reproducible plans end to end).
  */
object DataOps {

  /** Parallelism floor: repartition up to `target` (default: the cluster's
    * core count) ONLY when the plan currently has fewer partitions. The
    * compute-heavy kernels (shingling, minhash, signature fan-outs) are
    * CPU-bound per row, so a corpus that arrives as a handful of splits —
    * one small parquet file, a single unsplittable row group — would
    * otherwise run serially no matter how many cores exist. At scale this
    * is a no-op: a 100 TB scan arrives with thousands of splits, the guard
    * fails, and no shuffle is added. It only pays (one narrow round-robin
    * exchange of the projected columns) exactly when the input is too
    * small for the exchange to matter.
    */
  def parallelismFloor(df: DataFrame, target: Int = 0): DataFrame = {
    val t = if (target > 0) target
            else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < t) df.repartition(t) else df
  }

  /** One-pass per-column profile: row count, null count, exact distinct
    * count. Output one row per profiled column — the data-quality gate a
    * pipeline runs before training ingestion. (Exact distincts: swap in
    * `Sketches.approxDistinct` per column when the table is huge.)
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"__n_$c"),
        sum(col(c).isNull.cast("long")).as(s"__nulls_$c"),
        countDistinct(col(c)).as(s"__distinct_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("column"), col(s"__n_$c").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__distinct_$c").as("n_distinct"))
    }
    row.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Deterministic systematic sample: every k-th row per stratum in a
    * pinned total order — reproducible (no RNG, no seed drift across
    * retries) and exactly proportional per stratum, unlike `sampleBy`.
    */
  def systematicSample(df: DataFrame, stratumCols: Seq[String],
      orderCols: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(stratumCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .where((col("__rn") - 1) % k === 0)
      .drop("__rn")
  }

  /** SCD2 (type-2 slowly-changing-dimension) interval builder: collapse an
    * event stream into one row per *run* of an unchanged state value, with
    * `[valid_from, valid_to)` validity bounds (`valid_to` null = current
    * row). The general form of the reference's mutable current-state
    * columns (`asset.current_wallet_id`, `asset_ext.latest_*`): those keep
    * only the last run; this keeps the full history.
    *
    * Shape at scale: two window passes and one partial-aggregating groupBy,
    * all partitioned by the entity key — a single shuffle on the key, no
    * self-join, no global sort.
    */
  def scd2(df: DataFrame, keyCols: Seq[String], stateCol: String,
      tsCol: String, tieCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: tieCols).map(col): _*)
    val runs = df
      .withColumn("__chg",
        when(lag(col(stateCol), 1).over(w) <=> col(stateCol), 0L).otherwise(1L))
      .withColumn("__run", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val collapsed = runs
      .groupBy((keyCols :+ stateCol :+ "__run").map(col): _*)
      .agg(min(col(tsCol)).as("valid_from"))
    val w2 = Window.partitionBy(keyCols.map(col): _*).orderBy(col("valid_from"))
    collapsed
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__run")
  }

  /** Per-group quota cap: keep the first `n` rows per group in a pinned
    * order (dataset-assembly "at most N documents per domain"). One window
    * pass partitioned by the group key; the filter drops rows before any
    * further shuffle.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], n: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  /** Time-series resample with gap filling: bucket rows per key into
    * fixed intervals and emit a row for EVERY bucket between each key's
    * first and last — missing buckets get zero counts (the densify step
    * before windowed models / charting). The spine is generated per key
    * with `sequence` + `explode` — distributed, proportional to each
    * key's own span, no driver-side calendar loop.
    */
  def resampleFill(df: DataFrame, keyCols: Seq[String], tsCol: String,
      unit: String = "hour"): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df
      .groupBy(keys :+ date_trunc(unit, col(tsCol)).as("bucket"): _*)
      .agg(count(lit(1)).as("n"))
    val spine = counts
      .groupBy(keys: _*)
      .agg(min(col("bucket")).as("__t0"), max(col("bucket")).as("__t1"))
      .select(keys :+ explode(sequence(col("__t0"), col("__t1"),
        expr(s"interval 1 $unit"))).as("bucket"): _*)
    spine.join(counts, keyCols :+ "bucket", "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }

  /** Per-key mergeable aggregate state — the maintained half of
    * incremental view maintenance: (cnt, sum6, vmin, vmax) where `sum6`
    * is the round-at-6 DECIMAL sum (exact, order-independent — the dsum
    * discipline — and, critically, ASSOCIATIVE, which is what makes the
    * state re-mergeable without drift).
    */
  def aggState(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(col(valCol)).as("cnt"),
        sum(round(col(valCol), 6).cast("decimal(30,6)")).as("sum6"),
        min(col(valCol)).as("vmin"), max(col(valCol)).as("vmax"))

  /** Merge a delta batch's aggregate state into the maintained state —
    * incremental view maintenance for the distributive aggregates
    * (count/sum/min/max; avg = sum/cnt at read time). The 100 TB point:
    * each refresh touches `O(|state| + |delta|)` rows — the fact history
    * is NEVER re-scanned — and because every column is associative +
    * commutative, merged state is bit-equal to a full recompute (the
    * `agg_incremental` oracle pins exactly that equality).
    */
  def mergeAggState(state: DataFrame, deltaState: DataFrame,
      keyCols: Seq[String]): DataFrame =
    state.unionByName(deltaState)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum6")).cast("decimal(30,6)").as("sum6"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))

  /** Mixture weighting by integer epoch counts: each row is replicated
    * `weight(source)` times with a 1-based `rep` index (the "3 epochs of
    * wiki, 1 of web" dataset-assembly step). Weight-0 sources drop out.
    * The weights table is tiny -> broadcast; replication happens where the
    * rows live (explode after the join, no shuffle of the corpus).
    */
  def weightedMixture(df: DataFrame, sourceCol: String,
      weights: Map[String, Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(sourceCol, "__weight")
    df.join(broadcast(w), Seq(sourceCol))
      .where(col("__weight") >= 1)
      .withColumn("rep", explode(sequence(lit(1L), col("__weight").cast("long"))))
      .drop("__weight")
  }

  /** Fractional mixture weighting: weight 2.4 means 2 full epochs plus a
    * deterministic 40% chance of a third, decided per document by a
    * uniform draw from `HashExprs.uniform01(id)` — no RNG, so retries,
    * reruns, and the DuckDB oracle all see the same replica set. This is
    * the temperature-resampling step of dataset mixing, where quota
    * ratios are rarely integers.
    */
  def weightedMixtureFractional(df: DataFrame, sourceCol: String,
      idCol: String, weights: Map[String, Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(sourceCol, "__w")
    df.join(broadcast(w), Seq(sourceCol))
      .withColumn("__base", floor(col("__w")).cast("long"))
      .withColumn("__extra",
        when(HashExprs.uniform01(col(idCol)) < col("__w") - col("__base"), 1L)
          .otherwise(0L))
      .where(col("__base") + col("__extra") >= 1L)
      .withColumn("rep", explode(sequence(lit(1L), col("__base") + col("__extra"))))
      .drop("__w", "__base", "__extra")
  }

  /** The A-ES priority shared VERBATIM with the DuckDB oracle, over
    * integer inputs (`__un` = top-53-bits-plus-1 of the key's mix64, so
    * the uniform lives in (0, 1] and ln never sees 0; `__w` = the
    * positive integer weight): round(9) absorbs libm ln() ulp.
    * Maximizing u^(1/w) is maximizing ln(u)/w (ln is monotone), so the
    * classic priority needs no pow().
    */
  val weightedSamplePriorityExpr: String =
    "round(ln(CAST(__un AS DOUBLE) / 9007199254740992.0) " +
      "/ CAST(__w AS DOUBLE), 9)"

  /** Deterministic weighted sampling without replacement per group
    * (Efraimidis–Spirakis A-ES): keep each group's top-`k` rows by
    * priority u^(1/w) with u a splitmix64 uniform of the row id — heavier
    * rows win proportionally more often, yet the sample is a pure
    * function of (ids, weights): reruns, repartitions, and the DuckDB
    * oracle all draw the same rows. The weighted companion of
    * `sample_capped`'s uniform per-key cap.
    *
    * Scale: a narrow codegen projection computes priorities; the top-k
    * is one co-partitioned window per group (never a global sort). Ties
    * are impossible in practice (53-bit priorities) and pinned by the id
    * tiebreak anyway.
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    val p = df
      .withColumn("__un",
        shiftrightunsigned(HashExprs.mix64(col(idCol)), 11) + lit(1L))
      .withColumn("__w", greatest(col(weightCol).cast("long"), lit(1L)))
      .withColumn("priority", expr(weightedSamplePriorityExpr))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("priority").desc, col(idCol).asc)
    p.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(groupCol), col(idCol), col("__w").as("weight"),
        col("priority"), col("rank"))
  }

  /** The temperature-weight expression shared VERBATIM with the DuckDB
    * oracle: pow over exact integer ratios, rounded at 6 to absorb libm
    * pow() ulp differences (the tf-idf ln() discipline).
    */
  def temperatureWeightExpr(invT: Double): String =
    s"round(pow(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), $invT), 6)"

  /** Temperature-scaled mixture weights per source (the multilingual /
    * multi-source sampling-ratio computation): raw share p_s = n_s/N is
    * flattened to p_s^(1/T) and renormalized, so low-resource sources are
    * upsampled as T grows (T=1 keeps natural ratios). This computes the
    * WEIGHTS that `weightedMixtureFractional` above then applies — the
    * two halves of the standard temperature-resampling recipe.
    *
    * Determinism: the pow outputs are rounded at 6 and renormalized via
    * an exact DECIMAL total, so the published ratios are identical bits
    * in any engine. Scale: one map-side-combining aggregate to the
    * source-sized table; everything after is arithmetic on that tiny
    * frame.
    */
  def temperatureMixture(df: DataFrame, sourceCol: String,
      temperature: Double = 2.0): DataFrame = {
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // feeds the total AND the per-source ratios
    val total = counts.agg(sum(col("n")).as("tot"))
    val w = counts.crossJoin(broadcast(total))
      .withColumn("p_raw", col("n").cast("double") / col("tot").cast("double"))
      .withColumn("w_temp", expr(temperatureWeightExpr(1.0 / temperature)))
    val wTot = w.agg(sum(col("w_temp").cast("decimal(30,6)")).as("wt"))
    w.crossJoin(broadcast(wTot))
      .withColumn("p_temp",
        round(col("w_temp") / col("wt").cast("double"), 6))
      .select(col(sourceCol), col("n"), col("p_raw"), col("w_temp"), col("p_temp"))
  }

  /** Deterministic train/val/test assignment: each row's split is a pure
    * function of its id (`mix64(id) mod 100` against cumulative percent
    * bounds), so the partition a document lands in survives reruns,
    * repartitions, corpus growth (new ids don't move old ones), and
    * engine changes — the property that keeps eval sets uncontaminated
    * across pipeline versions. Zero shuffles: a narrow codegen projection.
    *
    * `bounds` are (name, exclusiveUpperPercent) pairs in ascending order,
    * e.g. ("train",80),("val",90),("test",100).
    */
  def datasetSplit(df: DataFrame, idCol: String,
      bounds: Seq[(String, Int)]): DataFrame = {
    require(bounds.nonEmpty && bounds.last._2 == 100,
      "split bounds must end at 100")
    val bucket = pmod(HashExprs.mix64(col(idCol).cast("long")), lit(100L))
    val split = bounds.tail.foldLeft(
      when(bucket < bounds.head._2, bounds.head._1)) {
      case (acc, (name, hi)) => acc.when(bucket < hi, name)
    }
    df.withColumn("bucket", bucket).withColumn("split", split)
  }

  /** Deterministic negative sampling for contrastive training: for each
    * group (query/user/order), emit `k` candidate ids drawn
    * pseudo-randomly from `[0, nItems)` by hashing `(group, slot)` with
    * mix64, then anti-join away any candidate that is a true positive of
    * that group. No RNG state — the sample is a pure function of the
    * data, so restarts, retries, and engine swaps reproduce it exactly.
    *
    * Scale: candidate generation is a row-local explode of `k` slots;
    * the anti-join is key-equi on (group, item) against the positives —
    * one co-partitioned exchange, no broadcast of the item universe.
    */
  def negativeSample(positives: DataFrame, groupCol: String, itemCol: String,
      nItems: Long, k: Int): DataFrame = {
    require(k > 0 && nItems > 0)
    // The mix64 draw hashes the raw long key; a non-numeric group column
    // would cast to null, making every candidate null — and null items
    // always survive the anti-join, so the caller would silently get
    // garbage rows. Fail loudly instead.
    require({
      import org.apache.spark.sql.types._
      positives.schema(groupCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, s"negativeSample: group column '$groupCol' must be integral " +
      s"(got ${positives.schema(groupCol).dataType.simpleString}) — " +
      "hash or dictionary-encode string keys first")
    val groups = positives.select(col(groupCol)).distinct()
    val cand = groups
      .withColumn("slot", explode(sequence(lit(0), lit(k - 1))))
      .withColumn(itemCol,
        pmod(HashExprs.mix64(col(groupCol).cast("long") * lit(k.toLong) +
          col("slot").cast("long")), lit(nItems)))
    cand.join(positives.select(col(groupCol), col(itemCol)).distinct(),
        Seq(groupCol, itemCol), "left_anti")
      .select(col(groupCol), col("slot").cast("long").as("slot"), col(itemCol))
  }

  /** Budget-capped selection ("token budget curation"): within each
    * group, rank rows by `ordCols` and keep a prefix whose cumulative
    * `costCol` stays within `budget` — the top-quality slice of each
    * source that fits the training-token allowance. The cumulative sum
    * is a running-total window co-partitioned with the group, so the
    * whole pass is one exchange + per-group sort; a row is kept when the
    * INCLUSIVE running cost is within budget (the first over-budget row
    * is dropped, not truncated).
    */
  def selectByBudget(df: DataFrame, groupCol: String, ordCols: Seq[Column],
      costCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(ordCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_cost", sum(col(costCol)).over(w))
      .where(col("cum_cost") <= budget)
  }

  /** Waterfilling token-budget allocation across mixture domains — the
    * Pile/Dolma-style question "given B training tokens and per-domain
    * target weights, how many tokens does each domain contribute when
    * some domains don't HAVE their proportional share?": allocate
    * min(avail_i, τ·w_i) with the threshold τ chosen so the total is
    * exactly B — scarce domains saturate (contribute everything they
    * have) and their shortfall redistributes proportionally among the
    * rest. Closed form, no iteration: in ascending avail/weight order
    * the saturated set is a prefix, so one pass of prefix sums finds
    * the cut.
    *
    * Exactness: the per-domain saturation test is the EXACT integer
    * cross-multiplication a_i·W_{≥i} ≤ (B − A_{<i})·w_i in
    * DECIMAL(38,0) (never a float τ comparison); the running-AND that
    * extracts the saturated prefix is a window min over that flag; only
    * the final unsaturated allocation (B − satA)·w/unsatW is a float,
    * via ONE shared half-rounded expression. If B ≥ Σ avail, everything
    * saturates and the allocation is just `avail` (no division).
    *
    * Scale: the input is the DOMAIN table — one row per mixture
    * component, vocabulary-sized BY CONTRACT (a pipeline has tens of
    * domains, not millions) — so the two ordered windows over it are
    * K-row single-partition by design, not a data-volume trap; the
    * corpus itself is only touched by whatever aggregation built the
    * domain table.
    */
  def waterfill(domains: DataFrame, keyCol: String, weightCol: String,
      availCol: String, budget: Long): DataFrame = {
    require(budget >= 0L, "waterfill: budget must be non-negative")
    val d38 = "decimal(38,0)"
    // Domain-row validation, loud (ADVICE r10 #2): weight ≤ 0 makes the
    // avail/weight ordering key Inf/NaN and FLIPS the sign of the exact
    // cross-multiplication; negative avail corrupts the prefix sums. Both
    // trip raise_error in the value path itself (prune-proof), mirroring
    // the budget guard above and brownForsythe's assert_true discipline.
    val wChecked = when(col(weightCol).cast("long") >= 1L,
        col(weightCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("waterfill: weight must be >= 1, got "),
        col(weightCol).cast("string"), lit(" for key "),
        col(keyCol).cast("string"))))
    val aChecked = when(col(availCol).cast("long") >= 0L,
        col(availCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("waterfill: avail must be >= 0, got "),
        col(availCol).cast("string"), lit(" for key "),
        col(keyCol).cast("string"))))
    // ordering key: avail/weight as an IEEE double (identical division
    // in both engines), key as the deterministic tiebreak
    val ord = Seq(col("__a").cast("double") /
      col("__w").cast("double"), col(keyCol))
    val wPrev = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRest = Window.orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wRun = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = domains
      .select(col(keyCol), wChecked.as("__w"), aChecked.as("__a"))
      .withColumn("__aprev", coalesce(sum(col("__a")).over(wPrev), lit(0L)))
      .withColumn("__restw", sum(col("__w")).over(wRest))
      .withColumn("__flag",
        col("__a").cast(d38) * col("__restw").cast(d38) <=
          (lit(budget) - col("__aprev")).cast(d38) * col("__w").cast(d38))
      .withColumn("saturated",
        min(when(col("__flag"), 1L).otherwise(0L)).over(wRun) === 1L)
    val tot = flagged.agg(
      coalesce(sum(when(col("saturated"), col("__a"))), lit(0L)).as("__sata"),
      coalesce(sum(when(!col("saturated"), col("__w"))), lit(0L))
        .as("__unsatw"))
    flagged.crossJoin(broadcast(tot))
      .withColumn("alloc", when(col("saturated"),
          col("__a").cast("double"))
        .otherwise(expr(Analytics.half6Sql(
          s"(CAST($budget AS DOUBLE) - CAST(__sata AS DOUBLE)) " +
            "* CAST(__w AS DOUBLE) / CAST(__unsatw AS DOUBLE)"))))
      .select(col(keyCol), col("__w").as("weight"), col("__a").as("avail"),
        col("saturated"), col("alloc"))
  }

  /** k-anonymity suppression: rows grouped by the quasi-identifier
    * columns survive only when the group has at least `k` members;
    * smaller groups collapse into one `*`-masked bucket so no published
    * row isolates fewer than k individuals — and if the masked bucket
    * ITSELF holds fewer than k (e.g. a single suppressed group of one),
    * it is dropped entirely, so the guarantee holds for every published
    * row. Quasi-ids are cast to string so the `*` mask types against
    * numeric columns too. Output is the anonymized GROUP table
    * (quasi-ids, group size, summed measure) — the release shape of a
    * privacy-gated aggregate feed.
    *
    * Scale: one hash aggregation on the quasi-identifier, then a second
    * trivial aggregation over only the suppressed groups (bounded by the
    * distinct-group count, not the row count).
    */
  def kAnonymize(df: DataFrame, quasiIdCols: Seq[String], measureCol: String,
      k: Long): DataFrame = {
    val grouped = df
      .select(quasiIdCols.map(c => col(c).cast("string").as(c)) :+
        col(measureCol): _*)
      .groupBy(quasiIdCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(measureCol).cast("long")).as("measure"))
    val kept = grouped.where(col("n") >= k)
    val masked = grouped.where(col("n") < k)
      .select(quasiIdCols.map(_ => lit("*")) ++ Seq(col("n"), col("measure")): _*)
      .toDF(quasiIdCols ++ Seq("n", "measure"): _*)
      .groupBy(quasiIdCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("measure")).as("measure"))
      .where(col("n") >= k) // the bucket must satisfy k-anonymity too
    kept.unionByName(masked)
  }

  /** Shared Neyman expressions — exact (n, sx, sxx) in, population
    * stddev / allocation out, spelled identically in both engines.
    */
  private[graft] val neymanSdExpr: String =
    "sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) " +
      "/ CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
  private[graft] def neymanAllocExpr(budget: Int): String =
    s"greatest(1, CAST(floor($budget * CAST(wh AS DOUBLE) " +
      "/ CAST(wtot AS DOUBLE)) AS BIGINT))"

  /** Neyman-allocation stratified sample: the survey-sampling optimum —
    * a stratum's share of the budget is proportional to N_h·S_h (its
    * size times its internal stddev), so high-variance strata get the
    * observations and homogeneous ones don't waste budget. Stddevs come
    * from exact DECIMAL(38,0) (n, Σx, Σx²) — the x² sums would wrap a
    * long at corpus scale — weights are round(6) DECIMALs so their total
    * is summation-order-free, and the draw itself is the O(k)-state
    * bottom-k-by-mix64 sketch per stratum (deterministic, RNG-free,
    * mergeable). Every stratum gets at least 1 row (floor allocation).
    *
    * Scale: one map-side-combining moment aggregation to stratum
    * granularity, a broadcast scalar total, and ONE bottom-k aggregation
    * over the corpus — never a per-stratum sort.
    */
  def neymanSample(df: DataFrame, stratumCol: String, valueCol: String,
      idCol: String, budget: Int): DataFrame = {
    val x = col(valueCol).cast("decimal(19,0)")
    // both moments from the SAME rounded value: sum(x·raw) with a
    // fractional value column would mix round(x)·x moments, letting
    // sxx - sx²/n go negative → sd = sqrt(<0) = NaN weights
    val stats = df.groupBy(stratumCol)
      .agg(count(lit(1)).as("n"),
        sum(x).cast("decimal(38,0)").as("sx"),
        sum(x * x).cast("decimal(38,0)").as("sxx"))
      .withColumn("sd", expr(neymanSdExpr))
      .withColumn("wh",
        expr("CAST(round(CAST(n AS DOUBLE) * sd, 6) AS DECIMAL(30,6))"))
    val wtot = stats.agg(sum(col("wh")).as("wtot"))
    val alloc = stats.crossJoin(broadcast(wtot))
      .withColumn("alloc", expr(neymanAllocExpr(budget)))
      .select(col(stratumCol), col("n"), col("alloc"))
    df.groupBy(stratumCol)
      .agg(Aggs.bottomKByHash(col(idCol), budget).as("__sample"))
      .join(alloc, Seq(stratumCol))
      .select(col(stratumCol), col("n"), col("alloc"),
        posexplode(col("__sample")).as(Seq("__pos", idCol)))
      .where(col("__pos") < col("alloc"))
      .drop("__pos")
  }

  /** Rendezvous (highest-random-weight) shard assignment: shard(key) =
    * argmax_w mix64(key·1000003 + w) — each shard's weight depends only
    * on (key, shard id), never on the shard COUNT, so growing W → W+1
    * moves exactly the keys the new shard wins (~1/(W+1)) and never
    * reshuffles between surviving shards. That stability is what a
    * 100 TB re-export wants (mod-N sharding moves ~all keys on resize);
    * ties break to the smallest shard id in both engines.
    *
    * Scale: a pure row-local codegen projection — W mix64 evaluations
    * per row, zero shuffle, zero state. Keys must keep key·1000003+W
    * inside a non-negative long (any production id space does).
    */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards >= 1, "rendezvousShard needs at least one shard")
    if (nShards == 1) lit(0L)
    else if (nShards <= 256) {
      // unrolled form: nShards mix64 columns + a CASE fold — flat,
      // codegen-friendly expressions at fleet-sized shard counts
      val hs = (0 until nShards).map(w =>
        HashExprs.mix64(key * lit(1000003L) + lit(w.toLong)))
      val g = greatest(hs: _*)
      hs.zipWithIndex.tail
        .foldLeft(when(hs.head === g, lit(0L))) {
          case (acc, (h, w)) => acc.when(h === g, lit(w.toLong))
        }
        .otherwise(lit((nShards - 1).toLong))
    } else {
      // loop form for large fleets: the unrolled expression grows
      // linearly in nShards and would blow past the codegen method-size
      // limit at thousands of shards. A single `aggregate` HOF over
      // sequence(0, W-1) keeps the generated code CONSTANT-size — the
      // shard count is runtime data, not expression shape. Ascending
      // fold with strict > reproduces the ties-to-smallest-id rule.
      aggregate(
        sequence(lit(0L), lit((nShards - 1).toLong)),
        struct(lit(0L).as("w"), HashExprs.mix64(key * lit(1000003L)).as("h")),
        (acc, w) => {
          val h = HashExprs.mix64(key * lit(1000003L) + w)
          when(h > acc.getField("h"), struct(w.as("w"), h.as("h")))
            .otherwise(acc)
        },
        acc => acc.getField("w"))
    }
  }

  /** Shared t-closeness final expression — exact (s, m, ng, n_total)
    * in, the normalized ordered EMD out; a single global bucket (m=1)
    * means every distribution is identical, distance 0.
    */
  val tClosenessExpr: String =
    "CASE WHEN m <= 1 THEN 0.0 ELSE round(CAST(s AS DOUBLE) / " +
      "((CAST(m AS DOUBLE) - 1.0) * CAST(ng AS DOUBLE) " +
      "* CAST(n_total AS DOUBLE)), 6) END"

  /** t-closeness audit — the third rung of the release-privacy ladder
    * (k-anonymity: groups big enough; l-diversity: sensitive values
    * varied enough; t-closeness: the group's sensitive DISTRIBUTION
    * close enough to the corpus-wide one that membership leaks nothing
    * distributional). For an ORDERED sensitive attribute the Earth
    * Mover's Distance is the normalized sum of cumulative differences
    * (Li, Li & Venkatasubramanian, ICDE 2007):
    * t(g) = Σ_i |cum_g(i)/n_g − cum(i)/N| / (m−1). Every per-bucket
    * numerator is the exact integer |cum_g·N − cum·n_g| carried in
    * DECIMAL(38,0) — cum·N is corpus-count-squared scale, which would
    * silently wrap a long near 3e9 rows (the chi2 lesson) — and one
    * shared final expression divides once.
    *
    * Scale: two hash aggregations to (group, bucket) / bucket
    * granularity, a groups × buckets cell grid (both audit-sized, never
    * row-sized) with a broadcast bucket table, and per-group cumulative
    * windows over bucket-count rows.
    */
  def tCloseness(df: DataFrame, quasiIdCols: Seq[String], sensCol: Column,
      t: Double): DataFrame = {
    val qc = quasiIdCols.map(col)
    val base = df.select(qc :+ sensCol.as("__s"): _*).localCheckpoint(true)
    val gb = base.groupBy(qc :+ col("__s"): _*).agg(count(lit(1)).as("o"))
    val glob = base.groupBy("__s").agg(count(lit(1)).as("ob"))
      .localCheckpoint(true)
    val grp = base.groupBy(qc: _*).agg(count(lit(1)).as("ng"))
    val tot = glob.agg(sum(col("ob")).as("n_total"),
      count(lit(1)).as("m"))
    val w = Window.partitionBy(qc: _*).orderBy(col("__s"))
    grp.crossJoin(broadcast(glob))
      .join(gb, quasiIdCols :+ "__s", "left")
      .withColumn("__o", coalesce(col("o"), lit(0L)))
      .withColumn("__cumg", sum(col("__o")).over(w))
      .withColumn("__cuma", sum(col("ob")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("__num", abs(
        col("__cumg").cast("decimal(38,0)") * col("n_total") -
          col("__cuma").cast("decimal(38,0)") * col("ng")))
      .groupBy(qc: _*)
      .agg(max(col("ng")).as("ng"), sum(col("__num")).as("s"),
        max(col("m")).as("m"), max(col("n_total")).as("n_total"))
      .withColumn("t_emd", expr(tClosenessExpr))
      .withColumn("meets_t", col("t_emd") <= t)
      .select(qc ++ Seq(col("ng").as("n"), col("t_emd"), col("meets_t")): _*)
  }

  /** CDC changelog materialization: collapse an (op, payload) event log to
    * the current state per key — last op in `orderCols` order wins, and a
    * trailing delete tombstone removes the key entirely. This is the
    * apply step of a Debezium/Delta-CDF style feed, as ONE map-side-
    * combining aggregation (`max_by` of the op struct): no window, no
    * sort, one exchange on the key — the shape that survives a 100 TB
    * changelog where a per-key `row_number` window would sort every
    * partition.
    */
  def cdcApply(log: DataFrame, keyCols: Seq[String], opCol: String,
      orderCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    val fields = (opCol +: payloadCols).map(col)
    val ord = struct(orderCols.map(col): _*)
    val agg = log.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(fields: _*), ord).as("__last"),
        count(lit(1)).as("n_ops"),
        sum(when(col(opCol) === "D", 1L).otherwise(0L)).as("n_deletes"))
    agg.where(col(s"__last.$opCol") =!= "D")
      .select(keyCols.map(col) ++
        payloadCols.map(p => col(s"__last.$p").as(p)) ++
        Seq(col("n_ops"), col("n_deletes")): _*)
  }

  /** Ordered quality-filter funnel: each row is charged to the FIRST
    * stage whose predicate rejects it (stages are sequential — a row
    * failing stage 2 never reaches stage 3, the production filter-chain
    * semantics), and the output is one row per stage with the
    * entering / rejected / surviving counts — the rejection-budget
    * report a pipeline publishes with every corpus release.
    *
    * Scale: ONE map-side-combining scalar aggregation (|stages|+1 longs
    * of state), then a driver-free explode of the per-stage structs (the
    * `profile` shape) — the running `n_in` arithmetic happens inside the
    * single aggregated row, so there is no window and no second pass.
    */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty)
    // first failing stage, 1-based; 0 = survived the whole chain
    val firstFail = stages.zipWithIndex.foldRight(lit(0)) {
      case (((_, pred), i), acc) => when(!coalesce(pred, lit(false)), i + 1)
        .otherwise(acc)
    }
    val aggs = count(lit(1)).as("__total") +:
      stages.indices.map(i =>
        sum((col("__ff") === (i + 1)).cast("long")).as(s"__rej_$i"))
    val row = df.select(firstFail.as("__ff")).agg(aggs.head, aggs.tail: _*)
    val perStage = stages.zipWithIndex.map { case ((name, _), i) =>
      val before = (0 until i).map(j => col(s"__rej_$j"))
        .foldLeft(lit(0L))(_ + _)
      val nIn = col("__total") - before
      struct(lit(i + 1).as("stage"), lit(name).as("stage_name"),
        nIn.as("n_in"), col(s"__rej_$i").as("n_rejected"),
        (nIn - col(s"__rej_$i")).as("n_out"))
    }
    row.select(explode(array(perStage: _*)).as("s")).select("s.*")
  }

  /** Incremental equi-join view maintenance for append-only deltas:
    * given the materialized halves of both sides, the NEW join rows are
    *   ΔV = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
    * so `V_new = V_old ∪ ΔV` without re-joining the old halves — the
    * algebra behind every incremental materialized view. At 100 TB the
    * point is that the two big `old` tables NEVER join each other again:
    * each term joins at least one delta side, which broadcasts when the
    * period is small.
    */
  def incrementalJoinDelta(aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame, keys: Seq[String]): DataFrame =
    aDelta.join(bOld, keys)
      .unionByName(aOld.join(bDelta, keys))
      .unionByName(aDelta.join(bDelta, keys))

  /** Data-contract validation: evaluate a set of named row-level rules
    * and report one row per rule with its violation count and rate —
    * the schema/range gate a pipeline runs on every ingested batch
    * (unlike [[filterFunnel]], rules are INDEPENDENT: a row is checked
    * against all of them, so the report localizes every defect class).
    * A null rule verdict counts as a violation (unknown = not proven
    * valid). ONE scalar aggregation, |rules|+1 longs of state, then the
    * driver-free struct explode.
    */
  def validateContract(df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty)
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, pred), i) =>
        sum((!coalesce(pred, lit(false))).cast("long")).as(s"__v_$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perRule = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col("__n").as("n_rows"),
        col(s"__v_$i").as("n_violations"),
        round(col(s"__v_$i").cast("double") /
          greatest(col("__n"), lit(1L)).cast("double"), 6).as("violation_rate"))
    }
    row.select(explode(array(perRule: _*)).as("s")).select("s.*")
  }

  /** Curriculum buckets: per group (source/domain), rank rows by the
    * given order and split them into `nBuckets` equal `ntile` buckets —
    * the difficulty-staging step of curriculum training (bucket 1 first).
    * The window co-partitions with the group key: one exchange, per-group
    * sorts, no global ordering anywhere.
    */
  def curriculumBuckets(df: DataFrame, groupCol: String,
      ordCols: Seq[Column], nBuckets: Int): DataFrame = {
    require(nBuckets > 0)
    // pin null ordering explicitly: Spark ASC defaults to NULLS FIRST,
    // DuckDB (and Postgres) to NULLS LAST, so an unpinned order makes
    // bucket assignment engine-dependent the moment a score is null
    df.withColumn("bucket", ntile(nBuckets).over(
      Window.partitionBy(groupCol).orderBy(ordCols.map(_.asc_nulls_first): _*)))
  }

  /** Token-budget epoch allocation — the waterfill that turns mixture
    * WEIGHTS into an actual sampling plan: give each source
    * `budget · w_i / Σw` tokens, cap any source at `cap` epochs of its
    * own data (the repetition ceiling of data-constrained scaling), and
    * redistribute capped surplus among the uncapped proportionally,
    * for `rounds` rounds (default = one per source, which guarantees a
    * fixed point: each non-final round caps ≥ 1 source; extra rounds
    * are no-ops). Weights are temperature-flattened shares
    * `round6((t_i/T)^(1/temperature))` — the `mixture_temperature`
    * formula, so the two operators compose.
    *
    * The per-source table is collected and solved driver-side: mixture
    * planning is SOURCE-granular by design (the same boundedness that
    * lets IVF centroids collect), and every cross-source sum is a
    * source-ascending ordered fold with 0.0 placeholders, so the double
    * chain is a fixed sequence the DuckDB oracle replays term-for-term.
    * Returns `(source, tokens, weight, epochs, target_tokens)`.
    */
  def epochAllocation(tokens: DataFrame, sourceCol: String, tokensCol: String,
      budgetFactor: Double, cap: Double, temperature: Double = 2.0,
      rounds: Int = 0): DataFrame = {
    require(budgetFactor > 0 && cap > 0 && temperature > 0)
    val spark = tokens.sparkSession
    import spark.implicits._
    val rows = tokens
      .select(col(sourceCol).cast("string"), col(tokensCol).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    require(rows.nonEmpty, "epochAllocation needs at least one source")
    val n = rows.length
    val nRounds = if (rounds > 0) rounds else n
    val tTot = rows.map(_._2).sum
    val budget = budgetFactor * tTot.toDouble
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w = rows.map { case (_, t) =>
      round6(math.pow(t.toDouble / tTot.toDouble, 1.0 / temperature))
    }
    val capped = Array.fill(n)(false)
    val e = Array.fill(n)(0.0)
    for (_ <- 1 to nRounds) {
      // both folds run over ALL sources ascending with 0.0 placeholders —
      // the exact CASE-fold sequence of the SQL replay
      var used = 0.0
      var i = 0
      while (i < n) {
        used = used + (if (capped(i)) cap * rows(i)._2 else 0.0); i += 1
      }
      var wu = 0.0
      i = 0
      while (i < n) { wu = wu + (if (capped(i)) 0.0 else w(i)); i += 1 }
      val r = budget - used
      i = 0
      while (i < n) {
        if (!capped(i)) {
          val e0 = ((r * w(i)) / wu) / rows(i)._2
          if (e0 > cap) { capped(i) = true; e(i) = cap } else e(i) = e0
        }
        i += 1
      }
    }
    rows.indices.map { i =>
      (rows(i)._1, rows(i)._2, w(i), round6(e(i)), round6(e(i) * rows(i)._2))
    }.toSeq.toDF("source", "tokens", "weight", "epochs", "target_tokens")
  }

  /** Materialize the deterministic training ORDER for a weighted source
    * mixture: the k-th document of a weight-w source lands at virtual
    * time k/w (scaled to the integer `key` = rn·10⁶ div w), so heavier
    * sources surface proportionally more often early and the interleave
    * is even rather than blocky — the data-order step after mixture
    * weighting decides WHAT to train on, this decides WHEN. `pos` is the
    * dense global position under (key, source, id) — a total order, so
    * the output is restart/repartition-stable with no RNG.
    *
    * Scale: the per-source rank is one source-keyed window; the global
    * position reuses the range-repartitioned one-pass dense rank
    * (SurrogateIds) — never a single-partition window. Weights ride
    * along as a column: no driver-side weight table.
    */
  def interleaveWeighted(df: DataFrame, idCol: String, sourceCol: String,
      weightExpr: Column): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(idCol))
    val keyed = df
      .select(col(idCol), col(sourceCol), weightExpr.cast("long").as("w"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("key", expr("rn * 1000000 div w"))
    graft.cardano.SurrogateIds
      .withSequence(keyed, "pos", Seq(col("key"), col(sourceCol), col(idCol)))
  }

  /** 2-D Pareto front (skyline), both dimensions MAXIMIZED: the rows no
    * other row dominates (≥ in both, > in at least one) — the
    * multi-objective selection primitive ("no candidate is both longer
    * AND higher-quality than a front member"). To minimize a dimension,
    * pass its negation.
    *
    * The classic staircase: compress to (x, max y) per distinct x, take
    * the running max of y over x DESCENDING (exclusive), and keep the
    * x-groups whose ymax strictly beats it; rows tied on a surviving
    * (x, ymax) point are all front members (equal points do not
    * dominate each other). Exact for any mix of ties.
    *
    * Scale: one map-side-combining aggregation to distinct-x
    * granularity, then a TWO-PASS staircase over the compressed table —
    * range-partition by x desc, stamp partition ids (frozen by an eager
    * checkpoint: range boundaries are sampled, and the stamp feeds two
    * plans), compute the running max as (exclusive prefix of the
    * per-partition maxima, broadcast — one row per partition) ⊔
    * (within-partition exclusive running max, a window PARTITIONED by
    * the stamped id). No row of the compressed table ever crosses a
    * single-partition exchange, so a CONTINUOUS x (distinct-x ≈ n) is
    * safe: the only global window runs over the partition-count-sized
    * boundary table. One x-keyed join back; front size is bounded by
    * the distinct-x count by construction.
    */
  def paretoFront2D(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(idCol), col(xCol).as("__x"), col(yCol).as("__y"))
      .localCheckpoint(true) // feeds the staircase AND the join back
    val comp = base.groupBy(col("__x")).agg(max(col("__y")).as("__ymax"))
    val nP = base.sparkSession.sessionState.conf.numShufflePartitions
    // pass 0: spread distinct-x across range partitions, highest x first;
    // the pid stamp must be pinned before it feeds both passes
    val compP = comp.repartitionByRange(nP, col("__x").desc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    // pass 1: per-partition maxima → exclusive prefix max ACROSS
    // partitions (≤ nP rows — the only global window in the plan)
    val wb = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = compP.groupBy(col("__pid"))
      .agg(max(col("__ymax")).as("__pmax"))
      .withColumn("__pm", max(col("__pmax")).over(wb))
      .select(col("__pid"), col("__pm"))
    // pass 2: within-partition exclusive running max, seeded by the
    // broadcast boundary prefix; greatest() skips the null seed/head
    val wp = Window.partitionBy(col("__pid")).orderBy(col("__x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = compP.join(broadcast(prefix), Seq("__pid"))
      .withColumn("__m",
        greatest(max(col("__ymax")).over(wp), col("__pm")))
      .where(col("__m").isNull || col("__ymax") > col("__m"))
      // renamed so the join back onto the same lineage is unambiguous
      .select(col("__x").as("__sx"), col("__ymax").as("__sy"))
    base.join(sky, col("__x") === col("__sx") && col("__y") === col("__sy"))
      .select(col(idCol), col("__x").as(xCol), col("__y").as(yCol))
  }
}

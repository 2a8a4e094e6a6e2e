package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Approximate, mergeable aggregates — the 100 TB substitute for exact
  * re-scans. Exact `countDistinct` over a growing fact table re-shuffles
  * the full key set every period; a per-period HLL sketch column is O(kB)
  * per group, unions associatively across periods/partitions, and reads
  * back with bounded (~2% at lgK=12) error. All built-ins (DataSketches
  * HLL + HLL++ + KLL-style percentile_approx), codegen-friendly, no UDAF.
  */
object Sketches {

  /** Per-group approximate distinct count (HLL++, rsd=0.05 default). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** Per-group mergeable HLL sketch (binary column — persist it next to
    * the period's facts, union later).
    */
  def distinctSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Union previously-built sketches (e.g. one per period) back into a
    * per-group estimate — no touch of the original rows.
    */
  def mergeSketches(df: DataFrame, groupCols: Seq[String],
      sketchCol: String = "sketch"): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol))).as("approx_distinct"))

  /** Approximate heavy hitters over one column (single-pass FreqItems /
    * lossy-counting style, per-partition summaries merged on the driver —
    * no full shuffle of the key space). Guaranteed to contain every item
    * with frequency > `support`; may contain false positives, so the
    * caller re-verifies candidates with one exact filtered count (the
    * standard two-pass heavy-hitter pattern: candidate pass is cheap,
    * exact pass only counts the few candidates).
    */
  def heavyHitters(df: DataFrame, valueCol: String,
      support: Double): DataFrame = {
    val cands = df.stat.freqItems(Seq(valueCol), support)
      .collect()(0).getSeq[Any](0)
    df.filter(col(valueCol).isin(cands: _*))
      .groupBy(valueCol).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > (df.count() * support).toLong)
  }

  /** Per-group approximate percentiles (positional accuracy 1/accuracy). */
  def approxQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      probs: Seq[Double], accuracy: Int = 10000): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(percentile_approx(col(valueCol),
        array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))

  // --- deterministic, replayable sketches -----------------------------------
  // The built-ins above (HLL, FreqItems, KLL) are engine-internal binary
  // state: correct, but not comparable across engines. The two below are
  // pure functions of the data via splitmix64, so a DuckDB oracle replays
  // them bit-for-bit — mergeability without giving up the correctness gate.

  /** Deterministic Count-Min counters over a 64-bit key column: `depth`
    * independent rows, row `r` bucketing each key at
    * `mix64(key XOR r) & (width-1)`.
    *
    * Scale shape: the per-partition partial aggregation condenses every
    * partition to at most depth×width counter cells, so the shuffle (and
    * the result) is a fixed-size depth×width table no matter the corpus —
    * the whole point of the sketch. Counters built per period/partition
    * merge by summing matching cells (countersMerge is just a groupBy sum
    * of unions), the CMS property.
    */
  def countMinCounters(keys: DataFrame, groupCols: Seq[String],
      keyCol: String, depth: Int, width: Int): DataFrame = {
    require((width & (width - 1)) == 0, s"width $width must be a power of two")
    val g = groupCols.map(col)
    keys
      .select(g ++ Seq(
        explode(array((0 until depth).map(r => lit(r.toLong)): _*)).as("r"),
        col(keyCol).as("__k")): _*)
      .select(g ++ Seq(col("r"),
        HashExprs.mix64(col("__k").bitwiseXOR(col("r")))
          .bitwiseAND(lit((width - 1).toLong)).as("cell")): _*)
      .groupBy(g ++ Seq(col("r"), col("cell")): _*)
      .agg(count(lit(1)).as("n"))
  }

  def countMinCounters(keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame =
    countMinCounters(keys, Nil, keyCol, depth, width)

  /** Point estimates from Count-Min counters: for each probe key, the
    * minimum over the depth rows of that key's cell count — an upper bound
    * on the key's true frequency (CMS never undercounts). The counter
    * table is depth×width rows, so it broadcasts; probes are never
    * shuffled.
    */
  def countMinEstimate(counters: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require((width & (width - 1)) == 0, s"width $width must be a power of two")
    probes
      .select(col(keyCol),
        explode(array((0 until depth).map(r => lit(r.toLong)): _*)).as("r"))
      .select(col(keyCol), col("r"),
        HashExprs.mix64(col(keyCol).bitwiseXOR(col("r")))
          .bitwiseAND(lit((width - 1).toLong)).as("cell"))
      .join(broadcast(counters), Seq("r", "cell"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("n"), lit(0L))).as("cm_est"))
  }

  /** Equi-join cardinality estimate from two Count-Min counter tables
    * (the AMS inner-product bound): |A ⋈ B on k| = Σ_k fA(k)·fB(k) ≤
    * min over depth rows r of Σ_cell nA[r,cell]·nB[r,cell]. This is how
    * a planner decides broadcast-vs-shuffle-vs-salt BEFORE running the
    * join — from two fixed-size sketches that were built with one pass
    * per side (and merge across periods by cell-wise sum). Never
    * underestimates; overshoot is bounded by n_A·n_B/width per row.
    * Products are summed in DECIMAL so giant-table sketches can't
    * overflow the long domain.
    */
  def countMinJoinSize(countersA: DataFrame, countersB: DataFrame): DataFrame =
    countersA.withColumnRenamed("n", "na")
      .join(countersB.withColumnRenamed("n", "nb"), Seq("r", "cell"))
      .groupBy("r")
      .agg(sum(col("na").cast("decimal(38,0)") * col("nb")).as("row_est"))
      .agg(min(col("row_est")).cast("long").as("join_size_est"))

  /** Deterministic HyperLogLog register table over a 64-bit key column
    * (p=8, m=256 registers): bucket from the top 8 bits of `mix64(key)`,
    * rank `rho` = leading-zero count of the remaining 56 bits + 1
    * (via `length(bin(w))` — pure integer/string math both engines share).
    * Unlike the engine-internal `hll_sketch_agg` binary state above, this
    * register table IS the sketch: 256 (bucket, r) integer rows that an
    * oracle replays bit-for-bit, and that merge across periods/partitions
    * by cell-wise `max` — the HLL property.
    *
    * Scale shape: the narrow projection is codegen'd; the partial
    * aggregation collapses every partition to <= 256 rows before the
    * exchange, so the shuffle is a fixed-size register table no matter
    * the corpus — same rationale as countMinCounters.
    */
  /** The per-row (bucket, rho) projection of the register build — narrow
    * and codegen'd; the aggregation below runs unchanged on a stream,
    * where `max` is the associative streaming-safe combine. Extra
    * columns in `df` (e.g. an event-time column for watermarking) are
    * carried through.
    */
  def hllRho(df: DataFrame, keyCol: String, carryCols: Seq[String] = Nil): DataFrame = {
    // the negativeSample rule: a silent cast of a string key to long
    // would null out (and so drop) every row — refuse instead
    require({
      import org.apache.spark.sql.types._
      df.schema(keyCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, s"hllRho: key column '$keyCol' must be integral " +
      s"(got ${df.schema(keyCol).dataType.simpleString}) — " +
      "hash or dictionary-encode other key types first")
    df.where(col(keyCol).isNotNull)
      .select(HashExprs.mix64(col(keyCol).cast("long")).as("__hv") +:
        carryCols.map(col): _*)
      .select(Seq(
        shiftrightunsigned(col("__hv"), 56).cast("int").as("bucket"),
        col("__hv").bitwiseAND(lit(0x00FFFFFFFFFFFFFFL)).as("__w")) ++
        carryCols.map(col): _*)
      .select(Seq(col("bucket"),
        when(col("__w") === 0L, lit(57))
          .otherwise(lit(57) - length(bin(col("__w")))).cast("int").as("rho")) ++
        carryCols.map(col): _*)
  }

  def hllRegisters(df: DataFrame, keyCol: String): DataFrame =
    hllRho(df, keyCol).groupBy("bucket").agg(max("rho").as("r"))

  /** The HLL raw-estimate formula shared VERBATIM with the DuckDB oracle:
    * `s_total` is the exact DECIMAL sum of 2^(57-r) over all 256
    * registers (absent register => r=0 => 2^57), so both engines divide
    * the same exact constants — identical bits, then round(6) for safety.
    * alpha_256 * m^2 * 2^57 / s_total, with alpha kept symbolic.
    */
  val hllEstimateExpr: String =
    // every division is anchored in DOUBLE: bare decimal literals would
    // otherwise run Spark's DECIMAL division rules (and diverge from
    // DuckDB's IEEE evaluation) before ever touching a float
    "round(CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 256.0) " +
      "* 256.0 * 256.0 * 144115188075855872.0 / CAST(s_total AS DOUBLE), 6)"

  /** Collapse an HLL register table to one summary row: registers in
    * use, empty registers (the linear-counting input), the exact scaled
    * harmonic sum, and the raw HLL estimate. Pure single-row arithmetic
    * over the 256-row table.
    */
  def hllSummary(registers: DataFrame): DataFrame =
    registers
      .agg(count(lit(1)).as("used"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - r) AS DECIMAL(38,0))"))
          .as("__sp"))
      .select(lit(256).as("m"), col("used").cast("long").as("used"),
        (lit(256L) - col("used")).as("zeros"),
        (col("__sp") + (lit(256L) - col("used")).cast("decimal(38,0)")
          * lit(144115188075855872L)).as("s_total"))
      .withColumn("hll_est", expr(hllEstimateExpr))
      // the exact decimal can exceed the long domain (up to 256 * 2^57);
      // publish it as a double (same nearest-even cast both engines)
      .withColumn("s_total", col("s_total").cast("double"))

  /** Deterministic KMV (bottom-k minimum values) distinct-count estimate
    * per group: keep the k keys with the smallest `mix64(key)` (an O(k)
    * mergeable state, `Aggs.bottomKByHash`), and estimate
    * `(k-1) / fraction-of-hash-space-below-the-kth` — exact when the
    * group has fewer than k distinct keys. `df` must already be distinct
    * on (groupCols, keyCol).
    *
    * The fraction maps the SIGNED k-th hash into [0,1) as
    * `(h + 2^63) / 2^64` — one long→double cast plus one add and two
    * divides, all IEEE-exact-ordered, so the oracle replays the estimate
    * bit-for-bit.
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], keyCol: String,
      k: Int = 64): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_exact"),
        Aggs.bottomKByHash(col(keyCol), k).as("__s"))
      .withColumn("kmv_est",
        when(size(col("__s")) < k, col("n_exact").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            ((HashExprs.mix64(element_at(col("__s"), k)).cast("double")
              + lit(9.223372036854775808e18)) / lit(1.8446744073709552e19))))
      .drop("__s")

  /** Pairwise corpus-overlap estimation from KMV sketches (Beyer et al.
    * 2007): per group keep the k smallest key hashes; for a group pair,
    * the k smallest of the UNION of the two sketches are a uniform
    * sample of the union's distinct keys, so the fraction present in
    * BOTH sketches estimates Jaccard(A, B). The "how much does corpus A
    * overlap corpus B" curation question answered WITHOUT ever joining
    * the corpora — at 100 TB the corpus is scanned once per side and
    * everything after runs on |groups| rows of k longs each (the pair
    * enumeration is sketch-table × sketch-table, group-count-sized BY
    * CONSTRUCTION). Deterministic: hash-ranked, no RNG; estimates are
    * multiples of 1/k so round-6 has no boundary hazard.
    *
    * Returns (src_a, src_b, k_used, matches, j_est) for every unordered
    * group pair, k_used = |bottom-k of the union| ≤ k. `keyCol` must be
    * an integral key (hash strings upstream — [[kmvDistinct]]'s
    * contract: the ranking hash is mix64 of the long key).
    */
  def kmvJaccard(df: DataFrame, groupCol: String, keyCol: String,
      k: Int = 64): DataFrame = {
    // the sketch stores KEYS ranked by their hash — the union's bottom-k
    // must be selected in HASH space (mix64 is a bijection, so working
    // wholly on hashes preserves set identity)
    val sk = df.groupBy(col(groupCol))
      .agg(transform(Aggs.bottomKByHash(col(keyCol), k),
        x => HashExprs.mix64(x)).as("__s"))
    val a = sk.select(col(groupCol).as("src_a"), col("__s").as("__sa"))
    val b = sk.select(col(groupCol).as("src_b"), col("__s").as("__sb"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("__u",
        slice(array_sort(array_distinct(concat(col("__sa"), col("__sb")))),
          1, k))
      .withColumn("k_used", size(col("__u")).cast("long"))
      .withColumn("matches",
        size(org.apache.spark.sql.functions.filter(col("__u"),
          x => array_contains(col("__sa"), x) &&
            array_contains(col("__sb"), x))).cast("long"))
      .withColumn("j_est",
        round(col("matches").cast("double") / col("k_used"), 6))
      .select("src_a", "src_b", "k_used", "matches", "j_est")
  }

  /** Per-group bottom-k THETA sketch table: the k smallest mix64 hashes
    * of the group's distinct keys, ascending (the [[kmvJaccard]] sketch,
    * made first-class). This table IS the persistable sketch — build it
    * once per corpus/snapshot with ONE scan (O(k) mergeable aggregation
    * state), store it, and answer set-algebra questions later with
    * [[thetaAlgebraFromSketches]] and no corpus access. `keyCol` must be
    * integral ([[kmvDistinct]]'s contract — hash strings upstream).
    */
  def thetaSketches(df: DataFrame, groupCol: String, keyCol: String,
      k: Int = 64): DataFrame =
    thetaSketches(df, Seq(groupCol), keyCol, k)

  /** Multi-column grouping form of [[thetaSketches]] — e.g. one sketch
    * per (source, period) for the cross-period maintenance pattern
    * ([[thetaMergeSketches]] rolls the periods back up).
    */
  def thetaSketches(df: DataFrame, groupCols: Seq[String], keyCol: String,
      k: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(transform(Aggs.bottomKByHash(col(keyCol), k),
        x => HashExprs.mix64(x)).as("sketch"))

  /** Roll per-part sketches up to a coarser grouping — the MERGEABILITY
    * that makes the sketch table a maintainable asset: bottom-k of the
    * UNION of per-part bottom-k lists IS the union's bottom-k (every
    * hash in the union's true bottom-k is in its own part's bottom-k,
    * and mix64 is a bijection so distinct keys never collide), so
    * period sketches merge to the corpus sketch LOSSLESSLY — build one
    * sketch per (group, period) as periods arrive, store them, and
    * answer corpus-level questions later by merging O(periods · k)
    * longs per group, never re-scanning closed periods. A key present
    * in several parts appears in each part's sketch once; the
    * distinct-union here collapses it (each BUILD still requires
    * distinct keys at its own granularity — [[thetaSketches]]'
    * contract).
    *
    * Scale: one hash aggregation over the sketch table (group-count ×
    * period-count rows in, group-count out); per-group state is the
    * concatenated hash lists — periods·k longs, corpus-size-free.
    */
  def thetaMergeSketches(sk: DataFrame, groupCol: String,
      k: Int = 64): DataFrame =
    sk.groupBy(col(groupCol))
      .agg(slice(array_sort(array_distinct(flatten(
        collect_list(col("sketch"))))), 1, k).as("sketch"))

  /** Read a distinct-cardinality estimate off each sketch row: exact
    * size below k (every distinct key's hash is present), else
    * (k−1)/θ with θ = the k-th smallest hash mapped to [0,1) by the
    * same add-then-divide as [[kmvDistinct]] — shared-expression exact
    * in both engines. Returns (groupCol, k_used, theta, est_distinct).
    */
  def thetaEstimate(sk: DataFrame, groupCol: String,
      k: Int = 64): DataFrame = {
    def fr(c: Column): Column =
      (c.cast("double") + lit(9.223372036854775808e18)) /
        lit(1.8446744073709552e19)
    sk.select(col(groupCol),
      size(col("sketch")).cast("long").as("k_used"),
      round(when(size(col("sketch")) >= k,
        fr(element_at(col("sketch"), k))).otherwise(lit(1.0)), 6)
        .as("theta"),
      round(when(size(col("sketch")) < k,
        size(col("sketch")).cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          fr(element_at(col("sketch"), k))), 6).as("est_distinct"))
  }

  /** Theta-sketch SET ALGEBRA over every unordered group pair of a
    * sketch table (Dasgupta et al., "Theta sketches"): estimated |A|,
    * |B|, |A∪B|, |A∩B|, |A−B|, |B−A| — the "how many NEW documents does
    * snapshot B add over corpus A" curation question, answered from two
    * O(k) sketches with no corpus join anywhere.
    *
    * Mechanics (KMV convention: a full sketch's θ is its k-th smallest
    * hash, the k−1 hashes below θ are a uniform sample of the set's
    * distinct keys at inclusion rate θ): the pair's cutoff is
    * θ_u = min(θ_A, θ_B); both samples filter to < θ_u; their distinct
    * union is the union's sample — re-trimmed to k−1 (with θ_u moving
    * down to the k-th smallest) when the merge overflows, exactly the
    * published theta-union rule. Each estimate is |sample ∩ predicate|
    * / θ_u: membership in both samples → intersection, in one and not
    * the other → difference. Sketches smaller than k are EXACT sets
    * (θ = 1 via the Long.MaxValue sentinel), so small-group estimates
    * are exact counts.
    *
    * Deterministic: hash-ranked (splitmix64), no RNG; θ maps the SIGNED
    * k-th hash into [0,1) by the same add-then-divide as [[kmvDistinct]],
    * so a DuckDB replay matches bit-for-bit. Scale: the pair enumeration
    * is sketch-table × sketch-table — group-count-sized BY CONSTRUCTION,
    * every row carrying ≤ 2k longs.
    */
  def thetaAlgebraFromSketches(sk: DataFrame, groupCol: String,
      k: Int = 64): DataFrame = {
    def fr(c: Column): Column =
      (c.cast("double") + lit(9.223372036854775808e18)) /
        lit(1.8446744073709552e19)
    val mx = lit(Long.MaxValue)
    val a = sk.select(col(groupCol).as("src_a"), col("sketch").as("__sa"))
    val b = sk.select(col(groupCol).as("src_b"), col("sketch").as("__sb"))
    def estSide(h: String, s: String): Column =
      round(when(col(h).isNull, size(col(s)).cast("double"))
        .otherwise(lit((k - 1).toDouble) / fr(col(h))), 6)
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("__ha", when(size(col("__sa")) >= k,
        element_at(col("__sa"), k)))
      .withColumn("__hb", when(size(col("__sb")) >= k,
        element_at(col("__sb"), k)))
      .withColumn("__ra", when(col("__ha").isNull, col("__sa"))
        .otherwise(slice(col("__sa"), 1, k - 1)))
      .withColumn("__rb", when(col("__hb").isNull, col("__sb"))
        .otherwise(slice(col("__sb"), 1, k - 1)))
      .withColumn("__hu",
        least(coalesce(col("__ha"), mx), coalesce(col("__hb"), mx)))
      .withColumn("__u0", array_sort(array_distinct(concat(
        org.apache.spark.sql.functions.filter(col("__ra"),
          x => x < col("__hu")),
        org.apache.spark.sql.functions.filter(col("__rb"),
          x => x < col("__hu"))))))
      .withColumn("__huf", when(size(col("__u0")) >= k,
        element_at(col("__u0"), k)).otherwise(col("__hu")))
      .withColumn("__ru", when(size(col("__u0")) >= k,
        slice(col("__u0"), 1, k - 1)).otherwise(col("__u0")))
      .withColumn("__theta",
        when(col("__huf") === mx, lit(1.0)).otherwise(fr(col("__huf"))))
      .withColumn("__ni", size(org.apache.spark.sql.functions.filter(
        col("__ru"), x => array_contains(col("__sa"), x) &&
          array_contains(col("__sb"), x))).cast("long"))
      .withColumn("__nab", size(org.apache.spark.sql.functions.filter(
        col("__ru"), x => array_contains(col("__sa"), x) &&
          !array_contains(col("__sb"), x))).cast("long"))
      .withColumn("__nba", size(org.apache.spark.sql.functions.filter(
        col("__ru"), x => array_contains(col("__sb"), x) &&
          !array_contains(col("__sa"), x))).cast("long"))
      .select(col("src_a"), col("src_b"),
        size(col("__ru")).cast("long").as("k_used"),
        round(col("__theta"), 6).as("theta"),
        estSide("__ha", "__sa").as("est_a"),
        estSide("__hb", "__sb").as("est_b"),
        round(size(col("__ru")).cast("double") / col("__theta"), 6)
          .as("est_union"),
        round(col("__ni").cast("double") / col("__theta"), 6)
          .as("est_intersect"),
        round(col("__nab").cast("double") / col("__theta"), 6)
          .as("est_a_not_b"),
        round(col("__nba").cast("double") / col("__theta"), 6)
          .as("est_b_not_a"))
  }

  /** Bloom-filter membership sketch per group: each group's distinct
    * keys set `kHashes` of `mBits` positions (position_i =
    * mix64(key XOR i) mod mBits — splitmix64 is the repo's replayable
    * hash, so both engines derive identical bit sets), and a probe set
    * is tested against the filters — the "have we already ingested
    * this?" pre-screen that runs BEFORE any corpus join in a dedup
    * pipeline. Output per (group, probe): the group's set-bit count,
    * the Bloom verdict, the exact verdict, and the false-positive flag
    * — Bloom's one-sided error made visible (false negatives are
    * impossible by construction; a probe whose every position is set
    * may still be absent).
    *
    * Scale: the corpus is touched ONCE (distinct keys); the bit table
    * is ≤ groups × mBits rows and the probe join is bit-table ×
    * probe-positions — both corpus-size-free. The filter itself is
    * mergeable across periods by bitwise OR (set union of positions),
    * the same lifecycle as [[thetaMergeSketches]].
    */
  /** The Bloom position kernel: the `kHashes` distinct bit positions a
    * key sets in an `mBits` filter — position_i = mix64(key XOR i) mod
    * mBits. Shared by [[bloomMembership]] and the streaming bit
    * maintenance so batch and stream derive identical bit sets.
    */
  def bloomPositions(key: Column, mBits: Int, kHashes: Int): Column =
    array_distinct(array((0 until kHashes).map(i =>
      pmod(HashExprs.mix64(key.bitwiseXOR(lit(i.toLong))),
        lit(mBits.toLong))): _*))

  def bloomMembership(df: DataFrame, groupCol: String, keyCol: String,
      probes: DataFrame, probeNameCol: String, probeKeyCol: String,
      mBits: Int = 1024, kHashes: Int = 4): DataFrame = {
    require(mBits > 0 && kHashes > 0,
      "bloomMembership: mBits and kHashes must be positive")
    def positions(key: Column): Column =
      bloomPositions(key, mBits, kHashes)
    val keys = df
      .select(col(groupCol), col(keyCol).cast("long").as("__k"))
      .distinct().localCheckpoint(true)
    val bits = keys
      .select(col(groupCol), explode(positions(col("__k"))).as("__pos"))
      .distinct().localCheckpoint(true)
    val nb = bits.groupBy(col(groupCol))
      .agg(count(lit(1)).as("bits_set"))
    val pr = probes
      .select(col(probeNameCol).as("probe"),
        col(probeKeyCol).cast("long").as("__pk"))
      .distinct()
      .withColumn("__pp", positions(col("__pk")))
      .localCheckpoint(true)
    val ppos = pr.select(col("probe"), explode(col("__pp")).as("__pos"))
    val hits = ppos.join(bits, Seq("__pos"))
      .groupBy(col(groupCol), col("probe"))
      .agg(count(lit(1)).as("__nm"))
    val exact = keys
      .join(pr.select(col("probe"), col("__pk").as("__k")), Seq("__k"))
      .select(col(groupCol), col("probe"))
      .distinct()
      .withColumn("__ex", lit(true))
    // probe-count-sized grid: every (group, probe) pair surfaces, even
    // with zero matched bits (the cross join is groups × probes by
    // construction — never corpus-sized)
    val grid = keys.select(col(groupCol)).distinct()
      .crossJoin(pr.select(col("probe"), size(col("__pp")).as("__np")))
    grid
      .join(nb, Seq(groupCol))
      .join(hits, Seq(groupCol, "probe"), "left")
      .join(exact, Seq(groupCol, "probe"), "left")
      .select(col(groupCol), col("probe"), col("bits_set"),
        (coalesce(col("__nm"), lit(0L)) === col("__np"))
          .as("present_bloom"),
        coalesce(col("__ex"), lit(false)).as("present_exact"))
      .withColumn("false_positive",
        col("present_bloom") && !col("present_exact"))
  }

  /** The per-group Bloom bit table alone: the distinct (group, pos)
    * rows the group's keys set — EXACTLY the persistable period state
    * the [[bloomMembership]] scaladoc promises ("mergeable across
    * periods by bitwise OR"). Write one bit table per period close;
    * the OR-merge of read-back period tables is a plain `distinct()`
    * over (group, pos) — set union IS bitwise OR in this encoding —
    * and [[bloomProbeFromBits]] answers membership from the merged
    * store with no corpus access. The same kernel backs the streaming
    * maintenance (`StreamingOps.bloomBitsStream`), so batch, stream,
    * and stored-merge all derive identical bit sets.
    *
    * Scale: the period's rows are touched once (distinct keys); output
    * is ≤ groups × mBits rows regardless of corpus size.
    */
  def bloomBits(df: DataFrame, groupCols: Seq[String], keyCol: String,
      mBits: Int, kHashes: Int): DataFrame = {
    require(mBits > 0 && kHashes > 0,
      "bloomBits: mBits and kHashes must be positive")
    val g = groupCols.map(col)
    df.select(g :+ col(keyCol).cast("long").as("__k"): _*)
      .distinct()
      .select(g :+ explode(bloomPositions(col("__k"), mBits, kHashes))
        .as("pos"): _*)
      .distinct()
  }

  def bloomBits(df: DataFrame, groupCol: String, keyCol: String,
      mBits: Int = 1024, kHashes: Int = 4): DataFrame =
    bloomBits(df, Seq(groupCol), keyCol, mBits, kHashes)

  /** Probe a set of terms against a STORED bit table (the read-back,
    * OR-merged output of [[bloomBits]]) — membership answered from the
    * filter state ALONE, the corpus never in the plan. Output per
    * (group, probe): the group's set-bit count and the Bloom verdict.
    * The exact verdict (and hence the false-positive flag) needs the
    * corpus by definition, so it belongs to [[bloomMembership]], not
    * the stored probe.
    *
    * Input contract, enforced rather than trusted (the stored-index
    * lesson): the (group, pos) projection is re-`distinct`ed here, so
    * a caller that concatenates raw per-period tables WITHOUT the
    * OR-merge can't inflate `bits_set` or the per-probe match count
    * (duplicate position rows would make the match count exceed the
    * probe's position count and flip true members to
    * `present_bloom = false` — a silent false negative, violating the
    * Bloom no-false-negative property). The distinct is ≤
    * groups × mBits rows — free at any corpus size.
    *
    * `groups`, when supplied, is the authoritative group universe
    * (e.g. a membership census written at store time): a group that
    * set ZERO bits — an empty period close is possible once stores
    * append across periods — then still surfaces, with `bits_set = 0`
    * and `present_bloom = false` for every probe, instead of silently
    * vanishing from the grid (the ts_mase/conformal
    * degenerate-slices-must-surface rule). Without it the universe
    * falls back to the groups present in the bit table itself.
    *
    * Scale: the grid is groups × probes by construction; the hit join
    * is bit-table × probe-positions — both corpus-size-free.
    */
  def bloomProbeFromBits(bits: DataFrame, groupCol: String,
      probes: DataFrame, probeNameCol: String, probeKeyCol: String,
      mBits: Int = 1024, kHashes: Int = 4,
      groups: Option[DataFrame] = None): DataFrame = {
    require(mBits > 0 && kHashes > 0,
      "bloomProbeFromBits: mBits and kHashes must be positive")
    // no checkpoint: the bit table is ALREADY materialized (it's the
    // read-back store), so its three uses below re-scan cheap parquet
    // — and the probe plan visibly reads the store, not a severed RDD
    val bt = bits.select(col(groupCol), col("pos").as("__pos")).distinct()
    val nb = bt.groupBy(col(groupCol)).agg(count(lit(1)).as("bits_set"))
    val pr = probes
      .select(col(probeNameCol).as("probe"),
        col(probeKeyCol).cast("long").as("__pk"))
      .distinct()
      .withColumn("__pp", bloomPositions(col("__pk"), mBits, kHashes))
      .localCheckpoint(true)
    val ppos = pr.select(col("probe"), explode(col("__pp")).as("__pos"))
    val hits = ppos.join(bt, Seq("__pos"))
      .groupBy(col(groupCol), col("probe"))
      .agg(count(lit(1)).as("__nm"))
    val universe = groups
      .map(_.select(col(groupCol)).distinct())
      .getOrElse(bt.select(col(groupCol)).distinct())
    val grid = universe
      .crossJoin(pr.select(col("probe"), size(col("__pp")).as("__np")))
    grid
      .join(nb, Seq(groupCol), "left")
      .join(hits, Seq(groupCol, "probe"), "left")
      .select(col(groupCol), col("probe"),
        coalesce(col("bits_set"), lit(0L)).as("bits_set"),
        (coalesce(col("__nm"), lit(0L)) === col("__np"))
          .as("present_bloom"))
  }

  /** Convenience composition: build the per-group theta sketches with
    * one corpus scan, then run the pairwise set algebra on them.
    */
  def thetaPairAlgebra(df: DataFrame, groupCol: String, keyCol: String,
      k: Int = 64): DataFrame =
    thetaAlgebraFromSketches(thetaSketches(df, groupCol, keyCol, k),
      groupCol, k)

  /** Mergeable equi-width histogram quantile sketch: two passes — an
    * exact integer min/max (the values are mapped to an integer grid by
    * `toGrid` first, e.g. price→cents, so binning is pure long math with
    * zero float-boundary ambiguity), then `nBins` bin counts — and a
    * quantile read-off that returns each requested quantile's bin lower
    * bound (the conservative estimate; error ≤ one bin width). The bin
    * array is the sketch: fixed-size, mergeable by elementwise add, and
    * exactly what a streaming sink can maintain incrementally.
    *
    * Scale: ONE map-side-combining count per bin (`nBins` longs of state
    * per partition) after a scalar min/max pass; the read-off runs on
    * the `nBins`-row table. No sampling, no driver state beyond 2 longs.
    */
  def histogramQuantiles(df: DataFrame, toGrid: Column, nBins: Int,
      quantilesPct: Seq[Int]): DataFrame = {
    require(nBins >= 2 && quantilesPct.nonEmpty)
    val g = df.select(toGrid.cast("long").as("gv")).where(col("gv").isNotNull)
      .localCheckpoint(true) // feeds the min/max pass AND the bin pass
    val Row(lo: Long, hi: Long, n: Long) =
      g.agg(min("gv"), max("gv"), count(lit(1))).head()
    require(n > 0, "histogramQuantiles needs a non-empty column")
    val span = hi - lo + 1
    val binCounts = histogramBins(g, Nil, lo, span, nBins)
      .select("bin", "cnt")
      .localCheckpoint(true) // nBins rows; triangular cum + quantile probes
    histogramReadOff(binCounts, lo, span, n, nBins, quantilesPct)
  }

  /** Per-group bin counts of a pre-gridded (gv [, groupCols...]) frame
    * against a FIXED grid contract (lo, span, nBins) — the persistable
    * per-period state of the histogram sketch. Each row carries the
    * grid as metadata columns (lo, span, nbins), so a store appended
    * across periods is self-describing and a mismatched-grid append is
    * detectable at read time ([[histogramQuantilesFromBins]]). The
    * grid is fixed when the store is CREATED (first period close / a
    * domain spec); later periods bin into the same grid — per-period
    * counts then SUM to the one-shot counts per cell, which is the
    * whole merge.
    *
    * Bin math in DECIMAL(38,0): (gv - lo) ≤ span - 1, so the long
    * product (gv - lo) * nBins silently wraps (non-ANSI) once span
    * nears Long.Max / nBins — the chi2 silent-overflow class. The
    * decimal product is exact at any long-grid width; `div` is
    * integral divide in both engines so values are unchanged on
    * narrow grids (the oracle replays the same decimal math).
    */
  def histogramBins(g: DataFrame, groupCols: Seq[String], lo: Long,
      span: Long, nBins: Int): DataFrame =
    g.groupBy(groupCols.map(col) :+ expr(
        s"CAST(gv - ${lo}L AS DECIMAL(38,0)) * $nBins div ${span}L")
        .as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", lit(lo))
      .withColumn("span", lit(span))
      .withColumn("nbins", lit(nBins))

  /** Quantile read-off from a MERGED bin table alone — the stored-
    * lifecycle answer path: per-period bin tables (from
    * [[histogramBins]]) merge by cell-wise SUM (the scaladoc-promised
    * "mergeable by elementwise add"), the total count is the merged
    * counts' sum, and the read-off replays [[histogramQuantiles]]'
    * exact integer math — so merged-of-periods is bit-identical to the
    * one-shot sketch and shares its oracle. The corpus is not in the
    * plan: everything derives from the (≤ nBins · periods)-row store.
    *
    * Grid contract, enforced rather than trusted (the stored-LSH
    * lesson): every stored row carries its build grid, and a store
    * whose rows disagree on (lo, span, nbins) — or whose grid doesn't
    * match this read-off's `nBins` — raises with the count of
    * distinct grids instead of silently merging misaligned bins. The
    * check rides the same metadata aggregation that fetches the grid,
    * so it runs on every read (value path, not an optional audit).
    */
  def histogramQuantilesFromBins(bins: DataFrame, nBins: Int,
      quantilesPct: Seq[Int]): DataFrame = {
    require(nBins >= 2 && quantilesPct.nonEmpty)
    val meta = bins
      .agg(countDistinct(struct(col("lo"), col("span"), col("nbins")))
          .as("ng"),
        min("lo").as("lo"), min("span").as("span"),
        min("nbins").as("nbins"), sum("cnt").as("n"))
      .head()
    val ng = meta.getLong(0)
    require(ng == 1L,
      s"histogramQuantilesFromBins: $ng distinct (lo, span, nbins) grids " +
        "in the store — per-period bin tables were built with different " +
        "parameters (or a period was re-closed onto a renegotiated grid); " +
        "misaligned bins must not merge")
    val storedBins = meta.getInt(3)
    require(storedBins == nBins,
      s"histogramQuantilesFromBins: store was built with nbins=$storedBins" +
        s" but the read-off asked for $nBins — the grid is the store's " +
        "creation-time contract")
    val (lo, span, n) = (meta.getLong(1), meta.getLong(2), meta.getLong(4))
    require(n > 0, "histogramQuantilesFromBins needs a non-empty store")
    // cell-wise SUM is the merge; NOT checkpointed, so the answer plan
    // visibly scans the store (the bloomProbeFromBits discipline)
    val merged = bins.groupBy("bin").agg(sum("cnt").as("cnt"))
    histogramReadOff(merged, lo, span, n, nBins, quantilesPct)
  }

  /** Shared quantile read-off over an (bin, cnt) table: cumulative
    * counts via a triangular self-join on the nBins-row table
    * (≤ nBins² tiny rows) — no global-order window anywhere.
    */
  private def histogramReadOff(binCounts: DataFrame, lo: Long, span: Long,
      n: Long, nBins: Int, quantilesPct: Seq[Int]): DataFrame = {
    val spark = binCounts.sparkSession
    import spark.implicits._
    val cum = binCounts.alias("b")
      .join(binCounts.alias("p"), col("p.bin") <= col("b.bin"))
      .groupBy(col("b.bin").as("bin"))
      .agg(sum(col("p.cnt")).as("cum"))
    val qs = quantilesPct.map(_.toLong).toDF("q")
      .withColumn("target", expr(s"(q * ${n}L + 99) div 100"))
    qs.join(cum, col("cum") >= col("target"))
      .groupBy("q", "target")
      .agg(min("bin").as("bin"))
      .withColumn("lo_grid", // same wide-grid hazard: bin * span wraps
        expr(s"${lo}L + CAST(bin AS DECIMAL(38,0)) * ${span}L div $nBins"))
      .select("q", "target", "bin", "lo_grid")
  }
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Physical-plan assertions: the optimizations the 100 TB design relies on
  * must actually appear in the executed plan — predicate pushdown into the
  * parquet scan, column pruning, broadcast joins for dims, partial (map-
  * side) aggregation, and whole-stage codegen over the hot projections.
  */
class PlanSpec extends AnyFunSuite with SparkTest {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = {
    df.collect() // force AQE to finalize the plan
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("every query is registered in one family, with an oracle") {
    val families = Seq(CoreQueries.all, ExtQueries.all, GraphQueries.all,
      PipelineQueries.all, EvalQueries.all)
    assert(Queries.all.size == families.map(_.size).sum,
      "a query name is registered in two families")
    assert(Queries.all.keySet == Queries.oracles.keySet)
  }

  test("q1_agg: column pruning + two-phase hash aggregation") {
    val p = plan(CoreQueries.q1Agg(spark, dir))
    // scan must not read all 11 lineitem columns
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "pruned column still read:\n" + p)
    assert(!p.contains("l_shipdate"), "pruned column still read:\n" + p)
    // partial + final HashAggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("[codegen id :"), p)
  }

  test("q2_join_chain: dims broadcast; region filter pushed to scan") {
    val p = plan(CoreQueries.q2JoinChain(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("q15_range_filter: time range reaches the events parquet scan") {
    val p = plan(CoreQueries.q15RangeFilter(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThan(ts,"), p)
  }

  test("q9_anti_join / q10_semi_join: hash-join based, no cartesian") {
    val p9 = plan(CoreQueries.q9AntiJoin(spark, dir))
    assert(p9.contains("LeftAnti") || p9.contains("ExistenceJoin"), p9)
    assert(!p9.contains("CartesianProduct"), p9)
    val p10 = plan(CoreQueries.q10SemiJoin(spark, dir))
    assert(p10.contains("LeftSemi"), p10)
    // the o_orderstatus filter is pushed into the orders scan
    assert(p10.contains("EqualTo(o_orderstatus,F)"), p10)
  }

  test("q6_last_write_wins: max_by is a partial-aggregating agg, no window") {
    val p = plan(CoreQueries.q6LastWriteWins(spark, dir))
    // struct-ordered max_by falls back to SortAggregate, but it still
    // combines map-side (partial + final pair) — the property that matters
    // at scale; a window would sort+shuffle every row of every group.
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), "LWW should not need a window:\n" + p)
  }

  test("cardano MainQuery: block time filter pushed; metadata key pushed") {
    val fixDir = java.nio.file.Files.createTempDirectory("plan-fix").toString
    graft.cardano.Fixture.write(spark, fixDir)
    val df = graft.cardano.MainQuery.extract(spark, fixDir,
      java.sql.Timestamp.valueOf("2021-03-01 21:47:00"),
      java.sql.Timestamp.valueOf("2021-03-02 16:00:00"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(time), GreaterThan(time,"), p)
    // CIP-25 key filter lands on the tx_metadata scan
    assert(p.contains("EqualTo(key,721"), p)
    // dims are broadcast at this size
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q34_range_join: band table broadcast — the fact side never shuffles") {
    val p = plan(CoreQueries.q34RangeJoin(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the only exchange is the final groupBy("band"), never a pre-join one
    assert(!p.substring(0, p.indexOf("BroadcastNestedLoopJoin"))
      .contains("Exchange hashpartitioning"), p)
  }

  test("q30_correlated_subquery: decorrelated to a broadcast hash join") {
    val p = plan(CoreQueries.q30CorrelatedSubquery(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), "decorrelation must not introduce a window:\n" + p)
  }

  test("q33_asof: single window pass, no self-join") {
    val p = plan(CoreQueries.q33Asof(spark, dir))
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "as-of via running max must not join:\n" + p)
  }

  test("scd2: the whole history pipeline reuses ONE exchange of the entity key") {
    // window (key) -> run groupBy (key, state, run) -> window (key): the
    // hash partitioning on user_id satisfies every downstream clustering,
    // so two windows + an aggregate cost a single shuffle.
    val df = ExtQueries.scd2Intervals(spark, dir)
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — count the
    // final plan only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("dedup_exact: shuffle key is the digest, not the document") {
    val p = plan(ExtQueries.dedupExact(spark, dir))
    assert(p.contains("HashAggregate"), p)
    // the exchange must carry the digest (as _groupingexpression), never
    // the document text
    assert(p.contains("hashpartitioning(_groupingexpression"), p)
    val exch = p.substring(p.indexOf("(5) Exchange").max(0))
    assert(!exch.split("\n").take(3).mkString.contains("text#"), p)
  }

  test("pack_greedy: one exchange on the group key, sorted groups, no window") {
    val df = ExtQueries.packGreedy(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // flatMapSortedGroups = one hash exchange on the group key + an
    // in-partition sort; no global sort, no window machinery
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("mixture_fractional: broadcast weights, codegen'd mix64, no corpus shuffle") {
    val df = ExtQueries.mixtureFractional(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    // replication happens where the rows live: the only exchange is the
    // tiny weights broadcast, never a hash/range exchange of the corpus
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    // the mix64 draw runs inside whole-stage codegen ("*(n)" stage markers)
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p)
  }

  test("q52_lateral_topk: lateral decorrelates — no per-row nested loop") {
    val p = plan(CoreQueries.q52LateralTopK(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "lateral should decorrelate to an equi plan, not a nested loop:\n" + p)
  }

  test("q55_cross_join: literal tier table broadcast; single agg exchange") {
    val p = plan(CoreQueries.q55CrossJoin(spark, dir))
    // the non-equi tier band is a broadcast nested-loop over the 3-row
    // literal side; the customer side must never hash-exchange before it
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.substring(0, p.indexOf("BroadcastNestedLoopJoin"))
      .contains("Exchange hashpartitioning"), p)
  }

  test("text_entropy: two aggregation exchanges, no window, text pruned early") {
    val df = ExtQueries.textEntropy(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // (doc,tok) counts then per-doc fold: exactly two hash exchanges
    // (plus the parallelism-floor round-robin); never a window or sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Window"), p)
    val exch = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).mkString
    assert(!exch.contains("text#"), "raw text must not ride the shuffle:\n" + p)
  }

  test("quality_gopher: two-phase aggregation, no document text through the exchange") {
    val p = plan(ExtQueries.qualityGopher(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // after the explode, only (doc_id, gram) flow; the raw text column
    // must not survive into any exchange
    val exch = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).mkString
    assert(!exch.contains("text#"), p)
  }

  test("chunk_documents: shuffle-free — scan + project + explode only") {
    val df = ExtQueries.chunkDocuments(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), "chunking must not shuffle:\n" + p)
    assert(p.contains("Generate"), p) // the chunk-id explode
  }

  test("funnel_steps: step-type filters pushed into every events scan") {
    val p = plan(ExtQueries.funnelSteps(spark, dir))
    // each funnel stage scans events with its own pushed equality filter
    Seq("view", "click", "purchase").foreach { t =>
      assert(p.contains(s"EqualTo(event_type,$t)"),
        s"step filter for '$t' not pushed:\n" + p)
    }
  }

  test("join_bloom: the Bloom prefilter sits below the big side's exchange") {
    val p = plan(ExtQueries.joinBloom(spark, dir))
    // the UDF filter must appear (it drops rows before any join machinery);
    // region selectivity is pushed into its scan as usual
    assert(p.contains("Filter"), p)
    assert(p.contains("EqualTo(r_name,EUROPE)"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("anomaly_zscore: stats broadcast back — one aggregation exchange only") {
    val df = ExtQueries.anomalyZscore(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the 5-group stats aggregate is the only hash exchange; the scoring
    // join must be broadcast (no second shuffle of the event stream)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // the runtime half of the skew story (Skew.saltedJoin is the static
    // half): with thresholds scaled to the fixture, AQE must mark the
    // hot-key partition as skewed and split it
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      // NB the payload must be incompressible (per-row hashes): skew
      // detection reads COMPRESSED map-output sizes, and a constant pad
      // LZ4s to nothing, hiding the skew from the stats
      val big = spark.range(0, 400000)
        .selectExpr("IF(id % 20 < 19, 0L, id % 64) AS k", // 95% on key 0
          "sha2(CAST(id AS STRING), 256) AS pad")
      val small = spark.range(0, 64).selectExpr("id AS k", "id * 2 AS v")
      val joined = big.join(small, "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("skew=true"), "AQE did not mark the skewed join:\n" + p)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("snapshot_diff: two partial+final aggregates, key-equi full outer join") {
    val p = plan(ExtQueries.snapshotDiffQ(spark, dir))
    // each snapshot aggregates map-side before its exchange
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the old snapshot's date cutoff reaches the orders scan
    assert(p.contains("LessThan(o_orderdate,"), p)
  }

  test("anomaly_mad: distributed selection — no rank sort, no wide columns") {
    val p = plan(GraphQueries.anomalyMad(spark, dir))
    assert(!p.contains("props"), "props leaked into the MAD pipeline:\n" + p)
    // medians come from counting selection, never a per-group rank pass
    assert(!p.contains("Window"), "rank-sort window crept back in:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ts_ewma: one aggregation, scan pruned to fold inputs only") {
    val p = plan(GraphQueries.tsEwma(spark, dir))
    assert(!p.contains("props"), "props leaked into the EWMA fold:\n" + p)
    assert(!p.contains("event_type"), "event_type read but unused:\n" + p)
    assert(!p.contains("Window"), "EWMA must not use a global window:\n" + p)
  }

  test("layout_zorder: pure projection + two-phase aggregate, 2-column scan") {
    val p = plan(GraphQueries.layoutZorder(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("l_quantity"), "pruned column still read:\n" + p)
    assert(!p.contains("l_orderkey"), "pruned column still read:\n" + p)
    assert(p.contains("[codegen id :"), p)
  }

  test("graph_pagerank / graph_triangles: keyed joins only, no cartesian") {
    val pr = plan(GraphQueries.graphPagerank(spark, dir))
    assert(!pr.contains("CartesianProduct"), pr)
    assert(!pr.contains("BroadcastNestedLoopJoin"), pr)
    // triangles: the wedge/closure joins are equi-joins (the only
    // cartesians are the final single-row count stitches)
    val tr = plan(GraphQueries.graphTriangles(spark, dir))
    val equiJoins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(tr).size
    assert(equiJoins >= 2, tr)
  }

  test("ts_interpolate: scan pruned to the fold inputs; keyed joins only") {
    val p = plan(GraphQueries.tsInterpolate(spark, dir))
    assert(!p.contains("props"), "props leaked into the interpolation:\n" + p)
    assert(!p.contains("event_type"), "event_type read but unused:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_collocations: vocabulary probes broadcast — the corpus never sort-merges") {
    val p = plan(ExtQueries.textCollocations(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "unigram/pair probes must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a corpus-sized shuffle join crept into the probe path:\n" + p)
  }

  test("graph_bfs: frontier levels are keyed joins, never cartesian") {
    val p = plan(GraphQueries.graphBfs(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("quantile_exact: distributed selection — no rank-sort window, no wide columns") {
    val p = plan(GraphQueries.quantileExact(spark, dir))
    assert(!p.contains("Window"), "full-data rank sort crept back in:\n" + p)
    assert(!p.contains("props"), "props leaked into the selection:\n" + p)
    assert(!p.contains("user_id"), "user_id read but unused:\n" + p)
  }

  test("ts_cusum / ts_holt: one ordered-fold aggregation, pruned scans") {
    for (q <- Seq(GraphQueries.tsCusum(spark, dir), GraphQueries.tsHolt(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("props"), "props leaked into the fold:\n" + p)
      assert(!p.contains("Window"), "fold must not use a global window:\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("agg_incremental: two-phase aggregation, events scan pruned") {
    val p = plan(ExtQueries.aggIncremental(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("props"), "props leaked into the aggregate state:\n" + p)
    assert(!p.contains("user_id"), "user_id read but unused:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sketch_countmin: counters aggregate partially and broadcast to the probes") {
    val p = plan(ExtQueries.sketchCountMin(spark, dir))
    // the counter build and the estimate min are both two-phase
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    // the 4096-row counter table reaches the probes as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("sketch_kmv: O(k) mergeable state — partial+final agg, no window, no sort") {
    val p = plan(ExtQueries.sketchKmv(spark, dir))
    // the bottom-k Aggregator is an ObjectHashAggregate with a partial pass
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("WindowExec") && !p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("stats_moments: one two-phase aggregation, no joins, no window") {
    val p = plan(ExtQueries.statsMoments(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // final plan: the parallelism-floor repartition + the one agg exchange
    val fin = p.substring(p.indexOf("== Final Plan =="),
      math.max(p.indexOf("== Initial Plan =="), p.indexOf("== Final Plan ==") + 16))
    assert("Exchange \\(".r.findAllIn(fin).size <= 2,
      "more exchanges than the one agg needs:\n" + p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("dataset_split: pure projection — zero exchanges, zero windows") {
    val p = plan(PipelineQueries.datasetSplit(spark, dir))
    assert(!p.contains("Exchange"), "split must not shuffle:\n" + p)
    assert(!p.contains("Window"), p)
    assert(p.contains("[codegen id :"), p)
  }

  test("cdc_apply: one exchange, partial+final max_by aggregation, no window") {
    val p = plan(PipelineQueries.cdcApply(spark, dir))
    // max_by carries a struct buffer, so Spark picks SortAggregate — the
    // property that matters is PARTIAL aggregation (one struct per key
    // per partition crosses the exchange, never the raw changelog) and a
    // single key exchange; a row_number window would shuffle every row
    assert("SortAggregate".r.findAllIn(p).size >= 2 ||
      "HashAggregate".r.findAllIn(p).size >= 2, p)
    val fin = if (p.contains("== Final Plan =="))
      p.substring(p.indexOf("== Final Plan =="),
        math.max(p.indexOf("== Initial Plan =="), p.length)) else p
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 1, p)
    assert(!p.contains("WindowExec"), p)
  }

  test("dedup_consecutive: windows and final agg share ONE exchange on user_id") {
    val p = plan(PipelineQueries.dedupConsecutive(spark, dir))
    val fin = if (p.contains("== Final Plan =="))
      p.substring(p.indexOf("== Final Plan =="),
        math.max(p.indexOf("== Initial Plan =="), p.length)) else p
    // one hash exchange for (user_id); the (user_id, run) window/agg reuse it
    assert("Exchange hashpartitioning".r.findAllIn(fin).size <= 2,
      "run windows re-shuffled:\n" + p)
    assert(!p.contains("Exchange SinglePartition"),
      "global window crept in:\n" + p)
  }

  test("select_budget: one exchange, per-group running sum, no global sort") {
    val p = plan(PipelineQueries.selectBudget(spark, dir))
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), "global window:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("lm_bigrams: row-local pairing — no join between bigram and pair explode") {
    val p = plan(PipelineQueries.lmBigrams(spark, dir))
    // the pairing itself is a Generate (row-local explode), never a
    // positional self-join; the only join attaches unigram counts
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("negative_sample: anti-join on the group key, no broadcast of the item space") {
    val p = plan(PipelineQueries.negativeSample(spark, dir))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("stats_histogram: two-phase count on the bucket id, no sort") {
    val p = plan(PipelineQueries.statsHistogram(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Sort"), p)
    assert(!p.contains("Window"), p)
  }

  test("index_minmax: one two-phase aggregation over the zone id") {
    val p = plan(PipelineQueries.indexMinmax(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("join_fuzzy: deletion variants via Generate, key-equi join, no cartesian") {
    val p = plan(PipelineQueries.joinFuzzy(spark, dir))
    assert(p.contains("Generate"), "variant expansion must be an explode:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("feature_rolling: bounded ROWS frame co-partitioned with the key") {
    val p = plan(PipelineQueries.featureRolling(spark, dir))
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), "global window:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("quality_classifier: zero-shuffle row-local scoring") {
    val p = plan(ExtQueries.qualityClassifier(spark, dir))
    assert(!p.contains("Exchange"), "row-local fold must not shuffle:\n" + p)
    assert(!p.contains("Generate"), "no explode — the fold is in-row:\n" + p)
    assert(p.contains("[codegen id :"), p)
  }

  test("sketch_hll: partial aggregation collapses before the exchange") {
    val p = plan(ExtQueries.sketchHll(spark, dir))
    // register build: partial + final HashAggregate pair (each partition
    // ships <= 256 rows), never a window or a sort of the key stream
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("graph_jaccard: key-equi wedge joins only, no cartesian") {
    val p = plan(GraphQueries.graphJaccard(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ts_autocorr: counts aggregate map-side; lag join is key-equi") {
    val p = plan(GraphQueries.tsAutocorr(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("multimodal_audio: typed per-partition decode, zero shuffle") {
    val p = plan(ExtQueries.multimodalAudio(spark, dir))
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("Exchange"), "frame extraction must not shuffle:\n" + p)
  }
}

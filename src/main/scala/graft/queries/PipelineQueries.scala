package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.{Analytics, DataOps, Dedup, Joins, Layout, Packing, Ranking, VectorExprs, Vocab}
import graft.sources.Tables

/** Dataset-lifecycle operators: the steps a production training-data
  * pipeline runs AROUND the per-document transforms — deterministic
  * split assignment, changelog materialization, event-stream compaction,
  * retrieval fusion, LM statistics, negative sampling, budget curation,
  * drift detection, fuzzy entity resolution, planner sketches, privacy
  * release, layout indexes, readability scoring. Each pairs a
  * shuffle-minimal Spark pipeline with a bit-exact DuckDB replay.
  */
object PipelineQueries {
  import Queries.QueryFn

  /** Deterministic 80/10/10 train/val/test assignment per document —
    * a pure mix64 projection, zero shuffles (see DataOps.datasetSplit).
    */
  val datasetSplit: QueryFn = (s, dir) =>
    DataOps.datasetSplit(Tables.documents(s, dir), "doc_id",
      Seq(("train", 80), ("val", 90), ("test", 100)))
      .select("doc_id", "bucket", "split")

  val datasetSplitSql: String =
    s"""WITH d0 AS (SELECT doc_id AS id FROM documents),
       |${ExtQueries.mix64Cte("d0", "id")}
       |SELECT id AS doc_id, ((hv % 100) + 100) % 100 AS bucket,
       |  CASE WHEN ((hv % 100) + 100) % 100 < 80 THEN 'train'
       |       WHEN ((hv % 100) + 100) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM hs""".stripMargin

  /** Event-stream compaction: consecutive same-type events per user fold
    * into runs (head id/value, span, count). One exchange on user_id.
    */
  val dedupConsecutive: QueryFn = (s, dir) =>
    Dedup.collapseConsecutive(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type", "value")
      .select(col("user_id"), col("run"), col("event_id"), col("event_type"),
        col("value"), col("n_in_run"), col("ts_start"), col("ts_end"))

  val dedupConsecutiveSql: String =
    """WITH l AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pt,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn0
      |  FROM events
      |), r AS (
      |  SELECT *, sum(CASE WHEN rn0 = 1 OR pt IS DISTINCT FROM event_type THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
      |  FROM l
      |), h AS (
      |  SELECT *, first_value(event_id) OVER wr AS head_id,
      |    first_value(value) OVER wr AS head_val
      |  FROM r
      |  WINDOW wr AS (PARTITION BY user_id, run ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, CAST(run AS BIGINT) AS run, min(head_id) AS event_id,
      |  min(event_type) AS event_type, min(head_val) AS value,
      |  CAST(count(*) AS BIGINT) AS n_in_run,
      |  min(ts) AS ts_start, max(ts) AS ts_end
      |FROM h GROUP BY user_id, run""".stripMargin

  /** CDC materialization over the event log: 'error' is the delete
    * tombstone, everything else upserts; last op per user wins. ONE
    * map-side-combining aggregation (see DataOps.cdcApply).
    */
  val cdcApply: QueryFn = (s, dir) => {
    val log = Tables.events(s, dir).withColumn("op",
      when(col("event_type") === "error", "D").otherwise("U"))
    DataOps.cdcApply(log, Seq("user_id"), "op", Seq("ts", "event_id"),
      Seq("value", "ts"))
      .select(col("user_id"), col("value"), col("ts").as("last_ts"),
        col("n_ops"), col("n_deletes"))
  }

  val cdcApplySql: String =
    """WITH log AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      |  FROM events
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log
      |), agg AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ops,
      |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
      |  FROM log GROUP BY 1
      |)
      |SELECT r.user_id, r.value, r.ts AS last_ts, agg.n_ops, agg.n_deletes
      |FROM r JOIN agg USING (user_id) WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Reciprocal-rank fusion of a BM25 ranking and a TF-IDF-sum ranking
    * over the same query terms — the retrieval-fusion step of a RAG /
    * contamination-check pipeline. Ranks are assigned by the
    * `SurrogateIds` dense ranker (no global window); contributions are
    * rounded at 9 and summed in DECIMAL on both engines.
    */
  val rankFusion: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val terms = Seq("join", "vector", "spark", "window")
    // ONE tokenization pass feeds both scorers — at 100 TB the corpus
    // scan dominates, so the fusion must not re-read it per ranking
    val withLen = docs.select(col("doc_id"), col("text").as("__text"),
      size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .localCheckpoint(true)
    val tf = Ranking.termFrequencies(withLen, "doc_id", "__text")
      .localCheckpoint(true)
    val statsRow = withLen.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    val bm25 = Ranking.bm25FromTf(tf, withLen.select("doc_id", "dl"),
        nDocs, avgdl, terms)
      .withColumn("score", round(col("score"), 6))
    val tfidfSum = Ranking.tfidfSumFromTf(tf, nDocs, terms)
    Ranking.rrfFusion(Seq(bm25, tfidfSum))
      .select(col("doc_id"), col("n_lists"), col("best_rank"),
        col("rrf_score"))
  }

  /** Shared BM25 + TF-IDF retrieval CTE prefix (ONE tokenization pass)
    * — the oracle-side twin of the `withLen`/`tf` localCheckpoint
    * sharing above; `rank_fusion` and `rank_rbo` both splice it.
    */
  private val retrievalCtes: String =
    """WITH withlen AS (
      |  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl,
      |         regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS term FROM withlen) GROUP BY 1, 2
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM withlen
      |), dfreq AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
      |  WHERE term IN ('join', 'vector', 'spark', 'window') GROUP BY 1
      |), contrib AS (
      |  SELECT tf.doc_id,
      |    ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |      * (tf.tf * (1.2 + 1.0))
      |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * withlen.dl / stats.avgdl)) AS c
      |  FROM tf
      |  JOIN dfreq USING (term)
      |  JOIN withlen USING (doc_id), stats
      |  WHERE tf.term IN ('join', 'vector', 'spark', 'window')
      |), bm25 AS (
      |  SELECT doc_id,
      |    round(CAST(sum(CAST(round(c, 6) AS DECIMAL(30,6))) AS DOUBLE), 6) AS score
      |  FROM contrib GROUP BY doc_id
      |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |tfidf AS (
      |  SELECT tf.doc_id,
      |    CAST(sum(CAST(round(tf.tf * ln(nn.n / dfreq2.df), 6) AS DECIMAL(30,6))) AS DOUBLE) AS score
      |  FROM tf
      |  JOIN (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1) dfreq2 USING (term),
      |  nn
      |  WHERE tf.term IN ('join', 'vector', 'spark', 'window')
      |  GROUP BY tf.doc_id
      |)""".stripMargin

  val rankFusionSql: String = retrievalCtes +
    """, ranked AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm25
      |  UNION ALL
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM tfidf
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
      |  min(rank) AS best_rank,
      |  CAST(sum(CAST(round(1.0 / (60.0 + rank), 9) AS DECIMAL(30,9))) AS DOUBLE) AS rrf_score
      |FROM ranked GROUP BY doc_id""".stripMargin

  /** Rank-biased overlap between the BM25 and TF-IDF top-10 lists over
    * the same query terms — how much do the two retrieval systems
    * actually agree where it matters (the top of the list)? See
    * [[graft.ext.Ranking.rboOverlap]]; the scorers reuse rank_fusion's
    * single shared tokenization pass.
    */
  val rankRbo: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val terms = Seq("join", "vector", "spark", "window")
    val withLen = docs.select(col("doc_id"), col("text").as("__text"),
      size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .localCheckpoint(true)
    val tf = Ranking.termFrequencies(withLen, "doc_id", "__text")
      .localCheckpoint(true)
    val statsRow = withLen.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    val bm25 = Ranking.bm25FromTf(tf, withLen.select("doc_id", "dl"),
        nDocs, avgdl, terms)
      .withColumn("score", round(col("score"), 6))
    val tfidfSum = Ranking.tfidfSumFromTf(tf, nDocs, terms)
    Ranking.rboOverlap(bm25, tfidfSum)
  }

  val rankRboSql: String = retrievalCtes +
    s""", ra AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |    FROM bm25) WHERE rank <= 10
       |), rb AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |    FROM tfidf) WHERE rank <= 10
       |), j AS (
       |  SELECT greatest(ra.rank, rb.rank) AS m FROM ra JOIN rb USING (doc_id)
       |), st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_common,
       |    sum(CAST((${Ranking.rboWeightExpr("m", 10, 0.9)}) AS DECIMAL(30,9))) AS s
       |  FROM j
       |)
       |SELECT CAST(10 AS BIGINT) AS k, n_common,
       |  ${Ranking.rboFinalExpr(0.9)} AS rbo
       |FROM st""".stripMargin

  /** Equi-width 20-bucket histogram of lineitem extended price. Both
    * engines replay the identical IEEE edge arithmetic (no rounding), so
    * bucket ids, bounds, and counts hash-match exactly.
    */
  val statsHistogram: QueryFn = (s, dir) =>
    Analytics.histogram(Tables.lineitem(s, dir), "l_extendedprice", 20)

  val statsHistogramSql: String =
    """WITH env AS (
      |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
      |         CAST(max(l_extendedprice) AS DOUBLE) AS mx FROM lineitem
      |), p AS (
      |  SELECT mn, CASE WHEN mx > mn THEN (mx - mn) / 20 ELSE 1.0 END AS width
      |  FROM env
      |), b AS (
      |  SELECT CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - p.mn) / p.width),
      |              19.0) AS BIGINT) AS bucket
      |  FROM lineitem, p WHERE l_extendedprice IS NOT NULL
      |)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
      |  p.mn + bucket * p.width AS lo, p.mn + (bucket + 1) * p.width AS hi
      |FROM b, p GROUP BY bucket, p.mn, p.width""".stripMargin

  /** k-anonymity release of per-(lang, source) document counts: groups
    * under 5 members collapse into one masked bucket.
    */
  val anonymizeK: QueryFn = (s, dir) =>
    DataOps.kAnonymize(Tables.documents(s, dir), Seq("lang", "source"),
      "n_chars", k = 5)

  val anonymizeKSql: String =
    """WITH g AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(n_chars) AS BIGINT) AS measure
      |  FROM documents GROUP BY 1, 2
      |)
      |SELECT lang, source, n, measure FROM g WHERE n >= 5
      |UNION ALL
      |SELECT '*', '*', CAST(sum(n) AS BIGINT) AS n,
      |  CAST(sum(measure) AS BIGINT) AS measure
      |FROM g WHERE n < 5 HAVING count(*) > 0 AND sum(n) >= 5""".stripMargin

  /** Zone-map build over documents: per 100-id range, the min/max/null
    * stats of `n_chars` — the data-skipping index a lakehouse planner
    * prunes with.
    */
  val indexMinmax: QueryFn = (s, dir) =>
    Layout.zoneMap(Tables.documents(s, dir), "doc_id", "n_chars", 100L)

  val indexMinmaxSql: String =
    """SELECT CAST(floor(doc_id / 100.0) AS BIGINT) AS zone,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  min(n_chars) AS v_min, max(n_chars) AS v_max
      |FROM documents GROUP BY 1""".stripMargin

  /** L2 normalization of the embedding column, exploded to scalar rows;
    * the norm is the native sequential dot-product kernel, which DuckDB's
    * list_inner_product replays bit-for-bit.
    */
  val vecNormalize: QueryFn = (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(VectorExprs.dot_product(col("e"), col("e"))))
      .select(col("vec_id"), col("nrm"), posexplode(col("e")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        round(col("x") / col("nrm"), 6).as("nv"))

  val vecNormalizeSql: String =
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), n AS (
      |  SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM v
      |)
      |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, round(e[i] / nrm, 6) AS nv
      |FROM n, unnest(generate_series(1, len(e))) s(i)""".stripMargin

  /** Bigram LM sufficient statistics (pairs with count ≥ 3): row-local
    * pairing, vocabulary-sized shuffles; MLE P(w2|w1) rounded at 6 on
    * both engines.
    */
  val lmBigrams: QueryFn = (s, dir) =>
    Vocab.bigramCounts(Tables.documents(s, dir), "text")
      .where(col("c12") >= 3)
      .withColumn("p", round(col("c12").cast("double") / col("c1"), 6))

  val lmBigramsSql: String =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), bi AS (
      |  SELECT t[i] AS w1, t[i+1] AS w2
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)
      |), bc AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2
      |), uc AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1
      |)
      |SELECT bc.w1, bc.w2, c12, c1,
      |  round(CAST(c12 AS DOUBLE) / c1, 6) AS p
      |FROM bc JOIN uc USING (w1) WHERE c12 >= 3""".stripMargin

  /** Interpolated Kneser–Ney bigram model over the corpus (bigrams seen
    * ≥ 5 times): the canonical LM smoothing, exact integer sufficient
    * statistics and ONE shared probability expression (see
    * [[graft.ext.Vocab.kneserNeyBigrams]]).
    */
  val lmKneserNey: QueryFn = (s, dir) =>
    Vocab.kneserNeyBigrams(Tables.documents(s, dir), "text", minCount = 5)

  val lmKneserNeySql: String =
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
       |), bi AS (
       |  SELECT t[i] AS w1, t[i+1] AS w2
       |  FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)
       |), bc AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2
       |), fwd AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS cctx,
       |    CAST(count(*) AS BIGINT) AS nf
       |  FROM bc GROUP BY 1
       |), rev AS (
       |  SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM bc GROUP BY 1
       |), tot AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM bc)
       |SELECT bc.w1, bc.w2, c12, cctx, nf, nr,
       |  ${graft.ext.Vocab.kneserNeyExpr} AS p_kn
       |FROM bc JOIN fwd USING (w1) JOIN rev USING (w2), tot
       |WHERE c12 >= 5""".stripMargin

  /** Per-document bigram-LM cross-entropy — the perplexity-style quality
    * filter (see [[graft.ext.Vocab.bigramCrossEntropy]]): add-one-
    * smoothed bigram NLL, per-TYPE rounded at 6 then exactly summed, so
    * the float work replays bit-for-bit.
    */
  val textPerplexity: QueryFn = (s, dir) =>
    Vocab.bigramCrossEntropy(Tables.documents(s, dir), "doc_id", "text")

  val textPerplexitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), bi AS (
      |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM toks, unnest(generate_series(1, len(t) - 1)) s(i)
      |), bc AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2
      |), uc AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1
      |), voc AS (
      |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT unnest(t) AS w FROM toks)
      |), model AS (
      |  SELECT w1, w2,
      |    CAST(round(-ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 6)
      |         AS DECIMAL(30,6)) AS nll6
      |  FROM bc JOIN uc USING (w1), voc
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(nll6) AS DOUBLE) AS nll_total,
      |  round(CAST(sum(nll6) AS DOUBLE) / count(*), 6) AS avg_nll
      |FROM bi JOIN model USING (w1, w2)
      |GROUP BY 1""".stripMargin

  /** The deterministic weighted training order: k-th doc of a weight-w
    * source at virtual time k/w (see
    * [[graft.ext.DataOps.interleaveWeighted]]); weights 1..3 derived
    * from the source id so the interleave is visibly non-uniform.
    */
  val datasetInterleave: QueryFn = (s, dir) =>
    DataOps.interleaveWeighted(
      Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", "source",
      expr("1 + CAST(substring(source, 4, 10) AS BIGINT) % 3"))

  val datasetInterleaveSql: String =
    """WITH rn AS (
      |  SELECT doc_id, source,
      |    1 + (CAST(substr(source, 4) AS BIGINT) % 3) AS w,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS rn
      |  FROM documents
      |)
      |SELECT doc_id, source, w, rn, rn * 1000000 // w AS key,
      |  CAST(row_number() OVER (ORDER BY rn * 1000000 // w, source, doc_id)
      |    - 1 AS BIGINT) AS pos
      |FROM rn""".stripMargin

  /** T5 span-corruption accounting over documents: hash-deterministic
    * span starts (every≈5, spanLen 3), merged coverage, per-doc mask
    * rate and sentinel count (see [[graft.ext.Packing.maskSpans]]).
    */
  val maskSpans: QueryFn = (s, dir) =>
    Packing.maskSpans(Tables.documents(s, dir), "doc_id", "text",
      every = 5, spanLen = 3)

  val maskSpansSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n
       |  FROM documents
       |), pos0 AS (
       |  SELECT doc_id, i, doc_id * 100003 + i AS id
       |  FROM toks, unnest(generate_series(1, n)) s(i)
       |),
       |${ExtQueries.mix64Cte("pos0", "doc_id, i")},
       |flags AS (
       |  SELECT doc_id, i,
       |    CASE WHEN ((hv % 5) + 5) % 5 = 0 THEN 1 ELSE 0 END AS st
       |  FROM hs
       |), cov AS (
       |  SELECT doc_id, i, max(st) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cv
       |  FROM flags
       |), runs AS (
       |  SELECT doc_id, cv,
       |    coalesce(lag(cv) OVER (PARTITION BY doc_id ORDER BY i), 0) AS pv
       |  FROM cov
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(cv) AS BIGINT) AS n_masked,
       |  CAST(sum(CASE WHEN cv = 1 AND pv = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_spans,
       |  round(CAST(sum(cv) AS DOUBLE) / count(*), 6) AS mask_rate
       |FROM runs GROUP BY 1""".stripMargin

  /** Deterministic contrastive negatives: 8 hash-drawn candidates per
    * order (groups bounded to keep the dump small), minus true
    * positives via anti-join; the mix64 chain replays in DuckDB.
    */
  val negativeSample: QueryFn = (s, dir) =>
    DataOps.negativeSample(
      Tables.lineitem(s, dir).where(col("l_orderkey") <= 1000),
      "l_orderkey", "l_partkey", nItems = 10000L, k = 8)

  val negativeSampleSql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT l_orderkey AS grp FROM lineitem WHERE l_orderkey <= 1000
       |), c0 AS (
       |  SELECT grp, s.i AS slot, grp * 8 + s.i AS id
       |  FROM g, unnest(generate_series(0, 7)) s(i)
       |),
       |${ExtQueries.mix64Cte("c0", "grp, slot")},
       |cand AS (
       |  SELECT grp, slot, ((hv % 10000) + 10000) % 10000 AS item FROM hs
       |), pos AS (
       |  SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
       |  FROM lineitem WHERE l_orderkey <= 1000
       |)
       |SELECT c.grp AS l_orderkey, CAST(c.slot AS BIGINT) AS slot,
       |  c.item AS l_partkey
       |FROM cand c
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM pos p WHERE p.grp = c.grp AND p.item = c.item)""".stripMargin

  /** Token-budget curation: per source, keep the longest documents while
    * the inclusive running character count stays within 4k.
    */
  val selectBudget: QueryFn = (s, dir) =>
    DataOps.selectByBudget(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "source", Seq(col("n_chars").desc, col("doc_id").asc),
      "n_chars", budget = 4000L)

  val selectBudgetSql: String =
    """SELECT doc_id, source, n_chars, cum_cost FROM (
      |  SELECT doc_id, source, n_chars,
      |    CAST(sum(n_chars) OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost
      |  FROM documents
      |) WHERE cum_cost <= 4000""".stripMargin

  /** Waterfilling token-budget allocation across sources: 60% of the
    * corpus's characters, split by document-count weights; sources
    * without their proportional share saturate and redistribute (see
    * [[graft.ext.DataOps.waterfill]]). The budget is exact integer math
    * (6·total div 10) on both sides.
    */
  val mixtureWaterfill: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir).where(col("source").isNotNull)
      .localCheckpoint(true) // feeds the budget probe AND the domain table
    val total = docs.agg(sum(col("n_chars"))).head().getLong(0)
    val domains = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    DataOps.waterfill(domains, "source", "n_docs", "chars",
      budget = 6L * total / 10L)
  }

  val mixtureWaterfillSql: String = {
    val alloc = Analytics.half6Sql(
      "(CAST((SELECT budget FROM b) AS DOUBLE) - CAST(sata AS DOUBLE)) " +
        "* CAST(w AS DOUBLE) / CAST(unsatw AS DOUBLE)")
    s"""WITH d AS (
       |  SELECT source AS k, CAST(count(*) AS BIGINT) AS w,
       |    CAST(sum(n_chars) AS BIGINT) AS a
       |  FROM documents WHERE source IS NOT NULL GROUP BY 1
       |), b AS (
       |  SELECT (6 * sum(n_chars)) // 10 AS budget
       |  FROM documents WHERE source IS NOT NULL
       |), o AS (
       |  SELECT k, w, a,
       |    COALESCE(SUM(a) OVER (ORDER BY CAST(a AS DOUBLE) / w, k
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS aprev,
       |    SUM(w) OVER (ORDER BY CAST(a AS DOUBLE) / w, k
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS restw
       |  FROM d
       |), f AS (
       |  SELECT *, CAST(a AS HUGEINT) * restw <=
       |    CAST((SELECT budget FROM b) - aprev AS HUGEINT) * w AS flag
       |  FROM o
       |), s AS (
       |  SELECT *, min(CASE WHEN flag THEN 1 ELSE 0 END) OVER (
       |    ORDER BY CAST(a AS DOUBLE) / w, k
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS saturated
       |  FROM f
       |), t AS (
       |  SELECT COALESCE(sum(CASE WHEN saturated THEN a END), 0) AS sata,
       |    COALESCE(sum(CASE WHEN NOT saturated THEN w END), 0) AS unsatw
       |  FROM s
       |)
       |SELECT k AS source, w AS weight, a AS avail, saturated,
       |  CASE WHEN saturated THEN CAST(a AS DOUBLE) ELSE $alloc END AS alloc
       |FROM s, t""".stripMargin
  }

  /** Next-event prediction pairs: previous-3-event context string +
    * current label per user stream (empty context at the head).
    */
  val trainPairs: QueryFn = (s, dir) =>
    Analytics.nextEventPairs(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type", ctx = 3)

  val trainPairsSql: String =
    """SELECT user_id, ts, event_id,
      |  concat_ws(' ',
      |    lag(event_type, 3) OVER w, lag(event_type, 2) OVER w,
      |    lag(event_type, 1) OVER w) AS context,
      |  event_type AS label
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** EXACT lev-1 fuzzy self-join over customer names via FastSS
    * deletion-neighborhood blocking — every lev ≤ 1 pair found,
    * candidate volume output-sized at any SF (a fixed prefix block was
    * 24× slower at sf0.1 and silently missed cross-block pairs).
    */
  val joinFuzzy: QueryFn = (s, dir) =>
    Joins.fuzzySelfJoinLev1(Tables.customer(s, dir), "c_custkey", "c_name")
      .select(col("id_a").as("c_a"), col("id_b").as("c_b"), col("lev"))

  val joinFuzzySql: String =
    """WITH c AS (SELECT c_custkey AS id, c_name AS n FROM customer),
      |v AS (
      |  SELECT id, n, n AS v FROM c
      |  UNION
      |  SELECT id, n,
      |    substring(n, 1, i - 1) || substring(n, i + 1) AS v
      |  FROM c, UNNEST(generate_series(1, length(n))) s(i)
      |), p AS (
      |  SELECT DISTINCT a.id AS c_a, b.id AS c_b, a.n AS na, b.n AS nb
      |  FROM v a JOIN v b ON a.v = b.v AND a.id < b.id
      |)
      |SELECT c_a, c_b, CAST(levenshtein(na, nb) AS BIGINT) AS lev
      |FROM p WHERE levenshtein(na, nb) <= 1""".stripMargin

  /** KS distribution-drift per language: sources src0-src9 vs the rest
    * over document length. Integer CDF gaps, one final division — exact
    * on both engines.
    */
  val driftKs: QueryFn = (s, dir) =>
    Analytics.ksDrift(Tables.documents(s, dir), "lang", "n_chars",
      col("source").isin((0 to 9).map(i => s"src$i"): _*))
      .select(col("lang"), col("n_a"), col("n_b"), col("ks"))

  val driftKsSql: String =
    """WITH counts AS (
      |  SELECT lang, n_chars,
      |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4',
      |      'src5','src6','src7','src8','src9') THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4',
      |      'src5','src6','src7','src8','src9') THEN 0 ELSE 1 END) AS BIGINT) AS b
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
      |), cum AS (
      |  SELECT lang, n_chars, a, b,
      |    CAST(sum(a) OVER w AS BIGINT) AS ca,
      |    CAST(sum(b) OVER w AS BIGINT) AS cb
      |  FROM counts
      |  WINDOW w AS (PARTITION BY lang ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
      |), tot AS (
      |  SELECT lang, CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
      |  FROM counts GROUP BY 1
      |)
      |SELECT c.lang, t.n_a, t.n_b,
      |  CAST(max(abs(c.ca * t.n_b - c.cb * t.n_a)) AS DOUBLE)
      |    / (t.n_a * t.n_b) AS ks
      |FROM cum c JOIN tot t USING (lang)
      |GROUP BY c.lang, t.n_a, t.n_b""".stripMargin

  /** CMS join-size estimation: sketch both join columns once, estimate
    * |orders ⋈ lineitem| from the counter inner product, and carry the
    * exact size alongside — the estimate must upper-bound it.
    */
  val joinSizeCms: QueryFn = (s, dir) => {
    val a = graft.ext.Sketches.countMinCounters(
      Tables.orders(s, dir).select(col("o_orderkey").as("k")), "k")
    val b = graft.ext.Sketches.countMinCounters(
      Tables.lineitem(s, dir).select(col("l_orderkey").as("k")), "k")
    val est = graft.ext.Sketches.countMinJoinSize(a, b)
    val tru = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("true_size"))
    est.crossJoin(broadcast(tru))
  }

  val joinSizeCmsSql: String =
    s"""WITH c0 AS (
       |  SELECT 'A' AS side, r, xor(o_orderkey::HUGEINT, r::HUGEINT) AS id
       |  FROM orders, UNNEST(generate_series(0, 3)) rr(r)
       |  UNION ALL
       |  SELECT 'B', r, xor(l_orderkey::HUGEINT, r::HUGEINT)
       |  FROM lineitem, UNNEST(generate_series(0, 3)) rr(r)
       |),
       |${ExtQueries.mix64Cte("c0", "side, r")},
       |cells AS (
       |  SELECT side, r, ((hv % 1024) + 1024) % 1024 AS cell FROM hs
       |), ca AS (
       |  SELECT r, cell, CAST(count(*) AS BIGINT) AS n
       |  FROM cells WHERE side = 'A' GROUP BY 1, 2
       |), cb AS (
       |  SELECT r, cell, CAST(count(*) AS BIGINT) AS n
       |  FROM cells WHERE side = 'B' GROUP BY 1, 2
       |), est AS (
       |  SELECT ca.r, sum(ca.n::HUGEINT * cb.n) AS row_est
       |  FROM ca JOIN cb USING (r, cell) GROUP BY 1
       |), tru AS (
       |  SELECT CAST(count(*) AS BIGINT) AS true_size
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |)
       |SELECT CAST(min(row_est) AS BIGINT) AS join_size_est, tru.true_size
       |FROM est, tru GROUP BY tru.true_size""".stripMargin

  /** Typo-dedup end to end: FastSS lev-1 pairs → connected components →
    * keep the smallest id per cluster. The oracle replays the deletion
    * blocking AND the transitive closure in one recursive CTE.
    */
  val dedupLev1: QueryFn = (s, dir) => {
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    val pairs = Joins.fuzzySelfJoinLev1(cust, "c_custkey", "c_name")
      .select(col("id_a"), col("id_b"))
    Dedup.clusterKeep(cust, "c_custkey", pairs)
      .select(col("id").as("c_custkey"), col("cluster_id"), col("keep"))
  }

  val dedupLev1Sql: String =
    """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS n FROM customer),
      |v AS (
      |  SELECT id, n, n AS v FROM c
      |  UNION
      |  SELECT id, n,
      |    substring(n, 1, i - 1) || substring(n, i + 1) AS v
      |  FROM c, UNNEST(generate_series(1, length(n))) s(i)
      |), p AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb
      |  FROM v a JOIN v b ON a.v = b.v AND a.id < b.id
      |), pairs AS (
      |  SELECT id_a, id_b FROM p WHERE levenshtein(na, nb) <= 1
      |), edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT id, id AS lab FROM c
      |  UNION
      |  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id
      |)
      |SELECT id AS c_custkey, min(lab) AS cluster_id,
      |  (id = min(lab)) AS keep
      |FROM reach GROUP BY id""".stripMargin

  /** Flesch reading-ease quality feature — integer counts, one shared
    * final expression, zero shuffles.
    */
  val textReadability: QueryFn = (s, dir) =>
    graft.ext.TextAnalysis.fleschReadingEase(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch"))

  val textReadabilitySql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
      |  round(206.835
      |    - 1.015 * (CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
      |               / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
      |    - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |              / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)), 6) AS flesch
      |FROM documents""".stripMargin

  /** Rolling per-entity features (last-3-event mean/max/count of the
    * value) — the feature-engineering window shape: co-partitioned with
    * the entity key, bounded ROWS frame, no global ordering. The 3-term
    * float sum folds left-to-right identically on both engines; rounded
    * at 6 to pin it.
    */
  val featureRolling: QueryFn = (s, dir) =>
    Tables.events(s, dir)
      .withColumn("roll_mean", round(avg(col("value")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)), 6))
      .withColumn("roll_max", max(col("value")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)))
      .withColumn("roll_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)))
      .select("user_id", "event_id", "ts", "value", "roll_mean",
        "roll_max", "roll_n")

  val featureRollingSql: String =
    """SELECT user_id, event_id, ts, value,
      |  round(avg(value) OVER w, 6) AS roll_mean,
      |  max(value) OVER w AS roll_max,
      |  CAST(count(*) OVER w AS BIGINT) AS roll_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  val all: Map[String, QueryFn] = Map(
    "dataset_split"     -> datasetSplit,
    "dedup_consecutive" -> dedupConsecutive,
    "cdc_apply"         -> cdcApply,
    "rank_fusion"       -> rankFusion,
    "rank_rbo"          -> rankRbo,
    "stats_histogram"   -> statsHistogram,
    "anonymize_k"       -> anonymizeK,
    "index_minmax"      -> indexMinmax,
    "vec_normalize"     -> vecNormalize,
    "lm_bigrams"        -> lmBigrams,
    "lm_kneser_ney"     -> lmKneserNey,
    "text_perplexity"   -> textPerplexity,
    "mask_spans"        -> maskSpans,
    "dataset_interleave" -> datasetInterleave,
    "negative_sample"   -> negativeSample,
    "select_budget"     -> selectBudget,
    "mixture_waterfill" -> mixtureWaterfill,
    "train_pairs"       -> trainPairs,
    "join_fuzzy"        -> joinFuzzy,
    "drift_ks"          -> driftKs,
    "join_size_cms"     -> joinSizeCms,
    "dedup_lev1"        -> dedupLev1,
    "text_readability"  -> textReadability,
    "feature_rolling"   -> featureRolling,
  )

  val oracles: Map[String, String] = Map(
    "dataset_split"     -> datasetSplitSql,
    "dedup_consecutive" -> dedupConsecutiveSql,
    "cdc_apply"         -> cdcApplySql,
    "rank_fusion"       -> rankFusionSql,
    "rank_rbo"          -> rankRboSql,
    "stats_histogram"   -> statsHistogramSql,
    "anonymize_k"       -> anonymizeKSql,
    "index_minmax"      -> indexMinmaxSql,
    "vec_normalize"     -> vecNormalizeSql,
    "lm_bigrams"        -> lmBigramsSql,
    "lm_kneser_ney"     -> lmKneserNeySql,
    "text_perplexity"   -> textPerplexitySql,
    "mask_spans"        -> maskSpansSql,
    "dataset_interleave" -> datasetInterleaveSql,
    "negative_sample"   -> negativeSampleSql,
    "select_budget"     -> selectBudgetSql,
    "mixture_waterfill" -> mixtureWaterfillSql,
    "train_pairs"       -> trainPairsSql,
    "join_fuzzy"        -> joinFuzzySql,
    "drift_ks"          -> driftKsSql,
    "join_size_cms"     -> joinSizeCmsSql,
    "dedup_lev1"        -> dedupLev1Sql,
    "text_readability"  -> textReadabilitySql,
    "feature_rolling"   -> featureRollingSql,
  )
}

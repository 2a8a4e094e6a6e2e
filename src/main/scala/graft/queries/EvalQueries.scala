package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Analytics, DataOps, Eval, Pii, TextAnalysis}
import graft.sources.Tables

/** Evaluation, scrubbing, and release-accounting operators: the steps a
  * pipeline runs AFTER filtering to decide whether the corpus ships —
  * per-slice classifier metrics (confusion / AUC / calibration), PII
  * detection and redaction, cross-split contamination, the rejection
  * funnel report, curriculum staging, and the behavioral transition
  * prior. Each pairs a shuffle-minimal Spark pipeline with a bit-exact
  * DuckDB replay.
  */
object EvalQueries {
  import Queries.QueryFn

  // ---------------------------------------------------------------- PII

  /** Deterministic PII-bearing text: every third document gets an email,
    * an IPv4, a phone, and a 12-digit account id appended, derived from
    * doc_id by the SAME expression in Spark and SQL — so the regex
    * kernels are exercised on known-positive rows (the raw synthetic
    * corpus contains no digits at all) while the other rows pin the
    * zero-match path.
    */
  private def augmentedText: Column =
    when(col("doc_id") % 3 === 0, concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example ip 10."), (col("doc_id") % 200).cast("string"),
      lit(".0."), (col("doc_id") % 250).cast("string"),
      lit(" tel +1415"),
      lpad((col("doc_id") % 10000).cast("string"), 7, "0"),
      lit(" acct "), (lit(100000000000L) + col("doc_id")).cast("string")))
    .otherwise(col("text"))

  // single line: this fragment interpolates into stripMargin'd outer SQL,
  // where a continuation line starting with '||' would be mangled
  private val augmentedTextSql: String =
    "CASE WHEN doc_id % 3 = 0 THEN text" +
      " || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@mail.example ip 10.' || CAST(doc_id % 200 AS VARCHAR)" +
      " || '.0.' || CAST(doc_id % 250 AS VARCHAR)" +
      " || ' tel +1415' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0')" +
      " || ' acct ' || CAST(100000000000 + doc_id AS VARCHAR) " +
      "ELSE text END"

  val piiDetect: QueryFn = (s, dir) =>
    Pii.detect(
      Tables.documents(s, dir).select(col("doc_id"), augmentedText.as("text")),
      "doc_id", "text")

  val piiDetectSql: String = {
    val cnt = Pii.categories.map { case (name, pat, _) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    val tot = Pii.categories
      .map { case (name, _, _) => s"n_$name" }.mkString(" + ")
    s"""WITH aug AS (SELECT doc_id, $augmentedTextSql AS text FROM documents),
       |c AS (SELECT doc_id,
       |  $cnt
       |FROM aug)
       |SELECT doc_id, n_email, n_ipv4, n_phone, n_id_number,
       |  $tot AS n_pii
       |FROM c""".stripMargin
  }

  val piiRedact: QueryFn = (s, dir) =>
    Pii.redact(
      Tables.documents(s, dir).select(col("doc_id"), augmentedText.as("text")),
      "doc_id", "text")

  val piiRedactSql: String = {
    // staged texts t0..tN mirror the kernel: each category counts on the
    // text as-of its stage, then rewrites it for the next
    val stages = Pii.categories.zipWithIndex.map {
      case ((_, pat, ph), i) =>
        s"s${i + 1} AS (SELECT doc_id, t$i, " +
          s"regexp_replace(t$i, '$pat', '$ph', 'g') AS t${i + 1}, " +
          s"CAST(len(regexp_extract_all(t$i, '$pat')) AS BIGINT) AS c${i + 1}" +
          (if (i > 0) (1 to i).map(j => s", c$j").mkString("") else "") +
          s" FROM s$i)"
    }.mkString(",\n")
    val n = Pii.categories.size
    val tot = (1 to n).map(j => s"c$j").mkString(" + ")
    s"""WITH aug AS (SELECT doc_id, $augmentedTextSql AS text FROM documents),
       |s0 AS (SELECT doc_id, text AS t0 FROM aug),
       |$stages
       |SELECT doc_id, t$n AS redacted, $tot AS n_redacted
       |FROM s$n""".stripMargin
  }

  // --------------------------------------------------- classifier evals

  /** Per-source confusion metrics for a length-threshold classifier
    * predicting lang='en' — the slice-wise eval gate (aggregate metrics
    * hide slice regressions). All counts integer; one division each.
    */
  val evalConfusion: QueryFn = (s, dir) =>
    Eval.binaryConfusion(Tables.documents(s, dir), "source",
      col("lang") === "en", col("n_chars") >= 300)

  val evalConfusionSql: String =
    """WITH c AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN lang <> 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN lang = 'en' AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN lang <> 'en' AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM documents GROUP BY source
      |)
      |SELECT source, tp, fp, fn, tn,
      |  round(CAST(tp + tn AS DOUBLE) / greatest(tp + fp + fn + tn, 1), 6) AS accuracy,
      |  round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS precision,
      |  round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall,
      |  round(CAST(2 * tp AS DOUBLE) / greatest(2 * tp + fp + fn, 1), 6) AS f1
      |FROM c""".stripMargin

  /** Per-source ROC AUC of document length as a lang='en' predictor —
    * exact tied-rank Mann–Whitney over the compressed (slice, score)
    * table; the numerator stays in integer half-units.
    */
  val evalAuc: QueryFn = (s, dir) =>
    Eval.aucBySlice(Tables.documents(s, dir), "source", "n_chars",
      col("lang") === "en")
      .select("source", "n_pos", "n_neg", "auc")

  val evalAucSql: String =
    """WITH c AS (
      |  SELECT source, n_chars AS s,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
      |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
      |), w AS (
      |  SELECT *, sum(n) OVER (PARTITION BY source ORDER BY s
      |    ROWS UNBOUNDED PRECEDING) AS cn
      |  FROM c
      |)
      |SELECT source, CAST(sum(p) AS BIGINT) AS n_pos,
      |  CAST(sum(n) AS BIGINT) AS n_neg,
      |  CASE WHEN sum(p) = 0 OR sum(n) = 0 THEN NULL
      |       ELSE round(CAST(sum(p * (2 * (cn - n) + n)) AS DOUBLE)
      |                  / (2.0 * sum(p) * sum(n)), 6) END AS auc
      |FROM w GROUP BY source""".stripMargin

  /** Per-source PR-AUC (average precision, threshold-sum form) of
    * document length as a lang='en' predictor — the imbalanced-data
    * companion to `eval_auc` over the same compressed (slice, score)
    * table (see [[graft.ext.Eval.averagePrecisionByScore]]).
    */
  val evalAucPr: QueryFn = (s, dir) =>
    Eval.averagePrecisionByScore(Tables.documents(s, dir), "source",
      "n_chars", col("lang") === "en")

  val evalAucPrSql: String =
    """WITH c AS (
      |  SELECT source, n_chars AS s,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
      |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
      |), w AS (
      |  SELECT *,
      |    sum(p) OVER (PARTITION BY source ORDER BY s DESC
      |      ROWS UNBOUNDED PRECEDING) AS cp,
      |    sum(n) OVER (PARTITION BY source ORDER BY s DESC
      |      ROWS UNBOUNDED PRECEDING) AS cn,
      |    sum(p) OVER (PARTITION BY source) AS tp
      |  FROM c
      |), t AS (
      |  SELECT source, p, n, tp,
      |    CAST(CASE WHEN tp = 0 THEN 0.0
      |         ELSE round((CAST(p AS DOUBLE) / CAST(tp AS DOUBLE))
      |                  * (CAST(cp AS DOUBLE) / CAST(cp + cn AS DOUBLE)), 6)
      |         END AS DECIMAL(30,6)) AS term
      |  FROM w
      |)
      |SELECT source, CAST(max(tp) AS BIGINT) AS n_pos,
      |  CAST(sum(n) AS BIGINT) AS n_neg,
      |  CASE WHEN max(tp) = 0 THEN 0.0
      |       ELSE round(CAST(sum(term) AS DOUBLE), 6) END AS ap
      |FROM t GROUP BY 1""".stripMargin

  /** Per-source Fleiss' kappa across THREE quality raters (char length,
    * token length, lang='en') — do independent filters agree beyond
    * chance (see [[graft.ext.Eval.fleissKappa]])? Three exact-long
    * sufficient statistics per slice, shared final expressions.
    */
  val evalFleiss: QueryFn = (s, dir) =>
    Eval.fleissKappa(Tables.documents(s, dir), "source", Seq(
      col("n_chars") >= 300,
      size(split(trim(col("text")), "\\s+")) >= 40,
      col("lang") === "en"))

  val evalFleissSql: String = {
    s"""WITH m AS (
       |  SELECT source,
       |    CAST((CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
       |       + (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40
       |          THEN 1 ELSE 0 END)
       |       + (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS mm
       |  FROM documents
       |), a AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(sum(mm * mm + (3 - mm) * (3 - mm)) AS BIGINT) AS sum_sq,
       |    CAST(sum(mm) AS BIGINT) AS s_pos
       |  FROM m GROUP BY 1
       |)
       |SELECT source, n_items, sum_sq, s_pos,
       |  ${Eval.fleissPBarExpr(3)} AS p_bar,
       |  ${Eval.fleissPeExpr(3)} AS p_e,
       |  ${Eval.fleissKappaExpr(3)} AS kappa
       |FROM a""".stripMargin
  }

  /** Per-source McNemar's test: does the 300-char length gate keep a
    * different fraction of the corpus than the 40-token gate, on the
    * SAME documents (see [[graft.ext.Eval.mcnemar]])? Two exact
    * discordant longs per slice, one shared final expression.
    */
  val evalMcnemar: QueryFn = (s, dir) =>
    Eval.mcnemar(Tables.documents(s, dir), "source",
      col("n_chars") >= 300,
      size(split(trim(col("text")), "\\s+")) >= 40)

  val evalMcnemarSql: String =
    s"""WITH j AS (
       |  SELECT source,
       |    (n_chars >= 300) AS ra,
       |    (len(regexp_split_to_array(trim(text), '\\s+')) >= 40) AS rb
       |  FROM documents
       |), a AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN rb AND NOT ra THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM j GROUP BY 1
       |)
       |SELECT source, n_items, b, c,
       |  ${Eval.mcnemarExpr} AS chi2_mcnemar
       |FROM a""".stripMargin

  /** Calibration of the hashed-feature quality classifier's sigmoid
    * score against lang='en': 10 equi-width bins, mean predicted vs
    * observed fraction. Composes the proven-replayable classifier
    * kernel; the bin means are round(6) DECIMAL sums.
    */
  val evalCalibration: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
    val scored = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("__y")),
        Seq("doc_id"))
    Eval.calibrationBins(scored, "score", col("__y"), nBins = 10)
  }

  val evalCalibrationSql: String =
    s"""WITH qc AS (
       |  SELECT q.doc_id, q.score FROM (${ExtQueries.qualityClassifierSql}) q
       |), j AS (
       |  SELECT qc.score, (d.lang = 'en') AS y
       |  FROM qc JOIN documents d USING (doc_id)
       |)
       |SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(30,6))) AS DOUBLE)
       |        / count(*), 6) AS mean_score,
       |  round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS frac_pos
       |FROM j GROUP BY 1""".stripMargin

  // ------------------------------------------------- split contamination

  /** Cross-split leakage: test-split documents sharing at least one
    * 8-token shingle with any train-split document — the leakage audit
    * between a train corpus and its held-out eval (the contamination
    * check turned inward). Splits are the deterministic mix64
    * assignment; candidate grams are 8-byte hashes (never text) in every
    * exchange, the contamination scale shape.
    */
  val splitLeakage: QueryFn = (s, dir) => {
    val split = DataOps.datasetSplit(Tables.documents(s, dir), "doc_id",
      Seq(("train", 80), ("val", 90), ("test", 100)))
    TextAnalysis.ngramOverlap(
      split.where(col("split") === "test").select("doc_id", "text"),
      split.where(col("split") === "train").select("doc_id", "text"),
      "doc_id", "text", n = 8, hashed = true)
      .where(col("n_hit") > 0)
  }

  val splitLeakageSql: String =
    s"""WITH d0 AS (SELECT doc_id AS id, text FROM documents),
       |${ExtQueries.mix64Cte("d0", "id, text")},
       |sp AS (
       |  SELECT id AS doc_id, text,
       |    CASE WHEN ((hv % 100) + 100) % 100 < 80 THEN 'train'
       |         WHEN ((hv % 100) + 100) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM hs
       |), toks AS (
       |  SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |  FROM sp WHERE split IN ('train', 'test')
       |), grams AS (
       |  SELECT DISTINCT doc_id, split, array_to_string(t[i:i+7], ' ') AS gram
       |  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS g(i)
       |), ref AS (
       |  SELECT DISTINCT gram FROM grams WHERE split = 'train'
       |)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |FROM grams g LEFT JOIN ref r USING (gram)
       |WHERE g.split = 'test'
       |GROUP BY g.doc_id
       |HAVING sum(CASE WHEN r.gram IS NOT NULL THEN 1 ELSE 0 END) > 0""".stripMargin

  // ------------------------------------------------------ release audit

  private val funnelStages: Seq[(String, Column)] = Seq(
    ("nonempty", col("text").isNotNull && trim(col("text")) =!= ""),
    ("lang_known", col("lang").isin("en", "es", "de", "fr")),
    ("min_chars", col("n_chars") >= 150),
    ("min_tokens", size(TextAnalysis.tokens(col("text"))) >= 30),
    ("max_chars", col("n_chars") <= 450))

  /** Ordered rejection funnel over the standard document quality chain —
    * one scalar aggregation, per-stage accounting rows (see
    * [[graft.ext.DataOps.filterFunnel]]).
    */
  val filterFunnelQ: QueryFn = (s, dir) =>
    DataOps.filterFunnel(Tables.documents(s, dir), funnelStages)

  val filterFunnelSql: String =
    """WITH f AS (
      |  SELECT CASE
      |    WHEN NOT coalesce(text IS NOT NULL AND trim(text) <> '', false) THEN 1
      |    WHEN NOT coalesce(lang IN ('en','es','de','fr'), false) THEN 2
      |    WHEN NOT coalesce(n_chars >= 150, false) THEN 3
      |    WHEN NOT coalesce(len(regexp_split_to_array(trim(text), '\s+')) >= 30, false) THEN 4
      |    WHEN NOT coalesce(n_chars <= 450, false) THEN 5
      |    ELSE 0 END AS ff
      |  FROM documents
      |), a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS total,
      |    CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
      |    CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
      |    CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
      |    CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS r4,
      |    CAST(sum(CASE WHEN ff = 5 THEN 1 ELSE 0 END) AS BIGINT) AS r5
      |  FROM f
      |)
      |SELECT CAST(1 AS INTEGER) AS stage, 'nonempty' AS stage_name,
      |  total AS n_in, r1 AS n_rejected, total - r1 AS n_out FROM a
      |UNION ALL SELECT 2, 'lang_known', total - r1, r2, total - r1 - r2 FROM a
      |UNION ALL SELECT 3, 'min_chars', total - r1 - r2, r3, total - r1 - r2 - r3 FROM a
      |UNION ALL SELECT 4, 'min_tokens', total - r1 - r2 - r3, r4,
      |  total - r1 - r2 - r3 - r4 FROM a
      |UNION ALL SELECT 5, 'max_chars', total - r1 - r2 - r3 - r4, r5,
      |  total - r1 - r2 - r3 - r4 - r5 FROM a""".stripMargin

  /** Per-source curriculum quartiles over (n_chars, doc_id) — the
    * difficulty-staging assignment, co-partitioned with the source key.
    */
  val curriculumNtile: QueryFn = (s, dir) =>
    DataOps.curriculumBuckets(Tables.documents(s, dir), "source",
      Seq(col("n_chars"), col("doc_id")), nBuckets = 4)
      .select("doc_id", "source", "n_chars", "bucket")

  val curriculumNtileSql: String =
    """SELECT doc_id, source, n_chars,
      |  CAST(ntile(4) OVER (PARTITION BY source
      |    ORDER BY n_chars NULLS FIRST, doc_id NULLS FIRST)
      |       AS INTEGER) AS bucket
      |FROM documents""".stripMargin

  /** Event-type Markov transition matrix (integer counts, one final
    * ratio) — see [[graft.ext.Analytics.markovTransitions]].
    */
  val tsMarkov: QueryFn = (s, dir) =>
    Analytics.markovTransitions(Tables.events(s, dir),
      "user_id", "ts", "event_id", "event_type")
      .select("from_type", "to_type", "cnt", "prob")

  val tsMarkovSql: String =
    """WITH s AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS from_type,
      |    event_type AS to_type
      |  FROM events
      |), c AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
      |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
      |), t AS (
      |  SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tt FROM c GROUP BY 1
      |)
      |SELECT c.from_type, c.to_type, c.cnt,
      |  round(CAST(c.cnt AS DOUBLE) / CAST(t.tt AS DOUBLE), 6) AS prob
      |FROM c JOIN t USING (from_type)""".stripMargin

  // ------------------------------------------------- batch 2: eval/audit

  /** Per-class metrics of a pseudo-classifier (mix64 of the vector id,
    * the hashing-trick stand-in — wiring, not weights) against the true
    * embedding labels. The confusion table is class-sized before any
    * join touches it.
    */
  val evalMulticlass: QueryFn = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("y"),
        pmod(graft.ext.HashExprs.mix64(col("vec_id")), lit(10L)).as("p"))
    graft.ext.Eval.multiclassMetrics(emb, "y", "p")
      .select("clazz", "n_true", "tp", "n_pred", "precision", "recall", "f1")
  }

  val evalMulticlassSql: String =
    s"""WITH e0 AS (SELECT vec_id AS id, label FROM embeddings),
       |${ExtQueries.mix64Cte("e0", "id, label")},
       |pr AS (
       |  SELECT CAST(label AS BIGINT) AS y, ((hv % 10) + 10) % 10 AS p FROM hs
       |), cm AS (
       |  SELECT y, p, count(*) AS c FROM pr GROUP BY 1, 2
       |), bl AS (
       |  SELECT y AS clazz, CAST(sum(c) AS BIGINT) AS n_true,
       |    CAST(sum(CASE WHEN p = y THEN c ELSE 0 END) AS BIGINT) AS tp
       |  FROM cm GROUP BY 1
       |), bp AS (
       |  SELECT p AS clazz, CAST(sum(c) AS BIGINT) AS n_pred FROM cm GROUP BY 1
       |)
       |SELECT clazz, coalesce(n_true, 0) AS n_true, coalesce(tp, 0) AS tp,
       |  coalesce(n_pred, 0) AS n_pred,
       |  round(CAST(coalesce(tp, 0) AS DOUBLE) / greatest(coalesce(n_pred, 0), 1), 6) AS precision,
       |  round(CAST(coalesce(tp, 0) AS DOUBLE) / greatest(coalesce(n_true, 0), 1), 6) AS recall,
       |  round(CAST(2 * coalesce(tp, 0) AS DOUBLE)
       |        / greatest(coalesce(n_pred, 0) + coalesce(n_true, 0), 1), 6) AS f1
       |FROM bl FULL OUTER JOIN bp USING (clazz)""".stripMargin

  /** The 1/rank reciprocal lookup shared between the kernel and the
    * oracle — ten 6-dp constants, no run-time division (the idcgExpr
    * discipline).
    */
  private val rrCaseSql: String = {
    val terms = (1 to 10).map { r =>
      s"WHEN $r THEN ${BigDecimal(1.0 / r)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)}"
    }.mkString(" ")
    s"CASE first_rel_rank $terms ELSE 0.0 END"
  }

  /** MRR@10 of exact cosine retrieval with same-label relevance, sliced
    * by the query's label — the retrieval eval that weights only the
    * first hit (NDCG weights them all). Reciprocals are 6-dp constants;
    * slice means are DECIMAL sums.
    */
  val rankMrr: QueryFn = (s, dir) => {
    val (nn, labels) = labeledTop10(s, dir)
    graft.ext.Eval.reciprocalRanks(nn, "query_id", "rank",
        col("nl") === col("ql"), k = 10)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("label")), Seq("query_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        sum(col("first_rel_rank").isNotNull.cast("long")).as("n_hit"),
        round(sum(round(col("rr"), 6).cast("decimal(30,6)")).cast("double")
          / count(lit(1)), 6).as("mrr"))
  }

  /** The 10 exact-cosine neighbours of the first 20 embeddings, each
    * with the neighbour's label `nl` and the query's label `ql`, and the
    * (vec_id, label) table.
    */
  private def labeledTop10(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.orderBy("vec_id").limit(20)
    val labels = emb.select(col("vec_id"), col("label"))
    val nn = graft.ext.Similarity.cosineTopK(queries, emb, k = 10)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), Seq("neighbor_id"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("ql")), Seq("query_id"))
    (nn, labels)
  }

  val rankMrrSql: String =
    s"""WITH q AS (SELECT * FROM embeddings ORDER BY vec_id LIMIT 20),
       |nn AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
       |                 e.vec_id ASC) AS rank
       |    FROM q, embeddings e WHERE q.vec_id <> e.vec_id
       |  ) WHERE rank <= 10
       |), fr AS (
       |  SELECT nn.query_id,
       |    min(CASE WHEN en.label = eq.label THEN nn.rank END) AS first_rel_rank
       |  FROM nn
       |  JOIN embeddings en ON en.vec_id = nn.neighbor_id
       |  JOIN embeddings eq ON eq.vec_id = nn.query_id
       |  GROUP BY 1
       |), rr AS (
       |  SELECT f.query_id, f.first_rel_rank, $rrCaseSql AS rr,
       |    CAST(e.label AS BIGINT) AS label
       |  FROM fr f JOIN embeddings e ON e.vec_id = f.query_id
       |)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(CASE WHEN first_rel_rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  round(CAST(sum(CAST(round(rr, 6) AS DECIMAL(30,6))) AS DOUBLE)
       |        / count(*), 6) AS mrr
       |FROM rr GROUP BY label""".stripMargin

  /** Unbiased pass@5 per user over the event stream (each user's events
    * are the "samples", purchases the "correct" ones) — the Codex
    * estimator 1 − Π (n−c−i)/(n−i), an ordered IEEE product both
    * engines fold identically (see [[graft.ext.Eval.passAtK]]).
    */
  val evalPassAtK: QueryFn = (s, dir) =>
    graft.ext.Eval.passAtK(Tables.events(s, dir), "user_id",
      col("event_type") === "purchase", k = 5)

  val evalPassAtKSql: String =
    """WITH g AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM events GROUP BY 1
      |)
      |SELECT user_id, n, c,
      |  CASE WHEN n - c < 5 THEN 1.0
      |       ELSE round(1.0 - list_reduce(
      |         list_prepend(CAST(1.0 AS DOUBLE),
      |           list_transform(generate_series(0, 4),
      |             i -> CAST(n - c - i AS DOUBLE) / (n - i))),
      |         (a, x) -> a * x), 6) END AS pass_at_5
      |FROM g WHERE n >= 5""".stripMargin

  /** Bradley–Terry ratings over event types (arena-style pairwise
    * ranking): each user "prefers" the type with the higher mean value —
    * compared EXACTLY via cross-multiplied scaled-long sums, no float
    * means — and the directed win counts feed 2 MM iterations
    * ([[graft.ext.Eval.bradleyTerry]]; ties contribute no match).
    */
  val evalBradleyTerry: QueryFn = (s, dir) => {
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        (sum(round(col("value"), 6).cast("decimal(30,6)")) * lit(1000000))
          .cast("long").as("sv"))
    val a = u.select(col("user_id"), col("event_type").as("ta"),
      col("cnt").as("ca"), col("sv").as("sa"))
    val b = u.select(col("user_id"), col("event_type").as("tb"),
      col("cnt").as("cb"), col("sv").as("sb"))
    val wins = a.join(b, Seq("user_id")).where(col("ta") < col("tb"))
      .withColumn("__d", col("sa") * col("cb") - col("sb") * col("ca"))
      .where(col("__d") =!= 0)
      .select(when(col("__d") > 0, col("ta")).otherwise(col("tb")).as("i"),
        when(col("__d") > 0, col("tb")).otherwise(col("ta")).as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("w"))
    graft.ext.Eval.bradleyTerry(wins, "i", "j", "w", iterations = 2)
  }

  val evalBradleyTerrySql: String = {
    def step(prev: String, out: String) =
      s"""$out AS (
         |  SELECT nn.i AS team, round(any_value(t2.wi)
         |      / CAST(sum(CAST(round(nn.n / (gi.gamma + gj.gamma), 6)
         |                 AS DECIMAL(30,6))) AS DOUBLE), 6) AS gamma
         |  FROM nn
         |  JOIN $prev gi ON gi.team = nn.i
         |  JOIN $prev gj ON gj.team = nn.j
         |  JOIN tot t2 ON t2.team = nn.i
         |  GROUP BY nn.i
         |)""".stripMargin
    s"""WITH u AS (
       |  SELECT user_id, event_type AS t, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(CAST(round(value, 6) AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS s
       |  FROM events GROUP BY 1, 2
       |), cmp AS (
       |  SELECT CASE WHEN a.s * b.c > b.s * a.c THEN a.t ELSE b.t END AS i,
       |         CASE WHEN a.s * b.c > b.s * a.c THEN b.t ELSE a.t END AS j
       |  FROM u a JOIN u b ON a.user_id = b.user_id AND a.t < b.t
       |  WHERE a.s * b.c <> b.s * a.c
       |), wns AS (
       |  SELECT i, j, CAST(count(*) AS DOUBLE) AS w FROM cmp GROUP BY 1, 2
       |), tot AS (
       |  -- all participants, zero-win teams included (gamma -> 0)
       |  SELECT t.team, coalesce(s.wi, CAST(0.0 AS DOUBLE)) AS wi
       |  FROM (SELECT i AS team FROM wns UNION SELECT j FROM wns) t
       |  LEFT JOIN (SELECT i AS team, sum(w) AS wi FROM wns GROUP BY 1) s
       |    USING (team)
       |), nn AS (
       |  SELECT i, j, sum(w) AS n FROM (
       |    SELECT i, j, w FROM wns UNION ALL SELECT j, i, w FROM wns)
       |  GROUP BY 1, 2
       |), g0 AS (
       |  SELECT team, CAST(1.0 AS DOUBLE) AS gamma FROM tot
       |), ${step("g0", "it1")}, ${step("it1", "it2")}
       |SELECT t.team, it2.gamma, CAST(t.wi AS BIGINT) AS n_wins
       |FROM it2 JOIN tot t USING (team)""".stripMargin
  }

  /** MAE/RMSE of the naive lag-1 forecaster per event type — the
    * baseline every forecasting eval reports first. Per-term round(6)
    * DECIMAL error sums; stream heads (no lag) excluded.
    */
  val evalRegression: QueryFn = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val withPred = Tables.events(s, dir)
      .withColumn("yhat", lag(col("value"), 1).over(w))
    graft.ext.Eval.regressionMetrics(withPred, "event_type", "value", "yhat")
      .select("event_type", "n", "mae", "rmse")
  }

  val evalRegressionSql: String =
    """WITH p AS (
      |  SELECT event_type, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS yhat
      |  FROM events
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(round(abs(value - yhat), 6) AS DECIMAL(30,6))) AS DOUBLE)
      |        / count(*), 6) AS mae,
      |  round(sqrt(CAST(sum(CAST(round((value - yhat) * (value - yhat), 6) AS DECIMAL(30,6))) AS DOUBLE)
      |        / count(*)), 6) AS rmse
      |FROM p WHERE yhat IS NOT NULL AND value IS NOT NULL
      |GROUP BY event_type""".stripMargin

  /** Welch's t per event type between even- and odd-id users — the
    * mean-level drift alarm (ksDrift's parametric companion); shared
    * final expression over exact sufficient statistics.
    */
  val statsWelch: QueryFn = (s, dir) =>
    Analytics.welchT(Tables.events(s, dir), "event_type", "value",
      col("user_id") % 2 === 0)

  /** Cohen's d on the same cohort split as stats_welch — the effect size
    * the t statistic lacks (see [[graft.ext.Analytics.cohensD]]).
    */
  val statsCohend: QueryFn = (s, dir) =>
    Analytics.cohensD(Tables.events(s, dir), "event_type", "value",
      col("user_id") % 2 === 0)

  val statsCohendSql: String =
    s"""WITH a AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
       |    CAST(sum(CASE WHEN user_id % 2 = 0
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sa,
       |    CAST(sum(CASE WHEN user_id % 2 = 0
       |      THEN CAST(round(value * value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS qa,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sb,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0
       |      THEN CAST(round(value * value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS qb
       |  FROM events WHERE value IS NOT NULL GROUP BY event_type
       |), g AS (
       |  SELECT *, CAST(na0 AS DOUBLE) AS na, CAST(nb0 AS DOUBLE) AS nb FROM a
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b,
       |  round(sa / na - sb / nb, 6) AS mean_diff,
       |  ${Analytics.cohensDExpr} AS cohens_d
       |FROM g
       |WHERE na0 >= 2 AND nb0 >= 2 AND ${Analytics.cohensDVarExpr} > 0.0""".stripMargin

  val statsWelchSql: String =
    s"""WITH a AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
       |    CAST(sum(CASE WHEN user_id % 2 = 0
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sa,
       |    CAST(sum(CASE WHEN user_id % 2 = 0
       |      THEN CAST(round(value * value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS qa,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sb,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0
       |      THEN CAST(round(value * value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS qb
       |  FROM events WHERE value IS NOT NULL GROUP BY event_type
       |), g AS (
       |  SELECT *, CAST(na0 AS DOUBLE) AS na, CAST(nb0 AS DOUBLE) AS nb FROM a
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b,
       |  ${Analytics.welchTExpr} AS t_welch
       |FROM g
       |WHERE na0 >= 2 AND nb0 >= 2 AND ${Analytics.welchSeExpr} > 0.0""".stripMargin

  /** Tokenizer/vocabulary OOV audit: per language, the fraction of token
    * instances outside the corpus top-1000 vocabulary (ties pinned by
    * word) — the coverage check before committing to a tokenizer vocab.
    * The vocab is a 1000-row broadcast; the corpus tokenizes ONCE.
    */
  val vocabCoverage: QueryFn = (s, dir) => {
    val toks = DataOps.parallelismFloor(Tables.documents(s, dir))
      .select(col("lang"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .where(col("word") =!= "")
      .localCheckpoint(true) // feeds vocab build AND coverage join
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("word").asc).limit(1000)
      .select(col("word"), lit(1L).as("__in"))
    toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__in").isNull.cast("long")).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  val vocabCoverageSql: String =
    """WITH toks AS (
      |  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
      |  FROM documents
      |), t2 AS (
      |  SELECT * FROM toks WHERE word <> ''
      |), v AS (
      |  SELECT word FROM (SELECT word, count(*) AS cnt FROM t2 GROUP BY 1)
      |  QUALIFY row_number() OVER (ORDER BY cnt DESC, word ASC) <= 1000
      |)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 6) AS oov_rate
      |FROM t2 LEFT JOIN v USING (word)
      |GROUP BY lang""".stripMargin

  /** Deterministic 32-way shard assignment with the balance audit — the
    * export-layout step of a 100 TB corpus write (shards = output files /
    * partitions; `load_ratio` 1.0 = perfectly even). Pure mix64
    * projection + one shard-sized aggregation.
    */
  val shardAssign: QueryFn = (s, dir) => {
    val sharded = Tables.documents(s, dir)
      .select(pmod(graft.ext.HashExprs.mix64(col("doc_id")), lit(32L))
        .as("shard"), col("n_chars"))
    val agg = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val total = agg.agg(sum(col("n_docs")).as("__t"))
    agg.crossJoin(broadcast(total))
      .withColumn("load_ratio",
        round(col("n_docs") * lit(32L) / col("__t").cast("double"), 6))
      .drop("__t")
  }

  val shardAssignSql: String =
    s"""WITH d0 AS (SELECT doc_id AS id, n_chars FROM documents),
       |${ExtQueries.mix64Cte("d0", "id, n_chars")},
       |sh AS (
       |  SELECT ((hv % 32) + 32) % 32 AS shard, n_chars FROM hs
       |), agg AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM sh GROUP BY 1
       |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tt FROM agg)
       |SELECT shard, n_docs, n_chars,
       |  round(n_docs * 32 / CAST(tt AS DOUBLE), 6) AS load_ratio
       |FROM agg, t""".stripMargin

  /** Deterministic 8-way RENDEZVOUS shard assignment with the balance
    * audit — the resize-stable companion to `shard_assign` (growing the
    * shard count moves only the keys the new shard wins; mod-N moves
    * nearly everything). See [[graft.ext.DataOps.rendezvousShard]].
    */
  val shardRendezvous: QueryFn = (s, dir) => {
    val sharded = Tables.documents(s, dir)
      .select(DataOps.rendezvousShard(col("doc_id"), 8).as("shard"),
        col("n_chars"))
    val agg = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val total = agg.agg(sum(col("n_docs")).as("__t"))
    agg.crossJoin(broadcast(total))
      .withColumn("load_ratio",
        round(col("n_docs") * lit(8L) / col("__t").cast("double"), 6))
      .drop("__t")
  }

  val shardRendezvousSql: String =
    s"""WITH e AS (
       |  SELECT doc_id, n_chars, w
       |  FROM documents CROSS JOIN (SELECT unnest(range(8)) AS w)
       |), d0 AS (
       |  SELECT doc_id, n_chars, w, doc_id * 1000003 + w AS id FROM e
       |),
       |${ExtQueries.mix64Cte("d0", "doc_id, n_chars, w")},
       |r AS (
       |  SELECT n_chars, w,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, w) AS rn
       |  FROM hs
       |), sh AS (
       |  SELECT w AS shard, n_chars FROM r WHERE rn = 1
       |), agg AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars
       |  FROM sh GROUP BY 1
       |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tt FROM agg)
       |SELECT shard, n_docs, n_chars,
       |  round(n_docs * 8 / CAST(tt AS DOUBLE), 6) AS load_ratio
       |FROM agg, t""".stripMargin

  /** Content-addressed release manifest: per source, row count, char
    * volume, and an order-independent corpus checksum (bit-XOR of each
    * document's 48-bit md5 prefix) — the audit record that detects a
    * corrupted / partial export without re-reading the corpus twice.
    * XOR is commutative, so the exchange order never matters; state is
    * one long per source.
    */
  val checksumManifest: QueryFn = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"), col("n_chars"),
        coalesce(conv(substring(md5(col("text")), 1, 12), 16, 10)
          .cast("long"), lit(0L)).as("__d"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        expr("bit_xor(__d)").as("checksum"))

  val checksumManifestSql: String =
    """WITH d AS (
      |  SELECT source, n_chars,
      |    coalesce(list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(regexp_extract_all(substr(md5(text), 1, 12), '.'),
      |          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
      |      (a, x) -> a * 16 + x), 0) AS dg
      |  FROM documents
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(bit_xor(dg) AS BIGINT) AS checksum
      |FROM d GROUP BY source""".stripMargin

  /** Sentence segmentation: each document split into terminator-delimited
    * sentences with their position — the row-level unit for sentence-
    * grade filtering/dedup (the paragraph/sentence analog of
    * `chunk_documents`' fixed-stride windows). The pattern avoids
    * lookbehind (RE2 has none): a sentence is a run of non-terminators
    * plus its trailing `[.!?]` run. Row-local Generate — zero shuffles.
    */
  val segmentSentences: QueryFn = (s, dir) =>
    TextAnalysis.segmentSentences(Tables.documents(s, dir), "doc_id")

  val segmentSentencesSql: String =
    """WITH l AS (
      |  SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS segs
      |  FROM documents
      |)
      |SELECT doc_id, CAST(i - 1 AS INTEGER) AS seg_idx,
      |  trim(segs[i]) AS sentence,
      |  CAST(length(trim(segs[i])) AS BIGINT) AS n_chars
      |FROM l, UNNEST(generate_series(1, len(segs))) AS g(i)
      |WHERE trim(segs[i]) <> ''""".stripMargin

  /** The dataset card: the one-table corpus summary published with a
    * release (counts, volume, language mix, duplication) — every value
    * an exact count or a single integer-ratio division. ONE aggregation
    * pass over the corpus (md5-distinct included), then a driver-free
    * explode of the metric rows (the filterFunnel shape).
    */
  val datasetCard: QueryFn = (s, dir) => {
    val row = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("__tok"),
        md5(col("text")).as("__dig"))
      .agg(
        count(lit(1)).as("__n"),
        countDistinct(col("source")).as("__src"),
        countDistinct(col("lang")).as("__lang"),
        sum(col("n_chars")).as("__chars"),
        sum(col("__tok")).as("__toks"),
        countDistinct(col("__dig")).as("__uniq"),
        sum((col("lang") === "en").cast("long")).as("__en"))
    val metrics = Seq(
      ("n_docs", col("__n").cast("double")),
      ("n_sources", col("__src").cast("double")),
      ("n_langs", col("__lang").cast("double")),
      ("total_chars", col("__chars").cast("double")),
      ("total_tokens", col("__toks").cast("double")),
      ("dup_docs", (col("__n") - col("__uniq")).cast("double")),
      ("mean_chars", round(col("__chars").cast("double") /
        col("__n").cast("double"), 6)),
      ("frac_en", round(col("__en").cast("double") /
        col("__n").cast("double"), 6)))
    row.select(explode(array(metrics.map { case (m, v) =>
      struct(lit(m).as("metric"), v.as("value"))
    }: _*)).as("s")).select("s.*")
  }

  val datasetCardSql: String =
    """WITH a AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(count(DISTINCT source) AS DOUBLE) AS src,
      |    CAST(count(DISTINCT lang) AS DOUBLE) AS lng,
      |    CAST(sum(n_chars) AS DOUBLE) AS chars,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE) AS toks,
      |    CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) AS dups,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS en
      |  FROM documents
      |)
      |SELECT 'n_docs' AS metric, n AS value FROM a
      |UNION ALL SELECT 'n_sources', src FROM a
      |UNION ALL SELECT 'n_langs', lng FROM a
      |UNION ALL SELECT 'total_chars', chars FROM a
      |UNION ALL SELECT 'total_tokens', toks FROM a
      |UNION ALL SELECT 'dup_docs', dups FROM a
      |UNION ALL SELECT 'mean_chars', round(chars / n, 6) FROM a
      |UNION ALL SELECT 'frac_en', round(en / n, 6) FROM a""".stripMargin

  /** Incrementally-maintained join view: the click⋈view-by-user join
    * materialized as V_old (both sides before the cutover) plus the
    * three delta terms — proven equal to the direct full join by the
    * oracle itself (which IS the direct join). The old halves never
    * re-join each other.
    */
  val joinIncremental: QueryFn = (s, dir) => {
    val ev = Tables.events(s, dir)
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    def side(tpe: String, alias: String, delta: Boolean) =
      ev.where(col("event_type") === tpe &&
          (if (delta) col("ts") >= cut else col("ts") < cut))
        .select(col("user_id"), col("event_id").as(s"${alias}_id"))
    val (aOld, aDelta) = (side("click", "a", false), side("click", "a", true))
    val (bOld, bDelta) = (side("view", "b", false), side("view", "b", true))
    aOld.join(bOld, Seq("user_id")) // V_old
      .unionByName(DataOps.incrementalJoinDelta(
        aOld, aDelta, bOld, bDelta, Seq("user_id")))
      .select("user_id", "a_id", "b_id")
  }

  val joinIncrementalSql: String =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
      |FROM (SELECT user_id, event_id FROM events WHERE event_type = 'click') a
      |JOIN (SELECT user_id, event_id FROM events WHERE event_type = 'view') b
      |USING (user_id)""".stripMargin

  /** Exact Jaccard ≥ 1/2 self-join over 5-token shingle sets via prefix
    * filtering — the exact companion to the MinHash screen (see
    * [[graft.ext.Joins.setSimilarityJoin]]).
    */
  val joinSetSimilarity: QueryFn = (s, dir) =>
    graft.ext.Joins.setSimilarityJoin(
      Tables.documents(s, dir), "doc_id", "text", n = 5, p = 1, q = 2)

  val joinSetSimilaritySql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
      |  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
      |), sz AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1
      |), cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(count(*) AS BIGINT) AS inter
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), j AS (
      |  SELECT id_a, id_b, inter, sa.n AS n_a, sb.n AS n_b,
      |    sa.n + sb.n - inter AS uni
      |  FROM cand
      |  JOIN sz sa ON sa.doc_id = id_a
      |  JOIN sz sb ON sb.doc_id = id_b
      |)
      |SELECT id_a, id_b, n_a, n_b, inter, uni,
      |  round(CAST(inter AS DOUBLE) / uni, 6) AS jac
      |FROM j WHERE 2 * inter >= uni""".stripMargin

  /** Pairwise association rules over per-user event-type baskets:
    * support, confidence, and lift for every ordered type pair — the
    * market-basket co-occurrence miner (the event-stream analog of
    * `text_collocations`' PMI). Baskets collapse to DISTINCT
    * (user, type) first, so the pair join fans out |types|² per user at
    * most; counts are integers and lift is one rounded ratio of integer
    * products.
    */
  val assocRules: QueryFn = (s, dir) => {
    val baskets = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true) // item counts AND the pair self-join
    val nUsers = baskets.select("user_id").distinct().count()
    val item = baskets.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("c"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"), Seq("user_id"))
      .where(col("a.event_type") =!= col("b.event_type"))
      .groupBy(col("a.event_type").as("ante"),
        col("b.event_type").as("cons"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(item.select(col("t").as("ante"), col("c").as("c_a"))),
        Seq("ante"))
      .join(broadcast(item.select(col("t").as("cons"), col("c").as("c_b"))),
        Seq("cons"))
      .select(col("ante"), col("cons"), col("c_ab"), col("c_a"), col("c_b"),
        round(col("c_ab").cast("double") / lit(nUsers.toDouble), 6)
          .as("support"),
        round(col("c_ab").cast("double") / col("c_a").cast("double"), 6)
          .as("confidence"),
        round((lit(nUsers) * col("c_ab")).cast("double") /
          (col("c_a") * col("c_b")).cast("double"), 6).as("lift"))
  }

  val assocRulesSql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM b),
      |item AS (
      |  SELECT event_type AS t, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
      |), p AS (
      |  SELECT a.event_type AS ante, bb.event_type AS cons,
      |    CAST(count(*) AS BIGINT) AS c_ab
      |  FROM b a JOIN b bb USING (user_id)
      |  WHERE a.event_type <> bb.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT ante, cons, c_ab, ia.c AS c_a, ib.c AS c_b,
      |  round(CAST(c_ab AS DOUBLE) / nu, 6) AS support,
      |  round(CAST(c_ab AS DOUBLE) / ia.c, 6) AS confidence,
      |  round(CAST(nu * c_ab AS DOUBLE) / (ia.c * ib.c), 6) AS lift
      |FROM p JOIN item ia ON ia.t = ante JOIN item ib ON ib.t = cons, n""".stripMargin

  /** MATCH_RECOGNIZE-style sequence pattern detection (the Trino/Flink
    * feature, Spark-first): each entity's ordered event-type stream
    * becomes a compact symbol string (the five types have distinct
    * initials), and a regex counts non-overlapping occurrences of the
    * behavioral pattern "one-or-more views, then a click, then a
    * purchase". One exchange to the entity key; the match itself is a
    * row-local codegen regex — no NFA state machine, no self-joins.
    */
  val sequencePattern: QueryFn = (s, dir) =>
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(concat_ws("", transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("c")))),
        e => e.getField("c"))).as("seq"))
      .select(col("user_id"), length(col("seq")).cast("long").as("seq_len"),
        coalesce(regexp_count(col("seq"), lit("v+cp")), lit(0))
          .cast("long").as("n_matches"))
      .where(col("n_matches") > 0)

  val sequencePatternSql: String =
    """WITH seqs AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY user_id
      |)
      |SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
      |  CAST(len(regexp_extract_all(seq, 'v+cp')) AS BIGINT) AS n_matches
      |FROM seqs
      |WHERE len(regexp_extract_all(seq, 'v+cp')) > 0""".stripMargin

  /** Data-contract gate over the documents batch: independent named
    * rules, one violation-count row each (see
    * [[graft.ext.DataOps.validateContract]]).
    */
  val validateContractQ: QueryFn = (s, dir) =>
    DataOps.validateContract(Tables.documents(s, dir), Seq(
      ("doc_id_present", col("doc_id").isNotNull),
      ("text_nonempty", col("text").isNotNull && trim(col("text")) =!= ""),
      ("lang_known", col("lang").isin("en", "es", "de", "fr", "zh")),
      ("n_chars_consistent", col("n_chars") === length(col("text"))),
      ("n_chars_range", col("n_chars").between(1, 100000))))

  val validateContractSql: String =
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN NOT coalesce(doc_id IS NOT NULL, false)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(sum(CASE WHEN NOT coalesce(text IS NOT NULL AND trim(text) <> '', false)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      |    CAST(sum(CASE WHEN NOT coalesce(lang IN ('en','es','de','fr','zh'), false)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v3,
      |    CAST(sum(CASE WHEN NOT coalesce(n_chars = length(text), false)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v4,
      |    CAST(sum(CASE WHEN NOT coalesce(n_chars BETWEEN 1 AND 100000, false)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS v5
      |  FROM documents
      |)
      |SELECT 'doc_id_present' AS rule, n AS n_rows, v1 AS n_violations,
      |  round(CAST(v1 AS DOUBLE) / greatest(n, 1), 6) AS violation_rate FROM a
      |UNION ALL SELECT 'text_nonempty', n, v2,
      |  round(CAST(v2 AS DOUBLE) / greatest(n, 1), 6) FROM a
      |UNION ALL SELECT 'lang_known', n, v3,
      |  round(CAST(v3 AS DOUBLE) / greatest(n, 1), 6) FROM a
      |UNION ALL SELECT 'n_chars_consistent', n, v4,
      |  round(CAST(v4 AS DOUBLE) / greatest(n, 1), 6) FROM a
      |UNION ALL SELECT 'n_chars_range', n, v5,
      |  round(CAST(v5 AS DOUBLE) / greatest(n, 1), 6) FROM a""".stripMargin

  /** Deterministic bootstrap of a classifier metric: 200 resamples of
    * the corpus WITH replacement — each draw a pure mix64 function of
    * (replica, slot), no RNG — and per-replica accuracy of the length
    * classifier, the distribution a confidence interval is read from.
    * Restart/engine-invariant where classical bootstrap is not; the
    * resample join is key-equi on dense doc ids (draws broadcast at this
    * replica count, corpus never reshuffles).
    */
  val evalBootstrap: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        ((col("lang") === "en") === (col("n_chars") >= 300)).as("__correct"))
    bootstrapDraws(s, docs)
      .groupBy("replica")
      .agg(count(lit(1)).as("n_drawn"),
        round(sum(col("__correct").cast("long")).cast("double") /
          count(lit(1)), 6).as("acc"))
  }

  /** 200 deterministic resamples of `docs`: each row of replica r is the
    * document at mix64(id) mod n, for id in [r·n, (r+1)·n).
    */
  private def bootstrapDraws(s: SparkSession, docs: DataFrame): DataFrame = {
    val n = docs.count()
    val B = 200L
    val draws = s.range(0, n * B).select(
      expr(s"id div $n").as("replica"),
      pmod(graft.ext.HashExprs.mix64(col("id")), lit(n)).as("doc_id"))
    draws.join(docs, Seq("doc_id"))
  }

  val evalBootstrapSql: String =
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |d0 AS (
       |  SELECT unnest(generate_series(0,
       |    (SELECT n * 200 - 1 FROM nn))) AS id
       |),
       |${ExtQueries.mix64Cte("d0", "id")},
       |draws AS (
       |  SELECT id // nn.n AS replica,
       |    ((hv % nn.n) + nn.n) % nn.n AS doc_id
       |  FROM hs, nn
       |), d AS (
       |  SELECT doc_id, ((lang = 'en') = (n_chars >= 300)) AS correct
       |  FROM documents
       |)
       |SELECT replica, CAST(count(*) AS BIGINT) AS n_drawn,
       |  round(CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS acc
       |FROM draws JOIN d USING (doc_id)
       |GROUP BY replica""".stripMargin

  /** PAIRED deterministic bootstrap of a metric DELTA: the same 200
    * mix64 resamples score BOTH classifiers (length vs token-count
    * rules for lang='en'), and each replica reports the accuracy
    * difference — the CI-of-B-minus-A distribution. Pairing is the
    * point: the shared draws cancel sampling noise the two independent
    * bootstraps would double-count (the non-AUC companion to
    * `eval_delong`).
    */
  val evalBootstrapPaired: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        ((col("lang") === "en") === (col("n_chars") >= 300))
          .cast("long").as("__ca"),
        ((col("lang") === "en") ===
          (size(graft.ext.TextAnalysis.tokens(col("text"))) >= 60))
          .cast("long").as("__cb"))
    bootstrapDraws(s, docs)
      .groupBy("replica")
      .agg(count(lit(1)).as("n_drawn"),
        round(sum(col("__ca")).cast("double") / count(lit(1)), 6)
          .as("acc_a"),
        round(sum(col("__cb")).cast("double") / count(lit(1)), 6)
          .as("acc_b"),
        round((sum(col("__ca")) - sum(col("__cb"))).cast("double") /
          count(lit(1)), 6).as("diff"))
  }

  val evalBootstrapPairedSql: String =
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |d0 AS (
       |  SELECT unnest(generate_series(0,
       |    (SELECT n * 200 - 1 FROM nn))) AS id
       |),
       |${ExtQueries.mix64Cte("d0", "id")},
       |draws AS (
       |  SELECT id // nn.n AS replica,
       |    ((hv % nn.n) + nn.n) % nn.n AS doc_id
       |  FROM hs, nn
       |), d AS (
       |  SELECT doc_id,
       |    CASE WHEN (lang = 'en') = (n_chars >= 300) THEN 1 ELSE 0 END AS ca,
       |    CASE WHEN (lang = 'en') =
       |      (len(regexp_split_to_array(trim(text), '\\s+')) >= 60)
       |      THEN 1 ELSE 0 END AS cb
       |  FROM documents
       |)
       |SELECT replica, CAST(count(*) AS BIGINT) AS n_drawn,
       |  round(CAST(sum(ca) AS DOUBLE) / count(*), 6) AS acc_a,
       |  round(CAST(sum(cb) AS DOUBLE) / count(*), 6) AS acc_b,
       |  round(CAST(sum(ca) - sum(cb) AS DOUBLE) / count(*), 6) AS diff
       |FROM draws JOIN d USING (doc_id)
       |GROUP BY replica""".stripMargin

  /** Incremental fuzzy dedup: MinHash-LSH pairs involving the latest
    * period (doc_id % 5 = 0 standing in for the new batch) — the oracle
    * is the FULL batch chain filtered to new-side pairs, proving the
    * index-probe path returns exactly the batch answer.
    */
  val dedupMinhashIncremental: QueryFn = (s, dir) =>
    graft.ext.Dedup.minhashPairsIncremental(
      Tables.documents(s, dir), col("doc_id") % 5 === 0, "doc_id", "text")

  val dedupMinhashIncrementalSql: String =
    s"""SELECT id_a, id_b FROM (
       |${ExtQueries.dedupMinhashSql}
       |) WHERE id_a % 5 = 0 OR id_b % 5 = 0""".stripMargin

  /** The period-over-period near-dup CLUSTER maintenance loop every
    * production dedup pipeline runs, as ONE composition of two green
    * primitives: the new period's LSH pairs from the index probe
    * ([[graft.ext.Dedup.minhashPairsIncremental]] — fan-out ∝ batch,
    * never corpus²) folded into the standing cluster labels with the
    * star-edge trick ([[graft.ext.Dedup.componentsIncremental]] — work
    * ∝ |labels|+|Δ|, old edges never re-touched). The standing labels
    * here are rebuilt from the full chain's old-old pairs (in
    * production they're last period's stored table); the oracle is the
    * FULL batch recompute — recursive min-label closure over ALL
    * MinHash pairs — so incremental maintenance is pinned
    * indistinguishable from recomputation, the `graph_cc_incremental`
    * playbook applied to the fuzzy-dedup graph.
    */
  val dedupClusterIncremental: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // ONE signature pass (optimization r14): the batch chain (standing
    // labels) and the incremental probe previously each re-derived the
    // full corpus's signatures from text — the corpus-scan-dominated
    // cost at 100 TB, paid twice. Both stages now read one materialized
    // signature table; the probe keeps its fan-out-∝-batch shape, and
    // the __new tag is re-derived from the id (bit-identical to tagging
    // at scan time — it is a pure function of doc_id).
    val sigs = graft.ext.Dedup.minhashSigs(docs, "doc_id", "text")
      .localCheckpoint(true)
    // ONE LSH chain (optimization r14, step 2): the standing labels need
    // the FULL pair set anyway (old-old slice), and the incremental
    // probe's output is BY CONSTRUCTION the same full chain filtered to
    // new-side pairs (the documented [[Dedup.minhashPairsIncremental]]
    // equality — `dedup_minhash_incremental`'s oracle literally pins it:
    // full chain SQL + `WHERE id_a % 5 = 0 OR id_b % 5 = 0`). So run the
    // banded/window/bucket-join chain once and slice it twice, instead
    // of paying the bucket gate + candidate join + signature verify a
    // second time for the probe. The production posture — probe a STORED
    // index without any full chain — is `dedup_cluster_stored`'s job;
    // this in-query variant rebuilds the full chain for the oracle
    // replay regardless, so sharing it is pure savings.
    val allPairs = graft.ext.Dedup.minhashPairsFromSigs(sigs)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    val basePairs = allPairs
      .where(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
    val baseLabels = graft.ext.Dedup.components(basePairs)
    val newPairs = allPairs
      .where(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
    graft.ext.Dedup.componentsIncremental(baseLabels, newPairs)
      .select(col("id"), col("cluster_id"))
  }

  val dedupClusterIncrementalSql: String =
    s"""WITH RECURSIVE mp AS MATERIALIZED (
       |  SELECT id_a, id_b FROM (
       |${ExtQueries.dedupMinhashSql}
       |  )
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM mp
       |  UNION ALL SELECT id_b, id_a FROM mp
       |), lbl(node, lab) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.dst, l.lab FROM lbl l JOIN edges e ON e.src = l.node
       |)
       |SELECT node AS id, CAST(min(lab) AS BIGINT) AS cluster_id
       |FROM lbl GROUP BY node""".stripMargin

  /** The stored-LSH-index lifecycle (the fuzzy-dedup counterpart of
    * `sketch_theta_stored`): the closed periods' signature and
    * band-posting tables are WRITTEN to parquet, and the new period
    * probes the READ-BACK index — old documents never re-read, old
    * signatures never recomputed (see
    * [[graft.ext.Dedup.minhashPairsFromStoredIndex]]). Bit-identical to
    * the from-text `dedup_minhash_incremental` by construction, so it
    * shares that oracle: the full batch chain filtered to new-side
    * pairs.
    */
  val dedupIndexStored: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // ONE signature pass over the corpus (optimization r14): the old
    // slice's store rows and the new slice's probe signatures are both
    // filters of the same materialized table — previously two separate
    // scan+signature chains (each with its own checkpoint). The store
    // contents and the probe output are bit-identical: a signature is a
    // pure row-local function of the text.
    val sigs = graft.ext.Dedup.minhashSigs(docs, "doc_id", "text")
      .localCheckpoint(true)
    val sigsOld = sigs.where(col("id") % 5 =!= 0)
    val store = graft.ext.TempStores.newStore("graft-lsh-index")
    sigsOld.write.mode("overwrite").parquet(s"$store/sigs")
    graft.ext.Dedup.bandedFromSigs(sigsOld)
      .write.mode("overwrite").parquet(s"$store/banded")
    graft.ext.Dedup.minhashPairsFromStoredIndexSigs(
      s.read.parquet(s"$store/sigs"), s.read.parquet(s"$store/banded"),
      sigs.where(col("id") % 5 === 0))
  }

  /** The FULLY-STORED cluster maintenance step — the r12 audit's last
    * "in production it's last period's stored table" disclaimer made
    * checked behavior: period N's close persists BOTH maintenance
    * states (the LSH index's signature/posting tables AND the standing
    * cluster labels) to parquet; period N+1 then probes the READ-BACK
    * index ([[graft.ext.Dedup.minhashPairsFromStoredIndex]]) and folds
    * the new pairs into the READ-BACK labels
    * ([[graft.ext.Dedup.componentsIncremental]]) — the probe+fold plan
    * reads ONLY stored state and the new batch; old text is never
    * re-read, old signatures never recomputed, old edges never
    * re-touched. The standing state is rebuilt in-query (as in
    * `dedup_index_stored`) so the oracle can replay it; the persisted
    * longs round-trip exactly and the stored-index probe is
    * bit-identical to the from-text incremental, so the output equals
    * `dedup_cluster_incremental`'s and shares its full-recompute
    * recursive-closure oracle.
    */
  val dedupClusterStored: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val store = graft.ext.TempStores.newStore("graft-cluster-store")
    // ONE signature pass over the corpus (optimization r14): the
    // persisted index rows (old slice), the standing-label batch chain
    // (full corpus), and the probe's new-slice signatures previously
    // each re-derived signatures from text — THREE scan+signature
    // chains for one corpus. All three now read one materialized
    // signature table; store contents, labels, and probe output are
    // bit-identical (a signature is a pure row-local function of the
    // text). The probe+fold still reads ONLY stored state + the new
    // batch's signatures.
    val sigs = graft.ext.Dedup.minhashSigs(docs, "doc_id", "text")
      .localCheckpoint(true)
    // period-N close: persist the index...
    val sigsOld = sigs.where(col("id") % 5 =!= 0)
    sigsOld.write.mode("overwrite").parquet(s"$store/sigs")
    graft.ext.Dedup.bandedFromSigs(sigsOld)
      .write.mode("overwrite").parquet(s"$store/banded")
    // ...and the standing labels (old-old pairs under the full-corpus
    // bucket gate — batch parity, exactly dedup_cluster_incremental's
    // base state)
    val basePairs = graft.ext.Dedup.minhashPairsFromSigs(sigs)
      .where(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
      .select(col("id_a"), col("id_b"))
    graft.ext.Dedup.components(basePairs)
      .write.mode("overwrite").parquet(s"$store/labels")
    // period N+1: probe + fold, ALL standing state read from the store
    val newPairs = graft.ext.Dedup.minhashPairsFromStoredIndexSigs(
      s.read.parquet(s"$store/sigs"), s.read.parquet(s"$store/banded"),
      sigs.where(col("id") % 5 === 0))
    graft.ext.Dedup.componentsIncremental(
        s.read.parquet(s"$store/labels"), newPairs)
      .select(col("id"), col("cluster_id"))
  }

  /** The APPEND step that closes the stored-LSH-index maintenance loop
    * (r12 verdict "What's missing #1"): period A closes and writes the
    * index; period B closes and APPENDS its signature and band-posting
    * rows to the same store — per-id rows are independent, so
    * index(A) ∪ index(B) IS index(A ∪ B), parquet append is the whole
    * merge, and A's rows are never rewritten (contrast
    * [[graft.ext.Ranking.mergeInvertedIndex]], whose per-term postings
    * must merge numerically — the LSH index appends for free); then
    * period C probes the READ-BACK merged store
    * ([[graft.ext.Dedup.minhashPairsFromStoredIndex]] — old text never
    * re-read, old signatures never recomputed, parameter contract
    * enforced in the value path). Append ≡ rebuild by construction, so
    * the probe is bit-identical to `dedup_index_stored`'s (whose old
    * side is A ∪ B built in one shot) and both share the from-text
    * `dedup_minhash_incremental` oracle.
    */
  val dedupIndexAppend: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val store = graft.ext.TempStores.newStore("graft-lsh-append")
    // ONE signature pass over the corpus (optimization r14): period A's
    // write, period B's append, and period C's probe signatures are all
    // filters of the same materialized table — previously three
    // scan+signature chains. Store contents (A's files, then B's
    // appended files) and the probe are bit-identical; the append
    // semantics (A's rows never rewritten) are unchanged — the two
    // writes stay separate parquet jobs in the same overwrite/append
    // order.
    val sigs = graft.ext.Dedup.minhashSigs(docs, "doc_id", "text")
      .localCheckpoint(true)
    // period A close: write the index
    val sigsA = sigs.where(col("id") % 5 === 1 || col("id") % 5 === 2)
    sigsA.write.mode("overwrite").parquet(s"$store/sigs")
    graft.ext.Dedup.bandedFromSigs(sigsA)
      .write.mode("overwrite").parquet(s"$store/banded")
    // period B close: APPEND — A's rows untouched, work ∝ period B
    val sigsB = sigs.where(col("id") % 5 === 3 || col("id") % 5 === 4)
    sigsB.write.mode("append").parquet(s"$store/sigs")
    graft.ext.Dedup.bandedFromSigs(sigsB)
      .write.mode("append").parquet(s"$store/banded")
    // period C probes the merged store alone
    graft.ext.Dedup.minhashPairsFromStoredIndexSigs(
      s.read.parquet(s"$store/sigs"), s.read.parquet(s"$store/banded"),
      sigs.where(col("id") % 5 === 0))
  }

  /** Chi-squared independence of language × source — the sampling-skew
    * audit (integer-numerator cells, one division each; see
    * [[graft.ext.Analytics.chi2Independence]]).
    */
  val statsChi2: QueryFn = (s, dir) =>
    Analytics.chi2Independence(Tables.documents(s, dir), "lang", "source")
      .select("n", "df", "chi2", "cramers_v")

  val statsChi2Sql: String =
    """WITH cells AS (
      |  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
      |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      |  GROUP BY 1, 2
      |), r AS (SELECT a, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |c AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(DISTINCT a) AS BIGINT) AS k,
      |    CAST(count(DISTINCT b) AS BIGINT) AS m
      |  FROM cells
      |), agg AS (
      |  SELECT any_value(t.n) AS n,
      |    (any_value(t.k) - 1) * (any_value(t.m) - 1) AS df,
      |    CAST(sum(CAST(round(
      |      (CAST(o AS DOUBLE) * t.n - CAST(rt AS DOUBLE) * ct)
      |        * (CAST(o AS DOUBLE) * t.n - CAST(rt AS DOUBLE) * ct)
      |        / (CAST(rt AS DOUBLE) * ct * t.n), 6) AS DECIMAL(30,6))) AS DOUBLE) AS chi2,
      |    least(any_value(t.k), any_value(t.m)) AS minkm
      |  FROM cells JOIN r USING (a) JOIN c USING (b), t
      |)
      |SELECT n, df, chi2,
      |  round(sqrt(chi2 / (n * (minkm - 1))), 6) AS cramers_v
      |FROM agg""".stripMargin

  /** Per-source KL divergence of the token distribution from the corpus
    * blend — the domain-shift audit behind mixture reweighting (see
    * [[graft.ext.Analytics.klFromGlobal]]).
    */
  val mixtureKl: QueryFn = (s, dir) =>
    Analytics.klFromGlobal(
      Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
        .where(col("word") =!= ""),
      "source", "word")
      .select("source", "n_obs", "kl")

  val mixtureKlSql: String =
    """WITH t2 AS (
      |  SELECT source, word FROM (
      |    SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
      |    FROM documents)
      |  WHERE word <> ''
      |), gk AS (
      |  SELECT source, word, CAST(count(*) AS BIGINT) AS o
      |  FROM t2 GROUP BY 1, 2
      |), g AS (SELECT source, CAST(sum(o) AS BIGINT) AS ng FROM gk GROUP BY 1),
      |k AS (SELECT word, CAST(sum(o) AS BIGINT) AS ok FROM gk GROUP BY 1),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM gk)
      |SELECT source, any_value(ng) AS n_obs,
      |  CAST(sum(CAST(round(
      |    (CAST(o AS DOUBLE) / ng) * ln((CAST(o AS DOUBLE) / ng)
      |      / (CAST(ok AS DOUBLE) / t.n)), 6) AS DECIMAL(30,6))) AS DOUBLE) AS kl
      |FROM gk JOIN g USING (source) JOIN k USING (word), t
      |GROUP BY source""".stripMargin

  /** l-diversity audit — k-anonymity's companion check: a quasi-id
    * group can be large enough (k) yet still leak if every member
    * shares one sensitive value, so each (lang, source) group reports
    * its size, its count of DISTINCT sensitive values (the length
    * quartile standing in for the sensitive attribute), and whether it
    * meets l=2. One aggregation to group granularity.
    */
  val anonymizeLdiv: QueryFn = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        expr("n_chars div 125").as("__sens")) // integer div == DuckDB //
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("__sens")).as("n_sensitive"))
      .withColumn("meets_l2", col("n_sensitive") >= 2)

  val anonymizeLdivSql: String =
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT n_chars // 125) AS BIGINT) AS n_sensitive,
      |  count(DISTINCT n_chars // 125) >= 2 AS meets_l2
      |FROM documents GROUP BY lang, source""".stripMargin

  /** t-closeness audit over the same (lang, source) quasi-id groups and
    * length-quartile sensitive attribute as the k/l audits — ordered
    * EMD between each group's length distribution and the corpus-wide
    * one, integer-exact numerators (see
    * [[graft.ext.DataOps.tCloseness]]).
    */
  val anonymizeT: QueryFn = (s, dir) =>
    DataOps.tCloseness(Tables.documents(s, dir), Seq("lang", "source"),
      expr("n_chars div 125"), t = 0.2)

  val anonymizeTSql: String =
    s"""WITH base AS (
       |  SELECT lang, source, n_chars // 125 AS s FROM documents
       |), gb AS (
       |  SELECT lang, source, s, CAST(count(*) AS BIGINT) AS o
       |  FROM base GROUP BY 1, 2, 3
       |), gtab AS (
       |  SELECT s, CAST(count(*) AS BIGINT) AS ob FROM base GROUP BY 1
       |), grp AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS ng
       |  FROM base GROUP BY 1, 2
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_total,
       |    CAST(count(DISTINCT s) AS BIGINT) AS m
       |  FROM base
       |), cells AS (
       |  SELECT g.lang, g.source, g.ng, gl.s, gl.ob, COALESCE(gb.o, 0) AS o
       |  FROM grp g CROSS JOIN gtab gl
       |  LEFT JOIN gb ON gb.lang = g.lang AND gb.source = g.source
       |    AND gb.s = gl.s
       |), cums AS (
       |  SELECT lang, source, ng,
       |    sum(o) OVER (PARTITION BY lang, source ORDER BY s) AS cumg,
       |    sum(ob) OVER (PARTITION BY lang, source ORDER BY s) AS cuma
       |  FROM cells
       |), agg AS (
       |  SELECT lang, source, max(ng) AS ng,
       |    sum(abs(CAST(cumg AS DECIMAL(38,0)) * t.n_total
       |      - CAST(cuma AS DECIMAL(38,0)) * ng)) AS s,
       |    max(t.m) AS m, max(t.n_total) AS n_total
       |  FROM cums, tot t GROUP BY 1, 2
       |), fin AS (
       |  SELECT lang, source, ng AS n, ${DataOps.tClosenessExpr} AS t_emd
       |  FROM agg
       |)
       |SELECT lang, source, n, t_emd, t_emd <= 0.2 AS meets_t FROM fin""".stripMargin

  /** MAP@10 of exact cosine retrieval with same-label relevance, sliced
    * by query label — completes the retrieval-eval triad (MRR weights
    * the first hit, NDCG the positions, MAP the precision profile).
    * Each precision@i is one integer ratio; slice means are DECIMAL.
    */
  val rankMap: QueryFn = (s, dir) => {
    val (nn, labels) = labeledTop10(s, dir)
    graft.ext.Eval.averagePrecision(nn, "query_id", "rank",
        col("nl") === col("ql"), k = 10)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").cast("long").as("label")), Seq("query_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(round(col("ap"), 6).cast("decimal(30,6)")).cast("double")
          / count(lit(1)), 6).as("map"))
  }

  val rankMapSql: String =
    """WITH q AS (SELECT * FROM embeddings ORDER BY vec_id LIMIT 20),
      |nn AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
      |                 e.vec_id ASC) AS rank
      |    FROM q, embeddings e WHERE q.vec_id <> e.vec_id
      |  ) WHERE rank <= 10
      |), r AS (
      |  SELECT nn.query_id, nn.rank, (en.label = eq.label) AS rel
      |  FROM nn
      |  JOIN embeddings en ON en.vec_id = nn.neighbor_id
      |  JOIN embeddings eq ON eq.vec_id = nn.query_id
      |), h AS (
      |  SELECT query_id, rank, rel,
      |    sum(CASE WHEN rel THEN 1 ELSE 0 END) OVER (PARTITION BY query_id
      |      ORDER BY rank ROWS UNBOUNDED PRECEDING) AS hits
      |  FROM r
      |), ap AS (
      |  SELECT query_id, max(hits) AS n_rel,
      |    CASE WHEN max(hits) = 0 THEN 0.0
      |         ELSE round(CAST(coalesce(sum(CASE WHEN rel THEN
      |                CAST(round(CAST(hits AS DOUBLE) / rank, 6) AS DECIMAL(30,6))
      |              END), 0) AS DOUBLE) / max(hits), 6) END AS ap
      |  FROM h GROUP BY query_id
      |)
      |SELECT CAST(e.label AS BIGINT) AS label,
      |  CAST(count(*) AS BIGINT) AS n_queries,
      |  round(CAST(sum(CAST(round(ap.ap, 6) AS DECIMAL(30,6))) AS DOUBLE)
      |        / count(*), 6) AS map
      |FROM ap JOIN embeddings e ON e.vec_id = ap.query_id
      |GROUP BY 1""".stripMargin

  /** Cohen's kappa between two quality filters (the length threshold vs
    * the hashed classifier's keep flag) — chance-corrected agreement,
    * the standard check before swapping one gate for another. Integer
    * agreement/marginal counts; po, pe, kappa are three divisions.
    */
  val evalKappa: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
    val a = docs.select(col("doc_id"), (col("n_chars") >= 300).as("ra"))
    val b = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("rb"))
    a.join(b, Seq("doc_id"))
      .agg(
        count(lit(1)).as("n"),
        sum((col("ra") && col("rb")).cast("long")).as("yy"),
        sum((col("ra") && !col("rb")).cast("long")).as("yn"),
        sum((!col("ra") && col("rb")).cast("long")).as("ny"),
        sum((!col("ra") && !col("rb")).cast("long")).as("nn"))
      .withColumn("po", round((col("yy") + col("nn")).cast("double") /
        col("n").cast("double"), 6))
      .withColumn("pe", round(
        ((col("yy") + col("yn")) * (col("yy") + col("ny")) +
         (col("ny") + col("nn")) * (col("yn") + col("nn"))).cast("double") /
        (col("n") * col("n")).cast("double"), 6))
      .withColumn("kappa",
        when(col("pe") === 1.0, lit(1.0))
          .otherwise(round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)))
  }

  val evalKappaSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, (${TextAnalysis.classifierScoreExpr} >= 0.5) AS rb
       |  FROM (
       |    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
       |      CAST(sum(((hv % 2001) + 2001) % 2001 - 1000) AS BIGINT) AS raw_score
       |    FROM (
       |      SELECT DISTINCT doc_id,
       |        CASE WHEN h >= 9223372036854775808
       |             THEN (h - 18446744073709551616)::BIGINT ELSE h::BIGINT END AS hv
       |      FROM (
       |        SELECT doc_id,
       |          list_reduce(
       |            list_prepend(14695981039346656037::HUGEINT,
       |              list_transform(regexp_extract_all(tok, '.'), c -> unicode(c)::HUGEINT)),
       |            (acc, cp) -> ((xor(acc, cp) % 4294967296) * 1099511628211::HUGEINT
       |              + (((xor(acc, cp) // 4294967296) * 1099511628211::HUGEINT) % 4294967296) * 4294967296
       |              ) % 18446744073709551616) AS h
       |        FROM (
       |          SELECT doc_id, unnest(list_filter(
       |            string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+'), x -> x != '')) AS tok
       |          FROM documents WHERE text IS NOT NULL AND trim(text) != ''))
       |    ) GROUP BY doc_id
       |  )
       |), j AS (
       |  SELECT (d.n_chars >= 300) AS ra, b.rb
       |  FROM documents d JOIN b USING (doc_id)
       |  WHERE d.text IS NOT NULL AND trim(d.text) != ''
       |), c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS yy,
       |    CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS yn,
       |    CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS ny,
       |    CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM j
       |), p AS (
       |  SELECT *, round(CAST(yy + nn AS DOUBLE) / n, 6) AS po,
       |    round(CAST((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn) AS DOUBLE)
       |          / (n * n), 6) AS pe
       |  FROM c
       |)
       |SELECT n, yy, yn, ny, nn, po, pe,
       |  CASE WHEN pe = 1.0 THEN 1.0
       |       ELSE round((po - pe) / (1.0 - pe), 6) END AS kappa
       |FROM p""".stripMargin

  /** Mann–Kendall trend statistic per event type over the compressed
    * DAILY count series: S = Σ sign pairs and Kendall tau-a — both
    * integer-exact (S is a sum of {-1,0,1}; tau is one division). The
    * pair join runs on the day-granular aggregate (≤31 rows per type at
    * any corpus size), never the raw events — the compression IS the
    * scale story.
    */
  /** Seasonal-naive forecast BACKTEST with MASE (Hyndman & Koehler
    * 2006) — the forecast-accuracy gate the ts_* smoothers were
    * missing: per event type the hourly count series splits into a
    * train window and the LAST 24 observed hours; the forecast for
    * holdout hour t is the observed count at t−24h (the seasonal-naive
    * baseline every real forecaster must beat), and the error scale is
    * the train window's one-step naive MAE, so
    * MASE = MAE_holdout(forecast) / MAE_train(naive-1) — scale-free,
    * comparable across types, < 1 means "beats naive". Pairs exist only
    * where BOTH hours were observed (gap hours don't fabricate zeros);
    * a type with zero train or zero holdout pairs still SURFACES (full
    * outer join of the two aggregates) with nulls on the missing side
    * and a null MASE, rather than silently vanishing.
    *
    * Exactness: counts are integers, both MAE numerators are exact
    * integer sums; every division is one shared half-rounded expression
    * over those integers. Types whose train naive error is zero report
    * a null MASE (undefined scale).
    *
    * Scale: one corpus aggregation to (type, hour) cells, then two
    * keyed self-joins + one group-sized join — all hour-table-sized,
    * corpus touched once.
    */
  val tsMase: QueryFn = (s, dir) => {
    val hourly = Tables.events(s, dir)
      .where(col("ts").isNotNull)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val mx = hourly.groupBy("event_type").agg(max(col("h")).as("hmax"))
    def lagged(hours: Int, as: String) = hourly.select(col("event_type"),
      (col("h") + expr(s"INTERVAL $hours HOURS")).as("h"), col("c").as(as))
    val cur = hourly.join(mx, Seq("event_type"))
    val hold = cur.join(lagged(24, "c24"), Seq("event_type", "h"))
      .where(col("h") > col("hmax") - expr("INTERVAL 24 HOURS"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_holdout"),
        sum(abs(col("c") - col("c24"))).as("sae_forecast"))
    val train = cur.join(lagged(1, "c1"), Seq("event_type", "h"))
      .where(col("h") <= col("hmax") - expr("INTERVAL 24 HOURS"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_train"),
        sum(abs(col("c") - col("c1"))).as("sae_naive"))
    // full outer (the conformal lesson, r12 verdict "What's wrong #4"
    // tail): a type with zero train pairs or zero holdout pairs still
    // surfaces — null counts/MAE on the missing side, null MASE —
    // instead of silently vanishing from the backtest readout
    hold.join(train, Seq("event_type"), "full_outer")
      .withColumn("mae_forecast", expr(Analytics.half6Sql(tsMaseMaeF)))
      .withColumn("mae_naive", expr(Analytics.half6Sql(tsMaseMaeN)))
      .withColumn("mase", expr(
        s"CASE WHEN sae_naive = 0 THEN NULL ELSE ${
          Analytics.half6Sql(tsMaseExpr)} END"))
      .select(col("event_type"), col("n_train"), col("n_holdout"),
        col("mae_naive"), col("mae_forecast"), col("mase"))
  }

  private val tsMaseMaeF =
    "CAST(sae_forecast AS DOUBLE) / CAST(n_holdout AS DOUBLE)"
  private val tsMaseMaeN =
    "CAST(sae_naive AS DOUBLE) / CAST(n_train AS DOUBLE)"
  private val tsMaseExpr =
    "(CAST(sae_forecast AS DOUBLE) * CAST(n_train AS DOUBLE)) / " +
      "(CAST(n_holdout AS DOUBLE) * CAST(sae_naive AS DOUBLE))"

  val tsMaseSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
       |), mx AS (
       |  SELECT event_type, max(h) AS hmax FROM hourly GROUP BY 1
       |), hold AS (
       |  SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_holdout,
       |    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae_forecast
       |  FROM hourly a
       |  JOIN hourly b ON b.event_type = a.event_type
       |    AND a.h = b.h + INTERVAL 24 HOUR
       |  JOIN mx ON mx.event_type = a.event_type
       |  WHERE a.h > mx.hmax - INTERVAL 24 HOUR
       |  GROUP BY 1
       |), tr AS (
       |  SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_train,
       |    CAST(sum(abs(a.c - b.c)) AS BIGINT) AS sae_naive
       |  FROM hourly a
       |  JOIN hourly b ON b.event_type = a.event_type
       |    AND a.h = b.h + INTERVAL 1 HOUR
       |  JOIN mx ON mx.event_type = a.event_type
       |  WHERE a.h <= mx.hmax - INTERVAL 24 HOUR
       |  GROUP BY 1
       |)
       |SELECT event_type, n_train, n_holdout,
       |  ${Analytics.half6Sql(tsMaseMaeN)} AS mae_naive,
       |  ${Analytics.half6Sql(tsMaseMaeF)} AS mae_forecast,
       |  CASE WHEN sae_naive = 0 THEN NULL ELSE
       |    ${Analytics.half6Sql(tsMaseExpr)} END AS mase
       |FROM hold FULL JOIN tr USING (event_type)""".stripMargin

  val tsTrend: QueryFn = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true) // both sides of the pair join
    daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        signum((col("b.x") - col("a.x")).cast("double")).cast("long").as("sg"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum(col("sg")).as("s"))
      .withColumn("tau",
        round(col("s").cast("double") / col("n_pairs").cast("double"), 6))
  }

  val tsTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s,
      |  round(CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 6) AS tau
      |FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
      |GROUP BY 1""".stripMargin

  /** Theil–Sen robust daily-volume trend slope per event type — the
    * magnitude companion to [[tsTrend]]'s Mann–Kendall tau on the same
    * day-compressed pair join (see
    * [[graft.ext.Analytics.theilSenSlope]]).
    */
  val tsTheilSen: QueryFn = (s, dir) =>
    Analytics.theilSenSlope(Tables.events(s, dir), "event_type", "ts")

  val tsTheilSenSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2
      |), p AS (
      |  SELECT a.event_type,
      |    CAST(b.x - a.x AS DOUBLE) / (b.d - a.d) AS slope,
      |    a.d AS d1, b.d AS d2
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d
      |), r AS (
      |  SELECT event_type, slope,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, d1, d2) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM p
      |)
      |SELECT event_type, n AS n_pairs, round(slope, 6) AS slope
      |FROM r WHERE rn = (n + 1) // 2""".stripMargin

  /** Population Stability Index between the train and test splits over
    * length deciles — THE production drift gate (PSI < 0.1 stable,
    * > 0.25 alarm). Bins are integer-width length buckets; bin shares
    * are exact integer ratios; each (pa − pb)·ln(pa/pb) term is
    * round(6) DECIMAL-summed (the KL discipline). Bins empty on either
    * side are excluded (the standard convention — ln would blow up;
    * with 50-char buckets over a shared corpus both sides populate).
    */
  val evalPsi: QueryFn = (s, dir) => {
    val split = DataOps.datasetSplit(Tables.documents(s, dir), "doc_id",
        Seq(("train", 80), ("val", 90), ("test", 100)))
      .where(col("split").isin("train", "test"))
      .select(col("split"), expr("n_chars div 50").as("bin"))
    val bins = split.groupBy("split", "bin").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = bins.groupBy("split").agg(sum(col("c")).as("t"))
    val wide = bins.join(broadcast(totals), Seq("split"))
      .withColumn("__p", col("c").cast("double") / col("t").cast("double"))
      .groupBy("bin")
      .agg(sum(when(col("split") === "train", col("__p"))).as("pa"),
        sum(when(col("split") === "test", col("__p"))).as("pb"))
      .where(col("pa").isNotNull && col("pb").isNotNull)
    wide.agg(count(lit(1)).as("n_bins"),
      sum(round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6)
        .cast("decimal(30,6)")).cast("double").as("psi"))
  }

  val evalPsiSql: String =
    s"""WITH d0 AS (SELECT doc_id AS id, n_chars FROM documents),
       |${ExtQueries.mix64Cte("d0", "id, n_chars")},
       |sp AS (
       |  SELECT CASE WHEN ((hv % 100) + 100) % 100 < 80 THEN 'train'
       |              WHEN ((hv % 100) + 100) % 100 < 90 THEN 'val'
       |              ELSE 'test' END AS split,
       |    n_chars // 50 AS bin
       |  FROM hs
       |), bins AS (
       |  SELECT split, bin, CAST(count(*) AS BIGINT) AS c
       |  FROM sp WHERE split IN ('train', 'test') GROUP BY 1, 2
       |), t AS (SELECT split, CAST(sum(c) AS BIGINT) AS tt FROM bins GROUP BY 1),
       |wide AS (
       |  SELECT bin,
       |    sum(CASE WHEN b.split = 'train' THEN CAST(c AS DOUBLE) / tt END) AS pa,
       |    sum(CASE WHEN b.split = 'test' THEN CAST(c AS DOUBLE) / tt END) AS pb
       |  FROM bins b JOIN t USING (split) GROUP BY bin
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_bins,
       |  CAST(sum(CAST(round((pa - pb) * ln(pa / pb), 6) AS DECIMAL(30,6)))
       |       AS DOUBLE) AS psi
       |FROM wide WHERE pa IS NOT NULL AND pb IS NOT NULL""".stripMargin

  /** Benford first-digit audit over the event values: observed share of
    * each leading digit vs the Benford expectation (6-dp constants) and
    * the total absolute deviation — the fabricated-data / corrupted-feed
    * smell test. Digit extraction is string-based (exact); shares are
    * integer ratios.
    */
  val statsBenford: QueryFn = (s, dir) => {
    // arithmetic digit extraction over the [0.1, 100) value band — no
    // string formatting (engines disagree on format rounding modes);
    // the same IEEE divisions/floors run on both sides
    val v = abs(col("value"))
    val digit = when(v >= 10.0, floor(v / 10.0))
      .when(v >= 1.0, floor(v))
      .otherwise(floor(v * 10.0))
    val counts = Tables.events(s, dir)
      .where(col("value").isNotNull && v >= 0.1 && v < 100.0)
      .select(digit.cast("long").as("d"))
      .where(col("d").between(1, 9))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("t"))
    val benford = (1 to 9).foldLeft(when(lit(false), 0.0)) {
      case (acc, dd) => acc.when(col("d") === dd,
        BigDecimal(math.log10(1.0 + 1.0 / dd))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    counts.crossJoin(broadcast(total))
      .withColumn("observed", round(col("n").cast("double") /
        col("t").cast("double"), 6))
      .withColumn("expected", benford)
      .withColumn("abs_dev", round(abs(col("observed") - col("expected")), 6))
      .select("d", "n", "observed", "expected", "abs_dev")
  }

  val statsBenfordSql: String = {
    val cases = (1 to 9).map { d =>
      s"WHEN $d THEN ${BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)}"
    }.mkString(" ")
    s"""WITH c AS (
       |  SELECT CAST(CASE WHEN abs(value) >= 10.0 THEN floor(abs(value) / 10.0)
       |              WHEN abs(value) >= 1.0 THEN floor(abs(value))
       |              ELSE floor(abs(value) * 10.0) END AS BIGINT) AS d,
       |    count(*) AS n0
       |  FROM events
       |  WHERE value IS NOT NULL AND abs(value) >= 0.1 AND abs(value) < 100.0
       |  GROUP BY 1
       |), k AS (
       |  SELECT d, CAST(n0 AS BIGINT) AS n FROM c WHERE d BETWEEN 1 AND 9
       |), t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM k)
       |SELECT d, n, round(CAST(n AS DOUBLE) / tt, 6) AS observed,
       |  CASE d $cases END AS expected,
       |  round(abs(round(CAST(n AS DOUBLE) / tt, 6) - CASE d $cases END), 6)
       |    AS abs_dev
       |FROM k, t""".stripMargin
  }

  /** Corpus BLEU-2 of a synthetic candidate (reference text with every
    * 7th token deleted) against the reference — the generated-text
    * overlap metric (see [[graft.ext.Eval.corpusBleu]]). All counts are
    * exact longs; the four derived scalars are ONE shared final
    * expression string evaluated verbatim by both engines.
    */
  val evalBleu: QueryFn = (s, dir) =>
    Eval.corpusBleu(Tables.documents(s, dir), "doc_id", "text", dropEvery = 7)

  val evalBleuSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ref
       |  FROM documents
       |), cand AS (
       |  SELECT doc_id, list(w ORDER BY i) AS cand FROM (
       |    SELECT doc_id, i, ref[i] AS w
       |    FROM toks, unnest(generate_series(1, len(ref))) s(i)
       |    WHERE i % 7 <> 0)
       |  GROUP BY 1
       |), cu AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
       |    SELECT doc_id, unnest(cand) AS g FROM cand) GROUP BY 1, 2
       |), ru AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
       |    SELECT doc_id, unnest(ref) AS g FROM toks) GROUP BY 1, 2
       |), m1 AS (
       |  SELECT CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS match1,
       |    CAST(sum(cc) AS BIGINT) AS total1
       |  FROM cu LEFT JOIN ru USING (doc_id, g)
       |), cb AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
       |    SELECT doc_id, cand[i] || ' ' || cand[i + 1] AS g
       |    FROM cand, unnest(generate_series(1, len(cand) - 1)) s(i))
       |  GROUP BY 1, 2
       |), rb AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
       |    SELECT doc_id, ref[i] || ' ' || ref[i + 1] AS g
       |    FROM toks, unnest(generate_series(1, len(ref) - 1)) s(i))
       |  GROUP BY 1, 2
       |), m2 AS (
       |  SELECT CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS match2,
       |    CAST(sum(cc) AS BIGINT) AS total2
       |  FROM cb LEFT JOIN rb USING (doc_id, g)
       |), lens AS (
       |  SELECT (SELECT CAST(sum(len(ref)) AS BIGINT) FROM toks) AS ref_len,
       |    (SELECT CAST(sum(len(cand)) AS BIGINT) FROM cand) AS cand_len
       |)
       |SELECT match1, total1, match2, total2, ref_len, cand_len,
       |  ${Eval.bleuP1Expr} AS p1,
       |  ${Eval.bleuP2Expr} AS p2,
       |  ${Eval.bleuBpExpr} AS bp,
       |  ${Eval.bleuExpr} AS bleu
       |FROM m1, m2, lens""".stripMargin

  /** Per-returnflag Spearman rank correlation between quantity and
    * extended price (see [[graft.ext.Eval.spearmanRho]]) — pinned-
    * tiebreak ranks, DECIMAL Σd², one shared ρ expression.
    */
  val evalSpearman: QueryFn = (s, dir) =>
    Eval.spearmanRho(Tables.lineitem(s, dir), "l_returnflag",
      "l_quantity", "l_extendedprice",
      // (orderkey, linenumber) is NOT unique in the synthetic table —
      // partkey+suppkey complete the total order
      Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey")))

  val evalSpearmanSql: String =
    s"""WITH r AS (
       |  SELECT l_returnflag,
       |    CAST(row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY l_quantity, l_orderkey, l_linenumber, l_partkey,
       |        l_suppkey) AS BIGINT) AS rx,
       |    CAST(row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY l_extendedprice, l_orderkey, l_linenumber, l_partkey,
       |        l_suppkey) AS BIGINT)
       |      AS ry
       |  FROM lineitem
       |), a AS (
       |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum((rx - ry) * (rx - ry)) AS DOUBLE) AS d2
       |  FROM r GROUP BY 1
       |)
       |SELECT l_returnflag, n, d2, ${Eval.spearmanExpr} AS rho FROM a""".stripMargin

  /** Corpus ROUGE-1/2 of a synthetic candidate (reference with every 5th
    * token deleted) against the reference — the recall-side companion to
    * [[evalBleu]]; a pure deletion pins precision at 1 and makes recall
    * measure exactly the deletion loss (see [[graft.ext.Eval.corpusRouge]]).
    */
  val evalRouge: QueryFn = (s, dir) =>
    Eval.corpusRouge(Tables.documents(s, dir), "doc_id", "text", dropEvery = 5)

  val evalRougeSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ref
       |  FROM documents
       |), cand AS (
       |  SELECT doc_id, list(w ORDER BY i) AS cand FROM (
       |    SELECT doc_id, i, ref[i] AS w
       |    FROM toks, unnest(generate_series(1, len(ref))) s(i)
       |    WHERE i % 5 <> 0)
       |  GROUP BY 1
       |), cu AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
       |    SELECT doc_id, unnest(cand) AS g FROM cand) GROUP BY 1, 2
       |), ru AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
       |    SELECT doc_id, unnest(ref) AS g FROM toks) GROUP BY 1, 2
       |), m1 AS (
       |  SELECT CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS match1,
       |    CAST(sum(cc) AS BIGINT) AS ctotal1
       |  FROM cu LEFT JOIN ru USING (doc_id, g)
       |), r1 AS (SELECT CAST(sum(rc) AS BIGINT) AS rtotal1 FROM ru
       |), cb AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
       |    SELECT doc_id, cand[i] || ' ' || cand[i + 1] AS g
       |    FROM cand, unnest(generate_series(1, len(cand) - 1)) s(i))
       |  GROUP BY 1, 2
       |), rb AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
       |    SELECT doc_id, ref[i] || ' ' || ref[i + 1] AS g
       |    FROM toks, unnest(generate_series(1, len(ref) - 1)) s(i))
       |  GROUP BY 1, 2
       |), m2 AS (
       |  SELECT CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS match2,
       |    CAST(sum(cc) AS BIGINT) AS ctotal2
       |  FROM cb LEFT JOIN rb USING (doc_id, g)
       |), r2 AS (SELECT CAST(sum(rc) AS BIGINT) AS rtotal2 FROM rb)
       |SELECT match1, ctotal1, rtotal1, match2, ctotal2, rtotal2,
       |  ${Eval.rougePExpr(1)} AS rouge1_p,
       |  ${Eval.rougeRExpr(1)} AS rouge1_r,
       |  ${Eval.rougeFExpr(1)} AS rouge1_f,
       |  ${Eval.rougePExpr(2)} AS rouge2_p,
       |  ${Eval.rougeRExpr(2)} AS rouge2_r,
       |  ${Eval.rougeFExpr(2)} AS rouge2_f
       |FROM m1, r1, m2, r2""".stripMargin

  /** Per-source macro-averaged token F1 (lowercased multiset overlap,
    * candidate = reference with every 4th token deleted) — the
    * SQuAD-style answer metric at corpus scale (see
    * [[graft.ext.Eval.tokenF1Macro]]).
    */
  val evalTokenF1: QueryFn = (s, dir) =>
    Eval.tokenF1Macro(Tables.documents(s, dir), "source", "doc_id", "text",
      dropEvery = 4)

  val evalTokenF1Sql: String =
    """WITH toks AS (
      |  SELECT source, doc_id,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS ref
      |  FROM documents
      |), cand AS (
      |  SELECT doc_id, list(w ORDER BY i) AS cand FROM (
      |    SELECT doc_id, i, ref[i] AS w
      |    FROM toks, unnest(generate_series(1, len(ref))) s(i)
      |    WHERE i % 4 <> 0)
      |  GROUP BY 1
      |), cu AS (
      |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
      |    SELECT doc_id, unnest(cand) AS g FROM cand) GROUP BY 1, 2
      |), ru AS (
      |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
      |    SELECT doc_id, unnest(ref) AS g FROM toks) GROUP BY 1, 2
      |), ov AS (
      |  SELECT doc_id, CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS o
      |  FROM cu LEFT JOIN ru USING (doc_id, g) GROUP BY 1
      |), pd AS (
      |  SELECT t.source, t.doc_id, CAST(len(c.cand) AS BIGINT) AS cl,
      |    CAST(len(t.ref) AS BIGINT) AS rl, coalesce(ov.o, 0) AS o
      |  FROM toks t JOIN cand c USING (doc_id) LEFT JOIN ov USING (doc_id)
      |), sc AS (
      |  SELECT source,
      |    CASE WHEN cl = 0 THEN 0.0
      |         ELSE round(CAST(o AS DOUBLE) / CAST(cl AS DOUBLE), 6) END AS p,
      |    CASE WHEN rl = 0 THEN 0.0
      |         ELSE round(CAST(o AS DOUBLE) / CAST(rl AS DOUBLE), 6) END AS r,
      |    CASE WHEN o = 0 THEN 0.0
      |         ELSE round(2.0 * CAST(o AS DOUBLE)
      |                    / CAST(cl + rl AS DOUBLE), 6) END AS f1
      |  FROM pd)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(CAST(sum(CAST(p AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6)
      |    AS macro_p,
      |  round(CAST(sum(CAST(r AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6)
      |    AS macro_r,
      |  round(CAST(sum(CAST(f1 AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6)
      |    AS macro_f1
      |FROM sc GROUP BY 1""".stripMargin

  /** Per-source Krippendorff's alpha across the SAME three boolean
    * quality raters as [[evalFleiss]] — the coincidence-matrix agreement
    * coefficient, reported alongside kappa because the two diverge on
    * small slices (see [[graft.ext.Eval.krippendorffAlpha]]).
    */
  val evalKrippendorff: QueryFn = (s, dir) =>
    Eval.krippendorffAlpha(Tables.documents(s, dir), "source", Seq(
      col("n_chars") >= 300,
      size(split(trim(col("text")), "\\s+")) >= 40,
      col("lang") === "en"))

  val evalKrippendorffSql: String =
    s"""WITH m AS (
       |  SELECT source,
       |    CAST((CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
       |       + (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) >= 40
       |          THEN 1 ELSE 0 END)
       |       + (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS o
       |  FROM documents
       |), a AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_items,
       |    CAST(sum(o) AS BIGINT) AS s_pos,
       |    CAST(sum(o * (3 - o)) AS BIGINT) AS spair
       |  FROM m GROUP BY 1
       |)
       |SELECT source, n_items, s_pos, spair,
       |  ${Eval.krippendorffExpr(3)} AS alpha
       |FROM a""".stripMargin

  /** Per-source Brier score of the heuristic quality classifier against
    * the lang='en' label — the proper-scoring-rule companion to
    * [[evalCalibration]] over the same scored corpus (see
    * [[graft.ext.Eval.brierScore]]).
    */
  val evalBrier: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
    val scored = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").as("__y")), Seq("doc_id"))
    Eval.brierScore(scored, "source", "score", col("__y"))
  }

  val evalBrierSql: String =
    s"""WITH qc AS (
       |  SELECT q.doc_id, q.score FROM (${ExtQueries.qualityClassifierSql}) q
       |), j AS (
       |  SELECT d.source, qc.score, (d.lang = 'en') AS y
       |  FROM qc JOIN documents d USING (doc_id)
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(round(
       |          pow(score - CASE WHEN y THEN 1.0 ELSE 0.0 END, 2), 6)
       |        AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS brier
       |FROM j GROUP BY 1""".stripMargin

  /** Exact binomial sign test on each (event_type, user-bucket) slice's
    * daily-volume movements, BH-corrected across the 20 slices at
    * q = 0.05 — the multiple-testing audit for per-slice trend alarms
    * (see [[graft.ext.Analytics.signTestBH]]). Binomial coefficients are
    * exact BIGINT folds on both engines.
    */
  val statsFdr: QueryFn = (s, dir) =>
    Analytics.signTestBH(
      Tables.events(s, dir)
        .withColumn("u_bucket", pmod(col("user_id"), lit(4L))),
      Seq("event_type", "u_bucket"), "ts", q = 0.05)

  val statsFdrSql: String = {
    // C(n_moves, j) as an in-order integer fold (each prefix is itself a
    // binomial coefficient, so every // is exact); the seed rides as a
    // prepended element (DuckDB's list_reduce has no init argument)
    val binom = "list_reduce(list_prepend(CAST(1 AS BIGINT), " +
      "list_transform(generate_series(1, j), v -> CAST(v AS BIGINT))), " +
      "(acc, i) -> acc * (n_moves - i + 1) // i)"
    def tail(lo: String, hi: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series($lo, $hi), v -> CAST(v AS BIGINT))), " +
        s"(acc, j) -> acc + $binom)"
    s"""WITH ev AS (
       |  SELECT event_type, user_id % 4 AS u_bucket, CAST(ts AS DATE) AS d
       |  FROM events
       |), daily AS (
       |  SELECT event_type, u_bucket, d, CAST(count(*) AS BIGINT) AS x
       |  FROM ev GROUP BY 1, 2, 3
       |), mv AS (
       |  SELECT event_type, u_bucket,
       |    x - lag(x) OVER (PARTITION BY event_type, u_bucket ORDER BY d) AS dx
       |  FROM daily
       |), ps0 AS (
       |  SELECT event_type, u_bucket, CAST(count(*) AS BIGINT) AS n_moves,
       |    CAST(sum(CASE WHEN dx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k_up
       |  FROM mv WHERE dx IS NOT NULL AND dx <> 0 GROUP BY 1, 2
       |), ps AS (
       |  -- zero-movement slices stay in the BH family with p = 1
       |  SELECT s.event_type, s.u_bucket, coalesce(n_moves, 0) AS n_moves,
       |    coalesce(k_up, 0) AS k_up
       |  FROM (SELECT DISTINCT event_type, u_bucket FROM daily) s
       |  LEFT JOIN ps0 USING (event_type, u_bucket)
       |), wp AS (
       |  SELECT event_type, u_bucket, n_moves, k_up,
       |    CASE WHEN n_moves = 0 THEN 1.0 ELSE round(least(1.0,
       |      2.0 * CAST(least(${tail("0", "k_up")}, ${tail("k_up", "n_moves")})
       |                AS DOUBLE)
       |          / CAST(${tail("0", "n_moves")} AS DOUBLE)), 6) END AS p_value
       |  FROM ps
       |), rk AS (
       |  SELECT *,
       |    CAST(row_number() OVER (ORDER BY p_value, event_type, u_bucket)
       |      AS BIGINT) AS rank,
       |    CAST(count(*) OVER () AS BIGINT) AS m
       |  FROM wp
       |), ks AS (
       |  SELECT *, max(CASE WHEN p_value <= CAST(rank AS DOUBLE) * 0.05 / m
       |                     THEN rank ELSE 0 END) OVER () AS kstar
       |  FROM rk
       |)
       |SELECT event_type, u_bucket, n_moves, k_up, p_value, rank,
       |  round(CAST(rank AS DOUBLE) * 0.05 / m, 6) AS bh_thresh,
       |  (rank <= kstar) AS rejected
       |FROM ks""".stripMargin
  }

  /** Per-event-type single change point: the day maximizing |CUSUM| of
    * the mean-centered daily-volume series, exact integer scoring (see
    * [[graft.ext.Analytics.changepointCusum]]).
    */
  val tsChangepoint: QueryFn = (s, dir) =>
    Analytics.changepointCusum(Tables.events(s, dir), Seq("event_type"), "ts")

  val tsChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day,
      |    CAST(count(*) AS HUGEINT) AS x
      |  FROM events GROUP BY 1, 2
      |), sc AS (
      |  SELECT event_type, day,
      |    CAST(row_number() OVER w AS HUGEINT) AS t,
      |    sum(x) OVER w AS pre,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS dd,
      |    sum(x) OVER (PARTITION BY event_type) AS s
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), i AS (
      |  SELECT event_type, day, abs(dd * pre - t * s) AS c, dd
      |  FROM sc WHERE t < dd
      |)
      |SELECT event_type, day AS cp_day, CAST(dd AS BIGINT) AS n_days,
      |  round(CAST(c AS DOUBLE) / CAST(dd AS DOUBLE), 6) AS score
      |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY c DESC, day ASC) AS rn FROM i)
      |WHERE rn = 1""".stripMargin

  /** Corpus chrF (β=2, char n = 1..3) of the every-5th-token-deleted
    * candidate against the reference — the tokenizer-independent MT
    * metric completing the BLEU (precision) / ROUGE (recall) / chrF
    * (character) triad; see [[graft.ext.Eval.corpusChrf]]. Both engines
    * evaluate the identical shared final expressions over nine exact
    * longs.
    */
  val evalChrf: QueryFn = (s, dir) =>
    Eval.corpusChrf(Tables.documents(s, dir), "doc_id", "text", dropEvery = 5)

  val evalChrfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents
       |), cand AS (
       |  SELECT doc_id, string_agg(w, '' ORDER BY i) AS s FROM (
       |    SELECT doc_id, i, t[i] AS w
       |    FROM toks, unnest(generate_series(1, len(t))) sq(i)
       |    WHERE i % 5 <> 0)
       |  GROUP BY 1
       |), refs AS (
       |  SELECT doc_id, array_to_string(t, '') AS s FROM toks
       |), cu AS (
       |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS cc FROM (
       |    SELECT x.doc_id, ns.n, substr(x.s, i, ns.n) AS g
       |    FROM cand x, (VALUES (1), (2), (3)) ns(n),
       |      unnest(generate_series(1, length(x.s) - ns.n + 1)) sq(i))
       |  GROUP BY 1, 2, 3
       |), ru AS (
       |  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS rc FROM (
       |    SELECT x.doc_id, ns.n, substr(x.s, i, ns.n) AS g
       |    FROM refs x, (VALUES (1), (2), (3)) ns(n),
       |      unnest(generate_series(1, length(x.s) - ns.n + 1)) sq(i))
       |  GROUP BY 1, 2, 3
       |), m AS (
       |  SELECT n, CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS mm,
       |    CAST(sum(cc) AS BIGINT) AS ct
       |  FROM cu LEFT JOIN ru USING (doc_id, n, g) GROUP BY 1
       |), r AS (
       |  SELECT n, CAST(sum(rc) AS BIGINT) AS rt FROM ru GROUP BY 1
       |), wide AS (
       |  SELECT
       |    max(CASE WHEN n = 1 THEN mm END) AS match1,
       |    max(CASE WHEN n = 1 THEN ct END) AS ctotal1,
       |    max(CASE WHEN n = 1 THEN rt END) AS rtotal1,
       |    max(CASE WHEN n = 2 THEN mm END) AS match2,
       |    max(CASE WHEN n = 2 THEN ct END) AS ctotal2,
       |    max(CASE WHEN n = 2 THEN rt END) AS rtotal2,
       |    max(CASE WHEN n = 3 THEN mm END) AS match3,
       |    max(CASE WHEN n = 3 THEN ct END) AS ctotal3,
       |    max(CASE WHEN n = 3 THEN rt END) AS rtotal3
       |  FROM m JOIN r USING (n)
       |)
       |SELECT *, ${Eval.chrfPExpr} AS chrf_p, ${Eval.chrfRExpr} AS chrf_r,
       |  ${Eval.chrfExpr} AS chrf
       |FROM wide""".stripMargin

  /** Mann–Whitney U per event type between even- and odd-id users over
    * `value` — the rank-based companion to [[statsWelch]] (same cohorts,
    * so a level shift alarms both while a pure tail change alarms only
    * this one); see [[graft.ext.Analytics.mannWhitneyU]].
    */
  val statsMannwhitney: QueryFn = (s, dir) =>
    Analytics.mannWhitneyU(Tables.events(s, dir), "event_type", "value",
      col("user_id") % 2 === 0)

  val statsMannwhitneySql: String =
    s"""WITH comp AS (
       |  SELECT event_type, value AS v,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ca,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cb
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       |), rk AS (
       |  SELECT *, coalesce(sum(ca + cb) OVER (
       |    PARTITION BY event_type ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
       |  FROM comp
       |), g AS (
       |  SELECT event_type,
       |    CAST(sum(ca) AS BIGINT) AS na0, CAST(sum(cb) AS BIGINT) AS nb0,
       |    sum(CAST(ca AS HUGEINT) * (2 * below + ca + cb + 1)) AS r2a,
       |    sum((CAST(ca + cb AS HUGEINT) * (ca + cb) - 1) * (ca + cb)) AS ties
       |  FROM rk GROUP BY 1
       |), gg AS (
       |  SELECT event_type, na0, nb0, ties,
       |    r2a - CAST(na0 AS HUGEINT) * (na0 + 1) AS u2a,
       |    CAST(na0 AS DOUBLE) AS na, CAST(nb0 AS DOUBLE) AS nb
       |  FROM g
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b,
       |  CAST(u2a AS DOUBLE) AS u2_a, ${Analytics.mannWhitneyZExpr} AS z,
       |  ${Analytics.cliffsDeltaExpr} AS cliffs_delta
       |FROM gg
       |WHERE na0 >= 1 AND nb0 >= 1 AND ${Analytics.mannWhitneyVarExpr} > 0.0
       |""".stripMargin

  /** Per-source expected calibration error of the heuristic quality
    * classifier against the lang='en' label over 10 score bins — the
    * scalar companion to [[evalCalibration]]'s curve and [[evalBrier]]'s
    * proper score, on the same scored corpus (see
    * [[graft.ext.Eval.expectedCalibrationError]]).
    */
  val evalEce: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
    val scored = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").as("__y")), Seq("doc_id"))
    Eval.expectedCalibrationError(scored, "source", "score", col("__y"))
  }

  val evalEceSql: String =
    s"""WITH qc AS (
       |  SELECT q.doc_id, q.score FROM (${ExtQueries.qualityClassifierSql}) q
       |), j AS (
       |  SELECT d.source, qc.score, (d.lang = 'en') AS y
       |  FROM qc JOIN documents d USING (doc_id)
       |), b AS (
       |  SELECT source, CAST(least(floor(score * 10), 9.0) AS BIGINT) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |    sum(CAST(round(score, 6) AS DECIMAL(30,6))) AS s
       |  FROM j GROUP BY 1, 2
       |)
       |SELECT source, CAST(sum(n) AS BIGINT) AS n,
       |  CAST(count(*) AS BIGINT) AS n_bins_used,
       |  round(CAST(sum(abs(CAST(pos AS DECIMAL(30,6)) - s)) AS DOUBLE)
       |    / CAST(sum(n) AS DOUBLE), 6) AS ece
       |FROM b GROUP BY 1""".stripMargin

  /** Per-source Jensen–Shannon divergence of the token distribution
    * from the corpus blend — [[mixtureKl]]'s symmetric, ln2-bounded
    * companion on the same tokenization (see
    * [[graft.ext.Analytics.jsdFromGlobal]]).
    */
  val statsJsd: QueryFn = (s, dir) =>
    Analytics.jsdFromGlobal(
      Tables.documents(s, dir)
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
        .where(col("word") =!= ""),
      "source", "word")

  val statsJsdSql: String = {
    val p = "(CAST(o AS DOUBLE) / ng)"
    val q = "(CAST(ok AS DOUBLE) / t.n)"
    val m = s"(($p + $q) / 2.0)"
    s"""WITH t2 AS (
       |  SELECT source, word FROM (
       |    SELECT source,
       |      unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |    FROM documents)
       |  WHERE word <> ''
       |), gk AS (
       |  SELECT source, word, CAST(count(*) AS BIGINT) AS o
       |  FROM t2 GROUP BY 1, 2
       |), g AS (SELECT source, CAST(sum(o) AS BIGINT) AS ng FROM gk GROUP BY 1),
       |k AS (SELECT word, CAST(sum(o) AS BIGINT) AS ok FROM gk GROUP BY 1),
       |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM gk),
       |agg AS (
       |  SELECT source, any_value(ng) AS n_obs,
       |    CAST(sum(CAST(round($p * ln($p / $m), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS sa,
       |    CAST(sum(CAST(round($q * ln($q / $m), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS sb,
       |    CAST(sum(ok) AS BIGINT) AS qcov,
       |    any_value(t.n) AS n
       |  FROM gk JOIN g USING (source) JOIN k USING (word), t
       |  GROUP BY source
       |)
       |SELECT source, n_obs, ${Analytics.jsdExpr} AS jsd FROM agg""".stripMargin
  }

  /** Paired Wilcoxon signed-rank per source: does the heuristic quality
    * classifier score sit systematically above or below the
    * length-based score n_chars/450 on the SAME documents? — the paired
    * companion to [[statsMannwhitney]] (see
    * [[graft.ext.Analytics.wilcoxonSignedRank]]).
    */
  val evalWilcoxon: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
    val scored = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source"),
        (col("n_chars").cast("double") / 450.0).as("__b")), Seq("doc_id"))
    Analytics.wilcoxonSignedRank(scored, "source", "score", "__b")
  }

  val evalWilcoxonSql: String =
    s"""WITH qc AS (
       |  SELECT q.doc_id, q.score FROM (${ExtQueries.qualityClassifierSql}) q
       |), j AS (
       |  SELECT d.source,
       |    qc.score - (CAST(d.n_chars AS DOUBLE) / 450.0) AS dd
       |  FROM qc JOIN documents d USING (doc_id)
       |), comp AS (
       |  SELECT source, abs(dd) AS ad,
       |    CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |    CAST(sum(CASE WHEN dd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS cn
       |  FROM j WHERE dd <> 0 GROUP BY 1, 2
       |), rk AS (
       |  SELECT *, coalesce(sum(cp + cn) OVER (
       |    PARTITION BY source ORDER BY ad
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
       |  FROM comp
       |), g AS (
       |  SELECT source, CAST(sum(cp + cn) AS BIGINT) AS n0,
       |    CAST(sum(cp) AS BIGINT) AS n_pos,
       |    sum(CAST(cp AS HUGEINT) * (2 * below + cp + cn + 1)) AS r2p,
       |    sum((CAST(cp + cn AS HUGEINT) * (cp + cn) - 1) * (cp + cn)) AS ties
       |  FROM rk GROUP BY 1
       |), gg AS (
       |  SELECT source, n0, n_pos, r2p, ties, CAST(n0 AS DOUBLE) AS n FROM g
       |)
       |SELECT source, n0 AS n_pairs, n_pos, ${Analytics.wilcoxonZExpr} AS z
       |FROM gg WHERE n0 >= 1 AND ${Analytics.wilcoxonVarExpr} > 0.0""".stripMargin

  /** One-way ANOVA F per event type across four user buckets — the
    * k-cohort screen before pairwise Welch tests (see
    * [[graft.ext.Analytics.anovaF]]).
    */
  val statsAnova: QueryFn = (s, dir) =>
    Analytics.anovaF(Tables.events(s, dir), "event_type", "value",
      pmod(col("user_id"), lit(4L)))

  val statsAnovaSql: String =
    s"""WITH cell AS (
       |  SELECT event_type, ((user_id % 4) + 4) % 4 AS c,
       |    CAST(count(*) AS BIGINT) AS ni,
       |    sum(CAST(round(value, 6) AS DECIMAL(30,6))) AS si,
       |    sum(CAST(round(value * value, 6) AS DECIMAL(30,6))) AS qi
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       |), g AS (
       |  SELECT event_type,
       |    CAST(count(*) AS DOUBLE) AS k,
       |    CAST(sum(ni) AS BIGINT) AS n0,
       |    CAST(sum(si) AS DOUBLE) AS s,
       |    CAST(sum(qi) AS DOUBLE) AS q,
       |    CAST(sum(CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
       |        / CAST(ni AS DOUBLE), 6) AS DECIMAL(30,6))) AS DOUBLE) AS b
       |  FROM cell GROUP BY 1
       |), gg AS (SELECT *, CAST(n0 AS DOUBLE) AS n FROM g)
       |SELECT event_type, CAST(k AS BIGINT) AS n_cohorts, n0 AS n,
       |  ${Analytics.anovaFExpr} AS f_stat
       |FROM gg WHERE k >= 2.0 AND n > k AND q - b > 0.0""".stripMargin

  /** DeLong's paired AUC-difference test per source: is document LENGTH
    * or whitespace TOKEN COUNT the better lang='en' ROC predictor on the
    * same documents? (see [[graft.ext.Eval.delongAucDiff]] — the "is
    * model B actually better" significance test every eval harness needs
    * before swapping quality filters.)
    */
  val evalDelong: QueryFn = (s, dir) =>
    Eval.delongAucDiff(Tables.documents(s, dir), "source",
      col("n_chars"),
      size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long"),
      col("lang") === "en")

  val evalDelongSql: String =
    s"""WITH items AS (
       |  SELECT source AS s, CAST(n_chars AS BIGINT) AS sa,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS sb,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents
       |  WHERE n_chars IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
       |), ca AS (
       |  SELECT s, sa, CAST(sum(y) AS BIGINT) AS pp,
       |    CAST(sum(1 - y) AS BIGINT) AS nn
       |  FROM items GROUP BY 1, 2
       |), pa AS (
       |  SELECT s, sa,
       |    2 * coalesce(sum(nn) OVER (PARTITION BY s ORDER BY sa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nn AS an,
       |    2 * coalesce(sum(pp) OVER (PARTITION BY s ORDER BY sa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + pp AS ap
       |  FROM ca
       |), cb AS (
       |  SELECT s, sb, CAST(sum(y) AS BIGINT) AS pp,
       |    CAST(sum(1 - y) AS BIGINT) AS nn
       |  FROM items GROUP BY 1, 2
       |), pb AS (
       |  SELECT s, sb,
       |    2 * coalesce(sum(nn) OVER (PARTITION BY s ORDER BY sb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nn AS bn,
       |    2 * coalesce(sum(pp) OVER (PARTITION BY s ORDER BY sb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + pp AS bp
       |  FROM cb
       |), j AS (
       |  SELECT i.s, i.y, pa.an, pa.ap, pb.bn, pb.bp
       |  FROM items i
       |  JOIN pa ON pa.s = i.s AND pa.sa = i.sa
       |  JOIN pb ON pb.s = i.s AND pb.sb = i.sb
       |), g AS (
       |  SELECT s AS source,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(1 - y) AS BIGINT) AS n_neg,
       |    sum(CASE WHEN y = 1 THEN CAST(an AS HUGEINT) ELSE 0 END) AS spa0,
       |    sum(CASE WHEN y = 1 THEN CAST(bn AS HUGEINT) ELSE 0 END) AS spb0,
       |    sum(CASE WHEN y = 1 THEN CAST(an AS HUGEINT) * an ELSE 0 END) AS tpaa0,
       |    sum(CASE WHEN y = 1 THEN CAST(an AS HUGEINT) * bn ELSE 0 END) AS tpab0,
       |    sum(CASE WHEN y = 1 THEN CAST(bn AS HUGEINT) * bn ELSE 0 END) AS tpbb0,
       |    sum(CASE WHEN y = 0 THEN CAST(ap AS HUGEINT) ELSE 0 END) AS sqa0,
       |    sum(CASE WHEN y = 0 THEN CAST(bp AS HUGEINT) ELSE 0 END) AS sqb0,
       |    sum(CASE WHEN y = 0 THEN CAST(ap AS HUGEINT) * ap ELSE 0 END) AS tqaa0,
       |    sum(CASE WHEN y = 0 THEN CAST(ap AS HUGEINT) * bp ELSE 0 END) AS tqab0,
       |    sum(CASE WHEN y = 0 THEN CAST(bp AS HUGEINT) * bp ELSE 0 END) AS tqbb0
       |  FROM j GROUP BY 1
       |), gg AS (
       |  SELECT source, n_pos, n_neg,
       |    CAST(n_pos AS DOUBLE) AS m, CAST(n_neg AS DOUBLE) AS n,
       |    CAST(spa0 AS DOUBLE) AS spa, CAST(spb0 AS DOUBLE) AS spb,
       |    CAST(tpaa0 AS DOUBLE) AS tpaa, CAST(tpab0 AS DOUBLE) AS tpab,
       |    CAST(tpbb0 AS DOUBLE) AS tpbb,
       |    CAST(sqa0 AS DOUBLE) AS sqa, CAST(sqb0 AS DOUBLE) AS sqb,
       |    CAST(tqaa0 AS DOUBLE) AS tqaa, CAST(tqab0 AS DOUBLE) AS tqab,
       |    CAST(tqbb0 AS DOUBLE) AS tqbb
       |  FROM g
       |)
       |SELECT source, n_pos, n_neg,
       |  round(spa / (2.0 * m * n), 6) AS auc_a,
       |  round(spb / (2.0 * m * n), 6) AS auc_b,
       |  ${Eval.delongZExpr} AS z
       |FROM gg
       |WHERE n_pos >= 2 AND n_neg >= 2 AND ${Eval.delongVarExpr} > 0.0""".stripMargin

  /** DeLong CI for the length-predicts-English AUC per source — the
    * error bar the eval_auc point estimate ships with (see
    * [[graft.ext.Eval.delongAucCi]]).
    */
  val evalAucCi: QueryFn = (s, dir) =>
    Eval.delongAucCi(Tables.documents(s, dir), "source",
      col("n_chars"), col("lang") === "en")

  val evalAucCiSql: String =
    s"""WITH items AS (
       |  SELECT source AS s, CAST(n_chars AS BIGINT) AS sa,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
       |), ca AS (
       |  SELECT s, sa, CAST(sum(y) AS BIGINT) AS pp,
       |    CAST(sum(1 - y) AS BIGINT) AS nn
       |  FROM items GROUP BY 1, 2
       |), pa AS (
       |  SELECT s, sa,
       |    2 * coalesce(sum(nn) OVER (PARTITION BY s ORDER BY sa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + nn AS an,
       |    2 * coalesce(sum(pp) OVER (PARTITION BY s ORDER BY sa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + pp AS ap
       |  FROM ca
       |), j AS (
       |  SELECT i.s, i.y, pa.an, pa.ap
       |  FROM items i JOIN pa ON pa.s = i.s AND pa.sa = i.sa
       |), g AS (
       |  SELECT s AS source,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(1 - y) AS BIGINT) AS n_neg,
       |    sum(CASE WHEN y = 1 THEN CAST(an AS HUGEINT) ELSE 0 END) AS spa0,
       |    sum(CASE WHEN y = 1 THEN CAST(an AS HUGEINT) * an ELSE 0 END) AS tpaa0,
       |    sum(CASE WHEN y = 0 THEN CAST(ap AS HUGEINT) ELSE 0 END) AS sqa0,
       |    sum(CASE WHEN y = 0 THEN CAST(ap AS HUGEINT) * ap ELSE 0 END) AS tqaa0
       |  FROM j GROUP BY 1
       |), gg AS (
       |  SELECT source, n_pos, n_neg,
       |    CAST(n_pos AS DOUBLE) AS m, CAST(n_neg AS DOUBLE) AS n,
       |    CAST(spa0 AS DOUBLE) AS spa, CAST(tpaa0 AS DOUBLE) AS tpaa,
       |    CAST(sqa0 AS DOUBLE) AS sqa, CAST(tqaa0 AS DOUBLE) AS tqaa
       |  FROM g
       |)
       |SELECT source, n_pos, n_neg,
       |  round(spa / (2.0 * m * n), 6) AS auc,
       |  round(sqrt(${Eval.delongAucVarExpr}), 6) AS se,
       |  round(spa / (2.0 * m * n) - 1.96 * sqrt(${Eval.delongAucVarExpr}), 6) AS lo95,
       |  round(spa / (2.0 * m * n) + 1.96 * sqrt(${Eval.delongAucVarExpr}), 6) AS hi95
       |FROM gg
       |WHERE n_pos >= 2 AND n_neg >= 2 AND ${Eval.delongAucVarExpr} > 0.0""".stripMargin

  /** Deterministic permutation test: is the mean document length of
    * lang='en' docs different from the rest? 100 RNG-free label re-deals
    * (see [[graft.ext.Analytics.permutationTest]]) — the exact-inference
    * companion to stats_welch.
    */
  val statsPermutation: QueryFn = (s, dir) =>
    Analytics.permutationTest(
      Tables.documents(s, dir).where(col("lang").isNotNull),
      "doc_id", "n_chars", col("lang") === "en", b = 100)

  val statsPermutationSql: String = {
    val repDiff =
      "CAST(sa AS DOUBLE) / n_a - (CAST(st AS DOUBLE) - CAST(sa AS DOUBLE)) / n_b"
    val obsDiff =
      "CAST(sao AS DOUBLE) / n_a - (CAST(st AS DOUBLE) - CAST(sao AS DOUBLE)) / n_b"
    s"""WITH items AS (
       |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS idx,
       |    CAST(round(CAST(n_chars AS DOUBLE), 6) AS DECIMAL(30,6)) AS v,
       |    (lang = 'en') AS g
       |  FROM documents
       |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
       |), obs AS (
       |  SELECT CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    sum(CASE WHEN g THEN v ELSE 0 END) AS sao,
       |    sum(v) AS st,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM items
       |), d0 AS (
       |  SELECT unnest(generate_series(0,
       |    (SELECT n * 100 - 1 FROM obs))) AS id
       |),
       |${ExtQueries.mix64Cte("d0", "id")},
       |grid AS (
       |  SELECT id // (SELECT n FROM obs) AS r,
       |    id % (SELECT n FROM obs) AS idx, hv
       |  FROM hs
       |), asg AS (
       |  SELECT g2.r, i.v,
       |    row_number() OVER (PARTITION BY g2.r ORDER BY g2.hv, g2.idx) AS rn
       |  FROM grid g2 JOIN items i USING (idx)
       |), rep AS (
       |  SELECT r,
       |    sum(CASE WHEN rn <= (SELECT n_a FROM obs) THEN v ELSE 0 END) AS sa
       |  FROM asg GROUP BY r
       |), f AS (
       |  SELECT o.n_a, o.n_b, $repDiff AS dr, $obsDiff AS dobs
       |  FROM rep, obs o WHERE o.n_a >= 1 AND o.n_b >= 1
       |)
       |SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
       |  ${Analytics.half6Sql("any_value(dobs)")} AS diff_obs,
       |  CAST(sum(CASE WHEN abs(dr) >= abs(dobs) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ge,
       |  ${Analytics.half6Sql(
            "(CAST(sum(CASE WHEN abs(dr) >= abs(dobs) THEN 1 ELSE 0 END) AS DOUBLE) + 1.0) / 101.0")} AS p_value
       |FROM f""".stripMargin
  }

  /** Brown–Forsythe W per event type across the same four user buckets —
    * the variance-homogeneity companion to [[statsAnova]] (see
    * [[graft.ext.Analytics.brownForsythe]]): ANOVA on |x − cohort
    * median|, catching "same mean, different spread" drift.
    */
  val statsLevene: QueryFn = (s, dir) =>
    Analytics.brownForsythe(Tables.events(s, dir), "event_type", "value",
      pmod(col("user_id"), lit(4L)))

  val statsLeveneSql: String =
    s"""WITH r0 AS (
       |  SELECT event_type AS g, ((user_id % 4) + 4) % 4 AS c, value AS v
       |  FROM events WHERE value IS NOT NULL
       |), med AS (
       |  SELECT g, c, v AS med FROM (
       |    SELECT g, c, v,
       |      row_number() OVER (PARTITION BY g, c ORDER BY v) AS rn,
       |      count(*) OVER (PARTITION BY g, c) AS nn
       |    FROM r0) WHERE rn = (nn + 1) // 2
       |), dev AS (
       |  SELECT r.g, r.c, round(abs(r.v - m.med), 6) AS z
       |  FROM r0 r JOIN med m ON m.g = r.g AND m.c = r.c
       |), cell AS (
       |  SELECT g, c, CAST(count(*) AS BIGINT) AS ni,
       |    sum(CAST(z AS DECIMAL(30,6))) AS si,
       |    sum(CAST(round(z * z, 6) AS DECIMAL(30,6))) AS qi
       |  FROM dev GROUP BY 1, 2
       |), gs AS (
       |  SELECT g,
       |    CAST(count(*) AS DOUBLE) AS k,
       |    CAST(sum(ni) AS BIGINT) AS n0,
       |    CAST(sum(si) AS DOUBLE) AS s,
       |    CAST(sum(qi) AS DOUBLE) AS q,
       |    CAST(sum(CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
       |        / CAST(ni AS DOUBLE), 6) AS DECIMAL(30,6))) AS DOUBLE) AS b
       |  FROM cell GROUP BY 1
       |), gg AS (SELECT *, CAST(n0 AS DOUBLE) AS n FROM gs)
       |SELECT g AS event_type, CAST(k AS BIGINT) AS n_cohorts, n0 AS n,
       |  ${Analytics.anovaFExpr} AS w_stat
       |FROM gg WHERE k >= 2.0 AND n > k AND q - b > 0.0""".stripMargin

  /** Two-proportion z per event type: did the value≥50 success rate move
    * between even and odd user cohorts? (see
    * [[graft.ext.Analytics.twoProportionZ]] — the A/B conversion test.)
    */
  val statsProportionZ: QueryFn = (s, dir) =>
    Analytics.twoProportionZ(Tables.events(s, dir), "event_type",
      col("value") >= 50.0, pmod(col("user_id"), lit(2L)) === 0L)

  val statsProportionZSql: String = {
    val pa = "(CAST(ka AS DOUBLE) / CAST(na0 AS DOUBLE))"
    val pb = "(CAST(kb AS DOUBLE) / CAST(nb0 AS DOUBLE))"
    val pp = "(CAST(ka + kb AS DOUBLE) / CAST(na0 + nb0 AS DOUBLE))"
    s"""WITH g AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS ka,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0 AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS kb
       |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY 1
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b, ka AS k_a, kb AS k_b,
       |  ${Analytics.half6Sql("CAST(ka AS DOUBLE) / CAST(na0 AS DOUBLE)")} AS rate_a,
       |  ${Analytics.half6Sql("CAST(kb AS DOUBLE) / CAST(nb0 AS DOUBLE)")} AS rate_b,
       |  ${Analytics.half6Sql(s"($pa - $pb) / sqrt($pp * (1.0 - $pp) * " +
            "(1.0 / CAST(na0 AS DOUBLE) + 1.0 / CAST(nb0 AS DOUBLE)))")} AS z
       |FROM g
       |WHERE na0 >= 1 AND nb0 >= 1 AND ka + kb > 0
       |  AND ka + kb < na0 + nb0""".stripMargin
  }

  /** Matthews correlation per source for the same length-as-en-predictor
    * confusion as [[evalConfusion]] — the imbalance-robust verdict F1
    * can't give (see [[graft.ext.Eval.matthewsCorrelation]]).
    */
  val evalMcc: QueryFn = (s, dir) =>
    Eval.matthewsCorrelation(Tables.documents(s, dir), "source",
      col("lang") === "en", col("n_chars") >= 300)

  val evalMccSql: String =
    s"""WITH c AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN lang <> 'en' AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN lang <> 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN lang = 'en' AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
       |  GROUP BY 1
       |)
       |SELECT source, tp, tn, fp, fn, ${Eval.mccExpr} AS mcc
       |FROM c
       |WHERE tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0""".stripMargin

  /** Minimum detectable effect per event type for the SAME design as
    * `stats_proportion_z` (value≥50 success, even/odd user cohorts) —
    * the smallest rate shift those cohort sizes can detect at 5%
    * two-sided / 80% power (see
    * [[graft.ext.Analytics.minDetectableEffect]]): the number that
    * separates "no evidence" from "evidence of none".
    */
  val statsMde: QueryFn = (s, dir) =>
    Analytics.minDetectableEffect(Tables.events(s, dir), "event_type",
      col("value") >= 50.0, pmod(col("user_id"), lit(2L)) === 0L)

  val statsMdeSql: String =
    s"""WITH g AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS ka,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0 AND value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS kb
       |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY 1
       |), h AS (
       |  SELECT event_type, na0, nb0, ka, kb,
       |    ${Analytics.half6Sql(
             "CAST(ka + kb AS DOUBLE) / CAST(na0 + nb0 AS DOUBLE)")}
       |      AS pooled_rate,
       |    ${Analytics.mdeExpr} AS mde_abs
       |  FROM g
       |  WHERE na0 >= 1 AND nb0 >= 1 AND ka + kb > 0
       |    AND ka + kb < na0 + nb0
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b, ka AS k_a, kb AS k_b,
       |  pooled_rate, mde_abs,
       |  ${Analytics.half6Sql("mde_abs / pooled_rate")} AS mde_rel
       |FROM h""".stripMargin

  /** Gwet AC1 per source for the same two filters as `eval_kappa`'s
    * question class (is-English vs length≥300) — the prevalence-robust
    * agreement score (see [[graft.ext.Eval.gwetAc1]]: kappa collapses
    * on near-unanimous slices, AC1's chance term is bounded by 1/2).
    */
  val evalGwetAc1: QueryFn = (s, dir) =>
    Eval.gwetAc1(Tables.documents(s, dir)
        .where(col("lang").isNotNull && col("n_chars").isNotNull),
      "source", col("lang") === "en", col("n_chars") >= 300)

  val evalGwetAc1Sql: String =
    s"""WITH c AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS yy,
       |    CAST(sum(CASE WHEN lang = 'en' AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS yn,
       |    CAST(sum(CASE WHEN lang <> 'en' AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS ny,
       |    CAST(sum(CASE WHEN lang <> 'en' AND n_chars < 300 THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
       |  GROUP BY 1
       |)
       |SELECT source, n, yy, yn, ny, nn,
       |  ${Eval.gwetPoExpr} AS po,
       |  ${Eval.gwetPeExpr} AS pe,
       |  ${Eval.gwetAc1Expr} AS ac1
       |FROM c""".stripMargin

  /** Split-conformal calibration per source at α = 0.1 over the integer
    * size-model residual |n_chars − 6·tokens| (calibration = doc_id
    * mod 3 = 0, test = the rest — the split modulus must be COPRIME to
    * the slice key's: source is a function of doc_id mod 20, so any
    * mod-2/mod-4 split puts every test row in a source the calibration
    * never saw): the distribution-free threshold q̂ such that
    * ≥90% of unseen residuals fall below it, plus the empirical test
    * coverage — the "ship a guarantee, not a point estimate" readout
    * (see [[graft.ext.Eval.conformalThreshold]]).
    */
  val evalConformal: QueryFn = (s, dir) =>
    Eval.conformalThreshold(
      Tables.documents(s, dir)
        .where(col("text").isNotNull && col("n_chars").isNotNull)
        .select(col("source"),
          abs(col("n_chars") -
            size(TextAnalysis.tokens(col("text"))).cast("long") * 6L)
            .as("score"),
          (pmod(col("doc_id"), lit(3L)) === 0L).as("is_cal")),
      "source", col("score"), col("is_cal"), alpha = 0.1)

  val evalConformalSql: String =
    s"""WITH sc AS (
       |  SELECT source,
       |    abs(n_chars - CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) * 6) AS s,
       |    ((doc_id % 3) + 3) % 3 = 0 AS cal
       |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
       |), cells AS (
       |  SELECT source, s, CAST(count(*) AS BIGINT) AS c
       |  FROM sc WHERE cal GROUP BY 1, 2
       |), ranked AS (
       |  SELECT source, s, c,
       |    CAST(sum(c) OVER (PARTITION BY source ORDER BY s) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM cells
       |), kk AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_cal,
       |    CAST(((sum(c) + 1) * 900000 + 999999) // 1000000 AS BIGINT) AS k
       |  FROM cells GROUP BY 1
       |), q AS (
       |  SELECT r.source, CAST(min(r.s) AS BIGINT) AS qhat
       |  FROM ranked r JOIN kk USING (source)
       |  WHERE r.cum >= kk.k GROUP BY 1
       |), thr AS (
       |  SELECT kk.source, kk.n_cal, kk.k, q.qhat
       |  FROM kk LEFT JOIN q USING (source)
       |), t AS (
       |  SELECT sc.source,
       |    CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN thr.qhat IS NULL THEN NULL
       |                  WHEN sc.s <= thr.qhat THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_covered
       |  FROM sc LEFT JOIN thr USING (source) WHERE NOT cal
       |  GROUP BY 1
       |)
       |SELECT source, n_cal, k, qhat, n_test, n_covered,
       |  CASE WHEN qhat IS NULL OR n_test IS NULL THEN NULL ELSE
       |    ${Analytics.half6Sql(
             "CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)")}
       |  END AS coverage
       |FROM thr FULL JOIN t USING (source)""".stripMargin

  /** Sample-ratio mismatch per event type against a designed 50/50
    * even/odd-user split, with a PLANTED logging bug: event types
    * ≥ 'p' silently drop every third odd-cohort event (the classic
    * one-sided instrumentation loss), pushing those groups decisively
    * past the critical value (the raw synthetic user split is itself
    * mildly uneven, which is exactly what an SRM check is for) (see
    * [[graft.ext.Analytics.sampleRatioMismatch]] — on a mismatch the
    * downstream metric comparisons are invalid, full stop).
    */
  val statsSrm: QueryFn = (s, dir) =>
    Analytics.sampleRatioMismatch(
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("event_id").isNotNull)
        .where(!(col("event_type") >= "p" &&
          pmod(col("user_id"), lit(2L)) === 1L &&
          col("event_id") % 3 === 0)),
      "event_type", pmod(col("user_id"), lit(2L)) === 0L)

  val statsSrmSql: String = {
    val ea = "(CAST(na0 + nb0 AS DOUBLE) * 0.5)"
    val eb = "(CAST(na0 + nb0 AS DOUBLE) * 0.5)"
    val chi2 = s"(CAST(na0 AS DOUBLE) - $ea) * (CAST(na0 AS DOUBLE) - $ea) " +
      s"/ $ea + (CAST(nb0 AS DOUBLE) - $eb) * (CAST(nb0 AS DOUBLE) - $eb) / $eb"
    s"""WITH g AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0
       |  FROM events
       |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
       |    AND NOT (event_type >= 'p' AND ((user_id % 2) + 2) % 2 = 1
       |             AND event_id % 3 = 0)
       |  GROUP BY 1
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b,
       |  ${Analytics.half6Sql(ea)} AS expected_a,
       |  ${Analytics.half6Sql(chi2)} AS chi2,
       |  $chi2 > 3.841459 AS mismatch
       |FROM g WHERE na0 + nb0 >= 1""".stripMargin
  }

  /** Difference-in-differences per event type: even-id users are the
    * treated cohort, the month's second half is the post period — the
    * rollout/holdback causal readout under parallel trends (see
    * [[graft.ext.Analytics.diffInDiff]]).
    */
  val statsDid: QueryFn = (s, dir) =>
    Analytics.diffInDiff(
      Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull),
      "event_type", "value",
      pmod(col("user_id"), lit(2L)) === 0L, dayofmonth(col("ts")) > 15)

  val statsDidSql: String = {
    def cellN(t: String, p: String) =
      s"CAST(sum(CASE WHEN $t AND $p THEN 1 ELSE 0 END) AS BIGINT)"
    def cellS(t: String, p: String) =
      s"CAST(sum(CASE WHEN $t AND $p " +
        "THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE)"
    val tr = "((user_id % 2) + 2) % 2 = 0"
    val ct = s"NOT ($tr)"
    val po = "day(ts) > 15"
    val pr = s"NOT ($po)"
    s"""WITH g AS (
       |  SELECT event_type,
       |    ${cellN(tr, po)} AS ntp, ${cellN(tr, pr)} AS nt0,
       |    ${cellN(ct, po)} AS ncp, ${cellN(ct, pr)} AS nc0,
       |    ${cellS(tr, po)} AS stp, ${cellS(tr, pr)} AS st0,
       |    ${cellS(ct, po)} AS scp, ${cellS(ct, pr)} AS sc0
       |  FROM events
       |  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY 1
       |)
       |SELECT event_type, ntp AS n_treat_post, nt0 AS n_treat_pre,
       |  ncp AS n_ctrl_post, nc0 AS n_ctrl_pre,
       |  ${Analytics.half6Sql("stp / CAST(ntp AS DOUBLE)")} AS mean_treat_post,
       |  ${Analytics.half6Sql("st0 / CAST(nt0 AS DOUBLE)")} AS mean_treat_pre,
       |  ${Analytics.half6Sql("scp / CAST(ncp AS DOUBLE)")} AS mean_ctrl_post,
       |  ${Analytics.half6Sql("sc0 / CAST(nc0 AS DOUBLE)")} AS mean_ctrl_pre,
       |  ${Analytics.half6Sql(Analytics.didExpr)} AS did
       |FROM g
       |WHERE ntp >= 1 AND nt0 >= 1 AND ncp >= 1 AND nc0 >= 1""".stripMargin
  }

  /** CUPED per event type: each user's even-day mean value is the
    * pre-period covariate for their odd-day mean metric, cohorts =
    * even/odd user ids (see [[graft.ext.Analytics.cuped]] — the
    * variance-reduction readout every experimentation platform runs
    * before sizing an A/B test).
    */
  val statsCuped: QueryFn = (s, dir) => {
    val evenDay = dayofmonth(col("ts")) % 2 === 0
    val users = Tables.events(s, dir)
      .where(col("value").isNotNull && col("ts").isNotNull &&
        col("user_id").isNotNull)
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        sum(when(evenDay, round(col("value"), 6).cast("decimal(30,6)")))
          .as("sxd"),
        count(when(evenDay, lit(1))).as("nx"),
        sum(when(!evenDay, round(col("value"), 6).cast("decimal(30,6)")))
          .as("syd"),
        count(when(!evenDay, lit(1))).as("ny"))
      .where(col("nx") >= 1L && col("ny") >= 1L)
      .select(col("event_type"),
        (col("sxd").cast("double") / col("nx")).as("x"),
        (col("syd").cast("double") / col("ny")).as("y"),
        (pmod(col("user_id"), lit(2L)) === 0L).as("in_a"))
    Analytics.cuped(users, "event_type", "x", "y", col("in_a"))
  }

  val statsCupedSql: String = {
    val even = "day(ts) % 2 = 0"
    s"""WITH u AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN $even
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE)
       |      / sum(CASE WHEN $even THEN 1 ELSE 0 END) AS x,
       |    CAST(sum(CASE WHEN NOT ($even)
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE)
       |      / sum(CASE WHEN NOT ($even) THEN 1 ELSE 0 END) AS y,
       |    ((user_id % 2) + 2) % 2 = 0 AS ina
       |  FROM events
       |  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY event_type, user_id
       |  HAVING sum(CASE WHEN $even THEN 1 ELSE 0 END) >= 1
       |     AND sum(CASE WHEN NOT ($even) THEN 1 ELSE 0 END) >= 1
       |), g AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN NOT ina THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
       |    CAST(sum(CASE WHEN ina THEN CAST(round(x, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sxa,
       |    CAST(sum(CASE WHEN NOT ina THEN CAST(round(x, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sxb,
       |    CAST(sum(CASE WHEN ina THEN CAST(round(y, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sya,
       |    CAST(sum(CASE WHEN NOT ina THEN CAST(round(y, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS syb,
       |    CAST(sum(CAST(round(x * x, 6) AS DECIMAL(30,6))) AS DOUBLE) AS qx,
       |    CAST(sum(CAST(round(y * y, 6) AS DECIMAL(30,6))) AS DOUBLE) AS qy,
       |    CAST(sum(CAST(round(x * y, 6) AS DECIMAL(30,6))) AS DOUBLE) AS sxy
       |  FROM u GROUP BY 1
       |), gg AS (
       |  SELECT *, CAST(na0 + nb0 AS DOUBLE) AS n,
       |    CAST(na0 AS DOUBLE) AS na, CAST(nb0 AS DOUBLE) AS nb
       |  FROM g
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b,
       |  ${Analytics.half6Sql(Analytics.cupedTheta)} AS theta,
       |  ${Analytics.half6Sql(Analytics.cupedDiffRaw)} AS diff_raw,
       |  ${Analytics.half6Sql(Analytics.cupedDiffAdj)} AS diff_cuped,
       |  ${Analytics.half6Sql(Analytics.cupedRho2)} AS var_reduction
       |FROM gg
       |WHERE na0 >= 2 AND nb0 >= 2
       |  AND ${Analytics.cupedVarX} > 0.0 AND ${Analytics.cupedVarY} > 0.0""".stripMargin
  }

  /** Wald SPRT per event type over the value≥50 success stream (H0:
    * p=0.45 vs H1: p=0.55, α=β=5%) — the early-stopping readout: the
    * first event index at which the experiment could already have
    * stopped, with error rates that survive the peeking fixed-n tests
    * forbid (see [[graft.ext.Analytics.sprt]]).
    */
  val statsSprt: QueryFn = (s, dir) =>
    Analytics.sprt(Tables.events(s, dir), "event_type",
      col("value") >= 50.0, "ts", "event_id",
      p0 = 0.45, p1 = 0.55, alpha = 0.05, beta = 0.05)

  val statsSprtSql: String = {
    // the IDENTICAL driver-side constants as Analytics.sprt — both
    // engines see the same shortest-roundtrip literals
    val c1 = math.log(0.55 / 0.45)
    val c2 = math.log(0.45 / 0.55)
    val upper = math.log(0.95 / 0.05)
    val lower = math.log(0.05 / 0.95)
    val over = "OVER (PARTITION BY event_type ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val llr = s"CAST(k AS DOUBLE) * $c1 + CAST(n - k AS DOUBLE) * $c2"
    s"""WITH e AS (
       |  SELECT event_type, ts, event_id,
       |    CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS s
       |  FROM events
       |  WHERE value IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
       |), c AS (
       |  SELECT event_type,
       |    CAST(count(*) $over AS BIGINT) AS n,
       |    CAST(sum(s) $over AS BIGINT) AS k
       |  FROM e
       |), l AS (
       |  SELECT event_type, n, k, $llr AS llr FROM c
       |), x AS (
       |  SELECT event_type, CAST(min(n) AS BIGINT) AS n_decision,
       |    min_by(llr >= $upper, n) AS h1
       |  FROM l WHERE llr >= $upper OR llr <= $lower GROUP BY 1
       |), t AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(s) AS BIGINT) AS k
       |  FROM e GROUP BY 1
       |)
       |SELECT t.event_type, t.n AS n_total, t.k AS k_total,
       |  ${Analytics.half6Sql(s"CAST(t.k AS DOUBLE) * $c1 " +
            s"+ CAST(t.n - t.k AS DOUBLE) * $c2")} AS llr_final,
       |  x.n_decision,
       |  CASE WHEN x.n_decision IS NULL THEN 'continue'
       |       WHEN x.h1 THEN 'accept_h1' ELSE 'accept_h0' END AS decision
       |FROM t LEFT JOIN x USING (event_type)""".stripMargin
  }

  /** TOST equivalence per event type between even and odd user cohorts —
    * the "is the new cohort the SAME within ±5.0" gate (see
    * [[graft.ext.Analytics.tostEquivalence]]; significance tests can
    * only ever answer "different").
    */
  val statsTost: QueryFn = (s, dir) =>
    Analytics.tostEquivalence(Tables.events(s, dir), "event_type", "value",
      pmod(col("user_id"), lit(2L)) === 0L, margin = 5.0)

  val statsTostSql: String = {
    val diff = "(sa / na - sb / nb)"
    val se = s"sqrt(${Analytics.welchSeExpr})"
    s"""WITH g AS (
       |  SELECT event_type,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb0,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sa,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 = 0
       |      THEN CAST(round(value * value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS qa,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0
       |      THEN CAST(round(value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS sb,
       |    CAST(sum(CASE WHEN ((user_id % 2) + 2) % 2 <> 0
       |      THEN CAST(round(value * value, 6) AS DECIMAL(30,6)) END) AS DOUBLE) AS qb
       |  FROM events WHERE value IS NOT NULL GROUP BY 1
       |), gg AS (
       |  SELECT *, CAST(na0 AS DOUBLE) AS na, CAST(nb0 AS DOUBLE) AS nb
       |  FROM g
       |)
       |SELECT event_type, na0 AS n_a, nb0 AS n_b,
       |  ${Analytics.half6Sql(diff)} AS diff,
       |  ${Analytics.half6Sql(s"($diff + 5.0) / ($se)")} AS t_lower,
       |  ${Analytics.half6Sql(s"(5.0 - $diff) / ($se)")} AS t_upper,
       |  least(($diff + 5.0) / ($se), (5.0 - $diff) / ($se)) > 1.644854
       |    AS equivalent,
       |  na0 >= 30 AND nb0 >= 30 AS large_n
       |FROM gg
       |WHERE na0 >= 2 AND nb0 >= 2 AND ${Analytics.welchSeExpr} > 0.0""".stripMargin
  }

  /** Pairwise win rate with a Wilson 95% interval per source: does raw
    * character length beat six-characters-per-token as a size score?
    * (see [[graft.ext.Eval.winRate]] — the arena-leaderboard readout
    * with the interval leaderboards usually omit).
    */
  val evalWinrate: QueryFn = (s, dir) =>
    Eval.winRate(
      Tables.documents(s, dir).select(col("source"), col("n_chars"),
        (size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long") * 6L)
          .as("b_score")),
      "source", col("n_chars"), col("b_score"))

  val evalWinrateSql: String = {
    val lo = Eval.wilsonExpr("-")
    val hi = Eval.wilsonExpr("+")
    s"""WITH sc AS (
       |  SELECT source, n_chars AS a,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) * 6 AS b
       |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
       |), g AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN a > b THEN 1 ELSE 0 END) AS BIGINT) AS w,
       |    CAST(sum(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT) AS l,
       |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
       |  FROM sc GROUP BY 1
       |), gg AS (SELECT *, w + l AS m FROM g)
       |SELECT source, m AS n_decisive, w AS wins, n_ties,
       |  ${Analytics.half6Sql("CAST(w AS DOUBLE) / CAST(m AS DOUBLE)")}
       |    AS win_rate,
       |  $lo AS lo95, $hi AS hi95
       |FROM gg WHERE m >= 1""".stripMargin
  }

  /** Bartlett's T per event type across the same four user buckets — the
    * normal-theory variance-homogeneity test beside [[statsLevene]]'s
    * robust one (see [[graft.ext.Analytics.bartlett]]; diverging
    * Bartlett/Brown–Forsythe verdicts are themselves a non-normality
    * signal).
    */
  val statsBartlett: QueryFn = (s, dir) =>
    Analytics.bartlett(Tables.events(s, dir), "event_type", "value",
      pmod(col("user_id"), lit(4L)))

  val statsBartlettSql: String =
    s"""WITH cell AS (
       |  SELECT event_type AS g, ((user_id % 4) + 4) % 4 AS c,
       |    CAST(count(*) AS BIGINT) AS ni,
       |    sum(CAST(round(value, 6) AS DECIMAL(30,6))) AS si,
       |    sum(CAST(round(value * value, 6) AS DECIMAL(30,6))) AS qi
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       |), c2 AS (
       |  SELECT g, c, ni,
       |    CAST(round(CAST(qi AS DOUBLE) - CAST(si AS DOUBLE)
       |      * CAST(si AS DOUBLE) / CAST(ni AS DOUBLE), 6)
       |      AS DECIMAL(30,6)) AS wi
       |  FROM cell WHERE ni >= 2
       |), c3 AS (
       |  SELECT g, c, ni, wi,
       |    CAST(wi AS DOUBLE) / (CAST(ni AS DOUBLE) - 1.0) AS si2
       |  FROM c2
       |), gs AS (
       |  SELECT g, CAST(count(*) AS DOUBLE) AS k,
       |    CAST(sum(ni) AS BIGINT) AS n0,
       |    min(si2) AS minv,
       |    CAST(sum(wi) AS DOUBLE) AS w,
       |    CAST(sum(CAST(round((CAST(ni AS DOUBLE) - 1.0)
       |      * ln(CASE WHEN si2 <= 0.0 THEN 1.0 ELSE si2 END), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS lt,
       |    CAST(sum(CAST(round(1.0 / (CAST(ni AS DOUBLE) - 1.0), 6)
       |      AS DECIMAL(30,6))) AS DOUBLE) AS invs
       |  FROM c3 GROUP BY 1
       |), gg AS (SELECT *, CAST(n0 AS DOUBLE) AS n FROM gs)
       |SELECT g AS event_type, CAST(k AS BIGINT) AS n_cohorts, n0 AS n,
       |  ${Analytics.bartlettExpr} AS t_stat
       |FROM gg WHERE k >= 2.0 AND n > k AND minv > 0.0""".stripMargin

  /** Kendall τ-b per event type between hour-of-day and the integer
    * value bucket — [[evalSpearman]]'s pair-concordance companion over
    * compressed joint-frequency cells (see
    * [[graft.ext.Eval.kendallTauB]]).
    */
  val evalKendall: QueryFn = (s, dir) =>
    Eval.kendallTauB(
      Tables.events(s, dir)
        .where(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), hour(col("ts")).as("h"),
          floor(col("value")).cast("long").as("vb")),
      "event_type", "h", "vb")

  val evalKendallSql: String =
    s"""WITH cells AS (
       |  SELECT event_type AS s, CAST(hour(ts) AS BIGINT) AS x,
       |    CAST(floor(value) AS BIGINT) AS y,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1, 2, 3
       |), tot AS (
       |  SELECT s, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(c) AS HUGEINT) * (CAST(sum(c) AS HUGEINT) - 1) / 2 AS n0
       |  FROM cells GROUP BY 1
       |), tx AS (
       |  SELECT s, sum(t * (t - 1) / 2) AS n1 FROM (
       |    SELECT s, CAST(sum(c) AS HUGEINT) AS t FROM cells GROUP BY s, x)
       |  GROUP BY 1
       |), ty AS (
       |  SELECT s, sum(t * (t - 1) / 2) AS n2 FROM (
       |    SELECT s, CAST(sum(c) AS HUGEINT) AS t FROM cells GROUP BY s, y)
       |  GROUP BY 1
       |), pq AS (
       |  SELECT a.s,
       |    sum(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c
       |        ELSE 0 END) AS p,
       |    sum(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c
       |        ELSE 0 END) AS q
       |  FROM cells a JOIN cells b ON a.s = b.s AND a.x < b.x
       |  GROUP BY 1
       |), gg AS (
       |  SELECT t.s, t.n, coalesce(pq.p, 0) AS p, coalesce(pq.q, 0) AS q,
       |    t.n0, tx.n1, ty.n2
       |  FROM tot t LEFT JOIN pq ON pq.s = t.s
       |  JOIN tx ON tx.s = t.s JOIN ty ON ty.s = t.s
       |)
       |SELECT s AS event_type, n, ${Eval.kendallExpr} AS tau_b
       |FROM gg WHERE n >= 2 AND n0 > n1 AND n0 > n2""".stripMargin

  /** Kruskal–Wallis H per event type across the same four user buckets
    * as [[statsAnova]] — the nonparametric twin (see
    * [[graft.ext.Analytics.kruskalWallis]]).
    */
  val statsKruskal: QueryFn = (s, dir) =>
    Analytics.kruskalWallis(Tables.events(s, dir), "event_type", "value",
      pmod(col("user_id"), lit(4L)))

  val statsKruskalSql: String =
    s"""WITH cvc AS (
       |  SELECT event_type, value AS v, ((user_id % 4) + 4) % 4 AS c,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3
       |), tv AS (
       |  SELECT event_type, v, CAST(sum(cnt) AS BIGINT) AS t
       |  FROM cvc GROUP BY 1, 2
       |), rk AS (
       |  SELECT event_type, v, t,
       |    2 * coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + t + 1 AS r2
       |  FROM tv
       |), pc AS (
       |  SELECT cvc.event_type, cvc.c,
       |    CAST(sum(cnt) AS BIGINT) AS ni,
       |    sum(CAST(cnt AS HUGEINT) * r2) AS r2i
       |  FROM cvc JOIN rk ON cvc.event_type = rk.event_type AND cvc.v = rk.v
       |  GROUP BY 1, 2
       |), tt AS (
       |  SELECT event_type,
       |    sum((CAST(t AS HUGEINT) * t - 1) * t) AS ties
       |  FROM rk GROUP BY 1
       |), g AS (
       |  SELECT event_type, CAST(count(*) AS DOUBLE) AS k,
       |    CAST(sum(ni) AS BIGINT) AS n0,
       |    CAST(sum(CAST(round(CAST(r2i AS DOUBLE) * CAST(r2i AS DOUBLE)
       |        / CAST(ni AS DOUBLE), 6) AS DECIMAL(38,6))) AS DOUBLE) AS b
       |  FROM pc GROUP BY 1
       |), gg AS (
       |  SELECT g.event_type, k, n0, b, ties, CAST(n0 AS DOUBLE) AS n
       |  FROM g JOIN tt ON g.event_type = tt.event_type
       |)
       |SELECT event_type, CAST(k AS BIGINT) AS n_cohorts, n0 AS n,
       |  ${Analytics.kruskalHExpr} AS h
       |FROM gg WHERE k >= 2.0 AND ${Analytics.kruskalCorrExpr} > 0.0""".stripMargin

  /** Friedman test per source across three quality scorers (classifier,
    * length, token count) ranked within each document — "do the scorers
    * systematically disagree on ordering?", the k-system × n-item
    * comparison every eval harness runs (see
    * [[graft.ext.Analytics.friedmanQ]]). Scorers live on incomparable
    * scales on purpose: within-block ranking is the point.
    */
  val statsFriedman: QueryFn = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .where(col("text").isNotNull && trim(col("text")) =!= "")
    val scored = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source"),
        (col("n_chars").cast("double") / 450.0).as("__sb"),
        (size(TextAnalysis.tokens(col("text"))).cast("double") / 60.0)
          .as("__sc")), Seq("doc_id"))
    val stacked = scored.select(col("source"), col("doc_id"),
        explode(array(
          struct(lit("clf").as("trt"), col("score").as("v")),
          struct(lit("len").as("trt"), col("__sb").as("v")),
          struct(lit("tok").as("trt"), col("__sc").as("v")))).as("__e"))
      .select(col("source"), col("doc_id"),
        col("__e.trt").as("trt"), col("__e.v").as("v"))
    Analytics.friedmanQ(stacked, "source", "doc_id", "trt", "v")
  }

  val statsFriedmanSql: String =
    s"""WITH qc AS (
       |  SELECT q.doc_id, q.score FROM (${ExtQueries.qualityClassifierSql}) q
       |), base AS (
       |  SELECT d.source, d.doc_id, qc.score AS sa,
       |    CAST(d.n_chars AS DOUBLE) / 450.0 AS sb,
       |    CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS DOUBLE)
       |      / 60.0 AS sc
       |  FROM qc JOIN documents d USING (doc_id)
       |), rows_ AS (
       |  SELECT source, doc_id, 'clf' AS trt, sa AS v FROM base
       |  UNION ALL SELECT source, doc_id, 'len', sb FROM base
       |  UNION ALL SELECT source, doc_id, 'tok', sc FROM base
       |), bv AS (
       |  SELECT source, doc_id, v, CAST(count(*) AS BIGINT) AS t
       |  FROM rows_ GROUP BY 1, 2, 3
       |), rk AS (
       |  SELECT source, doc_id, v,
       |    2 * coalesce(sum(t) OVER (PARTITION BY source, doc_id ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + t + 1 AS r2
       |  FROM bv
       |), cells AS (
       |  SELECT r.source, r.doc_id, r.trt, rk.r2
       |  FROM rows_ r JOIN rk
       |    ON r.source = rk.source AND r.doc_id = rk.doc_id AND r.v = rk.v
       |), pt AS (
       |  SELECT source, trt, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(r2 AS HUGEINT)) AS r2j,
       |    sum(CAST(r2 AS HUGEINT) * r2) AS a4j
       |  FROM cells GROUP BY 1, 2
       |), g AS (
       |  SELECT source, CAST(count(*) AS DOUBLE) AS k,
       |    max(n) AS n0, min(n) AS nmin,
       |    CAST(sum(a4j) AS HUGEINT) AS a4,
       |    CAST(sum(CAST(round(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
       |        / CAST(n AS DOUBLE), 6) AS DECIMAL(38,6))) AS DOUBLE) AS b4
       |  FROM pt GROUP BY 1
       |), gg AS (
       |  SELECT source, k, n0, a4, b4, CAST(n0 AS DOUBLE) AS n,
       |    CAST(CAST(n0 AS HUGEINT) * CAST(k * (k + 1.0) * (k + 1.0)
       |      AS HUGEINT) AS HUGEINT) AS c4
       |  FROM g WHERE n0 = nmin
       |)
       |SELECT source, n0 AS n_blocks, CAST(k AS BIGINT) AS n_treatments,
       |  ${Analytics.friedmanQExpr} AS q,
       |  ${Analytics.kendallWExpr} AS kendall_w
       |FROM gg
       |WHERE k >= 2.0 AND CAST(a4 AS DOUBLE) > CAST(c4 AS DOUBLE)""".stripMargin

  /** Every query of this family, with its DuckDB oracle SQL. */
  private val registry: Map[String, (QueryFn, String)] = Map(
    "stats_friedman" -> (statsFriedman, statsFriedmanSql),
    "stats_kruskal" -> (statsKruskal, statsKruskalSql),
    "stats_anova" -> (statsAnova, statsAnovaSql),
    "stats_levene" -> (statsLevene, statsLeveneSql),
    "stats_bartlett" -> (statsBartlett, statsBartlettSql),
    "stats_tost" -> (statsTost, statsTostSql),
    "stats_proportion_z" -> (statsProportionZ, statsProportionZSql),
    "stats_mde" -> (statsMde, statsMdeSql),
    "stats_sprt" -> (statsSprt, statsSprtSql),
    "stats_cuped" -> (statsCuped, statsCupedSql),
    "stats_did" -> (statsDid, statsDidSql),
    "stats_srm" -> (statsSrm, statsSrmSql),
    "eval_mcc" -> (evalMcc, evalMccSql),
    "eval_gwet_ac1" -> (evalGwetAc1, evalGwetAc1Sql),
    "eval_conformal" -> (evalConformal, evalConformalSql),
    "eval_kendall" -> (evalKendall, evalKendallSql),
    "eval_winrate" -> (evalWinrate, evalWinrateSql),
    "eval_delong" -> (evalDelong, evalDelongSql),
    "stats_permutation" -> (statsPermutation, statsPermutationSql),
    "eval_auc_ci" -> (evalAucCi, evalAucCiSql),
    "stats_cohend" -> (statsCohend, statsCohendSql),
    "eval_wilcoxon" -> (evalWilcoxon, evalWilcoxonSql),
    "eval_ece" -> (evalEce, evalEceSql),
    "stats_jsd" -> (statsJsd, statsJsdSql),
    "eval_chrf" -> (evalChrf, evalChrfSql),
    "stats_mannwhitney" -> (statsMannwhitney, statsMannwhitneySql),
    "eval_rouge" -> (evalRouge, evalRougeSql),
    "eval_token_f1" -> (evalTokenF1, evalTokenF1Sql),
    "eval_krippendorff" -> (evalKrippendorff, evalKrippendorffSql),
    "eval_brier" -> (evalBrier, evalBrierSql),
    "stats_fdr" -> (statsFdr, statsFdrSql),
    "ts_changepoint" -> (tsChangepoint, tsChangepointSql),
    "eval_bleu" -> (evalBleu, evalBleuSql),
    "eval_spearman" -> (evalSpearman, evalSpearmanSql),
    "eval_auc_pr" -> (evalAucPr, evalAucPrSql),
    "eval_fleiss" -> (evalFleiss, evalFleissSql),
    "eval_mcnemar" -> (evalMcnemar, evalMcnemarSql),
    "pii_detect" -> (piiDetect, piiDetectSql),
    "pii_redact" -> (piiRedact, piiRedactSql),
    "eval_confusion" -> (evalConfusion, evalConfusionSql),
    "eval_auc" -> (evalAuc, evalAucSql),
    "eval_calibration" -> (evalCalibration, evalCalibrationSql),
    "split_leakage" -> (splitLeakage, splitLeakageSql),
    "filter_funnel" -> (filterFunnelQ, filterFunnelSql),
    "curriculum_ntile" -> (curriculumNtile, curriculumNtileSql),
    "ts_markov" -> (tsMarkov, tsMarkovSql),
    "eval_multiclass" -> (evalMulticlass, evalMulticlassSql),
    "rank_mrr" -> (rankMrr, rankMrrSql),
    "eval_regression" -> (evalRegression, evalRegressionSql),
    "stats_welch" -> (statsWelch, statsWelchSql),
    "vocab_coverage" -> (vocabCoverage, vocabCoverageSql),
    "shard_assign" -> (shardAssign, shardAssignSql),
    "shard_rendezvous" -> (shardRendezvous, shardRendezvousSql),
    "checksum_manifest" -> (checksumManifest, checksumManifestSql),
    "segment_sentences" -> (segmentSentences, segmentSentencesSql),
    "dataset_card" -> (datasetCard, datasetCardSql),
    "join_incremental" -> (joinIncremental, joinIncrementalSql),
    "join_set_similarity" -> (joinSetSimilarity, joinSetSimilaritySql),
    "assoc_rules" -> (assocRules, assocRulesSql),
    "sequence_pattern" -> (sequencePattern, sequencePatternSql),
    "validate_contract" -> (validateContractQ, validateContractSql),
    "eval_bootstrap" -> (evalBootstrap, evalBootstrapSql),
    "eval_bootstrap_paired" -> (evalBootstrapPaired, evalBootstrapPairedSql),
    "dedup_minhash_incremental" -> (dedupMinhashIncremental, dedupMinhashIncrementalSql),
    "dedup_cluster_incremental" -> (dedupClusterIncremental, dedupClusterIncrementalSql),
    "dedup_index_stored" -> (dedupIndexStored, dedupMinhashIncrementalSql),
    "dedup_index_append" -> (dedupIndexAppend, dedupMinhashIncrementalSql),
    "dedup_cluster_stored" -> (dedupClusterStored, dedupClusterIncrementalSql),
    "stats_chi2" -> (statsChi2, statsChi2Sql),
    "mixture_kl" -> (mixtureKl, mixtureKlSql),
    "anonymize_ldiv" -> (anonymizeLdiv, anonymizeLdivSql),
    "anonymize_t" -> (anonymizeT, anonymizeTSql),
    "rank_map" -> (rankMap, rankMapSql),
    "eval_kappa" -> (evalKappa, evalKappaSql),
    "ts_trend" -> (tsTrend, tsTrendSql),
    "ts_mase" -> (tsMase, tsMaseSql),
    "ts_theil_sen" -> (tsTheilSen, tsTheilSenSql),
    "eval_psi" -> (evalPsi, evalPsiSql),
    "eval_pass_at_k" -> (evalPassAtK, evalPassAtKSql),
    "eval_bradley_terry" -> (evalBradleyTerry, evalBradleyTerrySql),
    "stats_benford" -> (statsBenford, statsBenfordSql),
  )

  val all: Map[String, QueryFn] = registry.map { case (n, (q, _)) => n -> q }
  val oracles: Map[String, String] = registry.map { case (n, (_, sql)) => n -> sql }
}

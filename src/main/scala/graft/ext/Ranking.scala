package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus relevance scoring: TF-IDF and Okapi BM25 — the standard lexical
  * retrieval / quality-weighting operators of a large-scale text pipeline
  * (query-relevance filtering, boilerplate down-weighting, lexical ANN
  * reranking).
  *
  * Scale shape: one explode of the corpus into (doc, term) counts, one
  * hash-aggregate per term for document frequencies (the shuffle carries
  * terms + counts, never documents), then scoring is a broadcast join of
  * the tiny per-term idf table back onto the per-doc counts. Corpus-level
  * scalars (N, avgdl) ride along as literals computed from exact integer
  * aggregates — no order-dependent double sums anywhere.
  */
object Ranking {

  /** (doc, term, tf) term frequencies over whitespace tokens. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    DataOps.parallelismFloor(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("__t"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Per-term document frequency over the corpus. */
  def documentFrequencies(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  /** Smoothed idf (the BM25+/Lucene form, always positive):
    * ln(1 + (N - df + 0.5) / (df + 0.5)).
    */
  private def idf(nDocs: Long): Column =
    log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** TF-IDF per (doc, term): tf * ln(N / df). Returns
    * (doc_id, term, tf, df, tfidf).
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol).localCheckpoint(true)
    val nDocs = docs.count()
    tf.join(broadcast(documentFrequencies(tf)), Seq("term"))
      .withColumn("tfidf", col("tf") * log(lit(nDocs.toDouble) / col("df")))
  }

  /** Per-document IDF-novelty score — the rarity signal of corpus
    * curation (near-boilerplate documents built from ubiquitous tokens
    * score low, documents carrying rare vocabulary score high): the
    * mean smoothed idf `round6(ln((N+1)/(df+1)))` over each document's
    * DISTINCT tokens. Terms round at 6 and sum in DECIMAL, so the mean
    * is one exact ratio both engines share. Returns
    * (doc_id, n_terms, novelty).
    *
    * Scale: the same tf/df shape as tfidf — the exchange carries terms
    * and counts, the idf table broadcasts back, and the per-doc mean is
    * one doc-keyed aggregation.
    */
  def idfNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol).localCheckpoint(true)
    val nDocs = docs.count()
    tf.join(broadcast(documentFrequencies(tf)), Seq("term"))
      .withColumn("__idf",
        round(log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        // NO final round: the exact DECIMAL sum casts and divides
        // identically in both engines, while round-of-quotient sits on a
        // half-boundary for some docs and the engines' rounding paths
        // (exact-binary HALF_UP vs float multiply) split there
        (sum(col("__idf").cast("decimal(30,6)")).cast("double") /
          count(lit(1)).cast("double")).as("novelty"))
  }

  /** BM25 score of every document against a fixed term set. Returns one
    * row per document that matches at least one query term:
    * (doc_id, score). k1/b are the standard defaults.
    *
    * `avgdl` is derived from exact integer totals (token counts), so the
    * score is deterministic under any partitioning.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val withLen = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__text"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
      .localCheckpoint(true)
    val tf = termFrequencies(withLen, "doc_id", "__text").localCheckpoint(true)
    // one job for both corpus scalars (separate count()+sum() actions
    // would each re-materialize the checkpointed frame)
    val statsRow = withLen.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    bm25FromTf(tf, withLen.select("doc_id", "dl"), nDocs, avgdl,
      queryTerms, k1, b)
  }

  /** BM25 scoring from a prebuilt (doc_id, term, tf) table + (doc_id, dl)
    * lengths — the shared-scan core of `bm25`, exposed so a fusion
    * pipeline scoring the corpus several ways tokenizes it ONCE.
    */
  def bm25FromTf(tf: DataFrame, docLengths: DataFrame, nDocs: Long,
      avgdl: Double, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dfTable = documentFrequencies(tf)
      .where(col("term").isInCollection(queryTerms))
      .withColumn("idf", idf(nDocs))
    tf.where(col("term").isInCollection(queryTerms))
      .join(broadcast(dfTable), Seq("term"))
      .join(docLengths, Seq("doc_id"))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("doc_id")
      // double summation is partition-order-dependent, so round each term's
      // contribution at a fixed scale and sum in DECIMAL — exact, hence
      // order-independent (the same dsum discipline as CoreQueries)
      .agg(sum(round(col("contrib"), 6).cast("decimal(30,6)")).cast("double").as("score"))
  }

  /** Summed TF-IDF relevance over `queryTerms` from a prebuilt tf table;
    * `df` comes from the FULL corpus vocabulary (same as `tfidf`).
    */
  def tfidfSumFromTf(tf: DataFrame, nDocs: Long,
      queryTerms: Seq[String]): DataFrame =
    tf.join(broadcast(documentFrequencies(tf)), Seq("term"))
      .where(col("term").isInCollection(queryTerms))
      .withColumn("tfidf", col("tf") * log(lit(nDocs.toDouble) / col("df")))
      .groupBy("doc_id")
      .agg(sum(round(col("tfidf"), 6).cast("decimal(30,6)"))
        .cast("double").as("score"))

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher RRF) of N candidate
    * rankings — the standard way to combine lexical (BM25) and semantic
    * (embedding) retrieval into one list without score calibration. Each
    * input is a (doc_id, score) frame; a document's fused score is
    * `Σ_lists 1 / (k + rank_in_list)`.
    *
    * Rank assignment is the total order (score desc, doc_id asc) — ties
    * pinned — computed with the range-repartition dense ranker
    * (`SurrogateIds`), NOT a global `row_number()` window: candidate lists at 100 TB
    * retrieval fan-out are large enough that a single-partition WindowExec
    * is the classic scale-killer. Per-list contributions are rounded at a
    * fixed scale and summed in DECIMAL so the fused score is
    * partition-order-independent and engine-replayable.
    */
  def rrfFusion(rankings: Seq[DataFrame], k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFusion needs at least one ranking")
    val ranked = rankings.map { df =>
      graft.cardano.SurrogateIds.withSequence(
          df.select(col("doc_id"), col("score")), "__seq",
          Seq(col("score").desc, col("doc_id").asc))
        .select(col("doc_id"), (col("__seq") + 1L).as("rank"))
    }
    ranked.reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lists"),
        min(col("rank")).as("best_rank"),
        sum(round(lit(1.0) / (lit(k.toDouble) + col("rank")), 9)
          .cast("decimal(30,9)")).cast("double").as("rrf_score"))
  }

  /** Per-max-rank RBO weight lookup shared VERBATIM with the DuckDB
    * oracle: w(m) = Σ_{d=m..k} p^(d−1)/d with each geometric term
    * rounded at 9, so the CASE branches are exact decimal literals.
    * Swapping the sums in truncated rank-biased overlap
    * (1−p)·Σ_{d=1..k} p^(d−1)·|A_d ∩ B_d|/d turns it into one weight
    * lookup per COMMON doc keyed by max(rank_a, rank_b) — a k-entry
    * constant table, the ideal-DCG discipline.
    */
  private[graft] def rboWeightExpr(mCol: String, k: Int, p: Double): String = {
    val ws = (1 to k).map(m => (m to k)
      .map(d => BigDecimal(math.pow(p, d - 1) / d)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum)
    s"CASE $mCol " +
      (1 to k).map(m => s"WHEN $m THEN ${ws(m - 1)}").mkString(" ") +
      " ELSE 0.0 END"
  }

  /** Shared RBO final expression — (n_common, s = Σ weights) in, one
    * rounded double out; disjoint prefixes score 0.0.
    */
  private[graft] def rboFinalExpr(p: Double): String = {
    val oneMinusP = BigDecimal(1) - BigDecimal(p)
    "CASE WHEN n_common = 0 THEN 0.0 " +
      s"ELSE round($oneMinusP * CAST(s AS DOUBLE), 6) END"
  }

  /** Truncated rank-biased overlap (Webber et al., TOIS 2010) between
    * two scored rankings at depth `k`: the standard top-weighted
    * similarity between two retrieval systems' result lists (1 =
    * identical prefixes, 0 = disjoint). Both sides are ranked under the
    * pinned (score desc, id asc) order by the `SurrogateIds` dense ranker
    * (no global window), truncated via TakeOrdered top-k, and the
    * geometric weights enter as exact decimal literals.
    *
    * Scale: two TakeOrdered top-k reductions (never a global sort) and
    * a k-row join — the corpus is touched only by the upstream scorers.
    */
  def rboOverlap(a: DataFrame, b: DataFrame, k: Int = 10,
      p: Double = 0.9): DataFrame = {
    // The truncated lists are ≤ k rows BY CONSTRUCTION (k is a small
    // constant — the truncation depth), so rank assignment is
    // driver-local (optimization r14): TakeOrdered already returns the
    // rows IN the pinned (score desc, doc_id asc) order, and ranking a
    // k-row array on the driver replaces a range-repartition +
    // `SurrogateIds` pipeline (3-4 jobs per side) whose input can never
    // outgrow k. The corpus-sized work stays in the upstream scorers.
    def topk(df: DataFrame, out: String) = {
      val spark = df.sparkSession
      val rows = df.orderBy(col("score").desc, col("doc_id").asc).limit(k)
        .select(col("doc_id")).collect()
      val idField = df.schema("doc_id")
      val ranked = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
      rows.zipWithIndex.foreach { case (r, i) =>
        ranked.add(org.apache.spark.sql.Row(r.get(0), i + 1L))
      }
      spark.createDataFrame(ranked, org.apache.spark.sql.types.StructType(Seq(
        idField.copy(name = "doc_id"),
        org.apache.spark.sql.types.StructField(out,
          org.apache.spark.sql.types.LongType, nullable = false))))
    }
    topk(a, "ra").join(topk(b, "rb"), Seq("doc_id"))
      .select(greatest(col("ra"), col("rb")).as("m"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr(rboWeightExpr("m", k, p)).cast("decimal(30,9)")).as("s"))
      .withColumn("k", lit(k.toLong))
      .withColumn("rbo", expr(rboFinalExpr(p)))
      .select("k", "n_common", "rbo")
  }

  /** Inverted index over a term subset: per term, its document frequency
    * and the sorted posting list. The build side of lexical retrieval —
    * one explode + distinct + one term-keyed aggregation; the shuffle
    * carries (term, doc_id) pairs only, and per-term posting lists are
    * the only materialized arrays (cap/partition by term for hot terms at
    * larger vocabularies).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame =
    DataOps.parallelismFloor(
        docs.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), explode(TextAnalysis.tokens(col("__t"))).as("term"))
      .where(col("term").isInCollection(terms))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", sort_array(collect_list(col("__id")))).as("postings"))

  /** Inverted-index MAINTENANCE: merge a stored per-term index with the
    * new period's index — per term, numeric-sorted union of the two
    * posting lists and the summed document frequency — WITHOUT touching
    * any old document text (the period-over-period form of
    * [[invertedIndex]]: in production `base` is last period's stored
    * table and only the delta's documents are scanned). Doc-id sets of
    * the two sides must be disjoint (periods partition the corpus), so
    * df adds exactly; the merged output is identical to a full rebuild
    * by construction.
    *
    * Scale: ONE full-outer join on term over two index-sized tables
    * (vocab-count rows, never corpus rows); the posting merge is a
    * row-local array sort — at web scale, cap/partition hot terms
    * exactly as the build side documents.
    */
  def mergeInvertedIndex(base: DataFrame, delta: DataFrame): DataFrame = {
    // postings travel as comma-joined strings (the index's storage
    // format); merge numerically, not lexicographically ("10" < "2")
    def ids(c: Column): Column =
      transform(filter(split(coalesce(c, lit("")), ","), x => x =!= ""),
        x => x.cast("long"))
    base.select(col("term"), col("postings").as("__pa"))
      .join(delta.select(col("term"), col("postings").as("__pb")),
        Seq("term"), "full_outer")
      .withColumn("__merged",
        sort_array(concat(ids(col("__pa")), ids(col("__pb")))))
      .select(col("term"),
        size(col("__merged")).cast("long").as("df"),
        array_join(transform(col("__merged"), x => x.cast("string")), ",")
          .as("postings"))
  }
}

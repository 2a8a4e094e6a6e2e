package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is built from codegen'd `functions._` / higher-order
  * functions (no Python, no driver loops): each operator is a narrow
  * per-row projection that scales linearly and keeps whole-stage codegen
  * intact. Language ID is a UDF over a tiny static profile table (pure
  * function of the row — embarrassingly parallel).
  */
object TextAnalysis {

  /** Whitespace tokens (the baseline token counter's unit). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword count: word pieces + standalone punctuation, the usual
    * cheap proxy for LLM token counts when no tokenizer model is shipped.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  private val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Quality-scoring features: lengths, ratios, stopword density. */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // tokenize once into a real column; every feature then reads the
    // attribute instead of re-splitting the text
    val toks = col("__toks")
    df.withColumn("__toks", tokens(t))
      .withColumn("n_chars_obs", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stopwords",
        size(filter(toks, x => x.isInCollection(StopwordsEn))).cast("long"))
      .withColumn("n_punct",
        (length(t) - length(regexp_replace(t, "[.,!?;:]", ""))).cast("long"))
      .withColumn("avg_token_len",
        when(size(toks) > 0,
          aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") /
            size(toks).cast("double")).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .drop("__toks")
  }

  /** Unigram word-distribution profile per document: token count, distinct
    * types, Shannon entropy of the word distribution (nats), and
    * type-token ratio — the classic cheap signals for repetitive /
    * low-diversity text (a gibberish or boilerplate doc has low entropy
    * for its length).
    *
    * Scale shape: one explode into (doc, token) counts, then one
    * aggregate per doc that folds the count array locally — two shuffles,
    * both carrying (id, token-or-count) pairs only. The per-doc count
    * array is bounded by the doc's vocabulary (not its length); entropy
    * terms are rounded at 6 and folded in DECIMAL so the sum is
    * collect-order-independent and engine-identical (the bm25/tfidf
    * discipline).
    */
  def wordEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t")))
      .select(col(idCol), explode(tokens(col("__t"))).as("__tok"))
      .groupBy(idCol, "__tok").agg(count(lit(1)).as("__c"))
    counts.groupBy(idCol)
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        collect_list(col("__c")).as("__cs"))
      .withColumn("entropy",
        aggregate(col("__cs"), lit(0).cast("decimal(30,6)"),
          (acc, c) => (acc + round(
            -(c.cast("double") / col("n_tokens")) *
              log(c.cast("double") / col("n_tokens")), 6).cast("decimal(30,6)"))
            .cast("decimal(30,6)"))
          .cast("double"))
      .withColumn("ttr",
        round(col("n_types").cast("double") / col("n_tokens"), 6))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        col("entropy"), col("ttr"))
  }

  /** Corpus-level unigram language model → per-document mean token
    * log-probability (the cheap stand-in for a perplexity filter, CCNet
    * style: documents whose tokens are globally rare score low).
    *
    * Scale shape: one (doc, token, count) aggregation, one corpus-level
    * token-frequency aggregation, one equi-join of the two keyed by
    * token, then a per-doc fold. The vocabulary join is deliberately NOT
    * broadcast-hinted: a web-scale corpus has a hapax-heavy vocabulary of
    * billions of types, so the scale-correct plan is a token-keyed
    * shuffle join — AQE downgrades it to a broadcast automatically
    * whenever the vocabulary is actually small (as here). Per-token
    * log-prob terms are rounded at 6 and summed in DECIMAL (the
    * entropy/bm25 discipline), so the score is collect-order-independent
    * and engine-identical.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // localCheckpoint: the (doc, token) counts feed the vocabulary, the
    // corpus total AND the scoring join — without the barrier each consumer
    // re-executes the explode+aggregate lineage (the CollapseProject
    // lesson; see PERFORMANCE.md)
    val counts = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t")))
      .select(col(idCol), explode(tokens(col("__t"))).as("__tok"))
      .groupBy(idCol, "__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val vocab = counts.groupBy("__tok").agg(sum(col("__c")).as("__cw"))
    val total = vocab.agg(sum(col("__cw"))).collect()(0).getLong(0)
    counts.join(vocab, Seq("__tok"))
      .withColumn("__term",
        round(col("__c").cast("double") *
          round(log(col("__cw").cast("double") / lit(total.toDouble)), 6), 6)
          .cast("decimal(30,6)"))
      .groupBy(idCol)
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__term")).cast("double").as("__lp"))
      .withColumn("avg_logprob",
        round(col("__lp") / col("n_tokens").cast("double"), 6))
      .select(col(idCol), col("n_tokens"), col("avg_logprob"))
  }

  // --- language ID (n-gram/stopword heuristic) ------------------------------
  // Tiny per-language marker profiles; scored per row. Real pipelines swap
  // in fastText-style models — the operator shape (pure projection) is the
  // same.
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "was", "with", "that", "this"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "es" -> Seq("el", "los", "las", "una", "está", "para", "como", "pero"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"))

  def langIdFn(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    // CJK detection first (char-class heuristic)
    val cjk = text.codePoints().toArray.count(cp =>
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF))
    if (cjk * 4 >= text.length) return "zh"
    val toks = text.toLowerCase.split("\\s+").toSeq
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> toks.count(markers.contains)
    }
    val (best, score) = scores.maxBy { case (l, s) => (s, l) }
    if (score == 0) "und" else best
  }

  private val langIdUdf = udf(langIdFn _)
  def lang_id(text: Column): Column = langIdUdf(text)

  // --- scrubbing (training-data cleaning passes) ----------------------------
  // Patterns are kept RE2-compatible so the DuckDB oracle can run the same
  // regex; both engines replace globally.

  private val UrlRe = "https?://[^\\s]+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Replace URLs/emails with placeholder tokens and collapse whitespace —
    * the standard pre-tokenization scrub, as pure codegen'd projections.
    */
  def scrub(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      "\\s+", " "))

  def countUrls(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlRe), lit(0))).cast("long")

  def countEmails(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long")

  // --- repetition (Gopher-style quality signal) -----------------------------

  /** Fraction of repeated word n-grams: 1 - distinct/total. 0 for texts
    * shorter than n tokens. Uses the native shingle-hash kernel.
    */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val total = greatest(size(tokens(text)) - (n - 1), lit(1)).cast("double")
    val distinctN = size(TextShingles.word_shingle_hashes(text, n)).cast("double")
    (lit(1.0) - distinctN / total)
  }

  /** Gopher-ish document-quality flags (thresholds are illustrative; the
    * operator shape — pure projection to booleans — is the point).
    */
  def qualityFlags(df: org.apache.spark.sql.DataFrame, textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    qualityFeatures(df, textCol)
      .withColumn("rep_ratio", repetitionRatio(t))
      .withColumn("flag_too_short", col("n_tokens") < 10)
      .withColumn("flag_repetitive", col("rep_ratio") > 0.3)
      .withColumn("flag_low_stopword", col("stopword_ratio") < 0.005)
      .withColumn("keep",
        !col("flag_too_short") && !col("flag_repetitive"))
  }

  /** 64-bit rolling polynomial document fingerprint (content hash that is
    * stable under leading/trailing whitespace). Pure expression — codegen'd.
    */
  def fingerprint(text: Column): Column = xxhash64(trim(text))

  /** Winnowing-style k-gram fingerprint set: the w smallest k-gram hashes
    * — robust to small edits, used for near-dup candidate generation.
    */
  def kgramFingerprints(text: Column, k: Int = 8, w: Int = 16): Column =
    slice(array_sort(transform(
      sequence(lit(1), greatest(length(trim(text)) - (k - 1), lit(1))),
      i => xxhash64(trim(text).substr(i, lit(k))))), 1, w)

  /** Distinct case-folded word n-grams of a text column as strings
    * (space-joined, lowercased — the same normalization as the hashed
    * shingle kernel, so both `ngramOverlap` modes agree on any corpus).
    * Texts with fewer than n tokens yield an empty array. Oracle-parity
    * form; the scale path is `TextShingles.word_shingle_hashes` (8-byte
    * hashes, no gram strings on the wire).
    */
  def ngramGrams(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark-contamination / cross-corpus novelty check: for each corpus
    * document, how many of its distinct word n-grams also occur anywhere
    * in the reference corpus (a benchmark's test set, an earlier crawl
    * snapshot, ...). Returns `(id, n_grams, n_hit)`; docs with < n tokens
    * drop out (no grams to test).
    *
    * Scale shape: both sides explode to (gram, id) pairs; the reference
    * side is distinct'd before the join so the probe side is a set; the
    * join and the per-doc re-aggregation shuffle gram keys once each.
    * Use `hashed = true` to ship 8-byte FNV hashes through the exchange
    * instead of gram strings (the `TextShingles` kernel; same counts up
    * to 64-bit collisions, which are negligible at corpus scale).
    */
  /** Positional word n-gram ROWS `(idCol, __pos, __gram)` with 0-based
    * long positions; no rows for docs shorter than `n` tokens (the span
    * ops' shared unit). `base` must carry the text as `__t`.
    *
    * Generator-input discipline (optimization r15): the gram POSITION is
    * exploded from a cheap int sequence over an attribute-backed token
    * array, and each gram string is cut exactly once AFTER the Generate.
    * The previous form passed the fully-built `array<struct<pos,gram>>`
    * as the generator input, which (a) InferFiltersFromGenerate copies
    * into a pushed size+isnotnull filter — the whole construction
    * evaluated three times per document — and (b) re-ran `split()` PER
    * ELEMENT inside the transform lambda (higher-order functions are
    * interpreted, no subexpression elimination), an O(len²) tokenization
    * per document per construction. Measured on dedup_rewrite: the gram
    * stage carried 9.3 s of task run time at sf0.1 before, for a corpus
    * whose grams are ~1 MB.
    */
  private def posGramRows(base: DataFrame, idCol: String, n: Int): DataFrame =
    base.withColumn("__toks", tokens(col("__t")))
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) >= n,
            sequence(lit(0), size(col("__toks")) - n))
          .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col(idCol), col("__i").cast("long").as("__pos"),
        concat_ws(" ", slice(col("__toks"), col("__i") + 1, lit(n))).as("__gram"))

  /** Duplicated-substring detection (the exact-substring dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): a token position is *duplicated* when it is covered by some
    * length-`k` token window that occurs at least twice in the corpus
    * (across documents or within one). Returns per-doc
    * `(id, n_tokens, dup_tokens, n_spans, dup_ratio)` where `n_spans`
    * counts maximal runs of duplicated positions — the spans a trimming
    * pass would cut.
    *
    * Scale shape: one explode into positional grams, one gram-keyed
    * count to find repeated windows, one gram-keyed join back (the
    * repeated-gram side is output-sized, tiny vs the corpus; AQE
    * broadcasts it when small), then per-doc position set-union + island
    * counting clustered by doc id. Production swaps the gram string for
    * its 8-byte hash through the exchange (`TextShingles`); the string
    * form keeps the DuckDB oracle byte-identical.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val base = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t")))
      .withColumn("n_tokens", size(tokens(col("__t"))).cast("long"))
      .localCheckpoint(true) // read by grams AND the final per-doc join
    val grams = posGramRows(base, idCol, k)
      .localCheckpoint(true) // feeds the repeated-gram count AND the probe join
    val repeated = grams.groupBy("__gram").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2).select("__gram")
    val flagged = grams.join(repeated, Seq("__gram"))
      .select(col(idCol), col("__pos")).distinct()
    val covered = flagged
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__tp"))
      .distinct()
    val w = Window.partitionBy(idCol).orderBy(col("__tp"))
    val spans = covered
      .withColumn("__isl", col("__tp") - row_number().over(w))
      .groupBy(idCol)
      .agg(count(lit(1)).as("dup_tokens"),
        countDistinct(col("__isl")).as("n_spans"))
    base.select(col(idCol), col("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_ratio"))
  }

  /** Exact-substring deduplication REWRITE — the removal pass of Lee et
    * al. 2022 (where `duplicatedSpans` only reports duplicated windows,
    * this drops them): for every length-`k` token window that occurs more
    * than once in the corpus, the single FIRST occurrence survives and the
    * token positions of every other occurrence are removed; each
    * document's surviving tokens are re-assembled in order. A document
    * that is an exact copy of an earlier one collapses to an empty
    * `clean_text` while the earliest copy is untouched. Returns
    * `(id, n_tokens, n_removed, clean_text)`.
    *
    * Policy pin (the part Lee et al. leave implementation-defined): a
    * token is removed iff it is covered by at least one non-first
    * occurrence of a duplicated window — even if some other window
    * covering it is itself a first occurrence. "First" is the arg-min of
    * the single integer `doc·2^20 + pos` (positions < 2^20 per doc; doc
    * ids < 2^43), one exact MIN aggregate — no window function, no sort,
    * and any engine replays it bit-for-bit.
    *
    * Scale shape: gram-keyed count+argmin (map-side combining), one
    * gram-keyed probe join whose duplicated-gram side is output-sized
    * (AQE broadcasts it when small), a position explode bounded by
    * k × duplicated occurrences, and a doc-keyed re-aggregation. The
    * corpus text rides only the doc-local projections and the final
    * doc-keyed exchange — never the gram-keyed ones.
    */
  def substringRewrite(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val base = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t")))
      .localCheckpoint(true) // read by the gram explode AND the token explode
    val grams = posGramRows(base, idCol, k)
      .withColumn("__okey", col(idCol).cast("long") * (1L << 20) + col("__pos"))
      .localCheckpoint(true) // feeds the argmin AND the probe join
    val dupFirsts = grams.groupBy("__gram")
      .agg(count(lit(1)).as("__c"), min(col("__okey")).as("__first"))
      .where(col("__c") >= 2)
      .select("__gram", "__first")
    val covered = grams.join(dupFirsts, Seq("__gram"))
      .where(col("__okey") =!= col("__first"))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__tp"))
    dropTokens(base, idCol, covered)
  }

  /** Each doc of `base` (`idCol`, text `__t`) without the tokens at the
    * (`idCol`, `__tp`) positions of `covered`: its token count, the
    * removed count, and the kept tokens re-joined in position order.
    */
  private def dropTokens(base: DataFrame, idCol: String,
      positions: DataFrame): DataFrame = {
    val covered = positions
      .distinct()
      .withColumn("__cov", lit(true))
    val posed = base
      .select(col(idCol), posexplode(tokens(col("__t"))).as(Seq("__tp", "__tok")))
      .withColumn("__tp", col("__tp").cast("long"))
    posed.join(covered, Seq(idCol, "__tp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__cov")).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("__cov").isNull, struct(col("__tp"), col("__tok"))))),
          p => p.getField("__tok")), " ").as("clean_text"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — the exact-unigram form
    * of its hashed-ngram feature space): per document, the mean token
    * log-ratio of an add-one-smoothed target-corpus unigram LM (documents
    * matching `targetPred`) against the raw-corpus LM. High scores mark
    * documents whose vocabulary looks like the target domain — the
    * standard cheap domain-selection signal before pretraining.
    *
    * Scale shape: one (doc, token) count aggregation (checkpointed once),
    * ONE vocabulary-sized aggregate producing both LMs as conditional
    * sums, a 3-scalar totals collect, then a token-keyed scoring join and
    * a per-doc fold — the `unigramLogProb` plan with one extra column.
    * The vocabulary join is deliberately not broadcast-hinted (hapax-heavy
    * web vocabularies are huge; AQE broadcasts when actually small).
    * Per-token log-ratio terms are rounded at 6 and folded in DECIMAL
    * (the entropy/bm25 discipline) so the score is order-independent and
    * engine-identical.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column): DataFrame = {
    val counts = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t"), targetPred.as("__in_t")))
      .select(col(idCol), col("__in_t"), explode(tokens(col("__t"))).as("__tok"))
      .groupBy(col(idCol), col("__in_t"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // feeds the vocabulary LMs AND the scoring join
    val vocab = counts.groupBy("__tok")
      .agg(sum(col("__c")).as("__cr"),
        sum(when(col("__in_t"), col("__c")).otherwise(lit(0L))).as("__ct"))
      .localCheckpoint(true) // read by the totals AND the scoring join
    val tot = vocab.agg(sum(col("__cr")), sum(col("__ct")), count(lit(1))).collect()(0)
    val (rTot, tTot, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    counts.join(vocab, Seq("__tok"))
      .withColumn("__term",
        round(col("__c").cast("double") *
          round(log(
            ((col("__ct") + lit(1L)).cast("double") * lit((rTot + v).toDouble)) /
              ((col("__cr") + lit(1L)).cast("double") * lit((tTot + v).toDouble))), 6), 6)
          .cast("decimal(30,6)"))
      .groupBy(idCol)
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__term")).cast("double").as("__lr"))
      .withColumn("dsir_logratio",
        round(col("__lr") / col("n_tokens").cast("double"), 6))
      .select(col(idCol), col("n_tokens"), col("dsir_logratio"))
  }

  /** Corpus-frequent-n-gram boilerplate removal (the word-window analog of
    * C4's repeated-line filter): drop every token covered by one of the
    * corpus's `topN` most frequent `n`-gram windows and re-assemble the
    * remaining tokens in order. Returns
    * `(id, n_tokens, n_removed, clean_text)`.
    *
    * Scale shape: the frequent-gram table is `topN` rows by construction
    * (a vocabulary-sized aggregate + a global top-N, ties broken by gram
    * text for determinism), so the probe join broadcasts; everything else
    * is per-doc projection + one doc-keyed re-aggregation. Re-assembly
    * sorts each doc's kept (pos, token) pairs locally — no global sort.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, topN: Int = 20): DataFrame = {
    val base = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t")))
      .localCheckpoint(true) // read by the gram count AND the token explode
    val grams = posGramRows(base, idCol, n)
      .localCheckpoint(true) // feeds the top-N count AND the flag join
    val top = grams.groupBy("__gram").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__gram").asc).limit(topN)
      .select("__gram")
    val covered = grams.join(broadcast(top), Seq("__gram"))
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__tp"))
    dropTokens(base, idCol, covered)
  }

  /** The lift formula shared VERBATIM with the DuckDB oracle — both
    * engines evaluate this one string over identical integer counts
    * (`cab` pair count, `ca`/`cb` unigram counts, `nt`/`np` totals), so
    * the float output is bit-identical. Lift = p(a,b) / (p(a)·p(b));
    * PMI is its log2 — deliberately NOT taken here because transcendental
    * functions are not correctly-rounded and differ across engines by
    * ulps, while the divisions below are IEEE-exact.
    */
  val liftExpr: String =
    "(CAST(cab AS DOUBLE) / np) / ((CAST(ca AS DOUBLE) / nt) * (CAST(cb AS DOUBLE) / nt))"

  /** Windowed token collocation: ordered pairs (a before b, at most
    * `window` tokens apart) with their association lift. Pairs with
    * fewer than `minCount` occurrences are dropped, so the emitted row
    * set is defined by exact integer counts alone.
    *
    * Scale shape: pair generation is a PER-ROW projection (an
    * index-lambda over the token array — never a positional self-join),
    * so the corpus is read once and the only exchanges carry (token) and
    * (token, token) keys into map-side-combining counts. The unigram and
    * pair-count tables are vocabulary-sized, so every probe join
    * broadcasts; the corpus totals ride along as one-row broadcasts.
    */
  def collocationLift(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minCount: Long = 50): DataFrame = {
    val base = DataOps.parallelismFloor(
        df.select(col(idCol), col(textCol).as("__t")))
      .select(tokens(col("__t")).as("__toks"))
      .localCheckpoint(true) // read by pair counts AND unigram counts
    // Pair generation by flat-index explode (generator-input discipline,
    // optimization r15): the old nested-transform generator input built
    // the full O(len·window) pair-struct array per row, three times
    // (InferFiltersFromGenerate). The flat index k ∈ [0, len·window)
    // decodes to (i = k/window, j = i + 1 + k%window); same (a, b) pair
    // multiset, each token referenced once after the Generate.
    val pc = base
      .select(col("__toks"), explode(when(size(col("__toks")) >= 2,
          sequence(lit(0), size(col("__toks")) * window - 1))
        .otherwise(array().cast("array<int>"))).as("__k"))
      .select(col("__toks"),
        floor(col("__k") / window).cast("int").as("__i"),
        pmod(col("__k"), lit(window)).cast("int").as("__d"))
      .where(col("__i") + 1 + col("__d") < size(col("__toks")))
      .select(element_at(col("__toks"), col("__i") + 1).as("a"),
        element_at(col("__toks"), col("__i") + col("__d") + 2).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .localCheckpoint(true) // feeds the pair total AND the output
    val uc = base.select(explode(col("__toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the token total AND both probes
    val nt = uc.agg(sum(col("c")).as("nt"))
    val np = pc.agg(sum(col("cab")).as("np"))
    pc.where(col("cab") >= minCount)
      .join(broadcast(uc.select(col("tok").as("a"), col("c").as("ca"))), Seq("a"))
      .join(broadcast(uc.select(col("tok").as("b"), col("c").as("cb"))), Seq("b"))
      .crossJoin(broadcast(nt))
      .crossJoin(broadcast(np))
      .select(col("a"), col("b"), col("cab"), expr(liftExpr).as("lift"))
  }

  def ngramOverlap(corpus: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, n: Int, hashed: Boolean = false): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      if (hashed)
        // word_shingle_hashes falls back to one whole-text hash for texts
        // shorter than n tokens; drop those rows first so both modes share
        // the documented "docs with < n tokens drop out" semantics.
        df.where(size(tokens(col(textCol))) >= n)
          .select(cols :+ explode(TextShingles.word_shingle_hashes(col(textCol), n)).as("gram"): _*)
      else
        df.select(cols :+ explode(ngramGrams(col(textCol), n)).as("gram"): _*)
    val corpusGrams = grams(DataOps.parallelismFloor(corpus), col(idCol))
    val refGrams = grams(DataOps.parallelismFloor(ref)).distinct()
      .withColumn("__hit", lit(1L))
    corpusGrams.join(refGrams, Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
  }

  /** Flesch reading-ease per document from three row-local integer
    * counts — words (whitespace tokens), sentences (`[.!?]+` runs,
    * floored at 1), syllables (`[aeiouy]+` vowel groups, the standard
    * heuristic) — combined by the classic
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    * A common corpus quality-filter feature; zero shuffles, and the
    * counts are integers so any engine reproduces the score exactly
    * from the same expression.
    */
  def fleschReadingEase(df: DataFrame, textCol: String = "text"): DataFrame = {
    // Built from the Column, not an interpolated expr() string, so column
    // names that need backtick quoting work; the syllables/word divisor is
    // floored at 1 like n_sentences so an empty text scores instead of
    // yielding a null flesch via 0-division.
    val t = col(textCol)
    df.withColumn("n_words", size(tokens(t)).cast("long"))
      .withColumn("n_sentences",
        greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
          .cast("long"))
      .withColumn("n_syllables",
        size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
          .cast("long"))
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double")
            / greatest(col("n_words"), lit(1L))), 6))
  }

  /** The logistic squashing shared VERBATIM with the DuckDB oracle: both
    * engines evaluate this one SQL string over identical integer inputs
    * (`raw_score`, `n_features`), then round(6) to absorb libm exp() ulp
    * differences (the tf-idf ln() discipline).
    */
  val classifierScoreExpr: String =
    "round(1.0 / (1.0 + exp(-(CAST(raw_score AS DOUBLE) " +
      "/ (1000.0 * CAST(n_features AS DOUBLE))))), 6)"

  /** fastText-style linear quality classifier with hashed features: each
    * DISTINCT lowercased token contributes an integer weight derived from
    * its 64-bit FNV hash (`pmod(h, 2001) - 1000`, i.e. a fixed
    * pseudo-random weight vector indexed by feature hash — the hashing
    * trick, so no vocabulary table ships with the model), and the mean
    * weight is squashed through a sigmoid. Stands in for the
    * classifier-based quality filters of web-scale pipelines (the wiring
    * — hashed features, integer margins, per-doc score, keep flag — is
    * the production shape; a trained model swaps in real weights).
    *
    * Scale: zero-shuffle. Feature hashing is the native one-pass
    * TextShingles kernel and the weight sum is a row-local higher-order
    * fold over 8-byte hashes — whole-stage codegen end to end, no
    * explode, no vocabulary join.
    */
  def classifierScore(df: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame = {
    // null text has no features to score (dropped, the histogram null
    // rule); an all-whitespace text scores its single whole-text
    // fallback hash — callers that want empties dropped too filter
    // `trim(text) != ''` first (the quality_classifier query does)
    val feats = TextShingles.word_shingle_hashes(col(textCol), 1)
    df.where(col(textCol).isNotNull)
      .select(col(idCol), feats.as("__f"))
      .select(col(idCol),
        size(col("__f")).cast("long").as("n_features"),
        aggregate(col("__f"), lit(0L),
          (acc, h) => acc + pmod(h, lit(2001L)) - lit(1000L)).as("raw_score"))
      .withColumn("score", expr(classifierScoreExpr))
      .withColumn("keep", col("score") >= lit(0.5))
  }

  /** Sentence segmentation: split each document on `[.!?]` terminator
    * runs, keeping the punctuation with its sentence and the 0-based
    * position. The pattern avoids lookbehind (RE2 has none, so the same
    * regex replays in any engine): a sentence is a run of
    * non-terminators plus its trailing terminator run; whitespace-only
    * segments are dropped AFTER position assignment, so positions are
    * stable. Row-local Generate — zero shuffles at any corpus size.
    */
  def segmentSentences(df: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame =
    // built from the Column API, never an interpolated expr() string — a
    // column name needing backtick quoting would break the SQL form (the
    // fleschReadingEase rule)
    df.select(col(idCol),
        posexplode(regexp_extract_all(col(textCol),
          lit("[^.!?]+[.!?]*"), lit(0)))
          .as(Seq("seg_idx", "__raw")))
      .select(col(idCol), col("seg_idx"), trim(col("__raw")).as("sentence"))
      .where(col("sentence") =!= "")
      .withColumn("n_chars", length(col("sentence")).cast("long"))
}

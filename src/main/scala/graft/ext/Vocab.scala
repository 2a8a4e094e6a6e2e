package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) vocabulary induction: learn the top-k symbol
  * merges from a corpus — the tokenizer-training operator of an LLM data
  * pipeline.
  *
  * Scale shape: ONE corpus pass builds the word-frequency table (the only
  * shuffle that sees the corpus); every merge iteration then runs on the
  * compact word-TYPE table (vocab ≪ corpus — this is why classical BPE
  * trainers operate on the word dict, and the distributed form is the
  * same). Per iteration: explode adjacent symbol pairs weighted by word
  * count, aggregate, take the global argmax (count desc, then pair asc —
  * a pinned deterministic tie-break), and apply the merge.
  *
  * Symbol sequences are encoded as separator-delimited strings
  * ("|h|e|l|l|o|"), and a merge (a,b) is `replace(s, "|a|b|", "|ab|")` —
  * string replace is greedy, left-to-right, non-overlapping in both Spark
  * and DuckDB, which makes the whole training loop REPLAYABLE in SQL:
  * the oracle unrolls k stages of the same argmax + replace. Words are
  * restricted to /^[a-z]+$/ so the separator can never collide with a
  * symbol byte.
  */
object Vocab {

  /** Learn `merges` BPE merges. Returns (rank, left, right, merged,
    * pair_count) — rank 1 is the first (highest-count) merge.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = bpeWords(docs, textCol)
      .localCheckpoint(true) // the merge loop must not re-run the corpus pass
      .select("cnt", "s")

    var current = words
    val learned = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    while (rank <= merges) {
      // adjacent symbol pairs of every word type, weighted by frequency
      val top = current
        .select(col("cnt"), split(col("s"), "\\|").as("toks"))
        .select(col("cnt"),
          explode(expr(
            "transform(sequence(1, size(toks) - 2), i -> struct(toks[i] as l, toks[i+1] as r))"))
            .as("p"))
        .where(col("p.r") =!= "") // trailing separator yields an empty tail
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) { rank = merges + 1 }
      else {
        val Row(l: String, r: String, c: Long) = top(0)
        learned += ((rank, l, r, l + r, c))
        current = current.withColumn("s",
          expr(s"replace(s, '|${l}|${r}|', '|${l}${r}|')"))
        rank += 1
      }
    }
    learned.result().toDF("rank", "left", "right", "merged", "pair_count")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Load a PERSISTED BPE merge table (the read-back output of
    * [[bpeTrain]]) into the ranked merge chain [[bpeEncode]] applies —
    * the versioned-tokenizer-artifact posture: train once at period
    * close, persist (rank, left, right, merged, pair_count), encode
    * every later period from the READ-BACK model, never retrain.
    *
    * Model contract, enforced rather than trusted (the stored-LSH
    * parameter-guard lesson, applied to the model store): BPE encode
    * is order-sensitive — a duplicate rank (a re-appended / re-closed
    * model store), a rank gap (a truncated or partially deleted
    * store), or a merge row whose `merged` isn't `left || right` (a
    * WordPiece table in a BPE store, or plain corruption) would
    * silently change every downstream segmentation. The checks ride
    * the SAME collect that materializes the merge constants, so they
    * run on every load (value path, not an optional audit): ranks must
    * be exactly 1..n, every field non-null, and `merged = left ||
    * right` row by row. The model is vocab-sized by construction
    * (`merges` rows), so the collect IS the intended materialization —
    * the merge chain compiles into the encode projection as literals
    * ([[bpeEncode]]'s no-join design).
    */
  def loadBpeMerges(model: DataFrame): Seq[(String, String)] = {
    val rows = model
      .select(col("rank").cast("long").as("rank"), col("left"),
        col("right"), col("merged"))
      .collect()
      .sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    require(rows.nonEmpty,
      "loadBpeMerges: the model store is empty — not a trained BPE model")
    rows.zipWithIndex.foreach { case (r, i) =>
      require((0 to 3).forall(!r.isNullAt(_)),
        s"loadBpeMerges: null field in model row $r — the store is " +
          "corrupt or was built by a different trainer")
      val rank = r.getLong(0)
      require(rank == i + 1,
        s"loadBpeMerges: ranks are not contiguous 1..n (found rank $rank " +
          s"at position ${i + 1} of ${rows.length}) — a duplicate rank " +
          "means the model was appended twice (a re-closed period); a gap " +
          "means the store was truncated; either way the merge order is " +
          "not the trained one")
      require(r.getString(3) == r.getString(1) + r.getString(2),
        s"loadBpeMerges: merged '${r.getString(3)}' != left||right " +
          s"'${r.getString(1)}${r.getString(2)}' — not a BPE merge table " +
          "(a WordPiece model in a BPE store, or corruption)")
    }
    rows.map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Apply learned merges to the corpus (Sennrich-style BPE ENCODE: each
    * merge rewrites the whole corpus in learned-rank order) and return
    * the resulting subword-piece frequency table (piece, cnt) — the
    * tokenized-corpus unigram view an LLM pipeline feeds to sampling /
    * vocab-coverage checks.
    *
    * Scale shape: identical to `bpeTrain` — one corpus pass builds the
    * word-TYPE frequency table, and everything after runs on the compact
    * type table. The merge chain compiles to ONE nested-`replace`
    * projection (merges are driver-side constants — codegen'd, no UDF,
    * no per-merge job), and `replace` is greedy left-to-right
    * non-overlapping in both engines, so encode replays exactly: applying
    * the k ranked merges to the initial word table IS the train chain's
    * final state.
    */
  def bpeEncode(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = bpeWords(docs, textCol)
    val enc = merges.foldLeft("s") { case (e, (l, r)) =>
      s"replace($e, '|$l|$r|', '|$l$r|')"
    }
    words
      .select(col("cnt"),
        explode(expr(s"filter(split($enc, '\\\\|'), x -> x != '')")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
  }

  /** The lowercase word types with their count `cnt` and their letters
    * as BPE symbols `s` = "|a|b|c|": the corpus pass of BPE training
    * and encoding.
    */
  private def bpeWords(docs: DataFrame, textCol: String): DataFrame =
    DataOps.parallelismFloor(docs.select(col(textCol).as("__t")))
      .select(explode(TextAnalysis.tokens(col("__t"))).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("s",
        concat(lit("|"),
          array_join(transform(split(col("word"), ""), c => c), "|"),
          lit("|")))

  /** Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece model,
    * the EM companion to [[bpeTrain]]): seed a piece inventory with every
    * substring (length ≤ `maxPieceLen`) of the word types, then run
    * `emIters` rounds of full-lattice EM — the E-step weighs every
    * segmentation of every word type by its probability under the current
    * piece distribution and accumulates expected piece counts; the M-step
    * renormalizes. Pieces whose expected count rounds to zero drop out
    * (EM's natural prune). Returns (piece, p) — the trained unigram piece
    * probabilities, round-6.
    *
    * Determinism discipline (the lm_kneser_ney playbook): piece costs are
    * per-TYPE round-6 DECIMAL `-ln p`; a segmentation's cost is an EXACT
    * decimal sum of those; its lattice weight is `exp(-(cost - min))`
    * rounded at 12 into DECIMAL (min subtracted so weights sit in (0, 1]
    * and the rounding loses only 1e-12 relative); per-word normalizers
    * and expected counts are exact decimal sums of per-term round-6
    * values — every cross-row aggregation is order-free, so the whole
    * training replays bit-for-bit in DuckDB (same seeds, same lattice,
    * same EM trajectory).
    *
    * Scale shape: the corpus is touched ONCE (the word-TYPE aggregation —
    * the only corpus-sized shuffle); everything after is bounded by
    * `topTypes` word types × the constant composition table (all ways to
    * split a length-≤`maxWordLen` word into pieces ≤ `maxPieceLen` —
    * tribonacci-sized, built driver-side and broadcast). EM expectations
    * are per-TYPE: each iteration is two keyed joins and three
    * aggregations over that bounded lattice, independent of corpus size.
    * Words longer than `maxWordLen` don't train the model (the standard
    * SentencePiece trainer similarly caps sentence/word length); they are
    * still segmentable at inference with the trained pieces.
    */
  def unigramTrain(docs: DataFrame, textCol: String, emIters: Int = 2,
      maxPieceLen: Int = 3, maxWordLen: Int = 8,
      topTypes: Int = 2000, keepMulti: Int = 120): DataFrame =
    unigramTrainImpl(docs, textCol, emIters, maxPieceLen, maxWordLen,
      topTypes, keepMulti).select(col("piece"), col("p"))

  /** The lattice as a DataFrame: (wlen, sig, i, start, plen, nparts)
    * piece rows for every composition of 1..maxWordLen into parts of
    * size ≤ maxPieceLen; sig is the digit string of part lengths. A
    * driver-side constant — tribonacci(maxWordLen) segmentations.
    */
  private def compositionTable(spark: org.apache.spark.sql.SparkSession,
      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    import spark.implicits._
    def comps(n: Int): Seq[String] =
      if (n == 0) Seq("")
      else (1 to math.min(maxPieceLen, n))
        .flatMap(k => comps(n - k).map(k.toString + _))
    val rows: Seq[(Int, String, Int, Int, Int, Int)] = for {
      n <- 1 to maxWordLen
      sig <- comps(n)
      parts = sig.map(_.asDigit)
      starts = parts.scanLeft(1)(_ + _)
      i <- parts.indices
    } yield (n, sig, i + 1, starts(i), parts(i), parts.length)
    rows.toDF("wlen", "sig", "i", "start", "plen", "nparts")
  }

  /** The `topTypes` most frequent lowercase word types of at most
    * `maxWordLen` letters (ties by word), with count `cnt` and length
    * `wlen` — the only corpus pass of unigram training and encoding.
    */
  private def wordTypes(docs: DataFrame, textCol: String, maxWordLen: Int,
      topTypes: Int): DataFrame =
    DataOps.parallelismFloor(docs.select(col(textCol).as("__t")))
      .select(explode(TextAnalysis.tokens(col("__t"))).as("word"))
      .where(col("word").rlike("^[a-z]+$") &&
        length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(topTypes)
      .withColumn("wlen", length(col("word")))
      .localCheckpoint(true)

  private[ext] def unigramTrainImpl(docs: DataFrame, textCol: String,
      emIters: Int, maxPieceLen: Int, maxWordLen: Int,
      topTypes: Int, keepMulti: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordTypes(docs, textCol, maxWordLen, topTypes)

    val sp = compositionTable(spark, maxPieceLen, maxWordLen)

    // candidate piece occurrences of every segmentation of every word
    // type — iteration-independent, built once
    val occ = words.join(broadcast(sp), Seq("wlen"))
      .select(col("word"), col("cnt"), col("sig"), col("nparts"),
        expr("substring(word, start, plen)").as("piece"))
      .localCheckpoint(true)

    // seed inventory: every substring occurrence weighted by word count;
    // all single chars (so every word stays segmentable) + the top
    // `keepMulti` multi-char pieces, ties pinned (count desc, piece asc)
    val seedCnt = words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, wlen),
           |  s -> transform(sequence(s, least(s + ${maxPieceLen - 1}, wlen)),
           |       e -> substring(word, s, e - s + 1))))""".stripMargin))
        .as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("c"))
      .localCheckpoint(true)
    val seed = seedCnt.where(length(col("piece")) === 1)
      .unionByName(seedCnt.where(length(col("piece")) > 1)
        .orderBy(col("c").desc, col("piece").asc).limit(keepMulti))
    val tot0 = seed.agg(sum(col("c")).cast("double").as("tot"))
    var pieces = seed.crossJoin(broadcast(tot0))
      .select(col("piece"),
        expr("CAST(round(-ln(CAST(c AS DOUBLE) / tot), 6) " +
          "AS DECIMAL(30,6))").as("cost6"),
        expr("round(CAST(c AS DOUBLE) / tot, 6)").as("p"))
      .localCheckpoint(true)

    var it = 0
    while (it < emIters) {
      // E-step: keep only fully-covered segmentations (every piece still
      // in the inventory), weight each by exp(-(cost − word min))
      val byseg = occ.join(pieces.select("piece", "cost6"), Seq("piece"))
        .groupBy("word", "cnt", "sig", "nparts")
        .agg(count(lit(1)).as("got"), sum(col("cost6")).as("sumc"))
        .where(col("got") === col("nparts"))
      val minc = byseg.groupBy("word").agg(min(col("sumc")).as("minc"))
      val wseg = byseg.join(minc, Seq("word"))
        .select(col("word"), col("sig"),
          expr("CAST(round(exp(-CAST(sumc - minc AS DOUBLE)), 12) " +
            "AS DECIMAL(38,12))").as("w12"))
        .localCheckpoint(true) // feeds the normalizer AND the e-terms
      val z = wseg.groupBy("word").agg(sum(col("w12")).as("z"))
      // expected count terms: per-occurrence round-6, exact decimal sum
      val e = occ.join(wseg, Seq("word", "sig"))
        .join(z, Seq("word"))
        .select(col("piece"),
          expr("CAST(round(CAST(cnt AS DOUBLE) * CAST(w12 AS DOUBLE) " +
            "/ CAST(z AS DOUBLE), 6) AS DECIMAL(30,6))").as("e6"))
        .groupBy("piece").agg(sum(col("e6")).as("ecnt"))
        .where(col("ecnt") > 0)
      // M-step: renormalize
      val tot = e.agg(sum(col("ecnt")).cast("double").as("tot"))
      pieces = e.crossJoin(broadcast(tot))
        .select(col("piece"),
          expr("CAST(round(-ln(CAST(ecnt AS DOUBLE) / tot), 6) " +
            "AS DECIMAL(30,6))").as("cost6"),
          expr("round(CAST(ecnt AS DOUBLE) / tot, 6)").as("p"))
        .localCheckpoint(true)
      it += 1
    }
    pieces
  }

  /** Full trained unigram model — (piece, cost6, p), the round-6 decimal
    * `-ln p` alongside the probability — for [[unigramEncode]] and any
    * caller that scores lattices. Same training as [[unigramTrain]].
    */
  def unigramModel(docs: DataFrame, textCol: String, emIters: Int = 2,
      maxPieceLen: Int = 3, maxWordLen: Int = 8,
      topTypes: Int = 2000, keepMulti: Int = 120): DataFrame =
    unigramTrainImpl(docs, textCol, emIters, maxPieceLen, maxWordLen,
      topTypes, keepMulti)

  /** Contract-check a READ-BACK unigram model table ((piece, cost6, p)
    * — the persisted output of [[unigramModel]]) before it scores
    * lattices: the [[loadBpeMerges]] posture for the second trainer.
    * A DUPLICATE piece row (a model store appended twice — a re-closed
    * period) is the silent-corruption case here: [[unigramEncode]]
    * joins the lattice by piece, so each duplicate multiplies that
    * piece's occurrence rows, inflates the per-segmentation coverage
    * count past `nparts`, and silently DROPS every segmentation using
    * the piece — verdicts flip with no error. Enforced in the value
    * path: a piece-keyed window raises on the first duplicate (the
    * stored-LSH posting-guard shape, vocabulary-sized exchange);
    * null pieces/costs raise in the same projection.
    */
  def checkedUnigramModel(model: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("piece")
    model
      .withColumn("__np", count(lit(1)).over(w))
      .select(
        when(col("piece").isNotNull && col("cost6").isNotNull &&
            col("__np") === 1, col("piece"))
          .otherwise(raise_error(concat(
            lit("checkedUnigramModel: piece "),
            coalesce(col("piece"), lit("null")),
            lit(" appears "), col("__np").cast("string"),
            lit(" times (or carries a null cost) — the model store was " +
              "appended twice (a re-closed period) or is corrupt; " +
              "duplicate pieces silently drop every segmentation that " +
              "uses them")))).as("piece"),
        col("cost6"), col("p"))
  }

  /** Viterbi ENCODE with a trained unigram model: segment every word
    * type by minimum total piece cost (ties pinned to fewer pieces, then
    * the lexicographically smallest length-signature) and return the
    * corpus piece-frequency table (piece, cnt) — the tokenized-corpus
    * unigram view, the [[bpeEncode]] counterpart.
    *
    * Scale shape: identical to training — ONE corpus pass to word types,
    * then the bounded lattice; the Viterbi argmin is a window over the
    * per-word segmentation table (≤ tribonacci(maxWordLen) rows per
    * word). Words containing a character the model pruned are not
    * segmentable and are excluded (deterministically — the coverage gap
    * is itself a model property).
    */
  def unigramEncode(docs: DataFrame, textCol: String, model: DataFrame,
      maxPieceLen: Int = 3, maxWordLen: Int = 8,
      topTypes: Int = 2000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = wordTypes(docs, textCol, maxWordLen, topTypes)
    val sp = compositionTable(spark, maxPieceLen, maxWordLen)
    val occ = words.join(broadcast(sp), Seq("wlen"))
      .select(col("word"), col("cnt"), col("sig"), col("nparts"),
        expr("substring(word, start, plen)").as("piece"))
      .localCheckpoint(true) // feeds the lattice score AND the piece dump
    val byseg = occ.join(model.select("piece", "cost6"), Seq("piece"))
      .groupBy("word", "cnt", "sig", "nparts")
      .agg(count(lit(1)).as("got"), sum(col("cost6")).as("sumc"))
      .where(col("got") === col("nparts"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("word")
      .orderBy(col("sumc").asc, col("nparts").asc, col("sig").asc)
    val best = byseg
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("word"), col("sig"))
    occ.join(best, Seq("word", "sig"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
  }

  /** WordPiece vocabulary induction (Schuster & Nakajima 2012 — the BERT
    * tokenizer family; the third trainer beside [[bpeTrain]] and
    * [[unigramTrain]]): identical mechanics to BPE — word-TYPE table,
    * separator-delimited symbol state, greedy merge loop — but the merge
    * argmax maximizes the LIKELIHOOD gain score
    * `count(ab) / (count(a) · count(b))` instead of the raw pair count,
    * and non-initial symbols carry the `##` continuation prefix (initial
    * state of "hello" is `|h|##e|##l|##l|##o|`; merging (l, r) yields
    * `l + r-without-##`, e.g. ("h","##e") → "he", ("##l","##o") →
    * "##lo").
    *
    * Returns (rank, left, right, merged, pair_count, left_count,
    * right_count) — the EXACT integer sufficient statistics of each
    * chosen merge (score = pair/(left·right) is derivable), so the
    * output hash-matches DuckDB with no float discipline needed. The
    * argmax itself compares `CAST(pair AS DOUBLE) / (CAST(l AS DOUBLE) *
    * CAST(r AS DOUBLE))` — ONE IEEE divide of exact integers, identical
    * bit-for-bit in Spark and DuckDB — with ties pinned (left asc,
    * right asc), so the oracle replays the whole training as unrolled
    * CTE stages exactly like the BPE playbook.
    *
    * Scale shape: identical to [[bpeTrain]] — one corpus pass to the
    * word-TYPE table (the only corpus-sized shuffle, checkpointed), then
    * every iteration runs two vocab-sized aggregations (symbol unigrams
    * + adjacent pairs) over the compact type table.
    */
  def wordpieceTrain(docs: DataFrame, textCol: String,
      merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = DataOps.parallelismFloor(docs.select(col(textCol).as("__t")))
      .select(explode(TextAnalysis.tokens(col("__t"))).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat(
        lit("|"), substring(col("word"), 1, 1),
        when(length(col("word")) > 1,
          concat(lit("|##"),
            array_join(transform(
              split(expr("substring(word, 2)"), ""), c => c), "|##")))
          .otherwise(lit("")),
        lit("|")))
      .localCheckpoint(true) // the merge loop must not re-run the corpus pass
      .select("cnt", "s")

    var current = words
    val learned =
      Seq.newBuilder[(Int, String, String, String, Long, Long, Long)]
    var rank = 1
    while (rank <= merges) {
      val syms = current
        .select(col("cnt"), explode(split(col("s"), "\\|")).as("sym"))
        .where(col("sym") =!= "")
        .groupBy("sym").agg(sum(col("cnt")).as("uc"))
      val pairs = current
        .select(col("cnt"), split(col("s"), "\\|").as("toks"))
        .select(col("cnt"),
          explode(expr(
            "transform(sequence(1, size(toks) - 2), i -> struct(toks[i] as l, toks[i+1] as r))"))
            .as("p"))
        .where(col("p.r") =!= "")
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
      val top = pairs
        .join(syms.select(col("sym").as("l"), col("uc").as("ucl")), Seq("l"))
        .join(syms.select(col("sym").as("r"), col("uc").as("ucr")), Seq("r"))
        .withColumn("score",
          col("c").cast("double") /
            (col("ucl").cast("double") * col("ucr").cast("double")))
        .orderBy(col("score").desc, col("l").asc, col("r").asc)
        .select("l", "r", "c", "ucl", "ucr")
        .limit(1).collect()
      if (top.isEmpty) { rank = merges + 1 }
      else {
        val Row(l: String, r: String, c: Long, ucl: Long, ucr: Long) = top(0)
        val m = l + r.stripPrefix("##")
        learned += ((rank, l, r, m, c, ucl, ucr))
        current = current.withColumn("s",
          expr(s"replace(s, '|${l}|${r}|', '|${m}|')"))
        rank += 1
      }
    }
    learned.result()
      .toDF("rank", "left", "right", "merged",
        "pair_count", "left_count", "right_count")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** WordPiece ENCODE: greedy longest-match-first segmentation of every
    * word type against the trained vocabulary (initial-state symbols —
    * every word-initial char plus every `##`-prefixed continuation char —
    * ∪ the merge products), returning the corpus piece-frequency table
    * (piece, cnt).
    *
    * Greedy-longest-match is replayed DECLARATIVELY: because every
    * single character (initial and `##` form) is in the vocabulary, the
    * greedy scan never dead-ends, and its segmentation is exactly the
    * lexicographically LARGEST length-signature among the fully-covered
    * segmentations of the word (longest possible first piece; among
    * those, longest second; …) — signatures of the same word sum to the
    * same length, so none is a prefix of another and plain string DESC
    * is the total order. That makes encode ONE lattice pass (the
    * [[unigramEncode]] composition table, parts up to `maxWordLen`) +
    * a per-word argmax — no iterative scan, and the DuckDB oracle is
    * the same lattice in SQL.
    *
    * Scale shape: one corpus pass to word types; the lattice is bounded
    * by `topTypes` × 2^(maxWordLen−1) driver-side composition rows;
    * vocabulary joins broadcast (alphabet + merges sized). The
    * maxWordLen/topTypes caps truncate coverage to the kept types; the
    * excluded type/occurrence share is computed from the uncapped type
    * table and logged loudly (no-silent-caps discipline).
    */
  def wordpieceEncode(docs: DataFrame, textCol: String,
      mergedPieces: Seq[String], maxWordLen: Int = 8,
      topTypes: Int = 2000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // full [a-z]+ type table FIRST (vocab-sized), caps applied after —
    // so the coverage the caps drop is measurable, not silent
    val types0 = DataOps.parallelismFloor(docs.select(col(textCol).as("__t")))
      .select(explode(TextAnalysis.tokens(col("__t"))).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val words = types0
      .where(length(col("word")) <= maxWordLen)
      .orderBy(col("cnt").desc, col("word").asc).limit(topTypes)
      .withColumn("wlen", length(col("word")))
      .localCheckpoint(true)
    // no-silent-caps (ADVICE r10 #3): the maxWordLen/topTypes caps bound
    // the lattice, but piece counts cover ONLY the kept types — report
    // the excluded share loudly so callers comparing against a
    // full-corpus tokenizer see the truncation, not mystery deltas
    // ONE scalar job for both sides (r11 verdict: two separate .head()
    // probes were a +0.5 s per-call tax): the total and kept aggregates
    // union into a single action over the two CHECKPOINTED vocab-sized
    // tables — no join, no broadcast build, one job.
    val covRows = types0
      .agg(count(lit(1)).cast("long").as("t"),
        coalesce(sum(col("cnt")), lit(0L)).as("o"))
      .select(lit(0).as("__side"), col("t"), col("o"))
      .unionByName(words
        .agg(count(lit(1)).cast("long").as("t"),
          coalesce(sum(col("cnt")), lit(0L)).as("o"))
        .select(lit(1).as("__side"), col("t"), col("o")))
      .collect().sortBy(_.getInt(0))
    val (totT, totO) = (covRows(0).getLong(1), covRows(0).getLong(2))
    val (kepT, kepO) = (covRows(1).getLong(1), covRows(1).getLong(2))
    System.err.println(
      s"[wordpieceEncode] caps (maxWordLen=$maxWordLen, topTypes=$topTypes)" +
        s" keep $kepT/$totT word types, $kepO/$totO occurrences" +
        s" (dropped ${totT - kepT} types / ${totO - kepO} occurrences)")
    val sp = compositionTable(spark, maxWordLen, maxWordLen)
    val occ = words.join(broadcast(sp), Seq("wlen"))
      .select(col("word"), col("cnt"), col("sig"), col("nparts"),
        when(col("start") === 1, expr("substring(word, start, plen)"))
          .otherwise(concat(lit("##"),
            expr("substring(word, start, plen)"))).as("piece"))
      .localCheckpoint(true) // feeds the coverage check AND the piece dump
    // vocabulary = the single-char symbols of the SAME capped word table
    // (every word-initial char plain, every continuation char ##-form —
    // guarantees full coverage, so greedy never dead-ends) ∪ the trained
    // merge products; the oracle derives the alphabet from the identical
    // capped CTE, so both engines see the same vocabulary by construction
    val alpha = words
      .select(explode(expr(
        """transform(sequence(1, wlen),
          |  i -> CASE WHEN i = 1 THEN substring(word, 1, 1)
          |       ELSE concat('##', substring(word, i, 1)) END)"""
          .stripMargin)).as("piece"))
      .distinct()
    val v = alpha
      .unionByName(mergedPieces.distinct.toDF("piece"))
      .distinct()
    val cov = occ.join(broadcast(v), Seq("piece"))
      .groupBy("word", "sig", "nparts")
      .agg(count(lit(1)).as("got"))
      .where(col("got") === col("nparts"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("word")
      .orderBy(col("sig").desc)
    val best = cov
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("word"), col("sig"))
    occ.join(best, Seq("word", "sig"))
      .groupBy("piece").agg(sum(col("cnt")).as("cnt"))
  }

  /** Bigram language-model counts: adjacent whitespace-token pairs per
    * document, aggregated corpus-wide, with the unigram count of the
    * left word attached (the sufficient statistics for a smoothed
    * conditional P(w2 | w1)).
    *
    * The pairing is ROW-LOCAL — `transform` over the token array, no
    * positional self-join — so the only exchanges carry (w1, w2, count)
    * and (w1, count): at 100 TB the corpus is read once and the shuffle
    * is vocabulary-sized, with map-side combine collapsing repeats.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame = {
    val toks = DataOps.parallelismFloor(
      docs.select(TextAnalysis.tokens(col(textCol)).as("t")))
      .localCheckpoint(true)
    // Position explode (optimization r15 generator-input discipline —
    // the bigramCrossEntropy fix mirrored): the struct-array generator
    // input was rebuilt three times per doc by the inferred
    // size+isnotnull filter. The `when` also guards the 1-token doc:
    // Spark's sequence(0, -1) DESCENDS instead of returning empty,
    // which would fabricate a null bigram.
    val bi = toks
      .select(col("t"), explode(when(size(col("t")) >= 2,
          sequence(lit(0), size(col("t")) - 2))
        .otherwise(array().cast("array<int>"))).as("__i"))
      .select(element_at(col("t"), col("__i") + 1).as("w1"),
        element_at(col("t"), col("__i") + 2).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(uni, Seq("w1"))
  }

  /** Shared Kneser–Ney final expression — exact integer sufficient
    * statistics (c12, cctx, nf, nr, bt) in, one rounded double out,
    * spelled identically in Spark SQL and DuckDB. Discount fixed at
    * 0.75 (the standard choice); observed bigrams have c12 ≥ 1 so the
    * max(c−D, 0) clamp never fires.
    */
  private[graft] val kneserNeyExpr: String =
    "round((CAST(c12 AS DOUBLE) - 0.75) / CAST(cctx AS DOUBLE) " +
      "+ 0.75 * CAST(nf AS DOUBLE) / CAST(cctx AS DOUBLE) " +
      "* (CAST(nr AS DOUBLE) / CAST(bt AS DOUBLE)), 6)"

  /** Interpolated Kneser–Ney bigram probabilities — the canonical LM
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999): unlike add-one
    * (see [[bigramCrossEntropy]]), the backoff weight of a continuation
    * w2 is how many DISTINCT contexts it follows, not how often it
    * occurs — "Francisco" is frequent but predictable, so it gets tiny
    * continuation mass. P(w2|w1) = (c12−D)/cctx + D·N1+(w1·)/cctx ·
    * N1+(·w2)/|bigram types|. Over any context whose every observed
    * continuation is returned, the probabilities sum to exactly 1 minus
    * the mass reserved for UNSEEN continuations — the property the spec
    * pins.
    *
    * Scale: the corpus is touched once for bigram TYPE counts; the
    * forward/reverse/total statistics are three vocab-sized
    * aggregations over that table, and every probability is one shared
    * final expression over five exact integers.
    */
  def kneserNeyBigrams(docs: DataFrame, textCol: String,
      minCount: Long): DataFrame = {
    val bc = bigramCounts(docs, textCol).select("w1", "w2", "c12")
      .localCheckpoint(true) // feeds fwd, rev, tot AND the output rows
    val fwd = bc.groupBy("w1")
      .agg(sum(col("c12")).as("cctx"), count(lit(1)).as("nf"))
    val rev = bc.groupBy("w2").agg(count(lit(1)).as("nr"))
    val tot = bc.agg(count(lit(1)).as("bt"))
    bc.where(col("c12") >= minCount)
      .join(fwd, Seq("w1")).join(rev, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("p_kn", expr(kneserNeyExpr))
      .drop("bt")
  }

  /** Per-document bigram-LM cross-entropy — the perplexity-style quality
    * filter: train add-one-smoothed bigram probabilities on the corpus
    * itself, then score every document by its average negative log
    * likelihood (high avg_nll = improbable word transitions = boilerplate
    * / gibberish candidates). Swap the self-trained model for a clean
    * reference corpus to get the classic cross-corpus filter.
    *
    * Determinism: `-ln p` is rounded at 6 once per bigram TYPE (model
    * row), then per-doc totals are exact DECIMAL sums of those rounded
    * constants — order-independent, so the result replays bit-for-bit.
    * Docs with fewer than 2 tokens have no bigrams and are absent.
    *
    * Scale: the corpus is tokenized once (checkpoint barrier); the model
    * is vocabulary²-bounded-by-corpus (observed bigram types only); the
    * scoring join keys on (w1, w2) — gram-sized shuffles, map-side
    * combining on the per-doc sum, no driver state.
    */
  def bigramCrossEntropy(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = DataOps.parallelismFloor(
      docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("t")))
      .localCheckpoint(true)
    // Bigram rows by position explode (generator-input discipline,
    // optimization r15): the struct-array form paid its O(len) build
    // three times per doc (InferFiltersFromGenerate); the int sequence
    // is cheap and each token is referenced once after the Generate.
    val bi = toks
      .select(col(idCol), col("t"), explode(when(size(col("t")) >= 2,
          sequence(lit(0), size(col("t")) - 2))
        .otherwise(array().cast("array<int>"))).as("__i"))
      .select(col(idCol), element_at(col("t"), col("__i") + 1).as("w1"),
        element_at(col("t"), col("__i") + 2).as("w2"))
      .localCheckpoint(true) // feeds the model counts AND the scoring join
    val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    // |vocab| = the unigram table's row count (one row per distinct
    // token by construction) — optimization r14: the previous
    // countDistinct re-exploded every token of the corpus a THIRD time
    // for a number the vocab-sized `uni` table already carries.
    val vocab = uni.agg(count(lit(1)).as("v"))
    val model = bc.join(uni, Seq("w1")).crossJoin(broadcast(vocab))
      .withColumn("nll6",
        round(-log((col("c12") + lit(1)).cast("double") /
          (col("c1") + col("v")).cast("double")), 6).cast("decimal(30,6)"))
      .select("w1", "w2", "nll6")
    bi.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll6")).as("__s"))
      .withColumn("nll_total", col("__s").cast("double"))
      .withColumn("avg_nll",
        round(col("__s").cast("double") / col("n_bigrams").cast("double"), 6))
      .drop("__s")
  }

  /** Per-language tokenizer fertility audit over a trained BPE merge
    * chain — tokens-per-word and chars-per-token by language, the
    * multilingual-fairness readout every tokenizer report carries (a
    * language with 2× the fertility pays 2× the sequence length — and
    * 2× the compute and context budget — for the same text; the classic
    * under-represented-script tax). Fertility 1.0 means every word is
    * one piece; the ceiling is chars-per-word (full fragmentation).
    *
    * Exactness: piece counts per word TYPE come from the same greedy
    * merge-application fold as [[bpeEncode]] (replace semantics
    * identical in both engines); all per-language sums are exact longs;
    * the two ratios are shared half-rounded final expressions.
    *
    * Scale: the corpus is touched ONCE ((lang, word)-type aggregation);
    * the encode fold runs on the DISTINCT-word table (vocabulary-sized)
    * and joins back by word — the [[bpeTrain]] "iterate on the type
    * table" discipline applied to measurement.
    */
  def bpeFertility(docs: DataFrame, textCol: String, langCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val lw = DataOps.parallelismFloor(
        docs.select(col(langCol).as("lang"), col(textCol).as("__t"))
          .where(col("lang").isNotNull && col("__t").isNotNull))
      .select(col("lang"),
        explode(TextAnalysis.tokens(col("__t"))).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // feeds the distinct-word fold AND the join
    val enc = merges.foldLeft("s") { case (e, (l, r)) =>
      s"replace($e, '|$l|$r|', '|$l$r|')"
    }
    val wp = lw.select(col("word")).distinct()
      .withColumn("s",
        concat(lit("|"),
          array_join(transform(split(col("word"), ""), c => c), "|"),
          lit("|")))
      .select(col("word"),
        size(expr(s"filter(split($enc, '\\\\|'), x -> x != '')"))
          .cast("long").as("n_pieces"))
    lw.join(wp, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_pieces")).as("n_tokens"),
        sum(col("cnt") * length(col("word")).cast("long")).as("n_chars"),
        countDistinct(col("word")).as("n_types"))
      .withColumn("fertility", expr(Analytics.half6Sql(
        "CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)")))
      .withColumn("chars_per_token", expr(Analytics.half6Sql(
        "CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)")))
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join shapes Spark has no single operator for, composed scale-first.
  */
object Joins {

  /** As-of join: for every left row, attach `valueCols` from the latest
    * right row with `right.ts <= left.ts` on the same key (the
    * point-in-time lookup of time-series stores). Implemented as
    * union + one per-key window with a running `last(_, ignoreNulls)` —
    * NO range self-join (whose candidate set is O(|L|·|R|) per key before
    * pruning) and no per-row subquery: one shuffle of L∪R on the key,
    * one sort within partitions, linear scan. Right rows sort before
    * left rows on timestamp ties, so an exactly-simultaneous right row
    * is visible (inclusive as-of), and `tieCols` pins which right row
    * wins when several share a timestamp.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String],
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((Seq(col(tsCol), col("__side")) ++ tieCols.map(c => col(s"__tie_$c"))): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attached = valueCols.foldLeft(
        asofUnion(left, right, keyCols, tsCol, valueCols, tieCols)) { (df, c) =>
      df.withColumn(c, last(col(s"__v_$c"), ignoreNulls = true).over(w))
    }
    attached.where(col("__side") === 1)
      .select(left.columns.toSeq.map(col) ++ valueCols.map(col): _*)
  }

  /** The as-of joins' input: left rows (`__side` 1) and right rows
    * (`__side` 0) in one schema. Left rows carry their own columns,
    * right rows carry each value column as `__v_<c>` and each tie column
    * as a long `__tie_<c>`.
    */
  private def asofUnion(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], tsCol: String, valueCols: Seq[String],
      tieCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(valueCols.forall(!leftCols.contains(_)),
      s"valueCols ${valueCols.filter(leftCols.contains)} collide with left columns — alias them on the right side first")
    require(tieCols.forall(c => right.schema(c).dataType.typeName match {
      case "long" | "integer" | "short" | "byte" => true; case _ => false
    }), "tieCols must be integral (the greatest value wins timestamp ties)")
    val keys = keyCols.map(col)
    val lTagged = left
      .withColumn("__side", lit(1))
      .select(keys ++ Seq(col(tsCol), col("__side")) ++
        tieCols.map(c => lit(null).cast("long").as(s"__tie_$c")) ++
        leftCols.filterNot(keyCols.contains).filterNot(_ == tsCol).map(col) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__v_$c")): _*)
    val rTagged = right
      .withColumn("__side", lit(0))
      .select(keys ++ Seq(col(tsCol), col("__side")) ++
        tieCols.map(c => col(c).cast("long").as(s"__tie_$c")) ++
        leftCols.filterNot(keyCols.contains).filterNot(_ == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        valueCols.map(c => col(c).as(s"__v_$c")): _*)
    lTagged.unionByName(rTagged)
  }

  /** Forward as-of join — the mirror of [[asofJoin]]: attach the
    * EARLIEST right row with `right.ts >= left.ts` (inclusive). Same
    * union + one-window shape (no range self-join): rights sort after
    * lefts on timestamp ties so simultaneous rows are visible, tie
    * columns descending so the greatest tie value wins (matching the
    * backward direction's convention), and `first(_, ignoreNulls)` over
    * the FOLLOWING frame does the linear scan.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String],
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((Seq(col(tsCol), col("__side").desc) ++
        tieCols.map(c => col(s"__tie_$c").desc)): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val attached = valueCols.foldLeft(
        asofUnion(left, right, keyCols, tsCol, valueCols, tieCols)) { (df, c) =>
      df.withColumn(c, first(col(s"__v_$c"), ignoreNulls = true).over(w))
    }
    attached.where(col("__side") === 1)
      .select(left.columns.toSeq.map(col) ++ valueCols.map(col): _*)
  }

  /** Nearest as-of join (pandas `merge_asof(direction='nearest')`): the
    * right row minimizing |right.ts − left.ts| per key; exact-distance
    * ties go BACKWARD (the earlier row — the deterministic pin pandas
    * leaves unspecified). Composed from one backward and one forward
    * pass (two key-partitioned window scans — still no range
    * self-join); each pass also carries the matched timestamp so the
    * chooser is a row-local projection.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String],
      tieCols: Seq[String] = Nil): DataFrame = {
    val leftCols = left.columns.toSeq
    def tagged(prefix: String) = right.select(
      (keyCols.map(col) :+ col(tsCol)) ++
        (col(tsCol).as(s"${prefix}_ts") +:
          valueCols.map(c => col(c).as(s"${prefix}_$c"))) ++
        tieCols.map(col): _*)
    val bCols = s"__b_ts" +: valueCols.map(c => s"__b_$c")
    val fCols = s"__f_ts" +: valueCols.map(c => s"__f_$c")
    val withB = asofJoin(left, tagged("__b"), keyCols, tsCol, bCols, tieCols)
    val withBF = asofJoinForward(withB, tagged("__f"), keyCols, tsCol, fCols, tieCols)
    val db = unix_micros(col(tsCol)) - unix_micros(col("__b_ts"))
    val df_ = unix_micros(col("__f_ts")) - unix_micros(col(tsCol))
    val useB = col("__f_ts").isNull || (col("__b_ts").isNotNull && db <= df_)
    val chosen = valueCols.map(c =>
      when(useB, col(s"__b_$c")).otherwise(col(s"__f_$c")).as(c)) :+
      when(useB, col("__b_ts")).otherwise(col("__f_ts")).as("asof_ts")
    withBF.select(leftCols.map(col) ++ chosen: _*)
  }

  /** Keyless point-in-interval join via time binning: each interval
    * explodes to the fixed-width bins it covers, each point lands in
    * exactly one bin, and the join becomes an equi-join on the bin id
    * plus the exact containment predicate.
    *
    * This is the scale form of a range join with NO equi key: a plain
    * `points JOIN intervals ON ts BETWEEN start AND end` plans as a
    * nested loop (broadcast or cartesian — O(|P|·|I|) comparisons),
    * fine only while one side is tiny. Binning makes it a hash
    * shuffle partitioned by time bin: comparisons drop to candidates
    * sharing a bin, and both sides scale out. Each matching
    * (point, interval) pair appears exactly once (the point's single
    * bin), so no dedup pass is needed. Skew guard: a hot bin splits
    * under AQE; bin width trades explode factor (long intervals) against
    * candidate density — set it near the median interval length.
    */
  def pointInIntervalJoin(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binMinutes: Int = 15): DataFrame = {
    val binUs = binMinutes * 60L * 1000000L
    val pb = points.withColumn("__bin", floor(unix_micros(col(tsCol)) / binUs))
    // empty intervals ([t, t), end <= start) contain no instants: drop
    // them BEFORE binning — on a bin boundary their (first, last) bin
    // pair is descending and Spark's sequence() would explode the wrong
    // bins (spurious candidates at best)
    val ib = intervals.where(col(endCol) > col(startCol)).withColumn("__bin",
      explode(sequence(
        floor(unix_micros(col(startCol)) / binUs),
        // end is exclusive: the bin of the last included microsecond
        floor((unix_micros(col(endCol)) - 1) / binUs))))
    pb.join(ib, Seq("__bin"))
      .where(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__bin")
  }

  /** Interval × interval overlap join (half-open `[start, end)` on both
    * sides): pairs of intervals with `lStart < rEnd AND rStart < lEnd`.
    *
    * Same scale rationale as [[pointInIntervalJoin]] — the naive
    * inequality join plans as a nested loop — but with BOTH sides
    * exploded into their covered time bins and hash-joined on the bin.
    * An overlapping pair shares a CONTIGUOUS run of bins, so instead of
    * a dedup shuffle the pair is kept only in its first shared bin
    * (`bin == greatest(firstBin(l), firstBin(r))` — an exact, local
    * predicate): each matching pair emerges exactly once. Bin width
    * trades the explode factor of long intervals against per-bin
    * candidate density; a hot bin splits under AQE.
    */
  def intervalOverlapJoin(left: DataFrame, lStart: String, lEnd: String,
      right: DataFrame, rStart: String, rEnd: String,
      binMinutes: Int = 60): DataFrame = {
    val binUs = binMinutes * 60L * 1000000L
    // empty intervals ([t, t)) contain no instants so overlap nothing:
    // without the filter the half-open predicate below still lets [t, t)
    // match an interval containing t, and an empty interval on a bin
    // boundary makes sequence(first, last) DESCENDING — exploding wrong
    // bins (ADVICE r07). Filtering before binning removes both.
    def binned(df: DataFrame, s: String, e: String, first: String) = df
      .where(col(e) > col(s))
      .withColumn(first, floor(unix_micros(col(s)) / binUs))
      .withColumn("__bin", explode(sequence(
        col(first),
        // end is exclusive: the bin of the last included microsecond
        floor((unix_micros(col(e)) - 1) / binUs))))
    val lb = binned(left, lStart, lEnd, "__lf")
    val rb = binned(right, rStart, rEnd, "__rf")
    lb.join(rb, Seq("__bin"))
      .where(col(lStart) < col(rEnd) && col(rStart) < col(lEnd) &&
        col("__bin") === greatest(col("__lf"), col("__rf")))
      .drop("__bin", "__lf", "__rf")
  }

  /** Blocked fuzzy self-join (the candidate step of entity resolution):
    * pairs of rows sharing a cheap blocking key, kept when the edit
    * distance of their names is within `maxDist`. The block join is
    * key-equi — candidate generation is NEVER all-pairs; at 100 TB the
    * block key (phonetic code, prefix, sorted-token hash) bounds each
    * bucket, and the O(len²) levenshtein runs only inside buckets.
    * Emits (id_a, id_b, lev) with id_a < id_b.
    */
  def fuzzySelfJoin(df: DataFrame, idCol: String, nameCol: String,
      blockExpr: Column, maxDist: Int): DataFrame = {
    val blocked = df.select(col(idCol), col(nameCol), blockExpr.as("__blk"))
    val a = blocked.select(col(idCol).as("id_a"),
      col(nameCol).as("name_a"), col("__blk"))
    val b = blocked.select(col(idCol).as("id_b"),
      col(nameCol).as("name_b"), col("__blk"))
    a.join(b, Seq("__blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .where(col("lev") <= maxDist)
      .select(col("id_a"), col("id_b"), col("lev").cast("long").as("lev"))
  }

  /** EXACT edit-distance-1 self-join via deletion-neighborhood blocking
    * (FastSS): every record emits its name plus each single-character
    * deletion as block keys; two names within lev 1 — equal, one
    * substitution, or one indel — necessarily share a key, so the
    * variant-keyed equi-join finds ALL such pairs with NO similarity
    * threshold tuning and no user-chosen block.
    *
    * Why this is the 100 TB shape: a hand-picked prefix/suffix block has
    * bucket sizes that grow with the table (each bucket then pays
    * O(bucket²) levenshteins — measured 24 s at sf0.1 vs 1 s for this),
    * while deletion buckets hold only true near-matches + hash ties:
    * candidate volume is output-sized, not data²-sized, at ANY scale.
    * Cost is name-length× expansion of the key stream, nothing more.
    */
  def fuzzySelfJoinLev1(df: DataFrame, idCol: String, nameCol: String): DataFrame = {
    // parallelism floor (optimization r14): the variant explode + hash is
    // the CPU of this join, and a single-file input otherwise runs it in
    // 1-2 scan tasks — spread it across the cluster before the fan-out
    val names = DataOps.parallelismFloor(
      df.select(col(idCol).as("__id"), col(nameCol).as("__n")))
    // The exchange carries (8-byte key hash, id) ONLY — variant strings are
    // hashed before the shuffle, so key-stream volume is 16 bytes × (len+1)
    // per record regardless of name length. A hash collision can only ADD a
    // candidate (never lose one), and every candidate is verified by the
    // exact levenshtein below, so blocking stays exact.
    //
    // Variants are built AFTER a position explode (optimization r15):
    // the old shape built the full (len+1)-string variant array as the
    // generator input, which the optimizer's inferred size/notnull
    // filter re-evaluated twice more per row — three full variant
    // constructions per record. Exploding the deletion POSITION
    // (0 = the name itself) keeps the generator input a cheap int
    // sequence and cuts each variant string exactly once. The old
    // per-row array_union dedup is dropped: duplicate variants within a
    // record only duplicate candidate rows, and the candidate table is
    // `.distinct()`ed below — the output is identical.
    val keys = names
      .select(col("__id"), col("__n"),
        explode(sequence(lit(0), length(col("__n")))).as("__i"))
      .select(col("__id"), expr(
        """xxhash64(CASE WHEN __i = 0 THEN __n
          |  ELSE concat(substring(__n, 1, __i - 1),
          |              substring(__n, __i + 1, length(__n)))
          |END)""".stripMargin).as("__k"))
    val a = keys.select(col("__k"), col("__id").as("id_a"))
    val b = keys.select(col("__k"), col("__id").as("id_b"))
    val cand = a.join(b, Seq("__k"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // 16-byte pair rows, candidate volume is output-sized
    // Name rejoin for verification touches only the candidate pairs; the
    // name side auto-broadcasts when small and stays a key-equi join at
    // any scale.
    cand
      .join(names.select(col("__id").as("id_a"), col("__n").as("name_a")),
        Seq("id_a"))
      .join(names.select(col("__id").as("id_b"), col("__n").as("name_b")),
        Seq("id_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .where(col("lev") <= 1)
      .select(col("id_a"), col("id_b"), col("lev").cast("long").as("lev"))
  }

  /** EXACT set-similarity self-join (ppjoin-style prefix filtering):
    * all document pairs whose n-token shingle sets have Jaccard ≥ p/q —
    * the precise companion to the probabilistic MinHash/SimHash dedup
    * (those can miss or over-claim; this one is exact by construction).
    *
    * Prefix principle: order every shingle by ascending global frequency
    * (rarest first, ties by hash); if J(a,b) ≥ τ, the two prefixes of
    * length |s| − ⌈τ·|s|⌉ + 1 MUST share an element, so joining on
    * prefix shingles alone loses no true pair. Candidates are then
    * verified exactly with integer cross-multiplication
    * (q·inter ≥ p·union) — no float thresholds anywhere.
    *
    * Scale: the exchange under the candidate join carries (hash, id)
    * pairs from PREFIXES only (rare shingles → tiny buckets — the
    * frequency ordering is itself the skew guard); a length filter
    * (q·min ≥ p·max) prunes before the pair explodes; verification
    * re-joins the shingle table per surviving candidate — pair-sized,
    * not corpus-sized. Shingles are 8-byte hashes end to end.
    */
  def setSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, p: Int = 1, q: Int = 2): DataFrame = {
    require(p > 0 && q >= p, "threshold p/q must be in (0, 1]")
    // one hashed-shingle set per doc (first-appearance-deduped by the
    // kernel); docs with < n tokens drop out (the contamination rule)
    val sh = DataOps.parallelismFloor(
        docs.where(size(TextAnalysis.tokens(col(textCol))) >= n)
          .select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"),
        explode(TextShingles.word_shingle_hashes(col("__t"), n)).as("h"))
      .localCheckpoint(true) // feeds freq, prefixes, AND verification
    val freq = sh.groupBy("h").agg(count(lit(1)).as("__f"))
    // per-doc shingles sorted by (freq, hash): the global order exists
    // only inside each row's array — no rank table, no global window.
    // Every corpus-scale join below is pinned sort-merge: the
    // checkpointed frames carry no size statistics, so the planner would
    // otherwise gamble on broadcasting a corpus-sized side (observed OOM
    // at 100k docs — the shingle table is ~160 rows per doc), and a
    // shuffle-hash build side has no spill path (observed "cannot
    // acquire memory to build hash relation" at 200k docs); SMJ spills
    val sorted = sh.join(freq.hint("merge"), Seq("h"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__f"), col("h"))))
        .as("__s"))
      .withColumn("__n", size(col("__s")).cast("long"))
      // ⌈p·n/q⌉ = (p·n + q − 1) div q, all integer
      .withColumn("__plen",
        (col("__n") - floor((lit(p) * col("__n") + q - 1) / q) + 1L)
          .cast("int"))
      .localCheckpoint(true) // sizes reused for the length filter + union
    // slice to the prefix: posexplode keeps the position to compare
    val pref = sorted.select(col("__id"), col("__n"),
        posexplode(col("__s")).as(Seq("__pos", "__e")), col("__plen"))
      .where(col("__pos") < col("__plen"))
      .select(col("__id"), col("__n"), col("__e.h").as("h"))
    val cand = pref.as("a").join(pref.as("b").hint("merge"),
        col("a.h") === col("b.h") && col("a.__id") < col("b.__id") &&
          // J ≥ p/q forces q·min(n) ≥ p·max(n)
          lit(q) * least(col("a.__n"), col("b.__n")) >=
            lit(p) * greatest(col("a.__n"), col("b.__n")))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__n").as("n_a"), col("b.__n").as("n_b"))
      .distinct()
    val inter = cand
      .join(sh.select(col("__id").as("id_a"), col("h"))
        .hint("merge"), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("h"))
        .hint("merge"), Seq("id_b", "h"))
      .groupBy("id_a", "id_b")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        count(lit(1)).as("inter"))
    inter
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .where(lit(q) * col("inter") >= lit(p) * col("uni"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6)
          .as("jac"))
  }
}

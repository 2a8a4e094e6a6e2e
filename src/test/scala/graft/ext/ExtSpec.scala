package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.SparkTest

class ExtSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  // ---- text analysis -------------------------------------------------------

  test("tokens + quality features on a known string") {
    val df = Seq((1L, "The quick, brown fox! of the woods.")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityFeatures(df).head()
    assert(q.getAs[Long]("n_tokens") == 7L)
    assert(q.getAs[Long]("n_stopwords") == 2L)  // "the" x2 ("The" is capitalized -> not counted)
    assert(q.getAs[Long]("n_punct") == 3L)      // , ! .
  }

  test("fleschReadingEase: known counts; odd column names and empty text safe") {
    // "See Spot run." — 3 words, 1 sentence run, syllable groups:
    // e-e / o / u → see=1, spot=1, run=1 = 3
    val df = Seq((1L, "See Spot run."), (2L, ""))
      .toDF("doc_id", "the text") // space in the name breaks expr() strings
    val got = TextAnalysis.fleschReadingEase(df, "the text")
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    val (_, nw, ns, sy, fl) = got(0)
    assert((nw, ns, sy) == ((3L, 1L, 3L)))
    assert(math.abs(fl - (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-6)
    // empty text: split("") yields one empty token; the floored divisor
    // must keep the score finite and non-null either way
    assert(!got(1)._5.isNaN)
  }

  test("containmentPairs: subset doc detected one-way; jaccard misses it") {
    val small = "one two three four five six" // 4 trigrams, all inside big
    val big = small + " " + (1 to 20).map(i => s"extra$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select("id_contained", "id_container", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1.0))) // directed: small ⊂ big only
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    assert(jac.isEmpty) // union dominated by the big side
  }

  test("bpeTrain: hand-computed merges with deterministic tie-break") {
    // low×3 lower×2 newest×4 -> merge 1: (w,e)=6; merge 2: (l,o)=5;
    // merge 3: four pairs tie at 4, (e,we) wins lexicographically
    val docs = Seq(
      (1L, "low low low"), (2L, "lower lower"),
      (3L, "newest newest newest newest")).toDF("doc_id", "text")
    val m = Vocab.bpeTrain(docs, "text", merges = 3)
      .orderBy("rank")
      .select("rank", "left", "right", "merged", "pair_count")
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(m == Seq(
      (1L, "w", "e", "we", 6L),
      (2L, "l", "o", "lo", 5L),
      (3L, "e", "we", "ewe", 4L)))
  }

  test("bpeEncode: ranked merges apply in order; unmerged words stay char-split") {
    val docs = Seq((1L, "ab ab abc xy")).toDF("doc_id", "text")
    val got = Vocab.bpeEncode(docs, "text", Seq(("a", "b"), ("ab", "c")))
      .orderBy("piece").as[(String, Long)].collect().toSeq
    // "ab"x2 -> one piece each; "abc" -> merge 1 gives |ab|c|, merge 2
    // fuses it; "xy" has no applicable merge -> single chars
    assert(got == Seq(("ab", 2L), ("abc", 1L), ("x", 1L), ("y", 1L)))
  }

  test("bpeEncode with bpeTrain's merges reproduces the train chain's final state") {
    val docs = Seq(
      (1L, "low low low"), (2L, "lower lower"),
      (3L, "newest newest newest newest")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrain(docs, "text", merges = 3)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Vocab.bpeEncode(docs, "text", merges)
      .orderBy("piece").as[(String, Long)].collect().toSeq
    // after (w,e)(l,o)(e,we): low=|lo|w|, lower=|lo|we|r|, newest=|n|ewe|s|t|
    assert(got == Seq(
      ("ewe", 4L), ("lo", 5L), ("n", 4L), ("r", 2L),
      ("s", 4L), ("t", 4L), ("w", 3L), ("we", 2L)))
  }

  test("pointInIntervalJoin == naive range join; half-open boundaries") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, ts("2024-01-01 10:00:00")),          // == start: included
      (2L, ts("2024-01-01 10:59:59.999999")),   // last µs: included
      (3L, ts("2024-01-01 11:00:00")),          // == end: excluded
      (4L, ts("2024-01-01 13:30:00")),          // inside the long interval
      (5L, ts("2024-01-02 00:00:00"))           // matches nothing
    ).toDF("pid", "ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      (20L, ts("2024-01-01 10:30:00"), ts("2024-01-01 14:00:00")) // multi-bin
    ).toDF("iid", "w_start", "w_end")
    val binned = Joins.pointInIntervalJoin(points, "ts", intervals, "w_start", "w_end")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = points.crossJoin(intervals)
      .where(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(binned == naive)
    assert(binned == Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L), (4L, 20L)))
  }

  test("covarianceMatrix: hand-computed population covariance on a tiny corpus") {
    val df = Seq(
      Tuple1(Seq(1.0f, 2.0f)),
      Tuple1(Seq(3.0f, 4.0f)),
      Tuple1(Seq(5.0f, 12.0f))
    ).toDF("embedding")
    val m = Similarity.covarianceMatrix(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // means (3, 6); population covariances: xx 8/3, xy 20/3, yy 56/3
    assert(m((0L, 0L)) == 2.666667)
    assert(m((0L, 1L)) == 6.666667)
    assert(m((1L, 1L)) == 18.666667)
    assert(m.size == 3)
  }

  test("wordEntropy: zero for repetition, ln(n) for uniform, ttr exact") {
    val df = Seq(
      (1L, "spam spam spam spam"),          // one type -> entropy 0, ttr 1/4
      (2L, "a b c d"),                      // uniform over 4 -> ln(4)
      (3L, "x x y y")                       // uniform over 2 -> ln(2)
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.wordEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Double]("entropy") == 0.0)
    assert(rows(1L).getAs[Long]("n_types") == 1L)
    assert(rows(1L).getAs[Double]("ttr") == 0.25)
    assert(math.abs(rows(2L).getAs[Double]("entropy") - math.log(4)) < 2e-6)
    assert(math.abs(rows(3L).getAs[Double]("entropy") - math.log(2)) < 2e-6)
    assert(rows(3L).getAs[Long]("n_tokens") == 4L)
    assert(rows(3L).getAs[Long]("n_types") == 2L)
  }

  test("lang_id: marker heuristics on hand samples; CJK detection") {
    assert(TextAnalysis.langIdFn("the cat and the dog is in the house") == "en")
    assert(TextAnalysis.langIdFn("le chat est dans la maison pour une nuit") == "fr")
    assert(TextAnalysis.langIdFn("der hund ist nicht mit das haus und") == "de")
    assert(TextAnalysis.langIdFn("el perro está en las casas para una noche") == "es")
    assert(TextAnalysis.langIdFn("你好世界 这是一个测试") == "zh")
    assert(TextAnalysis.langIdFn("") == "und")
    assert(TextAnalysis.langIdFn("xyzzy plugh") == "und")
  }

  test("fingerprint stable under surrounding whitespace; kgram fps bounded") {
    val df = Seq((1L, "hello world document"), (2L, "  hello world document  "))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.kgramFingerprints(col("text"), k = 4, w = 8).as("kg"))
    val rows = df.collect()
    assert(rows(0).getLong(0) == rows(1).getLong(0))
    assert(rows(0).getSeq[Long](1) == rows(1).getSeq[Long](1))
    assert(rows(0).getSeq[Long](1).size <= 8)
  }

  test("scrub replaces urls/emails and collapses whitespace") {
    val df = Seq((1L, "see https://ex.com/a?b=1  and mail bob@test.org   now"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.scrub(col("text")).as("s"),
        TextAnalysis.countUrls(col("text")).as("u"),
        TextAnalysis.countEmails(col("text")).as("e"))
    val r = df.head()
    assert(r.getString(0) == "see <URL> and mail <EMAIL> now")
    assert(r.getLong(1) == 1L && r.getLong(2) == 1L)
  }

  test("repetitionRatio flags repeated n-grams; qualityFlags keep logic") {
    val rep = ("spam ham eggs " * 20).trim
    val ok = (1 to 60).map(i => s"tok$i the of").mkString(" ")
    val df = Seq((1L, rep), (2L, ok), (3L, "tiny doc")).toDF("doc_id", "text")
    val flags = TextAnalysis.qualityFlags(df)
      .select("doc_id", "rep_ratio", "flag_too_short", "flag_repetitive", "keep")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(flags(1L).getBoolean(3), "highly repetitive text must flag")
    assert(!flags(2L).getBoolean(3) && flags(2L).getBoolean(4), "normal text keeps")
    assert(flags(3L).getBoolean(2), "tiny doc flags too_short")
    assert(flags(1L).getDouble(1) > 0.9)
  }

  // ---- simhash -------------------------------------------------------------

  test("SimHash64 expression: eval == compute; identical text -> hamming 0") {
    val s = "spark dedup pipeline with many tokens here"
    val df = Seq((1L, s), (2L, s), (3L, s + " changed slightly at end"))
      .toDF("id", "text")
      .select(col("id"), SimHash64.simhash64(col("text")).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) == SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    val hamming = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(hamming > 0 && hamming <= 20, s"hamming=$hamming")
  }

  test("simhashPairs finds near-identical docs, skips unrelated ones") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("token7", "tokenX")),             // 1-token edit
      (3L, (100 to 140).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  // ---- minhash / jaccard ---------------------------------------------------

  test("MinHashSig kernel == composed splitmix64 formulation, bit for bit") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, "short"),
      (3L, "a b c a b c a b c")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      TextShingles.word_shingle_hashes(col("text"), 3).as("sh"))
    val native = sh.select(col("doc_id"),
      MinHashSig.minhash_signature(col("sh"), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val composed = sh.select(col("doc_id"),
      Dedup.minhashSignature(col("sh"), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == composed)
  }

  test("minhashPairs estimates track exact n-gram jaccard on duplicates") {
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val near = ((1 to 48).map(i => s"w$i") ++ Seq("zz", "yy")).mkString(" ")
    val far = (200 to 250).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")

    val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(mh((1L, 2L)) == 1.0)                       // identical docs
    assert(mh.contains((1L, 3L)) && mh.contains((2L, 3L)))
    assert(!mh.contains((1L, 4L)) && !mh.contains((3L, 4L)))

    val ex = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(ex((1L, 2L)) == 1.0)
    // estimate within 0.25 of exact for the near pair
    assert(math.abs(mh((1L, 3L)) - ex((1L, 3L))) < 0.25,
      s"est=${mh((1L, 3L))} exact=${ex((1L, 3L))}")
  }

  test("dedupByMinhash: clusters transitively, keeps min id per cluster") {
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val b = ((1 to 47).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val c = ((1 to 44).map(i => s"w$i") ++ Seq("x1", "x2", "x3", "y1", "y2", "y3")).mkString(" ")
    val other = (200 to 250).map(i => s"q$i").mkString(" ")
    // a~b and b~c are near; a~c may only connect transitively via b
    val docs = Seq((10L, a), (20L, b), (30L, c), (40L, other)).toDF("doc_id", "text")
    val res = Dedup.dedupByMinhash(docs, "doc_id", "text", threshold = 0.6)
      .select("id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(res(10L)._1 == 10L && res(10L)._2)
    assert(res(20L)._1 == 10L && !res(20L)._2)
    assert(res(30L)._1 == 10L && !res(30L)._2)
    assert(res(40L)._1 == 40L && res(40L)._2, "singleton keeps itself")
  }

  test("packSequences: packs respect the budget, cover every doc, deterministic") {
    val docs = (1L to 200L).map(i => (i, 10L + (i * 37) % 300)).toDF("doc_id", "n_tokens")
    val packed = Packing.packSequences(docs, "doc_id", "n_tokens", budget = 512)
      .as[(Long, Long, Long, Int, Boolean)].collect()
    assert(packed.length == 200)
    assert(packed.map(_._1).distinct.length == 200, "every doc packed exactly once")
    // per-pack token sums within budget unless the pack is a single oversize doc
    val byPack = packed.groupBy(_._3)
    for ((pid, members) <- byPack) {
      val tokens = members.map(_._2).sum
      if (tokens > 512)
        assert(members.length == 1 && members.head._5, s"pack $pid overflows: $tokens")
    }
    // pack_seq is 0-based and contiguous within a pack
    for ((_, members) <- byPack)
      assert(members.map(_._4).sorted.toSeq == (0 until members.length))
    // deterministic across runs
    val again = Packing.packSequences(docs, "doc_id", "n_tokens", budget = 512)
      .as[(Long, Long, Long, Int, Boolean)].collect()
    assert(packed.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // greedy next-fit on this data must actually pack (not one doc per pack)
    assert(byPack.size < 120, s"suspiciously many packs: ${byPack.size}")
  }

  test("profile counts nulls and distincts; weightedMixture replicates by epoch") {
    val df = Seq((1L, "a", "x"), (2L, null, "x"), (3L, "a", "y"), (4L, "b", null))
      .toDF("id", "s", "t")
    val prof = DataOps.profile(df, Seq("id", "s", "t"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(prof("id") == ((4L, 0L, 4L)))
    assert(prof("s") == ((4L, 1L, 2L)))
    assert(prof("t") == ((4L, 1L, 2L)))

    val mixed = DataOps.weightedMixture(
      Seq((1L, "wiki"), (2L, "web"), (3L, "junk")).toDF("id", "src"),
      "src", Map("wiki" -> 3, "web" -> 1, "junk" -> 0))
      .select("id", "rep").as[(Long, Long)].collect().sorted
    assert(mixed.toSeq == Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L)))
  }

  test("scd2 collapses runs into validity intervals") {
    val ev = Seq(
      (1L, "a", 10L, 1L), (1L, "a", 20L, 2L), (1L, "b", 30L, 3L),
      (1L, "a", 40L, 4L), (2L, "x", 10L, 5L))
      .toDF("k", "state", "ts", "id")
    val got = DataOps.scd2(ev, Seq("k"), "state", "ts", Seq("id"))
      .select("k", "state", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().sortBy(r => (r._1, r._3))
    assert(got.toSeq == Seq(
      (1L, "a", 10L, Some(30L), false),   // run a[10,20] collapsed
      (1L, "b", 30L, Some(40L), false),
      (1L, "a", 40L, None, true),         // state returns -> new interval
      (2L, "x", 10L, None, true)))
  }

  test("capPerGroup keeps first n per group in pinned order") {
    val df = (1L to 20L).map(i => (i, s"g${i % 2}")).toDF("id", "g")
    val got = DataOps.capPerGroup(df, Seq("g"), Seq("id"), n = 3)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "g1"), (2L, "g0"), (3L, "g1"),
      (4L, "g0"), (5L, "g1"), (6L, "g0")))
  }

  test("ngramOverlap counts reference hits; hashed variant agrees") {
    val corpus = Seq(
      (1L, "a b c d e f"),        // grams: 4 bigrams? n=3 -> a b c, b c d, c d e, d e f
      (2L, "x y z w q r"),
      (3L, "a b"),                         // < n tokens: drops out in BOTH modes
      (4L, "A B C D e f")).toDF("doc_id", "text")  // case-folds to doc1's grams
    val ref = Seq((9L, "b c d e zz"), (10L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramOverlap(corpus, ref, "doc_id", "text", n = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc1: 4 distinct trigrams, hits = {b c d, c d e} = 2; doc2: 4, 0 hits
    assert(got(1L) == ((4L, 2L)))
    assert(got(2L) == ((4L, 0L)))
    // doc3 has < n tokens: no grams, absent from the result (and the short
    // ref doc contributes no grams either — no whole-text-hash phantom hit)
    assert(!got.contains(3L))
    // doc4: uppercase case-folds to doc1's grams — same counts in both modes
    assert(got(4L) == ((4L, 2L)))
    val hashed = TextAnalysis.ngramOverlap(corpus, ref, "doc_id", "text", n = 3, hashed = true)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(hashed == got, "hash-kernel contamination must agree with string grams")
  }

  test("bloomPrefilteredJoin equals the plain join (no false negatives)") {
    val big = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "payload")
    val small = Seq(3L, 1000L, 4999L, 7777L).map(k => (k, s"dim$k")).toDF("dk", "attr")
    val got = Skew.bloomPrefilteredJoin(big, small, "k", "dk", expectedKeys = 10)
      .select("k", "payload", "attr").as[(Long, String, String)].collect().sortBy(_._1)
    val exact = big.join(small, col("k") === col("dk"))
      .select("k", "payload", "attr").as[(Long, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == exact.toSeq && exact.length == 3)

    val bigS = big.select(concat(lit("k"), col("k")).as("k"), col("payload"))
    val smallS = small.select(concat(lit("k"), col("dk")).as("dk"), col("attr"))
    val gotS = Skew.bloomPrefilteredJoin(bigS, smallS, "k", "dk", expectedKeys = 10)
      .select("k", "attr").as[(String, String)].collect().sorted
    assert(gotS.length == 3)
  }

  test("asofJoin attaches latest at-or-before right value; ties inclusive") {
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (1L, 5L, "l0"), (2L, 10L, "l3"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 10L, 100L, 1L), (1L, 10L, 200L, 2L), (1L, 15L, 300L, 3L))
      .toDF("k", "ts", "rv", "rid")
    val got = Joins.asofJoin(left, right, Seq("k"), "ts", Seq("rv"), tieCols = Seq("rid"))
      .select("k", "ts", "tag", "rv")
      .as[(Long, Long, String, Option[Long])].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 5L, "l0", None),          // before any right row
      (1L, 10L, "l1", Some(200L)),   // simultaneous right row visible; max rid wins tie
      (1L, 20L, "l2", Some(300L)),   // latest at-or-before
      (2L, 10L, "l3", None)))        // no right rows for this key
  }

  test("native kernels are callable from SQL after registration") {
    graft.Graft.registerFunctions(spark)
    val r = spark.sql(
      """SELECT graft_simhash64('hello world') AS sh,
        |       graft_word_shingle_hashes('a b c d', 2) AS ws,
        |       graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       graft_minhash(graft_word_shingle_hashes('a b c d', 2), 8) AS mh""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
    assert(r.getSeq[Long](1).length == 3)
    assert(r.getDouble(2) == 11.0)
    assert(r.getSeq[Long](3).length == 8)
  }

  test("TrainingSet.assemble: each stage drops what it should") {
    val base = "the quick brown fox jumps over one lazy dog while nine cats watch the show tonight"
    val corpus = Seq(
      (1L, base + " alpha beta gamma delta epsilon", "wiki"),
      (2L, base + " alpha beta gamma delta epsilon", "wiki"),     // exact dup of 1
      (3L, base + " alpha beta gamma delta zeta", "wiki"),        // near dup of 1
      (4L, "too short", "wiki"),                                   // quality drop
      (5L, "benchmark sentence about unique topics" + " with many extra filler words to pass the quality gate easily", "web"),
      (6L, "completely different content about oceans rivers mountains valleys deserts and forests everywhere", "web"),
      (7L, "junk source content that is long enough to pass the ten token quality gate fine", "junk"))
      .toDF("doc_id", "text", "source")
    val benchmark = Seq(
      (99L, "benchmark sentence about unique topics with many extra filler words to pass the gate", "bench"))
      .toDF("doc_id", "text", "source")

    val out = graft.ext.TrainingSet.assemble(corpus, benchmark,
      weights = Map("wiki" -> 2, "web" -> 1, "junk" -> 0),
      tokenBudget = 64, maxContamination = 0.5, ngram = 3)
      .select("doc_id", "rep").as[(Long, Long)].collect().sorted

    // 2 dropped (exact dup), 3 dropped (near dup), 4 dropped (quality),
    // 5 dropped (contaminated vs benchmark), 7 dropped (weight 0);
    // 1 kept at weight 2, 6 kept at weight 1
    assert(out.toSeq == Seq((1L, 1L), (1L, 2L), (6L, 1L)), out.toSeq.toString)
  }

  test("bottomKByHash: deterministic, mergeable, matches the exact bottom-k") {
    val df = (1L to 5000L).map(i => (i, s"g${i % 3}")).toDF("id", "g").repartition(8)
    val got = df.groupBy("g").agg(Aggs.bottomKByHash(col("id"), 5).as("sample"))
      .as[(String, Seq[Long])].collect().toMap
    // oracle: exact min-5 of mix64(id) per group, computed driver-side
    val exact = (1L to 5000L).groupBy(i => s"g${i % 3}").view
      .mapValues(_.toSeq.sortBy(Aggs.mix64).take(5)).toMap
    for ((g, ids) <- exact) assert(got(g).toSet == ids.toSet, g)
    // deterministic across a different partitioning (merge order changes)
    val again = df.repartition(3).groupBy("g")
      .agg(Aggs.bottomKByHash(col("id"), 5).as("sample"))
      .as[(String, Seq[Long])].collect().toMap
    assert(again.view.mapValues(_.toSet).toMap == got.view.mapValues(_.toSet).toMap)
  }

  test("exact dedup keeps min id per duplicate group") {
    val docs = Seq((5L, "aaa"), (2L, "aaa"), (9L, "bbb")).toDF("doc_id", "text")
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 2L), (9L, 1L)))
  }

  // ---- similarity ----------------------------------------------------------

  /** Clustered vectors: `n` per cluster around `c` orthogonal-ish centers. */
  private def clustered(nClusters: Int, perCluster: Int, dim: Int): Seq[(Long, Array[Float], Int)] = {
    val rnd = new Random(42)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian().toFloat)
    (0 until nClusters).flatMap { c =>
      (0 until perCluster).map { i =>
        val v = centers(c).zipWithIndex.map { case (x, d) =>
          x + 0.05f * rnd.nextGaussian().toFloat }
        ((c * perCluster + i).toLong, v, c)
      }
    }
  }

  test("cosineTopK: nearest neighbors come from the same cluster") {
    val data = clustered(8, 10, 32)
    val df = data.toDF("vec_id", "embedding", "cluster")
    val queries = df.where(col("vec_id") % 10 === 0) // one per cluster
    val top = Similarity.cosineTopK(queries, df, k = 3)
    val byCluster = data.map(t => t._1 -> t._3).toMap
    val rows = top.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    val sameCluster = rows.count { case (q, n) => byCluster(q) == byCluster(n) }
    assert(sameCluster == rows.length, s"$sameCluster/${rows.length} same-cluster")
  }

  test("lshTopK recall vs exact on clustered data >= 0.8") {
    val data = clustered(8, 10, 32)
    val df = data.toDF("vec_id", "embedding", "cluster")
    val queries = df.where(col("vec_id") % 10 === 0)
    val exact = Similarity.cosineTopK(queries, df, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(queries, df, k = 3, bits = 16, bands = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("nearDupPairs (LSH) recall vs exact pairs >= 0.9 on clustered data") {
    val data = clustered(6, 6, 32)
    val df = data.toDF("vec_id", "embedding", "cluster")
    val exact = Similarity.nearDupPairsExact(df, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairs(df, threshold = 0.95, bits = 16, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact))  // verification step keeps only true pairs
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${lsh.size}/${exact.size})")
  }

  test("IVF: centroids converge to clusters; probed search recall >= 0.9") {
    // 10 cells for 8 clusters, and ids permuted so they don't enumerate
    // clusters in order: fit's stride-sampled init spans the ID range, so
    // cluster-sorted ids make init coverage an id-layout lottery (real
    // corpora don't sort ids by semantic cluster). 13 is coprime with 80
    // -> a bijection that interleaves clusters across the id space.
    val data = clustered(8, 10, 32)
      .map { case (id, v, c) => ((id * 13) % 80, v, c) }
    val df = data.toDF("vec_id", "embedding", "cluster")
    val centroids = Ivf.fit(df, nCells = 10, iterations = 2)
    assert(centroids.count() == 10)
    // the determinism contract behind the ann_ivf oracle: scaled-long
    // Lloyd sums + driver-side argmax make fit bit-identical across
    // partitionings
    val c1 = Ivf.fit(df.repartition(1), nCells = 10, iterations = 2)
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    val c32 = Ivf.fit(df.repartition(32), nCells = 10, iterations = 2)
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    assert(c1 == c32)
    val assigned = Ivf.assign(df, centroids)
    // cluster quality: cells map to true clusters on average; a single
    // boundary cell straddling two clusters is single-init k-means luck
    // (cosine assignment cannot split near-collinear centers), so the
    // bound is mean purity + a 2-way-straddle floor, not per-cell 1.0
    val byCluster = data.map(t => t._1 -> t._3).toMap
    val purity = assigned.select("id", "cell").as[(Long, Int)].collect()
      .groupBy(_._2).values.map { members =>
        val cls = members.map(m => byCluster(m._1))
        cls.groupBy(identity).values.map(_.size).max.toDouble / cls.size
      }
    val mean = purity.sum / purity.size
    assert(mean >= 0.9, s"mean purity $mean: ${purity.mkString(",")}")
    assert(purity.forall(_ >= 0.5), s"cell purity: ${purity.mkString(",")}")

    val queries = df.where(col("vec_id") % 10 === 0)
    val exact = Similarity.cosineTopK(queries, df, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.search(queries, assigned, centroids, k = 3, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"ivf recall=$recall")
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    val big = (1 to 5000).map(i => (if (i % 10 < 8) 1L else i.toLong % 50, s"row$i"))
      .toDF("k", "payload") // 80% of rows share key 1 — the hot key
    val small = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "dim_val")
    val plain = big.join(small, Seq("k")).select("k", "payload", "dim_val")
      .as[(Long, String, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(big, small, "k", factor = 8)
      .select("k", "payload", "dim_val")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(salted == plain)
    val hot = Skew.hotKeys(big, "k", n = 1).as[(Long, Long)].head()
    assert(hot._1 == 1L && hot._2 == 4000L)
  }

  // ---- multimodal ----------------------------------------------------------

  test("multimodal plumbing: schema, batch decode stub, frame sampling") {
    val docs = Seq((1L, "x" * 200), (2L, "y" * 63)).toDF("doc_id", "text")
    val media = Multimodal.mediaTable(
      docs.select(col("doc_id"), encode(col("text"), "utf-8").as("payload")),
      "doc_id", "payload", "video", "fake")

    val feats = Multimodal.decodeStub(media, dim = 16).collect()
    assert(feats.map(_.media_id).toSet == Set(1L, 2L))
    assert(feats.forall(_.features.length == 16))
    assert(feats.find(_.media_id == 1L).get.byte_len == 200L)

    // determinism of the stub
    val feats2 = Multimodal.decodeStub(media, dim = 16).collect()
    assert(feats.sortBy(_.media_id).zip(feats2.sortBy(_.media_id))
      .forall { case (a, b) => a.features.sameElements(b.features) })

    val frames = Multimodal.sampleFrames(media, frameSize = 64, stride = 2).collect()
    // doc 1: 200/64 = 3 frames at stride 2 -> idx 0, 2 -> 2 rows; doc 2: 0
    assert(frames.count(_.media_id == 1L) == 2)
    assert(frames.count(_.media_id == 2L) == 0)
    assert(frames.forall(_.frame_payload.length == 64))

    val resized = Multimodal.resizeStub(media, 224, 224).collect()
    assert(resized.forall(m => m.width == 224 && m.height == 224))
  }

  test("incrementalNew: unseen docs survive, seen drop, batch dups keep min id") {
    val existing = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha"),  // already ingested -> drop
      (11L, "gamma"),  // new -> keep
      (12L, "gamma"),  // within-batch dup -> drop (11 is smaller)
      (13L, "delta")   // new -> keep
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNew(fresh, existing, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(11L, 13L))
  }

  // ---- hash expressions / fractional mixture / grouped packing ------------

  test("Mix64 expression matches Aggs.mix64; uniform01 in [0,1)") {
    val ids = Seq(0L, 1L, 42L, -7L, Long.MaxValue, Long.MinValue)
    val rows = ids.toDF("id")
      .select(col("id"), HashExprs.mix64(col("id")).as("h"),
        HashExprs.uniform01(col("id")).as("u"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == Aggs.mix64(r.getLong(0)))
      val u = r.getDouble(2)
      assert(u >= 0.0 && u < 1.0)
    }
  }

  test("weightedMixtureFractional: base reps always, extra rep iff u < frac") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val out = DataOps.weightedMixtureFractional(df, "src", "id",
      Map("a" -> 2.5, "b" -> 0.25))
    val reps = out.groupBy("id").agg(max("rep").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 200L).foreach { i =>
      val u = (Aggs.mix64(i) >>> 11).toDouble / 9007199254740992.0
      val w = if (i % 2 == 0) 2.5 else 0.25
      val expect = w.toLong + (if (u < w - w.floor) 1L else 0L)
      assert(reps.getOrElse(i, 0L) == expect, s"id=$i")
    }
    // rep indices are dense 1..n
    assert(out.where(col("rep") < 1).isEmpty)
  }

  test("packSequencesByGroup: deterministic next-fit per group, repartition-invariant") {
    val docs = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L), ("a", 4L, 300L),
      ("b", 10L, 50L), ("b", 11L, 50L), ("b", 12L, 250L))
      .toDF("src", "id", "n")
    def run(d: org.apache.spark.sql.DataFrame) =
      Packing.packSequencesByGroup(d, "src", "id", "n", budget = 256)
        .orderBy("group", "id").collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(3), r.getInt(4), r.getBoolean(5)))
    val got = run(docs)
    // group a: 100+100 fits (pack 0), 100 starts pack 1, 300 oversize -> pack 2
    // group b: 50+50 (pack 0), 250 -> pack 1
    assert(got.toSeq == Seq(
      ("a", 1L, 0L, 0, false), ("a", 2L, 0L, 1, false),
      ("a", 3L, 1L, 0, false), ("a", 4L, 2L, 0, true),
      ("b", 10L, 0L, 0, false), ("b", 11L, 0L, 1, false),
      ("b", 12L, 1L, 0, false)))
    assert(run(docs.repartition(7)).toSeq == got.toSeq)
  }

  test("parallelismFloor raises under-split inputs, leaves wide inputs alone") {
    val one = spark.range(100).coalesce(1).toDF()
    assert(DataOps.parallelismFloor(one).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    val wide = spark.range(100).repartition(spark.sparkContext.defaultParallelism + 3)
    assert(DataOps.parallelismFloor(wide.toDF()).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism + 3)
  }

  test("components: driver union-find and distributed propagation agree") {
    // chain 0-1-2-3, star 10-{11,12,13}, chain-with-cycle 20-21-22-20,
    // plus a long path to exercise pointer jumping
    val edges = Seq((0L,1L),(1L,2L),(2L,3L),(10L,11L),(10L,12L),(10L,13L),
      (20L,21L),(21L,22L),(22L,20L)) ++ (30L until 60L).map(i => (i, i + 1))
    val pairs = edges.toDF("id_a", "id_b")
    val local = Dedup.components(pairs)                      // fast path
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.components(pairs, smallGraphMaxPairs = 0) // forced distributed
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local(3L) == 0L && local(13L) == 10L && local(22L) == 20L
      && local(60L) == 30L)
  }

  test("chunkTokens: stride windows cover every token, last chunk short") {
    // 100 tokens, window 64 / stride 48 -> chunks at 0 (64), 48 (52), 96 (4)
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val got = Packing.chunkTokens(df, "doc_id", "text", window = 64, stride = 48)
      .orderBy("chunk_id")
      .select("chunk_id", "n_in_chunk", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(c => (c._1, c._2)) == Seq((0L, 64L), (1L, 52L), (2L, 4L)))
    assert(got(0)._3.startsWith("t1 t2 ") && got(0)._3.endsWith(" t64"))
    assert(got(1)._3.startsWith("t49 ") && got(1)._3.endsWith(" t100"))
    assert(got(2)._3 == "t97 t98 t99 t100")
    // a short doc still yields exactly one chunk
    val one = Packing.chunkTokens(Seq((1L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", window = 64, stride = 48)
      .select("n_in_chunk").as[Long].collect().toSeq
    assert(one == Seq(2L))
  }

  test("chunkTokens invariants hold across window/stride combinations") {
    // property-style sweep: every token covered, chunk sizes within
    // window, adjacent chunks overlap by exactly window - stride (when
    // full), ids dense from 0
    val rnd = new Random(7)
    val docs = (1L to 12L).map { id =>
      (id, (0 until (1 + rnd.nextInt(300))).map(i => s"t${id}_$i").mkString(" "))
    }.toDF("doc_id", "text")
    for ((w, st) <- Seq((64, 48), (32, 32), (10, 3))) {
      val chunks = Packing.chunkTokens(docs, "doc_id", "text", w, st)
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      docs.as[(Long, String)].collect().foreach { case (id, text) =>
        val toks = text.trim.split("\\s+")
        val cs = chunks(id)
        assert(cs.map(_._2).toSeq == cs.indices.map(_.toLong), "chunk ids not dense")
        assert(cs.forall(_._3 <= w), "chunk exceeds window")
        // coverage: the union of [k*st, k*st + n_in_chunk) is [0, n)
        val covered = cs.flatMap(c =>
          (c._2 * st) until (c._2 * st + c._3)).toSet
        assert(covered == toks.indices.map(_.toLong).toSet,
          s"doc $id window=$w stride=$st: coverage gap")
        // text slices reassemble from the token array
        cs.foreach { c =>
          val want = toks.slice((c._2 * st).toInt, (c._2 * st).toInt + w)
            .mkString(" ")
          assert(c._4 == want)
        }
      }
    }
  }

  test("invertedIndex: df counts distinct docs, postings sorted") {
    val docs = Seq(
      (3L, "spark join join spark"),   // dup tokens: one posting only
      (1L, "vector spark"),
      (2L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val got = Ranking.invertedIndex(docs, "doc_id", "text",
        Seq("spark", "join", "vector"))
      .orderBy("term").select("term", "df", "postings")
      .as[(String, Long, String)].collect().toSeq
    assert(got == Seq(
      ("join", 1L, "3"), ("spark", 2L, "1,3"), ("vector", 1L, "1")))
  }

  test("randomProject: matches the driver-side sign-matrix recompute") {
    val rnd = new Random(5)
    val data = (0L until 20L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = data.toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df.repartition(7), k = 4, dIn = 8)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val signs = Similarity.projectionSigns(8, 4)
    val want = (for {
      (id, v) <- data
      d <- 0 until 4
    } yield {
      val sum = (0 until 8).map { i =>
        BigDecimal(v(i).toDouble * signs(d)(i))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (id, d.toLong, sum.toDouble)
    }).sorted
    assert(got == want)
  }

  test("mergeAggState: chained delta merges equal the single-pass aggregate") {
    val full = Seq(
      ("a", Some(1.5)), ("a", Some(-2.25)), ("a", None),
      ("b", Some(7.0)), ("b", Some(0.125)), ("c", None))
      .toDF("k", "value")
    // three arbitrary delta batches, merged pairwise
    val parts = Seq(full.limit(2), full.offset(2).limit(2), full.offset(4))
    val merged = parts.map(p => DataOps.aggState(p, Seq("k"), "value"))
      .reduce((a, b) => DataOps.mergeAggState(a, b, Seq("k")))
      .select(col("k"), col("cnt"), col("sum6").cast("double"),
        col("vmin"), col("vmax"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq.sortBy(_._1)
    val single = DataOps.aggState(full, Seq("k"), "value")
      .select(col("k"), col("cnt"), col("sum6").cast("double"),
        col("vmin"), col("vmax"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq.sortBy(_._1)
    assert(merged == single)
    assert(single == Seq(
      ("a", 2L, Some(-0.75), Some(-2.25), Some(1.5)),
      ("b", 2L, Some(7.125), Some(0.125), Some(7.0)),
      ("c", 0L, None, None, None)))
  }

  test("duplicatedSpans: planted shared run flagged, spans merge, unique doc clean") {
    // docs 1 and 2 share tokens 0..9 (two overlapping 8-gram windows ->
    // ONE merged span of 10 tokens); doc 3 shares nothing
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " a1 a2 a3 a4"),
      (2L, shared + " b1 b2 b3 b4"),
      (3L, (1 to 14).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "dup_tokens", "n_spans")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 14L, 10L, 1L), (2L, 14L, 10L, 1L), (3L, 14L, 0L, 0L)))
  }

  test("duplicatedSpans: within-doc repeat counts as duplication") {
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq((1L, run + " mid " + run)).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedSpans(docs, "doc_id", "text", k = 8).head()
    // both occurrences of the 8-run are covered; "mid" is not
    assert(got.getAs[Long]("dup_tokens") == 16L)
    assert(got.getAs[Long]("n_spans") == 2L)
  }

  test("removeBoilerplate: top trigram stripped everywhere, order preserved") {
    // "x y z" appears in all three docs -> the single top-1 trigram;
    // remaining tokens re-assemble in original order
    val docs = Seq(
      (1L, "a x y z b"),
      (2L, "x y z c d"),
      (3L, "e f x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(docs, "doc_id", "text", n = 3, topN = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 3L, "a b"), (2L, 5L, 3L, "c d"), (3L, 5L, 3L, "e f")))
  }

  test("collocationLift: hand-computed lifts, window respects doc boundary") {
    // 3 docs, 6 tokens, 3 pairs; lift(x,y) = (2/3)/((3/6)*(2/6)) = 4.0
    // and lift(x,z) = (1/3)/((3/6)*(1/6)) = 4.0 — both exact in doubles
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x z")).toDF("doc_id", "text")
    val got = TextAnalysis.collocationLift(docs, "doc_id", "text",
      window = 4, minCount = 1)
      .orderBy("a", "b").as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("x", "y", 2L, 4.0), ("x", "z", 1L, 4.0)))
  }

  test("collocationLift: minCount prunes and window bounds the pair distance") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val pairs = TextAnalysis.collocationLift(docs, "doc_id", "text",
      window = 2, minCount = 1)
      .select("a", "b").as[(String, String)].collect().toSet
    // distance <= 2 only: (a,b),(a,c) but never (a,d)
    assert(pairs.contains(("a", "b")) && pairs.contains(("a", "c")))
    assert(!pairs.contains(("a", "d")))
    val none = TextAnalysis.collocationLift(docs, "doc_id", "text",
      window = 2, minCount = 2)
    assert(none.isEmpty)
  }

  test("semanticDedup: planted near-identical vectors dropped, keeper is nearest-to-centroid") {
    val rnd = new Random(7)
    // random directions (pairwise cosine ~ N(0, 1/16), never near 0.99)
    // + one exact-duplicate pair
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0L until 20L).map(i => (i, vec()))
    val dup = Seq((100L, base.head._2.clone())) // exact copy of vec 0
    val df = (base ++ dup).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, k = 4, band = 8, tau = 0.99)
      .orderBy("vec_id").collect()
    val dropped = got.filter(r => !r.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id"))
    assert(dropped.toSeq == Seq(100L)) // the copy goes, the original stays
    val nn = got.find(_.getAs[Long]("vec_id") == 100L).get.getAs[Double]("nn_cos")
    assert(nn == 1.0)
    // everything else survives a 0.99 threshold in gaussian noise
    assert(got.count(_.getAs[Boolean]("keep")) == 20)
  }

  test("IVF index maintenance is incremental: assign deltas, never refit") {
    // the production pattern at scale: fit once, then per period assign
    // only the new vectors against the frozen centroids — assignment is
    // per-row, so (assign all) == (assign v1) UNION (assign delta) and
    // search over the union is search over the full index
    val rnd = new Random(19)
    val all = (0L until 300L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val v1 = all.take(200).toDF("vec_id", "embedding")
    val delta = all.drop(200).toDF("vec_id", "embedding")
    val full = all.toDF("vec_id", "embedding")
    val centroids = Ivf.fit(v1, nCells = 8, iterations = 2)
    val incremental = Ivf.assign(v1, centroids)
      .unionByName(Ivf.assign(delta, centroids))
    val oneShot = Ivf.assign(full, centroids)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(rows(incremental) == rows(oneShot))
    val queries = full.orderBy("vec_id").limit(5)
    def hits(a: org.apache.spark.sql.DataFrame) =
      Ivf.search(queries, a, centroids, k = 3, nProbe = 2)
        .selectExpr("query_id", "neighbor_id", "CAST(rank AS LONG) AS rank")
        .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._3)).toSeq
    assert(hits(incremental) == hits(oneShot))
  }

  test("countMin: never undercounts, counters stay depth x width, halves merge by summing") {
    val keys = spark.range(0, 5000)
      .select((col("id") % 37).as("k")) // skewed key set with known counts
    val counters = Sketches.countMinCounters(keys, "k", depth = 4, width = 256)
    assert(counters.count() <= 4L * 256)
    val exact = keys.groupBy("k").agg(count(lit(1)).as("n"))
    val est = Sketches.countMinEstimate(counters, exact.select("k"), "k",
      depth = 4, width = 256)
    val joined = est.join(exact, Seq("k")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r =>
      assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("n"),
        s"CMS undercounted key ${r.getAs[Long]("k")}"))

    // mergeability: counters(first half) + counters(second half) == counters(all)
    val a = Sketches.countMinCounters(keys.where(col("k") < 18), "k", 4, 256)
    val b = Sketches.countMinCounters(keys.where(col("k") >= 18), "k", 4, 256)
    val merged = a.unionByName(b).groupBy("r", "cell").agg(sum("n").as("n"))
      .as[(Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val whole = counters.as[(Long, Long, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq
    assert(merged == whole)
  }

  test("kmvDistinct: exact below k, bounded error above, partitioning-invariant") {
    // group "small" has 40 distinct keys (< k=64 -> exact), "big" has 5000
    val df = spark.range(0, 40).select(lit("small").as("g"), col("id").as("k"))
      .unionByName(spark.range(1000000, 1005000)
        .select(lit("big").as("g"), col("id").as("k")))
    def run(p: Int) = Sketches.kmvDistinct(df.repartition(p), Seq("g"), "k", k = 64)
      .select("g", "n_exact", "kmv_est").as[(String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    val r = run(4)
    val small = r.find(_._1 == "small").get
    assert(small._2 == 40L && small._3 == 40.0)
    val big = r.find(_._1 == "big").get
    assert(big._2 == 5000L)
    assert(math.abs(big._3 - 5000.0) / 5000.0 < 0.5,
      s"KMV estimate ${big._3} too far from 5000")
    assert(run(1) == run(32)) // O(k) state merges deterministically
  }

  test("stats_moments: decimal-sum moments agree with Spark's built-in skewness/kurtosis") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.ExtQueries.statsMoments(spark, dir)
      .select("source", "skewness", "kurtosis")
      .as[(String, Option[Double], Option[Double])].collect().sortBy(_._1)
    val x = size(split(trim(lower(col("text"))), "\\s+")).cast("double")
    val ref = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), x.as("x"))
      .groupBy("source").agg(skewness(col("x")).as("sk"), kurtosis(col("x")).as("ku"))
      .as[(String, Double, Double)].collect().sortBy(_._1)
    assert(got.length == ref.length && got.nonEmpty)
    got.zip(ref).foreach { case ((s, sk, ku), (s2, rsk, rku)) =>
      assert(s == s2)
      // built-in kurtosis is EXCESS kurtosis (m4/m2^2 - 3); ours is m4/m2^2
      assert(math.abs(sk.get - rsk) < 1e-9, s"skew mismatch on $s: $sk vs $rsk")
      assert(math.abs(ku.get - (rku + 3.0)) < 1e-9, s"kurt mismatch on $s: $ku vs $rku")
    }
  }

  test("semanticDedup: auto cluster count scales with the corpus, floored at 16") {
    assert(Similarity.autoClusterCount(0L) == 16)
    assert(Similarity.autoClusterCount(500L) == 16)
    assert(Similarity.autoClusterCount(160000L) == 16)
    assert(Similarity.autoClusterCount(160001L) == 17)
    assert(Similarity.autoClusterCount(1000000L) == 100)
    assert(Similarity.autoClusterCount(10000000000L) == 1000000)
    // auto mode (k=0) routes through the formula: 21 vectors -> 16 seeds
    val rnd = new Random(13)
    val df = (0L until 21L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val clusters = Similarity.semanticDedup(df)
      .select("cluster").distinct().count()
    assert(clusters == 16)
  }

  test("semanticDedup: partitioning-invariant (1 vs 32 partitions)") {
    val rnd = new Random(11)
    val df = (0L until 200L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def run(p: Int) =
      Similarity.semanticDedup(df.repartition(p), k = 8, band = 4, tau = 0.5)
        .orderBy("vec_id")
        .select("vec_id", "cluster", "nn_cos", "keep")
        .as[(Long, Long, Option[Double], Boolean)].collect().toSeq
    assert(run(1) == run(32))
  }
}

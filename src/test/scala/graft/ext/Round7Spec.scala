package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Round-7 operators: HITS hubs/authorities, the angular diversity
  * sample, and the binned interval-overlap join.
  */
class Round7Spec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  // ---- Graph.hits ----------------------------------------------------------

  test("hits: star graph — the hub points everywhere, leaves hold the authority") {
    // directed star 1 -> {2,3,4}: node 1 is the only hub, 2/3/4 are the
    // (equal) authorities; 1 has no in-links so auth(1) = 0, and the
    // leaves have no out-links so hub(leaf) = 0
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val got = Graph.hits(edges, iterations = 2)
      .select("node", "hub_scaled", "auth_scaled")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val hub1 = got(0)
    assert(hub1._1 == 1L && hub1._3 == 0L, s"root must have auth 0: $hub1")
    val leaves = got.drop(1)
    assert(leaves.forall(_._2 == 0L), s"leaves must have hub 0: ${leaves.toSeq}")
    assert(leaves.map(_._3).distinct.length == 1, "equal authorities expected")
    assert(hub1._2 > 0L && leaves.head._3 > 0L)
  }

  test("hits: authority concentrates on the most-pointed-at node") {
    // 1->3, 2->3, 4->5: node 3 (two in-links) must out-rank node 5 (one)
    val edges = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val m = Graph.hits(edges, iterations = 2)
      .select("node", "auth_scaled").as[(Long, Long)].collect().toMap
    assert(m(3L) > m(5L), s"auth(3)=${m(3L)} !> auth(5)=${m(5L)}")
    // and hubs pointing at the stronger authority out-rank the other hub
    val h = Graph.hits(edges, iterations = 2)
      .select("node", "hub_scaled").as[(Long, Long)].collect().toMap
    assert(h(1L) > h(4L) && h(2L) > h(4L))
  }

  test("hits: partitioning-invariant (1 vs 16 partitions)") {
    val edges = (0L until 400L).map(i => (i % 37, (i * 7) % 41 + 100)).toDF("a", "b")
    def run(p: Int) = Graph.hits(edges.repartition(p), iterations = 2)
      .select("node", "hub_scaled", "auth_scaled")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(1) == run(16))
  }

  // ---- Similarity.diversitySample -----------------------------------------

  test("diversitySample: reps are bucket members, counts partition the corpus") {
    val vecs = (0L until 300L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 13.7 + d * 0.9)).toArray)
    }.toDF("vec_id", "embedding")
    val sample = Similarity.diversitySample(vecs, bits = 8)
    val rows = sample.select("bucket", "rep_id", "n_members")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._3).sum == 300L, "bucket populations must partition the corpus")
    assert(rows.map(_._1).distinct.length == rows.length)
    // every representative really carries its bucket's signature and is
    // the smallest id in it
    val sigs = vecs.select(col("vec_id"),
        Similarity.rhpSignature(col("embedding").cast("array<double>"), 8).as("bucket"))
      .as[(Long, Long)].collect()
    val byBucket = sigs.groupBy(_._2).map { case (b, xs) => b -> xs.map(_._1).min }
    for ((b, rep, _) <- rows) assert(byBucket(b) == rep, s"bucket $b rep $rep")
  }

  test("diversitySample: partitioning-invariant") {
    val vecs = (0L until 200L).map { i =>
      (i, (0 until 8).map(d => ((i * 31 + d * 17) % 100) / 50.0 - 1.0).toArray)
    }.toDF("vec_id", "embedding")
    def run(p: Int) = Similarity.diversitySample(vecs.repartition(p), bits = 8)
      .select("bucket", "rep_id", "n_members")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(1) == run(16))
  }

  // ---- DataOps.epochAllocation --------------------------------------------

  test("epochAllocation: capped surplus redistributes; budget is conserved") {
    // two tiny sources cap at 2 epochs; the big one absorbs their surplus
    val tok = Seq(("a", 100L), ("b", 100L), ("big", 800L)).toDF("src", "t")
    val got = DataOps.epochAllocation(tok, "src", "t",
        budgetFactor = 1.5, cap = 2.0, temperature = 1.0)
      .select("source", "tokens", "epochs", "target_tokens")
      .as[(String, Long, Double, Double)].collect().sortBy(_._1)
    // T=1 -> natural shares: round 1 gives everyone 1.5 epochs; nobody
    // caps... with temperature 1 shares are proportional to size, so
    // epochs are uniform 1.5 — use T=0.5 (sharpening) instead? No:
    // uniform 1.5 < cap means NO source caps and epochs == 1.5 for all.
    assert(got.forall(_._3 == 1.5), got.toSeq.toString)
    assert(got.map(_._4).sum == 1500.0)

    // temperature 2 flattens shares -> small sources over-allocate, cap,
    // and the surplus flows to the big one
    val got2 = DataOps.epochAllocation(tok, "src", "t",
        budgetFactor = 1.5, cap = 2.0, temperature = 2.0)
      .select("source", "epochs", "target_tokens")
      .as[(String, Double, Double)].collect().sortBy(_._1)
    val byName = got2.map(r => r._1 -> r).toMap
    assert(byName("a")._2 == 2.0 && byName("b")._2 == 2.0,
      s"small sources must cap: ${got2.toSeq}")
    assert(byName("big")._2 > 1.0 && byName("big")._2 < 2.0, got2.toSeq.toString)
    // budget conserved exactly: 2*100 + 2*100 + rest = 1500
    assert(byName("big")._3 == 1100.0, got2.toSeq.toString)
  }

  // ---- Joins.asofJoinForward / asofJoinNearest ----------------------------

  test("asof forward/nearest: directions, inclusivity, and the backward tie pin") {
    val left = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")), // b at 09:58 (d=2m), f at 10:03 (3m) -> b
      (2L, 1L, ts("2024-01-01 10:05:00")), // b 10:03 (2m), f 10:07 (2m) TIE -> backward
      (3L, 1L, ts("2024-01-01 10:07:00")), // exact hit -> inclusive both ways
      (4L, 2L, ts("2024-01-01 10:00:00"))  // user 2 has no rights -> nulls
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 09:58:00"), 1.0),
      (1L, ts("2024-01-01 10:03:00"), 2.0),
      (1L, ts("2024-01-01 10:07:00"), 3.0)
    ).toDF("user_id", "ts", "v")

    val fwd = Joins.asofJoinForward(left, right, Seq("user_id"), "ts", Seq("v"))
      .select("event_id", "v").as[(Long, Option[Double])].collect().toMap
    assert(fwd == Map(1L -> Some(2.0), 2L -> Some(3.0),
      3L -> Some(3.0), 4L -> None))

    val near = Joins.asofJoinNearest(left, right, Seq("user_id"), "ts", Seq("v"))
      .select("event_id", "v").as[(Long, Option[Double])].collect().toMap
    assert(near == Map(
      1L -> Some(1.0), // 2m back beats 3m forward
      2L -> Some(2.0), // exact tie -> backward
      3L -> Some(3.0), // simultaneous row, inclusive
      4L -> None))
  }

  test("asof backward and forward both reject a non-integral tie column") {
    val left = Seq((1L, 1L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, ts("2024-01-01 09:58:00"), 1.0, 0.5))
      .toDF("user_id", "ts", "v", "tie")
    for ((name, join) <- Seq(
        "asofJoin" -> (Joins.asofJoin _), "asofJoinForward" -> (Joins.asofJoinForward _)))
      withClue(name) {
        val e = intercept[IllegalArgumentException] {
          join(left, right, Seq("user_id"), "ts", Seq("v"), Seq("tie"))
        }
        assert(e.getMessage.contains("integral"))
      }
  }

  // ---- VectorExprs.JlProject ----------------------------------------------

  test("jl_project: matches the sign-matrix fold, ragged vectors sum present dims") {
    val dIn = 8; val k = 4
    val signs = Similarity.projectionSigns(dIn, k)
    def ref(v: Array[Double]): Seq[Double] = (0 until k).map { d =>
      var acc = 0L
      for (i <- 0 until math.min(v.length, dIn))
        acc += Similarity.round6Scaled(v(i) * signs(d)(i))
      acc.toDouble / 1e6
    }
    val vecs = Seq(
      Array(0.5, -1.25, 3.0, 0.125, -0.75, 2.5, -0.0625, 1.0), // full width
      Array(1.0, 2.0, 3.0),                                    // short: rest = 0
      Array.empty[Double])                                     // empty -> all 0
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        VectorExprs.jl_project(col("embedding").cast("array<double>"), k, dIn).as("p"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    for ((v, i) <- vecs.zipWithIndex)
      assert(got(i)._2 == ref(v), s"vector $i")
    // null vector -> null projection
    val nul = Seq((0L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "embedding")
      .select(VectorExprs.jl_project(col("embedding").cast("array<double>"), k, dIn))
      .collect()(0)
    assert(nul.isNullAt(0))
  }

  // ---- Eval.passAtK --------------------------------------------------------

  test("passAtK matches the closed-form binomial estimator") {
    // problem 1: n=10, c=3 -> 1 - C(7,5)/C(10,5) = 1 - 21/252 = 0.916667
    // problem 2: n=6, c=2  -> n-c=4 < 5 -> exactly 1.0 (no 0/0 division)
    // problem 3: n=5, c=0  -> 0.0;  problem 4: n=4 -> filtered (n < k)
    val rows =
      (1 to 10).map(i => (1L, i <= 3)) ++
      (1 to 6).map(i => (2L, i <= 2)) ++
      (1 to 5).map(_ => (3L, false)) ++
      (1 to 4).map(_ => (4L, true))
    val df = rows.toDF("problem", "ok")
    val got = Eval.passAtK(df, "problem", col("ok"), k = 5)
      .select("problem", "n", "c", "pass_at_5")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), "n < k problems must drop")
    assert(got(0) == ((1L, 10L, 3L, 0.916667)))
    assert(got(1) == ((2L, 6L, 2L, 1.0)))
    assert(got(2) == ((3L, 5L, 0L, 0.0)))
  }

  // ---- Eval.bradleyTerry ---------------------------------------------------

  test("bradleyTerry: two teams converge to the odds ratio") {
    // A beats B 3:1 -> the MM fixed point is γ_A/γ_B = 3 (reached in
    // one iteration here: γ_A = 3/(4/2) = 1.5, γ_B = 1/(4/2) = 0.5)
    val wins = Seq(("A", "B", 3L), ("B", "A", 1L)).toDF("i", "j", "w")
    val got = Eval.bradleyTerry(wins, "i", "j", "w", iterations = 2)
      .select("team", "gamma", "n_wins")
      .as[(String, Double, Long)].collect().sortBy(_._1)
    assert(got(0) == (("A", 1.5, 3L)))
    assert(got(1) == (("B", 0.5, 1L)))
  }

  test("bradleyTerry: zero-win teams stay rated (gamma 0) and weigh on opponents") {
    // C never wins: it must appear with gamma 0, and its matches must
    // still enter A's and B's denominators
    val wins = Seq(("A", "B", 2L), ("B", "C", 2L), ("A", "C", 2L))
      .toDF("i", "j", "w")
    val got = Eval.bradleyTerry(wins, "i", "j", "w", iterations = 2)
      .select("team", "gamma", "n_wins")
      .as[(String, Double, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq("A", "B", "C"), "C must not drop")
    assert(got(2)._2 == 0.0 && got(2)._3 == 0L)
    assert(got(0)._2 > got(1)._2, s"transitive order broken: ${got.toSeq}")
    // A's denominator includes the A-C matches: with C dropped γ_A
    // would be 4/(4/2) = 2.0 after it1; with C in, it1 gives
    // 4/(4/2 + 2/1) = 1.0
    assert(got(0)._2 != 2.0)
  }

  // ---- Joins.intervalOverlapJoin ------------------------------------------

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("intervalOverlapJoin: each overlapping pair appears EXACTLY once") {
    // left interval spans 3 hours; right intervals overlap it in several
    // bins (the dedup trap), just-touch it (half-open: no match), and
    // miss it entirely
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 13:00:00"))
    ).toDF("lid", "ls", "le")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), ts("2024-01-01 12:30:00")), // 3 shared bins
      (11L, ts("2024-01-01 12:59:59"), ts("2024-01-01 14:00:00")), // 1 shared bin
      (12L, ts("2024-01-01 13:00:00"), ts("2024-01-01 14:00:00")), // touches: NO
      (13L, ts("2024-01-01 08:00:00"), ts("2024-01-01 10:00:00")), // touches: NO
      (14L, ts("2024-01-01 15:00:00"), ts("2024-01-01 16:00:00"))  // disjoint
    ).toDF("rid", "rs", "re")
    val got = Joins.intervalOverlapJoin(left, "ls", "le", right, "rs", "re",
        binMinutes = 60)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 10L), (1L, 11L)), got.toString)
  }

  test("intervalOverlapJoin: matches the naive inequality join on random intervals") {
    val base = ts("2024-01-01 00:00:00").getTime
    def mk(seed: Int, n: Int) = (0 until n).map { i =>
      val s = base + ((i * 7919L + seed * 104729L) % (72L * 3600)) * 1000L
      val len = (1L + (i * 613L + seed) % 7200L) * 1000L
      (seed * 1000L + i, new Timestamp(s), new Timestamp(s + len))
    }
    val l = mk(1, 120).toDF("lid", "ls", "le")
    val r = mk(2, 90).toDF("rid", "rs", "re")
    val got = Joins.intervalOverlapJoin(l, "ls", "le", r, "rs", "re",
        binMinutes = 30)
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    val naive = l.join(r, col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    assert(got == naive && naive.nonEmpty)
  }
}

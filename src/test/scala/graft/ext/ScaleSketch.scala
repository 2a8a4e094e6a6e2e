package graft.ext

import org.apache.spark.sql.functions._

/** Scale stress for the round-12 sketch lifecycle ops: 1M distinct keys
  * across groups and periods (pure expressions, no driver loops), then
  *  - theta MERGE exactness: per-(group, period) bottom-k sketches must
  *    roll up bit-identically to the one-shot per-group sketch at 1M
  *    keys (the lossless-merge claim, stressed far past the spec's 3k);
  *  - bloom membership at 1M keys / 2^20 bits: planted present probes
  *    all found (no false negatives — structural), planted absent
  *    probes mostly rejected (fill ~38%, fp rate printed), bit table
  *    bounded by groups × mBits.
  *
  * Run: sbt "Test/runMain graft.ext.ScaleSketch [nKeys]"
  */
object ScaleSketch {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val spark = graft.Graft.session("scale-sketch")
    import spark.implicits._
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale-sketch] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // n distinct keys over 4 groups x 5 periods. Keys are mix64(id) —
    // a bijection, so exactly n distinct SPREAD keys: dense integer
    // keys would make every group's XOR position neighborhood cover the
    // whole id range and all groups would share one bit set (measured —
    // a degenerate fixture, not a code defect).
    val df = spark.range(0, n).select(
      concat(lit("g"), pmod(col("id"), lit(4))).as("g"),
      pmod(HashExprs.mix64(col("id") + lit(7700000000L)), lit(5L))
        .as("period"),
      HashExprs.mix64(col("id")).as("key"))

    // --- theta merge exactness at n keys ---------------------------------
    val direct = t("theta direct build") {
      Sketches.thetaSketches(
          df.select(col("g"), col("key")).distinct(), "g", "key", k = 64)
        .as[(String, Seq[Long])].collect().toMap
    }
    val merged = t("theta per-period + merge") {
      Sketches.thetaMergeSketches(
          Sketches.thetaSketches(df.distinct(), Seq("g", "period"),
            "key", 64), "g", 64)
        .as[(String, Seq[Long])].collect().toMap
    }
    assert(merged == direct,
      s"theta merge diverged from direct at n=$n")
    println(s"[scale-sketch] theta merge exact at $n keys, 4 groups x 5 periods")

    // --- bloom membership at n keys / 2^20 bits ---------------------------
    val mBits = 1 << 20
    // probes: 64 planted-present keys (mix64 of in-range ids — each
    // present in exactly ONE group) and 64 absent keys (mix64 of ids
    // >= n; mix64 is a bijection so these are never generated)
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val probes = ((0 until 64).map(i => (s"in$i", mix((n / 64) * i))) ++
      (0 until 64).map(i => (s"out$i", mix(n + 17L * (i + 1)))))
      .toDF("name", "key")
    val res = t("bloom build+probe") {
      Sketches.bloomMembership(df, "g", "key", probes, "name", "key",
        mBits = mBits, kHashes = 4).collect()
    }
    var fn = 0; var fp = 0; var present = 0; var absent = 0
    res.foreach { r =>
      val exact = r.getBoolean(r.fieldIndex("present_exact"))
      val bloom = r.getBoolean(r.fieldIndex("present_bloom"))
      assert(r.getLong(r.fieldIndex("bits_set")) <= mBits.toLong)
      if (exact) { present += 1; if (!bloom) fn += 1 }
      else { absent += 1; if (bloom) fp += 1 }
    }
    assert(fn == 0, s"bloom produced $fn false negatives — impossible by construction")
    // ~250k keys/group over 2^20 bits, 4 hashes -> fill ~ 1-e^-0.95 ~ 61%;
    // fp rate ~ fill^4 ~ 14% — assert a loose structural ceiling
    assert(fp.toDouble / math.max(1, absent) < 0.5,
      s"bloom fp rate ${fp.toDouble / absent} implausibly high at m=$mBits")
    println(s"[scale-sketch] bloom: $present present probes all found, " +
      s"$fp/$absent absent probes false-positive")

    spark.stop()
    println("[scale-sketch] OK")
  }
}

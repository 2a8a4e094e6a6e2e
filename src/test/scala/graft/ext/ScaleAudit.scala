package graft.ext

import org.apache.spark.sql.functions._

/** Scale stress for the round-6 release-audit family: runs the PII
  * scrub, filter funnel, per-slice AUC, vocab coverage, and checksum
  * manifest at 20-200× the bench corpus and asserts the structural
  * properties the 100 TB design depends on:
  *  - PII detection stays a zero-exchange projection and finds exactly
  *    the planted matches;
  *  - the AUC kernel aggregates to (slice, score) granularity before
  *    any window touches it, and recovers AUC=1 on separable slices;
  *  - funnel accounting is conserved (rejections + survivors = total);
  *  - the manifest checksum is partition-order invariant.
  *
  * Run: sbt "Test/runMain graft.ext.ScaleAudit [nDocs]"
  */
object ScaleAudit {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val spark = graft.Graft.session("scale-audit")

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"SCALEAUDIT $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // word-soup corpus with a deterministic email planted in id%13==0 rows
    val base = ScaleExt.generate(spark, n)
    val docs = base.select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" u"), col("doc_id").cast("string"),
            lit("@planted.example")))
          .otherwise(col("text")).as("text"),
        col("source"))
      .localCheckpoint()
    val planted = docs.where(col("doc_id") % 13 === 0).count()

    // 1. PII detect: zero-exchange at scale; exact planted recall
    val det = Pii.detect(docs, "doc_id", "text")
    val detPlan = det.queryExecution.executedPlan.toString
    require(!detPlan.contains("Exchange"),
      "Pii.detect shuffled at scale:\n" + detPlan)
    val found = t("pii-detect")(det.where(col("n_email") > 0).count())
    require(found == planted, s"planted emails $found != $planted")

    // 2. funnel conservation at scale: every row charged exactly once
    val funnel = t("filter-funnel")(
      DataOps.filterFunnel(docs, Seq(
        ("nonempty", col("text").isNotNull),
        ("short", length(col("text")) <= 1200),
        ("no_email", col("doc_id") % 13 =!= 0))).collect())
    val total = docs.count()
    val rejected = funnel.map(_.getAs[Long]("n_rejected")).sum
    val lastOut = funnel.last.getAs[Long]("n_out")
    require(rejected + lastOut == total,
      s"funnel leaks rows: $rejected rejected + $lastOut out != $total")

    // 3. AUC: separable slices recover 1.0; the cumulative window sees
    //    only the (slice, score) table (score cardinality 1000, not n)
    val scored = spark.range(0, n).select(
      (col("id") % 16).cast("string").as("slice"),
      (pmod(xxhash64(col("id")), lit(500)) +
        when(col("id") % 3 === 0, 1000L).otherwise(0L)).as("score"),
      (col("id") % 3 === 0).as("y"))
    val auc = t("auc-by-slice")(
      Eval.aucBySlice(scored, "slice", "score", col("y")).collect())
    require(auc.length == 16 && auc.forall(_.getAs[Double]("auc") == 1.0),
      "separable slices must score AUC exactly 1.0")

    // 4. vocab coverage: token accounting conserved, and the vocab joins
    //    as a broadcast even when the corpus side is 200× the bench size
    val toks = docs
      .select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .where(col("word") =!= "")
      .localCheckpoint()
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("word").asc).limit(1000)
      .select(col("word"), lit(1L).as("__in"))
    val cov = toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__in").isNull.cast("long")).as("n_oov"))
    val covRows = t("vocab-coverage")(cov.collect())
    val covPlan = cov.queryExecution.executedPlan.toString
    require(covPlan.contains("BroadcastHashJoin"),
      "vocab join stopped broadcasting at scale:\n" + covPlan)
    val tokTotal = covRows.map(_.getAs[Long]("n_tokens")).sum
    require(tokTotal == toks.count(),
      "coverage dropped or duplicated token instances")

    // 5a. exact set-similarity join at scale: planted exact copies are
    //     J=1 pairs it MUST return; candidate volume stays output-sized
    //     because the rarest-first prefixes of unrelated word-soup docs
    //     never collide (64^5 shingle space)
    val simDocs = base.localCheckpoint() // un-augmented: copies stay exact
    val sim = t("set-similarity-join")(
      Joins.setSimilarityJoin(simDocs, "doc_id", "text", n = 5)
        .localCheckpoint())
    val copyPairs = sim.where(col("jac") === 1.0 &&
        pmod(col("id_b"), lit(7)).isin(1, 2) &&
        col("id_a") === col("id_b") - pmod(col("id_b"), lit(7))).count()
    // donors with >= 5 tokens always yield both copy pairs; count planted
    val copyPlanted = simDocs.where(pmod(col("doc_id"), lit(7)).isin(1, 2) &&
        size(TextAnalysis.tokens(col("text"))) >= 5).count()
    require(copyPairs >= copyPlanted,
      s"set-sim join missed planted copies: $copyPairs < $copyPlanted")
    println(s"SCALEAUDIT set-sim pairs=${sim.count()} planted-copy=$copyPairs")

    // 5b. TokenCount kernel vs the split idiom on the scaled corpus:
    //     identical totals, and the one-pass kernel should not lose
    //     (the win is allocation elimination — GC pressure at corpus
    //     scale more than wall time in one pass)
    val idiomSum = t("tokens-idiom")(
      docs.agg(sum(size(split(trim(col("text")), "\\s+")))).head.getLong(0))
    val kernelSum = t("tokens-kernel")(
      docs.agg(sum(TokenCountExpr.token_count(col("text")).cast("long")))
        .head.getLong(0))
    require(idiomSum == kernelSum,
      s"token-count kernel diverged: $kernelSum != $idiomSum")

    // 5. checksum manifest: identical under any partitioning
    def checksums(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("source"),
          coalesce(conv(substring(md5(col("text")), 1, 12), 16, 10)
            .cast("long"), lit(0L)).as("__d"))
        .groupBy("source").agg(expr("bit_xor(__d)").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m1 = t("manifest")(checksums(docs))
    val m2 = checksums(docs.repartition(64))
    require(m1 == m2, "manifest checksum depends on partition order")
    println("SCALEAUDIT manifest partition-invariant ok")

    // 6. t-closeness at corpus scale: 64 quasi groups × 10 ordered
    //    buckets, group 0 planted fully concentrated on bucket 0, the
    //    other 63 exactly uniform — every group's EMD is replayed
    //    in-memory from the same integer sufficient statistics, and the
    //    cell grid stays audit-sized (64×10) regardless of row count
    val nA = n - n % 640L
    val aud = spark.range(0, nA).select(
      (col("id") % 64).as("grp"),
      when(col("id") % 64 === 0, 0L)
        .otherwise(col("id").divide(64).cast("long") % 10).as("sens"))
    val tres = t("t-closeness")(
      DataOps.tCloseness(aud, Seq("grp"), col("sens"), t = 0.05)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap)
    val ngA = nA / 64
    val per = ngA / 10
    val cntsA = (0 until 64).map(g => (0 until 10).map(b =>
      if (g == 0) (if (b == 0) ngA else 0L) else per))
    val globA = (0 until 10).map(b => cntsA.map(_(b)).sum)
    def emdA(c: Seq[Long]): Double = {
      var cg = 0L; var ca = 0L; var s = BigInt(0)
      for (b <- 0 until 10) {
        cg += c(b); ca += globA(b)
        s += (BigInt(cg) * nA - BigInt(ca) * ngA).abs
      }
      (BigDecimal(s) / (BigDecimal(9) * BigDecimal(ngA) * BigDecimal(nA)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (g <- 0 until 64)
      require(math.abs(tres(g.toLong) - emdA(cntsA(g))) <= 1e-6,
        s"t-closeness mismatch at group $g: ${tres(g.toLong)} vs ${emdA(cntsA(g))}")
    require(tres(0L) > tres(1L) + 0.1,
      s"planted concentration must dominate: ${tres(0L)} vs ${tres(1L)}")
    println(s"SCALEAUDIT t-closeness ok: planted=${tres(0L)} uniform=${tres(1L)}")
    spark.stop()
  }
}

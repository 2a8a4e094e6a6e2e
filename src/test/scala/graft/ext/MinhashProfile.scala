package graft.ext
import org.apache.spark.sql.functions._
object MinhashProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session("minhash-profile")
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROFILE $label ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    println("PROFILE nchars " + docs.agg(max(length(col("text"))), avg(length(col("text")))).collect().mkString)
    time("shingles-only") {
      docs.select(Dedup.shingles(col("text")).as("sh")).agg(sum(size(col("sh")))).collect()
    }
    val sh = docs.select(col("doc_id").as("id"), Dedup.shingles(col("text")).as("sh")).localCheckpoint()
    time("signature") {
      sh.select(col("id"), Dedup.minhashSignature(col("sh"), 64).as("sig")).agg(count(lit(1))).collect()
    }
    val sigs = sh.select(col("id"), Dedup.minhashSignature(col("sh"), 64).as("sig")).localCheckpoint()
    val banded = time("banding") {
      val b = sigs.select(col("id"), explode(Dedup.bandHashes(col("sig"), 16, 4)).as("bh"))
        .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h")).localCheckpoint()
      println("PROFILE banded rows " + b.count()); b
    }
    time("bucket-stats") {
      val ok = banded.groupBy("band","h").agg(count(lit(1)).as("bn"))
      println("PROFILE buckets " + ok.where(col("bn")>=2).count() + " pairsUB " + ok.agg(sum(col("bn")*col("bn"))).collect()(0))
    }
    time("full-minhashPairs") {
      println("PROFILE pairs " + Dedup.minhashPairs(docs, "doc_id", "text").count())
    }
    spark.stop()
  }
}

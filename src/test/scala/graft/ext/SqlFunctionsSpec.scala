package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, SparkTest}

/** The SQL surface (`Graft.registerFunctions` / `GraftExtensions`) must
  * resolve to the SAME native expressions the DataFrame operators use.
  */
class SqlFunctionsSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  test("graft_mix64 / graft_dot / graft_simhash64 / graft_minhash from SQL") {
    Graft.registerFunctions(spark)
    Seq((1L, Seq(1.0, 2.0), Seq(3.0, 4.0), "the quick brown fox",
        Seq(11L, 22L, 33L)))
      .toDF("id", "va", "vb", "text", "hashes").createOrReplaceTempView("t")

    val row = spark.sql(
      """SELECT graft_mix64(id) AS h, graft_dot(va, vb) AS d,
        |  graft_simhash64(text) AS sh, graft_minhash(hashes, 4) AS mh
        |FROM t""".stripMargin).collect()(0)

    assert(row.getLong(0) == Aggs.mix64(1L))
    assert(row.getDouble(1) == 11.0)
    val dfRow = spark.table("t").select(
      SimHash64.simhash64(col("text")).as("sh"),
      MinHashSig.minhash_signature(col("hashes"), 4).as("mh")).collect()(0)
    assert(row.getLong(2) == dfRow.getLong(0))
    assert(row.getSeq[Long](3) == dfRow.getSeq[Long](1))
  }

  test("graft_minhash rejects a non-literal k; arity errors are clear") {
    Graft.registerFunctions(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(1L), id) FROM range(1)").collect()
    }
    assert(e.getMessage.contains("literal k") || e.getMessage.contains("graft_minhash"))
    val en = intercept[Exception] {
      spark.sql("SELECT graft_word_shingle_hashes('a b', id) FROM range(1)").collect()
    }
    assert(en.getMessage.contains("literal n"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_mix64(1, 2)").collect()
    }
    assert(e2.getMessage.contains("1 argument") || e2.getMessage.contains("graft_mix64"))
  }

  test("GraftExtensions injects at session build (spark.sql.extensions)") {
    // a genuinely fresh session: stop nothing, build with a cloned conf in
    // a new context-free builder — getOrCreate would reuse the suite
    // session, so assert on the injection API level instead
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    // the extension object carries the same builders the registry test
    // exercised; reaching here without a throw means injectFunction
    // accepted all five (FunctionIdentifier, ExpressionInfo, builder) rows
    assert(graft.GraftExtensions.functions.size == 5)
  }
}

package graft.cardano

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** The one-pass sequencing of `SurrogateIds.withSequence` against a
  * `row_number` / running conditional-count window oracle. AQE partition
  * coalescing is off, so the range partition keeps several partitions and
  * the cross-partition prefix offsets are exercised (small inputs
  * otherwise coalesce to one partition).
  */
class SurrogateIdsSpec extends AnyFunSuite with SparkTest {

  private val CoalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"

  private def uncoalesced[T](body: => T): T = {
    val before = spark.conf.getOption(CoalesceConf)
    spark.conf.set(CoalesceConf, "false")
    try body
    finally before.fold(spark.conf.unset(CoalesceConf))(spark.conf.set(CoalesceConf, _))
  }

  /** 0-based position + counters via single-partition windows. */
  private def oracle(df: DataFrame, order: Seq[Column],
      counters: Seq[(String, Column)]): DataFrame = {
    val w = Window.orderBy(order: _*)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counters.foldLeft(df.withColumn("pos", row_number().over(w) - 1L)) {
      case (acc, (name, p)) =>
        val hit = coalesce(p, lit(false))
        acc.withColumn(name,
          when(hit, sum(hit.cast("long")).over(running) - 1L).cast("long"))
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  // 500 rows in a scrambled key order, a few predicates of every shape
  private lazy val input = spark.range(500)
    .select(((col("id") * 7919L) % 500L).as("k"), (col("id") % 3L).as("g"))
  private val order = Seq(col("g").desc, col("k"))
  private val counters = Seq(
    "even" -> (col("k") % 2L === 0L),
    "rare" -> (col("k") % 97L === 5L),
    "never" -> lit(false),
    "unknown" -> lit(null).cast("boolean"),
    "null_or_g1" -> when(col("g") === 1L, lit(true)))

  test("position and k counters match the window oracle across partitions") {
    uncoalesced {
      val seq = SurrogateIds.withSequence(input, "pos", order, counters)
      assert(seq.rdd.getNumPartitions > 1, "the range partition should not collapse")
      assert(seq.columns.toSeq ==
        Seq("k", "g", "pos", "even", "rare", "never", "unknown", "null_or_g1"))
      assert(sorted(seq) == sorted(oracle(input, order, counters)))
      // all-false counters never number a row
      assert(seq.where(col("never").isNotNull || col("unknown").isNotNull).isEmpty)
    }
  }

  test("k = 0: position only, and assign offsets it") {
    uncoalesced {
      val seq = SurrogateIds.withSequence(input, "pos", order)
      assert(sorted(seq) == sorted(oracle(input, order, Nil)))
      val ids = SurrogateIds.assign(input, "id", 41L, order)
      assert(sorted(ids) ==
        sorted(oracle(input, order, Nil).select(col("k"), col("g"), (col("pos") + 41L).as("id"))))
    }
  }

  test("empty input yields an empty frame with every sequence column") {
    uncoalesced {
      val seq = SurrogateIds.withSequence(input.where(lit(false)), "pos", order, counters)
      assert(seq.isEmpty)
      assert(seq.columns.length == 2 + 1 + counters.size)
    }
  }
}

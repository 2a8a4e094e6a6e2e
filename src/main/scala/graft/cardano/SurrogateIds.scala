package graft.cardano

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.LongType

/** Contiguous surrogate-id assignment (SURVEY.md §2.4 T3).
  *
  * The reference assigns dense ids `max(id)+1, +2, …` in order of first
  * appearance within the time-ordered record stream
  * (`/root/reference/app/main.py:34-38,128-138`). A naive
  * `row_number().over(Window.orderBy(...))` forces all rows through one
  * partition. Instead ONE ordered pass computes every sequence a caller
  * needs at once:
  *
  *  1. a range repartition on the order columns with no explicit
  *     partition count, so AQE coalesces a small input to one partition
  *     and keeps a large one spread, then a sort within partitions;
  *  2. one per-partition count job over the position and all k
  *     predicate counters; the driver turns the counts into per-partition
  *     prefix offsets;
  *  3. one `mapPartitionsWithIndex` that numbers the rows from those
  *     offsets.
  *
  * So k id families (say new wallets, new assets and two fact tables of
  * the same record stream) cost one sort and one count job, not k
  * separate passes, and no eager pre-job probes the input first.
  *
  * `orderCols` MUST be a total order (include a unique tiebreaker):
  * Postgres leaves ties unspecified, we pin them for reproducibility.
  */
object SurrogateIds {

  /** Append `seqCol` = 0-based position of each row in the total order of
    * `orderCols`, plus one column per `(name, predicate)` counter: the
    * 0-based rank of the row among the rows where the predicate holds
    * (null where it does not; a null predicate counts as false).
    */
  def withSequence(df: DataFrame, seqCol: String, orderCols: Seq[Column],
      counters: Seq[(String, Column)] = Nil): DataFrame = {
    val spark = df.sparkSession
    val width = df.schema.length
    val k = counters.size
    val flags = counters.zipWithIndex.map { case ((_, p), j) =>
      coalesce(p, lit(false)).as(s"__flag$j")
    }
    val rows = df.select(col("*") +: flags: _*)
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .rdd

    // counts(i)(0) = rows of partition i, counts(i)(j + 1) = its rows
    // where counter j holds (collect keeps partition order); the
    // exclusive prefix sums are the offsets
    val counts = rows.mapPartitions { it =>
      val c = new Array[Long](k + 1)
      it.foreach { r =>
        c(0) += 1
        var j = 0
        while (j < k) { if (r.getBoolean(width + j)) c(j + 1) += 1; j += 1 }
      }
      Iterator(c)
    }.collect()
    val offsets = counts.scanLeft(new Array[Long](k + 1)) { (acc, c) =>
      acc.zip(c).map { case (a, b) => a + b }
    }

    val numbered = rows.mapPartitionsWithIndex { (i, it) =>
      val next = offsets(i).clone()
      it.map { r =>
        val out = new Array[Any](width + 1 + k)
        var j = 0
        while (j < width) { out(j) = r.get(j); j += 1 }
        out(width) = next(0)
        next(0) += 1
        j = 0
        while (j < k) {
          if (r.getBoolean(width + j)) {
            out(width + 1 + j) = next(j + 1)
            next(j + 1) += 1
          }
          j += 1
        }
        Row.fromSeq(ArraySeq.unsafeWrapArray(out))
      }
    }

    val schema = counters.foldLeft(df.schema.add(seqCol, LongType, nullable = false)) {
      case (s, (name, _)) => s.add(name, LongType, nullable = true)
    }
    spark.createDataFrame(numbered, schema)
  }

  /** Append `idCol` = `offset + position` (dense, contiguous ids). */
  def assign(df: DataFrame, idCol: String, offset: Long, orderCols: Seq[Column]): DataFrame =
    withSequence(df, "__seq", orderCols)
      .withColumn(idCol, col("__seq") + offset)
      .drop("__seq")
}

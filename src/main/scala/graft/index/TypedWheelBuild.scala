package graft.index

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.wheel.{TypedHawWheel, TypedRwWheel, WheelAggregator, WheelAggregators}

/** Typed-wheel builds outside the fused index pass, and the top-k share
  * of that pass.
  *
  *  - [[build]]/[[buildRw]]/[[buildRwCounted]] build ONE typed wheel over a
  *    DataFrame (a stream's micro-batch, an example's table): executors
  *    fold their partitions into [[TypedRwWheel]]s, which merge in a
  *    depth-2 tree, so the driver receives one wheel bounded by (active
  *    slots) × (partial size), never by row count. An
  *    [[graft.wheel.WheelAggregators.HllDistinct]] partial is a fixed 2^p
  *    bytes, so distinct users over any range merges down to active
  *    seconds × 2 KiB regardless of cardinality (the reference's
  *    aggregator surface, `datafusion-uwheel/src/aggregator/mod.rs:8-34`).
  *  - Heavy-hitter wheels ride the index build's one pass
  *    ([[UWheelIndex.scanFused]]): [[topKColumns]] adds their keys and
  *    filters to its projection and [[TopKFold]] folds them row by row
  *    beside the slot aggregates. Their per-second summaries stay exact
  *    until freeze, so the partition split cannot change the frozen wheel.
  *
  * The time column takes every type the fused build takes (TIMESTAMP,
  * TIMESTAMP_NTZ, DATE, raw-nanos LONG) via the same zone-free conversion.
  */
object TypedWheelBuild {

  /** Builds a frozen typed wheel from `df`.
    *
    * @param valueCol the aggregated input column
    * @param readIn   reads the input value from a (sec, value) row —
    *                 e.g. `_.getLong(1)` for a LONG column
    */
  def build[In, P: ClassTag, Out](
      df: DataFrame,
      timeColumn: String,
      valueCol: Column,
      agg: WheelAggregator[In, P, Out],
      readIn: Row => In): TypedHawWheel[P, Out] =
    buildRw(df, timeColumn, valueCol, agg, readIn).freeze()

  /** [[buildRw]] plus the skipped-NULL-value count — same single pass, for
    * callers that keep merging (the streaming top-talkers publisher folds
    * one of these per micro-batch and accumulates the NULL-key gate,
    * instead of paying a second count() action over the batch). The count
    * travels in the reduced result, so a retried task cannot add twice. */
  def buildRwCounted[In, P: ClassTag, Out](
      df: DataFrame,
      timeColumn: String,
      valueCol: Column,
      agg: WheelAggregator[In, P, Out],
      readIn: Row => In): (TypedRwWheel[In, P, Out], Long) = {
    val sec = UWheelIndex.secExprOf(df, timeColumn)
    val rows = df.select(sec.as("__sec"), valueCol.as("__v"))
      .where(col("__sec").isNotNull)
    val rdd = rows.rdd
    if (rdd.getNumPartitions == 0) return (new TypedRwWheel(agg), 0L)
    rdd
      .mapPartitions { it =>
        val w = new TypedRwWheel(agg)
        var nulls = 0L
        it.foreach { r =>
          if (r.isNullAt(1)) nulls += 1L
          else w.mergeLift(r.getLong(0), readIn(r))
        }
        Iterator.single((w, nulls))
      }
      .treeReduce((a, b) => (a._1.merge(b._1), a._2 + b._2), depth = 2)
  }

  /** A top-k wheel of a fused pass: its key column, its residual filter
    * (None keeps every row) and its aggregator. */
  type TopKSpec = (Column, Option[Column], WheelAggregators.TopTalkers)

  type TopKRw = TypedRwWheel[Long, WheelAggregators.TopKSummary, WheelAggregators.TopKSummary]

  /** The top-k columns of a fused pass: the second, then one (key, filter)
    * pair per spec — a spec without a filter keeps every row. */
  private[index] def topKColumns(df: DataFrame, timeColumn: String, specs: Seq[TopKSpec]): Seq[Column] =
    if (specs.isEmpty) Nil
    else UWheelIndex.secExprOf(df, timeColumn).as("__sec") +: specs.zipWithIndex.flatMap {
      case ((k, f, _), i) =>
        Seq(k.as(s"__k$i"), f.getOrElse(org.apache.spark.sql.functions.lit(true)).as(s"__f$i"))
    }

  /** The top-k share of a fused pass, over rows holding [[topKColumns]]
    * from ordinal `secOrd` on: one ingest wheel per aggregator and one
    * skipped-NULL-key count per spec, folded row by row. Rows with a NULL
    * second are skipped; a NULL filter excludes the row, as WHERE does. */
  private[index] final class TopKFold(secOrd: Int, aggs: Seq[WheelAggregators.TopTalkers]) {
    private val n = aggs.length
    val wheels: Array[TopKRw] = aggs.map(a => new TopKRw(a)).toArray
    val nullKeys = new Array[Long](n)

    def add(r: Row): Unit =
      if (n > 0 && !r.isNullAt(secOrd)) {
        val s = r.getLong(secOrd)
        var i = 0
        while (i < n) {
          val kOrd = secOrd + 1 + 2 * i
          val fOrd = kOrd + 1
          if (!r.isNullAt(fOrd) && r.getBoolean(fOrd)) {
            if (r.isNullAt(kOrd)) nullKeys(i) += 1L
            else wheels(i).mergeLift(s, r.getLong(kOrd))
          }
          i += 1
        }
      }
  }

  /** The pre-freeze ingest wheel — for callers that keep merging (the
    * streaming maintenance path merges one of these per micro-batch into
    * its live wheel). */
  def buildRw[In, P: ClassTag, Out](
      df: DataFrame,
      timeColumn: String,
      valueCol: Column,
      agg: WheelAggregator[In, P, Out],
      readIn: Row => In): TypedRwWheel[In, P, Out] = {
    val sec = UWheelIndex.secExprOf(df, timeColumn)
    // NULL discipline matches SQL aggregates (and the fused build): rows
    // with a NULL time OR a NULL aggregate value are skipped — a readIn
    // like `_.getLong(1)` would otherwise throw on the first NULL value
    val rows = df.select(sec.as("__sec"), valueCol.as("__v"))
      .where(col("__sec").isNotNull && col("__v").isNotNull)
    val rdd = rows.rdd
    if (rdd.getNumPartitions == 0) return new TypedRwWheel(agg)
    rdd
      .mapPartitions { it =>
        val w = new TypedRwWheel(agg)
        it.foreach(r => w.mergeLift(r.getLong(0), readIn(r)))
        Iterator.single(w)
      }
      // depth 2: executor-side pre-merge, one wheel to the driver
      .treeReduce((a, b) => a.merge(b), depth = 2)
  }
}

package graft.index

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.wheel.{TypedHawWheel, TypedRwWheel, WheelAggregator}

/** Distributed build of a TYPED wheel over a DataFrame — the same
  * no-driver-collect shape as the fused index build
  * ([[graft.index.FusedAcc]]): executors fold their partitions into
  * per-partition [[TypedRwWheel]]s, which merge in a depth-2 tree so the
  * driver receives ONE wheel whose payload is bounded by
  * (active slots) × (partial size), never by row count.
  *
  * This is what makes sketch aggregators usable at corpus scale: an
  * [[graft.wheel.WheelAggregators.HllDistinct]] partial is a fixed 2^p
  * bytes, so "distinct users over any time range" over 100 TB of events
  * merges down to active-seconds × 2 KiB regardless of cardinality —
  * the aggregate no exact wheel can carry (reference aggregator surface:
  * `/root/reference/datafusion-uwheel/src/aggregator/mod.rs:8-34`).
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
    * instead of paying a second count() action over the batch). */
  def buildRwCounted[In, P: ClassTag, Out](
      df: DataFrame,
      timeColumn: String,
      valueCol: Column,
      agg: WheelAggregator[In, P, Out],
      readIn: Row => In): (TypedRwWheel[In, P, Out], Long) = {
    val sec = UWheelIndex.secExprOf(df, timeColumn)
    val rows = df.select(sec.as("__sec"), valueCol.as("__v"))
      .where(col("__sec").isNotNull)
    val nullValues = df.sparkSession.sparkContext.longAccumulator("graft.nullAggValues")
    val rdd = rows.rdd
    if (rdd.getNumPartitions == 0) return (new TypedRwWheel(agg), 0L)
    val w = rdd
      .mapPartitions { it =>
        val w = new TypedRwWheel(agg)
        it.foreach { r =>
          if (r.isNullAt(1)) nullValues.add(1L)
          else w.mergeLift(r.getLong(0), readIn(r))
        }
        Iterator.single(w)
      }
      .treeReduce((a, b) => a.merge(b), depth = 2)
    (w, nullValues.value)
  }

  /** ONE distributed pass building a whole heavy-hitter FAMILY SET —
    * the unfiltered wheel plus every keyed (residual-filtered) variant —
    * instead of one scan per wheel: each spec is (key column, optional
    * filter, aggregator), the projection carries one (key, filterBool)
    * pair per spec, and every partition folds all wheels side by side.
    * At 100 TB each avoided pass is a full table scan, so family count
    * must not multiply I/O (the fused SQL build already holds that
    * discipline for every other family). Returns, per spec, the frozen
    * wheel and its skipped-NULL-key count (accumulator semantics as in
    * [[buildRwCounted]]: retries can only OVERcount — the consumer declines,
    * never mis-serves). Filter NULLs behave like WHERE: the row is
    * excluded from that spec. */
  def buildTopKSet[In, P: ClassTag, Out](
      df: DataFrame,
      timeColumn: String,
      specs: Seq[(Column, Option[Column], WheelAggregator[In, P, Out])],
      readKey: (Row, Int) => In): Seq[(TypedHawWheel[P, Out], Long)] = {
    if (specs.isEmpty) return Nil
    val rows = df.select(topKColumns(df, timeColumn, specs): _*).where(col("__sec").isNotNull)
    val sc = df.sparkSession.sparkContext
    val nulls = specs.indices.map(i => sc.longAccumulator(s"graft.nullKeys$i"))
    val aggs = specs.map(_._3)
    val n = specs.length
    val rdd = rows.rdd
    if (rdd.getNumPartitions == 0)
      return aggs.map(a => (new TypedRwWheel(a).freeze(), 0L))
    val merged = rdd
      .mapPartitions { it =>
        val (ws, nullKeys) = foldTopK(it, 0, aggs, readKey)
        var i = 0
        while (i < n) { nulls(i).add(nullKeys(i)); i += 1 }
        Iterator.single(ws)
      }
      .treeReduce((a, b) => {
        var i = 0
        while (i < n) { a(i).merge(b(i)); i += 1 }
        a
      }, depth = 2)
    specs.indices.map(i => (merged(i).freeze(), nulls(i).value))
  }

  /** [[buildTopKSet]]'s projection: the second, then one (key, filter)
    * pair per spec — a spec without a filter keeps every row. */
  private[index] def topKColumns(df: DataFrame, timeColumn: String,
      specs: Seq[(Column, Option[Column], _)]): Seq[Column] =
    UWheelIndex.secExprOf(df, timeColumn).as("__sec") +: specs.zipWithIndex.flatMap {
      case ((k, f, _), i) =>
        Seq(k.as(s"__k$i"), f.getOrElse(org.apache.spark.sql.functions.lit(true)).as(s"__f$i"))
    }

  /** [[buildTopKSet]]'s per-partition fold, over rows holding
    * [[topKColumns]] from ordinal `secOrd` on: one ingest wheel per
    * aggregator and one skipped-NULL-key count per spec. Rows with a NULL
    * second are skipped. A refresh that collects a small delta folds it
    * on the driver through the same body. */
  private[index] def foldTopK[In, P, Out](
      rows: Iterator[Row],
      secOrd: Int,
      aggs: Seq[WheelAggregator[In, P, Out]],
      readKey: (Row, Int) => In): (Array[TypedRwWheel[In, P, Out]], Array[Long]) = {
    val n = aggs.length
    val ws = aggs.map(a => new TypedRwWheel(a)).toArray
    val nullKeys = new Array[Long](n)
    rows.foreach { r =>
      if (!r.isNullAt(secOrd)) {
        val s = r.getLong(secOrd)
        var i = 0
        while (i < n) {
          val kOrd = secOrd + 1 + 2 * i
          val fOrd = secOrd + 2 + 2 * i
          // NULL filter ≡ false (WHERE semantics)
          if (!r.isNullAt(fOrd) && r.getBoolean(fOrd)) {
            if (r.isNullAt(kOrd)) nullKeys(i) += 1L
            else ws(i).mergeLift(s, readKey(r, kOrd))
          }
          i += 1
        }
      }
    }
    (ws, nullKeys)
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

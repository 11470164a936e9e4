package graft.index

import org.apache.spark.sql.Row

import graft.wheel.{RwWheel, TypedRwWheel, WheelAggregators}

/** Executor-side accumulator for the distributed index build: one [[RwWheel]]
  * per requested wheel spec plus the exactness metadata the optimizer rule
  * gates rewrites on, plus one typed HLL wheel per requested distinct-sketch
  * column. Partitions of the per-second aggregate fold their rows in with
  * [[add]]; [[merge]] combines two accumulators (associatively, via
  * `RwWheel.merge` / register-max), so `treeAggregate` can reduce the whole
  * build to a single object shipped to the driver — in contrast to the
  * reference, which materializes every ROW in one process
  * (`datafusion-uwheel/src/lib.rs:1130-1158`), and to a flat `collect()` of
  * per-second Rows, whose driver heap cost grows with active seconds × Row
  * overhead.
  *
  * Row layout (the fused build's [[SlotAgg]] columns, computed by Spark's
  * aggregate or, for a small refresh delta, by the driver fold): column 0
  * is the epoch second (null when the source timestamp was NULL); then per
  * spec `i`, at
  * offset `1 + 7*i`: rowCount, valueCount, sum(DECIMAL(38,scale)), min, max,
  * nonRepresentableCount, nanCount; then per distinct spec `j`, at offset
  * `1 + 7*n + j`: the second's combined HLL register array (BinaryType,
  * from the registers form of `HllDistinctAgg` in the SAME scan).
  */
private[index] final class WheelBuildAcc(
    scales: Array[Int],
    hasVals: Array[Boolean],
    hllPs: Array[Int] = Array.emptyIntArray,
    hdrSs: Array[Int] = Array.emptyIntArray,
    momScales: Array[Int] = Array.emptyIntArray,
    coScales: Array[(Int, Int)] = Array.empty,
    cmsParams: Array[(Int, Int)] = Array.empty) extends Serializable {

  private val n = scales.length
  val wheels: Array[RwWheel] =
    Array.tabulate(n)(i => new RwWheel(scales(i), hasVals(i)))
  val allNonNull: Array[Boolean] = Array.fill(n)(true)
  val badRep: Array[Long] = new Array[Long](n)
  val nanCount: Array[Long] = new Array[Long](n)
  val sawNullTs: Array[Boolean] = new Array[Boolean](n)
  val distinct: Array[TypedRwWheel[Long, Array[Byte], Long]] =
    hllPs.map(p => new TypedRwWheel[Long, Array[Byte], Long](
      new WheelAggregators.HllDistinct(p)))
  // HDR quantile-sketch wheels: per-second bin partials (BinaryType, from
  // the bins form of HdrQuantileAgg in the SAME scan), at row offset
  // 1 + 7n + |hll| + j
  val sketch: Array[TypedRwWheel[Double, Array[Byte], Array[Byte]]] =
    hdrSs.map(s => new TypedRwWheel[Double, Array[Byte], Array[Byte]](
      new WheelAggregators.HdrQuantile(s)))
  // exact-moment wheels: per-second (n, Σx, Σx²) partials from five plain
  // aggregate columns per spec, at row offset 1 + 7n + |hll| + |hdr| + 5j
  val moment: Array[TypedRwWheel[Long, WheelAggregators.Moments, WheelAggregators.Moments]] =
    momScales.map(s => new TypedRwWheel[Long, WheelAggregators.Moments, WheelAggregators.Moments](
      new WheelAggregators.MomentStats(s)))
  val momCastFail: Array[Long] = new Array[Long](momScales.length)
  val momAbsMax: Array[Double] = new Array[Double](momScales.length)
  // exact co-moment wheels: per-second (n, Σx, Σy, Σx², Σy², Σxy) partials
  // from nine plain aggregate columns per spec, after the moment columns
  val coMoment: Array[TypedRwWheel[(Long, Long), WheelAggregators.CoMoments, WheelAggregators.CoMoments]] =
    coScales.map { case (sx, sy) =>
      new TypedRwWheel[(Long, Long), WheelAggregators.CoMoments, WheelAggregators.CoMoments](
        new WheelAggregators.CoMomentStats(sx, sy))
    }
  val coCastFail: Array[Long] = new Array[Long](coScales.length)
  val coAbsMaxX: Array[Double] = new Array[Double](coScales.length)
  val coAbsMaxY: Array[Double] = new Array[Double](coScales.length)
  // Count-Min frequency-sketch wheels: per-second counter partials
  // (BinaryType, from the sketch form of CmsFreqAgg in the SAME scan),
  // at row offset 1 + 7n + |hll| + |hdr| + 5·|mom| + 9·|co| + j
  val freq: Array[TypedRwWheel[Long, Array[Byte], Array[Byte]]] =
    cmsParams.map { case (d, lw) =>
      new TypedRwWheel[Long, Array[Byte], Array[Byte]](
        new WheelAggregators.CmsFreq(d, lw))
    }

  def add(r: Row): Unit = {
    val nullSec = r.isNullAt(0)
    val sec = if (nullSec) 0L else r.getLong(0)
    var i = 0
    while (i < n) {
      val o = 1 + i * 7
      val c = r.getLong(o)
      if (c > 0) {
        if (nullSec) sawNullTs(i) = true
        else {
          if (r.getLong(o + 1) != c) allNonNull(i) = false
          badRep(i) += r.getLong(o + 5)
          nanCount(i) += r.getLong(o + 6)
          val sumScaled =
            if (r.isNullAt(o + 2)) 0L
            else r.getDecimal(o + 2).movePointRight(scales(i)).longValueExact()
          val mn = if (r.isNullAt(o + 3)) Double.PositiveInfinity else r.getDouble(o + 3)
          val mx = if (r.isNullAt(o + 4)) Double.NegativeInfinity else r.getDouble(o + 4)
          wheels(i).mergePartial(sec, c, sumScaled, mn, mx)
        }
      }
      i += 1
    }
    var j = 0
    while (j < distinct.length) {
      // empty registers = the second saw no non-null values: skip, so
      // the slot set is identical to the value-filtered typed build's
      // (partials arrive in the aggregator's canonical sparse/dense form)
      if (!nullSec) {
        val regs = r.getAs[Array[Byte]](1 + n * 7 + j)
        if (regs != null && hllAggs(j).nonEmpty(regs)) distinct(j).mergePartial(sec, regs)
      }
      j += 1
    }
    var q = 0
    while (q < sketch.length) {
      // empty bins = the second saw no non-null (post-filter) values: skip
      if (!nullSec) {
        val bins = r.getAs[Array[Byte]](1 + n * 7 + distinct.length + q)
        if (bins != null && bins.length > 0) sketch(q).mergePartial(sec, bins)
      }
      q += 1
    }
    var m = 0
    while (m < moment.length) {
      val o = 1 + n * 7 + distinct.length + sketch.length + m * 5
      val mc = r.getLong(o)
      if (!nullSec) {
        if (mc > 0L) {
          val sx = BigInt(r.getDecimal(o + 1).toBigIntegerExact)
          val sxx = BigInt(r.getDecimal(o + 2).toBigIntegerExact)
          moment(m).mergePartial(sec, WheelAggregators.Moments(mc, sx, sxx))
        }
        momCastFail(m) += r.getLong(o + 3)
        if (!r.isNullAt(o + 4))
          momAbsMax(m) = math.max(momAbsMax(m), r.getDouble(o + 4))
      }
      m += 1
    }
    var c = 0
    while (c < coMoment.length) {
      val o = 1 + n * 7 + distinct.length + sketch.length + moment.length * 5 + c * 9
      val cn = r.getLong(o)
      if (!nullSec) {
        if (cn > 0L) {
          def big(i: Int) = BigInt(r.getDecimal(o + i).toBigIntegerExact)
          coMoment(c).mergePartial(sec,
            WheelAggregators.CoMoments(cn, big(1), big(2), big(3), big(4), big(5)))
        }
        coCastFail(c) += r.getLong(o + 6)
        if (!r.isNullAt(o + 7))
          coAbsMaxX(c) = math.max(coAbsMaxX(c), r.getDouble(o + 7))
        if (!r.isNullAt(o + 8))
          coAbsMaxY(c) = math.max(coAbsMaxY(c), r.getDouble(o + 8))
      }
      c += 1
    }
    var f = 0
    while (f < freq.length) {
      // empty sketch = the second saw no non-null (post-filter) keys: skip
      if (!nullSec) {
        val base = 1 + n * 7 + distinct.length + sketch.length +
          moment.length * 5 + coMoment.length * 9
        val p = r.getAs[Array[Byte]](base + f)
        if (p != null && p.length > 0) freq(f).mergePartial(sec, p)
      }
      f += 1
    }
  }

  private def hllAggs(j: Int): WheelAggregators.HllDistinct =
    distinct(j).agg.asInstanceOf[WheelAggregators.HllDistinct]

  def merge(o: WheelBuildAcc): WheelBuildAcc = {
    var i = 0
    while (i < n) {
      wheels(i).merge(o.wheels(i))
      allNonNull(i) &= o.allNonNull(i)
      badRep(i) += o.badRep(i)
      nanCount(i) += o.nanCount(i)
      sawNullTs(i) |= o.sawNullTs(i)
      i += 1
    }
    var j = 0
    while (j < distinct.length) {
      distinct(j).merge(o.distinct(j))
      j += 1
    }
    var q = 0
    while (q < sketch.length) {
      sketch(q).merge(o.sketch(q))
      q += 1
    }
    var m = 0
    while (m < moment.length) {
      moment(m).merge(o.moment(m))
      momCastFail(m) += o.momCastFail(m)
      momAbsMax(m) = math.max(momAbsMax(m), o.momAbsMax(m))
      m += 1
    }
    var c = 0
    while (c < coMoment.length) {
      coMoment(c).merge(o.coMoment(c))
      coCastFail(c) += o.coCastFail(c)
      coAbsMaxX(c) = math.max(coAbsMaxX(c), o.coAbsMaxX(c))
      coAbsMaxY(c) = math.max(coAbsMaxY(c), o.coAbsMaxY(c))
      c += 1
    }
    var f = 0
    while (f < freq.length) {
      freq(f).merge(o.freq(f))
      f += 1
    }
    this
  }
}

package graft.index

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.wheel.{RwWheel, TypedHawWheel, TypedRwWheel, WheelAggregator, WheelAggregators}
import graft.wheel.WheelAggregators.{CoMoments, Moments}

/** A wheel's residual filter: its SQL (None = unfiltered), its canonical
  * key ("" = unfiltered) and its `column = literal` form, when it has one. */
private[graft] final case class PartFilter(
    sql: Option[String] = None,
    key: String = "",
    keyEq: Option[(String, Literal)] = None) {
  def column: Option[Column] = sql.map(F.expr)
}

private[graft] object PartFilter {
  /** The filter `sql`, keyed and matched against `df`. */
  def of(df: DataFrame, sql: String): PartFilter = {
    val c = F.expr(sql)
    PartFilter(Some(sql), graft.expr.Canon.canonFilterKey(df.filter(c)), UWheelIndex.keyEqOf(df, c))
  }
  def of(df: DataFrame, sql: Option[String]): PartFilter = sql.fold(PartFilter())(of(df, _))
}

/** What a part's aggregate columns read: the source, its second
  * expression, and `measure(column, scale)(kind)`, the shared numeric
  * projection's column `kind` (v, d, b or n) for a (measure, scale). */
private[index] final class PartInputs(
    val df: DataFrame, val sec: Column, val measure: (String, Int) => String => Column)

/** One wheel's share of a fused build: its [[SlotAgg]] columns of the slot
  * row, and an accumulator ([[PartAcc]]) that folds its slice of that row
  * and freezes into the wheel. A fused build lays its parts end to end
  * ([[FusedAcc]]); a refresh derives them from the registered wheels
  * ([[BuildPart.of]]) and merges old and new wheels through
  * [[BuildPart.append]]. */
private[graft] sealed abstract class BuildPart extends Serializable {
  /** The family the wheel registers under. */
  def family: WheelFamily[_ <: FamilyWheel]
  def filter: PartFilter
  /** The part's columns of the slot row; `j` numbers the part among the
    * plan's parts of its kind and names the columns. */
  def aggs(j: Int, in: PartInputs): Seq[SlotAgg]
  def newAcc(): PartAcc
}

/** A part's accumulator: the executor-side state its slice of the slot row
  * folds into. Merging is associative, so the build's tree shape cannot
  * change the frozen wheel. */
private[graft] abstract class PartAcc extends Serializable {
  /** Folds one slot row, whose part slice starts at ordinal `o`; `sec` is
    * the slot, meaningless when `nullSec` (the source time was NULL). */
  def add(r: Row, o: Int, nullSec: Boolean, sec: Long): Unit
  def merge(other: PartAcc): Unit
  def freeze(slotSpan: Long, packLevels: Boolean): FamilyWheel
  /** Whether an unfiltered numeric part saw a row with a NULL time. */
  def sawNullTime: Boolean = false
}

/** A fused build's accumulator: one [[PartAcc]] per part, the i-th reading
  * the slot row from `offsets(i)` (column 0 is the slot, NULL when the
  * source time was NULL). A pass folds each partition's rows per slot
  * ([[SlotAgg.Folder]]) and adds every slot's row here with [[add]];
  * [[merge]] combines two accumulators — a slot split across partitions
  * merges like two partials of one slot — so `treeReduce` reduces the
  * whole build to one object shipped to the driver, in contrast to the
  * reference, which materializes every ROW in one process
  * (`datafusion-uwheel/src/lib.rs:1130-1158`). */
private[graft] final class FusedAcc(val parts: Array[PartAcc], offsets: Array[Int])
    extends Serializable {
  def add(r: Row): Unit = {
    val nullSec = r.isNullAt(0)
    val sec = if (nullSec) 0L else r.getLong(0)
    var i = 0
    while (i < parts.length) {
      parts(i).add(r, offsets(i), nullSec, sec)
      i += 1
    }
  }

  def merge(o: FusedAcc): FusedAcc = {
    var i = 0
    while (i < parts.length) {
      parts(i).merge(o.parts(i))
      i += 1
    }
    this
  }

  def sawNullTime: Boolean = parts.exists(_.sawNullTime)
}

/** What one pass over a table folds: one [[FusedAcc]] per plan (the
  * second plan, then the millisecond plan when the table has one), the
  * top-k ingest wheels and each top-k wheel's skipped-NULL-key count.
  * Every partition folds into one; [[merge]] is associative, and the
  * NULL-key counts travel in the result, so a retried task cannot count
  * twice. */
private[graft] final class FusedFold(val accs: Array[FusedAcc],
    val topK: Array[TypedWheelBuild.TopKRw], val topKNulls: Array[Long]) extends Serializable {
  def merge(o: FusedFold): FusedFold = {
    var i = 0
    while (i < accs.length) { accs(i).merge(o.accs(i)); i += 1 }
    i = 0
    while (i < topK.length) { topK(i).merge(o.topK(i)); topKNulls(i) += o.topKNulls(i); i += 1 }
    this
  }
}

/** A numeric wheel ([[IndexedWheel]]) over a measure (None = row count):
  * seven columns per slot — rowCount, valueCount, sum(DECIMAL(38,scale)),
  * min, max, nonRepresentableCount, nanCount. Serves the
  * [[WheelFamily.Millis]] wheels too, under the millisecond slot
  * expression. */
private[graft] final case class NumericPart(
    family: WheelFamily[IndexedWheel],
    valueColumn: Option[String],
    filter: PartFilter,
    coverage: Option[(Long, Long)],
    scale: Int,
    /** For derived-EXPRESSION measures: the raw SQL to project (the
      * `valueColumn` is then the expression's canonical key, not a schema
      * column — see [[IndexedWheel.exprSql]]). */
    exprSql: Option[String] = None) extends BuildPart {

  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] = {
    import SlotAgg._
    val inRange = coverage
      .map { case (s, e) => in.sec >= s && in.sec < e }
      .getOrElse(F.lit(true))
    val keep = filter.column.map(_ && inRange).getOrElse(inRange)
    val (v, asDec, bad, nan) = valueColumn match {
      case Some(c) =>
        val pc = in.measure(c, scale)
        (F.when(keep, pc("v")), F.when(keep, pc("d")), pc("b"), pc("n"))
      case None =>
        val nul = F.lit(null).cast("double")
        (nul, nul, F.lit(false), F.lit(false))
    }
    Seq(CountIf(s"c$j", keep), Count(s"cv$j", v), Sum(s"s$j", asDec), Min(s"mn$j", v),
      Max(s"mx$j", v), CountIf(s"b$j", keep && bad), CountIf(s"nan$j", keep && nan))
  }

  def newAcc(): Acc = new Acc

  final class Acc extends PartAcc {
    private val wheel = new RwWheel(scale, valueColumn.isDefined)
    /** The newest slot folded in; `Long.MinValue` while empty. */
    def newestSlotSec: Long = wheel.newestSlotSec
    private var allNonNull = true
    private var badRep = 0L
    private var nanCount = 0L
    private var sawNullTs = false

    def add(r: Row, o: Int, nullSec: Boolean, sec: Long): Unit = {
      val c = r.getLong(o)
      if (c > 0) {
        if (nullSec) sawNullTs = true
        else {
          if (r.getLong(o + 1) != c) allNonNull = false
          badRep += r.getLong(o + 5)
          nanCount += r.getLong(o + 6)
          val sumScaled =
            if (r.isNullAt(o + 2)) 0L
            else r.getDecimal(o + 2).movePointRight(scale).longValueExact()
          val mn = if (r.isNullAt(o + 3)) Double.PositiveInfinity else r.getDouble(o + 3)
          val mx = if (r.isNullAt(o + 4)) Double.NegativeInfinity else r.getDouble(o + 4)
          wheel.mergePartial(sec, c, sumScaled, mn, mx)
        }
      }
    }

    def merge(other: PartAcc): Unit = {
      val o = other.asInstanceOf[Acc]
      wheel.merge(o.wheel)
      allNonNull &= o.allNonNull
      badRep += o.badRep
      nanCount += o.nanCount
      sawNullTs |= o.sawNullTs
    }

    def freeze(slotSpan: Long, packLevels: Boolean): IndexedWheel = {
      val hasValues = valueColumn.isDefined
      IndexedWheel(wheel.freeze(slotSpan, packLevels), valueColumn, filter.key,
        valueAllNonNull = !hasValues || allNonNull,
        valuesExactAtScale = !hasValues || badRep == 0L,
        valuesNaNFree = !hasValues || nanCount == 0L,
        coverage, filter.sql, filter.keyEq, exprSql)
    }

    override def sawNullTime: Boolean = filter.sql.isEmpty && sawNullTs
  }
}

private[graft] object NumericPart {

  /** The columns that widen the source for `parts`, and the reader of
    * [[PartInputs.measure]] over them. `prefix` names the columns; two
    * plans projected side by side over one source need distinct prefixes.
    *
    * Per-ROW work is projected ONCE per distinct (valueColumn, scale) pair
    * and shared across parts: six keyed wheels over the same measure
    * column would otherwise each evaluate the double cast, the
    * DECIMAL(38) exactness round-trip, and the NaN probe per row — the
    * round-trip decimal cast in particular priced the round-6 events
    * build. Catalyst cannot unify them itself (each sat under a
    * part-specific `when(keep, …)` guard, so the subtrees differ); with
    * the shared projection the per-row cost is one cast set total, and
    * each part's aggregate children reduce to cheap conditional
    * projections. The `keep` gates are evaluated inside the children (they
    * are per-part by nature and cheap: a residual equality + optional
    * range test). */
  def projection(df: DataFrame, parts: Seq[NumericPart], prefix: String)
      : (Seq[Column], (String, Int) => String => Column) = {
    val valKeys = parts.flatMap(p => p.valueColumn.map(c => (c, p.scale))).distinct
    val valIdx = valKeys.zipWithIndex.toMap
    // Derived-expression measures: the part's valueColumn is a canonical
    // key, not a schema column — the per-row source is the re-projected SQL.
    val exprSrc: Map[(String, Int), String] = parts.collect {
      case p if p.valueColumn.isDefined && p.exprSql.isDefined =>
        (p.valueColumn.get, p.scale) -> p.exprSql.get
    }.toMap
    val projCols = valKeys.zipWithIndex.flatMap { case ((c, scale), k) =>
      val srcCol = exprSrc.get((c, scale)).map(F.expr).getOrElse(F.col(c))
      val srcType = exprSrc.get((c, scale)) match {
        case Some(sql) => Some(df.select(F.expr(sql)).schema.head.dataType)
        case None => df.schema.find(_.name == c).map(_.dataType)
      }
      srcType match {
        case Some(dt: DecimalType) =>
          // Decimal source column at its own scale: the sum path widens the
          // decimal directly (exact — no double anywhere), and the exactness
          // probe flips direction: it asks whether the DOUBLE image converts
          // back to the original decimal exactly, which is what gates the
          // double-stored MIN/MAX rewrite. Decimals cannot be NaN.
          val d = srcCol.cast(s"decimal(38,$scale)")
          val v = srcCol.cast("double")
          val rt = v.try_cast(s"decimal(38,$scale)")
          // Below the column's own scale (a stream's configured scale) `d`
          // rounds, so a value the rounding changes is not representable.
          // It is compared at the column's type: Spark coerces a plain
          // `d = srcCol` to d's scale, which rounds srcCol the same way.
          val inexact =
            if (dt.scale > scale) rt.isNull || rt =!= d || !(d.try_cast(dt) <=> srcCol)
            else rt.isNull || rt =!= d
          Seq(
            v.as(s"${prefix}v$k"),
            d.as(s"${prefix}d$k"),
            (srcCol.isNotNull && inexact).as(s"${prefix}b$k"),
            F.lit(false).as(s"${prefix}n$k"))
        case _ =>
          val v = srcCol.cast("double")
          // Exactness probe: does v survive a round-trip through
          // DECIMAL(38,scale)? NaN/Infinity/overflow become NULL and count as
          // non-representable — `try_cast` semantics, via the scaled-long
          // fast path ([[graft.functions.FastDecimalImage]]): the
          // Decimal.set(double) → Double.toString parse behind the plain
          // cast was ~40% of the lineitem build's executor samples
          // (round-10 verdict task 6).
          val asDec = BuildPart.fastDecCol(v, 38, scale)
          val roundTrip = asDec.cast("double") // decimal→double never errors
          Seq(
            v.as(s"${prefix}v$k"),
            asDec.as(s"${prefix}d$k"),
            (v.isNotNull && (roundTrip.isNull || roundTrip =!= v)).as(s"${prefix}b$k"),
            F.isnan(v).as(s"${prefix}n$k"))
      }
    }
    (projCols, (c, scale) => kind => F.col(s"$prefix$kind${valIdx((c, scale))}"))
  }
}

/** A sketch wheel whose slot partial is one byte array, computed by the
  * buffer of a native aggregate's partial-returning form, folded per slot
  * in the same pass ([[SlotAgg.Sketch]]). An empty
  * partial means the slot saw no non-null (post-filter) values and is
  * skipped, so the slot set is identical to the value-filtered typed
  * build's. */
private[index] sealed abstract class SketchPart[In, Out] extends BuildPart {
  def column: String
  def exprSql: Option[String]
  def agg: WheelAggregator[In, Array[Byte], Out]
  protected def nonEmpty(p: Array[Byte]): Boolean = p.length > 0
  protected def wheelOf(w: TypedHawWheel[Array[Byte], Out], slotSpan: Long): FamilyWheel

  /** The aggregate's child: the measure (a column, or a derived
    * expression re-projected from its SQL) where the filter holds. A keyed
    * part folds its residual filter into the child: rows not matching
    * become NULL and are skipped, exactly like the SQL aggregate over the
    * filtered query would skip them. */
  protected def keptSource: Column = {
    val src = exprSql.map(F.expr).getOrElse(F.col(column))
    filter.column match {
      case Some(f) => F.when(f, src)
      case None    => src
    }
  }

  def newAcc(): PartAcc = new Acc

  final class Acc extends PartAcc {
    private val wheel = new TypedRwWheel[In, Array[Byte], Out](agg)
    def add(r: Row, o: Int, nullSec: Boolean, sec: Long): Unit =
      if (!nullSec) {
        val p = r.getAs[Array[Byte]](o)
        if (p != null && nonEmpty(p)) wheel.mergePartial(sec, p)
      }
    def merge(other: PartAcc): Unit = wheel.merge(other.asInstanceOf[Acc].wheel)
    def freeze(slotSpan: Long, packLevels: Boolean): FamilyWheel = wheelOf(wheel.freeze(), slotSpan)
  }
}

/** An HLL distinct-sketch wheel ([[DistinctIndexedWheel]]). */
private[index] final case class HllPart(column: String, p: Int, filter: PartFilter,
    exprSql: Option[String] = None) extends SketchPart[Long, Long] {
  def family: WheelFamily[DistinctIndexedWheel] = WheelFamily.Hll
  val agg = new WheelAggregators.HllDistinct(p)
  // partials arrive in the aggregator's canonical sparse/dense form
  override protected def nonEmpty(regs: Array[Byte]): Boolean = agg.nonEmpty(regs)
  // per-second register partials from the registers form of the native
  // aggregate — bit-identical fold semantics to the SQL hll_distinct
  // and the wheel's own aggregator (they are the same code).
  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] =
    Seq(SlotAgg.Sketch(s"h$j", keptSource.cast("long"), LongType,
      graft.functions.HllDistinctAgg(_, p, returnRegisters = true)))
  protected def wheelOf(w: TypedHawWheel[Array[Byte], Long], slotSpan: Long): FamilyWheel =
    DistinctIndexedWheel(w, column, agg, filter.key, filter.sql, slotSpan, filter.keyEq, exprSql)
}

/** An HDR quantile-sketch wheel ([[QuantileIndexedWheel]]). */
private[index] final case class HdrPart(column: String, s: Int, filter: PartFilter,
    exprSql: Option[String] = None) extends SketchPart[Double, Array[Byte]] {
  def family: WheelFamily[QuantileIndexedWheel] = WheelFamily.Hdr
  val agg = new WheelAggregators.HdrQuantile(s)
  // per-second bin partials from the bins form of the native quantile
  // aggregate — identical content semantics to the wheel aggregator
  // (they share bucketing and canonical encoding). The double cast is
  // the same image the numeric wheels project, so buckets agree with
  // what the SQL aggregate over the raw column computes.
  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] =
    Seq(SlotAgg.Sketch(s"qt$j", keptSource.cast("double"), DoubleType,
      graft.functions.HdrQuantileAgg(_, q = 0.0, s = s, returnBins = true)))
  protected def wheelOf(w: TypedHawWheel[Array[Byte], Array[Byte]], slotSpan: Long): FamilyWheel =
    QuantileIndexedWheel(w, column, agg, filter.key, filter.sql, slotSpan, filter.keyEq, exprSql)
}

/** A Count-Min frequency-sketch wheel ([[FreqIndexedWheel]]). */
private[index] final case class CmsPart(column: String, logW: Int, d: Int, filter: PartFilter,
    exprSql: Option[String] = None) extends SketchPart[Long, Array[Byte]] {
  def family: WheelFamily[FreqIndexedWheel] = WheelFamily.Cms
  val agg = new WheelAggregators.CmsFreq(d, logW)
  // per-second counter partials from the sketch form of the native
  // cms_freq aggregate — identical hash/content semantics to the wheel
  // aggregator (they are the same code).
  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] =
    Seq(SlotAgg.Sketch(s"fq$j", keptSource.cast("long"), LongType,
      graft.functions.CmsFreqAgg(_, target = 0L, logW = logW, d = d, returnSketch = true)))
  protected def wheelOf(w: TypedHawWheel[Array[Byte], Array[Byte]], slotSpan: Long): FamilyWheel =
    FreqIndexedWheel(w, column, agg, filter.key, filter.sql, slotSpan, filter.keyEq, exprSql)
}

/** An exact-moment wheel ([[MomentIndexedWheel]]): five columns per slot —
  * n, Σu, Σu², the probe-failure count and max |value|. */
private[index] final case class MomentPart(column: String, scale: Int, filter: PartFilter,
    exprSql: Option[String] = None) extends BuildPart {
  def family: WheelFamily[MomentIndexedWheel] = WheelFamily.Moment

  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] = {
    import SlotAgg._
    // Exact moments, all in native codegen'd arithmetic: the value is
    // probed through an exact DECIMAL(18, scale) fixed-point image `f`
    // (rows that don't survive — NaN/Infinity/overflow — are COUNTED,
    // and any nonzero count makes the wheel decline every rewrite), the
    // unscaled integer u = f·10^s is exact in a BIGINT (|u| < 10^18),
    // and Σu / Σu² accumulate in DECIMAL(38,0) — u² < 10^36 always fits
    // a tight (19,0)×(19,0) product, so no precision loss anywhere.
    val s = scale
    val src = exprSql.map(F.expr).getOrElse(F.col(column))
    val vd = src.cast("double")
    val f = BuildPart.fastDecIfDouble(in.df, src, 18, s)
    val fail = src.isNotNull && f.isNull
    val u = (f * F.lit(math.pow(10, s).toLong).cast("decimal(10,0)")).cast("long")
    val u19 = u.cast("decimal(19,0)")
    val keepM = filter.column.getOrElse(F.lit(true))
    Seq(
      Count(s"mc$j", F.when(keepM, u)),
      Sum(s"ms$j", F.when(keepM, u.cast("decimal(38,0)"))),
      Sum(s"mq$j", F.when(keepM, u19 * u19)),
      CountIf(s"mf$j", keepM && fail),
      Max(s"ma$j", F.when(keepM, F.abs(vd))))
  }

  def newAcc(): PartAcc = new Acc

  final class Acc extends PartAcc {
    private val wheel = new TypedRwWheel[Long, Moments, Moments](new WheelAggregators.MomentStats(scale))
    private var castFail = 0L
    private var absMax = 0.0

    def add(r: Row, o: Int, nullSec: Boolean, sec: Long): Unit =
      if (!nullSec) {
        val n = r.getLong(o)
        if (n > 0L) {
          val sx = BigInt(r.getDecimal(o + 1).toBigIntegerExact)
          val sxx = BigInt(r.getDecimal(o + 2).toBigIntegerExact)
          wheel.mergePartial(sec, Moments(n, sx, sxx))
        }
        castFail += r.getLong(o + 3)
        if (!r.isNullAt(o + 4)) absMax = math.max(absMax, r.getDouble(o + 4))
      }

    def merge(other: PartAcc): Unit = {
      val o = other.asInstanceOf[Acc]
      wheel.merge(o.wheel)
      castFail += o.castFail
      absMax = math.max(absMax, o.absMax)
    }

    def freeze(slotSpan: Long, packLevels: Boolean): MomentIndexedWheel =
      MomentIndexedWheel(wheel.freeze(), column,
        wheel.agg.asInstanceOf[WheelAggregators.MomentStats], castFail, absMax,
        filter.key, filter.sql, slotSpan, filter.keyEq, exprSql)
  }
}

/** An exact co-moment wheel over a column pair ([[CoMomentIndexedWheel]]):
  * nine columns per slot — n, Σx, Σy, Σx², Σy², Σxy, the probe-failure
  * count and max |x| and |y|. */
private[index] final case class CoMomentPart(columnX: String, columnY: String,
    scaleX: Int, scaleY: Int, filter: PartFilter,
    exprSqlX: Option[String] = None, exprSqlY: Option[String] = None) extends BuildPart {
  def family: WheelFamily[CoMomentIndexedWheel] = WheelFamily.CoMoment

  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] = {
    import SlotAgg._
    // Exact co-moments: both columns go through the same fixed-point
    // probe as the unary moments; a row contributes only when BOTH
    // values are non-NULL (SQL binary-aggregate discipline), and a probe
    // failure in EITHER column (NaN/Infinity/overflow — which would make
    // the scan's explicit cast throw under ANSI) is counted to decline.
    def probe(src: Column, s: Int) = {
      val f = BuildPart.fastDecIfDouble(in.df, src, 18, s)
      val u = (f * F.lit(math.pow(10, s).toLong).cast("decimal(10,0)")).cast("long")
      (src, f, u, src.cast("double"))
    }
    val (sx0, fx, ux, xd) = probe(exprSqlX.map(F.expr).getOrElse(F.col(columnX)), scaleX)
    val (sy0, fy, uy, yd) = probe(exprSqlY.map(F.expr).getOrElse(F.col(columnY)), scaleY)
    val fail = (sx0.isNotNull && fx.isNull) || (sy0.isNotNull && fy.isNull)
    val keepC = filter.column.getOrElse(F.lit(true))
    val both = keepC && ux.isNotNull && uy.isNotNull
    val ux19 = ux.cast("decimal(19,0)")
    val uy19 = uy.cast("decimal(19,0)")
    Seq(
      CountIf(s"cn$j", both),
      Sum(s"cx$j", F.when(both, ux.cast("decimal(38,0)"))),
      Sum(s"cy$j", F.when(both, uy.cast("decimal(38,0)"))),
      Sum(s"cxx$j", F.when(both, ux19 * ux19)),
      Sum(s"cyy$j", F.when(both, uy19 * uy19)),
      Sum(s"cxy$j", F.when(both, ux19 * uy19)),
      CountIf(s"cf$j", keepC && fail),
      Max(s"cax$j", F.when(keepC, F.abs(xd))),
      Max(s"cay$j", F.when(keepC, F.abs(yd))))
  }

  def newAcc(): PartAcc = new Acc

  final class Acc extends PartAcc {
    private val wheel = new TypedRwWheel[(Long, Long), CoMoments, CoMoments](
      new WheelAggregators.CoMomentStats(scaleX, scaleY))
    private var castFail = 0L
    private var absMaxX = 0.0
    private var absMaxY = 0.0

    def add(r: Row, o: Int, nullSec: Boolean, sec: Long): Unit =
      if (!nullSec) {
        val n = r.getLong(o)
        if (n > 0L) {
          def big(i: Int) = BigInt(r.getDecimal(o + i).toBigIntegerExact)
          wheel.mergePartial(sec, CoMoments(n, big(1), big(2), big(3), big(4), big(5)))
        }
        castFail += r.getLong(o + 6)
        if (!r.isNullAt(o + 7)) absMaxX = math.max(absMaxX, r.getDouble(o + 7))
        if (!r.isNullAt(o + 8)) absMaxY = math.max(absMaxY, r.getDouble(o + 8))
      }

    def merge(other: PartAcc): Unit = {
      val o = other.asInstanceOf[Acc]
      wheel.merge(o.wheel)
      castFail += o.castFail
      absMaxX = math.max(absMaxX, o.absMaxX)
      absMaxY = math.max(absMaxY, o.absMaxY)
    }

    def freeze(slotSpan: Long, packLevels: Boolean): CoMomentIndexedWheel =
      CoMomentIndexedWheel(wheel.freeze(), columnX, columnY,
        wheel.agg.asInstanceOf[WheelAggregators.CoMomentStats], castFail, absMaxX, absMaxY,
        filter.key, filter.sql, slotSpan, filter.keyEq, exprSqlX, exprSqlY)
  }
}

private[index] object BuildPart {

  /** The part that rebuilds registered wheel `w` of `family`. Top-k wheels
    * have none: they ride the same pass as top-k columns
    * ([[TypedWheelBuild.TopKFold]]). */
  def of(family: WheelFamily[_ <: FamilyWheel], w: FamilyWheel): BuildPart = w match {
    case w: IndexedWheel =>
      NumericPart(family.asInstanceOf[WheelFamily[IndexedWheel]], w.valueColumn,
        PartFilter(w.filterSql, w.filterKey, w.keyEq), w.coverage, w.wheel.scale, w.exprSql)
    case w: DistinctIndexedWheel =>
      HllPart(w.column, w.p, PartFilter(w.filterSql, w.filterKey, w.keyEq), w.exprSql)
    case w: QuantileIndexedWheel =>
      HdrPart(w.column, w.s, PartFilter(w.filterSql, w.filterKey, w.keyEq), w.exprSql)
    case w: FreqIndexedWheel =>
      CmsPart(w.column, w.logW, w.d, PartFilter(w.filterSql, w.filterKey, w.keyEq), w.exprSql)
    case w: MomentIndexedWheel =>
      MomentPart(w.column, w.scale, PartFilter(w.filterSql, w.filterKey, w.keyEq), w.exprSql)
    case w: CoMomentIndexedWheel =>
      CoMomentPart(w.columnX, w.columnY, w.scaleX, w.scaleY,
        PartFilter(w.filterSql, w.filterKey, w.keyEq), w.exprSqlX, w.exprSqlY)
    case w: TopKIndexedWheel =>
      throw new IllegalArgumentException(s"top-k wheel ${w.column} has no fused build part")
  }

  /** Wheel `old` extended by `delta`, a wheel built from the same part over
    * appended rows only, at slot span `span`. Every wheel appends its
    * delta's slots — by array concatenation when the delta starts at or
    * after its last slot, by the slot-wise merge otherwise — and the build
    * facts accumulate: the numeric exactness flags AND, the moment decline
    * gates (castFail, absMax) and the top-k NULL-key count add up.
    *
    * Counts and scaled sums add and min/max combine; HLL registers max
    * (idempotent); HDR bins, Count-Min counters and moments add — so the
    * appended wheel is bit-identical to a full rebuild when the delta rows
    * are exactly the appended ones. A budget-driven coarsening leaves old
    * finer-grained partials in the merge; recording the coarsest span
    * keeps reads exact (coarse-aligned bounds are also fine-aligned along
    * the AllowedSlotSpans chain). Heavy-hitter summaries are BOUND-SOUND
    * (the slack semantics compose) but not necessarily bit-identical to a
    * from-scratch rebuild on slots dense enough to have compacted (a
    * rebuild compacts the union once; the merge compacts twice); certified
    * top-k answers are unaffected, as certification requires slack 0,
    * where compaction never engaged. Packedness survives. */
  def append(old: FamilyWheel, delta: FamilyWheel, span: Long, packLevels: Boolean): FamilyWheel =
    (old, delta) match {
      case (o: IndexedWheel, d: IndexedWheel) =>
        o.copy(
          wheel = o.wheel.appended(d.wheel, span, packLevels).getOrElse(
            graft.wheel.HawWheel.fromSecondPartials(o.wheel.slotPartials ++ d.wheel.slotPartials,
              o.wheel.scale, o.wheel.hasValues, span, packLevels)),
          valueAllNonNull = o.valueAllNonNull && d.valueAllNonNull,
          valuesExactAtScale = o.valuesExactAtScale && d.valuesExactAtScale,
          valuesNaNFree = o.valuesNaNFree && d.valuesNaNFree)
      case (o: DistinctIndexedWheel, d: DistinctIndexedWheel) =>
        o.copy(wheel = appendTyped(o.wheel, d.wheel, o.agg), slotSpan = math.max(o.slotSpan, span))
      case (o: QuantileIndexedWheel, d: QuantileIndexedWheel) =>
        o.copy(wheel = appendTyped(o.wheel, d.wheel, o.agg), slotSpan = math.max(o.slotSpan, span))
      case (o: FreqIndexedWheel, d: FreqIndexedWheel) =>
        o.copy(wheel = appendTyped(o.wheel, d.wheel, o.agg), slotSpan = math.max(o.slotSpan, span))
      case (o: MomentIndexedWheel, d: MomentIndexedWheel) =>
        o.copy(wheel = appendTyped(o.wheel, d.wheel, o.agg), castFail = o.castFail + d.castFail,
          absMax = math.max(o.absMax, d.absMax), slotSpan = math.max(o.slotSpan, span))
      case (o: CoMomentIndexedWheel, d: CoMomentIndexedWheel) =>
        o.copy(wheel = appendTyped(o.wheel, d.wheel, o.agg), castFail = o.castFail + d.castFail,
          absMaxX = math.max(o.absMaxX, d.absMaxX), absMaxY = math.max(o.absMaxY, d.absMaxY),
          slotSpan = math.max(o.slotSpan, span))
      case (o: TopKIndexedWheel, d: TopKIndexedWheel) =>
        o.copy(wheel = appendTyped(o.wheel, d.wheel, o.agg),
          keyNullCount = o.keyNullCount + d.keyNullCount)
      case _ =>
        throw new IllegalArgumentException(
          s"cannot append a ${delta.getClass.getSimpleName} to a ${old.getClass.getSimpleName}")
    }

  private def appendTyped[In, P: scala.reflect.ClassTag, Out](old: TypedHawWheel[P, Out],
      delta: TypedHawWheel[P, Out], agg: WheelAggregator[In, P, Out]): TypedHawWheel[P, Out] =
    old.appended(delta, agg).getOrElse(
      TypedHawWheel.fromSecondPartials(old.slotPartials ++ delta.slotPartials, agg))

  /** `try_cast(v AS decimal(p, s))` of a DOUBLE column via the scaled-long
    * fast path ([[graft.functions.FastDecimalImage]] — identical result,
    * minus the `Double.toString` parse that priced the lineitem build). */
  def fastDecCol(v: Column, precision: Int, scale: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.FastDecimalImage(
        org.apache.spark.sql.graft.ColumnBridge.expression(v), precision, scale))

  /** The fixed-point probe image for a moment/co-moment source: the fast
    * double path when the source IS a double, Spark's own `try_cast` for
    * every other input type (DECIMAL sources stay in exact decimal
    * arithmetic end-to-end; int/long casts are already cheap). */
  def fastDecIfDouble(df: DataFrame, src: Column, precision: Int, scale: Int): Column =
    if (df.select(src).schema.head.dataType == DoubleType) fastDecCol(src, precision, scale)
    else src.try_cast(s"decimal($precision,$scale)")
}

package graft.index

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.wheel.{RwWheel, TypedHawWheel, TypedRwWheel, WheelAggregator, WheelAggregators}
import graft.wheel.WheelAggregators.{CoMoments, Moments}

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
    * plan's parts of its family and names the columns. */
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

/** A numeric wheel ([[IndexedWheel]]) over `scope`'s measure (none = row
  * count): seven columns per slot — rowCount, valueCount,
  * sum(DECIMAL(38,scale)), min, max, nonRepresentableCount, nanCount. Serves
  * the [[WheelFamily.Millis]] wheels too, under the millisecond slot
  * expression. */
private[graft] final case class NumericPart(family: NumericFamily, scope: WheelScope, scale: Int)
    extends BuildPart {
  def filter: PartFilter = scope.filter
  def valueColumn: Option[String] = scope.columns.headOption

  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] = {
    import SlotAgg._
    val inRange = scope.coverage
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
      IndexedWheel(scope.copy(slotSpan = slotSpan), wheel.freeze(slotSpan, packLevels),
        NumericFacts(valueAllNonNull = !hasValues || allNonNull,
          valuesExactAtScale = !hasValues || badRep == 0L,
          valuesNaNFree = !hasValues || nanCount == 0L))
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
    val exprSrc: Map[(String, Int), String] = parts.flatMap(p =>
      p.valueColumn.zip(p.scope.exprSql.headOption.flatten).map { case (c, sql) => (c, p.scale) -> sql }).toMap
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

/** How a [[SketchFamily]]'s wheel lays out and reads its columns of the
  * slot row. */
private[index] sealed abstract class SketchLayout[P, A] extends Serializable {
  /** The columns of a part with aggregator `agg` over `scope`; `j` numbers
    * the part among the plan's parts of its family and names the columns. */
  def aggs(j: Int, in: PartInputs, scope: WheelScope, agg: A): Seq[SlotAgg]
  /** The slot's partial, from its columns at ordinal `o`; None when the
    * slot saw no (post-filter) value, so the slot set is the one a
    * value-filtered typed build would have. */
  def partial(r: Row, o: Int, agg: A): Option[P]
  /** The facts of a wheel that saw no row. */
  def noFacts: SketchFacts = SketchFacts()
  /** The facts one slot's columns record. */
  def facts(r: Row, o: Int): SketchFacts = noFacts

  /** The measure (a column, or a derived expression re-projected from its
    * SQL) where the filter holds: rows not matching become NULL and are
    * skipped, exactly like the SQL aggregate over the filtered query would
    * skip them. */
  protected def kept(scope: WheelScope): Column = {
    val src = scope.source(0)
    scope.filter.column.fold(src)(F.when(_, src))
  }

  protected def bytes(r: Row, o: Int): Option[Array[Byte]] =
    Option(r.getAs[Array[Byte]](o)).filter(_.length > 0)
}

private[index] object SketchLayout {
  import SlotAgg._

  /** Per-slot register partials from the registers form of the native
    * aggregate — bit-identical fold semantics to the SQL `hll_distinct` and
    * the wheel's own aggregator (they are the same code). Partials arrive
    * in the aggregator's canonical sparse/dense form. */
  object Hll extends SketchLayout[Array[Byte], WheelAggregators.HllDistinct] {
    def aggs(j: Int, in: PartInputs, scope: WheelScope, agg: WheelAggregators.HllDistinct) = {
      val p = agg.p
      Seq(Sketch(s"h$j", kept(scope).cast("long"), LongType,
        graft.functions.HllDistinctAgg(_, p, returnRegisters = true)))
    }
    def partial(r: Row, o: Int, agg: WheelAggregators.HllDistinct) = bytes(r, o).filter(agg.nonEmpty)
  }

  /** Per-slot bin partials from the bins form of the native quantile
    * aggregate — identical content semantics to the wheel aggregator (they
    * share bucketing and canonical encoding). The double cast is the image
    * the numeric wheels project, so buckets agree with what the SQL
    * aggregate over the raw column computes. */
  object Hdr extends SketchLayout[Array[Byte], WheelAggregators.HdrQuantile] {
    def aggs(j: Int, in: PartInputs, scope: WheelScope, agg: WheelAggregators.HdrQuantile) = {
      val s = agg.s
      Seq(Sketch(s"qt$j", kept(scope).cast("double"), DoubleType,
        graft.functions.HdrQuantileAgg(_, q = 0.0, s = s, returnBins = true)))
    }
    def partial(r: Row, o: Int, agg: WheelAggregators.HdrQuantile) = bytes(r, o)
  }

  /** Per-slot counter partials from the sketch form of the native
    * `cms_freq` aggregate — identical hash and content semantics to the
    * wheel aggregator (they are the same code). */
  object Cms extends SketchLayout[Array[Byte], WheelAggregators.CmsFreq] {
    def aggs(j: Int, in: PartInputs, scope: WheelScope, agg: WheelAggregators.CmsFreq) = {
      val (logW, d) = (agg.logW, agg.d)
      Seq(Sketch(s"fq$j", kept(scope).cast("long"), LongType,
        graft.functions.CmsFreqAgg(_, target = 0L, logW = logW, d = d, returnSketch = true)))
    }
    def partial(r: Row, o: Int, agg: WheelAggregators.CmsFreq) = bytes(r, o)
  }

  /** The exact fixed-point image of column `i` of `scope` at `scale`: the
    * source, its probe image `f` — rows that don't survive (NaN/Infinity/
    * overflow) are NULL there and COUNTED, and any nonzero count makes the
    * wheel decline every rewrite — and the unscaled integer u = f·10^s,
    * exact in a BIGINT (|u| < 10^18). All native codegen'd arithmetic. */
  private def probe(in: PartInputs, scope: WheelScope, i: Int, scale: Int) = {
    val src = scope.source(i)
    val f = BuildPart.fastDecIfDouble(in.df, src, 18, scale)
    val u = (f * F.lit(math.pow(10, scale).toLong).cast("decimal(10,0)")).cast("long")
    (src.isNotNull && f.isNull, u, F.abs(src.cast("double")))
  }

  private def big(r: Row, i: Int): BigInt = BigInt(r.getDecimal(i).toBigIntegerExact)

  private def absMax(r: Row, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)

  /** Exact moments, five columns per slot — n, Σu, Σu², the probe-failure
    * count and max |value|. Σu and Σu² accumulate in DECIMAL(38,0): u² <
    * 10^36 always fits a tight (19,0)×(19,0) product, so no precision is
    * lost anywhere. */
  object Moment extends SketchLayout[Moments, WheelAggregators.MomentStats] {
    def aggs(j: Int, in: PartInputs, scope: WheelScope, agg: WheelAggregators.MomentStats) = {
      val (fail, u, abs) = probe(in, scope, 0, agg.scale)
      val u19 = u.cast("decimal(19,0)")
      val keep = scope.filter.column.getOrElse(F.lit(true))
      Seq(
        Count(s"mc$j", F.when(keep, u)),
        Sum(s"ms$j", F.when(keep, u.cast("decimal(38,0)"))),
        Sum(s"mq$j", F.when(keep, u19 * u19)),
        CountIf(s"mf$j", keep && fail),
        Max(s"ma$j", F.when(keep, abs)))
    }
    def partial(r: Row, o: Int, agg: WheelAggregators.MomentStats) = {
      val n = r.getLong(o)
      if (n > 0L) Some(Moments(n, big(r, o + 1), big(r, o + 2))) else None
    }
    override def noFacts: SketchFacts = SketchFacts(0L, List(0.0))
    override def facts(r: Row, o: Int): SketchFacts = SketchFacts(r.getLong(o + 3), List(absMax(r, o + 4)))
  }

  /** Exact co-moments over a column pair, nine columns per slot — n, Σx,
    * Σy, Σx², Σy², Σxy, the probe-failure count and max |x| and |y|. A row
    * contributes only when BOTH values are non-NULL (SQL binary-aggregate
    * discipline), and a probe failure in EITHER column (which would make the
    * scan's explicit cast throw under ANSI) is counted to decline. */
  object CoMoment extends SketchLayout[CoMoments, WheelAggregators.CoMomentStats] {
    def aggs(j: Int, in: PartInputs, scope: WheelScope, agg: WheelAggregators.CoMomentStats) = {
      val (failX, ux, absX) = probe(in, scope, 0, agg.scaleX)
      val (failY, uy, absY) = probe(in, scope, 1, agg.scaleY)
      val keep = scope.filter.column.getOrElse(F.lit(true))
      val both = keep && ux.isNotNull && uy.isNotNull
      val ux19 = ux.cast("decimal(19,0)")
      val uy19 = uy.cast("decimal(19,0)")
      Seq(
        CountIf(s"cn$j", both),
        Sum(s"cx$j", F.when(both, ux.cast("decimal(38,0)"))),
        Sum(s"cy$j", F.when(both, uy.cast("decimal(38,0)"))),
        Sum(s"cxx$j", F.when(both, ux19 * ux19)),
        Sum(s"cyy$j", F.when(both, uy19 * uy19)),
        Sum(s"cxy$j", F.when(both, ux19 * uy19)),
        CountIf(s"cf$j", keep && (failX || failY)),
        Max(s"cax$j", F.when(keep, absX)),
        Max(s"cay$j", F.when(keep, absY)))
    }
    def partial(r: Row, o: Int, agg: WheelAggregators.CoMomentStats) = {
      val n = r.getLong(o)
      if (n > 0L) Some(CoMoments(n, big(r, o + 1), big(r, o + 2), big(r, o + 3), big(r, o + 4), big(r, o + 5)))
      else None
    }
    override def noFacts: SketchFacts = SketchFacts(0L, List(0.0, 0.0))
    override def facts(r: Row, o: Int): SketchFacts =
      SketchFacts(r.getLong(o + 6), List(absMax(r, o + 7), absMax(r, o + 8)))
  }
}

/** A [[SketchWheel]] of `family` over `scope`, with aggregator `agg`: its
  * columns of the slot row are the family's [[SketchLayout]], folded into
  * a typed wheel and the family's facts. */
private[index] final case class SketchPart[P, Out, A <: WheelAggregator[_, P, Out]](
    family: SketchFamily[P, Out, A], scope: WheelScope, agg: A) extends BuildPart {
  def filter: PartFilter = scope.filter
  def aggs(j: Int, in: PartInputs): Seq[SlotAgg] = family.layout.aggs(j, in, scope, agg)

  def newAcc(): PartAcc = new Acc

  final class Acc extends PartAcc {
    private val layout = family.layout
    private val wheel = new TypedRwWheel[Any, P, Out](agg.asInstanceOf[WheelAggregator[Any, P, Out]])
    private var facts = layout.noFacts

    def add(r: Row, o: Int, nullSec: Boolean, sec: Long): Unit =
      if (!nullSec) {
        layout.partial(r, o, agg).foreach(wheel.mergePartial(sec, _))
        facts = facts ++ layout.facts(r, o)
      }

    def merge(other: PartAcc): Unit = {
      val o = other.asInstanceOf[Acc]
      wheel.merge(o.wheel)
      facts = facts ++ o.facts
    }

    def freeze(slotSpan: Long, packLevels: Boolean): FamilyWheel =
      SketchWheel(scope.copy(slotSpan = slotSpan), wheel.freeze()(family.classTag), agg, facts)
  }
}

private[index] object BuildPart {

  /** The part that rebuilds registered wheel `w` of `family` — each
    * family's own ([[WheelFamily.part]]). Top-k wheels have none: they ride
    * the same pass as top-k columns ([[TypedWheelBuild.TopKFold]]). */
  def of(family: WheelFamily[_ <: FamilyWheel], w: FamilyWheel): BuildPart =
    family.asInstanceOf[WheelFamily[FamilyWheel]].part(w)

  /** Wheel `old` of `family` extended by `delta`, a wheel built from the
    * same part over appended rows only, at slot span `span`
    * ([[WheelFamily.append]]). Every wheel appends its delta's slots — by
    * array concatenation when the delta starts at or after its last slot,
    * by the slot-wise merge otherwise — and the build facts accumulate: the
    * numeric exactness flags AND, the moment decline gates (castFail,
    * absMax) and the top-k NULL-key count add up.
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
  def append(family: WheelFamily[_ <: FamilyWheel], old: FamilyWheel, delta: FamilyWheel,
      span: Long, packLevels: Boolean): FamilyWheel =
    family.asInstanceOf[WheelFamily[FamilyWheel]].append(old, delta, span, packLevels)

  /** Typed wheel `old` extended by `delta`: concatenated, or merged slot by
    * slot when `delta` starts before `old`'s last slot. */
  def appendTyped[P: ClassTag, Out](old: TypedHawWheel[P, Out], delta: TypedHawWheel[P, Out],
      agg: WheelAggregator[_, P, Out]): TypedHawWheel[P, Out] = {
    val a = agg.asInstanceOf[WheelAggregator[Any, P, Out]]
    old.appended(delta, a).getOrElse(TypedHawWheel.fromSecondPartials(old.slotPartials ++ delta.slotPartials, a))
  }

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

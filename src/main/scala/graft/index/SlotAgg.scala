package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.DataType

/** One aggregate column of the fused wheel build: a per-row `child`
  * expression and its per-slot fold. A build projects the children and
  * folds them per slot through [[init]]/[[update]]/[[result]] — on the
  * executors per partition, or on the driver over a small refresh delta
  * ([[SlotAgg.Folder]]) — and hands each slot's row to [[FusedAcc.add]].
  * The results are those of the Spark aggregate each case names. The
  * children are planned on the driver only, so they do not travel with
  * the fold. */
private[index] sealed abstract class SlotAgg extends Serializable {
  def name: String
  def child: Column
  def init: Any
  def update(state: Any, v: Any): Any
  def result(state: Any): Any
}

private[index] object SlotAgg {

  /** `sum(CASE WHEN child THEN 1 ELSE 0 END)`: rows whose condition is TRUE
    * (NULL counts as false). */
  final case class CountIf(name: String, @transient child: Column) extends SlotAgg {
    def init: Any = 0L
    def update(s: Any, v: Any): Any = if (v == true) s.asInstanceOf[Long] + 1L else s
    def result(s: Any): Any = s
  }

  /** `count(child)`: non-NULL values. */
  final case class Count(name: String, @transient child: Column) extends SlotAgg {
    def init: Any = 0L
    def update(s: Any, v: Any): Any = if (v != null) s.asInstanceOf[Long] + 1L else s
    def result(s: Any): Any = s
  }

  /** `sum(child)` over a DECIMAL(38, s) child (NULL when no value); the
    * exact sum, refused past 38 digits as an ANSI decimal sum refuses it.
    * A NULL-typed child (a count-only spec's) sums to NULL either way. */
  final case class Sum(name: String, @transient child: Column) extends SlotAgg {
    def init: Any = null
    def update(s: Any, v: Any): Any =
      if (v == null) s
      else if (s == null) v
      else s.asInstanceOf[java.math.BigDecimal].add(v.asInstanceOf[java.math.BigDecimal])
    def result(s: Any): Any = s match {
      case d: java.math.BigDecimal if d.precision > 38 =>
        throw new ArithmeticException(s"decimal sum $d overflows DECIMAL(38, ${d.scale})")
      case other => other
    }
  }

  /** `min(child)` / `max(child)` over a DOUBLE child in Spark's order:
    * NaN above every value, -0.0 equal to 0.0, the first of equal values
    * kept. */
  final case class Min(name: String, @transient child: Column) extends SlotAgg {
    def init: Any = null
    def update(s: Any, v: Any): Any =
      if (v == null) s else if (s == null || cmp(v, s) < 0) v else s
    def result(s: Any): Any = s
  }

  final case class Max(name: String, @transient child: Column) extends SlotAgg {
    def init: Any = null
    def update(s: Any, v: Any): Any =
      if (v == null) s else if (s == null || cmp(v, s) > 0) v else s
    def result(s: Any): Any = s
  }

  private def cmp(a: Any, b: Any): Int =
    graft.wheel.RwWheel.sparkCompare(a.asInstanceOf[Double], b.asInstanceOf[Double])

  /** A sketch aggregate (`HllDistinctAgg`, `HdrQuantileAgg`, `CmsFreqAgg`
    * in their partial-returning forms) built by `make`, run through its
    * own buffer update and eval over a bound child value. */
  final case class Sketch(name: String, @transient child: Column, childType: DataType,
      make: Expression => TypedImperativeAggregate[_]) extends SlotAgg {
    @transient private lazy val bound =
      make(BoundReference(0, childType, nullable = true)).asInstanceOf[TypedImperativeAggregate[Any]]
    def init: Any = bound.createAggregationBuffer()
    def update(s: Any, v: Any): Any = bound.update(s, InternalRow(v))
    def result(s: Any): Any = bound.eval(s)
  }

  /** The per-slot fold of one plan's columns: `r(slotOrd)` is a row's slot
    * (NULL for a NULL time) and the `aggs.length` columns after it are the
    * aggregates' children, in order. Rows are folded as they come; only
    * one state per slot is held. */
  final class Folder(slotOrd: Int, aggs: IndexedSeq[SlotAgg]) {
    private val n = aggs.length
    private val bySlot = mutable.LongMap.empty[Array[Any]]
    private var nullSlot: Array[Any] = null

    private def fresh(): Array[Any] = {
      val st = new Array[Any](n)
      var k = 0
      while (k < n) { st(k) = aggs(k).init; k += 1 }
      st
    }

    def add(r: Row): Unit = {
      val st =
        if (r.isNullAt(slotOrd)) {
          if (nullSlot == null) nullSlot = fresh()
          nullSlot
        } else {
          val s = r.getLong(slotOrd)
          val got = bySlot.getOrNull(s)
          if (got != null) got else { val st = fresh(); bySlot.update(s, st); st }
        }
      var k = 0
      while (k < n) {
        st(k) = aggs(k).update(st(k), r.get(slotOrd + 1 + k))
        k += 1
      }
    }

    /** Hands every slot's row — the slot, then each aggregate's result —
      * to `acc`. */
    def emitInto(acc: FusedAcc): FusedAcc = {
      def emit(slot: Any, st: Array[Any]): Unit = {
        val row = new Array[Any](n + 1)
        row(0) = slot
        var k = 0
        while (k < n) { row(k + 1) = aggs(k).result(st(k)); k += 1 }
        acc.add(new GenericRow(row))
      }
      bySlot.foreach { case (s, st) => emit(s, st) }
      if (nullSlot != null) emit(null, nullSlot)
      acc
    }
  }
}

package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType

/** One aggregate column of the fused wheel build: a per-row `child`
  * expression and the aggregate over it. The distributed build groups rows
  * by slot and runs [[column]] in Spark; a small refresh delta collects the
  * children instead and folds them per slot on the driver through
  * [[init]]/[[update]]/[[result]], which reproduce the Spark aggregate's
  * value for the slot. Either way the slot's row reaches the same
  * [[FusedAcc.add]], so both paths build the same wheels. */
private[index] sealed abstract class SlotAgg {
  def name: String
  def child: Column
  /** The aggregate the distributed build runs, named [[name]]. */
  def column: Column
  def init: Any
  def update(state: Any, v: Any): Any
  def result(state: Any): Any
}

private[index] object SlotAgg {

  /** `sum(CASE WHEN child THEN 1 ELSE 0 END)`: rows whose condition is TRUE
    * (NULL counts as false). */
  final case class CountIf(name: String, child: Column) extends SlotAgg {
    def column: Column = F.sum(F.when(child, F.lit(1L)).otherwise(F.lit(0L))).as(name)
    def init: Any = 0L
    def update(s: Any, v: Any): Any = if (v == true) s.asInstanceOf[Long] + 1L else s
    def result(s: Any): Any = s
  }

  /** `count(child)`: non-NULL values. */
  final case class Count(name: String, child: Column) extends SlotAgg {
    def column: Column = F.count(child).as(name)
    def init: Any = 0L
    def update(s: Any, v: Any): Any = if (v != null) s.asInstanceOf[Long] + 1L else s
    def result(s: Any): Any = s
  }

  /** `sum(child)` over a DECIMAL(38, s) child (NULL when no value); the
    * exact sum, refused past 38 digits as an ANSI decimal sum refuses it.
    * A NULL-typed child (a count-only spec's) sums to NULL either way. */
  final case class Sum(name: String, child: Column) extends SlotAgg {
    def column: Column = F.sum(child).as(name)
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
  final case class Min(name: String, child: Column) extends SlotAgg {
    def column: Column = F.min(child).as(name)
    def init: Any = null
    def update(s: Any, v: Any): Any =
      if (v == null) s else if (s == null || cmp(v, s) < 0) v else s
    def result(s: Any): Any = s
  }

  final case class Max(name: String, child: Column) extends SlotAgg {
    def column: Column = F.max(child).as(name)
    def init: Any = null
    def update(s: Any, v: Any): Any =
      if (v == null) s else if (s == null || cmp(v, s) > 0) v else s
    def result(s: Any): Any = s
  }

  private def cmp(a: Any, b: Any): Int = {
    val x = a.asInstanceOf[Double]; val y = b.asInstanceOf[Double]
    if (x == y) 0 else java.lang.Double.compare(x, y)
  }

  /** A sketch aggregate (`HllDistinctAgg`, `HdrQuantileAgg`, `CmsFreqAgg`
    * in their partial-returning forms) built by `make` over the child. The
    * driver fold runs the same aggregate object, bound to the collected
    * value, through its own buffer update and eval. */
  final case class Sketch(name: String, child: Column, childType: DataType,
      make: Expression => TypedImperativeAggregate[_]) extends SlotAgg {
    def column: Column =
      ColumnBridge.column(make(ColumnBridge.expression(child)).toAggregateExpression()).as(name)
    private lazy val bound =
      make(BoundReference(0, childType, nullable = true)).asInstanceOf[TypedImperativeAggregate[Any]]
    def init: Any = bound.createAggregationBuffer()
    def update(s: Any, v: Any): Any = bound.update(s, InternalRow(v))
    def result(s: Any): Any = bound.eval(s)
  }

  /** Folds collected rows into a build accumulator: `rows(i)(slotOrd)` is
    * the row's slot (NULL for a NULL time) and the `aggs.length` columns
    * after it are the aggregates' children, in order. Each slot's
    * aggregate row goes through `acc.add`, as a row of the distributed
    * aggregate does. */
  def fold(rows: Array[Row], slotOrd: Int, aggs: IndexedSeq[SlotAgg], acc: FusedAcc): FusedAcc = {
    val n = aggs.length
    val bySlot = mutable.LongMap.empty[Array[Any]]
    var nullSlot: Array[Any] = null
    def fresh(): Array[Any] = Array.tabulate[Any](n)(k => aggs(k).init)
    rows.foreach { r =>
      val st =
        if (r.isNullAt(slotOrd)) {
          if (nullSlot == null) nullSlot = fresh()
          nullSlot
        } else bySlot.getOrElseUpdate(r.getLong(slotOrd), fresh())
      var k = 0
      while (k < n) {
        st(k) = aggs(k).update(st(k), r.get(slotOrd + 1 + k))
        k += 1
      }
    }
    def emit(slot: Any, st: Array[Any]): Unit =
      acc.add(Row.fromSeq(slot +: Array.tabulate[Any](n)(k => aggs(k).result(st(k))).toSeq))
    bySlot.foreach { case (s, st) => emit(s, st) }
    if (nullSlot != null) emit(null, nullSlot)
    acc
  }
}

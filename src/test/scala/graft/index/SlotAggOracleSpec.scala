package graft.index

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** An oracle for the fused build's per-slot fold that does not run the
  * fold: every [[SlotAgg]], folded through its own init/update/result per
  * slot, must equal the Spark aggregate it stands for, computed by
  * `groupBy(slot).agg(...)` over the same rows — count, sum, min and max,
  * and the partial-returning HLL, HDR and Count-Min aggregates. */
class SlotAggOracleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  /** Three rows per second (250 ms apart), with NULL times and values, NaN,
    * -0.0 beside 0.0 in one second, and a DECIMAL(12,3) column whose third
    * digit a scale-2 sum rounds away. One partition, so both sides see the
    * rows of a slot in the same order. */
  private def rows(n: Int): DataFrame = {
    val session = spark
    import session.implicits._
    (0 until n).map { i =>
      val ts = if (i % 17 == 5) None else Some(new Timestamp(t0 + i / 3 * 1000L + (i % 3) * 250L))
      val v: Option[Double] = i % 23 match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case 2 => Some(-0.0)
        case 3 | 4 => Some(0.0)
        case 7 => Some(Double.PositiveInfinity)
        case _ => Some((i % 97) / 4.0 - 6.0)
      }
      val amt = if (i % 13 == 0) None else Some(BigDecimal(i % 89 * 7) / 1000)
      val uid: Option[Long] = if (i % 11 == 0) None else Some((i % 37).toLong)
      (ts, v, amt, uid)
    }.toDF("ts", "v", "amt", "uid")
      .withColumn("amt", F.col("amt").cast("decimal(12,3)"))
      .coalesce(1)
  }

  /** The Spark aggregate each [[SlotAgg]] case stands for. */
  private def sparkAggregate(a: SlotAgg): Column = a match {
    case SlotAgg.CountIf(n, c) => F.sum(F.when(c, F.lit(1L)).otherwise(F.lit(0L))).as(n)
    case SlotAgg.Count(n, c) => F.count(c).as(n)
    case SlotAgg.Sum(n, c) => F.sum(c).as(n)
    case SlotAgg.Min(n, c) => F.min(c).as(n)
    case SlotAgg.Max(n, c) => F.max(c).as(n)
    case SlotAgg.Sketch(n, c, _, make) =>
      ColumnBridge.column(make(ColumnBridge.expression(c)).toAggregateExpression()).as(n)
  }

  /** Bit-exact comparison key: doubles by their bits (NaN, -0.0), byte
    * partials by content, decimals by value and scale. */
  private def key(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  test("the per-slot fold equals Spark's groupBy(slot) aggregate, every SlotAgg case") {
    spark.sparkContext.setLogLevel("WARN")
    import SlotAgg._
    val df = rows(1200)
    val sec = UWheelIndex.secExprOf(df, "ts")
    val v = F.col("v")
    val uid = F.col("uid")
    val aggs = IndexedSeq[SlotAgg](
      CountIf("ci", v > 0.0),
      Count("cn", v),
      Sum("s3", F.col("amt").cast("decimal(38,3)")),
      Sum("s2", F.col("amt").cast("decimal(38,2)")),
      Sum("sn", F.lit(null).cast("decimal(38,2)")),
      Min("mn", v),
      Max("mx", v),
      Sketch("h", uid, LongType, graft.functions.HllDistinctAgg(_, 11, returnRegisters = true)),
      Sketch("q", v, DoubleType, graft.functions.HdrQuantileAgg(_, q = 0.0, s = 7, returnBins = true)),
      Sketch("f", uid, LongType,
        graft.functions.CmsFreqAgg(_, target = 0L, logW = 6, d = 3, returnSketch = true)))

    val expected: Map[Any, Seq[Any]] = df.groupBy(sec.as("slot"))
      .agg(sparkAggregate(aggs.head), aggs.tail.map(sparkAggregate): _*)
      .collect().map(r => (r.get(0), (1 to aggs.length).map(i => key(r.get(i))))).toMap

    val children = df.select(sec.as("slot") +: aggs.map(_.child): _*).collect()
    val states = scala.collection.mutable.LinkedHashMap.empty[Any, Array[Any]]
    children.foreach { r =>
      val st = states.getOrElseUpdate(r.get(0), aggs.map(_.init).toArray)
      aggs.indices.foreach(k => st(k) = aggs(k).update(st(k), r.get(k + 1)))
    }
    val folded: Map[Any, Seq[Any]] = states.map { case (slot, st) =>
      slot -> aggs.indices.map(k => key(aggs(k).result(st(k))))
    }.toMap

    assert(folded.keySet === expected.keySet)
    assert(expected.contains(null), "a NULL time must make a NULL slot")
    for ((slot, want) <- expected; k <- aggs.indices)
      assert(folded(slot)(k) == want(k), s"slot $slot, ${aggs(k).name}: fold ${folded(slot)(k)} != Spark ${want(k)}")
    // the shapes the oracle is for are present
    val vs = children.map(_.get(6))
    assert(vs.exists(x => x != null && x.asInstanceOf[Double].isNaN))
    assert(vs.exists(x => x != null && java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]) ==
      java.lang.Double.doubleToRawLongBits(-0.0)))
    assert(children.groupBy(_.get(0)).values.exists(_.length == 3))
  }
}

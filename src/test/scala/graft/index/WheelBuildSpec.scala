package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.wheel.HawWheel

/** The distributed index build folds per-second partials into per-partition
  * RwWheels and tree-merges them executor-side. These specs prove the merged
  * result is bit-identical to a driver-side single-threaded build from the
  * same partials, regardless of how the data is partitioned, and that the
  * exactness metadata (null/NaN/representability flags) survives the merge.
  */
class WheelBuildSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "7")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Fully characterizes a wheel by its observable per-second content plus
    * the rolled-up range answer — two wheels with equal profiles are
    * structurally identical (same sparse arrays). */
  private def profile(w: HawWheel): (Long, Long, Long, Seq[(Long, Long, Long, Double, Double)]) = {
    val secs = (w.startSec until w.endSec).filter(s => w.countRange(s, s + 1) > 0)
    val perSec = secs.map { s =>
      val a = w.range(s, s + 1)
      (s, a.count, a.sumScaled, a.min, a.max)
    }
    (w.startSec, w.endSec, w.sizeBytes, perSec)
  }

  private def writeRows(df: DataFrame, parts: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-build").toString
    val p = s"$dir/t.parquet"
    df.repartition(parts).write.mode("overwrite").parquet(p)
    p
  }

  private def mkDf: DataFrame = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = (0 until 5000).map { i =>
      val ts =
        if (i == 4999) null // one NULL timestamp → tsAllNonNull must be false
        else new java.sql.Timestamp(base + (i % 1500).toLong * 1000 + (i % 7) * 911000L)
      val v: java.lang.Double = if (i % 101 == 0) null else (i % 997) / 4.0
      val k = if (i % 3 == 0) "a" else "b"
      (ts, v, k)
    }
    rows.toDF("ts", "value", "k")
  }

  test("treeAggregate build ≡ single-partition build, and ≡ driver-side model") {
    spark.sparkContext.setLogLevel("WARN")
    val df = mkDf
    val p7 = writeRows(df, 7)
    val p1 = writeRows(df, 1)
    val t7 = UWheelBuilder("ts", Seq("value"))
      .withKeyedWheel(IndexBuilder("value", Some("k = 'a'"))).build(spark, p7)
    val t1 = UWheelBuilder("ts", Seq("value"))
      .withKeyedWheel(IndexBuilder("value", Some("k = 'a'"))).build(spark, p1)

    // partition-count independence, wheel by wheel
    for ((get, label) <- Seq(
        ((t: TableIndex) => t.countWheel.get, "count"),
        ((t: TableIndex) => t.minMaxWheel("value").get, "minmax"),
        ((t: TableIndex) => t.get(Some("value"), "").get, "value"))) {
      val a = get(t7); val b = get(t1)
      assert(profile(a.wheel) === profile(b.wheel), label)
      assert(a.facts.valueAllNonNull === b.facts.valueAllNonNull, label)
      assert(a.facts.valuesExactAtScale === b.facts.valuesExactAtScale, label)
      assert(a.facts.valuesNaNFree === b.facts.valuesNaNFree, label)
    }
    assert(t7.tsAllNonNull === t1.tsAllNonNull)
    assert(t7.tsAllNonNull === false) // the NULL-ts row was seen on some partition

    // driver-side model: aggregate the same per-second partials with plain
    // DataFrame collect + HawWheel.fromSecondPartials (the pre-merge design)
    val scale = 2
    val modelRows = spark.read.parquet(p7)
      .filter(col("ts").isNotNull)
      .groupBy((col("ts").cast("long")).as("sec"))
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast(s"decimal(38,$scale)")).as("s"),
        min(col("value").cast("double")).as("mn"),
        max(col("value").cast("double")).as("mx"))
      .collect()
    val model = HawWheel.fromSecondPartials(
      modelRows.iterator.map { r =>
        val s = if (r.isNullAt(2)) 0L
          else r.getDecimal(2).movePointRight(scale).longValueExact()
        (r.getLong(0), r.getLong(1),  s,
          if (r.isNullAt(3)) Double.PositiveInfinity else r.getDouble(3),
          if (r.isNullAt(4)) Double.NegativeInfinity else r.getDouble(4))
      }, scale, hasValues = true)
    assert(profile(t7.minMaxWheel("value").get.wheel) === profile(model))

    // keyed wheel answers the filtered aggregate exactly; its registry key is
    // the canonical form of the same filter the builder was given
    val keyedWheel = {
      val fk = graft.expr.Canon.canonFilterKey(
        spark.read.parquet(p7).filter(expr("k = 'a'")))
      t7.get(Some("value"), fk).getOrElse(fail(s"keyed wheel not found for key '$fk'"))
    }
    val exp = spark.read.parquet(p7)
      .filter(col("k") === "a" && col("ts").isNotNull)
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast(s"decimal(38,$scale)")).as("s")).collect()(0)
    val lm = keyedWheel.wheel.landmark
    assert(lm.count === exp.getLong(0))
    assert(lm.sumScaled === exp.getDecimal(1).movePointRight(scale).longValueExact())
  }

  test("metadata flags survive the executor-side merge (NaN, non-representable)") {
    import spark.implicits._
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-05-01 00:00:00"), 1.25),
      (java.sql.Timestamp.valueOf("2024-05-01 00:00:01"), Double.NaN),
      (java.sql.Timestamp.valueOf("2024-05-01 00:00:02"), 1e-9)) // not repr. at scale 2
    val p = writeRows(rows.toDF("ts", "value"), 3)
    val t = UWheelBuilder("ts", Seq("value")).build(spark, p)
    val w = t.minMaxWheel("value").get
    assert(!w.facts.valuesNaNFree)
    assert(!w.facts.valuesExactAtScale)
    assert(w.facts.valueAllNonNull)
    assert(t.countWheel.get.wheel.landmark.count === 3L)
  }
}

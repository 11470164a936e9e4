package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DecimalType measure columns end-to-end (round-6 verdict #2): the wheel
  * builds at the column's own scale, SUM/COUNT answer exactly from the
  * scaled-long slot sums with NO exactness gate (the wheel's arithmetic IS
  * the column's), and MIN/MAX answer from the double-stored extrema only
  * under the double-image round-trip proof — a high-precision decimal
  * corpus whose values don't survive a double must decline MIN/MAX while
  * still rewriting SUM. Generalizes the reference guard that accepts all
  * numerics but lowers to f64 (`lib.rs:1161-1176`).
  */
class DecimalWheelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def assertRewritten(df: DataFrame): Unit = {
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
    assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
  }

  private def assertNotRewritten(df: DataFrame): Unit =
    assert(df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r
    }.nonEmpty, "expected the scan to survive")

  private def groundTruth[T](q: => T): T = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cs.experimental.extraOptimizations
    cs.experimental.extraOptimizations = Nil
    try q finally cs.experimental.extraOptimizations = saved
  }

  test("decimal(12,2): SUM/MIN/MAX/COUNT rewrite exactly at the column's scale") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dec-spec").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime
    (0 until 20000).map { i =>
      (new java.sql.Timestamp(base + i.toLong * 13 * 1000),
        BigDecimal((i % 977) * 7 + i % 100, 2)) // cents-scale values
    }.toDF("ts", "amount")
      .select(col("ts"), col("amount").cast("decimal(12,2)").as("amount"))
      .write.mode("overwrite").parquet(p)

    val t = UWheelBuilder("ts", Seq("amount")).build(spark, p)
    // wheel scale is the column's own, not the config default
    assert(t.minMaxWheel("amount").get.wheel.scale === 2)
    assert(t.minMaxWheel("amount").get.facts.valuesExactAtScale,
      "cents-scale decimals round-trip through double exactly")

    val q = spark.read.parquet(p)
      .filter(col("ts") >= lit("2024-04-01 06:00:00").cast("timestamp") &&
        col("ts") < lit("2024-04-02 18:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("cnt"), sum("amount").as("s"), avg("amount").as("a"),
        min("amount").as("mn"), max("amount").as("mx"), count("amount").as("cv"))
    assertRewritten(q)
    val got = q.collect().map(_.toString).toSeq
    assert(got === groundTruth(q.collect().map(_.toString).toSeq))
    // result TYPES must match the unrewritten plan's (decimal precision/scale)
    assert(q.schema === groundTruth(q.schema))

    // group-by arm over the same wheel
    val g = spark.read.parquet(p)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(sum("amount").as("s"), avg("amount").as("a"), max("amount").as("mx"))
      .orderBy("d")
    assertRewritten(g)
    assert(g.collect().map(_.toString).toSeq ===
      groundTruth(g.collect().map(_.toString).toSeq))
  }

  test("decimal AVG: exact quotient ties and negative sums round like Spark") {
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dec-avg").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime
    // 32 rows summing to 0.05: avg = 0.0015625 exactly — a half-tie at the
    // result scale (6), where HALF_UP and HALF_EVEN diverge; plus a
    // negative twin in a second bucket (HALF_UP rounds away from zero)
    val rows =
      (0 until 32).map { i =>
        (new java.sql.Timestamp(base + i.toLong * 1000),
          BigDecimal(if (i == 0) "0.05" else "0.00"))
      } ++ (0 until 32).map { i =>
        (new java.sql.Timestamp(base + 86400000L + i.toLong * 1000),
          BigDecimal(if (i == 0) "-0.05" else "0.00"))
      }
    rows.toDF("ts", "amount")
      .select(col("ts"), col("amount").cast("decimal(12,2)").as("amount"))
      .write.mode("overwrite").parquet(p)
    UWheelBuilder("ts", Seq("amount")).build(spark, p)
    val g = spark.read.parquet(p)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(avg("amount").as("a"), count(lit(1)).as("c"))
      .orderBy("d")
    assertRewritten(g)
    val got = g.collect()
    assert(got.map(_.toString).toSeq === groundTruth(g.collect().map(_.toString).toSeq))
    assert(got(0).getDecimal(1).toPlainString === "0.001563", "positive half-tie HALF_UP")
    assert(got(1).getDecimal(1).toPlainString === "-0.001563", "negative half-tie away from zero")
  }

  test("high-precision decimal: double image inexact ⇒ MIN/MAX decline, SUM still exact") {
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dec-hp").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime
    // 18 significant digits beyond double's 15–17: the double image rounds
    (0 until 3000).map { i =>
      (new java.sql.Timestamp(base + i.toLong * 60 * 1000),
        BigDecimal(s"1234567890.1234567${i % 10}"))
    }.toDF("ts", "amount")
      .select(col("ts"), col("amount").cast("decimal(20,7)").as("amount"))
      .write.mode("overwrite").parquet(p)

    val t = UWheelBuilder("ts", Seq("amount")).build(spark, p)
    assert(t.minMaxWheel("amount").get.wheel.scale === 7)
    assert(!t.minMaxWheel("amount").get.facts.valuesExactAtScale,
      "18-digit decimals must be flagged double-inexact")

    def base_(cols: org.apache.spark.sql.Column*): DataFrame = spark.read.parquet(p)
      .filter(col("ts") >= lit("2024-04-01 01:00:00").cast("timestamp") &&
        col("ts") < lit("2024-04-02 00:00:00").cast("timestamp"))
      .agg(cols.head, cols.tail: _*)

    val s = base_(sum("amount").as("s"), count(lit(1)).as("cnt"))
    assertRewritten(s)
    assert(s.collect().map(_.toString).toSeq ===
      groundTruth(s.collect().map(_.toString).toSeq))

    // MIN/MAX would have to reconstruct the decimal from a rounded double:
    // must fall through to the scan, never answer approximately
    assertNotRewritten(base_(min("amount").as("mn")))
    assertNotRewritten(base_(max("amount").as("mx")))
  }

  test("decimal-valued derived expression: MIN/MAX route to the expr wheel") {
    // round-9 advice: min(dec_price * dec_qty) silently declined while the
    // Sum/Avg arms accepted decimal expressions — the mindec/maxdec arms
    // must serve it under the same valuesExactAtScale gate
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dec-expr").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-04-01 00:00:00").getTime
    (0 until 20000).map { i =>
      (new java.sql.Timestamp(base + i.toLong * 13 * 1000),
        BigDecimal((i % 977) * 7 + i % 100, 2), BigDecimal(1 + i % 50, 2))
    }.toDF("ts", "price", "qty")
      .select(col("ts"), col("price").cast("decimal(12,2)").as("price"),
        col("qty").cast("decimal(12,2)").as("qty"))
      .write.mode("overwrite").parquet(p)

    // price * qty : decimal(25,4) — the wheel must carry scale 4 to match
    UWheelBuilder("ts", Seq("price")).withExprWheel("price * qty", scale = 4)
      .build(spark, p)

    def q(cols: org.apache.spark.sql.Column*): DataFrame = spark.read.parquet(p)
      .filter(col("ts") >= lit("2024-04-01 01:00:00").cast("timestamp") &&
        col("ts") < lit("2024-04-02 00:00:00").cast("timestamp"))
      .agg(cols.head, cols.tail: _*)

    val mm = q(min(expr("price * qty")).as("mn"), max(expr("price * qty")).as("mx"),
      sum(expr("price * qty")).as("s"))
    assertRewritten(mm)
    assert(mm.collect().map(_.toString).toSeq ===
      groundTruth(mm.collect().map(_.toString).toSeq))
  }
}

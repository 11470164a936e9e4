package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.{Graft, Tables}
import graft.index.UWheelBuilder

/** `wheel_covar_samp` / `wheel_covar_pop` / `wheel_corr` SQL surface: the
  * binary aggregate's fold must equal the exact integer co-moment formula,
  * and the wheel rewrite must return exactly what running the aggregate
  * would — these are oracle-checkable like the unary moment family
  * (`uw_corr_*` contract entries carry exact DuckDB oracles). */
class CoMomentSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  lazy val setup: Unit = {
    spark.sparkContext.setLogLevel("WARN")
    Graft.enable(spark)
    Tables.registerAll(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-comoment").toString
    val p = s"$tmp/li2.parquet"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_shipdate",
        "CAST(l_quantity AS DECIMAL(12,2)) AS qty",
        "CAST(l_extendedprice AS DECIMAL(18,2)) AS price")
      .write.mode("overwrite").parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("li2")
    UWheelBuilder("l_shipdate", Seq("qty"))
      .withCoMomentWheel("qty", "price")
      .build(spark, p)
  }

  def onOff(sql: String): (Array[Row], Array[Row]) = {
    val on = spark.sql(sql).collect()
    Graft.rewritesEnabled = false
    val off = try spark.sql(sql).collect() finally Graft.rewritesEnabled = true
    (on, off)
  }

  def assertRewritten(df: DataFrame): Unit = {
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
    assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
  }
  def assertNotRewritten(df: DataFrame): Unit = {
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case r: LogicalRelation => r }.nonEmpty, s"expected scan in:\n$opt")
  }

  val range = "l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'"

  test("flat SQL fold equals the exact integer co-moment formula") {
    setup
    Graft.rewritesEnabled = false
    val got = try spark.sql(
      s"""SELECT wheel_corr(qty, price) AS r, wheel_covar_samp(qty, price) AS cs,
         |       wheel_covar_pop(qty, price) AS cp
         |FROM li2 WHERE $range""".stripMargin).collect()(0)
    finally Graft.rewritesEnabled = true
    val rows = spark.sql(
      s"""SELECT CAST(qty * 100 AS BIGINT), CAST(price * 100 AS BIGINT)
         |FROM li2 WHERE $range""".stripMargin)
      .collect().map(r => (BigInt(r.getLong(0)), BigInt(r.getLong(1))))
    val n = rows.length
    val sx = rows.map(_._1).sum; val sy = rows.map(_._2).sum
    val sxx = rows.map(p => p._1 * p._1).sum
    val syy = rows.map(p => p._2 * p._2).sum
    val sxy = rows.map(p => p._1 * p._2).sum
    val nB = BigInt(n)
    val numXY = nB * sxy - sx * sy
    val numXX = nB * sxx - sx * sx
    val numYY = nB * syy - sy * sy
    assert(got.getDouble(0) ===
      numXY.doubleValue / math.sqrt(numXX.doubleValue * numYY.doubleValue))
    assert(got.getDouble(1) === numXY.doubleValue / (n.toLong * (n - 1L)).toDouble / 1e4)
    assert(got.getDouble(2) === numXY.doubleValue / (n.toLong * n.toLong).toDouble / 1e4)
  }

  test("range query rewrites to LocalRelation and equals the scan") {
    setup
    val sql =
      s"""SELECT wheel_corr(qty, price) AS r, wheel_covar_samp(qty, price) AS cs,
         |       count(*) AS cnt
         |FROM li2 WHERE $range""".stripMargin
    assertRewritten(spark.sql(sql))
    val (on, off) = onOff(sql)
    assert(on.toSeq === off.toSeq)
  }

  test("GROUP BY date_trunc(month) rewrites and equals the scan") {
    setup
    val sql =
      s"""SELECT date_trunc('month', l_shipdate) AS m, wheel_corr(qty, price) AS r,
         |       count(*) AS cnt
         |FROM li2 WHERE $range GROUP BY 1 ORDER BY 1""".stripMargin
    assertRewritten(spark.sql(sql))
    val (on, off) = onOff(sql)
    assert(on.toSeq === off.toSeq)
    assert(on.nonEmpty)
  }

  test("argument order matters: swapped pair does not match the (x, y) wheel") {
    setup
    // corr is symmetric mathematically but the wheel is keyed (x, y) —
    // the swapped lookup declines and the scan answers, equal either way
    val sql = s"SELECT wheel_corr(price, qty) AS r FROM li2 WHERE $range"
    assertNotRewritten(spark.sql(sql))
    val (on, off) = onOff(sql)
    assert(on.toSeq === off.toSeq)
  }

  test("empty range lowers to NULL; constant column lowers corr to NULL") {
    setup
    val sqlEmpty = s"SELECT wheel_corr(qty, price) AS r FROM li2 " +
      "WHERE l_shipdate >= TIMESTAMP '2030-01-01 00:00:00' AND l_shipdate < TIMESTAMP '2030-02-01 00:00:00'"
    val q = spark.sql(sqlEmpty)
    assertRewritten(q)
    val (on, off) = onOff(sqlEmpty)
    assert(on.toSeq === off.toSeq)
    assert(on(0).isNullAt(0))
    // zero variance: corr over a constant x is NULL (0/0 by the formula)
    Graft.rewritesEnabled = false
    val const = try spark.sql(
      s"SELECT wheel_corr(CAST(1 AS DECIMAL(5,2)), price) AS r FROM li2 WHERE $range")
      .collect()(0)
    finally Graft.rewritesEnabled = true
    assert(const.isNullAt(0))
  }

  test("GROUP BY bucket × key and key-only route to per-value keyed co-moment wheels") {
    setup
    val p = java.nio.file.Files.createTempDirectory("graft-comoment-keyed").toString + "/li3.parquet"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_shipdate",
        "CAST(l_quantity AS DECIMAL(12,2)) AS qty",
        "CAST(l_extendedprice AS DECIMAL(18,2)) AS price",
        "l_returnflag AS rf")
      .write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("li3")
    val flags = spark.read.parquet(p).select("rf").distinct().collect().map(_.getString(0)).sorted
    assert(flags.length > 1)
    flags.foldLeft(UWheelBuilder("l_shipdate", Seq("qty"))) { (b, f) =>
      b.withKeyedWheel(graft.index.IndexBuilder("qty", Some(s"rf = '$f'")))
        .withKeyedCoMomentWheel("qty", "price", s"rf = '$f'")
    }.build(spark, p)
    val bucketed =
      s"""SELECT date_trunc('month', l_shipdate) AS m, rf, wheel_corr(qty, price) AS r,
         |       wheel_covar_samp(qty, price) AS cs, count(*) AS cnt
         |FROM li3 WHERE $range GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    assertRewritten(spark.sql(bucketed))
    val (on, off) = onOff(bucketed)
    assert(on.toSeq === off.toSeq)
    assert(on.nonEmpty)
    val keyOnly =
      s"""SELECT rf, wheel_covar_pop(qty, price) AS cp, count(*) AS cnt
         |FROM li3 WHERE $range GROUP BY 1 ORDER BY 1""".stripMargin
    assertRewritten(spark.sql(keyOnly))
    val (on2, off2) = onOff(keyOnly)
    assert(on2.toSeq === off2.toSeq)
    assert(on2.length === flags.length)
  }

  test("NULL pair discipline: a row counts only when BOTH values are non-null") {
    setup
    Graft.rewritesEnabled = false
    try {
      val df = spark.sql(
        """SELECT CAST(x AS DECIMAL(10,2)) AS x,
          |       CAST(CASE WHEN id % 3 = 0 THEN NULL ELSE y END AS DECIMAL(10,2)) AS y
          |FROM (SELECT id, CAST(id AS DOUBLE) AS x, CAST(id * 2 + 1 AS DOUBLE) AS y
          |      FROM range(30))""".stripMargin)
      df.createOrReplaceTempView("pairs_t")
      val got = spark.sql(
        "SELECT wheel_covar_samp(x, y) AS cs, wheel_corr(x, y) AS r FROM pairs_t").collect()(0)
      val both = spark.sql(
        "SELECT wheel_covar_samp(x, y) AS cs, wheel_corr(x, y) AS r FROM pairs_t WHERE y IS NOT NULL")
        .collect()(0)
      assert(got === both)
    } finally Graft.rewritesEnabled = true
  }
}

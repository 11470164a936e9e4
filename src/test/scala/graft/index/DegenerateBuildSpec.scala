package graft.index

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.UWheelIndex.RefreshOutcome

/** Cold builds and rebuilds over degenerate tables: no rows at all, a time
  * column that is NULL on every row, and a slot budget that coarsens the
  * span. Each must register, record whether a NULL time was seen, and
  * answer range count/sum/min/max and top-k exactly as the scan does. */
class DegenerateBuildSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("value", DoubleType), StructField("uid", LongType)))

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def table(rows: Seq[(Option[Timestamp], Double, Long)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (ts, v, u) => Row(ts.orNull, v, u) }: _*), schema)

  /** `n` rows from `from` on, one every `stride` seconds. */
  private def spaced(from: Int, n: Int, stride: Long): Seq[(Option[Timestamp], Double, Long)] =
    (from until from + n).map(i => (Some(new Timestamp(t0 + i * stride * 1000L)), (i % 41) / 4.0, (i % 9).toLong))

  private val conf = UWheelBuilder("ts", Seq("value")).withTopKWheel("uid")

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-degenerate").toString + "/t.parquet"

  /** Range count/sum/min/max and top-k over `path`, rewrite on and off;
    * the rule must answer some of them from the index. */
  private def sameAnswers(path: String, ranges: Seq[(Long, Long)]): Unit = {
    graft.Graft.enable(spark)
    spark.read.parquet(path).createOrReplaceTempView("dg")
    var served = 0
    def at(ms: Long) = s"TIMESTAMP '${new Timestamp(ms)}'"
    for ((a, b) <- ranges) {
      val where = s"ts >= ${at(a)} AND ts < ${at(b)}"
      val queries = Seq(
        s"SELECT count(*), sum(value), min(value), max(value) FROM dg WHERE $where",
        s"SELECT uid, count(*) AS c FROM dg WHERE $where GROUP BY uid ORDER BY c DESC, uid LIMIT 3")
      for (q <- queries) {
        val df = spark.sql(q)
        if (df.queryExecution.optimizedPlan.collectFirst { case l: LocalRelation => l }.isDefined)
          served += 1
        val on = df.collect().toSeq
        graft.Graft.rewritesEnabled = false
        val off = try spark.sql(q).collect().toSeq finally graft.Graft.rewritesEnabled = true
        assert(on === off, q)
      }
    }
    assert(served > 0, s"no query over $path was answered from the index")
  }

  /** Builds `first`, rewrites the table in place as `second` and refreshes
    * (a rebuild); after each, the index is registered with `tsAllNonNull`
    * and answers like the scan. Returns the rebuilt index. */
  private def buildAndRebuild(conf: UWheelBuilder, first: DataFrame, second: DataFrame,
      tsAllNonNull: Boolean, ranges: Seq[(Long, Long)]): TableIndex = {
    val path = tmpTable()
    first.coalesce(1).write.parquet(path)
    conf.build(spark, path)
    assert(WheelRegistry.lookup(path).map(_.tsAllNonNull) === Some(tsAllNonNull))
    sameAnswers(path, ranges)
    second.coalesce(1).write.mode("overwrite").parquet(path)
    assert(UWheelIndex.refresh(spark, path) === RefreshOutcome.Rebuilt)
    assert(WheelRegistry.lookup(path).map(_.tsAllNonNull) === Some(tsAllNonNull))
    sameAnswers(path, ranges)
    WheelRegistry.lookup(path).get
  }

  private val ranges = Seq((t0, t0 + 3600000L), (t0 - 60000L, t0 + 86400000L * 4), (t0 + 61000L, t0 + 7261000L))

  test("a zero-row table builds and rebuilds") {
    spark.sparkContext.setLogLevel("WARN")
    buildAndRebuild(conf, table(Nil), table(Nil), tsAllNonNull = true, ranges)
  }

  test("a table whose time column is all NULL builds and rebuilds") {
    val nulls = (0 until 300).map(i => (None, i / 4.0, (i % 5).toLong))
    buildAndRebuild(conf, table(nulls), table(nulls.take(120)), tsAllNonNull = false, ranges)
  }

  test("a slot-budget table builds and rebuilds at a coarse span") {
    val rebuilt = buildAndRebuild(conf.withSlotBudget(400), table(spaced(0, 2000, 37)),
      table(spaced(500, 3000, 53)), tsAllNonNull = true, ranges :+ ((t0 + 3600000L, t0 + 3L * 86400000L)))
    assert(rebuilt.countWheel.get.wheel.slotSpan > 1L)
  }
}

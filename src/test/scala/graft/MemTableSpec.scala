package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{UWheelBuilder, UWheelIndex}

/** In-memory-table indexing — the reference's primary example
  * (`/root/reference/examples/memtable/src/main.rs:52-114`), re-expressed for
  * Spark's semantics. Spark folds deterministic filters/projections INTO
  * local data at plan time (ConvertToLocalRelation), which both (a) already
  * gives filtered local queries a zero-executor plan — the very optimization
  * the wheel provides — and (b) means a filtered leaf is a row SUBSET of the
  * indexed data. The wheel therefore answers landmark (whole-table) shapes,
  * and must refuse to answer folded subsets (matching them by attribute ids
  * alone would silently aggregate the wrong row set — caught live and
  * guarded by sameResult).
  */
class MemTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** True iff no Aggregate survived — the source is itself a LocalRelation,
    * so presence of one proves nothing. */
  private def rewritten(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collectFirst { case l: LocalRelation => l }.isDefined &&
      p.collectFirst { case a: Aggregate => a }.isEmpty
  }

  private lazy val setup: Unit = {
    val session = spark
    import session.implicits._
    Graft.enable(spark)
    val base = Timestamp.valueOf("2024-05-10 00:00:00").getTime
    val df = (0 until 10)
      .map(i => (new Timestamp(base + i * 1000L), (i + 1).toDouble))
      .toDF("timestamp", "agg_col")
    df.createOrReplaceTempView("memtable_t")
    UWheelIndex.buildFromDataFrame(df, "memtable_t",
      UWheelBuilder("timestamp", Seq("agg_col")))
  }

  test("landmark aggregates over the memtable rewrite (reference exec answers)") {
    setup
    val q = spark.sql(
      """SELECT count(*) AS cnt, min(agg_col) AS mn, max(agg_col) AS mx,
        |       CAST(sum(CAST(agg_col AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |       CAST(sum(CAST(agg_col AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS av
        |FROM memtable_t""".stripMargin)
    assert(rewritten(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect()(0)
    assert(r.getLong(0) === 10L)
    assert(r.getDouble(1) === 1.0)
    assert(r.getDouble(2) === 10.0)
    assert(r.getDouble(3) === 55.0)
    assert(r.getDouble(4) === 5.5)
  }

  test("partial-range filter folds to a row subset: wheel must NOT answer it") {
    setup
    // Catalyst folds this filter into the local data; the resulting leaf
    // carries the registered ExprIds but only 5 of 10 rows. A wheel answer
    // from the full landmark would be silently wrong (10, not 5).
    val q = spark.sql(
      """SELECT count(*) AS cnt FROM memtable_t
        |WHERE timestamp >= TIMESTAMP '2024-05-10 00:00:00'
        |  AND timestamp < TIMESTAMP '2024-05-10 00:00:05'""".stripMargin)
    assert(q.collect()(0).getLong(0) === 5L)
  }

  test("group-by day over the memtable is correct (local-aggregate path)") {
    setup
    val q = spark.sql(
      """SELECT date_trunc('day', timestamp) AS d, count(*) AS c
        |FROM memtable_t GROUP BY 1""".stripMargin)
    val r = q.collect()
    assert(r.length === 1)
    assert(r(0).getTimestamp(0).getTime === 1715299200000L)
    assert(r(0).getLong(1) === 10L)
  }

  test("a deregistered DataFrame-built index stops serving; clear() drops its ExprIds") {
    setup
    val session = spark
    import session.implicits._
    val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val df = (0 until 20)
      .map(i => (new Timestamp(base + i * 1000L), i.toDouble))
      .toDF("timestamp", "v")
    df.createOrReplaceTempView("memtable_dereg")
    UWheelIndex.buildFromDataFrame(df, "memtable_dereg", UWheelBuilder("timestamp", Seq("v")))
    // a file-backed index keeps the registry non-empty throughout
    val path = java.nio.file.Files.createTempDirectory("graft-dereg").toString + "/t.parquet"
    df.write.parquet(path)
    UWheelBuilder("timestamp", Seq("v")).build(spark, path)
    def q = spark.sql("SELECT count(*) AS c, max(v) AS m FROM memtable_dereg")
    assert(rewritten(q))
    graft.index.WheelRegistry.deregister("view::memtable_dereg")
    assert(!rewritten(q), q.queryExecution.optimizedPlan.toString)
    assert(q.collect()(0).getLong(0) === 20L)
    val ids = df.queryExecution.analyzed.output.map(_.exprId.id)
    assert(ids.forall(id => !graft.index.WheelRegistry.mayMatchExprId(id)))

    // clear() leaves no ExprId entry behind, the memtable's included
    val memIds = spark.table("memtable_t").queryExecution.analyzed.output.map(_.exprId.id)
    assert(memIds.exists(graft.index.WheelRegistry.mayMatchExprId))
    graft.index.WheelRegistry.clear()
    assert(memIds.forall(id => !graft.index.WheelRegistry.mayMatchExprId(id)))
  }
}

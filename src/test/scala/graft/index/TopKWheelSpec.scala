package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Heavy-hitter wheels end-to-end: the distributed build's certified topK
  * must equal Spark SQL ground truth, survive save/load, merge correctly
  * under incremental refresh, and certify on the CONTRACT corpus (so
  * `uw_topk_users` serves from the index, not its fallback). */
class TopKWheelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def groundTruth(p: String, s: Long, e: Long, k: Int): Seq[(Long, Long)] =
    spark.read.parquet(p)
      .where(col("ts") >= timestamp_seconds(lit(s)) && col("ts") < timestamp_seconds(lit(e)))
      .groupBy("uid").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("uid"))
      .limit(k).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("distributed build: certified topK equals SQL ground truth") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("graft-topk").toString
    val p = s"$dir/t.parquet"
    val base = 1704067200L
    // skewed keys, ≤ a handful of rows per second: slack stays 0
    spark.range(30000)
      .select(timestamp_seconds(col("id") % 20000 + base).as("ts"),
        (when(col("id") % 3 === 0, col("id") % 7)
          .otherwise(col("id") % 97)).cast("long").as("uid"))
      .repartition(7) // arbitrary partitioning: the build must not care
      .write.mode("overwrite").parquet(p)
    UWheelBuilder("ts").withTopKWheel("uid", cap = 64).build(spark, p)
    val tw = WheelRegistry.lookup(p).get.topKWheel("uid").get
    Seq((base, base + 20000L), (base + 500L, base + 900L), (base - 50L, base)).foreach {
      case (s, e) =>
        val served = tw.topK(s, e, 5)
        assert(served.isDefined, s"[$s,$e) must certify on sparse slots")
        assert(served.get == groundTruth(p, s, e, 5), s"range [$s,$e)")
    }
    // bounds are available regardless and bracket the certified counts
    val b = tw.topKBounds(base, base + 20000L, 5)
    assert(b.forall { case (_, lo, hi) => lo <= hi })
  }

  test("save/load round-trips the heavy-hitter family") {
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-io").toString
    val p = s"$dir/t.parquet"
    val base = 1704067200L
    spark.range(5000)
      .select(timestamp_seconds(col("id") % 4000 + base).as("ts"),
        (col("id") % 13).as("uid"))
      .write.mode("overwrite").parquet(p)
    val t = UWheelBuilder("ts").withTopKWheel("uid").build(spark, p)
    val before = t.topKWheel("uid").get.topK(base, base + 4000L, 3)
    WheelIndexIO.save(t, s"$dir/t.idx")
    WheelRegistry.deregister(p)
    val (loaded, fresh) = WheelIndexIO.load(spark, s"$dir/t.idx")
    assert(fresh)
    assert(loaded.topKWheel("uid").get.topK(base, base + 4000L, 3) == before)
    assert(before == Some(groundTruth(p, base, base + 4000L, 3)))
  }

  test("incremental refresh merges appended rows into the summaries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-rf").toString
    val p = s"$dir/t.parquet"
    val base = 1704067200L
    spark.range(2000)
      .select(timestamp_seconds(col("id") % 1500 + base).as("ts"),
        (col("id") % 11).as("uid"))
      .write.mode("overwrite").parquet(p)
    UWheelBuilder("ts").withTopKWheel("uid").build(spark, p)
    // append-only growth: later seconds, overlapping keys
    spark.range(1000)
      .select(timestamp_seconds(col("id") % 800 + base + 2000L).as("ts"),
        (col("id") % 5).as("uid"))
      .write.mode("append").parquet(p)
    UWheelIndex.refresh(spark, p) match {
      case UWheelIndex.RefreshOutcome.NoChange => fail("append must be detected")
      case _ => ()
    }
    val tw = WheelRegistry.lookup(p).get.topKWheel("uid").get
    val got = tw.topK(base, base + 3000L, 4)
    assert(got == Some(groundTruth(p, base, base + 3000L, 4)))
  }

  test("keyNullCount is exact for unfiltered and keyed wheels, cold and rebuilt") {
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-nulls").toString
    val p = s"$dir/t.parquet"
    val base = 1704067200L
    // NULL keys, NULL times and a filter that is NULL on some rows, over
    // several input partitions
    def write(n: Int, shift: Int): Unit =
      spark.range(n)
        .select(
          when(col("id") % 19 =!= 0, timestamp_seconds(col("id") % 900 + base)).as("ts"),
          when(col("id") % 7 =!= shift, col("id") % 23).as("uid"),
          when(col("id") % 5 =!= 1, when(col("id") % 2 === 0, lit("a")).otherwise(lit("b"))).as("k"))
        .repartition(5)
        .write.mode("overwrite").parquet(p)
    def check(): Unit = {
      val t = WheelRegistry.lookup(p).get
      val df = spark.read.parquet(p).where(col("ts").isNotNull && col("uid").isNull)
      assert(t.allTopKWheels.size === 3)
      for (tw <- t.allTopKWheels) {
        val want = tw.scope.filter.sql.fold(df)(df.where).count()
        assert(want > 0L)
        assert(tw.keyNullCount === want, s"${tw.column} ${tw.scope.filter.sql}")
      }
    }
    val conf = UWheelBuilder("ts").withTopKWheel("uid")
      .withKeyedTopKWheel("uid", "k = 'a'").withKeyedTopKWheel("uid", "k = 'b'")
    write(6000, 0)
    conf.build(spark, p)
    check()
    write(4000, 3)
    assert(UWheelIndex.refresh(spark, p) === UWheelIndex.RefreshOutcome.Rebuilt)
    check()
  }

  test("contract corpus certifies: uw_topk_users serves from the index") {
    graft.queries.Q.ctx(spark, "/root/testdata/sf0.001")
    val tw = WheelRegistry.lookup("/root/testdata/sf0.001/events.parquet")
      .flatMap(_.topKWheel("user_id"))
    assert(tw.isDefined, "events build must carry the user_id top-k wheel")
    val served = tw.get.topK(1704412800L, 1705017600L, 5)
    assert(served.isDefined, "the contract corpus's sparse slots must certify")
    val exact = spark.sql(
      """SELECT user_id, count(*) AS cnt FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.get == exact)
  }
}

package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WheelIndexIOSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rewritten(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }.nonEmpty

  test("save/load round-trip: loaded index answers; stale data makes it inert") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-09-01 00:00:00").getTime
    (0 until 500).map(i => (new java.sql.Timestamp(base + i * 7000L), i / 4.0))
      .toDF("ts", "value").write.mode("overwrite").parquet(p)

    val built = UWheelBuilder("ts", Seq("value")).build(spark, p)
    val file = s"$dir/index.bin"
    WheelIndexIO.save(built, file)

    def q = spark.read.parquet(p)
      .filter(col("ts") >= lit("2024-09-01 00:10:00").cast("timestamp") &&
              col("ts") < lit("2024-09-01 00:40:00").cast("timestamp"))
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast("decimal(18,2)")).as("s"))
    val expected = q.collect()(0) // answered via the freshly built index
    assert(rewritten(q))

    // process restart: empty registry, then load from disk
    WheelRegistry.clear()
    assert(!rewritten(q))
    val (loaded, fresh) = WheelIndexIO.load(spark, file)
    assert(fresh)
    assert(loaded.indexUsageBytes === built.indexUsageBytes)
    assert(rewritten(q))
    val got = q.collect()(0)
    assert(got.getLong(0) === expected.getLong(0))
    assert(got.getDecimal(1) === expected.getDecimal(1))

    // data changes after the save: load reports stale AND the rule's
    // per-query fingerprint gate keeps the index inert (scan answers)
    (0 until 600).map(i => (new java.sql.Timestamp(base + i * 7000L), i / 4.0))
      .toDF("ts", "value").write.mode("overwrite").parquet(p)
    WheelRegistry.clear()
    val (_, fresh2) = WheelIndexIO.load(spark, file)
    assert(!fresh2)
    assert(!rewritten(q))
    assert(q.collect()(0).getLong(0) > 0L)
  }

  test("savedWatermarkMs reports the loaded index's answerable upper edge") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wm").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-09-01 00:00:00").getTime
    val lastMs = base + 499 * 7000L
    (0 until 500).map(i => (new java.sql.Timestamp(base + i * 7000L), i / 4.0))
      .toDF("ts", "value").write.mode("overwrite").parquet(p)
    val built = UWheelBuilder("ts", Seq("value")).build(spark, p)
    val file = s"$dir/index.bin"
    WheelIndexIO.save(built, file)
    WheelRegistry.clear()
    val (loaded, _) = WheelIndexIO.load(spark, file)
    val wm = WheelIndexIO.savedWatermarkMs(loaded)
    assert(wm.isDefined, "data-bearing index must report a watermark")
    // the edge covers the last data instant (exclusive) and does not
    // overshoot by more than one day of slot coarsening
    assert(wm.get > lastMs, s"watermark ${wm.get} must cover last row $lastMs")
    assert(wm.get <= lastMs + 86400000L)
    // an index with no data-bearing wheel reports None (nothing answerable)
    val empty = new TableIndex(s"$dir/none.parquet", "ts", tsAllNonNull = false, 0L)
    assert(WheelIndexIO.savedWatermarkMs(empty).isEmpty)
  }

  test("packed index survives save/load: still packed, min/max exact, refresh keeps packing") {
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io-pack").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-09-01 00:00:00").getTime
    def rows(from: Int, n: Int) =
      (from until from + n).map(i => (new java.sql.Timestamp(base + i * 7000L), (i % 97) / 4.0))
    rows(0, 2000).toDF("ts", "value").write.mode("overwrite").parquet(p)
    val built = UWheelBuilder("ts", Seq("value")).withPackedLevels().build(spark, p)
    assert(built.packLevels)
    val file = s"$dir/index.bin"
    WheelIndexIO.save(built, file)

    def q = spark.read.parquet(p)
      .filter(col("ts") >= lit("2024-09-01 00:10:00").cast("timestamp") &&
              col("ts") < lit("2024-09-01 02:40:00").cast("timestamp"))
      .agg(count(lit(1)).as("c"), min("value").as("mn"), max("value").as("mx"))
    val expected = q.collect()(0)
    assert(rewritten(q))

    WheelRegistry.clear()
    val (loaded, fresh) = WheelIndexIO.load(spark, file)
    assert(fresh && loaded.packLevels)
    assert(rewritten(q))
    assert(q.collect()(0) === expected)

    // append + refresh on the LOADED index: packing and exactness persist
    rows(2000, 500).toDF("ts", "value").write.mode("append").parquet(p)
    assert(UWheelIndex.refresh(spark, p)
      .isInstanceOf[UWheelIndex.RefreshOutcome.Appended])
    assert(WheelRegistry.lookup(p).get.packLevels)
    assert(rewritten(q))
    graft.Graft.rewritesEnabled = false
    val scan = try q.collect()(0) finally graft.Graft.rewritesEnabled = true
    assert(q.collect()(0) === scan)
  }

  test("a numeric-only file saved before the container's version bump fails load as stale") {
    // saved by the build before TableIndex's SerialVersionUID moved to 2:
    // count and value min/max wheels over a 40-row table, no typed wheel
    val res = getClass.getResource("/graft/index/numeric-v1.wheelidx")
    assert(res != null, "fixture missing")
    WheelRegistry.clear()
    val e = intercept[java.io.InvalidObjectException] {
      WheelIndexIO.load(spark, java.nio.file.Paths.get(res.toURI).toString)
    }
    assert(e.getMessage.contains("stale index format"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(e.getMessage.contains("graft.index.TableIndex"), e.getMessage)
    assert(WheelRegistry.isEmpty)
  }

  test("incompatible-version file (UID mismatch) fails load with the stale-format error") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io-staleuid").toString
    val p = s"$dir/t.parquet"
    val base = 1704067200L
    (0 until 500).map(i => (new java.sql.Timestamp((base + i) * 1000L), (i % 7).toLong))
      .toDF("ts", "uid").write.mode("overwrite").parquet(p)
    val t = UWheelBuilder("ts").withTopKWheel("uid").build(spark, p)
    val file = s"$dir/index.bin"
    WheelIndexIO.save(t, file)
    WheelRegistry.clear()
    // binary-patch the stream: flip a byte of TopKIndexedWheel's
    // serialVersionUID in its class descriptor, producing exactly what a
    // file saved by a different class shape presents at readObject — the
    // genuine pre-round-11 failure mode (those files had an unpinned,
    // shape-computed UID)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val name = "graft.index.TopKIndexedWheel".getBytes("UTF-8")
    val at = bytes.indexOfSlice(name)
    assert(at > 0, "class descriptor not found in stream")
    // descriptor layout: 2-byte name length, name, 8-byte serialVersionUID
    bytes(at + name.length) = (bytes(at + name.length) ^ 0x5a).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)
    val e = intercept[java.io.InvalidObjectException] {
      WheelIndexIO.load(spark, file)
    }
    assert(e.getMessage.contains("stale index format"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    WheelRegistry.clear()
  }

  test("a saved benchmark-shaped index answers every family exactly as before the save") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io-families").toString
    val p = s"$dir/events.parquet"
    val base = 1704067200L
    val types = Seq("click", "error", "purchase", "signup", "view")
    (0 until 4000).map { i =>
      (new java.sql.Timestamp((base + (i.toLong * 7919L) % 200000L) * 1000L),
        (i * 37 % 300).toLong, types(i % 5), (i * 13 % 1000) / 4.0)
    }.toDF("ts", "user_id", "event_type", "value").write.mode("overwrite").parquet(p)
    val built = types.foldLeft(UWheelBuilder("ts", Seq("value"))) { (b, et) =>
      b.withKeyedWheel(IndexBuilder("value", Some(s"event_type = '$et'")))
    }.withDistinctWheel("user_id").withQuantileWheel("value")
      .withMomentWheel("value").withTopKWheel("user_id").withFreqWheel("user_id")
      .withCoMomentWheel("user_id", "value").withMillisWheels("value").build(spark, p)
    assert(built.indexUsageBytesByFamily.keySet ==
      Set("numeric", "ms", "hll", "hdr", "cms", "topk", "moment", "comoment"))
    assert(built.indexUsageBytesByFamily.forall(_._2 > 0L), built.indexUsageBytesByFamily)
    spark.read.parquet(p).createOrReplaceTempView("io_events")

    val w = "ts >= TIMESTAMP '2024-01-01 05:00:00' AND ts < TIMESTAMP '2024-01-03 07:00:00'"
    val sumDec = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
    val queries = Seq(
      s"SELECT count(*) AS cnt FROM io_events WHERE $w",
      s"SELECT $sumDec AS s FROM io_events WHERE $w AND event_type = 'purchase'",
      s"SELECT min(value) AS mn, max(value) AS mx, count(*) AS cnt FROM io_events WHERE $w",
      s"SELECT date_trunc('hour', ts) AS b, count(*) AS cnt, min(value) AS mn, max(value) AS mx " +
        s"FROM io_events WHERE $w GROUP BY 1 ORDER BY 1",
      s"SELECT event_type, count(*) AS cnt, $sumDec AS s FROM io_events WHERE $w " +
        "GROUP BY event_type ORDER BY 1",
      s"SELECT user_id, count(*) AS cnt FROM io_events WHERE $w " +
        "GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT 5",
      s"SELECT hll_distinct(user_id) AS du FROM io_events WHERE $w",
      s"SELECT wheel_stddev_samp(CAST(value AS DECIMAL(18,2))) AS sd FROM io_events WHERE $w",
      s"SELECT hdr_quantile(value, 0.9) AS p90 FROM io_events WHERE $w",
      s"SELECT cms_freq(user_id, 37) AS f FROM io_events WHERE $w",
      s"SELECT wheel_corr(user_id, CAST(value AS DECIMAL(18,2))) AS r FROM io_events WHERE $w")
    def answers: Seq[Seq[org.apache.spark.sql.Row]] = queries.map { sql =>
      val df = spark.sql(sql)
      assert(rewritten(df), s"not served from the index: $sql")
      df.collect().toSeq
    }
    val before = answers
    val file = s"$dir/index.bin"
    WheelIndexIO.save(built, file)
    WheelRegistry.clear()
    val (loaded, fresh) = WheelIndexIO.load(spark, file)
    assert(fresh)
    assert(loaded.indexUsageBytesByFamily == built.indexUsageBytesByFamily)
    assert(WheelIndexIO.savedWatermarkMs(loaded) == WheelIndexIO.savedWatermarkMs(built))
    assert(WheelIndexIO.savedWatermarkMs(loaded).isDefined)
    assert(answers == before)
    WheelRegistry.clear()
  }

  test("a file saved in the previous per-slot typed-wheel format fails load as stale") {
    // saved by the build before typed wheels had their compact form: an
    // index with count, value min/max, HLL, moment and top-k wheels. The
    // container's version bump refuses it before any wheel is read.
    val res = getClass.getResource("/graft/index/typed-wheels-v1.wheelidx")
    assert(res != null, "fixture missing")
    WheelRegistry.clear()
    val e = intercept[java.io.InvalidObjectException] {
      WheelIndexIO.load(spark, java.nio.file.Paths.get(res.toURI).toString)
    }
    assert(e.getMessage.contains("stale index format"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(e.getMessage.contains("graft.index.TableIndex"), e.getMessage)
    assert(WheelRegistry.isEmpty)
  }

  test("a file saved before the one-scope entries fails load as stale") {
    // saved by the build before TableIndex's SerialVersionUID moved to 3:
    // every family, among them a keyed numeric wheel, a keyed HLL wheel
    // and an expression wheel, in the per-family entry classes
    val res = getClass.getResource("/graft/index/typed-wheels-v2.wheelidx")
    assert(res != null, "fixture missing")
    WheelRegistry.clear()
    val e = intercept[java.io.InvalidObjectException] {
      WheelIndexIO.load(spark, java.nio.file.Paths.get(res.toURI).toString)
    }
    assert(e.getMessage.contains("stale index format"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(e.getMessage.contains("graft.index.TableIndex"), e.getMessage)
    assert(WheelRegistry.isEmpty)
  }

  test("indexes built from relative and file:/// roots serve queries and refresh by appending") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io-relroot")
    val abs = dir.resolve("events.parquet").toString
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(dir.resolve("events.parquet"))
      .toString
    assert(!rel.startsWith("/"))
    val base = java.sql.Timestamp.valueOf("2024-09-01 00:00:00").getTime
    def rows(from: Int, n: Int) =
      (from until from + n).map(i => (new java.sql.Timestamp(base + i * 7000L), i / 4.0))
    rows(0, 500).toDF("ts", "value").write.mode("overwrite").parquet(abs)
    def q = spark.read.parquet(abs)
      .filter(col("ts") >= lit("2024-09-01 00:10:00").cast("timestamp") &&
              col("ts") < lit("2024-09-01 03:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("c"))
    def scanCount: Long = {
      graft.Graft.rewritesEnabled = false
      try q.collect()(0).getLong(0) finally graft.Graft.rewritesEnabled = true
    }
    Seq(rel, s"file://$abs").zipWithIndex.foreach { case (root, k) =>
      WheelRegistry.clear()
      UWheelBuilder("ts", Seq("value")).build(spark, root)
      assert(rewritten(q), s"$root: count not served")
      assert(q.collect()(0).getLong(0) === scanCount)
      rows(500 + 100 * k, 100).toDF("ts", "value").write.mode("append").parquet(abs)
      assert(UWheelIndex.refresh(spark, root).isInstanceOf[UWheelIndex.RefreshOutcome.Appended],
        s"$root: refresh after an append")
      assert(rewritten(q), s"$root: count not served after refresh")
      assert(q.collect()(0).getLong(0) === scanCount)
    }
    WheelRegistry.clear()
  }
}

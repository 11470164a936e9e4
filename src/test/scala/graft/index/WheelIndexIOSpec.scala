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

  test("load re-canonicalizes pre-sparse-format HLL slots: bytes match a fresh build") {
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io-canon").toString
    val p = s"$dir/t.parquet"
    val base = java.sql.Timestamp.valueOf("2024-09-01 00:00:00").getTime
    (0 until 800).map(i => (new java.sql.Timestamp(base + (i % 200) * 7000L), i % 57L))
      .toDF("ts", "uid").write.mode("overwrite").parquet(p)
    val built = UWheelBuilder("ts", Nil).withDistinctWheel("uid").build(spark, p)
    val fresh = built.allDistinctWheels.head
    val m = 1 << fresh.p

    // Rebuild the wheel the way a PRE-sparse-format build persisted it:
    // every register slot as the dense m-byte array (documented layout;
    // sparse = [n_lo, n_hi] ++ n x [idx_lo, idx_hi, rank]).
    def densify(a: Array[Byte]): Array[Byte] =
      if (a.length == m) a
      else {
        val out = new Array[Byte](m)
        val n = (a(0) & 0xff) | ((a(1) & 0xff) << 8)
        (0 until n).foreach { k =>
          out((a(2 + 3 * k) & 0xff) | ((a(3 + 3 * k) & 0xff) << 8)) = a(4 + 3 * k)
        }
        out
      }
    val oldWheel = graft.wheel.TypedHawWheel.fromSecondPartials(
      fresh.wheel.slotPartials.map { case (s, part) => (s, densify(part)) }, fresh.agg)
    // densified content survived: same estimates, different (dense) bytes
    val lo = base / 1000L
    val hi = lo + 200L * 7L + 1L
    assert(oldWheel.range(lo, hi) === fresh.wheel.range(lo, hi))
    assert(oldWheel.slotPartials.exists { case (_, part) => part.length == m })

    val oldT = new TableIndex(p, "ts", tsAllNonNull = true, built.fingerprint)
    built.allWheels.foreach(oldT.put)
    oldT.putDistinct(fresh.copy(wheel = oldWheel))
    val file = s"$dir/index-old.bin"
    WheelIndexIO.save(oldT, file)

    WheelRegistry.clear()
    val (loaded, _) = WheelIndexIO.load(spark, file)
    val d = loaded.allDistinctWheels.head
    // every persisted slot is canonical again (canonicalize is identity)...
    assert(d.wheel.slotPartials.forall { case (_, part) => d.agg.canonicalize(part) eq part })
    // ...and the whole wheel is byte-identical to the fresh build at every
    // level read, so mixed old/new register equality assertions hold
    val probes = Seq((lo, hi), (lo, lo + 60L), (lo + 60L, lo + 3600L), (lo, lo + 86400L))
    probes.foreach { case (s, e) =>
      assert(java.util.Arrays.equals(d.wheel.combineRange(s, e), fresh.wheel.combineRange(s, e)),
        s"register bytes must match the fresh build over [$s, $e)")
    }
    WheelRegistry.clear()
  }
  test("same-UID top-k map evolution (raw keys, null filter fields) re-keys on load") {
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enable(spark)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-io-oldtopk").toString
    val p = s"$dir/t.parquet"
    val base = 1704067200L
    (0 until 2000).map(i => (new java.sql.Timestamp((base + i % 1500) * 1000L), (i % 11).toLong))
      .toDF("ts", "uid").write.mode("overwrite").parquet(p)
    val t = UWheelBuilder("ts").withTopKWheel("uid").build(spark, p)
    val want = t.topKWheel("uid").get.topK(base, base + 1500L, 3)
    assert(want.isDefined)
    // simulate SAME-UID map evolution (renormalizeTopKs doc): a raw
    // String-keyed map whose values carry null filter fields — the shape a
    // FUTURE re-keying under the pinned UID would deserialize into. (This
    // is NOT the genuine pre-round-11 file path: those predate the pinned
    // UID and fail readObject — covered by the stale-format test below.)
    val f = classOf[TableIndex].getDeclaredField("topKs")
    f.setAccessible(true)
    val m = f.get(t).asInstanceOf[java.util.concurrent.ConcurrentHashMap[Any, TopKIndexedWheel]]
    val old = scala.jdk.CollectionConverters.CollectionHasAsScala(m.values).asScala.toList
    m.clear()
    old.foreach(w => m.put(w.column,
      w.copy(filterKey = null, filterSql = null.asInstanceOf[Option[String]])))
    val file = s"$dir/index.bin"
    WheelIndexIO.save(t, file)
    WheelRegistry.clear()
    val (loaded, freshF) = WheelIndexIO.load(spark, file)
    assert(freshF)
    val tw = loaded.topKWheel("uid")
    assert(tw.isDefined, "old String-keyed entry must re-key to the tuple map")
    assert(tw.get.filterKey == "" && tw.get.filterSql.isEmpty)
    assert(tw.get.topK(base, base + 1500L, 3) == want)
    // and refresh survives the normalized (previously null) filter fields
    (0 until 300).map(i => (new java.sql.Timestamp((base + 2000 + i % 200) * 1000L), (i % 5).toLong))
      .toDF("ts", "uid").write.mode("append").parquet(p)
    UWheelIndex.refresh(spark, p) match {
      case UWheelIndex.RefreshOutcome.Failed(e) => fail(s"refresh failed: $e")
      case _ => ()
    }
    assert(WheelRegistry.lookup(p).get.topKWheel("uid").isDefined)
    WheelRegistry.clear()
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
      .withMomentWheel("value").withTopKWheel("user_id").build(spark, p)
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
      s"SELECT hdr_quantile(value, 0.9) AS p90 FROM io_events WHERE $w")
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
    assert(answers == before)
    WheelRegistry.clear()
  }

  test("a file saved in the previous per-slot typed-wheel format fails load as stale") {
    // saved by the build before typed wheels had their compact form: an
    // index with count, value min/max, HLL, moment and top-k wheels
    val res = getClass.getResource("/graft/index/typed-wheels-v1.wheelidx")
    assert(res != null, "fixture missing")
    WheelRegistry.clear()
    val e = intercept[java.io.InvalidObjectException] {
      WheelIndexIO.load(spark, java.nio.file.Paths.get(res.toURI).toString)
    }
    assert(e.getMessage.contains("stale index format"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    assert(e.getMessage.contains("graft.wheel.TypedHawWheel"), e.getMessage)
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

package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.index.UWheelIndex.RefreshOutcome

/** Incremental index maintenance ([[UWheelIndex.refresh]]): an append-only
  * file-listing delta must merge into the existing wheels BIT-identically to
  * a from-scratch rebuild over the full table (counts/scaled sums are
  * integer adds and min/max combines are associative — same argument as the
  * distributed build's tree merge), in-place rewrites must fall back to a
  * full rebuild, and the staleness gate must flip from inert to rewriting
  * again after the refresh. */
class WheelRefreshSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def mkDf(fromIdx: Int, n: Int, secStride: Int = 60): DataFrame = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    (fromIdx until fromIdx + n).map { i =>
      val ts = new java.sql.Timestamp(base + i.toLong * secStride * 1000)
      val v: java.lang.Double = (i % 97) / 4.0
      val k = if (i % 3 == 0) "a" else "b"
      (ts, v, k)
    }.toDF("ts", "value", "k")
  }

  private def tmpTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-refresh").toString
    s"$dir/t.parquet"
  }

  /** All per-slot partials of every wheel, keyed like the registry. */
  private def partialsOf(t: TableIndex): Map[(Option[String], String), Seq[(Long, Long, Long, Double, Double)]] =
    t.allWheels.map(w => (w.valueColumn, w.filterKey) -> w.wheel.slotPartials.toSeq).toMap

  private def builder = UWheelBuilder("ts", Seq("value"))
    .withKeyedWheel(IndexBuilder("value", Some("k = 'a'")))

  test("append-only delta merges bit-identically to a full rebuild") {
    spark.sparkContext.setLogLevel("WARN")
    val path = tmpTable()
    mkDf(0, 2000).write.mode("overwrite").parquet(path)
    builder.build(spark, path)

    // append new part-files (old files untouched)
    mkDf(2000, 1000).write.mode("append").parquet(path)
    val outcome = UWheelIndex.refresh(spark, path)
    assert(outcome.isInstanceOf[RefreshOutcome.Appended])
    val merged = WheelRegistry.lookup(path).get
    assert(merged.fingerprint ===
      UWheelIndex.fingerprintOfDf(spark.read.parquet(path)))

    // scratch rebuild of the SAME full data under a different path
    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    val rebuilt = builder.build(spark, path2)
    assert(partialsOf(merged) === partialsOf(rebuilt))
    assert(merged.tsAllNonNull === rebuilt.tsAllNonNull)
    assert(merged.allWheels.map(w => (w.valueColumn, w.filterKey, w.facts.valueAllNonNull,
      w.facts.valuesExactAtScale, w.facts.valuesNaNFree)).toSet ===
      rebuilt.allWheels.map(w => (w.valueColumn, w.filterKey, w.facts.valueAllNonNull,
        w.facts.valuesExactAtScale, w.facts.valuesNaNFree)).toSet)
    // count wheel still shares the column wheel's HawWheel (memory dedup)
    assert(merged.countWheel.get.wheel eq merged.minMaxWheel("value").get.wheel)
  }

  test("a chain of appends+refreshes stays bit-identical to one full rebuild") {
    // the steady-state operating mode: data lands daily, refresh follows
    // each landing — N merge generations must not drift from a fresh build
    val path = tmpTable()
    mkDf(0, 700).write.mode("overwrite").parquet(path)
    builder.build(spark, path)
    var expected = 700
    for (chunk <- Seq((700, 400), (1100, 900), (2000, 250))) {
      mkDf(chunk._1, chunk._2).write.mode("append").parquet(path)
      assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
      expected += chunk._2
      assert(WheelRegistry.lookup(path).get.countWheel.get.wheel.landmark.count === expected)
    }
    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    assert(partialsOf(WheelRegistry.lookup(path).get) ===
      partialsOf(builder.build(spark, path2)))
  }

  test("refresh flips the staleness gate back to rewriting, with exact answers") {
    val path = tmpTable()
    mkDf(0, 2000).write.mode("overwrite").parquet(path)
    builder.build(spark, path)
    Graft.enable(spark)
    spark.read.parquet(path).createOrReplaceTempView("refresh_t")
    def q = spark.sql(
      """SELECT count(*) AS c, sum(CAST(value AS DECIMAL(20,2))) AS s FROM refresh_t
        |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00' AND ts < TIMESTAMP '2024-03-05 00:00:00'
        |""".stripMargin)
    def rewritten = q.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    assert(rewritten)

    mkDf(2000, 1000).write.mode("append").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("refresh_t")
    // stale: inert (no rewrite), still correct via scan
    assert(!rewritten)
    val scanAnswer = q.collect().toSeq

    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    assert(rewritten)
    assert(q.collect().toSeq === scanAnswer)
  }

  test("in-place rewrite falls back to full rebuild") {
    val path = tmpTable()
    mkDf(0, 1000).write.mode("overwrite").parquet(path)
    builder.build(spark, path)
    // rewrite the whole table in place (every old file replaced)
    mkDf(500, 800).write.mode("overwrite").parquet(path)
    assert(UWheelIndex.refresh(spark, path) === RefreshOutcome.Rebuilt)
    val t = WheelRegistry.lookup(path).get
    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    assert(partialsOf(t) === partialsOf(builder.build(spark, path2)))
  }

  test("HLL distinct wheel append-merges bit-identically to a rebuild") {
    import org.apache.spark.sql.functions.expr
    // uid repeats across batches, so the append merge must be idempotent on
    // re-asserted registers, not just additive
    def df(fromIdx: Int, n: Int) =
      mkDf(fromIdx, n).withColumn("uid", expr("CAST(value * 4 AS BIGINT) % 37"))
    val path = tmpTable()
    df(0, 2000).write.mode("overwrite").parquet(path)
    val b = UWheelBuilder("ts", Seq("value"))
      .withDistinctWheel("uid")
      .withKeyedDistinctWheel("uid", "k = 'a'")
    b.build(spark, path)
    val keyedFk = WheelRegistry.lookup(path).get.all(WheelFamily.Hll)
      .find(_.filterKey.nonEmpty).get.filterKey
    df(2000, 1000).write.mode("append").parquet(path)
    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    val merged = WheelRegistry.lookup(path).get.distinctWheel("uid").get
    val mergedKeyed = WheelRegistry.lookup(path).get.distinctWheel("uid", keyedFk).get

    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    val t2 = b.build(spark, path2)
    val rebuilt = t2.distinctWheel("uid").get
    def regs(d: SketchWheel[Array[Byte], Long, graft.wheel.WheelAggregators.HllDistinct]) =
      d.wheel.slotPartials.map { case (s, p) => (s, p.toSeq) }.toSeq
    assert(regs(merged) === regs(rebuilt))
    assert(merged.agg.p === rebuilt.agg.p)
    // the KEYED distinct wheel re-applies its filter on the delta scan
    assert(regs(mergedKeyed) === regs(t2.distinctWheel("uid", keyedFk).get))
    assert(regs(mergedKeyed) !== regs(merged)) // and is genuinely filtered

    // in-place rewrite → full rebuild carries the distinct wheel too
    df(100, 700).write.mode("overwrite").parquet(path)
    assert(UWheelIndex.refresh(spark, path) === RefreshOutcome.Rebuilt)
    val path3 = tmpTable()
    spark.read.parquet(path).write.parquet(path3)
    assert(regs(WheelRegistry.lookup(path).get.distinctWheel("uid").get) ===
      regs(b.build(spark, path3).distinctWheel("uid").get))
  }

  test("saved index + append + load in a fresh registry refreshes incrementally") {
    // the restart story: persist, data grows while the service is down,
    // reload (stale ⇒ inert) and catch up by scanning only the new files
    val path = tmpTable()
    mkDf(0, 1500).write.mode("overwrite").parquet(path)
    val t0 = builder.build(spark, path)
    val idx = java.nio.file.Files.createTempDirectory("graft-refresh-io").toString + "/t.wheelidx"
    WheelIndexIO.save(t0, idx)
    mkDf(1500, 700).write.mode("append").parquet(path)
    WheelRegistry.clear()
    val (_, fresh) = WheelIndexIO.load(spark, idx)
    assert(!fresh)
    assert(UWheelIndex.refresh(spark, path) === RefreshOutcome.Appended(
      spark.read.parquet(path).inputFiles.length - t0.filesAtBuild.size))
    val after = WheelRegistry.lookup(path).get
    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    assert(partialsOf(after) === partialsOf(builder.build(spark, path2)))
  }

  test("count wheel only shares a column wheel with MATCHING coverage after refresh") {
    // an unfiltered, coverage-restricted wheel added via buildIndex sorts
    // first alphabetically (v2 < value); a refresh must not rebind the
    // unrestricted COUNT(*) wheel to its time-sliced partials
    val session = spark
    import session.implicits._
    val path = tmpTable()
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def rows(from: Int, n: Int) = (from until from + n).map { i =>
      (new java.sql.Timestamp(base + i.toLong * 60000), (i % 97) / 4.0, i.toDouble)
    }.toDF("ts", "value", "v2")
    rows(0, 2000).write.mode("overwrite").parquet(path)
    UWheelBuilder("ts", Seq("value")).build(spark, path)
    val covLo = base / 1000
    UWheelIndex.buildIndex(spark, path,
      IndexBuilder("v2").withTimeRange(covLo, covLo + 600 * 60)) // first 600 rows only
    rows(2000, 1000).write.mode("append").parquet(path)
    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    val t = WheelRegistry.lookup(path).get
    assert(t.countWheel.get.wheel.landmark.count === 3000)
    // the restricted v2 wheel kept its own coverage and only its rows
    val v2 = t.get(Some("v2"), "").get
    assert(v2.scope.coverage === Some((covLo, covLo + 600 * 60)))
    assert(v2.wheel.landmark.count === 600)
  }

  test("Hive-partitioned append keeps partition columns in the delta scan") {
    val session = spark
    import session.implicits._
    val path = tmpTable()
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def rows(from: Int, n: Int) = (from until from + n).map { i =>
      (new java.sql.Timestamp(base + i.toLong * 60000), (i % 97) / 4.0,
        f"d${i / 1440}%02d") // one dt partition per day of minutes
    }.toDF("ts", "value", "dt")
    rows(0, 2880).write.partitionBy("dt").parquet(path)
    UWheelBuilder("ts", Seq("value")).build(spark, path)
    rows(2880, 1440).write.mode("append").partitionBy("dt").parquet(path) // new dt=d02
    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    val t = WheelRegistry.lookup(path).get
    assert(t.countWheel.get.wheel.landmark.count === 4320)
    val path2 = tmpTable()
    spark.read.parquet(path).select("ts", "value", "dt")
      .write.partitionBy("dt").parquet(path2)
    assert(partialsOf(t) === partialsOf(UWheelBuilder("ts", Seq("value")).build(spark, path2)))
  }

  test("buildIndex on a grown table refuses until refresh (snapshot invariant)") {
    val path = tmpTable()
    mkDf(0, 500).write.mode("overwrite").parquet(path)
    UWheelBuilder("ts", Seq("value")).build(spark, path)
    mkDf(500, 100).write.mode("append").parquet(path)
    // adding a wheel now would bake the appended rows into it; the next
    // append-only refresh would merge them AGAIN — refuse instead
    intercept[IllegalStateException](
      UWheelIndex.buildIndex(spark, path, IndexBuilder("value", Some("k = 'a'"))))
    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    UWheelIndex.buildIndex(spark, path, IndexBuilder("value", Some("k = 'a'")))
    val t = WheelRegistry.lookup(path).get
    assert(t.get(Some("value"), "").isDefined)
    assert(t.allWheels.exists(_.filterKey.nonEmpty))
  }

  test("unchanged listing is NoChange") {
    val path = tmpTable()
    mkDf(0, 500).write.mode("overwrite").parquet(path)
    builder.build(spark, path)
    assert(UWheelIndex.refresh(spark, path) === RefreshOutcome.NoChange)
  }

  test("refreshAll ticks every registered file-backed index") {
    val (pa, pb) = (tmpTable(), tmpTable())
    mkDf(0, 400).write.parquet(pa)
    mkDf(0, 300).write.parquet(pb)
    builder.build(spark, pa)
    UWheelBuilder("ts", Seq("value")).build(spark, pb)
    mkDf(400, 100).write.mode("append").parquet(pa) // only pa grows
    val outcomes = UWheelIndex.refreshAll(spark)
    assert(outcomes(WheelRegistry.normalizePath(pa)).isInstanceOf[RefreshOutcome.Appended])
    assert(outcomes(WheelRegistry.normalizePath(pb)) === RefreshOutcome.NoChange)
    assert(WheelRegistry.lookup(pa).get.countWheel.get.wheel.landmark.count === 500)
  }

  test("refreshAll isolates per-table failures (one broken table can't starve the rest)") {
    val (pa, pb) = (tmpTable(), tmpTable())
    mkDf(0, 300).write.parquet(pa)
    mkDf(0, 300).write.parquet(pb)
    UWheelBuilder("ts", Seq("value")).build(spark, pa)
    UWheelBuilder("ts", Seq("value")).build(spark, pb)
    // break pa outright (directory gone), grow pb
    def rmRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmRec(java.nio.file.Paths.get(pa))
    mkDf(300, 100).write.mode("append").parquet(pb)
    val outcomes = UWheelIndex.refreshAll(spark)
    assert(outcomes(WheelRegistry.normalizePath(pa)).isInstanceOf[RefreshOutcome.Failed])
    assert(outcomes(WheelRegistry.normalizePath(pb)).isInstanceOf[RefreshOutcome.Appended])
    assert(WheelRegistry.lookup(pb).get.countWheel.get.wheel.landmark.count === 400)
    WheelRegistry.deregister(pa) // don't leak the broken table into other tests
  }

  test("scheduleRefresh ticks in the background until closed") {
    val path = tmpTable()
    mkDf(0, 400).write.parquet(path)
    UWheelBuilder("ts", Seq("value")).build(spark, path)
    val tick = UWheelIndex.scheduleRefresh(spark, intervalMs = 100L)
    try {
      mkDf(400, 200).write.mode("append").parquet(path)
      // the tick is asynchronous: poll (bounded) for the refreshed index
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def count(): Long =
        WheelRegistry.lookup(path).get.countWheel.get.wheel.landmark.count
      while (count() != 600 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(count() === 600)
    } finally tick.close()
    // after close no further ticks: another append stays unseen
    val fp = WheelRegistry.lookup(path).get.fingerprint
    mkDf(600, 100).write.mode("append").parquet(path)
    Thread.sleep(400)
    assert(WheelRegistry.lookup(path).get.fingerprint === fp)
    assert(WheelRegistry.lookup(path).get.countWheel.get.wheel.landmark.count === 600)
  }

  test("slot budget re-applies over the grown range (refresh coarsens like a fresh build)") {
    val path = tmpTable()
    // 2000 minutes ≈ 33 h of minute-stride data; budget 3000 keeps 1 s slots
    // (2000 active slots over a 120000 s range? aligned count uses the span
    // range — 1 s slots need range/1 ≤ budget, so 120000 > 3000 → 60 s span;
    // grow the range 10× and 60 s no longer fits either → 3600 s)
    mkDf(0, 2000).write.mode("overwrite").parquet(path)
    UWheelBuilder("ts", Seq("value")).withSlotBudget(3000).build(spark, path)
    val spanBefore = WheelRegistry.lookup(path).get.countWheel.get.wheel.slotSpan
    mkDf(20000, 2000).write.mode("append").parquet(path)
    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    val after = WheelRegistry.lookup(path).get
    val path2 = tmpTable()
    spark.read.parquet(path).write.parquet(path2)
    val fresh = UWheelBuilder("ts", Seq("value")).withSlotBudget(3000).build(spark, path2)
    assert(after.countWheel.get.wheel.slotSpan === fresh.countWheel.get.wheel.slotSpan)
    assert(after.countWheel.get.wheel.slotSpan >= spanBefore)
    assert(partialsOf(after) === partialsOf(fresh))
  }

  /** (job group, call site) of every job `body` starts, read between two
    * marker jobs so that all of `body`'s job events have been delivered. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      // a job's call site names its result stage, e.g. "collect at …"
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), e.stageInfos.maxBy(_.stageId).name))
    }
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-start")
      body
      marker("jobs-end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      import scala.jdk.CollectionConverters._
      while (!seen.asScala.exists(_._1 == "jobs-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      seen.asScala.toSeq.dropWhile(_._1 != "jobs-start").drop(1).takeWhile(_._1 != "jobs-end")
    } finally sc.removeSparkListener(listener)
  }

  /** A `treeReduce` job marks the per-partition fold; the driver fold
    * collects its rows instead. */
  private def distributed(jobs: Seq[(String, String)]): Boolean =
    jobs.exists(_._2.startsWith("treeReduce at "))

  private val allFamilies = builder.withDistinctWheel("uid").withQuantileWheel("value")
    .withMomentWheel("value").withFreqWheel("uid").withTopKWheel("uid")

  private def withUid(df: DataFrame): DataFrame =
    df.withColumn("uid", org.apache.spark.sql.functions.expr("CAST(value * 4 AS BIGINT) % 13"))

  test("a small append folds on the driver in at most 2 jobs; larger or rewritten data scans") {
    val path = tmpTable()
    withUid(mkDf(0, 2000)).write.mode("overwrite").parquet(path)
    allFamilies.build(spark, path)
    def rebuiltMatches(): Unit = {
      val path2 = tmpTable()
      spark.read.parquet(path).write.parquet(path2)
      val fresh = allFamilies.build(spark, path2)
      val got = WheelRegistry.lookup(path).get
      assert(partialsOf(got) === partialsOf(fresh))
      assert(got.all(WheelFamily.Hll).map(_.wheel.slotPartials.map(p => (p._1, p._2.toSeq)).toList) ===
        fresh.all(WheelFamily.Hll).map(_.wheel.slotPartials.map(p => (p._1, p._2.toSeq)).toList))
      assert(got.allTopKWheels.map(_.wheel.slotPartials.toList) ===
        fresh.allTopKWheels.map(_.wheel.slotPartials.toList))
    }

    // small append: one listing, one footer read, one projected collect
    withUid(mkDf(2000, 800)).write.mode("append").parquet(path)
    var outcome: RefreshOutcome = null
    val small = jobsOf { outcome = UWheelIndex.refresh(spark, path) }
    assert(outcome.isInstanceOf[RefreshOutcome.Appended])
    assert(small.size <= 2, small)
    assert(!distributed(small), small)
    rebuiltMatches()

    // late data: small, so still folded; the wheels fall back to the merge
    withUid(mkDf(100, 300)).write.mode("append").parquet(path)
    assert(UWheelIndex.refresh(spark, path).isInstanceOf[RefreshOutcome.Appended])
    rebuiltMatches()

    // a delta over the fold's byte bound takes the distributed scan
    withUid(mkDf(2800, 20000, secStride = 1))
      .withColumn("pad", org.apache.spark.sql.functions.expr("repeat(md5(CAST(value AS STRING) || ts), 3)"))
      .write.mode("append").parquet(path)
    val listed = UWheelIndex.listingOfRoots(spark, Seq(path))
    val t = WheelRegistry.lookup(path).get
    assert(listed.filterNot(f => t.filesAtBuild.contains(f._1)).map(_._2).sum > UWheelIndex.SmallDeltaBytes)
    val large = jobsOf { outcome = UWheelIndex.refresh(spark, path) }
    assert(outcome.isInstanceOf[RefreshOutcome.Appended])
    assert(distributed(large), large)
    rebuiltMatches()

    // an in-place rewrite rebuilds through the distributed scan
    withUid(mkDf(0, 1200)).write.mode("overwrite").parquet(path)
    val rewrite = jobsOf { outcome = UWheelIndex.refresh(spark, path) }
    assert(outcome === RefreshOutcome.Rebuilt)
    assert(distributed(rewrite), rewrite)
    rebuiltMatches()
  }
}

package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingWheelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("incremental wheel over a MemoryStream matches batch aggregates") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val df = input.toDF().toDF("ts", "value")

    val idx = new StreamingWheelIndex("ts", Some("value"))
    val q = idx.attach(df, "wheel-maintenance")
    try {
      val batch1 = Seq(
        (ts("2024-03-01 00:00:00"), 1.0),
        (ts("2024-03-01 00:00:01"), 2.5),
        (ts("2024-03-01 00:01:30"), 4.0))
      val batch2 = Seq( // second batch, partially out of order vs batch1
        (ts("2024-03-01 00:00:30"), 8.0),
        (ts("2024-03-01 00:02:00"), 0.5),
        (ts("2024-03-01 00:02:00"), 3.0))
      input.addData(batch1: _*)
      q.processAllAvailable()
      val snap1 = idx.snapshot()
      assert(snap1.landmark.count === 3)
      assert(snap1.landmark.sumDecimal.get === new java.math.BigDecimal("7.50"))

      input.addData(batch2: _*)
      q.processAllAvailable()
      val snap2 = idx.snapshot()
      val all = batch1 ++ batch2
      assert(snap2.landmark.count === all.size)
      assert(snap2.landmark.sum.get === all.map(_._2).sum)
      assert(snap2.landmark.minOpt.get === all.map(_._2).min)
      assert(snap2.landmark.maxOpt.get === all.map(_._2).max)
      // arbitrary sub-range [00:00:30, 00:02:00)
      val lo = ts("2024-03-01 00:00:30").getTime / 1000
      val hi = ts("2024-03-01 00:02:00").getTime / 1000
      val ra = snap2.range(lo, hi)
      val expect = all.filter(r => r._1.getTime / 1000 >= lo && r._1.getTime / 1000 < hi)
      assert(ra.count === expect.size)
      assert(ra.sum.get === expect.map(_._2).sum)
      // watermark advanced past the max event
      assert(idx.watermarkMs > ts("2024-03-01 00:02:00").getTime)
    } finally q.stop()
  }

  test("coarse-span streaming snapshot: minute slots, aligned ranges exact") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val idx = new StreamingWheelIndex("ts", Some("value"), slotSpanSec = 60L)
    val q = idx.attach(input.toDF().toDF("ts", "value"), "wheel-maintenance-span")
    try {
      val rows = Seq(
        (ts("2024-03-01 00:00:05"), 1.0),
        (ts("2024-03-01 00:00:55"), 2.0),
        (ts("2024-03-01 00:01:30"), 4.0),
        (ts("2024-03-01 00:03:10"), 8.0))
      input.addData(rows: _*)
      q.processAllAvailable()
      val snap = idx.snapshot()
      assert(snap.slotSpan === 60L)
      val m0 = ts("2024-03-01 00:00:00").getTime / 1000
      // minute-aligned ranges answer exactly despite sub-minute event times
      assert(snap.range(m0, m0 + 60).sum === Some(3.0))
      assert(snap.range(m0 + 60, m0 + 120).sum === Some(4.0))
      assert(snap.range(m0, m0 + 240).count === 4)
    } finally q.stop()
  }

  test("one batch replaying more than writeAheadSlots of history merges whole") {
    // round-3 advice regression: the horizon used to anchor at the batch's
    // earliest second and silently drop everything > 65,536 s later — the
    // first micro-batch of a stream replaying days of history lost its tail
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val idx = new StreamingWheelIndex("ts", Some("value"))
    val q = idx.attach(input.toDF().toDF("ts", "value"), "wheel-maintenance-replay")
    try {
      input.addData( // three days of event time in ONE batch (3 × horizon)
        (ts("2024-03-01 00:00:00"), 1.0),
        (ts("2024-03-02 00:00:00"), 2.0),
        (ts("2024-03-04 00:00:00"), 4.0))
      q.processAllAvailable()
      val snap = idx.snapshot()
      assert(snap.landmark.count === 3)
      assert(snap.landmark.sum === Some(7.0))
    } finally q.stop()
  }

  test("registered streaming wheel serves batch SQL rewrites at plan time") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-reg").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0),
      (ts("2024-03-01 00:00:30"), 2.5),
      (ts("2024-03-01 00:01:30"), 4.0),
      (ts("2024-03-01 00:02:10"), 8.0))
    // the stream is the table's feed: identical rows land in the parquet
    // table and in the streaming wheel
    rows.toDF("ts", "value").write.parquet(path)
    val input = MemoryStream[(Timestamp, Double)]
    val idx = new StreamingWheelIndex("ts", Some("value"))
    val q = idx.attach(input.toDF().toDF("ts", "value"), "wheel-reg")
    try {
      idx.register(path)
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT count(*) AS cnt,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
           |       min(value) AS mn
           |FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-03-01 00:00:30'
           |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      val got = df.collect()(0)
      assert(got.getLong(0) === 2L)
      assert(got.getDouble(1) === 6.5)
      assert(got.getDouble(2) === 2.5)

      // swap-on-version: the next batch's rows are visible to NEW queries
      val more = Seq((ts("2024-03-01 00:01:45"), 16.0))
      more.toDF("ts", "value").write.mode("append").parquet(path)
      input.addData(more: _*)
      q.processAllAvailable()
      val df2 = spark.sql(sql)
      assert(df2.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty)
      assert(df2.collect()(0).getLong(0) === 3L)

      // unbounded arm stays on the scan (the stream can't prove the table's
      // time column NULL-free)
      val landmark = spark.sql(s"SELECT count(*) AS cnt FROM parquet.`$path`")
      assert(landmark.queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty)

      // GROUP BY window() rewrites from the streamed wheel too — the rule
      // is source-agnostic once the index is registered
      val win = spark.sql(
        s"""SELECT window.start AS ws, count(*) AS cnt
           |FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:03:00'
           |GROUP BY window(ts, '1 minute') ORDER BY 1""".stripMargin)
      assert(win.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty,
        s"window group-by not rewritten:\n${win.queryExecution.optimizedPlan}")
      assert(win.collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
        === Seq(("2024-03-01 00:00:00.0", 2L), ("2024-03-01 00:01:00.0", 2L),
          ("2024-03-01 00:02:00.0", 1L)))

      // deregistration withdraws the index: back to scans
      idx.deregister()
      assert(spark.sql(sql).queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty)
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("DATE-typed stream ingests with batch-build parity (days x 86400, zone-free)") {
    // reference accepts Date32/64 everywhere (lib.rs:1203-1272); the
    // streaming path previously sent DATE into a generic cast(long) arm,
    // which is not a valid cast for DateType — it must share the batch
    // build's conversion instead
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Date, Double)]
    val df = input.toDF().toDF("d", "value")
    assert(df.schema("d").dataType === org.apache.spark.sql.types.DateType)

    val idx = new StreamingWheelIndex("d", Some("value"), slotSpanSec = 86400L)
    val q = idx.attach(df, "wheel-maintenance-date")
    try {
      val rows = Seq(
        (java.sql.Date.valueOf("2024-03-01"), 1.0),
        (java.sql.Date.valueOf("2024-03-01"), 2.5),
        (java.sql.Date.valueOf("2024-03-03"), 4.0),
        (java.sql.Date.valueOf("2024-03-10"), 8.0))
      input.addData(rows: _*)
      q.processAllAvailable()
      val snap = idx.snapshot()
      assert(snap.landmark.count === 4)
      assert(snap.landmark.sum === Some(15.5))

      // day-aligned range [03-01, 03-03): zone-free day * 86400 seconds
      def daySec(s: String): Long =
        java.sql.Date.valueOf(s).toLocalDate.toEpochDay * 86400L
      val ra = snap.range(daySec("2024-03-01"), daySec("2024-03-03"))
      assert(ra.count === 2)
      assert(ra.sum === Some(3.5))

      // parity with a batch build over the same rows written as parquet
      val dir = java.nio.file.Files.createTempDirectory("graft-date-stream").toString
      rows.toDF("d", "value").write.mode("overwrite").parquet(dir)
      val batch = graft.index.UWheelBuilder("d", Seq("value"))
        .withSlotSpan(86400L)
        .build(spark, dir)
      val bw = batch.minMaxWheel("value").get.wheel
      for ((lo, hi) <- Seq(
          (daySec("2024-03-01"), daySec("2024-03-03")),
          (daySec("2024-03-01"), daySec("2024-03-11")),
          (daySec("2024-03-05"), daySec("2024-03-09")))) {
        val a = snap.range(lo, hi)
        val b = bw.range(lo, hi)
        assert(a.count === b.count, s"count mismatch on [$lo,$hi)")
        assert(a.sum === b.sum, s"sum mismatch on [$lo,$hi)")
        assert(a.minOpt === b.minOpt, s"min mismatch on [$lo,$hi)")
        assert(a.maxOpt === b.maxOpt, s"max mismatch on [$lo,$hi)")
      }
    } finally q.stop()
  }

  test("wheel groupBy(minute) equals Structured Streaming windowed aggregation") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val df = input.toDF().toDF("ts", "value")

    // the conventional Spark pipeline: watermark + tumbling window to a sink
    val windowed = df
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("cnt"), sum(col("value").cast("decimal(18,2)")).as("s"))
    val wq = windowed.writeStream
      .format("memory").queryName("win_agg").outputMode("complete").start()

    val idx = new StreamingWheelIndex("ts", Some("value"))
    val q = idx.attach(df, "wheel-maintenance-2")
    try {
      input.addData(
        (ts("2024-03-02 10:00:05"), 1.0), (ts("2024-03-02 10:00:55"), 2.0),
        (ts("2024-03-02 10:01:10"), 3.0), (ts("2024-03-02 10:03:59"), 4.5),
        (ts("2024-03-02 10:03:01"), 0.5))
      q.processAllAvailable()
      wq.processAllAvailable()

      val fromWindow = spark.table("win_agg")
        .select(col("window.start").cast("long").as("sec"), col("cnt"), col("s").cast("double"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .toMap
      val lo = ts("2024-03-02 10:00:00").getTime / 1000
      val hi = ts("2024-03-02 10:04:00").getTime / 1000
      val fromWheel = idx.snapshot().groupBy(lo, hi, levelIdx = 1)
        .map { case (sec, ra) => (sec, (ra.count, ra.sum.get)) }
        .toMap
      assert(fromWheel === fromWindow)
    } finally { q.stop(); wq.stop() }
  }

  test("streaming typed HLL wheel: bit-exact vs flat fold; re-delivery free") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val hll = new graft.wheel.WheelAggregators.HllDistinct(11)
    def flatEstimate(users: Seq[Long]): Long =
      hll.lower(users.foldLeft(hll.identity)((a, u) => hll.combine(a, hll.lift(u))))

    val idx = new StreamingTypedWheel("ts", col("user_id"), hll,
      (r: org.apache.spark.sql.Row) => r.getLong(1))
    val q = idx.attach(df, "typed-wheel-maintenance")
    try {
      val base = ts("2024-03-03 00:00:00").getTime
      val batch1 = (0 until 300).map(i => (new Timestamp(base + i * 1000L), (i % 40).toLong))
      val batch2 = (0 until 300).map(i => (new Timestamp(base + (300 + i) * 1000L), (i % 75).toLong))
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()

      val all = batch1 ++ batch2
      val baseSec = base / 1000
      val w = idx.snapshot()
      for ((s, e) <- Seq((baseSec, baseSec + 600), (baseSec, baseSec + 120),
                         (baseSec + 250, baseSec + 400))) {
        val in = all.filter(r => r._1.getTime / 1000 >= s && r._1.getTime / 1000 < e).map(_._2)
        assert(w.range(s, e) === flatEstimate(in), s"range [$s, $e)")
      }

      // at-least-once duplication: replaying batch1 re-asserts register
      // bits, never double-counts
      input.addData(batch1: _*)
      q.processAllAvailable()
      val w2 = idx.snapshot()
      assert(w2.range(baseSec, baseSec + 600) ===
        flatEstimate(all.map(_._2)))
    } finally q.stop()
  }

  test("registered typed HLL stream serves hll_distinct SQL at plan time") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-typed-reg").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-03-05 00:00:00").getTime
    val rows = (0 until 400).map(i => (new Timestamp(base + i * 1000L), (i % 55).toLong))
    rows.toDF("ts", "uid").write.parquet(path)
    val input = MemoryStream[(Timestamp, Long)]
    val hll = new graft.wheel.WheelAggregators.HllDistinct(11)
    val idx = new StreamingTypedWheel("ts", col("uid"), hll,
      (r: org.apache.spark.sql.Row) => r.getLong(1))
    val q = idx.attach(input.toDF().toDF("ts", "uid"), "typed-wheel-reg")
    try {
      idx.register(path, "uid")
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT hll_distinct(uid) AS du FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-03-05 00:01:00'
           |  AND ts < TIMESTAMP '2024-03-05 00:05:00'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      // the rewritten answer bit-equals running the aggregate over the table
      graft.Graft.rewritesEnabled = false
      val flat = try spark.sql(sql).collect()(0).getLong(0)
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect()(0).getLong(0) === flat)
      // wrong-precision query still falls back to the scan
      val p12 = spark.sql(sql.replace("hll_distinct(uid)", "hll_distinct(uid, 12)"))
      assert(p12.queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty)
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("streaming keyed wheels: residual-filtered batch SQL rewrites from the stream") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-keyed").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0, "click"),
      (ts("2024-03-01 00:00:30"), 2.5, "view"),
      (ts("2024-03-01 00:01:30"), 4.0, "click"),
      (ts("2024-03-01 00:02:10"), 8.0, "click"),
      (ts("2024-03-01 00:02:40"), 16.0, "view"))
    rows.toDF("ts", "value", "event_type").write.parquet(path)
    val input = MemoryStream[(Timestamp, Double, String)]
    val idx = new StreamingWheelIndex("ts", Some("value"),
      keyedWheels = Seq(("value", "event_type = 'click'")))
    val q = idx.attach(input.toDF().toDF("ts", "value", "event_type"), "wheel-keyed")
    try {
      idx.register(path)
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT count(*) AS cnt,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
           |FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:02:30'
           |  AND event_type = 'click'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      val got = df.collect()(0)
      assert(got.getLong(0) === 3L)
      assert(got.getDouble(1) === 13.0)
      // the unkeyed wheel still serves unfiltered ranges from the same scan
      val plain = spark.sql(
        s"""SELECT count(*) AS cnt FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
           |  AND ts < TIMESTAMP '2024-03-01 00:02:30'""".stripMargin)
      assert(plain.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty)
      assert(plain.collect()(0).getLong(0) === 4L)
      // a residual no keyed wheel covers falls through to the scan
      assert(spark.sql(sql.replace("'click'", "'view'"))
        .queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty)
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("signature-based deregister withdraws keyed families, keeps layered sketches") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sig").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0, "click", 11L),
      (ts("2024-03-01 00:00:30"), 2.5, "view", 12L),
      (ts("2024-03-01 00:01:30"), 4.0, "click", 11L))
    rows.toDF("ts", "value", "event_type", "uid").write.parquet(path)
    val numIn = MemoryStream[(Timestamp, Double, String)]
    val numIdx = new StreamingWheelIndex("ts", Some("value"),
      keyedWheels = Seq(("value", "event_type = 'click'")))
    val numQ = numIdx.attach(numIn.toDF().toDF("ts", "value", "event_type"), "sig-num")
    val hllIn = MemoryStream[(Timestamp, Long)]
    val hllIdx = new StreamingTypedWheel[Long, Array[Byte], Long](
      "ts", col("uid"), new graft.wheel.WheelAggregators.HllDistinct(11), _.getLong(1))
    val hllQ = hllIdx.attach(hllIn.toDF().toDF("ts", "uid"), "sig-hll")
    val range =
      """WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
        |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    val keyedSql =
      s"SELECT count(*) AS cnt FROM parquet.`$path` $range AND event_type = 'click'"
    val plainSql = s"SELECT count(*) AS cnt FROM parquet.`$path` $range"
    val hllSql = s"SELECT hll_distinct(uid) AS du FROM parquet.`$path` $range"
    def rewrites(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty
    try {
      numIdx.register(path)
      numIn.addData(rows.map(r => (r._1, r._2, r._3)): _*)
      numQ.processAllAvailable()
      hllIdx.register(path, "uid")
      hllIn.addData(rows.map(r => (r._1, r._4)): _*)
      hllQ.processAllAvailable()
      assert(rewrites(keyedSql) && rewrites(plainSql) && rewrites(hllSql),
        "all three families live")
      // withdrawing the numeric publisher removes BOTH its signatures
      // (unfiltered + keyed) and nothing else
      numIdx.deregister()
      assert(!rewrites(keyedSql), "keyed family must be withdrawn")
      assert(!rewrites(plainSql), "unfiltered family must be withdrawn")
      assert(rewrites(hllSql), "layered sketch family must survive")
      assert(spark.sql(hllSql).collect()(0).getLong(0) === 2L)
      hllIdx.deregister()
      assert(!rewrites(hllSql), "nothing should remain registered")
    } finally {
      numQ.stop(); hllQ.stop()
      numIdx.deregister(); hllIdx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("streaming publishers layer per path; a displaced batch index is restored") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-layer").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0, 11L),
      (ts("2024-03-01 00:00:30"), 2.5, 12L),
      (ts("2024-03-01 00:01:30"), 4.0, 11L))
    rows.toDF("ts", "value", "uid").write.parquet(path)
    // a batch-built index exists first
    graft.index.UWheelBuilder("ts", Seq("value")).build(spark, path)
    val rangeSql =
      s"""SELECT count(*) AS cnt FROM parquet.`$path`
         |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    val hllSql =
      s"""SELECT hll_distinct(uid) AS du FROM parquet.`$path`
         |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    def rewrites(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty
    assert(rewrites(rangeSql), "batch index should serve the range")

    val numIn = MemoryStream[(Timestamp, Double)]
    val numIdx = new StreamingWheelIndex("ts", Some("value"))
    val numQ = numIdx.attach(numIn.toDF().toDF("ts", "value"), "layer-num")
    val hllIn = MemoryStream[(Timestamp, Long)]
    val hllIdx = new StreamingTypedWheel[Long, Array[Byte], Long](
      "ts", col("uid"), new graft.wheel.WheelAggregators.HllDistinct(11), _.getLong(1))
    val hllQ = hllIdx.attach(hllIn.toDF().toDF("ts", "uid"), "layer-hll")
    try {
      // numeric stream displaces the batch index (warned, restorable)
      numIdx.register(path)
      numIn.addData(rows.map(r => (r._1, r._2)): _*)
      numQ.processAllAvailable()
      assert(rewrites(rangeSql), "stream wheel should serve the range")
      // typed publisher LAYERS its sketch over the numeric families:
      // both query shapes answer at plan time afterwards
      hllIdx.register(path, "uid")
      hllIn.addData(rows.map(r => (r._1, r._3)): _*)
      hllQ.processAllAvailable()
      assert(rewrites(rangeSql), "numeric family must survive the sketch publish")
      assert(rewrites(hllSql), "sketch family must be served")
      assert(spark.sql(hllSql).collect()(0).getLong(0) === 2L)
      // LIFO withdrawal: sketch off → numeric family remains
      hllIdx.deregister()
      assert(rewrites(rangeSql), "numeric family must survive sketch deregister")
      assert(!rewrites(hllSql), "sketch must be withdrawn")
      // numeric off → the displaced BATCH index is restored
      numIdx.deregister()
      assert(rewrites(rangeSql), "batch index must be restored")
    } finally {
      numQ.stop(); hllQ.stop()
      numIdx.deregister(); hllIdx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("deregister keeps later-layered stream families over restoring a displaced batch index") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-layer2").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0, 11L),
      (ts("2024-03-01 00:00:30"), 2.5, 12L),
      (ts("2024-03-01 00:01:30"), 4.0, 11L))
    rows.toDF("ts", "value", "uid").write.parquet(path)
    graft.index.UWheelBuilder("ts", Seq("value")).build(spark, path)
    val rangeSql =
      s"""SELECT count(*) AS cnt FROM parquet.`$path`
         |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    val hllSql =
      s"""SELECT hll_distinct(uid) AS du FROM parquet.`$path`
         |WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
         |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    def rewrites(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty

    // REVERSED displacement order vs the test above: the TYPED publisher
    // displaces the batch index; the numeric publisher layers after it.
    // The typed deregister must keep the LIVE numeric families — restoring
    // the stale batch index over them would serve wrong (frozen) answers
    // for the stream-fed table (review finding).
    val hllIn = MemoryStream[(Timestamp, Long)]
    val hllIdx = new StreamingTypedWheel[Long, Array[Byte], Long](
      "ts", col("uid"), new graft.wheel.WheelAggregators.HllDistinct(11), _.getLong(1))
    val hllQ = hllIdx.attach(hllIn.toDF().toDF("ts", "uid"), "layer2-hll")
    val numIn = MemoryStream[(Timestamp, Double)]
    val numIdx = new StreamingWheelIndex("ts", Some("value"))
    val numQ = numIdx.attach(numIn.toDF().toDF("ts", "value"), "layer2-num")
    try {
      hllIdx.register(path, "uid") // displaces the batch index
      hllIn.addData(rows.map(r => (r._1, r._3)): _*)
      hllQ.processAllAvailable()
      numIdx.register(path) // layers onto the stream entry
      numIn.addData(rows.map(r => (r._1, r._2)): _*)
      numQ.processAllAvailable()
      assert(rewrites(rangeSql) && rewrites(hllSql), "both families live")
      hllIdx.deregister()
      assert(rewrites(rangeSql),
        "numeric stream family must survive the typed deregister (not be " +
          "overwritten by the restored batch index)")
      assert(!rewrites(hllSql), "sketch must be withdrawn")
      numIdx.deregister()
      assert(!rewrites(rangeSql), "nothing should remain registered")
    } finally {
      numQ.stop(); hllQ.stop()
      numIdx.deregister(); hllIdx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("deregister keeps the shared count family while another numeric publisher is live") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cnt").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0, 10.0),
      (ts("2024-03-01 00:00:30"), 2.5, 20.0),
      (ts("2024-03-01 00:01:30"), 4.0, 40.0))
    rows.toDF("ts", "value", "score").write.parquet(path)
    val range =
      """WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
        |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    val cntSql = s"SELECT count(*) AS cnt FROM parquet.`$path` $range"
    val aSql = s"SELECT sum(value) AS sv FROM parquet.`$path` $range"
    val bSql = s"SELECT sum(score) AS ss FROM parquet.`$path` $range"
    def rewrites(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty

    // TWO numeric publishers on one path (different value columns) — both
    // maintain the shared (None, "") count family. Withdrawing one must
    // not blind COUNT(*) rewrites while the other still republishes the
    // count wheel every batch (round-7 advice).
    val aIn = MemoryStream[(Timestamp, Double)]
    val aIdx = new StreamingWheelIndex("ts", Some("value"))
    val aQ = aIdx.attach(aIn.toDF().toDF("ts", "value"), "cnt-a")
    val bIn = MemoryStream[(Timestamp, Double)]
    val bIdx = new StreamingWheelIndex("ts", Some("score"))
    val bQ = bIdx.attach(bIn.toDF().toDF("ts", "score"), "cnt-b")
    try {
      aIdx.register(path)
      aIn.addData(rows.map(r => (r._1, r._2)): _*)
      aQ.processAllAvailable()
      bIdx.register(path)
      bIn.addData(rows.map(r => (r._1, r._3)): _*)
      bQ.processAllAvailable()
      assert(rewrites(cntSql) && rewrites(aSql) && rewrites(bSql), "all families live")
      aIdx.deregister()
      assert(!rewrites(aSql), "a's value family must be withdrawn")
      assert(rewrites(bSql), "b's value family must survive")
      assert(rewrites(cntSql),
        "the shared count family must survive while b (a numeric publisher) is live")
      assert(spark.sql(cntSql).collect()(0).getLong(0) === 3L)
      bIdx.deregister()
      assert(!rewrites(cntSql) && !rewrites(bSql), "nothing should remain registered")
    } finally {
      aQ.stop(); bQ.stop()
      aIdx.deregister(); bIdx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("checkpoint/restore: restored index + next batch matches a never-restarted twin bit-for-bit") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val path = s"$dir/t.parquet"
    val batch1 = Seq(
      (ts("2024-03-01 00:00:00"), 1.0, "click"),
      (ts("2024-03-01 00:00:30"), 2.5, "view"),
      (ts("2024-03-01 00:01:30"), 4.0, "click"))
    val batch2 = Seq(
      (ts("2024-03-01 00:02:00"), 8.0, "view"),
      (ts("2024-03-01 00:02:45"), 0.5, "click"))
    (batch1 ++ batch2).toDF("ts", "value", "event_type").write.parquet(path)
    def newIdx() = new StreamingWheelIndex("ts", Some("value"),
      keyedWheels = Seq(("value", "event_type = 'click'")))
    val range =
      """WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
        |  AND ts < TIMESTAMP '2024-03-01 00:03:00'""".stripMargin
    val sqls = Seq(
      s"SELECT count(*) AS cnt FROM parquet.`$path` $range",
      s"SELECT sum(value) AS sv FROM parquet.`$path` $range",
      s"SELECT count(*) AS cc FROM parquet.`$path` $range AND event_type = 'click'")
    def rewrittenRows(sql: String): Seq[org.apache.spark.sql.Row] = {
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty, s"must rewrite: $sql")
      df.collect().toSeq
    }

    // twin: never restarted, sees both batches
    val twinIn = MemoryStream[(Timestamp, Double, String)]
    val twin = newIdx()
    val twinQ = twin.attach(twinIn.toDF().toDF("ts", "value", "event_type"), "ckpt-twin")
    // original: sees batch1, checkpoints, process "dies"
    val aIn = MemoryStream[(Timestamp, Double, String)]
    val a = newIdx()
    val aQ = a.attach(aIn.toDF().toDF("ts", "value", "event_type"), "ckpt-a")
    val ckpt = s"$dir/wheel.ckpt"
    var restoredQ: org.apache.spark.sql.streaming.StreamingQuery = null
    val restored = newIdx()
    try {
      twinIn.addData(batch1: _*); twinIn.addData(batch2: _*)
      twinQ.processAllAvailable()
      aIn.addData(batch1: _*)
      aQ.processAllAvailable()
      a.saveState(ckpt)
      val savedWm = a.watermarkMs
      aQ.stop() // the "crash"

      // restart: fresh instance restores, source replays only batch2
      val wm = restored.restoreState(ckpt)
      assert(wm === savedWm, "restore must hand back the checkpoint watermark")
      assert(batch2.forall(_._1.getTime >= wm),
        "test wiring: batch2 must lie past the saved watermark")
      val rIn = MemoryStream[(Timestamp, Double, String)]
      restoredQ = restored.attach(rIn.toDF().toDF("ts", "value", "event_type"), "ckpt-r")
      rIn.addData(batch2: _*)
      restoredQ.processAllAvailable()

      // bit-for-bit: identical slot partials on the unfiltered wheel...
      assert(restored.snapshot().slotPartials.toList === twin.snapshot().slotPartials.toList)
      // ...and identical registered-SQL answers for every family
      twin.register(path)
      val expect = sqls.map(rewrittenRows)
      twin.deregister()
      restored.register(path)
      val got = sqls.map(rewrittenRows)
      assert(got === expect)
      // config mismatch refuses loudly
      val other = new StreamingWheelIndex("ts", Some("value")) // no keyed specs
      assertThrows[IllegalArgumentException](other.restoreState(ckpt))
      // restore into a non-fresh index refuses (would double-count)
      assertThrows[IllegalArgumentException](restored.restoreState(ckpt))
    } finally {
      if (restoredQ != null) restoredQ.stop()
      twinQ.stop()
      twin.deregister(); restored.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("typed wheel checkpoint/restore: restored sketch answers bit-for-bit") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ckpt2").toString
    val agg = new graft.wheel.WheelAggregators.HllDistinct(11)
    def newWheel() = new StreamingTypedWheel[Long, Array[Byte], Long](
      "ts", col("uid"), agg, _.getLong(1))
    val batch1 = Seq((ts("2024-03-01 00:00:00"), 11L), (ts("2024-03-01 00:00:30"), 12L))
    val batch2 = Seq((ts("2024-03-01 00:01:30"), 11L), (ts("2024-03-01 00:02:00"), 13L))
    val twinIn = MemoryStream[(Timestamp, Long)]
    val twin = newWheel()
    val twinQ = twin.attach(twinIn.toDF().toDF("ts", "uid"), "ckpt2-twin")
    val aIn = MemoryStream[(Timestamp, Long)]
    val a = newWheel()
    val aQ = a.attach(aIn.toDF().toDF("ts", "uid"), "ckpt2-a")
    val ckpt = s"$dir/typed.ckpt"
    var rQ: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      twinIn.addData(batch1: _*); twinIn.addData(batch2: _*)
      twinQ.processAllAvailable()
      aIn.addData(batch1: _*)
      aQ.processAllAvailable()
      a.saveState(ckpt)
      aQ.stop()
      val restored = newWheel()
      restored.restoreState(ckpt)
      val rIn = MemoryStream[(Timestamp, Long)]
      rQ = restored.attach(rIn.toDF().toDF("ts", "uid"), "ckpt2-r")
      rIn.addData(batch2: _*)
      rQ.processAllAvailable()
      val lo = ts("2024-03-01 00:00:00").getTime / 1000
      val hi = ts("2024-03-01 00:03:00").getTime / 1000
      assert(java.util.Arrays.equals(
        restored.snapshot().combineRange(lo, hi).asInstanceOf[Array[Byte]],
        twin.snapshot().combineRange(lo, hi).asInstanceOf[Array[Byte]]),
        "restored registers must be bit-identical to the twin's")
      assert(restored.snapshot().range(lo, hi) === 3L)
    } finally {
      if (rQ != null) rQ.stop()
      twinQ.stop()
    }
  }

  test("registered streaming moment wheel serves wheel_var SQL at plan time") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-mom-reg").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-04-01 00:00:00").getTime
    val rows = (0 until 300).map(i => (new Timestamp(base + i * 1000L), (i % 37) + 0.25))
    rows.toDF("ts", "v").write.parquet(path)
    val input = MemoryStream[(Timestamp, Double)]
    val idx = StreamingTypedWheel.moments("ts", "v", scale = 2)
    val q = idx.attach(input.toDF().toDF("ts", "v"), "moment-wheel-reg")
    try {
      idx.register(path, "v")
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT wheel_var_samp(CAST(v AS DECIMAL(18,2))) AS vs,
           |       wheel_stddev_pop(CAST(v AS DECIMAL(18,2))) AS sp
           |FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-04-01 00:01:00'
           |  AND ts < TIMESTAMP '2024-04-01 00:04:00'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      graft.Graft.rewritesEnabled = false
      val flat = try spark.sql(sql).collect()(0)
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect()(0) === flat)
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("streaming moment wheel: a NaN row poisons the publish gate (castFail)") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-mom-nan").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-04-02 00:00:00").getTime
    val rows = (0 until 50).map(i =>
      (new Timestamp(base + i * 1000L), if (i == 13) Double.NaN else i.toDouble))
    rows.toDF("ts", "v").write.parquet(path)
    val input = MemoryStream[(Timestamp, Double)]
    val idx = StreamingTypedWheel.moments("ts", "v", scale = 2)
    val q = idx.attach(input.toDF().toDF("ts", "v"), "moment-wheel-nan")
    try {
      idx.register(path, "v")
      input.addData(rows: _*)
      q.processAllAvailable()
      val df = spark.sql(
        s"""SELECT wheel_var_samp(CAST(v AS DECIMAL(18,2))) AS vs FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-04-02 00:00:00'
           |  AND ts < TIMESTAMP '2024-04-02 00:00:10'""".stripMargin)
      assert(df.queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty, "castFail must decline the rewrite")
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("streaming moment checkpoint: save/restore equals a never-restarted twin") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-mom-ckpt").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-04-03 00:00:00").getTime
    val first = (0 until 100).map(i => (new Timestamp(base + i * 1000L), (i % 11) + 0.5))
    val second = (100 until 200).map(i => (new Timestamp(base + i * 1000L), (i % 13) + 0.75))
    (first ++ second).toDF("ts", "v").write.parquet(path)

    // twin: sees everything in one life
    val twinIn = MemoryStream[(Timestamp, Double)]
    val twin = StreamingTypedWheel.moments("ts", "v", scale = 2)
    val twinQ = twin.attach(twinIn.toDF().toDF("ts", "v"), "mom-ckpt-twin")
    // first life: first half, then checkpoint
    val in1 = MemoryStream[(Timestamp, Double)]
    val w1 = StreamingTypedWheel.moments("ts", "v", scale = 2)
    val q1 = w1.attach(in1.toDF().toDF("ts", "v"), "mom-ckpt-1")
    var q2: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      twinIn.addData(first ++ second: _*)
      twinQ.processAllAvailable()
      in1.addData(first: _*)
      q1.processAllAvailable()
      val ckpt = s"$dir/moments.ckpt"
      w1.saveState(ckpt)
      q1.stop()
      // second life: restore, replay only the second half
      val in2 = MemoryStream[(Timestamp, Double)]
      val w2 = StreamingTypedWheel.moments("ts", "v", scale = 2)
      w2.restoreState(ckpt)
      q2 = w2.attach(in2.toDF().toDF("ts", "v"), "mom-ckpt-2")
      in2.addData(second: _*)
      q2.processAllAvailable()
      w2.register(path, "v")
      val sql =
        s"""SELECT wheel_var_samp(CAST(v AS DECIMAL(18,2))) AS vs FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-04-03 00:00:30'
           |  AND ts < TIMESTAMP '2024-04-03 00:03:00'""".stripMargin
      val restored = spark.sql(sql)
      assert(restored.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty)
      val fromRestored = restored.collect()(0)
      w2.deregister()
      twin.register(path, "v")
      val fromTwin = spark.sql(sql).collect()(0)
      twin.deregister()
      assert(fromRestored === fromTwin)
    } finally {
      if (q2 != null) q2.stop()
      if (q1.isActive) q1.stop()
      twinQ.stop()
    }
  }

  test("restoreState + register serves measure rewrites BEFORE any new batch") {
    // regression: publishing the measure wheel was gated on attach()'s
    // resolved metadata, so a restored-then-registered index answered only
    // COUNT until the first batch arrived — the restored history must
    // serve SUM/MIN/MAX immediately
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-restorepub").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-07-01 00:00:00").getTime
    val rows = (0 until 200).map(i => (new Timestamp(base + i * 1000L), (i % 7).toDouble))
    rows.toDF("ts", "v").write.parquet(path)
    val w1 = new StreamingWheelIndex("ts", Some("v"))
    val in1 = MemoryStream[(Timestamp, Double)]
    val q1 = w1.attach(in1.toDF().toDF("ts", "v"), "restorepub-src")
    val ckpt = s"$dir/state.wheel"
    try {
      in1.addData(rows: _*)
      q1.processAllAvailable()
      w1.saveState(ckpt)
    } finally q1.stop()
    val w2 = new StreamingWheelIndex("ts", Some("v"))
    w2.restoreState(ckpt)
    w2.register(path) // NO attach, NO batch — history must already serve
    try {
      val sql =
        s"""SELECT CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sv, min(v) AS mn,
           |       count(*) AS cnt FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-07-01 00:00:30'
           |  AND ts < TIMESTAMP '2024-07-01 00:02:30'""".stripMargin
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty,
        s"restored measure wheel must serve:\n${df.queryExecution.optimizedPlan}")
      graft.Graft.rewritesEnabled = false
      val flat = try spark.sql(sql).collect().toSeq
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect().toSeq === flat)
    } finally {
      w2.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("streaming expression measures serve batch SQL at plan time") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-sexpr").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-06-01 00:00:00").getTime
    val rows = (0 until 300).map(i =>
      (new Timestamp(base + i * 1000L), (i % 13) + (i % 100) / 100.0,
        if (i % 3 == 0) "sale" else "view"))
    rows.toDF("ts", "v", "et").write.parquet(path)
    // the measure is a DERIVED EXPRESSION, unfiltered + one keyed spec
    val idx = new StreamingWheelIndex("ts", Some("v * 2"),
      keyedWheels = Seq(("v * 2", "et = 'sale'")))
    val input = MemoryStream[(Timestamp, Double, String)]
    val q = idx.attach(input.toDF().toDF("ts", "v", "et"), "sexpr-wheel")
    try {
      idx.register(path)
      input.addData(rows: _*)
      q.processAllAvailable()
      val range = "ts >= TIMESTAMP '2024-06-01 00:00:30' AND ts < TIMESTAMP '2024-06-01 00:04:00'"
      def check(sql: String): Unit = {
        val df = spark.sql(sql)
        val opt = df.queryExecution.optimizedPlan
        assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
        assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
        graft.Graft.rewritesEnabled = false
        val flat = try spark.sql(sql).collect().toSeq
          finally graft.Graft.rewritesEnabled = true
        assert(df.collect().toSeq === flat, sql)
      }
      check(s"""SELECT CAST(sum(CAST(v * 2 AS DECIMAL(18,2))) AS DOUBLE) AS s2,
               |       count(*) AS cnt FROM parquet.`$path` WHERE $range""".stripMargin)
      check(s"""SELECT min(v * 2) AS mn, max(v * 2) AS mx
               |FROM parquet.`$path` WHERE $range""".stripMargin)
      check(s"""SELECT CAST(sum(CAST(v * 2 AS DECIMAL(18,2))) AS DOUBLE) AS s2
               |FROM parquet.`$path` WHERE $range AND et = 'sale'""".stripMargin)
      // a DIFFERENT expression has no wheel: scan
      val other = spark.sql(s"SELECT sum(v * 3) AS s FROM parquet.`$path` WHERE $range")
      assert(other.queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty)
    } finally {
      q.stop()
      idx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("registered streaming cms wheel serves cms_freq SQL at plan time") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-cms-reg").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-05-01 00:00:00").getTime
    val rows = (0 until 400).map(i => (new Timestamp(base + i * 1000L), (i % 23).toLong))
    rows.toDF("ts", "uid").write.parquet(path)
    val input = MemoryStream[(Timestamp, Long)]
    val cms = new graft.wheel.WheelAggregators.CmsFreq(4, 12)
    val idx = new StreamingTypedWheel[Long, Array[Byte], Array[Byte]](
      "ts", col("uid"), cms, _.getLong(1))
    val q = idx.attach(input.toDF().toDF("ts", "uid"), "cms-wheel-reg")
    try {
      idx.register(path, "uid")
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT cms_freq(uid, 7) AS f FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-05-01 00:01:00'
           |  AND ts < TIMESTAMP '2024-05-01 00:05:00'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      graft.Graft.rewritesEnabled = false
      val flat = try spark.sql(sql).collect()(0).getLong(0)
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect()(0).getLong(0) === flat)
      // wrong counter matrix still falls back to the scan
      val other = spark.sql(sql.replace("cms_freq(uid, 7)", "cms_freq(uid, 7, 10)"))
      assert(other.queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty)
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("numeric re-publish carries a co-publisher's moment and cms families") {
    // regression: publishLocked carried only numeric + HLL families, so a
    // numeric publisher's NEXT batch silently dropped a co-publishing
    // moment/quantile/cms family from the registry
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-carry").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-05-02 00:00:00").getTime
    val rows = (0 until 200).map(i =>
      (new Timestamp(base + i * 1000L), (i % 13) + 0.5, (i % 9).toLong))
    rows.toDF("ts", "v", "uid").write.parquet(path)
    def rewrites(sql: String): Boolean =
      spark.sql(sql).queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty
    val range = "ts >= TIMESTAMP '2024-05-02 00:00:30' AND ts < TIMESTAMP '2024-05-02 00:03:00'"
    val momSql = s"SELECT wheel_var_samp(CAST(v AS DECIMAL(18,2))) AS vs FROM parquet.`$path` WHERE $range"
    val cmsSql = s"SELECT cms_freq(uid, 3) AS f FROM parquet.`$path` WHERE $range"
    val cntSql = s"SELECT count(*) AS c FROM parquet.`$path` WHERE $range"

    val momIdx = StreamingTypedWheel.moments("ts", "v", scale = 2)
    val momIn = MemoryStream[(Timestamp, Double)]
    val momQ = momIdx.attach(momIn.toDF().toDF("ts", "v"), "carry-mom")
    val cmsIdx = new StreamingTypedWheel[Long, Array[Byte], Array[Byte]](
      "ts", col("uid"), new graft.wheel.WheelAggregators.CmsFreq(4, 12), _.getLong(1))
    val cmsIn = MemoryStream[(Timestamp, Long)]
    val cmsQ = cmsIdx.attach(cmsIn.toDF().toDF("ts", "uid"), "carry-cms")
    val numIdx = new StreamingWheelIndex("ts", Some("v"))
    val numIn = MemoryStream[(Timestamp, Double)]
    val numQ = numIdx.attach(numIn.toDF().toDF("ts", "v"), "carry-num")
    try {
      momIdx.register(path, "v")
      momIn.addData(rows.map(r => (r._1, r._2)): _*)
      momQ.processAllAvailable()
      cmsIdx.register(path, "uid")
      cmsIn.addData(rows.map(r => (r._1, r._3)): _*)
      cmsQ.processAllAvailable()
      assert(rewrites(momSql) && rewrites(cmsSql))
      // the numeric publisher arrives LAST and keeps publishing batches:
      // both foreign families must ride every re-publish
      numIdx.register(path)
      numIn.addData(rows.take(100).map(r => (r._1, r._2)): _*)
      numQ.processAllAvailable()
      numIn.addData(rows.drop(100).map(r => (r._1, r._2)): _*)
      numQ.processAllAvailable()
      assert(rewrites(cntSql), "numeric family must serve")
      assert(rewrites(momSql), "moment family must survive numeric re-publishes")
      assert(rewrites(cmsSql), "cms family must survive numeric re-publishes")
      // and the numeric deregister keeps them too
      numIdx.deregister()
      assert(rewrites(momSql) && rewrites(cmsSql))
    } finally {
      momQ.stop(); cmsQ.stop(); numQ.stop()
      momIdx.deregister(); cmsIdx.deregister(); numIdx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("registered streaming quantile wheel serves hdr_quantile SQL at plan time") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-hdr-reg").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-05-01 00:00:00").getTime
    val rows = (0 until 400).map(i => (new Timestamp(base + i * 1000L), (i % 53) + 0.125))
    rows.toDF("ts", "v").write.parquet(path)
    val input = MemoryStream[(Timestamp, Double)]
    val idx = StreamingTypedWheel.quantiles("ts", "v")
    val q = idx.attach(input.toDF().toDF("ts", "v"), "hdr-wheel-reg")
    try {
      idx.register(path, "v")
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT hdr_quantile(v, 0.9) AS p90, hdr_quantile(v, 0.5) AS p50
           |FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-05-01 00:01:00'
           |  AND ts < TIMESTAMP '2024-05-01 00:05:00'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      graft.Graft.rewritesEnabled = false
      val flat = try spark.sql(sql).collect()(0)
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect()(0) === flat)
      // a different resolution must NOT serve from this wheel (s mismatch)
      val other = spark.sql(sql.replace("hdr_quantile(v, 0.9)", "hdr_quantile(v, 0.9, 5)"))
      assert(other.queryExecution.optimizedPlan
        .collect { case r: LogicalRelation => r }.nonEmpty,
        "a different s must decline the streamed wheel")
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("streaming quantile checkpoint: save/restore equals a never-restarted twin") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-hdr-ckpt").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-05-02 00:00:00").getTime
    val first = (0 until 100).map(i => (new Timestamp(base + i * 1000L), (i % 17) + 0.5))
    val second = (100 until 200).map(i => (new Timestamp(base + i * 1000L), (i % 19) + 0.25))
    (first ++ second).toDF("ts", "v").write.parquet(path)

    val twinIn = MemoryStream[(Timestamp, Double)]
    val twin = StreamingTypedWheel.quantiles("ts", "v")
    val twinQ = twin.attach(twinIn.toDF().toDF("ts", "v"), "hdr-ckpt-twin")
    val in1 = MemoryStream[(Timestamp, Double)]
    val w1 = StreamingTypedWheel.quantiles("ts", "v")
    val q1 = w1.attach(in1.toDF().toDF("ts", "v"), "hdr-ckpt-1")
    var q2: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      twinIn.addData(first ++ second: _*)
      twinQ.processAllAvailable()
      in1.addData(first: _*)
      q1.processAllAvailable()
      val ckpt = s"$dir/hdr.ckpt"
      w1.saveState(ckpt)
      q1.stop()
      val in2 = MemoryStream[(Timestamp, Double)]
      val w2 = StreamingTypedWheel.quantiles("ts", "v")
      w2.restoreState(ckpt)
      q2 = w2.attach(in2.toDF().toDF("ts", "v"), "hdr-ckpt-2")
      in2.addData(second: _*)
      q2.processAllAvailable()
      w2.register(path, "v")
      val sql =
        s"""SELECT hdr_quantile(v, 0.99) AS p99 FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-05-02 00:00:30'
           |  AND ts < TIMESTAMP '2024-05-02 00:03:00'""".stripMargin
      val restored = spark.sql(sql)
      assert(restored.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty)
      val fromRestored = restored.collect()(0)
      w2.deregister()
      twin.register(path, "v")
      val fromTwin = spark.sql(sql).collect()(0)
      twin.deregister()
      assert(fromRestored === fromTwin)
    } finally {
      if (q2 != null) q2.stop()
      if (q1.isActive) q1.stop()
      twinQ.stop()
    }
  }

  test("StreamingTypedWheel.freq helper serves cms_freq and checkpoints") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-freq-helper").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-05-03 00:00:00").getTime
    val rows = (0 until 300).map(i => (new Timestamp(base + i * 1000L), (i % 23).toLong))
    rows.toDF("ts", "uid").write.parquet(path)
    val input = MemoryStream[(Timestamp, Long)]
    val idx = StreamingTypedWheel.freq("ts", "uid")
    val q = idx.attach(input.toDF().toDF("ts", "uid"), "freq-helper")
    try {
      idx.register(path, "uid")
      input.addData(rows: _*)
      q.processAllAvailable()
      val sql =
        s"""SELECT cms_freq(uid, 7) AS f FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-05-03 00:01:00'
           |  AND ts < TIMESTAMP '2024-05-03 00:04:00'""".stripMargin
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty)
      graft.Graft.rewritesEnabled = false
      val flat = try spark.sql(sql).collect()(0)
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect()(0) === flat)
      // checkpoint round-trip preserves the counters
      val ckpt = s"$dir/freq.ckpt"
      idx.saveState(ckpt)
      val w2 = StreamingTypedWheel.freq("ts", "uid")
      w2.restoreState(ckpt)
      idx.deregister()
      w2.register(path, "uid")
      val df2 = spark.sql(sql)
      assert(df2.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty)
      assert(df2.collect()(0) === flat)
      w2.deregister()
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("StreamingTypedWheel.topTalkers serves certified top-k; co-publishers carry it") {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-stream").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-05-03 00:00:00").getTime
    // ≤1 key per second (sparse): every range certifies
    val rows = (0 until 300).map(i => (new Timestamp(base + i * 1000L), (i % 23).toLong))
    rows.toDF("ts", "uid").write.parquet(path)
    val input = MemoryStream[(Timestamp, Long)]
    val idx = StreamingTypedWheel.topTalkers("ts", "uid", cap = 16)
    val q = idx.attach(input.toDF().toDF("ts", "uid"), "topk-helper")
    try {
      idx.register(path, "uid")
      // live service BEFORE any batch: empty wheel certifies the empty answer
      input.addData(rows.take(150): _*)
      q.processAllAvailable()
      input.addData(rows.drop(150): _*)
      q.processAllAvailable()
      val s0 = base / 1000L + 60L
      val e0 = base / 1000L + 240L
      def groundTruth(k: Int): Seq[(Long, Long)] =
        rows.filter(r => r._1.getTime / 1000L >= s0 && r._1.getTime / 1000L < e0)
          .groupBy(_._2).view.mapValues(_.size.toLong).toSeq
          .sortBy { case (key, c) => (-c, key) }.take(k)
      val tw = graft.index.WheelRegistry.lookup(path).get.topKWheel("uid").get
      val served = tw.topK(s0, e0, 5)
      assert(served.isDefined, "sparse stream slots must certify")
      assert(served.get == groundTruth(5))
      // a co-publisher's re-publish must CARRY the top-k family (the
      // family-clone sites in publishLocked)
      val input2 = MemoryStream[(Timestamp, Long)]
      val fidx = StreamingTypedWheel.freq("ts", "uid")
      val q2 = fidx.attach(input2.toDF().toDF("ts", "uid"), "topk-co")
      try {
        fidx.register(path, "uid")
        input2.addData(rows.take(10): _*)
        q2.processAllAvailable()
        val after = graft.index.WheelRegistry.lookup(path).get
        assert(after.freqWheel("uid", "").isDefined)
        val tw2 = after.topKWheel("uid")
        assert(tw2.isDefined, "freq re-publish dropped the top-k family")
        assert(tw2.get.topK(s0, e0, 5).contains(groundTruth(5)))
        // withdrawing the co-publisher keeps us registered
        fidx.deregister()
        assert(graft.index.WheelRegistry.lookup(path).get.topKWheel("uid").isDefined)
        assert(graft.index.WheelRegistry.lookup(path).get.freqWheel("uid", "").isEmpty)
      } finally q2.stop()
      // checkpoint round-trip: restored wheel serves the identical answer
      val ckpt = s"$dir/topk.ckpt"
      idx.saveState(ckpt)
      val w2 = StreamingTypedWheel.topTalkers("ts", "uid", cap = 16)
      w2.restoreState(ckpt)
      idx.deregister()
      assert(graft.index.WheelRegistry.lookup(path).forall(_.topKWheel("uid").isEmpty))
      w2.register(path, "uid")
      val tw3 = graft.index.WheelRegistry.lookup(path).get.topKWheel("uid").get
      assert(tw3.topK(s0, e0, 5).contains(groundTruth(5)))
      // cap mismatch is refused, not merged
      val bad = StreamingTypedWheel.topTalkers("ts", "uid", cap = 8)
      assertThrows[IllegalArgumentException](bad.restoreState(ckpt))
      w2.deregister()
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("top-k restore gate: a displaced batch-built top-k index returns whole on deregister") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-topk-displace").toString
    val path = s"$dir/t.parquet"
    val base = ts("2024-06-01 00:00:00").getTime
    // ≤1 key per second: every range certifies, batch and stream alike
    val rows = (0 until 200).map(i => (new Timestamp(base + i * 1000L), (i % 9).toLong))
    rows.toDF("ts", "uid").write.parquet(path)
    graft.index.UWheelBuilder("ts").withTopKWheel("uid", cap = 16).build(spark, path)
    val s0 = base / 1000L
    val e0 = s0 + 200L
    def gt(of: Seq[(Timestamp, Long)], k: Int): Seq[(Long, Long)] =
      of.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (key, c) => (-c, key) }.take(k)
    assert(graft.index.WheelRegistry.lookup(path).get.topKWheel("uid").get
      .topK(s0, e0, 5).contains(gt(rows, 5)))

    val input = MemoryStream[(Timestamp, Long)]
    val sIdx = StreamingTypedWheel.topTalkers("ts", "uid", cap = 16)
    val q = sIdx.attach(input.toDF().toDF("ts", "uid"), "topk-displace")
    try {
      // the stream publisher displaces the batch index (warned, restorable)
      sIdx.register(path, "uid")
      input.addData(rows.take(50): _*)
      q.processAllAvailable()
      val live = graft.index.WheelRegistry.lookup(path).get
      assert(live.fingerprint == 0L, "stream registration must be live")
      assert(live.topKWheel("uid").get.topK(s0, e0, 3)
        .contains(gt(rows.take(50), 3)), "live wheel serves the stream's content")
      // deregister: the untested top-k path of the restore gate — the
      // displaced BATCH index must come back with its top-k family intact
      sIdx.deregister()
      val restored = graft.index.WheelRegistry.lookup(path).get
      assert(restored.fingerprint != 0L, "batch index must be restored")
      val tw = restored.topKWheel("uid")
      assert(tw.isDefined, "restore dropped the batch top-k family")
      assert(tw.get.topK(s0, e0, 5).contains(gt(rows, 5)))
      // and the optimizer's top-k arm serves from the restored family
      val sql =
        s"""SELECT uid, count(*) AS cnt FROM parquet.`$path`
           |WHERE ts >= TIMESTAMP '2024-06-01 00:00:00' AND ts < TIMESTAMP '2024-06-01 00:03:20'
           |GROUP BY 1 ORDER BY cnt DESC, uid LIMIT 5""".stripMargin
      val opt = spark.sql(sql).queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty,
        s"restored top-k family must serve plain SQL:\n$opt")
      assert(spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == gt(rows, 5))
    } finally {
      q.stop()
      sIdx.deregister()
      graft.index.WheelRegistry.deregister(path)
    }
  }

  test("saveSnapshot round-trip: load serves pre-restart rewrites; stream resume append-merges") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val path = s"$dir/t.parquet"
    val snapFile = s"$dir/idx.snapshot"
    val stateFile = s"$dir/idx.state"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), 1.0),
      (ts("2024-03-01 00:00:30"), 2.5),
      (ts("2024-03-01 00:01:30"), 4.0),
      (ts("2024-03-01 00:02:10"), 8.0))
    rows.toDF("ts", "value").write.parquet(path)
    val sql =
      s"""SELECT count(*) AS cnt,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
         |       min(value) AS mn
         |FROM parquet.`$path`
         |WHERE ts >= TIMESTAMP '2024-03-01 00:00:30'
         |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
    def rewrites(df: org.apache.spark.sql.DataFrame): Boolean = {
      val opt = df.queryExecution.optimizedPlan
      opt.collect { case l: LocalRelation => l }.nonEmpty &&
        opt.collect { case r: LogicalRelation => r }.isEmpty
    }
    // session 1: ingest, register, snapshot + state, then "crash"
    val input = MemoryStream[(Timestamp, Double)]
    val idx = new StreamingWheelIndex("ts", Some("value"))
    val q = idx.attach(input.toDF().toDF("ts", "value"), "wheel-snap-1")
    try {
      idx.register(path)
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(rewrites(spark.sql(sql)))
      idx.saveSnapshot(snapFile)
      idx.saveState(stateFile)
    } finally {
      q.stop()
      idx.deregister()
    }
    // restart boundary: the registry lost the publisher — queries scan again
    assert(!rewrites(spark.sql(sql)))

    // session 2 phase A: load the snapshot AT START — plan-time service is
    // back at the saved watermark before any stream exists
    val (loaded, fresh) = graft.index.WheelIndexIO.load(spark, snapFile)
    assert(loaded.fingerprint === 0L)
    assert(fresh, "a stream snapshot is watermark-consistent, not listing-stale")
    try {
      val df = spark.sql(sql)
      assert(rewrites(df), s"loaded snapshot must serve:\n${df.queryExecution.optimizedPlan}")
      val got = df.collect()(0)
      assert(got.getLong(0) === 2L)
      assert(got.getDouble(1) === 6.5)
      assert(got.getDouble(2) === 2.5)

      // phase B: reconstruct the publisher from the state file and resume —
      // new batches append-merge and republish over the loaded snapshot
      val idx2 = new StreamingWheelIndex("ts", Some("value"))
      val wm = idx2.restoreState(stateFile)
      assert(wm >= ts("2024-03-01 00:02:10").getTime)
      val input2 = MemoryStream[(Timestamp, Double)]
      val q2 = idx2.attach(input2.toDF().toDF("ts", "value"), "wheel-snap-2")
      try {
        idx2.register(path)
        val more = Seq((ts("2024-03-01 00:01:45"), 16.0))
        more.toDF("ts", "value").write.mode("append").parquet(path)
        input2.addData(more: _*)
        q2.processAllAvailable()
        val df2 = spark.sql(sql)
        assert(rewrites(df2))
        val got2 = df2.collect()(0)
        assert(got2.getLong(0) === 3L) // pre-restart rows + the resumed batch
        assert(got2.getDouble(1) === 22.5)
      } finally {
        q2.stop()
        idx2.deregister()
      }
    } finally graft.index.WheelRegistry.deregister(path)
  }

  test("typed-wheel saveSnapshot round-trip: loaded HLL family serves hll_distinct at the saved watermark") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-typed-snap").toString
    val path = s"$dir/t.parquet"
    val snapFile = s"$dir/hll.snapshot"
    val base = ts("2024-03-05 00:00:00").getTime
    val rows = (0 until 400).map(i => (new Timestamp(base + i * 1000L), (i % 55).toLong))
    rows.toDF("ts", "uid").write.parquet(path)
    val sql =
      s"""SELECT hll_distinct(uid) AS du FROM parquet.`$path`
         |WHERE ts >= TIMESTAMP '2024-03-05 00:01:00'
         |  AND ts < TIMESTAMP '2024-03-05 00:05:00'""".stripMargin
    val input = MemoryStream[(Timestamp, Long)]
    val hll = new graft.wheel.WheelAggregators.HllDistinct(11)
    val idx = new StreamingTypedWheel("ts", col("uid"), hll,
      (r: org.apache.spark.sql.Row) => r.getLong(1))
    val q = idx.attach(input.toDF().toDF("ts", "uid"), "typed-snap")
    val expected = try {
      idx.register(path, "uid")
      input.addData(rows: _*)
      q.processAllAvailable()
      val v = spark.sql(sql).collect()(0).getLong(0)
      idx.saveSnapshot(snapFile)
      v
    } finally {
      q.stop()
      idx.deregister()
    }
    // restart boundary, then load-at-start
    assert(spark.sql(sql).queryExecution.optimizedPlan
      .collect { case r: LogicalRelation => r }.nonEmpty)
    val (loaded, fresh) = graft.index.WheelIndexIO.load(spark, snapFile)
    try {
      assert(loaded.fingerprint === 0L && fresh)
      val df = spark.sql(sql)
      assert(df.queryExecution.optimizedPlan
        .collect { case l: LocalRelation => l }.nonEmpty,
        s"loaded sketch snapshot must serve:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect()(0).getLong(0) === expected)
    } finally graft.index.WheelRegistry.deregister(path)
  }

  test("stream registered under TWO roots serves the two-directory relation (round-15 task 6)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-mroot").toString
    val (pA, pB) = (s"$dir/a.parquet", s"$dir/b.parquet")
    // the stream is the COMBINED feed: its rows are exactly the union of
    // what landed in the two directories (the canonical multi-directory
    // ingest layout: one logical table, several physical roots)
    val rowsA = Seq(
      (ts("2024-03-01 00:00:00"), 1.0),
      (ts("2024-03-01 00:00:30"), 2.5))
    val rowsB = Seq(
      (ts("2024-03-01 00:01:30"), 4.0),
      (ts("2024-03-01 00:02:10"), 8.0))
    rowsA.toDF("ts", "value").write.parquet(pA)
    rowsB.toDF("ts", "value").write.parquet(pB)
    def q(roots: String*) = spark.read.parquet(roots: _*)
      .where("ts >= TIMESTAMP '2024-03-01 00:00:30' AND ts < TIMESTAMP '2024-03-01 00:02:00'")
      .groupBy().agg(
        count(lit(1)).as("cnt"),
        expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sv"))
    def rewrites(df: org.apache.spark.sql.DataFrame): Boolean = {
      val opt = df.queryExecution.optimizedPlan
      opt.collect { case l: LocalRelation => l }.nonEmpty &&
        opt.collect { case r: LogicalRelation => r }.isEmpty
    }
    val input = MemoryStream[(Timestamp, Double)]
    val idx = new StreamingWheelIndex("ts", Some("value"))
    val sq = idx.attach(input.toDF().toDF("ts", "value"), "wheel-mroot")
    try {
      idx.register(Seq(pA, pB))
      input.addData(rowsA ++ rowsB: _*)
      sq.processAllAvailable()
      // the two-directory relation rewrites from the stream's wheels at
      // the watermark — plan-asserted, both root orders (the key sorts)
      val df = q(pA, pB)
      assert(rewrites(df),
        s"multi-root relation must serve from the stream:\n${df.queryExecution.optimizedPlan}")
      val got = df.collect()(0)
      assert(got.getLong(0) === 2L)
      assert(got.getDouble(1) === 6.5)
      val flipped = q(pB, pA)
      assert(rewrites(flipped), "root order must not affect the root-set key")
      assert(flipped.collect()(0).getLong(0) === 2L)
      // a SINGLE member directory is a different (smaller) table: nothing
      // is registered under its key and the fingerprint-0 fallback
      // exclusion holds, so it scans — and answers from its own rows only
      val justA = q(pA)
      assert(!rewrites(justA), "a member root alone must not serve the root-set stream")
      assert(justA.collect()(0).getLong(0) === 1L)
      // swap-on-version across roots: a batch landing in ONE directory is
      // visible to the next multi-root query
      val more = Seq((ts("2024-03-01 00:01:45"), 16.0))
      more.toDF("ts", "value").write.mode("append").parquet(pB)
      input.addData(more: _*)
      sq.processAllAvailable()
      val df2 = q(pA, pB)
      assert(rewrites(df2))
      val got2 = df2.collect()(0)
      assert(got2.getLong(0) === 3L)
      assert(got2.getDouble(1) === 22.5)
      // deregister withdraws the root-set key: back to the (correct) scan
      idx.deregister()
      val df3 = q(pA, pB)
      assert(!rewrites(df3))
      assert(df3.collect()(0).getLong(0) === 3L)
    } finally {
      sq.stop()
      idx.deregister()
    }
  }

  test("checkpoints of the earlier accumulator payload are refused on their signature") {
    // saved by the build whose checkpoints carried the three wheels'
    // RwWheels and flag arrays (signature swi-v1), over two batches of the
    // keyed checkpoint test's rows
    for ((name, idx) <- Seq(
        "swi-v1-plain.ckpt" -> new StreamingWheelIndex("ts", Some("value")),
        "swi-v1-keyed.ckpt" -> new StreamingWheelIndex("ts", Some("value"),
          keyedWheels = Seq(("value", "event_type = 'click'"))))) {
      val res = getClass.getResource(s"/graft/streaming/$name")
      assert(res != null, s"fixture $name missing")
      val e = intercept[IllegalArgumentException] {
        idx.restoreState(java.nio.file.Paths.get(res.toURI).toString)
      }
      assert(e.getMessage.contains("differently-configured"), e.getMessage)
      assert(e.getMessage.contains("swi-v1|"), e.getMessage)
      assert(idx.watermarkMs === Long.MinValue, "a refused checkpoint must merge nothing")
      assert(idx.snapshot().landmark.count === 0L)
    }
  }

  test("a DECIMAL measure streamed below its own scale answers as the scan does") {
    // the wheel sums values rounded to scale 2, so a DECIMAL(18,4) value
    // the rounding changes must mark the wheel inexact
    import org.apache.spark.sql.types.DecimalType
    val session = spark
    import session.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Graft.enable(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dec").toString
    val path = s"$dir/t.parquet"
    val rows = Seq(
      (ts("2024-03-01 00:00:00"), BigDecimal("1.2345")),
      (ts("2024-03-01 00:00:30"), BigDecimal("2.5000")),
      (ts("2024-03-01 00:01:30"), BigDecimal("4.0051")),
      (ts("2024-03-01 00:02:10"), BigDecimal("8.1200")))
    def dec4(df: org.apache.spark.sql.DataFrame) =
      df.toDF("ts", "value").withColumn("value", col("value").cast(DecimalType(18, 4)))
    dec4(rows.toDF()).write.parquet(path)
    val input = MemoryStream[(Timestamp, BigDecimal)]
    val idx = new StreamingWheelIndex("ts", Some("value"), scale = 2)
    val q = idx.attach(dec4(input.toDF()), "wheel-dec")
    try {
      idx.register(path)
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(!graft.index.WheelRegistry.lookup(path).get.minMaxWheel("value").get.facts.valuesExactAtScale)
      val range =
        """WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'
          |  AND ts < TIMESTAMP '2024-03-01 00:02:00'""".stripMargin
      for (agg <- Seq("sum(value)", "sum(CAST(value AS DOUBLE))")) {
        val sql = s"SELECT $agg AS s FROM parquet.`$path` $range"
        val on = spark.sql(sql).collect().toSeq
        graft.Graft.rewritesEnabled = false
        val off = try spark.sql(sql).collect().toSeq
          finally graft.Graft.rewritesEnabled = true
        assert(on === off, sql)
      }
    } finally {
      q.stop()
      idx.deregister()
    }
  }

  test("a parquet file stream feeds its registered table: served ranges equal the scan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val session = spark
    import session.implicits._
    graft.Graft.enable(spark)
    val table = java.nio.file.Files.createTempDirectory("graft-file-stream").toString + "/t"
    val base = ts("2024-08-01 00:00:00").getTime
    def batch(from: Int) = (from until from + 120).map(i =>
      (new Timestamp(base + i * 2000L), (i % 17) * 0.25)).toDF("ts", "value")
    batch(0).write.parquet(table)
    val idx = new StreamingWheelIndex("ts", Some("value"))
    idx.register(table)
    val q = idx.attach(spark.readStream.schema(batch(0).schema).parquet(table), "wheel-file-stream")
    try {
      q.processAllAvailable()
      batch(120).write.mode("append").parquet(table)
      q.processAllAvailable()
      val sql =
        s"""SELECT count(*) AS cnt, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
           |FROM parquet.`$table`
           |WHERE ts >= TIMESTAMP '2024-08-01 00:03:00'
           |  AND ts < TIMESTAMP '2024-08-01 00:06:00'""".stripMargin
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case l: LocalRelation => l }.nonEmpty, s"no LocalRelation in:\n$opt")
      assert(opt.collect { case r: LogicalRelation => r }.isEmpty, s"scan survived in:\n$opt")
      graft.Graft.rewritesEnabled = false
      val scan = try spark.sql(sql).collect().toSeq
        finally graft.Graft.rewritesEnabled = true
      assert(df.collect().toSeq === scan)
      assert(scan.head.getLong(0) === 90L)
    } finally {
      q.stop()
      idx.deregister()
    }
  }
}

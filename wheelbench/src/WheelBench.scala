package wheelbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.classic.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Graft, Tables}
import graft.expr.{Canon, Extract}
import graft.index.{BuildPhases, IndexBuilder, TableIndex, UWheelBuilder, UWheelIndex, WheelIndexIO, WheelRegistry}
import graft.streaming.StreamingWheelIndex

/** JVM half of the wheel-index benchmark (see README.md beside `src/`).
  *
  * Runs one workload against the program's public API and writes what it
  * measured, plus every answer it got, for `run.py` to check and report.
  * Timings are taken around calls into each layer; Spark's own records
  * (QueryPlanningTracker, StreamingQueryProgress, the MXBeans) and the
  * program's counters are read after each call. Nothing here reaches inside
  * the program.
  *
  * Arguments (all `--name value`): workload, seed, trace (0|1), threads,
  * work (scratch directory), base (the base `events` parquet file),
  * batches (directory of landed batches + `manifest.tsv`), rounds,
  * ranges, warmup_ranges, cycles, compact_every, out,
  * answers, spans.
  */
object WheelBench {

  val Families: Seq[String] = Seq("count", "keyed_sum", "minmax", "prune_empty",
    "group_hour", "window_2d_1d", "group_type", "topk_users", "distinct_users",
    "stddev", "p90")
  /** The families a streamed table's wheels answer (count + value min/max/sum
    * + the purchase-keyed sum). */
  val StreamFamilies: Seq[String] = Seq("count", "keyed_sum", "minmax")
  /** A predicate no wheel can answer: the rule matches, declines, and Spark
    * scans the parquet. */
  val Residual = "user_id % 7 = 3"
  private val SumDec = "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def sqlOf(fam: String, table: String, lo: Long, hi: Long, resid: Boolean): String = {
    val w = s"ts >= TIMESTAMP '${tsOf(lo)}' AND ts < TIMESTAMP '${tsOf(hi)}'" +
      (if (resid) s" AND $Residual" else "")
    fam match {
      case "count" => s"SELECT count(*) AS cnt FROM $table WHERE $w"
      case "keyed_sum" => s"SELECT $SumDec AS s FROM $table WHERE $w AND event_type = 'purchase'"
      case "minmax" => s"SELECT min(value) AS mn, max(value) AS mx, count(*) AS cnt FROM $table WHERE $w"
      case "prune_empty" => s"SELECT event_id FROM $table WHERE $w AND value > 100000.0"
      case "group_hour" =>
        s"SELECT date_trunc('hour', ts) AS bucket, count(*) AS cnt, min(value) AS mn, " +
          s"max(value) AS mx FROM $table WHERE $w GROUP BY 1 ORDER BY 1"
      case "window_2d_1d" =>
        s"SELECT window.start AS ws, count(*) AS cnt FROM $table WHERE $w " +
          "GROUP BY window(ts, '2 days', '1 day') ORDER BY 1"
      case "group_type" =>
        s"SELECT event_type, count(*) AS cnt, $SumDec AS s, min(value) AS mn, max(value) AS mx " +
          s"FROM $table WHERE $w GROUP BY event_type ORDER BY 1"
      case "topk_users" =>
        s"SELECT user_id, count(*) AS cnt FROM $table WHERE $w " +
          "GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT 5"
      case "distinct_users" => s"SELECT hll_distinct(user_id) AS du FROM $table WHERE $w"
      case "stddev" =>
        s"SELECT wheel_stddev_samp(CAST(value AS DECIMAL(18,2))) AS sd FROM $table WHERE $w"
      case "p90" => s"SELECT hdr_quantile(value, 0.9) AS p90 FROM $table WHERE $w"
    }
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def tsOf(sec: Long): String = tsFmt.format(java.time.Instant.ofEpochSecond(sec))

  /** The index the workloads read: exactly the wheel families the eleven
    * query families use (count, value min/max, one purchase-keyed sum per
    * event type so GROUP BY event_type is provably complete, HLL over
    * user_id, HDR and exact moments over value, heavy hitters over user_id). */
  def builder: UWheelBuilder =
    EventTypes.foldLeft(UWheelBuilder("ts", Seq("value"))) { (b, et) =>
      b.withKeyedWheel(IndexBuilder("value", Some(s"event_type = '$et'")))
    }.withDistinctWheel("user_id").withQuantileWheel("value")
      .withMomentWheel("value").withTopKWheel("user_id")

  // ---------------------------------------------------------------- helpers

  def median(xs: Iterable[Double]): Double = {
    val a = xs.toArray.sorted
    if (a.isEmpty) Double.NaN
    else if (a.length % 2 == 1) a(a.length / 2)
    else (a(a.length / 2 - 1) + a(a.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample. */
  def tail(xs: Iterable[Double]): Double = {
    val a = xs.toArray.sorted
    a(math.max(0, a.length - 11))
  }

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) jsonStr(d.toString) else d.toString

  /** One answer cell as JSON: timestamps become epoch seconds. */
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => jsonNum(d)
    case f: Float => jsonNum(f.toDouble)
    case l: Long => l.toString
    case i: Int => i.toString
    case s: String => jsonStr(s)
    case t: java.sql.Timestamp => (t.getTime / 1000).toString
    case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC).toString
    case t: java.time.Instant => t.getEpochSecond.toString
    case d: java.math.BigDecimal => d.toPlainString
    case other => jsonStr(other.toString)
  }

  def rowsJson(rows: Array[Row]): String =
    rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  def copyAtomically(src: Path, dir: Path, name: String): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  // ------------------------------------------------------------------ state

  final class Bench(args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val traced: Boolean = args("trace") == "1"
    val work: Path = Paths.get(args("work")).toAbsolutePath
    val rnd = new scala.util.Random(seed)
    def int(k: String): Int = args(k).toInt

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = {
      failed += 1
      if (errors.length < 20) errors += what
    }

    // answers: key → (rows JSON, times served, record fields)
    val answers = mutable.LinkedHashMap.empty[String, (String, Int, String)]

    // spans: (op id, name, parent op id or -1, start ns, end ns)
    val spans = mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
    var nextOp = 0L
    // per-layer samples (traced runs)
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    // ---------------------------------------------------------- session

    val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
    /** Progress line on the log, seconds since JVM start. */
    def mark(what: String): Unit =
      println(f"[${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%8.2f s] $what")
    mark("main")
    val spark: SparkSession = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[${args("threads")}]")
      .appName("wheelbench")
      .config("spark.sql.shuffle.partitions", args("threads"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate().asInstanceOf[SparkSession]
    spark.sparkContext.setLogLevel("ERROR")
    Graft.enable(spark)
    val sessionS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    mark("session ready")

    // Jobs per streaming micro-batch, counted from the job-start events.
    val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobsByBatch.merge(b, 1, (a: Integer, c: Integer) => a + c))
    })

    // ------------------------------------------------------------ tables

    /** A table is `<dir>/events.parquet/` (a directory of part files), read
      * through the program's own loader. */
    def tableDir(name: String): Path = work.resolve(name).resolve("events.parquet")
    def view(name: String, viewName: String): Unit =
      Tables.events(spark, work.resolve(name).toString).createOrReplaceTempView(viewName)

    val base: Path = Paths.get(args("base")).toAbsolutePath
    val dirA: Path = tableDir("a")
    Files.createDirectories(dirA)
    Files.copy(base, dirA.resolve("part-00000-base.parquet"))
    val keyA: String = WheelRegistry.normalizePath(dirA.toString)

    val gc0: Double = gcMs
    val jit0: Double = jitMs
    BuildPhases.clear()
    val coldBuildS: Double = {
      val t0 = System.nanoTime()
      builder.build(spark, dirA.toString)
      (System.nanoTime() - t0) / 1e9
    }
    val coldPhases: Map[String, Double] = BuildPhases.snapshot()
    mark(f"index built in $coldBuildS%.2f s; phases $coldPhases")
    view("a", "events")
    val setupS: Double = sessionS + coldBuildS
    val setupGcMs: Double = gcMs
    val setupJitMs: Double = jitMs
    def indexA: TableIndex = WheelRegistry.lookup(keyA).getOrElse(sys.error("index A not registered"))

    // ----------------------------------------------------------- queries

    /** Query timings of one phase (the read loop, or the reads between
      * upkeep writes) and how many of its queries the index served. */
    final class Phase {
      val latencies = mutable.ArrayBuffer.empty[(String, Double)] // (family, ms)
      var rewrites = 0L
      def all: Seq[Double] = latencies.map(_._2).toSeq
      def servedRatio: Double = rewrites.toDouble / math.max(1, latencies.length)
    }
    val loopPhase = new Phase
    val upkeepPhase = new Phase
    var phase: Phase = loopPhase

    def plans: Long = Graft.rewriteStats.snapshot("plans")

    /** Runs one query, times it, records its answer. */
    def query(table: String, fam: String, lo: Long, hi: Long, resid: Boolean, k: Int,
        traceThis: Boolean): Unit = {
      val text = sqlOf(fam, table, lo, hi, resid)
      attempted += 1
      val op = nextOp; nextOp += 1
      val p0 = plans
      try {
        val t0 = System.nanoTime()
        val df = spark.sql(text)
        val t1 = System.nanoTime()
        var t2, t3 = 0L
        if (traceThis) {
          df.queryExecution.optimizedPlan
          t2 = System.nanoTime()
          df.queryExecution.executedPlan
          t3 = System.nanoTime()
        }
        val rows = df.collect()
        val t4 = System.nanoTime()
        val ms = (t4 - t0) / 1e6
        phase.latencies += ((fam, ms))
        phase.rewrites += plans - p0
        record(table, fam, lo, hi, resid, k, rowsJson(rows))
        if (traceThis) traceQuery(op, df, text, fam, t0, t1, t2, t3, t4)
      } catch {
        case e: Exception => fail(s"$fam on $table [$lo, $hi): $e")
      }
    }

    def record(table: String, fam: String, lo: Long, hi: Long, resid: Boolean, k: Int,
        rows: String): Unit = {
      val key = s"$table|$fam|$lo|$hi|$resid|$k"
      answers.get(key) match {
        case None =>
          val fields = s""""table":${jsonStr(table)},"fam":${jsonStr(fam)},"lo":$lo,"hi":$hi,""" +
            s""""resid":$resid,"k":$k"""
          answers(key) = (rows, 1, fields)
        case Some((first, n, fields)) =>
          // a repeat of an answered query must return the same answer
          if (first != rows) fail(s"$key answered differently on a repeat")
          answers(key) = (first, n + 1, fields)
      }
    }

    private def ruleNs(df: DataFrame): Double =
      df.queryExecution.tracker.rules.collectFirst {
        case (name, s) if name.endsWith("UWheelRule") => s.totalTimeNs.toDouble
      }.getOrElse(0.0)

    /** Per-layer split of one query, from outside: stage boundaries timed
      * around the lazily forced QueryExecution stages, the rule's time from
      * Spark's rule summary, parse time from a second parse of the same text. */
    def traceQuery(op: Long, df: DataFrame, text: String, fam: String,
        t0: Long, t1: Long, t2: Long, t3: Long, t4: Long): Unit = {
      val p0 = System.nanoTime()
      spark.sessionState.sqlParser.parsePlan(text)
      val parseNs = System.nanoTime() - p0
      val rule = ruleNs(df)
      spans += ((op, s"query.$fam", -1L, t0, t4))
      spans += ((op, "spark.parse+analyze", op, t0, t1))
      spans += ((op, "spark.optimize", op, t1, t2))
      spans += ((op, "spark.plan", op, t2, t3))
      spans += ((op, "spark.execute", op, t3, t4))
      sample("spark.parse_ms", parseNs / 1e6)
      sample("spark.analyze_ms", math.max(0L, t1 - t0 - parseNs) / 1e6)
      sample("spark.optimize_ms", math.max(0.0, (t2 - t1) - rule) / 1e6)
      sample("spark.plan_ms", (t3 - t2) / 1e6)
      sample("spark.execute_ms", (t4 - t3) / 1e6)
      sample("rules.uwheel_ms", rule / 1e6)
      sample(s"rules.uwheel_ms.$fam", rule / 1e6)
      sample("trace.query_ms", (t4 - t0) / 1e6)
      splitRangeUs(df).foreach(sample("expr.split_range_us", _))
    }

    /** `Extract.splitTimeRange` over the conjuncts the rule sees: the plan
      * optimized with rewrites switched off keeps the time filter. */
    def splitRangeUs(df: DataFrame): Option[Double] = {
      Graft.rewritesEnabled = false
      val plan = try spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
      finally Graft.rewritesEnabled = true
      plan.collectFirst { case f: Filter => f.condition }.map { cond =>
        val conj = Canon.splitConjuncts(cond)
        val reps = 50
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { Extract.splitTimeRange(conj, "ts"); i += 1 }
        (System.nanoTime() - t0) / 1e3 / reps
      }
    }

    /** Raw reads of the registered wheels over one range, and the index
      * lookup and listing fingerprint the rule pays per query. */
    def traceWheels(t: TableIndex, lo: Long, hi: Long): Unit = {
      def us(name: String, reps: Int)(f: => Any): Unit = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { f; i += 1 }
        sample(name, (System.nanoTime() - t0) / 1e3 / reps)
      }
      val mm = t.minMaxWheel("value").get.wheel
      us("wheel.count_us", 200)(t.countWheel.get.wheel.countRange(lo, hi))
      us("wheel.range_us", 200)(mm.range(lo, hi))
      us("wheel.group_hour_us", 10)(mm.groupBy(lo, hi, 2))
      us("wheel.topk_us", 3)(t.topKWheel("user_id").get.topK(lo, hi, 5))
      us("wheel.hll_us", 50)(t.distinctWheel("user_id").get.wheel.range(lo, hi))
      us("wheel.hdr_us", 50)(t.quantileWheel("value").get.wheel.range(lo, hi))
      us("wheel.moment_us", 200)(t.momentWheel("value").get.wheel.range(lo, hi))
      us("index.lookup_us", 1000)(WheelRegistry.lookup(keyA))
    }

    def traceFingerprint(viewName: String): Unit = {
      val loc = spark.table(viewName).queryExecution.analyzed.collectFirst {
        case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
          lr.relation.asInstanceOf[HadoopFsRelation].location
      }.get
      val t0 = System.nanoTime()
      (1 to 5).foreach(_ => UWheelIndex.fingerprintOf(loc))
      sample("index.fingerprint_ms", (System.nanoTime() - t0) / 1e6 / 5)
    }

    // ----------------------------------------------------------- ranges

    lazy val (spanLo, spanHi) = {
      val w = indexA.countWheel.get.wheel
      (w.startSec, w.endSec)
    }

    /** Random [a, b) inside the data span, start second- or minute-aligned
      * with equal probability, width uniform in [1 min, full span] — the
      * generator of `graft.tools.BenchPcts`. */
    def randRange(): (Long, Long) = {
      val span = spanHi - spanLo
      val align = if (rnd.nextBoolean()) 60L else 1L
      val w = 60L + (rnd.nextDouble() * (span - 60L)).toLong
      val s0 = spanLo + (rnd.nextDouble() * (span - w)).toLong
      val s = s0 / align * align
      (s, math.min(s + w, spanHi))
    }

    // -------------------------------------------------------- read loops

    var loopGc0, loopJit0, loopGc1, loopJit1 = 0.0

    def readLoop(resid: Boolean): Unit = {
      val fams = if (resid) Families.filterNot(_ == "prune_empty") else Families
      val nRanges = int("ranges")
      // warm-up: one untimed round on ranges of its own
      (1 to int("warmup_ranges")).map(_ => randRange()).foreach { case (lo, hi) =>
        fams.foreach { f =>
          try spark.sql(sqlOf(f, "events", lo, hi, resid)).collect()
          catch { case _: Exception => () } // the timed rounds report it
        }
      }
      val ranges = (1 to nRanges).map(_ => randRange())
      mark("warm-up done")
      // the loop starts on an empty young generation, so collections land
      // on the same queries from run to run
      System.gc()
      loopGc0 = gcMs; loopJit0 = jitMs
      (1 to int("rounds")).foreach { _ =>
        ranges.zipWithIndex.foreach { case ((lo, hi), r) =>
          fams.zipWithIndex.foreach { case (f, j) =>
            // every second query is split into layers, alternating which
            // families from one range to the next
            query("events", f, lo, hi, resid, 0, traced && (r + j) % 2 == 0)
          }
          if (traced) traceWheels(indexA, lo, hi)
        }
        if (traced) traceFingerprint("events")
      }
      loopGc1 = gcMs; loopJit1 = jitMs
      mark("read loop done")
    }

    // ---------------------------------------------------------- upkeep

    val batchDir: Path = Paths.get(args("batches")).toAbsolutePath
    /** (file name, rows) of each batch, in landing order. */
    lazy val batches: IndexedSeq[(String, Long)] =
      Files.readAllLines(batchDir.resolve("manifest.tsv")).asScala.toIndexedSeq
        .filter(_.nonEmpty).map { l => val p = l.split('\t'); (p(0), p(1).toLong) }

    val refreshRows = mutable.ArrayBuffer.empty[Double]
    val refreshSecs = mutable.ArrayBuffer.empty[Double]
    val rebuildSecs = mutable.ArrayBuffer.empty[Double]
    val streamRows = mutable.ArrayBuffer.empty[Double]
    val streamSecs = mutable.ArrayBuffer.empty[Double]
    val saveSecs = mutable.ArrayBuffer.empty[Double]
    val loadSecs = mutable.ArrayBuffer.empty[Double]
    var indexFileMib = 0.0
    val indexFile: Path = work.resolve("events.wheelidx")

    val dirB: Path = tableDir("b")
    var stream: StreamingQuery = _
    var streamIndex: StreamingWheelIndex = _

    /** A second table, empty at first, whose wheels a file stream maintains
      * as the same batches land in it. */
    def startStream(): Unit = {
      Files.createDirectories(dirB)
      streamIndex = new StreamingWheelIndex("ts", Some("value"),
        keyedWheels = Seq(("value", "event_type = 'purchase'")))
      streamIndex.register(dirB.toString)
      val schema = spark.read.parquet(base.toString).schema
      stream = streamIndex.attach(spark.readStream.schema(schema).parquet(dirB.toString),
        "wheelbench_stream")
      stream.processAllAvailable()
      mark("stream started")
    }

    /** Compaction: the part files of table A are replaced by one file
      * holding the same rows (written beforehand by the input generator). */
    def compactA(i: Int): Unit = {
      Files.list(dirA).iterator().asScala.toList.foreach(Files.delete)
      copyAtomically(batchDir.resolve(f"compact-$i%03d.parquet"), dirA, f"part-c$i%05d.parquet")
    }

    def timedOp[T](name: String)(body: => T): (T, Double) = {
      attempted += 1
      val op = nextOp; nextOp += 1
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      mark(f"$name%s ${(t1 - t0) / 1e9}%.3f s")
      if (traced) spans += ((op, name, -1L, t0, t1))
      (r, (t1 - t0) / 1e9)
    }

    /** `cycles` upkeep cycles: land a batch, refresh (Appended), stream it,
      * compact + refresh (Rebuilt) every `compactEvery` cycles, save, then
      * read both tables over a range that crosses the old/new boundary. Ends
      * with eight loads of the saved index. Cycle 0 warms the upkeep path
      * up: its operations are checked like all others, but its timings are
      * left out of the metrics. Saves and loads start from a collected heap. */
    def upkeep(cycles: Int, compactEvery: Int): Unit = {
      phase = upkeepPhase
      startStream()
      var oldEnd = spanHi
      (0 until cycles).foreach { i =>
        val (file, rows) = batches(i)
        val src = batchDir.resolve(file)
        val name = f"part-b$i%05d.parquet"
        timedOp("upkeep.land")(copyAtomically(src, dirA, name))
        try {
          val measured = i > 0
          val (out, dt) = timedOp("index.refresh")(UWheelIndex.refresh(spark, dirA.toString))
          out match {
            case UWheelIndex.RefreshOutcome.Appended(_) =>
              if (measured) { refreshRows += rows; refreshSecs += dt }
            case other => fail(s"refresh after landing batch $i returned $other, not Appended")
          }
          view("a", "events")

          copyAtomically(src, dirB, name)
          val (_, st) = timedOp("streaming.batch")(stream.processAllAvailable())
          if (measured) { streamRows += rows; streamSecs += st }
          if (traced) {
            val t0 = System.nanoTime()
            streamIndex.snapshot()
            sample("streaming.snapshot_ms", (System.nanoTime() - t0) / 1e6)
          }
          view("b", "events_b")

          if ((i + 1) % compactEvery == 0) {
            compactA(i)
            val (out2, rt) = timedOp("index.rebuild")(UWheelIndex.refresh(spark, dirA.toString))
            out2 match {
              case UWheelIndex.RefreshOutcome.Rebuilt => if (measured) rebuildSecs += rt
              case other => fail(s"refresh after compaction $i returned $other, not Rebuilt")
            }
            view("a", "events")
          }

          System.gc()
          val (_, sv) = timedOp("index.save")(WheelIndexIO.save(indexA, indexFile.toString))
          if (measured) saveSecs += sv
        } catch {
          case e: Exception => fail(s"upkeep cycle $i: $e")
        }

        val newEnd = indexA.countWheel.get.wheel.endSec
        // the per-layer query split covers the read loop alone
        val (lo, hi) = crossingRange(oldEnd, newEnd)
        Families.foreach(f => query("events", f, lo, hi, resid = false, i + 1, traceThis = false))
        StreamFamilies.foreach(f =>
          query("events_b", f, lo, hi, resid = false, i + 1, traceThis = false))
        mark(s"cycle $i done")
        oldEnd = newEnd
      }
      if (traced) {
        stream.recentProgress.filter(_.numInputRows > 0).foreach { p =>
          Option(p.durationMs.get("triggerExecution")).foreach(v => sample("streaming.trigger_ms", v.doubleValue))
          Option(p.durationMs.get("addBatch")).foreach(v => sample("streaming.add_batch_ms", v.doubleValue))
          Option(jobsByBatch.get(p.batchId.toString))
            .foreach(j => sample("streaming.jobs_per_batch", j.doubleValue))
        }
      }
      stream.stop()
      stream.awaitTermination()
      indexFileMib = Files.size(indexFile) / 1048576.0
      (1 to 8).foreach { _ =>
        try {
          System.gc()
          val ((_, fresh), dt) = timedOp("index.load")(WheelIndexIO.load(spark, indexFile.toString))
          if (fresh) loadSecs += dt else fail("loaded index reported stale")
        } catch {
          case e: Exception => fail(s"load: $e")
        }
      }
    }

    /** [lo, hi) with lo before the previous end of data and hi past it. */
    def crossingRange(oldEnd: Long, newEnd: Long): (Long, Long) = {
      val align = if (rnd.nextBoolean()) 60L else 1L
      val back = 60L + (rnd.nextDouble() * (7 * 86400L - 60L)).toLong
      val fwd = 1L + (rnd.nextDouble() * (newEnd - oldEnd - 1L)).toLong
      val lo = (oldEnd - back) / align * align
      (lo, oldEnd + fwd)
    }

    // ------------------------------------------------------------- run

    var indexMib = 0.0

    def run(): Unit = {
      require(workload == "indexed_mix" || workload == "scan_decline", s"unknown workload $workload")
      readLoop(resid = workload == "scan_decline")
      indexMib = indexA.indexUsageBytes / 1048576.0
      upkeep(int("cycles"), int("compact_every"))
    }

    def report(): Unit = {
      val byFam = loopPhase.latencies.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
      val all = loopPhase.all
      if (!traced) {
        put("setup_s", setupS, "s")
        put("query_p50_ms", median(all), "ms")
        put("query_tail_ms", tail(all), "ms")
        put("queries_per_s", all.length / (all.sum / 1e3), "1/s")
        put("index_mib", indexMib, "MiB")
        // heap after the workload, the streaming query stopped, two full GCs
        System.gc(); System.gc()
        put("heap_mib", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MiB")
        put("refresh_rows_per_s", refreshRows.sum / refreshSecs.sum, "rows/s")
        put("rebuild_s", median(rebuildSecs), "s")
        put("save_s", median(saveSecs), "s")
        put("load_s", median(loadSecs), "s")
        put("index_file_mib", indexFileMib, "MiB")
      } else {
        Seq("spark.parse_ms", "spark.analyze_ms", "spark.optimize_ms", "spark.plan_ms",
          "spark.execute_ms", "rules.uwheel_ms", "expr.split_range_us",
          "wheel.count_us", "wheel.range_us", "wheel.group_hour_us", "wheel.topk_us",
          "wheel.hll_us", "wheel.hdr_us", "wheel.moment_us", "index.lookup_us",
          "index.fingerprint_ms", "streaming.trigger_ms", "streaming.add_batch_ms",
          "streaming.jobs_per_batch", "streaming.snapshot_ms").foreach { n =>
          val unit = n.substring(n.lastIndexOf('_') + 1) match {
            case "ms" => "ms"; case "us" => "us"; case _ => "count"
          }
          put(n, samples.get(n).map(median).getOrElse(Double.NaN), unit)
        }
        Families.filterNot(_ == "prune_empty").foreach { f =>
          put(s"rules.uwheel_ms.$f", samples.get(s"rules.uwheel_ms.$f").map(median)
            .getOrElse(Double.NaN), "ms")
        }
        put("rules.served_ratio", loopPhase.servedRatio, "ratio")
        put("rules.served_ratio.upkeep", upkeepPhase.servedRatio, "ratio")
        put("upkeep.query_p50_ms", median(upkeepPhase.all), "ms")
        put("trace.query_p50_ms", samples.get("trace.query_ms").map(median).getOrElse(Double.NaN), "ms")
        Families.filterNot(_ == "prune_empty").foreach { f =>
          put(s"family.$f.p50_ms", byFam.get(f).map(median).getOrElse(Double.NaN), "ms")
        }
        indexA.indexUsageBytesByFamily.toSeq.sortBy(_._1).foreach { case (f, b) =>
          if (b > 0) put(s"index.mib.$f", b / 1048576.0, "MiB")
        }
        Seq("spec", "fused", "fusedplan", "fusedexec", "topk").foreach { ph =>
          put(s"index.build.${ph}_s", coldPhases.collect {
            case (k, v) if k.takeWhile(_ != '_') == ph => v
          }.sum, "s")
        }
        put("index.build.cold_s", coldBuildS, "s")
        put("index.refresh_s", median(refreshSecs), "s")
        put("streaming.rows_per_s", streamRows.sum / streamSecs.sum, "rows/s")
        put("jvm.gc_ms.setup", setupGcMs - gc0, "ms")
        put("jvm.jit_ms.setup", setupJitMs - jit0, "ms")
        put("jvm.gc_ms.loop", loopGc1 - loopGc0, "ms")
        put("jvm.jit_ms.loop", loopJit1 - loopJit0, "ms")
      }
    }

    def write(): Unit = {
      val m = metrics.map { case (k, (v, u)) =>
        s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}"
      }.mkString("{", ",", "}")
      val out = s"""{"attempted":$attempted,"failed":$failed,"errors":""" +
        errors.map(jsonStr).mkString("[", ",", "]") + s""","metrics":$m}"""
      Files.write(Paths.get(args("out")), out.getBytes("UTF-8"))
      val w = Files.newBufferedWriter(Paths.get(args("answers")))
      try answers.values.foreach { case (rows, n, fields) =>
        w.write(s"""{$fields,"n":$n,"rows":$rows}"""); w.newLine()
      } finally w.close()
      if (traced) {
        val s = Files.newBufferedWriter(Paths.get(args("spans")))
        try spans.foreach { case (op, name, parent, t0, t1) =>
          s.write(s"""{"op":$op,"name":${jsonStr(name)},"parent":$parent,"start_ns":$t0,"end_ns":$t1}""")
          s.newLine()
        } finally s.close()
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val b = new Bench(args)
    try {
      b.run()
      b.mark("workload done")
      b.report()
      b.write()
      b.mark("written")
    } finally b.spark.stop()
  }
}

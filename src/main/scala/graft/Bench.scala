package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.{Q, WheelQueries}

/** Driver-run benchmark: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. For the wheel-indexed family it additionally
  * times the identical query with rewrites disabled (`*_scan` entries) — the
  * reference's headline comparison (indexed µs vs engine-scan ms,
  * BASELINE.md) — plus the one-off index build cost (`index_build`).
  *
  * Timing: one unmeasured warm-up, then the MEDIAN of 5 runs for sub-second
  * queries (timer noise is symmetric at that scale) and the MIN of 3 runs
  * for 1–10 s queries (every rep does identical full work, so min estimates
  * the query's own cost and is robust to multi-second background churn that
  * can capture a median); heavy queries (≥ 10 s on the first run) get ONE
  * settled rep and report the min of the two, so a cold first run crossing
  * the cutoff can't masquerade as the query's cost.
  *
  * Cross-query isolation: sub-10 s entries get an explicit GC pause between
  * warm-up and the timed reps. The bench runs alphabetically, so the whole
  * `q_*` family times right after the heavy `dd_*` dedup queries — whose
  * shuffle/GC debris otherwise bleeds into sub-second medians (round 4's
  * `q_except` benched 0.92 s inside the suite vs 0.38 s steady-state in
  * isolation, a 2.4× artifact of suite position, not the query).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // corpus derivation (orders_dated parquet) is setup, not index build —
    // and a derivation failure must not cost the whole bench its JSON line
    // (Q.ctx's own tryBuild re-attempts and logs; dated entries report -1)
    try { Q.derivedOrdersPath(spark, sfDir); Q.derivedLineitemDecPath(spark, sfDir) }
    catch { case e: Throwable => System.err.println(s"[graft] derive failed: ${e.getMessage}") }
    val t0 = System.nanoTime()
    graft.index.BuildPhases.clear()
    Q.ctx(spark, sfDir)
    val indexBuildSec = (System.nanoTime() - t0) / 1e9
    // Cold-build attribution (round-11 verdict task 1): the headline above
    // is a cold-JVM concurrent build the end-of-run sequential probes can't
    // decompose (they run warm — r11's +7.5 s was invisible to all of
    // them). Snapshot the per-table/per-phase wall-clock recorded INSIDE
    // this first build, then clear so later probe rebuilds don't
    // contaminate the cold numbers. Emitted as index_build_ctx_* in the
    // full record.
    val ctxPhases = graft.index.BuildPhases.snapshot()
    graft.index.BuildPhases.clear()

    // Steady-state timing, mirroring the reference's repeated-query p50
    // (`benchmarks/nyc_taxi_bench/src/main.rs:504-518`). Returns
    // (total, planning) seconds per entry — planning is DataFrame
    // construction + analysis + optimization + physical planning (forcing
    // `queryExecution.executedPlan`, which collect() then reuses), so
    // total − planning is pure execution. Recorded separately (round-7
    // verdict: the record could not distinguish rule plan-time growth from
    // execution drift). For wheel-rewritten queries the answer materializes
    // AT plan time (LocalRelation), so planning ≈ total there by design.
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      def run(): (Double, Double) = {
        val t = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan
        val tPlan = System.nanoTime()
        df.collect()
        ((System.nanoTime() - t) / 1e9, (tPlan - t) / 1e9)
      }
      val (first, firstPlan) = run() // warm-up: codegen compile, broadcast build, page cache
      if (first >= 10.0) {
        // one settled rep even for heavy entries: a COLD first run crossing
        // the cutoff must not be reported as the query's cost (q_corr
        // benched 13.6 s cold vs 1.3 s steady in round 6) — min() picks the
        // steady run, while a genuinely heavy query just confirms itself at
        // the price of one extra execution
        System.gc()
        Thread.sleep(200)
        val second = run()
        if (second._1 < first) second else (first, firstPlan)
      } else {
        // settle before timing: collect garbage left by the previous
        // (possibly much heavier) entry, and give the ContextCleaner a
        // beat to finish deleting the shuffle files that GC just released
        // — its disk churn otherwise lands on whichever entry runs next
        // (observed: the same query benching 2.7 s isolated and 12-16 s
        // in-suite, with DIFFERENT entries spiking on identical reruns)
        System.gc()
        Thread.sleep(200)
        val reps = if (first < 1.0) 5 else 3
        val runs = Array.fill(reps)(run()).sortBy(_._1)
        // sub-second: median of 5 (timer noise is symmetric at this scale).
        // 1-10 s: MIN of 3 — every rep performs identical full work (no
        // incremental caching), so min estimates the query's own cost and
        // is the standard interference-robust statistic; a median can still
        // be captured by multi-second cleaner churn spanning most reps.
        if (first < 1.0) runs(runs.length / 2) else runs(0)
      }
    }

    // SPARK_GRAFT_ONLY=q1,q2 restricts the run to those entries — the
    // isolation probe for separating a query's own cost from suite-position
    // effects (GC/shuffle debt of whatever ran before it alphabetically).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    // dd_cluster_keep times the CONTRACT query — its own full star fixpoint,
    // identical work every rep, like every other entry (round-6 advice: the
    // earlier bench-only substitution timed a memo hit and hid the fixpoint
    // cost from the record). The shared composition path is showcased under
    // its own name, dd_cluster_keep_shared: its warm-up pays the fixpoint
    // into the memo and the timed reps then measure the incremental
    // derivation cost — deliberately, because that IS the production shape
    // (membership materialized once, keep set derived from it), and the
    // separate name keeps both numbers comparable round-over-round.
    // Correctness of the shared derivation vs the contract query is
    // asserted by PipelineSemanticSpec.
    val benchFns = SparkEntry.queries +
      ("dd_cluster_keep_shared" -> (graft.queries.PipelineQueries.ddClusterKeepShared _))
    val results = mutable.LinkedHashMap.empty[String, Double]
    // planning-time share per entry, recorded as `plan_<name>` in the FULL
    // record only (the capped stdout contract line stays total-only)
    val planTimes = mutable.LinkedHashMap.empty[String, Double]
    def record(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try {
        val (tot, pl) = timeOne(fn)
        results(name) = tot
        planTimes("plan_" + name) = pl
      } catch { case _: Throwable => results(name) = -1.0 }
    // Counters start at the timed loop, not JVM start: the index build's
    // own SQL and the corpus derivation above would otherwise inflate the
    // "how much of the suite served from the index" numbers (each per-entry
    // warm-up run still counts — it IS the same query).
    graft.Graft.rewriteStats.reset()
    benchFns.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (selected(name)) record(name, fn)
    }
    // Same temporal queries with the wheel rule off: the full-scan baseline.
    Graft.rewritesEnabled = false
    try WheelQueries.defs.foreach { case (name, fn) =>
      if (selected(name + "_scan")) record(name + "_scan", fn)
    } finally Graft.rewritesEnabled = true
    // Snapshot the serve counters HERE — right after the timed suite, before
    // the probe/iso section re-runs rewritable pin-list queries (whose
    // membership changes round-over-round and would read as serve-count
    // drift; review finding) — and emit the values later with the probes.
    val rwSnap = graft.Graft.rewriteStats.snapshot
    results("index_build") = indexBuildSec

    // Attribution probes (round-6 verdict: the single index_build number
    // hid a 2.9× regression's cause): sequential REBUILDS of each build
    // family, timed in isolation. `index_build` above stays the comparable
    // round-over-round entry (the concurrent ctx build's wall-clock);
    // these probes attribute it. events is built twice — numeric-only
    // (count + min/max + 5 keyed wheels) and full (same scan + 2 HLL
    // register wheels) — so (full − numeric) prices the fused sketch
    // columns line-item without unfusing the scan. Probes run AFTER all
    // timed queries (re-registering an index must not disturb an entry)
    // and are excluded from `total` and from the capped stdout line, so
    // totals stay comparable across rounds; they appear only in the
    // BENCH_full record.
    val probes = mutable.LinkedHashMap.empty[String, Double]
    // Ablation builds run ROUND-ROBIN over the family list (round-14
    // verdict task 2): the old consecutive per-name min-of-2 let whichever
    // name ran FIRST eat the JVM/page-cache cold start, so (full − without)
    // measured suite ORDER, not family cost — r14 published physically
    // impossible negative costs (the no-HLL complement 3.72 s vs the full
    // build 1.98 s). Three rotations spread position effects evenly across
    // every name; each publishes its MEDIAN, and the per-name spread
    // (max − min across rotations) is kept so diffProbe can adjudicate a
    // residual negative diff as noise instead of printing it as a cost.
    // (numeric − numeric_nomillis) prices the ms bottom-level scan;
    // (events − numeric) prices the fused HLL register columns; the no<f>
    // complements price each sketch/moment family (round-9 task 3); the
    // full builds run LAST within each family so the registry ends every
    // rotation holding the full indexes the later read probes expect.
    val buildSpread = mutable.Map.empty[String, Double]
    // diffed = true: name feeds a diffProbe, so it gets all 3 rotations;
    // standalone provenance builds stop after 2 (the old rep count)
    val ablations: Seq[(String, Boolean, () => Unit)] = Seq[(String, Boolean, () => Any)](
      ("index_build_events_numeric_nomillis", true,
        () => Q.buildEvents(spark, sfDir, withDistinct = false, withMillis = false)),
      ("index_build_events_numeric", true, () => Q.buildEvents(spark, sfDir, withDistinct = false)),
      ("index_build_events_nofreq", true, () => Q.buildEvents(spark, sfDir, withFreq = false)),
      ("index_build_events_nomoment", true, () => Q.buildEvents(spark, sfDir, withMoments = false)),
      ("index_build_events_nohdr", true, () => Q.buildEvents(spark, sfDir, withQuantiles = false)),
      ("index_build_events_nohll", true, () => Q.buildEvents(spark, sfDir, withHll = false)),
      ("index_build_events_notopk", true, () => Q.buildEvents(spark, sfDir, withTopK = false)),
      ("index_build_events", true, () => Q.buildEvents(spark, sfDir)),
      ("index_build_lineitem_noexpr", true, () => Q.buildLineitem(spark, sfDir, withExpr = false)),
      ("index_build_lineitem_nomoment", true, () => Q.buildLineitem(spark, sfDir, withMoments = false)),
      ("index_build_lineitem_nohdr", true, () => Q.buildLineitem(spark, sfDir, withQuantiles = false)),
      ("index_build_lineitem", true, () => Q.buildLineitem(spark, sfDir)),
      ("index_build_orders_dated", false, () => Q.buildDatedOrders(spark, sfDir)),
      ("index_build_lineitem_dec", false, () => Q.buildDecLineitem(spark, sfDir)),
    ).collect { case (n, d, b) if selected(n) => (n, d, () => { b(); () }) }
    val buildThunks: Map[String, () => Unit] =
      ablations.map { case (n, _, b) => n -> b }.toMap
    val buildReps = mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val buildFailed = mutable.Set.empty[String]
    def runBuildOnce(name: String): Unit =
      if (!buildFailed(name)) buildThunks.get(name).foreach { b =>
        System.gc(); Thread.sleep(200)
        val t = System.nanoTime()
        // a failed build aborts that name (rerunning a doomed build only
        // multiplies the loss); valid earlier reps survive
        try { b(); buildReps(name) = ((System.nanoTime() - t) / 1e9) :: buildReps(name) }
        catch { case _: Throwable => buildFailed += name }
      }
    def publishBuild(name: String): Unit = {
      val ts = buildReps(name).sorted
      if (ts.isEmpty) probes(name) = -1.0
      else {
        // 3+ reps → median; the 2-rep provenance builds keep the old
        // min-of-2 estimator so their round-over-round series stays
        // comparable (an upper median would read as drift)
        probes(name) = if (ts.size >= 3) ts(ts.size / 2) else ts.head
        buildSpread(name) = ts.last - ts.head
      }
    }
    locally {
      var round = 0
      while (round < 3) {
        ablations.foreach { case (name, diffed, _) =>
          if (diffed || round < 2) runBuildOnce(name)
        }
        round += 1
      }
      ablations.foreach { case (name, _, _) => publishBuild(name) }
    }

    // Differential probes AS recorded quantities (round-12 task 8): the raw
    // complement builds swing ~2x on suite position, so a complement-probe
    // move (r12: lineitem_noexpr 1.11 -> 2.03 with the full build flat) can
    // read as a regression. Recording full - without under a `_cost_` name
    // labels what each differential prices; the complements stay in the
    // record for provenance. A NEGATIVE diff is never published bare
    // (round-14 verdict task 2 — it would claim dropping a family slows
    // the build): the cost floors at 0, and the MAGNITUDE of the negative
    // diff (`_negdiff`, positive — the record's num() collapses negatives
    // to the failed-probe sentinel) plus the larger of the two rotation
    // spreads land next to it as the noise adjudication: negdiff ≤ band
    // says the family's cost is below measurement noise at this corpus.
    // A negative diff whose magnitude EXCEEDS the band is unresolved —
    // neither a cost nor provably noise — so it ESCALATES: up to two extra
    // adjacent alternations of just that pair widen the rep set until the
    // cost resolves non-negative or the measured spread covers the diff
    // (round-15 self-finding: the first records left two such orphans).
    val escalatedBuilds = mutable.Set.empty[String]
    def diffProbe(name: String, full: String, without: String): Unit = {
      def d: Option[Double] =
        for (a <- probes.get(full); b <- probes.get(without) if a >= 0 && b >= 0)
          yield a - b
      def band: Double =
        buildSpread.getOrElse(full, 0.0).max(buildSpread.getOrElse(without, 0.0))
      var tries = 0
      while (tries < 2 && d.exists(x => x < 0 && -x > band)) {
        runBuildOnce(without); runBuildOnce(full)
        publishBuild(without); publishBuild(full)
        escalatedBuilds += without; escalatedBuilds += full
        tries += 1
      }
      d.foreach { x =>
        if (x >= 0) probes(name) = x
        else {
          probes(name) = 0.0
          probes(name + "_negdiff") = -x
          probes(name + "_noise_band") = band
        }
      }
    }
    diffProbe("index_build_cost_millis",
      "index_build_events_numeric", "index_build_events_numeric_nomillis")
    diffProbe("index_build_cost_hll", "index_build_events", "index_build_events_nohll")
    diffProbe("index_build_cost_freq", "index_build_events", "index_build_events_nofreq")
    diffProbe("index_build_cost_moment", "index_build_events", "index_build_events_nomoment")
    diffProbe("index_build_cost_hdr", "index_build_events", "index_build_events_nohdr")
    diffProbe("index_build_cost_topk", "index_build_events", "index_build_events_notopk")
    diffProbe("index_build_cost_expr", "index_build_lineitem", "index_build_lineitem_noexpr")
    // escalations leave whichever VARIANT ran last registered for its
    // table — restore the FULL indexes the later read probes (bucket_read,
    // topk) and iso pins expect, untimed so the published stats stay pure
    if (escalatedBuilds.exists(_.startsWith("index_build_events")))
      buildThunks.get("index_build_events").foreach(_.apply())
    if (escalatedBuilds.exists(_.startsWith("index_build_lineitem")))
      buildThunks.get("index_build_lineitem").foreach(_.apply())

    // Per-bucket read microbench (round-9 task 1: the record must carry the
    // per-bucket cost, not leave it inferred from query medians): one
    // sparse bucketized sweep of the full ms wheel at the uw_window_subsec
    // shape (1 s member / 500 ms stride), reported as µs per NON-EMPTY
    // bucket. Target ≤ 5 µs/bucket; measured ~0.03 µs (the sweep is
    // O(active slots + non-empty buckets), not O(grid positions)).
    if (only.isEmpty) try {
      graft.index.WheelRegistry.lookup(s"$sfDir/events.parquet")
        .flatMap(_.msWheel(Some("value"))).foreach { iw =>
          val hw = iw.wheel
          hw.bucketize(hw.startSec, hw.endSec, 500, 0, 1000) // warm-up
          val t0 = System.nanoTime()
          val res = hw.bucketize(hw.startSec, hw.endSec, 500, 0, 1000)
          val dt = System.nanoTime() - t0
          probes("bucket_read_us") = dt / 1e3 / math.max(1, res.length)
          probes("bucket_read_nonempty") = res.length.toDouble
        }
    } catch {
      // NonFatal only, with a sentinel + stderr line: a broken probe must
      // be visible in the record, not indistinguishable from a deliberately
      // absent measurement (round-10 advice). OOM/LinkageError propagate.
      case scala.util.control.NonFatal(e) =>
        probes("bucket_read_us") = -1.0
        System.err.println(s"[graft] bucket_read probe failed: $e")
    }

    // bloom_contains probe microbench (round-14 task 6): ns per membership
    // probe through the hot-path pair the hoisted codegen emits — validate
    // ONCE, then containsUnchecked per row (k masked reads, no header
    // compares). This is the per-row cost the 100 TB corpus side pays
    // inside the decontamination filter's codegen span.
    if (only.isEmpty) try {
      val blob = graft.functions.BloomBlob.alloc(1 << 20, 5)
      var i = 0L
      while (i < 100000L) {
        graft.functions.BloomBlob.add(blob, graft.functions.BloomBlob.mix(i)); i += 1
      }
      graft.functions.BloomBlob.validate(blob)
      def sweep(n: Long): Long = { // hit count keeps the loop un-eliminable
        var hits = 0L; var j = 0L
        while (j < n) {
          if (graft.functions.BloomBlob.containsUnchecked(blob, j)) hits += 1
          j += 1
        }
        hits
      }
      sweep(1000000L) // JIT warm-up
      System.gc(); Thread.sleep(200)
      val t0 = System.nanoTime()
      val hits = sweep(10000000L)
      probes("bloom_probe_ns") = (System.nanoTime() - t0) / 1e7
      probes("bloom_probe_hits") = hits.toDouble
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("bloom_probe_ns") = -1.0
        System.err.println(s"[graft] bloom_probe microbench failed: $e")
    }

    // Certified heavy-hitter read (round-10 task 3): µs per topK() over the
    // contract week via the coarse-first descend path — the per-second
    // linear fold this replaced read ~290 ms at sf0.1. Reported per READ
    // (the read touches O(active coarse slots), here ~7 day slots).
    if (only.isEmpty) try {
      graft.index.WheelRegistry.lookup(s"$sfDir/events.parquet")
        .flatMap(_.topKWheel("user_id")).foreach { tw =>
          tw.topK(1704412800L, 1705017600L, 5) // warm: lazy level rollup
          // settle like every other probe: this is a µs-scale measurement
          // and suite GC debris otherwise captures it (r12: 6.3 ms in-suite
          // vs 0.9 ms isolated for identical code)
          System.gc(); Thread.sleep(200)
          val t0 = System.nanoTime()
          var j = 0
          while (j < 200) { tw.topK(1704412800L, 1705017600L, 5); j += 1 }
          probes("topk_read_us") = (System.nanoTime() - t0) / 1e3 / 200
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("topk_read_us") = -1.0
        System.err.println(s"[graft] topk_read probe failed: $e")
    }

    // Streaming gate state bound (round-12 task 6): replay an adversarial
    // band-key stream — ONE bucket fed 50,000 ids (>6000x the cap) next to
    // 100 healthy buckets of 2 — through the ingest gate and record the
    // state store's row count and bytes from the query progress. The gate
    // keeps one state row per (band, bk) bucket holding <= cap+1 longs
    // (prospective freeze), so rows <= buckets and bytes stay O(buckets *
    // cap) no matter how hot the hot bucket runs; an unbounded collect
    // would hold 50k longs (~400 KB) in the hot row alone and blow the
    // asserted ceiling. gate_state_ok = 1 iff both bounds hold.
    // ONE replay body for both provider probes (review finding: two
    // hand-synced copies let the record's "same replay" claim drift):
    // returns (state rows, state bytes, provider-reported-rocksdb).
    val gateCap = 8
    val gateHealthyBuckets = 100
    val gateBucketCount = gateHealthyBuckets + 1
    // Micro-batch scheduling profile (round-19, verdict item 7): jobs per
    // trigger, counted by a listener scoped to the replay — the streaming
    // batch-path cost the state-bound probes never measured. A per-trigger
    // broadcast/collect rebuild (the batch-ANN scheduling problem) would
    // show here as a high constant before any latency drifts.
    def jobsPerTrigger(session: org.apache.spark.sql.SparkSession)(
        replay: => org.apache.spark.sql.streaming.StreamingQuery): Double = {
      val jc = new java.util.concurrent.atomic.AtomicInteger()
      val jl = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jc.incrementAndGet(); ()
        }
      }
      session.sparkContext.addSparkListener(jl)
      try {
        val q = replay
        Thread.sleep(300) // listener bus drain
        val triggers = math.max(1, q.recentProgress.count(_.numInputRows > 0))
        jc.get.toDouble / triggers
      } finally session.sparkContext.removeSparkListener(jl)
    }
    def gateReplay(
        session: org.apache.spark.sql.SparkSession): (Double, Double, Boolean, Double) = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
      import session.implicits._
      val hot = (0 until 50000).map(i => (100000L + i, 0, -1L))
      val healthy = (0 until gateHealthyBuckets).flatMap(b =>
        Seq((b * 2L, 1, b.toLong), (b * 2L + 1, 1, b.toLong)))
      val input = MemoryStream[(Long, Int, Long)]
      val gated = graft.streaming.StreamingNearDup.candidatesFromBandKeys(
        input.toDF().toDF("id", "band", "bk"), maxBucket = gateCap)
      val q = gated.toDF("i", "j").writeStream
        .format("noop").outputMode("update").start()
      try {
        val jpt = jobsPerTrigger(session) {
          input.addData(hot ++ healthy)
          q.processAllAvailable()
          q
        }
        val so = q.lastProgress.stateOperators
        (so.map(_.numRowsTotal).sum.toDouble,
          so.map(_.memoryUsedBytes).sum.toDouble,
          so.flatMap(_.customMetrics.keySet().toArray.map(_.toString))
            .exists(_.toLowerCase.contains("rocksdb")),
          jpt)
      } finally q.stop()
    }

    if (only.isEmpty) try {
      val (rows, bytes, _, jpt) = gateReplay(spark)
      probes("gate_state_rows") = rows
      probes("gate_state_bytes") = bytes
      probes("gate_jobs_per_trigger") = jpt
      probes("gate_state_rows_bound") = gateBucketCount.toDouble
      probes("gate_state_ok") =
        if (rows <= gateBucketCount &&
            bytes <= gateBucketCount * ((gateCap + 1) * 8 + 2048).toDouble)
          1.0 else -1.0
      if (probes("gate_state_ok") < 0)
        System.err.println(
          s"[graft] GATE STATE BOUND BROKEN: rows=$rows bytes=$bytes (buckets=$gateBucketCount cap=$gateCap)")
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("gate_state_ok") = -1.0
        System.err.println(s"[graft] gate_state probe failed: $e")
    }

    // The same adversarial replay under the RocksDB state-store provider —
    // the recommended PRODUCTION config (round-13 task 5; see the config
    // block on [[graft.streaming.StreamingNearDup]]): state lives on
    // executor-local disk instead of the heap, so 100 TB-cardinality key
    // sets stop being an executor OOM class. The per-bucket ROW bound must
    // hold identically (one state row per (band, bk)); bytes are recorded
    // for observability but not ceiling-checked — RocksDB's memory
    // accounting includes block cache + memtables, a fixed overhead the
    // heap provider's per-row accounting doesn't carry.
    if (only.isEmpty) try {
      val rocks = spark.newSession()
      rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val (rows, bytes, onRocks, jpt) = gateReplay(rocks)
      probes("gate_state_rocksdb_rows") = rows
      probes("gate_state_rocksdb_bytes") = bytes
      probes("gate_rocksdb_jobs_per_trigger") = jpt
      probes("gate_state_rocksdb_ok") =
        if (onRocks && rows <= gateBucketCount) 1.0 else -1.0
      if (probes("gate_state_rocksdb_ok") < 0)
        System.err.println(s"[graft] ROCKSDB GATE STATE BOUND BROKEN: " +
          s"rows=$rows onRocks=$onRocks (buckets=$gateBucketCount cap=$gateCap)")
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("gate_state_rocksdb_ok") = -1.0
        System.err.println(s"[graft] gate_state_rocksdb probe failed: $e")
    }

    // Index memory per table (MiB) — keeps the "sparse wheels stay within
    // the reference's order" claim (BASELINE gate 3) measurable
    // round-over-round instead of asserted once in the README
    if (only.isEmpty) try {
      Seq("events", "lineitem", "orders", "lineitem_dec").foreach { t =>
        graft.index.WheelRegistry.lookup(s"$sfDir/$t.parquet").foreach { ti =>
          val byFam = ti.indexUsageBytesByFamily
          probes(s"index_mib_$t") = byFam.values.sum / 1048576.0
          // per-family attribution (round-11 task 4): names which family
          // grew when the total drifts; events only — the one table that
          // carries every family
          if (t == "events") byFam.toSeq.sortBy(_._1).foreach { case (fam, b) =>
            probes(s"index_mib_${t}_$fam") = b / 1048576.0
          }
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("index_mib_failed") = -1.0
        System.err.println(s"[graft] index_mib probe failed: $e")
    }

    // Isolation pins (round-7 verdict: suite-position effects — GC/shuffle
    // debt of whatever ran alphabetically before an entry — were
    // indistinguishable from real drift in the record). Five headline
    // queries re-timed at the very END of the run after a deep settle, when
    // no heavy neighbor has run for minutes: the in-record equivalent of a
    // SPARK_GRAFT_ONLY probe. `iso_x / x` ≫ or ≪ 1 attributes suite noise;
    // ≈ 1 says the in-suite number was the query's own cost.
    // ann_topk + dd_embed_lsh joined round 11: their r9→r10 deltas had no
    // pin to attribute (verdict task 4), so suite noise was unfalsifiable
    // round-12: + the six unpinned r11 scan-side drifts (verdict task 3) —
    // q_cube/q_time_band_join/q_sessionize/q1_pricing/txt_lang_id and the
    // rule-off twin uw_groupby_hour_scan, timed with rewrites disabled
    // round-12 second run: + ann_ivf (0.96 → 1.19-1.38 across r12 runs with
    // no code change — the one upward mover without a pin to adjudicate it)
    // round-13: + the recurring r13 drifters txt_fingerprint and q_mode
    // (verdict task 4; q_pivot was already pinned) — plus the rule-off
    // twin uw_li_groupby_month_scan below, next to uw_groupby_hour_scan
    // round-19 (verdict item 1b): + dd_shingle_jaccard — the r18
    // contamination canary (12.44 s in the poisoned 32-core run vs 1.0-1.9 s
    // everywhere else, on code untouched that round) had no pin to
    // adjudicate it in-record
    val isoPins = Seq("uw_count_range", "uw_window_sliding", "q3_topk", "q_pivot",
      "dd_cluster", "ann_topk", "dd_embed_lsh", "ann_ivf",
      "q_cube", "q_time_band_join", "q_sessionize", "q1_pricing", "txt_lang_id",
      "txt_fingerprint", "q_mode", "dd_shingle_jaccard")
    // rule-off twins re-pinned in isolation; round-19 adds uw_groupby_yearint
    // (its scan twin was ~1.0 s in BOTH r18 driver runs vs 0.43 s r17 with no
    // code change and no pin to adjudicate — verdict item 1b)
    val scanPins = Seq("uw_groupby_hour", "uw_li_groupby_month",
      "uw_groupby_month", "uw_revenue_monthly", "uw_year_eq", "uw_groupby_yearint")
    if (only.isEmpty) {
      System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(500)
      isoPins.foreach { name =>
        benchFns.get(name).foreach { fn =>
          try {
            val (tot, pl) = timeOne(fn)
            probes("iso_" + name) = tot
            probes("iso_plan_" + name) = pl
          } catch { case _: Throwable => probes("iso_" + name) = -1.0 }
        }
      }
      // rule-off twins re-timed in isolation (uw_li_groupby_month_scan
      // joined round 14: 2.07× drift in r13 with no pin to adjudicate it;
      // uw_groupby_month + uw_revenue_monthly joined round 15: their r14
      // scan twins drifted 1.30×/1.20× with no pin — verdict task 7;
      // uw_year_eq joined round 16: its scan twin moved 1.78× in r15, the
      // round's only unpinned >1.5× drift — verdict task 4)
      scanPins.foreach { base =>
        WheelQueries.defs.toMap.get(base).foreach { fn =>
          Graft.rewritesEnabled = false
          try {
            val (tot, pl) = timeOne(fn)
            probes(s"iso_${base}_scan") = tot
            probes(s"iso_plan_${base}_scan") = pl
          } catch { case _: Throwable => probes(s"iso_${base}_scan") = -1.0 }
          finally Graft.rewritesEnabled = true
        }
      }
      // raw top-k read re-pinned after the deep settle (round-16 verdict
      // task 5: topk_read_us moved 191 → 269 µs with the environment and
      // — at ~300× the other raw-layer probes — had no isolation twin to
      // adjudicate the next drift). Identical loop to the in-suite probe.
      try {
        graft.index.WheelRegistry.lookup(s"$sfDir/events.parquet")
          .flatMap(_.topKWheel("user_id")).foreach { tw =>
            tw.topK(1704412800L, 1705017600L, 5)
            System.gc(); Thread.sleep(200)
            val t0 = System.nanoTime()
            var j = 0
            while (j < 200) { tw.topK(1704412800L, 1705017600L, 5); j += 1 }
            probes("iso_topk_read_us") = (System.nanoTime() - t0) / 1e3 / 200
          }
      } catch {
        case scala.util.control.NonFatal(e) =>
          probes("iso_topk_read_us") = -1.0
          System.err.println(s"[graft] iso topk_read probe failed: $e")
      }
      // In-record noise verdict (round-18 verdict item 1b): the r18
      // ground-truth 32-core run was contaminated by host churn and only
      // after-the-fact forensics (an 8-core re-run, manual iso/in-suite
      // comparison) showed it. The pins exist precisely to measure that;
      // this reduces them to ONE key: noise_ratio = median over the pinned
      // set of iso_x / x (end-of-run settled re-time ÷ in-suite time).
      // ≈ 1 certifies the suite numbers as the queries' own cost; ≪ 1
      // (r18's poisoned run would have read ~0.5) says the in-suite numbers
      // were captured by background churn and the run's per-entry values
      // should not be diffed round-over-round.
      val noiseRatios = (
        isoPins.map(n => (results.get(n), probes.get("iso_" + n))) ++
        scanPins.map(b => (results.get(b + "_scan"), probes.get(s"iso_${b}_scan")))
      ).collect { case (Some(x), Some(iso)) if x > 0 && iso > 0 => iso / x }.sorted
      if (noiseRatios.nonEmpty) {
        probes("noise_ratio") = noiseRatios(noiseRatios.length / 2)
        probes("noise_pins_n") = noiseRatios.length.toDouble
      }
    }

    // Index save/load lifecycle (round-15 verdict task 7): the restart-to-
    // first-answer cost a service operator plans around. Serialize the
    // FULL events index (the ~97 MiB all-families one), drop it from the
    // registry — the restart boundary — reload through WheelIndexIO.load,
    // and prove the loaded index SERVES by plan shape (LocalRelation), not
    // just deserializes. index_load_sec + the per-query indexed floor IS
    // restart-to-first-answer; a registry re-register leaves later probes
    // identical to the pre-save state. Runs AFTER the isolation pins:
    // they adjudicate round-over-round drift and must keep timing the
    // ORIGINAL in-memory index, not a just-deserialized equivalent (the
    // first r16 runs placed this before the pins, adding a deserialize
    // variable to the one instrument built to exclude variables).
    if (only.isEmpty) graft.index.WheelRegistry.lookup(s"$sfDir/events.parquet")
      .foreach { ti =>
        val f = java.nio.file.Files.createTempFile("graft-bench-idx", ".wheelidx")
        try {
          System.gc(); Thread.sleep(200)
          val t0 = System.nanoTime()
          graft.index.WheelIndexIO.save(ti, f.toString)
          probes("index_save_sec") = (System.nanoTime() - t0) / 1e9
          probes("index_file_mib") = java.nio.file.Files.size(f) / 1048576.0
          graft.index.WheelRegistry.deregister(s"$sfDir/events.parquet")
          val t1 = System.nanoTime()
          val (_, fresh) = graft.index.WheelIndexIO.load(spark, f.toString)
          probes("index_load_sec") = (System.nanoTime() - t1) / 1e9
          val df = WheelQueries.defs.toMap.apply("uw_count_range")(spark, sfDir)
          val serves = df.queryExecution.optimizedPlan.collectFirst {
            case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
          }.isDefined
          probes("index_load_serves") = if (fresh && serves) 1.0 else -1.0
          if (probes("index_load_serves") < 0)
            System.err.println(
              s"[graft] LOADED INDEX DOES NOT SERVE (fresh=$fresh serves=$serves)")
        } catch {
          case scala.util.control.NonFatal(e) =>
            // sentinel ONLY the stages that did not complete — an already-
            // recorded save measurement is valid and stays (review finding)
            Seq("index_save_sec", "index_load_sec", "index_load_serves")
              .foreach(k => if (!probes.contains(k)) probes(k) = -1.0)
            System.err.println(s"[graft] index save/load probe failed: $e")
        } finally {
          java.nio.file.Files.deleteIfExists(f)
          // the probe deregistered the live index before loading; if the
          // load (or anything after) failed, every later probe/iso pin
          // would silently time UNINDEXED scans recorded as indexed
          // measurements — restore the original index unconditionally
          // when the loaded one didn't make it back in (review finding)
          if (graft.index.WheelRegistry.lookup(s"$sfDir/events.parquet").isEmpty)
            graft.index.WheelRegistry.register(ti)
        }
      }

    // Per-family load attribution (round-16 verdict task 7): index_load_sec
    // is one monolithic readObject, so a drift in it names no family. Here
    // each family's wheel list is serialized alone to memory and ITS
    // deserialization timed — disk excluded on purpose (the 45 MiB file
    // reads at NVMe speed; the ~12 MiB/s effective rate is CPU-bound object
    // graph reconstruction). The sum approximates the monolithic load minus
    // registry re-normalization; the dominant key is the optimization
    // target, per the "measure before optimizing" discipline.
    if (only.isEmpty) graft.index.WheelRegistry.lookup(s"$sfDir/events.parquet")
      .foreach { ti =>
        try {
          graft.index.WheelFamily.all.filterNot(_ == graft.index.WheelFamily.Millis)
            .map(f => (f.name, ti.all(f))).foreach { case (fam, ws) =>
            val bos = new java.io.ByteArrayOutputStream()
            val oos = new java.io.ObjectOutputStream(bos)
            oos.writeObject(ws.toList); oos.close()
            val bytes = bos.toByteArray
            System.gc(); Thread.sleep(100)
            val t0 = System.nanoTime()
            new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
              .readObject()
            probes(s"index_load_sec_$fam") = (System.nanoTime() - t0) / 1e9
            probes(s"index_ser_mib_$fam") = bytes.length / 1048576.0
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            probes("index_load_sec_family_failed") = -1.0
            System.err.println(s"[graft] per-family load attribution failed: $e")
        }
      }

    // ANN index lifecycle (round-16 verdict task 3): the residual-PQ
    // tier's restart-to-first-answer, the WheelIndexIO probe's shape
    // applied to AnnIndexIO. ann_save_sec = full build (hierarchy +
    // codebook + corpus encode) + parquet writes; ann_load_sec = meta +
    // artifact load INCLUDING materializing the codes scan (count);
    // ann_serve_sec = one top-5 search from the loaded artifacts;
    // ann_load_serves = 1 only when the loaded index is FRESH and the
    // served pairs are value-identical to the from-scratch pipeline.
    if (only.isEmpty) try {
      val annDir = java.nio.file.Files.createTempDirectory("graft-bench-ann")
      try {
        val corpus = s"$sfDir/embeddings.parquet"
        System.gc(); Thread.sleep(200)
        val t0 = System.nanoTime()
        graft.queries.AnnIndexIO.save(spark, annDir.toString, corpus)
        probes("ann_save_sec") = (System.nanoTime() - t0) / 1e9
        val duStream = java.nio.file.Files.walk(annDir)
        val duBytes =
          try duStream.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally duStream.close()
        probes("ann_index_mib") = duBytes / 1048576.0
        val t1 = System.nanoTime()
        val (art, meta) = graft.queries.AnnIndexIO.load(spark, annDir.toString)
        art.codes.count()
        probes("ann_load_sec") = (System.nanoTime() - t1) / 1e9
        val e = graft.queries.SimilarityQueries.vecsOf(spark.read.parquet(corpus))
        probes("ann_nprobe_cal") = meta.nprobeCal.toDouble
        probes("ann_nprobe_formula") =
          graft.queries.SimilarityQueries.nprobeFor(meta.n).toDouble
        val t2 = System.nanoTime()
        val served = graft.queries.SimilarityQueries.rpqSearch(art, e)
          .collect().map(_.toString).sorted.toSeq
        probes("ann_serve_sec") = (System.nanoTime() - t2) / 1e9
        // parity at the index's own operating point: persistence must
        // change nothing, so the inline pipeline runs at the SAME
        // calibrated nprobe the loaded index serves at
        val inline = graft.queries.SimilarityQueries.rpqSearch(
          graft.queries.SimilarityQueries.rpqArtifactsOf(e, meta.n)
            .copy(nprobeCal = Some(meta.nprobeCal)), e)
          .collect().map(_.toString).sorted.toSeq
        probes("ann_load_serves") =
          if (graft.queries.AnnIndexIO.isFresh(spark, meta) && served == inline) 1.0
          else -1.0
        if (probes("ann_load_serves") < 0)
          System.err.println("[graft] LOADED ANN INDEX DOES NOT SERVE EXACTLY")
      } finally {
        val ds = java.nio.file.Files.walk(annDir)
        try ds.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally ds.close()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        Seq("ann_save_sec", "ann_index_mib", "ann_load_sec", "ann_serve_sec",
            "ann_load_serves")
          .foreach(k => if (!probes.contains(k)) probes(k) = -1.0)
        System.err.println(s"[graft] ann index lifecycle probe failed: $e")
    }

    // Streaming ANN gate state under the RocksDB provider (round-17 verdict
    // task 2): ingest the full embeddings corpus through StreamingAnnTopK
    // and record the state store's rows/bytes — the gate_state_rocksdb_*
    // discipline for the one stateful operator that lacked measured keys.
    // The row bound is structural: one state row per NON-EMPTY bucket,
    // ≤ the fine-centroid count (~√n), regardless of corpus size; bytes are
    // recorded for observability (RocksDB's accounting carries block-cache/
    // memtable overhead, like gate_state_rocksdb_bytes). The 32·n-byte code
    // payload (id + 16-byte code + norm per ingested vector) rides along so
    // the record shows how far the provider's overhead sits above the
    // irreducible compressed scan tier.
    if (only.isEmpty) try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rocks = spark.newSession()
      rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      rocks.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      graft.Graft.registerFunctions(rocks)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = rocks.sqlContext
      import rocks.implicits._
      val annCorpus = rocks.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val annN = annCorpus.count()
      val annE = graft.queries.SimilarityQueries.vecsOf(annCorpus)
      val fz = graft.streaming.StreamingAnnTopK.freeze(
        graft.queries.SimilarityQueries.rpqArtifactsOf(annE, annN))
      val arrivals = annCorpus.as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
      val input = MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.StreamingAnnTopK.topKCandidates(
          input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", fz, 5)
        .toDF("qi", "xi", "asim")
        .writeStream.format("noop").outputMode("update").start()
      try {
        val jpt = jobsPerTrigger(rocks) {
          input.addData(arrivals)
          q.processAllAvailable()
          q
        }
        probes("ann_gate_jobs_per_trigger") = jpt
        val so = q.lastProgress.stateOperators
        val srows = so.map(_.numRowsTotal).sum.toDouble
        val sbytes = so.map(_.memoryUsedBytes).sum.toDouble
        val onRocks = so.flatMap(_.customMetrics.keySet().toArray.map(_.toString))
          .exists(_.toLowerCase.contains("rocksdb"))
        probes("ann_gate_state_rows") = srows
        probes("ann_gate_state_bytes") = sbytes
        probes("ann_gate_state_rows_bound") = fz.fineIds.length.toDouble
        probes("ann_gate_state_code_bytes") = annN * (8.0 + fz.m + 8.0)
        probes("ann_gate_state_ok") =
          if (onRocks && srows <= fz.fineIds.length) 1.0 else -1.0
        if (probes("ann_gate_state_ok") < 0)
          System.err.println(s"[graft] ANN GATE STATE BOUND BROKEN: " +
            s"rows=$srows onRocks=$onRocks (buckets=${fz.fineIds.length})")
      } finally q.stop()
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("ann_gate_state_ok") = -1.0
        System.err.println(s"[graft] ann_gate_state probe failed: $e")
    }

    // how much of the suite actually served from the index, from the
    // production observability counters (snapshotted right after the timed
    // suite, above) — a rewrite-arm regression (a gate accidentally
    // tightened) would show here as a falling serve count before any
    // latency drifts enough to notice
    rwSnap.foreach { case (k, v) => probes(s"rewrites_$k") = v.toDouble }
    // ledger reconciliation (round-12 task 8): every counted pass rewrote
    // >= 1 arm, so arms - plans must be >= 0; a NEGATIVE value is the
    // signature of a future arm that rewrites without incrementing its
    // counter, and is loudly flagged rather than silently recorded
    val armsMinusPlans =
      rwSnap("agg") + rwSnap("prune") + rwSnap("topk") - rwSnap("plans")
    probes("rewrites_arms_minus_plans") = armsMinusPlans.toDouble
    if (armsMinusPlans < 0)
      System.err.println(s"[graft] REWRITE LEDGER BROKEN: arms - plans = $armsMinusPlans < 0")

    // The optimizer's no-match tax (round-12 task 4): what does UWheelRule
    // itself cost on a plan it cannot rewrite, measured at the END of the
    // suite when the registry is at its largest? Timed by applying the rule
    // directly to a wheel-less query's optimized plan (ann_ivf — the query
    // whose in-suite planning drifted in r12). Per-query planning medians
    // include all of Catalyst; this isolates OUR rule's share of it.
    if (only.isEmpty) try {
      val df = SparkEntry.queries("ann_ivf")(spark, sfDir)
      val plan = df.queryExecution.optimizedPlan
      var k = 0
      while (k < 50) { graft.rules.UWheelRule(plan); k += 1 } // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < 500) { graft.rules.UWheelRule(plan); i += 1 }
      probes("plan_nomatch_us") = (System.nanoTime() - t0) / 1e3 / 500
    } catch {
      case scala.util.control.NonFatal(e) =>
        probes("plan_nomatch_us") = -1.0
        System.err.println(s"[graft] plan_nomatch probe failed: $e")
    }

    // machine-parsed output: format under Locale.ROOT so a comma-decimal
    // default locale can't produce invalid JSON
    def num(v: Double): String =
      if (v < 0) "-1"
      else {
        // sub-10ms values (indexed floors, plan-time shares) keep 0.1 ms
        // resolution — at %.3f a 2 ms plan share and a 4 ms one both read
        // as noise, defeating the plan-vs-exec attribution
        val fmt = if (v >= 100) "%.1f" else if (v >= 10) "%.2f"
                  else if (v >= 0.01) "%.3f" else "%.4f"
        String.format(java.util.Locale.ROOT, fmt, Double.box(v))
      }
    def line(entries: Seq[(String, String)], total: Double): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    }
    val total = results.values.filter(_ >= 0).sum

    // Full detail for humans/logs — prefixed so the driver's `^{` JSON-line
    // match never picks it up. Includes the attribution probes; `total`
    // deliberately does not.
    ctxPhases.toSeq.sortBy(_._1).foreach { case (k, v) =>
      probes(s"index_build_ctx_$k") = v
    }
    val fullLine = line((results ++ planTimes ++ probes).toSeq.map { case (k, v) => k -> num(v) }, total)
    println("BENCH_FULL " + fullLine)
    // ... and persisted to the repo so every entry stays comparable
    // round-over-round even though the stdout contract line is capped
    // (round-5 verdict: the cap folded 64 of ~100 entries into other_sec,
    // blinding the per-query diff). Round number from SPARK_GRAFT_ROUND,
    // else 1 + the highest driver BENCH_r{N}.json present
    // ([[graft.tools.BenchRound]]); a FULL bench re-run within a round
    // overwrites its own file (freshest numbers), but a SPARK_GRAFT_ONLY
    // probe run must not clobber the full round record with its subset.
    if (only.isEmpty) try {
      val repo = new java.io.File(".").getCanonicalFile
      val round = graft.tools.BenchRound.current
      val path = new java.io.File(repo, f"BENCH_full_r$round%02d.json").toPath
      java.nio.file.Files.write(path, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[graft] bench dump failed: ${e.getMessage}") }

    // The driver keeps only the LAST 2000 chars of stdout and parses the JSON
    // line out of that window; sbt prints ~75 chars of `[success] Total time`
    // after us. Round 3's 84-entry line (~2150 chars) overflowed the window
    // and benched as `parsed: null`. Guarantee the contract line fits by
    // folding the rest into an `other_sec`/`other_n` pair.
    //
    // Round-19 (verdict item 1a): membership is a FIXED list. The old fold
    // picked victims by smallest |value| until the line fit — and because
    // the uw family alone renders at ~3000 chars against a 1750 cap, WHICH
    // uw entries survived depended on each run's timing noise (r18: 9
    // entries "dropped" from the line and 9 "new", all fold artifacts,
    // blinding the driver's round-over-round diff). The fixed list is the
    // r18 contract line's exact membership minus its two longest
    // *_check_scan twins — the line budget arithmetic: 52 entries rendered
    // at 1748/1750 chars, so value-INDEPENDENT membership (every value
    // budgeted at its 6-char worst case, 0.0001–9999.9 s) plus the
    // noise_ratio key needs ~75 chars back, and the two longest twin names
    // free 85. The two folded twins (and every non-uw entry, as before)
    // stay in BENCH_full_r*.json and the oracle gate — nothing is dropped
    // from the bench, only from the capped stdout rendering. No membership
    // decision reads a measured value.
    val cap = 1750
    val contractKeep: Seq[String] = Seq(
      "uw_distinct_bytype_check", "uw_distinct_daily_check",
      "uw_distinct_multigroupby_check", "uw_distinct_sliding_check",
      "uw_freq_daily_check", "uw_quantile_bytype_check",
      "uw_quantile_daily_check", "uw_revenue_p90_check",
      "uw_groupby_hour_scan", "uw_groupby_second_scan", "uw_groupby_day_scan",
      "uw_groupby_week_scan", "uw_groupby_month_scan", "uw_groupby_date_scan",
      "uw_keyed_groupby_scan", "uw_prune_time_scan", "uw_li_groupby_month_scan",
      "uw_li_groupby_year_scan", "uw_date_groupby_scan", "uw_trunc_eq_empty_scan",
      "uw_year_eq_scan", "uw_or_ranges_scan", "uw_or_groupby_scan",
      "uw_having_scan", "uw_groupby_yearint_scan", "uw_or_prune_scan",
      "uw_keyed_in_scan", "uw_keyed_in_groupby_scan", "uw_keyed_dimjoin_scan",
      "uw_keyed_multigroupby_scan", "uw_distinct_daily_scan",
      "uw_distinct_bytype_scan", "uw_distinct_multigroupby_scan",
      "uw_dec_groupby_scan", "uw_exact_distinct_daily_scan",
      "uw_window_tumbling_scan", "uw_window_offset_scan",
      "uw_window_sliding_scan", "uw_window_subsec_scan",
      "uw_quantile_daily_scan", "uw_bytype_groupby_scan",
      "uw_revenue_monthly_scan", "uw_revenue_var_scan",
      "uw_distinct_daily_check_scan", "uw_quantile_daily_check_scan",
      "uw_freq_daily_check_scan", "uw_distinct_bytype_check_scan",
      "uw_quantile_bytype_check_scan", "uw_revenue_p90_check_scan",
      "index_build")
    val keepSet = contractKeep.toSet
    var kept = results.toSeq.filter(e => keepSet(e._1))
    var otherSum = results.collect { case (k, v) if !keepSet(k) && v >= 0 => v }.sum
    var otherN = results.count(e => !keepSet(e._1))
    def render(): String = {
      val extra =
        if (otherN == 0) Nil
        else Seq("other_sec" -> num(otherSum), "other_n" -> otherN.toString)
      // the in-record noise verdict rides the contract line (an added
      // `queries` entry, like other_sec) so the driver's record carries it
      // even though only BENCH_full keeps the per-pin detail
      val noise = probes.get("noise_ratio").map(v => "noise_ratio" -> num(v)).toSeq
      line(kept.map { case (k, v) => k -> num(v) } ++ extra ++ noise, total)
    }
    var out = render()
    // Deterministic overflow valve: the fixed list is sized to fit the cap
    // at worst-case value widths, so this loop is expected dead — but a
    // parse-able abbreviated line still beats an overflowing verbatim one,
    // and victims are taken in FIXED reverse-list order (never index_build),
    // never by measured value.
    val fallbackVictims = contractKeep.reverse.filterNot(_ == "index_build").iterator
    while (out.length > cap && fallbackVictims.hasNext) {
      val victim = fallbackVictims.next()
      kept.find(_._1 == victim).foreach { e =>
        kept = kept.filterNot(_._1 == victim)
        if (e._2 >= 0) otherSum += e._2
        otherN += 1
        out = render()
      }
    }
    println(out)
    spark.stop()
  }
}

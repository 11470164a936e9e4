package graft.index

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.scalatest.funsuite.AnyFunSuite

import graft.index.UWheelIndex.RefreshOutcome

/** A build reads its table once: every family — the second wheels, the
  * millisecond wheels and the top-k wheels — folds from one projection of
  * the table in one `treeReduce` job, with no SQL aggregate in its plan. */
class FusedPassSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def rows(n: Int): DataFrame = {
    val session = spark
    import session.implicits._
    (0 until n).map { i =>
      (new Timestamp(t0 + i * 700L), (i % 97) / 4.0, (i % 31).toLong, if (i % 3 == 0) "a" else "b")
    }.toDF("ts", "value", "uid", "k")
  }

  private val conf = UWheelBuilder("ts", Seq("value"))
    .withKeyedWheel(IndexBuilder("value", Some("k = 'a'")))
    .withDistinctWheel("uid").withQuantileWheel("value").withMomentWheel("value")
    .withFreqWheel("uid").withTopKWheel("uid").withKeyedTopKWheel("uid", "k = 'a'")
    .withMillisWheels("value")

  /** The call site of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // a marker job: its start event follows every event of `body`
      sc.parallelize(1 to 1, 1).map(_ => "marker").count()
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((seen.isEmpty || !seen.asScala.last.startsWith("count at ")) && System.nanoTime() < deadline)
        Thread.sleep(10)
      seen.asScala.toSeq.dropRight(1)
    } finally sc.removeSparkListener(listener)
  }

  test("a cold build and a rebuild read the rows in one job, with no aggregate in the plan") {
    spark.sparkContext.setLogLevel("WARN")
    val path = java.nio.file.Files.createTempDirectory("graft-fused").toString + "/t.parquet"
    rows(3000).write.parquet(path)
    BuildPhases.clear()
    val cold = jobsOf(conf.build(spark, path))
    val phases = BuildPhases.snapshot().keys.map(_.takeWhile(_ != '_')).toSet
    assert(phases === Set("spec", "fused", "fusedplan", "fusedexec"), BuildPhases.snapshot())
    rows(2000).write.mode("overwrite").parquet(path)
    var outcome: RefreshOutcome = null
    val rebuild = jobsOf { outcome = UWheelIndex.refresh(spark, path) }
    assert(outcome === RefreshOutcome.Rebuilt)
    for (jobs <- Seq(cold, rebuild)) {
      // the one pass, beside the read's schema inference
      assert(jobs.count(_.startsWith("treeReduce at ")) === 1, jobs)
      assert(jobs.forall(j => j.startsWith("treeReduce at ") || j.startsWith("parquet at ")), jobs)
    }

    val t = WheelRegistry.lookup(path).get
    val df = spark.read.parquet(path)
    val parts = t.allWheels.filter(_.valueColumn.isDefined).map(BuildPart.of(WheelFamily.Numeric, _)) ++
      t.all(WheelFamily.Hll).map(BuildPart.of(WheelFamily.Hll, _))
    val plans = Seq(UWheelIndex.planFused(df, "ts", parts),
      UWheelIndex.planFused(df, "ts", Seq(NumericPart(WheelFamily.Millis, WheelScope(List("value")), 2)),
        slotExprOverride = Some(UWheelIndex.msExprOf(df, "ts")), prefix = "_m"))
    val topK = t.allTopKWheels.map(w => (F.col(w.column).cast("long"), w.scope.filter.sql.map(F.expr), w.agg))
    for (spread <- Seq(true, false)) {
      // the physical plan before adaptive execution wraps it
      val plan = UWheelIndex.projectFused(df, "ts", plans, topK, spread).queryExecution.sparkPlan
      assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty, plan)
      assert(plan.collectLeaves().exists(_.nodeName.contains("Scan")), plan)
    }
  }
}
